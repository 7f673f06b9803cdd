package graft

import graft.operators.WordCount
import graft.sinks.FormattedTextSink
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** The reference binary's exact surface (`wordcount <input>` →
  * `output.txt` + `output2.txt`, reference src/main.cpp:78-281), on the
  * Spark pipeline: a user of the reference runs
  * `runMain graft.WordCountApp <input.txt> <outDir>` and gets the same
  * two files — alphabetical and frequency-sorted `word -> count` rows
  * under their headers — plus the reference's Map/Total wall-clock
  * report (M8; its "Map" timer spans scan+map+merge, main.cpp:210, so
  * ours spans the aggregation too).
  */
object WordCountApp {
  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: WordCountApp <input.txt> [outDir]")
    val input = args(0)
    val outDir = if (args.length > 1) args(1) else "."
    // only stop the session on exit if this main actually created it
    // (getOrCreate may hand us a host session, e.g. under test)
    val preexisting = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isDefined
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[${Runtime.getRuntime.availableProcessors()}]"))
      .appName("graft-wordcount")
      .config("spark.sql.shuffle.partitions",
        Runtime.getRuntime.availableProcessors().toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val t0 = System.nanoTime()
    val lines = spark.read.text(input) // S1: the text-file line scan
    val counts = WordCount.counts(lines, col("value")) // T2 + A3/X4
    // one aggregation, two sorted projections (the reference re-sorts
    // a copied vector instead, main.cpp:247) — cache the counts so the
    // scan+aggregate runs once for both outputs
    counts.persist()
    counts.count() // force scan+map+merge so the Map timer is honest
    val mapDone = System.nanoTime()
    try {
      FormattedTextSink.writeSingleFile(
        counts.orderBy(col("word")), // O5
        s"$outDir/output.txt", FormattedTextSink.HeaderAlpha)
      FormattedTextSink.writeSingleFile(
        counts.orderBy(col("cnt").desc, col("word").asc), // O6
        s"$outDir/output2.txt", FormattedTextSink.HeaderFreq)
    } finally counts.unpersist()
    val t1 = System.nanoTime()
    println(s"Map time: ${(mapDone - t0) / 1000} us")
    println(s"Total time: ${(t1 - t0) / 1000} us")
    if (!preexisting) spark.stop()
  }
}
