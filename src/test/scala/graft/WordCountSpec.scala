package graft

import graft.operators.WordCount
import graft.sinks.FormattedTextSink
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** End-to-end word-count pipeline on tiny in-memory fixtures and the
  * sf0.001 documents table. Goldens hand-computed per the reference
  * semantics (case-sensitive, digits/punct delimit). */
class WordCountSpec extends SparkSpec {
  import spark.implicits._

  private val fixture = Seq(
    "hello world hello",
    "Han han HAN",
    "well-known foo.bar,baz!",
    "abc123def 42",
    "",
    "hello"
  ).toDF("text")

  test("counts match hand-computed golden") {
    val got = WordCount.counts(fixture, col("text"))
      .as[(String, Long)].collect().toMap
    val want = Map(
      "hello" -> 3L, "world" -> 1L, "Han" -> 1L, "han" -> 1L, "HAN" -> 1L,
      "well" -> 1L, "known" -> 1L, "foo" -> 1L, "bar" -> 1L, "baz" -> 1L,
      "abc" -> 1L, "def" -> 1L)
    assert(got == want)
  }

  test("alphabetical order is byte order") {
    val words = WordCount.alphabetical(fixture, col("text"))
      .select("word").as[String].collect().toSeq
    assert(words == words.sorted) // String.compareTo = UTF-16 code-unit; ASCII-safe
    assert(words.head == "HAN")   // uppercase sorts before lowercase (byte order)
  }

  test("frequency order with (cnt DESC, word ASC) tie-break") {
    val rows = WordCount.byFrequency(fixture, col("text"))
      .as[(String, Long)].collect().toSeq
    assert(rows.head == ("hello", 3L))
    val ties = rows.filter(_._2 == 1L).map(_._1)
    assert(ties == ties.sorted)
  }

  test("case-folded frequency merges Han/han/HAN (README comparison use case)") {
    val got = WordCount.byFrequencyFolded(fixture, col("text"))
      .as[(String, Long)].collect().toSeq
    assert(got.head == ("han", 3L) || got.head == ("hello", 3L))
    val m = got.toMap
    assert(m("han") == 3L && !m.contains("Han") && !m.contains("HAN"))
    // tie-break still (cnt DESC, word ASC)
    val ties = got.filter(_._2 == 1L).map(_._1)
    assert(ties == ties.sorted)
  }

  test("topK returns k highest") {
    val top = WordCount.topK(fixture, col("text"), 1).as[(String, Long)].collect()
    assert(top.toSeq == Seq(("hello", 3L)))
  }

  test("formatted sink writes header + 'word -> count' rows") {
    val dir = Files.createTempDirectory("graft-sink").toString
    val path = s"$dir/output.txt"
    FormattedTextSink.writeSingleFile(
      WordCount.byFrequency(fixture, col("text")), path,
      FormattedTextSink.HeaderFreq)
    val lines = Files.readAllLines(Paths.get(path))
    assert(lines.get(0) == "=== Final Word Counts (High → Low) ===")
    assert(lines.get(1) == "hello -> 3")
    assert(lines.size() == 13) // header + 12 distinct words
  }

  private def sinkBytes(path: Path): String =
    new String(Files.readAllBytes(path), StandardCharsets.UTF_8)

  /** The file the sink must write: header, then each row as rendered by
    * `collect()` on the driver. */
  private def expected(sorted: DataFrame, header: String): String =
    sorted.as[(String, Long)].collect()
      .map { case (w, c) => s"$w -> $c\n" }.mkString(header + "\n", "", "")

  /** Names in `dir` that only the sink's scratch write would leave. */
  private def leftovers(dir: Path): Seq[String] = {
    val ls = Files.list(dir)
    try ls.iterator().asScala.map(_.getFileName.toString).filter(n =>
      n.startsWith(".sink-") || n.startsWith("part-") || n.endsWith(".crc"))
      .toVector
    finally ls.close()
  }

  test("sink concatenates range partitions in order, empty ones included") {
    // 64 words range-partitioned 16 ways, pinned, then the middle half
    // dropped: the part files that remain have gaps in their numbers
    val sorted = spark.range(0, 64, 1, 4)
      .select(format_string("w%02d", col("id")).as("word"),
        (col("id") % 5 + 1).as("cnt"))
      .repartitionByRange(16, col("word")).sortWithinPartitions("word")
      .localCheckpoint()
      .filter(col("word") < "w16" || col("word") >= "w48")
    val sizes = sorted.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(sizes.length == 16 && sizes.count(_ == 0) >= 4 &&
      sizes.count(_ > 0) >= 4)
    val dir = Files.createTempDirectory("graft-sink-parts")
    val path = dir.resolve("output.txt")
    FormattedTextSink.writeSingleFile(sorted, path.toString,
      FormattedTextSink.HeaderAlpha)
    assert(sinkBytes(path) == expected(sorted, FormattedTextSink.HeaderAlpha))
    assert(leftovers(dir).isEmpty)
  }

  test("sink: empty input writes the header only") {
    val dir = Files.createTempDirectory("graft-sink-empty")
    val path = dir.resolve("output.txt")
    FormattedTextSink.writeSingleFile(
      WordCount.alphabetical(fixture.filter(lit(false)), col("text")),
      path.toString, FormattedTextSink.HeaderAlpha)
    assert(sinkBytes(path) == FormattedTextSink.HeaderAlpha + "\n")
    assert(leftovers(dir).isEmpty)
  }

  test("sink truncates a longer existing file") {
    val dir = Files.createTempDirectory("graft-sink-over")
    val path = dir.resolve("output.txt")
    Files.writeString(path, "stale line\n" * 1000)
    val sorted = WordCount.byFrequency(fixture, col("text"))
    FormattedTextSink.writeSingleFile(sorted, path.toString,
      FormattedTextSink.HeaderFreq)
    assert(sinkBytes(path) == expected(sorted, FormattedTextSink.HeaderFreq))
  }

  test("sink writes to a relative path with no parent directory") {
    val name = s"graft-sink-${java.util.UUID.randomUUID()}.txt"
    assert(Paths.get(name).getParent == null)
    val sorted = WordCount.alphabetical(fixture, col("text"))
    try {
      FormattedTextSink.writeSingleFile(sorted, name,
        FormattedTextSink.HeaderAlpha)
      assert(sinkBytes(Paths.get(name)) ==
        expected(sorted, FormattedTextSink.HeaderAlpha))
      assert(leftovers(Paths.get("").toAbsolutePath)
        .forall(!_.startsWith(".sink-")))
    } finally Files.deleteIfExists(Paths.get(name))
  }

  test("sink round-trips non-ASCII words as UTF-8") {
    val dir = Files.createTempDirectory("graft-sink-utf8")
    val path = dir.resolve("output.txt")
    val sorted = WordCount.alphabetical(
      Seq("sää on kaunis", "öljy ja åsna", "sää").toDF("text"), col("text"))
    FormattedTextSink.writeSingleFile(sorted, path.toString,
      FormattedTextSink.HeaderAlpha)
    assert(sinkBytes(path) ==
      """=== Final Word Counts (A → Z) ===
        |ja -> 1
        |kaunis -> 1
        |on -> 1
        |sää -> 2
        |åsna -> 1
        |öljy -> 1
        |""".stripMargin)
  }

  test("sink leaves no scratch files when the query throws") {
    val dir = Files.createTempDirectory("graft-sink-fail")
    val path = dir.resolve("output.txt")
    // the error is raised after the sort, inside the write tasks
    val failing = spark.range(0, 100, 1, 4).orderBy("id").select(
      when(col("id") === 57, raise_error(lit("boom")))
        .otherwise(col("id").cast("string")).as("word"),
      col("id").as("cnt"))
    val e = intercept[Exception] {
      FormattedTextSink.writeSingleFile(failing, path.toString,
        FormattedTextSink.HeaderAlpha)
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("boom")))
    assert(leftovers(dir).isEmpty)
  }

  test("sf0.001 documents: freq query nonempty, conserved total") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val counts = WordCount.counts(docs, col("text"))
    val totalFromCounts = counts.agg(sum("cnt")).as[Long].head()
    val totalTokens = WordCount.words(docs, col("text")).count()
    assert(totalFromCounts == totalTokens && totalTokens > 0)
  }

  test("byte-exact UDF and regex path agree on the ASCII test corpus") {
    graft.functions.Tokenizer.registerUdfs(spark)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val viaUdf = docs
      .select(explode(call_udf("tokenize_bytes", col("text"))).as("word"))
      .groupBy("word").count()
    val viaRegex = WordCount.counts(docs, col("text"))
      .withColumnRenamed("cnt", "count")
    assert(viaUdf.exceptAll(viaRegex).isEmpty &&
      viaRegex.exceptAll(viaUdf).isEmpty)
  }
}
