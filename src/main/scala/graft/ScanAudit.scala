package graft

/** Plan-audit sweep: for every harness query, count the physical
  * operators that dominate cost at 100 TB — FileScan (how many times
  * the raw tables are read), Generate (tokenize/explode passes), and
  * Exchange (shuffles). Catalyst does NOT reuse a shared lineage
  * across consuming branches, so an operator that references the same
  * tokenize/aggregate twice silently re-scans the corpus — this sweep
  * is how those are found (the dsirLogRatios/keySkew/temperatureMix
  * class of bug). Checkpointed relations show up as `Scan ExistingRDD`
  * instead, which is the fix signature.
  *
  * Usage: `sbt "runMain graft.ScanAudit [sfDir]"` — prints one line
  * per query; eyeball (or diff) the FileScan column. Queries that read
  * N distinct tables legitimately scan N times; the smell is a count
  * above the number of DISTINCT tables the query consumes.
  */
object ScanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Verify.session()
    spark.sparkContext.setLogLevel("ERROR")
    println(f"${"query"}%-28s scans gens exchanges")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val p = fn(spark, sfDir).queryExecution.executedPlan.toString
        val scans = "FileScan".r.findAllIn(p).size
        val gens = "Generate".r.findAllIn(p).size
        val exch = "Exchange".r.findAllIn(p).size
        println(f"$name%-28s $scans%5d $gens%4d $exch%9d")
      } catch {
        case e: Throwable =>
          println(f"$name%-28s ERROR ${e.getMessage.take(60)}")
      }
    }
    spark.stop()
  }
}
