package graft

import graft.functions.Tokenizer
import graft.operators.{FusedWordCountExec, WordCount}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Minutes, Span}

/** The fused in-mapper word count ([[FusedWordCountExec]]) against a
  * driver-side reference: each line decoded and split on
  * `Tokenizer.DelimiterRegex`, counted in Scala. Lines are raw bytes
  * (cast to string in the query), drawn from [[KernelProps]]'
  * generators with fixed seeds. */
class FusedWordCountSpec extends SparkSpec with AdaptiveSparkPlanHelper
    with TimeLimits {

  private def sample[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
    Seq.tabulate(n)(i => g.pureApply(Gen.Parameters.default, Seed(seed + i)))

  private def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")

  /** Unicode, astral, mixed ASCII and malformed/random byte lines, with
    * null and empty lines among them. */
  private lazy val corpus: Seq[Array[Byte]] =
    sample(KernelProps.unicodeText, 150, 1).map(utf8) ++
      sample(KernelProps.astralText, 150, 1000).map(utf8) ++
      sample(KernelProps.mixedText, 150, 2000).map(utf8) ++
      sample(KernelProps.utf8ish, 300, 3000) ++
      Seq(null, Array.empty[Byte], null, utf8("sää, eikö… ǅemal"))

  private def reference(lines: Seq[Array[Byte]]): Map[String, Long] =
    lines.filter(_ != null)
      .flatMap(b => UTF8String.fromBytes(b).toString
        .split(Tokenizer.DelimiterRegex).filter(_.nonEmpty))
      .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }

  private def frame(lines: Seq[Array[Byte]], partitions: Int): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(lines.map(Row(_)), partitions),
      StructType(Seq(StructField("line", BinaryType))))

  private def counts(df: DataFrame): DataFrame =
    WordCount.counts(df, col("line").cast("string"))

  private def answer(rows: Seq[Row]): Map[String, Long] = {
    val pairs = rows.map(r => r.getString(0) -> r.getLong(1))
    assert(pairs.map(_._1).distinct.size == pairs.size, "duplicate words")
    pairs.toMap
  }

  private def fused(plan: SparkPlan): Seq[FusedWordCountExec] =
    collect(plan) { case f: FusedWordCountExec => f }

  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Counts of `lines`, asserting they ran through one fused node. */
  private def run(lines: Seq[Array[Byte]], partitions: Int): Map[String, Long] = {
    val df = counts(frame(lines, partitions))
    val got = answer(df.collect().toSeq)
    assert(fused(df.queryExecution.executedPlan).size == 1,
      s"no fused node in:\n${df.queryExecution.executedPlan}")
    got
  }

  test("fused counts == regex-split reference: Unicode, malformed, random " +
      "bytes, null and empty lines, codegen on and off") {
    val want = reference(corpus)
    assert(want.size > 500)
    assert(run(corpus, 3) == want)
    withConfs("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assert(run(corpus, 3) == want)
    }
  }

  test("fused counts: a single repeated word, no-token lines, empty input") {
    val word = Seq.fill(1000)(utf8("sää  sää\tsää"))
    assert(run(word, 4) == Map("sää" -> 3000L))
    // without AQE, whose empty-relation rule would skip the operator
    withConfs("spark.sql.adaptive.enabled" -> "false") {
      assert(run(Seq(null, Array.empty[Byte], utf8(" 1,2 …")), 2).isEmpty)
      assert(run(Seq.empty, 2).isEmpty)
    }
  }

  test("fused counts on one partition with shuffle.partitions=1") {
    withConfs("spark.sql.shuffle.partitions" -> "1") {
      // repartition(1): a single-partition input, so no hash Exchange
      // separates the fused node from the final aggregate
      val df = counts(frame(corpus, 1).repartition(1))
      assert(answer(df.collect().toSeq) == reference(corpus))
      val plan = df.queryExecution.executedPlan
      val node = fused(plan)
      assert(node.size == 1, s"no fused node in:\n$plan")
      def exchanges(p: SparkPlan) = collect(p) { case e: Exchange => e }.size
      assert(exchanges(plan) == exchanges(node.head),
        s"an Exchange above the fused node in:\n$plan")
    }
  }

  test("a 4-slot table flushes, and the final aggregate merges the duplicates") {
    withConfs("spark.sql.adaptive.enabled" -> "false") {
      val df = counts(frame(corpus, 3))
      val tiny = df.queryExecution.executedPlan.transform {
        case f: FusedWordCountExec => f.copy(maxSlots = 4)
      }
      val node = fused(tiny).head
      // a table that is never cleared re-emits its records forever:
      // past the bound, cancel the run's jobs so the test fails instead
      // of hanging the suite
      val sc = spark.sparkContext
      val group = "fused-forced-flush"
      implicit val signaler: Signaler = { t =>
        sc.cancelJobGroup(group)
        ThreadSignaler(t)
      }
      val out = try {
        sc.setJobGroup(group, "4-slot forced-flush run", interruptOnCancel = true)
        failAfter(Span(2, Minutes))(tiny.executeCollect())
      } finally sc.clearJobGroup()
      assert(answer(out.toSeq.map(r =>
        Row(r.getUTF8String(0).toString, r.getLong(1)))) == reference(corpus))
      val m = node.metrics
      assert(m("numFlushes").value > 100)
      assert(m("numOutputRows").value > reference(corpus).size)
      // a full table (2 keys) flushes before the next line, so a task's
      // peak is at most 1 key plus one line's distinct words
      val perLine = corpus.filter(_ != null).map(b => reference(Seq(b)).size).max
      assert(m("peakKeys").value <= 3 * (1 + perLine))
    }
  }

  test("SQL over graft_letter_tokens counts fused in a GraftExtensions session") {
    val s2 = spark.newSession()
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftExtensions()(ext)
    org.apache.spark.sql.graft.ColumnBridge.applyExtensions(s2, ext)
    s2.createDataFrame(spark.sparkContext.parallelize(
        corpus.map(b => Row(if (b == null) null else UTF8String.fromBytes(b).toString)), 3),
      StructType(Seq(StructField("text", StringType))))
      .createOrReplaceTempView("fused_lines")
    val df = s2.sql("SELECT word, count(*) AS cnt FROM (SELECT " +
      "explode(graft_letter_tokens(text)) AS word FROM fused_lines) GROUP BY word")
    assert(answer(df.collect().toSeq) == reference(corpus))
    assert(fused(df.queryExecution.executedPlan).size == 1,
      s"no fused node in:\n${df.queryExecution.executedPlan}")
  }

  test("health counters: tokens in == sum(cnt), rows out, flushes, peak keys") {
    val df = counts(frame(corpus, 3))
    val rows = df.collect()
    val node = fused(df.queryExecution.executedPlan)
    assert(node.size == 1)
    val m = node.head.metrics.map { case (k, v) => k -> v.value }
    assert(m("numTokens") == rows.map(_.getLong(1)).sum)
    assert(m("numTokens") > m("numOutputRows"))
    // without flushes each task emits its table once: Σ peaks = rows out
    assert(m("numFlushes") == 0)
    assert(m("peakKeys") == m("numOutputRows"))
    assert(m("numOutputRows") >= rows.length)
  }
}
