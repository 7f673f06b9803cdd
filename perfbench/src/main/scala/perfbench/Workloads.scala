package perfbench

import graft.SparkEntry
import graft.operators.WordCount
import graft.sinks.FormattedTextSink
import graft.sources.{DedupIndexStore, PostingsStore, Tables}
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Paths}

/** What a workload's code needs: the SparkSession, the table directory,
  * the run's scratch directory, the span recorder and the fold listener. */
final class Ctx(val spark: SparkSession, val data: String,
    val work: String, val spans: Spans, val folds: FoldListener)

/** One op of a timed pass: its latency and the error if it threw. */
final case class OpRun(name: String, seconds: Double, error: Option[String])

trait Workload {
  /** Untimed set-up pass: runs every op once and leaves its outputs
    * where the checker reads them. */
  def setup(ctx: Ctx): Seq[OpRun]
  /** One timed pass over the workload's ops. */
  def pass(ctx: Ctx): Seq[OpRun]
  /** Untimed passes after `setup`, before the timed ones. */
  def warmPasses: Int = 0
  /** Workload-specific per-layer metrics of the traced pass (`spans`),
    * plus any measured after it. */
  def traceExtras(ctx: Ctx, tracer: Tracer,
      spans: Seq[Span]): Map[String, Double] = Map.empty
}

object Workloads {
  def apply(name: String, corpus: String): Workload =
    name match {
      case "wordcount_zipf" => new WordcountZipf(corpus)
      case "curation_mix" => new CurationMix
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
      .linesIterator.nextOption().getOrElse("").take(300)

  /** Run one op, timing it and catching what it throws. No collection
    * is forced between ops: on a 4-vCPU VM a forced full GC handed heap
    * pages back, and re-touching them made the ops after it ~25%
    * slower. */
  def attempt(name: String)(body: => Unit): OpRun = {
    val t0 = System.nanoTime()
    val error = try { body; None } catch { case e: Throwable => Some(describe(e)) }
    OpRun(name, (System.nanoTime() - t0) / 1e9, error)
  }

  /** Write `df` as one parquet file for the oracle check. */
  def dump(df: DataFrame, dir: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(dir)

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The SparkEntry rows' oracle SQL for `names`, as a JSON object. */
  def writeOracles(names: Seq[String], path: String): Unit = {
    val body = names
      .map(n => s"${Json.str(n)}: ${Json.str(SparkEntry.oracleSql(n))}")
      .mkString("{", ",\n", "}")
    Files.writeString(Paths.get(path), body)
  }
}

import Workloads._

/** The paper's job: word count with both sorted outputs, the same
  * steps as graft.WordCountApp, over the seeded Zipf corpus. The
  * checker reads the outputs of the last timed pass. */
final class WordcountZipf(corpus: String) extends Workload {
  private def job(ctx: Ctx): Unit = {
    val sp = ctx.spans
    val out = s"${ctx.work}/out"
    val lines = ctx.spark.read.text(corpus)
    val counts = sp("operators.WordCount", "counts") {
      WordCount.counts(lines, col("value"))
    }
    counts.persist()
    try {
      sp("spark.execute", "map") { counts.count() }
      sp("sinks.FormattedTextSink", "alpha") {
        FormattedTextSink.writeSingleFile(counts.orderBy(col("word")),
          s"$out/alpha.txt", FormattedTextSink.HeaderAlpha)
      }
      sp("sinks.FormattedTextSink", "freq") {
        FormattedTextSink.writeSingleFile(
          counts.orderBy(col("cnt").desc, col("word").asc),
          s"$out/freq.txt", FormattedTextSink.HeaderFreq)
      }
    } finally counts.unpersist(blocking = true)
  }

  def setup(ctx: Ctx): Seq[OpRun] = pass(ctx)

  def pass(ctx: Ctx): Seq[OpRun] = Seq(attempt("wordcount")(job(ctx)))

  override def traceExtras(ctx: Ctx, tracer: Tracer,
      spans: Seq[Span]): Map[String, Double] = {
    def s(layer: String, key: String) =
      spans.filter(x => x.layer == layer && x.key == key).map(_.nanos).sum / 1e9
    Map(
      "wordcount.map_s" ->
        (s("operators.WordCount", "counts") + s("spark.execute", "map")),
      "sink.write_s.alpha" -> s("sinks.FormattedTextSink", "alpha"),
      "sink.write_s.freq" -> s("sinks.FormattedTextSink", "freq"))
  }
}

/** SparkEntry rows at the vendored scale, one after another: n-gram
  * fan-out, a trained artifact, one probe per stored-index module,
  * short rows over documents, events, lineitem and orders, and a
  * drained stateful stream. An op is one row: build, then execute to
  * the last row. The traced run adds the index write path
  * ([[IndexReplay]]). */
final class CurationMix extends Workload {
  /** The set-up pass pays index builds and training; the ops' code is
    * still compiling after it, and the first pass that follows it ran
    * 10-20% slower than the next ones on a 4-vCPU VM, by an amount that
    * varied from run to run. One more untimed pass keeps that out of
    * the timed ones. (wordcount_zipf's first pass was slower by less,
    * and a warm-up pass there made its set-up about half as long
    * again.) */
  override val warmPasses = 1

  /** The probe whose read amplification the traced pass reads. */
  private val ampRow = "q_dedup_incr_minhash_seg"

  /** One stored-index probe per store module. */
  val probeRows: Seq[String] = Seq(
    ampRow, "q_dedup_incr_exact_seg",
    "q_phrase_search_seg", "q_ann_ivfpq_injected_stored")

  /** The drain, called directly with one more fold than the SparkEntry
    * rows' default of three; it is checked against the oracle of the
    * row named here, whose answer does not depend on the fold count. */
  val folds = 4
  private val drainOps: Map[String, DataFrame => DataFrame] = Map(
    "q_wordcount_freq_stream" -> (docs =>
      EventStreams.drainWordCount(docs, nBatches = folds)))

  val rows: Seq[String] = Seq(
    "q_dedup_ngram", "q_bpe_encode",
    "q_wordcount_alpha", "q_events_session", "q_rel_pricing",
    "q_rel_rollup") ++ probeRows ++ drainOps.keys

  /** The rows run in this fixed order whatever the seed: the tables do
    * not change with the seed either, and a shuffled order moved
    * `pass_s` by up to 70% between orders (JIT and heap state left by
    * the set-up pass), far beyond the bound a real change is judged by. */
  private val order = rows

  private def resolve(ctx: Ctx, t: String): DataFrame = t match {
    case "documents" => Tables.documents(ctx.spark, ctx.data)
    case "embeddings" => Tables.embeddings(ctx.spark, ctx.data)
    case "events" => Tables.events(ctx.spark, ctx.data)
    case other => Tables.table(ctx.spark, ctx.data, other)
  }

  /** Executes `df` to its last row: the telemetry-carrying probe
    * through its own QueryExecution (so its read amplification is
    * observable), everything else through the noop sink. */
  private def execute(name: String, df: DataFrame): Unit =
    if (name == ampRow) DedupIndexStore.executeForTelemetry(df)
    else noop(df)

  @volatile private var readAmpBp = 0L
  /** Folds of each drain row in the last pass, with the call's start. */
  @volatile private var drains = Vector.empty[(Long, Seq[Fold])]

  private def build(ctx: Ctx, name: String, docs: DataFrame): DataFrame =
    drainOps.get(name) match {
      case Some(drain) => ctx.spans("streaming.EventStreams", name)(drain(docs))
      case None => ctx.spans("SparkEntry", name) {
        SparkEntry.queries(name)(ctx.spark, ctx.data)
      }
    }

  def setup(ctx: Ctx): Seq[OpRun] = {
    writeOracles(order, s"${ctx.work}/check/oracle_sql.json")
    val docs = Tables.documents(ctx.spark, ctx.data)
    val runs = order.map { name =>
      attempt(name)(dump(build(ctx, name, docs), s"${ctx.work}/check/$name"))
    }
    org.apache.spark.PerfbenchBus.drain(ctx.spark.sparkContext)
    ctx.folds.take()
    runs
  }

  def pass(ctx: Ctx): Seq[OpRun] = {
    val sp = ctx.spans
    val resolved = Layers.tables.map(t =>
      t -> sp("sources.Tables", t)(resolve(ctx, t))).toMap
    var seen = Vector.empty[(Long, Seq[Fold])]
    val runs = order.map { name =>
      val start = System.currentTimeMillis()
      val r = attempt(name) {
        val df = build(ctx, name, resolved("documents"))
        sp("spark.execute", name)(execute(name, df))
        if (sp.on && name == ampRow)
          DedupIndexStore.segProbeReadAmpBp(df, "minhash")
            .foreach(readAmpBp = _)
      }
      if (drainOps.contains(name)) {
        org.apache.spark.PerfbenchBus.drain(ctx.spark.sparkContext)
        seen :+= start -> ctx.folds.take()
      }
      r
    }
    drains = seen
    runs
  }

  override def traceExtras(ctx: Ctx, tracer: Tracer,
      spans: Seq[Span]): Map[String, Double] = {
    val all = drains.flatMap(_._2)
    val stream = Map(
      "index.read_amp_bp.minhash" -> readAmpBp.toDouble,
      "index.probe_ms" -> spans.filter(x => x.layer == "spark.execute" &&
        probeRows.contains(x.key)).map(_.nanos).sum / 1e6,
      "stream.folds" -> all.size.toDouble,
      "stream.input_rows" -> all.map(_.inputRows).sum.toDouble,
      "stream.fold_ms" -> all.map(_.durMs).sum.toDouble,
      "stream.fold_plan_ms" -> all.map(_.planMs).sum.toDouble,
      "stream.fold_add_batch_ms" -> all.map(_.addBatchMs).sum.toDouble,
      "stream.state_rows" ->
        drains.map(_._2.lastOption.map(_.stateRows).getOrElse(0L)).sum.toDouble,
      "stream.drain_setup_ms" -> drains.flatMap { case (start, fs) =>
        fs.headOption.map(f => (f.startMs - start).toDouble) }.sum)
    stream ++ IndexReplay(ctx, tracer, folds)
  }
}

/** The index write path, replayed through the stores' public verbs:
  * the base segment, one appended segment per fold of the delta,
  * compaction, and a probe of the result. Inputs are collected into
  * local relations first so the stores' build-once registry (keyed by
  * file identity) cannot answer from an earlier build: every call
  * writes. */
object IndexReplay {
  def apply(ctx: Ctx, tracer: Tracer, folds: Int): Map[String, Double] = {
    val spark = ctx.spark
    val sp = ctx.spans
    val docs = Tables.documents(spark, ctx.data)
    def local(df: DataFrame): DataFrame =
      spark.createDataFrame(df.collectAsList(), df.schema)
    val base = local(docs.filter(pmod(col("doc_id"), lit(4)) =!= 0))
    val chunks = (0 until folds).map(i => local(docs.filter(
      pmod(col("doc_id"), lit(8)) === 4 &&
        pmod(col("doc_id"), lit(8 * folds)) === 4 + 8 * i)))
    val probe = docs.filter(pmod(col("doc_id"), lit(8)) === 0)
    val indexed = docs.filter(pmod(col("doc_id"), lit(8)) =!= 0)
    val textBytes = indexed.select(sum(octet_length(col("text"))))
      .head().getLong(0)

    sp.take()
    sp.on = true
    var segments = 0
    try {
      val mh = sp("sources.DedupIndexStore", "write")(
        DedupIndexStore.writeMinhashSegmented(base))
      val mhAll = chunks.foldLeft(mh) { (idx, c) =>
        sp("sources.DedupIndexStore", "append")(
          DedupIndexStore.appendMinhashSegment(idx, c))
      }
      segments += mhAll.segments.size
      sp("sources.DedupIndexStore", "compact")(
        DedupIndexStore.compactMinhashSegments(spark, mhAll))
      sp("sources.DedupIndexStore", "probe")(Workloads.noop(
        DedupIndexStore.probeMinhashSeg(spark, mhAll, probe)))

      val ex = sp("sources.DedupIndexStore", "write")(
        DedupIndexStore.writeExactSegmented(base))
      val exAll = chunks.foldLeft(ex) { (idx, c) =>
        sp("sources.DedupIndexStore", "append")(
          DedupIndexStore.appendExactSegment(idx, c))
      }
      segments += exAll.segments.size
      sp("sources.DedupIndexStore", "compact")(
        DedupIndexStore.compactExactSegments(spark, exAll))
      sp("sources.DedupIndexStore", "probe")(Workloads.noop(
        DedupIndexStore.probeExactSeg(spark, exAll, probe)))

      val pt = sp("sources.PostingsStore", "write")(
        PostingsStore.writeSegmented(base))
      val ptAll = chunks.foldLeft(pt) { (idx, c) =>
        sp("sources.PostingsStore", "append")(PostingsStore.appendSegment(idx, c))
      }
      segments += ptAll.segments.size
      sp("sources.PostingsStore", "compact")(
        PostingsStore.compactSegments(spark, ptAll))
      sp("sources.PostingsStore", "probe")(Workloads.noop(
        PostingsStore.phraseSearchSeg(spark, ptAll, Seq("window", "fast", "query"))))
    } finally sp.on = false
    val spans = sp.take()
    val writes = spans.filter(s => s.key == "write" || s.key == "append" ||
      s.key == "compact")
    val written = writes.map(tracer.bytesWritten).sum.toDouble
    def ms(key: String) = spans.filter(_.key == key).map(_.nanos).sum / 1e6
    // base and delta text, indexed once by each of the three families
    val inputBytes = 3.0 * textBytes
    Map(
      "index.append_ms" -> ms("append"),
      "index.compact_ms" -> ms("compact"),
      "index.segments" -> segments.toDouble,
      "index.bytes_written" -> written,
      "index.write_amp" -> (if (inputBytes > 0) written / inputBytes else 0.0))
  }
}
