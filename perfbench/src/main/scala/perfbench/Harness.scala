package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** Runs one workload in this JVM and writes its raw measurements as
  * JSON; `perfbench/run.py` turns them into the benchmark's metrics.
  *
  * Usage: Harness --workload W --seconds S --trace 0|1
  *          --data SF_DIR --corpus FILE --work DIR --cores C
  *
  * Order: SparkSession start, one untimed set-up pass over every op
  * (which also leaves each op's output for the checker) and the
  * workload's untimed warm-up passes, then timed passes until S
  * seconds have gone by. With --trace 1 one more pass
  * runs with spans and listeners on, and its per-layer rollup is
  * written too.
  */
object Harness {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val work = args("work")
    val cores = args("cores").toInt
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    // the confs graft.Bench sets: the SparkEntry rows are defined
    // against them
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark.range(1000).selectExpr("sum(id)").write
      .format("noop").mode("overwrite").save()

    val folds = new FoldListener
    spark.streams.addListener(folds)
    val tracer = if (trace) Some(new Tracer(spark, cores)) else None
    val spans = new Spans
    val ctx = new Ctx(spark, args("data"), work, spans, folds)
    val wl = Workloads(workload, args("corpus"))

    Files.createDirectories(Paths.get(work, "check"))
    val setupOps = wl.setup(ctx)
    (0 until wl.warmPasses).foreach(_ => wl.pass(ctx))
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val heap = new HeapSampler
    heap.start()
    // timed passes until `seconds` have gone by; at least one
    val t0 = System.nanoTime()
    var passes = Vector(Workloads.timed(wl.pass(ctx)))
    while ((System.nanoTime() - t0) / 1e9 < seconds)
      passes :+= Workloads.timed(wl.pass(ctx))
    val heapPeak = heap.peakMb

    val traced = tracer.map { tr =>
      tr.reset()
      folds.take()
      val (gcMs0, gcN0) = Gc.snapshot()
      spans.on = true
      val from = System.currentTimeMillis()
      val (ops, passS) = Workloads.timed(wl.pass(ctx))
      val to = System.currentTimeMillis()
      spans.on = false
      val (gcMs1, gcN1) = Gc.snapshot()
      val passSpans = spans.take()
      // against the untraced pass just before it: passes still speed
      // up as the JIT warms, so an earlier pass would hide the cost
      val m = tr.rollup(passSpans, from, to, passS) ++
        wl.traceExtras(ctx, tr, passSpans) ++ Map(
          "jvm.gc_ms" -> (gcMs1 - gcMs0).toDouble,
          "jvm.gc_count" -> (gcN1 - gcN0).toDouble,
          "trace.pass_s" -> passS,
          "trace.overhead_s" -> (passS - passes.last._2))
      (m, ops)
    }
    heap.finish()

    def opJson(o: OpRun) = Json.obj(
      "name" -> Json.str(o.name), "seconds" -> Json.num(o.seconds),
      "error" -> o.error.map(Json.str).getOrElse("null"))
    val out = Json.obj(
      "workload" -> Json.str(workload),
      "cores" -> cores.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory() >> 20).toString,
      "spark_version" -> Json.str(spark.version),
      "setup_s" -> Json.num(setupS),
      "setup_ops" -> Json.arr(setupOps.map(opJson)),
      "heap_peak_mb" -> Json.num(heapPeak),
      "passes" -> Json.arr(passes.map { case (ops, s) =>
        Json.obj("wall_s" -> Json.num(s), "ops" -> Json.arr(ops.map(opJson)))
      }),
      "trace" -> traced.map { case (m, ops) =>
        Json.obj("metrics" -> Json.obj(m.toSeq.sortBy(_._1).map {
          case (k, v) => k -> Json.num(v) }: _*),
          "ops" -> Json.arr(ops.map(opJson)))
      }.getOrElse("null"))
    Files.writeString(Paths.get(work, "result.json"), out)
    spark.stop()
  }
}

/** Just enough JSON writing for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
