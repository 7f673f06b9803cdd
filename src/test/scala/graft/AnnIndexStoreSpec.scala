package graft

import graft.operators.Similarity
import graft.sources.{AnnIndexStore, DedupIndexStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** The stored-ANN round trip (DedupIndexStoreSpec's contract for the
  * similarity family): the IVF cell assignment persisted partitioned
  * by cell, reopened in a fresh session, probed from storage — same
  * top-k as the inline operator, and the index scan must carry a
  * cell partition filter so only the probed cells' files are read. */
class AnnIndexStoreSpec extends SparkSpec {

  private val planes = Array.tabulate(3)(k =>
    Array.tabulate(64)(i => if (i == k) 1.0 else 0.0))

  private def embs(s: org.apache.spark.sql.SparkSession) =
    s.read.parquet(s"$sfDir/embeddings.parquet")

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        Seq(r.child)
      case _ => p.children
    }
    p +: kids.flatMap(allNodes)
  }

  test("stored IVF index: fresh-session probe == inline operator; " +
      "index scan partition-prunes to the probed cells") {
    val inline = rows(Similarity.ivfTopK(embs(spark),
      col("vec_id") < 5, k = 10, nCells = 3, nProbe = 2,
      centroids = Some(planes)))
    assert(inline.nonEmpty)
    val idx = AnnIndexStore.writeIvfIndex(embs(spark), planes)
    val fresh = spark.newSession()
    val probe = AnnIndexStore.probeIvf(fresh, idx,
      embs(fresh).filter(col("vec_id") < 5), k = 10, nProbe = 2)
    assert(rows(probe) == inline)
    probe.collect()
    val ep = probe.queryExecution.executedPlan
    val scans = allNodes(ep).collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(r =>
            idx.paths.exists(p => r.toString.contains(p.stripPrefix("/"))))
        => f
    }
    assert(scans.nonEmpty, s"no scan of the stored index:\n$ep")
    scans.foreach(f => assert(f.partitionFilters.nonEmpty,
      s"stored IVF scan reads every cell (no partition filter):\n$f"))
  }

  test("stored IVF index is built once per (corpus, centroids)") {
    val a = AnnIndexStore.writeIvfIndex(embs(spark), planes)
    val b = AnnIndexStore.writeIvfIndex(embs(spark), planes)
    assert(a.paths == b.paths)
    val other = AnnIndexStore.writeIvfIndex(embs(spark),
      planes.map(_.map(_ * 2.0)))
    assert(other.paths != a.paths, "different centroids must not collide")
  }

  test("stored PQ index: fresh-session probe == inline operator " +
      "(same injected codebooks); built once per (corpus, codebooks)") {
    val cbs = Array.tabulate(8)(_ => Array(
      Array.tabulate(8)(j => if (j == 0) -1.0 else 0.0),
      Array.tabulate(8)(j => if (j == 0) 1.0 else 0.0)))
    val inline = rows(Similarity.pqTopK(embs(spark),
      col("vec_id") < 5, k = 10, m = 8, refine = 4, dim = 64,
      codebooks = Some(cbs)))
    assert(inline.nonEmpty)
    val idx = AnnIndexStore.writePqIndex(embs(spark), cbs)
    val fresh = spark.newSession()
    val probe = AnnIndexStore.probePq(fresh, idx,
      embs(fresh).filter(col("vec_id") < 5), k = 10, refine = 4)
    assert(rows(probe) == inline)
    val again = AnnIndexStore.writePqIndex(embs(spark), cbs)
    assert(again.codesTable == idx.codesTable)
    val other = AnnIndexStore.writePqIndex(embs(spark),
      cbs.map(_.map(_.map(_ * 2.0))))
    assert(other.codesTable != idx.codesTable,
      "different codebooks must not collide")
  }

  test("stored IVF-PQ index: fresh-session probe == inline; code " +
      "segments partition-prune; segment-append refresh == inline") {
    val cents = planes
    val cbs = Array.tabulate(8)(_ => Array(
      Array.tabulate(8)(j => if (j == 0) -1.0 else 0.0),
      Array.tabulate(8)(j => if (j == 0) 1.0 else 0.0)))
    val inline = rows(Similarity.ivfPqTopK(embs(spark),
      col("vec_id") < 5, k = 10, nCells = 3, nProbe = 2, m = 8,
      refine = 4, dim = 64, centroids = Some(cents),
      codebooks = Some(cbs)))
    assert(inline.nonEmpty)
    val idx = AnnIndexStore.writeIvfPqIndex(embs(spark), cents, cbs)
    val fresh = spark.newSession()
    val probe = AnnIndexStore.probeIvfPq(fresh, idx,
      embs(fresh).filter(col("vec_id") < 5), k = 10, nProbe = 2,
      refine = 4)
    assert(rows(probe) == inline)
    probe.collect()
    val scans = allNodes(probe.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(r =>
            idx.paths.exists(p => r.toString.contains(p.stripPrefix("/"))))
        => f
    }
    assert(scans.nonEmpty)
    scans.foreach(f => assert(f.partitionFilters.nonEmpty,
      s"IVF-PQ code scan reads every cell (no partition filter):\n$f"))
    // maintenance: the accepted quarter folds in as an appended
    // segment; the grown index answers like the inline operator over
    // the full relation, and the base segment's files are untouched
    val e = embs(spark)
    val v1 = AnnIndexStore.writeIvfPqIndex(
      e.filter(pmod(col("vec_id"), lit(4)) =!= 0), cents, cbs)
    val filesBefore = spark.read.parquet(v1.paths: _*).inputFiles.sorted
    val v2 = AnnIndexStore.refreshIvfPqIndex(spark, v1,
      e.filter(pmod(col("vec_id"), lit(4)) === 0))
    assert(v2.paths.startsWith(v1.paths) && v2.paths.size == 2)
    assert(spark.read.parquet(v1.paths: _*).inputFiles.sorted
      .sameElements(filesBefore))
    assert(rows(AnnIndexStore.probeIvfPq(spark, v2,
      e.filter(col("vec_id") < 5), k = 10, nProbe = 2,
      refine = 4)) == inline)
  }

  test("compacted segmented index: one segment, same probe answers, " +
      "pruning intact; single-segment compaction is a no-op") {
    val cents = planes
    val cbs = Array.tabulate(8)(_ => Array(
      Array.tabulate(8)(j => if (j == 0) -1.0 else 0.0),
      Array.tabulate(8)(j => if (j == 0) 1.0 else 0.0)))
    val e = embs(spark)
    val v1 = AnnIndexStore.writeIvfPqIndex(
      e.filter(pmod(col("vec_id"), lit(4)) =!= 0), cents, cbs)
    val v2 = AnnIndexStore.refreshIvfPqIndex(spark, v1,
      e.filter(pmod(col("vec_id"), lit(4)) === 0))
    val v3 = AnnIndexStore.compactIvfPqIndex(spark, v2)
    assert(v3.paths.size == 1 && !v2.paths.contains(v3.paths.head))
    val queries = e.filter(col("vec_id") < 5)
    val grown = rows(AnnIndexStore.probeIvfPq(spark, v2, queries,
      k = 10, nProbe = 2, refine = 4))
    val probe = AnnIndexStore.probeIvfPq(spark, v3, queries,
      k = 10, nProbe = 2, refine = 4)
    assert(rows(probe) == grown)
    probe.collect()
    val scans = allNodes(probe.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(
            _.toString.contains(v3.paths.head.stripPrefix("/"))) => f
    }
    assert(scans.nonEmpty)
    scans.foreach(f => assert(f.partitionFilters.nonEmpty,
      s"compacted scan reads every cell:\n$f"))
    // compacting a single-segment index returns it unchanged
    assert(AnnIndexStore.compactIvfPqIndex(spark, v3).paths == v3.paths)
    assert(AnnIndexStore.compactIvfIndex(spark,
      AnnIndexStore.writeIvfIndex(e, cents)).paths.size == 1)
    // the LSM TRIGGER: 2 segments sit under the ANN knee (8) — the
    // same index back untouched; a forced ceiling of 1 compacts, and
    // the probe answer survives the fold
    def compact(i: AnnIndexStore.IvfPqIndex) =
      AnnIndexStore.compactIvfPqIndex(spark, i)
    assert(DedupIndexStore.compactWhenOver(v2, v2.paths.size,
      AnnIndexStore.DefaultMaxSegments)(compact) eq v2)
    val t = DedupIndexStore.compactWhenOver(v2, v2.paths.size,
      maxSegments = 1)(compact)
    assert(t.paths.size == 1)
    assert(rows(AnnIndexStore.probeIvfPq(spark, t, queries,
      k = 10, nProbe = 2, refine = 4)) == grown)
  }

  test("streamed IVF-PQ maintenance loop: delta vectors appending " +
      "segments per micro-batch serve the inline answer; empty delta " +
      "serves v1") {
    val cents = planes
    val cbs = Array.tabulate(8)(_ => Array(
      Array.tabulate(8)(j => if (j == 0) -1.0 else 0.0),
      Array.tabulate(8)(j => if (j == 0) 1.0 else 0.0)))
    val e = embs(spark)
    val base = e.filter(pmod(col("vec_id"), lit(4)) =!= 0)
    val delta = e.filter(pmod(col("vec_id"), lit(4)) === 0)
    val queries = e.filter(col("vec_id") < 5)
    val inline = rows(Similarity.ivfPqTopK(e, col("vec_id") < 5,
      k = 10, nCells = 3, nProbe = 2, m = 8, refine = 4, dim = 64,
      centroids = Some(cents), codebooks = Some(cbs)))
    assert(rows(graft.streaming.EventStreams.drainIvfPqMaintenance(
      base, delta, queries, cents, cbs, k = 10, nProbe = 2,
      refine = 4)) == inline)
    // empty delta: nothing folds — the answer is a direct probe of
    // the base-only v1 index (queries need not be index members)
    val v1 = AnnIndexStore.writeIvfPqIndex(base, cents, cbs)
    assert(rows(graft.streaming.EventStreams.drainIvfPqMaintenance(
      base, delta.limit(0), queries, cents, cbs, k = 10, nProbe = 2,
      refine = 4)) ==
      rows(AnnIndexStore.probeIvfPq(spark, v1, queries, k = 10,
        nProbe = 2, refine = 4)))
  }

  test("refreshed IVF index (segment append): probe == inline over " +
      "base ∪ accepted; base segment untouched; probe still prunes") {
    val e = embs(spark)
    val base = e.filter(pmod(col("vec_id"), lit(4)) =!= 0)
    val accepted = e.filter(pmod(col("vec_id"), lit(4)) === 0)
    val v1 = AnnIndexStore.writeIvfIndex(base, planes)
    val filesBefore = spark.read.parquet(v1.paths: _*).inputFiles.sorted
    val v2 = AnnIndexStore.refreshIvfIndex(v1, accepted)
    // segment model: the refresh APPENDS a segment; the base segment's
    // files are byte-for-byte the ones v1 readers keep seeing
    assert(v2.paths.startsWith(v1.paths) && v2.paths.size == 2)
    assert(spark.read.parquet(v1.paths: _*).inputFiles.sorted
      .sameElements(filesBefore))
    val inline = rows(Similarity.ivfTopK(e, col("vec_id") < 5, k = 10,
      nCells = 3, nProbe = 2, centroids = Some(planes)))
    val probe = AnnIndexStore.probeIvf(spark, v2,
      e.filter(col("vec_id") < 5), k = 10, nProbe = 2)
    assert(rows(probe) == inline)
    probe.collect()
    val scans = allNodes(probe.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(r =>
            v2.paths.exists(p => r.toString.contains(p.stripPrefix("/"))))
        => f
    }
    assert(scans.nonEmpty)
    scans.foreach(f => assert(f.partitionFilters.nonEmpty,
      s"grown-index scan reads every cell (no partition filter):\n$f"))
  }
}
