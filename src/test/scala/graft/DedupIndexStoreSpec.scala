package graft

import graft.operators.Dedup
import graft.sources.DedupIndexStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

/** The stored-index round trip: the incremental dedup operators'
  * base-side relations persisted as bucketed parquet, reopened in a
  * FRESH session (nothing transient survives — the deployment story),
  * probed from storage, and the answers must be byte-identical to the
  * inline operators that rebuild the index per call. Plus the plan
  * pin: the stored-index leg of the probe join must read with no
  * Exchange and no Sort under the SortMergeJoin (bucket layout == join
  * layout), so per ingest only the small batch side shuffles. */
class DedupIndexStoreSpec extends SparkSpec {

  private def corpus = spark.read.parquet(s"$sfDir/documents.parquet")
  private def base = corpus.filter(pmod(col("doc_id"), lit(4)) =!= 0)
  private def batch = corpus.filter(pmod(col("doc_id"), lit(4)) === 0)

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** The AQE-final physical plan. */
  private def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  /** Every node in the physical plan, descending THROUGH AQE query
    * stages and reused exchanges (both are leaf nodes whose subtree
    * hangs off a field, so plain TreeNode.collect never sees it). */
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

  /** Assert: some SortMergeJoin in `plan` has `table`'s scan on one
    * side, and that whole side has no Exchange and no Sort — the
    * bucketed layout IS the join layout. */
  private def assertNoExchangeLeg(plan: SparkPlan, table: String): Unit = {
    def scans(p: SparkPlan): Boolean = allNodes(p).exists {
      case f: FileSourceScanExec =>
        f.tableIdentifier.exists(_.table == table)
      case _ => false
    }
    val legs = allNodes(plan).collect {
      case j: SortMergeJoinExec => Seq(j.left, j.right).filter(scans)
    }.flatten
    assert(legs.nonEmpty,
      s"no SortMergeJoin leg scans stored index $table:\n$plan")
    legs.foreach { leg =>
      assert(allNodes(leg)
          .collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"stored-index leg of $table shuffled:\n$leg")
      assert(allNodes(leg).collect { case s: SortExec => s }.isEmpty,
        s"stored-index leg of $table re-sorted:\n$leg")
    }
  }

  test("stored minhash index: fresh-session probe == inline operator; " +
      "index leg reads with no Exchange/Sort") {
    val inline = rows(Dedup.incrementalNearDupPairs(base, batch))
    assert(inline.nonEmpty, "fixture must produce cross-set near-dups")
    val idx = DedupIndexStore.writeMinhashIndex(base)
    // fresh session: same catalog (the stored tables), no lineage
    val fresh = spark.newSession()
    val probe = DedupIndexStore.probeMinhash(fresh, idx,
      fresh.read.parquet(s"$sfDir/documents.parquet")
        .filter(pmod(col("doc_id"), lit(4)) === 0))
    assert(rows(probe) == inline)
    assertNoExchangeLeg(finalPlan(probe), idx.bucketsTable)
  }

  test("stored exact fingerprint index: fresh-session probe == inline " +
      "operator; index leg reads with no Exchange/Sort") {
    val (b, batchP) = Dedup.splitIncremental(corpus)
    val inline = rows(Dedup.incrementalExact(b, batchP)
      .select(col("doc_id"), col("fp_md5")))
    assert(inline.nonEmpty, "fixture must produce surviving batch docs")
    val idx = DedupIndexStore.writeExactIndex(b)
    val fresh = spark.newSession()
    val (_, freshBatch) = Dedup.splitIncremental(
      fresh.read.parquet(s"$sfDir/documents.parquet"))
    val probe = DedupIndexStore.probeExact(fresh, idx, freshBatch)
      .select(col("doc_id"), col("fp_md5"))
    assert(rows(probe) == inline)
    assertNoExchangeLeg(finalPlan(probe), idx.table)
  }

  test("segmented exact index: O(batch) append — base table untouched, " +
      "segment probe == id-merge refresh probe == inline; compaction " +
      "== refresh table-for-table; single-segment compact is a no-op") {
    val gen1 = corpus.filter(pmod(col("doc_id"), lit(8)) === 4)
    val gen2 = corpus.filter(pmod(col("doc_id"), lit(8)) === 0)
    val grown = corpus.filter(pmod(col("doc_id"), lit(8)) =!= 0)
    val v1 = DedupIndexStore.writeExactSegmented(base)
    val filesBefore =
      spark.table(v1.segments.head.table).inputFiles.sorted
    val v2 = DedupIndexStore.appendExactSegment(v1, gen1)
    // append never reads or rewrites the base segment
    assert(v2.segments.startsWith(v1.segments) && v2.segments.size == 2)
    assert(spark.table(v1.segments.head.table).inputFiles.sorted
      .sameElements(filesBefore))
    val got = rows(DedupIndexStore.probeExactSeg(spark, v2, gen2)
      .select(col("doc_id"), col("fp_md5")))
    assert(got.nonEmpty)
    // one answer, two index shapes: segment union == a from-scratch
    // build over the grown base
    val e2 = DedupIndexStore.writeExactIndex(grown)
    assert(got == rows(DedupIndexStore.probeExact(spark, e2, gen2)
      .select(col("doc_id"), col("fp_md5"))))
    assert(got == rows(Dedup.incrementalExact(grown, gen2)
      .select(col("doc_id"), col("fp_md5"))))
    // compaction == the from-scratch table, row for row — this is
    // also the union-partitioning hazard's answer-level canary: if the
    // distinct's regroup exchange were elided, the compacted table
    // would carry per-segment duplicate fingerprints
    val c = DedupIndexStore.compactExactSegments(spark, v2)
    assert(!v2.segments.contains(c))
    assert(rows(spark.table(c.table).orderBy("fp_md5")) ==
      rows(spark.table(e2.table).orderBy("fp_md5")))
    assert(rows(DedupIndexStore.probeExact(spark, c, gen2)
      .select(col("doc_id"), col("fp_md5"))) == got)
    // single segment: compaction returns the pair unchanged
    val one = DedupIndexStore.writeExactSegmented(base)
    assert(DedupIndexStore.compactExactSegments(spark, one) ==
      one.segments.head)
    // the LSM count TRIGGER: at or under the measured knee (4) the
    // list comes back untouched — the same instance, no new tables;
    // above a tighter ceiling it folds to one segment with the same
    // probe
    def compact(l: DedupIndexStore.SegmentedExact) =
      DedupIndexStore.SegmentedExact(
        Seq(DedupIndexStore.compactExactSegments(spark, l)))
    assert(DedupIndexStore.compactWhenOver(v2, v2.segments.size,
      DedupIndexStore.DefaultMaxSegments)(compact) eq v2)
    val t = DedupIndexStore.compactWhenOver(v2, v2.segments.size,
      maxSegments = 1)(compact)
    assert(t.segments.size == 1)
    assert(rows(DedupIndexStore.probeExactSeg(spark, t, gen2)
      .select(col("doc_id"), col("fp_md5"))) == got)
  }

  test("compaction restores rebuild-equality where a BINDING cap made " +
      "refresh diverge (rebuilt from the sets table, corpus never read)") {
    // maxBucket = 1 drops every bucket with 2+ BASE members. The
    // corpus's planted near-dups alone can't make that bind (two
    // near-dup base docs still differ in SOME band, where each sits
    // alone and the probe finds them), so plant two EXACT-duplicate
    // base docs + an identical next-ingest doc: the base pair
    // co-buckets in all 16 bands, cap 1 drops every one, and the
    // capped answer provably loses those cross pairs. Compacting the
    // UNCAPPED segment list under that cap merges the stored bucket
    // rows, applies the cap on the GLOBAL membership, and must equal
    // the from-scratch capped rebuild exactly.
    import spark.implicits._
    val dupText = "omega psi chi phi upsilon tau sigma rho pi omicron"
    val planted = Seq(
      (9000001L, dupText, "en", "s", dupText.length.toLong), // base
      (9000002L, dupText, "en", "s", dupText.length.toLong), // base
      (9000000L, dupText, "en", "s", dupText.length.toLong)) // gen2
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val all = corpus.unionByName(planted)
    val pBase = all.filter(pmod(col("doc_id"), lit(4)) =!= 0)
    val gen1 = all.filter(pmod(col("doc_id"), lit(8)) === 4)
    val gen2 = all.filter(pmod(col("doc_id"), lit(8)) === 0)
    val grown = all.filter(pmod(col("doc_id"), lit(8)) =!= 0)
    val v2 = DedupIndexStore.appendMinhashSegment(
      DedupIndexStore.writeMinhashSegmented(pBase), gen1)
    val compacted =
      DedupIndexStore.compactMinhashSegments(spark, v2, maxBucket = 1)
    val rebuilt =
      DedupIndexStore.writeMinhashIndex(grown, maxBucket = 1)
    val want = rows(DedupIndexStore.probeMinhash(spark, rebuilt, gen2))
    assert(rows(DedupIndexStore.probeMinhash(spark, compacted, gen2))
      == want)
    // prove the cap BINDS in this fixture (else the test is vacuous):
    // the capped rebuild must differ from the uncapped answer
    assert(want != rows(Dedup.incrementalNearDupPairs(grown, gen2)),
      "maxBucket = 1 must drop candidate buckets in this fixture")
  }

  test("stored minhash index is built once per (corpus, params)") {
    val a = DedupIndexStore.writeMinhashIndex(base)
    val b = DedupIndexStore.writeMinhashIndex(base)
    assert(a == b, "file-backed base must hit the build-once registry")
    val other = DedupIndexStore.writeMinhashIndex(base, n = 4)
    assert(other.bucketsTable != a.bucketsTable,
      "different params must not collide")
  }

  test("stored simhash index: fresh-session probe == inline operator; " +
      "index leg reads with no Exchange/Sort") {
    val inline = rows(Dedup.incrementalSimhashPairs(base, batch))
    assert(inline.nonEmpty, "fixture must produce cross-set simhash dups")
    val idx = DedupIndexStore.writeSimhashIndex(base)
    val fresh = spark.newSession()
    val probe = DedupIndexStore.probeSimhash(fresh, idx,
      fresh.read.parquet(s"$sfDir/documents.parquet")
        .filter(pmod(col("doc_id"), lit(4)) === 0))
    assert(rows(probe) == inline)
    assertNoExchangeLeg(finalPlan(probe), idx.table)
  }

  test("stored embedding index: fresh-session probe == inline operator; " +
      "index leg reads with no Exchange/Sort") {
    val planes = Seq.tabulate(4)(t => Seq.tabulate(4)(j =>
      Seq.tabulate(64)(i => if (i == 4 * t + j) 1.0 else 0.0)))
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val eBase = embs.filter(pmod(col("vec_id"), lit(4)) =!= 0)
    val eBatch = embs.filter(pmod(col("vec_id"), lit(4)) === 0)
    val inline = rows(Dedup.incrementalEmbeddingNearDup(
      eBase, eBatch, threshold = 0.4, planes = Some(planes)))
    assert(inline.nonEmpty, "fixture must produce cross-set embed dups")
    val idx = DedupIndexStore.writeEmbeddingIndex(eBase, planes)
    val fresh = spark.newSession()
    val probe = DedupIndexStore.probeEmbedding(fresh, idx,
      fresh.read.parquet(s"$sfDir/embeddings.parquet")
        .filter(pmod(col("vec_id"), lit(4)) === 0),
      threshold = 0.4, tables = planes)
    assert(rows(probe) == inline)
    assertNoExchangeLeg(finalPlan(probe), idx.bucketsTable)
  }

  test("segmented embedding index: O(batch) append, probe == id-merge " +
      "refresh probe == inline over the grown base; the probe-time " +
      "global cap reproduces the single-build cap decision when it " +
      "BINDS") {
    val planes = Seq.tabulate(4)(t => Seq.tabulate(4)(j =>
      Seq.tabulate(64)(i => if (i == 4 * t + j) 1.0 else 0.0)))
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val eb = embs.filter(pmod(col("vec_id"), lit(4)) =!= 0)
    val eg1 = embs.filter(pmod(col("vec_id"), lit(8)) === 4)
    val eg2 = embs.filter(pmod(col("vec_id"), lit(8)) === 0)
    val grown = embs.filter(pmod(col("vec_id"), lit(8)) =!= 0)
    // O(batch) append: base segment untouched
    val v1 = DedupIndexStore.writeEmbeddingSegmented(eb, planes)
    val filesBefore =
      spark.table(v1.segments.head.bucketsTable).inputFiles.sorted
    val v2 = DedupIndexStore.appendEmbeddingSegment(v1, eg1, planes)
    assert(v2.segments.startsWith(v1.segments) && v2.segments.size == 2)
    assert(spark.table(v1.segments.head.bucketsTable).inputFiles.sorted
      .sameElements(filesBefore))
    val got = rows(DedupIndexStore.probeEmbeddingSeg(spark, v2, eg2,
      threshold = 0.4, tables = planes))
    assert(got.nonEmpty)
    // one answer, THREE execution models
    val r2 = DedupIndexStore.writeEmbeddingIndex(grown, planes)
    assert(got == rows(DedupIndexStore.probeEmbedding(spark, r2, eg2,
      threshold = 0.4, tables = planes)))
    assert(got == rows(Dedup.incrementalEmbeddingNearDup(grown, eg2,
      threshold = 0.4, planes = Some(planes))))
    // BINDING cap: pick the fullest (t, bucket) of the grown base
    // under these planes and set the cap just below its population —
    // the single capped build drops it, and the segment probe's
    // global sum must reach the same verdict even though EACH
    // SEGMENT's share sits under the cap
    val occ = Dedup.embeddingBandIndex(grown, planes,
        maxBucket = Int.MaxValue)
      .select(size(col("base_ds")).as("n"))
      .agg(max("n")).head.getInt(0)
    assert(occ >= 2, "fixture needs a shared bucket to bind on")
    val cap = occ - 1
    val capped = rows(Dedup.embeddingProbe(
      Dedup.embeddingBandIndex(grown, planes, maxBucket = cap),
      Dedup.embeddingVecs(grown), eg2, 0.4, planes))
    val segCapped = rows(DedupIndexStore.probeEmbeddingSeg(spark, v2,
      eg2, threshold = 0.4, tables = planes, maxBucket = cap))
    assert(segCapped == capped)
    // ... and the cap DID bind: the capped single build carries fewer
    // buckets than the uncapped one (the dropped bucket is the one
    // the probe-time global sum must also skip)
    assert(Dedup.embeddingBandIndex(grown, planes, maxBucket = cap)
        .count() <
      Dedup.embeddingBandIndex(grown, planes,
        maxBucket = Int.MaxValue).count())
    // compaction: merged-regroup single index serves the same answer,
    // under the default AND the binding cap
    val ec = DedupIndexStore.compactEmbeddingSegments(spark, v2)
    assert(rows(DedupIndexStore.probeEmbedding(spark, ec, eg2,
      threshold = 0.4, tables = planes)) == got)
    val ecCap = DedupIndexStore.compactEmbeddingSegments(spark, v2,
      maxBucket = cap)
    assert(rows(DedupIndexStore.probeEmbedding(spark, ecCap, eg2,
      threshold = 0.4, tables = planes)) == capped)
    assert(DedupIndexStore.compactWhenOver(v2, v2.segments.size,
      DedupIndexStore.DefaultMaxSegments)(l =>
      DedupIndexStore.SegmentedEmbedding(
        Seq(DedupIndexStore.compactEmbeddingSegments(spark, l)),
        l.planesDigest)) eq v2)
    // geometry guard (r13 advice): appending or probing under
    // DIFFERENT planes than the list was built with must refuse
    // loudly — a mixed-geometry list would probe silently wrong
    val otherPlanes = Seq.tabulate(4)(t => Seq.tabulate(4)(j =>
      Seq.tabulate(64)(i => if (i == (4 * t + j + 1) % 64) 1.0
        else 0.0)))
    val eAppend = intercept[IllegalArgumentException] {
      DedupIndexStore.appendEmbeddingSegment(v2, eg2, otherPlanes)
    }
    assert(eAppend.getMessage.contains("different SRP planes"))
    val eProbe = intercept[IllegalArgumentException] {
      DedupIndexStore.probeEmbeddingSeg(spark, v2, eg2,
        threshold = 0.4, tables = otherPlanes)
    }
    assert(eProbe.getMessage.contains("different SRP planes"))
  }

  test("segmented minhash + simhash indexes: O(batch) append, probe " +
      "== refresh probe == inline; probe-time global cap == the " +
      "single-build cap decision when it BINDS") {
    val gen1 = corpus.filter(pmod(col("doc_id"), lit(8)) === 4)
    val gen2 = corpus.filter(pmod(col("doc_id"), lit(8)) === 0)
    val grown = corpus.filter(pmod(col("doc_id"), lit(8)) =!= 0)
    // ---- minhash ----
    val m1 = DedupIndexStore.writeMinhashSegmented(base)
    val mFiles =
      spark.table(m1.segments.head.bucketsTable).inputFiles.sorted
    val m2 = DedupIndexStore.appendMinhashSegment(m1, gen1)
    assert(m2.segments.startsWith(m1.segments) && m2.segments.size == 2)
    assert(spark.table(m1.segments.head.bucketsTable).inputFiles.sorted
      .sameElements(mFiles))
    val segProbe = DedupIndexStore.probeMinhashSeg(spark, m2, gen2)
    val gotM = rows(segProbe)
    assert(gotM.nonEmpty)
    // the probe-time cap's totals leg reads the STORED n_members
    // column with the heavy member-list column PRUNED at the parquet
    // scan — the 100 TB cost claim, pinned in the plan
    assert(allNodes(finalPlan(segProbe)).exists {
      case f: FileSourceScanExec =>
        f.requiredSchema.fieldNames.contains("n_members") &&
          !f.requiredSchema.fieldNames.contains("base_ds")
      case _ => false
    }, "totals leg must scan n_members without member lists:\n" +
      finalPlan(segProbe))
    val mr2 = DedupIndexStore.writeMinhashIndex(grown)
    assert(gotM == rows(DedupIndexStore.probeMinhash(spark, mr2, gen2)))
    assert(gotM == rows(Dedup.incrementalNearDupPairs(grown, gen2)))
    // binding cap: the fullest (band, bucket) of the grown base —
    // cap just under its population; per-segment shares sit under it
    val mOcc = Dedup.minhashBandIndex(grown, maxBucket = Int.MaxValue)
      .select(size(col("base_ds")).as("n")).agg(max("n")).head.getInt(0)
    assert(mOcc >= 2, "fixture needs a shared minhash bucket")
    val mCap = mOcc - 1
    val mCapped = rows(Dedup.minhashProbe(
      Dedup.minhashBandIndex(grown, maxBucket = mCap),
      Dedup.shingleSets(grown, 3), gen2, 3, 0.8, 64, 16))
    assert(rows(DedupIndexStore.probeMinhashSeg(spark, m2, gen2,
      maxBucket = mCap)) == mCapped)
    assert(Dedup.minhashBandIndex(grown, maxBucket = mCap).count() <
      Dedup.minhashBandIndex(grown, maxBucket = Int.MaxValue).count())
    // ---- simhash ----
    val s1 = DedupIndexStore.writeSimhashSegmented(base)
    val s2 = DedupIndexStore.appendSimhashSegment(s1, gen1)
    val gotS = rows(DedupIndexStore.probeSimhashSeg(spark, s2, gen2))
    assert(gotS.nonEmpty)
    val sr2 = DedupIndexStore.writeSimhashIndex(grown)
    assert(gotS == rows(DedupIndexStore.probeSimhash(spark, sr2, gen2)))
    assert(gotS == rows(Dedup.incrementalSimhashPairs(grown, gen2)))
    val sOcc = Dedup.simhashBandIndex(grown, maxBucket = Int.MaxValue)
      .select(size(col("ds")).as("n")).agg(max("n")).head.getInt(0)
    assert(sOcc >= 2, "fixture needs a shared simhash bucket")
    val sCap = sOcc - 1
    val sCapped = rows(Dedup.simhashProbe(
        Dedup.simhashBatchBanded(gen2),
        Dedup.simhashBandIndex(grown, maxBucket = sCap), 3)
      .distinct().orderBy("doc_batch", "doc_base"))
    assert(rows(DedupIndexStore.probeSimhashSeg(spark, s2, gen2,
      maxBucket = sCap)) == sCapped)
    assert(Dedup.simhashBandIndex(grown, maxBucket = sCap).count() <
      Dedup.simhashBandIndex(grown, maxBucket = Int.MaxValue).count())
    // ---- the LSM third verb: compaction merges stored bucket rows
    // with the cap applied on GLOBAL membership — probe equality to
    // the segment list, including under the BINDING caps above (the
    // regime a per-segment cap could not reproduce)
    val mc = DedupIndexStore.compactMinhashSegments(spark, m2)
    assert(rows(DedupIndexStore.probeMinhash(spark, mc, gen2)) == gotM)
    val mcCap = DedupIndexStore.compactMinhashSegments(spark, m2,
      maxBucket = mCap)
    assert(rows(DedupIndexStore.probeMinhash(spark, mcCap, gen2))
      == mCapped)
    val sc = DedupIndexStore.compactSimhashSegments(spark, s2)
    assert(rows(DedupIndexStore.probeSimhash(spark, sc, gen2)) == gotS)
    val scCap = DedupIndexStore.compactSimhashSegments(spark, s2,
      maxBucket = sCap)
    assert(rows(DedupIndexStore.probeSimhash(spark, scCap, gen2))
      == sCapped)
    // the count trigger: at or under the knee the list comes back
    // (same instance); over a forced ceiling it compacts (uncapped,
    // so the list keeps serving the probe-time cap) and serves the
    // segment probe's rows
    assert(DedupIndexStore.compactWhenOver(m2, m2.segments.size,
      DedupIndexStore.DefaultMaxSegments)(l =>
      DedupIndexStore.SegmentedMinhash(Seq(DedupIndexStore
        .compactMinhashSegments(spark, l, maxBucket = Int.MaxValue))))
      eq m2)
    val st = DedupIndexStore.compactWhenOver(s2, s2.segments.size,
      maxSegments = 1)(l => DedupIndexStore.SegmentedSimhash(Seq(
      DedupIndexStore.compactSimhashSegments(spark, l,
        maxBucket = Int.MaxValue))))
    assert(st.segments.size == 1)
    assert(rows(DedupIndexStore.probeSimhashSeg(spark, st, gen2)) == gotS)
  }

  test("drained minhash segment-fold loop == the batch segment probe; " +
      "forcing the trigger every fold changes nothing (in-loop " +
      "compaction is a pure uncapped merge)") {
    val gen1 = corpus.filter(pmod(col("doc_id"), lit(8)) === 4)
    val gen2 = corpus.filter(pmod(col("doc_id"), lit(8)) === 0)
    val want = rows(DedupIndexStore.probeMinhashSeg(spark,
      DedupIndexStore.appendMinhashSegment(
        DedupIndexStore.writeMinhashSegmented(base), gen1), gen2))
    assert(want.nonEmpty)
    assert(rows(graft.streaming.EventStreams
      .drainMinhashSegMaintenance(base, gen1, gen2)) == want)
    assert(rows(graft.streaming.EventStreams
      .drainMinhashSegMaintenance(base, gen1, gen2,
        maxSegments = 1)) == want)
    // the serve-telemetry fold regime: same answer under the default
    // knee threshold AND with the trigger forced every fold (amp is
    // always >= the 10000 bp floor, so maxAmpBp = 0 compacts after
    // every ingest — in-loop compaction is a pure uncapped merge)
    assert(rows(graft.streaming.EventStreams
      .drainMinhashAmpMaintenance(base, gen1, gen2)) == want)
    assert(rows(graft.streaming.EventStreams
      .drainMinhashAmpMaintenance(base, gen1, gen2,
        maxAmpBp = 0L)) == want)
  }

  test("segmented probes publish read-amplification telemetry " +
      "(segments scanned, bucket rows pre/post prune)") {
    val docs = corpus
    val v2 = DedupIndexStore.appendMinhashSegment(
      DedupIndexStore.writeMinhashSegmented(
        docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)),
      docs.filter(pmod(col("doc_id"), lit(8)) === 4))
    val probe = DedupIndexStore.probeMinhashSeg(spark, v2,
      docs.filter(pmod(col("doc_id"), lit(8)) === 0))
    probe.collect()
    val pre = probe.queryExecution
      .observedMetrics(DedupIndexStore.segProbeMetricName("minhash"))
    val post = probe.queryExecution
      .observedMetrics(DedupIndexStore.segProbeMetricPostName("minhash"))
    assert(pre.getAs[Int]("segments_scanned") == 2)
    assert(pre.getAs[Long]("bucket_rows_pre") > 0)
    assert(pre.getAs[Long]("members_pre") >=
      pre.getAs[Long]("bucket_rows_pre"))
    // under the default (non-binding) cap nothing is pruned: the
    // candidate leg re-reads exactly the pre-prune rows — the 2x
    // read amplification a compacted single index would reset
    assert(post.getAs[Long]("bucket_rows_post")
      <= pre.getAs[Long]("bucket_rows_pre"))
    assert(post.getAs[Long]("members_post") > 0)
  }

  test("executeForTelemetry populates the serve's observe metrics " +
      "through the probe's OWN QueryExecution (Dataset.foreachPartition " +
      "re-plans and leaves them unread — the r14 amp-drain bug)") {
    val gen1 = corpus.filter(pmod(col("doc_id"), lit(8)) === 4)
    val gen2 = corpus.filter(pmod(col("doc_id"), lit(8)) === 0)
    val v2 = DedupIndexStore.appendMinhashSegment(
      DedupIndexStore.writeMinhashSegmented(base), gen1)
    // the r14 execution path: runs the job, but through a NEW
    // QueryExecution (Dataset.rdd deserializes via a fresh plan), so
    // THIS df's accumulators never see it → None. Pinned so nobody
    // reinstates it believing the two are equivalent.
    val p1 = DedupIndexStore.probeMinhashSeg(spark, v2, gen2)
    p1.foreachPartition((_: Iterator[org.apache.spark.sql.Row]) => ())
    assert(DedupIndexStore.segProbeReadAmpBp(p1, "minhash").isEmpty)
    // the fixed path: toRdd is the executedPlan's own RDD — same
    // accumulators, zero driver rows, amp readable
    val p2 = DedupIndexStore.probeMinhashSeg(spark, v2, gen2)
    DedupIndexStore.executeForTelemetry(p2)
    val amp = DedupIndexStore.segProbeReadAmpBp(p2, "minhash")
    assert(amp.exists(_ >= 10000L),
      s"expected a readable amp >= the 1.0x floor, got $amp")
  }

  test("read-amplification trigger: a fresh single-segment list reads " +
      "exactly 1.0x, an un-executed probe passes through, and a " +
      "forced threshold compacts to an identical probe") {
    val gen1 = corpus.filter(pmod(col("doc_id"), lit(8)) === 4)
    val probe2 = corpus.filter(pmod(col("doc_id"), lit(8)) === 0)
    val v1 = DedupIndexStore.writeMinhashSegmented(base)
    // single uncapped segment: one stored row per (band, bucket) by
    // construction, every group survives the cap -> amp is EXACTLY
    // the compacted floor of 10000 bp
    val p1 = DedupIndexStore.probeMinhashSeg(spark, v1, probe2)
    p1.collect()
    assert(DedupIndexStore.segProbeReadAmpBp(p1, "minhash")
      .contains(10000L))
    // wrong family -> None
    assert(DedupIndexStore.segProbeReadAmpBp(p1, "simhash").isEmpty)
    // an un-executed probe has no observed metrics yet: the trigger
    // must pass the list through untouched (same instance), so wiring
    // it before the first serve is safe
    val unexecuted = DedupIndexStore.probeMinhashSeg(spark, v1, probe2)
    assert(DedupIndexStore.segProbeReadAmpBp(unexecuted, "minhash")
      .isEmpty)
    def compact(l: DedupIndexStore.SegmentedMinhash) =
      DedupIndexStore.SegmentedMinhash(
        Seq(DedupIndexStore.compactMinhashSegments(spark, l)))
    assert(DedupIndexStore.compactWhenAmplified(v1, unexecuted,
      "minhash")(compact) eq v1)
    // two segments: amp is bounded by the segment count and never
    // below the floor
    val v2 = DedupIndexStore.appendMinhashSegment(v1, gen1)
    val p2 = DedupIndexStore.probeMinhashSeg(spark, v2, probe2)
    val segRows = rows(p2)
    val amp = DedupIndexStore.segProbeReadAmpBp(p2, "minhash").get
    assert(amp >= 10000L && amp <= 20000L)
    // at-or-under the observed amp -> the same instance (the trigger
    // is strict-over, like the count trigger's `<=`)
    assert(DedupIndexStore.compactWhenAmplified(v2, p2, "minhash",
      maxAmpBp = amp)(compact) eq v2)
    // forced under the observed amp -> compacts, and the compacted
    // single-index probe returns the segment probe's exact rows
    val c = DedupIndexStore.compactWhenAmplified(v2, p2, "minhash",
      maxAmpBp = amp - 1)(compact)
    assert(c.segments.size == 1)
    assert(rows(DedupIndexStore.probeMinhash(spark,
      c.segments.head, probe2)) == segRows)
  }

  test("union-partitioning hazard regression (r14 100x crash shape): " +
      "segment probes stay correct when shuffle partitions equal the " +
      "bucket count and nothing broadcasts") {
    // The natural production conf — shuffles sized to the index's
    // bucket count — is exactly where Spark 4.1's union-partitioning
    // claim satisfied every downstream requirement, EnsureRequirements
    // elided the r12 repartition fence itself, and the plan either
    // crashed (SortMergeJoin zipping claimed-8 vs concatenated-16
    // partitions) or split per-segment groups. segmentScan's
    // multi-path read removes the Union node entirely; this pins the
    // answers at that conf, with broadcasts disabled so every join
    // exercises the zip-sensitive SortMergeJoin path.
    val gen1 = corpus.filter(pmod(col("doc_id"), lit(8)) === 4)
    val probe2 = corpus.filter(pmod(col("doc_id"), lit(8)) === 0)
    val mh2 = DedupIndexStore.appendMinhashSegment(
      DedupIndexStore.writeMinhashSegmented(base), gen1)
    val ex2 = DedupIndexStore.appendExactSegment(
      DedupIndexStore.writeExactSegmented(base), gen1)
    // ground truth under the harness conf (32 partitions != 8 buckets
    // keeps requirements unsatisfiable by any claim)
    val wantMh = rows(DedupIndexStore.probeMinhashSeg(spark, mh2, probe2))
    val wantEx = rows(DedupIndexStore.probeExactSeg(spark, ex2, probe2)
      .orderBy("doc_id"))
    assert(wantMh.nonEmpty && wantEx.nonEmpty)
    val sp = spark.conf.get("spark.sql.shuffle.partitions")
    val bt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      assert(rows(DedupIndexStore.probeMinhashSeg(spark, mh2, probe2))
        == wantMh)
      assert(rows(DedupIndexStore.probeExactSeg(spark, ex2, probe2)
        .orderBy("doc_id")) == wantEx)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", sp)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bt)
    }
  }
}
