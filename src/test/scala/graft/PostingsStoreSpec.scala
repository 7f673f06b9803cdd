package graft

import graft.operators.CorpusOps
import graft.sources.{DedupIndexStore, PostingsStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

/** The stored-postings round trip (the DedupIndexStoreSpec contract
  * for text retrieval): phrase search served from the persisted
  * positional index equals the corpus-scan operator, from a fresh
  * session, and each phrase slot's scan of the bucketed index prunes
  * to a strict subset of the buckets (the term is a literal). */
class PostingsStoreSpec extends SparkSpec {

  private val phrase = Seq("window", "fast", "query")

  private def corpus(s: org.apache.spark.sql.SparkSession) =
    s.read.parquet(s"$sfDir/documents.parquet")

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** The id-level merge a re-ingest must reproduce, computed
    * straight from the documents: postings regrouped per
    * (term, doc_id) over every ingested row, doclens summed per
    * doc_id ("re-ingest adds lengths"). */
  private def idMerge(ingests: DataFrame*): (DataFrame, DataFrame) = {
    val all = ingests.reduce(_ unionByName _)
    (CorpusOps.postingsRows(all),
      CorpusOps.doclensRows(all).groupBy("doc_id").agg(sum("dl").as("dl")))
  }

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

  test("stored postings: fresh-session phrase search == corpus-scan " +
      "operator; per-slot scans bucket-prune on the literal term") {
    val inline = rows(CorpusOps.phraseSearch(corpus(spark), phrase))
    assert(inline.nonEmpty, "fixture phrase must match documents")
    val idx = PostingsStore.writePostings(corpus(spark))
    val fresh = spark.newSession()
    val probe = PostingsStore.phraseSearch(fresh, idx, phrase)
    assert(rows(probe) == inline)
    probe.collect()
    val scans = allNodes(probe.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
          if f.tableIdentifier.exists(_.table == idx.table) => f
    }
    assert(scans.size >= phrase.length,
      s"expected one stored-index scan per phrase slot, got ${scans.size}")
    scans.foreach { f =>
      val pruned = f.optionalBucketSet
      assert(pruned.isDefined && pruned.get.cardinality() < 8,
        s"slot scan reads every bucket (no term pruning):\n$f")
    }
  }

  test("stored proximity: fresh-session serve == corpus-scan RANGE-" +
      "window operator; both term scans bucket-prune") {
    val inline = rows(CorpusOps.proximitySearch(corpus(spark),
      anchor = "hash", near = "row", window = 3))
    assert(inline.nonEmpty, "fixture anchor/near must co-occur")
    val idx = PostingsStore.writePostings(corpus(spark))
    val fresh = spark.newSession()
    val served = PostingsStore.proximitySearch(fresh, idx,
      anchor = "hash", near = "row", window = 3)
    assert(rows(served) == inline)
    served.collect()
    val scans = allNodes(served.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
          if f.tableIdentifier.exists(_.table == idx.table) => f
    }
    assert(scans.size >= 2,
      s"expected an anchor and a near stored-index scan, got ${scans.size}")
    scans.foreach { f =>
      val pruned = f.optionalBucketSet
      assert(pruned.isDefined && pruned.get.cardinality() < 8,
        s"term scan reads every bucket (no pruning):\n$f")
    }
  }

  test("stored bm25: fresh-session serve == corpus-scan operator; " +
      "postings scan bucket-prunes; doclens leg has no Exchange/Sort") {
    val terms = Seq("spark", "window", "scan")
    val inline = rows(CorpusOps.bm25(corpus(spark), terms))
    assert(inline.nonEmpty, "fixture terms must score documents")
    val idx = PostingsStore.writePostings(corpus(spark))
    val fresh = spark.newSession()
    val served = PostingsStore.bm25Search(fresh, idx, terms)
    assert(rows(served) == inline)
    served.collect()
    val plan = served.queryExecution.executedPlan
    // the postings scan reads only the query terms' buckets
    val postingScans = allNodes(plan).collect {
      case f: FileSourceScanExec
          if f.tableIdentifier.exists(_.table == idx.table) => f
    }
    assert(postingScans.nonEmpty)
    postingScans.foreach { f =>
      val pruned = f.optionalBucketSet
      assert(pruned.isDefined && pruned.get.cardinality() < 8,
        s"postings scan reads every bucket (no term-set pruning):\n$f")
    }
    // the doclens join leg reads in stored bucket layout: no Exchange,
    // no Sort under its SortMergeJoin side
    def scansDoclens(p: SparkPlan): Boolean = allNodes(p).exists {
      case f: FileSourceScanExec =>
        f.tableIdentifier.exists(_.table == idx.doclensTable)
      case _ => false
    }
    val legs = allNodes(plan).collect {
      case j: SortMergeJoinExec => Seq(j.left, j.right).filter(scansDoclens)
    }.flatten
    assert(legs.nonEmpty,
      s"no SortMergeJoin leg scans stored doclens ${idx.doclensTable}:\n$plan")
    legs.foreach { leg =>
      assert(allNodes(leg)
        .collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"stored doclens leg shuffled:\n$leg")
      assert(allNodes(leg).collect { case s: SortExec => s }.isEmpty,
        s"stored doclens leg re-sorted:\n$leg")
    }
  }

  test("segment lifecycle: O(batch) append — base segment files " +
      "untouched, serve == corpus operators, every segment's slot " +
      "scan bucket-prunes") {
    val docs = corpus(spark)
    val base = docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)
    val accepted = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
    val v1 = PostingsStore.writeSegmented(base)
    val filesBefore =
      spark.table(v1.segments.head.table).inputFiles.sorted
    val v2 = PostingsStore.appendSegment(v1, accepted)
    // segment model: append never reads or rewrites the base pair
    assert(v2.segments.startsWith(v1.segments) && v2.segments.size == 2)
    assert(spark.table(v1.segments.head.table).inputFiles.sorted
      .sameElements(filesBefore))
    // base ∪ accepted = the whole corpus: serve == corpus operators
    assert(rows(PostingsStore.phraseSearchSeg(spark, v2, phrase)) ==
      rows(CorpusOps.phraseSearch(docs, phrase)))
    assert(rows(PostingsStore.proximitySearchSeg(spark, v2,
      anchor = "hash", near = "row", window = 3)) ==
      rows(CorpusOps.proximitySearch(docs,
        anchor = "hash", near = "row", window = 3)))
    val terms = Seq("spark", "window", "scan")
    assert(rows(PostingsStore.bm25SearchSeg(spark, v2, terms)) ==
      rows(CorpusOps.bm25(docs, terms)))
    // each phrase slot's literal-term filter pushes through the merge
    // regroup and the union into BOTH segments' scans, bucket-pruned
    val segTables = v2.segments.map(_.table).toSet
    val probe = PostingsStore.phraseSearchSeg(spark, v2, phrase)
    probe.collect()
    val scans = allNodes(probe.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
          if f.tableIdentifier.exists(t => segTables.contains(t.table))
        => f
    }
    assert(scans.size >= 2 * phrase.length,
      s"expected a scan per (slot x segment), got ${scans.size}")
    scans.foreach { f =>
      val pruned = f.optionalBucketSet
      assert(pruned.isDefined && pruned.get.cardinality() < 8,
        s"segment slot scan reads every bucket (no term pruning):\n$f")
    }
  }

  test("re-ingested doc_ids: cross-segment (term, doc_id) groups " +
      "merge exactly like refreshPostings' id-level merge") {
    val docs = corpus(spark)
    val reingest = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
    // id-merge reference: the whole corpus + the quarter again
    val (postings, doclens) = idMerge(docs, reingest)
    // segment lineage: same re-ingest as an appended segment
    val seg = PostingsStore.appendSegment(
      PostingsStore.writeSegmented(docs), reingest)
    assert(rows(PostingsStore.phraseSearchSeg(spark, seg, phrase)) ==
      rows(CorpusOps.phraseFromPostings(postings, phrase)))
    val terms = Seq("spark", "window", "scan")
    assert(rows(PostingsStore.bm25SearchSeg(spark, seg, terms)) ==
      rows(CorpusOps.bm25FromPostings(postings, doclens, terms)))
  }

  test("duplicate segment OCCURRENCES (identical batch re-appended " +
      "hits the build-once registry) keep union multiplicity: seg " +
      "serve == refresh applied twice") {
    // The registry intentionally returns the SAME physical table for
    // an identical file-backed batch, so appending it twice yields a
    // segment list with a duplicated table name. A single multi-path
    // scan would silently collapse the duplicate leaf files
    // (InMemoryFileIndex keys by path) — halving doclens while the
    // postings union double-counts tf (r15 advice). segmentScan must
    // preserve per-occurrence multiplicity so both sides agree with
    // the id-level merge semantics ("re-ingest adds lengths").
    val docs = corpus(spark)
    val base = docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
    val seg = PostingsStore.appendSegment(
      PostingsStore.appendSegment(
        PostingsStore.writeSegmented(base), batch), batch)
    // precondition: the registry really did collapse the two appends
    // onto one physical segment pair — otherwise this tests nothing
    assert(seg.segments(1) == seg.segments(2),
      "expected the identical re-appended batch to reuse one " +
        s"physical segment, got ${seg.segments}")
    val (postings, doclens) = idMerge(base, batch, batch)
    val terms = Seq("spark", "window", "scan")
    assert(rows(PostingsStore.bm25SearchSeg(spark, seg, terms)) ==
      rows(CorpusOps.bm25FromPostings(postings, doclens, terms)))
    assert(rows(PostingsStore.phraseSearchSeg(spark, seg, phrase)) ==
      rows(CorpusOps.phraseFromPostings(postings, phrase)))
  }

  test("union-partitioning hazard: the cross-segment doclens merge " +
      "reads ONE multi-path scan (no Union to claim a layout) and " +
      "plans a real shuffle before the regroup") {
    // Spark 4.1's unionOutputPartitioning claim (default true) lets a
    // Union of same-bucketing children advertise the zipped layout
    // while the columnar path concatenates partitions, silently
    // splitting (doc_id) groups per segment (125 duplicated doc_ids
    // on this corpus, r12) — and when shuffle.partitions == bucket
    // count even an explicit repartition fence gets elided with the
    // rest (the r14 100x-rehearsal crash). The views therefore read
    // the segment tables as a single multi-path scan; this pins that
    // shape: one FileScan covering BOTH segment locations, with a
    // real shuffle above it before the regroup.
    val docs = corpus(spark)
    val v2 = PostingsStore.appendSegment(
      PostingsStore.writeSegmented(
        docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)),
      docs.filter(pmod(col("doc_id"), lit(4)) === 0))
    val served = PostingsStore.bm25SearchSeg(spark, v2,
      Seq("spark", "window", "scan"))
    served.collect()
    // compare filesystem PATH components (URI scheme/slash forms vary
    // between catalog metadata and file-index root paths), and accept
    // roots that are files under the table dir
    def fsPath(s: String): String =
      try new java.net.URI(s).getPath catch { case _: Throwable => s }
    val dlPaths = v2.segments.map(s => fsPath(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst
        .TableIdentifier(s.doclensTable))
      .location.toString).stripSuffix("/")).toSet
    val nodes = allNodes(served.queryExecution.executedPlan)
    val multiPathScan = nodes.exists {
      case f: FileSourceScanExec =>
        val roots = f.relation.location.rootPaths
          .map(p => fsPath(p.toString).stripSuffix("/"))
        dlPaths.forall(dp => roots.exists(_.startsWith(dp)))
      case _ => false
    }
    assert(multiPathScan,
      "doclens segments are not read as one multi-path scan:\n" +
        served.queryExecution.executedPlan)
    val unionOverDoclens = nodes.exists {
      case u: org.apache.spark.sql.execution.UnionExec =>
        u.children.exists(c => allNodes(c).exists {
          case f: FileSourceScanExec => f.relation.location.rootPaths
            .map(p => fsPath(p.toString).stripSuffix("/"))
            .exists(r => dlPaths.exists(r.startsWith))
          case _ => false
        })
      case _ => false
    }
    assert(!unionOverDoclens,
      "a Union over doclens segment scans reappeared — that shape " +
        "can claim the zipped bucketing while concatenating " +
        "partitions (PERF.md):\n" + served.queryExecution.executedPlan)
    // ...and the regroup's one owed exchange is REAL: some shuffle's
    // subtree contains the multi-path doclens scan (an elided regroup
    // exchange would fail here before the answer diff does).
    val doclensScanUnderShuffle = nodes.exists {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        allNodes(s).exists {
          case f: FileSourceScanExec =>
            val roots = f.relation.location.rootPaths
              .map(p => fsPath(p.toString).stripSuffix("/"))
            dlPaths.forall(dp => roots.exists(_.startsWith(dp)))
          case _ => false
        }
      case _ => false
    }
    assert(doclensScanUnderShuffle,
      "no ShuffleExchange above the multi-path doclens scan — the " +
        "cross-segment regroup's exchange was elided:\n" +
        served.queryExecution.executedPlan)
  }

  test("compacted segments == from-scratch build, table for table; " +
      "single-segment compaction is a no-op") {
    val docs = corpus(spark)
    val v2 = PostingsStore.appendSegment(
      PostingsStore.writeSegmented(
        docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)),
      docs.filter(pmod(col("doc_id"), lit(4)) === 0))
    val c = PostingsStore.compactSegments(spark, v2)
    assert(!v2.segments.contains(c))
    val full = PostingsStore.writePostings(docs)
    assert(rows(spark.table(c.table).orderBy("term", "doc_id")) ==
      rows(spark.table(full.table).orderBy("term", "doc_id")))
    assert(rows(spark.table(c.doclensTable).orderBy("doc_id")) ==
      rows(spark.table(full.doclensTable).orderBy("doc_id")))
    assert(rows(PostingsStore.phraseSearch(spark, c, phrase)) ==
      rows(CorpusOps.phraseSearch(docs, phrase)))
    // single segment: nothing to merge — the pair returns unchanged
    val one = PostingsStore.writeSegmented(docs)
    assert(PostingsStore.compactSegments(spark, one) ==
      one.segments.head)
  }

  test("compactIfOver: untouched at or under the threshold, one " +
      "segment above it, identical probe either way") {
    val docs = corpus(spark)
    val base = docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)
    val subs = (0 until 3).map(i =>
      docs.filter(pmod(col("doc_id"), lit(4)) === 0 &&
        pmod(col("doc_id"), lit(12)) === (i * 4)))
    val v4 = subs.foldLeft(PostingsStore.writeSegmented(base))(
      (acc, b) => PostingsStore.appendSegment(acc, b))
    assert(v4.segments.size == 4)
    def compact(l: PostingsStore.SegmentedPostings) =
      PostingsStore.SegmentedPostings(
        Seq(PostingsStore.compactSegments(spark, l)))
    // at the default knee (4): under/equal — the SAME list back, no
    // new tables
    assert(DedupIndexStore.compactWhenOver(v4, v4.segments.size,
      DedupIndexStore.DefaultMaxSegments)(compact) eq v4)
    // above a tighter ceiling: one segment, same phrase answer
    val c = DedupIndexStore.compactWhenOver(v4, v4.segments.size,
      maxSegments = 2)(compact)
    assert(c.segments.size == 1)
    assert(rows(PostingsStore.phraseSearchSeg(spark, c, phrase)) ==
      rows(PostingsStore.phraseSearchSeg(spark, v4, phrase)))
  }

  test("segment maintenance loop with the trigger forced on " +
      "(maxSegments = 1): every fold compacts, answer unchanged") {
    val docs = corpus(spark)
    val base = docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)
    val delta = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
    assert(rows(graft.streaming.EventStreams
      .drainPostingsSegMaintenance(base, delta, phrase,
        maxSegments = 1)) ==
      rows(CorpusOps.phraseSearch(docs, phrase)))
    // empty delta: nothing to fold — the answer is the base build's
    assert(rows(graft.streaming.EventStreams
      .drainPostingsSegMaintenance(base, delta.limit(0), phrase,
        maxSegments = 1)) ==
      rows(CorpusOps.phraseSearch(base, phrase)))
  }

  test("streamed segment maintenance loop: delta docs appending " +
      "segments per micro-batch serve the same phrase answer; empty " +
      "delta serves the base segment") {
    val docs = corpus(spark)
    val base = docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)
    val delta = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
    assert(rows(graft.streaming.EventStreams
      .drainPostingsSegMaintenance(base, delta, phrase)) ==
      rows(CorpusOps.phraseSearch(docs, phrase)))
    assert(rows(graft.streaming.EventStreams
      .drainPostingsSegMaintenance(base, delta.limit(0), phrase)) ==
      rows(CorpusOps.phraseSearch(base, phrase)))
  }

  test("duplicate phrase terms and a no-match phrase behave") {
    val docs = corpus(spark)
    val idx = PostingsStore.writePostings(docs)
    // duplicate-term phrase: both forms agree (slots share postings)
    val dup = Seq("fast", "fast")
    assert(rows(PostingsStore.phraseSearch(spark, idx, dup)) ==
      rows(CorpusOps.phraseSearch(docs, dup)))
    // phrase with an absent term: empty both ways
    val none = Seq("window", "zzznotaword")
    assert(PostingsStore.phraseSearch(spark, idx, none).isEmpty &&
      CorpusOps.phraseSearch(docs, none).isEmpty)
  }
}
