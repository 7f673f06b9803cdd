package graft.sources

import graft.operators.CorpusOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted positional postings — the text-retrieval member of the
  * stored-index family ([[DedupIndexStore]], [[AnnIndexStore]]). The
  * full (term, doc_id, positions) inverted index is built from the
  * corpus ONCE and persisted bucketed by term, alongside the per-doc
  * token-length side table (the norms file of a classic search index,
  * bucketed by doc_id). Queries then serve from storage without
  * touching the corpus:
  *
  *  - [[phraseSearch]]: each phrase slot's scan carries a literal term
  *    the bucketed layout prunes to one bucket (SelectedBucketsCount —
  *    spec-pinned); per-slot input is the term's document frequency.
  *  - [[bm25Search]]: tf from posting-list lengths (term-set scan,
  *    bucket-pruned), dl and the corpus scalars from doclens — whose
  *    join leg reads with no Exchange and no Sort (bucket layout ==
  *    join layout), so only the |terms|-scale probe rows shuffle.
  *  - [[SegmentedPostings]]: accepted documents land as appended
  *    segments and [[compactSegments]] folds the list back to one
  *    pair — the base corpus is never re-read, and nothing is ever
  *    capped out of a postings index, so compaction == rebuild
  *    exactly.
  *
  * At 100 TB this is the difference between a phrase/retrieval query
  * costing a corpus tokenize and costing a few posting lists. Same
  * build-once registry, table naming, and exit-sweep conventions as
  * [[DedupIndexStore]] (shared via its `table` helper). */
object PostingsStore {

  final case class PostingsIndex(table: String, doclensTable: String)

  /** Persist the corpus's full positional index bucketed by term plus
    * its doclens side table bucketed by doc_id. The one corpus read of
    * the index lifecycle. */
  def writePostings(docs: DataFrame, buckets: Int = 8): PostingsIndex = {
    val key = DedupIndexStore.identityKey(docs)
    val params = s"pt|$buckets"
    PostingsIndex(
      DedupIndexStore.table("postings", key, params, Seq("term"),
        buckets)(CorpusOps.postingsRows(docs)),
      DedupIndexStore.table("doclens", key, params, Seq("doc_id"),
        buckets)(CorpusOps.doclensRows(docs)))
  }

  /** Exact consecutive-phrase search served FROM the stored index —
    * output identical to [[CorpusOps.phraseSearch]] over the same
    * corpus. */
  def phraseSearch(spark: SparkSession, idx: PostingsIndex,
      phrase: Seq[String]): DataFrame =
    CorpusOps.phraseFromPostings(spark.table(idx.table), phrase)

  /** Proximity co-occurrence served FROM the stored index — output
    * identical to [[CorpusOps.proximitySearch]] over the same corpus;
    * two bucket-pruned literal-term scans, pure array arithmetic. */
  def proximitySearch(spark: SparkSession, idx: PostingsIndex,
      anchor: String, near: String, window: Int): DataFrame =
    CorpusOps.proximityFromPostings(spark.table(idx.table), anchor,
      near, window)

  /** Okapi BM25 top-k served FROM the stored index — output identical
    * to [[CorpusOps.bm25]] over the same corpus. The doclens leg of
    * the dl join carries a merge hint and reads in its stored bucket
    * order, so it plans with no Exchange and no Sort. */
  def bm25Search(spark: SparkSession, idx: PostingsIndex,
      terms: Seq[String], k: Int = 10): DataFrame = {
    DedupIndexStore.enableBucketedSortOrder(spark)
    CorpusOps.bm25FromPostings(spark.table(idx.table),
      spark.table(idx.doclensTable).hint("merge"), terms, k)
  }

  // ---- segment-list lifecycle (Lucene's model; the text-family twin
  // of AnnIndexStore's IvfIndex segments) --------------------------

  /** A stored postings index as a SEGMENT LIST: each segment is one
    * ingest batch's (postings bucketed by term, doclens bucketed by
    * doc_id) pair. An ingest APPENDS a segment built from the batch
    * alone — O(batch), the base never read or rewritten, readers
    * holding the old handle keep their exact list — and a probe
    * serves from the segment union, each segment's term scan
    * bucket-pruned by the same literal-term filter (the predicate
    * pushes through the merge regroup and the union into every
    * segment's scan). At 100 TB this is the difference between an
    * ingest costing O(batch) and costing an index rewrite; the price
    * is one pruned scan per segment per probe, which
    * [[compactSegments]] — the LSM discipline's third verb — resets
    * on a trigger ([[DedupIndexStore.compactWhenOver]]). */
  final case class SegmentedPostings(segments: Seq[PostingsIndex])

  /** The base build: one segment from the initial corpus. */
  def writeSegmented(docs: DataFrame,
      buckets: Int = 8): SegmentedPostings =
    SegmentedPostings(Seq(writePostings(docs, buckets)))

  /** O(batch) maintenance: tokenize ONLY the accepted batch and land
    * it as a NEW segment pair. A segment's content depends on its
    * batch alone (not on the base it joins), so the build-once
    * registry key is the batch's own identity — the same batch
    * appended to two different bases reuses one physical segment. */
  def appendSegment(idx: SegmentedPostings, accepted: DataFrame,
      buckets: Int = 8): SegmentedPostings =
    SegmentedPostings(idx.segments :+ writePostings(accepted, buckets))

  /** The segment union in the stored postings shape: (term, doc_id)
    * groups that span segments (a re-ingested doc_id) merge by the
    * SAME regroup a from-scratch build applies — exploded rows
    * unioned then re-collected — so segment serve == rebuild exactly,
    * segment order irrelevant. Single segment skips
    * the regroup (already grouped at build).
    *
    * The explicit repartition before the regroup is LOAD-BEARING, and
    * its KEY CHOICE is the load-bearing part (r14 revision of the r12
    * fence, elision model corrected r15): Spark 4.1's
    * `spark.sql.unionOutputPartitioning` (default true) lets this
    * Union of term-bucketed children CLAIM hash(term) while the
    * COLUMNAR path materializes a plain partition concatenation
    * (PERF.md bytecode attribution). EnsureRequirements'
    * `optimizeOutRepartition` removes an explicit REPARTITION_BY_COL
    * fence only when the child's claimed partitioning SEMANTICALLY
    * EQUALS the fence's (same expressions AND count) — distribution
    * *satisfaction* elides consumer-inserted exchanges, never the
    * fence itself (FenceElisionProbeSpec pins all three cases
    * empirically: exact-key fence elided, superset- and disjoint-key
    * fences kept). So under buckets == shuffle.partitions the r14
    * crash hit the sibling dedup stores' SAME-KEY fences (hash(key)
    * over a hash(key) claim — semantically equal, elided, and a
    * SortMergeJoin zipped claimed-N against concatenated-kN
    * partitions); a (term, doc_id) fence over a hash(term) claim was
    * never elidable. Keying the fence on doc_id alone is kept
    * anyway: it is un-equalable by ANY term-bucketed claim by
    * construction, and the (term, doc_id) regroup reuses the doc_id
    * exchange (requirement satisfaction, which IS subset-friendly),
    * so the merge pays exactly one shuffle under any conf. The union
    * (not [[DedupIndexStore.segmentScan]]) is kept here deliberately:
    * catalog scans are what bucket-PRUNE per phrase slot, the
    * segment serve's core I/O property (spec-pinned). */
  private def postingsView(spark: SparkSession,
      idx: SegmentedPostings): DataFrame =
    if (idx.segments.size == 1) spark.table(idx.segments.head.table)
    else idx.segments.map(s => spark.table(s.table))
      .reduce(_ unionByName _)
      .select(col("term"), col("doc_id"),
        explode(col("positions")).as("pos"))
      .repartition(col("doc_id"))
      .groupBy("term", "doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("positions"))

  /** Doclens across segments: id-level sum (re-ingest adds lengths,
    * matching the postings merge). Unlike [[postingsView]] there is
    * no prunable access path to preserve (the merge regroups the
    * whole narrow relation, and its group key IS the bucket key, so
    * no repartition key escapes the claim) — this view reads the
    * segment tables through [[DedupIndexStore.segmentScan]] (one
    * multi-path scan, no Union node, no claim) and lets the regroup
    * insert its one owed exchange under any conf. */
  private def doclensView(spark: SparkSession,
      idx: SegmentedPostings): DataFrame =
    if (idx.segments.size == 1)
      spark.table(idx.segments.head.doclensTable)
    else DedupIndexStore
      .segmentScan(spark, idx.segments.map(_.doclensTable))
      .groupBy("doc_id").agg(sum("dl").as("dl"))

  /** [[phraseSearch]] over a segment list — output identical to the
    * corpus-scan operator over the union of the segments' batches.
    * Each phrase slot's literal-term filter pushes below the merge
    * regroup (it references only a grouping key) and through the
    * union, so every segment's scan stays bucket-pruned. */
  def phraseSearchSeg(spark: SparkSession, idx: SegmentedPostings,
      phrase: Seq[String]): DataFrame =
    CorpusOps.phraseFromPostings(postingsView(spark, idx), phrase)

  /** [[proximitySearch]] over a segment list. */
  def proximitySearchSeg(spark: SparkSession, idx: SegmentedPostings,
      anchor: String, near: String, window: Int): DataFrame =
    CorpusOps.proximityFromPostings(postingsView(spark, idx), anchor,
      near, window)

  /** [[bm25Search]] over a segment list: tf and df come off the merged
    * per-term rows (df in particular must count a cross-segment
    * doc_id ONCE — the regroup guarantees it), dl and the corpus
    * scalars off the summed doclens view. The single-segment merge
    * hint is skipped — the multi-segment doclens leg aggregates, so
    * the no-Exchange bucket-layout read does not apply. */
  def bm25SearchSeg(spark: SparkSession, idx: SegmentedPostings,
      terms: Seq[String], k: Int = 10): DataFrame =
    CorpusOps.bm25FromPostings(postingsView(spark, idx),
      doclensView(spark, idx), terms, k)

  /** Compact a segment list back to ONE (postings, doclens) pair —
    * the LSM third verb for the text family: one O(index) pass over
    * the STORED segments (the corpus is never re-tokenized), writing
    * new versioned tables; the input segments stay readable until
    * swept. The merge is exactly the serve-time regroup materialized,
    * so probing the compacted index == probing the segment list ==
    * a from-scratch rebuild. The phrase probe pays one bucket-pruned
    * scan per segment per slot, flat through 4 segments and 4.1x the
    * floor by 8 at the 10x decade (PERF.md §"Compaction trigger
    * policy") — hence [[DedupIndexStore.DefaultMaxSegments]] as this
    * family's count trigger. */
  def compactSegments(spark: SparkSession, idx: SegmentedPostings,
      buckets: Int = 8): PostingsIndex = {
    if (idx.segments.size == 1) return idx.segments.head
    val params = s"pt|$buckets"
    val pKey = Some(
      s"compact|${idx.segments.map(_.table).mkString(",")}")
    val dKey = Some(
      s"compact|${idx.segments.map(_.doclensTable).mkString(",")}")
    PostingsIndex(
      DedupIndexStore.table("postings_c", pKey, params, Seq("term"),
        buckets)(postingsView(spark, idx)),
      DedupIndexStore.table("doclens_c", dKey, params, Seq("doc_id"),
        buckets)(doclensView(spark, idx)))
  }
}
