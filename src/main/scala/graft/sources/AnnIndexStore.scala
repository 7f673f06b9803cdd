package graft.sources

import graft.functions.Vectors
import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted ANN index — [[DedupIndexStore]]'s role for the
  * similarity family. An IVF deployment trains centroids once,
  * assigns every corpus vector to its cell once, and serves query
  * batches forever after from that stored assignment; what makes the
  * storage layout load-bearing is that a probe touches only `nProbe`
  * cells, so the assignment is persisted PARTITIONED BY CELL and a
  * probe's scan partition-prunes every other cell's files — at
  * corpus scale the difference between reading nProbe/nCells of the
  * index and reading all of it (the bucket-layout argument, applied
  * to hive partitioning because the probe side filters by literal
  * cell ids rather than joining on a key both sides shuffle to).
  *
  * Build-once registry + exit sweep: [[DedupIndexStore]]'s own
  * (file-backed corpora keyed by inputFiles + plan + model digest;
  * in-memory fixtures build uncached). */
object AnnIndexStore {

  /** `centroids` ride in the handle — they are the trained model
    * (driver-scale: nCells x dim doubles); a deployment persists them
    * next to the assignment. `paths` is the index's SEGMENT list
    * (Lucene's model): the base build is one segment, and each
    * [[refreshIvfIndex]] appends another — a probe reads the union,
    * partition-pruned per segment, so an ingest never rewrites the
    * index. */
  final case class IvfIndex(paths: Seq[String],
      centroids: Array[Array[Double]])

  private def vectors(embs: DataFrame): DataFrame =
    embs.select(col("vec_id"), Vectors.toDoubleVec(col("embedding")).as("v"))

  private def centroidText(centroids: Array[Array[Double]]): String =
    centroids.map(_.mkString(",")).mkString(";")

  private def codebookText(codebooks: Array[Array[Array[Double]]]): String =
    codebooks.map(_.map(_.mkString(",")).mkString("|")).mkString(";")

  private def centroidDigest(centroids: Array[Array[Double]]): String =
    DedupIndexStore.md5(centroidText(centroids))

  /** Registry parameters of the raw-vector rerank tables. */
  private val vecsParams = s"vecs|${DedupIndexStore.IndexBuckets}"

  /** The probe's query rows (query_id, qv) and ONE scan per segment of
    * `paths`, each carrying the probed cells as a literal partition
    * filter, unioned. The cell ids are collected up front (bounded:
    * ≤ |queries| x nProbe ints — queries are broadcast-small by
    * contract), so every segment's scan reads ONLY those cells' files
    * (spec-pinned). One scan per segment for the reason Lucene probes
    * per segment: a single multi-root read would need the segments to
    * share a discovery base path, which independent append-only
    * directories deliberately do not. */
  private def probedCells(spark: SparkSession, paths: Seq[String],
      centroids: Array[Array[Double]], queries: DataFrame,
      nProbe: Int): (DataFrame, DataFrame) = {
    val qs = queries.select(col("vec_id").as("query_id"),
      Vectors.toDoubleVec(col("embedding")).as("qv"))
    val cells = Similarity.ivfProbes(qs, centroids, nProbe)
      .select("cell").distinct().collect().map(_.getInt(0)).sorted
    (qs, paths.map(p => spark.read.parquet(p)
        .filter(col("cell").isin(cells.map(Int.box): _*)))
      .reduce(_ unionByName _))
  }

  /** Persist the corpus's IVF cell assignment
    * ([[Similarity.ivfAssign]]) partitioned by cell. */
  def writeIvfIndex(embs: DataFrame,
      centroids: Array[Array[Double]]): IvfIndex =
    IvfIndex(Seq(DedupIndexStore.cellPartitioned("ivf",
      DedupIndexStore.identityKey(embs), centroidDigest(centroids))(
      Similarity.ivfAssign(vectors(embs), centroids))), centroids)

  /** Fold newly accepted vectors into a stored IVF index — the
    * maintenance half of the ANN lifecycle, at O(batch) cost: the
    * centroids are FROZEN (they are the trained model; re-training is
    * the compaction-analog a deployment schedules separately), so the
    * accepted batch assigns map-side against the broadcast centroids
    * and lands as a NEW cell-partitioned SEGMENT directory. Nothing
    * existing is rewritten or touched — readers holding the old
    * handle keep their exact segment list — and a probe of the grown
    * index reads the segment union with the same literal cell filter
    * pruning every segment. Probing the refreshed index equals the
    * inline operator over (base ∪ accepted) — spec-pinned. */
  def refreshIvfIndex(idx: IvfIndex, accepted: DataFrame): IvfIndex =
    IvfIndex(idx.paths :+ DedupIndexStore.cellPartitioned("ivf_r",
      DedupIndexStore.identityKey(accepted)
        .map(k => s"refresh|${idx.paths.mkString(",")}|$k"),
      centroidDigest(idx.centroids))(
      Similarity.ivfAssign(vectors(accepted), idx.centroids)),
      idx.centroids)

  /** A persisted IVF-PQ index — the production FAISS composition
    * stored: (vec_id, cell, codes, vnorm) segments partitioned by
    * cell (so a probe reads nProbe/nCells of the files) with
    * residual-encoded m-byte codes (so what it reads is ~32x smaller
    * than raw vectors), plus the raw rerank vectors bucketed by
    * vec_id. Centroids + codebooks are the trained model in the
    * handle; BOTH relations are segment lists ([[IvfIndex]]'s append
    * model) — a refresh appends one code segment AND one vecs table
    * holding only the batch, so the per-ingest cost is genuinely
    * O(batch), never a rewrite of the base rerank vectors. */
  final case class IvfPqIndex(paths: Seq[String],
      vecsTables: Seq[String],
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]])

  private def ivfPqDigest(centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]]): String =
    DedupIndexStore.md5(centroidText(centroids) + "#" +
      codebookText(codebooks))

  /** Persist the corpus's IVF-PQ index: residual-encoded code segments
    * partitioned by cell + the raw vectors bucketed by vec_id. */
  def writeIvfPqIndex(embs: DataFrame,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]]): IvfPqIndex = {
    val e = vectors(embs)
    val key = DedupIndexStore.identityKey(embs)
    IvfPqIndex(
      Seq(DedupIndexStore.cellPartitioned("ivfpq", key,
        ivfPqDigest(centroids, codebooks))(
        Similarity.ivfPqIndexRows(e, centroids, codebooks))),
      // the raw vectors are MODEL-INDEPENDENT, so the digest stays
      // out of this key: retraining centroids/codebooks over the same
      // corpus reuses the (largest) rerank relation as-is
      Seq(DedupIndexStore.table("ivfpq_vecs", key, vecsParams,
        Seq("vec_id"))(e)),
      centroids, codebooks)
  }

  /** Fold newly accepted vectors into a stored IVF-PQ index — the
    * [[refreshIvfIndex]] segment-append model on BOTH relations: the
    * batch assigns and residual-encodes against the frozen model and
    * lands as a new cell-partitioned code segment, and the batch's
    * raw vectors land as a new bucketed vecs table holding ONLY the
    * batch. O(batch) per ingest; nothing existing is read or
    * rewritten. */
  def refreshIvfPqIndex(spark: SparkSession, idx: IvfPqIndex,
      accepted: DataFrame): IvfPqIndex = {
    val e = vectors(accepted)
    val key = DedupIndexStore.identityKey(accepted)
    IvfPqIndex(
      idx.paths :+ DedupIndexStore.cellPartitioned("ivfpq_r",
        key.map(k => s"refresh|${idx.paths.mkString(",")}|$k"),
        ivfPqDigest(idx.centroids, idx.codebooks))(
        Similarity.ivfPqIndexRows(e, idx.centroids, idx.codebooks)),
      idx.vecsTables :+ DedupIndexStore.table("ivfpq_vecs_r",
        key.map(k => s"refresh|${idx.vecsTables.mkString(",")}|$k"),
        vecsParams, Seq("vec_id"))(e),
      idx.centroids, idx.codebooks)
  }

  /** Compact a segmented index back to ONE cell-partitioned segment —
    * the LSM discipline's third verb (build → append per ingest →
    * compact on a trigger): probe cost grows with the segment count
    * (one pruned scan per segment), so a deployment periodically
    * rewrites the union. One O(index) pass over the stored segments;
    * the corpus is never re-read, the model never re-applied
    * (segments already carry cell + codes), and the input segments
    * stay readable until swept — probing the compacted index is
    * EXACTLY probing the segment list (disjoint row sets, union order
    * irrelevant). The segments are plain path scans with no bucketing
    * claim, so their Union is safe to write from. Shared by
    * [[IvfIndex]] and [[IvfPqIndex]] via the segment list. */
  private def compactSegments(spark: SparkSession, paths: Seq[String],
      family: String): Seq[String] =
    if (paths.size == 1) paths
    else Seq(DedupIndexStore.cellPartitioned(s"${family}_c",
      Some(s"compact|${paths.mkString(",")}"), family)(
      paths.map(p => spark.read.parquet(p)).reduce(_ unionByName _)))

  /** [[compactSegments]] for a stored IVF index. */
  def compactIvfIndex(spark: SparkSession, idx: IvfIndex): IvfIndex =
    IvfIndex(compactSegments(spark, idx.paths, "ivf"), idx.centroids)

  /** Segment ceiling for the ANN family, the `maxSegments` the
    * maintenance drain passes to [[DedupIndexStore.compactWhenOver]] —
    * higher than the text/fingerprint families' knee of 4 because the
    * IVF-PQ probe amortizes per-segment pruned scans against its
    * fixed rerank-join floor: the measured curve (PERF.md §"Compaction
    * trigger policy", IVF-PQ probes over 1, 2, 4, 8 and 16 segments at
    * two decades) is FLAT through 8 segments and +55% at 16. */
  val DefaultMaxSegments = 8

  /** [[compactSegments]] for a stored IVF-PQ index — the code
    * segments merge to one cell-partitioned directory and the vecs
    * tables to one bucketed table (the same O(index) pass; the
    * corpus is never re-read). The vecs merge reads through
    * [[DedupIndexStore.segmentScan]] like every other compaction: a
    * Union of the co-bucketed vecs tables claims their bucketing, the
    * writer's same-key repartition is elided against that claim, and
    * each bucket comes out as one file per input table. */
  def compactIvfPqIndex(spark: SparkSession,
      idx: IvfPqIndex): IvfPqIndex =
    IvfPqIndex(compactSegments(spark, idx.paths, "ivfpq"),
      if (idx.vecsTables.size == 1) idx.vecsTables
      else Seq(DedupIndexStore.table("ivfpq_vecs_c",
        Some(s"compact|${idx.vecsTables.mkString(",")}"),
        vecsParams, Seq("vec_id"))(
        DedupIndexStore.segmentScan(spark, idx.vecsTables))),
      idx.centroids, idx.codebooks)

  /** Probe a stored IVF-PQ index — output identical to
    * [[Similarity.ivfPqTopK]] with the same injected model: the
    * probed cell ids become a literal partition filter per segment
    * (the scan reads only those cells' CODE files), and only
    * refine·k candidates per query join back to the stored raw
    * vectors. */
  def probeIvfPq(spark: SparkSession, idx: IvfPqIndex,
      queries: DataFrame, k: Int, nProbe: Int,
      refine: Int): DataFrame = {
    DedupIndexStore.enableBucketedSortOrder(spark)
    val (qs, codes) =
      probedCells(spark, idx.paths, idx.centroids, queries, nProbe)
    // multi-segment vecs union is safe WITHOUT a repartition fence
    // here: ivfPqProbeFrom broadcasts the bounded candidate side of
    // the rerank join, and a broadcast join never consults the
    // union's claimed partitioning (the columnar-concat hazard — see
    // PERF.md — only corrupts plans that TRUST the claim for a
    // shuffle join or aggregation). Shuffling the whole raw-vector
    // relation per probe to restore the claim would cost exactly
    // what storage exists to avoid.
    Similarity.ivfPqProbeFrom(codes,
      idx.vecsTables.map(spark.table).reduce(_ unionByName _),
      qs, idx.centroids, idx.codebooks, k, nProbe, refine)
  }

  /** A persisted PQ index: the m-byte code relation — the ~32x-smaller
    * artifact PQ exists to store — plus the raw vectors for the exact
    * rerank, both bucketed by vec_id (the rerank's join key). The
    * codebooks ride in the handle (the trained model, as
    * [[IvfIndex]]'s centroids). */
  final case class PqIndex(codesTable: String, vecsTable: String,
      codebooks: Array[Array[Array[Double]]])

  /** Persist the corpus's PQ code relation ([[Similarity.pqEncode]]
    * under the given trained codebooks) plus the raw vectors. */
  def writePqIndex(embs: DataFrame,
      codebooks: Array[Array[Array[Double]]]): PqIndex = {
    val e = vectors(embs)
    val key = DedupIndexStore.identityKey(embs)
    val params = s"pq|${DedupIndexStore.IndexBuckets}|cb:" +
      DedupIndexStore.md5(codebookText(codebooks))
    PqIndex(
      DedupIndexStore.table("pq_codes", key, params, Seq("vec_id"))(
        Similarity.pqEncode(e, codebooks)),
      DedupIndexStore.table("pq_vecs", key, params, Seq("vec_id"))(e),
      codebooks)
  }

  /** Probe a stored PQ index — output identical to
    * [[Similarity.pqTopK]] with the same injected codebooks: the ADC
    * compressed-domain scan reads the persisted codes, and only the
    * refine·k candidates per query join back to the stored raw
    * vectors. */
  def probePq(spark: SparkSession, idx: PqIndex, queries: DataFrame,
      k: Int, refine: Int): DataFrame = {
    DedupIndexStore.enableBucketedSortOrder(spark)
    Similarity.pqProbeFrom(spark.table(idx.codesTable),
      spark.table(idx.vecsTable),
      queries.select(col("vec_id").as("query_id"),
        Vectors.toDoubleVec(col("embedding")).as("qv")),
      idx.codebooks, k, refine)
  }

  /** Probe a stored IVF index — output identical to
    * [[Similarity.ivfTopK]] with the same injected centroids.
    * `queries` are raw embedding rows (vec_id, embedding, ...); the
    * index is read through [[probedCells]]. */
  def probeIvf(spark: SparkSession, idx: IvfIndex, queries: DataFrame,
      k: Int, nProbe: Int): DataFrame = {
    val (qs, cells) =
      probedCells(spark, idx.paths, idx.centroids, queries, nProbe)
    Similarity.ivfProbeFrom(cells, idx.centroids, qs, k, nProbe)
  }
}
