package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Thread-local collector for the pinned RDD ids of eager
  * localCheckpoints a computation creates — so a caller that must
  * sweep its TRANSIENT checkpoints afterwards (the bounded-state
  * contract of
  * [[graft.streaming.EventStreams.ClusterMapState.fold]]) releases
  * exactly the blocks its own call pinned, never a diff of the
  * context's global persistent-RDD registry (which would unpersist
  * concurrent checkpoint-creating work's blocks out from under it).
  * Recording is a no-op outside a [[collect]] scope, so the wrapped
  * operators behave identically on every batch path. */
private[graft] object CheckpointScope {
  private val buf =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[Int]]

  /** Run `body`, returning its result plus the RDD ids of every
    * [[checkpointed]] call it made on this thread. */
  def collect[T](body: => T): (T, Seq[Int]) = {
    val b = scala.collection.mutable.ArrayBuffer.empty[Int]
    val prev = buf.get()
    buf.set(b)
    try { val r = body; (r, b.toSeq) } finally buf.set(prev)
  }

  /** Eager localCheckpoint that records its pinned RDD id in the
    * enclosing [[collect]] scope. */
  def checkpointed(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(true)
    val b = buf.get()
    if (b != null) out.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        b += lr.rdd.id
    }
    out
  }
}

/** Connected components over an undirected edge list — the operator
  * that turns near-dup candidate PAIRS (from [[Dedup]]) into duplicate
  * CLUSTERS, the unit survivor selection actually needs: cluster id =
  * the minimum doc_id reachable through any chain of near-dup pairs
  * (a ~ b ~ c groups {a,b,c} even when a ≁ c directly).
  *
  * Implementation: iterative min-label propagation, fully declarative —
  * each round is `labels ∪ (edges ⋈ labels) → groupBy(min)`, i.e. one
  * hash-join shuffle plus one aggregation shuffle, both map-side
  * partial-aggregated. Labels only ever decrease, so the fixpoint check
  * (`new < old` anywhere) is exact; `localCheckpoint` after each round
  * truncates the growing lineage, which would otherwise re-execute the
  * whole upstream dedup per iteration.
  *
  * Scale posture (100 TB): rounds = graph diameter. Near-dup graphs are
  * dense blobs of mutually-similar documents — diameter is small
  * (2–4), so 3–5 rounds on an edge list that is orders of magnitude
  * smaller than the corpus. For adversarial long-chain graphs the
  * O(log n)-round alternating large-star/small-star scheme (Kiveris et
  * al., "Connected Components in MapReduce and Beyond", SoCC'14) drops
  * in behind the same signature; pair graphs from LSH dedup do not
  * need it.
  */
object Clustering {

  /** Components of `nodes` (single `id` column) under `edges`
    * (`a`, `b` columns, undirected). Nodes absent from every edge are
    * singleton clusters of themselves; edge endpoints absent from
    * `nodes` are added to the label universe (otherwise the fixpoint
    * check could not see them and a partial propagation would pass as
    * converged). Returns (id, cluster) with cluster = min reachable
    * id, one row per node of `nodes` ∪ endpoints. */
  def connectedComponents(edges: DataFrame, nodes: DataFrame,
      maxIter: Int = 25): DataFrame = {
    val e = edges.toDF("a", "b")
    // Symmetrize once and pin: every iteration re-reads this relation,
    // not the (expensive) lineage that produced the pairs.
    val sym = CheckpointScope.checkpointed(
      e.union(e.select(col("b").as("a"), col("a").as("b"))).distinct())
    var labels = CheckpointScope.checkpointed(nodes.toDF("id")
      .union(sym.select(col("a").as("id"))).distinct()
      .withColumn("lbl", col("id")))
    var converged = false
    var round = 0
    while (!converged && round < maxIter) {
      val viaNeighbor = sym
        .join(labels.select(col("id").as("b"), col("lbl")), "b")
        .select(col("a").as("id"), col("lbl"))
      val next = CheckpointScope.checkpointed(
        labels.union(viaNeighbor)
          .groupBy("id").agg(min("lbl").as("lbl")))
      converged = next
        .join(labels.select(col("id"), col("lbl").as("prev")), "id")
        .filter(col("lbl") < col("prev"))
        .isEmpty
      labels = next
      round += 1
    }
    // a silent partial result would be WRONG labels, not slow ones
    require(converged, s"connectedComponents did not converge in " +
      s"$maxIter rounds — the graph's diameter exceeds the budget; " +
      s"use alternatingStar (O(log n) rounds) or raise maxIter")
    labels
  }

  /** Alternating large-star/small-star connected components (Kiveris
    * et al., SoCC'14) — the O(log n)-round path for graphs whose
    * diameter label propagation cannot afford (adversarial chains;
    * web-graph-shaped joins). Each round is two map+groupBy passes
    * over the edge list:
    *
    *   - large-star: per node u, attach every STRICTLY LARGER
    *     neighbor to m = min(Γ(u) ∪ {u}) — emit (v, m) for v ∈ Γ(u),
    *     v > u, over the symmetrized neighborhood;
    *   - small-star: orient edges large→small; per node u, attach u
    *     and its (all ≤ u) neighbors to m = min(Γ⁻(u) ∪ {u}).
    *
    * Both keep the component invariant (every emitted edge connects
    * nodes of the same component) and strictly shrink tree height;
    * the fixpoint is a star forest whose centers are component
    * minima. Same signature and result as [[connectedComponents]]
    * (spec-pinned equal); the label-propagation form stays the
    * default for near-dup graphs, whose tiny diameter converges in
    * fewer total shuffles. */
  def alternatingStar(edges: DataFrame, nodes: DataFrame,
      maxIter: Int = 25): DataFrame = {
    def minOverNeighborhood(e: DataFrame, includeSelf: Boolean): DataFrame = {
      val m = e.groupBy("a")
        .agg((if (includeSelf) least(min("b"), col("a"))
              else min("b")).as("m"))
      e.join(m, "a")
    }
    // large-star operates on the symmetrized view; emit (v>u, m)
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
      minOverNeighborhood(sym, includeSelf = true)
        .filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .distinct()
    }
    // small-star operates on large→small orientation; emit (v, m) for
    // every neighbor v and u itself
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(
        greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      val withMin = minOverNeighborhood(oriented, includeSelf = false)
      withMin.select(col("b").as("a"), col("m").as("b"))
        .union(withMin.select(col("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
        .distinct()
    }
    var e = CheckpointScope.checkpointed(
      edges.toDF("a", "b").filter(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("a"),
          least(col("a"), col("b")).as("b"))
        .distinct())
    var converged = false
    var round = 0
    while (!converged && round < maxIter) {
      val next = CheckpointScope.checkpointed(smallStar(largeStar(e)))
      converged = next.exceptAll(e).isEmpty && e.exceptAll(next).isEmpty
      e = next
      round += 1
    }
    // the round count is the algorithm's cost model: ClusteringSpec
    // pins a path graph to converge within ceil(log2 n) + 2 rounds
    require(converged,
      s"alternatingStar did not converge in $maxIter rounds")
    // fixpoint is a star forest: every node points at its component
    // min; nodes absent from any edge are their own component.
    // Same label universe as connectedComponents: nodes ∪ endpoints.
    val universe = nodes.toDF("id")
      .union(edges.toDF("a", "b").select(col("a").as("id")))
      .union(edges.toDF("a", "b").select(col("b").as("id")))
      .distinct()
    universe
      .join(e.select(col("a").as("id"), col("b").as("lbl")), Seq("id"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("lbl"))
  }

  /** Near-dup clustering of the documents table: n-gram-Jaccard pairs
    * at `threshold` → connected components → (doc_id, cluster); docs
    * with no near-dup are their own cluster. Downstream dedup keeps
    * `doc_id == cluster` (the minimum of each component). */
  def nearDupClusters(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.8): DataFrame =
    clustersFromPairs(
      Dedup.ngramJaccard(docs, n, threshold)
        .select(col("doc_a"), col("doc_b")),
      docs.select(col("doc_id")))

  /** [[nearDupClusters]] over an ALREADY-BUILT pair relation — the
    * deployment shape: the candidate-pair relation is the expensive
    * artifact (it closes over the whole dedup pipeline), so
    * materialize it once and fan the clustering variants off it. */
  def clustersFromPairs(pairs: DataFrame, nodes: DataFrame): DataFrame =
    connectedComponents(pairs.toDF("doc_a", "doc_b"), nodes)
      .select(col("id").as("doc_id"), col("lbl").as("cluster"))
      .orderBy("doc_id")

  /** [[clustersFromPairs]] via the O(log n)-round
    * [[alternatingStar]] scheme — the same (doc_id, cluster) answer
    * through the diameter-robust plan, so the adversarial-graph path
    * is exercised (and answer-checked) end-to-end, not only
    * spec-pinned equal on fixtures. */
  def clustersFromPairsStar(pairs: DataFrame, nodes: DataFrame): DataFrame =
    alternatingStar(pairs.toDF("doc_a", "doc_b"), nodes)
      .select(col("id").as("doc_id"), col("lbl").as("cluster"))
      .orderBy("doc_id")

  /** Incremental connected components — the clustering layer of the
    * incremental (delta) dedup family ([[Dedup.incrementalExact]] /
    * [[Dedup.incrementalNearDupPairs]] find the delta's edges; this
    * operator folds them into an ALREADY-MATERIALIZED base cluster
    * map without ever re-reading the base's edges).
    *
    * Inputs: `baseAssign(id, cluster)` where every cluster id is the
    * MINIMUM member id of its component (exactly what
    * [[connectedComponents]] emits — the precondition the min-label
    * algebra below needs); `deltaEdges(a, b)` connecting delta nodes
    * to each other and/or to base nodes; `deltaNodes(id)` the delta
    * batch's node universe (so isolated new nodes still get rows).
    * Returns the UPDATED full assignment (id, cluster) over
    * base ∪ delta nodes — provably equal to running
    * [[connectedComponents]] from scratch over
    * (base edges ∪ delta edges), because contracting each base
    * component to its representative preserves connectivity, and the
    * quotient component's min over {base reps ∪ delta ids} is the
    * global component min (each base rep IS its part's min).
    *
    * Scale shape (100 TB): the base's edge list and text never
    * participate. Per ingest: two delta-edge-scale probes of the
    * (id, cluster) index (bucket-written on id in production, so the
    * probes are shuffle-free map-side joins), one CC over the
    * QUOTIENT graph (delta-edge-scale — near-dup deltas touch few
    * clusters), and one narrow join of the base map against the
    * quotient labels keyed on cluster (the label map is bounded by
    * touched clusters + delta nodes, so AQE broadcasts it). Base rows
    * in untouched clusters pass through with their label unchanged. */
  def incrementalCC(baseAssign: DataFrame, deltaEdges: DataFrame,
      deltaNodes: DataFrame): DataFrame = {
    val assign = baseAssign.toDF("id", "cluster")
    val rep = assign.select(col("id"), col("cluster"))
    // contract delta edges to base representatives (non-base
    // endpoints represent themselves); drop now-internal edges
    // publish the fold's blast radius: how many contracted edges
    // survive (quotient size) and how many base clusters the delta
    // touches. A healthy ingest folds a small quotient; a quotient
    // approaching the base's cluster count means the delta is
    // re-clustering the world and the batch should be investigated —
    // telemetry instead of a surprise slow fold (the ngramJaccard
    // skew-guard convention; read via queryExecution.observedMetrics
    // or any QueryExecutionListener).
    val projected = deltaEdges.toDF("a", "b")
      .join(rep.toDF("a", "ra"), Seq("a"), "left")
      .join(rep.toDF("b", "rb"), Seq("b"), "left")
      .select(coalesce(col("ra"), col("a")).as("a"),
        coalesce(col("rb"), col("b")).as("b"),
        col("ra").isNotNull.as("a_base"),
        col("rb").isNotNull.as("b_base"))
      .filter(col("a") =!= col("b"))
      .observe(INCR_CC_METRIC,
        count(lit(1)).as("quotient_edges"),
        sum(when(col("a_base"), 1L).otherwise(0L))
          .as("base_endpoints_a"),
        sum(when(col("b_base"), 1L).otherwise(0L))
          .as("base_endpoints_b"))
      .select(col("a"), col("b"))
    // materialize once: the CC symmetrize consumes this relation on
    // both union legs — unmaterialized, the CollectMetrics node
    // would sit twice in one plan (an analysis error) and the edge
    // contraction would re-run per consumer anyway
    val projectedCk = CheckpointScope.checkpointed(projected)
    // delta nodes already present in the base keep their base row (a
    // re-delivered id is not a new node); edges it brought were
    // contracted to its representative above
    val fresh = deltaNodes.toDF("id")
      .join(assign.select("id"), Seq("id"), "left_anti")
    val quotient = CheckpointScope.checkpointed(
      connectedComponents(projectedCk, fresh))
    // base side: re-label through the touched-cluster map
    val updatedBase = assign
      .join(quotient.toDF("cluster", "newLbl"), Seq("cluster"), "left")
      .select(col("id"),
        coalesce(col("newLbl"), col("cluster")).as("cluster"))
    // delta side: every quotient node that is NOT a base
    // representative is a new node (fresh or an unseen endpoint)
    val baseReps = assign.select(col("cluster").as("id")).distinct()
    val deltaOut = quotient
      .join(baseReps, Seq("id"), "left_anti")
      .select(col("id"), col("lbl").as("cluster"))
    updatedBase.unionByName(deltaOut)
  }

  /** Name of the observed metric [[incrementalCC]] publishes per fold:
    * `quotient_edges` (contracted delta edges that survive — the
    * fold's real work), `base_endpoints_a`/`base_endpoints_b` (how
    * many delta-edge endpoints resolved to an existing base cluster —
    * the touched-base signal). */
  val INCR_CC_METRIC = "incremental_cc_fold"

  /** Leakage-free train/validation split — split assignment at the
    * NEAR-DUP CLUSTER level, not the document level. A per-document
    * hash split leaks: a near-duplicate pair lands train/val with
    * probability 2·p·(1−p), and eval on the val half then scores
    * memorization, not generalization. Here the split key is the
    * cluster representative (minimum reachable doc_id under the
    * near-dup pair graph), so every member of a duplicate family —
    * including transitive members that never matched each other
    * directly — lands on the same side by construction.
    *
    * The decision is the stratified-sampling convention: engine-
    * neutral 60-bit md5 of the cluster id mod 100 < `trainPct` →
    * "train", else "val" — deterministic, layout-independent, and
    * exactly reproducible by the SQL oracle. Note the EXPECTED train
    * share is trainPct of *clusters* (weighted by family size on
    * docs); that is the correct unit — split fractions that must hold
    * doc-exactly would have to break family atomicity.
    *
    * Scale: clustering cost (see [[nearDupClusters]]) plus one narrow
    * (doc_id, cluster)-width projection; the hash decision is a
    * zero-shuffle map. Returns (doc_id, cluster, split). */
  def leakFreeSplit(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.8, trainPct: Int = 90): DataFrame =
    leakFreeSplitFrom(nearDupClusters(docs, n, threshold), trainPct)

  /** [[leakFreeSplit]] over an ALREADY-BUILT cluster relation — the
    * deployment shape: clustering is the expensive shared upstream of
    * the split/survivor/weight family, so materialize it once (a
    * table, a checkpoint) and fan the cheap decisions off it. */
  def leakFreeSplitFrom(clusters: DataFrame, trainPct: Int = 90): DataFrame = {
    require(trainPct > 0 && trainPct < 100,
      s"trainPct=$trainPct must be in (0, 100)")
    clusters
      .withColumn("split",
        when(graft.functions.TextAnalysis.md5Hash60(
          col("cluster").cast("string")) % 100 < trainPct, "train")
          .otherwise("val"))
      .orderBy("doc_id")
  }

  /** The DEDUPLICATED corpus — the artifact the pipeline actually
    * ships: one survivor row (the cluster-minimum doc_id) per near-dup
    * cluster, full document payload attached only for survivors (the
    * cluster relation carries ids, so the wide text column rides
    * through exactly one join, not the clustering iterations). */
  def dedupCorpus(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.8): DataFrame =
    dedupCorpusFrom(nearDupClusters(docs, n, threshold), docs)

  /** [[dedupCorpus]] over an already-built cluster relation (see
    * [[leakFreeSplitFrom]]). */
  def dedupCorpusFrom(clusters: DataFrame, docs: DataFrame): DataFrame =
    clusters
      .filter(col("doc_id") === col("cluster"))
      .select("doc_id")
      .join(docs, "doc_id")
      .orderBy("doc_id")

  /** QUALITY-AWARE survivor selection — [[dedupCorpusFrom]] keeps the
    * cluster-minimum doc_id (deterministic but arbitrary); real
    * curation keeps the BEST member of each duplicate family: here
    * the most complete copy, argmax (token count DESC, doc_id ASC) —
    * truncated re-crawls and partial mirrors lose to the fullest
    * text, and the doc_id tie-break keeps the choice total. The key
    * is integer (regexp token count), so both engines pick the
    * identical survivor; swap any integer quality score (gate pass
    * counts, a model score in fixed-point) into the same argmax
    * without touching the shape.
    *
    * Scale: one token-count projection (no explode — regexp_count),
    * one window PARTITIONED BY CLUSTER over the narrow (doc_id,
    * cluster, n_tok) relation (family-bounded partitions, never one
    * partition), and the text payload joins once for survivors only. */
  def dedupCorpusBestFrom(clusters: DataFrame,
      docs: DataFrame): DataFrame = {
    val sized = docs.select(col("doc_id"),
      graft.functions.TextAnalysis.tokenCountWs(col("text"))
        .cast("long").as("n_tok"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster")
      .orderBy(col("n_tok").desc, col("doc_id").asc)
    clusters
      .join(sized, "doc_id")
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1)
      .select("doc_id", "cluster", "n_tok")
      .orderBy("doc_id")
  }

  /** Duplication-aware training weights — the soft alternative to
    * dropping near-duplicates: EVERY document survives, but carries
    * sampling weight 1/|its near-dup family| so each duplicate family
    * contributes one document's worth of probability mass to the
    * training mix (the "keep one copy's worth" economics of
    * SlimPajama-style curation, without discarding the textual
    * variation the family members carry). Weights are integer basis
    * points (10000 DIV family size — the cross-engine-exact
    * convention), ready to feed a weighted sampler such as
    * [[CorpusOps.weightedSample]].
    *
    * Scale: clustering cost (see [[nearDupClusters]]) plus one
    * |clusters|-row count aggregation joined back onto the narrow
    * (doc_id, cluster) relation — text is never touched. */
  def dedupWeights(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.8): DataFrame =
    dedupWeightsFrom(nearDupClusters(docs, n, threshold).localCheckpoint())

  /** [[dedupWeights]] over an already-built cluster relation (see
    * [[leakFreeSplitFrom]]). Callers pass a MATERIALIZED relation
    * (checkpoint/table) — it feeds both the size count and the join. */
  def dedupWeightsFrom(clusters: DataFrame): DataFrame = {
    val sizes = clusters.groupBy("cluster")
      .agg(count(lit(1)).as("family_size"))
    clusters.join(sizes, "cluster")
      .select(col("doc_id"), col("cluster"), col("family_size"),
        expr("10000 DIV family_size").as("weight_bp"))
      .orderBy("doc_id")
  }

  /** Duplication dashboard: the near-dup family-size distribution —
    * (family_size, n_families, n_docs) — the one-glance answer to
    * "how duplicated is this corpus, and is it many small families or
    * a few pathological ones" that decides between hard dedup, soft
    * weights, and skew guards BEFORE any of them run. Two |clusters|-
    * and |families|-row aggregations over the narrow (doc_id,
    * cluster) relation; n_docs = size * families is derived, not a
    * third pass. */
  def clusterSizeHistogram(clusters: DataFrame): DataFrame =
    clusters.groupBy("cluster").agg(count(lit(1)).as("family_size"))
      .groupBy("family_size").agg(count(lit(1)).as("n_families"))
      .select(col("family_size"), col("n_families"),
        (col("family_size") * col("n_families")).as("n_docs"))
      .orderBy("family_size")
}
