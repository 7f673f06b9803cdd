package graft.operators

import graft.functions.ColumnOps.pairsOf
import graft.functions.TextAnalysis._
import graft.functions.Vectors
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline (north star;
  * beyond the reference's surface).
  *
  * Scale posture (100 TB):
  *   - exact dedup: one hash shuffle on the 16-byte fingerprint; partial
  *     aggregation kicks in map-side, so duplicate-heavy corpora shrink
  *     before the exchange.
  *   - n-gram Jaccard / MinHash / SimHash candidate generation all use
  *     the group-by-key -> emit-pairs-per-group shape instead of an
  *     index self-join: one shuffle of the (small) keyed rows, and the
  *     expensive upstream (tokenize, hash) is computed exactly once —
  *     a self-join would recompute the whole lineage per branch.
  *   - `maxDocFreq` caps posting-list length (drops shingles shared by
  *     more than that many docs) — the standard skew guard: a
  *     stop-shingle appearing in 1M docs would otherwise explode into
  *     10^12 pairs.
  *   - MinHash signatures: shingles explode to rows, 64 codegen'd
  *     xxhash64 columns, `groupBy(doc_id).agg(min...)` — whole-stage
  *     codegen + map-side combine; no interpreted higher-order
  *     functions in the hot path.
  */
object Dedup {
  /** Id shift of every planted row in the harness fixtures
    * ([[plantNearDups]], [[plantCrossSourceDups]], [[splitIncremental]],
    * `MultiModal.imageDupQuery`): planted ids are real ids + this
    * (or + 2x it). The oracle SQL in `SparkEntry` hardcodes the same
    * +1000000 / +2000000, so it is one constant, not a parameter. */
  val PLANTED_ID_OFFSET = 1000000L

  /** Exact dedup by content fingerprint: one row per distinct text,
    * keeping the smallest doc_id (deterministic survivor). */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(fingerprintMd5(col("text")).as("fp_md5"))
      .agg(min("doc_id").as("keep_doc_id"), count("*").as("n_copies"))
      .orderBy("fp_md5")

  /** The corpus after exact dedup: full rows, one survivor per distinct
    * text (smallest doc_id wins — deterministic). The window runs over
    * the 16-byte fingerprint, so the shuffle carries (fp, doc_id) order
    * keys, not a second pass over text. */
  def dropDuplicatesKeepFirst(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(fingerprintMd5(col("text")))
      .orderBy(col("doc_id").asc)
    docs
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
      .orderBy("doc_id")
  }

  /** (doc_id, sh: array<string>) distinct word n-gram shingle sets. */
  def shingleSets(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"),
        array_distinct(shingles(col("text"), n)).as("sh"))
      .filter(size(col("sh")) > 0)

  /** (doc_id, shingle) inverted-index rows: distinct word n-grams. */
  def shingleIndex(docs: DataFrame, n: Int): DataFrame =
    shingleSets(docs, n)
      .select(col("doc_id"), explode(col("sh")).as("shingle"))

  /** Exact n-gram Jaccard near-dup pairs >= threshold, via an
    * inverted index: group by shingle, emit co-occurring doc pairs,
    * count common shingles per pair. `maxDocFreq` (0 = off) drops
    * shingles whose document frequency exceeds it, bounding pair
    * fan-out at scale — ON BY DEFAULT (1000): an uncapped run is the
    * one configuration that cannot survive a stop-shingle in a 1M-doc
    * corpus (10^12 pairs from a single posting list), so the safe
    * posture must be the default, not an opt-in. Set sizes (`n_sh`)
    * are always the FULL shingle-set sizes — the cap only prunes
    * posting lists, so a dropped shingle lowers `common` (and
    * jaccard), never inflates it. Pass 0 to disable when an exact
    * uncapped answer is required and the corpus is known benign.
    *
    * The cap is OBSERVABLE when it binds: every run publishes an
    * `ngram_jaccard_skew_guard` observed metric (dropped vs distinct
    * shingle counts plus the worst posting-list depth — see
    * [[SKEW_GUARD_METRIC]]), readable after an action from
    * `df.queryExecution.observedMetrics` or any QueryExecutionListener
    * — so a silently-lossy run is visible in ordinary job telemetry.
    * One caveat (spec-pinned): when the FINAL result is empty, AQE's
    * empty-relation propagation replaces the whole plan — metrics node
    * included — with an empty relation, and the metric is absent; use
    * [[stopShingles]] there, which also gives the row-by-row audit of
    * exactly which (shingle, df) rows a cap drops. */
  def ngramJaccard(docs: DataFrame, n: Int, threshold: Double,
      maxDocFreq: Long = 1000L): DataFrame = {
    val sets = shingleSets(docs, n)
    // Each doc's set size rides along with every exploded row (one int
    // per row) so the pair aggregation needs NO size joins afterwards —
    // the old sizes-join shape recomputed the tokenize/shingle lineage
    // twice more and added two shuffles.
    val exploded = sets.select(col("doc_id"), size(col("sh")).as("n_sh"),
      explode(col("sh")).as("shingle"))
    // Skew guard BEFORE the collect_list: document frequency is a
    // partial-aggregated count (tiny shuffle rows), and the semi-join
    // drops stop-shingles before any posting list is materialized — a
    // post-hoc filter would still buffer the 1M-doc list first. This
    // deliberately costs a second pass over the shingle lineage: the
    // single-pass alternative (collect_list + count in one groupBy,
    // filter after) re-introduces exactly the stop-shingle buffer this
    // guard exists to prevent. (r15 audit: a shared repartition
    // reuse-point was tried and REVERTED — column pruning reads the
    // df leg as text-only, so the exchange subtrees can never unify,
    // and forcing the shared exchange costs the df leg its map-side
    // partial aggregation: the full exploded relation crosses the
    // wire where distinct-per-partition counts did. Measured slower.)
    val bounded =
      if (maxDocFreq <= 0) exploded
      else {
        // publish how hard the cap bit THIS run: the CollectMetrics node
        // sits on the df-count pass that runs anyway, so observability
        // costs no extra job — a caller expecting exactness sees
        // dropped_shingles > 0 in its telemetry instead of silence
        val keep = exploded.groupBy("shingle").agg(count("*").as("df"))
          .observe(SKEW_GUARD_METRIC,
            sum(when(col("df") > maxDocFreq, 1L).otherwise(0L))
              .as("dropped_shingles"),
            count(lit(1)).as("distinct_shingles"),
            max(col("df")).as("max_df"))
          .filter(col("df") <= maxDocFreq).select("shingle")
        exploded.join(keep, Seq("shingle"), "left_semi")
      }
    bounded
      .groupBy("shingle")
      .agg(collect_list(struct(col("doc_id"), col("n_sh"))).as("ds"))
      .filter(size(col("ds")) > 1)
      // task count must follow FAN-OUT, not input bytes: the grouped
      // posting rows are KBs of id-lists, so AQE coalesces them onto
      // ~one task and that task would emit every pairsOf explosion
      // alone (the minhashProbe / embeddingLshCandidates convention)
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(explode(pairsOf(array_sort(col("ds")))).as("p"))
      .groupBy(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
        col("p.a.n_sh").as("na"), col("p.b.n_sh").as("nb"))
      .agg(count("*").as("common"))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Name of the observed metric [[ngramJaccard]] publishes when its
    * skew guard is active: `dropped_shingles` (posting lists pruned),
    * `distinct_shingles` (total), `max_df` (largest posting list seen —
    * how far past the cap the worst shingle went). */
  val SKEW_GUARD_METRIC = "ngram_jaccard_skew_guard"

  /** Audit relation for [[ngramJaccard]]'s skew guard: exactly the
    * (shingle, df) rows a run at `maxDocFreq` drops. Tiny at any scale
    * — stop-shingles are by definition few distinct values — so
    * materializing it next to a capped run is the cheap way to answer
    * "what did the cap cost?" row by row. */
  def stopShingles(docs: DataFrame, n: Int, maxDocFreq: Long): DataFrame = {
    require(maxDocFreq > 0, "stopShingles audits a positive cap")
    shingleIndex(docs, n)
      .groupBy("shingle").agg(count("*").as("df"))
      .filter(col("df") > maxDocFreq)
      .orderBy("shingle")
  }

  /** Exact n-gram Jaccard pairs >= threshold via PREFIX FILTERING
    * (AllPairs, Bayardo et al. WWW'07; the PPJoin family) — the
    * LOSSLESS scale path where [[ngramJaccard]]'s df cap is lossy and
    * [[minhashLsh]] is probabilistic. Returns the IDENTICAL answer to
    * an uncapped [[ngramJaccard]] (same oracle — the plan-not-answer
    * gate), but candidate generation only ever explodes each doc's
    * PREFIX: its (len − ceil(t·len) + 1) globally-rarest shingles.
    *
    * Completeness (why no qualifying pair is missed): fix any global
    * total order on shingles and write each set in that order. If two
    * sets share NO token in their prefixes, then every common token
    * lies in both suffixes, so |A∩B| ≤ min(|A|−p(A), |B|−p(B)) =
    * min(ceil(t|A|), ceil(t|B|)) − 1 < t·max(|A|,|B|) ≤ t·|A∪B| — i.e.
    * J(A,B) < t. Contrapositive: J ≥ t ⇒ some prefix token is shared.
    * The order used is (document frequency ASC, shingle ASC) — rarest
    * first, the AllPairs heuristic that makes prefixes collide as
    * little as possible — computed per doc with one window over the
    * df-joined index rows (no global rank relation: the lexicographic
    * (df, shingle) key IS a total order, so ranks are never needed).
    *
    * Integer prefix arithmetic: ceil(t·len) is computed as
    * (tN·len + 9999) DIV 10000 with tN = floor(t·10000). tN ≤ t·10000
    * makes the computed ceiling a LOWER bound on ceil(t·len), so the
    * prefix can only be longer than required — float rounding can cost
    * a few extra candidates, never completeness (0.8·5 in IEEE double
    * is 4.0000000000000002, whose ceil would over-shorten the prefix).
    *
    * Scale shape: df is a partial-aggregated count joined back onto
    * the index (both sides (doc, shingle)-width); the per-doc sort is
    * a doc_id-partitioned window; candidates = the prefix rows' self
    * pair-emission per shingle (bounded by prefix length and shingle
    * rarity, NOT full posting lists); verification joins candidates
    * back to the full index on (doc, shingle) — |candidates|·|doc|
    * rows, the honest AllPairs verify cost. No cap, no loss: the
    * answer is exact at every scale, with skew bounded by the rarity
    * order (a boilerplate shingle has huge df, so it lands in nobody's
    * prefix). */
  def ngramJaccardPrefix(docs: DataFrame, n: Int,
      threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"prefix filtering needs 0 < t <= 1, got $threshold")
    val tN = math.floor(threshold * 10000).toLong
    // the index relation has four consumers (df counts, the prefix
    // selection, both verification sides) but is deliberately NOT
    // checkpointed: re-deriving it is one codegen'd scan+explode per
    // consumer, and measured at sf0.1 AND the 10x rehearsal the
    // checkpoint's materialization cost exceeded all the recomputes
    // it saved (the minhash 3-pass non-fix trade, re-confirmed here)
    val idx = shingleSets(docs, n)
      .select(col("doc_id"), size(col("sh")).as("n_sh"),
        explode(col("sh")).as("shingle"))
    val df = idx.groupBy("shingle").agg(count("*").as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("df").asc, col("shingle").asc)
    // also NOT checkpointed: the self-join's two sides are identical
    // subtrees, so ReuseExchange serves both from ONE shuffle — a
    // checkpoint here measured strictly slower at sf0.1 and 10x
    val prefix = idx.join(df, "shingle")
      .withColumn("__pos", row_number().over(w))
      // p = len − ceil(t·len) + 1, via the under-approximated tN.
      // The ceiling multiplies in LONG: n_sh arrives as an int, and an
      // int-literal tN times int n_sh would wrap past ~2^31/tN distinct
      // shingles (~214k at t=0.8) — the wrap only ever LOWERS the
      // ceiling (completeness survives) but degenerates the prefix
      // toward the whole document, forfeiting the candidate cut at
      // exactly the large-doc scale this operator exists for.
      .filter(col("__pos") <=
        col("n_sh") - expr(
          s"(${tN}L * CAST(n_sh AS BIGINT) + 9999) DIV 10000") + lit(1L))
      .select(col("doc_id"), col("n_sh").cast("long").as("n_sh"),
        col("shingle"), col("__pos").cast("long").as("__pos"))
    // Two further LOSSLESS cuts before verification (both relaxed
    // through the same under-approximated tN, so they only ever keep
    // extra candidates, never drop a true pair):
    //  - size filter: J >= t forces min(na, nb) >= t * max(na, nb)
    //  - positional filter (PPJoin, Xiao et al. WWW'08): at a match
    //    on the pair's FIRST common token (positions pa, pb in the
    //    shared rarity order) the overlap is at most
    //    1 + min(na - pa, nb - pb), which must reach the equivalent
    //    overlap threshold t/(1+t) * (na + nb). Applied per matched
    //    row and pair-kept if ANY row passes: the first-common-token
    //    row passes for every true pair (no common token precedes
    //    it), so completeness is preserved; spurious pairs whose
    //    every match fails the bound never reach the verify join.
    //    Integer form: bound * (10000 + tN) >= tN * (na + nb) — an
    //    integer bound reaches the ceiling iff it reaches the
    //    rational, so no ceil arithmetic is needed at all.
    val cand = prefix.toDF("doc_a", "na", "shingle", "pa")
      .join(prefix.toDF("doc_b", "nb", "shingle", "pb"), "shingle")
      .filter(col("doc_a") < col("doc_b"))
      .filter(least(col("na"), col("nb")) * 10000L >=
        greatest(col("na"), col("nb")) * tN)
      .filter((least(col("na") - col("pa"), col("nb") - col("pb")) +
        lit(1L)) * (10000L + tN) >= (col("na") + col("nb")) * tN)
      .select("doc_a", "doc_b", "na", "nb").distinct()
    val full = idx.select("doc_id", "shingle")
    cand
      .join(full.toDF("doc_a", "shingle"), "doc_a")
      .join(full.toDF("doc_b", "shingle"), Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b", "na", "nb")
      .agg(count("*").as("common"))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("jaccard"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** CONTAINMENT near-dup pairs — the asymmetric similarity
    * c(sub → sup) = |sub ∩ sup| / |sub| ≥ threshold: a small document
    * quoted, excerpted, or embedded inside a larger one, which
    * symmetric Jaccard structurally misses (|A∩B|/|A∪B| → 0 as the
    * host grows, however completely A is contained). The curation
    * case is boilerplate prospectuses, quoted articles, and doc-in-
    * doc re-publication.
    *
    * Same inverted-index physics and df skew guard as
    * [[ngramJaccard]] (the cap only prunes posting lists; a dropped
    * shingle lowers `common`, never inflates containment). Each
    * unordered candidate pair emits up to TWO directed rows — either
    * side may be the contained one. Cross-engine exactness: the
    * integer cross-multiplication common·10000 >= tN·n_sub decides
    * the threshold (no float compare at the boundary); the reported
    * ratio is rounded 4 dp for display only. */
  def ngramContainment(docs: DataFrame, n: Int, threshold: Double,
      maxDocFreq: Long = 1000L): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0)
    val tN = math.floor(threshold * 10000).toLong
    val sets = shingleSets(docs, n)
    val exploded = sets.select(col("doc_id"), size(col("sh")).as("n_sh"),
      explode(col("sh")).as("shingle"))
    val bounded =
      if (maxDocFreq <= 0) exploded
      else {
        val keep = exploded.groupBy("shingle").agg(count("*").as("df"))
          .filter(col("df") <= maxDocFreq).select("shingle")
        exploded.join(keep, Seq("shingle"), "left_semi")
      }
    val pairs = bounded
      .groupBy("shingle")
      .agg(collect_list(struct(col("doc_id"), col("n_sh"))).as("ds"))
      .filter(size(col("ds")) > 1)
      // fan-out repartition before the explosion — see ngramJaccard
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(explode(pairsOf(array_sort(col("ds")))).as("p"))
      .groupBy(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
        col("p.a.n_sh").as("na"), col("p.b.n_sh").as("nb"))
      .agg(count("*").as("common"))
    // BOTH directions of each unordered pair from ONE pass: the r14
    // ab/ba union of two projections re-executed the entire pairs
    // lineage (scan, tokenize, df cap, posting lists) once per
    // branch — 4 FileScans / 6 Generates in the audited plan. An
    // explode of the two direction structs emits the same rows from
    // a single execution.
    pairs.select(explode(array(
        struct(col("doc_a").as("doc_sub"), col("doc_b").as("doc_sup"),
          col("na").as("n_sub"), col("common")),
        struct(col("doc_b").as("doc_sub"), col("doc_a").as("doc_sup"),
          col("nb").as("n_sub"), col("common")))).as("r"))
      .select(col("r.doc_sub").as("doc_sub"), col("r.doc_sup").as("doc_sup"),
        col("r.n_sub").as("n_sub"), col("r.common").as("common"))
      .filter(col("common") * 10000L >= col("n_sub") * tN)
      .select(col("doc_sub"), col("doc_sup"),
        round(col("common").cast("double") / col("n_sub"), 4)
          .as("containment"))
      .orderBy("doc_sub", "doc_sup")
  }

  /** Corpus DIVERSITY summary — the mean pairwise n-gram Jaccard of
    * the whole corpus, estimated WITHOUT materializing a single pair:
    * for each of `numHashes` hash components, every doc keeps its
    * min-hashed shingle (the MinHash statistic); two docs collide on
    * a component with probability J(a, b), so
    *
    *   mean pairwise J ≈ Σ_components Σ_values C(cnt, 2)
    *                       / (numHashes · C(n_docs, 2))
    *
    * — collision counting is pure per-(component, value) count
    * arithmetic, the crossSourceDupMatrix trick. This is the
    * corpus-health number curation teams watch across snapshots
    * ("is this crawl more internally duplicated than the last one")
    * at a cost that never leaves O(corpus · numHashes).
    *
    * Unlike [[minhashSignatures]] (xxhash64 — engine-specific), the
    * component hashes here are the portable 60-bit md5 convention, so
    * the ENTIRE statistic — including the estimator's randomness — is
    * replayed exactly by the DuckDB oracle; the estimate's VALUE is
    * deterministic given the hash family, only its closeness to true
    * mean-J is probabilistic (spec-pinned against the closed form on
    * a planted corpus). All integer until the final e6 ratio, which
    * runs in DECIMAL(38,0) (the [[EventOps.decayedCounts]] rule):
    * collisions can approach numHashes·C(n,2), so the former
    * `collisions * 1000000` long product wrapped around 10^6–10^7
    * duplicate-heavy docs, and n_docs·(n_docs−1)·numHashes·10^6 wraps
    * even earlier — DECIMAL keeps the ratio exact wherever the BIGINT
    * count columns themselves are representable (~10^9 fully-
    * duplicated docs; beyond that the same aggregation runs per shard
    * and the mergeable integer collision sums add up). */
  def corpusDiversity(docs: DataFrame, n: Int = 3,
      numHashes: Int = 16): DataFrame = {
    require(numHashes >= 1 && numHashes <= 64)
    // all component minima in ONE codegen pass over the text (one
    // md5 per shingle + numHashes wrap-mixes, nothing per-shingle
    // ever exits the scan stage) — replaces a 16x-exploded md5 storm
    // and its (doc, i) min-aggregate shuffle; measured 4x on the
    // harness corpus, same oracle-replayable arithmetic (kernel doc)
    val mins = docs
      .select(col("doc_id"),
        org.apache.spark.sql.graft.ColumnBridge.column(
          graft.functions.MinHashMins(
            org.apache.spark.sql.graft.ColumnBridge
              .expression(col("text")), n, numHashes)).as("mins"))
      .filter(col("mins").isNotNull)
      .select(col("doc_id"), posexplode(col("mins")).as(Seq("i", "mh")))
    mins
      .groupBy("i", "mh").agg(count("*").as("c"))
      .agg(
        sum(when(col("i") === 0, col("c")).otherwise(0L)).as("n_docs"),
        sum(expr("c * (c - 1) DIV 2")).as("collisions"))
      .select(col("n_docs"),
        expr("n_docs * (n_docs - 1) DIV 2").as("n_pairs"),
        lit(numHashes.toLong).as("n_components"),
        col("collisions"),
        expr(s"""CASE WHEN n_docs >= 2 THEN
          CAST(CAST(collisions AS DECIMAL(38,0)) * 1000000 DIV
            ($numHashes * (CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1)
              DIV 2)) AS BIGINT)
          ELSE 0L END""").as("mean_jaccard_e6"))
  }

  /** [[corpusDiversity]] per SOURCE — the operational form: which
    * ingest source is internally duplicated (a mirror crawl, a feed
    * re-delivering) BEFORE its duplication pollutes sampling weights.
    * Same per-component minhash statistic, collisions counted within
    * each source's own doc population; identical integer arithmetic,
    * identical oracle replay. A single-doc source reports 0 pairs and
    * a 0 estimate (nothing to compare). */
  def sourceDiversity(docs: DataFrame, n: Int = 3,
      numHashes: Int = 16): DataFrame = {
    require(numHashes >= 1 && numHashes <= 64)
    // the corpusDiversity kernel, source carried alongside — no join
    // back (source rides the same scan row)
    val mins = docs
      .select(col("source"), col("doc_id"),
        org.apache.spark.sql.graft.ColumnBridge.column(
          graft.functions.MinHashMins(
            org.apache.spark.sql.graft.ColumnBridge
              .expression(col("text")), n, numHashes)).as("mins"))
      .filter(col("mins").isNotNull)
      .select(col("source"), col("doc_id"),
        posexplode(col("mins")).as(Seq("i", "mh")))
    mins
      .groupBy("source", "i", "mh").agg(count("*").as("c"))
      .groupBy("source")
      .agg(
        sum(when(col("i") === 0, col("c")).otherwise(0L)).as("n_docs"),
        sum(expr("c * (c - 1) DIV 2")).as("collisions"))
      .select(col("source"), col("n_docs"),
        expr("n_docs * (n_docs - 1) DIV 2").as("n_pairs"),
        col("collisions"),
        // DECIMAL(38,0) ratio — the corpusDiversity overflow fence
        expr(s"""CASE WHEN n_docs >= 2 THEN
          CAST(CAST(collisions AS DECIMAL(38,0)) * 1000000 DIV
            ($numHashes * (CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1)
              DIV 2)) AS BIGINT)
          ELSE 0L END""").as("mean_jaccard_e6"))
      .orderBy("source")
  }

  /** Weighted near-dup pairs: cosine similarity over n-gram FREQUENCY
    * vectors (vs [[ngramJaccard]]'s set semantics — repetition-heavy
    * docs that share the same grams at different multiplicities score
    * differently here). Same inverted-index shape: one (doc, gram, tf)
    * aggregation, posting lists per gram, pairs per posting list.
    *
    * Cross-engine exactness by construction: tf counts are integers,
    * so the dot product and both norms are INTEGER sums (order-
    * independent — no float-summation nondeterminism); floats appear
    * only in the final correctly-rounded sqrt/divide. This is the same
    * trick as the integer cross-multiplied quality gates.
    *
    * `maxDocFreq` (default on, 1000) removes grams with document
    * frequency above the cap BEFORE norms are computed — the vector
    * space itself is "post-stop-gram removal", so capped cosines are
    * exact in that space (not underestimates in the full space), and
    * the oracle applies the identical HAVING filter. Same skew
    * rationale as [[ngramJaccard]]: a boilerplate gram shared by 1M
    * docs is both a pair-explosion and a zero-information dimension —
    * TF-IDF's idf->0 limit makes dropping it principled. */
  def ngramCosine(docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
      maxDocFreq: Long = 1000L): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(shingles(col("text"), n)).as("sh"))
      .groupBy("doc_id", "sh").agg(count("*").as("tf"))
    val kept =
      if (maxDocFreq <= 0) tf
      else {
        val keep = tf.groupBy("sh").agg(count("*").as("df"))
          .filter(col("df") <= maxDocFreq).select("sh")
        tf.join(keep, Seq("sh"), "left_semi")
      }
    // norms ride along via a window over the SAME lineage (a separate
    // norms relation + join would recompute the tokenize/aggregate
    // subtree — the exact trap the ngramJaccard rewrite removed)
    val withN2 = kept.withColumn("n2",
      sum(col("tf") * col("tf")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
    withN2
      .groupBy("sh")
      .agg(collect_list(struct(col("doc_id"), col("tf"), col("n2"))).as("ds"))
      .filter(size(col("ds")) > 1)
      // fan-out repartition before the explosion — see ngramJaccard
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(explode(pairsOf(array_sort(col("ds")))).as("p"))
      .groupBy(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
        col("p.a.n2").as("na"), col("p.b.n2").as("nb"))
      .agg(sum(col("p.a.tf") * col("p.b.tf")).as("dot"))
      .withColumn("cos",
        col("dot").cast("double") / (sqrt(col("na")) * sqrt(col("nb"))))
      .filter(col("cos") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("cos"), 4).as("cos"))
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash signature relation: (doc_id, h0..h{numHashes-1}) where
    * h_i = min over shingles of xxhash64(shingle, i). Shingles explode
    * to rows; the mins are partial-aggregated map-side, so the shuffle
    * carries one 8*numHashes-byte row per doc per map partition. */
  def minhashSignatures(sets: DataFrame, numHashes: Int): DataFrame = {
    val rows = sets.select(col("doc_id"), explode(col("sh")).as("s"))
    val mins = (0 until numHashes)
      .map(i => min(xxhash64(col("s"), lit(i))).as(s"h$i"))
    rows.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** (doc_id, band, bucket) LSH band rows for a minhash-signature
    * relation: bucket = hash of the band's r = numHashes/bands mins.
    * The signature columns are Aggregate outputs — materialized
    * attributes, so the band hashes cost `bands` codegen'd xxhash64
    * calls per doc. This is the relation a 100 TB corpus materializes
    * ONCE (bucketed by (band, bucket)) as its near-dup index; both the
    * self-dedup ([[minhashLsh]]) and the incremental probe
    * ([[incrementalNearDupPairs]]) are joins against it. */
  def bandBuckets(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0)
    val r = numHashes / bands
    sig.select(col("doc_id"),
        posexplode(array((0 until bands).map { j =>
          xxhash64((j * r until (j + 1) * r).map(i => col(s"h$i")) :+ lit(j): _*)
        }: _*)))
      .toDF("doc_id", "band", "bucket")
  }

  /** MinHash + LSH banding + exact-Jaccard verification.
    * Output schema/semantics identical to [[ngramJaccard]]: because
    * candidates are verified with exact Jaccard, the result differs from
    * the exact join only by LSH misses (prob ~(1-s^r)^b; ~1e-22 for
    * s=0.99, r=4, b=16) — so it shares the same oracle. */
  def minhashLsh(docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
      numHashes: Int = 64, bands: Int = 16,
      maxBucket: Int = 10000): DataFrame = {
    val sets = shingleSets(docs, n)
    val sig = minhashSignatures(sets, numHashes)
    val banded = bandBuckets(sig, numHashes, bands)
    // `maxBucket` caps pair fan-out per LSH bucket (a degenerate bucket
    // of B docs emits B²/2 candidates): standard practice is to skip
    // such buckets — near-dups that common are caught by other bands.
    val cand = banded.groupBy("band", "bucket")
      .agg(collect_list("doc_id").as("ds"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= maxBucket)
      .select(explode(pairsOf(array_sort(col("ds")))).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .distinct()
    // verify candidates with exact Jaccard on the shingle sets
    cand.join(sets.toDF("doc_a", "sh_a"), "doc_a")
      .join(sets.toDF("doc_b", "sh_b"), "doc_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** `bits`-wide SimHash per document: bit i is set iff the token-
    * frequency-weighted sum of (+1/-1 for bit i of hasher(token)) is
    * positive. One shuffle (groupBy doc_id) with `bits` partial-
    * aggregated sums.
    *
    * This is the GENERIC-HASHER WITNESS form (any `Column => Column`
    * hasher, pure Spark SQL) — the hot paths all use the shuffle-free
    * [[simhashKernel]] projection instead, and KernelProps pins the
    * two forms value-identical for both standard hashers. */
  def simhash(docs: DataFrame, bits: Int = 64,
      hasher: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        c => xxhash64(c)): DataFrame = {
    require(bits > 0 && bits <= 64)
    val tokHash = docs
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("w"))
      .select(col("doc_id"), hasher(col("w")).as("h"))
    val bitSums = (0 until bits).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"b$i"))
    tokHash.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map(i =>
          when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** Per-document SimHash fingerprint via the codegen'd
    * [[graft.functions.SimhashBits]] kernel — value-identical to
    * [[simhash]] with the matching hasher (`portable = true` ↔
    * [[md5Hash60]], `false` ↔ `xxhash64`; spec-pinned both ways), but
    * as a PURE PROJECTION: one pass over the text inside the scan
    * stage, no token explode, no `bits`-sum aggregate, no shuffle.
    * Token-less documents are dropped (the aggregate form emits no
    * row for them either). */
  def simhashKernel(docs: DataFrame, bits: Int = 64,
      portable: Boolean = false): DataFrame =
    docs.select(col("doc_id"),
        org.apache.spark.sql.graft.ColumnBridge.column(
          graft.functions.SimhashBits(
            org.apache.spark.sql.graft.ColumnBridge
              .expression(col("text")), bits, portable)).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** SimHash near-dup pairs within `maxHamming` (<= bands-1 guaranteed
    * found: `bands` disjoint bit-bands, pigeonhole — a pair differing
    * in fewer bits than bands shares at least one intact band).
    * Output: doc_a, doc_b, hamming. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 10000, bits: Int = 64, bands: Int = 4,
      hasher: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        c => xxhash64(c)): DataFrame =
    simhashPairsFromSig(simhash(docs, bits, hasher),
      maxHamming, maxBucket, bits, bands)

  /** Banding + bucket-pair generation + exact-Hamming verify from a
    * precomputed (doc_id, simhash) relation — the shared tail of
    * [[simhashPairs]] (generic-hasher aggregate witness) and
    * [[simhashPairsPortable]] (kernel fast path). */
  private[graft] def simhashPairsFromSig(sh: DataFrame, maxHamming: Int,
      maxBucket: Int, bits: Int, bands: Int): DataFrame = {
    require(bits % bands == 0 && maxHamming < bands)
    val bandBits = bits / bands
    val bandMask = (1L << bandBits) - 1L
    val banded = sh.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until bands).map(j =>
          shiftright(col("simhash"), j * bandBits).bitwiseAND(lit(bandMask))): _*)))
      .toDF("doc_id", "simhash", "band", "key")
    banded.groupBy("band", "key")
      .agg(collect_list(struct(col("doc_id"), col("simhash"))).as("ds"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= maxBucket)
      .select(explode(pairsOf(array_sort(col("ds")))).as("p"))
      .select(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
        bit_count(col("p.a.simhash").bitwiseXOR(col("p.b.simhash")))
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  /** SimHash pairs over the engine-neutral 60-bit md5 hash (4 bands of
    * 15 bits) — bit-for-bit reproducible in DuckDB SQL, so this is the
    * oracled variant; banding finds every pair within maxHamming <= 3
    * exactly (pigeonhole over 4 bands) PROVIDED no band bucket
    * overflows `maxBucket` — the default (no cap) preserves that
    * exactness guarantee — which holds for any band bucket up to the
    * default cap of 65535, the hard ceiling of the [[graft.functions.AllPairs]]
    * kernel (beyond it the kernel aborts loudly rather than emit >2^31
    * pairs). A >65k near-identical family therefore degrades to
    * skipped-bucket recall loss like production [[simhashPairs]],
    * instead of failing the job. */
  def simhashPairsPortable(docs: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 65535): DataFrame =
    simhashPairsFromSig(simhashKernel(docs, bits = 60, portable = true),
      maxHamming, maxBucket, bits = 60, bands = 4)

  /** The portable 60-bit simhash as a PURE PROJECTION over the text
    * column — value-identical to [[simhash]] with [[md5Hash60]]
    * (the ±1 bit votes are exact long sums, so explode+groupBy order
    * and a single array fold agree bit-for-bit; spec-pinned), but
    * with no per-document aggregation: the one shape a streaming
    * ingest can compute in the arriving micro-batch with zero state
    * (the [[graft.streaming.EventStreams.incrementalNearDupStream]]
    * array_min convention, for simhash). One token pass via a single
    * array fold; the bit tests are mask ANDs against a constant
    * powers array — no variable shifts, stays inside codegen.
    *
    * Semantics note: a token-less document folds to fingerprint 0
    * here, where the aggregate form emits NO row for it — identical
    * on any corpus without empty documents, and the probe path
    * filters empty docs either way.
    *
    * Body is the codegen'd [[graft.functions.SimhashBits]] kernel
    * (one tight pass per document) — it replaced the original
    * interpreted nested-lambda fold, which allocated a 60-element
    * array per token; batch and stream now share one kernel. */
  def simhashProjection(text: org.apache.spark.sql.Column):
      org.apache.spark.sql.Column =
    coalesce(
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.SimhashBits(
          org.apache.spark.sql.graft.ColumnBridge.expression(text),
          bits = 60, portable = true)),
      lit(0L))

  /** Incremental SimHash near-dup — the simhash face of the delta
    * family ([[incrementalExact]] / [[incrementalNearDupPairs]] /
    * [[incrementalEmbeddingNearDup]]): the batch's fingerprints probe
    * the BASE's materialized (band, key → members) index, and
    * candidates verify by exact Hamming distance on the full 60-bit
    * portable hash. Same recall guarantee as [[simhashPairsPortable]]
    * across the sets (4 disjoint 15-bit bands — a cross-set pair
    * within `maxHamming` <= 3 shares at least one intact band by
    * pigeonhole), so with no bucket cap binding the output is exactly
    * the cross-set Hamming join and the SQL oracle replays it.
    *
    * Scale shape: the base participates ONLY as its band index (the
    * materialize-once relation, ~4 rows of (band, 15-bit key, member
    * list) per base doc — bucket-write it on (band, key) and the
    * probe is shuffle-free); per ingest the batch computes its own
    * fingerprints in one pass and only co-banded candidates carry
    * into the verify. Returns (doc_batch, doc_base, hamming). */
  /** Band fan-out of a portable 60-bit fingerprint: the 4 disjoint
    * 15-bit band keys as an array (posexplode it next to the id). ONE
    * definition of the band geometry, shared by the batch index, the
    * batch probe, and the streaming probe — the minhash
    * [[bandBuckets]] discipline, for simhash. */
  private[graft] def simhashBandCols(
      sh: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array((0 until 4).map(j =>
      shiftright(sh, j * 15).bitwiseAND(lit((1L << 15) - 1L))): _*)

  /** The base corpus's (band, key → members) simhash index — the
    * materialize-once relation both incremental faces probe. */
  def simhashBandIndex(base: DataFrame,
      maxBucket: Int = 65535): DataFrame =
    simhashKernel(base, bits = 60, portable = true)
      .select(col("doc_id"), col("simhash"),
        posexplode(simhashBandCols(col("simhash"))))
      .toDF("doc_base", "sh_base", "band", "key")
      .groupBy("band", "key")
      // stored n_members: see minhashBandIndex
      .agg(collect_list(struct(col("doc_base"), col("sh_base"))).as("ds"),
        count("*").cast("int").as("n_members"))
      .filter(col("n_members") <= maxBucket)

  /** Probe (doc_batch, sh_batch, band, key) rows against a
    * [[simhashBandIndex]] with the exact-Hamming verify; multi-band
    * duplicate hits are NOT collapsed here (the batch face distincts,
    * the stream face dropDuplicates — each owns its terminal state). */
  private[graft] def simhashProbe(batchBanded: DataFrame,
      baseIdx: DataFrame, maxHamming: Int): DataFrame =
    batchBanded
      .join(baseIdx, Seq("band", "key"))
      .select(col("doc_batch"), col("sh_batch"),
        explode(col("ds")).as("e"))
      .select(col("doc_batch"), col("e.doc_base").as("doc_base"),
        bit_count(col("sh_batch").bitwiseXOR(col("e.sh_base")))
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)

  /** A batch's (doc_batch, sh_batch, band, key) probe rows — the
    * per-ingest side of [[simhashProbe]], shared by the inline and
    * stored-index forms. */
  private[graft] def simhashBatchBanded(batch: DataFrame): DataFrame =
    simhashKernel(batch, bits = 60, portable = true)
      .select(col("doc_id"), col("simhash"),
        posexplode(simhashBandCols(col("simhash"))))
      .toDF("doc_batch", "sh_batch", "band", "key")

  def incrementalSimhashPairs(base: DataFrame, batch: DataFrame,
      maxHamming: Int = 3, maxBucket: Int = 65535): DataFrame =
    simhashProbe(simhashBatchBanded(batch),
        simhashBandIndex(base, maxBucket), maxHamming)
      .distinct()
      .orderBy("doc_batch", "doc_base")

  /** Embedding-cosine near-dup pairs >= threshold. Exact all-pairs —
    * correct at verification scale; the LSH-bucketed path in
    * [[Similarity]] is the 100 TB candidate generator. Norms are
    * precomputed per side (not per pair); the per-pair dot product is
    * the codegen'd [[graft.functions.DotProduct]] kernel. Cosine is a
    * fixed left-to-right summation so the DuckDB oracle reproduces it
    * bit-for-bit. */
  def embeddingNearDup(embs: DataFrame, threshold: Double): DataFrame = {
    val e = embs.select(col("vec_id"),
      Vectors.toDoubleVec(col("embedding")).as("v"))
      .withColumn("n2", Vectors.normSq(col("v")))
    // A non-equi join plans as BroadcastNestedLoopJoin, whose
    // parallelism is the STREAMED side's partition count — and a
    // verification-scale corpus is often one input split (the 10x
    // rehearsal ran this join's 4x10^8 pairs on a single task, ~3% CPU
    // of the machine). Spreading the streamed side across the default
    // parallelism is a trivial shuffle at the scales this operator is
    // for (its doc forbids it at 100 TB either way).
    val par = embs.sparkSession.sparkContext.defaultParallelism
    val a = e.repartition(par).toDF("vec_a", "va", "na")
    val b = e.toDF("vec_b", "vb", "nb")
    val cos = Vectors.dot(col("va"), col("vb")) /
      (sqrt(col("na")) * sqrt(col("nb")))
    // broadcast(b) pins which side streams (stats-tie-breaking is not a
    // contract); a verification-scale corpus fits a broadcast by def.
    a.join(broadcast(b), col("vec_a") < col("vec_b"))
      .withColumn("cos", cos)
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos"))
      .orderBy("vec_a", "vec_b")
  }

  /** Harness/spec corpus for the PRODUCTION near-dup regime: the
    * synthetic embeddings table has no cos >= 0.9 pairs (max ~0.6), so
    * plant one near-duplicate per `every` vectors — a 0.97/0.03 mix of
    * the vector with its dimension-reverse. The mix is ALWAYS a
    * near-dup of its source: with t = cos(v, reverse(v)) ∈ [-1, 1],
    * cos(v, 0.97v + 0.03·rev(v)) = (0.97 + 0.03t) / sqrt(0.9418 +
    * 0.0582t) >= 0.999 for every t — while pairs not sharing a source
    * stay below 0.9 (base max cos 0.6 moves only ~±0.03). Emitted in
    * DOUBLE precision so the DuckDB oracle reproduces the planted
    * vectors bit-for-bit. */
  def plantNearDups(embs: DataFrame, every: Int = 5): DataFrame = {
    val e = embs.select(col("vec_id"),
      Vectors.toDoubleVec(col("embedding")).as("embedding"))
    // If a base id ever reached PLANTED_ID_OFFSET (bigger scale factor
    // than this fixture was tuned for), planted ids would collide with
    // real ones and CORRUPT the planted-pair invariant — and the DuckDB
    // oracle, replicating the same arithmetic, would agree with the
    // corruption rather than catch it. Failing here is the only
    // visible signal.
    // Cost: one single-column max agg — this is a test-fixture builder,
    // not a production operator.
    val maxRow = e.agg(max(col("vec_id"))).head
    val maxId = if (maxRow.isNullAt(0)) Long.MinValue else maxRow.getLong(0)
    require(maxId < PLANTED_ID_OFFSET,
      s"plantNearDups: max(vec_id)=$maxId >= PLANTED_ID_OFFSET=" +
        s"$PLANTED_ID_OFFSET — planted ids would collide with real ids")
    val planted = e.filter(pmod(col("vec_id"), lit(every)) === 0)
      .select((col("vec_id") + PLANTED_ID_OFFSET).as("vec_id"),
        zip_with(col("embedding"), reverse(col("embedding")),
          (a, b) => a * lit(0.97) + b * lit(0.03)).as("embedding"))
    e.unionByName(planted)
  }

  /** Semantic dedup — the SemDeDup shape (Abbas et al. 2023): k-means
    * partitions the embedding space into `nCells` cells, and within
    * each cell every vector with a SMALLER-id neighbor at cosine >=
    * `threshold` is dropped (keep-smallest-id — deterministic, and a
    * chain a~b~c keeps exactly a). Returns the surviving vec_ids.
    *
    * Scale shape: the comparison is quadratic ONLY within a cell —
    * assignment is a map-side argmax over `nCells` codegen'd dot
    * products, the within-cell join is one hash join keyed on the
    * cell id, and survivors are an id-only anti-join. At 100 TB the
    * operator's cost dial is `nCells`: SemDeDup's own regime is cells
    * of ~thousands (nCells ~ n/1000), which keeps per-cell pair counts
    * bounded; a too-small nCells degrades toward all-pairs — size it
    * with the corpus. Pairs that straddle cells are MISSED by design
    * (that is SemDeDup's approximation); with `nCells = 1` the result
    * is exactly the global rule, which is how DedupSpec pins it
    * against [[embeddingNearDup]].
    *
    * Centroids come from [[Similarity.ivfCentroids]] unless injected
    * (train once, reuse — same economics as [[Similarity.ivfTopK]]).
    * No DuckDB oracle: distributed k-means sums floats in shuffle
    * order, so centroids are not bit-reproducible across engines —
    * harness entry is rows-only, exactness pinned in the spec. */
  def semanticDedup(embs: DataFrame, threshold: Double, nCells: Int = 16,
      centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val e = embs.select(col("vec_id"),
      Vectors.toDoubleVec(col("embedding")).as("v"))
    val cents = centroids.getOrElse(Similarity.ivfCentroids(e, nCells))
    val cs = array(cents.map(c =>
      Vectors.dot(col("v"), typedlit(c.toSeq))): _*)
    // the cell-indexed relation feeds BOTH sides of the within-cell
    // join AND the survivor anti-join: checkpoint it so the embedding
    // scan (and the nCells dot products per row) run once, not three
    // times per consuming branch (graft.ScanAudit found the repeats)
    val idx = e
      .withColumn("cs", cs)
      .withColumn("cell",
        (array_position(col("cs"), array_max(col("cs"))) - 1).cast("int"))
      .select("vec_id", "v", "cell")
      .localCheckpoint()
    val a = idx.toDF("vec_a", "va", "cell")
    val b = idx.toDF("vec_b", "vb", "cell")
    val cos = Vectors.dot(col("va"), col("vb")) /
      (sqrt(Vectors.normSq(col("va"))) * sqrt(Vectors.normSq(col("vb"))))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .filter(cos >= threshold)
      .select(col("vec_b").as("vec_id"))
      .distinct()
    idx.join(dropped, Seq("vec_id"), "left_anti")
      .select("vec_id").orderBy("vec_id")
  }

  /** Prefix of the observed metric [[embeddingLshCandidates]]
    * publishes per run: `bucket_pairs` (pre-dedup pair fan-out the
    * bucket sizes imply), `skipped_buckets` (buckets over `maxBucket`,
    * i.e. recall silently traded for boundedness), `max_bucket`. */
  val LSH_CANDIDATE_METRIC = "embedding_lsh_candidates"

  /** The full observation name for a given parameterization. Spark
    * requires observation names to be UNIQUE within one plan, so the
    * name carries (planes, tables, seed): two differently-
    * parameterized candidate relations (e.g. a base index and an
    * ingest probe unioned into one query) coexist instead of raising
    * AnalysisException. Composing the SAME parameterization twice in
    * one plan still collides by Spark's rule — reuse the one
    * DataFrame in that case. */
  def lshCandidateMetricName(nPlanes: Int, nTables: Int,
      seed: Long): String =
    s"${LSH_CANDIDATE_METRIC}_p${nPlanes}_t${nTables}_s$seed"

  /** The candidate-generation stage of [[embeddingNearDupLsh]],
    * exposed on its own: distinct (vec_a < vec_b) pairs co-occurring
    * in any table's SRP bucket. At 100 TB this is the relation you
    * materialize once and fan multiple verifications off; the spec
    * counts it to pin the pruning ratio (candidates ≪ n²/2). */
  def embeddingLshCandidates(e: DataFrame, nPlanes: Int, nTables: Int,
      dim: Int = 64, seed: Long = 42L, maxBucket: Int = 10000,
      planes: Option[Seq[Seq[Seq[Double]]]] = None): DataFrame = {
    // `planes` injects known tables (the lshTopK/ivfTopK convention):
    // axis-aligned unit planes fold each SRP bit to a coordinate sign
    // test DuckDB can replay, making the whole candidate relation —
    // and therefore the verified pair set — closed-form SQL while the
    // operator still runs its production path (q_dedup_embedding_lsh).
    planes.foreach(ts => require(
      ts.nonEmpty && ts.forall(_.length == ts.head.length),
      "injected tables must share one plane count"))
    val tables = planes.getOrElse((0 until nTables)
      .map(t => Similarity.hyperplanes(nPlanes, dim, seed + t)))
    // bucket IDs only — posting lists and pair fan-out carry an 8-byte
    // id, not the 512-byte vector; vectors are joined back just for the
    // deduped candidate set (two hash joins of a much smaller relation).
    // All tables' codes come from ONE kernel call (srpBucketsAll): the
    // per-table srpBucket composition unrolled 512 dot products at the
    // production regime and fell out of JIT compilation.
    val banded = e.select(col("vec_id"),
        posexplode(Vectors.srpBucketsAll(col("v"), tables)))
      .toDF("vec_id", "t", "bucket")
    banded.groupBy("t", "bucket")
      .agg(collect_list(col("vec_id")).as("ds"))
      // publish this run's candidate volume and cap activity (the
      // ngram_jaccard_skew_guard convention): low-threshold regimes
      // are near-quadratic BY DESIGN (scaladoc below), so the pair
      // count a parameter choice implies must be visible in telemetry
      // before the fan-out runs, not discovered as a hung stage — the
      // CollectMetrics node rides the bucket aggregation that runs
      // anyway, costing no extra job
      .observe(
        lshCandidateMetricName(tables.head.length, tables.length, seed),
        sum(expr("CAST(size(ds) AS BIGINT) * (size(ds) - 1) DIV 2"))
          .as("bucket_pairs"),
        sum(when(size(col("ds")) > maxBucket, 1L).otherwise(0L))
          .as("skipped_buckets"),
        max(size(col("ds"))).as("max_bucket"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= maxBucket)
      // Task count must follow FAN-OUT, not input bytes: the bucket
      // relation is id-lists (KBs), so AQE's size-based coalescing
      // merges it into ~one partition — and then ONE task generates
      // every |ds|²/2 pair (the 10x rehearsal pinned a 4-bit-code run
      // at ~2 working threads this way). An explicit fixed-width
      // repartition opts this exchange out of coalescing and spreads
      // the explosion; it shuffles only the tiny bucket rows.
      .repartition(e.sparkSession.sparkContext.defaultParallelism)
      .select(explode(pairsOf(array_sort(col("ds")))).as("p"))
      .select(col("p.a").as("vec_a"), col("p.b").as("vec_b"))
      .distinct()
  }

  /** Embedding near-dup, LSH-bucketed — the 100 TB path. Candidate
    * pairs come from co-occurrence in a signed-random-projection bucket
    * in ANY of `nTables` tables (OR-amplification); each candidate is
    * then verified with the exact codegen'd cosine, so every emitted
    * pair is correct — only recall is approximate: a pair at angle θ is
    * missed with probability (1-(1-θ/π)^nPlanes)^nTables.
    *
    * Parameter honesty: candidate volume per table is ~n²/2^nPlanes, so
    * the defaults (4-bit codes × 16 tables — needed for ≈94% recall at
    * this corpus's low cos = 0.4 threshold) prune little; SRP-LSH
    * cannot give both high recall at 66° angles AND sub-quadratic
    * candidates. The operator earns its 100 TB keep at real NEAR-DUP
    * thresholds (cos >= 0.9, θ <= 26°), where 16-bit codes × 32 tables
    * yield 65k-way pruning at ~99% recall — pass those parameters
    * there. Same output schema as [[embeddingNearDup]];
    * `maxBucket` caps degenerate buckets either way. */
  def embeddingNearDupLsh(embs: DataFrame, threshold: Double,
      nPlanes: Int = 4, nTables: Int = 16, dim: Int = 64, seed: Long = 42L,
      maxBucket: Int = 10000,
      planes: Option[Seq[Seq[Seq[Double]]]] = None): DataFrame = {
    // three consumers read the vector relation (banding + both verify
    // joins); checkpoint it so the source scans once — materialization
    // equals the input's own size, strictly cheaper than re-scanning
    // (and re-deriving any upstream fixture arithmetic) three times
    val e = embs.select(col("vec_id"),
      Vectors.toDoubleVec(col("embedding")).as("v"))
      .localCheckpoint()
    val cand = embeddingLshCandidates(e, nPlanes, nTables, dim, seed,
      maxBucket, planes)
    val cos = Vectors.dot(col("va"), col("vb")) /
      (sqrt(Vectors.normSq(col("va"))) * sqrt(Vectors.normSq(col("vb"))))
    cand
      .join(e.toDF("vec_a", "va"), "vec_a")
      .join(e.toDF("vec_b", "vb"), "vec_b")
      .withColumn("cos", cos)
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos"))
      .orderBy("vec_a", "vec_b")
  }

  // ---- incremental (delta) deduplication ------------------------------
  //
  // The 100 TB operating mode is NOT re-deduping the whole corpus per
  // ingest: the base corpus is already deduplicated and only a (much
  // smaller) new batch arrives. Both operators below are shaped so the
  // per-ingest cost is ~O(|batch|) plus index probes — the base's TEXT
  // is never re-read wholesale; only its precomputable index relations
  // (16-byte fingerprints; (band, bucket) minhash rows) participate,
  // and those are exactly what a production deployment materializes
  // once and bucket-writes (sources/Bucketing) for shuffle-free probes.

  /** Exact incremental dedup: the batch rows that survive against an
    * already-deduplicated base. A batch row is dropped iff (a) its
    * text fingerprint exists in `base` — the re-crawl/re-delivery case
    * — or (b) an earlier (smaller doc_id) batch row has the same
    * fingerprint. Returns surviving batch rows plus their `fp_md5`.
    *
    * Scale shape: the base side is reduced to DISTINCT 16-byte
    * fingerprints before the anti-join (one map-side-combined agg of
    * the index relation — in production you store this, not recompute
    * it), the anti-join and the keep-first window both hash on fp_md5,
    * and with AQE a small batch side broadcasts. */
  def incrementalExact(base: DataFrame, batch: DataFrame): DataFrame =
    exactProbe(exactFpIndex(base), batch)

  /** The base corpus's distinct 16-byte fingerprint relation — exact
    * dedup's materialize-once index ([[minhashBandIndex]]'s role for
    * the exact face; stored bucketed by fp_md5 via
    * [[graft.sources.DedupIndexStore]]). */
  def exactFpIndex(base: DataFrame): DataFrame =
    base.select(fingerprintMd5(col("text")).as("fp_md5")).distinct()

  /** Probe half of [[incrementalExact]]: anti-join the batch's
    * fingerprints against a base index passed in (fresh or read from
    * bucketed parquet), then keep the first batch row per surviving
    * fingerprint. */
  private[graft] def exactProbe(baseFps: DataFrame,
      batch: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fp_md5").orderBy(col("doc_id").asc)
    batch.withColumn("fp_md5", fingerprintMd5(col("text")))
      .join(baseFps, Seq("fp_md5"), "left_anti")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
      .orderBy("doc_id")
  }

  /** Cross-source duplication matrix — the curation dashboard that
    * tells you WHICH sources copy each other (a mirror re-crawled
    * under a new name, a dataset aggregated into another) before you
    * pick per-source sampling weights. One row per unordered source
    * pair (src_a <= src_b), counting exact-duplicate pairs and
    * near-duplicate (n-gram Jaccard >= `threshold`) pairs between
    * them; within-source rows (src_a == src_b) report each source's
    * internal duplication.
    *
    * Scale shape (100 TB): the exact half NEVER materializes a pair —
    * it aggregates per-(fingerprint, source) counts (map-side
    * combined, 16-byte keys) and turns them into pair counts by
    * arithmetic: c*(c-1)/2 within a source, c_a*c_b across, via a
    * per-fingerprint source list bounded by |sources|, not by copy
    * count. Within- and cross-source entries ride ONE grouped lineage
    * (a concat of two transforms, exploded once — a second consumer
    * of the count relation would re-scan the corpus; ScanAudit is the
    * regression guard), and the pair arithmetic stays integer
    * end-to-end: shiftright(c*(c-1), 1) == c*(c-1)//2 exactly for
    * non-negative counts at any magnitude a long holds. The near half
    * rides [[ngramJaccard]]'s capped inverted index (its pair
    * relation is output-scale, tiny vs the corpus) and joins two
    * column-pruned (doc_id, source) scans — AQE broadcasts the pair
    * side, and text never rides those joins. Total corpus passes: one
    * fingerprint pass + ngramJaccard's two tokenize passes + two
    * 2-column pruned scans; both halves meet in a
    * |sources|^2-bounded full-outer join. */
  def crossSourceDupMatrix(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.8, maxDocFreq: Long = 1000L): DataFrame = {
    val srcOf = docs.select(col("doc_id"), col("source"))
    val srcCounts = docs
      .groupBy(fingerprintMd5(col("text")).as("fp"), col("source"))
      .agg(count(lit(1)).as("c"))
      .groupBy("fp")
      .agg(collect_list(struct(col("source"), col("c"))).as("sc"))
    val exact = srcCounts
      .select(explode(concat(
        transform(col("sc"), e => struct(
          e.getField("source").as("src_a"),
          e.getField("source").as("src_b"),
          shiftright(e.getField("c") * (e.getField("c") - 1), 1).as("np"))),
        transform(pairsOf(array_sort(col("sc"))), p => struct(
          p.getField("a").getField("source").as("src_a"),
          p.getField("b").getField("source").as("src_b"),
          (p.getField("a").getField("c") * p.getField("b").getField("c"))
            .as("np"))))).as("e"))
      .select(col("e.src_a").as("src_a"), col("e.src_b").as("src_b"),
        col("e.np").as("np"))
      .groupBy("src_a", "src_b").agg(sum("np").as("n_exact_pairs"))
      .filter(col("n_exact_pairs") > 0)
    val near = ngramJaccard(docs, n, threshold, maxDocFreq)
      .select(col("doc_a"), col("doc_b"))
      .join(srcOf.toDF("doc_a", "sa"), "doc_a")
      .join(srcOf.toDF("doc_b", "sb"), "doc_b")
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_near_pairs"))
    exact.join(near, Seq("src_a", "src_b"), "full_outer")
      .select(col("src_a"), col("src_b"),
        coalesce(col("n_exact_pairs"), lit(0L)).as("n_exact_pairs"),
        coalesce(col("n_near_pairs"), lit(0L)).as("n_near_pairs"))
      .orderBy("src_a", "src_b")
  }

  /** Harness fixture for [[crossSourceDupMatrix]]: the raw corpus has
    * no exact duplicates, so plant them deterministically — a
    * synthetic "mirror" source re-hosting every doc_id % 7 == 0 doc
    * (the aggregator-copies-everyone case: exact CROSS-source pairs
    * bind for every source), plus a same-source re-delivery of every
    * doc_id % 13 == 0 doc (WITHIN-source pairs bind). Integer
    * arithmetic only, so a SQL oracle replays the plant exactly; same
    * id-collision guard convention as [[splitIncremental]]. */
  def plantCrossSourceDups(docs: DataFrame): DataFrame = {
    val maxRow = docs.agg(max(col("doc_id"))).head
    val maxId = if (maxRow.isNullAt(0)) Long.MinValue else maxRow.getLong(0)
    require(maxId < PLANTED_ID_OFFSET,
      s"plantCrossSourceDups: max(doc_id)=$maxId >= PLANTED_ID_OFFSET=" +
        s"$PLANTED_ID_OFFSET — planted ids would collide with real ids")
    val mirrored = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
      .withColumn("doc_id", col("doc_id") + PLANTED_ID_OFFSET)
      .withColumn("source", lit("mirror"))
    val redelivered = docs.filter(pmod(col("doc_id"), lit(13)) === 0)
      .withColumn("doc_id", col("doc_id") + 2 * PLANTED_ID_OFFSET)
    docs.unionByName(mirrored).unionByName(redelivered)
  }

  /** Incremental near-dup probe: (doc_batch, doc_base, jaccard) pairs
    * with exact n-gram Jaccard >= `threshold` between a new batch and
    * the base corpus. Candidates come from the batch's minhash band
    * rows probing the base's [[bandBuckets]] index on (band, bucket);
    * each candidate is verified with exact Jaccard, so — like
    * [[minhashLsh]], whose banding parameters it shares — the result
    * differs from the exact cross join only by LSH misses (~1e-22 at
    * s=0.99, r=4, b=16) and shares an exact-SQL oracle.
    *
    * Scale shape: the base index is grouped to (band, bucket ->
    * id-list) — the relation you materialize once; a batch ingest
    * joins its |batch| x bands rows against it (hash join touching
    * only matching buckets), `maxBucket` skips degenerate posting
    * lists, and the exact-verify joins fetch shingle sets ONLY for
    * candidate ids (the candidate relation is small, so AQE broadcasts
    * it against the big sets relation — no full-base shuffle). */
  def incrementalNearDupPairs(base: DataFrame, batch: DataFrame,
      n: Int = 3, threshold: Double = 0.8, numHashes: Int = 64,
      bands: Int = 16, maxBucket: Int = 10000): DataFrame =
    minhashProbe(minhashBandIndex(base, n, numHashes, bands, maxBucket),
      shingleSets(base, n), batch, n, threshold, numHashes, bands)

  /** The base corpus's grouped (band, bucket → base doc-id list)
    * minhash index — the materialize-once relation every incremental
    * probe joins against. A deployment writes this (plus the base's
    * [[shingleSets]], for the exact verify) to parquet bucketed by
    * (band, bucket) via [[graft.sources.DedupIndexStore]] and never
    * rebuilds it per ingest. */
  def minhashBandIndex(base: DataFrame, n: Int = 3, numHashes: Int = 64,
      bands: Int = 16, maxBucket: Int = 10000): DataFrame =
    bandBuckets(minhashSignatures(shingleSets(base, n), numHashes),
        numHashes, bands)
      .groupBy("band", "bucket")
      // n_members rides as a stored column so a stored index's
      // cap/occupancy reads prune the heavy member-list column at the
      // parquet scan (the segment probes' totals leg); Catalyst drops
      // it everywhere it goes unused
      .agg(collect_list("doc_id").as("base_ds"),
        count("*").cast("int").as("n_members"))
      .filter(col("n_members") <= maxBucket)

  /** Probe half of [[incrementalNearDupPairs]], with the base's two
    * relations passed IN — either freshly built (the inline form) or
    * read back from bucketed parquet (the stored-index form; identical
    * output, the lineage is the only difference). `baseIdx` =
    * [[minhashBandIndex]] rows, `baseSets` = the base's
    * [[shingleSets]]. */
  private[graft] def minhashProbe(baseIdx: DataFrame, baseSets: DataFrame,
      batch: DataFrame, n: Int, threshold: Double, numHashes: Int,
      bands: Int): DataFrame = {
    val batchSets = shingleSets(batch, n)
    val cand =
      bandBuckets(minhashSignatures(batchSets, numHashes), numHashes, bands)
        .join(baseIdx, Seq("band", "bucket"))
        // task count must follow FAN-OUT, not input bytes: the joined
        // bucket rows are KBs of id-lists, so AQE would coalesce them
        // onto ~one task and that task would emit every posting-list
        // explosion (the same failure the 10x rehearsal pinned on
        // embeddingLshCandidates — see its comment)
        .repartition(batch.sparkSession.sparkContext.defaultParallelism)
        .select(col("doc_id").as("doc_batch"),
          explode(col("base_ds")).as("doc_base"))
        .distinct()
    cand
      .join(baseSets.toDF("doc_base", "sh_base"), "doc_base")
      .join(batchSets.toDF("doc_batch", "sh_batch"), "doc_batch")
      .withColumn("jaccard",
        size(array_intersect(col("sh_base"), col("sh_batch"))).cast("double") /
          size(array_union(col("sh_base"), col("sh_batch"))))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_batch"), col("doc_base"),
        round(col("jaccard"), 4).as("jaccard"))
      .orderBy("doc_batch", "doc_base")
  }

  /** Incremental EMBEDDING near-dup — [[incrementalNearDupPairs]]'
    * role for vectors, the 100 TB operating mode for semantic dedup:
    * a new batch's vectors probe the BASE corpus's materialized SRP
    * band-bucket index, and co-bucket (batch, base) candidates from
    * ANY table are verified with the exact codegen'd cosine. The base
    * is never re-paired with itself; its raw vectors participate only
    * in the verify join of the (much smaller) candidate set — so the
    * per-ingest cost is ~O(|batch| + candidates), and the
    * (vec_id, t, bucket) relation is exactly what a deployment
    * materializes once and bucket-writes for shuffle-free probes.
    *
    * `planes` injects known tables (the [[embeddingLshCandidates]]
    * convention): axis-aligned planes fold every bucket bit to a
    * coordinate sign test, making the whole cross-set relation
    * closed-form SQL (q_dedup_incr_embedding). Recall caveats are
    * [[embeddingNearDupLsh]]'s — at real near-dup thresholds
    * (cos ≥ 0.9) use 16-plane × 32-table defaults. */
  def incrementalEmbeddingNearDup(base: DataFrame, batch: DataFrame,
      threshold: Double, nPlanes: Int = 16, nTables: Int = 32,
      dim: Int = 64, seed: Long = 42L, maxBucket: Int = 10000,
      planes: Option[Seq[Seq[Seq[Double]]]] = None): DataFrame = {
    planes.foreach(ts => require(
      ts.nonEmpty && ts.forall(_.length == ts.head.length),
      "injected tables must share one plane count"))
    val tables = planes.getOrElse((0 until nTables)
      .map(t => Similarity.hyperplanes(nPlanes, dim, seed + t)))
    // in production this relation is READ, not built: store it once
    // per corpus version (sources/DedupIndexStore), probe it per ingest
    embeddingProbe(embeddingBandIndex(base, tables, maxBucket),
      embeddingVecs(base), batch, threshold, tables)
  }

  /** (vec_id, v: array<double>) — the raw-vector relation the exact
    * cosine verify reads; stored next to the band index. */
  private[graft] def embeddingVecs(e: DataFrame): DataFrame =
    e.select(col("vec_id"), Vectors.toDoubleVec(col("embedding")).as("v"))

  /** The base corpus's grouped (t, bucket → base vec-id list) SRP
    * band index — the materialize-once relation semantic dedup
    * ingests probe. `tables` must be the resolved plane set (the same
    * set at build and probe — persist it with the index). */
  def embeddingBandIndex(base: DataFrame, tables: Seq[Seq[Seq[Double]]],
      maxBucket: Int = 10000): DataFrame =
    embeddingVecs(base)
      .select(col("vec_id"),
        posexplode(Vectors.srpBucketsAll(col("v"), tables)))
      .toDF("vec_id", "t", "bucket")
      // stored n_members: see minhashBandIndex
      .groupBy("t", "bucket").agg(collect_list("vec_id").as("base_ds"),
        count("*").cast("int").as("n_members"))
      .filter(col("n_members") <= maxBucket)

  /** Probe half of [[incrementalEmbeddingNearDup]] — the base's
    * relations passed in, fresh or read from bucketed parquet.
    * `baseVecs` = [[embeddingVecs]] rows (vec_id, v). */
  private[graft] def embeddingProbe(baseIdx: DataFrame,
      baseVecs: DataFrame, batch: DataFrame, threshold: Double,
      tables: Seq[Seq[Seq[Double]]]): DataFrame = {
    val batchV = embeddingVecs(batch)
    val cand = batchV
      .select(col("vec_id"),
        posexplode(Vectors.srpBucketsAll(col("v"), tables)))
      .toDF("vec_id", "t", "bucket")
      .join(baseIdx, Seq("t", "bucket"))
      // fan-out, not input bytes, sizes these tasks — the same AQE
      // coalescing hazard embeddingLshCandidates documents
      .repartition(batch.sparkSession.sparkContext.defaultParallelism)
      .select(col("vec_id").as("vec_batch"),
        explode(col("base_ds")).as("vec_base"))
      .distinct()
    val cos = Vectors.dot(col("vq"), col("vb")) /
      (sqrt(Vectors.normSq(col("vq"))) * sqrt(Vectors.normSq(col("vb"))))
    cand
      .join(batchV.toDF("vec_batch", "vq"), "vec_batch")
      .join(baseVecs.toDF("vec_base", "vb"), "vec_base")
      .withColumn("cos", cos)
      .filter(col("cos") >= threshold)
      .select(col("vec_batch"), col("vec_base"),
        round(col("cos"), 4).as("cos"))
      .orderBy("vec_batch", "vec_base")
  }

  /** Harness/spec fixture for the incremental operators: splits `docs`
    * into (base, batch) the way an ingest sees them. base = the
    * doc_id % 4 != 0 slice (the already-deduplicated corpus); batch =
    * the doc_id % 4 == 0 slice (genuinely new content) PLUS two kinds
    * of planted duplicates so both drop paths of [[incrementalExact]]
    * demonstrably bind: re-keyed copies of new docs (doc_id % 5 == 0,
    * +[[PLANTED_ID_OFFSET]]) — within-batch dups — and re-deliveries of
    * base docs (doc_id % 7 == 1, +2x it) — the re-crawl case. All
    * arithmetic is integer, so a SQL oracle reproduces the split
    * exactly. Fails loudly (like [[plantNearDups]]) if real ids ever
    * reach [[PLANTED_ID_OFFSET]], where planted ids would collide. */
  def splitIncremental(docs: DataFrame): (DataFrame, DataFrame) = {
    val maxRow = docs.agg(max(col("doc_id"))).head
    val maxId = if (maxRow.isNullAt(0)) Long.MinValue else maxRow.getLong(0)
    require(maxId < PLANTED_ID_OFFSET,
      s"splitIncremental: max(doc_id)=$maxId >= PLANTED_ID_OFFSET=" +
        s"$PLANTED_ID_OFFSET — planted ids would collide with real ids")
    val base = docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)
    val fresh = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
    val dupNew = fresh.filter(pmod(col("doc_id"), lit(5)) === 0)
      .withColumn("doc_id", col("doc_id") + PLANTED_ID_OFFSET)
    val redelivered = base.filter(pmod(col("doc_id"), lit(7)) === 1)
      .withColumn("doc_id", col("doc_id") + 2 * PLANTED_ID_OFFSET)
    (base, fresh.unionByName(dupNew).unionByName(redelivered))
  }
}
