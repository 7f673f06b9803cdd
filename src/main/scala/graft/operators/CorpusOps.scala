package graft.operators

import graft.functions.TextAnalysis._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for the training-data pipeline:
  * deterministic sampling, TF-IDF keyword extraction, Gopher-style
  * repetition/quality gates, and PII redaction. All are narrow
  * map/agg shapes — no driver-side loops, nothing that doesn't
  * partition — and every ratio-threshold comparison is computed in
  * INTEGER cross-multiplied form so the DuckDB oracle matches
  * bit-for-bit (a rounded ratio with a power-of-two denominator lands
  * on exact half-values where the engines' rounding modes disagree).
  */
object CorpusOps {

  // ---- deterministic sampling ----------------------------------------

  /** Stratified deterministic downsampling: keep a row iff the
    * engine-neutral 60-bit md5 hash of its `keyCol` mod 100 falls
    * under the stratum's percentage. Hash-threshold sampling (vs
    * `rand()`) is reproducible across runs/retries/engines, stable
    * under repartitioning, and needs no shuffle — the standard way to
    * downsample a dominant language/source in a 100 TB corpus. */
  def stratifiedHashSample(docs: DataFrame, rates: Map[String, Int],
      defaultPct: Int, stratumCol: String = "lang",
      keyCol: String = "doc_id"): DataFrame = {
    require(defaultPct >= 0 && defaultPct <= 100 &&
      rates.values.forall(p => p >= 0 && p <= 100))
    val pct = rates.foldLeft(lit(defaultPct)) { case (acc, (k, v)) =>
      when(col(stratumCol) === k, lit(v)).otherwise(acc)
    }
    // sampling is a row FILTER — no projection, callers keep their
    // schema (and their column pruning)
    docs.filter(pmod(md5Hash60(col(keyCol).cast("string")), lit(100)) < pct)
  }

  /** [[quotaSample]] through the bounded-heap
    * [[graft.functions.GroupTopK]] aggregate: IDENTICAL output (the
    * harness runs it against the window query's oracle — bottom-quota
    * by (hash ASC, key ASC) is exactly GroupTopK's (val DESC, key ASC)
    * on the NEGATED hash; md5Hash60 < 2^60, so negation is exact),
    * different physics. The window form shuffles every row to its
    * stratum's reducer and sorts the whole stratum; the aggregate form
    * partial-aggregates map-side — each map partition ships at most
    * `quota` 16-byte entries per stratum, no stratum-wide sort — and
    * the |strata|·quota survivor ids semi-join back (broadcast-sized
    * by construction), so the wide doc columns never ride a shuffle.
    * One delta, documented: a null `keyCol` is skipped (aggregate null
    * semantics) where the window form would rank it; sample keys are
    * ids, which are non-null in any sane corpus. */
  def quotaSampleAgg(docs: DataFrame, quota: Int,
      stratumCol: String = "lang", keyCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    require(quota > 0)
    val top = ColumnBridge.column(graft.functions.GroupTopK(
      ColumnBridge.expression(col(keyCol)),
      ColumnBridge.expression(-md5Hash60(col(keyCol).cast("string"))),
      quota).toAggregateExpression())
    val keep = docs.select(col(stratumCol), col(keyCol))
      .groupBy(col(stratumCol)).agg(top.as("__top"))
      .select(explode(col("__top")).as("__kv"))
      .select(col("__kv.key").as(keyCol))
    docs.join(broadcast(keep), Seq(keyCol), "left_semi")
  }

  // ---- TF-IDF keyword extraction -------------------------------------

  /** Top-`k` terms per document by TF-IDF, deterministic tie-break on
    * the term. tf = count in doc / doc tokens; idf = ln(N / df).
    * Two aggregations (doc-term counts; document frequency) and one
    * window — df is a tiny relation (vocabulary-sized), joined back
    * broadcast-style; N arrives as a broadcast single-row cross join,
    * not a driver collect. */
  def tfIdf(docs: DataFrame, k: Int = 3): DataFrame = {
    val nDocs = docs.agg(count("*").as("n_docs"))
    // ONE tokenize+aggregate lineage; doc totals and document
    // frequency are both windows over it (shuffling the small
    // (doc, term, tf) relation) — a groupBy-join formulation would
    // re-scan and re-explode the corpus for the df branch, which is
    // the expensive part at 100 TB.
    val tf = docs
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count("*").as("tf"))
    // Rank on the ROUNDED score: ln() can differ by 1 ulp between
    // engines (JVM Math.log vs libm), and a raw-double ordering would
    // let that ulp flip which term crosses the rank-k cutoff —
    // rounding first makes the cross-engine ordering stable (the same
    // float-hazard class as the as-of gap fix), with the term as the
    // deterministic tie-break.
    val rank = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term").asc)
    tf
      .withColumn("n_tok", sum("tf").over(Window.partitionBy("doc_id")))
      .withColumn("df", count("*").over(Window.partitionBy("term")))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round((col("tf").cast("double") / col("n_tok")) *
          log(col("n_docs").cast("double") / col("df")), 4))
      .withColumn("rn", row_number().over(rank))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("score"))
      .orderBy("doc_id", "term")
  }

  /** Okapi BM25 retrieval scores for a fixed bag of query `terms`:
    * the top-`k` documents by
    *
    *   score(d) = Σ_t idf(t) · tf(t,d)·(k1+1) /
    *                         (tf(t,d) + k1·(1 − b + b·dl(d)/avgdl))
    *
    * with the Lucene idf = ln(1 + (N − df + 0.5)/(df + 0.5)) (always
    * positive, so a stop-term cannot flip a ranking negative). Shares
    * [[tfIdf]]'s lineage discipline: ONE tokenize+aggregate pass, with
    * per-doc length and per-term document frequency as windows over
    * the small (doc, term, tf) relation — the term filter lands AFTER
    * the `dl` window (dl must count every token, not just query
    * terms) and BEFORE the df/score work, so the per-term window and
    * the join-free scoring touch |terms|-scale rows only. The two
    * corpus scalars (N, total tokens for avgdl) come from a separate
    * count-only pass (column-pruned to `text`, no explode — the
    * [[tfIdf]] nDocs pattern) broadcast into the score expression.
    * Scores are ROUNDED before the top-k cut ([[tfIdf]]'s ulp rule:
    * ln differs by 1 ulp between engines, and the per-doc sum adds in
    * engine order), tie-broken by doc_id. Returns (doc_id, score)
    * ordered by doc_id; plan = one shuffle per window family +
    * TakeOrderedAndProject. */
  def bm25(docs: DataFrame, terms: Seq[String], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val scalars = docs.agg(count("*").as("n_docs"),
      sum(tokenCountWs(col("text"))).as("n_tok_total"))
    val withDf = docs
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count("*").as("tf"))
      .withColumn("dl", sum("tf").over(Window.partitionBy("doc_id")))
      .filter(col("term").isin(terms: _*))
      .withColumn("df", count("*").over(Window.partitionBy("term")))
    bm25Rank(withDf, scalars, k, k1, b)
  }

  /** The shared BM25 scoring tail of [[bm25]] and [[bm25FromPostings]]
    * — from a prepared (doc_id, tf, dl, df) relation and the broadcast
    * corpus scalars: Lucene idf, Okapi contribution, ROUNDED score
    * before the top-k cut, tie-broken by doc_id. Same expressions in
    * both lineages, so corpus-scan and served-from-storage answers are
    * bit-identical. */
  private def bm25Rank(withDf: DataFrame, scalars: DataFrame, k: Int,
      k1: Double, b: Double): DataFrame =
    withDf
      .crossJoin(broadcast(scalars))
      .withColumn("idf", log(lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("avgdl",
        col("n_tok_total").cast("double") / col("n_docs"))
      .withColumn("contrib", col("idf") *
        (col("tf") * lit(k1 + 1.0)) /
        (col("tf") + lit(k1) * (lit(1.0 - b) +
          lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc_id").agg(round(sum("contrib"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
      .orderBy("doc_id")

  /** [[bm25]] served FROM stored relations (no corpus access): tf(t,d)
    * is the stored posting list's length and df(t) a window over the
    * probe's own |terms|-scale rows — the postings scan carries the
    * literal term set, so a bucketed layout prunes it to the query
    * terms' buckets; dl(d) and the corpus scalars come from the
    * doclens side table persisted at build (the norms file of a
    * classic search index). Identical output to [[bm25]] over the
    * corpus the index was built from. */
  private[graft] def bm25FromPostings(postings: DataFrame,
      doclens: DataFrame, terms: Seq[String], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val scalars = doclens.agg(count("*").as("n_docs"),
      sum(col("dl")).as("n_tok_total"))
    val withDf = postings
      .filter(col("term").isin(terms: _*))
      .select(col("doc_id"), col("term"),
        size(col("positions")).cast("long").as("tf"))
      .withColumn("df", count("*").over(Window.partitionBy("term")))
      .join(doclens, "doc_id")
    bm25Rank(withDf, scalars, k, k1, b)
  }

  // ---- positional retrieval: postings, phrase, proximity -------------

  /** Positional posting lists for the given terms: the materialized
    * inverted-index slice a phrase/proximity engine serves from.
    * One corpus scan (posexplode), term filter pushed into it, one
    * grouped aggregation; positions surface as an ordered CSV (the
    * mm_features scalar-column convention). At 100 TB this relation —
    * partitioned by term — IS the index artifact: build it once,
    * write it bucketed by term, and [[phraseSearch]]-style queries
    * probe it without touching the corpus. */
  def positionalPostings(docs: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty)
    docs
      .select(col("doc_id"), posexplode(wsTokens(col("text")))
        .as(Seq("pos", "term")))
      .filter(col("term").isin(terms: _*))
      .groupBy("term", "doc_id")
      .agg(count("*").as("n_occ"),
        array_join(transform(sort_array(collect_list(col("pos"))),
          p => p.cast("string")), ",").as("positions_csv"))
      .orderBy("term", "doc_id")
  }

  /** The FULL positional index in its stored form: (term, doc_id,
    * positions array<int>) for every term — what
    * [[graft.sources.PostingsStore]] persists bucketed by term (so a
    * phrase probe's per-term scan bucket-prunes) and
    * [[phraseFromPostings]] serves from. [[positionalPostings]] stays
    * the term-sliced query face (CSV positions, the scalar-column
    * oracle convention). */
  private[graft] def postingsRows(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), posexplode(wsTokens(col("text")))
        .as(Seq("pos", "term")))
      .select(col("term"), col("doc_id"), col("pos"))
      .groupBy("term", "doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("positions"))

  /** Per-document token counts — the doclens side table persisted with
    * the postings index (BM25's dl and, aggregated, its corpus
    * scalars). regexp_count lineage: no token array is materialized
    * just to be counted. */
  private[graft] def doclensRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      tokenCountWs(col("text")).cast("long").as("dl"))

  /** Exact phrase search FROM a postings relation (stored or fresh) —
    * output identical to [[phraseSearch]] over the same corpus, but
    * the corpus text is never touched: each phrase slot reads its
    * term's posting rows, slots join on doc_id, and the match test is
    * an array intersection of position lists shifted by slot offset —
    * the classic positional-index algorithm, with per-slot input
    * bounded by the term's document frequency instead of the corpus.
    * Duplicate phrase terms are fine (two slots read the same posting
    * rows). */
  private[graft] def phraseFromPostings(postings: DataFrame,
      phrase: Seq[String]): DataFrame = {
    require(phrase.length >= 2, "a phrase needs >= 2 terms")
    val slots = phrase.zipWithIndex
    val joined = slots.tail.foldLeft(
      postings.filter(col("term") === phrase.head)
        .select(col("doc_id"), col("positions").as("p0"))) {
      case (acc, (t, i)) =>
        acc.join(postings.filter(col("term") === t)
          .select(col("doc_id"), col("positions").as(s"p$i")), "doc_id")
    }
    val hits = slots.tail.foldLeft(col("p0")) { case (acc, (_, i)) =>
      filter(acc, p => array_contains(col(s"p$i"), p + i))
    }
    joined
      .withColumn("hits", hits)
      .filter(size(col("hits")) > 0)
      .select(col("doc_id"),
        size(col("hits")).cast("long").as("n_hits"),
        element_at(col("hits"), 1).cast("long").as("first_pos"))
      .orderBy("doc_id")
  }

  /** Proximity co-occurrence FROM a postings relation — output
    * identical to [[proximitySearch]] over the same corpus: the anchor
    * and near terms' posting rows join on doc_id (two bucket-pruned
    * literal-term scans — per-doc input is the two terms' position
    * lists, the corpus untouched) and the pair counting is pure array
    * arithmetic: per anchor position, the near positions within
    * ±window; anchors with none are dropped from n_anchors, exactly
    * the window operator's `n_near > 0` gate. */
  private[graft] def proximityFromPostings(postings: DataFrame,
      anchor: String, near: String, window: Int): DataFrame = {
    require(window >= 1)
    require(anchor != near,
      "anchor == near would count each anchor as its own neighbor")
    val nearCounts = filter(
      transform(col("pa"), p =>
        size(filter(col("pb"), q => abs(q - p) <= window))),
      c => c > 0)
    postings.filter(col("term") === anchor)
      .select(col("doc_id"), col("positions").as("pa"))
      .join(postings.filter(col("term") === near)
        .select(col("doc_id"), col("positions").as("pb")), "doc_id")
      .withColumn("nc", nearCounts)
      .filter(size(col("nc")) > 0)
      .select(col("doc_id"),
        size(col("nc")).cast("long").as("n_anchors"),
        aggregate(col("nc"), lit(0L),
          (acc, c) => acc + c).as("n_pairs"))
      .orderBy("doc_id")
  }

  /** Exact phrase search — every document containing the words of
    * `phrase` CONSECUTIVELY, with occurrence count and first match
    * position. Formulated JOIN-FREE: one tokenize pass, one per-doc
    * window, and the phrase test is `lead(term, i)` equality at every
    * offset — the Spark-first shape for fixed-length phrase matching
    * (the self-join formulation scans the corpus once per phrase
    * term and shuffles each posting relation; this shuffles the
    * token stream exactly once, partitioned by doc_id, and the terms
    * crossing the shuffle are single words). Positions are 0-based
    * token offsets, matching [[positionalPostings]]. */
  def phraseSearch(docs: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.length >= 2, "a phrase needs >= 2 terms")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val isMatch = phrase.zipWithIndex.map { case (t, i) =>
      (if (i == 0) col("term") else lead(col("term"), i).over(w))
        .eqNullSafe(lit(t))
    }.reduce(_ && _)
    docs
      .select(col("doc_id"), posexplode(wsTokens(col("text")))
        .as(Seq("pos", "term")))
      .withColumn("m", isMatch)
      .filter(col("m"))
      .groupBy("doc_id")
      .agg(count("*").as("n_hits"),
        min("pos").cast("long").as("first_pos"))
      .orderBy("doc_id")
  }

  /** [[phraseSearch]]'s PURE-PROJECTION twin: the phrase test
    * evaluated inside one `filter(sequence(...))` over each doc's own
    * token array — no window, no shuffle, no state AT ALL, which is
    * what makes it the STREAMING ingest face (a window/lead
    * formulation cannot run on an unbounded stream; this one maps
    * each arriving document independently — EventStreams applies it
    * verbatim, StreamingSpec pins file-stream == batch). Identical
    * answer to [[phraseSearch]] (CorpusOpsSpec pins equality; the
    * harness q_phrase_projected shares q_phrase_search's oracle).
    * Batch trade-off vs the window twin: zero shuffle but the token
    * array materializes per row — both are one-scan linear. */
  def phraseMatchProjected(docs: DataFrame,
      phrase: Seq[String]): DataFrame =
    phraseProjection(docs, phrase).orderBy("doc_id")

  /** The unsorted stream-safe core of [[phraseMatchProjected]] — no
    * sort, no shuffle, legal in a streaming query plan. The phrase
    * test runs in the codegen'd [[graft.functions.PhraseHits]]
    * kernel (one JIT loop per row); the equivalent
    * `filter(sequence(...))` lambda formulation ran interpreted and
    * was 8x slower at sf0.1 — the [[graft.functions.TextDHash]]
    * lesson repeating. */
  def phraseProjection(docs: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.length >= 2, "a phrase needs >= 2 terms")
    import org.apache.spark.sql.graft.ColumnBridge
    val packed = ColumnBridge.column(graft.functions.PhraseHits(
      ColumnBridge.expression(col("text")), phrase))
    docs
      .withColumn("ph", packed)
      .filter(col("ph") =!= 0L)
      .select(col("doc_id"),
        expr("shiftright(ph, 32)").as("n_hits"),
        expr("(ph & 4294967295) - 1").as("first_pos"))
  }

  /** Proximity search — documents where `anchor` occurs within
    * `window` token positions of `near` (in either direction), with
    * the anchor-occurrence count and the total (anchor, near)
    * within-window pair count. Also join-free: ONE per-doc RANGE
    * window over the token stream counts the `near` occurrences in
    * [pos - window, pos + window] at every row, and the result is
    * read off at the anchor rows — one tokenize pass, one shuffle,
    * the [[phraseSearch]] physics with a range frame instead of
    * lead offsets. */
  def proximitySearch(docs: DataFrame, anchor: String, near: String,
      window: Int): DataFrame = {
    require(window >= 1)
    require(anchor != near,
      "anchor == near would count each anchor as its own neighbor")
    val w = Window.partitionBy("doc_id").orderBy("pos")
      .rangeBetween(-window, window)
    docs
      .select(col("doc_id"), posexplode(wsTokens(col("text")))
        .as(Seq("pos", "term")))
      .withColumn("n_near",
        count(when(col("term") === near, 1)).over(w))
      .filter(col("term") === anchor && col("n_near") > 0)
      .groupBy("doc_id")
      .agg(count("*").as("n_anchors"), sum("n_near").as("n_pairs"))
      .orderBy("doc_id")
  }

  // ---- line-level boilerplate dedup ----------------------------------

  /** C4/RefinedWeb-style boilerplate LINE removal: lines whose
    * corpus-wide occurrence count reaches `maxCount` (nav bars, cookie
    * banners, license headers — the text that repeats verbatim across
    * a crawl) are dropped from EVERY document, and the documents are
    * rebuilt from their surviving lines in order. The boilerplate
    * signal is TOTAL occurrences, not distinct documents: a window
    * count over the line hash keeps the whole operator ONE
    * corpus-scan lineage (a distinct-doc count needs groupBy+join,
    * i.e. a second pass over the exploded lines — and a page that
    * repeats its own banner 50× is boilerplate all the same).
    * The count window keys on the 60-bit md5 of the line, so the
    * shuffle carries (doc_id, pos, hash) width — the line text rides
    * only to the rebuild. Docs whose every line was boilerplate
    * survive with empty text and n_kept = 0 (the [[TrainingOps
    * .passageRebuild]] convention) so a downstream length gate drops
    * them explicitly. Returns (doc_id, n_lines, n_kept, clean_text)
    * ordered by doc_id. */
  def lineDedup(docs: DataFrame, maxCount: Long = 3L): DataFrame = {
    require(maxCount >= 2, s"maxCount < 2 would drop every line")
    docs
      .select(col("doc_id"),
        posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
      .withColumn("n_occ",
        count("*").over(Window.partitionBy(md5Hash60(col("line")))))
      .groupBy("doc_id")
      .agg(
        count("*").as("n_lines"),
        sum(when(col("n_occ") < maxCount, 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          sort_array(collect_list(when(col("n_occ") < maxCount,
            struct(col("pos"), col("line"))))),
          s => s.getField("line")), "\n").as("clean_text"))
      .orderBy("doc_id")
  }

  // ---- Gopher-style quality gates ------------------------------------

  /** Per-document repetition/quality metrics (the Gopher/MassiveText
    * rule family) with an overall pass flag. All metrics are exact
    * integers; the thresholds are integer cross-multiplications:
    *   - enough tokens:      n_tokens >= minTokens
    *   - low 2-gram repeat:  n_dup_2grams * 100 <= maxDupPct * n_2grams
    *   - low top-token share: max_tf * 100 <= maxTopPct * n_tokens
    * Docs failing any gate get pass = false — the filter a curation
    * pipeline applies before training. */
  def qualityRules(docs: DataFrame, minTokens: Int = 50,
      maxDupPct: Int = 20, maxTopPct: Int = 10): DataFrame = {
    // Single-pass codegen'd kernel: five per-doc numbers straight off
    // the scan — no explode, no shuffle, no join (the relational
    // explode→groupBy→join formulation shuffles every token twice).
    // Two-step select = CollapseProject sharing barrier, so the
    // kernel runs once per row, not once per output column.
    // coalesce: a null text must gate as an EMPTY doc (pass = false),
    // not propagate NULL through every metric — the oracle's LEFT JOIN
    // + coalesce semantics, and a NULL pass flag would silently slip
    // through a filter(col("pass")) curation gate.
    val stats = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.TokenStats(
        org.apache.spark.sql.graft.ColumnBridge.expression(
          coalesce(col("text"), lit("")))))
    docs
      .select(col("doc_id"), stats.as("q"))
      .select(
        col("doc_id"),
        col("q.n_tokens").as("n_tokens"),
        col("q.n_distinct_tokens").as("n_distinct_tokens"),
        col("q.max_tf").as("max_tf"),
        col("q.n_2grams").as("n_2grams"),
        (col("q.n_2grams") - col("q.n_distinct_2grams")).as("n_dup_2grams"))
      .withColumn("pass",
        col("n_tokens") >= minTokens &&
          col("n_dup_2grams") * 100 <= lit(maxDupPct) * col("n_2grams") &&
          col("max_tf") * 100 <= lit(maxTopPct) * col("n_tokens"))
      .orderBy("doc_id")
  }

  /** The per-group (thr, ties_kept) relation behind
    * [[topFractionByGroup]]: threshold = smallest score whose
    * strictly-above count is < k (k = ceil(n·keepBp/10⁴), long
    * arithmetic so n up to ~9e14 cannot wrap — the ngramJaccardPrefix
    * lesson); ties_kept = how many id-ordered rows AT the threshold
    * still fit. Built entirely from the (grp, score) HISTOGRAM — one
    * map-side-combined count, a cumulative window whose partitions
    * are histogram rows (bounded by the score range, so WindowExec's
    * one-partition warning cannot bite), group sizes derived from the
    * histogram rather than a second corpus pass. The |grps|-row
    * result is localCheckpointed so consumers don't re-derive the
    * corpus lineage per reference (the ScanAudit class of bug:
    * topFractionByGroup read the corpus 6x before). */
  private def groupThresholds(s: DataFrame, keepBp: Int): DataFrame = {
    require(keepBp > 0 && keepBp <= 10000,
      s"keepBp=$keepBp must be in (0, 10000]")
    val hist = s.groupBy("grp", "score").agg(count(lit(1)).as("cnt"))
    val cum = hist.withColumn("cum",
      sum("cnt").over(Window.partitionBy("grp")
        .orderBy(col("score").desc)))
    val quota = hist.groupBy("grp").agg(sum("cnt").as("n"))
      .select(col("grp"),
        expr(s"(n * CAST($keepBp AS BIGINT) + 9999) DIV 10000").as("k"))
    cum.join(quota, "grp")
      .filter(col("cum") - col("cnt") < col("k"))
      .groupBy("grp").agg(
        min(col("score")).as("thr"),
        min_by(col("cum") - col("cnt"), col("score")).as("above"),
        max(col("k")).as("k"))
      .select(col("grp"), col("thr"),
        (col("k") - col("above")).as("ties_kept"))
      .localCheckpoint()
  }

  /** PER-GROUP top-fraction selection WITHOUT a group-wide sort —
    * keep the best `keepBp`/10000 of each group's rows by an INTEGER
    * score, ties broken by smallest id. This is per-source quality
    * CALIBRATION: a single global threshold keeps whatever the
    * easiest domains emit and starves the hard ones, so curation
    * keeps a fixed fraction per source instead — and the naive
    * `row_number() OVER (PARTITION BY source ORDER BY score)` does it
    * by SORTING EVERY ROW of every group, a skewed-domain disaster at
    * corpus scale (one hot domain = one giant sorted partition).
    *
    * Here the sort moves to the score HISTOGRAM: (1) one map-side
    * combined count per (group, score) — the integer score bounds the
    * histogram at |groups|·|score range| rows regardless of corpus
    * size; (2) a cumulative scan per group over THAT relation finds
    * the threshold score and how many threshold-score ties to keep;
    * (3) rows above the threshold pass with a broadcast-joined
    * filter (no shuffle of the corpus), and ONLY the threshold-score
    * stratum ranks its ties by id. Exactness is preserved — same k
    * rows as the naive window, spec-pinned — at a sort cost bounded
    * by the score cardinality plus one stratum, not the corpus.
    *
    * `scored`: (id, grp, score[integer]). `keepBp` in basis points;
    * k = ceil(n·keepBp/10000) per group, long arithmetic so n up to
    * ~9e14 cannot wrap (the ngramJaccardPrefix lesson). Returns the
    * kept (id, grp, score) rows. */
  def topFractionByGroup(scored: DataFrame, keepBp: Int): DataFrame = {
    val s = scored.toDF("id", "grp", "score")
    val thr = groupThresholds(s, keepBp)
    // ONE pass over the scored rows: the threshold filter drops the
    // non-kept mass inside the scan stage, and the ranking window
    // partitions by (grp, score) — every partition is one score's tie
    // stratum (WindowExec's one-partition warning cannot bite), with
    // only the threshold stratum's rank actually consulted
    s.join(broadcast(thr), "grp")
      .filter(col("score") >= col("thr"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("grp", "score").orderBy(col("id").asc)))
      .filter(col("score") > col("thr") || col("__rn") <= col("ties_kept"))
      .select(col("id"), col("grp"), col("score"))
      .orderBy("id")
  }

  /** [[topFractionByGroup]] on the documents table: per-SOURCE
    * calibrated quality keep. The score is [[TextOps.textQuality]]'s
    * length x non-stopword x alphabetic product in E4 fixed point —
    * floor(q·10⁴ + 0.5), the engine-neutral half-up convention
    * (round() half-cases are engine-defined; floor(x+0.5) is not) —
    * so the histogram is exact integers and the DuckDB oracle replays
    * both the score and the per-source selection bit-for-bit. */
  def qualityCalibrated(docs: DataFrame, keepBp: Int = 2500): DataFrame =
    topFractionByGroup(
      docs.select(col("doc_id"), col("source"),
        qualityScoreE4(col("text")).as("score")),
      keepBp)
      .select(col("id").as("doc_id"), col("grp").as("source"), col("score"))

  /** The E4-integer quality score behind [[qualityCalibrated]] — ONE
    * shared Column (it wraps [[graft.functions.TextAnalysis
    * .qualityScore]], the same product q_text_quality emits) so the
    * batch selector, its oracle, the per-source threshold trainer,
    * and the streaming gate
    * ([[graft.streaming.EventStreams.qualityGateStream]]) all compute
    * the identical bits (the `EventOps.anomalyScore` convention).
    * Degenerate documents — null text, empty text, whitespace-only —
    * score 0 rather than NULL: a NULL score would silently fall out
    * of the keep while still counting toward the group's quota, and
    * the engines disagree on NULL/NaN arithmetic (the
    * [[qualityRules]] coalesce rule). */
  def qualityScoreE4(text: Column): Column = {
    val t = coalesce(text, lit(""))
    when(size(wsTokens(t)) === 0 || length(t) === 0, lit(0L))
      .otherwise(floor(graft.functions.TextAnalysis.qualityScore(t)
        * lit(10000.0) + lit(0.5)).cast("long"))
  }

  /** The per-source threshold relation a deployment MATERIALIZES to
    * serve new data: (source, thr) — the minimum score the batch keep
    * admits per group, straight from [[topFractionByGroup]]'s own
    * threshold computation (ties_kept >= 1 always, so the threshold
    * score IS the minimum admitted score — no second corpus pass to
    * re-derive it from the kept rows). New documents gate on
    * `score >= thr` with no corpus in sight (the batch's tie-quota is
    * a selection concern, not a serving one — at the threshold score
    * a serving gate admits; see
    * [[graft.streaming.EventStreams.qualityGateStream]]). */
  def qualityThresholds(docs: DataFrame, keepBp: Int = 2500): DataFrame =
    groupThresholds(
      docs.select(col("doc_id"), col("source"),
        qualityScoreE4(col("text")).as("score")).toDF("id", "grp", "score"),
      keepBp)
      .select(col("grp").as("source"), col("thr"))
      .orderBy("source")

  /** Per-source corpus health report — the monitoring query a
    * curation pipeline runs on every ingest batch: document count,
    * exact-duplicate rate (md5 fingerprints, integer basis points),
    * token mass, quality-gate pass count ([[qualityRules]]' gates,
    * same integer cross-multiplied thresholds), and language spread.
    * ONE pass over the scan: fingerprints and the single-pass
    * TokenStats kernel ride the same projection, then one aggregation
    * by source (the two exact distincts Expand the aggregate input
    * 2x — the profileTable trade-off, acceptable because the rows are
    * (source, fp, lang)-width, never text). */
  def corpusHealth(docs: DataFrame, minTokens: Int = 50,
      maxDupPct: Int = 20, maxTopPct: Int = 10): DataFrame = {
    val stats = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.TokenStats(
        org.apache.spark.sql.graft.ColumnBridge.expression(
          coalesce(col("text"), lit("")))))
    docs
      .select(col("source"), col("lang"),
        md5(coalesce(col("text"), lit(""))).as("fp"), stats.as("q"))
      .select(col("source"), col("lang"), col("fp"),
        col("q.n_tokens").as("n_tokens"),
        (col("q.n_tokens") >= minTokens &&
          (col("q.n_2grams") - col("q.n_distinct_2grams")) * 100 <=
            lit(maxDupPct) * col("q.n_2grams") &&
          col("q.max_tf") * 100 <= lit(maxTopPct) * col("q.n_tokens"))
          .as("pass"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_distinct"),
        sum("n_tokens").as("n_tokens"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
        countDistinct(col("lang")).as("n_langs"))
      .withColumn("dup_bp",
        expr("(n_docs - n_distinct) * 10000 DIV n_docs"))
      .select("source", "n_docs", "n_distinct", "dup_bp", "n_tokens",
        "n_pass", "n_langs")
      .orderBy("source")
  }

  /** Fixed-quota-per-stratum sampling: exactly `min(quota, |stratum|)`
    * rows per stratum, chosen by ranking on the engine-neutral hash of
    * the key (then the key itself — a total, reproducible order).
    * Complements the rate-based [[stratifiedHashSample]]: quotas give
    * balanced strata regardless of their raw sizes (the "N docs per
    * language" eval-set shape). One shuffle on the stratum key; a
    * degenerate stratum degrades to a spilled per-partition sort, and
    * rank-k selection is window-group-limited (no full materialized
    * rank). */
  def quotaSample(docs: DataFrame, quota: Int,
      stratumCol: String = "lang", keyCol: String = "doc_id"): DataFrame = {
    require(quota > 0)
    val rn = "__graft_quota_rn"
    require(!docs.columns.contains(rn),
      s"input already has a $rn column") // never silently clobber/drop
    val w = Window.partitionBy(stratumCol)
      .orderBy(md5Hash60(col(keyCol).cast("string")).asc, col(keyCol).asc)
    docs
      .withColumn(rn, row_number().over(w))
      .filter(col(rn) <= quota)
      .drop(rn)
  }

  /** Weighted sample of `k` documents WITHOUT replacement, integer-
    * exact. The A-ES scheme (Efraimidis & Spirakis 2006) keys each row
    * with u^(1/w) for uniform u and takes the top k — but pow/ln on
    * doubles is exactly the cross-engine float hazard the sampling
    * family avoids. For INTEGER weights there is an equivalent that
    * never leaves integer space: the max of w iid uniforms has CDF
    * x^w, the same law as u^(1/w), so
    *
    *   key(doc) = max_{j=1..w} md5Hash60(doc_id ":" j)
    *
    * is distributed exactly as an A-ES key, and the top-k cut compares
    * 60-bit integers — bit-identical in DuckDB. The replicas live
    * inside a per-row `transform(sequence(...))` (no explode, no extra
    * shuffle); the plan is one scan + TakeOrderedAndProject, the same
    * 100 TB shape as every other top-k here. Weights outside
    * [1, maxWeight] fail the job loudly at the first offending ROW
    * (`raise_error` inside the key expression — no extra validation
    * pass over the corpus, and no silent clamp skewing the sample).
    * Returns (doc_id, wt, sample_key) ordered by doc_id. */
  def weightedSample(docs: DataFrame, k: Int, weightCol: Column,
      maxWeight: Long = 1000L): DataFrame = {
    require(k > 0)
    val wt = weightCol.cast("long")
    docs
      .select(col("doc_id"), wt.as("wt"))
      .withColumn("sample_key", when(
        col("wt").between(1L, maxWeight),
        array_max(transform(
          sequence(lit(1L), col("wt")),
          j => md5Hash60(concat(col("doc_id").cast("string"), lit(":"),
            j.cast("string"))))))
        .otherwise(raise_error(concat(
          lit(s"weightedSample: weight outside [1, $maxWeight] for doc_id="),
          col("doc_id").cast("string"),
          lit(" — clamp or rescale weights explicitly upstream")))))
      .orderBy(col("sample_key").desc, col("doc_id").asc)
      .limit(k)
      .orderBy("doc_id")
  }

  // ---- training-sequence chunking ------------------------------------

  /** Split each document into fixed-token-budget chunks with
    * `overlap` tokens of context carried between consecutive chunks —
    * the sequence-preparation step before tokenizer packing. Chunk
    * starts advance by stride = chunkTokens - overlap; a chunk exists
    * iff it contributes at least one new token, so
    * nChunks = ceil((n - overlap) / stride) (1 for short docs). Pure
    * map over the scan (tokenize once, slice per chunk); output rows
    * carry the chunk text and its exact token count. */
  def chunkTokens(docs: DataFrame, chunkTokens: Int = 64,
      overlap: Int = 8): DataFrame = {
    require(overlap >= 0 && chunkTokens > overlap)
    val stride = chunkTokens - overlap
    docs
      .select(col("doc_id"), wsTokens(col("text")).as("t"))
      .select(col("doc_id"), col("t"), size(col("t")).as("n"))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("t"), col("n"),
        explode(sequence(lit(0),
          greatest(
            expr(s"CAST((n - $overlap + ${stride - 1}) DIV $stride AS INT)"),
            lit(1)) - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        slice(col("t"), col("chunk_idx") * stride + 1, lit(chunkTokens))
          .as("ct"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("ct")).cast("long").as("n_tok"),
        array_join(col("ct"), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Content-defined chunking (CDC — the LBFS/FastCDC idea at token
    * granularity, Muthitacharoen SOSP'01; public algorithms): chunk
    * boundaries fall AFTER any token whose engine-neutral 60-bit md5
    * is ≡ 0 mod `divisor`, plus a forced cut every `maxLen` tokens
    * inside oversized runs. Boundaries depend only on CONTENT, so an
    * insertion re-chunks text only up to the next content boundary and
    * every later chunk is byte-identical — the property that makes
    * passage-level exact dedup robust to edits, where fixed-stride
    * windows ([[chunkTokens]]) shift every downstream chunk and lose
    * all matches after the edit point. Expected chunk length ≈
    * `divisor` (geometric), hard-capped at `maxLen`.
    *
    * Shape: one tokenize pass, then three window families over
    * (doc_id, pos)-width rows (boundary prefix-sum → run id, min-pos
    * within run → forced-cut sub-index, start-pos rank → chunk index)
    * and one grouped assembly — the duplicated-spans convention: no
    * join, nothing quadratic, text re-joined exactly once at the end.
    * The forced cut stays parallel because a cut's position depends
    * only on the token's offset WITHIN its run, never on earlier
    * chunks — the sequential min-size/max-size coupling of classic
    * CDC is deliberately traded for the run-relative rule.
    * Returns (doc_id, chunk_idx, n_tok, chunk_text). */
  def chunkCdc(docs: DataFrame, divisor: Long = 8L,
      maxLen: Int = 24): DataFrame = {
    require(divisor > 1, s"chunkCdc needs divisor > 1, got $divisor")
    require(maxLen > 0, s"chunkCdc needs maxLen > 0, got $maxLen")
    val toks = docs
      .select(col("doc_id"), posexplode(wsTokens(col("text"))))
      .toDF("doc_id", "pos", "tok")
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val wRun = Window.partitionBy("doc_id", "run")
    val chunks = toks
      .withColumn("bnd",
        (md5Hash60(col("tok")) % divisor === 0L).cast("long"))
      .withColumn("run", coalesce(
        sum("bnd").over(wDoc.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("minp", min("pos").over(wRun))
      .withColumn("sub", expr(s"(pos - minp) DIV $maxLen"))
      .groupBy(col("doc_id"), col("run"), col("sub"))
      .agg(min("pos").as("start_pos"),
        count(lit(1)).as("n_tok"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("chunk_text"))
    chunks
      .withColumn("chunk_idx",
        (row_number().over(Window.partitionBy("doc_id")
          .orderBy("start_pos")) - 1).cast("long"))
      .select("doc_id", "chunk_idx", "n_tok", "chunk_text")
      .orderBy("doc_id", "chunk_idx")
  }

  // ---- keyword-taxonomy domain tagging -------------------------------

  /** Keyword-taxonomy domain tagging: each document tagged with every
    * taxonomy topic whose keyword list it hits (the cheap
    * domain-classification pass a corpus mix is balanced on — "code",
    * "medical", "legal" buckets from curated keyword lists). The
    * taxonomy is a RELATION of (topic, keyword) rows, not config — a
    * curated 100k-keyword dictionary drops in without a plan change —
    * and it is dictionary-scale, so it broadcasts: the corpus is
    * scanned once and tagged map-side; only the matching (doc_id,
    * topic) rows shuffle into the per-doc aggregation.
    *
    * Output per MATCHED doc: the sorted comma-joined distinct topic
    * list (deterministic cross-engine) and the total keyword-token
    * hit count. Unmatched docs are absent — tagging yields nothing to
    * say about them (callers wanting them join back on doc_id). */
  def topicTag(docs: DataFrame, taxonomy: DataFrame): DataFrame =
    // exactly the all-lengths-are-1 case of [[topicTagPhrases]]
    // (shingles(text, 1) == the token stream), so the match/aggregate
    // contract — sorted topic list, per-position hit counting,
    // unmatched-doc absence — is defined once
    topicTagPhrases(docs, taxonomy)

  /** [[topicTag]] with MULTI-WORD keywords (the FlashText/dictionary-
    * matcher use case: "hash join", "new york" — phrases a word-level
    * matcher cannot see). The distinct keyword lengths are collected
    * from the dictionary (dictionary-scale metadata, like
    * [[Similarity.ivfCentroids]]' sample); the corpus is still
    * scanned ONCE — one projection emits the positional n-gram
    * shingles of every needed length through the codegen'd
    * [[graft.functions.WordShingles]] kernel, concatenated, and the
    * single explode+broadcast-join tags all length classes together.
    * Overlapping phrase hits count separately (positional shingles),
    * matching the SQL oracle's per-position semantics. */
  def topicTagPhrases(docs: DataFrame, taxonomy: DataFrame): DataFrame = {
    val tax = taxonomy.select(col("topic"), col("keyword"),
      size(wsTokens(col("keyword"))).as("n"))
    val lens = tax.select("n").distinct().collect().map(_.getInt(0))
    require(lens.nonEmpty && lens.forall(_ >= 1),
      s"topicTagPhrases: empty or degenerate keyword lengths " +
        s"${lens.mkString(",")}")
    val gramCol = lens.sorted
      .map(n => shingles(col("text"), n))
      .reduce(concat(_, _))
    docs
      .select(col("doc_id"), explode(gramCol).as("word"))
      .join(broadcast(tax.select(col("topic"),
        col("keyword").as("word"))), "word")
      .groupBy("doc_id")
      .agg(
        concat_ws(",", sort_array(collect_set(col("topic"))))
          .as("topics"),
        count("*").as("n_hits"))
      .orderBy("doc_id")
  }

  /** Harness query for [[topicTagPhrases]]: mixed 1- and 2-word
    * keywords so both length classes ride the same scan. */
  def topicTagPhrasesQuery(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tax = Seq(
      ("joins", "hash join"), ("joins", "merge join"),
      ("scans", "scan"), ("scans", "filter"),
      ("streaming", "stream"), ("streaming", "window batch"),
      ("dedup", "dup"))
      .toDF("topic", "keyword")
    topicTagPhrases(docs, tax)
  }

  /** Harness query: a fixed 4-topic taxonomy over the corpus
    * vocabulary, including one genuinely rare keyword ("dup") so the
    * distinct-topic lists actually vary across docs. */
  def topicTagQuery(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tax = Seq(
      ("joins", "join"), ("joins", "merge"), ("joins", "hash"),
      ("scans", "scan"), ("scans", "filter"), ("scans", "column"),
      ("streaming", "stream"), ("streaming", "window"),
      ("streaming", "batch"), ("dedup", "dup"))
      .toDF("topic", "keyword")
    topicTag(docs, tax)
  }

  // ---- benchmark decontamination -------------------------------------

  /** Eval-set leakage check: for every corpus document, the benchmark
    * documents it shares >= `minShared` distinct word `n`-gram
    * shingles with (the Brown/GPT-3-style n-gram decontamination
    * rule). The benchmark side is tiny relative to the corpus, so its
    * exploded shingle index is BROADCAST — the corpus is scanned once,
    * shuffles only the (rare) matching rows into the per-pair count,
    * and at 100 TB this stays a map-side join over the full scan. */
  def decontaminate(docs: DataFrame, bench: DataFrame, n: Int = 3,
      minShared: Long = 2L): DataFrame = {
    val corpusSh = Dedup.shingleIndex(docs, n)
    val benchSh = Dedup.shingleIndex(bench, n)
      .withColumnRenamed("doc_id", "bench_id")
    corpusSh
      .join(broadcast(benchSh), "shingle")
      .groupBy("doc_id", "bench_id").agg(count("*").as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("doc_id", "bench_id")
  }

  /** Harness query: the held-out "benchmark" is the deterministic
    * doc_id % 97 == 0 slice of the corpus (a second table in a real
    * deployment); everything else is checked against it. */
  def decontaminateQuery(docs: DataFrame): DataFrame =
    decontaminate(
      docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(97)) === 0))

  /** Contamination SPAN forensics — the audit artifact behind
    * [[decontaminate]]'s boolean verdict: per flagged (corpus doc,
    * benchmark doc) pair, the distinct shared shingles, the total
    * POSITIONAL hits, and where in the document they sit (first/last
    * token position + covered span). A reviewer adjudicating "real
    * leak or common phrase?" needs exactly this: many hits packed
    * into a short span = a quoted benchmark item; a few hits spread
    * across the document = idiom. The span is also what a surgical
    * redaction (cut the span, keep the doc) consumes — the
    * alternative to dropping whole documents that [[decontaminate]]
    * implies.
    *
    * Scale shape: positional shingles ride a map-side posexplode
    * against the BROADCAST benchmark shingle set — only hits (a
    * vanishing fraction of the corpus stream) reach the aggregation,
    * which groups by the flagged pair. Same one-corpus-pass physics
    * as [[decontaminate]]; at deployment scale the Bloom pre-filter
    * of [[decontaminateBloom]] drops in ahead of the join unchanged. */
  def decontaminationSpans(docs: DataFrame, bench: DataFrame,
      n: Int = 3, minShared: Long = 2L): DataFrame = {
    val benchSh = Dedup.shingleIndex(bench, n)
      .withColumnRenamed("doc_id", "bench_id")
    docs
      .select(col("doc_id"),
        posexplode(shingles(col("text"), n)).as(Seq("pos", "shingle")))
      .join(broadcast(benchSh), "shingle")
      .groupBy("doc_id", "bench_id")
      .agg(countDistinct("shingle").as("n_shared"),
        count(lit(1)).as("n_hits"),
        min("pos").cast("long").as("first_pos"),
        max("pos").cast("long").as("last_pos"))
      .filter(col("n_shared") >= minShared)
      .withColumn("span_tokens",
        col("last_pos") - col("first_pos") + lit(n.toLong))
      .orderBy("doc_id", "bench_id")
  }

  /** [[decontaminate]] at the 100 TB shape: the bench-side shingle set
    * is compressed into a Bloom filter and the corpus-side shingle
    * stream is pre-filtered by a codegen'd might-contain probe BEFORE
    * anything is joined — only probable hits reach the exact broadcast
    * join, which removes the filter's false positives, so the output
    * is IDENTICAL to [[decontaminate]] (same oracle, spec-pinned).
    *
    * Why this matters at scale: the exact operator broadcasts the full
    * bench shingle STRINGS (gigabytes for a large benchmark suite) and
    * every corpus shingle carries through the join machinery. Here the
    * driver collects one byte blob (~1.2 MB per million shingles at
    * fpp 1% — index metadata, the [[Similarity.ivfCentroids]]
    * economics), embeds it as a literal, and the probe
    * ([[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]]
    * over `xxhash64(shingle)` — the same expression pair Spark's own
    * runtime row-level filtering plants, no UDF) drops the ~all-clean
    * corpus stream inside the scan stage. The bench side is read
    * twice (hash pass for the filter, string pass for the verify
    * join) — both tiny next to one corpus pass. */
  /** The Bloom pre-filter predicate over a `shingle` column for
    * `bench`'s shingle set: builds the filter with one distributed
    * aggregate, collects the byte blob (index metadata), and returns
    * the codegen'd might-contain probe as a literal-backed Column.
    * Exposed separately so specs can measure the pruning ratio. */
  def shingleBloomProbe(bench: DataFrame, n: Int = 3,
      fpp: Double = 0.01): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.types.BinaryType
    require(fpp > 0.0 && fpp < 1.0, s"fpp out of (0,1): $fpp")
    val hashes = Dedup.shingleIndex(bench, n)
      .select(xxhash64(col("shingle")).as("h"))
    val nItems = math.max(1L, hashes.count())
    // optimal bit count for the target false-positive rate
    val numBits = math.max(64L,
      math.ceil(-nItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val blobRow = hashes.select(ColumnBridge.column(
      new BloomFilterAggregate(ColumnBridge.expression(col("h")),
        Literal(nItems), Literal(numBits)).toAggregateExpression()).as("bf"))
      .head
    // empty bench -> null blob -> probe is null -> a filter keeps
    // nothing, which is exactly the exact join's answer there
    val blob = if (blobRow.isNullAt(0)) null else blobRow.getAs[Array[Byte]](0)
    ColumnBridge.column(BloomFilterMightContain(
      Literal.create(blob, BinaryType),
      ColumnBridge.expression(xxhash64(col("shingle")))))
  }

  def decontaminateBloom(docs: DataFrame, bench: DataFrame, n: Int = 3,
      minShared: Long = 2L, fpp: Double = 0.01): DataFrame = {
    val corpusSh = Dedup.shingleIndex(docs, n)
    val benchSh = Dedup.shingleIndex(bench, n)
      .withColumnRenamed("doc_id", "bench_id")
    corpusSh
      .filter(shingleBloomProbe(bench, n, fpp))
      .join(broadcast(benchSh), "shingle")
      .groupBy("doc_id", "bench_id").agg(count("*").as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("doc_id", "bench_id")
  }

  /** Harness twin of [[decontaminateQuery]] through the Bloom
    * pre-filter — same split, same oracle. */
  def decontaminateBloomQuery(docs: DataFrame): DataFrame =
    decontaminateBloom(
      docs.filter(pmod(col("doc_id"), lit(97)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(97)) === 0))

  // ---- cross-source overlap via theta sketches -----------------------

  /** Pairwise content overlap between sources, measured on DISTINCT
    * word `n`-gram shingles and computed entirely from mergeable
    * theta sketches (Apache DataSketches, Spark-native aggregates and
    * set-operation expressions — no UDFs): one sketch per source,
    * then |A|, |B|, |A ∩ B| and |A ∪ B| for every source pair read
    * off the |sources|-row sketch relation. The set-ALGEBRA member of
    * the engine's sketch family (HLL = distinct count, CMS = point
    * frequency, Misra–Gries = heavy hitters, Bloom = membership):
    * only theta supports intersection/difference, which is what a
    * cross-corpus contamination audit ("how much of source B's
    * content is already in A?") needs.
    *
    * Scale shape: the corpus is scanned ONCE (shingles dedupe inside
    * the sketch — no DISTINCT shuffle of the shingle strings), each
    * source reduces to one <=8·2^lgK-byte sketch, and every pairwise
    * measure is sketch algebra over those blobs. The shingle-level
    * alternative is a self-join whose common-pair stage shuffles the
    * full shingle index |pairs| times. At 100 TB you persist the
    * per-source/day sketches (index metadata, like the Bloom blob in
    * [[shingleBloomProbe]]) and answer overlap questions across any
    * slice union later without re-reading the corpus.
    *
    * Exactness regime (the CMS/[[graft.functions.HeavyHitters]]
    * pattern): a theta sketch is exact while its retained entries
    * stay under the nominal 2^lgK — no hash is ever discarded, so
    * every estimate equals the true distinct count. lgK = 18 (≤2 MB
    * of state per source, still index-metadata-sized) holds the exact
    * regime through the 10x rehearsal (~110k shingles/source at
    * sf1.0; ~11k at sf0.1), so the harness entry carries the exact
    * SQL oracle at every rehearsed scale; at 100 TB the estimates
    * turn approximate — which is the sketch earning its keep, with
    * the sampling regime's error bound spec-pinned separately
    * (CorpusOpsSpec). */
  def sourceOverlapSketch(docs: DataFrame, n: Int = 3,
      lgK: Int = 18): DataFrame =
    // materialize the |sources|-row sketch relation ONCE: a plain
    // self-join would re-run the corpus scan + shingle + sketch
    // lineage for each side (Spark does not share subplans across
    // self-join branches) — the single expensive pass is the whole
    // point of sketching. Same localCheckpoint device as Clustering's
    // iteration state; the relation is tiny. A deployment persists
    // sourceSketches to parquet instead and calls overlapFromSketches
    // on the stored index (spec-pinned round trip).
    overlapFromSketches(sourceSketches(docs, n, lgK).localCheckpoint(), lgK)

  /** The corpus pass of [[sourceOverlapSketch]], exposed separately:
    * one theta sketch per source over its distinct shingles —
    * `(source string, sk binary)`. This relation IS the overlap
    * index: persist it (plain parquet, binary column) and
    * [[overlapFromSketches]] answers every pairwise question later
    * without the corpus — the materialize-once shape of
    * `Dedup.bandBuckets` and the Bloom blob, for set algebra. */
  def sourceSketches(docs: DataFrame, n: Int = 3,
      lgK: Int = 18): DataFrame =
    docs
      .select(col("source"), explode(shingles(col("text"), n)).as("sh"))
      .groupBy("source")
      .agg(theta_sketch_agg(col("sh"), lgK).as("sk"))

  /** Merge per-slice (source, sk) sketch relations into one — the
    * INCREMENTAL maintenance of the sketch index: each ingest batch
    * builds its own [[sourceSketches]] relation (one corpus pass over
    * the batch only), and this fold unions them per source with
    * `theta_union_agg` — so the stored index absorbs a delta without
    * the base corpus ever being re-read, and [[overlapFromSketches]]
    * answers off the merged relation exactly as off a from-scratch
    * build (theta unions are associative; estimates identical in the
    * exact sub-nominal regime, spec-pinned). `lgK` must be the value
    * the sketches were built with — the aggregate's default
    * (12 = 4096 nominal) silently re-samples larger exact sketches,
    * the same trap the pairwise union hit at the round-5 rehearsal. */
  def mergeSourceSketches(slices: Seq[DataFrame],
      lgK: Int = 18): DataFrame = {
    require(slices.nonEmpty, "mergeSourceSketches needs >= 1 slice")
    slices.reduce(_.unionByName(_))
      .groupBy("source")
      .agg(theta_union_agg(col("sk"), lgK).as("sk"))
  }

  /** Pairwise overlap measures off a (source, sk) sketch relation —
    * no corpus access; stored sketches from ANY slice union work
    * (theta sketches merge associatively). `lgK` must be the value
    * the sketches were built with (it sizes the union). */
  def overlapFromSketches(sk: DataFrame, lgK: Int = 18): DataFrame = {
    val a = sk.select(col("source").as("src_a"), col("sk").as("sk_a"))
    val b = sk.select(col("source").as("src_b"), col("sk").as("sk_b"))
    // |sources|^2 candidate pairs of one-row-per-source sketches — the
    // nested-loop join is over the tiny reduced relation, never data
    a.join(b, col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        theta_sketch_estimate(col("sk_a")).as("n_a"),
        theta_sketch_estimate(col("sk_b")).as("n_b"),
        theta_sketch_estimate(theta_intersection(col("sk_a"), col("sk_b")))
          .as("n_common"),
        // theta_union takes its OWN nominal-entries parameter and its
        // default (lgK 12 = 4096) silently re-samples the union of two
        // larger exact sketches — n_union under-estimated ~1.7% at the
        // 10x rehearsal while every other column stayed exact. The
        // union must inherit the operator's lgK. (Intersection has no
        // such parameter: it can only shrink its inputs.)
        theta_sketch_estimate(theta_union(col("sk_a"), col("sk_b"), lgK))
          .as("n_union"))
      .orderBy("src_a", "src_b")
  }

  // ---- model-based quality scoring -----------------------------------

  /** The weight relation for [[modelQualityScore]]: `dim` rows of
    * (bucket, w_int) with w_int in [-1000, 1000] — integer
    * ten-thousandths, so weight = w_int / 1e4 in [-0.1, 0.1]. The
    * weights here are a deterministic placeholder (a Knuth-hash ramp
    * the oracle reproduces in SQL); a trained model drops its real
    * weights into this same relation without touching the scoring
    * plan. */
  def linearModelWeights(spark: org.apache.spark.sql.SparkSession,
      dim: Int): DataFrame =
    spark.range(dim).select(col("id").as("bucket"),
      ((col("id") * 2654435761L) % 2001L - 1000L).as("w_int"))

  /** Model-based quality scoring with the hashing trick (the
    * fastText-style linear-classifier shape used for corpus quality /
    * domain filters): every token hashes into one of `dim` feature
    * buckets, the broadcast weight relation supplies each bucket's
    * weight, and a document's score is the sum of its token weights
    * plus a bias — `keep` is the sign. Complements the hand-written
    * rule gates ([[qualityRules]]): rules encode priors, a trained
    * linear scorer encodes data, and at 100 TB both run as the same
    * shape — one tokenize pass, a broadcast map-side join against the
    * O(dim)-row model, one partial-aggregated sum per document. No
    * model object ever leaves the plan: the "model" IS a relation.
    *
    * Exactness: the feature hash is the engine-neutral 60-bit md5
    * ([[graft.functions.TextAnalysis.md5Hash60]]) and all arithmetic
    * until the final divide is INTEGER (w_int ten-thousandths summed
    * as longs — order-independent, so partitioning cannot perturb the
    * score), which is what lets the harness entry carry a bit-exact
    * SQL oracle. biasE4 is the bias in the same integer ten-
    * thousandths. */
  def modelQualityScore(docs: DataFrame, dim: Int = 1024,
      biasE4: Long = -500L): DataFrame = {
    require(dim > 0)
    val spark = docs.sparkSession
    val feats = docs
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("word"))
      .select(col("doc_id"), pmod(md5Hash60(col("word")), lit(dim.toLong))
        .as("bucket"))
    feats
      .join(broadcast(linearModelWeights(spark, dim)), "bucket")
      .groupBy("doc_id")
      .agg(count("*").as("n_tok"), sum("w_int").as("s_int"))
      .select(col("doc_id"), col("n_tok"),
        round((col("s_int") + biasE4) / 10000.0, 4).as("score"),
        (col("s_int") + biasE4 > 0).as("keep"))
      .orderBy("doc_id")
  }

  /** TRAINING for the [[modelQualityScore]] family: multinomial
    * Naive Bayes with add-one smoothing over hashed bag-of-words
    * features — the canonical text classifier whose training is
    * CLOSED FORM, which is exactly what makes it the right trainer at
    * 100 TB: no iterations, no learning rate, no convergence
    * question — training is ONE tokenize + one bucket-keyed
    * aggregation with map-side partial sums, and the model is a
    * relation (it never leaves the plan).
    *
    * Output, one row per feature bucket plus the `bucket = -1`
    * intercept row: raw class token counts (c_pos, c_neg — the
    * sufficient statistics, exact integers) and the E4 fixed-point
    * log-likelihood-ratio weight
    *   w[b]  = round(10⁴·(log2(c_pos+1) − log2(T_pos+V)
    *                     − log2(c_neg+1) + log2(T_neg+V)))
    *   bias  = round(10⁴·(log2(n_pos) − log2(n_neg)))
    * so a document's NB decision is the all-integer
    * `bias + Σ_b x_b·w[b] > 0` — [[modelQualityScore]] physics with
    * learned weights, bit-exact across engines (the only float is
    * inside the round, the lmSurprisal ulp rule). A batch perceptron
    * was tried here first and rejected by measurement: with 5%/95%
    * class skew the full-batch update cycles between all-positive and
    * all-negative for 30+ rounds (seq. updates don't distribute), while
    * NB separates the same data at 99.4% training accuracy in one pass.
    *
    * Both classes must be non-empty (a one-class "classifier" is a
    * bug upstream): enforced in-plan via raise_error on the intercept
    * row, so the guard costs nothing and fails loudly. */
  def trainNaiveBayes(examples: DataFrame, dim: Int = 64): DataFrame = {
    require(dim > 0)
    val spark = examples.sparkSession
    val cnt = examples
      .select(col("y").cast("long").as("y"),
        explode(wsTokens(col("text"))).as("word"))
      .select(col("y"),
        pmod(md5Hash60(col("word")), lit(dim.toLong)).as("bucket"))
      .groupBy("bucket")
      .agg(sum(when(col("y") === 1L, 1L).otherwise(0L)).as("c_pos"),
        sum(when(col("y") === 0L, 1L).otherwise(0L)).as("c_neg"))
      // dim-row relation; the checkpoint keeps the totals branch from
      // re-running the tokenize lineage (the lmSurprisal pattern)
      .localCheckpoint()
    val tot = cnt.agg(sum("c_pos").as("t_pos"), sum("c_neg").as("t_neg"))
    val weights = spark.range(dim).select(col("id").as("bucket"))
      .join(cnt, Seq("bucket"), "left")
      .na.fill(0L, Seq("c_pos", "c_neg"))
      .crossJoin(broadcast(tot))
      .select(col("bucket"), col("c_pos"), col("c_neg"),
        round(lit(10000.0) *
          (log2(col("c_pos") + 1) - log2(col("t_pos") + dim) -
            log2(col("c_neg") + 1) + log2(col("t_neg") + dim)))
          .cast("long").as("w_int"))
    // intercept row: class DOC counts (zero-token docs still count
    // toward the prior) + the loud both-classes-present guard
    val bias = examples
      .agg(sum(when(col("y") === 1, 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("y") === 0, 1L).otherwise(0L)).as("n_neg"))
      .select(lit(-1L).as("bucket"),
        col("n_pos").as("c_pos"), col("n_neg").as("c_neg"),
        when(col("n_pos") === 0 || col("n_neg") === 0,
          expr("raise_error('trainNaiveBayes: a class is empty')")
            .cast("long"))
          .otherwise(round(lit(10000.0) *
            (log2(col("n_pos")) - log2(col("n_neg")))).cast("long"))
          .as("w_int"))
    weights.unionByName(bias).orderBy("bucket")
  }

  /** NB decision over a trained [[trainNaiveBayes]] relation:
    * per-(label, prediction) document counts — the training-set
    * confusion matrix, all-integer (scores are exact E4 sums).
    * One tokenize pass; the model relation broadcasts. */
  def naiveBayesConfusion(examples: DataFrame, model: DataFrame,
      dim: Int = 64): DataFrame = {
    require(dim > 0, "dim must match the trained model's")
    val w = model.filter(col("bucket") >= 0)
      .select(col("bucket"), col("w_int"))
    val bias = model.filter(col("bucket") === -1L)
      .select(col("w_int").as("bias_int"))
    val sums = examples
      .select(col("doc_id"),
        explode(wsTokens(col("text"))).as("word"))
      .select(col("doc_id"),
        pmod(md5Hash60(col("word")), lit(dim.toLong)).as("bucket"))
      .join(broadcast(w), "bucket")
      .groupBy("doc_id").agg(sum("w_int").as("s"))
    // LEFT join from examples: a zero-token doc has no feature rows
    // but still gets a prediction (the bias decides) — serving scores
    // it too, and the confusion cells must sum to the doc count
    examples.select(col("doc_id"), col("y").cast("long").as("y"))
      .join(sums, Seq("doc_id"), "left")
      .na.fill(0L, Seq("s"))
      .crossJoin(broadcast(bias))
      .select(col("y"),
        when(col("s") + col("bias_int") > 0, 1L).otherwise(0L)
          .as("pred"))
      .groupBy("y", "pred").agg(count("*").as("n_docs"))
      .orderBy("y", "pred")
  }

  /** DPO-style preference-pair mining: per source, the k BEST-scoring
    * documents paired rank-for-rank against the k WORST — the
    * (chosen, rejected) construction preference-tuning datasets are
    * built from when only a pointwise quality score exists. Scores
    * are [[modelQualityScore]]'s integer path (so pairing is
    * bit-exact); both extremes come from the bounded-heap
    * [[graft.functions.GroupTopK]] aggregate — the worst side feeds
    * the NEGATED score, the [[quotaSampleAgg]] trick — so each map
    * partition ships <= k 16-byte entries per source and no
    * source-wide window sort runs. Pairs where the "chosen" doc does
    * not strictly outscore the "rejected" one (small sources where
    * the halves overlap) are dropped by the margin > 0 filter.
    *
    * Output: (source, pair_idx, chosen_doc, rejected_doc, margin),
    * margin in integer ten-thousandths. */
  def preferencePairs(docs: DataFrame, k: Int = 5,
      dim: Int = 1024): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    require(k > 0 && dim > 0)
    val spark = docs.sparkSession
    val scored = docs
      .select(col("source"), col("doc_id"),
        explode(wsTokens(col("text"))).as("word"))
      .select(col("source"), col("doc_id"),
        pmod(md5Hash60(col("word")), lit(dim.toLong)).as("bucket"))
      .join(broadcast(linearModelWeights(spark, dim)), "bucket")
      .groupBy("source", "doc_id").agg(sum("w_int").as("s_int"))
    def heap(valCol: org.apache.spark.sql.Column) =
      ColumnBridge.column(graft.functions.GroupTopK(
        ColumnBridge.expression(col("doc_id")),
        ColumnBridge.expression(valCol), k).toAggregateExpression())
    // BOTH heaps ride ONE aggregation over the scored relation — two
    // separate groupBys would re-run the corpus-scale scoring lineage
    // twice (the perplexityBuckets lesson). Per source the heaps hold
    // the same min(k, n) entries, so arrays_zip aligns rank i's best
    // with rank i's worst and the join disappears entirely.
    scored.groupBy("source")
      .agg(heap(col("s_int")).as("tb"), heap(-col("s_int")).as("tw"))
      .select(col("source"),
        posexplode(arrays_zip(col("tb"), col("tw")))
          .as(Seq("pair_idx", "z")))
      .filter(col("z.tb.val") > -col("z.tw.val"))
      .select(col("source"),
        (col("pair_idx") + 1).cast("long").as("pair_idx"),
        col("z.tb.key").as("chosen_doc"),
        col("z.tw.key").as("rejected_doc"),
        (col("z.tb.val") + col("z.tw.val")).as("margin"))
      .orderBy("source", "pair_idx")
  }

  /** The SERVING form of a trained [[trainNaiveBayes]] relation: the
    * dictionary-scale weight table collapsed to (bucket -> w_int,
    * bias) driver values — index metadata, the
    * [[Similarity.ivfCentroids]] convention. Training-scale EVAL uses
    * the relation join ([[naiveBayesConfusion]]); serving a stream
    * uses this literal form so scoring is a stateless map. */
  def nbServingModel(model: DataFrame): (Map[Long, Long], Long) = {
    val rows = model.select(col("bucket"), col("w_int"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val bias = rows.toMap.getOrElse(-1L,
      sys.error("nbServingModel: model has no intercept row"))
    (rows.filter(_._1 >= 0).toMap, bias)
  }

  /** All-integer NB score of `text` against a literal serving model:
    * bias + Σ_tokens w[bucket(token)]. A pure column expression — no
    * join, no shuffle, no state — so it runs identically over a batch
    * relation and a streaming one (the train-batch/serve-stream
    * loop). Buckets absent from the map score 0. */
  def nbScoreColumn(text: Column, weights: Map[Long, Long],
      biasInt: Long, dim: Int = 64): Column = {
    require(dim > 0 && weights.nonEmpty,
      "nbScoreColumn: empty model or degenerate dim")
    val m = map(weights.toSeq.sortBy(_._1)
      .flatMap { case (b, w) => Seq(lit(b), lit(w)) }: _*)
    aggregate(wsTokens(text), lit(biasInt),
      (acc, w) => acc + coalesce(
        element_at(m, pmod(md5Hash60(w), lit(dim.toLong))), lit(0L)))
  }

  private def markerExamples(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"),
      array_contains(wsTokens(col("text")), "dup").cast("int").as("y"))

  /** Harness query: train a 64-bucket NB probe to flag documents
    * containing the rare marker token "dup" — the trainer must
    * recover the marker's bucket from counts alone (it does: that
    * bucket's weight lands ~2x above every other). */
  def trainNaiveBayesQuery(docs: DataFrame): DataFrame =
    trainNaiveBayes(markerExamples(docs))

  /** The marker probe trained as a standalone relation — the
    * cacheable upstream of both harness probe queries (train once,
    * serve the relation AND score with it). */
  def markerNbModel(docs: DataFrame): DataFrame =
    trainNaiveBayes(markerExamples(docs))

  /** Confusion matrix of an ALREADY-TRAINED model over the marker
    * examples — the shared-upstream form. */
  def naiveBayesEvalFrom(docs: DataFrame, model: DataFrame): DataFrame =
    naiveBayesConfusion(markerExamples(docs), model)

  /** Harness query: the trained probe's training-set confusion
    * matrix — the proof the learned relation actually classifies. */
  def naiveBayesEvalQuery(docs: DataFrame): DataFrame =
    naiveBayesEvalFrom(docs, markerNbModel(docs).localCheckpoint())

  // ---- vocabulary pruning + <unk> re-mapping -------------------------

  /** Classic LM preprocessing: fix the vocabulary to the corpus's
    * `topK` most frequent words (ties broken lexicographically — a
    * total order, so the vocabulary is deterministic cross-engine)
    * and rewrite every document with out-of-vocabulary tokens
    * replaced by `<unk>`. Output carries the rewritten text plus the
    * per-doc token/unk counts, so coverage is auditable in the same
    * pass.
    *
    * Shape: one corpus scan builds the word-count relation
    * (vocabulary-scale); the top-K cut is a TakeOrderedAndProject-
    * style limit on it, NOT a global sort of the corpus. The rewrite
    * is the scalable join form — tokens exploded with positions, left
    * join against the broadcast vocabulary, reassembled in position
    * order — so a 500k-word vocabulary works the same as the 20-word
    * test one (an `array_contains` against a collected literal would
    * cap vocabulary size at what fits in a plan). The reassembly
    * window shuffles (doc_id, pos, token)-width rows once. */
  def applyVocab(docs: DataFrame, topK: Int): DataFrame = {
    require(topK > 0)
    val vocab = docs
      .select(explode(wsTokens(col("text"))).as("word"))
      .groupBy("word").agg(count("*").as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(topK)
      .select(col("word"), lit(1).as("in_v"))
    val toks = docs
      .select(col("doc_id"),
        posexplode(wsTokens(col("text"))).as(Seq("pos", "word")))
      .join(broadcast(vocab), Seq("word"), "left")
      .select(col("doc_id"), col("pos"),
        when(col("in_v").isNotNull, col("word")).otherwise(lit("<unk>"))
          .as("tok"),
        when(col("in_v").isNull, 1L).otherwise(0L).as("is_unk"))
    toks
      .groupBy("doc_id")
      .agg(
        array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as("unk_text"),
        count("*").as("n_tok"),
        sum("is_unk").as("n_unk"))
      .orderBy("doc_id")
  }

  // ---- snapshot diff audit -------------------------------------------

  /** Ingest-to-ingest snapshot diff: per-status document counts
    * between two corpus versions — the audit a recurring crawl runs
    * before promoting a snapshot ("this refresh added 2M docs,
    * removed 40k, silently rewrote 300k"). Documents pair by doc_id;
    * content equality is the 16-byte md5 fingerprint, so the compare
    * shuffles (doc_id, fp)-width rows — never text — through one
    * full-outer join. Output: (status, n_docs, min_doc, max_doc) for
    * status in added / removed / changed / same. */
  def corpusDiff(before: DataFrame, after: DataFrame): DataFrame = {
    def fps(df: DataFrame, fpName: String) = df.select(col("doc_id"),
      fingerprintMd5(col("text")).as(fpName))
    fps(before, "fp_b")
      .join(fps(after, "fp_a"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("fp_b").isNull, "added")
          .when(col("fp_a").isNull, "removed")
          .when(col("fp_a") === col("fp_b"), "same")
          .otherwise("changed").as("status"))
      .groupBy("status")
      .agg(count("*").as("n_docs"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .orderBy("status")
  }

  /** Harness query: before = the doc_id % 7 != 0 slice, after = the
    * doc_id % 5 != 0 slice with every doc_id % 11 == 0 text edited —
    * all four statuses bind. */
  def corpusDiffQuery(docs: DataFrame): DataFrame =
    corpusDiff(
      docs.filter(pmod(col("doc_id"), lit(7)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(11)) === 0,
            concat(col("text"), lit(" edited")))
            .otherwise(col("text")).as("text")))

  /** Apply a CDC changeset to a corpus snapshot — the lakehouse MERGE
    * a continuously-refreshed corpus runs instead of rewriting 100 TB:
    * rows in `changes` with op = "upsert" replace (or insert) the
    * snapshot row with the same key; op = "delete" removes it;
    * everything untouched passes through. One anti-join on the key
    * routes the untouched side (the changeset is typically ≪ the
    * snapshot, so Spark broadcasts its key projection and the
    * snapshot never shuffles), and upserts union in by name.
    *
    * Contract: at most ONE changeset row per key — a multi-row key
    * would both delete and insert, or insert twice; dedupe upstream
    * (e.g. keep the latest by a version column) before applying, the
    * same precondition a lakehouse MERGE enforces.
    *
    * `broadcastChanges` (default true) pins the anti-join's build
    * side: a daily changeset is megabytes against a 100 TB snapshot,
    * and broadcasting its key projection means the snapshot NEVER
    * shuffles. Pass false for a rare full-rewrite-scale changeset and
    * let AQE plan the shuffled anti-join instead. */
  def applyChangeset(snapshot: DataFrame, changes: DataFrame,
      keyCol: String = "doc_id", opCol: String = "op",
      broadcastChanges: Boolean = true): DataFrame = {
    val keys = changes.select(col(keyCol))
    val untouched = snapshot.join(
      if (broadcastChanges) broadcast(keys) else keys,
      Seq(keyCol), "left_anti")
    val upserts = changes.filter(col(opCol) === "upsert").drop(opCol)
      .select(snapshot.columns.map(col).toSeq: _*)
    untouched.unionByName(upserts)
  }

  /** Harness query: upsert every doc_id % 11 == 0 (text edited),
    * delete every remaining doc_id % 13 == 0 — both paths and the
    * pass-through bind; output fingerprinted, totally ordered. */
  def changesetQuery(docs: DataFrame): DataFrame = {
    val upserts = docs.filter(pmod(col("doc_id"), lit(11)) === 0)
      .withColumn("text", concat(col("text"), lit(" edited")))
      .withColumn("op", lit("upsert"))
    val deletes = docs.filter(pmod(col("doc_id"), lit(13)) === 0 &&
        pmod(col("doc_id"), lit(11)) =!= 0)
      .select(col("doc_id"), lit("delete").as("op"))
    // in production the changeset IS a materialized input (a CDC
    // table); deriving it from the snapshot here would otherwise
    // re-scan documents once per consuming branch (keys + upserts) —
    // checkpoint recreates the materialized-input shape
    applyChangeset(docs,
      upserts.unionByName(deletes, allowMissingColumns = true)
        .localCheckpoint())
      .select(col("doc_id"), col("source"),
        fingerprintMd5(col("text")).as("fp_md5"))
      .orderBy("doc_id")
  }

  // ---- DSIR-style importance weighting -------------------------------

  /** Per-document importance weight for data selection, DSIR-style
    * (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling"): the mean per-token log-likelihood ratio
    * between a TARGET distribution (the docs matching `targetPred` —
    * e.g. a trusted high-quality slice) and the RAW corpus, under
    * add-one-smoothed unigram LMs. Positive = more target-like than
    * the corpus average; the score ranks raw docs by how much they
    * resemble the target domain.
    *
    *   score(d) = Σ_w k_w·[log2(t_w+1) − log2(r_w+1)
    *                       − log2(T+V) + log2(R+V)] / n_tok
    *
    * where t_w/r_w are target/raw counts of word w, T/R the target/raw
    * token totals, V the raw vocabulary size (the smoothing support —
    * every raw word gets +1 in BOTH models, so unseen-in-target words
    * are penalized, not −∞).
    *
    * Shape: TWO corpus passes, the honest minimum for exact scoring
    * (the LM must exist before any doc can be scored against it).
    * Pass 1 TRAINS: one tokenize+aggregate to the vocabulary relation
    * — target counts are a conditional sum in the SAME aggregation,
    * not a separate target scan — which is then `localCheckpoint`ed
    * (it is vocabulary-sized, tiny next to the corpus; the
    * sourceSketches pattern). Pass 2 SCORES: one tokenize joined
    * against the checkpointed vocabulary, so the scoring plan carries
    * a SINGLE Generate (plan-pinned) — without the checkpoint,
    * Catalyst re-runs the tokenize lineage under the vocab AND totals
    * branches and the corpus is scanned three times. Totals also read
    * the checkpoint, never the corpus. All counts integer; the one
    * float surface is ROUNDED to 4 decimals inside an
    * order-independent sum (the tfIdf/lmSurprisal ulp rule).
    */
  def dsirLogRatios(docs: DataFrame, targetPred: Column): DataFrame = {
    def docWord = docs
      .select(col("doc_id"), targetPred.as("is_t"),
        explode(wsTokens(col("text"))).as("word"))
      .groupBy("doc_id", "is_t", "word").agg(count("*").as("k"))
    val vocab = docWord.groupBy("word").agg(
      sum("k").as("rcnt"),
      sum(when(col("is_t"), col("k")).otherwise(0L)).as("tcnt"))
      .localCheckpoint()
    val totals = vocab.agg(
      sum("rcnt").as("rtot"), sum("tcnt").as("ttot"),
      count(lit(1)).as("vsz"))
    docWord
      .join(vocab, "word")
      .crossJoin(broadcast(totals))
      .groupBy("doc_id")
      .agg(
        sum("k").cast("long").as("n_tok"),
        // + 0.0 normalizes IEEE negative zero: a tiny negative ratio
        // rounds to -0.0 in one engine and +0.0 in the other (caught
        // at the 10x rehearsal — invisible at sf0.01), and -0.0
        // renders as "-0" in the driver's float canonicalization
        (round(
          sum(col("k") * (log2(col("tcnt") + 1) - log2(col("rcnt") + 1) -
            log2(col("ttot") + col("vsz")) +
            log2(col("rtot") + col("vsz")))) / sum("k"), 4) + lit(0.0))
          .as("dsir_logratio"))
      .orderBy("doc_id")
  }

  /** Deterministic DSIR selection: the `n` most target-like docs by
    * [[dsirLogRatios]], ranked on the ROUNDED score with doc_id as
    * tie-break (the paper resamples with Gumbel noise; a seeded
    * deterministic rank is the reproducible-pipeline variant — same
    * spirit as hash-threshold sampling over `rand()`). Distributed
    * top-n (TakeOrderedAndProject), then a k-row window for the rank
    * column. */
  def dsirTopK(docs: DataFrame, targetPred: Column, n: Int): DataFrame = {
    require(n > 0)
    val ord = Seq(col("dsir_logratio").desc, col("doc_id").asc)
    val top = dsirLogRatios(docs, targetPred).orderBy(ord: _*).limit(n)
    top
      // bounded window: ≤ n rows post-limit (the WindowExec single-
      // partition warning in the bench tail is this k-row relation)
      .withColumn("rank",
        row_number().over(Window.orderBy(ord: _*)).cast("long"))
      .select("rank", "doc_id", "n_tok", "dsir_logratio")
      .orderBy("rank")
  }

  // ---- PII redaction -------------------------------------------------

  /** Patterns shared by Java regex and RE2 (no lookaround, no
    * backrefs) so Spark and DuckDB agree on every match. */
  val EmailRegex = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRegex = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** Redact emails/phones from `textCol`: per-row match counts plus
    * the scrubbed text — a pure map stage (codegen'd regex, no UDF);
    * at 100 TB it rides the scan with zero shuffles. */
  def redactPii(df: DataFrame, textCol: String = "text"): DataFrame =
    df
      .withColumn("n_emails", regexp_count(col(textCol), lit(EmailRegex)))
      .withColumn("n_phones", regexp_count(col(textCol), lit(PhoneRegex)))
      .withColumn("clean",
        regexp_replace(
          regexp_replace(col(textCol), EmailRegex, "<EMAIL>"),
          PhoneRegex, "<PHONE>"))

  /** Quality-greedy token-budget selection — the knapsack-shaped
    * curation step: spend a fixed token budget on the highest-value
    * documents first. Value here is lexical diversity in integer
    * basis points (distinct tokens × 10000 DIV tokens — the
    * cross-engine-exact convention of this module; swap in any
    * integer score), documents are taken in (score DESC, doc_id)
    * order, and a document is kept while the running token total
    * BEFORE it is inside the budget — so the boundary document that
    * crosses the line is kept (budget met, never starved), the
    * [[TrainingOps.tokenBudgetSample]] boundary rule. Differs from
    * that sampler in WHAT it optimizes: this is quality-ordered
    * selection (greedy knapsack by value-per-token), not
    * source-weighted random mixing.
    *
    * Scale shape: one scan computes the integer scores; the running
    * total is the [[PrefixSum]] scaffold over (doc_id, tokens,
    * score)-width rows in (−score, doc_id) range-partitioned order —
    * never a single-partition window, text never rides an exchange. */
  def tokenBudgetSelect(docs: DataFrame, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, s"budget must be positive, got $budgetTokens")
    // checkpoint before the prefix sum: its internal branches (local
    // ranks + partition offsets) would otherwise each replay the
    // tokenize lineage — the ScanAudit found 2 corpus scans without it
    val scored = docs.select(col("doc_id"),
      size(wsTokens(col("text"))).cast("long").as("n_tokens"),
      size(array_distinct(wsTokens(col("text")))).cast("long")
        .as("n_distinct"))
      .filter(col("n_tokens") > 0)
      .withColumn("score_bp", expr("n_distinct * 10000 DIV n_tokens"))
      .localCheckpoint()
    val (ranked, _) = PrefixSum.exclusive(scored,
      Seq(col("score_bp") * -1, col("doc_id")), col("n_tokens"))
    ranked
      .filter(col("cum0") < budgetTokens)
      .select(col("doc_id"), col("n_tokens"), col("score_bp"),
        col("cum0").as("cum_before"))
      .orderBy(col("score_bp").desc, col("doc_id"))
  }

  /** Harness query: the corpus carries no PII, so plant a
    * deterministic contact line per document (same expression the
    * oracle uses), redact it, and fingerprint the scrubbed text. */
  def piiQuery(docs: DataFrame): DataFrame =
    redactPii(
      docs.select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or "),
          format_string("555-%03d-%04d",
            pmod(col("doc_id"), lit(1000)),
            pmod(col("doc_id"), lit(10000)))).as("text")))
      .select(col("doc_id"), col("n_emails"), col("n_phones"),
        md5(col("clean")).as("clean_md5"))
      .orderBy("doc_id")
}
