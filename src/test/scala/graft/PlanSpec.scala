package graft

import graft.functions.LetterTokens
import graft.operators.{Dedup, FusedWordCountExec, RelationalOps, Similarity, WordCount}
import graft.sources.Tables.{documents, embeddings, table}
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.catalyst.expressions.Explode
import org.apache.spark.sql.catalyst.expressions.aggregate.Final
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FilterExec, GenerateExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreSaveExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._

/** Physical-plan shape assertions — the 100 TB posture, pinned.
  * A query that silently loses its pushdown, broadcast, or partial
  * aggregation still returns correct rows at sf0.01; these tests are
  * what fails instead of a production cluster.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("pricing summary pushes the date filter into the parquet scan") {
    val p = plan(RelationalOps.pricingSummary(table(spark, sfDir, "lineitem")))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"no pushed filter in:\n$p")
    // and the scan reads only the needed columns, not the whole row
    assert(!p.contains("l_partkey"), "column pruning lost: scan reads l_partkey")
  }

  test("word count scan reads only the text column") {
    val p = plan(WordCount.byFrequency(documents(spark, sfDir), col("text")))
    assert(p.contains("ReadSchema: struct<text:string>"),
      s"scan is not pruned to text:\n$p")
  }

  /** The un-executed physical plan: AQE's initial plan, exchanges in. */
  private def initialPlan(df: DataFrame) = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }

  test("word count aggregates partially before the exchange") {
    val df = SparkEntry.queries("q_wordcount_freq")(spark, sfDir)
    val p = plan(df)
    val root = initialPlan(df)
    // the partial count is the fused tokenize-count node, the hash
    // Exchange's child; the final HashAggregate sits over the exchange
    val fused = root.collect { case f: FusedWordCountExec => f }
    assert(fused.size == 1, s"expected one fused node in:\n$p")
    val exchange = root.collect {
      case e: ShuffleExchangeExec if e.child eq fused.head => e
    }
    assert(exchange.size == 1 &&
      exchange.head.outputPartitioning.isInstanceOf[HashPartitioning],
      s"fused node is not the hash Exchange's child in:\n$p")
    val finalAgg = root.collect {
      case h: HashAggregateExec if h.child eq exchange.head => h
    }
    assert(finalAgg.size == 1 &&
      finalAgg.head.aggregateExpressions.forall(_.mode == Final),
      s"no final HashAggregate over the exchange in:\n$p")
    // the fused node emits exactly the partial aggregate's output: the
    // word and the count buffer the final aggregate merges
    val buffer = finalAgg.head.aggregateExpressions.flatMap(
      _.aggregateFunction.inputAggBufferAttributes)
    assert(fused.head.output == finalAgg.head.groupingExpressions ++ buffer,
      s"fused output ${fused.head.output} is not the partial count in:\n$p")
  }

  test("word count: one Generate over the letter kernel, no regex split, " +
      "no Filter before the partial aggregate") {
    val df = SparkEntry.queries("q_wordcount_freq")(spark, sfDir)
    val p = plan(df)
    assert(!p.contains("split("), s"regex split in:\n$p")
    assert(!p.contains("!"), s"missing-input marker in:\n$p")
    // logically: one explode(graft_letter_tokens) straight under the
    // count aggregate — the shape FusedWordCountStrategy fuses
    val logical = df.queryExecution.optimizedPlan
    val gens = logical.collect { case g: Generate => g }
    assert(gens.size == 1, s"expected one Generate in:\n$logical")
    assert(gens.head.generator match {
      case e: Explode => e.child.isInstanceOf[LetterTokens]
      case _ => false
    }, s"Generate is not explode(graft_letter_tokens) in:\n$logical")
    assert(logical.find(_.children.exists(_ eq gens.head)).exists {
      case _: Aggregate => true
      case _ => false
    }, s"Generate does not feed the aggregate in:\n$logical")
    // physically: the fused node is the partial aggregate and tokenizes
    // in place, so no Generate survives and no Filter sits below it
    val root = initialPlan(df)
    assert(root.collect { case g: GenerateExec => g }.isEmpty,
      s"Generate left in:\n$p")
    val fused = root.collect { case f: FusedWordCountExec => f }
    assert(fused.size == 1, s"expected one fused node in:\n$p")
    assert(fused.head.collect { case f: FilterExec => f }.isEmpty,
      s"Filter before the fused partial count in:\n$p")
  }

  test("case-folded and heavy-hitter word counts keep their Generate") {
    Seq(WordCount.byFrequencyFolded(documents(spark, sfDir), col("text")),
        WordCount.heavyHitters(documents(spark, sfDir), col("text"), 64))
      .foreach { df =>
        val root = initialPlan(df)
        val tokenize = root.collect {
          case g @ GenerateExec(Explode(_: LetterTokens), _, _, _, _) => g
        }
        assert(tokenize.size == 1,
          s"expected one Generate over the letter kernel in:\n$root")
        assert(root.collect { case f: FusedWordCountExec => f }.isEmpty,
          s"fused node in a shape it does not match:\n$root")
      }
  }

  test("streamed word count keeps its stateful aggregate, unfused") {
    val input = MemoryStream[String](Encoders.STRING, spark.sqlContext)
    val q = graft.streaming.EventStreams.wordCountStream(input.toDF())
      .writeStream.format("memory").queryName("plan_spec_wc_stream")
      .outputMode("complete").start()
    try {
      input.addData("a b a", "c")
      q.processAllAvailable()
      val p = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan
      assert(p.collect { case s: StateStoreSaveExec => s }.size == 1,
        s"no stateful aggregate in:\n$p")
      assert(p.collect { case g: GenerateExec => g }.size == 1,
        s"expected the Generate in:\n$p")
      assert(p.collect { case f: FusedWordCountExec => f }.isEmpty,
        s"fused node in a micro-batch plan:\n$p")
      val got = spark.table("plan_spec_wc_stream").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == Map("a" -> 2L, "b" -> 1L, "c" -> 1L))
    } finally q.stop()
  }

  test("dimension-chain join broadcasts, never shuffles the fact table") {
    val p = plan(RelationalOps.revenueByNation(
      table(spark, sfDir, "lineitem"), table(spark, sfDir, "supplier"),
      table(spark, sfDir, "nation"), table(spark, sfDir, "region")))
    assert("BroadcastHashJoin".r.findAllIn(p).size == 3,
      s"expected 3 broadcast joins in:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"fact table must not shuffle for dimension joins:\n$p")
  }

  test("top-k plans TakeOrderedAndProject, not a global sort") {
    val p = plan(WordCount.topK(documents(spark, sfDir), col("text"), 20))
    assert(p.contains("TakeOrderedAndProject"), s"no top-k operator in:\n$p")
  }

  test("brute-force ANN broadcasts the query side") {
    val p = plan(Similarity.bruteForceTopK(
      embeddings(spark, sfDir), col("vec_id") < 5, k = 10))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side must broadcast:\n$p")
  }

  test("exact dedup is one hash aggregation, no join") {
    val p = plan(Dedup.exact(documents(spark, sfDir)))
    assert(!p.contains("Join"), s"dedup must not join:\n$p")
    assert(p.contains("HashAggregate"), s"dedup must hash-aggregate:\n$p")
  }

  test("quality gates are a pure map: no exchange before the final sort") {
    val p = plan(graft.operators.CorpusOps.qualityRules(documents(spark, sfDir)))
    assert(!p.contains("Join"), s"quality gates must not join:\n$p")
    assert(!p.contains("Generate"), s"quality gates must not explode:\n$p")
    // exactly the one range exchange the final ORDER BY requires
    assert("Exchange".r.findAllIn(p).size == 1,
      s"expected only the sort exchange in:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan must prune to (doc_id, text):\n$p")
  }

  test("tf-idf tokenizes the corpus once (single Generate)") {
    val p = plan(graft.operators.CorpusOps.tfIdf(documents(spark, sfDir)))
    assert("Generate".r.findAllIn(p).size == 1,
      s"df branch must not re-explode the corpus:\n$p")
  }

  test("whole-stage codegen covers the word count hot path") {
    val df = WordCount.counts(documents(spark, sfDir), col("text"))
    df.collect() // AQE finalizes the plan (and codegen markers) on execution
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"no whole-stage-codegen span in:\n$p")
  }

  test("grouped top-k partial-aggregates map-side, no window sort") {
    val p = plan(graft.operators.EventOps.topUsersPerTypeAgg(
      graft.sources.Tables.events(spark, sfDir), 5))
    val partial = p.indexOf("partial_graft_top_k")
    assert(partial >= 0, s"no partial top-k aggregate in:\n$p")
    // the partial agg sits BELOW (after in toString order) its exchange
    assert(p.lastIndexOf("Exchange hashpartitioning") < partial ||
      p.indexOf("Exchange hashpartitioning") < partial,
      s"partial top-k does not precede the exchange in:\n$p")
    assert(!p.contains("Window"), s"window sort crept back in:\n$p")
  }

  test("theta overlap: partial sketches map-side, one corpus lineage") {
    // the sketch-building half (what runs inside the localCheckpoint):
    // theta aggregation must be partial before its exchange
    val build = plan(documents(spark, sfDir)
      .select(col("source"), explode(
        graft.functions.TextAnalysis.shingles(col("text"), 3)).as("sh"))
      .groupBy("source").agg(expr("theta_sketch_agg(sh, 18)").as("sk")))
    assert(build.contains("partial_theta_sketch_agg"),
      s"theta aggregate not partial-aggregated in:\n$build")
    // the pair-join half: the localCheckpoint collapses the sketch
    // relation, so both join branches read the checkpointed RDD — the
    // corpus parquet is scanned ONCE, never re-run per branch
    val p = plan(graft.operators.CorpusOps.sourceOverlapSketch(
      documents(spark, sfDir)))
    assert(p.contains("Scan ExistingRDD"),
      s"pair join does not read the checkpointed sketches:\n$p")
    assert(!p.contains("FileScan parquet"),
      s"pair join re-scans the corpus instead of the checkpoint:\n$p")
  }

  test("quality model: broadcast weight join, no shuffle before the agg") {
    val p = plan(graft.operators.CorpusOps.modelQualityScore(
      documents(spark, sfDir)))
    assert(p.contains("BroadcastHashJoin"),
      s"weight relation not broadcast:\n$p")
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      s"score sum not partial-aggregated:\n$p")
  }

  test("PQ search: codes relation joins broadcast queries (ADC scan)") {
    val e = embeddings(spark, sfDir)
    val p = plan(Similarity.pqTopK(e, col("vec_id") < 5, k = 10))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"query/LUT side not broadcast in:\n$p")
    // encoding is a pure map: no exchange below the first join
    val firstJoin = p.indexOf("Broadcast")
    val scanIdx = p.lastIndexOf("FileScan")
    assert(firstJoin >= 0 && scanIdx > firstJoin,
      s"unexpected plan shape:\n$p")
  }

  test("profileTable: exact multi-distinct is ONE scan through Expand") {
    val p = plan(graft.operators.ProfileOps.profileTable(
      documents(spark, sfDir)))
    assert(p.contains("Expand"), s"no Expand for multi-distinct in:\n$p")
    assert("FileScan".r.findAllIn(p).size == 1,
      s"profile must read the table once:\n$p")
    // the approx twin drops the Expand entirely (HLL partials instead)
    val a = plan(graft.operators.ProfileOps.profileTable(
      documents(spark, sfDir), approxDistinct = true))
    assert(!a.contains("Expand"),
      s"approx profile must not Expand the scan:\n$a")
  }

  test("keySkew: distributed top-k, window only over the k survivors") {
    val p = plan(graft.operators.ProfileOps.keySkew(
      graft.sources.Tables.events(spark, sfDir), "user_id", 10))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must not global-sort the key counts:\n$p")
    // the rank window must sit ABOVE the limit (toString order: Window
    // appears before TakeOrderedAndProject), never over all keys
    assert(p.indexOf("Window") < p.indexOf("TakeOrderedAndProject"),
      s"rank window runs below the top-k limit:\n$p")
    // both branches (share total + top-k) read the checkpointed count
    // relation — the raw table is scanned once, at checkpoint time
    assert(!p.contains("FileScan") && p.contains("Scan ExistingRDD"),
      s"a branch re-scans the raw table instead of the counts:\n$p")
  }

  test("DSIR weights tokenize the corpus once (single Generate)") {
    val p = plan(graft.operators.CorpusOps.dsirLogRatios(
      documents(spark, sfDir), col("lang") === "en"))
    assert("Generate".r.findAllIn(p).size == 1,
      s"target counts must come from the same tokenize pass:\n$p")
  }

  test("surprisal scores in one tokenize pass; PMI scores scan-free") {
    // lmSurprisal: vocab + totals come from the checkpoint — the
    // scoring plan carries exactly ONE Generate (it carried five)
    val s = plan(graft.operators.TrainingOps.lmSurprisal(
      documents(spark, sfDir)))
    assert("Generate".r.findAllIn(s).size == 1,
      s"vocab/total branches re-tokenize the corpus:\n$s")
    // collocations: both count relations are checkpointed, so the
    // scoring join never touches the corpus at all
    val p = plan(graft.operators.TextOps.collocations(
      documents(spark, sfDir)))
    assert(!p.contains("Generate") && !p.contains("FileScan"),
      s"PMI scoring re-runs an explode lineage:\n$p")
  }

  test("event transitions/gaps: per-user windows, never one partition") {
    // the r6-restored event readers regressed silently once (ts
    // encoding drift); these pins make a reader/plan regression fail
    // a named test instead of a driver run
    val ev = graft.sources.Tables.events(spark, sfDir)
    val t = plan(graft.operators.EventOps.typeTransitions(ev))
    assert(t.contains("Window"), s"transitions lost the lead window:\n$t")
    assert(!t.contains("Exchange SinglePartition"),
      s"per-user window funnels through one partition:\n$t")
    assert(t.contains("partial_count"),
      s"transition counts not partial-aggregated:\n$t")
    val g = plan(graft.operators.EventOps.interArrival(ev))
    assert(g.contains("Window") && !g.contains("Exchange SinglePartition"),
      s"gap window must stay partitioned by (user, type):\n$g")
    // the wide ts column stays out of the window sort: the projection
    // under the window carries the µs long, not the timestamp
    assert(g.contains("partial_count"),
      s"gap stats not partial-aggregated:\n$g")
  }

  test("value outliers: |types|-row fences broadcast onto second scan") {
    val p = plan(graft.operators.EventOps.valueOutliers(
      graft.sources.Tables.events(spark, sfDir)))
    assert(p.contains("BroadcastHashJoin"),
      s"fence relation must broadcast, not shuffle the events:\n$p")
    assert(p.contains("partial_count"),
      s"outlier counts not partial-aggregated:\n$p")
  }

  test("bigram LM scores in one tokenize pass; buckets never re-derive it") {
    // lmBigramBits: unigrams (for V) and bigrams ride ONE tagged
    // explode; the LM relations read the vocabulary checkpoint, so
    // the scoring plan carries exactly one Generate
    val s = plan(graft.operators.TrainingOps.lmBigramBits(
      documents(spark, sfDir)))
    assert("Generate".r.findAllIn(s).size == 1,
      s"LM branches re-tokenize the corpus:\n$s")
    // perplexityBuckets: all three rank branches read the checkpointed
    // bits relation (no corpus scan), and the only single-partition
    // exchanges sit over the numPartitions-row offsets relation (its
    // cumsum window + the scalar total) — never the doc-scale
    // relation (that would be the ntile anti-pattern)
    val p = plan(graft.operators.TrainingOps.perplexityBuckets(
      documents(spark, sfDir)))
    assert(!p.contains("FileScan"),
      s"a rank branch re-runs the bigram-LM lineage:\n$p")
    assert("Exchange SinglePartition".r.findAllIn(p).size <= 2,
      s"doc-scale rows funnel through one partition:\n$p")
  }

  test("temperatureMix: budgets broadcast back, totals partial-aggregated") {
    val p = plan(graft.operators.TrainingOps.temperatureMix(
      documents(spark, sfDir), budget = 3000L))
    assert(p.contains("BroadcastHashJoin"),
      s"per-source budget relation must broadcast:\n$p")
    assert(p.contains("partial_sum"),
      s"per-source token totals not partial-aggregated:\n$p")
  }

  test("changeset merge: broadcast anti-join, snapshot never shuffles") {
    val p = plan(graft.operators.CorpusOps.changesetQuery(
      documents(spark, sfDir)))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"untouched side must route through a broadcast anti-join:\n$p")
    // the snapshot side must not hash-exchange for the anti-join (the
    // only exchanges are the changeset broadcast + the final sort)
    assert(!p.contains("Exchange hashpartitioning"),
      s"snapshot hash-shuffled for the merge:\n$p")
  }

  test("rate anomaly: per-type stats broadcast back onto the counts") {
    val p = plan(graft.operators.EventOps.rateAnomaly(
      graft.sources.Tables.events(spark, sfDir)))
    assert(p.contains("BroadcastHashJoin"),
      s"|types|-row stats relation must broadcast:\n$p")
  }

  test("cross-source matrix: pair-side joins broadcast the pruned " +
      "(doc_id, source) scans; exact half is one grouped lineage") {
    val p = plan(Dedup.crossSourceDupMatrix(documents(spark, sfDir)))
    // near pairs are output-scale: both source-attribution joins must
    // broadcast, never shuffle the corpus side
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"source-attribution joins must broadcast:\n$p")
    // the exact half's count arithmetic rides ONE grouped lineage —
    // concat-explode, not a second aggregation over the corpus: the
    // single-table corpus is scanned exactly 5x (fingerprints,
    // ngramJaccard's two tokenize passes, two pruned source joins); a
    // 6th scan means the within/cross halves split lineage again
    assert("FileScan".r.findAllIn(p).size <= 5,
      s"exact half re-aggregated the corpus:\n$p")
  }

  test("unimax: allocation windows only over the |sources| relation; " +
      "per-source quotas broadcast back onto the doc stream") {
    val p = plan(graft.operators.TrainingOps.unimaxMix(
      documents(spark, sfDir)))
    assert(p.contains("BroadcastHashJoin"),
      s"per-source quota relation must broadcast:\n$p")
    // the corpus-side selection window partitions by source — the only
    // unpartitioned windows are the |sources|-row allocation ranking
    assert(p.contains("windowspecdefinition(source"),
      s"selection window must partition by source:\n$p")
  }

  test("dHash near-dup: codegen kernel in the scan projection, " +
      "text never crosses the banding shuffle") {
    val p = plan(graft.operators.MultiModal.textDHashes(
      documents(spark, sfDir)))
    assert(p.contains("graft_text_dhash"),
      s"dHash must run as the codegen kernel:\n$p")
    val pairs = plan(graft.operators.MultiModal.imageDupQuery(
      documents(spark, sfDir)))
    // the only exchanges carry (doc_id, dhash)-width rows: no text
    // column may appear in an Exchange's output schema
    val exchanges = pairs.split("\n").filter(_.contains("Exchange "))
    assert(exchanges.nonEmpty && !exchanges.exists(_.contains("text#")),
      s"text rides a shuffle in:\n$pairs")
  }

  test("unigram encode: distinct-word segmentation joins back " +
      "broadcast onto the token stream") {
    val pieces = graft.operators.Unigram.train(documents(spark, sfDir))
    val p = plan(graft.operators.Unigram.encode(
      documents(spark, sfDir), pieces))
    assert(p.contains("BroadcastHashJoin"),
      s"segmented vocabulary must broadcast onto the token stream:\n$p")
  }

  test("prefix AllPairs: per-doc rarity window partitions by doc_id; " +
      "no cartesian anywhere") {
    val p = plan(Dedup.ngramJaccardPrefix(
      documents(spark, sfDir), n = 3, threshold = 0.8))
    // the prefix-selection window is per-doc — a lost partitioning
    // here is the single-partition catastrophe at corpus scale
    assert(p.contains("windowspecdefinition(doc_id"),
      s"prefix window must partition by doc_id:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"candidate generation must stay a shingle equi-join:\n$p")
  }

  test("wordpiece encode: vocab probe and segmentations broadcast; " +
      "wordpiece pairs: symbol totals broadcast onto the pair relation") {
    val enc = plan(graft.operators.WordPiece.encode(
      documents(spark, sfDir), Seq("ta", "##ble")))
    // two broadcast joins: candidate substrings x vocab, and the
    // distinct-word segmentations back onto the exploded token stream
    assert("BroadcastHashJoin".r.findAllIn(enc).size >= 2,
      s"vocab + segmentation joins must broadcast:\n$enc")
    assert(!enc.contains("SortMergeJoin"),
      s"no shuffle join belongs in the encode path:\n$enc")
    val pairs = plan(graft.operators.WordPiece.scoredPairsQuery(
      documents(spark, sfDir)))
    assert("BroadcastHashJoin".r.findAllIn(pairs).size == 2,
      s"both symbol-total joins must broadcast:\n$pairs")
  }

  test("phrase + proximity: join-free — one tokenize Generate, one " +
      "per-doc window, no join operator at all") {
    for (p <- Seq(
        plan(graft.operators.CorpusOps.phraseSearch(
          documents(spark, sfDir), Seq("window", "fast", "query"))),
        plan(graft.operators.CorpusOps.proximitySearch(
          documents(spark, sfDir), "hash", "row", window = 3)))) {
      assert("Generate".r.findAllIn(p).size == 1,
        s"must tokenize exactly once:\n$p")
      assert(p.contains("windowspecdefinition(doc_id"),
        s"window must partition by doc_id:\n$p")
      assert(!p.contains("Join"), s"the point is NO join:\n$p")
    }
  }

  test("hamming ANN: bit index streams past broadcast query bits; " +
      "float vectors only touched for the broadcast candidate list") {
    val p = plan(Similarity.hammingTopK(embeddings(spark, sfDir),
      col("vec_id") < 5, k = 10, m = 50))
    // broadcasts: query bits onto the index scan, then candidates and
    // query vectors onto the rerank scan — never a shuffled join
    assert("BroadcastHashJoin|BroadcastNestedLoopJoin".r
      .findAllIn(p).size >= 3, s"all joins must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no shuffle join:\n$p")
  }

  test("mrl: one corpus pass scores every dimension tier; the " +
      "ranking window partitions by (query, tier)") {
    val p = plan(Similarity.mrlRecall(embeddings(spark, sfDir),
      dims = Seq(8, 16, 32), col("vec_id") < 20, k = 10))
    // one scored lineage: a single Generate explodes the tier struct
    assert("Generate".r.findAllIn(p).size == 1,
      s"tiers must explode from ONE scored pass:\n$p")
    assert(p.contains("windowspecdefinition(query_id") &&
      p.contains("trunc_dim"),
      s"ranking window must partition by query AND tier:\n$p")
  }

  test("phrase projection: the codegen'd kernel sits in the scan " +
      "projection; no shuffle at all before the final sort") {
    val p = plan(graft.operators.CorpusOps.phraseProjection(
      documents(spark, sfDir), Seq("window", "fast", "query")))
    assert(p.contains("graft_phrase_hits"),
      s"phrase test must run as the codegen kernel:\n$p")
    assert(!p.contains("Exchange"),
      s"the stream-safe projection must not shuffle:\n$p")
  }

  test("decayed counts: the reference scalar broadcasts; the type " +
      "aggregation partial-aggregates map-side") {
    val p = plan(graft.operators.EventOps.decayedCounts(
      graft.sources.Tables.events(spark, sfDir)))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the 1-row t_max scalar must broadcast:\n$p")
    val firstAgg = p.indexOf("HashAggregate")
    assert(firstAgg >= 0 &&
      p.indexOf("HashAggregate", firstAgg + 1) >= 0,
      s"partial+final aggregate pair expected:\n$p")
  }

  test("corpus diversity: collision counting is pure aggregation — " +
      "no join beyond the component fan-out, partial aggs map-side") {
    val p = plan(graft.operators.Dedup.corpusDiversity(
      documents(spark, sfDir)))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no pair relation may exist in:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"min-per-(doc, i) and count-per-(i, value) must both " +
        s"partial-aggregate:\n$p")
  }

  test("hybrid RRF: each leg stays its own scale shape — one corpus " +
      "tokenize on the lexical side, broadcast query on the dense side") {
    val p = plan(Similarity.hybridRrf(
      documents(spark, sfDir), embeddings(spark, sfDir),
      terms = Seq("spark", "window", "scan"),
      queryPred = col("vec_id") === 0))
    assert("Generate explode".r.findAllIn(p).size == 1,
      s"bm25 leg must tokenize the corpus exactly once:\n$p")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"dense leg must broadcast the query vector:\n$p")
    // the fusion merge touches only the two <= n-row top lists: both
    // legs are cut by a limit BEFORE the full-outer join
    assert(p.contains("TakeOrderedAndProject") || p.contains("Limit"),
      s"legs must be limited before fusion:\n$p")
  }

  test("incremental CC: the fold's plan reads NO raw table — only " +
      "checkpointed index relations and the quotient labels") {
    // the 100 TB claim is that a delta fold never re-reads base
    // edges or corpus text; in-plan that means the final assignment
    // is joins over Scan ExistingRDD (checkpoints), zero FileScans
    val p = plan(SparkEntry.queries("q_dedup_cc_incr")(spark, sfDir))
    assert(!p.contains("FileScan"),
      s"incremental fold re-reads a raw table:\n$p")
    assert(p.contains("ExistingRDD"),
      s"expected checkpointed index relations in:\n$p")
  }

  test("calibrated quality keep: one corpus scan; the corpus-row " +
      "window partitions by (group, score) tie strata") {
    val df = graft.operators.CorpusOps.qualityCalibrated(
      documents(spark, sfDir), keepBp = 2500)
    val p = plan(df)
    assert("FileScan".r.findAllIn(p).size == 1,
      s"threshold lineage must be checkpointed — got extra scans:\n$p")
    // the one Window over corpus rows keys on grp AND score: its
    // partitions are single-score tie strata, never a whole group
    assert(p.contains("windowspecdefinition(grp") &&
      p.contains("score"), s"stratum window lost its keys:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"threshold relation must broadcast:\n$p")
  }

  test("padding audit: bucket ladder broadcasts; one tokenize pass") {
    val p = plan(graft.operators.TrainingOps.paddingAudit(
      documents(spark, sfDir)))
    assert("FileScan".r.findAllIn(p).size == 1,
      s"audit must read the corpus once:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"the |buckets|-row ladder must broadcast:\n$p")
  }

  test("salt plan: one key-column pass; the total broadcasts onto the " +
      "checkpointed count relation") {
    val p = plan(SparkEntry.queries("q_salt_plan")(spark, sfDir))
    // counts are checkpointed at build: the final plan reads the
    // relation, never the raw table twice
    assert("FileScan".r.findAllIn(p).size <= 1,
      s"salt plan re-scans the raw table:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the 1-row total must broadcast:\n$p")
  }

  test("incremental overlap: the fold's plan reads NO corpus — only " +
      "the merged |sources|-row sketch relation") {
    val p = plan(SparkEntry.queries("q_corpus_overlap_incr")(spark, sfDir))
    assert(!p.contains("FileScan"),
      s"incremental overlap re-reads the corpus:\n$p")
    assert(p.contains("ExistingRDD"),
      s"expected the checkpointed sketch relation in:\n$p")
  }

  test("incremental simhash: exactly two corpus passes — the base " +
      "index build and the batch fingerprints") {
    val p = plan(SparkEntry.queries("q_dedup_incr_simhash")(spark, sfDir))
    assert("FileScan".r.findAllIn(p).size == 2,
      s"expected base + batch scans only:\n$p")
  }

  test("simhash pairs: fingerprint is the SimhashBits kernel " +
      "projection — one scan, no token explode") {
    // r13: the 64-sum explode/aggregate shape is gone — the only
    // Generates left are the band fan-out (4 keys/doc) and the
    // bucket pair explode; a third Generate or a second FileScan
    // means the per-token row storm crept back.
    val p = plan(SparkEntry.queries("q_dedup_simhash")(spark, sfDir))
    assert("FileScan".r.findAllIn(p).size == 1, s"expected 1 scan:\n$p")
    assert("Generate".r.findAllIn(p).size == 2,
      s"expected banding + pair Generates only:\n$p")
    assert(p.contains("graft_simhash_bits") || p.contains("SimhashBits"),
      s"kernel missing from plan:\n$p")
  }

  test("diversity estimator: ONE corpus scan, ONE generate — no " +
      "per-shingle row ever exits the scan stage") {
    // the MinHashMins kernel computes every component minimum inside
    // the scan projection; the only exploded relation is |docs| x 16
    // component rows (posexplode of the kernel output). A second
    // Generate or FileScan means the pre-kernel shape (per-shingle
    // explode + per-component md5) has crept back.
    val p = plan(SparkEntry.queries("q_dedup_diversity")(spark, sfDir))
    assert("FileScan".r.findAllIn(p).size == 1, s"expected 1 scan:\n$p")
    assert("Generate".r.findAllIn(p).size == 1,
      s"expected 1 generate:\n$p")
    assert(p.contains("graft_minhash_mins") || p.contains("MinHashMins"),
      s"kernel missing from plan:\n$p")
  }

  test("delete repack: the delete set broadcasts into the narrow " +
      "shard relation; text never rides the plan") {
    val p = plan(SparkEntry.queries("q_delete_repack")(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      s"delete set must broadcast:\n$p")
    // only doc_id/text-derived n_tok ride; the text column itself is
    // consumed inside the scan projection, never exchanged
    assert(!"Exchange [a-z]*partitioning\\([^)]*text".r
      .findFirstIn(p).isDefined, s"text crosses an exchange in:\n$p")
  }
}
