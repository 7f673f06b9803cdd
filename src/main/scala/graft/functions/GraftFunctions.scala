package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.graft.ColumnBridge

/** SQL registration for the graft kernels: after
  * `GraftFunctions.register(spark)`, plain SQL can call
  *
  *   - `graft_dot(a, b)`            — codegen'd array dot product
  *   - `graft_text_profile(text)`   — single-pass token/char counters
  *   - `graft_all_pairs(arr)`       — candidate pairs of an array
  *   - `graft_shingles(text, n)`    — word n-gram shingles
  *   - `graft_heavy_hitters(col, k)`— Misra–Gries top frequencies
  *   - `graft_top_k(key, val, k)`   — bounded-heap top-k rows per group
  *   - `graft_kll(x, qs, k)`        — mergeable KLL quantile sketch
  *   - `graft_token_stats(text)`    — single-pass quality-gate stats
  *   - `graft_rolling_fp(text, k, w)` — winnowed rolling fingerprints
  *   - `graft_text_dhash(text)`     — perceptual fake-luma dHash
  *   - `graft_phrase_hits(text, 'w1 w2 ...')` — packed overlapping
  *   - `graft_minhash_mins(text, n, k)` — all k MinHash component
  *     minima of the word-n-gram shingle set, one pass
  *     phrase-occurrence count + first position
  *   - `graft_simhash_bits(text, bits, portable)` — per-document
  *     SimHash fingerprint, one pass (portable<>0 = md5-60 token hash)
  *
  * so the engine's SQL entry point ([[graft.SparkEntry]] `q_rel_sql`
  * style queries) reaches the same kernels the DataFrame API uses. In a
  * deployment these registrations live in a
  * `SparkSessionExtensions` (`spark.sql.extensions`) so every session
  * gets them at startup; `register` applies the identical bindings to
  * an already-running session (which is what tests and notebooks have).
  */
object GraftFunctions {

  private def arity(fn: String, es: Seq[Expression], n: Int): Unit =
    if (es.length != n) throw new IllegalArgumentException(
      s"$fn expects $n argument(s), got ${es.length}")

  /** Resolve a foldable int argument (literal, CAST of literal,
    * constant arithmetic — the builder runs before constant folding, so
    * evaluate rather than pattern-match on Literal). */
  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case f if f.foldable && f.dataType == org.apache.spark.sql.types.IntegerType =>
      f.eval().asInstanceOf[Int]
    case other => throw new IllegalArgumentException(
      s"$fn expects a constant int argument, got $other")
  }

  /** Resolve a foldable array<double> argument (e.g. `array(0.5, 0.95)`
    * — constant-foldable, evaluated at registration like [[intArg]]). */
  private def doubleArrayArg(e: Expression, fn: String): Seq[Double] = e match {
    case f if f.foldable => f.eval() match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        a.toDoubleArray().toSeq
      case other => throw new IllegalArgumentException(
        s"$fn expects a constant array<double> argument, got $other")
    }
    case other => throw new IllegalArgumentException(
      s"$fn expects a constant array<double> argument, got $other")
  }

  /** Name → expression builder for every kernel; the single source
    * both [[register]] (running session) and [[GraftExtensions]]
    * (`spark.sql.extensions` at session build) install from. */
  val bindings: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" ->
      ((es: Seq[Expression]) => { arity("graft_dot", es, 2)
        DotProduct(es(0), es(1)) }),
    "graft_letter_tokens" ->
      ((es: Seq[Expression]) => { arity("graft_letter_tokens", es, 1)
        LetterTokens(es(0)) }),
    "graft_text_profile" ->
      ((es: Seq[Expression]) => { arity("graft_text_profile", es, 1)
        TextProfile(es(0)) }),
    "graft_all_pairs" ->
      ((es: Seq[Expression]) => { arity("graft_all_pairs", es, 1)
        AllPairs(es(0)) }),
    "graft_shingles" ->
      ((es: Seq[Expression]) => { arity("graft_shingles", es, 2)
        WordShingles(es(0), intArg(es(1), "graft_shingles")) }),
    "graft_heavy_hitters" ->
      ((es: Seq[Expression]) => { arity("graft_heavy_hitters", es, 2)
        HeavyHitters(es(0), intArg(es(1), "graft_heavy_hitters"))
          .toAggregateExpression() }),
    "graft_top_k" ->
      ((es: Seq[Expression]) => { arity("graft_top_k", es, 3)
        GroupTopK(es(0), es(1), intArg(es(2), "graft_top_k"))
          .toAggregateExpression() }),
    "graft_kll" ->
      ((es: Seq[Expression]) => { arity("graft_kll", es, 3)
        KllQuantiles(es(0), doubleArrayArg(es(1), "graft_kll"),
          intArg(es(2), "graft_kll")).toAggregateExpression() }),
    "graft_token_stats" ->
      ((es: Seq[Expression]) => { arity("graft_token_stats", es, 1)
        TokenStats(es(0)) }),
    "graft_rolling_fp" ->
      ((es: Seq[Expression]) => { arity("graft_rolling_fp", es, 3)
        RollingFingerprints(es(0), intArg(es(1), "graft_rolling_fp"),
          intArg(es(2), "graft_rolling_fp")) }),
    "graft_text_dhash" ->
      ((es: Seq[Expression]) => { arity("graft_text_dhash", es, 1)
        TextDHash(es(0)) }),
    "graft_phrase_hits" ->
      ((es: Seq[Expression]) => { arity("graft_phrase_hits", es, 2)
        PhraseHits(es(0),
          stringArg(es(1), "graft_phrase_hits")
            .split("\\s+").filter(_.nonEmpty).toSeq) }),
    "graft_minhash_mins" ->
      ((es: Seq[Expression]) => { arity("graft_minhash_mins", es, 3)
        MinHashMins(es(0), intArg(es(1), "graft_minhash_mins"),
          intArg(es(2), "graft_minhash_mins")) }),
    "graft_simhash_bits" ->
      ((es: Seq[Expression]) => { arity("graft_simhash_bits", es, 3)
        SimhashBits(es(0), intArg(es(1), "graft_simhash_bits"),
          intArg(es(2), "graft_simhash_bits") != 0) }),
  )

  /** Resolve a foldable string argument (the phrase literal). */
  private def stringArg(e: Expression, fn: String): String = e match {
    case f if f.foldable &&
        f.dataType == org.apache.spark.sql.types.StringType =>
      f.eval().toString
    case other => throw new IllegalArgumentException(
      s"$fn expects a constant string argument, got $other")
  }

  def register(spark: SparkSession): Unit =
    bindings.foreach { case (name, builder) =>
      ColumnBridge.registerFunction(spark, name, builder)
    }
}

/** `spark.sql.extensions` entry point: every graft kernel becomes a
  * built-in of each new session —
  *
  *   spark.sql.extensions=graft.functions.GraftExtensions
  *
  * the deployment-grade form of [[GraftFunctions.register]] (which
  * patches one already-running session). It also injects the fused
  * word-count planner strategy, so SQL counting `explode` over
  * `graft_letter_tokens` counts in-mapper too. */
class GraftExtensions
    extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(
      ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.bindings.foreach { case (name, builder) =>
      ext.injectFunction((
        new org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[GraftExtensions].getName, name),
        builder))
    }
    ext.injectPlannerStrategy(_ => graft.operators.FusedWordCountStrategy)
  }
}
