package graft.operators

import graft.functions.{HeavyHitters, Tokenizer}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** The reference's entire pipeline (SURVEY.md §2 S1→T2→A3/X4→O5/O6/K7),
  * re-expressed declaratively so Catalyst plans it:
  *
  *   scan → fused tokenize+count ([[FusedWordCountExec]]: per-task
  *   in-mapper counts over token byte slices) →
  *   shuffle(HashPartitioning(word)) → final HashAggregate →
  *   range-partitioned SortExec (for the sorted outputs) or
  *   TakeOrderedAndProject (for top-k).
  *
  * The reference's per-thread maps (main.cpp:68,73,111-113) are the
  * fused operator's per-task tables; its striped-mutex merge
  * (main.cpp:111-138) is Spark's hash shuffle and final aggregate.
  * Nothing is hand-scheduled here. Frequency-sort ties are
  * broken `(cnt DESC, word ASC)` — the reference leaves tie order
  * nondeterministic (main.cpp:28,257), so this is a refinement.
  */
object WordCount {

  /** One row per token from `text`, named `word` — the one definition
    * of "the words of a text column" (the tokenizer never emits an
    * empty token, so nothing is filtered). Scan reads only the text
    * column (column pruning reaches the parquet scan). */
  def words(df: DataFrame, text: Column): DataFrame =
    df.select(Tokenizer.explodeTokens(text).as("word"))

  /** word -> cnt (A3 in-mapper counts + X4 final aggregation).
    *
    * The DataFrame is `words` grouped by `word` with `count(*)`; the
    * physical plan counts in-mapper. This registers
    * [[FusedWordCountStrategy]] with the session's planner (once, under
    * a lock; a planner registration, not a conf change), which plans
    * exactly this graft-specific shape, `count(1)` over
    * `explode(graft_letter_tokens(text))`, as [[FusedWordCountExec]]
    * under Spark's hash exchange and final aggregate. Every other plan,
    * streaming ones included, is planned as before. */
  def counts(df: DataFrame, text: Column): DataFrame = {
    FusedWordCountStrategy.install(df.sparkSession)
    words(df, text).groupBy("word").agg(count("*").as("cnt"))
  }

  /** Alphabetical output (O5): byte order on UTF8String = reference's
    * std::string operator< (both memcmp). */
  def alphabetical(df: DataFrame, text: Column): DataFrame =
    counts(df, text).orderBy(col("word"))

  /** Frequency output (O6), deterministic tie-break. */
  def byFrequency(df: DataFrame, text: Column): DataFrame =
    counts(df, text).orderBy(col("cnt").desc, col("word").asc)

  /** Top-k head of the frequency output — the README's actual use case
    * (reference README.md:170-176). Plans as TakeOrderedAndProject:
    * per-partition heaps + driver merge, no full sort at scale. */
  def topK(df: DataFrame, text: Column, k: Int): DataFrame =
    byFrequency(df, text).limit(k)

  /** Approximate top frequencies via the Misra–Gries summary
    * ([[graft.functions.HeavyHitters]]): one pass, `capacity` entries
    * of state per map partition regardless of dictionary size — the
    * scale path when distinct keys are too many to shuffle. With
    * `capacity` >= the true distinct count the result is exact
    * (no evictions), which is how the oracle checks it. */
  def heavyHitters(df: DataFrame, text: Column, capacity: Int): DataFrame = {
    val agg = ColumnBridge.column(
      HeavyHitters(ColumnBridge.expression(col("word")), capacity)
        .toAggregateExpression())
    words(df, text)
      .agg(agg.as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.word").as("word"), col("e.cnt").as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc)
  }

  /** Case-folded frequency output — the reference README's own "results
    * comparison" use case (README.md:170-176): its AWS counterpart was
    * case-INSENSITIVE and the author notes `"Han"`/`"han"` should merge.
    * `lower(word)` before the groupBy keeps the whole pipeline shape
    * (partial agg → hash exchange → final agg → sort) while folding; the
    * corpus is ASCII so `lower` = the AWS run's tolower semantics. */
  def byFrequencyFolded(df: DataFrame, text: Column): DataFrame =
    words(df, text)
      .select(lower(col("word")).as("word"))
      .groupBy("word").agg(count("*").as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc)

  /** Formatted sink rows (K7): `word -> count` (main.cpp:233,263-265).
    * Header lines are emitted by the writer (FormattedTextSink), not the
    * query, so results stay relational. */
  def formatted(sorted: DataFrame): DataFrame =
    sorted.select(
      concat(col("word"), lit(" -> "), col("cnt").cast("string")).as("line"))
}
