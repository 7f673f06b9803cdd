package graft.operators

import graft.functions.LetterTokens
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, BindReferences, Explode, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Partial}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.aggregate.{AggUtils, HashAggregateExec}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** In-mapper word counting: the map side of [[WordCount.counts]] as
  * one operator. Each task walks its lines' UTF-8 bytes with
  * [[LetterTokens.nextToken]] and counts every token's byte slice in a
  * [[WordCountTable]]; no per-token `UTF8String`, array or row is
  * made. It emits `(word, count)` rows, the same rows and attributes a
  * partial `HashAggregate` of `count(1)` would, into Spark's hash
  * `Exchange` and final `HashAggregate`.
  *
  * `word` and `count` are the attributes the operator produces; `text`
  * is bound to the child's output. `maxSlots` bounds the table (see
  * [[WordCountTable]]). Emitted rows share one buffer: like every
  * Spark operator's output, a consumer that keeps a row copies it.
  */
case class FusedWordCountExec(
    word: Attribute,
    count: Attribute,
    text: Expression,
    child: SparkPlan,
    maxSlots: Int = WordCountTable.MaxSlots) extends UnaryExecNode {

  override def output: Seq[Attribute] = Seq(word, count)

  override def producedAttributes: AttributeSet = AttributeSet(output)

  override def outputPartitioning: Partitioning = child.outputPartitioning match {
    case SinglePartition => SinglePartition
    case p => UnknownPartitioning(p.numPartitions)
  }

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numTokens" -> SQLMetrics.createMetric(sparkContext, "tokens in"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "partial rows out"),
    "numFlushes" -> SQLMetrics.createMetric(sparkContext, "flushes"),
    "peakKeys" -> SQLMetrics.createMetric(sparkContext,
      "peak keys (sum of per-task peaks)"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numTokens = longMetric("numTokens")
    val numOutputRows = longMetric("numOutputRows")
    val numFlushes = longMetric("numFlushes")
    val peakKeys = longMetric("peakKeys")
    val bound = BindReferences.bindReference(text, child.output)
    val slots = maxSlots
    child.execute().mapPartitions { lines =>
      val table = new WordCountTable(slots)
      val writer = new UnsafeRowWriter(2, 32)
      var peak = 0
      var at = 0 // emission cursor into the table's arena
      var end = 0

      // Count lines until the input ends or the table is full, then
      // point the cursor at the records to emit.
      def fill(): Unit = {
        var tokens = 0L
        while (!table.full && lines.hasNext) {
          val s = bound.eval(lines.next()).asInstanceOf[UTF8String]
          if (s != null) tokens += table.addTokens(s)
        }
        numTokens += tokens
        if (lines.hasNext) numFlushes += 1
        if (table.keys > peak) {
          peakKeys += table.keys - peak
          peak = table.keys
        }
        numOutputRows += table.keys
        at = 0
        end = table.used
      }

      new Iterator[InternalRow] {
        override def hasNext: Boolean = at < end || {
          if (end > 0) {
            end = 0
            if (lines.hasNext) table.clear()
          }
          lines.hasNext && { fill(); at < end }
        }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          writer.reset()
          writer.zeroOutNullBytes()
          at = table.write(at, writer)
          writer.getRow
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): FusedWordCountExec =
    copy(child = newChild)
}

/** Per-task word counts over token byte slices: open addressing over
  * one `long[]` of `hash << 32 | (offset + 1)` (0 = empty slot), with
  * the records in one byte arena as `[len:int][count:long][bytes]`.
  * The hash is Murmur3 over the slice in place.
  *
  * The table doubles up to `maxSlots` slots at a load of one half.
  * Past that it is [[full]], and the operator emits its records and
  * [[clear]]s it: bounded-state in-mapper combining, whose duplicate
  * keys the final aggregate merges. Fullness is checked between
  * lines, so one line's tokens always land in one table; a single line
  * with more distinct words than the bound grows the table past it
  * until the next clear.
  */
final class WordCountTable(maxSlots: Int) {
  require(maxSlots >= 2 && Integer.bitCount(maxSlots) == 1,
    s"maxSlots must be a power of two >= 2, got $maxSlots")

  private var slots = new Array[Long](math.min(maxSlots, 1 << 10))
  private var arena = new Array[Byte](1 << 12)
  /** Arena bytes in use; the records are `[0, used)`. */
  var used = 0
  /** Distinct tokens held. */
  var keys = 0

  /** At the bound: half of `maxSlots` keys, or 16 arena bytes a slot. */
  def full: Boolean =
    keys >= maxSlots / 2 || used.toLong >= 16L * maxSlots

  /** Count every token of `s`; the number of tokens. */
  def addTokens(s: UTF8String): Int = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var tokens = 0
    var t = LetterTokens.nextToken(base, off, n, 0)
    while (t >= 0) {
      val start = (t >>> 32).toInt
      val end = t.toInt
      add(base, off + start, end - start)
      tokens += 1
      t = LetterTokens.nextToken(base, off, n, end)
    }
    tokens
  }

  private def add(base: AnyRef, at: Long, len: Int): Unit = {
    val h = Murmur3_x86_32.hashUnsafeBytes(base, at, len, 42)
    val tag = h.toLong << 32
    val mask = slots.length - 1
    var i = h & mask
    while (true) {
      val e = slots(i)
      if (e == 0) {
        slots(i) = tag | (insert(base, at, len) + 1)
        keys += 1
        if (2 * keys > slots.length) grow()
        return
      }
      if ((e & 0xFFFFFFFF00000000L) == tag) {
        val rec = Platform.BYTE_ARRAY_OFFSET + e.toInt - 1
        if (Platform.getInt(arena, rec) == len &&
            ByteArrayMethods.arrayEquals(base, at, arena, rec + 12, len)) {
          Platform.putLong(arena, rec + 4, Platform.getLong(arena, rec + 4) + 1)
          return
        }
      }
      i = (i + 1) & mask
    }
  }

  /** Append a record with count 1; its arena offset. */
  private def insert(base: AnyRef, at: Long, len: Int): Int = {
    val need = used.toLong + 12 + len
    if (need > arena.length) {
      require(need <= Int.MaxValue - 8, "word count arena over 2 GB")
      val grown = new Array[Byte](
        math.max(need, math.min(2L * arena.length, Int.MaxValue - 8)).toInt)
      System.arraycopy(arena, 0, grown, 0, used)
      arena = grown
    }
    val rec = Platform.BYTE_ARRAY_OFFSET + used
    Platform.putInt(arena, rec, len)
    Platform.putLong(arena, rec + 4, 1L)
    Platform.copyMemory(base, at, arena, rec + 12, len)
    val off = used
    used += 12 + len
    off
  }

  private def grow(): Unit = {
    val old = slots
    slots = new Array[Long](old.length * 2)
    val mask = slots.length - 1
    old.foreach { e =>
      if (e != 0) {
        var i = (e >>> 32).toInt & mask
        while (slots(i) != 0) i = (i + 1) & mask
        slots(i) = e
      }
    }
  }

  /** Write the record at arena offset `at` as a `(word, count)` row;
    * the offset of the next record. */
  def write(at: Int, writer: UnsafeRowWriter): Int = {
    val len = Platform.getInt(arena, Platform.BYTE_ARRAY_OFFSET + at)
    writer.write(0, arena, at + 12, len)
    writer.write(1, Platform.getLong(arena, Platform.BYTE_ARRAY_OFFSET + at + 4))
    at + 12 + len
  }

  /** Drop every record; a table grown past the bound by one long line
    * shrinks back to it. */
  def clear(): Unit = {
    if (slots.length > maxSlots) slots = new Array[Long](maxSlots)
    else java.util.Arrays.fill(slots, 0L)
    used = 0
    keys = 0
  }
}

object WordCountTable {
  /** Slots per task table: 2^21 longs (16 MB), so up to 2^20 distinct
    * words per task before a flush. */
  val MaxSlots: Int = 1 << 21
}

/** Plans `Aggregate([w], [w, count(1)], Generate(explode(
  * graft_letter_tokens(text)), [w], child))` as Spark's own aggregate
  * plan with the partial `HashAggregate` (and the `Generate` under it)
  * replaced by [[FusedWordCountExec]]. The final aggregate and the hash
  * exchange `EnsureRequirements` puts under it stay Spark's. Streaming
  * plans and every other shape are left to the built-in strategies.
  */
object FusedWordCountStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case a: Aggregate if !a.isStreaming => a match {
      case PhysicalAggregation(Seq(w: Attribute), Seq(agg), result,
          LetterTokensOf(word, text, child))
          if w.exprId == word.exprId && countsRows(agg) =>
        AggUtils.planAggregateWithoutDistinct(Seq(w), Seq(agg), result,
          planLater(child)).map(_.transformUp {
          case p: HashAggregateExec
              if p.aggregateExpressions.forall(_.mode == Partial) =>
            FusedWordCountExec(p.output(0), p.output(1), text, p.child)
        })
      case _ => Nil
    }
    case _ => Nil
  }

  /** `count(1)`: no DISTINCT, no FILTER, a non-null literal argument. */
  private def countsRows(agg: AggregateExpression): Boolean =
    !agg.isDistinct && agg.filter.isEmpty && (agg.aggregateFunction match {
      case Count(Seq(l: Literal)) => l.value != null
      case _ => false
    })

  /** `explode(graft_letter_tokens(text))` with no outer rows whose only
    * output is the word: `(word, text, child)`. */
  private object LetterTokensOf {
    def unapply(p: LogicalPlan): Option[(Attribute, Expression, LogicalPlan)] =
      p match {
        case g @ Generate(Explode(LetterTokens(text)), _, false, _, _, child)
            if text.deterministic && g.output.size == 1 =>
          Some((g.output.head, text, child))
        case _ => None
      }
  }

  /** Register the strategy with `spark`'s planner once. The planner
    * tries `experimental.extraStrategies` before its own. */
  def install(spark: SparkSession): Unit = synchronized {
    val ex = spark.experimental
    if (!ex.extraStrategies.contains(this))
      ex.extraStrategies = this +: ex.extraStrategies
  }
}
