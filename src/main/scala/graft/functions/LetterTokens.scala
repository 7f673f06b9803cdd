package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The engine's word tokenizer: maximal runs of Unicode letters
  * (`\p{L}`), as `array<string>` with no empty and no null element.
  *
  * Same tokens as `split(text, "[^\p{L}]+")` with its empty strings
  * dropped, without the regex route's per-line `String` decode,
  * `java.util.regex` match and per-token re-encode. The kernel walks
  * the UTF-8 bytes in place: `A-Z`/`a-z` are letters and other ASCII
  * bytes delimit without decoding; a byte >= 0x80 starts a strict UTF-8
  * decode whose code point is classified by `Character.isLetter` (the
  * `\p{L}` class). A malformed sequence delimits, as the U+FFFD it
  * decodes to does on the regex route. Each token is copied into its
  * own `UTF8String`, so nothing downstream holds on to the input row.
  * The codegen calls the static kernel like [[TextProfile]].
  */
case class LetterTokens(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "graft_letter_tokens"

  override def nullSafeEval(input: Any): Any =
    LetterTokens.tokens(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.LetterTokens.tokens($c);")

  override protected def withNewChildInternal(newChild: Expression): LetterTokens =
    copy(child = newChild)
}

object LetterTokens {

  /** Code point of the strict UTF-8 sequence whose lead byte `b0` sits
    * at `at`, packed as `length << 21 | codePoint`; -1 when the
    * sequence is malformed (bad lead, bad or missing continuation,
    * overlong, surrogate, > U+10FFFF). */
  private def decode(base: AnyRef, at: Long, avail: Int, b0: Int): Int = {
    if (b0 >= 0xC2 && b0 <= 0xDF) {
      if (avail < 2) return -1
      val b1 = Platform.getByte(base, at + 1) & 0xff
      if ((b1 & 0xC0) != 0x80) -1
      else (2 << 21) | ((b0 & 0x1F) << 6) | (b1 & 0x3F)
    } else if (b0 >= 0xE0 && b0 <= 0xEF) {
      if (avail < 3) return -1
      val b1 = Platform.getByte(base, at + 1) & 0xff
      val b2 = Platform.getByte(base, at + 2) & 0xff
      val lo = if (b0 == 0xE0) 0xA0 else 0x80
      val hi = if (b0 == 0xED) 0x9F else 0xBF
      if (b1 < lo || b1 > hi || (b2 & 0xC0) != 0x80) -1
      else (3 << 21) | ((b0 & 0x0F) << 12) | ((b1 & 0x3F) << 6) | (b2 & 0x3F)
    } else if (b0 >= 0xF0 && b0 <= 0xF4) {
      if (avail < 4) return -1
      val b1 = Platform.getByte(base, at + 1) & 0xff
      val b2 = Platform.getByte(base, at + 2) & 0xff
      val b3 = Platform.getByte(base, at + 3) & 0xff
      val lo = if (b0 == 0xF0) 0x90 else 0x80
      val hi = if (b0 == 0xF4) 0x8F else 0xBF
      if (b1 < lo || b1 > hi || (b2 & 0xC0) != 0x80 || (b3 & 0xC0) != 0x80) -1
      else (4 << 21) | ((b0 & 0x07) << 18) | ((b1 & 0x3F) << 12) |
        ((b2 & 0x3F) << 6) | (b3 & 0x3F)
    } else -1
  }

  /** The next token of the `n` UTF-8 bytes at `base`/`off`, searching
    * from byte `from`: `start << 32 | end` (end exclusive), or -1 when
    * no letter is left. The one byte walk of the tokenizer: [[tokens]]
    * and [[graft.operators.FusedWordCountExec]]'s counter both loop
    * over it, resuming at the returned `end`.
    *
    * A malformed sequence advances one byte. The bytes it skips that
    * way are continuation bytes (0x80-0xBF), which can neither start
    * a code point nor be letters, so the tokens are those of the
    * replacement-decoded string whatever length the decoder gives each
    * U+FFFD. */
  def nextToken(base: AnyRef, off: Long, n: Int, from: Int): Long = {
    var start = -1
    var i = from
    while (i < n) {
      var len = 1
      val b = Platform.getByte(base, off + i) & 0xff
      val letter =
        if (b < 0x80) {
          val l = (b | 0x20) - 'a'
          l >= 0 && l < 26
        } else {
          val d = decode(base, off + i, n - i, b)
          d >= 0 && { len = d >>> 21; Character.isLetter(d & 0x1FFFFF) }
        }
      if (letter) {
        if (start < 0) start = i
      } else if (start >= 0) return (start.toLong << 32) | i
      i += len
    }
    if (start >= 0) (start.toLong << 32) | n else -1L
  }

  /** The tokens of `s`, each copied into its own `UTF8String`; called
    * from generated code. */
  def tokens(s: UTF8String): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var out = new Array[Any](16)
    var count = 0
    var t = nextToken(base, off, n, 0)
    while (t >= 0) {
      val start = (t >>> 32).toInt
      val end = t.toInt
      val bytes = new Array[Byte](end - start)
      Platform.copyMemory(base, off + start, bytes,
        Platform.BYTE_ARRAY_OFFSET, bytes.length)
      if (count == out.length) {
        val grown = new Array[Any](count * 2)
        System.arraycopy(out, 0, grown, 0, count)
        out = grown
      }
      out(count) = UTF8String.fromBytes(bytes)
      count += 1
      t = nextToken(base, off, n, end)
    }
    val exact = new Array[Any](count)
    System.arraycopy(out, 0, exact, 0, count)
    new GenericArrayData(exact)
  }
}
