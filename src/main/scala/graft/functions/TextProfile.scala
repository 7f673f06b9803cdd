package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass text profile: whitespace-token count, BPE-ish-token
  * count, and non-whitespace character count, in ONE scan of the
  * string.
  *
  * The regex route needs three passes (`\S+` count, the BPE
  * alternation count, `\s` count), each paying java.util.regex
  * machinery per character — profiling showed q_text_stats dominated
  * by exactly that. A maximal-run count is just "transitions into a
  * class different from the previous character's class", so one
  * classify-per-codepoint loop produces all three numbers.
  *
  * Class rules mirror the regexes bit-for-bit (java.util.regex
  * semantics, which the DuckDB oracles agree with on this corpus):
  *   - whitespace = `\s` = [ \t\n\x0B\f\r] (ASCII-only by default)
  *   - letter     = `\p{L}`  = Character.isLetter
  *   - number     = `\p{N}`  = categories Nd, Nl, No
  *   - other      = anything else non-whitespace
  * BPE-ish tokens (`\p{L}+|\p{N}+|[^\s\p{L}\p{N}]+`) are maximal
  * same-class runs; `\S+` tokens are maximal non-whitespace runs.
  *
  * Codegen emits a call to the static [[TextProfile.profile]] — the
  * char loop runs as one JIT-compiled method inside the
  * whole-stage-codegen row loop (same pattern as Spark's own regexp
  * expressions calling into Matcher, minus the regex engine).
  */
case class TextProfile(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens_ws", IntegerType, nullable = false),
    StructField("n_tokens_bpe", IntegerType, nullable = false),
    StructField("n_nonws", IntegerType, nullable = false)))

  override def prettyName: String = "graft_text_profile"

  override def nullSafeEval(input: Any): Any =
    TextProfile.profile(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextProfile.profile($c);")

  override protected def withNewChildInternal(newChild: Expression): TextProfile =
    copy(child = newChild)
}

object TextProfile {

  /** 0 = whitespace, 1 = letter, 2 = number, 3 = other. */
  private def classify(cp: Int): Int =
    if (cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
        cp == '\f' || cp == '\r') 0
    else if (Character.isLetter(cp)) 1
    else {
      val t = Character.getType(cp)
      if (t == Character.DECIMAL_DIGIT_NUMBER ||
          t == Character.LETTER_NUMBER ||
          t == Character.OTHER_NUMBER) 2
      else 3
    }

  /** One pass over the code points; called from generated code. */
  def profile(s: UTF8String): InternalRow = {
    val str = s.toString
    var i = 0
    var nWs = 0
    var nBpe = 0
    var nonWs = 0
    var prev = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      val cls = classify(cp)
      if (cls != 0) {
        nonWs += 1
        if (prev == 0) nWs += 1
        if (cls != prev) nBpe += 1
      }
      prev = cls
      i += Character.charCount(cp)
    }
    new GenericInternalRow(Array[Any](nWs, nBpe, nonWs))
  }
}
