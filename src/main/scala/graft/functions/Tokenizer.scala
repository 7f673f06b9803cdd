package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.explode
import org.apache.spark.sql.graft.ColumnBridge

import scala.collection.mutable.ArrayBuffer

/** Tokenization semantics of the reference word counter.
  *
  * The reference classifies *bytes*: a byte is a word character iff
  * `isalpha(b) || b >= 0x80` (reference `src/main.cpp:59-64`; the
  * `ch != '-'` and `!isspace` clauses there are dead code — both already
  * fail `isalpha || >= 0x80`). Every other byte (digits, ASCII
  * punctuation, whitespace, control) delimits; words never span lines
  * (`main.cpp:72-74`); empty tokens are never emitted (`main.cpp:67,72`);
  * counting is case-sensitive (reference `README.md:172`).
  *
  * Two implementations:
  *   - [[tokenizeBytes]]: byte-exact parity, walking UTF-8 bytes the way
  *     the reference walks `char`s. Because all bytes of a multi-byte
  *     UTF-8 sequence are >= 0x80, slices never split a code point, so
  *     outputs remain valid UTF-8. Exposed as a UDF for parity tests.
  *   - [[tokensCol]]: the engine's product semantics — the codegen'd
  *     byte-scan kernel [[LetterTokens]]: maximal runs of Unicode
  *     letters (`\p{L}`), i.e. `split(line, DelimiterRegex)` with the
  *     empty strings dropped. On ASCII text the two agree exactly; they
  *     differ only on multi-byte *non-letter* code points (e.g. `…`,
  *     `–`), which the reference glues into words because their bytes
  *     are >= 0x80.
  */
object Tokenizer {

  /** Non-letter code points delimit; `\p{L}` = Unicode letter class.
    * The specification [[LetterTokens]] is tested against; no engine
    * path runs this regex. */
  val DelimiterRegex = "[^\\p{L}]+"

  @inline private def isWordByte(b: Byte): Boolean = {
    val u = b & 0xff
    (u >= 'A' && u <= 'Z') || (u >= 'a' && u <= 'z') || u >= 0x80
  }

  /** Byte-exact reference tokenization of one line (main.cpp:56-74). */
  def tokenizeBytes(line: String): Seq[String] = {
    if (line == null) return Seq.empty
    val bytes = line.getBytes("UTF-8")
    val out = ArrayBuffer.empty[String]
    var start = -1
    var i = 0
    while (i < bytes.length) {
      if (isWordByte(bytes(i))) {
        if (start < 0) start = i
      } else if (start >= 0) {
        out += new String(bytes, start, i - start, "UTF-8")
        start = -1
      }
      i += 1
    }
    if (start >= 0) out += new String(bytes, start, bytes.length - start, "UTF-8")
    out.toSeq
  }

  /** line column -> `array<string>` of its letter-run tokens, never an
    * empty or null element (null line -> null). Codegen'd, no UDF in
    * the hot path. */
  def tokensCol(line: Column): Column =
    ColumnBridge.column(LetterTokens(ColumnBridge.expression(line)))

  /** line column -> one row per token. */
  def explodeTokens(line: Column): Column = explode(tokensCol(line))

  /** Register the byte-exact tokenizer as a SQL-visible UDF
    * `tokenize_bytes(string) -> array<string>` (parity path only;
    * product queries use [[tokensCol]]). */
  def registerUdfs(spark: SparkSession): Unit = {
    spark.udf.register("tokenize_bytes", (s: String) => tokenizeBytes(s))
  }
}
