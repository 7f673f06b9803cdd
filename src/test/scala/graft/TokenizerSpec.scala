package graft

import graft.functions.{LetterTokens, Tokenizer}
import graft.operators.WordCount
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{GenerateExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import scala.util.Random

/** Pins the exact byte semantics of the reference tokenizer
  * (reference src/main.cpp:59-74; fixtures from FIXTURES.md §1), and
  * the engine's letter-run kernel to its `[^\p{L}]+` specification. */
class TokenizerSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def tok(s: String) = Tokenizer.tokenizeBytes(s)

  test("basic words") {
    assert(tok("hello world hello") == Seq("hello", "world", "hello"))
  }

  test("case-sensitive: Han != han != HAN") {
    assert(tok("Han han HAN") == Seq("Han", "han", "HAN"))
  }

  test("hyphen is a delimiter") {
    assert(tok("well-known") == Seq("well", "known"))
  }

  test("digits delimit and are never tokens") {
    assert(tok("abc123def 42") == Seq("abc", "def"))
  }

  test("bytes >= 0x80 are word-chars (Finnish letters kept)") {
    assert(tok("äiti ÅBO öljy") == Seq("äiti", "ÅBO", "öljy"))
  }

  test("ASCII punctuation delimits") {
    assert(tok("foo.bar,baz!") == Seq("foo", "bar", "baz"))
  }

  test("no empty tokens") {
    assert(tok("") == Seq.empty)
    assert(tok("   ") == Seq.empty)
    assert(tok(" .,! ") == Seq.empty)
    assert(tok(null) == Seq.empty)
  }

  test("multi-byte UTF-8 punctuation glues words (documented ref delta)") {
    // Every byte of '…' (E2 80 A6) is >= 0x80, so the reference keeps it
    // inside the word; the regex product path would split here.
    assert(tok("a…b") == Seq("a…b"))
  }

  test("word flushed at end of line") {
    assert(tok("ending") == Seq("ending"))
  }

  private val rnd = new Random(42)
  private def randomAsciiLine(): String =
    (0 until rnd.nextInt(60)).map(_ => (32 + rnd.nextInt(95)).toChar).mkString

  test("property: tokens are non-empty and all word-bytes (100 random lines)") {
    (1 to 100).foreach { _ =>
      val s = randomAsciiLine()
      tok(s).foreach { w =>
        assert(w.nonEmpty)
        assert(w.forall(c => c.isLetter || c >= 0x80), s"line=$s tok=$w")
      }
    }
  }

  test("property: sum of counts == token count (agg conservation)") {
    val lines = (1 to 50).map(_ => randomAsciiLine())
    val toks = lines.flatMap(tok)
    val counted = toks.groupBy(identity).view.mapValues(_.size)
    assert(counted.values.sum == toks.size)
  }

  test("regex path and byte path agree on ASCII text (100 random lines)") {
    (1 to 100).foreach { _ =>
      val line = randomAsciiLine()
      val regexToks =
        line.split(Tokenizer.DelimiterRegex).filter(_.nonEmpty).toSeq
      assert(tok(line) == regexToks, s"line=$line")
    }
  }

  // ---- LetterTokens: the engine's tokenizer vs its regex spec ----------

  private def spec(s: String): Seq[String] =
    s.split(Tokenizer.DelimiterRegex).filter(_.nonEmpty).toSeq
  private def kernel(u: UTF8String): Seq[String] = {
    val arr = LetterTokens.tokens(u)
    (0 until arr.numElements()).map(arr.getUTF8String(_).toString)
  }

  test("letter kernel: null in gives null out, \"\" gives an empty array") {
    assert(LetterTokens(Literal(null, StringType)).eval() == null)
    assert(LetterTokens.tokens(UTF8String.EMPTY_UTF8).numElements() == 0)
    assert(kernel(UTF8String.fromString(" .,1 ")).isEmpty)
  }

  test("letter kernel: non-ASCII letters join words, non-letters split") {
    val s = "sää–eikö… ǅemal ʰi ⅫX e\u0301x שלום,سلام 中文1𝕏😀y"
    assert(kernel(UTF8String.fromString(s)) == Seq("sää", "eikö", "ǅemal",
      "ʰi", "X", "e", "x", "שלום", "سلام", "中文", "𝕏", "y"))
    assert(kernel(UTF8String.fromString(s)) == spec(s))
  }

  test("letter kernel: malformed UTF-8 delimits like its U+FFFD") {
    def bytes(xs: Int*) = UTF8String.fromBytes(xs.map(_.toByte).toArray)
    val cases = Seq(
      bytes('a', 0xC0, 0x81, 'b'),             // overlong 2-byte
      bytes('a', 0xE0, 0x80, 0x80, 'b'),       // overlong 3-byte
      bytes('a', 0xED, 0xA0, 0x80, 'b'),       // UTF-16 surrogate
      bytes('a', 0xF4, 0x90, 0x80, 0x80, 'b'), // > U+10FFFF
      bytes('a', 0xC3, 'b'),                   // truncated, then ASCII
      bytes('a', 0xE4, 0xB8, 'b'),             // truncated 3-byte
      bytes('a', 0xC3, 0xA4, 0xBF, 'b'),       // stray continuation
      bytes(0xC3, 0xA4, 0xF8, 0xC3),           // 5-byte lead, cut tail
      bytes('a', 0xFF, 0xC3, 0xA4))            // invalid lead, then ä
    cases.foreach { u =>
      val got = kernel(u)
      assert(got == spec(u.toString), s"bytes=${u.getBytes.mkString(",")}")
      assert(got.forall(_.nonEmpty))
    }
  }

  test("letter kernel == regex spec on 20k seeded random byte strings") {
    val r = new Random(7)
    (1 to 20000).foreach { _ =>
      val b = new Array[Byte](r.nextInt(24))
      r.nextBytes(b)
      val u = UTF8String.fromBytes(b)
      assert(kernel(u) == spec(u.toString), s"bytes=${b.mkString(",")}")
    }
  }

  test("WordCount.counts on non-ASCII text == regex-split counts, " +
      "with and without codegen") {
    import spark.implicits._
    val lines = Seq(
      "syksyn sää on kaunis – eikö olekin…",
      "sää oli kaunis… mutta kylmä",
      "ǅemal ʰi Ⅻ naïve e\u0301 שלום سلام 中文 a1b2 a-b",
      "𝕏x 😀 foo…bar foo",
      "", null)
    val want = lines.filter(_ != null).flatMap(spec)
      .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    // repartition: keep the Generate out of a local-relation fold
    val df = lines.toDF("text").repartition(2)
    // counts run the fused in-mapper operator; the Generate over the
    // kernel, and so the codegen check, lives on in WordCount.words
    def run(): (Map[String, Long], Boolean) = {
      val counts = WordCount.counts(df, col("text"))
      val rows = counts.collect().map(r => r.getString(0) -> r.getLong(1))
      val words = WordCount.words(df, col("text"))
      assert(words.collect().length == want.values.sum)
      val fused = collect(words.queryExecution.executedPlan) {
        case w: WholeStageCodegenExec
            if w.find(_.isInstanceOf[GenerateExec]).isDefined => w
      }.nonEmpty
      (rows.toMap, fused)
    }
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    val (codegen, codegenFused) = run()
    val (interpreted, interpretedFused) =
      try {
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        run()
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    assert(codegenFused && !interpretedFused)
    assert(codegen == want)
    assert(interpreted == want)
  }
}
