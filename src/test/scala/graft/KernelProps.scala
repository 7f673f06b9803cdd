package graft

import graft.functions.{HeavyHitters, LetterTokens, TextProfile, Tokenizer}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** ScalaCheck properties over the pure kernels (no Spark session —
  * these pin semantics the Spark specs then rely on). */
object KernelProps extends Properties("graft.kernels") {

  // ---- generators ----------------------------------------------------

  private val wordChar: Gen[Char] = Gen.frequency(
    8 -> Gen.alphaChar, 2 -> Gen.oneOf('ä', 'ö', 'é', 'ß', 'ü'))
  private val delimChar: Gen[Char] = Gen.oneOf(
    ' ', '\t', '-', '.', ',', '!', '0', '7', ';', '(')
  private val line: Gen[String] = Gen.listOf(
    Gen.frequency(3 -> wordChar, 1 -> delimChar)).map(_.mkString)
  private[graft] val mixedText: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.alphaNumChar,
    2 -> Gen.oneOf(' ', '\t', '\n', '\r'),
    1 -> Gen.oneOf('!', '.', 'é', 'ß', '€', '-', '_'))).map(_.mkString)
  // like mixedText but with occasional astral-plane (non-BMP) chars —
  // the codepoint-vs-UTF-16 hazard surface
  private[graft] val astralText: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.alphaNumChar.map(_.toString),
    2 -> Gen.oneOf(" ", "\t", "\n"),
    1 -> Gen.oneOf("😀", "🤖", "𝕏", "é"))).map(_.mkString)

  // letters and non-letters the ASCII generators never reach: combining
  // mark, Hebrew/Arabic/CJK letters, modifier and titlecase letters,
  // a letter-number, the ellipsis, digits, astral letter and emoji
  private[graft] val unicodeText: Gen[String] = Gen.listOf(Gen.frequency(
    4 -> Gen.alphaChar.map(_.toString),
    2 -> Gen.oneOf(" ", "\t", "-", "0", "7", ".", "\u000B"),
    3 -> Gen.oneOf("\u0301", "\u05D0", "\u05E9", "\u0628", "\u0645",
      "\u4E2D", "\u6587", "\u02B0", "\u01C5", "\u2160", "\u2026",
      "\u00E9", "\u00AD", "\u0663", "\uD835\uDD4F", "\uD83D\uDE00")))
    .map(_.mkString)
  // byte strings, malformed UTF-8 included: random bytes, whole
  // encodings of random code points, and truncated encodings
  private[graft] val utf8ish: Gen[Array[Byte]] = {
    val codePoint = Gen.frequency(
      3 -> Gen.choose(0x80, 0xD7FF), 1 -> Gen.choose(0xE000, 0x10FFFF))
    val enc = codePoint.map(cp => new String(Character.toChars(cp))
      .getBytes("UTF-8"))
    Gen.listOf(Gen.frequency(
      3 -> Gen.choose(Byte.MinValue, Byte.MaxValue).map(Array(_)),
      2 -> Gen.alphaChar.map(c => Array(c.toByte)),
      2 -> enc,
      1 -> enc.map(b => b.take(b.length - 1)))).map(_.toArray.flatten)
  }

  private def letterTokens(u: UTF8String): Seq[String] = {
    val arr = LetterTokens.tokens(u)
    (0 until arr.numElements()).map(arr.getUTF8String(_).toString)
  }
  private def regexTokens(s: String): Seq[String] =
    s.split(Tokenizer.DelimiterRegex).filter(_.nonEmpty).toSeq

  // ---- LetterTokens kernel vs the `[^\p{L}]+` split -------------------

  property("LetterTokens == regex split (astral text)") = forAll(astralText) {
    s => letterTokens(UTF8String.fromString(s)) == regexTokens(s)
  }

  property("LetterTokens == regex split (mixed text)") = forAll(mixedText) {
    s => letterTokens(UTF8String.fromString(s)) == regexTokens(s)
  }

  property("LetterTokens == regex split (Unicode letters and marks)") =
    forAll(unicodeText) { s =>
      letterTokens(UTF8String.fromString(s)) == regexTokens(s)
    }

  property("LetterTokens == regex split of the decoded bytes") =
    forAll(utf8ish) { b =>
      val u = UTF8String.fromBytes(b)
      letterTokens(u) == regexTokens(u.toString)
    }

  property("LetterTokens never emits an empty token") =
    forAll(utf8ish) { b =>
      letterTokens(UTF8String.fromBytes(b)).forall(_.nonEmpty)
    }

  // ---- reference tokenizer (main.cpp byte semantics) -----------------

  property("tokens are non-empty and all word-bytes") = forAll(line) { s =>
    Tokenizer.tokenizeBytes(s).forall { t =>
      t.nonEmpty && t.getBytes("UTF-8").forall { b =>
        val u = b & 0xff
        (u >= 'A' && u <= 'Z') || (u >= 'a' && u <= 'z') || u >= 0x80
      }
    }
  }

  property("concatenation via a delimiter = token list concatenation") =
    forAll(line, line) { (a, b) =>
      Tokenizer.tokenizeBytes(a + " " + b) ==
        Tokenizer.tokenizeBytes(a) ++ Tokenizer.tokenizeBytes(b)
    }

  property("delimiter padding never changes tokens") = forAll(line) { s =>
    Tokenizer.tokenizeBytes("..." + s + "\t") == Tokenizer.tokenizeBytes(s)
  }

  property("token bytes total <= line bytes") = forAll(line) { s =>
    Tokenizer.tokenizeBytes(s).map(_.getBytes("UTF-8").length).sum <=
      s.getBytes("UTF-8").length
  }

  // ---- TextProfile vs the regex model --------------------------------

  property("TextProfile == regex token/char counts") = forAll(mixedText) { s =>
    val row = TextProfile.profile(UTF8String.fromString(s))
    val ws = ("\\S+".r).findAllIn(s).size
    val bpe = ("\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]+".r).findAllIn(s).size
    val nonWs = s.codePointCount(0, s.length) -
      ("\\s".r).findAllIn(s).size
    row.getInt(0) == ws && row.getInt(1) == bpe && row.getInt(2) == nonWs
  }

  // ---- WordShingles vs the sliding-window model ----------------------

  property("WordShingles == sliding window over \\S+ tokens") =
    forAll(mixedText, Gen.choose(1, 4)) { (s, n) =>
      val got = {
        val arr = graft.functions.WordShingles
          .shingles(UTF8String.fromString(s), n)
        (0 until arr.numElements()).map(arr.getUTF8String(_).toString)
      }
      val toks = ("\\S+".r).findAllIn(s).toList
      val want =
        if (toks.length < n) Nil
        else toks.sliding(n).map(_.mkString(" ")).toList
      got == want
    }

  // ---- RollingFingerprints winnowing invariants ----------------------

  property("winnowing: subset of gram hashes, sorted, window-covering") =
    forAll(mixedText, Gen.choose(2, 6), Gen.choose(1, 5)) { (s, k, w) =>
      val arr = graft.functions.RollingFingerprints
        .winnow(UTF8String.fromString(s), k, w)
      val picked = (0 until arr.numElements()).map { i =>
        val r = arr.getStruct(i, 2)
        (r.getInt(0), r.getLong(1))
      }
      val bytes = s.getBytes("UTF-8")
      val n = bytes.length - k + 1
      if (n <= 0) picked.isEmpty
      else {
        // model: all gram hashes, straight polynomial
        val all = (0 until n).map { i =>
          (i, bytes.slice(i, i + k).foldLeft(0L)((h, b) =>
            h * graft.functions.RollingFingerprints.Base + (b & 0xff)))
        }
        val pos = picked.map(_._1)
        picked.forall { case (p, f) => all(p) == (p, f) } && // true gram hashes
          pos == pos.sorted && pos.distinct == pos &&        // ordered, deduped
          // winnowing guarantee: every window of w grams contains a pick
          (0 until math.max(1, n - w + 1)).forall(j =>
            pos.exists(p => p >= j && p < j + w))
      }
    }

  property("portable winnowing: codepoint md5-60 hashes, covering") =
    forAll(astralText, Gen.choose(2, 5), Gen.choose(1, 4)) { (s, k, w) =>
      val arr = graft.functions.RollingFingerprints
        .winnowMd5(UTF8String.fromString(s), k, w)
      val picked = (0 until arr.numElements()).map { i =>
        val r = arr.getStruct(i, 2)
        (r.getInt(0), r.getLong(1))
      }
      // independent model: codepoint array slices, hash parsed from the
      // md5 HEX STRING (kernel derives it from raw digest bytes)
      val cps = s.codePoints().toArray
      val n = cps.length - k + 1
      if (n <= 0) picked.isEmpty
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        val all = (0 until n).map { i =>
          val gram = new String(cps, i, k)
          val hex = md.digest(gram.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          (i, java.lang.Long.parseLong(hex.take(15), 16))
        }
        val pos = picked.map(_._1)
        picked.forall { case (p, f) => all(p) == (p, f) } &&
          pos == pos.sorted && pos.distinct == pos &&
          (0 until math.max(1, n - w + 1)).forall(j =>
            pos.exists(p => p >= j && p < j + w))
      }
    }

  property("TokenStats == regex model (counts, max tf, 2-grams)") =
    forAll(astralText) { s =>
      val row = graft.functions.TokenStats.stats(UTF8String.fromString(s))
      val toks = ("\\S+".r).findAllIn(s).toList
      val counts = toks.groupBy(identity).view.mapValues(_.size.toLong)
      val grams =
        if (toks.length < 2) Nil
        else toks.sliding(2).map(_.mkString(" ")).toList
      row.getLong(0) == toks.length.toLong &&
        row.getLong(1) == counts.size.toLong &&
        row.getLong(2) == (if (toks.isEmpty) 0L else counts.values.max) &&
        row.getLong(3) == grams.length.toLong &&
        row.getLong(4) == grams.distinct.length.toLong
    }

  property("RepetitionProfile == regex model (top-k grams, dup mass)") =
    forAll(astralText) { s =>
      val row =
        graft.functions.RepetitionProfile.profile(UTF8String.fromString(s))
      val toks = ("\\S+".r).findAllIn(s).toList
      def grams(n: Int): List[String] =
        if (toks.length < n) Nil
        else toks.sliding(n).map(_.mkString(" ")).toList
      def top(g: List[String]): Long =
        if (g.isEmpty) 0L
        else g.groupBy(identity).values.map(_.size).max.toLong
      def dupMass(g: List[String]): Long =
        g.groupBy(identity).values.collect {
          case v if v.size > 1 => v.size.toLong
        }.sum
      row.getLong(0) == toks.length.toLong &&
        row.getLong(1) == top(toks) &&
        row.getLong(2) == top(grams(2)) &&
        row.getLong(3) == top(grams(3)) &&
        row.getLong(4) == dupMass(toks) &&
        row.getLong(5) == dupMass(grams(2))
    }

  // ---- Misra-Gries buffers (update/merge used directly) --------------

  private val stream: Gen[List[String]] = Gen.listOf(Gen.frequency(
    5 -> Gen.const("hot"),
    3 -> Gen.oneOf("warm1", "warm2"),
    4 -> Gen.choose(0, 50).map(i => s"cold$i")))

  property("MG guarantee: heavy items present, counts within n/(k+1)") =
    forAll(stream, Gen.choose(2, 12)) { (xs, k) =>
      val agg = HeavyHitters(null, k)
      // split the stream arbitrarily, update two buffers, merge — the
      // distributed shape
      val (l, r) = xs.splitAt(xs.length / 2)
      def fill(part: List[String]) = {
        val buf = agg.createAggregationBuffer()
        part.foreach { w =>
          val key = UTF8String.fromString(w)
          buf.get(key) match {
            case Some(c) => buf.update(key, c + 1)
            case None if buf.size < k => buf.update(key, 1L)
            case None =>
              buf.mapValuesInPlace((_, c) => c - 1)
              buf.filterInPlace((_, c) => c > 0)
          }
        }
        buf
      }
      val merged = agg.merge(fill(l), fill(r))
      val exact = xs.groupBy(identity).view.mapValues(_.size.toLong)
      val slack = xs.size.toLong / (k + 1)
      merged.size <= k &&
        exact.forall { case (w, c) =>
          val got = merged.getOrElse(UTF8String.fromString(w), 0L)
          got <= c && (c <= slack || got >= c - slack)
        }
    }

  // ---- SrpBuckets kernel vs the per-plane composition ----------------

  private val vec: Gen[Array[Double]] =
    Gen.choose(1, 16).flatMap(d =>
      Gen.listOfN(d, Gen.choose(-2.0, 2.0)).map(_.toArray))

  property("SrpBuckets == per-plane sign/bit composition") =
    forAll(vec, Gen.choose(1, 4), Gen.choose(1, 8), Gen.choose(0L, 99L)) {
      (v, nTables, nPlanes, seed) =>
        val tables = (0 until nTables)
          .map(t => graft.operators.Similarity
            .hyperplanes(nPlanes, v.length, seed + t))
        val kernel = graft.functions.SrpBuckets(null,
          tables.flatten.map(_.toArray).toArray, nTables, nPlanes)
        val got = kernel.nullSafeEval(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(v))
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toIntArray.toSeq
        // semantic reference: same left-to-right fold, strict > 0
        val want = tables.map { planes =>
          planes.zipWithIndex.map { case (p, i) =>
            val s = v.indices.foldLeft(0.0)((a, j) => a + v(j) * p(j))
            if (s > 0) 1 << i else 0
          }.sum
        }
        got == want
    }

  property("SimhashBits == token-vote model, both hash modes") =
    forAll(mixedText, Gen.choose(1, 60), Gen.oneOf(true, false)) {
      (s, bits, portable) =>
        val got = graft.functions.SimhashBits.fingerprint(
          UTF8String.fromString(s), bits, portable)
        val toks = ("\\S+".r).findAllIn(s).toList
        val want: java.lang.Long =
          if (toks.isEmpty) null
          else {
            // independent hash route: md5 via its HEX STRING (the
            // kernel derives the 60-bit value from raw digest bytes);
            // xx via the hashUTF8String entry point (the kernel slices
            // the document's byte array with an offset)
            val hs = toks.map { t =>
              if (portable) {
                val d = java.security.MessageDigest.getInstance("MD5")
                  .digest(t.getBytes("UTF-8"))
                val hex = d.map(b => f"${b & 0xff}%02x").mkString
                java.lang.Long.parseLong(hex.take(15), 16)
              } else org.apache.spark.sql.catalyst.expressions.XXH64
                .hashUTF8String(UTF8String.fromString(t), 42L)
            }
            (0 until bits).foldLeft(0L) { (acc, b) =>
              val votes = hs.map(h =>
                if (((h >>> b) & 1L) == 1L) 1 else -1).sum
              if (votes > 0) acc | (1L << b) else acc
            }
          }
        got == want
    }

  property("PhraseHits == regex-split sliding-window reference") = {
    val word: Gen[String] = Gen.oneOf("a", "b", "ab", "x")
    val text: Gen[String] = Gen.listOf(Gen.frequency(
      5 -> word, 2 -> Gen.oneOf(" ", "\t", "\n", "  ")))
      .map(_.mkString(" "))
    val phrase: Gen[List[String]] =
      Gen.choose(2, 3).flatMap(n => Gen.listOfN(n, word))
    forAll(text, phrase) { (s, p) =>
      val packed = graft.functions.PhraseHits.hits(
        UTF8String.fromString(s), p.toArray)
      val toks = s.split("\\s+").filter(_.nonEmpty).toSeq
      val hits = toks.sliding(p.length).zipWithIndex
        .collect { case (w, i) if w.size == p.length && w == p => i }
        .toSeq
      val want =
        if (hits.isEmpty) 0L
        else (hits.size.toLong << 32) | (hits.min + 1).toLong
      packed == want
    }
  }
}
