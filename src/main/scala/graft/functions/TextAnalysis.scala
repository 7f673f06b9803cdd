package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column builders for the training-data pipeline
  * extensions (beyond the reference's surface; north star in
  * /root/repo/BASELINE.json). Everything here is built from codegen'd
  * `functions._` array/regex expressions — no UDFs — so whole-stage
  * codegen covers the hot path and the scan only reads the text column.
  */
object TextAnalysis {

  /** Whitespace tokens (`\S+` runs). */
  val WsTokenRegex = "\\S+"

  /** BPE-ish pre-tokenization: letter runs, digit runs, and runs of
    * other non-space symbols — the usual byte-pair-encoding input
    * segmentation (cf. GPT-2's pre-tokenizer, simplified). */
  val BpeTokenRegex = "\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]+"

  /** Characteristic stopwords per language for the n-gram/stopword
    * language-ID heuristic. Order matters: ties resolve to the earlier
    * entry. */
  val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "it"),
    "es" -> Seq("el", "los", "las", "que", "y", "en", "por"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr" -> Seq("le", "les", "et", "des", "une", "est", "dans"),
  )

  /** Engine-neutral 60-bit string hash: the first 15 hex digits of
    * md5, parsed base-16 (always positive, fits a BIGINT). DuckDB
    * computes the identical value — `('0x' || substr(md5(s),1,15))
    * ::BIGINT` — which is what lets md5-hashed operators (SimHash,
    * portable winnowing) carry cross-engine oracles. xxhash64 stays
    * the production default where no oracle is needed (one 8-byte
    * hash vs a full md5). */
  def md5Hash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  def wsTokens(text: Column): Column =
    regexp_extract_all(text, lit(WsTokenRegex), lit(0))

  /** Token counts via regexp_count: no token-array materialization —
    * one codegen'd scan per count (the extract_all + size route
    * allocates every token string just to count them). */
  def tokenCountWs(text: Column): Column =
    regexp_count(text, lit(WsTokenRegex))

  /** Number of tokens contained in `words` (multiset count). */
  def stopwordCount(tokens: Column, words: Seq[String]): Column =
    size(filter(tokens, t => t.isin(words.map(_.asInstanceOf[Any]): _*)))

  /** Fraction of characters that are ASCII letters. */
  def alphaRatio(text: Column): Column =
    length(regexp_replace(text, "[^a-zA-Z]", "")).cast("double") /
      length(text)

  /** Heuristic quality score in [0,1]: length credit saturating at 50
    * tokens, discounted by stopword density, scaled by letter density.
    * Deterministic arithmetic, mirrored exactly in the DuckDB oracle. */
  def qualityScore(text: Column): Column = {
    val toks = wsTokens(text)
    val n = size(toks).cast("double")
    val stopRatio =
      stopwordCount(toks, LangStopwords.head._2).cast("double") / n
    least(lit(1.0), n / lit(50.0)) * (lit(1.0) - stopRatio) *
      alphaRatio(text)
  }

  /** Stopword-list language ID: argmax of per-language stopword hits,
    * ties to the earlier language in [[LangStopwords]], `unknown` when
    * no list hits. */
  def langId(text: Column): Column =
    // double let-binding: tokenize once, count each list once — the
    // when-chain references every count several times, and without the
    // binds CollapseProject re-inlines (and re-runs) the tokenization
    // and filters per reference.
    ColumnOps.bind(wsTokens(text), toks =>
      ColumnOps.bind(
        struct(LangStopwords.map { case (lang, words) =>
          stopwordCount(toks, words).as(s"c_$lang")
        }: _*),
        cs => {
          val counts = LangStopwords.map { case (lang, _) =>
            lang -> cs.getField(s"c_$lang")
          }
          val allZero = counts.map(_._2 === 0).reduce(_ && _)
          // when-chain: first language whose count >= all later counts wins.
          val chain = counts.tails.collect {
            case (lang, c) +: rest if rest.nonEmpty =>
              (lang, rest.map { case (_, o) => c >= o }.reduce(_ && _))
          }.toSeq
          val base = when(allZero, lit("unknown"))
          chain.foldLeft(base) { case (acc, (lang, cond)) =>
            acc.when(cond, lit(lang))
          }.otherwise(lit(LangStopwords.last._1))
        }))

  /** Whole-document fingerprints. md5/sha2 over the exact bytes —
    * identical hex on any engine, the exact-dedup key at scale. */
  def fingerprintMd5(text: Column): Column = md5(text.cast("binary"))
  def fingerprintSha256(text: Column): Column =
    sha2(text.cast("binary"), 256)

  /** Word n-gram shingles (arrays of n consecutive tokens, joined by a
    * single space) — the input unit for MinHash / Jaccard dedup.
    * Backed by the codegen'd [[WordShingles]] kernel; the equivalent
    * transform/slice/concat_ws chain is interpreted per shingle
    * (KernelProps pins the equivalence). */
  def shingles(text: Column, n: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      WordShingles(
        org.apache.spark.sql.graft.ColumnBridge.expression(text), n))
}
