package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column expressions for large-scale training-data pipelines:
  * tokenization, token counting, quality scoring, language-ID heuristic,
  * shingling and document fingerprinting.
  *
  * All pure `Column` expressions built from codegen'd builtins — no UDFs —
  * so they stay inside WholeStageCodegen and scale linearly with input.
  */
object TextFunctions {

  /** Whitespace tokenization. Empty string → empty array (not [""]). */
  def tokens(text: Column): Column = {
    val t = trim(text)
    when(t === "", array().cast("array<string>")).otherwise(split(t, "\\s+"))
  }

  /** Token count (whitespace). Long for schema stability at scale. */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish subword-count estimate: words plus an extra token per 4 chars
    * of word length beyond the first 4 — a cheap deterministic proxy for
    * byte-pair-encoding token counts (long words split into pieces). */
  def bpeTokenEstimate(text: Column): Column =
    aggregate(
      tokens(text),
      lit(0L),
      (acc, w) => acc + greatest(lit(1L), ceil(length(w).cast("double") / 4.0).cast("long")))

  /** Punctuation-character ratio of the raw text (0 when empty). */
  def punctRatio(text: Column): Column = {
    val len = length(text)
    when(len === 0, 0.0).otherwise(
      length(regexp_replace(text, "[^\\p{Punct}]", "")).cast("double") / len.cast("double"))
  }

  /** Ratio of alphabetic characters. */
  def alphaRatio(text: Column): Column = {
    val len = length(text)
    when(len === 0, 0.0).otherwise(
      length(regexp_replace(text, "[^A-Za-z]", "")).cast("double") / len.cast("double"))
  }

  /** Mean token length in characters (0 when no tokens). */
  def meanTokenLen(text: Column): Column = {
    val ts = tokens(text)
    val n = size(ts)
    when(n === 0, 0.0).otherwise(
      aggregate(ts, lit(0L), (acc, w) => acc + length(w).cast("long")).cast("double")
        / n.cast("double"))
  }

  private val enStopwords =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "on", "for")

  /** The stopword list as an array Column (RAKE phrase splitting); the
    * DuckDB oracle embeds the same 12 literals. */
  def stopwordsArray: Column = array(enStopwords.map(lit): _*)

  /** The stopword list as a SQL array literal for oracle text. */
  def stopwordsSqlList: String =
    enStopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Fraction of tokens that are (lowercased) English stopwords. */
  def stopwordRatio(text: Column): Column = {
    val ts = tokens(lower(text))
    val n = size(ts)
    val sw = array(enStopwords.map(lit): _*)
    when(n === 0, 0.0).otherwise(
      size(filter(ts, t => array_contains(sw, t))).cast("double") / n.cast("double"))
  }

  /** Composite document quality score in [0,1]: rewards presence of
    * stopwords (natural language signal), reasonable mean token length,
    * low punctuation density, and non-trivial length. Deterministic and
    * SQL-expressible so it is oracle-checkable. */
  def qualityScore(text: Column): Column = round(qualityScoreRaw(text), 4)

  /** [[qualityScore]] WITHOUT the final round(…, 4): every term is plain
    * IEEE arithmetic that DuckDB reproduces bit-for-bit, whereas round()
    * tie-breaks differently between the engines when the raw double sits
    * on a 1e-4 midpoint (Spark rounds the shortest-decimal rendering,
    * DuckDB the binary value — one doc in 50k at sf1, found r12). Use
    * this form when the score feeds COMPARISONS or DIFFERENCES that an
    * oracle replays; keep the rounded form for display columns. */
  def qualityScoreRaw(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / 200.0, lit(1.0))
    val swScore = least(stopwordRatio(text) * 4.0, lit(1.0))
    val punctScore = greatest(lit(0.0), lit(1.0) - punctRatio(text) * 5.0)
    val mtl = meanTokenLen(text)
    val mtlScore = when(mtl.between(3.0, 10.0), 1.0).otherwise(0.5)
    lenScore * 0.3 + swScore * 0.3 + punctScore * 0.2 + mtlScore * 0.2
  }

  /** Per-language marker words for the n-gram/stopword language-ID
    * heuristic. Tiny on purpose: broadcast as literals into codegen. */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in"),
    "es" -> Seq("el", "la", "de", "que", "y", "los"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von"))

  /** Language-ID heuristic: argmax of marker-word hit counts; `und` when no
    * marker hits. Deterministic tie-break = declaration order above. */
  def langIdHeuristic(text: Column): Column = {
    val ts = tokens(lower(text))
    val scores: Seq[(String, Column)] = langMarkers.map { case (lang, ws) =>
      val sw = array(ws.map(lit): _*)
      lang -> size(filter(ts, t => array_contains(sw, t)))
    }
    val best = greatest(scores.map(_._2): _*)
    scores.foldLeft(when(best <= 0, "und")) { case (acc, (lang, s)) =>
      acc.when(s === best, lang)
    }.otherwise("und")
  }

  /** PII redaction for training corpora: emails → [EMAIL], IPv4 → [IP],
    * phone-shaped numbers → [PHONE]. Patterns are RE2-compatible (no
    * lookaround, no backrefs) so the DuckDB oracle applies the IDENTICAL
    * chain; order matters (emails first — they contain dots that the IP
    * pattern must not see). Regex-only redaction is the standard first
    * pass at corpus scale; an NER pass would layer on top. */
  def maskPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]")
    val ip = regexp_replace(email,
      "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "[IP]")
    regexp_replace(ip,
      "(\\+\\d{1,2}[- ])?\\b\\d{3}[- ]\\d{3,4}[- ]\\d{4}\\b", "[PHONE]")
  }

  /** Fixed-size token chunks with stride — the sequence-prep step of a
    * training pipeline (long documents split into model-window pieces,
    * consecutive chunks overlapping by chunkSize − stride tokens). A chunk
    * starts at every stride-th token offset < n, so tail chunks may be
    * short; an empty document yields no chunks. Pure array expressions —
    * no shuffle, no UDF. */
  def tokenChunks(text: Column, chunkSize: Int, stride: Int): Column = {
    require(chunkSize > 0 && stride > 0, "chunkSize and stride must be positive")
    val ts = tokens(text)
    val n = size(ts)
    when(n === 0, array().cast("array<string>")).otherwise(
      transform(sequence(lit(0), n - 1, lit(stride)),
        s => array_join(slice(ts, s + 1, lit(chunkSize)), " ")))
  }

  /** URL canonicalization for URL-keyed dedup: drop the fragment,
    * lowercase scheme+authority, strip default ports (:80 http, :443
    * https), remove utm_* tracking params (two bounded passes + tail pass
    * — handles runs of three; same fixed chain in the oracle), tidy
    * leftover separators, strip one trailing slash. All RE2-compatible
    * regex passes; replacement backrefs are written `$n` here and `\n` in
    * the DuckDB oracle (syntax differs, semantics identical). */
  def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val lowered = concat(
      lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)),
      regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", ""))
    val noPort = regexp_replace(
      regexp_replace(lowered, "^(https://[^/?#:]+):443([/?]|$)", "$1$2"),
      "^(http://[^/?#:]+):80([/?]|$)", "$1$2")
    val utm1 = regexp_replace(noPort, "([?&])utm_[A-Za-z]+=[^&]*&", "$1")
    val utm2 = regexp_replace(utm1, "([?&])utm_[A-Za-z]+=[^&]*&", "$1")
    val utm3 = regexp_replace(utm2, "[?&]utm_[A-Za-z]+=[^&]*$", "")
    val tidy = regexp_replace(utm3, "[?&]$", "")
    regexp_replace(tidy, "/$", "")
  }

  /** 128-bit content fingerprint (hex md5 of normalized text) — exact-dup
    * key; identical in DuckDB (`md5`) for oracle checks. */
  def contentFingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "\\s+", " "))

  /** 64-bit rolling (polynomial) hash over tokens: h = h*31 + fnv64(tok).
    * Order-sensitive — distinguishes permuted documents, unlike a bag hash.
    * One native pass (no HOF lambda per token); FNV-based so the DuckDB
    * oracle can replicate it exactly with mod-2^64 HUGEINT arithmetic. */
  def rollingHash(text: Column): Column =
    HashFunctions.rollingHash(tokens(lower(text)))

  private def substring(c: Column, pos: Column, len: Column): Column =
    c.substr(pos, len)
}
