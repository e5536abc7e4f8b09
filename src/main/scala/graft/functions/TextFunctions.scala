package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines.
  *
  * All pure `org.apache.spark.sql.functions` compositions — codegen'd,
  * no UDFs, safe inside whole-stage codegen. Each is designed to be
  * exactly reproducible in ANSI SQL for oracle checking.
  */
object TextFunctions {

  /** Small English stopword list used by the ratio heuristics. */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Lowercased whitespace tokens, empty tokens removed — the native
    * fused [[RegexTokens]] kernel (one node, no interpreted `filter`
    * lambda per token). Bit-equal to `ParityOracles.tokensHof`
    * (ExpressionParitySpec). */
  def tokens(text: Column): Column =
    RegexTokens(text, "\\s+", lowercase = true)

  /** PII patterns, deliberately inside the Java∩RE2 regex common
    * subset (no lookaround, no backrefs, explicit whitespace class)
    * so the engine and a DuckDB/RE2 oracle match byte-for-byte. */
  val EmailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlPattern: String = "https?://[^ \\t\\n\\r]+"

  /** North-American-shaped phone numbers: optional +CC, optional
    * parenthesized area code, separator in [-. ] between groups —
    * `+1 415 555 0100`, `(415) 555-0100`, `415-555-0100`. Stays in
    * the Java∩RE2 subset (no lookaround); requiring separators means
    * separator-FREE digit runs (ids, years) never match. Each
    * alternative is anchored by ZERO-WIDTH `\b` word boundaries at
    * its first and last digit (after the optional `+`/`(` literal,
    * which is itself a non-word char and so supplies the boundary
    * when present), so a phone-shaped window INSIDE a longer
    * digit/separator run never matches — `20415-555-01001` stays
    * intact (q134 plants this case and value-oracles the no-match).
    * `\b` assertions consume nothing, so adjacent phones separated
    * by one char both match, `patternCount` sees bare phone text,
    * and Java and RE2 agree byte-for-byte on ASCII (the same
    * contract [[Ipv4Pattern]] already relies on). */
  val PhonePattern: String =
    "\\+?\\b[0-9]{1,2}[-. ]\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}\\b|\\(?\\b[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}\\b"

  /** Dotted-quad IPv4 with per-octet range check (0–255) and word
    * boundaries, so over-long digit runs (`999.999.999.999`) and
    * digit-adjacent positions never yield partial matches. */
  val Ipv4Pattern: String =
    "\\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.){3}(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\b"

  /** Count of pattern matches in `text` (0 for no match). */
  def patternCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0))).cast("long")

  /** Replace every match of `pattern` with `token`. */
  def redact(text: Column, pattern: String, token: String): Column =
    regexp_replace(text, pattern, token)

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** A BPE-ish sub-word count: splits on word/non-word boundaries so
    * punctuation and digit runs count as separate tokens — a cheap,
    * deterministic proxy for tokenizer cost estimation.
    */
  def subwordCount(text: Column): Column =
    size(RegexTokens(text, "[^a-z0-9]+", lowercase = true))

  /** Word n-grams over the token array (array of space-joined grams) —
    * the native fused [[WordNgrams]] kernel; per-row, no shuffle.
    * Bit-equal to `ParityOracles.wordNgramsHof` (ExpressionParitySpec). */
  def wordNgrams(toks: Column, n: Int): Column =
    WordNgrams(toks, n)

  /** Fraction of tokens that are stopwords (quality signal). */
  def stopwordRatio(toks: Column): Column = {
    val stops = array(Stopwords.map(lit): _*)
    when(size(toks) > 0,
      size(filter(toks, t => array_contains(stops, t))).cast("double") /
        size(toks).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Fraction of characters that are punctuation. */
  def punctRatio(text: Column): Column =
    when(length(text) > 0,
      (length(text) - length(regexp_replace(text, "[.,!?;:'\"()\\[\\]{}-]", "")))
        .cast("double") / length(text).cast("double"))
      .otherwise(lit(0.0))

  /** Composite quality score in [0,1]: rewards mid-length documents
    * with a sane stopword ratio and low punctuation noise. Deterministic
    * arithmetic only — reproducible in SQL.
    */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val lenScore =
      least(size(toks).cast("double") / lit(20.0), lit(1.0))
    val stopScore = lit(1.0) - abs(stopwordRatio(toks) - lit(0.25)) * lit(2.0)
    val punctScore = lit(1.0) - least(punctRatio(text) * lit(5.0), lit(1.0))
    round((lenScore * lit(0.4) + greatest(stopScore, lit(0.0)) * lit(0.3) +
      punctScore * lit(0.3)), 6)
  }

  /** Deterministic hash-bucket corpus split label ("train"/"valid"/
    * "test") from a document id: md5 of the id → bucket 0..99 →
    * percentile thresholds. Reproducible across runs, engines and
    * corpus growth (a doc's split never changes as others arrive) —
    * the property a training pipeline needs from its split.
    */
  def hashSplit(id: Column, trainPct: Int = 80, validPct: Int = 10): Column = {
    require(trainPct >= 0 && validPct >= 0 && trainPct + validPct <= 100,
      s"train ($trainPct) and valid ($validPct) percentages must be >= 0 and sum to <= 100")
    val bucket = pmod(Md5Prefix64(id.cast("string")), lit(100L))
    when(bucket < trainPct, lit("train"))
      .when(bucket < trainPct + validPct, lit("valid"))
      .otherwise(lit("test"))
  }

  /** Fraction of word n-grams that are repeats within the document
    * (a Gopher-style repetition quality filter: high duplicated-n-gram
    * fraction marks boilerplate/spam). 0.0 for documents shorter than
    * `n` tokens. Narrow per-row arithmetic — pass a MATERIALIZED token
    * array column (not an inline `tokens(...)` expression): the three
    * `grams` references would otherwise re-tokenize per use.
    */
  def dupNgramFrac(toks: Column, n: Int): Column = {
    val grams = wordNgrams(toks, n)
    when(size(grams) > lit(0),
      (size(grams) - size(array_distinct(grams))).cast("double")
        / size(grams).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Rule-based language-ID heuristic: scores marker-token hits per
    * language and picks the best, defaulting to "en" when nothing
    * matches. Stands in for an n-gram profile model; the scoring shape
    * (per-language marker count, argmax) matches how a real char-n-gram
    * profiler composes, and it is exactly expressible in SQL.
    */
  def langIdHeuristic(text: Column): Column = {
    val toks = tokens(text)
    def hits(markers: Seq[String]): Column = {
      val m = array(markers.map(lit): _*)
      size(filter(toks, t => array_contains(m, t)))
    }
    val es = hits(Seq("el", "la", "de", "que", "y", "los"))
    val de = hits(Seq("der", "die", "das", "und", "ist", "nicht"))
    val fr = hits(Seq("le", "les", "des", "et", "est", "une"))
    when(es > de && es > fr, lit("es"))
      .when(de > es && de > fr, lit("de"))
      .when(fr > es && fr > de, lit("fr"))
      .otherwise(lit("en"))
  }

  /** Canonical-token document fingerprint: md5 of the normalized token
    * stream. Two documents with the same token sequence (ignoring case
    * and whitespace runs) collide — the exact-dedup key.
    */
  def fingerprint(text: Column): Column =
    md5(array_join(tokens(text), " "))

  /** Per-shingle rolling hashes: 64-bit md5-derived hash of each char
    * k-shingle (first 15 hex digits as a long — engine-portable, the
    * same identity the dedup oracles validate). Native fused
    * [[RollingHashes]] kernel; bit-equal to `ParityOracles.rollingHashesHof`
    * (ExpressionParitySpec). */
  def rollingHashes(text: Column, k: Int): Column =
    RollingHashes(text, k)

  /** Winnowing fingerprint (the MOSS scheme) over a rolling-hash
    * array: the distinct minima of every `w`-window. Guarantees any
    * shared substring of length >= k + w - 1 contributes at least one
    * common fingerprint between two documents, while keeping the
    * fingerprint density ~2/(w+1) — the standard local document
    * fingerprint for plagiarism/near-dup detection at corpus scale
    * (each doc reduces to a small hash set; overlap is a keyed join,
    * never a text comparison).
    *
    * Native monotonic-deque [[WinnowMinima]] kernel: O(len) per
    * document where the HOF window scan was O(len·w), and it
    * references its input exactly once — so the historical "project
    * `rollingHashes(...)` as an attribute first or Catalyst
    * re-evaluates the subtree per window, O(len²)" trap (measured
    * 60s → 1s at sf0.1) no longer applies, though materializing the
    * hash array remains good practice when it has other consumers.
    *
    * Degenerate inputs: fewer than `w` windows → the global minimum;
    * no hashes at all → empty array.
    */
  def winnowFromHashes(hashes: Column, w: Int): Column =
    WinnowMinima(hashes, w)
}
