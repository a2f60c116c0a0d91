package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over the `documents` table:
  * token counting, quality scoring, language ID, fingerprinting. Words are
  * [[Tokens]] (ASCII-whitespace runs; a blank text has none). All column
  * expressions here are built-ins (codegen'd, no UDF) except where noted.
  */
object TextOps {

  /** Token count ([[Tokens]]; 0 for blank). */
  def tokenCount(c: Column): Column = size(Tokens.words(c))

  /** BPE-ish subword count approximation: word-boundary pieces + digit runs +
    * punctuation each count as a token (a cheap, deterministic proxy for a real
    * tokenizer's token count — useful for budget accounting at scale).
    */
  def subwordCount(c: Column): Column =
    size(filter(split(c, "(?<=[a-z])(?=[A-Z])|\\s+|(?=[^A-Za-z0-9\\s])|(?<=[^A-Za-z0-9\\s])"),
      x => x =!= ""))

  def charCount(c: Column): Column = length(c)
  def alphaChars(c: Column): Column = length(c) - length(regexp_replace(c, "[A-Za-z]", ""))
  def digitChars(c: Column): Column = length(c) - length(regexp_replace(c, "[0-9]", ""))
  def punctChars(c: Column): Column =
    length(c) - length(regexp_replace(c, "[!-/:-@\\[-`{-~]", ""))

  /** Quality score in [0,100000] (milli-points): length band + alpha ratio −
    * punct/digit noise. floor() of small-int double division is bit-identical across
    * engines, so the DuckDB oracle reproduces it exactly — no rounding hazards.
    */
  def qualityScoreMilli(c: Column): Column = {
    val len = length(c).cast("long")
    val alpha = alphaChars(c).cast("long")
    val punct = punctChars(c).cast("long")
    val digit = digitChars(c).cast("long")
    val lenBand = when(len >= 200 && len <= 20000, lit(40000L))
      .when(len >= 50, lit(20000L)).otherwise(lit(0L))
    val alphaPart = floor(alpha * 60000L / greatest(len, lit(1L))).cast("long")
    val noisePart = floor((punct + digit) * 30000L / greatest(len, lit(1L))).cast("long")
    greatest(lit(0L), least(lit(100000L), lenBand + alphaPart - noisePart))
  }

  /** Stopword ratio via higher-order functions (no UDF): fraction of tokens in the
    * stopword set, scaled by 1000 (integer).
    */
  def stopwordRatioMilli(c: Column, stopwords: Seq[String]): Column = {
    val toks = Tokens.words(c)
    val sw = array(stopwords.map(lit): _*)
    perWordMilli(size(filter(toks, t => array_contains(sw, t))), toks)
  }

  /** `floor(n · 1000 / max(#toks, 1))` as a long (0 for a blank text). */
  private def perWordMilli(n: Column, toks: Column): Column =
    floor(n.cast("long") * 1000L / greatest(size(toks).cast("long"), lit(1L))).cast("long")

  val EnglishStopwords: Seq[String] =
    Seq("the", "of", "and", "a", "to", "in", "is", "it", "that", "for", "on", "with")

  /** Language-ID marker words (tiny n-gram/stopword heuristic — langid at web scale
    * is a scored marker lookup, which is a pure column expression; a real model would
    * slot in as a scorer per language with the same argmax shape).
    */
  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "that", "with", "for"),
    "es" -> Seq("el", "la", "de", "que", "los", "una", "por"),
    "de" -> Seq("der", "die", "und", "das", "nicht", "ein", "mit"),
    "fr" -> Seq("le", "les", "des", "est", "une", "dans", "pour"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有"))

  /** Predicted language = argmax of marker-hit counts (ties → earlier language;
    * no hits → "und"). Pure column expression over tokens.
    */
  def langId(c: Column): Column = {
    val toks = Tokens.words(lower(c))
    val scores = LangMarkers.map { case (lang, markers) =>
      val m = array(markers.map(lit): _*)
      struct(size(filter(toks, t => array_contains(m, t))).as("score"), lit(lang).as("lang"))
    }
    // argmax: sort (score, -position) — array_max on structs compares field-by-field;
    // to keep ties deterministic toward earlier languages, append reversed index.
    val withIdx = scores.zipWithIndex.map { case (s, i) =>
      struct(s.getField("score").as("score"), lit(LangMarkers.size - i).as("prio"),
        s.getField("lang").as("lang"))
    }
    val best = array_max(array(withIdx: _*))
    when(best.getField("score") === 0, lit("und")).otherwise(best.getField("lang"))
  }

  /** Normalized-text md5 fingerprint (exact-dup key): lowercase, tokens joined by ' '. */
  def normFingerprint(c: Column): Column =
    md5(lower(array_join(Tokens.words(c), " ")))

  /** PII masking patterns, applied in order (most specific first). All patterns are
    * RE2-compatible (no lookaround, no backreferences) so a DuckDB/RE2 oracle replays
    * them verbatim; ordering matters (email before IP so dotted hosts in addresses
    * are consumed first; SSN's d3-d2-d4 shape before the d3-d3-d4 phone shape).
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>",
    "\\b\\d{3}-\\d{2}-\\d{4}\\b" -> "<SSN>",
    "\\b\\d{3}-\\d{3}-\\d{4}\\b" -> "<PHONE>")

  /** Mask emails / IPv4s / SSNs / phone numbers with typed placeholder tokens —
    * a chain of codegen'd regexp_replace, no UDF. The pre-training-safety pass a
    * web corpus needs before anything ships to a tokenizer.
    */
  def piiMask(c: Column): Column =
    PiiPatterns.foldLeft(c) { case (acc, (pat, repl)) => regexp_replace(acc, pat, repl) }

  /** Number of PII entities masked in an already-masked string (count of typed
    * placeholders). split keeps trailing empty fields in both Spark and DuckDB, so
    * `parts - 1` is exact even when the string ends with a placeholder.
    */
  def piiCount(masked: Column): Column =
    (size(split(masked, "<(EMAIL|IP|SSN|PHONE)>")) - 1).cast("long")

  /** Gopher-style repetition signal: fraction of duplicate tokens, in milli
    * (0 = all tokens distinct, 1000 → everything repeated). Pure column expression.
    */
  def dupWordMilli(c: Column): Column = {
    val toks = Tokens.words(c)
    perWordMilli(size(toks) - size(array_distinct(toks)), toks)
  }

  /** Mean token length in milli-chars (e.g. 4500 = 4.5 chars/word) — a Gopher
    * quality-gate signal. aggregate() keeps the sum inside codegen; lengths are
    * tiny so ANSI overflow is unreachable.
    */
  def meanWordLenMilli(c: Column): Column = {
    val toks = Tokens.words(c)
    perWordMilli(aggregate(toks, lit(0L), (acc, t) => acc + length(t)), toks)
  }

  /** Fraction of tokens containing at least one ASCII letter, in milli — Gopher's
    * "80% of words must contain an alphabetic character" rule.
    */
  def alphaWordRatioMilli(c: Column): Column = {
    val toks = Tokens.words(c)
    perWordMilli(size(filter(toks, t => regexp_like(t, lit("[A-Za-z]")))), toks)
  }

  /** Composite Gopher-style quality gate: token count, mean word length, alpha-word
    * ratio, duplicate-token fraction and stopword presence all inside their bands.
    * Bands are arguments so corpora with different length profiles can tune them.
    */
  def gopherPass(c: Column, minTokens: Long = 10L, maxTokens: Long = 100000L,
      minMeanWordMilli: Long = 2000L, maxMeanWordMilli: Long = 12000L,
      minAlphaMilli: Long = 800L, maxDupMilli: Long = 500L,
      minStopwordMilli: Long = 1L): Column = {
    val nTok = tokenCount(c).cast("long")
    (nTok >= minTokens) && (nTok <= maxTokens) &&
      (meanWordLenMilli(c) >= minMeanWordMilli) && (meanWordLenMilli(c) <= maxMeanWordMilli) &&
      (alphaWordRatioMilli(c) >= minAlphaMilli) &&
      (dupWordMilli(c) <= maxDupMilli) &&
      (stopwordRatioMilli(c, EnglishStopwords) >= minStopwordMilli)
  }

  // ---- URL curation ----------------------------------------------------------
  // Spark has parse_url(), but DuckDB does not — these are regexp-based so ONE
  // definition is replayable verbatim on both engines (RE2-safe, no lookaround).

  /** Hostname of a URL ("" when absent). */
  def urlHost(c: Column): Column = regexp_extract(c, "^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1)

  /** Registered domain = last two dot-labels of the host (example.com from
    * a.b.example.com) — the standard key for per-site caps and blocklists.
    * (A real public-suffix list slots in as a broadcast dim with the same shape.)
    */
  def registeredDomain(host: Column): Column =
    when(host.rlike("\\."), regexp_extract(host, "([^.]+\\.[^.]+)$", 1)).otherwise(host)

  /** Path depth = number of '/'-separated segments after the authority. */
  def urlPathDepth(c: Column): Column = {
    val path = regexp_extract(c, "^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)", 1)
    when(path === "" || path === "/", lit(0L)).otherwise(
      (size(split(path, "/")) - 1).cast("long"))
  }

  /** 64-bit rolling (FNV-1a-style polynomial) document fingerprint over tokens —
    * order-sensitive, unlike an md5 of the bag of words. Needs wrapping long
    * arithmetic, which Spark 4's ANSI mode rejects in column expressions, so this is
    * a small pure UDF (deterministic, no state).
    */
  val rollingFingerprint = udf { (text: String) =>
    if (text == null) 0L
    else {
      var h = 1469598103934665603L
      Tokens.words(text).foreach(t => h = h * 1099511628211L + fnvToken(t))
      h
    }
  }

  /** FNV-1a 64 of token `t` over its codepoints masked to 16 bits, bit-identical
    * to the DuckDB HUGEINT replay `QuerySupport.fnvTokenHashesSql` even for
    * astral chars (used by [[rollingFingerprint]] and `Dedup.simhash64Fnv`).
    */
  private[graft] def fnvToken(t: String): Long = {
    var h = -3750763034362895579L // FNV-1a 64 offset basis (unsigned 14695981039346656037)
    var i = 0
    while (i < t.length) {
      val cp = t.codePointAt(i)
      h ^= (cp & 0xFFFF).toLong
      h *= 1099511628211L
      i += Character.charCount(cp)
    }
    h
  }
}
