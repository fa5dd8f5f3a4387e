package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column builders for large-scale training-data pipelines:
  * tokenization, shingling, n-gram language ID, quality scoring, token
  * counting, and document fingerprinting. All pure built-in expressions,
  * no UDFs — and the scalar-gate trio (token matching, mean word length,
  * stopword ratio) is written WITHOUT higher-order functions, which are
  * CodegenFallback and would row-ify the scan stage, so those paths stay
  * inside one whole-stage codegen span (PlanSpec-asserted). The
  * array-PRODUCING builders (shingles, min-shingle fingerprints) do use
  * `transform` — inherently array-shaped, and their consumers (explode,
  * array_min) end the codegen span regardless.
  */
object TextFunctions {

  /** Whitespace tokens of the lower-cased, trimmed text.
    * QUIRK, kept deliberately: empty/whitespace-only text yields [""]
    * (size 1, not 0) — DuckDB's `string_split_regex` does the same, and
    * every oracle is written against that shared behavior; "fixing" one
    * side alone would hash-break dozens of queries. Callers that need
    * true emptiness filter `length(t) > 0` (see Bpe.wordCounts). */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Word n-gram shingles (space-joined). Empty array when there are fewer
    * than `n` tokens (the guard matters: Spark `sequence(0, -1)` would
    * produce a descending sequence, not an empty one). */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (1 to n).map(j => element_at(toks, i + j)): _*)))

  /** BPE-ish regex token count: alnum runs (a cheap proxy for subword
    * units) counted alongside whitespace tokens. */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+"), lit(0)))

  /** Text with every whitespace run doubled and a sentinel space at both
    * ends: every token is flanked by spaces no neighbouring match can
    * consume, so a ` (w1|w2) ` regex counts full-token matches WITH
    * multiplicity. This is the codegen'd twin of
    * `size(filter(toks, isin(words)))` — higher-order functions are
    * CodegenFallback in Spark and row-ify the scan stage (found by the
    * r10 PlanSpec codegen-span audit); regexps stay fused. */
  private def padded(text: Column): Column =
    concat(lit(" "), regexp_replace(lower(trim(text)), "\\s+", "  "), lit(" "))

  /** Count of tokens equal to any of `words` (with multiplicity) — pure
    * codegen, bit-identical to `size(filter(tokens(text), isin(words)))`:
    * the pattern can only match a COMPLETE token (space-delimited on the
    * padded form), and the doubled separators make adjacent matches
    * non-competing. `words` must be literal tokens, not regexes. */
  def tokenMatchCount(text: Column, words: Seq[String]): Column = {
    require(words.nonEmpty && words.forall(_.matches("[\\p{L}\\p{N}_'-]+")),
      s"tokenMatchCount wants literal word tokens, got $words")
    size(regexp_extract_all(padded(text),
      lit(words.mkString(" (", "|", ") ")), lit(0)))
  }

  /** TRUE iff any token equals `word` — a codegen `contains` probe on the
    * padded form (the distinct-presence twin of [[tokenMatchCount]]). */
  def hasToken(text: Column, word: String): Column = {
    require(word.matches("[\\p{L}\\p{N}_'-]+"), s"hasToken wants a literal token: $word")
    padded(text).contains(s" $word ")
  }

  private def literalTokens(words: Seq[String]): Boolean =
    words.nonEmpty && words.forall(_.matches("[\\p{L}\\p{N}_'-]+"))

  /** Distinct-PRESENCE count of `words` among the tokens (each present
    * word counted once, NULL text → NULL): the codegen [[hasToken]]-probe
    * sum for literal word tokens, with [[stopwordRatio]]'s guard rail for
    * the inputs the padded-regex trick cannot express — an empty list
    * (count is 0 by definition) and entries with punctuation (e.g.
    * "e.g."), which fall back to the interpreted `array_intersect` form
    * the probes replaced (slower, never wrong). One shared gate for every
    * presence-count caller so the r10 ruleFiltered regression (probes
    * without the guard: empty list threw at reduce, punctuation threw
    * hasToken's require at plan construction) cannot recur per call site. */
  def tokenPresenceCount(text: Column, toks: Column, words: Seq[String]): Column = {
    val distinctWords = words.distinct
    if (distinctWords.isEmpty)
      when(text.isNull, lit(null).cast("long")).otherwise(lit(0L))
    else if (literalTokens(distinctWords))
      when(text.isNull, lit(null).cast("long")).otherwise(
        distinctWords.map(w => when(hasToken(text, w), 1L).otherwise(0L))
          .reduce(_ + _))
    else
      size(array_intersect(array_distinct(toks),
        array(distinctWords.map(lit): _*))).cast("long")
  }

  /** Quality heuristics: mean word length, non-alnum (punct) ratio,
    * stopword ratio — the length/punct/stopword trio the reference-scale
    * data pipelines gate on. Mean word length rides the identity
    * Σ len(token) = len(text with all whitespace stripped) — bit-identical
    * to the `aggregate(toks, acc + length)` fold it replaces (same
    * `lower(trim(...))` preprocessing on both paths, so even
    * length-changing lowercasings agree), and pure codegen where the
    * higher-order fold was CodegenFallback. */
  def meanWordLen(text: Column): Column = meanWordLen(text, tokens(text))

  /** [[meanWordLen]] with a caller-precomputed token array for the
    * denominator: a plan that already projects `toks` (x2, Corpus.scored,
    * ruleFiltered) should not pay a second regex split just to count
    * them — codegen subexpression elimination dedupes within one
    * projection but never against an attribute from the one below. */
  def meanWordLen(text: Column, toks: Column): Column =
    length(regexp_replace(lower(trim(text)), "\\s+", ""))
      .cast("double") / size(toks)

  /** Unicode-aware: letters/digits in ANY script plus whitespace count
    * as signal (the ASCII-only class banded clean CJK/accented text as
    * pure punctuation); `\p{L}\p{N}` is supported by Java regex and
    * DuckDB's RE2 alike, and the x2 oracle mirrors this class. */
  def punctRatio(text: Column): Column =
    length(regexp_replace(lower(text), "[\\p{L}\\p{N}\\s]", "")).cast("double") /
      length(text)

  def stopwordRatio(text: Column, stopwords: Seq[String]): Column =
    stopwordRatio(text, tokens(text), stopwords)

  /** [[stopwordRatio]] with a caller-precomputed token-array denominator
    * (see [[meanWordLen]]'s two-argument form). TOTAL over any stopword
    * list: plain word tokens take the codegen regex-count path; anything
    * the padded-regex trick cannot express verbatim (punctuation in a
    * word, an empty list — the old `isin` handled both) falls back to the
    * HOF filter, which is interpreted but never wrong. */
  def stopwordRatio(text: Column, toks: Column, stopwords: Seq[String]): Column = {
    val n =
      if (literalTokens(stopwords)) tokenMatchCount(text, stopwords)
      else size(filter(toks, t => t.isin(stopwords.map(lit): _*)))
    n.cast("double") / size(toks)
  }

  /** Quality band from the heuristics (analogous to F5's significance
    * banding — a when-chain with NULL propagation). */
  def qualityBand(nTokens: Column, punct: Column, stop: Column): Column =
    when(nTokens.isNull, lit(null: String))
      .when(nTokens < 5, "too_short")
      .when(punct > 0.3, "too_noisy")
      .when(stop < 0.01, "low_signal")
      .otherwise("ok")

  /** PII scrubbing — the redaction pass of a training-data cleaning
    * pipeline. Deliberately simple patterns that mean the same thing in
    * Java regex (Spark) and RE2 (DuckDB/engines without backtracking):
    * no backreferences, no lookaround. */
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  /** Trailing \b stops a match ending mid-digit-run (a 16-digit card
    * number no longer loses its first 10 digits to "<PHONE>"); RE2 (the
    * oracle's engine) has no lookarounds, so a LEADING guard that does
    * not consume a character is not portably expressible — long digit
    * runs can still match a suffix. Documented trade, not defended. */
  val PhoneRe = "(?:\\+?[0-9]{1,3}[-. ]?)?\\(?[0-9]{3}\\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}\\b"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Replace emails / phone numbers / IPv4 literals with typed placeholder
    * tokens. Order matters: emails first (their local part can contain
    * digits a phone pattern would chew up). */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** How many PII matches the scrub would replace (for audit columns). */
  def piiCount(text: Column): Column =
    size(regexp_extract_all(text, lit(EmailRe), lit(0))) +
      size(regexp_extract_all(text, lit(Ipv4Re), lit(0))) +
      size(regexp_extract_all(regexp_replace(
          regexp_replace(text, EmailRe, " "), Ipv4Re, " "),
        lit(PhoneRe), lit(0)))

  /** Content-defined fingerprints: md5 of the first `k` tokens (prefix
    * fingerprint) and the minimum shingle hash (winnowing-style rolling
    * fingerprint — robust to suffix edits). */
  def prefixFingerprint(toks: Column, k: Int): Column =
    md5(concat_ws(" ", slice(toks, 1, k)))

  def minShingleFingerprint(toks: Column, n: Int): Column =
    array_min(transform(shingles(toks, n), s => md5(s)))
}
