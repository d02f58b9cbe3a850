package graft.functions

import org.apache.spark.sql.{Column, functions => F}

/** Text-analysis column functions for the training-data pipeline
  * (SURVEY.md §2 E-block). All pure `Column` compositions over
  * Spark's codegen'd built-ins — no UDFs — so they run inside
  * whole-stage codegen over arbitrarily large corpora.
  */
object text {

  /** Unicode normalization (UAX #15; native codegen'd expression).
    * Run NFC before any hash-keyed stage — composed vs combining-mark
    * spellings of the same text are different BYTES and defeat every
    * dedup hash family until canonicalized.
    */
  def normalize(c: Column, form: String = "NFC"): Column =
    native.normalize_text(c, form)

  /** Accent-folded matching form: lower → NFD → strip combining
    * marks. The fuzzy-matching canonicalization (resume ≡ résumé);
    * mirrors DuckDB's `strip_accents(lower(s))` on decomposable
    * Latin, which is what lets a driver face hash-oracle it.
    */
  def foldAccents(c: Column): Column =
    F.regexp_replace(native.normalize_text(F.lower(c), "NFD"), "\\p{Mn}", "")

  /** Whitespace tokenization of trimmed, lowercased text. */
  def tokens(c: Column): Column = F.split(F.lower(F.trim(c)), "\\s+")

  /** Whitespace token count. */
  def tokenCount(c: Column): Column = F.size(tokens(c))

  /** BPE-ish subword segment count: alpha runs, digit runs, and single
    * non-alphanumeric marks — a cheap proxy for tokenizer load.
    */
  def bpeishCount(c: Column): Column =
    F.size(F.regexp_extract_all(F.lower(c), F.lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), F.lit(0)))

  /** Fraction of tokens found in a small English stopword list. */
  val stopwords: Seq[String] =
    Seq("the", "a", "an", "of", "to", "and", "in", "is", "on", "for", "with", "at", "by")

  def stopwordRatio(c: Column): Column = {
    val t = tokens(c)
    F.size(F.filter(t, x => x.isin(stopwords: _*))).cast("double") / F.size(t)
  }

  /** Distinct-token / token ratio — low values flag degenerate
    * repetition (a standard LLM-corpus quality signal).
    */
  def distinctTokenRatio(c: Column): Column = {
    val t = tokens(c)
    F.size(F.array_distinct(t)).cast("double") / F.size(t)
  }

  /** Composite quality score in [0,1]: rewards lexical diversity and a
    * natural stopword rate, penalizes extreme lengths.
    */
  def qualityScore(c: Column): Column = {
    val lenTerm = F.least(F.length(c).cast("double") / 500.0, F.lit(1.0))
    val diversity = distinctTokenRatio(c)
    val sw = stopwordRatio(c)
    val swTerm = F.lit(1.0) - F.abs(sw - 0.3)
    (lenTerm * 0.3) + (diversity * 0.4) + (swTerm * 0.3)
  }

  /** Order-insensitive document fingerprint: md5 over the sorted set of
    * lowercase tokens. Collapses shuffled/duplicated-word variants —
    * the classic "fingerprint" fuzzy-exact dedup key.
    */
  def fingerprint(c: Column): Column =
    F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(c)))))

  /** PII redaction patterns: conservative regexes (no catastrophic
    * backtracking — linear alternations only) for the scrub pass a
    * training corpus runs before mixing. Each is replaced by a typed
    * placeholder token so downstream dedup/quality signals stay stable
    * across redacted variants of the same document.
    */
  val redactionPatterns: Seq[(String, String)] = Seq(
    // URLs before emails so an address inside a query string is one
    // <URL> redaction, not a <URL> and an <EMAIL>; bare emails carry no
    // scheme and fall through to the email rule
    "https?://[^\\s]+"                                -> "<URL>",
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    // long CONTIGUOUS digit runs (ids, SSNs, card fragments) before
    // phones: separator-formatted phones keep each run under 7 digits,
    // while a bare 8-digit id would otherwise type as <PHONE>
    "[0-9]{7,}"                                       -> "<NUM>",
    // phone: structured groups only — optional +CC, then one or two
    // 3-digit groups each followed by a dash/space separator (parens
    // allowed), then a final 4-digit run; >= 7 digits total. '.' is NOT
    // a separator and ':' never was, so ISO dates (2024-01-05: the
    // 3-digit+sep groups never line up), decimals (3.14159), version
    // strings (1.2.3.4) and times pass through unredacted. Residual
    // ambiguity: a bare 3-3-4 number list ("100 200 3000") is
    // indistinguishable from a space-separated phone and is redacted.
    "(?:\\+[0-9]{1,2}[\\- ]?)?(?:\\(?[0-9]{3}\\)?[\\- ]){1,2}[0-9]{4}" -> "<PHONE>")

  /** Apply the redaction patterns in order — pure chained
    * `regexp_replace`, codegen'd, map-only at any corpus size.
    */
  def redact(c: Column, patterns: Seq[(String, String)] = redactionPatterns): Column =
    patterns.foldLeft(c) { case (acc, (re, token)) => F.regexp_replace(acc, re, token) }

  /** Count of redactions `redact` would make — the audit/monitoring
    * side of the scrub (a spike means an upstream source started
    * leaking PII-shaped content). Pattern i counts on the text with
    * patterns < i already applied, so the total equals the number of
    * placeholders `redact` inserts (an email inside a URL is one
    * redaction, not two).
    */
  def redactionCount(c: Column, patterns: Seq[(String, String)] = redactionPatterns): Column =
    patterns.zipWithIndex.map { case ((re, _), i) =>
      F.size(F.regexp_extract_all(redact(c, patterns.take(i)), F.lit(re), F.lit(0)))
    }.reduce(_ + _)

  /** Strip HTML/XML markup down to text — the extraction stage a
    * web-crawl corpus runs before any quality/dedup signal (the
    * trafilatura/justext slot in a CCNet-style pipeline, reduced to
    * its deterministic core). Order matters and is the safe one:
    * structural removal first (comments, script/style subtrees, then
    * any remaining tag), entity decode after (so literal `&lt;p&gt;`
    * in prose decodes to visible "<p>" instead of being stripped as
    * markup), `&amp;` last (so `&amp;lt;` yields "&lt;", not "<").
    * Patterns use only the Java-regex ∩ RE2 dialect — no lookaround,
    * no backreferences — so an external SQL engine reproduces the
    * transform byte-for-byte; all chained `regexp_replace`/`replace`
    * built-ins, codegen'd and map-only at any corpus size.
    */
  def stripMarkup(c: Column): Column = {
    val structural = Seq(
      "(?s)<!--.*?-->"                 -> " ",
      "(?is)<script[^>]*>.*?</script>" -> " ",
      "(?is)<style[^>]*>.*?</style>"   -> " ",
      "<[^>]*>"                        -> " ")
    val entities = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
    val stripped = structural.foldLeft(c) { case (acc, (re, r)) => F.regexp_replace(acc, re, r) }
    val decoded = entities.foldLeft(stripped) { case (acc, (e, r)) =>
      F.replace(acc, F.lit(e), F.lit(r)) }
    // explicit ASCII whitespace class: Java \s and RE2 \s agree on it,
    // but spelling it out keeps the cross-engine contract obvious
    F.trim(F.regexp_replace(decoded, "[ \\t\\r\\n]+", " "))
  }

  /** Stopword-profile language guess over a tiny per-language lexicon.
    * Deterministic argmax with fixed language priority on ties.
    */
  val langLexicon: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "del"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "des", "est", "une", "que", "dans"))

  def langGuess(c: Column): Column =
    graft.functions.native.lang_guess(tokens(c), langLexicon)
}
