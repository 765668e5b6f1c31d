package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column library for document pipelines (tokenization, shingle
  * generation, quality scores, language-ID heuristics, fingerprints).
  *
  * Everything is a Catalyst column expression (split/regexp/higher-order
  * functions) — no UDFs, so the hot path stays in whole-stage codegen and the
  * operators scale linearly with no shuffle until an explicit groupBy/join.
  */
object TextOps {
  /** Let-binding for column expressions: evaluate `bound` once per row and
    * bind it as a lambda variable in `body`.
    *
    * Spark higher-order functions (transform/filter/aggregate) evaluate their
    * lambda interpreted, PER ELEMENT — any non-trivial expression captured
    * from the enclosing scope is re-computed for every array element, turning
    * an O(n) sliding window into O(n^2) (observed: winnowing a corpus went
    * from minutes to seconds with this binding). Lambda variables, by
    * contrast, are bound once. `transform(array(x), v => body)` is the
    * cheapest expression-level "let" Spark offers.
    */
  def letCol(bound: Column)(body: Column => Column): Column =
    element_at(transform(array(bound), v => body(v)), 1)

  /** Whitespace tokenization; drops empty tokens. */
  def words(text: Column): Column =
    filter(split(text, "\\s+"), w => length(w) > 0)

  /** Regex pattern for "BPE-ish" tokens: alphanumeric runs or single
    * non-space symbols. Deliberately portable between Java regex (Spark) and
    * RE2 (DuckDB oracle): no lookaround, no \p classes.
    */
  val TokenPattern = "[A-Za-z0-9]+|[^A-Za-z0-9\\s]"

  /** Regex-based "BPE-ish" tokenization: words, numbers, or single
    * punctuation marks (a common pre-tokenizer shape).
    */
  def regexTokens(text: Column): Column =
    regexp_extract_all(text, lit(TokenPattern), lit(0))

  /** Number of whitespace tokens. */
  def wordCount(text: Column): Column = size(words(text))

  /** `k`-word shingles from an ALREADY-TOKENIZED word array — for callers
    * that need several shingle sizes from one tokenization (bind the word
    * array once with [[letCol]] and call this per k; [[shingles]] would
    * re-split the text for every k).
    */
  def shinglesOf(ws: Column, k: Int): Column =
    filter(
      transform(sequence(lit(0), greatest(size(ws) - k, lit(0))),
        i => array_join(slice(ws, i + 1, lit(k)), " ")),
      s => size(split(s, " ")) === k)

  /** `k`-word shingles joined with single spaces: the unit of n-gram
    * dedup / Jaccard similarity. Backed by the native codegen'd
    * [[graft.functions.expressions.Shingles]] expression (one pass, no
    * regex, no interpreted HOFs) with semantics identical to the HOF form
    * `letCol(words(text))(ws => shinglesOf(ws, k))` — equality pinned by
    * ExpressionsSpec and a scalacheck property.
    */
  def shingles(text: Column, k: Int): Column =
    graft.functions.expressions.TextExpressions.shingles(text, k)

  /** Distinct shingle set (for Jaccard / MinHash). */
  def shingleSet(text: Column, k: Int): Column = array_distinct(shingles(text, k))

  /** Non-overlapping `p`-word passages (the unit of passage-level /
    * boilerplate dedup): consecutive word windows joined with single
    * spaces; the final passage may be shorter than `p`. Empty text (no
    * words) yields an empty array.
    */
  def passages(text: Column, p: Int): Column =
    letCol(words(text)) { ws =>
      when(size(ws) === 0, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(0), floor((size(ws) - 1) / lit(p)).cast("int")),
          j => array_join(slice(ws, j * p + 1, lit(p)), " ")))
    }

  /** Punctuation character class, portable between Java regex and RE2
    * (\p{Punct} is Java-only; POSIX [[:punct:]] is RE2-only).
    */
  val PunctPattern = "[.,;:!?()'\"-]"

  /** Ratio of characters that are punctuation. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, PunctPattern, ""))).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  /** Ratio of whitespace tokens that are in `stopwords`. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val ws = words(text)
    size(filter(ws, w => lower(w).isInCollection(stopwords))).cast("double") /
      greatest(size(ws), lit(1)).cast("double")
  }

  /** Composite [0,1] quality score from simple heuristics: long-enough docs
    * with moderate punctuation and some stopwords score high. The exact
    * weights are arbitrary but deterministic.
    */
  def qualityScore(text: Column, stopwords: Seq[String]): Column = {
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val punctOk = when(punctRatio(text) < 0.2, 1.0).otherwise(0.0)
    val stopOk = least(stopwordRatio(text, stopwords) * 5.0, lit(1.0))
    // deliberately NOT rounded: the raw IEEE sum of identical inputs is
    // engine-identical, while round(.,6) is not — Spark rounds the decimal
    // STRING repr (BigDecimal.valueOf) and DuckDB the binary double, which
    // disagree when a score lands near a half boundary (seen in q72).
    // Null-guarded: `least` SKIPS nulls, so without the guard a null text
    // scores least(null, 1.0)*0.4 + 0.3 = 0.7 — and quality-weighted
    // sampling would keep 70% of null docs
    when(text.isNotNull, lenScore * 0.4 + punctOk * 0.3 + stopOk * 0.3)
  }

  /** Overlapping `size`-word chunks every `stride` words (stride < size =
    * overlap) — the RAG-ingestion chunking shape, vs [[passages]]'
    * non-overlapping windows. Chunk k covers words [k*stride,
    * min(k*stride + size, n)); the last chunk ends exactly at the last
    * word, so coverage is total and the tail chunk may be short. Empty
    * text (no words) -> empty array; null -> null.
    */
  def slidingChunks(text: Column, size: Int, stride: Int): Column = {
    require(size >= 1 && stride >= 1, s"size/stride must be >= 1")
    letCol(words(text)) { ws =>
      // number of chunks - 1: ceil(max(n - size, 0) / stride), in integer
      // arithmetic (int / int is double in Spark; truncation after the
      // +stride-1 bump IS the ceil for non-negative operands)
      val kMax = ((greatest(org.apache.spark.sql.functions.size(ws) - size,
        lit(0)) + lit(stride - 1)) / lit(stride)).cast("int")
      // explicit null gate: `greatest` SKIPS nulls (SCALE.md float rule 6),
      // so without it a null text flows through kMax = 0 and emits [null]
      when(ws.isNull, lit(null).cast("array<string>"))
        .when(org.apache.spark.sql.functions.size(ws) === 0,
          array().cast("array<string>"))
        .otherwise(transform(sequence(lit(0), kMax),
          k => array_join(slice(ws, k * stride + 1, lit(size)), " ")))
    }
  }

  // ---- PII detection / redaction ---------------------------------------
  // Patterns restricted to the Java-regex AND RE2 common subset (no
  // lookarounds, no backreferences) so the DuckDB oracles replay them
  // verbatim. Deliberately precision-leaning: a corpus scrubber prefers
  // missing an exotic address over mangling code/markup.

  /** Email address (user@host.tld). */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Dotted-quad IPv4 (word-bounded; no octet range check — redaction
    * favors recall over parsing rigor for things that LOOK like addresses).
    */
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Count of email-shaped spans in the text (null text -> null). */
  def piiEmailCount(text: Column): Column =
    regexp_count(text, lit(EmailPattern))

  /** Count of IPv4-shaped spans in the text (null text -> null). */
  def piiIpCount(text: Column): Column =
    regexp_count(text, lit(Ipv4Pattern))

  /** Redact email/IPv4 spans to `<EMAIL>`/`<IP>` placeholders — the
    * standard pre-training scrub. Emails are replaced FIRST so a dotted
    * quad inside an email's local part (`1.2.3.4@example.com`) redacts as
    * one `<EMAIL>`, not `<IP>@example.com`. Map-side, codegen'd, no
    * shuffle.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "<EMAIL>"),
      Ipv4Pattern, "<IP>")

  /** 64-bit rolling-hash document fingerprint: xxhash64 over the normalized
    * (lowercased, whitespace-collapsed) text. Exact-dup detection key.
    */
  def fingerprint(text: Column): Column =
    // xxhash64 IGNORES null inputs (hashes just the seed), which would
    // silently group every null-text doc as mutual "duplicates" — keep
    // null text -> null fingerprint instead
    when(text.isNotNull,
      xxhash64(regexp_replace(lower(trim(text)), "\\s+", " ")))

  /** Winnowed document fingerprints (the MOSS/winnowing rolling-hash
    * scheme): hash every k-shingle, slide a window of `w` consecutive
    * shingle hashes, keep each window's minimum, distinct the kept set.
    * Guarantees every run of w shingles contributes a fingerprint, so any
    * shared substring of >= k+w-1 words yields a shared fingerprint —
    * near-dup detection with a fingerprint set ~1/w the shingle count.
    *
    * The "hash" is the md5 hex string (lexicographic min) rather than
    * xxhash64: md5 exists verbatim in DuckDB, keeping the operator
    * oracle-checkable; the selection distribution is equivalent.
    * Documents shorter than k words have no shingles -> empty set.
    */
  def winnowedFingerprints(text: Column, k: Int, w: Int): Column =
    letCol(transform(shingles(text, k), s => md5(s))) { hs =>
      when(size(hs) === 0, array().cast("array<string>"))
        .otherwise(array_distinct(
          transform(sequence(lit(0), greatest(size(hs) - w, lit(0))),
            i => array_min(slice(hs, i + 1, lit(w))))))
    }

  /** Language-marker stopword lists for the n-gram/stopword language-ID
    * heuristic (top function words per language).
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "en"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  /** Heuristic language ID: the language whose marker-word hit count is
    * highest wins; ties break lexicographically; zero hits => "und".
    */
  def langIdHeuristic(text: Column): Column =
    letCol(transform(words(text), w => lower(w))) { ws =>
      val scored = langMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
        struct(
          size(filter(ws, w => w.isInCollection(markers))).as("hits"),
          lit(lang).as("lang"))
      }
      val best = sort_array(array(scored: _*), asc = false).getItem(0)
      when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
    }
}
