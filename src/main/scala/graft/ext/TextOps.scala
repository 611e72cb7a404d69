package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: tokenization,
  * shingling, language-ID heuristic, quality stats, fingerprinting.
  *
  * Everything is built from codegen'd array/string built-ins (`split`,
  * `transform`, `filter`, `aggregate`) — no UDFs, so the whole pipeline
  * stays inside WholeStageCodegen and scales linearly with no shuffle:
  * all operators here are per-row projections.
  */
object TextOps {

  /** Whitespace tokens (corpus is single-space separated). */
  def tokens(c: Column): Column = split(c, " ")

  /** Word n-gram shingles: positions 1..len-n+1 joined with spaces.
    * Empty array when len < n. Delegates to the native [[graft.functions.WordShingles]]
    * expression: the equivalent higher-order-function formulation
    * (transform(sequence…) over element_at(split…)) is interpreted, not
    * codegen'd, and re-evaluates the split per element — measured ~25×
    * slower per row at 10× scale (SCALE.md "Two real super-linear
    * findings"), while the native single-pass expression stays linear.
    */
  def shingles(c: Column, n: Int): Column =
    graft.functions.WordShingles.shingles(c, n)

  /** Count of tokens that are members of `set` (language markers,
    * stopwords). int64 for cross-engine hash parity.
    */
  def markerCount(c: Column, set: Seq[String]): Column =
    size(filter(tokens(c), x => x.isin(set: _*))).cast("bigint")

  /** BPE-ish token count: alpha runs, digit runs, single punctuation. */
  val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
  def bpeTokenCount(c: Column): Column =
    regexp_count(lower(c), lit(BpePattern)).cast("bigint")

  /** Language-marker word lists (ordered — ties resolve to the earlier
    * language deterministically).
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "les", "et", "des", "une"))

  /** n-gram/stopword language-ID heuristic: argmax of marker-word hits,
    * 'und' (unknown) when no marker hits at all. Deterministic tie-break
    * by marker-list order.
    */
  def langId(c: Column): Column = {
    val counts = LangMarkers.map { case (lang, set) => lang -> markerCount(c, set) }
    val all = counts.map(_._2)
    counts.foldRight(lit("unknown")) { case ((lang, cnt), els) =>
      when(cnt > 0 && all.map(o => cnt >= o).reduce(_ && _), lang).otherwise(els)
    }
  }

  /** Canonical bag-of-words fingerprint: md5 of sorted distinct tokens.
    * Robust to token reordering — a cheap "same content, shuffled" dup key.
    */
  def fingerprint(c: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(c)))))

  /** Exact total character count of all tokens (int64). */
  def tokenCharSum(c: Column): Column =
    aggregate(transform(tokens(c), t => length(t).cast("long")), lit(0L), (a, x) => a + x)

  /** Canonical text normalization (the C4-style cleanup pass): lowercase,
    * C0 control characters (`\x00`–`\x1f`, which covers tab/newline/CR) →
    * space, whitespace runs collapsed to one space, trimmed. Pure per-row
    * projection over the RE2 ∩ Java-regex subset (`[\x00-\x1f]`, `[ ]+` —
    * identical semantics both engines), so the oracle runs the same
    * patterns verbatim and the pass is map-only at any scale.
    */
  def normalize(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[\\x00-\\x1f]", " "), " +", " "))

  /** PII patterns, applied in this order: email first (so the phone rule
    * never sees digits inside an address), then NANP-shaped phone
    * numbers, then dotted-quad IPv4. Dotted 3-3-4 digit runs are claimed
    * by the phone rule before the IP rule can see them — the standard
    * ambiguity, resolved deterministically by pass order. Patterns use
    * only the regex subset with identical semantics in Java regex and
    * RE2 (character classes, bounded repeats, alternation — no
    * backreferences or lookaround), so the DuckDB oracle runs the same
    * pattern text verbatim.
    */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "(\\+1[ .-])?(\\([0-9]{3}\\)|[0-9]{3})[ .-][0-9]{3}[ .-][0-9]{4}", "<PHONE>"),
    ("ipv4", "([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"))

  /** Redact all PII patterns, sequentially. Pure per-row projection —
    * map-only at any scale, no UDF (regexp_replace is codegen'd).
    */
  def redactPii(c: Column): Column =
    PiiPatterns.foldLeft(c) { case (acc, (_, pat, token)) =>
      regexp_replace(acc, pat, token)
    }

  /** Per-kind redaction counts measured the way redaction applies them:
    * each pattern counts on the text with all EARLIER patterns already
    * replaced (replacement tokens contain no digits, so they are inert
    * to later patterns). Returns (kind → count Column, fullyRedacted).
    */
  def piiCounts(c: Column): (Seq[(String, Column)], Column) = {
    val (countsRev, redacted) =
      PiiPatterns.foldLeft((List.empty[(String, Column)], c)) {
        case ((acc, cur), (kind, pat, token)) =>
          ((kind -> regexp_count(cur, lit(pat)).cast("bigint")) :: acc,
            regexp_replace(cur, pat, token))
      }
    (countsRev.reverse, redacted)
  }

  /** Repeated-element ratio of an array: 1 − |distinct|/|all| — the
    * Gopher-class intra-document repetition signal (duplicate token /
    * duplicate n-gram fraction). Per-row projection, so the whole
    * quality pass is map-only at any scale; the single division is an
    * exact IEEE op, identical cross-engine. Caller filters empty arrays
    * (0/0) first.
    */
  def dupRatio(arr: Column): Column =
    graft.functions.Numeric.roundBin(
      lit(1.0) - size(array_distinct(arr)).cast("double") / size(arr).cast("double"), 6)
}
