package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the training-data-pipeline
  * surface (BASELINE.json north star): tokenization, language ID,
  * quality scoring, fingerprinting.
  *
  * All are pure `org.apache.spark.sql.functions` compositions —
  * whole-stage-codegen'd, no UDFs — so they run at scan speed and
  * survive any scale-up: per-row work, no shuffle, no state.
  */
object TextFunctions {

  /** Word tokens: lowercased maximal [a-z0-9]+ runs. The "BPE-ish
    * regex" baseline tokenizer — punctuation splits, case-folded. */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Whitespace token count (the cheap estimator). */
  def whitespaceTokenCount(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** GPT-2-style pre-tokenizer, RE2-portable subset: contraction
    * suffixes split off first (`don't` → `don`, `'t`), then letter
    * runs, digit runs, and non-alnum punctuation runs — the unit
    * sequence a byte-pair tokenizer merges from, and the unit real
    * token-budget estimates should count (whitespace counting
    * under-counts punctuation-heavy text; alnum counting drops
    * punctuation entirely). Lookahead-free by construction: the
    * upstream GPT-2 pattern's ` ?` prefixes and `\s+(?!\S)` branch
    * need lookahead RE2 lacks, and dropping them only changes
    * whether whitespace rides attached to tokens, not the count. */
  val PretokenPattern = "'(?:s|t|re|ve|m|ll|d)|[a-z]+|[0-9]+|[^a-z0-9\\s']+|'"

  /** Pre-token stream of `text` (lowercased). Apostrophes not
    * starting a known contraction surface as their own token, exactly
    * how a byte-level BPE sees them. */
  def pretokens(text: Column): Column =
    regexp_extract_all(lower(text), lit(PretokenPattern), lit(0))

  def pretokenCount(text: Column): Column = size(pretokens(text))

  /** English stopwords used by the language-ID heuristic. Tiny on
    * purpose: the heuristic is a ratio test, not a classifier. */
  val EnglishMarkers: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "this")

  /** Fraction of tokens that are English marker words. */
  def englishScore(toks: Column): Column = {
    val markers = array(EnglishMarkers.map(lit): _*)
    val matched = filter(toks, t => array_contains(markers, t))
    when(size(toks) === 0, lit(0.0))
      .otherwise(size(matched).cast("double") / size(toks).cast("double"))
  }

  /** N-gram-marker language ID: 'en' when the marker-token ratio
    * clears `threshold`, else 'other'. A real deployment swaps the
    * marker list per language; the Spark shape (filter + ratio over a
    * token array, fully codegen'd) is the deliverable. */
  def langId(text: Column, threshold: Double = 0.05): Column =
    when(englishScore(tokens(text)) >= threshold, lit("en"))
      .otherwise(lit("other"))

  /** Alphabetic-character ratio: len(strip non [a-z ]) / len. */
  def alphaRatio(text: Column): Column = {
    val t = lower(text)
    when(length(t) === 0, lit(0.0))
      .otherwise(length(regexp_replace(t, "[^a-z ]", "")).cast("double")
        / length(t).cast("double"))
  }

  /** Mean token length in characters. */
  def meanTokenLen(text: Column): Column = {
    val tk = tokens(text)
    val totalChars =
      aggregate(tk, lit(0L), (acc, t) => acc + length(t).cast("long"))
    when(size(tk) === 0, lit(0.0))
      .otherwise(totalChars.cast("double") / size(tk).cast("double"))
  }

  /** Content fingerprint: md5 of the canonicalized token stream.
    * Stable across runs/engines (md5 is engine-independent, unlike
    * xxhash64 seeds), so it doubles as the exact-dedup key. */
  def fingerprint(text: Column): Column =
    md5(array_join(tokens(text), " "))

  /** Adjacent-token bigrams as space-joined strings (empty array for
    * docs shorter than two tokens). Codegen'd WordNgrams expression —
    * one compiled pass, duplicates kept (repetition metrics need the
    * multiset). */
  def bigrams(text: Column): Column =
    Sketches.word_ngrams(tokens(text), 2, dedup = false, emptyIfShort = true)

  /** Fraction of array elements that are repeats of an earlier
    * element: (n − n_distinct) / n. Zero for empty arrays. */
  def dupFraction(arr: Column): Column =
    when(size(arr) <= 0, lit(0.0))
      .otherwise((size(arr) - size(array_distinct(arr))).cast("double") /
        size(arr).cast("double"))

  /** Fraction of the array taken by its single most frequent element —
    * the Gopher-style "top n-gram" repetition signal. One codegen'd
    * hash-count pass per row, zero shuffle — vs the explode +
    * two-shuffle group-by a naive plan pays (the oracle query
    * deliberately uses THAT shape, so the two implementations
    * cross-check each other). */
  def topFrequencyFraction(arr: Column): Column =
    Sketches.top_freq_fraction(arr)

  /** Email addresses → `[EMAIL]`. The character-class-only pattern
    * (no backreferences, no lookaround) behaves identically under
    * Java regex (Spark) and RE2 (DuckDB/Go) — engine-portable by
    * construction, which is what makes the op oracle-checkable. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Phone-shaped runs → `[PHONE]`: 8+ digit/space/dash/paren runs
    * anchored on digits, optional leading +. Same portability
    * constraint as EmailPattern. */
  val PhonePattern = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"

  /** PII scrubbing for training corpora: redact emails then phone
    * runs. Pure regexp_replace chain — scan-speed, codegen'd, no
    * shuffle; the order matters (emails contain digits that the
    * phone pattern could otherwise split). */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "[EMAIL]"),
      PhonePattern, "[PHONE]")

  /** `<script>`/`<style>` elements WITH their content (alternation,
    * not a backreference — RE2-safe), then bare tags. `(?s)` because
    * real script/style blocks span lines. */
  val ScriptStylePattern =
    "(?s)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>"
  val TagPattern = "<[^>]*>"

  /** HTML → text for web-curation pipelines: drop script/style
    * elements wholly (their CONTENT is code, not prose — the one case
    * where tag-stripping alone poisons the corpus), strip remaining
    * tags, decode the six entities that dominate real web text
    * (`&lt; &gt; &quot; &#39; &nbsp; &amp;` — `&amp;` LAST, so
    * `&amp;lt;` single-decodes to `&lt;` instead of double-decoding
    * to `<`), collapse whitespace runs, trim. Pure codegen'd
    * regexp/replace chain — scan-speed, zero shuffle, and every step
    * is engine-portable (no backreferences, no lookaround, explicit
    * `[ \t\n\r]` whitespace class — Java's `\s` and RE2's disagree on
    * vertical tab). Lowercase-tag HTML only, matching the dominant
    * web convention; a case-insensitive variant is `(?i)` away. */
  def stripHtml(text: Column): Column = {
    val noBlocks = regexp_replace(text, ScriptStylePattern, " ")
    val noTags = regexp_replace(noBlocks, TagPattern, " ")
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (ent, ch)) => replace(c, lit(ent), lit(ch)) }
    trim(regexp_replace(decoded, "[ \t\n\r]+", " "))
  }

  /** Intra-document repeated-line removal (the Gopher/RefinedWeb
    * within-doc cleanup): keep each line's FIRST occurrence, drop
    * later verbatim repeats, preserve order. A pure per-row
    * projection — zero shuffle, corpus-size-independent — via the
    * indexed filter HOF: position i survives iff the array's first
    * occurrence of that line IS i. Quadratic in the LINE count of a
    * single document (array_position scans per element), which is
    * bounded per row — the right trade against shuffling the corpus
    * by (doc, line).
    * Lines shorter than `minLineLen` characters are EXEMPT and always
    * kept — with the default 1, repeated blank lines (paragraph
    * breaks) survive, the same floor [[graft.operators.Dedup
    * .removeBoilerplateLines]] applies and for the same reason.
    * NULL text reads as empty. Returns struct(clean_text, n_removed). */
  def dedupLinesInDoc(text: Column, sep: String,
                      minLineLen: Int = 1): Column = {
    val segs = split(coalesce(text, lit("")),
      java.util.regex.Pattern.quote(sep))
    val kept = filter(segs, (s, i) =>
      length(s) < lit(minLineLen) ||
        array_position(segs, s) === (i.cast("long") + lit(1L)))
    struct(
      array_join(kept, sep).as("clean_text"),
      (size(segs) - size(kept)).cast("long").as("n_removed"))
  }
}
