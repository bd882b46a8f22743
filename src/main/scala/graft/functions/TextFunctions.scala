package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for large-scale training-data
  * pipelines: normalization, tokenization, shingling, quality signals,
  * language-ID scoring and fingerprinting.
  *
  * Everything here is composed from built-in (whole-stage-codegen'd)
  * SQL functions — no UDFs — so the expressions stay inside Tungsten
  * and push through Catalyst untouched; all are deterministic so the
  * same logic is expressible as an ANSI-SQL oracle.
  */
object TextFunctions {

  /** Lowercased, whitespace-collapsed, trimmed text. */
  def normText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Unicode-canonical text (NFC, lowercase, accents stripped,
    * non-alphanumerics folded to single spaces) — the dedup pre-pass,
    * as one codegen'd kernel; see [[CanonTextExpr]]. */
  def canonText(c: Column): Column = CanonText.canonText(c)

  /** Whitespace tokens of trimmed text (empty text -> [""], like the
    * SQL split contract — callers filter if needed). */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  def tokenCount(c: Column): Column = size(tokens(c))

  /** A BPE-ish proxy token count: maximal letter runs and digit runs
    * are separate word pieces ("abc123 def" -> 3), punctuation and
    * whitespace delimit. Defined as a count of RE2-compatible matches
    * (no lookarounds) so any ANSI engine with regexp_extract_all
    * rederives it exactly. */
  def subwordCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[\\p{L}]+|[0-9]+"), lit(0)))

  /** Characters that are sentence punctuation. */
  def punctCount(c: Column): Column =
    length(c) - length(regexp_replace(c, "[.,;:!?]", ""))

  def punctRatio(c: Column): Column =
    punctCount(c).cast("double") / greatest(length(c), lit(1)).cast("double")

  /** Gopher-style keep/drop with a FIRST-MATCH reason — the composite
    * filter a pretraining pipeline applies before dedup. Every rule is
    * RE2/ANSI-derivable, so any engine rederives the exact decision:
    * "too_short" (< minTokens whitespace tokens), "low_alpha" (letters
    * under half the characters), "repetitive" (distinct lowercase
    * tokens under 30% of tokens), else "ok". */
  def qualityFilterReason(c: Column, minTokens: Int = 5): Column = {
    val toks = tokenCount(c)
    val alphaRatio =
      length(regexp_replace(c, "[^A-Za-z]", "")).cast("double") /
        greatest(length(c), lit(1)).cast("double")
    val lowerToks = tokens(lower(c))
    val distinctRatio =
      size(array_distinct(lowerToks)).cast("double") /
        greatest(size(lowerToks), lit(1)).cast("double")
    when(toks < minTokens, lit("too_short"))
      .when(alphaRatio < 0.5, lit("low_alpha"))
      .when(distinctRatio < 0.3, lit("repetitive"))
      .otherwise(lit("ok"))
  }

  /** Gopher-style repetition signals in one kernel pass:
    * `array(dup_line_frac, top_ngram_frac, dup_ngram_frac)` — the
    * char-weighted duplicate-line fraction, the most-frequent word
    * n-gram's share of occurrences, and the repeated-occurrence
    * n-gram ratio. Alias the array once (withColumn) and extract the
    * three elements in a later projection; see
    * [[RepetitionStatsExpr]] for the exact-rederivation contract. */
  def repetitionStats(c: Column, n: Int = 3): Column =
    RepetitionExpressions.repetitionStats(c, n)

  /** Composite quality score in [0,1]: length signal x moderate
    * punctuation x mean token length sanity. Deterministic arithmetic
    * only, so it doubles as an oracle-checkable quality filter. */
  def qualityScore(c: Column): Column = {
    val len = length(c).cast("double")
    val lenSignal = least(len / lit(400.0), lit(1.0))
    val toks = tokenCount(c).cast("double")
    val meanTokLen = len / greatest(toks, lit(1.0))
    val tokSignal =
      when(meanTokLen.between(3.0, 12.0), lit(1.0)).otherwise(lit(0.5))
    val punctSignal =
      when(punctRatio(c) <= 0.1, lit(1.0)).otherwise(lit(0.5))
    round(lenSignal * tokSignal * punctSignal, 4)
  }

  /** Character k-gram shingles of the normalized text (distinct).
    * Texts shorter than k yield one (short) shingle. */
  def charShingles(c: Column, k: Int = 5): Column = {
    val t = normText(c)
    array_distinct(
      transform(
        sequence(lit(1), greatest(length(t) - (k - 1), lit(1))),
        i => t.substr(i, lit(k))))
  }

  /** Word n-gram shingles (distinct, first-occurrence order), joined by
    * a single space. Implemented as a custom expression — the
    * equivalent `array_distinct(transform(..., slice/concat_ws))` tree
    * evaluates interpreted at ~0.8 ms/row (see ShingleExpressions). */
  def wordShingles(c: Column, n: Int = 3): Column =
    ShingleExpressions.wordShingles(c, n)

  /** Marker-based language-ID score: how many of the language's marker
    * words occur as tokens. Pure token-set arithmetic = oracle-able. */
  def langScore(c: Column, markers: Seq[String]): Column =
    size(array_intersect(tokens(lower(c)), array(markers.map(lit): _*)))

  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "with", "for", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "mit", "für", "nicht"),
    "fr" -> Seq("le", "la", "les", "et", "est", "avec", "pour", "dans"),
    "es" -> Seq("el", "los", "las", "es", "con", "para", "por", "una"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "不"))

  /** Predicted language = argmax of marker scores (ties broken by
    * language code order), "und" when nothing matches. */
  def langId(c: Column, markers: Map[String, Seq[String]] = langMarkers): Column = {
    val ordered = markers.toSeq.sortBy(_._1)
    val scored = ordered.map { case (code, ms) => (code, langScore(c, ms)) }
    val best = scored.tail.foldLeft(greatest(scored.head._2, lit(0))) {
      case (acc, (_, s)) => greatest(acc, s)
    }
    val pick = scored.foldRight(lit("und")) { case ((code, s), els) =>
      when(s === best && best > 0, lit(code)).otherwise(els)
    }
    pick
  }

  /** Content fingerprint: md5 of the normalized text (identical in any
    * ANSI SQL engine -> exact-dedup key and oracle-safe). */
  def fingerprint(c: Column): Column = md5(normText(c))

  /** Positional character k-grams of the normalized text (every
    * position, duplicates kept — the rolling-window input winnowing
    * needs, unlike the distinct [[charShingles]]). */
  def charGrams(c: Column, k: Int = 5): Column = {
    val t = normText(c)
    transform(
      sequence(lit(1), greatest(length(t) - (k - 1), lit(1))),
      i => t.substr(i, lit(k)))
  }

  /** Winnowing document fingerprints (the MOSS scheme): rolling-hash
    * every character k-gram (md5-prefix, one kernel pass), then keep
    * the minimum hash of each w-gram window — any shared substring of
    * length >= k + w - 1 between two documents is guaranteed to share
    * a fingerprint, while only ~2/(w+1) of positions are kept. Output
    * is the sorted distinct fingerprint set. Hashes are 62-bit
    * (md5 prefix >>> 2) so the min-selection order is engine-agnostic
    * and the whole pipeline rederives in ANSI SQL. */
  def winnowFingerprints(c: Column, k: Int = 5, w: Int = 4): Column =
    SketchExpressions.winnowMins(
      SketchExpressions.charGramHash64(normText(c), k, shift = 2), w)

  /** PII patterns, RE2-compatible (no lookarounds/backrefs) so the
    * same redaction rederives in any RE2/Java-regex engine. Alternation
    * order matters for counting: emails first so an address's numeric
    * host part is not double-counted as an IP. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phoneRe = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"

  /** Redact emails / IPv4s / phone-shaped numbers to typed tags — the
    * scrub a pretraining pipeline runs before publishing a corpus.
    * One narrow scan, no shuffle. */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, emailRe, "<EMAIL>"),
        ipv4Re, "<IP>"),
      phoneRe, "<PHONE>")

  /** How many PII spans [[redactPii]] would replace. */
  def piiCount(c: Column): Column =
    size(regexp_extract_all(c, lit(s"$emailRe|$ipv4Re|$phoneRe"), lit(0)))
}
