package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar text functions (SURVEY.md §2.7/§2.11 U1-U3) plus the
  * training-data-pipeline text-analysis battery (quality scoring,
  * language-ID heuristic, token counting, fingerprinting).
  *
  * Everything here is pure `Column` expressions over built-in functions —
  * codegen'd, null-safe, no UDF in the hot path. At 100 TB these run
  * inside the scan's WholeStageCodegen span.
  */
object TextFns {
  /** U2 standardize_boolean (reference code/07:134-139). */
  def standardizeBoolean(c: Column): Column =
    lower(trim(c)).isin("true", "qui", "yes")

  /** U3 remove_punct + collapse_whitespace + lower (code/10:92-98) —
    * ASCII form: every non-[a-z0-9] char becomes a space. Exact for the
    * ASCII corpora the oracle queries pin; on non-ASCII names it also
    * spaces out accented letters, which the reference does NOT do — use
    * [[cleanNameUnicode]] where reference parity on real org names is
    * required. */
  def cleanName(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), """[^a-z0-9\s]""", " "), """\s+""", " "))

  /** U3, reference-faithful form: the reference's `remove_punct` is
    * stringr/ICU `[[:punct:]]` = Unicode category P (code/10:95-98), so
    * accented letters survive (`développement` stays intact) while
    * Unicode punctuation like the right single quote U+2019 becomes a
    * space (`l’environnement` → `l environnement`) — both shapes are in
    * the committed `output/cva_agg.csv` golden. `lower` is Unicode-aware
    * in both engines. */
  def cleanNameUnicode(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), """\p{P}""", " "), """\s+""", " "))

  /** U1 standardize_percentage (code/07:104-128): branchy extraction —
    * "45%" / "12.5 percent" / "less than 1" / bare number; else null.
    * Expressed as an ordered when-chain of regexp_extract (first match
    * wins, mirroring the reference's sequential assignments). */
  def standardizePercentage(c: Column): Column = {
    val s = trim(lower(c))
    val pct    = regexp_extract(s, """(\d+(?:\.\d+)?)\s*%""", 1)
    val word   = regexp_extract(s, """(\d+(?:\.\d+)?)\s*percent""", 1)
    val lessThan = s.rlike("""less\s+than\s+1""")
    val bare   = regexp_extract(s, """^(\d+(?:\.\d+)?)$""", 1)
    when(c.isNull, lit(null).cast("double"))
      .when(pct =!= "", pct.cast("double"))
      .when(lessThan, lit(0.5))
      .when(word =!= "", word.cast("double"))
      .when(bare =!= "", bare.cast("double"))
      .otherwise(lit(null).cast("double"))
  }

  // ---- training-data text analysis ----------------------------------

  /** Whitespace token count. */
  def wsTokenCount(c: Column): Column =
    when(trim(c) === "", lit(0)).otherwise(size(split(trim(c), """\s+""")))

  /** BPE-ish token count: word pieces + digits + punctuation singles —
    * a cheap deterministic proxy for subword tokenizers. */
  def bpeishTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("""[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"""), lit(0)))

  /** Composite quality score in [0,1]: favors mid-length docs, low
    * punctuation noise, and some stopword mass (Gopher-style heuristics).
    * FP operation order (multiply before divide) is pinned so an external
    * SQL oracle can reproduce the value bit-for-bit. */
  def qualityScore(text: Column, stop: Seq[String]): Column = {
    val len = length(text)
    val punctChars = len - length(regexp_replace(text, """[^\w\s]""", ""))
    val toks = split(lower(trim(text)), """\s+""")
    val hits = size(filter(toks, t => t.isin(stop: _*)))
    val lenScore = least(len.cast("double") / 500.0, lit(1.0))
    val punctOk = lit(1.0) - least(punctChars.cast("double") * 5.0 / len, lit(1.0))
    val stopOk = least(hits.cast("double") * 4.0 / size(toks), lit(1.0))
    // empty text: the punct ratio's 0/0 is a hard DIVIDE_BY_ZERO under
    // ANSI — score it 0 outright (both the q40 oracle and this guard)
    when(len === 0, lit(0.0))
      .otherwise(round((lenScore + punctOk + stopOk) / 3.0, 6))
  }

  /** Deterministic doc fingerprint: md5 of the normalized text (lower,
    * punctuation stripped, whitespace collapsed) — stable across engines. */
  def fingerprint(c: Column): Column = md5(cleanName(c))

  /** Winnowed k-gram fingerprints (the rolling-hash document signature):
    * hash every k-gram, slide a window of `w` hashes, keep each window's
    * minimum — near-identical documents share most selected fingerprints
    * even under edits. Hashes are md5-derived 32-bit ints so an external
    * engine reproduces them. Returns the distinct selected hashes. */
  def winnowFingerprints(c: Column, k: Int, w: Int): Column =
    // Native kernel (TextHash.winnow): one pass, monotonic-deque window
    // minima, no per-gram hex strings. Semantics pinned against the
    // composed-column form by TextHashParitySpec; history of the slower
    // forms (inlined transform → frozen Verify; zip_with sparse table →
    // measured regression) is in the r2 commit log.
    TextHash.winnow_fingerprints(c, k, w)

  /** Language-ID by marker-word scoring: count hits of per-language marker
    * words, argmax with deterministic tie order (en > de > es > fr > zh).
    * A real pipeline would use char n-gram profiles; the shape (score →
    * argmax cascade) is the same and is what we test. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "und", "ist", "nicht"),
    "es" -> Seq("el", "la", "que", "de", "es"),
    "fr" -> Seq("le", "la", "les", "est", "et"),
    "zh" -> Seq("de", "shi", "le", "bu", "wo"))

  def langId(c: Column): Column =
    // argmax with earliest-precedence tiebreak, built as ONE sorted struct
    // array so each score expression appears exactly once in the plan (a
    // when-chain fold would nest the score exprs exponentially). The
    // token array is let-bound: each langScore would otherwise re-split
    // the text (5 splits per row).
    element_at(
      transform(array(split(lower(trim(c)), """\s+""")), toks => {
        val entries = langMarkers.zipWithIndex.map { case ((l, m), i) =>
          struct((-size(filter(toks, t => t.isin(m: _*)))).as("negscore"),
            lit(i).as("prec"), lit(l).as("lang"))
        }
        element_at(array_sort(array(entries: _*)), 1).getField("lang")
      }),
      1)
}
