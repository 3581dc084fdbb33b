package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a web-scale training-data pipeline:
  * token counting, quality scoring, language-ID heuristic, document
  * fingerprinting. All are built from codegen'd expressions — builtin
  * `functions._` plus the custom [[graft.transform.TokenCount]] /
  * [[graft.transform.LangId]] / [[graft.transform.Fnv1aFingerprint]]
  * scans; NO Scala UDF anywhere — so they pipeline inside a single
  * whole-stage-codegen'd scan stage.
  */
object TextOps {

  /** Whitespace token count; 0 for empty/blank strings, null for null.
    * Codegen'd single-scan expression — no per-row token array
    * (`size(split(...))` allocates one; see
    * [[graft.transform.TokenCount]] for the scaling rationale).
    */
  def tokenCount(text: Column): Column =
    graft.transform.TokenCount.column(text)

  /** Character count of non-[a-zA-Z0-9\s] characters (punctuation-ish). */
  def punctCount(text: Column): Column =
    length(regexp_replace(text, "[A-Za-z0-9\\s]", "")).cast("long")

  def digitCount(text: Column): Column =
    length(regexp_replace(text, "[^0-9]", "")).cast("long")

  /** Mean token length = (chars − separators) / tokens, null-safe. */
  def meanTokenLen(text: Column): Column = {
    val n = tokenCount(text)
    when(n === 0, lit(0.0))
      .otherwise((length(trim(text)) - (n - 1)).cast("double") / n.cast("double"))
  }

  /** Ratio of stopword tokens (tiny fixed English list) to all tokens. */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "it", "on", "for")

  /** Count of tokens that are in `stopwords`. Uses higher-order functions
    * (codegen'd ArrayFilter), no UDF.
    */
  def stopwordCountCol(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L))
      .otherwise(size(filter(split(trim(lower(text)), "\\s+"), t => t.isin(stopwords: _*))).cast("long"))

  /** Composite quality score in [0,1]: favors mid-length docs with low
    * punctuation density and a sane stopword rate. Deterministic and
    * fully column-expressed; thresholds follow common web-text heuristics
    * (Gopher-style length/symbol gates).
    */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val lenScore = least(nTok / lit(50.0), lit(1.0))
    val punctRatio = punctCount(text).cast("double") / greatest(length(text).cast("double"), lit(1.0))
    val punctScore = greatest(lit(1.0) - punctRatio * 5.0, lit(0.0))
    val stopRatio = stopwordCountCol(text).cast("double") / greatest(nTok, lit(1.0))
    val stopScore = when(stopRatio.between(0.05, 0.6), lit(1.0)).otherwise(lit(0.5))
    round(lenScore * 0.4 + punctScore * 0.3 + stopScore * 0.3, 6)
  }

  /** 64-bit document fingerprint: FNV-1a over the Unicode code points of
    * the normalized (lowercased, trimmed) text. FNV is used instead of
    * Spark's builtin xxhash64 so the value is portable across engines —
    * the correctness oracle recomputes it in plain SQL (modular HUGEINT
    * arithmetic over `unicode()` code points) and the dedup shingle hash
    * ([[graft.dedup.Dedup.fnv1a]]) shares the kernel. Codegen expression
    * (no UDF) — see [[graft.transform.Fnv1aFingerprint]].
    */
  def fingerprint(text: Column): Column =
    graft.transform.Fnv1aFingerprint.column(text)

  /** Language-ID heuristic: score the token stream against per-language
    * marker-word profiles; emit the argmax language or "und" when nothing
    * matches. Marker lists are tiny and fixed, so the scorer is a pure
    * function String => String evaluated per row.
    */
  val langMarkers: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "is", "it", "for", "with", "that", "this"),
    "de" -> Set("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu"),
    "fr" -> Set("le", "la", "les", "et", "est", "pas", "une", "pour", "que", "des"),
    "es" -> Set("el", "la", "los", "las", "es", "una", "por", "que", "con", "para"),
    "it" -> Set("il", "lo", "la", "che", "non", "per", "una", "sono", "del", "con"),
    "pt" -> Set("o", "os", "um", "uma", "que", "com", "para", "mais", "dos", "das")
  )

  /** Pure scorer used by the langId column (and unit-testable without Spark). */
  def langIdOf(text: String): String = {
    if (text == null || text.isEmpty) return "und"
    val toks = text.toLowerCase.split("\\s+")
    if (toks.isEmpty) return "und"
    var best = "und"
    var bestScore = 0
    // deterministic order: sorted language codes
    langMarkers.toSeq.sortBy(_._1).foreach { case (lang, markers) =>
      var s = 0
      var i = 0
      while (i < toks.length) { if (markers.contains(toks(i))) s += 1; i += 1 }
      if (s > bestScore) { bestScore = s; best = lang }
    }
    best
  }

  /** Column form: a codegen'd single-scan expression
    * ([[graft.transform.LangId]]) with byte-wise marker matching — no UDF,
    * no regex split, no token array. `coalesce` keeps the UDF-era contract
    * that a null text scores "und" (langIdOf(null) == "und").
    */
  def langId(text: Column): Column =
    coalesce(graft.transform.LangId.column(text), lit("und"))

  /** Character n-grams (shingles) of the normalized text; the near-dup
    * building block. Column-expressed via transform over a 0..len-k index
    * sequence (no UDF).
    */
  def charShingles(text: Column, k: Int): Column = {
    val t = trim(lower(text))
    when(length(t) < k, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(t) - (k - 1)), i => t.substr(i, lit(k))))
  }
}
