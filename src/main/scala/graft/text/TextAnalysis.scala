package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines over a `documents`
  * table. Everything is pure `functions._` composition (whole-stage
  * codegen'd, no UDFs) and deterministic, so each op is DuckDB-oracle
  * checkable. Formulas are pinned here; the oracle SQL mirrors them 1:1.
  */
object TextAnalysis {

  /** Whitespace token count; empty/blank text counts 0 tokens.
    * `regexp_count(\S+)` = the number of whitespace-delimited words, in
    * one regex pass with no array allocation (the previous
    * `size(split(trim, "\s+"))` built a token array per row just to take
    * its length).
    */
  def tokenCount(text: Column): Column =
    when(trim(text) === "" || text.isNull, 0)
      .otherwise(regexp_count(text, lit("\\S+")))

  /** BPE-ish subword count: word-piece segments of ≤4 chars — a cheap,
    * deterministic proxy for tokenizer budgeting: ceil(len(word)/4) summed.
    * Computed as `regexp_count(\S{1,4})`: greedy matching tiles each
    * maximal non-space run of length l with exactly ceil(l/4) matches, so
    * one codegen'd regex pass replaces the per-word interpreted
    * higher-order `aggregate` lambda (HOFs are CodegenFallback).
    */
  def subwordCount(text: Column): Column =
    when(trim(text) === "" || text.isNull, 0L)
      .otherwise(regexp_count(text, lit("\\S{1,4}")).cast("long"))

  private val Stopwords = Map(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "es" -> Seq("el", "la", "que", "de", "los"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "des"))

  /** Total whole-word occurrences (word-boundary regex, lowercased) of
    * ANY word in `ws`, as ONE alternation regex pass — non-overlapping and
    * identical under Java regex and DuckDB's RE2. Equal to the sum over the
    * set of each word's own `\bw\b` count: `\b…\b` matches are disjoint
    * whole words and each whole word equals at most one member, so the
    * alternation count is exactly the per-word sum — in 1 regex scan of
    * the text instead of |ws| (the DuckDB oracles already compute these
    * scores with the same alternation form).
    */
  private def wordSetHits(text: Column, ws: Seq[String]): Column =
    regexp_count(lower(text), lit(ws.mkString("\\b(", "|", ")\\b")))

  /** n-gram/stopword-heuristic language ID over {en, es, de, fr, zh}:
    * zh iff any CJK codepoint; otherwise argmax of stopword-marker hits
    * with deterministic tie-break (en > es > de > fr); "und" (undetermined)
    * when no marker hits at all.
    */
  def langId(text: Column): Column = {
    val scores = Seq("en", "es", "de", "fr").map { l =>
      l -> wordSetHits(text, Stopwords(l))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = scores.reverse.foldLeft(lit("und"): Column) { case (els, (l, s)) =>
      when(s === best && best > 0, l).otherwise(els)
    }
    when(text.rlike("[\\u4e00-\\u9fff]"), "zh").otherwise(pick)
  }

  /** Quality-score components (all ratios in [0,1]):
    *   word_count, mean word length, punctuation ratio, stopword ratio,
    * combined as
    *   score = 0.4·min(wc/100,1) + 0.3·min(5·stop_ratio,1) + 0.3·(1 − min(10·punct_ratio,1))
    * — a concrete pinning of the reference's stubbed quality score
    * (DESIGN.md:389-391), oriented for training-data filtering.
    */
  def qualityComponents(text: Column): Seq[(String, Column)] = {
    val wc = tokenCount(text).cast("double")
    val chars = length(text).cast("double")
    val punct = (length(text) - length(regexp_replace(text, "[.,;:!?]", ""))).cast("double")
    val stopHits = wordSetHits(text,
      Stopwords.values.flatten.toSeq.distinct.sorted).cast("double")
    val punctRatio = when(chars > 0, punct / chars).otherwise(0.0)
    val stopRatio = when(wc > 0, stopHits / wc).otherwise(0.0)
    Seq(
      "word_count" -> wc,
      "punct_ratio" -> punctRatio,
      "stop_ratio" -> stopRatio,
      "quality_score" -> (least(wc / 100.0, lit(1.0)) * 0.4
        + least(stopRatio * 5.0, lit(1.0)) * 0.3
        + (lit(1.0) - least(punctRatio * 10.0, lit(1.0))) * 0.3))
  }

  def qualityScore(text: Column): Column =
    qualityComponents(text).last._2

  /** Normalization used by fingerprints and shingles: lowercase, collapse
    * every non-alphanumeric run to a single space, trim.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** Content fingerprint (md5 of normalized text) — the dedup key for
    * near-identical-after-normalization documents; SQL-parity with
    * DuckDB's md5(). A 64-bit variant for compact joins: [[fingerprint64]].
    */
  def fingerprint(text: Column): Column = md5(normalize(text))

  def fingerprint64(text: Column): Column = xxhash64(normalize(text))
}
