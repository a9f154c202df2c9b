package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the LLM-data-pipeline surface
  * (SURVEY §2.11). Everything here composes builtin codegen'd expressions
  * (split/transform/aggregate/regexp) — no UDFs — so whole-stage codegen
  * spans the full per-document computation and the only shuffle in any
  * consumer is whatever aggregation the caller adds.
  */
object TextFns {

  /** Whitespace tokens (the baseline token counter). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** GPT-2-style pre-tokenizer regex; identical semantics in Java regex
    * (Spark) and RE2 (DuckDB), which keeps the oracle exact.
    */
  val bpePattern = "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"
  def bpeishTokens(text: Column): Column = regexp_extract_all(text, lit(bpePattern), lit(0))

  /** Word n-gram shingles (distinct), the dedup unit for MinHash/Jaccard. */
  def wordShingles(text: Column, n: Int): Column = {
    val w = tokens(text)
    array_distinct(
      when(size(w) < n, array(concat_ws(" ", w)))
        .otherwise(transform(
          sequence(lit(0), size(w) - n),
          i => concat_ws(" ", slice(w, i + 1, lit(n))))))
  }

  /** |A ∩ B| / |A ∪ B| over two array columns (distinct elements). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = (size(a) + size(b)).cast("double") - size(array_intersect(a, b))
    when(union === 0d, lit(0d)).otherwise(inter / union)
  }

  // --- language identification --------------------------------------------

  /** Tiny closed-class stopword profiles; the heuristic scores each
    * language by the fraction of tokens found in its profile and takes the
    * argmax (ties break lexicographically by language code via the struct
    * ordering, so the result is deterministic).
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "von", "zu", "den"),
    "en" -> Seq("the", "of", "and", "to", "a", "in", "is", "it", "that", "was", "for", "on"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "una", "es", "no", "por", "con"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un", "une", "est", "en", "que", "pour"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我", "他", "这", "个", "们"))

  /** Predicted language code + its score. */
  def langId(text: Column): Column = {
    val t = tokens(lower(text))
    val scored = langProfiles.map { case (code, words) =>
      val hits = size(filter(t, x => array_contains(lit(words.toArray), x)))
      struct(
        (hits.cast("double") / greatest(size(t), lit(1))).as("score"),
        lit(code).as("lang"))
    }
    // array_max on struct: max by score, then lang code — deterministic.
    array_max(array(scored: _*))
  }
}
