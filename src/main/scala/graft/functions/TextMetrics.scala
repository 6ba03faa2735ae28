package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, language-ID heuristic, fingerprinting.
  * All pure `Column` compositions (codegen'd, no UDFs) so they vectorize
  * over 100 TB scans.
  */
object TextMetrics {

  /** Whitespace tokens of a text column; empty text -> empty array. */
  def tokens(text: Column): Column = {
    val t = trim(coalesce(text, lit("")))
    when(t === "", array().cast("array<string>")).otherwise(split(t, "\\s+"))
  }

  /** Token count (whitespace-separated). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Count of tokens that belong to `words` (case-insensitive). */
  def wordHits(text: Column, words: Seq[String]): Column = {
    val set = words.map(_.toLowerCase)
    size(filter(transform(tokens(text), t => lower(t)), t => t.isInCollection(set)))
  }

  /** Tiny per-language stopword tables for the language-ID heuristic.
    * Heuristic, not a model: argmax over stopword-hit counts, 'und' when no
    * hits. Deterministic tie-break = language list order.
    */
  val StopwordTables: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "que", "pour", "dans"),
    "de" -> Seq("der", "die", "das", "und", "ein", "eine", "zu", "mit", "ist", "nicht"),
    "es" -> Seq("el", "la", "los", "de", "y", "un", "una", "que", "por", "con"),
  )

  /** Language-ID by stopword voting: returns the language code with the most
    * stopword hits, or "und" when nothing matched.
    */
  def langId(text: Column): Column = {
    val scores = StopwordTables.map { case (lang, words) => lang -> wordHits(text, words) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = scores.foldLeft(lit("und")) { case (acc, (lang, s)) =>
      when(s === best && s > 0 && acc === "und", lit(lang)).otherwise(acc)
    }
    // foldLeft keeps the FIRST language reaching the max (deterministic).
    pick
  }

  /** Positional polynomial fingerprint of a document: sum over characters of
    * ascii(char_i) * ((i mod 31)+1). Order-sensitive (unlike a bag-of-chars
    * sum), exact 64-bit integer arithmetic, reproducible in ANSI SQL for the
    * DuckDB oracle. Single-pass `aggregate` — no explode, stays codegen'd.
    */
  def fingerprint(text: Column): Column = {
    val t = coalesce(text, lit(""))
    // greatest(..,1): sequence(1,0) would be DESCENDING [1,0] in Spark; an
    // empty string instead yields one term ascii("")=0, keeping result 0.
    aggregate(
      sequence(lit(1), greatest(length(t), lit(1))),
      lit(0L),
      (acc, i) => acc + ascii(t.substr(i, lit(1))).cast(LongType) * ((i % 31) + 1).cast(LongType)
    )
  }
}
