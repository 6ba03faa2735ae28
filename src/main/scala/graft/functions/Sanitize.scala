package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cell sanitization against CSV/formula injection.
  *
  * Semantics carried from the reference's `sanitize_cell_value`
  * (backend/app/utils/sanitize.py:6-30): trim surrounding whitespace; if the
  * trimmed value starts with one of `=`, `+`, `-`, `@`, prefix a single quote
  * `'`; null/empty collapse to `""`. Implemented as a pure `Column`
  * expression so it stays inside whole-stage codegen (no UDF).
  */
object Sanitize {
  val DangerousPrefixes: Seq[String] = Seq("=", "+", "-", "@")

  /** Python str.strip() parity: Spark's `trim` strips only spaces, but the
    * reference strips all whitespace (tabs included, test_sanitize.py:51-63).
    */
  def stripWs(c: Column): Column =
    regexp_replace(c, "^\\s+|\\s+$", "")

  private val EdgeWs = java.util.regex.Pattern.compile("^\\s+|\\s+$")

  /** Driver-side scalar twin of [[stripWs]] — the SAME Java regex Spark's
    * regexp_replace applies (compiled once, not per cell), so cells
    * sanitized on the driver match the Column path exactly.
    */
  def stripWsScala(s: String): String =
    if (s == null) "" else EdgeWs.matcher(s).replaceAll("")

  /** Escape one string cell. Null-safe: null -> "". */
  def sanitizeCell(c: Column): Column = {
    val t = stripWs(coalesce(c, lit("")))
    when(substring(t, 1, 1).isin(DangerousPrefixes: _*), concat(lit("'"), t))
      .otherwise(t)
  }

  /** Driver-side scalar twin of [[sanitizeCell]], for ingest paths that
    * sanitize before the data ever becomes a DataFrame (mirrors the
    * reference applying sanitize during parse, csv_handler.py:107). It
    * strips with [[stripWsScala]], not `String.trim`, whose set of
    * whitespace (every char <= U+0020) is not the regex's.
    */
  def sanitizeCellScala(v: String): String = {
    val t = stripWsScala(v)
    if (t.nonEmpty && DangerousPrefixes.contains(t.substring(0, 1))) "'" + t
    else t
  }
}
