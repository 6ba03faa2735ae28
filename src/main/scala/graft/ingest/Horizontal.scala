package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Sanitize

/** Horizontal (standard) CSV parsing with a detected dialect, followed by
  * the reference's row/field sanitization (csv_handler.py:100-143):
  * header names trimmed, empty header names dropped, every cell trimmed +
  * formula-escape sanitized, null cells -> "".
  *
  * Parses with [[StrictCsv]] (CPython csv.reader parity) on the driver;
  * the sanitize projection runs in Spark over the parsed rows.
  */
object Horizontal {

  /** Parse an in-memory content string (single drop) with [[StrictCsv]] —
    * CPython csv.reader parity, so quoted fields containing embedded
    * newlines stay ONE field (a per-line split would shear them into bogus
    * records). Header = first row; data rows pad/truncate to the header
    * width like DictReader with restkey dropped / restval null. Duplicate
    * header names follow DictReader's dict(zip(fieldnames, row)) semantics:
    * column order = first occurrence, value = LAST occurrence's cell.
    */
  def parseContent(spark: SparkSession, content: String, dialect: Dialect): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    val rows = StrictCsv.parse(content, dialect.delimiter, dialect.quote, strict = false)
      .filter(_.nonEmpty) // DictReader skips blank rows
    if (rows.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[Row](), StructType(Nil))
    val header = rows.head
    // dedupe on the TRIMMED name (sanitizeColumns trims later): first-seen
    // order, last occurrence's position supplies the value
    val order = header.map(_.trim).distinct
    val lastPos = header.zipWithIndex.groupBy(_._1.trim)
      .map { case (n, occ) => n -> occ.last._2 }
    val cols = order.map(n => (n, lastPos(n)))
    val st = StructType(cols.map { case (n, _) => StructField(n, StringType) })
    val data: java.util.List[Row] = rows.tail.map { r =>
      Row.fromSeq(cols.map { case (_, i) => if (i < r.length) r(i) else null })
    }.asJava
    sanitizeColumns(spark.createDataFrame(data, st))
  }

  /** Trim header names, drop empty-named columns, sanitize every cell. */
  def sanitizeColumns(df: DataFrame): DataFrame = {
    val keep = df.columns.filter(_.trim.nonEmpty)
    val cols = keep.map(c => Sanitize.sanitizeCell(col(s"`$c`")).as(c.trim))
    val projected = df.select(cols.toIndexedSeq: _*)
    // Reference `_sanitize_row` drops rows whose sanitized dict is empty —
    // with a fixed header that is only the no-columns case, handled above.
    projected
  }
}
