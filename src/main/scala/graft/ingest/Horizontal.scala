package graft.ingest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.functions.Sanitize

/** Horizontal (standard) CSV parsing with a detected dialect, with the
  * reference's row/field sanitization (csv_handler.py:100-143): header
  * names trimmed, empty header names dropped, every cell trimmed +
  * formula-escape sanitized, null cells -> "".
  *
  * Parses with [[StrictCsv]] (CPython csv.reader parity) on the driver and
  * sanitizes each cell there with [[Sanitize.sanitizeCellScala]] while it
  * builds the rows, as [[Transposer]] does, so the records are a local
  * relation with no Spark projection of their own.
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
    val rows = StrictCsv.parse(content, dialect.delimiter, dialect.quote, strict = false)
      .filter(_.nonEmpty) // DictReader skips blank rows
    if (rows.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[Row](), StructType(Nil))
    // dedupe on the TRIMMED name: first-seen order, last occurrence's
    // position supplies the value; an empty name is dropped
    val names = rows.head.map(_.trim)
    val lastPos = names.zipWithIndex.groupBy(_._1)
      .map { case (n, occ) => n -> occ.last._2 }
    val cols = names.distinct.filter(_.nonEmpty).map(n => (n, lastPos(n)))
    // a sanitized cell is never null: a short row's missing cell is ""
    val st = StructType(cols.map { case (n, _) => StructField(n, StringType, nullable = false) })
    val data: java.util.List[Row] = rows.tail.map { r =>
      Row.fromSeq(cols.map { case (_, i) =>
        Sanitize.sanitizeCellScala(if (i < r.length) r(i) else null)
      })
    }.asJava
    spark.createDataFrame(data, st)
  }
}
