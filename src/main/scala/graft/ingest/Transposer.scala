package graft.ingest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.functions.Sanitize

/** Vertical key-value transposition (reference:
  * backend/app/services/transposer.py:17-66).
  *
  * Reference semantics preserved:
  *   - rows come from a REAL CSV parse of the whole content ([[StrictCsv]],
  *     non-strict — CPython csv.reader parity), so quoted fields containing
  *     embedded newlines stay one field instead of being split into bogus
  *     records (they would be, were lines split before parsing);
  *   - skip empty rows and rows with empty/whitespace keys;
  *   - key is trimmed, value sanitized; missing value -> "";
  *   - record boundary: re-occurrence of the FIRST key of the file (each
  *     occurrence after the first starts a new record — in the reference's
  *     state machine the anchor is always present in `current_record` when
  *     seen again, transposer.py:44-46);
  *   - within a record, a repeated key overwrites (last wins,
  *     transposer.py:51);
  *   - field order = first-seen order (transposer.py:48-49).
  *
  * The rule is sequential, and a drop is bounded (<= 50 MB by the
  * reference's upload cap) and already parsed on the driver, so the
  * transposition is one pass over those rows there. Its records become a
  * local relation, as a horizontal drop's do ([[Horizontal.parseContent]]),
  * which a MERGE collects with no Spark job and no generated code of its
  * own. Scale comes from many drops, not from splitting one.
  */
object Transposer {

  /** Single drop, mirroring `parse_vertical_csv(content, dialect)`: returns
    * (records, fields in first-seen order). A field a record lacks is null.
    */
  def parseVerticalCsv(spark: SparkSession, content: String, dialect: Dialect): (DataFrame, Seq[String]) = {
    val kv = StrictCsv.parse(content, dialect.delimiter, dialect.quote, strict = false)
      .collect { case r if r.nonEmpty =>
        (Sanitize.stripWsScala(r.head), Sanitize.sanitizeCellScala(if (r.length > 1) r(1) else null))
      }
      .filter(_._1.nonEmpty)
    val fields = kv.map(_._1).distinct
    val slot = fields.zipWithIndex.toMap
    val records = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    kv.foreach { case (k, v) =>
      if (k == fields.head) records += new Array[String](fields.size)
      records.last(slot(k)) = v
    }
    val schema = StructType(fields.map(StructField(_, StringType)))
    (spark.createDataFrame(records.map(r => Row.fromSeq(r.toSeq)).asJava, schema), fields)
  }
}
