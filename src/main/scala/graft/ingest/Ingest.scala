package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.FileIO

/** Adaptive ingest pipeline: Detect -> Decide -> Parse -> Sanitize
  * (reference: docs/processing-engine.md:20; csv_handler.py:114-148).
  * Detection and layout classification are O(1) driver-side sample work;
  * parsing/sanitization run as Spark plans.
  */
object Ingest {

  val MaxFileSizeBytes: Long = 50L * 1024 * 1024 // reference config.py:30

  final case class DropResult(
      records: DataFrame,
      fields: Seq[String],
      dialect: Dialect,
      vertical: Boolean)

  /** Pre-flight validation mirroring validators.py:10-29 + the 50 MB cap:
    * extension, then content type (when the transport supplies one —
    * `text/csv*` or `application/vnd.ms-excel`, case-insensitive, exactly
    * the reference's accept set), then size.
    */
  def validateDropFile(path: String,
                       contentType: Option[String] = None): Either[String, Unit] = {
    val ctOk = contentType.map(_.toLowerCase).forall(ct =>
      ct.startsWith("text/csv") || ct == "application/vnd.ms-excel")
    if (!path.toLowerCase.endsWith(".csv")) Left(s"invalid extension: $path")
    else if (!ctOk) Left(s"invalid CSV content type: ${contentType.getOrElse("")}")
    else FileIO.Local.stat(path) match {
      case None => Left(s"missing file: $path")
      case Some(st) if st.size > MaxFileSizeBytes => Left(s"file exceeds 50MB cap: $path")
      case _ => Right(())
    }
  }

  /** UTF-8 (BOM-tolerant, like utf-8-sig; malformed bytes replaced)
    * decode of a whole drop file.
    */
  def readContent(path: String): String = {
    val s = FileIO.Local.read(path).getOrElse(FileIO.missing(path))
    if (s.nonEmpty && s.charAt(0) == '﻿') s.substring(1) else s
  }

  /** Full adaptive parse of one drop's content (csv_handler.py:114-148):
    * empty guard -> dialect detect -> layout classify -> vertical pivot or
    * horizontal read -> id-grouping.
    */
  def parseContent(spark: SparkSession, content: String,
                   idField: Option[String] = None): DropResult = {
    if (content == null || content.isEmpty) {
      val empty = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Nil))
      return DropResult(empty, Nil, Dialect.Excel, vertical = false)
    }
    val dialect =
      try DialectDetector.detect(content)
      catch { case _: Exception => Dialect.Excel } // csv_handler.py:20-29

    if (Layout.isVerticalLayout(content, dialect)) {
      val (df, fields) = Transposer.parseVerticalCsv(spark, content, dialect)
      DropResult(grouped(df, idField), fields, dialect, vertical = true)
    } else {
      val df = Horizontal.parseContent(spark, content, dialect)
      DropResult(grouped(df, idField), df.columns.toSeq, dialect, vertical = false)
    }
  }

  /** Parse a drop file: detection from the head sample, then content parse.
    * Drops are bounded (50 MB cap), so whole-content handling per drop is
    * the reference's own contract; scale comes from parallelism ACROSS
    * drops, not within one.
    */
  def parseDropFile(spark: SparkSession, path: String,
                    idField: Option[String] = None): DropResult =
    parseContent(spark, readContent(path), idField)

  /** Sanitized-CSV sink (reference W1: `_build_sanitized_csv`,
    * file_service.py:16-21) — header row, evolved field order, missing
    * values as empty strings.
    */
  def writeSanitizedCsv(df: DataFrame, path: String): Unit =
    df.na.fill("").write.mode("overwrite").option("header", "true").csv(path)

  private def grouped(df: DataFrame, idField: Option[String]): DataFrame =
    idField.map(_.trim).filter(_.nonEmpty) match {
      case None => df
      case Some(_) =>
        // Records of one drop fit comfortably in one partition (<=50MB):
        // pin a deterministic record order for the non-empty-wins merge.
        val ordered = df.coalesce(1).withColumn("__ord", monotonically_increasing_id())
        Grouping.groupRecordsById(ordered, idField, "__ord")
    }
}
