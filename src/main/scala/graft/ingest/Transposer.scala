package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.Sanitize

/** Vertical key-value transposition (reference:
  * backend/app/services/transposer.py:17-66) re-expressed as window + pivot.
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
  * The sequential rule is a running `sum` over a per-file window ordered by
  * row number — the one genuinely order-dependent computation in the whole
  * ingest path. Each drop file is a single window partition (drops are
  * <= 50 MB by the reference's upload cap), so at scale parallelism comes
  * from MANY drops, not from splitting one drop.
  */
object Transposer {

  /** Shared key/value normalization over raw (file, line_no, k, v) rows. */
  private def kvColumns(raw: DataFrame): DataFrame = raw
    .withColumn("key", Sanitize.stripWs(coalesce(col("k"), lit(""))))
    .where(col("key") =!= "")
    .withColumn("val", Sanitize.sanitizeCell(col("v")))
    .select(col("file"), col("line_no").cast(LongType), col("key"), col("val"))

  /** One drop's content -> (file, line_no=csv row index, key, val). */
  def contentToKv(spark: SparkSession, file: String, content: String,
                  dialect: Dialect): DataFrame =
    kvFromRows(spark, file,
      StrictCsv.parse(content, dialect.delimiter, dialect.quote, strict = false))

  private def kvFromRows(spark: SparkSession, file: String,
                         rows: Vector[Vector[String]]): DataFrame = {
    import spark.implicits._
    val raw = rows.zipWithIndex.collect { case (r, i) if r.nonEmpty =>
      (file, i.toLong, r.head, if (r.length > 1) r(1) else null)
    }
    kvColumns(raw.toDF("file", "line_no", "k", "v"))
  }

  /** Distributed multi-file path: one wholetext row per drop file, each
    * parsed by StrictCsv in a typed flatMap — per-file row order stays
    * deterministic, quoted newlines stay intact, and parallelism comes from
    * the number of drops (each is <= 50 MB by contract).
    */
  def readFilesKv(spark: SparkSession, path: String, dialect: Dialect): DataFrame = {
    import spark.implicits._
    val (d, q) = (dialect.delimiter, dialect.quote)
    val raw = spark.read.option("wholetext", "true").text(path)
      .select(input_file_name().as("file"), col("value").as("content"))
      .as[(String, String)]
      .flatMap { case (f, c) =>
        StrictCsv.parse(c, d, q, strict = false)
          .zipWithIndex.collect { case (r, i) if r.nonEmpty =>
            (f, i.toLong, r.head, if (r.length > 1) r(1) else null)
          }
      }
    kvColumns(raw.toDF("file", "line_no", "k", "v"))
  }

  /** Transpose pre-parsed (file, line_no, key, val) rows. Returns one row
    * per (file, record) with pivoted key columns in first-seen order
    * (union across files; per-file missing keys -> null).
    *
    * `keyOrderHint`: the caller may supply the first-seen key order when it
    * already knows it (the single-drop path parses on the driver, so the
    * order is free), skipping the collect job the pivot otherwise needs.
    * When computed here, it aggregates over `parsed` directly — the
    * record-boundary windows only ADD columns, so running them inside the
    * key-order job would be wasted work.
    */
  def transposeKv(parsed: DataFrame,
                  keyOrderHint: Option[Seq[String]] = None): DataFrame = {
    val w = Window.partitionBy("file").orderBy("line_no")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withRec = parsed
      .withColumn("anchor", first(col("key")).over(w))
      .withColumn("rec_id",
        greatest(sum(when(col("key") === col("anchor"), 1).otherwise(0)).over(w) - 1, lit(0)))

    // First-seen key order (across the whole input) for output column order.
    val keyOrder = keyOrderHint.getOrElse(
      parsed.groupBy("key").agg(min("line_no").as("first_line"))
        .orderBy("first_line").select("key").collect().map(_.getString(0)).toSeq)

    val pivoted = withRec.groupBy(col("file"), col("rec_id"))
      .pivot("key", keyOrder)
      .agg(max_by(col("val"), col("line_no"))) // last value wins within record
      .orderBy("file", "rec_id")
    pivoted
  }

  /** Single-drop convenience mirroring `parse_vertical_csv(content, dialect)`:
    * returns (records DataFrame without bookkeeping cols, fields first-seen).
    * The content is parsed ONCE on the driver; the pivot's key order is the
    * first-seen order of normalized keys over those same rows (identical to
    * the groupBy(min(line_no)) order — line_no IS the row index), so no
    * Spark job is needed to discover it, and the transposition runs as one
    * task.
    */
  def parseVerticalCsv(spark: SparkSession, content: String, dialect: Dialect): (DataFrame, Seq[String]) = {
    val rows = StrictCsv.parse(content, dialect.delimiter, dialect.quote, strict = false)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    rows.foreach { r =>
      if (r.nonEmpty) {
        val k = Sanitize.stripWsScala(if (r.head == null) "" else r.head)
        if (k.nonEmpty) seen += k
      }
    }
    // One drop's rows sit in one partition, so the window, the pivot and
    // the ordering all plan without an Exchange.
    val out = transposeKv(kvFromRows(spark, "inline", rows).coalesce(1), Some(seen.toSeq))
    val fields = out.columns.filterNot(c => c == "file" || c == "rec_id").toSeq
    (out.drop("file", "rec_id"), fields)
  }
}
