package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.TableSchema

/** Name -> field-ID schema alignment: heterogeneous drops are normalized to
  * the table schema by TRIMMED column name; unknown columns evolve the
  * schema append-only (fresh field-IDs); absent fields read as null.
  * This is the reference's schema-evolution rule
  * (docs/processing-engine.md:147-154) lifted onto field-ID metadata so
  * column order and padding differences between drops can't corrupt data.
  */
object Normalize {

  /** Align an all-string drop DataFrame to `schema`, evolving it with any
    * new columns (as STRING). Returns the aligned frame (in field-ID order,
    * cast to canonical types) and the possibly-evolved schema.
    */
  def alignToSchema(df: DataFrame, schema: TableSchema,
                    passthrough: Seq[String] = Nil): (DataFrame, TableSchema) = {
    // Columns whose names collide AFTER trimming ("note" vs "note ") must
    // not reach evolve/select as duplicates (ambiguous references, duplicate
    // field-IDs). DictReader-parity dedupe: first-seen order, the LAST
    // occurrence supplies the values. Positional temp names make the select
    // unambiguous even for raw duplicate headers.
    val rawNames = df.columns
    val tmp = df.toDF(rawNames.indices.map(i => s"__c$i"): _*)
    val trimmedNames = rawNames.map(_.trim)
    val order = trimmedNames.distinct.toIndexedSeq
    val lastPos = trimmedNames.zipWithIndex.groupBy(_._1)
      .map { case (n, occ) => n -> occ.last._2 }
    val trimmed = tmp.select(order.map(n => col(s"__c${lastPos(n)}").as(n)): _*)
    val ctl = passthrough.toSet
    val incoming = trimmed.schema.fields
      .filterNot(f => ctl(f.name))
      .map(f => f.name -> f.dataType).toSeq
    val evolved = schema.evolve(incoming)
    val present = trimmed.columns.toSet
    val cols = evolved.fields.map { f =>
      if (present(f.name)) castTo(col(s"`${f.name}`"), f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    } ++ passthrough.filter(present).map(c => col(s"`$c`"))
    (trimmed.select(cols: _*), evolved)
  }

  /** Lenient cast: "" -> null for non-string targets, unparseable -> null
    * (try_cast) instead of an ANSI error — bad cells route to the rejected
    * stream rather than failing the job (reference: status="error" path,
    * file_service.py:65-81).
    */
  def castTo(c: Column, dt: DataType): Column = dt match {
    case StringType => c.cast(StringType)
    case _ =>
      val cleaned = when(c.cast(StringType) === "", lit(null)).otherwise(c)
      cleaned.try_cast(dt)
  }

  /** Split a normalized transcript frame into (valid, rejected): the merge
    * key (conv_id, turn_idx) is mandatory — rows that lost it to cast
    * failure or emptiness quarantine instead of corrupting the table.
    */
  def routeInvalid(df: DataFrame): (DataFrame, DataFrame) = {
    val ok = col("conv_id").isNotNull && col("conv_id") =!= "" && col("turn_idx").isNotNull
    (df.where(ok), df.where(!coalesce(ok, lit(false))))
  }

  /** [[routeInvalid]]'s rule for a row already collected to the driver. */
  def hasValidKey(r: InternalRow, convIdx: Int, turnIdx: Int): Boolean =
    !r.isNullAt(convIdx) && r.getUTF8String(convIdx).numBytes > 0 && !r.isNullAt(turnIdx)
}
