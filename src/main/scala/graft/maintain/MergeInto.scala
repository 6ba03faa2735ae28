package graft.maintain

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.sql.types.{StringType, StructType}

import graft.functions.Cached
import graft.ingest.Normalize
import graft.lake.{FieldDef, KeyRange, LakeTable, Snapshot, TableSchema}

/** MERGE INTO keyed on (conv_id, turn_idx) with the reference's
  * non-empty-wins update semantics (`_group_records_by_id`,
  * csv_handler.py:66-97): a staged drop's value overwrites the target only
  * when non-empty; empty/"" never clobbers existing data; unmatched staged
  * keys insert.
  *
  * Physical plan. Two of Spark's own bounds choose it, so no option is
  * added:
  *   - a drop whose aligned plan is estimated at most
  *     `spark.sql.autoBroadcastJoinThreshold` bytes (the size Spark would
  *     collect to the driver for a broadcast anyway) is collected ONCE and
  *     rebuilt as a local relation; its duplicate keys are resolved, and
  *     its key count, `conv_id` range and rejected rows come, from those
  *     rows on the driver, with no Spark action. A parsed drop, horizontal
  *     or vertical, folds into a `LocalRelation`, so that collect runs no
  *     job either;
  *   - if, in addition, the rewrite set runs as one task
  *     ([[LakeTable.fitsOneTask]]: one scan split, at most 16 MB), both join sides
  *     are coalesced to one partition: dedup, full-outer join, merge
  *     projection and sort plan with no Exchange, and the writer's
  *     `maxRecordsPerFile` splits the sorted output into key-tight files.
  *     Such a merge is one Spark job, the write;
  *   - any other drop is cached for the merge (`Cached.withCached`), its counts
  *     and key range come from one aggregate, and the join and output
  *     shuffle: a full-outer sort-merge join on the key, then a
  *     range-repartition + sort on the key (full outer cannot broadcast).
  *     A broadcast threshold of -1 sends every merge here.
  * The output is written by [[LakeTable.writeSorted]], which makes the same
  * one-task-or-range-repartition choice for every group rewrite.
  * Shared by both: the staged key range drives a TWO-LEVEL metadata
  * pre-filter (only manifests whose persisted conv range overlaps it are
  * OPENED, and within them only overlapping files are rewritten), the
  * per-column coalesce(nullif(staged, ''), target) projection, and
  * commitDelta, which carries untouched files AND their manifests over
  * verbatim.
  */
object MergeInto {

  final case class Result(snapshot: Snapshot, touchedFiles: Int, carriedFiles: Int,
                          stagedRows: Long, rejectedRows: Long,
                          openedManifests: Int = 0, totalManifests: Int = 0)

  /** A deduplicated drop and what pruning needs to know about it. */
  private final case class Staged(dedup: DataFrame, rows: Long,
                                  convRange: Option[(String, String)], rejected: Long,
                                  local: Boolean)

  /** `staged`: an all-string (or already-typed) drop frame; columns are
    * aligned by trimmed name, schema evolves append-only. If `staged` has a
    * `_seq` column it orders duplicate-key resolution within the batch
    * (last non-empty wins), mirroring drop-file line order; without one, a
    * partition-major row id stands in (read order for file-backed frames).
    */
  def merge(table: LakeTable, staged: DataFrame, tag: String,
            targetFileRows: Long = 1L << 20): Result = {
    val spark = table.spark
    // `_seq` is a control column (duplicate-key ordering within the batch),
    // never table data — pass it through alignment without schema evolution.
    val withSeq =
      if (staged.columns.contains("_seq")) staged
      else staged.withColumn("_seq", monotonically_increasing_id())
    val (aligned, evolvedSchema) = Normalize.alignToSchema(
      withSeq, table.schema, passthrough = Seq("_seq"))
    val dataFields = evolvedSchema.fields.filterNot(f =>
      f.name == "conv_id" || f.name == "turn_idx").toSeq
    def run(st: Staged) = rewrite(table, st, evolvedSchema, dataFields, tag, targetFileRows)

    if (Bridge.sizeInBytes(aligned) <= spark.sessionState.conf.autoBroadcastJoinThreshold) {
      val st = aligned.schema
      val (ci, ti) = (st.fieldIndex("conv_id"), st.fieldIndex("turn_idx"))
      val (valid, rejected) =
        Bridge.internalRows(aligned).partition(Normalize.hasValidKey(_, ci, ti))
      val dedup = dedupRows(valid, st, dataFields)
      val convs = dedup.map(_.getUTF8String(0).toString)
      val range =
        if (convs.isEmpty) None
        else Some((convs.min(KeyRange.ConvOrder), convs.max(KeyRange.ConvOrder)))
      // every column nullable: one schema, whatever columns the drop
      // carries, keeps every drop on one plan (one set of generated classes)
      val keyed = StructType(Seq(st(ci), st(ti)) ++ dataFields.map(f => st(f.name)))
      run(Staged(Bridge.localRelation(spark, keyed, dedup).coalesce(1),
        dedup.size.toLong, range, rejected.size.toLong, local = true))
    } else Cached.withCached(aligned) { cached =>
      val (valid, rejected) = Normalize.routeInvalid(cached)
      Cached.withCached(dedupOf(valid, dataFields)) { dedup =>
        // ONE action computes count + key range (materializing the cache);
        // rejectedRows then reads the cached aligned frame.
        val aggRow = dedup.agg(count(lit(1)), min("conv_id"), max("conv_id")).head()
        val range = for (l <- Option(aggRow.getString(1)); h <- Option(aggRow.getString(2)))
          yield (l, h)
        run(Staged(dedup, aggRow.getLong(0), range, rejected.count(), local = false))
      }
    }
  }

  /** Resolve duplicate keys INSIDE the batch (reference: later records in
    * one file overwrite non-empty field-by-field), ordered by `_seq`.
    */
  private def dedupOf(valid: DataFrame, dataFields: Seq[FieldDef]): DataFrame = {
    val aggs = dataFields.map { f =>
      val w = if (f.dataType == StringType)
        graft.ingest.Grouping.lastNonEmptyWins(col(s"`${f.name}`"), col("_seq"))
      else graft.ingest.Grouping.lastNonNullWins(col(s"`${f.name}`"), col("_seq"))
      w.as(f.name)
    }
    if (aggs.isEmpty) valid.select("conv_id", "turn_idx").distinct()
    else valid.groupBy(col("conv_id"), col("turn_idx")).agg(aggs.head, aggs.tail: _*)
  }

  /** [[dedupOf]] on the driver, for a drop collected there: one row per key,
    * (conv_id, turn_idx, dataFields...), each field the value of the last
    * row by `_seq` that has one (non-null, and for a string non-empty), else
    * the first row's. No Spark job, no generated code.
    */
  private def dedupRows(valid: Seq[InternalRow], st: StructType,
                        dataFields: Seq[FieldDef]): Seq[InternalRow] = {
    val Seq(ci, ti, si) = Seq("conv_id", "turn_idx", "_seq").map(st.fieldIndex)
    val cols = dataFields.map(f => (st.fieldIndex(f.name), f.dataType))
    def at(r: InternalRow, i: Int) = r.get(i, st(i).dataType)
    valid.groupBy(r => (at(r, ci), at(r, ti))).values.toSeq.map { g =>
      val bySeq = g.sortBy(at(_, si))(PhysicalDataType.ordering(st(si).dataType))
      val vals = cols.map { case (i, dt) =>
        bySeq.findLast(r => !r.isNullAt(i) && (dt != StringType || r.getUTF8String(i).numBytes > 0))
          .getOrElse(bySeq.head).get(i, dt)
      }
      new GenericInternalRow((at(g.head, ci) +: at(g.head, ti) +: vals).toArray)
    }
  }

  private def rewrite(table: LakeTable, st: Staged, evolvedSchema: TableSchema,
                      dataFields: Seq[FieldDef], tag: String,
                      targetFileRows: Long): Result = {
    val spark = table.spark
    // Two-level pre-filter, same rule as LakeTable.scan: manifests whose
    // PERSISTED aggregate conv range misses the staged range are never
    // OPENED — a 0.1%-range merge on a 10^6-file table parses the one
    // overlapping manifest JSON, not all thousand. Within overlapping
    // manifests, per-file stats select the rewrite set.
    val snap = table.currentSnapshot.getOrElse(
      throw new IllegalStateException(s"no snapshot to merge into at ${table.root}"))
    val pruned = st.convRange match {
      case Some(r) => table.overlappingEntries(snap, Some(r))
      case None => // empty staged batch: nothing to rewrite, open NO manifests
        LakeTable.PrunedEntries(Vector.empty,
          snap.manifests.map(_.entryCount).sum, snap.manifests.size.toLong, 0L)
    }
    val touched = pruned.entries
    def result(s: Snapshot) =
      Result(s, touched.size, (pruned.totalFiles - touched.size).toInt, st.rows, st.rejected,
        openedManifests = pruned.openedManifests.toInt,
        totalManifests = pruned.totalManifests.toInt)

    // No-op merge (empty or all-rejected drop, nothing to rewrite): commit
    // NOTHING. Writing an empty data file per no-op merge would litter one
    // manifest entry per maintenance cadence tick on sparse drop streams —
    // 60-minute cadence, quiet weekend => dozens of empty files for
    // maintenance to sweep. EXCEPT a schema-only drop: a zero-row batch that
    // still carries NEW columns must commit the widened schema (metadata
    // only, no data files) — silently dropping the evolution would lose the
    // one thing that batch said.
    if (st.rows == 0 && touched.isEmpty) {
      if (evolvedSchema == table.schema) return result(table.currentSnapshot.get)
      return result(table.commitDelta(Vector.empty, Vector.empty, "merge",
        Some(evolvedSchema), Map("merge_tag" -> tag, "schema_only" -> "true")))
    }

    // only a local drop can join in one partition: a larger one is never
    // one task, whatever the rewrite set weighs
    val inputBytes = if (st.local) touched.map(_.file.bytes).sum else Long.MaxValue
    val target = table.oneTaskIfFits(
      if (touched.isEmpty) spark.createDataFrame(List.empty[Row].asJava, evolvedSchema.toStruct)
      else table.readData(touched.map(e => table.absData(e.file.path))), inputBytes)

    val joined = target.as("t").join(st.dedup.as("s"),
      col("t.conv_id") === col("s.conv_id") && col("t.turn_idx") === col("s.turn_idx"),
      "full_outer")
    val targetCols = table.schema.fieldNames.toSet
    val mergedCols =
      coalesce(col("s.conv_id"), col("t.conv_id")).as("conv_id") +:
      coalesce(col("s.turn_idx"), col("t.turn_idx")).as("turn_idx") +:
      dataFields.map { f =>
        val sCol = col(s"s.`${f.name}`")
        val tCol = if (targetCols(f.name)) col(s"t.`${f.name}`")
                   else lit(null).cast(f.dataType)
        val merged = f.dataType match {
          case StringType => coalesce(when(sCol =!= "", sCol), tCol)
          case _ => coalesce(sCol, tCol)
        }
        merged.as(f.name)
      }
    val merged = joined.select(mergedCols: _*)
      .select(evolvedSchema.fieldNames.map(n => col(s"`$n`")): _*)

    // Size output files by rows (we know exact input rows cheaply) and keep
    // each file's conv range tight (prunable). The balanced Z-curve belongs
    // to Clustering.
    val totalRows = touched.map(_.file.rows).sum + st.rows
    val newEntries = table.writeSorted(merged, tag, inputBytes, totalRows, targetFileRows,
      Seq(col("conv_id"), col("turn_idx")))
    result(table.commitDelta(newEntries, touched, "merge", Some(evolvedSchema),
      Map("merge_tag" -> tag,
        "staged_rows" -> st.rows.toString,
        "rejected_rows" -> st.rejected.toString,
        "touched_files" -> touched.size.toString)))
  }
}
