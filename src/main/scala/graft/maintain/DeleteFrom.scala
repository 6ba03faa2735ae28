package graft.maintain

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.lake.{DataFile, IntervalDnf, LakeTable, Snapshot}

/** Row-level DELETE FROM: remove every row matching a predicate, rewriting
  * ONLY the data files that actually CONTAIN matching rows — the
  * reference's explicit delete (`files.py:68-76`, file-granular) lifted to
  * predicate semantics over the lakehouse, completing the DML surface
  * beside MERGE and the dedup pass.
  *
  * Scale shape: the data read and written is O(matching files):
  *   1. the predicate itself is analyzed into an interval DNF over
  *      (conv_id, turn_idx, ts) — [[IntervalDnf]] — and candidate files
  *      come from the SAME two-level metadata prune as scans: planning
  *      never opens a manifest whose persisted range misses every box. A
  *      row-retention predicate (`ts < timestamp_millis(...)`) prunes on
  *      the per-file event-time stats, so a daily tick plans only the
  *      files old enough to hold expired rows.
  *   2. ONE planning pass over the candidates counts matching rows PER
  *      FILE ([[countMatches]]); files with ZERO matches leave the plan
  *      entirely — they are never read again, never rewritten, their
  *      names never churn (and their sketch coverage survives).
  *   3. [[Ledger.rewrite]] rewrites the files with matches, keeping the
  *      `NOT predicate` survivors, checked against the planned counts, and
  *      commits removing only those files. Its commit step reads every
  *      manifest once ([[LakeTable.currentEntries]]), so the metadata work
  *      is O(manifests), not O(matching files).
  *
  * The predicate is SQL text (the natural `DELETE FROM t WHERE <pred>`
  * surface), persisted verbatim in the job plan AND the counts sidecar so
  * a resumed job provably re-applies the same condition; a resume with a
  * DIFFERENT predicate fails loudly, and so does one whose counts sidecar
  * is missing.
  */
object DeleteFrom {

  final case class Result(snapshot: Snapshot, deletedRows: Long,
                          touchedFiles: Int, carriedFiles: Long,
                          resumedGroups: Int,
                          candidateFiles: Long = 0L, totalFiles: Long = 0L,
                          prunedCandidateFiles: Long = 0L)

  def run(table: LakeTable, jobId: String,
          predicateSql: String,
          targetFileRows: Long = 1L << 20,
          groupTargetBytes: Long = 256L << 20,
          interruptAfter: Int = Int.MaxValue): Result = {
    val predSql = predicateSql.trim
    require(predSql.nonEmpty, "DELETE FROM needs a predicate")

    val snap0 = table.currentSnapshot.getOrElse(
      throw new IllegalStateException(s"no table at ${table.root}"))
    if (table.currentFiles.isEmpty)
      return Result(snap0, 0L, 0, 0L, 0)

    def fileCount(s: Snapshot): Long = s.manifests.map(_.entryCount).sum
    val totalFiles = fileCount(snap0)

    Ledger.rewrite(table, jobId, "delete", "delete:" + predSql, VictimsFile,
        targetFileRows, interruptAfter) {
      val (perFile, candidates) = countMatches(table, snap0, predSql)((rows, _, _) => rows)
      // the stats-prune candidates (files the count had to SCAN) are
      // recorded too: candidateFiles (files that CONTAIN victims) alone
      // would overstate prune effectiveness and hide the clean-file scans
      Ledger.Counted(perFile, "predicate" -> predSql, "pruned_candidates" -> candidates)
    }(Ledger.keyLayout(_, groupTargetBytes)) { (paths, _) =>
      table.readData(paths.map(table.absData)).where(!matching(predSql))
    } match {
      // committed earlier, or the predicate matched nothing (then nothing
      // is committed: zero file churn) — either way every file carries
      case Left(s) => Result(s, 0L, 0, fileCount(s), 0, totalFiles = fileCount(s))
      // removed = ONLY the files with victims — everything else (files AND
      // manifests) carries forward untouched, names unchanged
      case Right(r) =>
        Result(r.snapshot, r.droppedRows, r.touchedFiles, totalFiles - r.touchedFiles,
          r.resumedGroups, candidateFiles = r.touchedFiles, totalFiles = totalFiles,
          prunedCandidateFiles = r.sidecar.get("pruned_candidates").asLong)
    }
  }

  /** Rows `predSql` is TRUE on (SQL DELETE removes only those: a null
    * result survives).
    */
  private[maintain] def matching(predSql: String): Column =
    coalesce(expr(predSql).cast("boolean"), lit(false))

  /** ONE pass counting the rows that match `predSql` per data file of
    * `snap`. It reads only the candidates of the predicate's interval-DNF
    * prune boxes, and only the predicate's and the key's columns, in one
    * partition when they fit one task ([[LakeTable.fitsOneTask]]), so the
    * count is one job with no Exchange. `counted` takes the matching rows
    * (conv_id, turn_idx, __src), the candidate paths and whether they fit
    * one task, and gives the rows that count. Returns the counts (one per
    * file with any) and the number of candidate files.
    */
  private[maintain] def countMatches(table: LakeTable, snap: Snapshot, predSql: String)(
      counted: (DataFrame, Vector[String], Boolean) => DataFrame): (Map[DataFile, Long], Long) = {
    val boxes = IntervalDnf.extract(
      IntervalDnf.analyzedCondition(table.spark, table.schema.toStruct, predSql))
    val candidates = table.overlappingEntriesBoxes(snap, boxes).entries.map(_.file)
    val byPath = candidates.map(f => f.path -> f).toMap
    val paths = candidates.map(_.path)
    val bytes = candidates.map(_.bytes).sum
    val perFile =
      if (candidates.isEmpty) Map.empty[DataFile, Long]
      else counted(table.oneTaskIfFits(table.readData(paths.map(table.absData))
          .where(matching(predSql)).select(col("conv_id"), col("turn_idx"), LakeTable.sourceFile),
          bytes), paths, table.fitsOneTask(bytes))
        .groupBy("__src").count().collect().map(r => byPath(r.getString(0)) -> r.getLong(1)).toMap
    (perFile, candidates.size.toLong)
  }

  /** The per-file victim counts sidecar, beside the ledger plan. */
  private val VictimsFile = "delete-victims.json"
}
