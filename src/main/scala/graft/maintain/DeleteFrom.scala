package graft.maintain

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
  *      FILE (reads only the predicate's columns; candidates that fit one
  *      task, [[LakeTable.fitsOneTask]], are coalesced into one, so the
  *      count is one job with no Exchange); files with ZERO matches
  *      leave the plan entirely — they are never read again, never
  *      rewritten, their names never churn (and their sketch coverage
  *      survives).
  *   3. [[Ledger.deleteRows]] rewrites the files with matches, keeping the
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

    // SQL DELETE removes only rows where the condition is TRUE: a null
    // result survives
    val matches = coalesce(expr(predSql).cast("boolean"), lit(false))
    def fileCount(s: Snapshot): Long = s.manifests.map(_.entryCount).sum
    val totalFiles = fileCount(snap0)

    Ledger.deleteRows(table, jobId, "delete", "delete:" + predSql, VictimsFile,
      targetFileRows, groupTargetBytes, interruptAfter) {
      // the prune boxes come from the predicate itself
      val boxes = IntervalDnf.extract(
        IntervalDnf.analyzedCondition(table.spark, table.schema.toStruct, predSql))
      // ONE pass over the candidates: matching rows per file, in one task
      // when they fit one. Catalyst prunes the read to the predicate's
      // columns; the result is metadata-sized (one row per file WITH
      // victims).
      val candidates = table.overlappingEntriesBoxes(snap0, boxes).entries.map(_.file)
      val byPath = candidates.map(f => f.path -> f).toMap
      val perFile =
        if (candidates.isEmpty) Map.empty[DataFile, Long]
        else table.oneTaskIfFits(table.readData(candidates.map(f => table.absData(f.path))),
            candidates.map(_.bytes).sum)
          .where(matches)
          .groupBy(LakeTable.sourceFile)
          .count().collect().map(r => byPath(r.getString(0)) -> r.getLong(1)).toMap
      // the stats-prune candidate set (files the counting pass had to
      // SCAN) is recorded beside the matching-file counts: candidateFiles
      // alone (files that CONTAIN victims) would overstate prune
      // effectiveness and hide the clean-file scan cost
      Ledger.Counted(perFile, "predicate" -> predSql,
        "pruned_candidates" -> candidates.size.toLong)
    } { (paths, _) =>
      table.readData(paths.map(table.absData)).where(!matches)
    } match {
      // committed earlier, or the predicate matched nothing (then nothing
      // is committed: zero file churn) — either way every file carries
      case Left(s) => Result(s, 0L, 0, fileCount(s), 0, totalFiles = fileCount(s))
      // removed = ONLY the files with victims — everything else (files AND
      // manifests) carries forward untouched, names unchanged
      case Right(d) =>
        Result(d.snapshot, d.rows, d.touchedFiles, totalFiles - d.touchedFiles,
          d.resumedGroups, candidateFiles = d.touchedFiles, totalFiles = totalFiles,
          prunedCandidateFiles = d.sidecar.get("pruned_candidates").asLong)
    }
  }

  /** The predicate a previously PLANNED (possibly crashed) invocation of
    * `jobId` pinned — so retry paths (e.g. a re-run maintenance cycle whose
    * default `nowMs` moved) can replay the exact original condition instead
    * of tripping the changed-predicate guard.
    */
  def plannedPredicate(table: LakeTable, jobId: String): Option[String] =
    Ledger.readJobFile(table, jobId, VictimsFile).map(_.get("predicate").asText)

  /** The per-file victim counts sidecar, beside the ledger plan. */
  private val VictimsFile = "delete-victims.json"
}
