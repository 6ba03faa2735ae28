package graft.maintain

import org.apache.spark.sql.functions._

import graft.lake.{DataFile, IntervalDnf, LakeTable, Snapshot}

/** Row-level DELETE FROM: remove every row matching a predicate, rewriting
  * ONLY the data files that actually CONTAIN matching rows — the
  * reference's explicit delete (`files.py:68-76`, file-granular) lifted to
  * predicate semantics over the lakehouse, completing the DML surface
  * beside MERGE and the dedup pass.
  *
  * Scale shape, O(matching files) end to end:
  *   1. the predicate itself is analyzed into an interval DNF over
  *      (conv_id, turn_idx, ts) — [[IntervalDnf]] — and candidate files
  *      come from the SAME two-level metadata prune as scans: manifests
  *      whose persisted range misses every box are never OPENED. A
  *      row-retention predicate (`ts < timestamp_millis(...)`) prunes on
  *      the per-file event-time stats, so a daily tick plans only the
  *      files old enough to hold expired rows.
  *   2. ONE planning pass over the candidates counts matching rows PER
  *      FILE (reads only the predicate's columns; candidates that fit one
  *      task, [[LakeTable.fitsOneTask]], are coalesced into one, so the
  *      count is one job with no Exchange); files with ZERO matches
  *      leave the plan entirely — they are never read again, never
  *      rewritten, their names never churn (and their sketch coverage
  *      survives). The per-file counts persist beside the ledger plan, so
  *      a resume reuses them.
  *   3. each ledger-checkpointed task group reads its files ONCE, keeps
  *      `NOT predicate` survivors and writes them sorted on the key
  *      ([[LakeTable.writeSorted]]: one task with no Exchange for a group
  *      of at most one scan split and 16 MB, a range-repartition
  *      otherwise), so per-file
  *      stats stay tight and pruning survives the rewrite — no second
  *      counting scan; the expected survivor count is already known and
  *      cross-checked against the written files' stats. An all-deleted
  *      group writes nothing.
  *   4. the commit is a plain [[LakeTable.commitDelta]] removing only the
  *      files with victims: snapshot isolation, conflict detection and
  *      time travel apply as to every other operation.
  *
  * The predicate is SQL text (the natural `DELETE FROM t WHERE <pred>`
  * surface), persisted verbatim in the job plan AND the counts sidecar so
  * a resumed job provably re-applies the same condition; a resume with a
  * DIFFERENT predicate or range fails loudly. Optional `convRange`/
  * `turnRange` hints are VALIDATED against the predicate's own boxes — a
  * hint narrower than what the predicate can match would silently leave
  * matching rows alive, so it is rejected instead of trusted.
  */
object DeleteFrom {

  final case class Result(snapshot: Snapshot, deletedRows: Long,
                          touchedFiles: Int, carriedFiles: Long,
                          resumedGroups: Int,
                          candidateFiles: Long = 0L, totalFiles: Long = 0L,
                          prunedCandidateFiles: Long = 0L)

  def run(table: LakeTable, jobId: String,
          predicateSql: String,
          convRange: Option[(String, String)] = None,
          turnRange: Option[(Int, Int)] = None,
          targetFileRows: Long = 1L << 20,
          groupTargetBytes: Long = 256L << 20,
          interruptAfter: Int = Int.MaxValue): Result = {
    val spark = table.spark
    val predSql = predicateSql.trim
    require(predSql.nonEmpty, "DELETE FROM needs a predicate")
    val planKind = "delete:" + predSql +
      convRange.map(r => s"|conv:${r._1}..${r._2}").getOrElse("") +
      turnRange.map(r => s"|turn:${r._1}..${r._2}").getOrElse("")

    val snap0 = table.currentSnapshot.getOrElse(
      throw new IllegalStateException(s"no table at ${table.root}"))
    if (table.currentFiles.isEmpty)
      return Result(snap0, 0L, 0, 0L, 0)

    val pred = expr(predSql)
    def fileCount(s: Snapshot): Long = s.manifests.map(_.entryCount).sum
    val totalFiles = fileCount(snap0)

    // ---- plan: predicate-derived pruning + per-file victim counts -------
    val plan = Ledger.planOrResume(table, jobId, "delete", planKind) {
      // The prune boxes come from the PREDICATE — hints are validated,
      // never trusted: a hint that cannot contain every derived box means
      // the predicate may match outside it (a partial DELETE that would
      // look successful), so fail loudly instead.
      val boxes = IntervalDnf.extract(
        IntervalDnf.analyzedCondition(spark, table.schema.toStruct, predSql))
      convRange.foreach { case (lo, hi) =>
        require(boxes.forall(_.conv.within(lo, hi)(IntervalDnf.ConvOrder)),
          s"convRange hint [$lo..$hi] is narrower than what the predicate " +
            s"'$predSql' can match — a hinted DELETE must never silently " +
            "skip matching rows; drop the hint or widen it")
      }
      turnRange.foreach { case (lo, hi) =>
        require(boxes.forall(_.turn.within(lo, hi)),
          s"turnRange hint [$lo..$hi] is narrower than what the predicate " +
            s"'$predSql' can match; drop the hint or widen it")
      }
      val pruned = table.overlappingEntriesBoxes(snap0, boxes)
      // ONE pass over the candidates: matching rows per file, in one task
      // when they fit one. Catalyst prunes the read to the predicate's
      // columns; the result is metadata-sized (one row per file WITH
      // victims).
      val candidates = pruned.entries.map(_.file)
      def scan = table.readData(candidates.map(f => table.absData(f.path)))
      val perFile: Map[String, Long] =
        if (candidates.isEmpty) Map.empty
        else (if (table.fitsOneTask(candidates.map(_.bytes).sum)) scan.coalesce(1) else scan)
          .where(coalesce(pred.cast("boolean"), lit(false)))
          .groupBy(concat(lit("data/"),
            element_at(split(input_file_name(), "/"), -1)).as("__src"))
          .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // counts sidecar FIRST, plan second: a plan on disk implies its
      // counts exist, so resume never trusts a half-planned job
      // the stats-prune candidate set (files the counting pass had to
      // SCAN) is recorded beside the matching-file counts: candidateFiles
      // alone (files that CONTAIN victims) would overstate prune
      // effectiveness and hide the clean-file scan cost
      Ledger.writeCounts(table, jobId, VictimsFile, perFile, "predicate" -> predSql,
        "pruned_candidates" -> candidates.size.toLong)
      val byPath = candidates.map(f => f.path -> f).toMap
      val withVictims = perFile.keys.toVector.sorted.map(byPath(_))
      val groups = Clustering.greedyGroups(
        withVictims.sortBy(f => (f.minConv.getOrElse(""), f.minTurn.getOrElse(0))),
        groupTargetBytes).filter(_.nonEmpty)
      Ledger.Plan(snap0.id, groups.map(_.map(_.path)))
    } match {
      // committed earlier, or the predicate matched nothing (then nothing
      // is committed: zero file churn) — either way every file carries
      case Left(s) =>
        return Result(s, 0L, 0, fileCount(s), 0, totalFiles = fileCount(s))
      case Right(p) => p
    }
    val (counts, sidecar) = Ledger.readCounts(table, jobId, VictimsFile)
    // removed = ONLY the files with victims — everything else (files AND
    // manifests) carries forward untouched, names unchanged
    val touched = plan.groups.map(_.size).sum

    val (snap, tasks) = Ledger.runJob(table, jobId, "delete", plan,
      parallelism = Ledger.shuffleParallelism(table), interruptAfter) { (in, gi) =>
      val paths = in.map(_.path)
      val nSurv = in.map(_.rows).sum - paths.map(counts.getOrElse(_, 0L)).sum
      // survivors = NOT matching; null predicate results survive too (SQL
      // DELETE: only rows where the condition is TRUE are deleted). Single
      // scan — no separate count.
      val out =
        if (nSurv == 0L) Vector.empty[DataFile]
        else table.writeSorted(
          table.readData(paths.map(table.absData))
            .where(!coalesce(pred.cast("boolean"), lit(false))),
          s"$jobId-g$gi", in.map(_.bytes).sum, nSurv, targetFileRows,
          Seq(col("conv_id"), col("turn_idx")))
      val written = out.map(_.rows).sum
      require(written == nSurv,
        s"DELETE group $gi wrote $written survivors but the plan " +
          s"counted $nSurv — non-deterministic predicate? refusing to commit")
      out
    } { tasks =>
      Map("predicate" -> predSql,
        "deleted_rows" -> deleted(tasks).toString,
        "touched_files" -> touched.toString)
    }
    Result(snap, deleted(tasks), touched, totalFiles - touched, tasks.count(_._2),
      candidateFiles = counts.size.toLong, totalFiles = totalFiles,
      prunedCandidateFiles = Option(sidecar.get("pruned_candidates"))
        .map(_.asLong).getOrElse(counts.size.toLong))
  }

  /** Rows a job deleted: what its groups read minus what they wrote —
    * resumed groups count exactly like executed ones.
    */
  private def deleted(tasks: Vector[(Ledger.TaskRow, Boolean)]): Long =
    tasks.map { case (t, _) => t.rows - t.outFiles.map(_.rows).sum }.sum

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
