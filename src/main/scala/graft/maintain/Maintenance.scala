package graft.maintain

import scala.annotation.nowarn

import org.apache.spark.sql.DataFrame

import graft.lake.{DataFile, LakeTable, Snapshot}

/** The engine's scheduled maintenance cycle — the reference's 60-minute
  * APScheduler retention job (backend/app/main.py:40-46) lifted to full
  * table maintenance. One call per cadence tick:
  *
  *   1. ONE rewrite job (`<cycleId>-cluster`, [[Ledger.rewrite]]): on the
  *      tick's base snapshot it counts dedupe victims and stale turns
  *      (both optional) per data file, takes the incremental recluster's
  *      dirty groups ([[Clustering.layout]], which packs new drop files)
  *      widened to every group holding a counted file, rewrites each group
  *      once without those rows, Z-sorted, and commits once;
  *   2. expire snapshots beyond the retention window (never the newest
  *      retainLast, never the current);
  *   3. sweep orphaned data files older than the grace age (never files
  *      referenced by any snapshot or checkpointed in the ledger);
  *   4. sweep ledger dirs of COMMITTED jobs past the grace age (unfinished
  *      jobs are kept forever — resume depends on them).
  *
  * Idempotent per cycleId: a crashed cycle re-run resumes the rewrite's
  * groups from the ledger, or skips it once its snapshot committed. Safe
  * under concurrent readers (snapshot isolation) — and a concurrent WRITER
  * commit surfaces as CommitConflictException rather than silent lost
  * work.
  */
object Maintenance {

  /** What the cycle's former compaction phase reported: always empty. */
  final case class Compacted(snapshot: Option[Snapshot], bins: Int, resumedBins: Int,
                             filesCompacted: Int)

  // the case class's own generated methods read the deprecated field
  @nowarn("cat=deprecation")
  final case class CycleReport(
      @deprecated("the cycle runs no compaction: this is always an empty " +
        "Result at the snapshot the cycle started from", "0.1.0")
      compact: Compacted,
      cluster: Clustering.Result,
      expire: Expire.Result,
      orphans: OrphanGc.Result,
      ledger: Ledger.ExpireResult,
      dedupe: Option[Dedupe.Result] = None,
      rowRetention: Option[DeleteFrom.Result] = None) {
    def summary: String =
      s"cluster: ${cluster.groups} groups, ${cluster.rowsRewritten} rows; " +
        dedupe.map(d => s"dedupe: ${d.duplicateRows} dup rows from " +
          s"${d.touchedFiles} files; ").getOrElse("") +
        rowRetention.map(r => s"row-retention: ${r.deletedRows} rows from " +
          s"${r.touchedFiles} files; ").getOrElse("") +
        s"expire: ${expire.expiredSnapshots.size} snapshots, " +
        s"${expire.deletedDataFiles.size} data files; " +
        s"orphans: ${orphans.deleted.size} swept; " +
        s"ledger: ${ledger.deletedJobs.size} old job dirs swept"
  }

  /** `dedupeMode`: Some("exact"|"minhash"|"simhash") drops the turns a
    * [[Dedupe.runPass]] with that mode would, counted on the tick's base
    * snapshot. In minhash mode the count reads the per-file sketch store
    * ([[Sketches]]), whose cost is only the files added since the previous
    * cycle, and may commit it (metadata only) before the rewrite.
    *
    * `rowRetentionMs`: Some(age) additionally drops TURNS whose event time
    * `ts` is older than `nowMs - age`, as [[DeleteFrom]] would — the
    * reference's 24h data retention (cleanup.py:13,22-25) applied at row
    * granularity, where [[Expire.expire]]'s `retentionMs` governs only
    * snapshot METADATA. Its count reads only the files whose event-time
    * stats can hold such turns. A turn that is both a victim and stale
    * counts once, as a victim, as dedupe-then-retention would count it.
    * `nowMs` is a parameter, never the wall clock inside job logic, and a
    * re-run of a crashed cycle replays the cutoff its plan pinned.
    *
    * The report's `dedupe` and `rowRetention` each carry their own rows,
    * and the rewrite's snapshot, groups, resumed groups and files.
    */
  def runCycle(table: LakeTable, cycleId: String,
               @deprecated("ignored (no compaction); kept for callers passing it by name", "0.1.0")
               smallFileBytes: Long = 32L << 20,
               @deprecated("ignored (no compaction); kept for callers passing it by name", "0.1.0")
               targetBytes: Long = 128L << 20,
               targetFileRows: Long = 1L << 20,
               groupTargetBytes: Long = 256L << 20,
               retainLast: Int = 5,
               retentionMs: Option[Long] = Some(24L * 3600 * 1000),
               orphanGraceMs: Long = 24L * 3600 * 1000,
               dedupeMode: Option[String] = None,
               rowRetentionMs: Option[Long] = None,
               nowMs: Long = System.currentTimeMillis()): CycleReport = {
    val started = table.currentSnapshot
    val jobId = s"$cycleId-cluster"
    // A re-invoked crashed cycle replays the cutoff its first run pinned in
    // the job's sidecar: the default wall-clock nowMs would otherwise shift
    // it and trip the changed-kind guard on the natural retry path.
    val pinned = Ledger.readJobFile(table, jobId, Clustering.CountsFile)
      .flatMap(n => Option(n.get("predicate"))).map(_.asText)
    val predSql = rowRetentionMs.map(age =>
      pinned.getOrElse(s"ts < timestamp_millis(${nowMs - age}L)"))
    import Dedupe.{DefaultMaxConvChars, DefaultMaxIters, DefaultMinTokens, DefaultUnit}
    val kind = ("cluster" +: (dedupeMode.map(Dedupe.planKind(_, DefaultUnit, DefaultMinTokens,
      DefaultMaxConvChars)) ++ predSql.map("delete:" + _)).toSeq).mkString("+")

    // `rows` of `paths` less this job's dedupe victims
    def live(rows: DataFrame, paths: Vector[String], oneTask: Boolean) =
      if (dedupeMode.isEmpty) rows else Dedupe.withoutVictims(table, jobId, rows, paths, oneTask)
    val rewrite = Ledger.rewrite(table, jobId, "cluster", kind, Clustering.CountsFile,
        targetFileRows, interruptAfter = Int.MaxValue) {
      if (table.currentFiles.isEmpty) Ledger.Counted(Map.empty)
      else {
        val victims = dedupeMode.fold(Map.empty[DataFile, Long])(m =>
          Dedupe.publishVictims(table, jobId, m, DefaultMinTokens, DefaultUnit,
            DefaultMaxIters, DefaultMaxConvChars)._1)
        // on the snapshot the count above may have made (sketches only)
        val (expired, candidates) = predSql.fold((Map.empty[DataFile, Long], 0L))(
          DeleteFrom.countMatches(table, table.currentSnapshot.get, _)(live))
        Ledger.Counted(
          victims ++ expired.map { case (f, n) => f -> (n + victims.getOrElse(f, 0L)) },
          predSql.map("predicate" -> _).toSeq ++ Seq("victim_rows" -> victims.values.sum,
            "expired_rows" -> expired.values.sum, "pruned_candidates" -> candidates): _*)
      }
    }(Clustering.layout(table, _, groupTargetBytes, "z")) { (paths, oneTask) =>
      val rows = table.readData(paths.map(table.absData))
      live(predSql.fold(rows)(p => rows.where(!DeleteFrom.matching(p))), paths, oneTask)
    }

    // a committed or empty job reports zeros, and every file carried
    val (snap, done) = rewrite.fold(s => (s, None), r => (r.snapshot, Some(r)))
    def n(f: Ledger.Rewritten => Long): Long = done.fold(0L)(f)
    def fact(k: String): Long = n(_.sidecar.get(k).asLong)
    val (groups, resumed, touched) = (n(_.groups).toInt, n(_.resumedGroups).toInt,
      n(_.touchedFiles).toInt)
    val total = started.fold(0L)(_.manifests.map(_.entryCount).sum)
    val deduped = dedupeMode.map(_ =>
      Dedupe.Result(snap, fact("victim_rows"), touched, groups, resumed, converged = true))
    val rowExpired = predSql.map(_ => DeleteFrom.Result(snap, fact("expired_rows"), touched,
      total - touched, resumed, candidateFiles = touched, totalFiles = total,
      prunedCandidateFiles = fact("pruned_candidates")))
    val expired = Expire.expire(table, retainLast = retainLast,
      olderThanMs = retentionMs)
    val orphans = OrphanGc.removeOrphans(table, olderThanMs = orphanGraceMs)
    // ledger dirs of committed jobs past the grace age: bounded ledger size
    // (resume/idempotence for a finished job only matters within a cadence)
    val ledger = Ledger.expireJobs(table, olderThanMs = orphanGraceMs)
    CycleReport(Compacted(started, 0, 0, 0),
      Clustering.Result(snap, groups, resumed, n(_.rowsRewritten)), expired, orphans,
      ledger, deduped, rowExpired)
  }
}
