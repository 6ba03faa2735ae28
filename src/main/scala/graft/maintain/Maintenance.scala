package graft.maintain

import scala.annotation.nowarn

import graft.lake.LakeTable

/** The engine's scheduled maintenance cycle — the reference's 60-minute
  * APScheduler retention job (backend/app/main.py:40-46) lifted to full
  * table maintenance. One call per cadence tick:
  *
  *   1. dedupe (optional) and row retention (optional), each rewriting
  *      only the files that hold the rows it removes;
  *   2. recluster — INCREMENTAL: only slabs dirtied since the last cluster
  *      commit rewrite, with quantile-cut reuse (a no-op when clean). New
  *      drop files are dirty, so their groups are rewritten here: the
  *      recluster is the cycle's compaction too;
  *   3. expire snapshots beyond the retention window (never the newest
  *      retainLast, never the current);
  *   4. sweep orphaned data files older than the grace age (never files
  *      referenced by any snapshot or checkpointed in the ledger);
  *   5. sweep ledger dirs of COMMITTED jobs past the grace age (unfinished
  *      jobs are kept forever — resume depends on them).
  *
  * Idempotent per cycleId: a crashed cycle re-run resumes dedupe, delete
  * and cluster groups from the ledger and skips phases whose snapshot
  * already committed. Safe under concurrent readers (snapshot isolation) —
  * and a concurrent WRITER commit surfaces as CommitConflictException
  * rather than silent lost work.
  */
object Maintenance {

  // the case class's own generated methods read the deprecated field
  @nowarn("cat=deprecation")
  final case class CycleReport(
      @deprecated("the cycle runs no compaction: this is always an empty " +
        "Result at the snapshot the cycle started from", "0.1.0")
      compact: Compaction.Result,
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

  /** `dedupeMode`: Some("exact"|"minhash") runs a [[Dedupe.runPass]]
    * before clustering — dedup FIRST removes rows, so the recluster that
    * follows only lays out surviving data, and the pass's rewritten files
    * are exactly the "new drop debris" clustering treats as dirty slabs.
    * In minhash mode the pass reads the per-file sketch
    * store ([[Sketches]]), whose cost is only the files added since the
    * previous cycle.
    *
    * `rowRetentionMs`: Some(age) additionally deletes TURNS whose event
    * time `ts` is older than `nowMs - age` via [[DeleteFrom]] — the
    * reference's 24h data retention (cleanup.py:13,22-25) applied at row
    * granularity, where [[Expire.expire]]'s `retentionMs` governs only
    * snapshot METADATA. Runs before clustering for the same dirty-slab
    * reason as dedupe. `nowMs` is a parameter, never the wall clock inside
    * job logic, so cycles stay replayable.
    *
    * `smallFileBytes` and `targetBytes` are ignored (the cycle runs no
    * compaction); they stay so that callers passing them by name compile.
    */
  def runCycle(table: LakeTable, cycleId: String,
               @deprecated("ignored: the cycle runs no compaction", "0.1.0")
               smallFileBytes: Long = 32L << 20,
               @deprecated("ignored: the cycle runs no compaction", "0.1.0")
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
    val deduped = dedupeMode.map(m =>
      Dedupe.runPass(table, s"$cycleId-dedupe", mode = m,
        targetFileRows = targetFileRows, groupTargetBytes = groupTargetBytes))
    val rowExpired = rowRetentionMs.map { age =>
      val jobId = s"$cycleId-rowexpire"
      // A re-invoked crashed cycle replays the predicate the ORIGINAL run
      // pinned (the ledger sidecar records it) — the default wall-clock
      // nowMs would otherwise shift the cutoff and trip the
      // changed-predicate guard on the natural retry path.
      val predSql = DeleteFrom.plannedPredicate(table, jobId)
        .getOrElse(s"ts < timestamp_millis(${nowMs - age}L)")
      DeleteFrom.run(table, jobId, predSql, targetFileRows = targetFileRows,
        groupTargetBytes = groupTargetBytes)
    }
    val clustered = Clustering.cluster(table, s"$cycleId-cluster",
      targetFileRows = targetFileRows, groupTargetBytes = groupTargetBytes)
    val expired = Expire.expire(table, retainLast = retainLast,
      olderThanMs = retentionMs)
    val orphans = OrphanGc.removeOrphans(table, olderThanMs = orphanGraceMs)
    // ledger dirs of committed jobs past the grace age: bounded ledger size
    // (resume/idempotence for a finished job only matters within a cadence)
    val ledger = Ledger.expireJobs(table, olderThanMs = orphanGraceMs)
    CycleReport(Compaction.Result(started, 0, 0, 0), clustered, expired, orphans,
      ledger, deduped, rowExpired)
  }
}
