package graft.maintain

import scala.collection.mutable.Builder

import graft.lake.{FileIO, LakeTable}

/** Snapshot expiry + physical GC — the reference's retention cleanup
  * (cleanup.py:16-54: cutoff = now - retention, scan-and-delete with
  * per-file error isolation, :43-46) lifted to table versions: expired
  * snapshots' metadata is removed and any data/manifest file no retained
  * snapshot references is deleted. The CURRENT snapshot is always retained,
  * so readers pinned to it are never broken; readers pinned to an expired
  * snapshot lose reproducibility only after its retention lapses — exactly
  * the reference's 24h contract.
  */
object Expire {

  final case class Result(
      expiredSnapshots: Vector[Long],
      deletedDataFiles: Vector[String],
      deletedMetaFiles: Vector[String],
      failures: Vector[String])

  def expire(table: LakeTable,
             retainLast: Int = 2,
             olderThanMs: Option[Long] = None,
             nowMs: Long = System.currentTimeMillis()): Result = {
    val currentId = table.currentSnapshotId.get
    // COMMITTED snapshots only (id <= pointer): a not-yet-adopted orphan of
    // a crashed commit must never be expired here — a retainLast=0 +
    // olderThanMs=None call would otherwise delete a fresh orphan that a
    // concurrent commit is about to adopt, leaving the pointer on a missing
    // snapshot. Orphans are OrphanGc's job, behind its adoption age guard.
    val snaps = table.allSnapshotsTolerant.filter(_.id <= currentId)

    val newestFirst = snaps.sortBy(-_.id)
    // `olderThanMs` is an AGE (the reference's retention duration,
    // cleanup.py cutoff = now - retention). Iceberg-style semantics: a
    // snapshot is retained while YOUNGER than the age OR among the newest
    // retainLast — expiry needs both "old enough" and "beyond the floor",
    // so a reader pinned inside the retention window is never broken early.
    val retained = newestFirst.zipWithIndex.filter { case (s, idx) =>
      s.id == currentId ||
        idx < retainLast ||
        olderThanMs.exists(age => s.timestampMs >= nowMs - age)
    }.map(_._1)
    val expired = snaps.filterNot(s => retained.exists(_.id == s.id))
    if (expired.isEmpty)
      return Result(Vector.empty, Vector.empty, Vector.empty, Vector.empty)

    val failures = Vector.newBuilder[String]

    // Manifests are shared across snapshots (commitDelta carry-forward):
    // each manifest is parsed at most ONCE — retained ones for the keep
    // set, expired-ONLY ones for drop candidates (files in a shared
    // manifest are kept wholesale, no need to open it twice).
    //
    // READ isolation, not just delete isolation: a PRIOR expire may have
    // deleted a manifest but failed on its snap-*.json (tolerated below) —
    // the still-listed snapshot then references a missing manifest. Treat
    // ONLY NoSuchFile as "already gone, nothing to keep/drop through it"
    // (and re-attempt the dangling snap delete); any other read error still
    // aborts — an IO hiccup must not silently shrink the keep set and let
    // live data be swept.
    val keepManifests = retained.flatMap(_.manifestPaths).toSet
    val keepData = tolerantEntries(table, keepManifests.toSeq, failures).map(_.path).toSet
    val dropManifests = expired.flatMap(_.manifestPaths)
      .distinct.filterNot(keepManifests)
    val dropData = tolerantEntries(table, dropManifests, failures).map(_.path)
      .distinct.filterNot(keepData)
    val deletedData = Vector.newBuilder[String]
    val deletedMeta = Vector.newBuilder[String]

    // Per-file error isolation: one failed delete must not abort the sweep
    // (reference cleanup.py:43-46 "skip failures, keep going").
    def tryDelete(abs: String, label: String): Boolean =
      try table.io.delete(abs)
      catch { case e: Exception => failures += s"$label: ${e.getMessage}"; false }

    dropData.foreach { rel =>
      if (tryDelete(table.absData(rel), rel)) deletedData += rel
    }
    (dropManifests ++ expired.map(s => s"snap-${s.id}.json")).foreach { rel =>
      if (tryDelete(FileIO.path(table.root, "metadata", rel), rel)) deletedMeta += rel
    }

    Result(expired.map(_.id), deletedData.result(), deletedMeta.result(), failures.result())
  }

  /** The entries of a set of manifests, each parsed ONCE (manifests are
    * shared across snapshots by commitDelta's carry-forward). A MISSING
    * manifest is reported and skipped; any other read or parse error
    * propagates — see the caller's rationale.
    */
  private[maintain] def tolerantEntries(
      table: LakeTable, manifestPaths: Seq[String],
      failures: Builder[String, Vector[String]]): Vector[graft.lake.DataFile] =
    manifestPaths.distinct.toVector.flatMap { p =>
      table.manifestIfPresent(p).map(_.entries).getOrElse {
        failures += s"$p: missing (skipped): ${FileIO.path(table.root, "metadata", p)}"
        Vector.empty
      }
    }
}

/** Orphan-file GC: data AND metadata files on disk referenced by NO
  * snapshot — the residue of write attempts that crashed before their
  * commit (data-file and manifest names are unique per attempt precisely so
  * a retry cannot overwrite, which means the failed attempt's files
  * linger), plus the `_staging-*` dirs of crashed data and sketch writes.
  * Mirrors Iceberg's remove_orphan_files: only files older than
  * `olderThanMs` are candidates, so an in-flight writer's
  * staged-but-uncommitted output is never swept.
  *
  * Sweep ORDER matters: metadata first. An orphan snap-*.json beyond the
  * version pointer (a crashed commit that was never adopted — see
  * [[graft.lake.LakeTable]]'s crash-orphan recovery) is deleted once past
  * BOTH the grace age and `adoptGuardMs`; only THEN do its manifests and
  * data files become unreferenced and sweepable. `adoptGuardMs` (default
  * 2 x [[graft.lake.LakeTable.OrphanAdoptMaxAgeMs]]) is the no-adoption-race
  * guarantee: commit-time recovery only ADOPTS orphans younger than half
  * this bound (and supersedes older ones itself), so by the time this sweep
  * may delete an orphan snap, no adopter can still be about to swing the
  * pointer to it — deleting the file out from under an in-flight adoption
  * would leave the pointer referencing a missing snapshot, bricking the
  * table. Tests pass 0 to simulate a post-grace sweep directly.
  */
object OrphanGc {

  final case class Result(deleted: Vector[String], failures: Vector[String],
                          deletedMeta: Vector[String] = Vector.empty)

  def removeOrphans(table: LakeTable,
                    olderThanMs: Long,
                    nowMs: Long = System.currentTimeMillis(),
                    adoptGuardMs: Long = 2 * LakeTable.OrphanAdoptMaxAgeMs): Result = {
    val deleted = Vector.newBuilder[String]
    val deletedMeta = Vector.newBuilder[String]
    val failures = Vector.newBuilder[String]
    // Per-file error isolation: delete `rel` (under the root) once its
    // mtime is at or before `cutoffMs` (so a zero grace sweeps every file
    // present at the call, whatever the clock's resolution); a file another
    // process removed since the listing stats as absent and is skipped.
    def sweep(rel: String, label: String, into: Builder[String, Vector[String]],
              cutoffMs: Long = nowMs - olderThanMs): Unit = {
      val p = FileIO.path(table.root, rel)
      try if (table.io.stat(p).exists(_.mtimeMs <= cutoffMs) && table.io.delete(p)) into += label
      catch { case e: Exception => failures += s"$label: ${e.getMessage}" }
    }

    // ---- metadata sweep --------------------------------------------------
    // 1. orphan snapshots: snap files beyond the pointer, past grace AND
    // past the adoption guard (see the object docstring)
    val pointer = table.currentSnapshotId.getOrElse(-1L)
    table.allSnapshotIds.filter(_ > pointer).foreach { id =>
      sweep(s"metadata/snap-$id.json", s"snap-$id.json", deletedMeta,
        nowMs - math.max(olderThanMs, adoptGuardMs))
    }
    // 2. manifests referenced by NO remaining snapshot, pointer temps and
    // quarantined stale-orphan snapshots, past grace. ONE metadata parse
    // serves both this sweep and the data sweep below (nothing between
    // them deletes snapshots).
    val remaining = table.allSnapshotsTolerant
    val liveManifests = remaining.flatMap(_.manifestPaths).toSet
    table.io.list(FileIO.path(table.root, "metadata")).foreach { n =>
      val sweepable = n.startsWith("manifest-") && n.endsWith(".json") && !liveManifests(n) ||
        FileIO.isTemp(n) || n.startsWith("version-hint.adopt-") ||
        n.contains(".json.superseded-")
      if (sweepable) sweep(s"metadata/$n", n, deletedMeta)
    }

    // ---- data sweep ------------------------------------------------------
    // Referenced = every REMAINING snapshot's data files PLUS every
    // ledger-checkpointed task output: an interrupted job's finished groups
    // live only in the ledger until the final commit — sweeping them would
    // make the resumed job publish a snapshot over deleted files.
    // (Manifests are SHARED across snapshots; each parses once. A manifest
    // a prior half-failed expire already removed reads as empty — only a
    // missing file is tolerated, an IO error must not shrink the set.)
    val remainingEntries =
      Expire.tolerantEntries(table, remaining.flatMap(_.manifestPaths), failures)
    val ledgerOut = Ledger.allTaskRows(table).flatMap(_.outFiles)
    val referenced = remainingEntries.map(_.path).toSet ++ ledgerOut.map(_.path)
    table.io.list(FileIO.path(table.root, "data")).foreach { n =>
      if (!referenced(s"data/$n")) sweep(s"data/$n", s"data/$n", deleted)
    }
    // a crashed or failed data write leaves its `_staging-*` dir behind
    table.io.list(table.root).filter(_.startsWith("_staging-"))
      .foreach(n => sweep(n, n, deletedMeta))

    // ---- sketch sweep ----------------------------------------------------
    // a batch dir stays while ANY snapshot entry or ledger checkpoint
    // still points at it; past that it is dead weight
    val referencedBatches =
      (remainingEntries.flatMap(_.sketch) ++ ledgerOut.flatMap(_.sketch)).toSet
    Sketches.orphans(table, referencedBatches).foreach(rel => sweep(rel, rel, deletedMeta))

    Result(deleted.result(), failures.result(), deletedMeta.result())
  }
}

/** Manifest rewrite: regroup the current snapshot's (unchanged) data files
  * into range-sorted manifests of bounded size. Pure metadata operation —
  * no data moves — keeping planning cost bounded as file counts grow.
  */
object ManifestRewrite {
  def rewrite(table: LakeTable, entriesPerManifest: Int = 1000): graft.lake.Snapshot =
    table.commit(table.currentFiles, "rewrite-manifests",
      summary = Map("entries_per_manifest" -> entriesPerManifest.toString),
      entriesPerManifest = entriesPerManifest)
}
