package graft.maintain

import graft.lake.{FileIO, LakeTable}

/** User-facing cached-vs-rebuild materialization (the reference's download
  * path, file_service.py:105-139: serve the stored sanitized artifact when
  * present, rebuild it from row data when the blob is missing), lifted to
  * the lake: an artifact is the sanitized CSV export of an optional conv
  * range at a PINNED snapshot. Requests are idempotent — an existing
  * artifact (Spark `_SUCCESS` marker) is served verbatim; a deleted or
  * never-built one is rebuilt from the immutable snapshot, so the rebuild
  * is byte-equivalent to the original.
  */
object Materialize {

  final case class Artifact(path: String, snapshotId: Long, rebuilt: Boolean)

  /** Artifact directories are keyed by (name, snapshot, conv range): a new
    * snapshot is a NEW artifact (the reference regenerates after
    * reprocessing), a different range is a DIFFERENT artifact (a full
    * export must never be served a cached range-limited one), and
    * re-requesting the same version+range is a cache hit.
    */
  def sanitizedCsv(table: LakeTable, outRoot: String, name: String,
                   convRange: Option[(String, String)] = None,
                   snapshotId: Option[Long] = None): Artifact = {
    val snap = snapshotId.orElse(table.currentSnapshotId)
      .getOrElse(throw new IllegalStateException("no snapshot to materialize"))
    // Unambiguous range key: a readable separator would collide for ids
    // containing it (UUID hyphens) and filesystem sanitization is
    // many-to-one — hash (lo NUL hi) instead.
    val rangeKey = convRange.fold("full") { case (lo, hi) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val d = md.digest((lo + "\u0000" + hi).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      "r" + d.take(8).map("%02x".format(_)).mkString
    }
    val dir = FileIO.path(outRoot, s"$name-snap$snap-$rangeKey")
    if (table.io.stat(FileIO.path(dir, "_SUCCESS")).isDefined)
      Artifact(dir, snap, rebuilt = false)
    else {
      val df = table.scan(convRange = convRange, snapshotId = Some(snap)).df
        .orderBy("conv_id", "turn_idx")
      graft.ingest.Ingest.writeSanitizedCsv(df, dir)
      Artifact(dir, snap, rebuilt = true)
    }
  }
}
