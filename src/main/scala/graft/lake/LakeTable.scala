package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The lakehouse table: immutable Parquet data files + versioned JSON
  * metadata, with snapshot-isolated reads and stats-pruned scans.
  *
  * Layout under `root`:
  * {{{
  *   data/<tag>-<uuid>-<n>.parquet   immutable data files (never overwritten)
  *   metadata/snap-<id>.json         snapshots (schema + manifest refs w/ stats)
  *   metadata/manifest-<id>-<u>-<k>.json manifests (DataFile entries)
  *   metadata/version-hint.txt       current snapshot id (atomic pointer)
  *   _ledger/<job>/...               maintenance checkpoint ledger
  * }}}
  *
  * Commit protocol: write all NEW manifests + the snapshot JSON first (new
  * files, never overwritten — snap-<id>.json is opened CREATE_NEW, so two
  * writers racing to the same parent cannot both win: the loser gets
  * [[CommitConflictException]] instead of silently clobbering the other's
  * commit), then atomically move a temp version-hint over the pointer.
  * Every file operation goes through `io` ([[FileIO]]; the local
  * filesystem unless a test injects faults).
  * Readers resolve the pointer once and pin that snapshot — maintenance
  * committing S+1 never disturbs a reader of S (immutable files + versioned
  * metadata = snapshot isolation).
  *
  * Scale posture (10^12 turns / ~10^6 data files):
  *   - commits are O(changed files): [[commitDelta]] carries forward parent
  *     manifests untouched by the delta VERBATIM (same metadata file, no
  *     re-serialization) and writes new manifests only for survivors of
  *     touched manifests + added entries;
  *   - scans are O(overlapping metadata): per-manifest key ranges persisted
  *     in the snapshot ([[ManifestRef]]) let planning skip whole manifests
  *     without opening them; only overlapping manifests are parsed, then
  *     per-file stats prune within them.
  */
class LakeTable(val root: String, val spark: SparkSession,
                private[graft] val io: FileIO = FileIO.Local) {
  import LakeTable._

  private def meta(name: String) = FileIO.path(root, "metadata", name)
  private def hintPath = meta("version-hint.txt")
  def ledgerDir: String = FileIO.path(root, "_ledger")

  // ---- snapshot access -------------------------------------------------

  def currentSnapshotId: Option[Long] = io.read(hintPath).map(_.trim.toLong)

  def snapshot(id: Long): Snapshot = {
    val p = meta(s"snap-$id.json")
    MetaJson.snapshotFromJson(MetaJson.read(io.read(p).getOrElse(FileIO.missing(p))))
  }

  def currentSnapshot: Option[Snapshot] = currentSnapshotId.map(snapshot)

  /** Every snapshot FILE on disk, including a not-yet-adopted orphan from a
    * crashed commit (id > pointer). GC and expiry consult this superset so
    * an orphan's files are never swept out from under a later adoption;
    * everything user-facing should use [[committedSnapshots]].
    */
  def allSnapshots: Vector[Snapshot] = allSnapshotIds.map(snapshot)

  def allSnapshotIds: Vector[Long] =
    io.list(FileIO.path(root, "metadata"))
      .filter(n => n.startsWith("snap-") && n.endsWith(".json"))
      .map(n => n.stripPrefix("snap-").stripSuffix(".json").toLong)
      .sorted

  /** [[allSnapshots]] but skipping snap files that fail to PARSE — torn
    * residue of a crashed mid-write commit. Such files are never reachable
    * (adoption validates before swinging the pointer), so maintenance can
    * safely treat them as absent; OrphanGc's metadata sweep removes them
    * past the grace age. Strict readers keep throwing loudly.
    */
  def allSnapshotsTolerant: Vector[Snapshot] =
    allSnapshotIds.flatMap { id =>
      try Some(snapshot(id)) catch { case _: Exception => None }
    }

  /** Snapshots reachable from the version pointer — ids are assigned
    * parent+1 and the pointer only advances over published ids, so
    * "committed" = id <= pointer. An orphan snap file beyond the pointer
    * (crashed commit awaiting adoption) is NOT committed: time travel and
    * job-idempotence checks must not see it.
    */
  def committedSnapshots: Vector[Snapshot] = {
    val cur = currentSnapshotId.getOrElse(return Vector.empty)
    allSnapshotIds.filter(_ <= cur).map(snapshot)
  }

  def manifest(path: String): Manifest =
    manifestIfPresent(path).getOrElse(FileIO.missing(meta(path)))

  /** None when the manifest file is gone (e.g. deleted by a half-failed
    * expire); any other read or parse error still throws.
    */
  def manifestIfPresent(path: String): Option[Manifest] =
    io.read(meta(path)).map(s => MetaJson.manifestFromJson(path, MetaJson.read(s)))

  def dataFiles(s: Snapshot): Vector[DataFile] =
    s.manifests.flatMap(r => manifest(r.path).entries)

  /** Data files with their source-manifest provenance — what maintenance
    * passes to [[commitDelta]] as `removed`, so the commit opens only the
    * manifests it actually touches.
    */
  def fileEntries(s: Snapshot): Vector[FileEntry] =
    s.manifests.flatMap(r => manifest(r.path).entries.map(FileEntry(r.path, _)))

  def currentFiles: Vector[DataFile] = currentSnapshot.map(dataFiles).getOrElse(Vector.empty)

  def currentEntries: Vector[FileEntry] =
    currentSnapshot.map(fileEntries).getOrElse(Vector.empty)

  def schema: TableSchema = currentSnapshot.map(_.schema).getOrElse(
    throw new IllegalStateException(s"table at $root has no snapshot"))

  def absData(rel: String): String = FileIO.path(root, rel)

  // ---- encryption at rest ------------------------------------------------

  /** The table was created with Parquet Modular Encryption: every data file
    * and sketch batch is AES-GCM encrypted (uniform mode — footer + all
    * columns), see [[Crypto]]. The flag lives in the snapshot summary and
    * propagates through every commit; the KEY does not — it arrives at
    * runtime via the session conf.
    */
  def encrypted: Boolean = encryptedCache.getOrElse {
    val e = currentSnapshot.exists(_.summary.contains("encrypted"))
    // the flag is fixed at table CREATE and propagates through every
    // commit, so once ANY snapshot exists the answer is final — cache it
    // instead of re-reading snapshot JSON on every readData/write
    if (currentSnapshotId.isDefined) encryptedCache = Some(e)
    e
  }
  @volatile private var encryptedCache: Option[Boolean] = None

  private def masterKeyB64: String = {
    val k = spark.conf.get(Crypto.SessionKeyConf, "")
    require(k.nonEmpty,
      s"table at $root is encrypted; set ${Crypto.SessionKeyConf} " +
        "(base64 256-bit master key) on the session to access it")
    k
  }

  private[graft] def dataReadOptions: Map[String, String] =
    if (encrypted) Crypto.readOptions(masterKeyB64) else Map.empty

  private[graft] def dataWriteOptions: Map[String, String] =
    if (encrypted) Crypto.writeOptions(masterKeyB64) else Map.empty

  /** THE read path for table data files (and the seam where decryption
    * attaches): every operator reads parquet through here, so an encrypted
    * table keeps vectorized scans, pushdown and codegen with zero operator
    * changes.
    */
  def readData(absPaths: Seq[String],
               readSchema: StructType = schema.toStruct): DataFrame =
    spark.read.options(dataReadOptions).schema(readSchema).parquet(absPaths: _*)

  // ---- scan with manifest + file pruning ---------------------------------

  final case class PruneStats(totalFiles: Long, selectedFiles: Long,
                              totalManifests: Long = 0L, openedManifests: Long = 0L) {
    def ratio: Double = if (totalFiles == 0) 0.0 else 1.0 - selectedFiles.toDouble / totalFiles
  }

  final case class Scan(df: DataFrame, prune: PruneStats)

  /** Read a snapshot (default current) pruned by optional conv_id /
    * turn_idx ranges. Pruning happens at TWO metadata levels — manifests
    * whose persisted aggregate range misses the predicate are never OPENED
    * (totalFiles still comes from their persisted entry counts), and files
    * within overlapping manifests are pruned by per-file stats — and the
    * residual predicate is still applied (pushed into the Parquet row-group
    * filter by Catalyst).
    */
  def scan(convRange: Option[(String, String)] = None,
           turnRange: Option[(Int, Int)] = None,
           snapshotId: Option[Long] = None): Scan = {
    val snap = snapshotId.map(snapshot).orElse(currentSnapshot)
      .getOrElse(throw new IllegalStateException("no snapshot to scan"))
    val pruned = overlappingEntries(snap, convRange, turnRange)
    val selected = pruned.entries.map(_.file)
    val st = snap.schema.toStruct
    val base =
      if (selected.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), st)
      else readData(selected.map(f => absData(f.path)), st)
    val filtered = Seq(
      convRange.map { case (lo, hi) => col("conv_id").between(lo, hi) },
      turnRange.map { case (lo, hi) => col("turn_idx").between(lo, hi) }
    ).flatten.foldLeft(base)((d, p) => d.where(p))
    Scan(filtered, PruneStats(pruned.totalFiles, selected.size.toLong,
      pruned.totalManifests, pruned.openedManifests))
  }

  /** THE two-level metadata pruning rule, shared by [[scan]] and MERGE's
    * rewrite-set planning: manifests whose persisted aggregate range misses
    * the predicate are never OPENED (their entry counts still report into
    * `totalFiles`), then per-file stats prune within the opened ones.
    * Entries come back with manifest provenance so maintenance can hand
    * them straight to [[commitDelta]].
    */
  def overlappingEntries(snap: Snapshot,
                         convRange: Option[(String, String)],
                         turnRange: Option[(Int, Int)] = None): LakeTable.PrunedEntries = {
    val box = IntervalDnf.Conj(
      IntervalDnf.Bounds(convRange.map(_._1), convRange.map(_._2)),
      IntervalDnf.Bounds(turnRange.map(_._1), turnRange.map(_._2)),
      IntervalDnf.Bounds[Long](None, None))
    overlappingEntriesBoxes(snap, Seq(box))
  }

  /** The general form of the two-level prune: a file/manifest is a
    * candidate iff its stats overlap ANY box of an interval DNF
    * ([[IntervalDnf]] — 3 dimensions: conv, turn, event-time micros).
    * An EMPTY box list (statically unsatisfiable predicate) selects
    * nothing while still opening zero manifests.
    */
  def overlappingEntriesBoxes(snap: Snapshot,
                              boxes: Seq[IntervalDnf.Conj]): LakeTable.PrunedEntries = {
    val refs = snap.manifests
    val overlapping = refs.filter(r => boxes.exists(_.overlapsManifest(r)))
    val entries = overlapping.flatMap { r =>
      manifest(r.path).entries.withFilter(f => boxes.exists(_.overlapsFile(f)))
        .map(FileEntry(r.path, _))
    }
    LakeTable.PrunedEntries(entries, refs.map(_.entryCount).sum,
      refs.size.toLong, overlapping.size.toLong)
  }

  /** Stable user-facing read: current snapshot ordered by the table key. */
  def readOrdered(): DataFrame =
    scan().df.orderBy("conv_id", "turn_idx")

  /** Time travel: the newest COMMITTED snapshot at or before `tsMs` (the
    * reference's created_at-ordered metadata listing made queryable).
    * Pass the result's id as `scan(snapshotId = ...)`. Orphan snap files of
    * crashed, never-published commits are excluded — a reader must never
    * time-travel into a version no writer ever exposed.
    */
  def snapshotAsOf(tsMs: Long): Option[Snapshot] =
    committedSnapshots.filter(_.timestampMs <= tsMs).sortBy(_.id).lastOption

  // ---- writes ------------------------------------------------------------

  /** Write `df` (already in table-schema column order) as data files and
    * return their entries with footer-derived stats. The data lands under
    * data/ with names made unique PER WRITE ATTEMPT (uuid segment): an
    * at-least-once replay (streaming foreachBatch, checkpoint reset) can
    * never silently overwrite files already referenced by a committed
    * snapshot — collisions fail loudly instead. Nothing is committed yet.
    */
  def writeDataFiles(df: DataFrame, tag: String,
                     maxRecordsPerFile: Long = 0L): Vector[DataFile] = {
    // Tags flow from caller-supplied job/cycle ids into data-file NAMES,
    // and several pipelines match files back by `input_file_name()` (which
    // URL-encodes anything unusual) — a space or '%' in a cycle id would
    // silently unmatch every victim/sketch row of the files it wrote.
    // Restrict to a charset no URI encoder touches.
    val safeTag = tag.replaceAll("[^A-Za-z0-9._-]", "_")
    val unique = java.util.UUID.randomUUID().toString.take(8)
    val staging = FileIO.path(root, s"_staging-$safeTag-$unique")
    // TIMESTAMP_MICROS (not Spark's INT96 default): INT96 persists NO
    // footer statistics, and the event-time min/max per file is what lets
    // a row-retention DELETE prune to the files that can contain expired
    // rows instead of reading the whole table every cadence tick.
    // Set via a depth-counted push/pop (parquet offers no per-write option
    // for this key — prepareWrite overwrites the job conf from SQLConf),
    // so the session's own value is RESTORED once the write (or the last
    // of several concurrent lake writes) finishes: a library call must not
    // permanently switch the user's unrelated parquet writes to MICROS.
    LakeTable.pushMicrosTimestampConf(spark)
    // zstd: ~2x smaller files than snappy for this text-heavy schema —
    // scans read fewer bytes and maintenance I/O shifts toward CPU, which
    // scales with executors while disks don't. For an encrypted table the
    // PME write options ride along (per-job datasource options — never a
    // global conf, so unrelated writes in the session stay plaintext).
    // `maxRecordsPerFile` > 0 splits each write task's output into files of
    // at most that many rows (0 keeps the session's setting).
    val split = if (maxRecordsPerFile > 0) Map("maxRecordsPerFile" -> maxRecordsPerFile.toString)
                else Map.empty[String, String]
    try df.write.mode("overwrite").options(dataWriteOptions).options(split)
      .option("compression", "zstd").parquet(staging)
    finally LakeTable.popMicrosTimestampConf(spark)
    val conf = spark.sessionState.newHadoopConf()
    if (encrypted) Crypto.configureRead(conf, masterKeyB64)
    val parts = io.list(staging).filter(_.endsWith(".parquet"))
    // Footer reads are independent metadata fetches — do them concurrently.
    // Data files are immutable: rename refuses to overwrite an existing one.
    val entries = graft.maintain.Parallel.mapInParallel(parts.zipWithIndex, 16) {
      case (name, i) =>
        val rel = s"data/$safeTag-$unique-$i.parquet"
        io.rename(FileIO.path(staging, name), absData(rel))
        val st = ParquetStats.read(absData(rel), conf)
        DataFile(rel, st.rows, st.bytes,
          st.minConv, st.maxConv, st.minTurn, st.maxTurn,
          minTsUs = st.minTsUs, maxTsUs = st.maxTsUs)
    }
    io.delete(staging)
    // An ACTIVE sketch store rides along with every write: computeBatch
    // re-reads the just-written parquet (page-cache hot, not in-memory
    // hot), so signatures cost one extra cached-read pass over this
    // write's output instead of a later cold full re-read — and pure
    // rewrites (compaction/clustering/delete survivors) keep the table
    // sketch-covered with zero ensure()-time compute.
    graft.maintain.Sketches.sketchOnWrite(this, entries, s"$safeTag-$unique")
  }

  /** Whether a rewrite reading `inputBytes` runs as one task: it fits one
    * scan split (`spark.sql.files.maxPartitionBytes`) and
    * [[LakeTable.OneTaskMaxBytes]].
    */
  def fitsOneTask(inputBytes: Long): Boolean =
    inputBytes <= math.min(spark.sessionState.conf.filesMaxPartitionBytes,
      LakeTable.OneTaskMaxBytes)

  /** THE sorted rewrite of one group (merge, dedupe, delete, clustering):
    * `rows` rows of `df` in about ceil(rows / targetFileRows) files, each
    * holding a tight range of `key`. A group whose input [[fitsOneTask]]
    * is coalesced into one task that sorts it and writes runs of
    * `maxRecordsPerFile` rows: no Exchange, and none of the sampling job a
    * range partitioner runs. A larger group is range-partitioned on `key`
    * (then `salt`, which splits runs of equal keys across the sampled
    * bounds) and sorted per partition. `drop` names the working columns
    * (a computed sort key) removed after the sort; every other column is
    * written, whatever its name.
    */
  def writeSorted(df: DataFrame, tag: String, inputBytes: Long, rows: Long,
                  targetFileRows: Long, key: Seq[Column],
                  salt: Option[Column] = None,
                  drop: Seq[String] = Nil): Vector[DataFile] = {
    val nOut = math.max(1L, math.ceil(rows.toDouble / targetFileRows).toLong)
    def sorted(d: DataFrame) = d.sortWithinPartitions(key: _*).drop(drop: _*)
    if (fitsOneTask(inputBytes))
      writeDataFiles(sorted(df.coalesce(1)), tag,
        maxRecordsPerFile = math.max(1L, math.ceil(rows.toDouble / nOut).toLong))
    else
      writeDataFiles(sorted(df.repartitionByRange(nOut.toInt, key ++ salt: _*)), tag)
  }

  /** Plain append: write `df` (must match the table schema) as new files
    * alongside the existing ones. Used for initial loads and drop batches
    * that are known key-disjoint; overlapping keys belong to MERGE.
    */
  def append(df: DataFrame, tag: String): Snapshot = {
    val entries = writeDataFiles(
      df.select(schema.fieldNames.map(n => col(s"`$n`")): _*), tag)
    commitDelta(entries, Vector.empty, "append",
      summary = Map("append_tag" -> tag))
  }

  /** Delta commit — O(changed files), the only commit path maintenance
    * should use. Parent manifests containing no `removed` entry are carried
    * forward VERBATIM (their metadata file is reused, not rewritten);
    * manifests that do contain removed entries are opened once, their
    * surviving entries joining `added` in freshly written manifests.
    */
  def commitDelta(added: Vector[DataFile], removed: Vector[FileEntry],
                  operation: String,
                  newSchema: Option[TableSchema] = None,
                  summary: Map[String, String] = Map.empty,
                  entriesPerManifest: Int = DefaultEntriesPerManifest): Snapshot = {
    val parent = currentSnapshot
    val removedByManifest: Map[String, Set[String]] =
      removed.groupBy(_.manifest).map { case (m, es) => m -> es.map(_.file.path).toSet }
    val parentRefs = parent.map(_.manifests).getOrElse(Vector.empty)
    // Stale-capture guard: if a removed entry's source manifest is no longer
    // in the parent snapshot, a concurrent commit rewrote it since this
    // writer planned — carrying it silently would KEEP the rows this commit
    // replaces (duplicates). Surface the conflict instead.
    val parentPaths = parentRefs.map(_.path).toSet
    val stale = removedByManifest.keys.filterNot(parentPaths)
    if (stale.nonEmpty)
      throw new CommitConflictException(
        s"manifest(s) ${stale.mkString(", ")} were rewritten by a concurrent " +
          s"commit since this $operation was planned (table $root); " +
          "re-read the table and retry the operation")
    val (touched, carried) = parentRefs.partition(r => removedByManifest.contains(r.path))
    val survivors = touched.flatMap { r =>
      manifest(r.path).entries.filterNot(e => removedByManifest(r.path)(e.path))
    }
    finishCommit(parent, carried, survivors ++ added, operation, newSchema,
      summary, entriesPerManifest)
  }

  /** Full commit: regroup ALL `newFiles` into fresh manifests. O(total
    * files) metadata — reserved for table creation and explicit
    * [[graft.maintain.ManifestRewrite]]; incremental ops use [[commitDelta]].
    */
  def commit(newFiles: Vector[DataFile], operation: String,
             newSchema: Option[TableSchema] = None,
             summary: Map[String, String] = Map.empty,
             entriesPerManifest: Int = DefaultEntriesPerManifest): Snapshot =
    finishCommit(currentSnapshot, Vector.empty, newFiles, operation, newSchema,
      summary, entriesPerManifest)

  private def finishCommit(parent: Option[Snapshot], carried: Vector[ManifestRef],
                           fresh: Vector[DataFile], operation: String,
                           newSchema: Option[TableSchema],
                           summary: Map[String, String],
                           entriesPerManifest: Int): Snapshot = {
    val id = parent.map(_.id + 1).getOrElse(1L)
    val seq = parent.map(_.sequence + 1).getOrElse(1L)
    val sch = newSchema.orElse(parent.map(_.schema)).getOrElse(
      throw new IllegalStateException("first commit must provide a schema"))

    // New manifests grouped by key range (sorted by min conv/turn) so scan
    // planning can skip whole manifests. Names carry a uuid segment: a
    // failed commit attempt's orphan can never be overwritten into a file
    // some committed snapshot references.
    val unique = java.util.UUID.randomUUID().toString.take(8)
    val sorted = fresh.sortBy(f => (f.minConv.getOrElse(""), f.minTurn.getOrElse(0)))
    val newRefs = sorted.grouped(entriesPerManifest).zipWithIndex.map {
      case (group, k) =>
        val rel = s"manifest-$id-$unique-$k.json"
        if (!io.createNew(meta(rel),
            MetaJson.write(MetaJson.manifestToJson(Manifest(rel, group.toVector)))))
          throw new IllegalStateException(s"manifest $rel already exists (table $root)")
        ManifestRef.of(rel, group.toVector)
    }.toVector

    // Pointer to the most recent cluster commit, PROPAGATED through every
    // snapshot: incremental maintenance resolves its baseline in O(1)
    // metadata reads instead of walking the whole snapshot history.
    val lastCluster: Option[String] =
      if (operation == "cluster") Some(id.toString)
      else parent.flatMap(_.summary.get("last_cluster_id"))
    // table-level properties propagate the same way (encryption mode)
    val encProp: Option[String] = parent.flatMap(_.summary.get("encrypted"))
      .orElse(summary.get("encrypted"))

    val refs = carried ++ newRefs
    val snap = Snapshot(id, parent.map(_.id).getOrElse(-1L), seq,
      System.currentTimeMillis(), operation, sch, refs,
      summary ++ Map("total_files" -> refs.map(_.entryCount).sum.toString,
        "total_rows" -> refs.map(_.rows).sum.toString,
        "carried_manifests" -> carried.size.toString,
        "new_manifests" -> newRefs.size.toString)
        ++ lastCluster.map("last_cluster_id" -> _)
        ++ encProp.map("encrypted" -> _))

    // CREATE_NEW: concurrent committers race to the same id; exactly one
    // wins, the other surfaces a conflict instead of silently clobbering.
    //
    // CRASH-ORPHAN RECOVERY: if snap-<id>.json exists but the POINTER still
    // sits at our parent, its writer crashed between CREATE_NEW and the
    // pointer swing (or is microseconds from swinging). Two age-gated paths
    // (age gating is what makes recovery and OrphanGc's sweep RACE-FREE —
    // neither may touch the same file, see [[OrphanAdoptMaxAgeMs]]):
    //   - FRESH orphan (age < OrphanAdoptMaxAgeMs) that parses: FINISH the
    //     interrupted commit on its behalf — it is fully valid (its data
    //     files and manifests were durable before its snapshot write) — by
    //     swinging the pointer to it, then surface a retryable conflict.
    //     The retry builds on the adopted snapshot; without this, every
    //     retry recomputes id = parent+1, hits the same orphan, and the
    //     table is wedged forever.
    //   - STALE orphan (age >= OrphanAdoptMaxAgeMs, parseable or torn): its
    //     writer is dead (the pointer swing follows the snapshot write
    //     immediately; an hour-long gap means a crash — the same liveness
    //     reasoning OrphanGc's grace age rests on). The crashed commit was
    //     never published, so SUPERSEDE it: atomically RENAME the file to a
    //     quarantine name and retry CREATE_NEW with our own snapshot.
    //     Publishing a crashed commit hours later would surface a ghost
    //     write its caller was told failed. The rename (not a delete) does
    //     two jobs: two committers superseding concurrently can't both win
    //     (exactly one move succeeds; the loser surfaces a retryable
    //     conflict and on retry ADOPTS the winner's fresh snapshot), and if
    //     the "orphan" was actually a published snapshot whose pointer was
    //     regressed by outside interference, its bytes survive in
    //     quarantine for the whole GC grace window instead of vanishing.
    //   - FRESH orphan that does NOT parse: a concurrent writer may be
    //     mid-write of those very bytes — hands off, retryable conflict
    //     (once it finishes, the retry adopts; if it crashed, the retry
    //     supersedes after the age gate).
    val snapPath = meta(s"snap-$id.json")
    val body = MetaJson.write(MetaJson.snapshotToJson(snap))
    def tryCreateNew(): Boolean = io.createNew(snapPath, body)
    if (!tryCreateNew()) {
      val ageMs = io.stat(snapPath) // vanished: treat as fresh, conflict below
        .fold(0L)(st => System.currentTimeMillis() - st.mtimeMs)
      val orphanOk =
        try { snapshot(id); true } catch { case _: Exception => false }
      val pointerAtParent = currentSnapshotId == parent.map(_.id)
      val superseded = pointerAtParent && ageMs >= OrphanAdoptMaxAgeMs && {
        val quarantine =
          meta(s"snap-$id.json.superseded-${java.util.UUID.randomUUID().toString.take(8)}")
        val won =
          try { io.rename(snapPath, quarantine); true }
          catch { case _: Exception => false } // another superseder won the move
        won && tryCreateNew()
      }
      if (!superseded) {
        // The pointer is RE-READ immediately before the move and the
        // adoption skipped if it advanced — narrows the check-then-move
        // window so a stalled adopter cannot roll the pointer back over a
        // newer commit (full CAS would need a locking primitive plain
        // filesystems lack; the residual window is the nanoseconds between
        // re-read and rename, vs seconds-long commits).
        if (orphanOk && ageMs < OrphanAdoptMaxAgeMs && currentSnapshotId == parent.map(_.id)) {
          io.replace(hintPath, id.toString)
          throw new CommitConflictException(
            s"snapshot $id was written by an interrupted commit; adopted it as " +
              s"current (table $root) — re-read the table and retry the operation")
        }
        throw new CommitConflictException(
          s"snapshot $id already committed by a concurrent writer (table $root); " +
            "re-read the table and retry the operation")
      }
    }

    // Atomic pointer swing — the only mutation in the whole protocol.
    io.replace(hintPath, id.toString)
    snap
  }
}

object LakeTable {
  val DefaultEntriesPerManifest = 1000

  private val TsTypeKey = "spark.sql.parquet.outputTimestampType"
  private val tsConfLock = new Object
  private var tsConfDepth = 0
  private var tsConfPrev: String = _

  /** Depth-counted session-conf override for the staging write's
    * TIMESTAMP_MICROS requirement: maintenance runs lake writes from
    * several threads (DeleteFrom/Compaction groups), so a naive
    * save/restore would race and could leave the OVERRIDE behind as the
    * "saved" value. The outermost push saves the user's value, the last
    * pop restores it. (While any lake write is in flight the session-wide
    * value is MICROS — unavoidable for a key parquet only reads from
    * SQLConf — but between lake writes the user's setting is back.)
    */
  private[lake] def pushMicrosTimestampConf(spark: SparkSession): Unit =
    tsConfLock.synchronized {
      if (tsConfDepth == 0) {
        tsConfPrev = spark.conf.get(TsTypeKey)
        spark.conf.set(TsTypeKey, "TIMESTAMP_MICROS")
      }
      tsConfDepth += 1
    }

  private[lake] def popMicrosTimestampConf(spark: SparkSession): Unit =
    tsConfLock.synchronized {
      tsConfDepth -= 1
      if (tsConfDepth == 0) spark.conf.set(TsTypeKey, tsConfPrev)
    }

  /** Age gate splitting crash-orphan snap files between the two mechanisms
    * that may touch them, so they can never race on the same file:
    * commit-time recovery ADOPTS only orphans YOUNGER than this (and
    * supersedes older ones itself), while OrphanGc's metadata sweep deletes
    * only orphans older than TWICE this (see `removeOrphans.adoptGuardMs`).
    * An adopter would have to stall longer than this between its age check
    * and its pointer rename for the two to overlap.
    */
  val OrphanAdoptMaxAgeMs: Long = 60L * 60 * 1000

  /** A data file plus the manifest it currently lives in. */
  final case class FileEntry(manifest: String, file: DataFile)

  /** Result of [[LakeTable.overlappingEntries]]: the selected entries plus
    * the pruning evidence (how much metadata was never even opened).
    */
  final case class PrunedEntries(entries: Vector[FileEntry], totalFiles: Long,
                                 totalManifests: Long, openedManifests: Long)

  final class CommitConflictException(msg: String) extends RuntimeException(msg)

  /** The largest rewrite input run in one task. Measured with one cluster
    * or DELETE group alone on 4 local cores: up to 16 MB of Parquet the
    * one-task plan took the shuffled plan's wall time or less, with
    * 10-25% less CPU; at 26 MB a cluster group took 10-28% longer, and
    * from 81 MB either group took 1.4-2.9x longer (README "Scale knobs").
    */
  val OneTaskMaxBytes: Long = 16L << 20

  def create(spark: SparkSession, root: String, schema: StructType,
             encrypted: Boolean = false): LakeTable = {
    val t = new LakeTable(root, spark)
    if (encrypted) { // fail at CREATE, not first write, if no key is set
      require(spark.conf.get(Crypto.SessionKeyConf, "").nonEmpty,
        s"encrypted table needs ${Crypto.SessionKeyConf} set on the session")
    }
    t.commit(Vector.empty, "create", Some(TableSchema.fromStruct(schema)),
      summary = if (encrypted) Map("encrypted" -> "uniform-aes-gcm") else Map.empty)
    t
  }

  def load(spark: SparkSession, root: String): LakeTable = {
    val t = new LakeTable(root, spark)
    require(t.currentSnapshotId.isDefined, s"no table at $root")
    t
  }

  def deleteRecursively(p: java.nio.file.Path): Unit = FileIO.Local.delete(p.toString)
}
