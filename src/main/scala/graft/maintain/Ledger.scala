package graft.maintain

import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.JsonNode

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.lake.{DataFile, FileIO, KeyRange, LakeTable, MetaJson, Snapshot}

import scala.jdk.CollectionConverters._

/** Per-partition checkpoint ledger (north rule): every maintenance job
  * records, per task, its input-file lineage, output files and rewrite
  * metrics BEFORE the final snapshot commit. A restarted job reads the
  * ledger, skips `done` tasks (reusing their outputs verbatim), and only
  * recomputes pending ones — the reference's idempotent backfill semantics
  * (file_service.py:113-137: cached artifact served, missing one rebuilt)
  * generalized to distributed maintenance.
  *
  * The job protocol lives here once — [[rewrite]] plans or resumes a job,
  * then [[runJob]] runs and commits it — and every maintenance job runs
  * through it: [[Clustering]], [[Dedupe]], [[DeleteFrom]] and the
  * [[Maintenance]] cycle supply only the rows they drop, how they group
  * files and what order a group's survivors sort in.
  *
  * Each task row is its own atomically-replaced JSON file, so a crash
  * mid-write can never corrupt previously checkpointed tasks.
  */
object Ledger {

  final case class TaskRow(
      jobId: String, taskId: Int, state: String,
      inFiles: Vector[String], outFiles: Vector[DataFile],
      rows: Long, bytes: Long, durationMs: Long,
      errorMessage: String = "")

  private def jobDir(table: LakeTable, jobId: String) =
    FileIO.path(table.ledgerDir, jobId)

  // ---- plan -------------------------------------------------------------

  final case class Plan(baseSnapshotId: Long, groups: Vector[Vector[String]],
                        convCuts: Array[Long] = Array.empty,
                        turnCuts: Array[Long] = Array.empty,
                        curve: String = "z", kind: String = "")

  /** Persist the job plan (task -> input files, base snapshot, quantile
    * cuts, curve, kind) before any work starts; resume MUST reuse the
    * stored plan — and the stored CURVE — not recompute them.
    */
  def writePlan(table: LakeTable, jobId: String, plan: Plan): Unit = {
    val o = MetaJson.mapper.createObjectNode()
    o.put("job_id", jobId)
    o.put("base_snapshot_id", plan.baseSnapshotId)
    o.put("curve", plan.curve)
    o.put("kind", plan.kind)
    val arr = o.putArray("groups")
    plan.groups.foreach { g => val ga = arr.addArray(); g.foreach(ga.add) }
    val cc = o.putArray("conv_cuts"); plan.convCuts.foreach(cc.add)
    val tc = o.putArray("turn_cuts"); plan.turnCuts.foreach(tc.add)
    atomicWrite(table, jobId, "plan.json", MetaJson.write(o))
  }

  /** The plan [[writePlan]] persisted for `jobId`, every field as written. */
  def readPlan(table: LakeTable, jobId: String): Option[Plan] =
    readJobFile(table, jobId, "plan.json").map { n =>
      def strings(a: JsonNode) = a.elements().asScala.map(_.asText).toVector
      def longs(k: String) = n.get(k).elements().asScala.map(_.asLong).toArray
      Plan(n.get("base_snapshot_id").asLong,
        n.get("groups").elements().asScala.map(strings).toVector,
        longs("conv_cuts"), longs("turn_cuts"), n.get("curve").asText, n.get("kind").asText)
    }

  // ---- job commit marker (O(1) idempotence) ------------------------------

  /** Record that `jobId`'s final snapshot committed — ONE file the
    * idempotence guard reads, instead of parsing the whole snapshot history
    * per maintenance call (the `last_cluster_id` pattern applied to job ids).
    * The marker is PER OPERATION (`commit-<operation>.json`): two operations
    * sharing one jobId (Maintenance suffixes guard against it, but the API
    * allows it) keep independent idempotence guards instead of clobbering
    * each other's single marker.
    */
  def markCommitted(table: LakeTable, jobId: String, operation: String,
                    snapshotId: Long): Unit = {
    val o = MetaJson.mapper.createObjectNode()
    o.put("job_id", jobId); o.put("operation", operation)
    o.put("snapshot_id", snapshotId)
    atomicWrite(table, jobId, s"commit-$operation.json", MetaJson.write(o))
  }

  /** The snapshot `jobId` (of this operation) already committed, if any.
    * O(1) via the marker; a crash BETWEEN commitDelta and the marker write
    * falls back to walking the parent chain from current down to the job
    * plan's base snapshot — O(commits since the job started), never
    * O(history) — and heals the marker. Only COMMITTED snapshots count: an
    * orphan snap file from a crashed commit (id beyond the pointer) is
    * unreachable from current, so it can never masquerade as the job result.
    */
  def committedJobSnapshot(table: LakeTable, jobId: String,
                           operation: String): Option[Snapshot] = {
    readJobFile(table, jobId, s"commit-$operation.json").foreach { n =>
      val sid = n.get("snapshot_id").asLong
      return try Some(table.snapshot(sid))
      catch { // snapshot metadata already expired: the job is still DONE —
        // surface the current snapshot as the idempotent no-op result
        case _: Exception => table.currentSnapshot
      }
    }
    readPlan(table, jobId) match {
      case None => None
      case Some(p) =>
        var cur = table.currentSnapshot
        while (cur.exists(_.id > p.baseSnapshotId)) {
          val s = cur.get
          if (s.operation == operation && s.summary.get("job_id").contains(jobId)) {
            markCommitted(table, jobId, operation, s.id)
            return Some(s)
          }
          cur =
            if (s.parentId < 0) None
            else try Some(table.snapshot(s.parentId)) catch { case _: Exception => None }
        }
        None
    }
  }

  // ---- tasks ------------------------------------------------------------

  def writeTask(table: LakeTable, row: TaskRow): Unit = {
    val o = MetaJson.mapper.createObjectNode()
    o.put("job_id", row.jobId); o.put("task_id", row.taskId)
    o.put("state", row.state); o.put("rows", row.rows)
    o.put("bytes", row.bytes); o.put("duration_ms", row.durationMs)
    if (row.errorMessage.nonEmpty) o.put("error_message", row.errorMessage)
    val inA = o.putArray("in_files"); row.inFiles.foreach(inA.add)
    val outA = o.putArray("out_files")
    row.outFiles.foreach(f => outA.add(MetaJson.dataFileToJson(f)))
    atomicWrite(table, row.jobId, f"task-${row.taskId}%05d.json", MetaJson.write(o))
  }

  /** `jobId`'s COMPLETE task rows: a crashed write's temp residue
    * (`task-*.json.tmp-*`) must never poison resume — only the atomically
    * replaced final name counts. A row whose job dir vanished since the
    * listing (swept by [[expireJobs]]) is skipped.
    */
  private def taskRows(table: LakeTable, jobId: String): Vector[TaskRow] =
    table.io.list(jobDir(table, jobId))
      .filter(n => n.startsWith("task-") && n.endsWith(".json"))
      .flatMap(n => readJobFile(table, jobId, n).map(taskFromJson))

  def readTasks(table: LakeTable, jobId: String): Map[Int, TaskRow] =
    taskRows(table, jobId).map(t => t.taskId -> t).toMap

  /** Every task row across all jobs — OrphanGc consults this so checkpointed
    * outputs of in-flight/interrupted jobs are never swept as orphans.
    */
  def allTaskRows(table: LakeTable): Vector[TaskRow] =
    table.io.list(table.ledgerDir).flatMap(taskRows(table, _))

  private def taskFromJson(n: JsonNode): TaskRow = TaskRow(
    n.get("job_id").asText, n.get("task_id").asInt, n.get("state").asText,
    n.get("in_files").elements().asScala.map(_.asText).toVector,
    n.get("out_files").elements().asScala.map(MetaJson.dataFileFromJson).toVector,
    n.get("rows").asLong, n.get("bytes").asLong, n.get("duration_ms").asLong,
    Option(n.get("error_message")).map(_.asText).getOrElse(""))

  /** Ledger as a DataFrame for metrics/reporting queries. */
  def asDataFrame(table: LakeTable, spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows = allTaskRows(table)
      .map(t => (t.jobId, t.taskId, t.state, t.inFiles.size, t.outFiles.size,
        t.rows, t.bytes, t.durationMs, t.errorMessage))
    rows.toDF("job_id", "task_id", "state", "n_in_files", "n_out_files",
      "rows", "bytes", "duration_ms", "error_message")
  }

  // ---- ledger expiry ------------------------------------------------------

  final case class ExpireResult(deletedJobs: Vector[String], failures: Vector[String])

  /** Sweep job directories whose every file is older than `olderThanMs` AND
    * whose commit marker exists (the job finished and published) — without
    * this, a maintenance cadence at lakehouse scale accumulates one dir per
    * cycle forever, and [[allTaskRows]] (consulted by OrphanGc on every
    * cycle) walks an unbounded tree. Unfinished jobs (no marker) are NEVER
    * swept regardless of age: their checkpointed outputs are what resume —
    * and OrphanGc's data-sweep protection — depend on. Losing an OLD
    * committed job's marker only costs the idempotence short-circuit; a
    * replayed ancient jobId re-plans against the current snapshot, which for
    * the cycle's incremental jobs (dedupe, row retention, recluster) costs
    * only what changed since, not a correctness hazard.
    */
  def expireJobs(table: LakeTable, olderThanMs: Long,
                 nowMs: Long = System.currentTimeMillis()): ExpireResult = {
    val deleted = Vector.newBuilder[String]
    val failures = Vector.newBuilder[String]
    table.io.list(table.ledgerDir).foreach { jobId =>
      val dir = jobDir(table, jobId)
      try {
        val files = table.io.list(dir) // empty for a stray non-directory
        val committed = files.exists(n => n.startsWith("commit-") && n.endsWith(".json"))
        val allOld = files.nonEmpty && files.forall(n =>
          table.io.stat(FileIO.path(dir, n)).forall(_.mtimeMs < nowMs - olderThanMs))
        if (committed && allOld) {
          table.io.delete(dir)
          deleted += jobId
        }
      } catch { case e: Exception => failures += s"$jobId: ${e.getMessage}" }
    }
    ExpireResult(deleted.result(), failures.result())
  }

  // ---- job protocol -----------------------------------------------------

  /** Run every group of `plan` and commit the job. A group with a `done`
    * row is not run again: its checkpointed outputs are reused verbatim.
    * Any other group runs `rewrite(inputFiles, groupIndex)` and checkpoints
    * a `done` row — or, if it throws, an `error` row with the message
    * (reference parity: file_repository.py:95-109), which a rerun
    * recomputes and flips to `done`. Groups are independent and submitted
    * `parallelism` at a time, except under `interruptAfter` — a chaos hook
    * that aborts like a crash once that many groups have run — which needs
    * deterministic order.
    *
    * The commit swaps exactly the plan's inputs for all group outputs in
    * one [[LakeTable.commitDelta]] (`summarize(tasks)` plus the job id as
    * its summary), then marks the job committed. Returns the snapshot and
    * every group's task row, flagged `true` when it was resumed.
    */
  def runJob(table: LakeTable, jobId: String, operation: String, plan: Plan,
             parallelism: Int, interruptAfter: Int = Int.MaxValue)(
      rewrite: (Vector[DataFile], Int) => Vector[DataFile])(
      summarize: Vector[(TaskRow, Boolean)] => Map[String, String])
      : (Snapshot, Vector[(TaskRow, Boolean)]) = {
    val entryByPath = table.currentEntries.map(e => e.file.path -> e).toMap
    val done = readTasks(table, jobId).filter(_._2.state == "done")
    val executed = new AtomicInteger(0)

    def runGroup(paths: Vector[String], gi: Int): (TaskRow, Boolean) =
      done.get(gi) match {
        case Some(t) => (t, true)
        case None =>
          val t0 = System.nanoTime()
          val inFiles = paths.map(entryByPath(_).file)
          def row(state: String, out: Vector[DataFile], error: String = "") =
            TaskRow(jobId, gi, state, paths, out, inFiles.map(_.rows).sum,
              inFiles.map(_.bytes).sum, (System.nanoTime() - t0) / 1000000, error)
          try {
            if (executed.getAndIncrement() >= interruptAfter)
              throw new InterruptedException(s"chaos interrupt after $interruptAfter groups")
            val r = row("done", rewrite(inFiles, gi))
            writeTask(table, r)
            (r, false)
          } catch { case e: Throwable =>
            writeTask(table, row("error", Vector.empty, String.valueOf(e.getMessage)))
            throw e
          }
      }

    val indexed = plan.groups.zipWithIndex
    val tasks =
      if (interruptAfter != Int.MaxValue) indexed.map { case (p, gi) => runGroup(p, gi) }
      else Parallel.mapInParallel(indexed, parallelism) { case (p, gi) => runGroup(p, gi) }

    val removed = plan.groups.flatten.distinct.sorted.map(entryByPath(_))
    val snap = table.commitDelta(tasks.flatMap(_._1.outFiles), removed, operation,
      summary = Map("job_id" -> jobId) ++ summarize(tasks))
    markCommitted(table, jobId, operation, snap.id)
    (snap, tasks)
  }

  // ---- group rewrite ------------------------------------------------------

  /** Rows to drop per data file holding any, and facts a resume reuses. */
  final case class Counted(perFile: Map[DataFile, Long], facts: (String, Any)*)

  /** The groups of data files a rewrite runs, every counted file among
    * them, and the order each group's survivors sort in: the table key
    * (conv_id, turn_idx) when there are no quantile cuts, else `curve` over
    * the cuts ([[Clustering.writeGroup]]). */
  final case class Layout(groups: Vector[Vector[DataFile]],
                          convCuts: Array[Long] = Array.empty,
                          turnCuts: Array[Long] = Array.empty,
                          curve: String = "z")

  /** The counted files in key order, cut into groups of about
    * `groupTargetBytes`: the layout of a row delete, which rewrites only
    * the files holding rows it drops.
    */
  def keyLayout(c: Counted, groupTargetBytes: Long): Layout =
    Layout(Clustering.greedyGroups(c.perFile.keys.toVector.sortBy(f => (f.keys, f.path))(
      Ordering.Tuple2(KeyRange.ByLow, Ordering.String)), groupTargetBytes))

  /** A committed rewrite; `rowsRewritten` counts the groups this call ran. */
  final case class Rewritten(snapshot: Snapshot, droppedRows: Long, touchedFiles: Int,
                             groups: Int, resumedGroups: Int, rowsRewritten: Long,
                             sidecar: JsonNode)

  /** THE group rewrite of clustering, dedupe, DELETE FROM and the
    * maintenance cycle. A job that already committed returns `Left(its
    * snapshot)`. A stored plan is reused, NEVER recomputed (its groups,
    * cuts and curve are the job), and must match this invocation: same
    * `kind` (the operation plus whatever parameters change its meaning) and
    * a base snapshot that is still current. Else a new plan runs `count`,
    * then `layout` on its counts, and writes the sidecar `countsFile`, then
    * the plan, before any group starts. A resume whose sidecar is missing
    * throws `IllegalStateException` and commits nothing: the sidecar alone
    * pins what the plan counted. A plan with no groups commits nothing and
    * returns `Left(current snapshot)`, the job still marked committed, so a
    * replay is O(1) and its ledger dir is swept like any finished job's.
    *
    * Each group reads `survivors(paths, oneTask)` (`oneTask` =
    * [[LakeTable.fitsOneTask]] of its input), writes it sorted as the plan
    * says ([[Clustering.writeGroup]]), and must write its rows less its
    * counts, or nothing commits; an all-dropped group writes no file (an
    * empty part would enter the manifest stats-less, never pruned). The
    * summary carries the sidecar's facts, `deleted_rows`, `touched_files`,
    * `groups` and `rows_rewritten`. Data work is O(files in the groups),
    * but [[runJob]] reads every manifest ([[LakeTable.currentEntries]]).
    */
  def rewrite(table: LakeTable, jobId: String, operation: String, kind: String,
              countsFile: String, targetFileRows: Long, interruptAfter: Int)(
      count: => Counted)(layout: Counted => Layout)(
      survivors: (Vector[String], Boolean) => DataFrame): Either[Snapshot, Rewritten] = {
    committedJobSnapshot(table, jobId, operation).foreach(s => return Left(s))
    val plan = readPlan(table, jobId).map { p =>
      require(p.kind == kind,
        s"ledger plan for $jobId is '${p.kind}' but this invocation is " +
          s"'$kind' — job-id collision, changed parameters or changed " +
          "predicate; use a fresh jobId")
      require(table.currentSnapshotId.contains(p.baseSnapshotId),
        s"stale $operation plan for $jobId: computed on snapshot " +
          s"${p.baseSnapshotId} but current is ${table.currentSnapshotId}")
      p
    }.getOrElse {
      val before = table.currentSnapshotId.get
      val c = count
      val l = layout(c)
      val grouped = l.groups.flatten.map(_.path).toSet
      require(c.perFile.keys.forall(f => grouped(f.path)),
        s"$operation plan for $jobId leaves files with counted rows out of its groups")
      // a near-dup count may first cover the table with sketches, a
      // metadata-only commit: the plan is based on the snapshot it made,
      // or a resume would find the plan stale
      val base = table.currentSnapshot
        .filter(s => s.operation == "sketch" && s.parentId == before).fold(before)(_.id)
      val o = MetaJson.mapper.createObjectNode()
      c.facts.foreach {
        case (k, v: Long) => o.put(k, v)
        case (k, v) => o.put(k, String.valueOf(v))
      }
      val counts = o.putObject("counts")
      c.perFile.toSeq.map { case (f, n) => f.path -> n }.sorted
        .foreach { case (p, n) => counts.put(p, n) }
      atomicWrite(table, jobId, countsFile, MetaJson.write(o))
      val p = Plan(base, l.groups.map(_.map(_.path)), l.convCuts, l.turnCuts, l.curve, kind)
      writePlan(table, jobId, p)
      p
    }
    if (plan.groups.forall(_.isEmpty)) {
      // nothing to rewrite: no commit, no empty files (same rule as a
      // no-op merge)
      val cur = table.currentSnapshot.get
      markCommitted(table, jobId, operation, cur.id)
      return Left(cur)
    }
    val sidecar = readJobFile(table, jobId, countsFile).getOrElse(
      throw new IllegalStateException(
        s"plan for $jobId exists but its victim counts ($countsFile) are missing"))
    val counts = sidecar.get("counts").fields().asScala
      .map(e => e.getKey -> e.getValue.asLong).toMap
    val touched = plan.groups.map(_.size).sum

    // a few groups at a time: a group larger than one task already fans
    // out over the executors
    val (snap, tasks) = runJob(table, jobId, operation, plan,
      math.max(2, table.spark.sparkContext.defaultParallelism / 8), interruptAfter) { (in, gi) =>
      val paths = in.map(_.path)
      val inBytes = in.map(_.bytes).sum
      val expected = in.map(_.rows).sum - paths.map(counts.getOrElse(_, 0L)).sum
      val out =
        if (expected == 0L) Vector.empty[DataFile]
        else Clustering.writeGroup(table, plan, survivors(paths, table.fitsOneTask(inBytes)),
          s"$jobId-g$gi", inBytes, expected, targetFileRows)
      val written = out.map(_.rows).sum
      require(written == expected,
        s"$operation group $gi wrote $written survivors but the plan counted " +
          s"$expected: rows to drop out of step with the table (a " +
          "non-deterministic predicate?); refusing to commit")
      out
    } { tasks =>
      sidecar.fields().asScala.filter(_.getKey != "counts")
        .map(e => e.getKey -> e.getValue.asText).toMap ++
        Map("deleted_rows" -> dropped(tasks).toString, "touched_files" -> touched.toString,
          "groups" -> plan.groups.size.toString, "rows_rewritten" -> rewritten(tasks).toString)
    }
    Right(Rewritten(snap, dropped(tasks), touched, plan.groups.size, tasks.count(_._2),
      rewritten(tasks), sidecar))
  }

  /** Rows a job's groups read minus those they wrote, resumed ones too. */
  private def dropped(tasks: Vector[(TaskRow, Boolean)]): Long =
    tasks.map { case (t, _) => t.rows - t.outFiles.map(_.rows).sum }.sum

  /** Rows read by the groups this call ran, not the resumed ones. */
  private def rewritten(tasks: Vector[(TaskRow, Boolean)]): Long =
    tasks.collect { case (t, false) => t.rows }.sum

  // ---- job files ----------------------------------------------------------

  /** A JSON file of `jobId`'s ledger dir, if it exists. */
  private[maintain] def readJobFile(table: LakeTable, jobId: String,
                                    name: String): Option[JsonNode] =
    table.io.read(FileIO.path(jobDir(table, jobId), name)).map(MetaJson.read)

  /** Write one file of `jobId`'s ledger dir atomically ([[FileIO.replace]]):
    * a crash mid-write leaves the previous version or none, never a torn file.
    */
  private[maintain] def atomicWrite(table: LakeTable, jobId: String, name: String,
                                    body: String): Unit =
    table.io.replace(FileIO.path(jobDir(table, jobId), name), body)
}
