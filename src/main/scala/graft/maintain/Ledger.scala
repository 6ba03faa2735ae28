package graft.maintain

import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.lake.{DataFile, FileIO, LakeTable, MetaJson, Snapshot}

import scala.jdk.CollectionConverters._

/** Per-partition checkpoint ledger (north rule): every maintenance job
  * records, per task, its input-file lineage, output files and rewrite
  * metrics BEFORE the final snapshot commit. A restarted job reads the
  * ledger, skips `done` tasks (reusing their outputs verbatim), and only
  * recomputes pending ones — the reference's idempotent backfill semantics
  * (file_service.py:113-137: cached artifact served, missing one rebuilt)
  * generalized to distributed maintenance.
  *
  * The job protocol lives here once — [[planOrResume]] then [[runJob]] —
  * and every group-rewrite operation ([[Compaction]], [[Clustering]],
  * [[Dedupe]], [[DeleteFrom]]) runs through it, supplying only how it
  * plans groups, what it writes for one group, and how it reports.
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
    * cuts) before any work starts; resume MUST reuse the stored plan — and
    * the stored CURVE — not recompute them.
    */
  def writePlan(table: LakeTable, jobId: String, baseSnapshotId: Long,
                groups: Vector[Vector[String]],
                convCuts: Array[Long] = Array.empty,
                turnCuts: Array[Long] = Array.empty,
                curve: String = "z", kind: String = ""): Unit = {
    val o = MetaJson.mapper.createObjectNode()
    o.put("job_id", jobId)
    o.put("base_snapshot_id", baseSnapshotId)
    o.put("curve", curve)
    o.put("kind", kind)
    val arr = o.putArray("groups")
    groups.foreach { g => val ga = arr.addArray(); g.foreach(ga.add) }
    val cc = o.putArray("conv_cuts"); convCuts.foreach(cc.add)
    val tc = o.putArray("turn_cuts"); turnCuts.foreach(tc.add)
    atomicWrite(table, jobId, "plan.json", MetaJson.write(o))
  }

  def readPlan(table: LakeTable, jobId: String): Option[Plan] =
    readJobFile(table, jobId, "plan.json").map { n =>
      val groups = n.get("groups").elements().asScala.map { g =>
        g.elements().asScala.map(_.asText).toVector
      }.toVector
      def longs(k: String): Array[Long] = Option(n.get(k)).map(
        _.elements().asScala.map(_.asLong).toArray).getOrElse(Array.empty)
      Plan(n.get("base_snapshot_id").asLong, groups,
        longs("conv_cuts"), longs("turn_cuts"),
        Option(n.get("curve")).map(_.asText).getOrElse("z"),
        Option(n.get("kind")).map(_.asText).getOrElse(""))
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
    // per-operation marker first, then the legacy single marker (matching
    // operation only). A marker for a DIFFERENT operation proves nothing
    // about this one — fall through to the chain walk, never early-None.
    val marker = readJobFile(table, jobId, s"commit-$operation.json")
      .orElse(readJobFile(table, jobId, "commit.json"))
      .filter(_.get("operation").asText == operation)
    marker.foreach { n =>
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
    * incremental clustering/compaction is a cheap no-op, not a correctness
    * hazard.
    */
  def expireJobs(table: LakeTable, olderThanMs: Long,
                 nowMs: Long = System.currentTimeMillis()): ExpireResult = {
    val deleted = Vector.newBuilder[String]
    val failures = Vector.newBuilder[String]
    table.io.list(table.ledgerDir).foreach { jobId =>
      val dir = jobDir(table, jobId)
      try {
        val files = table.io.list(dir) // empty for a stray non-directory
        val committed = files.exists(n => n.startsWith("commit") && n.endsWith(".json"))
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

  /** Idempotence guard, then resume-or-plan. `Left(snapshot)` means there
    * is nothing to run: the job already committed (its snapshot), or its
    * plan has no groups — then the job is marked committed at the current
    * snapshot, so a replay is O(1) and the ledger dir is swept like any
    * finished job's. `Right(plan)` is the persisted plan to run.
    *
    * A stored plan is reused, NEVER recomputed (its groups, cuts and curve
    * are the job), and must match this invocation: same `kind` — the
    * operation plus whatever parameters change its meaning — and a base
    * snapshot that is still current. A kind that is just the operation
    * name pins no parameters, so it also accepts a legacy kind-less plan.
    * `compute` runs only when no plan exists; its plan is persisted (with
    * `kind`) before any group starts.
    */
  def planOrResume(table: LakeTable, jobId: String, operation: String,
                   kind: String)(compute: => Plan): Either[Snapshot, Plan] = {
    committedJobSnapshot(table, jobId, operation).foreach(s => return Left(s))
    val plan = readPlan(table, jobId) match {
      case Some(p) =>
        require(p.kind == kind || (p.kind.isEmpty && kind == operation),
          s"ledger plan for $jobId is '${p.kind}' but this invocation is " +
            s"'$kind' — job-id collision, changed parameters or changed " +
            "predicate; use a fresh jobId")
        require(table.currentSnapshotId.contains(p.baseSnapshotId),
          s"stale $operation plan for $jobId: computed on snapshot " +
            s"${p.baseSnapshotId} but current is ${table.currentSnapshotId}")
        p
      case None =>
        val p = compute.copy(kind = kind)
        writePlan(table, jobId, p.baseSnapshotId, p.groups, p.convCuts,
          p.turnCuts, p.curve, p.kind)
        p
    }
    if (plan.groups.forall(_.isEmpty)) {
      // nothing to rewrite: no commit, no empty files (same rule as a
      // no-op merge); the job is still marked so replays stay O(1)
      val cur = table.currentSnapshot.get
      markCommitted(table, jobId, operation, cur.id)
      Left(cur)
    } else Right(plan)
  }

  /** Group parallelism for jobs whose groups are shuffles: a few at a time,
    * each already fans out over the executors. Single-task coalesce groups
    * (compaction bins) use `defaultParallelism` instead.
    */
  def shuffleParallelism(table: LakeTable): Int =
    math.max(2, table.spark.sparkContext.defaultParallelism / 8)

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

  // ---- per-file counts sidecar --------------------------------------------

  /** Persist a planned job's per-file row counts (keyed by data file path),
    * with the planning facts a resume reuses (`facts`: each a String or a
    * Long), atomically beside the plan. Written BEFORE the plan, so a plan
    * on disk implies its counts exist.
    */
  def writeCounts(table: LakeTable, jobId: String, name: String,
                  counts: Map[String, Long], facts: (String, Any)*): Unit = {
    val o = MetaJson.mapper.createObjectNode()
    facts.foreach {
      case (k, v: Long) => o.put(k, v)
      case (k, v) => o.put(k, String.valueOf(v))
    }
    val c = o.putObject("counts")
    counts.toSeq.sortBy(_._1).foreach { case (k, v) => c.put(k, v) }
    atomicWrite(table, jobId, name, MetaJson.write(o))
  }

  /** A planned job's counts sidecar `name`: its per-file counts, and the
    * whole document for its facts. A plan without one fails loudly: the
    * counts are what its groups check their writes against.
    */
  def readCounts(table: LakeTable, jobId: String,
                 name: String): (Map[String, Long], JsonNode) = {
    val n = readJobFile(table, jobId, name).getOrElse(throw new IllegalStateException(
      s"plan for $jobId exists but its victim counts ($name) are missing"))
    (n.get("counts").fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap, n)
  }

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
