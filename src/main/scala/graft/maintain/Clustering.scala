package graft.maintain

import org.apache.spark.sql.functions._

import graft.functions.ZOrder
import graft.lake.{DataFile, LakeTable, Snapshot}

/** Z-order clustering on (conv_id, turn_idx) — the 64-bit interleave of the
  * order-preserving conv key and the turn index ([[graft.functions.ZOrder]]).
  *
  * The job is split into GROUPS of input files (~groupTargetBytes each,
  * grouped by conv range so already-clustered tables re-cluster
  * incrementally). Each group independently: scan -> zkey -> sort ->
  * write, through [[LakeTable.writeSorted]]: a group within one scan split
  * and 16 MB is one task with no Exchange, split into files by row count;
  * a larger one is range-repartitioned on (zkey, salt) first. Groups run
  * through the ledger's job protocol ([[Ledger.planOrResume]],
  * [[Ledger.runJob]]): each checkpoints before the one snapshot commit that
  * swaps all inputs for all outputs atomically.
  *
  * Why groups: (a) the checkpoint ledger gets real per-partition resume
  * granularity — a job killed at group 7/10 redoes only 3 groups; (b) at
  * 10^12-turn scale one global shuffle of the whole table is neither
  * restartable nor schedulable, while bounded groups pipeline.
  *
  * Skew: hot conversations are handled twice over — the zkey itself spreads
  * one conversation across its turn_idx bits, and on the shuffled path a
  * salt breaks ties for pathological duplicate keys inside
  * `repartitionByRange`'s sampled boundaries (AQE re-splits oversized
  * shuffle partitions at runtime). The one-task path splits by row count,
  * so duplicate keys cannot skew its files.
  */
object Clustering {

  final case class Result(snapshot: Snapshot, groups: Int, resumedGroups: Int,
                          rowsRewritten: Long)

  /** Salt buckets breaking ties between duplicate keys inside
    * `repartitionByRange`'s sampled boundaries.
    */
  private val Salts = 16

  /** `interruptAfter`: chaos/testing hook — abort (like a crash) after N
    * groups have checkpointed, exercising ledger resume.
    *
    * `curve`: "z" (default, bit-interleave) or "hilbert" (better worst-case
    * locality, no curve jumps). Persisted in the plan so a resumed job
    * keeps the exact curve it started with.
    *
    * `incremental`: when true (default) and the table was already
    * clustered, ONLY groups containing at least one file added since that
    * cluster commit are rewritten — clean slabs carry forward untouched
    * (files AND manifests). A merge touching 1% of conversations makes the
    * follow-up recluster cost ~1% of the table, not 100% — without this,
    * the maintenance cadence at 10^12 turns rewrites the world after every
    * drop. The first-ever clustering is always full.
    */
  def cluster(table: LakeTable, jobId: String,
              targetFileRows: Long = 1L << 20,
              groupTargetBytes: Long = 256L << 20,
              interruptAfter: Int = Int.MaxValue,
              curve: String = "z",
              incremental: Boolean = true): Result = {
    // Plan (or resume a previously persisted plan — NEVER replan mid-job;
    // the quantile cuts ARE the curve, so they persist with the plan).
    val plan = Ledger.planOrResume(table, jobId, "cluster", kind = "cluster") {
      val files = table.currentFiles
        .sortBy(f => (f.minConv.getOrElse(""), f.minTurn.getOrElse(0)))
      val allGroups = planGroups(files, groupTargetBytes)
      val toDo = if (incremental) dirtyGroups(table, allGroups) else allGroups
      // quantiles drift slowly under merges and only steer layout, never
      // correctness: a recluster reuses the last job's cuts, no sample pass
      val (convCuts, turnCuts) = previousCuts(table).getOrElse(quantileCuts(table, files))
      Ledger.Plan(table.currentSnapshotId.get, toDo.map(_.map(_.path)),
        convCuts, turnCuts, curve)
    } match {
      case Left(s) => return Result(s, 0, 0, 0L) // committed, or nothing dirty
      case Right(p) => p
    }

    // Groups are independent shuffles: submitted concurrently.
    def rewritten(tasks: Vector[(Ledger.TaskRow, Boolean)]): Long =
      tasks.collect { case (t, false) => t.rows }.sum
    val (snap, tasks) = Ledger.runJob(table, jobId, "cluster", plan,
      parallelism = Ledger.shuffleParallelism(table), interruptAfter) { (in, gi) =>
      val zkey =
        if (plan.curve == "hilbert")
          ZOrder.quantileHilbertKey(col("conv_id"), col("turn_idx"),
            plan.convCuts, plan.turnCuts)
        else ZOrder.quantileClusterKey(col("conv_id"), col("turn_idx"),
          plan.convCuts, plan.turnCuts)
      table.writeSorted(
        table.readData(in.map(f => table.absData(f.path))).withColumn("__zkey", zkey),
        s"$jobId-g$gi", in.map(_.bytes).sum, in.map(_.rows).sum, targetFileRows,
        Seq(col("__zkey")),
        salt = Some(pmod(xxhash64(col("conv_id"), col("turn_idx")), lit(Salts))),
        drop = Seq("__zkey"))
    } { tasks =>
      Map("groups" -> plan.groups.size.toString,
        "rows_rewritten" -> rewritten(tasks).toString)
    }
    Result(snap, plan.groups.size, tasks.count(_._2), rewritten(tasks))
  }

  /** The most recent cluster commit, resolved in O(1) metadata reads via
    * the `last_cluster_id` pointer every commit propagates. None when the
    * table was never clustered or that snapshot's metadata already expired.
    */
  def lastClusterSnapshot(table: LakeTable): Option[graft.lake.Snapshot] =
    table.currentSnapshot.flatMap(_.summary.get("last_cluster_id")).flatMap { id =>
      try Some(table.snapshot(id.toLong))
      catch { case _: Exception => None } // expired metadata: no baseline
    }

  /** Groups containing at least one DIRTY file — a file not present in the
    * most recent cluster commit's file set (i.e. added by a merge/append/
    * compaction since). No previous cluster commit (or its metadata already
    * expired) -> everything is dirty -> full clustering.
    */
  def dirtyGroups(table: LakeTable,
                  groups: Vector[Vector[DataFile]]): Vector[Vector[DataFile]] = {
    val clean: Option[Set[String]] = lastClusterSnapshot(table).flatMap { s =>
      try Some(table.dataFiles(s).map(_.path).toSet)
      catch { case _: Exception => None }
    }
    clean match {
      case None => groups
      case Some(c) => groups.filter(_.exists(f => !c(f.path)))
    }
  }

  /** Cuts from the most recent committed cluster job's persisted plan, if
    * any (the job id lives in the cluster snapshot's summary; the cuts in
    * its ledger plan).
    */
  def previousCuts(table: LakeTable): Option[(Array[Long], Array[Long])] =
    lastClusterSnapshot(table)
      .flatMap(_.summary.get("job_id"))
      .flatMap(jid => Ledger.readPlan(table, jid))
      .collect { case p if p.convCuts.nonEmpty => (p.convCuts, p.turnCuts) }

  /** One approxQuantile pass at plan time computes the bucket cuts for both
    * Z dimensions — quantiles, not min/max, so key-space outliers cannot
    * collapse the grid. At very large scale run this over a sample.
    *
    * BIT BUDGET (convBuckets=1024 -> 10 bits; turnBuckets=64 -> 6 bits):
    * deliberately asymmetric. With equal budgets, a HOT conversation (the
    * exact skew the north rule names) occupies every turn-rank bucket, so
    * its interleaved keys smear across the entire curve and its conv_id
    * poisons every file's min/max stats — conv-range pruning collapses to
    * 0 (observed empirically). Capping turn at 6 bits bounds any single
    * conversation's z-extent to 2^6 cells of the 2^16-cell curve (~0.1%):
    * hot convs stay confined to their conv slab, conv-range pruning meets
    * the >=90% bar, and turn locality still helps turn-slice scans within
    * slabs.
    */
  def quantileCuts(table: LakeTable, files: Vector[DataFile],
                   convBuckets: Int = 1024, turnBuckets: Int = 64): (Array[Long], Array[Long]) = {
    if (files.isEmpty) return (Array.empty, Array.empty)
    // Cut precision only has to be finer than a bucket, and bucket
    // boundaries only steer file layout — 0.004 relative error over a
    // bounded deterministic sample is indistinguishable for pruning, while
    // exact 4k-point sketches cost tens of seconds of driver-side merge.
    val totalRows = math.max(1L, files.map(_.rows).sum)
    val fraction = math.min(1.0, 2e6 / totalRows)
    val base = table.readData(files.map(f => table.absData(f.path)))
    val sampled = if (fraction < 1.0) base.sample(fraction, seed = 42L) else base
    val df = sampled.select(
      ZOrder.convOrderKey(col("conv_id")).cast("long").as("__ck"),
      coalesce(col("turn_idx").cast("long"), lit(0L)).as("__tk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def probs(n: Int) = (1 until n).map(_.toDouble / n).toArray
    val ck = df.stat.approxQuantile("__ck", probs(convBuckets), 0.004)
    val tk = df.stat.approxQuantile("__tk", probs(turnBuckets), 0.004)
    df.unpersist()
    (ck.map(_.toLong).distinct.sorted, tk.map(_.toLong).distinct.sorted)
  }

  /** Locality-aware planning. Incremental mode (files already carry tight
    * conv ranges — the usual case after merges/compactions wrote
    * range-partitioned output): greedy size-bounded groups over range-sorted
    * files, so each group is a disjoint conv slab and the job resumes at
    * group granularity. Cold mode (files span the whole key space — e.g.
    * the first-ever clustering of randomly loaded data): ONE global group,
    * i.e. one table-wide range shuffle — splitting a shuffle whose every
    * input overlaps every output range would just re-read everything per
    * group; a single AQE-assisted exchange is the right plan, and later
    * incremental runs get fine-grained resume.
    */
  def planGroups(files: Vector[DataFile], targetBytes: Long): Vector[Vector[DataFile]] = {
    if (files.isEmpty) return Vector.empty
    val keys = files.flatMap(f => f.minConv.map(ZOrder.convOrderKeyScala).toSeq ++
      f.maxConv.map(ZOrder.convOrderKeyScala).toSeq).map(_.toLong)
    val tableSpan = if (keys.isEmpty) 1L else math.max(1L, keys.max - keys.min)
    val spans = files.map { f =>
      (f.minConv.map(ZOrder.convOrderKeyScala), f.maxConv.map(ZOrder.convOrderKeyScala)) match {
        case (Some(a), Some(b)) => (b.toLong - a.toLong).toDouble / tableSpan
        case _ => 1.0
      }
    }.sorted
    val medianSpan = spans(spans.size / 2)
    if (medianSpan > 0.5) Vector(files) // cold: no locality to exploit
    else greedyGroups(files, targetBytes)
  }

  /** Greedy size-bounded grouping preserving the given (range-sorted) file
    * order, so groups approximate disjoint conv ranges.
    */
  def greedyGroups(files: Vector[DataFile], targetBytes: Long): Vector[Vector[DataFile]] = {
    if (files.isEmpty) return Vector.empty
    val out = Vector.newBuilder[Vector[DataFile]]
    var cur = Vector.newBuilder[DataFile]
    var acc = 0L
    var any = false
    files.foreach { f =>
      if (any && acc + f.bytes > targetBytes) {
        out += cur.result(); cur = Vector.newBuilder[DataFile]; acc = 0L; any = false
      }
      cur += f; acc += f.bytes; any = true
    }
    out += cur.result()
    out.result()
  }
}
