package graft.maintain

import org.apache.spark.sql.functions._

import graft.lake.{DataFile, LakeTable, Snapshot}

/** Bin-packing small-file compaction: files below `smallFileBytes` are
  * packed first-fit-decreasing into ~targetBytes bins; each bin is read,
  * re-sorted on the cluster key and rewritten as ONE file — a pure
  * coalesce, NO shuffle (the expensive global ordering work belongs to
  * [[Clustering]], not here). Bins run through the ledger's job protocol
  * ([[Ledger.planOrResume]], [[Ledger.runJob]]), so a restarted job skips
  * finished bins.
  */
object Compaction {

  final case class Result(snapshot: Option[Snapshot], bins: Int, resumedBins: Int,
                          filesCompacted: Int)

  def compact(table: LakeTable, jobId: String,
              smallFileBytes: Long = 32L << 20,
              targetBytes: Long = 128L << 20): Result = {
    val plan = Ledger.planOrResume(table, jobId, "compact", kind = "compact") {
      val small = table.currentFiles.filter(_.bytes < smallFileBytes)
      val bins = firstFitDecreasing(small, targetBytes)
        .filter(_.size > 1) // a lone small file gains nothing from rewrite
        .map(_.map(_.path))
      Ledger.Plan(table.currentSnapshotId.get, bins)
    } match {
      case Left(s) => return Result(Some(s), 0, 0, 0)
      case Right(p) => p
    }

    // Bins are single-task coalesce jobs: submit them CONCURRENTLY so they
    // fill the executors instead of running one task at a time.
    val nCompacted = plan.groups.flatten.distinct.size
    val (snap, tasks) = Ledger.runJob(table, jobId, "compact", plan,
      parallelism = table.spark.sparkContext.defaultParallelism) { (in, bi) =>
      val df = table.readData(in.map(f => table.absData(f.path)))
        .coalesce(1) // merge partitions without shuffling
        .sortWithinPartitions(col("conv_id"), col("turn_idx"))
      table.writeDataFiles(df, s"$jobId-b$bi")
    } { _ =>
      Map("bins" -> plan.groups.size.toString,
        "files_compacted" -> nCompacted.toString)
    }
    Result(Some(snap), plan.groups.size, tasks.count(_._2), nCompacted)
  }

  /** Classic FFD: sort descending by size, place each file into the first
    * bin with room, open a new bin otherwise.
    */
  def firstFitDecreasing(files: Vector[DataFile], targetBytes: Long): Vector[Vector[DataFile]] = {
    val bins = scala.collection.mutable.ArrayBuffer.empty[(Long, scala.collection.mutable.ArrayBuffer[DataFile])]
    files.sortBy(-_.bytes).foreach { f =>
      bins.indexWhere(_._1 + f.bytes <= targetBytes) match {
        case -1 => bins += ((f.bytes, scala.collection.mutable.ArrayBuffer(f)))
        case i => val (sz, buf) = bins(i); buf += f; bins(i) = (sz + f.bytes, buf)
      }
    }
    bins.map(_._2.toVector).toVector
  }
}
