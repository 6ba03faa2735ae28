package steadybench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.LakeTable

/** What every workload shares: the session, the seed and its directory. */
final case class Ctx(spark: SparkSession, seed: Long, work: Path)

/** One operation of a closed loop. `run` is the timed part; `before` and
  * `check` run untimed around it. `turns` and `bytesIn` are read after
  * `run`: turns processed, and bytes brought into the table.
  */
trait Op {
  def kind: String
  def before(): Unit = ()
  def run(): Unit
  def check(): Option[String]
  def turns: Long
  def bytesIn: Long = 0L
  /** Result counters of the call, by per-layer metric name. */
  def layerCounts: Map[String, Double] = Map.empty
}

trait Workload {
  def name: String
  /** Kind of op whose latency is `op_s_p50`. */
  def mainKind: String
  def warmupOps: Int
  /** Render inputs and precompute the oracle, once per process. */
  def prepare(): Unit
  /** Build a fresh lake; the op sequence restarts at op 0. */
  def build(): Unit
  def next(): Op
  /** True when the ops so far end a maintenance cycle. A run measures
    * whole cycles, so each holds the same share of maintenance, and space
    * is measured there: mid-cycle, files a later tick expires still count.
    */
  def atBoundary: Boolean = true
  /** Checks over the final state; None when they pass. */
  def finish(): Option[String]
  def table: LakeTable
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "drop_ingest" => new DropIngest(ctx)
    case "quoted_probe" => new DropIngest(ctx, quotedShare = 1.0)
    case "lake_read" => new LakeRead(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Order-independent checksum of rows: the sum of a hash of each row's
    * canonical string. Computed the same way on engine and oracle rows.
    */
  def checksum(rows: Iterable[Row]): Long =
    rows.iterator.map(r => scala.util.hashing.MurmurHash3.stringHash(
      r.toSeq.map(v => if (v == null) "\u0000" else v.toString).mkString("\u0001")).toLong).sum

  /** Plain-Spark content checksum: row count and the sum of a 64-bit hash
    * of every listed column, for comparing a table with its oracle.
    */
  def contentSum(df: DataFrame, cols: Seq[String]): (Long, java.math.BigDecimal) = {
    // the 64-bit hashes are summed as decimals, so the sum never overflows
    val h = xxhash64(cols.map(col): _*).cast("decimal(20,0)")
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  def freshDir(p: Path): Path = {
    LakeTable.deleteRecursively(p)
    Files.createDirectories(p)
  }

  def totalRows(t: LakeTable): Long =
    t.currentSnapshot.map(_.summary("total_rows").toLong).getOrElse(0L)
}
