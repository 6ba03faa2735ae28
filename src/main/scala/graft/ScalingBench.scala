package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.lake.LakeTable
import graft.maintain.{Clustering, MergeInto}
import graft.synth.TranscriptSynth

/** Maintenance-throughput scaling evidence (BASELINE.json): the identical
  * clustering job over the identical synthetic transcript table at two
  * parallelism levels — taskset-pinned N vs 4N cores with shuffle
  * partitions scaled to cores (no real cluster exists in this sandbox; this
  * is the sanctioned stand-in for N vs 4N executors). Reports turns/sec at
  * both, scaling efficiency = thr(4N) / (4 * thr(N)), the post-cluster
  * prune ratio, AND the process-CPU-seconds of the maintain phase — the
  * CPU-share decomposition separates compute scaling (which a real cluster
  * reproduces) from the single shared sandbox disk (which it does not:
  * per-node disks/NICs multiply with executors).
  *
  * Env:
  *   SPARK_GRAFT_BENCH_DIR — base dir for tables + shuffle (point at
  *     /dev/shm/... to measure with node-local-speed storage; default
  *     target/scalebench on the shared sandbox disk).
  *
  * Usage: `scripts/scaling_bench.sh [nConvs]`, which runs the modes of
  * [[main]] (deterministic seed 42).
  */
object ScalingBench {

  final case class RunResult(cores: Int, rows: Long, loadSec: Double,
                             maintainSec: Double, throughput: Double,
                             pruneRatio: Double, files: Int,
                             cpuSec: Double = 0.0,
                             mergeSec: Double = 0.0, mergeStaged: Long = 0L,
                             mergeTouched: Int = 0, mergeCarried: Int = 0,
                             reclusterSec: Double = 0.0, reclusterRows: Long = 0L)

  private def baseDir: String =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR", "target/scalebench")

  def runAt(cores: Int, nConvs: Int): RunResult = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-scalebench-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // zstd shuffle: fewer bytes over the (shared, non-scaling) disk
      .config("spark.io.compression.codec", "zstd")
      // shuffle/spill files live next to the table (tmpfs when benchdir is)
      .config("spark.local.dir", s"$baseDir/spark-local-c$cores")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    try {
      val root = Paths.get(baseDir, s"c$cores").toString
      LakeTable.deleteRecursively(Paths.get(root))

      val t0 = System.nanoTime()
      val t = LakeTable.create(spark, root,
        org.apache.spark.sql.types.StructType(TranscriptSynth.schema))
      // fixed layout (NOT a function of cores): both runs see byte-identical
      // input tables, so only execution parallelism differs
      t.append(TranscriptSynth.turns(spark, nConvs, seed = 42L)
        .repartition(128), "load")
      val rows = t.currentFiles.map(_.rows).sum
      val loadSec = (System.nanoTime() - t0) / 1e9

      // Settle the load phase's dirty pages before measuring maintenance:
      // otherwise the run pinned to ALL cores fights the kernel flushing
      // its own load writes (observed: identical quantile pass 5x slower).
      try { new ProcessBuilder("sync").start().waitFor(); Thread.sleep(10000) }
      catch { case _: Exception => () }

      val cpu0 = osBean.getProcessCpuTime
      val t1 = System.nanoTime()
      Clustering.cluster(t, "bench-cluster",
        targetFileRows = math.max(10000L, rows / 64))
      val maintainSec = (System.nanoTime() - t1) / 1e9
      val cpuSec = (osBean.getProcessCpuTime - cpu0) / 1e9

      // prune ratio on a ~1% conv range
      val lo = f"c${nConvs / 2}%08d"; val hi = f"c${nConvs / 2 + nConvs / 100}%08d"
      val scan = t.scan(convRange = Some((lo, hi)))

      // MERGE throughput (separate from the clustering maintain
      // metric): a correction drop touching the same ~1% conv range —
      // evidence that a merge's cost follows the TOUCHED slice, not the
      // table (manifest pre-filter + commitDelta carry-forward).
      val drop = t.scan(convRange = Some((lo, hi))).df
        .select(col("conv_id"), col("turn_idx").cast("string").as("turn_idx"),
          lit("").as("role"),
          concat(lit("corrected "), col("text")).as("text"),
          lit("").as("tool"),
          monotonically_increasing_id().as("_seq"))
      val t4 = System.nanoTime()
      val mr = MergeInto.merge(t, drop, "bench-merge",
        targetFileRows = math.max(10000L, rows / 64))
      val mergeSec = (System.nanoTime() - t4) / 1e9

      // post-merge INCREMENTAL recluster: only slabs containing merge output
      // rewrite (cut reuse skips the sample pass) — at 10^12 turns this is
      // the steady-state maintenance cost per drop, not the full cluster.
      // Group size scaled to the bench table (the production 256 MB default
      // would be half this small table, hiding the slab granularity).
      val t5 = System.nanoTime()
      val rc = Clustering.cluster(t, "bench-recluster",
        targetFileRows = math.max(10000L, rows / 64),
        groupTargetBytes = 32L << 20)
      val reclusterSec = (System.nanoTime() - t5) / 1e9

      RunResult(cores, rows, loadSec, maintainSec, rows / maintainSec,
        scan.prune.ratio, t.currentFiles.size,
        cpuSec = cpuSec,
        mergeSec = mergeSec, mergeStaged = mr.stagedRows,
        mergeTouched = mr.touchedFiles, mergeCarried = mr.carriedFiles,
        reclusterSec = reclusterSec, reclusterRows = rc.rowsRewritten)
    } finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  private def resultJson(r: RunResult): String =
    s"""{"cores":${r.cores},"rows":${r.rows},"load_sec":${r.loadSec},""" +
      s""""maintain_sec":${r.maintainSec},"throughput":${r.throughput},""" +
      s""""prune_ratio":${r.pruneRatio},"files":${r.files},""" +
      s""""cpu_sec":${r.cpuSec},"merge_sec":${r.mergeSec},""" +
      s""""merge_staged":${r.mergeStaged},"merge_touched":${r.mergeTouched},""" +
      s""""merge_carried":${r.mergeCarried},"recluster_sec":${r.reclusterSec},""" +
      s""""recluster_rows":${r.reclusterRows}}"""

  private def resultFromJson(path: String): RunResult = {
    val n = graft.lake.MetaJson.read(Files.readString(Paths.get(path)))
    def d(k: String): Double = Option(n.get(k)).map(_.asDouble).getOrElse(0.0)
    RunResult(n.get("cores").asInt, n.get("rows").asLong, n.get("load_sec").asDouble,
      n.get("maintain_sec").asDouble, n.get("throughput").asDouble,
      n.get("prune_ratio").asDouble, n.get("files").asInt,
      d("cpu_sec"),
      d("merge_sec"), Option(n.get("merge_staged")).map(_.asLong).getOrElse(0L),
      Option(n.get("merge_touched")).map(_.asInt).getOrElse(0),
      Option(n.get("merge_carried")).map(_.asInt).getOrElse(0),
      d("recluster_sec"), Option(n.get("recluster_rows")).map(_.asLong).getOrElse(0L))
  }

  /** Modes:
    *   `single <cores> <nConvs> <outJson>` — one pinned run (wrap with
    *     `taskset -c ...` so the JVM genuinely sees N CPUs: a local[8]
    *     session on a 32-core box otherwise still burns 32 cores in GC /
    *     shuffle / IO threads and flatters the small run);
    *   `report <jsonN> <json4N>` — combine two pinned runs into BENCH.md.
    */
  def main(args: Array[String]): Unit = args match {
    case Array("single", cores, nConvs, out) =>
      val r = runAt(cores.toInt, nConvs.toInt)
      Files.createDirectories(Paths.get(out).toAbsolutePath.getParent)
      Files.writeString(Paths.get(out), resultJson(r))
      println(resultJson(r))
    case Array("report", p8, p32) =>
      report(resultFromJson(p8), resultFromJson(p32))
    case _ =>
      throw new IllegalArgumentException(
        "usage: ScalingBench single <cores> <nConvs> <outJson> | report <jsonN> <json4N>")
  }

  def report(r8: RunResult, r32: RunResult): Unit = {
    val factor = r32.cores.toDouble / r8.cores
    val efficiency = r32.throughput / (factor * r8.throughput)
    // Same job, same data: ideal scaling spends the SAME total CPU seconds
    // at both sizes. cpuShare = thr-per-cpu-second ratio: how much of the
    // wall-clock gap is extra compute (none if ~1.0) vs waiting on the
    // shared disk (everything else).
    val cpuShare =
      if (r8.cpuSec > 0 && r32.cpuSec > 0) r8.cpuSec / r32.cpuSec else 0.0
    val storage = if (baseDir.startsWith("/dev/shm")) "tmpfs (node-local model)"
      else "shared sandbox disk"

    val md =
      f"""
         |## Maintenance scaling run (${java.time.Instant.now()}, CPU-pinned via taskset, $storage)
         |
         |Identical clustering job, identical deterministic input
         |(${r8.rows} turns, seed 42), two parallelism levels
         |(stand-in for N vs 4N executors; shuffle partitions = cores):
         |
         || cores | turns | maintain sec | cpu sec | throughput (turns/s) | prune ratio | files |
         ||---|---|---|---|---|---|---|
         || ${r8.cores}  | ${r8.rows} | ${r8.maintainSec}%.1f | ${r8.cpuSec}%.1f | ${r8.throughput}%.0f | ${r8.pruneRatio}%.3f | ${r8.files} |
         || ${r32.cores} | ${r32.rows} | ${r32.maintainSec}%.1f | ${r32.cpuSec}%.1f | ${r32.throughput}%.0f | ${r32.pruneRatio}%.3f | ${r32.files} |
         |
         |**Scaling efficiency (${r8.cores} -> ${r32.cores} cores) = ${efficiency}%.2f**
         |(target >= 0.8, BASELINE.json). CPU-share efficiency (cpu-seconds
         |small/big, 1.0 = zero redundant compute at 4N) = ${cpuShare}%.2f.
         |
         |MERGE of a ~1%% conv-range correction drop (O(touched-slice), not
         |O(table) — manifest pre-filter + commitDelta carry-forward):
         |${r8.cores} cores ${r8.mergeStaged} staged rows in ${r8.mergeSec}%.1f s
         |(${r8.mergeTouched} files rewritten, ${r8.mergeCarried} carried);
         |${r32.cores} cores in ${r32.mergeSec}%.1f s. Post-merge INCREMENTAL
         |recluster: ${r32.reclusterRows} rows (${100.0 * r32.reclusterRows / r32.rows}%.1f%%
         |of the table) in ${r32.reclusterSec}%.1f s at ${r32.cores} cores —
         |steady-state maintenance cost follows the drop, not the table.
         |""".stripMargin
    val benchMd = Paths.get("BENCH.md")
    val existing = if (Files.exists(benchMd)) Files.readString(benchMd)
      else "# BENCH — maintenance throughput & scaling evidence\n"
    Files.writeString(benchMd, existing + md)

    println(s"""{"metric":"maintenance_scaling","turns":${r8.rows},""" +
      s""""throughput_${r8.cores}":${r8.throughput.toLong},"throughput_${r32.cores}":${r32.throughput.toLong},""" +
      s""""efficiency":$efficiency,"cpu_share":$cpuShare,"prune_ratio":${r32.pruneRatio}}""")
  }
}
