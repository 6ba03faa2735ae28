package steadybench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed (or warm-up) op as measured. */
final case class Sample(kind: String, seconds: Double, cpuS: Double, workCpuS: Double, turns: Long,
                        bytesIn: Long, bytesWritten: Long, dataBytesWritten: Long, traced: Boolean,
                        failure: Option[String], counts: Map[String, Double])

/** Benchmark process: builds the workload's lake, warms up, runs a closed
  * loop with one client for the given seconds, checks every op, and writes
  * the result object to `<work>/result.json`. With `trace` set, half the
  * timed cycles are traced and the result holds the per-layer metrics.
  *
  * Usage: steadybench.Main <workload> <seed> <seconds> <trace 0|1> <work dir>
  *          <cores> [max timed ops]
  */
object Main {

  /** The result's figures: common to every workload, never 0, and steady
    * enough across runs to hold their bounds. The host this benchmark was
    * written on has slow spells in which every op of a run takes up to 1.9x
    * as long; wall-clock figures then spread past any bound the benchmark
    * may set, so they are per-layer metrics and `METRIC` lines.
    */
  val EndToEnd: Vector[(String, String)] = Vector(
    "setup_s" -> "s", "work_cpu_s_per_kturn" -> "s", "heap_live_mb" -> "MB", "space_amp" -> "ratio")

  /** Cycle boundary of the timed phase at which space is measured. */
  val SpaceBoundary = 2

  val SpanMetrics: Vector[String] = Vector(
    "ingest.read", "ingest.parse", "maintain.merge", "maintain.tick", "lake.scan_plan")

  val CountMetrics: Vector[String] = Vector(
    "ingest.rows", "ingest.rejected_rows", "maintain.merge_files_touched",
    "maintain.merge_files_carried", "maintain.merge_manifests_opened",
    "maintain.compact_files", "maintain.dedupe_rows", "maintain.retention_rows",
    "maintain.cluster_rows", "maintain.expired_snapshots", "maintain.compact_task_s",
    "maintain.dedupe_task_s", "maintain.rowexpire_task_s", "maintain.cluster_task_s",
    "lake.files_selected_frac", "lake.manifests_opened_frac")

  def main(args: Array[String]): Unit = {
    val Array(wname, seedS, secondsS, traceS, workS, coresS) = args.take(6)
    val maxOps = args.lift(6).map(_.toInt).getOrElse(Int.MaxValue)
    val (seed, seconds, trace, cores) = (seedS.toLong, secondsS.toDouble, traceS == "1", coresS.toInt)
    val work = Paths.get(workS).toAbsolutePath

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"steadybench-$wname")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      // Spark keeps the status of recent jobs on the heap; a short history
      // keeps that from growing with the number of ops a run completes
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      Counters.install(spark)
      val w = Workload(wname, Ctx(spark, seed, work))
      val result = new Run(w, seconds, trace, maxOps, cores,
        work.getParent.resolve(s"spans-$wname-$seed.jsonl")).go()
      Files.writeString(work.resolve("result.json"), result)
    } catch {
      case e: Throwable => spark.stop(); throw e
    }
    // Everything is written; skip Spark's orderly shutdown, whose cleanup
    // of the run directory the caller does anyway.
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }

  /** Highest percentile with at least ten samples beyond it, if that is at
    * least the 75th: (percentile, value).
    */
  def tail(xs: collection.Seq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted
    val k = s.size - 11
    if (k < 0) None
    else {
      val pct = 100 * (k + 1) / s.size
      if (pct < 75) None else Some((pct, s(k)))
    }
  }

  def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  def json(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

final class Run(w: Workload, seconds: Double, trace: Boolean, maxOps: Int, cores: Int,
                spansOut: Path) {
  import Main._

  private val samples = scala.collection.mutable.ArrayBuffer.empty[Sample]

  private def root: Path = Paths.get(w.table.root)

  /** Directory walk after the latest op. */
  private var lastWalk = Map.empty[String, Long]

  /** Directory walk and live bytes at the `SpaceBoundary`-th cycle
    * boundary of the timed phase: amplification is measured there, so
    * every run measures the same lake state however many cycles fit in
    * its time. Mid-cycle, files a later tick expires would still count;
    * and files that only the engine's 24 h orphan and ledger grace keeps
    * grow with every cycle a run completes.
    */
  private var boundary: Option[(Map[String, Long], Long)] = None
  private var boundaries = 0

  private def runOp(op: Op, traced: Boolean): Sample = {
    op.before()
    val walk0 = DirWalk.sizes(root)
    Tracer.enabled = traced
    Tracer.beginOp(samples.size)
    val work0 = Counters.workCpuNs
    val cpu0 = Counters.processCpuNs
    val t0 = System.nanoTime()
    val err = try { Tracer.span(op.kind)(op.run()); None }
      catch { case NonFatal(e) => Some(s"${op.kind} threw $e") }
    val t1 = System.nanoTime()
    val cpu1 = Counters.processCpuNs
    val work1 = Counters.workCpuNs
    Tracer.enabled = false
    val walk1 = DirWalk.sizes(root)
    val written = DirWalk.newBytes(walk0, walk1)
    val dataWritten = DirWalk.newBytes(walk0, walk1.filter(_._1.startsWith("data/")))
    lastWalk = walk1
    val failure = err.orElse(try op.check() catch { case NonFatal(e) => Some(s"check threw $e") })
    failure.foreach(f => println(s"FAIL $f"))
    val ok = err.isEmpty
    Sample(op.kind, (t1 - t0) / 1e9, (cpu1 - cpu0) / 1e9, (work1 - work0) / 1e9,
      if (ok) op.turns else 0L,
      op.bytesIn, written, dataWritten, traced, failure, if (ok) op.layerCounts else Map.empty)
  }

  private def liveBytes(walk: Map[String, Long]): Long =
    w.table.currentFiles.map(f => walk.getOrElse(f.path, 0L)).sum

  def go(): String = {
    def wallS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val marks = scala.collection.mutable.ArrayBuffer((0L, 0.0))
    def mark(): Unit = marks += ((Counters.processCpuNs, wallS))
    mark()
    w.prepare()
    mark()
    w.build()
    mark()
    // one warm-up (JIT, codegen) on the lake the timed ops continue
    val warmFailures = (1 to w.warmupOps).count(_ => runOp(w.next(), traced = false).failure.nonEmpty)
    mark()
    val setupS = marks.last._1 / 1e9
    val split = Seq("session", "prepare", "build", "warmup").zipWithIndex.map { case (n, i) =>
      f"$n=${(marks(i + 1)._1 - marks(i)._1) / 1e9}%.3f/${marks(i + 1)._2 - marks(i)._2}%.3f" }
    println(s"SETUP cpu/wall_s ${split.mkString(" ")} setup_s=${json(setupS)} wall_s=${f"${marks.last._2}%.3f"}")

    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    while (samples.size < maxOps && (elapsed < seconds || !w.atBoundary)) {
      // Trace one cycle of each pair, a pseudo-random one: both halves then
      // hold the same mix of drop kinds, and on lake_read, where every op
      // ends a cycle, a fixed alternation would alias with the read pool.
      samples += runOp(w.next(), traced = trace && (boundaries + Gen.pick(2, boundaries / 2, 7)) % 2 == 1)
      if (w.atBoundary) {
        boundaries += 1
        if (boundaries <= SpaceBoundary) boundary = Some((lastWalk, liveBytes(lastWalk)))
      }
    }
    // twice, so blocks Spark's cleaner frees after the first are gone too
    System.gc(); Thread.sleep(200); System.gc()
    val heapLiveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val finalFailure = try w.finish() catch { case NonFatal(e) => Some(s"final check threw $e") }
    finalFailure.foreach(f => println(s"FAIL $f"))

    val (walk, live) = boundary.getOrElse { val wk = DirWalk.sizes(root); (wk, liveBytes(wk)) }
    val total = walk.values.sum
    val attempted = samples.size
    val failed = math.min(attempted, samples.count(_.failure.nonEmpty) + finalFailure.size)
    val correct = failed == 0 && warmFailures == 0

    def secs(kind: String) = samples.filter(_.kind == kind).map(_.seconds).toSeq
    val turns = samples.map(_.turns).sum.toDouble
    val wall = samples.map(_.seconds).sum
    val bytesIn = samples.map(_.bytesIn).sum
    val e2e = Map(
      "setup_s" -> setupS,
      "work_cpu_s_per_kturn" -> samples.map(_.workCpuS).sum / (turns / 1000),
      "heap_live_mb" -> heapLiveMb,
      "op_s_mean" -> secs(w.mainKind).sum / secs(w.mainKind).size,
      "turns_per_s" -> turns / wall,
      "cpu_s_per_kturn" -> samples.map(_.cpuS).sum / (turns / 1000),
      "peak_rss_mb" -> peakRssMb,
      "space_amp" -> total.toDouble / math.max(1L, live))
    val byDir = walk.groupBy(_._1.takeWhile(_ != '/')).map { case (d, fs) => d -> fs.values.sum }
      .toSeq.sortBy(_._1)
    report(e2e, attempted, failed, bytesIn, live, total, byDir)
    println("OPS " + samples.map(s => f"${s.kind}:${s.seconds}%.3f").mkString(" "))
    // Data files only: metadata and ledger JSON also hold timings and
    // wall-clock stamps, whose digits change their size from run to run.
    val dataTotal = walk.collect { case (k, v) if k.startsWith("data/") => v }.sum
    println(s"AMP data_write_amp=${json(samples.map(_.dataBytesWritten).sum.toDouble / math.max(1L, bytesIn))} " +
      s"data_space_amp=${json(dataTotal.toDouble / math.max(1L, live))}")

    val metrics =
      if (!trace) EndToEnd.map { case (n, u) => n -> (e2e(n), u) }
      else layers(live, total)
    val body = metrics.map { case (n, (v, u)) =>
      s""""$n": {"value": ${json(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }

  /** The 14 named end-to-end figures, each with its unit; a figure that
    * does not apply to this workload, or a tail the run cannot support,
    * prints as n/a.
    */
  private def report(e2e: Map[String, Double], attempted: Int, failed: Int,
                     bytesIn: Long, live: Long, total: Long, byDir: Seq[(String, Long)]): Unit = {
    def kind(k: String) = samples.filter(_.kind == k).map(_.seconds).toSeq
    def p50(k: String) = { val s = kind(k); if (s.isEmpty) None else Some(median(s)) }
    def tailOf(k: String) = { val s = kind(k); if (s.isEmpty) None else Some(tail(s)) }
    def fmt(v: Option[Double]) = v.map(x => f"$x%.6g").getOrElse("n/a")
    def tailStr(k: String) = tailOf(k) match {
      case None => "n/a"
      case Some(None) => s"n/a(n=${kind(k).size})"
      case Some(Some((p, v))) => f"$v%.6g(p$p,n=${kind(k).size})"
    }
    val writes = w.name != "lake_read"
    val rows = Seq(
      ("setup_s", "s", fmt(e2e.get("setup_s"))),
      ("peak_rss_mb", "MB", fmt(e2e.get("peak_rss_mb"))),
      ("fail_frac", "ratio", fmt(Some(failed.toDouble / math.max(1, attempted)))),
      ("cpu_s_per_kturn", "s", fmt(e2e.get("cpu_s_per_kturn"))),
      ("drop_s_p50", "s", fmt(p50("drop"))),
      ("drop_s_tail", "s", tailStr("drop")),
      ("ingest_turns_per_s", "1/s", fmt(if (w.name == "drop_ingest") e2e.get("turns_per_s") else None)),
      ("tick_s_p50", "s", fmt(p50("tick"))),
      // the debris workload it measures is folded into drop_ingest's ticks
      ("absorb_turns_per_s", "1/s", "n/a"),
      ("read_s_p50", "s", fmt(p50("read"))),
      ("read_s_tail", "s", tailStr("read")),
      ("scan_s_p50", "s", fmt(p50("scan"))),
      ("write_amp", "ratio", fmt(if (writes) Some(samples.map(_.bytesWritten).sum.toDouble / bytesIn) else None)),
      ("space_amp", "ratio", fmt(if (writes) e2e.get("space_amp") else None)))
    val counts = samples.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, s) => s"$k=${s.size}" }
    println(s"REPORT workload=${w.name} ops=${samples.size} (${counts.mkString(" ")}) " +
      s"checks=${if (failed == 0) "pass" else s"FAIL($failed)"} bytes_in=$bytesIn " +
      s"live_bytes=$live total_bytes=$total (${byDir.map { case (d, b) => s"$d=$b" }.mkString(" ")})")
    rows.foreach { case (n, u, v) => println(s"METRIC $n = $v $u") }
  }

  /** Per-layer metrics from the traced ops, plus the self-time table and
    * the tracing overhead.
    */
  private def layers(live: Long, total: Long): Vector[(String, (Double, String))] = {
    val traced = samples.filter(_.traced)
    val self = Tracer.selfSeconds
    val spans = Tracer.spans.toVector
    println("SELF layer spans total_s self_s spark_jobs")
    spans.groupBy(_.name).toSeq.sortBy(-_._2.map(s => self(s.id)).sum).foreach { case (n, ss) =>
      val jobs = ss.map(s => s.c1(Counters("spark.jobs")) - s.c0(Counters("spark.jobs"))).sum
      println(f"SELF $n ${ss.size} ${ss.map(_.seconds).sum}%.4f ${ss.map(s => self(s.id)).sum}%.4f ${jobs.toLong}")
    }
    def meanSelf(n: String) = {
      val ss = spans.filter(_.name == n)
      if (ss.isEmpty) 0.0 else ss.map(s => self(s.id)).sum / ss.size
    }
    val roots = spans.filter(_.parent == -1)
    def meanCounter(n: String) =
      if (roots.isEmpty) 0.0
      else roots.map(s => s.c1(Counters(n)) - s.c0(Counters(n))).sum / roots.size
    def meanCount(n: String) = {
      val vs = traced.flatMap(_.counts.get(n))
      if (vs.isEmpty) 0.0 else vs.sum / vs.size
    }
    val slotS = roots.map(_.seconds).sum * cores
    val busy = if (slotS == 0) 0.0
      else roots.map(s => s.c1(Counters("spark.exec_run_s")) - s.c0(Counters("spark.exec_run_s"))).sum / slotS
    val main = samples.filter(_.kind == w.mainKind)
    val (on, off) = main.partition(_.traced)
    val clean = samples.filterNot(_.traced)
    def mean(ss: collection.Seq[Sample]) = ss.map(_.seconds).sum / ss.size
    val overhead = if (on.isEmpty || off.isEmpty) 0.0 else mean(on) / mean(off) - 1
    Tracer.write(spansOut)
    println(f"TRACE overhead_frac=$overhead%.4f traced_${w.mainKind}_s_mean=${mean(on)}%.6f " +
      f"untraced_${w.mainKind}_s_mean=${mean(off)}%.6f spans=$spansOut")
    val bytesWritten = if (traced.isEmpty) 0.0 else traced.map(_.bytesWritten).sum.toDouble / traced.size
    SpanMetrics.map(n => s"${n}_s" -> (meanSelf(n), "s")) ++
      CountMetrics.map(n => n -> (meanCount(n), if (n.endsWith("_s")) "s" else if (n.endsWith("frac")) "ratio" else "count")) ++
      Vector("lake.bytes_written" -> (bytesWritten, "bytes"), "lake.live_bytes" -> (live.toDouble, "bytes"),
        "lake.total_bytes" -> (total.toDouble, "bytes")) ++
      Counters.Names.map(n => n -> (meanCounter(n),
        if (n.endsWith("_s")) "s" else if (n.endsWith("_bytes")) "bytes" else "count")) ++
      Vector("spark.busy_frac" -> (busy, "ratio"), "trace.overhead_frac" -> (overhead, "ratio"),
        // time figures over the untraced ops of this run, which follow the
        // host's slow spells, and the process's peak resident memory
        "op_s_mean" -> (mean(off), "s"),
        "op_s_p50" -> (median(off.map(_.seconds)), "s"),
        "op_cpu_s_p50" -> (median(off.map(_.workCpuS)), "s"),
        "turns_per_s" -> (clean.map(_.turns).sum / clean.map(_.seconds).sum, "1/s"),
        "cpu_s_per_kturn" -> (clean.map(_.cpuS).sum / (clean.map(_.turns).sum / 1000.0), "s"),
        "peak_rss_mb" -> (peakRssMb, "MB"))
  }
}
