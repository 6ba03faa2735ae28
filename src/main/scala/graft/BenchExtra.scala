package graft

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftx.Bridge

/** Measurement-only harness for the optimization rounds (guide §1): times
  * individual SparkEntry queries in isolation with repeat counts, a
  * noop-sink mode (full-column materialization without sink cost), and a
  * per-query job/stage/task accounting via a SparkListener — so "where do
  * the seconds go" is answerable (scheduling overhead vs executor compute).
  * `--explain DIR` writes each query's EXPLAIN FORMATTED to `DIR/<q>.txt`
  * and, after collecting its rows once, the final adaptive plan (reused
  * exchanges, AQE-chosen joins) to `DIR/<q>-final.txt`. `--show` prints
  * each query's first rows and row count instead of timing it.
  *
  * Usage: runMain graft.BenchExtra [--reps N] [--noop] [--explain DIR] [--show] [q...]
  * Bench.scala itself is FROZEN; this main adds measurements beside it.
  */
object BenchExtra {

  private class Acct(verbose: Boolean) extends SparkListener {
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskTimeMs = new AtomicLong(0L)
    val runTimeMs = new AtomicLong(0L)
    private val jobStartNs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); jobStartNs.put(j.jobId, System.nanoTime()); ()
    }
    override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
      val t0 = jobStartNs.remove(j.jobId)
      if (verbose && t0 != 0L)
        println(f"  JOB ${j.jobId}%-5d ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      ()
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      if (verbose) {
        val si = s.stageInfo
        val dur = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1000.0
        val tm = si.taskMetrics
        val run = tm.executorRunTime / 1000.0
        val gc = tm.jvmGCTime / 1000.0
        val cpu = tm.executorCpuTime / 1e9
        val deser = tm.executorDeserializeTime / 1000.0
        println(f"  STAGE ${si.stageId}%-5d ${dur}%7.3f s run=${run}%7.2f s cpu=${cpu}%7.2f gc=${gc}%5.2f deser=${deser}%5.2f tasks=${si.numTasks}%-5d ${si.name.take(70)}")
      }
      ()
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (t.taskInfo != null) taskTimeMs.addAndGet(t.taskInfo.duration)
      if (t.taskMetrics != null) runTimeMs.addAndGet(t.taskMetrics.executorRunTime)
      ()
    }
    def reset(): Unit = { jobs.set(0); stages.set(0); tasks.set(0); taskTimeMs.set(0); runTimeMs.set(0) }
  }

  def main(args: Array[String]): Unit = {
    var reps = 1
    var noop = false
    var verbose = false
    var show = false
    var explainDir: Option[String] = None
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--reps" => reps = args(i + 1).toInt; i += 2
        case "--noop" => noop = true; i += 1
        case "--verbose" => verbose = true; i += 1
        case "--show" => show = true; i += 1
        case "--explain" => explainDir = Some(args(i + 1)); i += 2
        case q => names += q; i += 1
      }
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.plans.GraftSparkExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val acct = new Acct(verbose)
    spark.sparkContext.addSparkListener(acct)

    val qs = if (names.isEmpty) SparkEntry.queries.keys.toVector.sorted else names.toVector
    def timedFixture(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"FIXTUREX $name%-16s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    }
    // lake fixtures (untimed, exactly like Bench's fixture phase)
    if (qs.exists(q => Set("q19", "q20", "q21", "q29", "q35").exists(q.startsWith)))
      timedFixture("forDir") { LakeFixtures.forDir(spark, sfDir); () }
    if (qs.exists(q => Set("q34", "q37", "q38").exists(q.startsWith)))
      timedFixture("dedupForDir") { LakeFixtures.dedupForDir(spark, sfDir); () }
    if (qs.exists(_.startsWith("q36")))
      timedFixture("dedupConvForDir") { LakeFixtures.dedupConvForDir(spark, sfDir); () }
    if (qs.exists(_.startsWith("q39")))
      timedFixture("encryptedForDir") { LakeFixtures.encryptedForDir(spark, sfDir); () }

    for (name <- qs) {
      explainDir.foreach { dir =>
        val df = SparkEntry.queries(name)(spark, sfDir)
        def write(file: String, txt: String): Unit =
          Files.write(Paths.get(dir, file), txt.getBytes("UTF-8"),
            StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
        Files.createDirectories(Paths.get(dir))
        write(s"$name.txt", Bridge.explainFormatted(df))
        // collect(), not count(): count() plans a different query and
        // leaves this Dataset's adaptive plan unfinalized
        df.collect()
        write(s"$name-final.txt", Bridge.executedPlanOf(df).toString)
      }
      if (show) {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.show(5, truncate = false)
        println(s"$name rows=${df.count()}")
      } else for (r <- 1 to reps) {
        spark.sparkContext.setJobDescription(s"$name rep$r")
        acct.reset()
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, sfDir)
        if (noop) df.write.format("noop").mode("overwrite").save() else df.count()
        val sec = (System.nanoTime() - t0) / 1e9
        // listener events drain asynchronously; give them a beat
        Thread.sleep(300)
        println(f"BENCHX $name%-28s rep$r  ${sec}%8.3f s  jobs=${acct.jobs.get}%-4d " +
          f"stages=${acct.stages.get}%-4d tasks=${acct.tasks.get}%-6d " +
          f"taskTime=${acct.taskTimeMs.get / 1000.0}%8.2f s  execRun=${acct.runTimeMs.get / 1000.0}%8.2f s")
      }
    }
    spark.stop()
  }
}
