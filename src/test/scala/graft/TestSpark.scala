package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftx.TestBridge

/** One SparkSession for the whole forked test JVM. Built with the engine's
  * session extensions so the SQL DML parser surface (available only at
  * session build time) is testable.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .withExtensions(new graft.plans.GraftSparkExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `body` with `spark.sql.autoBroadcastJoinThreshold` at -1, which
    * sends every MERGE down its persisted, shuffled plan; the session's own
    * value is restored afterwards.
    */
  def withShuffledMerge[T](body: => T): T =
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(body)

  /** Run `body` with `spark.sql.files.maxPartitionBytes` at 1 KB, below any
    * data file's size, which sends every dedupe, DELETE and cluster group
    * (and the MERGE write) down its range-repartitioned plan; compaction
    * bins stay one task. The session's own value is restored afterwards.
    */
  def withShuffledRewrites[T](body: => T): T =
    withConf("spark.sql.files.maxPartitionBytes", "1024")(body)

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Spark work attributed to one body: its jobs, and the Exchange nodes in
    * the final physical plans of its SQL executions.
    */
  final case class Work(jobs: Int, exchanges: Int)

  /** Run `body` under a fresh job group and count that group's jobs (from
    * `SparkListenerJobStart` properties) and the exchanges of its SQL
    * executions (from the start event's job group and the last adaptive
    * plan update), once the listener bus has drained. Counting by group,
    * not by time window, keeps other threads' and late events out, so the
    * count repeats.
    */
  def countWork[T](body: => T): (T, Work) = {
    val sc = spark.sparkContext
    val group = s"count-work-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val plans = new ConcurrentHashMap[Long, SparkPlanInfo]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
          plans.put(s.executionId, s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate if plans.containsKey(u.executionId) =>
          plans.put(u.executionId, u.sparkPlanInfo)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val out = body
      TestBridge.drainListenerBus(sc)
      (out, Work(jobs.get, plans.values.asScala.map(exchangesIn).sum))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Exchange nodes (shuffle or broadcast) in a plan; a reused exchange
    * is not counted again.
    */
  private def exchangesIn(p: SparkPlanInfo): Int = p.nodeName match {
    case "ReusedExchange" => 0
    case n => (if (n == "Exchange" || n == "BroadcastExchange") 1 else 0) +
      p.children.map(exchangesIn).sum
  }
}
