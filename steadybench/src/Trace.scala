package steadybench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Process-wide counters the tracer reads at every span boundary. Spark
  * counts come from a SparkListener and a QueryExecutionListener, the rest
  * from JVM MXBeans and Spark's codegen compile-time adder.
  */
object Counters {
  val Names: Vector[String] = Vector(
    "spark.jobs", "spark.stages", "spark.tasks", "spark.exec_run_s", "spark.exec_cpu_s",
    "spark.input_bytes", "spark.output_bytes", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.codegen_s", "plans.sql_plan_s", "plans.exchanges",
    "jvm.gc_s", "jvm.jit_s", "jvm.cpu_s")
  private val idx = Names.zipWithIndex.toMap
  def apply(name: String): Int = idx(name)

  private val acc = Array.fill(Names.size)(new AtomicLong)
  private def add(name: String, v: Long): Unit = acc(idx(name)).addAndGet(v)

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("spark.jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("spark.tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        add("spark.exec_run_s", m.executorRunTime * 1000000L) // ms -> ns
        add("spark.exec_cpu_s", m.executorCpuTime)
        add("spark.input_bytes", m.inputMetrics.bytesRead)
        add("spark.output_bytes", m.outputMetrics.bytesWritten)
        add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  private object QeListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planMs = QueryPlanningPhases.flatMap(qe.tracker.phases.get)
        .map(p => p.endTimeMs - p.startTimeMs).sum
      add("plans.sql_plan_s", planMs * 1000000L)
      add("plans.exchanges", exchanges(qe.executedPlan))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val QueryPlanningPhases = Seq("analysis", "optimization", "planning")

  /** Exchange nodes in an executed plan, looking through adaptive query
    * stages to the final plan.
    */
  def exchanges(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case other => other.children.map(exchanges).sum
  }

  @volatile private var spark: SparkSession = _

  def install(s: SparkSession): Unit = {
    spark = s
    s.sparkContext.addSparkListener(Listener)
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.register(QeListener)
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toVector
  private val jit = ManagementFactory.getCompilationMXBean
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuNs: Long = os.getProcessCpuTime

  private val threads = ManagementFactory.getThreadMXBean

  /** CPU the client's op itself used so far: the calling thread plus every
    * finished Spark task. Unlike process CPU it leaves out JIT, GC and
    * Spark's background threads, whose share per op grows when the host
    * steals CPU and ops take longer, so it repeats under a noisy host.
    */
  def workCpuNs: Long = {
    org.apache.spark.steadybench.ListenerBus.drain(spark.sparkContext)
    threads.getCurrentThreadCpuTime + acc(idx("spark.exec_cpu_s")).get
  }

  /** All counters now, in seconds / counts. Drains the listener bus first,
    * so every event of work that finished before this call is counted.
    */
  def read(): Array[Double] = {
    org.apache.spark.steadybench.ListenerBus.drain(spark.sparkContext)
    acc(idx("spark.codegen_s")).set(CodeGenerator.compileTime)
    acc(idx("jvm.gc_s")).set(gcBeans.map(_.getCollectionTime).sum * 1000000L)
    acc(idx("jvm.jit_s")).set(jit.getTotalCompilationTime * 1000000L)
    acc(idx("jvm.cpu_s")).set(os.getProcessCpuTime)
    Names.indices.map { i =>
      val v = acc(i).get.toDouble
      if (Names(i).endsWith("_s")) v / 1e9 else v
    }.toArray
  }
}

/** A recorded span: one call into a layer, inside op `opId`. */
final case class Span(id: Int, parent: Int, opId: Int, name: String,
                      t0: Long, t1: Long, c0: Array[Double], c1: Array[Double]) {
  def seconds: Double = (t1 - t0) / 1e9
}

/** Span recorder. Spans are kept in memory and summarised when the run
  * ends. When disabled, `span` only runs its body.
  */
object Tracer {
  @volatile var enabled = false
  private var opId = -1
  private var nextId = 0
  private val stack = mutable.Stack[Int]()
  val spans = mutable.ArrayBuffer.empty[Span]

  def beginOp(id: Int): Unit = opId = id

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val c0 = Counters.read()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val c1 = Counters.read()
        stack.pop()
        spans += Span(id, parent, opId, name, t0, t1, c0, c1)
      }
    }

  /** Write every span as one JSON line. */
  def write(out: Path): Unit = {
    val self = selfSeconds
    Files.write(out, spans.map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.opId}, "name": "${s.name}", """ +
        s""""start_ns": ${s.t0}, "end_ns": ${s.t1}, "self_s": ${self(s.id)}}"""
    }.asJava)
  }

  /** Self time of each span: its duration minus the part of it that its
    * child spans cover. Children of one span never overlap (one client,
    * one thread), so the covered part is the sum of child durations.
    */
  def selfSeconds: Map[Int, Double] = {
    val childNs = spans.groupMapReduce(_.parent)(s => s.t1 - s.t0)(_ + _)
    spans.map(s => s.id -> (s.t1 - s.t0 - childNs.getOrElse(s.id, 0L)) / 1e9).toMap
  }
}

/** Bytes under a table root, split into files present before and after an
  * op so new-file bytes can be counted.
  */
object DirWalk {
  def sizes(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }

  def newBytes(before: Map[String, Long], after: Map[String, Long]): Long =
    after.iterator.collect { case (k, v) if !before.contains(k) => v }.sum
}
