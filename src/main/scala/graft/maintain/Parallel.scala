package graft.maintain

import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicBoolean

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Driver-side concurrent submission of independent Spark jobs (rewrite
  * groups are independent by construction). Spark schedules the
  * concurrently submitted jobs across the same executors, so many
  * single-task group rewrites fill the cluster instead of running one task
  * at a time — the difference between a rewrite that scales with cores and
  * one whose wall-clock is groups x per-job latency regardless of cluster
  * size.
  *
  * Failure semantics: fail-fast WITHOUT zombies. The first task failure (a)
  * stops queued tasks from starting (they see the failure flag and abort
  * before touching Spark or the ledger), and (b) interrupts in-flight
  * sibling threads via shutdownNow before the error propagates — a zombie
  * task finishing AFTER the caller rethrew could otherwise checkpoint
  * ledger rows that race a restarted job.
  */
object Parallel {
  def mapInParallel[A, B](items: Vector[A], parallelism: Int)(f: A => B): Vector[B] = {
    if (items.size <= 1 || parallelism <= 1) return items.map(f)
    val pool = Executors.newFixedThreadPool(math.min(parallelism, items.size))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val failed = new AtomicBoolean(false)
    try Await.result(Future.sequence(items.map(a => Future {
      if (failed.get())
        throw new java.util.concurrent.CancellationException("sibling task failed")
      try f(a)
      catch { case e: Throwable => failed.set(true); throw e }
    })), Duration.Inf)
    finally {
      pool.shutdownNow() // interrupt in-flight siblings on failure; no-op on success
      ()
    }
  }
}
