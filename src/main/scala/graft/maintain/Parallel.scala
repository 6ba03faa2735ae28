package graft.maintain

import java.util.concurrent.{CancellationException, ExecutionException, ExecutorCompletionService, Executors}
import java.util.concurrent.atomic.AtomicReference

/** Driver-side concurrent submission of independent Spark jobs (rewrite
  * groups are independent by construction). Spark schedules the
  * concurrently submitted jobs across the same executors, so many
  * single-task group rewrites fill the cluster instead of running one task
  * at a time — the difference between a rewrite that scales with cores and
  * one whose wall-clock is groups x per-job latency regardless of cluster
  * size.
  *
  * Failure semantics: fail-fast WITHOUT zombies. The first task failure (a)
  * stops queued tasks from starting (they see the failure and abort before
  * touching Spark or the ledger), and (b) interrupts in-flight sibling
  * threads via shutdownNow before the original error is rethrown — a zombie
  * task finishing AFTER the caller rethrew could otherwise checkpoint
  * ledger rows that race a restarted job. Results are taken in completion
  * order from plain tasks, so nothing is ever scheduled on the pool after
  * it shuts down.
  */
object Parallel {
  def mapInParallel[A, B](items: Vector[A], parallelism: Int)(f: A => B): Vector[B] = {
    if (items.size <= 1 || parallelism <= 1) return items.map(f)
    val pool = Executors.newFixedThreadPool(math.min(parallelism, items.size))
    val done = new ExecutorCompletionService[(Int, B)](pool)
    val failure = new AtomicReference[Throwable]()
    try {
      items.zipWithIndex.foreach { case (a, i) =>
        done.submit { () =>
          if (failure.get != null) throw new CancellationException("sibling task failed")
          try (i, f(a))
          catch { case e: Throwable => failure.compareAndSet(null, e); throw e }
        }
      }
      val out = new Array[Any](items.size)
      items.indices.foreach { _ =>
        try { val (i, b) = done.take().get(); out(i) = b }
        catch { case e: ExecutionException => throw Option(failure.get).getOrElse(e.getCause) }
      }
      out.toVector.asInstanceOf[Vector[B]]
    } finally {
      pool.shutdownNow() // interrupts in-flight siblings on failure; no-op on success
      ()
    }
  }
}
