package graft.maintain

import java.io.{ByteArrayOutputStream, PrintStream}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class ParallelSpec extends AnyFunSuite {

  test("mapInParallel: results keep the input order") {
    assert(Parallel.mapInParallel((1 to 50).toVector, 4)(_ * 2) == (1 to 50).map(_ * 2).toVector)
  }

  test("mapInParallel: the first failure propagates, queued items never start, " +
       "in-flight ones are interrupted, and nothing is scheduled on the shut pool") {
    val started = ConcurrentHashMap.newKeySet[Int]()
    val interrupted = new AtomicBoolean(false)
    val secondRunning = new CountDownLatch(1)
    val boom = new IllegalStateException("boom")
    val err = new ByteArrayOutputStream()
    val savedErr = System.err
    System.setErr(new PrintStream(err, true))
    val thrown =
      try intercept[IllegalStateException] {
        Parallel.mapInParallel((0 until 20).toVector, 2) { i =>
          started.add(i)
          if (i == 0) { secondRunning.await(); throw boom }
          if (i == 1) {
            secondRunning.countDown()
            try Thread.sleep(30000) catch { case _: InterruptedException => interrupted.set(true) }
          }
          i
        }
      } finally {
        val deadline = System.nanoTime() + 5000000000L
        while (!interrupted.get && System.nanoTime() < deadline) Thread.sleep(10)
        Thread.sleep(200) // let any late callback print
        System.setErr(savedErr)
      }
    assert(thrown eq boom, "the original error propagates")
    assert(started.asScala == Set(0, 1), "no queued item runs after the failure")
    assert(interrupted.get, "the in-flight item is interrupted")
    assert(!err.toString.contains("RejectedExecutionException"), err.toString)
  }
}
