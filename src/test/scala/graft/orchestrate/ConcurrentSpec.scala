package graft.orchestrate

import java.util.concurrent.CountDownLatch

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class ConcurrentSpec extends AnyFunSuite {

  private def poolThreadsAlive =
    Thread.getAllStackTraces.keySet.asScala.exists(_.getName.startsWith("graft-concurrent"))

  test("runs every task at once and returns results in task order") {
    val started = new CountDownLatch(3)
    // each task waits for all three to start: passes only if they overlap
    val tasks = (1 to 3).map(i => () => { started.countDown(); started.await(); i * 10 })
    assert(Concurrent.all(tasks) == Seq(10, 20, 30))
    assert(!poolThreadsAlive)
    assert(Concurrent.all(Seq.empty[() => Int]).isEmpty)
  }

  test("rethrows the first failure in task order only after every task ends") {
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val first = new IllegalStateException("first")
    val second = new IllegalArgumentException("second")
    val err = intercept[IllegalStateException] {
      Concurrent.all(Seq(
        () => { Thread.sleep(200); throw first },
        () => throw second,
        () => { Thread.sleep(400); slowDone.set(true) }))
    }
    assert(err eq first)
    assert(err.getSuppressed.toSeq == Seq(second))
    assert(slowDone.get())
    assert(!poolThreadsAlive)
  }
}
