package graft.orchestrate

import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException, Executors}

import scala.util.{Failure, Try}

/** Independent driver-side actions submitted from separate threads, so
  * their Spark jobs overlap instead of queueing one after another
  * ("Scheduling Within an Application" in Spark's job-scheduling guide).
  */
object Concurrent {

  /** Run `tasks` at once on a fixed pool with one thread per task, created
    * for this call, and return their results in task order. Every task is
    * waited for before this returns or throws: on failure it rethrows the
    * first failure in task order, the others attached as suppressed, so a
    * caller's retry never overlaps a task that is still running. The
    * pool's threads have exited when it returns. */
  def all[T](tasks: Seq[() => T]): Seq[T] = {
    if (tasks.isEmpty) return Seq.empty
    val threads = new ConcurrentLinkedQueue[Thread]()
    val pool = Executors.newFixedThreadPool(tasks.size, { (r: Runnable) =>
      val t = new Thread(r, s"graft-concurrent-${threads.size}")
      t.setDaemon(true)
      threads.add(t)
      t
    })
    val outcomes =
      try {
        val futures = tasks.map(t => pool.submit[T](() => t()))
        futures.map(f => Try(f.get()).recoverWith { case e: ExecutionException => Failure(e.getCause) })
      } finally {
        pool.shutdownNow() // idle by now, unless this thread was interrupted
        threads.forEach(_.join())
      }
    // distinct: a task waiting on another can fail with that task's error
    val errors = outcomes.collect { case Failure(e) => e }.distinct
    errors.headOption.foreach { first =>
      errors.tail.foreach(first.addSuppressed)
      throw first
    }
    outcomes.map(_.get)
  }
}
