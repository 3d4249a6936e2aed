package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The closed loop's bookkeeping: operation timing, failure counting,
  * leak accounting between operations, and the deadline. One client: an
  * operation starts only after the previous one returned. */
final class Harness(val spark: SparkSession, val tracer: Tracer,
                    val tmp: String, val seed: Long, processStart: Long) {

  final case class Op(id: Int, kind: String, seconds: Double, ok: Boolean)

  val ops = ArrayBuffer.empty[Op]
  val failures = ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0
  var setupSeconds = Double.NaN
  private var deadline = Long.MaxValue
  private var timedStart = 0L
  var timedSeconds = 0.0

  // leak accounting: live persisted RDDs and tracked checkpoints seen after
  // each operation (then released, so the next one is not charged for them)
  var persistedLive = 0
  var checkpointsLive = 0

  def setupPhase(body: => Unit): Unit = {
    tracer.op = 0
    tracer.span("bench.setup")(body)
    setupSeconds = (System.nanoTime() - processStart) / 1e9
    sweep()
  }

  def startTimed(seconds: Double): Unit = {
    timedStart = System.nanoTime()
    deadline = timedStart + (seconds * 1e9).toLong
  }
  def endTimed(): Unit = timedSeconds = (System.nanoTime() - timedStart) / 1e9
  def timeLeft: Boolean = System.nanoTime() < deadline

  /** Time one operation. A thrown exception counts it as failed (and
    * returns None); the leak sweep runs after the clock stops. */
  def op[T](kind: String, span: String)(body: => T): Option[(T, Double)] = {
    attempted += 1
    val id = ops.size + 1
    tracer.op = id
    tracer.beginOp()
    val t0 = System.nanoTime()
    val r = try Right(tracer.span(span)(body)) catch { case e: Throwable => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    tracer.endOp(id, kind)
    tracer.op = -1
    sweep()
    r match {
      case Right(v) => ops += Op(id, kind, secs, ok = true); Some((v, secs))
      case Left(e) =>
        ops += Op(id, kind, secs, ok = false)
        fail(s"$kind#$id", e)
        None
    }
  }

  /** A correctness check. Attached to the last operation (which then
    * counts as failed) unless `standalone`, in which case the check is an
    * attempted operation of its own. */
  def check(what: String, standalone: Boolean = false)(cond: => Boolean): Boolean = {
    val own = standalone || ops.isEmpty
    val ok = try cond catch { case e: Throwable =>
      failures += s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
      false
    }
    if (own) attempted += 1
    if (!ok) {
      if (!failures.lastOption.exists(_.startsWith(what))) failures += s"$what: check failed"
      if (own) failed += 1
      else ops.lastOption.filter(_.ok).foreach { o =>
        ops(ops.size - 1) = o.copy(ok = false)
        failed += 1
      }
    }
    ok
  }

  def fail(what: String, e: Throwable): Unit = {
    failed += 1
    failures += s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
  }

  /** Count what the last operation left behind, then release it. */
  private def sweep(): Unit = {
    val live = spark.sparkContext.getPersistentRDDs
    persistedLive += live.size
    checkpointsLive += graft.plan.Checkpoints.liveCount
    tracer.noteLeaks(live.size, graft.plan.Checkpoints.liveCount)
    graft.plan.Checkpoints.release()
    live.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  def samples(kind: String): Seq[Double] = ops.filter(o => o.ok && o.kind == kind).map(_.seconds).toSeq

  /** Samples of every operation kind under `prefix` (e.g. `read.`). */
  def samplesByKind(prefix: String): Map[String, Seq[Double]] =
    ops.filter(o => o.ok && o.kind.startsWith(prefix)).groupBy(_.kind)
      .map { case (k, os) => k -> os.map(_.seconds).toSeq }

  def opsJson: Json.J = Json.arr(ops.toSeq.map(o => Json.obj(
    "id" -> Json.num(o.id.toDouble), "kind" -> Json.str(o.kind),
    "s" -> Json.num(o.seconds), "ok" -> Json.bool(o.ok))): _*)

  /** Deterministic per-purpose random stream. */
  def rng(purpose: String): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 1000003L + purpose.hashCode.toLong)

  def path(rel: String): String = s"$tmp/data/$rel"
}
