package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the calls the benchmark makes, plus the Spark and JVM
  * events that ran under them. Spans live in memory — name
  * (`<module>.<function>`), start, end, parent, operation id — and are
  * written out at the end. Spark jobs, query executions and streaming
  * progress are attached to the innermost span whose interval holds their
  * start: the client is a single driver thread, so spans never overlap
  * except by nesting. With tracing off, `span` is a plain call and no
  * listener is registered. */
final class Tracer(val on: Boolean) {
  import Tracer._

  final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
                   val start: Double, var end: Double = -1)

  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var op = -1
  private val opKinds = mutable.Map.empty[Int, String]

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id), op, nowMs)
      spans += s
      stack = s :: stack
      try body finally { s.end = nowMs; stack = stack.tail }
    }

  /** A span whose duration is also a sample of a per-layer metric. */
  def timed[T](metric: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      try span(name)(body) finally sample(metric, (System.nanoTime() - t0) / 1e9)
    }

  private val samples = mutable.Map.empty[String, ArrayBuffer[Double]]
  private val values = mutable.Map.empty[String, Double]
  def sample(metric: String, v: Double): Unit =
    if (on) samples.getOrElseUpdate(metric, ArrayBuffer.empty) += v
  def set(metric: String, v: Double): Unit = if (on) values(metric) = v

  // ---- per-operation JVM readings --------------------------------------
  private lazy val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private lazy val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  private var gc0 = 0L

  def beginOp(): Unit = if (on) {
    heapPools.foreach(_.resetPeakUsage())
    gc0 = gcMs
  }
  def endOp(id: Int, kind: String): Unit = if (on) {
    opKinds(id) = kind
    sample("jvm.gc_s", (gcMs - gc0) / 1e3)
    sample("jvm.heap_peak_mb", heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
  }
  def noteLeaks(persisted: Int, checkpoints: Int): Unit = if (on && op >= 1) {
    sample("spark.persisted_rdds_live", persisted.toDouble)
    sample("plan.checkpoints_live", checkpoints.toDouble)
  }

  // ---- listener-side records (filled on listener-bus threads) ----------
  private final case class JobRec(id: Int, start: Double, stageIds: Seq[Int])
  private final case class StageRec(id: Int, tasks: Int, cpuNs: Long, inBytes: Long,
                                    outBytes: Long, shuffleBytes: Long, spillBytes: Long)
  private final case class QeRec(execId: Long, at: Double, durMs: Double,
                                 catalystMs: Double, files: Long, commitMs: Long)
  private final case class BatchRec(at: Double, triggerMs: Long, addBatchMs: Long,
                                    commitMs: Long, rows: Long)
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Double]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val execStarts = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
  private val qes = new ConcurrentLinkedQueue[QeRec]()
  private val batches = new ConcurrentLinkedQueue[BatchRec]()

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(JobRec(e.jobId, e.time.toDouble, e.stageInfos.map(_.stageId)))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobEnds.put(e.jobId, e.time.toDouble)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        if (m != null) stages.add(StageRec(i.stageId, i.numTasks, m.executorCpuTime,
          m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => execStarts.put(s.executionId, s.time.toDouble)
        case _ =>
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val phases = qe.tracker.phases
        val catalyst = Seq("analysis", "optimization", "planning")
          .flatMap(phases.get).map(_.durationMs.toDouble).sum
        var files = 0L
        var commit = 0L
        def visit(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
          p match {
            case w: org.apache.spark.sql.execution.command.DataWritingCommandExec =>
              w.cmd.metrics.get("numFiles").foreach(files += _.value)
              w.cmd.metrics.get("jobCommitTime").foreach(commit += _.value)
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              visit(a.executedPlan)
            case _ =>
          }
          p.children.foreach(visit)
        }
        try visit(qe.executedPlan) catch { case _: Throwable => }
        qes.add(QeRec(qe.id, nowMs, durationNs / 1e6, catalyst, files, commit))
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        batches.add(BatchRec(java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          d.getOrElse("triggerExecution", 0L), d.getOrElse("addBatch", 0L),
          d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L), p.numInputRows))
      }
    })
  }

  // ---- attribution ------------------------------------------------------
  private val spanJobs = mutable.Map.empty[Int, Int].withDefaultValue(0)
  private val spanQes = mutable.Map.empty[Int, Int].withDefaultValue(0)
  private val spanBatches = mutable.Map.empty[Int, Int].withDefaultValue(0)

  /** The innermost span holding time `t`, if any. */
  private def spanAt(t: Double): Option[Span] = {
    var best: Option[Span] = None
    spans.foreach { s =>
      if (s.start <= t && t <= s.end && best.forall(_.start <= s.start)) best = Some(s)
    }
    best
  }

  /** Fold every recorded event onto its span and operation, and reduce
    * the samples to the per-layer metrics. Call after the session
    * stopped (the listener bus is drained then). */
  def perLayer(h: Harness): Map[String, Double] = {
    val stageById = stages.asScala.map(s => s.id -> s).toMap
    final class OpAcc { var jobs = 0; var stages = 0; var tasks = 0L; var cpuNs = 0L
      var in = 0L; var out = 0L; var shuffle = 0L; var spill = 0L; var catalyst = 0.0
      var files = 0L; var commitMs = 0L; val intervals = ArrayBuffer.empty[(Double, Double)] }
    val acc = mutable.Map.empty[Int, OpAcc]
    def accOf(s: Span) = if (s.op >= 1) Some(acc.getOrElseUpdate(s.op, new OpAcc)) else None
    jobs.asScala.foreach { j =>
      spanAt(j.start).foreach { s =>
        spanJobs(s.id) += 1
        accOf(s).foreach { a =>
          a.jobs += 1
          a.intervals += ((j.start, Option(jobEnds.get(j.id)).map(_.doubleValue).getOrElse(j.start)))
          j.stageIds.flatMap(stageById.get).foreach { st =>
            a.stages += 1; a.tasks += st.tasks; a.cpuNs += st.cpuNs; a.in += st.inBytes
            a.out += st.outBytes; a.shuffle += st.shuffleBytes; a.spill += st.spillBytes
          }
        }
      }
    }
    qes.asScala.foreach { q =>
      val t = Option(execStarts.get(q.execId)).map(_.doubleValue).getOrElse(q.at - q.durMs)
      spanAt(t).foreach { s =>
        spanQes(s.id) += 1
        accOf(s).foreach { a => a.catalyst += q.catalystMs; a.files += q.files; a.commitMs += q.commitMs }
      }
    }
    batches.asScala.foreach { b =>
      spanAt(b.at).foreach(s => spanBatches(s.id) += 1)
      sample("streaming.trigger_s", b.triggerMs / 1e3)
      sample("streaming.add_batch_s", b.addBatchMs / 1e3)
      sample("streaming.offset_commit_s", b.commitMs / 1e3)
      sample("streaming.input_rows", b.rows.toDouble)
    }
    val opSpans = spans.filter(s => s.parent == -1 && s.op >= 1)
    opSpans.foreach { s =>
      val a = acc.getOrElse(s.op, new OpAcc)
      val busy = unionMs(a.intervals.toSeq.map { case (x, y) => (math.max(x, s.start), math.min(y, s.end)) })
      def put(metric: String, v: Double): Unit = {
        sample(metric, v)
        byKind.getOrElseUpdate(opKinds.getOrElse(s.op, "?"), mutable.Map.empty)
          .getOrElseUpdate(metric, ArrayBuffer.empty) += v
      }
      put("spark.jobs", a.jobs.toDouble)
      put("spark.stages", a.stages.toDouble)
      put("spark.tasks", a.tasks.toDouble)
      put("spark.job_busy_s", busy / 1e3)
      put("spark.driver_gap_s", math.max(0.0, s.end - s.start - busy) / 1e3)
      put("spark.executor_cpu_s", a.cpuNs / 1e9)
      put("spark.shuffle_write_bytes", a.shuffle.toDouble)
      put("spark.spill_bytes", a.spill.toDouble)
      put("spark.catalyst_s", a.catalyst / 1e3)
      put("sources.input_bytes", a.in.toDouble)
      put("sources.output_bytes", a.out.toDouble)
      put("sources.files_written", a.files.toDouble)
      put("sources.job_commit_s", a.commitMs / 1e3)
    }
    PerLayer.map(_._1).flatMap { n =>
      values.get(n).orElse(samples.get(n).filter(_.nonEmpty).map { xs =>
        if (Totals(n)) xs.sum
        else if (PerOperation(n)) xs.sum / xs.size
        else Stats.median(xs.toSeq)
      }).map(n -> _)
    }.toMap
  }

  /** Per-operation Spark and source metrics by operation kind (medians),
    * for the detail record. Filled by [[perLayer]]. */
  private val byKind = mutable.Map.empty[String, mutable.Map[String, ArrayBuffer[Double]]]
  def perKindJson: Json.J = Json.obj(byKind.toSeq.sortBy(_._1).map { case (k, ms) =>
    k -> Json.obj(ms.toSeq.sortBy(_._1).map { case (m, xs) =>
      m -> Json.num(Stats.median(xs.toSeq)) } :+ ("ops" -> Json.num(ms.values.head.size.toDouble)): _*)
  }: _*)

  private def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Spans with self time (duration minus the part children cover) and
    * the events attached to each, plus a by-name summary. */
  def spansJson(): Json.J = {
    val children = spans.groupBy(_.parent)
    def dur(s: Span) = math.max(0.0, s.end - s.start)
    def self(s: Span) = math.max(0.0, dur(s) -
      unionMs(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq))
    val list = spans.toSeq.map { s =>
      Json.obj("id" -> Json.num(s.id.toDouble), "name" -> Json.str(s.name),
        "parent" -> Json.num(s.parent.toDouble), "op" -> Json.num(s.op.toDouble),
        "op_kind" -> Json.str(opKinds.getOrElse(s.op, if (s.op == 0) "setup" else "")),
        "start_ms" -> Json.num(s.start - anchorMs), "dur_ms" -> Json.num(dur(s)),
        "self_ms" -> Json.num(self(s)), "jobs" -> Json.num(spanJobs(s.id).toDouble),
        "query_executions" -> Json.num(spanQes(s.id).toDouble),
        "stream_batches" -> Json.num(spanBatches(s.id).toDouble))
    }
    val byName = spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      n -> Json.obj("count" -> Json.num(ss.size.toDouble),
        "total_ms" -> Json.num(ss.map(dur).sum), "self_ms" -> Json.num(ss.map(self).sum),
        "jobs" -> Json.num(ss.map(s => spanJobs(s.id)).sum.toDouble))
    }
    Json.obj("by_name" -> Json.obj(byName: _*), "spans" -> Json.arr(list: _*))
  }
}

object Tracer {
  /** Every per-layer metric, in BENCHMARK.json order, with its unit. */
  val PerLayer: Seq[(String, String)] = Seq(
    "jobs.transform_golden_s" -> "s", "jobs.ingest_run_s" -> "s",
    "orchestrate.retries" -> "count",
    "sources.catalog_refresh_s" -> "s", "sources.input_bytes" -> "bytes",
    "sources.output_bytes" -> "bytes", "sources.files_written" -> "count",
    "sources.job_commit_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.job_busy_s" -> "s", "spark.driver_gap_s" -> "s", "spark.executor_cpu_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.catalyst_s" -> "s", "spark.persisted_rdds_live" -> "count",
    "plan.rewrite_hit_ratio" -> "ratio", "plan.serve_optimize_s" -> "s",
    "plan.serve_exec_s" -> "s", "plan.register_s" -> "s",
    "plan.refresh_appended_s" -> "s", "plan.refresh_removed_s" -> "s",
    "plan.refresh_mixed_s" -> "s", "plan.vacuum_s" -> "s",
    "plan.refresh_refused" -> "count", "plan.checkpoints_live" -> "count",
    "streaming.trigger_s" -> "s", "streaming.add_batch_s" -> "s",
    "streaming.offset_commit_s" -> "s", "streaming.input_rows" -> "count",
    "dedup.admit_ratio" -> "ratio",
    "curate.build_s" -> "s", "curate.append_s" -> "s", "curate.delete_s" -> "s",
    "curate.compact_s" -> "s", "curate.load_index_s" -> "s", "curate.topk_s" -> "s",
    "curate.index_files" -> "count",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB")

  /** Measured per timed operation from the attached Spark events and the
    * JVM, and reported as the mean over all timed operations (the
    * workload's whole mix: a median would show only its most common
    * operation). */
  val PerOperation: Set[String] = Set("sources.input_bytes", "sources.output_bytes",
    "sources.files_written", "sources.job_commit_s", "spark.jobs", "spark.stages",
    "spark.tasks", "spark.job_busy_s", "spark.driver_gap_s", "spark.executor_cpu_s",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.catalyst_s",
    "jvm.gc_s", "jvm.heap_peak_mb")

  /** Reported as totals over the run. Every metric in neither set is the
    * median of its per-call samples (one per span of that layer). */
  val Totals: Set[String] = Set("orchestrate.retries", "spark.persisted_rdds_live",
    "plan.refresh_refused", "plan.checkpoints_live", "streaming.input_rows")
}
