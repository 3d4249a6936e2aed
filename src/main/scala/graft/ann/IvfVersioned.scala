package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.VersionedPool

/** SNAPSHOT-VERSIONED IVF vector index — the versioned-index design on
  * the shared [[graft.sources.VersionedPool]] core (pool of immutable
  * assigned-vector batches + one meta snapshot per version; see its
  * scaladoc for the layout, commit protocol, crash model, and vacuum
  * rules), plus the ANN tier's one extra artifact:
  *
  * {{{
  * root/model/   the frozen coarse quantizer (written once at init;
  *               re-fit = a NEW index root, by design — see
  *               [[Ivf.assignmentDrift]] for when that is due)
  * }}}
  *
  * A vector index has no derived df/stats analog (cosine is per-pair),
  * so its meta carries manifest + tombstones ONLY and maintenance is
  * even simpler than BM25's: append = one new pool batch + publish;
  * delete = publish alone (takedown-sized metadata, no data write);
  * compact = fold into one fresh batch + publish.
  *
  * Scale shape: assignment is a pure function of (vector, frozen model),
  * so append batches are O(batch) and serving over any version is
  * IDENTICAL to a fresh full assignment of that version's live set (the
  * q160/q163 contracts, now per version — the q167 gate). Stored batches
  * never shuffle; serving joins only probed cells and anti-joins
  * tombstones on the candidate-sized frame. Single-writer maintenance. */
object IvfVersioned {

  /** One resolved version: the assigned-vector frame (union of the
    * manifest's immutable batches) and its tombstones, ready for
    * [[Ivf.topKAgainstIndex]]. */
  case class VIndex(index: DataFrame, tombstones: Option[DataFrame])

  private def modelPath(root: String) = s"$root/model"

  private def publishMeta(spark: SparkSession, root: String,
                          batches: Seq[String],
                          tombstones: Option[DataFrame],
                          idType: org.apache.spark.sql.types.DataType): Int =
    VersionedPool.publishMeta(spark, root, batches, stats = Nil,
      tombstones = tombstones, idCol = "nid", idType = idType)

  /** Create version 1: fit the model on the initial corpus, freeze it,
    * write the first pool batch from its assignment. */
  def init(spark: SparkSession, root: String, vectors: DataFrame,
           idCol: String, vecCol: String,
           numCells: Int, iterations: Int = 2): Int = {
    VersionedPool.requireFresh(spark, root)
    val src = vectors.filter(col(vecCol).isNotNull)
    val model = Ivf.fit(src, idCol, vecCol, numCells, iterations)
    Ivf.save(model, spark, modelPath(root))
    val batch = VersionedPool.nextBatch(spark, root)
    val assigned = Ivf.assign(src, vecCol, model)
      .select(col(idCol).as("nid"), col(vecCol).as("nvec"), col("cell"))
    // REBALANCE before the write (guide-style): the assignment runs at
    // full parallelism, but an un-shuffled write would land one file per
    // compute partition — ~32 near-empty files per batch locally, every
    // serve then paying a task per file. AQE sizes the output adaptively.
    assigned.hint("rebalance").write.mode("overwrite")
      .parquet(VersionedPool.poolPath(root, batch))
    publishMeta(spark, root, Seq(batch), None, assigned.schema("nid").dataType)
  }

  /** The frozen coarse quantizer. */
  def model(spark: SparkSession, root: String): Ivf.Model =
    Ivf.load(spark, modelPath(root))

  /** Resolve a version (default: committed latest). The returned frames
    * keep serving that version while later versions publish. */
  def load(spark: SparkSession, root: String,
           version: Option[Int] = None): VIndex = {
    val r = VersionedPool.load(spark, root, "nid", version)
    VIndex(r.pool, r.tombstones)
  }

  /** Append a vector batch as a new version: assign against the FROZEN
    * stored model, write one new pool batch, publish. Returns the new
    * version (or the current one for an all-null no-op batch).
    * `rejectDuplicateIds` guards the disjoint-id precondition
    * (tombstoned ids count as present — revival needs a compact first). */
  def append(spark: SparkSession, root: String, vectors: DataFrame,
             idCol: String, vecCol: String,
             rejectDuplicateIds: Boolean = false): Int = {
    val src = vectors.filter(col(vecCol).isNotNull)
    if (src.limit(1).collect().isEmpty)
      return VersionedPool.currentVersion(spark, root)
    val cur = load(spark, root)
    if (rejectDuplicateIds) {
      val dup = cur.index
        .join(broadcast(src.select(col(idCol).as("nid")).distinct()),
          Seq("nid"), "left_semi")
        .select("nid").limit(1).collect()
      require(dup.isEmpty, s"versioned append: batch re-adds vector id " +
        s"${dup.head.get(0)} already present under $root")
    }
    val batch = VersionedPool.nextBatch(spark, root)
    Ivf.assign(src, vecCol, model(spark, root))
      .select(col(idCol).as("nid"), col(vecCol).as("nvec"), col("cell"))
      .hint("rebalance") // adaptive output sizing, see init
      .write.mode("overwrite").parquet(VersionedPool.poolPath(root, batch))
    publishMeta(spark, root, VersionedPool.manifestOf(spark, root) :+ batch,
      cur.tombstones, cur.index.schema("nid").dataType)
  }

  /** Remove vectors as a new version — a publish with the grown
    * tombstone set, NO data write at all. Already-tombstoned and absent
    * ids are no-ops; returns the current version if nothing was present
    * to remove. */
  def delete(spark: SparkSession, root: String, ids: DataFrame,
             idCol: String): Int = {
    val cur = load(spark, root)
    val req = cur.tombstones.foldLeft(
      ids.select(col(idCol).as("nid")).distinct())(
      (r, ts) => r.join(ts, Seq("nid"), "left_anti"))
    val present = req.join(cur.index.select("nid"), Seq("nid"), "left_semi")
      .localCheckpoint(true) // takedown-sized; two consumers below
    // released once the publish has written it: left to GC, its blocks
    // stay persisted for an arbitrary time after the call
    try {
      if (present.limit(1).collect().isEmpty)
        VersionedPool.currentVersion(spark, root)
      else publishMeta(spark, root, VersionedPool.manifestOf(spark, root),
        Some(cur.tombstones.fold(present: DataFrame)(_.unionByName(present))),
        cur.index.schema("nid").dataType)
    } finally graft.plan.Checkpoints.releaseNow(present, blocking = true)
  }

  /** Fold the current version into ONE fresh pool batch with tombstones
    * applied — the deliberate rewrite, as a new version; older versions
    * and pins keep resolving the old batches until [[vacuum]]. */
  def compact(spark: SparkSession, root: String): Int = {
    val cur = load(spark, root)
    val manifest = VersionedPool.manifestOf(spark, root)
    if (cur.tombstones.isEmpty && manifest.size == 1)
      return VersionedPool.currentVersion(spark, root)
    val live = cur.tombstones.foldLeft(cur.index)(
      (p, ts) => p.join(ts, Seq("nid"), "left_anti"))
    val batch = VersionedPool.nextBatch(spark, root)
    live.hint("rebalance") // adaptive output sizing, see init
      .write.mode("overwrite").parquet(VersionedPool.poolPath(root, batch))
    publishMeta(spark, root, Seq(batch), None, cur.index.schema("nid").dataType)
  }

  /** Drop meta versions past the newest `keepLast` (Snapshots' rules —
    * never the committed or a pinned one), then delete pool batches no
    * remaining version references. */
  def vacuum(spark: SparkSession, root: String,
             keepLast: Int): (Seq[Int], Seq[String]) =
    VersionedPool.vacuum(spark, root, keepLast)

  /** Serve top-k from a resolved version — [[Ivf.topKAgainstIndex]] with
    * the version's tombstones on the candidate frame. */
  def topK(spark: SparkSession, root: String, queries: DataFrame,
           queryId: String, queryVec: String, k: Int, nProbes: Int = 3,
           version: Option[Int] = None): DataFrame = {
    val vi = load(spark, root, version)
    Ivf.topKAgainstIndex(vi.index, queries, model(spark, root),
      queryId, queryVec, k, nProbes, vi.tombstones)
  }
}
