package graft.curate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.VersionedPool

/** SNAPSHOT-VERSIONED incremental BM25 index — the serving-isolation layer
  * [[Bm25.appendIncIndex]]'s scaladoc defers to ("version the index
  * directory with Snapshots when serving must be isolated from
  * maintenance"), made concrete on the shared
  * [[graft.sources.VersionedPool]] core (pool of immutable postings
  * batches + one meta snapshot per version; see its scaladoc for the
  * layout, commit protocol, crash model, and vacuum rules).
  *
  * BM25's tier-specific meta rows: the vocabulary-sized df table
  * (`kind='df'`) and the `n_docs`/`total_dl` scalars — the DERIVED state
  * a vector index does not need. A maintenance op is: write a new pool
  * batch (append/compact) or nothing (delete), then ONE publish.
  *
  * Scale shape: identical to [[Bm25.IncIndex]] (this produces one — all
  * serving goes through `scoresAgainstIncIndex`): appends are
  * O(batch + vocabulary), deletes are tombstones + integer decrements
  * (exactly rebuild-equal on the reduced corpus), stored postings never
  * shuffle, and each version's meta costs one vocab-sized write — the
  * same cost the unversioned `swapWrite(dfs)` already paid, now buying an
  * atomic commit. Single-writer maintenance, like the unversioned ops. */
object Bm25Versioned {

  private def publishMeta(spark: SparkSession, root: String,
                          batches: Seq[String], d: Bm25.Derived,
                          tombstones: Option[DataFrame],
                          idType: org.apache.spark.sql.types.DataType): Int =
    VersionedPool.publishMeta(spark, root, batches,
      stats = Seq("n_docs" -> d.nDocs, "total_dl" -> d.totalDl),
      tombstones = tombstones, idCol = "doc_id", idType = idType,
      extra = Some(d.dfs.select(lit("df").as("kind"), col("term").as("key"),
        col("df").cast("double").as("num"))))

  /** Create version 1 from an initial corpus. The batch dir is written
    * even for an empty corpus so every version's manifest is non-empty
    * (the postings schema always loads).
    *
    * Write-first (r15, guide §8 "the write IS the materialization" — the
    * [[Bm25.buildAndSaveIncIndex]] device at the versioned tier): the tf
    * rows write STRAIGHT to the new pool batch dir — no corpus-sized
    * cache fill, no checkpoints — and the df rows + n_docs/total_dl then
    * derive from the WRITTEN files (dfs/stats are DERIVED state by the
    * [[Bm25.IncIndex]] contract). */
  def init(spark: SparkSession, root: String, docs: DataFrame,
           docId: String, docText: String): Int = {
    VersionedPool.requireFresh(spark, root)
    val batch = VersionedPool.nextBatch(spark, root)
    val p = VersionedPool.poolPath(root, batch)
    Bm25.tfRows(Bm25.tokenized(docs, docId, docText))
      .hint("rebalance") // adaptive file sizing, as buildAndSaveIncIndex
      .write.mode("overwrite").parquet(p)
    val written = graft.sources.Pq.read(spark, p)
    Bm25.derive(written)(d => publishMeta(spark, root, Seq(batch), d,
      None, written.schema("doc_id").dataType))
  }

  /** Load a version (default: the committed latest) as a servable
    * [[Bm25.IncIndex]] — postings are the manifest's pool batches read
    * together; dfs/tombstones are vocab-/takedown-sized filters of the
    * meta frame. The version is resolved HERE: the returned index keeps
    * serving it even while later versions publish. */
  def load(spark: SparkSession, root: String,
           version: Option[Int] = None): Bm25.IncIndex = {
    val r = VersionedPool.load(spark, root, "doc_id", version)
    val dfs = r.meta.filter(col("kind") === "df")
      .select(col("key").as("term"), col("num").as("df"))
    Bm25.IncIndex(r.pool, dfs, r.stats("n_docs"), r.stats("total_dl"),
      r.tombstones)
  }

  /** Append a document batch as a new version — one new pool batch dir +
    * one meta publish; the committed version is untouched until the
    * pointer swap. Returns the new version (or the current one for an
    * all-blank no-op batch). `rejectDuplicateIds` as in
    * [[Bm25.appendIncIndex]] (tombstoned ids count as present — revival
    * requires a compact first). Same write-first core as the unversioned
    * append; the tf rows land in a fresh pool batch. */
  def append(spark: SparkSession, root: String, newDocs: DataFrame,
             docId: String, docText: String,
             rejectDuplicateIds: Boolean = false): Int = {
    val cur = load(spark, root)
    val batch = VersionedPool.nextBatch(spark, root)
    Bm25.appendCore(cur, root, newDocs, docId, docText, rejectDuplicateIds) { tf =>
      val p = VersionedPool.poolPath(root, batch)
      tf.write.mode("overwrite").parquet(p)
      graft.sources.Pq.read(spark, p)
    }.fold(VersionedPool.currentVersion(spark, root))(d =>
      publishMeta(spark, root, VersionedPool.manifestOf(spark, root) :+ batch,
        d, cur.tombstones, cur.postings.schema("doc_id").dataType))
  }

  /** Remove documents as a new version — NO pool write at all: the new
    * meta carries the grown tombstone set and the integer-decremented
    * df/stats (serving is exactly rebuild-equal on the reduced corpus,
    * the q159/q162 contract). Already-tombstoned and absent ids are
    * no-ops. Returns the new version (or the current one if nothing was
    * present to remove). */
  def delete(spark: SparkSession, root: String, ids: DataFrame,
             idCol: String): Int = {
    val cur = load(spark, root)
    Bm25.removeCore(cur, ids, idCol) { (removedIds, d) =>
      publishMeta(spark, root, VersionedPool.manifestOf(spark, root), d,
        Some(cur.tombstones.fold(removedIds)(_.unionByName(removedIds))),
        cur.postings.schema("doc_id").dataType)
    }.getOrElse(VersionedPool.currentVersion(spark, root))
  }

  /** Fold the current version into ONE fresh pool batch with tombstones
    * applied — the deliberate rewrite, as a new version: older versions
    * (and pinned readers) keep resolving the old batches until
    * [[vacuum]]. Returns the new version (or the current one when there
    * is nothing to fold). */
  def compact(spark: SparkSession, root: String): Int = {
    val cur = load(spark, root)
    val manifest = VersionedPool.manifestOf(spark, root)
    if (cur.tombstones.isEmpty && manifest.size == 1)
      return VersionedPool.currentVersion(spark, root)
    val live = cur.tombstones.foldLeft(cur.postings)(
      (p, ts) => p.join(ts, Seq("doc_id"), "left_anti"))
    val batch = VersionedPool.nextBatch(spark, root)
    live.write.mode("overwrite").parquet(VersionedPool.poolPath(root, batch))
    publishMeta(spark, root, Seq(batch), Bm25.Derived(cur.dfs, cur.nDocs, cur.totalDl),
      None, cur.postings.schema("doc_id").dataType)
  }

  /** Drop meta versions past the newest `keepLast` (never the committed
    * or a pinned one — Snapshots' rules), then delete pool batches no
    * REMAINING version references. Returns (versions dropped, batches
    * dropped). */
  def vacuum(spark: SparkSession, root: String,
             keepLast: Int): (Seq[Int], Seq[String]) =
    VersionedPool.vacuum(spark, root, keepLast)
}
