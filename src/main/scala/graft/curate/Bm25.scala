package graft.curate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T}

/** BM25 retrieval over an inverted-index join — the mining/retrieval
  * primitive of a training-data pipeline (mine a corpus for documents
  * relevant to seed queries; score near-duplicate candidates lexically;
  * build hard negatives for retrieval training).
  *
  * Okapi BM25: score(q, d) = Σ_{t ∈ q} idf(t) · tf·(k1+1) /
  * (tf + k1·(1 − b + b·dl/avgdl)), idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)).
  *
  * Scale shape: the corpus tokenizes ([[tokenized]]) into (doc_id, dl,
  * term, tf) postings ([[tfRows]]) in one corpus-sized shuffle; the query
  * term set rides a BROADCAST onto the postings (queries are seed-sized —
  * the corpus never shuffles for them), and the per-(query, doc) sum is
  * one candidate-sized aggregation. Top-k per query runs on the heap plan
  * node ([[graft.plan.TopKPerGroup]]) — shuffle bounded at partitions ×
  * queries × k, no per-query sort of the candidate set.
  *
  * Two entry points share that core:
  *  - one-shot [[scores]]/[[topK]]: nothing stored, nothing cached after
  *    the call — the reference every stored path is checked against;
  *  - the STORED index ([[IncIndex]]): [[buildAndSaveIncIndex]] writes it
  *    once, [[loadIncIndex]] + [[topKAgainstIncIndex]] serve every later
  *    query batch from storage without re-tokenizing the corpus, and
  *    [[appendIncIndex]] / [[deleteFromIncIndex]] / [[compactIncIndex]]
  *    maintain it in place. [[Bm25Versioned]] keeps the same index under
  *    snapshot versions and shares the append, removal and derive cores
  *    below; the two tiers differ only in where they write and how they
  *    commit ([[swapWrite]] here, `VersionedPool.publishMeta` there).
  *
  * Serving a stored index has two regimes, chosen per request and
  * returning the same rows:
  *  - driver-local ([[Bm25Local]]): when the query side is a local
  *    relation, every postings/dfs/tombstones frame is a parquet or local
  *    relation, and the index files' visible bytes are under
  *    `Bm25Local.MaxIndexBytes` (16 MB, from a measured crossover), the
  *    request scores on the driver with zero Spark jobs. Each index file
  *    is decoded once into a term-grouped columnar segment and held in one
  *    bounded store keyed by file identity (path, length, mtime), so an
  *    unchanged index is never re-read: an append loads only its new
  *    files, a delete only its tombstone file and the new dfs generation;
  *    only the first request and a compaction pay a full load;
  *  - distributed: everything else — big indexes, distributed query
  *    sides — runs the broadcast-join plan below, unchanged.
  * Exactness contract between them: the local regime evaluates the same
  * query-term projection, the same Okapi expression in the same
  * association order (`StrictMath.log`, as Spark's `Log`), the same
  * tombstone anti-join, Spark's `round` quantization and the same
  * (score desc, doc_id asc) ranking; only the per-(query, doc) summation
  * order is free, as it is between two partitionings of the distributed
  * plan. `Bm25ServePropertySpec` pins local ≡ distributed ≡ one-shot
  * [[topK]] over random maintenance sequences on both tiers. Every
  * regime decision is logged with its inputs and counted
  * ([[serveCounters]]).
  */
object Bm25 {

  /** Scale-adaptive partition count for materialized postings/df frames:
    * one partition per ~50k docs (≈2M posting rows at typical term
    * density), at least 1 — derived from the data, never from the local
    * core count (guide §2: partition counts must scale with input). */
  private[curate] def postingsParts(nDocs: Double): Int =
    math.max(1L, (nDocs / 50000.0).toLong).toInt

  /** The one tokenize shape every BM25 path shares: (doc_id, __toks),
    * blank docs dropped. Hash-scatters BY doc id at data-derived width
    * before tokenizing (r14, guide §2.3): a single-file corpus otherwise
    * runs the whole tokenize+explode+partial-agg stage as ONE task, and
    * the keyed scatter lets [[tfRows]]' (doc_id, dl, term) groupBy ride
    * the partitioning with no further exchange. No-op for already-wide
    * inputs. */
  private[graft] def tokenized(docs: DataFrame, docId: String,
                               docText: String): DataFrame =
    graft.dedup.Dedup
      .ensureParallelism(docs, Seq(col(docId)))
      .select(col(docId).as("doc_id"), T.tokens(col(docText)).as("__toks"))
      .filter(size(col("__toks")) > 0)

  /** (doc_id, dl, term, tf) rows of a [[tokenized]] corpus — the stored
    * postings payload. */
  private[graft] def tfRows(corpus: DataFrame): DataFrame =
    corpus
      .select(col("doc_id"), size(col("__toks")).cast("double").as("dl"),
        explode(col("__toks")).as("term"))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).cast("double").as("tf"))

  /** (term, df) of a postings frame. */
  private def dfRows(postings: DataFrame): DataFrame =
    postings.groupBy("term").agg(count(lit(1)).cast("double").as("df"))

  /** (nDocs, totalDl) of a postings frame — (0, 0) when it is empty. */
  private def docStats(postings: DataFrame): (Double, Double) = {
    val st = postings.select(col("doc_id"), col("dl")).distinct()
      .agg(count(lit(1)).cast("double"), sum(col("dl"))).collect()(0)
    if (st.isNullAt(1)) (0.0, 0.0) else (st.getDouble(0), st.getDouble(1))
  }

  private def queryTerms(queries: DataFrame, queryId: String,
                         queryText: String): DataFrame =
    queries.select(col(queryId).as("qid"),
      explode(array_distinct(T.tokens(col(queryText)))).as("term"))

  /** The Okapi score of every (qid, doc_id, tf, dl, df) candidate row,
    * summed per (query, doc): (qid, doc_id, score), unrounded doubles.
    * The one score expression both [[scores]] and [[scoresAgainstIncIndex]]
    * use, so equal inputs give bit-identical scores on either path. */
  private def scoreSums(cand: DataFrame, nDocs: Double, avgdl: Double,
                        k1: Double, b: Double): DataFrame = {
    val idf = log(lit(1.0) +
      (lit(nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val termScore = idf * col("tf") * lit(k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl)))
    cand.select(col("qid"), col("doc_id"), termScore.as("__s"))
      .groupBy("qid", "doc_id")
      .agg(sum(col("__s")).as("score"))
  }

  /** One-shot scores WITHOUT materializing an index (r15, guide §8
    * "decide with small rows"): scoring only ever needs df for the
    * QUERY terms, and the candidate join (postings ⋈ broadcast query
    * terms) already holds every (doc, term) row of those terms — so df
    * comes from a candidate-sized aggregation instead of the full
    * vocabulary one. Two streaming passes over the corpus text (stats,
    * then tf+join), nothing corpus-sized materialized — the shape that
    * scales to corpora far beyond executor storage. df/nDocs values are
    * the same integers as the stored index's; avgdl is the same mean up
    * to float summation order (scores are quantized with probed margins
    * downstream). Docs with no tokens are excluded from the corpus
    * statistics (they can match nothing). The candidate frame is an
    * eager, tracked localCheckpoint (two consumers; candidate-sized by
    * query-boundedness). */
  def scores(docs: DataFrame, docId: String, docText: String,
             queries: DataFrame, queryId: String, queryText: String,
             k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val corpus = tokenized(docs, docId, docText)
    // pass 1 — corpus stats, no shuffle, nothing cached
    val statsRow = corpus
      .agg(count(lit(1)).cast("double"), avg(size(col("__toks")).cast("double")))
      .collect()(0)
    val nDocs = statsRow.getDouble(0)
    val avgdl = if (statsRow.isNullAt(1)) 1.0 else statsRow.getDouble(1)
    val qterms = queryTerms(queries, queryId, queryText)
    // pass 2 — candidate rows: every (doc, term) posting of a query term
    val cand = graft.plan.Checkpoints.track(
      tfRows(corpus).join(broadcast(qterms.select("term").distinct()), Seq("term"))
        .localCheckpoint(true))
    // df for query terms alone, from the candidates themselves
    scoreSums(cand.join(broadcast(qterms), Seq("term"))
        .join(broadcast(dfRows(cand)), Seq("term")),
      nDocs, avgdl, k1, b)
  }

  /** Top `k` docs per query by BM25, with the score QUANTIZED to
    * `scoreDecimals` before ranking and ties broken by ascending doc id.
    * Quantization is the cross-engine determinism device: raw double sums
    * differ by ulps between engines/summation orders, so ranking on the
    * rounded score + id makes the result exactly reproducible (probe that
    * real scores sit far from the rounding boundary — q96 does).
    * Returns (qid, rank, doc_id, score). */
  def topK(docs: DataFrame, docId: String, docText: String,
           queries: DataFrame, queryId: String, queryText: String,
           k: Int, k1: Double = 1.2, b: Double = 0.75,
           scoreDecimals: Int = 4): DataFrame =
    topKFromScores(
      scores(docs, docId, docText, queries, queryId, queryText, k1, b),
      k, scoreDecimals)

  private def topKFromScores(sc: DataFrame, k: Int, scoreDecimals: Int): DataFrame =
    graft.plan.TopKPerGroup(
        sc.withColumn("score", round(col("score"), scoreDecimals)),
        Seq(col("qid")),
        Seq(col("score").desc, col("doc_id").asc), k, rankName = "rank")
      .select(col("qid"), col("rank"), col("doc_id"), col("score"))

  // ------------------------------------------------------- stored index

  /** The stored index: (doc_id, dl, term, tf) postings, a separate
    * vocabulary-sized `(term, df)` table, and the corpus scalars.
    * `nDocs`/`avgdl` count only docs with ≥1 token (blank docs can match
    * nothing and must not dilute avgdl). Keeping df out of the posting
    * rows is what makes the index maintainable: an append is
    * O(batch + vocabulary) — batch postings APPEND (stored postings are
    * never read, rewritten, or shuffled), the df table merges by term
    * (vocab-sized), and the scalar stats add arithmetically. Scoring
    * joins df onto the BROADCAST query-term side, so the stored postings
    * never shuffle at serve time. With no tombstones it is simply the
    * built index.
    *
    * Exactness contract (the q158 gate): an index built incrementally
    * over any disjoint split of the corpus serves quantized top-k
    * IDENTICAL to a full rebuild — df counts and doc counts are integer
    * sums, and `totalDl` is a sum of integer-valued doubles (token
    * counts), exact in float64 below 2^53 regardless of summation order,
    * so `avgdl` is bit-identical to the rebuild's. Appended batches must
    * carry doc ids DISJOINT from the stored corpus (the same admission
    * precondition as the q109 dedup index); re-adding an id double-counts
    * exactly as a real posting list would — pass
    * `rejectDuplicateIds = true` to [[appendIncIndex]] to turn that
    * silent corruption into an error.
    *
    * DELETION ([[deleteFromIncIndex]]) is the lifecycle's other half —
    * takedowns and post-hoc dedup rejections under a format whose whole
    * point is never rewriting postings: removed doc ids land in a
    * doc-count-bounded `tombstones` table consulted at SERVE time (an
    * anti-join on the candidate-sized frame after the query-term join —
    * the postings themselves are never read for a delete beyond the one
    * scan that computes the decrements), df/nDocs/totalDl decrement from
    * the tombstoned docs' own postings rows (integer decrements — serving
    * stays EXACTLY rebuild-equal on the reduced corpus, the q159 gate),
    * and [[compactIncIndex]] eventually folds tombstones back into
    * storage. Consistency model: (postings, tombstones) is the source of
    * truth; dfs/stats are DERIVED and [[repairIncIndex]] recomputes them
    * after any crash mid-maintenance.
    *
    * SERVING: [[topKAgainstIncIndex]] / [[scoresAgainstIncIndex]] serve a
    * small index (files under `Bm25Local.MaxIndexBytes`) against a local
    * query batch on the driver, from decoded segments resident across
    * requests and keyed by the identity of each file in these frames'
    * frozen listings, so a request reads exactly the files its loaded
    * index names; larger indexes or distributed query sides take the
    * distributed plan. Both regimes return identical rows (see
    * [[Bm25]]). */
  final case class IncIndex(postings: DataFrame, dfs: DataFrame,
                            nDocs: Double, totalDl: Double,
                            tombstones: Option[DataFrame] = None) {
    def avgdl: Double = if (nDocs == 0) 1.0 else totalDl / nDocs
  }

  /** An index's DERIVED state — the df table and the corpus scalars —
    * as a maintenance op computes it, before its tier commits it. */
  private[curate] final case class Derived(dfs: DataFrame, nDocs: Double,
                                           totalDl: Double) {
    def statsRow: DataFrame = {
      val spark = dfs.sparkSession
      import spark.implicits._
      Seq((nDocs, totalDl)).toDF("n_docs", "total_dl").coalesce(1)
    }
  }

  /** The derive core both tiers share: dfs and stats recomputed from the
    * live postings in ONE cached pass (the stats collect fills the cache,
    * the df aggregation reads it), handed to `commit` while the cache
    * lives and released (blocking) after. */
  private[curate] def derive[T](live: DataFrame)(commit: Derived => T): T = {
    val cached = live.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (nDocs, totalDl) = docStats(cached)
      commit(Derived(dfRows(cached), nDocs, totalDl))
    } finally cached.unpersist(blocking = true)
  }

  /** The batch-append core both tiers share (r15 write-first): one
    * batch-sized stats pre-pass straight from the batch text (no shuffle,
    * nothing cached) — an all-blank batch is a no-op (None, nothing
    * written); the optional duplicate-id probe (one broadcast probe of
    * `cur`'s postings, batch-id-sized build side, no shuffle; tombstoned
    * ids count as present); the batch's tf rows, sized by
    * [[postingsParts]], handed to `write`, which stores them and returns
    * the rows it wrote; the delta df read back from exactly those files
    * (a batch-sized re-read instead of a second batch materialization);
    * and the df merge. Returns the new derived state for the tier to
    * commit AFTER the postings — the source of truth — are written. */
  private[curate] def appendCore(cur: IncIndex, root: String, newDocs: DataFrame,
                                 docId: String, docText: String,
                                 rejectDuplicateIds: Boolean)(
      write: DataFrame => DataFrame): Option[Derived] = {
    val corpus = tokenized(newDocs, docId, docText)
    val st = corpus
      .agg(count(lit(1)).cast("double"), sum(size(col("__toks")).cast("double")))
      .collect()(0)
    if (st.isNullAt(1)) None
    else {
      if (rejectDuplicateIds) {
        val dup = cur.postings
          .join(broadcast(corpus.select("doc_id").distinct()), Seq("doc_id"), "left_semi")
          .select("doc_id").limit(1).collect()
        require(dup.isEmpty, s"append: batch re-adds doc id ${dup.head.get(0)} " +
          s"already present under $root — a re-add double-counts df/tf " +
          "(compact + delete first, or fix the batch)")
      }
      val written = write(tfRows(corpus).coalesce(postingsParts(st.getDouble(0))))
      Some(Derived(
        cur.dfs.unionByName(dfRows(written)).groupBy("term").agg(sum(col("df")).as("df")),
        cur.nDocs + st.getDouble(0), cur.totalDl + st.getDouble(1)))
    }
  }

  /** The removal core both tiers share: the requested ids not already
    * tombstoned, the ONE postings scan for their rows (ids broadcast),
    * and the integer decrements of df/nDocs/totalDl from exactly those
    * rows. `commit` gets the newly removed ids and the decremented state;
    * None (no commit) when no requested doc is live. The removed rows
    * are an EAGER localCheckpoint, NOT a persist: the unversioned commit
    * appends to the tombstone table this frame's lineage reads, and
    * Spark's recacheByPath would silently RECOMPUTE a persisted frame
    * against the grown tombstone set — the anti-join then erases the
    * docs being deleted and the decrements vanish (the sequential-deletes
    * corruption the swap-commit spec caught). A checkpoint has no lineage
    * to recompute. It is released with `Checkpoints.releaseNow(blocking =
    * true)`: `Dataset.unpersist` only clears CacheManager entries and is a
    * no-op for the checkpoint RDD's own persist (the q159 leak). */
  private[curate] def removeCore[T](cur: IncIndex, ids: DataFrame, idCol: String)(
      commit: (DataFrame, Derived) => T): Option[T] = {
    val req = cur.tombstones.foldLeft(
      ids.select(col(idCol).as("doc_id")).distinct())(
      (r, ts) => r.join(ts, Seq("doc_id"), "left_anti"))
    val removed = cur.postings.join(broadcast(req), Seq("doc_id"))
      .localCheckpoint(true)
    try {
      val (nDocs, totalDl) = docStats(removed)
      if (nDocs == 0) None
      else {
        val dec = dfRows(removed).select(col("term"), col("df").as("__dec"))
        // vocab-sized merge; terms whose last doc died leave the table
        Some(commit(removed.select("doc_id").distinct(), Derived(
          cur.dfs.join(dec, Seq("term"), "left")
            .select(col("term"), (col("df") - coalesce(col("__dec"), lit(0.0))).as("df"))
            .filter(col("df") > 0),
          cur.nDocs - nDocs, cur.totalDl - totalDl)))
      }
    } finally graft.plan.Checkpoints.releaseNow(removed, blocking = true)
  }

  /** Build and save the index at `path` in ONE corpus materialization
    * (r15, VERDICT r14 #3): the tf rows write STRAIGHT to `$path/postings`
    * — the parquet write IS the materialization (no corpus-sized cache
    * fill, no checkpoints, sized by an AQE rebalance) — and dfs/stats
    * then derive from the WRITTEN files. A build is a save, not a
    * commit: it writes the plain `postings`, `dfs` and `stats` dirs
    * first, then clears any swap pointers and the `tombstones` table of
    * an index previously maintained at this root, so ids deleted from the
    * old index do not shadow the rebuilt one. A crash mid-build leaves
    * the pointers intact, so the committed generation stays resolvable
    * until the replacement bytes fully exist. */
  def buildAndSaveIncIndex(spark: SparkSession, docs: DataFrame,
                           docId: String, docText: String,
                           path: String): Unit = {
    tfRows(tokenized(docs, docId, docText))
      .hint("rebalance").write.mode("overwrite").parquet(s"$path/postings")
    derive(graft.sources.Pq.read(spark, s"$path/postings")) { d =>
      d.dfs.write.mode("overwrite").parquet(s"$path/dfs")
      d.statsRow.write.mode("overwrite").parquet(s"$path/stats")
    }
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(".ptr_postings", ".ptr_dfs", ".ptr_stats", "tombstones").foreach { n =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/$n"), true) }
  }

  def loadIncIndex(spark: SparkSession, path: String): IncIndex = {
    val (nDocs, totalDl) = readStats(spark, resolveTable(spark, path, "stats"))
    IncIndex(graft.sources.Pq.read(spark, resolveTable(spark, path, "postings")),
      graft.sources.Pq.read(spark, resolveTable(spark, path, "dfs")),
      nDocs, totalDl, tombstonesOpt(spark, path))
  }

  /** `(n_docs, total_dl)` of the 1-row stats table at `dir`, as doubles.
    * The row is decoded in process, with no Spark job and no Catalyst
    * plan; a table that `Pq.localRows` refuses goes through the cluster
    * read `Pq.read` and `cast("double")`. `Number.doubleValue` widens
    * int, bigint and float as that cast does. */
  private def readStats(spark: SparkSession, dir: String): (Double, Double) = {
    val cols = Seq("n_docs", "total_dl")
    val rows: Seq[Seq[Any]] = graft.sources.Pq.localRows(spark, 16L << 20, dir)
      .map { case (schema, rs) => rs.map(r => cols.map(c => r(schema.fieldIndex(c)))) }
      .getOrElse(graft.sources.Pq.read(spark, dir)
        .select(cols.map(c => col(c).cast("double")): _*).collect().toSeq.map(_.toSeq))
    require(rows.size == 1 && rows.head.forall(_.isInstanceOf[Number]),
      s"BM25 stats table $dir must hold exactly one row with non-null numeric n_docs and " +
        s"total_dl, found ${rows.size} row(s)${rows.headOption.fold("")(r => s", first $r")}; " +
        "rebuild the derived tables with Bm25.repairIncIndex")
    val row = rows.head.map(_.asInstanceOf[Number].doubleValue)
    (row(0), row(1))
  }

  /** The tombstone table, once ids were committed to it: a crash inside
    * the first tombstone append leaves the directory without a data
    * file, and that holds no tombstone. */
  private def tombstonesOpt(spark: SparkSession, path: String): Option[DataFrame] =
    Some(s"$path/tombstones").filter(graft.sources.Pq.holdsData(spark, _))
      .map(graft.sources.Pq.read(spark, _))

  /** Commit a maintenance op's derived state: dfs, then stats, each by
    * one [[swapWrite]]. */
  private def swapDerived(path: String, d: Derived): Unit = {
    swapWrite(d.dfs, path, "dfs")
    swapWrite(d.statsRow, path, "stats")
  }

  /** Append a document batch to a stored index — O(batch + vocabulary),
    * the stored postings are untouched: batch postings append as new
    * files, the df table and 1-row stats swap in after them (both
    * vocab-or-smaller). Single-writer maintenance op; concurrent readers
    * mid-append can see the new postings before the new stats — use
    * [[Bm25Versioned]] when serving must be isolated from maintenance.
    * Crash recovery: postings (the source of truth) commit FIRST, so a
    * crash that leaves dfs/stats stale or mid-swap repairs with
    * [[repairIncIndex]]. Batch doc ids must be disjoint from the stored
    * corpus (see [[IncIndex]]); `rejectDuplicateIds` enforces that
    * precondition instead of trusting it. */
  def appendIncIndex(spark: SparkSession, path: String, newDocs: DataFrame,
                     docId: String, docText: String,
                     rejectDuplicateIds: Boolean = false): Unit = {
    val pDir = new org.apache.hadoop.fs.Path(resolveTable(spark, path, "postings"))
    val pfs = pDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listing(): Set[String] =
      pfs.listStatus(pDir).map(_.getPath.toString)
        .filterNot(p => { val n = p.split("/").last
          n.startsWith("_") || n.startsWith(".") }).toSet
    appendCore(loadIncIndex(spark, path), path, newDocs, docId, docText,
        rejectDuplicateIds) { tf =>
      val before = listing()
      tf.write.mode("append").parquet(pDir.toString)
      graft.sources.Pq.read(spark, (listing() -- before).toSeq.sorted: _*)
    }.foreach(swapDerived(path, _))
  }

  /** Remove documents from a stored index WITHOUT rewriting postings —
    * O(ids + one postings scan + vocabulary): the ids actually present
    * land in the `tombstones` table (consulted at serve time as a
    * candidate-sized anti-join), and df/nDocs/totalDl decrement from the
    * removed docs' own postings rows, so serving is EXACTLY a rebuild
    * over the reduced corpus (integer decrements — the q159 gate).
    * Already-tombstoned and absent ids are no-ops (idempotent; no
    * double-decrement). Tombstones commit FIRST: a crash before the
    * dfs/stats swaps leaves (postings, tombstones) — the source of truth
    * — already final, and [[repairIncIndex]] rebuilds the rest.
    * Single-writer, like [[appendIncIndex]]. */
  def deleteFromIncIndex(spark: SparkSession, path: String, ids: DataFrame,
                         idCol: String): Unit =
    removeCore(loadIncIndex(spark, path), ids, idCol) { (removedIds, d) =>
      removedIds.write.mode("append").parquet(s"$path/tombstones")
      swapDerived(path, d)
    }

  /** Recompute the DERIVED tables (dfs, stats) from the source of truth
    * (postings minus tombstones) — ONE aggregation pass; the repair path
    * after a crash mid-[[appendIncIndex]]/[[deleteFromIncIndex]] left
    * them stale or mid-swap (missing). Reads postings directly (not
    * [[loadIncIndex]], which needs the very tables being repaired). */
  def repairIncIndex(spark: SparkSession, path: String): Unit =
    derive(tombstonesOpt(spark, path).foldLeft(
        graft.sources.Pq.read(spark, resolveTable(spark, path, "postings")))(
        (p, ts) => p.join(ts, Seq("doc_id"), "left_anti")))(
      swapDerived(path, _))

  /** Fold tombstones back into storage: the ONE deliberate postings
    * rewrite, run at the operator's chosen cadence (when the tombstone
    * fraction makes the serve-time anti-join or the dead-row scan cost
    * noticeable). dfs/stats are already decrement-correct, so only
    * postings rewrite and the tombstone table clears. Idempotent and
    * crash-ordered: postings swap first — a crash before the tombstone
    * delete leaves the anti-join filtering already-absent ids, a no-op. */
  def compactIncIndex(spark: SparkSession, path: String): Unit =
    tombstonesOpt(spark, path).foreach { ts =>
      swapWrite(graft.sources.Pq.read(spark, resolveTable(spark, path, "postings"))
        .join(ts, Seq("doc_id"), "left_anti"), path, "postings")
      val p = new org.apache.hadoop.fs.Path(s"$path/tombstones")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }

  /** Resolve the live directory of a swap-managed table: the pointer
    * file `root/.ptr_<name>` names the current generation dir when a
    * [[swapWrite]] has committed one; absent, the table lives at the
    * plain `root/name` (the layout [[buildAndSaveIncIndex]] writes). */
  private[graft] def resolveTable(spark: SparkSession, root: String,
                                  name: String): String =
    graft.sources.AtomicFile.read(spark.sparkContext.hadoopConfiguration,
      s"$root/.ptr_$name").fold(s"$root/$name")(gen => s"$root/${gen.trim}")

  /** Replace table `root/name` with `df`'s rows — SINGLE-RENAME commit
    * (VERDICT r12 #5, closing the two-rename no-dst window carried
    * since r10): the new rows land in a fresh GENERATION dir
    * (`root/.gen_<name>_<k>` — the write also materializes the plan, so
    * a df reading the table can rewrite it), and the commit is ONE
    * [[graft.sources.AtomicFile.write]] of a tiny pointer file
    * `root/.ptr_<name>` naming it. A reader resolving the table through
    * [[resolveTable]] therefore sees the OLD generation or the NEW one,
    * never a missing directory. Crash model: before the pointer rename,
    * the new generation is an unreferenced orphan (the retry overwrites
    * it — generation numbering follows the committed pointer); after
    * it, the commit is complete. Superseded generations are kept ONE
    * swap (a reader that resolved just before the commit keeps
    * streaming the previous dir) and deleted on the NEXT swap — the
    * bytes-linger-until-vacuum contract every versioned tier follows. */
  private def swapWrite(df: DataFrame, root: String, name: String): Unit = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(conf)
    val currentDir = resolveTable(spark, root, name)
    val currentGen = new org.apache.hadoop.fs.Path(currentDir).getName
    val nextN = currentGen match {
      case g if g.startsWith(s".gen_${name}_") =>
        g.substring(s".gen_${name}_".length).toLong + 1
      case _ => 1L
    }
    val gen = s".gen_${name}_$nextN"
    df.write.mode("overwrite").parquet(s"$root/$gen")
    graft.sources.AtomicFile.write(conf, s"$root/.ptr_$name", gen)
    // reclaim generations OLDER than the one just superseded (and the
    // plain dir once it is no longer the previous generation)
    val keep = Set(gen, currentGen)
    val stale = fs.listStatus(rootP).toSeq.map(_.getPath.getName)
      .filter(n => (n.startsWith(s".gen_${name}_") || n == name) &&
        !keep.contains(n))
    stale.foreach(n =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/$n"), true))
  }

  /** Raw BM25 scores against a stored index for every (query, doc) pair
    * sharing at least one term: (qid, doc_id, score). A small index and
    * a local query side are served on the driver ([[Bm25Local]], zero
    * Spark jobs, same rows); otherwise the distributed plan below. */
  def scoresAgainstIncIndex(index: IncIndex, queries: DataFrame,
                            queryId: String, queryText: String,
                            k1: Double = 1.2, b: Double = 0.75): DataFrame =
    Bm25Local.serve(index, queries, queryId, queryText, k1, b, None)
      .getOrElse(scoresDistributed(index, queries, queryId, queryText, k1, b))

  /** The distributed plan of [[scoresAgainstIncIndex]]: df joins onto
    * the query-term side (small), which then broadcasts onto the
    * postings — stored postings never shuffle. Tombstoned docs drop via
    * an anti-join on the CANDIDATE-sized frame (after the query-term
    * join — the full postings never pay for deletes), and since
    * df/nDocs/avgdl were decremented at delete time, the surviving
    * scores are identical doubles to a rebuild over the reduced corpus
    * (same inputs, same expression tree), so quantized rankings agree —
    * the q159 gate. */
  private[curate] def scoresDistributed(index: IncIndex, queries: DataFrame,
                                        queryId: String, queryText: String,
                                        k1: Double, b: Double): DataFrame = {
    val qterms = queryTerms(queries, queryId, queryText).join(index.dfs, Seq("term"))
    val cand = index.postings.join(broadcast(qterms), Seq("term"))
    scoreSums(index.tombstones.foldLeft(cand)(
        (c, ts) => c.join(ts, Seq("doc_id"), "left_anti")),
      index.nDocs, index.avgdl, k1, b)
  }

  /** Top `k` docs per query against a stored index, ranked as [[topK]]
    * ranks: (qid, rank, doc_id, score). Driver-local for a small index
    * and a local query side ([[Bm25Local]]), distributed otherwise. */
  def topKAgainstIncIndex(index: IncIndex, queries: DataFrame,
                          queryId: String, queryText: String,
                          k: Int, k1: Double = 1.2, b: Double = 0.75,
                          scoreDecimals: Int = 4): DataFrame =
    Bm25Local.serve(index, queries, queryId, queryText, k1, b, Some((k, scoreDecimals)))
      .getOrElse(topKDistributed(index, queries, queryId, queryText, k, k1, b, scoreDecimals))

  /** The distributed plan of [[topKAgainstIncIndex]]. */
  private[curate] def topKDistributed(index: IncIndex, queries: DataFrame,
                                      queryId: String, queryText: String,
                                      k: Int, k1: Double = 1.2, b: Double = 0.75,
                                      scoreDecimals: Int = 4): DataFrame =
    topKFromScores(
      scoresDistributed(index, queries, queryId, queryText, k1, b),
      k, scoreDecimals)

  /** Serve-regime telemetry: local and distributed serves, segment
    * loads and reuses, resident bytes ([[Bm25Local]]). */
  private[graft] def serveCounters: Bm25Local.Counters = Bm25Local.counters
}
