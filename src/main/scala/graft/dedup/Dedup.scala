package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{SimilarityFunctions => S, TextFunctions => T}

/** Document deduplication for training-data pipelines, at three cost tiers:
  *
  *  1. exact     — one hash-shuffle; O(N).
  *  2. near-dup  — MinHash/SimHash banding: candidates only collide within a
  *                 band bucket, so the pairwise verify is confined to tiny
  *                 buckets. Never materializes the N² pair space — the only
  *                 shape that survives 100 TB.
  *  3. embedding — cosine near-dup over an embedding column (delegates
  *                 bucketing to [[graft.ann.Ann]]-style LSH).
  *
  * All candidate-pair outputs use (id_keep < id_dup) ordering so results are
  * deterministic sets.
  */
object Dedup {

  /** Compute-bound stages (signature hashing) must not inherit the scan's
    * split count: a small single-file table arrives as ONE partition and
    * serializes the whole kernel onto one core. When the input has fewer
    * partitions than the cluster has slots, scatter it first; when splits
    * are plentiful (any real at-scale input) this is a no-op — no shuffle
    * is added. Parallelism is estimated from plan metadata
    * ([[graft.plan.Partitions]]) — never by executing the plan. */
  private[graft] def ensureParallelism(
      df: DataFrame,
      keys: Seq[org.apache.spark.sql.Column] = Nil): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (graft.plan.Partitions.estimateInputPartitions(df) * 2 < target) {
      // Data-derived width, not the raw core count (r14, guide §2):
      // one task per ~4 MB of estimated input keeps compute-heavy
      // kernels (tokenize/minhash/assign) at 0.05–0.3 s/task, capped at
      // the session parallelism — so big inputs still fan out to every
      // core while a small corpus stops paying ~32 near-empty task
      // launches per job (measured ~0.25–0.4 s/job of pure overhead at
      // sf0.1). Plans without a usable size estimate report huge
      // sizeInBytes and keep the full-width behavior. Every caller's
      // kernel is partitioning-invariant by contract.
      //
      // `keys`: optional hash-scatter columns. A downstream groupBy whose
      // grouping set is a SUPERSET of the keys then rides this
      // partitioning with no further exchange (HashPartitioning satisfies
      // ClusteredDistribution when its expressions are a subset of the
      // clustering), so the scatter replaces — not adds to — the
      // aggregation shuffle (the r14 BM25-build shape).
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val byBytes =
        if (bytes > BigInt(Long.MaxValue) / 2) target.toLong
        else (bytes / (4L << 20)).toLong + 1L
      val n = math.max(2L, math.min(target.toLong, byBytes)).toInt
      if (keys.isEmpty) df.repartition(n) else df.repartition(n, keys: _*)
    } else df
  }

  /** Eager materialization for CORPUS-SIZED multi-consumer frames.
    * localCheckpoint blocks are non-evictable AND non-recomputable
    * (lineage truncated): fine for candidate-sized intermediates, but a
    * corpus-sized frame pinned that way turns executor memory+disk
    * pressure into a job failure where a plain persist would evict and
    * recompute. When the session has a RELIABLE checkpoint dir configured
    * (`sparkContext.setCheckpointDir` — the at-scale deployment contract,
    * pointed at durable storage), use `checkpoint(eager = true)`: blocks
    * live in the store, nothing is pinned on executors, and lost
    * partitions re-read from the store. Without one (local/battery runs,
    * where the corpus fits by construction) fall through to the eager
    * localCheckpoint — still zero cache-manager entries either way. */
  private[graft] def checkpointEager(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(true).transform(graft.plan.Checkpoints.track)

  /** Bucketed candidate-pair generation — the shared core of the LSH dedup
    * tiers. Groups banded rows by the bucket keys with a memory-bounded
    * capped collect ([[graft.functions.expressions.CollectListCappedAgg]]:
    * buckets above `maxBucketSize` evaluate to NULL without ever
    * materializing — the degenerate-bucket guard for boilerplate-heavy
    * corpora, with a hard per-group buffer bound), then streams each
    * bucket's unordered pairs through two generators, so no bucket's pair
    * set is ever held as one value.
    *
    * ONE shuffle total (the groupBy on bucket keys). This replaced a
    * window-count guard + self-join: measured 1.6× faster at sf0.1 with
    * identical results, and strictly fewer exchanges.
    *
    * Returns `(__x, __y)` struct columns carrying the non-key payload
    * fields of `banded`; callers normalize pair order with least/greatest
    * (bucket collection order is nondeterministic). */
  private[graft] def bucketPairs(banded: DataFrame, keys: Seq[String], maxBucketSize: Int): DataFrame = {
    import graft.functions.expressions.CollectListCappedAgg.collectListCapped
    val payload = banded.columns.filterNot(keys.contains)
    banded.groupBy(keys.map(col): _*)
      .agg(collectListCapped(struct(payload.toIndexedSeq.map(col): _*), maxBucketSize).as("__m"))
      .filter(col("__m").isNotNull && size(col("__m")) >= 2)
      .select(col("__m"), posexplode(col("__m")).as(Seq("__i", "__x")))
      .select(col("__x"), explode(slice(col("__m"), col("__i") + lit(2), size(col("__m")))).as("__y"))
  }

  /** Exact dedup on a content column: md5-group, keep the smallest id.
    * Single shuffle on the 128-bit content hash — at 100 TB, hash first so
    * the shuffle carries (hash, id), not the document bytes. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(md5(col(textCol)).as("text_hash"), col(idCol))
      .groupBy("text_hash")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Rows of `df` surviving exact dedup (the min-id representative of each
    * distinct content hash). */
  def exactSurvivors(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exact(df, idCol, textCol).select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** `(id, sig)` MinHash signature frame for a document set — the stored
    * index at scale: hash the corpus once, write this frame as a table, and
    * run incremental batches against it ([[minhashPairsAgainstIndex]]). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleLen: Int = 3, k: Int = 64,
                        portable: Boolean = false): DataFrame =
    ensureParallelism(df.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"),
        S.minhashSignature(T.wordShingles(col("__text"), shingleLen), k, portable).as("sig"))

  /** MinHash-LSH candidate pairs: shingle → k-permutation signature →
    * `bands` band hashes → explode → bucket-grouped pair streaming per
    * (band, hash) bucket → verify with the signature-estimated Jaccard.
    * Returns (id_a, id_b, est_jaccard) with id_a < id_b, deduped across
    * bands.
    *
    * Shuffle profile: ONE shuffle, on band hash (bands·N rows);
    * bucket-local pair expansion streams through generators — no global
    * cross join, no self-join re-exchange. */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleLen: Int = 3, k: Int = 64, bands: Int = 16,
                   threshold: Double = 0.7,
                   maxBucketSize: Int = 10000,
                   portable: Boolean = false): DataFrame =
    minhashPairsFromSignatures(
      minhashSignatures(df, idCol, textCol, shingleLen, k, portable),
      k, bands, threshold, maxBucketSize, portable)

  /** LSH pair generation over a precomputed `(id, sig)` frame — the shape
    * used when signatures are stored (or shared with another phase). Single
    * pass over the signatures: band-explode, one bucket shuffle, in-bucket
    * pair streaming (see [[bucketPairs]]); band-duplicate pairs collapse in
    * the final (id_a, id_b) aggregation. */
  def minhashPairsFromSignatures(sigFrame: DataFrame, k: Int, bands: Int,
                                 threshold: Double,
                                 maxBucketSize: Int = 10000,
                                 portable: Boolean = false): DataFrame = {
    // The bucket shuffle carries ONLY (id, band, bhash) — never the k-long
    // signature. Shipping sigs through the band explode multiplies shuffle
    // bytes by `bands` (16x of 512 B/doc at the defaults) and bloats the
    // collect buffers; instead the (small) deduped candidate set joins the
    // signature frame back afterwards, so sigs move at most once, and only
    // for ids that actually collided. Measured 1.8 s -> 1.1 s at sf0.1 with
    // identical output.
    val banded = sigFrame.select(col("id"),
      posexplode(S.minhashBands(col("sig"), k, bands, portable)).as(Seq("band", "bhash")))
    val cand = bucketPairs(banded, Seq("band", "bhash"), maxBucketSize)
      .select(
        least(col("__x.id"), col("__y.id")).as("id_a"),
        greatest(col("__x.id"), col("__y.id")).as("id_b"))
      .distinct() // collapse band-duplicate collisions BEFORE the sig join
      .localCheckpoint(true).transform(graft.plan.Checkpoints.track)
    // Prune the signature frame to collided ids before the payload joins:
    // the left-semi pushes BELOW sigFrame's projection (id is pass-through),
    // so when sigs are computed on the fly only candidate rows pay the
    // minhash kernel — and each join side re-evaluates only that pruned
    // subtree. (cand is eagerly checkpointed: it feeds candIds and the
    // joins, its upstream is the whole bucket shuffle, and a checkpoint —
    // unlike a persist — leaves nothing registered in the cache manager
    // once the result is consumed; id-pair scalars store densely.)
    val candIds = cand.select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    // checkpointed for the same reason: both payload joins consume it, and
    // each would otherwise re-run the (pruned) signature subtree;
    // candidate-count rows only.
    val prunedSigs = sigFrame.join(broadcast(candIds), Seq("id"), "left_semi")
      .localCheckpoint(true).transform(graft.plan.Checkpoints.track)
    cand
      .join(prunedSigs.select(col("id").as("id_a"), col("sig").as("__sa")), Seq("id_a"))
      .join(prunedSigs.select(col("id").as("id_b"), col("sig").as("__sb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        S.minhashJaccard(col("__sa"), col("__sb")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** SimHash near-dup candidate pairs: 64-bit fingerprint, banded into four
    * 16-bit chunks (any equal chunk ⇒ candidate; catches all pairs within
    * Hamming distance 3 by pigeonhole), verified by exact Hamming distance. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucketSize: Int = 10000,
                   portable: Boolean = false): DataFrame = {
    val fp = ensureParallelism(df.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), S.simhash(T.tokens(col("__text")), portable).as("fp"))
    // portable fingerprints are 60-bit → four 15-bit chunks; default 64-bit
    // → four 16-bit chunks. Either way pigeonhole catches Hamming ≤ 3.
    val (shift, mask) = if (portable) (15, 0x7FFFL) else (16, 0xFFFFL)
    val chunks = (0 until 4).map(i =>
      shiftright(col("fp"), i * shift).bitwiseAND(lit(mask)).as(s"c$i"))
    val banded = fp.select(col("id") +: col("fp") +: chunks: _*)
      .select(col("id"), col("fp"),
        posexplode(array((0 until 4).map(i => col(s"c$i")): _*)).as(Seq("band", "chunk")))
    bucketPairs(banded, Seq("band", "chunk"), maxBucketSize)
      .select(
        least(col("__x.id"), col("__y.id")).as("id_a"),
        greatest(col("__x.id"), col("__y.id")).as("id_b"),
        S.hamming64(col("__x.fp"), col("__y.fp")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy("id_a", "id_b").agg(min("hamming").as("hamming"))
  }

  /** Survivor selection over near-dup pairs: keep-smallest-id — any doc
    * appearing as the larger side of a pair is dropped. For chains
    * a<b<c with pairs (a,b),(b,c), both b and c drop and a survives; this
    * keep-first policy is the standard large-scale choice (full connected
    * components cost iterative joins for marginal benefit). */
  def nearDupSurvivors(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    df.join(pairs.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_anti")

  /** Exact n-gram Jaccard over MinHash-generated candidates: the LSH pass
    * proposes pairs, then the true shingle-set Jaccard verifies them.
    * This is the standard two-phase shape — cheap recall, exact precision —
    * that avoids ever computing N² true Jaccards. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleLen: Int = 3, threshold: Double = 0.8,
                        k: Int = 64, bands: Int = 16): DataFrame = {
    // Recall phase over the whole corpus; the exact-jaccard verify phase
    // then recomputes shingles ONLY for the candidate ids (broadcast
    // semi-join prune) — at 100 TB the candidates are orders of magnitude
    // smaller than the corpus, so the verify side never touches the rest.
    //
    // Raw bucket collisions go STRAIGHT to the exact verify: an
    // intermediate est-jaccard filter (minhash signature join + estimate)
    // would only shrink the candidate set the exact filter prunes anyway,
    // while costing two more join stages — the exact verify is the
    // precision phase, so extra candidates cost one cheap kernel each,
    // never correctness. Candidates are a superset of any est-filtered
    // set, so recall is monotonically ≥ the previous design's.
    val sigs = minhashSignatures(df, idCol, textCol, shingleLen, k)
    val banded = sigs.select(col("id"),
      posexplode(S.minhashBands(col("sig"), k, bands)).as(Seq("band", "bhash")))
    val candidates = bucketPairs(banded, Seq("band", "bhash"), maxBucketSize = 10000)
      .select(
        least(col("__x.id"), col("__y.id")).as("id_a"),
        greatest(col("__x.id"), col("__y.id")).as("id_b"))
      .distinct() // collapse band-duplicate collisions
      .localCheckpoint(true).transform(graft.plan.Checkpoints.track)
    val candIds = candidates
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    // checkpointed: `sh` feeds BOTH payload joins below, and each join
    // side would otherwise re-evaluate the corpus scan + shingle kernel
    // (AQE plans the two small sides as independent broadcasts — no
    // exchange reuse between them). Candidates-only, so it is tiny at
    // scale, and — unlike a persist — nothing stays registered in the
    // cache manager after the result is consumed.
    val sh = df.select(col(idCol).as("id"), col(textCol).as("__text"))
      .join(broadcast(candIds), Seq("id"), "left_semi")
      .select(col("id"), array_distinct(T.wordShingles(col("__text"), shingleLen)).as("sh"))
      .localCheckpoint(true).transform(graft.plan.Checkpoints.track)
    candidates
      .join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .select(col("id_a"), col("id_b"), S.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** EXACT set-similarity self-join at Jaccard ≥ tauNum/tauDen over
    * distinct shingle sets — the lossless counterpart of
    * [[ngramJaccardPairs]] (whose recall phase is probabilistic LSH):
    * prefix filtering in the AllPairs/PPJoin family (Chaudhuri et al.
    * ICDE'06; Bayardo et al. WWW'07; Xiao et al. WWW'08) guarantees
    * recall 1.0 by construction, so the output IS the brute-force join —
    * no empirical recall probe needed, at any scale.
    *
    * Why lossless: order all shingles by corpus rarity (frequency asc,
    * shingle asc — a total order O). Each doc keeps the prefix of its
    * first `|x| − ceil(tau·|x|) + 1` shingles under O. If J(x,y) ≥ tau,
    * let m = min(x∩y) under O; every shingle of x before m is outside
    * x∩y, and |x \ x∩y| ≤ |x| − ceil(tau·|x|) (J ≥ tau forces
    * |x∩y| ≥ ceil(tau·|x|), since |x∩y| ≥ tau·|x∪y| ≥ tau·|x| and it is
    * an integer), so m sits inside x's prefix — and symmetrically inside
    * y's. The pair therefore collides in shingle m's bucket.
    *
    * The threshold is a RATIONAL tauNum/tauDen and the verdict compares
    * integers (`tauDen·|∩| ≥ tauNum·|∪|`), so there is no float boundary
    * to probe — both engines agree bit-for-bit on every pair, which is
    * what lets q102's DuckDB oracle be the O(N²) brute force itself.
    *
    * Shuffle profile: one vocab-sized aggregation (shingle frequencies),
    * one join of exploded shingles against it (broadcast when the vocab
    * fits, AQE decides), one doc-sized aggregation to rebuild ordered
    * sets, one bucket shuffle on prefix shingles (~(1−tau) of corpus
    * shingle volume — the rarity order pushes frequent shingles OUT of
    * prefixes), then the [[ngramJaccardPairs]] candidate-verify shape.
    * `maxBucketSize` is a degenerate-corpus safety valve: a bucket that
    * overflows it is DROPPED (bounded memory wins over completeness, as
    * in every LSH tier) — at that point the exactness contract weakens,
    * so the cap defaults far above any posting this operator should see
    * (probed: max shingle posting is 25 docs at sf0.1; boilerplate-heavy
    * corpora at 100 TB would pair this with PPJoin's positional filter
    * instead of a bigger cap).
    *
    * REGIME BOUNDARY (measured, PERF.md "q102 worst case"): prefix
    * filtering prunes in proportion to how discriminative shingles are.
    * On a corpus whose shingle vocabulary is DENSE relative to its size
    * (synthetic small-vocab text: 29k distinct shingles over 50k docs,
    * mean posting ~80) every shingle is common, 8.4M candidates survive
    * the filter, and verification honestly costs candidate·|set| — the
    * known worst case of ALL exact set-similarity joins, not a plan
    * defect. Route such corpora to [[minhashPairs]]/[[ngramJaccardPairs]]
    * (probabilistic recall, sub-quadratic always) and reserve this
    * operator for corpora where near-duplication is rare and shingles
    * discriminate — web/document corpora, where max postings are
    * O(cluster size), the candidate set is O(true pairs), and the join
    * is effectively linear (rehearsed at 200k docs: exact-jaccard-200k).
    *
    * Returns (id_a, id_b, n_common, n_union) with id_a < id_b — integer
    * evidence, not a rounded score; J = n_common/n_union if a caller
    * wants it. Multi-consumer intermediates (shingle sets, candidate
    * pairs) are EAGER localCheckpoints — materialized once, released by
    * GC when the result goes unreferenced, never an entry in the cache
    * manager (the r7 cache-contract sweep; DedupAnnSpec pins the family
    * cache-empty). Consequence, shared by every pair generator in this
    * family: CONSTRUCTING the frame launches the candidate-generation
    * jobs immediately — these builders are not lazy plans, so don't call
    * one to explain() or to maybe-run later. */
  def exactJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleLen: Int = 3, tauNum: Int = 9, tauDen: Int = 10,
                        maxBucketSize: Int = 100000): DataFrame = {
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen,
      s"tau must be a rational in (0, 1]: got $tauNum/$tauDen")
    // corpus-sized multi-consumer frame: reliable checkpoint when a
    // checkpoint dir is configured, localCheckpoint otherwise (see
    // checkpointEager's scaladoc for the at-scale storage contract)
    val base = checkpointEager(ensureParallelism(
      df.select(col(idCol).as("id"), col(textCol).as("__text"))
        .filter(col("__text").isNotNull && length(trim(col("__text"))) > 0))
      .select(col("id"), array_distinct(T.wordShingles(col("__text"), shingleLen)).as("sh")))
    val freq = base.select(explode(col("sh")).as("s"))
      .groupBy("s").agg(count(lit(1)).as("cnt"))
    // ceil(tauNum·n/tauDen) in exact integer arithmetic (a double 0.9·n
    // would put prefix lengths one off at representation boundaries)
    val prefLen = (col("n") - expr(s"(n * $tauNum + ${tauDen - 1}) div $tauDen") + lit(1)).cast("int")
    val prefixes = base
      .select(col("id"), size(col("sh")).as("n"), explode(col("sh")).as("s"))
      .join(freq, "s")
      .groupBy("id", "n")
      .agg(sort_array(collect_list(struct(col("cnt"), col("s")))).as("ordered"))
      .select(col("id"), explode(slice(col("ordered"), lit(1), prefLen)).as("p"))
      .select(col("p.s").as("ps"), col("id"))
    verifyJaccardCandidates(
      bucketPairs(prefixes, Seq("ps"), maxBucketSize), base, tauNum, tauDen)
  }

  /** Shared precision phase of the Jaccard joins: candidate (id, id)
    * pairs → exact integer (n_common, n_union) verdicts against the
    * cached `(id, sh)` shingle frame. Candidates dedupe across buckets,
    * sets prune to candidate ids (broadcast semi-join), the threshold
    * compares integers. */
  private def verifyJaccardCandidates(rawPairs: DataFrame, base: DataFrame,
                                      tauNum: Int, tauDen: Int): DataFrame = {
    val candidates = rawPairs
      .select(
        least(col("__x.id"), col("__y.id")).as("id_a"),
        greatest(col("__x.id"), col("__y.id")).as("id_b"))
      .distinct() // collapse multi-bucket collisions
      .localCheckpoint(true).transform(graft.plan.Checkpoints.track)
    val candIds = candidates
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    // shingle sets only for candidate ids (broadcast semi-join prune);
    // `base` is already materialized, so this rescans nothing
    val sets = base.join(broadcast(candIds), Seq("id"), "left_semi")
    candidates
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("n_common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("n_union", size(col("sh_a")) + size(col("sh_b")) - col("n_common"))
      .filter(col("n_common") * lit(tauDen.toLong) >= col("n_union") * lit(tauNum.toLong))
      .select(col("id_a"), col("id_b"), col("n_common"), col("n_union"))
  }

  /** Density-routed Jaccard self-join — the [[exactJaccardPairs]] regime
    * boundary operationalized, the way [[duplicateClusters]] routes its CC
    * regimes. One cheap statistic decides: mean shingle-posting size
    * (corpus shingle volume / distinct shingles, a 1-row aggregate over
    * the frequency frame the exact path needs anyway). Discriminative
    * corpora (mean posting ≤ `meanPostingLimit`) take the lossless prefix
    * filter — recall 1.0 by theorem; dense corpora (synthetic small-vocab
    * text, boilerplate floods) would explode its candidate set
    * (PERF.md "q102 worst case": 8.4M candidates at mean posting ~80), so
    * they route to MinHash-LSH candidate generation instead — sub-quadratic
    * always, recall probabilistic (1−(1−t^(k/bands))^bands at similarity
    * t: ≥ 0.9998 at t = 0.9 with the k = 64 / 16-band default). BOTH paths
    * feed the same exact integer verify, so precision is always 1.0 and
    * the output schema is identical: (id_a, id_b, n_common, n_union).
    * Returns the chosen regime alongside the pairs.
    *
    * The default limit 8 sits an order of magnitude under the measured
    * pathological regime (~80) and above real-corpus postings (max 25,
    * MEAN ~1 at sf0.1 — near-dup clusters are rare by definition). */
  def jaccardPairsAuto(df: DataFrame, idCol: String, textCol: String,
                       shingleLen: Int = 3, tauNum: Int = 9, tauDen: Int = 10,
                       meanPostingLimit: Double = 8.0,
                       maxBucketSize: Int = 100000): (DataFrame, String) = {
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen,
      s"tau must be a rational in (0, 1]: got $tauNum/$tauDen")
    // corpus-sized multi-consumer frame: reliable checkpoint when a
    // checkpoint dir is configured, localCheckpoint otherwise (see
    // checkpointEager's scaladoc for the at-scale storage contract)
    val base = checkpointEager(ensureParallelism(
      df.select(col(idCol).as("id"), col(textCol).as("__text"))
        .filter(col("__text").isNotNull && length(trim(col("__text"))) > 0))
      .select(col("id"), array_distinct(T.wordShingles(col("__text"), shingleLen)).as("sh")))
    val freq = base.select(explode(col("sh")).as("s"))
      .groupBy("s").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true).transform(graft.plan.Checkpoints.track) // stats probe + prefix join both consume it
    val stats = freq.agg(count(lit(1)).as("vocab"), sum("cnt").as("volume")).collect()(0)
    val vocab = stats.getLong(0)
    val meanPosting = if (vocab == 0) 0.0 else stats.getLong(1).toDouble / vocab
    if (meanPosting <= meanPostingLimit) {
      val prefLen = (col("n") - expr(s"(n * $tauNum + ${tauDen - 1}) div $tauDen") + lit(1)).cast("int")
      val prefixes = base
        .select(col("id"), size(col("sh")).as("n"), explode(col("sh")).as("s"))
        .join(freq, "s")
        .groupBy("id", "n")
        .agg(sort_array(collect_list(struct(col("cnt"), col("s")))).as("ordered"))
        .select(col("id"), explode(slice(col("ordered"), lit(1), prefLen)).as("p"))
        .select(col("p.s").as("ps"), col("id"))
      (verifyJaccardCandidates(
        bucketPairs(prefixes, Seq("ps"), maxBucketSize), base, tauNum, tauDen),
        f"exact-prefix (mean posting $meanPosting%.1f <= $meanPostingLimit%.1f)")
    } else {
      val k = 64; val bands = 16
      val sigs = base.select(col("id"),
        S.minhashSignature(col("sh"), k, portable = false).as("sig"))
      val banded = sigs.select(col("id"),
        posexplode(S.minhashBands(col("sig"), k, bands)).as(Seq("band", "bhash")))
      (verifyJaccardCandidates(
        bucketPairs(banded, Seq("band", "bhash"), maxBucketSize), base, tauNum, tauDen),
        f"lsh (mean posting $meanPosting%.1f > $meanPostingLimit%.1f)")
    }
  }

  /** The [[duplicateClusters]] regime decision, exposed so the boundary is
    * spec-pinned at the DOCUMENTED threshold (≤ 2^20 directed edges with an
    * orderable id type ⇒ driver union-find; anything else ⇒ distributed
    * min-label propagation). */
  def ccDriverRegime(nDirectedEdges: Long, driverMaxEdges: Long = 1L << 20,
                     orderable: Boolean = true): Boolean =
    nDirectedEdges <= driverMaxEdges && orderable

  /** Connected components over near-dup pairs: every node gets
    * `cluster_id` = the smallest id reachable through the pair graph — the
    * full dup-cluster structure (keep-one-per-cluster, cluster-size stats,
    * audit), where [[nearDupSurvivors]] is the cheap one-pass
    * approximation.
    *
    * Iterative min-label propagation (the standard MapReduce/Pregel CC
    * shape): each round, every node takes the min of its own and its
    * neighbors' labels; converges in O(component diameter) rounds —
    * near-dup clusters are shallow (near-cliques), so a handful. Each
    * round is one join + one aggregation on the edge partitioning;
    * `localCheckpoint` truncates the growing lineage so round N's plan
    * doesn't replay rounds 1..N-1. Returns (id, cluster_id) for every id
    * appearing in `pairs`.
    *
    * Small-graph fast path: the pair graph is usually orders of magnitude
    * smaller than its corpus (it IS the duplicates), so — exactly like a
    * broadcast join for a small side — when the edge list fits comfortably
    * on the driver (`driverMaxEdges`, default 1M directed edges ≈ tens of
    * MB) the components are solved by a driver-side union-find in
    * milliseconds instead of O(diameter) distributed rounds. The bound is
    * explicit and configurable; graphs above it take the iterative path
    * unchanged. Both paths produce identical labels (spec-pinned). */
  def duplicateClusters(pairs: DataFrame, maxIters: Int = 20,
                        driverMaxEdges: Long = 1L << 20): DataFrame = {
    val spark = pairs.sparkSession
    // both edge directions from ONE evaluation of `pairs`: a union of two
    // selects is two plan branches, and each branch re-runs the (expensive,
    // usually unpersisted) pair generation — explode emits the reverse edge
    // map-side instead (measured 4.0s -> ~2.4s for q47 at sf0.1)
    val raw = pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // size the iteration shuffles to the GRAPH, not the corpus: the pair
    // graph is orders of magnitude smaller than its corpus, and a tiny
    // graph iterated at corpus partition counts spends everything on task
    // scheduling (measured 1.8s -> 1.2s at sf0.1). Sizing is done by
    // explicitly co-partitioning the iterated frames — NEVER by mutating
    // spark.sql.shuffle.partitions, which a shared session's concurrent
    // queries would inherit (VERDICT r2 #6). edges carries hash(dst) and
    // labels hash(id) at the same count (localCheckpoint preserves
    // partitioning), so each round's big join inserts no exchange.
    val nEdges = raw.count()
    val idType = pairs.schema("id_a").dataType
    val orderable = {
      import org.apache.spark.sql.types._
      idType match {
        case LongType | IntegerType | ShortType | ByteType | DoubleType |
             FloatType | StringType | DateType | TimestampType | BooleanType => true
        case _: DecimalType => true
        case _ => false // struct/array/binary ids take the distributed path
      }
    }
    if (ccDriverRegime(nEdges, driverMaxEdges, orderable)) {
      val labels = driverUnionFind(raw.collect().map(r => (r.get(0), r.get(1))))
      raw.unpersist()
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("cluster_id", idType)))
      return spark.createDataFrame(
        spark.sparkContext.parallelize(
          labels.map { case (id, root) => org.apache.spark.sql.Row(id, root) }.toSeq,
          math.max(1, math.min(8, labels.size / 50000 + 1))),
        schema)
    }
    val sessionParts = spark.sessionState.conf.numShufflePartitions
    val ccParts = math.max(1L,
      math.min(sessionParts.toLong, nEdges / 500000L + 1L)).toInt
    val edges = raw.repartition(ccParts, col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    edges.count() // materialize from raw's cache, then release raw
    raw.unpersist()
    try {
      var labels = edges.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("cluster_id"))
        .repartition(ccParts, col("id"))
        .localCheckpoint(true).transform(graft.plan.Checkpoints.track)
      // checkpoint hygiene (VERDICT r11 #1): round N's count action
      // materializes through round N−1's blocks, after which they are
      // dead — release per round; only the LAST round's checkpoint
      // (which the returned frame reads) survives, tracked for the
      // caller to release once consumed
      var prevCp = labels
      var changed = 1L
      var it = 0
      while (changed > 0 && it < maxIters) {
        val nbrMin = edges.join(labels, edges("dst") === labels("id"))
          .groupBy(edges("src").as("nid"))
          .agg(min(col("cluster_id")).as("nbr_min"))
          .repartition(ccParts, col("nid")) // graph-tiny; re-aligns with labels
        // lazy checkpoint: the convergence count below is the action that
        // materializes it, so each round is ONE job instead of two
        val next = labels.join(nbrMin, labels("id") === nbrMin("nid"), "left")
          .select(col("id"),
            least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id"))).as("cluster_id"),
            (col("nbr_min") < col("cluster_id")).as("__changed"))
          .localCheckpoint(false)
        changed = next.filter(col("__changed")).count()
        graft.plan.Checkpoints.releaseNow(prevCp)
        prevCp = next
        labels = next.drop("__changed")
        it += 1
      }
      // no silent caps: a component whose min label needs more rounds than
      // maxIters would return wrong clusters without this signal
      require(changed == 0,
        s"duplicateClusters did not converge in $maxIters iterations " +
          s"($changed labels still changing) — raise maxIters")
      graft.plan.Checkpoints.track(prevCp)
      labels
    } finally {
      edges.unpersist()
    }
  }

  /** Incremental connected-components maintenance: fold a DELTA of
    * near-dup pairs into STORED `(id, cluster_id)` labels without
    * revisiting the historical pair graph — the companion of
    * [[minhashPairsAgainstIndex]] for keeping corpus-wide cluster labels
    * current under daily ingest.
    *
    * Contraction argument: project each delta endpoint onto its stored
    * root (identity for ids the store doesn't know), drop self-loops, and
    * run CC on that contracted graph — which is DELTA-sized, not
    * corpus-sized. Because every stored root is the minimum of its old
    * members, the contracted component minimum equals the true merged
    * component minimum, so composing `new_root(old_root(id))` reproduces
    * [[duplicateClusters]] of the full pair graph EXACTLY (spec-pinned;
    * q111 hash-matches q47's full-recompute oracle).
    *
    * Scale shape: the stored label frame NEVER shuffles — the delta's
    * endpoint-id set (delta-sized) broadcasts into a left-semi that prunes
    * the labels map-side to the touched rows; those delta-sized touched
    * labels then broadcast into the endpoint projections, the CC iteration
    * touches only the contracted delta graph, and the final relabel
    * broadcasts the (contracted-graph-sized) root map onto the stored
    * frame. Nothing rescans historical pairs or text. */
  def mergeClusters(stored: DataFrame, deltaPairs: DataFrame,
                    maxIters: Int = 20,
                    driverMaxEdges: Long = 1L << 20): DataFrame = {
    val lab = stored.select(col("id"), col("cluster_id"))
    val delta = deltaPairs.select(col("id_a"), col("id_b"))
    val endpointIds = delta
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    // touched labels: ≤ 2·|delta| rows, extracted map-side from the store
    val touched = lab.join(broadcast(endpointIds), Seq("id"), "left_semi")
      .localCheckpoint(true).transform(graft.plan.Checkpoints.track)
      // three consumers (truncate the semi lineage); ESCAPING: the
      // returned relabel/new-node frames read it — tracked for release
    val contracted = delta
      .join(broadcast(touched.select(col("id").as("id_a"), col("cluster_id").as("__ra"))),
        Seq("id_a"), "left")
      .join(broadcast(touched.select(col("id").as("id_b"), col("cluster_id").as("__rb"))),
        Seq("id_b"), "left")
      .select(coalesce(col("__ra"), col("id_a")).as("id_a"),
        coalesce(col("__rb"), col("id_b")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    // rootMap nodes = stored roots touched by the delta + ids the store
    // doesn't know (new docs, or old never-clustered docs)
    val rootMap = duplicateClusters(contracted, maxIters, driverMaxEdges)
    val relabeled = lab
      .join(broadcast(rootMap.select(col("id").as("cluster_id"), col("cluster_id").as("__nr"))),
        Seq("cluster_id"), "left")
      .select(col("id"), coalesce(col("__nr"), col("cluster_id")).as("cluster_id"))
    // store-known contracted nodes are exactly the touched rows' roots (an
    // unknown id can never equal a stored root — roots ARE stored ids), so
    // the new ids fall out of a small anti-join, not one against the store
    val knownRoots = touched.select(col("cluster_id").as("id")).distinct()
    val newNodes = rootMap.join(broadcast(knownRoots), Seq("id"), "left_anti")
    relabeled.unionByName(newNodes)
  }

  /** Quality-aware retention over near-dup clusters: every document not in
    * any cluster survives; each cluster keeps exactly its best-quality
    * member (ties broken by smallest id — fully deterministic). This is the
    * retention policy real curation pipelines want where
    * [[nearDupSurvivors]]' keep-smallest-id is the cheap approximation:
    * near-dup groups usually contain one clean original and N mangled
    * copies, and quality scoring identifies the original.
    *
    * Scale shape: clusters come from [[duplicateClusters]] (graph-sized);
    * the per-cluster argmax is a ranking window over CLUSTER rows only
    * (quality desc, id asc — deterministic for any orderable id type,
    * string ids included); the non-clustered complement is a left-anti
    * join against the (small) clustered-id set. The corpus is never
    * shuffled — only joined against graph-sized frames, which AQE
    * broadcasts. */
  def bestPerCluster(df: DataFrame, idCol: String, pairs: DataFrame,
                     quality: org.apache.spark.sql.Column,
                     maxIters: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = duplicateClusters(pairs, maxIters) // (id, cluster_id)
    val scored = df.select(col(idCol).as("__did"), quality.as("__q"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("__q").desc, col("__did").asc)
    val keep = clusters.join(scored, clusters("id") === scored("__did"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("__did").as(idCol))
    df.select(col(idCol))
      .join(clusters.select(col("id").as(idCol)), Seq(idCol), "left_anti")
      .union(keep)
  }

  /** Driver-side union-find with min-id roots — the small-graph fast path
    * of [[duplicateClusters]]. Ids compare to match the distributed path's
    * `least`/`min` semantics exactly: StringType min() orders UTF8String
    * bytes (code-point order), while java.lang.String.compareTo orders
    * UTF-16 code units — these disagree on supplementary characters, so
    * strings go through UTF8String here. Everything else uses its natural
    * Comparable ordering (identical to Catalyst's for numeric/date/ts). */
  private def driverUnionFind(edges: Array[(Any, Any)]): Iterable[(Any, Any)] = {
    import org.apache.spark.unsafe.types.UTF8String
    val parent = new java.util.HashMap[Any, Any]()
    def cmp(a: Any, b: Any): Int = (a, b) match {
      case (x: String, y: String) =>
        UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
      case _ => a.asInstanceOf[Comparable[Any]].compareTo(b)
    }
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.get(c) != r) { val nxt = parent.get(c); parent.put(c, r); c = nxt }
      r
    }
    edges.foreach { case (a, b) =>
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) {
        if (cmp(ra, rb) <= 0) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val out = scala.collection.mutable.ArrayBuffer[(Any, Any)]()
    val it = parent.keySet().iterator()
    while (it.hasNext) { val k = it.next(); out += ((k, find(k))) }
    out
  }

  /** Cross-document duplicated-content fraction: split every doc into
    * non-overlapping `segLen`-token segments and report, per doc, the
    * fraction of its segments that occur anywhere else in the corpus
    * (or more than once within it). The cross-document complement of the
    * within-doc repetition filter — high values mean boilerplate shared
    * across pages, even when whole-doc dedup misses it.
    *
    * Shuffle profile: segment explode is map-side and the (id, seg) frame
    * is evaluated ONCE — the global segment count is a window over the
    * segment hash (an agg + join-back would re-run the tokenize/explode for
    * the probe side and shuffle a third time). Segments shuffle as 64-bit
    * xxhash64 keys, never as text — at 100 TB that's the difference between
    * shuffling token bytes and shuffling 8-byte keys (hash collisions
    * conflate segments at ~2^-64: noise next to the heuristic itself). */
  def dupSegmentFraction(df: DataFrame, idCol: String, textCol: String,
                         segLen: Int = 10): DataFrame = {
    val toks = T.tokens(col(textCol))
    val segs = ensureParallelism(df.filter(size(T.tokens(col(textCol))) > 0))
      .select(col(idCol).as("id"),
        explode(graft.functions.expressions.TextExpressions
          .tokenChunks(toks, segLen, segLen)).as("__seg"))
      .select(col("id"), xxhash64(col("__seg")).as("seg"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("seg")
    segs.withColumn("c", count(lit(1)).over(w))
      .groupBy("id")
      .agg((sum(when(col("c") > 1, 1).otherwise(0)).cast("double") / count(lit(1)))
        .as("dup_segment_frac"))
  }

  /** Remove globally-duplicated segments from every document (the CCNet /
    * boilerplate-strip move: navigation bars, license blocks, and templates
    * repeat VERBATIM across documents — drop every `segLen`-token segment
    * that occurs in more than `maxDupCount` places corpus-wide, keep the
    * rest of the document in order). Counterpart of [[dupSegmentFraction]],
    * which only measures.
    *
    * Output: (id, clean_text, n_kept, n_dropped) for every doc with ≥1
    * segment; `clean_text` is the kept segments rejoined with single
    * spaces (tokenization already collapses whitespace). Docs whose every
    * segment is duplicated survive with empty text — the caller decides
    * the drop policy.
    *
    * Scale shape: segments shuffle ONCE keyed by their portable md5-60
    * hash to meet the global counts (partial-aggregated, key-only), and
    * once more keyed by id for ordered reassembly — both shuffles carry
    * segment text exactly once; no window, no self-join. Portable hashing
    * makes the whole transform SQL-replayable (q87). */
  def stripDuplicatedSegments(df: DataFrame, idCol: String, textCol: String,
                              segLen: Int = 10, maxDupCount: Int = 1): DataFrame = {
    val toks = T.tokens(col(textCol))
    val segs = ensureParallelism(df.filter(size(T.tokens(col(textCol))) > 0))
      .select(col(idCol).as("id"),
        posexplode(graft.functions.expressions.TextExpressions
          .tokenChunks(toks, segLen, segLen)).as(Seq("idx", "seg")))
      .withColumn("h", graft.curate.Curate.portableHash60(col("seg")))
    val counts = segs.groupBy("h").agg(count(lit(1)).as("c"))
    segs.join(counts, Seq("h"))
      .groupBy("id")
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("c") <= maxDupCount,
            struct(col("idx"), col("seg"))))),
          s => s("seg"))).as("clean_text"),
        sum(when(col("c") <= maxDupCount, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("c") > maxDupCount, 1L).otherwise(0L)).as("n_dropped"))
  }

  /** Corpus-wide duplicated-span localization: hash the w-token window at
    * EVERY token offset (any alignment — the precision upgrade over
    * [[stripDuplicatedSegments]]'s strided segments, in the spirit of the
    * suffix-based exact-substring dedup literature), keep windows whose
    * content occurs >= 2 times anywhere in the corpus, and merge each
    * document's overlapping-or-adjacent duplicated windows into maximal
    * spans. Returns (id, span_start, span_end, n_windows) with 0-based
    * token-index bounds [span_start, span_end); windows merge into one
    * span while consecutive duplicated starts are <= windowLen apart
    * (contiguous coverage).
    *
    * Shuffle profile: ONE corpus-sized shuffle of (md5, id, pos) — window
    * bytes never shuffle, and the corpus is tokenized/hashed ONCE: the
    * duplicate count is a hash-partitioned window over that single
    * exchange, not a groupBy branch that would re-scan the corpus (the
    * per-hash groups the window buffers are duplicate sets — tiny) — then
    * one doc-keyed exchange shared by the island window and the span
    * aggregation (identical partitioning, no extra exchange; both pinned
    * in NewOpPlanSpec). Docs shorter than the window contribute
    * nothing. */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      windowLen: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wins = ensureParallelism(
        df.filter(size(T.tokens(col(textCol))) >= windowLen))
      .select(col(idCol).as("id"),
        posexplode(T.wordShingles(col(textCol), windowLen)).as(Seq("pos", "win")))
      .select(col("id"), col("pos"), md5(col("win")).as("h"))
    val byDoc = Window.partitionBy("id").orderBy("pos")
    wins
      .withColumn("__c", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("__c") >= 2)
      .select(col("id"), col("pos"))
      .withColumn("__prev", lag(col("pos"), 1).over(byDoc))
      .withColumn("__isl", sum(when(col("__prev").isNull ||
          col("pos") - col("__prev") > windowLen, 1L).otherwise(0L)).over(byDoc))
      .groupBy(col("id"), col("__isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + windowLen).as("span_end"),
        count(lit(1)).cast("int").as("n_windows"))
      .drop("__isl")
  }

  /** Dataset-level overlap: ONE merged MinHash sketch per group (source,
    * snapshot, shard — [[graft.functions.expressions.MinHashMergeAgg]]:
    * elementwise-min merge equals the signature of the union of the group's
    * shingle sets, exactly), then pairwise estimated Jaccard between
    * groups. A sketch is k longs regardless of group size, so "which of my
    * G data sources overlap?" costs one corpus pass + G²·k driver-trivial
    * comparisons — never a document comparison. */
  def datasetSketchPairs(df: DataFrame, textCol: String, groupCol: String,
                         shingleLen: Int = 3, k: Int = 64,
                         portable: Boolean = false): DataFrame = {
    val sigs = ensureParallelism(df.select(col(groupCol).as("grp"), col(textCol).as("__text")))
      .select(col("grp"), S.minhashSignature(T.wordShingles(col("__text"), shingleLen), k, portable).as("sig"))
      .groupBy("grp")
      .agg(graft.functions.expressions.MinHashMergeAgg.minhashMerge(col("sig"), k).as("sig"))
    sigs.as("a").join(sigs.as("b"), col("a.grp") < col("b.grp"))
      .select(col("a.grp").as("group_a"), col("b.grp").as("group_b"),
        S.minhashJaccard(col("a.sig"), col("b.sig")).as("est_jaccard"))
  }

  /** Incremental near-dup detection: candidate pairs between a NEW batch's
    * signatures and a stored corpus index — the daily-ingest shape. The
    * historical corpus is hashed ONCE ([[minhashSignatures]] written as a
    * table); each arriving batch is hashed and checked against the index
    * without touching corpus text again.
    *
    * Scale shape: the new batch is orders of magnitude smaller than the
    * index, so its banded signatures broadcast — the index streams through
    * a map-side hash join with NO shuffle. Returns
    * (new_id, corpus_id, est_jaccard); rows sharing an id on both sides
    * (re-ingested docs) are excluded. */
  def minhashPairsAgainstIndex(index: DataFrame, newSigs: DataFrame,
                               k: Int = 64, bands: Int = 16,
                               threshold: Double = 0.7,
                               portable: Boolean = false): DataFrame = {
    def banded(sigs: DataFrame, idName: String, sigName: String) =
      sigs.select(col("id").as(idName), col("sig").as(sigName),
        posexplode(S.minhashBands(col("sig"), k, bands, portable)).as(Seq("band", "bhash")))
    banded(index, "corpus_id", "corpus_sig")
      .join(broadcast(banded(newSigs, "new_id", "new_sig")), Seq("band", "bhash"))
      .filter(col("corpus_id") =!= col("new_id"))
      .select(col("new_id"), col("corpus_id"),
        S.minhashJaccard(col("new_sig"), col("corpus_sig")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .groupBy("new_id", "corpus_id").agg(max("est_jaccard").as("est_jaccard"))
  }

  /** An admitted batch: the surviving rows of `newDocs` and their
    * `(id, sig)` signature rows — what an ingester appends to the corpus
    * and to the signature index. */
  final case class Admitted(rows: DataFrame, sigs: DataFrame)

  /** Admission for an incremental batch: rows of `newDocs` that are
    * near-dups of the stored index OR of an earlier row in the same batch
    * are dropped; the survivors are safe to append to the corpus, and
    * their signatures to the index. Signatures are computed ONCE, into an
    * eager tracked localCheckpoint that both pair generators and the
    * returned `sigs` read; the (small) rejected-id set is a second tracked
    * checkpoint that both returned frames read. The in-batch pair
    * generator's own checkpoints are released before returning (the
    * rejected set has consumed them). Release the two that remain with
    * `Checkpoints.releaseInputs(admitted.sigs)` once both frames are
    * consumed (or `Checkpoints.release()`). */
  def admit(newDocs: DataFrame, index: DataFrame,
            idCol: String, textCol: String,
            shingleLen: Int = 3, k: Int = 64, bands: Int = 16,
            threshold: Double = 0.7,
            portable: Boolean = false): Admitted = {
    val sigs = minhashSignatures(newDocs, idCol, textCol, shingleLen, k, portable)
      .localCheckpoint(true).transform(graft.plan.Checkpoints.track)
    val vsIndex = minhashPairsAgainstIndex(index, sigs, k, bands, threshold, portable)
      .select(col("new_id").as(idCol))
    val inBatch = minhashPairsFromSignatures(sigs, k, bands, threshold, portable = portable)
      .select(col("id_b").as(idCol))
    val rejected = vsIndex.union(inBatch).distinct()
      .localCheckpoint(true).transform(graft.plan.Checkpoints.track)
    // inBatch reads only the pair generator's own checkpoints (candidate
    // pairs, pruned signatures) — never `sigs`, which the results still read
    graft.plan.Checkpoints.releaseInputs(inBatch)
    Admitted(newDocs.join(rejected, Seq(idCol), "left_anti"),
      sigs.join(rejected.select(col(idCol).as("id")), Seq("id"), "left_anti"))
  }

  /** The admitted rows of [[admit]]. */
  def admitAgainstIndex(newDocs: DataFrame, index: DataFrame,
                        idCol: String, textCol: String,
                        shingleLen: Int = 3, k: Int = 64, bands: Int = 16,
                        threshold: Double = 0.7,
                        portable: Boolean = false): DataFrame =
    admit(newDocs, index, idCol, textCol, shingleLen, k, bands, threshold, portable).rows

  /** SEMANTIC admission for an incremental vector batch — SemDeDup at the
    * ingest boundary, the embedding analog of [[admitAgainstIndex]] and
    * the online counterpart of [[semanticPrune]]: a batch vector is
    * rejected when ANY vector already in the stored IVF index scores
    * cosine ≥ `threshold` within the batch vector's `nProbes` probed
    * cells. Returns one row per non-null batch vector:
    * (idCol, cell, admitted 1|0) — `cell` is the top-1 assigned cell,
    * where an admitted vector lands on [[graft.ann.Ivf.appendToIndex]].
    *
    * Batch-INTERNAL near-dups are deliberately not considered (run
    * [[semanticPrune]] over the batch first if needed): admission is
    * defined against the stored corpus only, so each vector's decision is
    * independent of batch order/content — exactly replayable, and the
    * same docs get the same verdict regardless of micro-batch boundaries.
    * Batch ids must be disjoint from the stored index (the appendToIndex
    * precondition; a re-ingested id would reject itself on cos = 1).
    *
    * Approximate like SemDeDup itself: a near-dup hiding outside all
    * probed cells is missed — raise `nProbes` for recall. Scale shape:
    * the batch broadcasts; the stored index streams through ONE cell hash
    * join touching only probed cells; max-cos partial-aggregates
    * map-side; the stored corpus never shuffles. */
  def semanticAdmitAgainstIndex(index: DataFrame, batch: DataFrame,
                                model: graft.ann.Ivf.Model,
                                idCol: String, vecCol: String,
                                threshold: Double,
                                nProbes: Int = 4): DataFrame = {
    val b = batch.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("__bid"), col(vecCol).as("__bvec"),
        graft.ann.Ivf.nearestCells(col(vecCol), model, nProbes).as("__cells"))
    val probed = b.select(col("__bid"), col("__bvec"),
      explode(col("__cells")).as("cell"))
    val maxCos = index.join(broadcast(probed), Seq("cell"))
      .select(col("__bid"), S.cosine(col("__bvec"), col("nvec")).as("__cos"))
      .groupBy("__bid").agg(max(col("__cos")).as("__maxcos"))
    b.join(maxCos, Seq("__bid"), "left")
      .select(col("__bid").as(idCol), col("__cells")(0).as("cell"),
        when(col("__maxcos") >= threshold, lit(0)).otherwise(lit(1)).as("admitted"))
  }

  /** Benchmark decontamination report (GPT-3/PaLM style): for each corpus
    * document, the number of distinct word n-grams it shares with ANY
    * benchmark document. Documents with overlap are contamination suspects
    * and should be dropped (or audited) before training.
    *
    * Scale shape: the benchmark gram set is tiny relative to a 100 TB corpus
    * (eval suites are MBs), so it is collected into a broadcast hash join —
    * the corpus streams through map-side with NO shuffle of document bytes;
    * the only exchange is the per-doc count aggregation over matching grams
    * (a vanishingly small subset). Default n=13 is the published standard;
    * lower it for short-document corpora. */
  // docs shorter than n tokens have NO n-grams (suppress wordShingles'
  // whole-text fallback — a 2-token "shingle" is not a 13-gram match,
  // and blank docs would otherwise collide on "")
  private def strictNgrams(text: org.apache.spark.sql.Column, n: Int) =
    when(size(T.tokens(text)) >= n, array_distinct(T.wordShingles(text, n)))
      .otherwise(array().cast("array<string>"))

  def contaminationReport(corpus: DataFrame, benchmark: DataFrame,
                          idCol: String, textCol: String, n: Int = 13): DataFrame = {
    val bg = benchmark.select(explode(strictNgrams(col(textCol), n)).as("g")).distinct()
    val dg = ensureParallelism(corpus.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), explode(strictNgrams(col("__text"), n)).as("g"))
    dg.join(broadcast(bg), Seq("g"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_shared_ngrams"))
  }

  /** Per-document contamination FRACTION — the graded form of
    * [[contaminationReport]] (which only counts hits): for every corpus
    * document, the number of distinct n-grams, how many of them appear
    * in the benchmark set, and a dirty flag at the `pctNum/pctDen`
    * overlap threshold evaluated in INTEGER cross-multiplication
    * (`n_hit * pctDen >= n_grams * pctNum`) — no float ratio anywhere,
    * so thresholding is engine-exact (the GPT-3 appendix-C "dirty
    * document" metric, made hash-gateable). Documents with fewer than n
    * tokens have no n-grams and are absent, as in [[contaminationReport]].
    *
    * Scale shape: ONE pass over the corpus gram stream (the benchmark
    * set broadcasts; each doc-distinct gram is marked by a left join
    * and both counts come from the same aggregation) — the same
    * broadcast-or-bloom mechanics as [[decontaminateBloom]] apply when
    * the benchmark outgrows a broadcast. */
  def contaminationFractions(corpus: DataFrame, benchmark: DataFrame,
                             idCol: String, textCol: String, n: Int = 13,
                             pctNum: Int = 1, pctDen: Int = 5): DataFrame = {
    require(pctNum >= 0 && pctDen > 0, "threshold must be a valid fraction")
    val bg = benchmark.select(explode(strictNgrams(col(textCol), n)).as("g"))
      .distinct().withColumn("__hit", lit(1L))
    val dg = ensureParallelism(corpus.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), explode(strictNgrams(col("__text"), n)).as("g"))
    dg.join(broadcast(bg), Seq("g"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_hit"))
      .select(col("id"), col("n_grams"), col("n_hit"),
        (col("n_hit") * pctDen >= col("n_grams") * pctNum)
          .cast("int").as("dirty"))
  }

  /** Corpus rows surviving decontamination: drop any document sharing at
    * least `minOverlap` distinct n-grams with the benchmark set. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, n: Int = 13,
                    minOverlap: Int = 1): DataFrame = {
    val flagged = contaminationReport(corpus, benchmark, idCol, textCol, n)
      .filter(col("n_shared_ngrams") >= minOverlap)
      .select(col("id").as(idCol))
    corpus.join(flagged, Seq(idCol), "left_anti")
  }

  /** Bloom-prefiltered decontamination — identical output to
    * [[decontaminate]], different scan-side mechanics. The benchmark gram
    * set is aggregated into a fixed-size Bloom filter
    * ([[graft.functions.expressions.BloomFilterAgg]], bitwise-OR merge →
    * map-side partials) and collected to the driver; the corpus gram stream
    * is prefiltered by a codegen'd in-scan bit probe
    * ([[graft.functions.expressions.BloomContainsExpr]] — no join, a few
    * shifts/ands per gram) and only the survivors (true matches + the
    * filter's ~4·10⁻⁴ false positives at 16 bits/gram) reach the exact
    * verify join. Because the verify join removes every false positive, the
    * result is EXACT — the bloom only cuts the join input.
    *
    * Scale shape: at 100 TB the corpus side emits ~10¹¹ grams; probing a
    * driver-held filter inside whole-stage codegen costs 7 word-reads per
    * gram and drops ≈ all of them before any exchange or broadcast-probe.
    * The filter's size is fixed at build time (10⁸ benchmark grams ×
    * 16 bits = 200 MB) where the exact gram-string set would be several GB
    * — past comfortable broadcast. The exact verify then runs on the tiny
    * bloom-surviving subset, so it can afford a shuffle join if the gram
    * set outgrows broadcast. */
  def bloomDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String, n: Int = 13,
                         minOverlap: Int = 1, bitsPerGram: Int = 16,
                         numHashes: Int = 7): DataFrame = {
    import graft.functions.expressions.{BloomFilterOps => B, BloomKernels}
    // eager checkpoint: three consumers (count, bloom build, verify join)
    // of a by-contract-small set — materialize once, truncate lineage
    val bg = benchmark.select(explode(strictNgrams(col(textCol), n)).as("g"))
      .distinct().localCheckpoint(true).transform(graft.plan.Checkpoints.track)
    val numBits = 64L * BloomKernels.numWords(bg.count(), bitsPerGram)
    val bloomBytes = bg
      .select(B.bloomAgg(xxhash64(col("g")), numBits, numHashes).as("bf"))
      .head().getAs[Array[Byte]](0)
    val dg = ensureParallelism(corpus.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), explode(strictNgrams(col("__text"), n)).as("g"))
      .filter(B.bloomContains(xxhash64(col("g")), bloomBytes, numHashes))
    val flagged = dg.join(broadcast(bg), Seq("g"))
      .groupBy("id").agg(count(lit(1)).as("n_shared_ngrams"))
      .filter(col("n_shared_ngrams") >= minOverlap)
      .select(col("id").as(idCol))
    corpus.join(flagged, Seq(idCol), "left_anti")
  }

  /** SemDeDup-style semantic dedup: coarse-cluster the embedding space with
    * the deterministic IVF KMeans ([[graft.ann.Ivf.fit]]), assign every
    * vector to its `probes` nearest cells (multiprobe closes most
    * cell-boundary misses), verify exact cosine within each cell, and keep
    * ONE representative per connected near-dup component (the smallest id).
    * Returns the surviving rows of `df`.
    *
    * Approximate by construction — a pair split across all probed cells is
    * missed (the SemDeDup paper accepts the same trade: k-means cluster
    * then prune within cluster). Raise `probes` or lower `numCells` to
    * trade compute for recall.
    *
    * Scale shape: the fit is centroid-driver-small; assignment is one
    * linear corpus scan through a codegen'd native expression; the only
    * corpus-sized exchange is the ONE bucket shuffle on cell id (capped
    * collect — degenerate cells never materialize); pair verification
    * touches cell collisions only, and the final keep is a left-anti join
    * against the (graph-sized) dropped-id set. */
  def semanticPrune(df: DataFrame, idCol: String, vecCol: String,
                    numCells: Int = 16, probes: Int = 2,
                    threshold: Double = 0.9, iterations: Int = 2,
                    maxBucketSize: Int = 10000): DataFrame = {
    val model = graft.ann.Ivf.fit(df, idCol, vecCol, numCells, iterations)
    val assigned = ensureParallelism(df.select(col(idCol).as("id"), col(vecCol).as("vec")))
      .select(col("id"), col("vec"),
        explode(graft.ann.Ivf.nearestCells(col("vec"), model, probes)).as("cell"))
    val pairs = bucketPairs(assigned, Seq("cell"), maxBucketSize)
      .select(
        least(col("__x.id"), col("__y.id")).as("id_a"),
        greatest(col("__x.id"), col("__y.id")).as("id_b"),
        S.cosine(col("__x.vec"), col("__y.vec")).as("cos"))
      .filter(col("cos") >= threshold)
      .groupBy("id_a", "id_b").agg(max("cos").as("cos"))
    val dropped = duplicateClusters(pairs.select(col("id_a"), col("id_b")))
      .filter(col("id") =!= col("cluster_id")) // representative = min id
      .select(col("id").as(idCol))
    df.join(dropped, Seq(idCol), "left_anti")
  }

  /** Embedding cosine near-dup pairs via random-hyperplane LSH bucketing
    * (see [[graft.ann.Ann.hyperplaneSignature]]): vectors sharing a
    * signature bucket are verified with exact double-precision cosine. */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double = 0.9, planes: Int = 12,
                     dim: Int = 64, maxBucketSize: Int = 10000): DataFrame = {
    val withSig = ensureParallelism(df.select(col(idCol).as("id"), col(vecCol).as("vec")))
      .select(col("id"), col("vec"),
        graft.ann.Ann.hyperplaneSignature(col("vec"), dim, planes).as("bucket"))
    bucketPairs(withSig, Seq("bucket"), maxBucketSize)
      .select(
        least(col("__x.id"), col("__y.id")).as("id_a"),
        greatest(col("__x.id"), col("__y.id")).as("id_b"),
        S.cosine(col("__x.vec"), col("__y.vec")).as("cos"))
      .filter(col("cos") >= threshold)
      .groupBy("id_a", "id_b").agg(max("cos").as("cos"))
  }
}
