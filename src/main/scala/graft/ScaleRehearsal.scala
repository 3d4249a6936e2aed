package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** At-scale regime rehearsal (VERDICT r4 task 1): drives the big-data code
  * paths — distributed connected components above `driverMaxEdges`,
  * co-partitioned PageRank above `broadcastMaxNodes`, the
  * CollectListCappedAgg bucket-overflow drop, deep-diameter BFS, and the
  * IVF stored-index ANN path — on synthetic data LARGE ENOUGH to select
  * those regimes naturally (no threshold overrides), with exact
  * self-checks computed from the construction.
  *
  * Everything is seeded arithmetic over `spark.range` ids (deterministic
  * across runs and partitionings, no RNG, nothing written to disk).
  * Prints one line per scenario:
  *   [rehearsal] <name> regime=<…> wall=<sec> check=OK <details>
  * and exits non-zero if any check fails. Measured results live in
  * PERF.md §at-scale-regime-rehearsal.
  *
  * Run: SPARK_DRIVER_MEM=32g sbt "runMain graft.ScaleRehearsal"
  * (optionally a comma-separated scenario filter as arg 1:
  * cc,pagerank,capped,bfs,topk,budget,stream,fuzzy,jaccard,bm25,bm25inc,bm25del,pipeline,qualityfilter,bpe,bpeseg,dsir,phrase,merge,ivf,ivfappend,ivfdel,semadmit,rollup,sumretract,mixedfold,design,eageragg,packseq,anomaly,mmr,resample,cdc,bloomjoin,hierarchy,triangles,skewaqe,prune,poolvacuum)
  */
object ScaleRehearsal {

  private var failures = 0
  private var session: SparkSession = _

  private def scenario(name: String, regime: String, details: => (Boolean, String)): Unit = {
    val t0 = System.nanoTime()
    // full isolation, Bench-style: a scenario that throws still records a
    // FAIL line and lets the remaining scenarios report their health
    val (ok, info) =
      try details
      catch { case e: Throwable => (false, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val wall = (System.nanoTime() - t0) / 1e9
    if (!ok) failures += 1
    println(f"[rehearsal] $name%-22s regime=$regime wall=$wall%.1fs " +
      s"check=${if (ok) "OK" else "FAIL"} $info")
    // isolate scenarios the way Bench isolates queries: without this, a
    // 50M-row scenario's broadcast/shuffle debris inflates the NEXT
    // scenario's wall (measured: ivf 32 s alone vs 122 s run last)
    session.catalog.clearCache()
    System.gc()
  }

  /** `details` with its BM25 serve regimes checked: no driver-local
    * serve and exactly `distributed` distributed ones — these scenarios
    * measure the distributed plan, whatever the local regime's cap. */
  private def servedDistributed(distributed: Long)(
      details: => (Boolean, String)): (Boolean, String) = {
    val c0 = graft.curate.Bm25.serveCounters
    val (ok, info) = details
    val c1 = graft.curate.Bm25.serveCounters
    val (l, d) = (c1.localServes - c0.localServes,
      c1.distributedServes - c0.distributedServes)
    (ok && l == 0 && d == distributed,
      s"$info bm25_serves local=$l distributed=$d (expect 0/$distributed)")
  }

  /** 420 clusters × 52 near-identical docs (+30k unique): the LSH pair
    * graph alone exceeds 2^20 directed edges, so duplicateClusters takes
    * the distributed min-label path with NO threshold override. */
  private def dupCorpus(spark: SparkSession): DataFrame = {
    val dups = spark.range(0, 420L * 52)
      .select(col("id").as("doc_id"),
        concat(
          concat_ws(" ", transform(sequence(lit(0), lit(39)),
            t => concat(lit("w"), floor(col("id") / 52).cast("long") * 40 + t))),
          lit(" v"), col("id")).as("text"))
    val uniques = spark.range(1000000, 1030000)
      .select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(39)),
          t => concat(lit("u"), col("id") * 40 + t))).as("text"))
    dups.unionByName(uniques)
  }

  def main(args: Array[String]): Unit = {
    val only = args.headOption.map(_.split(",").map(_.trim).toSet)
    def enabled(s: String) = only.forall(_.contains(s))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    session = spark
    import graft.dedup.Dedup
    import graft.graph.Graph

    if (enabled("cc")) scenario("lsh-distributed-cc",
        "distributed min-label (edges > 2^20)", {
      val pairs = Dedup.minhashPairs(dupCorpus(spark), "doc_id", "text", threshold = 0.5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nPairs = pairs.count()
      val expectedPairs = 420L * (52 * 51 / 2) // complete graph per cluster
      val distributedNaturally = !Dedup.ccDriverRegime(nPairs * 2)
      val labels = Dedup.duplicateClusters(pairs.select(col("id_a"), col("id_b")))
      val summary = labels.groupBy("cluster_id")
        .agg(count(lit(1)).as("n"), min("id").as("min_id"))
      val nClusters = summary.count()
      val wellFormed = summary
        .filter(col("n") =!= 52 || col("min_id") =!= col("cluster_id")).count()
      pairs.unpersist()
      (nPairs == expectedPairs && distributedNaturally && nClusters == 420 && wellFormed == 0,
        s"pairs=$nPairs (expected $expectedPairs, directed=${nPairs * 2} > ${1L << 20}) " +
          s"clusters=$nClusters/420 malformed=$wellFormed")
    })

    if (enabled("pagerank")) scenario("pagerank-copartitioned",
        "co-partitioned (nodes > 4*2^20)", {
      val n = 5000000L
      val edges = spark.range(0, n).select(
          explode(array(
            struct(col("id").as("src"), ((col("id") * 31 + 7) % n).as("dst")),
            struct(col("id").as("src"), ((col("id") * 17 + 3) % n).as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val coPartitioned = !Graph.pageRankBroadcastRegime(n)
      val ranks = Graph.pageRank(edges, "src", "dst", iterations = 3)
      val agg = ranks.agg(count(lit(1)).as("n"), sum("pr").as("s")).collect()(0)
      val (nNodes, prSum) = (agg.getLong(0), agg.getDouble(1))
      // every node has out-edges (no dangling mass): sum(pr) stays n exactly
      // in exact arithmetic; allow FP accumulation slack
      (coPartitioned && nNodes == n && math.abs(prSum - n) / n < 1e-6,
        f"nodes=$nNodes sum(pr)=$prSum%.1f (expect $n)")
    })

    if (enabled("capped")) scenario("capped-bucket-overflow",
        "bucket > maxBucketSize dropped", {
      // 11k IDENTICAL docs: every LSH band bucket for that text holds 11k
      // members > the 10k cap, so CollectListCappedAgg yields NULL and the
      // bucket drops — 60.5M intra-bucket pairs are never generated. (Exact
      // dedup is the right tool for identical docs, and stays exact.)
      val mega = spark.range(0, 11000)
        .select(col("id").as("doc_id"),
          concat_ws(" ", transform(sequence(lit(0), lit(39)),
            t => concat(lit("m"), t))).as("text"))
      val filler = spark.range(2000000, 2005000)
        .select(col("id").as("doc_id"),
          concat_ws(" ", transform(sequence(lit(0), lit(39)),
            t => concat(lit("f"), col("id") * 40 + t))).as("text"))
      val corpus = mega.unionByName(filler)
      val nPairs = Dedup.minhashPairs(corpus, "doc_id", "text", threshold = 0.5).count()
      val exactGroups = Dedup.exact(corpus, "doc_id", "text")
        .filter(col("dup_count") === 11000).count()
      (nPairs == 0 && exactGroups == 1,
        s"lsh_pairs=$nPairs (cap dropped 60.5M candidate pairs) exact_dedup_sees_group=$exactGroups")
    })

    if (enabled("bfs")) scenario("bfs-deep-diameter",
        "frontier expansion, 30 hops", {
      val n = 2000000L
      val chain = spark.range(0, n - 1)
        .select(col("id").as("src"), (col("id") + 1).as("dst"))
      val express = spark.range(0, (n - 1000) / 1000 + 1)
        .select((col("id") * 1000).as("src"), (col("id") * 1000 + 1000).as("dst"))
      val edges = chain.unionByName(express)
      val seeds = spark.range(0, 1).select(col("id"))
      val dist = Graph.shortestPaths(edges, "src", "dst", seeds, "id",
        maxHops = 30, assumeDistinct = true)
      val agg = dist.agg(count(lit(1)).as("n"), max("dist").as("m")).collect()(0)
      // reachable within 30 hops: {a*1000+b : a+b <= 30} -> sum_{a=0}^{30}(31-a)
      val expected = (1 to 31).sum
      (agg.getLong(0) == expected && agg.getInt(1) == 30,
        s"reached=${agg.getLong(0)} (expect $expected) maxDist=${agg.getInt(1)}")
    })

    if (enabled("topk")) scenario("topk-heap-50m",
        "heap plan node ≡ window exec at 50M rows", {
      // the custom TopKPerGroup exec against the window formulation it
      // rewrites, on data big enough that a heap bug (spill, partial/final
      // merge, rank ties) would actually trigger: 50M rows, 1000 groups,
      // deterministic arithmetic values with duplicate keys
      import org.apache.spark.sql.expressions.Window
      val rows = spark.range(0, 50000000L).select(
        (col("id") % 1000).as("g"),
        ((col("id") * 2654435761L) % 1000003L).as("v"),
        col("id"))
      val heap = graft.plan.TopKPerGroup(rows,
        Seq(col("g")), Seq(col("v").desc, col("id").asc), k = 10, rankName = "rk")
      val w = Window.partitionBy("g").orderBy(col("v").desc, col("id").asc)
      val win = rows.withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
      def digest(df: org.apache.spark.sql.DataFrame) = df
        .agg(count(lit(1)).as("n"),
          // decimal sum: ANSI mode throws on LongType sum overflow
          sum(xxhash64(col("g"), col("v"), col("id"), col("rk")).cast("decimal(38,0)")).as("h"))
        .collect()(0)
      val (dh, dw) = (digest(heap), digest(win))
      (dh.getLong(0) == 10000L && dh == dw,
        s"heap_rows=${dh.getLong(0)} window_rows=${dw.getLong(0)} digests_equal=${dh == dw}")
    })

    if (enabled("budget")) scenario("token-budget-50m",
        "bucketed prefix-sum, tail buckets pruned", {
      // the q86 scale story at 50M rows: the global-budget cut must come
      // out exact with only per-bucket windows. Two self-checks from the
      // construction: unit weights make cum_weight = global rank, so the
      // kept count IS the budget; mixed weights must fill the budget to
      // within one row's weight (maximality) and never exceed it
      import graft.curate.Curate
      val n = 50000000L
      val unit = spark.range(0, n).select(col("id"), lit(1L).as("w"))
      val budget = 12345678L
      val kept = Curate.tokenBudget(unit, "id", "w", budget)
      val cnt = kept.count()
      val mixed = spark.range(0, n).select(col("id"), ((col("id") % 7) + 1).as("w"))
      val mixedBudget = 100000000L // ~half the corpus's 4n total
      val m = Curate.tokenBudget(mixed, "id", "w", mixedBudget)
        .agg(max("cum_weight").as("mx"), count(lit(1)).as("n")).collect()(0)
      val (mx, mn) = (m.getLong(0), m.getLong(1))
      (cnt == budget && mx <= mixedBudget && mx > mixedBudget - 7,
        s"unit_kept=$cnt (expect $budget) mixed_max_cum=$mx of $mixedBudget mixed_rows=$mn")
    })

    if (enabled("stream")) scenario("streaming-state-200k",
        "mapGroupsWithState, 200k keys x 3 batches", {
      // stateful streaming at a state size the specs never reach: 200k
      // distinct users, 3 micro-batches (maxFilesPerTrigger=1), state
      // must survive batches for every key — final count per user is
      // exactly 9 (3 events per user per batch file)
      val dir = java.nio.file.Files.createTempDirectory("rehearsal_stream").toString
      try {
      (0 until 3).foreach { b =>
        spark.range(0, 600000L).select((col("id") % 200000).as("user"))
          .coalesce(1).write.parquet(s"$dir/b$b")
        val f = new java.io.File(s"$dir/b$b").listFiles()
          .filter(_.getName.endsWith(".parquet"))(0)
        java.nio.file.Files.move(f.toPath, java.nio.file.Paths.get(s"$dir/batch$b.parquet"))
      }
      (0 until 3).foreach(b => org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(s"$dir/b$b")))
      val schema = graft.sources.Pq.read(spark, s"$dir/batch0.parquet").schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
      val q = graft.streaming.Sessionize.streamingCounts(stream, "user")
        .writeStream.format("memory").queryName("rehearsal_counts")
        .outputMode("update").start()
      try q.processAllAvailable() finally q.stop()
      val fin = spark.table("rehearsal_counts")
        .groupBy("user_id").agg(max("n").as("n"), count(lit(1)).as("updates"))
      val agg = fin.agg(count(lit(1)).as("users"),
        min("n").as("mn"), max("n").as("mx"), min("updates").as("mu")).collect()(0)
      (agg.getLong(0) == 200000L && agg.getLong(1) == 9L && agg.getLong(2) == 9L
        && agg.getLong(3) == 3L,
        s"users=${agg.getLong(0)} final_count=[${agg.getLong(1)},${agg.getLong(2)}] " +
          s"updates_per_user>=${agg.getLong(3)}")
      } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    })

    if (enabled("fuzzy")) scenario("fuzzy-join-200k",
        "prefix-filtered edit-distance join", {
      // 200k distinct 12-17-char hash-letter strings + one planted
      // single-substitution typo per 100th base. Random 12+-char strings
      // over 26 letters are never within 1 edit of each other, so the
      // exact result set IS the planted set — found pairs must equal it
      // (losslessness at a vocabulary 3000x the battery's, q=3 grams).
      // chars via xxhash64(id, j): a formula linear in j makes every
      // same-length string a rotation of one progression and the whole
      // vocabulary collapses to ~26 values per length class
      val base = spark.range(0, 200000).select(col("id"),
        concat_ws("", transform(sequence(lit(0), lit(11) + col("id") % 6),
          j => chr(lit(97) + pmod(xxhash64(col("id"), j), lit(26))))
        ).as("val"))
      val typos = base.filter(col("id") % 100 === 0)
        .select(col("id"),
          concat(
            expr("substring(val, 1, cast(id/100 % 12 as int))"),
            chr(lit(97) + (ascii(expr("substring(val, cast(id/100 % 12 as int)+1, 1)")) - 96) % 26),
            expr("substring(val, cast(id/100 % 12 as int)+2)")).as("val"))
      val planted = typos.count()
      val pairs = graft.operators.Fuzzy.editDistancePairs(
        base.select("val").unionByName(typos.select("val")), "val",
        maxDist = 1, q = 3)
      val agg = pairs.agg(count(lit(1)).as("n"), max("dist").as("m")).collect()(0)
      (agg.getLong(0) == planted && agg.getInt(1) == 1,
        s"pairs=${agg.getLong(0)} planted=$planted maxDist=${agg.getInt(1)}")
    })

    if (enabled("jaccard")) scenario("exact-jaccard-200k",
        "lossless prefix-filtered set-similarity join", {
      // 200k docs x 40 globally-unique tokens (token = doc*40+slot), plus
      // one planted near-dup per 100th doc: the copy replaces token 21,
      // which perturbs exactly the 3 shingles covering it, so every
      // planted pair has n_common = 35, n_union = 41 (J = 35/41 ~ 0.854)
      // BY CONSTRUCTION and every unplanted pair shares zero shingles.
      // At tau = 4/5 the expected result set is therefore exactly the
      // planted pairs with exactly those integer stats — recall 1.0 is
      // checked against arithmetic, not another run. Prefix volume at
      // tau=0.8 is 8 of 38 shingles per doc (~1.7M bucket rows over 7.7M
      // corpus shingles); every bucket has <= 2 members by uniqueness.
      val base = spark.range(0, 200000).select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(39)),
          j => concat(lit("t"), col("id") * 40 + j))).as("text"))
      val copies = base.filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat_ws(" ", transform(split(col("text"), " "),
            (tok, j) => when(j === 20, concat(lit("x"), col("doc_id")))
              .otherwise(tok))).as("text"))
      val planted = copies.count()
      val pairs = graft.dedup.Dedup.exactJaccardPairs(
        base.unionByName(copies), "doc_id", "text",
        shingleLen = 3, tauNum = 4, tauDen = 5)
      val agg = pairs.agg(count(lit(1)).as("n"),
        min("n_common").as("cmin"), max("n_common").as("cmax"),
        min("n_union").as("umin"), max("n_union").as("umax")).collect()(0)
      (agg.getLong(0) == planted &&
        agg.getInt(1) == 35 && agg.getInt(2) == 35 &&
        agg.getInt(3) == 41 && agg.getInt(4) == 41,
        s"pairs=${agg.getLong(0)} planted=$planted (expect all pairs " +
          s"n_common=35 n_union=41; got [${agg.getInt(1)},${agg.getInt(2)}] / " +
          s"[${agg.getInt(3)},${agg.getInt(4)}])")
    })

    if (enabled("bm25")) scenario("bm25-1m-docs",
        "inverted index + broadcast queries", servedDistributed(0) {
      // 1M docs × 20 globally-UNIQUE words (word = doc*20+slot), so every
      // term has df=1 and each query's ONLY candidate is its source doc —
      // the expected result set is provable, not probabilistic: 100
      // queries, each top-1 = its own source at rank 1.
      val docs = spark.range(0, 1000000).select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(19)),
          j => concat(lit("w"), col("id") * 20 + j))).as("text"))
      val queries = docs.filter(col("doc_id") % 10000 === 0)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", transform(sequence(lit(0), lit(4)),
            j => concat(lit("w"), col("qid") * 20 + j))).as("qtext"))
      val topk = graft.curate.Bm25.topK(docs, "doc_id", "text",
        queries, "qid", "qtext", k = 3)
      val agg = topk.agg(count(lit(1)).as("rows"),
        sum(when(col("rank") === 1 && col("qid") === col("doc_id"), 1L)
          .otherwise(0L)).as("self_top1")).collect()(0)
      (agg.getLong(0) == 100 && agg.getLong(1) == 100,
        s"rows=${agg.getLong(0)} (expect 100: one candidate per query) " +
          s"self_top1=${agg.getLong(1)}/100")
    })

    if (enabled("bm25inc")) scenario("bm25-inc-append",
        "stored-index append is batch-sized, not corpus-sized", servedDistributed(1) {
      // 1M-doc base (the bm25-1m construction: globally-unique words, so
      // every expected hit is provable) + a 10k-doc APPEND batch with a
      // disjoint word space. The scale contract is self-checking: the
      // append touches only batch postings + the vocab-sized df table, so
      // its wall must sit far below the base build's. Serving after the
      // append must resolve base AND appended queries self-top1 with
      // exactly-merged stats.
      def mkDocs(lo: Long, hi: Long) = spark.range(lo, hi)
        .select(col("id").as("doc_id"),
          concat_ws(" ", transform(sequence(lit(0), lit(19)),
            j => concat(lit("w"), col("id") * 20 + j))).as("text"))
      val tmp = java.nio.file.Files.createTempDirectory("rehearse_bm25inc").toString
      try {
        val B = graft.curate.Bm25
        val t0 = System.nanoTime()
        B.buildAndSaveIncIndex(spark, mkDocs(0, 1000000), "doc_id", "text", tmp)
        val buildWall = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        B.appendIncIndex(spark, tmp, mkDocs(2000000, 2010000), "doc_id", "text")
        val appendWall = (System.nanoTime() - t1) / 1e9
        val idx = B.loadIncIndex(spark, tmp)
        val queries = mkDocs(0, 1000000).filter(col("doc_id") % 20000 === 0)
          .unionByName(mkDocs(2000000, 2010000).filter(col("doc_id") % 200 === 0))
          .select(col("doc_id").as("qid"),
            concat_ws(" ", transform(sequence(lit(0), lit(4)),
              j => concat(lit("w"), col("qid") * 20 + j))).as("qtext"))
        val topk = B.topKAgainstIncIndex(idx, queries, "qid", "qtext", k = 3)
        val agg = topk.agg(count(lit(1)).as("rows"),
          sum(when(col("rank") === 1 && col("qid") === col("doc_id"), 1L)
            .otherwise(0L)).as("self_top1")).collect()(0)
        (agg.getLong(0) == 100 && agg.getLong(1) == 100 &&
          idx.nDocs == 1010000.0 && idx.totalDl == 20.0 * 1010000 &&
          appendWall < buildWall,
          f"rows=${agg.getLong(0)} self_top1=${agg.getLong(1)}/100 " +
            f"nDocs=${idx.nDocs}%.0f build=$buildWall%.1fs append=$appendWall%.1fs")
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    })

    if (enabled("bm25del")) scenario("bm25-inc-delete",
        "tombstone delete is ids-sized; serving rebuild-equal on the reduced corpus",
        servedDistributed(2) {
      // the bm25-inc construction (1M docs, globally-unique words) with a
      // 10k-doc takedown (doc_id % 100 = 7). Self-checking: live queries
      // (% 20000 = 0, never ≡ 7 mod 100) must stay self-top1; queries
      // excerpted from DELETED docs (% 20000 = 7, always ≡ 7 mod 100) must
      // return ZERO rows (their unique terms leave the df table when their
      // only doc dies). The scale contract: the delete touches one
      // postings scan + the vocab-sized df table — never a rewrite — so
      // its wall sits below the build's; compaction (the one deliberate
      // rewrite) must not change serving.
      def mkDocs(lo: Long, hi: Long) = spark.range(lo, hi)
        .select(col("id").as("doc_id"),
          concat_ws(" ", transform(sequence(lit(0), lit(19)),
            j => concat(lit("w"), col("id") * 20 + j))).as("text"))
      val tmp = java.nio.file.Files.createTempDirectory("rehearse_bm25del").toString
      try {
        val B = graft.curate.Bm25
        val t0 = System.nanoTime()
        B.buildAndSaveIncIndex(spark, mkDocs(0, 1000000), "doc_id", "text", tmp)
        val buildWall = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        B.deleteFromIncIndex(spark, tmp,
          spark.range(0, 1000000).filter(col("id") % 100 === 7)
            .select(col("id").as("doc_id")), "doc_id")
        val delWall = (System.nanoTime() - t1) / 1e9
        val idx = B.loadIncIndex(spark, tmp)
        val queries = mkDocs(0, 1000000)
          .filter(col("doc_id") % 20000 === 0 || col("doc_id") % 20000 === 7)
          .select(col("doc_id").as("qid"),
            concat_ws(" ", transform(sequence(lit(0), lit(4)),
              j => concat(lit("w"), col("qid") * 20 + j))).as("qtext"))
        def check(i: B.IncIndex) = {
          val agg = B.topKAgainstIncIndex(i, queries, "qid", "qtext", k = 3)
            .agg(count(lit(1)).as("rows"),
              sum(when(col("rank") === 1 && col("qid") === col("doc_id"), 1L)
                .otherwise(0L)).as("self_top1"),
              sum(when(col("qid") % 100 === 7, 1L).otherwise(0L)).as("dead"))
            .collect()(0)
          (agg.getLong(0), agg.getLong(1), agg.getLong(2))
        }
        val (rows, self1, dead) = check(idx)
        val t2 = System.nanoTime()
        B.compactIncIndex(spark, tmp)
        val compactWall = (System.nanoTime() - t2) / 1e9
        val after = B.loadIncIndex(spark, tmp)
        val (rows2, self12, dead2) = check(after)
        ((rows, self1, dead) == ((50L, 50L, 0L)) &&
          (rows2, self12, dead2) == ((50L, 50L, 0L)) &&
          idx.nDocs == 990000.0 && idx.totalDl == 20.0 * 990000 &&
          after.tombstones.isEmpty && delWall < buildWall,
          f"rows=$rows self_top1=$self1/50 deleted_hits=$dead " +
            f"nDocs=${idx.nDocs}%.0f build=$buildWall%.1fs delete=$delWall%.1fs " +
            f"compact=$compactWall%.1fs")
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    })

    if (enabled("pipeline")) scenario("pipeline-kill-restart",
        "ledger-committed pipeline: kill mid-append, restart skips, repairs, serves rebuild-equal",
        servedDistributed(1) {
      // The q182 choreography at 1M docs (the bm25-1m provable
      // construction): ingest → base build (2/3 slice) → append (1/3
      // slice), with the append KILLED in appendIncIndex's documented
      // crash window (delta postings committed, dfs/stats stale). The
      // restart must SKIP the committed stages (no second 1M-doc build —
      // the walls prove it), route repairIncIndex off the orphaned intent
      // marker, no-op the already-committed append through the
      // guard-then-act probe, and serve EXACTLY rebuild-equal: 100/100
      // self-top1 with bit-exact nDocs/totalDl.
      def mkDocs(lo: Long, hi: Long) = spark.range(lo, hi)
        .select(col("id").as("doc_id"),
          concat_ws(" ", transform(sequence(lit(0), lit(19)),
            j => concat(lit("w"), col("id") * 20 + j))).as("text"))
      val tmp = java.nio.file.Files.createTempDirectory("rehearse_pipe").toString
      try {
        val B = graft.curate.Bm25
        val P = graft.orchestrate.Pipeline
        var killed = false
        def stages = Seq(
          P.RecoverableStage("ingest")({ () =>
            mkDocs(0, 1000000).write.mode("overwrite").parquet(s"$tmp/docs")
          })(),
          P.RecoverableStage("build")({ () =>
            B.buildAndSaveIncIndex(spark,
              graft.sources.Pq.read(spark, s"$tmp/docs").filter(col("doc_id") % 3 =!= 0),
              "doc_id", "text", s"$tmp/index")
          })(),
          P.RecoverableStage("append")({ () =>
            val batch = graft.sources.Pq.read(spark, s"$tmp/docs")
              .filter(col("doc_id") % 3 === 0)
            val present = graft.sources.Pq.read(spark, s"$tmp/index/postings")
              .join(broadcast(batch.select("doc_id")), Seq("doc_id"), "left_semi")
              .limit(1).count() > 0
            if (!present) {
              if (!killed) {
                killed = true
                B.tfRows(B.tokenized(batch, "doc_id", "text"))
                  .write.mode("append").parquet(s"$tmp/index/postings")
                throw new RuntimeException("simulated kill mid-append")
              }
              B.appendIncIndex(spark, s"$tmp/index", batch, "doc_id", "text")
            }
          })(() => B.repairIncIndex(spark, s"$tmp/index")))
        val t0 = System.nanoTime()
        val run1 = P.runRestartable(spark, s"$tmp/ledger", stages)
        val wall1 = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val run2 = P.runRestartable(spark, s"$tmp/ledger", stages)
        val restartWall = (System.nanoTime() - t1) / 1e9
        val idx = B.loadIncIndex(spark, s"$tmp/index")
        val queries = mkDocs(0, 1000000).filter(col("doc_id") % 10000 === 0)
          .select(col("doc_id").as("qid"),
            concat_ws(" ", transform(sequence(lit(0), lit(4)),
              j => concat(lit("w"), col("qid") * 20 + j))).as("qtext"))
        val agg = B.topKAgainstIncIndex(idx, queries, "qid", "qtext", k = 3)
          .agg(count(lit(1)).as("rows"),
            sum(when(col("rank") === 1 && col("qid") === col("doc_id"), 1L)
              .otherwise(0L)).as("self_top1")).collect()(0)
        val shape1 = run1.map(_.getClass.getSimpleName) ==
          Seq("Succeeded", "Succeeded", "Failed")
        val shape2 = run2.map(_.getClass.getSimpleName) ==
          Seq("Skipped", "Skipped", "Succeeded")
        // the no-second-build guarantee is STRUCTURAL (shape2's
        // Skipped,Skipped); the wall claim is tolerant because a fully
        // page-cached run1 (in-battery) compresses the 1M-doc
        // ingest+build below the restart's real repair aggregation over
        // the 20M-row postings — 12.1 s vs 24.9 s measured, while cold
        // run1 reads 83 s vs 28.8 s (r12 session 4 adjudication)
        (shape1 && shape2 && agg.getLong(0) == 100 && agg.getLong(1) == 100 &&
          idx.nDocs == 1000000.0 && idx.totalDl == 20.0 * 1000000 &&
          restartWall < wall1 * 3,
          f"run1=${run1.map(_.getClass.getSimpleName).mkString(",")} " +
            f"run2=${run2.map(_.getClass.getSimpleName).mkString(",")} " +
            f"rows=${agg.getLong(0)} self_top1=${agg.getLong(1)}/100 " +
            f"nDocs=${idx.nDocs}%.0f first=$wall1%.1fs restart=$restartWall%.1fs")
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    })

    if (enabled("qualityfilter")) scenario("quality-filter-2m",
        "batch-GD training is two aggregation passes per epoch; weights stay driver-sized", {
      // 2M docs over a tiny vocabulary with a linear count-space teacher
      // (y = 1 iff 2*cnt_a > 3*cnt_b) — the learner's logistic optimum
      // reads 96.7% of the teacher on this pattern (prototyped; the 3/91
      // residual patterns sit where the class-imbalanced logistic
      // boundary departs from the teacher's), so >= 0.95 is the honest
      // bar. The scale contract under test: per epoch, exactly two
      // corpus aggregations + a (buckets+1)-row collect/broadcast —
      // nothing corpus-sized ever reaches the driver.
      val docs = spark.range(0, 2000000).select(col("id").as("doc_id"),
        concat_ws(" ",
          flatten(array(
            array_repeat(lit("aa"), (col("id") % 13).cast("int")),
            array_repeat(lit("bb"), (col("id") % 7).cast("int")),
            array_repeat(lit("cc"), lit(3))))).as("text"))
      val labels = spark.range(0, 2000000).select(col("id").as("doc_id"),
        (lit(2) * (col("id") % 13) > lit(3) * (col("id") % 7))
          .cast("int").as("y"))
      val Qf = graft.curate.QualityFilter
      val ft = Qf.hashedFeatures(docs, "doc_id", "text", 64, 2L)
      val t0 = System.nanoTime()
      val w = Qf.trainLogistic(spark, ft, labels, 64, epochs = 8, lrScale = 1L)
      val trainWall = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val agg = Qf.score(ft, w).join(labels, Seq("doc_id"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("keep") === col("y"), 1L).otherwise(0L)).as("ok"))
        .collect()(0)
      val scoreWall = (System.nanoTime() - t1) / 1e9
      val acc = agg.getLong(1).toDouble / agg.getLong(0)
      (agg.getLong(0) == 2000000L && acc >= 0.95,
        f"docs=${agg.getLong(0)} acc=$acc%.4f " +
          f"train(8ep)=$trainWall%.1fs score=$scoreWall%.1fs")
    })

    if (enabled("ivfappend")) scenario("ivf-inc-append",
        "stored-index append is batch-sized; PSI drift alarm on shifted batches", {
      // 500k-vector stored index (the ivf-stored-index construction) + a
      // 10k-vector append assigned against the RELOADED frozen model —
      // batch-sized, so its wall must sit far below the base
      // assign-and-write. Drift discipline: a same-distribution batch
      // stays under the 0.25 re-fit alarm; a collapsed batch (every
      // vector near one point, landing in one cell) must trip it.
      import graft.ann.Ivf
      val dim = 64
      def mkVecs(lo: Long, hi: Long) = spark.range(lo, hi)
        .select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(dim - 1)),
            c => ((col("id") * 1315423911L + c * 2654435761L) % 997).cast("double") / 997.0)
            .as("embedding"))
      val tmp = java.nio.file.Files.createTempDirectory("rehearse_ivfapp").toString
      try {
        val base = mkVecs(0, 500000)
        val model = Ivf.fit(base, "vec_id", "embedding", numCells = 707, iterations = 2)
        Ivf.save(model, spark, s"$tmp/model")
        val t0 = System.nanoTime()
        Ivf.assign(base, "embedding", model)
          .select(col("vec_id").as("nid"), col("embedding").as("nvec"), col("cell"))
          .write.mode("overwrite").parquet(s"$tmp/index")
        val assignWall = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        Ivf.appendToIndex(spark, s"$tmp/index", s"$tmp/model",
          mkVecs(500000, 510000), "vec_id", "embedding")
        val appendWall = (System.nanoTime() - t1) / 1e9
        val index = graft.sources.Pq.read(spark, s"$tmp/index")
        val nIndexed = index.count()
        val topkRows = Ivf.topKAgainstIndex(index,
          mkVecs(500000, 510000).filter(col("vec_id") % 1000 === 0),
          Ivf.load(spark, s"$tmp/model"), "vec_id", "embedding",
          k = 10, nProbes = 3).count()
        val sameDrift = Ivf.assignmentDrift(index,
          Ivf.assign(mkVecs(510000, 520000), "embedding", model))
        val collapsed = spark.range(0, 10000).select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(dim - 1)),
            c => lit(0.9) + (col("id") % 7).cast("double") / 10000.0).as("embedding"))
        val shiftDrift = Ivf.assignmentDrift(index,
          Ivf.assign(collapsed, "embedding", model))
        (nIndexed == 510000 && topkRows == 10L * 10 &&
          appendWall < assignWall && sameDrift < 0.25 && shiftDrift > 0.25,
          f"indexed=$nIndexed topk_rows=$topkRows assign=$assignWall%.1fs " +
            f"append=$appendWall%.1fs psi_same=$sameDrift%.3f psi_shift=$shiftDrift%.2f")
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    })

    if (enabled("ivfdel")) scenario("ivf-inc-delete",
        "tombstone delete is id-sized; serving hides deleted vectors; compact invisible", {
      // 510k-vector stored index; 10k vectors tombstoned. The delete
      // writes ONLY the id frame (no postings/stats analog to maintain —
      // cosine is per-pair), so its wall must sit far below the base
      // assign-and-write; serving anti-joins on the candidate frame.
      import graft.ann.Ivf
      val dim = 64
      def mkVecs(lo: Long, hi: Long) = spark.range(lo, hi)
        .select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(dim - 1)),
            c => pmod(xxhash64(col("id"), c), lit(997)).cast("double") / 997.0)
            .as("embedding"))
      val tmp = java.nio.file.Files.createTempDirectory("rehearse_ivfdel").toString
      try {
        val base = mkVecs(0, 510000)
        val model = Ivf.fit(base, "vec_id", "embedding", numCells = 707, iterations = 2)
        Ivf.save(model, spark, s"$tmp/model")
        val t0 = System.nanoTime()
        Ivf.assign(base, "embedding", model)
          .select(col("vec_id").as("nid"), col("embedding").as("nvec"), col("cell"))
          .write.mode("overwrite").parquet(s"$tmp/index")
        val buildWall = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        Ivf.deleteFromIndex(spark, s"$tmp/index",
          spark.range(0, 510000).filter(col("id") % 51 === 0)
            .select(col("id").as("vec_id")), "vec_id")
        val deleteWall = (System.nanoTime() - t1) / 1e9
        val queries = mkVecs(0, 510000).filter(col("vec_id") % 4999 === 1)
        def serve(ts: Option[org.apache.spark.sql.DataFrame]) =
          Ivf.topKAgainstIndex(graft.sources.Pq.read(spark, s"$tmp/index"), queries,
              Ivf.load(spark, s"$tmp/model"), "vec_id", "embedding",
              k = 10, nProbes = 3, tombstones = ts)
            .select("qid", "nid", "rank")
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
        val tombstoned = serve(Ivf.tombstonesOf(spark, s"$tmp/index"))
        val unfiltered = serve(None)
        val deadServed = tombstoned.count(_._2 % 51 == 0)
        val deadVisible = unfiltered.count(_._2 % 51 == 0)
        val t2 = System.nanoTime()
        Ivf.compactIndex(spark, s"$tmp/index")
        val compactWall = (System.nanoTime() - t2) / 1e9
        val compacted = serve(Ivf.tombstonesOf(spark, s"$tmp/index"))
        val nLeft = graft.sources.Pq.read(spark, s"$tmp/index").count()
        (deadServed == 0 && deadVisible > 0 && compacted == tombstoned &&
          nLeft == 510000 - 10000 && deleteWall < buildWall / 4,
          f"build=$buildWall%.1fs delete=$deleteWall%.1fs compact=$compactWall%.1fs " +
            f"dead_served=$deadServed dead_unfiltered=$deadVisible rows_left=$nLeft")
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    })

    if (enabled("semadmit")) scenario("semantic-admit-500k",
        "batch admission vs the stored vector index: clones reject, fresh admit", {
      // 500k-vector stored index; a 10k batch of 2.5k exact clones of
      // stored vectors (cos = 1), 2.5k perturbed clones (cos ≈ 1-1e-7),
      // and 5k fresh vectors. xxhash-random positive 64-dim vectors
      // concentrate near cos 0.75, so threshold 0.999 cleanly separates
      // clones from fresh — the admission must sort the batch EXACTLY
      // into {rejected: all clones, admitted: all fresh}; re-admitting
      // the appended fresh set must then reject all of it (self cos 1).
      import graft.ann.Ivf
      import graft.dedup.Dedup
      val dim = 64
      def vecOf(idCol: org.apache.spark.sql.Column) =
        transform(sequence(lit(0), lit(dim - 1)),
          c => pmod(xxhash64(idCol, c), lit(997)).cast("double") / 997.0)
      val tmp = java.nio.file.Files.createTempDirectory("rehearse_semadm").toString
      try {
        val base = spark.range(0, 500000)
          .select(col("id").as("vec_id"), vecOf(col("id")).as("embedding"))
        val model = Ivf.fit(base, "vec_id", "embedding", numCells = 707, iterations = 2)
        Ivf.save(model, spark, s"$tmp/model")
        Ivf.assign(base, "embedding", model)
          .select(col("vec_id").as("nid"), col("embedding").as("nvec"), col("cell"))
          .write.mode("overwrite").parquet(s"$tmp/index")
        val clones = spark.range(0, 2500)
          .select((col("id") + 600000L).as("vec_id"), vecOf(col("id")).as("embedding"))
        val perturbed = spark.range(2500, 5000)
          .select((col("id") + 600000L).as("vec_id"),
            transform(vecOf(col("id")), x => x + 0.0005).as("embedding"))
        val fresh = spark.range(500000, 505000)
          .select(col("id").as("vec_id"), vecOf(col("id")).as("embedding"))
        val batch = clones.unionByName(perturbed).unionByName(fresh)
        val t0 = System.nanoTime()
        val verdicts = Dedup.semanticAdmitAgainstIndex(
            graft.sources.Pq.read(spark, s"$tmp/index"), batch,
            Ivf.load(spark, s"$tmp/model"), "vec_id", "embedding",
            threshold = 0.999, nProbes = 3)
          .select("vec_id", "admitted")
          .collect().map(r => (r.getLong(0), r.getInt(1)))
        val admitWall = (System.nanoTime() - t0) / 1e9
        val admitted = verdicts.filter(_._2 == 1).map(_._1).toSet
        val rejected = verdicts.filter(_._2 == 0).map(_._1).toSet
        val expectAdmit = (500000L until 505000L).toSet
        // append the admitted set, then re-admission must reject all of it
        Ivf.appendToIndex(spark, s"$tmp/index", s"$tmp/model",
          batch.join(spark.createDataFrame(admitted.toSeq.map(Tuple1(_)))
            .toDF("vec_id"), Seq("vec_id")), "vec_id", "embedding")
        val reAdmitted = Dedup.semanticAdmitAgainstIndex(
            graft.sources.Pq.read(spark, s"$tmp/index"), fresh,
            Ivf.load(spark, s"$tmp/model"), "vec_id", "embedding",
            threshold = 0.999, nProbes = 3)
          .filter(col("admitted") === 1).count()
        (admitted == expectAdmit && rejected.size == 5000 && reAdmitted == 0,
          f"admit=$admitWall%.1fs admitted=${admitted.size} rejected=${rejected.size} " +
            f"re_admitted=$reAdmitted")
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    })

    if (enabled("rollup")) scenario("rollup-rewrite-100m",
        "optimizer redirects a fact aggregate to the group-sized summary", {
      // 100M-row fact, 1000 (k1, k2) groups. The rewritten aggregate must
      // scan ONLY the 1000-row summary — its wall is fact-size-INDEPENDENT
      // and must sit far below the direct fact scan (at 20M rows the two
      // are within 2x because fixed job bring-up dominates; 100M is where
      // the scan cost separates cleanly) — and the answers must match
      // exactly (integral measures; min/max carried verbatim).
      import graft.plan.{Rollup, RollupRewrite}
      val tmp = java.nio.file.Files.createTempDirectory("rehearse_rollup").toString
      try {
        spark.range(0, 100000000L).select(
            (col("id") % 40).cast("string").as("k1"),
            (col("id") % 25).cast("string").as("k2"),
            (col("id") % 997).as("m_long"),
            ((col("id") % 10000).cast("double") / 100.0).as("m_dbl"))
          .write.mode("overwrite").parquet(s"$tmp/base")
        val base = graft.sources.Pq.read(spark, s"$tmp/base")
        val t0 = System.nanoTime()
        Rollup.materialize(base, Seq("k1", "k2"), Seq("m_long", "m_dbl"))
          .write.mode("overwrite").parquet(s"$tmp/summary")
        val buildWall = (System.nanoTime() - t0) / 1e9
        RollupRewrite.register(base, graft.sources.Pq.read(spark, s"$tmp/summary"),
          Seq("k1", "k2"), Seq("m_long", "m_dbl"))
        RollupRewrite.enable(spark)
        def q(src: org.apache.spark.sql.DataFrame) = src.groupBy("k1")
          .agg(count(lit(1)).as("n"), sum("m_long").as("s"),
            min("m_dbl").as("mn"), max("m_dbl").as("mx"))
        val plan = q(base)
        val scansOk = RollupRewrite.scanRootPaths(plan).forall(_.contains("summary"))
        val t1 = System.nanoTime()
        val rew = q(base).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getDouble(3), r.getDouble(4))).toSet
        val rewrittenWall = (System.nanoTime() - t1) / 1e9
        RollupRewrite.disable(spark)
        val t2 = System.nanoTime()
        val direct = q(base).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getDouble(3), r.getDouble(4))).toSet
        val directWall = (System.nanoTime() - t2) / 1e9
        // AGGREGATE NAVIGATION (q172 composed form): a JOIN query over
        // the same 100M fact — eager aggregation pushes the partial
        // below the join, the rollup rewrite redirects it to the
        // summary: the fact is never scanned, so the join-aggregate
        // wall is summary-sized too.
        val dim = spark.range(0, 40).select(col("id").cast("string").as("dk"),
          (col("id") % 5).cast("string").as("g"))
        def qj(src: org.apache.spark.sql.DataFrame) =
          src.join(dim, col("k1") === col("dk"))
            .groupBy("g").agg(count(lit(1)).as("n"), sum("m_long").as("s"))
        val t3 = System.nanoTime()
        val directJoin = qj(base).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        val directJoinWall = (System.nanoTime() - t3) / 1e9
        RollupRewrite.enable(spark)
        graft.plan.EagerAggregation.enable(spark)
        val navPlan = qj(base)
        val navOk = RollupRewrite.scanRootPaths(navPlan)
          .forall(_.contains("summary")) &&
          graft.plan.EagerAggregation.partialAggBelowJoin(navPlan)
        val t4 = System.nanoTime()
        val nav = qj(base).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        val navWall = (System.nanoTime() - t4) / 1e9
        graft.plan.EagerAggregation.disable(spark)
        // INCREMENTAL REFRESH at scale (q192's contract, r11): append a
        // 10M-row delta and refresh from the manifest diff — the refresh
        // aggregates ONLY the appended files + merges the 1000-row
        // summary, so its wall tracks the DELTA, not the 110M base (must
        // sit well under the full summary rebuild), and the refreshed
        // summary must serve the post-append query exactly.
        RollupRewrite.enable(spark)
        def baseFiles() = new java.io.File(s"$tmp/base").listFiles()
          .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
        val beforeF = baseFiles()
        spark.range(100000000L, 110000000L).select(
            (col("id") % 40).cast("string").as("k1"),
            (col("id") % 25).cast("string").as("k2"),
            (col("id") % 997).as("m_long"),
            ((col("id") % 10000).cast("double") / 100.0).as("m_dbl"))
          .write.mode("append").parquet(s"$tmp/base")
        val addedF = baseFiles() -- beforeF
        val t5 = System.nanoTime()
        val rep = RollupRewrite.refreshStale(spark, s"$tmp/refreshed")
        val refreshWall = (System.nanoTime() - t5) / 1e9
        val deltaOk = rep.size == 1 && rep.head.refreshed &&
          rep.head.deltaFiles
            .map(p => p.substring(p.lastIndexOf('/') + 1)).toSet == addedF
        val newBase = graft.sources.Pq.read(spark, s"$tmp/base")
        val refScanOk = RollupRewrite.scanRootPaths(q(newBase))
          .forall(_.contains("refresh"))
        val refreshed = q(newBase).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getDouble(3), r.getDouble(4))).toSet
        RollupRewrite.disable(spark)
        val t6 = System.nanoTime()
        val directNew = q(newBase).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getDouble(3), r.getDouble(4))).toSet
        val directNewWall = (System.nanoTime() - t6) / 1e9
        // SERVE-TIME COMPENSATION at scale (q198): append ANOTHER 10M
        // delta and DO NOT refresh — the compensated serve must answer
        // from the refreshed summary + EXACTLY the new delta files
        // (structural: the 120M base dir never appears in the plan),
        // and its wall tracks the delta, not the base.
        RollupRewrite.enable(spark)
        RollupRewrite.setCompensation(true)
        val beforeF2 = baseFiles()
        spark.range(110000000L, 120000000L).select(
            (col("id") % 40).cast("string").as("k1"),
            (col("id") % 25).cast("string").as("k2"),
            (col("id") % 997).as("m_long"),
            ((col("id") % 10000).cast("double") / 100.0).as("m_dbl"))
          .write.mode("append").parquet(s"$tmp/base")
        val addedF2 = baseFiles() -- beforeF2
        val base3 = graft.sources.Pq.read(spark, s"$tmp/base")
        val compScans = RollupRewrite.scanRootPaths(q(base3))
        val compScanOk = compScans.exists(_.contains("refresh")) &&
          !compScans.exists(_.endsWith("/base")) &&
          compScans.filter(_.contains("/base/"))
            .map(p => p.substring(p.lastIndexOf('/') + 1)) == addedF2
        val t7 = System.nanoTime()
        val comp = q(base3).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getDouble(3), r.getDouble(4))).toSet
        val compWall = (System.nanoTime() - t7) / 1e9
        RollupRewrite.setCompensation(false)
        RollupRewrite.disable(spark)
        val t8 = System.nanoTime()
        val directComp = q(base3).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getDouble(3), r.getDouble(4))).toSet
        val directCompWall = (System.nanoTime() - t8) / 1e9
        // AGGREGATE JOIN SUMMARY at scale (q203): navigation answers the
        // join-aggregate in two summary scans + a join; the AJI answers
        // it in ONE 5-row scan with no join at all. Dim written to
        // parquet (registerJoined needs file-backed sides); the 120M
        // post-append base is the AJI's registered state.
        dim.write.mode("overwrite").parquet(s"$tmp/dim")
        val dimF = graft.sources.Pq.read(spark, s"$tmp/dim")
        val factF = graft.sources.Pq.read(spark, s"$tmp/base")
        RollupRewrite.enable(spark)
        Rollup.materializeJoined(factF, dimF, Seq("k1" -> "dk"),
            Seq("g"), Seq("m_long"))
          .write.mode("overwrite").parquet(s"$tmp/aji")
        RollupRewrite.registerJoined(factF, dimF, Seq("k1" -> "dk"),
          graft.sources.Pq.read(spark, s"$tmp/aji"), Seq("g"), Seq("m_long"))
        def qaji(src: org.apache.spark.sql.DataFrame) =
          src.join(dimF, col("k1") === col("dk"))
            .groupBy("g").agg(count(lit(1)).as("n"), sum("m_long").as("s"))
        val ajiScans = RollupRewrite.scanRootPaths(qaji(factF))
        val ajiOk = ajiScans == Set(s"file:$tmp/aji") &&
          qaji(factF).queryExecution.optimizedPlan.collect {
            case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
          }.isEmpty
        val t9 = System.nanoTime()
        val aji = qaji(factF).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        val ajiWall = (System.nanoTime() - t9) / 1e9
        RollupRewrite.disable(spark)
        val t10 = System.nanoTime()
        val directJoined = qaji(factF).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        val directJoinedWall = (System.nanoTime() - t10) / 1e9
        // AJI COMPENSATION at scale (q205): append ANOTHER 10M fact
        // delta and DO NOT refresh — the first serve answers from the
        // AJI + exactly the new files (+ the 40-row dim), never the
        // 130M base dir; the second serve splices the cached 5-row
        // delta and scans the AJI ALONE, join-free.
        RollupRewrite.enable(spark)
        RollupRewrite.setCompensation(true)
        val beforeF3 = baseFiles()
        spark.range(120000000L, 130000000L).select(
            (col("id") % 40).cast("string").as("k1"),
            (col("id") % 25).cast("string").as("k2"),
            (col("id") % 997).as("m_long"),
            ((col("id") % 10000).cast("double") / 100.0).as("m_dbl"))
          .write.mode("append").parquet(s"$tmp/base")
        val addedF3 = baseFiles() -- beforeF3
        val fact4 = graft.sources.Pq.read(spark, s"$tmp/base")
        val ajiC1 = qaji(fact4)
        val cScans = RollupRewrite.scanRootPaths(ajiC1)
        val ajiComp1Ok = cScans.contains(s"file:$tmp/aji") &&
          !cScans.exists(_.endsWith("/base")) &&
          cScans.filter(_.contains("/base/"))
            .map(p => p.substring(p.lastIndexOf('/') + 1)) == addedF3
        val t11 = System.nanoTime()
        val ajiComp1 = ajiC1.collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        val ajiComp1Wall = (System.nanoTime() - t11) / 1e9
        val ajiC2 = qaji(fact4)
        val ajiComp2Ok =
          RollupRewrite.scanRootPaths(ajiC2) == Set(s"file:$tmp/aji") &&
          ajiC2.queryExecution.optimizedPlan.collect {
            case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
          }.isEmpty
        val t12 = System.nanoTime()
        val ajiComp2 = ajiC2.collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        val ajiComp2Wall = (System.nanoTime() - t12) / 1e9
        RollupRewrite.setCompensation(false)
        RollupRewrite.disable(spark)
        val t13 = System.nanoTime()
        val directComp2 = qaji(fact4).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        val directComp2Wall = (System.nanoTime() - t13) / 1e9
        // AJI DIM-APPEND refresh at scale (q206): 10 duplicate-key dim
        // rows land while the 10M fact delta is still unfolded — ONE
        // refresh covers both sides (ΔF⋈dimCur ∪ F_registered⋈ΔD); the
        // F⋈ΔD term reads the registered 120M fact against a broadcast
        // 10-row delta — the honest dim-append cost (documented), still
        // merge-not-rebuild. NB refreshStale also refreshes the PLAIN
        // registrations (stale by the two unfolded fact deltas), so the
        // wall reported is the whole maintenance pass.
        RollupRewrite.enable(spark)
        spark.range(0, 10).select(col("id").cast("string").as("dk"),
            (col("id") % 5).cast("string").as("g"))
          .coalesce(1).write.mode("append").parquet(s"$tmp/dim")
        val t14 = System.nanoTime()
        val repAll = RollupRewrite.refreshStale(spark, s"$tmp/refreshed_j")
        val dimRefreshWall = (System.nanoTime() - t14) / 1e9
        val repJ = repAll.filter(_.groupCols == Seq("g"))
        val dimRefOk = repJ.size == 1 && repJ.head.refreshed &&
          repJ.head.deltaFiles.size == addedF3.size + 1
        val dimF2 = graft.sources.Pq.read(spark, s"$tmp/dim")
        def qaji2(src: org.apache.spark.sql.DataFrame) =
          src.join(dimF2, col("k1") === col("dk"))
            .groupBy("g").agg(count(lit(1)).as("n"), sum("m_long").as("s"))
        val refJPlan = qaji2(graft.sources.Pq.read(spark, s"$tmp/base"))
        val refJScanOk = RollupRewrite.scanRootPaths(refJPlan)
          .forall(_.contains("refreshj"))
        val refJ = refJPlan.collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        RollupRewrite.disable(spark)
        val t15 = System.nanoTime()
        val directRefJ = qaji2(graft.sources.Pq.read(spark, s"$tmp/base")).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        val directRefJWall = (System.nanoTime() - t15) / 1e9
        // STAR summary at scale (q210): fact ⋈ dim ⋈ dim2 on the 130M
        // base — one 25-row star scan answers the two-join aggregate
        // with ZERO Join nodes in-plan.
        spark.range(0, 25).select(col("id").cast("string").as("dk2"),
            (col("id") % 5).cast("string").as("g2"))
          .write.mode("overwrite").parquet(s"$tmp/dim2")
        val dim2F = graft.sources.Pq.read(spark, s"$tmp/dim2")
        val fact6 = graft.sources.Pq.read(spark, s"$tmp/base")
        val starDims = Seq(dimF2 -> Seq("k1" -> "dk"),
          dim2F -> Seq("k2" -> "dk2"))
        RollupRewrite.enable(spark)
        Rollup.materializeStar(fact6, starDims, Seq("g", "g2"),
            Seq("m_long"))
          .write.mode("overwrite").parquet(s"$tmp/star")
        RollupRewrite.registerStar(fact6, starDims,
          graft.sources.Pq.read(spark, s"$tmp/star"), Seq("g", "g2"), Seq("m_long"))
        def qstar(src: org.apache.spark.sql.DataFrame) =
          src.join(dimF2, col("k1") === col("dk"))
            .join(dim2F, col("k2") === col("dk2"))
            .groupBy("g", "g2")
            .agg(count(lit(1)).as("n"), sum("m_long").as("s"))
        val starPlan = qstar(fact6)
        val starOk = RollupRewrite.scanRootPaths(starPlan) ==
            Set(s"file:$tmp/star") &&
          starPlan.queryExecution.optimizedPlan.collect {
            case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
          }.isEmpty
        val t16 = System.nanoTime()
        val star = qstar(fact6).collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2),
            r.getLong(3))).toSet
        val starWall = (System.nanoTime() - t16) / 1e9
        RollupRewrite.disable(spark)
        val t17 = System.nanoTime()
        val directStar = qstar(fact6).collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2),
            r.getLong(3))).toSet
        val directStarWall = (System.nanoTime() - t17) / 1e9
        // STAR DIM-APPEND refresh at scale (VERDICT r12 #1): a 10M fact
        // delta AND 5 duplicate-key dim2 rows land in ONE stale window;
        // the telescoping refresh folds both — the fact term is
        // delta-sized, the dim2 term reads the REGISTERED 130M fact
        // against the broadcast 5-row delta (the honest dim-append
        // cost, like the AJI's — documented, still merge-not-rebuild).
        // The duplicate keys pair new dim rows with EXISTING fact rows,
        // so a missed F_reg⋈ΔD2 term shows up as a wrong answer. NB
        // this refresh pass also folds the fact delta into the plain
        // and AJI registrations (all stale by it) — the wall reported
        // is the whole maintenance pass, page-cache-tolerant by being
        // structural-only (delta-set equality + post-refresh plan
        // shape) plus exactness.
        RollupRewrite.enable(spark)
        val beforeF4 = baseFiles()
        def dim2Files() = new java.io.File(s"$tmp/dim2").listFiles()
          .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
        val beforeD2 = dim2Files()
        spark.range(130000000L, 140000000L).select(
            (col("id") % 40).cast("string").as("k1"),
            (col("id") % 25).cast("string").as("k2"),
            (col("id") % 997).as("m_long"),
            ((col("id") % 10000).cast("double") / 100.0).as("m_dbl"))
          .write.mode("append").parquet(s"$tmp/base")
        spark.range(0, 5).select(col("id").cast("string").as("dk2"),
            (col("id") % 5).cast("string").as("g2"))
          .coalesce(1).write.mode("append").parquet(s"$tmp/dim2")
        val addedF4 = baseFiles() -- beforeF4
        val addedD2 = dim2Files() -- beforeD2
        val t18 = System.nanoTime()
        val repAll2 = RollupRewrite.refreshStale(spark, s"$tmp/refreshed_s")
        val starRefreshWall = (System.nanoTime() - t18) / 1e9
        val repS = repAll2.filter(_.groupCols == Seq("g", "g2"))
        val starRefOk = repS.size == 1 && repS.head.refreshed &&
          repS.head.deltaFiles
            .map(p => p.substring(p.lastIndexOf('/') + 1)).toSet ==
            (addedF4 ++ addedD2)
        val fact7 = graft.sources.Pq.read(spark, s"$tmp/base")
        val dim2F2 = graft.sources.Pq.read(spark, s"$tmp/dim2")
        def qstar2(src: org.apache.spark.sql.DataFrame) =
          src.join(dimF2, col("k1") === col("dk"))
            .join(dim2F2, col("k2") === col("dk2"))
            .groupBy("g", "g2")
            .agg(count(lit(1)).as("n"), sum("m_long").as("s"))
        val starRefPlan = qstar2(fact7)
        val starRefScanOk = RollupRewrite.scanRootPaths(starRefPlan)
          .forall(_.contains("refreshs"))
        val starRef = starRefPlan.collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2),
            r.getLong(3))).toSet
        RollupRewrite.disable(spark)
        val t19 = System.nanoTime()
        val directStarRef = qstar2(fact7).collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2),
            r.getLong(3))).toSet
        val directStarRefWall = (System.nanoTime() - t19) / 1e9
        // ratio claims: the summary-served walls must beat the direct
        // ones, but the MARGIN depends on whether the 100M base hits the
        // OS page cache (a fully-cached direct scan reads ~1.2 s vs
        // ~3.6 s cold, measured) — so only nav's 13×+ headroom keeps a
        // hard factor; the scan-avoidance claim is strict-less plus the
        // plan-shape requires above (scans_ok/nav_ok ARE the guarantee)
        (scansOk && rew == direct && rew.size == 40 &&
          rewrittenWall < directWall &&
          navOk && nav == directJoin && navWall < directJoinWall / 3 &&
          // refresh's no-full-scan guarantee is STRUCTURAL (deltaOk: the
          // refresh read exactly the appended files); the wall check
          // carries a fixed-overhead allowance — with everything
          // page-cached the 100M build drops below 2 s while refresh's
          // few-job fixed overhead dominates its 10M delta (measured
          // build 1.9 s vs refresh 4.6 s in a warm battery; cold the
          // ratio is 18.9 s vs 1.5 s the right way around)
          deltaOk && refScanOk && refreshed == directNew &&
          refreshWall < buildWall + 5.0 &&
          // compensation's no-base-scan guarantee is STRUCTURAL too
          // (compScanOk: summary + exactly the new delta files in-plan);
          // the wall check stays strict-less for the same page-cache
          // reason
          compScanOk && comp == directComp && compWall < directCompWall &&
          ajiOk && aji == directJoined && ajiWall < directJoinedWall &&
          // AJI compensation: structural (first serve reads exactly the
          // delta files, steady state reads the AJI alone) + exactness
          ajiComp1Ok && ajiComp2Ok && ajiComp1 == directComp2 &&
          ajiComp2 == directComp2 && ajiComp2Wall < directComp2Wall &&
          // AJI dim-append refresh: one refresh covers both sides and
          // the served answer equals the 130M ⋈ 50-row recompute
          dimRefOk && refJScanOk && refJ == directRefJ &&
          // star summary: 25-row scan ≡ the 130M two-join aggregate
          starOk && star == directStar && starWall < directStarWall &&
          // star dim-append refresh: delta set == BOTH sides' appended
          // files exactly, post-refresh serve rides the refreshed star
          // summary and equals the 140M recompute (structural +
          // exactness — page-cache-tolerant, no wall factor)
          starRefOk && starRefScanOk && starRef == directStarRef,
          f"build=$buildWall%.1fs rewritten=$rewrittenWall%.2fs " +
            f"direct=$directWall%.2fs groups=${rew.size} scans_ok=$scansOk " +
            f"nav=$navWall%.2fs direct_join=$directJoinWall%.2fs nav_ok=$navOk " +
            f"refresh=$refreshWall%.1fs (delta 10M vs rebuild≈$buildWall%.1fs) " +
            f"delta_files_ok=$deltaOk ref_scan_ok=$refScanOk " +
            f"direct_new=$directNewWall%.2fs " +
            f"comp=$compWall%.2fs direct_120m=$directCompWall%.2fs " +
            f"comp_scan_ok=$compScanOk " +
            f"aji=$ajiWall%.2fs direct_join_120m=$directJoinedWall%.2fs " +
            f"aji_ok=$ajiOk " +
            f"aji_comp_first=$ajiComp1Wall%.2fs aji_comp_steady=$ajiComp2Wall%.2fs " +
            f"direct_join_130m=$directComp2Wall%.2fs " +
            f"aji_comp_ok=${ajiComp1Ok && ajiComp2Ok} " +
            f"dim_refresh_all=$dimRefreshWall%.1fs dim_ref_ok=$dimRefOk " +
            f"ref_j_scan_ok=$refJScanOk direct_130m_dim50=$directRefJWall%.2fs " +
            f"star=$starWall%.2fs direct_star_130m=$directStarWall%.2fs " +
            f"star_ok=$starOk " +
            f"star_refresh_all=$starRefreshWall%.1fs star_ref_ok=$starRefOk " +
            f"star_ref_scan_ok=$starRefScanOk " +
            f"direct_star_140m=$directStarRefWall%.2fs")
      } finally {
        graft.plan.RollupRewrite.disable(spark)
        graft.plan.RollupRewrite.setCompensation(false)
        graft.plan.RollupRewrite.clear()
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      }
    })

    if (enabled("sumretract")) scenario("summary-retract-100m",
        "delete retraction across plain/AJI/star — subtract-only, delta-sized", {
      // 100M-row fact in 10 append batches with a MONOTONE measure
      // (m = id): a deleted MIDDLE batch's per-group extremes sit
      // strictly inside the stored ones, so every group of every tier
      // retracts by pure subtraction — the recompute branch stays empty
      // and Rollup.retract's short-circuit keeps the base out of the
      // plan entirely. The retraction pass (plain + AJI + star in one
      // refreshStale) must therefore be DELTA-sized: its wall is
      // bounded by the build's, with the trash batch (10M rows) the
      // only non-summary input. Exactness: integer sums/counts/extremes
      // compare bit-equal against the reduced-base recomputes.
      import graft.plan.{Rollup, RollupRewrite}
      val tmp = java.nio.file.Files.createTempDirectory("rehearse_sumret").toString
      try {
        def baseFiles() = Option(new java.io.File(s"$tmp/base").listFiles())
          .getOrElse(Array.empty[java.io.File])
          .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSet
        var batch6 = Set.empty[String]
        (0 until 10).foreach { b =>
          val before = baseFiles()
          spark.range(b * 10000000L, (b + 1) * 10000000L).select(
              (col("id") % 40).cast("string").as("k1"),
              (col("id") % 25).cast("string").as("k2"),
              col("id").as("m"))
            .write.mode("append").parquet(s"$tmp/base")
          if (b == 6) batch6 = baseFiles() -- before
        }
        spark.range(0, 40).select(col("id").cast("string").as("dk"),
            (col("id") % 5).cast("string").as("g"))
          .write.mode("overwrite").parquet(s"$tmp/dim")
        spark.range(0, 25).select(col("id").cast("string").as("dk2"),
            (col("id") % 5).cast("string").as("g2"))
          .write.mode("overwrite").parquet(s"$tmp/dim2")
        val fact = graft.sources.Pq.read(spark, s"$tmp/base")
        val dimF = graft.sources.Pq.read(spark, s"$tmp/dim")
        val dim2F = graft.sources.Pq.read(spark, s"$tmp/dim2")
        val starDims = Seq(dimF -> Seq("k1" -> "dk"),
          dim2F -> Seq("k2" -> "dk2"))
        val t0 = System.nanoTime()
        Rollup.materialize(fact, Seq("k1"), Seq("m"))
          .write.mode("overwrite").parquet(s"$tmp/psum")
        Rollup.materializeJoined(fact, dimF, Seq("k1" -> "dk"),
            Seq("g"), Seq("m"))
          .write.mode("overwrite").parquet(s"$tmp/aji")
        Rollup.materializeStar(fact, starDims, Seq("g", "g2"), Seq("m"))
          .write.mode("overwrite").parquet(s"$tmp/star")
        val buildWall = (System.nanoTime() - t0) / 1e9
        RollupRewrite.register(fact, graft.sources.Pq.read(spark, s"$tmp/psum"),
          Seq("k1"), Seq("m"))
        RollupRewrite.registerJoined(fact, dimF, Seq("k1" -> "dk"),
          graft.sources.Pq.read(spark, s"$tmp/aji"), Seq("g"), Seq("m"))
        RollupRewrite.registerStar(fact, starDims,
          graft.sources.Pq.read(spark, s"$tmp/star"), Seq("g", "g2"), Seq("m"))
        RollupRewrite.enable(spark)
        RollupRewrite.deleteFiles(spark, batch6.toSeq.sorted, s"$tmp/trash")
        val t1 = System.nanoTime()
        val rep = RollupRewrite.refreshStale(spark, s"$tmp/ret",
          trashDirs = Seq(s"$tmp/trash"))
        val retractWall = (System.nanoTime() - t1) / 1e9
        val batch6Names = batch6.map(p => p.substring(p.lastIndexOf('/') + 1))
        val repOk = rep.size == 3 && rep.forall(r => r.refreshed &&
          r.deltaFiles.isEmpty && r.removedFiles.map(p =>
            p.substring(p.lastIndexOf('/') + 1)).toSet == batch6Names)
        // all three tiers serve from their retracted summaries,
        // join-free where the shape demands, bit-equal to the reduced-
        // base recomputes (integer measures)
        val fact2 = graft.sources.Pq.read(spark, s"$tmp/base")
        def qp(src: org.apache.spark.sql.DataFrame) = src.groupBy("k1")
          .agg(count(lit(1)).as("n"), sum("m").as("s"),
            min("m").as("mn"), max("m").as("mx"))
        def qj(src: org.apache.spark.sql.DataFrame) =
          src.join(dimF, col("k1") === col("dk")).groupBy("g")
            .agg(count(lit(1)).as("n"), sum("m").as("s"))
        def qs(src: org.apache.spark.sql.DataFrame) =
          src.join(dimF, col("k1") === col("dk"))
            .join(dim2F, col("k2") === col("dk2")).groupBy("g", "g2")
            .agg(count(lit(1)).as("n"), sum("m").as("s"))
        def joinFree(df: org.apache.spark.sql.DataFrame) =
          df.queryExecution.optimizedPlan.collect {
            case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
          }.isEmpty
        val scansOk =
          RollupRewrite.scanRootPaths(qp(fact2)).forall(_.contains("/ret/")) &&
          RollupRewrite.scanRootPaths(qj(fact2)).forall(_.contains("refreshj")) &&
          joinFree(qj(fact2)) &&
          RollupRewrite.scanRootPaths(qs(fact2)).forall(_.contains("refreshs")) &&
          joinFree(qs(fact2))
        def rowsP(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4))).toSet
        def rows2(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        def rows3(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
          (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
        val (sp, sj, ss) = (rowsP(qp(fact2)), rows2(qj(fact2)), rows3(qs(fact2)))
        RollupRewrite.disable(spark)
        val t2 = System.nanoTime()
        val (dp, dj, dsr) = (rowsP(qp(fact2)), rows2(qj(fact2)), rows3(qs(fact2)))
        val directWall = (System.nanoTime() - t2) / 1e9
        (repOk && scansOk && sp == dp && sj == dj && ss == dsr &&
          sp.size == 40 &&
          // delta-sized claim: one 10M trash batch through three tiers
          // vs the 100M triple build (page-cache-tolerant allowance)
          retractWall < buildWall + 5.0,
          f"build=$buildWall%.1fs retract_all3=$retractWall%.1fs " +
            f"rep_ok=$repOk scans_ok=$scansOk " +
            f"direct_recompute_all3=$directWall%.1fs groups=${sp.size}")
      } finally {
        graft.plan.RollupRewrite.disable(spark)
        graft.plan.RollupRewrite.clear()
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      }
    })

    if (enabled("mixedfold")) scenario("mixed-diff-fold-100m",
        "compaction (remove+append in one window) folds across plain+AJI — delta-sized", {
      // 100M-row fact in 10 batches (sumretract's construction, monotone
      // m = id). ONE stale window then holds a COMPACTION of batch 6
      // (its 10M rows rewritten as fewer files) AND a genuinely new 10M
      // batch — the mixed diff that used to staleness-kill every
      // summary. refreshStale must FOLD it on both the plain and the
      // AJI tier (retraction ∘ append-fold, VERDICT r13 #1): the
      // monotone measure keeps the recompute branch empty, so the whole
      // pass is delta-sized — bounded by the 20M appended rows, never
      // the 110M base. Exactness: integer sums/counts/extremes bit-equal
      // against the full recompute of the post-compaction base.
      import graft.plan.{Rollup, RollupRewrite}
      val tmp = java.nio.file.Files.createTempDirectory("rehearse_mixed").toString
      try {
        def baseFiles() = Option(new java.io.File(s"$tmp/base").listFiles())
          .getOrElse(Array.empty[java.io.File])
          .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSet
        var batch6 = Set.empty[String]
        (0 until 10).foreach { b =>
          val before = baseFiles()
          spark.range(b * 10000000L, (b + 1) * 10000000L).select(
              (col("id") % 40).cast("string").as("k1"),
              col("id").as("m"))
            .write.mode("append").parquet(s"$tmp/base")
          if (b == 6) batch6 = baseFiles() -- before
        }
        spark.range(0, 40).select(col("id").cast("string").as("dk"),
            (col("id") % 5).cast("string").as("g"))
          .write.mode("overwrite").parquet(s"$tmp/dim")
        val fact = graft.sources.Pq.read(spark, s"$tmp/base")
        val dimF = graft.sources.Pq.read(spark, s"$tmp/dim")
        val t0 = System.nanoTime()
        Rollup.materialize(fact, Seq("k1"), Seq("m"))
          .write.mode("overwrite").parquet(s"$tmp/psum")
        Rollup.materializeJoined(fact, dimF, Seq("k1" -> "dk"),
            Seq("g"), Seq("m"))
          .write.mode("overwrite").parquet(s"$tmp/aji")
        val buildWall = (System.nanoTime() - t0) / 1e9
        RollupRewrite.register(fact, graft.sources.Pq.read(spark, s"$tmp/psum"),
          Seq("k1"), Seq("m"))
        RollupRewrite.registerJoined(fact, dimF, Seq("k1" -> "dk"),
          graft.sources.Pq.read(spark, s"$tmp/aji"), Seq("g"), Seq("m"))
        RollupRewrite.enable(spark)
        // the mixed window: batch 6 compacts (rewrite, then trash the
        // originals) and a NEW batch 10 appends
        val preCompact = baseFiles()
        graft.sources.Pq.read(spark, batch6.toSeq.sorted: _*).repartition(4)
          .write.mode("append").parquet(s"$tmp/base")
        spark.range(100000000L, 110000000L).select(
            (col("id") % 40).cast("string").as("k1"),
            col("id").as("m"))
          .write.mode("append").parquet(s"$tmp/base")
        val appendedNames = (baseFiles() -- preCompact)
          .map(p => p.substring(p.lastIndexOf('/') + 1))
        RollupRewrite.deleteFiles(spark, batch6.toSeq.sorted, s"$tmp/trash")
        val t1 = System.nanoTime()
        val rep = RollupRewrite.refreshStale(spark, s"$tmp/ret",
          trashDirs = Seq(s"$tmp/trash"))
        val foldWall = (System.nanoTime() - t1) / 1e9
        val batch6Names = batch6.map(p => p.substring(p.lastIndexOf('/') + 1))
        val repOk = rep.size == 2 && rep.forall(r => r.refreshed &&
          r.removedFiles.map(p =>
            p.substring(p.lastIndexOf('/') + 1)).toSet == batch6Names &&
          r.deltaFiles.map(p =>
            p.substring(p.lastIndexOf('/') + 1)).toSet == appendedNames)
        val fact2 = graft.sources.Pq.read(spark, s"$tmp/base")
        def qp(src: org.apache.spark.sql.DataFrame) = src.groupBy("k1")
          .agg(count(lit(1)).as("n"), sum("m").as("s"),
            min("m").as("mn"), max("m").as("mx"))
        def qj(src: org.apache.spark.sql.DataFrame) =
          src.join(dimF, col("k1") === col("dk")).groupBy("g")
            .agg(count(lit(1)).as("n"), sum("m").as("s"))
        def joinFree(df: org.apache.spark.sql.DataFrame) =
          df.queryExecution.optimizedPlan.collect {
            case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
          }.isEmpty
        val scansOk =
          RollupRewrite.scanRootPaths(qp(fact2)).forall(_.contains("/ret/")) &&
          RollupRewrite.scanRootPaths(qj(fact2)).forall(_.contains("refreshj")) &&
          joinFree(qj(fact2))
        def rowsP(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4))).toSet
        def rows2(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        val (sp, sj) = (rowsP(qp(fact2)), rows2(qj(fact2)))
        RollupRewrite.disable(spark)
        val t2 = System.nanoTime()
        val (dp, dj) = (rowsP(qp(fact2)), rows2(qj(fact2)))
        val directWall = (System.nanoTime() - t2) / 1e9
        RollupRewrite.enable(spark)
        // window 2 (r14 generalization — CROSS-side): ONE dim file
        // deletes while a NEW 10M fact batch appends. The plain tier
        // sees a pure fact append; the AJI folds the cross-side diff —
        // its retraction and dim-delta terms read the SAVED fact (the
        // honest registered-fact-sized cost), never double-counting
        // the appended batch.
        val dimFile = new java.io.File(s"$tmp/dim").listFiles()
          .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
        spark.range(110000000L, 120000000L).select(
            (col("id") % 40).cast("string").as("k1"),
            col("id").as("m"))
          .write.mode("append").parquet(s"$tmp/base")
        RollupRewrite.deleteFiles(spark, Seq(dimFile), s"$tmp/trash")
        val t3 = System.nanoTime()
        val rep2 = RollupRewrite.refreshStale(spark, s"$tmp/ret2",
          trashDirs = Seq(s"$tmp/trash"))
        val xWall = (System.nanoTime() - t3) / 1e9
        val rep2Ok = rep2.size == 2 && rep2.forall(_.refreshed) &&
          rep2.exists(r => r.removedFiles.nonEmpty &&
            r.removedFiles.map(p => p.substring(p.lastIndexOf('/') + 1))
              .forall(_ => true))
        val fact3 = graft.sources.Pq.read(spark, s"$tmp/base")
        val dim3 = graft.sources.Pq.read(spark, s"$tmp/dim")
        def qj3(src: org.apache.spark.sql.DataFrame) =
          src.join(dim3, col("k1") === col("dk")).groupBy("g")
            .agg(count(lit(1)).as("n"), sum("m").as("s"))
        val scans2Ok =
          RollupRewrite.scanRootPaths(qj3(fact3)).forall(_.contains("refreshj")) &&
          joinFree(qj3(fact3))
        val sx = rows2(qj3(fact3))
        RollupRewrite.disable(spark)
        val dx = rows2(qj3(fact3))
        (repOk && scansOk && sp == dp && sj == dj && sp.size == 40 &&
          rep2Ok && scans2Ok && sx == dx &&
          // delta-sized claim: the fold reads 30M delta/trash rows, never
          // the 110M base — but it runs 4 aggregates + 4 merges where the
          // build runs 2 passes, so on this NARROW 2-column base the
          // per-job overhead dominates; bound by 2× the build (+ cache
          // allowance), which a base-sized fold would blow through. The
          // cross-side window additionally pays the honest saved-fact
          // read for the removed-dim join terms.
          foldWall < buildWall * 2.0 + 5.0,
          f"build=$buildWall%.1fs fold_both=$foldWall%.1fs rep_ok=$repOk " +
            f"scans_ok=$scansOk direct_recompute=$directWall%.1fs " +
            f"groups=${sp.size} appended_files=${appendedNames.size} " +
            f"xside_fold=$xWall%.1fs xside_ok=${rep2Ok && scans2Ok && sx == dx}")
      } finally {
        graft.plan.RollupRewrite.disable(spark)
        graft.plan.RollupRewrite.clear()
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      }
    })

    if (enabled("design")) scenario("designed-lattice-20m",
        "capture -> approx design (cube-free) -> build -> serve, self-tuning at scale", {
      // 20M-row base, 2000 (k1, k2) groups: a 3-query dashboard is
      // OBSERVED, the designer runs its grain advisor in APPROX mode
      // (2^d-1 KMV sketches in ONE aggregation — the cube-free 100-TB
      // path; an exact cube would Expand the 20M scan 4-fold), and the
      // designed lattice must serve every observed query with no base
      // scan. The design pass itself must be seconds (one aggregation +
      // one count over the base), NOT proportional to 2^d scans.
      import graft.plan.{RollupRewrite, SummaryDesigner}
      import graft.functions.expressions.HistAgg
      val tmp = java.nio.file.Files.createTempDirectory("rehearse_design").toString
      try {
        spark.range(0, 20000000L).select(
            (col("id") % 50).cast("string").as("k1"),
            (col("id") % 40).cast("string").as("k2"),
            (col("id") % 997).as("m"),
            (col("id") % 100000 + 1).as("v"))
          .write.mode("overwrite").parquet(s"$tmp/base")
        val base = graft.sources.Pq.read(spark, s"$tmp/base")
        RollupRewrite.enable(spark)
        RollupRewrite.startWorkloadCapture()
        def w1(src: org.apache.spark.sql.DataFrame) = src.groupBy("k1")
          .agg(count(lit(1)).as("n"), sum("m").as("s"))
        def w2(src: org.apache.spark.sql.DataFrame) = src.groupBy("k1", "k2")
          .agg(min("m").as("mn"))
        def w3(src: org.apache.spark.sql.DataFrame) = src.groupBy("k1")
          .agg(HistAgg.histSketch(col("v")).as("h"))
          .select(col("k1"), HistAgg.histQuantile(col("h"), 0.99).as("p99"))
        Seq(w1(base), w2(base), w3(base)).foreach(_.queryExecution.optimizedPlan)
        val t0 = System.nanoTime()
        val specs = SummaryDesigner.design(base, k = 2, sketchCardK = Some(256))
        val designWall = (System.nanoTime() - t0) / 1e9
        val specsOk = specs.size == 2 &&
          specs.exists(_.grainCols == Seq("k1")) &&
          specs.exists(_.grainCols.toSet == Set("k1", "k2")) &&
          specs.filter(_.grainCols == Seq("k1"))
            .forall(s => s.histCols == Seq("v") && s.measures == Seq("m"))
        val t1 = System.nanoTime()
        SummaryDesigner.buildAndRegister(spark, base, Nil, specs, s"$tmp/designed")
        val buildWall = (System.nanoTime() - t1) / 1e9
        val servedOk = Seq(w1(base), w2(base), w3(base)).forall { q =>
          val scans = RollupRewrite.scanRootPaths(q)
          scans.nonEmpty && scans.forall(_.contains("designed"))
        }
        val t2 = System.nanoTime()
        val servedP99 = w3(base).collect()
          .map(r => (r.getString(0), r.getLong(1))).toSet
        val serveWall = (System.nanoTime() - t2) / 1e9
        RollupRewrite.disable(spark)
        val t3 = System.nanoTime()
        val directP99 = w3(base).collect()
          .map(r => (r.getString(0), r.getLong(1))).toSet
        val directWall = (System.nanoTime() - t3) / 1e9
        (specsOk && servedOk && servedP99 == directP99 &&
          servedP99.size == 50 && serveWall < directWall,
          f"design=$designWall%.1fs (approx, one agg pass) build=$buildWall%.1fs " +
            f"serve_p99=$serveWall%.2fs direct_p99=$directWall%.2fs " +
            f"specs_ok=$specsOk served_ok=$servedOk groups=${servedP99.size}")
      } finally {
        graft.plan.RollupRewrite.disable(spark)
        graft.plan.RollupRewrite.resetWorkloadCapture()
        graft.plan.RollupRewrite.clear()
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      }
    })

    if (enabled("eageragg")) scenario("eager-agg-100m",
        "cost-guarded partial-agg pushdown: reducing keys fire, near-unique auto-bail", {
      // 100M-row PARQUET fact joined to a 5M-row dim (too big to
      // broadcast — the sort-merge shape eager aggregation exists for),
      // grouped by the dim's 20-value attribute. The fact carries BOTH
      // regimes as columns: kr has 500k DISTINCT values (200 rows/key —
      // directly, the join shuffles and sorts all 100M fact rows; with
      // the pushdown the exchange carries ≤16M partials and the join
      // sorts 500k) and ku is NEAR-UNIQUE (the regime whose pre-agg
      // hash state only spills: r11 measured 78.8 s vs 9.7 s direct
      // in-battery). One analyzeKeys pass registers KMV estimates for
      // both; the COST GUARD (VERDICT r11 #1) must then fire the
      // reducing join and AUTO-BAIL the near-unique one with the rule
      // left enabled — the "safe fleet-wide" claim — and the knob
      // (setMinReduction 0) must prove the guard is what bailed.
      import graft.plan.EagerAggregation
      val tmp = java.nio.file.Files.createTempDirectory("eageragg").toString
      try {
        spark.range(0, 100000000L).select(
            (col("id") % 500000L).as("kr"), col("id").as("ku"),
            (col("id") % 997).as("m"))
          .write.mode("overwrite").parquet(s"$tmp/fact")
        val fact = graft.sources.Pq.read(spark, s"$tmp/fact")
        val dim = spark.range(0, 5000000L).select(
          col("id").as("dk"), (col("id") % 20).cast("string").as("g"))
        def q(key: String) = fact.join(dim, col(key) === col("dk"))
          .groupBy("g").agg(count(lit(1)).as("n"), sum("m").as("s"),
            min("m").as("mn"), max("m").as("mx"))
        val tA = System.nanoTime()
        val ks = EagerAggregation.analyzeKeys(fact, Seq("kr", "ku"))
        val analyzeWall = (System.nanoTime() - tA) / 1e9
        val estOk = ks.rows == 100000000L &&
          math.abs(ks.distinctByCol("kr") - 500000L) < 50000L &&
          ks.distinctByCol("ku") > 50000000L
        val t0 = System.nanoTime()
        val direct = q("kr").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4))).toSet
        val directWall = (System.nanoTime() - t0) / 1e9
        EagerAggregation.enable(spark)
        try {
          val pushed = EagerAggregation.partialAggBelowJoin(q("kr"))
          val t1 = System.nanoTime()
          val eager = q("kr").collect()
            .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
              r.getLong(3), r.getLong(4))).toSet
          val eagerWall = (System.nanoTime() - t1) / 1e9
          // near-unique: the guard must bail while the rule stays ON;
          // dropping the threshold must re-expose the unguarded push
          val bailed = !EagerAggregation.partialAggBelowJoin(q("ku"))
          EagerAggregation.setMinReduction(0)
          val unguarded = EagerAggregation.partialAggBelowJoin(q("ku"))
          EagerAggregation.setMinReduction(4.0)
          (estOk && pushed && bailed && unguarded &&
            eager == direct && eager.size == 20 && eagerWall < directWall,
            f"direct=$directWall%.1fs eager=$eagerWall%.1fs pushed=$pushed " +
              f"nearunique_bailed=$bailed unguarded_pushes=$unguarded " +
              f"analyze=$analyzeWall%.1fs est(kr)=${ks.distinctByCol("kr")} " +
              f"est(ku)=${ks.distinctByCol("ku")} groups=${eager.size}")
        } finally {
          EagerAggregation.disable(spark)
          EagerAggregation.setMinReduction(4.0)
        }
      } finally {
        graft.plan.EagerAggregation.clearKeyStats()
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      }
    })

    if (enabled("packseq")) scenario("pack-sequences-20m",
        "distributed scan (range partition + two-pass offsets) at 20M docs", {
      // 20M docs, token counts 1 + (id % 4) — 50M tokens into 2048-token
      // sequences. Exact global invariants, no per-row reference needed:
      // span lengths conserve the token total; every sequence except the
      // last is exactly full; every doc appears; spill rows (docs crossing
      // a boundary) chain via tok_off > 0.
      val n = 20000000L
      val L = 2048L
      val docs = spark.range(0, n).select(col("id"),
        (lit(1L) + col("id") % 4).as("w"))
      val total = n + Seq(0L, 1L, 2L, 3L).map(r => (n / 4) * r).sum // 50M exactly
      val spans = graft.curate.Curate.packSequences(docs, "id", "w", L)
      val agg = spans.agg(
        sum("span_len").as("tok"), countDistinct("id").as("docs"),
        max("seq_id").as("maxSeq"),
        sum(when(col("tok_off") > 0, 1L).otherwise(0L)).as("spills")).collect()(0)
      val fullSeqs = spans.groupBy("seq_id").agg(sum("span_len").as("t"))
        .filter(col("t") === L).count()
      val lastSeq = (total - 1) / L
      // 50M % 2048 = 128, so the last sequence is partial and the full
      // count is EXACTLY lastSeq
      (agg.getLong(0) == total && agg.getLong(1) == n &&
        agg.getLong(2) == lastSeq && fullSeqs == lastSeq &&
        agg.getLong(3) > 0,
        f"tokens=${agg.getLong(0)} docs=${agg.getLong(1)} " +
          f"seqs=${lastSeq + 1} full=$fullSeqs spills=${agg.getLong(3)}")
    })

    if (enabled("bpe")) scenario("bpe-4.8m-vocab",
        "distributed vocab-frame merge iterations (vocab > driver bound)", {
      // 9^7 = 4,782,969 distinct words "xy" + 7 base-9 digits (leading
      // zeros kept, so every digit position is UNIFORM over 0..8), one
      // word per doc. Closed-form pair counts:
      //   (x,y)            = 9^7 = 4,782,969   (every word, once)
      //   (y,d1) per digit = 9^6 = 531,441     (9-way TIE at merge 2)
      //   any digit pair   = 6 positions x 9^5 = 354,294  (< 531,441)
      // So merge 1 must be (x,y, 4782969) and merge 2 the TIE broken
      // lexicographically: (xy, "0", 531441) — the at-scale determinism
      // check. Vocab 4.78M > driverMaxVocab 4M selects the distributed
      // regime with no threshold override.
      val words = spark.range(0, 4782969L).select(concat(lit("xy"),
        expr((6 to 0 by -1).map(j =>
          s"CAST(id div ${math.pow(9, j).toLong} % 9 AS STRING)")
          .mkString("concat(", ", ", ")"))).as("text"))
      val m = graft.curate.Bpe.learnMerges(words, "text", 2)
        .collect().map(r =>
          (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      val expect = Seq((1, "x", "y", 4782969L), (2, "xy", "0", 531441L))
      (m == expect, s"merges=$m (expect $expect)")
    })

    if (enabled("bpeseg")) scenario("bpe-segment-30k",
        "native BpeSegmentExpr under a production-depth merge table", {
      // 200k distinct 8-char words over a 5-letter alphabet (base-5
      // digits of the id, leading zeros kept), freq 1 + id%7. A merge
      // completing word w is unique to w ((l,r) -> l+r = w), so full
      // collapse needs >= 200k distinct merges — 30,000 learned merges
      // provably exist. The replace-chain formulation is structurally
      // impossible here (a 30k-deep expression tree); this drives the
      // ADVICE-r7 production path end-to-end: train 30k merges
      // (incremental driver regime), segment the whole vocabulary with
      // the native kernel, and verify with exact checks:
      //  1. exactly 30,000 merges learned;
      //  2. concat(symbols) == word for all 200k words;
      //  3. every emitted symbol is legal (a base char or lhs+rhs of a
      //     learned merge) — broadcast anti-join;
      //  4. an independent driver-side DEFINITIONAL replay (fold all 30k
      //     ranks in order) matches the kernel bit-for-bit on the
      //     id%97==0 sample (~2k words);
      //  5. tokenAccounting under the same table reproduces the summed
      //     symbol counts (the q155 shape at production depth).
      val n = 200000L
      val digits = expr((7 to 0 by -1).map(j =>
        s"char(ascii('a') + CAST(id div ${math.pow(5, j).toLong} % 5 AS INT))")
        .mkString("concat(", ", ", ")"))
      val vocab = spark.range(0, n).select(
        col("id"), digits.as("word"), (lit(1L) + col("id") % 7).as("freq"))
        .localCheckpoint(true)
      val t0 = System.nanoTime()
      val mergesDf = graft.curate.Bpe.learnMergesFromCounts(vocab, 30000)
      val merges = mergesDf.collect().map(r => (r.getString(1), r.getString(2))).toSeq
      val trainSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val segged = vocab.select(col("id"), col("word"), col("freq"),
          graft.curate.Bpe.segments(col("word"), merges).as("segs"))
        .localCheckpoint(true) // consumed by checks 2, 3, 5
      val segSec = (System.nanoTime() - t1) / 1e9
      val badConcat = segged
        .filter(concat_ws("", col("segs")) =!= col("word")).count()
      val legal = spark.createDataset(
        ('a' to 'e').map(_.toString) ++ merges.map(m => m._1 + m._2))(
        org.apache.spark.sql.Encoders.STRING).toDF("sym")
      val badSym = segged.select(explode(col("segs")).as("sym"))
        .join(broadcast(legal), Seq("sym"), "left_anti").count()
      // independent definitional replay on the deterministic sample
      val sample = segged.filter(col("id") % 97 === 0)
        .select("word", "segs").collect()
      def replay(w: String): Seq[String] = {
        var syms: Array[String] = w.map(_.toString).toArray
        merges.foreach { case (l, r) =>
          if (syms.length >= 2) {
            val nb = scala.collection.mutable.ArrayBuffer(syms(0))
            var i = 1
            while (i < syms.length) {
              if (nb.last == l && syms(i) == r) nb(nb.length - 1) = l + r
              else nb += syms(i)
              i += 1
            }
            syms = nb.toArray
          }
        }
        syms.toSeq
      }
      val badReplay = sample.count(r => r.getSeq[String](1) != replay(r.getString(0)))
      // q155's shape at depth: accounting over the vocab as a corpus
      val acct = graft.curate.Bpe.tokenAccounting(
        vocab.select(lit("all").as("src"), col("word").as("text")),
        "src", "text", merges).collect()(0)
      val totalSyms = segged.select(sum(size(col("segs"))).as("s")).collect()(0).getLong(0)
      (merges.length == 30000 && badConcat == 0L && badSym == 0L &&
        badReplay == 0 && sample.length > 1000 &&
        acct.getLong(1) == totalSyms && acct.getLong(2) == n,
        f"merges=${merges.length} train=$trainSec%.1fs segment=$segSec%.1fs " +
          s"bad_concat=$badConcat bad_symbol=$badSym " +
          s"replay_sample=${sample.length} replay_mismatch=$badReplay " +
          s"acct=(${acct.getLong(1)},${acct.getLong(2)}) total_syms=$totalSyms")
    })

    if (enabled("dsir")) scenario("dsir-20m-score",
        "histogram fit + broadcast-weight scoring over 20M docs", {
      // target: 1M docs "alpha beta", raw: 20M docs "alpha gamma" —
      // feature instances (uni+bi) are CLOSED-FORM: target has alpha,
      // beta, "alpha beta" ×1M each; raw has alpha, gamma,
      // "alpha gamma" ×20M each. Every raw doc is identical, so every
      // imp_micro must equal the same exact integer, computed here with
      // the SAME formula and the SAME JVM Math.log the engine uses —
      // equality is exact, not approximate. Bucket collisions (md5 mod
      // 4096) are handled honestly by grouping features by their actual
      // bucket before applying the formula.
      import graft.curate.Dsir
      val nT = 1000000L; val nR = 20000000L; val B = 4096
      val target = spark.range(nT).select(col("id"), lit("alpha beta").as("text"))
      val raw = spark.range(nR).select(col("id"), lit("alpha gamma").as("text"))
      val w = Dsir.fitWeights(target, raw, "text", buckets = B)
      val scored = Dsir.scoreDocs(raw, "id", "text", w)
      def bucket(g: String): Long = {
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString
        (BigInt("0" + md5.take(15), 16) % B).toLong
      }
      // exact expected weights: counts per BUCKET (features may collide)
      val tFeats = Map("alpha" -> nT, "beta" -> nT, "alpha beta" -> nT)
      val rFeats = Map("alpha" -> nR, "gamma" -> nR, "alpha gamma" -> nR)
      def byBucket(m: Map[String, Long]) =
        m.groupBy { case (g, _) => bucket(g) }.view.mapValues(_.values.sum).toMap
      val tB = byBucket(tFeats); val rB = byBucket(rFeats)
      val totT = 3L * nT; val totR = 3L * nR
      def lw(b: Long): Long = math.floor(
        (math.log((tB.getOrElse(b, 0L) + 0.5) / (totT + B / 2.0)) -
         math.log((rB.getOrElse(b, 0L) + 0.5) / (totR + B / 2.0))) * 1e6 + 0.5).toLong
      val expImp = Seq("alpha", "gamma", "alpha gamma").map(g => lw(bucket(g))).sum
      val agg = scored.agg(count(lit(1)).as("n"),
        min("imp_micro").as("lo"), max("imp_micro").as("hi")).collect()(0)
      (agg.getLong(0) == nR && agg.getLong(1) == expImp && agg.getLong(2) == expImp,
        s"docs=${agg.getLong(0)} imp=[${agg.getLong(1)},${agg.getLong(2)}] " +
          s"(expect $nR docs all at $expImp)")
    })

    if (enabled("merge")) scenario("merge-clusters-2m",
        "delta-sized contracted CC over stored labels", {
      // stored labels for a 2M-doc corpus in 40k clusters of 50
      // (root = floor(id/50)*50 — a valid duplicateClusters output by
      // construction); the delta bridges cluster 2c with 2c+1 via one
      // member pair each. mergeClusters must relabel the WHOLE corpus to
      // root = floor(id/100)*100 while running CC only on the 20k-edge
      // contracted graph — maintenance cost independent of corpus size.
      val stored = spark.range(0, 2000000).select(col("id"),
        (col("id") - col("id") % 50).as("cluster_id"))
      val delta = spark.range(0, 20000).select(
        (col("id") * 100 + 7).as("id_a"),          // member of cluster 2c
        (col("id") * 100 + 63).as("id_b"))         // member of cluster 2c+1
      val merged = Dedup.mergeClusters(stored, delta)
      val agg = merged.agg(count(lit(1)).as("rows"),
        sum(when(col("cluster_id") === col("id") - col("id") % 100, 1L)
          .otherwise(0L)).as("correct")).collect()(0)
      (agg.getLong(0) == 2000000L && agg.getLong(1) == 2000000L,
        s"rows=${agg.getLong(0)} correct=${agg.getLong(1)} (expect 2000000 both)")
    })

    if (enabled("phrase")) scenario("phrase-1m-docs",
        "positional index, term-pruned joins", {
      // 1M docs × 20 globally-unique filler words; docs with id % 1000 == 0
      // get the phrase "pa pb pc" appended once, and those with
      // id % 2000 == 0 twice (back-to-back: distinct words, so the two
      // plants are the only starts). Expected result is exact by
      // construction: 1000 matching docs, total occurrences 1500.
      val filler = concat_ws(" ", transform(sequence(lit(0), lit(19)),
        j => concat(lit("w"), col("id") * 20 + j)))
      val docs = spark.range(0, 1000000).select(col("id").as("doc_id"),
        concat(filler,
          when(col("id") % 2000 === 0, lit(" pa pb pc pa pb pc"))
            .when(col("id") % 1000 === 0, lit(" pa pb pc"))
            .otherwise(lit(""))).as("text"))
      val hits = graft.curate.Phrase.phraseSearch(docs, "doc_id", "text",
        Seq(Seq("pa", "pb", "pc")))
      val agg = hits.agg(count(lit(1)).as("docs"),
        sum(col("n_occurrences")).as("occ")).collect()(0)
      (agg.getLong(0) == 1000 && agg.getLong(1) == 1500,
        s"docs=${agg.getLong(0)} (expect 1000) occ=${agg.getLong(1)} (expect 1500)")
    })

    if (enabled("ivf")) scenario("ivf-stored-index-10x",
        "IVF cells + broadcast queries", {
      import graft.ann.Ivf
      val dim = 64
      val vecs = spark.range(0, 500000).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          c => ((col("id") * 1315423911L + c * 2654435761L) % 997).cast("double") / 997.0)
          .as("embedding"))
      val tFit0 = System.nanoTime()
      val model = Ivf.fit(vecs, "vec_id", "embedding", numCells = 707, iterations = 3)
      val index = Ivf.assign(vecs, "embedding", model)
        .select(col("vec_id").as("nid"), col("embedding").as("nvec"), col("cell"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nIndexed = index.count()
      val fitSec = (System.nanoTime() - tFit0) / 1e9
      val queries = vecs.filter(col("vec_id") % 5000 === 0)
      val topk = Ivf.topKAgainstIndex(index, queries, model, "vec_id", "embedding",
        k = 10, nProbes = 3)
      val rows = topk.count()
      index.unpersist()
      (nIndexed == 500000 && rows == 100L * 10 && model.numCells == 707,
        f"indexed=$nIndexed cells=${model.numCells} build=$fitSec%.1fs topk_rows=$rows")
    })

    if (enabled("anomaly")) scenario("anomaly-p99-20m",
        "exact percentile thresholds, 10 groups x 2M", {
      // cents = id % 1e6 over 20M ids: group g = cents % 10 holds the
      // 100k values ≡ g (mod 10), each exactly 20 times ⇒ closed-form
      // type-7 p99: k = 1979999, r = 1, x_k = g+989990, x_k1 = g+990000,
      // t_num = 100g + 98999010; above: 1000 values × 20 = 20000 rows.
      val df = spark.range(0, 20000000).select(
        (col("id") % 10).cast("int").as("g"),
        ((col("id") % 1000000).cast("double") / 100.0).as("v"))
      val got = graft.stats.Anomaly.thresholdCounts(df, "g", "v", 99, 100)
        .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val ok = (0 until 10).forall(g =>
        got(g) == ((2000000L, 100L * g + 98999010L, 20000L)))
      (ok && got.size == 10, s"groups=${got.size} g0=${got(0)} (expect (2000000,98999010,20000))")
    })

    if (enabled("mmr")) scenario("mmr-500k-pool200",
        "corpus pass + heap pool + bounded greedy", {
      import graft.ann.Mmr
      val dim = 64
      val vecs = spark.range(0, 500000).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          c => ((col("id") * 1315423911L + c * 2654435761L) % 997).cast("double") / 997.0)
          .as("embedding"))
      val qv = Array.tabulate(dim)(c => ((c * 2654435761L) % 997).toDouble / 997.0)
      val a = Mmr.diverseTopK(vecs, "vec_id", "embedding", qv, candidates = 200, k = 16)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
      // determinism across partitionings — the whole point of the
      // quantized-integer greedy
      val b = Mmr.diverseTopK(vecs.repartition(111), "vec_id", "embedding", qv,
        candidates = 200, k = 16)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
      val maxRel = a.map(_._3).max
      (a == b && a.size == 16 && a.map(_._2).distinct.size == 16 &&
        a.head._3 == maxRel && a.head._2 == 0L, // id 0 IS the query vector: rel4 = 10000
        s"k=${a.size} first=${a.head} stable=${a == b}")
    })

    if (enabled("resample")) scenario("resample-20m-spine",
        "global grid x 200k entities, one as-of shuffle", {
      // each user: events at buckets u%40 (value u%100) and 60+u%40
      // (value u%100+1); grid = 0..99 ⇒ spine 200k × 100 = 20M rows.
      // Closed forms: nulls = Σ (u%40) = 5000*Σ0..39 = 3.9M; at bucket 99
      // every user shows value u%100+1 ⇒ sum = 200000*(49.5+1) = 10.1M.
      val S = 3600000000L
      val users = spark.range(0, 200000)
      val ev = users.select(col("id").as("u"), ((col("id") % 40) * S).as("tsu"),
          (col("id") % 100).cast("double").as("v"))
        .unionByName(users.select(col("id").as("u"),
          ((col("id") % 40 + 60) * S).as("tsu"),
          (col("id") % 100 + 1).cast("double").as("v")))
      val res = graft.operators.Temporal.resampleForwardFill(ev, "u", "tsu", "v", S)
      val agg = res.agg(count(lit(1)).as("rows"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("nulls"),
        sum(when(col("bucket") === 99, col("v"))).as("tail_sum")).collect()(0)
      (agg.getLong(0) == 20000000L && agg.getLong(1) == 3900000L &&
        agg.getDouble(2) == 10100000.0,
        s"rows=${agg.getLong(0)} nulls=${agg.getLong(1)} tail=${agg.getDouble(2)} " +
          "(expect 20000000/3900000/10100000.0)")
    })

    if (enabled("cdc")) scenario("cdc-20m-apply",
        "reduce-then-join: base never windowed", {
      // base 20M (val = id % 1000); every 20th key gets two sequenced
      // updates (last wins: +2), every 40th a seq-3 delete overriding
      // them. Closed forms: rows = 20M − 500k; Σval = 9,990,000,000
      // − 240,000,000 (deleted: Σ (40k % 1000) = 12000 per 25 ks)
      // + 1,000,000 (the +2 on the 500k surviving updated keys).
      val base = spark.range(0, 20000000).select(col("id"),
        (col("id") % 1000).as("v"))
      val upd = base.filter(col("id") % 20 === 0)
      val changes = upd.select(col("id"), (col("v") + 1).as("v"),
          lit("U").as("op"), lit(1L).as("seq"))
        .unionByName(upd.select(col("id"), (col("v") + 2).as("v"),
          lit("U").as("op"), lit(2L).as("seq")))
        .unionByName(base.filter(col("id") % 40 === 0)
          .select(col("id"), col("v"), lit("D").as("op"), lit(3L).as("seq")))
      val next = graft.operators.Cdc.applyChanges(base, changes, Seq("id"), "op", "seq")
      val agg = next.agg(count(lit(1)).as("rows"), sum(col("v")).as("s")).collect()(0)
      (agg.getLong(0) == 19500000L && agg.getLong(1) == 9751000000L,
        s"rows=${agg.getLong(0)} sum=${agg.getLong(1)} (expect 19500000 / 9751000000)")
    })

    if (enabled("bloomjoin")) scenario("bloomjoin-50m",
        "runtime filter: probe at the scan, exact join on survivors", {
      // 50M-row fact side, 100k-key dim (every 500th id ⇒ 0.2% match):
      // the result must be EXACTLY the 100k matching rows (bloom false
      // positives die in the exact join), with the construction-exact
      // key sum Σ 500k for k = 0..99999.
      val big = spark.range(0, 50000000).select(col("id").as("k"))
      val small = spark.range(0, 100000).select((col("id") * 500).as("pk"))
      val got = graft.operators.BloomJoin.semiJoin(big, "k", small, "pk")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("s")).collect()(0)
      val expectSum = 500L * (99999L * 100000L / 2L)
      (got.getLong(0) == 100000L && got.getLong(1) == expectSum,
        s"rows=${got.getLong(0)} sum=${got.getLong(1)} (expect 100000 / $expectSum)")
    })

    if (enabled("hierarchy")) scenario("hierarchy-2m-deep",
        "iterative level-walk, 8 levels", {
      // parent = id div 10 over 2M nodes: depth(n) = #digits(n)-ish —
      // closed form: depth 0 = {0}, depth d = ids in [10^(d-1), 10^d)
      // clipped to 2M, so counts are 1, 9, 90, ..., 900000, 1000000 and
      // max depth = 7. Every node roots at 0.
      val nodes = spark.range(0, 2000000).select(col("id"))
      val edges = nodes.select(col("id").as("child"),
        expr("id div 10").as("parent"))
      val flat = graft.graph.Hierarchy.flattenToRoot(nodes, "id",
        edges, "child", "parent", maxDepth = 10)
      val byDepth = flat.groupBy(col("depth")).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val expected = Map(0 -> 1L, 1 -> 9L, 2 -> 90L, 3 -> 900L, 4 -> 9000L,
        5 -> 90000L, 6 -> 900000L, 7 -> 1000000L)
      val roots = flat.filter(col("root") =!= 0).count()
      (byDepth == expected && roots == 0,
        s"depth-counts=${byDepth.toSeq.sorted} roots!=0: $roots (expect the digit-count distribution, 0)")
    })

    if (enabled("triangles")) scenario("triangles-hub-1m",
        "compact-forward intersect: 1M-degree hub never fans out", {
      // star: hub 0 — spokes 1..1M (hub degree 1M), plus ring edges
      // (i, i+1) for i in 1..50000 planting exactly 50k triangles
      // (0, i, i+1). Degree ordering sends every spoke edge TOWARD the
      // hub, so N⁺(hub) = ∅ and the celebrity contributes zero
      // intersection work — the bound the scaladoc claims.
      val spokes = spark.range(1, 1000001L)
        .select(col("id").as("s"), lit(0L).as("d"))
      val ring = spark.range(1, 50001L)
        .select(col("id").as("s"), (col("id") + 1).as("d"))
      val tri = graft.graph.Graph
        .triangleCounts(spokes.unionByName(ring), "s", "d")
      val hubN = tri.filter(col("node") === 0).collect()(0).getLong(1)
      val agg = tri.agg(sum(col("n_triangles")), max(col("n_triangles")),
        count(lit(1))).collect()(0)
      // Σ per-node counts = 3 × 50000; interior ring nodes sit in 2
      (hubN == 50000L && agg.getLong(0) == 150000L && agg.getLong(1) == 50000L &&
        agg.getLong(2) == 1000001L,
        s"hub=$hubN sum=${agg.getLong(0)} max=${agg.getLong(1)} nodes=${agg.getLong(2)}")
    })

    if (enabled("skewaqe")) scenario("skew-aqe-vs-salt-20m",
        "AQE runtime skew split vs manual salting on 5 hot keys", {
      // 5 hot keys × 2M rows (each lands in ONE shuffle partition,
      // ~15× the median) + a uniform 10M-row tail over 100k keys. The
      // dim side is too big to broadcast here by conf, forcing the
      // shuffled join AQE must repair at runtime.
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "32")
      ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      ss.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      ss.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4m")
      ss.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
      // bounded-hash payload, CONSUMED by the aggregate: realistic
      // incompressible fact bytes. With a bare key column (or a pruned
      // payload) the hot partitions RLE-compress to almost nothing in
      // the shuffle and never cross the skew threshold — the first
      // version of this scenario failed exactly that way.
      val pay = pmod(xxhash64(col("id")), lit(1000000L)).as("pay")
      val hot = ss.range(0, 10000000L).select((col("id") % 5).as("key"), pay)
      val tail = ss.range(0, 10000000L)
        .select((lit(5L) + col("id") % 100000L).as("key"), pay)
      val fact = hot.unionByName(tail)
      // pay depends only on id and both slices draw ids 0..10M, so the
      // expected join-wide pay sum is twice one narrow no-shuffle pass
      val expectPay = 2L * ss.range(0, 10000000L).agg(sum(pay)).collect()(0).getLong(0)
      val dim = ss.range(0, 100005L).select(col("id").as("key"), col("id").as("w"))
      // Σw over the join: hot 2M·(0+1+2+3+4) + tail 100·Σ_{5..100004} k
      val expectSum = 2000000L * 10L + 100L * ((5L + 100004L) * 100000L / 2L)
      val t1 = System.nanoTime()
      val aggDf = fact.join(dim, Seq("key"))
        .agg(sum(col("w")), count(lit(1)), sum(col("pay")))
      val r1 = aggDf.collect()(0)
      val aqeWall = (System.nanoTime() - t1) / 1e9
      // the FINAL adaptive plan of the query that actually ran — a
      // pre-execution .queryExecution still shows isFinalPlan=false with
      // no runtime skew handling in it
      val plan = aggDf.queryExecution.executedPlan.toString
      val skewSplit = plan.contains("skew=true")
      val t2 = System.nanoTime()
      val r2 = graft.frame.Skew.saltedJoin(fact, dim, "key", salt = 32)
        .agg(sum(col("w")), count(lit(1)), sum(col("pay"))).collect()(0)
      val saltWall = (System.nanoTime() - t2) / 1e9
      val ok = r1.getLong(0) == expectSum && r1.getLong(1) == 20000000L &&
        r1.getLong(2) == expectPay &&
        r2.getLong(0) == expectSum && r2.getLong(1) == 20000000L &&
        r2.getLong(2) == expectPay && skewSplit
      (ok, f"aqe=$aqeWall%.1fs(skew-split=$skewSplit) salted=$saltWall%.1fs " +
        s"sum=${r1.getLong(0)} (expect $expectSum)")
    })

    if (enabled("prune")) scenario("prune-64-files",
        "manifest skip on a range layout", {
      val dir = java.nio.file.Files.createTempDirectory("graft_prune_big").toString
      spark.range(0, 20000000).select(col("id").as("k"))
        .repartitionByRange(64, col("k")).sortWithinPartitions("k")
        .write.mode("overwrite").parquet(dir)
      val manifest = graft.layout.Layout.fileStats(spark, dir, Seq("k"))
      val (pruned, kept, total) =
        graft.layout.Layout.prunedScan(spark, dir, manifest, "k", 5000000L, 7499999L)
      val s1 = pruned.agg(sum(col("k"))).collect()(0).getLong(0)
      // Σ k for k in [5e6, 7.5e6): 2.5e6 terms, closed form
      val expect = (5000000L + 7499999L) * 2500000L / 2L
      val okSkip = kept <= total / 2 && kept >= 1
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      (s1 == expect && okSkip && total == 64,
        s"sum=$s1 (expect $expect) kept=$kept/$total")
    })

    // VERDICT r10 #8: maintenance RACING a pinned long-reader across all
    // FOUR VersionedPool tiers (summaries joined in r13: no
    // delete/compact there, so their block runs init → refresh* →
    // vacuum) — reader pins v_N, then appends, deletes,
    // a compact and vacuum(keepLast=2) land; the pinned serve must stay
    // bit-identical, the head serve must be vacuum-invisible, vacuum must
    // actually reclaim versions AND batches while leaving ZERO orphans;
    // unpin + re-vacuum then reclaims the reader's version too.
    if (enabled("poolvacuum")) scenario("pool-pinned-vacuum",
        "pinned reader vs append/delete/compact/vacuum, 4 tiers", {
      import graft.sources.{Snapshots, VersionedPool}
      def docsOf(lo: Long, hi: Long): DataFrame =
        spark.range(lo, hi).select(col("id").as("doc_id"),
          concat_ws(" ", transform(sequence(lit(0), lit(20)),
            t => concat(lit("w"), pmod(col("id") * 7 + t, lit(5000))))).as("text"))
      def vecsOf(lo: Long, hi: Long): DataFrame =
        spark.range(lo, hi).select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(7)), t =>
            (pmod(col("id") * 31 + t * 17, lit(1000)).cast("double") / lit(1000.0))
              .cast("float")).as("vec"))
      val bmQueries = spark.range(0, 10).select(col("id").as("qid"),
        concat(lit("w"), pmod(col("id") * 13, lit(5000)),
          lit(" w"), pmod(col("id") * 13 + 1, lit(5000))).as("qtext"))
      val ivfQueries = spark.range(0, 10).select(col("id").as("qid"),
        transform(sequence(lit(0), lit(7)), t =>
          (pmod(col("id") * 97 + t * 13, lit(1000)).cast("double") / lit(1000.0))
            .cast("float")).as("qvec"))
      val phrases = Seq(Seq("w100", "w101"), Seq("w2000", "w2001"))

      /** One tier's full lifecycle; returns (ok, info). */
      def lifecycle(tag: String, root: String,
                    init: () => Int,
                    append: ((Long, Long)) => Int,
                    delete: org.apache.spark.sql.DataFrame => Int,
                    compact: () => Int,
                    serve: Option[Int] => Seq[String]): (Boolean, String) = {
        val meta = VersionedPool.metaDir(root)
        def poolBatches(): Set[String] = {
          val p = new org.apache.hadoop.fs.Path(s"$root/pool")
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (!fs.exists(p)) Set.empty
          else fs.listStatus(p).map(_.getPath.getName).toSet
        }
        def referenced(): Set[String] =
          Snapshots.versions(spark, meta).flatMap(v =>
            Snapshots.readVersion(spark, meta, v).filter(col("kind") === "batch")
              .select("key").collect().map(_.getString(0))).toSet
        init()                                  // v1 (b1)
        append((100000L, 120000L))              // v2 (b2)
        append((120000L, 140000L))              // v3 (b3)
        val vPin = VersionedPool.currentVersion(spark, root)
        Snapshots.pin(spark, meta, vPin, "reader")
        val pinnedBefore = serve(Some(vPin))
        append((140000L, 160000L))              // v4 (b4)
        delete(spark.range(0, 100000, 37).toDF("id"))   // v5
        append((160000L, 180000L))              // v6 (b5)
        compact()                               // v7 (b6 = fold)
        append((180000L, 200000L))              // v8 (b7)
        delete(spark.range(1, 100000, 53).toDF("id"))   // v9
        append((200000L, 220000L))              // v10 (b8)
        val headBefore = serve(None)
        val (dv1, db1) = VersionedPool.vacuum(spark, root, keepLast = 2)
        val orphans1 = (poolBatches() -- referenced()).size
        val pinnedAfter = serve(Some(vPin))
        val headAfter = serve(None)
        val keptPin = Snapshots.versions(spark, meta).contains(vPin)
        Snapshots.unpin(spark, meta, "reader")
        val (dv2, db2) = VersionedPool.vacuum(spark, root, keepLast = 2)
        val orphans2 = (poolBatches() -- referenced()).size
        val headFinal = serve(None)
        val pinGone = !Snapshots.versions(spark, meta).contains(vPin)
        val ok = pinnedBefore.nonEmpty && headBefore.nonEmpty &&
          pinnedAfter == pinnedBefore && headAfter == headBefore &&
          headFinal == headBefore && keptPin && pinGone &&
          dv1.nonEmpty && db1.nonEmpty && dv2.contains(vPin) && db2.nonEmpty &&
          orphans1 == 0 && orphans2 == 0
        (ok, s"$tag{pin=v$vPin dropped=v${dv1.size}+${dv2.size} " +
          s"batches=${db1.size}+${db2.size} orphans=$orphans1/$orphans2 " +
          s"pinStable=${pinnedAfter == pinnedBefore} " +
          s"headStable=${headAfter == headBefore && headFinal == headBefore} " +
          s"pinDiffersFromHead=${pinnedBefore != headBefore}}")
      }

      val tmp = java.nio.file.Files.createTempDirectory("rehearse_poolvac").toString
      try {
        import graft.curate.{Bm25, Bm25Versioned, PhraseVersioned}
        import graft.ann.IvfVersioned
        val bm = lifecycle("bm25", s"$tmp/bm25",
          () => Bm25Versioned.init(spark, s"$tmp/bm25", docsOf(0, 100000), "doc_id", "text"),
          r => Bm25Versioned.append(spark, s"$tmp/bm25", docsOf(r._1, r._2), "doc_id", "text"),
          ids => Bm25Versioned.delete(spark, s"$tmp/bm25", ids, "id"),
          () => Bm25Versioned.compact(spark, s"$tmp/bm25"),
          v => Bm25.topKAgainstIncIndex(Bm25Versioned.load(spark, s"$tmp/bm25", v),
              bmQueries, "qid", "qtext", k = 5)
            .collect().map(_.mkString("|")).sorted.toSeq)
        val ivf = lifecycle("ivf", s"$tmp/ivf",
          () => IvfVersioned.init(spark, s"$tmp/ivf", vecsOf(0, 100000), "vec_id", "vec", numCells = 16),
          r => IvfVersioned.append(spark, s"$tmp/ivf", vecsOf(r._1, r._2), "vec_id", "vec"),
          ids => IvfVersioned.delete(spark, s"$tmp/ivf", ids, "id"),
          () => IvfVersioned.compact(spark, s"$tmp/ivf"),
          v => IvfVersioned.topK(spark, s"$tmp/ivf", ivfQueries, "qid", "qvec",
              k = 5, nProbes = 3, version = v)
            .collect().map(_.mkString("|")).sorted.toSeq)
        val ph = lifecycle("phrase", s"$tmp/phrase",
          () => PhraseVersioned.init(spark, s"$tmp/phrase", docsOf(0, 100000), "doc_id", "text"),
          r => PhraseVersioned.append(spark, s"$tmp/phrase", docsOf(r._1, r._2), "doc_id", "text"),
          ids => PhraseVersioned.delete(spark, s"$tmp/phrase", ids, "id"),
          () => PhraseVersioned.compact(spark, s"$tmp/phrase"),
          v => PhraseVersioned.hits(spark, s"$tmp/phrase", phrases, v)
            .collect().map(_.mkString("|")).sorted.toSeq)
        // the FOURTH tier (RollupVersioned, VERDICT r12 #6) has no
        // delete/compact — its lifecycle is init → refreshAppended* →
        // vacuum: the pinned version's summary must stay bit-identical
        // while refreshes publish and vacuum reclaims, then unpin +
        // re-vacuum reclaims it too, zero orphans throughout.
        val vs = {
          import graft.plan.RollupVersioned
          val root = s"$tmp/vsum"
          val meta = VersionedPool.metaDir(root)
          def rows(lo: Long, hi: Long) = spark.range(lo, hi)
            .select((col("id") % 50).cast("string").as("k"),
              (col("id") % 997).as("m"))
          def poolBatches(): Set[String] = {
            val p = new org.apache.hadoop.fs.Path(s"$root/pool")
            val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            if (!fs.exists(p)) Set.empty
            else fs.listStatus(p).map(_.getPath.getName).toSet
          }
          def referenced(): Set[String] =
            Snapshots.versions(spark, meta).flatMap(v =>
              Snapshots.readVersion(spark, meta, v)
                .filter(col("kind") === "batch")
                .select("key").collect().map(_.getString(0))).toSet
          def serve(v: Option[Int]): Seq[String] =
            RollupVersioned.summaryOf(spark, root, v)
              .collect().map(_.mkString("|")).sorted.toSeq
          rows(0, 100000).write.mode("overwrite").parquet(s"$tmp/sbase")
          RollupVersioned.init(spark, root,
            graft.sources.Pq.read(spark, s"$tmp/sbase"),
            RollupVersioned.Layout(Seq("k"), Seq("m")))
          def appendRefresh(lo: Long, hi: Long): Int = {
            rows(lo, hi).write.mode("append").parquet(s"$tmp/sbase")
            RollupVersioned.refreshAppended(spark, root,
              graft.sources.Pq.read(spark, s"$tmp/sbase")).get
          }
          val vPin = appendRefresh(100000, 120000)       // v2
          Snapshots.pin(spark, meta, vPin, "reader")
          val pinnedBefore = serve(Some(vPin))
          appendRefresh(120000, 140000)                  // v3
          appendRefresh(140000, 160000)                  // v4
          val headBefore = serve(None)
          val (dv1, db1) = RollupVersioned.vacuum(spark, root, keepLast = 2)
          val orphans1 = (poolBatches() -- referenced()).size
          val pinnedAfter = serve(Some(vPin))
          val headAfter = serve(None)
          val keptPin = Snapshots.versions(spark, meta).contains(vPin)
          Snapshots.unpin(spark, meta, "reader")
          val (dv2, db2) = RollupVersioned.vacuum(spark, root, keepLast = 2)
          val orphans2 = (poolBatches() -- referenced()).size
          val pinGone = !Snapshots.versions(spark, meta).contains(vPin)
          val ok = pinnedBefore.nonEmpty && headBefore.nonEmpty &&
            pinnedAfter == pinnedBefore && headAfter == headBefore &&
            keptPin && pinGone && pinnedBefore != headBefore &&
            dv1.nonEmpty && db1.nonEmpty && dv2.contains(vPin) &&
            db2.nonEmpty && orphans1 == 0 && orphans2 == 0
          (ok, s"vsum{pin=v$vPin dropped=v${dv1.size}+${dv2.size} " +
            s"batches=${db1.size}+${db2.size} orphans=$orphans1/$orphans2 " +
            s"pinStable=${pinnedAfter == pinnedBefore}}")
        }
        (bm._1 && ivf._1 && ph._1 && vs._1,
          s"${bm._2} ${ivf._2} ${ph._2} ${vs._2}")
      } finally
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    })

    spark.stop()
    if (failures > 0) { System.err.println(s"[rehearsal] $failures FAILED"); sys.exit(1) }
  }
}
