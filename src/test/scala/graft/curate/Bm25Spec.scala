package graft.curate

import org.apache.spark.sql.functions.lit

import graft.SparkSpec
import graft.sources.LocalServe

/** Pins [[Bm25]] against the Okapi formula computed by hand, the
  * quantized-score tie-break, and the blank-doc exclusion from corpus
  * statistics. */
class Bm25Spec extends SparkSpec {

  import spark.implicits._

  private val k1 = 1.2
  private val b = 0.75

  private def idf(n: Double, df: Double): Double =
    math.log(1 + (n - df + 0.5) / (df + 0.5))

  private def term(n: Double, df: Double, tf: Double, dl: Double, avgdl: Double): Double =
    idf(n, df) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

  test("scores match the hand-computed Okapi formula; blank docs excluded") {
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "durian durian durian durian"),
      (4L, "   ")). // blank: excluded from N and avgdl
      toDF("doc_id", "text")
    val queries = Seq((100L, "apple banana")).toDF("qid", "qtext")
    val got = Bm25.topK(docs, "doc_id", "text", queries, "qid", "qtext", k = 5)
      .as[(Long, Int, Long, Double)].collect().sortBy(_._2)
    val (n, avgdl) = (3.0, 3.0) // three non-blank docs of lengths 3, 2, 4
    val s1 = term(n, 2, 2, 3, avgdl) + term(n, 1, 1, 3, avgdl)
    val s2 = term(n, 2, 1, 2, avgdl)
    val round4 = (x: Double) => BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.map(r => (r._1, r._2, r._3)).toSeq ==
      Seq((100L, 1, 1L), (100L, 2, 2L)), got.toSeq) // d3 never matches
    assert(got(0)._4 == round4(s1) && got(1)._4 == round4(s2), got.toSeq)
  }

  test("identical docs tie on the quantized score and break by doc id") {
    val docs = Seq((10L, "zz yy"), (11L, "zz yy"), (12L, "ww")).toDF("doc_id", "text")
    val queries = Seq((1L, "zz")).toDF("qid", "qtext")
    val got = Bm25.topK(docs, "doc_id", "text", queries, "qid", "qtext", k = 5)
      .as[(Long, Int, Long, Double)].collect().sortBy(_._2)
    assert(got.map(r => (r._2, r._3)).toSeq == Seq((1, 10L), (2, 11L)), got.toSeq)
    assert(got(0)._4 == got(1)._4)
  }

  test("empty or all-blank corpus yields an empty result, not a crash") {
    val queries = Seq((1L, "anything")).toDF("qid", "qtext")
    val blank = Seq((1L, "   "), (2L, "")).toDF("doc_id", "text")
    assert(Bm25.scores(blank, "doc_id", "text", queries, "qid", "qtext").count() == 0)
    val out = Bm25.topK(blank.limit(0), "doc_id", "text", queries, "qid", "qtext", k = 3)
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("qid", "rank", "doc_id", "score"))
  }

  test("stored index serves identically to the direct path") {
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "durian durian banana durian")).toDF("doc_id", "text")
    val queries = Seq((100L, "apple banana"), (101L, "cherry")).toDF("qid", "qtext")
    val direct = Bm25.topK(docs, "doc_id", "text", queries, "qid", "qtext", k = 3)
      .as[(Long, Int, Long, Double)].collect().toSet
    val tmp = java.nio.file.Files.createTempDirectory("bm25_idx").toString
    try {
      Bm25.buildAndSaveIncIndex(spark, docs, "doc_id", "text", tmp)
      val served = Bm25.topKAgainstIncIndex(
          Bm25.loadIncIndex(spark, tmp), queries, "qid", "qtext", k = 3)
        .as[(Long, Int, Long, Double)].collect().toSet
      // doubles round-trip parquet exactly; quantized ranking pins the rest
      assert(served == direct, s"served=$served direct=$direct")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  test("looped calls leave nothing in the cache manager") {
    spark.catalog.clearCache()
    val docs = Seq((1L, "aa bb"), (2L, "bb cc"), (3L, "cc aa")).toDF("doc_id", "text")
    val queries = Seq((9L, "aa cc")).toDF("qid", "qtext")
    (1 to 3).foreach { _ =>
      assert(Bm25.topK(docs, "doc_id", "text", queries, "qid", "qtext", k = 2)
        .collect().nonEmpty)
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "Bm25 call left persisted frames behind")
  }

  test("incremental index after appends serves EXACTLY the full rebuild") {
    val all = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "durian durian banana durian"),
      (4L, "cherry apple banana"),
      (5L, "banana banana"),
      (6L, "   "), // blank arrives in an APPEND: must not dilute stats
      (7L, "cherry durian apple")).toDF("doc_id", "text")
    val queries = Seq((100L, "apple banana"), (101L, "cherry durian"))
      .toDF("qid", "qtext")
    val direct = Bm25.topK(all, "doc_id", "text", queries, "qid", "qtext", k = 4)
      .as[(Long, Int, Long, Double)].collect().toSet
    val tmp = java.nio.file.Files.createTempDirectory("bm25_inc").toString
    try {
      Bm25.buildAndSaveIncIndex(spark, all.filter($"doc_id" <= 2), "doc_id", "text", tmp)
      Bm25.appendIncIndex(spark, tmp,
        all.filter($"doc_id" > 2 && $"doc_id" <= 5), "doc_id", "text")
      Bm25.appendIncIndex(spark, tmp, all.filter($"doc_id" > 5), "doc_id", "text")
      val served = Bm25.topKAgainstIncIndex(
          Bm25.loadIncIndex(spark, tmp), queries, "qid", "qtext", k = 4)
        .as[(Long, Int, Long, Double)].collect().toSet
      assert(served == direct, s"served=$served direct=$direct")
      // maintenance stats merged exactly: 6 non-blank docs, total dl
      val idx = Bm25.loadIncIndex(spark, tmp)
      assert(idx.nDocs == 6.0 && idx.totalDl == 3 + 2 + 4 + 3 + 2 + 3)
      // an all-blank append is a no-op, not a corruption
      Bm25.appendIncIndex(spark, tmp,
        Seq((8L, "  ")).toDF("doc_id", "text"), "doc_id", "text")
      assert(Bm25.loadIncIndex(spark, tmp).nDocs == 6.0)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  test("append, delete and compact read swap-committed generations without Spark's all-paths-ignored warning") {
    val docs = Seq((1L, "apple banana"), (2L, "cherry apple"), (3L, "durian fig"),
      (4L, "banana cherry")).toDF("doc_id", "text")
    val queries = Seq((100L, "apple cherry")).toDF("qid", "qtext")
    val tmp = java.nio.file.Files.createTempDirectory("bm25_gen").toString
    try {
      val (served, lines) = logged("org.apache.spark.sql.execution.datasources.DataSource") {
        Bm25.buildAndSaveIncIndex(spark, docs.filter($"doc_id" <= 2), "doc_id", "text", tmp)
        Bm25.appendIncIndex(spark, tmp, docs.filter($"doc_id" > 2), "doc_id", "text")
        Bm25.deleteFromIncIndex(spark, tmp, Seq(2L).toDF("doc_id"), "doc_id")
        Bm25.compactIncIndex(spark, tmp)
        Bm25.topKDistributed(Bm25.loadIncIndex(spark, tmp), queries, "qid", "qtext", k = 3)
          .as[(Long, Int, Long, Double)].collect().toSet
      }
      val ignored = lines.filter(_.contains("All paths were ignored"))
      assert(ignored.isEmpty, s"${ignored.size} warnings, first: ${ignored.headOption}")
      val want = Bm25.topK(docs.filter($"doc_id" =!= 2L), "doc_id", "text", queries,
        "qid", "qtext", k = 3).as[(Long, Int, Long, Double)].collect().toSet
      assert(served == want && served.nonEmpty)
      // the generations are hidden-named, as the pointers expect
      assert(new java.io.File(tmp).list().exists(_.startsWith(".gen_")))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  test("a compacted generation grown past the listing threshold by appends still loads and serves with zero Spark jobs") {
    val docs = Seq((1L, "apple banana"), (2L, "cherry apple"), (3L, "durian fig"),
      (4L, "banana cherry"), (5L, "fig grape"), (6L, "grape apple"), (7L, "kiwi banana"),
      (8L, "lime cherry"), (9L, "mango fig"), (10L, "apple lime")).toDF("doc_id", "text")
    val queries = Seq((100L, "apple cherry"), (101L, "fig lime")).toDF("qid", "qtext")
    val tmp = java.nio.file.Files.createTempDirectory("bm25_threshold").toString
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val threshold = 3
    spark.conf.set(key, threshold.toString)
    val group = s"bm25-threshold-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    try {
      Bm25.buildAndSaveIncIndex(spark, docs.filter($"doc_id" <= 2), "doc_id", "text", tmp)
      Bm25.deleteFromIncIndex(spark, tmp, Seq(2L).toDF("doc_id"), "doc_id")
      Bm25.compactIncIndex(spark, tmp)
      val postings = new java.io.File(Bm25.resolveTable(spark, tmp, "postings"))
      assert(postings.getName.startsWith(".gen_"), postings)
      def visible = postings.list().count(n => !n.startsWith(".") && !n.startsWith("_"))
      var next = 3L
      while (visible <= threshold && next <= 10L) {
        Bm25.appendIncIndex(spark, tmp, docs.filter($"doc_id" === next), "doc_id", "text")
        next += 1
      }
      assert(visible > threshold, s"only $visible postings files")
      spark.sparkContext.addSparkListener(listener)
      spark.sparkContext.setJobGroup(group, "local serve")
      val served = try Bm25.topKAgainstIncIndex(Bm25.loadIncIndex(spark, tmp), queries,
          "qid", "qtext", k = 3).as[(Long, Int, Long, Double)].collect().toSet
        finally spark.sparkContext.clearJobGroup()
      Thread.sleep(1000) // the listener bus delivers events asynchronously
      assert(jobs.get == 0, s"loading and serving ran ${jobs.get} Spark jobs")
      val want = Bm25.topK(docs.filter($"doc_id" < next && $"doc_id" =!= 2L), "doc_id", "text",
        queries, "qid", "qtext", k = 3).as[(Long, Int, Long, Double)].collect().toSet
      assert(served == want && served.nonEmpty)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.unset(key)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
  }

  test("inc-index serving broadcasts the query side; appends leave no cache entries") {
    spark.catalog.clearCache()
    val docs = Seq((1L, "aa bb"), (2L, "bb cc"), (3L, "cc aa")).toDF("doc_id", "text")
    val queries = Seq((9L, "aa cc")).toDF("qid", "qtext")
    val tmp = java.nio.file.Files.createTempDirectory("bm25_inc2").toString
    try {
      Bm25.buildAndSaveIncIndex(spark, docs.filter($"doc_id" === 1L), "doc_id", "text", tmp)
      (2L to 3L).foreach { i =>
        Bm25.appendIncIndex(spark, tmp, docs.filter($"doc_id" === i), "doc_id", "text")
      }
      // the distributed regime's plan (a local query side against this
      // small index is otherwise served driver-side, see below)
      val served = Bm25.topKDistributed(Bm25.loadIncIndex(spark, tmp),
        queries, "qid", "qtext", k = 2)
      val plan = served.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"query terms must broadcast onto the postings:\n$plan")
      assert(served.collect().nonEmpty)
      assert(spark.sharedState.cacheManager.isEmpty,
        "incremental index ops left persisted frames behind")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  test("tombstone deletion serves EXACTLY the rebuild on the reduced corpus") {
    val all = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "durian durian banana durian"),
      (4L, "cherry apple banana"),
      (5L, "banana banana"),
      (6L, "cherry durian apple")).toDF("doc_id", "text")
    val queries = Seq((100L, "apple banana"), (101L, "cherry durian"))
      .toDF("qid", "qtext")
    val tmp = java.nio.file.Files.createTempDirectory("bm25_del").toString
    try {
      Bm25.buildAndSaveIncIndex(spark, all, "doc_id", "text", tmp)
      Bm25.deleteFromIncIndex(spark, tmp,
        Seq(2L, 5L, 99L).toDF("doc_id"), "doc_id") // 99 absent: no-op
      val servedDf = Bm25.topKDistributed(Bm25.loadIncIndex(spark, tmp),
        queries, "qid", "qtext", k = 4)
      // serve-time plan: tombstones drop via an equi-key LeftAnti on the
      // candidate-sized frame (hash-joined, never a nested loop), and the
      // query-term broadcast is untouched
      val plan = servedDf.queryExecution.executedPlan.toString
      assert(plan.contains("LeftAnti"), s"tombstone anti-join missing:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"tombstone filter degenerated to a nested loop:\n$plan")
      assert(plan.contains("BroadcastHashJoin"),
        s"query-term broadcast lost:\n$plan")
      val served = servedDf.as[(Long, Int, Long, Double)].collect().toSet
      val rebuilt = Bm25.topK(all.filter(!$"doc_id".isin(2L, 5L)),
          "doc_id", "text", queries, "qid", "qtext", k = 4)
        .as[(Long, Int, Long, Double)].collect().toSet
      assert(served == rebuilt, s"served=$served rebuilt=$rebuilt")
      assert(Bm25.topKAgainstIncIndex(Bm25.loadIncIndex(spark, tmp), queries,
          "qid", "qtext", k = 4).as[(Long, Int, Long, Double)].collect().toSet == rebuilt)
      // the format's contract: postings were never rewritten
      assert(spark.read.parquet(Bm25.resolveTable(spark, tmp, "postings"))
        .select("doc_id").distinct().count() == 6)
      val idx = Bm25.loadIncIndex(spark, tmp)
      assert(idx.nDocs == 4.0 && idx.totalDl == 3 + 4 + 3 + 3)
      assert(idx.tombstones.get.as[Long].collect().toSet == Set(2L, 5L))
      // idempotent: re-deleting tombstoned ids must not double-decrement
      Bm25.deleteFromIncIndex(spark, tmp, Seq(2L, 5L).toDF("doc_id"), "doc_id")
      assert(Bm25.loadIncIndex(spark, tmp).nDocs == 4.0)
      // compaction: the one deliberate rewrite — serving unchanged after
      Bm25.compactIncIndex(spark, tmp)
      assert(Bm25.loadIncIndex(spark, tmp).tombstones.isEmpty)
      assert(spark.read.parquet(Bm25.resolveTable(spark, tmp, "postings"))
        .select("doc_id").distinct().count() == 4)
      val afterCompact = Bm25.topKAgainstIncIndex(Bm25.loadIncIndex(spark, tmp),
          queries, "qid", "qtext", k = 4)
        .as[(Long, Int, Long, Double)].collect().toSet
      assert(afterCompact == rebuilt)
      // compaction with no tombstones is a no-op
      Bm25.compactIncIndex(spark, tmp)
      assert(Bm25.loadIncIndex(spark, tmp).nDocs == 4.0)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  test("repairIncIndex recovers rebuild-equal serving from a mid-append crash") {
    val all = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "durian durian banana durian"),
      (4L, "cherry apple banana")).toDF("doc_id", "text")
    val queries = Seq((100L, "apple banana"), (101L, "cherry durian"))
      .toDF("qid", "qtext")
    val tmp = java.nio.file.Files.createTempDirectory("bm25_crash").toString
    try {
      Bm25.buildAndSaveIncIndex(spark, all.filter($"doc_id" <= 2), "doc_id", "text", tmp)
      // simulated crash between appendIncIndex's postings commit and the
      // dfs/stats swaps: batch postings land, derived tables stay stale
      Bm25.tfRows(Bm25.tokenized(all.filter($"doc_id" > 2), "doc_id", "text"))
        .write.mode("append").parquet(s"$tmp/postings")
      // a swap crash can also leave dfs mid-rename (missing entirely)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$tmp/dfs"))
      Bm25.repairIncIndex(spark, tmp)
      val served = Bm25.topKAgainstIncIndex(Bm25.loadIncIndex(spark, tmp),
          queries, "qid", "qtext", k = 4)
        .as[(Long, Int, Long, Double)].collect().toSet
      val rebuilt = Bm25.topK(all, "doc_id", "text", queries, "qid", "qtext", k = 4)
        .as[(Long, Int, Long, Double)].collect().toSet
      assert(served == rebuilt, s"served=$served rebuilt=$rebuilt")
      // repair respects tombstones: delete, crash the derived state again,
      // repair → rebuild-equal on the REDUCED corpus
      Bm25.deleteFromIncIndex(spark, tmp, Seq(3L).toDF("doc_id"), "doc_id")
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$tmp/stats"))
      Bm25.repairIncIndex(spark, tmp)
      val served2 = Bm25.topKAgainstIncIndex(Bm25.loadIncIndex(spark, tmp),
          queries, "qid", "qtext", k = 4)
        .as[(Long, Int, Long, Double)].collect().toSet
      val rebuilt2 = Bm25.topK(all.filter($"doc_id" =!= 3L),
          "doc_id", "text", queries, "qid", "qtext", k = 4)
        .as[(Long, Int, Long, Double)].collect().toSet
      assert(served2 == rebuilt2, s"served=$served2 rebuilt=$rebuilt2")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  test("single-rename swap commit: readers never see a missing table, generations linger one swap, orphans are retried over (VERDICT r12 #5)") {
    val all = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "durian durian banana durian"),
      (4L, "cherry apple banana"),
      (5L, "banana banana")).toDF("doc_id", "text")
    val queries = Seq((100L, "apple banana")).toDF("qid", "qtext")
    val tmp = java.nio.file.Files.createTempDirectory("bm25_swap").toString
    def exists(n: String) = new java.io.File(s"$tmp/$n").exists()
    try {
      Bm25.buildAndSaveIncIndex(spark, all, "doc_id", "text", tmp)
      // swap 1 (delete doc 2): dfs/stats commit to .gen_*_1 via ONE
      // pointer rename; the plain dirs stay as the PREVIOUS generation,
      // so a reader that resolved pre-swap keeps streaming them
      Bm25.deleteFromIncIndex(spark, tmp, Seq(2L).toDF("doc_id"), "doc_id")
      assert(Bm25.resolveTable(spark, tmp, "dfs") == s"$tmp/.gen_dfs_1")
      assert(exists("dfs") && exists("stats"),
        "the superseded plain dirs must linger one swap for in-flight readers")
      val r1 = Bm25.loadIncIndex(spark, tmp) // resolves the gen_1 state
      // swap 2 (delete doc 5): gen_2 commits; the PLAIN dirs (two swaps
      // old) reclaim, gen_1 lingers — r1's frames stay readable
      Bm25.deleteFromIncIndex(spark, tmp, Seq(5L).toDF("doc_id"), "doc_id")
      assert(Bm25.resolveTable(spark, tmp, "dfs") == s"$tmp/.gen_dfs_2")
      assert(!exists("dfs") && !exists("stats"),
        "two-swaps-old generations must reclaim")
      assert(exists(".gen_dfs_1") && r1.dfs.collect().nonEmpty,
        "the pre-swap reader's generation must still be readable")
      // crash-before-commit: an orphan generation dir with NO pointer
      // update is invisible to readers and overwritten by the retry
      // (generation numbering follows the COMMITTED pointer)
      new java.io.File(s"$tmp/.gen_stats_3").mkdirs()
      assert(Bm25.resolveTable(spark, tmp, "stats") == s"$tmp/.gen_stats_2",
        "an uncommitted orphan must not change resolution")
      assert(Bm25.loadIncIndex(spark, tmp).nDocs == 3.0)
      Bm25.deleteFromIncIndex(spark, tmp, Seq(1L).toDF("doc_id"), "doc_id")
      assert(Bm25.resolveTable(spark, tmp, "stats") == s"$tmp/.gen_stats_3",
        "the retry must claim the orphan's generation number")
      // end state serves EXACTLY the rebuild on the reduced corpus —
      // the protocol is invisible to scoring (q150/q158/q159's contract)
      val served = Bm25.topKAgainstIncIndex(Bm25.loadIncIndex(spark, tmp),
          queries, "qid", "qtext", k = 4)
        .as[(Long, Int, Long, Double)].collect().toSet
      val rebuilt = Bm25.topK(all.filter(!$"doc_id".isin(1L, 2L, 5L)),
          "doc_id", "text", queries, "qid", "qtext", k = 4)
        .as[(Long, Int, Long, Double)].collect().toSet
      assert(served == rebuilt, s"served=$served rebuilt=$rebuilt")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  test("rebuilding a maintained root serves the new corpus, not the old tombstones") {
    val all = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "durian durian banana durian"),
      (4L, "cherry apple banana")).toDF("doc_id", "text")
    val queries = Seq((100L, "apple banana"), (101L, "cherry durian"))
      .toDF("qid", "qtext")
    val tmp = java.nio.file.Files.createTempDirectory("bm25_rebuild").toString
    try {
      Bm25.buildAndSaveIncIndex(spark, all, "doc_id", "text", tmp)
      Bm25.deleteFromIncIndex(spark, tmp, Seq(2L).toDF("doc_id"), "doc_id")
      assert(Bm25.loadIncIndex(spark, tmp).tombstones.nonEmpty)
      // rebuild the same root from the full corpus: doc 2 is back
      Bm25.buildAndSaveIncIndex(spark, all, "doc_id", "text", tmp)
      val idx = Bm25.loadIncIndex(spark, tmp)
      assert(idx.tombstones.isEmpty)
      assert(idx.nDocs == 4.0 && idx.totalDl == 3 + 2 + 4 + 3)
      val served = Bm25.topKAgainstIncIndex(idx, queries, "qid", "qtext", k = 4)
        .as[(Long, Int, Long, Double)].collect().toSet
      val direct = Bm25.topK(all, "doc_id", "text", queries, "qid", "qtext", k = 4)
        .as[(Long, Int, Long, Double)].collect().toSet
      assert(served == direct, s"served=$served direct=$direct")
      assert(served.exists(_._3 == 2L))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  test("delete on either tier leaves no persisted RDD and no live checkpoint") {
    val docs = Seq((1L, "aa bb"), (2L, "bb cc"), (3L, "cc dd"))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("bm25_del_leak").toString
    try {
      Bm25.buildAndSaveIncIndex(spark, docs, "doc_id", "text", s"$tmp/plain")
      Bm25Versioned.init(spark, s"$tmp/versioned", docs, "doc_id", "text")
      def leaks(op: => Unit): (Set[Int], Int) = {
        val rdds = spark.sparkContext.getPersistentRDDs.keySet
        val live = graft.plan.Checkpoints.liveCount
        op
        (spark.sparkContext.getPersistentRDDs.keySet.toSet -- rdds,
          graft.plan.Checkpoints.liveCount - live)
      }
      assert(leaks(Bm25.deleteFromIncIndex(spark, s"$tmp/plain",
        Seq(2L).toDF("doc_id"), "doc_id")) == ((Set.empty[Int], 0)))
      assert(Bm25.loadIncIndex(spark, s"$tmp/plain").nDocs == 2.0)
      assert(leaks(assert(Bm25Versioned.delete(spark, s"$tmp/versioned",
        Seq(2L).toDF("doc_id"), "doc_id") == 2)) == ((Set.empty[Int], 0)))
      assert(Bm25Versioned.load(spark, s"$tmp/versioned").nDocs == 2.0)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  test("guarded append rejects a batch that re-adds an indexed doc id") {
    val docs = Seq((1L, "aa bb"), (2L, "bb cc"), (3L, "cc dd"))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("bm25_guard").toString
    try {
      Bm25.buildAndSaveIncIndex(spark, docs.filter($"doc_id" <= 2), "doc_id", "text", tmp)
      val e = intercept[IllegalArgumentException] {
        Bm25.appendIncIndex(spark, tmp, docs.filter($"doc_id" >= 2),
          "doc_id", "text", rejectDuplicateIds = true)
      }
      assert(e.getMessage.contains("re-adds doc id"))
      // the rejected append must not have touched the index
      assert(Bm25.loadIncIndex(spark, tmp).nDocs == 2.0)
      // a disjoint batch passes the guard
      Bm25.appendIncIndex(spark, tmp, docs.filter($"doc_id" === 3L),
        "doc_id", "text", rejectDuplicateIds = true)
      assert(Bm25.loadIncIndex(spark, tmp).nDocs == 3.0)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  test("top-k truncates per query at k with the heap node") {
    val docs = (1L to 20L).map(i => (i, "common t" + i)).toDF("doc_id", "text")
    val queries = Seq((1L, "common")).toDF("qid", "qtext")
    val got = Bm25.topK(docs, "doc_id", "text", queries, "qid", "qtext", k = 3)
      .as[(Long, Int, Long, Double)].collect()
    assert(got.length == 3 && got.map(_._3).sorted.toSeq == Seq(1L, 2L, 3L))
    val plan = Bm25.topK(docs, "doc_id", "text", queries, "qid", "qtext", k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroup"), s"heap node missing:\n$plan")
  }

  test("a small index serves a local query batch on the driver: zero Spark jobs, resident segments, the distributed rows") {
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "durian durian banana durian"),
      (4L, "cherry apple banana"),
      (5L, "banana banana")).toDF("doc_id", "text")
    val queries = Seq((100L, "apple banana"), (101L, "cherry durian"), (101L, "fig"))
      .toDF("qid", "qtext")
    val tmp = java.nio.file.Files.createTempDirectory("bm25_local").toString
    // jobs counted by a job group set around the serves only
    val group = s"bm25-local-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    try {
      Bm25.buildAndSaveIncIndex(spark, docs.filter($"doc_id" <= 3), "doc_id", "text", tmp)
      Bm25.deleteFromIncIndex(spark, tmp, Seq(2L).toDF("doc_id"), "doc_id")
      spark.sparkContext.addSparkListener(listener)
      val c0 = LocalServe.counters("bm25")
      spark.sparkContext.setJobGroup(group, "local serve")
      // the region covers the load: pointers, stats row and listings too
      val (idx, served) = try {
        val idx = Bm25.loadIncIndex(spark, tmp)
        (idx, Bm25.topKAgainstIncIndex(idx, queries, "qid", "qtext", k = 3))
      } finally spark.sparkContext.clearJobGroup()
      spark.sparkContext.setJobGroup(group, "local serve")
      val (rows, scores) = try (served.as[(Long, Int, Long, Double)].collect().toSet,
          Bm25.scoresAgainstIncIndex(idx, queries, "qid", "qtext").collect())
        finally spark.sparkContext.clearJobGroup()
      Thread.sleep(1000) // the listener bus delivers events asynchronously
      assert(jobs.get == 0, s"the default serve of a small index ran ${jobs.get} Spark jobs")
      val c1 = LocalServe.counters("bm25")
      assert(c1.localServes == c0.localServes + 2 && c1.distributedServes == c0.distributedServes)
      // the second serve decoded nothing: every file was resident
      val dist = Bm25.topKDistributed(idx, queries, "qid", "qtext", k = 3)
      assert(served.schema == dist.schema)
      assert(rows == dist.as[(Long, Int, Long, Double)].collect().toSet)
      val dScores = Bm25.scoresDistributed(idx, queries, "qid", "qtext", 1.2, 0.75)
      assert(Bm25.scoresAgainstIncIndex(idx, queries, "qid", "qtext").schema == dScores.schema)
      assert(scores.map(_.toString).toSet == dScores.collect().map(_.toString).toSet)
      // an append loads only the new postings file and the new dfs
      Bm25.appendIncIndex(spark, tmp, docs.filter($"doc_id" > 3), "doc_id", "text")
      val c2 = LocalServe.counters("bm25")
      val after = Bm25.topKAgainstIncIndex(Bm25.loadIncIndex(spark, tmp), queries,
        "qid", "qtext", k = 3).as[(Long, Int, Long, Double)].collect().toSet
      val c3 = LocalServe.counters("bm25")
      assert(c3.localServes == c2.localServes + 1)
      assert(c3.filesReused - c2.filesReused >= 2, s"$c2 -> $c3") // old postings + tombstones
      assert(after == Bm25.topK(docs.filter($"doc_id" =!= 2L), "doc_id", "text",
        queries, "qid", "qtext", k = 3).as[(Long, Int, Long, Double)].collect().toSet)
      graft.plan.Checkpoints.release()
      // a query side that is not local takes the distributed plan
      val c4 = LocalServe.counters("bm25")
      val (_, c4Lines) = logged("graft.sources.LocalServe") {
        Bm25.topKAgainstIncIndex(Bm25.loadIncIndex(spark, tmp),
          spark.range(100, 101).select($"id".as("qid"), lit("apple").as("qtext")),
          "qid", "qtext", k = 3).collect()
      }
      assert(LocalServe.counters("bm25").distributedServes == c4.distributedServes + 1)
      assert(c4Lines.exists(l => l.startsWith("bm25 serve regime=distributed") &&
        l.contains("refused=query side not local")), c4Lines)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
  }

  test("a postings file the driver-side decoder refuses (int ids under a bigint index) serves the distributed rows") {
    val docs = Seq((1L, "apple banana"), (2L, "banana cherry"), (3L, "cherry apple apple"))
      .toDF("doc_id", "text")
    val queries = Seq((100L, "apple"), (101L, "banana cherry")).toDF("qid", "qtext")
    val tmp = java.nio.file.Files.createTempDirectory("bm25_undecodable").toString
    try {
      Bm25.buildAndSaveIncIndex(spark, docs, "doc_id", "text", tmp)
      val built = Bm25.loadIncIndex(spark, tmp)
      val postingsDir = Bm25.resolveTable(spark, tmp, "postings")
      // a batch written with int ids, which Spark's reader widens to bigint
      Seq((9, 2.0, "apple", 1.0), (9, 2.0, "fig", 1.0)).toDF("doc_id", "dl", "term", "tf")
        .coalesce(1).write.mode("append").parquet(postingsDir)
      val idx = built.copy(postings = spark.read.schema(built.postings.schema).parquet(postingsDir))
      val c0 = LocalServe.counters("bm25")
      val (served, lines) = logged("graft.sources.LocalServe") {
        Bm25.topKAgainstIncIndex(idx, queries, "qid", "qtext", k = 3)
          .as[(Long, Int, Long, Double)].collect().toSet
      }
      val c1 = LocalServe.counters("bm25")
      assert(c1.localServes == c0.localServes && c1.distributedServes == c0.distributedServes + 1,
        s"$c0 -> $c1")
      assert(lines.exists(l => l.startsWith("bm25 serve regime=distributed") &&
        l.contains("refused=undecodable file")), lines)
      val dist = Bm25.topKDistributed(idx, queries, "qid", "qtext", k = 3)
        .as[(Long, Int, Long, Double)].collect().toSet
      assert(served == dist && dist.exists(_._3 == 9L), dist)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  test("loadIncIndex reads nDocs and totalDl as a plain read of the resolved stats table") {
    val docs = (1L to 12L).map(i => (i, Seq.tabulate((i % 5 + 1).toInt)(j => s"w${(i + j) % 7}").mkString(" ")))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("bm25_stats").toString
    def statsDir = Bm25.resolveTable(spark, tmp, "stats")
    def check(stage: String): Unit = {
      val idx = Bm25.loadIncIndex(spark, tmp)
      val want = spark.read.parquet(statsDir)
        .select($"n_docs".cast("double"), $"total_dl".cast("double")).as[(Double, Double)].collect()
      assert(want.toSeq == Seq((idx.nDocs, idx.totalDl)), stage)
    }
    try {
      Bm25.buildAndSaveIncIndex(spark, docs.filter($"doc_id" <= 8), "doc_id", "text", tmp)
      check("build")
      Bm25.appendIncIndex(spark, tmp, docs.filter($"doc_id" > 8), "doc_id", "text")
      check("append")
      Bm25.deleteFromIncIndex(spark, tmp, Seq(3L, 10L).toDF("doc_id"), "doc_id")
      check("delete")
      Bm25.compactIncIndex(spark, tmp)
      check("compact")
      assert(Bm25.loadIncIndex(spark, tmp).nDocs == 10.0)
      // bigint columns (a total past 2^53 rounds as the cast rounds), and
      // decimal ones, which only the cluster-read fallback decodes
      Seq((10L, (1L << 53) + 1)).toDF("n_docs", "total_dl")
        .write.mode("overwrite").parquet(statsDir)
      check("bigint")
      Seq((BigDecimal(10), BigDecimal(41))).toDF("n_docs", "total_dl")
        .write.mode("overwrite").parquet(statsDir)
      check("decimal")
      // a bad stats table fails fast and names the repair
      Seq.empty[(Long, Long)].toDF("n_docs", "total_dl").coalesce(1)
        .write.mode("overwrite").parquet(statsDir)
      val empty = intercept[IllegalArgumentException](Bm25.loadIncIndex(spark, tmp)).getMessage
      assert(empty.contains(statsDir) && empty.contains("0 row(s)") &&
        empty.contains("repairIncIndex"), empty)
      Seq[(Option[Double], Option[Double])]((Some(10.0), None)).toDF("n_docs", "total_dl")
        .write.mode("overwrite").parquet(statsDir)
      val nulls = intercept[IllegalArgumentException](Bm25.loadIncIndex(spark, tmp)).getMessage
      assert(nulls.contains(statsDir) && nulls.contains("repairIncIndex"), nulls)
      Bm25.repairIncIndex(spark, tmp)
      check("repair")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  test("concurrent local serves of a cold index share the segment store and agree") {
    val docs = (1L to 60L).map(i => (i, Seq.tabulate(6)(j => s"w${(i * 7 + j * 3) % 23}").mkString(" ")))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("bm25_conc").toString
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      Bm25.buildAndSaveIncIndex(spark, docs.repartition(4), "doc_id", "text", tmp)
      val idx = Bm25.loadIncIndex(spark, tmp)
      val queries = (0 until 8).map(q => (q.toLong, s"w$q w${q + 5}"))
      val want = Bm25.topKDistributed(idx, queries.toDF("qid", "qtext"), "qid", "qtext", k = 5)
        .as[(Long, Int, Long, Double)].collect().toSet
      val c0 = LocalServe.counters("bm25")
      val tasks = (0 until 16).map { i =>
        pool.submit(new java.util.concurrent.Callable[Set[(Long, Int, Long, Double)]] {
          def call(): Set[(Long, Int, Long, Double)] =
            Bm25.topKAgainstIncIndex(idx, queries.toDF("qid", "qtext"), "qid", "qtext", k = 5)
              .as[(Long, Int, Long, Double)].collect().toSet
        })
      }
      tasks.foreach(t => assert(t.get() == want))
      assert(LocalServe.counters("bm25").localServes == c0.localServes + 16)
    } finally {
      pool.shutdown()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
  }
}
