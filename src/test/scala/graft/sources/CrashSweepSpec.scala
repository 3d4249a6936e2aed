package graft.sources

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.curate.Bm25
import graft.plan.{Rollup, RollupRewrite, RollupVersioned}

/** Crash sweeps over the maintenance ops that commit through
  * [[AtomicFile]]: every create and every rename an op makes is failed
  * once ([[FaultFs]]), and the state left behind must be the pre-op or
  * the post-op state; an unarmed re-run must then reach the state of a
  * run that never failed. */
class CrashSweepSpec extends SparkSpec {
  import spark.implicits._

  FaultFs.install(spark.sparkContext.hadoopConfiguration)

  private val scratch = java.nio.file.Files.createTempDirectory("graft_crash").toString
  private var dirs = 0

  private def newDir(): String = { dirs += 1; s"$scratch/d$dirs" }

  /** `faultfs:` path of `rel` under local dir `root`. */
  private def at(root: String, rel: String): String = FaultFs.path(s"$root/$rel")

  /** Build the pre-op state once; every swept run starts from a copy. */
  private def template(build: String => Unit): String = {
    val t = newDir(); build(t); t
  }

  private def copyOf(t: String): String = {
    val r = newDir(); FileUtils.copyDirectory(new File(t), new File(r)); r
  }

  /** Sweep every create and rename `op` makes on a copy of `pre`: one
    * unarmed run counts them and gives the post-op state; then for every
    * N, a fresh copy has its Nth event fail, `heal` runs the op's
    * documented recovery, `check` asserts the state left behind (by
    * default: the pre-op or the post-op state), and an unarmed re-run
    * must reach the post-op state. Returns the number of crash points. */
  private def sweep[S](pre: String, op: String => Unit, state: String => S,
                       heal: String => Unit = _ => (),
                       check: (String, S, S) => Unit = null): (Int, S, S) = {
    val before = state(copyOf(pre))
    val clean = copyOf(pre)
    val n = FaultFs.count(clean)(op(clean))
    val after = state(clean)
    assert(n > 0, "the op made no create or rename under its root")
    (1 to n).foreach { k =>
      val r = copyOf(pre)
      val thrown = quietly(FaultFs.failing(r, k)(op(r)))
      assert(thrown.exists(FaultFs.isInjected),
        s"crash point $k/$n: expected the injected failure, got $thrown")
      try {
        heal(r)
        if (check != null) check(r, before, after)
        else {
          val s = state(r)
          assert(s == before || s == after, s"neither pre nor post state: $s")
        }
        op(r)
        assert(state(r) == after, "the re-run did not reach the post state")
      } catch {
        case e: org.scalatest.exceptions.TestFailedException =>
          throw e.modifyMessage(_.map(m => s"crash point $k/$n ($r): $m"))
        case e: Exception => fail(s"crash point $k/$n ($r): $e", e)
      }
    }
    (n, before, after)
  }

  /** Run `body` with the task-failure logging of the injected faults
    * switched off. */
  private def quietly[T](body: => T): T = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.config.Configurator
    val names = Seq("org.apache.spark.scheduler.TaskSetManager",
      "org.apache.spark.executor.Executor",
      "org.apache.spark.sql.execution.datasources",
      "org.apache.spark.internal.io", "org.apache.spark.util.Utils")
    val levels = names.map(n => n -> LogManager.getLogger(n).getLevel)
    names.foreach(Configurator.setLevel(_, Level.OFF))
    try body finally levels.foreach { case (n, l) => Configurator.setLevel(n, l) }
  }

  private def ints(df: DataFrame): Seq[Int] =
    df.as[Int].collect().toSeq.sorted

  test("Snapshots publish, rollback and pin: every crash point leaves the pre or post state") {
    val pre = template { t =>
      val dir = at(t, "snap")
      Snapshots.publish(spark, dir, Seq(1, 2).toDF("k").coalesce(1))
      Snapshots.publish(spark, dir, Seq(3).toDF("k").coalesce(1))
      Snapshots.pin(spark, dir, 1, "reader")
    }
    def state(r: String) = {
      val dir = at(r, "snap")
      (ints(Snapshots.readLatest(spark, dir)), Snapshots.pinnedVersions(spark, dir))
    }
    val (nPublish, _, published) = sweep(pre,
      r => Snapshots.publish(spark, at(r, "snap"), Seq(7, 8, 9).toDF("k").coalesce(1)),
      state)
    assert(published._1 == Seq(7, 8, 9))
    val (nRollback, _, rolled) = sweep(pre,
      r => Snapshots.rollback(spark, at(r, "snap"), 1), state)
    assert(rolled._1 == Seq(1, 2))
    // re-pinning an existing name rewrites a committed pin file
    val (nPin, _, pinned) = sweep(pre,
      r => Snapshots.pin(spark, at(r, "snap"), 2, "reader"), state)
    assert(pinned._2 == Map("reader" -> 2))
    info(s"crash points: publish $nPublish, rollback $nRollback, pin $nPin")
  }

  private val corpus = Seq(
    (1L, "apple banana apple"), (2L, "apple cherry"),
    (3L, "durian durian banana durian"), (4L, "cherry banana"),
    (5L, "elder apple fig"), (6L, "fig fig grape"),
    (7L, "grape apple banana"), (8L, "cherry cherry durian"),
    (9L, "banana elder"), (10L, "apple fig cherry"),
    (11L, "grape grape durian apple"), (12L, "elder banana cherry"))

  private def docs(ids: Set[Long]): DataFrame =
    corpus.filter(d => ids(d._1)).toDF("doc_id", "text").coalesce(1)

  private val queries = Seq((100L, "apple banana"), (101L, "cherry durian"),
    (102L, "fig elder grape")).toDF("qid", "qtext")

  private def topK(path: String): Set[(Long, Int, Long, Double)] =
    Bm25.topKAgainstIncIndex(Bm25.loadIncIndex(spark, path), queries,
      "qid", "qtext", k = 4).as[(Long, Int, Long, Double)].collect().toSet

  /** top-k of a from-scratch build over `ids` */
  private def rebuilt(ids: Set[Long]): Set[(Long, Int, Long, Double)] = {
    val p = newDir()
    Bm25.buildAndSaveIncIndex(spark, docs(ids), "doc_id", "text", p)
    topK(p)
  }

  test("Bm25 append, delete and compact: every crash point repairs to a from-scratch build") {
    val base = (1L to 9L).toSet
    val pre = template { t =>
      Bm25.buildAndSaveIncIndex(spark, docs((1L to 6L).toSet), "doc_id", "text", at(t, "idx"))
      // a maintained index: dfs/stats already live behind swap pointers
      Bm25.appendIncIndex(spark, at(t, "idx"), docs((7L to 9L).toSet), "doc_id", "text")
    }
    def state(r: String) = topK(at(r, "idx"))
    def heal(r: String) = Bm25.repairIncIndex(spark, at(r, "idx"))
    // an append is not idempotent: once its postings landed, a re-run
    // must be refused (rejectDuplicateIds) rather than count them twice
    val (nAppend, before, appended) = sweep(pre, r =>
        try Bm25.appendIncIndex(spark, at(r, "idx"), docs((10L to 12L).toSet),
          "doc_id", "text", rejectDuplicateIds = true)
        catch {
          case e: IllegalArgumentException if e.getMessage.contains("already present") =>
        },
      state, heal)
    assert(before == rebuilt(base))
    assert(appended == rebuilt(base ++ (10L to 12L)))
    val gone = Set(2L, 8L)
    val (nDelete, _, deleted) = sweep(pre,
      r => Bm25.deleteFromIncIndex(spark, at(r, "idx"), gone.toSeq.toDF("id"), "id"),
      state, heal)
    assert(deleted == rebuilt(base -- gone))
    val tombstoned = template { t =>
      FileUtils.copyDirectory(new File(pre), new File(t))
      Bm25.deleteFromIncIndex(spark, at(t, "idx"), gone.toSeq.toDF("id"), "id")
    }
    val (nCompact, _, compacted) = sweep(tombstoned,
      r => Bm25.compactIncIndex(spark, at(r, "idx")), state, heal)
    assert(compacted == rebuilt(base -- gone))
    info(s"crash points: append $nAppend, delete $nDelete, compact $nCompact")
  }

  test("RollupVersioned.refreshAppended: every crash point serves the old or new summary, and vacuum leaves no orphan") {
    val baseDir = newDir()
    def day(d: Int) = spark.range(0, 40).select(
      (col("id") % 4).as("g"), (col("id") * d).as("m")).coalesce(1)
    day(1).write.parquet(baseDir)
    val layout = RollupVersioned.Layout(Seq("g"), Seq("m"))
    val pre = template { t =>
      RollupVersioned.init(spark, at(t, "rv"), spark.read.parquet(baseDir), layout)
    }
    day(2).write.mode("append").parquet(baseDir)
    def summary(r: String) = RollupVersioned.summaryOf(spark, at(r, "rv"), None)
      .orderBy("g").collect().toSeq
    /** pool batches = exactly the batches the kept meta versions reference */
    def noOrphan(r: String): Unit = {
      val root = at(r, "rv")
      RollupVersioned.vacuum(spark, root, keepLast = 1)
      val meta = VersionedPool.metaDir(root)
      val referenced = Snapshots.versions(spark, meta).flatMap(v =>
        Snapshots.readVersionLocal(spark, meta, v).filter(col("kind") === "batch")
          .select("key").as[String].collect()).toSet
      val pool = Option(new File(s"$r/rv/pool").list()).toSeq.flatten.toSet
      assert(pool == referenced, s"pool $pool vs referenced $referenced")
    }
    val (n, before, after) = sweep(pre,
      r => RollupVersioned.refreshAppended(spark, at(r, "rv"), spark.read.parquet(baseDir)),
      summary, check = (r: String, before: Seq[Row], after: Seq[Row]) => {
        val s = summary(r)
        assert(s == before || s == after, s"neither old nor new summary: $s")
        noOrphan(r)
      })
    assert(before != after)
    info(s"crash points: refreshAppended $n")
  }

  test("RollupRewrite.save: every crash point restores the old or the new lattice") {
    val sums = newDir()
    val baseDir = s"$sums/base"
    spark.range(0, 60).select((col("id") % 3).as("a"), (col("id") % 5).as("b"),
      col("id").as("m")).coalesce(1).write.parquet(baseDir)
    def base = spark.read.parquet(baseDir)
    Rollup.materialize(base, Seq("a"), Seq("m")).write.parquet(s"$sums/s1")
    Rollup.materialize(base, Seq("a", "b"), Seq("m")).write.parquet(s"$sums/s2")
    def register(both: Boolean): Unit = {
      RollupRewrite.clear()
      RollupRewrite.register(base, spark.read.parquet(s"$sums/s1"), Seq("a"), Seq("m"))
      if (both) RollupRewrite.register(base, spark.read.parquet(s"$sums/s2"),
        Seq("a", "b"), Seq("m"))
    }
    def manifest(r: String) = at(r, "lattice/manifest")
    try {
      val pre = template { t => register(both = false); RollupRewrite.save(spark, manifest(t)) }
      def state(r: String) = {
        RollupRewrite.clear()
        (RollupRewrite.restore(spark, manifest(r)),
          AtomicFile.read(spark.sparkContext.hadoopConfiguration, manifest(r)))
      }
      val (n, before, after) = sweep(pre,
        r => { register(both = true); RollupRewrite.save(spark, manifest(r)) }, state)
      assert(before._1 == 1 && after._1 == 2)
      info(s"crash points: save $n")
    } finally RollupRewrite.clear()
  }

  // the catalog cases: table `t` of a database that lives under a root
  private lazy val cat = new GraftCatalog(spark)
  private var dbs = Seq.empty[String]

  private def db(tag: String): String = {
    val name = s"crash_${tag}_${dbs.size}"; dbs :+= name; name
  }

  /** a database whose tables live under `root` */
  private def warehouse(root: String): String = {
    val name = db("wh")
    spark.sql(s"CREATE DATABASE `$name` LOCATION '${at(root, "wh")}'")
    name
  }

  private def saveT(d: String, m: Int,
                    mode: org.apache.spark.sql.SaveMode =
                      org.apache.spark.sql.SaveMode.Overwrite): Unit =
    cat.saveBucketed(d, "t", spark.range(0, 200)
        .select((col("id") % 20).as("k"), (col("id") * m).as("v")).coalesce(1),
      "k", numBuckets = 2, sortCols = Seq("k"), mode = mode)

  /** crawl the table dir under `root` into a fresh database: the
    * exchanges of a self-join on the bucket key and sum(v), or the
    * refusal */
  private def crawled(root: String): Either[String, (Int, Long)] = {
    val d = db("rs")
    try {
      cat.crawl(d, "t", at(root, "wh/t"))
      val t = cat.table(d, "t")
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val plan = t.as("a").join(t.as("b"), "k").queryExecution.executedPlan.toString
        Right(("Exchange".r.findAllMatchIn(plan).size, t.agg(sum("v")).head().getLong(0)))
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } catch {
      case e: IllegalStateException if e.getMessage.startsWith("refusing to crawl") =>
        Left(e.getMessage)
    }
  }

  private def dropDatabases(): Unit = {
    dbs.foreach(d => spark.sql(s"DROP DATABASE IF EXISTS `$d` CASCADE"))
    dbs = Nil
  }

  test("GraftCatalog.saveBucketed: after every crash point crawl restores the bucket layout or refuses the torn table") {
    // An Overwrite save drops the old table before its data write
    // (Spark's saveAsTable), so a crash from there on leaves no complete
    // old table; what must never happen is a crawl that registers rows
    // without their bucket layout. While crawl registered any directory
    // without a sidecar (and the sidecar commit deleted the live file
    // before its rename), 4 of the 8 crash points -- the job commit's
    // second rename (half the rows moved), the `_SUCCESS` create, the
    // sidecar's create and the sidecar's rename after its delete -- left
    // a table that crawled unbucketed, its self-join planned with
    // exchanges.
    try {
      val clean = newDir()
      val d0 = warehouse(clean)
      saveT(d0, 1)
      val before = crawled(clean)
      val n = FaultFs.count(clean)(saveT(d0, 2))
      val after = crawled(clean)
      assert(before == Right((0, 19900L)) && after == Right((0, 39800L)))
      (1 to n).foreach { k =>
        val r = newDir()
        val d = warehouse(r)
        saveT(d, 1)
        val thrown = quietly(FaultFs.failing(r, k)(saveT(d, 2)))
        assert(thrown.exists(FaultFs.isInjected),
          s"crash point $k/$n: expected the injected failure, got $thrown")
        val s = crawled(r)
        assert(s == before || s == after || s.isLeft,
          s"crash point $k/$n: crawled without its bucket layout: $s")
        saveT(d, 2)
        assert(crawled(r) == after, s"re-run after crash point $k/$n")
      }
      info(s"crash points: saveBucketed $n")
    } finally dropDatabases()
  }

  test("a bucketed append whose sidecar commit fails keeps the committed sidecar") {
    // An append keeps the table directory and its `_GRAFT_META`. While
    // the sidecar commit deleted that live file before renaming the new
    // one over it, a failure of the rename left the table to crawl
    // unbucketed, with exchanges.
    try {
      val counted = newDir()
      val d0 = warehouse(counted)
      saveT(d0, 1)
      // the sidecar's rename is the append's last create-or-rename event
      val n = FaultFs.count(counted)(saveT(d0, 2, org.apache.spark.sql.SaveMode.Append))
      val r = newDir()
      val d = warehouse(r)
      saveT(d, 1)
      val thrown = quietly(FaultFs.failing(r, n)(
        saveT(d, 2, org.apache.spark.sql.SaveMode.Append)))
      assert(thrown.exists(t => FaultFs.isInjected(t) &&
        t.getMessage.contains(s"rename #$n") && t.getMessage.endsWith(GraftCatalog.MetaFile)),
        s"expected the sidecar rename to fail, got $thrown")
      assert(crawled(r) == Right((0, 19900L + 39800L)))
    } finally dropDatabases()
  }
}
