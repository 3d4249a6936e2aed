package graft.sources

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.SparkSpec

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("source factory reads parquet with pushdown predicate and target partitions") {
    val df = Sources.read(spark, Sources.SourceSpec(
      connectionType = "parquet",
      paths = Seq(s"$sf/nation.parquet"),
      pushDownPredicate = Some("n_regionkey = 0"),
      targetPartitions = Some(2)))
    assert(df.rdd.getNumPartitions == 2)
    assert(df.count() == 5)
  }

  test("source factory respects minPartitions floor") {
    val df = Sources.read(spark, Sources.SourceSpec(
      connectionType = "parquet", paths = Seq(s"$sf/nation.parquet"),
      minPartitions = Some(3)))
    assert(df.rdd.getNumPartitions >= 3)
  }

  test("sampled source limits rows") {
    val df = Sources.readSample(spark,
      Sources.SourceSpec("parquet", paths = Seq(s"$sf/customer.parquet")), 7)
    assert(df.count() == 7)
  }

  test("sampled source fraction sampling is seeded and composes with num cap") {
    val spec = Sources.SourceSpec("parquet", paths = Seq(s"$sf/customer.parquet"))
    val total = Sources.read(spark, spec).count()
    val frac = Sources.readSample(spark, spec,
      Sources.SampleOptions(fraction = Some(0.2)))
    val n = frac.count()
    assert(n > 0 && n < total, s"fraction sample returned $n of $total")
    // fixed seed => reproducible across executions
    assert(frac.count() == n)
    // fraction + num: the cap applies after sampling
    val capped = Sources.readSample(spark, spec,
      Sources.SampleOptions(num = Some(5), fraction = Some(0.5)))
    assert(capped.count() == 5)
  }

  test("ORC round-trips through the sink and source factories") {
    val root = java.nio.file.Files.createTempDirectory("graft_orc").toString
    try {
      val dir = root + "/t"
      val src = Sources.read(spark,
        Sources.SourceSpec("parquet", paths = Seq(s"$sf/nation.parquet")))
      Sources.write(src, Sources.SinkSpec("file", format = "orc", path = dir))
      val back = Sources.read(spark,
        Sources.SourceSpec("orc", paths = Seq(dir)))
      assert(back.count() == src.count())
      assert(back.orderBy("n_nationkey").collect().toSeq ==
        src.orderBy("n_nationkey").collect().toSeq)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("schema-evolved parquet parts merge via reader options") {
    val root = java.nio.file.Files.createTempDirectory("graft_ms").toString
    try {
      import spark.implicits._
      Seq((1L, "a")).toDF("k", "s").write.parquet(root + "/p1")
      Seq((2L, "b", 7)).toDF("k", "s", "v").write.parquet(root + "/p2")
      val merged = Sources.read(spark, Sources.SourceSpec("parquet",
        options = Map("mergeSchema" -> "true"),
        paths = Seq(root + "/p1", root + "/p2")))
      assert(merged.columns.sorted.toSeq == Seq("k", "s", "v"))
      assert(merged.count() == 2)
      // the old part surfaces the evolved column as null, not an error
      assert(merged.filter(col("k") === 1L).select("v").collect()(0).isNullAt(0))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("JDBC bulk-load path round-trips through embedded Derby") {
    // Derby ships with Spark (derby-10.16 in /opt/spark/jars) — the closest
    // offline stand-in for the reference's Postgres COPY load
    // (db_utils.py:100-130): writeFromJdbcConf appends to the DB table,
    // the source factory and the raw-zone extract read it back.
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    java.sql.DriverManager.getConnection(url).close() // boot the engine
    ConnectionRegistry.register("derby_main",
      ConnectionRegistry.JdbcConf(url, "app", "app", driver))
    val df = Seq((1L, "alice"), (2L, "bob"), (3L, null.asInstanceOf[String]))
      .toDF("id", "name")
    ConnectionRegistry.writeFromJdbcConf(df, "derby_main", "accounts")
    // source factory JDBC read
    val back = Sources.read(spark, Sources.SourceSpec("jdbc",
      options = Map("url" -> url, "dbtable" -> "accounts", "driver" -> driver)))
    assert(back.count() == 3)
    assert(back.filter(col("name").isNull).count() == 1)
    // append semantics: a second bulk load doubles the rows
    ConnectionRegistry.writeFromJdbcConf(df, "derby_main", "accounts")
    assert(back.count() == 6)
    // raw-zone extract lands the table as \N-encoded CSV
    val out = java.nio.file.Files.createTempDirectory("jdbcraw").toString
    Rds2Raw.extractTables(spark, ConnectionRegistry.extractJdbcConf("derby_main"),
      Seq("accounts"), out)
    val raw = graft.jobs.BankJobs.readRawCsv(spark, s"$out/accounts")
    assert(raw.count() == 6 && raw.filter(col("name").isNull).count() == 2)
  }

  test("sink factory writes by format; collection sink suffixes paths") {
    val out = java.nio.file.Files.createTempDirectory("sink").toString
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    Sources.write(df, Sources.SinkSpec("file", format = "json", path = s"$out/single"))
    assert(spark.read.json(s"$out/single").count() == 2)
    Sources.writeCollection(Map("x" -> df, "y" -> df),
      Sources.SinkSpec("file", format = "parquet", path = s"$out/coll"))
    assert(spark.read.parquet(s"$out/coll/x").count() == 2)
    assert(spark.read.parquet(s"$out/coll/y").count() == 2)
  }

  test("partitioned sink writes partition directories") {
    val out = java.nio.file.Files.createTempDirectory("psink").toString
    val df = Seq((1, "a"), (2, "b"), (3, "a")).toDF("k", "part")
    Sources.write(df, Sources.SinkSpec("file", format = "parquet",
      path = s"$out/t", partitionKeys = Seq("part")))
    assert(new java.io.File(s"$out/t/part=a").exists())
    assert(spark.read.parquet(s"$out/t").count() == 3)
  }

  test("bucketed tables join without a shuffle exchange") {
    spark.sql("DROP DATABASE IF EXISTS graft_bkt CASCADE")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$wh/graft_bkt.db"))
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val customer = spark.read.parquet(s"$sf/customer.parquet")
    Sources.writeBucketed(orders, "graft_bkt", "orders_b", Seq("o_custkey"), 4,
      sortKeys = Seq("o_custkey"))
    Sources.writeBucketed(customer, "graft_bkt", "cust_b", Seq("c_custkey"), 4,
      sortKeys = Seq("c_custkey"))
    // force the shuffle-join path (broadcast would win on this tiny dim)
    val prevBcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("graft_bkt.orders_b")
        .join(spark.table("graft_bkt.cust_b"),
          col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(plan.contains("Bucketed: true"), s"bucketed scan not used:\n$plan")
      assert(joined.count() == orders.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBcast)
      spark.sql("DROP DATABASE graft_bkt CASCADE")
    }
  }

  test("connection registry registers and resolves; unknown name throws") {
    ConnectionRegistry.register("pg_main",
      ConnectionRegistry.JdbcConf("jdbc:postgresql://h/db", "u", "p"))
    assert(ConnectionRegistry.extractJdbcConf("pg_main").url == "jdbc:postgresql://h/db")
    intercept[NoSuchElementException](ConnectionRegistry.extractJdbcConf("nope"))
  }

  test("raw CSV round-trip preserves \\N nulls and header") {
    val out = java.nio.file.Files.createTempDirectory("raw").toString
    val df = Seq(("1", "x"), ("2", null)).toDF("id", "v")
    Rds2Raw.writeRawCsv(df, s"$out/t")
    val back = graft.jobs.BankJobs.readRawCsv(spark, s"$out/t")
    assert(back.count() == 2)
    assert(back.filter(col("v").isNull).count() == 1)
    // on-disk encoding really is \N
    val files = new java.io.File(s"$out/t").listFiles().filter(_.getName.endsWith(".csv"))
    val content = files.map(f => new String(java.nio.file.Files.readAllBytes(f.toPath))).mkString
    assert(content.contains("\\N"))
  }

  test("compactParquet rewrites many small files into few, preserving data") {
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/t"
    spark.range(0, 10000).repartition(20).write.parquet(dir)
    val before = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(before == 20)
    val after = PathLifecycle.compactParquet(spark, dir, targetFileMB = 128)
    assert(after == 1)
    assert(spark.read.parquet(dir).count() == 10000)
  }

  test("compactParquet names the tmp dir holding the compacted rows when its swap rename fails") {
    FaultFs.install(spark.sparkContext.hadoopConfiguration)
    val root = java.nio.file.Files.createTempDirectory("compact_fail").toString
    def table(name: String): String = {
      spark.range(0, 1000).repartition(4).write.parquet(s"$root/$name")
      FaultFs.path(s"$root/$name")
    }
    // the swap rename is the op's last create-or-rename event
    val counted = table("counted")
    val n = FaultFs.count(root)(PathLifecycle.compactParquet(spark, counted))
    val dir = table("t")
    val thrown = FaultFs.failing(root, n, quiet = true)(
      PathLifecycle.compactParquet(spark, dir))
    val tmp = new org.apache.hadoop.fs.Path(dir + "__compact_tmp").toString
    thrown match {
      case Some(e: IllegalArgumentException) =>
        assert(e.getMessage.contains(s"they remain in $tmp"), e.getMessage)
      case other => fail(s"expected the failed rename to be reported, got $other")
    }
    assert(spark.read.parquet(tmp).count() == 1000)
  }

  test("purgePath deletes files recursively and reports count") {
    val out = java.nio.file.Files.createTempDirectory("purge")
    java.nio.file.Files.writeString(out.resolve("a.txt"), "x")
    val sub = java.nio.file.Files.createDirectories(out.resolve("sub"))
    java.nio.file.Files.writeString(sub.resolve("b.txt"), "y")
    assert(PathLifecycle.purgePath(spark, out.toString, retentionHours = 0) == 2)
    // retention in the future keeps everything
    java.nio.file.Files.writeString(out.resolve("c.txt"), "z")
    assert(PathLifecycle.purgePath(spark, out.toString, retentionHours = 1) == 0)
  }

  test("transitionPath tiers old files out of the hot scan; restore reverses") {
    val dir = java.nio.file.Files.createTempDirectory("tier").toString + "/t"
    spark.range(0, 1000).selectExpr("id", "id % 3 AS k").repartition(4).write.parquet(dir)
    val manifest = java.nio.file.Files.createTempDirectory("manifest").toString

    // retention in the future: nothing moves, everything retained
    val kept = PathLifecycle.transitionPath(spark, dir, "GLACIER", retentionHours = 1)
    assert(kept.processed == 0 && spark.read.parquet(dir).count() == 1000)

    // retention 0: every data + marker file moves under .tier_GLACIER and
    // the hot path becomes empty of visible parquet
    val moved = PathLifecycle.transitionPath(spark, dir, "GLACIER",
      retentionHours = 0, manifestFilePath = Some(manifest))
    assert(moved.processed > 0)
    val hot = new java.io.File(dir).listFiles().filter(!_.getName.startsWith("."))
    assert(hot.forall(!_.getName.endsWith(".parquet")))
    val tiered = new java.io.File(dir, ".tier_GLACIER").listFiles()
    assert(tiered.exists(_.getName.endsWith(".parquet")))
    // manifest records exactly the moved files
    val success = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(manifest, "Success.csv"))
    assert(success.size == moved.processed)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(manifest, "Failed.csv")))

    // already-GLACIER files don't re-transition; excluded classes are kept
    assert(PathLifecycle.transitionPath(spark, dir, "GLACIER").processed == 0)
    assert(PathLifecycle.transitionPath(spark, dir, "DEEP_ARCHIVE",
      excludeStorageClasses = Set("GLACIER")).processed == 0)

    // restore brings the data back byte-identical and readable
    val restored = PathLifecycle.restorePath(spark, dir, "GLACIER")
    assert(restored == moved.processed)
    assert(spark.read.parquet(dir).count() == 1000)
    assert(!new java.io.File(dir, ".tier_GLACIER").exists())
  }

  test("transitionPath GLACIER to DEEP_ARCHIVE moves between tiers, not nested") {
    val dir = java.nio.file.Files.createTempDirectory("tier2").toString + "/t"
    spark.range(0, 10).coalesce(1).write.parquet(dir)
    PathLifecycle.transitionPath(spark, dir, "GLACIER", retentionHours = 0)
    val re = PathLifecycle.transitionPath(spark, dir, "DEEP_ARCHIVE", retentionHours = 0)
    assert(re.processed > 0)
    val deep = new java.io.File(dir, ".tier_DEEP_ARCHIVE")
    assert(deep.exists())
    // no .tier_GLACIER remnants inside the DEEP_ARCHIVE tree
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) :+ f else Seq(f)
    assert(walk(deep).forall(!_.getName.contains("tier_GLACIER")))
  }

  test("transitionTable resolves the catalog location") {
    val cat = new GraftCatalog(spark)
    val dir = java.nio.file.Files.createTempDirectory("tiercat").toString + "/t"
    spark.range(0, 10).coalesce(1).write.parquet(dir)
    cat.crawl("lifecycle_db", "t_cold", dir)
    val r = PathLifecycle.transitionTable(spark, "lifecycle_db", "t_cold",
      "GLACIER", retentionHours = 0)
    assert(r.processed > 0)
    assert(new java.io.File(dir, ".tier_GLACIER").exists())
    cat.dropDatabase("lifecycle_db")
  }

  test("purgePath honors excluded storage classes and writes a manifest") {
    val dir = java.nio.file.Files.createTempDirectory("purgex").toString + "/t"
    spark.range(0, 10).coalesce(1).write.parquet(dir)
    // retentionHours = 0 cuts at "now": a file written in the same
    // millisecond can land on either side of the strict mtime compare, so
    // put the writes strictly in the past (observed as a rare parallel-
    // suite flake)
    Thread.sleep(15)
    PathLifecycle.transitionPath(spark, dir, "GLACIER", retentionHours = 0)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "hot.txt"), "x")
    Thread.sleep(15)
    val manifest = java.nio.file.Files.createTempDirectory("purgem").toString
    // purge everything EXCEPT the archived tier
    val n = PathLifecycle.purgePath(spark, dir, retentionHours = 0,
      excludeStorageClasses = Set("GLACIER"), manifestFilePath = Some(manifest))
    assert(n == 1) // only hot.txt
    val success = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(manifest, "Success.csv"))
    assert(success.size == 1 && success.get(0).endsWith("hot.txt"))
    assert(new java.io.File(dir, ".tier_GLACIER").listFiles().nonEmpty)
  }

  test("transitionPath with a RELATIVE root tiers in place and restores") {
    // relative roots must qualify against the fs working dir — an
    // unqualified root never prefix-matches the absolute listing paths
    // and every file would be re-rooted under a replica of its own path
    val rel = s"target/tierrel_${System.nanoTime()}/t"
    try {
      spark.range(0, 10).coalesce(1).write.parquet(rel)
      val moved = PathLifecycle.transitionPath(spark, rel, "GLACIER", retentionHours = 0)
      assert(moved.processed > 0)
      val tier = new java.io.File(rel, ".tier_GLACIER")
      assert(tier.exists())
      // structure preserved directly under the tier dir, not under an
      // absolute-path replica
      assert(tier.listFiles().exists(f =>
        f.getName.endsWith(".parquet") || f.getName.startsWith("_SUCCESS")))
      assert(PathLifecycle.restorePath(spark, rel, "GLACIER") == moved.processed)
      assert(spark.read.parquet(rel).count() == 10)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(rel).getParentFile)
  }

  test("transition manifest is empty (not one blank line) when nothing moves") {
    val dir = java.nio.file.Files.createTempDirectory("tierempty").toString + "/t"
    spark.range(0, 5).coalesce(1).write.parquet(dir)
    val manifest = java.nio.file.Files.createTempDirectory("tierempty_m").toString
    val r = PathLifecycle.transitionPath(spark, dir, "GLACIER",
      retentionHours = 1, manifestFilePath = Some(manifest))
    assert(r.processed == 0)
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(manifest, "Success.csv"))
    assert(lines.isEmpty)
  }

  test("retained counts hot files only, never the archive") {
    val dir = java.nio.file.Files.createTempDirectory("tierret").toString + "/t"
    spark.range(0, 10).coalesce(1).write.parquet(dir)
    val first = PathLifecycle.transitionPath(spark, dir, "GLACIER", retentionHours = 0)
    assert(first.retained == 0)
    // second call: archived files are neither processed nor retained
    val second = PathLifecycle.transitionPath(spark, dir, "GLACIER", retentionHours = 0)
    assert(second.processed == 0 && second.retained == 0)
    // a fresh hot file under a future retention is the only retained one
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "hot.txt"), "x")
    val third = PathLifecycle.transitionPath(spark, dir, "GLACIER", retentionHours = 1)
    assert(third.processed == 0 && third.retained == 1)
  }
}
