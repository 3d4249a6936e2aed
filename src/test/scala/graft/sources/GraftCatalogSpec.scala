package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private lazy val cat = new GraftCatalog(spark)

  test("save/read/list/drop through the catalog") {
    cat.saveTable("graft_db", "t1", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    assert(cat.tableExists("graft_db", "t1"))
    assert(cat.table("graft_db", "t1").count() == 2)
    assert(cat.table("graft_db", "t1", pushDownPredicate = Some("id = 1")).count() == 1)
    assert(cat.listTables("graft_db").contains("t1"))
    assert(cat.schemaOf("graft_db", "t1").fieldNames.toSeq == Seq("id", "v"))
    cat.dropTable("graft_db", "t1")
    assert(!cat.tableExists("graft_db", "t1"))
  }

  test("layout column names containing _GRAFT_META delimiters are rejected at write") {
    // a ',' / '=' / newline in a bucket or partition column would
    // round-trip SILENTLY wrong through the k=v sidecar and crawl would
    // recreate a corrupted layout (ADVICE r8) — must fail loudly instead
    val df = Seq((1, "a")).toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      cat.saveBucketed("graft_db", "bad_bucket",
        df.withColumnRenamed("id", "id,x"), "id,x", numBuckets = 2)
    }
    assert(e.getMessage.contains("_GRAFT_META delimiter"))
    val e2 = intercept[IllegalArgumentException] {
      cat.saveTable("graft_db", "bad_part",
        df.withColumnRenamed("v", "v=1"), partitionKeys = Seq("v=1"))
    }
    assert(e2.getMessage.contains("_GRAFT_META delimiter"))
    assert(!cat.tableExists("graft_db", "bad_bucket"))
    assert(!cat.tableExists("graft_db", "bad_part"))
  }

  test("Overwrite save replaces an orphaned warehouse location") {
    // simulate a table directory left behind by a previous session whose
    // (in-memory) catalog is gone: files exist, the catalog has no entry
    cat.saveTable("graft_db", "orphan", Seq((1, "a")).toDF("id", "v"))
    val loc = spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier("orphan", Some("graft_db")))
    spark.sql("DROP TABLE `graft_db`.`orphan`") // in Spark 4 this deletes files...
    val dir = new java.io.File(loc)
    dir.mkdirs()                                // ...so recreate the orphan dir
    // stale files shaped like real Spark table output (part file + marker):
    // only verifiably table-shaped directories may be cleared
    java.nio.file.Files.writeString(dir.toPath.resolve("part-00000-stale.snappy.parquet"), "junk")
    java.nio.file.Files.writeString(dir.toPath.resolve("_SUCCESS"), "")
    assert(!cat.tableExists("graft_db", "orphan") && dir.exists())
    cat.saveTable("graft_db", "orphan", Seq((2, "b")).toDF("id", "v"))
    assert(cat.table("graft_db", "orphan").as[(Int, String)].collect().toSeq == Seq((2, "b")))
    cat.dropTable("graft_db", "orphan")
  }

  test("Overwrite save replaces an orphaned location holding a dead write's _temporary dir") {
    // a save that died mid-write (its tasks still writing when the job
    // aborted) leaves the committer's `_temporary` tree behind: that is
    // Spark table output too, and must not block every later save
    cat.createDatabase("graft_db")
    val loc = spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier("dead_write", Some("graft_db")))
    val attempt = java.nio.file.Paths.get(loc).resolve("_temporary/0/_temporary/attempt_0")
    java.nio.file.Files.createDirectories(attempt)
    java.nio.file.Files.writeString(attempt.resolve("part-00000-x.snappy.parquet"), "junk")
    cat.saveTable("graft_db", "dead_write", Seq((1, "a")).toDF("id", "v"))
    assert(cat.table("graft_db", "dead_write").as[(Int, String)].collect().toSeq == Seq((1, "a")))
    cat.dropTable("graft_db", "dead_write")
  }

  test("Overwrite save REFUSES to clear foreign (non-table) content at the default location") {
    // a shared/persistent warehouse can hold another process's live data
    // at the colliding default path — deleting it silently would be data
    // loss, so the save must fail loudly instead (ADVICE r5 #1)
    val loc = spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier("foreign", Some("graft_db")))
    cat.createDatabase("graft_db")
    val dir = new java.io.File(loc)
    dir.mkdirs()
    val alien = dir.toPath.resolve("live-data.csv")
    java.nio.file.Files.writeString(alien, "not,spark,output")
    try {
      val e = intercept[IllegalStateException] {
        cat.saveTable("graft_db", "foreign", Seq((1, "a")).toDF("id", "v"))
      }
      assert(e.getMessage.contains("refusing to clear"))
      assert(java.nio.file.Files.exists(alien), "foreign file must survive the refusal")
    } finally {
      java.nio.file.Files.deleteIfExists(alien)
      dir.delete()
    }
  }

  test("crawl registers an existing parquet path as a table") {
    val dir = java.nio.file.Files.createTempDirectory("crawl").toString
    Seq((10L, 1.5)).toDF("k", "x").write.parquet(s"$dir/tbl")
    cat.crawl("graft_db", "crawled", s"$dir/tbl")
    assert(cat.table("graft_db", "crawled").as[(Long, Double)].collect().toSeq == Seq((10L, 1.5)))
    cat.dropTable("graft_db", "crawled")
  }

  test("co-bucketed tables join and aggregate with ZERO exchanges") {
    import org.apache.spark.sql.functions._
    val fact = spark.range(0, 10000)
      .select((col("id") % 500).as("k"), (col("id") * 3 % 97).as("amt"))
    val dim = spark.range(0, 500).select(col("id").as("k"), (col("id") % 7).as("seg"))
    cat.saveBucketed("graft_db", "fact_b", fact, "k", numBuckets = 8, sortCols = Seq("k"))
    cat.saveBucketed("graft_db", "dim_b", dim, "k", numBuckets = 8, sortCols = Seq("k"))
    // force the sort-merge path so "no Exchange" proves bucket co-location,
    // not a broadcast; restore the session threshold afterwards
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = cat.table("graft_db", "fact_b")
        .join(cat.table("graft_db", "dim_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")
      // the layout is a real property of the data, not just the plan
      val got = joined.groupBy("seg").agg(sum("amt").as("total"))
      val expect = fact.join(dim, "k").groupBy("seg").agg(sum("amt").as("total"))
      assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
      // aggregation directly on the bucket key: also exchange-free
      val agg = cat.table("graft_db", "fact_b").groupBy("k").agg(sum("amt"))
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    cat.dropTable("graft_db", "fact_b")
    cat.dropTable("graft_db", "dim_b")
  }

  test("catalog survives a session boundary: bucketed zero-exchange join from a NEW session") {
    import org.apache.spark.sql.functions._
    val fact = spark.range(0, 8000)
      .select((col("id") % 400).as("k"), (col("id") % 13).as("amt"))
    val dim = spark.range(0, 400).select(col("id").as("k"), (col("id") % 5).as("seg"))
    cat.saveBucketed("graft_db", "xs_fact", fact, "k", numBuckets = 4, sortCols = Seq("k"))
    cat.saveBucketed("graft_db", "xs_dim", dim, "k", numBuckets = 4, sortCols = Seq("k"))
    // a brand-new session: fresh session state, fresh conf, fresh
    // analyzer — only the warehouse-backed external catalog is shared.
    // Table metadata INCLUDING the bucket spec must be re-resolved from
    // the catalog layer, not remembered by the writing session.
    val ss = spark.newSession()
    val cat2 = new GraftCatalog(ss)
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val joined = cat2.table("graft_db", "xs_fact")
      .join(cat2.table("graft_db", "xs_dim"), "k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed join lost its layout across the session boundary:\n$plan")
    val got = joined.groupBy("seg").agg(sum("amt").as("total"))
      .as[(Long, Long)].collect().toMap
    val expect = fact.join(dim, "k").groupBy("seg").agg(sum("amt").as("total"))
      .as[(Long, Long)].collect().toMap
    assert(got == expect)
    cat.dropTable("graft_db", "xs_fact")
    cat.dropTable("graft_db", "xs_dim")
  }

  test("catalog survives a JVM RESTART: crawl restores the bucket layout from warehouse files alone") {
    import org.apache.spark.sql.functions._
    // a restart clears exactly the in-memory catalog; only warehouse
    // files survive. Simulate that precisely: move the table directories
    // aside, DROP every catalog entry (all metadata gone), then
    // re-register from the moved files into a DIFFERENT database — the
    // crawl can only use what's on disk (_GRAFT_META + parquet footers).
    val fact = spark.range(0, 8000)
      .select((col("id") % 400).as("k"), (col("id") % 13).as("amt"))
    val dim = spark.range(0, 400).select(col("id").as("k"), (col("id") % 5).as("seg"))
    cat.saveBucketed("graft_db", "rs_fact", fact, "k", numBuckets = 4, sortCols = Seq("k"))
    cat.saveBucketed("graft_db", "rs_dim", dim, "k", numBuckets = 4, sortCols = Seq("k"))
    val tmp = java.nio.file.Files.createTempDirectory("restart_wh")
    for (t <- Seq("rs_fact", "rs_dim")) {
      val loc = java.nio.file.Paths.get(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(t, Some("graft_db"))).location)
      java.nio.file.Files.move(loc, tmp.resolve(t))
      cat.dropTable("graft_db", t)
    }
    val cat2 = new GraftCatalog(spark)
    cat2.crawl("graft_db_rs", "rs_fact", tmp.resolve("rs_fact").toString)
    cat2.crawl("graft_db_rs", "rs_dim", tmp.resolve("rs_dim").toString)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = cat2.table("graft_db_rs", "rs_fact")
        .join(cat2.table("graft_db_rs", "rs_dim"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join lost its layout across the restart:\n$plan")
      val got = joined.groupBy("seg").agg(sum("amt").as("total"))
        .as[(Long, Long)].collect().toMap
      val expect = fact.join(dim, "k").groupBy("seg").agg(sum("amt").as("total"))
        .as[(Long, Long)].collect().toMap
      assert(got == expect)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    cat2.dropTable("graft_db_rs", "rs_fact")
    cat2.dropTable("graft_db_rs", "rs_dim")
  }

  test("crawl restores partition metadata: pruned scan after the restart") {
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 1000)
      .select(col("id"), (col("id") % 4).cast("int").as("p"))
    cat.saveTable("graft_db", "rs_part", df, partitionKeys = Seq("p"))
    val loc = java.nio.file.Paths.get(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("rs_part", Some("graft_db"))).location)
    val tmp = java.nio.file.Files.createTempDirectory("restart_wh_p")
    java.nio.file.Files.move(loc, tmp.resolve("rs_part"))
    cat.dropTable("graft_db", "rs_part")
    val cat2 = new GraftCatalog(spark)
    cat2.crawl("graft_db_rs", "rs_part", tmp.resolve("rs_part").toString)
    val q = cat2.table("graft_db_rs", "rs_part").filter(col("p") === 2)
    assert(q.count() == 250)
    // the filter must prune at the PARTITION level, not scan-and-filter
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && !scan.contains("PartitionFilters: []"),
      s"partition filter did not reach the scan:\n$scan")
    cat2.dropTable("graft_db_rs", "rs_part")
  }
}
