package graft.plan

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Edge cases of the driver-local summary serve ([[SummaryLocal]]): the
  * rows and errors it gives where the distributed plan's are easy to
  * get wrong, and the serves that must stay distributed, each with the
  * refusal reason it logs. */
class SummaryLocalServeSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs started under a job group around `body`, and its result. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val group = s"summary-local-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "summary serve")
    try {
      val out = body
      Thread.sleep(500) // the listener bus delivers events asynchronously
      (out, jobs.get)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  private def serveDecisions[A](body: => A): (A, Seq[String]) = {
    val (out, lines) = logged("graft.plan.RollupRewrite")(body)
    (out, lines.filter(_.startsWith("summary serve regime=")))
  }

  /** Register a plain summary of `base` (written under `dir`) and
    * enable the rewrite. */
  private def registerPlain(base: DataFrame, dir: String, grains: Seq[String],
                            measures: Seq[String]): Unit = {
    Rollup.materialize(base, grains, measures).write.mode("overwrite").parquet(s"$dir/summary")
    RollupRewrite.register(base, spark.read.parquet(s"$dir/summary"), grains, measures)
    RollupRewrite.enable(spark)
  }

  private def withDir[A](body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("summary_local").toString
    try body(dir)
    finally {
      RollupRewrite.disable(spark)
      RollupRewrite.setCompensation(false)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  private def baseRows(q: => DataFrame): Set[Row] = {
    RollupRewrite.disable(spark)
    try q.collect().toSet finally RollupRewrite.enable(spark)
  }

  /** `q` served locally with zero jobs; its rows. */
  private def servedLocally(q: => DataFrame): Set[Row] = {
    val before = SummaryLocal.counters
    val ((rows, decisions), jobs) = jobsOf(serveDecisions(q.collect().toSet))
    assert(jobs == 0, s"a local summary serve ran $jobs Spark jobs")
    assert(SummaryLocal.counters.localServes == before.localServes + 1, decisions)
    assert(decisions.nonEmpty && decisions.forall(_.startsWith("summary serve regime=local")),
      decisions)
    rows
  }

  /** `q` served from a summary by the distributed plan, refused for
    * `reason`; its rows. */
  private def servedDistributed(reason: String)(q: => DataFrame): Set[Row] = {
    val before = SummaryLocal.counters
    val (rows, decisions) = serveDecisions(q.collect().toSet)
    assert(SummaryLocal.counters.localServes == before.localServes, decisions)
    assert(SummaryLocal.counters.distributedServes > before.distributedServes, decisions)
    assert(decisions.nonEmpty && decisions.forall(d =>
        d.startsWith("summary serve regime=distributed") && d.contains(s"refused=$reason")),
      decisions)
    rows
  }

  test("a global aggregate whose grain filter keeps no summary row gives the base's one row: count 0, null sum") {
    withDir { dir =>
      Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("g", "m").write.parquet(s"$dir/base")
      val base = spark.read.parquet(s"$dir/base")
      registerPlain(base, dir, Seq("g"), Seq("m"))
      def q() = base.filter(col("g") === "zz").agg(count(lit(1)).as("n"), sum("m").as("s"),
        countDistinct("g").as("d"))
      val got = servedLocally(q())
      assert(got == baseRows(q()))
      assert(got == Set(Row(0L, null, 0L)))
      // grouped: no group, no row
      assert(servedLocally(base.filter(col("g") === "zz").groupBy("g").agg(sum("m"))).isEmpty)
    }
  }

  test("min and max over an all-null measure are null, as on the base") {
    withDir { dir =>
      Seq(("a", None), ("a", None), ("b", Some(4L))).toDF("g", "m").write.parquet(s"$dir/base")
      val base = spark.read.parquet(s"$dir/base")
      registerPlain(base, dir, Seq("g"), Seq("m"))
      def q() = base.groupBy("g").agg(min("m").as("lo"), max("m").as("hi"),
        count("m").as("c"), sum("m").as("s"), avg("m").as("a"))
      val got = servedLocally(q())
      assert(got == baseRows(q()))
      assert(got.contains(Row("a", null, null, 0L, null, null)))
    }
  }

  test("an ANSI bigint sum overflow raises the same error class in both regimes") {
    withDir { dir =>
      assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
      Seq(("a", 5000000000000000000L), ("b", 5000000000000000000L)).toDF("g", "m")
        .write.parquet(s"$dir/base")
      val base = spark.read.parquet(s"$dir/base")
      registerPlain(base, dir, Seq("g"), Seq("m"))
      def condition(e: Throwable): String =
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst {
          case t: org.apache.spark.SparkThrowable if t.getCondition != null &&
              !t.getCondition.startsWith("INTERNAL") => t.getCondition
        }.getOrElse(s"no condition: $e")
      val before = SummaryLocal.counters.localServes
      val local = intercept[Throwable](base.agg(sum("m")).collect())
      assert(SummaryLocal.counters.localServes == before + 1)
      RollupRewrite.disable(spark)
      val dist = intercept[Throwable](base.agg(sum("m")).collect())
      assert(condition(local) == condition(dist) && condition(local) == "ARITHMETIC_OVERFLOW",
        s"local: $local\ndistributed: $dist")
    }
  }

  test("an over-cap batch stays distributed with the same rows") {
    withDir { dir =>
      // about 20 MB of poorly compressible grain values, one group each
      spark.range(0, 260000, 1, 4)
        .select(concat(sha2(col("id").cast("string"), 256),
          sha2((col("id") + 7).cast("string"), 256)).as("g"), (col("id") % 5).as("m"))
        .write.parquet(s"$dir/base")
      val base = spark.read.parquet(s"$dir/base")
      registerPlain(base, dir, Seq("g"), Seq("m"))
      val bytes = new java.io.File(s"$dir/summary").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum
      assert(bytes > SummaryLocal.MaxSummaryBytes, s"summary has only $bytes bytes")
      def q() = base.agg(sum("m").as("s"), count(lit(1)).as("n"))
      assert(RollupRewrite.scanRootPaths(q()).forall(_.contains("summary")))
      assert(servedDistributed("over cap")(q()) == baseRows(q()))
    }
  }

  test("an undecodable measure (decimal) stays distributed with the same rows") {
    withDir { dir =>
      Seq(("a", BigDecimal("1.25")), ("b", BigDecimal("2.50"))).toDF("g", "m")
        .select(col("g"), col("m").cast("decimal(12,2)").as("m")).write.parquet(s"$dir/base")
      val base = spark.read.parquet(s"$dir/base")
      registerPlain(base, dir, Seq("g"), Seq("m"))
      def q() = base.groupBy("g").agg(sum("m").as("s"))
      assert(servedDistributed("undecodable schema")(q()) == baseRows(q()))
    }
  }

  test("cube, navigation and compensated serves stay distributed, each with its reason") {
    withDir { dir =>
      Seq(("a", "x", 1L, 1L), ("a", "y", 2L, 2L), ("b", "x", 3L, 1L)).toDF("g", "h", "m", "k")
        .write.parquet(s"$dir/base")
      Seq((1L, "p"), (2L, "q")).toDF("dk", "dg").write.parquet(s"$dir/dim")
      val base = spark.read.parquet(s"$dir/base")
      val dim = spark.read.parquet(s"$dir/dim")
      registerPlain(base, dir, Seq("g", "h", "k"), Seq("m"))
      def cube() = base.cube("g", "h").agg(sum("m").as("s"))
      assert(servedDistributed("cube serve")(cube()) == baseRows(cube()))
      Rollup.materialize(dim, Seq("dk", "dg"), Seq("dk")).write.parquet(s"$dir/dsum")
      RollupRewrite.register(dim, spark.read.parquet(s"$dir/dsum"), Seq("dk", "dg"), Seq("dk"))
      def nav() = base.join(dim, col("k") === col("dk")).groupBy("dg").agg(sum("m").as("s"))
      assert(RollupRewrite.scanRootPaths(nav()).forall(_.contains("sum")))
      assert(servedDistributed("navigation serve")(nav()) == baseRows(nav()))
      Seq(("c", "z", 9L, 2L)).toDF("g", "h", "m", "k").write.mode("append").parquet(s"$dir/base")
      RollupRewrite.setCompensation(true)
      def comp() = spark.read.parquet(s"$dir/base").groupBy("g").agg(sum("m").as("s"))
      assert(servedDistributed("compensated serve")(comp()) == baseRows(comp()))
    }
  }

  test("a grain filter on a scalar subquery stays distributed with the base's rows") {
    withDir { dir =>
      Seq(("a", 1L), ("a", 2L), ("b", 3L), ("c", 4L)).toDF("g", "m").write.parquet(s"$dir/base")
      Seq("b", "a").toDF("pick").write.parquet(s"$dir/picks")
      val base = spark.read.parquet(s"$dir/base")
      registerPlain(base, dir, Seq("g"), Seq("m"))
      base.createOrReplaceTempView("summary_local_base")
      spark.read.parquet(s"$dir/picks").createOrReplaceTempView("summary_local_picks")
      try {
        def q() = spark.sql("SELECT sum(m) AS s, count(*) AS n FROM summary_local_base " +
          "WHERE g = (SELECT max(pick) FROM summary_local_picks)")
        assert(RollupRewrite.scanRootPaths(q()).exists(_.contains("summary")))
        val got = servedDistributed("subquery")(q())
        assert(got == baseRows(q()) && got == Set(Row(3L, 1L)))
      } finally {
        spark.catalog.dropTempView("summary_local_base")
        spark.catalog.dropTempView("summary_local_picks")
      }
    }
  }

  test("a batch the driver cannot decode as the scan's types serves distributed, counted once") {
    withDir { dir =>
      Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("g", "m").write.parquet(s"$dir/base")
      val base = spark.read.parquet(s"$dir/base")
      // the file holds int measures; the relation reads them as bigint
      val summary = Rollup.materialize(base, Seq("g"), Seq("m"))
      summary.select(summary.schema.fields.toSeq.map { f =>
        if (f.dataType == org.apache.spark.sql.types.LongType) col(f.name).cast("int").as(f.name)
        else col(f.name)
      }: _*).write.parquet(s"$dir/summary")
      RollupRewrite.register(base, spark.read.schema(summary.schema).parquet(s"$dir/summary"),
        Seq("g"), Seq("m"))
      RollupRewrite.enable(spark)
      def q() = base.groupBy("g").agg(sum("m").as("s"), count(lit(1)).as("n"))
      val before = SummaryLocal.counters
      val (rows, decisions) = serveDecisions(q().collect().toSet)
      val after = SummaryLocal.counters
      assert(after.localServes == before.localServes, decisions)
      assert(after.distributedServes == before.distributedServes + 1, decisions)
      assert(decisions.size == 2 && decisions.head.startsWith("summary serve regime=local") &&
        decisions(1).startsWith("summary serve regime=distributed") &&
        decisions(1).contains("refused=undecodable file"), decisions)
      assert(rows == baseRows(q()) && rows == Set(Row("a", 3L, 2L), Row("b", 3L, 1L)))
    }
  }
}
