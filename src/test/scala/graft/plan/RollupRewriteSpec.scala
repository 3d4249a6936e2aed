package graft.plan

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.SparkSpec

class RollupRewriteSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def scanPaths(df: DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.map(_.toString)
    }.flatten.toSet

  private def withRollup[A](groupCols: Seq[String], measures: Seq[String])
                           (body: (DataFrame, String) => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("rollup").toString
    val base = spark.read.parquet(s"$sf/orders.parquet")
    Rollup.materialize(base, groupCols, measures)
      .write.mode("overwrite").parquet(s"$dir/summary")
    RollupRewrite.register(base, spark.read.parquet(s"$dir/summary"),
      groupCols, measures)
    RollupRewrite.enable(spark)
    try body(base, dir)
    finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("derivable aggregate is answered from the summary, bit-equal for integral measures") {
    withRollup(Seq("o_orderpriority", "o_orderstatus"),
               Seq("o_totalprice", "o_custkey")) { (base, dir) =>
      def q(src: DataFrame) = src.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum("o_custkey").as("s_cust"),
          avg("o_custkey").as("a_cust"),
          count(col("o_totalprice")).as("c_total"),
          min("o_totalprice").as("mn"), max("o_totalprice").as("mx"),
          sum("o_totalprice").as("s_total"))
      val rewritten = q(base)
      assert(scanPaths(rewritten).forall(_.contains(dir)),
        s"rewritten plan still reads the base:\n${rewritten.queryExecution.optimizedPlan}")
      RollupRewrite.disable(spark)
      val direct = q(base)
      assert(scanPaths(direct).exists(_.contains("orders.parquet")))
      RollupRewrite.enable(spark)
      val r = rewritten.orderBy("o_orderpriority").collect()
      val d = direct.orderBy("o_orderpriority").collect()
      assert(r.length == d.length && r.nonEmpty)
      r.zip(d).foreach { case (a, b) =>
        assert(a.getString(0) == b.getString(0))
        assert(a.getLong(1) == b.getLong(1))     // count(*)
        assert(a.getLong(2) == b.getLong(2))     // sum(int) — exact
        assert(a.getDouble(3) == b.getDouble(3)) // avg(int): exact int sums both paths
        assert(a.getLong(4) == b.getLong(4))     // count(measure)
        assert(a.getDouble(5) == b.getDouble(5)) // min — carried verbatim
        assert(a.getDouble(6) == b.getDouble(6)) // max
        // float sum: partial-merge order differs from the direct scan order
        assert(math.abs(a.getDouble(7) - b.getDouble(7)) < 1e-6)
      }
    }
  }

  test("subset grouping and group-column filters ride the summary") {
    withRollup(Seq("o_orderpriority", "o_orderstatus"), Seq("o_totalprice")) {
      (base, dir) =>
        def q(src: DataFrame) = src
          .filter(col("o_orderstatus") =!= "P")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum("o_totalprice").as("s"))
        val rewritten = q(base)
        assert(scanPaths(rewritten).forall(_.contains(dir)))
        RollupRewrite.disable(spark)
        val direct = q(base).collect().map(r => (r.getString(0), r.getLong(1))).toSet
        RollupRewrite.enable(spark)
        assert(rewritten.collect().map(r => (r.getString(0), r.getLong(1))).toSet
          == direct)
    }
  }

  test("expressions OVER aggregates survive CollapseProject and still rewrite") {
    // a .select(round(sum), concat(group, count)) above the aggregate is
    // folded INTO Aggregate.resultExpressions by CollapseProject before
    // extraOptimizations run — the rule must rewrite inside those trees
    withRollup(Seq("o_orderpriority", "o_orderstatus"), Seq("o_totalprice")) {
      (base, dir) =>
        def q(src: DataFrame) = src.groupBy("o_orderpriority")
          .agg(sum("o_totalprice").as("s"), count(lit(1)).as("n"))
          .select(concat(col("o_orderpriority"), lit("#"),
              col("n").cast("string")).as("tag"),
            round(col("s"), 2).as("s2"))
        val rewritten = q(base)
        assert(scanPaths(rewritten).forall(_.contains(dir)),
          s"not rewritten:\n${rewritten.queryExecution.optimizedPlan}")
        RollupRewrite.disable(spark)
        val direct = q(base).collect().map(r => (r.getString(0), r.getDouble(1))).toMap
        RollupRewrite.enable(spark)
        val got = rewritten.collect().map(r => (r.getString(0), r.getDouble(1))).toMap
        assert(got.keySet == direct.keySet)
        got.foreach { case (k, v) => assert(math.abs(v - direct(k)) < 1e-6) }
    }
  }

  test("non-derivable shapes are left on the base table, untouched") {
    withRollup(Seq("o_orderpriority", "o_orderstatus"), Seq("o_totalprice")) {
      (base, dir) =>
        val onBase = Seq(
          // filter on a non-group column
          base.filter(col("o_orderkey") > 100).groupBy("o_orderpriority")
            .agg(count(lit(1)).as("n")),
          // grouping outside the registered set
          base.groupBy("o_orderdate").agg(count(lit(1)).as("n")),
          // distinct aggregate over a NON-grain column (grain-column
          // distinct counts ARE served exactly since VERDICT r9 #4)
          base.groupBy("o_orderpriority")
            .agg(countDistinct(col("o_orderdate")).as("n")),
          // non-derivable measure
          base.groupBy("o_orderpriority").agg(sum("o_orderkey").as("n")))
        onBase.foreach { df =>
          assert(scanPaths(df).exists(_.contains("orders.parquet")),
            s"should NOT have been rewritten:\n${df.queryExecution.optimizedPlan}")
          assert(df.collect().nonEmpty)
        }
    }
  }

  test("null measures and null group values round-trip exactly") {
    val dir = java.nio.file.Files.createTempDirectory("rollup_null").toString
    try {
      Seq[(String, Option[String], Option[Double])](
        ("a", Some("x"), Some(1.5)), ("a", Some("x"), None),
        ("a", Some("y"), None),                    // all-null measure group
        ("b", None, Some(2.5)), ("b", None, Some(3.0)), // null group value
        ("b", Some("x"), Some(-1.0)))
        .toDF("k1", "k2", "m")
        .write.mode("overwrite").parquet(s"$dir/base")
      val base = spark.read.parquet(s"$dir/base")
      Rollup.materialize(base, Seq("k1", "k2"), Seq("m"))
        .write.mode("overwrite").parquet(s"$dir/summary")
      RollupRewrite.register(base, spark.read.parquet(s"$dir/summary"),
        Seq("k1", "k2"), Seq("m"))
      RollupRewrite.enable(spark)
      def q(src: DataFrame) = src.groupBy("k2")
        .agg(count(lit(1)).as("n"), count(col("m")).as("c"),
          sum("m").as("s"), min("m").as("mn"), max("m").as("mx"),
          avg("m").as("a"))
      val rewritten = q(base)
      assert(scanPaths(rewritten).forall(_.contains("summary")))
      val got = rewritten.collect()
        .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2),
          Option(r.get(3)), Option(r.get(4)), Option(r.get(5)), Option(r.get(6))))
        .toSet
      RollupRewrite.disable(spark)
      val want = q(base).collect()
        .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2),
          Option(r.get(3)), Option(r.get(4)), Option(r.get(5)), Option(r.get(6))))
        .toSet
      assert(got == want)
      assert(want.exists(_._4.isEmpty), "an all-null sum group must exist")
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("merge of slice summaries ≡ full materialize (incl. one-sided groups)") {
    val base = spark.read.parquet(s"$sf/orders.parquet")
    val gc = Seq("o_orderpriority", "o_orderstatus")
    val ms = Seq("o_totalprice", "o_custkey")
    val a = Rollup.materialize(base.filter(col("o_orderkey") % 2 === 0), gc, ms)
    val b = Rollup.materialize(base.filter(col("o_orderkey") % 2 =!= 0), gc, ms)
    val merged = Rollup.merge(a, b, gc, ms).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val full = Rollup.materialize(base, gc, ms).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(merged.keySet == full.keySet && full.nonEmpty)
    val cols = Rollup.materialize(base, gc, ms).columns
    full.foreach { case (k, f) =>
      val m = merged(k)
      cols.zipWithIndex.foreach { case (c, i) =>
        if (c.startsWith("__sum_o_totalprice"))
          assert(math.abs(m.getDouble(i) - f.getDouble(i)) < 1e-6, c)
        else assert(m.get(i) == f.get(i), c) // counts, min/max, long sums: exact
      }
    }
    // layout validation rejects a non-summary input
    intercept[IllegalArgumentException] {
      Rollup.merge(a, base, gc, ms)
    }
  }

  test("global (no-group) aggregate rides the summary") {
    withRollup(Seq("o_orderpriority", "o_orderstatus"), Seq("o_custkey")) {
      (base, dir) =>
        def q(src: DataFrame) = src.agg(count(lit(1)).as("n"),
          sum("o_custkey").as("s"), min("o_custkey").as("mn"))
        val rewritten = q(base)
        assert(scanPaths(rewritten).forall(_.contains(dir)),
          s"global aggregate not rewritten:\n${rewritten.queryExecution.optimizedPlan}")
        RollupRewrite.disable(spark)
        val direct = q(base).collect().head
        RollupRewrite.enable(spark)
        val got = rewritten.collect().head
        assert(got.getLong(0) == direct.getLong(0))
        assert(got.getLong(1) == direct.getLong(1))
        assert(got.getLong(2) == direct.getLong(2))
    }
  }

  test("empty-match filter: global counts coalesce to 0 like the base (ADVICE r9)") {
    withRollup(Seq("o_orderpriority", "o_orderstatus"), Seq("o_custkey")) {
      (base, dir) =>
        def q(src: DataFrame) = src.filter(col("o_orderpriority") === "NO-SUCH")
          .agg(count(lit(1)).as("n"), count(col("o_custkey")).as("c"),
            sum("o_custkey").as("s"))
        val rewritten = q(base)
        assert(scanPaths(rewritten).forall(_.contains(dir)))
        RollupRewrite.disable(spark)
        val direct = q(base).collect().head
        RollupRewrite.enable(spark)
        assert(direct.getLong(0) == 0L && direct.getLong(1) == 0L && direct.isNullAt(2))
        val got = rewritten.collect().head
        assert(got.getLong(0) == 0L, "count(*) must be 0, not NULL")
        assert(got.getLong(1) == 0L, "count(m) must be 0, not NULL")
        assert(got.isNullAt(2), "sum stays NULL on empty input")
    }
  }

  test("non-deterministic filter never pushes onto the summary (ADVICE r9)") {
    withRollup(Seq("o_orderpriority", "o_orderstatus"), Seq("o_custkey")) {
      (base, _) =>
        // rand() has no attribute references — the reference check alone
        // passes vacuously; pushing it would sample GROUPS, not rows
        val q = base.filter(rand(42) < 0.5)
          .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        assert(scanPaths(q).exists(_.contains("orders.parquet")),
          s"non-deterministic filter was pushed onto the summary:\n${q.queryExecution.optimizedPlan}")
    }
  }

  test("decimal sums: rewrite preserves the query's sum type; merge preserves the layout (ADVICE r9)") {
    val dir = java.nio.file.Files.createTempDirectory("rollup_dec").toString
    try {
      Seq(("a", "1.25"), ("a", "2.75"), ("b", "0.50"), ("b", "99999999.99"))
        .toDF("g", "ms")
        .select(col("g"), col("ms").cast("decimal(10,2)").as("m"))
        .write.mode("overwrite").parquet(s"$dir/base")
      val base = spark.read.parquet(s"$dir/base")
      val mat = Rollup.materialize(base, Seq("g"), Seq("m"))
      mat.write.mode("overwrite").parquet(s"$dir/summary")
      RollupRewrite.register(base, spark.read.parquet(s"$dir/summary"),
        Seq("g"), Seq("m"))
      RollupRewrite.enable(spark)
      def q(src: DataFrame) = src.groupBy("g").agg(sum("m").as("s"))
      val rewritten = q(base)
      assert(scanPaths(rewritten).forall(_.contains("summary")))
      RollupRewrite.disable(spark)
      val direct = q(base)
      assert(rewritten.schema == direct.schema,
        s"decimal sum type drifted: ${rewritten.schema} vs ${direct.schema}")
      assert(rewritten.collect().map(r => (r.getString(0), r.getDecimal(1))).toSet
        == direct.collect().map(r => (r.getString(0), r.getDecimal(1))).toSet)
      // merge must not widen the stored layout round over round
      val s1 = Rollup.materialize(base.filter(col("m") < 50), Seq("g"), Seq("m"))
      val s2 = Rollup.materialize(base.filter(col("m") >= 50), Seq("g"), Seq("m"))
      // nullability legitimately differs (sum is nullable, the parquet
      // round-trip erases it anyway) — the layout contract is the TYPES
      def types(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))
      val merged = Rollup.merge(s1, s2, Seq("g"), Seq("m"))
      assert(types(merged) == types(mat),
        s"merge drifted the layout: ${merged.schema} vs ${mat.schema}")
      val again = Rollup.merge(merged, s2.filter(lit(false)), Seq("g"), Seq("m"))
      assert(types(again) == types(mat), "second merge round widened again")
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("avg(decimal) SERVES from the summary bit-exactly, type preserved (VERDICT r12 #4)") {
    val dir = java.nio.file.Files.createTempDirectory("rollup_decavg").toString
    try {
      // group "c" stresses scale-6 HALF_UP rounding: 0.04/3 =
      // 0.0133333|3… — a non-terminating quotient where a derivation
      // that diverges from Spark's own Average tree (different operand
      // types, different rounding point) would show
      Seq(("a", "1.10"), ("a", "2.30"), ("b", "5.50"),
          ("c", "0.01"), ("c", "0.01"), ("c", "0.02"))
        .toDF("g", "ms")
        .select(col("g"), col("ms").cast("decimal(10,2)").as("m"))
        .write.mode("overwrite").parquet(s"$dir/base")
      val base = spark.read.parquet(s"$dir/base")
      Rollup.materialize(base, Seq("g"), Seq("m"))
        .write.mode("overwrite").parquet(s"$dir/summary")
      RollupRewrite.register(base, spark.read.parquet(s"$dir/summary"),
        Seq("g"), Seq("m"))
      RollupRewrite.enable(spark)
      def q(src: DataFrame) = src.groupBy("g")
        .agg(avg("m").as("a"), sum("m").as("s"))
      val rewritten = q(base)
      assert(scanPaths(rewritten).forall(_.contains("summary")),
        s"avg(decimal) must serve from the summary:\n${rewritten.queryExecution.optimizedPlan}")
      RollupRewrite.disable(spark)
      val direct = q(base)
      assert(rewritten.schema == direct.schema,
        s"avg(decimal) retyped the output: ${rewritten.schema} vs ${direct.schema}")
      def rows(df: DataFrame) = df.collect().map(r =>
        (r.getString(0), r.getDecimal(1).toPlainString,
          r.getDecimal(2).toPlainString)).toSet
      val got = rows(rewritten)
      assert(got == rows(direct), s"summary-served avg(decimal) diverged: $got")
      assert(got == Set(("a", "1.700000", "3.40"), ("b", "5.500000", "5.50"),
        ("c", "0.013333", "0.04")), s"decimal avg/sum values wrong: $got")
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("count(5) / count(1,2) serve as row counts (ADVICE r12: derive now matches classifyAggs)") {
    withRollup(Seq("o_orderpriority", "o_orderstatus"), Seq("o_totalprice")) {
      (base, dir) =>
        def q(src: DataFrame) = src.groupBy("o_orderpriority")
          .agg(count(lit(5)).as("n5"), expr("count(1, 2)").as("n12"),
            count(lit(1)).as("n1"))
        val rewritten = q(base)
        assert(scanPaths(rewritten).forall(_.contains(dir)),
          s"literal counts must serve:\n${rewritten.queryExecution.optimizedPlan}")
        RollupRewrite.disable(spark)
        val direct = q(base).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        RollupRewrite.enable(spark)
        assert(rewritten.collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
          == direct)
    }
  }

  test("staleness guard: base append without merge makes the rewrite fall through (VERDICT r9 #1)") {
    val dir = java.nio.file.Files.createTempDirectory("rollup_stale").toString
    try {
      Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("g", "m")
        .write.mode("overwrite").parquet(s"$dir/base")
      val base0 = spark.read.parquet(s"$dir/base") // pre-append handle
      Rollup.materialize(base0, Seq("g"), Seq("m"))
        .write.mode("overwrite").parquet(s"$dir/summary")
      RollupRewrite.register(base0, spark.read.parquet(s"$dir/summary"),
        Seq("g"), Seq("m"))
      RollupRewrite.enable(spark)
      def q(src: DataFrame) = src.groupBy("g").agg(sum("m").as("s"))
      assert(scanPaths(q(base0)).forall(_.contains("summary")), "fresh: rides summary")
      // append WITHOUT Rollup.merge — the materialized-view trap
      Seq(("a", 100L)).toDF("g", "m").write.mode("append").parquet(s"$dir/base")
      val base1 = spark.read.parquet(s"$dir/base") // fresh listing sees the append
      val fallen = q(base1)
      assert(scanPaths(fallen).exists(_.contains("base")),
        s"stale summary served:\n${fallen.queryExecution.optimizedPlan}")
      // CORRECT answer from the base, including the unmerged row
      assert(fallen.collect().map(r => (r.getString(0), r.getLong(1))).toSet
        == Set(("a", 103L), ("b", 3L)))
      // a query over the PRE-append handle scans exactly the registered
      // files — the summary is still answer-equivalent for it
      assert(scanPaths(q(base0)).forall(_.contains("summary")),
        "pre-append handle must still ride the summary")
      // strict mode: the same staleness throws instead of falling through
      RollupRewrite.setStrictStaleness(true)
      try intercept[IllegalStateException] { q(base1).queryExecution.optimizedPlan }
      finally RollupRewrite.setStrictStaleness(false)
      // maintenance loop closes the gap: re-materialize + re-register
      Rollup.materialize(base1, Seq("g"), Seq("m"))
        .write.mode("overwrite").parquet(s"$dir/summary2")
      RollupRewrite.register(base1, spark.read.parquet(s"$dir/summary2"),
        Seq("g"), Seq("m"))
      val served = q(spark.read.parquet(s"$dir/base"))
      assert(scanPaths(served).forall(_.contains("summary2")),
        "re-registered grain must serve again (and replace the stale entry)")
      assert(served.collect().map(r => (r.getString(0), r.getLong(1))).toSet
        == Set(("a", 103L), ("b", 3L)))
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.setStrictStaleness(false)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("count(distinct grain-col) rides the summary bit-exact; non-grain distinct stays (VERDICT r9 #4)") {
    withRollup(Seq("o_orderpriority", "o_orderstatus"), Seq("o_custkey")) {
      (base, dir) =>
        def q(src: DataFrame) = src.groupBy("o_orderstatus")
          .agg(countDistinct("o_orderpriority").as("nd"),
            count(lit(1)).as("n"), sum("o_custkey").as("s"))
        val rewritten = q(base)
        assert(scanPaths(rewritten).forall(_.contains(dir)),
          s"distinct-on-grain not served:\n${rewritten.queryExecution.optimizedPlan}")
        RollupRewrite.disable(spark)
        val want = q(base).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        RollupRewrite.enable(spark)
        val got = rewritten.collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        assert(got == want && want.nonEmpty)
        // filtered + global variants
        def g(src: DataFrame) = src
          .filter(col("o_orderstatus") =!= "P")
          .agg(countDistinct("o_orderpriority", "o_orderstatus").as("nd"))
        val gr = g(base)
        assert(scanPaths(gr).forall(_.contains(dir)))
        RollupRewrite.disable(spark)
        val wantG = g(base).collect().head.getLong(0)
        RollupRewrite.enable(spark)
        assert(gr.collect().head.getLong(0) == wantG)
        // distinct over a NON-grain column must not be served exactly
        val non = base.groupBy("o_orderstatus")
          .agg(countDistinct("o_orderdate").as("nd"))
        assert(scanPaths(non).exists(_.contains("orders.parquet")),
          "non-grain distinct column must stay on the base")
    }
  }

  // --- lattice routing: several grains registered over one base ---

  private def withLattice[A](body: (DataFrame, String) => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("rollup_lattice").toString
    val base = spark.read.parquet(s"$sf/orders.parquet")
    // register the FINE grain first: selection must be by grain size,
    // not registration order
    Rollup.materialize(base, Seq("o_orderpriority", "o_orderstatus"),
        Seq("o_totalprice", "o_custkey"))
      .write.mode("overwrite").parquet(s"$dir/fine")
    Rollup.materialize(base, Seq("o_orderstatus"), Seq("o_totalprice"))
      .write.mode("overwrite").parquet(s"$dir/coarse")
    RollupRewrite.register(base, spark.read.parquet(s"$dir/fine"),
      Seq("o_orderpriority", "o_orderstatus"), Seq("o_totalprice", "o_custkey"))
    RollupRewrite.register(base, spark.read.parquet(s"$dir/coarse"),
      Seq("o_orderstatus"), Seq("o_totalprice"))
    RollupRewrite.enable(spark)
    try body(base, dir)
    finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("lattice: coarsest qualifying grain wins regardless of registration order") {
    withLattice { (base, dir) =>
      val q = base.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum("o_totalprice").as("s"))
      val scans = scanPaths(q)
      assert(scans.forall(_.contains(s"$dir/coarse")),
        s"expected the status-grain summary, got $scans")
      assert(q.collect().nonEmpty)
    }
  }

  test("lattice: falls to the finer grain when the coarse one lacks the measure") {
    withLattice { (base, dir) =>
      // status grouping is coarse-servable, but sum(o_custkey) is only
      // stored at the fine grain
      val q = base.groupBy("o_orderstatus")
        .agg(sum("o_custkey").as("s"), count(lit(1)).as("n"))
      val scans = scanPaths(q)
      assert(scans.forall(_.contains(s"$dir/fine")),
        s"expected the fine summary, got $scans")
      // and when the grouping needs the fine grain's column
      val q2 = base.groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      assert(scanPaths(q2).forall(_.contains(s"$dir/fine")))
    }
  }

  test("lattice: falls to the finer grain when a filter references an uncarried column") {
    withLattice { (base, dir) =>
      val q = base.filter(col("o_orderpriority") =!= "1-URGENT")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum("o_totalprice").as("s"))
      val scans = scanPaths(q)
      assert(scans.forall(_.contains(s"$dir/fine")),
        s"filter on o_orderpriority must push selection to the fine grain, got $scans")
      RollupRewrite.disable(spark)
      val want = q.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      RollupRewrite.enable(spark)
      assert(q.collect().map(r => (r.getString(0), r.getLong(1))).toSet == want)
    }
  }

  test("lattice: falls to the base when no grain can answer") {
    withLattice { (base, dir) =>
      val q = base.groupBy("o_orderstatus").agg(sum("o_orderkey").as("s"))
      assert(scanPaths(q).exists(_.contains("orders.parquet")),
        "unregistered measure must fall through to the base table")
      assert(q.collect().nonEmpty)
    }
  }

  // --- sketch-carrying summaries: distinct counts from the rollup tier ---

  test("sketch query is served from the summary, sketch and estimate IDENTICAL to base") {
    import graft.functions.expressions.KmvDistinctAgg.{estimateDistinct, kmvSketch}
    import graft.curate.Curate.portableHash60
    val dir = java.nio.file.Files.createTempDirectory("rollup_kmv").toString
    val k = 16
    try {
      val base = spark.read.parquet(s"$sf/orders.parquet")
      Rollup.materialize(base, Seq("o_orderstatus"), Seq("o_totalprice"),
          distinctCols = Seq("o_custkey"), sketchK = k)
        .write.mode("overwrite").parquet(s"$dir/summary")
      RollupRewrite.register(base, spark.read.parquet(s"$dir/summary"),
        Seq("o_orderstatus"), Seq("o_totalprice"),
        distinctCols = Seq("o_custkey"), sketchK = k)
      RollupRewrite.enable(spark)
      def q(src: org.apache.spark.sql.DataFrame) = src.groupBy("o_orderstatus")
        .agg(kmvSketch(portableHash60(col("o_custkey")), k).as("mins"),
          count(lit(1)).as("n"))
        .select(col("o_orderstatus"), col("n"),
          concat_ws(",", col("mins")).as("mins_str"),
          estimateDistinct(col("mins"), k).as("est"))
      val rewritten = q(base)
      assert(scanPaths(rewritten).forall(_.contains("summary")),
        s"sketch query not rewritten:\n${rewritten.queryExecution.optimizedPlan}")
      val got = rewritten.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
      RollupRewrite.disable(spark)
      val want = q(base).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
      assert(got == want && want.nonEmpty,
        "summary-served sketches must be IDENTICAL (lossless KMV merge)")
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("sketch merge of slice summaries ≡ full materialize, bit for bit") {
    val base = spark.read.parquet(s"$sf/orders.parquet")
    val gc = Seq("o_orderstatus")
    val ms = Seq("o_totalprice")
    val dc = Seq("o_custkey")
    val a = Rollup.materialize(base.filter(col("o_orderkey") % 2 === 0), gc, ms, dc, 16)
    val b = Rollup.materialize(base.filter(col("o_orderkey") % 2 =!= 0), gc, ms, dc, 16)
    val merged = Rollup.merge(a, b, gc, ms, dc, 16)
      .select(col("o_orderstatus"), concat_ws(",", col("__kmv_o_custkey")).as("s"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val full = Rollup.materialize(base, gc, ms, dc, 16)
      .select(col("o_orderstatus"), concat_ws(",", col("__kmv_o_custkey")).as("s"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(merged == full && full.nonEmpty)
  }

  test("sketch queries with the wrong k, column, or hash shape stay on the base") {
    import graft.functions.expressions.KmvDistinctAgg.kmvSketch
    import graft.curate.Curate.portableHash60
    val dir = java.nio.file.Files.createTempDirectory("rollup_kmv2").toString
    try {
      val base = spark.read.parquet(s"$sf/orders.parquet")
      Rollup.materialize(base, Seq("o_orderstatus"), Seq("o_totalprice"),
          distinctCols = Seq("o_custkey"), sketchK = 16)
        .write.mode("overwrite").parquet(s"$dir/summary")
      RollupRewrite.register(base, spark.read.parquet(s"$dir/summary"),
        Seq("o_orderstatus"), Seq("o_totalprice"),
        distinctCols = Seq("o_custkey"), sketchK = 16)
      RollupRewrite.enable(spark)
      val onBase = Seq(
        // k mismatch: a 32-sketch cannot be derived from a 16-sketch
        base.groupBy("o_orderstatus")
          .agg(kmvSketch(portableHash60(col("o_custkey")), 32).as("mins")),
        // unregistered distinct column
        base.groupBy("o_orderstatus")
          .agg(kmvSketch(portableHash60(col("o_orderkey")), 16).as("mins")),
        // different hash shape (raw column, not the portable hash)
        base.groupBy("o_orderstatus")
          .agg(kmvSketch(col("o_custkey"), 16).as("mins")))
      onBase.foreach { df =>
        assert(scanPaths(df).exists(_.contains("orders.parquet")),
          s"should NOT have been rewritten:\n${df.queryExecution.optimizedPlan}")
      }
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("HAVING and ORDER BY above a rewritten aggregate are untouched (exprIds preserved)") {
    withRollup(Seq("o_orderpriority", "o_orderstatus"), Seq("o_totalprice")) {
      (base, dir) =>
        def q(src: DataFrame) = src.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), sum("o_totalprice").as("s"))
          .filter(col("n") > 100)          // HAVING over the aggregate
          .orderBy(col("s").desc)
        val rewritten = q(base)
        assert(scanPaths(rewritten).forall(_.contains(dir)),
          s"HAVING query not rewritten:\n${rewritten.queryExecution.optimizedPlan}")
        RollupRewrite.disable(spark)
        val want = q(base).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        RollupRewrite.enable(spark)
        assert(rewritten.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
          == want, "HAVING filter and ordering must survive the redirect")
        assert(want.nonEmpty)
    }
  }

  // --- grouping sets: cube / rollup served from the summary ---

  test("cube rides the summary: all grouping sets from one summary scan") {
    withRollup(Seq("o_orderpriority", "o_orderstatus"),
               Seq("o_totalprice", "o_custkey")) { (base, dir) =>
      def q(src: DataFrame) = src
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum("o_custkey").as("s_int"),
          min("o_totalprice").as("mn"), max("o_totalprice").as("mx"),
          avg("o_custkey").as("a_int"), sum("o_totalprice").as("s_f"))
      val rewritten = q(base)
      assert(scanPaths(rewritten).forall(_.contains(dir)),
        s"cube not rewritten:\n${rewritten.queryExecution.optimizedPlan}")
      RollupRewrite.disable(spark)
      val want = q(base).collect().map(r =>
        (Option(r.getString(0)), Option(r.getString(1)), r.getLong(2),
         r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSet
      RollupRewrite.enable(spark)
      val got = rewritten.collect().map(r =>
        (Option(r.getString(0)), Option(r.getString(1)), r.getLong(2),
         r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSet
      assert(got == want && want.size > 4,
        "all four grouping sets must match exactly on integral measures")
      // float sums compared with tolerance, keyed by the grouping tuple
      RollupRewrite.disable(spark)
      val wantF = q(base).collect().map(r =>
        (Option(r.getString(0)), Option(r.getString(1))) -> r.getDouble(7)).toMap
      RollupRewrite.enable(spark)
      rewritten.collect().foreach { r =>
        val k = (Option(r.getString(0)), Option(r.getString(1)))
        assert(math.abs(r.getDouble(7) - wantF(k)) < 1e-6, s"float sum at $k")
      }
    }
  }

  test("rollup + grouping() trees + group-column filter ride the summary") {
    withRollup(Seq("o_orderpriority", "o_orderstatus"), Seq("o_totalprice")) {
      (base, dir) =>
        def q(src: DataFrame) = src.filter(col("o_orderstatus") =!= "P")
          .rollup(col("o_orderstatus"), col("o_orderpriority"))
          .agg((grouping(col("o_orderstatus")) * 2 +
              grouping(col("o_orderpriority"))).cast("int").as("gid"),
            count(lit(1)).as("n"))
        val rewritten = q(base)
        assert(scanPaths(rewritten).forall(_.contains(dir)),
          s"rollup not rewritten:\n${rewritten.queryExecution.optimizedPlan}")
        RollupRewrite.disable(spark)
        val want = q(base).collect().map(r => (Option(r.getString(0)),
          Option(r.getString(1)), r.getInt(2), r.getLong(3))).toSet
        RollupRewrite.enable(spark)
        assert(rewritten.collect().map(r => (Option(r.getString(0)),
          Option(r.getString(1)), r.getInt(2), r.getLong(3))).toSet == want)
    }
  }

  test("cube with an unregistered dim or measure stays on the base") {
    withRollup(Seq("o_orderpriority", "o_orderstatus"), Seq("o_totalprice")) {
      (base, dir) =>
        val onBase = Seq(
          base.cube(col("o_orderstatus"), col("o_orderdate"))
            .agg(count(lit(1)).as("n")),
          base.cube(col("o_orderstatus"), col("o_orderpriority"))
            .agg(sum("o_orderkey").as("s")))
        onBase.foreach { df =>
          assert(scanPaths(df).exists(_.contains("orders.parquet")),
            s"should NOT have been rewritten:\n${df.queryExecution.optimizedPlan}")
          assert(df.collect().nonEmpty)
        }
    }
  }

  // --- lattice persistence: the tier survives a session restart ---

  test("save/restore round-trips the lattice, sketch shapes re-snapshotted") {
    import graft.functions.expressions.KmvDistinctAgg.kmvSketch
    import graft.curate.Curate.portableHash60
    val dir = java.nio.file.Files.createTempDirectory("rollup_persist").toString
    try {
      val base = spark.read.parquet(s"$sf/orders.parquet")
      Rollup.materialize(base, Seq("o_orderstatus"), Seq("o_totalprice"),
          Seq("o_custkey"), 16)
        .write.mode("overwrite").parquet(s"$dir/coarse")
      Rollup.materialize(base, Seq("o_orderpriority", "o_orderstatus"),
          Seq("o_totalprice"))
        .write.mode("overwrite").parquet(s"$dir/fine")
      RollupRewrite.register(base, spark.read.parquet(s"$dir/coarse"),
        Seq("o_orderstatus"), Seq("o_totalprice"), Seq("o_custkey"), 16)
      RollupRewrite.register(base, spark.read.parquet(s"$dir/fine"),
        Seq("o_orderpriority", "o_orderstatus"), Seq("o_totalprice"))
      RollupRewrite.save(spark, s"$dir/lattice.manifest")
      RollupRewrite.clear() // the "restart": registrations are JVM state
      assert(RollupRewrite.restore(spark, s"$dir/lattice.manifest") == 2)
      RollupRewrite.enable(spark)
      // classic aggregate rides the coarse grain; the restored sketch
      // shape (re-snapshotted through this session's optimizer) serves too
      val q1 = base.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum("o_totalprice").as("s"))
      assert(scanPaths(q1).forall(_.contains(s"$dir/coarse")),
        s"restored lattice did not serve:\n${q1.queryExecution.optimizedPlan}")
      val q2 = base.groupBy("o_orderstatus")
        .agg(kmvSketch(portableHash60(col("o_custkey")), 16).as("mins"))
        .select(col("o_orderstatus"), concat_ws(",", col("mins")).as("m"))
      assert(scanPaths(q2).forall(_.contains(s"$dir/coarse")),
        s"restored sketch shape did not serve:\n${q2.queryExecution.optimizedPlan}")
      val got = q2.collect().map(r => (r.getString(0), r.getString(1))).toSet
      RollupRewrite.disable(spark)
      val want = q2.collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(got == want && want.nonEmpty)
      // saving is atomic-overwrite: a second save over the same path works
      RollupRewrite.enable(spark)
      RollupRewrite.save(spark, s"$dir/lattice.manifest")
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("save/restore round-trips the AJI tier; restored staleness is the SAVED state per side") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val dir = java.nio.file.Files.createTempDirectory("aji_persist").toString
    try {
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "m")
        .write.mode("overwrite").parquet(s"$dir/fact")
      Seq((1L, "s1"), (2L, "s2"), (3L, "s1")).toDF("dk", "seg")
        .write.mode("overwrite").parquet(s"$dir/dim")
      val fact0 = spark.read.parquet(s"$dir/fact")
      val dim0 = spark.read.parquet(s"$dir/dim")
      Rollup.materializeJoined(fact0, dim0, Seq("k" -> "dk"), Seq("seg"),
          Seq("m"))
        .write.mode("overwrite").parquet(s"$dir/aji")
      RollupRewrite.registerJoined(fact0, dim0, Seq("k" -> "dk"),
        spark.read.parquet(s"$dir/aji"), Seq("seg"), Seq("m"))
      RollupRewrite.save(spark, s"$dir/lattice.manifest")
      RollupRewrite.clear() // the "restart"
      assert(RollupRewrite.restore(spark, s"$dir/lattice.manifest") == 1)
      RollupRewrite.enable(spark)
      def q() = spark.read.parquet(s"$dir/fact")
        .join(spark.read.parquet(s"$dir/dim"), col("k") === col("dk"))
        .groupBy("seg").agg(count(lit(1)).as("n"), sum("m").as("s"))
      val served = q()
      assert(scanPaths(served) == Set(s"file:$dir/aji") &&
          served.queryExecution.optimizedPlan.collect {
            case j: LJoin => j }.isEmpty,
        s"restored AJI must serve join-free: ${scanPaths(served)}")
      assert(served.collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
        Set(("s1", 2L, 40L), ("s2", 1L, 20L)))
      // the v3 lesson per side: a fact append AFTER save must read
      // STALE after a re-restore (the saved manifest, not a restore-time
      // re-fingerprint) — and the restored manifest is precise enough
      // for compensation to splice EXACTLY the appended file
      Seq((1L, 100L)).toDF("k", "m").write.mode("append")
        .parquet(s"$dir/fact")
      RollupRewrite.clear()
      assert(RollupRewrite.restore(spark, s"$dir/lattice.manifest") == 1)
      val fallen = q()
      assert(scanPaths(fallen).contains(s"file:$dir/fact"),
        s"post-save append must read STALE after restore: ${scanPaths(fallen)}")
      RollupRewrite.setCompensation(true)
      val comp = q()
      assert(scanPaths(comp).contains(s"file:$dir/aji") &&
          scanPaths(comp).exists(p => p.contains("/fact/") &&
            p.endsWith(".parquet")) &&
          !scanPaths(comp).contains(s"file:$dir/fact"),
        s"restored manifest must drive compensation: ${scanPaths(comp)}")
      assert(comp.collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
        Set(("s1", 3L, 140L), ("s2", 1L, 20L)))
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.setCompensation(false)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("restore refuses a corrupt manifest instead of building a partial tier") {
    val dir = java.nio.file.Files.createTempDirectory("rollup_corrupt").toString
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/bad.manifest"),
        "v1|only|three|fields\n".getBytes("UTF-8"))
      intercept[IllegalArgumentException] {
        RollupRewrite.restore(spark, s"$dir/bad.manifest")
      }
    } finally {
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("registration validates the summary layout") {
    val base = spark.read.parquet(s"$sf/orders.parquet")
    intercept[IllegalArgumentException] {
      RollupRewrite.register(base,
        base.groupBy("o_orderpriority").agg(count(lit(1)).as("n")),
        Seq("o_orderpriority"), Seq("o_totalprice"))
    }
    RollupRewrite.clear()
  }

  test("describeRegistrations reports grains with a live freshness verdict") {
    val dir = java.nio.file.Files.createTempDirectory("rollup_desc").toString
    try {
      spark.read.parquet(s"$sf/orders.parquet").limit(50)
        .write.mode("overwrite").parquet(s"$dir/base")
      val base = spark.read.parquet(s"$dir/base")
      Rollup.materialize(base, Seq("o_orderstatus"), Seq("o_totalprice"))
        .write.mode("overwrite").parquet(s"$dir/sum")
      RollupRewrite.register(base, spark.read.parquet(s"$dir/sum"),
        Seq("o_orderstatus"), Seq("o_totalprice"))
      val d1 = RollupRewrite.describeRegistrations(spark).collect()
      assert(d1.length == 1 && d1(0).getAs[String]("grain") == "o_orderstatus" &&
          d1(0).getAs[Boolean]("fresh") && !d1(0).getAs[Boolean]("compensable"),
        s"fresh registration expected: ${d1.toSeq}")
      // append to the base WITHOUT merging -> the verdict flips, and a
      // pure append is COMPENSABLE (setCompensation serves it fresh)
      val originals = new java.io.File(s"$dir/base").listFiles()
        .filter(_.getName.endsWith(".parquet")).toSeq
      spark.read.parquet(s"$sf/orders.parquet").limit(7)
        .write.mode("append").parquet(s"$dir/base")
      val d2 = RollupRewrite.describeRegistrations(spark).collect()
      assert(!d2(0).getAs[Boolean]("fresh"), "stale base must report fresh=false")
      assert(d2(0).getAs[Boolean]("compensable"),
        "a pure-append diff must report compensable=true")
      // a removal of a REGISTERED file makes the diff non-append ->
      // not compensable (deleting the just-appended file would simply
      // restore the registered manifest)
      assert(originals.head.delete())
      val d2b = RollupRewrite.describeRegistrations(spark).collect()
      assert(!d2b(0).getAs[Boolean]("fresh") &&
          !d2b(0).getAs[Boolean]("compensable"),
        "a diff with removals must report compensable=false")
      // re-register against the grown base -> fresh again
      val base2 = spark.read.parquet(s"$dir/base")
      Rollup.materialize(base2, Seq("o_orderstatus"), Seq("o_totalprice"))
        .write.mode("overwrite").parquet(s"$dir/sum2")
      RollupRewrite.register(base2, spark.read.parquet(s"$dir/sum2"),
        Seq("o_orderstatus"), Seq("o_totalprice"))
      val d3 = RollupRewrite.describeRegistrations(spark).collect()
      assert(d3.length == 1 && d3(0).getAs[Boolean]("fresh"))
      // a JOINED registration reports too: fresh, then fact-append =
      // compensable, then dim-append = stale but NOT compensable (the
      // dim-append is refreshable, not serve-time-compensable)
      spark.read.parquet(s"$sf/customer.parquet").limit(20)
        .write.mode("overwrite").parquet(s"$dir/dim")
      val fact3 = spark.read.parquet(s"$dir/base")
      val dim3 = spark.read.parquet(s"$dir/dim")
      Rollup.materializeJoined(fact3, dim3, Seq("o_custkey" -> "c_custkey"),
          Seq("c_mktsegment"), Seq("o_totalprice"))
        .write.mode("overwrite").parquet(s"$dir/aji")
      RollupRewrite.registerJoined(fact3, dim3,
        Seq("o_custkey" -> "c_custkey"), spark.read.parquet(s"$dir/aji"),
        Seq("c_mktsegment"), Seq("o_totalprice"))
      def jRow() = RollupRewrite.describeRegistrations(spark).collect()
        .find(_.getAs[String]("base").contains("⋈")).get
      val j1 = jRow()
      assert(j1.getAs[Boolean]("fresh") && !j1.getAs[Boolean]("compensable"),
        s"fresh joined registration expected: $j1")
      spark.read.parquet(s"$sf/orders.parquet").limit(3)
        .write.mode("append").parquet(s"$dir/base")
      val j2 = jRow()
      assert(!j2.getAs[Boolean]("fresh") && j2.getAs[Boolean]("compensable"),
        s"fact-append joined diff must be compensable: $j2")
      spark.read.parquet(s"$sf/customer.parquet").limit(2)
        .write.mode("append").parquet(s"$dir/dim")
      val j3 = jRow()
      assert(!j3.getAs[Boolean]("fresh") && !j3.getAs[Boolean]("compensable"),
        s"a dim change is refreshable but never compensable: $j3")
    } finally {
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("workload capture records plain-attribute grains, dedupes, names expression grains by SQL, off by default") {
    // NOTE: capture state is process-global and test suites share one
    // JVM+session — concurrent suites (EntrySpec runs every gate,
    // including capture-using ones over THIS shared table) can add
    // grains while our window is open, so every assert here is
    // CONTAINMENT-based on our own traffic's grains, never set equality.
    val base = spark.read.parquet(s"$sf/orders.parquet")
    val paths = scanPaths(base)
    def captured() = RollupRewrite.capturedWorkload(paths)
    RollupRewrite.enable(spark)
    RollupRewrite.resetWorkloadCapture()
    try {
      // capture OFF: our traffic records nothing
      base.groupBy("o_orderstatus").agg(count(lit(1))).collect()
      assert(!captured().contains(Set("o_orderstatus")))
      RollupRewrite.startWorkloadCapture()
      base.groupBy("o_orderstatus").agg(count(lit(1))).collect()
      base.groupBy("o_orderstatus").agg(sum("o_totalprice")).collect() // dup grain
      base.filter(col("o_orderstatus") === "F")
        .groupBy("o_orderpriority").agg(count(lit(1))).collect() // filtered
      base.groupBy(upper(col("o_orderstatus"))).agg(count(lit(1))).collect() // expr grain
      RollupRewrite.stopWorkloadCapture()
      // expression grains capture under their resolved SQL (VERDICT r10
      // #1) — a month()/upper()-grained summary could serve them; the
      // duplicate o_orderstatus grain must appear exactly once (dedupe)
      val got = captured()
      assert(got.count(_ == Set("o_orderstatus")) == 1)
      assert(got.contains(Set("o_orderpriority")))
      assert(got.contains(Set("upper(o_orderstatus)")))
      // capture OFF again: more traffic records nothing new
      base.groupBy("o_orderstatus", "o_orderpriority").agg(count(lit(1))).collect()
      assert(!captured().contains(Set("o_orderstatus", "o_orderpriority")))
      // a fresh capture clears the log
      RollupRewrite.startWorkloadCapture()
      RollupRewrite.stopWorkloadCapture()
      assert(!captured().contains(Set("o_orderstatus")))
    } finally {
      RollupRewrite.resetWorkloadCapture()
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
    }
  }

  // --- computed-dimension grains (VERDICT r10 #1) ---

  test("grainShape: name-identity preserved, exprIds erased, distinct expressions never collide") {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    def attr(n: String, dt: org.apache.spark.sql.types.DataType = DateType) =
      AttributeReference(n, dt, nullable = true)()
    def monthOf(a: AttributeReference) =
      Month(Cast(a, DateType))
    // same computation over the same column NAME, different exprIds
    // (two reads of one table) must compare equal
    assert(RollupRewrite.grainShape(monthOf(attr("d"))) ==
      RollupRewrite.grainShape(monthOf(attr("d"))))
    // ... but a different column name must NOT (month(o_orderdate) is
    // not month(o_shipdate) — the normalizedShape device would conflate
    // them, which is exactly why grainShape exists)
    assert(RollupRewrite.grainShape(monthOf(attr("d1"))) !=
      RollupRewrite.grainShape(monthOf(attr("d2"))))
    // a different function over the same column must not match
    assert(RollupRewrite.grainShape(monthOf(attr("d"))) !=
      RollupRewrite.grainShape(Year(Cast(attr("d"), DateType))))
    // bare attributes: identity by name, not by exprId or nullability
    val a1 = attr("x", LongType); val a2 = attr("x", LongType)
    assert(a1.exprId != a2.exprId &&
      RollupRewrite.grainShape(a1) == RollupRewrite.grainShape(a2))
    assert(RollupRewrite.grainShape(attr("x", LongType)) !=
      RollupRewrite.grainShape(attr("y", LongType)))
    // the cast matters: month(date_col) vs month(cast(string_col)) are
    // different trees even under one name with different input types
    assert(RollupRewrite.grainShape(Month(attr("d", DateType))) !=
      RollupRewrite.grainShape(Month(Cast(attr("d", StringType), DateType))))
    // nested arithmetic: canonicalization may reorder commutative ops —
    // equal-value trees comparing equal is fine (same stored values);
    // what must hold is self-equality across independent constructions
    val t1 = Add(Multiply(attr("x", LongType), Literal(7L)), Literal(3L))
    val t2 = Add(Multiply(attr("x", LongType), Literal(7L)), Literal(3L))
    assert(RollupRewrite.grainShape(t1) == RollupRewrite.grainShape(t2))
  }

  private def withExprRollup[A](body: (DataFrame, String) => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("exprrollup").toString
    val base = spark.read.parquet(s"$sf/orders.parquet")
    val grains = Seq("om" -> month(col("o_orderdate")),
      "o_orderstatus" -> col("o_orderstatus"))
    Rollup.materializeExpr(base, grains, Seq("o_totalprice"))
      .write.mode("overwrite").parquet(s"$dir/msum")
    RollupRewrite.register(base, spark.read.parquet(s"$dir/msum"),
      Seq("om", "o_orderstatus"), Seq("o_totalprice"),
      groupExprOf = Map("om" -> month(col("o_orderdate"))))
    RollupRewrite.enable(spark)
    try body(base, dir)
    finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("computed grain: month()-grouped aggregate on the raw fact rides the summary") {
    withExprRollup { (base, dir) =>
      def q(src: DataFrame) = src
        .groupBy(month(col("o_orderdate")).as("m"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum("o_totalprice").as("s"),
          min("o_totalprice").as("mn"))
      val served = q(base)
      assert(scanPaths(served).forall(_.contains(dir)),
        s"month() grain did not serve:\n${served.queryExecution.optimizedPlan}")
      RollupRewrite.disable(spark)
      val want = q(base).collect().map(_.toSeq).toSet
      RollupRewrite.enable(spark)
      val got = served.collect().map(_.toSeq).toSet
      assert(got == want && want.nonEmpty)
    }
  }

  test("computed grain: filter on the grain expression serves; the inferred isnotnull drops") {
    withExprRollup { (base, dir) =>
      // month(o_orderdate) = 3 arrives conjoined with the inferred
      // isnotnull(o_orderdate), which no grain carries — the served
      // equality implies it (null-intolerance), so it must drop
      def q(src: DataFrame) = src.filter(month(col("o_orderdate")) === 3)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), max("o_totalprice").as("mx"))
      val served = q(base)
      assert(scanPaths(served).forall(_.contains(dir)),
        s"grain-expression filter did not serve:\n${served.queryExecution.optimizedPlan}")
      RollupRewrite.disable(spark)
      val want = q(base).collect().map(_.toSeq).toSet
      RollupRewrite.enable(spark)
      assert(served.collect().map(_.toSeq).toSet == want && want.nonEmpty)
    }
  }

  test("computed grain: count(distinct month(x)) redirects bit-exact; mismatched expressions fall to base") {
    withExprRollup { (base, dir) =>
      def qd(src: DataFrame) = src.groupBy("o_orderstatus")
        .agg(countDistinct(month(col("o_orderdate"))).as("nd"))
      val served = qd(base)
      assert(scanPaths(served).forall(_.contains(dir)),
        s"distinct over the grain expression did not serve:\n${served.queryExecution.optimizedPlan}")
      RollupRewrite.disable(spark)
      val want = qd(base).collect().map(_.toSeq).toSet
      RollupRewrite.enable(spark)
      assert(served.collect().map(_.toSeq).toSet == want && want.nonEmpty)
      // a DIFFERENT expression over the same column must not match
      val other = base.groupBy(year(col("o_orderdate")).as("y"))
        .agg(count(lit(1)).as("n"))
      assert(scanPaths(other).exists(_.contains("orders.parquet")),
        s"year() must not match the month() grain:\n${other.queryExecution.optimizedPlan}")
      // a raw-column filter the grain cannot express must fall through
      val raw = base.filter(col("o_orderdate") >= "1995-06-01")
        .groupBy(month(col("o_orderdate")).as("m")).agg(count(lit(1)).as("n"))
      assert(scanPaths(raw).exists(_.contains("orders.parquet")),
        s"raw-column filter must fall to the base:\n${raw.queryExecution.optimizedPlan}")
    }
  }

  test("refreshStale: append refreshes from the delta files only; non-append stays stale (VERDICT r10 #2)") {
    val dir = java.nio.file.Files.createTempDirectory("refresh").toString
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    try {
      orders.write.mode("overwrite").parquet(s"$dir/base")
      val base0 = spark.read.parquet(s"$dir/base")
      Rollup.materialize(base0, Seq("o_orderstatus"), Seq("o_totalprice"),
          distinctCols = Seq("o_custkey"))
        .write.mode("overwrite").parquet(s"$dir/sum")
      RollupRewrite.register(base0, spark.read.parquet(s"$dir/sum"),
        Seq("o_orderstatus"), Seq("o_totalprice"),
        distinctCols = Seq("o_custkey"))
      RollupRewrite.enable(spark)
      // fresh: nothing to refresh
      assert(RollupRewrite.refreshStale(spark, s"$dir/r0").isEmpty)
      // append a delta; capture exactly which files it added
      def files() = new java.io.File(s"$dir/base").listFiles()
        .filter(f => f.getName.endsWith(".parquet")).map(_.getName).toSet
      val before = files()
      orders.filter(col("o_orderkey") % 7 === 3)
        .write.mode("append").parquet(s"$dir/base")
      val added = files() -- before
      val rep = RollupRewrite.refreshStale(spark, s"$dir/r1")
      assert(rep.size == 1 && rep.head.refreshed)
      assert(rep.head.deltaFiles.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
        == added, "refresh must aggregate exactly the appended files")
      // the refreshed summary now serves, and equals base∪delta
      def q(src: DataFrame) = src.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), min("o_totalprice").as("mn"),
          graft.functions.expressions.KmvDistinctAgg.kmvSketch(
            graft.curate.Curate.portableHash60(col("o_custkey")), 64).as("nd"))
      val served = q(spark.read.parquet(s"$dir/base"))
      assert(scanPaths(served).nonEmpty &&
        scanPaths(served).forall(_.contains("refresh_")),
        s"refreshed summary must serve:\n${served.queryExecution.optimizedPlan}")
      RollupRewrite.disable(spark)
      val want = q(spark.read.parquet(s"$dir/base")).collect().map(_.toSeq).toSet
      RollupRewrite.enable(spark)
      assert(served.collect().map(_.toSeq).toSet == want && want.nonEmpty)
      // a NON-append (overwrite) cannot merge: reported unrefreshed, stale
      orders.limit(100).write.mode("overwrite").parquet(s"$dir/base")
      val rep2 = RollupRewrite.refreshStale(spark, s"$dir/r2")
      assert(rep2.size == 1 && !rep2.head.refreshed)
      val fallen = q(spark.read.parquet(s"$dir/base"))
      assert(scanPaths(fallen).exists(_.contains("base")),
        "non-append staleness must keep falling through to the base")
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("computed grain: CUBE over month() rides the summary — all grouping sets, one summary scan") {
    withExprRollup { (base, dir) =>
      def q(src: DataFrame) = src
        .cube(month(col("o_orderdate")).as("m"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum("o_totalprice").as("s"),
          max("o_totalprice").as("mx"))
      val served = q(base)
      assert(scanPaths(served).forall(_.contains(dir)),
        s"computed-dim cube did not serve:\n${served.queryExecution.optimizedPlan}")
      RollupRewrite.disable(spark)
      val want = q(base).collect()
        .map(r => (Option(r.get(0)), Option(r.get(1)), r.getLong(2)) ->
          (r.getDouble(3), r.getDouble(4))).toMap
      RollupRewrite.enable(spark)
      val got = served.collect()
        .map(r => (Option(r.get(0)), Option(r.get(1)), r.getLong(2)) ->
          (r.getDouble(3), r.getDouble(4))).toMap
      assert(got.keySet == want.keySet && want.nonEmpty)
      got.foreach { case (k, (s, mx)) =>
        assert(mx == want(k)._2)                       // max carried verbatim
        assert(math.abs(s - want(k)._1) < 1e-4, s"$k") // float sum: merge order
      }
      // a cube mixing an UNREGISTERED expression must fall to the base
      val other = base.cube(year(col("o_orderdate")).as("y"),
        col("o_orderstatus")).agg(count(lit(1)).as("n"))
      assert(scanPaths(other).exists(_.contains("orders.parquet")),
        s"year() cube must not match the month() grain:\n${other.queryExecution.optimizedPlan}")
    }
  }

  test("computed grain: refreshStale rebuilds the delta through the re-parsed grain expression") {
    // the refresh path re-parses the registration's stored grain SQL via
    // expr() to aggregate the appended files — the same device restore
    // uses; a drift there would merge the delta under wrong grain values
    val dir = java.nio.file.Files.createTempDirectory("exprrefresh").toString
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    try {
      orders.write.mode("overwrite").parquet(s"$dir/base")
      val base0 = spark.read.parquet(s"$dir/base")
      val grains = Seq("om" -> month(col("o_orderdate")))
      Rollup.materializeExpr(base0, grains, Seq("o_totalprice"))
        .write.mode("overwrite").parquet(s"$dir/sum")
      RollupRewrite.register(base0, spark.read.parquet(s"$dir/sum"),
        Seq("om"), Seq("o_totalprice"), groupExprOf = grains.toMap)
      RollupRewrite.enable(spark)
      orders.filter(col("o_orderkey") % 5 === 2)
        .write.mode("append").parquet(s"$dir/base")
      val rep = RollupRewrite.refreshStale(spark, s"$dir/r1")
      assert(rep.size == 1 && rep.head.refreshed)
      def q(src: DataFrame) = src.groupBy(month(col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n"), min("o_totalprice").as("mn"))
      val served = q(spark.read.parquet(s"$dir/base"))
      assert(scanPaths(served).nonEmpty &&
        scanPaths(served).forall(_.contains("refresh_")),
        s"refreshed expr-grain summary must serve:\n${served.queryExecution.optimizedPlan}")
      RollupRewrite.disable(spark)
      val want = q(spark.read.parquet(s"$dir/base")).collect().map(_.toSeq).toSet
      RollupRewrite.enable(spark)
      assert(served.collect().map(_.toSeq).toSet == want && want.nonEmpty)
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("computed grain: save/restore round-trips the grain expression (v2 manifest)") {
    withExprRollup { (base, dir) =>
      RollupRewrite.save(spark, s"$dir/lattice.manifest")
      RollupRewrite.clear()
      val unserved = base.groupBy(month(col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n"))
      assert(scanPaths(unserved).exists(_.contains("orders.parquet")))
      assert(RollupRewrite.restore(spark, s"$dir/lattice.manifest") == 1)
      def q(src: DataFrame) = src.groupBy(month(col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n"), sum("o_totalprice").as("s"))
      val served = q(base)
      assert(scanPaths(served).forall(_.contains(dir)),
        s"restored computed grain did not serve:\n${served.queryExecution.optimizedPlan}")
      RollupRewrite.disable(spark)
      val want = q(base).collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
      RollupRewrite.enable(spark)
      val got = served.collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
      assert(got.keySet == want.keySet && want.nonEmpty)
      got.foreach { case (m, (n, s)) =>
        assert(n == want(m)._1)
        // float sums merge partials — reassociation tolerance only
        assert(math.abs(s - want(m)._2) < 1e-4)
      }
    }
  }

  test("refreshStale: content-addressed output dirs — repeated refreshes into ONE outDir never collide (ADVICE r11)") {
    // the r11 ship named outputs refresh_<positional index>; re-register
    // removes+appends so positions SHIFT, and a second refreshStale call
    // with the same outDir could overwrite a LIVE registration's summary
    // with another grain's data. Content addressing (registration digest
    // + post-append manifest digest) makes every (registration, base
    // state) pair land in its own dir.
    val dir = java.nio.file.Files.createTempDirectory("refreshaddr").toString
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    try {
      orders.write.mode("overwrite").parquet(s"$dir/base")
      val base0 = spark.read.parquet(s"$dir/base")
      // TWO registrations over the same base (different grains)
      Rollup.materialize(base0, Seq("o_orderstatus"), Seq("o_totalprice"))
        .write.mode("overwrite").parquet(s"$dir/sumA")
      Rollup.materialize(base0, Seq("o_orderpriority"), Seq("o_totalprice"))
        .write.mode("overwrite").parquet(s"$dir/sumB")
      RollupRewrite.register(base0, spark.read.parquet(s"$dir/sumA"),
        Seq("o_orderstatus"), Seq("o_totalprice"))
      RollupRewrite.register(base0, spark.read.parquet(s"$dir/sumB"),
        Seq("o_orderpriority"), Seq("o_totalprice"))
      RollupRewrite.enable(spark)
      // two successive appends, BOTH refreshed into the SAME outDir
      orders.filter(col("o_orderkey") % 7 === 3)
        .write.mode("append").parquet(s"$dir/base")
      val rep1 = RollupRewrite.refreshStale(spark, s"$dir/r")
      orders.filter(col("o_orderkey") % 7 === 5)
        .write.mode("append").parquet(s"$dir/base")
      val rep2 = RollupRewrite.refreshStale(spark, s"$dir/r")
      assert(rep1.size == 2 && rep1.forall(_.refreshed))
      assert(rep2.size == 2 && rep2.forall(_.refreshed))
      val outs = (rep1 ++ rep2).map(_.summaryPath)
      assert(outs.distinct.size == 4,
        s"all four (registration, base state) outputs must be distinct dirs: $outs")
      // both grains still serve, values equal to a full recompute
      for (g <- Seq("o_orderstatus", "o_orderpriority")) {
        def q(src: DataFrame) = src.groupBy(g)
          .agg(count(lit(1)).as("n"), min("o_totalprice").as("mn"))
        val served = q(spark.read.parquet(s"$dir/base"))
        assert(scanPaths(served).nonEmpty &&
          scanPaths(served).forall(_.contains("refresh_")),
          s"grain $g must serve from its refreshed summary:\n${served.queryExecution.optimizedPlan}")
        RollupRewrite.disable(spark)
        val want = q(spark.read.parquet(s"$dir/base")).collect().map(_.toSeq).toSet
        RollupRewrite.enable(spark)
        assert(served.collect().map(_.toSeq).toSet == want && want.nonEmpty,
          s"grain $g diverged after the second same-outDir refresh")
      }
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("computed grain: BETWEEN and IN filter conjuncts serve from the summary (VERDICT r11 #5)") {
    withExprRollup { (base, dir) =>
      def check(q: DataFrame => DataFrame): Unit = {
        val served = q(base)
        assert(scanPaths(served).nonEmpty &&
          scanPaths(served).forall(_.contains(dir)),
          s"must serve from the summary:\n${served.queryExecution.optimizedPlan}")
        RollupRewrite.disable(spark)
        val want = q(base).collect().map(_.toSeq).toSet
        RollupRewrite.enable(spark)
        assert(served.collect().map(_.toSeq).toSet == want && want.nonEmpty)
      }
      // BETWEEN over the computed grain, grouped
      check(_.filter(month(col("o_orderdate")).between(3, 5))
        .groupBy(month(col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n"), min("o_totalprice").as("mn")))
      // IN list over the computed grain, global aggregate
      check(_.filter(month(col("o_orderdate")).isin(2, 7, 11))
        .agg(count(lit(1)).as("n"), max("o_totalprice").as("mx")))
      // comparison mixed with a plain-grain equality conjunct
      check(_.filter(month(col("o_orderdate")) >= 10 &&
          col("o_orderstatus") === "F")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n")))
      // a BETWEEN over a NON-grain column must fall through
      val raw = base.filter(col("o_totalprice").between(100, 200))
        .groupBy(month(col("o_orderdate")).as("m")).agg(count(lit(1)).as("n"))
      assert(scanPaths(raw).exists(_.contains("orders.parquet")),
        s"non-grain BETWEEN must fall to the base:\n${raw.queryExecution.optimizedPlan}")
    }
  }

  test("two-summary join navigation: fact⋈dim aggregate with ZERO base scans; dim duplicates weighted exactly (VERDICT r11 #6)") {
    val dir = java.nio.file.Files.createTempDirectory("joinnav").toString
    try {
      // constructed fact/dim with DUPLICATE dim keys (k=2 twice, with
      // different and equal attrs) — the duplicate-factoring identity is
      // the correctness crux; integer measures ⇒ exact comparison
      Seq((1L, 10L), (1L, 20L), (2L, 5L), (2L, 7L), (3L, 100L), (4L, 1L))
        .toDF("k", "m").write.parquet(s"$dir/fact")
      Seq((1L, "x"), (2L, "x"), (2L, "y"), (2L, "y"), (3L, "y"), (5L, "z"))
        .toDF("dk", "g").write.parquet(s"$dir/dim")
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim")
      Rollup.materialize(fact, Seq("k"), Seq("m"))
        .write.mode("overwrite").parquet(s"$dir/fsum")
      // dim summary grained (dk, g); its only measure is incidental —
      // navigation uses the grain values + __cnt_rows
      Rollup.materialize(dim, Seq("dk", "g"), Seq("dk"))
        .write.mode("overwrite").parquet(s"$dir/dsum")
      RollupRewrite.register(fact, spark.read.parquet(s"$dir/fsum"),
        Seq("k"), Seq("m"))
      RollupRewrite.register(dim, spark.read.parquet(s"$dir/dsum"),
        Seq("dk", "g"), Seq("dk"))
      RollupRewrite.enable(spark)
      def q() = fact.join(dim, col("k") === col("dk"))
        .groupBy("g").agg(count(lit(1)).as("n"), sum("m").as("s"),
          min("m").as("mn"), max("m").as("mx"), avg("m").as("a"))
      val served = q()
      val scans = scanPaths(served)
      assert(scans.nonEmpty && scans.forall(p =>
          p.contains("fsum") || p.contains("dsum")),
        s"both sides must serve from summaries:\n${served.queryExecution.optimizedPlan}")
      RollupRewrite.disable(spark)
      val want = q().collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5))).toMap
      RollupRewrite.enable(spark)
      val got = served.collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5))).toMap
      assert(got == want && want.nonEmpty,
        s"join navigation diverged: got $got want $want")
      // per-side filters route and serve (dim attr + fact grain col)
      def qf() = fact.join(dim, col("k") === col("dk"))
        .filter(col("g") === "y" && col("k") >= 2)
        .groupBy("g").agg(sum("m").as("s"))
      val servedF = qf()
      assert(scanPaths(servedF).forall(p =>
          p.contains("fsum") || p.contains("dsum")),
        s"filtered navigation must stay on summaries:\n${servedF.queryExecution.optimizedPlan}")
      RollupRewrite.disable(spark)
      val wantF = qf().collect().map(_.toSeq).toSet
      RollupRewrite.enable(spark)
      assert(servedF.collect().map(_.toSeq).toSet == wantF)
      // the rule is SYMMETRIC: aggregating the other side's registered
      // measure flips fact/dim — sum(dk) serves as __sum_dk × the
      // orders-side multiplicity, still zero base scans, exact values
      def qd() = fact.join(dim, col("k") === col("dk"))
        .groupBy("g").agg(sum("dk").as("s"))
      val servedD = qd()
      assert(scanPaths(servedD).forall(p =>
          p.contains("fsum") || p.contains("dsum")),
        s"flipped-side aggregate must serve:\n${servedD.queryExecution.optimizedPlan}")
      RollupRewrite.disable(spark)
      val wantD = qd().collect().map(_.toSeq).toSet
      RollupRewrite.enable(spark)
      assert(servedD.collect().map(_.toSeq).toSet == wantD)
      // an aggregate over a column that is NOT a registered measure of
      // its side (g is a grain, not a measure) must fall through
      val dimAgg = fact.join(dim, col("k") === col("dk"))
        .groupBy("k").agg(min("g").as("mg"))
      assert(scanPaths(dimAgg).exists(_.contains("dim")),
        s"non-measure aggregate must fall to the base:\n${dimAgg.queryExecution.optimizedPlan}")
      // grouping by a FACT column (also a grain) serves too
      def qk() = fact.join(dim, col("k") === col("dk"))
        .groupBy("k").agg(count(lit(1)).as("n"), sum("m").as("s"))
      val servedK = qk()
      assert(scanPaths(servedK).forall(p =>
          p.contains("fsum") || p.contains("dsum")),
        s"fact-grain grouping must serve:\n${servedK.queryExecution.optimizedPlan}")
      RollupRewrite.disable(spark)
      val wantK = qk().collect().map(_.toSeq).toSet
      RollupRewrite.enable(spark)
      assert(servedK.collect().map(_.toSeq).toSet == wantK)
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("join navigation serves DECIMAL sums and avgs exactly, type preserved (VERDICT r12 #3)") {
    val dir = java.nio.file.Files.createTempDirectory("joinnav_dec").toString
    try {
      // duplicate dim keys again — the ×cnt product must stay exact in
      // DECIMAL arithmetic (k=2 duplicated 3×), and avg must divide the
      // multiplied partials through Spark's own Average tree
      Seq((1L, "10.25"), (1L, "20.50"), (2L, "0.01"), (2L, "0.02"),
          (3L, "99999999.99"))
        .toDF("k", "ms")
        .select(col("k"), col("ms").cast("decimal(10,2)").as("m"))
        .write.parquet(s"$dir/fact")
      Seq((1L, "x"), (2L, "x"), (2L, "y"), (2L, "y"), (3L, "y"))
        .toDF("dk", "g").write.parquet(s"$dir/dim")
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim")
      Rollup.materialize(fact, Seq("k"), Seq("m"))
        .write.mode("overwrite").parquet(s"$dir/fsum")
      Rollup.materialize(dim, Seq("dk", "g"), Seq("dk"))
        .write.mode("overwrite").parquet(s"$dir/dsum")
      RollupRewrite.register(fact, spark.read.parquet(s"$dir/fsum"),
        Seq("k"), Seq("m"))
      RollupRewrite.register(dim, spark.read.parquet(s"$dir/dsum"),
        Seq("dk", "g"), Seq("dk"))
      RollupRewrite.enable(spark)
      def q() = fact.join(dim, col("k") === col("dk"))
        .groupBy("g").agg(sum("m").as("s"), avg("m").as("a"),
          count(col("m")).as("c"))
      val served = q()
      val scans = scanPaths(served)
      assert(scans.nonEmpty && scans.forall(p =>
          p.contains("fsum") || p.contains("dsum")),
        s"decimal join nav must serve from summaries:\n${served.queryExecution.optimizedPlan}")
      RollupRewrite.disable(spark)
      val direct = q()
      assert(served.schema == direct.schema,
        s"decimal nav retyped: ${served.schema} vs ${direct.schema}")
      def rows(df: DataFrame) = df.collect().map(r => r.getString(0) ->
        (r.getDecimal(1).toPlainString, r.getDecimal(2).toPlainString,
          r.getLong(3))).toMap
      val want = rows(direct)
      RollupRewrite.enable(spark)
      val got = rows(served)
      assert(got == want && want.nonEmpty,
        s"decimal join navigation diverged: got $got want $want")
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  /** Write `df` as ONE named parquet file inside `baseDir` (files with
    * chosen names make file→rows mappings deterministic for delete
    * tests). Returns the file's absolute path. */
  private def writeSlice(df: DataFrame, baseDir: String, name: String): String = {
    val st = java.nio.file.Files.createTempDirectory("slice").toString
    df.coalesce(1).write.mode("overwrite").parquet(st)
    val part = new java.io.File(st).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dst = new java.io.File(s"$baseDir/$name.parquet")
    dst.getParentFile.mkdirs()
    java.nio.file.Files.move(part.toPath, dst.toPath)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(st))
    dst.getAbsolutePath
  }

  test("refreshStale: pure DELETE retracts — safe groups by arithmetic, extremum groups recompute, emptied groups drop (VERDICT r11 #2)") {
    val dir = java.nio.file.Files.createTempDirectory("retract").toString
    try {
      // f1: a→{1,5}, b→{10}, c→{7,8}; f2: a→{3}, b→{20}, d→{100}
      writeSlice(Seq(("a", 1L), ("a", 5L), ("b", 10L), ("c", 7L), ("c", 8L))
        .toDF("g", "v"), s"$dir/base", "f1")
      val f2 = writeSlice(Seq(("a", 3L), ("b", 20L), ("d", 100L))
        .toDF("g", "v"), s"$dir/base", "f2")
      val base0 = spark.read.parquet(s"$dir/base")
      Rollup.materialize(base0, Seq("g"), Seq("v"))
        .write.mode("overwrite").parquet(s"$dir/sum")
      RollupRewrite.register(base0, spark.read.parquet(s"$dir/sum"),
        Seq("g"), Seq("v"))
      RollupRewrite.enable(spark)
      // a delete WITHOUT a trash dir (bytes truly gone) is unrefreshable
      val f2bak = s"$dir/f2.bak"
      java.nio.file.Files.copy(java.nio.file.Paths.get(f2),
        java.nio.file.Paths.get(f2bak))
      java.nio.file.Files.delete(java.nio.file.Paths.get(f2))
      assert(RollupRewrite.refreshStale(spark, s"$dir/r0")
        .forall(r => !r.refreshed), "rm'd bytes cannot retract")
      java.nio.file.Files.move(java.nio.file.Paths.get(f2bak),
        java.nio.file.Paths.get(f2))
      // the safe-delete protocol: move to trash, then refresh retracts
      val moved = RollupRewrite.deleteFiles(spark, Seq(f2), s"$dir/trash")
      assert(moved.size == 1 && !new java.io.File(f2).exists())
      val rep = RollupRewrite.refreshStale(spark, s"$dir/r1",
        trashDirs = Seq(s"$dir/trash"))
      assert(rep.size == 1 && rep.head.refreshed, s"retraction failed: $rep")
      assert(rep.head.removedFiles.map(p =>
        new org.apache.hadoop.fs.Path(p).getName).toSet == Set("f2.parquet"))
      // stored summary rows: a safe-arithmetic (min/max survive, sums
      // subtract), b recomputed (its max WAS deleted), d dropped
      val got = spark.read.parquet(rep.head.summaryPath).collect()
        .map(r => r.getAs[String]("g") ->
          (r.getAs[Long]("__cnt_rows"), r.getAs[Long]("__sum_v"),
            r.getAs[Long]("__min_v"), r.getAs[Long]("__max_v"))).toMap
      assert(got.keySet == Set("a", "b", "c"), s"d must drop: $got")
      assert(got("a") == ((2L, 6L, 1L, 5L)), s"safe arithmetic off: $got")
      assert(got("b") == ((1L, 10L, 10L, 10L)), s"extremum recompute off: $got")
      assert(got("c") == ((2L, 15L, 7L, 8L)), s"untouched row drifted: $got")
      // and the refreshed summary SERVES the reduced base
      def q(src: DataFrame) = src.groupBy("g")
        .agg(count(lit(1)).as("n"), sum("v").as("s"),
          min("v").as("mn"), max("v").as("mx"))
      val served = q(spark.read.parquet(s"$dir/base"))
      assert(scanPaths(served).nonEmpty &&
        scanPaths(served).forall(_.contains("refresh_")),
        s"retracted summary must serve:\n${served.queryExecution.optimizedPlan}")
      RollupRewrite.disable(spark)
      val want = q(spark.read.parquet(s"$dir/base")).collect()
        .map(_.toSeq).toSet
      RollupRewrite.enable(spark)
      assert(served.collect().map(_.toSeq).toSet == want && want.nonEmpty)
      // MIXED diff (append + delete) now FOLDS (r14, VERDICT r13 #1):
      // retraction ∘ append-fold, == the full rebuild
      val f3 = writeSlice(Seq(("a", 9L)).toDF("g", "v"), s"$dir/base", "f3")
      RollupRewrite.deleteFiles(spark,
        Seq(s"$dir/base/f1.parquet"), s"$dir/trash")
      val repM = RollupRewrite.refreshStale(spark, s"$dir/r2",
        trashDirs = Seq(s"$dir/trash"))
      assert(repM.size == 1 && repM.head.refreshed &&
          repM.head.removedFiles.map(p =>
            new org.apache.hadoop.fs.Path(p).getName) == Seq("f1.parquet") &&
          repM.head.deltaFiles.map(p =>
            new org.apache.hadoop.fs.Path(p).getName) == Seq("f3.parquet"),
        s"mixed append+delete must fold via retract ∘ merge: $repM")
      assert(spark.read.parquet(repM.head.summaryPath).collect()
          .map(_.toSeq).toSet ==
        Rollup.materialize(spark.read.parquet(s"$dir/base"), Seq("g"),
          Seq("v")).collect().map(_.toSeq).toSet,
        "mixed-fold summary must equal a full rebuild")
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("refreshStale DELETE: sketch-carrying registrations recompute touched groups — summary equals a full rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("retractkmv").toString
    try {
      val orders = spark.read.parquet(s"$sf/orders.parquet")
      writeSlice(orders.filter(col("o_orderkey") % 3 === 0), s"$dir/base", "s0")
      writeSlice(orders.filter(col("o_orderkey") % 3 === 1), s"$dir/base", "s1")
      val s2 = writeSlice(orders.filter(col("o_orderkey") % 3 === 2),
        s"$dir/base", "s2")
      val base0 = spark.read.parquet(s"$dir/base")
      Rollup.materialize(base0, Seq("o_orderstatus"), Seq("o_custkey"),
          distinctCols = Seq("o_custkey"))
        .write.mode("overwrite").parquet(s"$dir/sum")
      RollupRewrite.register(base0, spark.read.parquet(s"$dir/sum"),
        Seq("o_orderstatus"), Seq("o_custkey"),
        distinctCols = Seq("o_custkey"))
      RollupRewrite.deleteFiles(spark, Seq(s2), s"$dir/trash")
      val rep = RollupRewrite.refreshStale(spark, s"$dir/r",
        trashDirs = Seq(s"$dir/trash"))
      assert(rep.size == 1 && rep.head.refreshed)
      // KMV sketches are insert-only ⇒ every touched group recomputed;
      // the result must equal a from-scratch materialize EXACTLY
      // (integer measures and lossless sketches: bit-equality holds)
      def rows(df: DataFrame) = df.collect().map { r =>
        r.getAs[String]("o_orderstatus") ->
          (r.getAs[Long]("__cnt_rows"), r.getAs[Long]("__sum_o_custkey"),
            r.getAs[Long]("__min_o_custkey"), r.getAs[Long]("__max_o_custkey"),
            r.getAs[scala.collection.Seq[Long]]("__kmv_o_custkey").toList)
      }.toMap
      val got = rows(spark.read.parquet(rep.head.summaryPath))
      val want = rows(Rollup.materialize(spark.read.parquet(s"$dir/base"),
        Seq("o_orderstatus"), Seq("o_custkey"),
        distinctCols = Seq("o_custkey")))
      assert(got == want && want.nonEmpty,
        s"retracted sketch summary must equal a rebuild")
    } finally {
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("refreshStale: grain on a Hive PARTITION column reports unrefreshable instead of throwing (ADVICE r11)") {
    // the delta aggregation reads appended files directly (no partition
    // discovery), so a partition-column grain/measure is absent from the
    // bare read — must surface as refreshed=false, like other
    // unrefreshable diffs, not as a mid-refresh AnalysisException
    val dir = java.nio.file.Files.createTempDirectory("refreshpart").toString
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    try {
      orders.write.mode("overwrite").partitionBy("o_orderstatus")
        .parquet(s"$dir/base")
      val base0 = spark.read.parquet(s"$dir/base")
      Rollup.materialize(base0, Seq("o_orderstatus"), Seq("o_totalprice"))
        .write.mode("overwrite").parquet(s"$dir/sum")
      RollupRewrite.register(base0, spark.read.parquet(s"$dir/sum"),
        Seq("o_orderstatus"), Seq("o_totalprice"))
      RollupRewrite.enable(spark)
      orders.filter(col("o_orderkey") % 7 === 3)
        .write.mode("append").partitionBy("o_orderstatus")
        .parquet(s"$dir/base")
      val rep = RollupRewrite.refreshStale(spark, s"$dir/r")
      assert(rep.size == 1 && !rep.head.refreshed,
        s"partition-column grain must report unrefreshable, got $rep")
      // the registration stays STALE: queries keep falling to the base
      val q = spark.read.parquet(s"$dir/base").groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"))
      assert(scanPaths(q).exists(_.contains("base")),
        s"stale partitioned registration must fall through:\n${q.queryExecution.optimizedPlan}")
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  // ---- serve-time delta compensation ----------------------------------

  /** parquet file names currently under `d`. */
  private def filesIn(d: String): Set[String] =
    Option(new java.io.File(d).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet

  test("compensation: a pure append serves fresh answers from summary + delta only") {
    val dir = java.nio.file.Files.createTempDirectory("comp").toString
    try {
      Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("g", "m")
        .write.mode("overwrite").parquet(s"$dir/base")
      val base0 = spark.read.parquet(s"$dir/base")
      Rollup.materialize(base0, Seq("g"), Seq("m"))
        .write.mode("overwrite").parquet(s"$dir/summary")
      RollupRewrite.register(base0, spark.read.parquet(s"$dir/summary"),
        Seq("g"), Seq("m"))
      RollupRewrite.enable(spark)
      val before = filesIn(s"$dir/base")
      Seq(("a", 100L), ("c", 7L)).toDF("g", "m")
        .write.mode("append").parquet(s"$dir/base")
      val added = filesIn(s"$dir/base") -- before
      def q(src: DataFrame) = src.groupBy("g")
        .agg(count(lit(1)).as("n"), sum("m").as("s"),
          min("m").as("mn"), max("m").as("mx"))
      val base1 = spark.read.parquet(s"$dir/base")
      // off (the default): the stale summary falls through to the base
      assert(scanPaths(q(base1)).contains(s"file:$dir/base"),
        "compensation off: stale registration must fall through to the base")
      RollupRewrite.setCompensation(true)
      val served = q(base1)
      val scans = scanPaths(served)
      assert(scans.exists(_.contains("summary")), s"summary not in plan: $scans")
      assert(!scans.contains(s"file:$dir/base"),
        s"compensated serve must not scan the base dir: $scans")
      val deltaScans = scans.filter(_.contains("/base/"))
      assert(deltaScans.map(p => p.substring(p.lastIndexOf('/') + 1)) == added,
        s"compensated serve must scan EXACTLY the appended files: $scans vs $added")
      assert(served.collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
        == Set(("a", 3L, 103L, 1L, 100L), ("b", 1L, 3L, 3L, 3L), ("c", 1L, 7L, 7L, 7L)))
      // a compensated serve is fresh-equivalent: strict mode must NOT throw
      RollupRewrite.setStrictStaleness(true)
      try assert(q(base1).collect().length == 3)
      finally RollupRewrite.setStrictStaleness(false)
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.setCompensation(false)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("compensation: mixed diffs and pure removals refuse — fall through to the base") {
    val dir = java.nio.file.Files.createTempDirectory("comp_refuse").toString
    try {
      Seq(("a", 1L)).toDF("g", "m").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/base")
      Seq(("b", 2L)).toDF("g", "m").coalesce(1)
        .write.mode("append").parquet(s"$dir/base")
      val base0 = spark.read.parquet(s"$dir/base")
      Rollup.materialize(base0, Seq("g"), Seq("m"))
        .write.mode("overwrite").parquet(s"$dir/summary")
      RollupRewrite.register(base0, spark.read.parquet(s"$dir/summary"),
        Seq("g"), Seq("m"))
      RollupRewrite.enable(spark)
      RollupRewrite.setCompensation(true)
      def q() = spark.read.parquet(s"$dir/base").groupBy("g")
        .agg(sum("m").as("s"))
      // pure removal: nothing to union in — must fall through
      val victim = new java.io.File(s"$dir/base").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      assert(victim.delete())
      assert(scanPaths(q()).contains(s"file:$dir/base"),
        "pure removal must refuse compensation")
      // mixed diff (the removal above + a new append): must also refuse
      Seq(("c", 3L)).toDF("g", "m").write.mode("append").parquet(s"$dir/base")
      assert(scanPaths(q()).contains(s"file:$dir/base"),
        "mixed diff must refuse compensation")
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.setCompensation(false)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("compensation: KMV sketches and exact grain distincts stay lossless over the union") {
    val dir = java.nio.file.Files.createTempDirectory("comp_sketch").toString
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    try {
      orders.filter(col("o_orderkey") % 3 =!= 0)
        .write.mode("overwrite").parquet(s"$dir/base")
      val base0 = spark.read.parquet(s"$dir/base")
      Rollup.materialize(base0, Seq("o_orderpriority", "o_orderstatus"),
          Seq("o_totalprice"), distinctCols = Seq("o_custkey"), sketchK = 64)
        .write.mode("overwrite").parquet(s"$dir/summary")
      RollupRewrite.register(base0, spark.read.parquet(s"$dir/summary"),
        Seq("o_orderpriority", "o_orderstatus"), Seq("o_totalprice"),
        distinctCols = Seq("o_custkey"), sketchK = 64)
      RollupRewrite.enable(spark)
      RollupRewrite.setCompensation(true)
      orders.filter(col("o_orderkey") % 3 === 0)
        .write.mode("append").parquet(s"$dir/base")
      val base1 = spark.read.parquet(s"$dir/base")
      def q(src: DataFrame) = src.groupBy("o_orderstatus")
        .agg(graft.functions.expressions.KmvDistinctAgg.kmvSketch(
            graft.curate.Curate.portableHash60(col("o_custkey")), 64)
          .as("sk"),
          countDistinct(col("o_orderpriority")).as("np"))
      val served = q(base1)
      val scans = scanPaths(served)
      assert(scans.exists(_.contains("summary")) &&
          !scans.contains(s"file:$dir/base"),
        s"sketch query must compensate (summary + delta, no base dir): $scans")
      RollupRewrite.disable(spark)
      val direct = q(base1).collect()
        .map(r => (r.getString(0), r.getSeq[Long](1), r.getLong(2))).toSet
      RollupRewrite.enable(spark)
      val comp = served.collect()
        .map(r => (r.getString(0), r.getSeq[Long](1), r.getLong(2))).toSet
      assert(comp == direct,
        "compensated sketch/exact-distinct must equal the base-computed answer bit for bit")
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.setCompensation(false)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("compensation: lattice routes to the coarsest compensable grain; computed grains and self-unions work") {
    val dir = java.nio.file.Files.createTempDirectory("comp_lattice").toString
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    try {
      orders.filter(col("o_orderkey") % 5 =!= 0)
        .write.mode("overwrite").parquet(s"$dir/base")
      val base0 = spark.read.parquet(s"$dir/base")
      Rollup.materializeExpr(base0,
          Seq("om" -> month(col("o_orderdate"))), Seq("o_custkey"))
        .write.mode("overwrite").parquet(s"$dir/coarse")
      RollupRewrite.register(base0, spark.read.parquet(s"$dir/coarse"),
        Seq("om"), Seq("o_custkey"),
        groupExprOf = Map("om" -> month(col("o_orderdate"))))
      Rollup.materializeExpr(base0,
          Seq("om" -> month(col("o_orderdate")),
            "o_orderstatus" -> col("o_orderstatus")), Seq("o_custkey"))
        .write.mode("overwrite").parquet(s"$dir/fine")
      RollupRewrite.register(base0, spark.read.parquet(s"$dir/fine"),
        Seq("om", "o_orderstatus"), Seq("o_custkey"),
        groupExprOf = Map("om" -> month(col("o_orderdate"))))
      RollupRewrite.enable(spark)
      RollupRewrite.setCompensation(true)
      orders.filter(col("o_orderkey") % 5 === 0)
        .write.mode("append").parquet(s"$dir/base")
      val base1 = spark.read.parquet(s"$dir/base")
      def q(src: DataFrame) = src.groupBy(month(col("o_orderdate")).as("om"))
        .agg(sum("o_custkey").as("s"))
      val scans = scanPaths(q(base1))
      assert(scans.exists(_.contains("coarse")) && !scans.exists(_.contains("fine")),
        s"month() query must compensate on the COARSE grain: $scans")
      // self-union: the same stale summary compensates TWICE in one query
      // with fresh exprIds each time
      val twice = q(base1).unionByName(q(base1)).groupBy("om")
        .agg(sum("s").as("s2"))
      RollupRewrite.disable(spark)
      val direct = q(base1).collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      RollupRewrite.enable(spark)
      assert(twice.collect().map(r => (r.getInt(0), r.getLong(1))).toMap
        == direct.view.mapValues(_ * 2).toMap,
        "self-union compensated query must double the per-month sums")
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.setCompensation(false)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("compensation: CUBE and join navigation serve from stale-by-append summaries") {
    val dir = java.nio.file.Files.createTempDirectory("comp_cube_nav").toString
    try {
      Seq(("a", "x", 1L, 10L), ("a", "y", 2L, 10L), ("b", "x", 3L, 20L))
        .toDF("g", "h", "m", "k")
        .write.mode("overwrite").parquet(s"$dir/fact")
      Seq((10L, "s1", 5L), (20L, "s2", 6L)).toDF("dk", "seg", "dm")
        .write.mode("overwrite").parquet(s"$dir/dim")
      val fact0 = spark.read.parquet(s"$dir/fact")
      val dim0 = spark.read.parquet(s"$dir/dim")
      Rollup.materialize(fact0, Seq("g", "h"), Seq("m"))
        .write.mode("overwrite").parquet(s"$dir/fsum")
      Rollup.materialize(fact0, Seq("k"), Seq("m"))
        .write.mode("overwrite").parquet(s"$dir/ksum")
      Rollup.materialize(dim0, Seq("dk", "seg"), Seq("dm"))
        .write.mode("overwrite").parquet(s"$dir/dsum")
      RollupRewrite.register(fact0, spark.read.parquet(s"$dir/fsum"),
        Seq("g", "h"), Seq("m"))
      RollupRewrite.register(fact0, spark.read.parquet(s"$dir/ksum"),
        Seq("k"), Seq("m"))
      RollupRewrite.register(dim0, spark.read.parquet(s"$dir/dsum"),
        Seq("dk", "seg"), Seq("dm"))
      RollupRewrite.enable(spark)
      RollupRewrite.setCompensation(true)
      // BOTH bases go stale by a pure append
      Seq(("b", "y", 100L, 20L)).toDF("g", "h", "m", "k")
        .write.mode("append").parquet(s"$dir/fact")
      Seq((30L, "s1", 7L)).toDF("dk", "seg", "dm")
        .write.mode("append").parquet(s"$dir/dim")
      val fact1 = spark.read.parquet(s"$dir/fact")
      val dim1 = spark.read.parquet(s"$dir/dim")
      // CUBE over the stale fact: all grouping sets from summary + delta
      val cubeQ = fact1.cube("g", "h")
        .agg(count(lit(1)).as("n"), sum("m").as("s"))
      val cubeScans = scanPaths(cubeQ)
      assert(cubeScans.exists(_.contains("fsum")) &&
          !cubeScans.contains(s"file:$dir/fact"),
        s"cube must compensate on the (g,h) summary: $cubeScans")
      val cube = cubeQ.collect()
        .map(r => (Option(r.getString(0)), Option(r.getString(1)),
          r.getLong(2), r.getLong(3))).toSet
      assert(cube.contains((None, None, 4L, 106L)) &&
        cube.contains((Some("b"), Some("y"), 1L, 100L)) &&
        cube.contains((Some("a"), None, 2L, 3L)),
        s"cube values wrong: $cube")
      // join navigation with BOTH sides stale: zero base scans, both
      // summaries compensated, multiplicity exact
      val navQ = fact1.join(dim1, col("k") === col("dk"))
        .groupBy("seg").agg(count(lit(1)).as("n"), sum("m").as("s"),
          min("m").as("mn"), max("m").as("mx"))
      val navScans = scanPaths(navQ)
      assert(navScans.exists(_.contains("ksum")) &&
          navScans.exists(_.contains("dsum")) &&
          !navScans.contains(s"file:$dir/fact") &&
          !navScans.contains(s"file:$dir/dim"),
        s"join nav must compensate both sides: $navScans")
      val nav = navQ.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      // s1 joins k=10 (rows m=1,2); s2 joins k=20 (rows m=3,100);
      // dk=30 matches no fact row
      assert(nav == Set(("s1", 2L, 3L, 1L, 2L), ("s2", 2L, 103L, 3L, 100L)),
        s"nav values wrong: $nav")
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.setCompensation(false)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("compensation caches the delta aggregate: later queries scan the summary only; an append rotates the key") {
    val dir = java.nio.file.Files.createTempDirectory("comp_cache").toString
    try {
      Seq(("a", 1L), ("b", 3L)).toDF("g", "m")
        .write.mode("overwrite").parquet(s"$dir/base")
      val base0 = spark.read.parquet(s"$dir/base")
      Rollup.materialize(base0, Seq("g"), Seq("m"))
        .write.mode("overwrite").parquet(s"$dir/summary")
      RollupRewrite.register(base0, spark.read.parquet(s"$dir/summary"),
        Seq("g"), Seq("m"))
      RollupRewrite.enable(spark)
      RollupRewrite.setCompensation(true)
      Seq(("a", 100L)).toDF("g", "m").write.mode("append").parquet(s"$dir/base")
      def q() = spark.read.parquet(s"$dir/base").groupBy("g")
        .agg(sum("m").as("s"))
      def vals(df: DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      // first compensated query: collects + caches the delta summary
      val first = q()
      assert(vals(first) == Set(("a", 101L), ("b", 3L)))
      // second query: the plan scans ONLY the stored summary — the delta
      // rides in as a driver-local relation
      val second = q()
      val scans2 = scanPaths(second)
      assert(scans2.nonEmpty && scans2.forall(_.contains("summary")),
        s"cached compensation must scan the summary only: $scans2")
      assert(vals(second) == Set(("a", 101L), ("b", 3L)))
      // ANOTHER append rotates the manifest digest: the stale cache entry
      // cannot serve, the new delta set is aggregated fresh
      Seq(("c", 7L)).toDF("g", "m").write.mode("append").parquet(s"$dir/base")
      assert(vals(q()) == Set(("a", 101L), ("b", 3L), ("c", 7L)),
        "a further append must invalidate the cached delta")
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.setCompensation(false)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("compensation composes with eager-aggregation navigation (q172 under a stale fact summary)") {
    val dir = java.nio.file.Files.createTempDirectory("comp_nav_eager").toString
    try {
      Seq((1L, 10L), (1L, 20L), (2L, 30L)).toDF("k", "m")
        .write.mode("overwrite").parquet(s"$dir/fact")
      val fact0 = spark.read.parquet(s"$dir/fact")
      Rollup.materialize(fact0, Seq("k"), Seq("m"))
        .write.mode("overwrite").parquet(s"$dir/fsum")
      RollupRewrite.register(fact0, spark.read.parquet(s"$dir/fsum"),
        Seq("k"), Seq("m"))
      RollupRewrite.enable(spark)
      EagerAggregation.enable(spark)
      RollupRewrite.setCompensation(true)
      Seq((2L, 40L)).toDF("k", "m")
        .write.mode("append").parquet(s"$dir/fact")
      val fact1 = spark.read.parquet(s"$dir/fact")
      // dim as a range input so plan guards survive ConvertToLocalRelation
      val dim = spark.range(1, 3).select(col("id").as("dk"),
        (col("id") % 2).cast("string").as("g"))
      val q = fact1.join(dim, col("k") === col("dk"))
        .groupBy("g").agg(sum("m").as("s"))
      // eager aggregation pushes the fact partial below the join; the
      // rewrite then redirects the pushed partial to the STALE summary
      // via compensation — the fact base dir never scans
      val scans = scanPaths(q)
      assert(scans.exists(_.contains("fsum")) &&
          !scans.contains(s"file:$dir/fact"),
        s"navigation must compensate the stale fact summary: $scans")
      assert(EagerAggregation.partialAggBelowJoin(q),
        "the pushed partial must still be below the join")
      assert(q.collect().map(r => (r.getString(0), r.getLong(1))).toSet
        == Set(("1", 30L), ("0", 70L)))
    } finally {
      RollupRewrite.disable(spark)
      EagerAggregation.disable(spark)
      RollupRewrite.setCompensation(false)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  // ---- aggregate join summaries (AJI) ---------------------------------

  test("joined summary serves the join-aggregate with NO serve-time join; dual staleness guards") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val dir = java.nio.file.Files.createTempDirectory("aji").toString
    try {
      Seq((1L, "a", 10L), (1L, "b", 20L), (2L, "a", 30L), (3L, "a", 40L))
        .toDF("k", "h", "m")
        .write.mode("overwrite").parquet(s"$dir/fact")
      Seq((1L, "s1"), (2L, "s2"), (3L, "s1")).toDF("dk", "seg")
        .write.mode("overwrite").parquet(s"$dir/dim")
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim")
      // grain spans BOTH sides: seg (dim) + h (fact)
      Rollup.materializeJoined(fact, dim, Seq("k" -> "dk"),
          Seq("seg", "h"), Seq("m"))
        .write.mode("overwrite").parquet(s"$dir/aji")
      RollupRewrite.registerJoined(fact, dim, Seq("k" -> "dk"),
        spark.read.parquet(s"$dir/aji"), Seq("seg", "h"), Seq("m"))
      RollupRewrite.enable(spark)
      def q(f: DataFrame, d: DataFrame) = f.join(d, col("k") === col("dk"))
        .groupBy("seg").agg(count(lit(1)).as("n"), sum("m").as("s"),
          min("m").as("mn"), max("m").as("mx"))
      val served = q(fact, dim)
      val scans = scanPaths(served)
      assert(scans == Set(s"file:$dir/aji"),
        s"join-aggregate must serve from the AJI alone: $scans")
      assert(served.queryExecution.optimizedPlan.collect {
          case j: LJoin => j }.isEmpty,
        "NO serve-time join — that is the whole point of an AJI")
      def vals(df: DataFrame) = df.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      assert(vals(served) ==
        Set(("s1", 3L, 70L, 10L, 40L), ("s2", 1L, 30L, 30L, 30L)))
      // fact-side grain + filter through the grain, same summary
      val fine = fact.join(dim, col("k") === col("dk"))
        .filter(col("seg") === "s1")
        .groupBy("h").agg(sum("m").as("s"))
      assert(scanPaths(fine) == Set(s"file:$dir/aji"),
        s"filtered fact-grain query must also ride the AJI: ${scanPaths(fine)}")
      assert(fine.collect().map(r => (r.getString(0), r.getLong(1))).toSet
        == Set(("a", 50L), ("b", 20L)))
      // swapped join order still matches (orientation B)
      val swapped = dim.join(fact, col("dk") === col("k"))
        .groupBy("seg").agg(sum("m").as("s"))
      assert(scanPaths(swapped) == Set(s"file:$dir/aji"),
        s"dim-first join order must match too: ${scanPaths(swapped)}")
      // DIM append -> BOTH-base freshness fails -> real join again
      Seq((4L, "s2")).toDF("dk", "seg").write.mode("append")
        .parquet(s"$dir/dim")
      val fallen = q(spark.read.parquet(s"$dir/fact"),
        spark.read.parquet(s"$dir/dim"))
      assert(scanPaths(fallen).contains(s"file:$dir/fact") &&
          scanPaths(fallen).contains(s"file:$dir/dim"),
        s"stale dim must fall back to the real join: ${scanPaths(fallen)}")
      // strict mode: the stale AJI that would have answered throws
      RollupRewrite.setStrictStaleness(true)
      try intercept[IllegalStateException] {
        q(spark.read.parquet(s"$dir/fact"),
          spark.read.parquet(s"$dir/dim")).queryExecution.optimizedPlan
      } finally RollupRewrite.setStrictStaleness(false)
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.setStrictStaleness(false)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("joined summary: fact appends delta-refresh; dim appends refresh via F⋈ΔD; removals refuse") {
    val dir = java.nio.file.Files.createTempDirectory("aji_refresh").toString
    try {
      Seq((1L, 10L), (2L, 20L)).toDF("k", "m")
        .write.mode("overwrite").parquet(s"$dir/fact")
      Seq((1L, "s1"), (2L, "s2")).toDF("dk", "seg")
        .write.mode("overwrite").parquet(s"$dir/dim")
      val fact0 = spark.read.parquet(s"$dir/fact")
      val dim0 = spark.read.parquet(s"$dir/dim")
      Rollup.materializeJoined(fact0, dim0, Seq("k" -> "dk"),
          Seq("seg"), Seq("m"))
        .write.mode("overwrite").parquet(s"$dir/aji")
      RollupRewrite.registerJoined(fact0, dim0, Seq("k" -> "dk"),
        spark.read.parquet(s"$dir/aji"), Seq("seg"), Seq("m"))
      RollupRewrite.enable(spark)
      def files() = new java.io.File(s"$dir/fact").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
      val before = files()
      Seq((1L, 100L), (3L, 7L)).toDF("k", "m") // k=3 has no dim row YET
        .write.mode("append").parquet(s"$dir/fact")
      val added = files() -- before
      val rep = RollupRewrite.refreshStale(spark, s"$dir/ref")
      assert(rep.size == 1 && rep.head.refreshed &&
          rep.head.deltaFiles.map(p =>
            p.substring(p.lastIndexOf('/') + 1)).toSet == added,
        s"fact append must delta-refresh the AJI: $rep")
      def q() = spark.read.parquet(s"$dir/fact")
        .join(spark.read.parquet(s"$dir/dim"), col("k") === col("dk"))
        .groupBy("seg").agg(count(lit(1)).as("n"), sum("m").as("s"))
      val served = q()
      assert(scanPaths(served).forall(_.contains("refreshj")),
        s"post-refresh join-aggregate must ride the refreshed AJI: ${scanPaths(served)}")
      assert(served.collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        == Set(("s1", 2L, 110L), ("s2", 1L, 20L)),
        "the k=3 delta row has no dim match and must NOT appear")
      // DIM append: refreshable via F⋈ΔD — the new (3, s1) dim row must
      // pick up the ALREADY-STORED k=3 fact row (the old-fact × new-dim
      // term; a fact-delta-only refresh would miss it)
      Seq((3L, "s1")).toDF("dk", "seg").write.mode("append")
        .parquet(s"$dir/dim")
      val rep2 = RollupRewrite.refreshStale(spark, s"$dir/ref2")
      assert(rep2.size == 1 && rep2.head.refreshed,
        s"a pure dim append must delta-refresh: $rep2")
      val served2 = q()
      assert(scanPaths(served2).forall(p =>
          p.contains("/ref2/") && p.contains("refreshj")),
        s"post-dim-refresh serve must ride the SECOND refresh: ${scanPaths(served2)}")
      assert(served2.collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        == Set(("s1", 3L, 117L), ("s2", 1L, 20L)),
        "the stored k=3 fact row must join the appended dim row")
      // a DIM REMOVAL refuses (rebuild territory), serve falls back
      val dimFile = new java.io.File(s"$dir/dim").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      assert(dimFile.delete())
      val rep3 = RollupRewrite.refreshStale(spark, s"$dir/ref3")
      assert(rep3.size == 1 && !rep3.head.refreshed,
        s"a dim removal must report unrefreshable: $rep3")
      assert(scanPaths(q()).exists(_.contains("/fact")),
        "stale-by-dim-removal AJI must fall back to the real join")
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("joined summary: fact-append compensation — first serve splices the delta join, steady state scans the AJI alone; dim staleness refuses") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val dir = java.nio.file.Files.createTempDirectory("aji_comp").toString
    try {
      Seq((1L, 10L), (2L, 20L)).toDF("k", "m")
        .write.mode("overwrite").parquet(s"$dir/fact")
      Seq((1L, "s1"), (2L, "s2")).toDF("dk", "seg")
        .write.mode("overwrite").parquet(s"$dir/dim")
      val fact0 = spark.read.parquet(s"$dir/fact")
      val dim0 = spark.read.parquet(s"$dir/dim")
      Rollup.materializeJoined(fact0, dim0, Seq("k" -> "dk"),
          Seq("seg"), Seq("m"))
        .write.mode("overwrite").parquet(s"$dir/aji")
      RollupRewrite.registerJoined(fact0, dim0, Seq("k" -> "dk"),
        spark.read.parquet(s"$dir/aji"), Seq("seg"), Seq("m"))
      RollupRewrite.enable(spark)
      RollupRewrite.setCompensation(true)
      // k=9 has no dim row: the delta JOIN (not a bare delta agg) must
      // drop it exactly like the base join would
      Seq((1L, 100L), (9L, 777L)).toDF("k", "m")
        .write.mode("append").parquet(s"$dir/fact")
      def q() = spark.read.parquet(s"$dir/fact")
        .join(spark.read.parquet(s"$dir/dim"), col("k") === col("dk"))
        .groupBy("seg").agg(count(lit(1)).as("n"), sum("m").as("s"),
          min("m").as("mn"), max("m").as("mx"))
      def vals(df: DataFrame) = df.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      val want = Set(("s1", 2L, 110L, 10L, 100L), ("s2", 1L, 20L, 20L, 20L))
      // FIRST serve: AJI + exactly the appended fact file + the dim —
      // never the fact base dir
      val first = q()
      val s1 = scanPaths(first)
      assert(s1.contains(s"file:$dir/aji") && s1.contains(s"file:$dir/dim") &&
          s1.exists(p => p.contains("/fact/") && p.endsWith(".parquet")) &&
          !s1.contains(s"file:$dir/fact"),
        s"first compensated serve must splice the delta join: $s1")
      assert(vals(first) == want)
      // under strict staleness a compensated serve counts as FRESH
      RollupRewrite.setStrictStaleness(true)
      try assert(vals(q()) == want) // must not throw
      finally RollupRewrite.setStrictStaleness(false)
      // STEADY STATE: cached driver-local delta, AJI scan only, no join
      val steady = q()
      assert(scanPaths(steady) == Set(s"file:$dir/aji"),
        s"steady-state compensated serve must scan the AJI alone: ${scanPaths(steady)}")
      assert(steady.queryExecution.optimizedPlan.collect {
          case j: LJoin => j }.isEmpty, "steady state must be join-free")
      assert(vals(steady) == want)
      // DIM staleness refuses compensation (and strict mode then throws)
      Seq((9L, "s1")).toDF("dk", "seg").write.mode("append")
        .parquet(s"$dir/dim")
      val fallen = q()
      assert(scanPaths(fallen).contains(s"file:$dir/fact") &&
          scanPaths(fallen).contains(s"file:$dir/dim"),
        s"dim-stale AJI must refuse compensation: ${scanPaths(fallen)}")
      assert(vals(fallen) ==
        Set(("s1", 3L, 887L, 10L, 777L), ("s2", 1L, 20L, 20L, 20L)))
      RollupRewrite.setStrictStaleness(true)
      try intercept[IllegalStateException] { q().queryExecution.optimizedPlan }
      finally RollupRewrite.setStrictStaleness(false)
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.setCompensation(false)
      RollupRewrite.setStrictStaleness(false)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("joined summary carries KMV + histogram sketches: serve lossless; compensation and refresh merge them exactly") {
    import graft.functions.expressions.KmvDistinctAgg.{estimateDistinct, kmvSketch}
    import graft.functions.expressions.HistAgg
    import graft.curate.Curate.portableHash60
    val dir = java.nio.file.Files.createTempDirectory("aji_sketch").toString
    val k = 4
    try {
      // 6 distinct p values per segment > k=4: the FILLED-sketch
      // estimate path is exercised, not just the exact-count one
      Seq((1L, 3L, "p1"), (1L, 9L, "p2"), (1L, 17L, "p3"), (2L, 33L, "p4"),
          (2L, 65L, "p5"), (2L, 129L, "p6"), (3L, 5L, "p1"), (3L, 40L, "p2"))
        .toDF("k", "m", "p")
        .write.mode("overwrite").parquet(s"$dir/fact")
      Seq((1L, "s1"), (2L, "s2"), (3L, "s1")).toDF("dk", "seg")
        .write.mode("overwrite").parquet(s"$dir/dim")
      val fact0 = spark.read.parquet(s"$dir/fact")
      val dim0 = spark.read.parquet(s"$dir/dim")
      Rollup.materializeJoined(fact0, dim0, Seq("k" -> "dk"), Seq("seg"),
          Seq("m"), distinctCols = Seq("p"), sketchK = k,
          histCols = Seq("m"))
        .write.mode("overwrite").parquet(s"$dir/aji")
      RollupRewrite.registerJoined(fact0, dim0, Seq("k" -> "dk"),
        spark.read.parquet(s"$dir/aji"), Seq("seg"), Seq("m"),
        distinctCols = Seq("p"), sketchK = k, histCols = Seq("m"))
      def q() = spark.read.parquet(s"$dir/fact")
        .join(spark.read.parquet(s"$dir/dim"), col("k") === col("dk"))
        .groupBy("seg")
        .agg(kmvSketch(portableHash60(col("p")), k).as("mins"),
          HistAgg.histSketch(col("m")).as("h"), count(lit(1)).as("n"))
        .select(col("seg"), col("n"), concat_ws(",", col("mins")).as("ms"),
          estimateDistinct(col("mins"), k).as("est"),
          HistAgg.histQuantile(col("h"), 0.5).as("p50"),
          HistAgg.histQuantile(col("h"), 0.99).as("p99"))
      def vals(df: DataFrame) = df.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getString(2), r.getDouble(3),
          r.getLong(4), r.getLong(5))).toSet
      // base truth with the rule OFF
      val want0 = vals(q())
      RollupRewrite.enable(spark)
      val served = q()
      assert(scanPaths(served) == Set(s"file:$dir/aji"),
        s"sketch AJI serve must be summary-only: ${scanPaths(served)}")
      assert(vals(served) == want0,
        "summary-served sketches must be IDENTICAL to base-computed")
      // fact-append COMPENSATION: KMV union + hist bucket adds are
      // lossless over the Union splice
      RollupRewrite.setCompensation(true)
      Seq((1L, 300L, "p7"), (2L, 70L, "p2")).toDF("k", "m", "p")
        .write.mode("append").parquet(s"$dir/fact")
      val comp = q()
      assert(scanPaths(comp).exists(_.contains("/fact/")) &&
          !scanPaths(comp).contains(s"file:$dir/fact"),
        s"compensated sketch serve must splice the delta: ${scanPaths(comp)}")
      RollupRewrite.disable(spark)
      val want1 = vals(q())
      RollupRewrite.enable(spark)
      assert(vals(comp) == want1,
        "compensated sketches must equal the base-computed ones")
      // REFRESH folds the delta durably — sketch merge ≡ full rebuild;
      // then a DIM append merges sketches through the F⋈ΔD path too
      val rep = RollupRewrite.refreshStale(spark, s"$dir/ref")
      assert(rep.size == 1 && rep.head.refreshed, s"refresh failed: $rep")
      val refreshed = q()
      assert(scanPaths(refreshed).forall(_.contains("refreshj")),
        s"post-refresh serve must ride the refreshed AJI: ${scanPaths(refreshed)}")
      assert(vals(refreshed) == want1)
      // (9, s2) matches no fact row; (3, s3) matches the STORED k=3
      // fact rows — a brand-new group whose KMV+hist come entirely from
      // the F⋈ΔD term
      Seq((9L, "s2"), (3L, "s3")).toDF("dk", "seg").write.mode("append")
        .parquet(s"$dir/dim")
      val rep2 = RollupRewrite.refreshStale(spark, s"$dir/ref2")
      assert(rep2.size == 1 && rep2.head.refreshed,
        s"dim append with sketches must refresh: $rep2")
      RollupRewrite.disable(spark)
      val want2 = vals(q())
      RollupRewrite.enable(spark)
      val refreshed2 = q()
      assert(scanPaths(refreshed2).forall(_.contains("/ref2/")),
        s"serve must ride the second refresh: ${scanPaths(refreshed2)}")
      assert(vals(refreshed2) == want2)
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.setCompensation(false)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("star summary: fact ⋈ d1 ⋈ d2 serves join-free; staleness per side; fact-append compensation and refresh; persistence") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val dir = java.nio.file.Files.createTempDirectory("star_aji").toString
    try {
      Seq((1L, 10L, 100L), (1L, 20L, 200L), (2L, 10L, 300L), (2L, 20L, 400L))
        .toDF("fk1", "fk2", "m")
        .write.mode("overwrite").parquet(s"$dir/fact")
      Seq((1L, "a"), (2L, "b")).toDF("d1k", "g1")
        .write.mode("overwrite").parquet(s"$dir/d1")
      Seq((10L, "x"), (20L, "y")).toDF("d2k", "g2")
        .write.mode("overwrite").parquet(s"$dir/d2")
      val fact = spark.read.parquet(s"$dir/fact")
      val d1 = spark.read.parquet(s"$dir/d1")
      val d2 = spark.read.parquet(s"$dir/d2")
      val dims = Seq(d1 -> Seq("fk1" -> "d1k"), d2 -> Seq("fk2" -> "d2k"))
      Rollup.materializeStar(fact, dims, Seq("g1", "g2"), Seq("m"))
        .write.mode("overwrite").parquet(s"$dir/star")
      RollupRewrite.registerStar(fact, dims,
        spark.read.parquet(s"$dir/star"), Seq("g1", "g2"), Seq("m"))
      RollupRewrite.enable(spark)
      def q() = spark.read.parquet(s"$dir/fact")
        .join(spark.read.parquet(s"$dir/d1"), col("fk1") === col("d1k"))
        .join(spark.read.parquet(s"$dir/d2"), col("fk2") === col("d2k"))
        .groupBy("g1", "g2")
        .agg(count(lit(1)).as("n"), sum("m").as("s"))
      def vals(df: DataFrame) = df.collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      val want = Set(("a", "x", 1L, 100L), ("a", "y", 1L, 200L),
        ("b", "x", 1L, 300L), ("b", "y", 1L, 400L))
      val served = q()
      assert(scanPaths(served) == Set(s"file:$dir/star") &&
          served.queryExecution.optimizedPlan.collect {
            case j: LJoin => j }.isEmpty,
        s"star query must serve from the star summary, join-free: ${scanPaths(served)}")
      assert(vals(served) == want)
      // coarsening to one dim's grain from the same summary
      val coarse = spark.read.parquet(s"$dir/fact")
        .join(spark.read.parquet(s"$dir/d1"), col("fk1") === col("d1k"))
        .join(spark.read.parquet(s"$dir/d2"), col("fk2") === col("d2k"))
        .groupBy("g1").agg(sum("m").as("s"))
      assert(scanPaths(coarse) == Set(s"file:$dir/star"),
        s"coarsened star grain must ride the summary: ${scanPaths(coarse)}")
      assert(coarse.collect().map(r => (r.getString(0), r.getLong(1))).toSet
        == Set(("a", 300L), ("b", 700L)))
      // persistence round-trip (s1 manifest lines)
      RollupRewrite.save(spark, s"$dir/lattice.manifest")
      RollupRewrite.clear()
      assert(RollupRewrite.restore(spark, s"$dir/lattice.manifest") == 1)
      assert(scanPaths(q()) == Set(s"file:$dir/star"),
        "restored star summary must serve")
      // fact append: stale -> compensation splices Δfact ⋈ dims; the
      // k=(3, 30) row matches NO dim and must drop in the delta join
      RollupRewrite.setCompensation(true)
      Seq((1L, 10L, 1000L), (3L, 30L, 7L)).toDF("fk1", "fk2", "m")
        .write.mode("append").parquet(s"$dir/fact")
      val comp = q()
      assert(scanPaths(comp).contains(s"file:$dir/star") &&
          scanPaths(comp).exists(p => p.contains("/fact/") &&
            p.endsWith(".parquet")) &&
          !scanPaths(comp).contains(s"file:$dir/fact"),
        s"star compensation must splice the delta: ${scanPaths(comp)}")
      val want2 = Set(("a", "x", 2L, 1100L), ("a", "y", 1L, 200L),
        ("b", "x", 1L, 300L), ("b", "y", 1L, 400L))
      assert(vals(comp) == want2)
      // refresh folds the delta durably (Δfact ⋈ dims + merge)
      val rep = RollupRewrite.refreshStale(spark, s"$dir/ref")
      assert(rep.size == 1 && rep.head.refreshed &&
          rep.head.summaryPath.contains("refreshs"),
        s"star fact append must refresh: $rep")
      val refreshed = q()
      assert(scanPaths(refreshed).forall(_.contains("refreshs")),
        s"post-refresh star serve must ride the refreshed summary: ${scanPaths(refreshed)}")
      assert(vals(refreshed) == want2)
      // describeRegistrations reports the star row with live freshness
      val row = RollupRewrite.describeRegistrations(spark).collect()
        .find(_.getAs[String]("base").count(_ == '⋈') == 2).get
      assert(row.getAs[Boolean]("fresh") && !row.getAs[Boolean]("compensable"),
        s"post-refresh star row must read fresh: $row")
      // a DIM append now delta-refreshes too (VERDICT r12 #1 — the
      // telescoping algebra): F_reg ⋈ ΔD1 ⋈ D2_cur. The new d1 row
      // (3, "c") pairs only with the fact row (3, 30, 7), which still
      // has no d2 match — values unchanged, but the refresh must land
      assert(!RollupRewrite.refreshStale(spark, s"$dir/ref2a").exists(_.refreshed),
        "freshly-refreshed star must report nothing to refresh")
      Seq((3L, "c")).toDF("d1k", "g1").write.mode("append")
        .parquet(s"$dir/d1")
      val rep2 = RollupRewrite.refreshStale(spark, s"$dir/ref2")
      assert(rep2.size == 1 && rep2.head.refreshed &&
          rep2.head.deltaFiles.forall(_.contains("/d1/")),
        s"star dim append must delta-refresh: $rep2")
      val served2 = q()
      assert(scanPaths(served2).forall(_.contains("refreshs")) &&
          served2.queryExecution.optimizedPlan.collect {
            case j: LJoin => j }.isEmpty,
        s"post-dim-refresh serve must ride the refreshed summary: ${scanPaths(served2)}")
      assert(vals(served2) == want2)
      // fact AND dim appended in ONE stale window: the fact term
      // (ΔF ⋈ dims current) and the d2 term (F_reg ⋈ d1_reg ⋈ ΔD2)
      // partition the new pairs — (3,30,9) lands in the fact term,
      // (3,30,7)⋈(30,z) in the dim term, no pair twice
      Seq((3L, 30L, 9L)).toDF("fk1", "fk2", "m")
        .write.mode("append").parquet(s"$dir/fact")
      Seq((30L, "z")).toDF("d2k", "g2").write.mode("append")
        .parquet(s"$dir/d2")
      val rep3 = RollupRewrite.refreshStale(spark, s"$dir/ref3")
      assert(rep3.size == 1 && rep3.head.refreshed &&
          rep3.head.deltaFiles.size == 2 &&
          rep3.head.deltaFiles.exists(_.contains("/fact/")) &&
          rep3.head.deltaFiles.exists(_.contains("/d2/")),
        s"both-sides append must refresh from exactly both deltas: $rep3")
      val served3 = q()
      assert(scanPaths(served3).forall(_.contains("refreshs")))
      assert(vals(served3) == want2 + (("c", "z", 2L, 16L)),
        s"telescoped both-sides refresh wrong: ${vals(served3)}")
      // a DIM overwrite refuses (rebuild territory): the append term
      // algebra covers pure appends only, and the overwrite's mixed
      // remove+add diff is not a trash-protocol single-side delete
      // (those retract — see the star DELETE test)
      Seq((1L, "a"), (2L, "b")).toDF("d1k", "g1")
        .write.mode("overwrite").parquet(s"$dir/d1")
      val rep4 = RollupRewrite.refreshStale(spark, s"$dir/ref4")
      assert(rep4.size == 1 && !rep4.head.refreshed,
        s"star dim removal must refuse: $rep4")
      assert(scanPaths(q()).contains(s"file:$dir/fact"),
        "stale-by-dim-removal star must fall back to the real joins")
      val row2 = RollupRewrite.describeRegistrations(spark).collect()
        .find(_.getAs[String]("base").count(_ == '⋈') == 2).get
      assert(!row2.getAs[Boolean]("fresh") && !row2.getAs[Boolean]("compensable"),
        s"a star dim removal is neither fresh nor compensable: $row2")
      // strict staleness: the stale star that would have answered throws
      RollupRewrite.setStrictStaleness(true)
      try intercept[IllegalStateException] { q().queryExecution.optimizedPlan }
      finally RollupRewrite.setStrictStaleness(false)
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.setCompensation(false)
      RollupRewrite.setStrictStaleness(false)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("star navigation: three plain summaries serve the star aggregate; dim duplicates weighted by the PRODUCT (r13)") {
    val dir = java.nio.file.Files.createTempDirectory("starnav").toString
    try {
      // DUPLICATE keys on BOTH dims: fact row (1, 10) pairs with 2 d1
      // rows × 3 d2 rows = 6 base join rows — the Πn_i multiplicity
      // crux. Decimal measure rides along (exact ×count arithmetic).
      Seq((1L, 10L, 7L, "1.25"), (1L, 20L, 9L, "2.50"),
          (2L, 10L, 11L, "0.75"), (3L, 30L, 13L, "4.00"))
        .toDF("k1", "k2", "m", "ms")
        .select(col("k1"), col("k2"), col("m"),
          col("ms").cast("decimal(12,2)").as("md"))
        .write.parquet(s"$dir/fact")
      Seq((1L, "a"), (1L, "a"), (2L, "b"), (9L, "z"))
        .toDF("d1k", "g1").write.parquet(s"$dir/d1")
      Seq((10L, "x"), (10L, "x"), (10L, "y"), (20L, "y"))
        .toDF("d2k", "g2").write.parquet(s"$dir/d2")
      val fact = spark.read.parquet(s"$dir/fact")
      val d1 = spark.read.parquet(s"$dir/d1")
      val d2 = spark.read.parquet(s"$dir/d2")
      Rollup.materialize(fact, Seq("k1", "k2"), Seq("m", "md"))
        .write.parquet(s"$dir/fsum")
      Rollup.materialize(d1, Seq("d1k", "g1"), Seq("d1k"))
        .write.parquet(s"$dir/d1sum")
      Rollup.materialize(d2, Seq("d2k", "g2"), Seq("d2k"))
        .write.parquet(s"$dir/d2sum")
      RollupRewrite.register(fact, spark.read.parquet(s"$dir/fsum"),
        Seq("k1", "k2"), Seq("m", "md"))
      RollupRewrite.register(d1, spark.read.parquet(s"$dir/d1sum"),
        Seq("d1k", "g1"), Seq("d1k"))
      RollupRewrite.register(d2, spark.read.parquet(s"$dir/d2sum"),
        Seq("d2k", "g2"), Seq("d2k"))
      RollupRewrite.enable(spark)
      def q() = fact.join(d1, col("k1") === col("d1k"))
        .join(d2, col("k2") === col("d2k"))
        .groupBy("g1", "g2")
        .agg(count(lit(1)).as("n"), sum("m").as("s"), min("m").as("mn"),
          max("m").as("mx"), avg("m").as("a"), sum("md").as("sd"),
          avg("md").as("ad"))
      val served = q()
      val scans = scanPaths(served)
      assert(scans == Set(s"file:$dir/fsum", s"file:$dir/d1sum",
          s"file:$dir/d2sum"),
        s"star nav must read exactly the three summaries:\n${served.queryExecution.optimizedPlan}")
      RollupRewrite.disable(spark)
      val direct = q()
      assert(served.schema == direct.schema)
      def rows(df: DataFrame) = df.collect().map(r =>
        ((r.getString(0), r.getString(1)),
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
            r.getDouble(6), r.getDecimal(7).toPlainString,
            r.getDecimal(8).toPlainString))).toMap
      val want = rows(direct)
      RollupRewrite.enable(spark)
      // the served hash aggregate's generated code compiles: a failed
      // compile logs an ERROR and falls back to interpreted execution
      val (got, codegenErrors) = logged(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator")(rows(served))
      assert(codegenErrors.isEmpty, s"codegen failed: ${codegenErrors.mkString("\n")}")
      assert(got == want && want.nonEmpty,
        s"star navigation diverged: got $got want $want")
      // per-side filter routes to its own summary
      def qf() = fact.join(d1, col("k1") === col("d1k"))
        .join(d2, col("k2") === col("d2k"))
        .filter(col("g2") === "x" && col("k1") >= 1)
        .groupBy("g1").agg(sum("m").as("s"))
      val servedF = qf()
      assert(scanPaths(servedF).forall(_.contains("sum")),
        s"filtered star nav must stay on summaries: ${scanPaths(servedF)}")
      RollupRewrite.disable(spark)
      val wantF = qf().collect().map(_.toSeq).toSet
      RollupRewrite.enable(spark)
      assert(servedF.collect().map(_.toSeq).toSet == wantF)
      // a missing dim summary falls through to the base
      RollupRewrite.clear()
      RollupRewrite.register(fact, spark.read.parquet(s"$dir/fsum"),
        Seq("k1", "k2"), Seq("m", "md"))
      RollupRewrite.register(d1, spark.read.parquet(s"$dir/d1sum"),
        Seq("d1k", "g1"), Seq("d1k"))
      assert(scanPaths(q()).exists(_.contains("/d2")),
        "with no d2 summary the star query must fall back to the base")
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("star navigation resolves join keys renamed below the join") {
    val dir = java.nio.file.Files.createTempDirectory("starnav_rename").toString
    try {
      Seq((1L, 10L, 7L), (1L, 20L, 9L), (2L, 10L, 11L), (3L, 30L, 13L))
        .toDF("k1", "k2", "m").write.parquet(s"$dir/fact")
      Seq((1L, "a"), (1L, "a"), (2L, "b")).toDF("d1k", "g1")
        .write.parquet(s"$dir/d1")
      Seq((10L, "x"), (10L, "y"), (20L, "y")).toDF("d2k", "g2")
        .write.parquet(s"$dir/d2")
      val fact = spark.read.parquet(s"$dir/fact")
      val d1 = spark.read.parquet(s"$dir/d1")
      val d2 = spark.read.parquet(s"$dir/d2")
      Rollup.materialize(fact, Seq("k1", "k2"), Seq("m")).write.parquet(s"$dir/fsum")
      Rollup.materialize(d1, Seq("d1k", "g1"), Nil).write.parquet(s"$dir/d1sum")
      Rollup.materialize(d2, Seq("d2k", "g2"), Nil).write.parquet(s"$dir/d2sum")
      RollupRewrite.register(fact, spark.read.parquet(s"$dir/fsum"),
        Seq("k1", "k2"), Seq("m"))
      RollupRewrite.register(d1, spark.read.parquet(s"$dir/d1sum"),
        Seq("d1k", "g1"), Nil)
      RollupRewrite.register(d2, spark.read.parquet(s"$dir/d2sum"),
        Seq("d2k", "g2"), Nil)
      RollupRewrite.enable(spark)
      // d1's key is renamed below the join: the join condition reads the
      // alias, which resolves through the Project to d1k
      def q() = fact.join(d1.select(col("d1k").as("k"), col("g1")),
          col("k1") === col("k"))
        .join(d2, col("k2") === col("d2k"))
        .groupBy("g1", "g2").agg(count(lit(1)).as("n"), sum("m").as("s"))
      val served = q()
      assert(scanPaths(served) == Set(s"file:$dir/fsum", s"file:$dir/d1sum",
          s"file:$dir/d2sum"),
        s"renamed-key star must navigate:\n${served.queryExecution.optimizedPlan}")
      val got = served.collect().map(_.toSeq).toSet
      RollupRewrite.disable(spark)
      val want = q().collect().map(_.toSeq).toSet
      assert(got == want && want.nonEmpty, s"got $got want $want")
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("two-summary navigation matches a computed join key against a computed grain") {
    val dir = java.nio.file.Files.createTempDirectory("joinnav_ckey").toString
    try {
      Seq((1L, 10L), (1L, 20L), (2L, 5L), (3L, 7L), (4L, 100L))
        .toDF("k1", "m").write.parquet(s"$dir/fact")
      // dk % 10 collides across dk values: the dim summary's computed
      // key grain carries duplicates that navigation must weight exactly
      Seq((11L, "x"), (21L, "x"), (2L, "y"), (12L, "y"), (3L, "z"), (5L, "z"))
        .toDF("dk", "g").write.parquet(s"$dir/dim")
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim")
      val keyExpr = col("dk") % 10
      Rollup.materialize(fact, Seq("k1"), Seq("m")).write.parquet(s"$dir/fsum")
      Rollup.materializeExpr(dim, Seq("k" -> keyExpr, "g" -> col("g")), Nil)
        .write.parquet(s"$dir/dsum")
      RollupRewrite.register(fact, spark.read.parquet(s"$dir/fsum"),
        Seq("k1"), Seq("m"))
      RollupRewrite.register(dim, spark.read.parquet(s"$dir/dsum"),
        Seq("k", "g"), Nil, groupExprOf = Map("k" -> keyExpr))
      RollupRewrite.enable(spark)
      def q() = fact.join(dim.select(keyExpr.as("k"), col("g")),
          col("k1") === col("k"))
        .groupBy("g").agg(count(lit(1)).as("n"), sum("m").as("s"))
      val served = q()
      assert(scanPaths(served) == Set(s"file:$dir/fsum", s"file:$dir/dsum"),
        s"computed-key join must navigate:\n${served.queryExecution.optimizedPlan}")
      val got = served.collect().map(_.toSeq).toSet
      RollupRewrite.disable(spark)
      val want = q().collect().map(_.toSeq).toSet
      assert(got == want && want.nonEmpty, s"got $got want $want")
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("CUBE serves DECIMAL sums and avgs bit-exactly across every grouping set") {
    val dir = java.nio.file.Files.createTempDirectory("cube_dec").toString
    try {
      Seq(("a", "x", "1.25"), ("a", "y", "2.75"), ("b", "x", "0.01"),
          ("b", "y", "99999999.99"), ("a", "x", "0.04"))
        .toDF("g", "h", "ms")
        .select(col("g"), col("h"), col("ms").cast("decimal(12,2)").as("m"))
        .write.mode("overwrite").parquet(s"$dir/base")
      val base = spark.read.parquet(s"$dir/base")
      Rollup.materialize(base, Seq("g", "h"), Seq("m"))
        .write.mode("overwrite").parquet(s"$dir/summary")
      RollupRewrite.register(base, spark.read.parquet(s"$dir/summary"),
        Seq("g", "h"), Seq("m"))
      RollupRewrite.enable(spark)
      def q() = base.cube("g", "h")
        .agg(sum("m").as("s"), avg("m").as("a"), count(col("m")).as("c"))
      val served = q()
      assert(scanPaths(served).forall(_.contains("summary")),
        s"decimal cube must serve from the summary:\n${served.queryExecution.optimizedPlan}")
      RollupRewrite.disable(spark)
      val direct = q()
      assert(served.schema == direct.schema,
        s"decimal cube retyped: ${served.schema} vs ${direct.schema}")
      def rows(df: DataFrame) = df.collect().map(r =>
        (Option(r.getString(0)), Option(r.getString(1)),
          r.getDecimal(2).toPlainString, r.getDecimal(3).toPlainString,
          r.getLong(4))).toSet
      val got = rows(served)
      val want = rows(direct)
      assert(got == want && got.size == 9, // 4 cells + 2+2 margins + total
        s"decimal cube diverged: got $got want $want")
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("star summary serves DECIMAL sums and avgs bit-exactly (the q213 derivations at star width)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val dir = java.nio.file.Files.createTempDirectory("star_dec").toString
    try {
      Seq((1L, 10L, "10.25"), (1L, 20L, "20.50"), (2L, 10L, "0.01"),
          (2L, 20L, "99999999.99"))
        .toDF("fk1", "fk2", "ms")
        .select(col("fk1"), col("fk2"), col("ms").cast("decimal(12,2)").as("m"))
        .write.mode("overwrite").parquet(s"$dir/fact")
      Seq((1L, "a"), (2L, "b")).toDF("d1k", "g1")
        .write.mode("overwrite").parquet(s"$dir/d1")
      Seq((10L, "x"), (20L, "y")).toDF("d2k", "g2")
        .write.mode("overwrite").parquet(s"$dir/d2")
      val fact = spark.read.parquet(s"$dir/fact")
      val d1 = spark.read.parquet(s"$dir/d1")
      val d2 = spark.read.parquet(s"$dir/d2")
      val dims = Seq(d1 -> Seq("fk1" -> "d1k"), d2 -> Seq("fk2" -> "d2k"))
      Rollup.materializeStar(fact, dims, Seq("g1", "g2"), Seq("m"))
        .write.mode("overwrite").parquet(s"$dir/star")
      RollupRewrite.registerStar(fact, dims,
        spark.read.parquet(s"$dir/star"), Seq("g1", "g2"), Seq("m"))
      RollupRewrite.enable(spark)
      def q() = fact.join(d1, col("fk1") === col("d1k"))
        .join(d2, col("fk2") === col("d2k"))
        .groupBy("g1").agg(sum("m").as("s"), avg("m").as("a"))
      val served = q()
      assert(scanPaths(served) == Set(s"file:$dir/star") &&
          served.queryExecution.optimizedPlan.collect {
            case j: LJoin => j }.isEmpty,
        s"decimal star serve must be join-free off the summary: ${scanPaths(served)}")
      RollupRewrite.disable(spark)
      val direct = q()
      assert(served.schema == direct.schema,
        s"decimal star serve retyped: ${served.schema} vs ${direct.schema}")
      def rows(df: DataFrame) = df.collect().map(r => r.getString(0) ->
        (r.getDecimal(1).toPlainString, r.getDecimal(2).toPlainString)).toMap
      val got = rows(served)
      assert(got == rows(direct) && got.nonEmpty,
        s"decimal star serve diverged: $got")
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("star navigation composes with per-side compensation: a stale-by-append center still navigates") {
    val dir = java.nio.file.Files.createTempDirectory("starnav_comp").toString
    try {
      Seq((1L, 10L, 7L), (1L, 20L, 9L), (2L, 10L, 11L))
        .toDF("k1", "k2", "m").write.parquet(s"$dir/fact")
      Seq((1L, "a"), (2L, "b")).toDF("d1k", "g1").write.parquet(s"$dir/d1")
      Seq((10L, "x"), (20L, "y")).toDF("d2k", "g2").write.parquet(s"$dir/d2")
      val fact = spark.read.parquet(s"$dir/fact")
      val d1 = spark.read.parquet(s"$dir/d1")
      val d2 = spark.read.parquet(s"$dir/d2")
      Rollup.materialize(fact, Seq("k1", "k2"), Seq("m"))
        .write.parquet(s"$dir/fsum")
      Rollup.materialize(d1, Seq("d1k", "g1"), Seq("d1k"))
        .write.parquet(s"$dir/d1sum")
      Rollup.materialize(d2, Seq("d2k", "g2"), Seq("d2k"))
        .write.parquet(s"$dir/d2sum")
      RollupRewrite.register(fact, spark.read.parquet(s"$dir/fsum"),
        Seq("k1", "k2"), Seq("m"))
      RollupRewrite.register(d1, spark.read.parquet(s"$dir/d1sum"),
        Seq("d1k", "g1"), Seq("d1k"))
      RollupRewrite.register(d2, spark.read.parquet(s"$dir/d2sum"),
        Seq("d2k", "g2"), Seq("d2k"))
      RollupRewrite.enable(spark)
      RollupRewrite.setCompensation(true)
      // the CENTER goes stale by a pure append; its navigation leg must
      // splice Union(fsum, delta aggregate) while the dims stay direct
      Seq((2L, 20L, 13L), (1L, 10L, 1L)).toDF("k1", "k2", "m")
        .write.mode("append").parquet(s"$dir/fact")
      def q() = spark.read.parquet(s"$dir/fact")
        .join(d1, col("k1") === col("d1k"))
        .join(d2, col("k2") === col("d2k"))
        .groupBy("g1", "g2")
        .agg(count(lit(1)).as("n"), sum("m").as("s"))
      val served = q()
      val scans = scanPaths(served)
      assert(scans.contains(s"file:$dir/fsum") &&
          scans.contains(s"file:$dir/d1sum") &&
          scans.contains(s"file:$dir/d2sum") &&
          scans.exists(p => p.contains("/fact/") && p.endsWith(".parquet")) &&
          !scans.contains(s"file:$dir/fact"),
        s"stale center must compensate inside the navigation: $scans")
      RollupRewrite.disable(spark)
      val want = q().collect().map(_.toSeq).toSet
      RollupRewrite.enable(spark)
      assert(served.collect().map(_.toSeq).toSet == want && want.nonEmpty,
        "compensated star navigation diverged")
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.setCompensation(false)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("telescoping star refresh == full recompute, 8 seeded append patterns (r13)") {
    // randomized appends on ANY subset of {fact, d1, d2} in one stale
    // window — keys overlap the existing data, so Δ×old, old×Δ, and
    // Δ×Δ pairs all occur and a term double-counted or dropped by the
    // first-new-side classification shows as a wrong aggregate; the
    // delta-file set must equal exactly the appended files
    val rnd = new scala.util.Random(7)
    (1 to 8).foreach { trial =>
      val dir = java.nio.file.Files.createTempDirectory(s"star_prop$trial").toString
      try {
        def factRows(n: Int) = (0 until n).map(_ =>
          (rnd.nextInt(4).toLong, (10 + rnd.nextInt(3) * 10).toLong,
            rnd.nextInt(100).toLong))
        def d1Rows(n: Int) = (0 until n).map(_ =>
          (rnd.nextInt(4).toLong, s"a${rnd.nextInt(3)}"))
        def d2Rows(n: Int) = (0 until n).map(_ =>
          ((10 + rnd.nextInt(3) * 10).toLong, s"x${rnd.nextInt(3)}"))
        factRows(6 + rnd.nextInt(10)).toDF("k1", "k2", "m")
          .write.mode("overwrite").parquet(s"$dir/fact")
        d1Rows(3 + rnd.nextInt(4)).toDF("d1k", "g1")
          .write.mode("overwrite").parquet(s"$dir/d1")
        d2Rows(3 + rnd.nextInt(4)).toDF("d2k", "g2")
          .write.mode("overwrite").parquet(s"$dir/d2")
        val fact = spark.read.parquet(s"$dir/fact")
        val d1 = spark.read.parquet(s"$dir/d1")
        val d2 = spark.read.parquet(s"$dir/d2")
        val dims = Seq(d1 -> Seq("k1" -> "d1k"), d2 -> Seq("k2" -> "d2k"))
        Rollup.materializeStar(fact, dims, Seq("g1", "g2"), Seq("m"))
          .write.mode("overwrite").parquet(s"$dir/star")
        RollupRewrite.registerStar(fact, dims,
          spark.read.parquet(s"$dir/star"), Seq("g1", "g2"), Seq("m"))
        RollupRewrite.enable(spark)
        def files(sub: String) = new java.io.File(s"$dir/$sub").listFiles()
          .filter(_.getName.endsWith(".parquet")).map(f => s"$sub/${f.getName}").toSet
        val before = Seq("fact", "d1", "d2").flatMap(files).toSet
        // append to a random nonempty subset of the three sides
        val sides = (0 until 3).filter(_ => rnd.nextBoolean()) match {
          case s if s.nonEmpty => s
          case _ => Seq(rnd.nextInt(3))
        }
        if (sides.contains(0)) factRows(1 + rnd.nextInt(5))
          .toDF("k1", "k2", "m").write.mode("append").parquet(s"$dir/fact")
        if (sides.contains(1)) d1Rows(1 + rnd.nextInt(3))
          .toDF("d1k", "g1").write.mode("append").parquet(s"$dir/d1")
        if (sides.contains(2)) d2Rows(1 + rnd.nextInt(3))
          .toDF("d2k", "g2").write.mode("append").parquet(s"$dir/d2")
        val appended = Seq("fact", "d1", "d2").flatMap(files).toSet -- before
        val rep = RollupRewrite.refreshStale(spark, s"$dir/ref")
        assert(rep.size == 1 && rep.head.refreshed,
          s"trial $trial (sides $sides) must refresh: $rep")
        val deltaNames = rep.head.deltaFiles
          .map(p => p.split("/").takeRight(2).mkString("/")).toSet
        assert(deltaNames == appended,
          s"trial $trial delta set wrong: got $deltaNames want $appended")
        def q() = spark.read.parquet(s"$dir/fact")
          .join(spark.read.parquet(s"$dir/d1"), col("k1") === col("d1k"))
          .join(spark.read.parquet(s"$dir/d2"), col("k2") === col("d2k"))
          .groupBy("g1", "g2")
          .agg(count(lit(1)).as("n"), sum("m").as("s"),
            min("m").as("mn"), max("m").as("mx"))
        val served = q()
        assert(scanPaths(served).forall(_.contains("refreshs")),
          s"trial $trial must serve from the refreshed summary: ${scanPaths(served)}")
        def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
        val got = rows(served)
        RollupRewrite.disable(spark)
        val want = rows(q())
        assert(got == want,
          s"trial $trial (sides $sides) diverged:\ngot  $got\nwant $want")
      } finally {
        RollupRewrite.disable(spark)
        RollupRewrite.clear()
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      }
    }
  }

  test("joined summary DELETE: single-side deletes retract — fact files then dim files; both-side deletes refuse (r13)") {
    val dir = java.nio.file.Files.createTempDirectory("aji_retract").toString
    try {
      // join rows at registration: (1,10,x) (2,20,y) (1,100,x) (3,7,y)
      writeSlice(Seq((1L, 10L), (2L, 20L)).toDF("k", "m"),
        s"$dir/fact", "f0")
      val f1 = writeSlice(Seq((1L, 100L), (3L, 7L)).toDF("k", "m"),
        s"$dir/fact", "f1")
      writeSlice(Seq((1L, "x"), (2L, "y")).toDF("dk", "seg"),
        s"$dir/dim", "d0")
      val d1 = writeSlice(Seq((3L, "y")).toDF("dk", "seg"), s"$dir/dim", "d1")
      // inert slices (no join partner) so deletes never empty a dir
      val fz = writeSlice(Seq((5L, 1L)).toDF("k", "m"), s"$dir/fact", "fz")
      val dz = writeSlice(Seq((9L, "z")).toDF("dk", "seg"), s"$dir/dim", "dz")
      val fact0 = spark.read.parquet(s"$dir/fact")
      val dim0 = spark.read.parquet(s"$dir/dim")
      Rollup.materializeJoined(fact0, dim0, Seq("k" -> "dk"),
          Seq("seg"), Seq("m"))
        .write.mode("overwrite").parquet(s"$dir/aji")
      RollupRewrite.registerJoined(fact0, dim0, Seq("k" -> "dk"),
        spark.read.parquet(s"$dir/aji"), Seq("seg"), Seq("m"))
      RollupRewrite.enable(spark)
      def q() = spark.read.parquet(s"$dir/fact")
        .join(spark.read.parquet(s"$dir/dim"), col("k") === col("dk"))
        .groupBy("seg").agg(count(lit(1)).as("n"), sum("m").as("s"),
          min("m").as("mn"), max("m").as("mx"))
      def vals(df: DataFrame) = df.collect().map(r => (r.getString(0),
        r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
      // DIM delete d1 (key 3): retracts exactly the (3,7,y) pair — y's
      // min WAS 7, so y recomputes from the current join; x untouched
      RollupRewrite.deleteFiles(spark, Seq(d1), s"$dir/trash")
      val rep1 = RollupRewrite.refreshStale(spark, s"$dir/r1",
        trashDirs = Seq(s"$dir/trash"))
      assert(rep1.size == 1 && rep1.head.refreshed &&
          rep1.head.removedFiles.map(p =>
            new org.apache.hadoop.fs.Path(p).getName) == Seq("d1.parquet"),
        s"a trash-resolved dim-file delete must retract the AJI: $rep1")
      val served1 = q()
      assert(scanPaths(served1).forall(p =>
          p.contains("/r1/") && p.contains("refreshj")),
        s"post-retraction serve must ride the retracted AJI: ${scanPaths(served1)}")
      assert(vals(served1) == Set(("x", 2L, 110L, 10L, 100L),
        ("y", 1L, 20L, 20L, 20L)), s"dim retraction wrong: ${vals(served1)}")
      // FACT delete f1 (rows (1,100) (3,7)): key 3 no longer has a dim
      // row, so the removed PAIRS are (1,100,x) only — x's max WAS 100
      // ⇒ recompute; y untouched this time
      RollupRewrite.deleteFiles(spark, Seq(f1), s"$dir/trash")
      val rep2 = RollupRewrite.refreshStale(spark, s"$dir/r2",
        trashDirs = Seq(s"$dir/trash"))
      assert(rep2.size == 1 && rep2.head.refreshed &&
          rep2.head.removedFiles.map(p =>
            new org.apache.hadoop.fs.Path(p).getName) == Seq("f1.parquet"),
        s"a trash-resolved fact-file delete must retract the AJI: $rep2")
      val served2 = q()
      assert(scanPaths(served2).forall(p =>
          p.contains("/r2/") && p.contains("refreshj")),
        s"second retraction must serve from its own dir: ${scanPaths(served2)}")
      assert(vals(served2) == Set(("x", 1L, 10L, 10L, 10L),
        ("y", 1L, 20L, 20L, 20L)), s"fact retraction wrong: ${vals(served2)}")
      // deletes on BOTH sides in one stale window now FOLD too (r14:
      // sequential per-side retraction — fact removals retract against
      // the SAVED dim, then dim removals against the RETAINED fact, so
      // nothing double-retracts); the inert slices partner nothing, so
      // the folded summary must equal the unchanged rebuild
      RollupRewrite.deleteFiles(spark, Seq(fz), s"$dir/trash")
      RollupRewrite.deleteFiles(spark, Seq(dz), s"$dir/trash")
      val rep3 = RollupRewrite.refreshStale(spark, s"$dir/r3",
        trashDirs = Seq(s"$dir/trash"))
      assert(rep3.size == 1 && rep3.head.refreshed &&
          rep3.head.removedFiles.map(p =>
            new org.apache.hadoop.fs.Path(p).getName).toSet ==
            Set("fz.parquet", "dz.parquet"),
        s"a both-side delete must fold via sequential retraction: $rep3")
      assert(vals(q()) == Set(("x", 1L, 10L, 10L, 10L),
        ("y", 1L, 20L, 20L, 20L)),
        "both-side fold of partner-less slices must leave values unchanged")
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("star summary DELETE: a single-dim delete retracts == full rebuild; cross-side append+delete folds (r13/r14)") {
    val dir = java.nio.file.Files.createTempDirectory("star_retract").toString
    try {
      // star rows: (a,u,5) (a,v,6) (b,u,7) (b,v,100)
      writeSlice(Seq((1L, 1L, 5L), (1L, 2L, 6L), (2L, 1L, 7L),
        (2L, 2L, 100L)).toDF("k1", "k2", "m"), s"$dir/fact", "f0")
      writeSlice(Seq((1L, "a"), (2L, "b")).toDF("d1k", "g1"), s"$dir/d1", "c0")
      writeSlice(Seq((1L, "u")).toDF("d2k", "g2"), s"$dir/d2", "e0")
      val e1 = writeSlice(Seq((2L, "v")).toDF("d2k", "g2"), s"$dir/d2", "e1")
      // inert slice (no fact partner) so later deletes never empty d2
      writeSlice(Seq((9L, "w")).toDF("d2k", "g2"), s"$dir/d2", "ez")
      val fact0 = spark.read.parquet(s"$dir/fact")
      def dims0 = Seq(
        spark.read.parquet(s"$dir/d1") -> Seq("k1" -> "d1k"),
        spark.read.parquet(s"$dir/d2") -> Seq("k2" -> "d2k"))
      Rollup.materializeStar(fact0, dims0, Seq("g1", "g2"), Seq("m"))
        .write.mode("overwrite").parquet(s"$dir/star")
      RollupRewrite.registerStar(fact0, dims0,
        spark.read.parquet(s"$dir/star"), Seq("g1", "g2"), Seq("m"))
      RollupRewrite.enable(spark)
      def q() = spark.read.parquet(s"$dir/fact")
        .join(spark.read.parquet(s"$dir/d1"), col("k1") === col("d1k"))
        .join(spark.read.parquet(s"$dir/d2"), col("k2") === col("d2k"))
        .groupBy("g1", "g2").agg(count(lit(1)).as("n"), sum("m").as("s"),
          min("m").as("mn"), max("m").as("mx"))
      def vals(df: DataFrame) = df.collect().map(r => (r.getString(0),
        r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))).toSet
      // delete dim-2 file e1 (key 2 → v): retracts every (·,v,·) tuple —
      // both v groups EMPTY and must drop; u groups untouched
      RollupRewrite.deleteFiles(spark, Seq(e1), s"$dir/trash")
      val rep = RollupRewrite.refreshStale(spark, s"$dir/r1",
        trashDirs = Seq(s"$dir/trash"))
      assert(rep.size == 1 && rep.head.refreshed &&
          rep.head.removedFiles.map(p =>
            new org.apache.hadoop.fs.Path(p).getName) == Seq("e1.parquet"),
        s"a trash-resolved star dim delete must retract: $rep")
      val served = q()
      assert(scanPaths(served).forall(p =>
          p.contains("/r1/") && p.contains("refreshs")),
        s"post-retraction serve must ride the retracted star: ${scanPaths(served)}")
      assert(vals(served) == Set(("a", "u", 1L, 5L, 5L, 5L),
        ("b", "u", 1L, 7L, 7L, 7L)), s"star retraction wrong: ${vals(served)}")
      // the retracted summary equals a from-scratch star materialize
      def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
      assert(rows(spark.read.parquet(rep.head.summaryPath)) ==
        rows(Rollup.materializeStar(spark.read.parquet(s"$dir/fact"),
          dims0, Seq("g1", "g2"), Seq("m"))),
        "retracted star summary must equal a rebuild bit-for-bit")
      // a fact append + dim delete in one window now FOLDS (r14
      // generalization): removals on one side compose with appends
      // anywhere — deleting d2's last joining slice empties the star
      writeSlice(Seq((1L, 1L, 9L)).toDF("k1", "k2", "m"), s"$dir/fact", "f9")
      RollupRewrite.deleteFiles(spark,
        Seq(s"$dir/d2/e0.parquet"), s"$dir/trash")
      val rep2 = RollupRewrite.refreshStale(spark, s"$dir/r2",
        trashDirs = Seq(s"$dir/trash"))
      assert(rep2.size == 1 && rep2.head.refreshed,
        s"fact append + dim delete must fold: $rep2")
      assert(rows(spark.read.parquet(rep2.head.summaryPath)) ==
        rows(Rollup.materializeStar(spark.read.parquet(s"$dir/fact"),
          dims0, Seq("g1", "g2"), Seq("m"))),
        "cross-side star fold must equal a rebuild (empty star here)")
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("joined summary: COMPUTED grain serves, filters, refreshes, retracts, compensates, persists (r13)") {
    val dir = java.nio.file.Files.createTempDirectory("aji_exprgrain").toString
    try {
      def factDf(rows: Seq[(Long, String, Long)]) =
        rows.toDF("k", "ds", "m")
          .select(col("k"), to_date(col("ds")).as("d"), col("m"))
      writeSlice(factDf(Seq((1L, "2024-01-05", 10L), (1L, "2024-02-10", 20L),
        (2L, "2024-01-15", 30L))), s"$dir/fact", "f0")
      writeSlice(Seq((1L, "x"), (2L, "y")).toDF("dk", "seg"),
        s"$dir/dim", "d0")
      def buildAndRegister(): Unit = {
        // fresh reads: the registration must bind the CURRENT listing
        val f = spark.read.parquet(s"$dir/fact")
        val dm = spark.read.parquet(s"$dir/dim")
        val joined = f.join(dm, col("k") === col("dk"))
        Rollup.materializeExpr(joined,
            Seq("om" -> month(col("d")), "seg" -> col("seg")), Seq("m"))
          .write.mode("overwrite").parquet(s"$dir/aji")
        RollupRewrite.registerJoined(f, dm, Seq("k" -> "dk"),
          spark.read.parquet(s"$dir/aji"), Seq("om", "seg"), Seq("m"),
          groupExprOf = Map("om" -> month(col("d"))))
      }
      buildAndRegister()
      RollupRewrite.enable(spark)
      def q() = spark.read.parquet(s"$dir/fact")
        .join(spark.read.parquet(s"$dir/dim"), col("k") === col("dk"))
        .groupBy(month(col("d")).as("om"), col("seg"))
        .agg(count(lit(1)).as("n"), sum("m").as("s"))
      def qf() = spark.read.parquet(s"$dir/fact")
        .join(spark.read.parquet(s"$dir/dim"), col("k") === col("dk"))
        .filter(month(col("d")) === 1).groupBy("seg")
        .agg(count(lit(1)).as("n"), sum("m").as("s"))
      def vals(df: DataFrame) = df.collect().map(_.toSeq).toSet
      def want(df: => DataFrame): Set[Seq[Any]] = {
        RollupRewrite.disable(spark)
        try vals(df) finally RollupRewrite.enable(spark)
      }
      def joinFree(df: DataFrame): Boolean =
        df.queryExecution.optimizedPlan.collect {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
        }.isEmpty
      // serve: month() over the join rides the AJI, join-free
      assert(scanPaths(q()) == Set(s"file:$dir/aji") && joinFree(q()),
        s"computed-grain join-aggregate must ride the AJI: ${scanPaths(q())}")
      assert(vals(q()) == want(q()) && vals(q()).nonEmpty)
      // filter on the grain expression serves too (inferred isnotnull
      // drops via the null-intolerance device)
      assert(scanPaths(qf()) == Set(s"file:$dir/aji") && joinFree(qf()),
        s"grain-expression filter must ride the AJI: ${scanPaths(qf())}")
      assert(vals(qf()) == want(qf()) && vals(qf()).nonEmpty)
      // a DIFFERENT expression must fall back to the base join
      val other = spark.read.parquet(s"$dir/fact")
        .join(spark.read.parquet(s"$dir/dim"), col("k") === col("dk"))
        .groupBy(year(col("d")).as("oy")).agg(count(lit(1)).as("n"))
      assert(scanPaths(other).exists(_.contains("/fact")),
        "year() must not match the month() AJI grain")
      // REFRESH: a fact append folds through the re-parsed grain expr
      val f1 = writeSlice(factDf(Seq((2L, "2024-03-20", 40L),
        (1L, "2024-01-25", 50L))), s"$dir/fact", "f1")
      val rep = RollupRewrite.refreshStale(spark, s"$dir/ref")
      assert(rep.size == 1 && rep.head.refreshed &&
        rep.head.deltaFiles.map(p =>
          p.substring(p.lastIndexOf('/') + 1)) == Seq("f1.parquet"),
        s"computed-grain AJI must delta-refresh: $rep")
      assert(scanPaths(q()).forall(_.contains("refreshj")) && joinFree(q()))
      assert(vals(q()) == want(q()))
      // RETRACTION: delete the appended slice through the trash protocol
      RollupRewrite.deleteFiles(spark, Seq(f1), s"$dir/trash")
      val rep2 = RollupRewrite.refreshStale(spark, s"$dir/ret",
        trashDirs = Seq(s"$dir/trash"))
      assert(rep2.size == 1 && rep2.head.refreshed &&
        rep2.head.removedFiles.map(p =>
          p.substring(p.lastIndexOf('/') + 1)) == Seq("f1.parquet"),
        s"computed-grain AJI must retract the delete: $rep2")
      assert(scanPaths(q()).forall(_.contains("/ret/")) && joinFree(q()))
      assert(vals(q()) == want(q()))
      // COMPENSATION: append without refresh; serve = summary + delta only
      RollupRewrite.setCompensation(true)
      writeSlice(factDf(Seq((2L, "2024-02-28", 60L))), s"$dir/fact", "f2")
      val comp = q()
      val cScans = scanPaths(comp)
      assert(cScans.exists(_.contains("/ret/")) &&
        !cScans.exists(_.endsWith("/fact")) &&
        cScans.exists(_.endsWith("f2.parquet")),
        s"compensated computed-grain serve must read summary + delta only: $cScans")
      assert(vals(comp) == want(q()))
      RollupRewrite.setCompensation(false)
      // PERSISTENCE: j2 round-trips the grain SQL
      buildAndRegister() // fold f2 in durably (rebuild) before saving
      RollupRewrite.save(spark, s"$dir/lattice/manifest")
      RollupRewrite.clear()
      assert(RollupRewrite.restore(spark, s"$dir/lattice/manifest") == 1)
      assert(scanPaths(q()) == Set(s"file:$dir/aji") && joinFree(q()),
        s"restored computed-grain AJI must serve: ${scanPaths(q())}")
      assert(vals(q()) == want(q()))
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.setCompensation(false)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("star summary: COMPUTED grain over the fact side serves and refreshes with a dim append (r13)") {
    val dir = java.nio.file.Files.createTempDirectory("star_exprgrain").toString
    try {
      writeSlice(Seq((1L, 1L, "2024-01-05", 5L), (1L, 2L, "2024-02-10", 6L),
          (2L, 1L, "2024-01-15", 7L), (2L, 2L, "2024-03-01", 8L))
        .toDF("k1", "k2", "ds", "m")
        .select(col("k1"), col("k2"), to_date(col("ds")).as("d"), col("m")),
        s"$dir/fact", "f0")
      writeSlice(Seq((1L, "a"), (2L, "b")).toDF("d1k", "g1"), s"$dir/d1", "c0")
      writeSlice(Seq((1L, "u")).toDF("d2k", "g2"), s"$dir/d2", "e0")
      val fact0 = spark.read.parquet(s"$dir/fact")
      def dims0 = Seq(
        spark.read.parquet(s"$dir/d1") -> Seq("k1" -> "d1k"),
        spark.read.parquet(s"$dir/d2") -> Seq("k2" -> "d2k"))
      def starJoin() = spark.read.parquet(s"$dir/fact")
        .join(spark.read.parquet(s"$dir/d1"), col("k1") === col("d1k"))
        .join(spark.read.parquet(s"$dir/d2"), col("k2") === col("d2k"))
      Rollup.materializeExpr(starJoin(),
          Seq("om" -> month(col("d")), "g2" -> col("g2")), Seq("m"))
        .write.mode("overwrite").parquet(s"$dir/star")
      RollupRewrite.registerStar(fact0, dims0,
        spark.read.parquet(s"$dir/star"), Seq("om", "g2"), Seq("m"),
        groupExprOf = Map("om" -> month(col("d"))))
      RollupRewrite.enable(spark)
      def q() = starJoin().groupBy(month(col("d")).as("om"), col("g2"))
        .agg(count(lit(1)).as("n"), sum("m").as("s"))
      def vals(df: DataFrame) = df.collect().map(_.toSeq).toSet
      def want(df: => DataFrame): Set[Seq[Any]] = {
        RollupRewrite.disable(spark)
        try vals(df) finally RollupRewrite.enable(spark)
      }
      def joinFree(df: DataFrame): Boolean =
        df.queryExecution.optimizedPlan.collect {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
        }.isEmpty
      assert(scanPaths(q()) == Set(s"file:$dir/star") && joinFree(q()),
        s"computed-grain star aggregate must ride the star summary: ${scanPaths(q())}")
      assert(vals(q()) == want(q()) && vals(q()).nonEmpty)
      // dim-2 append: the telescoping refresh folds F_reg ⋈ ΔD2 through
      // the re-parsed grain expression (k2=2 rows exist ONLY in old fact)
      writeSlice(Seq((2L, "v")).toDF("d2k", "g2"), s"$dir/d2", "e1")
      val rep = RollupRewrite.refreshStale(spark, s"$dir/ref")
      assert(rep.size == 1 && rep.head.refreshed &&
        rep.head.deltaFiles.map(p =>
          p.substring(p.lastIndexOf('/') + 1)) == Seq("e1.parquet"),
        s"computed-grain star must fold the dim append: $rep")
      assert(scanPaths(q()).forall(_.contains("refreshs")) && joinFree(q()))
      assert(vals(q()) == want(q()) &&
        vals(q()).exists(_.head == 2), "the Feb row must appear via F_reg ⋈ ΔD2")
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("joined summary: non-matching keys, outer joins, and name collisions refuse") {
    val dir = java.nio.file.Files.createTempDirectory("aji_refuse").toString
    try {
      Seq((1L, 10L)).toDF("k", "m").write.parquet(s"$dir/fact")
      Seq((1L, "s1", 99L)).toDF("dk", "seg", "m2").write.parquet(s"$dir/dim")
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim")
      Rollup.materializeJoined(fact, dim, Seq("k" -> "dk"),
          Seq("seg"), Seq("m"))
        .write.parquet(s"$dir/aji")
      RollupRewrite.registerJoined(fact, dim, Seq("k" -> "dk"),
        spark.read.parquet(s"$dir/aji"), Seq("seg"), Seq("m"))
      RollupRewrite.enable(spark)
      // LEFT OUTER: must not serve (null-extended rows aren't in the AJI)
      val outer = fact.join(dim, col("k") === col("dk"), "left")
        .groupBy("seg").agg(sum("m").as("s"))
      assert(scanPaths(outer).contains(s"file:$dir/fact"),
        "outer joins must not serve from an inner-join AJI")
      // a name on BOTH sides refuses at registration
      val dupDim = dim.withColumnRenamed("m2", "m")
      intercept[IllegalArgumentException] {
        RollupRewrite.registerJoined(fact, dupDim, Seq("k" -> "dk"),
          spark.read.parquet(s"$dir/aji"), Seq("seg"), Seq("m"))
      }
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  // ---- histogram-carrying rollups (quantile dashboards from the summary) --

  test("histogram rollup: served sketch and quantiles identical to base; wrong column stays on base") {
    import graft.functions.expressions.HistAgg
    val dir = java.nio.file.Files.createTempDirectory("rollup_hist").toString
    try {
      val base = spark.read.parquet(s"$sf/orders.parquet")
      Rollup.materialize(base, Seq("o_orderstatus"), Seq("o_totalprice"),
          histCols = Seq("o_custkey"))
        .write.mode("overwrite").parquet(s"$dir/summary")
      RollupRewrite.register(base, spark.read.parquet(s"$dir/summary"),
        Seq("o_orderstatus"), Seq("o_totalprice"),
        histCols = Seq("o_custkey"))
      RollupRewrite.enable(spark)
      def q(src: org.apache.spark.sql.DataFrame) = src.groupBy("o_orderstatus")
        .agg(HistAgg.histSketch(col("o_custkey")).as("h"),
          count(lit(1)).as("n"))
        .select(col("o_orderstatus"), col("n"),
          concat_ws(",", col("h")).as("hs"),
          HistAgg.histQuantile(col("h"), 0.5).as("p50"),
          HistAgg.histQuantile(col("h"), 0.99).as("p99"))
      val served = q(base)
      assert(scanPaths(served).forall(_.contains("summary")),
        s"hist query not rewritten:\n${served.queryExecution.optimizedPlan}")
      val got = served.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2),
          r.getLong(3), r.getLong(4))).toSet
      RollupRewrite.disable(spark)
      val want = q(base).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(got == want && want.nonEmpty,
        "summary-served histograms must be IDENTICAL (lossless bucket merge)")
      // a histogram over an UNREGISTERED column must stay on the base
      RollupRewrite.enable(spark)
      val other = base.groupBy("o_orderstatus")
        .agg(HistAgg.histSketch(col("o_orderkey")).as("h"))
      assert(scanPaths(other).exists(_.contains("orders")),
        "histogram of a non-registered column must not serve from the summary")
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("histogram rollup: retraction subtracts buckets exactly; compensation unions them; v3 manifest round-trips") {
    import graft.functions.expressions.HistAgg
    val dir = java.nio.file.Files.createTempDirectory("rollup_hist_life").toString
    try {
      // three named slices so deletes are file-exact
      val orders = spark.read.parquet(s"$sf/orders.parquet")
      (0 until 3).foreach { sl =>
        val st = java.nio.file.Files.createTempDirectory("sl").toString
        orders.filter(col("o_orderkey") % 3 === sl).coalesce(1)
          .write.mode("overwrite").parquet(st)
        val part = new java.io.File(st).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(s"$dir/base/s$sl.parquet")
        dst.getParentFile.mkdirs()
        java.nio.file.Files.move(part.toPath, dst.toPath)
      }
      val base0 = spark.read.parquet(s"$dir/base")
      Rollup.materialize(base0, Seq("o_orderstatus"), Seq("o_totalprice"),
          histCols = Seq("o_custkey"))
        .write.mode("overwrite").parquet(s"$dir/summary")
      RollupRewrite.register(base0, spark.read.parquet(s"$dir/summary"),
        Seq("o_orderstatus"), Seq("o_totalprice"), histCols = Seq("o_custkey"))
      RollupRewrite.enable(spark)
      def q(src: org.apache.spark.sql.DataFrame) = src.groupBy("o_orderstatus")
        .agg(HistAgg.histSketch(col("o_custkey")).as("h"))
        .select(col("o_orderstatus"), concat_ws(",", col("h")).as("hs"),
          HistAgg.histQuantile(col("h"), 0.9).as("p90"))
      def vals(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      // RETRACTION: delete slice 1 through the trash protocol; the
      // histogram must subtract (refreshed=true even though min/max of
      // the float measure may force per-group recomputes)
      RollupRewrite.deleteFiles(spark, Seq(s"$dir/base/s1.parquet"),
        s"$dir/trash")
      val rep = RollupRewrite.refreshStale(spark, s"$dir/refreshed",
        trashDirs = Seq(s"$dir/trash"))
      assert(rep.size == 1 && rep.head.refreshed, s"retraction failed: $rep")
      val base1 = spark.read.parquet(s"$dir/base")
      val served = q(base1)
      assert(scanPaths(served).forall(_.contains("refresh")),
        "post-retraction hist query must ride the refreshed summary")
      RollupRewrite.disable(spark)
      val direct = vals(q(base1))
      RollupRewrite.enable(spark)
      assert(vals(served) == direct && direct.nonEmpty,
        "retracted histograms must equal the reduced-base recompute")
      // COMPENSATION: append a slice back without refreshing
      RollupRewrite.setCompensation(true)
      orders.filter(col("o_orderkey") % 3 === 1)
        .write.mode("append").parquet(s"$dir/base")
      val base2 = spark.read.parquet(s"$dir/base")
      val comp = q(base2)
      val compScans = scanPaths(comp)
      assert(compScans.exists(_.contains("refresh")) &&
          !compScans.contains(s"file:$dir/base"),
        s"hist compensation must union summary + delta: $compScans")
      RollupRewrite.disable(spark)
      val direct2 = vals(q(base2))
      RollupRewrite.enable(spark)
      assert(vals(comp) == direct2,
        "compensated histograms must equal the full recompute")
      // V3 MANIFEST: save, clear, restore — histCols survive
      RollupRewrite.save(spark, s"$dir/lattice")
      RollupRewrite.clear()
      assert(RollupRewrite.restore(spark, s"$dir/lattice") == 1)
      val again = q(base2)
      assert(scanPaths(again).exists(_.contains("refresh")),
        "restored registration must keep serving (histCols round-tripped)")
      assert(vals(again) == direct2)
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.setCompensation(false)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("refreshStale MIXED diff: a trash-protocol compaction folds — retract ∘ append-fold == full rebuild (r14, VERDICT r13 #1)") {
    val dir = java.nio.file.Files.createTempDirectory("mixed_plain").toString
    try {
      // rows (g, m, s): slice s1 carries g1's MAX (100) and s2 g2's MIN
      // (1) — both extremum-recompute groups; s0/s3 survive. The domain
      // of s exceeds k=4, so sketches fill and must stay lossless
      // through the composition.
      writeSlice(Seq(("g1", 10L, "a"), ("g2", 20L, "b")).toDF("g", "m", "s"),
        s"$dir/base", "s0")
      val s1 = writeSlice(Seq(("g1", 100L, "c"), ("g2", 30L, "d"))
        .toDF("g", "m", "s"), s"$dir/base", "s1")
      val s2 = writeSlice(Seq(("g2", 1L, "e"), ("g1", 50L, "f"))
        .toDF("g", "m", "s"), s"$dir/base", "s2")
      writeSlice(Seq(("g3", 7L, "g")).toDF("g", "m", "s"), s"$dir/base", "s3")
      val base0 = spark.read.parquet(s"$dir/base")
      Rollup.materialize(base0, Seq("g"), Seq("m"), distinctCols = Seq("s"),
          sketchK = 4, histCols = Seq("m"))
        .write.mode("overwrite").parquet(s"$dir/sum")
      RollupRewrite.register(base0, spark.read.parquet(s"$dir/sum"),
        Seq("g"), Seq("m"), distinctCols = Seq("s"), sketchK = 4,
        histCols = Seq("m"))
      RollupRewrite.enable(spark)
      // the compaction: s1 ∪ s2 rewrite as ONE file; plus a genuinely
      // NEW slice in the same stale window — removed and appended sets
      // both non-trivial
      val rows12 = spark.read.parquet(s1, s2).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
      writeSlice(rows12.toDF("g", "m", "s"), s"$dir/base", "c12")
      writeSlice(Seq(("g1", 200L, "h"), ("g4", 3L, "i")).toDF("g", "m", "s"),
        s"$dir/base", "snew")
      RollupRewrite.deleteFiles(spark, Seq(s1, s2), s"$dir/trash")
      val rep = RollupRewrite.refreshStale(spark, s"$dir/r1",
        trashDirs = Seq(s"$dir/trash"))
      def names(ps: Seq[String]) =
        ps.map(p => new org.apache.hadoop.fs.Path(p).getName).toSet
      assert(rep.size == 1 && rep.head.refreshed,
        s"a trash-protocol compaction must FOLD, not staleness-kill: $rep")
      assert(names(rep.head.removedFiles) == Set("s1.parquet", "s2.parquet"),
        s"retraction must cover exactly the removed files: $rep")
      assert(names(rep.head.deltaFiles) == Set("c12.parquet", "snew.parquet"),
        s"the delta must be exactly the appended files: $rep")
      // folded summary == from-scratch rebuild, sketches included
      def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
      assert(rows(spark.read.parquet(rep.head.summaryPath)) ==
        rows(Rollup.materialize(spark.read.parquet(s"$dir/base"), Seq("g"),
          Seq("m"), distinctCols = Seq("s"), sketchK = 4,
          histCols = Seq("m"))),
        "folded summary must equal a full rebuild bit-for-bit")
      val served = spark.read.parquet(s"$dir/base").groupBy("g")
        .agg(count(lit(1)).as("n"), sum("m").as("sm"), min("m").as("mn"),
          max("m").as("mx"))
      assert(scanPaths(served).forall(p =>
          p.contains("/r1/") && p.contains("refresh_")),
        s"post-fold serve must ride the folded summary: ${scanPaths(served)}")
      assert(served.collect().map(r => (r.getString(0), r.getLong(1),
          r.getLong(2), r.getLong(3), r.getLong(4))).toSet ==
        Set(("g1", 4L, 360L, 10L, 200L), ("g2", 3L, 51L, 1L, 30L),
          ("g3", 1L, 7L, 7L, 7L), ("g4", 1L, 3L, 3L, 3L)),
        "folded serve values wrong")
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("joined/star MIXED diff: single-side compactions fold; cross-side removal+append folds too (r14)") {
    val dir = java.nio.file.Files.createTempDirectory("mixed_join").toString
    try {
      // ---- AJI: fact-side compaction (remove f1, append c1+fnew) ----
      writeSlice(Seq((1L, 10L), (2L, 20L)).toDF("k", "m"), s"$dir/fact", "f0")
      val f1 = writeSlice(Seq((1L, 100L), (3L, 7L)).toDF("k", "m"),
        s"$dir/fact", "f1")
      writeSlice(Seq((1L, "x"), (2L, "y"), (3L, "y")).toDF("dk", "seg"),
        s"$dir/dim", "d0")
      // inert slice (no fact partner) so the cross-side delete below
      // never empties the dim dir
      writeSlice(Seq((9L, "z")).toDF("dk", "seg"), s"$dir/dim", "dz")
      val fact0 = spark.read.parquet(s"$dir/fact")
      val dim0 = spark.read.parquet(s"$dir/dim")
      Rollup.materializeJoined(fact0, dim0, Seq("k" -> "dk"), Seq("seg"),
          Seq("m"))
        .write.mode("overwrite").parquet(s"$dir/aji")
      RollupRewrite.registerJoined(fact0, dim0, Seq("k" -> "dk"),
        spark.read.parquet(s"$dir/aji"), Seq("seg"), Seq("m"))
      RollupRewrite.enable(spark)
      // compaction of f1 (drops the (3,7) row — a rewrite need not be
      // row-preserving) + a new fact slice
      writeSlice(Seq((1L, 100L)).toDF("k", "m"), s"$dir/fact", "c1")
      writeSlice(Seq((2L, 5L)).toDF("k", "m"), s"$dir/fact", "fnew")
      RollupRewrite.deleteFiles(spark, Seq(f1), s"$dir/trash")
      val rep = RollupRewrite.refreshStale(spark, s"$dir/r1",
        trashDirs = Seq(s"$dir/trash"))
      def names(ps: Seq[String]) =
        ps.map(p => new org.apache.hadoop.fs.Path(p).getName).toSet
      assert(rep.size == 1 && rep.head.refreshed &&
          names(rep.head.removedFiles) == Set("f1.parquet") &&
          names(rep.head.deltaFiles) == Set("c1.parquet", "fnew.parquet"),
        s"a fact-side AJI compaction must fold: $rep")
      def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
      assert(rows(spark.read.parquet(rep.head.summaryPath)) ==
        rows(Rollup.materializeJoined(spark.read.parquet(s"$dir/fact"),
          dim0, Seq("k" -> "dk"), Seq("seg"), Seq("m"))),
        "folded AJI must equal a rebuild")
      val served = spark.read.parquet(s"$dir/fact")
        .join(spark.read.parquet(s"$dir/dim"), col("k") === col("dk"))
        .groupBy("seg").agg(sum("m").as("sm"), max("m").as("mx"))
      assert(scanPaths(served).forall(p => p.contains("refreshj")),
        s"post-fold serve must ride the folded AJI: ${scanPaths(served)}")
      assert(served.collect().map(r => (r.getString(0), r.getLong(1),
          r.getLong(2))).toSet == Set(("x", 110L, 100L), ("y", 25L, 20L)),
        "folded AJI serve values wrong")
      // cross-side: dim delete + fact append in one window now FOLDS
      // too (r14 generalization — removals on ONE side compose with
      // appends anywhere); deleting the only real dim slice empties
      // the join, and the fold must reproduce that exactly
      writeSlice(Seq((2L, 6L)).toDF("k", "m"), s"$dir/fact", "fx")
      RollupRewrite.deleteFiles(spark, Seq(s"$dir/dim/d0.parquet"),
        s"$dir/trash")
      val repX = RollupRewrite.refreshStale(spark, s"$dir/r2",
        trashDirs = Seq(s"$dir/trash"))
      assert(repX.size == 1 && repX.head.refreshed &&
          names(repX.head.removedFiles) == Set("d0.parquet") &&
          names(repX.head.deltaFiles) == Set("fx.parquet"),
        s"a cross-side removal+append must fold: $repX")
      assert(rows(spark.read.parquet(repX.head.summaryPath)) ==
        rows(Rollup.materializeJoined(spark.read.parquet(s"$dir/fact"),
          spark.read.parquet(s"$dir/dim"), Seq("k" -> "dk"),
          Seq("seg"), Seq("m"))),
        "cross-side fold must equal a rebuild (empty join here)")
      RollupRewrite.clear()

      // ---- STAR: dim-side compaction on dim 2 ----
      writeSlice(Seq((1L, 1L, 5L), (1L, 2L, 6L), (2L, 1L, 7L),
        (2L, 2L, 100L)).toDF("k1", "k2", "m"), s"$dir/sfact", "f0")
      writeSlice(Seq((1L, "a"), (2L, "b")).toDF("d1k", "g1"),
        s"$dir/sd1", "c0")
      writeSlice(Seq((1L, "u")).toDF("d2k", "g2"), s"$dir/sd2", "e0")
      val e1 = writeSlice(Seq((2L, "v")).toDF("d2k", "g2"),
        s"$dir/sd2", "e1")
      val sfact0 = spark.read.parquet(s"$dir/sfact")
      def dims0 = Seq(
        spark.read.parquet(s"$dir/sd1") -> Seq("k1" -> "d1k"),
        spark.read.parquet(s"$dir/sd2") -> Seq("k2" -> "d2k"))
      Rollup.materializeStar(sfact0, dims0, Seq("g1", "g2"), Seq("m"))
        .write.mode("overwrite").parquet(s"$dir/star")
      RollupRewrite.registerStar(sfact0, dims0,
        spark.read.parquet(s"$dir/star"), Seq("g1", "g2"), Seq("m"))
      // dim-2 compaction: e1 (key 2 → v) rewrites to key 2 → w, plus a
      // brand-new dim row key 3 → w (dangling, no fact partner)
      writeSlice(Seq((2L, "w"), (3L, "w")).toDF("d2k", "g2"),
        s"$dir/sd2", "e2")
      RollupRewrite.deleteFiles(spark, Seq(e1), s"$dir/trash")
      val rep2 = RollupRewrite.refreshStale(spark, s"$dir/r3",
        trashDirs = Seq(s"$dir/trash"))
      assert(rep2.size == 1 && rep2.head.refreshed &&
          names(rep2.head.removedFiles) == Set("e1.parquet") &&
          names(rep2.head.deltaFiles) == Set("e2.parquet"),
        s"a single-dim star compaction must fold: $rep2")
      assert(rows(spark.read.parquet(rep2.head.summaryPath)) ==
        rows(Rollup.materializeStar(spark.read.parquet(s"$dir/sfact"),
          dims0, Seq("g1", "g2"), Seq("m"))),
        "folded star must equal a rebuild")
      val served2 = spark.read.parquet(s"$dir/sfact")
        .join(spark.read.parquet(s"$dir/sd1"), col("k1") === col("d1k"))
        .join(spark.read.parquet(s"$dir/sd2"), col("k2") === col("d2k"))
        .groupBy("g1", "g2").agg(sum("m").as("sm"))
      assert(scanPaths(served2).forall(p => p.contains("refreshs")),
        s"post-fold star serve must ride the summary: ${scanPaths(served2)}")
      assert(served2.collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2))).toSet ==
        Set(("a", "u", 5L), ("a", "w", 6L), ("b", "u", 7L),
          ("b", "w", 100L)),
        "folded star serve values wrong")
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("navigation serves EXACT count(distinct grain-col) — duplication-insensitive, matched combos only; non-grain distinct bails (r14, VERDICT r13 #4)") {
    val dir = java.nio.file.Files.createTempDirectory("nav_distinct").toString
    try {
      // dim key 2 is DUPLICATED (multiplicity must not inflate the
      // distinct count) and fact key 3 has NO dim row (unmatched combos
      // must not leak in)
      Seq((1L, 10L, "a"), (1L, 20L, "a"), (2L, 30L, "b"), (3L, 99L, "z"))
        .toDF("k", "m", "x").write.mode("overwrite").parquet(s"$dir/fact")
      Seq((1L, "s1"), (2L, "s1"), (2L, "s1"))
        .toDF("dk", "seg").write.mode("overwrite").parquet(s"$dir/dim")
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim")
      Rollup.materialize(fact, Seq("k", "x"), Seq("m"))
        .write.mode("overwrite").parquet(s"$dir/fsum")
      Rollup.materialize(dim, Seq("dk", "seg"), Nil)
        .write.mode("overwrite").parquet(s"$dir/dsum")
      RollupRewrite.register(fact, spark.read.parquet(s"$dir/fsum"),
        Seq("k", "x"), Seq("m"))
      RollupRewrite.register(dim, spark.read.parquet(s"$dir/dsum"),
        Seq("dk", "seg"), Nil)
      RollupRewrite.enable(spark)
      // ONE distinct group per query — two or more get Expand-rewritten
      // by RewriteDistinctAggregates before extraOptimizations run and
      // stay on the base (a plan-shape limit, not a soundness one)
      val q = fact.join(dim, col("k") === col("dk")).groupBy("seg")
        .agg(count(lit(1)).as("n"), sum("m").as("s"),
          countDistinct(col("x")).as("ndx"))
      assert(scanPaths(q).forall(p =>
          p.contains("fsum") || p.contains("dsum")) && scanPaths(q).nonEmpty,
        s"distinct-count navigation must serve from the two summaries: ${scanPaths(q)}")
      assert(q.collect().map(r => (r.getString(0), r.getLong(1),
          r.getLong(2), r.getLong(3))).toSet ==
        Set(("s1", 4L, 90L, 2L)),
        "nav distinct values wrong (multiplicity or unmatched-combo leak)")
      // dim-side distinct (the join key itself is a dim grain)
      val qd = fact.join(dim, col("k") === col("dk")).groupBy("seg")
        .agg(countDistinct(col("dk")).as("ndk"))
      assert(scanPaths(qd).forall(p =>
          p.contains("fsum") || p.contains("dsum")),
        s"dim-side distinct must navigate: ${scanPaths(qd)}")
      assert(qd.collect().map(r => (r.getString(0), r.getLong(1))).toSet
        == Set(("s1", 2L)))
      // count(distinct measure-not-in-grain) has no exact derivation —
      // the plan must stay on the base
      val bail = fact.join(dim, col("k") === col("dk")).groupBy("seg")
        .agg(countDistinct(col("m")).as("ndm"))
      assert(scanPaths(bail).exists(_.contains("/fact")),
        s"non-grain distinct must bail to the base: ${scanPaths(bail)}")
      // cross-side MULTI-arg distinct: (x, seg) pairs over matched
      // combos — exact for the same reason
      val multi = fact.join(dim, col("k") === col("dk")).groupBy("seg")
        .agg(countDistinct(col("x"), col("seg")).as("ndp"))
      assert(scanPaths(multi).forall(p =>
          p.contains("fsum") || p.contains("dsum")),
        s"cross-side pair distinct must navigate: ${scanPaths(multi)}")
      assert(multi.collect().map(r => (r.getString(0), r.getLong(1))).toSet
        == Set(("s1", 2L)))
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("cross-side mixed: fact append + dim delete fold against SAVED states — an appended fact row joining the removed dim must not corrupt the retraction (r14)") {
    val dir = java.nio.file.Files.createTempDirectory("xside_mixed").toString
    try {
      // stored join: (1,10,x) (2,20,y) (3,7,x). The window then deletes
      // dim slice d1 (key 3 → x) AND appends fact row (3,100) — which
      // would join the REMOVED dim row. A retraction computed against
      // the CURRENT fact (instead of the saved state) counts the new
      // row's phantom pair into the removed partials, zeroes group x's
      // row count, and wrongly drops x.
      writeSlice(Seq((1L, 10L), (2L, 20L), (3L, 7L)).toDF("k", "m"),
        s"$dir/fact", "f0")
      writeSlice(Seq((1L, "x"), (2L, "y")).toDF("dk", "seg"),
        s"$dir/dim", "d0")
      val d1 = writeSlice(Seq((3L, "x")).toDF("dk", "seg"), s"$dir/dim", "d1")
      val fact0 = spark.read.parquet(s"$dir/fact")
      val dim0 = spark.read.parquet(s"$dir/dim")
      Rollup.materializeJoined(fact0, dim0, Seq("k" -> "dk"), Seq("seg"),
          Seq("m"))
        .write.mode("overwrite").parquet(s"$dir/aji")
      RollupRewrite.registerJoined(fact0, dim0, Seq("k" -> "dk"),
        spark.read.parquet(s"$dir/aji"), Seq("seg"), Seq("m"))
      RollupRewrite.enable(spark)
      writeSlice(Seq((3L, 100L)).toDF("k", "m"), s"$dir/fact", "fnew")
      RollupRewrite.deleteFiles(spark, Seq(d1), s"$dir/trash")
      val rep = RollupRewrite.refreshStale(spark, s"$dir/r1",
        trashDirs = Seq(s"$dir/trash"))
      def names(ps: Seq[String]) =
        ps.map(p => new org.apache.hadoop.fs.Path(p).getName).toSet
      assert(rep.size == 1 && rep.head.refreshed &&
          names(rep.head.removedFiles) == Set("d1.parquet") &&
          names(rep.head.deltaFiles) == Set("fnew.parquet"),
        s"cross-side fold must report the exact diff: $rep")
      val served = spark.read.parquet(s"$dir/fact")
        .join(spark.read.parquet(s"$dir/dim"), col("k") === col("dk"))
        .groupBy("seg").agg(count(lit(1)).as("n"), sum("m").as("s"))
      assert(scanPaths(served).forall(_.contains("refreshj")),
        s"post-fold serve must ride the folded AJI: ${scanPaths(served)}")
      assert(served.collect().map(r => (r.getString(0), r.getLong(1),
          r.getLong(2))).toSet == Set(("x", 1L, 10L), ("y", 1L, 20L)),
        "group x must survive the retraction with exactly its old-fact row")
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("streaming STAR maintenance: foreachBatch folds Δfact⋈dims per micro-batch == one-shot materializeStar; serves join-free (r14)") {
    // q223's device at star width — each micro-batch folds the q212
    // fact-append term (Δfact ⋈ every dim) into driver-held state;
    // counts and integer sums are split-invariant, so the folded state
    // must equal the one-shot star materialization bit-for-bit
    val dir = java.nio.file.Files.createTempDirectory("stream_star").toString
    try {
      Seq((1L, 10L, 5L), (1L, 20L, 6L), (2L, 10L, 7L), (2L, 20L, 100L),
          (1L, 10L, 1L), (2L, 20L, 2L))
        .toDF("k1", "k2", "m")
        .repartition(3).write.mode("overwrite").parquet(s"$dir/factstream")
      Seq((1L, "a"), (2L, "b")).toDF("d1k", "g1")
        .write.mode("overwrite").parquet(s"$dir/d1")
      Seq((10L, "x"), (20L, "y")).toDF("d2k", "g2")
        .write.mode("overwrite").parquet(s"$dir/d2")
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      val d1s = ss.read.parquet(s"$dir/d1")
      val d2s = ss.read.parquet(s"$dir/d2")
      val sdimsS = Seq(d1s -> Seq("k1" -> "d1k"), d2s -> Seq("k2" -> "d2k"))
      val schema = ss.read.parquet(s"$dir/factstream").schema
      var state: DataFrame = null
      var nBatches = 0
      val q = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/factstream")
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            nBatches += 1
            val delta = Rollup.materializeStar(batch, sdimsS,
                Seq("g1", "g2"), Seq("m"))
              .localCheckpoint(true).transform(Checkpoints.track)
            state = (if (state == null) delta
                     else Rollup.merge(state, delta, Seq("g1", "g2"),
                       Seq("m")).localCheckpoint(true)
                       .transform(Checkpoints.track))
          }
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      assert(nBatches >= 3, s"expected 3+ micro-batches, saw $nBatches")
      state.write.mode("overwrite").parquet(s"$dir/star")
      val fact = spark.read.parquet(s"$dir/factstream")
      def sdims = Seq(
        spark.read.parquet(s"$dir/d1") -> Seq("k1" -> "d1k"),
        spark.read.parquet(s"$dir/d2") -> Seq("k2" -> "d2k"))
      assert(spark.read.parquet(s"$dir/star").collect().map(_.toSeq).toSet ==
        Rollup.materializeStar(fact, sdims, Seq("g1", "g2"), Seq("m"))
          .collect().map(_.toSeq).toSet,
        "stream-folded star must equal the one-shot materialization")
      RollupRewrite.registerStar(fact, sdims,
        spark.read.parquet(s"$dir/star"), Seq("g1", "g2"), Seq("m"))
      RollupRewrite.enable(spark)
      val dash = fact
        .join(spark.read.parquet(s"$dir/d1"), col("k1") === col("d1k"))
        .join(spark.read.parquet(s"$dir/d2"), col("k2") === col("d2k"))
        .groupBy("g1", "g2").agg(sum("m").as("s"))
      assert(scanPaths(dash).forall(_.contains("/star")) &&
        dash.queryExecution.optimizedPlan.collect {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
        }.isEmpty,
        s"dashboard must ride the stream-maintained star join-free: ${scanPaths(dash)}")
      assert(dash.collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2))).toSet ==
        Set(("a", "x", 6L), ("a", "y", 6L), ("b", "x", 7L),
          ("b", "y", 102L)))
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      graft.plan.Checkpoints.release()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("compactParquetTrash: the shipped compaction op leaves every summary refreshable — full-compaction degenerate folds (r14)") {
    val dir = java.nio.file.Files.createTempDirectory("compact_fold").toString
    try {
      val orders = spark.read.parquet(s"$sf/orders.parquet")
      (0 until 5).foreach { sl =>
        writeSlice(orders.filter(col("o_orderkey") % 5 === sl),
          s"$dir/base", s"s$sl")
      }
      val base0 = spark.read.parquet(s"$dir/base")
      Rollup.materialize(base0, Seq("o_orderstatus"), Seq("o_custkey"))
        .write.mode("overwrite").parquet(s"$dir/sum")
      RollupRewrite.register(base0, spark.read.parquet(s"$dir/sum"),
        Seq("o_orderstatus"), Seq("o_custkey"))
      RollupRewrite.enable(spark)
      val nNew = graft.sources.PathLifecycle.compactParquetTrash(spark,
        s"$dir/base", s"$dir/trash")
      assert(nNew == 1L, s"tiny dir must compact to one file, got $nNew")
      val rep = RollupRewrite.refreshStale(spark, s"$dir/r1",
        trashDirs = Seq(s"$dir/trash"))
      assert(rep.size == 1 && rep.head.refreshed &&
          rep.head.removedFiles.size == 5 && rep.head.deltaFiles.size == 1,
        s"compactParquetTrash must leave the summary refreshable: $rep")
      val served = spark.read.parquet(s"$dir/base").groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum("o_custkey").as("sm"),
          min("o_custkey").as("mn"), max("o_custkey").as("mx"))
      assert(scanPaths(served).forall(p =>
          p.contains("/r1/") && p.contains("refresh_")),
        s"post-compaction serve must ride the folded summary: ${scanPaths(served)}")
      RollupRewrite.disable(spark)
      val want = spark.read.parquet(s"$dir/base").groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum("o_custkey").as("sm"),
          min("o_custkey").as("mn"), max("o_custkey").as("mx"))
        .collect().map(_.toSeq).toSet
      RollupRewrite.enable(spark)
      assert(served.collect().map(_.toSeq).toSet == want && want.nonEmpty,
        "post-compaction serve must equal the base recompute")
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("semiPruneByKeys: exact semi-filter pushed to the scan; null keys drop; over-cap and empty deltas skip (r15)") {
    val dir = java.nio.file.Files.createTempDirectory("semiprune").toString
    try {
      spark.range(0, 1000)
        .selectExpr("id as fk", "id % 7 as m")
        .write.parquet(s"$dir/fact")
      val fact = spark.read.parquet(s"$dir/fact")
      val delta = Seq(Some(3L), Some(17L), None).toDF("dk")
      val pruned = Rollup.semiPruneByKeys(fact, delta, Seq("fk" -> "dk"))
      // result-equivalence with the join's own semi-filter
      assert(pruned.join(delta, pruned("fk") === delta("dk")).count() ==
        fact.join(delta, fact("fk") === delta("dk")).count())
      assert(pruned.select("fk").as[Long].collect().sorted.toSeq == Seq(3L, 17L))
      // the IN filter must reach the parquet scan (PushedFilters)
      val scanStr = pruned.queryExecution.executedPlan.toString
      assert(scanStr.contains("PushedFilters") && scanStr.contains("In(fk"),
        s"IN not pushed to the scan:\n$scanStr")
      // over-cap delta: fact returned verbatim (same plan object)
      val wide = spark.range(0, 5000).selectExpr("id as dk")
      assert(Rollup.semiPruneByKeys(fact, wide, Seq("fk" -> "dk"), cap = 100)
        .queryExecution.logical eq fact.queryExecution.logical)
      // all-null delta: no non-null keys, prune skipped (join yields 0 anyway)
      val nulls = Seq[Option[Long]](None, None).toDF("dk")
      assert(Rollup.semiPruneByKeys(fact, nulls, Seq("fk" -> "dk"))
        .queryExecution.logical eq fact.queryExecution.logical)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  // ---- one side list: plain, joined and star share register, refresh,
  // serve and persistence -------------------------------------------------

  /** A star-schema fixture: `fact(fk1, fk2, m)` written as one file per
    * batch, `d1(d1k, g1)`, `d2(d2k, g2)`. */
  private def starFixture(dir: String): Unit = {
    Seq((1L, 10L, 100L), (2L, 20L, 200L)).toDF("fk1", "fk2", "m")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/fact")
    Seq((1L, 10L, 300L), (2L, 10L, 400L)).toDF("fk1", "fk2", "m")
      .coalesce(1).write.mode("append").parquet(s"$dir/fact")
    Seq((2L, 20L, 500L), (1L, 20L, 600L)).toDF("fk1", "fk2", "m")
      .coalesce(1).write.mode("append").parquet(s"$dir/fact")
    Seq((1L, "a"), (2L, "b")).toDF("d1k", "g1")
      .write.mode("overwrite").parquet(s"$dir/d1")
    Seq((10L, "x"), (20L, "y")).toDF("d2k", "g2")
      .write.mode("overwrite").parquet(s"$dir/d2")
  }

  private def parquetFiles(path: String): Seq[String] =
    new java.io.File(path).listFiles().toSeq.map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted

  test("summary maintenance releases its retraction checkpoints: refreshStale over every side list, and the versioned refreshes") {
    val dir = java.nio.file.Files.createTempDirectory("rollup_leak").toString
    def noLeaks[A](what: String)(body: => A): A = {
      val rdds = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val live = Checkpoints.liveCount
      val out = body
      assert(spark.sparkContext.getPersistentRDDs.keySet.toSet -- rdds ==
        Set.empty[Int], s"$what left persisted RDDs")
      assert(Checkpoints.liveCount == live, s"$what left tracked checkpoints")
      out
    }
    try {
      starFixture(dir)
      def fact() = spark.read.parquet(s"$dir/fact")
      def dims() = Seq(spark.read.parquet(s"$dir/d1") -> Seq("fk1" -> "d1k"),
        spark.read.parquet(s"$dir/d2") -> Seq("fk2" -> "d2k"))
      def appendDay(rows: Seq[(Long, Long, Long)]): Unit =
        rows.toDF("fk1", "fk2", "m").coalesce(1).write.mode("append")
          .parquet(s"$dir/fact")
      val trash = s"$dir/trash"
      // part 1: refreshStale over a plain, a joined and a star registration
      Rollup.materialize(fact(), Seq("fk1"), Seq("m"))
        .write.parquet(s"$dir/plain")
      RollupRewrite.register(fact(), spark.read.parquet(s"$dir/plain"),
        Seq("fk1"), Seq("m"))
      Rollup.materializeJoined(fact(), dims().head._1, dims().head._2,
          Seq("g1"), Seq("m"))
        .write.parquet(s"$dir/joined")
      RollupRewrite.registerJoined(fact(), dims().head._1, dims().head._2,
        spark.read.parquet(s"$dir/joined"), Seq("g1"), Seq("m"))
      Rollup.materializeStar(fact(), dims(), Seq("g1", "g2"), Seq("m"))
        .write.parquet(s"$dir/star")
      RollupRewrite.registerStar(fact(), dims(),
        spark.read.parquet(s"$dir/star"), Seq("g1", "g2"), Seq("m"))
      // delete window: the oldest day moves to the trash
      RollupRewrite.deleteFiles(spark, parquetFiles(s"$dir/fact").take(1), trash)
      val rep1 = noLeaks("refreshStale (delete)") {
        RollupRewrite.refreshStale(spark, s"$dir/r1", Seq(trash))
      }
      assert(rep1.size == 3 && rep1.forall(r => r.refreshed && r.removedFiles.size == 1),
        s"every side list must retract the delete: $rep1")
      // mixed window: a new day lands while another moves to the trash
      val oldest = parquetFiles(s"$dir/fact").head
      appendDay(Seq((1L, 20L, 700L), (2L, 10L, 800L)))
      RollupRewrite.deleteFiles(spark, Seq(oldest), trash)
      val rep2 = noLeaks("refreshStale (mixed)") {
        RollupRewrite.refreshStale(spark, s"$dir/r2", Seq(trash))
      }
      assert(rep2.size == 3 && rep2.forall(r => r.refreshed &&
          r.removedFiles.size == 1 && r.deltaFiles.size == 1),
        s"every side list must fold the mixed diff: $rep2")
      RollupRewrite.enable(spark)
      val want = fact().groupBy("fk1").agg(sum("m").as("s")).collect().toSet
      val served = fact().groupBy("fk1").agg(sum("m").as("s"))
      assert(scanPaths(served).forall(_.contains("/r2/")),
        s"the twice-refreshed plain summary must serve: ${scanPaths(served)}")
      RollupRewrite.disable(spark)
      assert(served.collect().toSet == want)
      // part 2: the versioned tier's delete and mixed refreshes
      val layoutP = RollupVersioned.Layout(Seq("fk1"), Seq("m"))
      val layoutJ = RollupVersioned.Layout(Seq("g1"), Seq("m"))
      val layoutS = RollupVersioned.Layout(Seq("g1", "g2"), Seq("m"))
      RollupVersioned.init(spark, s"$dir/vp", fact(), layoutP)
      RollupVersioned.initJoined(spark, s"$dir/vj", fact(), dims().head._1,
        dims().head._2, layoutJ)
      RollupVersioned.initStar(spark, s"$dir/vs", fact(), dims(), layoutS)
      RollupRewrite.deleteFiles(spark, parquetFiles(s"$dir/fact").take(1), trash)
      noLeaks("RollupVersioned.refreshRemoved*") {
        assert(RollupVersioned.refreshRemoved(spark, s"$dir/vp", fact(),
          Seq(trash)).isDefined)
        assert(RollupVersioned.refreshRemovedJoined(spark, s"$dir/vj", fact(),
          dims().head._1, Seq(trash)).isDefined)
        assert(RollupVersioned.refreshRemovedStar(spark, s"$dir/vs", fact(),
          dims(), Seq(trash)).isDefined)
      }
      val oldest2 = parquetFiles(s"$dir/fact").head
      appendDay(Seq((2L, 20L, 900L)))
      RollupRewrite.deleteFiles(spark, Seq(oldest2), trash)
      noLeaks("RollupVersioned.refreshMixed*") {
        assert(RollupVersioned.refreshMixed(spark, s"$dir/vp", fact(),
          Seq(trash)).isDefined)
        assert(RollupVersioned.refreshMixedJoined(spark, s"$dir/vj", fact(),
          dims().head._1, Seq(trash)).isDefined)
        assert(RollupVersioned.refreshMixedStar(spark, s"$dir/vs", fact(),
          dims(), Seq(trash)).isDefined)
      }
      assert(RollupVersioned.summaryOf(spark, s"$dir/vs", None)
          .groupBy().agg(sum("__sum_m")).head().getLong(0) ==
        fact().agg(sum("m")).head().getLong(0))
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("restore reads every manifest dialect (v1 v2 v3 j1 j2 s1 s2); save → restore → save is byte-identical for each side list") {
    val dir = java.nio.file.Files.createTempDirectory("rollup_dialects").toString
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    try {
      starFixture(dir)
      val fact = spark.read.parquet(s"$dir/fact")
      val d1 = spark.read.parquet(s"$dir/d1")
      val d2 = spark.read.parquet(s"$dir/d2")
      val dims = Seq(d1 -> Seq("fk1" -> "d1k"), d2 -> Seq("fk2" -> "d2k"))
      def uri(p: String) = new org.apache.hadoop.fs.Path(p).makeQualified(
        java.net.URI.create("file:///"), null).toString
      // the saved staleness state, in the `path|len|mtime` form registration takes
      def manifestOf(p: String): Seq[String] = {
        val path = new org.apache.hadoop.fs.Path(uri(p))
        path.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .listStatus(path).toSeq.filter(_.getPath.getName.endsWith(".parquet"))
          .map(st => s"${st.getPath}|${st.getLen}|${st.getModificationTime}")
          .sorted
      }
      def fpOf(p: String): String = {
        val md = java.security.MessageDigest.getInstance("MD5")
        manifestOf(p).foreach(e => md.update(e.getBytes("UTF-8")))
        java.util.Base64.getEncoder.encodeToString(md.digest)
      }
      def state(p: String) =
        Seq(enc(fpOf(p)), manifestOf(p).map(enc).mkString(",")).mkString("|")
      def dimGroup(p: String, k: String, dk: String) =
        Seq(enc(uri(p)), s"${enc(k)}:${enc(dk)}", enc(fpOf(p)),
          manifestOf(p).map(enc).mkString(",")).mkString("~")
      def summary(name: String, df: DataFrame): String = {
        df.write.parquet(s"$dir/$name")
        enc(uri(s"$dir/$name"))
      }
      val (f, j, s) = (enc(uri(s"$dir/fact")), enc(uri(s"$dir/d1")),
        dimGroup(s"$dir/d1", "fk1", "d1k") + ";" + dimGroup(s"$dir/d2", "fk2", "d2k"))
      val lines = Seq(
        s"v1|$f|${summary("v1", Rollup.materialize(fact, Seq("fk1"), Seq("m")))}|fk1|m||64",
        s"v2|$f|${summary("v2", Rollup.materializeExpr(fact,
          Seq("b" -> expr("fk2 % 3")), Seq("m")))}|b|m||64|b:${enc("(fk2 % 3)")}",
        s"v3|$f|${summary("v3", Rollup.materialize(fact, Seq("fk1", "fk2"),
          Seq("m")))}|fk1,fk2|m||64|||" + state(s"$dir/fact"),
        s"j1|$f|$j|fk1:d1k|${summary("j1", Rollup.materializeJoined(fact, d1,
          Seq("fk1" -> "d1k"), Seq("g1"), Seq("m")))}|g1|m||64||" +
          state(s"$dir/fact") + "|" + state(s"$dir/d1"),
        s"j2|$f|$j|fk1:d1k|${summary("j2", Rollup.materializeJoined(fact, d1,
          Seq("fk1" -> "d1k"), Seq("g1", "fk2"), Seq("m")))}|g1,fk2|m||64||" +
          state(s"$dir/fact") + "|" + state(s"$dir/d1") + "|",
        s"s1|$f|$s|${summary("s1", Rollup.materializeStar(fact, dims,
          Seq("g1", "g2"), Seq("m")))}|g1,g2|m||64||" + state(s"$dir/fact"),
        s"s2|$f|$s|${summary("s2", Rollup.materializeStar(fact, dims,
          Seq("g2"), Seq("m")))}|g2|m||64||" + state(s"$dir/fact") + "|")
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/old.manifest"),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      assert(RollupRewrite.restore(spark, s"$dir/old.manifest") == 7)
      val described = RollupRewrite.describeRegistrations(spark).collect()
      assert(described.length == 7 && described.forall(_.getAs[Boolean]("fresh")),
        s"every dialect must restore one fresh registration: ${described.toSeq}")
      RollupRewrite.enable(spark)
      val plainQ = fact.groupBy(expr("fk2 % 3")).agg(sum("m"))
      val joinedQ = fact.join(d1, col("fk1") === col("d1k"))
        .groupBy("g1").agg(sum("m"))
      val starQ = fact.join(d1, col("fk1") === col("d1k"))
        .join(d2, col("fk2") === col("d2k")).groupBy("g2").agg(sum("m"))
      for ((q, name) <- Seq(plainQ -> "v2", joinedQ -> "j1", starQ -> "s2"))
        assert(scanPaths(q) == Set(uri(s"$dir/$name")),
          s"restored $name line must serve: ${scanPaths(q)}")
      // one registration of each side list: save → clear → restore → save
      RollupRewrite.clear()
      RollupRewrite.registerStar(fact, dims, spark.read.parquet(s"$dir/s1"),
        Seq("g1", "g2"), Seq("m"))
      RollupRewrite.register(fact, spark.read.parquet(s"$dir/v2"), Seq("b"),
        Seq("m"), groupExprOf = Map("b" -> expr("fk2 % 3")))
      RollupRewrite.registerJoined(fact, d1, Seq("fk1" -> "d1k"),
        spark.read.parquet(s"$dir/j1"), Seq("g1"), Seq("m"))
      RollupRewrite.save(spark, s"$dir/a.manifest")
      RollupRewrite.clear()
      assert(RollupRewrite.restore(spark, s"$dir/a.manifest") == 3)
      RollupRewrite.save(spark, s"$dir/b.manifest")
      def bytes(p: String) = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)).toSeq
      assert(bytes(s"$dir/a.manifest") == bytes(s"$dir/b.manifest"),
        s"round trip changed the manifest:\n${new String(bytes(s"$dir/a.manifest").toArray, "UTF-8")}" +
          s"\n---\n${new String(bytes(s"$dir/b.manifest").toArray, "UTF-8")}")
      assert(new String(bytes(s"$dir/a.manifest").toArray, "UTF-8").split("\n")
        .map(_.takeWhile(_ != '|')).toSeq == Seq("v3", "j2", "s2"),
        "lines group plain → joined → star")
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("star summary serves a star query whose dim key reaches the join through a rename") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val dir = java.nio.file.Files.createTempDirectory("star_rename").toString
    try {
      starFixture(dir)
      val fact = spark.read.parquet(s"$dir/fact")
      val d1 = spark.read.parquet(s"$dir/d1")
      val d2 = spark.read.parquet(s"$dir/d2")
      val dims = Seq(d1 -> Seq("fk1" -> "d1k"), d2 -> Seq("fk2" -> "d2k"))
      Rollup.materializeStar(fact, dims, Seq("g1", "g2"), Seq("m"))
        .write.parquet(s"$dir/star")
      RollupRewrite.registerStar(fact, dims, spark.read.parquet(s"$dir/star"),
        Seq("g1", "g2"), Seq("m"))
      RollupRewrite.enable(spark)
      val renamed = spark.read.parquet(s"$dir/d1")
        .select(col("d1k").as("k2"), col("g1"))
      val q = spark.read.parquet(s"$dir/fact")
        .join(renamed, col("fk1") === col("k2"))
        .join(spark.read.parquet(s"$dir/d2"), col("fk2") === col("d2k"))
        .groupBy("g1", "g2").agg(count(lit(1)).as("n"), sum("m").as("s"))
      assert(scanPaths(q) == Set(s"file:$dir/star") &&
          q.queryExecution.optimizedPlan.collect { case j: LJoin => j }.isEmpty,
        s"a renamed dim key must still serve from the star summary:\n" +
          q.queryExecution.optimizedPlan)
      val got = q.collect().toSet
      RollupRewrite.disable(spark)
      assert(got == q.collect().toSet && got.nonEmpty)
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
