package graft.plan

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.expressions.{HistAgg, KmvDistinctAgg}
import graft.curate.Curate

/** [[SummaryDesigner]] — capture → design → build → serve, no human in
  * the loop. The contract: capture records FULL layout requirements
  * (measures / exact-distinct / sketch / histogram, with unservable
  * shapes marked), the design is deterministic, and the designed
  * lattice actually serves the captured workload. */
class SummaryDesignerSpec extends SparkSpec {
  import spark.implicits._

  private def scanPaths(df: DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.map(_.toString)
    }.flatten.toSet

  private def withBase[A](body: (DataFrame, String) => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("designer").toString
    // every (g, h) combo appears twice, so the fine grain's cardinality
    // (4) sits below the row count (8) and the HRU greedy gives it
    // positive benefit
    Seq(("a", "x", 1L, 10L, "u"), ("a", "y", 2L, 20L, "v"),
        ("b", "x", 3L, 30L, "u"), ("b", "y", 4L, 40L, "w"),
        ("a", "x", 1L, 10L, "u"), ("a", "y", 2L, 20L, "v"),
        ("b", "x", 3L, 30L, "u"), ("b", "y", 4L, 40L, "w"))
      .toDF("g", "h", "m", "v", "s")
      .write.mode("overwrite").parquet(s"$dir/base")
    RollupRewrite.enable(spark)
    RollupRewrite.startWorkloadCapture()
    try body(spark.read.parquet(s"$dir/base"), dir)
    finally {
      RollupRewrite.disable(spark)
      RollupRewrite.resetWorkloadCapture()
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("capture records measures, distincts, sketches, histograms; unservable shapes marked") {
    withBase { (base, _) =>
      val paths = RollupRewrite.scanRootPaths(base)
      base.groupBy("g").agg(sum("m").as("s1"),
        countDistinct(col("h")).as("nd"),
        HistAgg.histSketch(col("v")).as("hv"),
        KmvDistinctAgg.kmvSketch(Curate.portableHash60(col("s")), 32).as("sk"))
        .queryExecution.optimizedPlan
      val e = RollupRewrite.capturedEntries(paths)
      assert(e.exists(x => x.servable && x.grain == Set("g") &&
        x.measures == Set("m") && x.distinctCols == Set("h") &&
        x.histCols == Set("v") && x.sketchCols == Set("s") &&
        x.sketchKs == Set(32)), s"requirements not captured: $e")
      // non-column aggregate argument => unservable
      base.groupBy("g").agg(sum(col("m") * 2).as("s2"))
        .queryExecution.optimizedPlan
      assert(RollupRewrite.capturedEntries(paths)
          .exists(x => !x.servable && x.grain == Set("g")),
        "sum(m*2) must be captured as unservable")
    }
  }

  test("design + buildAndRegister: the captured workload re-serves from the designed lattice") {
    withBase { (base, dir) =>
      def w1(src: DataFrame) = src.groupBy("g")
        .agg(count(lit(1)).as("n"), sum("m").as("sm"))
      def w2(src: DataFrame) = src.filter(col("h") === "x").groupBy("g")
        .agg(min("v").as("mn"))
      def w3(src: DataFrame) = src.groupBy("g")
        .agg(HistAgg.histSketch(col("v")).as("hv"))
        .select(col("g"), HistAgg.histQuantile(col("hv"), 0.5).as("p50"))
      w1(base).queryExecution.optimizedPlan
      w2(base).queryExecution.optimizedPlan
      w3(base).queryExecution.optimizedPlan
      val specs = SummaryDesigner.design(base, k = 2)
      assert(specs.size == 2, s"expected a 2-grain design, got $specs")
      val fine = specs.find(_.grainCols.toSet == Set("g", "h")).get
      val coarse = specs.find(_.grainCols == Seq("g")).get
      // fine serves everything (requirements all ⊆ {g,h}); coarse serves
      // the {g}-only queries
      assert(fine.measures.toSet == Set("m", "v") &&
        fine.histCols == Seq("v"), s"fine spec wrong: $fine")
      assert(coarse.measures == Seq("m") && coarse.histCols == Seq("v"),
        s"coarse spec wrong: $coarse")
      // determinism: designing again from the same capture is identical
      assert(SummaryDesigner.design(base, k = 2) == specs)
      val outs = SummaryDesigner.buildAndRegister(spark, base, Nil, specs,
        s"$dir/designed")
      assert(outs.size == 2)
      // every workload query now serves from a designed summary —
      // w1/w3 from the coarse grain (lattice routing), w2 from the fine
      def served(df: DataFrame, want: String): Unit = {
        val scans = scanPaths(df)
        assert(scans.nonEmpty && scans.forall(_.contains("designed")),
          s"workload query must serve from the designed lattice: $scans")
        assert(scans.forall(_.contains(want)), s"wrong grain routed: $scans")
      }
      val coarseDir = outs(specs.indexOf(coarse))
        .substring(outs(specs.indexOf(coarse)).lastIndexOf('/') + 1)
      val fineDir = outs(specs.indexOf(fine))
        .substring(outs(specs.indexOf(fine)).lastIndexOf('/') + 1)
      served(w1(base), coarseDir)
      served(w2(base), fineDir)
      served(w3(base), coarseDir)
      // and the answers are right
      assert(w1(base).collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2))).toSet == Set(("a", 4L, 6L), ("b", 4L, 14L)))
      assert(w2(base).collect().map(r => (r.getString(0), r.getLong(1)))
        .toSet == Set(("a", 10L), ("b", 30L)))
      // p50 is the q80 lower bound: a's {10,10,20,20} -> bucket lo 10;
      // b's {30,30,40,40} -> bucket lo 28 (msb 4, sub 3)
      assert(w3(base).collect().map(r => (r.getString(0), r.getLong(1)))
        .toSet == Set(("a", 10L), ("b", 28L)))
    }
  }

  test("approx cardinality mode designs the same lattice (the cube-free 100-TB path)") {
    withBase { (base, dir) =>
      base.groupBy("g").agg(sum("m").as("sm")).queryExecution.optimizedPlan
      base.groupBy("g", "h").agg(min("v").as("mn")).queryExecution.optimizedPlan
      val exact = SummaryDesigner.design(base, k = 2)
      val approx = SummaryDesigner.design(base, k = 2, sketchCardK = Some(64))
      // 8 rows, every grain cardinality far below the 64 sketch: the
      // unfilled sketches ARE exact counts, so the designs coincide
      assert(exact == approx && exact.nonEmpty,
        s"approx design must match exact on unfilled sketches: $exact vs $approx")
    }
  }

  test("computed-grain workloads design synthesized expression dims end-to-end") {
    val dir = java.nio.file.Files.createTempDirectory("designer_expr").toString
    try {
      spark.range(0, 200)
        .select(to_date(concat(lit("2024-0"), (col("id") % 3 + 1),
            lit("-1"), (col("id") % 9 + 1))).as("d"),
          (col("id") % 7).as("m"))
        .write.mode("overwrite").parquet(s"$dir/base")
      val base = spark.read.parquet(s"$dir/base")
      RollupRewrite.enable(spark)
      RollupRewrite.startWorkloadCapture()
      def q(src: DataFrame) = src.groupBy(month(col("d")).as("mo"))
        .agg(sum("m").as("s"))
      q(base).queryExecution.optimizedPlan
      val specs = SummaryDesigner.design(base, k = 1)
      assert(specs.size == 1 && specs.head.grainCols.size == 1 &&
          specs.head.grainCols.head.startsWith("__g") &&
          specs.head.grainExprSql.values.toSeq.exists(_.contains("month")),
        s"the month() grain must design as a synthesized expression dim: $specs")
      SummaryDesigner.buildAndRegister(spark, base, Nil, specs, s"$dir/designed")
      val served = q(base)
      val scans = scanPaths(served)
      assert(scans.nonEmpty && scans.forall(_.contains("designed")),
        s"the month()-grouped query must serve from the designed summary: $scans")
      RollupRewrite.disable(spark)
      val direct = q(base).collect().map(r => (r.getInt(0), r.getLong(1))).toSet
      RollupRewrite.enable(spark)
      assert(served.collect().map(r => (r.getInt(0), r.getLong(1))).toSet
        == direct && direct.size == 3)
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.resetWorkloadCapture()
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("designUnderBudget: the row budget admits what fits, stops at zero benefit") {
    withBase { (base, _) =>
      base.groupBy("g").agg(sum("m").as("sm")).queryExecution.optimizedPlan
      base.groupBy("g", "h").agg(min("v").as("mn")).queryExecution.optimizedPlan
      // cardinalities: (g,h)=4 rows, (g)=2, base n=8; benefits: fine
      // serves both queries (2*(8-4)=8), coarse serves one (8-2=6)
      val tight = SummaryDesigner.designUnderBudget(base, maxRows = 3)
      assert(tight.map(_.grainCols) == Seq(Seq("g")),
        s"only the 2-row coarse grain fits a 3-row budget: $tight")
      val mid = SummaryDesigner.designUnderBudget(base, maxRows = 5)
      assert(mid.map(_.grainCols.toSet) == Seq(Set("g", "h")),
        s"the winning fine grain (4 rows) leaves no room for coarse: $mid")
      val roomy = SummaryDesigner.designUnderBudget(base, maxRows = 100)
      assert(roomy.size == 2 &&
          roomy.map(_.grainCols.toSet) == Seq(Set("g", "h"), Set("g")),
        s"a roomy budget takes both beneficial grains and STOPS (no " +
          s"zero-benefit filler): $roomy")
    }
  }

  test("empty capture designs nothing; conflicting sketch ks skip sketch entries") {
    withBase { (base, _) =>
      assert(SummaryDesigner.design(base, k = 3) == Nil)
      base.groupBy("g").agg(KmvDistinctAgg.kmvSketch(
        Curate.portableHash60(col("s")), 16).as("a")).queryExecution.optimizedPlan
      base.groupBy("g").agg(KmvDistinctAgg.kmvSketch(
        Curate.portableHash60(col("s")), 32).as("b")).queryExecution.optimizedPlan
      // one k wins; the conflicting entry is skipped, not mis-designed
      val specs = SummaryDesigner.design(base, k = 2)
      assert(specs.size == 1 && specs.head.distinctCols == Seq("s") &&
        Set(16, 32).contains(specs.head.sketchK), s"got $specs")
    }
  }

  test("global aggregates design no empty-grain summary") {
    withBase { (base, dir) =>
      base.agg(sum("m").as("s")).queryExecution.optimizedPlan
      assert(SummaryDesigner.design(base, k = 2) == Nil,
        "a workload of global aggregates alone designs nothing")
      base.groupBy("g").agg(min("m").as("mn")).queryExecution.optimizedPlan
      val specs = SummaryDesigner.design(base, k = 2)
      assert(specs.nonEmpty && specs.forall(_.grainCols.nonEmpty),
        s"every designed grain must be buildable: $specs")
      val built = SummaryDesigner.buildAndRegister(spark, base, Nil, specs,
        s"$dir/designed")
      assert(built.size == specs.size)
    }
  }

  test("designJoined + buildAndRegisterJoined: captured join workload re-serves from designed AJIs") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val dir = java.nio.file.Files.createTempDirectory("designer_j").toString
    try {
      // (k, st) pairs repeat so the fine (seg, st) grain's cardinality
      // sits below the join row count (positive HRU benefit)
      Seq((1L, "x", 10L), (1L, "y", 20L), (2L, "x", 30L), (2L, "y", 40L),
          (1L, "x", 11L), (1L, "y", 21L), (2L, "x", 31L), (2L, "y", 41L))
        .toDF("k", "st", "m")
        .write.mode("overwrite").parquet(s"$dir/fact")
      Seq((1L, "s1"), (2L, "s2")).toDF("dk", "seg")
        .write.mode("overwrite").parquet(s"$dir/dim")
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim")
      val keys = Seq("k" -> "dk")
      def joined = fact.join(dim, col("k") === col("dk"))
      def wA = joined.groupBy("seg")
        .agg(count(lit(1)).as("n"), sum("m").as("s"))
      def wB = joined.filter(col("st") === "x").groupBy("seg")
        .agg(min("m").as("mn"), max("m").as("mx"))
      RollupRewrite.enable(spark)
      RollupRewrite.startWorkloadCapture()
      wA.queryExecution.optimizedPlan
      wB.queryExecution.optimizedPlan
      // orientation transparency: entries resolve from EITHER side order
      val fw = RollupRewrite.capturedEntries(
        scanPaths(fact), Set((scanPaths(dim), keys.toSet)))
      val bw = RollupRewrite.capturedEntries(
        scanPaths(dim), Set((scanPaths(fact), keys.map(_.swap).toSet)))
      assert(fw.count(_.servable) >= 2 && fw.toSet == bw.toSet,
        s"joined capture must match either orientation: fw=$fw bw=$bw")
      // the isnotnull(k)/isnotnull(dk) inferred conjuncts must NOT leak
      // into filter requirements (they drop at serve time)
      assert(fw.forall(e => !e.filterCols.contains("k") &&
        !e.filterCols.contains("dk")), s"key isnotnulls leaked: $fw")
      RollupRewrite.stopWorkloadCapture() // keep the log readable
      val specs = SummaryDesigner.design(fact, Seq(dim -> keys), k = 2)
      assert(specs.size == 2 &&
          specs.exists(_.grainCols == Seq("seg")) &&
          specs.exists(_.grainCols.toSet == Set("seg", "st")),
        s"expected the (seg) + (seg, st) AJI design: $specs")
      val outs = SummaryDesigner.buildAndRegister(
        spark, fact, Seq(dim -> keys), specs, s"$dir/designed")
      val coarseOut = outs(specs.indexWhere(_.grainCols == Seq("seg")))
      val fineOut = outs(specs.indexWhere(_.grainCols.size == 2))
      def onlyOn(df: DataFrame, path: String): Unit = {
        assert(scanPaths(df) == Set(s"file:$path"),
          s"leg must ride its designed AJI: ${scanPaths(df)} vs $path")
        assert(df.queryExecution.optimizedPlan.collect {
          case j: LJoin => j }.isEmpty, "designed AJI serve must be join-free")
      }
      onlyOn(wA, coarseOut)
      onlyOn(wB, fineOut)
      assert(wA.collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
        Set(("s1", 4L, 62L), ("s2", 4L, 142L)))
      assert(wB.collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
        Set(("s1", 10L, 11L), ("s2", 30L, 31L)))
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.resetWorkloadCapture()
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("designJoined synthesizes EXPRESSION grains: month() join workload captures by SQL, designs, builds, serves join-free (r13)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val dir = java.nio.file.Files.createTempDirectory("designer_je").toString
    try {
      // repeating (month, seg) pairs give the expression grain positive
      // HRU benefit over the 8-row join
      Seq((1L, "2024-01-05", 10L), (1L, "2024-01-25", 20L),
          (2L, "2024-02-05", 30L), (2L, "2024-02-25", 40L),
          (1L, "2024-01-15", 11L), (2L, "2024-02-15", 31L),
          (1L, "2024-02-01", 21L), (2L, "2024-01-01", 41L))
        .toDF("k", "ds", "m")
        .select(col("k"), to_date(col("ds")).as("d"), col("m"))
        .write.mode("overwrite").parquet(s"$dir/fact")
      Seq((1L, "s1"), (2L, "s2")).toDF("dk", "seg")
        .write.mode("overwrite").parquet(s"$dir/dim")
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim")
      val keys = Seq("k" -> "dk")
      def joined = fact.join(dim, col("k") === col("dk"))
      def w = joined.groupBy(month(col("d")).as("om"), col("seg"))
        .agg(count(lit(1)).as("n"), sum("m").as("s"))
      RollupRewrite.enable(spark)
      RollupRewrite.startWorkloadCapture()
      w.queryExecution.optimizedPlan
      val cap = RollupRewrite.capturedEntries(
        scanPaths(fact), Set((scanPaths(dim), keys.toSet)))
      assert(cap.exists(e => e.servable &&
          e.grain.exists(_.startsWith("month(")) && e.grain.contains("seg")),
        s"joined capture must record the expression grain by SQL: $cap")
      RollupRewrite.stopWorkloadCapture()
      val specs = SummaryDesigner.design(fact, Seq(dim -> keys), k = 1)
      assert(specs.size == 1, s"expected one designed AJI: $specs")
      val sp = specs.head
      assert(sp.grainCols.exists(_.startsWith("__g")) &&
          sp.grainCols.contains("seg") &&
          sp.grainExprSql.values.exists(_.contains("month(")),
        s"the design must synthesize the month() grain: $sp")
      val outs = SummaryDesigner.buildAndRegister(
        spark, fact, Seq(dim -> keys), specs, s"$dir/designed")
      assert(scanPaths(w) == Set(s"file:${outs.head}"),
        s"the captured query must ride the designed expr-grain AJI: ${scanPaths(w)}")
      assert(w.queryExecution.optimizedPlan.collect {
        case j: LJoin => j }.isEmpty, "expr-grain AJI serve must be join-free")
      assert(w.collect().map(r =>
          (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet ==
        Set((1, "s1", 3L, 41L), (2, "s1", 1L, 21L),
            (2, "s2", 3L, 101L), (1, "s2", 1L, 41L)))
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.resetWorkloadCapture()
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("star design is filter-aware: a WHERE column missing from a grain zeroes its benefit (VERDICT r12 #8)") {
    val dir = java.nio.file.Files.createTempDirectory("designer_sf").toString
    try {
      Seq((1L, 10L, 100L), (1L, 20L, 200L), (2L, 10L, 300L), (2L, 20L, 400L),
          (1L, 10L, 101L), (2L, 20L, 401L))
        .toDF("fk1", "fk2", "m")
        .write.mode("overwrite").parquet(s"$dir/fact")
      Seq((1L, "a"), (2L, "b")).toDF("d1k", "g1")
        .write.mode("overwrite").parquet(s"$dir/d1")
      Seq((10L, "u"), (20L, "v")).toDF("d2k", "g2")
        .write.mode("overwrite").parquet(s"$dir/d2")
      val fact = spark.read.parquet(s"$dir/fact")
      val d1 = spark.read.parquet(s"$dir/d1")
      val d2 = spark.read.parquet(s"$dir/d2")
      val dims = Seq(d1 -> Seq("fk1" -> "d1k"), d2 -> Seq("fk2" -> "d2k"))
      def joined = fact.join(d1, col("fk1") === col("d1k"))
        .join(d2, col("fk2") === col("d2k"))
      RollupRewrite.enable(spark)
      RollupRewrite.startWorkloadCapture()
      // the ONLY captured star query groups by g1 but FILTERS on g2 —
      // the bare (g1) grain cannot serve it (the conjunct rewriter
      // requires every filter column carried), so its benefit is zero
      // and even a k=1 design must pick the (g1, g2) grain
      joined.filter(col("g2") === "u").groupBy("g1")
        .agg(sum("m").as("s")).queryExecution.optimizedPlan
      val sides = Set((scanPaths(d1), Set("fk1" -> "d1k")),
        (scanPaths(d2), Set("fk2" -> "d2k")))
      val obs = RollupRewrite.capturedEntries(scanPaths(fact), sides)
      assert(obs.exists(e => e.servable && e.filterCols == Set("g2")),
        s"the star filter column must be captured: $obs")
      RollupRewrite.stopWorkloadCapture()
      val specs = SummaryDesigner.design(fact, dims, k = 1)
      assert(specs.map(_.grainCols.toSet) == Seq(Set("g1", "g2")),
        s"the filter column must force the (g1, g2) grain at k=1: $specs")
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.resetWorkloadCapture()
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("cross-tier design handles EXPRESSION grains: a month() join query designs AJI-only and serves (r13)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val dir = java.nio.file.Files.createTempDirectory("designer_xe").toString
    try {
      Seq((1L, "2024-01-05", 10L), (1L, "2024-01-25", 20L),
          (2L, "2024-02-05", 30L), (2L, "2024-02-25", 40L),
          (1L, "2024-02-15", 11L), (2L, "2024-01-15", 31L))
        .toDF("k", "ds", "m")
        .select(col("k"), to_date(col("ds")).as("d"), col("m"))
        .write.mode("overwrite").parquet(s"$dir/fact")
      Seq((1L, "s1"), (2L, "s2")).toDF("dk", "seg")
        .write.mode("overwrite").parquet(s"$dir/dim")
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim")
      val keys = Seq("k" -> "dk")
      def wP = fact.groupBy("k").agg(sum("m").as("s"))
      def wJ = fact.join(dim, col("k") === col("dk"))
        .groupBy(month(col("d")).as("om"), col("seg"))
        .agg(count(lit(1)).as("n"), sum("m").as("s"))
      RollupRewrite.enable(spark)
      RollupRewrite.startWorkloadCapture()
      wP.queryExecution.optimizedPlan
      wJ.queryExecution.optimizedPlan
      RollupRewrite.stopWorkloadCapture()
      // the expression grain makes wJ non-pairable — the cross-tier
      // greedy must serve it through an AJI candidate, never a pair
      val cross = SummaryDesigner.designCrossTier(Seq(fact, dim),
        Seq((fact, dim, keys)), Nil, maxRows = 1000)
      assert(cross.joined.size == 1, s"expected one designed AJI: $cross")
      val sp = cross.joined.head._2
      assert(sp.grainCols.exists(_.startsWith("__g")) &&
          sp.grainCols.contains("seg") &&
          sp.grainExprSql.values.exists(_.contains("month(")),
        s"the AJI must synthesize the month() grain: $sp")
      val (_, jOuts, _) = SummaryDesigner.buildAndRegisterCrossTier(
        spark, Seq(fact, dim), Seq((fact, dim, keys)), Nil, cross,
        s"$dir/designed")
      assert(scanPaths(wJ) == Set(s"file:${jOuts.head}"),
        s"the expr-grain join query must ride the designed AJI: ${scanPaths(wJ)}")
      assert(wJ.queryExecution.optimizedPlan.collect {
        case j: LJoin => j }.isEmpty, "the designed serve must be join-free")
      assert(wJ.collect().map(r =>
          (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet ==
        Set((1, "s1", 2L, 30L), (2, "s1", 1L, 11L),
            (2, "s2", 2L, 70L), (1, "s2", 1L, 31L)))
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.resetWorkloadCapture()
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("cross-tier design under ONE budget beats the per-tier union: the pair absorbs the join query (VERDICT r12 #2)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val dir = java.nio.file.Files.createTempDirectory("designer_x").toString
    try {
      Seq((1L, 10L), (1L, 20L), (2L, 5L), (2L, 7L),
          (1L, 10L), (1L, 20L), (2L, 5L), (2L, 7L))
        .toDF("k", "m").write.mode("overwrite").parquet(s"$dir/fact")
      Seq((1L, "s1"), (2L, "s1"), (3L, "s2"), (4L, "s2"),
          (1L, "s1"), (2L, "s1"), (3L, "s2"), (4L, "s2"))
        .toDF("dk", "g").write.mode("overwrite").parquet(s"$dir/dim")
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim")
      val keys = Seq("k" -> "dk")
      def wP = fact.groupBy("k").agg(sum("m").as("s"))
      def wD = dim.groupBy("dk", "g").agg(count(lit(1)).as("n"))
      def wJ = fact.join(dim, col("k") === col("dk"))
        .groupBy("g").agg(sum("m").as("s"))
      RollupRewrite.enable(spark)
      RollupRewrite.startWorkloadCapture()
      wP.queryExecution.optimizedPlan
      wD.queryExecution.optimizedPlan
      wJ.queryExecution.optimizedPlan
      RollupRewrite.stopWorkloadCapture()
      // budget 6: the pair (fsum 2 rows + dsum 4 rows) fits exactly and
      // absorbs wJ through navigation; the 1-row AJI (only s1 joins) no
      // longer fits — the per-tier designers, each given the SAME
      // budget, would build it again (2+4+1 = 7 rows, same coverage)
      val cross = SummaryDesigner.designCrossTier(Seq(fact, dim),
        Seq((fact, dim, keys)), Nil, maxRows = 6)
      assert(cross.joined.isEmpty && cross.star.isEmpty,
        s"the pair must absorb the join query within budget 6: $cross")
      assert(cross.plain.map(_._2.grainCols.toSet).toSet ==
          Set(Set("k"), Set("dk", "g")), s"wrong plain grains: $cross")
      assert(cross.plain.find(_._2.grainCols == Seq("k")).get
          ._2.measures == Seq("m"),
        s"the fact summary must carry wP+wJ's measure: $cross")
      // per-tier union at the same budget: 2 + 4 + 1 = 7 rows
      val pf = SummaryDesigner.designUnderBudget(fact, 6)
      val pd = SummaryDesigner.designUnderBudget(dim, 6)
      val pj = SummaryDesigner.design(fact, Seq(dim -> keys), k = 1)
      assert(pf.map(_.grainCols) == Seq(Seq("k")) &&
          pd.map(_.grainCols.toSet) == Seq(Set("dk", "g")) &&
          pj.map(_.grainCols) == Seq(Seq("g")),
        s"per-tier baseline drifted: $pf / $pd / $pj")
      val crossRows = 2L + 4L
      val perTierRows = 2L + 4L + 1L
      assert(crossRows < perTierRows,
        "cross-tier must cover the same workload in fewer rows")
      // and the cross design actually SERVES all three: wJ through
      // two-summary navigation with zero base scans
      val (pOuts, jOuts, _) = SummaryDesigner.buildAndRegisterCrossTier(
        spark, Seq(fact, dim), Seq((fact, dim, keys)), Nil, cross,
        s"$dir/designed")
      assert(jOuts.isEmpty)
      val pSet = pOuts.map(p => s"file:$p").toSet
      assert(scanPaths(wP).subsetOf(pSet), s"wP not served: ${scanPaths(wP)}")
      assert(scanPaths(wD).subsetOf(pSet), s"wD not served: ${scanPaths(wD)}")
      val jScans = scanPaths(wJ)
      assert(jScans == pSet && jScans.size == 2,
        s"wJ must navigate BOTH plain summaries, zero base scans: $jScans")
      RollupRewrite.disable(spark)
      val want = wJ.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      RollupRewrite.enable(spark)
      assert(wJ.collect().map(r => (r.getString(0), r.getLong(1))).toSet
        == want && want.nonEmpty)
      // determinism: the same capture designs the same cross-tier set,
      // and the approx (cube-free) cardinality mode coincides — the
      // unfilled KMV sketches ARE exact counts at this size
      assert(SummaryDesigner.designCrossTier(Seq(fact, dim),
        Seq((fact, dim, keys)), Nil, maxRows = 6) == cross)
      assert(SummaryDesigner.designCrossTier(Seq(fact, dim),
        Seq((fact, dim, keys)), Nil, maxRows = 6,
        sketchCardK = Some(256)) == cross)
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.resetWorkloadCapture()
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("cross-tier design absorbs STAR queries into plain-summary tuples (star navigation, r13)") {
    val dir = java.nio.file.Files.createTempDirectory("designer_xs").toString
    try {
      Seq((1L, 10L, 3L), (1L, 20L, 5L), (2L, 10L, 7L), (2L, 20L, 9L),
          (1L, 10L, 3L), (1L, 20L, 5L), (2L, 10L, 7L), (2L, 20L, 9L))
        .toDF("k1", "k2", "m").write.mode("overwrite").parquet(s"$dir/fact")
      Seq((1L, "a"), (2L, "b"), (1L, "a"), (2L, "b"))
        .toDF("d1k", "g1").write.mode("overwrite").parquet(s"$dir/d1")
      Seq((10L, "x"), (20L, "y"), (10L, "x"), (20L, "y"))
        .toDF("d2k", "g2").write.mode("overwrite").parquet(s"$dir/d2")
      val fact = spark.read.parquet(s"$dir/fact")
      val d1 = spark.read.parquet(s"$dir/d1")
      val d2 = spark.read.parquet(s"$dir/d2")
      val sdims = Seq(d1 -> Seq("k1" -> "d1k"), d2 -> Seq("k2" -> "d2k"))
      def wF = fact.groupBy("k1", "k2").agg(sum("m").as("s"))
      def wD1 = d1.groupBy("d1k", "g1").agg(count(lit(1)).as("n"))
      def wD2 = d2.groupBy("d2k").agg(count(lit(1)).as("n"))
      def wS = fact.join(d1, col("k1") === col("d1k"))
        .join(d2, col("k2") === col("d2k"))
        .groupBy("g1").agg(sum("m").as("s"))
      RollupRewrite.enable(spark)
      RollupRewrite.startWorkloadCapture()
      wF.queryExecution.optimizedPlan
      wD1.queryExecution.optimizedPlan
      wD2.queryExecution.optimizedPlan
      wS.queryExecution.optimizedPlan
      RollupRewrite.stopWorkloadCapture()
      // budget 8 = fsum(4) + d1sum(2) + d2sum(2): the tuple absorbs the
      // star query into the very summaries the plain queries need; the
      // 2-row star summary no longer fits
      val cross = SummaryDesigner.designCrossTier(Seq(fact, d1, d2), Nil,
        Seq(fact -> sdims), maxRows = 8)
      assert(cross.star.isEmpty && cross.joined.isEmpty,
        s"the tuple must absorb the star query within budget 8: $cross")
      assert(cross.plain.map(_._2.grainCols.toSet).toSet ==
          Set(Set("k1", "k2"), Set("d1k", "g1"), Set("d2k")),
        s"wrong plain grains: $cross")
      assert(cross.plain.find(_._2.grainCols.toSet == Set("k1", "k2")).get
          ._2.measures == Seq("m"),
        s"the center summary must carry the star query's measure: $cross")
      val (pOuts, _, sOuts) = SummaryDesigner.buildAndRegisterCrossTier(
        spark, Seq(fact, d1, d2), Nil, Seq(fact -> sdims), cross,
        s"$dir/designed")
      assert(sOuts.isEmpty)
      val pSet = pOuts.map(p => s"file:$p").toSet
      val sScans = scanPaths(wS)
      assert(sScans == pSet && sScans.size == 3,
        s"the star query must navigate the THREE plain summaries: $sScans")
      RollupRewrite.disable(spark)
      val want = wS.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      RollupRewrite.enable(spark)
      assert(wS.collect().map(r => (r.getString(0), r.getLong(1))).toSet
        == want && want.nonEmpty)
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.resetWorkloadCapture()
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("designStar + buildAndRegisterStar: captured star workload re-serves from designed star summaries") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val dir = java.nio.file.Files.createTempDirectory("designer_s").toString
    try {
      Seq((1L, 10L, "x", 100L), (1L, 20L, "x", 200L),
          (2L, 10L, "y", 300L), (2L, 20L, "y", 400L),
          (1L, 10L, "x", 101L), (2L, 20L, "y", 401L))
        .toDF("fk1", "fk2", "st", "m")
        .write.mode("overwrite").parquet(s"$dir/fact")
      Seq((1L, "a"), (2L, "b")).toDF("d1k", "g1")
        .write.mode("overwrite").parquet(s"$dir/d1")
      Seq((10L, "u"), (20L, "v")).toDF("d2k", "g2")
        .write.mode("overwrite").parquet(s"$dir/d2")
      val fact = spark.read.parquet(s"$dir/fact")
      val d1 = spark.read.parquet(s"$dir/d1")
      val d2 = spark.read.parquet(s"$dir/d2")
      val dims = Seq(d1 -> Seq("fk1" -> "d1k"), d2 -> Seq("fk2" -> "d2k"))
      def joined = fact.join(d1, col("fk1") === col("d1k"))
        .join(d2, col("fk2") === col("d2k"))
      def wA = joined.groupBy("g1").agg(count(lit(1)).as("n"), sum("m").as("s"))
      def wB = joined.filter(col("g2") === "u").groupBy("g1")
        .agg(min("m").as("mn"))
      RollupRewrite.enable(spark)
      RollupRewrite.startWorkloadCapture()
      wA.queryExecution.optimizedPlan
      wB.queryExecution.optimizedPlan
      val sides = Set((scanPaths(d1), Set("fk1" -> "d1k")),
        (scanPaths(d2), Set("fk2" -> "d2k")))
      val obs = RollupRewrite.capturedEntries(scanPaths(fact), sides)
      assert(obs.count(_.servable) >= 2, s"star capture missing: $obs")
      assert(obs.forall(e => !e.filterCols.exists(
          Set("fk1", "fk2", "d1k", "d2k"))),
        s"key isnotnulls leaked into star filter requirements: $obs")
      RollupRewrite.stopWorkloadCapture()
      val specs = SummaryDesigner.design(fact, dims, k = 2)
      assert(specs.size == 2 &&
          specs.exists(_.grainCols == Seq("g1")) &&
          specs.exists(_.grainCols.toSet == Set("g1", "g2")),
        s"expected the (g1) + (g1, g2) star design: $specs")
      // the approx (cube-free) cardinality mode designs the same star
      // lattice — unfilled KMV sketches are exact at this size
      assert(SummaryDesigner.design(fact, dims, k = 2,
          sketchCardK = Some(256)) == specs,
        "approx star design must match the exact one")
      val outs = SummaryDesigner.buildAndRegister(
        spark, fact, dims, specs, s"$dir/designed")
      val coarseOut = outs(specs.indexWhere(_.grainCols == Seq("g1")))
      val fineOut = outs(specs.indexWhere(_.grainCols.size == 2))
      def onlyOn(df: DataFrame, path: String): Unit = {
        assert(scanPaths(df) == Set(s"file:$path"),
          s"leg must ride its designed star summary: ${scanPaths(df)} vs $path")
        assert(df.queryExecution.optimizedPlan.collect {
          case j: LJoin => j }.isEmpty, "designed star serve must be join-free")
      }
      onlyOn(wA, coarseOut)
      onlyOn(wB, fineOut)
      assert(wA.collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
        Set(("a", 3L, 401L), ("b", 3L, 1101L)))
      assert(wB.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
        Set(("a", 100L), ("b", 300L)))
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.resetWorkloadCapture()
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("EXPRESSION grains pair: a month() join workload designs a plain-pair under a tight budget (r14, VERDICT r13 #6)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val dir = java.nio.file.Files.createTempDirectory("designer_xp").toString
    try {
      // 30 fact rows over 3 months (fact mask {month(d), k} card 3);
      // 10 dim rows, 5 distinct (dk, seg) each duplicated ×2 (dim mask
      // card 5, and the duplication exercises the pair's __cnt_rows
      // multiplicity). The AJI grain (month, seg) has card 15 — OVER
      // the budget of 8 — so the pair is the only admissible serve.
      (1 to 3).flatMap(mo => (1 to 10).map(i =>
          (1L, f"2024-0$mo-${5 + i}%02d", mo.toLong)))
        .toDF("k", "ds", "m")
        .select(col("k"), to_date(col("ds")).as("d"), col("m"))
        .write.mode("overwrite").parquet(s"$dir/fact")
      (1 to 5).flatMap(sg => Seq((1L, s"s$sg"), (1L, s"s$sg")))
        .toDF("dk", "seg").write.mode("overwrite").parquet(s"$dir/dim")
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim")
      val keys = Seq("k" -> "dk")
      def wJ = fact.join(dim, col("k") === col("dk"))
        .groupBy(month(col("d")).as("om"), col("seg"))
        .agg(count(lit(1)).as("n"), sum("m").as("s"))
      RollupRewrite.enable(spark)
      RollupRewrite.startWorkloadCapture()
      wJ.queryExecution.optimizedPlan
      RollupRewrite.stopWorkloadCapture()
      val cross = SummaryDesigner.designCrossTier(Seq(fact, dim),
        Seq((fact, dim, keys)), Nil, maxRows = 8)
      assert(cross.joined.isEmpty && cross.plain.size == 2,
        s"the month() workload must design a plain PAIR under budget 8: $cross")
      val factSpec = cross.plain.find(_._1 == 0).get._2
      assert(factSpec.grainCols.exists(_.startsWith("__g")) &&
          factSpec.grainExprSql.values.exists(_.contains("month(")) &&
          factSpec.grainCols.contains("k"),
        s"the fact-side summary must synthesize the month() grain + key: $factSpec")
      val (pOuts, jOuts, _) = SummaryDesigner.buildAndRegisterCrossTier(
        spark, Seq(fact, dim), Seq((fact, dim, keys)), Nil, cross,
        s"$dir/designed")
      assert(jOuts.isEmpty)
      assert(scanPaths(wJ) == pOuts.map(p => s"file:$p").toSet,
        s"the expr-grain join query must navigate the pair: ${scanPaths(wJ)}")
      assert(wJ.collect().map(r =>
          (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet ==
        (for (mo <- 1 to 3; sg <- 1 to 5)
          yield (mo, s"s$sg", 20L, 20L * mo)).toSet,
        "pair-served expr-grain values wrong (multiplicity via __cnt_rows)")
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.resetWorkloadCapture()
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("CAPTURED update events drive the maintenance term: an observed dim append flips the design with no caller-supplied rates (r14)") {
    val dir = java.nio.file.Files.createTempDirectory("designer_cupd").toString
    try {
      Seq((1L, 10L, 3L), (1L, 20L, 5L), (2L, 10L, 7L), (2L, 20L, 9L),
          (1L, 10L, 3L), (1L, 20L, 5L), (2L, 10L, 7L), (2L, 20L, 9L))
        .toDF("k1", "k2", "m").write.mode("overwrite").parquet(s"$dir/fact")
      Seq((1L, "a"), (2L, "b"), (1L, "a"), (2L, "b"))
        .toDF("d1k", "g1").write.mode("overwrite").parquet(s"$dir/d1")
      Seq((10L, "x"), (20L, "y"), (10L, "x"), (20L, "y"))
        .toDF("d2k", "g2").write.mode("overwrite").parquet(s"$dir/d2")
      // dashboards re-read their dirs per run (the realistic pattern —
      // a cached frame's FileIndex would pin the old listing)
      def fact = spark.read.parquet(s"$dir/fact")
      def d1 = spark.read.parquet(s"$dir/d1")
      def d2 = spark.read.parquet(s"$dir/d2")
      def sdims = Seq(d1 -> Seq("k1" -> "d1k"), d2 -> Seq("k2" -> "d2k"))
      def wS = fact.join(d1, col("k1") === col("d1k"))
        .join(d2, col("k2") === col("d2k"))
        .groupBy("g1").agg(sum("m").as("s"))
      RollupRewrite.enable(spark)
      RollupRewrite.startWorkloadCapture()
      wS.queryExecution.optimizedPlan // observes the initial states
      // a d1 append lands mid-window; the next dashboard run observes
      // ONE transition — and re-running on the same state adds none
      Seq((1L, "a")).toDF("d1k", "g1")
        .coalesce(1).write.mode("append").parquet(s"$dir/d1")
      wS.queryExecution.optimizedPlan
      wS.queryExecution.optimizedPlan
      RollupRewrite.stopWorkloadCapture()
      val d1Paths = RollupRewrite.scanRootPaths(d1)
      assert(RollupRewrite.capturedUpdateEvents(d1Paths) == ((1, 0)),
        s"one observed append transition, deduped: " +
          s"${RollupRewrite.capturedUpdateEvents(d1Paths)}")
      // captured events alone flip the star to the tuple...
      val auto = SummaryDesigner.designCrossTier(Seq(fact, d1, d2), Nil,
        Seq(fact -> sdims), maxRows = 100)
      assert(auto.star.isEmpty && auto.plain.size == 3,
        s"the captured dim append must flip the star to the tuple: $auto")
      // ...and an explicit caller rate OVERRIDES the captured one
      val overridden = SummaryDesigner.designCrossTier(Seq(fact, d1, d2),
        Nil, Seq(fact -> sdims), maxRows = 100,
        updatesPerPeriod = Seq(d1 -> 0.0))
      assert(overridden.star.size == 1 && overridden.plain.isEmpty,
        s"an explicit zero rate must override the captured events: $overridden")
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.resetWorkloadCapture()
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("cross-tier design is MAINTENANCE-aware: a hot dim flips the star to the tuple; fact appends never do (r14, VERDICT r13 #2)") {
    val dir = java.nio.file.Files.createTempDirectory("designer_maint").toString
    try {
      Seq((1L, 10L, 3L), (1L, 20L, 5L), (2L, 10L, 7L), (2L, 20L, 9L),
          (1L, 10L, 3L), (1L, 20L, 5L), (2L, 10L, 7L), (2L, 20L, 9L))
        .toDF("k1", "k2", "m").write.mode("overwrite").parquet(s"$dir/fact")
      Seq((1L, "a"), (2L, "b"), (1L, "a"), (2L, "b"))
        .toDF("d1k", "g1").write.mode("overwrite").parquet(s"$dir/d1")
      Seq((10L, "x"), (20L, "y"), (10L, "x"), (20L, "y"))
        .toDF("d2k", "g2").write.mode("overwrite").parquet(s"$dir/d2")
      val fact = spark.read.parquet(s"$dir/fact")
      val d1 = spark.read.parquet(s"$dir/d1")
      val d2 = spark.read.parquet(s"$dir/d2")
      val sdims = Seq(d1 -> Seq("k1" -> "d1k"), d2 -> Seq("k2" -> "d2k"))
      def wS = fact.join(d1, col("k1") === col("d1k"))
        .join(d2, col("k2") === col("d2k"))
        .groupBy("g1").agg(sum("m").as("s"))
      RollupRewrite.enable(spark)
      RollupRewrite.startWorkloadCapture()
      wS.queryExecution.optimizedPlan
      RollupRewrite.stopWorkloadCapture()
      def design(upd: Seq[(DataFrame, Double)]) =
        SummaryDesigner.designCrossTier(Seq(fact, d1, d2), Nil,
          Seq(fact -> sdims), maxRows = 100, updatesPerPeriod = upd)
      // COLD dims: the 2-row star summary wins on pure query benefit
      // (the 8-row navigation tuple costs 4x the serve)
      val cold = design(Nil)
      assert(cold.star.size == 1 && cold.plain.isEmpty && cold.joined.isEmpty,
        s"cold dims must keep the star: $cold")
      // HOT dim d1 (1 append per period): every append costs the star a
      // registered-fact ⋈ other-dims scan (8 rows), draining its edge
      // over the tuple — the design must flip to the 3 plain summaries,
      // whose maintenance is delta-sized
      val hot = design(Seq(d1 -> 1.0))
      assert(hot.star.isEmpty && hot.joined.isEmpty && hot.plain.size == 3,
        s"a hot dim must flip the star to the navigation tuple: $hot")
      // HOT FACT: fact appends fold delta-sized on EVERY tier — they
      // must never enter the cost and never flip the design
      val factHot = design(Seq(fact -> 100.0))
      assert(factHot.star.size == 1 && factHot.plain.isEmpty,
        s"fact appends are delta-sized on every tier — design must not flip: $factHot")
    } finally {
      RollupRewrite.disable(spark)
      RollupRewrite.resetWorkloadCapture()
      RollupRewrite.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
