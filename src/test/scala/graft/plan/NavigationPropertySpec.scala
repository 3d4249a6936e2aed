package graft.plan

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

/** Summary navigation agrees EXACTLY with the base join: over random
  * 2- and 3-leaf inner equi-star joins — the fact on the left or the
  * right of its first dim, duplicate dim keys, null measures, an
  * optional filter on the fact side and on a dim, integer measures —
  * with a random subset of the sides carrying a plain registration, the
  * served rows equal the rows of the same query with the rewrite off.
  * When every side is registered, the query reads exactly the side
  * summaries; otherwise it reads exactly the bases. */
object NavigationPropertySpec extends Properties("SummaryNavigation") {

  // each trial writes and reads a handful of tiny parquet tables
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12).withWorkers(1)

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private case class Trial(fact: Seq[(Long, Long, Option[Long])],
                           dims: Seq[Seq[(Long, String)]],
                           factFirst: Boolean, factFilter: Boolean,
                           dimFilter: Boolean, registered: Seq[Boolean])

  private val trialGen: Gen[Trial] = for {
    nDims <- Gen.oneOf(1, 2)
    nFact <- Gen.choose(1, 10)
    fact <- Gen.listOfN(nFact, for {
      k1 <- Gen.choose(1L, 3L)
      k2 <- Gen.choose(1L, 3L)
      m <- Gen.frequency(5 -> Gen.choose(-5L, 20L).map(Some(_)), 1 -> Gen.const(None))
    } yield (k1, k2, m))
    dims <- Gen.listOfN(nDims, Gen.choose(1, 6).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.choose(1L, 4L), Gen.oneOf("a", "b")))))
    factFirst <- Gen.oneOf(true, false)
    factFilter <- Gen.oneOf(true, false)
    dimFilter <- Gen.oneOf(true, false)
    registered <- Gen.listOfN(nDims + 1, Gen.frequency(3 -> true, 1 -> false))
  } yield Trial(fact, dims, factFirst, factFilter, dimFilter, registered)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  property("navigation serves the base rows; summaries-only iff every side is registered") =
    Prop.forAllNoShrink(trialGen) { t =>
      val s = spark
      import s.implicits._
      val dir = java.nio.file.Files.createTempDirectory("nav_prop").toString
      try {
        RollupRewrite.clear()
        t.fact.toDF("k1", "k2", "m").write.parquet(s"$dir/fact")
        t.dims.zipWithIndex.foreach { case (d, i) =>
          d.toDF(s"d${i + 1}k", s"g${i + 1}").write.parquet(s"$dir/d${i + 1}")
        }
        val fact = s.read.parquet(s"$dir/fact")
        val dims = t.dims.indices.map(i => s.read.parquet(s"$dir/d${i + 1}"))
        val sides = (fact, "fact", Seq("k1", "k2"), Seq("m")) +:
          dims.indices.map(i => (dims(i), s"d${i + 1}", Seq(s"d${i + 1}k", s"g${i + 1}"),
            Seq.empty[String]))
        sides.zip(t.registered).foreach { case ((df, name, grain, measures), reg) =>
          if (reg) {
            Rollup.materialize(df, grain, measures).write.parquet(s"$dir/${name}_sum")
            RollupRewrite.register(df, s.read.parquet(s"$dir/${name}_sum"), grain, measures)
          }
        }
        def on(i: Int) = col(s"k${i + 1}") === col(s"d${i + 1}k")
        def q(): DataFrame = {
          val first = if (t.factFirst) fact.join(dims(0), on(0)) else dims(0).join(fact, on(0))
          val joined = dims.indices.tail.foldLeft(first)((acc, i) => acc.join(dims(i), on(i)))
          val f1 = if (t.factFilter) joined.filter(col("k1") >= 2) else joined
          val f2 = if (t.dimFilter) f1.filter(col("g1") === "a") else f1
          f2.groupBy(dims.indices.map(i => col(s"g${i + 1}")): _*)
            .agg(count(lit(1)).as("n"), sum("m").as("s"), min("m").as("mn"),
              max("m").as("mx"), count(col("m")).as("cm"))
        }
        RollupRewrite.enable(spark)
        val served = q()
        val scans = RollupRewrite.scanRootPaths(served)
        val got = rows(served)
        RollupRewrite.disable(spark)
        val want = rows(q())
        val wantScans =
          if (t.registered.forall(identity)) sides.map(sd => s"file:$dir/${sd._2}_sum").toSet
          else sides.map(sd => s"file:$dir/${sd._2}").toSet
        (got == want) :| s"rows: got $got want $want for $t" &&
          (scans == wantScans) :| s"scans: got $scans want $wantScans for $t"
      } finally {
        RollupRewrite.disable(spark)
        RollupRewrite.clear()
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      }
    }
}
