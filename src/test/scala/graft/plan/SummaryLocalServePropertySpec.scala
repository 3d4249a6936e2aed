package graft.plan

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.curate.Curate.portableHash60
import graft.functions.expressions.HistAgg.histSketch
import graft.functions.expressions.KmvDistinctAgg.kmvSketch
import graft.plan.{RollupRewrite => R, RollupVersioned => RV}
import graft.sources.{LocalServe, Pq}

/** The serving regimes of a summary hit agree: over plain, joined and
  * star [[RollupVersioned]] summaries driven through random append,
  * delete (trash), compact and vacuum sequences, every random eligible
  * aggregate (counts, sums, min and max, avg, grain filters, exact
  * distinct counts over grain columns, histogram and KMV merges) served
  * from a summary returns the rows of the same query with the rewrite
  * disabled (double sums within reassociation tolerance), runs zero
  * Spark jobs, and advances the local-serve counter. */
object SummaryLocalServePropertySpec extends Properties("SummaryLocalServe") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5).withWorkers(1)

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val SketchK = 16
  private val PayTypes = 3
  private val Accounts = 6

  private sealed trait Op
  private final case class Append(rows: Seq[(Long, Int, Option[Long], Double)]) extends Op
  private case object Delete extends Op
  private case object Compact extends Op
  private case object Vacuum extends Op

  private val rowGen: Gen[(Long, Int, Option[Long], Double)] = for {
    acc <- Gen.choose(0L, Accounts - 1L)
    pt <- Gen.choose(1, PayTypes)
    amount <- Gen.frequency(5 -> Gen.choose(-20L, 300L).map(Some(_)), 1 -> Gen.const(None))
    price <- Gen.choose(-50.0, 50.0)
  } yield (acc, pt, amount, price)

  private val dayGen: Gen[Seq[(Long, Int, Option[Long], Double)]] =
    Gen.choose(1, 6).flatMap(Gen.listOfN(_, rowGen))

  private val opGen: Gen[Op] = Gen.frequency(
    3 -> dayGen.map(Append(_)), 2 -> Gen.const(Delete),
    2 -> Gen.const(Compact), 1 -> Gen.const(Vacuum))

  /** One dashboard aggregate over a summary's shape: the grains it
    * groups by, an optional grain filter, and its aggregate columns. */
  private final case class Query(shape: String, groups: Seq[String],
                                 filter: Option[Column], aggs: Seq[Column])

  private val grainsOf = Map(
    "plain" -> Seq("day", "pt"), "joined" -> Seq("day", "pay_nm"), "star" -> Seq("region", "pay_nm"))
  private val measuresOf = Map(
    "plain" -> Seq("amount", "price"), "joined" -> Seq("amount", "price"), "star" -> Seq("amount"))

  private def queryGen: Gen[Query] = for {
    shape <- Gen.oneOf("plain", "joined", "star")
    grains = grainsOf(shape)
    groups <- Gen.someOf(grains).map(_.toSeq)
    filterOn <- Gen.option(Gen.oneOf(grains))
    bound <- Gen.choose(0, 4)
    n <- Gen.choose(1, 3)
    aggs <- Gen.listOfN(n, aggGen(shape, grains))
  } yield Query(shape, groups, filterOn.map {
      case g @ ("day" | "pt") => col(g) >= lit(bound)
      case g => col(g) =!= lit(s"${g.take(1)}$bound")
    }, aggs.zipWithIndex.map { case (a, i) => a.as(s"a$i") })

  private def aggGen(shape: String, grains: Seq[String]): Gen[Column] = {
    val m = Gen.oneOf(measuresOf(shape))
    val common: Seq[(Int, Gen[Column])] = Seq(
      2 -> Gen.const(count(lit(1))),
      1 -> m.map(c => count(col(c))),
      3 -> m.map(c => sum(col(c))),
      2 -> m.map(c => min(col(c))),
      2 -> m.map(c => max(col(c))),
      1 -> m.map(c => avg(col(c))),
      1 -> Gen.atLeastOne(grains).map(gs => countDistinct(col(gs.head), gs.tail.map(col).toSeq: _*)))
    val sketches: Seq[(Int, Gen[Column])] =
      if (shape != "plain") Nil
      else Seq(1 -> Gen.const(kmvSketch(portableHash60(col("acc")), SketchK)),
        1 -> Gen.const(histSketch(col("amount"))))
    Gen.frequency(common ++ sketches: _*)
  }

  private final case class Trial(days: Seq[Seq[(Long, Int, Option[Long], Double)]],
                                 ops: Seq[Op], queries: Seq[Query])

  private val trialGen: Gen[Trial] = for {
    d <- Gen.choose(2, 4)
    days <- Gen.listOfN(d, dayGen)
    o <- Gen.choose(2, 4)
    ops <- Gen.listOfN(o, opGen)
    q <- Gen.choose(3, 5)
    queries <- Gen.listOfN(q, queryGen)
  } yield Trial(days, ops, queries)

  /** Rows as comparable values: doubles within reassociation tolerance. */
  private def same(a: Seq[Row], b: Seq[Row]): Boolean = {
    def key(r: Row): String = r.toSeq.map {
      case _: Double => ""
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")
    val (sa, sb) = (a.sortBy(key), b.sortBy(key))
    sa.size == sb.size && sa.zip(sb).forall { case (x, y) =>
      key(x) == key(y) && x.toSeq.zip(y.toSeq).forall {
        case (p: Double, q: Double) =>
          p == q || math.abs(p - q) <= 1e-9 * math.max(1.0, math.max(math.abs(p), math.abs(q)))
        case _ => true
      }
    }
  }

  property("local summary serve == rewrite-disabled query, zero jobs, counted") =
    Prop.forAllNoShrink(trialGen) { t =>
      import spark.implicits._
      val root = java.nio.file.Files.createTempDirectory("summary_local_prop").toString
      val base = s"$root/base"
      val trash = s"$root/trash"
      val failures = scala.collection.mutable.ArrayBuffer.empty[String]
      var day = 0
      def writeDay(rows: Seq[(Long, Int, Option[Long], Double)]): Unit = {
        rows.map { case (a, p, m, x) => (day, a, p, m, x) }.toDF("day", "acc", "pt", "amount", "price")
          .coalesce(1).write.mode("append").parquet(base)
        day += 1
      }
      def baseFiles: Seq[String] =
        Option(new java.io.File(base).listFiles()).toSeq.flatten
          .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
      (0 until Accounts).map(a => (a.toLong, s"r${a % 3}")).toDF("a_id", "region")
        .coalesce(1).write.parquet(s"$root/account")
      (1 to PayTypes).map(p => (p, s"p$p")).toDF("pt_code", "pay_nm")
        .coalesce(1).write.parquet(s"$root/pay")
      def fact = Pq.read(spark, base)
      def pay = Pq.read(spark, s"$root/pay")
      def dims = Seq(Pq.read(spark, s"$root/account") -> Seq("acc" -> "a_id"),
        pay -> Seq("pt" -> "pt_code"))
      val (rootP, rootJ, rootS) = (s"$root/sp", s"$root/sj", s"$root/ss")
      var frames = Map.empty[String, () => DataFrame]
      def registerLatest(): Unit = {
        R.clear()
        val p = RV.registerVersion(spark, rootP)
        val (jf, jd) = RV.registerVersionJoined(spark, rootJ)
        val (sf, sd) = RV.registerVersionStar(spark, rootS)
        frames = Map(
          "plain" -> (() => p),
          "joined" -> (() => jf.join(jd, jf("pt") === jd("pt_code"))),
          "star" -> (() => sd.foldLeft(sf) { case (acc, (d, keys)) =>
            acc.join(d, keys.map { case (fk, dk) => sf(fk) === d(dk) }.reduce(_ && _)) }))
      }
      def build(q: Query): DataFrame = {
        val src = frames(q.shape)()
        val filtered = q.filter.fold(src)(src.filter)
        filtered.groupBy(q.groups.map(col): _*).agg(q.aggs.head, q.aggs.tail: _*)
      }
      def check(step: String): Unit = {
        val group = s"summary-local-prop-${System.nanoTime()}"
        val jobs = new java.util.concurrent.atomic.AtomicInteger
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
              jobs.incrementAndGet()
        }
        spark.sparkContext.addSparkListener(listener)
        try t.queries.zipWithIndex.foreach { case (q, i) =>
          val served = build(q)
          val scans = R.scanRootPaths(served)
          if (scans.isEmpty || !scans.forall(_.contains("/pool/b")))
            failures += s"$step/q$i ${q.shape}: not served from a summary ($scans)"
          val before = LocalServe.counters("summary").localServes
          spark.sparkContext.setJobGroup(group, "local summary serve")
          val got = try served.collect().toSeq finally spark.sparkContext.clearJobGroup()
          if (LocalServe.counters("summary").localServes != before + 1)
            failures += s"$step/q$i ${q.shape}: the local regime was not taken"
          R.disable(spark)
          val want = try build(q).collect().toSeq finally R.enable(spark)
          if (!same(got, want)) failures += s"$step/q$i $q: local $got != base $want"
        } finally {
          Thread.sleep(500) // the listener bus delivers events asynchronously
          spark.sparkContext.removeSparkListener(listener)
        }
        if (jobs.get != 0) failures += s"$step: local serves ran ${jobs.get} Spark jobs"
      }
      try {
        t.days.foreach(writeDay)
        RV.init(spark, rootP, fact, RV.Layout(grainsOf("plain"), measuresOf("plain"),
          distinctCols = Seq("acc"), sketchK = SketchK, histCols = Seq("amount")))
        RV.initJoined(spark, rootJ, fact, pay, Seq("pt" -> "pt_code"),
          RV.Layout(grainsOf("joined"), measuresOf("joined")))
        RV.initStar(spark, rootS, fact, dims, RV.Layout(grainsOf("star"), measuresOf("star")))
        R.enable(spark)
        registerLatest()
        check("init")
        t.ops.zipWithIndex.foreach { case (op, i) =>
          val refreshed: Seq[Option[Int]] = op match {
            case Append(rows) =>
              writeDay(rows)
              Seq(RV.refreshAppended(spark, rootP, fact),
                RV.refreshAppendedJoined(spark, rootJ, fact, pay),
                RV.refreshAppendedStar(spark, rootS, fact, dims))
            case Delete if baseFiles.size > 1 =>
              R.deleteFiles(spark, baseFiles.take(1), trash)
              Seq(RV.refreshRemoved(spark, rootP, fact, Seq(trash)),
                RV.refreshRemovedJoined(spark, rootJ, fact, pay, Seq(trash)),
                RV.refreshRemovedStar(spark, rootS, fact, dims, Seq(trash)))
            case Compact if baseFiles.size > 2 =>
              val oldest = baseFiles.take(2)
              Pq.read(spark, oldest: _*).coalesce(1).write.mode("append").parquet(base)
              R.deleteFiles(spark, oldest, trash)
              Seq(RV.refreshMixed(spark, rootP, fact, Seq(trash)),
                RV.refreshMixedJoined(spark, rootJ, fact, pay, Seq(trash)),
                RV.refreshMixedStar(spark, rootS, fact, dims, Seq(trash)))
            case _ =>
              Seq(rootP, rootJ, rootS).foreach(RV.vacuum(spark, _, 1))
              Nil
          }
          if (refreshed.exists(_.isEmpty)) failures += s"op$i:$op: a refresh was refused"
          registerLatest()
          check(s"op$i:$op")
        }
      } finally {
        R.disable(spark)
        R.clear()
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      }
      Prop(failures.isEmpty) :| failures.take(3).mkString("\n")
    }
}
