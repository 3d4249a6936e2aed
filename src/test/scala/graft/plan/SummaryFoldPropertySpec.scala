package graft.plan

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.plan.{RollupRewrite => R, RollupVersioned => RV}
import graft.sources.Pq

/** Both summary tiers fold a file diff to the same summary: random
  * append, trash-delete and trash-compact windows on the fact AND on
  * either dim of a star (`fact ⋈ account ⋈ pay`, one or two sides
  * changed per window) keep the plain, joined and star
  * [[RollupVersioned]] summaries (`summaryOf(latest)`), the
  * [[RollupRewrite.refreshStale]] summaries of the same layouts over
  * the same base, and a from-scratch `Rollup.materialize` over the
  * current join equal — integer partials and sketches exactly, double
  * sums within 1e-9 relative. Each versioned entry folds exactly its
  * diff kinds (`refreshAppended*` a pure append, `refreshRemoved*` a
  * single-side delete, `refreshMixed*` appends with removals) and
  * returns None on every other diff, publishing nothing. */
object SummaryFoldPropertySpec extends Properties("SummaryFold") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6).withWorkers(1)

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val SketchK = 16
  private val PayTypes = 3
  private val Accounts = 6

  private type FactRow = (Long, Int, Option[Long], Double)

  /** One side's change in a window; sides are 0 fact, 1 account, 2 pay. */
  private sealed trait Change { def side: Int }
  private final case class AppendFact(rows: Seq[FactRow]) extends Change { val side = 0 }
  private final case class AppendDim(side: Int, rows: Seq[(Int, Int)]) extends Change
  private final case class Delete(side: Int) extends Change
  private final case class Compact(side: Int) extends Change

  private val factRowGen: Gen[FactRow] = for {
    acc <- Gen.choose(0L, Accounts - 1L)
    pt <- Gen.choose(1, PayTypes)
    amount <- Gen.frequency(5 -> Gen.choose(-20L, 300L).map(Some(_)), 1 -> Gen.const(None))
    price <- Gen.choose(-50.0, 50.0)
  } yield (acc, pt, amount, price)

  private val factDayGen: Gen[Seq[FactRow]] = Gen.choose(1, 6).flatMap(Gen.listOfN(_, factRowGen))

  // dim rows (key, name index): keys may repeat an existing key (a join
  // duplicate) or join no fact row
  private def dimRowsGen(side: Int): Gen[Seq[(Int, Int)]] = Gen.choose(1, 3).flatMap(
    Gen.listOfN(_, Gen.zip(
      if (side == 1) Gen.choose(0, Accounts) else Gen.choose(1, PayTypes + 1),
      Gen.choose(0, 2))))

  private def changeGen(side: Int): Gen[Change] = Gen.frequency(
    3 -> (if (side == 0) factDayGen.map(AppendFact(_)) else dimRowsGen(side).map(AppendDim(side, _))),
    2 -> Gen.const(Delete(side)), 2 -> Gen.const(Compact(side)))

  // one side, two sides, or a two-side delete (no entry folds it)
  private val windowGen: Gen[Seq[Change]] = Gen.frequency(
    3 -> Gen.choose(0, 2).flatMap(changeGen).map(Seq(_)),
    1 -> Gen.pick(2, 0 to 2).flatMap(sides =>
      Gen.sequence[Seq[Change], Change](sides.sorted.map(changeGen))),
    1 -> Gen.pick(2, 0 to 2).map(_.sorted.map(Delete(_)).toSeq))

  private final case class Trial(days: Seq[Seq[FactRow]], windows: Seq[Seq[Change]])

  private val trialGen: Gen[Trial] = for {
    d <- Gen.choose(2, 4)
    days <- Gen.listOfN(d, factDayGen)
    w <- Gen.choose(2, 4)
    windows <- Gen.listOfN(w, windowGen)
  } yield Trial(days, windows)

  /** A summary's rows by grain, each a column → value map; arrays
    * (sketches, histograms) compare as sequences. */
  private def rowsOf(df: DataFrame, grains: Seq[String]): Map[Seq[Any], Map[String, Any]] =
    df.collect().map { (r: Row) =>
      val m = df.columns.map(c => c -> (r.getAs[Any](c) match {
        case s: scala.collection.Seq[_] => s.toList
        case v => v
      })).toMap
      grains.map(m) -> m
    }.toMap

  private def same(a: Map[Seq[Any], Map[String, Any]], b: Map[Seq[Any], Map[String, Any]]): Boolean =
    a.keySet == b.keySet && a.forall { case (k, x) =>
      val y = b(k)
      x.keySet == y.keySet && x.forall {
        case (c, p: Double) => y(c) match {
          case q: Double =>
            p == q || math.abs(p - q) <= 1e-9 * math.max(1.0, math.max(math.abs(p), math.abs(q)))
          case _ => false
        }
        case (c, v) => y(c) == v
      }
    }

  private final case class Shape(grains: Seq[String], measures: Seq[String],
                                 distinct: Seq[String], hist: Seq[String], sides: Seq[Int]) {
    def layout = RV.Layout(grains, measures, distinct, SketchK, hist)
  }

  private val shapes = Map(
    "plain" -> Shape(Seq("day", "pt"), Seq("amount", "price"), Seq("acc"), Seq("amount"), Seq(0)),
    "joined" -> Shape(Seq("day", "pay_nm"), Seq("amount", "price"), Nil, Seq("amount"), Seq(0, 2)),
    "star" -> Shape(Seq("region", "pay_nm"), Seq("amount"), Seq("acc"), Nil, Seq(0, 1, 2)))

  property("versioned fold == refreshStale fold == rebuild; entries refuse other diff kinds") =
    Prop.forAllNoShrink(trialGen) { t =>
      import spark.implicits._
      val root = java.nio.file.Files.createTempDirectory("summary_fold_prop").toString
      val dirs = Seq(s"$root/fact", s"$root/account", s"$root/pay")
      val trash = s"$root/trash"
      val failures = scala.collection.mutable.ArrayBuffer.empty[String]
      var day = 0
      def write(side: Int, df: DataFrame): Unit = df.coalesce(1).write.mode("append").parquet(dirs(side))
      def writeFact(rows: Seq[FactRow]): Unit = {
        write(0, rows.map { case (a, p, m, x) => (day, a, p, m, x) }.toDF("day", "acc", "pt", "amount", "price"))
        day += 1
      }
      def writeDim(side: Int, rows: Seq[(Int, Int)]): Unit =
        if (side == 1) write(1, rows.map { case (k, r) => (k.toLong, s"r$r") }.toDF("a_id", "region"))
        else write(2, rows.map { case (k, p) => (k, s"p$p") }.toDF("pt_code", "pay_nm"))
      def filesOf(side: Int): Seq[String] =
        Option(new java.io.File(dirs(side)).listFiles()).toSeq.flatten
          .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
      def frame(side: Int) = Pq.read(spark, dirs(side))
      val keys = Seq(Seq("acc" -> "a_id"), Seq("pt" -> "pt_code"))
      def sidesOf(s: Shape): Seq[(DataFrame, Seq[(String, String)])] =
        s.sides.tail.map(i => frame(i) -> keys(i - 1))
      def rebuild(s: Shape): DataFrame = Rollup.materialize(Rollup.starJoin(frame(0), sidesOf(s)),
        s.grains, s.measures, s.distinct, SketchK, s.hist)
      var roots = Map.empty[String, String]
      def initVersioned(name: String): Unit = {
        val s = shapes(name)
        val r = s"$root/v_${name}_${System.nanoTime()}"
        roots += name -> r
        s.sides.size match {
          case 1 => RV.init(spark, r, frame(0), s.layout)
          case 2 => RV.initJoined(spark, r, frame(0), frame(2), keys(1), s.layout)
          case _ => RV.initStar(spark, r, frame(0), sidesOf(s), s.layout)
        }
      }
      def entries(name: String): Seq[(String, () => Option[Int])] = {
        val r = roots(name)
        val (f, ts) = (frame(0), Seq(trash))
        shapes(name).sides.size match {
          case 1 => Seq("appended" -> (() => RV.refreshAppended(spark, r, f)),
            "removed" -> (() => RV.refreshRemoved(spark, r, f, ts)),
            "mixed" -> (() => RV.refreshMixed(spark, r, f, ts)))
          case 2 => Seq("appended" -> (() => RV.refreshAppendedJoined(spark, r, f, frame(2))),
            "removed" -> (() => RV.refreshRemovedJoined(spark, r, f, frame(2), ts)),
            "mixed" -> (() => RV.refreshMixedJoined(spark, r, f, frame(2), ts)))
          case _ => Seq("appended" -> (() => RV.refreshAppendedStar(spark, r, f, sidesOf(shapes(name)))),
            "removed" -> (() => RV.refreshRemovedStar(spark, r, f, sidesOf(shapes(name)), ts)),
            "mixed" -> (() => RV.refreshMixedStar(spark, r, f, sidesOf(shapes(name)), ts)))
        }
      }
      var unversioned = Map.empty[String, String]
      def check(step: String): Unit = shapes.foreach { case (name, s) =>
        val want = rowsOf(rebuild(s), s.grains)
        val versioned = rowsOf(RV.summaryOf(spark, roots(name), None), s.grains)
        val stale = rowsOf(Pq.read(spark, unversioned(name)), s.grains)
        if (!same(versioned, want)) failures += s"$step $name: versioned $versioned != rebuild $want"
        if (!same(stale, want)) failures += s"$step $name: refreshStale $stale != rebuild $want"
      }
      try {
        t.days.foreach(writeFact)
        (0 until Accounts).map(a => (a, a % 3)).partition(_._1 % 2 == 0) match {
          case (x, y) => writeDim(1, x); writeDim(1, y)
        }
        writeDim(2, Seq(1 -> 1, 2 -> 2)); writeDim(2, Seq(3 -> 3 % 3))
        shapes.foreach { case (name, s) =>
          initVersioned(name)
          val out = s"$root/u_$name"
          rebuild(s).write.parquet(out)
          unversioned += name -> out
          R.registerSides(frame(0), sidesOf(s), Pq.read(spark, out), s.grains, s.measures,
            s.distinct, SketchK, s.hist, Map.empty)
        }
        check("init")
        t.windows.zipWithIndex.foreach { case (window, w) =>
          val step = s"w$w:${window.mkString(",")}"
          // apply the window; a delete or compaction keeps at least one file per side
          val changed = window.flatMap {
            case AppendFact(rows) => writeFact(rows); Some(0 -> "a")
            case AppendDim(side, rows) => writeDim(side, rows); Some(side -> "a")
            case Delete(side) if filesOf(side).size > 1 =>
              R.deleteFiles(spark, filesOf(side).take(1), trash); Some(side -> "r")
            case Compact(side) if filesOf(side).size > 1 =>
              val oldest = filesOf(side).take(2)
              write(side, Pq.read(spark, oldest: _*))
              R.deleteFiles(spark, oldest, trash); Some(side -> "ar")
            case _ => None
          }
          shapes.foreach { case (name, s) =>
            val own = changed.filter { case (side, _) => s.sides.contains(side) }
            val a = own.count(_._2.contains("a"))
            val r = own.count(_._2.contains("r"))
            val accepts = Map("appended" -> (a > 0 && r == 0), "removed" -> (a == 0 && r == 1),
              "mixed" -> (a > 0 && r > 0))
            // refusing entries first: a refusal must publish nothing
            entries(name).sortBy { case (kind, _) => accepts(kind) }.foreach { case (kind, refresh) =>
              val got = refresh()
              if (got.isDefined != accepts(kind))
                failures += s"$step $name: refresh $kind returned $got on $a appended / $r removed sides"
            }
            // a diff no entry folds (several sides deleting) rebuilds on a fresh root
            if (own.nonEmpty && !accepts.values.exists(identity)) initVersioned(name)
          }
          R.refreshStale(spark, s"$root/refresh", Seq(trash)).foreach { res =>
            val name = shapes.collectFirst { case (n, s) if s.grains == res.groupCols => n }.get
            if (res.refreshed) unversioned += name -> res.summaryPath
            else failures += s"$step $name: refreshStale refused"
          }
          check(step)
        }
      } finally {
        R.clear()
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      }
      Prop(failures.isEmpty) :| failures.take(3).map(_.take(2000)).mkString("\n")
    }
}
