package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plan.{RollupRewrite => R, RollupVersioned => RV}
import graft.sources.Pq

/** `summary_serve_maintain`: dashboards served from versioned summaries
  * while maintenance windows change the base underneath.
  *
  * A generated golden-zone transaction fact (one parquet file per day)
  * with `account`, `account_type` and `payment_type` dims carries three
  * versioned summaries: plain, joined with `payment_type`, and a star with
  * account and account_type. A stream of dashboard aggregates is served —
  * 8 in 10 summary-eligible, the rest grouping or filtering on a non-grain
  * column so they fall through to the base. Every `ServesPerWindow`
  * serves, one maintenance window runs in rotation: append the next day,
  * retention-delete the oldest file, compact the 7 oldest day files into
  * one, or vacuum; each window re-registers the latest versions.
  *
  * Checks: every serve's rows equal the same query with the rewrite
  * disabled, and every eligible serve reads only a summary pool batch. */
final class SummaryServe(h: Harness) extends Workload {
  private val spark = h.spark
  private val tr = h.tracer

  val Days = 30
  val RowsPerDay = 5000
  val Accounts = 5000
  val PaymentTypes = 5
  val Regions = 4
  val ServesPerWindow = 5
  val KeepLast = 2

  private val base = h.path("base")
  private val stage = h.path("stage")
  private val trash = h.path("trash")
  private val accDir = h.path("account")
  private val atDir = h.path("account_type")
  private val ptDir = h.path("payment_type")
  private val rootP = h.path("sum_plain")
  private val rootJ = h.path("sum_joined")
  private val rootS = h.path("sum_star")
  private val seedLit = h.seed % 1000000007L

  /** Rows of days [from, until): a pure function of (seed, row id). */
  private def factRows(from: Int, until: Int): DataFrame = {
    val id = col("id")
    def u(salt: Int, m: Int) = pmod(xxhash64(lit(seedLit), id, lit(salt)), lit(m.toLong))
    spark.range(from.toLong * RowsPerDay, until.toLong * RowsPerDay, 1, until - from)
      .select(
        (id / RowsPerDay).cast("int").as("day"),
        u(1, Accounts).as("acc_id"),
        (u(1, Accounts) % 3 + 1).cast("int").as("acc_type"),
        (u(2, PaymentTypes) + 1).cast("int").as("payment_code"),
        u(3, 6).cast("int").as("channel"),
        (u(4, 1000) + 1).as("amount"))
  }

  private def fileOf(day: Int) = f"$base/d_$day%05d.parquet"
  private def compactFileOf(day: Int) = f"$base/d_$day%05d_c.parquet"

  /** Write `df` as exactly one parquet file per Spark partition and move
    * the files to `dests` (in partition order). */
  private def writeFiles(df: DataFrame, dests: Seq[String]): Unit = {
    val dir = s"$stage/${System.nanoTime()}"
    df.write.parquet(dir)
    val parts = new java.io.File(dir).listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).sortBy(_.getName)
    require(parts.length == dests.size, s"expected ${dests.size} files, wrote ${parts.length}")
    parts.zip(dests).foreach { case (f, d) =>
      new java.io.File(d).getParentFile.mkdirs()
      java.nio.file.Files.move(f.toPath, new java.io.File(d).toPath)
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  private def baseFiles: Seq[String] =
    Option(new java.io.File(base).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.endsWith(".parquet")).sorted.map(n => s"$base/$n")

  private def fact = Pq.read(spark, base)
  private def dims = Seq(
    Pq.read(spark, accDir) -> Seq("acc_id" -> "a_acc_id"),
    Pq.read(spark, atDir) -> Seq("acc_type" -> "at_type_id"))

  // the as-of frames of the latest registered versions
  private var asOfP: DataFrame = _
  private var asOfJ: (DataFrame, DataFrame) = _
  private var asOfS: (DataFrame, Seq[(DataFrame, Seq[(String, String)])]) = _

  private def registerLatest(): Unit = tr.timed("plan.register_s", "plan.RollupVersioned.registerVersion*") {
    R.clear()
    asOfP = RV.registerVersion(spark, rootP)
    asOfJ = RV.registerVersionJoined(spark, rootJ)
    asOfS = RV.registerVersionStar(spark, rootS)
  }

  /** One dashboard query: a builder over the current as-of frames, and
    * whether a summary must serve it. */
  private final case class Query(name: String, eligible: Boolean, build: () => DataFrame)

  private def joinedFrame: DataFrame = {
    val (f, d) = asOfJ
    f.join(d, f("payment_code") === d("pt_type_code"))
  }
  private def starFrame: DataFrame = {
    val (f, ds) = asOfS
    ds.foldLeft(f) { case (acc, (d, keys)) =>
      acc.join(d, keys.map { case (fk, dk) => f(fk) === d(dk) }.reduce(_ && _))
    }
  }
  private def recentDays: Column = col("day") >= lit(lastDay - 6)

  private val queries: Seq[Query] = Seq(
    Query("plain_by_payment", eligible = true, () => asOfP.groupBy("payment_code")
      .agg(count(lit(1)).as("n"), sum("amount").as("s"), min("amount").as("lo"), max("amount").as("hi"))),
    Query("plain_recent_days", eligible = true, () => asOfP.filter(recentDays).groupBy("day")
      .agg(sum("amount").as("s"), count(lit(1)).as("n"))),
    Query("plain_day_payment", eligible = true, () => asOfP.groupBy("day", "payment_code")
      .agg(sum("amount").as("s"))),
    Query("joined_by_type", eligible = true, () => joinedFrame.groupBy("pay_type_nm")
      .agg(count(lit(1)).as("n"), sum("amount").as("s"))),
    Query("joined_day_type", eligible = true, () => joinedFrame.groupBy("day", "pay_type_nm")
      .agg(max("amount").as("hi"))),
    Query("star_by_acc_type", eligible = true, () => starFrame.groupBy("acc_type_nm")
      .agg(sum("amount").as("s"), count(lit(1)).as("n"))),
    Query("star_region_type", eligible = true, () => starFrame.groupBy("region", "acc_type_nm")
      .agg(min("amount").as("lo"), max("amount").as("hi"))),
    // the most-viewed dashboard comes round twice, so 8 serves in 10 are eligible
    Query("plain_by_payment", eligible = true, () => asOfP.groupBy("payment_code")
      .agg(count(lit(1)).as("n"), sum("amount").as("s"), min("amount").as("lo"), max("amount").as("hi"))),
    Query("base_by_channel", eligible = false, () => asOfP.groupBy("channel")
      .agg(sum("amount").as("s"))),
    Query("base_large_amounts", eligible = false, () => asOfP.filter(col("amount") > 900)
      .groupBy("payment_code").agg(count(lit(1)).as("n"))))

  private var lastDay = Days - 1
  private var epoch = 0 // bumps on every base or registration change
  private val reference = mutable.Map.empty[(String, Int), Set[String]]
  private var serveNo = 0
  private var windows = 0
  private var eligibleServes = 0
  private var summaryHits = 0

  private def rowsOf(df: DataFrame): Set[String] = df.collect().map(_.mkString("|")).toSet

  private def refRows(q: Query): Set[String] = reference.getOrElseUpdate((q.name, epoch), {
    R.disable(spark)
    try rowsOf(q.build()) finally R.enable(spark)
  })

  private def serve(): Unit = {
    val q = queries(serveNo % queries.size)
    serveNo += 1
    h.op(s"serve.${q.name}", "bench.serve") {
      val df = q.build()
      tr.timed("plan.serve_optimize_s", "plan.RollupRewrite.optimize")(df.queryExecution.optimizedPlan)
      df -> tr.timed("plan.serve_exec_s", "bench.serve.collect")(rowsOf(df))
    }.foreach { case ((df, rows), _) =>
      h.check(s"serve ${q.name}@$epoch rows equal the rewrite-disabled query")(rows == refRows(q))
      if (q.eligible) {
        eligibleServes += 1
        val scans = R.scanRootPaths(df)
        val hit = scans.nonEmpty && scans.forall(_.contains("/pool/b"))
        if (hit) summaryHits += 1
        h.check(s"serve ${q.name}@$epoch served from a summary (scans: ${scans.mkString(",")})")(hit)
      }
    }
  }

  private val rotation = Seq("append", "delete", "compact", "vacuum")

  private def refreshed(what: String, v: Option[Int]): Unit =
    if (v.isEmpty) {
      tr.sample("plan.refresh_refused", 1)
      throw new IllegalStateException(s"$what refused (returned None)")
    }

  private def window(): Unit = {
    val kind = rotation(windows % rotation.size)
    windows += 1
    h.op(kind, s"bench.window.$kind") {
      kind match {
        case "append" =>
          lastDay += 1
          tr.span("bench.write_day")(writeFiles(factRows(lastDay, lastDay + 1), Seq(fileOf(lastDay))))
          tr.timed("plan.refresh_appended_s", "plan.RollupVersioned.refreshAppended*") {
            refreshed("refreshAppended", RV.refreshAppended(spark, rootP, fact))
            refreshed("refreshAppendedJoined", RV.refreshAppendedJoined(spark, rootJ, fact, Pq.read(spark, ptDir)))
            refreshed("refreshAppendedStar", RV.refreshAppendedStar(spark, rootS, fact, dims))
          }
        case "delete" =>
          tr.span("plan.RollupRewrite.deleteFiles")(R.deleteFiles(spark, baseFiles.take(1), trash))
          tr.timed("plan.refresh_removed_s", "plan.RollupVersioned.refreshRemoved*") {
            refreshed("refreshRemoved", RV.refreshRemoved(spark, rootP, fact, Seq(trash)))
            refreshed("refreshRemovedJoined", RV.refreshRemovedJoined(spark, rootJ, fact, Pq.read(spark, ptDir), Seq(trash)))
            refreshed("refreshRemovedStar", RV.refreshRemovedStar(spark, rootS, fact, dims, Seq(trash)))
          }
        case "compact" =>
          val singles = baseFiles.filterNot(_.endsWith("_c.parquet")).take(7)
          val firstOf = new java.io.File(singles.head).getName.drop(2).take(5).toInt
          tr.span("bench.compact_days") {
            writeFiles(Pq.read(spark, singles: _*).coalesce(1), Seq(compactFileOf(firstOf)))
            R.deleteFiles(spark, singles, trash)
          }
          tr.timed("plan.refresh_mixed_s", "plan.RollupVersioned.refreshMixed*") {
            refreshed("refreshMixed", RV.refreshMixed(spark, rootP, fact, Seq(trash)))
            refreshed("refreshMixedJoined", RV.refreshMixedJoined(spark, rootJ, fact, Pq.read(spark, ptDir), Seq(trash)))
            refreshed("refreshMixedStar", RV.refreshMixedStar(spark, rootS, fact, dims, Seq(trash)))
          }
        case "vacuum" =>
          tr.timed("plan.vacuum_s", "plan.RollupVersioned.vacuum") {
            Seq(rootP, rootJ, rootS).foreach(r => RV.vacuum(spark, r, KeepLast))
          }
      }
      registerLatest()
    }
    epoch += 1
  }

  def setup(): Unit = {
    tr.span("bench.generate") {
      writeFiles(factRows(0, Days), (0 until Days).map(fileOf))
      import spark.implicits._
      val rr = h.rng("summary-dims")
      (0 until Accounts).map(a => (a.toLong, s"region${rr.nextInt(Regions)}")).toDF("a_acc_id", "region")
        .coalesce(1).write.parquet(accDir)
      Seq((1, "saving"), (2, "checking"), (3, "credit")).toDF("at_type_id", "acc_type_nm")
        .coalesce(1).write.parquet(atDir)
      (1 to PaymentTypes).map(p => (p, s"ptype$p")).toDF("pt_type_code", "pay_type_nm")
        .coalesce(1).write.parquet(ptDir)
    }
    tr.span("plan.RollupVersioned.init*") {
      RV.init(spark, rootP, fact, RV.Layout(Seq("day", "payment_code"), Seq("amount")))
      RV.initJoined(spark, rootJ, fact, Pq.read(spark, ptDir), Seq("payment_code" -> "pt_type_code"),
        RV.Layout(Seq("day", "pay_type_nm"), Seq("amount")))
      RV.initStar(spark, rootS, fact, dims, RV.Layout(Seq("region", "acc_type_nm"), Seq("amount")))
    }
    R.enable(spark)
    registerLatest()
  }

  def run(): Unit = {
    while (h.timeLeft || windows < rotation.size) {
      (0 until ServesPerWindow).foreach(_ => serve())
      window()
    }
  }

  override def finish(): Unit = {
    tr.set("plan.rewrite_hit_ratio", if (eligibleServes == 0) 0.0 else summaryHits.toDouble / eligibleServes)
    R.disable(spark)
    R.clear()
  }

  def inputs: Map[String, Json.J] = Map(
    "initial_days" -> Json.num(Days), "rows_per_day" -> Json.num(RowsPerDay),
    "initial_fact_rows" -> Json.num(Days.toDouble * RowsPerDay),
    "accounts" -> Json.num(Accounts), "payment_types" -> Json.num(PaymentTypes),
    "serves_per_window" -> Json.num(ServesPerWindow),
    "dashboard_queries" -> Json.num(queries.size),
    "eligible_share" -> Json.num(queries.count(_.eligible).toDouble / queries.size),
    "windows" -> Json.num(windows), "final_base_files" -> Json.num(baseFiles.size))

  def endToEnd(): Seq[E2E] = Seq(
    E2E.scalar("setup_s", "s", h.setupSeconds),
    E2E.perKindMean("read_s", h.samplesByKind("serve.")),
    E2E.perKindMean("update_s", rotation.map(k => k -> h.samples(k)).toMap),
    E2E.latency("read_latency", h.samplesByKind("serve.").values.flatten.toSeq))
}
