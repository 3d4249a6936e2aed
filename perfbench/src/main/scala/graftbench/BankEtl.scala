package graftbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.jobs.{BankJobs, R2gPipeline}
import graft.orchestrate.Pipeline
import graft.sources.GraftCatalog

/** `bank_daily_etl`: the paper's daily raw-to-golden job. A generated raw
  * zone of the five bank tables (full-table CSV extracts) holds a rolling
  * window of `payment_transaction`; each cycle shifts the window by one
  * day, changes ~1% of customer and account rows, and runs
  * [[R2gPipeline.run]] (sync/SCD2 dims, date dim, the parity fact SQL,
  * dual write, catalog crawl). After each cycle, analysts read the golden
  * zone through the crawled catalog.
  *
  * Every customer is active on exactly `Window / Period` days of any
  * window, so the reference's cust_id-only fan-out join multiplies the
  * account-day rows by exactly that factor, and every expected count and
  * sum follows from the generator's construction. */
final class BankEtl(h: Harness) extends Workload {
  private val spark = h.spark
  private val tr = h.tracer

  val Customers = 3000
  val AccountsPerCustomer = 2
  val Window = 30
  val Period = 10
  val MinCycles = 2
  private val rnd = h.rng("bank")
  val PaymentTypes = 3 + rnd.nextInt(3)
  val Epoch = java.time.LocalDate.parse("2023-01-01")

  private val raw = h.path("raw")
  private val golden = h.path("golden")
  private val backup = h.path("backup")
  private val Db = "golden_zone"

  private case class Tx(id: Long, cust: Int, acc: Int, code: Int, amount: Int, day: Int)

  private val cities = Array("hanoi", "hcmc", "danang", "hue", "cantho", "haiphong")
  private val city = Array.tabulate(Customers)(_ => rnd.nextInt(cities.length))
  private val balance = Array.tabulate(Customers * AccountsPerCustomer)(_ => rnd.nextInt(100000))
  private def accType(acc: Int) = acc % 3 + 1
  private var firstDay = 0
  private val days = mutable.LinkedHashMap.empty[Int, Seq[Tx]]

  /** The transactions of day `d`, a pure function of (seed, d). */
  private def dayTx(d: Int): Seq[Tx] = {
    val r = new java.util.SplittableRandom(h.seed * 7919L + d)
    var seq = 0L
    (0 until Customers).filter(c => (c + d) % Period == 0).flatMap { c =>
      (0 until 1 + r.nextInt(4)).map { _ =>
        seq += 1
        Tx(d.toLong * 10000000L + seq, c, c * AccountsPerCustomer + r.nextInt(AccountsPerCustomer),
          1 + r.nextInt(PaymentTypes), 1 + r.nextInt(999), d)
      }
    }
  }

  private def dateOf(d: Int) = Epoch.plusDays(d.toLong)

  private def writeCsv(table: String, header: String, lines: Iterator[String]): Unit = {
    val f = new java.io.File(s"$raw/$table.csv")
    f.getParentFile.mkdirs()
    val w = new java.io.BufferedWriter(new java.io.FileWriter(f), 1 << 16)
    try { w.write(header); w.write('\n'); lines.foreach { l => w.write(l); w.write('\n') } }
    finally w.close()
  }

  /** Land the raw zone for the current window (the extract's output). */
  private def land(): Unit = {
    val want = firstDay until firstDay + Window
    days.keys.filterNot(want.contains).toSeq.foreach(days.remove)
    want.filterNot(days.contains).foreach(d => days(d) = dayTx(d))
    writeCsv("customer", "cust_id,name,city",
      (0 until Customers).iterator.map(c => s"$c,cust$c,${cities(city(c))}"))
    writeCsv("account", "acc_id,cust_id,acc_type,balance",
      balance.indices.iterator.map(a => s"$a,${a / AccountsPerCustomer},${accType(a)},${balance(a)}"))
    writeCsv("account_type", "type_id,type_nm",
      Iterator("1,saving", "2,checking", "3,credit"))
    writeCsv("payment_type", "type_code,type_nm",
      (1 to PaymentTypes).iterator.map(p => s"$p,ptype$p"))
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")
    writeCsv("payment_transaction", "trans_id,acc_id,payment_code,amount,transaction_time",
      days.valuesIterator.flatten.map { t =>
        s"${t.id},${t.acc},${t.code},${t.amount},${dateOf(t.day).format(fmt)} ${"%02d".format(t.id % 24)}:15:00"
      })
  }

  /** ~1% of customers move city and ~1% of accounts change balance. */
  private def mutate(): Unit = {
    (0 until Customers / 100).foreach(_ => city(rnd.nextInt(Customers)) = rnd.nextInt(cities.length))
    (0 until balance.length / 100).foreach(_ => balance(rnd.nextInt(balance.length)) = rnd.nextInt(100000))
  }

  /** What the golden zone must hold for the current window. */
  private final case class Expect(txRows: Long, factRows: Long, accountDays: Long,
                                  sumAccountSpending: Double, sumCustTx: Double,
                                  byType: Map[String, (Long, Double)],
                                  byPayment: Map[String, (Long, Long)],
                                  byCity: Map[String, Long],
                                  lastDayKey: String, lastDayCustomers: Long)

  private def expected(): Expect = {
    val all = days.valuesIterator.flatten.toSeq
    val typeName = Map(1 -> "saving", 2 -> "checking", 3 -> "credit")
    val byCust = all.groupBy(_.cust)
    var factRows, accountDays = 0L
    var sumSpend, sumCustTx = 0.0
    val byType = mutable.Map.empty[String, (Long, Double)].withDefaultValue((0L, 0.0))
    byCust.foreach { case (_, txs) =>
      val nDays = txs.map(_.day).distinct.size
      val txPerDay = txs.groupBy(_.day).map { case (d, ts) => d -> ts.size }
      val pairs = txs.groupBy(t => (t.day, t.acc))
      accountDays += pairs.size
      factRows += pairs.size.toLong * nDays
      pairs.foreach { case ((d, acc), ts) =>
        val amt = ts.map(_.amount.toLong).sum
        sumSpend += amt.toDouble * nDays
        sumCustTx += txPerDay(d).toDouble * nDays
        val tn = typeName(accType(acc))
        val (n, s) = byType(tn)
        byType(tn) = (n + nDays, s + amt.toDouble * nDays)
      }
    }
    val lastDay = firstDay + Window - 1
    Expect(all.size.toLong, factRows, accountDays, sumSpend, sumCustTx, byType.toMap,
      all.groupBy(_.code).map { case (c, ts) => c.toString -> (ts.size.toLong, ts.map(_.amount.toLong).sum) },
      city.toSeq.groupBy(i => cities(i)).map { case (k, v) => k -> v.size.toLong },
      dateOf(lastDay).format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE),
      days(lastDay).map(_.cust).distinct.size.toLong)
  }

  private var expect: Expect = _
  private var cycles = 0

  private def config = R2gPipeline.Config(raw, golden, backup, Db, asOf = Some("2023-06-01 00:00:00"))

  /** Run the pipeline; a timed cycle's stage times and retries are
    * per-layer samples (the set-up load's are not). */
  private def runPipeline(timed: Boolean): Seq[Pipeline.StageStatus] = {
    val st = tr.span("jobs.R2gPipeline.run")(R2gPipeline.run(spark, config))
    if (timed) st.foreach {
      case Pipeline.Succeeded("transform_golden", _, ms) => tr.sample("jobs.transform_golden_s", ms / 1e3)
      case Pipeline.Succeeded("catalog_refresh", _, ms) => tr.sample("sources.catalog_refresh_s", ms / 1e3)
      case _ =>
    }
    if (timed) tr.sample("orchestrate.retries", st.map {
      case Pipeline.Succeeded(_, a, _) => a - 1
      case Pipeline.Failed(_, a, _) => a - 1
      case _ => 0
    }.sum.toDouble)
    st
  }

  private def checkCycle(st: Seq[Pipeline.StageStatus]): Unit = {
    val failedStages = st.collect { case f: Pipeline.Failed => s"${f.stage}: ${f.error}" }
    h.check(s"cycle $cycles: all stages succeeded ${failedStages.mkString("; ")}")(
      st.size == 3 && st.forall(_.isInstanceOf[Pipeline.Succeeded]))
    val e = expect
    // row counts from the parquet footers: no Spark job, so checking a
    // table costs milliseconds rather than a scan
    def rowsIn(dir: String): Long = {
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(conf).listStatus(p).map(_.getPath).filter(_.getName.endsWith(".parquet")).map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
        try r.getRecordCount finally r.close()
      }.sum
    }
    val want = Map("customer" -> Customers.toLong, "account" -> balance.length.toLong,
      "account_type" -> 3L, "payment_type" -> PaymentTypes.toLong,
      "payment_transaction" -> e.txRows, "date" -> 3653L)
    want.foreach { case (t, n) =>
      h.check(s"cycle $cycles: kietl_dim_$t rows == $n")(rowsIn(s"$golden/kietl_dim_$t") == n)
    }
    val factDir = "kietl_fact_snapshot_daily_transaction"
    val f = spark.read.parquet(s"$golden/$factDir")
      .agg(count(lit(1)), sum("account_daily_spending"), sum("cust_no_transaction_daily"))
      .collect()(0)
    h.check(s"cycle $cycles: fact rows ${f.getLong(0)} == ${e.factRows}")(f.getLong(0) == e.factRows)
    h.check(s"cycle $cycles: fact spending checksum")(math.abs(f.getDouble(1) - e.sumAccountSpending) < 1e-6)
    h.check(s"cycle $cycles: fact tx-count checksum")(f.getLong(2).toDouble == e.sumCustTx)
    h.check(s"cycle $cycles: backup fact rows")(rowsIn(s"$backup/$factDir") == e.factRows)
    h.check(s"cycle $cycles: catalog holds the 7 golden tables")(
      (BankJobs.etlTypeMapping.keys.map(t => s"kietl_dim_$t") ++ Seq("kietl_dim_date", factDir))
        .forall(t => spark.catalog.tableExists(s"`$Db`.`$t`")))
  }

  private val ReadNames = Seq("by_account_type", "by_payment_code", "by_city", "last_day_customers")

  /** Analyst read `i` over the crawled golden zone, and what it must
    * return (string-keyed rows, compared as maps). */
  private def analystRead(i: Int): (() => Map[String, String], Map[String, String]) = {
    val cat = new GraftCatalog(spark)
    val e = expect
    def rows(df: org.apache.spark.sql.DataFrame) = () =>
      df.collect().map(r => r.get(0).toString -> r.toSeq.drop(1).map(v => String.valueOf(v)).mkString("|")).toMap
    i match {
      case 0 =>
        rows(cat.table(Db, "kietl_fact_snapshot_daily_transaction")
          .groupBy("account_type_name")
          .agg(count(lit(1)), sum("account_daily_spending").cast("long"))) ->
          e.byType.map { case (k, (n, s)) => k -> s"$n|${s.toLong}" }
      case 1 =>
        rows(cat.table(Db, "kietl_dim_payment_transaction")
          .groupBy("payment_code")
          .agg(count(lit(1)), sum(col("amount").cast("long")))) ->
          e.byPayment.map { case (k, (n, s)) => k -> s"$n|$s" }
      case 2 =>
        rows(cat.table(Db, "kietl_dim_customer").filter(col("is_active"))
          .groupBy("city").agg(count(lit(1)))) ->
          e.byCity.map { case (k, n) => k -> n.toString }
      case _ =>
        rows(cat.table(Db, "kietl_fact_snapshot_daily_transaction")
          .filter(col("date_key") === e.lastDayKey)
          .agg(countDistinct("cust_id").as("n")).select(lit("last_day"), col("n"))) ->
          Map("last_day" -> e.lastDayCustomers.toString)
    }
  }

  /** One day: land the shifted raw zone, run the pipeline, then the
    * analysts' reads. */
  private def cycle(): Unit = {
    firstDay += 1
    mutate()
    land()
    expect = expected()
    cycles += 1
    h.op("cycle", "bench.cycle")(runPipeline(timed = true)).foreach { case (st, _) => checkCycle(st) }
    ReadNames.indices.foreach { i =>
      val (q, want) = analystRead(i)
      h.op(s"read.${ReadNames(i)}", "bench.read")(tr.span("sources.GraftCatalog.table")(q())).foreach {
        case (got, _) => h.check(s"cycle $cycles: read ${ReadNames(i)} rows")(got == want)
      }
    }
  }

  def setup(): Unit = {
    land()
    expect = expected()
    checkCycle(tr.span("bench.initial_load")(runPipeline(timed = false))) // the initial golden load
  }

  def run(): Unit = {
    while (h.timeLeft || cycles < MinCycles) cycle()
  }

  def inputs: Map[String, Json.J] = {
    val e = expected()
    Map("customers" -> Json.num(Customers), "accounts" -> Json.num(balance.length),
      "payment_types" -> Json.num(PaymentTypes), "window_days" -> Json.num(Window),
      "transactions_in_window" -> Json.num(e.txRows.toDouble),
      "fact_rows" -> Json.num(e.factRows.toDouble),
      "fanout_multiple" -> Json.num(e.factRows.toDouble / e.accountDays),
      "cycles" -> Json.num(cycles), "reads_per_cycle" -> Json.num(ReadNames.size))
  }

  def endToEnd(): Seq[E2E] = Seq(
    E2E.scalar("setup_s", "s", h.setupSeconds),
    E2E.perKindMean("read_s", h.samplesByKind("read.")),
    E2E.perKindMean("update_s", Map("cycle" -> h.samples("cycle"))),
    E2E.latency("read_latency", h.samplesByKind("read.").values.flatten.toSeq))
}
