package graft.jobs

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.orchestrate.Pipeline

/** Golden tests for the three reference job families on the CSV fixtures
  * (FIXTURES.md schemas). The fact query is checked against a brute-force
  * Scala recomputation from the raw CSV rows — an oracle independent of
  * Spark SQL. */
class BankJobsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val rawDir = fixture("bank")

  test("readRawCsv: all-string schema, \\N nulls") {
    val df = BankJobs.readRawCsv(spark, s"$rawDir/account.csv")
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    assert(df.filter(col("end_dt").isNull).count() == 1) // the \N row
  }

  test("scd2Dim adds the three SCD2 columns with reference quirks") {
    val df = BankJobs.scd2Dim(
      BankJobs.readRawCsv(spark, s"$rawDir/customer.csv"),
      asOf = Some("2024-08-07 00:00:00"))
    assert(df.columns.takeRight(3).toSeq ==
      Seq("is_active", "record_created_time", "record_updated_time"))
    val r = df.select("is_active", "record_updated_time").distinct().collect()
    assert(r.length == 1 && r(0).getBoolean(0))
    // record_updated_time is a DATE (quirk), value 3000-01-01
    assert(df.schema("record_updated_time").dataType.typeName == "date")
    assert(r(0).getDate(1).toString == "3000-01-01")
  }

  test("dateDim: native week_of_month matches Python monthcalendar semantics") {
    val dd = BankJobs.dateDim(spark, "2015-01-01", "2015-03-31")
    val wom = dd.select(col("date").cast("string"), col("week_of_month"))
      .as[(String, String)].collect().toMap
    // Jan 2015: the 1st is a Thursday -> week 1 holds 1..4, week 2 starts Mon the 5th
    assert(wom("2015-01-01") == "1")
    assert(wom("2015-01-04") == "1")
    assert(wom("2015-01-05") == "2")
    assert(wom("2015-01-31") == "5")
    // Feb 2015: the 1st is a Sunday -> week 1 = {1}, week 2 starts the 2nd
    assert(wom("2015-02-01") == "1")
    assert(wom("2015-02-02") == "2")
    assert(wom("2015-02-28") == "5")
    // Mar 2015: the 1st is a Sunday; 31 days -> the 30th/31st are week 6
    assert(wom("2015-03-30") == "6")
  }

  test("dateDim: holidays from the static calendar, 'work day' default") {
    val dd = BankJobs.dateDim(spark, "2015-01-01", "2015-12-31")
    val byDate = dd.select(col("date").cast("string"), col("is_holiday"), col("holiday_name"))
      .as[(String, Boolean, String)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(byDate("2015-01-01") == (true, "International New Year's Day"))
    assert(byDate("2015-02-19") == (true, "Vietnamese New Year"))
    assert(byDate("2015-04-30") == (true, "Liberation Day/Reunification Day"))
    assert(byDate("2015-09-02") == (true, "Independence Day"))
    assert(byDate("2015-03-15") == (false, "work day"))
    assert(dd.count() == 365)
  }

  test("dateDim columns match the reference schema") {
    val dd = BankJobs.dateDim(spark, "2015-01-01", "2015-01-10")
    assert(dd.columns.toSeq == Seq(
      "date", "is_holiday", "quarter", "year", "date_key", "week_of_month", "holiday_name"))
    assert(dd.schema("week_of_month").dataType.typeName == "string")
    assert(dd.schema("year").dataType.typeName == "string")
    val r = dd.filter(col("date_key") === "20150110").collect()(0)
    assert(r.getAs[Int]("quarter") == 1 && r.getAs[String]("year") == "2015")
  }

  test("fact query matches a brute-force recomputation from the CSVs") {
    val pm = BankJobs.readRawCsv(spark, s"$rawDir/payment_transaction.csv")
    val ptype = BankJobs.readRawCsv(spark, s"$rawDir/payment_type.csv")
    val account = BankJobs.readRawCsv(spark, s"$rawDir/account.csv")
    val accountType = BankJobs.readRawCsv(spark, s"$rawDir/account_type.csv")
    val dimDate = BankJobs.dateDim(spark, "2023-01-01", "2023-03-01")

    val fact = BankJobs.factDailyTransaction(spark, pm, ptype, dimDate, account, accountType)

    // ---- brute force from raw tuples (plain Scala, no Spark) ----
    case class Txn(transId: String, accId: String, amount: Double, date: String, typeNm: String)
    val typeByCode = ptype.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val custByAcc = account.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val accTypeByAcc = account.collect().map(r => r.getString(0) -> r.getString(2)).toMap
    val accTypeNm = accountType.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val txns = pm.collect().map { r =>
      Txn(r.getString(0), r.getString(1), r.getString(3).toDouble,
        r.getString(5).substring(0, 10), typeByCode(r.getString(6)))
    }.toSeq

    // a1 groups: (date, cust, acc, accTypeName)
    val a1 = txns.groupBy(t => (t.date, custByAcc(t.accId), t.accId)).map { case ((d, c, a), ts) =>
      (d, c, a, accTypeNm(accTypeByAcc(a)), ts.map(_.transId).distinct.size.toLong,
        ts.map(_.amount).sum)
    }.toSeq
    // c1 groups: (date, cust)
    val c1 = txns.groupBy(t => (t.date, custByAcc(t.accId))).map { case ((d, c), ts) =>
      ((d, c), (ts.size.toLong, ts.map(_.amount).sum, ts.map(_.typeNm).distinct.sorted))
    }
    // c2: per cust, one row per c1 row (fan-out join on cust_id alone)
    val c1Dates = c1.keys.toSeq.groupBy(_._2).map { case (c, ks) => c -> ks.map(_._1) }
    // expected row count = sum over a1 rows of (#c1 dates for that cust)
    val expectedRows = a1.map { case (_, c, _, _, _, _) => c1Dates(c).size }.sum
    assert(fact.count() == expectedRows)

    // spot-check one fully-joined row: pick the first a1 key
    val (d0, c0, acc0, tn0, nTrans0, spend0) = a1.minBy(x => (x._1, x._2, x._3))
    val got = fact.filter(col("date_key") === d0.replace("-", "") &&
        col("cust_id") === c0 && col("acc_id") === acc0)
      .select("account_type_name", "account_no_transactions_daily", "account_daily_spending",
        "cust_no_transaction_daily", "cust_daily_spending")
      .distinct().collect()
    assert(got.length == 1)
    assert(got(0).getString(0) == tn0)
    assert(got(0).getLong(1) == nTrans0)
    assert(math.abs(got(0).getDouble(2) - spend0) < 1e-9)
    val (cn0, cs0, _) = c1((d0, c0))
    assert(got(0).getLong(3) == cn0)
    assert(math.abs(got(0).getDouble(4) - cs0) < 1e-9)

    // accum spending: for one (cust, acc), the account_accum_spending at the
    // last date equals the total across dates
    val accTotal = txns.filter(_.accId == acc0).map(_.amount).sum
    val lastDate = txns.filter(_.accId == acc0).map(_.date).max
    val accum = fact.filter(col("cust_id") === c0 && col("acc_id") === acc0 &&
        col("date_key") === lastDate.replace("-", ""))
      .select("account_accum_spending").distinct().as[Double].collect()
    assert(accum.length == 1 && math.abs(accum(0) - accTotal) < 1e-9)

    // misspelled column is part of the schema (reference quirk)
    assert(fact.columns.contains("cust_avgerage_daily_spending"))
  }

  test("DSL fact variant matches the SQL fact as a multiset") {
    val pm = BankJobs.readRawCsv(spark, s"$rawDir/payment_transaction.csv")
    val ptype = BankJobs.readRawCsv(spark, s"$rawDir/payment_type.csv")
    val account = BankJobs.readRawCsv(spark, s"$rawDir/account.csv")
    val accountType = BankJobs.readRawCsv(spark, s"$rawDir/account_type.csv")
    val dimDate = BankJobs.dateDim(spark, "2023-01-01", "2023-03-01")
    def canon(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] = {
      val sortedArr = df.withColumn("cust_daily_payment_type", sort_array(col("cust_daily_payment_type")))
      val cols = sortedArr.columns.sorted
      sortedArr.select(cols.map(c => col(c).cast("string")).toIndexedSeq: _*)
        .collect().map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.mkString("|"))
    }
    val sqlFact = BankJobs.factDailyTransaction(spark, pm, ptype, dimDate, account, accountType)
    val dslFact = BankJobs.factDailyTransactionDsl(spark, pm, ptype, account, accountType)
    assert(canon(sqlFact) == canon(dslFact))
  }

  test("factDailyTransaction leaves a caller's views with the input names alone") {
    val mine = Seq(("x", "y")).toDF("a", "b")
    mine.createOrReplaceTempView("dim_account")
    try {
      val pm = BankJobs.readRawCsv(spark, s"$rawDir/payment_transaction.csv")
      val ptype = BankJobs.readRawCsv(spark, s"$rawDir/payment_type.csv")
      val account = BankJobs.readRawCsv(spark, s"$rawDir/account.csv")
      val accountType = BankJobs.readRawCsv(spark, s"$rawDir/account_type.csv")
      val fact = BankJobs.factDailyTransaction(spark, pm, ptype,
        BankJobs.dateDim(spark, "2023-01-01", "2023-03-01"), account, accountType)
      assert(fact.count() > 0)
      val view = spark.table("dim_account")
      assert(view.columns.toSeq == Seq("a", "b"))
      assert(view.as[(String, String)].collect().toSeq == Seq(("x", "y")))
      assert(!spark.catalog.tableExists("dim_payment_transaction"))
    } finally spark.catalog.dropTempView("dim_account")
  }

  /** Each runAll table computed on its own from the CSV fixtures. The
    * fact's payment-type list is a set (`collect_list(distinct …)`), whose
    * element order follows aggregation order, so it is compared sorted. */
  private def expectedTables(asOf: Option[String]): Map[String, org.apache.spark.sql.DataFrame] = {
    def raw(t: String) = BankJobs.readRawCsv(spark, s"$rawDir/$t.csv")
    val dims = BankJobs.etlTypeMapping.map { case (t, etlType) =>
      s"kietl_dim_$t" -> (if (etlType == "scd2") BankJobs.scd2Dim(raw(t), asOf) else BankJobs.syncDim(raw(t)))
    }
    dims ++ Map(
      "kietl_dim_date" -> BankJobs.dateDim(spark),
      "kietl_fact_snapshot_daily_transaction" -> BankJobs.factDailyTransaction(spark,
        raw("payment_transaction"), raw("payment_type"), BankJobs.dateDim(spark),
        raw("account"), raw("account_type")))
  }

  private def sortedPaymentTypes(df: org.apache.spark.sql.DataFrame) =
    if (!df.columns.contains("cust_daily_payment_type")) df
    else df.withColumn("cust_daily_payment_type", sort_array(col("cust_daily_payment_type")))

  test("runAll writes dims + date dim + fact to both destinations") {
    val out = java.nio.file.Files.createTempDirectory("golden").toString
    val asOf = Some("2024-08-07 00:00:00")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val frames = BankJobs.runAll(spark, rawDir, s"$out/golden", s"$out/backup", asOf)
    assert(frames.keySet == Set("account", "account_type", "customer",
      "payment_transaction", "payment_type", "dim_date", "fact"))
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty)
    val expected = expectedTables(asOf)
    assert(expected.size == 7)
    for ((table, want) <- expected; zone <- Seq("golden", "backup")) {
      val got = sortedPaymentTypes(spark.read.parquet(s"$out/$zone/$table"))
      val exp = sortedPaymentTypes(want)
      assert(got.count() > 0, s"$zone/$table is empty")
      assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty, s"$zone/$table differs")
    }
    // scd2 dims got the synthetic columns; sync dims stayed verbatim
    assert(spark.read.parquet(s"$out/golden/kietl_dim_account").columns.contains("is_active"))
    assert(!spark.read.parquet(s"$out/golden/kietl_dim_payment_type").columns.contains("is_active"))
  }

  test("runAll with a raw table missing throws its error after every sibling task ends") {
    import scala.jdk.CollectionConverters._
    // the first table in task order: a runAll that rethrew without waiting
    // would return while every sibling is still running
    val missing = BankJobs.etlTypeMapping.keys.head
    val present = BankJobs.etlTypeMapping.keys.filter(_ != missing).toSeq
    val raw = java.nio.file.Files.createTempDirectory("raw")
    for (t <- present)
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$rawDir/$t.csv"), raw.resolve(s"$t.csv"))
    val out = java.nio.file.Files.createTempDirectory("golden").toString
    val jobStarts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobStarts.add(e.time)
    }
    val before = spark.sparkContext.getPersistentRDDs.keySet
    spark.sparkContext.addSparkListener(listener)
    try {
      val err = intercept[Exception] {
        BankJobs.runAll(spark, raw.toString, s"$out/golden", s"$out/backup")
      }
      val returnedAt = System.currentTimeMillis()
      assert(err.getMessage.contains(s"$missing.csv"), err.getMessage)
      assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty)
      assert(!Thread.getAllStackTraces.keySet.asScala.exists(_.getName.startsWith("graft-concurrent")))
      Thread.sleep(2000) // the listener bus delivers events asynchronously
      assert(!jobStarts.isEmpty, "the sibling tables ran no job")
      assert(jobStarts.asScala.forall(_ <= returnedAt), "a job started after runAll returned")
      // every sibling ran to completion; the fact ran only if its inputs were all there
      def written(t: String) = new java.io.File(s"$out/backup/$t/_SUCCESS").exists()
      for (t <- present.map(t => s"kietl_dim_$t") :+ "kietl_dim_date") assert(written(t), t)
      val factInput = Set("payment_transaction", "payment_type", "account", "account_type")(missing)
      assert(written("kietl_fact_snapshot_daily_transaction") != factInput)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("R2gPipeline: extract -> transform -> catalog refresh end-to-end") {
    val out = java.nio.file.Files.createTempDirectory("pipe").toString
    var extracted = false
    val log = R2gPipeline.run(spark, R2gPipeline.Config(
      rawDir = rawDir, goldenDir = s"$out/golden", backupDir = s"$out/backup",
      catalogDb = "graft_pipe_db", asOf = Some("2024-08-07 00:00:00"),
      extract = Some(() => extracted = true)))
    assert(extracted)
    assert(log.map(_.getClass.getSimpleName).forall(_ == "Succeeded"))
    assert(log.map { case Pipeline.Succeeded(n, _, _) => n; case other => other.toString } ==
      Seq("extract_raw", "transform_golden", "catalog_refresh"))
    // the "crawled" catalog now serves the fact table
    val fact = spark.table("graft_pipe_db.kietl_fact_snapshot_daily_transaction")
    assert(fact.count() > 0)
    assert(fact.columns.contains("cust_avgerage_daily_spending"))
    spark.sql("DROP DATABASE graft_pipe_db CASCADE")
  }

  test("scd2Merge closes matching active rows and inserts new versions") {
    val existing = BankJobs.scd2Dim(
      Seq(("1", "alice"), ("2", "bob")).toDF("id", "name"),
      asOf = Some("2024-01-01 00:00:00"))
    val incoming = Seq(("1", "alice2")).toDF("id", "name")
    val merged = BankJobs.scd2Merge(existing, incoming, Seq("id"), "2024-06-01")
    val rows = merged.select(col("id"), col("name"), col("is_active"),
        col("record_updated_time").cast("string"))
      .as[(String, String, Boolean, String)].collect().toSet
    assert(rows == Set(
      ("1", "alice", false, "2024-06-01"),   // closed old version
      ("1", "alice2", true, "3000-01-01"),   // new active version
      ("2", "bob", true, "3000-01-01")))     // untouched
  }

  test("scd2Merge on an already-versioned dimension preserves closed history rows") {
    // second merge on the same key: the v1 row closed by merge #1 must
    // survive merge #2 (regression: the anti-join used to span ALL
    // versions of a changed key, silently dropping inactive history)
    val existing = BankJobs.scd2Dim(
      Seq(("1", "alice"), ("2", "bob")).toDF("id", "name"),
      asOf = Some("2024-01-01 00:00:00"))
    val after1 = BankJobs.scd2Merge(existing,
      Seq(("1", "alice2")).toDF("id", "name"), Seq("id"), "2024-06-01")
    val after2 = BankJobs.scd2Merge(after1,
      Seq(("1", "alice3")).toDF("id", "name"), Seq("id"), "2024-09-01")
    val rows = after2.select(col("id"), col("name"), col("is_active"),
        col("record_updated_time").cast("string"))
      .as[(String, String, Boolean, String)].collect().toSet
    assert(rows == Set(
      ("1", "alice", false, "2024-06-01"),   // history from merge #1 SURVIVES
      ("1", "alice2", false, "2024-09-01"),  // closed by merge #2
      ("1", "alice3", true, "3000-01-01"),   // current
      ("2", "bob", true, "3000-01-01")))
    // and exactly one active row per key
    assert(after2.filter(col("is_active")).groupBy("id").count()
      .filter(col("count") > 1).count() == 0)
  }

  test("linear fact: hand-computed rows, DECIMAL-exact month average") {
    val pm = Seq(
      ("t1", "A1", 10.00, "2023-01-01 09:00:00", "P1"),
      ("t2", "A1", 20.00, "2023-01-01 10:00:00", "P2"),
      ("t3", "A2", 5.00, "2023-01-01 11:00:00", "P1"),
      ("t4", "A1", 7.50, "2023-01-02 09:00:00", "P1"),
      ("t5", "A3", 100.00, "2023-01-01 09:00:00", "P1"),
      ("t6", "A3", 1.25, "2023-02-03 09:00:00", "P2"))
      .toDF("trans_id", "acc_id", "amount", "transaction_time", "payment_code")
      .withColumn("transaction_time", col("transaction_time").cast("timestamp"))
    val ptype = Seq(("P1", "card"), ("P2", "cash")).toDF("type_code", "type_nm")
    val account = Seq(("A1", "C1", "T1"), ("A2", "C1", "T2"), ("A3", "C2", "T1"))
      .toDF("acc_id", "cust_id", "acc_type")
    val atype = Seq(("T1", "savings"), ("T2", "checking")).toDF("type_id", "type_nm")

    val fact = BankJobs.factDailyTransactionLinear(spark, pm, ptype, account, atype)
    val rows = fact
      .withColumn("cust_daily_payment_type",
        array_join(sort_array(col("cust_daily_payment_type")), "|"))
      .select("date_key", "cust_id", "acc_id", "account_type_name",
        "account_no_transactions_daily", "account_daily_spending",
        "account_accum_spending", "cust_no_transaction_daily",
        "cust_daily_spending", "cust_daily_payment_type", "cust_accum_spending",
        "cust_avgerage_daily_spending")
      .as[(String, String, String, String, Long, Double, Double, Long, Double, String, Double, Double)]
      .collect().toSet
    assert(rows == Set(
      // Jan C1 avg = (10+20+5+7.5)/4 = 10.625 exactly (integer-exact 4dp mean)
      ("20230101", "C1", "A1", "savings", 2L, 30.0, 30.0, 3L, 35.0, "card|cash", 35.0, 10.625),
      ("20230101", "C1", "A2", "checking", 1L, 5.0, 5.0, 3L, 35.0, "card|cash", 35.0, 10.625),
      ("20230102", "C1", "A1", "savings", 1L, 7.5, 37.5, 1L, 7.5, "card", 42.5, 10.625),
      ("20230101", "C2", "A3", "savings", 1L, 100.0, 100.0, 1L, 100.0, "card", 100.0, 100.0),
      ("20230203", "C2", "A3", "savings", 1L, 1.25, 101.25, 1L, 1.25, "cash", 101.25, 1.25)))
  }

  test("linear fact: one row per (date, cust, acc) — the fan-out quirk removed") {
    // the q157 synthesis on sf0.001: output key is unique (q27's parity
    // fan-out makes this same key repeat once per c1 date of the cust)
    val fact = graft.queries.Queries.q157FactLinear(spark, "/root/testdata/sf0.001")
    assert(fact.groupBy("date_key", "cust_id", "acc_id").count()
      .filter(col("count") > 1).count() == 0)
  }
}
