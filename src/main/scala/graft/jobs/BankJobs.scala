package graft.jobs

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's three ETL job families (`r2g_account.py`), idiomatic
  * Spark-first. CSV-sourced columns stay all-string (no inferSchema), so the
  * fact SQL performs the same implicit string→numeric casts as the
  * reference (SURVEY.md §7.4.4).
  */
object BankJobs {

  /** Per-table ETL type (`r2g_account.py:30-36`). */
  val etlTypeMapping: Map[String, String] = Map(
    "account" -> "scd2",
    "account_type" -> "sync",
    "customer" -> "scd2",
    "payment_transaction" -> "sync",
    "payment_type" -> "sync")

  /** Raw-zone CSV read (`r2g_account.py:72,85`): header, comma delimiter;
    * `\N` nulls as produced by the extract job (`db_utils.py:46-49`). */
  def readRawCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("delimiter", ",")
      .option("nullValue", "\\N")
      .csv(path)

  /** sync dim: verbatim copy (`r2g_account.py:66-77`). */
  def syncDim(df: DataFrame): DataFrame = df

  /** scd2 dim (`r2g_account.py:79-94`): degenerate SCD2 — synthetic columns,
    * never expires old versions, full overwrite. `asOf` pins
    * record_created_time for reproducible tests; None = current_timestamp
    * like the reference. NB record_updated_time is a DATE parsed from a
    * timestamp-formatted literal — quirk preserved (SURVEY.md §7.4.4). */
  def scd2Dim(df: DataFrame, asOf: Option[String] = None): DataFrame =
    df.withColumn("is_active", lit(true))
      .withColumn("record_created_time",
        asOf.map(t => lit(t).cast("timestamp")).getOrElse(current_timestamp()))
      .withColumn("record_updated_time",
        to_date(lit("3000-01-01 00:00:00"), "yyyy-MM-dd HH:mm:ss"))

  /** A *real* SCD2 merge — the extension the reference's degenerate version
    * suggests (SURVEY.md §7.4.7): incoming rows close matching ACTIVE rows
    * (is_active=false, record_updated_time=asOfDate) and insert as new
    * active versions. Inactive history rows always pass through untouched —
    * only the anti-join over the ACTIVE slice keys on the incoming batch,
    * so a second merge on an already-versioned dimension preserves the
    * closed versions (spec-pinned). Pure anti-join + union; no table
    * format needed. */
  def scd2Merge(existing: DataFrame, incoming: DataFrame, pk: Seq[String], asOf: String): DataFrame = {
    val incomingKeys = incoming.select(pk.map(col): _*)
    val active = existing.filter(col("is_active"))
    val changed = active
      .join(incomingKeys, pk, "left_semi")
      .withColumn("is_active", lit(false))
      .withColumn("record_updated_time", to_date(lit(asOf)))
    val unchanged = existing.filter(!col("is_active"))
      .unionByName(active.join(incomingKeys, pk, "left_anti"))
    val fresh = scd2Dim(incoming, asOf = Some(s"$asOf 00:00:00"))
    unchanged.unionByName(changed).unionByName(fresh)
  }

  /** Date dimension (`r2g_account.py:96-136`) — UDF-free. Column set and
    * order match the reference: date, is_holiday, quarter, year, date_key,
    * week_of_month (stringly typed — untyped UDF registration quirk),
    * holiday_name ('work day' default). Holidays via 60-row broadcast join
    * instead of per-row Python UDFs. */
  def dateDim(spark: SparkSession, startDate: String = "2015-01-01",
              endDate: String = "2024-12-31"): DataFrame = {
    val nDays = java.time.temporal.ChronoUnit.DAYS.between(
      java.time.LocalDate.parse(startDate), java.time.LocalDate.parse(endDate)) + 1
    val d = col("date")
    val spine = spark.range(0, nDays)
      .select(date_add(to_date(lit(startDate)), col("id").cast("int")).as("date"))
    spine
      .join(broadcast(Holidays.table(spark)), d === col("holiday_date"), "left")
      .select(
        d,
        col("holiday_name").isNotNull.as("is_holiday"),
        quarter(d).as("quarter"),
        date_format(d, "yyyy").as("year"),
        date_format(d, "yyyyMMdd").as("date_key"),
        ceil((dayofmonth(d) + weekday(trunc(d, "MM"))) / lit(7.0))
          .cast("int").cast("string").as("week_of_month"),
        coalesce(col("holiday_name"), lit("work day")).as("holiday_name"))
  }

  /** The fact query (`r2g_account.py:149-208`), SQL-verbatim for parity —
    * including the quirks: the `cte_cust_accum_revenue` join on `cust_id`
    * alone (a deliberate fan-out preserved from the reference), the
    * month-of-any-year average join, and the misspelled
    * `cust_avgerage_daily_spending` column (SURVEY.md §7.4.4).
    *
    * The inputs are bound into the parsed plan in place of the SQL's table
    * names, so no temp view is created: a caller's own views are left
    * alone and concurrent calls on one session do not interfere. */
  def factDailyTransaction(spark: SparkSession,
                           paymentTransaction: DataFrame, paymentType: DataFrame,
                           dimDate: DataFrame, account: DataFrame,
                           accountType: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
    val pmFull = paymentTransaction
      .join(paymentType, paymentTransaction("payment_code") === paymentType("type_code"))
      .withColumn("transaction_date", to_date(col("transaction_time")))
    val inputs = Map("dim_payment_transaction" -> pmFull, "dim_date" -> dimDate,
      "dim_account" -> account, "dim_account_type" -> accountType)
    // CTE bodies are inner children of UnresolvedWith, not reached by transformUp
    def bind(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      case r: UnresolvedRelation if r.multipartIdentifier.size == 1 &&
          inputs.contains(r.multipartIdentifier.head) =>
        val name = r.multipartIdentifier.head
        SubqueryAlias(name, inputs(name).queryExecution.analyzed)
      case w: UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map { case (n, q, depth) =>
          (n, bind(q).asInstanceOf[SubqueryAlias], depth) })
    }
    org.apache.spark.sql.GraftColumnBridge.dataset(spark,
      bind(spark.sessionState.sqlParser.parsePlan(FactSql)))
  }

  /** DataFrame-DSL formulation of the fact query — same semantics as
    * [[FactSql]] (including the c2 cust_id-only fan-out join), expressed
    * through the typed API. The account-level accumulation joins back on
    * its full grouping key, which is 1:1, so it collapses to a window
    * `withColumn`; the customer-level one keeps the reference's fan-out
    * join. `collect_set` ≡ `collect_list(distinct …)` up to ordering. */
  def factDailyTransactionDsl(spark: SparkSession,
                              paymentTransaction: DataFrame, paymentType: DataFrame,
                              account: DataFrame, accountType: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pm = paymentTransaction
      .join(paymentType, paymentTransaction("payment_code") === paymentType("type_code"))
      .withColumn("transaction_date", to_date(col("transaction_time")))
      .select(col("trans_id"), col("acc_id"), col("amount"), col("type_nm"), col("transaction_date"))
    val acct = account.select(col("acc_id").as("a_acc_id"), col("cust_id"), col("acc_type"))
    val pmAcct = pm.join(acct, pm("acc_id") === acct("a_acc_id"))

    val c1 = pmAcct.groupBy(col("transaction_date"), col("cust_id"))
      .agg(count(col("trans_id")).as("cust_no_transaction_daily"),
        sum(col("amount")).as("cust_daily_spending"),
        collect_set(col("type_nm")).as("cust_daily_payment_type"))
    val c2 = c1.select(col("cust_id").as("c2_cust_id"),
      sum(col("cust_daily_spending"))
        .over(Window.partitionBy("cust_id").orderBy("transaction_date"))
        .as("cust_accum_spending"))

    val at = accountType.select(col("type_id"), col("type_nm").as("account_type_name"))
    val a1 = pmAcct.join(at, col("acc_type") === col("type_id"))
      .groupBy(col("transaction_date"), col("cust_id"), col("a_acc_id").as("acc_id"), col("account_type_name"))
      .agg(countDistinct(col("trans_id")).as("account_no_transactions_daily"),
        sum(col("amount")).as("account_daily_spending"))
      .withColumn("account_accum_spending",
        sum(col("account_daily_spending"))
          .over(Window.partitionBy("cust_id", "acc_id").orderBy("transaction_date")))

    val c3 = pmAcct.groupBy(month(col("transaction_date")).as("c3_month"), col("cust_id").as("c3_cust_id"))
      .agg(avg(col("amount")).as("cust_avgerage_daily_spending"))

    a1
      .join(c1.select(col("transaction_date").as("c1_date"), col("cust_id").as("c1_cust_id"),
          col("cust_no_transaction_daily"), col("cust_daily_spending"), col("cust_daily_payment_type")),
        a1("transaction_date") === col("c1_date") && a1("cust_id") === col("c1_cust_id"))
      .join(c2, a1("cust_id") === c2("c2_cust_id")) // reference fan-out preserved
      .join(c3, c3("c3_month") === month(a1("transaction_date")) && c3("c3_cust_id") === a1("cust_id"))
      .select(
        date_format(a1("transaction_date"), "yyyyMMdd").as("date_key"),
        a1("cust_id"), col("acc_id"), col("account_type_name"),
        col("account_no_transactions_daily"), col("account_daily_spending"),
        col("account_accum_spending"),
        col("cust_no_transaction_daily"), col("cust_daily_spending"), col("cust_daily_payment_type"),
        col("cust_accum_spending"), col("cust_avgerage_daily_spending"))
      .orderBy(a1("cust_id"), a1("transaction_date"))
  }

  /** The LINEAR fact variant — the shape a real user wants at 100×
    * (`r2g_account.py:160-208` fixed, not ported): identical columns to
    * [[factDailyTransactionDsl]], but the customer accumulation KEEPS its
    * (cust_id, transaction_date) key and joins 1:1 — so it collapses to a
    * window column and output cardinality is exactly one row per
    * (transaction_date, cust_id, acc_id). The reference's
    * `cte_cust_accum_revenue` join on cust_id ALONE makes output
    * cardinality itself super-linear (Σ_cust days² × accounts/day —
    * PERF.md measured 28× at 5× data on the parity job q27, with
    * per-row cost actually FALLING); that quirk is preserved verbatim in
    * [[factDailyTransaction]]/[[FactSql]] for parity, while THIS is the
    * production query: one shared pm⋈account join, three aggregations,
    * two windows, two joins each on its full grouping key.
    *
    * One more deliberate divergence: the month-average column uses the
    * DECIMAL-exact integer 4dp mean (the q16/q27 rounding device) instead
    * of float `avg` — a float mean of fixed-decimal money lands on
    * .00005 boundaries where engines round differently; the linear
    * variant is the engineering-quality job, so it gets the
    * deterministic form. */
  def factDailyTransactionLinear(spark: SparkSession,
                                 paymentTransaction: DataFrame, paymentType: DataFrame,
                                 account: DataFrame, accountType: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pm = paymentTransaction
      .join(paymentType, paymentTransaction("payment_code") === paymentType("type_code"))
      .withColumn("transaction_date", to_date(col("transaction_time")))
      .select(col("trans_id"), col("acc_id"), col("amount"), col("type_nm"), col("transaction_date"))
    val acct = account.select(col("acc_id").as("a_acc_id"), col("cust_id"), col("acc_type"))
    val pmAcct = pm.join(acct, pm("acc_id") === acct("a_acc_id"))

    // customer daily rollup + 1:1 accumulation window (NOT a fan-out join)
    val c1 = pmAcct.groupBy(col("transaction_date"), col("cust_id"))
      .agg(count(col("trans_id")).as("cust_no_transaction_daily"),
        sum(col("amount")).as("cust_daily_spending"),
        collect_set(col("type_nm")).as("cust_daily_payment_type"))
      .withColumn("cust_accum_spending",
        sum(col("cust_daily_spending"))
          .over(Window.partitionBy("cust_id").orderBy("transaction_date")))

    val at = accountType.select(col("type_id"), col("type_nm").as("account_type_name"))
    val a1 = pmAcct.join(at, col("acc_type") === col("type_id"))
      .groupBy(col("transaction_date"), col("cust_id"), col("a_acc_id").as("acc_id"), col("account_type_name"))
      .agg(countDistinct(col("trans_id")).as("account_no_transactions_daily"),
        sum(col("amount")).as("account_daily_spending"))
      .withColumn("account_accum_spending",
        sum(col("account_daily_spending"))
          .over(Window.partitionBy("cust_id", "acc_id").orderBy("transaction_date")))

    val c3 = pmAcct.groupBy(month(col("transaction_date")).as("c3_month"), col("cust_id").as("c3_cust_id"))
      .agg((expr(
        "cast((cast(sum(cast(amount as decimal(18,2))) * 10000 as bigint) * 2" +
          " + count(1)) div (2 * count(1)) as double)") / lit(10000.0))
        .as("cust_avgerage_daily_spending")) // reference's spelling kept

    a1
      .join(c1.select(col("transaction_date").as("c1_date"), col("cust_id").as("c1_cust_id"),
          col("cust_no_transaction_daily"), col("cust_daily_spending"),
          col("cust_daily_payment_type"), col("cust_accum_spending")),
        a1("transaction_date") === col("c1_date") && a1("cust_id") === col("c1_cust_id"))
      .join(c3, col("c3_month") === month(a1("transaction_date")) && col("c3_cust_id") === a1("cust_id"))
      .select(
        date_format(a1("transaction_date"), "yyyyMMdd").as("date_key"),
        a1("cust_id"), col("acc_id"), col("account_type_name"),
        col("account_no_transactions_daily"), col("account_daily_spending"),
        col("account_accum_spending"),
        col("cust_no_transaction_daily"), col("cust_daily_spending"), col("cust_daily_payment_type"),
        col("cust_accum_spending"), col("cust_avgerage_daily_spending"))
  }

  /** Verbatim fact SQL (`r2g_account.py:160-208`). */
  val FactSql: String = """
    with cte_transaction_revenue as (
        select transaction_date, a.cust_id,
            count(trans_id) as cust_no_transaction_daily,
            sum(amount) as cust_daily_spending,
            collect_list(distinct type_nm) as cust_daily_payment_type
        from dim_payment_transaction pm join dim_account a on pm.acc_id = a.acc_id
        group by transaction_date, a.cust_id
    ),
    cte_cust_accum_revenue as (
        select cust_id,
            sum(cust_daily_spending) over (partition by cust_id order by transaction_date) as cust_accum_spending
        from cte_transaction_revenue
    ),
    cte_account_payment_summary as (
        select pm.transaction_date, cust_id, a.acc_id, at.type_nm as account_type_name,
            count(distinct pm.trans_id) as account_no_transactions_daily,
            sum(pm.amount) as account_daily_spending
        from dim_payment_transaction pm
            join dim_account a on pm.acc_id = a.acc_id
            join dim_account_type at on a.acc_type = at.type_id
        group by pm.transaction_date, a.cust_id, a.acc_id, at.type_nm
    ),
    cte_account_accum_revenue as (
        select transaction_date, cust_id, acc_id, account_daily_spending,
            sum(account_daily_spending) over (partition by cust_id, acc_id order by transaction_date) as account_accum_spending
        from cte_account_payment_summary
    ),
    cte_customer_avgerage_daily_spending as (
        select month(transaction_date) as month, a.cust_id,
            avg(amount) as cust_avgerage_daily_spending
        from dim_payment_transaction pm join dim_account a on pm.acc_id = a.acc_id
        group by month(transaction_date), a.cust_id
    )

    select date_format(a1.transaction_date, 'yyyyMMdd') as date_key, a1.cust_id, a1.acc_id, a1.account_type_name,
            a1.account_no_transactions_daily,
            a1.account_daily_spending,
        a2.account_accum_spending,
        c1.cust_no_transaction_daily, c1.cust_daily_spending, c1.cust_daily_payment_type,
        c2.cust_accum_spending,
        c3.cust_avgerage_daily_spending
    from cte_account_payment_summary a1
        join cte_account_accum_revenue a2 on a1.transaction_date = a2.transaction_date and a1.cust_id = a2.cust_id and a1.acc_id = a2.acc_id
        join cte_transaction_revenue c1 on a1.transaction_date = c1.transaction_date and a1.cust_id = c1.cust_id
        join cte_cust_accum_revenue c2 on c1.cust_id = c2.cust_id
        join cte_customer_avgerage_daily_spending c3 on c3.month = month(a1.transaction_date) and c3.cust_id = a1.cust_id
        order by a1.cust_id, a1.transaction_date
  """

  /** The demo job (`glue-jobs/jobs/demo/demo.py:20-26`): CSV in, one
    * coalesced parquet file out. */
  def demoJob(spark: SparkSession, src: String, dest: String): DataFrame = {
    val df = readRawCsv(spark, src)
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(dest)
    df
  }

  /** Dual-destination write (`r2g_account.py:74-75` etc.) of a frame the
    * caller has persisted: golden first, then backup, which reads the cache
    * the first write filled instead of recomputing the plan (the reference
    * recomputes; SURVEY.md §4). */
  def dualWrite(cached: DataFrame, mainDest: String, backupDest: String): Unit = {
    cached.write.mode(SaveMode.Overwrite).parquet(mainDest)
    cached.write.mode(SaveMode.Overwrite).parquet(backupDest)
  }

  /** Micro-batch raw-zone ingestion (§2.13 tied to the jobs layer): stream
    * a raw CSV directory and run the per-table dim transform on each batch
    * through the forEachBatch runner (retry + empty-batch gate). The batch
    * path ([[runAll]]) and this incremental path share the same transform
    * functions. */
  def streamingDim(spark: SparkSession, rawTableDir: String, etlType: String,
                   dest: String, checkpoint: String,
                   schema: org.apache.spark.sql.types.StructType,
                   asOf: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val raw = spark.readStream
      .option("header", "true").option("delimiter", ",").option("nullValue", "\\N")
      .schema(schema)
      .csv(rawTableDir)
    graft.streaming.Streaming.forEachBatch(raw,
      graft.streaming.Streaming.ForEachBatchOptions(
        windowSize = "1 seconds", checkpointLocation = Some(checkpoint))) { (batch, _) =>
      val out = etlType match {
        case "scd2" => scd2Dim(batch, asOf)
        case _      => syncDim(batch)
      }
      out.write.mode(SaveMode.Append).parquet(dest)
    }
  }

  /** The full r2g job (`initEtl`, `r2g_account.py:42-64`): per-table
    * sync/scd2 dims, date dim, fact — reading `<rawDir>/<table>.csv`,
    * writing `<goldenDir>/kietl_dim_*` (+ backup).
    *
    * Task graph: the five raw tables and the date dim are six independent
    * tasks, run at once through [[graft.orchestrate.Concurrent.all]]; each
    * builds its frame, persists it once and [[dualWrite]]s it, golden then
    * backup. The fact is a seventh task that starts as soon as
    * payment_transaction, payment_type, account and account_type are
    * persisted and computes from those caches, not from the CSVs: a cached
    * partition is computed once, by whichever job reaches it first (the
    * fact's or the table's own golden write), and read from the cache by
    * the other. The fact is persisted and dual-written the same way.
    *
    * Cache lifetime: every frame this call persists stays cached until all
    * seven tasks have finished and is released in a `finally`, the fact
    * first, on success and on failure alike.
    *
    * Failure: a failing fact input also fails the fact task waiting on it.
    * The call returns or throws only after every task has finished, and
    * throws the first failure in task order (the five raw tables in
    * [[etlTypeMapping]] order, then the date dim, then the fact). The
    * returned frames are no longer cached. */
  def runAll(spark: SparkSession, rawDir: String, goldenDir: String,
             backupDir: String, asOf: Option[String] = None): Map[String, DataFrame] = {
    import scala.concurrent.{Await, Promise}
    import scala.concurrent.duration.Duration
    val persisted = new java.util.concurrent.ConcurrentLinkedDeque[DataFrame]()
    val factInputs = Seq("payment_transaction", "payment_type", "account", "account_type")
    val cached = factInputs.map(_ -> Promise[DataFrame]()).toMap
    def task(name: String, dir: String)(build: => DataFrame): () => (String, DataFrame) = () =>
      try {
        val df = build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        persisted.push(df)
        cached.get(name).foreach(_.success(df))
        dualWrite(df, s"$goldenDir/$dir", s"$backupDir/$dir")
        name -> df
      } catch { case e: Throwable => cached.get(name).foreach(_.tryFailure(e)); throw e }
    val dims = etlTypeMapping.toSeq.map { case (table, etlType) =>
      task(table, s"kietl_dim_$table") {
        val raw = readRawCsv(spark, s"$rawDir/$table.csv")
        etlType match {
          case "scd2" => scd2Dim(raw, asOf)
          case "sync" => syncDim(raw)
        }
      }
    }
    val dates = dateDim(spark)
    val date = task("dim_date", "kietl_dim_date")(dates)
    val fact = task("fact", "kietl_fact_snapshot_daily_transaction") {
      val Seq(pt, ptype, account, accountType) =
        factInputs.map(t => Await.result(cached(t).future, Duration.Inf))
      factDailyTransaction(spark, pt, ptype, dates, account, accountType)
    }
    try graft.orchestrate.Concurrent.all(dims :+ date :+ fact).toMap
    finally persisted.forEach(_.unpersist()) // newest first: the fact before its inputs
  }
}
