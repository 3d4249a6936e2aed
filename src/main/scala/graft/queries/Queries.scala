package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.frame.DynFrame
import graft.restructure.Restructure
import graft.dedup.Dedup
import graft.ann.{Ann, Ivf}
import graft.functions.{TextFunctions => T, SimilarityFunctions => S}

/** The driver-verified query battery: every SURVEY.md §2 operator family plus
  * the training-data-pipeline operators, each expressed through the graft
  * library and paired (where SQL-expressible) with a DuckDB oracle in
  * [[Queries.oracleSql]].
  *
  * Determinism rules (SURVEY.md §7.4.3): float aggregates are rounded to 4
  * decimals on BOTH sides; collected lists are sorted; every computed column
  * is aliased identically in the Spark code and the oracle SQL (the driver
  * sorts columns by name before hashing).
  */
object Queries {

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Pq.read(s, s"$dir/$name.parquet")

  /** The events table has shipped in two physical encodings across
    * testdata generations: TIMESTAMP(NANOS) parquet (readable in Spark 4
    * only via the legacy nanos-as-long conf, surfacing as `bigint` nanos)
    * and plain `timestamp[us]` (surfacing as TIMESTAMP_NTZ). Normalize
    * EITHER to a session-UTC TimestampType micros column: nanos convert
    * with integer division (no double rounding at 1e18 magnitudes), NTZ
    * casts by wall clock — identical instants under the UTC session the
    * battery mandates. Same ns→us truncation DuckDB applies, so the
    * epoch-micros oracle convention (CLAUDE.md) holds for both. */
  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  private def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(tbl(s, dir, "events"))
  }

  // =============================================================== §2.4 aggs

  /** Filter + grouped aggregation (pricing-summary shape). The filter and the
    * two-column projection reach the parquet scan (PushedFilters/ReadSchema);
    * Catalyst does partial aggregation map-side. */
  def q01PricingSummary(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))

  // ======================================================== §2.3 join chain

  /** Multi-table equi-join chain with broadcast dims: orders ⋈ customer ⋈
    * nation(bcast) ⋈ region(bcast). At 100 TB customer shuffles; nation and
    * region never should — they are single-digit-KB dimensions. */
  def q02MarketShare(s: SparkSession, dir: String): DataFrame = {
    val orders = tbl(s, dir, "orders")
    val customer = tbl(s, dir, "customer")
    val nation = tbl(s, dir, "nation")
    val region = tbl(s, dir, "region")
    orders
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 4).as("revenue"))
  }

  // ===================================================== §2.5 window cumsum

  /** Running cumulative sum per customer (`r2g_account.py:171` shape). Keeps
    * Spark's default RANGE frame so tied dates aggregate together —
    * identical to the SQL-standard default the oracle uses. */
  def q03CumulativeSpend(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    tbl(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        round(sum(col("o_totalprice")).over(w), 4).as("cum_spend"))
  }

  // ================================================== §2.3 semi / anti join

  /** Left-semi join (`crawler_undo.py:33,65` shape). */
  def q04SemiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = tbl(s, dir, "customer")
    val o = tbl(s, dir, "orders").filter(col("o_orderstatus") === "F")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
  }

  /** mergeDynamicFrame upsert (`dynamicframe.py:436-461`): staging rows
    * overwrite matching PKs, source rows otherwise retained. Implemented as
    * left-anti + unionByName via [[DynFrame.mergeDynamicFrame]]. */
  def q05MergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val orders = tbl(s, dir, "orders")
    val source = DynFrame(orders.select(col("o_orderkey"), col("o_orderpriority")), "source")
    val stage = DynFrame(
      orders.filter(col("o_totalprice") > 150000)
        .select(col("o_orderkey"), lit("X-MERGED").as("o_orderpriority")), "stage")
    source.mergeDynamicFrame(stage, Seq("o_orderkey")).toDF
  }

  // ==================================== §2.7 union w/ choice + resolveChoice

  /** Schema-merging union producing a ChoiceType (long vs string o_orderkey),
    * then `resolveChoice(cast:long)` collapses it (`dynamicframe.py:394-475`).
    */
  def q06UnionChoice(s: SparkSession, dir: String): DataFrame = {
    val orders = tbl(s, dir, "orders")
    val a = DynFrame(orders.select(col("o_orderkey")), "a")
    val b = DynFrame(
      orders.filter(col("o_totalprice") > 100000)
        .select(col("o_orderkey").cast("string").as("o_orderkey")), "b")
    a.union(b)
      .resolveChoice(Seq("o_orderkey" -> "cast:long"))
      .toDF
      .groupBy("o_orderkey").agg(count(lit(1)).as("n"))
  }

  /** EXCEPT (`crawler_undo.py:62`): customer nations minus supplier nations. */
  def q07Subtract(s: SparkSession, dir: String): DataFrame =
    DynFrame(tbl(s, dir, "customer").select(col("c_nationkey").as("nationkey")), "c")
      .subtract(DynFrame(tbl(s, dir, "supplier").select(col("s_nationkey").as("nationkey")), "s"))
      .toDF

  // ========================================== §2.2 applyMapping / splitRows

  /** Declarative project+rename+cast (`dynamicframe.py:347-388`). The
    * decimal(12,2) cast exercises applyMapping's type targets, but the
    * OUTPUT goes back to double: the driver reads Spark parquet through
    * pyarrow (decimal → Decimal objects) and the oracle through DuckDB
    * (decimal → float64), which hash differently even when values agree. */
  def q08ApplyMapping(s: SparkSession, dir: String): DataFrame =
    DynFrame(tbl(s, dir, "part"), "part").applyMapping(Seq(
      ("p_partkey", "long", "part_id", "string"),
      ("p_name", "string", "part_name", "string"),
      ("p_retailprice", "double", "retail_price", "decimal(12,2)"),
      ("p_size", "int", "size_l", "long"))).toDF
      .withColumn("retail_price", col("retail_price").cast("double"))

  /** splitRows comparator predicate (`dynamicframe.py:238-269`), matched side. */
  def q09SplitRows(s: SparkSession, dir: String): DataFrame = {
    val (matched, _) = DynFrame(tbl(s, dir, "lineitem"), "li").splitRows(Map(
      "l_quantity" -> Map(">" -> 30),
      "l_discount" -> Map("<=" -> 0.02)))
    matched.toDF.select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_discount"))
  }

  /** selectFields → renameField → dropFields (`dynamicframe.py:187-282`). */
  def q10FieldOps(s: SparkSession, dir: String): DataFrame =
    DynFrame(tbl(s, dir, "nation"), "nation")
      .selectFields(Seq("n_nationkey", "n_name", "n_regionkey"))
      .renameField("n_name", "nation_name")
      .dropFields(Seq("n_regionkey"))
      .toDF

  // ================================================= §2.8 nested restructure

  /** unnest: nested structs flatten to dotted top-level columns
    * (`dynamicframe.py:310-322`). */
  def q11Unnest(s: SparkSession, dir: String): DataFrame = {
    val nested = tbl(s, dir, "nation").select(
      col("n_nationkey"),
      struct(col("n_name").as("name"), struct(col("n_regionkey").as("rk")).as("geo")).as("info"))
    Restructure.unnest(nested)
  }

  /** relationalize: array column pivots into a child table (id, index, val)
    * (`dynamicframe.py:324-345`); natural parent key keeps it deterministic. */
  def q12Relationalize(s: SparkSession, dir: String): DataFrame = {
    val nested = tbl(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sort_array(collect_list(col("o_orderkey"))).as("okeys"))
    Restructure.relationalize(nested, "orders_nested", idCol = Some("o_custkey"))("orders_nested.okeys")
  }

  /** unbox: parse embedded JSON in a string column (`dynamicframe.py:162-185`). */
  def q13UnboxJson(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", LongType)))
    Restructure.unbox(events(s, dir), "props", "json", Some(schema))
      .select(col("event_id"), col("props.k").as("k"))
  }

  // ====================================================== §2.11/2.12 date dim

  /** The date dimension (`r2g_account.py:96-136`) rebuilt UDF-free: quarter /
    * year / date_key / week-of-month as native expressions. week_of_month =
    * ceil((day + weekday(first_of_month)) / 7), weeks starting Monday,
    * stringly-typed to match the reference's untyped UDF registration. */
  def q14DateDim(s: SparkSession, dir: String): DataFrame = {
    val d = col("date")
    s.range(0, 3653)
      .select(date_add(to_date(lit("2015-01-01")), col("id").cast("int")).as("date"))
      .select(
        d,
        date_format(d, "yyyyMMdd").as("date_key"),
        date_format(d, "yyyy").as("year"),
        quarter(d).as("quarter"),
        month(d).as("month"),
        dayofmonth(d).as("day"),
        ceil((dayofmonth(d) + weekday(trunc(d, "MM"))) / lit(7.0)).cast("int").cast("string").as("week_of_month"),
        (weekday(d) >= 5).as("is_weekend"))
  }

  /** collect_list(distinct) per group with deterministic ordering
    * (`r2g_account.py:165` + SURVEY.md §7.4.3 sort_array fix). Joined to a
    * string for output: the driver's pandas compare sorts rows by every
    * column and list cells are unhashable there. */
  def q15CollectSet(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "customer")
      .groupBy(col("c_nationkey"))
      .agg(array_join(sort_array(collect_set(col("c_mktsegment"))), "|").as("segments"),
        count(lit(1)).as("n_cust"))

  /** Computed-key join (`r2g_account.py:189-206` month-join shape): monthly
    * average spend per customer joined back on month(o_orderdate). */
  def q16MonthJoin(s: SparkSession, dir: String): DataFrame = {
    val orders = tbl(s, dir, "orders")
    // 4dp-rounded mean computed ENTIRELY in integer arithmetic:
    // o_totalprice is a 2-decimal value (probed), so
    // sum(decimal(18,2))·10⁴ is an exact bigint and
    // (S·2 + n) div (2n) is the half-up-rounded mean in 1e-4 units —
    // identical in any engine, then cast to double (exact, < 2^53).
    // Two lessons, both found by the round-6 full-oracle sweep at sf0.1
    // (each hash-matched at sf0.01): (1) float avg() puts groups within
    // summation noise of the .00005 boundary (229140.25625); (2) even a
    // DECIMAL-exact mean rounds differently across engines when the
    // exact value sits ON the boundary — Spark's round(double) rounds
    // the shortest decimal repr (BigDecimal half-up → .8763) while
    // DuckDB rounds the binary value (std::round → .8762). Rounding in
    // integers sidesteps both.
    val m = orders
      .groupBy(month(col("o_orderdate")).as("mth"), col("o_custkey").as("m_custkey"))
      .agg((expr(
        "cast((cast(sum(cast(o_totalprice as decimal(18,2))) * 10000 as bigint) * 2" +
          " + count(1)) div (2 * count(1)) as double)") / lit(10000.0))
        .as("avg_month_spend"))
    orders.join(m,
        month(orders("o_orderdate")) === m("mth") && orders("o_custkey") === m("m_custkey"))
      .select(col("o_orderkey"), col("mth"), col("avg_month_spend"))
  }

  /** SCD2 column synthesis (`r2g_account.py:85-88`) with a fixed as-of
    * timestamp for reproducibility (`current_timestamp` in production). */
  def q17Scd2Cols(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "customer").select(
      col("c_custkey"), col("c_name"),
      lit(true).as("is_active"),
      lit("2024-08-07 00:00:00").cast("timestamp").as("record_created_time"),
      to_date(lit("3000-01-01 00:00:00"), "yyyy-MM-dd HH:mm:ss").as("record_updated_time"))

  // ============================================= streaming-shaped batch agg

  /** Hourly event rollup — the batch twin of the §2.13 micro-batch path. */
  def q18EventRollup(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total_value"))

  // ================================================= training-data pipeline

  /** Text statistics: token counts, stopword ratio, mean token length. */
  def q19TextStats(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").select(
      col("doc_id"),
      length(col("text")).cast("long").as("len_chars"),
      T.tokenCount(col("text")).cast("long").as("n_tokens"),
      round(T.stopwordRatio(col("text"), Seq("the", "a")), 4).as("stop_ratio"),
      round(T.meanTokenLen(col("text")), 4).as("mean_tok_len"))

  /** Exact dedup: content-hash group, keep min id (§ dedup tier 1). */
  def q20ExactDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(tbl(s, dir, "documents"), "doc_id", "text")

  /** Near-dedup, full two-phase shape: MinHash-LSH candidates verified by
    * exact shingle Jaccard. The oracle computes ground-truth Jaccard over
    * all pairs — this query must reproduce it exactly (LSH recall 1.0 at
    * this threshold on well-separated corpora). */
  def q21NgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(tbl(s, dir, "documents"), "doc_id", "text",
        shingleLen = 3, threshold = 0.9)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))

  /** MinHash-LSH pairs over PORTABLE (md5-based) signatures: the full
    * banded pipeline — shingle → 64-permutation signature → 16 band hashes
    * → bucket pair streaming → estimated Jaccard — replayed bit-for-bit by
    * the DuckDB oracle (same md5-60 base hash, same SplitMix64 permutation
    * constants interpolated into the SQL). The xxhash64 kernel stays the
    * production default (q21/q47 exercise it against brute-force truth). */
  def q22MinhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(tbl(s, dir, "documents"), "doc_id", "text", threshold = 0.5,
        portable = true)
      .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 4).as("est_jaccard"))

  /** SimHash near-dup pairs over the PORTABLE 60-bit fingerprint (md5-60
    * bit votes, four 15-bit chunk bands, exact Hamming verify) — every bit
    * replayed by the DuckDB oracle. */
  def q23SimhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(tbl(s, dir, "documents"), "doc_id", "text", maxHamming = 3,
      portable = true)

  /** Brute-force cosine pairs above threshold for a deterministic query
    * subset — the exact-ANN baseline; the kernel the LSH path reranks with. */
  def q24CosinePairs(s: SparkSession, dir: String): DataFrame = {
    val e = tbl(s, dir, "embeddings")
    val q = e.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    e.crossJoin(broadcast(q))
      .filter(col("qid") < col("vec_id"))
      .select(col("qid"), col("vec_id").as("nid"),
        S.cosine(col("qvec"), col("embedding")).as("cos"))
      .filter(col("cos") > 0.3)
      .select(col("qid"), col("nid"), round(col("cos"), 4).as("cos"))
  }

  /** LSH-bucketed ANN top-k (rows-only: approximate by construction). */
  def q25LshTopK(s: SparkSession, dir: String): DataFrame = {
    val e = tbl(s, dir, "embeddings")
    val q = e.filter(col("vec_id") % 50 === 0)
    Ann.lshTopK(e, q, "vec_id", "embedding", "vec_id", "embedding", k = 5)
      .select(col("qid"), col("nid"), col("rank"))
  }

  /** Heuristic language ID over stopword profiles. */
  def q26LanguageId(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").select(col("doc_id"), T.languageId(col("text")).as("lang_pred"))

  /** Flagship: the reference fact query (`r2g_account.py:160-208`) mapped
    * onto the testdata star schema — identical CTE structure: 3 agg CTEs
    * (count / count-distinct / sum / avg / collect-distinct), 2 cumulative
    * windows, the 5-way join INCLUDING the reference's cust_id-only fan-out
    * join on c2, the month-of-any-year join on c3, and the misspelled
    * output column. Determinism fixes for hashing only: sorted collect_set,
    * round(…,4) on double outputs, orders subsampled to bound the fan-out.
    */
  def q27FactSnapshot(s: SparkSession, dir: String): DataFrame = {
    tbl(s, dir, "orders").filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey").as("trans_id"), col("o_custkey").as("acc_id"),
        col("o_totalprice").as("amount"), to_date(col("o_orderdate")).as("transaction_date"),
        col("o_orderpriority").as("type_nm"))
      .createOrReplaceTempView("q27_pm")
    tbl(s, dir, "customer")
      .select(col("c_custkey").as("acc_id"), pmod(col("c_custkey"), lit(200)).as("cust_id"),
        col("c_mktsegment").as("acc_type"))
      .createOrReplaceTempView("q27_account")
    // The reference SQL repeats the pm⋈account join in three CTEs, which
    // plans as three scans of the fact input. Materialize the shared join
    // once — semantics identical, one scan (the engine-level CSE the
    // optimizer can't do across a cached boundary by itself).
    val pma = s.sql("select pm.*, a.cust_id, a.acc_type from q27_pm pm join q27_account a on pm.acc_id = a.acc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pma.createOrReplaceTempView("q27_pma")
    val nShuf = s.sessionState.conf.numShufflePartitions
    val out = s.sql(s"""
      with cte_transaction_revenue as (
          select transaction_date, cust_id,
              count(trans_id) as cust_no_transaction_daily,
              sum(amount) as cust_daily_spending,
              sort_array(collect_set(type_nm)) as cust_daily_payment_type
          from q27_pma
          group by transaction_date, cust_id
      ),
      cte_cust_accum_revenue as (
          select cust_id,
              sum(cust_daily_spending) over (partition by cust_id order by transaction_date) as cust_accum_spending
          from cte_transaction_revenue
      ),
      cte_account_payment_summary as (
          select transaction_date, cust_id, acc_id, acc_type as account_type_name,
              count(distinct trans_id) as account_no_transactions_daily,
              sum(amount) as account_daily_spending
          from q27_pma
          group by transaction_date, cust_id, acc_id, acc_type
      ),
      -- a1 probe-side scatter (r14, guide §2.2): every join in the final
      -- select is a BroadcastHashJoin probing a1, so a1's post-AQE width
      -- (3 tasks — coalescing sizes by the aggregate's small map output)
      -- carries into the cust_id fan-out join, which EXPLODES inside
      -- those tasks. An EXPLICIT partition count is AQE-exempt
      -- (numberless REPARTITION hints are re-coalesced — measured); the
      -- width is interpolated from the session conf, so it scales with
      -- the deployment. A separate wrapper CTE keeps the hint out of the
      -- a2 window subtree, which does not need it. Rows unchanged.
      cte_account_payment_summary_wide as (
          select /*+ REPARTITION($nShuf, transaction_date, cust_id) */ *
          from cte_account_payment_summary
      ),
      cte_account_accum_revenue as (
          select transaction_date, cust_id, acc_id, account_daily_spending,
              sum(account_daily_spending) over (partition by cust_id, acc_id order by transaction_date) as account_accum_spending
          from cte_account_payment_summary
      ),
      cte_customer_avgerage_daily_spending as (
          select month(transaction_date) as month, cust_id,
              -- integer-arithmetic 4dp mean (see q16MonthJoin): the mean
              -- of this group structure lands ON .00005 boundaries at
              -- sf0.1 (232121.44875), where Spark round(double)
              -- (shortest-repr half-up) and DuckDB (binary std::round)
              -- disagree — round in integers, cast the exact multiple
              cast((cast(sum(cast(amount as decimal(18,2))) * 10000 as bigint) * 2
                    + count(*)) div (2 * count(*)) as double) / 10000.0 as cust_avgerage_daily_spending
          from q27_pma
          group by month(transaction_date), cust_id
      )
      select date_format(a1.transaction_date, 'yyyyMMdd') as date_key, a1.cust_id, a1.acc_id, a1.account_type_name,
              a1.account_no_transactions_daily,
              round(a1.account_daily_spending, 4) as account_daily_spending,
          round(a2.account_accum_spending, 4) as account_accum_spending,
          c1.cust_no_transaction_daily, round(c1.cust_daily_spending, 4) as cust_daily_spending,
          array_join(c1.cust_daily_payment_type, '|') as cust_daily_payment_type,
          round(c2.cust_accum_spending, 4) as cust_accum_spending,
          round(c3.cust_avgerage_daily_spending, 4) as cust_avgerage_daily_spending
      from cte_account_payment_summary_wide a1
          join cte_account_accum_revenue a2 on a1.transaction_date = a2.transaction_date and a1.cust_id = a2.cust_id and a1.acc_id = a2.acc_id
          join cte_transaction_revenue c1 on a1.transaction_date = c1.transaction_date and a1.cust_id = c1.cust_id
          join cte_cust_accum_revenue c2 on c1.cust_id = c2.cust_id
          join cte_customer_avgerage_daily_spending c3 on c3.month = month(a1.transaction_date) and c3.cust_id = a1.cust_id
    """)
    // NB q27_pma stays registered: dropTempView would uncache the persisted
    // join before the (lazy) query runs; Verify/Bench clear the cache after
    // each query.
    Seq("q27_pm", "q27_account").foreach(s.catalog.dropTempView)
    out
  }

  /** Structured Streaming path (§2.13): the same hourly rollup as q18 but
    * computed by a streaming query over the events file source (memory sink,
    * complete mode, drained synchronously). Proves the streaming plumbing
    * produces batch-identical results — checked against the q18 oracle. */
  /** Cloned streaming session + events file-stream source, shared by the
    * streaming battery queries (q28/q76/q94) so the subtle setup lives
    * once. One state store spins up per shuffle partition at stream start
    * — size the partition count to the STATE cardinality (a few dozen to
    * a few thousand groups), not the batch default: 32 stores for tiny
    * state is pure bring-up overhead (measured 2.1s → 1.1s at 8). State
    * sizing is a session conf with no repartition-based alternative, so
    * the stream runs in its OWN cloned session (shared SparkContext,
    * isolated conf) — concurrent queries on the caller's session are
    * untouched. The events table is a single parquet file and the
    * file-stream source needs a directory, so the source streams the sf
    * dir with a glob filter. */
  private def eventsStreamSession(s: SparkSession,
                                  dir: String): (SparkSession, () => DataFrame) = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    val schema = graft.sources.Pq.read(ss, s"$dir/events.parquet").schema
    (ss, () => ss.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir))
  }

  /** Materialize a SMALL result locally, delete the temp dir backing it,
    * and return a local-relation frame — repeated Bench/Verify iterations
    * of temp-writing queries must not accumulate unbounded /tmp data
    * (the result is lazy, so the dir cannot be deleted before a
    * collect). Only for by-construction-small results. */
  private def materializeAndCleanup(s: SparkSession, df: DataFrame,
                                    tmpDir: String): DataFrame = {
    val rows = df.collect()
    val out = s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
    graft.plan.Checkpoints.release() // rows are local now; drop checkpoints
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpDir))
    out
  }

  /** Checkpoint hygiene for gates whose operators leave ESCAPING
    * localCheckpoints behind ([[graft.plan.Checkpoints]] — VERDICT r11
    * "What's wrong #1"): materialize the bounded gate output as a
    * driver-local relation, then blocking-release every tracked
    * checkpoint. The returned frame holds its rows locally, so the
    * session is left with ZERO persisted RDDs after the query — the
    * long-lived-session contract a battery sweep only papers over. */
  private def sealQuery(fn: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame = (s, dir) => {
    val df = fn(s, dir)
    val rows = df.collect()
    val out = s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
    graft.plan.Checkpoints.release()
    out
  }

  /** Drain a streaming frame through a memory sink to completion. */
  private def drainToTable(ss: SparkSession, df: DataFrame, name: String,
                           mode: String): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    try q.processAllAvailable() finally q.stop()
    ss.table(name)
  }

  def q28StreamRollup(s: SparkSession, dir: String): DataFrame = {
    val (ss, src) = eventsStreamSession(s, dir)
    val stream = normalizeTs(src())
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total_value"))
    drainToTable(ss, stream, "q28_stream_rollup_sink", "complete")
  }

  /** Nest → explode round trip (`scripts_utils.py:58-83`): collect all
    * columns per group into an array of structs, then explode and unpack
    * with `select("col.*")` — the backup/restore shape of §2.14. */
  def q29NestUnnest(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "nation")
      .groupBy(col("n_regionkey"))
      .agg(collect_list(struct(col("n_nationkey"), col("n_name"))).as("items"))
      .select(col("n_regionkey"), explode(col("items")).as("item"))
      .select(col("n_regionkey"), col("item.n_nationkey"), col("item.n_name"))

  /** The crawler-undo argmax idiom (`crawler_undo.py:54-57`): groupBy-max +
    * self-join on a compound equality — latest order(s) per customer. */
  def q30Argmax(s: SparkSession, dir: String): DataFrame = {
    val orders = tbl(s, dir, "orders")
    val latest = orders.groupBy(col("o_custkey").as("l_custkey"))
      .agg(max(col("o_orderdate")).as("max_date"))
    orders.join(latest,
        orders("o_custkey") === latest("l_custkey") && orders("o_orderdate") === latest("max_date"))
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  /** Quality scoring + BPE-ish token counting over documents (training-data
    * filtering ops). The quality formula is deterministic arithmetic over
    * length/punctuation/stopword features, reproduced exactly in the
    * oracle. */
  def q31TextQuality(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").select(
      col("doc_id"),
      T.qualityScore(col("text"), Seq("the", "a")).as("quality"),
      T.approxBpeTokenCount(col("text")).as("bpe_tokens"))

  /** Embedding near-dup pairs via hyperplane-LSH buckets. Promoted to an
    * exact oracle in round 5: the 8×64 plane matrix is embedded in the
    * DuckDB SQL as literals (doubles round-trip via shortest repr), so the
    * oracle replays bucketing + exact-cosine verify bit-for-bit. Threshold
    * 0.42197 sits mid-gap ≥1.8e-4 from every pair's cosine at BOTH sf0.01
    * and sf0.1 (probed; the old 0.4 was 9.9e-6 from a data point at sf0.1)
    * and keeps the result non-empty at sf0.01; min |plane·vec| = 4.4e-5 ≫
    * FP summation-order error, so sign decisions replay exactly. */
  def q32EmbeddingDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingPairs(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.42197, planes = 8)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))

  /** Bottom-k document fingerprints over the PORTABLE md5-60 hash, so the
    * DuckDB oracle replays the sketch bit-for-bit (promoted from rows-only
    * in round 5; the xxhash64 variant stays the at-scale default). The
    * sketch is emitted as a joined string: the driver's pandas compare
    * sorts rows by every column and list cells are unhashable there. */
  def q33Fingerprint(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").select(
      col("doc_id"),
      array_join(T.fingerprintPortable(col("text"), shingleLen = 3, k = 16).cast("array<string>"), "|").as("fp"))

  /** IVF ANN top-k. Promoted to an exact oracle in round 6: Ivf's fit is
    * now a pure function of the data (md5-ordered init + exact bigint Lloyd
    * sums on 1e-6-quantized vectors), so the oracle unrolls init + both
    * Lloyd rounds in DuckDB and replays assignment/probing/ranking
    * verbatim. Probed at sf0.01 AND sf0.1: argmin gaps ≥ 2e7 in quantized
    * d² units (vs ~1e-2 FP error), probe-boundary gap ≥ 1.4e8, min
    * adjacent candidate cos gap through rank 7 ≥ 1e-4 ≫ cross-engine FP
    * divergence (tools/probe_ivf.py). */
  def q34IvfTopK(s: SparkSession, dir: String): DataFrame = {
    val e = tbl(s, dir, "embeddings")
    val model = Ivf.fit(e, "vec_id", "embedding", numCells = 16, iterations = 2)
    val q = e.filter(col("vec_id") % 50 === 0)
    Ivf.topK(e, q, model, "vec_id", "embedding", "vec_id", "embedding", k = 5, nProbes = 4)
      .select(col("qid"), col("nid"), col("rank"))
  }

  /** dropNullFields (`transforms/drop_nulls.py`): NullType columns vanish,
    * including inside structs. */
  def q35DropNullFields(s: SparkSession, dir: String): DataFrame =
    DynFrame(tbl(s, dir, "region").select(
      col("r_regionkey"), col("r_name"),
      lit(null).as("dead"),
      struct(col("r_name").as("keep"), lit(null).as("gone")).as("s")), "r")
      .dropNullFields().toDF
      .select(col("r_regionkey"), col("r_name"), col("s.keep").as("keep"))

  /** unnestDdbJson: strip a DynamoDB-typed encoding built over nation. */
  def q36DdbUnnest(s: SparkSession, dir: String): DataFrame = {
    val tagged = tbl(s, dir, "nation").select(
      col("n_nationkey"),
      struct(col("n_name").as("S"), lit(null).cast("string").as("N")).as("name"),
      struct(lit(null).cast("string").as("S"), col("n_regionkey").cast("string").as("N")).as("rk"))
    graft.restructure.Restructure.unnestDdbJson(tagged)
      .select(col("n_nationkey"), col("name"), col("rk"))
  }

  /** Row-level filter with the reference's error-class contract
    * (`dynamicframe.py:80-94`): data-shape errors drop rows silently. */
  def q37FilterRows(s: SparkSession, dir: String): DataFrame =
    DynFrame(tbl(s, dir, "supplier"), "supp")
      .filterRows({ r =>
        val k = r.getAs[Long]("s_suppkey")
        if (k % 10 == 0) throw new IllegalArgumentException("shape error -> dropped")
        k % 3 == 0
      }, "q37")
      .toDF.select(col("s_suppkey"), col("s_name"))

  /** Gap-based sessionization over the event stream (batch shape; the
    * stateful streaming twin is Sessionize.streamingCounts). One shuffle:
    * all three window passes share the per-user partitioning. */
  def q38Sessionize(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Sessionize.batchSessions(
      events(s, dir), "user_id", "ts", "value", tieBreak = "event_id", gapSeconds = 3600)

  /** Salted skew join (§ scale tools): identical result to the plain join,
    * with the hot key's rows scattered across salt buckets. */
  def q39SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val orders = tbl(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val statusDim = tbl(s, dir, "orders")
      .groupBy(col("o_orderstatus")).agg(round(avg(col("o_totalprice")), 4).as("avg_price"))
    graft.frame.Skew.saltedJoin(orders, statusDim, "o_orderstatus", salt = 8)
      .select(col("o_orderkey"), col("o_orderstatus"), col("avg_price"))
  }

  /** Ranking window top-k per group (SURVEY §2.5 notes ranking functions as
    * the natural extension of the argmax idiom): top-3 orders by price per
    * customer, tie-broken on orderkey for a total order. One shuffle on the
    * partition key; the filter on rank happens before any downstream work. */
  def q40TopKPerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    tbl(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).as("rk"))
      .filter(col("rk") <= 3)
  }

  /** Gopher-style repetition quality stats per document: most-frequent-bigram
    * coverage and duplicate-bigram fraction — the boilerplate filters of a
    * training-data pipeline. Row-local native kernel (no shuffle). */
  def q41Repetition(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .withColumn("__rs", T.ngramRepetition(col("text"), 2))
      .select(col("doc_id"),
        round(col("__rs.top_frac"), 4).as("top_bigram_frac"),
        round(col("__rs.dup_frac"), 4).as("dup_bigram_frac"))

  /** Benchmark decontamination: corpus docs sharing word 3-grams with the
    * held-out benchmark slice (doc_id % 50 == 0), with shared-gram counts.
    * The benchmark gram set broadcasts; the corpus never shuffles. */
  def q42Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    Dedup.contaminationReport(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0),
        "doc_id", "text", n = 3)
      .select(col("id").as("doc_id"), col("n_shared_ngrams"))
  }

  /** Deterministic hash-based dataset split (train/val/test 8/1/1): the
    * split is a pure function of doc_id — stable across runs, engines, and
    * cluster sizes, unlike seed-based sample(). Map-side only, no shuffle. */
  def q43HashSplit(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").select(
      col("doc_id"),
      graft.curate.Curate.splitLabel(col("doc_id"),
        Seq("train" -> 8, "val" -> 1, "test" -> 1)).as("split"))

  /** Corpus TF-IDF per (doc, term) — smoothed idf, exact counts. */
  def q44Tfidf(s: SparkSession, dir: String): DataFrame =
    graft.curate.Curate.tfidf(tbl(s, dir, "documents"), "doc_id", "text")
      .select(col("id").as("doc_id"), col("term"), col("tf"), col("df"),
        round(col("tfidf"), 4).as("tfidf"))

  /** PII redaction + whitespace normalization over documents, with
    * deterministic synthesized contact info (the corpus itself is clean).
    * Pure regexp chain — codegen'd, row-local, no shuffle. */
  def q45RedactPii(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").select(
      col("doc_id"),
      T.normalizeWhitespace(T.redactPii(concat(
        col("text"),
        lit(" contact: user"), col("doc_id").cast("string"),
        lit("@corp.example.com or 555-123-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))).as("clean"))

  /** Dataset-level overlap via group-merged MinHash sketches: estimated
    * shingle-set Jaccard between every pair of sources. PORTABLE hashing —
    * the oracle rebuilds each source's merged signature directly as
    * min-over-all-source-shingles per permutation (elementwise-min merge of
    * per-doc signatures ≡ the signature of the union of shingle sets). */
  def q46SourceSketch(s: SparkSession, dir: String): DataFrame =
    Dedup.datasetSketchPairs(tbl(s, dir, "documents"), "text", "source",
        portable = true)
      .select(col("group_a"), col("group_b"), round(col("est_jaccard"), 4).as("est_jaccard"))

  /** Full dup-cluster structure: connected components over the exact-Jaccard
    * near-dup pairs of q21 — every clustered doc labeled with the smallest
    * id in its component. The oracle computes the same fixpoint with a
    * recursive CTE (exact because LSH recall is 1.0 at this threshold on
    * this corpus — same invariant q21 leans on). */
  def q47DupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.ngramJaccardPairs(tbl(s, dir, "documents"), "doc_id", "text",
      shingleLen = 3, threshold = 0.9)
    Dedup.duplicateClusters(pairs.select(col("id_a"), col("id_b")))
      .select(col("id").as("doc_id"), col("cluster_id"))
  }

  /** Character-entropy quality proxy per document (bits). */
  def q48CharEntropy(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").select(
      col("doc_id"), round(T.charEntropy(col("text")), 4).as("char_entropy"))

  /** Bigram-LM quality score: corpus-trained mean log P(w2|w1) per doc. */
  def q49BigramLm(s: SparkSession, dir: String): DataFrame =
    graft.curate.Curate.bigramLogProb(tbl(s, dir, "documents"), "doc_id", "text")
      .select(col("id").as("doc_id"), round(col("bigram_logprob"), 4).as("bigram_logprob"))

  /** Multimodal end-to-end over REAL binary media (rows-only: the feature
    * vector keeps it non-SQL): each document synthesizes a deterministic
    * 24-bit BMP (dims from doc_id, pixels from its text bytes) via the
    * real encoder, then batched REAL decode → mean-pool feature
    * extraction → metadata resize; output carries the decoded dims, the
    * resized box, and a feature checksum. */
  /** Synthetic media table over `documents`: one BMP24 payload per doc,
    * pixel bytes from the doc text, dimensions from construction
    * arithmetic (w = id%29+2, h = id%17+2, meta box = 100×) — which is
    * what lets q101 check the decode round-trip against an exact oracle. */
  private def mediaFixture(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{MediaCodec, Multimodal}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val src = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
    Multimodal.mapInBatches(src, StructType(Seq(
      StructField("media_id", LongType),
      StructField("payload", BinaryType),
      StructField("meta", Multimodal.MediaMetaType)))) { batch =>
      batch.iterator.map { r =>
        val id = r.getLong(0)
        val w = (id % 29 + 2).toInt
        val h = (id % 17 + 2).toInt
        val txt = Option(r.getString(1)).getOrElse("").getBytes("UTF-8")
        val rgb = new Array[Byte](w * h * 3)
        var i = 0
        while (i < rgb.length) {
          rgb(i) = if (txt.isEmpty) (i % 251).toByte else txt(i % txt.length)
          i += 1
        }
        Row(id, MediaCodec.encodeBmp24(w, h, rgb),
          Row("bmp", w * 100, h * 100, 2000L))
      }
    }
  }

  def q50Multimodal(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = mediaFixture(s, dir)
    val decoded = Multimodal.decodeImages(media)
    val feats = Multimodal.extractFeatures(decoded, dim = 16)
    Multimodal.resizeMeta(feats, 64, 64)
      .select(col("media_id"), col("dec_width"), col("dec_height"),
        col("meta.width").as("resized_w"), col("meta.height").as("resized_h"),
        round(aggregate(col("embedding"), lit(0.0d), (acc, x) => acc + x), 4).as("feat_sum"))
  }

  /** Cross-document duplicated-segment fraction per doc (10-token chunks). */
  def q51DupSegments(s: SparkSession, dir: String): DataFrame =
    Dedup.dupSegmentFraction(tbl(s, dir, "documents"), "doc_id", "text", segLen = 10)
      .select(col("id").as("doc_id"), round(col("dup_segment_frac"), 4).as("dup_segment_frac"))

  /** Token-window chunking into training sequences (32-token windows,
    * 8-token overlap). */
  def q52ChunkTokens(s: SparkSession, dir: String): DataFrame =
    graft.curate.Curate.chunkTokens(tbl(s, dir, "documents"), "doc_id", "text",
        maxTokens = 32, overlap = 8)
      .select(col("id").as("doc_id"), col("chunk_idx"), col("chunk_text"),
        col("n_tokens").cast("long").as("n_tokens"))

  /** Avro box → unbox round-trip through the real binary codec: documents
    * rows encode to raw avro binary (per-partition GenericDatumWriter),
    * decode back through `unbox(.., "avro")`, and must equal the source —
    * the DuckDB oracle reads the original table, so any codec asymmetry
    * (null handling, union branches, charset) hash-mismatches. */
  def q53UnboxAvro(s: SparkSession, dir: String): DataFrame = {
    import graft.restructure.{AvroCodec, Restructure}
    val schemaJson =
      """{"type":"record","name":"doc","fields":[
        | {"name":"doc_id","type":"long"},
        | {"name":"lang","type":["null","string"]},
        | {"name":"source","type":["null","string"]},
        | {"name":"n_chars","type":"long"}]}""".stripMargin
    val boxed = AvroCodec.boxAvro(
      tbl(s, dir, "documents")
        .select(struct(col("doc_id"), col("lang"), col("source"), col("n_chars")).as("payload")),
      "payload", schemaJson)
    Restructure.unbox(boxed, "payload", "avro", avroSchema = Some(schemaJson))
      .select(col("payload.doc_id").as("doc_id"), col("payload.lang").as("lang"),
        col("payload.source").as("source"), col("payload.n_chars").as("n_chars"))
  }

  /** Quality-aware dedup retention: near-dup clusters (q47's exact-recall
    * pair graph) each keep their longest member (tie → smallest id);
    * everything unclustered survives. Oracle = recursive-CTE clusters +
    * window argmax. */
  def q54ClusterSurvivors(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleLen = 3, threshold = 0.9)
    Dedup.bestPerCluster(docs, "doc_id", pairs.select(col("id_a"), col("id_b")),
      length(trim(col("text"))).cast("long"))
  }

  /** Per-source corpus statistics report — the dataset-card numbers
    * (volume, language spread, length distribution incl. exact
    * median/p90). Exact `percentile` (linear interpolation, matching
    * DuckDB's quantile_cont) rather than percentile_approx so the oracle
    * can hash-match; at 100 TB swap to percentile_approx and accept the
    * sketch bound. One shuffle on the (low-cardinality) source key. */
  def q55CorpusStats(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("lang")).as("n_langs"),
      sum("n_chars").as("total_chars"),
      round(avg("n_chars"), 4).as("avg_chars"),
      round(expr("percentile(n_chars, 0.5)"), 4).as("median_chars"),
      round(expr("percentile(n_chars, 0.9)"), 4).as("p90_chars"))

  /** As-of join (union+window, one shuffle — [[graft.operators.Temporal]]):
    * every click gets the user's latest prior-or-equal purchase;
    * left-outer (clicks before any purchase keep nulls). Timestamps emit
    * as epoch micros on both sides (Spark reads the NANOS parquet via
    * `div 1000`, DuckDB casts NS→US — identical truncation). */
  def q56AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("value").as("click_value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    graft.operators.Temporal.asofJoin(clicks, purchases, Seq("user_id"), "ts", Seq("value"))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("click_us"),
        unix_micros(col("asof_ts")).as("purchase_us"),
        round(col("asof_value"), 4).as("purchase_value"))
  }

  /** Binned range join ([[graft.operators.Temporal.intervalJoin]]): clicks
    * landing inside any same-user 12-hour post-purchase window, one row
    * per (click, window) pair. Oracle = plain inequality join in DuckDB;
    * the Spark plan is the bin-bucketed equi-join — same rows, no
    * per-key cross product. */
  def q57RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val winUs = 12L * 3600 * 1000000
    val ev = events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("click_us"))
    val windows = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("win_start"),
        (unix_micros(col("ts")) + winUs).as("win_end"))
    graft.operators.Temporal.intervalJoin(clicks, windows, Seq("user_id"),
        "click_us", "win_start", "win_end", binWidth = winUs)
      .select(col("event_id"), col("user_id"), col("click_us"), col("win_start"))
  }

  /** Multi-level aggregation via ROLLUP (grouping sets): per-(source,lang)
    * stats plus per-source and grand totals in ONE pass — Catalyst expands
    * the sets and keeps the aggregation partial/map-side, so at scale this
    * beats three separate groupBys + union (one shuffle, one scan). The
    * grouping-id column disambiguates subtotal rows; group keys coalesce
    * to 'ALL' so every output cell is a plain scalar. */
  def q58Rollup(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .rollup(col("source"), col("lang"))
      .agg(
        (grouping(col("source")) * 2 + grouping(col("lang"))).cast("int").as("gid"),
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"))
      .select(
        coalesce(col("source"), lit("ALL")).as("source"),
        coalesce(col("lang"), lit("ALL")).as("lang"),
        col("gid"), col("n_docs"), col("total_chars"))

  /** Pivot (long→wide): language distribution per source as one wide row.
    * Explicit pivot values keep the schema static — at scale an implicit
    * pivot first runs a distinct scan over the pivot column; naming the
    * values skips that pass entirely. Absent cells fill 0 (SQL conditional
    * aggregation semantics, matching the FILTER-clause oracle). */
  def q59Pivot(s: SparkSession, dir: String): DataFrame = {
    val langs = Seq("en", "de", "es", "fr", "zh")
    tbl(s, dir, "documents")
      .groupBy("source")
      .pivot("lang", langs)
      .agg(count(lit(1)))
      .na.fill(0L, langs)
  }

  /** Unpivot (wide→long, a.k.a. melt): the four lineitem measures become
    * (metric, value) rows, then aggregate per metric. Unpivot is pure
    * map-side (no shuffle, no join against a metric spine); the only
    * shuffle is the 4-group aggregation. */
  def q60Unpivot(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .unpivot(
        Array.empty[Column],
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "metric", "v")
      .groupBy("metric")
      .agg(round(sum("v"), 4).as("total"))

  /** Day-over-day deltas via lag(): daily event counts per type, each row
    * carrying its change vs the previous day. The window is per-type
    * ordered by day — partitioned, so no global single-partition sort;
    * first day keeps a null delta (no synthetic zero). */
  def q61LagDelta(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("day")
    daily.select(col("event_type"), col("day"), col("n"),
      (col("n") - lag("n", 1).over(w)).as("delta"))
  }

  /** Per-source vocabulary statistics: total token volume, distinct-token
    * vocabulary, and type-token ratio. The distinct count shuffles
    * (source, token) pairs — Catalyst's two-phase distinct aggregate —
    * which is the exact shape that scales: token strings move once,
    * partials combine map-side. */
  def q62VocabStats(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("source"), explode(T.tokens(col("text"))).as("tok"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("total_tokens"),
        countDistinct(col("tok")).as("vocab"),
        round(countDistinct(col("tok")).cast("double") / count(lit(1)), 4)
          .as("type_token_ratio"))

  /** Exact top-10 tokens per source via sketch-proposes / exact-verifies:
    * a Misra-Gries sketch (k=64 counters, mergeable, map-side partials —
    * the token stream itself never shuffles) proposes candidates, then an
    * exact count of ONLY those candidates ranks them. Guaranteed exact
    * whenever every true top-10 count exceeds tokens/(k+1) — probed true
    * at both sf0.01 and sf0.1 with ≥2x margin (rank-10 counts 45+ vs
    * bound ~23 at sf0.01; 447+ vs ~223 at sf0.1). Deterministic
    * tie-break (n DESC, tok ASC) on both sides. */
  def q63HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.expressions.MisraGriesAgg.misraGries
    val toks = tbl(s, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("source"), explode(T.tokens(col("text"))).as("tok"))
    val cands = toks.groupBy("source").agg(misraGries(col("tok"), 64).as("mg"))
      .select(col("source"), explode(col("mg")).as("c"))
      .select(col("source"), col("c.tok").as("tok"))
    val exact = toks.join(broadcast(cands), Seq("source", "tok"), "left_semi")
      .groupBy("source", "tok").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("source").orderBy(col("n").desc, col("tok").asc)
    exact.select(col("source"), col("tok"), col("n"),
        row_number().over(w).as("rk"))
      .filter(col("rk") <= 10)
  }

  /** Bloom-prefiltered benchmark decontamination — exact survivors despite
    * the approximate prefilter: a fixed-size Bloom filter over benchmark
    * 4-gram hashes prunes the corpus gram stream inside the scan (codegen'd
    * bit probe, no join), and the exact verify join removes the filter's
    * false positives. Output is provably identical to the broadcast-join
    * path, so the oracle is plain exact SQL. */
  def q64BloomDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    Dedup.bloomDecontaminate(
        docs.filter(col("doc_id") % 40 =!= 0),
        docs.filter(col("doc_id") % 40 === 0),
        "doc_id", "text", n = 4)
      .select(col("doc_id"), col("source"))
  }

  /** Deterministic weighted source mixing — epoch-replication upsampling
    * (src0 ×2.5, src1 ×0.25, src2 ×1.0, everything else ×0.75). Map-side
    * only; the fractional epoch keep is an md5(id:epoch) bucket test the
    * oracle reproduces bit-for-bit (same trick as q43's split). */
  def q65WeightedMix(s: SparkSession, dir: String): DataFrame =
    graft.curate.Curate.weightedMix(
        tbl(s, dir, "documents").select(col("doc_id"), col("source")),
        "doc_id", "source",
        Map("src0" -> 2.5, "src1" -> 0.25, "src2" -> 1.0),
        defaultWeight = 0.75)
      .select(col("doc_id"), col("source"), col("epoch"))

  /** Greedy next-fit sequence packing of q52's chunks into 64-token
    * training rows: one hash shuffle on doc_id + in-partition sort, then a
    * streaming per-doc scan. The oracle replays the same sequential rule
    * with a recursive CTE. */
  def q66PackChunks(s: SparkSession, dir: String): DataFrame = {
    val chunks = graft.curate.Curate.chunkTokens(
      tbl(s, dir, "documents"), "doc_id", "text", maxTokens = 32, overlap = 8)
    // drop chunk_text BEFORE packing: the packer's one shuffle + sort
    // should carry three ints per row, not the chunk payload (the
    // mapPartitions row-encoder boundary blocks column pruning)
    graft.curate.Curate.packNextFit(
        chunks.select(col("id"), col("chunk_idx"), col("n_tokens")),
        "id", "chunk_idx", "n_tokens", capacity = 64)
      .select(col("id").as("doc_id"), col("chunk_idx"), col("n_tokens"), col("seq_idx"))
  }

  /** Top-3 line items per supplier through the custom heap operator
    * ([[graft.plan.TopKPerGroupNode]] + partial/final exec): per-partition
    * size-k heaps BEFORE the shuffle cut shuffle volume to partitions ×
    * suppliers × 3 rows, vs the window formulation's full shuffle + sort of
    * all 600k rows. The oracle is the plain row_number window — results
    * must be identical (the ordering is total: price, orderkey,
    * linenumber). */
  def q67TopkHeap(s: SparkSession, dir: String): DataFrame =
    graft.plan.TopKPerGroup(
      tbl(s, dir, "lineitem").select(col("l_suppkey"), col("l_orderkey"),
        col("l_linenumber"), col("l_extendedprice").cast("double").as("price")),
      Seq(col("l_suppkey")),
      Seq(col("price").desc, col("l_orderkey").asc, col("l_linenumber").asc),
      k = 3)

  /** SemDeDup survivors over the embeddings table: IVF-cell clustering +
    * within-cell exact cosine + keep-min-id-per-component. Promoted to an
    * exact oracle in round 6 (deterministic quantized Ivf.fit — see q34);
    * the oracle replays the fit, the 2-probe bucketing, the threshold
    * filter, and the connected-components prune (q91's recursive-CTE
    * pattern). Threshold sits mid-gap at 0.400235: ≥ 1.23e-4 from the
    * nearest candidate cos at sf0.1 and ≥ 2.9e-4 at sf0.01 (probed — 0.4
    * itself had a 9.9e-6 neighbor at sf0.1). Buckets max out at 536 rows
    * at sf0.1, far under the 10k collect cap the oracle doesn't model. */
  def q68SemanticPrune(s: SparkSession, dir: String): DataFrame =
    Dedup.semanticPrune(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        numCells = 8, probes = 2, threshold = 0.400235)
      .select(col("vec_id"), col("label"))

  /** Per-source distinct-token estimate via the KMV order-statistic sketch
    * (k = 16 minima of the engine-portable md5 hash): the sketch is exactly
    * reproducible in DuckDB (sort + window), so the APPROXIMATE estimator
    * hash-matches an exact oracle — the whole point of choosing an order
    * statistic over HLL. Sources with fewer than k distinct tokens fall
    * back to the exact count (sketch not full). */
  def q69KmvDistinct(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.expressions.KmvDistinctAgg.kmvSketch
    val k = 16
    val toks = tbl(s, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("source"), explode(T.tokens(col("text"))).as("tok"))
    toks.groupBy("source")
      .agg(kmvSketch(graft.curate.Curate.portableHash60(col("tok")), k).as("mins"))
      .select(col("source"),
        graft.functions.expressions.KmvDistinctAgg.estimateDistinct(col("mins"), k)
          .as("est_distinct"))
  }

  /** Full CUBE over (returnflag, linestatus): all four grouping sets —
    * detail, each one-key subtotal, grand total — in ONE scan + ONE
    * partial/map-side-combined aggregation (q58's ROLLUP covers only the
    * prefix sets). At scale the alternative is four groupBys + union =
    * four scans; Catalyst's Expand keeps it to one. */
  def q70CubeAgg(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        (grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
          .cast("int").as("gid"),
        count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 4).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("gid"), col("n"), col("sum_qty"))

  /** The distribution-rank window family — ntile quartiles, percent_rank,
    * cume_dist, dense_rank — per market segment. The ordering includes
    * c_custkey so it is TOTAL (c_acctbal carries duplicates in the data:
    * 1499 distinct / 1500 rows at sf0.01); without the tie-break every one
    * of these functions is nondeterministic across engines. Windows are
    * partitioned by segment, so no single-partition global sort. */
  def q71RankWindows(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    tbl(s, dir, "customer").select(
      col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
      ntile(4).over(w).as("quartile"),
      round(percent_rank().over(w), 4).as("pct_rank"),
      round(cume_dist().over(w), 4).as("cum_dist"),
      dense_rank().over(w).as("drank"))
  }

  /** INTERSECT (set semantics): customers that placed orders in BOTH
    * statuses. Plans as aggregate + left-semi hash join on the
    * deduplicated sides — each branch's filter reaches its own parquet
    * scan, and at 100 TB this is one key-shuffle of custkeys, never of
    * order payloads (q07 covers the EXCEPT twin). */
  def q72Intersect(s: SparkSession, dir: String): DataFrame = {
    val orders = tbl(s, dir, "orders")
    orders.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      .intersect(
        orders.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
  }

  /** Shared bipartite part↔supplier edge builder for q73/q81: dedup the
    * 600k UNDIRECTED pairs first, then mirror map-side (half the rows
    * through the dedup shuffle vs distinct-after-explode; the consumers
    * pass `assumeDistinct = true`). Suppliers ride as −(s+1): both key
    * spaces start at 0 in the data, so a bare negation would merge part 0
    * and supplier 0 into one corrupted node — and identically so in the
    * oracle, which is exactly the class of error the hash-match gate
    * cannot catch. */
  private def partSupplierEdges(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .select(col("l_partkey").as("p"), col("l_suppkey").as("s")).distinct()
      .select(explode(array(
        struct(col("p").as("src"), (-(col("s") + 1)).as("dst")),
        struct((-(col("s") + 1)).as("src"), col("p").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** PageRank (3 fixed iterations) over the bipartite part↔supplier
    * graph; [[graft.graph.Graph.pageRank]] owns the degree join and the
    * per-round aggregate-messages loop. The graph is degree-skewed (each
    * supplier serves ~500 parts, each part ~2-5 suppliers), so ranks
    * spread over ~350 distinct rounded values at sf0.01 — a real signal,
    * unlike the near-complete supplier co-purchase graph whose ranks all
    * collapse to 1.0. Probed with the −(s+1) encoding: min distance of
    * any r₃ to a round-4 boundary is 2.0e-8 (sf0.01) / 2.7e-9 (sf0.1),
    * orders of magnitude above cross-engine float noise. */
  def q73PageRank(s: SparkSession, dir: String): DataFrame =
    graft.graph.Graph.pageRank(partSupplierEdges(s, dir), "src", "dst",
        iterations = 3, assumeDistinct = true)
      .select(col("id"), round(col("pr"), 4).as("pr"))

  /** Count-min sketch point estimates for the exact global top-20 tokens,
    * reported next to their true counts. The sketch
    * ([[graft.functions.expressions.CountMinAgg]], 4×512 grid) aggregates
    * with elementwise-adding partials — the token stream never shuffles,
    * the exchange carries one 16 KB grid — and because bucket indices come
    * from the engine-portable md5 hash the APPROXIMATE estimates
    * hash-match a DuckDB replay of the same grid (same trick as q69's KMV:
    * pick the sketch whose randomness is deterministic). est ≥ n always;
    * the probe set is made deterministic by the total (n DESC, tok ASC)
    * order. */
  def q74CmsEstimate(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.expressions.CountMinAgg.{countMin, estimate}
    val d = 4; val w = 512
    // The single-file documents scan arrives as ONE partition, so both
    // consumers (sketch + exact top-20) ran their tokenize+partial-agg
    // single-task (profiled 1.28 s of a 1-task job at sf0.1 — guide §2.3
    // stragglers). Scatter the text rows first: the repartition exchange
    // is an identical subtree under both consumers and the EXECUTED plan
    // shows it reused (plans/r15/q74_cms_estimate_after.txt:
    // `ReusedExchange [text] ... RoundRobinPartitioning`) — the
    // scan+filter+scatter runs once. The tokenize itself runs once PER
    // consumer above the shared exchange (deliberate: sharing it would
    // mean materializing the 20M-row exploded tokens — costlier than
    // re-splitting in two parallel stages). Grid adds and counts are
    // partitioning-invariant.
    val toks = graft.dedup.Dedup.ensureParallelism(
        tbl(s, dir, "documents").filter(length(trim(col("text"))) > 0))
      .select(explode(T.tokens(col("text"))).as("tok"))
    val grid = toks.agg(countMin(col("tok"), d, w).as("cms"))
    val top = toks.groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc).limit(20) // TakeOrdered — distributed
    top.crossJoin(broadcast(grid)) // 1-row side: a broadcast, not a blowup
      .select(col("tok"), col("n"), estimate(col("cms"), col("tok"), d, w).as("est"))
  }

  /** Z-order (Morton) clustering statistics: lineitem rows keyed by the
    * interleaved-bit z-value of (partkey, suppkey) mod 1024, rolled up per
    * top-4-bit z-bucket. The per-bucket min/max of BOTH dimensions is the
    * operator's whole point — under a lexicographic sort only the leading
    * column's range narrows per bucket; under z-order every clustered
    * column's does, which is what parquet min/max file skipping turns into
    * IO savings ([[graft.layout.Layout.writeZOrdered]] writes this layout;
    * LayoutSpec pins disjoint per-file z-ranges). Pure codegen'd bit
    * arithmetic — integer-exact on both engines, no rounding anywhere. */
  def q75ZorderStats(s: SparkSession, dir: String): DataFrame = {
    import graft.layout.Layout
    val z = Layout.zValue(
      Seq(pmod(col("l_partkey"), lit(1024L)), pmod(col("l_suppkey"), lit(1024L))),
      bits = 10)
    tbl(s, dir, "lineitem")
      .select(z.as("zval"), col("l_partkey"), col("l_suppkey"))
      .groupBy(shiftright(col("zval"), 16).cast("int").as("zbucket"))
      .agg(count(lit(1)).as("n"),
        min("zval").as("zmin"), max("zval").as("zmax"),
        min("l_partkey").as("pmin"), max("l_partkey").as("pmax"),
        min("l_suppkey").as("smin"), max("l_suppkey").as("smax"))
  }

  /** Stream-stream interval join (clicks ⋈ purchases within 12 h per
    * user) — the streaming twin of q57's batch range join, proved
    * equivalent against the SAME SQL oracle (the q28 pattern, applied to
    * the join operator instead of aggregation). Both sides carry
    * watermarks, so the state store evicts rows older than watermark −
    * 12 h instead of buffering the full streams — the property that makes
    * the join runnable forever at scale. Runs in a cloned session (state
    * stores sized to the join state, caller's conf untouched); emits
    * epoch micros per the temporal-query convention. */
  def q76StreamIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val (ss, src0) = eventsStreamSession(s, dir)
    def src = normalizeTs(src0())
    val clicks = src.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val joined = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("c_ts") >= col("p_ts") &&
        col("c_ts") <= col("p_ts") + expr("INTERVAL 12 HOURS"))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("c_ts")).as("click_us"),
        unix_micros(col("p_ts")).as("win_start"))
    drainToTable(ss, joined, "q76_stream_interval_join_sink", "append")
  }

  /** Cross-source sketch rollup — the stored-artifact algebra KMV exists
    * for: q69's per-source sketches are "stored", and the GLOBAL distinct
    * estimate is computed by merging those 20 sketch rows (explode minima
    * → re-sketch), never rescanning the corpus. Lossless by the order-
    * statistic argument: any global top-k minimum is a top-k minimum of
    * its own source, so the union of per-source minima contains the exact
    * global minima — the oracle replays precisely that and the estimate
    * hash-matches. At 100 TB this turns "distinct tokens across the whole
    * corpus" into an aggregation over #sources tiny rows. */
  def q77KmvRollup(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.expressions.KmvDistinctAgg.{estimateDistinct, kmvSketch}
    val k = 16
    val toks = tbl(s, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("source"), explode(T.tokens(col("text"))).as("tok"))
    val stored = toks.groupBy("source")
      .agg(kmvSketch(graft.curate.Curate.portableHash60(col("tok")), k).as("mins"))
    stored.select(explode(col("mins")).as("h"))
      .agg(kmvSketch(col("h"), k).as("mins"))
      .select(estimateDistinct(col("mins"), k).as("est_distinct"))
  }

  /** One-pass column profiler over documents: count / null count / KMV
    * distinct estimate / numeric min-max per column, in long format. The
    * at-scale property ([[graft.stats.Profile.summarize]]): NO Expand —
    * Catalyst plans multi-column countDistinct as #columns copies of every
    * row through the shuffle, while the per-column KMV sketches ride the
    * same single aggregation as the cheap stats. Every estimate replays
    * exactly in DuckDB (portable md5 minima). */
  def q78Profile(s: SparkSession, dir: String): DataFrame =
    graft.stats.Profile.summarize(tbl(s, dir, "documents"),
      Seq("doc_id", "lang", "source", "n_chars"), k = 64)

  /** Incremental rollup maintenance: the stored per-(type, day) aggregate
    * table (events before Jan 24) absorbs the last week's delta via
    * [[graft.operators.Incremental.mergeAggregates]] — merging PARTIALS,
    * never rescanning history — and the oracle asserts the merge equals a
    * full recompute. Sums are exact DECIMAL(18,6) (probed: every value
    * carries ≤ 6 decimals, so the cast is lossless) cast to double only at
    * the output edge — float-associativity can't break the hash-match. */
  def q79IncrementalRollup(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    def rollup(df: DataFrame) = df
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).as("total"))
    val cutoff = lit("2024-01-24").cast("date")
    val stored = rollup(ev.filter(to_date(col("ts")) < cutoff))
    val delta = rollup(ev.filter(to_date(col("ts")) >= cutoff))
    graft.operators.Incremental.mergeAggregates(stored, delta, Seq("event_type", "day"))
      .select(col("event_type"), col("day"), col("n"),
        col("total").cast("double").as("total"))
  }

  /** Per-source median and p90 of document length from the integer-exact
    * histogram sketch ([[graft.stats.Profile.histogramQuantiles]]):
    * buckets come from (msb, next-2-bits) — `length(bin(x))` arithmetic
    * both engines reproduce bit-for-bit, unlike float log bucketing.
    * Mergeable (bucket counts are sums), one (group, bucket) shuffle,
    * ≤ 12.5% relative error by construction; the oracle replays the
    * bucketing and picks the identical bucket lower bounds. */
  def q80HistQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.stats.Profile.histogramQuantiles(
        tbl(s, dir, "documents"), "source", "n_chars", Seq(0.5, 0.9))
      .select(col("grp").as("source"), col("prob"), col("q"))

  /** BFS distances over the part↔supplier graph from a 5-supplier seed
    * set, capped at 4 hops ([[graft.graph.Graph.shortestPaths]]). Pure
    * integer relaxation — the oracle is a fully unrolled 4-round SQL
    * replay, exact by construction. The reached set doubles as a
    * neighborhood-expansion primitive (who is within k hops of these
    * suppliers) — the same loop shape as PageRank with min(dist+1) in
    * place of sum(rank/deg). */
  def q81ShortestPaths(s: SparkSession, dir: String): DataFrame = {
    val seeds = tbl(s, dir, "supplier")
      .filter(col("s_suppkey") < 5).select((-(col("s_suppkey") + 1)).as("id"))
    graft.graph.Graph.shortestPaths(partSupplierEdges(s, dir), "src", "dst",
        seeds, "id", maxHops = 4, assumeDistinct = true)
      .select(col("id"), col("dist"))
  }

  /** Heavy-key skew diagnosis over the event stream
    * ([[graft.frame.Skew.analyze]]): Misra-Gries proposes candidates
    * without shuffling the key stream, exact counts verify only those,
    * and each key gets the salt factor `ceil(share × 32)` that
    * [[graft.frame.Skew.saltedJoin]] would need to spread it back to an
    * average shuffle partition. With 5 event types over k=64 counters the
    * sketch is exact by construction, so the whole output — including the
    * salt recommendation — hash-matches plain SQL. */
  def q82SkewAnalyze(s: SparkSession, dir: String): DataFrame =
    graft.frame.Skew.analyze(events(s, dir), "event_type",
      parts = 32, k = 64, topN = 5)

  /** Data-quality expectations over the documents table
    * ([[graft.stats.Expectations]]): four rules — row count, text null
    * fraction, minimum length, KMV-estimated language count — ALL
    * evaluated in one aggregation pass (no per-rule scan), returned as
    * data with pass/fail against bounds. Measurements are rounded to 4
    * decimals BEFORE comparison on both sides, so the booleans replay
    * exactly; bounds are loose enough to pass at every scale factor
    * (pass/fail itself is deterministic output either way). */
  def q83Expectations(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.expressions.KmvDistinctAgg.{estimateDistinct, kmvSketch}
    import graft.stats.{Expectation, Expectations}
    Expectations.run(tbl(s, dir, "documents"), Seq(
      Expectation("row_count", count(lit(1)), 100, 1e7),
      Expectation("text_null_fraction", avg(col("text").isNull.cast("int")), 0, 0.01),
      Expectation("min_chars", min(col("n_chars")), 1, 1e6),
      Expectation("lang_distinct_est",
        estimateDistinct(kmvSketch(graft.curate.Curate.portableHash60(col("lang")), 16), 16),
        3, 40)))
  }

  /** resolveChoice MATCH_CATALOG end-to-end (`dynamicframe.py:404,427-433`):
    * a schema-conflicted union (long vs string order keys, double vs string
    * totalprice) produces TWO choice columns; the target schema is read
    * from a REAL catalog table (registered via [[graft.sources.GraftCatalog]]
    * each run — overwrite-idempotent), and every choice resolves by casting
    * to the catalog's declared type. The aggregate proves values landed as
    * numbers, not strings. */
  def q84MatchCatalog(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val cat = new graft.sources.GraftCatalog(s)
    val declared = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_totalprice", DoubleType)))
    cat.saveTable("graft_meta", "orders_resolved",
      s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), declared))
    val orders = tbl(s, dir, "orders")
    val a = DynFrame(orders.select(col("o_orderkey"), col("o_totalprice")), "a")
    val b = DynFrame(orders.filter(col("o_totalprice") > 100000)
      .select(col("o_orderkey").cast("string").as("o_orderkey"),
        col("o_totalprice").cast("string").as("o_totalprice")), "b")
    a.union(b)
      .resolveChoiceMatchCatalog(cat.schemaOf("graft_meta", "orders_resolved"))
      .toDF
      .groupBy((col("o_orderkey") % 10).as("bucket"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 4).as("total"))
  }

  /** Deterministic per-language document cap ([[graft.curate.Curate
    * .capPerGroup]]) — runs on the heap top-k plan node, survivors chosen
    * by portable hash so the DuckDB oracle replays the exact selection. */
  def q85CapPerGroup(s: SparkSession, dir: String): DataFrame =
    graft.curate.Curate.capPerGroup(
      tbl(s, dir, "documents").select(col("doc_id"), col("lang")),
      "lang", "doc_id", n = 100, salt = "cap")

  /** Deterministic token-budget subset ([[graft.curate.Curate
    * .tokenBudget]]): bucketed prefix-sum selection, exact running total
    * emitted — replays as a plain global cumulative window in SQL. */
  def q86TokenBudget(s: SparkSession, dir: String): DataFrame =
    graft.curate.Curate.tokenBudget(
      tbl(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
      "doc_id", "n_chars", budget = 80000L, salt = "tb")

  /** Boilerplate strip ([[graft.dedup.Dedup.stripDuplicatedSegments]]):
    * drop every 10-token segment duplicated anywhere in the corpus,
    * reassemble documents in order — the removal counterpart of q51's
    * measurement. Portable hashing makes it exactly SQL-replayable. */
  def q87StripSegments(s: SparkSession, dir: String): DataFrame =
    Dedup.stripDuplicatedSegments(tbl(s, dir, "documents"), "doc_id", "text")
      .select(col("id").as("doc_id"), col("clean_text"), col("n_kept"), col("n_dropped"))

  /** Intra-document repetition cleaner
    * ([[graft.curate.Curate.collapseRepeatTokens]]): collapse consecutive
    * repeated tokens within each doc — map-side only, zero shuffles
    * (plan-guarded). The within-doc counterpart of q87's cross-doc strip. */
  def q88CollapseRepeats(s: SparkSession, dir: String): DataFrame =
    graft.curate.Curate.collapseRepeatTokens(tbl(s, dir, "documents"), "doc_id", "text")
      .select(col("id").as("doc_id"), col("clean_text"), col("n_tokens"), col("n_collapsed"))

  /** Vocabulary-coverage quality score
    * ([[graft.curate.Curate.vocabCoverage]]): fraction of each doc's tokens
    * in the corpus top-12 vocabulary (ties broken by token asc), as
    * integer basis points — one vocab aggregation + bounded collect, then
    * map-side InSet scoring; the corpus never shuffles. */
  def q89VocabCoverage(s: SparkSession, dir: String): DataFrame =
    graft.curate.Curate.vocabCoverage(tbl(s, dir, "documents"), "doc_id", "text", topK = 12)
      .select(col("id").as("doc_id"), col("n_tokens"), col("n_in_vocab"), col("cover_bp"))

  /** Prefix-filtered edit-distance self-join ([[graft.operators.Fuzzy
    * .editDistancePairs]]): every pair of distinct part names within 2
    * edits. Candidate generation is a lossless rarest-q-gram prefix
    * equi-join — recall 1.0 by theorem, so the brute-force all-pairs
    * oracle is exact ground truth, not a probe-calibrated approximation.
    * Integer distances: no float-threshold risk. */
  def q90FuzzyJoin(s: SparkSession, dir: String): DataFrame =
    graft.operators.Fuzzy.editDistancePairs(tbl(s, dir, "part"), "p_name", maxDist = 2)
      .select(col("val_a").as("name_a"), col("val_b").as("name_b"), col("dist"))

  /** Entity resolution end-to-end ([[graft.operators.Fuzzy
    * .resolveEntities]]): fuzzy pairs → connected components with the
    * string values themselves as labels (min-label propagation is
    * type-generic — no id mapping, no hash-collision risk) → canonical =
    * cluster-min name, rolled up with variant and row counts. Typo chains
    * merge transitively (cold→old→new→red at d<=2). */
  def q91EntityResolve(s: SparkSession, dir: String): DataFrame = {
    val part = tbl(s, dir, "part")
    val resolved = graft.operators.Fuzzy.resolveEntities(part, "p_name", maxDist = 2)
    part.join(resolved, part("p_name") === resolved("val"))
      .groupBy(col("canonical"))
      .agg(countDistinct(col("val")).as("n_variants"), count(lit(1)).as("n_rows"))
  }

  /** Duplicated-span localization ([[graft.dedup.Dedup.duplicatedSpans]]):
    * 10-token windows at EVERY offset, corpus-wide duplicate marking,
    * per-doc maximal-span merge — the any-alignment precision upgrade over
    * q51's strided measurement and q87's strided removal. Token-index
    * output: integer-exact, no float risk. The oracle groups by window
    * TEXT where Spark groups by md5(window) — identical counts. */
  def q92DupSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicatedSpans(tbl(s, dir, "documents"), "doc_id", "text")
      .select(col("id").as("doc_id"), col("span_start"), col("span_end"),
        col("n_windows"))

  /** Snapshot diff ([[graft.operators.Diff.snapshotDiff]]): classify keys
    * added / removed / changed between two table versions via ONE
    * co-partitioned full-outer join with codegen'd null-safe payload
    * comparison. The "new" snapshot is derived deterministically (drop
    * key%7==3, rewrite priority on key%10==0, inject -(key+1) copies of
    * key%13==5 — keys start at 0, so a bare negation would collide: the
    * q73 lesson). The oracle derives the expected classes independently
    * from the construction arithmetic — ground truth, not a join replay. */
  def q93SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val orders = tbl(s, dir, "orders")
    val newSnap = orders.filter(col("o_orderkey") % 7 =!= 3)
      .withColumn("o_orderpriority",
        when(col("o_orderkey") % 10 === 0, lit("0-RUSH"))
          .otherwise(col("o_orderpriority")))
      .unionByName(orders.filter(col("o_orderkey") % 13 === 5)
        .withColumn("o_orderkey", -(col("o_orderkey") + 1)))
    graft.operators.Diff.snapshotDiff(orders, newSnap, Seq("o_orderkey"))
      .filter(col("change_type") =!= "unchanged")
  }

  /** Stream-static enrichment ([[graft.streaming.Streaming
    * .enrichWithStatic]]): events stream joined per-micro-batch against a
    * broadcast customer dimension, rolled up by (segment, event_type) —
    * streaming result ≡ the batch SQL join (the q28 equivalence pattern).
    * Probed: every event user_id matches a customer, and the per-group
    * sums sit maximally far from the 4dp rounding boundary. */
  def q94StreamEnrich(s: SparkSession, dir: String): DataFrame = {
    val (ss, src) = eventsStreamSession(s, dir)
    val dim = graft.sources.Pq.read(ss, s"$dir/customer.parquet")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val enriched = graft.streaming.Streaming
      .enrichWithStatic(src(), dim, Seq("user_id"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total_value"))
    drainToTable(ss, enriched, "q94_stream_enrich_sink", "complete")
  }

  /** Exact per-group percentiles (the sort-based `percentile` aggregate —
    * the exact counterpart of q80's mergeable histogram sketch): customer
    * balance quartiles per nation. Probed: 2-decimal balances put every
    * type-7 interpolated quartile maximally far from the 4dp rounding
    * boundary, so Spark/DuckDB ulp differences cannot flip the hash. */
  def q95Percentiles(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "customer")
      .groupBy(col("c_nationkey"))
      .agg(
        round(expr("percentile(c_acctbal, 0.25)"), 4).as("q1"),
        round(expr("percentile(c_acctbal, 0.5)"), 4).as("med"),
        round(expr("percentile(c_acctbal, 0.75)"), 4).as("q3"),
        count(lit(1)).as("n"))

  /** BM25 retrieval top-k ([[graft.curate.Bm25.topK]]): every 125th doc's
    * first 5 tokens as a query, scored over the inverted-index join and
    * ranked on the heap top-k node. Ranking uses the 4dp-QUANTIZED score
    * with doc-id tie-break — the cross-engine determinism device; probed
    * at both scales: min |raw − rounding boundary| is 1e4-1e5× the FP
    * summation-order error, so tied rounded scores agree everywhere. */
  def q96Bm25TopK(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val queries = docs
      .filter(col("doc_id") % 125 === 3 && size(T.tokens(col("text"))) > 0)
      .select(col("doc_id").as("qid"),
        concat_ws(" ", slice(T.tokens(col("text")), 1, 5)).as("qtext"))
    graft.curate.Bm25.topK(docs, "doc_id", "text", queries, "qid", "qtext", k = 5)
  }

  /** Incremental join maintenance ([[graft.operators.Incremental
    * .mergeJoin]]): stored = A₀⋈B₀ plus two delta-driven BROADCAST joins
    * must equal the full (A₀∪ΔA)⋈(B₀∪ΔB) recompute — which is exactly
    * what the oracle computes. The big sides never shuffle for the
    * maintenance step (plan-pinned in IncrementalSpec). */
  def q97IncrementalJoin(s: SparkSession, dir: String): DataFrame = {
    val a = tbl(s, dir, "orders").select(col("o_custkey").as("cust_id"),
      col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val b = tbl(s, dir, "customer").select(col("c_custkey").as("cust_id"),
      col("c_mktsegment"))
    val (a0, da) = (a.filter(col("o_orderkey") % 11 =!= 7),
      a.filter(col("o_orderkey") % 11 === 7))
    val (b0, db) = (b.filter(col("cust_id") % 13 =!= 2),
      b.filter(col("cust_id") % 13 === 2))
    val stored = a0.join(b0, Seq("cust_id"))
    graft.operators.Incremental.mergeJoin(stored, a0, da, b0, db, Seq("cust_id"))
  }

  /** Triangle counting ([[graft.graph.Graph.triangleCounts]]) on the
    * co-purchase graph (parts sharing an order — NOT the bipartite
    * supplier-part graph of q73/q81, which has no odd cycles and hence
    * zero triangles). Spark orients edges by (degree, id) for the
    * compact-forward bound; the oracle enumerates each triangle once in
    * plain id order — identical triangle set either way. */
  def q98TriangleCounts(s: SparkSession, dir: String): DataFrame = {
    // explicit co-partitioning at the session shuffle width (r14): the
    // basket self-join EXPLODES (Σ n_o² pairs from small inputs), and
    // AQE's coalescing — which sizes by map-output bytes — cannot see
    // the blowup, so it serialized the pair generation + distinct into
    // ~3 tasks (measured 1.8 s of a 3-task stage). An explicit
    // numPartitions is AQE-exempt; conf-derived, so it scales with the
    // deployment rather than the local core count.
    val nShuf = s.sessionState.conf.numShufflePartitions
    val li = tbl(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .repartition(nShuf, col("o"))
    val e = li.as("x").join(li.as("y"),
        col("x.o") === col("y.o") && col("x.p") =!= col("y.p"))
      .select(col("x.p").as("src"), col("y.p").as("dst"))
    graft.graph.Graph.triangleCounts(e, "src", "dst")
      .select(col("node").as("part_id"), col("n_triangles"))
  }

  /** Conversion funnel via the forward as-of join ([[graft.operators
    * .Temporal.asofJoinForward]]): each signup's FIRST purchase by the
    * same user at-or-after it, kept only within a 30-minute horizon.
    * Epoch-micros on both sides per the temporal invariant; delays are
    * integer microseconds — no FP risk. */
  def q99Funnel(s: SparkSession, dir: String): DataFrame = {
    val base = events(s, dir).select(col("event_id"), col("user_id"),
      col("event_type"), unix_micros(col("ts")).as("tsu"))
    val signups = base.filter(col("event_type") === "signup")
      .select(col("event_id"), col("user_id"), col("tsu"))
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tsu"))
    val horizon = 1800000000L // 30 min in micros
    graft.operators.Temporal
      .asofJoinForward(signups, purchases, Seq("user_id"), "tsu", Seq("tsu"))
      .select(col("event_id"), col("user_id"), col("tsu").as("signup_us"),
        when(col("next_tsu") - col("tsu") <= horizon, col("next_tsu")).as("purchase_us"),
        when(col("next_tsu") - col("tsu") <= horizon,
          col("next_tsu") - col("tsu")).as("delay_us"))
  }

  /** Snapshot drift detection ([[graft.stats.Drift.psi]]): per-bucket PSI
    * decomposition between the even- and odd-doc_id halves of the corpus
    * over n_chars. Buckets and counts are integer-exact (the q80 msb
    * bucketing); only the final PSI terms are floats — boundary margins
    * probed at both scales (min distance ≥ 5e-7 raw vs ~1e-15 engine
    * noise). DuckDB shifts parenthesized (the q75 lesson), literals
    * ::DOUBLE (the q80 lesson). */
  def q100DriftPsi(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    graft.stats.Drift.psi(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1), "n_chars")
  }

  /** The deterministic projection of the q50 multimodal pipeline: decode
    * the constructed BMP payloads and resize their meta boxes, emitting
    * only columns with construction-arithmetic ground truth (q93's oracle
    * pattern) — the real header decode round-trips w = id%29+2,
    * h = id%17+2, channels = 3, and the resize math is pure scalar double
    * ops both engines compute identically (round-half-up on the same
    * IEEE double; ties can't diverge because the rounded double is the
    * same bit pattern in both). q50 itself stays rows-only for its
    * pixel-derived feature column. */
  def q101MultimodalDims(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val decoded = Multimodal.decodeImages(mediaFixture(s, dir))
    Multimodal.resizeMeta(decoded, 64, 64)
      .select(col("media_id"), col("dec_width"), col("dec_height"),
        col("dec_channels"),
        col("meta.width").as("resized_w"), col("meta.height").as("resized_h"))
  }

  /** EXACT set-similarity self-join over 3-gram shingle sets at Jaccard
    * ≥ 9/10 — [[Dedup.exactJaccardPairs]]'s lossless prefix filter
    * (AllPairs/PPJoin family), the deterministic counterpart of q21's
    * LSH recall phase. Recall is 1.0 by theorem (not by empirical probe),
    * so the DuckDB oracle is the O(N²) brute force itself; the threshold
    * compares INTEGERS (10·|∩| ≥ 9·|∪|) and the output is integer
    * evidence (n_common, n_union) — no float boundary exists to probe.
    * Probed corpus shape: 25 pairs / max posting 7 docs at sf0.01,
    * 249 pairs (q21's ground-truth set) / max posting 25 at sf0.1. */
  def q102ExactJaccardJoin(s: SparkSession, dir: String): DataFrame =
    Dedup.exactJaccardPairs(tbl(s, dir, "documents"), "doc_id", "text",
      shingleLen = 3, tauNum = 9, tauDen = 10)

  /** Minimal valid PCM WAV bytes (RIFF + fmt + data) — the audio twin of
    * the BMP builder behind q50/q101: real container bytes that
    * [[graft.multimodal.MediaCodec.wavInfo]] must genuinely parse. */
  private def wavBytes(channels: Int, rate: Int, bits: Int, nSamples: Int): Array[Byte] = {
    val dataBytes = nSamples * channels * (bits / 8)
    val bb = java.nio.ByteBuffer.allocate(44 + dataBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes); bb.putInt(36 + dataBytes); bb.put("WAVE".getBytes)
    bb.put("fmt ".getBytes); bb.putInt(16); bb.putShort(1) // PCM
    bb.putShort(channels.toShort); bb.putInt(rate)
    bb.putInt(rate * channels * (bits / 8))
    bb.putShort((channels * (bits / 8)).toShort); bb.putShort(bits.toShort)
    bb.put("data".getBytes); bb.putInt(dataBytes)
    var i = 0
    while (i < dataBytes) { bb.put(((i * 31 + 7) & 0xFF).toByte); i += 1 }
    bb.array()
  }

  /** Audio metadata decode over constructed PCM WAV payloads — q101's
    * construction-arithmetic oracle pattern applied to the audio path
    * ([[graft.multimodal.Multimodal.decodeAudio]] / real RIFF chunk-walk
    * parsing, not a stub). Every parameter derives from doc_id, and
    * nSamples = (id%50+10)·96 is divisible by every rate/1000 in
    * {8,16,24,32}, so audio_ms = nSamples·1000/rate is an EXACT integer
    * in both engines — no floor-semantics divergence to probe. */
  def q103AudioMeta(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val src = tbl(s, dir, "documents").select(col("doc_id"))
    val media = Multimodal.mapInBatches(src, StructType(Seq(
      StructField("media_id", LongType),
      StructField("payload", BinaryType)))) { batch =>
      batch.iterator.map { r =>
        val id = r.getLong(0)
        Row(id, wavBytes(
          channels = (id % 2 + 1).toInt,
          rate = (8000 * (id % 4 + 1)).toInt,
          bits = (8 * (id % 2 + 1)).toInt,
          nSamples = ((id % 50 + 10) * 96).toInt))
      }
    }
    Multimodal.decodeAudio(media)
      .select(col("media_id"), col("audio_channels"), col("sample_rate"),
        col("bits_per_sample"), col("audio_ms"))
  }

  /** Gap-based sessionization via Spark's NATIVE `session_window`
    * (dynamic-gap merging inside the aggregation operator — the
    * streaming-capable formulation, no lag window needed) — the built-in
    * twin of q38's lag-based construction. Semantics: events merge while
    * consecutive gaps are < 1 h; the oracle replays that with a lag
    * cumulative-flag split at `diff ≥ 3600 s` (probed: no adjacent gap
    * sits within 0.28 s of the boundary at either scale, and the gap
    * comparison is integer micros anyway). Emits epoch micros per the
    * temporal convention; session_end = last event + gap by
    * session_window's definition. */
  def q104SessionWindow(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("total_value"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("session_start_us"),
        unix_micros(col("w.end")).as("session_end_us"),
        col("n_events"), col("total_value"))

  /** Leakage-safe train/val/test split: the split is a pure function of the
    * near-duplicate CLUSTER canonical, so a near-copy of a training document
    * can never land in test (the dataset-card requirement q43's plain hash
    * split cannot give). Cluster detection is q47's LSH+CC path; singletons
    * are their own canonical. Oracle: q47's recursive-CTE CC left-joined to
    * all documents + q43's md5-bucket replay on the canonical id. */
  def q105ClusterSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleLen = 3, threshold = 0.9)
    val clusters = Dedup.duplicateClusters(pairs.select(col("id_a"), col("id_b")))
    graft.curate.Curate.leakageSafeSplit(docs, "doc_id", clusters,
        Seq("train" -> 8, "val" -> 1, "test" -> 1))
      .select(col("doc_id"), col("canonical_id"), col("split"))
  }

  /** Exact phrase search over a positional inverted index (term, doc, pos):
    * a 2-term and a 3-term phrase, occurrence counts per matching document.
    * The index scan prunes to the queried terms before any join; the
    * position-alignment joins are term-posting-sized. Oracle replays the
    * tokenizer and counts aligned runs with a list_filter over positions. */
  def q106PhraseSearch(s: SparkSession, dir: String): DataFrame =
    graft.curate.Phrase.phraseSearch(tbl(s, dir, "documents"), "doc_id", "text",
      Seq(Seq("fast", "table"), Seq("data", "stream", "batch")))

  /** Hopping-window rollup via the NATIVE `window()` function (2 h windows
    * sliding every 1 h — each event lands in exactly two overlapping
    * windows), the overlap-capable sibling of q18's tumbling date_trunc and
    * q104's session_window. Emits epoch micros per the temporal convention;
    * the oracle unnests the two epoch-aligned window starts per event in
    * integer micros. `value` sits on a 2-decimal grid, so round(sum, 4) is
    * grid-exact (the q104 precedent — sums stay on the grid, only avgs
    * drift). */
  def q107HoppingWindow(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total_value"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
        unix_micros(col("w.end")).as("window_end_us"),
        col("event_type"), col("n"), col("total_value"))

  /** Streaming dedup via the NATIVE `dropDuplicatesWithinWatermark` state
    * operator, keys (user_id, event_type) — the ingest-time "exactly one
    * row per key" guard. The single-file source arrives as one micro-batch
    * and state evicts only at batch boundaries against the PREVIOUS batch's
    * watermark (0 at start), so every duplicate meets live state and the
    * appended output is exactly the distinct key set — deterministic and
    * batch-replayable, which is what makes the SQL oracle exact. Key-only
    * projection: "first row wins" payloads would depend on stream order. */
  def q108StreamDedup(s: SparkSession, dir: String): DataFrame = {
    val (ss, src) = eventsStreamSession(s, dir)
    val stream = normalizeTs(src())
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
    drainToTable(ss, stream, "q108_stream_dedup_sink", "append")
  }

  /** Incremental ingest dedup against a STORED signature index: the corpus
    * slice (doc_id % 10 ≠ 0) is hashed once into a MinHash index; the new
    * batch (doc_id % 10 = 0) is checked against it WITHOUT touching corpus
    * text again — the daily-ingest shape of [[Dedup.admitAgainstIndex]],
    * here surfaced as the (new, corpus) match report. Portable md5 hashing
    * end to end, so the oracle replays signatures AND the cross-slice band
    * join exactly (q22's replay, split across the two slices).
    *
    * Threshold note: 0.5 = 32/64 sits ON the est grid (q22 ships the same
    * value) — a deliberate, argued exception to the mid-gap rule: est is
    * matches/64.0, an EXACT binary double computed identically by both
    * engines from identical integer match counts, so `>= 0.5` can never
    * diverge the way a float-accumulated threshold can. */
  def q109IndexDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val index = Dedup.minhashSignatures(
      docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", portable = true)
    val newSigs = Dedup.minhashSignatures(
      docs.filter(col("doc_id") % 10 === 0), "doc_id", "text", portable = true)
    Dedup.minhashPairsAgainstIndex(index, newSigs, threshold = 0.5, portable = true)
      .select(col("new_id"), col("corpus_id"),
        round(col("est_jaccard"), 4).as("est_jaccard"))
  }

  /** Rolling 1-hour aggregate per event via a BOUNDED RANGE frame over
    * epoch micros (q03's cumulative frame is unbounded-preceding; this is
    * the value-bounded sibling — "activity in the trailing hour at every
    * event"). Orders by the integer micros column, so the frame bound is
    * exact integer arithmetic in both engines; sum stays on `value`'s
    * 2-decimal grid (the q104/q107 rule: sums are grid-exact, avgs are
    * not). Tied timestamps are RANGE peers — identical frames either
    * engine, no order ambiguity. */
  def q110RollingWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_us"))
      .rangeBetween(-3600000000L, Window.currentRow)
    events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("event_us"), col("value"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("sum_1h", round(sum(col("value")).over(w), 4))
      .select(col("user_id"), col("event_us"), col("n_1h"), col("sum_1h"))
  }

  /** Incremental cluster maintenance: stored CC labels (old slice,
    * doc_id % 10 ≠ 0) absorb the delta pairs touching the new slice via
    * [[Dedup.mergeClusters]] — contraction onto stored roots, CC on the
    * delta-sized contracted graph, composed relabel. MUST equal the full
    * recompute exactly, so the oracle IS q47's recursive-CTE fixpoint over
    * the whole corpus. The pair frame feeds both the old-old and the
    * crossing split — localCheckpoint (pair-count rows) materializes it
    * once and, unlike a persist, leaves nothing cached afterwards. */
  def q111MergeClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleLen = 3, threshold = 0.9)
      .select(col("id_a"), col("id_b"))
      .localCheckpoint(true).transform(graft.plan.Checkpoints.track)
    val oldOld = pairs.filter(col("id_a") % 10 =!= 0 && col("id_b") % 10 =!= 0)
    val delta = pairs.filter(col("id_a") % 10 === 0 || col("id_b") % 10 === 0)
    val stored = Dedup.duplicateClusters(oldOld)
    Dedup.mergeClusters(stored, delta)
      .select(col("id").as("doc_id"), col("cluster_id"))
  }

  /** Retraction maintenance: a stored rollup absorbs late DELETES (the
    * rows with l_orderkey % 7 = 0 turn out to be voided) via
    * [[graft.operators.Incremental.retractAggregates]] — negated-measure
    * merge, zero-count groups dropped. Must equal the recompute on the
    * reduced base exactly, which is the oracle; sums ride DECIMAL(18,2)
    * (the q79 discipline) so subtraction is exact. */
  def q112RetractRollup(s: SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem")
    def rollup(df: DataFrame) = df
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).as("total"))
    val stored = rollup(li)
    val retract = rollup(li.filter(col("l_orderkey") % 7 === 0))
    graft.operators.Incremental.retractAggregates(stored, retract,
        Seq("l_returnflag", "l_linestatus"), countCol = "n")
      .select(col("l_returnflag"), col("l_linestatus"), col("n"),
        col("total").cast("double").as("total"))
  }

  /** Deterministic stratified sampling: per-source keep fractions as a
    * pure function of md5(doc_id) — reproducible across engines, runs,
    * and partitionings (no seed stream), map-side only. The oracle
    * replays the md5-bucket threshold per stratum. */
  def q113StratifiedSample(s: SparkSession, dir: String): DataFrame =
    graft.curate.Curate.stratifiedSample(tbl(s, dir, "documents"),
        "doc_id", "source",
        Map("src0" -> 0.5, "src1" -> 0.2), defaultFraction = 0.05)
      .select(col("doc_id"), col("source"))

  /** Real SCD2 merge ([[graft.jobs.BankJobs.scd2Merge]], the §7.4.7
    * extension of the reference's degenerate overwrite dim): incoming
    * changed rows close their active versions (is_active=false,
    * record_updated_time=asOf) and insert as new active versions;
    * untouched keys pass through. Change batch = every 5th customer with
    * an updated name; timestamps come from pinned literals (q17's
    * convention), so raw timestamp/date output hashes identically. */
  def q114Scd2Merge(s: SparkSession, dir: String): DataFrame = {
    val base = tbl(s, dir, "customer").select(col("c_custkey"), col("c_name"))
    val existing = graft.jobs.BankJobs.scd2Dim(base, asOf = Some("2024-08-01 00:00:00"))
    val incoming = base.filter(col("c_custkey") % 5 === 0)
      .withColumn("c_name", concat(col("c_name"), lit(" (updated)")))
    graft.jobs.BankJobs.scd2Merge(existing, incoming, Seq("c_custkey"), "2024-08-07")
  }

  /** Deterministic negative sampling for retrieval training: 5 md5-drawn
    * corpus negatives per query doc (every 50th doc), mapped through the
    * scalable dense index ([[graft.curate.Curate.denseIndex]] — range
    * partition + zipWithIndex, no global window). Self-collision draws
    * drop by contract. Oracle replays the draw arithmetic and the dense
    * index as row_number in id order. */
  def q115NegativeSamples(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    graft.curate.Curate.negativeSamples(
      docs, "doc_id", docs.filter(col("doc_id") % 50 === 0), "doc_id", k = 5)
  }

  /** Embedding-quality outlier scoring: every vector's cosine against its
    * label-group centroid ([[graft.ann.Centroids.groupCosines]]).
    * Centroid = the EXACT quantized bigint component sum (cosine is
    * scale-invariant, so no division ever happens) — a pure function of
    * the group's row set, replayed verbatim by the oracle. Boundary
    * probe: min |cos·1e4 − ⌊·⌋ − 0.5| = 1.2e-3 (sf0.01) / 3.2e-4 (sf0.1)
    * grid units — far above cross-engine float noise. */
  def q116CentroidOutliers(s: SparkSession, dir: String): DataFrame =
    graft.ann.Centroids.groupCosines(
        tbl(s, dir, "embeddings"), "vec_id", "embedding", "label", dim = 64)
      .select(col("vec_id"), col("label"),
        round(col("centroid_cos"), 4).as("centroid_cos"))

  /** Streaming incremental-rollup maintenance: the events table replays
    * as THREE micro-batches (3-way split written to a temp dir,
    * maxFilesPerTrigger=1) and a foreachBatch sink folds each batch's
    * partial rollup into running state via
    * [[graft.operators.Incremental.mergeAggregates]] — the stored-rollup
    * maintenance loop run UNDER the streaming engine. Counts and
    * DECIMAL sums merge exactly and split-invariantly, so the fold must
    * equal the one-shot batch rollup whatever the batch boundaries —
    * which is precisely the oracle. */
  def q117StreamRollupFold(s: SparkSession, dir: String): DataFrame = {
    def rollup(df: DataFrame): DataFrame = df
      .groupBy(col("event_type"), (col("user_id") % 10).as("cohort"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).as("total"))
    val tmp = java.nio.file.Files.createTempDirectory("q117_events").toFile.getAbsolutePath
    // only the rollup columns ride the replay split — ts (with its
    // encoding quirks) never enters this query
    tbl(s, dir, "events").select(col("event_type"), col("user_id"), col("value"))
      .repartition(3).write.mode("overwrite").parquet(tmp)
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    val schema = graft.sources.Pq.read(ss, tmp).schema
    var state: DataFrame = null
    val q = ss.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val delta = rollup(batch).localCheckpoint(true).transform(graft.plan.Checkpoints.track)
        state = (if (state == null) delta
                 else graft.operators.Incremental.mergeAggregates(
                   state, delta, Seq("event_type", "cohort"))).localCheckpoint(true).transform(graft.plan.Checkpoints.track)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    materializeAndCleanup(s,
      state.select(col("event_type"), col("cohort"), col("n"),
        col("total").cast("double").as("total")), tmp)
  }

  /** Small-file compaction round-trip under the correctness gate: the
    * documents table lands as 16 small files, [[graft.sources
    * .PathLifecycle.compactParquet]] rewrites the directory to the target
    * file size, and the compacted table must aggregate identically to the
    * original — compaction is physical-layout-only by contract. The
    * per-source rollup is the oracle; the file count assertion guards the
    * layout change actually happened. */
  def q118CompactRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("q118_docs").toFile.getAbsolutePath
    tbl(s, dir, "documents").repartition(16).write.mode("overwrite").parquet(tmp)
    val nFiles = graft.sources.PathLifecycle.compactParquet(s, tmp, targetFileMB = 128)
    require(nFiles < 16, s"compaction left $nFiles files")
    materializeAndCleanup(s,
      graft.sources.Pq.read(s, tmp)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("total_chars")), tmp)
  }

  /** Symmetric int8 embedding quantization ([[graft.ann.Quantize
    * .int8Summary]]) — the 4× embedding-store compression, audited per
    * vector. One double op (the 1e-6 grid snap every oracle already
    * replays), then pure 64-bit integer arithmetic: scale, half-up code
    * magnitudes, and the L1 quantization error in grid/127 units — so
    * every output column is a bigint and the hash is engine-portable by
    * construction (no float rounding anywhere). */
  def q119Int8Quant(s: SparkSession, dir: String): DataFrame =
    graft.ann.Quantize.int8Summary(tbl(s, dir, "embeddings"), "vec_id", "embedding")

  /** Snapshot publish / time-travel / rollback under the correctness
    * gate ([[graft.sources.Snapshots]] — the atomic-pointer-commit table
    * format core): documents publish as v1, a filtered v2 commits over
    * it, the table rolls back to v1 (O(1) pointer swap), and the query
    * reads BOTH versions simultaneously — the rolled-back latest and a
    * time-travel pin of v2 — tagged and rolled up. The oracle derives
    * each version's rollup from the construction (full table / the v2
    * filter), so pointer commit, immutability, rollback, and time travel
    * are all load-bearing for the hash to match. */
  def q120SnapshotTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val snap = graft.sources.Snapshots
    // cleanup targets the createTempDirectory ROOT — deleting only the
    // tbl subdirectory would leak one empty q120_snap* dir per iteration
    val tmpRoot = java.nio.file.Files.createTempDirectory("q120_snap").toFile.getAbsolutePath
    val tmp = tmpRoot + "/tbl"
    val docs = tbl(s, dir, "documents")
    val v1 = snap.publish(s, tmp, docs)
    val v2 = snap.publish(s, tmp, docs.filter(col("doc_id") % 3 =!= 0))
    require(v1 == 1 && v2 == 2, s"unexpected version allocation: $v1, $v2")
    snap.rollback(s, tmp, v1)
    def rollup(df: DataFrame, tag: String) = df
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("total_chars"))
      .withColumn("snap", lit(tag))
    val res = rollup(snap.readLatest(s, tmp), "v1") // == v1 after the rollback
      .unionByName(rollup(snap.readVersion(s, tmp, v2), "v2"))
      .select(col("snap"), col("source"), col("n_docs"), col("total_chars"))
    materializeAndCleanup(s, res, tmpRoot)
  }

  /** Unicode NFC normalization ([[graft.functions.TextFunctions
    * .nfcNormalize]] — java.text.Normalizer) vs DuckDB's utf8proc:
    * canonical composition is fully specified by Unicode, so two
    * independent implementations must produce identical bytes — md5 of
    * the normalized string pins that. The corpus is ASCII (probed), so a
    * decomposed suffix (e+U+0301, i+U+0308, plus a precomposed é that
    * must survive untouched) is appended to every document to make the
    * composition load-bearing: len_nfc = len_raw − 2 everywhere, and the
    * hash covers the exact composed bytes. */
  def q121NfcNormalize(s: SparkSession, dir: String): DataFrame = {
    val raw = concat(col("text"), lit(NfcSuffix))
    val nfc = T.nfcNormalize(raw)
    tbl(s, dir, "documents").select(
      col("doc_id"),
      length(raw).as("len_raw"),
      length(nfc).as("len_nfc"),
      md5(nfc).as("h"))
  }

  /** Per-event-type p99 tail anomaly counts ([[graft.stats.Anomaly
    * .thresholdCounts]]): the type-7 percentile threshold and the count
    * strictly above it, computed ENTIRELY in integer arithmetic on the
    * cent grid (t_num = the threshold × 10⁴) — the float-boundary-proof
    * formulation of "value > p99", so the oracle replays it verbatim
    * with no epsilon anywhere. */
  def q122AnomalyThreshold(s: SparkSession, dir: String): DataFrame =
    graft.stats.Anomaly.thresholdCounts(
      events(s, dir), "event_type", "value", pNum = 99, pDen = 100)

  /** First-order event-type transition matrix ([[graft.operators
    * .Temporal.transitionCounts]]): per-user behavior edges ordered by
    * (epoch micros, event_id) — the explicit tie-breaker that makes the
    * lag deterministic cross-engine. Integer counts; one entity-key
    * shuffle; output is at most |event types|² rows. */
  def q123EventTransitions(s: SparkSession, dir: String): DataFrame =
    graft.operators.Temporal.transitionCounts(
      events(s, dir), "user_id", "event_type",
      Seq(unix_micros(col("ts")), col("event_id")))

  /** Manifest-based file pruning ([[graft.layout.Layout.fileStats]] /
    * [[graft.layout.Layout.prunedScan]]): orders land range-partitioned
    * into 16 files by o_custkey, a one-scan min/max manifest indexes
    * them, and a band predicate reads ONLY the intersecting files (the
    * require proves files were actually skipped) — semantically equal to
    * the full filtered scan, which is exactly the oracle. Band bounds
    * derive from max(o_custkey) in integer arithmetic, so both engines
    * compute the identical range. */
  def q124PrunedScan(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("q124_orders").toFile.getAbsolutePath
    val orders = tbl(s, dir, "orders")
    orders.repartitionByRange(16, col("o_custkey"))
      .sortWithinPartitions("o_custkey")
      .write.mode("overwrite").parquet(tmp)
    val manifest = graft.layout.Layout.fileStats(s, tmp, Seq("o_custkey"))
    val maxK = orders.agg(max(col("o_custkey"))).collect()(0).getLong(0)
    val (lo, hi) = (maxK * 3 / 10, maxK * 5 / 10)
    val (pruned, kept, total) =
      graft.layout.Layout.prunedScan(s, tmp, manifest, "o_custkey", lo, hi)
    require(kept < total, s"no files skipped ($kept of $total)")
    val res = pruned.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 4).as("total"))
    materializeAndCleanup(s, res, tmp)
  }

  /** Exact rolling 5-event median per user ([[graft.stats.Anomaly
    * .rollingMedian]]): cents-grid values, ×2-scaled integer medians —
    * the spike-detector baseline with no float anywhere. Ordered by
    * (epoch micros, event_id); DuckDB's windowed list() replays the
    * frame verbatim. */
  def q125RollingMedian(s: SparkSession, dir: String): DataFrame =
    graft.stats.Anomaly.rollingMedian(events(s, dir), "user_id", "value",
      Seq(unix_micros(col("ts")), col("event_id")), window = 5, idCol = "event_id")

  /** k-anonymity audit ([[graft.stats.Privacy.kAnonymityAudit]]) over
    * customer quasi-identifiers (nation, segment, account balance
    * generalized to $1000 floor-bins in integer arithmetic — the
    * truncation-proof binning [[graft.stats.Privacy.generalizeBin]]
    * provides). One-row governance summary, pure integer counting. */
  def q126KAnonymity(s: SparkSession, dir: String): DataFrame =
    graft.stats.Privacy.kAnonymityAudit(tbl(s, dir, "customer"),
      Seq(col("c_nationkey"), col("c_mktsegment"),
        graft.stats.Privacy.generalizeBin(floor(col("c_acctbal")), 1000L)),
      k = 5)

  /** Referential-integrity audit ([[graft.stats.Expectations
    * .fkOrphans]]): three FK relations in one result — orders→customer
    * with INJECTED orphans (every 100th order re-keyed to the negative
    * key space, the q93 construction device, so the audit provably
    * catches them), injected NULL child keys (every 101st order — the
    * null key must surface as orphan rows AND one distinct orphan key),
    * plus the two clean relations whose zero counts pin the
    * no-false-positive side. Null-trap-free anti-join semantics,
    * replayed as LEFT JOIN ... IS NULL. */
  def q127FkAudit(s: SparkSession, dir: String): DataFrame = {
    val E = graft.stats.Expectations
    val orders = tbl(s, dir, "orders")
    val withOrphans = orders.select(col("o_custkey"), col("o_orderkey"))
      .unionByName(orders.filter(col("o_orderkey") % 100 === 0)
        .select((-(col("o_custkey") + 1)).as("o_custkey"), col("o_orderkey")))
      // null child keys: orphan rows AND one distinct orphan key (the
      // null-key counting rule is load-bearing for the hash)
      .unionByName(orders.filter(col("o_orderkey") % 101 === 0)
        .select(lit(null).cast(orders.schema("o_custkey").dataType).as("o_custkey"),
          col("o_orderkey")))
    E.fkOrphans(withOrphans, "o_custkey",
        tbl(s, dir, "customer"), "c_custkey", "orders->customer")
      .unionByName(E.fkOrphans(tbl(s, dir, "lineitem"), "l_orderkey",
        orders, "o_orderkey", "lineitem->orders"))
      .unionByName(E.fkOrphans(tbl(s, dir, "customer"), "c_nationkey",
        tbl(s, dir, "nation"), "n_nationkey", "customer->nation"))
  }

  /** First-seen cumulative distinct users per event type by day — the
    * EXACT audience-growth curve (the exact counterpart of the KMV
    * rollup q77): first event per (type, user) in epoch micros, integer
    * day = micros div 86400000000, then a cumulative sum over the tiny
    * (type, day) frame. Pure integers end to end. */
  def q128AudienceCurve(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    events(s, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("__first_us"))
      .withColumn("day", expr("__first_us div 86400000000"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("new_users"))
      .withColumn("cum_users", sum(col("new_users")).over(
        Window.partitionBy(col("event_type")).orderBy(col("day"))))
  }

  /** MMR diverse retrieval ([[graft.ann.Mmr.diverseTopK]]): top-8 of a
    * 40-candidate pool for the vec_id-0 query, λ = 7/10. Every cosine
    * quantizes to the 1e-4 grid (probed: min boundary margin 6.1e-5 grid
    * units at sf0.01 / 1.8e-4 at sf0.1 across query and pairwise sims —
    * 5+ orders above cross-engine float noise), so the greedy argmax
    * chain is integer arithmetic and the oracle unrolls it as 8 SQL
    * selection steps. */
  def q129MmrDiverse(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val qv = emb.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getSeq[Float](0).map(_.toDouble).toArray
    graft.ann.Mmr.diverseTopK(emb, "vec_id", "embedding", qv,
      candidates = 40, k = 8, lambdaNum = 7L, lambdaDen = 10L)
  }

  /** q22's / q23's pair-set replays, shared verbatim with q143 (the
    * detector-agreement audit wraps both as subqueries). */
  private lazy val minhashPairsSql: String =
    s"""WITH ${portableSigCtes("doc_id")},
      |bandix AS (SELECT unnest(range(0, 16)) AS band),
      |banded AS (SELECT doc_id, band,
      |  CAST(concat('0x', substr(md5(concat(band::VARCHAR, '_',
      |    array_to_string(sig[band*4+1 : band*4+4], ','))), 1, 15)) AS BIGINT) AS bhash
      | FROM sig CROSS JOIN bandix),
      |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      | FROM banded x JOIN banded y
      |   ON x.band = y.band AND x.bhash = y.bhash AND x.doc_id < y.doc_id),
      |est AS (SELECT c.id_a, c.id_b,
      |  len(list_filter(range(1, 65), j -> sa.sig[j] = sb.sig[j])) / 64.0 AS ej
      | FROM cand c JOIN sig sa ON sa.doc_id = c.id_a
      |             JOIN sig sb ON sb.doc_id = c.id_b)
      |SELECT id_a, id_b, round(ej, 4) AS est_jaccard FROM est WHERE ej >= 0.5""".stripMargin

  private val simhashPairsSql: String =
    """WITH tok AS (SELECT doc_id,
      |  unnest(CASE WHEN length(trim(text)) = 0 THEN []
      |              ELSE regexp_split_to_array(trim(text), '\s+') END) AS w
      | FROM documents),
      |h AS (SELECT doc_id, CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT) AS hv FROM tok),
      |bits AS (SELECT unnest(range(0, 60)) AS j),
      |votes AS (SELECT doc_id, j, sum(CASE WHEN ((hv >> j) & 1) = 1 THEN 1 ELSE -1 END) AS v
      | FROM h CROSS JOIN bits GROUP BY 1, 2),
      |fpx AS (SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END) AS fp
      | FROM votes GROUP BY 1),
      |fp AS (SELECT d.doc_id, coalesce(fpx.fp, 0::BIGINT) AS fp
      | FROM documents d LEFT JOIN fpx ON d.doc_id = fpx.doc_id),
      |chunkix AS (SELECT unnest(range(0, 4)) AS band),
      |banded AS (SELECT doc_id, fp, band, ((fp >> (band * 15)) & 32767) AS chunk
      | FROM fp CROSS JOIN chunkix),
      |pairs AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, bit_count(xor(x.fp, y.fp)) AS hd
      | FROM banded x JOIN banded y
      |   ON x.band = y.band AND x.chunk = y.chunk AND x.doc_id < y.doc_id)
      |SELECT id_a, id_b, CAST(min(hd) AS INT) AS hamming
      |FROM pairs WHERE hd <= 3 GROUP BY 1, 2""".stripMargin

  /** q104's session-window SQL replay, shared verbatim with q140 (the
    * streaming run must equal the batch result exactly). */
  private val sessionWindowSql: String =
    """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value FROM events),
      |f AS (SELECT user_id, us, value,
      |  CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w >= 3600000000 THEN 1 ELSE 0 END AS ns
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
      |g AS (SELECT user_id, us, value,
      |  sum(ns) OVER (PARTITION BY user_id ORDER BY us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM f)
      |SELECT user_id, min(us) AS session_start_us,
      |  max(us) + 3600000000 AS session_end_us,
      |  count(*) AS n_events, round(sum(value), 4) AS total_value
      |FROM g GROUP BY user_id, sid""".stripMargin

  /** q96's full BM25 SQL replay, shared verbatim with q131 (which
    * nests it as a subquery and computes metrics on top). */
  /** Generator for q96's DuckDB BM25 replay, parameterized on an extra
    * corpus predicate ANDed into the corpus CTE — which also narrows the
    * query CTE, drawn from the same corpus. `bm25TopkReplay("")` IS the
    * q96/q150/q158 oracle byte-for-byte; q159 passes the post-delete
    * predicate so the replay rebuilds the scores on the REDUCED corpus
    * (df, N, avgdl all reduced), which tombstone-decremented serving
    * must match exactly. */
  private def bm25TopkReplay(corpusAnd: String): String =
    "WITH " + bm25ReplayChain("documents", corpusAnd) + "\n" +
      raw"""SELECT qid, CAST(rank AS INT) AS rank, doc_id, score
      |FROM rk WHERE rank <= 5""".stripMargin

  /** q96's scoring CTE chain (corpus → ... → rk) with the corpus SOURCE
    * and the score-quantization grain parameterized, so q182 can feed it
    * a prefix CTE (the pipeline's cleaned+deduped survivor set) without
    * forking the BM25 math. `bm25TopkReplay("")` (q96/q150/q158's
    * oracle) is byte-identical to the pre-refactor string. q182 serves
    * at 3 decimals: its survivor corpus drew a raw score 2.5e-11 from a
    * 4dp boundary at sf0.1 (probed) — the same corpus on the 1e-3 grid
    * clears by 4.5e-8 absolute, 3 orders above summation noise. */
  private def bm25ReplayChain(corpusFrom: String, corpusAnd: String,
                              decimals: Int = 4): String =
    raw"""corpus AS (SELECT doc_id, string_split_regex(trim(text),'\s+') AS toks
      |  FROM $corpusFrom WHERE length(trim(text)) > 0$corpusAnd),
      |dl AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM corpus),
      |post AS (SELECT doc_id, unnest(toks) AS term FROM corpus),
      |tfs AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
      |  FROM post GROUP BY 1,2),
      |dfs AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tfs GROUP BY 1),
      |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
      |q AS (SELECT doc_id AS qid, toks[1:5] AS qtoks FROM corpus
      |  WHERE doc_id % 125 = 3),
      |qt AS (SELECT qid, unnest(list_distinct(qtoks)) AS term FROM q),
      |sc AS (SELECT qt.qid, t.doc_id,
      |    round(sum( ln(1 + (s.n - d.df + 0.5::DOUBLE)/(d.df + 0.5::DOUBLE))
      |      * t.tf * 2.2::DOUBLE
      |      / (t.tf + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * l.dl / s.avgdl)) ), $decimals)
      |      AS score
      |  FROM qt JOIN tfs t USING (term) JOIN dfs d USING (term)
      |    JOIN dl l ON t.doc_id = l.doc_id CROSS JOIN stats s
      |  GROUP BY 1,2),
      |rk AS (SELECT qid, doc_id, score,
      |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
      |  FROM sc)""".stripMargin

  private val bm25TopkSql: String = bm25TopkReplay("")

  /** q182's survivor corpus: the pipeline's clean + exact-dedup stages
    * replayed as one window CTE (min doc_id per identical text among the
    * cleaned docs — [[graft.dedup.Dedup.exactSurvivors]]'s md5 grouping
    * keys the same equivalence classes as raw-text equality). */
  private val pipelineSurvCte: String =
    raw"""surv AS MATERIALIZED (
      |  SELECT doc_id, text, source FROM (
      |    SELECT d.doc_id, d.text, d.source,
      |      min(d.doc_id) OVER (PARTITION BY d.text) AS keep
      |    FROM documents d
      |    WHERE length(trim(d.text)) > 0 AND d.doc_id % 7 <> 2)
      |  WHERE doc_id = keep)""".stripMargin

  /** One index version's BM25 replay as SUFFIXED CTEs over a shared
    * EXTERNAL query-term CTE `qt` (q162: the same query set scores every
    * version, so the query side cannot be drawn from the per-version
    * corpus the way q96's replay draws it). Ends in `rk$suf` =
    * (qid, doc_id, score, rank). */
  private def bm25VersionCtes(corpusAnd: String, suf: String,
                              decimals: Int = 4): String =
    raw"""corpus$suf AS (SELECT doc_id, string_split_regex(trim(text),'\s+') AS toks
      |  FROM documents WHERE length(trim(text)) > 0$corpusAnd),
      |dl$suf AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM corpus$suf),
      |post$suf AS (SELECT doc_id, unnest(toks) AS term FROM corpus$suf),
      |tfs$suf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
      |  FROM post$suf GROUP BY 1,2),
      |dfs$suf AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tfs$suf GROUP BY 1),
      |stats$suf AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl$suf),
      |sc$suf AS (SELECT qt.qid, t.doc_id,
      |    round(sum( ln(1 + (s.n - d.df + 0.5::DOUBLE)/(d.df + 0.5::DOUBLE))
      |      * t.tf * 2.2::DOUBLE
      |      / (t.tf + 1.2::DOUBLE * (0.25::DOUBLE + 0.75::DOUBLE * l.dl / s.avgdl)) ), $decimals)
      |      AS score
      |  FROM qt JOIN tfs$suf t USING (term) JOIN dfs$suf d USING (term)
      |    JOIN dl$suf l ON t.doc_id = l.doc_id CROSS JOIN stats$suf s
      |  GROUP BY 1,2),
      |rk$suf AS (SELECT qid, doc_id, score,
      |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
      |  FROM sc$suf)""".stripMargin

  /** q129's oracle: the greedy MMR chain unrolled — candidate pool by
    * (rel4 desc, id), then k−1 argmax steps over the integer objective
    * 7·rel4 − 3·maxsim4 with id tie-break, each a correlated-subquery
    * ORDER BY ... LIMIT 1. Generated, not hand-written, so `candidates`/
    * `k` stay in lockstep with the query. */
  /** Unrolled BFD replay for q181: per doc, items ranked (sz DESC, idx
    * ASC); step i places rank-i items for EVERY doc at once against the
    * doc's LIST-typed bin-load state. bestload = the largest load that
    * still fits (list_filter + list_aggregate 'max'); its FIRST position
    * is the chosen bin (the Spark tie rule: max load, tie → lowest bin);
    * NULL bestload opens a new bin. MATERIALIZED everywhere — s{i}
    * references chain and DuckDB would re-expand plain CTEs. */
  private def bfdOracle(maxItems: Int, cap: Int): String = {
    val b = new StringBuilder
    b ++= "WITH base AS MATERIALIZED (\n" +
      "  SELECT doc_id, 3 + CAST(concat('0x', substr(md5(concat(" +
      "CAST(doc_id AS VARCHAR), ':bfdN')), 1, 15)) AS BIGINT) % 6 AS n_it\n" +
      "  FROM documents),\n"
    b ++= "it AS MATERIALIZED (\n" +
      "  SELECT doc_id, item_idx,\n" +
      "    1 + CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR)," +
      " '#', CAST(item_idx AS VARCHAR), ':bfdS')), 1, 15)) AS BIGINT) % 96 AS sz\n" +
      "  FROM (SELECT doc_id, unnest(range(0, n_it)) AS item_idx FROM base)),\n"
    b ++= "r AS MATERIALIZED (SELECT doc_id, item_idx, sz,\n" +
      "  row_number() OVER (PARTITION BY doc_id ORDER BY sz DESC, item_idx)" +
      " AS rk FROM it),\n"
    b ++= "s0 AS MATERIALIZED (SELECT doc_id, CAST([] AS BIGINT[]) AS bins FROM base)"
    for (i <- 1 to maxItems) {
      b ++= s",\ne$i AS MATERIALIZED (\n" +
        "  SELECT s.doc_id, r.item_idx, r.sz, s.bins,\n" +
        s"    list_aggregate(list_filter(s.bins, b -> b + r.sz <= $cap), 'max')" +
        " AS bestload\n" +
        s"  FROM s${i - 1} s LEFT JOIN r ON r.doc_id = s.doc_id AND r.rk = $i),\n"
      b ++= s"s$i AS MATERIALIZED (\n" +
        "  SELECT doc_id, CASE WHEN sz IS NULL THEN bins\n" +
        "    WHEN bestload IS NULL THEN list_append(bins, sz)\n" +
        "    ELSE list_transform(range(1, len(bins) + 1)," +
        " j -> CASE WHEN j = list_position(bins, bestload)" +
        " THEN bins[j] + sz ELSE bins[j] END) END AS bins\n" +
        s"  FROM e$i),\n"
      b ++= s"a$i AS (SELECT doc_id, item_idx, sz,\n" +
        "  CASE WHEN bestload IS NULL THEN len(bins)" +
        " ELSE list_position(bins, bestload) - 1 END AS seq_idx\n" +
        s"  FROM e$i WHERE sz IS NOT NULL)"
    }
    b ++= ",\nasn AS MATERIALIZED (" +
      (1 to maxItems).map(i => s"SELECT * FROM a$i").mkString(" UNION ALL ") + "),\n"
    b ++= s"st AS MATERIALIZED (\n" +
      s"  SELECT f.doc_id, CAST(len(f.bins) AS BIGINT) AS n_seqs,\n" +
      s"    (CAST(len(f.bins) AS BIGINT) * $cap - t.sum_tokens) * 10000" +
      s" // (CAST(len(f.bins) AS BIGINT) * $cap) AS pad_bp\n" +
      s"  FROM s$maxItems f JOIN (SELECT doc_id, CAST(sum(sz) AS BIGINT)" +
      " AS sum_tokens FROM it GROUP BY doc_id) t ON t.doc_id = f.doc_id)\n"
    b ++= "SELECT a.doc_id, a.item_idx, a.sz, a.seq_idx, st.n_seqs, st.pad_bp\n" +
      "FROM asn a JOIN st ON st.doc_id = a.doc_id"
    b.toString
  }

  private def mmrOracle(candidates: Int, k: Int): String = {
    // every CTE is MATERIALIZED: DuckDB inlines plain CTEs, and selN
    // references sel(N-1) three times — inlining would re-expand the
    // whole chain exponentially (measured: the plain form never finishes
    // at k=8; materialized runs in 0.08 s)
    val b = new StringBuilder
    b ++= "WITH q AS MATERIALIZED (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),\n"
    b ++= "cand AS MATERIALIZED (\n  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,\n" +
      "    CAST(floor(list_cosine_similarity(CAST(embedding AS DOUBLE[]), q.qv)*10000 + 0.5) AS BIGINT) AS rel4\n" +
      s"  FROM embeddings, q ORDER BY rel4 DESC, vec_id LIMIT $candidates\n),\n"
    b ++= "sel1 AS MATERIALIZED (SELECT 1 AS rank, vec_id, v, rel4 FROM cand ORDER BY rel4 DESC, vec_id LIMIT 1)"
    for (i <- 2 to k) {
      b ++= s",\npick$i AS MATERIALIZED (\n  SELECT $i AS rank, c.vec_id, c.v, c.rel4 FROM cand c\n" +
        s"  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})\n" +
        "  ORDER BY 7*c.rel4 - 3*(SELECT max(CAST(floor(list_cosine_similarity(c.v, s.v)*10000 + 0.5) AS BIGINT))" +
        s" FROM sel${i - 1} s) DESC, c.vec_id\n  LIMIT 1\n),\n" +
        s"sel$i AS MATERIALIZED (SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM pick$i)"
    }
    b ++= s"\nSELECT rank, vec_id, rel4 FROM sel$k"
    b.toString
  }

  /** Regular-grid forward-fill resampling ([[graft.operators.Temporal
    * .resampleForwardFill]]): the irregular event stream lands on a
    * global hourly grid, each (user, hour) carrying the last value at or
    * before the hour start. CROSS-VALIDATED implementation: the oracle is
    * DuckDB's native ASOF JOIN — an independent engine's implementation
    * of the same operator — over the identical unique-instant
    * preparation. Raw 2-decimal values (no sums), so round(4) is safe. */
  def q130ResampleFfill(s: SparkSession, dir: String): DataFrame =
    graft.operators.Temporal.resampleForwardFill(
        events(s, dir).select(col("user_id"),
          unix_micros(col("ts")).as("tsu"), col("value")),
        "user_id", "tsu", "value", stepMicros = 3600000000L)
      .select(col("user_id"), col("bucket").as("hour"),
        round(col("value"), 4).as("value"))

  /** Retrieval evaluation ([[graft.curate.Eval.retrievalMetrics]]) over
    * q96's BM25 run: the relevant doc for each query is the doc the
    * query was excerpted from, so recall@5 and the 1/2520-unit integer
    * MRR measure whether retrieval finds the source. The oracle nests
    * q96's full replay and computes the same integer metrics on top. */
  def q131RetrievalEval(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val qrels = docs
      .filter(col("doc_id") % 125 === 3 && size(T.tokens(col("text"))) > 0)
      .select(col("doc_id").as("rq"), col("doc_id").as("rdoc"))
    graft.curate.Eval.retrievalMetrics(q96Bm25TopK(s, dir),
      "qid", "doc_id", "rank", qrels, "rq", "rdoc")
  }

  /** CDC apply ([[graft.operators.Cdc.applyChanges]]): a constructed
    * change log — two sequenced updates per every-10th customer (last
    * wins: final balance +100 and the ' v2' name, never the +50 of
    * seq 1), deletes for every 17th (sequenced AFTER the updates, so a
    * key hit by both ends deleted), inserts in the negative key space —
    * folds into the customer snapshot. The oracle derives the final
    * state from the construction, so reduce-before-join, last-wins, and
    * delete-override are all load-bearing. */
  def q132CdcApply(s: SparkSession, dir: String): DataFrame = {
    val base = tbl(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
    def change(src: DataFrame, op: String, seq: Long) =
      src.withColumn("op", lit(op)).withColumn("seq", lit(seq))
    val tenth = base.filter(col("c_custkey") % 10 === 0)
    val changes =
      change(tenth.withColumn("c_acctbal", col("c_acctbal") + 50), "U", 1L)
        .unionByName(change(tenth
          .withColumn("c_acctbal", col("c_acctbal") + 100)
          .withColumn("c_name", concat(col("c_name"), lit(" v2"))), "U", 2L))
        .unionByName(change(base.filter(col("c_custkey") % 17 === 0), "D", 3L))
        .unionByName(change(base.filter(col("c_custkey") % 23 === 0)
          .withColumn("c_custkey", -(col("c_custkey") + 1))
          .withColumn("c_name", concat(col("c_name"), lit(" new")))
          .withColumn("c_acctbal", lit(0.0)), "I", 1L))
    graft.operators.Cdc.applyChanges(base, changes, Seq("c_custkey"), "op", "seq")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        round(col("c_acctbal"), 4).as("c_acctbal"), col("c_mktsegment"))
  }

  /** Point-in-time feature join — the feature-store correctness pattern:
    * each purchase event carries the LAST click and view values at or
    * before its timestamp (never after: no leakage from the future),
    * via two chained [[graft.operators.Temporal.asofJoin]]s over
    * unique-instant feature frames. Oracle = two native DuckDB ASOF
    * JOINs (independent implementation, the q130 device). */
  def q133FeatureJoin(s: SparkSession, dir: String): DataFrame = {
    val T2 = graft.operators.Temporal
    val ev = events(s, dir).select(col("user_id"),
      unix_micros(col("ts")).as("tsu"), col("event_id"),
      col("event_type"), col("value"))
    def feat(t: String, name: String) = ev.filter(col("event_type") === t)
      .groupBy(col("user_id"), col("tsu")).agg(max(col("value")).as(name))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tsu"), col("event_id"))
    val withClick = T2.asofJoin(purchases, feat("click", "cv"),
        Seq("user_id"), "tsu", Seq("cv"))
      .select(col("user_id"), col("tsu"), col("event_id"), col("asof_cv").as("cv"))
    T2.asofJoin(withClick, feat("view", "vv"), Seq("user_id"), "tsu", Seq("vv"))
      .select(col("event_id"), col("user_id"), col("tsu"),
        round(col("cv"), 4).as("click_value"),
        round(col("asof_vv"), 4).as("view_value"))
  }

  /** Integer-exact z-score outliers ([[graft.stats.Anomaly
    * .zOutlierCounts]]): (n·c − S₁)² > z²(n·S₂ − S₁²) on the cent grid —
    * the two-sided tail count with literally zero floats (no mean, no
    * variance, no division materialized). Every output column a bigint. */
  def q134ZOutliers(s: SparkSession, dir: String): DataFrame =
    graft.stats.Anomaly.zOutlierCounts(events(s, dir), "event_type", "value", z = 2L)

  /** Session path mining ([[graft.streaming.Sessionize.sessionPaths]]):
    * the 20 most common within-session event sequences under 30-minute
    * gap sessions — funnel discovery as data. Sessions and paths are
    * fully determined by the (micros, event_id) total order; the top-20
    * cut ranks on (n desc, path), a total order, on the heap top-k
    * node. Oracle replays the lag/cumsum session assignment and
    * DuckDB's ordered string_agg. */
  def q135SessionPaths(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Sessionize.sessionPaths(
      events(s, dir).select(col("user_id"),
        unix_micros(col("ts")).as("tsu"), col("event_id"), col("event_type")),
      "user_id", "tsu", "event_id", "event_type",
      gapMicros = 1800000000L, topK = 20)

  /** Trending types per hopping window: 2h windows sliding 1h (q107's
    * native `window()`), top-3 event types per window by (count desc,
    * type) on the heap top-k node — the "what's hot right now"
    * dashboard query. Oracle = the q107 two-aligned-starts unnest +
    * row_number ≤ 3. */
  def q136Trending(s: SparkSession, dir: String): DataFrame = {
    val counts = events(s, dir)
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("w.start")).as("win_start_us"),
        col("event_type"), col("n"))
    graft.plan.TopKPerGroup(counts, Seq(col("win_start_us")),
      Seq(col("n").desc, col("event_type").asc), 3, "rank")
      .select(col("win_start_us"), col("event_type"), col("n"), col("rank"))
  }

  /** Schema drift audit ([[graft.operators.Diff.schemaDiff]]): the
    * documents contract vs an evolved producer output (source dropped,
    * a quality column added, doc_id narrowed to int) — metadata-only,
    * zero scans. The oracle is the construction-derived literal table. */
  def q137SchemaDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val evolved = docs.drop("source")
      .withColumn("quality", lit(0.5))
      .withColumn("doc_id", col("doc_id").cast("int"))
    graft.operators.Diff.schemaDiff(docs, evolved)
  }

  /** Distribution-matching downsample ([[graft.curate.Curate
    * .matchDistribution]]): every source downsamples to ~the smallest
    * source's size via `hash mod n < n_min` — the deterministic
    * balancing dual of q65's weighted upsampling. The oracle replays
    * the md5 arithmetic and the count join verbatim. */
  def q138MatchDistribution(s: SparkSession, dir: String): DataFrame =
    graft.curate.Curate.matchDistribution(
        tbl(s, dir, "documents"), "source", "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        sum(length(col("text")).cast("long")).as("kept_chars"))

  /** Golden-record survivorship ([[graft.operators.Golden
    * .goldenRecords]]): constructed duplicate records per entity
    * (cluster = custkey div 3) with deterministically-nulled fields and
    * seq = custkey — each output field is the latest non-null, which
    * DuckDB replays as arg_max FILTER (WHERE non-null). */
  def q139GoldenRecords(s: SparkSession, dir: String): DataFrame = {
    val dirty = tbl(s, dir, "customer").select(
      (col("c_custkey") - pmod(col("c_custkey"), lit(3L))).as("cluster"),
      col("c_custkey").as("seq"),
      when(col("c_custkey") % 3 === 0, lit(null).cast("string"))
        .otherwise(col("c_name")).as("name"),
      when(col("c_custkey") % 3 === 1, lit(null).cast("double"))
        .otherwise(col("c_acctbal")).as("bal"),
      when(col("c_custkey") % 3 === 2, lit(null).cast("string"))
        .otherwise(col("c_mktsegment")).as("segment"))
    graft.operators.Golden.goldenRecords(dirty, "cluster", "seq",
        Seq("name", "bal", "segment"))
      .select(col("cluster"), col("name"), round(col("bal"), 4).as("bal"),
        col("segment"))
  }

  /** Streaming session_window rollup ≡ the batch q104 (the q28
    * equivalence pattern applied to SESSION state): the same gap
    * sessionization runs UNDER the streaming engine in complete mode,
    * and must produce exactly the batch result — same lag-replay
    * oracle as q104. */
  def q140StreamSessions(s: SparkSession, dir: String): DataFrame = {
    val (ss, src) = eventsStreamSession(s, dir)
    val stream = normalizeTs(src())
      .groupBy(col("user_id"), session_window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("total_value"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("session_start_us"),
        unix_micros(col("w.end")).as("session_end_us"),
        col("n_events"), col("total_value"))
    drainToTable(ss, stream, "q140_stream_sessions_sink", "complete")
  }

  /** Bloom-prefiltered semi join ([[graft.operators.BloomJoin
    * .semiJoin]]): lineitem reduced to urgent orders' line items — the
    * runtime-filter pattern where the fact side drops non-matching rows
    * at the scan, BEFORE the exchange. False positives die in the exact
    * join, so the result must equal the plain semi join — the oracle. */
  def q141BloomSemiJoin(s: SparkSession, dir: String): DataFrame =
    graft.operators.BloomJoin.semiJoin(
        tbl(s, dir, "lineitem"), "l_orderkey",
        tbl(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
        "o_orderkey")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 4).as("qty"))

  /** Exact distinct users per hopping window (2h / 1h): the windowed
    * audience counter — native `window()` + countDistinct (exact; q77's
    * KMV is the sketched sibling for when exact is too expensive).
    * Oracle = the two-aligned-starts unnest + count(DISTINCT). */
  def q142WindowedDistinct(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"))
      .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n_events"))
      .select(unix_micros(col("w.start")).as("win_start_us"),
        col("n_users"), col("n_events"))

  /** Near-dup detector agreement audit: MinHash-LSH (q22's pairs) vs
    * SimHash (q23's) over the same corpus — pair-set sizes and overlap
    * as one integer row. The operational question ("do the cheap and
    * expensive detectors agree enough to swap?") answered as data; both
    * pair sets replay portably, so the audit does too. */
  def q143DetectorAgreement(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val mh = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5,
        portable = true)
      .select(col("id_a"), col("id_b"), lit(1L).as("mh"), lit(0L).as("sh"))
    val sh = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3,
        portable = true)
      .select(col("id_a"), col("id_b"), lit(0L).as("mh"), lit(1L).as("sh"))
    mh.unionByName(sh)
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("mh")).as("mh"), max(col("sh")).as("sh"))
      .agg(sum(col("mh")).as("n_minhash"), sum(col("sh")).as("n_simhash"),
        sum(when(col("mh") === 1 && col("sh") === 1, 1L).otherwise(0L)).as("n_both"))
  }

  /** Quantity-weighted median price per return flag ([[graft.stats
    * .Robust.weightedMedian]]): the lower weighted median via prefix
    * sums and a cross-multiplied half test (2·cumw ≥ W) — integer-exact,
    * no division. */
  def q144WeightedMedian(s: SparkSession, dir: String): DataFrame =
    graft.stats.Robust.weightedMedian(tbl(s, dir, "lineitem"),
      "l_returnflag", "l_extendedprice", "l_quantity")

  /** Cohort retention triangle: users bucket by first-seen day, each
    * later active day contributes to (cohort, offset) — the classic
    * retention analysis, entirely in integer day buckets. */
  def q145CohortRetention(s: SparkSession, dir: String): DataFrame = {
    val byDay = events(s, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val cohorts = byDay.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    byDay.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Winsorized sums per event type ([[graft.stats.Robust
    * .winsorizedSum]]): values clamp to the integer [p5, p95] type-7
    * bounds (q122's t_num arithmetic) before summing — the robust total,
    * reported in cents·100 units so every column stays bigint. */
  def q146WinsorizedSum(s: SparkSession, dir: String): DataFrame =
    graft.stats.Robust.winsorizedSum(events(s, dir), "event_type", "value",
      loNum = 5, hiNum = 95, pDen = 100)

  /** Hierarchy flattening ([[graft.graph.Hierarchy.flattenToRoot]]): a
    * synthetic customer tree (parent = custkey div 10 — ~5 levels at
    * sf0.1) flattens to (node, root, depth, path) via the iterative
    * level-walk; the oracle is a recursive CTE walking the identical
    * div-10 edges. Every node roots at 0; paths are exact strings. */
  def q147Hierarchy(s: SparkSession, dir: String): DataFrame = {
    val cust = tbl(s, dir, "customer").select(col("c_custkey"))
    val edges = cust.select(col("c_custkey").as("child"),
      expr("c_custkey div 10").as("parent"))
    graft.graph.Hierarchy.flattenToRoot(cust, "c_custkey",
      edges, "child", "parent", maxDepth = 10)
  }

  /** End-to-end curation pipeline UNDER THE HASH GATE — the flagship
    * composition, stage for stage: clean (control-strip → PII redaction →
    * whitespace collapse, the q45-proven regex chain) → exact dedup
    * (min-id survivor per md5 of the CLEANED text) → decontamination
    * against a held-out benchmark slice (3-word-gram overlap, the q42
    * construction, computed on cleaned text) → deterministic 8/1/1 split
    * (q43's md5 buckets) → per-(split, source) rollup. Each stage's
    * oracle exists individually; this one composes them into a single
    * SQL replay, so the STAGE WIRING (what feeds what, dedup before
    * decontam, split on survivors only) is load-bearing for the hash. */
  def q148CurationGate(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val cleaned = docs.select(col("doc_id"), col("source"),
      T.normalizeWhitespace(T.redactPii(T.stripControlChars(col("text")))).as("text"))
    val deduped = Dedup.exactSurvivors(cleaned, "doc_id", "text")
    val bench = deduped.filter(col("doc_id") % 50 === 0)
    val corpus = deduped.filter(col("doc_id") % 50 =!= 0)
    val surv = Dedup.decontaminate(corpus, bench, "doc_id", "text",
      n = 3, minOverlap = 1)
    surv
      .withColumn("split", graft.curate.Curate.splitLabel(col("doc_id"),
        Seq("train" -> 8, "val" -> 1, "test" -> 1)))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("total_chars"))
  }

  /** Target-mixture downsample ([[graft.curate.Curate
    * .matchProportions]]): three sources at weights 2:1:1 — the general
    * dataset-mixing knob ("40% web / 40% code / 20% books"), with the
    * keep rule a cross-multiplied integer rational and the limiting
    * group chosen by the portable double ratio + key tie-break. Sources
    * outside the target list drop. Oracle replays counts, argmin, and
    * the mod/threshold arithmetic verbatim. */
  def q149MatchProportions(s: SparkSession, dir: String): DataFrame =
    graft.curate.Curate.matchProportions(
        tbl(s, dir, "documents"), "source", "doc_id",
        Seq("src0" -> 2L, "src1" -> 1L, "src2" -> 1L))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        sum(length(col("text")).cast("long")).as("kept_chars"))

  /** BM25 served from a STORED index ([[graft.curate.Bm25
    * .buildAndSaveIncIndex]] / loadIncIndex / topKAgainstIncIndex — the
    * at-scale reuse path: build the inverted index once as parquet
    * tables, and rank every later query batch against the artifact
    * without rescanning or re-tokenizing the corpus). Runs q96's exact
    * query set against the reloaded index; save/load must be
    * score-invisible (df/doc counts are integers, dl sums exact
    * integer-valued doubles, and ranking on the 4dp-quantized score +
    * doc-id tie-break pins any ulp drift), so the oracle IS q96's — the
    * same one q158 matches through this path. */
  def q150Bm25StoredIndex(s: SparkSession, dir: String): DataFrame = {
    val B = graft.curate.Bm25
    val tmpRoot = java.nio.file.Files.createTempDirectory("q150_bm25")
      .toFile.getAbsolutePath
    val docs = tbl(s, dir, "documents")
    val queries = docs
      .filter(col("doc_id") % 125 === 3 && size(T.tokens(col("text"))) > 0)
      .select(col("doc_id").as("qid"),
        concat_ws(" ", slice(T.tokens(col("text")), 1, 5)).as("qtext"))
    B.buildAndSaveIncIndex(s, docs, "doc_id", "text", tmpRoot)
    val res = B.topKAgainstIncIndex(B.loadIncIndex(s, tmpRoot),
      queries, "qid", "qtext", k = 5)
    materializeAndCleanup(s, res, tmpRoot)
  }

  /** Chained streaming ingest lifecycle under the gate
    * ([[graft.jobs.StreamingIngest]]): the documents table splits into
    * three slices (doc_id % 3), each arriving as ONE file in a forced
    * modification-time order so micro-batches fire slice 0 → 1 → 2.
    * Batch 0 bootstraps an empty index (self-dedup only); every later
    * batch is admitted against the index GROWN by all earlier survivors
    * — slice 2's admissions are filtered by slice 1's survivors, the
    * chained-fold property a single-batch test cannot pin. The output is
    * the final corpus. Oracle: three composed rounds of the q109-style
    * portable band-candidate + est≥0.7 replay (est grid 1/64; 0.7 sits
    * 0.0031 from the nearest grid point), each round's index CTE being
    * the union of the previous rounds' admitted sets. */
  def q151ChainedIngest(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("q151_ingest")
      .toFile.getAbsolutePath
    val in = s"$root/arrivals"
    new java.io.File(in).mkdirs()
    val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
    val base = System.currentTimeMillis() - 3600000L
    (0 to 2).foreach { i =>
      val stage = s"$root/stage/$i"
      docs.filter(col("doc_id") % 3 === i).coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file under $stage"))
      val dst = new java.io.File(s"$in/slice$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      // distinct mtimes = deterministic micro-batch order (the file
      // source processes oldest-first under maxFilesPerTrigger=1)
      require(dst.setLastModified(base + i * 60000L), s"cannot set mtime on $dst")
    }
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    val stream = ss.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    graft.jobs.StreamingIngest.run(ss, stream, s"$root/index", s"$root/corpus",
      threshold = 0.7, portable = true,
      opts = graft.streaming.Streaming.ForEachBatchOptions(availableNow = true,
        checkpointLocation = Some(s"$root/ckpt"))).awaitTermination()
    val res = graft.sources.Pq.read(s, s"$root/corpus")
      .select(col("doc_id"), (col("doc_id") % 3).as("slice"))
    materializeAndCleanup(s, res, root)
  }

  /** BPE merge learning ([[graft.curate.Bpe.learnMerges]]): the first 8
    * tokenizer-vocabulary merges over the document corpus — corpus-weighted
    * adjacent-symbol argmax with (count desc, lhs, rhs) code-point
    * tie-break and greedy left-to-right merge application. Integer counts
    * and string symbols only, so the hash gate needs no float epsilon; the
    * oracle replays every iteration as unrolled SQL over a U+001D-wrapped
    * symbol-string vocabulary (tools/probe_bpe.py validates the replay
    * against an independent pure-python fold implementation at both
    * scales: identical tables, zero count ties, min argmax margin 9). */
  def q152BpeMerges(s: SparkSession, dir: String): DataFrame =
    graft.curate.Bpe.learnMerges(tbl(s, dir, "documents"), "text", 8)

  /** DSIR importance selection ([[graft.curate.Dsir]]): hashed
    * unigram+bigram importance weights fitted target-vs-raw (target =
    * every 10th doc), raw docs scored by the EXACT integer sum of
    * micro-quantized bucket log-ratios, top-150 kept under the
    * (imp desc, doc_id) total order. The only float surface is the
    * 4096-entry bucket table — tools/probe_dsir.py probes every bucket's
    * rounding-boundary distance at both scales (min 2.1e-4, ~5·10⁴× the
    * cross-libm ln noise) and pins python-libm ≡ duckdb-libm per bucket. */
  def q153DsirSelect(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val target = docs.filter(col("doc_id") % 10 === 0)
    val raw = docs.filter(col("doc_id") % 10 =!= 0)
    val w = graft.curate.Dsir.fitWeights(target, raw, "text", buckets = 4096)
    graft.curate.Dsir.selectTopK(
      graft.curate.Dsir.scoreDocs(raw, "doc_id", "text", w), "doc_id", 150)
  }

  /** Hybrid retrieval via Reciprocal Rank Fusion
    * ([[graft.curate.Hybrid]]): q96's BM25 top-5 (sparse) fused with an
    * exact dense cosine top-5 over the embeddings table (queries = the
    * q96 query set where an embedding exists — the dense index covering a
    * SUBSET of the corpus is the realistic hybrid deployment, and RRF's
    * missing-from-a-list-contributes-0 semantics handles it natively).
    * The fusion is exact integer arithmetic in 1/lcm(61..65) units; the
    * dense ranks ride the 1e-4-quantized cosine with id tie-break
    * (margins probed by tools/probe_hybrid.py at both scales, ≥2e-6 vs
    * ~1e-11 cross-engine noise), the sparse ranks q96's probed device. */
  def q154HybridRrf(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val emb = tbl(s, dir, "embeddings")
    val queries = docs
      .filter(col("doc_id") % 125 === 3 && size(T.tokens(col("text"))) > 0)
      .select(col("doc_id").as("qid"),
        concat_ws(" ", slice(T.tokens(col("text")), 1, 5)).as("qtext"))
    val sparse = graft.curate.Bm25.topK(docs, "doc_id", "text",
      queries, "qid", "qtext", k = 5).select("qid", "doc_id", "rank")
    val qvecs = emb.join(queries.select(col("qid")), col("vec_id") === col("qid"))
      .select(col("qid"), col("embedding").as("qvec"))
    val dense = graft.curate.Hybrid.denseTopK(emb, qvecs,
        "vec_id", "embedding", "qid", "qvec", k = 5)
      .select(col("qid"), col("vec_id").as("doc_id"), col("rank"))
    graft.curate.Hybrid.rrfFuse(Seq(sparse, dense), "qid", "doc_id", "rank",
      maxRank = 5, topK = 5)
  }

  /** Corpus token accounting under the LEARNED tokenizer
    * ([[graft.curate.Bpe.tokenAccounting]]): learn q152's 8 merges, then
    * count BPE tokens and words per source — the "how many training
    * tokens do we have" query. The segmentation runs once per DISTINCT
    * word (vocabulary-sized); the corpus pass just joins instances to
    * that table. Integer counts only; the oracle extends q152's CTE chain
    * with a per-word symbol-length projection of the final vocabulary. */
  def q155BpeAccounting(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    // one corpus histogram pass shared by training and accounting
    val wc = graft.curate.Bpe.wordCounts(docs, "text").localCheckpoint(true).transform(graft.plan.Checkpoints.track)
    val merges = graft.curate.Bpe.learnMergesFromCounts(wc, 8).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    graft.curate.Bpe.tokenAccounting(docs, "source", "text", merges, Some(wc))
  }

  /** ANN-BACKED hybrid retrieval — the at-scale shape of q154, hash-
    * verified end-to-end (VERDICT r7 #1): the dense ranking comes from
    * [[graft.ann.Ivf.topKAgainstIndex]] over a STORED index (fit → save
    * → assign → write → reload → serve, the q150 lifecycle applied to
    * ANN) instead of [[graft.curate.Hybrid.denseTopK]]'s Q×N crossJoin;
    * the fusion is the same exact-BIGINT RRF. Deterministic because
    * every stage is: the IVF fit is the q34 pure-function-of-data
    * KMeans, serving ranks on exact cosine with id tie-break
    * (tools/probe_hybrid_ann.py probes this query set's assignment,
    * probe-boundary, and rank-gap margins at both scales), and BM25
    * ranks on the 4dp-quantized score. Scale shape: corpus scanned
    * linearly at index build, then only probed cells join each query
    * batch — sub-linear serving where q154's dense stage is Q×N. */
  def q156HybridAnn(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val emb = tbl(s, dir, "embeddings")
    val queries = docs
      .filter(col("doc_id") % 125 === 3 && size(T.tokens(col("text"))) > 0)
      .select(col("doc_id").as("qid"),
        concat_ws(" ", slice(T.tokens(col("text")), 1, 5)).as("qtext"))
    val sparse = graft.curate.Bm25.topK(docs, "doc_id", "text",
      queries, "qid", "qtext", k = 5).select("qid", "doc_id", "rank")
    val qvecs = emb.join(queries.select(col("qid")), col("vec_id") === col("qid"))
      .select(col("qid"), col("embedding").as("qvec"))
    val tmpRoot = java.nio.file.Files.createTempDirectory("q156_ivf")
      .toFile.getAbsolutePath
    val model = Ivf.fit(emb, "vec_id", "embedding", numCells = 16, iterations = 2)
    Ivf.save(model, s, s"$tmpRoot/model")
    Ivf.assign(emb, "embedding", model)
      .select(col("vec_id").as("nid"), col("embedding").as("nvec"), col("cell"))
      .write.mode("overwrite").parquet(s"$tmpRoot/index")
    val dense = Ivf.topKAgainstIndex(
        graft.sources.Pq.read(s, s"$tmpRoot/index"), qvecs, Ivf.load(s, s"$tmpRoot/model"),
        "qid", "qvec", k = 5, nProbes = 4)
      .select(col("qid"), col("nid").as("doc_id"), col("rank"))
    // queries × k rows — collect, delete the temp index, return local
    // (the q150/q158 hygiene; VERDICT r8 #1)
    materializeAndCleanup(s,
      graft.curate.Hybrid.rrfFuse(Seq(sparse, dense), "qid", "doc_id", "rank",
        maxRank = 5, topK = 5), tmpRoot)
  }

  /** Incremental BM25 index maintenance ([[graft.curate.Bm25
    * .appendIncIndex]]): the documents table splits 3 ways by
    * `doc_id % 3`; the stored index is built from slice 0, then slices 1
    * and 2 arrive as appends — O(batch + vocabulary) each, the stored
    * postings never read or rewritten (the maintainable separated-df
    * format). Served top-k over the fully-appended index must be
    * IDENTICAL to a full rebuild over the whole corpus, so the oracle is
    * q96's replay verbatim — the exactness argument (integer df/doc
    * counts, exact integer-valued-double dl sums) is in the IncIndex
    * scaladoc, and the quantized-score margins are q96's probed ones. */
  def q158IncBm25(s: SparkSession, dir: String): DataFrame = {
    val B = graft.curate.Bm25
    val tmpRoot = java.nio.file.Files.createTempDirectory("q158_bm25")
      .toFile.getAbsolutePath
    val docs = tbl(s, dir, "documents")
    val queries = docs
      .filter(col("doc_id") % 125 === 3 && size(T.tokens(col("text"))) > 0)
      .select(col("doc_id").as("qid"),
        concat_ws(" ", slice(T.tokens(col("text")), 1, 5)).as("qtext"))
    B.buildAndSaveIncIndex(s,
      docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", tmpRoot)
    B.appendIncIndex(s, tmpRoot, docs.filter(col("doc_id") % 3 === 1), "doc_id", "text")
    B.appendIncIndex(s, tmpRoot, docs.filter(col("doc_id") % 3 === 2), "doc_id", "text")
    val res = B.topKAgainstIncIndex(B.loadIncIndex(s, tmpRoot),
      queries, "qid", "qtext", k = 5)
    materializeAndCleanup(s, res, tmpRoot)
  }

  /** Incremental-index DELETION ([[graft.curate.Bm25
    * .deleteFromIncIndex]]) — the lifecycle op q158 left open (VERDICT r8
    * #1): the index is built over the FULL corpus, then every
    * `doc_id % 17 = 5` doc is removed by tombstone (stored postings never
    * rewritten; df/nDocs/totalDl decremented from the removed docs' own
    * postings rows — integer decrements, exact). Serving anti-joins the
    * tombstones on the candidate-sized frame, so the top-k must be
    * IDENTICAL to a full rebuild over the reduced corpus: the oracle is
    * q96's replay re-generated with the same predicate folded into its
    * corpus CTE. Quantized-score margins for the reduced corpus probed by
    * tools/probe_bm25_delete.py at both scales. */
  def q159IncBm25Delete(s: SparkSession, dir: String): DataFrame = {
    val B = graft.curate.Bm25
    val tmpRoot = java.nio.file.Files.createTempDirectory("q159_bm25")
      .toFile.getAbsolutePath
    val docs = tbl(s, dir, "documents")
    val queries = docs
      .filter(col("doc_id") % 125 === 3 && col("doc_id") % 17 =!= 5 &&
        size(T.tokens(col("text"))) > 0)
      .select(col("doc_id").as("qid"),
        concat_ws(" ", slice(T.tokens(col("text")), 1, 5)).as("qtext"))
    // write-first build (r15): the parquet write IS the materialization —
    // result-equivalent per buildAndSaveIncIndex's contract (same posting
    // rows, derived integer dfs/stats); q159's oracle hash pins it
    B.buildAndSaveIncIndex(s, docs, "doc_id", "text", tmpRoot)
    B.deleteFromIncIndex(s, tmpRoot,
      docs.filter(col("doc_id") % 17 === 5).select("doc_id"), "doc_id")
    val res = B.topKAgainstIncIndex(B.loadIncIndex(s, tmpRoot),
      queries, "qid", "qtext", k = 5)
    materializeAndCleanup(s, res, tmpRoot)
  }

  /** IVF stored-index APPEND lifecycle ([[graft.ann.Ivf.appendToIndex]],
    * the q158 twin for the ANN tier — VERDICT r8 #6): the model is fit
    * once and FROZEN; the index table is written from the base slice
    * (vec_id % 3 ≠ 2) and the remaining slice arrives as an append
    * assigned against the RELOADED model — O(batch), stored rows never
    * read. Because assignment is a pure function of (vector, frozen
    * model), serving over the appended index must be IDENTICAL to a
    * full-corpus assignment: the oracle is q156's dense replay chain
    * verbatim (shared generator), rank-projected. Same query set and
    * probe count as q156, so tools/probe_hybrid_ann.py's rank-boundary
    * margins cover this gate too. */
  def q160IvfAppend(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val emb = tbl(s, dir, "embeddings")
    val qids = docs
      .filter(col("doc_id") % 125 === 3 && size(T.tokens(col("text"))) > 0)
      .select(col("doc_id").as("qid"))
    val qvecs = emb.join(qids, col("vec_id") === col("qid"))
      .select(col("qid"), col("embedding").as("qvec"))
    val tmpRoot = java.nio.file.Files.createTempDirectory("q160_ivf")
      .toFile.getAbsolutePath
    val model = Ivf.fit(emb, "vec_id", "embedding", numCells = 16, iterations = 2)
    Ivf.save(model, s, s"$tmpRoot/model")
    Ivf.assign(emb.filter(col("vec_id") % 3 =!= 2), "embedding", model)
      .select(col("vec_id").as("nid"), col("embedding").as("nvec"), col("cell"))
      .write.mode("overwrite").parquet(s"$tmpRoot/index")
    Ivf.appendToIndex(s, s"$tmpRoot/index", s"$tmpRoot/model",
      emb.filter(col("vec_id") % 3 === 2), "vec_id", "embedding")
    val res = Ivf.topKAgainstIndex(
        graft.sources.Pq.read(s, s"$tmpRoot/index"), qvecs, Ivf.load(s, s"$tmpRoot/model"),
        "qid", "qvec", k = 5, nProbes = 4)
      .select(col("qid"), col("rank"), col("nid").as("doc_id"))
    materializeAndCleanup(s, res, tmpRoot)
  }

  /** Stored-tokenizer serving ([[graft.curate.Bpe.saveMerges]] /
    * [[graft.curate.Bpe.loadMerges]] — VERDICT r8 #7): learn q152's 8
    * merges, persist the merge table, RELOAD it, and run q155's token
    * accounting from the loaded artifact. Merges are (rank, string,
    * string) rows — parquet round-trips them exactly and load restores
    * rank order — so the output must be identical to the in-memory path:
    * the oracle IS q155's (shared val). */
  def q161BpeStoredTokenizer(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val wc = graft.curate.Bpe.wordCounts(docs, "text").localCheckpoint(true).transform(graft.plan.Checkpoints.track)
    val tmpRoot = java.nio.file.Files.createTempDirectory("q161_bpe")
      .toFile.getAbsolutePath
    graft.curate.Bpe.saveMerges(
      graft.curate.Bpe.learnMergesFromCounts(wc, 8), tmpRoot)
    val merges = graft.curate.Bpe.loadMerges(s, tmpRoot)
    val res = graft.curate.Bpe.tokenAccounting(
      docs, "source", "text", merges, Some(wc))
    materializeAndCleanup(s, res, tmpRoot)
  }

  /** Snapshot-VERSIONED index lifecycle ([[graft.curate.Bm25Versioned]] —
    * serving isolated from maintenance, the consistency layer the
    * unversioned IncIndex scaladoc defers to Snapshots): init on slice 0
    * (v1) → two appends (v2, v3) → tombstone delete (v4), then ONE
    * external query set served against BOTH the committed v4 AND the
    * time-traveled v1 — maintenance publishes must not disturb an old
    * version, and the delete must be rebuild-equal on the reduced corpus.
    * Unlike q96's corpus-drawn query set, the queries here are EXTERNAL
    * (drawn from the full documents table) so the same set scores every
    * version; the oracle replays each version's corpus CTE independently
    * under a shared query-term CTE. tools/probe_bm25_versions.py probes
    * both versions' quantization margins at both scales. */
  def q162VersionedIndex(s: SparkSession, dir: String): DataFrame = {
    val B = graft.curate.Bm25
    val V = graft.curate.Bm25Versioned
    val root = java.nio.file.Files.createTempDirectory("q162_bm25v")
      .toFile.getAbsolutePath
    val docs = tbl(s, dir, "documents")
    val queries = docs
      .filter(col("doc_id") % 125 === 3 && size(T.tokens(col("text"))) > 0)
      .select(col("doc_id").as("qid"),
        concat_ws(" ", slice(T.tokens(col("text")), 1, 5)).as("qtext"))
    val v1 = V.init(s, root, docs.filter(col("doc_id") % 3 === 0), "doc_id", "text")
    V.append(s, root, docs.filter(col("doc_id") % 3 === 1), "doc_id", "text")
    V.append(s, root, docs.filter(col("doc_id") % 3 === 2), "doc_id", "text")
    val v4 = V.delete(s, root,
      docs.filter(col("doc_id") % 17 === 5).select("doc_id"), "doc_id")
    require(v1 == 1 && v4 == 4, s"unexpected version chain: v1=$v1 v4=$v4")
    val latest = B.topKAgainstIncIndex(V.load(s, root),
      queries, "qid", "qtext", k = 5).withColumn("version", lit(v4))
    val pinned = B.topKAgainstIncIndex(V.load(s, root, Some(v1)),
      queries, "qid", "qtext", k = 5).withColumn("version", lit(v1))
    materializeAndCleanup(s, latest.unionByName(pinned)
      .select(col("version"), col("qid"), col("rank"), col("doc_id"), col("score")),
      root)
  }

  /** IVF stored-index DELETION ([[graft.ann.Ivf.deleteFromIndex]] — the
    * q159 twin for the ANN tier, closing the vector index's lifecycle
    * the way q159 closed BM25's): the model is fit on the FULL corpus
    * and frozen, the index written from the full assignment, then every
    * `vec_id % 13 = 4` vector is tombstoned — stored rows never
    * rewritten; serving anti-joins the tombstones on the candidate-sized
    * frame. Served top-k must be IDENTICAL to serving an index that
    * never contained the deleted vectors, so the oracle is q156's dense
    * replay chain with the deletion predicate folded into the candidate
    * and query CTEs (same shared generator — the q159/q160 equivalence
    * device). Rank-boundary margins for the REDUCED candidate set probed
    * by tools/probe_ivf_delete.py at both scales. */
  def q163IvfDelete(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val emb = tbl(s, dir, "embeddings")
    val qids = docs
      .filter(col("doc_id") % 125 === 3 && col("doc_id") % 13 =!= 4 &&
        size(T.tokens(col("text"))) > 0)
      .select(col("doc_id").as("qid"))
    val qvecs = emb.join(qids, col("vec_id") === col("qid"))
      .select(col("qid"), col("embedding").as("qvec"))
    val tmpRoot = java.nio.file.Files.createTempDirectory("q163_ivf")
      .toFile.getAbsolutePath
    val model = Ivf.fit(emb, "vec_id", "embedding", numCells = 16, iterations = 2)
    Ivf.save(model, s, s"$tmpRoot/model")
    Ivf.assign(emb, "embedding", model)
      .select(col("vec_id").as("nid"), col("embedding").as("nvec"), col("cell"))
      .write.mode("overwrite").parquet(s"$tmpRoot/index")
    Ivf.deleteFromIndex(s, s"$tmpRoot/index",
      emb.filter(col("vec_id") % 13 === 4).select("vec_id"), "vec_id")
    val res = Ivf.topKAgainstIndex(
        graft.sources.Pq.read(s, s"$tmpRoot/index"), qvecs, Ivf.load(s, s"$tmpRoot/model"),
        "qid", "qvec", k = 5, nProbes = 4,
        tombstones = Ivf.tombstonesOf(s, s"$tmpRoot/index"))
      .select(col("qid"), col("rank"), col("nid").as("doc_id"))
    materializeAndCleanup(s, res, tmpRoot)
  }

  /** SEMANTIC ADMISSION against the stored vector index
    * ([[graft.dedup.Dedup.semanticAdmitAgainstIndex]] — SemDeDup at the
    * ingest boundary, the q109 incremental-admission shape for
    * embeddings): the stored corpus is `vec_id % 4 ≠ 1` (model fit on it
    * and frozen, index written from its assignment); the remaining
    * quarter arrives as the batch, and each batch vector is admitted iff
    * no stored vector in its 4 probed cells reaches cosine 0.42624 —
    * the threshold sits mid-gap in the cross-slice cosine distribution
    * (nearest pair 3.2e-4 away at BOTH scales,
    * tools/probe_semadmit.py). Every stage replays exactly: the
    * restricted fit through the q34 chain (init + Lloyd over the base
    * slice only), probed cells by quantized d², the verdict on raw
    * double cosine ≥ a probed mid-gap threshold (the q32 device). */
  def q164SemanticAdmit(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val base = emb.filter(col("vec_id") % 4 =!= 1)
    val batch = emb.filter(col("vec_id") % 4 === 1)
    val tmpRoot = java.nio.file.Files.createTempDirectory("q164_ivf")
      .toFile.getAbsolutePath
    val model = Ivf.fit(base, "vec_id", "embedding", numCells = 16, iterations = 2)
    Ivf.save(model, s, s"$tmpRoot/model")
    Ivf.assign(base, "embedding", model)
      .select(col("vec_id").as("nid"), col("embedding").as("nvec"), col("cell"))
      .write.mode("overwrite").parquet(s"$tmpRoot/index")
    val res = graft.dedup.Dedup.semanticAdmitAgainstIndex(
      graft.sources.Pq.read(s, s"$tmpRoot/index"), batch, Ivf.load(s, s"$tmpRoot/model"),
      "vec_id", "embedding", threshold = 0.42624, nProbes = 4)
    materializeAndCleanup(s, res, tmpRoot)
  }

  /** Transparent MATERIALIZED-ROLLUP rewrite ([[graft.plan.RollupRewrite]]
    * — the OLAP scan-avoidance tier, a Catalyst optimizer `Rule` injected
    * at runtime): a summary pre-aggregated by (priority, status) answers
    * a later aggregate over the base orders table that groups by a
    * SUBSET of those columns, filters on a group column, and asks for
    * count/sum/min/max — the user query text never mentions the summary;
    * the optimizer redirects it, preserving output exprIds. The gate
    * PROVES the redirect (it requires the optimized plan to scan the
    * summary and not the base — a silent non-rewrite fails the query,
    * not just the hash), and the oracle is the PLAIN aggregate over the
    * base table: rewritten answers must be the same answers. Sums are
    * 4dp-rounded (2dp-grid data, the q01/q02 regime — partial-merge
    * summation order is as safe as any map-side partial); avg stays out
    * of the gate output (the CLAUDE.md float-avg trap) and is pinned
    * exactly on integral measures by RollupRewriteSpec instead. */
  def q165RollupRewrite(s: SparkSession, dir: String): DataFrame = {
    val R = graft.plan.RollupRewrite
    val orders = tbl(s, dir, "orders")
    val groupCols = Seq("o_orderpriority", "o_orderstatus")
    val measures = Seq("o_totalprice", "o_custkey")
    val tmpRoot = java.nio.file.Files.createTempDirectory("q165_rollup")
      .toFile.getAbsolutePath
    graft.plan.Rollup.materialize(orders, groupCols, measures)
      .write.mode("overwrite").parquet(s"$tmpRoot/summary")
    R.register(orders, graft.sources.Pq.read(s, s"$tmpRoot/summary"), groupCols, measures)
    R.enable(s)
    try {
      val q = orders.filter(col("o_orderstatus") =!= "P")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          sum("o_custkey").as("sum_cust"),
          count(col("o_totalprice")).as("cnt_total"),
          sum("o_totalprice").as("__s_total"),
          min("o_totalprice").as("mn"), max("o_totalprice").as("mx"))
        .select(col("o_orderpriority"), col("n_rows"), col("sum_cust"),
          col("cnt_total"), round(col("__s_total"), 2).as("sum_total"),
          col("mn"), col("mx"))
      val scans = R.scanRootPaths(q)
      require(scans.nonEmpty && scans.forall(_.contains(tmpRoot)),
        s"rollup rewrite did not fire — plan scans $scans")
      materializeAndCleanup(s, q, tmpRoot)
    } finally {
      R.disable(s)
      R.clear()
      // covers the require-failure path too (post-success it's a no-op —
      // materializeAndCleanup already removed the dir)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** Snapshot-VERSIONED vector index ([[graft.ann.IvfVersioned]] — the
    * q162 consistency layer applied to the ANN tier): model fit on slice
    * 0 and FROZEN at init (v1), two appends assigned against it (v2,
    * v3), then a tombstone delete that publishes METADATA ONLY (v4 — a
    * vector index has no df/stats analog, so a takedown writes no data
    * at all). One EXTERNAL query set is then served against BOTH the
    * committed v4 and the time-traveled v1: maintenance publishes must
    * not disturb an old version, and each version must serve exactly a
    * fresh full assignment of its live set with the shared frozen model
    * (the q160/q163 contracts per version). The oracle is one slice-0
    * KMeans replay (the fitPred chain) feeding per-version candidate +
    * rank CTEs; tools/probe_ivf_versions.py probes both versions' rank
    * margins at both scales. */
  def q167IvfVersioned(s: SparkSession, dir: String): DataFrame = {
    val V = graft.ann.IvfVersioned
    val docs = tbl(s, dir, "documents")
    val emb = tbl(s, dir, "embeddings")
    val qids = docs
      .filter(col("doc_id") % 125 === 3 && size(T.tokens(col("text"))) > 0)
      .select(col("doc_id").as("qid"))
    val qvecs = emb.join(qids, col("vec_id") === col("qid"))
      .select(col("qid"), col("embedding").as("qvec"))
    val root = java.nio.file.Files.createTempDirectory("q167_ivfv")
      .toFile.getAbsolutePath
    val v1 = V.init(s, root, emb.filter(col("vec_id") % 3 === 0),
      "vec_id", "embedding", numCells = 16, iterations = 2)
    V.append(s, root, emb.filter(col("vec_id") % 3 === 1), "vec_id", "embedding")
    V.append(s, root, emb.filter(col("vec_id") % 3 === 2), "vec_id", "embedding")
    val v4 = V.delete(s, root,
      emb.filter(col("vec_id") % 13 === 4).select("vec_id"), "vec_id")
    require(v1 == 1 && v4 == 4, s"unexpected version chain: v1=$v1 v4=$v4")
    val latest = V.topK(s, root, qvecs, "qid", "qvec", k = 5, nProbes = 4)
      .withColumn("version", lit(v4))
    val pinned = V.topK(s, root, qvecs, "qid", "qvec", k = 5, nProbes = 4,
        version = Some(v1))
      .withColumn("version", lit(v1))
    materializeAndCleanup(s, latest.unionByName(pinned)
      .select(col("version"), col("qid"), col("rank"), col("nid").as("doc_id")),
      root)
  }

  /** CHAINED semantic-admission ingest ([[graft.dedup.Dedup
    * .semanticAdmitAgainstIndex]] composed with [[graft.ann.Ivf
    * .appendToIndex]] — the q151 chained-ingest lifecycle for the vector
    * tier): the stored index starts from slice 0 (model fit there and
    * frozen), then three batches arrive in order; each round's verdicts
    * are computed against the index AS IT STOOD (eager materialization
    * before the append — the decisive lifecycle subtlety: a lazy verdict
    * frame would silently re-read the already-appended index) and the
    * round's admitted vectors are appended for the next round to see.
    * Every verdict must match the unrolled replay: round r's candidate
    * set is slice 0 ∪ the admitted sets of rounds < r, within the batch
    * vector's 4 probed cells. Threshold 0.467318 is mid-gap over ALL
    * embedding pairs at both scales (±6.2e-4 — the global form of the
    * q164 probe, so it is safe for every round's candidate subset;
    * tools/probe_sem_ingest.py). */
  def q168SemanticIngest(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings").select("vec_id", "embedding")
    val base = emb.filter(col("vec_id") % 4 === 0)
    val tmpRoot = java.nio.file.Files.createTempDirectory("q168_ingest")
      .toFile.getAbsolutePath
    val model = Ivf.fit(base, "vec_id", "embedding", numCells = 16, iterations = 2)
    Ivf.save(model, s, s"$tmpRoot/model")
    Ivf.assign(base, "embedding", model)
      .select(col("vec_id").as("nid"), col("embedding").as("nvec"), col("cell"))
      .write.mode("overwrite").parquet(s"$tmpRoot/index")
    val rounds = (1 to 3).map { r =>
      val batch = emb.filter(col("vec_id") % 4 === r)
      // verdicts against the index as of THIS round — eager, then append
      val v = graft.dedup.Dedup.semanticAdmitAgainstIndex(
          graft.sources.Pq.read(s, s"$tmpRoot/index"), batch,
          Ivf.load(s, s"$tmpRoot/model"), "vec_id", "embedding",
          threshold = 0.467318, nProbes = 4)
        .withColumn("round", lit(r))
        .localCheckpoint(true).transform(graft.plan.Checkpoints.track)
      Ivf.appendToIndex(s, s"$tmpRoot/index", s"$tmpRoot/model",
        batch.join(v.filter(col("admitted") === 1).select("vec_id"),
          Seq("vec_id")), "vec_id", "embedding")
      v
    }
    materializeAndCleanup(s,
      rounds.reduce(_.unionByName(_))
        .select(col("round"), col("vec_id"), col("cell"), col("admitted")),
      tmpRoot)
  }

  /** Rollup MAINTENANCE under the rewrite ([[graft.plan.Rollup.merge]] —
    * the q165 summary kept fresh without base rescans): two day-slices
    * are materialized independently, merged at summary level (sums add,
    * counts add, min/min max/max — the partial algebra
    * `Incremental.mergeAggregates` lacks for min/max), and the MERGED
    * summary is registered; the gate's aggregate must then be served
    * from it (required in-plan, the q165 device) and must equal the
    * plain full-base aggregate — maintenance must be answer-invisible,
    * exactly like the index-lifecycle gates q158/q159. */
  def q166RollupMerge(s: SparkSession, dir: String): DataFrame = {
    val R = graft.plan.RollupRewrite
    val orders = tbl(s, dir, "orders")
    val groupCols = Seq("o_orderpriority", "o_orderstatus")
    val measures = Seq("o_totalprice")
    val tmpRoot = java.nio.file.Files.createTempDirectory("q166_rollup")
      .toFile.getAbsolutePath
    val day1 = graft.plan.Rollup.materialize(
      orders.filter(col("o_orderkey") % 2 === 0), groupCols, measures)
    val day2 = graft.plan.Rollup.materialize(
      orders.filter(col("o_orderkey") % 2 =!= 0), groupCols, measures)
    graft.plan.Rollup.merge(day1, day2, groupCols, measures)
      .write.mode("overwrite").parquet(s"$tmpRoot/summary")
    R.register(orders, graft.sources.Pq.read(s, s"$tmpRoot/summary"), groupCols, measures)
    R.enable(s)
    try {
      val q = orders.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          count(col("o_totalprice")).as("cnt_total"),
          sum("o_totalprice").as("__s"),
          min("o_totalprice").as("mn"), max("o_totalprice").as("mx"))
        .select(col("o_orderstatus"), col("n_rows"), col("cnt_total"),
          round(col("__s"), 2).as("sum_total"), col("mn"), col("mx"))
      val scans = R.scanRootPaths(q)
      require(scans.nonEmpty && scans.forall(_.contains(tmpRoot)),
        s"rollup rewrite did not fire over the merged summary — plan scans $scans")
      materializeAndCleanup(s, q, tmpRoot)
    } finally {
      R.disable(s)
      R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** Rollup LATTICE routing ([[graft.plan.RollupRewrite]] with SEVERAL
    * grains registered over one base — the materialized-view-selection
    * problem in its rollup-lattice form): a coarse (status) summary and
    * a fine (priority, status) summary both answer aggregates over
    * orders; the optimizer must route each query to the CHEAPEST grain
    * that can answer it. Three legs, each plan-asserted before union:
    * the status-only aggregate must read the coarse summary (even
    * though the fine one could also answer — fewest-rows wins), the
    * priority aggregate over a fine-only measure must read the fine
    * summary, and an aggregate over an unregistered measure must fall
    * through to the base table untouched. The fine grain is registered
    * FIRST so the gate also proves selection is by grain, not
    * registration order. Oracle = the three plain aggregates over the
    * base: routing must be answer-invisible at every grain. Float sums
    * round at 2dp (the q165/q166 magnitude regime); integer sums are
    * exact BIGINTs cast to double (≪ 2^53). */
  def q169RollupLattice(s: SparkSession, dir: String): DataFrame = {
    val R = graft.plan.RollupRewrite
    val orders = tbl(s, dir, "orders")
    val tmpRoot = java.nio.file.Files.createTempDirectory("q169_lattice")
      .toFile.getAbsolutePath
    graft.plan.Rollup.materialize(orders,
        Seq("o_orderpriority", "o_orderstatus"), Seq("o_totalprice", "o_custkey"))
      .write.mode("overwrite").parquet(s"$tmpRoot/fine")
    graft.plan.Rollup.materialize(orders,
        Seq("o_orderstatus"), Seq("o_totalprice"))
      .write.mode("overwrite").parquet(s"$tmpRoot/coarse")
    R.register(orders, graft.sources.Pq.read(s, s"$tmpRoot/fine"),
      Seq("o_orderpriority", "o_orderstatus"), Seq("o_totalprice", "o_custkey"))
    R.register(orders, graft.sources.Pq.read(s, s"$tmpRoot/coarse"),
      Seq("o_orderstatus"), Seq("o_totalprice"))
    R.enable(s)
    try {
      val qa = orders.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"), sum("o_totalprice").as("__s"))
        .select(lit("coarse").as("leg"), col("o_orderstatus").as("grp"),
          col("n_rows"), round(col("__s"), 2).as("sum_v"))
      val qb = orders.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"), sum("o_custkey").as("__s"))
        .select(lit("fine").as("leg"), col("o_orderpriority").as("grp"),
          col("n_rows"), col("__s").cast("double").as("sum_v"))
      val qc = orders.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("__s"))
        .select(lit("base").as("leg"), col("o_orderstatus").as("grp"),
          col("n_rows"), col("__s").cast("double").as("sum_v"))
      val sa = R.scanRootPaths(qa)
      require(sa.nonEmpty && sa.forall(_.contains(s"$tmpRoot/coarse")),
        s"status aggregate must ride the COARSE grain — plan scans $sa")
      val sb = R.scanRootPaths(qb)
      require(sb.nonEmpty && sb.forall(_.contains(s"$tmpRoot/fine")),
        s"priority/custkey aggregate must ride the FINE grain — plan scans $sb")
      val sc = R.scanRootPaths(qc)
      require(sc.exists(_.contains("orders")),
        s"unregistered measure must fall through to the base — plan scans $sc")
      materializeAndCleanup(s, qa.unionByName(qb).unionByName(qc), tmpRoot)
    } finally {
      R.disable(s)
      R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** EAGER AGGREGATION ([[graft.plan.EagerAggregation]] — partial-agg
    * pushdown through a join, Yan & Larson VLDB '95): the fact side of
    * orders ⋈ customer is pre-aggregated by its join key BELOW the join,
    * so at scale only one partial row per custkey crosses the join
    * shuffle instead of the full fact table (the rewrite Spark's own
    * optimizer lacks; the large-dim sort-merge shape is where it pays).
    * The gate REQUIRES the pushed shape in-plan (an Aggregate below the
    * Join — a silent non-push fails the query, not just the hash) and
    * the oracle is the PLAIN join-then-aggregate SQL: the pushdown must
    * be answer-invisible. Dim-side duplicate-key multiplicity and null
    * fact keys are pinned by EagerAggregationSpec; the float sum rounds
    * at 2dp (the q165/q166 magnitude regime — segment sums reach ~4e9
    * at sf0.1), integer sums are exact BIGINTs. */
  def q170EagerAgg(s: SparkSession, dir: String): DataFrame = {
    val E = graft.plan.EagerAggregation
    val orders = tbl(s, dir, "orders")
    val customer = tbl(s, dir, "customer")
    E.enable(s)
    try {
      val q = orders.join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_rows"), sum("o_custkey").as("sum_cust"),
          sum("o_totalprice").as("__s"),
          min("o_totalprice").as("mn"), max("o_totalprice").as("mx"))
        .select(col("c_mktsegment"), col("n_rows"), col("sum_cust"),
          round(col("__s"), 2).as("sum_total"), col("mn"), col("mx"))
      require(E.partialAggBelowJoin(q),
        s"eager aggregation did not push — plan:\n${q.queryExecution.optimizedPlan}")
      q
    } finally E.disable(s)
  }

  /** SKETCH-CARRYING rollup ([[graft.plan.Rollup.materialize]] with
    * `distinctCols` + the [[graft.functions.expressions.KmvMergeAgg]]
    * derive path in [[graft.plan.RollupRewrite]]): the summary stores a
    * KMV distinct sketch per group alongside the classic partials, so
    * DISTINCT-COUNT questions — the aggregate sum/count/min/max can
    * never answer — also serve from the group-sized summary without
    * rescanning the base. KMV merge is LOSSLESS (order statistic: the
    * global k minima are contained in the union of per-group minima), so
    * the summary-served sketch, estimator included, is IDENTICAL to the
    * base-computed one — which is exactly what the hash-match gate
    * proves. The gate requires the summary scan in-plan; the oracle
    * replays the q69 device (portable md5 k-minima per group) plus the
    * plain count over the base. */
  def q171SketchRollup(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.expressions.KmvDistinctAgg.{estimateDistinct, kmvSketch}
    val R = graft.plan.RollupRewrite
    val k = 16
    val docs = tbl(s, dir, "documents")
    val tmpRoot = java.nio.file.Files.createTempDirectory("q171_sketch")
      .toFile.getAbsolutePath
    graft.plan.Rollup.materialize(docs, Seq("lang"), Seq("n_chars"),
        distinctCols = Seq("n_chars"), sketchK = k)
      .write.mode("overwrite").parquet(s"$tmpRoot/summary")
    R.register(docs, graft.sources.Pq.read(s, s"$tmpRoot/summary"),
      Seq("lang"), Seq("n_chars"), distinctCols = Seq("n_chars"), sketchK = k)
    R.enable(s)
    try {
      val q = docs.groupBy("lang")
        .agg(count(lit(1)).as("n_rows"), sum("n_chars").as("sum_chars"),
          kmvSketch(graft.curate.Curate.portableHash60(col("n_chars")), k)
            .as("__mins"))
        .select(col("lang"), col("n_rows"), col("sum_chars"),
          estimateDistinct(col("__mins"), k).as("est_distinct"))
      val scans = R.scanRootPaths(q)
      require(scans.nonEmpty && scans.forall(_.contains(tmpRoot)),
        s"sketch rollup rewrite did not fire — plan scans $scans")
      materializeAndCleanup(s, q, tmpRoot)
    } finally {
      R.disable(s)
      R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** AGGREGATE NAVIGATION ([[graft.plan.EagerAggregation]] ∘
    * [[graft.plan.RollupRewrite]] in ONE optimizer fixpoint): the join
    * query `orders ⋈ customer GROUP BY c_mktsegment` is answered with
    * NO fact scan at all — iteration 1 pushes the fact partial below
    * the join (eager aggregation), iteration 2 redirects that pushed
    * partial to the registered custkey-grain summary (rollup rewrite).
    * This is the composed form of q165 + q170: at 100 TB the fact table
    * contributes a summary-sized join input, full stop. The gate
    * requires BOTH shapes in-plan (summary scanned, base absent, an
    * Aggregate below the Join); the oracle is the plain join-aggregate
    * over the base — the composition must be answer-invisible. */
  def q172AggNavigation(s: SparkSession, dir: String): DataFrame = {
    val R = graft.plan.RollupRewrite
    val E = graft.plan.EagerAggregation
    val orders = tbl(s, dir, "orders")
    val customer = tbl(s, dir, "customer")
    val tmpRoot = java.nio.file.Files.createTempDirectory("q172_aggnav")
      .toFile.getAbsolutePath
    graft.plan.Rollup.materialize(orders, Seq("o_custkey"), Seq("o_totalprice"))
      .write.mode("overwrite").parquet(s"$tmpRoot/summary")
    R.register(orders, graft.sources.Pq.read(s, s"$tmpRoot/summary"),
      Seq("o_custkey"), Seq("o_totalprice"))
    R.enable(s)
    E.enable(s)
    try {
      val q = orders.join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_rows"), sum("o_totalprice").as("__s"),
          min("o_totalprice").as("mn"), max("o_totalprice").as("mx"))
        .select(col("c_mktsegment"), col("n_rows"),
          round(col("__s"), 2).as("sum_total"), col("mn"), col("mx"))
      val scans = R.scanRootPaths(q)
      require(scans.exists(_.contains(tmpRoot)) &&
          !scans.exists(_.contains("orders")),
        s"aggregate navigation incomplete — plan scans $scans")
      require(E.partialAggBelowJoin(q),
        "pushed-partial shape missing from the composed plan")
      materializeAndCleanup(s, q, tmpRoot)
    } finally {
      E.disable(s)
      R.disable(s)
      R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** LATTICE PERSISTENCE ([[graft.plan.RollupRewrite.save]]/
    * [[graft.plan.RollupRewrite.restore]] — the GraftCatalog restart
    * story applied to the optimizer tier): registrations are JVM state,
    * so without a manifest the whole scan-avoidance tier dies with the
    * session. The gate registers two summaries (one sketch-carrying),
    * saves the manifest (URL-encoded fields, one `AtomicFile` commit),
    * CLEARS the registry — the restart — then
    * restores and serves both legs from the restored tier: a classic
    * aggregate from the status summary and a KMV distinct estimate from
    * the priority summary (whose hash shape had to be RE-SNAPSHOTTED
    * through this session's optimizer — the part a naive
    * serialize-the-expression design would get wrong). Both legs are
    * plan-asserted to their summaries; the oracle is the plain base
    * aggregate + the q69 md5-k-minima replay. */
  def q173LatticePersist(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.expressions.KmvDistinctAgg.{estimateDistinct, kmvSketch}
    val R = graft.plan.RollupRewrite
    val k = 16
    val orders = tbl(s, dir, "orders")
    val tmpRoot = java.nio.file.Files.createTempDirectory("q173_lattice")
      .toFile.getAbsolutePath
    graft.plan.Rollup.materialize(orders, Seq("o_orderstatus"), Seq("o_totalprice"))
      .write.mode("overwrite").parquet(s"$tmpRoot/status")
    graft.plan.Rollup.materialize(orders, Seq("o_orderpriority"), Nil,
        distinctCols = Seq("o_custkey"), sketchK = k)
      .write.mode("overwrite").parquet(s"$tmpRoot/priority")
    R.register(orders, graft.sources.Pq.read(s, s"$tmpRoot/status"),
      Seq("o_orderstatus"), Seq("o_totalprice"))
    R.register(orders, graft.sources.Pq.read(s, s"$tmpRoot/priority"),
      Seq("o_orderpriority"), Nil, Seq("o_custkey"), k)
    R.save(s, s"$tmpRoot/lattice.manifest")
    R.clear() // the restart: the in-memory registry is gone
    require(R.restore(s, s"$tmpRoot/lattice.manifest") == 2,
      "lattice manifest did not restore both registrations")
    R.enable(s)
    try {
      val qa = orders.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"), sum("o_totalprice").as("__s"))
        .select(lit("status").as("leg"), col("o_orderstatus").as("grp"),
          col("n_rows"), round(col("__s"), 2).as("val"))
      val qb = orders.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"),
          kmvSketch(graft.curate.Curate.portableHash60(col("o_custkey")), k)
            .as("__mins"))
        .select(lit("priority").as("leg"), col("o_orderpriority").as("grp"),
          col("n_rows"), estimateDistinct(col("__mins"), k).as("val"))
      val sa = R.scanRootPaths(qa)
      require(sa.nonEmpty && sa.forall(_.contains(s"$tmpRoot/status")),
        s"restored status summary did not serve — plan scans $sa")
      val sb = R.scanRootPaths(qb)
      require(sb.nonEmpty && sb.forall(_.contains(s"$tmpRoot/priority")),
        s"restored sketch summary did not serve — plan scans $sb")
      materializeAndCleanup(s, qa.unionByName(qb), tmpRoot)
    } finally {
      R.disable(s)
      R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** CUBE from the summary ([[graft.plan.RollupRewrite]]'s
    * grouping-sets path — the tier's last aggregate shape): the
    * analyzer plans cube/rollup as Aggregate over Expand; the rewrite
    * swaps the base scan for the registered summary and the measure
    * passthroughs for partial columns, keeping the same Expand
    * machinery to merge partials per grouping set — every set of a
    * cube over registered group columns is a coarsening of the summary
    * grain, so ALL FOUR grouping sets (detail, two subtotals, grand
    * total) come from the tens-of-rows summary in ONE scan, base
    * untouched (gate-required in-plan). Oracle = plain GROUP BY CUBE
    * over the base (the q70 coalesce-to-'ALL' device for null group
    * values); the filter rides the summary like q165's. */
  def q175CubeSummary(s: SparkSession, dir: String): DataFrame = {
    val R = graft.plan.RollupRewrite
    val orders = tbl(s, dir, "orders")
    val tmpRoot = java.nio.file.Files.createTempDirectory("q175_cube")
      .toFile.getAbsolutePath
    graft.plan.Rollup.materialize(orders,
        Seq("o_orderstatus", "o_orderpriority"), Seq("o_totalprice"))
      .write.mode("overwrite").parquet(s"$tmpRoot/summary")
    R.register(orders, graft.sources.Pq.read(s, s"$tmpRoot/summary"),
      Seq("o_orderstatus", "o_orderpriority"), Seq("o_totalprice"))
    R.enable(s)
    try {
      val q = orders.filter(col("o_orderstatus") =!= "P")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg((grouping(col("o_orderstatus")) * 2 +
            grouping(col("o_orderpriority"))).cast("int").as("gid"),
          count(lit(1)).as("n_rows"), sum("o_totalprice").as("__s"),
          min("o_totalprice").as("mn"), max("o_totalprice").as("mx"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
          col("gid"), col("n_rows"), round(col("__s"), 2).as("sum_total"),
          col("mn"), col("mx"))
      val scans = R.scanRootPaths(q)
      require(scans.nonEmpty && scans.forall(_.contains(tmpRoot)),
        s"cube rewrite did not fire — plan scans $scans")
      materializeAndCleanup(s, q, tmpRoot)
    } finally {
      R.disable(s)
      R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** STREAM-MAINTAINED summary under the rewrite (q117's foreachBatch
    * fold ∘ [[graft.plan.Rollup.merge]] ∘ [[graft.plan.RollupRewrite]] —
    * the LIVE DASHBOARD tier): three micro-batch arrivals each fold
    * their slice summary into running state (sums/counts add, min/min
    * max/max — split-order invariant up to the 2dp float regime), the
    * final state is REGISTERED, and the dashboard aggregate over the
    * base table is then REQUIRED in-plan to serve from the
    * stream-maintained summary while hash-matching the plain full-base
    * oracle. At 100 TB this is the point of the whole tier: the
    * dashboard never rescans the fact table, and the summary it reads
    * is kept fresh by the stream, not by batch rebuilds. */
  def q176StreamLattice(s: SparkSession, dir: String): DataFrame = {
    val R = graft.plan.RollupRewrite
    val gc = Seq("o_orderstatus")
    val ms = Seq("o_totalprice")
    val orders = tbl(s, dir, "orders")
    val tmpRoot = java.nio.file.Files.createTempDirectory("q176_latt")
      .toFile.getAbsolutePath
    orders.select("o_orderstatus", "o_totalprice")
      .repartition(3).write.mode("overwrite").parquet(s"$tmpRoot/stream")
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    val schema = graft.sources.Pq.read(ss, s"$tmpRoot/stream").schema
    var state: DataFrame = null
    val q = ss.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmpRoot/stream")
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val delta = graft.plan.Rollup.materialize(batch, gc, ms)
          .localCheckpoint(true).transform(graft.plan.Checkpoints.track)
        state = (if (state == null) delta
                 else graft.plan.Rollup.merge(state, delta, gc, ms)
                   .localCheckpoint(true).transform(graft.plan.Checkpoints.track))
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    state.write.mode("overwrite").parquet(s"$tmpRoot/summary")
    R.register(orders, graft.sources.Pq.read(s, s"$tmpRoot/summary"), gc, ms)
    R.enable(s)
    try {
      val dash = orders.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"), count(col("o_totalprice")).as("cnt_total"),
          sum("o_totalprice").as("__s"),
          min("o_totalprice").as("mn"), max("o_totalprice").as("mx"))
        .select(col("o_orderstatus"), col("n_rows"), col("cnt_total"),
          round(col("__s"), 2).as("sum_total"), col("mn"), col("mx"))
      val scans = R.scanRootPaths(dash)
      require(scans.nonEmpty && scans.forall(_.contains(tmpRoot)),
        s"stream-maintained summary did not serve — plan scans $scans")
      materializeAndCleanup(s, dash, tmpRoot)
    } finally {
      R.disable(s)
      R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** SEQUENCE PACKING ([[graft.curate.Curate.packSequences]] — the op
    * every LLM training pipeline runs before writing shards): documents
    * concatenate in doc_id order and split at fixed 512-token
    * boundaries, one span row per (sequence, document) overlap, with
    * boundary-crossing documents spilling into the next sequence. All
    * integer arithmetic on whitespace token counts (the engine-portable
    * tokenizer both sides already share), and the global prefix sum
    * runs on the denseIndex device — range partition + two-pass
    * offsets, NO global window. The oracle replays the packing as a
    * window prefix sum + generate_series unnest: integer-exact span
    * algebra, nothing to probe. */
  def q177SequencePack(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), size(T.tokens(col("text"))).as("n_tok"))
    graft.curate.Curate.packSequences(docs, "doc_id", "n_tok", seqLen = 512L)
  }

  /** STALENESS GUARD on the rollup tier ([[graft.plan.RollupRewrite]]'s
    * base-manifest fingerprint — VERDICT r9 #1, the materialized-view
    * trap closed): a summary is registered over a writable base copy,
    * then a delta is appended to the base WITHOUT a merge. Leg 1
    * ("fallthrough") proves the guard: the same dashboard aggregate must
    * now scan the BASE (required in-plan — a silently-served stale
    * summary fails the query) and return the answer INCLUDING the
    * unmerged delta. Leg 2 ("refreshed") closes the maintenance loop:
    * [[graft.plan.Rollup.merge]] folds the delta's partials into the
    * stored summary, re-registration REPLACES the stale entry (binding
    * the new manifest), and the identical aggregate must be served from
    * the refreshed summary (required in-plan) with the same answer. The
    * oracle is the plain aggregate over base ∪ delta, once per leg:
    * stale serving, had it happened, would miss the delta and
    * hash-mismatch. 2dp float sums (the q165/q166 magnitude regime). */
  def q178RollupStaleness(s: SparkSession, dir: String): DataFrame = {
    val R = graft.plan.RollupRewrite
    val orders = tbl(s, dir, "orders")
    val groupCols = Seq("o_orderpriority", "o_orderstatus")
    val measures = Seq("o_totalprice")
    val tmpRoot = java.nio.file.Files.createTempDirectory("q178_stale")
      .toFile.getAbsolutePath
    orders.write.mode("overwrite").parquet(s"$tmpRoot/base")
    val base0 = graft.sources.Pq.read(s, s"$tmpRoot/base")
    graft.plan.Rollup.materialize(base0, groupCols, measures)
      .write.mode("overwrite").parquet(s"$tmpRoot/sum1")
    R.register(base0, graft.sources.Pq.read(s, s"$tmpRoot/sum1"), groupCols, measures)
    R.enable(s)
    try {
      // the trap: append to the base, merge nothing
      val delta = orders.filter(col("o_orderkey") % 7 === 3)
      delta.write.mode("append").parquet(s"$tmpRoot/base")
      def aggOf(src: DataFrame) = src.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"), sum("o_totalprice").as("__s"),
          min("o_totalprice").as("mn"), max("o_totalprice").as("mx"))
        .select(col("o_orderstatus"), col("n_rows"),
          round(col("__s"), 2).as("sum_total"), col("mn"), col("mx"))
      val baseNew = graft.sources.Pq.read(s, s"$tmpRoot/base")
      val stale = aggOf(baseNew)
      val scans1 = R.scanRootPaths(stale)
      require(scans1.exists(_.contains("base")) && !scans1.exists(_.contains("sum1")),
        s"staleness guard did not fall through to the base — plan scans $scans1")
      // pin the asserted plan as the EXECUTED one: collect now, before
      // the fresh sum2 registration lands — a lazy union re-optimizes at
      // materialization time with sum2 live, so the 'fallthrough' leg
      // would actually serve from the refreshed summary (answer-equal
      // but plan-untrue) (ADVICE r10)
      val staleRows = stale.collect()
      val staleDf = s.createDataFrame(
        java.util.Arrays.asList(staleRows: _*), stale.schema)
      // maintenance closes the gap: summary-level merge + re-register
      graft.plan.Rollup.merge(graft.sources.Pq.read(s, s"$tmpRoot/sum1"),
          graft.plan.Rollup.materialize(delta, groupCols, measures),
          groupCols, measures)
        .write.mode("overwrite").parquet(s"$tmpRoot/sum2")
      R.register(baseNew, graft.sources.Pq.read(s, s"$tmpRoot/sum2"), groupCols, measures)
      val fresh = aggOf(graft.sources.Pq.read(s, s"$tmpRoot/base"))
      val scans2 = R.scanRootPaths(fresh)
      require(scans2.nonEmpty && scans2.forall(_.contains("sum2")),
        s"refreshed summary did not serve — plan scans $scans2")
      val out = staleDf.withColumn("leg", lit("fallthrough"))
        .unionByName(fresh.withColumn("leg", lit("refreshed")))
        .select("leg", "o_orderstatus", "n_rows", "sum_total", "mn", "mx")
      materializeAndCleanup(s, out, tmpRoot)
    } finally {
      R.disable(s)
      R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** EAGER AGGREGATION under an OUTER join ([[graft.plan
    * .EagerAggregation]]'s Yan-Larson outer variant — VERDICT r9 #3, the
    * most common BI shape after inner): customers LEFT JOIN orders with
    * every aggregate on the ORDERS side, so the pre-aggregation pushes
    * below the join on the NULL-EXTENDED side — the classic COUNT-BUG
    * shape: a customer with no orders is one real output row that a
    * naive partial merge would lose (its partial is NULL); the rule
    * merges count(*) as sum(coalesce(partial, 1)) so segment row counts
    * keep every order-less customer. The gate requires the pushed shape
    * in-plan; the oracle is the plain outer-join aggregate — at sf0.01
    * roughly a third of customers have no orders, so the bug, if
    * reintroduced, shifts n_rows by thousands and hash-fails. 2dp float
    * sums (the q165/q166 magnitude regime). */
  def q179EagerOuter(s: SparkSession, dir: String): DataFrame = {
    val E = graft.plan.EagerAggregation
    val customer = tbl(s, dir, "customer")
    val orders = tbl(s, dir, "orders")
    E.enable(s)
    try {
      def legOf(cust: DataFrame, jt: String, leg: String): DataFrame = {
        val q = cust.join(orders, col("c_custkey") === col("o_custkey"), jt)
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_rows"),
            count(col("o_totalprice")).as("cnt_orders"),
            sum("o_custkey").as("sum_cust"),
            sum("o_totalprice").as("__s"),
            min("o_totalprice").as("mn"), max("o_totalprice").as("mx"))
          .select(lit(leg).as("leg"), col("c_mktsegment"), col("n_rows"),
            col("cnt_orders"), col("sum_cust"),
            round(col("__s"), 2).as("sum_total"), col("mn"), col("mx"))
        require(E.partialAggBelowJoin(q),
          s"eager aggregation did not push below the $jt outer join:\n" +
            s"${q.queryExecution.optimizedPlan}")
        q
      }
      // FULL OUTER leg (VERDICT r9 #5 closure): drop a third of the
      // customers so BOTH obligations fire — order-less customers keep
      // their count-bug row (NULL partial coalesces to 1) AND
      // customer-less orders null-extend once per pre-agg partial under
      // the NULL c_mktsegment group, carrying their raw rows' partials.
      legOf(customer, "left", "left").unionByName(
        legOf(customer.filter(col("c_custkey") % 3 =!= 0), "full", "full"))
    } finally E.disable(s)
  }

  /** EXACT distinct-count from the summary ([[graft.plan.RollupRewrite]]
    * — VERDICT r9 #4, the lossless complement of q171's KMV sketches):
    * when every counted column of a `count(distinct ...)` is IN a
    * summary's grain, the grain carries every (group, c) combination
    * verbatim, so the distinct aggregate redirects to the summary
    * UNCHANGED — bit-exact, no sketch, over a group-cardinality input.
    * Two legs, each plan-asserted: the per-status distinct-priority
    * query must route to the FINE (priority, status) grain — the coarse
    * (status) summary cannot see priorities — while the global
    * distinct-status query (with a status filter pushed onto the
    * summary) routes to the COARSE grain. Oracle = the two plain
    * distinct aggregates over the base. Integer values are exact; the
    * one float sum rounds at 2dp (q165 regime). */
  def q180DistinctGrain(s: SparkSession, dir: String): DataFrame = {
    val R = graft.plan.RollupRewrite
    val orders = tbl(s, dir, "orders")
    val tmpRoot = java.nio.file.Files.createTempDirectory("q180_distinct")
      .toFile.getAbsolutePath
    graft.plan.Rollup.materialize(orders, Seq("o_orderstatus"),
        Seq("o_totalprice"))
      .write.mode("overwrite").parquet(s"$tmpRoot/coarse")
    graft.plan.Rollup.materialize(orders,
        Seq("o_orderpriority", "o_orderstatus"), Seq("o_custkey"))
      .write.mode("overwrite").parquet(s"$tmpRoot/fine")
    R.register(orders, graft.sources.Pq.read(s, s"$tmpRoot/coarse"),
      Seq("o_orderstatus"), Seq("o_totalprice"))
    R.register(orders, graft.sources.Pq.read(s, s"$tmpRoot/fine"),
      Seq("o_orderpriority", "o_orderstatus"), Seq("o_custkey"))
    R.enable(s)
    try {
      val fine = orders.groupBy("o_orderstatus")
        .agg(countDistinct("o_orderpriority").as("nd"),
          count(lit(1)).as("n_rows"), sum("o_custkey").as("__sc"))
        .select(lit("fine").as("leg"), col("o_orderstatus").as("grp"),
          col("nd"), col("n_rows"), col("__sc").cast("double").as("val"))
      val scansF = R.scanRootPaths(fine)
      require(scansF.nonEmpty && scansF.forall(_.contains("fine")),
        s"distinct-on-grain did not route to the fine summary — scans $scansF")
      val coarse = orders.filter(col("o_orderstatus") =!= "P")
        .agg(countDistinct("o_orderstatus").as("nd"),
          count(lit(1)).as("n_rows"), sum("o_totalprice").as("__st"))
        .select(lit("coarse").as("leg"), lit("ALL").as("grp"),
          col("nd"), col("n_rows"), round(col("__st"), 2).as("val"))
      val scansC = R.scanRootPaths(coarse)
      require(scansC.nonEmpty && scansC.forall(_.contains("coarse")),
        s"global distinct did not route to the coarse summary — scans $scansC")
      materializeAndCleanup(s, fine.unionByName(coarse), tmpRoot)
    } finally {
      R.disable(s)
      R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** BEST-FIT-DECREASING packing ([[graft.curate.Curate
    * .packBestFitDecreasing]] — the padding-minimizing middle between
    * q66's streaming next-fit and exact bin packing, plus the
    * [[graft.curate.Curate.paddingStats]] metric that makes the
    * tradeoff measurable in integer basis points): per document, a
    * deterministic item set drawn by portable md5 arithmetic (3-8 items
    * of size 1-96 — the q74/q115 grid device, so the oracle regenerates
    * the identical items), packed into 128-token bins by the exact BFD
    * greedy: sort (size DESC, idx ASC), place each item into the
    * fullest bin that still fits (tie → lowest bin), else open a new
    * bin. Pure integer algebra — the oracle replays the greedy as an
    * 8-step unrolled chain over LIST-typed bin state (list_filter +
    * list_aggregate max = the best-fit choice; every CTE MATERIALIZED
    * per the DuckDB re-expansion trap). Item count is bounded at 8 BY
    * CONSTRUCTION, so the unroll depth is scale-independent. */
  def q181BfdPack(s: SparkSession, dir: String): DataFrame = {
    val C = graft.curate.Curate
    val items = tbl(s, dir, "documents").select("doc_id")
      .withColumn("n_it",
        (C.hashBucketDyn(col("doc_id"), 6, lit(":bfdN")) + 3L).cast("int"))
      .withColumn("item_idx", explode(sequence(lit(0), col("n_it") - 1)))
      .withColumn("sz", C.hashBucketDyn(
        concat(col("doc_id").cast("string"), lit("#"),
          col("item_idx").cast("string")), 96, lit(":bfdS")) + 1L)
      .select("doc_id", "item_idx", "sz")
    val packed = C.packBestFitDecreasing(items, "doc_id", "item_idx", "sz",
      capacity = 128L)
    val stats = C.paddingStats(packed, "doc_id", "sz", "seq_idx", 128L)
    packed.join(stats, Seq("doc_id"))
      .select(col("doc_id"), col("item_idx"), col("sz"), col("seq_idx"),
        col("n_seqs"), col("pad_bp"))
  }

  /** RESTARTABLE ingest pipeline ([[graft.orchestrate.Pipeline
    * .runRestartable]] — VERDICT r9 #5, the crash-recovery orchestration
    * the lifecycle pieces compose into): clean → exact dedup → BM25 base
    * build → index append → summary materialize+merge → snapshot
    * publish, each a ledger-committed RecoverableStage. The gate runs
    * the pipeline TWICE: run A uninterrupted; run B KILLED inside the
    * append stage in appendIncIndex's documented crash window (delta
    * postings committed, dfs/stats stale — postings commit FIRST), then
    * RESTARTED on the same ledger: done stages skip, the intent marker
    * routes [[graft.curate.Bm25.repairIncIndex]] before the body, and
    * the guard-then-act body sees its docs already in postings and
    * no-ops. Serving = BM25 top-5 over the survivor corpus (q96's
    * quantized-score + doc-id-tie-break device) joined with the
    * PUBLISHED per-source summary count; run B must serve IDENTICALLY
    * to run A (required in-query on the k-sized frames) and run B's
    * output is the hash-gated result. Oracle: clean+dedup replayed as a
    * window CTE feeding q96's scoring chain (shared bm25ReplayChain
    * generator — never forked) + the survivor source counts.
    * Quantized-score margins on the survivor corpus probed by
    * tools/probe_pipeline.py at both scales. */
  def q182RestartablePipeline(s: SparkSession, dir: String): DataFrame = {
    val B = graft.curate.Bm25
    val P = graft.orchestrate.Pipeline
    val R = graft.plan.Rollup
    val Snap = graft.sources.Snapshots
    val docs = tbl(s, dir, "documents")
    val tmpRoot = java.nio.file.Files.createTempDirectory("q182_pipe")
      .toFile.getAbsolutePath
    try { // reclaim the temp tree if an in-query require throws

    def stages(work: String, crashAppend: () => Boolean) = Seq(
      P.RecoverableStage("clean")({ () =>
        docs.filter(length(trim(col("text"))) > 0 && col("doc_id") % 7 =!= 2)
          .write.mode("overwrite").parquet(s"$work/clean")
      })(),
      P.RecoverableStage("dedup")({ () =>
        graft.dedup.Dedup.exactSurvivors(
            graft.sources.Pq.read(s, s"$work/clean"), "doc_id", "text")
          .write.mode("overwrite").parquet(s"$work/surv")
      })(),
      P.RecoverableStage("build")({ () =>
        B.buildAndSaveIncIndex(s,
          graft.sources.Pq.read(s, s"$work/surv").filter(col("doc_id") % 3 =!= 0),
          "doc_id", "text", s"$work/index")
      })(),
      P.RecoverableStage("append")({ () =>
        val batch = graft.sources.Pq.read(s, s"$work/surv").filter(col("doc_id") % 3 === 0)
        // guard-then-act: a killed attempt may have committed the batch
        // postings already (appendIncIndex writes postings FIRST); repair
        // has then rebuilt dfs/stats from them, so the append is done
        val present = graft.sources.Pq.read(s, s"$work/index/postings")
          .join(broadcast(batch.select("doc_id")), Seq("doc_id"), "left_semi")
          .limit(1).count() > 0
        if (!present) {
          if (crashAppend()) {
            // the documented crash window: delta postings committed,
            // dfs/stats never updated — then the process dies
            B.tfRows(B.tokenized(batch, "doc_id", "text"))
              .write.mode("append").parquet(s"$work/index/postings")
            throw new RuntimeException("simulated kill mid-append")
          }
          B.appendIncIndex(s, s"$work/index", batch, "doc_id", "text")
        }
      })(() => B.repairIncIndex(s, s"$work/index")),
      P.RecoverableStage("summary")({ () =>
        val sv = graft.sources.Pq.read(s, s"$work/surv")
        R.merge(
            R.materialize(sv.filter(col("doc_id") % 3 =!= 0),
              Seq("source"), Seq("n_chars")),
            R.materialize(sv.filter(col("doc_id") % 3 === 0),
              Seq("source"), Seq("n_chars")),
            Seq("source"), Seq("n_chars"))
          .write.mode("overwrite").parquet(s"$work/summary")
      })(),
      P.RecoverableStage("publish")({ () =>
        if (Snap.versions(s, s"$work/pub").isEmpty)
          Snap.publish(s, s"$work/pub", graft.sources.Pq.read(s, s"$work/summary"))
        ()
      })())

    def serve(work: String): DataFrame = {
      val surv = graft.sources.Pq.read(s, s"$work/surv")
      val queries = surv
        .filter(col("doc_id") % 125 === 3 && size(T.tokens(col("text"))) > 0)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(T.tokens(col("text")), 1, 5)).as("qtext"))
      // 3-decimal serving grain: this corpus drew a raw score 2.5e-11
      // off a 4dp boundary at sf0.1 (tools/probe_pipeline.py) — the 1e-3
      // grid puts the nearest boundary 3 orders above summation noise
      val top = B.topKAgainstIncIndex(B.loadIncIndex(s, s"$work/index"),
        queries, "qid", "qtext", k = 5, scoreDecimals = 3)
      val summary = Snap.readVersion(s, s"$work/pub",
          Snap.latestVersion(s, s"$work/pub").get)
        .select(col("source"), col(R.CntRows).as("src_docs"))
      top.join(surv.select(col("doc_id"), col("source")), Seq("doc_id"))
        .join(summary, Seq("source"))
        .select(col("qid"), col("rank"), col("doc_id"), col("score"),
          col("src_docs"))
    }

    // run A: uninterrupted (control)
    val a = P.runRestartable(s, s"$tmpRoot/a/ledger",
      stages(s"$tmpRoot/a", () => false))
    require(a.forall(_.isInstanceOf[P.Succeeded]), s"control run failed: $a")
    // run B: killed mid-append, then restarted on the same ledger
    var killed = false
    val crashOnce = () => if (killed) false else { killed = true; true }
    val b1 = P.runRestartable(s, s"$tmpRoot/b/ledger",
      stages(s"$tmpRoot/b", crashOnce))
    require(b1.length == 4 && b1.last.isInstanceOf[P.Failed],
      s"run B must halt at the crashed append stage: $b1")
    val b2 = P.runRestartable(s, s"$tmpRoot/b/ledger",
      stages(s"$tmpRoot/b", crashOnce))
    require(b2.take(3).forall(_.isInstanceOf[P.Skipped]) &&
      b2.drop(3).forall(_.isInstanceOf[P.Succeeded]),
      s"restart must skip committed stages and finish the rest: $b2")
    // the crashed-and-repaired run must serve exactly the control run
    val servedA = serve(s"$tmpRoot/a").collect().toSet
    val servedB = serve(s"$tmpRoot/b")
    require(servedB.collect().toSet == servedA,
      "restarted pipeline serves differently from the uninterrupted run")
    materializeAndCleanup(s, servedB, tmpRoot)
    } catch { case e: Throwable =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
      throw e
    }
  }

  /** LEARNED quality filter ([[graft.curate.QualityFilter]] — VERDICT r9
    * #6, the last heuristic-only curation stage made first-class): a
    * logistic scorer over 256 hashed unigram buckets + a value-32 bias
    * feature, trained by 8 epochs of batch gradient descent with the
    * train-size-normalized 1/(27·n_train·i) schedule (scale-robust:
    * 96% at BOTH sf0.01 and sf0.1) on the doc_id % 4 ≠ 1 slice, then scored
    * map-side over EVERY doc. The teacher label distilled here is the
    * compound rule 2·len(toks) + 5·count('batch') ≥ 130 — a linear rule
    * in the count-feature space, so the student can actually fit it
    * (96% train / 93% holdout at sf0.01); lang is NOT learnable on this
    * corpus (all 31 vocabulary words appear in all 5 languages — probed
    * before choosing the teacher). Training is integer-exact per the
    * QualityFilter scaladoc: BIGINT micro-unit weights, per-doc
    * re-quantized residuals (`floor(x·1e6+0.5)` — identical IEEE ops in
    * both engines), exact BIGINT gradients, truncating-div updates
    * (Scala `Long./` ≡ DuckDB `//`, both toward zero — DuckDB's `//` is
    * NOT floor). The oracle is the GENERATED
    * unrolled 8-epoch replay (the q152 device); the one float flip
    * surface (an exp ulp moving a residual's floor) is probed by
    * tools/probe_qf.py at both scales (~1e-4 min distance, 6 orders
    * above ulp noise). Output: (doc_id, label, score_micro, keep) —
    * all integers, nothing else to probe. */
  def q183QualityFilter(s: SparkSession, dir: String): DataFrame = {
    val Qf = graft.curate.QualityFilter
    val docs = tbl(s, dir, "documents")
    val ft = Qf.hashedFeatures(docs, "doc_id", "text", buckets = 256,
      biasValue = 32L)
    val toks = T.tokens(col("text"))
    val labels = docs.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        (lit(2) * size(toks) +
          lit(5) * size(filter(toks, t => t === "batch")) >= 130)
          .cast("int").as("y"))
    val w = Qf.trainLogistic(s, ft,
      labels.filter(col("doc_id") % 4 =!= 1), buckets = 256, epochs = 8)
    Qf.score(ft, w).join(labels, Seq("doc_id"))
      .select(col("doc_id"), col("y").as("label"), col("score_micro"),
        col("keep"))
  }

  /** VERSIONED phrase index ([[graft.curate.PhraseVersioned]] — the
    * THIRD tier on the r10 VersionedPool core, proving the unification's
    * "next index format gets versioning for free" claim: the phrase
    * index has no derived state, so the whole tier is pool batches +
    * the core's manifest/tombstone snapshots). Lifecycle in-query:
    * v1 = init on the doc_id % 3 ≠ 0 slice, v2 = append the rest (full
    * corpus), v3 = delete doc_id % 11 = 4 — a METADATA-ONLY publish
    * (asserted: no new pool batch). One external phrase set serves
    * against BOTH v2 and v3 (the q162 multi-version device): v2 must
    * hit pre-delete docs that v3 must not. Oracle = q106's
    * tokenizer-replay device per version (overlapping-start counts over
    * the version's corpus predicate). Integer counts — nothing to
    * probe. */
  def q184PhraseVersioned(s: SparkSession, dir: String): DataFrame = {
    val PV = graft.curate.PhraseVersioned
    val docs = tbl(s, dir, "documents")
    val tmpRoot = java.nio.file.Files.createTempDirectory("q184_phrase")
      .toFile.getAbsolutePath
    try { // reclaim the temp tree if an in-query require throws
    val root = s"$tmpRoot/idx"
    val phrases = Seq(Seq("fast", "table"), Seq("data", "stream", "batch"))
    PV.init(s, root, docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text")
    val v2 = PV.append(s, root, docs.filter(col("doc_id") % 3 === 0),
      "doc_id", "text")
    val poolBefore = graft.sources.VersionedPool.manifestOf(s, root)
    val v3 = PV.delete(s, root,
      docs.filter(col("doc_id") % 11 === 4).select("doc_id"), "doc_id")
    require(v2 == 2 && v3 == 3, s"unexpected versions ($v2, $v3)")
    require(graft.sources.VersionedPool.manifestOf(s, root) == poolBefore,
      "a delete must publish metadata only — the pool manifest changed")
    val served = Seq(v2, v3).map { v =>
      PV.hits(s, root, phrases, Some(v))
        .select(lit(v).as("version"), col("phrase"), col("doc_id"),
          col("n_occurrences"))
    }.reduce(_.unionByName(_))
    materializeAndCleanup(s, served, tmpRoot)
    } catch { case e: Throwable =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
      throw e
    }
  }

  /** Automatic LATTICE DESIGN ([[graft.plan.LatticeAdvisor]] — the
    * view-selection companion of the q165-q180 optimizer tier: WHICH
    * summaries to materialize, not just how to serve them; the
    * Harinarayan-Rajaraman-Ullman SIGMOD '96 greedy, cited in the
    * scaladoc). Dims = (status, priority, month) over orders; workload =
    * five dashboard grains; budget k = 3. Every quantity is an exact
    * integer (cardinalities = exact distinct counts from ONE cube pass,
    * benefits integer sums, ties break (benefit DESC, fewer columns,
    * name ASC)), so the oracle replays the greedy as an unrolled 3-step
    * SQL chain (the q129 device) with candidate cardinalities computed
    * by DuckDB itself. The gate also CLOSES THE LOOP: the advised
    * grains materialize + register, and a workload query is
    * plan-REQUIRED to be served from an advised summary (routed to the
    * coarsest covering grain) with answers equal to the rewrite-disabled
    * recompute. Output = the advice table. All advised benefits are
    * required positive — the oracle's candidate set is ans-joined, so a
    * zero-benefit tie round would be engine-ambiguous (never reached at
    * these workloads; asserted). */
  def q185LatticeAdvisor(s: SparkSession, dir: String): DataFrame = {
    val LA = graft.plan.LatticeAdvisor
    val R = graft.plan.RollupRewrite
    val orders = tbl(s, dir, "orders")
    val dims = Seq(
      "status" -> col("o_orderstatus"),
      "priority" -> col("o_orderpriority"),
      "month" -> month(col("o_orderdate")).cast("int"))
    val workload = Seq(Set("status"), Set("status", "month"),
      Set("priority"), Set("month"), Set("status", "priority"))
    val advice = LA.advise(orders, dims, workload, k = 3)
    require(advice.forall(_.benefit > 0),
      s"zero-benefit advice round is oracle-ambiguous: $advice")
    // close the loop: materialize + register what was advised, then a
    // workload query must ride an advised summary. The dim-projected
    // fact writes to parquet first (RollupRewrite matches aggregates
    // sitting on a FILE relation — the computed `month` must be a real
    // column of the registered base, the prepared-fact-table shape).
    val tmpRoot = java.nio.file.Files.createTempDirectory("q185_advisor")
      .toFile.getAbsolutePath
    orders.select((dims.map { case (n, c) => c.as(n) } :+
        col("o_totalprice")): _*)
      .write.mode("overwrite").parquet(s"$tmpRoot/base")
    val base2 = graft.sources.Pq.read(s, s"$tmpRoot/base")
    advice.filter(_.grain.nonEmpty).foreach { a =>
      val p = s"$tmpRoot/${a.grain.mkString("_")}"
      graft.plan.Rollup.materialize(base2, a.grain, Seq("o_totalprice"))
        .write.mode("overwrite").parquet(p)
      R.register(base2, graft.sources.Pq.read(s, p), a.grain, Seq("o_totalprice"))
    }
    R.enable(s)
    try {
      val served = base2.groupBy("status", "month")
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
      val scans = R.scanRootPaths(served)
      require(scans.nonEmpty && scans.forall(p =>
          p.contains(tmpRoot) && !p.contains(s"$tmpRoot/base")),
        s"workload query must ride an advised summary, not the base — plan scans $scans")
      val got = served.collect().map(_.toSeq).toSet
      R.disable(s)
      val expect = base2.groupBy("status", "month")
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
        .collect().map(_.toSeq).toSet
      require(got == expect, "advised-summary answers diverge from the base")
      import s.implicits._
      materializeAndCleanup(s,
        advice.map(a => (a.step, LA.grainName(a.grain), a.rows, a.benefit))
          .toDF("step", "grain", "grain_rows", "benefit"), tmpRoot)
    } finally {
      R.disable(s); R.clear()
      // success already cleaned via materializeAndCleanup — this only
      // reclaims the temp tree when an in-query require threw
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** APPROXIMATE lattice advice ([[graft.plan.LatticeAdvisor
    * .grainCardinalitiesApprox]] — the advisor's 100-TB mode: the exact
    * cube's Expand multiplies the scan 2^d-fold, so at scale candidate
    * cardinalities come from 2^d−1 KMV sketches over per-candidate
    * tuple hashes in ONE plain aggregation pass — map-side partials,
    * no shuffle growth). Same dims/workload/budget as q185; the
    * estimates are DETERMINISTIC integers (identical md5 → identical
    * kth-min → identical IEEE divide/floor), so the greedy over them
    * replays exactly: the oracle is the shared generator with each
    * candidate's cardinality subquery swapped for the q69 KMV-estimate
    * replay. Benefits required positive, as in q185. */
  def q189ApproxAdvisor(s: SparkSession, dir: String): DataFrame = {
    val LA = graft.plan.LatticeAdvisor
    val orders = tbl(s, dir, "orders")
    val dims = Seq(
      "status" -> col("o_orderstatus"),
      "priority" -> col("o_orderpriority"),
      "month" -> month(col("o_orderdate")).cast("int"))
    val workload = Seq(Set("status"), Set("status", "month"),
      Set("priority"), Set("month"), Set("status", "priority"))
    val advice = LA.advise(orders, dims, workload, k = 3,
      sketchK = Some(256))
    require(advice.forall(_.benefit > 0),
      s"zero-benefit advice round is oracle-ambiguous: $advice")
    import s.implicits._
    advice.map(a => (a.step, LA.grainName(a.grain), a.rows, a.benefit))
      .toDF("step", "grain", "grain_rows", "benefit")
  }

  /** BUDGETED quality filtering ([[graft.curate.QualityFilter
    * .selectTopRate]] — the production form of q183's keep decision:
    * retention runs at a BUDGET, not at the sign of the score): a
    * 4-epoch model (the q183 trainer, shorter schedule — its per-epoch
    * margins are q183's own first four, already in tools/probe_qf.py's
    * output) scores every doc, then EXACTLY the top ceil(N/4) by
    * (score DESC, doc_id) are kept via the bucketed boundary-selection
    * device — one window over ~1/1024 of the data, never a global one.
    * Pure integer selection (exact integer scores, integer ceil, id
    * tie-break) — the oracle is the shared qfOracleChain generator at
    * epochs=4 plus a plain row_number selection; no new float
    * surface. */
  def q188BudgetedFilter(s: SparkSession, dir: String): DataFrame = {
    val Qf = graft.curate.QualityFilter
    val docs = tbl(s, dir, "documents")
    val ft = Qf.hashedFeatures(docs, "doc_id", "text", buckets = 256,
      biasValue = 32L)
    val toks = T.tokens(col("text"))
    val labels = docs.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        (lit(2) * size(toks) +
          lit(5) * size(filter(toks, t => t === "batch")) >= 130)
          .cast("int").as("y"))
    val w = Qf.trainLogistic(s, ft,
      labels.filter(col("doc_id") % 4 =!= 1), buckets = 256, epochs = 4)
    Qf.selectTopRate(Qf.score(ft, w), "doc_id", "score_micro",
        rateNum = 1, rateDen = 4)
      .select(col("doc_id"), col("score_micro"))
  }

  /** CURRICULUM PACKING — the final-mile training-data assembly,
    * composed end-to-end: q188's learned selection (4-epoch model, top
    * ceil(N/4) by score) feeds q177's fixed-length sequence packer in
    * CURRICULUM order (highest-score docs first — sequence 0 is the
    * "best" data, the ordered-data-loader shape). The ordering rides an
    * integer composite key ((max_score − score)·2^32 + doc_id — an
    * order-embedding of (score DESC, doc_id ASC) into one ascending
    * BIGINT, overflow-guarded), so [[graft.curate.Curate.packSequences]]'
    * id-ordered distributed prefix sum needs no changes and no global
    * window appears anywhere in the chain. Pure integer algebra
    * throughout — the oracle is the shared training chain + row_number
    * selection + the q177 window replay re-keyed to the curriculum
    * order; nothing to probe. */
  def q190CurriculumPack(s: SparkSession, dir: String): DataFrame = {
    val Qf = graft.curate.QualityFilter
    val docs = tbl(s, dir, "documents")
    val ft = Qf.hashedFeatures(docs, "doc_id", "text", buckets = 256,
      biasValue = 32L)
    val toks = T.tokens(col("text"))
    val labels = docs.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        (lit(2) * size(toks) +
          lit(5) * size(filter(toks, t => t === "batch")) >= 130)
          .cast("int").as("y"))
    val w = Qf.trainLogistic(s, ft,
      labels.filter(col("doc_id") % 4 =!= 1), buckets = 256, epochs = 4)
    val sel = Qf.selectTopRate(Qf.score(ft, w), "doc_id", "score_micro",
      rateNum = 1, rateDen = 4)
    val bounds = sel.agg(max("score_micro"), min("score_micro"),
      max("doc_id")).collect()(0)
    val hi = bounds.getLong(0)
    require(hi - bounds.getLong(1) < (1L << 31) &&
      hi - bounds.getLong(1) >= 0,
      "curriculum key needs the score range under 2^31")
    // the id lives in the key's low 32 bits — a wider id space would
    // silently corrupt both the ordering and the recovered doc_id
    // (ADVICE r10); at larger id spaces route ids through
    // Curate.denseIndex first (the q115 device)
    require(bounds.getLong(2) < (1L << 32),
      "curriculum key needs doc_id < 2^32; dense-index wider id spaces first")
    val keyed = sel
      .join(docs.select(col("doc_id"),
        size(T.tokens(col("text"))).cast("long").as("n_tok")), Seq("doc_id"))
      .select(((lit(hi) - col("score_micro")) * lit(1L << 32) +
        col("doc_id")).as("ckey"), col("n_tok"))
    graft.curate.Curate.packSequences(keyed, "ckey", "n_tok", seqLen = 256L)
      .select(col("seq_id"),
        col("ckey").bitwiseAND(lit(0xffffffffL)).as("doc_id"),
        col("seq_off"), col("tok_off"), col("span_len"))
  }

  /** BIGRAM quality filter + HELD-OUT eval gate ([[graft.curate
    * .QualityFilter]] — VERDICT r10 #6): trains the logistic scorer on
    * hashed UNIGRAM+BIGRAM count features (the [[graft.curate.Dsir]]
    * feature space; bigrams are space-joined pairs hashed with the same
    * salt into the same bucket range — collision-free with unigrams by
    * the space character) over the 3/4 train split, then scores the
    * HELD-OUT 1/4 and emits per-doc (label, exact integer score, keep)
    * rows plus the exact confusion accuracy in integer BASIS POINTS
    * (truncating div — the q131 integer-rational device) stamped on
    * every row, so filter QUALITY itself is hash-gated; an in-query
    * require enforces the accuracy floor. Oracle = the shared
    * qfOracleChain generator in bigram mode (8 unrolled epochs) +
    * held-out scoring; the one float surface per epoch (an exp ulp
    * flipping a residual floor) is probed by tools/probe_qf.py
    * --bigrams at both scales. */
  def q193QfHoldout(s: SparkSession, dir: String): DataFrame = {
    val Qf = graft.curate.QualityFilter
    val docs = tbl(s, dir, "documents")
    val ft = Qf.hashedFeatures(docs, "doc_id", "text", buckets = 256,
      biasValue = 32L, bigrams = true)
    val toks = T.tokens(col("text"))
    val labels = docs.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        (lit(2) * size(toks) +
          lit(5) * size(filter(toks, t => t === "batch")) >= 130)
          .cast("int").as("y"))
    // lrScale 29 (not q183's 27): the bigram chain's residuals at 27 sat
    // 2e-8 off a floor boundary at sf0.1 — probed, 29 reads ~6e-5 at
    // both scales (tools/probe_qf.py --bigrams sweep, r11)
    val w = Qf.trainLogistic(s, ft,
      labels.filter(col("doc_id") % 4 =!= 1), buckets = 256, epochs = 8,
      lrScale = 29L)
    val eval = Qf.holdoutEval(ft, w, labels.filter(col("doc_id") % 4 === 1))
    val conf = Qf.confusionStats(eval)
    val accBp = conf.collect()(0).getAs[Long]("acc_bp")
    // floor 8000: real testdata reads 9280/9680 bp (sf0.01/sf0.1) and an
    // untrained model ~55-60%; the decorrelated grow-vocab GenScale
    // corpus reads ~8490 (its token distribution is word-shuffled, so
    // the 'batch'-count half of the teacher is harder) — the floor must
    // gate LEARNING, not a specific corpus
    require(accBp >= 8000,
      s"held-out accuracy gate: $accBp bp < 8000 — the filter stopped learning")
    eval.crossJoin(broadcast(conf.select(col("acc_bp"))))
      .select(col("doc_id"), col("y").cast("int").as("label"),
        col("score_micro"), col("keep"), col("acc_bp"))
  }

  /** RANGE/IN filter conjuncts over a COMPUTED grain ([[graft.plan
    * .RollupRewrite]] — VERDICT r11 #5): q191 gates only equality, but
    * real dashboards write `BETWEEN` and `IN` over the same grain. The
    * per-conjunct rewriter redirects ANY deterministic conjunct whose
    * references all collapse onto grain attributes, so both legs must
    * serve from the month()-grained summary with no base scan: a
    * BETWEEN leg (grouped) and an IN-list leg (grouped), one summary.
    * Oracle = base recompute. 2dp float sums (q165/q191 regime). */
  def q196GrainRangeFilter(s: SparkSession, dir: String): DataFrame = {
    val R = graft.plan.RollupRewrite
    val orders = tbl(s, dir, "orders")
    val tmpRoot = java.nio.file.Files.createTempDirectory("q196_rangegrain")
      .toFile.getAbsolutePath
    graft.plan.Rollup.materializeExpr(orders,
        Seq("om" -> month(col("o_orderdate"))), Seq("o_totalprice"))
      .write.mode("overwrite").parquet(s"$tmpRoot/msum")
    R.register(orders, graft.sources.Pq.read(s, s"$tmpRoot/msum"), Seq("om"),
      Seq("o_totalprice"),
      groupExprOf = Map("om" -> month(col("o_orderdate"))))
    R.enable(s)
    try {
      def leg(name: String, pred: Column) = {
        val q = orders.filter(pred)
          .groupBy(month(col("o_orderdate")).as("om"))
          .agg(count(lit(1)).as("n_rows"), sum("o_totalprice").as("__s"),
            min("o_totalprice").as("mn"), max("o_totalprice").as("mx"))
          .select(lit(name).as("leg"), col("om"), col("n_rows"),
            round(col("__s"), 2).as("sum_total"), col("mn"), col("mx"))
        val scans = R.scanRootPaths(q)
        require(scans.nonEmpty && scans.forall(_.contains(tmpRoot)),
          s"$name leg must serve from the summary — scans $scans")
        q
      }
      val between = leg("between",
        month(col("o_orderdate")).between(3, 5))
      val inList = leg("in", month(col("o_orderdate")).isin(2, 7, 11))
      materializeAndCleanup(s, between.unionByName(inList), tmpRoot)
    } finally {
      R.disable(s); R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** TWO-SUMMARY JOIN NAVIGATION ([[graft.plan.RollupRewrite]] —
    * VERDICT r11 #6): where q172 still scans the dim base, this serves
    * the whole fact⋈dim aggregate with ZERO base scans — the fact
    * summary supplies per-join-key partials, the dim summary its grain
    * rows, and the duplicate-factoring identity (partials × the dim
    * grain's `__cnt_rows`) keeps join multiplicity exact. In-query
    * require: the optimized plan scans NEITHER orders nor customer.
    * Oracle = the direct join recompute. 2dp float sums. */
  def q197JoinNavigation(s: SparkSession, dir: String): DataFrame = {
    val R = graft.plan.RollupRewrite
    val orders = tbl(s, dir, "orders")
    val customer = tbl(s, dir, "customer")
    val tmpRoot = java.nio.file.Files.createTempDirectory("q197_joinnav")
      .toFile.getAbsolutePath
    graft.plan.Rollup.materialize(orders, Seq("o_custkey"),
        Seq("o_totalprice"))
      .write.mode("overwrite").parquet(s"$tmpRoot/fsum")
    graft.plan.Rollup.materialize(customer,
        Seq("c_custkey", "c_mktsegment"), Seq("c_acctbal"))
      .write.mode("overwrite").parquet(s"$tmpRoot/dsum")
    R.register(orders, graft.sources.Pq.read(s, s"$tmpRoot/fsum"),
      Seq("o_custkey"), Seq("o_totalprice"))
    R.register(customer, graft.sources.Pq.read(s, s"$tmpRoot/dsum"),
      Seq("c_custkey", "c_mktsegment"), Seq("c_acctbal"))
    R.enable(s)
    try {
      val q = orders.join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_rows"), sum("o_totalprice").as("__s"),
          min("o_totalprice").as("mn"), max("o_totalprice").as("mx"))
        .select(col("c_mktsegment"), col("n_rows"),
          round(col("__s"), 2).as("sum_total"), col("mn"), col("mx"))
      val scans = R.scanRootPaths(q)
      require(scans.nonEmpty && scans.forall(_.contains(tmpRoot)),
        s"join navigation must scan NO base table — scans $scans")
      materializeAndCleanup(s, q, tmpRoot)
    } finally {
      R.disable(s); R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** VOCABULARY-ADAPTIVE quality filter ([[graft.curate.QualityFilter
    * .deriveBuckets]] — VERDICT r11 #4): q193's fixed 256-bucket feature
    * space saturates when vocabulary grows 10× (the r11 grow-vocab floor
    * trip, BY CONSTRUCTION), so the bucket count is now DERIVED at train
    * time — a KMV vocabulary estimate over the exact feature-gram stream
    * (q69 machinery), rounded up to a power of two. The derivation is
    * engine-replayable (md5-exact hash set, one IEEE division whose
    * floor feeds only integer ladder comparisons), so the oracle derives
    * the SAME count and the derived `nb` column itself is hash-gated
    * alongside the per-doc held-out scores and the basis-point accuracy.
    * Training/eval = q193's bigram chain at the derived width. */
  def q195QfAdaptive(s: SparkSession, dir: String): DataFrame = {
    val Qf = graft.curate.QualityFilter
    val docs = tbl(s, dir, "documents")
    val nb = Qf.deriveBuckets(docs, "doc_id", "text", bigrams = true)
    require(nb >= 256 && Integer.bitCount(nb) == 1,
      s"derived bucket count must be a clamped power of two, got $nb")
    val ft = Qf.hashedFeatures(docs, "doc_id", "text", buckets = nb,
      biasValue = 32L, bigrams = true)
    val toks = T.tokens(col("text"))
    val labels = docs.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        (lit(2) * size(toks) +
          lit(5) * size(filter(toks, t => t === "batch")) >= 130)
          .cast("int").as("y"))
    val w = Qf.trainLogistic(s, ft,
      labels.filter(col("doc_id") % 4 =!= 1), buckets = nb, epochs = 8,
      lrScale = 29L)
    val eval = Qf.holdoutEval(ft, w, labels.filter(col("doc_id") % 4 === 1))
    val conf = Qf.confusionStats(eval)
    val accBp = conf.collect()(0).getAs[Long]("acc_bp")
    require(accBp >= 8000,
      s"held-out accuracy gate: $accBp bp < 8000 — the filter stopped learning")
    eval.crossJoin(broadcast(conf.select(col("acc_bp"))))
      .select(col("doc_id"), col("y").cast("int").as("label"),
        col("score_micro"), col("keep"), col("acc_bp"),
        lit(nb).cast("int").as("nb"))
  }

  /** INCREMENTAL SUMMARY REFRESH ([[graft.plan.RollupRewrite
    * .refreshStale]] — VERDICT r10 #2, q178's production sequel): where
    * the staleness guard falls through to a full base scan, the refresh
    * step diffs the registration's stored file manifest against the
    * current listing, aggregates ONLY the appended files, merges the
    * delta partials into the stored summary ([[graft.plan.Rollup
    * .merge]]), and re-registers — incremental view maintenance at file
    * granularity, delta-sized + summary-sized, never a base rescan. The
    * gate registers a two-grain lattice (fine priority×status, coarse
    * status), appends a delta, refreshes, and REQUIRES: both grains
    * refreshed; each refresh's delta file set EXACTLY the appended files
    * (no-full-scan by construction — the refresh read nothing else); the
    * coarse query serving from the refreshed COARSE summary and the
    * priority query from the refreshed FINE one (lattice routing
    * survives refresh), both plan-asserted. Oracle = base∪delta
    * recompute per leg. 2dp float sums (q165 regime). */
  def q192SummaryRefresh(s: SparkSession, dir: String): DataFrame = {
    val R = graft.plan.RollupRewrite
    val orders = tbl(s, dir, "orders")
    val fineG = Seq("o_orderpriority", "o_orderstatus")
    val coarseG = Seq("o_orderstatus")
    val measures = Seq("o_totalprice")
    val tmpRoot = java.nio.file.Files.createTempDirectory("q192_refresh")
      .toFile.getAbsolutePath
    orders.write.mode("overwrite").parquet(s"$tmpRoot/base")
    val base0 = graft.sources.Pq.read(s, s"$tmpRoot/base")
    graft.plan.Rollup.materialize(base0, fineG, measures)
      .write.mode("overwrite").parquet(s"$tmpRoot/fine")
    graft.plan.Rollup.materialize(base0, coarseG, measures)
      .write.mode("overwrite").parquet(s"$tmpRoot/coarse")
    R.register(base0, graft.sources.Pq.read(s, s"$tmpRoot/fine"), fineG, measures)
    R.register(base0, graft.sources.Pq.read(s, s"$tmpRoot/coarse"), coarseG, measures)
    R.enable(s)
    try {
      def baseFiles(): Set[String] = new java.io.File(s"$tmpRoot/base")
        .listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
      val before = baseFiles()
      orders.filter(col("o_orderkey") % 7 === 3)
        .write.mode("append").parquet(s"$tmpRoot/base")
      val added = baseFiles() -- before
      val rep = R.refreshStale(s, s"$tmpRoot/refreshed")
      require(rep.size == 2 && rep.forall(_.refreshed),
        s"both lattice grains must refresh: $rep")
      rep.foreach { r =>
        val got = r.deltaFiles.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
        require(got == added,
          s"refresh must aggregate EXACTLY the appended files — got $got, appended $added")
      }
      val fineOut = rep.find(_.groupCols == fineG).get.summaryPath
      val coarseOut = rep.find(_.groupCols == coarseG).get.summaryPath
      val baseNew = graft.sources.Pq.read(s, s"$tmpRoot/base")
      val coarse = baseNew.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"), sum("o_totalprice").as("__s"),
          min("o_totalprice").as("mn"), max("o_totalprice").as("mx"))
        .select(lit("coarse").as("leg"), col("o_orderstatus").as("grp"),
          col("n_rows"), round(col("__s"), 2).as("sum_total"),
          col("mn"), col("mx"))
      val scansC = R.scanRootPaths(coarse)
      require(scansC.nonEmpty && scansC.forall(_.endsWith(
          coarseOut.substring(coarseOut.lastIndexOf('/')))),
        s"status query must ride the refreshed COARSE summary — scans $scansC")
      val fine = baseNew.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"), sum("o_totalprice").as("__s"),
          min("o_totalprice").as("mn"), max("o_totalprice").as("mx"))
        .select(lit("fine").as("leg"), col("o_orderpriority").as("grp"),
          col("n_rows"), round(col("__s"), 2).as("sum_total"),
          col("mn"), col("mx"))
      val scansF = R.scanRootPaths(fine)
      require(scansF.nonEmpty && scansF.forall(_.endsWith(
          fineOut.substring(fineOut.lastIndexOf('/')))),
        s"priority query must ride the refreshed FINE summary — scans $scansF")
      materializeAndCleanup(s, coarse.unionByName(fine), tmpRoot)
    } finally {
      R.disable(s); R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** Write `df` as ONE named parquet file inside `baseDir` — the
    * deterministic file→rows device delete gates need (which rows a
    * removed file carried must be SQL-replayable for the oracle). */
  private def writeNamedSlice(df: DataFrame, baseDir: String,
                              name: String): String = {
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

  /** [[writeNamedSlice]] for a whole MODULAR slicing in ONE Spark job
    * (r14, guide §6): rows are tagged `tag` (must evaluate to the keys of
    * `names`), a single task writes every partition dir in one input
    * pass, and each `__slice=<i>` file moves to `baseDir/<names(i)>.parquet`.
    * partitionBy STRIPS the added tag column, so every file carries
    * exactly `df`'s columns with exactly the rows the per-slice
    * writeNamedSlice calls wrote — the file→rows replay contract the
    * delete gates rely on is unchanged; only the job count drops (one
    * write job instead of one per slice). An empty slice falls back to a
    * per-slice empty write so the named file still exists. */
  private def writeNamedSlices(df: DataFrame, tag: org.apache.spark.sql.Column,
                               baseDir: String,
                               names: Map[Int, String]): Map[Int, String] = {
    val st = java.nio.file.Files.createTempDirectory("slices").toString
    // hash-repartition BY the slice tag (r14): all rows of one slice land
    // in ONE task (⇒ still exactly one file per partition dir — the move
    // below relies on that), but different slices write in parallel;
    // coalesce(1) serialized the whole-lineitem slicings into a ~1 s
    // single-task write (q210/q211 profile)
    df.withColumn("__slice", tag.cast("int"))
      .filter(col("__slice").isin(names.keys.toSeq: _*))
      .repartition(math.max(names.size, 1), col("__slice"))
      .write.partitionBy("__slice").mode("overwrite").parquet(st)
    val out = names.map { case (i, nm) =>
      val pdir = new java.io.File(s"$st/__slice=$i")
      if (pdir.exists && pdir.listFiles().exists(_.getName.endsWith(".parquet"))) {
        val parts = pdir.listFiles().filter(_.getName.endsWith(".parquet"))
        // the move below assumes the one-task-per-slice repartition wrote
        // exactly one file per partition dir; if a config/caller ever
        // breaks that, fail loudly instead of silently dropping rows
        // from the written base slice (ADVICE r14)
        require(parts.length == 1,
          s"writeNamedSlices: expected exactly 1 parquet file in $pdir, " +
            s"found ${parts.length}")
        val part = parts.head
        val dst = new java.io.File(s"$baseDir/$nm.parquet")
        dst.getParentFile.mkdirs()
        java.nio.file.Files.move(part.toPath, dst.toPath)
        i -> dst.getAbsolutePath
      } else
        i -> writeNamedSlice(df.filter(tag.cast("int") === i), baseDir, nm)
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(st))
    out
  }

  /** DELETE-AWARE SUMMARY REFRESH ([[graft.plan.RollupRewrite
    * .refreshStale]]'s retraction path — VERDICT r11 #2): files deleted
    * from a registered base through the safe-delete protocol
    * ([[graft.plan.RollupRewrite.deleteFiles]]: a trash-dir move, bytes
    * linger until purge — the same contract every versioned tier here
    * follows) are RETRACTED from the stored summary instead of leaving
    * the registration stale-forever: sums/counts subtract exactly
    * (integer measure ⇒ bit-exact), groups whose extremum may have been
    * removed recompute from the reduced base, emptied groups drop. The
    * base is six named slice files keyed `o_orderkey % 6`; slices 1 and
    * 4 are deleted, so the oracle is simply the reduced-base recompute
    * with `o_orderkey % 6 NOT IN (1, 4)`. In-query requires: the
    * refresh reports EXACTLY the two removed files, and the dashboard
    * aggregate is plan-bound to the retracted summary (no base scan). */
  def q194SummaryRetract(s: SparkSession, dir: String): DataFrame = {
    val R = graft.plan.RollupRewrite
    val orders = tbl(s, dir, "orders")
    val tmpRoot = java.nio.file.Files.createTempDirectory("q194_retract")
      .toFile.getAbsolutePath
    val sliceMap = writeNamedSlices(orders, col("o_orderkey") % 6,
      s"$tmpRoot/base", (0 until 6).map(sl => sl -> s"s$sl").toMap)
    val slicePaths = (0 until 6).map(sliceMap)
    val base0 = graft.sources.Pq.read(s, s"$tmpRoot/base")
    graft.plan.Rollup.materialize(base0, Seq("o_orderstatus"),
        Seq("o_custkey"))
      .write.mode("overwrite").parquet(s"$tmpRoot/sum")
    R.register(base0, graft.sources.Pq.read(s, s"$tmpRoot/sum"),
      Seq("o_orderstatus"), Seq("o_custkey"))
    R.enable(s)
    try {
      val doomed = Seq(slicePaths(1), slicePaths(4))
      R.deleteFiles(s, doomed, s"$tmpRoot/trash")
      val rep = R.refreshStale(s, s"$tmpRoot/refreshed",
        trashDirs = Seq(s"$tmpRoot/trash"))
      require(rep.size == 1 && rep.head.refreshed,
        s"the delete must be retracted, not left stale: $rep")
      val removedNames = rep.head.removedFiles
        .map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
      require(removedNames == Set("s1.parquet", "s4.parquet"),
        s"retraction must cover EXACTLY the deleted files — got $removedNames")
      val out = rep.head.summaryPath
      val q = graft.sources.Pq.read(s, s"$tmpRoot/base").groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"), sum("o_custkey").as("sum_cust"),
          min("o_custkey").as("mn"), max("o_custkey").as("mx"))
        .select(col("o_orderstatus").as("grp"), col("n_rows"),
          col("sum_cust"), col("mn"), col("mx"))
      val scans = R.scanRootPaths(q)
      require(scans.nonEmpty &&
        scans.forall(_.endsWith(out.substring(out.lastIndexOf('/')))),
        s"the dashboard aggregate must ride the RETRACTED summary — scans $scans")
      materializeAndCleanup(s, q, tmpRoot)
    } finally {
      R.disable(s); R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** SERVE-TIME DELTA COMPENSATION ([[graft.plan.RollupRewrite
    * .setCompensation]] — the zero-maintenance rung of the staleness
    * ladder: q178 falls through, q192/q194 materialize a refresh, THIS
    * serves fresh answers from a stale summary with no maintenance at
    * all). A registration stale by a PURE APPEND is answered by
    * splicing `Union(summary scan, delta aggregate over exactly the
    * appended files)` where the summary scan alone would have gone —
    * the rewrite's own re-aggregation merges the union's partials with
    * the [[graft.plan.Rollup.merge]] algebra, so the answer equals the
    * fresh-summary answer while the query scans ONLY the summary and
    * the appended files, never the base. At 100 TB: the dashboard stays
    * fresh through the day's 1% append stream with no refresh job in
    * the loop.
    *
    * The base is four named slices keyed `o_orderkey % 4`; s0-s2 are
    * registered state, s3 is the append, so base∪delta is the WHOLE
    * orders table and the oracle is a plain recompute. Two lattice
    * grains register, BOTH go stale: leg `agg` (plain dashboard
    * aggregate) must compensate on the COARSE status grain; leg `dist`
    * adds `count(distinct o_orderpriority)`, which only the FINE
    * (status, priority) grain carries verbatim — lattice routing under
    * compensation, per leg. In-query requires: pre-enable the stale
    * registration falls through to the base (q178 continuity); each
    * compensated leg's plan reads its summary + EXACTLY s3.parquet and
    * never the base dir or the other grain. Integer measure
    * (`o_custkey`): the union merge is bit-exact, no float surface. */
  def q198CompensatedServe(s: SparkSession, dir: String): DataFrame = {
    val R = graft.plan.RollupRewrite
    val orders = tbl(s, dir, "orders")
    val tmpRoot = java.nio.file.Files.createTempDirectory("q198_comp")
      .toFile.getAbsolutePath
    writeNamedSlices(orders, col("o_orderkey") % 4,
      s"$tmpRoot/base", (0 until 3).map(sl => sl -> s"s$sl").toMap)
    val base0 = graft.sources.Pq.read(s, s"$tmpRoot/base")
    val coarseG = Seq("o_orderstatus")
    val fineG = Seq("o_orderstatus", "o_orderpriority")
    val measures = Seq("o_custkey")
    graft.plan.Rollup.materialize(base0, coarseG, measures)
      .write.mode("overwrite").parquet(s"$tmpRoot/coarse")
    graft.plan.Rollup.materialize(base0, fineG, measures)
      .write.mode("overwrite").parquet(s"$tmpRoot/fine")
    R.register(base0, graft.sources.Pq.read(s, s"$tmpRoot/coarse"), coarseG, measures)
    R.register(base0, graft.sources.Pq.read(s, s"$tmpRoot/fine"), fineG, measures)
    R.enable(s)
    try {
      writeNamedSlice(orders.filter(col("o_orderkey") % 4 === 3),
        s"$tmpRoot/base", "s3")
      val baseNew = graft.sources.Pq.read(s, s"$tmpRoot/base")
      // compensation is OFF: the stale registration must keep q178's
      // fall-through contract (base dir scanned, no summary)
      val fallen = R.scanRootPaths(baseNew.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"), sum("o_custkey").as("sum_cust"),
          min("o_custkey").as("mn"), max("o_custkey").as("mx")))
      require(fallen.exists(_.endsWith("/base")) &&
          !fallen.exists(_.contains("coarse")),
        s"compensation off: stale summary must fall through to the base — $fallen")
      R.setCompensation(true)
      def checkScans(scans: Set[String], want: String, avoid: String): Unit = {
        require(scans.exists(_.contains(want)) &&
            !scans.exists(_.contains(avoid)) &&
            !scans.exists(_.endsWith("/base")),
          s"leg must compensate on the $want grain only — $scans")
        val deltas = scans.filter(_.contains("/base/"))
          .map(p => p.substring(p.lastIndexOf('/') + 1))
        require(deltas == Set("s3.parquet"),
          s"compensated serve must read EXACTLY the appended file — $scans")
      }
      val agg = baseNew.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"), sum("o_custkey").as("sum_cust"),
          min("o_custkey").as("mn"), max("o_custkey").as("mx"))
        .select(lit("agg").as("leg"), col("o_orderstatus").as("grp"),
          col("n_rows"), col("sum_cust"), col("mn"), col("mx"),
          lit(null).cast("long").as("n_prio"))
      checkScans(R.scanRootPaths(agg), "coarse", "fine")
      val dist = baseNew.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"), sum("o_custkey").as("sum_cust"),
          min("o_custkey").as("mn"), max("o_custkey").as("mx"),
          countDistinct(col("o_orderpriority")).as("n_prio"))
        .select(lit("dist").as("leg"), col("o_orderstatus").as("grp"),
          col("n_rows"), col("sum_cust"), col("mn"), col("mx"), col("n_prio"))
      checkScans(R.scanRootPaths(dist), "fine", "coarse")
      materializeAndCleanup(s, agg.unionByName(dist), tmpRoot)
    } finally {
      R.disable(s); R.setCompensation(false); R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** COMPENSATED CUBE + JOIN NAVIGATION (q198's serve-time delta
    * compensation extended to the OTHER two serve shapes): the same
    * union-splice algebra is shape-independent — a CUBE's Expand
    * multiplies the union's rows BEFORE the per-grouping-set merge, and
    * a join duplicates fact partials against both dim slices with
    * x·n1 + x·n2 = x·n, so multiplicity stays exact even with BOTH join
    * sides stale. The fact base is four orders slices (`o_orderkey %
    * 4`, s3 appended), the dim base three customer slices (`c_custkey %
    * 3`, s2 appended), so base∪delta = the full tables and the oracle
    * is a plain recompute. Leg `cube`: CUBE(status, priority) on the
    * stale fact — lattice routing must SKIP the coarser (o_custkey)
    * grain (it cannot carry the cube dims) and compensate on the
    * (status, priority) summary + exactly s3.parquet. Leg `nav`:
    * fact⋈dim grouped by segment with BOTH sides stale — zero base-dir
    * scans, each side's summary + its own delta file plan-required.
    * Integer measure (`o_orderkey`): bit-exact, no float surface. */
  def q199CompensatedCubeNav(s: SparkSession, dir: String): DataFrame = {
    val R = graft.plan.RollupRewrite
    val orders = tbl(s, dir, "orders")
    val customer = tbl(s, dir, "customer")
    val tmpRoot = java.nio.file.Files.createTempDirectory("q199_cubenav")
      .toFile.getAbsolutePath
    writeNamedSlices(orders, col("o_orderkey") % 4,
      s"$tmpRoot/fact", (0 until 3).map(sl => sl -> s"s$sl").toMap)
    writeNamedSlices(customer, col("c_custkey") % 3,
      s"$tmpRoot/dim", (0 until 2).map(sl => sl -> s"s$sl").toMap)
    val fact0 = graft.sources.Pq.read(s, s"$tmpRoot/fact")
    val dim0 = graft.sources.Pq.read(s, s"$tmpRoot/dim")
    graft.plan.Rollup.materialize(fact0, Seq("o_custkey"), Seq("o_orderkey"))
      .write.mode("overwrite").parquet(s"$tmpRoot/fsum")
    graft.plan.Rollup.materialize(fact0,
        Seq("o_orderstatus", "o_orderpriority"), Seq("o_orderkey"))
      .write.mode("overwrite").parquet(s"$tmpRoot/csum")
    graft.plan.Rollup.materialize(dim0, Seq("c_custkey", "c_mktsegment"),
        Seq("c_nationkey"))
      .write.mode("overwrite").parquet(s"$tmpRoot/dsum")
    R.register(fact0, graft.sources.Pq.read(s, s"$tmpRoot/fsum"),
      Seq("o_custkey"), Seq("o_orderkey"))
    R.register(fact0, graft.sources.Pq.read(s, s"$tmpRoot/csum"),
      Seq("o_orderstatus", "o_orderpriority"), Seq("o_orderkey"))
    R.register(dim0, graft.sources.Pq.read(s, s"$tmpRoot/dsum"),
      Seq("c_custkey", "c_mktsegment"), Seq("c_nationkey"))
    R.enable(s)
    R.setCompensation(true)
    try {
      writeNamedSlice(orders.filter(col("o_orderkey") % 4 === 3),
        s"$tmpRoot/fact", "s3")
      writeNamedSlice(customer.filter(col("c_custkey") % 3 === 2),
        s"$tmpRoot/dim", "s2")
      val fact1 = graft.sources.Pq.read(s, s"$tmpRoot/fact")
      val dim1 = graft.sources.Pq.read(s, s"$tmpRoot/dim")
      def deltasOf(scans: Set[String], baseDir: String): Set[String] =
        scans.filter(_.contains(s"/$baseDir/"))
          .map(p => p.substring(p.lastIndexOf('/') + 1))
      val cubeQ = fact1.cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("sum_ok"),
          min("o_orderkey").as("mn"), max("o_orderkey").as("mx"))
        .select(lit("cube").as("leg"), col("o_orderstatus").as("g1"),
          col("o_orderpriority").as("g2"), col("n_rows"), col("sum_ok"),
          col("mn"), col("mx"))
      val cubeScans = R.scanRootPaths(cubeQ)
      require(cubeScans.exists(_.contains("csum")) &&
          !cubeScans.exists(_.contains("fsum")) &&
          !cubeScans.exists(_.endsWith("/fact")) &&
          deltasOf(cubeScans, "fact") == Set("s3.parquet"),
        s"cube must compensate on the (status, priority) summary + s3 only — $cubeScans")
      val navQ = fact1.join(dim1, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("sum_ok"),
          min("o_orderkey").as("mn"), max("o_orderkey").as("mx"))
        .select(lit("nav").as("leg"), col("c_mktsegment").as("g1"),
          lit(null).cast("string").as("g2"), col("n_rows"), col("sum_ok"),
          col("mn"), col("mx"))
      val navScans = R.scanRootPaths(navQ)
      require(navScans.exists(_.contains("fsum")) &&
          navScans.exists(_.contains("dsum")) &&
          !navScans.exists(p => p.endsWith("/fact") || p.endsWith("/dim")),
        s"join nav must compensate both sides with no base scans — $navScans")
      require(deltasOf(navScans, "fact") == Set("s3.parquet") &&
          deltasOf(navScans, "dim") == Set("s2.parquet"),
        s"join nav must read EXACTLY each side's delta — $navScans")
      materializeAndCleanup(s, cubeQ.unionByName(navQ), tmpRoot)
    } finally {
      R.disable(s); R.setCompensation(false); R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** HISTOGRAM-CARRYING ROLLUPS ([[graft.functions.expressions.HistAgg]]
    * + [[graft.plan.Rollup.materialize]]'s `histCols`): quantile
    * dashboards from the summary tier. The summary stores a 256-bucket
    * integer histogram per group (`__hist_c`, q80's msb+2-bit
    * arithmetic); a `histSketch(c)` aggregate on the raw fact redirects
    * to `histMerge(__hist_c)` — LOSSLESS, bucket counts are plain sums —
    * and the q80 lower-bound quantile derives from the merged sketch
    * without a base scan. Because buckets are sums, the histogram
    * composes with the WHOLE maintenance ladder: merge/refresh add,
    * retraction subtracts exactly (unlike the insert-only KMV sketch),
    * and serve-time compensation unions. The gate serves TWO legs from
    * one registration: `fresh` queries the pre-append base handle
    * (snapshot listing ⇒ plain summary serve, plan-required no base
    * scan), `comp` queries the post-append listing (compensated serve,
    * plan-required summary + exactly s3.parquet). Oracle = the q80
    * replay per leg's corpus predicate. Integer buckets + one
    * ceil(total·DOUBLE prob) — the probed q80 float surface. */
  def q200HistRollupServe(s: SparkSession, dir: String): DataFrame = {
    val R = graft.plan.RollupRewrite
    val H = graft.functions.expressions.HistAgg
    val orders = tbl(s, dir, "orders")
    val tmpRoot = java.nio.file.Files.createTempDirectory("q200_hist")
      .toFile.getAbsolutePath
    writeNamedSlices(orders, col("o_orderkey") % 4,
      s"$tmpRoot/base", (0 until 3).map(sl => sl -> s"s$sl").toMap)
    val base0 = graft.sources.Pq.read(s, s"$tmpRoot/base")
    graft.plan.Rollup.materialize(base0, Seq("o_orderstatus"), Nil,
        histCols = Seq("o_custkey"))
      .write.mode("overwrite").parquet(s"$tmpRoot/hsum")
    R.register(base0, graft.sources.Pq.read(s, s"$tmpRoot/hsum"),
      Seq("o_orderstatus"), Nil, histCols = Seq("o_custkey"))
    R.enable(s)
    R.setCompensation(true)
    try {
      writeNamedSlice(orders.filter(col("o_orderkey") % 4 === 3),
        s"$tmpRoot/base", "s3")
      val probs = Seq(0.5, 0.9, 0.99)
      def legQ(name: String, src: DataFrame) =
        src.groupBy("o_orderstatus")
          .agg(H.histSketch(col("o_custkey")).as("h"))
          .select(col("o_orderstatus").as("grp"),
            aggregate(col("h"), lit(0L), (a, x) => a + x).as("n"),
            explode(array(probs.map(p => struct(lit(p).as("prob"),
              H.histQuantile(col("h"), p).as("q"))): _*)).as("e"))
          .select(lit(name).as("leg"), col("grp"), col("e.prob"),
            col("e.q"), col("n"))
      val fresh = legQ("fresh", base0)
      val scansF = R.scanRootPaths(fresh)
      require(scansF.nonEmpty && scansF.forall(_.contains("hsum")),
        s"fresh leg must serve from the histogram summary only — $scansF")
      val comp = legQ("comp", graft.sources.Pq.read(s, s"$tmpRoot/base"))
      val scansC = R.scanRootPaths(comp)
      require(scansC.exists(_.contains("hsum")) &&
          !scansC.exists(_.endsWith("/base")) &&
          scansC.filter(_.contains("/base/"))
            .map(p => p.substring(p.lastIndexOf('/') + 1)) == Set("s3.parquet"),
        s"comp leg must read the summary + EXACTLY s3.parquet — $scansC")
      materializeAndCleanup(s, fresh.unionByName(comp), tmpRoot)
    } finally {
      R.disable(s); R.setCompensation(false); R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** SELF-DESIGNED SUMMARY LATTICE ([[graft.plan.SummaryDesigner]] —
    * the completion of q187's self-tuning loop): workload capture now
    * records each aggregate's FULL layout requirements (measures,
    * exact-distinct args, KMV sketch args + k, histogram args,
    * underivable shapes marked unservable), and the designer turns the
    * captured log into complete materialize+register SPECS — grains via
    * the HRU advisor over requirement sets (grain ∪ filter cols ∪
    * exact-distinct cols, the serving rules inverted), carried columns
    * = the union of the needs of every query each grain can serve.
    * capture → design → build → serve, no human in the loop. The gate
    * bootstraps from COLD traffic (nothing registered): a 4-query
    * dashboard workload (grouped sum, filtered min, exact distinct,
    * histogram quantile) is observed, a 2-grain lattice designed
    * ((status, priority) + (status), both structurally required), built,
    * and the SAME workload re-runs — every leg plan-required to serve
    * from its designed summary with lattice routing (w1/w4 on the
    * coarse status grain, w2/w3 on the fine). Oracle = direct
    * recomputes (the q80 replay for the histogram leg). */
  def q201DesignedLattice(s: SparkSession, dir: String): DataFrame = {
    val R = graft.plan.RollupRewrite
    val H = graft.functions.expressions.HistAgg
    val orders = tbl(s, dir, "orders")
    val tmpRoot = java.nio.file.Files.createTempDirectory("q201_design")
      .toFile.getAbsolutePath
    val nulls = Seq(lit(null).cast("double").as("sum_total"),
      lit(null).cast("long").as("mn_cust"), lit(null).cast("long").as("n_prio"),
      lit(null).cast("long").as("p90"))
    def w1 = orders.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"), sum("o_totalprice").as("__s"))
      .select(lit("w1").as("leg"), col("o_orderstatus").as("grp"),
        col("n_rows"), round(col("__s"), 2).as("sum_total"), nulls(1),
        nulls(2), nulls(3))
    def w2 = orders.filter(col("o_orderpriority") === "1-URGENT")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"), min("o_custkey").as("mn_cust"))
      .select(lit("w2").as("leg"), col("o_orderstatus").as("grp"),
        col("n_rows"), nulls(0), col("mn_cust"), nulls(2), nulls(3))
    def w3 = orders.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("o_orderpriority")).as("n_prio"))
      .select(lit("w3").as("leg"), col("o_orderstatus").as("grp"),
        col("n_rows"), nulls(0), nulls(1), col("n_prio"), nulls(3))
    def w4 = orders.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"), H.histSketch(col("o_custkey")).as("h"))
      .select(lit("w4").as("leg"), col("o_orderstatus").as("grp"),
        col("n_rows"), nulls(0), nulls(1), nulls(2),
        H.histQuantile(col("h"), 0.9).as("p90"))
    R.enable(s)
    R.startWorkloadCapture()
    try {
      // observe cold traffic (bootstrap: nothing registered yet)
      Seq(w1, w2, w3, w4).foreach(_.queryExecution.optimizedPlan)
      val specs = graft.plan.SummaryDesigner.design(orders, k = 2)
      require(specs.size == 2, s"expected a 2-grain design, got $specs")
      val fine = specs.find(_.grainCols.toSet ==
        Set("o_orderstatus", "o_orderpriority")).getOrElse(
        throw new IllegalStateException(s"no fine grain designed: $specs"))
      val coarse = specs.find(_.grainCols == Seq("o_orderstatus")).getOrElse(
        throw new IllegalStateException(s"no coarse grain designed: $specs"))
      require(fine.measures.toSet == Set("o_custkey", "o_totalprice") &&
          fine.histCols == Seq("o_custkey") &&
          coarse.measures == Seq("o_totalprice") &&
          coarse.histCols == Seq("o_custkey"),
        s"designed layouts must carry exactly what their served queries need: $specs")
      val outs = graft.plan.SummaryDesigner.buildAndRegister(s, orders, Nil,
        specs, tmpRoot)
      val fineDir = outs(specs.indexOf(fine))
      val coarseDir = outs(specs.indexOf(coarse))
      def require_served(df: DataFrame, name: String, want: String,
                         avoid: String): DataFrame = {
        val scans = R.scanRootPaths(df)
        require(scans.nonEmpty && scans.forall(_.contains(tmpRoot)) &&
            scans.forall(_.contains(want)) && !scans.exists(_.contains(avoid)),
          s"$name must serve from the designed ${want.substring(want.lastIndexOf('/') + 1)} summary — $scans")
        df
      }
      val out = require_served(w1, "w1", coarseDir, fineDir)
        .unionByName(require_served(w2, "w2", fineDir, coarseDir))
        .unionByName(require_served(w3, "w3", fineDir, coarseDir))
        .unionByName(require_served(w4, "w4", coarseDir, fineDir))
      materializeAndCleanup(s, out, tmpRoot)
    } finally {
      R.disable(s); R.resetWorkloadCapture(); R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** DESIGNED-LATTICE MAINTENANCE ([[graft.plan.SummaryDesigner]] ∘
    * [[graft.plan.RollupRewrite.refreshStale]]): a summary tier that
    * designs itself (q201) must also MAINTAIN itself, or the design is
    * a one-shot. The gate drives the full lifecycle on one designed
    * registration: capture a 2-query dashboard (grouped integer sum +
    * histogram p90) over a 3-slice base → design (one status-grained
    * spec carrying the measure AND the histogram) → build → APPEND a
    * slice → refreshStale folds exactly the appended file into the
    * designed summary (histogram buckets add) → serve, plan-required on
    * the refreshed summary → DELETE a slice via the trash protocol →
    * refreshStale RETRACTS it (sums/counts/histograms subtract; the
    * integer measure's min/max may force per-group recomputes, which is
    * the documented asymmetry) → serve again. Oracle = per-phase
    * recomputes with the q80 histogram replay; base∪append = full
    * orders, post-delete = `o_orderkey % 4 <> 1`. */
  def q202DesignedMaintenance(s: SparkSession, dir: String): DataFrame = {
    val R = graft.plan.RollupRewrite
    val H = graft.functions.expressions.HistAgg
    val orders = tbl(s, dir, "orders")
    val tmpRoot = java.nio.file.Files.createTempDirectory("q202_maint")
      .toFile.getAbsolutePath
    val sliceMap = writeNamedSlices(orders, col("o_orderkey") % 4,
      s"$tmpRoot/base", (0 until 3).map(sl => sl -> s"s$sl").toMap)
    val slicePaths = (0 until 3).map(sliceMap)
    val base0 = graft.sources.Pq.read(s, s"$tmpRoot/base")
    R.enable(s)
    R.startWorkloadCapture()
    try {
      def dash(src: DataFrame, leg: String) = src.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"), sum("o_custkey").as("sum_cust"),
          H.histSketch(col("o_custkey")).as("h"))
        .select(lit(leg).as("leg"), col("o_orderstatus").as("grp"),
          col("n_rows"), col("sum_cust"),
          H.histQuantile(col("h"), 0.9).as("p90"))
      dash(base0, "capture").queryExecution.optimizedPlan
      R.stopWorkloadCapture()
      val specs = graft.plan.SummaryDesigner.design(base0, k = 1)
      require(specs.size == 1 && specs.head.grainCols == Seq("o_orderstatus") &&
          specs.head.measures == Seq("o_custkey") &&
          specs.head.histCols == Seq("o_custkey"),
        s"the designed spec must carry the dashboard's full layout: $specs")
      graft.plan.SummaryDesigner.buildAndRegister(s, base0, Nil, specs,
        s"$tmpRoot/designed")
      // APPEND → incremental refresh of the DESIGNED summary
      writeNamedSlice(orders.filter(col("o_orderkey") % 4 === 3),
        s"$tmpRoot/base", "s3")
      val rep1 = R.refreshStale(s, s"$tmpRoot/refreshed")
      require(rep1.size == 1 && rep1.head.refreshed &&
          rep1.head.deltaFiles.map(p =>
            p.substring(p.lastIndexOf('/') + 1)) == Seq("s3.parquet"),
        s"the designed summary must refresh from exactly the appended file: $rep1")
      val app = dash(graft.sources.Pq.read(s, s"$tmpRoot/base"), "app")
      require(R.scanRootPaths(app).forall(_.contains("refresh")),
        s"post-append dashboard must ride the refreshed designed summary — ${R.scanRootPaths(app)}")
      val appRows = materializeSmall(s, app)
      // DELETE → retraction of the designed summary (histograms subtract)
      R.deleteFiles(s, Seq(slicePaths(1)), s"$tmpRoot/trash")
      val rep2 = R.refreshStale(s, s"$tmpRoot/refreshed2",
        trashDirs = Seq(s"$tmpRoot/trash"))
      require(rep2.size == 1 && rep2.head.refreshed &&
          rep2.head.removedFiles.map(p =>
            p.substring(p.lastIndexOf('/') + 1)) == Seq("s1.parquet"),
        s"the designed summary must retract exactly the deleted file: $rep2")
      val del = dash(graft.sources.Pq.read(s, s"$tmpRoot/base"), "del")
      require(R.scanRootPaths(del).forall(_.contains("refreshed2")),
        s"post-delete dashboard must ride the retracted designed summary — ${R.scanRootPaths(del)}")
      materializeAndCleanup(s, appRows.unionByName(del), tmpRoot)
    } finally {
      R.disable(s); R.resetWorkloadCapture(); R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** Collect a SMALL frame into a driver-local relation NOW (the phase
    * result must be pinned before the next phase mutates the base the
    * lazy plan reads). */
  private def materializeSmall(s: SparkSession, df: DataFrame): DataFrame = {
    val rows = df.collect()
    s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** AGGREGATE JOIN SUMMARY ([[graft.plan.RollupRewrite.registerJoined]]
    * — the classic AJI, completing the view taxonomy): where q197's
    * two-summary navigation still JOINS two summaries at serve time,
    * a summary materialized over `orders ⋈ customer` serves matching
    * join-aggregates from ONE scan with NO join operator in the plan
    * at all — the right shape when the dim grain is large. Grain spans
    * BOTH sides ((c_mktsegment, o_orderstatus)); leg `full` groups by
    * both, leg `seg` coarsens to the segment alone FROM THE SAME
    * summary (subset coarsening reuses the single-table machinery
    * verbatim — grain matching is name-shape-based and
    * `tryRewriteWith` never looks at the aggregate's child). In-query
    * requires: each leg's plan scans EXACTLY the AJI and contains ZERO
    * Join nodes; after a dim append, the same query falls back to the
    * real join (BOTH bases' manifests guard freshness). Oracle =
    * direct join recomputes; integer measure. */
  def q203JoinedSummary(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val R = graft.plan.RollupRewrite
    val tmpRoot = java.nio.file.Files.createTempDirectory("q203_aji")
      .toFile.getAbsolutePath
    tbl(s, dir, "orders").write.mode("overwrite").parquet(s"$tmpRoot/fact")
    tbl(s, dir, "customer").write.mode("overwrite").parquet(s"$tmpRoot/dim")
    val fact = graft.sources.Pq.read(s, s"$tmpRoot/fact")
    val dim = graft.sources.Pq.read(s, s"$tmpRoot/dim")
    graft.plan.Rollup.materializeJoined(fact, dim,
        Seq("o_custkey" -> "c_custkey"),
        Seq("c_mktsegment", "o_orderstatus"), Seq("o_orderkey"))
      .write.mode("overwrite").parquet(s"$tmpRoot/aji")
    R.registerJoined(fact, dim, Seq("o_custkey" -> "c_custkey"),
      graft.sources.Pq.read(s, s"$tmpRoot/aji"),
      Seq("c_mktsegment", "o_orderstatus"), Seq("o_orderkey"))
    R.enable(s)
    try {
      def requireAji(df: DataFrame, name: String): DataFrame = {
        val scans = R.scanRootPaths(df)
        require(scans == Set(s"file:$tmpRoot/aji"),
          s"$name must serve from the AJI alone — $scans")
        require(df.queryExecution.optimizedPlan.collect {
            case j: LJoin => j }.isEmpty,
          s"$name must contain NO serve-time join")
        df
      }
      val joined = fact.join(dim, col("o_custkey") === col("c_custkey"))
      val full = requireAji(joined.groupBy("c_mktsegment", "o_orderstatus")
        .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("sum_ok"),
          min("o_orderkey").as("mn"), max("o_orderkey").as("mx"))
        .select(lit("full").as("leg"), col("c_mktsegment").as("seg"),
          col("o_orderstatus").as("st"), col("n_rows"), col("sum_ok"),
          col("mn"), col("mx")), "full leg")
      val seg = requireAji(joined.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("sum_ok"),
          min("o_orderkey").as("mn"), max("o_orderkey").as("mx"))
        .select(lit("seg").as("leg"), col("c_mktsegment").as("seg"),
          lit(null).cast("string").as("st"), col("n_rows"), col("sum_ok"),
          col("mn"), col("mx")), "seg leg")
      val out = materializeSmall(s, full.unionByName(seg))
      // a DIM append breaks BOTH-base freshness: the same query must
      // fall back to the real join (never silently stale)
      tbl(s, dir, "customer").limit(5)
        .write.mode("append").parquet(s"$tmpRoot/dim")
      val fallen = graft.sources.Pq.read(s, s"$tmpRoot/fact")
        .join(graft.sources.Pq.read(s, s"$tmpRoot/dim"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      val fallenScans = R.scanRootPaths(fallen)
      require(fallenScans.contains(s"file:$tmpRoot/fact") &&
          fallenScans.contains(s"file:$tmpRoot/dim"),
        s"stale AJI must fall back to the real join — $fallenScans")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
      out
    } finally {
      R.disable(s); R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** JOINED-SUMMARY MAINTENANCE ([[graft.plan.RollupRewrite
    * .refreshStale]]'s joined pass — q203's AJI is not a one-shot
    * either): a fact-side PURE APPEND delta-refreshes the joined
    * summary by aggregating `appended-fact-files ⋈ dim` and merging —
    * delta-fact-sized work, the stored summary and the fact base never
    * rescan. Dim-side REMOVALS report unrefreshable (a removed/changed
    * dim row multiplies into arbitrarily many stored groups — rebuild
    * territory, not delta arithmetic; the gate requires this refusal
    * in-query). The fact base is four orders slices
    * (`o_orderkey % 4`, s3 appended), the dim the full customer table,
    * so the refreshed AJI must equal the full-join recompute. Serve
    * plan-required on the refreshed summary with ZERO Join nodes. A
    * dim-side REMOVAL is required to refuse in-query (dim appends are
    * q206's refreshable path). Integer measure. */
  def q204JoinedMaintenance(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val R = graft.plan.RollupRewrite
    val tmpRoot = java.nio.file.Files.createTempDirectory("q204_aji_maint")
      .toFile.getAbsolutePath
    writeNamedSlices(tbl(s, dir, "orders"), col("o_orderkey") % 4,
      s"$tmpRoot/fact", (0 until 3).map(sl => sl -> s"s$sl").toMap)
    // two named dim slices: the removal leg below must leave the dim
    // base readable (a one-file dim would empty the dir)
    writeNamedSlices(tbl(s, dir, "customer"), col("c_custkey") % 2,
      s"$tmpRoot/dim", (0 until 2).map(sl => sl -> s"c$sl").toMap)
    val fact0 = graft.sources.Pq.read(s, s"$tmpRoot/fact")
    val dim0 = graft.sources.Pq.read(s, s"$tmpRoot/dim")
    graft.plan.Rollup.materializeJoined(fact0, dim0,
        Seq("o_custkey" -> "c_custkey"), Seq("c_mktsegment"),
        Seq("o_orderkey"))
      .write.mode("overwrite").parquet(s"$tmpRoot/aji")
    R.registerJoined(fact0, dim0, Seq("o_custkey" -> "c_custkey"),
      graft.sources.Pq.read(s, s"$tmpRoot/aji"), Seq("c_mktsegment"),
      Seq("o_orderkey"))
    R.enable(s)
    try {
      writeNamedSlice(tbl(s, dir, "orders")
        .filter(col("o_orderkey") % 4 === 3), s"$tmpRoot/fact", "s3")
      val rep = R.refreshStale(s, s"$tmpRoot/ref")
      require(rep.size == 1 && rep.head.refreshed &&
          rep.head.deltaFiles.map(p =>
            p.substring(p.lastIndexOf('/') + 1)) == Seq("s3.parquet"),
        s"the AJI must delta-refresh from exactly the appended file: $rep")
      val q = graft.sources.Pq.read(s, s"$tmpRoot/fact")
        .join(graft.sources.Pq.read(s, s"$tmpRoot/dim"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("sum_ok"),
          min("o_orderkey").as("mn"), max("o_orderkey").as("mx"))
        .select(col("c_mktsegment").as("seg"), col("n_rows"),
          col("sum_ok"), col("mn"), col("mx"))
      val scans = R.scanRootPaths(q)
      require(scans.size == 1 && scans.head.contains("refreshj"),
        s"post-refresh serve must ride the refreshed AJI alone — $scans")
      require(q.queryExecution.optimizedPlan.collect {
          case j: LJoin => j }.isEmpty, "no serve-time join post-refresh")
      val out = materializeSmall(s, q)
      // a DIM REMOVAL must be REFUSED (a removed/changed dim row
      // multiplies into arbitrarily many stored groups — rebuild
      // territory, never delta arithmetic; dim APPENDS are q206's
      // refreshable path)
      val dimFile = new java.io.File(s"$tmpRoot/dim").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      require(dimFile.delete(), s"test setup: could not delete $dimFile")
      val rep2 = R.refreshStale(s, s"$tmpRoot/ref2")
      require(rep2.size == 1 && !rep2.head.refreshed,
        s"a dim removal must report unrefreshable: $rep2")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
      out
    } finally {
      R.disable(s); R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** AJI SERVE-TIME COMPENSATION ([[graft.plan.RollupRewrite
    * .setCompensation]] extended to the FOURTH serve shape — q198/q199
    * cover plain, CUBE, and per-side join navigation): an aggregate
    * join summary stale by a FACT-side pure append serves
    * `Union(AJI scan, Rollup layout over Δfact ⋈ dim)` — the rewrite's
    * own re-aggregation merges the union's partials, so the answer
    * equals the fresh-AJI answer with NO refresh job in the loop. The
    * FIRST serve splices the delta join (delta-fact-sized; the dim
    * streams once against it) — plan-required to read the AJI +
    * EXACTLY s3.parquet + the dim dir, never the fact base dir; from
    * the SECOND serve the GROUP-sized delta is a cached driver-local
    * relation and the plan scans the AJI ALONE with ZERO Join nodes
    * (both plan-required, and the cached-serve rows are required
    * in-query to equal the spliced-scan rows). A DIM-side change
    * REFUSES compensation (its delta join would read the whole
    * registered fact — a maintenance-time move, q206's path, never a
    * per-query one): the gate requires the post-dim-append serve to
    * fall back to the real join. Fact = four orders slices
    * (`o_orderkey % 4`, s3 appended) ⇒ base ∪ delta is the whole
    * table and the oracle is a plain join recompute. Integer
    * measures: the union merge is bit-exact, no float surface. */
  def q205JoinedCompensation(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val R = graft.plan.RollupRewrite
    val tmpRoot = java.nio.file.Files.createTempDirectory("q205_aji_comp")
      .toFile.getAbsolutePath
    writeNamedSlices(tbl(s, dir, "orders"), col("o_orderkey") % 4,
      s"$tmpRoot/fact", (0 until 3).map(sl => sl -> s"s$sl").toMap)
    tbl(s, dir, "customer").write.mode("overwrite").parquet(s"$tmpRoot/dim")
    val fact0 = graft.sources.Pq.read(s, s"$tmpRoot/fact")
    val dim0 = graft.sources.Pq.read(s, s"$tmpRoot/dim")
    graft.plan.Rollup.materializeJoined(fact0, dim0,
        Seq("o_custkey" -> "c_custkey"), Seq("c_mktsegment"),
        Seq("o_orderkey"))
      .write.mode("overwrite").parquet(s"$tmpRoot/aji")
    R.registerJoined(fact0, dim0, Seq("o_custkey" -> "c_custkey"),
      graft.sources.Pq.read(s, s"$tmpRoot/aji"), Seq("c_mktsegment"),
      Seq("o_orderkey"))
    R.enable(s)
    R.setCompensation(true)
    try {
      writeNamedSlice(tbl(s, dir, "orders")
        .filter(col("o_orderkey") % 4 === 3), s"$tmpRoot/fact", "s3")
      def serve(): DataFrame = graft.sources.Pq.read(s, s"$tmpRoot/fact")
        .join(graft.sources.Pq.read(s, s"$tmpRoot/dim"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("sum_ok"),
          min("o_orderkey").as("mn"), max("o_orderkey").as("mx"))
        .select(col("c_mktsegment").as("seg"), col("n_rows"),
          col("sum_ok"), col("mn"), col("mx"))
      // FIRST compensated serve: pays and structurally PROVES the
      // exactly-the-appended-file read (AJI + s3 + dim, never /fact)
      val first = serve()
      val scans1 = R.scanRootPaths(first)
      require(scans1.exists(_.endsWith("/aji")) &&
          scans1.exists(_.endsWith("/dim")) &&
          scans1.filter(_.contains("/fact/")).map(p =>
            p.substring(p.lastIndexOf('/') + 1)) == Set("s3.parquet") &&
          !scans1.exists(_.endsWith("/fact")),
        s"first compensated AJI serve must read the AJI + exactly s3.parquet — $scans1")
      val out = materializeSmall(s, first)
      // STEADY STATE (second serve on): the delta is a cached
      // driver-local relation — the plan scans the AJI alone, join-free
      val steady = serve()
      val scans2 = R.scanRootPaths(steady)
      require(scans2 == Set(s"file:$tmpRoot/aji"),
        s"steady-state compensated AJI serve must scan the AJI ALONE — $scans2")
      require(steady.queryExecution.optimizedPlan.collect {
          case j: LJoin => j }.isEmpty,
        "steady-state compensated AJI serve must contain NO join")
      val a = steady.collect().map(_.toString).sorted.toSeq
      val b = out.collect().map(_.toString).sorted.toSeq
      require(a == b, "cached-delta serve must equal the spliced-scan serve")
      // a DIM append must REFUSE compensation: fall back to the real join
      tbl(s, dir, "customer").limit(4)
        .write.mode("append").parquet(s"$tmpRoot/dim")
      val fallen = R.scanRootPaths(serve())
      require(fallen.exists(_.endsWith("/fact")) &&
          fallen.exists(_.endsWith("/dim")),
        s"dim-stale AJI must refuse compensation and fall back — $fallen")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
      out
    } finally {
      R.disable(s); R.setCompensation(false); R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** AJI DIM-APPEND REFRESH ([[graft.plan.RollupRewrite.refreshStale]]'s
    * joined pass, BOTH sides appended — closing q204's asymmetry for
    * the append-only case): inner-join distributivity
    * `(F∪ΔF) ⋈ (D∪ΔD) = (F⋈D) ∪ (ΔF⋈(D∪ΔD)) ∪ (F⋈ΔD)` makes a pure
    * dim-side append exactly refreshable — the registered fact files
    * join the NEW dim rows only (broadcastable; no old pair
    * re-aggregates), the appended fact files join the current dim, and
    * the two delta aggregates merge into the stored summary. The gate
    * appends a fact slice AND a dim slice in one stale window and
    * requires ONE refresh covering exactly both appended files; the
    * post-refresh serve is plan-required on the refreshed AJI with
    * ZERO Join nodes. Fact = four orders slices (`o_orderkey % 4`, s3
    * appended); dim = customer split on `c_custkey % 3` (the `= 1`
    * slice appended — EXISTING fact keys, so the old-fact × new-dim
    * term is non-empty and a missed F⋈ΔD term hash-fails). Base ∪
    * deltas = the full tables ⇒ oracle = plain join recompute. Integer
    * measures. */
  def q206JoinedDimAppend(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val R = graft.plan.RollupRewrite
    val tmpRoot = java.nio.file.Files.createTempDirectory("q206_aji_dim")
      .toFile.getAbsolutePath
    writeNamedSlices(tbl(s, dir, "orders"), col("o_orderkey") % 4,
      s"$tmpRoot/fact", (0 until 3).map(sl => sl -> s"s$sl").toMap)
    writeNamedSlice(tbl(s, dir, "customer")
      .filter(col("c_custkey") % 3 =!= 1), s"$tmpRoot/dim", "c0")
    val fact0 = graft.sources.Pq.read(s, s"$tmpRoot/fact")
    val dim0 = graft.sources.Pq.read(s, s"$tmpRoot/dim")
    graft.plan.Rollup.materializeJoined(fact0, dim0,
        Seq("o_custkey" -> "c_custkey"), Seq("c_mktsegment"),
        Seq("o_orderkey"))
      .write.mode("overwrite").parquet(s"$tmpRoot/aji")
    R.registerJoined(fact0, dim0, Seq("o_custkey" -> "c_custkey"),
      graft.sources.Pq.read(s, s"$tmpRoot/aji"), Seq("c_mktsegment"),
      Seq("o_orderkey"))
    R.enable(s)
    try {
      writeNamedSlice(tbl(s, dir, "orders")
        .filter(col("o_orderkey") % 4 === 3), s"$tmpRoot/fact", "s3")
      writeNamedSlice(tbl(s, dir, "customer")
        .filter(col("c_custkey") % 3 === 1), s"$tmpRoot/dim", "c1")
      val rep = R.refreshStale(s, s"$tmpRoot/ref")
      val deltaNames = rep.headOption.toSeq.flatMap(_.deltaFiles)
        .map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
      require(rep.size == 1 && rep.head.refreshed &&
          deltaNames == Set("s3.parquet", "c1.parquet"),
        s"the AJI must delta-refresh from exactly the two appended files: $rep")
      val q = graft.sources.Pq.read(s, s"$tmpRoot/fact")
        .join(graft.sources.Pq.read(s, s"$tmpRoot/dim"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("sum_ok"),
          min("o_orderkey").as("mn"), max("o_orderkey").as("mx"))
        .select(col("c_mktsegment").as("seg"), col("n_rows"),
          col("sum_ok"), col("mn"), col("mx"))
      val scans = R.scanRootPaths(q)
      require(scans.size == 1 && scans.head.contains("refreshj"),
        s"post-refresh serve must ride the refreshed AJI alone — $scans")
      require(q.queryExecution.optimizedPlan.collect {
          case j: LJoin => j }.isEmpty, "no serve-time join post-refresh")
      materializeAndCleanup(s, q, tmpRoot)
    } finally {
      R.disable(s); R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** SKETCH-CARRYING AGGREGATE JOIN SUMMARY (q171's KMV device + q200's
    * histogram device over the q203 join shape): one AJI over
    * `orders ⋈ customer` carries per-segment KMV sketches of
    * `o_orderpriority` and 256-bucket integer histograms of `o_custkey`
    * alongside the ordinary measure partials — distinct AND quantile
    * dashboards over the join serve from ONE summary scan with ZERO
    * Join nodes (both legs plan-required). KMV/hist aggs are lossless
    * and mergeable, so a summary-served sketch is IDENTICAL to the
    * base-computed one (the q171 contract, now join-transparent: the
    * query-side hash expression is written over the JOIN output and
    * shape-matches the registration snapshot taken on the owning
    * side). Leg `kmv`: counts + sums + the KMV distinct estimate of
    * priority per segment — 5 distinct values < k=16, so the sketch is
    * UNFILLED and the estimate is the exact count (integer-valued
    * doubles, no float surface); leg `hist`: p50/p90/p99 of custkey
    * per segment via the q80 integer bucket replay. Oracle = the q171
    * md5-k-minima replay + the q200 bucket replay, both over the
    * joined rows. */
  def q207JoinedSketches(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    import graft.functions.expressions.KmvDistinctAgg.{estimateDistinct, kmvSketch}
    val R = graft.plan.RollupRewrite
    val H = graft.functions.expressions.HistAgg
    val k = 16
    val tmpRoot = java.nio.file.Files.createTempDirectory("q207_aji_sketch")
      .toFile.getAbsolutePath
    tbl(s, dir, "orders").write.mode("overwrite").parquet(s"$tmpRoot/fact")
    tbl(s, dir, "customer").write.mode("overwrite").parquet(s"$tmpRoot/dim")
    val fact = graft.sources.Pq.read(s, s"$tmpRoot/fact")
    val dim = graft.sources.Pq.read(s, s"$tmpRoot/dim")
    graft.plan.Rollup.materializeJoined(fact, dim,
        Seq("o_custkey" -> "c_custkey"), Seq("c_mktsegment"),
        Seq("o_orderkey"), distinctCols = Seq("o_orderpriority"),
        sketchK = k, histCols = Seq("o_custkey"))
      .write.mode("overwrite").parquet(s"$tmpRoot/aji")
    R.registerJoined(fact, dim, Seq("o_custkey" -> "c_custkey"),
      graft.sources.Pq.read(s, s"$tmpRoot/aji"), Seq("c_mktsegment"),
      Seq("o_orderkey"), distinctCols = Seq("o_orderpriority"),
      sketchK = k, histCols = Seq("o_custkey"))
    R.enable(s)
    try {
      def requireAji(df: DataFrame, name: String): DataFrame = {
        val scans = R.scanRootPaths(df)
        require(scans == Set(s"file:$tmpRoot/aji"),
          s"$name must serve from the AJI alone — $scans")
        require(df.queryExecution.optimizedPlan.collect {
            case j: LJoin => j }.isEmpty,
          s"$name must contain NO serve-time join")
        df
      }
      val joined = fact.join(dim, col("o_custkey") === col("c_custkey"))
      val nullP = lit(null).cast("double").as("prob")
      val nullQ = lit(null).cast("long").as("qv")
      val kmv = requireAji(joined.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("sum_ok"),
          kmvSketch(graft.curate.Curate.portableHash60(
            col("o_orderpriority")), k).as("__mins"))
        .select(lit("kmv").as("leg"), col("c_mktsegment").as("seg"),
          col("n_rows"), col("sum_ok"),
          estimateDistinct(col("__mins"), k).as("est_distinct"),
          nullP, nullQ), "kmv leg")
      val probs = Seq(0.5, 0.9, 0.99)
      val hist = requireAji(joined.groupBy("c_mktsegment")
        .agg(H.histSketch(col("o_custkey")).as("h"))
        .select(col("c_mktsegment").as("seg"),
          explode(array(probs.map(p => struct(lit(p).as("prob"),
            H.histQuantile(col("h"), p).as("qv"))): _*)).as("e"))
        .select(lit("hist").as("leg"), col("seg"),
          lit(null).cast("long").as("n_rows"),
          lit(null).cast("long").as("sum_ok"),
          lit(null).cast("double").as("est_distinct"),
          col("e.prob"), col("e.qv")), "hist leg")
      materializeAndCleanup(s, kmv.unionByName(hist), tmpRoot)
    } finally {
      R.disable(s); R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** SELF-DESIGNED AGGREGATE JOIN SUMMARIES ([[graft.plan
    * .SummaryDesigner.design]] over one dim — q201's capture→design→build→serve
    * loop closed for the JOIN shape): workload capture now records
    * JOIN-AGGREGATES too (bases + equi-keys oriented to the
    * measure-holding side, grain/filter/layout requirements like the
    * single-table entries, inferred isnotnull(key) conjuncts excluded —
    * they drop at serve time and must not over-constrain the design),
    * and the designer runs the same HRU advisor over the JOINED frame
    * to pick AJI grains, each carrying the union of the needs of the
    * queries it serves. The gate bootstraps from COLD traffic (nothing
    * registered): a 3-query join dashboard — grouped count+sum by
    * segment (w1), a status-filtered min/max (w2, whose filter column
    * forces the (segment, status) grain), and a histogram quantile
    * (w3) — is observed during plain optimization (no jobs), designed
    * at k=2 (the in-gate requires: exactly the (seg) and (seg, status)
    * grains, the coarse one carrying the histogram), built via
    * materializeJoined, and the SAME workload re-runs with every leg
    * plan-required on its designed AJI — w1/w3 lattice-routed to the
    * COARSE grain, w2 to the fine — with ZERO Join nodes anywhere.
    * Oracle = direct join recomputes + the q200 bucket replay over the
    * joined rows. */
  def q208DesignedJoined(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val R = graft.plan.RollupRewrite
    val H = graft.functions.expressions.HistAgg
    val tmpRoot = java.nio.file.Files.createTempDirectory("q208_design_aji")
      .toFile.getAbsolutePath
    tbl(s, dir, "orders").write.mode("overwrite").parquet(s"$tmpRoot/fact")
    tbl(s, dir, "customer").write.mode("overwrite").parquet(s"$tmpRoot/dim")
    val fact = graft.sources.Pq.read(s, s"$tmpRoot/fact")
    val dim = graft.sources.Pq.read(s, s"$tmpRoot/dim")
    val keys = Seq("o_custkey" -> "c_custkey")
    val joined = fact.join(dim, col("o_custkey") === col("c_custkey"))
    val nullL = lit(null).cast("long")
    def w1 = joined.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("sum_ok"))
      .select(lit("w1").as("leg"), col("c_mktsegment").as("seg"),
        col("n_rows"), col("sum_ok"), nullL.as("mn"), nullL.as("mx"),
        lit(null).cast("double").as("prob"), nullL.as("qv"))
    def w2 = joined.filter(col("o_orderstatus") === "F")
      .groupBy("c_mktsegment")
      .agg(min("o_orderkey").as("mn"), max("o_orderkey").as("mx"))
      .select(lit("w2").as("leg"), col("c_mktsegment").as("seg"),
        nullL.as("n_rows"), nullL.as("sum_ok"), col("mn"), col("mx"),
        lit(null).cast("double").as("prob"), nullL.as("qv"))
    val probs = Seq(0.5, 0.9, 0.99)
    def w3 = joined.groupBy("c_mktsegment")
      .agg(H.histSketch(col("o_custkey")).as("h"))
      .select(col("c_mktsegment").as("seg"),
        explode(array(probs.map(p => struct(lit(p).as("prob"),
          H.histQuantile(col("h"), p).as("qv"))): _*)).as("e"))
      .select(lit("w3").as("leg"), col("seg"), nullL.as("n_rows"),
        nullL.as("sum_ok"), nullL.as("mn"), nullL.as("mx"),
        col("e.prob"), col("e.qv"))
    R.enable(s)
    R.startWorkloadCapture()
    try {
      // COLD observation: nothing registered — optimizing the legs
      // records the joined capture entries, no jobs run
      w1.queryExecution.optimizedPlan
      w2.queryExecution.optimizedPlan
      w3.queryExecution.optimizedPlan
      val observed = R.capturedEntries(
        R.scanRootPaths(fact.select("o_orderkey")),
        Set((R.scanRootPaths(dim.select("c_custkey")), keys.toSet)))
      require(observed.count(_.servable) >= 3,
        s"cold join workload must be captured — got $observed")
      R.stopWorkloadCapture() // keep the log readable for the design
      val specs = graft.plan.SummaryDesigner.design(fact, Seq(dim -> keys), 2)
      require(specs.size == 2, s"expected a 2-grain AJI design: $specs")
      val coarse = specs.find(_.grainCols == Seq("c_mktsegment"))
        .getOrElse(throw new IllegalStateException(
          s"design must include the (c_mktsegment) grain: $specs"))
      val fine = specs.find(_.grainCols.toSet ==
          Set("c_mktsegment", "o_orderstatus"))
        .getOrElse(throw new IllegalStateException(
          s"design must include the (c_mktsegment, o_orderstatus) grain: $specs"))
      require(coarse.measures.contains("o_orderkey") &&
          coarse.histCols == Seq("o_custkey"),
        s"the coarse AJI must carry the sum measure AND the histogram: $coarse")
      require(fine.measures.contains("o_orderkey"),
        s"the fine AJI must carry the filtered legs' measure: $fine")
      val outs = graft.plan.SummaryDesigner.buildAndRegister(
        s, fact, Seq(dim -> keys), specs, s"$tmpRoot/designed")
      val coarseOut = outs(specs.indexOf(coarse))
      val fineOut = outs(specs.indexOf(fine))
      def requireOn(df: DataFrame, path: String, name: String): DataFrame = {
        val scans = R.scanRootPaths(df)
        require(scans == Set(s"file:$path"),
          s"$name must serve from its designed AJI alone — $scans")
        require(df.queryExecution.optimizedPlan.collect {
            case j: LJoin => j }.isEmpty,
          s"$name must contain NO serve-time join")
        df
      }
      val served = requireOn(w1, coarseOut, "w1")
        .unionByName(requireOn(w2, fineOut, "w2"))
        .unionByName(requireOn(w3, coarseOut, "w3"))
      materializeAndCleanup(s, served, tmpRoot)
    } finally {
      R.disable(s); R.resetWorkloadCapture(); R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** AJI PERSISTENCE ([[graft.plan.RollupRewrite.save]]/restore's `j1`
    * manifest lines — q173's lattice-persistence story extended to the
    * joined tier, which previously did NOT survive a restart): an AJI
    * registration round-trips save → clear (the "restart") → restore
    * and serves plan-asserted join-free (leg `restored`, over the
    * 3-slice fact). The restored staleness state is the SAVED one PER
    * SIDE (the v3 lesson): a fact slice appended AFTER the save makes a
    * re-restored registration read STALE — and the saved fact manifest
    * is precise enough that serve-time compensation splices EXACTLY the
    * appended file (leg `comp`, plan-required to read the AJI +
    * s3.parquet + the dim, never the fact base dir; base ∪ delta = the
    * whole orders table ⇒ plain join recompute oracle). Integer
    * measures. */
  def q209JoinedPersistence(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val R = graft.plan.RollupRewrite
    val tmpRoot = java.nio.file.Files.createTempDirectory("q209_aji_persist")
      .toFile.getAbsolutePath
    writeNamedSlices(tbl(s, dir, "orders"), col("o_orderkey") % 4,
      s"$tmpRoot/fact", (0 until 3).map(sl => sl -> s"s$sl").toMap)
    tbl(s, dir, "customer").write.mode("overwrite").parquet(s"$tmpRoot/dim")
    val fact0 = graft.sources.Pq.read(s, s"$tmpRoot/fact")
    val dim0 = graft.sources.Pq.read(s, s"$tmpRoot/dim")
    graft.plan.Rollup.materializeJoined(fact0, dim0,
        Seq("o_custkey" -> "c_custkey"), Seq("c_mktsegment"),
        Seq("o_orderkey"))
      .write.mode("overwrite").parquet(s"$tmpRoot/aji")
    R.registerJoined(fact0, dim0, Seq("o_custkey" -> "c_custkey"),
      graft.sources.Pq.read(s, s"$tmpRoot/aji"), Seq("c_mktsegment"),
      Seq("o_orderkey"))
    R.save(s, s"$tmpRoot/lattice.manifest")
    R.clear() // the "restart": registrations are JVM state
    R.enable(s)
    try {
      require(R.restore(s, s"$tmpRoot/lattice.manifest") == 1,
        "restore must rebuild exactly the one joined registration")
      def serve(leg: String): DataFrame = graft.sources.Pq.read(s, s"$tmpRoot/fact")
        .join(graft.sources.Pq.read(s, s"$tmpRoot/dim"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("sum_ok"),
          min("o_orderkey").as("mn"), max("o_orderkey").as("mx"))
        .select(lit(leg).as("leg"), col("c_mktsegment").as("seg"),
          col("n_rows"), col("sum_ok"), col("mn"), col("mx"))
      val restored = serve("restored")
      val scans1 = R.scanRootPaths(restored)
      require(scans1 == Set(s"file:$tmpRoot/aji") &&
          restored.queryExecution.optimizedPlan.collect {
            case j: LJoin => j }.isEmpty,
        s"restored AJI must serve join-free from the AJI alone — $scans1")
      val out1 = materializeSmall(s, restored)
      // append AFTER the save: the re-restored tier must read STALE
      // (saved manifest, never a restore-time re-fingerprint), and the
      // saved manifest must drive compensation to exactly the new file
      writeNamedSlice(tbl(s, dir, "orders")
        .filter(col("o_orderkey") % 4 === 3), s"$tmpRoot/fact", "s3")
      R.clear()
      require(R.restore(s, s"$tmpRoot/lattice.manifest") == 1,
        "second restore must rebuild the registration")
      R.setCompensation(true)
      val comp = serve("comp")
      val scans2 = R.scanRootPaths(comp)
      require(scans2.contains(s"file:$tmpRoot/aji") &&
          scans2.filter(_.contains("/fact/")).map(p =>
            p.substring(p.lastIndexOf('/') + 1)) == Set("s3.parquet") &&
          !scans2.contains(s"file:$tmpRoot/fact"),
        s"compensation off the RESTORED manifest must splice exactly s3 — $scans2")
      val out = out1.unionByName(materializeSmall(s, comp))
      materializeAndCleanup(s, out, tmpRoot)
    } finally {
      R.disable(s); R.setCompensation(false); R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** STAR AGGREGATE SUMMARY ([[graft.plan.RollupRewrite.registerStar]]
    * / [[graft.plan.Rollup.materializeStar]] — the MULTI-DIM
    * generalization of the q203 AJI, i.e. the actual BI star schema):
    * ONE summary over `lineitem ⋈ part ⋈ supplier` (each dim on its
    * own equi-key to the fact) serves star-join aggregates with ZERO
    * Join nodes — the rewrite flattens the query's join TREE,
    * identifies the star center (the one relation every equi-pair
    * touches; a 3-relation chain is a star centered at its middle
    * relation, shapes with no all-touching relation refuse), and
    * matches by per-dim (paths, keys). Leg `full` groups by
    * (p_brand, s_nationkey) — one
    * grain column from EACH dim; leg `brand` coarsens to p_brand from
    * the same summary. A fact-slice append then delta-refreshes via
    * `Δfact ⋈ dims` (delta set == exactly s3.parquet required) and leg
    * `refreshed` is plan-required on the refreshed star summary,
    * join-free — base ∪ delta = the whole lineitem table, so its
    * oracle is the plain star recompute. Integer measures
    * (l_orderkey). */
  def q210StarSummary(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val R = graft.plan.RollupRewrite
    val tmpRoot = java.nio.file.Files.createTempDirectory("q210_star")
      .toFile.getAbsolutePath
    writeNamedSlices(tbl(s, dir, "lineitem"), col("l_orderkey") % 4,
      s"$tmpRoot/fact", (0 until 3).map(sl => sl -> s"s$sl").toMap)
    tbl(s, dir, "part").write.mode("overwrite").parquet(s"$tmpRoot/d1")
    tbl(s, dir, "supplier").write.mode("overwrite").parquet(s"$tmpRoot/d2")
    val fact0 = graft.sources.Pq.read(s, s"$tmpRoot/fact")
    val d1 = graft.sources.Pq.read(s, s"$tmpRoot/d1")
    val d2 = graft.sources.Pq.read(s, s"$tmpRoot/d2")
    val dims = Seq(d1 -> Seq("l_partkey" -> "p_partkey"),
      d2 -> Seq("l_suppkey" -> "s_suppkey"))
    graft.plan.Rollup.materializeStar(fact0, dims,
        Seq("p_brand", "s_nationkey"), Seq("l_orderkey"))
      .write.mode("overwrite").parquet(s"$tmpRoot/star")
    R.registerStar(fact0, dims, graft.sources.Pq.read(s, s"$tmpRoot/star"),
      Seq("p_brand", "s_nationkey"), Seq("l_orderkey"))
    R.enable(s)
    try {
      def joined(f: DataFrame) =
        f.join(d1, col("l_partkey") === col("p_partkey"))
          .join(d2, col("l_suppkey") === col("s_suppkey"))
      def requireStar(df: DataFrame, want: String, name: String): DataFrame = {
        val scans = R.scanRootPaths(df)
        require(scans.nonEmpty && scans.forall(_.contains(want)),
          s"$name must serve from the star summary alone — $scans")
        require(df.queryExecution.optimizedPlan.collect {
            case j: LJoin => j }.isEmpty,
          s"$name must contain NO serve-time join")
        df
      }
      val nullNk = lit(null).cast("int").as("nk")
      val full = requireStar(joined(fact0)
        .groupBy("p_brand", "s_nationkey")
        .agg(count(lit(1)).as("n_rows"), sum("l_orderkey").as("sum_ok"),
          min("l_orderkey").as("mn"), max("l_orderkey").as("mx"))
        .select(lit("full").as("leg"), col("p_brand").as("brand"),
          col("s_nationkey").as("nk"), col("n_rows"), col("sum_ok"),
          col("mn"), col("mx")), "/star", "full leg")
      val brand = requireStar(joined(fact0).groupBy("p_brand")
        .agg(count(lit(1)).as("n_rows"), sum("l_orderkey").as("sum_ok"),
          min("l_orderkey").as("mn"), max("l_orderkey").as("mx"))
        .select(lit("brand").as("leg"), col("p_brand").as("brand"),
          nullNk, col("n_rows"), col("sum_ok"), col("mn"), col("mx")),
        "/star", "brand leg")
      val out1 = materializeSmall(s, full.unionByName(brand))
      // fact append -> Δfact ⋈ dims refresh, exactly the appended file
      writeNamedSlice(tbl(s, dir, "lineitem")
        .filter(col("l_orderkey") % 4 === 3), s"$tmpRoot/fact", "s3")
      val rep = R.refreshStale(s, s"$tmpRoot/ref")
      require(rep.size == 1 && rep.head.refreshed &&
          rep.head.deltaFiles.map(p =>
            p.substring(p.lastIndexOf('/') + 1)) == Seq("s3.parquet"),
        s"the star summary must delta-refresh from exactly s3: $rep")
      val refreshed = requireStar(joined(graft.sources.Pq.read(s, s"$tmpRoot/fact"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_rows"), sum("l_orderkey").as("sum_ok"),
          min("l_orderkey").as("mn"), max("l_orderkey").as("mx"))
        .select(lit("refreshed").as("leg"), col("p_brand").as("brand"),
          nullNk, col("n_rows"), col("sum_ok"), col("mn"), col("mx")),
        "refreshs", "refreshed leg")
      val out = out1.unionByName(materializeSmall(s, refreshed))
      materializeAndCleanup(s, out, tmpRoot)
    } finally {
      R.disable(s); R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** SELF-DESIGNED STAR SUMMARIES ([[graft.plan.SummaryDesigner
    * .design]] over two dims — q208's capture→design→build→serve loop at STAR
    * width, making the whole summary taxonomy self-tuning): workload
    * capture records STAR-join aggregates (center + per-dim
    * (paths, keys), inferred isnotnull(key) conjuncts excluded), the
    * designer runs the HRU advisor over the flattened
    * `lineitem ⋈ part ⋈ supplier` join, and buildAndRegister
    * materializes the chosen grains. The cold 3-query workload — a
    * nation-grained count+sum (w1), a nation-FILTERED brand min/max
    * (w2, whose filter column forces the (p_brand, s_nationkey)
    * grain), and a nation-grained histogram quantile (w3) — is
    * observed at optimization cost, designed at k=2 (the in-gate
    * requires exactly the (s_nationkey) and (p_brand, s_nationkey)
    * grains with the histogram on the coarse one), built, and re-run
    * with every leg plan-required on its designed star summary —
    * w1/w3 lattice-routed coarse, w2 fine — with ZERO Join nodes.
    * Oracle = direct star recomputes + the q200 bucket replay over
    * l_orderkey. */
  def q211DesignedStar(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val R = graft.plan.RollupRewrite
    val H = graft.functions.expressions.HistAgg
    val tmpRoot = java.nio.file.Files.createTempDirectory("q211_design_star")
      .toFile.getAbsolutePath
    tbl(s, dir, "lineitem").write.mode("overwrite").parquet(s"$tmpRoot/fact")
    tbl(s, dir, "part").write.mode("overwrite").parquet(s"$tmpRoot/d1")
    tbl(s, dir, "supplier").write.mode("overwrite").parquet(s"$tmpRoot/d2")
    val fact = graft.sources.Pq.read(s, s"$tmpRoot/fact")
    val d1 = graft.sources.Pq.read(s, s"$tmpRoot/d1")
    val d2 = graft.sources.Pq.read(s, s"$tmpRoot/d2")
    val dims = Seq(d1 -> Seq("l_partkey" -> "p_partkey"),
      d2 -> Seq("l_suppkey" -> "s_suppkey"))
    val joined = fact.join(d1, col("l_partkey") === col("p_partkey"))
      .join(d2, col("l_suppkey") === col("s_suppkey"))
    val nullI = lit(null).cast("int")
    val nullS = lit(null).cast("string")
    val nullL = lit(null).cast("long")
    def w1 = joined.groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_rows"), sum("l_orderkey").as("sum_ok"))
      .select(lit("w1").as("leg"), col("s_nationkey").as("nk"),
        nullS.as("brand"), col("n_rows"), col("sum_ok"), nullL.as("mn"),
        nullL.as("mx"), lit(null).cast("double").as("prob"), nullL.as("qv"))
    def w2 = joined.filter(col("s_nationkey") === 3).groupBy("p_brand")
      .agg(min("l_orderkey").as("mn"), max("l_orderkey").as("mx"))
      .select(lit("w2").as("leg"), nullI.as("nk"),
        col("p_brand").as("brand"), nullL.as("n_rows"), nullL.as("sum_ok"),
        col("mn"), col("mx"), lit(null).cast("double").as("prob"),
        nullL.as("qv"))
    val probs = Seq(0.5, 0.9, 0.99)
    def w3 = joined.groupBy("s_nationkey")
      .agg(H.histSketch(col("l_orderkey")).as("h"))
      .select(col("s_nationkey").as("nk"),
        explode(array(probs.map(p => struct(lit(p).as("prob"),
          H.histQuantile(col("h"), p).as("qv"))): _*)).as("e"))
      .select(lit("w3").as("leg"), col("nk"), nullS.as("brand"),
        nullL.as("n_rows"), nullL.as("sum_ok"), nullL.as("mn"),
        nullL.as("mx"), col("e.prob"), col("e.qv"))
    R.enable(s)
    R.startWorkloadCapture()
    try {
      w1.queryExecution.optimizedPlan
      w2.queryExecution.optimizedPlan
      w3.queryExecution.optimizedPlan
      val dimSides = Set(
        (R.scanRootPaths(d1), Set("l_partkey" -> "p_partkey")),
        (R.scanRootPaths(d2), Set("l_suppkey" -> "s_suppkey")))
      val observed = R.capturedEntries(R.scanRootPaths(fact), dimSides)
      require(observed.count(_.servable) >= 3,
        s"cold star workload must be captured — got $observed")
      R.stopWorkloadCapture() // keep the log readable for the design
      val specs = graft.plan.SummaryDesigner.design(fact, dims, 2)
      require(specs.size == 2, s"expected a 2-grain star design: $specs")
      val coarse = specs.find(_.grainCols == Seq("s_nationkey"))
        .getOrElse(throw new IllegalStateException(
          s"design must include the (s_nationkey) grain: $specs"))
      val fine = specs.find(_.grainCols.toSet ==
          Set("p_brand", "s_nationkey"))
        .getOrElse(throw new IllegalStateException(
          s"design must include the (p_brand, s_nationkey) grain: $specs"))
      require(coarse.measures.contains("l_orderkey") &&
          coarse.histCols == Seq("l_orderkey"),
        s"the coarse star summary must carry the sum AND the histogram: $coarse")
      val outs = graft.plan.SummaryDesigner.buildAndRegister(
        s, fact, dims, specs, s"$tmpRoot/designed")
      val coarseOut = outs(specs.indexOf(coarse))
      val fineOut = outs(specs.indexOf(fine))
      def requireOn(df: DataFrame, path: String, name: String): DataFrame = {
        val scans = R.scanRootPaths(df)
        require(scans == Set(s"file:$path"),
          s"$name must serve from its designed star summary alone — $scans")
        require(df.queryExecution.optimizedPlan.collect {
            case j: LJoin => j }.isEmpty,
          s"$name must contain NO serve-time join")
        df
      }
      val served = requireOn(w1, coarseOut, "w1")
        .unionByName(requireOn(w2, fineOut, "w2"))
        .unionByName(requireOn(w3, coarseOut, "w3"))
      materializeAndCleanup(s, served, tmpRoot)
    } finally {
      R.disable(s); R.resetWorkloadCapture(); R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** STAR DIM-APPEND REFRESH ([[graft.plan.RollupRewrite]]'s
    * `refreshStale` — VERDICT r12 #1, q206's join-distributivity
    * device generalized to N dims): the fact AND one dim are appended
    * in ONE stale window, and the star summary delta-refreshes via the
    * TELESCOPING decomposition — `ΔF ⋈ dims_current` (the fact term)
    * plus `F_registered ⋈ earlier-dims_registered ⋈ ΔD ⋈
    * later-dims_current` (one term per appended dim), pairwise disjoint
    * by classifying each join tuple on the FIRST side whose row is new.
    * The gate's supplier slice carries nation keys whose lineitems live
    * in the OLD fact slices, so a missed `F_reg ⋈ ΔD` term hash-fails
    * (the q206 device at star width); a double-merged ΔF⋈ΔD pair
    * (which both terms could claim without the fixed side order)
    * hash-fails too. In-query requires: exactly the two appended files
    * as the refresh's delta set, and both serve legs (full grain +
    * s_nationkey coarsening) plan-required on the refreshed summary
    * with ZERO Join nodes. Slices complete both tables after the
    * appends ⇒ oracle = the plain star recompute. Integer measures. */
  def q212StarDimRefresh(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val R = graft.plan.RollupRewrite
    val tmpRoot = java.nio.file.Files.createTempDirectory("q212_star_dim")
      .toFile.getAbsolutePath
    writeNamedSlices(tbl(s, dir, "lineitem"), col("l_orderkey") % 4,
      s"$tmpRoot/fact", (0 until 3).map(sl => sl -> s"s$sl").toMap)
    tbl(s, dir, "part").write.mode("overwrite").parquet(s"$tmpRoot/d1")
    writeNamedSlice(tbl(s, dir, "supplier")
      .filter(col("s_suppkey") % 3 =!= 1), s"$tmpRoot/d2", "c0")
    val fact0 = graft.sources.Pq.read(s, s"$tmpRoot/fact")
    val d1 = graft.sources.Pq.read(s, s"$tmpRoot/d1")
    val d2 = graft.sources.Pq.read(s, s"$tmpRoot/d2")
    val dims = Seq(d1 -> Seq("l_partkey" -> "p_partkey"),
      d2 -> Seq("l_suppkey" -> "s_suppkey"))
    graft.plan.Rollup.materializeStar(fact0, dims,
        Seq("p_brand", "s_nationkey"), Seq("l_orderkey"))
      .write.mode("overwrite").parquet(s"$tmpRoot/star")
    R.registerStar(fact0, dims, graft.sources.Pq.read(s, s"$tmpRoot/star"),
      Seq("p_brand", "s_nationkey"), Seq("l_orderkey"))
    R.enable(s)
    try {
      // ONE stale window: fact slice s3 AND supplier slice c1 append
      writeNamedSlice(tbl(s, dir, "lineitem")
        .filter(col("l_orderkey") % 4 === 3), s"$tmpRoot/fact", "s3")
      writeNamedSlice(tbl(s, dir, "supplier")
        .filter(col("s_suppkey") % 3 === 1), s"$tmpRoot/d2", "c1")
      val rep = R.refreshStale(s, s"$tmpRoot/ref")
      val deltaNames = rep.headOption.toSeq.flatMap(_.deltaFiles)
        .map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
      require(rep.size == 1 && rep.head.refreshed &&
          deltaNames == Set("s3.parquet", "c1.parquet"),
        s"the star summary must delta-refresh from exactly the two appended files: $rep")
      def requireStar(df: DataFrame, name: String): DataFrame = {
        val scans = R.scanRootPaths(df)
        require(scans.nonEmpty && scans.forall(_.contains("refreshs")),
          s"$name must serve from the refreshed star summary alone — $scans")
        require(df.queryExecution.optimizedPlan.collect {
            case j: LJoin => j }.isEmpty,
          s"$name must contain NO serve-time join")
        df
      }
      def joined = graft.sources.Pq.read(s, s"$tmpRoot/fact")
        .join(graft.sources.Pq.read(s, s"$tmpRoot/d1"),
          col("l_partkey") === col("p_partkey"))
        .join(graft.sources.Pq.read(s, s"$tmpRoot/d2"),
          col("l_suppkey") === col("s_suppkey"))
      val full = requireStar(joined.groupBy("p_brand", "s_nationkey")
        .agg(count(lit(1)).as("n_rows"), sum("l_orderkey").as("sum_ok"),
          min("l_orderkey").as("mn"), max("l_orderkey").as("mx"))
        .select(lit("full").as("leg"), col("p_brand").as("brand"),
          col("s_nationkey").as("nk"), col("n_rows"), col("sum_ok"),
          col("mn"), col("mx")), "full leg")
      val coarse = requireStar(joined.groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_rows"), sum("l_orderkey").as("sum_ok"),
          min("l_orderkey").as("mn"), max("l_orderkey").as("mx"))
        .select(lit("coarse").as("leg"),
          lit(null).cast("string").as("brand"), col("s_nationkey").as("nk"),
          col("n_rows"), col("sum_ok"), col("mn"), col("mx")), "coarse leg")
      materializeAndCleanup(s, full.unionByName(coarse), tmpRoot)
    } finally {
      R.disable(s); R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** DECIMAL MEASURES THROUGH THE SUMMARY TIER (VERDICT r12 #3/#4 —
    * money is THE dashboard measure; the reference's `amount` is
    * DECIMAL(10,2)): three serve shapes, each with decimal
    * sums/averages hash-gated in integer units. Leg `plain` serves
    * `sum(decimal(12,2))` + `avg(decimal(12,2))` (the true decimal
    * Average path — precision 12 stays OUT of the optimizer's
    * DecimalAggregates long-arithmetic rewrite) AND `sum(decimal(8,2))`
    * (which IS rewritten to `MakeDecimal(sum(UnscaledValue(x)))` before
    * the rule runs — the UnscaledValue derivation) from one plain
    * summary. Leg `nav` serves the join-aggregate through TWO-SUMMARY
    * NAVIGATION (q197) with decimal partials multiplied by the dim
    * count as decimal(20,0) — exact. Leg `aji` serves the same
    * join-aggregate from an AGGREGATE JOIN SUMMARY (q203). The avg
    * derivation replicates Spark's own Average tree (divide the
    * decimal-exact sums at Average's internal operand types, cast to
    * the avg result type), so served values are bit-identical to base
    * aggregates; the oracle replays avg in EXACT INTEGER half-up
    * arithmetic (micro-units via the CLAUDE.md `(2S+n) div 2n` device —
    * no float boundary anywhere). Every leg plan-required on its
    * summary; nav/aji legs join-free where the shape demands. */
  def q213DecimalSummaries(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val R = graft.plan.RollupRewrite
    val tmpRoot = java.nio.file.Files.createTempDirectory("q213_decimal")
      .toFile.getAbsolutePath
    tbl(s, dir, "orders")
      .select(col("o_orderstatus"), col("o_custkey"),
        col("o_totalprice").cast("decimal(12,2)").as("price"),
        col("o_totalprice").cast("decimal(8,2)").as("price8"))
      .write.mode("overwrite").parquet(s"$tmpRoot/fact")
    tbl(s, dir, "customer").select("c_custkey", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$tmpRoot/dim")
    val fact = graft.sources.Pq.read(s, s"$tmpRoot/fact")
    val dim = graft.sources.Pq.read(s, s"$tmpRoot/dim")
    val nullL = lit(null).cast("long")
    R.enable(s)
    try {
      // ---- leg `plain`: one summary, both decimal regimes
      graft.plan.Rollup.materialize(fact, Seq("o_orderstatus"),
          Seq("price", "price8"))
        .write.mode("overwrite").parquet(s"$tmpRoot/psum")
      R.register(fact, graft.sources.Pq.read(s, s"$tmpRoot/psum"),
        Seq("o_orderstatus"), Seq("price", "price8"))
      val plain = fact.groupBy("o_orderstatus")
        .agg((sum(col("price")) * lit(100)).cast("long").as("sum_c"),
          (avg(col("price")) * lit(1000000)).cast("long").as("avg_u"),
          (sum(col("price8")) * lit(100)).cast("long").as("sum8_c"))
        .select(lit("plain").as("leg"), col("o_orderstatus").as("g"),
          col("sum_c"), col("avg_u"), col("sum8_c"))
      require(R.scanRootPaths(plain).forall(_.contains("psum")),
        s"plain decimal leg must serve from the summary — ${R.scanRootPaths(plain)}")
      val plainOut = materializeSmall(s, plain)
      // ---- leg `nav`: two-summary join navigation, decimal measures
      graft.plan.Rollup.materialize(fact, Seq("o_custkey"), Seq("price"))
        .write.mode("overwrite").parquet(s"$tmpRoot/fsum")
      graft.plan.Rollup.materialize(dim, Seq("c_custkey", "c_mktsegment"),
          Seq("c_custkey"))
        .write.mode("overwrite").parquet(s"$tmpRoot/dsum")
      R.register(fact, graft.sources.Pq.read(s, s"$tmpRoot/fsum"),
        Seq("o_custkey"), Seq("price"))
      R.register(dim, graft.sources.Pq.read(s, s"$tmpRoot/dsum"),
        Seq("c_custkey", "c_mktsegment"), Seq("c_custkey"))
      def joinAgg(leg: String) = fact
        .join(dim, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg((sum(col("price")) * lit(100)).cast("long").as("sum_c"),
          (avg(col("price")) * lit(1000000)).cast("long").as("avg_u"))
        .select(lit(leg).as("leg"), col("c_mktsegment").as("g"),
          col("sum_c"), col("avg_u"), nullL.as("sum8_c"))
      val nav = joinAgg("nav")
      val navScans = R.scanRootPaths(nav)
      require(navScans.nonEmpty && navScans.forall(p =>
          p.contains("fsum") || p.contains("dsum")),
        s"nav decimal leg must serve from BOTH summaries, zero base scans — $navScans")
      val navOut = materializeSmall(s, nav)
      // ---- leg `aji`: the join summary, decimal measures, join-free
      R.clear() // drop the plain registrations so the AJI serves alone
      graft.plan.Rollup.materializeJoined(fact, dim,
          Seq("o_custkey" -> "c_custkey"), Seq("c_mktsegment"),
          Seq("price"))
        .write.mode("overwrite").parquet(s"$tmpRoot/aji")
      R.registerJoined(fact, dim, Seq("o_custkey" -> "c_custkey"),
        graft.sources.Pq.read(s, s"$tmpRoot/aji"), Seq("c_mktsegment"), Seq("price"))
      val aji = joinAgg("aji")
      require(R.scanRootPaths(aji) == Set(s"file:$tmpRoot/aji") &&
          aji.queryExecution.optimizedPlan.collect {
            case j: LJoin => j }.isEmpty,
        s"aji decimal leg must serve join-free from the AJI — ${R.scanRootPaths(aji)}")
      val out = plainOut.unionByName(navOut).unionByName(materializeSmall(s, aji))
      materializeAndCleanup(s, out, tmpRoot)
    } finally {
      R.disable(s); R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** VERSIONED SUMMARIES ([[graft.plan.RollupVersioned]] — the FOURTH
    * VersionedPool tier, VERDICT r12 #6: time travel for the lattice,
    * where plain refresh RE-REGISTERS in place and a mid-flight reader
    * has no pinned snapshot): v1 aggregates the 2-slice base, a third
    * slice appends, `refreshAppended` folds exactly the appended file
    * into a NEW immutable pool batch committed by ONE Snapshots
    * publish. ONE dashboard query set then serves against BOTH
    * versions (the q162 multi-version device): each version's
    * registration binds its AS-OF basefile manifest, so the v1 serve
    * is plan-required on pool batch b00001 alone and the v2 serve on
    * b00002 — never each other's, never a base scan. A trash-move
    * DELETE then publishes v3 through `refreshRemoved` (the shared
    * [[graft.plan.Rollup.retract]] arithmetic — sums/counts subtract,
    * extremum-touched groups recompute from the reduced base), served
    * from b00003. In-query requires: vacuum(keepLast=1) under the v1
    * pin reclaims EXACTLY v2, pinned v1 stays BIT-STABLE through the
    * retraction publish + vacuum, and unpin + re-vacuum reclaims v1's
    * meta and batch. Oracle = construction-derived recomputes (v1 =
    * the 2-slice predicate, v2 = the full table, v3 = minus the
    * trashed slice). Integer measures. */
  def q214VersionedSummary(s: SparkSession, dir: String): DataFrame = {
    val R = graft.plan.RollupRewrite
    val RV = graft.plan.RollupVersioned
    val tmpRoot = java.nio.file.Files.createTempDirectory("q214_vsum")
      .toFile.getAbsolutePath
    val root = s"$tmpRoot/vsum"
    writeNamedSlices(tbl(s, dir, "orders"), col("o_orderkey") % 3,
      s"$tmpRoot/base", (0 until 2).map(sl => sl -> s"s$sl").toMap)
    val v1 = RV.init(s, root, graft.sources.Pq.read(s, s"$tmpRoot/base"),
      RV.Layout(Seq("o_orderstatus"), Seq("o_orderkey")))
    R.enable(s)
    try {
      writeNamedSlice(tbl(s, dir, "orders")
        .filter(col("o_orderkey") % 3 === 2), s"$tmpRoot/base", "s2")
      val v2 = RV.refreshAppended(s, root, graft.sources.Pq.read(s, s"$tmpRoot/base"))
        .getOrElse(throw new IllegalStateException(
          "pure append must publish a new summary version"))
      require(v1 == 1 && v2 == 2, s"expected versions 1 and 2, got $v1/$v2")
      def serve(leg: String, version: Int): DataFrame = {
        val asOf = RV.registerVersion(s, root, Some(version))
        val q = asOf.groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("sum_ok"),
            min("o_orderkey").as("mn"), max("o_orderkey").as("mx"))
          .select(lit(leg).as("leg"), col("o_orderstatus").as("g"),
            col("n_rows"), col("sum_ok"), col("mn"), col("mx"))
        val scans = R.scanRootPaths(q)
        require(scans.size == 1 &&
            scans.head.contains(f"pool/b$version%05d"),
          s"$leg must serve from version $version's pool batch alone — $scans")
        q
      }
      // pin v1, serve both versions from their own batches
      graft.sources.Snapshots.pin(s, s"$root/meta", v1, "dashboard")
      val v1a = materializeSmall(s, serve("v1", v1))
      val v2a = materializeSmall(s, serve("v2", v2))
      val v1Pinned = RV.summaryOf(s, root, Some(v1)).collect().toSet
      // RETRACTION as a version: trash-move the s0 slice and
      // refreshRemoved — sums/counts subtract, extremum-touched groups
      // recompute from the reduced base, v3 publishes while v1/v2 stay
      // readable. (NB a pinned version's AS-OF base frame needs its
      // files present — append-only history; after a delete the pinned
      // guarantee is summaryOf, the summary IS the data.)
      R.deleteFiles(s, Seq(s"$tmpRoot/base/s0.parquet"), s"$tmpRoot/trash")
      val v3 = RV.refreshRemoved(s, root, graft.sources.Pq.read(s, s"$tmpRoot/base"),
          Seq(s"$tmpRoot/trash"))
        .getOrElse(throw new IllegalStateException(
          "pure trash-move delete must publish a retracted version"))
      require(v3 == 3, s"expected version 3, got $v3")
      val v3a = materializeSmall(s, serve("v3", v3))
      // vacuum keepLast=1 while v1 is pinned and v3 is current: exactly
      // v2 (and its batch) reclaims
      val (droppedV, droppedB) = RV.vacuum(s, root, keepLast = 1)
      require(droppedV == Seq(2) && droppedB == Seq("b00002"),
        s"vacuum must reclaim exactly unpinned v2: $droppedV / $droppedB")
      require(RV.summaryOf(s, root, Some(v1)).collect().toSet == v1Pinned,
        "pinned v1 must stay bit-stable across retraction publish + vacuum")
      // unpin + re-vacuum reclaims v1 (meta version AND pool batch)
      graft.sources.Snapshots.unpin(s, s"$root/meta", "dashboard")
      val (droppedV2, droppedB2) = RV.vacuum(s, root, keepLast = 1)
      require(droppedV2 == Seq(1) && droppedB2 == Seq("b00001"),
        s"unpin + vacuum must reclaim v1: dropped $droppedV2 / $droppedB2")
      materializeAndCleanup(s, v1a.unionByName(v2a).unionByName(v3a), tmpRoot)
    } finally {
      R.disable(s); R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** SNAPSHOT-VERSIONED AGGREGATE JOIN SUMMARIES (r13 —
    * [[graft.plan.RollupVersioned]]'s JOINED tier: the q214 device at
    * AJI width, completing time travel for the join shape): one full
    * `orders ⋈ customer` AJI layout per version in an immutable pool,
    * meta carrying the join keys and BOTH sides' basefile manifests,
    * every maintenance op one atomic pointer publish. v1 aggregates
    * fact slices {s0,s1} ⋈ dim slice {c0}; v2 folds a FACT append (s2)
    * via `ΔF ⋈ dim`; v3 folds a DIM append (c1) via the
    * `F_saved ⋈ ΔD` term — the appended customers pair with EXISTING
    * orders, so a missed old-fact×new-dim term hash-fails (the q206
    * crux, versioned); v4 RETRACTS a trash-deleted fact slice (s0) via
    * `refreshRemovedJoined` — the q217 single-side algebra as one more
    * atomic publish. Each version registers against its AS-OF
    * (fact, dim) frames and is plan-REQUIRED to serve from its own
    * pool batch alone, join-free (v1-v3 serve BEFORE the delete: as-of
    * frames need their manifest files present — append-only history,
    * the q214 note; after a delete the pinned guarantee is summaryOf).
    * In-query: pinned v1 stays bit-stable across the three later
    * publishes, vacuum(keepLast=1) under the pin reclaims exactly
    * v2/v3, unpin + re-vacuum reclaims v1. Oracle = construction-
    * derived join recomputes per version's slice predicates. Integer
    * measures. */
  def q219VersionedJoined(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val R = graft.plan.RollupRewrite
    val RV = graft.plan.RollupVersioned
    val tmpRoot = java.nio.file.Files.createTempDirectory("q219_vaji")
      .toFile.getAbsolutePath
    val root = s"$tmpRoot/vaji"
    writeNamedSlices(tbl(s, dir, "orders").select("o_orderkey", "o_custkey"),
      col("o_orderkey") % 3,
      s"$tmpRoot/fact", (0 until 2).map(sl => sl -> s"s$sl").toMap)
    writeNamedSlice(tbl(s, dir, "customer")
      .select("c_custkey", "c_mktsegment")
      .filter(col("c_custkey") % 2 === 0), s"$tmpRoot/dim", "c0")
    val keys = Seq("o_custkey" -> "c_custkey")
    val v1 = RV.initJoined(s, root, graft.sources.Pq.read(s, s"$tmpRoot/fact"),
      graft.sources.Pq.read(s, s"$tmpRoot/dim"), keys,
      RV.Layout(Seq("c_mktsegment"), Seq("o_orderkey")))
    R.enable(s)
    try {
      writeNamedSlice(tbl(s, dir, "orders")
        .select("o_orderkey", "o_custkey")
        .filter(col("o_orderkey") % 3 === 2), s"$tmpRoot/fact", "s2")
      val v2 = RV.refreshAppendedJoined(s, root,
          graft.sources.Pq.read(s, s"$tmpRoot/fact"), graft.sources.Pq.read(s, s"$tmpRoot/dim"))
        .getOrElse(throw new IllegalStateException(
          "a pure fact append must publish a new AJI version"))
      writeNamedSlice(tbl(s, dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .filter(col("c_custkey") % 2 === 1), s"$tmpRoot/dim", "c1")
      val v3 = RV.refreshAppendedJoined(s, root,
          graft.sources.Pq.read(s, s"$tmpRoot/fact"), graft.sources.Pq.read(s, s"$tmpRoot/dim"))
        .getOrElse(throw new IllegalStateException(
          "a pure dim append must publish a new AJI version"))
      require(v1 == 1 && v2 == 2 && v3 == 3,
        s"expected versions 1..3, got $v1/$v2/$v3")
      def serve(leg: String, version: Int): DataFrame = {
        val (asOfFact, asOfDim) = RV.registerVersionJoined(s, root,
          Some(version))
        val q = asOfFact.join(asOfDim, col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("sum_ok"),
            min("o_orderkey").as("mn"), max("o_orderkey").as("mx"))
          .select(lit(leg).as("leg"), col("c_mktsegment").as("seg"),
            col("n_rows"), col("sum_ok"), col("mn"), col("mx"))
        val scans = R.scanRootPaths(q)
        require(scans.size == 1 &&
            scans.head.contains(f"pool/b$version%05d"),
          s"$leg must serve from version $version's pool batch alone — $scans")
        require(q.queryExecution.optimizedPlan.collect {
            case j: LJoin => j }.isEmpty,
          s"$leg must contain NO serve-time join")
        q
      }
      graft.sources.Snapshots.pin(s, s"$root/meta", v1, "dashboard")
      val v1Pinned = RV.summaryOf(s, root, Some(v1)).collect().toSet
      // as-of serves need their manifest files PRESENT (the q214
      // append-only-history note), so v1-v3 serve before the delete
      val head3 = materializeSmall(s, serve("v1", v1))
        .unionByName(materializeSmall(s, serve("v2", v2)))
        .unionByName(materializeSmall(s, serve("v3", v3)))
      // v4: trash-delete fact slice s0 — the q217 single-side retraction
      // algebra, VERSIONED: removed tuples = trash-fact ⋈ dim, retracted
      // with one publish while v1-v3 stay readable
      R.deleteFiles(s, Seq(s"$tmpRoot/fact/s0.parquet"), s"$tmpRoot/trash")
      val v4 = RV.refreshRemovedJoined(s, root,
          graft.sources.Pq.read(s, s"$tmpRoot/fact"), graft.sources.Pq.read(s, s"$tmpRoot/dim"),
          Seq(s"$tmpRoot/trash"))
        .getOrElse(throw new IllegalStateException(
          "a pure single-side trash delete must publish a retracted version"))
      require(v4 == 4, s"expected version 4, got $v4")
      val out = head3.unionByName(materializeSmall(s, serve("v4", v4)))
      require(RV.summaryOf(s, root, Some(v1)).collect().toSet == v1Pinned,
        "pinned v1 must stay bit-stable across the v2/v3/v4 publishes")
      val (droppedV, droppedB) = RV.vacuum(s, root, keepLast = 1)
      require(droppedV.sorted == Seq(2, 3) &&
          droppedB.sorted == Seq("b00002", "b00003"),
        s"vacuum must reclaim exactly unpinned v2/v3: $droppedV / $droppedB")
      graft.sources.Snapshots.unpin(s, s"$root/meta", "dashboard")
      val (droppedV2, droppedB2) = RV.vacuum(s, root, keepLast = 1)
      require(droppedV2 == Seq(1) && droppedB2 == Seq("b00001"),
        s"unpin + vacuum must reclaim v1: $droppedV2 / $droppedB2")
      materializeAndCleanup(s, out, tmpRoot)
    } finally {
      R.disable(s); R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** SNAPSHOT-VERSIONED STAR SUMMARIES (r13 — [[graft.plan
    * .RollupVersioned]]'s STAR tier, completing the versioned matrix
    * plain → AJI → star): one full `lineitem ⋈ part ⋈ supplier` star
    * layout per version, meta carrying per-dim keys and EVERY side's
    * basefile manifest. v1 aggregates fact slices {s0,s1} ⋈ part ⋈
    * even-supplier slice {c0}; v2 folds a fact append (s2) AND a
    * supplier append (c1) in ONE window via the q212 TELESCOPING
    * decomposition (the appended odd suppliers pair with OLD fact rows,
    * so a missed F_saved⋈ΔD term hash-fails); v3 RETRACTS the c1 slice
    * through the trash protocol (`refreshRemovedStar` — the q217
    * single-side algebra as one atomic publish). Each version registers
    * its AS-OF (fact, dims) frames and is plan-REQUIRED to serve from
    * its own pool batch alone with ZERO Join nodes (v1/v2 serve before
    * the delete — as-of frames need their manifest files present).
    * Pinned v1 stays bit-stable across both later publishes. Oracle =
    * construction-derived star recomputes per version's predicates.
    * Integer measures. */
  def q220VersionedStar(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val R = graft.plan.RollupRewrite
    val RV = graft.plan.RollupVersioned
    val tmpRoot = java.nio.file.Files.createTempDirectory("q220_vstar")
      .toFile.getAbsolutePath
    val root = s"$tmpRoot/vstar"
    writeNamedSlices(
      tbl(s, dir, "lineitem").select("l_partkey", "l_suppkey", "l_orderkey"),
      col("l_orderkey") % 3,
      s"$tmpRoot/fact", (0 until 2).map(sl => sl -> s"s$sl").toMap)
    tbl(s, dir, "part").select("p_partkey", "p_brand")
      .write.mode("overwrite").parquet(s"$tmpRoot/d1")
    writeNamedSlice(tbl(s, dir, "supplier")
      .select("s_suppkey", "s_nationkey")
      .filter(col("s_suppkey") % 2 === 0), s"$tmpRoot/d2", "c0")
    def dims = Seq(
      graft.sources.Pq.read(s, s"$tmpRoot/d1") -> Seq("l_partkey" -> "p_partkey"),
      graft.sources.Pq.read(s, s"$tmpRoot/d2") -> Seq("l_suppkey" -> "s_suppkey"))
    val v1 = RV.initStar(s, root, graft.sources.Pq.read(s, s"$tmpRoot/fact"), dims,
      RV.Layout(Seq("s_nationkey"), Seq("l_orderkey")))
    R.enable(s)
    try {
      // ONE window: fact slice s2 AND supplier slice c1 both append
      writeNamedSlice(tbl(s, dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_orderkey")
        .filter(col("l_orderkey") % 3 === 2), s"$tmpRoot/fact", "s2")
      writeNamedSlice(tbl(s, dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .filter(col("s_suppkey") % 2 === 1), s"$tmpRoot/d2", "c1")
      val v2 = RV.refreshAppendedStar(s, root,
          graft.sources.Pq.read(s, s"$tmpRoot/fact"), dims)
        .getOrElse(throw new IllegalStateException(
          "a pure fact+dim append must publish a telescoped star version"))
      require(v1 == 1 && v2 == 2, s"expected versions 1 and 2, got $v1/$v2")
      def serve(leg: String, version: Int): DataFrame = {
        val (asOfFact, asOfDims) = RV.registerVersionStar(s, root,
          Some(version))
        val joined = asOfDims.foldLeft(asOfFact) { case (acc, (d, keys)) =>
          acc.join(d, keys.map { case (fk, dk) =>
            asOfFact(fk) === d(dk) }.reduce(_ && _))
        }
        val q = joined.groupBy("s_nationkey")
          .agg(count(lit(1)).as("n_rows"), sum("l_orderkey").as("sum_ok"),
            min("l_orderkey").as("mn"), max("l_orderkey").as("mx"))
          .select(lit(leg).as("leg"), col("s_nationkey").as("nk"),
            col("n_rows"), col("sum_ok"), col("mn"), col("mx"))
        val scans = R.scanRootPaths(q)
        require(scans.size == 1 &&
            scans.head.contains(f"pool/b$version%05d"),
          s"$leg must serve from version $version's pool batch alone — $scans")
        require(q.queryExecution.optimizedPlan.collect {
            case j: LJoin => j }.isEmpty,
          s"$leg must contain NO serve-time join")
        q
      }
      graft.sources.Snapshots.pin(s, s"$root/meta", v1, "dashboard")
      val v1Pinned = RV.summaryOf(s, root, Some(v1)).collect().toSet
      val head2 = materializeSmall(s, serve("v1", v1))
        .unionByName(materializeSmall(s, serve("v2", v2)))
      // v3: trash-delete the c1 supplier slice — single-side retraction
      R.deleteFiles(s, Seq(s"$tmpRoot/d2/c1.parquet"), s"$tmpRoot/trash")
      val v3 = RV.refreshRemovedStar(s, root,
          graft.sources.Pq.read(s, s"$tmpRoot/fact"), dims, Seq(s"$tmpRoot/trash"))
        .getOrElse(throw new IllegalStateException(
          "a pure single-dim trash delete must publish a retracted star version"))
      require(v3 == 3, s"expected version 3, got $v3")
      val out = head2.unionByName(materializeSmall(s, serve("v3", v3)))
      require(RV.summaryOf(s, root, Some(v1)).collect().toSet == v1Pinned,
        "pinned v1 must stay bit-stable across the v2/v3 publishes")
      materializeAndCleanup(s, out, tmpRoot)
    } finally {
      R.disable(s); R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** MIXED-DIFF (COMPACTION) SUMMARY REFRESH ([[graft.plan.RollupRewrite
    * .refreshStale]]'s COMPOSED path — VERDICT r13 #1, r14): a stale
    * window holding BOTH removes and appends — the shape every
    * compaction or partial overwrite produces — FOLDS as retraction ∘
    * append-fold instead of staleness-killing the summary: the file
    * sets are disjoint (`current = (registered ∖ removed) ∪ appended`),
    * so the two individually-proven algebras (q194 retraction,
    * q192 append merge) compose. At 100 TB this is the difference
    * between "weekly compaction" and "weekly rebuild of every summary
    * over the base". Two legs: `partial` rewrites two of six slices
    * into one compacted file AND appends a genuinely new slice in the
    * SAME window — the retraction's extremum-recompute groups must
    * read the SURVIVING registered files, not the current listing
    * (reading current would double-count the appended rows and
    * hash-fail); `full` runs the shipped trash-protocol compaction op
    * ([[graft.sources.PathLifecycle.compactParquetTrash]]) over its
    * whole base — the degenerate all-files case, where the retraction
    * empties the summary and the "delta" honestly IS the new base.
    * In-query requires: both registrations report refreshed with
    * EXACTLY the right removed ∪ appended file sets, and both
    * dashboards plan-bind to their folded summaries. Both final bases
    * are the whole orders table by construction → oracle = plain
    * recomputes. Integer measure: bit-exact, no float surface. */
  def q221MixedRefresh(s: SparkSession, dir: String): DataFrame = {
    val R = graft.plan.RollupRewrite
    val orders = tbl(s, dir, "orders")
    val tmpRoot = java.nio.file.Files.createTempDirectory("q221_mixed")
      .toFile.getAbsolutePath
    // leg `partial`: registered base = orders with o_orderkey % 7 <> 3,
    // six named slices keyed % 6; the % 7 = 3 rows arrive later
    val sliceMap = writeNamedSlices(
      orders.filter(col("o_orderkey") % 7 =!= 3), col("o_orderkey") % 6,
      s"$tmpRoot/base1", (0 until 6).map(sl => sl -> s"s$sl").toMap)
    val slicePaths = (0 until 6).map(sliceMap)
    // leg `full`: the whole orders table in five named slices keyed % 5
    writeNamedSlices(orders, col("o_orderkey") % 5,
      s"$tmpRoot/base2", (0 until 5).map(sl => sl -> s"p$sl").toMap)
    val base1 = graft.sources.Pq.read(s, s"$tmpRoot/base1")
    val base2 = graft.sources.Pq.read(s, s"$tmpRoot/base2")
    graft.plan.Rollup.materialize(base1, Seq("o_orderstatus"),
        Seq("o_custkey"))
      .write.mode("overwrite").parquet(s"$tmpRoot/sum1")
    graft.plan.Rollup.materialize(base2, Seq("o_orderstatus"),
        Seq("o_custkey"))
      .write.mode("overwrite").parquet(s"$tmpRoot/sum2")
    R.register(base1, graft.sources.Pq.read(s, s"$tmpRoot/sum1"),
      Seq("o_orderstatus"), Seq("o_custkey"))
    R.register(base2, graft.sources.Pq.read(s, s"$tmpRoot/sum2"),
      Seq("o_orderstatus"), Seq("o_custkey"))
    R.enable(s)
    try {
      // partial-leg compaction: slices 1 and 4 rewrite as ONE file, and
      // the % 7 = 3 rows append as a NEW slice in the same stale window
      val rows14 = graft.sources.Pq.read(s, slicePaths(1), slicePaths(4))
      writeNamedSlice(rows14, s"$tmpRoot/base1", "c14")
      writeNamedSlice(orders.filter(col("o_orderkey") % 7 === 3),
        s"$tmpRoot/base1", "snew")
      R.deleteFiles(s, Seq(slicePaths(1), slicePaths(4)), s"$tmpRoot/trash")
      // full-leg: the shipped trash-protocol compaction op
      graft.sources.PathLifecycle.compactParquetTrash(s, s"$tmpRoot/base2",
        s"$tmpRoot/trash")
      val rep = R.refreshStale(s, s"$tmpRoot/ref",
        trashDirs = Seq(s"$tmpRoot/trash"))
      require(rep.size == 2 && rep.forall(_.refreshed),
        s"both mixed diffs must FOLD, not staleness-kill: $rep")
      def names(ps: Seq[String]) =
        ps.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
      val repP = rep.find(_.basePaths.exists(_.contains("base1"))).get
      require(names(repP.removedFiles) == Set("s1.parquet", "s4.parquet") &&
        names(repP.deltaFiles) == Set("c14.parquet", "snew.parquet"),
        s"partial fold must cover exactly removed ∪ appended: $repP")
      val repF = rep.find(_.basePaths.exists(_.contains("base2"))).get
      require(repF.removedFiles.size == 5 && repF.deltaFiles.size == 1,
        s"full compaction must retract all five slices and fold the one compacted file: $repF")
      def dash(src: DataFrame, leg: String) = src.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"), sum("o_custkey").as("sum_cust"),
          min("o_custkey").as("mn"), max("o_custkey").as("mx"))
        .select(lit(leg).as("leg"), col("o_orderstatus").as("grp"),
          col("n_rows"), col("sum_cust"), col("mn"), col("mx"))
      val qP = dash(graft.sources.Pq.read(s, s"$tmpRoot/base1"), "partial")
      val scansP = R.scanRootPaths(qP)
      require(scansP.nonEmpty && scansP.forall(_.endsWith(
          repP.summaryPath.substring(repP.summaryPath.lastIndexOf('/')))),
        s"partial leg must ride its folded summary — scans $scansP")
      val qF = dash(graft.sources.Pq.read(s, s"$tmpRoot/base2"), "full")
      val scansF = R.scanRootPaths(qF)
      require(scansF.nonEmpty && scansF.forall(_.endsWith(
          repF.summaryPath.substring(repF.summaryPath.lastIndexOf('/')))),
        s"full leg must ride its folded summary — scans $scansF")
      materializeAndCleanup(s, qP.unionByName(qF), tmpRoot)
    } finally {
      R.disable(s); R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** MAINTENANCE-COST-AWARE summary design ([[graft.plan.SummaryDesigner
    * .designCrossTier]]'s `updatesPerPeriod` term — VERDICT r13 #2): the
    * HRU greedy prices each candidate's FACT-SIZED refresh terms against
    * its query benefit — an AJI over an append-heavy dim pays a
    * registered-fact scan per dim append (the q206 honest asymmetry),
    * so the same workload designs DIFFERENTLY under different update
    * profiles. Bootstrap gate: ONE captured join-aggregate
    * (orders ⋈ customer by mktsegment), three designs from the same
    * capture — `cold` (no updates) designs the 5-row AJI and serves it
    * join-free; `hot` (1 customer append per period — maintenance
    * ordersRows ≫ the AJI's edge over the pair) flips to the
    * TWO-PLAIN-SUMMARY navigation pair, served with zero base scans;
    * `factHot` (100 orders appends) is asserted in-gate to KEEP the
    * AJI — fact appends fold delta-sized on every tier and must never
    * enter the cost. In-query requires: the three design shapes
    * exactly, cold's serve plan-bound to the designed AJI with no Join
    * node, hot's serve scanning exactly the two designed plain
    * summaries. Oracle = the join recompute per served leg. Integer
    * measure. */
  def q222MaintAwareDesign(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val R = graft.plan.RollupRewrite
    val D = graft.plan.SummaryDesigner
    val orders = tbl(s, dir, "orders")
    val customer = tbl(s, dir, "customer")
    val tmpRoot = java.nio.file.Files.createTempDirectory("q222_maint")
      .toFile.getAbsolutePath
    orders.write.mode("overwrite").parquet(s"$tmpRoot/orders")
    customer.write.mode("overwrite").parquet(s"$tmpRoot/customer")
    val fact = graft.sources.Pq.read(s, s"$tmpRoot/orders")
    val dim = graft.sources.Pq.read(s, s"$tmpRoot/customer")
    val keys = Seq("o_custkey" -> "c_custkey")
    def w(f: DataFrame, d: DataFrame) =
      f.join(d, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("sum_ok"),
          min("o_orderkey").as("mn"), max("o_orderkey").as("mx"))
    R.enable(s)
    try {
      R.startWorkloadCapture()
      w(fact, dim).queryExecution.optimizedPlan
      R.stopWorkloadCapture()
      def design(upd: Seq[(DataFrame, Double)]) =
        D.designCrossTier(Seq(fact, dim), Seq((fact, dim, keys)), Nil,
          maxRows = 10000000L, updatesPerPeriod = upd)
      val cold = design(Nil)
      require(cold.joined.size == 1 && cold.plain.isEmpty,
        s"cold dims must design the AJI: $cold")
      val hot = design(Seq(dim -> 1.0))
      require(hot.joined.isEmpty && hot.plain.size == 2,
        s"a hot dim must flip the AJI to the navigation pair: $hot")
      val factHot = design(Seq(fact -> 100.0))
      require(factHot.joined.size == 1 && factHot.plain.isEmpty,
        s"fact appends are delta-sized — the design must not flip: $factHot")
      // ---- serve the COLD design: join-free on the designed AJI
      val (_, jOuts, _) = D.buildAndRegisterCrossTier(s, Seq(fact, dim),
        Seq((fact, dim, keys)), Nil, cold, s"$tmpRoot/cold")
      val qCold = w(fact, dim)
      val scansC = R.scanRootPaths(qCold)
      require(scansC == jOuts.map(p => s"file:$p").toSet,
        s"cold leg must ride the designed AJI alone — scans $scansC")
      require(qCold.queryExecution.optimizedPlan.collect {
          case j: LJoin => j }.isEmpty,
        "cold leg must serve with ZERO Join nodes")
      val outCold = materializeSmall(s,
        qCold.select(lit("cold").as("leg"), col("c_mktsegment").as("seg"),
          col("n_rows"), col("sum_ok"), col("mn"), col("mx")))
      R.clear()
      // ---- serve the HOT design: the two plain summaries navigate
      val (pOuts, jOuts2, _) = D.buildAndRegisterCrossTier(s, Seq(fact, dim),
        Seq((fact, dim, keys)), Nil, hot, s"$tmpRoot/hot")
      require(jOuts2.isEmpty && pOuts.size == 2)
      val qHot = w(fact, dim)
      val scansH = R.scanRootPaths(qHot)
      require(scansH == pOuts.map(p => s"file:$p").toSet,
        s"hot leg must navigate exactly the two designed plain summaries — scans $scansH")
      val outHot = materializeSmall(s,
        qHot.select(lit("hot").as("leg"), col("c_mktsegment").as("seg"),
          col("n_rows"), col("sum_ok"), col("mn"), col("mx")))
      materializeAndCleanup(s, outCold.unionByName(outHot), tmpRoot)
    } finally {
      R.disable(s); R.resetWorkloadCapture(); R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** STREAM-MAINTAINED AGGREGATE JOIN SUMMARY (VERDICT r13 #3 — q176's
    * foreachBatch fold at AJI width): each micro-batch of fact arrivals
    * folds `Δfact ⋈ dim` — exactly the q206 fact-append delta term — as
    * one [[graft.plan.Rollup.materializeJoined]] pass merged into
    * driver-held state, so a join-shaped dashboard stays maintained by
    * the STREAM with no batch refresh job in the loop. Three
    * mtime-ordered micro-batches (maxFilesPerTrigger=1 over a 3-file
    * fact split); the folded state is required in-query to equal the
    * one-shot AJI materialization (counts and DECIMAL sums are
    * split-invariant — the q117 device; the decimal column is cast
    * INTO the fact files so merge's cast-back keeps the layout), then
    * registers and serves the join-aggregate join-free, plan-required.
    * Oracle = the join recompute; exact cents make the double cast
    * lossless on both engines. */
  def q223StreamJoined(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val R = graft.plan.RollupRewrite
    val gc = Seq("c_mktsegment")
    val ms = Seq("price_d", "o_orderkey")
    val keys = Seq("o_custkey" -> "c_custkey")
    val orders = tbl(s, dir, "orders")
    val customer = tbl(s, dir, "customer")
    val tmpRoot = java.nio.file.Files.createTempDirectory("q223_saji")
      .toFile.getAbsolutePath
    orders.select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("decimal(12,2)").as("price_d"))
      .repartition(3).write.mode("overwrite").parquet(s"$tmpRoot/factstream")
    customer.select("c_custkey", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$tmpRoot/dim")
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    val dimSS = graft.sources.Pq.read(ss, s"$tmpRoot/dim")
    val schema = graft.sources.Pq.read(ss, s"$tmpRoot/factstream").schema
    var state: DataFrame = null
    var nBatches = 0
    val q = ss.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmpRoot/factstream")
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          nBatches += 1
          val delta = graft.plan.Rollup.materializeJoined(batch, dimSS,
              keys, gc, ms)
            .localCheckpoint(true).transform(graft.plan.Checkpoints.track)
          state = (if (state == null) delta
                   else graft.plan.Rollup.merge(state, delta, gc, ms)
                     .localCheckpoint(true)
                     .transform(graft.plan.Checkpoints.track))
        }
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    require(nBatches >= 3,
      s"the stream must fold at least 3 micro-batches, saw $nBatches")
    state.write.mode("overwrite").parquet(s"$tmpRoot/aji")
    val fact = graft.sources.Pq.read(s, s"$tmpRoot/factstream")
    val dim = graft.sources.Pq.read(s, s"$tmpRoot/dim")
    require(graft.sources.Pq.read(s, s"$tmpRoot/aji").collect().map(_.toSeq).toSet ==
        graft.plan.Rollup.materializeJoined(fact, dim, keys, gc, ms)
          .collect().map(_.toSeq).toSet,
      "stream-folded AJI must equal the one-shot materialization")
    R.registerJoined(fact, dim, keys, graft.sources.Pq.read(s, s"$tmpRoot/aji"),
      gc, ms)
    R.enable(s)
    try {
      val dash = fact.join(dim, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_rows"), sum("price_d").as("__p"),
          min("o_orderkey").as("mn"), max("o_orderkey").as("mx"))
        .select(col("c_mktsegment").as("seg"), col("n_rows"),
          col("__p").cast("double").as("sum_price"), col("mn"), col("mx"))
      val scans = R.scanRootPaths(dash)
      require(scans.nonEmpty && scans.forall(_.contains("/aji")),
        s"dashboard must ride the stream-maintained AJI — scans $scans")
      require(dash.queryExecution.optimizedPlan.collect {
          case j: LJoin => j }.isEmpty,
        "the AJI serve must carry ZERO Join nodes")
      materializeAndCleanup(s, dash, tmpRoot)
    } finally {
      R.disable(s); R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** EXACT count(distinct) THROUGH NAVIGATION (VERDICT r13 #4 — the
    * q180 grain-distinct rule at join and star width): both navigation
    * paths used to bail on ANY `isDistinct`, but a
    * `count(distinct c…)` whose every arg is a GRAIN column of its own
    * side's plain summary is exactly derivable — distinct is
    * duplication-insensitive and the summary join reproduces exactly
    * the MATCHED grain combinations of the base join, so no
    * multiplicity weighting (and no unique-dim-key precondition) is
    * needed. Leg `nav`: orders ⋈ customer by mktsegment with
    * `count(distinct o_orderpriority)` riding the fact summary's grain
    * — served from the TWO plain summaries, zero base scans,
    * plan-required. Leg `star`: lineitem ⋈ part ⋈ supplier by
    * nation with `count(distinct p_brand)` from a DIM leaf's grain —
    * three plain summaries, zero base scans. Oracle = the join
    * recomputes; a multiplicity inflation (customer keys are unique
    * but parts repeat per lineitem ~30×) or an unmatched-combo leak
    * hash-fails. Integer measures. */
  def q224NavDistinct(s: SparkSession, dir: String): DataFrame = {
    val R = graft.plan.RollupRewrite
    val tmpRoot = java.nio.file.Files.createTempDirectory("q224_navd")
      .toFile.getAbsolutePath
    // ---- leg nav: orders ⋈ customer
    tbl(s, dir, "orders").write.mode("overwrite").parquet(s"$tmpRoot/orders")
    tbl(s, dir, "customer").write.mode("overwrite")
      .parquet(s"$tmpRoot/customer")
    val orders = graft.sources.Pq.read(s, s"$tmpRoot/orders")
    val customer = graft.sources.Pq.read(s, s"$tmpRoot/customer")
    graft.plan.Rollup.materialize(orders,
        Seq("o_custkey", "o_orderpriority"), Seq("o_orderkey"))
      .write.mode("overwrite").parquet(s"$tmpRoot/osum")
    graft.plan.Rollup.materialize(customer,
        Seq("c_custkey", "c_mktsegment"), Nil)
      .write.mode("overwrite").parquet(s"$tmpRoot/csum")
    R.register(orders, graft.sources.Pq.read(s, s"$tmpRoot/osum"),
      Seq("o_custkey", "o_orderpriority"), Seq("o_orderkey"))
    R.register(customer, graft.sources.Pq.read(s, s"$tmpRoot/csum"),
      Seq("c_custkey", "c_mktsegment"), Nil)
    // ---- leg star: lineitem ⋈ part ⋈ supplier
    tbl(s, dir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$tmpRoot/lineitem")
    tbl(s, dir, "part").select("p_partkey", "p_brand")
      .write.mode("overwrite").parquet(s"$tmpRoot/part")
    tbl(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      .write.mode("overwrite").parquet(s"$tmpRoot/supplier")
    val li = graft.sources.Pq.read(s, s"$tmpRoot/lineitem")
    val part = graft.sources.Pq.read(s, s"$tmpRoot/part")
    val supp = graft.sources.Pq.read(s, s"$tmpRoot/supplier")
    graft.plan.Rollup.materialize(li, Seq("l_partkey", "l_suppkey"),
        Seq("l_orderkey"))
      .write.mode("overwrite").parquet(s"$tmpRoot/lsum")
    graft.plan.Rollup.materialize(part, Seq("p_partkey", "p_brand"), Nil)
      .write.mode("overwrite").parquet(s"$tmpRoot/psum")
    graft.plan.Rollup.materialize(supp, Seq("s_suppkey", "s_nationkey"), Nil)
      .write.mode("overwrite").parquet(s"$tmpRoot/ssum")
    R.register(li, graft.sources.Pq.read(s, s"$tmpRoot/lsum"),
      Seq("l_partkey", "l_suppkey"), Seq("l_orderkey"))
    R.register(part, graft.sources.Pq.read(s, s"$tmpRoot/psum"),
      Seq("p_partkey", "p_brand"), Nil)
    R.register(supp, graft.sources.Pq.read(s, s"$tmpRoot/ssum"),
      Seq("s_suppkey", "s_nationkey"), Nil)
    R.enable(s)
    try {
      val qNav = orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("sum_ok"),
          countDistinct(col("o_orderpriority")).as("nd"))
        .select(lit("nav").as("leg"), col("c_mktsegment").as("g"),
          col("n_rows"), col("sum_ok"), col("nd"))
      val scansN = R.scanRootPaths(qNav)
      require(scansN.nonEmpty && scansN.forall(p =>
          p.contains("osum") || p.contains("csum")),
        s"nav leg must serve from the two plain summaries — scans $scansN")
      val qStar = li
        .join(part, col("l_partkey") === col("p_partkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_rows"), sum("l_orderkey").as("sum_ok"),
          countDistinct(col("p_brand")).as("nd"))
        .select(lit("star").as("leg"),
          col("s_nationkey").cast("string").as("g"),
          col("n_rows"), col("sum_ok"), col("nd"))
      val scansS = R.scanRootPaths(qStar)
      require(scansS.nonEmpty && scansS.forall(p =>
          p.contains("lsum") || p.contains("psum") || p.contains("ssum")),
        s"star leg must serve from the three plain summaries — scans $scansS")
      materializeAndCleanup(s, qNav.unionByName(qStar), tmpRoot)
    } finally {
      R.disable(s); R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** VERSIONED MIXED-DIFF (COMPACTION) FOLD (r14 — the q221
    * retraction ∘ append-fold composition through [[graft.plan
    * .RollupVersioned]]'s unified side-list core, so it lands ONCE for
    * plain/AJI/star): a trash-protocol compaction of a versioned
    * summary's base publishes ONE new version instead of forcing a
    * fresh-root rebuild. Leg `plain`: orders slices s1/s4 rewrite as
    * one compacted file AND a genuinely new slice appends in the same
    * window — `refreshMixed` retracts the removed files (recompute
    * groups reading the SURVIVING saved files) then merges the delta,
    * one atomic publish. Leg `star`: lineitem ⋈ part ⋈ supplier where
    * ONE dim (supplier) compacts LOSSILY — the odd-supplier slice is
    * replaced by its s_suppkey % 3 <> 1 subset — via
    * `refreshMixedStar`, so a missed retraction (dropped suppliers
    * linger) or a double-counted append (kept suppliers twice)
    * hash-fails. Each version serves from its OWN pool batch alone
    * (plan-required; star serves join-free); v1 legs serve BEFORE the
    * compaction (as-of frames need their manifest files present) and
    * pinned v1 summaries stay bit-stable across the mixed publish.
    * Oracle = construction-derived recomputes per version predicate.
    * Integer measures. */
  def q225VersionedMixed(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val R = graft.plan.RollupRewrite
    val RV = graft.plan.RollupVersioned
    val tmpRoot = java.nio.file.Files.createTempDirectory("q225_vmix")
      .toFile.getAbsolutePath
    val orders = tbl(s, dir, "orders")
    // ---- plain leg: base = orders % 7 <> 3 in six slices keyed % 6
    val rootP = s"$tmpRoot/vp"
    val sliceMap = writeNamedSlices(
      orders.filter(col("o_orderkey") % 7 =!= 3), col("o_orderkey") % 6,
      s"$tmpRoot/pbase", (0 until 6).map(sl => sl -> s"s$sl").toMap)
    val slicePaths = (0 until 6).map(sliceMap)
    val v1p = RV.init(s, rootP, graft.sources.Pq.read(s, s"$tmpRoot/pbase"),
      RV.Layout(Seq("o_orderstatus"), Seq("o_custkey")))
    R.enable(s)
    try {
      def serveP(leg: String, version: Int): DataFrame = {
        val asOf = RV.registerVersion(s, rootP, Some(version))
        val q = asOf.groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_rows"), sum("o_custkey").as("sum_m"),
            min("o_custkey").as("mn"), max("o_custkey").as("mx"))
          .select(lit(leg).as("leg"), col("o_orderstatus").as("g"),
            col("n_rows"), col("sum_m"), col("mn"), col("mx"))
        val scans = R.scanRootPaths(q)
        require(scans.size == 1 && scans.head.contains(f"pool/b$version%05d"),
          s"$leg must serve from version $version's batch alone — $scans")
        materializeSmall(s, q)
      }
      val pv1 = serveP("p_v1", v1p)
      val v1pPinned = RV.summaryOf(s, rootP, Some(v1p)).collect().toSet
      // the compaction: s1 ∪ s4 rewrite as ONE file + a NEW slice
      val rows14 = graft.sources.Pq.read(s, slicePaths(1), slicePaths(4))
      writeNamedSlice(rows14, s"$tmpRoot/pbase", "c14")
      writeNamedSlice(orders.filter(col("o_orderkey") % 7 === 3),
        s"$tmpRoot/pbase", "snew")
      R.deleteFiles(s, Seq(slicePaths(1), slicePaths(4)), s"$tmpRoot/trash")
      val v2p = RV.refreshMixed(s, rootP,
          graft.sources.Pq.read(s, s"$tmpRoot/pbase"), Seq(s"$tmpRoot/trash"))
        .getOrElse(throw new IllegalStateException(
          "a versioned mixed diff must fold, not refuse"))
      require(v2p == 2, s"expected version 2, got $v2p")
      val pv2 = serveP("p_v2", v2p)
      require(RV.summaryOf(s, rootP, Some(v1p)).collect().toSet == v1pPinned,
        "plain v1 must stay bit-stable across the mixed publish")
      // ---- star leg: ONE dim (supplier) compacts lossily
      val rootS = s"$tmpRoot/vs"
      writeNamedSlice(tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey"),
        s"$tmpRoot/li", "f0")
      writeNamedSlice(tbl(s, dir, "part").select("p_partkey"),
        s"$tmpRoot/pt", "p0")
      val odd = writeNamedSlices(
        tbl(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
        col("s_suppkey") % 2,
        s"$tmpRoot/sup", Map(0 -> "s0", 1 -> "s1"))(1)
      def sdims = Seq(
        graft.sources.Pq.read(s, s"$tmpRoot/pt") -> Seq("l_partkey" -> "p_partkey"),
        graft.sources.Pq.read(s, s"$tmpRoot/sup") -> Seq("l_suppkey" -> "s_suppkey"))
      val v1s = RV.initStar(s, rootS, graft.sources.Pq.read(s, s"$tmpRoot/li"),
        sdims, RV.Layout(Seq("s_nationkey"), Seq("l_orderkey")))
      def serveS(leg: String, version: Int): DataFrame = {
        val (af, ad) = RV.registerVersionStar(s, rootS, Some(version))
        val q = ad.foldLeft(af) { case (acc, (d, keys)) =>
            acc.join(d, keys.map { case (fk, dk) =>
              af(fk) === d(dk) }.reduce(_ && _)) }
          .groupBy("s_nationkey")
          .agg(count(lit(1)).as("n_rows"), sum("l_orderkey").as("sum_m"),
            min("l_orderkey").as("mn"), max("l_orderkey").as("mx"))
          .select(lit(leg).as("leg"),
            col("s_nationkey").cast("string").as("g"),
            col("n_rows"), col("sum_m"), col("mn"), col("mx"))
        val scans = R.scanRootPaths(q)
        require(scans.size == 1 && scans.head.contains(f"pool/b$version%05d"),
          s"$leg must serve from version $version's batch alone — $scans")
        require(q.queryExecution.optimizedPlan.collect {
            case j: LJoin => j }.isEmpty,
          s"$leg must serve join-free")
        materializeSmall(s, q)
      }
      val sv1 = serveS("s_v1", v1s)
      val v1sPinned = RV.summaryOf(s, rootS, Some(v1s)).collect().toSet
      // supplier compaction drops odd suppliers with s_suppkey % 3 = 1
      writeNamedSlice(tbl(s, dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .filter(col("s_suppkey") % 2 === 1 && col("s_suppkey") % 3 =!= 1),
        s"$tmpRoot/sup", "c1")
      R.deleteFiles(s, Seq(odd), s"$tmpRoot/trash")
      val v2s = RV.refreshMixedStar(s, rootS,
          graft.sources.Pq.read(s, s"$tmpRoot/li"), sdims, Seq(s"$tmpRoot/trash"))
        .getOrElse(throw new IllegalStateException(
          "a single-dim versioned compaction must fold, not refuse"))
      require(v2s == 2, s"expected star version 2, got $v2s")
      val sv2 = serveS("s_v2", v2s)
      require(RV.summaryOf(s, rootS, Some(v1s)).collect().toSet == v1sPinned,
        "star v1 must stay bit-stable across the mixed publish")
      materializeAndCleanup(s,
        pv1.unionByName(pv2).unionByName(sv1).unionByName(sv2), tmpRoot)
    } finally {
      R.disable(s); R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** CROSS-SIDE MIXED REFRESH (r14 — the q221 composition generalized:
    * removals confined to ONE side of a join summary fold with appends
    * on ANY side). The algebra: retraction runs over the sides' SAVED
    * states (removed tuples = removed-rows ⋈ other sides AS SAVED —
    * appended rows must NOT enter the removed partials), recompute
    * over the RETAINED (saved ∖ removed) states, and the append terms
    * telescope over retained-before/current-after states. Leg `aji`:
    * an orders⋈customer AJI's window deletes a CUSTOMER slice (odd
    * custkeys) AND appends an ORDERS slice — the appended orders
    * include rows joining the removed customers, so a current-state
    * retraction or a mis-stated append term hash-fails. Leg `star`:
    * lineitem⋈part⋈supplier deletes the odd-supplier slice and appends
    * the other HALF of lineitem in one window — fact append + dim
    * removal at star width. In-query requires: each refresh reports
    * EXACTLY the removed ∪ appended file sets and each serve is
    * plan-bound to its folded summary with ZERO Join nodes. Oracle =
    * the reduced-dim join recomputes over the full fact. Integer
    * measures. */
  def q226CrossSideMixed(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val R = graft.plan.RollupRewrite
    val tmpRoot = java.nio.file.Files.createTempDirectory("q226_xmix")
      .toFile.getAbsolutePath
    val orders = tbl(s, dir, "orders")
    val customer = tbl(s, dir, "customer")
    // ---- leg aji: orders(%3<2 registered) ⋈ customer(even ∪ odd)
    writeNamedSlices(orders, col("o_orderkey") % 3,
      s"$tmpRoot/ofact", (0 until 2).map(sl => sl -> s"o$sl").toMap)
    val c1 = writeNamedSlices(customer, col("c_custkey") % 2,
      s"$tmpRoot/cdim", Map(0 -> "c0", 1 -> "c1"))(1)
    val fact0 = graft.sources.Pq.read(s, s"$tmpRoot/ofact")
    val dim0 = graft.sources.Pq.read(s, s"$tmpRoot/cdim")
    graft.plan.Rollup.materializeJoined(fact0, dim0,
        Seq("o_custkey" -> "c_custkey"), Seq("c_mktsegment"),
        Seq("o_orderkey"))
      .write.mode("overwrite").parquet(s"$tmpRoot/aji")
    R.registerJoined(fact0, dim0, Seq("o_custkey" -> "c_custkey"),
      graft.sources.Pq.read(s, s"$tmpRoot/aji"), Seq("c_mktsegment"),
      Seq("o_orderkey"))
    R.enable(s)
    try {
      // the window: customer slice c1 deletes, orders slice o2 appends
      writeNamedSlice(orders.filter(col("o_orderkey") % 3 === 2),
        s"$tmpRoot/ofact", "o2")
      R.deleteFiles(s, Seq(c1), s"$tmpRoot/trash")
      val rep = R.refreshStale(s, s"$tmpRoot/ref",
        trashDirs = Seq(s"$tmpRoot/trash"))
      def names(ps: Seq[String]) =
        ps.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
      require(rep.size == 1 && rep.head.refreshed &&
          names(rep.head.removedFiles) == Set("c1.parquet") &&
          names(rep.head.deltaFiles) == Set("o2.parquet"),
        s"the cross-side window must fold with the exact diff: $rep")
      val qA = graft.sources.Pq.read(s, s"$tmpRoot/ofact")
        .join(graft.sources.Pq.read(s, s"$tmpRoot/cdim"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("sum_m"),
          min("o_orderkey").as("mn"), max("o_orderkey").as("mx"))
        .select(lit("aji").as("leg"), col("c_mktsegment").as("g"),
          col("n_rows"), col("sum_m"), col("mn"), col("mx"))
      val scansA = R.scanRootPaths(qA)
      require(scansA.nonEmpty && scansA.forall(p =>
          p.contains("/ref/") && p.contains("refreshj")),
        s"aji leg must ride the folded summary — scans $scansA")
      require(qA.queryExecution.optimizedPlan.collect {
          case j: LJoin => j }.isEmpty, "aji leg must serve join-free")
      val outA = materializeSmall(s, qA)
      R.clear()
      // ---- leg star: lineitem(half) ⋈ part ⋈ supplier(even ∪ odd)
      writeNamedSlice(tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey")
        .filter(col("l_orderkey") % 2 === 0), s"$tmpRoot/li", "l0")
      writeNamedSlice(tbl(s, dir, "part").select("p_partkey"),
        s"$tmpRoot/pt", "p0")
      val s1 = writeNamedSlices(
        tbl(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
        col("s_suppkey") % 2,
        s"$tmpRoot/sup", Map(0 -> "s0", 1 -> "s1"))(1)
      val li0 = graft.sources.Pq.read(s, s"$tmpRoot/li")
      def sdims0 = Seq(
        graft.sources.Pq.read(s, s"$tmpRoot/pt") -> Seq("l_partkey" -> "p_partkey"),
        graft.sources.Pq.read(s, s"$tmpRoot/sup") -> Seq("l_suppkey" -> "s_suppkey"))
      graft.plan.Rollup.materializeStar(li0, sdims0, Seq("s_nationkey"),
          Seq("l_orderkey"))
        .write.mode("overwrite").parquet(s"$tmpRoot/star")
      R.registerStar(li0, sdims0, graft.sources.Pq.read(s, s"$tmpRoot/star"),
        Seq("s_nationkey"), Seq("l_orderkey"))
      // the window: odd suppliers delete, the other lineitem half appends
      writeNamedSlice(tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey")
        .filter(col("l_orderkey") % 2 === 1), s"$tmpRoot/li", "l1")
      R.deleteFiles(s, Seq(s1), s"$tmpRoot/trash")
      val rep2 = R.refreshStale(s, s"$tmpRoot/ref2",
        trashDirs = Seq(s"$tmpRoot/trash"))
      require(rep2.size == 1 && rep2.head.refreshed &&
          names(rep2.head.removedFiles) == Set("s1.parquet") &&
          names(rep2.head.deltaFiles) == Set("l1.parquet"),
        s"the star cross-side window must fold with the exact diff: $rep2")
      val qS = graft.sources.Pq.read(s, s"$tmpRoot/li")
        .join(graft.sources.Pq.read(s, s"$tmpRoot/pt"),
          col("l_partkey") === col("p_partkey"))
        .join(graft.sources.Pq.read(s, s"$tmpRoot/sup"),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_rows"), sum("l_orderkey").as("sum_m"),
          min("l_orderkey").as("mn"), max("l_orderkey").as("mx"))
        .select(lit("star").as("leg"),
          col("s_nationkey").cast("string").as("g"),
          col("n_rows"), col("sum_m"), col("mn"), col("mx"))
      val scansS = R.scanRootPaths(qS)
      require(scansS.nonEmpty && scansS.forall(p =>
          p.contains("/ref2/") && p.contains("refreshs")),
        s"star leg must ride the folded summary — scans $scansS")
      require(qS.queryExecution.optimizedPlan.collect {
          case j: LJoin => j }.isEmpty, "star leg must serve join-free")
      materializeAndCleanup(s, outA.unionByName(qS), tmpRoot)
    } finally {
      R.disable(s); R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** CROSS-TIER SUMMARY DESIGN under ONE budget ([[graft.plan
    * .SummaryDesigner.designCrossTier]] — VERDICT r12 #2): a mixed cold
    * workload — a custkey-grained fact dashboard (w1), a
    * customer-grained dim profile (w2), a segment join-aggregate (w3),
    * and a nation-grained star aggregate (w4) — is captured once and
    * designed by ONE HRU greedy over the union of plain / AJI / star
    * candidates. The shared-benefit dedupe is the gate's crux: w3 is
    * servable either by an AJI or by TWO-SUMMARY NAVIGATION over the
    * very plain summaries w1/w2 already need, so the greedy's pair
    * move absorbs w3's benefit into them and — under a budget with 4
    * rows to spare after the pair + star — the AJI never builds
    * (`design.joined` empty, required in-query; the per-tier designers
    * would have spent those rows again). Every leg then serves
    * plan-asserted: w1/w2 on their plain summaries, w3 through
    * navigation with ZERO base scans, w4 on the star summary
    * join-free. Oracle = direct recomputes. Integer measures. */
  def q215CrossTierDesign(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val R = graft.plan.RollupRewrite
    val SD = graft.plan.SummaryDesigner
    val tmpRoot = java.nio.file.Files.createTempDirectory("q215_cross")
      .toFile.getAbsolutePath
    tbl(s, dir, "orders").write.mode("overwrite").parquet(s"$tmpRoot/fact")
    tbl(s, dir, "customer").write.mode("overwrite").parquet(s"$tmpRoot/dim")
    tbl(s, dir, "lineitem").write.mode("overwrite").parquet(s"$tmpRoot/sfact")
    tbl(s, dir, "part").write.mode("overwrite").parquet(s"$tmpRoot/d1")
    tbl(s, dir, "supplier").write.mode("overwrite").parquet(s"$tmpRoot/d2")
    val fact = graft.sources.Pq.read(s, s"$tmpRoot/fact")
    val dim = graft.sources.Pq.read(s, s"$tmpRoot/dim")
    val sfact = graft.sources.Pq.read(s, s"$tmpRoot/sfact")
    val d1 = graft.sources.Pq.read(s, s"$tmpRoot/d1")
    val d2 = graft.sources.Pq.read(s, s"$tmpRoot/d2")
    val keys = Seq("o_custkey" -> "c_custkey")
    val sdims = Seq(d1 -> Seq("l_partkey" -> "p_partkey"),
      d2 -> Seq("l_suppkey" -> "s_suppkey"))
    val joined = fact.join(dim, col("o_custkey") === col("c_custkey"))
    val starJoined = sfact.join(d1, col("l_partkey") === col("p_partkey"))
      .join(d2, col("l_suppkey") === col("s_suppkey"))
    val nullL = lit(null).cast("long")
    val nullS = lit(null).cast("string")
    val nullI = lit(null).cast("int")
    def w1 = fact.groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), sum("o_orderkey").as("sv"))
      .select(lit("w1").as("leg"), col("o_custkey").cast("long").as("ck"),
        nullS.as("seg"), nullI.as("nk"), col("n"), col("sv"))
    def w2 = dim.groupBy("c_custkey", "c_mktsegment")
      .agg(count(lit(1)).as("n"))
      .select(lit("w2").as("leg"), col("c_custkey").cast("long").as("ck"),
        col("c_mktsegment").as("seg"), nullI.as("nk"), col("n"),
        nullL.as("sv"))
    def w3 = joined.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum("o_orderkey").as("sv"))
      .select(lit("w3").as("leg"), nullL.as("ck"),
        col("c_mktsegment").as("seg"), nullI.as("nk"), col("n"), col("sv"))
    def w4 = starJoined.groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"), sum("l_orderkey").as("sv"))
      .select(lit("w4").as("leg"), nullL.as("ck"), nullS.as("seg"),
        col("s_nationkey").cast("int").as("nk"), col("n"), col("sv"))
    R.enable(s)
    R.startWorkloadCapture()
    try {
      w1.queryExecution.optimizedPlan
      w2.queryExecution.optimizedPlan
      w3.queryExecution.optimizedPlan
      w4.queryExecution.optimizedPlan
      R.stopWorkloadCapture()
      // budget: the pair + the star fit, the 5-row AJI does NOT — the
      // regime where only the cross-tier dedupe covers w3
      val cRows = fact.select("o_custkey").distinct().count()
      val dRows = dim.select("c_custkey", "c_mktsegment").distinct().count()
      val sRows = starJoined.select("s_nationkey").distinct().count()
      val design = SD.designCrossTier(Seq(fact, dim),
        Seq((fact, dim, keys)), Seq(sfact -> sdims),
        maxRows = cRows + dRows + sRows + 4)
      require(design.joined.isEmpty,
        s"the pair must absorb w3 — no AJI within this budget: $design")
      require(design.plain.size == 2 && design.star.size == 1,
        s"expected 2 plain + 1 star summary: $design")
      val fSpec = design.plain.find(_._2.grainCols == Seq("o_custkey"))
        .getOrElse(throw new IllegalStateException(
          s"design must keep the (o_custkey) fact grain: $design"))
      require(fSpec._2.measures.contains("o_orderkey"),
        s"the fact summary must carry w1+w3's measure: $fSpec")
      require(design.plain.exists(_._2.grainCols.toSet ==
          Set("c_custkey", "c_mktsegment")),
        s"design must keep the (c_custkey, c_mktsegment) dim grain: $design")
      require(design.star.head._2.grainCols == Seq("s_nationkey") &&
          design.star.head._2.measures.contains("l_orderkey"),
        s"design must keep the (s_nationkey) star grain: $design")
      val (pOuts, _, sOuts) = SD.buildAndRegisterCrossTier(s,
        Seq(fact, dim), Seq((fact, dim, keys)), Seq(sfact -> sdims),
        design, s"$tmpRoot/designed")
      def requireOn(df: DataFrame, pred: Set[String] => Boolean,
                    name: String, joinFree: Boolean): DataFrame = {
        val scans = R.scanRootPaths(df)
        require(scans.nonEmpty && pred(scans),
          s"$name must serve from its designed summaries — $scans")
        if (joinFree)
          require(df.queryExecution.optimizedPlan.collect {
              case j: LJoin => j }.isEmpty,
            s"$name must contain NO serve-time join")
        df
      }
      val pSet = pOuts.map(p => s"file:$p").toSet
      val served = requireOn(w1, _.subsetOf(pSet), "w1", joinFree = true)
        .unionByName(requireOn(w2, _.subsetOf(pSet), "w2", joinFree = true))
        .unionByName(requireOn(w3, sc => sc.subsetOf(pSet) && sc.size == 2,
          "w3 (navigation)", joinFree = false))
        .unionByName(requireOn(w4, _ == Set(s"file:${sOuts.head}"), "w4",
          joinFree = true))
      materializeAndCleanup(s, served, tmpRoot)
    } finally {
      R.disable(s); R.resetWorkloadCapture(); R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** STAR NAVIGATION (q197's two-summary device at star width — the
    * navigation family completed): a star-join aggregate over
    * `lineitem ⋈ part ⋈ supplier` where the CENTER and EVERY dim have
    * registered PLAIN summaries serves with ZERO base scans — the
    * three summaries join on their key grains and each fact partial
    * multiplies by the PRODUCT of the dim summaries' row counts (the
    * duplicate-factoring identity per dim independently; TPC-H dim
    * keys are unique so the product is 1 here — the multiplicity crux
    * is spec-pinned on constructed duplicate-key dims). Leg `full`
    * groups by one grain from EACH dim (p_brand, s_nationkey); leg
    * `filtered` adds a supplier-side WHERE routed to the supplier
    * summary and coarsens to p_brand. Both legs plan-required to scan
    * EXACTLY the three summaries — never a base dir. Oracle = direct
    * star recomputes. Integer measures. */
  def q216StarNavigation(s: SparkSession, dir: String): DataFrame = {
    val R = graft.plan.RollupRewrite
    val tmpRoot = java.nio.file.Files.createTempDirectory("q216_starnav")
      .toFile.getAbsolutePath
    tbl(s, dir, "lineitem")
      .select("l_partkey", "l_suppkey", "l_orderkey")
      .write.mode("overwrite").parquet(s"$tmpRoot/fact")
    tbl(s, dir, "part").select("p_partkey", "p_brand")
      .write.mode("overwrite").parquet(s"$tmpRoot/d1")
    tbl(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      .write.mode("overwrite").parquet(s"$tmpRoot/d2")
    val fact = graft.sources.Pq.read(s, s"$tmpRoot/fact")
    val d1 = graft.sources.Pq.read(s, s"$tmpRoot/d1")
    val d2 = graft.sources.Pq.read(s, s"$tmpRoot/d2")
    graft.plan.Rollup.materialize(fact, Seq("l_partkey", "l_suppkey"),
        Seq("l_orderkey"))
      .write.mode("overwrite").parquet(s"$tmpRoot/fsum")
    graft.plan.Rollup.materialize(d1, Seq("p_partkey", "p_brand"),
        Seq("p_partkey"))
      .write.mode("overwrite").parquet(s"$tmpRoot/d1sum")
    graft.plan.Rollup.materialize(d2, Seq("s_suppkey", "s_nationkey"),
        Seq("s_suppkey"))
      .write.mode("overwrite").parquet(s"$tmpRoot/d2sum")
    R.register(fact, graft.sources.Pq.read(s, s"$tmpRoot/fsum"),
      Seq("l_partkey", "l_suppkey"), Seq("l_orderkey"))
    R.register(d1, graft.sources.Pq.read(s, s"$tmpRoot/d1sum"),
      Seq("p_partkey", "p_brand"), Seq("p_partkey"))
    R.register(d2, graft.sources.Pq.read(s, s"$tmpRoot/d2sum"),
      Seq("s_suppkey", "s_nationkey"), Seq("s_suppkey"))
    R.enable(s)
    try {
      def joined = fact.join(d1, col("l_partkey") === col("p_partkey"))
        .join(d2, col("l_suppkey") === col("s_suppkey"))
      def requireNav(df: DataFrame, name: String): DataFrame = {
        val scans = R.scanRootPaths(df)
        require(scans == Set(s"file:$tmpRoot/fsum", s"file:$tmpRoot/d1sum",
            s"file:$tmpRoot/d2sum"),
          s"$name must navigate EXACTLY the three summaries — $scans")
        df
      }
      val full = requireNav(joined.groupBy("p_brand", "s_nationkey")
        .agg(count(lit(1)).as("n_rows"), sum("l_orderkey").as("sum_ok"),
          min("l_orderkey").as("mn"), max("l_orderkey").as("mx"))
        .select(lit("full").as("leg"), col("p_brand").as("brand"),
          col("s_nationkey").as("nk"), col("n_rows"), col("sum_ok"),
          col("mn"), col("mx")), "full leg")
      val filtered = requireNav(joined.filter(col("s_nationkey") === 3)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_rows"), sum("l_orderkey").as("sum_ok"),
          min("l_orderkey").as("mn"), max("l_orderkey").as("mx"))
        .select(lit("filtered").as("leg"), col("p_brand").as("brand"),
          lit(null).cast("int").as("nk"), col("n_rows"), col("sum_ok"),
          col("mn"), col("mx")), "filtered leg")
      materializeAndCleanup(s, full.unionByName(filtered), tmpRoot)
    } finally {
      R.disable(s); R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** DELETE-AWARE REFRESH FOR THE JOINED AND STAR TIERS (r13 — q194's
    * retraction generalized up the summary taxonomy): a file delete
    * through the safe-delete trash protocol on EXACTLY ONE side of a
    * registered join summary RETRACTS instead of refusing, because the
    * removed join tuples are exactly `removed-side rows ⋈ every other
    * side` (set-difference distributivity over the inner join — each
    * tuple holds one row of the deleting side, so it vanishes iff that
    * row does), and [[graft.plan.Rollup.retract]] applies verbatim to
    * the joined frame: sums/counts subtract exactly, extremum-touched
    * groups recompute from the current join, emptied groups drop. Leg
    * `aji` deletes a FACT slice (o_orderkey ≡ 2 mod 6) under an
    * orders⋈customer AJI; leg `star` deletes a DIM slice (s_suppkey ≡
    * 2 mod 5) under a lineitem⋈part⋈supplier star — the sharp case:
    * every join tuple of a removed supplier must leave the summary
    * with no rebuild, and nation groups whose extremum rode a removed
    * supplier recompute. In-query requires: each refresh reports
    * EXACTLY the deleted file (and no delta files), and each serve leg
    * is plan-bound to its RETRACTED summary with ZERO Join nodes.
    * Integer measures ⇒ retraction is bit-exact; oracle = the
    * reduced-corpus join recompute. */
  def q217JoinedStarRetract(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val R = graft.plan.RollupRewrite
    val tmpRoot = java.nio.file.Files.createTempDirectory("q217_retract")
      .toFile.getAbsolutePath
    def requireRetracted(df: DataFrame, tag: String, name: String): DataFrame = {
      val scans = R.scanRootPaths(df)
      require(scans.nonEmpty && scans.forall(_.contains(tag)),
        s"$name must serve from its retracted summary alone — $scans")
      require(df.queryExecution.optimizedPlan.collect {
          case j: LJoin => j }.isEmpty,
        s"$name must contain NO serve-time join")
      df
    }
    def requireRemoved(rep: Seq[R.RefreshResult], file: String): Unit =
      require(rep.size == 1 && rep.head.refreshed &&
          rep.head.deltaFiles.isEmpty &&
          rep.head.removedFiles.map(p =>
            p.substring(p.lastIndexOf('/') + 1)) == Seq(file),
        s"the delete must retract EXACTLY $file: $rep")
    R.enable(s)
    try {
      // ---- leg `aji`: FACT-slice delete under orders ⋈ customer
      val factMap = writeNamedSlices(tbl(s, dir, "orders"),
        col("o_orderkey") % 6,
        s"$tmpRoot/fact", (0 until 6).map(sl => sl -> s"s$sl").toMap)
      val factSlices = (0 until 6).map(factMap)
      tbl(s, dir, "customer").select("c_custkey", "c_mktsegment")
        .write.mode("overwrite").parquet(s"$tmpRoot/dim")
      val fact0 = graft.sources.Pq.read(s, s"$tmpRoot/fact")
      val dim0 = graft.sources.Pq.read(s, s"$tmpRoot/dim")
      graft.plan.Rollup.materializeJoined(fact0, dim0,
          Seq("o_custkey" -> "c_custkey"), Seq("c_mktsegment"),
          Seq("o_orderkey"))
        .write.mode("overwrite").parquet(s"$tmpRoot/aji")
      R.registerJoined(fact0, dim0, Seq("o_custkey" -> "c_custkey"),
        graft.sources.Pq.read(s, s"$tmpRoot/aji"), Seq("c_mktsegment"),
        Seq("o_orderkey"))
      R.deleteFiles(s, Seq(factSlices(2)), s"$tmpRoot/trash")
      requireRemoved(R.refreshStale(s, s"$tmpRoot/raji",
        trashDirs = Seq(s"$tmpRoot/trash")), "s2.parquet")
      val aji = requireRetracted(graft.sources.Pq.read(s, s"$tmpRoot/fact")
        .join(graft.sources.Pq.read(s, s"$tmpRoot/dim"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("sum_m"),
          min("o_orderkey").as("mn"), max("o_orderkey").as("mx"))
        .select(lit("aji").as("leg"), col("c_mktsegment").as("seg"),
          lit(null).cast("int").as("nk"), col("n_rows"), col("sum_m"),
          col("mn"), col("mx")), "refreshj", "aji leg")
      val ajiOut = materializeSmall(s, aji)
      R.clear() // isolate the star leg's registrations
      // ---- leg `star`: DIM-slice delete under lineitem ⋈ part ⋈ supplier
      tbl(s, dir, "lineitem").select("l_partkey", "l_suppkey", "l_orderkey")
        .write.mode("overwrite").parquet(s"$tmpRoot/sfact")
      tbl(s, dir, "part").select("p_partkey", "p_brand")
        .write.mode("overwrite").parquet(s"$tmpRoot/d1")
      val suppMap = writeNamedSlices(
        tbl(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
        col("s_suppkey") % 5,
        s"$tmpRoot/d2", (0 until 5).map(sl => sl -> s"c$sl").toMap)
      val suppSlices = (0 until 5).map(suppMap)
      val sfact = graft.sources.Pq.read(s, s"$tmpRoot/sfact")
      def dims = Seq(
        graft.sources.Pq.read(s, s"$tmpRoot/d1") -> Seq("l_partkey" -> "p_partkey"),
        graft.sources.Pq.read(s, s"$tmpRoot/d2") -> Seq("l_suppkey" -> "s_suppkey"))
      graft.plan.Rollup.materializeStar(sfact, dims, Seq("s_nationkey"),
          Seq("l_orderkey"))
        .write.mode("overwrite").parquet(s"$tmpRoot/star")
      R.registerStar(sfact, dims, graft.sources.Pq.read(s, s"$tmpRoot/star"),
        Seq("s_nationkey"), Seq("l_orderkey"))
      R.deleteFiles(s, Seq(suppSlices(2)), s"$tmpRoot/trash")
      requireRemoved(R.refreshStale(s, s"$tmpRoot/rstar",
        trashDirs = Seq(s"$tmpRoot/trash")), "c2.parquet")
      val star = requireRetracted(graft.sources.Pq.read(s, s"$tmpRoot/sfact")
        .join(graft.sources.Pq.read(s, s"$tmpRoot/d1"),
          col("l_partkey") === col("p_partkey"))
        .join(graft.sources.Pq.read(s, s"$tmpRoot/d2"),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_rows"), sum("l_orderkey").as("sum_m"),
          min("l_orderkey").as("mn"), max("l_orderkey").as("mx"))
        .select(lit("star").as("leg"), lit(null).cast("string").as("seg"),
          col("s_nationkey").as("nk"), col("n_rows"), col("sum_m"),
          col("mn"), col("mx")), "refreshs", "star leg")
      materializeAndCleanup(s, ajiOut.unionByName(star), tmpRoot)
    } finally {
      R.disable(s); R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** COMPUTED-DIMENSION GRAINS THROUGH THE JOINED AND STAR TIERS (r13 —
    * the q191 device at AJI/star width; the most common BI dashboard is
    * a month() × dimension-attribute grid over a star join, and until
    * now only the PLAIN tier could store an expression grain): an AJI
    * over `orders ⋈ customer` grained by (month(o_orderdate),
    * c_mktsegment) — the month is an EXPRESSION over the fact side,
    * snapshotted as an optimizer-normalized shape over the JOIN output —
    * serves the raw join-aggregate join-free (leg `grp`), a WHERE
    * month(...)=3 filter leg (`mar`, the inferred isnotnull dropping via
    * null-intolerance), and a fact-append delta refresh folded through
    * the RE-PARSED grain SQL (leg `ref`, delta file pinned); a star
    * summary over `lineitem ⋈ part ⋈ supplier` grained by
    * (month(l_shipdate), s_nationkey) serves its computed-grain star
    * aggregate the same way (leg `star`). Every leg plan-required on its
    * summary with ZERO Join nodes. Integer measures; DuckDB month() is
    * BIGINT → CAST to INT. */
  def q218ExprGrainJoined(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    val R = graft.plan.RollupRewrite
    val tmpRoot = java.nio.file.Files.createTempDirectory("q218_exprjoin")
      .toFile.getAbsolutePath
    def requireOn(df: DataFrame, tag: String, name: String): DataFrame = {
      val scans = R.scanRootPaths(df)
      require(scans.nonEmpty && scans.forall(_.contains(tag)),
        s"$name must serve from its summary alone — $scans")
      require(df.queryExecution.optimizedPlan.collect {
          case j: LJoin => j }.isEmpty,
        s"$name must contain NO serve-time join")
      df
    }
    val nullI = lit(null).cast("int")
    val nullS = lit(null).cast("string")
    R.enable(s)
    try {
      // ---- AJI: (month(o_orderdate), c_mktsegment) over orders ⋈ customer
      writeNamedSlices(
        tbl(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate"),
        col("o_orderkey") % 4,
        s"$tmpRoot/fact", (0 until 3).map(sl => sl -> s"s$sl").toMap)
      tbl(s, dir, "customer").select("c_custkey", "c_mktsegment")
        .write.mode("overwrite").parquet(s"$tmpRoot/dim")
      val dim = graft.sources.Pq.read(s, s"$tmpRoot/dim")
      def fact = graft.sources.Pq.read(s, s"$tmpRoot/fact")
      def joined = fact.join(dim, col("o_custkey") === col("c_custkey"))
      graft.plan.Rollup.materializeExpr(joined,
          Seq("om" -> month(col("o_orderdate")),
            "c_mktsegment" -> col("c_mktsegment")), Seq("o_orderkey"))
        .write.mode("overwrite").parquet(s"$tmpRoot/aji")
      R.registerJoined(fact, dim, Seq("o_custkey" -> "c_custkey"),
        graft.sources.Pq.read(s, s"$tmpRoot/aji"), Seq("om", "c_mktsegment"),
        Seq("o_orderkey"),
        groupExprOf = Map("om" -> month(col("o_orderdate"))))
      def ajiAgg(leg: String) = joined
        .groupBy(month(col("o_orderdate")).as("om"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("sum_ok"),
          min("o_orderkey").as("mn"), max("o_orderkey").as("mx"))
        .select(lit(leg).as("leg"), col("om"),
          col("c_mktsegment").as("seg"), nullI.as("nk"), col("n_rows"),
          col("sum_ok"), col("mn"), col("mx"))
      val grp = requireOn(ajiAgg("grp"), "/aji", "grp leg")
      val mar = requireOn(joined.filter(month(col("o_orderdate")) === 3)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("sum_ok"),
          min("o_orderkey").as("mn"), max("o_orderkey").as("mx"))
        .select(lit("mar").as("leg"), lit(3).as("om"),
          col("c_mktsegment").as("seg"), nullI.as("nk"), col("n_rows"),
          col("sum_ok"), col("mn"), col("mx")), "/aji", "mar leg")
      val head = materializeSmall(s, grp.unionByName(mar))
      // fact append: the delta folds through the RE-PARSED grain SQL
      writeNamedSlice(tbl(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate")
        .filter(col("o_orderkey") % 4 === 3), s"$tmpRoot/fact", "s3")
      val rep = R.refreshStale(s, s"$tmpRoot/ref")
      require(rep.size == 1 && rep.head.refreshed &&
          rep.head.deltaFiles.map(p =>
            p.substring(p.lastIndexOf('/') + 1)) == Seq("s3.parquet"),
        s"the computed-grain AJI must delta-refresh from exactly s3: $rep")
      val ref = requireOn(ajiAgg("ref"), "refreshj", "ref leg")
      val refOut = materializeSmall(s, ref)
      R.clear() // isolate the star leg
      // ---- STAR: (month(l_shipdate), s_nationkey) over li ⋈ part ⋈ supp
      tbl(s, dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_orderkey", "l_shipdate")
        .write.mode("overwrite").parquet(s"$tmpRoot/sfact")
      tbl(s, dir, "part").select("p_partkey", "p_brand")
        .write.mode("overwrite").parquet(s"$tmpRoot/d1")
      tbl(s, dir, "supplier").select("s_suppkey", "s_nationkey")
        .write.mode("overwrite").parquet(s"$tmpRoot/d2")
      val sfact = graft.sources.Pq.read(s, s"$tmpRoot/sfact")
      val dims = Seq(
        graft.sources.Pq.read(s, s"$tmpRoot/d1") -> Seq("l_partkey" -> "p_partkey"),
        graft.sources.Pq.read(s, s"$tmpRoot/d2") -> Seq("l_suppkey" -> "s_suppkey"))
      def starJoin = sfact
        .join(dims(0)._1, col("l_partkey") === col("p_partkey"))
        .join(dims(1)._1, col("l_suppkey") === col("s_suppkey"))
      graft.plan.Rollup.materializeExpr(starJoin,
          Seq("om" -> month(col("l_shipdate")),
            "s_nationkey" -> col("s_nationkey")), Seq("l_orderkey"))
        .write.mode("overwrite").parquet(s"$tmpRoot/star")
      R.registerStar(sfact, dims, graft.sources.Pq.read(s, s"$tmpRoot/star"),
        Seq("om", "s_nationkey"), Seq("l_orderkey"),
        groupExprOf = Map("om" -> month(col("l_shipdate"))))
      val star = requireOn(starJoin
        .groupBy(month(col("l_shipdate")).as("om"), col("s_nationkey"))
        .agg(count(lit(1)).as("n_rows"), sum("l_orderkey").as("sum_ok"),
          min("l_orderkey").as("mn"), max("l_orderkey").as("mx"))
        .select(lit("star").as("leg"), col("om"), nullS.as("seg"),
          col("s_nationkey").as("nk"), col("n_rows"), col("sum_ok"),
          col("mn"), col("mx")), "/star", "star leg")
      materializeAndCleanup(s, head.unionByName(refOut).unionByName(star),
        tmpRoot)
    } finally {
      R.disable(s); R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** COMPUTED-DIMENSION grain serving ([[graft.plan.RollupRewrite]] —
    * VERDICT r10 #1, the optimizer tier's sharpest real-user edge): a
    * summary grained by `month(o_orderdate)` — a stored EXPRESSION value,
    * not a base column — serves aggregates written DIRECTLY against the
    * raw fact, both the `groupBy(month(...))` dashboard shape and a
    * `WHERE month(...) = 3` filter (whose inferred
    * `isnotnull(o_orderdate)` conjunct no grain can carry: the rule
    * drops it as implied by the served equality's null-intolerance).
    * Matching is by optimizer-normalized expression shape snapshotted at
    * register time through the same analyzer+optimizer the query side
    * goes through — so `month(CAST(o_orderdate AS DATE))` matches itself
    * and nothing else (a year() query is required in-gate to fall back
    * to the base). A third leg CUBEs over (month(...), status): the
    * analyzer's Expand sits on an aliasing Project, the rule resolves
    * each Expand position back to base-column form, and all four
    * grouping sets come from ONE scan of the two-dim summary — lattice
    * routing keeps the grouped/filtered legs on the COARSE om-only grain
    * (plan-required, path-disjointness asserted). Workload capture is
    * required to record the expression grain by its resolved SQL.
    * Oracle = base recompute incl. GROUP BY CUBE. 2dp float sums over
    * 2dp data (q165 regime: per-month sums ~2e9 carry ~5e-5 summation
    * noise, 100× under the 0.005 boundary distance). */
  def q191ExprGrain(s: SparkSession, dir: String): DataFrame = {
    val R = graft.plan.RollupRewrite
    val orders = tbl(s, dir, "orders")
    val basePaths = R.scanRootPaths(orders.select("o_orderkey"))
    val tmpRoot = java.nio.file.Files.createTempDirectory("q191_exprgrain")
      .toFile.getAbsolutePath
    graft.plan.Rollup.materializeExpr(orders,
        Seq("om" -> month(col("o_orderdate"))), Seq("o_totalprice"))
      .write.mode("overwrite").parquet(s"$tmpRoot/msum")
    R.register(orders, graft.sources.Pq.read(s, s"$tmpRoot/msum"), Seq("om"),
      Seq("o_totalprice"),
      groupExprOf = Map("om" -> month(col("o_orderdate"))))
    graft.plan.Rollup.materializeExpr(orders,
        Seq("om" -> month(col("o_orderdate")),
          "o_orderstatus" -> col("o_orderstatus")), Seq("o_totalprice"))
      .write.mode("overwrite").parquet(s"$tmpRoot/msum2")
    R.register(orders, graft.sources.Pq.read(s, s"$tmpRoot/msum2"),
      Seq("om", "o_orderstatus"), Seq("o_totalprice"),
      groupExprOf = Map("om" -> month(col("o_orderdate"))))
    R.enable(s)
    R.startWorkloadCapture()
    try {
      val nullStatus = lit(null).cast("string").as("status")
      val all = orders.groupBy(month(col("o_orderdate")).as("om"))
        .agg(count(lit(1)).as("n_rows"), sum("o_totalprice").as("__s"),
          min("o_totalprice").as("mn"), max("o_totalprice").as("mx"))
        .select(lit("all").as("leg"), col("om"), nullStatus, col("n_rows"),
          round(col("__s"), 2).as("sum_total"), col("mn"), col("mx"))
      val scansA = R.scanRootPaths(all)
      require(scansA.nonEmpty && scansA.forall(p =>
          p.contains("msum") && !p.contains("msum2")),
        s"month()-grouped raw-fact query must ride the COARSE om summary — scans $scansA")
      val mar = orders.filter(month(col("o_orderdate")) === 3)
        .agg(count(lit(1)).as("n_rows"), sum("o_totalprice").as("__s"),
          min("o_totalprice").as("mn"), max("o_totalprice").as("mx"))
        .select(lit("mar").as("leg"), lit(3).as("om"), nullStatus,
          col("n_rows"), round(col("__s"), 2).as("sum_total"),
          col("mn"), col("mx"))
      val scansM = R.scanRootPaths(mar)
      require(scansM.nonEmpty && scansM.forall(p =>
          p.contains("msum") && !p.contains("msum2")),
        s"grain-expression filter must ride the COARSE om summary — scans $scansM")
      // CUBE over the computed dim + status: all four grouping sets must
      // come from ONE scan of the two-dim (om, o_orderstatus) summary —
      // the om-only grain above cannot answer it (status missing)
      val cube = orders.cube(month(col("o_orderdate")).as("om"),
          col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"), sum("o_totalprice").as("__s"),
          min("o_totalprice").as("mn"), max("o_totalprice").as("mx"))
        .select(lit("cube").as("leg"), col("om"),
          col("o_orderstatus").as("status"), col("n_rows"),
          round(col("__s"), 2).as("sum_total"), col("mn"), col("mx"))
      val scansC = R.scanRootPaths(cube)
      require(scansC.nonEmpty && scansC.forall(_.contains("msum2")),
        s"computed-dim cube must ride the two-dim summary — scans $scansC")
      // a DIFFERENT expression over the same column must fall back
      val other = orders.groupBy(year(col("o_orderdate")).as("oy"))
        .agg(count(lit(1)).as("n"))
      require(R.scanRootPaths(other).exists(p => !p.contains("msum")),
        "year() must not match the month() grain")
      R.stopWorkloadCapture()
      val captured = R.capturedWorkload(basePaths)
      require(captured.exists(g => g.size == 1 && g.head.startsWith("month(")),
        s"workload capture must record the expression grain: $captured")
      materializeAndCleanup(s, all.unionByName(mar).unionByName(cube), tmpRoot)
    } finally {
      R.resetWorkloadCapture(); R.disable(s); R.clear()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** SELF-TUNING summary selection ([[graft.plan.RollupRewrite]]
    * workload capture → [[graft.plan.LatticeAdvisor]] — the full loop a
    * production lattice runs: observe cold traffic with NOTHING
    * registered, design the lattice from what was actually asked,
    * materialize, and serve). Six traffic queries run under capture —
    * grouped, filtered, and measure-bearing variants land five distinct
    * grains; an expression-grouped query (upper(status)) captures under
    * its resolved SQL (VERDICT r10 #1) and is filtered to the advisor's
    * plain candidate dims — then the advisor runs on the plain CAPTURED
    * workload (required equal to the intended five, the expression grain
    * required present), the advised grains register, and the
    * filtered traffic query re-runs plan-REQUIRED to ride an advised
    * summary with base-equal answers. The captured workload equals
    * q185's literal one by construction, so the oracle is the SAME
    * shared unrolled-greedy generator — the hash gate proves capture
    * fed the advisor exactly the intended grains. */
  def q187WorkloadTuning(s: SparkSession, dir: String): DataFrame = {
    val LA = graft.plan.LatticeAdvisor
    val R = graft.plan.RollupRewrite
    val orders = tbl(s, dir, "orders")
    val tmpRoot = java.nio.file.Files.createTempDirectory("q187_tuning")
      .toFile.getAbsolutePath
    orders.select(col("o_orderstatus").as("status"),
        col("o_orderpriority").as("priority"),
        month(col("o_orderdate")).cast("int").as("month"),
        col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$tmpRoot/base")
    val base2 = graft.sources.Pq.read(s, s"$tmpRoot/base")
    val dims = Seq("status" -> col("status"), "priority" -> col("priority"),
      "month" -> col("month"))
    R.enable(s)
    R.startWorkloadCapture()
    try {
      // observed traffic (nothing registered yet — the bootstrap case)
      base2.groupBy("status").agg(count(lit(1))).collect()
      base2.groupBy("status", "month").agg(sum("o_totalprice")).collect()
      base2.groupBy("priority").agg(min("o_totalprice")).collect()
      base2.filter(col("status") === "F").groupBy("month")
        .agg(count(lit(1))).collect()
      base2.groupBy("status", "priority").agg(max("o_totalprice")).collect()
      base2.groupBy(upper(col("status"))).agg(count(lit(1))).collect()
      R.stopWorkloadCapture()
      val capturedAll = R.capturedWorkload(R.scanRootPaths(base2))
      // expression-grouped traffic captures under its resolved SQL
      // (VERDICT r10 #1); the advisor's candidate space here is the
      // plain dims, so only grains within it feed the greedy — keeping
      // the oracle identical to q185's shared replay
      require(capturedAll.toSet == Set(Set("status"), Set("status", "month"),
        Set("priority"), Set("month"), Set("status", "priority"),
        Set("upper(status)")),
        s"captured workload diverged from traffic: $capturedAll")
      val captured = capturedAll.filter(_.subsetOf(dims.map(_._1).toSet))
      val advice = LA.advise(base2, dims, captured, k = 3)
      require(advice.forall(_.benefit > 0),
        s"zero-benefit advice round is oracle-ambiguous: $advice")
      advice.filter(_.grain.nonEmpty).foreach { a =>
        val p = s"$tmpRoot/${a.grain.mkString("_")}"
        graft.plan.Rollup.materialize(base2, a.grain, Seq("o_totalprice"))
          .write.mode("overwrite").parquet(p)
        R.register(base2, graft.sources.Pq.read(s, p), a.grain, Seq("o_totalprice"))
      }
      val served = base2.filter(col("status") === "F").groupBy("month")
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
      val scans = R.scanRootPaths(served)
      require(scans.nonEmpty && scans.forall(p =>
          p.contains(tmpRoot) && !p.contains(s"$tmpRoot/base")),
        s"captured-traffic query must ride an advised summary — plan scans $scans")
      val got = served.collect().map(_.toSeq).toSet
      R.disable(s)
      val expect = base2.filter(col("status") === "F").groupBy("month")
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
        .collect().map(_.toSeq).toSet
      require(got == expect, "advised-summary answers diverge from the base")
      import s.implicits._
      materializeAndCleanup(s,
        advice.map(a => (a.step, LA.grainName(a.grain), a.rows, a.benefit))
          .toDF("step", "grain", "grain_rows", "benefit"), tmpRoot)
    } finally {
      R.resetWorkloadCapture(); R.disable(s); R.clear()
      // success already cleaned via materializeAndCleanup — this only
      // reclaims the temp tree when an in-query require threw
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  /** STREAMING ingestion committing SNAPSHOT VERSIONS per micro-batch —
    * q151's chained-arrival streaming device composed with the q162
    * versioned tier: three mtime-ordered single-file arrivals drain
    * through `foreachBatch` under maxFilesPerTrigger=1, and each batch
    * commits ONE [[graft.curate.Bm25Versioned]] append (v2, v3, v4 on
    * top of the v1 base init) — streaming ingest with serving isolation
    * AND time travel over the stream's history: after the stream
    * completes, ONE external query set serves against v2 (as of the
    * first arrival) and v4 (final). Versions are arrival-ordered
    * because the file source processes oldest-mtime-first and
    * foreachBatch runs batches sequentially (single-writer maintenance
    * holds). Oracle = the shared bm25VersionCtes generator with each
    * version's corpus predicate; v2's margins probed by
    * tools/probe_stream_versions.py (v4 = the full corpus = q96's
    * probed surface). */
  def q186StreamVersionedIngest(s: SparkSession, dir: String): DataFrame = {
    val B = graft.curate.Bm25
    val V = graft.curate.Bm25Versioned
    val root = java.nio.file.Files.createTempDirectory("q186_streamv")
      .toFile.getAbsolutePath
    try { // reclaim the temp tree if an in-query require throws
    val in = s"$root/arrivals"
    new java.io.File(in).mkdirs()
    val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
    val base = System.currentTimeMillis() - 3600000L
    (1 to 3).foreach { i =>
      val stage = s"$root/stage/$i"
      docs.filter(col("doc_id") % 4 === i).coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file under $stage"))
      val dst = new java.io.File(s"$in/slice$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      require(dst.setLastModified(base + i * 60000L), s"cannot set mtime on $dst")
    }
    V.init(s, s"$root/idx", docs.filter(col("doc_id") % 4 === 0),
      "doc_id", "text")
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    val stream = ss.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    graft.streaming.Streaming.forEachBatch(stream,
      graft.streaming.Streaming.ForEachBatchOptions(availableNow = true,
        checkpointLocation = Some(s"$root/ckpt"))) { (batch, _) =>
      V.append(ss, s"$root/idx", batch, "doc_id", "text"); ()
    }.awaitTermination()
    require(graft.sources.VersionedPool.currentVersion(s, s"$root/idx") == 4,
      "three arrivals must have committed versions 2..4")
    val queries = docs
      .filter(col("doc_id") % 125 === 3 && size(T.tokens(col("text"))) > 0)
      .select(col("doc_id").as("qid"),
        concat_ws(" ", slice(T.tokens(col("text")), 1, 5)).as("qtext"))
    // PER-VERSION serving grains, each probed: v2's corpus drew a raw
    // score 4.2e-11 off a 4dp boundary at sf0.1 (the q182 lesson) so v2
    // serves on the 1e-3 grid (clears by 3.1e-8 absolute); v4 = the
    // full corpus, whose 4dp surface is q96's own healthy regime
    // (7.3e-6) — and whose 3dp surface is NOT (3.8e-7, probed both
    // ways). The grain is a per-index serving choice, not a constant.
    val early = B.topKAgainstIncIndex(V.load(s, s"$root/idx", Some(2)),
      queries, "qid", "qtext", k = 5, scoreDecimals = 3)
      .withColumn("version", lit(2))
    val fin = B.topKAgainstIncIndex(V.load(s, s"$root/idx", Some(4)),
      queries, "qid", "qtext", k = 5, scoreDecimals = 4)
      .withColumn("version", lit(4))
    materializeAndCleanup(s, early.unionByName(fin)
      .select(col("version"), col("qid"), col("rank"), col("doc_id"),
        col("score")), root)
    } catch { case e: Throwable =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      throw e
    }
  }

  /** Unrolled HRU-greedy replay for q185 (candidate cardinalities
    * computed IN DuckDB; the answerability matrix and the greedy's k
    * rounds generated — the q129 device; pick ties break identically to
    * the Scala greedy: benefit DESC, ncols ASC, name ASC). */
  private def latticeAdvisorOracle(k: Int,
                                   approxK: Option[Int] = None): String = {
    val dims = Seq("status" -> "o_orderstatus", "priority" -> "o_orderpriority",
      "month" -> "month(o_orderdate)")
    val workload = Seq(Set("status"), Set("status", "month"),
      Set("priority"), Set("month"), Set("status", "priority"))
    val names = dims.map(_._1)
    def grainOf(mask: Int) = names.zipWithIndex.collect {
      case (n, i) if (mask & (1 << i)) != 0 => n }
    def nameOf(mask: Int) = { val g = grainOf(mask); if (g.isEmpty) "<apex>" else g.mkString(",") }
    val cands = (0 until (1 << dims.size)).map { m =>
      val exprs = dims.zipWithIndex.collect { case ((_, e), i) if (m & (1 << i)) != 0 => e }
      val rows =
        if (m == 0) "1::BIGINT"
        else approxK match {
          case None =>
            s"(SELECT count(*) FROM (SELECT DISTINCT ${exprs.mkString(", ")} FROM orders))"
          case Some(kk) =>
            // the q69 KMV estimator over the candidate TUPLE hash,
            // floor'd to BIGINT — identical md5s/kth-min/IEEE ops both
            // engines, so the estimate replays exactly
            val tuple = exprs
              .map(e => s"coalesce(CAST($e AS VARCHAR), chr(1))")
              .mkString(", chr(31), ")
            s"""(SELECT CASE WHEN count(*) < $kk THEN count(*)
               |   ELSE CAST(floor(${kk - 1}.0 * 1152921504606846976.0 / CAST(max(v) AS DOUBLE)) AS BIGINT) END
               |  FROM (SELECT v FROM (SELECT DISTINCT CAST(concat('0x', substr(md5(concat($tuple)), 1, 15)) AS BIGINT) AS v
               |    FROM orders) ORDER BY v LIMIT $kk))""".stripMargin
        }
      s"SELECT '${nameOf(m)}' AS v, ${grainOf(m).size} AS ncols, $rows AS vrows"
    }
    val qNames = workload.map(q => names.filter(q).mkString(","))
    val ansPairs = for {
      q <- workload; m <- 0 until (1 << dims.size)
      if q.subsetOf(grainOf(m).toSet)
    } yield s"('${names.filter(q).mkString(",")}', '${nameOf(m)}')"
    val b = new StringBuilder
    b ++= "WITH cand AS MATERIALIZED (\n  " + cands.mkString("\n  UNION ALL ") + "),\n"
    b ++= "ans AS MATERIALIZED (SELECT * FROM (VALUES " +
      ansPairs.mkString(", ") + ") t(q, v)),\n"
    b ++= "c0 AS MATERIALIZED (SELECT q, (SELECT count(*) FROM orders)::BIGINT AS cost FROM (VALUES " +
      qNames.map(q => s"('$q')").mkString(", ") + ") t(q)),\n"
    b ++= "sel0 AS MATERIALIZED (SELECT 0 AS step, '' AS v, 0::BIGINT AS vrows, 0::BIGINT AS ben WHERE 1=0)"
    for (i <- 1 to k) {
      b ++= s",\nb$i AS MATERIALIZED (\n" +
        "  SELECT cd.v, cd.ncols, cd.vrows, sum(greatest(c.cost - cd.vrows, 0)) AS ben\n" +
        s"  FROM cand cd JOIN ans a ON a.v = cd.v JOIN c${i - 1} c ON c.q = a.q\n" +
        s"  WHERE cd.v NOT IN (SELECT v FROM sel${i - 1})\n" +
        "  GROUP BY 1, 2, 3),\n"
      b ++= s"pick$i AS MATERIALIZED (\n" +
        s"  SELECT v, vrows, CAST(ben AS BIGINT) AS ben FROM b$i\n" +
        "  ORDER BY ben DESC, ncols ASC, v ASC LIMIT 1),\n"
      b ++= s"sel$i AS MATERIALIZED (\n" +
        s"  SELECT * FROM sel${i - 1} UNION ALL" +
        s" SELECT $i AS step, v, vrows, ben FROM pick$i),\n"
      b ++= s"c$i AS MATERIALIZED (\n" +
        "  SELECT c.q, coalesce(least(c.cost, x.vrows), c.cost) AS cost\n" +
        s"  FROM c${i - 1} c LEFT JOIN (SELECT a.q, p.vrows FROM ans a" +
        s" JOIN pick$i p ON a.v = p.v) x ON x.q = c.q)"
    }
    b ++= s"\nSELECT step, v AS grain, vrows AS grain_rows, ben AS benefit FROM sel$k"
    b.toString
  }

  /** One version's q106-style phrase replay CTEs, suffixed (the q162
    * multi-version device): overlapping-start counts for the two fixed
    * phrases over the version's corpus predicate. */
  private def phraseHitCtes(suf: String, pred: String): String =
    raw"""tok$suf AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      |  FROM documents WHERE length(trim(text)) > 0$pred),
      |h${suf}a AS (SELECT 'fast table' AS phrase, doc_id,
      |  len(list_filter(range(1, len(t)), i -> t[i] = 'fast' AND t[i+1] = 'table')) AS n_occurrences
      | FROM tok$suf),
      |h${suf}b AS (SELECT 'data stream batch' AS phrase, doc_id,
      |  len(list_filter(range(1, len(t) - 1), i -> t[i] = 'data' AND t[i+1] = 'stream' AND t[i+2] = 'batch')) AS n_occurrences
      | FROM tok$suf)""".stripMargin

  /** Unrolled training replay for q183: epoch CTE quadruple
    * s{i} (exact integer micro-unit scores on the train slice) →
    * r{i} (per-doc re-quantized sigmoid residuals) → u{i} (exact BIGINT
    * gradient) → w{i} (truncating-div update). MATERIALIZED everywhere — the
    * w{i} chain re-references w{i-1} and DuckDB would re-expand plain
    * CTEs. HUGEINT intrusion points (sum(), `//` result) cast back at
    * the final projection. */
  private def qfOracle(buckets: Int, biasValue: Int, epochs: Int,
                       lrScale: Int): String =
    qfOracleChain(buckets, biasValue, epochs, lrScale) +
      "\nSELECT l.doc_id, l.y AS label," +
      " CAST(sum(f.cnt * w.w) AS BIGINT) AS score_micro,\n" +
      "  CASE WHEN sum(f.cnt * w.w) > 0 THEN 1 ELSE 0 END AS keep\n" +
      s"FROM ft f JOIN w$epochs w USING (bucket)" +
      " JOIN lb l ON f.doc_id = l.doc_id\nGROUP BY 1, 2"

  /** The WITH chain (d → lb → ft → trn → w0 → epoch quadruples ending
    * at w{epochs}) shared by q183's scoring oracle, q188's budgeted
    * selection, and q193's bigram held-out eval — never fork the
    * training math. `bigrams = true` replays
    * [[graft.curate.QualityFilter.hashedFeatures]]' bigram mode: the
    * gram list is toks ∪ space-joined consecutive pairs (none below 2
    * tokens), hashed with the same salt into the same bucket range. */
  private def qfOracleChain(buckets: Int, biasValue: Int, epochs: Int,
                            lrScale: Int, bigrams: Boolean = false,
                            adaptive: Option[(Int, Int, Int)] = None): String = {
    val b = new StringBuilder
    b ++= "WITH d AS MATERIALIZED (\n" +
      raw"  SELECT doc_id, string_split_regex(trim(text),'\s+') AS toks" + "\n" +
      "  FROM documents WHERE length(trim(text)) > 0),\n"
    b ++= "lb AS MATERIALIZED (\n" +
      "  SELECT doc_id, CASE WHEN 2*len(toks) +" +
      " 5*len(list_filter(toks, t -> t = 'batch')) >= 130" +
      " THEN 1 ELSE 0 END AS y FROM d),\n"
    val gramSrc =
      if (!bigrams) "SELECT doc_id, unnest(toks) AS term FROM d"
      else "SELECT doc_id, unnest(list_concat(toks,\n" +
        "    CASE WHEN len(toks) >= 2 THEN list_transform(range(1, len(toks))," +
        " x -> concat(toks[x], ' ', toks[x+1]))\n" +
        "    ELSE []::VARCHAR[] END)) AS term FROM d"
    adaptive match {
      case None =>
        b ++= "tf AS MATERIALIZED (\n" +
          "  SELECT doc_id, CAST(concat('0x', substr(md5(concat(term, ':qf'))," +
          s" 1, 15)) AS BIGINT) % $buckets AS bucket,\n" +
          "    CAST(count(*) AS BIGINT) AS cnt\n" +
          s"  FROM ($gramSrc) GROUP BY 1, 2),\n"
        b ++= "ft AS MATERIALIZED (SELECT * FROM tf UNION ALL" +
          s" SELECT doc_id, $buckets::BIGINT AS bucket," +
          s" $biasValue::BIGINT AS cnt FROM d),\n"
        b ++= "trn AS MATERIALIZED (SELECT doc_id, y FROM lb WHERE doc_id % 4 <> 1),\n"
        b ++= s"w0 AS MATERIALIZED (SELECT unnest(range(0, ${buckets + 1}))" +
          " AS bucket, 0::BIGINT AS w)"
      case Some((k, minB, maxB)) =>
        // VOCAB-ADAPTIVE replay (VERDICT r11 #4): derive the bucket count
        // exactly like QualityFilter.deriveBuckets — k smallest distinct
        // 60-bit md5 hashes (the q69 KMV device), floor of the one IEEE
        // division, then INTEGER comparisons against a power-of-two
        // ladder (no libm). nbuk cross-joins into every consumer.
        val ladder = Iterator.iterate(minB)(_ << 1).takeWhile(_ <= maxB)
          .map(p => s"($p)").mkString(", ")
        b ++= s"gr AS MATERIALIZED ($gramSrc),\n"
        b ++= "vh AS (SELECT DISTINCT" +
          " CAST(concat('0x', substr(md5(term), 1, 15)) AS BIGINT) AS h FROM gr),\n"
        b ++= "vr AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM vh),\n"
        b ++= s"kagg AS (SELECT count(*) AS cnt, max(h) AS kth FROM vr WHERE rn <= $k),\n"
        b ++= s"est AS (SELECT CASE WHEN cnt < $k THEN cnt\n" +
          s"    ELSE CAST(floor(${(k - 1).toDouble} * 1152921504606846976.0" +
          " / CAST(kth AS DOUBLE)) AS BIGINT) END AS e FROM kagg),\n"
        b ++= s"nbuk AS MATERIALIZED (SELECT min(p) AS nb FROM (VALUES $ladder)" +
          s" t(p), est WHERE p >= LEAST(e, $maxB)),\n"
        b ++= "tf AS MATERIALIZED (\n" +
          "  SELECT doc_id, CAST(concat('0x', substr(md5(concat(term, ':qf'))," +
          " 1, 15)) AS BIGINT) % nb AS bucket,\n" +
          "    CAST(count(*) AS BIGINT) AS cnt\n" +
          "  FROM gr, nbuk GROUP BY 1, 2),\n"
        b ++= "ft AS MATERIALIZED (SELECT * FROM tf UNION ALL" +
          " SELECT doc_id, nb::BIGINT AS bucket," +
          s" $biasValue::BIGINT AS cnt FROM d, nbuk),\n"
        b ++= "trn AS MATERIALIZED (SELECT doc_id, y FROM lb WHERE doc_id % 4 <> 1),\n"
        // the spine only needs buckets that OCCUR in ft: absent buckets
        // keep weight 0 forever and every consumer joins through ft
        b ++= "w0 AS MATERIALIZED (SELECT DISTINCT bucket, 0::BIGINT AS w FROM ft)"
    }
    for (i <- 1 to epochs) {
      b ++= s",\ns$i AS MATERIALIZED (SELECT f.doc_id, sum(f.cnt * w.w) AS s\n" +
        s"  FROM ft f JOIN w${i - 1} w USING (bucket)" +
        " JOIN trn t ON f.doc_id = t.doc_id GROUP BY 1),\n"
      b ++= s"r$i AS MATERIALIZED (SELECT t.doc_id,\n" +
        "    CAST(floor((t.y - 1.0/(1.0 + exp(-(s.s/1000000.0))))" +
        " * 1000000.0 + 0.5) AS BIGINT) AS r\n" +
        s"  FROM trn t JOIN s$i s USING (doc_id)),\n"
      b ++= s"u$i AS MATERIALIZED (SELECT f.bucket, sum(r.r * f.cnt) AS g\n" +
        s"  FROM r$i r JOIN ft f USING (doc_id) GROUP BY 1),\n"
      b ++= s"w$i AS MATERIALIZED (SELECT w.bucket,\n" +
        s"    CAST(w.w + coalesce(u.g, 0) //" +
        s" ($lrScale * (SELECT count(*) FROM trn) * $i) AS BIGINT) AS w\n" +
        s"  FROM w${i - 1} w LEFT JOIN u$i u USING (bucket))"
    }
    b.toString
  }

  /** Contamination FRACTION scoring ([[graft.dedup.Dedup
    * .contaminationFractions]] — the graded form of q42's membership
    * report, the GPT-3 appendix-C "dirty document" metric): per corpus
    * document, distinct 3-gram count, benchmark-hit count, and a dirty
    * flag at the 20% overlap threshold evaluated by INTEGER
    * cross-multiplication (n_hit·5 ≥ n_grams — no float ratio, so the
    * flag is engine-exact with no boundary probing needed). Same
    * eval-slice device as q42 (doc_id % 50 = 0 is the benchmark). */
  def q174ContaminationFrac(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    Dedup.contaminationFractions(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0),
        "doc_id", "text", n = 3, pctNum = 1, pctDen = 5)
      .select(col("id").as("doc_id"), col("n_grams"), col("n_hit"), col("dirty"))
  }

  /** The LINEAR fact variant ([[graft.jobs.BankJobs
    * .factDailyTransactionLinear]]): q27's business answer without the
    * reference's cust_id-only fan-out join — one row per
    * (transaction_date, cust_id, acc_id), every join on its full
    * grouping key, the month average DECIMAL-exact. Same synthesized
    * bank-schema inputs as q27 (orders %10 as transactions, customer
    * mod-200 as accounts; payment/account type dims from the distinct
    * priority/segment values). */
  def q157FactLinear(s: SparkSession, dir: String): DataFrame = {
    val orders = tbl(s, dir, "orders")
    val customer = tbl(s, dir, "customer")
    val pm = orders.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey").as("trans_id"), col("o_custkey").as("acc_id"),
        col("o_totalprice").as("amount"),
        col("o_orderdate").cast("timestamp").as("transaction_time"),
        col("o_orderpriority").as("payment_code"))
    val ptype = orders.select(col("o_orderpriority")).distinct()
      .select(col("o_orderpriority").as("type_code"),
        col("o_orderpriority").as("type_nm"))
    val account = customer.select(col("c_custkey").as("acc_id"),
      pmod(col("c_custkey"), lit(200)).as("cust_id"),
      col("c_mktsegment").as("acc_type"))
    val atype = customer.select(col("c_mktsegment")).distinct()
      .select(col("c_mktsegment").as("type_id"), col("c_mktsegment").as("type_nm"))
    graft.jobs.BankJobs.factDailyTransactionLinear(s, pm, ptype, account, atype)
      .select(col("date_key"), col("cust_id"), col("acc_id"), col("account_type_name"),
        col("account_no_transactions_daily"),
        round(col("account_daily_spending"), 4).as("account_daily_spending"),
        round(col("account_accum_spending"), 4).as("account_accum_spending"),
        col("cust_no_transaction_daily"),
        round(col("cust_daily_spending"), 4).as("cust_daily_spending"),
        array_join(sort_array(col("cust_daily_payment_type")), "|").as("cust_daily_payment_type"),
        round(col("cust_accum_spending"), 4).as("cust_accum_spending"),
        round(col("cust_avgerage_daily_spending"), 4).as("cust_avgerage_daily_spending"))
  }

  /** q121's appended test string: decomposed Cafe+◌́ and nai+◌̈ve (which
    * NFC must compose) plus a precomposed é (which NFC must leave).
    * Explicit \\u escapes in a plain literal — the one place the
    * decomposed/precomposed distinction must be byte-exact in source. */
  private val NfcSuffix = " Cafe\u0301 nai\u0308ve caf\u00e9"

  // ================================================================ registry

  /** Gates whose operators return frames backed by tracked escaping
    * localCheckpoints (graph iterations, LSH candidate caches, index
    * builds, budgeted selection): [[sealQuery]] localizes their bounded
    * output and releases the blocks, so a full battery leaves ZERO
    * persisted RDDs (VERDICT r11 "What's wrong #1" done-bar). Keep in
    * sync with operators that call `Checkpoints.track`. */
  private val sealedGates = Set(
    "q21_ngram_jaccard", "q22_minhash_pairs", "q47_dup_clusters",
    "q54_cluster_survivors", "q64_bloom_decontaminate", "q73_pagerank",
    "q81_shortest_paths", "q96_bm25_topk", "q98_triangles",
    "q102_exact_jaccard", "q105_cluster_split", "q109_index_dedup",
    "q111_merge_clusters", "q117_stream_rollup_fold", "q131_retrieval_eval",
    "q141_bloom_semi_join", "q143_detector_agreement", "q147_hierarchy",
    "q150_bm25_stored_index", "q151_chained_ingest", "q152_bpe_merges",
    "q153_dsir_select", "q154_hybrid_rrf", "q155_bpe_accounting",
    "q156_hybrid_ann", "q158_inc_bm25", "q159_inc_bm25_delete",
    "q161_bpe_stored_tokenizer", "q162_versioned_index", "q168_semantic_ingest",
    "q176_stream_lattice", "q182_restartable_pipeline", "q186_stream_versioned",
    "q188_budgeted_filter", "q190_curriculum_pack")

  val all: Map[String, (SparkSession, String) => DataFrame] = rawAll.map {
    case (n, f) => n -> (if (sealedGates(n)) sealQuery(f) else f)
  }

  // package-visible so plan-shape specs can judge the REAL query plan —
  // the public `all` seals leak-prone gates into LocalRelations, whose
  // plans have nothing left to assert
  private[queries] lazy val rawAll: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (q01PricingSummary _),
    "q02_market_share" -> (q02MarketShare _),
    "q03_cum_window" -> (q03CumulativeSpend _),
    "q04_semi_join" -> (q04SemiJoin _),
    "q05_merge_upsert" -> (q05MergeUpsert _),
    "q06_union_choice" -> (q06UnionChoice _),
    "q07_subtract" -> (q07Subtract _),
    "q08_apply_mapping" -> (q08ApplyMapping _),
    "q09_split_rows" -> (q09SplitRows _),
    "q10_field_ops" -> (q10FieldOps _),
    "q11_unnest" -> (q11Unnest _),
    "q12_relationalize" -> (q12Relationalize _),
    "q13_unbox_json" -> (q13UnboxJson _),
    "q14_date_dim" -> (q14DateDim _),
    "q15_collect_set" -> (q15CollectSet _),
    "q16_month_join" -> (q16MonthJoin _),
    "q17_scd2_cols" -> (q17Scd2Cols _),
    "q18_event_rollup" -> (q18EventRollup _),
    "q19_text_stats" -> (q19TextStats _),
    "q20_exact_dedup" -> (q20ExactDedup _),
    "q21_ngram_jaccard" -> (q21NgramJaccard _),
    "q22_minhash_pairs" -> (q22MinhashPairs _),
    "q23_simhash_pairs" -> (q23SimhashPairs _),
    "q24_cosine_pairs" -> (q24CosinePairs _),
    "q25_lsh_topk" -> (q25LshTopK _),
    "q26_language_id" -> (q26LanguageId _),
    "q27_fact_snapshot" -> (q27FactSnapshot _),
    "q28_stream_rollup" -> (q28StreamRollup _),
    "q29_nest_unnest" -> (q29NestUnnest _),
    "q30_argmax" -> (q30Argmax _),
    "q31_text_quality" -> (q31TextQuality _),
    "q32_embedding_dedup" -> (q32EmbeddingDedup _),
    "q33_fingerprint" -> (q33Fingerprint _),
    "q34_ivf_topk" -> (q34IvfTopK _),
    "q35_drop_null_fields" -> (q35DropNullFields _),
    "q36_ddb_unnest" -> (q36DdbUnnest _),
    "q37_filter_rows" -> (q37FilterRows _),
    "q38_sessionize" -> (q38Sessionize _),
    "q39_salted_join" -> (q39SaltedJoin _),
    "q40_topk_per_group" -> (q40TopKPerGroup _),
    "q41_repetition" -> (q41Repetition _),
    "q42_decontaminate" -> (q42Decontaminate _),
    "q43_hash_split" -> (q43HashSplit _),
    "q44_tfidf" -> (q44Tfidf _),
    "q45_redact_pii" -> (q45RedactPii _),
    "q46_source_sketch" -> (q46SourceSketch _),
    "q47_dup_clusters" -> (q47DupClusters _),
    "q48_char_entropy" -> (q48CharEntropy _),
    "q49_bigram_lm" -> (q49BigramLm _),
    "q50_multimodal" -> (q50Multimodal _),
    "q51_dup_segments" -> (q51DupSegments _),
    "q52_chunk_tokens" -> (q52ChunkTokens _),
    "q53_unbox_avro" -> (q53UnboxAvro _),
    "q54_cluster_survivors" -> (q54ClusterSurvivors _),
    "q55_corpus_stats" -> (q55CorpusStats _),
    "q56_asof_join" -> (q56AsofJoin _),
    "q57_range_join" -> (q57RangeJoin _),
    "q58_rollup" -> (q58Rollup _),
    "q59_pivot" -> (q59Pivot _),
    "q60_unpivot" -> (q60Unpivot _),
    "q61_lag_delta" -> (q61LagDelta _),
    "q62_vocab_stats" -> (q62VocabStats _),
    "q63_heavy_hitters" -> (q63HeavyHitters _),
    "q64_bloom_decontaminate" -> (q64BloomDecontaminate _),
    "q65_weighted_mix" -> (q65WeightedMix _),
    "q66_pack_chunks" -> (q66PackChunks _),
    "q67_topk_heap" -> (q67TopkHeap _),
    "q68_semantic_prune" -> (q68SemanticPrune _),
    "q69_kmv_distinct" -> (q69KmvDistinct _),
    "q70_cube_agg" -> (q70CubeAgg _),
    "q71_rank_windows" -> (q71RankWindows _),
    "q72_intersect" -> (q72Intersect _),
    "q73_pagerank" -> (q73PageRank _),
    "q74_cms_estimate" -> (q74CmsEstimate _),
    "q75_zorder_stats" -> (q75ZorderStats _),
    "q76_stream_interval_join" -> (q76StreamIntervalJoin _),
    "q77_kmv_rollup" -> (q77KmvRollup _),
    "q78_profile" -> (q78Profile _),
    "q79_incremental_rollup" -> (q79IncrementalRollup _),
    "q80_hist_quantiles" -> (q80HistQuantiles _),
    "q81_shortest_paths" -> (q81ShortestPaths _),
    "q82_skew_analyze" -> (q82SkewAnalyze _),
    "q83_expectations" -> (q83Expectations _),
    "q84_match_catalog" -> (q84MatchCatalog _),
    "q85_cap_per_group" -> (q85CapPerGroup _),
    "q86_token_budget" -> (q86TokenBudget _),
    "q87_strip_segments" -> (q87StripSegments _),
    "q88_collapse_repeats" -> (q88CollapseRepeats _),
    "q89_vocab_coverage" -> (q89VocabCoverage _),
    "q90_fuzzy_join" -> (q90FuzzyJoin _),
    "q91_entity_resolve" -> (q91EntityResolve _),
    "q92_dup_spans" -> (q92DupSpans _),
    "q93_snapshot_diff" -> (q93SnapshotDiff _),
    "q94_stream_enrich" -> (q94StreamEnrich _),
    "q95_percentiles" -> (q95Percentiles _),
    "q96_bm25_topk" -> (q96Bm25TopK _),
    "q97_incremental_join" -> (q97IncrementalJoin _),
    "q98_triangles" -> (q98TriangleCounts _),
    "q99_funnel" -> (q99Funnel _),
    "q100_drift_psi" -> (q100DriftPsi _),
    "q101_multimodal_dims" -> (q101MultimodalDims _),
    "q102_exact_jaccard" -> (q102ExactJaccardJoin _),
    "q103_audio_meta" -> (q103AudioMeta _),
    "q104_session_window" -> (q104SessionWindow _),
    "q105_cluster_split" -> (q105ClusterSplit _),
    "q106_phrase_search" -> (q106PhraseSearch _),
    "q107_hopping_window" -> (q107HoppingWindow _),
    "q108_stream_dedup" -> (q108StreamDedup _),
    "q109_index_dedup" -> (q109IndexDedup _),
    "q110_rolling_window" -> (q110RollingWindow _),
    "q111_merge_clusters" -> (q111MergeClusters _),
    "q112_retract_rollup" -> (q112RetractRollup _),
    "q113_stratified_sample" -> (q113StratifiedSample _),
    "q114_scd2_merge" -> (q114Scd2Merge _),
    "q115_negative_samples" -> (q115NegativeSamples _),
    "q116_centroid_outliers" -> (q116CentroidOutliers _),
    "q117_stream_rollup_fold" -> (q117StreamRollupFold _),
    "q118_compact_roundtrip" -> (q118CompactRoundtrip _),
    "q119_int8_quant" -> (q119Int8Quant _),
    "q120_snapshot_time_travel" -> (q120SnapshotTimeTravel _),
    "q121_nfc_normalize" -> (q121NfcNormalize _),
    "q122_anomaly_threshold" -> (q122AnomalyThreshold _),
    "q123_event_transitions" -> (q123EventTransitions _),
    "q124_pruned_scan" -> (q124PrunedScan _),
    "q125_rolling_median" -> (q125RollingMedian _),
    "q126_k_anonymity" -> (q126KAnonymity _),
    "q127_fk_audit" -> (q127FkAudit _),
    "q128_audience_curve" -> (q128AudienceCurve _),
    "q129_mmr_diverse" -> (q129MmrDiverse _),
    "q130_resample_ffill" -> (q130ResampleFfill _),
    "q131_retrieval_eval" -> (q131RetrievalEval _),
    "q132_cdc_apply" -> (q132CdcApply _),
    "q133_feature_join" -> (q133FeatureJoin _),
    "q134_z_outliers" -> (q134ZOutliers _),
    "q135_session_paths" -> (q135SessionPaths _),
    "q136_trending" -> (q136Trending _),
    "q137_schema_drift" -> (q137SchemaDrift _),
    "q138_match_distribution" -> (q138MatchDistribution _),
    "q139_golden_records" -> (q139GoldenRecords _),
    "q140_stream_sessions" -> (q140StreamSessions _),
    "q141_bloom_semi_join" -> (q141BloomSemiJoin _),
    "q142_windowed_distinct" -> (q142WindowedDistinct _),
    "q143_detector_agreement" -> (q143DetectorAgreement _),
    "q144_weighted_median" -> (q144WeightedMedian _),
    "q145_cohort_retention" -> (q145CohortRetention _),
    "q146_winsorized_sum" -> (q146WinsorizedSum _),
    "q147_hierarchy" -> (q147Hierarchy _),
    "q148_curation_gate" -> (q148CurationGate _),
    "q149_match_proportions" -> (q149MatchProportions _),
    "q150_bm25_stored_index" -> (q150Bm25StoredIndex _),
    "q151_chained_ingest" -> (q151ChainedIngest _),
    "q152_bpe_merges" -> (q152BpeMerges _),
    "q153_dsir_select" -> (q153DsirSelect _),
    "q154_hybrid_rrf" -> (q154HybridRrf _),
    "q155_bpe_accounting" -> (q155BpeAccounting _),
    "q156_hybrid_ann" -> (q156HybridAnn _),
    "q157_fact_linear" -> (q157FactLinear _),
    "q158_inc_bm25" -> (q158IncBm25 _),
    "q159_inc_bm25_delete" -> (q159IncBm25Delete _),
    "q160_ivf_append" -> (q160IvfAppend _),
    "q161_bpe_stored_tokenizer" -> (q161BpeStoredTokenizer _),
    "q162_versioned_index" -> (q162VersionedIndex _),
    "q163_ivf_delete" -> (q163IvfDelete _),
    "q164_semantic_admit" -> (q164SemanticAdmit _),
    "q165_rollup_rewrite" -> (q165RollupRewrite _),
    "q166_rollup_merge" -> (q166RollupMerge _),
    "q167_ivf_versioned" -> (q167IvfVersioned _),
    "q168_semantic_ingest" -> (q168SemanticIngest _),
    "q169_rollup_lattice" -> (q169RollupLattice _),
    "q170_eager_agg" -> (q170EagerAgg _),
    "q171_sketch_rollup" -> (q171SketchRollup _),
    "q172_agg_navigation" -> (q172AggNavigation _),
    "q173_lattice_persist" -> (q173LatticePersist _),
    "q174_contamination_frac" -> (q174ContaminationFrac _),
    "q175_cube_summary" -> (q175CubeSummary _),
    "q176_stream_lattice" -> (q176StreamLattice _),
    "q177_sequence_pack" -> (q177SequencePack _),
    "q178_rollup_staleness" -> (q178RollupStaleness _),
    "q179_eager_outer" -> (q179EagerOuter _),
    "q180_distinct_grain" -> (q180DistinctGrain _),
    "q181_bfd_pack" -> (q181BfdPack _),
    "q182_restartable_pipeline" -> (q182RestartablePipeline _),
    "q183_quality_filter" -> (q183QualityFilter _),
    "q184_phrase_versioned" -> (q184PhraseVersioned _),
    "q185_lattice_advisor" -> (q185LatticeAdvisor _),
    "q186_stream_versioned" -> (q186StreamVersionedIngest _),
    "q187_workload_tuning" -> (q187WorkloadTuning _),
    "q188_budgeted_filter" -> (q188BudgetedFilter _),
    "q189_approx_advisor" -> (q189ApproxAdvisor _),
    "q190_curriculum_pack" -> (q190CurriculumPack _),
    "q191_expr_grain" -> (q191ExprGrain _),
    "q192_summary_refresh" -> (q192SummaryRefresh _),
    "q193_qf_holdout" -> (q193QfHoldout _),
    "q194_summary_retract" -> (q194SummaryRetract _),
    "q195_qf_adaptive" -> (q195QfAdaptive _),
    "q196_grain_range_filter" -> (q196GrainRangeFilter _),
    "q197_join_navigation" -> (q197JoinNavigation _),
    "q198_compensated_serve" -> (q198CompensatedServe _),
    "q199_compensated_cube_nav" -> (q199CompensatedCubeNav _),
    "q200_hist_rollup_serve" -> (q200HistRollupServe _),
    "q201_designed_lattice" -> (q201DesignedLattice _),
    "q202_designed_maintenance" -> (q202DesignedMaintenance _),
    "q203_joined_summary" -> (q203JoinedSummary _),
    "q204_joined_maintenance" -> (q204JoinedMaintenance _),
    "q205_joined_compensation" -> (q205JoinedCompensation _),
    "q206_joined_dim_append" -> (q206JoinedDimAppend _),
    "q207_joined_sketches" -> (q207JoinedSketches _),
    "q208_designed_joined" -> (q208DesignedJoined _),
    "q209_joined_persistence" -> (q209JoinedPersistence _),
    "q210_star_summary" -> (q210StarSummary _),
    "q211_designed_star" -> (q211DesignedStar _),
    "q212_star_dim_refresh" -> (q212StarDimRefresh _),
    "q213_decimal_summaries" -> (q213DecimalSummaries _),
    "q214_versioned_summary" -> (q214VersionedSummary _),
    "q215_cross_tier_design" -> (q215CrossTierDesign _),
    "q216_star_navigation" -> (q216StarNavigation _),
    "q217_joined_star_retract" -> (q217JoinedStarRetract _),
    "q218_expr_grain_joined" -> (q218ExprGrainJoined _),
    "q219_versioned_joined" -> (q219VersionedJoined _),
    "q220_versioned_star" -> (q220VersionedStar _),
    "q221_mixed_refresh" -> (q221MixedRefresh _),
    "q222_maint_aware_design" -> (q222MaintAwareDesign _),
    "q223_stream_joined" -> (q223StreamJoined _),
    "q224_nav_distinct" -> (q224NavDistinct _),
    "q225_versioned_mixed" -> (q225VersionedMixed _),
    "q226_cross_side_mixed" -> (q226CrossSideMixed _))

  /** DuckDB oracles. The one key missing here (q50) decodes binary media
    * pixels — not SQL-replayable (its deterministic dims projection IS
    * oracled as q101); EntrySpec pins that exact set. q22/q23/q33/q46 run
    * PORTABLE md5-based hashing, q25/q32 embed their plane matrices as
    * literals, and q34/q68 replay the deterministic quantized Ivf fit
    * (init + unrolled Lloyd rounds — tools/probe_ivf.py), so their
    * oracles replay the signature/centroid math bit-for-bit. */

  /** The MinHash permutation parameters as a DuckDB VALUES list — the SAME
    * SplitMix64-derived constants the kernels use, interpolated so oracle
    * and engine can never drift. */
  private def minhashParamValues(k: Int): String =
    (0 until k).map { i =>
      val (a, b) = graft.functions.expressions.SimilarityKernels.perm(i)
      s"($i,${a},${b})"
    }.mkString(", ")

  /** The hyperplane matrix [[graft.functions.expressions.SimilarityKernels
    * .planeComponent]] as a DuckDB VALUES list `(p, c, v)` — Scala's
    * `Double.toString` is the shortest round-trip repr, so DuckDB parses
    * each literal back to the bit-identical double. */
  private def planeValues(planes: Int, dim: Int): String =
    (for (p <- 0 until planes; c <- 0 until dim) yield
      s"($p,$c,${graft.functions.expressions.SimilarityKernels.planeComponent(p, c)})")
      .mkString(", ")

  /** Quantized squared distance between a vector's bigint grid components
    * and a centroid list — the exact expression both engines evaluate
    * (embedding dim is 64 across the testdata). */
  private val ivfD2 =
    "list_sum(list_transform(range(1,65), i -> (CAST(q[i] AS DOUBLE) - c[i])^2))"

  /** Ranked cell assignment against centroid CTE `cen`: emits
    * (vec_id, q, cell, rn) with rn ordered by quantized d² then cell id —
    * the tie rule [[graft.ann.NearestCellsExpr]]'s stable sort applies. */
  private def ivfRanked(cen: String, where: String = ""): String =
    s"""SELECT qv.vec_id, qv.q, $cen.cell,
       |   row_number() OVER (PARTITION BY qv.vec_id ORDER BY $ivfD2 ASC, $cen.cell ASC) AS rn
       |  FROM qv CROSS JOIN $cen $where""".stripMargin

  /** DuckDB replay of [[graft.ann.Ivf.fit]]'s deterministic quantized
    * KMeans over the embeddings table: 1e-6-grid quantization (exact
    * portable double op), init = `cells` distinct quantized vectors with
    * the smallest md5, then `iterations` unrolled Lloyd rounds of exact
    * integer sums (order-independent in both engines) with empty cells
    * keeping their previous centroid. Returns (CTE chain, name of the
    * final centroid CTE). The q73-style unrolled-iteration pattern. */
  private def ivfReplayCtes(cells: Int, iterations: Int,
                            fitPred: Option[String] = None): (String, String) = {
    // fitPred (a bare predicate over qv, e.g. "qv.vec_id % 4 <> 1")
    // restricts the FIT — init candidates and Lloyd assignment — to a
    // corpus slice, replaying [[graft.ann.Ivf.fit]] over a filtered
    // frame; `e`/`qv` stay full-corpus so later CTEs can still score
    // any vector. None (the default) reproduces the original SQL
    // byte-for-byte — q34/q68/q156/q160's probed oracles cannot drift.
    val fitWhere = fitPred.map(p => s" WHERE $p").getOrElse("")
    val fitRankedWhere = fitPred.map(p => s"WHERE $p").getOrElse("")
    val sb = new StringBuilder(
      s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL),
         |qv AS (SELECT vec_id, v, list_transform(v, x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS q FROM e),
         |hs AS (SELECT DISTINCT q, md5(array_to_string(q, ',')) AS h FROM qv$fitWhere),
         |c0 AS (SELECT CAST(row_number() OVER (ORDER BY h) - 1 AS INT) AS cell,
         |  list_transform(q, x -> CAST(x AS DOUBLE)) AS c
         | FROM (SELECT q, h FROM hs ORDER BY h LIMIT $cells))""".stripMargin)
    var prev = "c0"
    for (it <- 0 until iterations) {
      sb.append(s""",
         |a$it AS (SELECT vec_id, q, cell FROM (
         |  ${ivfRanked(prev, fitRankedWhere)}) WHERE rn = 1),
         |s$it AS (SELECT cell, i, sum(q[i]) AS s, count(*) AS cnt
         |  FROM a$it CROSS JOIN range(1,65) t(i) GROUP BY cell, i),
         |m$it AS (SELECT cell, list(CAST(s AS DOUBLE) / cnt ORDER BY i) AS c FROM s$it GROUP BY cell),
         |c${it + 1} AS (SELECT c0.cell, coalesce(m$it.c, prv.c) AS c
         |  FROM c0 LEFT JOIN m$it USING (cell) LEFT JOIN $prev prv USING (cell))""".stripMargin)
      prev = s"c${it + 1}"
    }
    (sb.toString, prev)
  }

  /** q156's ANN dense-retrieval replay chain — KMeans fit → full-corpus
    * assignment (`af`) → 4-probe query cells (`pr`, restricted to the
    * hybrid query set) → probed candidates → cosine ranks — ending in a
    * CTE `dn` = (qid, doc_id, rank). Shared VERBATIM by q156 (which fuses
    * `dn` with BM25) and q160 (whose stored-index append lifecycle must
    * serve exactly this dense list), so the two oracles cannot drift;
    * tools/probe_hybrid_ann.py's margins cover both. */
  private lazy val ivfDenseCtes: String = ivfDenseCtesWith("", "")

  /** The parameterized form of [[ivfDenseCtes]] — q163 folds its deletion
    * predicate into the candidate set (`candAnd`, over `af`) and the
    * query set (`queryAnd`, over `documents.doc_id`); ("", "") is the
    * q156/q160 chain byte-for-byte, so the three gates share one
    * generator and cannot drift. */
  private def ivfDenseCtesWith(candAnd: String, queryAnd: String): String = {
    val (ctes, fin) = ivfReplayCtes(16, 2)
    s"""$ctes,
      |af AS (SELECT vec_id, cell FROM (
      |  ${ivfRanked(fin)}) WHERE rn = 1),
      |pr AS (SELECT vec_id, cell FROM (
      |  ${ivfRanked(fin,
           s"""WHERE qv.vec_id IN (SELECT doc_id FROM documents
             |    WHERE doc_id % 125 = 3 AND length(trim(text)) > 0$queryAnd)""".stripMargin)}) WHERE rn <= 4),
      |cand AS (SELECT DISTINCT pr.vec_id AS qid, af.vec_id AS nid
      | FROM pr JOIN af USING (cell) WHERE af.vec_id <> pr.vec_id$candAnd),
      |dnscored AS (SELECT qid, nid, list_cosine_similarity(a.v, b.v) AS cos
      | FROM cand JOIN e a ON a.vec_id = cand.qid JOIN e b ON b.vec_id = cand.nid),
      |dn AS (SELECT qid, nid AS doc_id,
      |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
      | FROM dnscored)""".stripMargin
  }

  /** q155's oracle — q152's learned vocabulary projected to per-word
    * symbol counts and joined back onto word instances per source (see
    * the q155 scaladoc). Shared with q161: serving token accounting from
    * a RELOADED merge artifact must be output-identical to the in-memory
    * path, so the stored-tokenizer gate replays the SAME SQL. */
  private lazy val bpeAccountingSql: String =
    s"""WITH ${bpeCtes(8)},
      |len8 AS (SELECT word, len(string_split(substr(repr, 2, length(repr)-2),
      |    chr(29)||chr(29))) AS n FROM r8),
      |ws AS (SELECT source, unnest(CASE WHEN length(trim(text)) = 0 THEN []
      |    ELSE regexp_split_to_array(trim(text), '\\s+') END) AS word
      |  FROM documents)
      |SELECT source, CAST(sum(l.n) AS BIGINT) AS bpe_tokens,
      |  CAST(count(*) AS BIGINT) AS words
      |FROM ws JOIN len8 l USING (word) GROUP BY source""".stripMargin

  /** Shared DuckDB CTE fragment: per-`key` portable MinHash signatures of
    * the documents table (word 3-shingles, k=64, md5-60 base hash mod
    * 2^31-1). Replays [[graft.functions.expressions.MinHashSignatureExpr]]
    * with `portable = true` exactly, including the whole-text shingle for
    * docs under 3 tokens. */
  private def portableSigCtes(key: String): String =
    s"""params(i, a, b) AS (VALUES ${minhashParamValues(64)}),
       |tok AS (SELECT $key, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
       |shg AS (SELECT $key, unnest(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
       |  ELSE list_transform(range(1, len(t) - 1), x -> concat(t[x], ' ', t[x+1], ' ', t[x+2])) END) AS s
       | FROM tok),
       |hs AS (SELECT DISTINCT $key,
       |  CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % 2147483647 AS hm FROM shg),
       |mins AS (SELECT $key, i, min((a * hm + b) % 2147483647) AS m
       | FROM hs CROSS JOIN params GROUP BY 1, 2),
       |sig AS (SELECT $key, list(m ORDER BY i) AS sig FROM mins GROUP BY 1)""".stripMargin

  /** Full-corpus CC over the ≥0.9-Jaccard pair graph — q47's oracle, and
    * verbatim q111's: incremental maintenance must equal the full
    * recompute. */
  private val fullCcOracle: String =
    """WITH RECURSIVE sh AS (
      | SELECT doc_id, list_distinct(list_transform(
      |   generate_series(1, len(string_split_regex(trim(text),'\s+')) - 2),
      |   i -> array_to_string((string_split_regex(trim(text),'\s+'))[i:i+2], ' '))) AS s
      | FROM documents),
      |jp AS (
      | SELECT a.doc_id AS id_a, b.doc_id AS id_b
      | FROM sh a, sh b
      | WHERE a.doc_id < b.doc_id
      |  AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |    / len(list_distinct(list_concat(a.s, b.s))) >= 0.9),
      |p AS (SELECT id_a AS src, id_b AS dst FROM jp UNION ALL SELECT id_b, id_a FROM jp),
      |nodes AS (SELECT DISTINCT src AS id FROM p),
      |reach AS (
      | SELECT id, id AS root FROM nodes
      | UNION
      | SELECT p.dst AS id, r.root FROM reach r JOIN p ON p.src = r.id
      |)
      |SELECT id AS doc_id, min(root) AS cluster_id FROM reach GROUP BY id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),4) AS sum_qty,
        | round(sum(l_extendedprice),4) AS sum_base_price,
        | round(sum(l_extendedprice*(1-l_discount)),4) AS sum_disc_price,
        | round(avg(l_quantity),4) AS avg_qty, round(avg(l_discount),4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q02_market_share" ->
      """SELECT r_name, n_name, count(*) AS n_orders, round(sum(o_totalprice),4) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "q03_cum_window" ->
      """SELECT o_orderkey, o_custkey, o_orderdate,
        | round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate),4) AS cum_spend
        |FROM orders""".stripMargin,
    "q04_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin,
    "q05_merge_upsert" ->
      """SELECT o_orderkey, o_orderpriority FROM orders WHERE o_totalprice <= 150000
        |UNION ALL
        |SELECT o_orderkey, 'X-MERGED' AS o_orderpriority FROM orders WHERE o_totalprice > 150000""".stripMargin,
    "q06_union_choice" ->
      """SELECT o_orderkey, count(*) AS n FROM (
        | SELECT o_orderkey FROM orders
        | UNION ALL SELECT o_orderkey FROM orders WHERE o_totalprice > 100000
        |) GROUP BY o_orderkey""".stripMargin,
    "q07_subtract" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT SELECT s_nationkey AS nationkey FROM supplier""".stripMargin,
    "q08_apply_mapping" ->
      """SELECT CAST(p_partkey AS VARCHAR) AS part_id, p_name AS part_name,
        | CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS DOUBLE) AS retail_price, CAST(p_size AS BIGINT) AS size_l
        |FROM part""".stripMargin,
    "q09_split_rows" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem
        |WHERE l_quantity > 30 AND l_discount <= 0.02""".stripMargin,
    "q10_field_ops" ->
      "SELECT n_nationkey, n_name AS nation_name FROM nation",
    "q11_unnest" ->
      """SELECT n_nationkey, n_name AS "info.name", n_regionkey AS "info.geo.rk" FROM nation""",
    "q12_relationalize" ->
      """SELECT o_custkey AS id,
        | CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) - 1 AS INT) AS index,
        | o_orderkey AS val
        |FROM orders""".stripMargin,
    "q13_unbox_json" ->
      "SELECT event_id, CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS k FROM events",
    "q14_date_dim" ->
      """SELECT CAST(g AS DATE) AS date, strftime(CAST(g AS DATE), '%Y%m%d') AS date_key,
        | strftime(CAST(g AS DATE), '%Y') AS year,
        | CAST(quarter(CAST(g AS DATE)) AS INT) AS quarter,
        | CAST(month(CAST(g AS DATE)) AS INT) AS month,
        | CAST(day(CAST(g AS DATE)) AS INT) AS day,
        | CAST(CAST(ceil((day(CAST(g AS DATE)) + isodow(date_trunc('month', CAST(g AS DATE))) - 1) / 7.0) AS INT) AS VARCHAR) AS week_of_month,
        | isodow(CAST(g AS DATE)) >= 6 AS is_weekend
        |FROM generate_series(DATE '2015-01-01', DATE '2024-12-31', INTERVAL 1 DAY) t(g)""".stripMargin,
    "q15_collect_set" ->
      """SELECT c_nationkey, array_to_string(list_sort(list(DISTINCT c_mktsegment)), '|') AS segments, count(*) AS n_cust
        |FROM customer GROUP BY c_nationkey""".stripMargin,
    // integer-arithmetic 4dp mean (see q16MonthJoin scaladoc): float avg
    // AND round(double) both diverge across engines at .00005 boundaries
    "q16_month_join" ->
      """WITH m AS (
        | SELECT CAST(month(o_orderdate) AS INT) AS mth, o_custkey,
        |  CAST((CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 10000 AS BIGINT) * 2
        |        + count(*)) // (2 * count(*)) AS DOUBLE) / 10000.0 AS avg_month_spend
        | FROM orders GROUP BY 1, 2)
        |SELECT o.o_orderkey, m.mth, m.avg_month_spend
        |FROM orders o JOIN m ON CAST(month(o.o_orderdate) AS INT) = m.mth AND o.o_custkey = m.o_custkey""".stripMargin,
    "q17_scd2_cols" ->
      """SELECT c_custkey, c_name, true AS is_active,
        | TIMESTAMP '2024-08-07 00:00:00' AS record_created_time,
        | DATE '3000-01-01' AS record_updated_time
        |FROM customer""".stripMargin,
    "q18_event_rollup" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        | count(*) AS n, round(sum(value),4) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q19_text_stats" ->
      """SELECT doc_id, length(text) AS len_chars,
        | CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
        | CASE WHEN length(trim(text)) = 0 THEN 0.0 ELSE
        |  round(CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x IN ('the','a'))) AS DOUBLE)
        |    / len(string_split_regex(trim(text), '\s+')), 4) END AS stop_ratio,
        | CASE WHEN length(trim(text)) = 0 THEN 0.0 ELSE
        |  round(CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'), x -> length(x))) AS DOUBLE)
        |    / len(string_split_regex(trim(text), '\s+')), 4) END AS mean_tok_len
        |FROM documents""".stripMargin,
    "q20_exact_dedup" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS dup_count
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "q21_ngram_jaccard" ->
      """WITH sh AS (
        | SELECT doc_id, list_distinct(list_transform(
        |   generate_series(1, len(string_split_regex(trim(text),'\s+')) - 2),
        |   i -> array_to_string((string_split_regex(trim(text),'\s+'))[i:i+2], ' '))) AS s
        | FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |   / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
        |FROM sh a, sh b
        |WHERE a.doc_id < b.doc_id
        | AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |   / len(list_distinct(list_concat(a.s, b.s))) >= 0.9""".stripMargin,
    // bit-for-bit replay of the portable MinHash-LSH pipeline: signatures
    // (shared CTE), 16 band hashes of 4 signature slots each (md5-60 of
    // "band_v1,v2,v3,v4"), bucket pairs, signature-agreement Jaccard.
    // est values are n/64 (exact binary fractions): round + >= behave
    // identically in both engines.
    "q22_minhash_pairs" -> minhashPairsSql,
    // portable 60-bit SimHash replay: md5-60 per token (duplicates vote),
    // per-bit majority → fingerprint, four 15-bit chunk bands propose,
    // exact Hamming verifies. Parenthesize every shift (DuckDB's | and &
    // bind tighter than <<).
    "q23_simhash_pairs" -> simhashPairsSql,
    "q24_cosine_pairs" ->
      """SELECT a.vec_id AS qid, b.vec_id AS nid,
        | round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS cos
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id % 20 = 0 AND a.vec_id < b.vec_id
        | AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) > 0.3""".stripMargin,
    "q26_language_id" ->
      """SELECT doc_id,
        | CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS lang_pred
        |FROM (
        | SELECT doc_id, list_aggregate([
        |   {'hits': len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','mit'))), 'lang': 'de'},
        |   {'hits': len(list_filter(toks, x -> x IN ('the','a','and','is','of','to','in','it'))), 'lang': 'en'},
        |   {'hits': len(list_filter(toks, x -> x IN ('el','la','los','las','es','y','un','una','con'))), 'lang': 'es'},
        |   {'hits': len(list_filter(toks, x -> x IN ('le','la','les','est','et','un','une','dans'))), 'lang': 'fr'},
        |   {'hits': len(list_filter(toks, x -> x IN ('的','是','了','在','和','有'))), 'lang': 'zh'}
        |  ], 'max') AS best
        | FROM (SELECT doc_id,
        |   CASE WHEN length(trim(text)) = 0 THEN [] ELSE string_split_regex(trim(lower(text)), '\s+') END AS toks
        |  FROM documents))""".stripMargin,
    "q27_fact_snapshot" ->
      """WITH pm AS (
        |  SELECT o_orderkey AS trans_id, o_custkey AS acc_id, o_totalprice AS amount,
        |         CAST(o_orderdate AS DATE) AS transaction_date, o_orderpriority AS type_nm
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |acct AS (
        |  SELECT c_custkey AS acc_id, c_custkey % 200 AS cust_id, c_mktsegment AS acc_type
        |  FROM customer),
        |cte_transaction_revenue AS (
        |  SELECT transaction_date, a.cust_id,
        |         count(trans_id) AS cust_no_transaction_daily,
        |         sum(amount) AS cust_daily_spending,
        |         list_sort(list(DISTINCT type_nm)) AS cust_daily_payment_type
        |  FROM pm JOIN acct a ON pm.acc_id = a.acc_id
        |  GROUP BY transaction_date, a.cust_id),
        |cte_cust_accum_revenue AS (
        |  SELECT cust_id,
        |         sum(cust_daily_spending) OVER (PARTITION BY cust_id ORDER BY transaction_date) AS cust_accum_spending
        |  FROM cte_transaction_revenue),
        |cte_account_payment_summary AS (
        |  SELECT pm.transaction_date, cust_id, a.acc_id, a.acc_type AS account_type_name,
        |         count(DISTINCT pm.trans_id) AS account_no_transactions_daily,
        |         sum(pm.amount) AS account_daily_spending
        |  FROM pm JOIN acct a ON pm.acc_id = a.acc_id
        |  GROUP BY pm.transaction_date, a.cust_id, a.acc_id, a.acc_type),
        |cte_account_accum_revenue AS (
        |  SELECT transaction_date, cust_id, acc_id, account_daily_spending,
        |         sum(account_daily_spending) OVER (PARTITION BY cust_id, acc_id ORDER BY transaction_date) AS account_accum_spending
        |  FROM cte_account_payment_summary),
        |cte_customer_avgerage_daily_spending AS (
        |  SELECT month(transaction_date) AS month, a.cust_id,
        |         CAST((CAST(sum(CAST(amount AS DECIMAL(18,2))) * 10000 AS BIGINT) * 2
        |               + count(*)) // (2 * count(*)) AS DOUBLE) / 10000.0 AS cust_avgerage_daily_spending
        |  FROM pm JOIN acct a ON pm.acc_id = a.acc_id
        |  GROUP BY month(transaction_date), a.cust_id)
        |SELECT strftime(a1.transaction_date, '%Y%m%d') AS date_key, a1.cust_id, a1.acc_id, a1.account_type_name,
        |       a1.account_no_transactions_daily,
        |       round(a1.account_daily_spending, 4) AS account_daily_spending,
        |       round(a2.account_accum_spending, 4) AS account_accum_spending,
        |       c1.cust_no_transaction_daily, round(c1.cust_daily_spending, 4) AS cust_daily_spending,
        |       array_to_string(c1.cust_daily_payment_type, '|') AS cust_daily_payment_type,
        |       round(c2.cust_accum_spending, 4) AS cust_accum_spending,
        |       round(c3.cust_avgerage_daily_spending, 4) AS cust_avgerage_daily_spending
        |FROM cte_account_payment_summary a1
        |  JOIN cte_account_accum_revenue a2 ON a1.transaction_date = a2.transaction_date AND a1.cust_id = a2.cust_id AND a1.acc_id = a2.acc_id
        |  JOIN cte_transaction_revenue c1 ON a1.transaction_date = c1.transaction_date AND a1.cust_id = c1.cust_id
        |  JOIN cte_cust_accum_revenue c2 ON c1.cust_id = c2.cust_id
        |  JOIN cte_customer_avgerage_daily_spending c3 ON c3.month = month(a1.transaction_date) AND c3.cust_id = a1.cust_id""".stripMargin,
    "q28_stream_rollup" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        | count(*) AS n, round(sum(value),4) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q29_nest_unnest" ->
      "SELECT n_regionkey, n_nationkey, n_name FROM nation",
    "q30_argmax" ->
      """SELECT o.o_custkey, o.o_orderdate, o.o_orderkey
        |FROM orders o JOIN (
        | SELECT o_custkey, max(o_orderdate) AS max_date FROM orders GROUP BY o_custkey
        |) t ON o.o_custkey = t.o_custkey AND o.o_orderdate = t.max_date""".stripMargin,
    "q31_text_quality" ->
      """WITH feats AS (
        | SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN [] ELSE string_split_regex(trim(text), '\s+') END AS toks,
        |  length(text) AS len,
        |  length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS punct
        | FROM documents)
        |SELECT doc_id,
        | round(
        |   least(len / 500.0, 1.0) * 0.4
        |   + (1.0 - least((CASE WHEN len = 0 THEN 0.0 ELSE CAST(punct AS DOUBLE) / len END) * 5.0, 1.0)) * 0.3
        |   + least((CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(list_filter(toks, x -> x IN ('the','a'))) AS DOUBLE) / len(toks) END) * 4.0, 1.0) * 0.3,
        |  6) AS quality,
        | CASE WHEN len(toks) = 0 THEN 0
        |      ELSE CAST(list_sum(list_transform(toks, x -> CAST(ceil(length(x) / 4.0) AS BIGINT))) AS BIGINT)
        | END AS bpe_tokens
        |FROM feats""".stripMargin,
    // multi-table multi-probe LSH replay: 24 global planes = 4 tables x 6
    // bits (table = p // 6, bit = p % 6, matching planeOffset), probes =
    // signature + all 1-bit flips, exact cosine ranks candidates. Probed:
    // min |plane.vec| = 2.9e-5 (signs robust) and min adjacent cos gap in
    // each query's top-8 = 2.4e-7 >> cross-engine FP divergence, so
    // row_number order replays exactly
    "q25_lsh_topk" ->
      s"""WITH planes(p, c, v) AS (VALUES ${planeValues(24, 64)}),
        |pm AS (SELECT p, list(v ORDER BY c) AS pr FROM planes GROUP BY p),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |dots AS (SELECT vec_id, p,
        |  list_sum(list_transform(range(1, 65), i -> v[i] * pr[i])) AS dot
        | FROM e CROSS JOIN pm),
        |sig AS (SELECT vec_id, p // 6 AS t,
        |  CAST(sum(CASE WHEN dot > 0 THEN (1::BIGINT << (p % 6)) ELSE 0::BIGINT END) AS BIGINT) AS sig
        | FROM dots GROUP BY vec_id, p // 6),
        |probes AS (SELECT vec_id AS qid, t, xor(sig, f.b) AS bucket
        | FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 4, 8, 16, 32]) AS b) f
        | WHERE vec_id % 50 = 0),
        |cand AS (SELECT DISTINCT p.qid, s.vec_id AS nid
        | FROM probes p JOIN sig s ON s.t = p.t AND s.sig = p.bucket
        | WHERE s.vec_id <> p.qid),
        |scored AS (SELECT c.qid, c.nid, list_cosine_similarity(a.v, b.v) AS cos
        | FROM cand c JOIN e a ON a.vec_id = c.qid JOIN e b ON b.vec_id = c.nid)
        |SELECT qid, nid,
        | CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS INT) AS rank
        |FROM scored
        |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) <= 5""".stripMargin,
    // hyperplane-LSH replay: the 8x64 plane matrix rides as literals, dots
    // accumulate in ascending component order (sign-robust: min |dot| =
    // 4.4e-5, probed), equal sign-pattern buckets propose, exact cosine
    // (DOUBLE[] — float32 otherwise) verifies at the mid-gap threshold
    "q32_embedding_dedup" ->
      s"""WITH planes(p, c, v) AS (VALUES ${planeValues(8, 64)}),
        |pm AS (SELECT p, list(v ORDER BY c) AS pr FROM planes GROUP BY p),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |dots AS (SELECT vec_id, p,
        |  list_sum(list_transform(range(1, 65), i -> v[i] * pr[i])) AS dot
        | FROM e CROSS JOIN pm),
        |sig AS (SELECT vec_id,
        |  sum(CASE WHEN dot > 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END) AS bucket
        | FROM dots GROUP BY vec_id),
        |cand AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b
        | FROM sig x JOIN sig y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
        |SELECT c.id_a, c.id_b, round(list_cosine_similarity(a.v, b.v), 4) AS cos
        |FROM cand c JOIN e a ON a.vec_id = c.id_a JOIN e b ON b.vec_id = c.id_b
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.42197""".stripMargin,
    // portable bottom-k fingerprint replay: the same 3-shingle CTE shape as
    // portableSigCtes, md5-60 per shingle, distinct → ascending sort →
    // first 16 (list slice clamps like Spark's slice when fewer exist)
    "q33_fingerprint" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |shg AS (SELECT doc_id, unnest(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |  ELSE list_transform(range(1, len(t) - 1), x -> concat(t[x], ' ', t[x+1], ' ', t[x+2])) END) AS s
        | FROM tok),
        |hs AS (SELECT DISTINCT doc_id, CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS h FROM shg)
        |SELECT doc_id, array_to_string(list_sort(list(h))[1:16], '|') AS fp
        |FROM hs GROUP BY doc_id""".stripMargin,
    // q34: full KMeans replay (init + 2 unrolled Lloyd rounds on the
    // quantized grid) → index assignment, 4-probe query cells, exact
    // cosine on the RAW double vectors, rank with nid tie-break. Margins
    // probed at both scales — see q34IvfTopK's scaladoc / tools/probe_ivf.py.
    "q34_ivf_topk" -> {
      val (ctes, fin) = ivfReplayCtes(16, 2)
      s"""WITH $ctes,
         |af AS (SELECT vec_id, cell FROM (
         |  ${ivfRanked(fin)}) WHERE rn = 1),
         |pr AS (SELECT vec_id, cell FROM (
         |  ${ivfRanked(fin, "WHERE qv.vec_id % 50 = 0")}) WHERE rn <= 4),
         |cand AS (SELECT DISTINCT pr.vec_id AS qid, af.vec_id AS nid
         | FROM pr JOIN af USING (cell) WHERE af.vec_id <> pr.vec_id),
         |scored AS (SELECT qid, nid, list_cosine_similarity(a.v, b.v) AS cos
         | FROM cand JOIN e a ON a.vec_id = cand.qid JOIN e b ON b.vec_id = cand.nid)
         |SELECT qid, nid, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS INT) AS rank
         |FROM scored
         |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) <= 5""".stripMargin
    },
    "q35_drop_null_fields" ->
      "SELECT r_regionkey, r_name, r_name AS keep FROM region",
    "q36_ddb_unnest" ->
      "SELECT n_nationkey, n_name AS name, CAST(n_regionkey AS VARCHAR) AS rk FROM nation",
    "q37_filter_rows" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey % 10 <> 0 AND s_suppkey % 3 = 0""".stripMargin,
    "q38_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value, event_id FROM events),
        |f AS (
        |  SELECT user_id, ts, value, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR date_diff('second', lag(ts) OVER w, ts) > 3600 THEN 1 ELSE 0 END AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT user_id, ts, value,
        |    sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM f)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events, round(sum(value), 4) AS total_value
        |FROM g GROUP BY user_id, session_idx""".stripMargin,
    "q39_salted_join" ->
      """WITH d AS (
        |  SELECT o_orderstatus, round(avg(o_totalprice), 4) AS avg_price
        |  FROM orders GROUP BY o_orderstatus)
        |SELECT o.o_orderkey, o.o_orderstatus, d.avg_price
        |FROM orders o JOIN d ON o.o_orderstatus = d.o_orderstatus""".stripMargin,
    "q40_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk
        | FROM orders) WHERE rk <= 3""".stripMargin,
    "q41_repetition" ->
      """WITH grams AS (
        | SELECT doc_id, list_transform(
        |   generate_series(1, len(string_split_regex(trim(text),'\s+')) - 1),
        |   i -> (string_split_regex(trim(text),'\s+'))[i] || ' ' || (string_split_regex(trim(text),'\s+'))[i+1]) AS g
        | FROM documents)
        |SELECT doc_id,
        | CASE WHEN len(g) = 0 THEN 0.0 ELSE
        |  round(CAST(list_aggregate(list_transform(list_distinct(g), x -> len(list_filter(g, y -> y = x))), 'max') AS DOUBLE) / len(g), 4) END AS top_bigram_frac,
        | CASE WHEN len(g) = 0 THEN 0.0 ELSE
        |  round(1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g), 4) END AS dup_bigram_frac
        |FROM grams""".stripMargin,
    "q42_decontaminate" ->
      """WITH sh AS (
        | SELECT doc_id, list_distinct(list_transform(
        |   generate_series(1, len(string_split_regex(trim(text),'\s+')) - 2),
        |   i -> array_to_string((string_split_regex(trim(text),'\s+'))[i:i+2], ' '))) AS s
        | FROM documents),
        |bg AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 50 = 0),
        |dg AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 50 <> 0)
        |SELECT dg.doc_id, count(*) AS n_shared_ngrams
        |FROM dg JOIN bg USING (g) GROUP BY dg.doc_id""".stripMargin,
    // q174: contamination fraction — q42's sh/bg/dg device plus the
    // per-doc total; the dirty flag is integer cross-multiplication
    // (n_hit*5 >= n_grams), so no float boundary exists to probe.
    "q174_contamination_frac" ->
      """WITH sh AS (
        | SELECT doc_id, list_distinct(list_transform(
        |   generate_series(1, len(string_split_regex(trim(text),'\s+')) - 2),
        |   i -> array_to_string((string_split_regex(trim(text),'\s+'))[i:i+2], ' '))) AS s
        | FROM documents),
        |bg AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 50 = 0),
        |dg AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 50 <> 0),
        |tot AS (SELECT doc_id, count(*) AS n_grams FROM dg GROUP BY doc_id),
        |hit AS (SELECT dg.doc_id, count(*) AS n_hit
        |        FROM dg JOIN bg USING (g) GROUP BY dg.doc_id)
        |SELECT t.doc_id, t.n_grams, coalesce(h.n_hit, 0) AS n_hit,
        | CAST(CASE WHEN coalesce(h.n_hit, 0) * 5 >= t.n_grams
        |   THEN 1 ELSE 0 END AS INT) AS dirty
        |FROM tot t LEFT JOIN hit h ON h.doc_id = t.doc_id""".stripMargin,
    "q43_hash_split" ->
      """SELECT doc_id,
        | CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 AS b
        | FROM documents)""".stripMargin,
    "q44_tfidf" ->
      """WITH t AS (
        | SELECT doc_id, unnest(string_split_regex(trim(text),'\s+')) AS term
        | FROM documents WHERE length(trim(text)) > 0),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        | round(tf.tf * (ln((n.n + 1.0) / (dfreq.df + 1.0)) + 1.0), 4) AS tfidf
        |FROM tf, dfreq, n WHERE tf.term = dfreq.term""".stripMargin,
    "q45_redact_pii" ->
      """SELECT doc_id,
        | trim(regexp_replace(
        |   regexp_replace(
        |     regexp_replace(
        |       text || ' contact: user' || CAST(doc_id AS VARCHAR)
        |         || '@corp.example.com or 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
        |       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |     '(\+?1[-. ])?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}', '<PHONE>', 'g'),
        |   '[ \t\n\x0B\f\r]+', ' ', 'g')) AS clean
        |FROM documents""".stripMargin,
    // per-source merged portable sketch = min over ALL source shingles per
    // permutation (elementwise-min merge ≡ signature of the shingle-set
    // union), then pairwise signature-agreement Jaccard between sources
    "q46_source_sketch" ->
      s"""WITH ${portableSigCtes("source")}
        |SELECT a.source AS group_a, b.source AS group_b,
        | round(len(list_filter(range(1, 65), j -> a.sig[j] = b.sig[j])) / 64.0, 4) AS est_jaccard
        |FROM sig a JOIN sig b ON a.source < b.source""".stripMargin,
    "q47_dup_clusters" -> fullCcOracle,
    "q48_char_entropy" ->
      """WITH cs AS (
        | SELECT doc_id,
        |  list_transform(generate_series(1, length(text)), i -> text[i]) AS cl,
        |  length(text) AS n
        | FROM documents)
        |SELECT doc_id,
        | CASE WHEN n = 0 THEN 0.0 ELSE
        |  round(-list_sum(list_transform(list_distinct(cl),
        |    c -> (CAST(len(list_filter(cl, x -> x = c)) AS DOUBLE) / n)
        |       * ln(CAST(len(list_filter(cl, x -> x = c)) AS DOUBLE) / n))) / ln(2), 4) + 0.0
        | END AS char_entropy
        |FROM cs""".stripMargin,
    "q49_bigram_lm" ->
      """WITH t AS (
        | SELECT doc_id, string_split_regex(trim(text),'\s+') AS toks
        | FROM documents WHERE length(trim(text)) > 0),
        |bg AS (
        | SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)-1),
        |   i -> toks[i] || ' ' || toks[i+1])) AS g
        | FROM t),
        |cnt AS (SELECT g, count(*) AS c FROM bg GROUP BY g),
        |uni AS (SELECT string_split(g, ' ')[1] AS w, sum(c) AS cw FROM cnt GROUP BY 1),
        |probs AS (SELECT g, CAST(c AS DOUBLE) / cw AS p
        |          FROM cnt JOIN uni ON string_split(g, ' ')[1] = w)
        |SELECT bg.doc_id, round(avg(ln(p)), 4) AS bigram_logprob
        |FROM bg JOIN probs USING (g) GROUP BY bg.doc_id""".stripMargin,
    "q51_dup_segments" ->
      """WITH t AS (
        | SELECT doc_id, string_split_regex(trim(text),'\s+') AS toks
        | FROM documents WHERE length(trim(text)) > 0),
        |seg AS (
        | SELECT doc_id, unnest(list_transform(
        |   generate_series(0, CAST(ceil(len(toks) / 10.0) AS INT) - 1),
        |   i -> array_to_string(toks[i*10+1 : i*10+10], ' '))) AS s
        | FROM t),
        |cnt AS (SELECT s, count(*) AS c FROM seg GROUP BY s)
        |SELECT seg.doc_id,
        | round(CAST(sum(CASE WHEN cnt.c > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4)
        |   AS dup_segment_frac
        |FROM seg JOIN cnt USING (s) GROUP BY seg.doc_id""".stripMargin,
    "q52_chunk_tokens" ->
      """WITH t AS (
        | SELECT doc_id, string_split_regex(trim(text),'\s+') AS toks
        | FROM documents WHERE length(trim(text)) > 0)
        |SELECT doc_id,
        | CAST(i AS INT) AS chunk_idx,
        | array_to_string(toks[i*24+1 : i*24+32], ' ') AS chunk_text,
        | len(toks[i*24+1 : i*24+32]) AS n_tokens
        |FROM t, unnest(generate_series(0,
        |  CAST(ceil(greatest(len(toks) - 8, 1) / 24.0) AS INT) - 1)) u(i)""".stripMargin,
    // codec round-trip: the oracle is simply the source table — any
    // encode/decode asymmetry shows as a value mismatch
    "q53_unbox_avro" ->
      "SELECT doc_id, lang, source, n_chars FROM documents",
    "q54_cluster_survivors" ->
      """WITH RECURSIVE sh AS (
        | SELECT doc_id, list_distinct(list_transform(
        |   generate_series(1, len(string_split_regex(trim(text),'\s+')) - 2),
        |   i -> array_to_string((string_split_regex(trim(text),'\s+'))[i:i+2], ' '))) AS s
        | FROM documents),
        |jp AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM sh a, sh b
        | WHERE a.doc_id < b.doc_id
        |  AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.s, b.s))) >= 0.9),
        |p AS (SELECT id_a AS src, id_b AS dst FROM jp UNION ALL SELECT id_b, id_a FROM jp),
        |nodes AS (SELECT DISTINCT src AS id FROM p),
        |reach AS (
        | SELECT id, id AS root FROM nodes
        | UNION
        | SELECT p.dst AS id, r.root FROM reach r JOIN p ON p.src = r.id),
        |cl AS (SELECT id AS doc_id, min(root) AS cluster_id FROM reach GROUP BY id),
        |keep AS (
        | SELECT doc_id FROM (
        |  SELECT cl.doc_id,
        |   row_number() OVER (PARTITION BY cl.cluster_id
        |     ORDER BY length(trim(d.text)) DESC, cl.doc_id ASC) AS rk
        |  FROM cl JOIN documents d USING (doc_id)) WHERE rk = 1)
        |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM cl)
        |UNION ALL SELECT doc_id FROM keep""".stripMargin,
    // CAST sum to BIGINT: DuckDB sums BIGINT into HUGEINT, which fetchdf
    // would stringify differently than Spark's long
    "q55_corpus_stats" ->
      """SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
        | CAST(sum(n_chars) AS BIGINT) AS total_chars,
        | round(avg(n_chars), 4) AS avg_chars,
        | round(quantile_cont(n_chars, 0.5), 4) AS median_chars,
        | round(quantile_cont(n_chars, 0.9), 4) AS p90_chars
        |FROM documents GROUP BY source""".stripMargin,
    // deterministic argmax instead of DuckDB's native ASOF JOIN: under
    // (user_id, ts) ties ASOF picks an arbitrary purchase row, while
    // asofJoin's window tie-breaks by max payload (value DESC at equal ts)
    // — mirror that rule exactly; all comparisons at micros precision on
    // both sides (ns→us truncation happens BEFORE the <= comparison)
    "q56_asof_join" ->
      """WITH c AS (SELECT event_id, user_id,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS click_us, value
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS purchase_us, value
        |      FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT c.event_id, p.purchase_us, p.value,
        |        row_number() OVER (PARTITION BY c.event_id
        |          ORDER BY p.purchase_us DESC, p.value DESC) AS rk
        |      FROM c JOIN p ON c.user_id = p.user_id
        |        AND p.purchase_us <= c.click_us)
        |SELECT c.event_id, c.user_id, c.click_us,
        | j.purchase_us, round(j.value, 4) AS purchase_value
        |FROM c LEFT JOIN (SELECT * FROM j WHERE rk = 1) j USING (event_id)""".stripMargin,
    "q57_range_join" ->
      """WITH c AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS click_us
        |           FROM events WHERE event_type = 'click'),
        |w AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS win_start,
        |             epoch_us(CAST(ts AS TIMESTAMP)) + 12::BIGINT*3600*1000000 AS win_end
        |      FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.click_us, w.win_start
        |FROM c JOIN w ON c.user_id = w.user_id
        | AND c.click_us BETWEEN w.win_start AND w.win_end""".stripMargin,
    "q58_rollup" ->
      """SELECT coalesce(source, 'ALL') AS source, coalesce(lang, 'ALL') AS lang,
        | CAST(2*grouping(source) + grouping(lang) AS INT) AS gid,
        | count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY ROLLUP(source, lang)""".stripMargin,
    "q59_pivot" ->
      """SELECT source,
        | count(*) FILTER (lang = 'en') AS en, count(*) FILTER (lang = 'de') AS de,
        | count(*) FILTER (lang = 'es') AS es, count(*) FILTER (lang = 'fr') AS fr,
        | count(*) FILTER (lang = 'zh') AS zh
        |FROM documents GROUP BY source""".stripMargin,
    "q60_unpivot" ->
      """SELECT metric, round(sum(v), 4) AS total FROM (
        | SELECT 'l_quantity' AS metric, l_quantity AS v FROM lineitem
        | UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        | UNION ALL SELECT 'l_discount', l_discount FROM lineitem
        | UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
        |GROUP BY metric""".stripMargin,
    "q61_lag_delta" ->
      """WITH daily AS (
        | SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n
        | FROM events GROUP BY 1, 2)
        |SELECT event_type, day, n,
        | n - lag(n) OVER (PARTITION BY event_type ORDER BY day) AS delta
        |FROM daily""".stripMargin,
    "q62_vocab_stats" ->
      """WITH toks AS (
        | SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok
        | FROM documents WHERE length(trim(text)) > 0)
        |SELECT source, count(*) AS total_tokens, count(DISTINCT tok) AS vocab,
        | round(CAST(count(DISTINCT tok) AS DOUBLE) / count(*), 4) AS type_token_ratio
        |FROM toks GROUP BY source""".stripMargin,
    "q63_heavy_hitters" ->
      """WITH toks AS (
        | SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok
        | FROM documents WHERE length(trim(text)) > 0),
        |cnt AS (SELECT source, tok, count(*) AS n FROM toks GROUP BY 1, 2)
        |SELECT source, tok, n, rk FROM (
        | SELECT *, CAST(row_number() OVER (PARTITION BY source
        |   ORDER BY n DESC, tok ASC) AS INT) AS rk FROM cnt)
        |WHERE rk <= 10""".stripMargin,
    "q64_bloom_decontaminate" ->
      """WITH sh AS (
        | SELECT doc_id, list_distinct(list_transform(
        |   generate_series(1, len(string_split_regex(trim(text),'\s+')) - 3),
        |   i -> array_to_string((string_split_regex(trim(text),'\s+'))[i:i+3], ' '))) AS s
        | FROM documents),
        |bg AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 40 = 0),
        |flagged AS (
        | SELECT DISTINCT doc_id
        | FROM (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 40 <> 0) dg
        | JOIN bg USING (g))
        |SELECT d.doc_id, d.source FROM documents d
        |WHERE d.doc_id % 40 <> 0
        |  AND d.doc_id NOT IN (SELECT doc_id FROM flagged)""".stripMargin,
    "q65_weighted_mix" ->
      """WITH w AS (SELECT doc_id, source,
        |  CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.25
        |              WHEN 'src2' THEN 1.0 ELSE 0.75 END AS w
        | FROM documents),
        |e AS (SELECT doc_id, source, w,
        |  unnest(generate_series(0, CAST(floor(w) AS INT)
        |    + (CASE WHEN w > floor(w) THEN 1 ELSE 0 END) - 1)) AS e
        | FROM w WHERE w > 0)
        |SELECT doc_id, source, CAST(e AS INT) AS epoch FROM e
        |WHERE e < floor(w)
        |   OR (CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), ':',
        |         CAST(e AS VARCHAR))), 1, 15)) AS BIGINT) % 10000)
        |      < CAST(round((w - floor(w)) * 10000) AS BIGINT)""".stripMargin,
    "q66_pack_chunks" ->
      """WITH RECURSIVE t AS (
        | SELECT doc_id, string_split_regex(trim(text),'\s+') AS toks
        | FROM documents WHERE length(trim(text)) > 0),
        |c AS (
        | SELECT doc_id, CAST(i AS INT) AS chunk_idx,
        |   CAST(len(toks[i*24+1 : i*24+32]) AS INT) AS n_tokens
        | FROM t, unnest(generate_series(0,
        |   CAST(ceil(greatest(len(toks) - 8, 1) / 24.0) AS INT) - 1)) u(i)),
        |pack AS (
        | SELECT doc_id, chunk_idx, n_tokens, n_tokens AS acc, 0 AS seq
        | FROM c WHERE chunk_idx = 0
        | UNION ALL
        | SELECT c.doc_id, c.chunk_idx, c.n_tokens,
        |   CASE WHEN p.acc + c.n_tokens > 64 THEN c.n_tokens
        |        ELSE p.acc + c.n_tokens END,
        |   CASE WHEN p.acc + c.n_tokens > 64 THEN p.seq + 1 ELSE p.seq END
        | FROM c JOIN pack p ON c.doc_id = p.doc_id AND c.chunk_idx = p.chunk_idx + 1)
        |SELECT doc_id, chunk_idx, n_tokens, CAST(seq AS INT) AS seq_idx
        |FROM pack""".stripMargin,
    "q67_topk_heap" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, price, CAST(rk AS INT) AS rk
        |FROM (
        | SELECT l_suppkey, l_orderkey, l_linenumber,
        |   CAST(l_extendedprice AS DOUBLE) AS price,
        |   row_number() OVER (PARTITION BY l_suppkey
        |     ORDER BY CAST(l_extendedprice AS DOUBLE) DESC, l_orderkey, l_linenumber) AS rk
        | FROM lineitem)
        |WHERE rk <= 3""".stripMargin,
    // q68: same KMeans replay as q34 (8 cells), 2-probe bucketing, exact
    // cosine at the mid-gap threshold (0.400235 — probed ≥1.23e-4 from
    // data at both scales), then the q91-pattern recursive-CTE connected
    // components with min-id representatives; survivors = NOT dropped.
    "q68_semantic_prune" -> {
      val (ctes, fin) = ivfReplayCtes(8, 2)
      s"""WITH RECURSIVE $ctes,
         |asg AS (SELECT vec_id, cell FROM (
         |  ${ivfRanked(fin)}) WHERE rn <= 2),
         |cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         | FROM asg x JOIN asg y ON x.cell = y.cell AND x.vec_id < y.vec_id),
         |hits AS (SELECT id_a, id_b
         | FROM cand JOIN e a ON a.vec_id = cand.id_a JOIN e b ON b.vec_id = cand.id_b
         | WHERE list_cosine_similarity(a.v, b.v) >= 0.400235),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM hits UNION ALL SELECT id_b, id_a FROM hits),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach AS (SELECT id, id AS root FROM nodes
         | UNION
         | SELECT edges.dst AS id, reach.root FROM reach JOIN edges ON edges.src = reach.id),
         |canon AS (SELECT id, min(root) AS cluster_id FROM reach GROUP BY id),
         |dropped AS (SELECT id FROM canon WHERE id <> cluster_id)
         |SELECT vec_id, label FROM embeddings
         |WHERE vec_id NOT IN (SELECT id FROM dropped)""".stripMargin
    },
    "q69_kmv_distinct" ->
      """WITH toks AS (
        | SELECT source, unnest(string_split_regex(trim(text),'\s+')) AS tok
        | FROM documents WHERE length(trim(text)) > 0),
        |h AS (SELECT DISTINCT source,
        |   CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS v FROM toks),
        |r AS (SELECT source, v,
        |   row_number() OVER (PARTITION BY source ORDER BY v) AS rn FROM h),
        |agg AS (SELECT source, count(*) AS cnt, max(v) AS kth
        | FROM r WHERE rn <= 16 GROUP BY source)
        |SELECT source,
        | round(CASE WHEN cnt < 16 THEN CAST(cnt AS DOUBLE)
        |   ELSE 15.0 * 1152921504606846976.0 / CAST(kth AS DOUBLE) END, 4)
        |   AS est_distinct
        |FROM agg""".stripMargin,
    "q70_cube_agg" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
        | coalesce(l_linestatus, 'ALL') AS l_linestatus,
        | CAST(2*grouping(l_returnflag) + grouping(l_linestatus) AS INT) AS gid,
        | count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,
    "q71_rank_windows" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        | CAST(ntile(4) OVER w AS INT) AS quartile,
        | round(percent_rank() OVER w, 4) AS pct_rank,
        | round(cume_dist() OVER w, 4) AS cum_dist,
        | CAST(dense_rank() OVER w AS INT) AS drank
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment
        |             ORDER BY c_acctbal DESC, c_custkey ASC)""".stripMargin,
    "q72_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""".stripMargin,
    // the unrolled replay of Graph.pageRank's fixed-point-free semantics:
    // r0 = 1, r_{t+1}(v) = 0.15 + 0.85 * sum over in-edges of r_t(u)/deg(u)
    "q73_pagerank" ->
      """WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
        |e AS (SELECT p AS src, -(s+1) AS dst FROM ps
        |      UNION ALL SELECT -(s+1), p FROM ps),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        |n AS (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e),
        |r0 AS (SELECT id, 1.0 AS r FROM n),
        |c1 AS (SELECT e.dst AS id, sum(r0.r / deg.deg) AS s FROM e
        |       JOIN r0 ON r0.id = e.src JOIN deg ON deg.src = e.src GROUP BY e.dst),
        |r1 AS (SELECT n.id, 0.15 + 0.85 * coalesce(c1.s, 0) AS r FROM n LEFT JOIN c1 USING (id)),
        |c2 AS (SELECT e.dst AS id, sum(r1.r / deg.deg) AS s FROM e
        |       JOIN r1 ON r1.id = e.src JOIN deg ON deg.src = e.src GROUP BY e.dst),
        |r2 AS (SELECT n.id, 0.15 + 0.85 * coalesce(c2.s, 0) AS r FROM n LEFT JOIN c2 USING (id)),
        |c3 AS (SELECT e.dst AS id, sum(r2.r / deg.deg) AS s FROM e
        |       JOIN r2 ON r2.id = e.src JOIN deg ON deg.src = e.src GROUP BY e.dst),
        |r3 AS (SELECT n.id, 0.15 + 0.85 * coalesce(c3.s, 0) AS r FROM n LEFT JOIN c3 USING (id))
        |SELECT id, round(r, 4) AS pr FROM r3""".stripMargin,
    // replay the 4x512 count-min grid from the same portable md5 buckets,
    // then read each probe's minimum counter — exact same estimates
    "q74_cms_estimate" ->
      """WITH toks AS (
        | SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
        | FROM documents WHERE length(trim(text)) > 0),
        |cnt AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
        |top AS (SELECT tok, n FROM cnt ORDER BY n DESC, tok ASC LIMIT 20),
        |js AS (SELECT unnest(generate_series(0, 3)) AS j),
        |grid AS (
        | SELECT j, CAST(concat('0x', substr(md5(concat(tok, ':cms', CAST(j AS VARCHAR))), 1, 15))
        |          AS BIGINT) % 512 AS b, count(*) AS c
        | FROM toks CROSS JOIN js GROUP BY 1, 2),
        |probe AS (
        | SELECT t.tok, t.n, js.j,
        |   CAST(concat('0x', substr(md5(concat(t.tok, ':cms', CAST(js.j AS VARCHAR))), 1, 15))
        |     AS BIGINT) % 512 AS b
        | FROM top t CROSS JOIN js)
        |SELECT p.tok, p.n, min(g.c) AS est
        |FROM probe p JOIN grid g ON g.j = p.j AND g.b = p.b
        |GROUP BY p.tok, p.n""".stripMargin,
    // bit-interleave replay: column c's bit i lands at position 2i+c
    // (parenthesize the shifts — | binds tighter than << in DuckDB)
    "q75_zorder_stats" ->
      """WITH z AS (
        | SELECT l_partkey, l_suppkey,
        |  CAST(list_sum(list_transform(generate_series(0, 9),
        |    i -> ((((l_partkey % 1024) >> i) & 1) << (2*i))
        |       | ((((l_suppkey % 1024) >> i) & 1) << (2*i + 1)))) AS BIGINT) AS zval
        | FROM lineitem)
        |SELECT CAST(zval >> 16 AS INT) AS zbucket, count(*) AS n,
        | min(zval) AS zmin, max(zval) AS zmax,
        | min(l_partkey) AS pmin, max(l_partkey) AS pmax,
        | min(l_suppkey) AS smin, max(l_suppkey) AS smax
        |FROM z GROUP BY 1""".stripMargin,
    // identical semantics to q57's batch range join — the point: the
    // streaming operator must produce exactly the batch answer
    "q76_stream_interval_join" ->
      """WITH c AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS click_us
        |           FROM events WHERE event_type = 'click'),
        |w AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS win_start,
        |             epoch_us(CAST(ts AS TIMESTAMP)) + 12::BIGINT*3600*1000000 AS win_end
        |      FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.click_us, w.win_start
        |FROM c JOIN w ON c.user_id = w.user_id
        | AND c.click_us BETWEEN w.win_start AND w.win_end""".stripMargin,
    // replay the rollup exactly: per-source k minima, union, global k
    // minima of THAT union — the same minima the merged sketch holds
    "q77_kmv_rollup" ->
      """WITH toks AS (
        | SELECT source, unnest(string_split_regex(trim(text),'\s+')) AS tok
        | FROM documents WHERE length(trim(text)) > 0),
        |h AS (SELECT DISTINCT source,
        |   CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS v FROM toks),
        |r AS (SELECT source, v,
        |   row_number() OVER (PARTITION BY source ORDER BY v) AS rn FROM h),
        |m AS (SELECT DISTINCT v FROM r WHERE rn <= 16),
        |g AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM m),
        |agg AS (SELECT count(*) FILTER (rn <= 16) AS cnt,
        |        max(v) FILTER (rn <= 16) AS kth FROM g)
        |SELECT round(CASE WHEN cnt < 16 THEN CAST(cnt AS DOUBLE)
        |  ELSE 15.0 * 1152921504606846976.0 / CAST(kth AS DOUBLE) END, 4)
        |  AS est_distinct
        |FROM agg""".stripMargin,
    // per-column replay of the one-pass profile: the KMV estimate is the
    // same 64-minima window replay as q69/q77, run per column
    "q78_profile" ->
      """WITH
        |est AS (
        | SELECT col_name,
        |  round(CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
        |    ELSE 63.0 * 1152921504606846976.0 /
        |      CAST(max(v) AS DOUBLE) END, 4) AS est_distinct
        | FROM (
        |  SELECT col_name, v,
        |    row_number() OVER (PARTITION BY col_name ORDER BY v) AS rn
        |  FROM (
        |   SELECT DISTINCT 'doc_id' AS col_name,
        |     CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) AS v
        |   FROM documents WHERE doc_id IS NOT NULL
        |   UNION ALL SELECT DISTINCT 'lang',
        |     CAST(concat('0x', substr(md5(lang),1,15)) AS BIGINT)
        |   FROM documents WHERE lang IS NOT NULL
        |   UNION ALL SELECT DISTINCT 'source',
        |     CAST(concat('0x', substr(md5(source),1,15)) AS BIGINT)
        |   FROM documents WHERE source IS NOT NULL
        |   UNION ALL SELECT DISTINCT 'n_chars',
        |     CAST(concat('0x', substr(md5(CAST(n_chars AS VARCHAR)),1,15)) AS BIGINT)
        |   FROM documents WHERE n_chars IS NOT NULL))
        | WHERE rn <= 64 GROUP BY col_name),
        |base AS (
        | SELECT 'doc_id' AS col_name, count(*) AS n,
        |  CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |  CAST(min(doc_id) AS DOUBLE) AS min_num, CAST(max(doc_id) AS DOUBLE) AS max_num
        | FROM documents
        | UNION ALL SELECT 'lang', count(*),
        |  CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM documents
        | UNION ALL SELECT 'source', count(*),
        |  CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM documents
        | UNION ALL SELECT 'n_chars', count(*),
        |  CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(min(n_chars) AS DOUBLE), CAST(max(n_chars) AS DOUBLE) FROM documents)
        |-- LEFT join + coalesce: an all-NULL column has no est row (every
        |-- branch filters IS NOT NULL) but Spark still profiles it with
        |-- est_distinct = 0 — an inner join would drop the row
        |SELECT b.col_name, b.n, b.n_nulls,
        | coalesce(e.est_distinct, 0.0) AS est_distinct, b.min_num, b.max_num
        |FROM base b LEFT JOIN est e USING (col_name)""".stripMargin,
    // full recompute — the merged-partials side must equal it exactly
    // (decimal sums are associative; counts are counts)
    "q79_incremental_rollup" ->
      """SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        | count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q80_hist_quantiles" ->
      """WITH b AS (
        | SELECT source, (length(bin(n_chars)) - 1) AS msb,
        |  CASE WHEN length(bin(n_chars)) - 1 >= 2
        |       THEN (n_chars >> (length(bin(n_chars)) - 3)) & 3
        |       ELSE 0 END AS sub
        | -- Profile.histogramQuantiles excludes x < 1 (and NULL) Spark-side;
        | -- encode the exclusion here instead of relying on the data
        | FROM documents WHERE n_chars >= 1),
        |h AS (SELECT source, msb*4 + sub AS bucket,
        |  CASE WHEN msb >= 2
        |       THEN (1::BIGINT << msb) + sub*(1::BIGINT << (msb - 2))
        |       ELSE (1::BIGINT << msb) END AS lo,
        |  count(*) AS cnt
        | FROM b GROUP BY 1, 2, 3),
        |c AS (SELECT source, bucket, lo, cnt,
        |  sum(cnt) OVER (PARTITION BY source ORDER BY bucket) AS cum,
        |  sum(cnt) OVER (PARTITION BY source) AS total FROM h)
        |SELECT source, p.prob, min(lo) AS q
        |-- DOUBLE probs: DuckDB's bare 0.9 is DECIMAL and its exact
        |-- decimal product would ceil differently than Spark's IEEE double
        |FROM c CROSS JOIN (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE]) AS prob) p
        |WHERE cum >= ceil(total * p.prob)
        |GROUP BY 1, 2""".stripMargin,
    // fully unrolled 4-round BFS relaxation — integer-exact replay
    "q81_shortest_paths" ->
      """WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
        |e AS (SELECT p AS src, -(s+1) AS dst FROM ps
        |      UNION ALL SELECT -(s+1), p FROM ps),
        |d0 AS (SELECT -(s_suppkey+1) AS id, 0 AS dist FROM supplier WHERE s_suppkey < 5),
        |d1 AS (SELECT id, min(dist) AS dist FROM (
        |  SELECT id, dist FROM d0
        |  UNION ALL SELECT e.dst, d0.dist + 1 FROM e JOIN d0 ON e.src = d0.id)
        | GROUP BY id),
        |d2 AS (SELECT id, min(dist) AS dist FROM (
        |  SELECT id, dist FROM d1
        |  UNION ALL SELECT e.dst, d1.dist + 1 FROM e JOIN d1 ON e.src = d1.id)
        | GROUP BY id),
        |d3 AS (SELECT id, min(dist) AS dist FROM (
        |  SELECT id, dist FROM d2
        |  UNION ALL SELECT e.dst, d2.dist + 1 FROM e JOIN d2 ON e.src = d2.id)
        | GROUP BY id),
        |d4 AS (SELECT id, min(dist) AS dist FROM (
        |  SELECT id, dist FROM d3
        |  UNION ALL SELECT e.dst, d3.dist + 1 FROM e JOIN d3 ON e.src = d3.id)
        | GROUP BY id)
        |SELECT id, CAST(dist AS INT) AS dist FROM d4""".stripMargin,
    // exact replay: 5 keys in a 64-counter sketch make Misra-Gries exact,
    // so the diagnosis (counts, shares, salt factors) is plain SQL
    "q82_skew_analyze" ->
      """WITH tot AS (SELECT count(*) AS t FROM events),
        |-- NULL keys excluded on BOTH sides by construction: Skew.analyze
        |-- drops them (an equi-join shuffle drops them too), GROUP BY keeps them
        |cnt AS (SELECT event_type AS key, count(*) AS n FROM events
        |        WHERE event_type IS NOT NULL GROUP BY 1)
        |SELECT key, n, round(n / CAST(t AS DOUBLE), 4) AS share,
        | CAST(least(greatest(ceil(n * 32 / CAST(t AS DOUBLE)), 1), 32) AS INT) AS salt
        |FROM cnt, tot ORDER BY n DESC, key LIMIT 5""".stripMargin,
    // replay each measurement, round to 4 decimals, THEN compare — the
    // same order the Spark side uses, so the booleans agree exactly
    "q83_expectations" ->
      """WITH m AS (SELECT CAST(count(*) AS DOUBLE) AS rc,
        |  CAST(avg(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS nf,
        |  CAST(min(n_chars) AS DOUBLE) AS mc FROM documents),
        |k AS (SELECT count(*) AS cnt, max(v) AS kth FROM (
        |  SELECT v, row_number() OVER (ORDER BY v) AS rn FROM (
        |    SELECT DISTINCT CAST(concat('0x', substr(md5(lang), 1, 15)) AS BIGINT) AS v
        |    FROM documents WHERE lang IS NOT NULL)) WHERE rn <= 16),
        |e AS (SELECT round(CASE WHEN cnt < 16 THEN CAST(cnt AS DOUBLE)
        |  ELSE 15.0 * 1152921504606846976.0 / CAST(kth AS DOUBLE) END, 4) AS est FROM k)
        |-- lo/hi are OUTPUT columns: DOUBLE-cast them (bare 100.0 is
        |-- DECIMAL in DuckDB and would hash differently than Spark's double)
        |-- coalesce(..., false): a NULL measurement is a VIOLATION on both
        |-- sides (mirrors Expectations.run's fail-closed contract)
        |SELECT 'row_count' AS rule, round(rc, 4) AS measured, 100.0::DOUBLE AS lo,
        |  10000000.0::DOUBLE AS hi,
        |  coalesce(round(rc, 4) BETWEEN 100.0 AND 10000000.0, false) AS passed FROM m
        |UNION ALL SELECT 'text_null_fraction', round(nf, 4), 0.0::DOUBLE, 0.01::DOUBLE,
        |  coalesce(round(nf, 4) BETWEEN 0.0 AND 0.01, false) FROM m
        |UNION ALL SELECT 'min_chars', round(mc, 4), 1.0::DOUBLE, 1000000.0::DOUBLE,
        |  coalesce(round(mc, 4) BETWEEN 1.0 AND 1000000.0, false) FROM m
        |UNION ALL SELECT 'lang_distinct_est', est, 3.0::DOUBLE, 40.0::DOUBLE,
        |  coalesce(est BETWEEN 3.0 AND 40.0, false) FROM e""".stripMargin,
    // the catalog-resolved choice columns are plain numbers again, so the
    // replay is the bare union + aggregate (the string branch round-trips:
    // double→string→double is identity for round-trippable formatting)
    "q84_match_catalog" ->
      """WITH u AS (
        | SELECT o_orderkey, o_totalprice FROM orders
        | UNION ALL
        | SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 100000)
        |SELECT o_orderkey % 10 AS bucket, count(*) AS n,
        | round(sum(o_totalprice), 4) AS total
        |FROM u GROUP BY 1""".stripMargin,
    // per-group cap replay: the portable-md5 priority makes the heap
    // node's survivor selection an exact row_number window in SQL
    "q85_cap_per_group" ->
      """SELECT doc_id, lang FROM (
        | SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |   ORDER BY CAST(concat('0x', substr(md5(concat(doc_id::VARCHAR, 'cap')), 1, 15)) AS BIGINT),
        |     doc_id) AS rk
        | FROM documents) t
        |WHERE rk <= 100""".stripMargin,
    // token-budget replay: the bucketed prefix-sum selection is
    // semantically a single global cumulative window over (md5-60, id)
    // order. CAST the windowed sum — DuckDB widens BIGINT sums to HUGEINT
    "q86_token_budget" ->
      """SELECT doc_id, lang, n_chars, cum_weight FROM (
        | SELECT doc_id, lang, n_chars,
        |  CAST(sum(n_chars) OVER (
        |    ORDER BY CAST(concat('0x', substr(md5(concat(doc_id::VARCHAR, 'tb')), 1, 15)) AS BIGINT),
        |      doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_weight
        | FROM documents) t
        |WHERE cum_weight <= 80000""".stripMargin,
    // segment-strip replay: q51's segmentation CTEs, counts per segment
    // STRING (Spark counts per md5-60 of the string — identical grouping),
    // ordered FILTERed reassembly. coalesce: a fully-stripped doc is ''
    // in Spark (concat_ws over empty), NULL from DuckDB's FILTERed list
    "q87_strip_segments" ->
      """WITH t AS (
        | SELECT doc_id, string_split_regex(trim(text),'\s+') AS toks
        | FROM documents WHERE length(trim(text)) > 0),
        |seg AS (
        | SELECT doc_id, unnest(list_transform(
        |   generate_series(0, CAST(ceil(len(toks) / 10.0) AS INT) - 1),
        |   i -> {'idx': i, 's': array_to_string(toks[i*10+1 : i*10+10], ' ')})) AS e
        | FROM t),
        |sx AS (SELECT doc_id, e.idx AS idx, e.s AS s FROM seg),
        |cnt AS (SELECT s, count(*) AS c FROM sx GROUP BY s)
        |SELECT sx.doc_id,
        | coalesce(array_to_string(list(sx.s ORDER BY sx.idx) FILTER (WHERE cnt.c <= 1), ' '), '')
        |   AS clean_text,
        | CAST(sum(CASE WHEN cnt.c <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | CAST(sum(CASE WHEN cnt.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        |FROM sx JOIN cnt USING (s) GROUP BY sx.doc_id""".stripMargin,
    // consecutive-run collapse replay: carry the token list, index it
    // 1-based, keep i=1 or toks[i] <> toks[i-1]; blank docs come back via
    // the LEFT JOIN with clean_text '' (Spark's array_join over empty)
    "q88_collapse_repeats" ->
      """WITH t AS (SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |       ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        | FROM documents),
        |x AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM t),
        |keep AS (SELECT doc_id, i, toks[i] AS w FROM x
        | WHERE i = 1 OR toks[i] <> toks[i - 1]),
        |agg AS (SELECT doc_id, string_agg(w, ' ' ORDER BY i) AS clean_text,
        |  count(*) AS kept FROM keep GROUP BY 1)
        |SELECT t.doc_id, coalesce(agg.clean_text, '') AS clean_text,
        | CAST(len(t.toks) AS INT) AS n_tokens,
        | CAST(len(t.toks) - coalesce(agg.kept, 0) AS INT) AS n_collapsed
        |FROM t LEFT JOIN agg USING (doc_id)""".stripMargin,
    // vocab-coverage replay: same (count DESC, token ASC) top-12 cut;
    // integer basis points via // so no float rounding can diverge
    "q89_vocab_coverage" ->
      """WITH tok AS (SELECT doc_id,
        |  unnest(CASE WHEN length(trim(text)) = 0 THEN []
        |              ELSE regexp_split_to_array(trim(text), '\s+') END) AS w
        | FROM documents),
        |vocab AS (SELECT w FROM (SELECT w, count(*) AS c FROM tok GROUP BY 1)
        | ORDER BY c DESC, w LIMIT 12),
        |per AS (SELECT doc_id, count(*) AS n,
        |  sum(CASE WHEN w IN (SELECT w FROM vocab) THEN 1 ELSE 0 END) AS iv
        | FROM tok GROUP BY 1)
        |SELECT d.doc_id,
        | CAST(coalesce(per.n, 0) AS INT) AS n_tokens,
        | CAST(coalesce(per.iv, 0) AS INT) AS n_in_vocab,
        | CAST(CASE WHEN coalesce(per.n, 0) = 0 THEN 0
        |           ELSE (per.iv * 10000) // per.n END AS BIGINT) AS cover_bp
        |FROM documents d LEFT JOIN per USING (doc_id)""".stripMargin,
    // q90: brute-force all-pairs ground truth over the distinct vocabulary —
    // exact because the Spark-side prefix filter is lossless by theorem
    // (integer distances, so no threshold-epsilon risk either).
    "q90_fuzzy_join" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        | CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        |FROM n a JOIN n b ON a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 2""".stripMargin,
    // q91: recursive-CTE min-name propagation over the brute-force pair
    // graph (the q47 pattern, seeded from ALL names so singletons root at
    // themselves), rolled up to (canonical, variants, rows).
    "q91_entity_resolve" ->
      """WITH RECURSIVE n AS (SELECT DISTINCT p_name FROM part),
        |jp AS (
        | SELECT a.p_name AS id_a, b.p_name AS id_b FROM n a JOIN n b
        | ON a.p_name < b.p_name AND levenshtein(a.p_name, b.p_name) <= 2),
        |p AS (SELECT id_a AS src, id_b AS dst FROM jp
        |      UNION ALL SELECT id_b, id_a FROM jp),
        |reach AS (
        | SELECT p_name AS id, p_name AS root FROM n
        | UNION
        | SELECT p.dst AS id, r.root FROM reach r JOIN p ON p.src = r.id),
        |canon AS (SELECT id AS p_name, min(root) AS canonical
        |          FROM reach GROUP BY id)
        |SELECT c.canonical, count(DISTINCT t.p_name) AS n_variants,
        | count(*) AS n_rows
        |FROM part t JOIN canon c USING (p_name)
        |GROUP BY 1""".stripMargin,
    // q92: window-text duplicate marking + island merge. Same tokenization
    // as the q47/q49 oracles; islands break when consecutive duplicated
    // window starts are > 10 apart (coverage gap). Integer token indices.
    "q92_dup_spans" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text),'\s+') AS toks
        |  FROM documents WHERE length(trim(text)) > 0),
        |w AS (SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+9], ' ') AS win
        |  FROM t, unnest(generate_series(1, len(toks) - 9)) AS g(i)),
        |c AS (SELECT win FROM w GROUP BY win HAVING count(*) >= 2),
        |d AS (SELECT doc_id, pos FROM w JOIN c USING (win)),
        |isl AS (SELECT doc_id, pos,
        |   sum(CASE WHEN prev IS NULL OR pos - prev > 10 THEN 1 ELSE 0 END)
        |     OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM (SELECT doc_id, pos,
        |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM d))
        |SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
        | CAST(max(pos) + 10 AS INT) AS span_end,
        | CAST(count(*) AS INT) AS n_windows
        |FROM isl GROUP BY doc_id, island""".stripMargin,
    // q93: classes derived independently from the construction arithmetic
    // (not a replay of the full-outer join) — an injected -(key+1) never
    // collides because keys start at 0, and '0-RUSH' never occurs in the
    // data (probed), so every %10==0 survivor really changes.
    "q93_snapshot_diff" ->
      """SELECT o_orderkey, 'removed' AS change_type FROM orders
        | WHERE o_orderkey % 7 = 3
        |UNION ALL
        |SELECT o_orderkey, 'changed' FROM orders
        | WHERE o_orderkey % 7 <> 3 AND o_orderkey % 10 = 0
        |UNION ALL
        |SELECT -(o_orderkey + 1), 'added' FROM orders
        | WHERE o_orderkey % 13 = 5""".stripMargin,
    // q94: the batch formulation of the stream-static enrichment — the
    // streaming side must equal it exactly (q28's equivalence pattern).
    "q94_stream_enrich" ->
      """SELECT c.c_mktsegment, e.event_type,
        | count(*) AS n, round(sum(e.value), 4) AS total_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2""".stripMargin,
    // q95: DuckDB quantile_cont is the same type-7 linear interpolation as
    // Spark's percentile; 2-decimal balances make quartiles land on a
    // 0.0025 grid — round(4) is ulp-proof (probed at both scales).
    "q95_percentiles" ->
      """SELECT c_nationkey,
        | round(quantile_cont(c_acctbal, 0.25), 4) AS q1,
        | round(quantile_cont(c_acctbal, 0.5), 4) AS med,
        | round(quantile_cont(c_acctbal, 0.75), 4) AS q3,
        | count(*) AS n
        |FROM customer GROUP BY 1""".stripMargin,
    // q96: full BM25 replay. Literals are ::DOUBLE (bare 0.75 is DECIMAL —
    // the q80 lesson); ranking is on the ROUNDED score + doc_id, which is
    // deterministic cross-engine given the probed boundary margins.
    "q96_bm25_topk" -> bm25TopkSql,
    // q97: the oracle IS the full recompute — the incremental merge must
    // equal it row-for-row (raw columns only, no aggregation → no FP risk).
    "q97_incremental_join" ->
      """SELECT o_custkey AS cust_id, o_orderkey, o_orderstatus,
        | o_totalprice, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin,
    // q98: id-order triangle enumeration (each triangle once, lo<mid<hi) —
    // orientation-independent, so it replays Spark's degree-ordered count.
    "q98_triangles" ->
      """WITH e0 AS (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS lo,
        |    greatest(a.l_partkey, b.l_partkey) AS hi
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        |tri AS (SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
        |  FROM e0 e1 JOIN e0 e2 ON e1.lo = e2.lo AND e1.hi < e2.hi
        |  JOIN e0 e3 ON e3.lo = e1.hi AND e3.hi = e2.hi),
        |nodes AS (SELECT lo AS n FROM e0 UNION SELECT hi FROM e0),
        |cnt AS (SELECT n, count(*) AS c FROM (
        |    SELECT a AS n FROM tri UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri) GROUP BY 1)
        |SELECT n AS part_id, coalesce(c, 0) AS n_triangles
        |FROM nodes LEFT JOIN cnt USING (n)""".stripMargin,
    // q99: correlated min over the same-user purchases at-or-after each
    // signup, horizon-filtered — epoch micros both sides (ns→us truncation
    // identical per the temporal invariant).
    "q99_funnel" ->
      """WITH ev AS (SELECT event_id, user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS tsu FROM events),
        |s AS (SELECT event_id, user_id, tsu FROM ev WHERE event_type = 'signup'),
        |p AS (SELECT user_id, tsu FROM ev WHERE event_type = 'purchase'),
        |m AS (SELECT s.event_id, s.user_id, s.tsu,
        |    (SELECT min(p.tsu) FROM p
        |     WHERE p.user_id = s.user_id AND p.tsu >= s.tsu) AS ptsu
        |  FROM s)
        |SELECT event_id, user_id, tsu AS signup_us,
        | CASE WHEN ptsu - tsu <= 1800000000 THEN ptsu END AS purchase_us,
        | CASE WHEN ptsu - tsu <= 1800000000 THEN ptsu - tsu END AS delay_us
        |FROM m""".stripMargin,
    // q100: same msb+2-bit bucketing as q80 (parenthesize the shifts —
    // DuckDB's | and & bind tighter than <<). Histograms integer-exact;
    // PSI terms rounded 4dp with probed boundary margins.
    "q100_drift_psi" ->
      """WITH ha AS (SELECT CAST((length(bin(n_chars)) - 1) * 4 +
        |      CASE WHEN length(bin(n_chars)) - 1 >= 2
        |           THEN (n_chars >> (length(bin(n_chars)) - 3)) & 3
        |           ELSE 0 END AS INT) AS bucket, count(*) AS n
        |  FROM documents WHERE doc_id % 2 = 0 AND n_chars >= 1 GROUP BY 1),
        |hb AS (SELECT CAST((length(bin(n_chars)) - 1) * 4 +
        |      CASE WHEN length(bin(n_chars)) - 1 >= 2
        |           THEN (n_chars >> (length(bin(n_chars)) - 3)) & 3
        |           ELSE 0 END AS INT) AS bucket, count(*) AS n
        |  FROM documents WHERE doc_id % 2 = 1 AND n_chars >= 1 GROUP BY 1),
        |j AS (SELECT coalesce(ha.bucket, hb.bucket) AS bucket,
        |    coalesce(ha.n, 0) AS n_a, coalesce(hb.n, 0) AS n_b
        |  FROM ha FULL JOIN hb ON ha.bucket = hb.bucket),
        |t AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb, count(*) AS k FROM j)
        |SELECT bucket, n_a, n_b,
        | round(((n_a + 0.5::DOUBLE)/(t.ta + t.k*0.5::DOUBLE)
        |    - (n_b + 0.5::DOUBLE)/(t.tb + t.k*0.5::DOUBLE))
        |  * ln(((n_a + 0.5::DOUBLE)/(t.ta + t.k*0.5::DOUBLE))
        |     / ((n_b + 0.5::DOUBLE)/(t.tb + t.k*0.5::DOUBLE))), 4) AS psi_term
        |FROM j CROSS JOIN t""".stripMargin,
    // q101: construction-arithmetic ground truth for the multimodal decode
    // + resize pipeline — the BMP fixture is built with w = id%29+2,
    // h = id%17+2, meta box 100×, so the decoded dims and the resize
    // formula (round(W·least(64/W, 64/H, 1)), identical IEEE doubles both
    // engines, half-up rounding both engines for positives) replay exactly.
    "q101_multimodal_dims" ->
      """SELECT doc_id AS media_id,
        | CAST(doc_id % 29 + 2 AS INT) AS dec_width,
        | CAST(doc_id % 17 + 2 AS INT) AS dec_height,
        | CAST(3 AS INT) AS dec_channels,
        | CAST(round(CAST(100*(doc_id % 29 + 2) AS DOUBLE)
        |   * least(64 / CAST(100*(doc_id % 29 + 2) AS DOUBLE),
        |           64 / CAST(100*(doc_id % 17 + 2) AS DOUBLE), 1.0)) AS INT) AS resized_w,
        | CAST(round(CAST(100*(doc_id % 17 + 2) AS DOUBLE)
        |   * least(64 / CAST(100*(doc_id % 29 + 2) AS DOUBLE),
        |           64 / CAST(100*(doc_id % 17 + 2) AS DOUBLE), 1.0)) AS INT) AS resized_h
        |FROM documents""".stripMargin,
    // q102: the oracle IS the O(N²) brute force — the prefix filter is
    // lossless by theorem (recall 1.0 by construction, see
    // Dedup.exactJaccardPairs), and the threshold verdict is pure integer
    // arithmetic, so no epsilon or probe is involved. Shingle CTE shape
    // shared with q33 (len<3 → whole text as one shingle).
    "q102_exact_jaccard" ->
      """WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        | FROM documents WHERE text IS NOT NULL AND len(trim(text)) > 0),
        |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |  ELSE list_transform(range(1, len(t) - 1), x -> concat(t[x], ' ', t[x+1], ' ', t[x+2])) END) AS s
        | FROM tok),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  len(list_intersect(a.s, b.s)) AS c, len(a.s) AS na, len(b.s) AS nb
        | FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(c AS INT) AS n_common,
        |  CAST(na + nb - c AS INT) AS n_union
        |FROM p WHERE 10 * c >= 9 * (na + nb - c)""".stripMargin,
    // q103: construction arithmetic for the WAV decode (real RIFF parse on
    // the Spark side round-trips the generator's parameters; nSamples is
    // divisible by every rate/1000, so the duration is integer-exact)
    "q103_audio_meta" ->
      """SELECT doc_id AS media_id,
        | CAST(doc_id % 2 + 1 AS INT) AS audio_channels,
        | CAST(8000 * (doc_id % 4 + 1) AS INT) AS sample_rate,
        | CAST(8 * (doc_id % 2 + 1) AS INT) AS bits_per_sample,
        | CAST((doc_id % 50 + 10) * 96 * 1000 / (8000 * (doc_id % 4 + 1)) AS BIGINT) AS audio_ms
        |FROM documents""".stripMargin,
    // q104: lag-replay of session_window's merge rule (merge while gap
    // < 1 h ⇔ split at >= 3600s; integer-micros comparison, boundary
    // probed ≥ 0.28 s clear); session_end = last event + gap
    "q104_session_window" -> sessionWindowSql,
    // q105: q47's recursive-CTE CC gives the cluster canonicals; all docs
    // left-join it (singletons canonicalize to themselves) and the split
    // replays q43's md5-bucket arithmetic on the CANONICAL id.
    "q105_cluster_split" ->
      """WITH RECURSIVE sh AS (
        | SELECT doc_id, list_distinct(list_transform(
        |   generate_series(1, len(string_split_regex(trim(text),'\s+')) - 2),
        |   i -> array_to_string((string_split_regex(trim(text),'\s+'))[i:i+2], ' '))) AS s
        | FROM documents),
        |jp AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM sh a, sh b
        | WHERE a.doc_id < b.doc_id
        |  AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.s, b.s))) >= 0.9),
        |p AS (SELECT id_a AS src, id_b AS dst FROM jp UNION ALL SELECT id_b, id_a FROM jp),
        |nodes AS (SELECT DISTINCT src AS id FROM p),
        |reach AS (
        | SELECT id, id AS root FROM nodes
        | UNION
        | SELECT p.dst AS id, r.root FROM reach r JOIN p ON p.src = r.id
        |),
        |cl AS (SELECT id AS doc_id, min(root) AS cluster_id FROM reach GROUP BY id)
        |SELECT doc_id, canonical_id,
        | CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS canonical_id,
        |  CAST(concat('0x', substr(md5(CAST(coalesce(cl.cluster_id, d.doc_id) AS VARCHAR)), 1, 15)) AS BIGINT) % 10 AS b
        | FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id)""".stripMargin,
    // q106: tokenizer replay + aligned-run count per start position;
    // out-of-range t[i+k] is NULL → condition false, so no bound fiddling
    // beyond the range() upper limit.
    "q106_phrase_search" ->
      """WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |h1 AS (SELECT 'fast table' AS phrase, doc_id,
        |  len(list_filter(range(1, len(t)), i -> t[i] = 'fast' AND t[i+1] = 'table')) AS n_occurrences
        | FROM tok),
        |h2 AS (SELECT 'data stream batch' AS phrase, doc_id,
        |  len(list_filter(range(1, len(t) - 1), i -> t[i] = 'data' AND t[i+1] = 'stream' AND t[i+2] = 'batch')) AS n_occurrences
        | FROM tok)
        |SELECT phrase, doc_id, n_occurrences
        |FROM (SELECT * FROM h1 UNION ALL SELECT * FROM h2)
        |WHERE n_occurrences > 0""".stripMargin,
    // q107: each event joins exactly the two epoch-aligned hopping windows
    // covering it — integer-micros floor alignment, BIGINT interval
    // literals per the temporal convention.
    "q107_hopping_window" ->
      """WITH ev AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type, value FROM events),
        |w AS (SELECT us - (us % (3600000000::BIGINT)) AS w0, event_type, value FROM ev),
        |x AS (SELECT unnest([w0, w0 - 3600000000::BIGINT]) AS window_start_us, event_type, value FROM w)
        |SELECT window_start_us, window_start_us + 7200000000::BIGINT AS window_end_us,
        | event_type, count(*) AS n, round(sum(value), 4) AS total_value
        |FROM x GROUP BY window_start_us, event_type""".stripMargin,
    // q108: single-batch streaming dedup emits exactly the distinct key set
    // (see q108StreamDedup's scaladoc for why that's deterministic here).
    "q108_stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    // q109: q22's portable signature + band replay, restricted to pairs
    // crossing the (index = doc_id % 10 <> 0, new = doc_id % 10 = 0) slice
    // boundary. est grid is 1/64 — exact binary doubles, so round(,4)
    // agrees across engines even at the .5 boundary (both half-up on the
    // exact value).
    "q109_index_dedup" ->
      s"""WITH ${portableSigCtes("doc_id")},
        |bandix AS (SELECT unnest(range(0, 16)) AS band),
        |banded AS (SELECT doc_id, band,
        |  CAST(concat('0x', substr(md5(concat(band::VARCHAR, '_',
        |    array_to_string(sig[band*4+1 : band*4+4], ','))), 1, 15)) AS BIGINT) AS bhash
        | FROM sig CROSS JOIN bandix),
        |cand AS (SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS corpus_id
        | FROM banded x JOIN banded y ON x.band = y.band AND x.bhash = y.bhash
        | WHERE x.doc_id % 10 = 0 AND y.doc_id % 10 <> 0),
        |est AS (SELECT c.new_id, c.corpus_id,
        |  len(list_filter(range(1, 65), j -> sa.sig[j] = sb.sig[j])) / 64.0 AS ej
        | FROM cand c JOIN sig sa ON sa.doc_id = c.new_id
        |             JOIN sig sb ON sb.doc_id = c.corpus_id)
        |SELECT new_id, corpus_id, round(ej, 4) AS est_jaccard FROM est WHERE ej >= 0.5""".stripMargin,
    // q110: RANGE frame over integer micros — the bound literal is BIGINT
    // by magnitude, no INT32 interval multiply (the temporal-convention
    // trap). Sum of 2dp values per frame stays on the 0.01 grid.
    "q110_rolling_window" ->
      """SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS event_us,
        | count(*) OVER w AS n_1h, round(sum(value) OVER w, 4) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
        | RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,
    // q111: incremental mergeClusters ≡ full recompute, so the oracle IS
    // q47's (the strongest possible check for a maintenance operator).
    "q111_merge_clusters" -> fullCcOracle,
    // q112: the oracle is the recompute on the reduced base — retraction
    // must be indistinguishable from never having ingested the rows.
    "q112_retract_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM lineitem WHERE l_orderkey % 7 <> 0
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    // q113: md5-bucket threshold per stratum, q43's arithmetic with
    // per-source cutoffs (0.5/0.2/0.05 of 10000 buckets).
    "q113_stratified_sample" ->
      """SELECT doc_id, source FROM documents
        |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000
        |  < CASE source WHEN 'src0' THEN 5000 WHEN 'src1' THEN 2000 ELSE 500 END""".stripMargin,
    // q114: three-branch replay of the merge construction — unchanged
    // actives, closed versions, fresh versions.
    "q114_scd2_merge" ->
      """WITH ex AS (SELECT c_custkey, c_name, true AS is_active,
        |  TIMESTAMP '2024-08-01 00:00:00' AS record_created_time,
        |  DATE '3000-01-01' AS record_updated_time FROM customer)
        |SELECT * FROM ex WHERE c_custkey % 5 <> 0
        |UNION ALL
        |SELECT c_custkey, c_name, false AS is_active, record_created_time,
        | DATE '2024-08-07' AS record_updated_time FROM ex WHERE c_custkey % 5 = 0
        |UNION ALL
        |SELECT c_custkey, c_name || ' (updated)' AS c_name, true AS is_active,
        | TIMESTAMP '2024-08-07 00:00:00' AS record_created_time,
        | DATE '3000-01-01' AS record_updated_time
        |FROM customer WHERE c_custkey % 5 = 0""".stripMargin,
    // q115: dense index = row_number in id order; draw = md5-60 of
    // "qid:slot:" mod corpus size; self-collisions dropped. INT-cast the
    // slot (range() yields BIGINT, Spark's sequence slot is INT).
    "q115_negative_samples" ->
      """WITH idx AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS i FROM documents),
        |slots AS (SELECT q.doc_id AS qid, CAST(s.slot AS INT) AS slot
        | FROM documents q, (SELECT unnest(range(0, 5)) AS slot) s
        | WHERE q.doc_id % 50 = 0),
        |draws AS (SELECT qid, slot,
        |  CAST(concat('0x', substr(md5(qid::VARCHAR || ':' || slot::VARCHAR || ':'), 1, 15)) AS BIGINT)
        |    % (SELECT count(*) FROM documents) AS d
        | FROM slots)
        |SELECT qid, slot, idx.doc_id AS neg_id
        |FROM draws JOIN idx ON idx.i = draws.d
        |WHERE idx.doc_id <> draws.qid""".stripMargin,
    // q116: quantize (floor(x·1e6 + 0.5), the QuantizeVecExpr replay),
    // exact bigint component sums per label, cosine of the raw doubles
    // against the integer-exact centroid direction.
    "q116_centroid_outliers" ->
      """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |qv AS (SELECT vec_id, label,
        |  list_transform(v, x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS q FROM e),
        |s AS (SELECT label, i, sum(q[i]) AS sc
        |  FROM qv CROSS JOIN range(1, 65) t(i) GROUP BY label, i),
        |cent AS (SELECT label, list(CAST(sc AS DOUBLE) ORDER BY i) AS c FROM s GROUP BY label)
        |SELECT vec_id, e.label, round(list_cosine_similarity(e.v, cent.c), 4) AS centroid_cos
        |FROM e JOIN cent USING (label)""".stripMargin,
    // q117: the fold across micro-batches must equal the one-shot rollup
    // (counts + DECIMAL sums merge exactly under any batch split).
    "q117_stream_rollup_fold" ->
      """SELECT event_type, user_id % 10 AS cohort, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events GROUP BY event_type, user_id % 10""".stripMargin,
    // q118: compaction must be invisible to readers — the oracle is the
    // same rollup over the ORIGINAL table.
    "q118_compact_roundtrip" ->
      """SELECT source, count(*) AS n_docs,
        | CAST(sum(length(text)) AS BIGINT) AS total_chars
        |FROM documents GROUP BY source""".stripMargin,
    // q119: full integer replay of the int8 quantization — grid snap
    // (floor(x·1e6+0.5), the QuantizeVecExpr device), then bigint-only
    // scale/code/error arithmetic. `//` is DuckDB's floor-div; the sums
    // CAST back to BIGINT because DuckDB widens sum(BIGINT) to HUGEINT.
    // The vec_id set comes from the EMBEDDINGS table, not the unnest —
    // unnest of an empty vector emits no rows, which would silently drop
    // the (qmax=0, 0, 0) row Int8QuantExpr still produces; a NULL vector
    // stays a null row on both sides (null struct ⇒ null fields).
    "q119_int8_quant" ->
      """WITH q AS (
        |  SELECT vec_id, CAST(floor(c*1000000.0 + 0.5) AS BIGINT) AS qi
        |  FROM (SELECT vec_id, unnest(embedding)::DOUBLE AS c FROM embeddings)
        |), m AS (
        |  SELECT vec_id, max(abs(qi)) AS qmax FROM q GROUP BY vec_id
        |), c AS (
        |  SELECT q.vec_id, m.qmax, qi,
        |    CASE WHEN m.qmax = 0 THEN 0
        |         WHEN qi >= 0 THEN (qi*254 + m.qmax) // (2*m.qmax)
        |         ELSE -(((-qi)*254 + m.qmax) // (2*m.qmax)) END AS code
        |  FROM q JOIN m ON q.vec_id = m.vec_id
        |), agg AS (
        |  SELECT vec_id, qmax,
        |    CAST(sum(abs(code)) AS BIGINT) AS code_l1,
        |    CAST(sum(abs(127*qi - code*qmax)) AS BIGINT) AS err_l1
        |  FROM c GROUP BY vec_id, qmax
        |)
        |SELECT e.vec_id,
        |  CASE WHEN e.embedding IS NULL THEN NULL ELSE coalesce(a.qmax, 0) END AS qmax,
        |  CASE WHEN e.embedding IS NULL THEN NULL ELSE coalesce(a.code_l1, 0) END AS code_l1,
        |  CASE WHEN e.embedding IS NULL THEN NULL ELSE coalesce(a.err_l1, 0) END AS err_l1
        |FROM embeddings e LEFT JOIN agg a ON e.vec_id = a.vec_id""".stripMargin,
    // q120: each snapshot's rollup derives from its construction — v1 is
    // the full table (read back after the rollback), v2 the filtered
    // publish (read via time travel).
    "q120_snapshot_time_travel" ->
      """SELECT 'v1' AS snap, source, count(*) AS n_docs,
        | CAST(sum(length(text)) AS BIGINT) AS total_chars
        |FROM documents GROUP BY source
        |UNION ALL
        |SELECT 'v2' AS snap, source, count(*) AS n_docs,
        | CAST(sum(length(text)) AS BIGINT) AS total_chars
        |FROM documents WHERE doc_id % 3 <> 0 GROUP BY source""".stripMargin,
    // q121: utf8proc's NFC must byte-match java.text.Normalizer's — the
    // suffix (interpolated from the SAME Scala constant the Spark side
    // uses, so the bytes cannot drift) carries the decomposed sequences
    // verbatim in UTF-8.
    "q121_nfc_normalize" ->
      s"""SELECT doc_id,
        | CAST(length(text || '$NfcSuffix') AS INT) AS len_raw,
        | CAST(length(nfc_normalize(text || '$NfcSuffix')) AS INT) AS len_nfc,
        | md5(nfc_normalize(text || '$NfcSuffix')) AS h
        |FROM documents""".stripMargin,
    // q122: verbatim integer replay of the type-7 threshold arithmetic —
    // cent grid snap, k/r split, scaled t_num, strict integer compare.
    // `//` is DuckDB floor-div; counts CAST to BIGINT (HUGEINT trap).
    "q122_anomaly_threshold" ->
      """WITH c AS (
        |  SELECT event_type AS g, CAST(floor(value*100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL
        |), r AS (
        |  SELECT g, cents,
        |    row_number() OVER (PARTITION BY g ORDER BY cents) AS rn,
        |    count(*) OVER (PARTITION BY g) AS n
        |  FROM c
        |), t AS (
        |  SELECT g, max(n) AS n,
        |    max(CASE WHEN rn = (99*(n-1))//100 + 1 THEN cents END) AS xk,
        |    max(CASE WHEN rn = (99*(n-1))//100 + 2 THEN cents END) AS xk1,
        |    max((99*(n-1))%100) AS r
        |  FROM r GROUP BY g
        |), u AS (
        |  SELECT g, n, xk*(100 - r) + COALESCE(xk1, xk)*r AS t_num FROM t
        |)
        |SELECT u.g AS event_type, u.n, u.t_num,
        |  CAST(count(*) FILTER (WHERE c.cents*100 > u.t_num) AS BIGINT) AS n_above
        |FROM u JOIN c ON c.g IS NOT DISTINCT FROM u.g
        |GROUP BY u.g, u.n, u.t_num""".stripMargin,
    // q123: same lag replay, ordered by (epoch micros, event_id) — the
    // explicit tie-breaker both engines share.
    "q123_event_transitions" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu, event_id, event_type
        |  FROM events
        |), l AS (
        |  SELECT event_type, lag(event_type) OVER (
        |    PARTITION BY user_id ORDER BY tsu, event_id) AS prev
        |  FROM e
        |)
        |SELECT prev AS prev_state, event_type AS state, count(*) AS n
        |FROM l WHERE prev IS NOT NULL GROUP BY prev, event_type""".stripMargin,
    // q124: file skipping must be invisible to results — the oracle is
    // the plain filtered rollup, with the band bounds derived by the
    // same integer arithmetic ((max·3)÷10, (max·5)÷10).
    "q124_pruned_scan" ->
      """SELECT o_orderstatus, count(*) AS n,
        | round(sum(o_totalprice), 4) AS total
        |FROM orders
        |WHERE o_custkey BETWEEN (SELECT max(o_custkey)*3//10 FROM orders)
        |                    AND (SELECT max(o_custkey)*5//10 FROM orders)
        |GROUP BY o_orderstatus""".stripMargin,
    // q125: DuckDB's windowed list() replays the exact 5-row frame; the
    // ×2-scaled integer median avoids ever producing a double. len() is
    // BIGINT (cast to INT to match Spark's size()); lists are 1-indexed
    // in both formulations.
    "q125_rolling_median" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu,
        |    CAST(floor(value*100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL
        |), l AS (
        |  SELECT user_id, event_id, list_sort(list(cents) OVER (
        |    PARTITION BY user_id ORDER BY tsu, event_id
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS fr
        |  FROM e
        |)
        |SELECT user_id, event_id, CAST(len(fr) AS INT) AS m,
        |  CASE WHEN len(fr) % 2 = 1 THEN 2*fr[CAST((len(fr)+1)//2 AS INT)]
        |       ELSE fr[CAST(len(fr)//2 AS INT)] + fr[CAST(len(fr)//2 + 1 AS INT)]
        |  END AS med2
        |FROM l""".stripMargin,
    // q126: floor-binning replayed as x − pmod(x, w) (DuckDB % is
    // truncated division — the ((x%w)+w)%w wrap restores floor
    // semantics for negative balances); counts CAST to BIGINT.
    "q126_k_anonymity" ->
      """WITH b AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal) AS BIGINT)
        |      - ((CAST(floor(c_acctbal) AS BIGINT) % 1000) + 1000) % 1000 AS bin
        |  FROM customer
        |), g AS (
        |  SELECT c_nationkey, c_mktsegment, bin, count(*) AS sz
        |  FROM b GROUP BY c_nationkey, c_mktsegment, bin
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
        |  CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) AS rows_at_risk,
        |  min(sz) AS min_class_size
        |FROM g""".stripMargin,
    // q127: LEFT JOIN ... IS NULL is the null-trap-free anti-join; the
    // injected-orphan construction replays verbatim. counts CAST to
    // BIGINT (HUGEINT trap does not apply to count, but DISTINCT counts
    // stay BIGINT anyway — casts kept for uniformity). n_orphan_keys
    // counts the null key explicitly (count(DISTINCT) drops it, so each
    // branch adds max(CASE k IS NULL) — the fkOrphans rule).
    "q127_fk_audit" ->
      """WITH child1 AS (
        |  SELECT o_custkey FROM orders
        |  UNION ALL
        |  SELECT -(o_custkey + 1) FROM orders WHERE o_orderkey % 100 = 0
        |  UNION ALL
        |  SELECT NULL FROM orders WHERE o_orderkey % 101 = 0
        |), o1 AS (
        |  SELECT c.o_custkey AS k FROM child1 c
        |  LEFT JOIN customer p ON c.o_custkey = p.c_custkey
        |  WHERE p.c_custkey IS NULL
        |), o2 AS (
        |  SELECT l.l_orderkey AS k FROM lineitem l
        |  LEFT JOIN orders p ON l.l_orderkey = p.o_orderkey
        |  WHERE p.o_orderkey IS NULL
        |), o3 AS (
        |  SELECT c.c_nationkey AS k FROM customer c
        |  LEFT JOIN nation p ON c.c_nationkey = p.n_nationkey
        |  WHERE p.n_nationkey IS NULL
        |)
        |SELECT 'orders->customer' AS relation,
        |  CAST(count(*) AS BIGINT) AS n_orphan_rows,
        |  CAST(count(DISTINCT k)
        |    + coalesce(max(CASE WHEN k IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
        |    AS n_orphan_keys FROM o1
        |UNION ALL
        |SELECT 'lineitem->orders', CAST(count(*) AS BIGINT),
        |  CAST(count(DISTINCT k)
        |    + coalesce(max(CASE WHEN k IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) FROM o2
        |UNION ALL
        |SELECT 'customer->nation', CAST(count(*) AS BIGINT),
        |  CAST(count(DISTINCT k)
        |    + coalesce(max(CASE WHEN k IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) FROM o3""".stripMargin,
    // q128: integer day buckets (micros div 86400000000) and a
    // cumulative window over the (type, day) aggregate — all BIGINT.
    "q128_audience_curve" ->
      """WITH f AS (
        |  SELECT event_type, user_id,
        |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS first_us
        |  FROM events GROUP BY event_type, user_id
        |), d AS (
        |  SELECT event_type, first_us // 86400000000 AS day,
        |    count(*) AS new_users
        |  FROM f GROUP BY event_type, first_us // 86400000000
        |)
        |SELECT event_type, day, new_users,
        |  CAST(sum(new_users) OVER (PARTITION BY event_type ORDER BY day)
        |    AS BIGINT) AS cum_users
        |FROM d""".stripMargin,
    // q129: generated unrolled greedy replay (see mmrOracle scaladoc).
    "q129_mmr_diverse" -> mmrOracle(candidates = 40, k = 8),
    // q181: best-fit-decreasing packing — generated 8-step unrolled
    // greedy over LIST bin state; items regenerate from the same
    // portable-md5 grid on both sides, so everything is integer-exact.
    "q181_bfd_pack" -> bfdOracle(maxItems = 8, cap = 128),
    // q182: the restartable pipeline's END STATE — clean+dedup replayed
    // as a window CTE feeding q96's scoring chain (shared generator),
    // per-source survivor counts joined on. The crash/restart/repair
    // choreography is require-asserted in-query; THIS replay proves the
    // recovered end state is the correct one.
    "q182_restartable_pipeline" ->
      ("WITH " + pipelineSurvCte + ",\n" +
        bm25ReplayChain("surv", "", decimals = 3) +
        raw""",
        |sc2 AS (SELECT source, count(*) AS src_docs FROM surv GROUP BY 1)
        |SELECT r.qid, CAST(r.rank AS INT) AS rank, r.doc_id, r.score, sc2.src_docs
        |FROM rk r JOIN surv sv ON r.doc_id = sv.doc_id
        |JOIN sc2 ON sv.source = sc2.source
        |WHERE r.rank <= 5""".stripMargin),
    // q183: learned quality filter — generated unrolled 8-epoch batch-GD
    // replay (BIGINT micro-unit weights, floor-div updates); the one
    // float surface (exp-ulp flipping a residual floor) probed by
    // tools/probe_qf.py.
    "q183_quality_filter" ->
      qfOracle(buckets = 256, biasValue = 32, epochs = 8, lrScale = 27),
    // q184: per-version q106-style phrase replay — v2 = full corpus,
    // v3 = tombstoned corpus; integer counts, nothing to probe.
    "q184_phrase_versioned" ->
      ("WITH " + phraseHitCtes("2", "") + ",\n" +
        phraseHitCtes("3", " AND doc_id % 11 <> 4") + raw"""
        |SELECT 2 AS version, phrase, doc_id, n_occurrences
        |FROM (SELECT * FROM h2a UNION ALL SELECT * FROM h2b)
        |WHERE n_occurrences > 0
        |UNION ALL
        |SELECT 3 AS version, phrase, doc_id, n_occurrences
        |FROM (SELECT * FROM h3a UNION ALL SELECT * FROM h3b)
        |WHERE n_occurrences > 0""".stripMargin),
    // q185: unrolled HRU greedy — DuckDB computes the candidate
    // cardinalities itself; integer benefits, deterministic tie-break.
    "q185_lattice_advisor" -> latticeAdvisorOracle(k = 3),
    // q187: the SAME greedy replay — the captured workload is required
    // in-query to equal q185's literal one, so a capture bug that fed
    // the advisor different grains hash-fails here.
    "q187_workload_tuning" -> latticeAdvisorOracle(k = 3),
    // q188: the shared training chain at epochs=4 + a plain row_number
    // budget cut — integer-exact, ceil via the same truncating-div rule.
    "q188_budgeted_filter" ->
      (qfOracleChain(buckets = 256, biasValue = 32, epochs = 4,
        lrScale = 27) + raw""",
        |scored AS MATERIALIZED (
        |  SELECT l.doc_id, CAST(sum(f.cnt * w.w) AS BIGINT) AS score_micro
        |  FROM ft f JOIN w4 w USING (bucket) JOIN lb l ON f.doc_id = l.doc_id
        |  GROUP BY 1),
        |rk AS (SELECT doc_id, score_micro,
        |    row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rnk
        |  FROM scored)
        |SELECT doc_id, score_micro FROM rk
        |WHERE rnk <= (SELECT (count(*) + 3) // 4 FROM scored)""".stripMargin),
    // q189: the shared greedy replay with KMV-estimated cardinalities
    // (the q69 estimator per candidate tuple) — deterministic integers.
    "q189_approx_advisor" -> latticeAdvisorOracle(k = 3, approxK = Some(256)),
    // q190: shared training chain + row_number budget cut + the q177
    // span replay re-keyed to (score DESC, doc_id) — curriculum order.
    "q190_curriculum_pack" ->
      (qfOracleChain(buckets = 256, biasValue = 32, epochs = 4,
        lrScale = 27) + raw""",
        |scored AS MATERIALIZED (
        |  SELECT l.doc_id, CAST(sum(f.cnt * w.w) AS BIGINT) AS score_micro
        |  FROM ft f JOIN w4 w USING (bucket) JOIN lb l ON f.doc_id = l.doc_id
        |  GROUP BY 1),
        |rkq AS (SELECT doc_id, score_micro,
        |    row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rnk
        |  FROM scored),
        |sel AS MATERIALIZED (SELECT doc_id, score_micro FROM rkq
        |  WHERE rnk <= (SELECT (count(*) + 3) // 4 FROM scored)),
        |t2 AS MATERIALIZED (
        |  SELECT s.doc_id, s.score_micro, CAST(len(d.toks) AS BIGINT) AS w
        |  FROM sel s JOIN d ON d.doc_id = s.doc_id),
        |p AS (SELECT doc_id, w,
        |  CAST(coalesce(sum(w) OVER (ORDER BY score_micro DESC, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
        |  FROM t2),
        |u AS (SELECT doc_id, w, start,
        |  unnest(generate_series(start // 256, (start + w - 1) // 256)) AS k
        |  FROM p)
        |SELECT k AS seq_id, doc_id,
        |  greatest(start, k * 256) - k * 256 AS seq_off,
        |  greatest(start, k * 256) - start AS tok_off,
        |  least(start + w, (k + 1) * 256) - greatest(start, k * 256) AS span_len
        |FROM u""".stripMargin),
    // q191: computed-dimension grain — all three legs are answered from
    // month()-grained summaries in-plan (required in-query: coarse om
    // grain for the grouped/filtered legs, the two-dim grain for the
    // CUBE leg's four grouping sets); the oracle recomputes them from
    // the base. DuckDB month() is BIGINT → CAST; cube grouping-set NULLs
    // are unambiguous (o_orderdate is never NULL); 2dp float sums over
    // 2dp data (q165 regime).
    "q191_expr_grain" ->
      """SELECT 'all' AS leg, CAST(month(CAST(o_orderdate AS DATE)) AS INT) AS om,
        | CAST(NULL AS VARCHAR) AS status,
        | count(*) AS n_rows, round(sum(o_totalprice), 2) AS sum_total,
        | min(o_totalprice) AS mn, max(o_totalprice) AS mx
        |FROM orders GROUP BY 2
        |UNION ALL
        |SELECT 'mar', CAST(3 AS INT), NULL, count(*),
        | round(sum(o_totalprice), 2), min(o_totalprice), max(o_totalprice)
        |FROM orders WHERE month(CAST(o_orderdate AS DATE)) = 3
        |UNION ALL
        |SELECT 'cube', CAST(month(CAST(o_orderdate AS DATE)) AS INT),
        | o_orderstatus, count(*), round(sum(o_totalprice), 2),
        | min(o_totalprice), max(o_totalprice)
        |FROM orders
        |GROUP BY CUBE (month(CAST(o_orderdate AS DATE)), o_orderstatus)""".stripMargin,
    // q193: bigram training + held-out confusion — the shared chain in
    // bigram mode; acc_bp = exact integer basis points (HUGEINT sums
    // CAST to BIGINT; // truncates like Spark div). A training drift,
    // feature-hash drift, or split leak all move per-doc scores AND the
    // stamped accuracy — both hash-gated.
    "q193_qf_holdout" ->
      (qfOracleChain(buckets = 256, biasValue = 32, epochs = 8,
        lrScale = 29, bigrams = true) + raw""",
        |hs AS MATERIALIZED (
        |  SELECT l.doc_id, l.y, CAST(sum(f.cnt * w.w) AS BIGINT) AS score_micro,
        |    CASE WHEN sum(f.cnt * w.w) > 0 THEN 1 ELSE 0 END AS keep
        |  FROM ft f JOIN w8 w USING (bucket) JOIN lb l ON f.doc_id = l.doc_id
        |  WHERE l.doc_id % 4 = 1 GROUP BY 1, 2)
        |SELECT doc_id, y AS label, score_micro, keep,
        |  CAST((SELECT sum(CASE WHEN keep = y THEN 1 ELSE 0 END) * 10000 FROM hs)
        |    // (SELECT count(*) FROM hs) AS BIGINT) AS acc_bp
        |FROM hs""".stripMargin),
    // q196: BETWEEN/IN over the month() grain — a missed summary serve
    // trips the in-query plan require; wrong filter routing changes the
    // month sets and hash-fails. DuckDB month() is BIGINT — CAST to INT.
    "q196_grain_range_filter" ->
      """SELECT 'between' AS leg, CAST(month(o_orderdate) AS INT) AS om,
        | count(*) AS n_rows, round(sum(o_totalprice), 2) AS sum_total,
        | min(o_totalprice) AS mn, max(o_totalprice) AS mx
        |FROM orders WHERE month(o_orderdate) BETWEEN 3 AND 5 GROUP BY 2
        |UNION ALL
        |SELECT 'in', CAST(month(o_orderdate) AS INT), count(*),
        | round(sum(o_totalprice), 2), min(o_totalprice), max(o_totalprice)
        |FROM orders WHERE month(o_orderdate) IN (2, 7, 11) GROUP BY 2""".stripMargin,
    // q197: two-summary join navigation — the served answer must equal
    // the direct join recompute (duplicate-factoring: fact partials ×
    // dim __cnt_rows; customer keys are unique here, the multiplicity
    // algebra is spec-pinned on constructed duplicates).
    "q197_join_navigation" ->
      """SELECT c_mktsegment, count(*) AS n_rows,
        | round(sum(o_totalprice), 2) AS sum_total,
        | min(o_totalprice) AS mn, max(o_totalprice) AS mx
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,
    // q195: the adaptive-bucket chain — same held-out scoring as q193
    // but tf/ft/w0 derive the bucket count from the KMV vocabulary
    // estimate (nbuk CTE); the derived nb is an output column, so a
    // derivation drift hash-fails directly.
    "q195_qf_adaptive" ->
      (qfOracleChain(buckets = 0, biasValue = 32, epochs = 8,
        lrScale = 29, bigrams = true,
        adaptive = Some((1024, 256, 1 << 20))) + raw""",
        |hs AS MATERIALIZED (
        |  SELECT l.doc_id, l.y, CAST(sum(f.cnt * w.w) AS BIGINT) AS score_micro,
        |    CASE WHEN sum(f.cnt * w.w) > 0 THEN 1 ELSE 0 END AS keep
        |  FROM ft f JOIN w8 w USING (bucket) JOIN lb l ON f.doc_id = l.doc_id
        |  WHERE l.doc_id % 4 = 1 GROUP BY 1, 2)
        |SELECT doc_id, y AS label, score_micro, keep,
        |  CAST((SELECT sum(CASE WHEN keep = y THEN 1 ELSE 0 END) * 10000 FROM hs)
        |    // (SELECT count(*) FROM hs) AS BIGINT) AS acc_bp,
        |  (SELECT CAST(nb AS INT) FROM nbuk) AS nb
        |FROM hs""".stripMargin),
    // q192: incremental summary refresh — both legs must fold the
    // appended delta in through Rollup.merge (a missed refresh serves
    // pre-append values and hash-fails; a full-base rescan trips the
    // in-query delta-file-set require). Oracle = base∪delta recompute
    // per leg. 2dp float sums (q165 regime).
    "q192_summary_refresh" ->
      """WITH ob AS (
        | SELECT o_orderpriority, o_orderstatus, o_totalprice FROM orders
        | UNION ALL
        | SELECT o_orderpriority, o_orderstatus, o_totalprice FROM orders
        | WHERE o_orderkey % 7 = 3)
        |SELECT 'coarse' AS leg, o_orderstatus AS grp, count(*) AS n_rows,
        | round(sum(o_totalprice), 2) AS sum_total,
        | min(o_totalprice) AS mn, max(o_totalprice) AS mx
        |FROM ob GROUP BY 2
        |UNION ALL
        |SELECT 'fine', o_orderpriority, count(*),
        | round(sum(o_totalprice), 2), min(o_totalprice), max(o_totalprice)
        |FROM ob GROUP BY 2""".stripMargin,
    // q194: delete-aware refresh — the retracted summary must equal the
    // reduced-base recompute (a missed retraction serves pre-delete
    // values and hash-fails; a stale fall-through trips the in-query
    // plan require). Integer measure: retraction is bit-exact. DuckDB
    // sum(BIGINT) is HUGEINT — CAST back.
    "q194_summary_retract" ->
      """SELECT o_orderstatus AS grp, count(*) AS n_rows,
        | CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        | min(o_custkey) AS mn, max(o_custkey) AS mx
        |FROM orders WHERE o_orderkey % 6 NOT IN (1, 4)
        |GROUP BY 1""".stripMargin,
    // q198: serve-time compensation — base∪delta is the whole orders
    // table by construction, so the oracle is a plain recompute; the
    // union-merge algebra (and the exact grain distinct over the union)
    // must be invisible in the answer. A wrong delta set or a missed
    // merge double-counts or under-counts and hash-fails; a stale serve
    // or a base scan trips the in-query plan requires. Integer measure:
    // bit-exact, no float surface. DuckDB sum(BIGINT) is HUGEINT — CAST.
    "q198_compensated_serve" ->
      """SELECT 'agg' AS leg, o_orderstatus AS grp, count(*) AS n_rows,
        | CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        | min(o_custkey) AS mn, max(o_custkey) AS mx,
        | CAST(NULL AS BIGINT) AS n_prio
        |FROM orders GROUP BY 2
        |UNION ALL
        |SELECT 'dist', o_orderstatus, count(*),
        | CAST(sum(o_custkey) AS BIGINT), min(o_custkey), max(o_custkey),
        | count(DISTINCT o_orderpriority)
        |FROM orders GROUP BY 2""".stripMargin,
    // q199: compensated CUBE + two-sided compensated join navigation —
    // base∪delta = the full orders/customer tables by construction, so
    // the oracle recomputes directly (GROUP BY CUBE for the cube leg, a
    // plain join for the nav leg). Wrong multiplicity under the dim-side
    // union (x·n1 + x·n2 ≠ x·n) or a missed per-set merge under the
    // Expand would hash-fail; base scans trip the in-query requires.
    "q199_compensated_cube_nav" ->
      """SELECT 'cube' AS leg, o_orderstatus AS g1, o_orderpriority AS g2,
        | count(*) AS n_rows, CAST(sum(o_orderkey) AS BIGINT) AS sum_ok,
        | min(o_orderkey) AS mn, max(o_orderkey) AS mx
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |UNION ALL
        |SELECT 'nav', c_mktsegment, CAST(NULL AS VARCHAR), count(*),
        | CAST(sum(o_orderkey) AS BIGINT), min(o_orderkey), max(o_orderkey)
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 2""".stripMargin,
    // q200: histogram-carrying rollups — each leg replays q80's
    // msb+2-bit bucket arithmetic over its leg's corpus (fresh = the
    // 3-slice registered state, comp = the full table after the
    // append), cum/total window, lower-bound pick at ceil(total * DOUBLE
    // prob) — the q80 float-surface discipline. A lossy merge or a
    // missed delta union shifts bucket counts and hash-fails.
    "q200_hist_rollup_serve" ->
      """WITH b1 AS (
        | SELECT o_orderstatus AS grp, (length(bin(o_custkey)) - 1) AS msb,
        |  CASE WHEN length(bin(o_custkey)) - 1 >= 2
        |       THEN (o_custkey >> (length(bin(o_custkey)) - 3)) & 3
        |       ELSE 0 END AS sub
        | FROM orders WHERE o_custkey >= 1 AND o_orderkey % 4 <> 3),
        |h1 AS (SELECT grp, msb*4 + sub AS bucket,
        |  CASE WHEN msb >= 2
        |       THEN (1::BIGINT << msb) + sub*(1::BIGINT << (msb - 2))
        |       ELSE (1::BIGINT << msb) END AS lo,
        |  count(*) AS cnt
        | FROM b1 GROUP BY 1, 2, 3),
        |c1 AS (SELECT grp, bucket, lo, cnt,
        |  sum(cnt) OVER (PARTITION BY grp ORDER BY bucket) AS cum,
        |  sum(cnt) OVER (PARTITION BY grp) AS total FROM h1),
        |b2 AS (
        | SELECT o_orderstatus AS grp, (length(bin(o_custkey)) - 1) AS msb,
        |  CASE WHEN length(bin(o_custkey)) - 1 >= 2
        |       THEN (o_custkey >> (length(bin(o_custkey)) - 3)) & 3
        |       ELSE 0 END AS sub
        | FROM orders WHERE o_custkey >= 1),
        |h2 AS (SELECT grp, msb*4 + sub AS bucket,
        |  CASE WHEN msb >= 2
        |       THEN (1::BIGINT << msb) + sub*(1::BIGINT << (msb - 2))
        |       ELSE (1::BIGINT << msb) END AS lo,
        |  count(*) AS cnt
        | FROM b2 GROUP BY 1, 2, 3),
        |c2 AS (SELECT grp, bucket, lo, cnt,
        |  sum(cnt) OVER (PARTITION BY grp ORDER BY bucket) AS cum,
        |  sum(cnt) OVER (PARTITION BY grp) AS total FROM h2),
        |p AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS prob)
        |SELECT 'fresh' AS leg, grp, p.prob, min(lo) AS q,
        | CAST(min(total) AS BIGINT) AS n
        |FROM c1 CROSS JOIN p WHERE cum >= ceil(total * p.prob) GROUP BY 1, 2, 3
        |UNION ALL
        |SELECT 'comp', grp, p.prob, min(lo), CAST(min(total) AS BIGINT)
        |FROM c2 CROSS JOIN p WHERE cum >= ceil(total * p.prob) GROUP BY 1, 2, 3""".stripMargin,
    // q201: self-designed lattice — the DESIGN is structurally required
    // in-query (grains + carried layouts + per-leg routing); the hash
    // gate replays the WORKLOAD the designed lattice serves: grouped
    // 2dp sum, filtered min, exact distinct, and the q80 histogram
    // replay for the quantile leg. A wrong design either trips the
    // requires or serves wrong values and hash-fails.
    "q201_designed_lattice" ->
      """WITH bh AS (
        | SELECT o_orderstatus AS grp, (length(bin(o_custkey)) - 1) AS msb,
        |  CASE WHEN length(bin(o_custkey)) - 1 >= 2
        |       THEN (o_custkey >> (length(bin(o_custkey)) - 3)) & 3
        |       ELSE 0 END AS sub
        | FROM orders WHERE o_custkey >= 1),
        |hh AS (SELECT grp, msb*4 + sub AS bucket,
        |  CASE WHEN msb >= 2
        |       THEN (1::BIGINT << msb) + sub*(1::BIGINT << (msb - 2))
        |       ELSE (1::BIGINT << msb) END AS lo,
        |  count(*) AS cnt
        | FROM bh GROUP BY 1, 2, 3),
        |ch AS (SELECT grp, bucket, lo, cnt,
        |  sum(cnt) OVER (PARTITION BY grp ORDER BY bucket) AS cum,
        |  sum(cnt) OVER (PARTITION BY grp) AS total FROM hh),
        |q4 AS (SELECT grp, min(lo) AS p90 FROM ch
        |  WHERE cum >= ceil(total * 0.9::DOUBLE) GROUP BY 1),
        |n4 AS (SELECT o_orderstatus AS grp, count(*) AS n FROM orders GROUP BY 1)
        |SELECT 'w1' AS leg, o_orderstatus AS grp, count(*) AS n_rows,
        | round(sum(o_totalprice), 2) AS sum_total,
        | CAST(NULL AS BIGINT) AS mn_cust, CAST(NULL AS BIGINT) AS n_prio,
        | CAST(NULL AS BIGINT) AS p90
        |FROM orders GROUP BY 2
        |UNION ALL
        |SELECT 'w2', o_orderstatus, count(*), CAST(NULL AS DOUBLE),
        | min(o_custkey), NULL, NULL
        |FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 2
        |UNION ALL
        |SELECT 'w3', o_orderstatus, count(*), CAST(NULL AS DOUBLE), NULL,
        | count(DISTINCT o_orderpriority), NULL
        |FROM orders GROUP BY 2
        |UNION ALL
        |SELECT 'w4', n4.grp, n4.n, CAST(NULL AS DOUBLE), NULL, NULL, q4.p90
        |FROM n4 JOIN q4 ON n4.grp = q4.grp""".stripMargin,
    // q202: designed-lattice maintenance — per-phase recomputes: the
    // app leg over the full table (base∪append), the del leg under
    // o_orderkey % 4 <> 1 (slice s1 retracted). Integer sums retract
    // bit-exactly; histograms subtract (the q200 replay per phase). A
    // refresh that misses a file, or a retraction that leaves s1's
    // buckets behind, hash-fails; stale serves trip the plan requires.
    "q202_designed_maintenance" ->
      """WITH ba AS (
        | SELECT o_orderstatus AS grp, (length(bin(o_custkey)) - 1) AS msb,
        |  CASE WHEN length(bin(o_custkey)) - 1 >= 2
        |       THEN (o_custkey >> (length(bin(o_custkey)) - 3)) & 3
        |       ELSE 0 END AS sub
        | FROM orders WHERE o_custkey >= 1),
        |ha AS (SELECT grp, msb*4 + sub AS bucket,
        |  CASE WHEN msb >= 2
        |       THEN (1::BIGINT << msb) + sub*(1::BIGINT << (msb - 2))
        |       ELSE (1::BIGINT << msb) END AS lo, count(*) AS cnt
        | FROM ba GROUP BY 1, 2, 3),
        |ca AS (SELECT grp, lo, cnt,
        |  sum(cnt) OVER (PARTITION BY grp ORDER BY bucket) AS cum,
        |  sum(cnt) OVER (PARTITION BY grp) AS total FROM ha),
        |qa AS (SELECT grp, min(lo) AS p90 FROM ca
        |  WHERE cum >= ceil(total * 0.9::DOUBLE) GROUP BY 1),
        |na AS (SELECT o_orderstatus AS grp, count(*) AS n,
        |  CAST(sum(o_custkey) AS BIGINT) AS sc FROM orders GROUP BY 1),
        |bd AS (
        | SELECT o_orderstatus AS grp, (length(bin(o_custkey)) - 1) AS msb,
        |  CASE WHEN length(bin(o_custkey)) - 1 >= 2
        |       THEN (o_custkey >> (length(bin(o_custkey)) - 3)) & 3
        |       ELSE 0 END AS sub
        | FROM orders WHERE o_custkey >= 1 AND o_orderkey % 4 <> 1),
        |hd AS (SELECT grp, msb*4 + sub AS bucket,
        |  CASE WHEN msb >= 2
        |       THEN (1::BIGINT << msb) + sub*(1::BIGINT << (msb - 2))
        |       ELSE (1::BIGINT << msb) END AS lo, count(*) AS cnt
        | FROM bd GROUP BY 1, 2, 3),
        |cd AS (SELECT grp, lo, cnt,
        |  sum(cnt) OVER (PARTITION BY grp ORDER BY bucket) AS cum,
        |  sum(cnt) OVER (PARTITION BY grp) AS total FROM hd),
        |qd AS (SELECT grp, min(lo) AS p90 FROM cd
        |  WHERE cum >= ceil(total * 0.9::DOUBLE) GROUP BY 1),
        |nd AS (SELECT o_orderstatus AS grp, count(*) AS n,
        |  CAST(sum(o_custkey) AS BIGINT) AS sc FROM orders
        | WHERE o_orderkey % 4 <> 1 GROUP BY 1)
        |SELECT 'app' AS leg, na.grp, na.n AS n_rows, na.sc AS sum_cust,
        | qa.p90 FROM na JOIN qa ON na.grp = qa.grp
        |UNION ALL
        |SELECT 'del', nd.grp, nd.n, nd.sc, qd.p90
        |FROM nd JOIN qd ON nd.grp = qd.grp""".stripMargin,
    // q203: aggregate join summary — both legs recompute the direct
    // join (the gate's temp bases are full-table copies). A
    // multiplicity error in the stored join summary, or a coarsening
    // bug in the subset leg, hash-fails; a serve-time join or a base
    // scan trips the in-query plan requires.
    "q203_joined_summary" ->
      """SELECT 'full' AS leg, c_mktsegment AS seg, o_orderstatus AS st,
        | count(*) AS n_rows, CAST(sum(o_orderkey) AS BIGINT) AS sum_ok,
        | min(o_orderkey) AS mn, max(o_orderkey) AS mx
        |FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 2, 3
        |UNION ALL
        |SELECT 'seg', c_mktsegment, CAST(NULL AS VARCHAR), count(*),
        | CAST(sum(o_orderkey) AS BIGINT), min(o_orderkey), max(o_orderkey)
        |FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 2""".stripMargin,
    // q204: joined-summary maintenance — fact slices cover the whole
    // orders table after the append, so the refreshed AJI must equal
    // the full-join recompute; a missed delta file or a double-merged
    // group hash-fails, a stale serve or serve-time join trips the
    // plan requires, and the dim-append refusal is required in-query.
    "q204_joined_maintenance" ->
      """SELECT c_mktsegment AS seg, count(*) AS n_rows,
        | CAST(sum(o_orderkey) AS BIGINT) AS sum_ok,
        | min(o_orderkey) AS mn, max(o_orderkey) AS mx
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,
    // q205: AJI serve-time compensation — base ∪ delta is the whole
    // orders table, so the compensated serve must equal the plain join
    // recompute; a missed delta file, a double-counted group, or a
    // wrong cached delta hash-fails, and the splice/steady-state scan
    // shapes are plan-required in-query.
    "q205_joined_compensation" ->
      """SELECT c_mktsegment AS seg, count(*) AS n_rows,
        | CAST(sum(o_orderkey) AS BIGINT) AS sum_ok,
        | min(o_orderkey) AS mn, max(o_orderkey) AS mx
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,
    // q206: AJI dim-append refresh — fact AND dim slices complete the
    // full tables after the appends, so the refreshed AJI must equal
    // the full-join recompute; a missed F⋈ΔD term (old fact × new dim
    // keys) or a double-merged ΔF⋈ΔD pair hash-fails.
    "q206_joined_dim_append" ->
      """SELECT c_mktsegment AS seg, count(*) AS n_rows,
        | CAST(sum(o_orderkey) AS BIGINT) AS sum_ok,
        | min(o_orderkey) AS mn, max(o_orderkey) AS mx
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,
    // q207: sketch-carrying AJI — the q171 md5-k-minima replay and the
    // q200 integer bucket replay, both over the JOINED rows; a sketch
    // that is not byte-identical to the base-computed one (losslessness
    // broken anywhere in build/serve) hash-fails. o_orderpriority has 5
    // distinct values < k=16, so the KMV estimate is the EXACT count
    // (integer-valued doubles, no float boundary).
    "q207_joined_sketches" ->
      """WITH j AS (SELECT c_mktsegment AS seg, o_orderkey,
        |  o_orderpriority, o_custkey
        | FROM orders JOIN customer ON o_custkey = c_custkey),
        |h AS (SELECT DISTINCT seg,
        |  CAST(concat('0x', substr(md5(CAST(o_orderpriority AS VARCHAR)), 1, 15))
        |    AS BIGINT) AS v
        | FROM j WHERE o_orderpriority IS NOT NULL),
        |r AS (SELECT seg, v,
        |  row_number() OVER (PARTITION BY seg ORDER BY v) AS rn FROM h),
        |a AS (SELECT seg, count(*) AS cnt, max(v) AS kth
        | FROM r WHERE rn <= 16 GROUP BY seg),
        |b AS (SELECT seg, count(*) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_ok FROM j GROUP BY seg),
        |hb AS (SELECT seg, (length(bin(o_custkey)) - 1) AS msb,
        |  CASE WHEN length(bin(o_custkey)) - 1 >= 2
        |       THEN (o_custkey >> (length(bin(o_custkey)) - 3)) & 3
        |       ELSE 0 END AS sub
        | FROM j WHERE o_custkey >= 1),
        |hh AS (SELECT seg, msb*4 + sub AS bucket,
        |  CASE WHEN msb >= 2
        |       THEN (1::BIGINT << msb) + sub*(1::BIGINT << (msb - 2))
        |       ELSE (1::BIGINT << msb) END AS lo,
        |  count(*) AS cnt
        | FROM hb GROUP BY 1, 2, 3),
        |hc AS (SELECT seg, bucket, lo, cnt,
        |  sum(cnt) OVER (PARTITION BY seg ORDER BY bucket) AS cum,
        |  sum(cnt) OVER (PARTITION BY seg) AS total FROM hh),
        |p AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS prob)
        |SELECT 'kmv' AS leg, b.seg, b.n_rows, b.sum_ok,
        | round(CASE WHEN a.cnt < 16 THEN CAST(a.cnt AS DOUBLE)
        |   ELSE 15.0 * 1152921504606846976.0 / CAST(a.kth AS DOUBLE) END, 4)
        |   AS est_distinct,
        | CAST(NULL AS DOUBLE) AS prob, CAST(NULL AS BIGINT) AS qv
        |FROM b JOIN a ON a.seg = b.seg
        |UNION ALL
        |SELECT 'hist', seg, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        | CAST(NULL AS DOUBLE), p.prob, min(lo)
        |FROM hc CROSS JOIN p WHERE cum >= ceil(total * p.prob)
        |GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin,
    // q208: self-designed AJIs — the design/build/routing shape is
    // structurally required in-query (2-grain design, per-leg serves,
    // zero joins); the hash gate replays the three workload legs as
    // direct join recomputes (+ the q200 bucket replay for w3), so a
    // wrong designed layout or a mis-served leg hash-fails.
    "q208_designed_joined" ->
      """WITH j AS (SELECT c_mktsegment AS seg, o_orderkey,
        |  o_orderstatus, o_custkey
        | FROM orders JOIN customer ON o_custkey = c_custkey),
        |hb AS (SELECT seg, (length(bin(o_custkey)) - 1) AS msb,
        |  CASE WHEN length(bin(o_custkey)) - 1 >= 2
        |       THEN (o_custkey >> (length(bin(o_custkey)) - 3)) & 3
        |       ELSE 0 END AS sub
        | FROM j WHERE o_custkey >= 1),
        |hh AS (SELECT seg, msb*4 + sub AS bucket,
        |  CASE WHEN msb >= 2
        |       THEN (1::BIGINT << msb) + sub*(1::BIGINT << (msb - 2))
        |       ELSE (1::BIGINT << msb) END AS lo,
        |  count(*) AS cnt
        | FROM hb GROUP BY 1, 2, 3),
        |hc AS (SELECT seg, bucket, lo, cnt,
        |  sum(cnt) OVER (PARTITION BY seg ORDER BY bucket) AS cum,
        |  sum(cnt) OVER (PARTITION BY seg) AS total FROM hh),
        |p AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS prob)
        |SELECT 'w1' AS leg, seg, count(*) AS n_rows,
        | CAST(sum(o_orderkey) AS BIGINT) AS sum_ok,
        | CAST(NULL AS BIGINT) AS mn, CAST(NULL AS BIGINT) AS mx,
        | CAST(NULL AS DOUBLE) AS prob, CAST(NULL AS BIGINT) AS qv
        |FROM j GROUP BY 2
        |UNION ALL
        |SELECT 'w2', seg, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        | min(o_orderkey), max(o_orderkey), CAST(NULL AS DOUBLE),
        | CAST(NULL AS BIGINT)
        |FROM j WHERE o_orderstatus = 'F' GROUP BY 2
        |UNION ALL
        |SELECT 'w3', seg, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        | CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), p.prob, min(lo)
        |FROM hc CROSS JOIN p WHERE cum >= ceil(total * p.prob)
        |GROUP BY 1, 2, 3, 4, 5, 6, 7""".stripMargin,
    // q209: AJI persistence — leg `restored` serves the 3-slice state
    // from the restored registration, leg `comp` the full table via
    // compensation off the SAVED fact manifest; a restore that
    // re-fingerprinted the base (blessing the append) or lost a layout
    // field hash-fails, the splice/staleness shapes are plan-required.
    "q209_joined_persistence" ->
      """SELECT 'restored' AS leg, c_mktsegment AS seg, count(*) AS n_rows,
        | CAST(sum(o_orderkey) AS BIGINT) AS sum_ok,
        | min(o_orderkey) AS mn, max(o_orderkey) AS mx
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 4 <> 3 GROUP BY 2
        |UNION ALL
        |SELECT 'comp', c_mktsegment, count(*),
        | CAST(sum(o_orderkey) AS BIGINT), min(o_orderkey), max(o_orderkey)
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 2""".stripMargin,
    // q210: star aggregate summary — the full/brand legs recompute the
    // 3-slice star join, the refreshed leg the whole table (slices
    // cover lineitem after the append); a multiplicity bug in the star
    // build, a missed delta file, or a mis-coarsened grain hash-fails;
    // the join-free serve shapes are plan-required in-query.
    "q210_star_summary" ->
      """WITH j AS (SELECT p_brand, s_nationkey, l_orderkey
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        |   JOIN supplier ON l_suppkey = s_suppkey),
        |j3 AS (SELECT * FROM j WHERE l_orderkey % 4 <> 3)
        |SELECT 'full' AS leg, p_brand AS brand, s_nationkey AS nk,
        | count(*) AS n_rows, CAST(sum(l_orderkey) AS BIGINT) AS sum_ok,
        | min(l_orderkey) AS mn, max(l_orderkey) AS mx
        |FROM j3 GROUP BY 2, 3
        |UNION ALL
        |SELECT 'brand', p_brand, CAST(NULL AS INT), count(*),
        | CAST(sum(l_orderkey) AS BIGINT), min(l_orderkey), max(l_orderkey)
        |FROM j3 GROUP BY 2
        |UNION ALL
        |SELECT 'refreshed', p_brand, CAST(NULL AS INT), count(*),
        | CAST(sum(l_orderkey) AS BIGINT), min(l_orderkey), max(l_orderkey)
        |FROM j GROUP BY 2""".stripMargin,
    // q211: self-designed star summaries — the 2-grain design and the
    // per-leg star routing are structurally required in-query; the
    // hash gate replays the three workload legs as direct star
    // recomputes (+ the q200 bucket replay for w3).
    "q211_designed_star" ->
      """WITH j AS (SELECT s_nationkey, p_brand, l_orderkey
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        |   JOIN supplier ON l_suppkey = s_suppkey),
        |hb AS (SELECT s_nationkey AS nk,
        |  (length(bin(l_orderkey)) - 1) AS msb,
        |  CASE WHEN length(bin(l_orderkey)) - 1 >= 2
        |       THEN (l_orderkey >> (length(bin(l_orderkey)) - 3)) & 3
        |       ELSE 0 END AS sub
        | FROM j WHERE l_orderkey >= 1),
        |hh AS (SELECT nk, msb*4 + sub AS bucket,
        |  CASE WHEN msb >= 2
        |       THEN (1::BIGINT << msb) + sub*(1::BIGINT << (msb - 2))
        |       ELSE (1::BIGINT << msb) END AS lo,
        |  count(*) AS cnt
        | FROM hb GROUP BY 1, 2, 3),
        |hc AS (SELECT nk, bucket, lo, cnt,
        |  sum(cnt) OVER (PARTITION BY nk ORDER BY bucket) AS cum,
        |  sum(cnt) OVER (PARTITION BY nk) AS total FROM hh),
        |p AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS prob)
        |SELECT 'w1' AS leg, s_nationkey AS nk, CAST(NULL AS VARCHAR) AS brand,
        | count(*) AS n_rows, CAST(sum(l_orderkey) AS BIGINT) AS sum_ok,
        | CAST(NULL AS BIGINT) AS mn, CAST(NULL AS BIGINT) AS mx,
        | CAST(NULL AS DOUBLE) AS prob, CAST(NULL AS BIGINT) AS qv
        |FROM j GROUP BY 2
        |UNION ALL
        |SELECT 'w2', CAST(NULL AS INT), p_brand, CAST(NULL AS BIGINT),
        | CAST(NULL AS BIGINT), min(l_orderkey), max(l_orderkey),
        | CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT)
        |FROM j WHERE s_nationkey = 3 GROUP BY 3
        |UNION ALL
        |SELECT 'w3', nk, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
        | CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        | p.prob, min(lo)
        |FROM hc CROSS JOIN p WHERE cum >= ceil(total * p.prob)
        |GROUP BY 1, 2, 3, 4, 5, 6, 7, 8""".stripMargin,
    // q212: star dim-append refresh — fact and supplier slices complete
    // both tables after the appends, so the refreshed star summary must
    // equal the plain star recompute; a missed F_reg ⋈ ΔD term (old
    // lineitems × new suppliers), a missed fact term, or a
    // double-merged ΔF⋈ΔD pair hash-fails; the two-file delta set and
    // join-free serve shapes are required in-query.
    "q212_star_dim_refresh" ->
      """WITH j AS (SELECT p_brand, s_nationkey, l_orderkey
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        |   JOIN supplier ON l_suppkey = s_suppkey)
        |SELECT 'full' AS leg, p_brand AS brand, s_nationkey AS nk,
        | count(*) AS n_rows, CAST(sum(l_orderkey) AS BIGINT) AS sum_ok,
        | min(l_orderkey) AS mn, max(l_orderkey) AS mx
        |FROM j GROUP BY 2, 3
        |UNION ALL
        |SELECT 'coarse', CAST(NULL AS VARCHAR), s_nationkey, count(*),
        | CAST(sum(l_orderkey) AS BIGINT), min(l_orderkey), max(l_orderkey)
        |FROM j GROUP BY 3""".stripMargin,
    // q213: decimal measures through the summary tier — sums in exact
    // cents; averages replayed in EXACT INTEGER half-up micro-units
    // (avg(decimal(12,2)) = round_half_up(sum/count, 6) exactly — the
    // scale-18 intermediate of Spark's decimal divide sits ≥1/(2e6·n)
    // from any scale-6 half boundary, so double rounding cannot flip;
    // the CLAUDE.md (2S+n) div 2n device). price8 rides the
    // DecimalAggregates UnscaledValue path on the Spark side and must
    // land on the same cents.
    "q213_decimal_summaries" ->
      """WITH f AS (SELECT o_orderstatus, o_custkey,
        |  CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders),
        |j AS (SELECT c_mktsegment, p FROM f
        | JOIN customer ON o_custkey = c_custkey)
        |SELECT 'plain' AS leg, o_orderstatus AS g,
        | CAST(sum(p)*100 AS BIGINT) AS sum_c,
        | (CAST(sum(p)*100 AS BIGINT)*10000*2 + count(*)) // (2*count(*))
        |   AS avg_u,
        | CAST(sum(p)*100 AS BIGINT) AS sum8_c
        |FROM f GROUP BY 2
        |UNION ALL
        |SELECT 'nav', c_mktsegment, CAST(sum(p)*100 AS BIGINT),
        | (CAST(sum(p)*100 AS BIGINT)*10000*2 + count(*)) // (2*count(*)),
        | CAST(NULL AS BIGINT)
        |FROM j GROUP BY 2
        |UNION ALL
        |SELECT 'aji', c_mktsegment, CAST(sum(p)*100 AS BIGINT),
        | (CAST(sum(p)*100 AS BIGINT)*10000*2 + count(*)) // (2*count(*)),
        | CAST(NULL AS BIGINT)
        |FROM j GROUP BY 2""".stripMargin,
    // q214: versioned summaries — one dashboard query set against
    // THREE summary versions; v1 = the 2-slice construction predicate,
    // v2 = the full table (slices complete orders), v3 = minus the
    // trash-moved s0 slice (the retraction version). A refresh that
    // misses the appended file, a retraction that under/over-subtracts
    // or misses an extremum recompute, a version that reads another's
    // batch, or a pin/vacuum interaction that mutates v1 hash-fails
    // (bit-stability additionally required in-query).
    "q214_versioned_summary" ->
      """SELECT 'v1' AS leg, o_orderstatus AS g, count(*) AS n_rows,
        | CAST(sum(o_orderkey) AS BIGINT) AS sum_ok,
        | min(o_orderkey) AS mn, max(o_orderkey) AS mx
        |FROM orders WHERE o_orderkey % 3 <> 2 GROUP BY 2
        |UNION ALL
        |SELECT 'v2', o_orderstatus, count(*),
        | CAST(sum(o_orderkey) AS BIGINT), min(o_orderkey), max(o_orderkey)
        |FROM orders GROUP BY 2
        |UNION ALL
        |SELECT 'v3', o_orderstatus, count(*),
        | CAST(sum(o_orderkey) AS BIGINT), min(o_orderkey), max(o_orderkey)
        |FROM orders WHERE o_orderkey % 3 <> 0 GROUP BY 2""".stripMargin,
    // q215: cross-tier design — the structural crux (one budget, pair
    // absorbs the join query, no AJI) is required in-query; the hash
    // gate replays all four workload legs as direct recomputes, so a
    // mis-served leg or a wrong designed layout hash-fails.
    "q215_cross_tier_design" ->
      """SELECT 'w1' AS leg, CAST(o_custkey AS BIGINT) AS ck,
        | CAST(NULL AS VARCHAR) AS seg, CAST(NULL AS INT) AS nk,
        | count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sv
        |FROM orders GROUP BY 2
        |UNION ALL
        |SELECT 'w2', CAST(c_custkey AS BIGINT), c_mktsegment,
        | CAST(NULL AS INT), count(*), CAST(NULL AS BIGINT)
        |FROM customer GROUP BY 2, 3
        |UNION ALL
        |SELECT 'w3', CAST(NULL AS BIGINT), c_mktsegment, CAST(NULL AS INT),
        | count(*), CAST(sum(o_orderkey) AS BIGINT)
        |FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 3
        |UNION ALL
        |SELECT 'w4', CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
        | CAST(s_nationkey AS INT), count(*), CAST(sum(l_orderkey) AS BIGINT)
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 4""".stripMargin,
    // q216: star navigation — the three-summary serve is required
    // in-query (scans == exactly the three summary paths); the hash
    // gate replays both legs as direct star recomputes, so a wrong
    // multiplicity product, a mis-routed filter, or a missed key-grain
    // match hash-fails.
    "q216_star_navigation" ->
      """WITH j AS (SELECT p_brand, s_nationkey, l_orderkey
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        |   JOIN supplier ON l_suppkey = s_suppkey)
        |SELECT 'full' AS leg, p_brand AS brand, s_nationkey AS nk,
        | count(*) AS n_rows, CAST(sum(l_orderkey) AS BIGINT) AS sum_ok,
        | min(l_orderkey) AS mn, max(l_orderkey) AS mx
        |FROM j GROUP BY 2, 3
        |UNION ALL
        |SELECT 'filtered', p_brand, CAST(NULL AS INT), count(*),
        | CAST(sum(l_orderkey) AS BIGINT), min(l_orderkey), max(l_orderkey)
        |FROM j WHERE s_nationkey = 3 GROUP BY 2""".stripMargin,
    // q220: versioned STAR — per-version construction-derived star
    // recomputes (v1 = 2 fact slices ⋈ part ⋈ even suppliers, v2 = the
    // full star after the telescoped fact+dim append, v3 = full fact ⋈
    // even suppliers after the c1 retraction). A missed F_saved⋈ΔD
    // telescope term or an un-retracted odd-supplier tuple hash-fails;
    // wrong-version serves trip the in-query plan requires.
    "q220_versioned_star" ->
      """WITH j AS (SELECT l_orderkey, s_suppkey, s_nationkey
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        |   JOIN supplier ON l_suppkey = s_suppkey)
        |SELECT 'v1' AS leg, s_nationkey AS nk, count(*) AS n_rows,
        | CAST(sum(l_orderkey) AS BIGINT) AS sum_ok,
        | min(l_orderkey) AS mn, max(l_orderkey) AS mx
        |FROM j WHERE l_orderkey % 3 < 2 AND s_suppkey % 2 = 0 GROUP BY 2
        |UNION ALL
        |SELECT 'v2', s_nationkey, count(*), CAST(sum(l_orderkey) AS BIGINT),
        | min(l_orderkey), max(l_orderkey)
        |FROM j GROUP BY 2
        |UNION ALL
        |SELECT 'v3', s_nationkey, count(*), CAST(sum(l_orderkey) AS BIGINT),
        | min(l_orderkey), max(l_orderkey)
        |FROM j WHERE s_suppkey % 2 = 0 GROUP BY 2""".stripMargin,
    // q221: mixed-diff (compaction) refresh — both legs' final bases are
    // the whole orders table by construction, so the oracle is a plain
    // recompute per leg. A recompute-path double count of the appended
    // rows (reading the current listing instead of the surviving
    // registered files) or a missed retraction hash-fails; a stale
    // fall-through or wrong-summary serve trips the in-query plan
    // requires. Integer measure; DuckDB sum(BIGINT) is HUGEINT — CAST.
    "q221_mixed_refresh" ->
      """SELECT 'partial' AS leg, o_orderstatus AS grp, count(*) AS n_rows,
        | CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        | min(o_custkey) AS mn, max(o_custkey) AS mx
        |FROM orders GROUP BY 2
        |UNION ALL
        |SELECT 'full', o_orderstatus, count(*),
        | CAST(sum(o_custkey) AS BIGINT), min(o_custkey), max(o_custkey)
        |FROM orders GROUP BY 2""".stripMargin,
    // q222: maintenance-aware design — both served designs answer the
    // same join-aggregate, so the oracle is the join recompute per leg;
    // a wrong design shape or a base-scanning serve trips the in-query
    // requires, a navigation multiplicity bug (the pair's __cnt_rows
    // weighting) hash-fails. Integer measure; CAST the HUGEINT sum.
    "q222_maint_aware_design" ->
      """SELECT 'cold' AS leg, c_mktsegment AS seg, count(*) AS n_rows,
        | CAST(sum(o_orderkey) AS BIGINT) AS sum_ok,
        | min(o_orderkey) AS mn, max(o_orderkey) AS mx
        |FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 2
        |UNION ALL
        |SELECT 'hot', c_mktsegment, count(*),
        | CAST(sum(o_orderkey) AS BIGINT), min(o_orderkey), max(o_orderkey)
        |FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 2""".stripMargin,
    // q223: stream-maintained AJI — the folded state is required
    // in-query to equal the one-shot AJI, so the oracle is simply the
    // join recompute; a missed micro-batch or a double-merged delta
    // changes counts/sums and hash-fails, a join-ful or base-scanning
    // serve trips the plan requires. DECIMAL(12,2) sums are exact cents
    // — the double cast is lossless on both engines.
    "q223_stream_joined" ->
      """SELECT c_mktsegment AS seg, count(*) AS n_rows,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
        | min(o_orderkey) AS mn, max(o_orderkey) AS mx
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,
    // q224: exact count(distinct) through navigation — oracle = the
    // join recomputes; a dim-multiplicity inflation of the distinct
    // count (parts repeat ~30× per lineitem) or an unmatched-combo
    // leak hash-fails; a base-scanning serve trips the in-query plan
    // requires. Integer measures; CAST the HUGEINT sums.
    "q224_nav_distinct" ->
      """SELECT 'nav' AS leg, c_mktsegment AS g, count(*) AS n_rows,
        | CAST(sum(o_orderkey) AS BIGINT) AS sum_ok,
        | count(DISTINCT o_orderpriority) AS nd
        |FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 2
        |UNION ALL
        |SELECT 'star', CAST(s_nationkey AS VARCHAR), count(*),
        | CAST(sum(l_orderkey) AS BIGINT), count(DISTINCT p_brand)
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        | JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 2""".stripMargin,
    // q225: versioned mixed-diff fold — per-version construction-derived
    // recomputes (p_v1 = orders %7<>3, p_v2 = all orders after the
    // row-preserving compaction + new slice; s_v1 = the full star join,
    // s_v2 = the join after supplier's LOSSY compaction drops odd
    // suppliers with %3 = 1). A missed retraction keeps dropped
    // suppliers' rows and hash-fails; a double-counted append doubles
    // kept rows; wrong-version serves trip the in-query plan requires.
    "q225_versioned_mixed" ->
      """SELECT 'p_v1' AS leg, o_orderstatus AS g, count(*) AS n_rows,
        | CAST(sum(o_custkey) AS BIGINT) AS sum_m,
        | min(o_custkey) AS mn, max(o_custkey) AS mx
        |FROM orders WHERE o_orderkey % 7 <> 3 GROUP BY 2
        |UNION ALL
        |SELECT 'p_v2', o_orderstatus, count(*),
        | CAST(sum(o_custkey) AS BIGINT), min(o_custkey), max(o_custkey)
        |FROM orders GROUP BY 2
        |UNION ALL
        |SELECT 's_v1', CAST(s_nationkey AS VARCHAR), count(*),
        | CAST(sum(l_orderkey) AS BIGINT), min(l_orderkey), max(l_orderkey)
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        | JOIN supplier ON l_suppkey = s_suppkey GROUP BY 2
        |UNION ALL
        |SELECT 's_v2', CAST(s_nationkey AS VARCHAR), count(*),
        | CAST(sum(l_orderkey) AS BIGINT), min(l_orderkey), max(l_orderkey)
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        | JOIN supplier ON l_suppkey = s_suppkey
        |WHERE s_suppkey % 2 = 0 OR s_suppkey % 3 <> 1 GROUP BY 2""".stripMargin,
    // q226: cross-side mixed refresh — both legs' final states are
    // full-fact ⋈ reduced-dim by construction (the appended fact half
    // arrives in the same window the dim slice leaves), so the oracle
    // is the reduced-dim join recompute. A current-state retraction
    // counts appended-fact × removed-dim phantom pairs into the removed
    // partials and hash-fails; a missed append term loses the new fact
    // half; plan requires pin the join-free folded serves.
    "q226_cross_side_mixed" ->
      """SELECT 'aji' AS leg, c_mktsegment AS g, count(*) AS n_rows,
        | CAST(sum(o_orderkey) AS BIGINT) AS sum_m,
        | min(o_orderkey) AS mn, max(o_orderkey) AS mx
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_custkey % 2 = 0 GROUP BY 2
        |UNION ALL
        |SELECT 'star', CAST(s_nationkey AS VARCHAR), count(*),
        | CAST(sum(l_orderkey) AS BIGINT), min(l_orderkey), max(l_orderkey)
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        | JOIN supplier ON l_suppkey = s_suppkey
        |WHERE s_suppkey % 2 = 0 GROUP BY 2""".stripMargin,
    // q219: versioned AJI — each version's oracle is the join recompute
    // under its construction predicates (v1 = 2 fact slices ⋈ even
    // customers, v2 = all orders ⋈ even customers, v3 = the full join).
    // A missed F_saved⋈ΔD term in v3 loses every odd-customer group and
    // hash-fails; serving the wrong version's batch trips the in-query
    // plan requires. Integer measures.
    "q219_versioned_joined" ->
      """SELECT 'v1' AS leg, c_mktsegment AS seg, count(*) AS n_rows,
        | CAST(sum(o_orderkey) AS BIGINT) AS sum_ok,
        | min(o_orderkey) AS mn, max(o_orderkey) AS mx
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 3 < 2 AND c_custkey % 2 = 0 GROUP BY 2
        |UNION ALL
        |SELECT 'v2', c_mktsegment, count(*), CAST(sum(o_orderkey) AS BIGINT),
        | min(o_orderkey), max(o_orderkey)
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_custkey % 2 = 0 GROUP BY 2
        |UNION ALL
        |SELECT 'v3', c_mktsegment, count(*), CAST(sum(o_orderkey) AS BIGINT),
        | min(o_orderkey), max(o_orderkey)
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 2
        |UNION ALL
        |SELECT 'v4', c_mktsegment, count(*), CAST(sum(o_orderkey) AS BIGINT),
        | min(o_orderkey), max(o_orderkey)
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 3 <> 0 GROUP BY 2""".stripMargin,
    // q218: computed-dimension grains through the AJI and star tiers —
    // the oracle recomputes every leg from the raw joins (grp/mar on the
    // 3-slice registered state, ref on the full table after the append,
    // star on the full star join). A shape mismatch falls through to the
    // base and trips the in-query plan requires; a refresh that
    // mis-folds the delta through the grain expression hash-fails.
    // DuckDB month() is BIGINT → CAST to INT; integer measures.
    "q218_expr_grain_joined" ->
      """WITH ob AS (SELECT o_orderkey,
        |  month(CAST(o_orderdate AS DATE)) AS m, c_mktsegment
        | FROM orders JOIN customer ON o_custkey = c_custkey)
        |SELECT 'grp' AS leg, CAST(m AS INT) AS om, c_mktsegment AS seg,
        | CAST(NULL AS INT) AS nk, count(*) AS n_rows,
        | CAST(sum(o_orderkey) AS BIGINT) AS sum_ok,
        | min(o_orderkey) AS mn, max(o_orderkey) AS mx
        |FROM ob WHERE o_orderkey % 4 <> 3 GROUP BY 2, 3
        |UNION ALL
        |SELECT 'mar', CAST(3 AS INT), c_mktsegment, CAST(NULL AS INT),
        | count(*), CAST(sum(o_orderkey) AS BIGINT),
        | min(o_orderkey), max(o_orderkey)
        |FROM ob WHERE o_orderkey % 4 <> 3 AND m = 3 GROUP BY 3
        |UNION ALL
        |SELECT 'ref', CAST(m AS INT), c_mktsegment, CAST(NULL AS INT),
        | count(*), CAST(sum(o_orderkey) AS BIGINT),
        | min(o_orderkey), max(o_orderkey)
        |FROM ob GROUP BY 2, 3
        |UNION ALL
        |SELECT 'star', CAST(month(CAST(l_shipdate AS DATE)) AS INT),
        | CAST(NULL AS VARCHAR), s_nationkey, count(*),
        | CAST(sum(l_orderkey) AS BIGINT), min(l_orderkey), max(l_orderkey)
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 2, 4""".stripMargin,
    // q217: joined/star delete retraction — each leg's oracle is the
    // reduced-corpus join recompute (the deleted slice's key predicate
    // inverted). A missed retraction serves pre-delete values, a
    // double-retraction under-counts, and a recompute that skips an
    // extremum-touched group keeps a ghost min/max — all hash-fail; a
    // refused retraction or a base fall-through trips the in-query
    // plan requires. Integer measures: bit-exact retraction.
    "q217_joined_star_retract" ->
      """SELECT 'aji' AS leg, c_mktsegment AS seg, CAST(NULL AS INT) AS nk,
        | count(*) AS n_rows, CAST(sum(o_orderkey) AS BIGINT) AS sum_m,
        | min(o_orderkey) AS mn, max(o_orderkey) AS mx
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderkey % 6 <> 2 GROUP BY 2
        |UNION ALL
        |SELECT 'star', CAST(NULL AS VARCHAR), s_nationkey, count(*),
        | CAST(sum(l_orderkey) AS BIGINT), min(l_orderkey), max(l_orderkey)
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |WHERE s_suppkey % 5 <> 2 GROUP BY 3""".stripMargin,
    // q186: the q162 multi-version device over the STREAMED version
    // chain — v2 = base slice + first arrival, v4 = full corpus (q96's
    // probed surface); v2's margins probed by
    // tools/probe_stream_versions.py.
    "q186_stream_versioned" ->
      raw"""WITH q AS (SELECT doc_id AS qid,
        |    (string_split_regex(trim(text),'\s+'))[1:5] AS qtoks
        |  FROM documents WHERE length(trim(text)) > 0 AND doc_id % 125 = 3),
        |qt AS (SELECT qid, unnest(list_distinct(qtoks)) AS term FROM q),
        |${bm25VersionCtes(" AND doc_id % 4 IN (0, 1)", "a", decimals = 3)},
        |${bm25VersionCtes("", "b", decimals = 4)}
        |SELECT version, qid, CAST(rank AS INT) AS rank, doc_id, score FROM (
        |  SELECT 2 AS version, qid, rank, doc_id, score FROM rka WHERE rank <= 5
        |  UNION ALL
        |  SELECT 4, qid, rank, doc_id, score FROM rkb WHERE rank <= 5)""".stripMargin,
    // q130: DuckDB's NATIVE ASOF JOIN is the oracle — an independent
    // implementation of the forward-fill semantics (unique instants
    // prepared identically; spine ts precomputed because ASOF wants a
    // plain column comparison).
    "q130_resample_ffill" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu, value FROM events
        |), u AS (
        |  SELECT user_id, tsu, max(value) AS value FROM e GROUP BY user_id, tsu
        |), b AS (
        |  SELECT min(tsu)//3600000000 AS h0, max(tsu)//3600000000 AS h1 FROM e
        |), spine AS (
        |  SELECT user_id, unnest(generate_series(h0, h1)) AS hour
        |  FROM (SELECT DISTINCT user_id FROM e), b
        |), s2 AS (
        |  SELECT user_id, hour, hour*3600000000 AS tss FROM spine
        |)
        |SELECT s2.user_id, s2.hour, round(u.value, 4) AS value
        |FROM s2 ASOF LEFT JOIN u
        |  ON s2.user_id = u.user_id AND u.tsu <= s2.tss""".stripMargin,
    // q131: q96's replay nested verbatim, integer metrics on top
    // (2520 = lcm(1..10) makes every reciprocal rank exact; sums CAST
    // from HUGEINT).
    "q131_retrieval_eval" ->
      s"""WITH res AS (
        |$bm25TopkSql
        |), m AS (
        |  SELECT qid, min(CASE WHEN doc_id = qid THEN rank END) AS hit_rank
        |  FROM res GROUP BY qid
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |  CAST(count(hit_rank) AS BIGINT) AS n_hit,
        |  CAST(COALESCE(sum(2520 // hit_rank), 0) AS BIGINT) AS rr2520_sum
        |FROM m""".stripMargin,
    // q132: the final snapshot derives from the construction — deletes
    // override updates (higher seq), last update wins, inserts land in
    // the negative key space. 0.0 is ::DOUBLE (bare 0.0 is DECIMAL).
    "q132_cdc_apply" ->
      """SELECT c_custkey,
        |  CASE WHEN c_custkey % 10 = 0 THEN c_name || ' v2' ELSE c_name END AS c_name,
        |  c_nationkey,
        |  round(CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100 ELSE c_acctbal END, 4) AS c_acctbal,
        |  c_mktsegment
        |FROM customer WHERE c_custkey % 17 <> 0
        |UNION ALL
        |SELECT -(c_custkey + 1), c_name || ' new', c_nationkey,
        |  round(0.0::DOUBLE, 4), c_mktsegment
        |FROM customer WHERE c_custkey % 23 = 0""".stripMargin,
    // q133: two chained NATIVE ASOF JOINs over the same unique-instant
    // feature preparation — the q130 cross-validation device, composed.
    "q133_feature_join" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu,
        |    event_id, event_type, value FROM events
        |), p AS (
        |  SELECT user_id, tsu, event_id FROM e WHERE event_type = 'purchase'
        |), fc AS (
        |  SELECT user_id, tsu, max(value) AS cv FROM e
        |  WHERE event_type = 'click' GROUP BY user_id, tsu
        |), fv AS (
        |  SELECT user_id, tsu, max(value) AS vv FROM e
        |  WHERE event_type = 'view' GROUP BY user_id, tsu
        |), j1 AS (
        |  SELECT p.event_id, p.user_id, p.tsu, fc.cv
        |  FROM p ASOF LEFT JOIN fc
        |    ON p.user_id = fc.user_id AND fc.tsu <= p.tsu
        |)
        |SELECT j1.event_id, j1.user_id, j1.tsu,
        |  round(j1.cv, 4) AS click_value, round(fv.vv, 4) AS view_value
        |FROM j1 ASOF LEFT JOIN fv
        |  ON j1.user_id = fv.user_id AND fv.tsu <= j1.tsu""".stripMargin,
    // q134: verbatim bigint replay — the inequality is the whole test.
    "q134_z_outliers" ->
      """WITH c AS (
        |  SELECT event_type AS g, CAST(floor(value*100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL
        |), m AS (
        |  SELECT g, count(*) AS n, CAST(sum(cents) AS BIGINT) AS s1,
        |    CAST(sum(cents*cents) AS BIGINT) AS s2
        |  FROM c GROUP BY g
        |)
        |SELECT m.g AS event_type, m.n, m.s1, m.s2,
        |  CAST(sum(CASE WHEN (m.n*c.cents - m.s1)*(m.n*c.cents - m.s1)
        |      > 4*(m.n*m.s2 - m.s1*m.s1) THEN 1 ELSE 0 END) AS BIGINT) AS n_out
        |FROM c JOIN m ON c.g IS NOT DISTINCT FROM m.g
        |GROUP BY m.g, m.n, m.s1, m.s2""".stripMargin,
    // q135: lag/cumsum session replay + ordered string_agg; top-20 cut
    // on the (n desc, path) total order.
    "q135_session_paths" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu,
        |    event_id, event_type FROM events
        |), l AS (
        |  SELECT *, lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS pt
        |  FROM e
        |), s AS (
        |  SELECT *, sum(CASE WHEN pt IS NULL OR tsu - pt > 1800000000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |          ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM l
        |), p AS (
        |  SELECT user_id, sid,
        |    string_agg(event_type, '>' ORDER BY tsu, event_id) AS path
        |  FROM s GROUP BY user_id, sid
        |), c AS (
        |  SELECT path, count(*) AS n FROM p GROUP BY path
        |), r AS (
        |  SELECT path, n, row_number() OVER (ORDER BY n DESC, path) AS rank
        |  FROM c
        |)
        |SELECT CAST(rank AS INT) AS rank, path, n FROM r WHERE rank <= 20""".stripMargin,
    // q136: every event belongs to the two epoch-aligned 2h/1h hop
    // windows (the q107 device); top-3 per window by (n desc, type).
    "q136_trending" ->
      """WITH e AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS tsu, event_type FROM events
        |), w AS (
        |  SELECT unnest([(tsu//3600000000)*3600000000,
        |                 (tsu//3600000000 - 1)*3600000000]) AS win_start_us,
        |    event_type FROM e
        |), g AS (
        |  SELECT win_start_us, event_type, count(*) AS n FROM w GROUP BY 1, 2
        |), r AS (
        |  SELECT win_start_us, event_type, n,
        |    row_number() OVER (PARTITION BY win_start_us ORDER BY n DESC, event_type) AS rank
        |  FROM g
        |)
        |SELECT win_start_us, event_type, n, CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 3""".stripMargin,
    // q137: construction-derived literal — the drift IS the query's own
    // evolution of the documents schema.
    "q137_schema_drift" ->
      """SELECT * FROM (VALUES
        |  ('doc_id', 'type_changed', 'bigint', 'int'),
        |  ('quality', 'added', NULL, 'double'),
        |  ('source', 'removed', 'string', NULL)
        |) AS t("column", change, from_type, to_type)""".stripMargin,
    // q138: verbatim md5-mod replay of the keep rule + the count join.
    "q138_match_distribution" ->
      """WITH c AS (
        |  SELECT source, count(*) AS n FROM documents GROUP BY source
        |), k AS (
        |  SELECT d.source, d.text FROM documents d
        |  JOIN c ON d.source IS NOT DISTINCT FROM c.source
        |  WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % c.n
        |        < (SELECT min(n) FROM c)
        |)
        |SELECT source, count(*) AS n_kept,
        |  CAST(sum(length(text)) AS BIGINT) AS kept_chars
        |FROM k GROUP BY source""".stripMargin,
    // q139: latest-non-null per field = arg_max FILTER (WHERE non-null);
    // seq (= custkey) is unique per cluster, so the pick is total.
    "q139_golden_records" ->
      """WITH dirty AS (
        |  SELECT c_custkey - (c_custkey % 3) AS cluster, c_custkey AS seq,
        |    CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_name END AS name,
        |    CASE WHEN c_custkey % 3 = 1 THEN NULL ELSE c_acctbal END AS bal,
        |    CASE WHEN c_custkey % 3 = 2 THEN NULL ELSE c_mktsegment END AS segment
        |  FROM customer
        |)
        |SELECT cluster,
        |  arg_max(name, seq) FILTER (WHERE name IS NOT NULL) AS name,
        |  round(arg_max(bal, seq) FILTER (WHERE bal IS NOT NULL), 4) AS bal,
        |  arg_max(segment, seq) FILTER (WHERE segment IS NOT NULL) AS segment
        |FROM dirty GROUP BY cluster""".stripMargin,
    // q140: the streaming complete-mode session rollup must equal the
    // batch q104 — identical oracle by construction.
    "q140_stream_sessions" -> sessionWindowSql,
    // q141: the bloom prefilter must be invisible — plain semi join.
    "q141_bloom_semi_join" ->
      """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 4) AS qty
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag""".stripMargin,
    // q142: two-aligned-starts unnest + exact count(DISTINCT).
    "q142_windowed_distinct" ->
      """WITH e AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS tsu, user_id FROM events
        |), w AS (
        |  SELECT unnest([(tsu//3600000000)*3600000000,
        |                 (tsu//3600000000 - 1)*3600000000]) AS win_start_us,
        |    user_id FROM e
        |)
        |SELECT win_start_us, count(DISTINCT user_id) AS n_users,
        |  count(*) AS n_events
        |FROM w GROUP BY win_start_us""".stripMargin,
    // q143: both detector replays as subqueries; integer overlap counts.
    "q143_detector_agreement" ->
      s"""WITH a AS (
        |$minhashPairsSql
        |), b AS (
        |$simhashPairsSql
        |), u AS (
        |  SELECT id_a, id_b, 1 AS mh, 0 AS sh FROM a
        |  UNION ALL
        |  SELECT id_a, id_b, 0 AS mh, 1 AS sh FROM b
        |), p AS (
        |  SELECT id_a, id_b, max(mh) AS mh, max(sh) AS sh FROM u GROUP BY id_a, id_b
        |)
        |SELECT CAST(sum(mh) AS BIGINT) AS n_minhash,
        |  CAST(sum(sh) AS BIGINT) AS n_simhash,
        |  CAST(sum(CASE WHEN mh = 1 AND sh = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both
        |FROM p""".stripMargin,
    // q144: RANGE-frame prefix sums make cumw(v) = weight at-or-below v
    // for every tied row; the half test cross-multiplies (2 cumw >= W).
    "q144_weighted_median" ->
      """WITH b AS (
        |  SELECT l_returnflag AS g,
        |    CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS c,
        |    CAST(floor(l_quantity + 0.5) AS BIGINT) AS w
        |  FROM lineitem
        |), cum AS (
        |  SELECT g, c, w,
        |    sum(w) OVER (PARTITION BY g ORDER BY c
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |    sum(w) OVER (PARTITION BY g) AS tot
        |  FROM b
        |)
        |SELECT g AS l_returnflag, CAST(max(tot) AS BIGINT) AS total_w,
        |  min(c) AS med_cents
        |FROM cum WHERE cw*2 >= tot GROUP BY g""".stripMargin,
    // q145: integer day buckets; (user, day) de-dup first, cohorts from
    // min(day), counts per (cohort, offset).
    "q145_cohort_retention" ->
      """WITH d AS (
        |  SELECT DISTINCT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
        |  FROM events
        |), c AS (
        |  SELECT user_id, min(day) AS cohort_day FROM d GROUP BY user_id
        |)
        |SELECT c.cohort_day, d.day - c.cohort_day AS day_offset,
        |  count(*) AS n_users
        |FROM d JOIN c USING (user_id)
        |GROUP BY c.cohort_day, d.day - c.cohort_day""".stripMargin,
    // q146: both type-7 bounds via the q122 integer arithmetic, then a
    // greatest/least clamp on the pDen-scaled cents — all bigint.
    "q146_winsorized_sum" ->
      """WITH c AS (
        |  SELECT event_type AS g, CAST(floor(value*100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL
        |), r AS (
        |  SELECT g, cents, row_number() OVER (PARTITION BY g ORDER BY cents) AS rn,
        |    count(*) OVER (PARTITION BY g) AS n
        |  FROM c
        |), tlo AS (
        |  SELECT g,
        |    max(CASE WHEN rn = (5*(n-1))//100 + 1 THEN cents END)
        |      * (100 - max((5*(n-1))%100))
        |    + COALESCE(max(CASE WHEN rn = (5*(n-1))//100 + 2 THEN cents END),
        |        max(CASE WHEN rn = (5*(n-1))//100 + 1 THEN cents END))
        |      * max((5*(n-1))%100) AS lo_num
        |  FROM r GROUP BY g
        |), thi AS (
        |  SELECT g,
        |    max(CASE WHEN rn = (95*(n-1))//100 + 1 THEN cents END)
        |      * (100 - max((95*(n-1))%100))
        |    + COALESCE(max(CASE WHEN rn = (95*(n-1))//100 + 2 THEN cents END),
        |        max(CASE WHEN rn = (95*(n-1))//100 + 1 THEN cents END))
        |      * max((95*(n-1))%100) AS hi_num
        |  FROM r GROUP BY g
        |)
        |SELECT c.g AS event_type, CAST(count(*) AS BIGINT) AS n,
        |  tlo.lo_num, thi.hi_num,
        |  CAST(sum(greatest(tlo.lo_num, least(thi.hi_num, c.cents*100))) AS BIGINT)
        |    AS wsum_num
        |FROM c JOIN tlo ON c.g IS NOT DISTINCT FROM tlo.g
        |  JOIN thi ON c.g IS NOT DISTINCT FROM thi.g
        |GROUP BY c.g, tlo.lo_num, thi.hi_num""".stripMargin,
    // q147: recursive CTE walks the same div-10 edges; terminal rows are
    // the ones that could not recurse (cur = cur//10, i.e. the root 0).
    "q147_hierarchy" ->
      """WITH RECURSIVE up AS (
        |  SELECT c_custkey AS node, c_custkey AS cur, 0 AS depth,
        |    CAST(c_custkey AS VARCHAR) AS path
        |  FROM customer
        |  UNION ALL
        |  SELECT node, cur//10 AS cur, depth + 1,
        |    path || '>' || CAST(cur//10 AS VARCHAR)
        |  FROM up WHERE cur <> cur//10
        |)
        |SELECT node, cur AS root, CAST(depth AS INT) AS depth, path
        |FROM up WHERE cur = cur//10""".stripMargin,
    // q148: the full pipeline replay — the q45 cleaning chain (plus the
    // control-char strip, identity on this corpus), md5 min-id dedup,
    // the q42 gram construction on CLEANED text, q43's split buckets.
    "q148_curation_gate" ->
      """WITH cleaned AS (
        |  SELECT doc_id, source,
        |    trim(regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |        '(\+?1[-. ])?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}', '<PHONE>', 'g'),
        |      '[ \t\n\x0B\f\r]+', ' ', 'g')) AS text
        |  FROM documents
        |), dd AS (
        |  SELECT min(doc_id) AS doc_id FROM cleaned GROUP BY md5(text)
        |), kept AS (
        |  SELECT c.* FROM cleaned c JOIN dd USING (doc_id)
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(string_split_regex(trim(text),'\s+')) - 2),
        |    i -> array_to_string((string_split_regex(trim(text),'\s+'))[i:i+2], ' '))) AS s
        |  FROM kept
        |), bg AS (
        |  SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 50 = 0
        |), contaminated AS (
        |  SELECT DISTINCT dg.doc_id
        |  FROM (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 50 <> 0) dg
        |  JOIN bg USING (g)
        |), surv AS (
        |  SELECT k.* FROM kept k
        |  WHERE k.doc_id % 50 <> 0
        |    AND k.doc_id NOT IN (SELECT doc_id FROM contaminated)
        |)
        |SELECT CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val'
        |            ELSE 'test' END AS split,
        |  source, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS total_chars
        |FROM (SELECT *,
        |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 AS b
        |  FROM surv)
        |GROUP BY 1, source""".stripMargin,
    // q149: counts → double-ratio argmin (single portable division, key
    // tie-break) → integer mod/threshold keep rule, replayed verbatim.
    "q149_match_proportions" ->
      """WITH t("source", w) AS (VALUES ('src0', 2), ('src1', 1), ('src2', 1)),
        |c AS (
        |  SELECT d.source, count(*) AS n FROM documents d
        |  JOIN t ON d.source = t."source" GROUP BY d.source
        |), j AS (
        |  SELECT c.source, c.n, t.w FROM c JOIN t ON c.source = t."source"
        |), m AS (
        |  SELECT n AS nm, w AS wm FROM j
        |  ORDER BY CAST(n AS DOUBLE)/w, source LIMIT 1
        |), k AS (
        |  SELECT d.source, d.text FROM documents d
        |  JOIN j ON d.source = j.source CROSS JOIN m
        |  WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |        % (j.n * m.wm) < m.nm * j.w
        |)
        |SELECT source, count(*) AS n_kept,
        |  CAST(sum(length(text)) AS BIGINT) AS kept_chars
        |FROM k GROUP BY source""".stripMargin,
    // q150: stored-index serving must be indistinguishable from the
    // direct scoring path, so the oracle IS q96's replay.
    "q150_bm25_stored_index" -> bm25TopkSql,
    // q158: incremental index maintenance must be score-invisible — the
    // fully-appended index serves exactly what a full rebuild serves, so
    // the oracle IS q96's replay (same device as q150).
    "q158_inc_bm25" -> bm25TopkSql,
    // q159: tombstone deletion must serve EXACTLY a rebuild over the
    // reduced corpus — the oracle is q96's replay re-generated with the
    // post-delete predicate folded into the corpus CTE (df/N/avgdl all
    // reduced; the query set, drawn from the corpus CTE, shrinks with
    // it). Quantized-score margins for the REDUCED corpus probed by
    // tools/probe_bm25_delete.py at both scales.
    "q159_inc_bm25_delete" -> bm25TopkReplay(" AND doc_id % 17 <> 5"),
    // q160: the IVF stored-index append lifecycle — assignment is a pure
    // function of (vector, frozen model), so base-assign + append-assign
    // must serve exactly the full-corpus dense list: the oracle is
    // q156's dense chain verbatim (shared ivfDenseCtes — margins are
    // probe_hybrid_ann.py's), projected at rank ≤ 5.
    "q160_ivf_append" ->
      s"""WITH $ivfDenseCtes
        |SELECT qid, CAST(rank AS INT) AS rank, doc_id
        |FROM dn WHERE rank <= 5""".stripMargin,
    // q163: IVF stored-index deletion — tombstoned serving must equal an
    // index that never held the deleted vectors, so the oracle is the
    // same dense chain with the deletion predicate folded into the
    // candidate AND query CTEs (the frozen model still fits on the full
    // corpus — deletes don't re-fit). Reduced-candidate rank margins
    // probed by tools/probe_ivf_delete.py.
    "q163_ivf_delete" ->
      s"""WITH ${ivfDenseCtesWith(" AND af.vec_id % 13 <> 4", " AND doc_id % 13 <> 4")}
        |SELECT qid, CAST(rank AS INT) AS rank, doc_id
        |FROM dn WHERE rank <= 5""".stripMargin,
    // q164: semantic admission — fit replayed over the BASE slice only
    // (the fitPred form of the q34 chain), batch vectors probed to their
    // 4 nearest cells, verdict = max raw-double cosine vs the stored
    // slice within those cells against the probed mid-gap threshold
    // (nearest cross-slice pair 3.2e-4 away at both scales,
    // tools/probe_semadmit.py).
    "q164_semantic_admit" -> {
      val (ctes, fin) = ivfReplayCtes(16, 2, Some("qv.vec_id % 4 <> 1"))
      s"""WITH $ctes,
        |af AS (SELECT vec_id, cell FROM (
        |  ${ivfRanked(fin, "WHERE qv.vec_id % 4 <> 1")}) WHERE rn = 1),
        |bp AS (SELECT vec_id, cell, rn FROM (
        |  ${ivfRanked(fin, "WHERE qv.vec_id % 4 = 1")}) WHERE rn <= 4),
        |mxc AS (SELECT bp.vec_id, max(list_cosine_similarity(a.v, b.v)) AS m
        | FROM bp JOIN af ON af.cell = bp.cell
        |  JOIN e a ON a.vec_id = bp.vec_id JOIN e b ON b.vec_id = af.vec_id
        | GROUP BY bp.vec_id),
        |t1 AS (SELECT vec_id, cell FROM bp WHERE rn = 1)
        |SELECT t1.vec_id, t1.cell,
        |  CASE WHEN m.m >= 0.42624::DOUBLE THEN 0 ELSE 1 END AS admitted
        |FROM t1 LEFT JOIN mxc m ON m.vec_id = t1.vec_id""".stripMargin
    },
    // q165: materialized-rollup rewrite — the query is served from the
    // summary table (the gate requires it in-plan), the oracle is the
    // plain aggregate over the base: the redirect must be answer-
    // invisible. DuckDB sum(BIGINT) is HUGEINT — CAST. The float sum
    // rounds at 2dp, NOT the battery's usual 4dp: group sums reach
    // ~1e10 over ~30-50k rows at sf0.1, where double summation noise
    // (~2e-4, measured — q166 diverged at 4dp before this) exceeds the
    // 5e-5 half-grid of round(,4); the true sum is on the data's 0.01
    // grid, so 2dp has a 0.005 boundary distance, 25x above the noise.
    "q165_rollup_rewrite" ->
      """SELECT o_orderpriority, count(*) AS n_rows,
        | CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        | count(o_totalprice) AS cnt_total,
        | round(sum(o_totalprice), 2) AS sum_total,
        | min(o_totalprice) AS mn, max(o_totalprice) AS mx
        |FROM orders WHERE o_orderstatus <> 'P'
        |GROUP BY o_orderpriority""".stripMargin,
    // q166: merged-summary maintenance — the rewrite serves from a
    // summary assembled by Rollup.merge over two day slices; the oracle
    // is the plain full-base aggregate (maintenance answer-invisible).
    // 2dp rounding for the same reason as q165 (this query is where the
    // 4dp boundary was actually crossed at sf0.1).
    "q166_rollup_merge" ->
      """SELECT o_orderstatus, count(*) AS n_rows,
        | count(o_totalprice) AS cnt_total,
        | round(sum(o_totalprice), 2) AS sum_total,
        | min(o_totalprice) AS mn, max(o_totalprice) AS mx
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    // q169: rollup-lattice routing — three legs served from three
    // different storage tiers (coarse summary / fine summary / base
    // table, each REQUIRED in-plan by the gate); the oracle is the three
    // plain aggregates over the base: routing must be answer-invisible
    // at every grain. Integer sums are exact BIGINTs cast to DOUBLE
    // (≪ 2^53); the float sum rounds at 2dp (the q165/q166 magnitude
    // regime). DuckDB sum(BIGINT) is HUGEINT — CAST before the double.
    "q169_rollup_lattice" ->
      """SELECT 'coarse' AS leg, o_orderstatus AS grp, count(*) AS n_rows,
        | round(sum(o_totalprice), 2) AS sum_v
        |FROM orders GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 'fine', o_orderpriority, count(*),
        | CAST(CAST(sum(o_custkey) AS BIGINT) AS DOUBLE)
        |FROM orders GROUP BY o_orderpriority
        |UNION ALL
        |SELECT 'base', o_orderstatus, count(*),
        | CAST(CAST(sum(o_orderkey) AS BIGINT) AS DOUBLE)
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    // q170: eager aggregation — the partial is pushed below the join
    // (required in-plan by the gate); the oracle is the plain
    // join-then-aggregate: the pushdown must be answer-invisible.
    // DuckDB sum(BIGINT) is HUGEINT — CAST; float sum rounds at 2dp
    // (the q165/q166 magnitude regime).
    "q170_eager_agg" ->
      """SELECT c_mktsegment, count(*) AS n_rows,
        | CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        | round(sum(o_totalprice), 2) AS sum_total,
        | min(o_totalprice) AS mn, max(o_totalprice) AS mx
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    // q171: sketch-carrying rollup — the summary-served KMV sketch is
    // IDENTICAL to the base-computed one (lossless order-statistic
    // merge), so the oracle replays the q69 device (portable md5
    // k-minima per group) over the BASE table plus the plain counts;
    // the Spark side must hash-match while scanning only the summary.
    // IS NOT DISTINCT FROM on the group join (null-group safety);
    // DuckDB sum(int) is HUGEINT — CAST.
    "q171_sketch_rollup" ->
      """WITH h AS (SELECT DISTINCT lang,
        |  CAST(concat('0x', substr(md5(CAST(n_chars AS VARCHAR)), 1, 15))
        |    AS BIGINT) AS v
        | FROM documents WHERE n_chars IS NOT NULL),
        |r AS (SELECT lang, v,
        |  row_number() OVER (PARTITION BY lang ORDER BY v) AS rn FROM h),
        |a AS (SELECT lang, count(*) AS cnt, max(v) AS kth
        | FROM r WHERE rn <= 16 GROUP BY lang),
        |b AS (SELECT lang, count(*) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        | FROM documents GROUP BY lang)
        |SELECT b.lang, b.n_rows, b.sum_chars,
        | round(CASE WHEN a.cnt < 16 THEN CAST(a.cnt AS DOUBLE)
        |   ELSE 15.0 * 1152921504606846976.0 / CAST(a.kth AS DOUBLE) END, 4)
        |   AS est_distinct
        |FROM b JOIN a ON a.lang IS NOT DISTINCT FROM b.lang""".stripMargin,
    // q172: aggregate navigation — eager aggregation ∘ rollup rewrite;
    // the fact table is never scanned (gate-required in-plan). Oracle =
    // the plain join-aggregate; 2dp float sums (segment sums ~4e9 at
    // sf0.1, the q165/q166 magnitude regime).
    "q172_agg_navigation" ->
      """SELECT c_mktsegment, count(*) AS n_rows,
        | round(sum(o_totalprice), 2) AS sum_total,
        | min(o_totalprice) AS mn, max(o_totalprice) AS mx
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    // q173: lattice persistence — both legs served from the RESTORED
    // registry (plan-asserted); oracle = plain base aggregate + the q69
    // md5-k-minima replay (the restored sketch serving must be
    // IDENTICAL to a base computation). o_custkey is BIGINT: Spark
    // cast-to-string and DuckDB CAST AS VARCHAR print it identically.
    "q173_lattice_persist" ->
      """WITH h AS (SELECT DISTINCT o_orderpriority,
        |  CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
        |    AS BIGINT) AS v
        | FROM orders WHERE o_custkey IS NOT NULL),
        |r AS (SELECT o_orderpriority, v,
        |  row_number() OVER (PARTITION BY o_orderpriority ORDER BY v) AS rn
        | FROM h),
        |a AS (SELECT o_orderpriority, count(*) AS cnt, max(v) AS kth
        | FROM r WHERE rn <= 16 GROUP BY o_orderpriority),
        |b AS (SELECT o_orderpriority, count(*) AS n_rows FROM orders
        | GROUP BY o_orderpriority)
        |SELECT 'status' AS leg, o_orderstatus AS grp, count(*) AS n_rows,
        | round(sum(o_totalprice), 2) AS val
        |FROM orders GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 'priority', b.o_orderpriority, b.n_rows,
        | round(CASE WHEN a.cnt < 16 THEN CAST(a.cnt AS DOUBLE)
        |   ELSE 15.0 * 1152921504606846976.0 / CAST(a.kth AS DOUBLE) END, 4)
        |FROM b JOIN a ON a.o_orderpriority IS NOT DISTINCT FROM b.o_orderpriority""".stripMargin,
    // q177: sequence packing — exclusive window prefix sum over token
    // counts in doc_id order, then one span per overlapped sequence via
    // a generate_series unnest. Pure 64-bit integers; DuckDB // is
    // integer division (non-negative operands here, so it agrees with
    // Spark's truncation).
    "q177_sequence_pack" ->
      """WITH t AS (
        | SELECT doc_id, CAST(len(string_split_regex(trim(text),'\s+')) AS BIGINT) AS w
        | FROM documents WHERE length(trim(text)) > 0),
        |p AS (SELECT doc_id, w,
        |  CAST(coalesce(sum(w) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
        | FROM t),
        |u AS (SELECT doc_id, w, start,
        |  unnest(generate_series(start // 512, (start + w - 1) // 512)) AS k
        | FROM p)
        |SELECT k AS seq_id, doc_id,
        | greatest(start, k * 512) - k * 512 AS seq_off,
        | greatest(start, k * 512) - start AS tok_off,
        | least(start + w, (k + 1) * 512) - greatest(start, k * 512) AS span_len
        |FROM u""".stripMargin,
    // q176: stream-maintained summary under the rewrite — the dashboard
    // aggregate is served from a summary kept fresh by 3 micro-batch
    // folds; oracle = the plain full-base aggregate (identical to
    // q166's: maintenance must be answer-invisible regardless of HOW
    // the summary was maintained — batch merge there, streaming here).
    "q176_stream_lattice" ->
      """SELECT o_orderstatus, count(*) AS n_rows,
        | count(o_totalprice) AS cnt_total,
        | round(sum(o_totalprice), 2) AS sum_total,
        | min(o_totalprice) AS mn, max(o_totalprice) AS mx
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    // q180: exact distinct-count from the summary — both legs bit-exact
    // (the distinct sets on summary and base are identical when the
    // counted column is in the grain); routing plan-asserted in-query.
    // Integer casts exact ≪ 2^53; 2dp float sum (q165 regime).
    "q180_distinct_grain" ->
      """SELECT 'fine' AS leg, o_orderstatus AS grp,
        | count(DISTINCT o_orderpriority) AS nd, count(*) AS n_rows,
        | CAST(CAST(sum(o_custkey) AS BIGINT) AS DOUBLE) AS val
        |FROM orders GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 'coarse', 'ALL', count(DISTINCT o_orderstatus), count(*),
        | round(sum(o_totalprice), 2)
        |FROM orders WHERE o_orderstatus <> 'P'""".stripMargin,
    // q179: eager aggregation under LEFT and FULL OUTER joins — the
    // pushed partial sits on the null-extended orders side; count(*)
    // must keep one row per order-less customer (the count bug), and the
    // full leg additionally null-extends unmatched ORDERS partials under
    // the NULL segment group. Oracle = plain outer-join aggregates.
    // DuckDB sum(BIGINT) is HUGEINT — CAST; 2dp float sums (q165 regime).
    "q179_eager_outer" ->
      """SELECT 'left' AS leg, c_mktsegment, count(*) AS n_rows,
        | count(o_totalprice) AS cnt_orders,
        | CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        | round(sum(o_totalprice), 2) AS sum_total,
        | min(o_totalprice) AS mn, max(o_totalprice) AS mx
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment
        |UNION ALL
        |SELECT 'full', c_mktsegment, count(*),
        | count(o_totalprice), CAST(sum(o_custkey) AS BIGINT),
        | round(sum(o_totalprice), 2),
        | min(o_totalprice), max(o_totalprice)
        |FROM (SELECT * FROM customer WHERE c_custkey % 3 <> 0) c
        | FULL JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    // q178: rollup staleness guard — BOTH legs must see the appended
    // delta: the fallthrough leg because the guard pushed the query back
    // to the (appended) base, the refreshed leg because Rollup.merge
    // folded the delta's partials in. A stale-served summary would miss
    // the delta rows and hash-mismatch. Oracle = one aggregate over
    // base ∪ delta, emitted once per leg. 2dp float sums (q165 regime).
    "q178_rollup_staleness" ->
      """WITH ob AS (
        | SELECT o_orderstatus, o_totalprice FROM orders
        | UNION ALL
        | SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 7 = 3),
        |a AS (
        | SELECT o_orderstatus, count(*) AS n_rows,
        |  round(sum(o_totalprice), 2) AS sum_total,
        |  min(o_totalprice) AS mn, max(o_totalprice) AS mx
        | FROM ob GROUP BY o_orderstatus)
        |SELECT 'fallthrough' AS leg, o_orderstatus, n_rows, sum_total, mn, mx FROM a
        |UNION ALL
        |SELECT 'refreshed', o_orderstatus, n_rows, sum_total, mn, mx FROM a""".stripMargin,
    // q175: cube from the summary — the grouping-sets rewrite path;
    // oracle = plain GROUP BY CUBE over the base (q70's coalesce
    // device). 2dp float sums: the grand total reaches ~2.2e10 at
    // sf0.1, squarely the q165/q166 magnitude regime.
    "q175_cube_summary" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
        | coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
        | CAST(2*grouping(o_orderstatus) + grouping(o_orderpriority) AS INT) AS gid,
        | count(*) AS n_rows, round(sum(o_totalprice), 2) AS sum_total,
        | min(o_totalprice) AS mn, max(o_totalprice) AS mx
        |FROM orders WHERE o_orderstatus <> 'P'
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin,
    // q167: versioned vector index — ONE slice-0 KMeans replay (the
    // fitPred chain; af assigns the FULL corpus with that frozen model)
    // feeding per-version candidate CTEs: v1 = slice 0, v4 = everything
    // minus the tombstoned ids. Queries are EXTERNAL (full documents
    // predicate) so the same set scores both versions — the q162
    // multi-version device for the ANN tier.
    "q167_ivf_versioned" -> {
      val (ctes, fin) = ivfReplayCtes(16, 2, Some("qv.vec_id % 3 = 0"))
      s"""WITH $ctes,
        |af AS (SELECT vec_id, cell FROM (
        |  ${ivfRanked(fin)}) WHERE rn = 1),
        |pr AS (SELECT vec_id, cell FROM (
        |  ${ivfRanked(fin,
             """WHERE qv.vec_id IN (SELECT doc_id FROM documents
               |    WHERE doc_id % 125 = 3 AND length(trim(text)) > 0)""".stripMargin)}) WHERE rn <= 4),
        |cand1 AS (SELECT DISTINCT pr.vec_id AS qid, af.vec_id AS nid
        | FROM pr JOIN af USING (cell) WHERE af.vec_id <> pr.vec_id AND af.vec_id % 3 = 0),
        |cand4 AS (SELECT DISTINCT pr.vec_id AS qid, af.vec_id AS nid
        | FROM pr JOIN af USING (cell) WHERE af.vec_id <> pr.vec_id AND af.vec_id % 13 <> 4),
        |ds1 AS (SELECT qid, nid, list_cosine_similarity(a.v, b.v) AS cos
        | FROM cand1 JOIN e a ON a.vec_id = cand1.qid JOIN e b ON b.vec_id = cand1.nid),
        |ds4 AS (SELECT qid, nid, list_cosine_similarity(a.v, b.v) AS cos
        | FROM cand4 JOIN e a ON a.vec_id = cand4.qid JOIN e b ON b.vec_id = cand4.nid),
        |dn1 AS (SELECT qid, nid AS doc_id,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
        | FROM ds1),
        |dn4 AS (SELECT qid, nid AS doc_id,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
        | FROM ds4)
        |SELECT CAST(4 AS INT) AS version, qid, CAST(rank AS INT) AS rank, doc_id
        |FROM dn4 WHERE rank <= 5
        |UNION ALL
        |SELECT CAST(1 AS INT) AS version, qid, CAST(rank AS INT) AS rank, doc_id
        |FROM dn1 WHERE rank <= 5""".stripMargin
    },
    // q168: chained semantic ingest — the q151 unrolled-rounds device
    // for the vector tier: round r's stored set st_r = slice 0 ∪
    // admitted(<r), candidates within the batch vector's 4 probed cells
    // under the slice-0-frozen model (fitPred chain), verdict on raw
    // double cosine vs the GLOBAL mid-gap threshold (±6.2e-4 from every
    // pair at both scales — safe for every round's candidate subset;
    // tools/probe_sem_ingest.py). MATERIALIZED: st/v CTEs are referenced
    // by every later round — DuckDB would otherwise re-expand the chain.
    "q168_semantic_ingest" -> {
      val (ctes, fin) = ivfReplayCtes(16, 2, Some("qv.vec_id % 4 = 0"))
      val sb = new StringBuilder(
        s"""WITH $ctes,
          |af AS (SELECT vec_id, cell FROM (
          |  ${ivfRanked(fin)}) WHERE rn = 1),
          |bp AS (SELECT vec_id, cell, rn FROM (
          |  ${ivfRanked(fin, "WHERE qv.vec_id % 4 <> 0")}) WHERE rn <= 4),
          |t1 AS (SELECT vec_id, cell FROM bp WHERE rn = 1),
          |st1 AS MATERIALIZED (SELECT vec_id FROM e WHERE vec_id % 4 = 0)""".stripMargin)
      for (r <- 1 to 3) {
        sb.append(s""",
          |mx$r AS MATERIALIZED (SELECT bp.vec_id, max(list_cosine_similarity(a.v, b.v)) AS m
          | FROM bp JOIN af ON af.cell = bp.cell JOIN st$r ON st$r.vec_id = af.vec_id
          |  JOIN e a ON a.vec_id = bp.vec_id JOIN e b ON b.vec_id = af.vec_id
          | WHERE bp.vec_id % 4 = $r GROUP BY bp.vec_id),
          |v$r AS MATERIALIZED (SELECT t1.vec_id, t1.cell,
          |  CASE WHEN m.m >= 0.467318::DOUBLE THEN 0 ELSE 1 END AS admitted
          | FROM t1 LEFT JOIN mx$r m ON m.vec_id = t1.vec_id WHERE t1.vec_id % 4 = $r)""".stripMargin)
        if (r < 3) sb.append(s""",
          |st${r + 1} AS MATERIALIZED (SELECT vec_id FROM st$r
          | UNION ALL SELECT vec_id FROM v$r WHERE admitted = 1)""".stripMargin)
      }
      sb.append("""
        |SELECT CAST(1 AS INT) AS round, vec_id, cell, admitted FROM v1
        |UNION ALL SELECT CAST(2 AS INT), vec_id, cell, admitted FROM v2
        |UNION ALL SELECT CAST(3 AS INT), vec_id, cell, admitted FROM v3""".stripMargin)
      sb.toString
    },
    // q151: three composed admission rounds over the portable
    // signature/band replay (q109's machinery). `pair` holds ALL
    // band-colliding ≥0.7 pairs as (id_x < id_y); in-batch rejection of d
    // is "∃ pair(a, d) with a in the same slice" (the keep-smallest-id
    // rule), index rejection is "∃ sym(d, c) with c admitted earlier".
    // Round N's index CTE is the union of rounds < N's admitted sets —
    // the chained fold. MATERIALIZED: each CTE is referenced by every
    // later round; DuckDB would otherwise inline and re-expand the chain.
    "q151_chained_ingest" ->
      s"""WITH ${portableSigCtes("doc_id")},
        |bandix AS (SELECT unnest(range(0, 16)) AS band),
        |banded AS (SELECT doc_id, band,
        |  CAST(concat('0x', substr(md5(concat(band::VARCHAR, '_',
        |    array_to_string(sig[band*4+1 : band*4+4], ','))), 1, 15)) AS BIGINT) AS bhash
        | FROM sig CROSS JOIN bandix),
        |cand AS (SELECT DISTINCT x.doc_id AS id_x, y.doc_id AS id_y
        | FROM banded x JOIN banded y ON x.band = y.band AND x.bhash = y.bhash
        | WHERE x.doc_id < y.doc_id),
        |pair AS MATERIALIZED (SELECT c.id_x, c.id_y FROM cand c
        | JOIN sig sa ON sa.doc_id = c.id_x
        | JOIN sig sb ON sb.doc_id = c.id_y
        | WHERE len(list_filter(range(1, 65), j -> sa.sig[j] = sb.sig[j])) / 64.0 >= 0.7),
        |sym AS MATERIALIZED (
        | SELECT id_x AS a, id_y AS b FROM pair
        | UNION ALL SELECT id_y, id_x FROM pair),
        |s0 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
        |s1 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 1),
        |s2 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 2),
        |adm0 AS MATERIALIZED (SELECT d.doc_id FROM s0 d
        | WHERE NOT EXISTS (SELECT 1 FROM pair p JOIN s0 a ON p.id_x = a.doc_id
        |                   WHERE p.id_y = d.doc_id)),
        |adm1 AS MATERIALIZED (SELECT d.doc_id FROM s1 d
        | WHERE NOT EXISTS (SELECT 1 FROM sym m JOIN adm0 i ON m.b = i.doc_id
        |                   WHERE m.a = d.doc_id)
        |   AND NOT EXISTS (SELECT 1 FROM pair p JOIN s1 a ON p.id_x = a.doc_id
        |                   WHERE p.id_y = d.doc_id)),
        |idx2 AS (SELECT doc_id FROM adm0 UNION ALL SELECT doc_id FROM adm1),
        |adm2 AS (SELECT d.doc_id FROM s2 d
        | WHERE NOT EXISTS (SELECT 1 FROM sym m JOIN idx2 i ON m.b = i.doc_id
        |                   WHERE m.a = d.doc_id)
        |   AND NOT EXISTS (SELECT 1 FROM pair p JOIN s2 a ON p.id_x = a.doc_id
        |                   WHERE p.id_y = d.doc_id))
        |SELECT doc_id, doc_id % 3 AS slice FROM adm0
        |UNION ALL SELECT doc_id, doc_id % 3 FROM adm1
        |UNION ALL SELECT doc_id, doc_id % 3 FROM adm2""".stripMargin,
    // q153: full DSIR replay — portable-md5 bucket hashing, integer
    // counts, the ln only on the 4096-bucket weight table (micro-unit
    // quantization margins probed by tools/probe_dsir.py at both
    // scales), then exact BIGINT per-doc sums: no float epsilon
    // anywhere downstream. Docs with no n-grams keep imp 0 via the
    // LEFT JOIN (the q119-class vanishing-row trap, closed explicitly).
    "q153_dsir_select" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |ng AS MATERIALIZED (SELECT doc_id, unnest(t) AS g FROM toks
        |  UNION ALL
        |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |    x -> concat(t[CAST(x AS INT)], ' ', t[CAST(x AS INT)+1]))) AS g
        |  FROM toks WHERE len(t) >= 2),
        |bk AS MATERIALIZED (SELECT doc_id,
        |  CAST(concat('0x', substr(md5(g),1,15)) AS BIGINT) % 4096 AS b FROM ng),
        |ht AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM bk
        |  WHERE doc_id % 10 = 0 GROUP BY 1),
        |hr AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM bk
        |  WHERE doc_id % 10 <> 0 GROUP BY 1),
        |tot AS (SELECT (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) FROM ht) AS nt,
        |               (SELECT CAST(coalesce(sum(cr), 0) AS BIGINT) FROM hr) AS nr),
        |spine AS (SELECT unnest(range(0, 4096)) AS b),
        |w AS MATERIALIZED (SELECT s.b,
        |  CAST(floor((ln((coalesce(ht.ct, 0) + 0.5::DOUBLE)/(t.nt + 2048.0::DOUBLE))
        |            - ln((coalesce(hr.cr, 0) + 0.5::DOUBLE)/(t.nr + 2048.0::DOUBLE)))
        |       * 1000000 + 0.5) AS BIGINT) AS lw
        | FROM spine s CROSS JOIN tot t
        | LEFT JOIN ht ON s.b = ht.b LEFT JOIN hr ON s.b = hr.b),
        |sc AS (SELECT d.doc_id, CAST(coalesce(sum(w.lw), 0) AS BIGINT) AS imp_micro
        |  FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d
        |  LEFT JOIN bk ON bk.doc_id = d.doc_id
        |  LEFT JOIN w ON w.b = bk.b
        |  GROUP BY 1),
        |rk AS (SELECT doc_id, imp_micro,
        |  row_number() OVER (ORDER BY imp_micro DESC, doc_id) AS r FROM sc)
        |SELECT doc_id, imp_micro FROM rk WHERE r <= 150""".stripMargin,
    // q154: RRF hybrid fusion — the sparse list IS q96's probed replay
    // (nested verbatim), the dense list replays the 1e-4-quantized
    // cosine ranks (probe_hybrid.py margins), and the fusion is exact
    // integer division in 1/lcm(61..65) units, the constant interpolated
    // from the SAME Scala function the engine uses.
    "q154_hybrid_rrf" -> {
      val l = graft.curate.Hybrid.lcmUnits(60, 5)
      s"""WITH sp AS (
        |$bm25TopkSql
        |),
        |qv AS (SELECT e.vec_id AS qid, CAST(e.embedding AS DOUBLE[]) AS v
        |  FROM embeddings e WHERE e.vec_id IN (
        |    SELECT doc_id FROM documents
        |    WHERE doc_id % 125 = 3 AND length(trim(text)) > 0)),
        |dnall AS (SELECT q.qid, e.vec_id AS doc_id,
        |    row_number() OVER (PARTITION BY q.qid ORDER BY
        |      CAST(floor(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.v)
        |           * 10000 + 0.5) AS BIGINT) DESC, e.vec_id) AS rank
        |  FROM embeddings e CROSS JOIN qv q),
        |u AS (SELECT qid, doc_id, $l // (60 + rank) AS w FROM sp
        |  UNION ALL
        |  SELECT qid, doc_id, $l // (60 + rank) FROM dnall WHERE rank <= 5),
        |f AS (SELECT qid, doc_id, CAST(sum(w) AS BIGINT) AS rrf_units
        |  FROM u GROUP BY 1, 2),
        |rk AS (SELECT qid, doc_id, rrf_units,
        |    row_number() OVER (PARTITION BY qid ORDER BY rrf_units DESC, doc_id)
        |      AS rank FROM f)
        |SELECT qid, CAST(rank AS INT) AS rank, doc_id, rrf_units
        |FROM rk WHERE rank <= 5""".stripMargin
    },
    // q155: q152's learned vocabulary, projected to per-word symbol
    // counts (len of the final segmentation) and joined back onto word
    // INSTANCES per source — integer sums, no epsilon. The inner join
    // drops chr(29)-containing words on both sides (the module
    // precondition, explicit in the Spark filter).
    "q155_bpe_accounting" -> bpeAccountingSql,
    // q161: the stored-tokenizer serving path (learn → saveMerges →
    // loadMerges → tokenAccounting) must be output-identical to q155's
    // in-memory path — merges are (rank, string, string) rows that
    // round-trip parquet exactly and rank order is restored on load, so
    // the oracle IS q155's (the q150/q158 save-load-is-invisible device
    // applied to the tokenizer artifact).
    "q161_bpe_stored_tokenizer" -> bpeAccountingSql,
    // q162: versioned index lifecycle — the committed v4 (all slices,
    // minus tombstoned docs) and the time-traveled v1 (slice 0 only)
    // must EACH equal a from-scratch rebuild over their version's
    // corpus; one shared external query-term CTE feeds two independent
    // per-version replay chains (margins: tools/probe_bm25_versions.py).
    "q162_versioned_index" ->
      raw"""WITH q AS (SELECT doc_id AS qid,
        |    (string_split_regex(trim(text),'\s+'))[1:5] AS qtoks
        |  FROM documents WHERE length(trim(text)) > 0 AND doc_id % 125 = 3),
        |qt AS (SELECT qid, unnest(list_distinct(qtoks)) AS term FROM q),
        |${bm25VersionCtes(" AND doc_id % 3 = 0", "a")},
        |${bm25VersionCtes(" AND doc_id % 17 <> 5", "b")}
        |SELECT version, qid, CAST(rank AS INT) AS rank, doc_id, score FROM (
        |  SELECT 1 AS version, qid, rank, doc_id, score FROM rka WHERE rank <= 5
        |  UNION ALL
        |  SELECT 4, qid, rank, doc_id, score FROM rkb WHERE rank <= 5)""".stripMargin,
    // q152: every BPE iteration unrolled — pair-count argmax with
    // (cnt DESC, lhs, rhs) tie-break, then a literal string replace on
    // the chr(29)-wrapped symbol vocabulary (replace matches can only
    // align on symbol boundaries; non-overlapping left-to-right replace
    // ≡ the engine's fold — tools/probe_bpe.py proves the equivalence
    // against an independent python implementation at both scales).
    // MATERIALIZED: r{i} is referenced by both p{i+1} and r{i+1}.
    "q152_bpe_merges" -> bpeOracle(8),
    // q156: ANN-backed hybrid — q34's full KMeans/assignment/probe
    // replay supplies the dense ranks (restricted to the hybrid query
    // set, self-matches excluded like topKAgainstIndex), q96's replay is
    // nested verbatim for the sparse ranks, and the fusion is the same
    // exact-integer RRF as q154 (constant interpolated from
    // Hybrid.lcmUnits). Rank-boundary margins for THIS query set probed
    // by tools/probe_hybrid_ann.py at both scales.
    "q156_hybrid_ann" -> {
      val l = graft.curate.Hybrid.lcmUnits(60, 5)
      s"""WITH $ivfDenseCtes,
        |sp AS (
        |$bm25TopkSql
        |),
        |u AS (SELECT qid, doc_id, $l // (60 + rank) AS w FROM sp
        |  UNION ALL
        |  SELECT qid, doc_id, $l // (60 + rank) FROM dn WHERE rank <= 5),
        |f AS (SELECT qid, doc_id, CAST(sum(w) AS BIGINT) AS rrf_units
        |  FROM u GROUP BY 1, 2),
        |rk AS (SELECT qid, doc_id, rrf_units,
        |    row_number() OVER (PARTITION BY qid ORDER BY rrf_units DESC, doc_id)
        |      AS rank FROM f)
        |SELECT qid, CAST(rank AS INT) AS rank, doc_id, rrf_units
        |FROM rk WHERE rank <= 5""".stripMargin
    },
    // q157: the linear fact — q27's oracle with the customer
    // accumulation window kept on its full (cust_id, transaction_date)
    // key and joined 1:1 (no fan-out), month average in the same
    // integer-exact 4dp form as the engine computes it.
    "q157_fact_linear" ->
      """WITH pm AS (
        |  SELECT o_orderkey AS trans_id, o_custkey AS acc_id, o_totalprice AS amount,
        |         CAST(o_orderdate AS DATE) AS transaction_date, o_orderpriority AS type_nm
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |acct AS (
        |  SELECT c_custkey AS acc_id, c_custkey % 200 AS cust_id, c_mktsegment AS acc_type
        |  FROM customer),
        |c1 AS (
        |  SELECT transaction_date, a.cust_id,
        |         count(trans_id) AS cust_no_transaction_daily,
        |         sum(amount) AS cust_daily_spending,
        |         list_sort(list(DISTINCT type_nm)) AS cust_daily_payment_type
        |  FROM pm JOIN acct a ON pm.acc_id = a.acc_id
        |  GROUP BY transaction_date, a.cust_id),
        |c1w AS (
        |  SELECT *, sum(cust_daily_spending) OVER (PARTITION BY cust_id ORDER BY transaction_date) AS cust_accum_spending
        |  FROM c1),
        |a1 AS (
        |  SELECT pm.transaction_date, cust_id, a.acc_id, a.acc_type AS account_type_name,
        |         count(DISTINCT pm.trans_id) AS account_no_transactions_daily,
        |         sum(pm.amount) AS account_daily_spending
        |  FROM pm JOIN acct a ON pm.acc_id = a.acc_id
        |  GROUP BY pm.transaction_date, a.cust_id, a.acc_id, a.acc_type),
        |a1w AS (
        |  SELECT *, sum(account_daily_spending) OVER (PARTITION BY cust_id, acc_id ORDER BY transaction_date) AS account_accum_spending
        |  FROM a1),
        |c3 AS (
        |  SELECT month(transaction_date) AS mth, a.cust_id,
        |         CAST((CAST(sum(CAST(amount AS DECIMAL(18,2))) * 10000 AS BIGINT) * 2
        |               + count(*)) // (2 * count(*)) AS DOUBLE) / 10000.0 AS cust_avgerage_daily_spending
        |  FROM pm JOIN acct a ON pm.acc_id = a.acc_id
        |  GROUP BY month(transaction_date), a.cust_id)
        |SELECT strftime(a1w.transaction_date, '%Y%m%d') AS date_key, a1w.cust_id, a1w.acc_id, a1w.account_type_name,
        |       a1w.account_no_transactions_daily,
        |       round(a1w.account_daily_spending, 4) AS account_daily_spending,
        |       round(a1w.account_accum_spending, 4) AS account_accum_spending,
        |       c1w.cust_no_transaction_daily, round(c1w.cust_daily_spending, 4) AS cust_daily_spending,
        |       array_to_string(c1w.cust_daily_payment_type, '|') AS cust_daily_payment_type,
        |       round(c1w.cust_accum_spending, 4) AS cust_accum_spending,
        |       round(c3.cust_avgerage_daily_spending, 4) AS cust_avgerage_daily_spending
        |FROM a1w
        |  JOIN c1w ON a1w.transaction_date = c1w.transaction_date AND a1w.cust_id = c1w.cust_id
        |  JOIN c3 ON c3.mth = month(a1w.transaction_date) AND c3.cust_id = a1w.cust_id""".stripMargin)

  /** The q152/q155 shared CTE chain (see the q152 map entry comment):
    * word histogram → delimiter-wrapped char vocabulary → k unrolled
    * merge iterations, threading `word` through so downstream consumers
    * can map words to their final segmentation (r$k). `maxLen` bounds the
    * symbol-position table; any word longer than it would silently lose
    * tail pairs, so it is sized 4× the longest testdata word. */
  private def bpeCtes(k: Int, maxLen: Int = 512): String = {
    val b = new StringBuilder
    b ++= """w AS MATERIALIZED (
      |  SELECT unnest(CASE WHEN length(trim(text)) = 0 THEN []
      |      ELSE regexp_split_to_array(trim(text), '\s+') END) AS word
      |  FROM documents),
      |v AS MATERIALIZED (
      |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM w
      |  WHERE NOT contains(word, chr(29)) GROUP BY 1),
      |r0 AS MATERIALIZED (
      |  SELECT word, chr(29) || array_to_string(
      |      list_transform(range(1, length(word)+1),
      |                     i -> substr(word, CAST(i AS INT), 1)),
      |      chr(29)||chr(29)) || chr(29) AS repr, freq FROM v),
      |""".stripMargin
    // the range bound is a scalar subquery that THROWS if any word
    // outgrows the position table — a silent tail-pair drop would be an
    // unexplained hash mismatch, an error() names the cause
    b ++= s"""pos AS MATERIALIZED (SELECT unnest(range(1,
      |  (SELECT CASE WHEN coalesce(max(length(word)), 0) >= $maxLen
      |          THEN CAST(error('bpe oracle: word exceeds maxLen=$maxLen') AS BIGINT)
      |          ELSE $maxLen END FROM v))) AS j)""".stripMargin
    for (i <- 1 to k) {
      b ++= s""",
      |t$i AS (SELECT string_split(substr(repr, 2, length(repr)-2),
      |               chr(29)||chr(29)) AS toks, freq FROM r${i - 1}),
      |p$i AS MATERIALIZED (
      |  SELECT toks[CAST(j AS INT)] AS lhs, toks[CAST(j AS INT)+1] AS rhs,
      |         CAST(sum(freq) AS BIGINT) AS cnt
      |  FROM t$i JOIN pos ON j < len(toks) GROUP BY 1, 2),
      |b$i AS MATERIALIZED (SELECT lhs, rhs, cnt FROM p$i
      |  ORDER BY cnt DESC, lhs, rhs LIMIT 1),
      |r$i AS MATERIALIZED (
      |  SELECT word, coalesce(replace(repr,
      |                 chr(29)||lhs||chr(29)||chr(29)||rhs||chr(29),
      |                 chr(29)||lhs||rhs||chr(29)), repr) AS repr, freq
      |  FROM r${i - 1} LEFT JOIN b$i ON TRUE)""".stripMargin
    }
    b.toString
  }

  /** q152's generated oracle: the CTE chain plus the merge-table select. */
  private def bpeOracle(k: Int): String =
    s"WITH ${bpeCtes(k)}\n" +
      (1 to k).map(i =>
        s"SELECT CAST($i AS INT) AS merge_rank, lhs, rhs, cnt FROM b$i")
        .mkString("\nUNION ALL ")
}
