package graft

class EntrySpec extends SparkSpec {

  test("entry flagship query returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has either an oracle or is a documented rows-only check") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // q50 only: binary media decode is not SQL-replayable (its
    // deterministic projection IS oracled separately — q101). q22/q23/q33/
    // q46 were promoted to exact oracles in round 5 via portable md5-based
    // hashing, q25/q32 via embedded-literal plane matrices, and q34/q68 in
    // round 6 via the deterministic quantized Ivf fit + DuckDB KMeans
    // replay (tools/probe_ivf.py).
    assert(rowsOnly == Set("q50_multimodal"))
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("every declared query executes on sf0.001") {
    // `sbt test` alone should catch a query that crashes at runtime —
    // without this, breakage only surfaces in the out-of-band Verify run.
    // Leak gate: a query leaves no persisted RDD and no tracked
    // checkpoint behind once its result is consumed and the SQL cache
    // cleared — measured against the state before THAT query, since the
    // suites share one SparkContext
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val rdds = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val live = graft.plan.Checkpoints.liveCount
      val r = try { fn(spark, "/root/testdata/sf0.001").count(); None }
              catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
      spark.catalog.clearCache()
      val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- rdds
      val grew = graft.plan.Checkpoints.liveCount - live
      r.toSeq ++ (if (leaked.isEmpty && grew <= 0) None else Some(
        s"$name: leaked ${leaked.size} persisted RDDs, $grew more live checkpoints"))
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
