package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Guards for the memoized parquet-read device (r15): the memo must be
  * invisible — same schema and rows as a bare `spark.read.parquet` under
  * every path shape the engine uses, including the two traps that bit:
  * hidden-named dirs passed AS the root (Bm25 `.gen_*` generations, Ivf
  * `_tombstones`) and distinct dirs with empty or identical-looking
  * listings, which must never share a memo key. */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("pqspec").toFile.getAbsolutePath

  test("hidden-named root dirs get their own schemas, not a shared key") {
    val root = tmp()
    // the Bm25.swapWrite shape: two sibling hidden generation dirs with
    // DIFFERENT schemas — the r15 collision served one's schema for the other
    Seq(("a", 1.0)).toDF("term", "df").write.parquet(s"$root/.gen_dfs_1")
    Seq((10.0, 42.0)).toDF("n_docs", "total_dl").write
      .parquet(s"$root/.gen_stats_1")
    val d1 = Pq.read(spark, s"$root/.gen_dfs_1")
    val d2 = Pq.read(spark, s"$root/.gen_stats_1")
    assert(d1.columns.toSeq == Seq("term", "df"))
    assert(d2.columns.toSeq == Seq("n_docs", "total_dl"))
    assert(d2.select("n_docs").as[Double].collect().toSeq == Seq(10.0))
    // underscore-prefixed root (the Ivf._tombstones shape)
    Seq(7L).toDF("vec_id").write.parquet(s"$root/_tombstones")
    assert(Pq.read(spark, s"$root/_tombstones").columns.toSeq == Seq("vec_id"))
  }

  test("an append changes the manifest: the memo re-reads, never serves stale") {
    val dir = s"${tmp()}/t"
    Seq((1L, "x")).toDF("id", "v").write.parquet(dir)
    assert(Pq.read(spark, dir).count() == 1)
    Seq((2L, "y")).toDF("id", "v").write.mode("append").parquet(dir)
    assert(Pq.read(spark, dir).count() == 2)
  }

  test("memoized schema is identical to bare inference (Spark-written files)") {
    val dir = s"${tmp()}/s"
    Seq((1L, "x", 2.5, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        Seq(1, 2), BigDecimal("12.34")))
      .toDF("id", "v", "d", "ts", "arr", "dec")
      .write.parquet(dir)
    val bare = spark.read.parquet(dir).schema
    // cold read exercises the driver-side footer path; warm the memo path
    assert(Pq.read(spark, dir).schema == bare)
    assert(Pq.read(spark, dir).schema == bare)
    assert(Pq.read(spark, dir).collect().length == 1)
  }

  test("two empty-listing dirs never share a key; nonexistent path behaves bare") {
    val root = tmp()
    val e1 = s"$root/e1"; val e2 = s"$root/e2"
    new java.io.File(e1).mkdirs(); new java.io.File(e2).mkdirs()
    // both reads must fail to infer (no files), exactly like bare reads —
    // neither may be served some earlier dir's memoized schema
    intercept[Exception](Pq.read(spark, e1).schema)
    intercept[Exception](Pq.read(spark, e2).schema)
    intercept[Exception](Pq.read(spark, s"$root/nope").schema)
  }

  test("readLocal returns the exact rows and schema of the cluster read") {
    val dir = s"${tmp()}/meta"
    Seq(("batch", "b0001", 1.0, Some(7L)), ("stat", null, 2.5, None),
        ("tombstone", "x", Double.NaN, Some(9L)))
      .map { case (k, s, d, l) => (k, s, d, l.map(Long.box).orNull) }
      .toDF("kind", "key", "num", "id")
      .write.parquet(dir)
    val local = Pq.readLocal(spark, dir).get
    val bare = spark.read.parquet(dir)
    assert(local.schema == bare.schema)
    assert(local.collect().map(_.toString).sorted.toSeq ==
      bare.collect().map(_.toString).sorted.toSeq)
    // zero jobs: the filtered collect constant-folds to a local relation
    assert(local.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
  }

  test("readLocal handles primitive arrays (the centroid-table shape)") {
    val dir = s"${tmp()}/cent"
    Seq((0, Seq(1.0, 2.0)), (1, Seq(3.0, 4.5))).toDF("cell", "centroid")
      .write.parquet(dir)
    val local = Pq.readLocal(spark, dir).get
    val got = local.orderBy("cell").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq)).toSeq
    assert(got == Seq((0, Seq(1.0, 2.0)), (1, Seq(3.0, 4.5))))
  }

  test("readLocal decodes null, empty and null-element arrays across row groups as the cluster read does") {
    val dir = s"${tmp()}/arrays"
    (0 until 3000).map { i =>
      (i, i % 4 match {
        case 0 => null
        case 1 => Seq.empty[java.lang.Double]
        case 2 => Seq[java.lang.Double](null, i * 0.5)
        case _ => Seq[java.lang.Double](i.toDouble, i + 0.25, i + 0.5)
      }, if (i % 5 == 0) null else s"t$i")
    }.toDF("cell", "v", "name")
      .coalesce(1).write.option("parquet.block.size", "4096").parquet(dir)
    val local = Pq.readLocal(spark, dir).get
    val bare = spark.read.parquet(dir)
    assert(local.schema == bare.schema)
    assert(local.collect().map(_.toString).sorted.toSeq ==
      bare.collect().map(_.toString).sorted.toSeq)
  }

  test("readLocal refuses unsupported shapes; readSmall falls back") {
    val dir = s"${tmp()}/nested"
    Seq((1L, (2L, "x"))).toDF("id", "s").write.parquet(dir)
    assert(Pq.readLocal(spark, dir).isEmpty)
    assert(Pq.readSmall(spark, dir).count() == 1)
  }

  test("readLocal decodes a nullable date column as the cluster read does; decimals and timestamps stay refused") {
    val dir = s"${tmp()}/dates"
    Seq((1, Some("2024-02-29")), (2, None), (3, Some("1970-01-01")), (4, Some("1969-12-31")),
        (5, Some("1900-03-01")), (6, Some("9999-12-31")))
      .toDF("id", "d").select(col("id"), to_date(col("d")).as("transaction_date"))
      .write.parquet(dir)
    val local = Pq.readLocal(spark, dir).get
    val bare = spark.read.parquet(dir)
    assert(local.schema == bare.schema)
    assert(local.collect().map(_.toString).sorted.toSeq ==
      bare.collect().map(_.toString).sorted.toSeq)
    assert(local.filter(col("transaction_date").isNull).count() == 1)
    val dec = s"${tmp()}/dec"
    Seq((1, "1.50")).toDF("id", "v").select(col("id"), col("v").cast("decimal(10,2)"))
      .write.parquet(dec)
    assert(Pq.readLocal(spark, dec).isEmpty)
    val ts = s"${tmp()}/ts"
    Seq((1, "2024-01-01 10:00:00")).toDF("id", "t")
      .select(col("id"), to_timestamp(col("t")).as("t")).write.parquet(ts)
    assert(Pq.readLocal(spark, ts).isEmpty)
  }

  test("multi-path read unions the files under one memoized schema") {
    val root = tmp()
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$root/p1")
    Seq((2L, "b")).toDF("id", "v").write.parquet(s"$root/p2")
    val both = Pq.read(spark, s"$root/p1", s"$root/p2")
    assert(both.count() == 2)
    assert(both.schema == spark.read.parquet(s"$root/p1", s"$root/p2").schema)
  }
}
