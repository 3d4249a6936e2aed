package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.PathLifecycle

/** End-to-end corpus-maintenance lifecycle over real testdata: build a
  * stored signature index, admit an incremental batch against it, append
  * the survivors' signatures, compact the index files — the daily-ingest
  * loop every at-scale corpus runs, here with each stage's artifact on
  * disk like production. */
class IngestLifecycleSpec extends SparkSpec {
  import spark.implicits._

  test("index -> admit -> append -> compact round trip") {
    val root = java.nio.file.Files.createTempDirectory("ingest").toString
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(100)

    // day 0: hash the corpus once; the signature frame IS the stored index
    Dedup.minhashSignatures(corpus, "doc_id", "text")
      .write.parquet(s"$root/index")
    val index0 = spark.read.parquet(s"$root/index")
    val n0 = index0.count()
    assert(n0 == 100)

    // day 1: a batch with one near-dup of the corpus and one fresh doc
    val existingText = corpus.filter(col("doc_id") === 0).select("text").as[String].head()
    val batch = Seq(
      (100000L, existingText),                                     // dup of doc 0
      (100001L, "entirely fresh content never seen in the corpus before today ok")
    ).toDF("doc_id", "text")
    val admitted = Dedup.admitAgainstIndex(batch, index0, "doc_id", "text", threshold = 0.5)
    assert(admitted.select("doc_id").as[Long].collect().toSeq == Seq(100001L))

    // append the survivors' signatures; the index grows by exactly the admitted set
    Dedup.minhashSignatures(admitted, "doc_id", "text")
      .write.mode("append").parquet(s"$root/index")
    val index1 = spark.read.parquet(s"$root/index")
    assert(index1.count() == n0 + 1)

    // re-running the same batch: the corpus dup stays rejected; the
    // re-ingested doc (same id on both sides) is NOT near-dup-rejected by
    // design — identical-id re-ingestion is the exact/id dedup tier's job,
    // here the preceding anti-join on already-indexed ids
    val alreadyIndexed = index1.select(col("id").as("doc_id"))
    val again = Dedup.admitAgainstIndex(
      batch.join(alreadyIndexed, Seq("doc_id"), "left_anti"),
      index1, "doc_id", "text", threshold = 0.5)
    assert(again.count() == 0)

    // maintenance: compact the accumulated small files; data intact
    val files = PathLifecycle.compactParquet(spark, s"$root/index", targetFileMB = 128)
    assert(files == 1)
    assert(spark.read.parquet(s"$root/index").count() == n0 + 1)
  }

  test("streaming ingest bootstraps from a nonexistent index") {
    import graft.jobs.StreamingIngest
    import graft.streaming.Streaming
    val root = java.nio.file.Files.createTempDirectory("singest0").toString
    val in = s"$root/arrivals"
    new java.io.File(in).mkdirs()
    Seq((1L, "first ever document in a brand new corpus with no index yet"),
        (2L, "first ever document in a brand new corpus with no index yet!")) // near-dup in batch
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$in/f1")
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
      .parquet(s"$in/*")
    StreamingIngest.run(spark, stream, s"$root/index", s"$root/corpus",
      threshold = 0.5,
      opts = Streaming.ForEachBatchOptions(availableNow = true,
        checkpointLocation = Some(s"$root/ckpt"))).awaitTermination()
    // doc 1 admitted, its in-batch near-dup rejected; index created
    assert(spark.read.parquet(s"$root/corpus").select("doc_id").as[Long].collect().toSeq == Seq(1L))
    assert(spark.read.parquet(s"$root/index").count() == 1)
  }

  test("streaming ingest dedups each micro-batch against the growing index") {
    import graft.jobs.StreamingIngest
    import graft.streaming.Streaming
    val root = java.nio.file.Files.createTempDirectory("singest").toString
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(50)
    Dedup.minhashSignatures(corpus, "doc_id", "text").write.parquet(s"$root/index")
    val corpusDupText = corpus.filter(col("doc_id") === 0).select("text").as[String].head()
    val fresh1 = "completely new first document streaming in with plenty of unique words"
    val fresh2 = "another different second document also unique enough to be admitted now"

    // two arrival files, forced into separate micro-batches: the batch-2
    // dup of fresh1 must be rejected by signatures batch 1 appended
    val in = s"$root/arrivals"
    new java.io.File(in).mkdirs()
    Seq((1000L, corpusDupText), (1001L, fresh1)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$in/f1")
    Seq((1002L, fresh1 + " x"), (1003L, fresh2)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$in/f2")

    val stream = spark.readStream
      .schema(corpus.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$in/*")
    val q = StreamingIngest.run(spark, stream, s"$root/index", s"$root/corpus",
      threshold = 0.5,
      opts = Streaming.ForEachBatchOptions(availableNow = true,
        checkpointLocation = Some(s"$root/ckpt")))
    q.awaitTermination()

    val admitted = spark.read.parquet(s"$root/corpus")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(admitted == Seq(1001L, 1003L),
      s"expected only the two fresh docs admitted, got $admitted")
    // index grew by exactly the admitted set
    assert(spark.read.parquet(s"$root/index").count() == 52)
  }

  test("streaming admission equals the batch-by-batch admitAgainstIndex replay, without leaks") {
    import graft.jobs.StreamingIngest
    import graft.streaming.Streaming
    val root = java.nio.file.Files.createTempDirectory("singest3").toString
    val corpus = (0L until 50L).map(i =>
        (i, s"stored corpus document $i on topic t$i with words w${i}a w${i}b w${i}c w${i}d"))
      .toDF("doc_id", "text")
    Dedup.minhashSignatures(corpus, "doc_id", "text").write.parquet(s"$root/index")
    Dedup.minhashSignatures(corpus, "doc_id", "text").write.parquet(s"$root/replay")
    val corpusDup = corpus.filter(col("doc_id") === 0).select("text").as[String].head()
    val fresh = Seq(
      "completely new first document streaming in with plenty of unique words",
      "another different second document also unique enough to be admitted now",
      "a third arrival about river boats and lanterns drifting past the old mill",
      "the fourth text lists quarterly ledger entries for a small coastal bakery")
    // three single-file micro-batches; near-dups within a batch, of the
    // stored corpus, and of docs admitted by an EARLIER batch
    val batches = Seq(
      Seq((1000L, corpusDup), (1001L, fresh(0)), (1002L, fresh(1)), (1003L, fresh(1) + " y")),
      Seq((1004L, fresh(0) + " x"), (1005L, fresh(2))),
      Seq((1006L, fresh(2) + " z"), (1007L, fresh(1) + " w"), (1008L, fresh(3))))
    val in = s"$root/arrivals"
    val now = System.currentTimeMillis()
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(s"$in/f$i")
      new java.io.File(s"$in/f$i").listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified(now - 10000 + 1000 * i))
    }
    val stream = spark.readStream
      .schema(corpus.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$in/*")
    val rdds0 = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val live0 = graft.plan.Checkpoints.liveCount
    StreamingIngest.run(spark, stream, s"$root/index", s"$root/corpus",
      threshold = 0.5,
      opts = Streaming.ForEachBatchOptions(availableNow = true,
        checkpointLocation = Some(s"$root/ckpt"))).awaitTermination()
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet -- rdds0 == Set.empty[Int])
    assert(graft.plan.Checkpoints.liveCount == live0)

    val streamed = spark.read.parquet(s"$root/corpus")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val replayed = batches.flatMap { rows =>
      val adm = Dedup.admitAgainstIndex(rows.toDF("doc_id", "text"),
          spark.read.parquet(s"$root/replay"), "doc_id", "text", threshold = 0.5)
        .localCheckpoint(true)
      Dedup.minhashSignatures(adm, "doc_id", "text").write.mode("append").parquet(s"$root/replay")
      val ids = adm.select("doc_id").as[Long].collect().toSeq
      graft.plan.Checkpoints.releaseNow(adm, blocking = true)
      graft.plan.Checkpoints.release()
      ids
    }.sorted
    assert(streamed == replayed, s"streamed=$streamed replayed=$replayed")
    assert(streamed == Seq(1001L, 1002L, 1005L, 1008L), streamed)
    // the index grew by exactly the admitted docs' signatures
    def sigs(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Seq[Long])].collect().toSet
    val grown = sigs(spark.read.parquet(s"$root/index")) --
      sigs(Dedup.minhashSignatures(corpus, "doc_id", "text"))
    assert(grown == sigs(Dedup.minhashSignatures(
      spark.read.parquet(s"$root/corpus"), "doc_id", "text")))
    assert(spark.read.parquet(s"$root/index").count() == 50 + streamed.size)
  }
}
