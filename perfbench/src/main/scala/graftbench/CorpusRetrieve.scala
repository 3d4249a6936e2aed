package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.curate.Bm25
import graft.dedup.Dedup
import graft.jobs.StreamingIngest
import graft.sources.Pq
import graft.streaming.Streaming

/** `corpus_ingest_retrieve`: the curation extension's ingest and search
  * path. A generated corpus is indexed once (BM25, write-first
  * incremental index). Then single-query top-k requests run closed-loop;
  * every `RequestsPerUpdate` requests one index update runs in rotation:
  * an arrival file lands and [[StreamingIngest.run]] admits it
  * (availableNow, one file per trigger, portable MinHash signatures)
  * before its admitted docs go through [[Bm25.appendIncIndex]]; a
  * retention slice is deleted ([[Bm25.deleteFromIncIndex]]); or the index
  * is compacted ([[Bm25.compactIncIndex]]). About 30% of the arrival docs
  * are near-duplicates of earlier arrivals, within and across files.
  *
  * Checks: the stream's input rows equal the offered docs; the index doc
  * count follows every update; sampled top-k results equal a one-shot
  * [[Bm25.topK]] over the current corpus; and at the end, the admitted ids
  * equal a from-scratch [[Dedup.admitAgainstIndex]] replay. */
final class CorpusRetrieve(h: Harness) extends Workload {
  private val spark = h.spark
  private val tr = h.tracer
  import spark.implicits._

  val Vocabulary = 3000
  val TokensPerDoc = 40
  val InitialDocs = 4000
  val ArrivalFiles = 10
  val DocsPerArrival = 800
  val DuplicateShare = 0.3
  val Queries = 40
  val TopK = 10
  val RequestsPerUpdate = 5
  val CheckEvery = 5 // one sampled recompute per update interval
  val DeleteSlice = 200

  private val corpus0 = h.path("corpus0")
  private val staged = h.path("staged")
  private val arrivals = h.path("arrivals")
  private val sigIndex = h.path("sig_index")
  private val corpus = h.path("corpus")
  private val ckpt = h.path("ingest_ckpt")
  private val bm25 = h.path("bm25")

  private val rnd = h.rng("corpus")
  private val vocab: Array[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < Vocabulary)
      seen += Iterator.fill(3 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString
    seen.toArray
  }
  /** Skewed word draw: low indices are frequent, like natural text. */
  private def word(): String = vocab((Vocabulary * math.pow(rnd.nextDouble(), 2.0)).toInt)
  private def freshDoc(): Array[String] = Array.fill(TokensPerDoc)(word())

  private val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))

  // arrival i's (id, text) rows, and how many of all are generated near-dups
  private val arrivalDocs = mutable.ArrayBuffer.empty[Seq[(Long, String)]]
  private var generatedDups = 0
  private val queries: IndexedSeq[(Long, String)] =
    (0 until Queries).map(i => (i.toLong, Seq.fill(3)(vocab(rnd.nextInt(Vocabulary / 4))).mkString(" ")))

  private def generate(): Unit = {
    val history = mutable.ArrayBuffer.empty[Array[String]]
    var id = 1000000L
    (0 until ArrivalFiles).foreach { _ =>
      val docs = (0 until DocsPerArrival).map { _ =>
        id += 1
        val toks =
          if (history.nonEmpty && rnd.nextDouble() < DuplicateShare) {
            generatedDups += 1
            val t = history(rnd.nextInt(history.size)).clone()
            t(rnd.nextInt(TokensPerDoc)) = word()
            t
          } else freshDoc()
        history += toks
        (id, toks.mkString(" "))
      }
      arrivalDocs += docs
    }
  }

  private var landed = 0
  private var deletedBelow = 1L // initial docs with id < this are deleted
  private var indexDocs = 0L
  private val admitted = mutable.ArrayBuffer.empty[Set[Long]]
  private var offeredRows = 0L
  private var streamedRows = 0L
  private var requests = 0
  private var updates = 0

  private def parquetFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(dir))
  }

  /** Land the next arrival as a single file with its own mtime (the file
    * source orders micro-batches oldest first), ingest it, and append the
    * admitted docs to the BM25 index. */
  private def ingestNext(): Unit = {
    val i = landed
    landed += 1
    val dst = new java.io.File(f"$arrivals/a_$i%03d.parquet")
    java.nio.file.Files.move(new java.io.File(f"$staged/a_$i%03d.parquet").toPath, dst.toPath)
    require(dst.setLastModified(1600000000000L + i * 60000L), s"cannot set mtime on $dst")
    val before = parquetFiles(corpus).map(_.getPath).toSet
    val q = h.op("ingest", "bench.ingest") {
      val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(arrivals)
      val q = tr.timed("jobs.ingest_run_s", "jobs.StreamingIngest.run") {
        val q = StreamingIngest.run(spark, stream, sigIndex, corpus, threshold = 0.7, portable = true,
          opts = Streaming.ForEachBatchOptions(availableNow = true, checkpointLocation = Some(ckpt)))
        q.awaitTermination()
        q
      }
      val fresh = parquetFiles(corpus).map(_.getPath).filterNot(before)
      if (fresh.nonEmpty) tr.timed("curate.append_s", "curate.Bm25.appendIncIndex") {
        Bm25.appendIncIndex(spark, bm25, Pq.read(spark, fresh: _*), "doc_id", "text")
      }
      (q, fresh)
    }
    q.foreach { case ((sq, fresh), _) =>
      val rows = sq.recentProgress.map(_.numInputRows).sum
      offeredRows += DocsPerArrival
      streamedRows += rows
      h.check(s"arrival $i: stream read $rows rows, offered $DocsPerArrival")(rows == DocsPerArrival)
      val ids = if (fresh.isEmpty) Set.empty[Long]
        else Pq.read(spark, fresh: _*).select("doc_id").as[Long].collect().toSet
      admitted += ids
      indexDocs += ids.size
      checkIndexDocs(s"arrival $i")
    }
  }

  private def checkIndexDocs(what: String): Unit = {
    val n = Bm25.loadIncIndex(spark, bm25).nDocs
    h.check(s"$what: index holds $n docs, expected $indexDocs")(n == indexDocs.toDouble)
    tr.sample("curate.index_files", parquetFiles(bm25).size.toDouble)
  }

  private def deleteSlice(): Unit = {
    val lo = deletedBelow
    h.op("delete", "bench.delete") {
      tr.timed("curate.delete_s", "curate.Bm25.deleteFromIncIndex") {
        Bm25.deleteFromIncIndex(spark, bm25, spark.range(lo, lo + DeleteSlice).toDF("doc_id"), "doc_id")
      }
    }.foreach { _ =>
      deletedBelow = lo + DeleteSlice
      indexDocs -= DeleteSlice
      checkIndexDocs(s"delete [$lo, ${lo + DeleteSlice})")
    }
  }

  private def compact(): Unit =
    h.op("compact", "bench.compact") {
      tr.timed("curate.compact_s", "curate.Bm25.compactIncIndex")(Bm25.compactIncIndex(spark, bm25))
    }.foreach(_ => checkIndexDocs("compact"))

  private def topK(qdf: DataFrame): Seq[Row] = {
    val idx = tr.timed("curate.load_index_s", "curate.Bm25.loadIncIndex")(Bm25.loadIncIndex(spark, bm25))
    tr.timed("curate.topk_s", "curate.Bm25.topKAgainstIncIndex") {
      Bm25.topKAgainstIncIndex(idx, qdf, "qid", "q", TopK).collect().toSeq
    }
  }

  private def currentCorpus: DataFrame = {
    val initial = Pq.read(spark, corpus0).filter(col("doc_id") >= deletedBelow)
    if (parquetFiles(corpus).isEmpty) initial else initial.unionByName(Pq.read(spark, corpus))
  }

  private def request(): Unit = {
    val (qid, text) = queries(requests % Queries)
    requests += 1
    h.op("request", "bench.request")(topK(Seq((qid, text)).toDF("qid", "q"))).foreach { case (rows, _) =>
      if (requests % CheckEvery == 0) {
        val want = Bm25.topK(currentCorpus, "doc_id", "text", Seq((qid, text)).toDF("qid", "q"),
          "qid", "q", TopK).collect().map(_.toString).toSet
        graft.plan.Checkpoints.release()
        h.check(s"request $requests (query $qid) top-$TopK equals a one-shot BM25 over the corpus")(
          rows.map(_.toString).toSet == want)
      }
    }
  }

  private val rotation = Seq("ingest", "delete", "compact")

  def setup(): Unit = {
    tr.span("bench.generate")(writeInputs())
    tr.timed("curate.build_s", "curate.Bm25.buildAndSaveIncIndex") {
      Bm25.buildAndSaveIncIndex(spark, Pq.read(spark, corpus0), "doc_id", "text", bm25)
    }
    indexDocs = InitialDocs
  }

  /** The initial corpus as one file, and the arrivals staged as single
    * files (one Spark partition each) ready to land. */
  private def writeInputs(): Unit = {
    generate()
    spark.createDataFrame(spark.sparkContext.parallelize(
        (1L to InitialDocs).map(i => Row(i, freshDoc().mkString(" "))), 1), schema)
      .write.parquet(corpus0)
    spark.createDataFrame(spark.sparkContext.parallelize(
        arrivalDocs.flatten.map { case (i, t) => Row(i, t) }.toSeq, ArrivalFiles), schema)
      .write.parquet(s"$staged/_job")
    val parts = new java.io.File(s"$staged/_job").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).sortBy(_.getName)
    require(parts.length == ArrivalFiles, s"expected $ArrivalFiles arrival files, got ${parts.length}")
    parts.zipWithIndex.foreach { case (f, i) =>
      java.nio.file.Files.move(f.toPath, new java.io.File(f"$staged/a_$i%03d.parquet").toPath)
    }
    new java.io.File(arrivals).mkdirs()
  }

  def run(): Unit =
    while ((h.timeLeft || updates < rotation.size) && landed < ArrivalFiles) {
      (0 until RequestsPerUpdate).foreach(_ => request())
      rotation(updates % rotation.size) match {
        case "ingest" => ingestNext()
        case "delete" => deleteSlice()
        case _ => compact()
      }
      updates += 1
    }

  /** From-scratch replay of admission over the landed arrivals, in order. */
  override def finish(): Unit = {
    val replayIdx = h.path("replay_sig_index")
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("id", LongType), StructField("sig", ArrayType(LongType)))))
    val replay = (0 until landed).map { i =>
      val docs = Pq.read(spark, f"$arrivals/a_$i%03d.parquet")
      val index = if (i == 0) empty else Pq.read(spark, replayIdx)
      val adm = Dedup.admitAgainstIndex(docs, index, "doc_id", "text", threshold = 0.7, portable = true)
        .select("doc_id", "text").localCheckpoint(true)
      Dedup.minhashSignatures(adm, "doc_id", "text", portable = true).write.mode("append").parquet(replayIdx)
      val ids = adm.select("doc_id").as[Long].collect().toSet
      graft.plan.Checkpoints.releaseNow(adm, blocking = true)
      graft.plan.Checkpoints.release()
      ids
    }
    h.check("admitted ids equal a from-scratch admitAgainstIndex replay", standalone = true)(
      replay == admitted.toSeq)
    h.check("streamed rows equal offered docs", standalone = true)(streamedRows == offeredRows)
    val offered = landed * DocsPerArrival
    tr.set("dedup.admit_ratio", admitted.map(_.size).sum.toDouble / offered)
  }

  def inputs: Map[String, Json.J] = Map(
    "vocabulary" -> Json.num(Vocabulary), "tokens_per_doc" -> Json.num(TokensPerDoc),
    "initial_docs" -> Json.num(InitialDocs), "arrival_files" -> Json.num(ArrivalFiles),
    "docs_per_arrival" -> Json.num(DocsPerArrival),
    "generated_duplicate_share" -> Json.num(generatedDups.toDouble / (ArrivalFiles * DocsPerArrival)),
    "arrivals_ingested" -> Json.num(landed),
    "admitted_share" -> Json.num(admitted.map(_.size).sum.toDouble / math.max(1, landed * DocsPerArrival)),
    "queries" -> Json.num(Queries), "top_k" -> Json.num(TopK),
    "requests" -> Json.num(requests), "updates" -> Json.num(updates))

  def endToEnd(): Seq[E2E] = {
    val ingest = h.samples("ingest")
    Seq(
      E2E.scalar("setup_s", "s", h.setupSeconds),
      E2E.perKindMean("read_s", Map("request" -> h.samples("request"))),
      E2E.perKindMean("update_s", Seq("ingest", "delete", "compact").map(k => k -> h.samples(k)).toMap),
      E2E.latency("read_latency", h.samples("request"))) ++
      (if (ingest.isEmpty) Nil else Seq(E2E.scalar("ingest_docs_per_s", "docs/s",
        DocsPerArrival * ingest.size / ingest.sum, "arrivals" -> Json.num(ingest.size))))
  }
}
