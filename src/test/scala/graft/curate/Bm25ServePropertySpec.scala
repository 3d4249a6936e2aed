package graft.curate

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalacheck.{Gen, Prop, Properties, Test}

/** The serving regimes of a stored BM25 index agree EXACTLY: over random
  * small corpora and maintenance sequences (append, delete, compact, and
  * a rebuild at the same root) on both tiers, the driver-local regime,
  * the distributed plan and the one-shot [[Bm25.topK]] over the live
  * corpus return identical (qid, rank, doc_id, score) rows. Query
  * batches carry duplicate-qid rows, blank and null text, terms absent
  * from the index, a `k` past the candidate set, and two identical docs
  * (a doc-id tie on the quantized score). */
object Bm25ServePropertySpec extends Properties("Bm25ServeRegimes") {

  // each trial runs a few dozen small Spark jobs: a handful of trials
  // covers the op mix without dominating the suite's wall time
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6).withWorkers(1)

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val words = Seq("apple", "banana", "cherry", "durian", "elder", "fig")

  private val textGen: Gen[String] = Gen.frequency(
    8 -> Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.oneOf(words)).map(_.mkString(" "))),
    1 -> Gen.const("   "),
    1 -> Gen.const(""))

  private sealed trait Op
  private final case class Append(texts: Seq[String]) extends Op
  private final case class Delete(picks: Seq[Int]) extends Op
  private case object Compact extends Op
  private case object Rebuild extends Op

  private val opGen: Gen[Op] = Gen.frequency(
    3 -> Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, textGen)).map(Append(_)),
    3 -> Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, Gen.choose(0, 1000))).map(Delete(_)),
    2 -> Gen.const(Compact),
    1 -> Gen.const(Rebuild))

  private val queryTextGen: Gen[Option[String]] = Gen.frequency(
    6 -> Gen.choose(1, 3).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(words :+ "zzz")).map(ws => Some(ws.mkString(" ")))),
    1 -> Gen.const(Some("  ")),
    1 -> Gen.const(None))

  /** A batch over qids 1..3 (so qids repeat), always holding a
    * duplicate-qid pair, an absent term, a blank and a null text. */
  private val batchGen: Gen[Seq[(Option[Long], Option[String])]] = for {
    n <- Gen.choose(0, 4)
    extra <- Gen.listOfN(n, for {
      q <- Gen.choose(1L, 3L)
      t <- queryTextGen
    } yield (Some(q): Option[Long], t))
  } yield Seq[(Option[Long], Option[String])](
    (Some(1L), Some("apple banana")), (Some(1L), Some("banana zzz")),
    (Some(2L), Some("zzz")), (Some(3L), Some(" ")), (Some(3L), None),
    (Some(4L), Some("cherry fig"))) ++ extra

  private final case class Trial(corpus: Seq[String], ops: Seq[Op],
                                 batch: Seq[(Option[Long], Option[String])], k: Int)

  private val trialGen: Gen[Trial] = for {
    n <- Gen.choose(2, 8)
    corpus <- Gen.listOfN(n, textGen)
    m <- Gen.choose(2, 5)
    ops <- Gen.listOfN(m, opGen)
    batch <- batchGen
    k <- Gen.choose(1, 16)
  } yield Trial(corpus, ops, batch, k)

  private def rows(df: DataFrame): Set[Row] = df.collect().toSet

  property("local regime == distributed regime == one-shot topK over the live corpus") =
    Prop.forAllNoShrink(trialGen) { t =>
      import spark.implicits._
      val root = java.nio.file.Files.createTempDirectory("bm25_regimes").toString
      val plain = s"$root/plain"
      val versioned = s"$root/versioned"
      // docs 1 and 2 are identical: every query term they hold ties them
      var live: Seq[(Long, String)] =
        Seq(1L -> "apple banana", 2L -> "apple banana") ++
          t.corpus.zipWithIndex.map { case (s, i) => (i + 3L, s) }
      var nextId = live.size + 1L
      def frame(docs: Seq[(Long, String)]) = docs.toDF("doc_id", "text")
      val queries = t.batch.toDF("qid", "qtext")
      val failures = scala.collection.mutable.ArrayBuffer.empty[String]
      def check(step: String): Unit = {
        val want = rows(Bm25.topK(frame(live), "doc_id", "text", queries,
          "qid", "qtext", t.k))
        graft.plan.Checkpoints.release()
        Seq("plain" -> Bm25.loadIncIndex(spark, plain),
            "versioned" -> Bm25Versioned.load(spark, versioned)).foreach { case (tier, idx) =>
          val before = Bm25.serveCounters.localServes
          val local = Bm25.topKAgainstIncIndex(idx, queries, "qid", "qtext", t.k)
          val tookLocal = Bm25.serveCounters.localServes == before + 1
          val dist = Bm25.topKDistributed(idx, queries, "qid", "qtext", t.k)
          val (l, d) = (rows(local), rows(dist))
          if (!tookLocal) failures += s"$step/$tier: the local regime was not taken"
          if (local.schema != dist.schema)
            failures += s"$step/$tier: schema ${local.schema} != ${dist.schema}"
          if (l != d) failures += s"$step/$tier: local $l != distributed $d"
          if (d != want) failures += s"$step/$tier: distributed $d != one-shot $want"
        }
      }
      try {
        Bm25.buildAndSaveIncIndex(spark, frame(live), "doc_id", "text", plain)
        Bm25Versioned.init(spark, versioned, frame(live), "doc_id", "text")
        check("build")
        t.ops.zipWithIndex.foreach { case (op, i) =>
          op match {
            case Append(texts) =>
              val batch = texts.map { s => nextId += 1; (nextId - 1, s) }
              Bm25.appendIncIndex(spark, plain, frame(batch), "doc_id", "text")
              Bm25Versioned.append(spark, versioned, frame(batch), "doc_id", "text")
              live = live ++ batch
            case Delete(picks) =>
              // picks past the highest id delete nothing (absent ids)
              val ids = picks.map(p => 1L + p % (nextId + 1)).distinct
              Bm25.deleteFromIncIndex(spark, plain, ids.toDF("doc_id"), "doc_id")
              Bm25Versioned.delete(spark, versioned, ids.toDF("doc_id"), "doc_id")
              live = live.filterNot(d => ids.contains(d._1))
            case Compact =>
              Bm25.compactIncIndex(spark, plain)
              Bm25Versioned.compact(spark, versioned)
            case Rebuild =>
              // the versioned tier has no rebuild at a root: it compacts
              Bm25.buildAndSaveIncIndex(spark, frame(live), "doc_id", "text", plain)
              Bm25Versioned.compact(spark, versioned)
          }
          check(s"op$i:$op")
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      Prop(failures.isEmpty) :| failures.take(3).mkString("\n")
    }
}
