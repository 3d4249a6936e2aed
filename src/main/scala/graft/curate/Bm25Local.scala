package graft.curate

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{TextFunctions => T}

/** The driver-local serving regime of a stored index ([[Bm25.IncIndex]]):
  * a bounded request against a small index, answered without a Spark job.
  *
  * When: the query side's term projection optimizes to a
  * [[LocalRelation]]; every postings, dfs and tombstones frame is a
  * file-backed parquet relation or a local relation; and the index files' visible bytes
  * stay under [[MaxIndexBytes]]. Anything else is served by the
  * distributed plan, unchanged. Each decision is logged with its inputs
  * and counted ([[counters]]).
  *
  * How: each parquet file of the relations' frozen listings (no new
  * listing) is decoded once, through [[graft.sources.Pq.decodeLocal]],
  * into a term-grouped columnar segment — per term, the `doc_id`, `tf`
  * and `dl` arrays — and held in one store bounded by
  * [[MaxResidentBytes]] (least recently used first out), keyed by file
  * identity (path, length, mtime). The soundness argument is the
  * `Pq` manifest memo's: identical bytes give identical rows. After an
  * append only the new postings files load, after a delete only the new
  * tombstone file and the new dfs generation; only the first request
  * and a compaction pay a full load. The store holds plain arrays — no
  * RDD, no checkpoint — and is safe under concurrent requests.
  *
  * Exactness: the same rows as the distributed plan. Query terms come
  * from the same `T.tokens` / `array_distinct` projection (evaluated by
  * the optimizer over the local rows), so blank, null and duplicate-qid
  * rows behave alike; a term scores only with its dfs rows (the inner
  * join); each (term, posting) candidate scores with `scoreSums`'
  * expression in its association order with `StrictMath.log` (Spark's
  * `Log`); tombstoned docs drop as the anti-join drops them; the score
  * quantizes with Spark's `round` (`BigDecimal(d).setScale(_, HALF_UP)`);
  * ranks follow (score desc, doc_id asc). Only the per-(query, doc) sum
  * order may differ from a Spark aggregation's, the same freedom any
  * two partitionings of the distributed plan have. Rows the regime does
  * not model (a null doc id, tf, dl or df; a doc id other than
  * int/bigint; a qid other than int/bigint/string) go to the
  * distributed plan. */
private[curate] object Bm25Local {

  /** Visible bytes of an index's files (postings, dfs and tombstones)
    * up to which the local regime serves: the measured crossover where
    * a full decode costs about four distributed requests, so a
    * compaction's reload pays for itself within four resident requests.
    * Measured on a 4-CPU host (40-token docs over a 3,000-word vocabulary;
    * postings bytes → distributed request / full local load after a
    * compaction / resident request / decoded heap, each request timed
    * from `loadIncIndex` to its collect): 1.2 MB (8,000 docs) → 0.34 s /
    * 0.20 s / 22 ms / 9.5 MB, medians of 3 runs (0.34 s / 0.32 s / 62 ms
    * when each parquet file open built a fresh Hadoop configuration, about
    * 11 ms more per open). The larger rows were timed with those opens:
    * 4.5 MB → 0.50 s / 0.80 s / 23 ms / 30 MB; 13.6 MB → 0.56 s / 1.78 s /
    * 21 ms / 57 MB; 28.3 MB → 0.71 s / 2.92 s / 27 ms / 112 MB. */
  val MaxIndexBytes: Long = 16L << 20

  /** Bound on the decoded segments' estimated heap bytes: room for about
    * four indexes at the cap. */
  val MaxResidentBytes: Long = 256L << 20

  /** Read-only serve telemetry, cumulative over the JVM. */
  final case class Counters(localServes: Long, distributedServes: Long,
                            segmentLoads: Long, segmentReuses: Long,
                            residentBytes: Long)

  private val localServes = new AtomicLong
  private val distributedServes = new AtomicLong
  private val segmentLoads = new AtomicLong
  private val segmentReuses = new AtomicLong

  def counters: Counters = Counters(localServes.get, distributedServes.get,
    segmentLoads.get, segmentReuses.get, Store.bytes)

  private val log = org.slf4j.LoggerFactory.getLogger("graft.curate.Bm25")

  // ------------------------------------------------------------ segments

  /** Term-grouped postings of one file: per term, parallel arrays. */
  private final class Postings(val docs: Array[Long], val tf: Array[Double],
                               val dl: Array[Double])

  /** A decoded file (or local relation), by kind: `postings` term →
    * arrays, `dfs` term → df values (one per row of that term), `ids`
    * the sorted tombstoned doc ids. Not `modeled` when a row falls
    * outside the model (a null in a scored column): such an index
    * serves distributed. */
  private final case class Segment(
      postings: java.util.HashMap[String, Postings],
      dfs: java.util.HashMap[String, Array[Double]],
      ids: Array[Long], bytes: Long, modeled: Boolean)

  private sealed trait Kind { def cols: Seq[String] }
  private case object PostingsKind extends Kind { val cols = Seq("doc_id", "dl", "term", "tf") }
  private case object DfsKind extends Kind { val cols = Seq("term", "df") }
  private case object TombstonesKind extends Kind { val cols = Seq("doc_id") }

  private val Unmodeled = Segment(null, null, null, 64L, modeled = false)

  /** Build a segment from rows given as accessors over `cols` order. */
  private final class Builder(kind: Kind) {
    private val docs = new scala.collection.mutable.ArrayBuilder.ofLong
    private val nums = new scala.collection.mutable.ArrayBuilder.ofDouble
    private val dls = new scala.collection.mutable.ArrayBuilder.ofDouble
    private val terms = scala.collection.mutable.ArrayBuffer.empty[String]
    private var ok = true

    def add(isNull: Int => Boolean, num: Int => Double, long: Int => Long,
            str: Int => String): Unit = kind match {
      case PostingsKind =>
        if (!isNull(2)) { // a null term joins nothing
          if (isNull(0) || isNull(1) || isNull(3)) ok = false
          else {
            docs += long(0); dls += num(1); terms += str(2); nums += num(3)
          }
        }
      case DfsKind =>
        if (!isNull(0)) {
          if (isNull(1)) ok = false else { terms += str(0); nums += num(1) }
        }
      case TombstonesKind =>
        if (!isNull(0)) docs += long(0) // a null id removes nothing
    }

    def result(): Segment = if (!ok) Unmodeled else kind match {
      case PostingsKind =>
        val d = docs.result(); val t = nums.result(); val l = dls.result()
        val byTerm = new java.util.HashMap[String, scala.collection.mutable.ArrayBuilder.ofInt]()
        var i = 0
        while (i < terms.length) {
          var ix = byTerm.get(terms(i))
          if (ix == null) { ix = new scala.collection.mutable.ArrayBuilder.ofInt; byTerm.put(terms(i), ix) }
          ix += i
          i += 1
        }
        val out = new java.util.HashMap[String, Postings](byTerm.size * 2)
        var bytes = 64L
        byTerm.forEach { (term, ixb) =>
          val ix = ixb.result()
          out.put(term, new Postings(ix.map(d), ix.map(t), ix.map(l)))
          bytes += 160L + 2L * term.length + 24L * ix.length
        }
        Segment(out, null, null, bytes, modeled = true)
      case DfsKind =>
        val t = nums.result()
        val grouped = new java.util.HashMap[String, Array[Double]](terms.length * 2)
        var bytes = 64L
        var i = 0
        while (i < terms.length) {
          val prev = grouped.get(terms(i))
          grouped.put(terms(i), if (prev == null) Array(t(i)) else prev :+ t(i))
          bytes += 96L + 2L * terms(i).length
          i += 1
        }
        Segment(null, grouped, null, bytes, modeled = true)
      case TombstonesKind =>
        val ids = docs.result()
        java.util.Arrays.sort(ids)
        Segment(null, null, ids, 64L + 8L * ids.length, modeled = true)
    }
  }

  /** The one resident store: decoded file segments by file identity,
    * bounded in estimated bytes, least recently used evicted first. */
  private object Store {
    private val lru = new java.util.LinkedHashMap[String, Segment](64, 0.75f, true)
    private var total = 0L

    def bytes: Long = synchronized(total)

    def get(key: String): Segment = synchronized(lru.get(key))

    def put(key: String, seg: Segment): Unit = synchronized {
      if (seg.bytes <= MaxResidentBytes && !lru.containsKey(key)) {
        lru.put(key, seg)
        total += seg.bytes
        val it = lru.entrySet.iterator
        while (total > MaxResidentBytes && it.hasNext) {
          val e = it.next()
          if (e.getKey != key) { total -= e.getValue.bytes; it.remove() }
        }
      }
    }
  }

  // -------------------------------------------------------------- leaves

  /** Where a frame's rows live: immutable files, read by column name
    * and type, or rows already on the driver at the given ordinals. */
  private sealed trait Leaf
  private final case class FileLeaf(files: Seq[FileStatus],
                                    schema: StructType) extends Leaf
  private final case class RowsLeaf(rows: Seq[InternalRow], ordinals: Seq[Int],
                                    types: Seq[DataType]) extends Leaf

  /** The leaf behind `df`'s columns `cols`, if its optimized plan is a
    * local relation or an unpartitioned parquet relation, with each
    * column of the given types. */
  private def leafOf(df: DataFrame, cols: Seq[String],
                     typeOk: Seq[DataType => Boolean]): Option[Leaf] = {
    def pick(named: Seq[(String, Attribute)]): Option[Seq[Attribute]] = {
      val attrs = cols.map(c => named.filter(_._1 == c).map(_._2))
      if (attrs.forall(_.size == 1) &&
          attrs.zip(typeOk).forall { case (a, ok) => ok(a.head.dataType) })
        Some(attrs.map(_.head))
      else None
    }
    def files(l: LogicalRelation, named: Seq[(String, Attribute)]): Option[Leaf] =
      l.relation match {
        case fsr: HadoopFsRelation if fsr.fileFormat.isInstanceOf[ParquetFileFormat] &&
            fsr.partitionSchema.isEmpty =>
          fsr.location match {
            case idx: PartitioningAwareFileIndex =>
              pick(named).map(as => FileLeaf(idx.allFiles().filter(_.getLen > 0),
                StructType(as.map(a => StructField(a.name, a.dataType)))))
            case _ => None
          }
        case _ => None
      }
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation =>
        pick(l.output.map(a => a.name -> a)).map(as =>
          RowsLeaf(l.data, as.map(a => l.output.indexWhere(_.exprId == a.exprId)),
            as.map(_.dataType)))
      case l: LogicalRelation => files(l, l.output.map(a => a.name -> a))
      case _ => None
    }
  }

  private val idType: DataType => Boolean = t => t == LongType || t == IntegerType
  private val dblType: DataType => Boolean = _ == DoubleType
  private val strType: DataType => Boolean = _ == StringType

  /** A leaf's segments, resident ones reused and missing ones decoded
    * (and kept). Returns (segments, reused, loaded). */
  private def segments(conf: org.apache.hadoop.conf.Configuration, kind: Kind,
                       leaf: Leaf): (Seq[Segment], Int, Int) = leaf match {
    case RowsLeaf(rows, ords, types) =>
      val b = new Builder(kind)
      rows.foreach { r =>
        b.add(i => r.isNullAt(ords(i)), i => r.getDouble(ords(i)),
          i => if (types(i) == IntegerType) r.getInt(ords(i)).toLong else r.getLong(ords(i)),
          i => r.getUTF8String(ords(i)).toString)
      }
      (Seq(b.result()), 0, 0)
    case FileLeaf(files, schema) =>
      var reused = 0
      var loaded = 0
      val segs = files.map { st =>
        val key = s"$kind|${schema.toDDL}|${st.getPath}|${st.getLen}|${st.getModificationTime}"
        val hit = Store.get(key)
        if (hit != null) { reused += 1; hit }
        else {
          val b = new Builder(kind)
          loaded += 1
          try {
            graft.sources.Pq.decodeLocal(conf, st.getPath, schema) { v =>
              b.add(i => v(i) == null, i => v(i).asInstanceOf[Double],
                i => v(i) match { case x: Int => x.toLong; case x => x.asInstanceOf[Long] },
                i => v(i).asInstanceOf[String])
            }
            val seg = b.result()
            Store.put(key, seg)
            seg
          } catch {
            // a file this decoder cannot read as `schema` — e.g. an
            // int-id batch appended to a bigint-id index, which Spark's
            // reader widens: the distributed plan reads it by Spark's rules
            case scala.util.control.NonFatal(e) =>
              log.info(s"bm25 serve: ${st.getPath} not decodable driver-side: $e")
              Unmodeled
          }
        }
      }
      segmentReuses.addAndGet(reused)
      segmentLoads.addAndGet(loaded)
      (segs, reused, loaded)
  }

  // --------------------------------------------------------------- serve

  /** Serve `queries` against `index` in the local regime, or None (the
    * caller runs the distributed plan). `top` = Some((k, scoreDecimals))
    * returns [[Bm25.topKAgainstIncIndex]]'s rows, None returns
    * [[Bm25.scoresAgainstIncIndex]]'s raw sums. */
  def serve(index: Bm25.IncIndex, queries: DataFrame, queryId: String,
            queryText: String, k1: Double, b: Double,
            top: Option[(Int, Int)]): Option[DataFrame] = {
    top.foreach { case (k, _) => require(k >= 1, s"k must be >= 1, got $k") }
    val postings = leafOf(index.postings, PostingsKind.cols, Seq(idType, dblType, strType, dblType))
    val postingsIdType = postings.map(_ => index.postings.schema("doc_id").dataType)
    val dfs = leafOf(index.dfs, DfsKind.cols, Seq(strType, dblType))
    val tombstones = index.tombstones.map(ts =>
      leafOf(ts, TombstonesKind.cols, Seq(t => postingsIdType.contains(t))))
    val fileBytes = (postings.toSeq ++ dfs ++ tombstones.flatten).map {
      case FileLeaf(fs, _) => fs.map(_.getLen).sum
      case _ => 0L
    }.sum
    val postingsBytes = postings.collect { case FileLeaf(fs, _) => fs.map(_.getLen).sum }
      .getOrElse(0L)
    val indexLocal = postings.isDefined && dfs.isDefined && tombstones.forall(_.isDefined)
    val qplan = if (!indexLocal || fileBytes > MaxIndexBytes) None
      else Some(queries.select(col(queryId).as("qid"),
        array_distinct(T.tokens(col(queryText))).as("terms")).queryExecution.optimizedPlan)
    val queryLocal = qplan.exists {
      case l: LocalRelation => Seq(IntegerType, LongType, StringType)
        .contains(l.output.head.dataType)
      case _ => false
    }
    def decide(regime: String, reused: Int, loaded: Int, why: String): Unit =
      log.info(s"bm25 serve regime=$regime postings_bytes=$postingsBytes " +
        s"index_bytes=$fileBytes cap=$MaxIndexBytes index_local=$indexLocal " +
        s"query_local=${if (qplan.isEmpty) "unchecked" else queryLocal} " +
        s"segments_reused=$reused segments_loaded=$loaded " +
        s"resident_bytes=${Store.bytes}$why")
    if (!queryLocal) {
      distributedServes.incrementAndGet()
      decide("distributed", 0, 0, "")
      None
    } else {
      val conf = queries.sparkSession.sparkContext.hadoopConfiguration
      val (pSegs, r1, l1) = segments(conf, PostingsKind, postings.get)
      val (dSegs, r2, l2) = segments(conf, DfsKind, dfs.get)
      val tSegs = tombstones.map(_.get).map(segments(conf, TombstonesKind, _))
      val reused = r1 + r2 + tSegs.map(_._2).sum
      val loaded = l1 + l2 + tSegs.map(_._3).sum
      val all = pSegs ++ dSegs ++ tSegs.toSeq.flatMap(_._1)
      if (!all.forall(_.modeled)) {
        distributedServes.incrementAndGet()
        decide("distributed", reused, loaded, " (rows outside the local model)")
        None
      } else {
        val out = score(index, qplan.get.asInstanceOf[LocalRelation], pSegs, dSegs,
          tSegs.toSeq.flatMap(_._1), k1, b, top, queries, postingsIdType.get)
        localServes.incrementAndGet()
        decide("local", reused, loaded, "")
        Some(out)
      }
    }
  }

  /** Score and rank on the driver (the exactness contract above). */
  private def score(index: Bm25.IncIndex, qrel: LocalRelation,
                    pSegs: Seq[Segment], dSegs: Seq[Segment], tSegs: Seq[Segment],
                    k1: Double, b: Double, top: Option[(Int, Int)],
                    queries: DataFrame, docIdType: DataType): DataFrame = {
    val nDocs = index.nDocs
    val avgdl = index.avgdl
    val kp1 = k1 + 1.0
    val omb = 1.0 - b
    val qidOut = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(qrel.output.head.dataType)
    // (qid → its terms, in row order; a qid on several rows repeats
    // terms, exactly as the exploded join counts them)
    val terms = new java.util.LinkedHashMap[Any, scala.collection.mutable.ArrayBuffer[String]]()
    qrel.data.foreach { r =>
      if (!r.isNullAt(1)) {
        val qid = if (r.isNullAt(0)) null else qidOut(r.get(0, qrel.output.head.dataType))
        val arr = r.getArray(1)
        var buf = terms.get(qid)
        if (buf == null) { buf = scala.collection.mutable.ArrayBuffer.empty; terms.put(qid, buf) }
        (0 until arr.numElements()).foreach(i =>
          if (!arr.isNullAt(i)) buf += arr.getUTF8String(i).toString)
      }
    }
    def dead(doc: Long): Boolean =
      tSegs.exists(s => java.util.Arrays.binarySearch(s.ids, doc) >= 0)
    val rows = new java.util.ArrayList[Row]()
    val docOut: Long => Any = if (docIdType == IntegerType) _.toInt else identity
    terms.forEach { (qid, ts) =>
      val acc = new java.util.HashMap[Long, Array[Double]]()
      ts.foreach { t =>
        dSegs.foreach { ds =>
          val dfv = ds.dfs.get(t)
          if (dfv != null) dfv.foreach { df =>
            val idf = StrictMath.log(1.0 + (nDocs - df + 0.5) / (df + 0.5))
            pSegs.foreach { ps =>
              val p = ps.postings.get(t)
              if (p != null) {
                var j = 0
                while (j < p.docs.length) {
                  val doc = p.docs(j)
                  if (!dead(doc)) {
                    val s = idf * p.tf(j) * kp1 / (p.tf(j) + k1 * (omb + b * p.dl(j) / avgdl))
                    val cell = acc.get(doc)
                    if (cell == null) acc.put(doc, Array(0.0 + s)) else cell(0) += s
                  }
                  j += 1
                }
              }
            }
          }
        }
      }
      top match {
        case None => acc.forEach((doc, s) => rows.add(Row(qid, docOut(doc), s(0))))
        case Some((k, decimals)) =>
          val ranked = new Array[(Long, Double)](acc.size)
          var i = 0
          acc.forEach { (doc, s) =>
            val d = s(0)
            ranked(i) = (doc, if (d.isNaN || d.isInfinite) d
              else BigDecimal(d).setScale(decimals, BigDecimal.RoundingMode.HALF_UP).toDouble)
            i += 1
          }
          java.util.Arrays.sort(ranked, (x: (Long, Double), y: (Long, Double)) =>
            if (x._2 != y._2) java.lang.Double.compare(y._2, x._2)
            else java.lang.Long.compare(x._1, y._1))
          ranked.iterator.take(k).zipWithIndex.foreach { case ((doc, s), r) =>
            rows.add(Row(qid, r + 1, docOut(doc), s))
          }
      }
    }
    val qidField = StructField("qid", qrel.output.head.dataType, qrel.output.head.nullable)
    val docField = index.postings.schema("doc_id")
    val schema = top match {
      case None => StructType(Seq(qidField, docField, StructField("score", DoubleType)))
      case Some(_) => StructType(Seq(qidField, StructField("rank", IntegerType, nullable = false),
        docField, StructField("score", DoubleType)))
    }
    queries.sparkSession.createDataFrame(rows, schema)
  }
}
