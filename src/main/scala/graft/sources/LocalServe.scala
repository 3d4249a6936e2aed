package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** The plumbing every driver-local serving regime shares: the summary
  * serve ([[graft.plan.SummaryLocal]], regime `summary`) and the stored
  * BM25 index serve (`graft.curate.Bm25Local`, regime `bm25`). Each
  * regime keeps its own cap and exactness argument; here live the
  * listing it serves from, the decode step that refuses a file the
  * driver cannot read, and the one decision log and counter set.
  *
  * Every decision logs one line on the `graft.sources.LocalServe`
  * logger, `<regime> serve regime=<local|distributed> files=… bytes=…
  * cap=…[ <regime detail>][ refused=<reason>]`, and counts into the
  * regime's [[Counters]]. */
object LocalServe {

  /** Read-only serve telemetry of one regime, cumulative over the JVM.
    * A serve whose local decision is taken back at run time counts once,
    * as distributed. */
  final case class Counters(localServes: Long, distributedServes: Long,
                            filesDecoded: Long, filesReused: Long)

  private val counts = new java.util.concurrent.ConcurrentHashMap[String, Counters]()

  def counters(regime: String): Counters = counts.getOrDefault(regime, Counters(0, 0, 0, 0))

  private def count(regime: String, delta: Counters): Unit =
    counts.merge(regime, delta, (a, b) => Counters(a.localServes + b.localServes,
      a.distributedServes + b.distributedServes, a.filesDecoded + b.filesDecoded,
      a.filesReused + b.filesReused))

  private val log = org.slf4j.LoggerFactory.getLogger("graft.sources.LocalServe")

  /** The visible non-empty files of an unpartitioned parquet relation,
    * from the listing its file index froze at resolve time (no new
    * listing), or why the relation has none a regime can decode. */
  def files(rel: HadoopFsRelation): Either[String, Seq[FileStatus]] =
    if (!rel.fileFormat.isInstanceOf[ParquetFileFormat]) Left("not parquet")
    else rel.location match {
      case idx: PartitioningAwareFileIndex if rel.partitionSchema.isEmpty =>
        Right(idx.allFiles().filter(_.getLen > 0).toSeq)
      case _: PartitioningAwareFileIndex => Left("partition columns")
      case _ => Left("file index")
    }

  /** Decode `file` as `schema` through [[Pq.decodeLocal]], passing each
    * record to `emit`; counts one file decoded for `regime`. An error
    * `emit` raises (an ANSI overflow of the serve's own arithmetic) is
    * rethrown as it is. A decoder error, such as an int column under a
    * relation that reads it as bigint (Spark's reader widens it), is
    * logged and returned as the refusal `undecodable file`. */
  def decode(regime: String, conf: org.apache.hadoop.conf.Configuration, file: Path,
             schema: StructType)(emit: Array[Any] => Unit): Option[String] = {
    var consumer: Throwable = null
    try {
      Pq.decodeLocal(conf, file, schema) { vals =>
        try emit(vals) catch { case NonFatal(e) => consumer = e; throw e }
      }
      count(regime, Counters(0, 0, 1, 0))
      None
    } catch {
      case NonFatal(_) if consumer != null => throw consumer
      case NonFatal(e) =>
        log.info(s"$regime serve: $file not decodable driver-side: $e")
        Some("undecodable file")
    }
  }

  /** Count `n` files a regime served from decoded data it kept. */
  def reused(regime: String, n: Int): Unit = count(regime, Counters(0, 0, 0, n))

  /** Log and count one serve decision of `regime` over `files`: local
    * when `refusal` is None. `detail` is the regime's own fields. */
  def decided(regime: String, files: Seq[FileStatus], cap: Long, refusal: Option[String],
              detail: String = ""): Unit = {
    count(regime, if (refusal.isEmpty) Counters(1, 0, 0, 0) else Counters(0, 1, 0, 0))
    log.info(s"$regime serve regime=${if (refusal.isEmpty) "local" else "distributed"} " +
      s"files=${files.size} bytes=${files.map(_.getLen).sum} cap=$cap$detail" +
      refusal.fold("")(r => s" refused=$r"))
  }

  /** A local decision taken back when the plan runs: the serve counts
    * (and logs) as distributed instead. */
  def retracted(regime: String, files: Seq[FileStatus], cap: Long, reason: String): Unit = {
    count(regime, Counters(-1, 0, 0, 0))
    decided(regime, files, cap, Some(reason))
  }
}
