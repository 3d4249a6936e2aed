package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.dedup.Dedup
import graft.streaming.Streaming

/** Streaming corpus ingester with dedup-at-ingest — the streaming twin of
  * the batch index→admit→append lifecycle (IngestLifecycleSpec): each
  * micro-batch is admitted against the STORED signature index
  * ([[Dedup.admit]], the admission [[Dedup.admitAgainstIndex]] runs:
  * near-dups of the index and of earlier rows in the same batch are
  * rejected), survivors append to the corpus and their signatures to the
  * index, so the NEXT batch is checked against everything admitted
  * before it. Every checkpoint a micro-batch creates is released before
  * the next one starts.
  *
  * Scale shape: the index is only ever read (never shuffled — the batch
  * side broadcasts) and only ever appended; per-batch cost is
  * O(batch · k) hashing plus the broadcast join. Exactly-once comes from
  * the streaming checkpoint; the two appends are idempotent-enough under
  * retry for a corpus (re-appended survivors are same-id rows the next
  * admit's anti-join ignores) — a table format upgrade makes them atomic.
  */
object StreamingIngest {

  def run(spark: SparkSession, streamDocs: DataFrame,
          indexPath: String, corpusPath: String,
          idCol: String = "doc_id", textCol: String = "text",
          threshold: Double = 0.7,
          portable: Boolean = false,
          opts: Streaming.ForEachBatchOptions = Streaming.ForEachBatchOptions()): StreamingQuery =
    Streaming.forEachBatch(streamDocs, opts) { (batch, _) =>
      // bootstrap: a fresh corpus has no index yet — every first-batch row
      // is admitted against an empty one (the batch still self-dedups)
      val p = new org.apache.hadoop.fs.Path(indexPath)
      val index =
        if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
          graft.sources.Pq.read(spark, indexPath)
        else
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("id",
                batch.schema(idCol).dataType),
              org.apache.spark.sql.types.StructField("sig",
                org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)))))
      // one signature pass per batch: the index append writes the same
      // signatures the admission computed
      val admitted = Dedup.admit(batch, index, idCol, textCol,
        threshold = threshold, portable = portable)
      try {
        if (!admitted.sigs.isEmpty) {
          admitted.rows.write.mode("append").parquet(corpusPath)
          admitted.sigs.write.mode("append").parquet(indexPath)
        }
      } finally graft.plan.Checkpoints.releaseInputs(admitted.sigs)
    }
}
