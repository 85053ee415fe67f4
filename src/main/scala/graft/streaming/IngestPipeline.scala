package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.PortableHash
import graft.operators.TextAnalysis

/** The end-to-end streaming corpus ingest: documents arrive as an
  * unbounded stream and flow through fingerprint → watermarked dedup →
  * quality gate, producing the curated stream a training-data sink
  * writes as Hive-partitioned parquet. Composes the batch operators'
  * exact column math (same fingerprints, same quality score as
  * text_quality / corpus_curate), so batch backfills and the live
  * stream agree row-for-row.
  *
  * Cluster shape: fingerprint + quality are stateless map work in the
  * micro-batch; only the dedup stage keeps state (fingerprint-keyed,
  * watermark-expired). Sink via `.writeStream.partitionBy(...)
  * .format("parquet")` with checkpointing; exactly-once via the file
  * sink's transaction log.
  */
object IngestPipeline {

  val MinWords = 20L
  val MinScore = 0.27

  /** stream-side curation: input columns (doc_id, text, ts); output
    * adds fingerprint, n_words, score, keep.
    */
  def curate(docs: DataFrame, watermarkDelay: String = "1 hour"): DataFrame =
    TextAnalysis.qualityFor(docs
      .withColumn("fp", expr(PortableHash.sparkFingerprint("text")))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("fp"))
      .withColumn("keep", col("n_words") >= MinWords && col("score") >= MinScore)
      .select("doc_id", "ts", "fp", "n_words", "score", "keep")
}
