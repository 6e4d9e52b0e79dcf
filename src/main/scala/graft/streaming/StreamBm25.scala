package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Tables
import graft.sources.Ingest
import graft.text.TextAnalysis

/** Continuous BM25 index maintenance — the streaming deployment of the
  * bm25_postings / bm25_doclens warehouse artifacts: each arriving
  * micro-batch of documents is tokenized once and merged into the
  * maintained inverted index, so BM25 queries
  * ([[TextAnalysis.bm25FromIndex]]) always read landed parquet and
  * never re-tokenize history. The batch pipeline's build-once
  * discipline, kept true under ingestion.
  *
  * State is the postings table (tok, doc_id, tf, last_batch) plus the
  * derived doclens table — parquet, restart-safe, readable by any
  * batch consumer; nothing in the streaming state store. Exactly-once
  * via the [[StreamRollup]] ledger guard (last_batch in the postings
  * table): a redelivered batch would double every tf it carries, so
  * redelivery is a no-op. Doclens lands BEFORE the postings ledger
  * advances — a crash between the two replays the batch and rewrites
  * doclens from the same merged postings (idempotent), while the
  * reverse order could advance the ledger past a doclens that never
  * landed.
  *
  * Scale: per-batch cost is batch tokenization + a (tok, doc_id)-keyed
  * merge against the index. At 100 TB the index is bucketed by `tok`
  * and the merge rewrites only touched buckets; doclens appends (doc
  * streams are append-only — the full re-derivation here is the
  * demo-scale equivalent, one aggregate over the landed postings). */
object StreamBm25 {

  /** Merge one batch of (doc_id, text) into the index at
    * `postingsPath` / `doclensPath` — exactly once per batchId. */
  def mergeBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                 postingsPath: String, doclensPath: String): Unit = {
    val existing =
      if (Ingest.readyRecovering(spark, postingsPath)) Some(Tables.parquet(spark, postingsPath))
      else None
    val lastMerged = existing
      .flatMap(df => Option(df.agg(max(col("last_batch"))).head.get(0)))
      .map(_.asInstanceOf[Long]).getOrElse(-1L)
    if (batchId > lastMerged) {
      val prior = existing.map(_.select(col("tok"), col("doc_id"), col("tf")))
        .getOrElse(spark.range(0).select(col("id").cast("string").as("tok"),
          col("id").as("doc_id"), col("id").as("tf")))
      // (tok, doc_id)-keyed sum: robust even if a doc's tokens arrive
      // split across rows of one batch; distinct doc streams reduce to
      // a plain union
      val merged = prior
        .unionByName(TextAnalysis.bm25Postings(batch))
        .groupBy(col("tok"), col("doc_id")).agg(sum(col("tf")).as("tf"))
        .persist() // feeds doclens AND the postings land below
      Ingest.overwriteSwap(spark,
        merged.groupBy(col("doc_id")).agg(sum(col("tf")).as("len")), doclensPath)
      Ingest.overwriteSwap(spark,
        merged.withColumn("last_batch", lit(batchId)), postingsPath)
      merged.unpersist()
    }
  }

  /** Attach the continuously-indexing sink. `docs` is a streaming
    * DataFrame carrying (doc_id, text). */
  def sink(spark: SparkSession, docs: DataFrame, postingsPath: String,
           doclensPath: String, checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        mergeBatch(spark, batch.toDF(), batchId, postingsPath, doclensPath)
      }
      .start()
}
