package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Tables
import graft.sources.Ingest
import graft.text.Curation

/** Continuous DSIR distribution maintenance — the streaming deployment
  * of the dsir_counts warehouse artifact: each arriving micro-batch of
  * (doc_id, text, lang) documents is featurized once (the SHARED
  * [[Curation.dsirFeatures]] hash — a maintainer with its own
  * featurizer would silently fork the distribution) and sum-merged
  * into the maintained per-bucket counts, so the incremental scorer
  * ([[Curation.dsirScoreAgainstCounts]], q153) always reads landed
  * parquet and never re-reads history.
  *
  * State is the counts table (feat, cnt_r, cnt_t, last_batch) —
  * parquet, restart-safe, ≤ nBuckets rows, readable by any batch
  * consumer; nothing in the streaming state store. Exactly-once via
  * the [[StreamRollup]] ledger guard (last_batch column): counts are
  * additive, so a redelivered batch would double-count — redelivery
  * is a no-op.
  *
  * Scale: per-batch cost is one featurizing pass over the batch plus a
  * merge against a ≤nBuckets-row table — corpus-size-independent by
  * construction, the same argument as the scorer it feeds. */
object StreamDsir {

  /** Merge one batch of (doc_id, text, lang) into the counts at
    * `countsPath` — exactly once per batchId. */
  def mergeBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                 countsPath: String, targetLang: String = "en",
                 nBuckets: Int = 1024): Unit = {
    val existing =
      if (Ingest.readyRecovering(spark, countsPath)) Some(Tables.parquet(spark, countsPath))
      else None
    val lastMerged = existing
      .flatMap(df => Option(df.agg(max(col("last_batch"))).head.get(0)))
      .map(_.asInstanceOf[Long]).getOrElse(-1L)
    if (batchId > lastMerged) {
      // bucket-space guard: attaching a 1024-bucket maintainer to a
      // table built with a larger space would silently mix two
      // incompatible feature hashes — the distribution fork the
      // object doc warns about. max(feat) ≥ nBuckets is proof of
      // mismatch; fail loudly instead of merging.
      existing.foreach { df =>
        val maxFeat = Option(df.agg(max(col("feat"))).head.get(0))
          .map(_.asInstanceOf[Long]).getOrElse(-1L)
        require(maxFeat < nBuckets,
          s"dsir_counts at $countsPath has feat=$maxFeat ≥ nBuckets=$nBuckets: " +
            "the landed table was built with a different bucket space")
      }
      val prior = existing.map(_.select(col("feat"), col("cnt_r"), col("cnt_t")))
        .getOrElse(spark.range(0).select(col("id").as("feat"),
          col("id").as("cnt_r"), col("id").as("cnt_t")))
      val merged = prior
        .unionByName(Curation.dsirCounts(
          Curation.dsirFeatures(batch, nBuckets), targetLang))
        .groupBy(col("feat"))
        .agg(sum(col("cnt_r")).as("cnt_r"), sum(col("cnt_t")).as("cnt_t"))
      Ingest.overwriteSwap(spark,
        merged.withColumn("last_batch", lit(batchId)), countsPath)
    }
  }

  /** Attach the continuously-maintaining sink. `docs` is a streaming
    * DataFrame carrying (doc_id, text, lang). `nBuckets` MUST match
    * the space the landed table was built with (mergeBatch verifies). */
  def sink(spark: SparkSession, docs: DataFrame, countsPath: String,
           checkpointDir: String, targetLang: String = "en",
           nBuckets: Int = 1024): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        mergeBatch(spark, batch.toDF(), batchId, countsPath, targetLang, nBuckets)
      }
      .start()
}
