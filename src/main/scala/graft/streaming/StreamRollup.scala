package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Tables
import graft.operators.IncrementalAgg
import graft.sources.Ingest

/** Continuous rollup maintenance: each arriving micro-batch reduces to
  * an [[IncrementalAgg]] partial state (count + k-min hash set) and
  * merges onto a parquet-backed state table, swapped atomically — the
  * streaming deployment of the q63 nightly fold with identical
  * semantics (merge is exact, so the maintained table always equals a
  * from-scratch recompute over everything ingested; spec-gated).
  *
  * `foreachBatch` rather than a stateful aggregation for the same
  * reason as [[StreamScd2]]: the output is a TABLE rewritten in place,
  * and the state (keys × k hashes + a count) lives in parquet —
  * restart-safe, and readable by any batch consumer. The state store
  * holds nothing.
  *
  * Exactly-once: KMV unions are replay-idempotent but COUNTS are not,
  * so the state carries the last merged batch id and a redelivered
  * batch (foreachBatch is at-least-once across restarts) is a no-op —
  * the same ledger guard [[StreamIngest]] uses, spec-gated. */
object StreamRollup {

  /** Merge one batch into the parquet state, exactly once per batchId. */
  def mergeBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                 statePath: String, key: String, hashCol: String, k: Int): Unit = {
    val existing =
      if (Ingest.readyRecovering(spark, statePath)) Some(Tables.parquet(spark, statePath))
      else None
    val lastMerged = existing
      .flatMap(df => Option(df.agg(max(col("last_batch"))).head.get(0)))
      .map(_.asInstanceOf[Long]).getOrElse(-1L)
    if (batchId > lastMerged) {
      val st = IncrementalAgg.state(batch, key, hashCol, k)
      val merged = existing match {
        case Some(prev) => IncrementalAgg.merge(prev.drop("last_batch"), st, key, k)
        case None => st
      }
      Ingest.overwriteSwap(spark, merged.withColumn("last_batch", lit(batchId)), statePath)
    }
  }

  /** Attach a continuously-merging rollup sink. `rows` is a streaming
    * DataFrame carrying `key` and `hashCol` (a 60-bit portable hash of
    * the counted identity). */
  def sink(spark: SparkSession, rows: DataFrame, key: String, hashCol: String,
           statePath: String, checkpointDir: String, k: Int = 16): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        mergeBatch(spark, batch.toDF(), batchId, statePath, key, hashCol, k)
      }
      .start()

  /** Read the maintained state with the KMV estimate attached. */
  def read(spark: SparkSession, statePath: String, k: Int = 16): DataFrame =
    IncrementalAgg.estimate(Tables.parquet(spark, statePath).drop("last_batch"), k)
}
