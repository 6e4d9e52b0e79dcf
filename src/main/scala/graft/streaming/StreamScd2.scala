package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.sources.Ingest
import graft.warehouse.Warehouse

/** Continuous SCD2 maintenance: every arriving micro-batch of order
  * events folds through the SAME batch merge operator
  * ([[graft.operators.Scd2.eventsMerge]]) onto a parquet-backed
  * dimension, swapped atomically — the streaming deployment of the
  * daily pipeline with identical semantics (and the same idempotence
  * guards, so at-least-once delivery of a batch is safe).
  *
  * `foreachBatch` is the right tool here rather than a stateful
  * streaming aggregation: the SCD2 output is a *table* (all versions,
  * rewritten in place), not an append/update stream, and the merge is
  * already a battle-tested batch operator. State lives in the parquet
  * dim itself, not in the state store — restart-safe by construction.
  */
object StreamScd2 {

  /** Attach a continuously-merging SCD2 sink to an event stream.
    *
    * @param events  streaming DataFrame with id, status, event_time
    *                (+ optional tiebreak)
    * @param dimPath parquet location of the dimension (created on
    *                first batch)
    * @param batchTs batch-id → batch timestamp; injectable for
    *                deterministic tests, wall-clock in production
    */
  def sink(spark: SparkSession, events: DataFrame, dimPath: String,
           checkpointDir: String, batchTs: Long => String): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val dim =
          if (Ingest.readyRecovering(spark, dimPath)) Tables.parquet(spark, dimPath)
          else Warehouse.emptyDim(spark, Warehouse.ordersDimSchema)
        val merged = graft.operators.Scd2.eventsMerge(dim, batch.toDF(), batchTs(batchId))
        Ingest.overwriteSwap(spark, merged, dimPath)
      }
      .start()
}
