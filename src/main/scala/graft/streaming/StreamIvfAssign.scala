package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Tables
import graft.sources.Ingest
import graft.vector.Similarity

/** Continuous IVF index maintenance — the dense-retrieval sibling of
  * [[StreamBm25]] (sparse postings) and [[StreamSubstrScrub]] (gram
  * index): each arriving micro-batch of vectors is map-assigned under
  * the FROZEN trained codebook (the per-corpus artifact; re-training is
  * a nightly rebuild, not a streaming concern — FAISS's add-vs-train
  * split) and appended to the maintained `ivf_assign` table, so every
  * IVF consumer (`annIvfWithAssign`, SemDeDup, margin mining) reads a
  * complete landed assignment without ever re-scoring history.
  *
  * State is the assignment parquet (vec_id, cell, rn, last_batch) —
  * restart-safe, readable by any batch consumer. Exactly-once via the
  * [[StreamRollup]] ledger guard: a redelivered batch would duplicate
  * its vectors' assignment rows (breaking every downstream join
  * cardinality), so redelivery is a no-op.
  *
  * Scale: assignment runs under the PRODUCTION selector
  * ([[Similarity.cellRankAuto]] — map-only literal ranking below the
  * crossover, two-level super-cell ranking above it), the merge is an
  * append; at 100 TB the table is partitioned by cell so consumers
  * prune to probed cells, and the append touches only the batch's
  * partitions. */
object StreamIvfAssign {

  /** Assign one batch of (vec_id, embedding[, label]) under `codebook`
    * and merge into `assignPath` — exactly once per batchId. */
  def mergeBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                 codebook: DataFrame, assignPath: String): Unit = {
    val existing =
      if (Ingest.readyRecovering(spark, assignPath)) Some(Tables.parquet(spark, assignPath))
      else None
    val lastMerged = existing
      .flatMap(df => Option(df.agg(max(col("last_batch"))).head.get(0)))
      .map(_.asInstanceOf[Long]).getOrElse(-1L)
    if (batchId > lastMerged) {
      val prior = existing.map(_.select(col("vec_id"), col("cell"), col("rn"),
          col("last_batch")))
        .getOrElse(spark.range(0).select(col("id").as("vec_id"), col("id").as("cell"),
          col("id").cast("int").as("rn"), col("id").as("last_batch")))
      // the PRODUCTION selector with the artifact's rank depth — the
      // maintained table must equal buildIvfAssign's cold rebuild
      // row-for-row (StreamIvfAssignSpec pins the law); supers derive
      // from the frozen codebook (deterministic twin of the landed
      // ivf_supercells/ivf_super_map artifacts)
      val assigned = Similarity.cellRankAuto(batch, codebook,
          probes = graft.warehouse.Warehouse.IvfAssignMaxRank)
        .withColumn("last_batch", lit(batchId))
      Ingest.overwriteSwap(spark, prior.unionByName(assigned), assignPath)
    }
  }

  /** Attach the continuously-assigning sink. `vecs` is a streaming
    * DataFrame carrying (vec_id, embedding, label). */
  def sink(spark: SparkSession, vecs: DataFrame, codebook: DataFrame,
           assignPath: String, checkpointDir: String): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        mergeBatch(spark, batch.toDF(), batchId, codebook, assignPath)
      }
      .start()
}
