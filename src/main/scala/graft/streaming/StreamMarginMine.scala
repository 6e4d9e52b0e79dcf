package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Tables
import graft.vector.Similarity

/** Continuous margin-based pair mining — the streaming deployment of
  * [[Similarity.marginMiningBetween]] (q137): each arriving micro-batch
  * of vectors is map-assigned under the frozen trained codebook and
  * mined against the immutable corpus (bipartite in-cell candidates,
  * scored against the corpus's REFRESHED `margin_denoms` artifact, the
  * q125-consistent neighborhoods), and the mined pairs land under
  * `outPath/batch_id=N`.
  *
  * Exactly-once WITHOUT a ledger dependency for correctness: each
  * batch OVERWRITES its own partition directory, so a redelivered
  * batch rewrites identical rows instead of appending duplicates —
  * partition-overwrite idempotence, the third exactly-once shape in
  * the streaming module beside ledger-guarded state merges
  * ([[StreamRollup]]) and checkpointed sources ([[StreamIngest]]).
  * Readers get the full mined-pair table via partition discovery on
  * `outPath`.
  *
  * Scale: per-batch cost is batch-sized assignment (codebook literals,
  * map-only) + cell-bounded bipartite candidates + two id-keyed joins
  * against the denominator artifact — independent of history size;
  * corpus×corpus never re-pairs, mined history is never rescanned. */
object StreamMarginMine {

  /** Mine one batch of (vec_id, embedding, label) against the corpus
    * and land the pairs under `outPath/batch_id=N` — idempotent per
    * batchId. */
  def mergeBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                 corpus: DataFrame, corpusAssign: DataFrame,
                 codebook: DataFrame, denoms: DataFrame,
                 outPath: String): Unit = {
    val mined = Similarity.marginMiningBetween(
      batch, corpus, corpusAssign, codebook, corpusDenoms = Some(denoms))
    mined.write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
  }

  /** The mined-pair table over every landed batch (partition
    * discovery; batch_id appears as a column). Empty-safe. */
  def minedPairs(spark: SparkSession, outPath: String): DataFrame = {
    val p = new Path(outPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      return spark.range(0).select(col("id").as("vec_new"), col("id").as("vec_corpus"),
        col("id").cast("int").as("label_new"), col("id").cast("int").as("label_corpus"),
        col("id").as("cos_micro"), col("id").as("margin_ppm"), col("id").as("batch_id"))
    Tables.parquet(spark, outPath)
  }

  /** Attach the continuously-mining sink. `vecs` is a streaming
    * DataFrame carrying (vec_id, embedding, label). */
  def sink(spark: SparkSession, vecs: DataFrame, corpus: DataFrame,
           corpusAssign: DataFrame, codebook: DataFrame, denoms: DataFrame,
           outPath: String, checkpointDir: String): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        mergeBatch(spark, batch.toDF(), batchId, corpus, corpusAssign,
          codebook, denoms, outPath)
      }
      .start()
}
