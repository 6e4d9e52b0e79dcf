package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Tables
import graft.operators.BloomPrune
import graft.sources.Ingest
import graft.text.SegmentDedup

/** Continuous exact-substring dedup — the streaming deployment of
  * [[SegmentDedup.scrubExactSubstrAgainst]] (q123): each arriving
  * micro-batch of documents is scrubbed against the maintained gram
  * index (every ≥L-token span already seen anywhere in the ingested
  * history is deleted; within the batch the first occurrence survives),
  * then the batch's grams are unioned into the index. Semantics are
  * IDENTICAL to replaying the batches sequentially through the batch
  * operator — spec-gated, the stream≡batch discipline of
  * [[StreamRollup]]/[[StreamCentroid]].
  *
  * State is the parquet gram index (column `h`, 60-bit hashes) plus the
  * last-merged batch id, fronted by a maintained sketch bloom (its own
  * single-row parquet beside the index; merged per batch by bitmap OR,
  * probed map-side before the index semi-join) — restart-safe, readable
  * by any batch consumer, nothing in the streaming state store. At 100 TB the index is the
  * materialized artifact the batch pipeline already maintains; the
  * stream just appends to it (here: atomic overwrite-swap per batch,
  * the demo-scale equivalent).
  *
  * Exactly-once: scrubbing is NOT replay-idempotent against a mutated
  * index — a redelivered batch would find its own grams in the index
  * and scrub itself to nothing. The ledger guard makes redelivery a
  * no-op (same pattern as [[StreamRollup]], spec-gated). */
object StreamSubstrScrub {

  /** Fixed bloom geometry for the maintained index sketch: every
    * batch's sketch is created with the same (capacity, fpp) so the
    * per-batch merge is a bitmap OR. Capacity is provisioned for the
    * expected INDEX size (production re-provisions and rebuilds from
    * the index when distinct grams approach it — past capacity the
    * filter stays correct, only its false-positive rate degrades,
    * never its no-false-negative guarantee). */
  val BloomCapacity: Long = 1L << 22
  val BloomFpp: Double = 0.01

  /** Scrub one batch against the index at `indexPath` (fronted by the
    * maintained sketch bloom at `indexPath_bloom`), append the
    * scrubbed rows to `outPath`, merge the batch's grams into the
    * index and its sketch into the bloom — exactly once per batchId. */
  def mergeBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                 indexPath: String, outPath: String, minTokens: Int = 8): Unit = {
    val bloomPath = s"${indexPath}_bloom"
    val existing =
      if (Ingest.readyRecovering(spark, indexPath)) Some(Tables.parquet(spark, indexPath))
      else None
    val lastMerged = existing
      .flatMap(df => Option(df.agg(max(col("last_batch"))).head.get(0)))
      .map(_.asInstanceOf[Long]).getOrElse(-1L)
    if (batchId > lastMerged) {
      val index = existing.map(_.select(col("h")))
        .getOrElse(spark.range(0).select(col("id").as("h")))
      val bloom =
        if (existing.isDefined && Ingest.readyRecovering(spark, bloomPath))
          Some(Tables.parquet(spark, bloomPath).select(col("bf")).head.getAs[Array[Byte]](0))
        else if (existing.isDefined)
          // Bootstrap: attaching to a pre-existing index with no
          // maintained sketch (a batch-built index, or a resume from
          // before the bloom existed). Seed the sketch from the INDEX
          // itself — seeding from the batch alone would leave later
          // batches pre-filtering with a bloom that misses the old
          // index's grams: false negatives, silent under-scrubbing,
          // stream≢batch. One full index scan, paid once at attach.
          Some(BloomPrune.sketchBloomBytes(index, "h", BloomCapacity, BloomFpp))
        else None
      val scrubbed = SegmentDedup
        .scrubExactSubstrAgainstIndex(batch, index, minTokens, bloom)
      // output first: if we crash between the writes, the ledger still
      // points at the PREVIOUS batch, so redelivery re-runs this batch —
      // and the write must actually REWRITE the batch's output, not
      // append a second copy. Overwriting the batch's own hive
      // partition (the StreamMarginMine shape) makes replay idempotent;
      // bloom + index land after — never an index without its output.
      scrubbed.write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
      // bloom BEFORE index: the ledger lives in the index, so a crash
      // between the two leaves a bloom with EXTRA bits for a batch the
      // ledger will replay — extra bits are false positives (harmless,
      // the semi-join drops them); the reverse order could leave an
      // index whose bloom is missing its grams — false negatives, which
      // would silently break stream≡batch
      val batchSketch = BloomPrune.sketchBloomBytes(
        SegmentDedup.gramIndex(batch, minTokens), "h", BloomCapacity, BloomFpp)
      val mergedBloom = bloom.fold(batchSketch) { prev =>
        val bf = BloomPrune.deserialize(prev)
        bf.mergeInPlace(BloomPrune.deserialize(batchSketch))
        BloomPrune.serialize(bf)
      }
      import spark.implicits._
      Ingest.overwriteSwap(spark,
        Seq((mergedBloom, batchId)).toDF("bf", "last_batch").repartition(1), bloomPath)
      val merged = index
        .unionByName(SegmentDedup.gramIndex(batch, minTokens))
        .distinct()
      Ingest.overwriteSwap(spark, merged.withColumn("last_batch", lit(batchId)), indexPath)
    }
  }

  /** Attach the continuously-scrubbing sink. `docs` is a streaming
    * DataFrame carrying (doc_id, text). */
  def sink(spark: SparkSession, docs: DataFrame, indexPath: String,
           outPath: String, checkpointDir: String, minTokens: Int = 8): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        mergeBatch(spark, batch.toDF(), batchId, indexPath, outPath, minTokens)
      }
      .start()
}
