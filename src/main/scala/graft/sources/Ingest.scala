package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables

/** Ingestion & warehouse-write primitives.
  *
  * Reference surface (SURVEY.md §2.1):
  *  - S2  CSV read + batch-timestamp stamping (examples/shared.py:3-18) —
  *    the reference re-emits tab-separated text purely because Postgres COPY
  *    wants tabs; on Spark the normalize step collapses to a column append.
  *  - S3/S5 bulk load + truncate-and-reload → SaveMode.Overwrite.
  *  - S6  append insert → SaveMode.Append.
  *  - S7  ON CONFLICT DO NOTHING → left-anti join on the key, then append.
  *
  * Scale notes: `stamp` adds a literal column (no shuffle); `appendIfAbsent`
  * shuffles only on the conflict key and broadcasts nothing by default —
  * at 100 TB the existing-keys side is read with column pruning (key columns
  * only), which is the dominant cost saver.
  */
object Ingest {

  /** S1: file-readiness precondition — the engine-side equivalent of the
    * reference's BashSensor `ls` poll (process_orders.py:23-28). Batch
    * callers gate on it; streaming ingestion (StreamIngest) subsumes it
    * entirely by watching the directory. */
  def ready(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** [[ready]] for single-writer MAINTAINERS reading their OWN
    * [[overwriteSwap]]-managed state (the Stream* foreachBatch loops):
    * first completes or rolls back an interrupted swap, so a crash in
    * the between-renames window can never be mistaken for "nothing
    * ingested yet" — that misread would rebuild corpus state from
    * empty and the next swap would delete the parked old copy, silent
    * total state loss. Recovery is unambiguous: target absent + a
    * `.swap` WITH `_SUCCESS` means both renames were pending on a
    * fully-written new version (roll forward); target absent + only a
    * parked `.old` means the new version never finished (roll back).
    * NOT for readers of someone else's state — recovery renames, and
    * only the single writer may do that without racing it. */
  def readyRecovering(spark: SparkSession, path: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(conf)
    if (!fs.exists(target)) {
      val swap = new org.apache.hadoop.fs.Path(path + ".swap")
      val old = new org.apache.hadoop.fs.Path(path + ".old")
      if (fs.exists(new org.apache.hadoop.fs.Path(path + ".swap/_SUCCESS"))) {
        fs.rename(swap, target)
        if (fs.exists(old)) fs.delete(old, true)
      } else if (fs.exists(old)) {
        fs.rename(old, target)
        if (fs.exists(swap)) fs.delete(swap, true)
      }
    }
    fs.exists(target)
  }

  /** S4: idempotent persisted-table DDL — create the parquet location
    * with `schema` if it does not exist yet (CREATE TABLE IF NOT EXISTS,
    * process_orders_sqls.py:3-11). */
  def ensureTable(spark: SparkSession, path: String, schema: StructType): Unit =
    if (!ready(spark, path))
      // LocalRelation empty (NOT emptyRDD): an ExistingRDD scan reports
      // defaultSizeInBytes, blocking PropagateEmptyRelation + broadcast
      // sizing in every downstream plan that reads the seed.
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
        .write.mode(SaveMode.ErrorIfExists).parquet(path)

  /** S6: plain append insert (INSERT…SELECT, process_orders_sqls.py:41-50). */
  def append(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).parquet(path)

  /** Warehouse layout: append partitioned by the batch date
    * (docs/guides.md:61-62 / SURVEY.md §4) so incremental reprocessing
    * and date-ranged reads prune partitions at the scan — the dominant
    * IO saver once the fact table holds years of daily batches. */
  def appendPartitioned(df: DataFrame, path: String,
                        partitionCol: String = "processed_date"): Unit =
    df.write.mode(SaveMode.Append).partitionBy(partitionCol).parquet(path)

  /** S2: read a headered CSV with an explicit schema and stamp the batch
    * timestamp, exactly like normalize_csv appends `ts` to every row. */
  def readCsv(spark: SparkSession, path: String, schema: StructType, batchTs: String): DataFrame =
    stamp(spark.read.option("header", "true").schema(schema).csv(path), batchTs)

  /** [[readCsv]] with the DEAD-LETTER posture for untrusted feeds — the
    * text-ingest twin of [[graft.media.Multimodal.decodeQuarantine]]:
    * PERMISSIVE mode plus an explicit `_corrupt_record` column, so a
    * malformed line becomes a quarantine row (schema fields null, the
    * raw line preserved for the dead-letter sink) instead of FAILFAST
    * aborting the stage or DROPMALFORMED silently shrinking the batch.
    * Callers split on `_corrupt_record IS NULL` and count the other
    * side per source — at 100 TB a feed's quarantine share is a
    * monitored number, never an exception trace. */
  def readCsvQuarantine(spark: SparkSession, path: String, schema: StructType,
                        batchTs: String): DataFrame =
    stamp(spark.read.option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema.add("_corrupt_record", org.apache.spark.sql.types.StringType))
      .csv(path), batchTs)

  /** Append the batch `processed_time` column (shared.py:16). */
  def stamp(df: DataFrame, batchTs: String): DataFrame =
    df.withColumn("processed_time", to_timestamp(lit(batchTs)))

  /** S5+S3: truncate-and-reload a staging location. */
  def overwrite(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** S7: idempotent append — insert only rows whose key is absent from the
    * existing table (ON CONFLICT … DO NOTHING, process_orders_sqls.py:146).
    * Within the incoming batch, first-wins is the caller's job (use a
    * row_number window before calling). */
  def appendIfAbsent(incoming: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(existing.select(keys.map(col): _*).distinct(), keys, "left_anti")

  /** Bucketed (co-located) warehouse table: write bucketed (and
    * optionally sorted) by the join/merge key(s) via the session
    * catalog (bucket metadata lives there, not in parquet). Two tables
    * bucketed the same way equi-join with ZERO exchanges — the SURVEY
    * §4 co-location tool for repeated big-big joins (SCD2
    * read-merge-rewrite, fact ⋈ fact on order id) where neither side
    * broadcasts; the shuffle is pre-paid once at write time. Bucket
    * count is a layout decision: data-size / target-partition-size at
    * build time, kept stable across batches (a changed count = one full
    * reshuffle). Co-location is asserted in IngestSpec (plan has no
    * Exchange), not just claimed. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    bucketCols: Seq[String], sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty, "bucketed write needs at least one bucket column")
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Small-file compaction — the maintenance pass every append-heavy
    * warehouse needs: daily incremental appends (S6/S7) leave one file
    * per batch-partition, and a year of batches turns a scan into tens
    * of thousands of file opens (at 100 TB, open/footer overhead and
    * scheduler pressure dominate long before bytes do). Rewrites the
    * location into ⌈rows / targetRowsPerFile⌉ files via the atomic
    * [[overwriteSwap]]; readers never see a partial state. Returns the
    * new file count. Run it off the write path (the reference's nightly
    * maintenance slot), sized so one file ≈ one task's worth of rows.
    *
    * CONCURRENCY HAZARD (the contract "off the write path" is load-bearing,
    * not advisory): a batch appended between this method's file listing
    * (the `spark.read` below) and [[overwriteSwap]]'s delete+rename is
    * silently deleted with the old directory — the rewrite never saw it.
    * The caller's scheduler must serialize compact() against append()
    * on the same location (the reference's nightly slot does exactly
    * that); a multi-writer deployment needs a location lock or a
    * table format with real transactions (Delta/Iceberg). */
  def compact(spark: SparkSession, path: String, targetRowsPerFile: Long = 1048576L): Int = {
    require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
    val df = Tables.parquet(spark, path)
    val files = math.max(1L, (df.count() + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    overwriteSwap(spark, df.repartition(files), path)
    files
  }

  /** Read-modify-overwrite swap for SCD rewrites (SURVEY.md §7.4.3): parquet
    * can't be overwritten while being read, so land the new version beside
    * the old one and swap via two renames.
    *
    * == Crash-recovery contract (spec-gated, IngestSpec) ==
    * The sequence is: write `path.swap` → rename `path` → `path.old` →
    * rename `path.swap` → `path` → delete `path.old`. Renames are
    * single metadata ops (atomic on HDFS and local FS), so a reader
    * concurrent with a crash at ANY point observes exactly one of:
    * the complete old table, the complete new table, or an ABSENT path
    * (the window between the two renames — [[ready]] reports not-ready,
    * never a partial table). A killed swap leaves only `.swap`/`.old`
    * side dirs; RE-RUNNING the same swap converges: the new version is
    * rewritten from scratch, leftovers are cleared, and the target ends
    * complete. The old version is deleted only AFTER the new one is
    * live — the r10 shape deleted first, leaving the path absent for
    * the whole O(files) recursive delete of a large table. */
  def overwriteSwap(spark: SparkSession, df: DataFrame, path: String): Unit =
    overwriteSwapWith(spark, path) { tmp =>
      df.write.mode(SaveMode.Overwrite).parquet(tmp)
    }

  /** [[overwriteSwap]] laid out hive-partitioned on `partitionCol` —
    * the warehouse form for date-keyed fact/event artifacts: a
    * date-ranged reader prunes to the matching `col=value` directories
    * at planning time (PartitionFilters in the scan — PlanShapeSpec
    * pins it), and incremental maintenance appends new date partitions
    * via [[appendPartitioned]] without touching landed ones. */
  def overwriteSwapPartitioned(spark: SparkSession, df: DataFrame, path: String,
                               partitionCol: String): Unit =
    overwriteSwapWith(spark, path) { tmp =>
      df.write.mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(tmp)
    }

  private def overwriteSwapWith(spark: SparkSession, path: String)
                               (write: String => Unit): Unit = {
    val tmp = path + ".swap"
    write(tmp)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    val target = new org.apache.hadoop.fs.Path(path)
    val old = new org.apache.hadoop.fs.Path(path + ".old")
    // leftover from a swap killed after its first rename: the previous
    // version, superseded by the fresh .swap written above
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(target)) fs.rename(target, old)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), target)
    if (fs.exists(old)) fs.delete(old, true)
  }
}
