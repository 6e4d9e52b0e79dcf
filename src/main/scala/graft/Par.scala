package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Parallelism guard for compute-heavy per-row stages (signature
  * hashing, vector math, decode): when the upstream scan yields fewer
  * partitions than the session's default parallelism — e.g. a small
  * single-row-group parquet file — redistribute before the expensive
  * map. At 100 TB inputs arrive in thousands of splits and this is a
  * no-op; on a small corpus it is the difference between using 1 core
  * and all of them. */
object Par {
  def fanOut(df: DataFrame): DataFrame = {
    // Streaming DataFrames pass through: `.rdd` is illegal before
    // writeStream.start(), micro-batches carry their source's own
    // partitioning, and a blind repartition would add a per-batch
    // shuffle — so the map-only operators built on fanOut (chunking,
    // stats, fingerprints, signatures) stay streaming-safe unchanged.
    if (df.isStreaming) return df
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    // Estimate the scan's split count from the file relation WITHOUT
    // constructing the RDD lineage (`df.rdd` runs analysis + physical
    // planning + RDD build on every call; the analyzed plan + a file
    // listing the FileIndex has already cached is much lighter). The
    // arithmetic mirrors FilePartition.maxSplitBytes: splits of size
    // min(maxPartitionBytes, max(openCost, bytesPerCore)). Every
    // fanOut call site feeds a single-relation scan projection; any
    // other shape falls back to the exact RDD probe.
    val conf = spark.sessionState.conf
    def splitEstimate(totalBytes: Long, nFiles: Long): Long = {
      // mirrors FilePartition.maxSplitBytes: splits of size
      // min(maxPartitionBytes, max(openCost, bytesPerCore))
      val openCost = conf.filesOpenCostInBytes
      val charged = math.max(1L, totalBytes) + nFiles * openCost
      val minPartitionNum = conf.filesMinPartitionNum.getOrElse(target)
      val bytesPerCore = charged / math.max(1, minPartitionNum)
      val maxSplit = math.min(conf.filesMaxPartitionBytes,
        math.max(openCost, bytesPerCore))
      (charged + maxSplit - 1) / maxSplit
    }
    val analyzed = df.queryExecution.analyzed
    val parts: Long = analyzed.collectLeaves() match {
      case Seq(l: LogicalRelation) if l.relation.isInstanceOf[HadoopFsRelation] =>
        val r = l.relation.asInstanceOf[HadoopFsRelation]
        splitEstimate(r.location.sizeInBytes,
          math.max(1L, r.location.inputFiles.length.toLong))
      case _ =>
        // Derived shape (joins/projections over caches and scans): the
        // pre-r15 fallback was `df.rdd.getNumPartitions` — an EXACT
        // probe, but it runs full physical planning AND materializes
        // the RDD DAG, which eagerly fires every broadcast-exchange
        // build job in the subtree during query CONSTRUCTION; the real
        // execution then re-plans and re-builds them inside the final
        // query, so the probe's work is pure double-pay (measured: the
        // q140 release chain spent ~2-3 s/run here at sf0.1). Estimate
        // instead from the optimized plan's LEAF sizes with the same
        // split arithmetic — the probe stays driver-side with no jobs,
        // and the decision is identical in both regimes: bench-scale
        // MBs → repartition, 100 TB leaf sets (thousands of splits) →
        // no-op.
        val leaves = df.queryExecution.optimizedPlan.collectLeaves()
        // CACHE-FED frames are already placed: widening one re-ships
        // its rows (payload included) through an exchange, which r15
        // measured 2× worse than the narrow cache scans it replaced
        // (q140 6.1 → 11.0 s when the release survivor text was
        // repartitioned; re-confirmed r16 when an eager cache fill made
        // the estimate exact and re-fired the repartition: three
        // 14–24 s-run stages appeared in the q140 profile). At 100 TB a
        // materialized corpus cache already carries thousands of
        // partitions, so skipping is a no-op there too.
        if (leaves.exists(
            _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]))
          return df
        val capped = BigInt(Long.MaxValue / 4)
        val (bytes, files) = leaves.foldLeft((0L, 0L)) { case ((b, f), leaf) =>
          leaf match {
            case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
              val r = l.relation.asInstanceOf[HadoopFsRelation]
              (b + math.max(1L, r.location.sizeInBytes),
                f + math.max(1L, r.location.inputFiles.length.toLong))
            case other =>
              (b + other.stats.sizeInBytes.min(capped).toLong, f + 1L)
          }
        }
        splitEstimate(bytes, files)
    }
    if (parts < target) df.repartition(target) else df
  }
}
