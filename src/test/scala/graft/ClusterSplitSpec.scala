package graft

import org.apache.spark.sql.functions._

/** q119's contract: assigning splits at near-dup-cluster granularity
  * makes cross-split leakage impossible — every LSH pair connects two
  * members of one cluster, and a cluster has one split. */
class ClusterSplitSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("cluster-consistent split has zero near-dup leakage") {
    val split = SparkEntry.queries("q119_cluster_split")(spark, sfDir)
      .select(col("doc_id"), col("split"))
    val leaks = graft.warehouse.Warehouse.read(spark, sfDir, "neardup_pairs")
      .join(split.select(col("doc_id").as("doc_a"), col("split").as("split_a")), Seq("doc_a"))
      .join(split.select(col("doc_id").as("doc_b"), col("split").as("split_b")), Seq("doc_b"))
      .where(col("split_a") =!= col("split_b"))
      .count()
    assert(leaks == 0, s"cluster split leaked $leaks near-dup pairs across splits")
  }

  test("every cluster carries exactly one split") {
    val n = SparkEntry.queries("q119_cluster_split")(spark, sfDir)
      .groupBy(col("cluster_id"))
      .agg(countDistinct(col("split")).as("n_splits"))
      .where(col("n_splits") > 1).count()
    assert(n == 0, s"$n clusters carry more than one split")
  }

  test("split proportions stay near the 8/1/1 rule") {
    val rows = SparkEntry.queries("q119_cluster_split")(spark, sfDir)
      .groupBy(col("split")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = rows.values.sum.toDouble
    assert(rows("train") / total > 0.6, s"train share degenerate: $rows")
    assert(rows.getOrElse("val", 0L) + rows.getOrElse("test", 0L) > 0, s"no holdout: $rows")
  }
}
