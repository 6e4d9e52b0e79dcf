package graft

import graft.warehouse.Warehouse

/** The bounded tails run in one task after their last real shuffle
  * ([[Par.single]]): q157's drift histogram, q91's outlier counts and
  * q161's manifest launch no broadcast scalar attach, no repeated
  * subtree and no range-partitioned sort. Job counts are the executed
  * ones at sf0.001 over a landed cache. */
class BoundedTailJobsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def fresh(): Unit = {
    Warehouse.ensureMaterialized(spark, sfDir)
    Graft.releaseLeases(); spark.catalog.clearCache()
  }

  /** Jobs launched while building `query`, and while running it. */
  private def buildAndRun(query: String): (Int, Int) = {
    val (df, built) = jobs(SparkEntry.queries(query)(spark, sfDir))
    (built, jobs(Measure.noop(df))._2)
  }

  test("q157 builds its drift histogram in 2 jobs: the value-table shuffle and one task") {
    fresh()
    assert(buildAndRun("q157_quality_drift") == ((0, 2)))
  }

  test("q91 sorts its per-event-type rows without a range sample or range shuffle") {
    fresh()
    assert(buildAndRun("q91_zscore_outliers") == ((0, 4)))
  }

  test("q161 reads its decision table once and caches nothing") {
    fresh()
    assert(buildAndRun("q161_release_manifest") == ((0, 8)))
    val cached = spark.sparkContext.getPersistentRDDs
    assert(cached.isEmpty, s"q161 cached ${cached.size} RDD(s): " +
      cached.values.map(_.name).mkString(", "))
  }
}
