package graft

import org.apache.hadoop.fs.Path

/** The salted multi-pass queries (q32/q166/q167) land pass files in a
  * per-application dir under the warehouse cache root, so two runs over
  * one corpus never overwrite each other's files. */
class SaltedLandingDirSpec extends SparkSpec {
  test("the landing dir carries the run id, lies under the cache root and is deleted at exit") {
    val dir = new Path(SparkEntry.saltedLandingDir(spark, "q32", "/data/sf0.01"))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new Path(graft.warehouse.Warehouse.cacheRoot))
    val run = dir.getParent
    assert(dir.getName == "q32-_data_sf0.01")
    assert(run.getName == s"run-${spark.sparkContext.applicationId}")
    assert(run.getParent == root)
    assert(fs.exists(run))
    // registered for deletion at exit: cancelling succeeds only if it was
    assert(fs.cancelDeleteOnExit(run))
    fs.deleteOnExit(run)
  }
}
