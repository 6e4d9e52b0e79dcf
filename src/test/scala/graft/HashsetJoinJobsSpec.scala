package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions.col

import graft.text.TextDedup
import graft.warehouse.Warehouse

/** The set-similarity joins over the landed `doc_hashsets` are lazy
  * transformations: building them launches no job (the salted forms
  * only their pass-sizing counts) and caches nothing, and the verify
  * stage's broadcast decision comes from Spark's plan statistics. */
class HashsetJoinJobsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def hashsets: DataFrame = Warehouse.read(spark, sfDir, "doc_hashsets")

  /** q40's test and train sides: id-filters of the landed table. */
  private def split(hs: DataFrame): Seq[DataFrame] =
    Seq(hs.where(col("doc_id") % 10 === 0), hs.where(col("doc_id") % 10 =!= 0))

  private def fresh(): Unit = {
    Warehouse.ensureMaterialized(spark, sfDir)
    Graft.releaseLeases(); spark.catalog.clearCache()
  }

  private def assertNothingCached(what: String): Unit = {
    val left = spark.sparkContext.getPersistentRDDs
    assert(left.isEmpty, s"$what cached ${left.size} RDD(s): " +
      left.values.map(_.name).mkString(", "))
  }

  test("q40 and the n-gram Jaccard join launch no job and cache nothing while built") {
    fresh()
    assert(jobs(SparkEntry.queries("q40_contamination")(spark, sfDir))._2 == 0)
    assert(jobs(TextDedup.ngramJaccardPairsFromHashsets(hashsets))._2 == 0)
    assertNothingCached("construction")
  }

  test("the salted forms launch only the jobs of their pass-sizing counts") {
    fresh()
    val hs = hashsets
    val Seq(te, tr) = split(hs)
    val jacCount = jobs(hs.count())._2
    val conCount = jobs { te.count(); tr.count() }._2
    assert(jacCount > 0 && conCount > 0)
    val out = Files.createTempDirectory("hashset-jobs").toString
    assert(jobs(TextDedup.ngramJaccardPairsSalted(hs, s"$out/jac"))._2 == jacCount)
    assert(jobs(TextDedup.containmentPairsSalted(te, tr, s"$out/con"))._2 == conCount)
    assert(jobs(SparkEntry.queries("q32_ngram_jaccard")(spark, sfDir))._2 == jacCount)
    assert(jobs(SparkEntry.queries("q167_containment_salted")(spark, sfDir))._2 == conCount)
    assertNothingCached("construction")
  }

  /** Output column names of the build side of every broadcast hash join
    * in `df`'s executed plan, after running it. */
  private def broadcastBuildSides(df: DataFrame): Seq[Seq[String]] = {
    df.collect()
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case j: BroadcastHashJoinExec =>
        (if (j.buildSide == BuildRight) j.right else j.left).output.map(_.name)
    }
  }

  test("at sf0.001 both verify attaches of q40 and q32 are broadcast") {
    fresh()
    val q40 = broadcastBuildSides(SparkEntry.queries("q40_contamination")(spark, sfDir))
    for (c <- Seq("sh_t", "sh_r"))
      assert(q40.exists(_.contains(c)), s"q40 verify attach of $c not broadcast: $q40")
    val q32 = broadcastBuildSides(SparkEntry.queries("q32_ngram_jaccard")(spark, sfDir))
    for (c <- Seq("sh_a", "sh_b"))
      assert(q32.exists(_.contains(c)), s"q32 verify attach of $c not broadcast: $q32")
  }

  test("the broadcast rule compares Spark's summed size estimate with its bound") {
    val sides = split(hashsets)
    val est = sides.map(_.queryExecution.optimizedPlan.stats.sizeInBytes).sum.toLong
    assert(est > 0)
    assert(TextDedup.verifyFitsBroadcast(sides, bound = est))
    assert(!TextDedup.verifyFitsBroadcast(sides, bound = est - 1))
    assert(TextDedup.verifyFitsBroadcast(sides))
  }
}
