package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** [[Measure]]'s per-run record adds up, its plan files land, and its
  * scheduler listener is registered once per session. */
class MeasureSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"
  private val queries = Seq("q02_orders_per_quarter", "q67_star_join")

  test("two queries x 2 runs: layered seconds within the wall, scheduler counts, one plan file each") {
    val planDir = Files.createTempDirectory("graft-measure-spec")
    val runs = Measure.measure(spark, sfDir, queries, 2, Some(planDir.toString))
    assert(runs.map(r => (r.query, r.run)) == queries.flatMap(q => Seq(q -> 1, q -> 2)))
    runs.foreach { r =>
      val s = r.sched
      assert(s.jobs >= 1, r)
      assert(s.stages.size >= s.jobs, r)
      assert(s.tasks >= s.stages.size, r)
      assert(r.build >= 0 && r.plan >= 0 && r.exec > 0, r)
      assert(r.build + r.plan + r.exec <= r.wall, r)
      assert(r.buildJobs >= 0 && r.buildJobs <= s.jobs, r)
    }
    // q02 broadcasts the date dimension: its stages are named by scope,
    // not by the adaptive executor's call site
    val labels = runs.head.sched.stages.map(Measure.stageLabel)
    assert(labels.exists(_.endsWith("> BroadcastExchange")), labels)
    assert(labels.forall(!_.contains("CompletableFuture")), labels)
    assert(Files.list(planDir).iterator.asScala.map(_.getFileName.toString).toSet ==
      queries.map(q => s"$q.txt").toSet)
    assert(Files.readString(planDir.resolve(s"${queries.head}.txt")).contains("Physical Plan"))
  }

  test("build jobs count the jobs construction launches, and only those") {
    // q39 counts the corpus while it is built
    val Seq(r) = Measure.measure(spark, sfDir, Seq("q39_keywords"), 1, None)
    assert(r.buildJobs >= 1 && r.buildJobs < r.sched.jobs, r)
  }

  test("a second call adds no second listener") {
    val l = Measure.listener(spark)
    Measure.measure(spark, sfDir, queries.take(1), 1, None)
    assert(Measure.listener(spark) eq l)
    // a listener registered twice would count this one-stage job twice
    l.fence(spark)
    spark.sparkContext.parallelize(1 to 10, 2).count()
    val s = l.fence(spark)
    assert((s.jobs, s.stages.size, s.tasks) == ((1, 1, 2L)))
  }

  test("a throwing query yields no run record") {
    assert(Measure.measure(spark, sfDir, Seq("no_such_query"), 1, None).isEmpty)
  }
}
