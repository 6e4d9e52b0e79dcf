package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._
import scala.util.chaining._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** graft's one measurement harness. Its helpers hold the rules every
  * timed number in the repo follows: teardown outside the clock, a `noop`
  * write as the timed action, and the median of the runs after the cold
  * one. [[Bench]], [[BenchGuard]] and the recorded-gate drivers time
  * through them.
  *
  * As a `main` it profiles registry queries layer by layer:
  * `Measure <q1,q2,...|ALL> [sfDir] [runs] [planDir]` (defaults sf0.1,
  * 3 runs, no plan files). It materializes the warehouse once and prints
  * its seconds; an empty query list stops there, which with
  * `-Dgraft.wh.vbump=name:version` times re-landing one artifact's cone.
  * Then, per query and run, it prints one line: construction, planning
  * and execution seconds, the jobs, stages and tasks the run launched,
  * how many of those jobs the construction launched (`build jobs`), and
  * its shuffle read, shuffle write and spill bytes. The last run of
  * each query also lists its slowest stages. With `planDir`, each query's
  * formatted physical plan is written to `<planDir>/<query>.txt`. A query
  * that throws is named on a FAIL line and makes the exit code 1.
  *
  * Only this `main` registers the scheduler [[Listener]]: the timed loops
  * of Bench and BenchGuard run without it.
  */
object Measure {

  /** Between-run teardown, outside every timed region: release graft's
    * leases and the session cache so runs are independent, then GC so the
    * ContextCleaner reaps dead broadcast and shuffle state instead of
    * letting it pile up and slow later runs. */
  def teardown(spark: SparkSession): Unit = {
    Graft.releaseLeases(); spark.catalog.clearCache(); System.gc()
  }

  /** Runs every operator of `df`, unlike `count()`, which lets Catalyst
    * prune work. */
  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def seconds(body: => Unit): Double = timed(body)._2

  /** `runs` wall times of `body`, each after a [[teardown]]. */
  def samples(spark: SparkSession, runs: Int)(body: => Unit): Seq[Double] =
    (1 to runs).map { _ => teardown(spark); seconds(body) }

  def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** The median of the runs after the first: the first run pays the
    * query's construction, planning and code generation. */
  def steadyMedian(times: Seq[Double]): Double = median(times.drop(1))

  /** What the scheduler ran between two [[Listener.fence]]s. */
  final case class Sched(jobs: Int, stages: Seq[StageInfo]) {
    def tasks: Long = stages.map(_.numTasks.toLong).sum
    def shuffleReadBytes: Long = stages.map(_.taskMetrics.shuffleReadMetrics.totalBytesRead).sum
    def shuffleWriteBytes: Long = stages.map(_.taskMetrics.shuffleWriteMetrics.bytesWritten).sum
    def spillBytes: Long = stages.map(_.taskMetrics.diskBytesSpilled).sum
    def ++(later: Sched): Sched = Sched(jobs + later.jobs, stages ++ later.stages)
  }

  private def stageMs(s: StageInfo): Long =
    s.completionTime.getOrElse(0L) - s.submissionTime.getOrElse(0L)

  /** What a stage ran: the operation-scope names of its RDDs in lineage
    * order, e.g. `Scan parquet > WholeStageCodegen (1) > Exchange` for a
    * shuffle map or `… > BroadcastExchange` for a broadcast build. Spark
    * names every stage an adaptive query submits after one call site
    * (`$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java`),
    * which tells none of them apart. A range-partitioned sort's sample
    * job and its shuffle map both end in `Exchange`. */
  def stageLabel(s: StageInfo): String = {
    val scopes = s.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name)).distinct
    if (scopes.isEmpty) s.name else scopes.mkString(" > ")
  }

  /** Counts the jobs Spark starts and the stages it completes. */
  final class Listener extends SparkListener {
    private var jobs = 0
    private val stages = mutable.ArrayBuffer.empty[StageInfo]
    private val fenceStages = mutable.Set.empty[Int]
    private var pending: Option[(String, Promise[Sched])] = None

    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      val group = Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      pending match {
        case Some((id, done)) if id == group =>
          fenceStages ++= js.stageIds
          done.success(Sched(jobs, stages.toSeq))
          jobs = 0; stages.clear(); pending = None
        case _ => jobs += 1
      }
    }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
      if (!fenceStages.remove(sc.stageInfo.stageId)) stages += sc.stageInfo
    }

    /** What the scheduler ran since the previous fence. It runs one
      * one-task job and waits for its start event: the listener bus
      * delivers events in order, so every earlier event has then been
      * counted. The fence job itself is not counted. */
    def fence(spark: SparkSession): Sched = {
      val done = Promise[Sched]()
      val id = s"graft-measure-fence-${java.util.UUID.randomUUID}"
      synchronized { pending = Some((id, done)) }
      val sc = spark.sparkContext
      sc.setJobGroup(id, "Measure fence")
      try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
      Await.result(done.future, 1.minute)
    }
  }

  private val listeners = mutable.WeakHashMap.empty[SparkContext, Listener]

  /** The session's [[Listener]], registered on the first call only. */
  def listener(spark: SparkSession): Listener = listeners.synchronized {
    val sc = spark.sparkContext
    listeners.getOrElseUpdate(sc, new Listener().tap(sc.addSparkListener))
  }

  /** One timed run of one query: wall seconds, split into construction,
    * planning and execution, what the scheduler ran for it and how many
    * of its jobs the construction launched. */
  final case class Run(query: String, run: Int, wall: Double, build: Double,
                       plan: Double, exec: Double, sched: Sched, buildJobs: Int)

  /** Stages listed after a query's last run. */
  val SlowestStages = 10

  private def mb(bytes: Long): String = "%.1f".formatLocal(java.util.Locale.ROOT, bytes / 1048576.0)

  /** Runs each query `runs` times with [[teardown]] between runs, prints
    * the lines described on [[Measure]] and returns one [[Run]] per run of
    * each query that did not throw. */
  def measure(spark: SparkSession, sfDir: String, names: Seq[String], runs: Int,
              planDir: Option[String]): Seq[Run] = {
    val l = listener(spark)
    planDir.foreach(d => Files.createDirectories(Paths.get(d)))
    names.flatMap { name =>
      try {
        val rs = (1 to runs).map { i =>
          teardown(spark)
          l.fence(spark)
          val ((df, build), built) = timed(timed(SparkEntry.queries(name)(spark, sfDir)))
          // the fence between construction and planning is outside both spans
          val construction = l.fence(spark)
          val ((plan, exec), ran) =
            timed((seconds(df.queryExecution.executedPlan), seconds(noop(df))))
          val r = Run(name, i, built + ran, build, plan, exec, construction ++ l.fence(spark),
            construction.jobs)
          val s = r.sched
          println(f"[measure] $name run $i/$runs: wall ${r.wall}%.2f s (build $build%.2f, " +
            f"plan $plan%.2f, exec $exec%.2f) | jobs ${s.jobs}, build jobs ${r.buildJobs}, " +
            s"stages ${s.stages.size}, tasks ${s.tasks} | shuffle read ${mb(s.shuffleReadBytes)} MB, " +
            s"write ${mb(s.shuffleWriteBytes)} MB, spill ${mb(s.spillBytes)} MB")
          if (i == runs) {
            s.stages.sortBy(st => -stageMs(st)).take(SlowestStages).foreach { st =>
              println(f"[stage] id=${st.stageId}%-5d wall=${stageMs(st) / 1e3}%6.3f " +
                f"tasks=${st.numTasks}%-4d shR=${mb(st.taskMetrics.shuffleReadMetrics.totalBytesRead)}%8s MB " +
                f"shW=${mb(st.taskMetrics.shuffleWriteMetrics.bytesWritten)}%8s MB  ${stageLabel(st).take(100)}")
            }
            planDir.foreach(d => Files.writeString(Paths.get(d, s"$name.txt"),
              df.queryExecution.explainString(FormattedMode)))
          }
          r
        }
        if (runs > 1)
          println(f"[measure] $name cold ${rs.head.wall}%.2f s, " +
            f"steady-median ${steadyMedian(rs.map(_.wall))}%.2f s")
        rs
      } catch { case e: Throwable =>
        println(s"[measure] FAIL $name: ${Option(e.getMessage).getOrElse(e.getClass.getName)}")
        Nil
      }
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Measure <q1,q2,...|ALL> [sfDir] [runs] [planDir]")
    val names =
      if (args(0) == "ALL") SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").toSeq.filter(_.nonEmpty)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val runs = args.lift(2).fold(3)(_.toInt)
    val spark = Graft.localSession()
    val (dir, whSec) = timed(graft.warehouse.Warehouse.ensureMaterialized(spark, sfDir))
    println(f"[measure] warehouse ensureMaterialized $whSec%.2f s -> $dir")
    val measured = measure(spark, sfDir, names, runs, args.lift(3)).map(_.query).toSet
    spark.stop()
    val failed = names.filterNot(measured)
    if (failed.nonEmpty) {
      println(s"[measure] ${failed.size} of ${names.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
