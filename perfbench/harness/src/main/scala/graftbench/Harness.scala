package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions.{col, expr, xxhash64}

import graft.{Graft, Json, SparkEntry}
import graft.pipeline.ProcessOrders
import graft.sources.Ingest
import graft.warehouse.Warehouse

/** One timed operation: a query, a warehouse artifact or a day. */
final case class Op(name: String, pass: Int, seconds: Double, error: Option[String],
                    layers: Map[String, Double])

/** Runs one benchmark workload in this JVM and writes a JSON record of
  * every timed operation to `--out`. The launcher (perfbench/run.py)
  * generates the inputs, checks outputs against the DuckDB oracle and
  * turns this record into the end-to-end and per-layer metrics.
  *
  * Arguments: `--workload W --data DIR --passes N --trace 0|1 --out FILE
  * --cores N [--queries a,b] [--wh-skip a,b] [--days N] [--plant throw|wrong|stale]`.
  * The working directory is the run's private directory: relative scratch
  * paths the library writes (warehouse cache, salted pass files) land there.
  *
  * With `--trace 1` the harness registers its own SparkListener and splits
  * each query into construction, planning and execution; forcing the plan
  * before the write re-plans, so timings are only comparable between runs
  * of the same trace setting.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val data = new File(opt("data")).getAbsolutePath
    val trace = opt.get("trace").contains("1")
    val list = (k: String) => opt.get(k).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)

    if (workload == "list") { // the registry and its scale classes, for the benchmark's tests
      Files.writeString(Paths.get(opt("out")), toJson(Map(
        "queries" -> SparkEntry.queries.keys.map(q => q -> graft.Catalog.ScaleClass.get(q)).toMap,
        "artifacts" -> Warehouse.artifactNames(null, data))) + "\n")
      return
    }
    val passes = opt("passes").toInt
    val cores = opt("cores").toInt
    val spark = Graft.session(master = s"local[$cores]", shufflePartitions = cores)
    spark.sparkContext.setLogLevel("ERROR")
    val h = new Harness(spark, data, passes, trace, cores, opt.get("plant"))
    val extra: Map[String, Any] = workload match {
      case "wh-build" => h.whBuild()
      case "queries" => h.queries(list("queries"), list("wh-skip"))
      case "daily-batch" => h.daily(opt("days").toInt)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val record = h.record(workload) ++ extra
    Files.writeString(Paths.get(opt("out")), toJson(record) + "\n")
    spark.stop()
  }

  def toJson(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => toJson(x)
    case s: String => Json.quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => Json.quote(k.toString) + ":" + toJson(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(toJson).mkString("[", ",", "]")
    case o => throw new IllegalArgumentException(s"no JSON form for $o")
  }

  /** Node, shuffle-exchange and broadcast-exchange counts of a physical plan,
    * subqueries included. Under AQE the plan before execution is the
    * adaptive wrapper around the initial plan, exchanges included. */
  def planShape(plan: SparkPlan): (Int, Int, Int) = {
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val nodes = ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = {
      val u = unwrap(p)
      nodes += u
      u.children.foreach(walk)
      u.subqueries.foreach(walk)
    }
    walk(plan)
    (nodes.size,
      nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      nodes.count(_.isInstanceOf[BroadcastExchangeLike]))
  }

  private def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
}

final class Harness(spark: SparkSession, data: String, passes: Int, trace: Boolean,
                    cores: Int, plant: Option[String]) {
  import Harness._

  private val counters = new Counters(spark, trace)
  private val ops = ArrayBuffer.empty[Op]
  private val passWalls = ArrayBuffer.empty[Double]
  private var firstOpEpochMs = 0L
  private var prepSeconds = 0.0
  private var heapMb = 0.0
  private var leases = 0
  private var cachedMb = 0.0
  private var regionStart = Map.empty[String, Double]
  private var regionEnd = Map.empty[String, Double]

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** Starts the timed region. The teardown before an op releases what the
    * previous op left, so untimed work is released here and the lease and
    * cache totals restart. */
  private def startRegion(): Unit = {
    teardown()
    leases = 0
    cachedMb = 0.0
    firstOpEpochMs = System.currentTimeMillis()
    regionStart = counters.snapshot()
  }

  /** Ends the timed region and samples the heap the workload still holds. */
  private def endRegion(): Unit = {
    regionEnd = counters.snapshot()
    heapMb = liveHeapMb()
  }

  /** Heap in use after a full collection. Spark's ContextCleaner drops
    * shuffle and broadcast state only once a collection has found its
    * owner unreachable, so a second collection after a short pause counts
    * what the program still holds, not what the cleaner had yet to free. */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    counters.heapAfterGcMb()
  }

  /** Bench's between-operation teardown, outside every timed region:
    * release graft's leases and the session cache, then collect. */
  private def teardown(): Unit = {
    cachedMb += spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)
    leases += Graft.releaseLeases()
    spark.catalog.clearCache()
    System.gc()
  }

  /** Times `body` as one operation; with tracing, records the counter
    * deltas it caused. */
  private def timed(name: String, pass: Int)(body: ArrayBuffer[(String, Double)] => Unit): Op = {
    val extra = ArrayBuffer.empty[(String, Double)]
    val before = if (trace) counters.snapshot() else Map.empty[String, Double]
    counters.takePeakExecMb()
    val t0 = now()
    val err = try { body(extra); None } catch { case e: Throwable => Some(message(e)) }
    val dt = secs(t0, now())
    val layers = if (!trace) extra.toMap else {
      val d = Counters.delta(counters.snapshot(), before)
      d ++ extra ++ Map(
        "exec.peak_mem_mb" -> counters.takePeakExecMb(),
        "sched.task_overhead_s" -> (d("sched.task_ms") / 1e3 - d("exec.run_s")))
    }
    val op = Op(name, pass, dt, err, layers)
    ops += op
    op
  }

  /** Host-drift probes, the same fixed work as graft.Bench's sentinels. */
  private def sentinels(): Map[String, Double] = {
    def probe(rows: Long, parts: Int): Double = {
      val t = now()
      spark.range(0L, rows, 1L, parts).select(xxhash64(col("id")).as("h"))
        .agg(expr("bit_xor(h)")).write.mode("overwrite").format("noop").save()
      secs(t, now())
    }
    val par = spark.sparkContext.defaultParallelism
    Map("host.sentinel_s" -> probe(150000000L, 1),
      "host.sentinel_par_s" -> probe(20000000L * par, par))
  }

  def record(workload: String): Map[String, Any] = Map(
    "workload" -> workload,
    "cores" -> cores,
    "trace" -> trace,
    "first_op_epoch_ms" -> firstOpEpochMs,
    "prep_s" -> prepSeconds,
    "pass_wall_s" -> passWalls.toSeq,
    "heap_live_mb" -> heapMb,
    "region" -> Counters.delta(regionEnd, regionStart),
    "graft.leases" -> leases,
    "storage.cached_mb" -> cachedMb,
    "host" -> (if (trace) sentinels() else Map.empty[String, Double]),
    "ops" -> ops.map(o => Map("name" -> o.name, "pass" -> o.pass, "seconds" -> o.seconds,
      "error" -> o.error, "layers" -> o.layers)).toSeq)

  /** wh-build: one fresh `Warehouse.ensureMaterialized` into an empty cache
    * directory, the nightly job. An artifact's time is read from outside:
    * each artifact's `_GRAFT_V` marker is written right after it lands, in
    * registry order, so consecutive marker times bound its build. An
    * artifact without `_SUCCESS` and `_GRAFT_V` did not land and fails. */
  def whBuild(): Map[String, Any] = {
    val cache = new File("wh-fresh").getAbsolutePath
    System.setProperty("graft.wh.cache", cache)
    val names = Warehouse.artifactNames(spark, data)
    startRegion()
    val t0 = System.currentTimeMillis()
    var dir = ""
    val build = timed("ensureMaterialized", 0) { _ => dir = Warehouse.ensureMaterialized(spark, data) }
    endRegion()
    passWalls += build.seconds
    ops.clear()
    def marker(n: String) = new File(s"$dir/$n/_GRAFT_V")
    var prev = t0.toDouble
    names.foreach { n =>
      val m = marker(n)
      val landed = m.isFile && new File(s"$dir/$n/_SUCCESS").isFile
      val at = if (m.isFile) Files.getLastModifiedTime(m.toPath)
        .to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1e3 else prev
      ops += Op(n, 0, math.max(0.0, (at - prev) / 1e3),
        if (landed) build.error.map(e => s"build failed: $e") else Some("artifact did not land"),
        Map.empty)
      prev = at
    }
    // after the markers are read: the touch retries a failed artifact
    val (_, touchSeconds) = touch()
    val landedBytes = Files.walk(Paths.get(cache)).filter(Files.isRegularFile(_))
      .mapToLong(Files.size(_)).sum()
    Map("build_s" -> build.seconds, "build_layers" -> build.layers,
      "warehouse.landed_mb" -> landedBytes / (1024.0 * 1024.0),
      "warehouse.touch_s" -> touchSeconds)
  }

  /** `ensureMaterialized` on a landed cache as a fresh JVM sees it: the
    * per-JVM memo is dropped first, so inputs are fingerprinted and every
    * marker is read again. Returns the cache dir and the seconds taken. */
  private def touch(): (String, Double) = {
    Warehouse.invalidateResolved()
    val t = now()
    val dir = Warehouse.ensureMaterialized(spark, data)
    (dir, secs(t, now()))
  }

  /** queries: the warehouse artifacts the listed queries read are landed
    * first (untimed, outside set-up); one untimed pass dumps every output
    * for the oracle and warms the JVM (the cleanup between dumps is
    * Verify's, without the collection); `passes` timed passes then run the
    * list, and a second untimed dump after them shows the outputs in the
    * state the timed calls left. */
  def queries(names: Seq[String], whSkip: Seq[String]): Map[String, Any] = {
    System.setProperty("graft.wh.cache", new File("wh").getAbsolutePath)
    if (whSkip.nonEmpty) System.setProperty("graft.wh.skip", whSkip.mkString(","))
    val tPrep = now()
    val wh = Warehouse.ensureMaterialized(spark, data)
    prepSeconds = secs(tPrep, now())

    val (_, touchSeconds) = touch()

    var plantedCalls = 0
    val planted: Map[String, (SparkSession, String) => DataFrame] = plant match {
      case Some("throw") => Map("planted_throw" -> ((_, _) => throw new RuntimeException("planted")))
      case Some("wrong") => Map("planted_wrong" -> ((s, d) => SparkEntry.queries(names.head)(s, d).limit(0)))
      case Some("stale") => Map("planted_stale" -> { (s, d) => // right only on its first call
        plantedCalls += 1
        val df = SparkEntry.queries(names.head)(s, d)
        if (plantedCalls == 1) df else df.limit(0)
      })
      case _ => Map.empty
    }
    val registry = SparkEntry.queries ++ planted
    val all = names ++ planted.keys.toSeq.sorted

    def dump(label: String): Map[String, String] = all.flatMap { q =>
      Graft.releaseLeases()
      spark.catalog.clearCache()
      try {
        registry(q)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"dump-$label/$q")
        None
      } catch { case e: Throwable => Some(q -> message(e)) }
    }.toMap
    val dumpedBefore = dump("before")

    System.setProperty("graft.oracle.whdir", new File(wh).getAbsolutePath)
    val oracle = SparkEntry.oracleSql
    val oracleOut = all.map { q =>
      q -> oracle.get(if (planted.contains(q)) names.head else q)
    }.toMap

    startRegion()
    (0 until passes).foreach { pass =>
      var wall = 0.0
      all.foreach { q =>
        teardown()
        val op = timed(q, pass) { extra =>
          if (!trace) registry(q)(spark, data).write.mode("overwrite").format("noop").save()
          else {
            val jobs0 = counters.jobs
            val t0 = now()
            val df = registry(q)(spark, data)
            val t1 = now()
            extra += "registry.construct_s" -> secs(t0, t1)
            extra += "registry.eager_jobs" -> (counters.jobs - jobs0).toDouble
            val (nodes, exchanges, broadcasts) = planShape(df.queryExecution.executedPlan)
            val t2 = now()
            extra += "catalyst.plan_s" -> secs(t1, t2)
            extra += "catalyst.plan_nodes" -> nodes.toDouble
            extra += "catalyst.exchanges" -> exchanges.toDouble
            extra += "catalyst.broadcasts" -> broadcasts.toDouble
            df.write.mode("overwrite").format("noop").save()
            val t3 = now()
            extra += "exec.wall_s" -> secs(t2, t3)
          }
        }
        wall += op.seconds
      }
      passWalls += wall
    }
    endRegion()
    val dumpedAfter = dump("after")
    teardown()
    Map("wh_dir" -> new File(wh).getAbsolutePath, "warehouse.touch_s" -> touchSeconds,
      "dump_errors" -> Map("before" -> dumpedBefore, "after" -> dumpedAfter),
      "oracle_sql" -> oracleOut)
  }

  /** daily-batch: each pass folds `ProcessOrders.runDay` over the seeded
    * days from an empty warehouse; every day's three tables are landed with
    * `Ingest.overwriteSwap` and re-read before the next day. It runs cold,
    * as a nightly job starts in a fresh process. */
  def daily(days: Int): Map[String, Any] = {
    def input(d: Int, t: String) = spark.read.parquet(s"$data/days/$d/$t.parquet")
    def batchTs(d: Int) = java.time.LocalDate.of(2020, 5, 1).plusDays(d).toString + " 00:00:00"
    val tables = Seq("dim_products", "dim_orders", "fact_orders")

    /** One pass: days from an empty warehouse until one fails. */
    def fold(dir: String, pass: Int): Unit = {
      def load(t: String) = spark.read.parquet(s"$dir/$t")
      var state = ProcessOrders.emptyState(spark, input(0, "products"), input(0, "orders"))
      (0 until days).takeWhile { d =>
        teardown()
        timed(s"day$d", pass) { extra =>
          val next = ProcessOrders.runDay(spark, state, input(d, "products"),
            input(d, "orders"), batchTs(d))
          val frames = Seq(next.dimProducts, next.dimOrders, next.factOrders)
          tables.zip(frames).foreach { case (t, df) =>
            val t0 = now()
            Ingest.overwriteSwap(spark, df, s"$dir/$t")
            extra += s"pipeline.land_s.$t" -> secs(t0, now())
          }
          state = ProcessOrders.WarehouseState(
            load("dim_products"), load("dim_orders"), load("fact_orders"))
        }.error.isEmpty
      }
    }

    var lastDir = ""
    startRegion()
    (0 until passes).foreach { pass =>
      lastDir = new File(s"daily/p$pass").getAbsolutePath
      val n = ops.size
      fold(lastDir, pass)
      passWalls += ops.drop(n).map(_.seconds).sum
    }
    endRegion()
    val rows = tables.map(t => spark.read.parquet(s"$lastDir/$t").count()).sum
    teardown()
    Map("state_dir" -> lastDir, "pipeline.state_rows" -> rows.toDouble, "days" -> days)
  }
}
