package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.{col, expr, xxhash64}

/** Benchmark harness — one JSON line on stdout AND written to
  * `BENCH.json` (path overridable via SPARK_GRAFT_BENCH_OUT), so the
  * driver can parse it even if a logger decorates stdout.
  *
  * Each query is fully materialized through the `noop` sink (forces every
  * operator to run, unlike `count()` which lets Catalyst prune work).
  * Failures are reported per-query in an `errors` map instead of being
  * swallowed — a broken query must never masquerade as a fast one.
  * An optional warmup pass at a small sf (SPARK_GRAFT_WARM_DIR, default
  * sf0.001 if present) triggers codegen/JIT so the measured numbers
  * reflect steady-state execution, not JVM warmup.
  */
object Bench {
  /** Post-cold runs above this cost report a median of 3 samples;
    * below it a single sample (absolute jitter is sub-budget noise). */
  val MedianFloorSec = 1.0

  /** One query's bench outcome: cold, first post-cold and steady-median
    * seconds, and its error if a run threw. */
  final case class Result(name: String, cold: Double, steady: Double, median: Double,
                          error: Option[String])

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val benchOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
    val warmDir = sys.env.get("SPARK_GRAFT_WARM_DIR")
      .orElse(Some("/root/testdata/sf0.001").filter(d => Files.isDirectory(Paths.get(d))))
    val spark = Graft.localSession()

    // Between-query teardown (Measure.teardown), OUTSIDE the timed region:
    // charging its cache drop and GC pauses to the query being measured
    // would skew every reported time by up to seconds (round-2 advice).
    def run(dir: String, name: String): Option[String] =
      try { Measure.noop(SparkEntry.queries(name)(spark, dir)); None }
      catch { case e: Throwable => Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200)) }

    // TWO warmup passes: heavy-codegen queries (q32-family) reach JIT
    // steady state only on their second execution — one pass left the
    // first timed run paying 2–6× (measured 10–31 s vs 5 s for the same
    // binary); the second pass costs ~30 s of untimed wall once.
    warmDir.foreach(w => (1 to 2).foreach(_ =>
      SparkEntry.queries.keys.foreach { n => Measure.teardown(spark); run(w, n) }))

    // Host-drift calibration sentinel (r16, per the r15 verdict): a
    // FIXED synthetic workload — 150M xxhash64+sum in ONE task, so the
    // number is a pure single-core-throughput probe independent of
    // SPARK_GRAFT_CPUS and of the data directory — timed after warmup
    // and reported as sentinel_sec in both the stdout line and
    // BENCH.json. Two rounds running, the headline total moved for
    // environmental reasons (r14 +17%, r15 0.86×) and needed manual
    // same-host A/B re-runs of old binaries to exonerate the code;
    // future rounds can normalize totals by the sentinel instead.
    // bit_xor, not sum: summing 150M full-range 64-bit hashes overflows
    // a BIGINT under ANSI mode (measured: the first sentinel crashed the
    // bench); xor folds the same per-row work with no overflow.
    def sentinel(rows: Long, parts: Int): Double = Measure.seconds(Measure.noop(
      spark.range(0L, rows, 1L, parts).select(xxhash64(col("id")).as("h")).agg(expr("bit_xor(h)"))))
    val senSec = sentinel(150000000L, 1)
    // PARALLEL twin (one partition per core): this round's mid-bench
    // read ~1.5× on untouched queries while the single-task sentinel
    // stayed flat — the host throttles multi-core work independently of
    // single-core speed, so drift needs both probes. Comparable across
    // runs at the SAME SPARK_GRAFT_CPUS only (per-core work is fixed at
    // 20M hashes).
    val par = spark.sparkContext.defaultParallelism
    val senParSec = sentinel(20000000L * par, par)

    // The warehouse layer materializes dims/facts once per corpus and the
    // analytic queries read the parquet (mirrors the reference DAG: tables
    // are built nightly, queries just read them). Build it before the
    // timed loop and report the build cost as its own metric.
    val (whErr, whSec) = Measure.timed(
      try { graft.warehouse.Warehouse.ensureMaterialized(spark, sfDir); None }
      catch { case e: Throwable => Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200)) })

    // Timed runs per query, same sf, cache cleared between: the FIRST
    // sample (cold) carries per-construction planning/codegen jitter
    // (measured spread up to 5× on join-heavy queries — fresh
    // expression ids defeat the codegen cache every construction); the
    // post-cold samples are the reproducible per-query cost. The
    // headline total stays the cold sum for round-over-round
    // comparability. Queries whose first post-cold run exceeds
    // [[MedianFloorSec]] get TWO more post-cold runs and report the
    // MEDIAN of the three (one sample is not evidence at ±15% host
    // variance; the r12 driver number read +19% on an unchanged
    // registry from exactly this); the sub-second tail keeps single
    // samples so total wall stays inside the driver budget (the tail's
    // absolute jitter is noise in the total).
    val results = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      var err: Option[String] = None
      def sample(): Double = {
        Measure.teardown(spark)
        Measure.seconds { err = err.orElse(run(sfDir, name)) }
      }
      val cold = sample()
      val steady = sample()
      val samples =
        if (err.isDefined || steady < MedianFloorSec) Seq(steady)
        else steady +: Seq.fill(2)(sample())
      Result(name, cold, steady, Measure.median(samples), err)
    }
    def q(s: String): String = Json.quote(s)
    def times(f: Result => Double): String =
      results.map(r => s"${q(r.name)}:${f(r)}").mkString("{", ",", "}")
    val errs = errors(results, whErr).map { case (k, e) => s"${q(k)}:${q(e)}" }.mkString("{", ",", "}")
    val fullJson =
      s"""{"metric":"total","value":${results.map(_.cold).sum},"unit":"sec","queries":${times(_.cold)},"queries_steady":${times(_.steady)},"queries_steady_median":${times(_.median)},"total_steady_sec":${results.map(_.steady).sum},"total_steady_median_sec":${results.map(_.median).sum},"errors":$errs,"warehouse_build_sec":$whSec,"sentinel_sec":$senSec,"sentinel_par_sec":$senParSec,"sf":${q(sfDir)}}"""
    Files.writeString(Paths.get(benchOut), fullJson + "\n")
    println(summary(results, whErr, whSec, senSec, senParSec, sfDir))
    spark.stop()
  }

  /** The stdout summary line's budget: the driver keeps only the last
    * ~2,000 chars of output. The round-5 line (72-query cold+steady
    * maps, ~5 KB) overflowed it and BENCH_r05.json recorded parsed:null,
    * so per-query maps live in BENCH.json only. */
  val SummaryMaxChars = 1900

  /** Caps, in chars after JSON quoting, on the summary line's names and
    * on its other text (error messages, the sf path). NameChars fits every
    * registry name whole. With at most [[SummaryErrors]] errors and
    * [[SummaryTop]] top entries, times below 10^6 s and 6 fixed doubles of
    * at most 22 chars, the line is at most ~1,890 chars whatever it holds. */
  val NameChars = 34
  val TextChars = 32
  val SummaryErrors = 8
  val SummaryTop = 20

  private def errors(results: Seq[Result], whErr: Option[String]): Seq[(String, String)] =
    results.collect { case Result(k, _, _, _, Some(e)) => (k, e) } ++ whErr.map(("warehouse_build", _))

  /** The one-line stdout summary the perf gate parses. Each name, message
    * and the sf path is cut after quoting, between two escapes, so a
    * message of control chars cannot grow the line. r16 restored
    * per-query driver visibility: the [[SummaryTop]] slowest
    * steady-medians ride the line, 3-decimal; the full map stays in
    * BENCH.json. */
  def summary(results: Seq[Result], whErr: Option[String], whSec: Double,
              senSec: Double, senParSec: Double, sfDir: String): String = {
    val errs = errors(results, whErr)
    val errsShort = errs.take(SummaryErrors)
      .map { case (k, e) => Json.quote(k, NameChars) + ":" + Json.quote(e, TextChars) }
      .mkString("{", ",", "}")
    val top = results.sortBy(-_.median).take(SummaryTop)
      // Locale.ROOT: a comma decimal separator would break the JSON
      .map(r => Json.quote(r.name, NameChars) + ":" + "%.3f".formatLocal(java.util.Locale.ROOT, r.median))
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":${results.map(_.cold).sum},"unit":"sec","total_steady_sec":${results.map(_.steady).sum},"total_steady_median_sec":${results.map(_.median).sum},"n_queries":${results.size},"n_errors":${errs.size},"errors":$errsShort,"warehouse_build_sec":$whSec,"sentinel_sec":$senSec,"sentinel_par_sec":$senParSec,"top_steady_median":$top,"sf":${Json.quote(sfDir, TextChars)},"detail":"per-query times in BENCH.json"}"""
  }
}
