package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Pins the generated-code cache sizing of [[Graft.session]]: a loop that
  * re-runs a dashboard of registry queries compiles its stages once.
  *
  * Spark keeps compiled classes in one JVM-wide LRU cache. At its default
  * of 100 entries a round over these queries (well over 100 classes)
  * evicts every class before the next round reuses it, so every call
  * recompiles. Other suites compiling into the same cache would move the
  * counts, so build.sbt runs this suite apart from the shared-session
  * suites, first in the JVM it shares only with PersistBalanceSpec.
  */
class CodegenReuseSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  // the reference dashboard (q02–q08), widened with the warehouse's own
  // tables until one round compiles more than Spark's default cache holds
  private val dashboard = Seq(
    "q02_orders_per_quarter", "q03_orders_quarter_category",
    "q04_retained_not_completed", "q05_created_not_completed_month",
    "q05_created_not_completed_day", "q06_stock_category_day",
    "q07_stock_category_month_end", "q08_current_orders_by_status",
    "q01_dim_dates", "q09_dim_orders_scd2", "q10_dim_products_scd2",
    "q11_fact_orders_created", "q87_status_pivot", "q67_star_join",
    "q57_rollup_revenue", "q88_cube_revenue")

  private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One round-robin pass with the Bench/Verify teardown between queries;
    * returns the classes each query compiled. */
  private def round(): Seq[(String, Long)] = dashboard.map { q =>
    Graft.releaseLeases(); spark.catalog.clearCache()
    val before = compiled
    SparkEntry.queries(q)(spark, sfDir).write.mode("overwrite").format("noop").save()
    q -> (compiled - before)
  }

  test("the session carries the static codegen-cache and UI-retention settings") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "400")
    assert(spark.conf.get("spark.sql.ui.retainedExecutions") == "50")
  }

  test("a second round over the dashboard compiles no new classes") {
    // land the artifacts first, so the rounds compile only the queries
    graft.warehouse.Warehouse.ensureMaterialized(spark, sfDir)
    val first = round()
    val total = first.map(_._2).sum
    info(s"first round: $total classes ${first.mkString(", ")}")
    assert(total > 100, s"one round compiled only $total classes; the spec no longer " +
      "overflows Spark's default cache of 100, so it cannot tell the sizing apart")
    val second = round().filter(_._2 > 0)
    if (second.nonEmpty) fail(s"the second round recompiled ${second.mkString(", ")}")
  }
}
