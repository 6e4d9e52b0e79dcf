package graft.metrics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dims.DimDates
import graft.operators.{AsOfJoin, ForwardFill}
import graft.warehouse.Warehouse

/** The reference's declared analytic queries (SURVEY.md §2.8, Q1–Q7),
  * re-expressed over the driver corpus (FIXTURES.md §B mapping).
  *
  * Scale posture: every join against `dim_dates` is an explicit
  * `broadcast()` (29,220 rows — never shuffle the fact side for it); all
  * aggregations are plain hash aggregates with map-side partials. "now()"
  * from the reference SQL (postgresql.md:106,143,144) is injected as a
  * literal `asOf` so runs are deterministic and oracle-comparable.
  */
object Metrics {

  /** Timestamp render format shared with every DuckDB oracle (strftime
    * `%Y-%m-%d %H:%M:%S.%f`) — results carry timestamps as strings so the
    * hash compare never trips on tz/precision annotations. */
  val TsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  /** Q1 (README.md:45, postgresql.md:104-108): current order count by
    * status — the as-of (J2) read of dim_orders at an injected `asOf`
    * (reference uses CURRENT_TIMESTAMP; injected for determinism). */
  def currentOrdersByStatus(spark: SparkSession, sfDir: String,
                            asOf: String = "2024-01-15 00:00:00"): DataFrame = {
    AsOfJoin.currentAt(Warehouse.read(spark, sfDir, "dim_orders"), asOf)
      .groupBy(col("status"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("status")
  }

  /** Q3 (README.md:47, postgresql.md:124-134): orders per quarter ×
    * product category. The fact (lineitem) joins dim_products AS-OF the
    * ship time (J2: equi key + validity band) — versions straddle the
    * 1998 snapshot boundary so both v1 and v2 categories appear — and the
    * date dim (J1, broadcast) supplies year/quarter.
    *
    * Scale: both dims are broadcast; the fact side never shuffles before
    * the aggregation, and the agg itself is a partial+final hash agg on a
    * low-cardinality key. */
  def ordersQuarterCategory(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir).select(col("l_partkey"), col("l_shipdate"))
    val dim = Warehouse.read(spark, sfDir, "dim_products")
    val dates = DimDates.build(spark)
    AsOfJoin(li, dim, "l_partkey", "id", li("l_shipdate"))
      .join(broadcast(dates), to_date(col("l_shipdate")) === dates("datum"))
      .groupBy(
        concat(col("year").cast("string"), lit("_"), col("quarter").cast("string"))
          .as("year_quarter"),
        col("category"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("year_quarter", "category")
  }

  /** Q4 (README.md:48, postgresql.md:138-146): retained orders — created
    * before the month of `asOf` (P4 range predicate) and still not
    * completed ("purchase" in corpus terms) at `asOf` (J2 as-of). Global
    * count (A4). */
  def retainedNotCompleted(spark: SparkSession, sfDir: String,
                           asOf: String = "2024-02-15 00:00:00"): DataFrame = {
    val at = to_timestamp(lit(asOf))
    val fact = Warehouse.read(spark, sfDir, "fact_orders")
    val dim = Warehouse.read(spark, sfDir, "dim_orders")
    AsOfJoin(fact, dim, "order_id", "order_id", at)
      .where(dim("status") =!= lit("purchase") &&
             fact("created_time") < date_trunc("month", at))
      .agg(count(lit(1)).as("order_count"))
  }

  /** Q5 (README.md:49, spec only): per bucket ("month" faithful to the
    * spec, "day" for finer granularity over the one-month corpus): orders
    * created in the bucket that were NOT completed (no purchase version
    * starting) within the same bucket. Completion times come from the
    * dim_orders version history, bucket boundaries from dim_dates
    * (first_day_of_next_month — create_dim_dates.py:44). */
  def createdNotCompleted(spark: SparkSession, sfDir: String,
                          bucket: String = "month"): DataFrame = {
    val fact = Warehouse.read(spark, sfDir, "fact_orders")
      .select(col("order_id"), col("created_time"))
    val purchases = Warehouse.read(spark, sfDir, "dim_orders")
      .where(col("status") === lit("purchase"))
      .groupBy(col("order_id"))
      .agg(min(col("start_time")).as("purchase_time"))
    val dates = DimDates.build(spark)
    val joined = fact.join(purchases, Seq("order_id"), "left")
      .join(broadcast(dates), to_date(col("created_time")) === dates("datum"))
    val (label, bucketEnd) = bucket match {
      case "month" => (
        concat(col("year").cast("string"), lit("_"), lpad(col("month").cast("string"), 2, "0")),
        col("first_day_of_next_month").cast("timestamp"))
      case "day" => (
        date_format(col("datum"), "yyyy-MM-dd"),
        date_add(col("datum"), 1).cast("timestamp"))
      case other => throw new IllegalArgumentException(s"bucket: $other")
    }
    joined.groupBy(label.as("bucket"))
      .agg(
        count(lit(1)).as("created_count"),
        count(when(col("purchase_time").isNull || col("purchase_time") >= bucketEnd, 1))
          .as("not_completed_count"))
      .orderBy("bucket")
  }

  /** Q6/Q7 (README.md:63-65, spec only): stock per category per day /
    * per month-end. `lineitem` plays the sparse inventory snapshot stream
    * (README.md:55-61: only changed products appear on a day): entity =
    * l_partkey, observation = (ship date, quantity). ForwardFill (W5)
    * carries the last observation across a dense scaffold; pre-window
    * observations are slot-clamped onto the first scaffold day so the
    * scaffold is bounded by the reporting window, not by history
    * (ForwardFill's 100 TB posture). Sums run in DECIMAL and cast to
    * DOUBLE at the very end — FP-summation-order-proof, so the DuckDB
    * oracle hashes identically.
    *
    * @param monthEnd false → Q6: every day in [from, until];
    *                 true  → Q7: dim_dates rows where datum ==
    *                 last_day_of_month (create_dim_dates.py:43).
    */
  def stockByCategory(spark: SparkSession, sfDir: String,
                      from: String, until: String, monthEnd: Boolean): DataFrame = {
    val fromD = to_date(lit(from))
    val untilD = to_date(lit(until))
    val firstSlot = if (monthEnd) last_day(fromD) else fromD
    val li = Tables.lineitem(spark, sfDir)
    val obs = to_date(col("l_shipdate"))
    val slot = if (monthEnd) greatest(last_day(obs), firstSlot) else greatest(obs, firstSlot)
    val snaps = li
      .where(obs <= untilD)
      .select(
        col("l_partkey").as("entity"),
        slot.as("snap_date"),
        col("l_quantity").cast("decimal(18,2)").as("value"),
        // r16: the (ship date, orderkey, linenumber) tiebreak packed
        // into ONE orderable BIGINT so ForwardFill's slot-collapse
        // keeps a fixed-width aggregation buffer and plans as a HASH
        // aggregate — max_by over a struct falls back to SortAggregate,
        // whose map-side sort was the query's dominant stage. Packed ≡
        // lexicographic: epoch-day ≥ 0 (TPC-H ship dates start 1992)
        // in the top 15 bits' span, orderkey < 2^45 (6M·SF — safe past
        // sf1000), linenumber ∈ [1,7] in the low 3 bits.
        (datediff(obs, to_date(lit("1970-01-01"))).cast("long") * lit(1L << 48) +
          col("l_orderkey") * lit(8L) + col("l_linenumber")).as("tb"))
    val dates = DimDates.build(spark).where(col("datum") >= fromD && col("datum") <= untilD)
    val days = (if (monthEnd) dates.where(col("datum") === col("last_day_of_month")) else dates)
      .select(col("datum"))
    val filled = ForwardFill.fill(snaps, days, Seq("tb"))
    val cats = Tables.part(spark, sfDir)
      .select(col("p_partkey").as("entity"), col("p_type").as("category"))
    filled.join(broadcast(cats), Seq("entity"))
      .groupBy(col("category"), col("datum"))
      .agg(sum(col("value")).cast("double").as("stock"))
      .orderBy("category", "datum")
  }

  /** S9 (the BI read path, docker-compose.yml:117-125 / SURVEY.md §3.3):
    * the same Q1 metric expressed as SQL TEXT over a registered temp
    * view — proving the `spark.sql` entry surface end-to-end. Any §2.8
    * query can run this way; one is registered as the gate. */
  def sqlCurrentOrdersByStatus(spark: SparkSession, sfDir: String,
                               asOf: String = "2024-01-15 00:00:00"): DataFrame = {
    Warehouse.read(spark, sfDir, "dim_orders").createOrReplaceTempView("dim_orders")
    spark.sql(
      s"""SELECT status, count(1) AS order_count
         |FROM dim_orders
         |WHERE TIMESTAMP '$asOf' >= start_time AND TIMESTAMP '$asOf' < end_time
         |GROUP BY status ORDER BY status""".stripMargin)
  }

  /** Oracle-gated dump of the SCD2-EVENTS output (SURVEY.md §2.6):
    * every dim_orders version row under a total ORDER BY. */
  def dimOrdersScd2(spark: SparkSession, sfDir: String): DataFrame =
    Warehouse.read(spark, sfDir, "dim_orders").select(
      col("order_id"), col("status"),
      date_format(col("start_time"), TsFmt).as("start_time"),
      date_format(col("end_time"), TsFmt).as("end_time"))
    .orderBy("order_id", "start_time", "status")

  /** Oracle-gated dump of the MULTI-BATCH pipeline: two chained
    * SCD2-EVENTS merges over the split corpus stream — proves the
    * cross-batch close/append semantics (not just the single-batch
    * chain of [[dimOrdersScd2]]) against an independent SQL statement. */
  def dimOrdersTwoBatches(spark: SparkSession, sfDir: String): DataFrame =
    Warehouse.read(spark, sfDir, "dim_orders_2b").select(
      col("order_id"), col("status"),
      date_format(col("start_time"), TsFmt).as("start_time"),
      date_format(col("end_time"), TsFmt).as("end_time"))
    .orderBy("order_id", "start_time", "status")

  /** Oracle-gated dump of the chained SCD2-SNAPSHOT output: every
    * dim_products version row under a total ORDER BY. */
  def dimProductsScd2(spark: SparkSession, sfDir: String): DataFrame =
    Warehouse.read(spark, sfDir, "dim_products").select(
      col("id"), col("category"), col("price"),
      date_format(col("start_time"), TsFmt).as("start_time"),
      date_format(col("end_time"), TsFmt).as("end_time"))
    .orderBy("id", "start_time")

  /** Oracle-gated dump of FACT-BUILD (process_orders_sqls.py:135-147):
    * first event per order with the surrogate date key. */
  def factOrdersCreated(spark: SparkSession, sfDir: String): DataFrame =
    Warehouse.read(spark, sfDir, "fact_orders").select(
      col("order_id"), col("created_date_id"),
      date_format(col("created_time"), TsFmt).as("created_time"),
      col("first_status"), col("value"))
    .orderBy("order_id")

  /** Q2 (README.md:46, postgresql.md:112-120): orders created per quarter,
    * two-year window. J1 broadcast equi-join on the computed date key + A2
    * group-count; label `year_quarter` matches the reference's
    * `year || '_' || quarter` concat (postgresql.md:114).
    */
  def ordersPerQuarter(spark: SparkSession, sfDir: String,
                       from: String = "1997-01-01", until: String = "1999-01-01"): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
      .where(col("o_orderdate") >= to_timestamp(lit(from)) &&
             col("o_orderdate") <  to_timestamp(lit(until)))
    val dates = DimDates.build(spark)
    orders.join(broadcast(dates), to_date(col("o_orderdate")) === dates("datum"))
      .groupBy(concat(col("year").cast("string"), lit("_"), col("quarter").cast("string"))
        .as("year_quarter"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("year_quarter")
  }
}
