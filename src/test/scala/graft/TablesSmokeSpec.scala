package graft

import java.nio.file.{Files, Paths, Path => JPath}
import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
import org.apache.spark.sql.types.TimestampType

import graft.warehouse.Warehouse

/** Ingest smoke-gate against the LIVE corpus: every `Tables.*` loader
  * must ANALYZE (not execute) against /root/testdata as it exists right
  * now. In r7 the driver regenerated the corpus mid-round and re-typed
  * events.ts (TIMESTAMP_NANOS→MICROS); the loader's shim failed analysis
  * and 39 queries died with opaque per-query errors. This spec makes the
  * next source-schema drift fail in ONE named test per table instead.
  *
  * `.schema` forces full analysis of the loader's projection; touching
  * one column per table additionally pins the columns every downstream
  * query assumes.
  *
  * [[Tables.parquet]] reads the schema Spark would infer, without the
  * job Spark's inference launches: over the corpus and every artifact of
  * its landed warehouse cache, its schema equals
  * `spark.read.parquet(p).schema` (names, order, types, nullability and
  * metadata), and the call launches no job. */
class TablesSmokeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private val expectedColumn = Map[String, String](
    "region" -> "r_regionkey", "nation" -> "n_nationkey",
    "customer" -> "c_custkey", "supplier" -> "s_suppkey",
    "part" -> "p_partkey", "orders" -> "o_orderkey",
    "lineitem" -> "l_orderkey", "events" -> "ts",
    "documents" -> "doc_id", "embeddings" -> "vec_id")

  private val loaders = Map[String, () => org.apache.spark.sql.DataFrame](
    "region" -> (() => Tables.region(spark, sfDir)),
    "nation" -> (() => Tables.nation(spark, sfDir)),
    "customer" -> (() => Tables.customer(spark, sfDir)),
    "supplier" -> (() => Tables.supplier(spark, sfDir)),
    "part" -> (() => Tables.part(spark, sfDir)),
    "orders" -> (() => Tables.orders(spark, sfDir)),
    "lineitem" -> (() => Tables.lineitem(spark, sfDir)),
    "events" -> (() => Tables.events(spark, sfDir)),
    "documents" -> (() => Tables.documents(spark, sfDir)),
    "embeddings" -> (() => Tables.embeddings(spark, sfDir)))

  for ((name, load) <- loaders.toSeq.sortBy(_._1)) {
    test(s"$name loader analyzes against the live corpus") {
      val schema = load().schema // throws here on drift, naming the table
      assert(schema.fieldNames.contains(expectedColumn(name)),
        s"$name lost expected column '${expectedColumn(name)}': " +
          schema.fieldNames.mkString(", "))
    }
  }

  test("events.ts normalizes to a session-zoned timestamp for ANY corpus generation") {
    val dt = Tables.events(spark, sfDir).schema("ts").dataType
    assert(dt == TimestampType,
      s"events.ts must land as TIMESTAMP (session UTC), got $dt")
  }

  private def assertParity(paths: Seq[String]): Unit = {
    assert(paths.nonEmpty)
    paths.foreach { p =>
      val (df, n) = jobs(Tables.parquet(spark, p))
      assert(n == 0, s"$p: Tables.parquet launched $n jobs")
      assert(df.schema == spark.read.parquet(p).schema, p)
    }
  }

  test("corpus tables: the inferred schema with no job") {
    val p = s"$sfDir/documents.parquet"
    // the cost removed: a plain read infers its schema with a job
    assert(jobs(spark.read.parquet(p))._2 == 1)
    assertParity(loaders.keys.toSeq.sorted.map(t => s"$sfDir/$t.parquet"))
    // events under both readings of INT64 nanos: the converter takes the
    // conf at call time
    val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
    val was = spark.conf.get(nanosAsLong, "false")
    try Seq("true", "false").foreach { v =>
      spark.conf.set(nanosAsLong, v)
      assertParity(Seq(s"$sfDir/events.parquet"))
    } finally spark.conf.set(nanosAsLong, was)
    loaders.foreach { case (name, load) => assert(jobs(load())._2 == 0, name) }
  }

  test("every artifact of a landed cache, the partitioned one and the _b1 batches included") {
    val dir = Warehouse.ensureMaterialized(spark, sfDir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val landed = fs.listStatus(new Path(dir)).filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).sorted.toSeq
    assert(Warehouse.registry.map(_.name).toSet.subsetOf(landed.toSet))
    assert(landed.exists(_.endsWith("_b1")) && landed.contains("events_by_day"))
    assertParity(landed.map(n => s"$dir/$n"))
    assert(Tables.parquet(spark, s"$dir/events_by_day").schema.fieldNames.last == "day")
  }

  test("pass files read as one table, and a missing path keeps Spark's error") {
    val dir = Files.createTempDirectory("graft-tables-parquet")
    try {
      Seq(0, 1).foreach { p =>
        spark.range(p * 10, p * 10 + 5).selectExpr("id AS doc_a", "id * 2 AS doc_b")
          .write.parquet(s"$dir/pass=$p")
      }
      val passes = Seq(0, 1).map(p => s"$dir/pass=$p")
      val (df, n) = jobs(Tables.parquet(spark, passes: _*))
      assert(n == 0 && df.schema == spark.read.parquet(passes: _*).schema && df.count() == 10)
      val missing = s"$dir/absent"
      val plain = intercept[Exception](spark.read.parquet(missing))
      val helper = intercept[Exception](Tables.parquet(spark, missing))
      assert(helper.getClass == plain.getClass && helper.getMessage == plain.getMessage)
    } finally deleteTree(dir)
  }

  test("the footer read is the one Spark's inference picks: the first data file by full path") {
    val dir = Files.createTempDirectory("graft-tables-first")
    try {
      val t = s"$dir/t"
      // by name `k=x` sorts before `k=x-y`, by full path `k=x-y/…`
      // before `k=x/…`; an empty partition dir and a hidden one come first
      spark.range(3).selectExpr("id AS a").write.parquet(s"$t/k=x")
      spark.range(3).selectExpr("id AS a", "'s' AS b").write.parquet(s"$t/k=x-y")
      spark.range(3).selectExpr("id AS a", "1.0 AS c").write.parquet(s"$t/_hidden")
      Files.createDirectories(Paths.get(s"$t/k=0"))
      val (df, n) = jobs(Tables.parquet(spark, t))
      assert(n == 0)
      assert(df.schema == spark.read.parquet(t).schema)
      assert(df.schema.fieldNames.toSeq == Seq("a", "b", "k"))
      // a plain subdir holds no data Spark reads when it sits beside no
      // partition dirs: both reads find no file
      spark.range(3).selectExpr("id AS a").write.parquet(s"$dir/plain/sub")
      val plain = intercept[Exception](spark.read.parquet(s"$dir/plain"))
      val helper = intercept[Exception](Tables.parquet(spark, s"$dir/plain"))
      assert(helper.getMessage == plain.getMessage)
    } finally deleteTree(dir)
  }

  test("an events table regenerated in place is re-read under its new ts type") {
    val sf = Files.createTempDirectory("graft-events-regen")
    val events = s"$sf/events.parquet"
    val micros = Seq(1L -> 1704067200000000L, 2L -> 1717243323456789L, 3L -> 1735689599999999L)
    def instants = Tables.events(spark, sf.toString).orderBy("event_id").collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Timestamp]("ts").toInstant).toSeq
    try {
      // an older generation: ts as INT64 TIMESTAMP(NANOS), which Spark
      // reads as a long under nanosAsLong
      val nanos = Types.buildMessage()
        .required(INT64).named("event_id")
        .required(INT64).as(LogicalTypeAnnotation.timestampType(true,
          LogicalTypeAnnotation.TimeUnit.NANOS)).named("ts")
        .named("events")
      val w = ExampleParquetWriter.builder(new Path(s"$events/part-00000.parquet"))
        .withType(nanos).withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
      val rows = new SimpleGroupFactory(nanos)
      try micros.foreach { case (id, us) =>
        w.write(rows.newGroup().append("event_id", id).append("ts", us * 1000L))
      } finally w.close()
      val before = instants
      assert(Tables.events(spark, sf.toString).schema("ts").dataType == TimestampType)

      // regenerated in place by Spark as TIMESTAMP
      import spark.implicits._
      micros.toDF("event_id", "us").selectExpr("event_id", "timestamp_micros(us) AS ts")
        .write.mode("overwrite").parquet(events)
      assert(spark.read.parquet(events).schema("ts").dataType == TimestampType)
      assert(Tables.events(spark, sf.toString).schema("ts").dataType == TimestampType)
      assert(instants == before)
      assert(before.map(_._2) == micros.map { case (_, us) =>
        java.time.Instant.EPOCH.plusNanos(us * 1000L) })
    } finally deleteTree(sf)
  }

  private def deleteTree(p: JPath): Unit = {
    val fs = new Path(p.toString).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(p.toString), true)
  }
}
