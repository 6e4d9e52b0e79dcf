package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet corpus (TESTDATA.md).
  *
  * Every query receives `sfDir` (e.g. /root/testdata/sf0.01) and reads only
  * the tables it needs — Spark's parquet source then gets column pruning and
  * predicate pushdown for free, which is the behavior we want at 100 TB:
  * never materialize a table wider or earlier than the plan demands.
  */
object Tables {
  /** The one parquet read in graft. A plain `spark.read.parquet` infers
    * the schema with a Spark job that reads one footer on an executor
    * (`ParquetUtils.inferSchema` with schema merging off: the first data
    * file by full path). This reads that same footer on the driver and
    * converts it under the session's conf at call time, so the read
    * launches no job. With no data file, or with schema merging on, it is
    * a plain read and keeps Spark's own behavior and errors. */
  def parquet(spark: SparkSession, paths: String*): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    // The entries Spark reads data from: files and `col=value` partition
    // dirs, skipping hidden and committer names (`_SUCCESS`, `.crc`).
    def holdsData(f: FileStatus): Boolean = {
      val n = f.getPath.getName
      !(n.startsWith(".") || n.startsWith("_") && !n.contains("=")) &&
        (!f.isDirectory || n.contains("="))
    }
    // Sorting a dir's entries by name, with "/" after a subdir's, puts
    // their leaves in full-path order, so this lists only the dirs on
    // the way to the first leaf (and any empty ones before it).
    def firstLeaf(f: FileStatus): Option[FileStatus] =
      if (!f.isDirectory) Some(f)
      else f.getPath.getFileSystem(conf).listStatus(f.getPath).filter(holdsData)
        .sortBy(c => c.getPath.getName + (if (c.isDirectory) "/" else ""))
        .iterator.flatMap(firstLeaf).nextOption()
    val first = paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      if (fs.exists(path)) firstLeaf(fs.getFileStatus(fs.makeQualified(path))) else None
    }.minByOption(_.getPath.toString)
    first match {
      case Some(f) if !spark.sessionState.conf.isParquetSchemaMergingEnabled =>
        val footer = new Footer(f.getPath,
          ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf), SKIP_ROW_GROUPS))
        spark.read.schema(ParquetFileFormat.readSchemaFromFooter(footer,
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))).parquet(paths: _*)
      case _ => spark.read.parquet(paths: _*)
    }
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** events.parquet's `ts` physical type has changed across corpus
    * generations (TIMESTAMP(NANOS) read as INT64 under `nanosAsLong`;
    * later regenerations store TIMESTAMP(MICROS), which Spark reads as
    * TIMESTAMP_NTZ). Dispatch on the OBSERVED dtype so one upstream
    * re-type never takes out every event-reading query again:
    *  - INT64 nanos → floor-divide to micros (how DuckDB coerces ns→µs,
    *    so oracle timestamps agree);
    *  - TIMESTAMP / TIMESTAMP_NTZ → plain cast (session tz is UTC, so
    *    the NTZ local value and DuckDB's naive read denote the same
    *    instant). */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => df
      case _ => // TIMESTAMP_NTZ (or a future string/date drift)
        df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
