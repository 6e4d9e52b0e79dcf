package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * fails is named in errors.json beside the dumps and in the one summary
  * line on stdout; the exit code stays 0, so the compare still reports
  * every query that did dump. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names — dump only those
    // (scale spot-checks on big local corpora; the driver passes 2 args
    // and gets the full registry as before)
    val only = args.lift(2).map(_.split(",").toSet)
    val spark = Graft.localSession()
    val queries = SparkEntry.queries.toSeq.filter { case (name, _) => only.forall(_.contains(name)) }
    val errors = dump(spark, sfDir, outDir, queries)
    // Expose the materialized warehouse (codebooks, merge rules) to the
    // path-reading oracles BEFORE dumping the SQL: oracleSql substitutes
    // the absolute dir at call time. The queries above already built it
    // (memoized), so this is a cache hit.
    try {
      val wh = graft.warehouse.Warehouse.ensureMaterialized(spark, sfDir)
      System.setProperty("graft.oracle.whdir", new java.io.File(wh).getAbsolutePath)
    } catch { case e: Throwable =>
      System.err.println(s"[verify] warehouse materialization failed: ${e.getMessage}")
    }
    def q(s: String): String = Json.quote(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    println(summary(queries.size, errors))
    spark.stop()
  }

  /** Writes each query's result to `outDir/<name>` as parquet, releasing
    * graft's leases and the session cache before each, and writes
    * `outDir/errors.json` (query → message) for those that threw. Returns
    * that map; it is empty when every query dumped. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           queries: Seq[(String, (SparkSession, String) => DataFrame)]): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val errors = queries.flatMap { case (name, fn) =>
      try {
        Graft.releaseLeases(); spark.catalog.clearCache() // free operator-persisted intermediates
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        Some(name -> Option(e.getMessage).getOrElse(e.getClass.getName))
      }
    }
    Files.writeString(Paths.get(s"$outDir/errors.json"), errors
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }.mkString("{", ",", "}"))
    errors.toMap
  }

  /** Names listed in the summary line before the rest are only counted. */
  val SummaryNames = 5

  /** The one-line outcome: counts plus the first few failed names, each
    * cut to 60 chars, so the line stays under ~450 chars whatever fails. */
  def summary(attempted: Int, errors: Map[String, String]): String = {
    val failed = errors.keys.toSeq.sorted
    val named = failed.take(SummaryNames).map(_.take(60)).mkString(", ")
    val more = if (failed.size > SummaryNames) s" and ${failed.size - SummaryNames} more" else ""
    val detail = if (failed.isEmpty) "" else s": $named$more (messages in errors.json)"
    s"[verify] ${attempted - failed.size}/$attempted queries dumped, ${failed.size} failed$detail"
  }
}
