package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[Tables.parquet]] is the one parquet read: it takes the schema from
  * one footer on the driver, where a plain `spark.read.parquet` launches a
  * schema-inference job. A read that bypasses it compiles and works, only
  * slower, so this spec fails on any other parquet read in `src/main`.
  * Needs no Spark session. */
class ParquetReadsSpec extends AnyFunSuite {
  test("every parquet read in src/main goes through Tables.parquet") {
    // read / readStream, any chain of .option(...)-style calls, then
    // .parquet( or .load( after format("parquet")
    val read = """\bread(?:Stream)?((?:\s*\.\s*\w+\s*\((?:[^()]|\([^()]*\))*\))*)\s*\.\s*(parquet|load)\s*\(""".r
    def bypasses(code: String) = read.findAllMatchIn(code)
      .filter(m => m.group(2) == "parquet" || m.group(1).contains("\"parquet\""))
    Seq("spark.read.parquet(p)", "spark.read.option(\"basePath\", p).parquet(p)",
      "spark.read\n  .format(\"parquet\").load(p)")
      .foreach(bypass => assert(bypasses(bypass).nonEmpty, bypass))
    val helperCall = """(?<![\w.])parquet\(|\bTables\.parquet\(""".r
    val sources = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.nonEmpty, "run from the repository root")
    val code = sources.map { p =>
      val text = Catalog.stripComments(Files.readString(p))
      // the helper's own body is the one place a plain read may appear
      val own = if (p.getFileName.toString != "Tables.scala") text else {
        val s = text.indexOf("def parquet(")
        assert(s >= 0, "Tables.parquet is gone")
        text.substring(0, s) + text.substring(text.indexOf("\n  def ", s))
      }
      p.getFileName.toString -> own
    }
    val found = code.flatMap { case (f, text) => bypasses(text).map(m => s"$f: ${m.matched.take(80)}") }
    assert(found.isEmpty, s"parquet reads outside Tables.parquet:\n${found.mkString("\n")}")
    // not vacuous: the warehouse, corpus, stream-state and pass-file
    // reads all route through the helper
    val sites = code.map { case (_, text) => helperCall.findAllMatchIn(text).size }.sum
    assert(sites >= 20, s"only $sites Tables.parquet call sites found")
  }
}
