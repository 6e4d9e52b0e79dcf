package graft.warehouse

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Artifacts are read by name (`Warehouse.read`, a build's `in`),
  * so a misspelled name compiles. This spec takes the place of the
  * compiler: every name literal a library read passes must be declared in
  * [[Warehouse.registry]]. Needs no Spark session. */
class WarehouseReadNamesSpec extends AnyFunSuite {
  test("every artifact name src/main passes to read(...) or in(...) is declared") {
    // read(<session>, <corpus dir>, "<name>"), through any alias of
    // Warehouse; in("<name>") inside a registry row
    val readName = """\bread\(\s*[\w.]+\s*,\s*[\w.]+\s*,\s*"([^"]*)"""".r
    val inName = """\bin\(\s*"([^"]*)"\s*\)""".r
    val sources = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.nonEmpty, "run from the repository root")
    val sites = sources.flatMap { p =>
      val text = Files.readString(p)
      (readName.findAllMatchIn(text) ++ inName.findAllMatchIn(text))
        .map(m => (p.getFileName.toString, m.group(1))).toSeq
    }
    // not vacuous: the query registry alone reads well over 100 times
    assert(sites.size > 100, s"only ${sites.size} name sites found")
    val declared = Warehouse.registry.map(_.name).toSet
    val undeclared = sites.filterNot { case (_, n) => declared(n) }
    assert(undeclared.isEmpty, s"undeclared warehouse artifacts: ${undeclared.mkString(", ")}")
  }

  test("read of an undeclared name throws IllegalArgumentException naming it") {
    val e = intercept[IllegalArgumentException](Warehouse.read(null, "unused", "dim_orderz"))
    assert(e.getMessage.contains("dim_orderz"))
  }
}
