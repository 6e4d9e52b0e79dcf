package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The library jar ships only its driver-facing entry points; probes and
  * one-off measurement drivers are modes of [[Measure]] or live under
  * `src/test` (the recorded-gate drivers in `graft.gates`). */
class EntryPointsSpec extends AnyFunSuite {
  test("the only src/main objects declaring main are Bench, BenchGuard, CatalogGen, Measure and Verify") {
    val objectDecl = """\bobject\s+(\w+)""".r
    val mainDecl = """\bdef\s+main\s*\(""".r
    val sources = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.nonEmpty, "run from the repository root")
    val mains = sources.flatMap { p =>
      val text = Files.readString(p)
      val objects = objectDecl.findAllMatchIn(text).toSeq
      mainDecl.findAllMatchIn(text).map { m =>
        objects.filter(_.start < m.start).last.group(1)
      }
    }
    assert(mains.sorted == Seq("Bench", "BenchGuard", "CatalogGen", "Measure", "Verify"))
  }
}
