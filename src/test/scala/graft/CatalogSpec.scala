package graft

import org.scalatest.funsuite.AnyFunSuite

/** The catalog's drift gates (the WarehouseMaintenanceSpec pattern
  * applied to documentation): the scale classification must stay TOTAL
  * over the registry, and the checked-in CATALOG.md must byte-match the
  * generator — a new query, a de-registered query, or a hand edit to
  * the doc all fail here with the offending names. */
class CatalogSpec extends AnyFunSuite {

  test("every registry entry has a scale class; no stale classifications") {
    val queries = SparkEntry.queries.keySet
    val classified = Catalog.ScaleClass.keySet
    val missing = queries -- classified
    val stale = classified -- queries
    assert(missing.isEmpty,
      s"queries without a scale class (declare their 100 TB cost model in " +
        s"Catalog.ScaleClass): ${missing.toSeq.sorted.mkString(", ")}")
    assert(stale.isEmpty,
      s"scale classes for de-registered queries: ${stale.toSeq.sorted.mkString(", ")}")
    // every class key used must be defined (typo guard)
    val undefined = Catalog.ScaleClass.values.toSet -- Catalog.ClassDefs.map(_._1).toSet
    assert(undefined.isEmpty, s"undefined scale classes: ${undefined.mkString(", ")}")
  }

  test("a comment introducing the next entry adds no ref to the previous row") {
    val src =
      """  "qa" -> ((s, d) => Tables.documents(s, d)),
        |  // qb reads Warehouse.read(s, d, "knn_exact") through Bpe.encode
        |  /* and TextDedup.shingled */
        |  "qb" -> ((s, d) => Tables.events(s, d).where("url = 'http://x'")),
        |""".stripMargin
    val refs = Catalog.codeRefs(src, Seq("qa", "qb"),
      Set("Tables", "Warehouse", "Bpe", "TextDedup"))
    assert(refs == Map("qa" -> Seq("Tables.documents"), "qb" -> Seq("Tables.events")))
  }

  test("CATALOG.md matches the generator (regenerate with runMain graft.CatalogGen)") {
    val path = java.nio.file.Paths.get("CATALOG.md")
    assert(java.nio.file.Files.exists(path), "CATALOG.md missing — run CatalogGen")
    val onDisk = java.nio.file.Files.readString(path)
    assert(onDisk == Catalog.render(),
      "CATALOG.md is stale — regenerate with `sbt \"runMain graft.CatalogGen\"`")
  }
}
