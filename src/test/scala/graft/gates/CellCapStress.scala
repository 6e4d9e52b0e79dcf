package graft.gates

import org.apache.spark.sql.functions._

import graft.{Graft, Measure}
import graft.vector.Similarity

/** Stress the LIFTED IVF cell cap (r14 verdict task 4): a synthetic
  * codebook at [[graft.warehouse.Warehouse.IvfCellCap]] = 65536 cells
  * (the scale the r14 cap lift claims but never measured), reporting
  *
  *  1. `collectCodebook` wall time + retained driver heap for the
  *     cents array (the ~33 MB driver-pull claim),
  *  2. `trainSuperCells` derivation time (the O(ncells·√ncells) driver
  *     flops claim — this is supersFor's fallback path when the landed
  *     artifacts are absent),
  *  3. two-level PLAN construction time + literal footprint (the
  *     √ncells super scoring array is plan-embedded; the member-cell
  *     side must stay a broadcast JOIN, never a literal), and
  *  4. an executed end-to-end two-level assignment of a small batch
  *     under the cap-sized codebook (correct cell count, sane wall).
  *
  * Usage: `sbt "Test/runMain graft.gates.CellCapStress [ncells] [dim] [nvecs]"`
  * (defaults 65536, 64, 20000). Deterministic synthetic data
  * (hash-derived), no corpus needed. Results pinned in BASELINE.md
  * §"65536-cell cap". */
object CellCapStress {
  private def h(i: Long): Long = {
    var x = i * 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  private def vec(seed: Long, dim: Int): Seq[Double] =
    (0 until dim).map(d => (h(seed * 1024 + d) % 2001).toDouble / 1000.0)

  def main(args: Array[String]): Unit = {
    val ncells = if (args.length > 0) args(0).toInt else 65536
    val dim = if (args.length > 1) args(1).toInt else 64
    val nvecs = if (args.length > 2) args(2).toInt else 20000
    val spark = Graft.localSession()
    import spark.implicits._

    def heapUsed(): Long = {
      System.gc(); Thread.sleep(200)
      Runtime.getRuntime.totalMemory() - Runtime.getRuntime.freeMemory()
    }

    // synthetic codebook parquet-shaped DF (cid, cv, cnrm)
    val codebook = spark.range(ncells).select(col("id").as("cid"))
      .as[Long].map { cid =>
        val v = vec(cid, dim)
        (cid, v, math.sqrt(v.map(x => x * x).sum))
      }.toDF("cid", "cv", "cnrm").persist()
    codebook.count()

    // 1. collectCodebook: wall + retained heap
    val h0 = heapUsed()
    val (cents, collectSec) = Measure.timed(Similarity.collectCodebook(codebook))
    val h1 = heapUsed()
    println(f"[capstress] collectCodebook: $ncells cells in $collectSec%.2f s, " +
      f"retained ~${(h1 - h0) / 1024 / 1024} MB driver heap")

    // 2. driver-side super derivation (supersFor's artifact-less path)
    val ((supers, cellToSuper), trainSec) = Measure.timed(Similarity.trainSuperCells(cents.toSeq))
    println(f"[capstress] trainSuperCells: ${supers.length} supers over $ncells " +
      f"cells in $trainSec%.2f s (single-threaded driver)")
    require(supers.length == math.round(math.sqrt(ncells.toDouble)).toInt,
      "nsuper must be sqrt(ncells)")
    require(cellToSuper.size == ncells, "every cell must map to a super")

    // 3+4. two-level plan + executed assignment of a synthetic batch
    val (sc, mp) = Similarity.superCellTables(spark, supers, cellToSuper)
    val batch = spark.range(nvecs).select(col("id").as("vec_id"))
      .as[Long].map { i =>
        (i, vec(-i - 1, dim).map(_.toFloat).toArray, (i % 10).toInt)
      }.toDF("vec_id", "embedding", "label")
    val ((assigned, planStr), planSec) = Measure.timed {
      val assigned = Similarity.cellAssignmentsTwoLevel(batch, codebook, sc, mp)
      (assigned, assigned.queryExecution.executedPlan.toString)
    }
    println(f"[capstress] two-level plan built in $planSec%.2f s, " +
      f"plan string ${planStr.length / 1024} KB " +
      f"(flat plan would embed all $ncells centroids as literals)")
    val ((n, distinctCells), execSec) =
      Measure.timed((assigned.count(), assigned.select("cell").distinct().count()))
    println(f"[capstress] executed: $n assignments over $distinctCells distinct " +
      f"cells in $execSec%.2f s ($nvecs vecs x " +
      f"~${supers.length + Similarity.SuperProbe * ncells / supers.length} dots/vec " +
      f"vs $ncells flat)")
    require(n == nvecs, "every vector must get exactly one rn=1 cell")
    println(s"CELL-CAP STRESS OK at ncells=$ncells")
    spark.stop()
  }
}
