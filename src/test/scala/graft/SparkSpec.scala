package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared ScalaTest base: the production [[Graft.session]] config on
  * local[4] with small shuffle parallelism (tests are tiny; 4 partitions
  * keeps plans readable), plus a test-only warehouse dir.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    // a static conf: the first session's SparkConf reads it from the
    // spark.* system properties
    sys.props.getOrElseUpdate("spark.sql.warehouse.dir",
      s"${System.getProperty("java.io.tmpdir")}/graft-test-warehouse")
    Graft.session(master = "local[4]", shufflePartitions = 4, appName = getClass.getSimpleName)
  }

  override def afterAll(): Unit = {
    // Session is shared across suites in one JVM (sbt forks once); don't stop.
    super.afterAll()
  }

  /** `body`'s result and the number of jobs launched while it ran. */
  def jobs[T](body: => T): (T, Int) = {
    val l = Measure.listener(spark)
    l.fence(spark)
    val r = body
    (r, l.fence(spark).jobs)
  }

  /** Collect to a sorted Seq of plain tuples-as-strings for order-free compare. */
  def rowsOf(df: DataFrame): Seq[Seq[String]] =
    df.collect().toSeq.map(r => (0 until r.length).map(i => String.valueOf(r.get(i))))
      .sortBy(_.mkString(""))

  def assertSameRows(actual: DataFrame, expected: Seq[Seq[String]]): Unit = {
    val a = rowsOf(actual)
    val e = expected.map(_.map(String.valueOf(_))).sortBy(_.mkString(""))
    assert(a == e, s"\nactual:\n${a.mkString("\n")}\nexpected:\n${e.mkString("\n")}")
  }
}
