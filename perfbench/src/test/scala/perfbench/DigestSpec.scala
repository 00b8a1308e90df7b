package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The output digest the benchmark checks every query's result with. */
class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def digest(sql: String): (Long, String) =
    Main.sinkObserved(spark.sql(sql))

  test("digest ignores row order and partitioning") {
    val a = digest("SELECT * FROM VALUES (1, 'a'), (2, 'b'), (3, 'c') AS t(k, v)")
    val b = digest("SELECT * FROM VALUES (3, 'c'), (1, 'a'), (2, 'b') AS t(k, v)")
    val c = Main.sinkObserved(spark.sql(
      "SELECT * FROM VALUES (3, 'c'), (1, 'a'), (2, 'b') AS t(k, v)").repartition(3))
    assert(a == b && b == c)
    assert(a._1 == 3L)
  }

  test("digest sees values, duplicates and column order") {
    val base = digest("SELECT * FROM VALUES (1, 'a'), (2, 'b') AS t(k, v)")
    assert(digest("SELECT * FROM VALUES (1, 'a'), (2, 'x') AS t(k, v)") != base)
    assert(digest("SELECT * FROM VALUES (1, 'a'), (2, 'b'), (2, 'b') AS t(k, v)")._2 !=
      base._2)
    assert(digest("SELECT v, k FROM VALUES (1, 'a'), (2, 'b') AS t(k, v)") != base)
  }

  test("digest handles maps, duplicate names and empty results") {
    val m = digest("SELECT map('x', 1) AS m, 1 AS k, 2 AS k")
    assert(m._1 == 1L && m._2 != "0")
    assert(m == digest("SELECT map('x', 1) AS m, 1 AS k, 2 AS k"))
    assert(digest("SELECT 1 AS k WHERE false") == ((0L, "0")))
  }
}
