package graft

/** Every graft main builds its session through [[GraftSession.local]], so
  * Bench, Verify and RunOne run on one fixed set of SQL confs; and a call
  * that would reuse a live context at another width is refused before it
  * can touch that context's confs. */
class GraftSessionSpec extends SparkSpec {

  test("local applies one fixed set of SQL confs, varying only in width") {
    assert(GraftSession.sqlConfs(8) == Seq(
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.files.openCostInBytes" -> "262144",
      "spark.sql.session.timeZone" -> "UTC"))
    assert(GraftSession.sqlConfs(32).map(_._1) ==
      GraftSession.sqlConfs(4).map(_._1))
  }

  test("local refuses a live context at another master and leaves its " +
    "confs untouched") {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.files.openCostInBytes")
    def confs = keys.map(k => spark.conf.getOption(k))
    val before = confs
    assert(spark.sparkContext.master == "local[4]")
    val e = intercept[IllegalArgumentException](GraftSession.local(8))
    assert(e.getMessage.contains("local[4]"))
    assert(confs == before)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }
}
