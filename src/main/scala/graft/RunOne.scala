package graft

/** Dev utility: run the queries matching a comma-separated list of name
  * prefixes (or `entry`) against a sf dir in ONE JVM, on Bench's session
  * and warm-up; print each query's timing, rows and optionally its
  * formatted physical plan.
  *
  *   sbt "runMain graft.RunOne q34_similar_pairs /root/testdata/sf0.1 explain"
  *   sbt "runMain graft.RunOne q40,q154,q234 <testdata>/sf0.1"
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val prefixes = args(0).split(",")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val showPlan = args.contains("explain")
    val names = prefixes.filter(_ == "entry").toSeq ++
      SparkEntry.queries.keys.toSeq.sorted.filter(n => prefixes.exists(n.startsWith))
    require(names.nonEmpty, s"no query matches ${args(0)}")
    val spark = GraftSession.local(sfDir = Some(sfDir))
    GraftSession.warmUp(spark, sfDir)
    names.foreach { name =>
      try {
        // the timer wraps closure construction + noop save: several queries
        // do eager construction-time work (ML fits, quantile jobs, file writes)
        // inside the closure, which a count()-only timer would miss entirely
        val t0 = System.nanoTime()
        val df = if (name == "entry") SparkEntry.entry(spark)
                 else SparkEntry.queries(name)(spark, sfDir)
        // noop sink like Bench: a count() here would let Catalyst prune the
        // expensive expressions out of aggregate-only queries
        df.write.mode("overwrite").format("noop").save()
        val secs = (System.nanoTime() - t0) / 1e9
        val n = df.count()
        if (showPlan) df.explain("formatted")
        df.show(20, truncate = false)
        println(f"[runone] $name rows=$n time=$secs%.3fs sf=$sfDir")
      } catch { // NonFatal only: an OOM/linkage error must kill the run,
        // not produce misleading timings from a corrupted JVM
        case scala.util.control.NonFatal(e) =>
          println(s"[runone] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      // isolate queries from each other, like Bench
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
