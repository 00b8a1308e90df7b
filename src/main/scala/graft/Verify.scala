package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver contract: exactly (sfDir, outDir). A third arg is a dev-only
    // comma-separated name-prefix filter (tools/check.py compares only the
    // dumped subset) for fast single-query iteration.
    val (sfDir, outDir) = (args(0), args(1))
    val only: String => Boolean =
      if (args.length > 2) { val ps = args(2).split(","); n => ps.exists(n.startsWith) }
      else _ => true
    val spark = GraftSession.local(sfDir = Some(sfDir))
    new java.io.File(outDir).mkdirs()
    // per-query Spark result schema, dumped alongside the parquet so the
    // dtype-symmetry gate (tools/check.py) can diff it against the DuckDB
    // oracle's column types without re-deriving it from the files — the
    // q300 class of red (HUGEINT oracle vs int64 Spark: values exact,
    // pandas dtype/hash different) is a schema-contract bug, and this
    // makes the contract explicit at dump time.
    val schemas = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.filter(kv => only(kv._1)).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        schemas(name) = df.schema.fields
          .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => only(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val schemaJson = schemas
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/spark_schema.json"), schemaJson)
    spark.stop()
  }
}
