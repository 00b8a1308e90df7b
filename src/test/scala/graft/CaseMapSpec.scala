package graft

import graft.functions.CaseMap
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}

/** graft.functions.CaseMap against Spark's own `lower`/`upper` under the
  * default conf (ICU case mappings on, UTF8_BINARY): exact byte equality on
  * boundary cases and random Unicode, through both the codegen and the
  * interpreted path. A Spark upgrade that changes the default case-mapping
  * path fails here. */
class CaseMapSpec extends SparkSpec {

  private def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")

  /** Boundary inputs as raw bytes (cast to string below, so invalid UTF-8
    * reaches both implementations unvalidated). */
  private val boundary: Seq[Array[Byte]] = Seq(
    "", "hello WORLD 123 !?", "ALL ASCII\tTAB\nNL",
    "ΟΔΟΣ", "ὈΔΥΣΣΕΎΣ", "σς Σ", // Greek, final sigma in context
    "İstanbul", "ıI", "DİYARBAKIR", // Turkish dotted/dotless i
    "straße", "ß", "ﬁ ﬂ", // ß upper-cases to "SS", ligatures expand
    "東京タワー", "中文 English", "한국어",
    "𐐀𐐨", "𝔄𝔅 😀", // Deseret case pair, math letters, emoji
    "ǅǈǋ", "Ω K Å", // title-case digraphs; Ohm, Kelvin, Angstrom signs
    "İİ").map(utf8) ++ Seq(
    Array[Byte](0x41, 0x80.toByte, 0x62),                 // stray continuation byte
    Array[Byte](0xC3.toByte, 0x41),                       // truncated 2-byte sequence
    Array[Byte](0xED.toByte, 0xA0.toByte, 0x80.toByte),   // encoded surrogate
    Array[Byte](0xF0.toByte, 0x9F.toByte, 0x98.toByte),   // truncated 4-byte sequence
    Array[Byte](0xFF.toByte, 0xFE.toByte, 0x5A),
    Array[Byte](0xC0.toByte, 0xAF.toByte, 0x61))          // overlong encoding

  /** Random strings: mostly valid code points from every plane (surrogates
    * excluded), plus random byte soup for the invalid-UTF-8 path. */
  private def random(n: Int, seed: Long): Seq[Array[Byte]] = {
    val rnd = new scala.util.Random(seed)
    def codePoint(): Int = rnd.nextInt(6) match {
      case 0 => rnd.nextInt(0x80)                     // ASCII
      case 1 => 0x80 + rnd.nextInt(0x800 - 0x80)      // 2-byte: Latin, Greek, Cyrillic
      case 2 => 0x800 + rnd.nextInt(0xD800 - 0x800)   // 3-byte below surrogates
      case 3 => 0xE000 + rnd.nextInt(0x10000 - 0xE000)
      case 4 => 0x10000 + rnd.nextInt(0x110000 - 0x10000)
      case _ => "AaİıΣσςßǅ".codePointAt(rnd.nextInt(9))
    }
    Seq.fill(n) {
      if (rnd.nextInt(10) == 0) Array.fill(rnd.nextInt(12))(rnd.nextInt(256).toByte)
      else {
        val sb = new java.lang.StringBuilder
        (0 until rnd.nextInt(16)).foreach(_ => sb.appendCodePoint(codePoint()))
        utf8(sb.toString)
      }
    }
  }

  private def frame(bytes: Seq[Array[Byte]]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize((bytes.map(Row(_)) :+ Row(null)), 4),
      StructType(Seq(StructField("b", BinaryType))))
      .select(col("b").cast("string").as("s"))

  /** Rows where the kernel and Spark's lower/upper disagree (as bytes). */
  private def mismatches(df: DataFrame): Array[Row] =
    df.select(col("s"),
        CaseMap.lower(col("s")).as("gl"), lower(col("s")).as("sl"),
        CaseMap.upper(col("s")).as("gu"), upper(col("s")).as("su"))
      .filter(!(col("gl") <=> col("sl")) || !(col("gu") <=> col("su")))
      .collect()

  private def bothPaths(body: => Unit): Unit = {
    body // codegen (default)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try body finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("boundary cases: byte-identical to Spark lower/upper, null in -> null out") {
    // the default the kernel restates: ICU case mappings on
    assert(spark.conf.get("spark.sql.icu.caseMappings.enabled") == "true")
    bothPaths {
      val bad = mismatches(frame(boundary))
      assert(bad.isEmpty, s"kernel disagrees with Spark on: ${bad.mkString("; ")}")
      val r = frame(Seq(utf8("ß"), utf8("İ"))).select(
        CaseMap.upper(col("s")), CaseMap.lower(col("s"))).collect()
      assert(r(0).getString(0) == "SS")
      assert(r(1).getString(1) == "i̇")
      assert(r(2).isNullAt(0) && r(2).isNullAt(1))
    }
  }

  test("random Unicode and invalid UTF-8: byte-identical to Spark lower/upper") {
    bothPaths {
      val bad = mismatches(frame(random(4000, seed = 42L)))
      assert(bad.isEmpty, s"${bad.length} mismatches, e.g. ${bad.take(3).mkString("; ")}")
    }
  }
}
