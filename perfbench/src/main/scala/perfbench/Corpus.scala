package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic inputs for the benchmark's workloads.
  *
  * `cachedQueryTables` writes the ten-table star-schema corpus the registry
  * queries read (FIXTURES.md §B: the same schemas, value universes and row
  * counts per scale factor, one `<table>.parquet` file per table). Its
  * content comes from a FIXED seed, not the run's seed, because the
  * expected row counts and digests of every query are committed with the
  * benchmark. Every random choice is xxhash64 of (row id, salt), so the
  * bytes do not depend on partitioning.
  *
  * `walmartCsv` writes the reference's four Walmart CSV files (FIXTURES.md
  * §A): `stores × 81 depts × 115 weeks` train rows, a "NA"-era features
  * file and a CR-ended `stores.csv`. The run's seed sets the sales noise. */
object Corpus {

  val QuerySeed = 42L

  private def u(id: Column, salt: Int): Column =
    pmod(xxhash64(id, lit(salt), lit(QuerySeed)), lit(1000000007L))
      .cast("double") / 1000000007.0

  private def pick(id: Column, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*),
      (floor(u(id, salt) * values.size) + 1).cast("int"))

  private def between(id: Column, salt: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + u(id, salt) * (hi - lo), 2)

  private def intIn(id: Column, salt: Int, lo: Int, hi: Int): Column =
    (floor(u(id, salt) * (hi - lo + 1)) + lo).cast("int")

  /** Standard normal by Box–Muller from two hashed uniforms. */
  private def gauss(id: Column, salt: Int): Column =
    sqrt(lit(-2.0) * log(greatest(u(id, salt), lit(1e-12)))) *
      cos(lit(2 * math.Pi) * u(id, salt + 1))

  private val vocab = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  /** Row counts per table at scale factor `sf`. */
  def rowCounts(sf: Double): Map[String, Long] = {
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    Map("region" -> 5L, "nation" -> 25L, "customer" -> n(150000),
      "supplier" -> n(10000), "part" -> n(200000), "orders" -> n(1500000),
      "lineitem" -> n(6000000), "events" -> n(1000000),
      "documents" -> math.max(500L, n(50000)),
      "embeddings" -> math.max(500L, n(20000)))
  }

  private def queryTables(spark: SparkSession, dir: Path, sf: Double): Unit = {
    val rows = rowCounts(sf)
    val users = math.max(10L, math.round(15000 * sf))
    def ids(t: String): DataFrame = spark.range(0, rows(t), 1, 4).toDF()
    val id = col("id")
    val day = 86400L * 1000000L
    def tsFrom(date: String, days: Column): Column =
      timestamp_micros(unix_micros(lit(date).cast("timestamp")) +
        days * lit(day)).cast("timestamp_ntz")
    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> ids("region").select(id.cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
          "MIDDLE EAST").map(lit): _*), (id + 1).cast("int")).as("r_name")),
      "nation" -> ids("nation").select(id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id.cast("string")).as("n_name"),
        (id % 5).cast("int").as("n_regionkey")),
      "customer" -> ids("customer").select(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        intIn(id, 1, 0, 24).as("c_nationkey"),
        between(id, 2, -999.99, 9999.99).as("c_acctbal"),
        pick(id, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
          "MACHINERY")).as("c_mktsegment")),
      "supplier" -> ids("supplier").select(id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        intIn(id, 1, 0, 24).as("s_nationkey"),
        between(id, 2, -999.99, 9999.99).as("s_acctbal")),
      "part" -> ids("part").select(id.as("p_partkey"),
        concat_ws(" ", pick(id, 1, Seq("large", "red", "hot", "cold", "old",
          "new", "small", "blue")), pick(id, 2, Seq("anvil", "plate", "gizmo",
          "ring", "widget", "gear", "rod", "bolt"))).as("p_name"),
        concat(lit("Brand#"), intIn(id, 3, 1, 25).cast("string")).as("p_brand"),
        pick(id, 4, Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM",
          "PROMO")).as("p_type"),
        intIn(id, 5, 1, 50).as("p_size"),
        round(lit(900.0) + (id % 1000) / 10.0, 1).as("p_retailprice")),
      "orders" -> ids("orders").select(id.as("o_orderkey"),
        floor(u(id, 1) * rows("customer")).cast("long").as("o_custkey"),
        pick(id, 2, Seq("F", "O", "P")).as("o_orderstatus"),
        between(id, 3, 1000.0, 500000.0).as("o_totalprice"),
        tsFrom("1995-01-01", intIn(id, 4, 0, 2403).cast("long")).as("o_orderdate"),
        pick(id, 5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
          "5-LOW")).as("o_orderpriority")),
      "lineitem" -> ids("lineitem").select(
        floor(u(id, 1) * rows("orders")).cast("long").as("l_orderkey"),
        floor(u(id, 2) * rows("part")).cast("long").as("l_partkey"),
        floor(u(id, 3) * rows("supplier")).cast("long").as("l_suppkey"),
        intIn(id, 4, 1, 7).as("l_linenumber"),
        intIn(id, 5, 1, 50).cast("double").as("l_quantity"),
        between(id, 6, 900.0, 105000.0).as("l_extendedprice"),
        round(u(id, 7) * 0.1, 2).as("l_discount"),
        round(u(id, 8) * 0.08, 2).as("l_tax"),
        pick(id, 9, Seq("A", "N", "R")).as("l_returnflag"),
        pick(id, 10, Seq("F", "O")).as("l_linestatus"),
        tsFrom("1995-01-02", intIn(id, 11, 0, 2498).cast("long")).as("l_shipdate")),
      "events" -> ids("events").select(id.as("event_id"),
        // strictly increasing with event_id: one jittered slot per event
        // across 30 days
        timestamp_micros(unix_micros(lit("2024-01-01").cast("timestamp")) +
          floor((id.cast("double") + u(id, 1)) * (30.0 * day / rows("events")))
            .cast("long")).cast("timestamp_ntz").as("ts"),
        floor(u(id, 2) * users).cast("long").as("user_id"),
        pick(id, 3, Seq("click", "error", "purchase", "signup", "view"))
          .as("event_type"),
        greatest(lit(0.01), round(exp(lit(math.log(50.0) - 0.32) +
          gauss(id, 4) * 0.8), 2)).as("value"),
        concat(lit("{\"k\": "), intIn(id, 6, 0, 99).cast("string"), lit("}"))
          .as("props")),
      "documents" -> {
        def words(doc: Column): Column = array_join(transform(
          sequence(lit(1), intIn(doc, 1, 10, 99)), i =>
            element_at(array(vocab.map(lit): _*),
              (pmod(xxhash64(doc, i, lit(QuerySeed)), lit(vocab.size.toLong))
                + 1).cast("int"))), " ")
        // 5% are near-duplicates: another document's text plus " dup"
        val other = floor(u(id, 2) * rows("documents")).cast("long")
        ids("documents").select(id.as("doc_id"),
          when(u(id, 3) < 0.05, concat(words(other), lit(" dup")))
            .otherwise(words(id)).as("text"),
          when(u(id, 4) < 0.4, lit("en")).otherwise(
            pick(id, 5, Seq("de", "es", "fr", "zh"))).as("lang"),
          concat(lit("src"), (id % 20).cast("string")).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      },
      "embeddings" -> {
        // unit vectors: Gaussian noise plus a weak per-label direction
        val label = intIn(id, 1, 0, 9)
        val raw = transform(sequence(lit(0), lit(63)), i =>
          (sqrt(lit(-2.0) * log(greatest(
            pmod(xxhash64(id, i, lit(7)), lit(1000000007L)).cast("double") /
              1000000007.0, lit(1e-12)))) *
            cos(lit(2 * math.Pi) * pmod(xxhash64(id, i, lit(8)),
              lit(1000000007L)).cast("double") / 1000000007.0)) +
            when(pmod(i, lit(10)) === label, lit(0.6)).otherwise(lit(0.0)))
        ids("embeddings").select(id.as("vec_id"), raw.as("raw"),
          label.as("label"))
          .select(col("vec_id"),
            transform(col("raw"), x => (x / sqrt(aggregate(col("raw"),
              lit(0.0), (acc, y) => acc + y * y))).cast("float")).as("embedding"),
            col("label"))
      })
    Files.createDirectories(dir)
    // ten small independent writes: overlap them
    graft.Par.run(tables.map { case (name, df) => () => writeSingleFile(df, dir, name) })
  }

  /** The query corpus in `dir`, written there unless a complete copy is
    * already there: the corpus does not depend on the run's seed, so runs
    * in one checkout share it. Written beside `dir` and renamed into place,
    * so a concurrent or interrupted run never leaves a partial copy. */
  def cachedQueryTables(spark: SparkSession, dir: Path, sf: Double): Path = {
    if (!Files.exists(dir.resolve(Complete))) {
      val tmp = dir.resolveSibling(s"${dir.getFileName}.tmp${ProcessHandle.current.pid}")
      queryTables(spark, tmp, sf)
      Files.createFile(tmp.resolve(Complete))
      try Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.FileAlreadyExistsException |
            _: java.nio.file.DirectoryNotEmptyException =>
          graft.streaming.EventStreams.wipe(tmp)
      }
    }
    dir
  }

  private val Complete = "_COMPLETE"

  /** One `<name>.parquet` FILE, the layout `graft.Tables.load` reads. */
  private def writeSingleFile(df: DataFrame, dir: Path, name: String): Unit = {
    val tmp = dir.resolve(s"_tmp_$name")
    df.coalesce(1).write.mode("overwrite")
      .option("compression", "snappy").parquet(tmp.toString)
    val part = scala.util.Using.resource(Files.list(tmp)) { st =>
      st.filter(_.toString.endsWith(".parquet")).findFirst().get()
    }
    Files.move(part, dir.resolve(s"$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    graft.streaming.EventStreams.wipe(tmp)
  }

  /** The Walmart DAG's store count: 10, not the reference's 45, so that a
    * pass fits the benchmark's time budget. */
  val WalmartStores = 10
  val Depts = 81
  val Weeks = 115
  val TestWeeks = 10

  /** The Walmart CSVs at `stores` stores; returns the train row count. */
  def walmartCsv(dir: Path, stores: Int, seed: Long): Long = {
    Files.createDirectories(dir)
    val rnd = new java.util.SplittableRandom(seed)
    val start = java.time.LocalDate.of(2010, 2, 5)
    val dates = (0 until Weeks + TestWeeks).map(w => start.plusWeeks(w).toString)
    def holiday(w: Int) = w % 52 == 0 || w % 52 == 31
    val train = new java.lang.StringBuilder("Store,Dept,Date,Weekly_Sales,IsHoliday\n")
    var n = 0L
    for (s <- 1 to stores; d <- 1 to Depts; w <- 0 until Weeks) {
      val level = 1000.0 + s * 37 + d * 11 + (w % 52) * 5 + (if (holiday(w)) 400 else 0)
      val sales = math.round(level * (0.9 + 0.2 * rnd.nextDouble()) * 100) / 100.0
      train.append(s).append(',').append(d).append(',').append(dates(w))
        .append(',').append(sales).append(',').append(holiday(w)).append('\n')
      n += 1
    }
    write(dir.resolve("train.csv"), train.toString)
    val test = new java.lang.StringBuilder("Store,Dept,Date,IsHoliday\n")
    for (s <- 1 to stores; d <- 1 to Depts; w <- Weeks until Weeks + TestWeeks)
      test.append(s).append(',').append(d).append(',').append(dates(w))
        .append(',').append(holiday(w)).append('\n')
    write(dir.resolve("test.csv"), test.toString)
    write(dir.resolve("stores.csv"), ("Store,Type,Size" +: (1 to stores).map(s =>
      s"$s,${"ABC"((s - 1) % 3)},${100000 + s * 1731}")).mkString("\r"))
    val feat = new java.lang.StringBuilder(
      "Store,Date,Temperature,Fuel_Price,MarkDown1,MarkDown2,MarkDown3," +
        "MarkDown4,MarkDown5,CPI,Unemployment,IsHoliday\n")
    for (s <- 1 to stores; w <- dates.indices) {
      // "NA" era for the first 60 weeks, like the real features file
      val md = if (w < 60) "NA" else f"${50.0 + w + 10 * rnd.nextDouble()}%.2f"
      feat.append(s).append(',').append(dates(w)).append(',')
        .append(f"${30 + (w % 40) + rnd.nextDouble()}%.2f").append(',')
        .append(2.5 + (w % 10) / 10.0).append(',')
        .append(md).append(",NA,NA,NA,").append(md).append(',')
        .append(210 + w * 0.01).append(',').append(8.0 - w * 0.005).append(',')
        .append(holiday(w)).append('\n')
    }
    write(dir.resolve("features.csv"), feat.toString)
    n
  }

  private def write(p: Path, s: String): Unit =
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
}
