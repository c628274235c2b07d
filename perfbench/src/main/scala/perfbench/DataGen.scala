package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the TPC-H-ish star schema plus the `events`,
  * `documents` and `embeddings` tables the query catalog reads (same
  * table names, column names, types and value domains as the
  * repository's testdata, TESTDATA.md). Every value is a pure function
  * of (seed, row key), so the output does not depend on partitioning or
  * core count. */
object DataGen {

  /** Row counts; `Scale.sf(x)` mirrors the testdata's per-sf sizes, except
    * that documents and embeddings keep scaling below sf0.01 (the testdata
    * floors them at 500 rows), so the self-test scale differs from the
    * full one on every table. */
  case class Scale(customers: Long, suppliers: Long, parts: Long,
                   orders: Long, events: Long, users: Long, docs: Long,
                   embeddings: Long)
  object Scale {
    def sf(x: Double): Scale = Scale(
      customers = (150000 * x).toLong.max(15), suppliers = (10000 * x).toLong.max(5),
      parts = (200000 * x).toLong.max(20), orders = (1500000 * x).toLong.max(150),
      events = (1000000 * x).toLong.max(200), users = 150,
      docs = (50000 * x).toLong.max(50), embeddings = (50000 * x).toLong.max(50))
  }

  private val Words = Seq("join", "hash", "row", "batch", "scan", "column",
    "customer", "filter", "small", "slow", "merge", "order", "vector",
    "line", "table", "data", "agg", "value", "key", "stream", "window", "a",
    "spark", "part", "group", "big", "sort", "query", "fast", "the")

  def write(spark: SparkSession, dir: String, scale: Scale, seed: Long): Unit = {
    // µs timestamps, the testdata's layout (the session default is INT96)
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val tsPrev = spark.conf.getOption(tsKey)
    spark.conf.set(tsKey, "TIMESTAMP_MICROS")
    try writeTables(spark, dir, scale, seed)
    finally tsPrev.fold(spark.conf.unset(tsKey))(spark.conf.set(tsKey, _))
  }

  private def writeTables(spark: SparkSession, dir: String, scale: Scale, seed: Long): Unit = {
    // uniform [0, 1) keyed by (seed, salt, key columns)
    def u(salt: Int, keys: Column*): Column =
      pmod(xxhash64((lit(seed) +: lit(salt) +: keys): _*), lit(1000000007L))
        .cast("double") / lit(1000000007.0)
    def pick(xs: Seq[String], r: Column): Column =
      element_at(array(xs.map(lit): _*), (r * xs.size).cast("int") + 1)
    def ids(n: Long): DataFrame = spark.range(0, n, 1, 4).toDF("k")
    // tables are independent: write them concurrently (each is a few
    // small jobs, so one at a time would leave most cores idle)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val pending = scala.collection.mutable.ArrayBuffer[java.util.concurrent.Future[_]]()
    def save(name: String, df: DataFrame, files: Int = 1): Unit =
      pending += pool.submit(new Runnable {
        def run(): Unit = df.coalesce(files).write.mode("overwrite").parquet(s"$dir/$name.parquet")
      })
    val k = col("k")

    save("region", ids(5).select(k.cast("int").as("r_regionkey"),
      pick(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"),
        k.cast("double") / 5).as("r_name")))
    save("nation", ids(25).select(k.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), k.cast("string")).as("n_name"),
      (k % 5).cast("int").as("n_regionkey")))
    save("customer", ids(scale.customers).select(k.as("c_custkey"),
      format_string("Customer#%09d", k).as("c_name"),
      (u(1, k) * 25).cast("int").as("c_nationkey"),
      round(u(2, k) * 10991.69 - 994.28, 2).as("c_acctbal"),
      pick(Seq("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"),
        u(3, k)).as("c_mktsegment")))
    save("supplier", ids(scale.suppliers).select(k.as("s_suppkey"),
      format_string("Supplier#%09d", k).as("s_name"),
      (u(4, k) * 25).cast("int").as("s_nationkey"),
      round(u(5, k) * 10991.69 - 994.28, 2).as("s_acctbal")))
    save("part", ids(scale.parts).select(k.as("p_partkey"),
      concat(pick(Seq("small", "red", "hot", "old", "large", "blue", "green", "shiny"), u(6, k)),
        lit(" "), pick(Seq("ring", "widget", "plate", "rod", "bolt", "gizmo", "gear", "pin"), u(7, k)))
        .as("p_name"),
      concat(lit("Brand#"), ((u(8, k) * 25).cast("int") + 1).cast("string")).as("p_brand"),
      pick(Seq("MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"), u(9, k)).as("p_type"),
      ((u(10, k) * 50).cast("int") + 1).as("p_size"),
      round(lit(900.0) + (k % 1000) * 0.1, 2).as("p_retailprice")))

    // order date as a function of the order key, so lineitem can derive
    // its ship date without a join
    def orderDay(key: Column): Column = (u(11, key) * 2404).cast("int")
    val epoch1995 = lit(788918400L) // 1995-01-01T00:00:00Z
    def dayTs(days: Column): Column =
      timestamp_seconds(epoch1995 + days.cast("long") * 86400L)
    save("orders", ids(scale.orders).select(k.as("o_orderkey"),
      (u(12, k) * scale.customers).cast("long").as("o_custkey"),
      pick(Seq("F", "O", "P"), u(13, k)).as("o_orderstatus"),
      round(u(14, k) * 498964.89 + 1013.7, 2).as("o_totalprice"),
      dayTs(orderDay(k)).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        u(15, k)).as("o_orderpriority")), files = 2)
    val lines = ids(scale.orders)
      .select(k, explode(sequence(lit(1), (u(16, k) * 7).cast("int") + 1)).as("ln"))
    save("lineitem", lines.select(k.as("l_orderkey"),
      (u(17, k, col("ln")) * scale.parts).cast("long").as("l_partkey"),
      (u(18, k, col("ln")) * scale.suppliers).cast("long").as("l_suppkey"),
      col("ln").cast("int").as("l_linenumber"),
      ((u(19, k, col("ln")) * 50).cast("int") + 1).cast("double").as("l_quantity"),
      round(u(20, k, col("ln")) * 104096.06 + 901.82, 2).as("l_extendedprice"),
      round((u(21, k, col("ln")) * 11).cast("int") / 100.0, 2).as("l_discount"),
      round((u(22, k, col("ln")) * 9).cast("int") / 100.0, 2).as("l_tax"),
      pick(Seq("R", "A", "N"), u(23, k, col("ln"))).as("l_returnflag"),
      pick(Seq("O", "F"), u(24, k, col("ln"))).as("l_linestatus"),
      dayTs(orderDay(k) + (u(25, k, col("ln")) * 120).cast("int") + 1).as("l_shipdate")),
      files = 2)

    // events: one month from 2024-01-01, ~259 s apart on average
    save("events", ids(scale.events).select(k.as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        ((k.cast("double") + u(26, k)) * 259.0e6).cast("long")).as("ts"),
      (u(27, k) * scale.users).cast("long").as("user_id"),
      pick(Seq("signup", "error", "click", "view", "purchase"), u(28, k)).as("event_type"),
      round(-log(lit(1.0) - u(29, k)) * 60.0 + 0.01, 2).as("value"),
      concat(lit("{\"k\": "), (u(30, k) * 100).cast("int").cast("string"), lit("}"))
        .as("props")), files = 2)

    // documents: 5% are near-duplicates (a copy of an earlier doc plus
    // one marker token), as in the testdata
    val isDup = (k % 20 === 19) && (k >= 20)
    val src = when(isDup, k - ((u(31, k) * 18).cast("long") + 1)).otherwise(k)
    val body = array_join(transform(
      sequence(lit(1), (u(32, col("src")) * 90).cast("int") + 10),
      i => element_at(array(Words.map(lit): _*),
        (pmod(xxhash64(lit(seed), lit(33), col("src"), i), lit(Words.size.toLong)) + 1)
          .cast("int"))), " ")
    save("documents", ids(scale.docs).withColumn("src", src)
      .select(k.as("doc_id"),
        when(isDup, concat(body, lit(" dup"))).otherwise(body).as("text"),
        pick(Seq("en", "en", "en", "zh", "es", "de", "fr"), u(34, k)).as("lang"),
        concat(lit("src"), (k % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))

    // embeddings: unit vectors, weakly clustered around one centroid per
    // label (centroid norm ~0.15 before normalization)
    val dims = 64
    val raw = ids(scale.embeddings)
      .withColumn("label", (u(35, k) * 10).cast("int"))
      .withColumn("v", transform(sequence(lit(0), lit(dims - 1)), d =>
        (pmod(xxhash64(lit(seed), lit(36), col("label"), d), lit(2001L)).cast("double")
          / 1000.0 - 1.0) * 0.26 +
        (u(37, k, d) + u(38, k, d) + u(39, k, d) - 1.5) * 0.25))
      .withColumn("norm", sqrt(aggregate(col("v"), lit(0.0), (a, x) => a + x * x)))
    save("embeddings", raw.select(k.as("vec_id"),
      transform(col("v"), x => (x / col("norm")).cast("float")).as("embedding"),
      col("label")))
    try pending.foreach(_.get()) finally pool.shutdown()
  }
}
