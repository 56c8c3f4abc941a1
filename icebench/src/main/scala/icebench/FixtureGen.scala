package icebench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Writes the ten query tables (the TPC-H-like star schema, `events`,
  * `documents`, `embeddings`) with the column names and types the
  * repository's queries read, at sf0.01-like row counts. Every value is a
  * hash of the row id and a fixed data seed, so the same tables come out on
  * every run whatever the session's parallelism; the query fingerprints are
  * frozen against exactly these tables.
  *
  * The tables are inputs, not state the system builds, and do not depend
  * on the workload seed: [[ensure]] writes them once per build directory
  * and later runs read them.
  */
object FixtureGen {
  val DataSeed = 42

  val Rows: Map[String, Long] = Map(
    "customer" -> 1500L, "supplier" -> 100L, "part" -> 2000L,
    "orders" -> 15000L, "events" -> 10000L, "documents" -> 500L,
    "embeddings" -> 500L)

  /** A uniform hash in [0, n) of the row id and a salt. */
  private def h(salt: Int, n: Long, c: Column = col("id")): Column =
    pmod(xxhash64(c, lit(salt), lit(DataSeed)), lit(n))

  private def pick(xs: Seq[String], salt: Int): Column =
    element_at(array(xs.map(lit): _*), (h(salt, xs.size.toLong) + 1).cast("int"))

  private def money(salt: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + h(salt, 1000000L).cast("double") / 1e6 * (hi - lo), 2)

  private def day(from: String, salt: Int, span: Int): Column =
    to_timestamp(date_add(lit(java.sql.Date.valueOf(from)), h(salt, span.toLong).cast("int")))

  val Vocab: Seq[String] = Seq("join", "hash", "row", "batch", "scan", "column",
    "customer", "filter", "small", "slow", "merge", "order", "vector", "line",
    "table", "data", "agg", "value", "key", "stream", "window", "a", "spark",
    "part", "group", "big", "sort", "query", "fast", "the")

  def complete(dir: java.nio.file.Path): Boolean =
    java.nio.file.Files.exists(dir.resolve("_COMPLETE"))

  /** The tables under `dir`, written first if a complete copy is absent. */
  def ensure(spark: SparkSession, dir: java.nio.file.Path): Unit =
    if (!complete(dir)) {
      Harness.deleteTree(dir)
      write(spark, dir.toString)
      java.nio.file.Files.createFile(dir.resolve("_COMPLETE"))
    }

  def write(spark: SparkSession, dir: String): Unit = {
    def range(name: String) = spark.range(Rows(name))
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    save("region", spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(regions.map(lit): _*), (col("id") + 1).cast("int")).as("r_name")))
    save("nation", spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")))
    save("customer", range("customer").select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      h(1, 25).cast("int").as("c_nationkey"),
      money(2, -999.99, 9999.99).as("c_acctbal"),
      pick(Seq("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"), 3)
        .as("c_mktsegment")))
    save("supplier", range("supplier").select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      h(4, 25).cast("int").as("s_nationkey"),
      money(5, -999.99, 9999.99).as("s_acctbal")))
    save("part", range("part").select(col("id").as("p_partkey"),
      concat_ws(" ",
        pick(Seq("red", "small", "hot", "old", "large", "blue", "cold", "new"), 6),
        pick(Seq("widget", "plate", "ring", "rod", "bolt", "gizmo"), 7)).as("p_name"),
      concat(lit("Brand#"), h(8, 25) + 1).as("p_brand"),
      pick(Seq("MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"), 9).as("p_type"),
      (h(10, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + (col("id") % 1000).cast("double") / 10).as("p_retailprice")))
    val orders = range("orders").select(col("id").as("o_orderkey"),
      h(11, Rows("customer")).as("o_custkey"),
      pick(Seq("F", "O", "P"), 12).as("o_orderstatus"),
      money(13, 900.0, 450000.0).as("o_totalprice"),
      day("1995-01-01", 14, 2404).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 15)
        .as("o_orderpriority"))
    save("orders", orders)
    save("lineitem", range("orders")
      .select(col("id").as("l_orderkey"),
        explode(sequence(lit(1), (h(16, 7) + 1).cast("int"))).as("l_linenumber"),
        day("1995-01-01", 14, 2404).as("odate"))
      .withColumn("id", col("l_orderkey") * 16 + col("l_linenumber"))
      .select(col("l_orderkey"), h(17, Rows("part")).as("l_partkey"),
        h(18, Rows("supplier")).as("l_suppkey"), col("l_linenumber"),
        (h(19, 50) + 1).cast("double").as("l_quantity"),
        money(20, 900.0, 100000.0).as("l_extendedprice"),
        (h(21, 11).cast("double") / 100).as("l_discount"),
        (h(22, 9).cast("double") / 100).as("l_tax"),
        pick(Seq("R", "A", "N"), 23).as("l_returnflag"),
        pick(Seq("O", "F"), 24).as("l_linestatus"),
        to_timestamp(date_add(to_date(col("odate")), (h(25, 121) + 1).cast("int")))
          .as("l_shipdate")))
    save("events", range("events").select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + h(26, 30L * 86400L * 1000000L)).as("ts"),
      h(27, 150).as("user_id"),
      pick(Seq("signup", "error", "click", "view", "purchase"), 28).as("event_type"),
      round(-log(lit(1.0) - h(29, 999999).cast("double") / 1e6) * 50 + 0.01, 2)
        .as("value"),
      format_string("{\"k\": %d}", h(30, 100)).as("props")))
    val words = array(Vocab.map(lit): _*)
    save("documents", range("documents")
      .withColumn("n", (h(31, 90) + 10).cast("int"))
      .withColumn("text", concat_ws(" ", transform(sequence(lit(1), col("n")), i =>
        when(pmod(xxhash64(col("id"), i, lit(33)), lit(500L)) === 0, lit("dup"))
          .otherwise(element_at(words,
            (pmod(xxhash64(col("id"), i, lit(32)), lit(Vocab.size.toLong)) + 1).cast("int"))))))
      .select(col("id").as("doc_id"), col("text"),
        pick(Seq("en", "en", "en", "zh", "es", "de", "fr"), 34).as("lang"),
        concat(lit("src"), col("id") % 20).as("source"),
        length(col("text")).cast("long").as("n_chars")))
    // unit vectors around one of ten label centroids
    save("embeddings", range("embeddings")
      .withColumn("label", h(35, 10).cast("int"))
      .withColumn("raw", transform(sequence(lit(1), lit(64)), i =>
        (pmod(xxhash64(col("label"), i, lit(36)), lit(2001L)) - 1000).cast("double") / 1000 +
          (pmod(xxhash64(col("id"), i, lit(37)), lit(2001L)) - 1000).cast("double") / 2000))
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0), (acc, x) => acc + x * x)))
      .select(col("id").as("vec_id"),
        transform(col("raw"), x => (x / col("norm")).cast("float")).as("embedding"),
        col("label")))
  }
}
