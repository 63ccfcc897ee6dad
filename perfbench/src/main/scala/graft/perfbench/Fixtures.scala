package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic star-schema fixture tables (region … lineitem, events,
  * documents, embeddings) with the schemas and value domains of the
  * repository's graded fixtures, at a chosen scale factor. Every value is
  * a hash of (row id, column salt), so the tables are identical on every
  * run and independent of the benchmark seed.
  */
object Fixtures {
  private val Salt = 20261017L
  private val Mod = 1000003L

  private def h(id: Column, k: Int): Column = pmod(xxhash64(id, lit(k), lit(Salt)), lit(Mod))
  /** Uniform in [0, 1). */
  private def u(id: Column, k: Int): Column = h(id, k).cast("double") / Mod.toDouble
  /** Uniform integer in [0, n). */
  private def ui(id: Column, k: Int, n: Long): Column = pmod(h(id, k), lit(n))
  private def pick(id: Column, k: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (ui(id, k, xs.size.toLong) + 1).cast("int"))

  private val Vocab = Seq("the", "a", "fast", "slow", "key", "agg", "row", "scan",
    "table", "value", "part", "hash", "merge", "batch", "spark", "line", "sort",
    "window", "order", "data", "column", "join", "small", "big", "customer",
    "query", "stream", "group", "filter", "vector")

  def tables(spark: SparkSession, sf: Double): Seq[(String, DataFrame)] = {
    def rows(n: Long): DataFrame = spark.range(0, n, 1, 1).toDF("id")
    val id = col("id")
    val nSupp = math.max(10L, (10000 * sf).toLong)
    val nCust = math.max(150L, (150000 * sf).toLong)
    val nPart = math.max(200L, (200000 * sf).toLong)
    val nOrd = math.max(1500L, (1500000 * sf).toLong)
    val nLine = 4 * nOrd
    val nEv = math.max(1000L, (1000000 * sf).toLong)
    val nUsers = math.max(15L, (15000 * sf).toLong)
    val nDocs = if (sf <= 0.01) 500L else (50000 * sf).toLong
    val nEmb = if (sf <= 0.01) 500L else (20000 * sf).toLong
    val day0 = to_date(lit("1995-01-01"))
    def ntz(c: Column): Column = c.cast("timestamp_ntz")
    val retail = lit(900.0) + pmod(col("l_partkey"), lit(1000L)).cast("double") / 10.0

    val region = rows(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (id + 1).cast("int")).as("r_name"))
    val nation = rows(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      pmod(id, lit(5L)).cast("int").as("n_regionkey"))
    val supplier = rows(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      ui(id, 1, 25).cast("int").as("s_nationkey"),
      round(u(id, 2) * 10777.32 - 821.16, 2).as("s_acctbal"))
    val customer = rows(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      ui(id, 1, 25).cast("int").as("c_nationkey"),
      round(u(id, 2) * 10991.69 - 994.28, 2).as("c_acctbal"),
      pick(id, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment"))
    val part = rows(nPart).select(id.as("p_partkey"),
      concat(pick(id, 1, Seq("small", "red", "blue", "hot", "old", "new", "cold", "big")),
        lit(" "), pick(id, 2, Seq("ring", "widget", "bolt", "gear", "anvil", "rod", "nut",
          "spring"))).as("p_name"),
      concat(lit("Brand#"), (ui(id, 3, 25) + 1).cast("string")).as("p_brand"),
      pick(id, 4, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      (ui(id, 5, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + pmod(id, lit(1000L)).cast("double") / 10.0, 2).as("p_retailprice"))
    val orders = rows(nOrd).select(id.as("o_orderkey"),
      ui(id, 1, nCust).as("o_custkey"),
      pick(id, 2, Seq("F", "O", "P")).as("o_orderstatus"),
      round(u(id, 3) * 499000.0 + 1000.0, 2).as("o_totalprice"),
      ntz(date_add(day0, ui(id, 4, 2404).cast("int"))).as("o_orderdate"),
      pick(id, 5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))
    val lineitem = rows(nLine).select(ui(id, 1, nOrd).as("l_orderkey"),
      ui(id, 2, nPart).as("l_partkey"),
      ui(id, 3, nSupp).as("l_suppkey"),
      (ui(id, 4, 7) + 1).cast("int").as("l_linenumber"),
      (ui(id, 5, 50) + 1).cast("double").as("l_quantity"),
      ui(id, 6, 11).as("d"), ui(id, 7, 9).as("t"),
      pick(id, 8, Seq("A", "N", "R")).as("l_returnflag"),
      pick(id, 9, Seq("F", "O")).as("l_linestatus"),
      ntz(date_add(day0, (ui(id, 10, 2498) + 1).cast("int"))).as("l_shipdate"))
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
        col("l_quantity"), round(col("l_quantity") * retail, 2).as("l_extendedprice"),
        round(col("d").cast("double") / 100.0, 2).as("l_discount"),
        round(col("t").cast("double") / 100.0, 2).as("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
    val stepUs = 30L * 86400L * 1000000L / nEv
    val events = rows(nEv).select(id.as("event_id"),
      ntz(timestamp_micros(lit(1704067200000000L) + id * stepUs + ui(id, 1, stepUs)))
        .as("ts"),
      ui(id, 2, nUsers).as("user_id"),
      pick(id, 3, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      round(-log(lit(1.0) - u(id, 4) * 0.99999) * 28.0 + 0.03, 2).as("value"),
      concat(lit("{\"k\": "), ui(id, 5, 100).cast("string"), lit("}")).as("props"))
    val vocab = array(Vocab.map(lit): _*)
    val documents = rows(nDocs).select(id.as("doc_id"),
      array_join(transform(sequence(lit(1), (ui(id, 1, 72) + 8).cast("int")),
        i => element_at(vocab, (pmod(xxhash64(id, i, lit(Salt)), lit(Vocab.size.toLong)) + 1)
          .cast("int"))), " ").as("text"),
      pick(id, 2, Seq("de", "en", "en", "en", "es", "fr", "zh")).as("lang"),
      concat(lit("src"), ui(id, 3, 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val embeddings = rows(nEmb).select(id.as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        ((pmod(xxhash64(id, j, lit(Salt)), lit(Mod)).cast("double") / Mod.toDouble - 0.5) *
          0.3).cast("float")).as("embedding"),
      ui(id, 1, 10).cast("int").as("label"))
    Seq("region" -> region, "nation" -> nation, "supplier" -> supplier,
      "customer" -> customer, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }

  /** Write every table as `<dir>/<name>.parquet` (one file per table). The
    * tables are independent single-task jobs, so they are written four at
    * a time.
    */
  def write(spark: SparkSession, dir: String, sf: Double): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val done = tables(spark, sf).map { case (name, df) =>
        pool.submit(new Runnable {
          def run(): Unit = df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
        })
      }
      done.foreach(_.get())
    } finally pool.shutdown()
  }
}

/** Write the analytics fixtures to a directory, for checking the graded
  * keys against the DuckDB oracle:
  * `DumpFixtures <dir>`, then `graft.Verify <dir> <out> <keys…>` and
  * `scripts/local_oracle.py <dir> <out> <keys…>`.
  */
object DumpFixtures {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[4]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false").getOrCreate()
    Fixtures.write(spark, args(0), new Analytics().Scale)
    spark.stop()
  }
}
