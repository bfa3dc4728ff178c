package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic tables in the shape the query corpus reads
  * (FIXTURES.md §B): the TPC-H-like star schema plus `events`,
  * `documents` and `embeddings`, one parquet file per table. Row counts
  * scale with `sf` like the reference test data (lineitem ≈ 6M·sf rows).
  *
  * Every value is a pure function of (table seed, row id), each table is
  * produced by a single task in id order, and timestamps are written as
  * TIMESTAMP_NTZ — so the files are identical run to run, and DuckDB reads
  * them with the same naive-timestamp types as the reference data. The
  * corpus workloads' goldens are tied to this content, so it does not
  * depend on the run seed.
  */
object Tables {
  val Names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Scale of the tables (lineitem ≈ 6M·Sf rows). */
  val Sf = 0.01
  private val Seed = 20240101L

  /** Uniform [0, 1) from (row id, stream k). */
  private def u(k: Int): Column =
    pmod(xxhash64(lit(Seed), col("id"), lit(k)), lit(1L << 53))
      .cast("double") / lit((1L << 53).toDouble)
  private def pick(k: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*),
      (floor(u(k) * values.size) + 1).cast("int"))
  private def below(k: Int, n: Long): Column = floor(u(k) * n).cast("long")
  private def day(base: String, k: Int, days: Int): Column =
    date_add(lit(base).cast("date"), floor(u(k) * days).cast("int"))
      .cast("timestamp_ntz")

  private val Vocab = Seq("join", "hash", "row", "batch", "scan", "customer",
    "column", "filter", "small", "slow", "merge", "order", "vector", "line",
    "data", "table", "agg", "value", "key", "stream", "window", "spark", "a",
    "group", "part", "big", "fast", "sort", "query", "the")

  def generate(spark: SparkSession, dir: Path): Unit = {
    def n(base: Double) = math.max(1L, math.round(base * Sf))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000); val nEv = n(1000000)
    val nDoc = n(50000); val nVec = n(50000)
    def ids(k: Long): DataFrame = spark.range(0, k, 1, 1).toDF()

    val region = ids(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").map(lit): _*), (col("id") + 1).cast("int")).as("r_name"))
    val nation = ids(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))
    val customer = ids(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      below(1, 25).cast("int").as("c_nationkey"),
      round(lit(-999.99) + u(2) * 10999.98, 2).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment"))
    val supplier = ids(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      below(1, 25).cast("int").as("s_nationkey"),
      round(lit(-999.99) + u(2) * 10999.98, 2).as("s_acctbal"))
    val part = ids(nPart).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(1, Seq("red", "blue", "small", "large", "hot",
        "old", "shiny", "green")), pick(2, Seq("plate", "widget", "rod",
        "ring", "bolt", "gear", "panel", "valve"))).as("p_name"),
      concat(lit("Brand#"), below(3, 25) + 1).as("p_brand"),
      pick(4, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD")).as("p_type"),
      (below(5, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000) / 10.0, 1).as("p_retailprice"))
    val orders = ids(nOrd).select(col("id").as("o_orderkey"),
      below(1, nCust).as("o_custkey"),
      pick(2, Seq("F", "O", "P")).as("o_orderstatus"),
      round(lit(1000.0) + u(3) * 499000.0, 2).as("o_totalprice"),
      day("1995-01-01", 4, 2404).as("o_orderdate"),
      pick(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority"))
    val lineitem = ids(nLine).select(below(1, nOrd).as("l_orderkey"),
      below(2, nPart).as("l_partkey"), below(3, nSupp).as("l_suppkey"),
      (below(4, 7) + 1).cast("int").as("l_linenumber"),
      (below(5, 50) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + u(6) * 104100.0, 2).as("l_extendedprice"),
      (below(7, 11) / 100.0).as("l_discount"),
      (below(8, 9) / 100.0).as("l_tax"),
      pick(9, Seq("A", "N", "R")).as("l_returnflag"),
      pick(10, Seq("F", "O")).as("l_linestatus"),
      day("1995-01-02", 11, 2499).as("l_shipdate"))
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    // events: strictly increasing ts over January 2024, exponential values
    val stepUs = 30L * 86400L * 1000000L / nEv
    val events = ids(nEv).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * stepUs +
        below(1, stepUs)).cast("timestamp_ntz").as("ts"),
      below(2, n(15000)).as("user_id"),
      pick(3, Seq("click", "error", "purchase", "signup", "view"))
        .as("event_type"),
      greatest(lit(0.01), round(-log(lit(1.0) - u(4)) * 50.0, 2)).as("value"),
      concat(lit("{\"k\": "), below(5, 100), lit("}")).as("props"))
    // documents: word salad over a 30-word vocabulary; one document in ten
    // is a one-word edit of one of the five documents before it, so the
    // near-duplicate families have pairs to find
    val vocab = array(Vocab.map(lit): _*)
    def word(idc: Column, j: Column): Column = element_at(vocab,
      (pmod(xxhash64(lit(Seed), idc, j), lit(Vocab.size.toLong)) + 1).cast("int"))
    val docs0 = ids(nDoc)
      .withColumn("src", when(u(1) < 0.1 && col("id") >= 5,
        col("id") - below(2, 5) - 1).otherwise(col("id")))
      .withColumn("nw", (pmod(xxhash64(lit(Seed), col("src"), lit(-1)),
        lit(83L)) + 8).cast("int"))
      .withColumn("edit", (below(3, 1000) % col("nw") + 1).cast("int"))
      .withColumn("text", array_join(transform(sequence(lit(1), col("nw")),
        j => when(col("src") =!= col("id") && j === col("edit"),
          word(col("id"), j + 1000)).otherwise(word(col("src"), j))), " "))
    val documents = docs0.select(col("id").as("doc_id"), col("text"),
      pick(4, Seq.fill(44)("en") ++ Seq.fill(15)("zh") ++ Seq.fill(14)("es") ++
        Seq.fill(14)("de") ++ Seq.fill(13)("fr")).as("lang"),
      concat(lit("src"), col("id") % 20).as("source"),
      length(col("text")).cast("long").as("n_chars"))
    // embeddings: 64 approximately normal coordinates (sd 0.125)
    def coord(j: Column, k: Int): Column =
      pmod(xxhash64(lit(Seed), col("id"), j, lit(k)), lit(1L << 53))
        .cast("double") / lit((1L << 53).toDouble)
    val embeddings = ids(nVec).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        ((coord(j, 1) + coord(j, 2) + coord(j, 3) - 1.5) * 0.25)
          .cast("float")).as("embedding"),
      below(1, 10).cast("int").as("label"))

    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings).foreach { case (name, df) =>
      writeSingle(df.coalesce(1), dir.resolve(s"$name.parquet"))
    }
  }

  /** Write `df` (one partition) as the single parquet file `target`. */
  def writeSingle(df: DataFrame, target: Path): Unit = {
    val tmp = target.resolveSibling(target.getFileName.toString + ".tmp")
    df.write.mode("overwrite").parquet(tmp.toString)
    val parts = Workload.filesUnder(tmp).filter(p =>
      p.getFileName.toString.startsWith("part-") &&
        p.getFileName.toString.endsWith(".parquet"))
    require(parts.size == 1, s"expected one part file under $tmp, got ${parts.size}")
    Files.move(parts.head, target, StandardCopyOption.REPLACE_EXISTING)
    Workload.deleteTree(tmp)
  }
}
