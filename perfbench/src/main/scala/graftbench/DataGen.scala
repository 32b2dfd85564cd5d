package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic inputs with the schemas and value distributions of
  * the repository's TPC-H-shaped test tables (region, nation, customer,
  * supplier, part, orders, lineitem, events, documents).
  *
  * Every value is a pure function of (seed, row id, column tag) through
  * `xxhash64`, so the same seed yields byte-identical tables whatever
  * the partitioning or core count. `sf` scales row counts the way the
  * test tables do: sf 0.01 has 60,000 lineitems and 500 documents.
  */
object DataGen {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents")

  private val Vocab = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  /** A hash of (seed, id, tag): a 64-bit value uniform over its range. */
  private def h(seed: Long, id: Column, tag: Int): Column =
    xxhash64(lit(seed), id, lit(tag))

  /** Uniform integer in [0, n). */
  private def ui(seed: Long, id: Column, tag: Int, n: Long): Column =
    pmod(h(seed, id, tag), lit(n))

  private def pick(seed: Long, id: Column, tag: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (ui(seed, id, tag, values.size) + 1).cast("int"))

  /** Two-decimal money in [lo, lo + span). */
  private def money(seed: Long, id: Column, tag: Int, lo: Double, span: Double): Column =
    round(lit(lo) + ui(seed, id, tag, (span * 100).toLong).cast("double") / 100.0, 2)

  private def day(start: String, seed: Long, id: Column, tag: Int, days: Int): Column =
    to_timestamp(date_add(to_date(lit(start)), ui(seed, id, tag, days).cast("int")))

  def counts(sf: Double): Map[String, Long] = Map(
    "customer" -> (150000 * sf).toLong, "supplier" -> (10000 * sf).toLong,
    "part" -> (200000 * sf).toLong, "orders" -> (1500000 * sf).toLong,
    "lineitem" -> (6000000 * sf).toLong, "events" -> (1000000 * sf).toLong,
    "documents" -> (50000 * sf).toLong, "users" -> (15000 * sf).toLong)

  def table(spark: SparkSession, name: String, sf: Double, seed: Long): DataFrame = {
    val n = counts(sf)
    val id = col("id")
    def rows(k: String) = spark.range(0L, n(k), 1L, 1)
    name match {
      case "region" =>
        spark.range(0L, 5L, 1L, 1).select(id.cast("int").as("r_regionkey"),
          element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
            .map(lit): _*), (id + 1).cast("int")).as("r_name"))
      case "nation" =>
        spark.range(0L, 25L, 1L, 1).select(id.cast("int").as("n_nationkey"),
          concat(lit("NATION_"), id.cast("string")).as("n_name"),
          pmod(id, lit(5L)).cast("int").as("n_regionkey"))
      case "customer" =>
        rows("customer").select(id.as("c_custkey"),
          format_string("Customer#%09d", id).as("c_name"),
          ui(seed, id, 1, 25).cast("int").as("c_nationkey"),
          money(seed, id, 2, -999.99, 10999.99).as("c_acctbal"),
          pick(seed, id, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
            "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))
      case "supplier" =>
        rows("supplier").select(id.as("s_suppkey"),
          format_string("Supplier#%09d", id).as("s_name"),
          ui(seed, id, 11, 25).cast("int").as("s_nationkey"),
          money(seed, id, 12, -999.99, 10999.99).as("s_acctbal"))
      case "part" =>
        val adj = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
        val noun = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
        rows("part").select(id.as("p_partkey"),
          concat(pick(seed, id, 21, adj), lit(" "), pick(seed, id, 22, noun)).as("p_name"),
          concat(lit("Brand#"), (ui(seed, id, 23, 25) + 1).cast("string")).as("p_brand"),
          pick(seed, id, 24, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
            "STANDARD")).as("p_type"),
          (ui(seed, id, 25, 50) + 1).cast("int").as("p_size"),
          round(lit(900.0) + pmod(id, lit(1000L)).cast("double") / 10.0, 1)
            .as("p_retailprice"))
      case "orders" =>
        rows("orders").select(id.as("o_orderkey"),
          ui(seed, id, 31, n("customer")).as("o_custkey"),
          pick(seed, id, 32, Seq("F", "O", "P")).as("o_orderstatus"),
          money(seed, id, 33, 1000.0, 499000.0).as("o_totalprice"),
          day("1995-01-01", seed, id, 34, 2405).as("o_orderdate"),
          pick(seed, id, 35, Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
            "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
      case "lineitem" =>
        rows("lineitem").select(ui(seed, id, 41, n("orders")).as("l_orderkey"),
          ui(seed, id, 42, n("part")).as("l_partkey"),
          ui(seed, id, 43, n("supplier")).as("l_suppkey"),
          (ui(seed, id, 44, 7) + 1).cast("int").as("l_linenumber"),
          (ui(seed, id, 45, 50) + 1).cast("double").as("l_quantity"),
          money(seed, id, 46, 900.0, 104100.0).as("l_extendedprice"),
          round(ui(seed, id, 47, 11).cast("double") / 100.0, 2).as("l_discount"),
          round(ui(seed, id, 48, 9).cast("double") / 100.0, 2).as("l_tax"),
          pick(seed, id, 49, Seq("A", "N", "R")).as("l_returnflag"),
          pick(seed, id, 50, Seq("F", "O")).as("l_linestatus"),
          day("1995-01-02", seed, id, 51, 2499).as("l_shipdate"))
      case "events" =>
        // ids advance through a 30-day window, so ts is near-sorted by id
        val span = 30L * 86400L * 1000000L / math.max(n("events"), 1L)
        rows("events").select(id.as("event_id"),
          timestamp_micros(lit(1704067200000000L) + id * lit(span) +
            ui(seed, id, 61, span)).as("ts"),
          ui(seed, id, 62, n("users")).as("user_id"),
          pick(seed, id, 63, Seq("click", "error", "purchase", "signup", "view"))
            .as("event_type"),
          money(seed, id, 64, 0.01, 490.0).as("value"),
          format_string("{\"k\": %d}", ui(seed, id, 65, 100)).as("props"))
      case "documents" => documents(spark, n("documents"), seed)
    }
  }

  /** Token text of synthetic document `src`: 10-99 tokens drawn from a
    * 30-word vocabulary. */
  private def docText(seed: Long, src: Column): Column = {
    val vocab = array(Vocab.map(lit): _*)
    val nTok = (ui(seed, src, 71, 90) + 10).cast("int")
    concat_ws(" ", transform(sequence(lit(1), nTok), i =>
      element_at(vocab, (pmod(xxhash64(lit(seed), src, i), lit(Vocab.size.toLong)) + 1)
        .cast("int"))))
  }

  /** One in twenty documents is a near-duplicate (an earlier document
    * with " dup" appended) and one in a hundred an exact copy of an
    * earlier document — the planted structure the dedup chain finds. */
  def documents(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val id = col("id")
    val r = ui(seed, id, 72, 100)
    val src = when(id > 0, ui(seed, id, 73, 1L << 40) % id).otherwise(lit(0L))
    val text =
      when(id > 0 && r < 5, concat(docText(seed, src), lit(" dup")))
        .when(id > 0 && r === 5, docText(seed, src))
        .otherwise(docText(seed, id))
    spark.range(0L, n, 1L, 1).select(id.as("doc_id"), text.as("text"),
      element_at(array(Seq("en", "en", "en", "en", "de", "es", "fr", "zh").map(lit): _*),
        (ui(seed, id, 74, 8) + 1).cast("int")).as("lang"),
      concat(lit("src"), pmod(id, lit(20L)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Writes every table as one parquet file per table under `dir`
    * (`dir/<table>.parquet/`), the layout the query catalog reads. */
  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit =
    Tables.foreach { t =>
      table(spark, t, sf, seed).coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/$t.parquet")
    }
}
