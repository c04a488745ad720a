package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator of the TPC-H-ish star schema plus the `events`,
  * `documents` and `embeddings` tables the query pack reads. Same schema
  * and value domains as graft's test data; every value is a hash of
  * (row id, seed, column salt), so the output depends only on the seed
  * and the scale, never on how Spark partitions the work.
  *
  * Differences from the test data, on purpose: `lineitem` keys
  * (`l_orderkey`, `l_linenumber`) are unique, because the CDC and
  * medallion workloads key tables on them.
  */
object Gen {

  /** Row counts at scale 1 (the test data's sf1). */
  def rows(sf: Double): Map[String, Long] = Map(
    "supplier" -> 10000L, "customer" -> 150000L, "part" -> 200000L,
    "orders" -> 1500000L, "events" -> 1000000L, "documents" -> 50000L,
    "embeddings" -> 20000L)
    .map { case (k, v) => k -> math.max(1L, math.round(v * sf)) }

  private val Words = Seq("the", "a", "fast", "slow", "big", "small", "key",
    "order", "sort", "table", "scan", "merge", "part", "window", "hash",
    "join", "batch", "stream", "spark", "dup", "group", "query", "row",
    "data", "filter", "customer", "line", "value", "agg", "column",
    "vector", "lake", "commit", "file", "index", "page", "cache", "shard",
    "token", "model")

  final class Hasher(seed: Long) {
    /** Uniform 64-bit hash of the row id under a column salt. */
    def h(id: Column, salt: String): Column =
      xxhash64(id, lit(seed), lit(salt))
    def mod(id: Column, salt: String, n: Long): Column =
      pmod(h(id, salt), lit(n))
    /** Uniform double in [0, 1). */
    def unit(id: Column, salt: String): Column =
      pmod(h(id, salt), lit(1L << 40)).cast("double") / lit((1L << 40).toDouble)
    def pick(id: Column, salt: String, values: Seq[String]): Column =
      element_at(array(values.map(lit): _*), (mod(id, salt, values.size) + 1).cast("int"))
  }

  private def money(c: Column): Column = round(c, 2)

  private def ts(epochSec: Column): Column =
    timestamp_seconds(epochSec).cast("timestamp_ntz")

  private val day = 86400L
  private val d1995 = 788918400L // 1995-01-01T00:00:00Z

  def lineitem(s: SparkSession, seed: Long, nOrders: Long, nParts: Long,
      nSupp: Long): DataFrame = {
    val g = new Hasher(seed)
    val id = col("id")
    s.range(nOrders).select(id.as("l_orderkey"),
        explode(sequence(lit(1), (g.mod(id, "nlines", 7) + 1).cast("int")))
          .as("l_linenumber"))
      .withColumn("rid", col("l_orderkey") * 8 + col("l_linenumber"))
      .select(col("l_orderkey"),
        g.mod(col("rid"), "partkey", nParts).as("l_partkey"),
        g.mod(col("rid"), "suppkey", nSupp).as("l_suppkey"),
        col("l_linenumber"),
        (g.mod(col("rid"), "qty", 50) + 1).cast("double").as("l_quantity"),
        money(lit(900.0) + g.unit(col("rid"), "price") * 104000.0)
          .as("l_extendedprice"),
        (g.mod(col("rid"), "disc", 11).cast("double") / 100).as("l_discount"),
        (g.mod(col("rid"), "tax", 9).cast("double") / 100).as("l_tax"),
        g.pick(col("rid"), "rflag", Seq("A", "N", "R")).as("l_returnflag"),
        g.pick(col("rid"), "lstatus", Seq("O", "F")).as("l_linestatus"),
        ts(lit(d1995 + day) + g.mod(col("rid"), "ship", 2500) * day)
          .as("l_shipdate"))
  }

  /** Every table of the query pack, as DataFrames (not yet written). */
  def tables(s: SparkSession, seed: Long, sf: Double): Map[String, DataFrame] = {
    val g = new Hasher(seed)
    val n = rows(sf)
    val id = col("id")
    import s.implicits._
    val region = Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
      (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name")
    val nation = (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val supplier = s.range(n("supplier")).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      g.mod(id, "snation", 25).cast("int").as("s_nationkey"),
      money(lit(-999.99) + g.unit(id, "sbal") * 11000.0).as("s_acctbal"))
    val customer = s.range(n("customer")).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      g.mod(id, "cnation", 25).cast("int").as("c_nationkey"),
      money(lit(-999.99) + g.unit(id, "cbal") * 11000.0).as("c_acctbal"),
      g.pick(id, "seg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))
    val part = s.range(n("part")).select(id.as("p_partkey"),
      concat_ws(" ",
        g.pick(id, "adj", Seq("blue", "red", "hot", "cold", "small", "big",
          "old", "new")),
        g.pick(id, "noun", Seq("bolt", "gear", "anvil", "ring", "rod",
          "plate", "widget", "nut"))).as("p_name"),
      concat(lit("Brand#"), (g.mod(id, "brand", 25) + 1).cast("string"))
        .as("p_brand"),
      g.pick(id, "ptype", Seq("ECONOMY", "STANDARD", "LARGE", "SMALL",
        "MEDIUM", "PROMO")).as("p_type"),
      (g.mod(id, "psize", 50) + 1).cast("int").as("p_size"),
      money(lit(900.0) + (id % 1000).cast("double") / 10).as("p_retailprice"))
    val orders = s.range(n("orders")).select(id.as("o_orderkey"),
      g.mod(id, "ocust", n("customer")).as("o_custkey"),
      g.pick(id, "ostatus", Seq("F", "O", "P")).as("o_orderstatus"),
      money(lit(1000.0) + g.unit(id, "oprice") * 499000.0).as("o_totalprice"),
      ts(lit(d1995) + g.mod(id, "odate", 2400) * day).as("o_orderdate"),
      g.pick(id, "oprio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    val events = s.range(n("events")).select(id.as("event_id"),
      timestamp_micros(lit(1704067200L * 1000000L) +
        g.mod(id, "ets", 30 * day * 1000000L)).cast("timestamp_ntz").as("ts"),
      g.mod(id, "euser", math.max(10L, n("events") / 670)).as("user_id"),
      g.pick(id, "etype", Seq("click", "view", "purchase", "signup", "error"))
        .as("event_type"),
      money(lit(0.01) + g.unit(id, "evalue") * 490.0).as("value"),
      format_string("{\"k\": %d}", g.mod(id, "eprops", 100)).as("props"))
    // ~10 % of documents repeat an earlier document's words exactly, so
    // the dedup and near-dup families find something to collapse
    val textId = when(g.mod(id, "dup", 10) === 0 && id > 0,
      g.mod(id, "dupof", 1L << 40) % id).otherwise(id)
    val nWords = (g.mod(textId, "nwords", 80) + 8).cast("int")
    val vocab = array(Words.map(lit): _*)
    val documents = s.range(n("documents"))
      .select(id, textId.as("tid"), nWords.as("nw"))
      .select(col("id").as("doc_id"),
        array_join(transform(sequence(lit(1), col("nw")), i =>
          element_at(vocab, (pmod(xxhash64(col("tid"), i, lit(seed),
            lit("word")), lit(Words.size.toLong)) + 1).cast("int"))), " ")
          .as("text"),
        g.pick(col("id"), "lang", Seq("en", "zh", "de", "fr", "es")).as("lang"),
        concat(lit("src"), g.mod(col("id"), "src", 20).cast("string"))
          .as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // 64-dim float vectors: a per-label centre plus per-row noise
    def gauss(a: Column, b: Column, salt: String): Column =
      (pmod(xxhash64(a, b, lit(seed), lit(salt)), lit(1L << 30)).cast("double") /
        lit((1L << 30).toDouble) - lit(0.5)) * 0.4
    val embeddings = s.range(n("embeddings"))
      .select(id.as("vec_id"), g.mod(id, "label", 10).cast("int").as("label"))
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(63)), j =>
          (gauss(col("label"), j, "centre") + gauss(col("vec_id"), j, "noise") * 0.5)
            .cast("float")).as("embedding"),
        col("label"))
    Map("region" -> region, "nation" -> nation, "supplier" -> supplier,
      "customer" -> customer, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem(s, seed, n("orders"), n("part"), n("supplier")),
      "events" -> events, "documents" -> documents, "embeddings" -> embeddings)
  }

  /** Write every table as `dir/<name>.parquet` (one file each). */
  def writeAll(s: SparkSession, seed: Long, sf: Double, dir: String): Unit =
    tables(s, seed, sf).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}
