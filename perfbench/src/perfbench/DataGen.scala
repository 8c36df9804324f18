package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic inputs for the engine.
  *
  * Batch tables follow the engine's ten-table schema (a TPC-H-like star
  * plus `events`, `documents` and `embeddings`) with uniform value domains.
  * They are drawn from a fixed table seed, so the golden fingerprints kept
  * with the benchmark apply to every run; `--seed` drives the query order
  * and the stream events instead. Every value is a pure function of
  * (seed, column salt, row id) through `xxhash64`, so a table comes out
  * bit-identical whatever the partitioning, and each table is written as
  * one parquet file, the layout the engine's scans are tuned for.
  */
object DataGen {
  val TableSeed = 20150401L

  private def h(seed: Long, salt: String, id: Column): Column =
    xxhash64(lit(seed), lit(salt), id)

  /** Uniform double in [0, 1). */
  def u(seed: Long, salt: String, id: Column): Column =
    shiftrightunsigned(h(seed, salt, id), 11).cast("double") / 9007199254740992.0

  /** Uniform integer in [lo, hi]. */
  private def ui(seed: Long, salt: String, id: Column, lo: Long, hi: Long): Column =
    (floor(u(seed, salt, id) * (hi - lo + 1)) + lo).cast("long")

  /** 2024-01-01T00:00 in epoch microseconds, where event time starts. */
  val EventEpochUs: Long = java.time.LocalDate.of(2024, 1, 1).toEpochDay * 86400L * 1000000L

  /** Timestamp without time zone from epoch microseconds (the session
    * time zone is UTC, so the wall-clock value is the UTC instant). */
  def ntzMicros(us: Column): Column = timestamp_micros(us).cast("timestamp_ntz")

  private def ntzDay(day: Column): Column = ntzMicros(day * 86400L * 1000000L)

  private def pick(seed: Long, salt: String, id: Column, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), ui(seed, salt, id, 1, values.size.toLong).cast("int"))

  private def money(seed: Long, salt: String, id: Column, lo: Double, hi: Double): Column =
    round(u(seed, salt, id) * (hi - lo) + lo, 2)

  private val vocab = Seq("row", "the", "query", "stream", "key", "agg", "scan",
    "slow", "table", "part", "a", "merge", "window", "order", "column", "join",
    "vector", "fast", "spark", "line", "small", "customer", "group", "value",
    "hash", "batch", "sort", "data", "big", "filter", "dup")

  final case class Sizes(supplier: Long, customer: Long, part: Long, orders: Long,
      events: Long, users: Long, documents: Long, embeddings: Long)

  def sizes(sf: Double): Sizes = {
    def n(base: Double, min: Long) = math.max(min, math.round(base * sf))
    Sizes(supplier = n(10000, 10), customer = n(150000, 150), part = n(200000, 200),
      orders = n(1500000, 1500), events = n(1000000, 1000), users = n(15000, 150),
      documents = n(50000, 500), embeddings = n(20000, 500))
  }

  val tableNames: Seq[String] = Seq("region", "nation", "supplier", "customer", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Writes the named tables under `dir` as `<name>.parquet`. */
  def writeTables(spark: SparkSession, dir: String, sf: Double, tables: Set[String]): Unit = {
    require(tables.subsetOf(tableNames.toSet), s"unknown tables ${tables -- tableNames}")
    val s = sizes(sf)
    val seed = TableSeed
    val id = col("id")
    def range(n: Long) = spark.range(0, n, 1, 1)
    def save(name: String, df: => DataFrame): Unit =
      if (tables(name)) df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    save("region", range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(regions.map(lit): _*), (id + 1).cast("int")).as("r_name")))
    save("nation", range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")))
    save("supplier", range(s.supplier).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      ui(seed, "s_nation", id, 0, 24).cast("int").as("s_nationkey"),
      money(seed, "s_acctbal", id, -999.99, 9999.99).as("s_acctbal")))
    save("customer", range(s.customer).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      ui(seed, "c_nation", id, 0, 24).cast("int").as("c_nationkey"),
      money(seed, "c_acctbal", id, -999.99, 9999.99).as("c_acctbal"),
      pick(seed, "c_seg", id, Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")))
    save("part", range(s.part).select(id.as("p_partkey"),
      concat_ws(" ",
        pick(seed, "p_adj", id, Seq("blue", "red", "hot", "cold", "old", "new", "small", "large")),
        pick(seed, "p_noun", id, Seq("bolt", "gear", "anvil", "ring", "rod", "plate", "widget", "gizmo"))
      ).as("p_name"),
      concat(lit("Brand#"), ui(seed, "p_brand", id, 1, 25).cast("string")).as("p_brand"),
      pick(seed, "p_type", id, Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")).as("p_type"),
      ui(seed, "p_size", id, 1, 50).cast("int").as("p_size"),
      (lit(900.0) + (id % 1000) / 10.0).as("p_retailprice")))

    val day0 = java.time.LocalDate.of(1995, 1, 1).toEpochDay
    def orderDay(key: Column) = ui(seed, "o_date", key, 0, 2403)
    save("orders", range(s.orders).select(id.as("o_orderkey"),
      ui(seed, "o_cust", id, 0, s.customer - 1).as("o_custkey"),
      pick(seed, "o_status", id, Seq("F", "O", "P")).as("o_orderstatus"),
      money(seed, "o_total", id, 1000.0, 500000.0).as("o_totalprice"),
      ntzDay(orderDay(id) + day0).as("o_orderdate"),
      pick(seed, "o_prio", id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")))

    val lines = range(s.orders)
      .select(id.as("l_orderkey"),
        explode(sequence(lit(1L), ui(seed, "o_lines", id, 1, 7))).as("l_linenumber"))
      .withColumn("lid", col("l_orderkey") * 8 + col("l_linenumber"))
    val lid = col("lid")
    save("lineitem", lines.select(col("l_orderkey"),
      ui(seed, "l_part", lid, 0, s.part - 1).as("l_partkey"),
      ui(seed, "l_supp", lid, 0, s.supplier - 1).as("l_suppkey"),
      col("l_linenumber").cast("int").as("l_linenumber"),
      ui(seed, "l_qty", lid, 1, 50).cast("double").as("l_quantity"),
      money(seed, "l_price", lid, 900.0, 105000.0).as("l_extendedprice"),
      (ui(seed, "l_disc", lid, 0, 10) / 100.0).as("l_discount"),
      (ui(seed, "l_tax", lid, 0, 8) / 100.0).as("l_tax"),
      pick(seed, "l_rflag", lid, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, "l_lstatus", lid, Seq("F", "O")).as("l_linestatus"),
      ntzDay(orderDay(col("l_orderkey")) + ui(seed, "l_ship", lid, 1, 121) + day0).as("l_shipdate")))

    // events: 30 days of ordered records, uniform users and types
    val gapUs = 30L * 86400L * 1000000L / s.events
    save("events", range(s.events).select(id.as("event_id"),
      ntzMicros(lit(EventEpochUs) + id * gapUs + ui(seed, "e_jit", id, 0, gapUs - 1)).as("ts"),
      ui(seed, "e_user", id, 0, s.users - 1).as("user_id"),
      pick(seed, "e_type", id, Seq("click", "signup", "error", "view", "purchase")).as("event_type"),
      money(seed, "e_value", id, 0.01, 490.02).as("value"),
      format_string("{\"k\": %d}", ui(seed, "e_props", id, 0, 99)).as("props")))

    // documents: one in twenty copies an earlier document, half of those
    // with one word changed, so the dedup and clustering queries find
    // exact and near duplicates
    val isCopy = u(seed, "d_copy", id) < 0.05 && id > 0
    val base = when(isCopy, id - 1 - floor(u(seed, "d_base", id) * least(id, lit(50L))).cast("long"))
      .otherwise(id)
    val nWords = ui(seed, "d_len", col("base"), 10, 99)
    val mutateAt = when(col("copy") && u(seed, "d_mut", id) < 0.5,
      ui(seed, "d_pos", id, 1, 10)).otherwise(lit(0L))
    val vocabArr = array(vocab.map(lit): _*)
    def word(salt: String, key: Column, i: Column) =
      element_at(vocabArr, (pmod(xxhash64(lit(seed), lit(salt), key, i), lit(vocab.size.toLong)) + 1).cast("int"))
    val text = concat_ws(" ", transform(sequence(lit(1L), nWords), i =>
      when(i === col("mut"), word("d_mutw", id, i)).otherwise(word("d_word", col("base"), i))))
    save("documents", range(s.documents)
      .select(id, isCopy.as("copy"), base.as("base"))
      .withColumn("mut", mutateAt)
      .select(id.as("doc_id"), text.as("text"),
        element_at(array(Seq("en", "en", "en", "fr", "es", "zh", "de").map(lit): _*),
          (ui(seed, "d_lang", col("base"), 1, 7)).cast("int")).as("lang"),
        concat(lit("src"), (col("base") % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))

    // embeddings: ten labelled clusters on the unit sphere
    val raw = transform(sequence(lit(0L), lit(63L)), j =>
      (u(seed, "v_centre", col("label").cast("long") * 64 + j) - 0.5) * 0.6 +
        (u(seed, "v_noise", id * 64 + j) - 0.5))
    val norm = sqrt(aggregate(col("raw"), lit(0.0), (acc, x) => acc + x * x))
    save("embeddings", range(s.embeddings)
      .select(id, ui(seed, "v_label", id, 0, 9).cast("int").as("label"))
      .withColumn("raw", raw)
      .select(id.as("vec_id"),
        transform(col("raw"), x => (x / norm).cast("float")).as("embedding"),
        col("label")))
  }
}
