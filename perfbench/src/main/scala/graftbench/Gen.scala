package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every value is a pure function of (seed, row
  * key, column salt) — Spark columns hash with `xxhash64`, driver-side
  * draws use a `SplittableRandom` seeded from (seed, salt) — so one seed
  * always yields the same inputs, whatever the partitioning. The program
  * under test only ever sees what this object writes or returns.
  *
  * Table shapes follow the TPC-H-ish fixture family the registry runs on
  * (`region nation customer supplier part orders lineitem events
  * documents embeddings`: same schemas, same row counts per `sf`,
  * sf 0.01 = 60 k lineitem rows). The tables are generated, not copied,
  * because the benchmark reads nothing outside its own checkout;
  * [[Parity]] compares the registry's cost and result sizes on them with
  * a fixture directory. One deliberate difference: the fixtures' lineitem
  * has 1-13 lines per order and repeats (`l_orderkey`, `l_linenumber`)
  * pairs, while this one has four lines per order and a unique composite
  * key, so it can be a sync source.
  */
object Gen {

  val LinesPerOrder = 4
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  val LineitemPk: Seq[String] = Seq("l_orderkey", "l_linenumber")
  val VersionCol = "_v"

  final case class Sizes(customer: Long, supplier: Long, part: Long, orders: Long,
                         events: Long, documents: Long, embeddings: Long) {
    def lineitem: Long = orders * LinesPerOrder
  }

  def sizes(sf: Double): Sizes = {
    def n(per: Double) = math.max(1L, math.round(per * sf))
    Sizes(customer = n(150000), supplier = n(10000), part = n(200000),
      orders = n(1500000), events = n(1000000), documents = n(50000),
      embeddings = n(50000))
  }

  /** Driver-side stream for one purpose; distinct salts never share draws. */
  def rng(seed: Long, salt: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt.hashCode.toLong)

  /** Uniform 64-bit hash of (seed, key columns, salt). */
  private def h(seed: Long, salt: String, keys: Column*): Column =
    xxhash64((lit(seed) +: keys :+ lit(salt)): _*)

  private def uniform(seed: Long, salt: String, n: Long, keys: Column*): Column =
    pmod(h(seed, salt, keys: _*), lit(n))

  /** Uniform double in [lo, hi), rounded to `scale` decimals. */
  private def money(seed: Long, salt: String, lo: Double, hi: Double, scale: Int,
                    keys: Column*): Column =
    round(lit(lo) + uniform(seed, salt, 1000003L, keys: _*) * lit((hi - lo) / 1000003.0), scale)

  private def pick(seed: Long, salt: String, values: Seq[String], keys: Column*): Column =
    element_at(array(values.map(lit): _*), (uniform(seed, salt, values.size.toLong, keys: _*) + 1).cast("int"))

  private val Day = 86400L * 1000000L
  private val Epoch1995 = 788918400L * 1000000L // 1995-01-01 UTC, in micros

  /** The fixture family's vocabulary: 30 words drawn uniformly, plus
    * `dup`, which marks a near-duplicate. */
  private val Words = Seq("key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "merge", "batch", "spark", "the", "line", "sort", "window", "data", "column",
    "join", "small", "big", "customer", "query", "order", "group", "stream", "filter",
    "vector", "a")
  private val DupWord = "dup"

  def region(spark: SparkSession): DataFrame =
    spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name"))

  def nation(spark: SparkSession): DataFrame =
    spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey"))

  def customer(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val k = col("id")
    spark.range(n).select(k.as("c_custkey"),
      format_string("Customer#%09d", k).as("c_name"),
      uniform(seed, "c_nation", 25, k).cast("int").as("c_nationkey"),
      money(seed, "c_acctbal", -999.99, 9999.99, 2, k).as("c_acctbal"),
      pick(seed, "c_seg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), k)
        .as("c_mktsegment"))
  }

  def supplier(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val k = col("id")
    spark.range(n).select(k.as("s_suppkey"),
      format_string("Supplier#%09d", k).as("s_name"),
      uniform(seed, "s_nation", 25, k).cast("int").as("s_nationkey"),
      money(seed, "s_acctbal", -999.99, 9999.99, 2, k).as("s_acctbal"))
  }

  def part(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val k = col("id")
    val adj = Seq("small", "red", "blue", "hot", "large", "green", "cold", "shiny")
    val noun = Seq("ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "valve")
    spark.range(n).select(k.as("p_partkey"),
      concat_ws(" ", pick(seed, "p_adj", adj, k), pick(seed, "p_noun", noun, k)).as("p_name"),
      concat(lit("Brand#"), uniform(seed, "p_brand", 25, k) + 1).as("p_brand"),
      pick(seed, "p_type", Seq("ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"), k)
        .as("p_type"),
      (uniform(seed, "p_size", 50, k) + 1).cast("int").as("p_size"),
      (lit(900.0) + uniform(seed, "p_price", 1100, k)).cast("double").as("p_retailprice"))
  }

  def orders(spark: SparkSession, seed: Long, n: Long, customers: Long): DataFrame = {
    val k = col("id")
    spark.range(n).select(k.as("o_orderkey"),
      uniform(seed, "o_cust", customers, k).as("o_custkey"),
      pick(seed, "o_status", Seq("F", "O", "P"), k).as("o_orderstatus"),
      money(seed, "o_total", 900.0, 500000.0, 2, k).as("o_totalprice"),
      timestamp_micros(lit(Epoch1995) + uniform(seed, "o_date", 2404, k) * lit(Day)).as("o_orderdate"),
      pick(seed, "o_prio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), k)
        .as("o_orderpriority"))
  }

  /** Lineitem value columns for the keys in `keyed` (which carries
    * `l_orderkey`, `l_linenumber`); `gen` salts the values, so a later
    * generation of the same key is an update with different contents. */
  def lineitemValues(keyed: DataFrame, seed: Long, gen: Column, parts: Long,
                     suppliers: Long): DataFrame = {
    val ks = Seq(col("l_orderkey"), col("l_linenumber"), gen)
    keyed.select(col("l_orderkey"), col("l_linenumber"),
      uniform(seed, "l_part", parts, ks: _*).as("l_partkey"),
      uniform(seed, "l_supp", suppliers, ks: _*).as("l_suppkey"),
      (uniform(seed, "l_qty", 50, ks: _*) + 1).cast("double").as("l_quantity"),
      money(seed, "l_price", 900.0, 105000.0, 2, ks: _*).as("l_extendedprice"),
      (uniform(seed, "l_disc", 11, ks: _*) / 100.0).as("l_discount"),
      (uniform(seed, "l_tax", 9, ks: _*) / 100.0).as("l_tax"),
      pick(seed, "l_rflag", Seq("A", "N", "R"), ks: _*).as("l_returnflag"),
      pick(seed, "l_lstatus", Seq("O", "F"), ks: _*).as("l_linestatus"),
      timestamp_micros(lit(Epoch1995) + uniform(seed, "l_ship", 2500, ks: _*) * lit(Day))
        .as("l_shipdate"))
  }

  /** Base lineitem: `orders` × [[LinesPerOrder]] rows, generation 0. */
  def lineitem(spark: SparkSession, seed: Long, orders: Long, parts: Long,
               suppliers: Long): DataFrame = {
    val keys = spark.range(orders * LinesPerOrder).select(
      (col("id") / LinesPerOrder).cast("long").as("l_orderkey"),
      (col("id") % LinesPerOrder + 1).cast("int").as("l_linenumber"))
    lineitemValues(keys, seed, lit(0), parts, suppliers)
  }

  /** `_v` for the base rows: a version in [1, maxVersion] per key, as a
    * source's xmin would be after years of writes. */
  def withBaseVersion(li: DataFrame, seed: Long, maxVersion: Long): DataFrame =
    li.withColumn(VersionCol,
      uniform(seed, "l_v0", maxVersion, col("l_orderkey"), col("l_linenumber")) + 1)

  /** `events`, with `ts` spread over `days` days ending at `endMicros`
    * (an hour-aligned instant). Every ts sits at least one hour away from
    * any whole-day boundary before `endMicros`, so a `<n> days` time
    * window keeps the same rows whenever it is evaluated within an hour
    * of `endMicros`. */
  def events(spark: SparkSession, seed: Long, n: Long, users: Long, endMicros: Long,
             days: Int): DataFrame = {
    val k = col("id")
    val hour = 3600L * 1000000L
    val dayIdx = uniform(seed, "e_day", days.toLong, k)
    val inDay = lit(hour) + uniform(seed, "e_off", 22L * 3600L * 1000L, k) * lit(1000L)
    spark.range(n).select(k.as("event_id"),
      timestamp_micros(lit(endMicros) - dayIdx * lit(Day) - inDay).as("ts"),
      uniform(seed, "e_user", users, k).as("user_id"),
      pick(seed, "e_type", Seq("view", "click", "signup", "purchase", "error"), k).as("event_type"),
      money(seed, "e_val", 0.01, 490.0, 2, k).as("value"),
      concat(lit("{\"k\": "), uniform(seed, "e_k", 100, k), lit("}")).as("props"))
  }

  /** `documents`, shaped like the fixture family's: 10 to 99 words drawn
    * uniformly from [[Words]]; one doc in 20 repeats the text of its
    * predecessor with its last word replaced by `dup`, so dedup operators
    * find near-duplicates. */
  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val vocab = array(Words.map(lit): _*)
    val k = col("id")
    val src = when(uniform(seed, "d_dup", 20, k) === 0 && k > 0, k - 1).otherwise(k)
    val nWords = (uniform(seed, "d_len", 90, src) + 10).cast("int")
    val word = (i: Column) => element_at(vocab, (uniform(seed, "d_w", Words.size.toLong, src, i) + 1).cast("int"))
    val words = transform(sequence(lit(1), nWords), i =>
      when(i === nWords && src =!= k, lit(DupWord)).otherwise(word(i)))
    spark.range(n).select(k.as("doc_id"), concat_ws(" ", words).as("text"),
      pick(seed, "d_lang", Seq("en", "en", "en", "zh", "de", "fr", "es"), k).as("lang"),
      concat(lit("src"), k % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** `embeddings`: `dim` components, each normal with mean 0 and standard
    * deviation 0.125 (Box–Muller over two hashed uniforms), as in the
    * fixture family. */
  def embeddings(spark: SparkSession, seed: Long, n: Long, dim: Int = 64): DataFrame = {
    val k = col("id")
    def unit(salt: String, i: Column) = (uniform(seed, salt, 1000000L, k, i) + 1) / 1000001.0
    spark.range(n).select(k.as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), i =>
        (sqrt(log(unit("v_r", i)) * -2.0) * cos(unit("v_a", i) * (2 * math.Pi)) * 0.125)
          .cast("float")).as("embedding"),
      uniform(seed, "v_label", 10, k).cast("int").as("label"))
  }

  /** Write every table of `sizes` under `dir` as `<table>.parquet`. The
    * optional `lineitemVersion` adds `_v` to lineitem and orders. */
  def writeDatabase(spark: SparkSession, seed: Long, s: Sizes, dir: String,
                    eventsEndMicros: Long, tables: Seq[String] = Tables,
                    maxVersion: Option[Long] = None): Unit = {
    def frame(t: String): DataFrame = t match {
      case "region" => region(spark)
      case "nation" => nation(spark)
      case "customer" => customer(spark, seed, s.customer)
      case "supplier" => supplier(spark, seed, s.supplier)
      case "part" => part(spark, seed, s.part)
      case "orders" =>
        val o = orders(spark, seed, s.orders, s.customer)
        maxVersion.fold(o)(v => o.withColumn(VersionCol,
          uniform(seed, "o_v0", v, col("o_orderkey")) + 1))
      case "lineitem" =>
        val li = lineitem(spark, seed, s.orders, s.part, s.supplier)
        maxVersion.fold(li)(v => withBaseVersion(li, seed, v))
      case "events" => events(spark, seed, s.events, math.max(1L, s.customer / 10),
        eventsEndMicros, 30)
      case "documents" => documents(spark, seed, s.documents)
      case "embeddings" => embeddings(spark, seed, s.embeddings)
    }
    // one file per table, as in the fixture family
    tables.foreach(t => frame(t).coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet"))
  }

  // ---- change batches ---------------------------------------------------

  /** A large change batch over a lineitem source, expressed as the full
    * next state of the source: a key is deleted with probability
    * `deletePermille`‰, a survivor is rewritten with version `version`
    * with probability rising linearly with its order key (recent orders
    * change most; `updatePermille`‰ on average), and `newOrders` fresh
    * orders from `firstNewOrder` on are appended. The state is a pure
    * function of (seed, batch, previous state). */
  def nextLineitemState(prev: DataFrame, seed: Long, batch: Int, version: Long,
                        firstNewOrder: Long, newOrders: Long, parts: Long,
                        suppliers: Long, updatePermille: Int,
                        deletePermille: Int): DataFrame = {
    val spark = prev.sparkSession
    val key = Seq(col("l_orderkey"), col("l_linenumber"))
    val draw = uniform(seed, s"batch$batch", 1000, key: _*)
    val kept = prev.filter(draw >= deletePermille)
    val recency = col("l_orderkey") / lit(firstNewOrder.toDouble)
    val updated = draw < lit(deletePermille) + lit(2.0 * updatePermille) * recency
    val rewritten = lineitemValues(kept.filter(updated).select(key: _*), seed, lit(batch), parts,
      suppliers).withColumn(VersionCol, lit(version))
    val fresh = spark.range(newOrders * LinesPerOrder).select(
      (lit(firstNewOrder) + col("id") / LinesPerOrder).cast("long").as("l_orderkey"),
      (col("id") % LinesPerOrder + 1).cast("int").as("l_linenumber"))
    val inserted = lineitemValues(fresh, seed, lit(batch), parts, suppliers)
      .withColumn(VersionCol, lit(version))
    kept.filter(!updated).unionByName(rewritten).unionByName(inserted)
  }

  /** Draw an order key with recent-key skew: the distance back from the
    * newest order is exponential with mean `recentMean`. */
  def recentOrder(r: SplittableRandom, newest: Long, recentMean: Double): Long = {
    val back = math.floor(-math.log(1.0 - r.nextDouble()) * recentMean).toLong
    math.max(0L, newest - back)
  }

  // ---- rules, lookups, order -------------------------------------------

  /** Seeded `TableRules` inputs: lineitem keeps `l_quantity >= q` with
    * q in [6, 20], events keep a window of 10-20 days (of 30). */
  final case class Rules(quantityFloor: Int, windowDays: Int) {
    def lineitemPredicate: String = s"l_quantity >= $quantityFloor"
    def window: String = s"$windowDays days"
  }

  def rules(seed: Long): Rules = {
    val r = rng(seed, "rules")
    Rules(quantityFloor = 6 + r.nextInt(15), windowDays = 10 + r.nextInt(11))
  }

  /** `n` point-lookup keys over orders `[0, orders)`, skewed to recent
    * orders like the change stream; a deleted key may be drawn (it must
    * then read back nothing). */
  def lookupKeys(seed: Long, round: Int, n: Int, orders: Long): Seq[(Long, Int)] = {
    val r = rng(seed, s"lookup$round")
    Seq.fill(n)((recentOrder(r, orders - 1, orders / 8.0), 1 + r.nextInt(LinesPerOrder)))
  }

  /** Seeded Fisher–Yates permutation. */
  def permute[A](seed: Long, xs: Seq[A]): Seq[A] = {
    val a = xs.toArray[Any]
    val r = rng(seed, "order")
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.map(_.asInstanceOf[A])
  }
}
