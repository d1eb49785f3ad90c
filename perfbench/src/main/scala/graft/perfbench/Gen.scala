package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of (row id,
  * seed) through `xxhash64`, so the same seed gives the same rows under
  * any partitioning, and the program under test only ever sees the
  * generated frames.
  */
object Gen {

  /** Uniform [0, 1) from (id, salt): the top 53 bits of xxhash64. */
  def unif(id: Column, salt: Long): Column =
    shiftrightunsigned(xxhash64(id, lit(salt)), 11).cast("double") / lit(9007199254740992.0)

  /** Uniform integer in [0, n). */
  def pick(id: Column, salt: Long, n: Int): Column =
    floor(unif(id, salt) * n).cast("int")

  private def oneOf(id: Column, salt: Long, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), pick(id, salt, xs.size) + 1)

  // ── vis_session: an ie19-shaped spreadsheet (FIXTURES.md §1) ────────

  /** `country` (string key), `region` (nominal, 6 values), numeric
    * clusters `exp0..exp{k-1}` and `imp0..imp{k-1}` (ints). Each
    * country has a trade size; its exports and imports are that size
    * times per-column factors and noise, so each cluster is correlated
    * the way a trade table is. */
  def sheet(spark: SparkSession, seed: Long, rows: Int, k: Int): DataFrame = {
    val id = col("id")
    val regions = Seq("Africa", "Americas", "Asia", "Europe", "Middle East", "Oceania")
    val size = exp(unif(id, seed) * 6.0) * 100.0
    def cluster(p: String, salt: Long): Seq[Column] = (0 until k).map { j =>
      (size * (lit(0.5 + 0.1 * j) + unif(id, seed * 131 + salt * 1000 + j)))
        .cast("long").as(s"$p$j")
    }
    spark.range(0, rows, 1, 1).select(
      (Seq(format_string("country_%03d", id).as("country"),
        oneOf(id, seed * 7 + 3, regions).as("region")) ++
        cluster("exp", 1) ++ cluster("imp", 2)): _*)
  }

  // ── dedup_scale: planted-twin corpus (scheme of LshShuffleProbe) ────

  /** A corpus and its planted ground truth.
    *  - `base` docs 0..n-1: 32 tokens `w<seed>x<id>_<j>`, unique per doc,
    *    so no two base docs share a shingle;
    *  - twins (id n+i, `twinRate` of base docs, chosen by hash): the
    *    first 26 tokens of doc i plus 6 tokens of their own;
    *  - exact copies (id 2n+i, `copyRate` of base docs): doc i's text.
    * `planted` holds one (orig, dup, kind) row per twin/copy. */
  final case class Corpus(docs: DataFrame, planted: DataFrame)

  def corpus(spark: SparkSession, seed: Long, n: Long,
             twinRate: Double, copyRate: Double): Corpus = {
    def tokens(owner: Column, from: Int, until: Int, tag: String): Column =
      transform(sequence(lit(from), lit(until - 1)),
        j => concat(lit(s"$tag$seed"), lit("x"), owner.cast("string"), lit("_"), j.cast("string")))
    val base = spark.range(0, n, 1, 1).select(col("id").as("orig"))
    val docs0 = base.select(col("orig").as("id"),
      array_join(tokens(col("orig"), 0, 32, "w"), " ").as("text"))
    // two-step select: the original id is carried under its own name
    // before the token lambda refers to it
    val twinOf = base.where(unif(col("orig"), seed * 3 + 1) < twinRate)
      .select(col("orig"), (col("orig") + n).as("id"))
    val twins = twinOf.select(col("id"), array_join(concat(
      tokens(col("orig"), 0, 26, "w"), tokens(col("id"), 26, 32, "t")), " ").as("text"))
    val copyOf = base.where(unif(col("orig"), seed * 3 + 2) < copyRate)
      .select(col("orig"), (col("orig") + 2 * n).as("id"))
    val copies = copyOf.select(col("id"),
      array_join(tokens(col("orig"), 0, 32, "w"), " ").as("text"))
    val planted = twinOf.select(col("orig"), col("id").as("dup"), lit("twin").as("kind"))
      .unionByName(copyOf.select(col("orig"), col("id").as("dup"), lit("copy").as("kind")))
    Corpus(docs0.unionByName(twins).unionByName(copies), planted)
  }

  // ── headline: the star-schema + corpus tables the declared queries read ─

  private val words = Seq("a", "agg", "batch", "column", "data", "fast", "filter",
    "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "spark", "stream", "table", "the", "value", "vector", "window",
    "customer", "index", "shuffle", "sort")

  /** Writes `region nation customer supplier part orders lineitem events
    * documents embeddings` as `<dir>/<name>.parquet`, shaped like the
    * repository's sf fixtures (same columns, types and value domains)
    * with `sf` scaling the row counts the same way. One file per table. */
  def writeTables(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    def n(perSf: Double): Long = math.max(1L, math.round(perSf * sf))
    def rng(rows: Long) = spark.range(0, rows, 1, 1)
    val id = col("id")
    def money(salt: Long, lo: Double, hi: Double): Column =
      round(lit(lo) + unif(id, seed + salt) * (hi - lo), 2)
    def day(salt: Long, from: String, days: Int): Column =
      date_add(lit(from).cast("date"), pick(id, seed + salt, days)).cast("timestamp_ntz")
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    val customers = n(150000); val parts = n(200000); val suppliers = n(10000)
    val orders = n(1500000); val lines = n(6000000)
    write("region", rng(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        id.cast("int") + 1).as("r_name")))
    write("nation", rng(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      pmod(id, lit(5)).cast("int").as("n_regionkey")))
    write("customer", rng(customers).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      pick(id, seed + 1, 25).as("c_nationkey"), money(2, -999.99, 9999.99).as("c_acctbal"),
      oneOf(id, seed + 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment")))
    write("supplier", rng(suppliers).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      pick(id, seed + 4, 25).as("s_nationkey"), money(5, -999.99, 9999.99).as("s_acctbal")))
    write("part", rng(parts).select(id.as("p_partkey"),
      concat_ws(" ", oneOf(id, seed + 6, Seq("red", "blue", "small", "new", "hot", "green")),
        oneOf(id, seed + 7, Seq("bolt", "ring", "widget", "anvil", "rod", "plate"))).as("p_name"),
      concat(lit("Brand#"), (pick(id, seed + 8, 25) + 1).cast("string")).as("p_brand"),
      oneOf(id, seed + 9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      (pick(id, seed + 10, 50) + 1).as("p_size"),
      round(lit(900.0) + pmod(id, lit(1000)) * 0.1, 1).as("p_retailprice")))
    write("orders", rng(orders).select(id.as("o_orderkey"),
      pick(id, seed + 11, customers.toInt).cast("long").as("o_custkey"),
      oneOf(id, seed + 12, Seq("F", "O", "P")).as("o_orderstatus"),
      money(13, 1000.0, 500000.0).as("o_totalprice"),
      day(14, "1995-01-01", 2404).as("o_orderdate"),
      oneOf(id, seed + 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")))
    write("lineitem", rng(lines).select(
      pick(id, seed + 16, orders.toInt).cast("long").as("l_orderkey"),
      pick(id, seed + 17, parts.toInt).cast("long").as("l_partkey"),
      pick(id, seed + 18, suppliers.toInt).cast("long").as("l_suppkey"),
      (pick(id, seed + 19, 7) + 1).as("l_linenumber"),
      (pick(id, seed + 20, 50) + 1).cast("double").as("l_quantity"),
      money(21, 900.0, 100000.0).as("l_extendedprice"),
      (pick(id, seed + 22, 11) / 100.0).as("l_discount"),
      (pick(id, seed + 23, 9) / 100.0).as("l_tax"),
      oneOf(id, seed + 24, Seq("A", "N", "R")).as("l_returnflag"),
      oneOf(id, seed + 25, Seq("F", "O")).as("l_linestatus"),
      day(26, "1995-01-02", 2404).as("l_shipdate")))
    val users = n(15000).toInt
    write("events", rng(n(1000000)).select(id.as("event_id"),
      // ascending timestamps over 30 days with microsecond jitter
      timestamp_micros(lit(1704067200000000L) +
        (id * lit(2592000000000L / n(1000000))) +
        pick(id, seed + 27, 1000000).cast("long")).cast("timestamp_ntz").as("ts"),
      pick(id, seed + 28, users).cast("long").as("user_id"),
      oneOf(id, seed + 29, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      round(exp(unif(id, seed + 30) * 6.2) - 1.0 + lit(0.01), 2).as("value"),
      format_string("{\"k\": %d}", pick(id, seed + 31, 100)).as("props")))
    // documents: 10–90 vocabulary words; ~1 in 600 repeats an earlier
    // document's text exactly and ~5% carry the marker word "dup"
    val docs = n(50000)
    val src = when(unif(id, seed + 33) < 0.0016, pick(id, seed + 34, 1000).cast("long")).otherwise(id)
    val textOf = (s: Column) => concat_ws(" ", transform(sequence(lit(1), pick(s, seed + 32, 81) + 10),
      j => element_at(array(words.map(lit): _*),
        pick(s * 1000 + j, seed + 35, words.size) + 1)))
    val text = when(unif(id, seed + 36) < 0.05,
      concat(textOf(src), lit(" dup"))).otherwise(textOf(src))
    write("documents", rng(docs).select(id.as("doc_id"), text.as("text"),
      oneOf(id, seed + 37, Seq("en", "en", "en", "de", "es", "fr", "zh")).as("lang"),
      concat(lit("src"), pick(id, seed + 38, 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    // embeddings: 64-dim float vectors around 10 label centroids
    write("embeddings", rng(n(50000)).select(id.as("vec_id"),
      transform(sequence(lit(0), lit(63)), d =>
        ((unif(pick(id, seed + 39, 10).cast("long") * 64 + d, seed + 40) - 0.5) * 0.2 +
          (unif(id * 64 + d, seed + 41) - 0.5) * 0.1).cast("float")).as("embedding"),
      pick(id, seed + 39, 10).as("label")))
  }
}
