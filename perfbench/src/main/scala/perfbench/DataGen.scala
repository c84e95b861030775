package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic generator for the benchmark's tables.
  *
  * The base set has the shape, row counts and value domains of the
  * driver's sf0.1 tables (TESTDATA.md): region, nation, customer,
  * supplier, part, orders, lineitem, events, documents (5 % near-dup
  * re-sends marked " dup") and embeddings (64-dim unit vectors). Every
  * value is a hash of (data seed, column tag, row id), so the same seed
  * gives the same bytes under any partitioning.
  *
  * The x10 document replica follows `tools/gen_scaled_data.py`: keys are
  * offset per replica and tokens salted, so the corpus grows in
  * vocabulary rather than in exact duplicates. */
object DataGen {
  val BaseSeed = 42L
  private val KeyOffset = 100000000L

  /** Uniform double in [0, 1) from (seed, tag, id parts). */
  def u(seed: Long, tag: Int, parts: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(tag) +: parts): _*), lit(1L << 40))
      .cast("double") / lit((1L << 40).toDouble)

  private def pick(values: Seq[String], x: Column): Column =
    element_at(array(values.map(lit): _*),
      (floor(x * values.size) + 1).cast("int"))

  private def ntz(day0: String, days: Int, x: Column): Column =
    to_timestamp_ntz(date_add(lit(day0).cast("date"),
      floor(x * days).cast("int")).cast("string"))

  val vocab: Seq[String] = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  /** Space-joined text of 10..100 words drawn from [[vocab]]. */
  def text(seed: Long, tag: Int, id: Column): Column = {
    val n = (floor(u(seed, tag, id) * 91) + 10).cast("int")
    val v = array(vocab.map(lit): _*)
    array_join(transform(sequence(lit(1), n), i =>
      element_at(v, (pmod(xxhash64(lit(seed), lit(tag + 1), id, i),
        lit(vocab.size.toLong)) + 1).cast("int"))), " ")
  }

  def base(spark: SparkSession, seed: Long): Map[String, DataFrame] = {
    import spark.implicits._
    def ids(n: Long) = spark.range(n).toDF("id")
    val id = col("id")
    val acct = (x: Column) => round(lit(-999.99) + x * 10999.79, 2)
    val region = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name")
    val nation = (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val customer = ids(15000).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      floor(u(seed, 1, id) * 25).cast("int").as("c_nationkey"),
      acct(u(seed, 2, id)).as("c_acctbal"),
      pick(Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
        "FURNITURE"), u(seed, 3, id)).as("c_mktsegment"))
    val supplier = ids(1000).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      floor(u(seed, 4, id) * 25).cast("int").as("s_nationkey"),
      acct(u(seed, 5, id)).as("s_acctbal"))
    val part = ids(20000).select(id.as("p_partkey"),
      concat_ws(" ",
        pick(Seq("small", "new", "blue", "old", "large", "hot", "cold",
          "red"), u(seed, 6, id)),
        pick(Seq("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod",
          "anvil"), u(seed, 7, id))).as("p_name"),
      concat(lit("Brand#"), (floor(u(seed, 8, id) * 25) + 1).cast("string"))
        .as("p_brand"),
      pick(Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"),
        u(seed, 9, id)).as("p_type"),
      (floor(u(seed, 10, id) * 50) + 1).cast("int").as("p_size"),
      ((lit(9000L) + pmod(id, lit(1000L))).cast("double") / 10.0)
        .as("p_retailprice"))
    val orders = ids(150000).select(id.as("o_orderkey"),
      floor(u(seed, 11, id) * 15000).cast("long").as("o_custkey"),
      pick(Seq("O", "P", "F"), u(seed, 12, id)).as("o_orderstatus"),
      round(lit(1000.0) + u(seed, 13, id) * 499000.0, 2).as("o_totalprice"),
      ntz("1995-01-01", 2405, u(seed, 14, id)).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW"), u(seed, 15, id)).as("o_orderpriority"))
    val lineitem = ids(600000).select(
      floor(u(seed, 16, id) * 150000).cast("long").as("l_orderkey"),
      floor(u(seed, 17, id) * 20000).cast("long").as("l_partkey"),
      floor(u(seed, 18, id) * 1000).cast("long").as("l_suppkey"),
      (floor(u(seed, 19, id) * 7) + 1).cast("int").as("l_linenumber"),
      (floor(u(seed, 20, id) * 50) + 1).as("l_quantity"),
      round(lit(900.0) + u(seed, 21, id) * 104100.0, 2).as("l_extendedprice"),
      (floor(u(seed, 22, id) * 11) / 100.0).as("l_discount"),
      (floor(u(seed, 23, id) * 9) / 100.0).as("l_tax"),
      pick(Seq("N", "A", "R"), u(seed, 24, id)).as("l_returnflag"),
      pick(Seq("O", "F"), u(seed, 25, id)).as("l_linestatus"),
      ntz("1995-01-02", 2498, u(seed, 26, id)).as("l_shipdate"))
    val events = ids(100000).select(id.as("event_id"),
      // 2024-01-01T00:00:00Z in epoch micros
      (lit(1704067200000000L) +
        floor(u(seed, 27, id) * 2592000000000.0).cast("long"))
        .as("__us"),
      floor(u(seed, 28, id) * 1500).cast("long").as("user_id"),
      pick(Seq("signup", "click", "error", "view", "purchase"),
        u(seed, 29, id)).as("event_type"),
      round(-log(lit(1.0) - u(seed, 30, id)) * 50.0, 2).as("value"),
      format_string("{\"k\": %d}", floor(u(seed, 31, id) * 100).cast("int"))
        .as("props"))
      .withColumn("ts", to_timestamp_ntz(timestamp_micros(col("__us"))
        .cast("string")))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    // 5% of documents re-send an earlier document's text + " dup"
    val docBase = ids(5000).select(id.as("doc_id"), text(seed, 32, id).as("t0"),
      (u(seed, 34, id) < 0.05 && id >= 20).as("__dup"),
      floor(u(seed, 35, id) * id).cast("long").as("__src"))
    val documents = docBase.as("d")
      .join(docBase.select(col("doc_id").as("__src"), col("t0").as("__st")),
        Seq("__src"), "left")
      .select(col("doc_id"),
        when(col("__dup"), concat(col("__st"), lit(" dup")))
          .otherwise(col("t0")).as("text"),
        pick(Seq("en", "en", "en", "es", "fr", "zh", "de"),
          u(seed, 36, col("doc_id"))).as("lang"),
        concat(lit("src"), pmod(col("doc_id"), lit(20L)).cast("string"))
          .as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .orderBy("doc_id")
    val embeddings = ids(2000).select(id.as("vec_id"),
      floor(u(seed, 37, id) * 10).cast("int").as("label"))
      .withColumn("raw", gaussianVector(seed, 38, col("vec_id"),
        col("label"), 64))
      .select(col("vec_id"), unit(col("raw")).as("embedding"), col("label"))
    Map("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }

  /** Seeded Gaussian noise plus a small per-label offset; normalize with
    * [[unit]] in a separate projection so the noise is drawn once. */
  def gaussianVector(seed: Long, tag: Int, id: Column, label: Column,
                     dim: Int): Column =
    transform(sequence(lit(0), lit(dim - 1)), j =>
      sqrt(lit(-2.0) * log(lit(1.0) - u(seed, tag, id, j))) *
        cos(lit(2 * math.Pi) * u(seed, tag + 1, id, j)) +
        when(pmod(j, lit(10)) === label, lit(0.6)).otherwise(lit(0.0)))

  /** `v / |v|` as array<float>, for an array<double> column. */
  def unit(v: Column): Column = {
    val norm = sqrt(aggregate(v, lit(0.0), (a, x) => a + x * x))
    transform(v, x => (x / norm).cast("float"))
  }

  /** `factor`-fold replica of the documents: replica r offsets `doc_id`
    * by r * 100M and salts every token with `_r` (r > 0). */
  def replicateDocuments(docs: DataFrame, factor: Int): DataFrame = {
    val r = col("__r")
    docs.crossJoin(docs.sparkSession.range(factor).toDF("__r"))
      .withColumn("doc_id", col("doc_id") + r * KeyOffset)
      .withColumn("text", when(r === 0, col("text"))
        .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
          concat(lit("$1_"), r.cast("string")))))
      .drop("__r")
  }

  /** Write tables as parquet under `dir` (`<dir>/<table>.parquet`), one
    * file each unless `files` asks for more. Rows are generated in
    * parallel, then written in generation order, so the bytes are the
    * same on every run. */
  def write(tables: Map[String, DataFrame], dir: String,
            files: Int = 1): Unit =
    tables.foreach { case (name, df) =>
      df.localCheckpoint(true).coalesce(files)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}
