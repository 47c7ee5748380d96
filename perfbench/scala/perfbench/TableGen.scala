package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{Tables => Readers}

/** Seeded generator for the tables the query registry reads: the TPC-H
  * style star (region, nation, customer, supplier, part, orders, lineitem)
  * plus events, documents and embeddings, with the column names, types
  * and value domains the registry's queries expect. Row counts scale with
  * `sf` as in TPC-H (lineitem = 6M × sf), with at least 500 documents and
  * embeddings. Every value is a function of the row id and the seed, so
  * the tables do not depend on partitioning. Each table is written as one
  * parquet file under `<dir>/<table>.parquet/`.
  *
  * The row counts, value ranges and distributions follow the tables the
  * engine's correctness suite runs on; `README.md` records how the two
  * were compared. */
object TableGen {
  val Tables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings")

  private val Vocab = Seq("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan",
    "batch")

  private def n(sf: Double, perSf1: Double): Long = math.max(1L, math.round(perSf1 * sf))

  /** Rows per table at scale factor `sf`. */
  def rows(sf: Double): Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L, "customer" -> n(sf, 150000), "supplier" -> n(sf, 10000),
    "part" -> n(sf, 200000), "orders" -> n(sf, 1500000), "lineitem" -> n(sf, 6000000),
    "events" -> n(sf, 1000000), "documents" -> math.max(500L, n(sf, 50000)),
    "embeddings" -> math.max(500L, n(sf, 20000)))

  /** Opens every table through the engine's table readers and fails
    * unless each holds the rows generated. */
  def checkRows(spark: SparkSession, dir: String, sf: Double): Unit = {
    val got = Tables.map { t =>
      t -> (if (t == "events") Readers.events(spark, dir) else Readers.table(spark, dir, t)).count()
    }.toMap
    if (got != rows(sf)) sys.error(s"tables under $dir read back $got rows, want ${rows(sf)}")
  }

  def generate(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    val r = rows(sf)
    val nCust = r("customer"); val nSupp = r("supplier"); val nPart = r("part")
    val nOrders = r("orders"); val nLines = r("lineitem"); val nEvents = r("events")
    val nUsers = n(sf, 15000); val nDocs = r("documents"); val nVecs = r("embeddings")

    // uniform [0, 1) from (row id, salt)
    def u(salt: Int): Column =
      pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(1L << 40)).cast("double") / (1L << 40).toDouble
    def pick(salt: Int, values: Seq[String]): Column =
      element_at(array(values.map(lit): _*), (u(salt) * values.size).cast("int") + 1)
    def below(salt: Int, bound: Long): Column = (u(salt) * bound).cast("long")
    def day(salt: Int, from: String, days: Int): Column =
      date_add(lit(from).cast("date"), (u(salt) * days).cast("int")).cast("timestamp_ntz")
    def ids(count: Long): DataFrame = spark.range(0, count, 1, 4).toDF()
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    write("region", spark.createDataFrame(spark.sparkContext.parallelize(
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (name, i) => Row(i, name) }, 1),
      StructType(Seq(StructField("r_regionkey", IntegerType), StructField("r_name", StringType)))))
    write("nation", ids(25).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")))
    write("customer", ids(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      below(1, 25).cast("int").as("c_nationkey"),
      round(lit(-999.99) + u(2) * 10999.79, 2).as("c_acctbal"),
      pick(3, Seq("FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD")).as("c_mktsegment")))
    write("supplier", ids(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      below(1, 25).cast("int").as("s_nationkey"),
      round(lit(-999.99) + u(2) * 10999.79, 2).as("s_acctbal")))
    write("part", ids(nPart).select(
      col("id").as("p_partkey"),
      concat(pick(1, Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")), lit(" "),
        pick(2, Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"))).as("p_name"),
      concat(lit("Brand#"), (below(3, 25) + 1).cast("string")).as("p_brand"),
      pick(4, Seq("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")).as("p_type"),
      (below(5, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000) / 10.0, 1).as("p_retailprice")))
    write("orders", ids(nOrders).select(
      col("id").as("o_orderkey"),
      below(1, nCust).as("o_custkey"),
      pick(2, Seq("O", "F", "P")).as("o_orderstatus"),
      round(lit(1000.0) + u(3) * 499000, 2).as("o_totalprice"),
      day(4, "1995-01-01", 2405).as("o_orderdate"),
      pick(5, Seq("5-LOW", "4-NOT SPECIFIED", "2-HIGH", "3-MEDIUM", "1-URGENT")).as("o_orderpriority")))
    write("lineitem", ids(nLines)
      .withColumn("qty", (below(4, 50) + 1).cast("double"))
      .select(
        below(1, nOrders).as("l_orderkey"),
        below(2, nPart).as("l_partkey"),
        below(3, nSupp).as("l_suppkey"),
        (below(5, 7) + 1).cast("int").as("l_linenumber"),
        col("qty").as("l_quantity"),
        round(lit(900.0) + u(6) * 104100, 2).as("l_extendedprice"),
        round(u(7) * 0.1, 2).as("l_discount"),
        round(u(8) * 0.08, 2).as("l_tax"),
        pick(9, Seq("N", "A", "R")).as("l_returnflag"),
        pick(10, Seq("O", "F")).as("l_linestatus"),
        day(11, "1995-01-02", 2499).as("l_shipdate")))
    // events arrive in time order over 30 days from 2024-01-01 00:00 UTC
    val stepUs = 30L * 86400 * 1000000 / nEvents
    write("events", ids(nEvents).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * stepUs + below(1, stepUs))
        .cast("timestamp_ntz").as("ts"),
      below(2, nUsers).as("user_id"),
      pick(3, Seq("error", "view", "signup", "purchase", "click")).as("event_type"),
      // exponential, mean 50
      greatest(lit(0.01), round(-log1p(-u(4)) * 50, 2)).as("value"),
      format_string("{\"k\": %d}", below(5, 100)).as("props")))
    // 5% of documents copy an earlier one plus a " dup" marker, each
    // source at most once, so no two texts are equal: the near-duplicate
    // load the dedup queries find
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    val copied = scala.collection.mutable.Set[Int]()
    val docs = (0 until nDocs.toInt).map { id =>
      val r = new java.util.SplittableRandom(RawZone.mix(seed + 1, id.toLong))
      val text =
        if (id > 0 && copied.size < id && r.nextDouble() < 0.05) {
          val src = Iterator.continually(r.nextInt(id)).find(!copied(_)).get
          copied += src
          texts(src) + " dup"
        } else Seq.fill(10 + r.nextInt(90))(Vocab(r.nextInt(Vocab.size))).mkString(" ")
      texts += text
      val lang = if (r.nextDouble() < 0.44) "en" else Seq("zh", "fr", "es", "de")(r.nextInt(4))
      Row(id.toLong, text, lang, s"src${id % 20}", text.length.toLong)
    }
    write("documents", spark.createDataFrame(spark.sparkContext.parallelize(docs, 1),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))))
    // unit vectors around ten label centres
    val centre = new java.util.SplittableRandom(seed)
    val centres = Array.fill(10, 64)(centre.nextGaussian())
    val vecs = (0L until nVecs).map { id =>
      val r = new java.util.SplittableRandom(RawZone.mix(seed, id))
      val label = r.nextInt(10)
      val v = centres(label).map(_ + 0.6 * r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(id, v.map(x => (x / norm).toFloat).toSeq, label)
    }
    write("embeddings", spark.createDataFrame(spark.sparkContext.parallelize(vecs, 1),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))))
  }
}
