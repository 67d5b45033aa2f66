package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ddl.{HadoopPathFormat, Tables}
import graft.model.CodecSpec

/** Synthetic stand-ins for the TPC-H-ish star schema, the `events` stream
  * and the `documents`/`embeddings` corpora that `SparkEntry.queries` read.
  * Column names, types, value domains, row counts, key cardinalities and
  * distributions are fitted to the project's test fixtures at the same scale
  * factor; `perfbench/tablestats.py` measures both and README.md lists the
  * comparison. Every value is a pure function of (table, row id, dataSeed),
  * so the tables and therefore the query outputs are identical on every run.
  *
  * {{{
  * perfbench.SfData <dir> <sf>   # write the tables to <dir>/<table>.parquet
  * }}}
  */
object SfData {

  val Names: Seq[String] =
    Seq("region", "nation", "customer", "orders", "lineitem", "events", "documents", "embeddings")

  /** The data seed of the benchmark's tables; the fixtures use 42 as well. */
  val DataSeed = 42L

  /** Rows of each table at scale factor `sf`. The corpora have a floor of
    * 500 rows, as in the fixtures. */
  def rows(sf: Double): Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L,
    "customer" -> (150000 * sf).toLong, "orders" -> (1500000 * sf).toLong,
    "lineitem" -> (6000000 * sf).toLong, "events" -> (1000000 * sf).toLong,
    "documents" -> math.max(500L, (50000 * sf).toLong),
    "embeddings" -> math.max(500L, (20000 * sf).toLong))

  private val Vocab = Seq("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan",
    "batch")

  /** Share of documents that copy another document's text plus " dup". */
  private val NearDupRate = 0.05

  /** Uniform double in [0, 1) keyed by (dataSeed, tag, key...). */
  private def u(dataSeed: Long, tag: String, key: Column*): Column =
    pmod(xxhash64((lit(dataSeed) +: lit(tag) +: key): _*), lit(1000000007L)).cast("double") /
      1000000007.0

  private def pick(values: Seq[String], r: Column): Column =
    element_at(array(values.map(lit): _*), (floor(r * values.size) + 1).cast("int"))

  private def day(start: String, r: Column, days: Int): Column =
    to_timestamp(date_add(lit(start).cast("date"), floor(r * days).cast("int")))

  /** Exponential variate with the given mean, from a uniform `r`. */
  private def exponential(r: Column, mean: Double): Column = -log(lit(1.0) - r) * mean

  def table(spark: SparkSession, name: String, sf: Double, dataSeed: Long): DataFrame = {
    val n = rows(sf)
    val id = col("id")
    def range(t: String) = spark.range(0, n(t), 1, 1)
    def r(tag: String, key: Column*) = u(dataSeed, tag, (id +: key): _*)
    name match {
      case "region" =>
        range("region").select(id.cast("int").as("r_regionkey"),
          element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
            (id + 1).cast("int")).as("r_name"))
      case "nation" =>
        range("nation").select(id.cast("int").as("n_nationkey"),
          concat(lit("NATION_"), id).as("n_name"), pmod(id, lit(5L)).cast("int").as("n_regionkey"))
      case "customer" =>
        range("customer").select(id.as("c_custkey"),
          format_string("Customer#%09d", id).as("c_name"),
          floor(r("nk") * 25).cast("int").as("c_nationkey"),
          round(r("bal") * 10999.99 - 999.99, 2).as("c_acctbal"),
          pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), r("seg"))
            .as("c_mktsegment"))
      case "orders" =>
        range("orders").select(id.as("o_orderkey"),
          floor(r("cust") * n("customer")).cast("long").as("o_custkey"),
          pick(Seq("F", "O", "P"), r("st")).as("o_orderstatus"),
          round(r("price") * 499000.0 + 1000.0, 2).as("o_totalprice"),
          day("1995-01-01", r("date"), 2404).as("o_orderdate"),
          pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), r("prio"))
            .as("o_orderpriority"))
      case "lineitem" =>
        range("lineitem").select(
          floor(r("ok") * n("orders")).cast("long").as("l_orderkey"),
          floor(r("pk") * 200000 * sf).cast("long").as("l_partkey"),
          floor(r("sk") * 10000 * sf).cast("long").as("l_suppkey"),
          (floor(r("ln") * 7) + 1).cast("int").as("l_linenumber"),
          (floor(r("qty") * 50) + 1).cast("double").as("l_quantity"),
          round(r("ep") * 104100.0 + 900.0, 2).as("l_extendedprice"),
          (floor(r("disc") * 11) / 100.0).as("l_discount"),
          (floor(r("tax") * 9) / 100.0).as("l_tax"),
          pick(Seq("A", "N", "R"), r("rf")).as("l_returnflag"),
          pick(Seq("F", "O"), r("ls")).as("l_linestatus"),
          day("1995-01-02", r("ship"), 2498).as("l_shipdate"))
      case "events" =>
        // a stream: timestamps rise with event_id, with exponential gaps
        // that spread the rows over 30 days; values are exponential, mean 50
        val meanGapUs = 30 * 86400e6 / n("events")
        val upToHere = Window.orderBy(id).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        range("events").select(id,
            exponential(r("gap"), meanGapUs).as("gap_us"),
            floor(r("user") * 15000 * sf).cast("long").as("user_id"),
            pick(Seq("click", "error", "purchase", "signup", "view"), r("type")).as("event_type"),
            greatest(round(exponential(r("value"), 50.0), 2), lit(0.01)).as("value"),
            concat(lit("{\"k\": "), floor(r("k") * 100).cast("long"), lit("}")).as("props"))
          .select(id.as("event_id"),
            timestamp_micros(lit(1704067200000000L) + floor(sum(col("gap_us")).over(upToHere))
              .cast("long")).as("ts"),
            col("user_id"), col("event_type"), col("value"), col("props"))
      case "documents" =>
        // 10-99 uniform words; a few documents repeat another document's
        // words with " dup" appended: near duplicates, no exact ones
        val dup = u(dataSeed, "dup", id) < NearDupRate
        val base = when(dup, floor(u(dataSeed, "src", id) * n("documents")).cast("long")).otherwise(id)
        val len = (floor(u(dataSeed, "len", base) * 90) + 10).cast("int")
        val words = array_join(
          transform(sequence(lit(1), len), i => pick(Vocab, u(dataSeed, "w", base, i))), " ")
        val text = when(dup, concat(words, lit(" dup"))).otherwise(words)
        val lr = u(dataSeed, "lang", id)
        val lang = when(lr < 0.4, "en").when(lr < 0.55, "de").when(lr < 0.7, "es")
          .when(lr < 0.85, "fr").otherwise("zh")
        range("documents").select(id.as("doc_id"), text.as("text"), lang.as("lang"))
          .select(col("doc_id"), col("text"), col("lang"),
            concat(lit("src"), pmod(col("doc_id"), lit(20L))).as("source"),
            length(col("text")).cast("long").as("n_chars"))
      case "embeddings" =>
        // unit vectors in 64 dimensions with Gaussian components (Box-Muller)
        val gauss = transform(sequence(lit(0), lit(63)), i =>
          sqrt(lit(-2.0) * log(lit(1.0) - u(dataSeed, "e1", id, i))) *
            cos(lit(2 * math.Pi) * u(dataSeed, "e2", id, i)))
        range("embeddings").select(id.as("vec_id"), gauss.as("g"),
            floor(r("label") * 10).cast("int").as("label"))
          .select(col("vec_id"),
            transform(col("g"), x => (x / sqrt(aggregate(col("g"), lit(0.0), (a, y) => a + y * y)))
              .cast("float")).as("embedding"),
            col("label"))
    }
  }

  /** Writes every table through `Tables.writeBatch` at zstd:6 to
    * `<dir>/<table>.parquet` and returns the data bytes written. */
  def write(spark: SparkSession, dir: String, sf: Double, dataSeed: Long)(
      writeSpan: (=> Unit) => Unit): Long =
    Names.map { t =>
      val stage = s"$dir/_stage/$t"
      writeSpan(Tables.writeBatch(table(spark, t, sf, dataSeed), stage, 0, CodecSpec("zstd", 6)))
      Files.move(Paths.get(s"$stage/batch=0"), Paths.get(s"$dir/$t.parquet"))
      HadoopPathFormat.dataBytes(spark, s"$dir/$t.parquet")
    }.sum

  def main(argv: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-sfdata")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try write(spark, argv(0), argv(1).toDouble, DataSeed)(body => body)
    finally spark.stop()
  }
}
