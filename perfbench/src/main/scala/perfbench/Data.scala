package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

/** Deterministic synthetic tables in the fixture schema (FIXTURES.md),
  * generated in the checkout on first use and reused afterwards. Every
  * value is a hash of (row id, column salt), so the tables are the same
  * on every machine and every run; the workload seed varies the request
  * stream, not the tables. About sf 0.025: lineitem 150k rows.
  */
object Data {
  /** Bump when the generator changes: a new tag regenerates the tables. */
  val Tag = "v2"

  val Lineitem = 150000L
  val Orders = 37500L
  val Customers = 3750L
  val Parts = 5000L
  val Suppliers = 250L
  val Events = 30000L
  val Documents = 3000L
  val Days = 2500 // shipdate / orderdate span from DayZero

  val DayZero: java.time.LocalDate = java.time.LocalDate.of(1995, 1, 2)
  val EventZero: java.time.LocalDateTime = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
  val EventHours = 30 * 24

  val Flags = Seq("A", "N", "R")
  val Statuses = Seq("F", "O")
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  val Words = Seq("agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "value", "vector", "window", "a", "the")

  /** Day number of a midnight timestamp, counted from [[DayZero]]. */
  def dayOf(ts: java.sql.Timestamp): Int =
    (Math.floorDiv(ts.getTime, 86400000L) - DayZero.toEpochDay).toInt
  def yearOf(day: Int): Int = DayZero.plusDays(day.toLong).getYear

  /** The table root for this generator version, generated if absent. */
  def ensure(spark: SparkSession, work: Path): String = {
    val dir = work.resolve(s"data-$Tag")
    val ready = dir.resolve("_READY")
    if (!Files.exists(ready)) {
      Util.deleteTree(dir)
      Files.createDirectories(dir)
      generate(spark, dir.toString)
      Files.createFile(ready)
    }
    dir.toString
  }

  /** Uniform integer in [0, m) from the row id and a per-column salt. */
  private def u(salt: Int, m: Long): Column =
    F.pmod(F.xxhash64(F.col("id"), F.lit(salt)), F.lit(m))

  private def pick(values: Seq[String], salt: Int): Column =
    F.element_at(F.array(values.map(F.lit): _*), (u(salt, values.size) + 1).cast("int"))

  private def cents(lo: Double, spanCents: Long, salt: Int): Column =
    (F.lit(lo) + u(salt, spanCents).cast("double") / 100.0)

  private def day(offset: Column): Column =
    F.timestamp_seconds(F.lit(DayZero.toEpochDay * 86400L) + offset * 86400L)

  private def write(df: DataFrame, dir: String, name: String): Unit =
    df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

  def generate(spark: SparkSession, dir: String): Unit = {
    def range(n: Long, parts: Int) = spark.range(0, n, 1, parts)
    write(range(5, 1).select(F.col("id").cast("int").as("r_regionkey"),
      F.element_at(F.array(Regions.map(F.lit): _*), (F.col("id") + 1).cast("int"))
        .as("r_name")), dir, "region")
    write(range(25, 1).select(F.col("id").cast("int").as("n_nationkey"),
      F.concat(F.lit("NATION_"), F.col("id")).as("n_name"),
      (F.col("id") % 5).cast("int").as("n_regionkey")), dir, "nation")
    write(range(Customers, 1).select(F.col("id").as("c_custkey"),
      F.format_string("Customer#%09d", F.col("id")).as("c_name"),
      u(11, 25).cast("int").as("c_nationkey"),
      cents(-999.0, 1099900, 12).as("c_acctbal"),
      pick(Segments, 13).as("c_mktsegment")), dir, "customer")
    write(range(Suppliers, 1).select(F.col("id").as("s_suppkey"),
      F.format_string("Supplier#%09d", F.col("id")).as("s_name"),
      u(21, 25).cast("int").as("s_nationkey"),
      cents(-999.0, 1099900, 22).as("s_acctbal")), dir, "supplier")
    write(range(Parts, 1).select(F.col("id").as("p_partkey"),
      F.concat_ws(" ", pick(Words, 31), pick(Words, 32)).as("p_name"),
      F.concat(F.lit("Brand#"), u(33, 25) + 1).as("p_brand"),
      pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), 34).as("p_type"),
      (u(35, 50) + 1).cast("int").as("p_size"),
      (F.lit(900.0) + (F.col("id") % 1000) / 10.0).as("p_retailprice")), dir, "part")
    write(range(Orders, 2).select(F.col("id").as("o_orderkey"),
      u(41, Customers).as("o_custkey"),
      pick(Seq("F", "O", "P"), 42).as("o_orderstatus"),
      cents(900.0, 50000000, 43).as("o_totalprice"),
      day(u(44, Days)).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 45)
        .as("o_orderpriority")), dir, "orders")
    val qty = (u(53, 50) + 1).cast("double")
    write(range(Lineitem, 4).select(
      (F.col("id") / 4).cast("long").as("l_orderkey"),
      u(51, Parts).as("l_partkey"),
      u(52, Suppliers).as("l_suppkey"),
      (F.col("id") % 4 + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      F.round(qty * cents(900.0, 110000, 54), 2).as("l_extendedprice"),
      (u(55, 11) / 100.0).as("l_discount"),
      (u(56, 9) / 100.0).as("l_tax"),
      pick(Flags, 57).as("l_returnflag"),
      pick(Statuses, 58).as("l_linestatus"),
      day(u(59, Days)).as("l_shipdate")), dir, "lineitem")
    write(range(Events, 2).select(F.col("id").as("event_id"),
      F.timestamp_seconds(F.lit(EventZero.toEpochSecond(java.time.ZoneOffset.UTC)) +
        u(61, EventHours * 3600L)).as("ts"),
      u(62, 1500).as("user_id"),
      pick(EventTypes, 63).as("event_type"),
      cents(0.0, 10000, 64).as("value"),
      F.format_string("{\"k\": %d}", u(65, 100)).as("props")), dir, "events")
    val text = F.array_join(F.transform(
      F.sequence(F.lit(1), (u(71, 60) + 10).cast("int")),
      i => F.element_at(F.array(Words.map(F.lit): _*),
        (F.pmod(F.xxhash64(F.col("id"), i, F.lit(72)), F.lit(Words.size.toLong)) + 1)
          .cast("int"))), " ")
    write(range(Documents, 1).select(F.col("id").as("doc_id"), text.as("text"),
      pick(Seq("de", "en", "es", "fr", "zh"), 73).as("lang"),
      F.concat(F.lit("src"), u(74, 20)).as("source"))
      .withColumn("n_chars", F.length(F.col("text")).cast("long")), dir, "documents")
  }
}
