package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A seeded corpus with the schema and value ranges of the repo's
  * TPC-H-like test tables plus `events`, at `scale` times the sf0.1 row
  * counts. Every value is a hash of (seed, row id, column), so one seed
  * always gives the same tables.
  */
object Corpus {
  val Sf01Rows: Map[String, Long] = Map("events" -> 100000L, "customer" -> 15000L,
    "supplier" -> 1000L, "part" -> 20000L, "orders" -> 150000L, "lineitem" -> 600000L)
  val Tables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")

  def rows(table: String, scale: Int): Long = table match {
    case "region" => 5L
    case "nation" => 25L
    case t => Sf01Rows(t) * scale
  }

  def write(spark: SparkSession, dir: String, seed: Long, scale: Int, partitions: Int): Unit = {
    def base(t: String): DataFrame = spark.range(0, rows(t, scale), 1, partitions).toDF()
    def h(salt: Int, m: Long): Column = pmod(xxhash64(lit(seed), col("id"), lit(salt)), lit(m))
    def pick(salt: Int, vs: String*): Column = element_at(array(vs.map(lit): _*),
      (h(salt, vs.size.toLong) + 1).cast("int"))
    def cents(salt: Int, lo: Long, hi: Long): Column = (h(salt, hi - lo) + lo) / 100.0
    def day(salt: Int, from: String, days: Long): Column =
      date_add(lit(from).cast("date"), h(salt, days).cast("int")).cast("timestamp_ntz")
    def key(t: String, salt: Int): Column = h(salt, rows(t, scale))
    def save(t: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$t.parquet")

    save("region", base("region").select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name")))
    save("nation", base("nation").select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey")))
    save("customer", base("customer").select(col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      h(1, 25).cast("int").as("c_nationkey"), cents(2, -99999, 999999).as("c_acctbal"),
      pick(3, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").as("c_mktsegment")))
    save("supplier", base("supplier").select(col("id").as("s_suppkey"),
      concat(lit("Supplier#"), lpad(col("id").cast("string"), 9, "0")).as("s_name"),
      h(1, 25).cast("int").as("s_nationkey"), cents(2, -99999, 999999).as("s_acctbal")))
    save("part", base("part").select(col("id").as("p_partkey"),
      concat_ws(" ", pick(1, "large", "hot", "blue", "green", "red"),
        pick(2, "ring", "bolt", "gear", "pipe")).as("p_name"),
      concat(lit("Brand#"), h(3, 25) + 1).as("p_brand"),
      pick(4, "LARGE", "ECONOMY", "SMALL", "MEDIUM", "STANDARD", "PROMO").as("p_type"),
      (h(5, 50) + 1).cast("int").as("p_size"), cents(6, 90000, 110000).as("p_retailprice")))
    save("orders", base("orders").select(col("id").as("o_orderkey"),
      key("customer", 1).as("o_custkey"), pick(2, "O", "F", "P").as("o_orderstatus"),
      cents(3, 100000, 50000000).as("o_totalprice"), day(4, "1995-01-01", 2404).as("o_orderdate"),
      pick(5, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").as("o_orderpriority")))
    save("lineitem", base("lineitem").select(key("orders", 1).as("l_orderkey"),
      key("part", 2).as("l_partkey"), key("supplier", 3).as("l_suppkey"),
      (h(4, 7) + 1).cast("int").as("l_linenumber"), (h(5, 50) + 1).cast("double").as("l_quantity"),
      cents(6, 100, 10000000).as("l_extendedprice"), (h(7, 11) / 100.0).as("l_discount"),
      (h(8, 9) / 100.0).as("l_tax"), pick(9, "A", "N", "R").as("l_returnflag"),
      pick(10, "F", "O").as("l_linestatus"), day(11, "1995-01-02", 2500).as("l_shipdate")))
    save("events", base("events").select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + h(1, 30L * 86400 * 1000000))
        .cast("timestamp_ntz").as("ts"),
      h(2, 1500L * scale).as("user_id"),
      pick(3, "click", "error", "purchase", "signup", "view").as("event_type"),
      cents(4, 0, 56022).as("value"),
      concat(lit("{\"k\": "), h(5, 100), lit("}")).as("props")))
  }
}
