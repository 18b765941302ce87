package graftbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** A seeded TPC-H-shaped star schema, and running registered query
  * entries over it. */
object StarSchema {
  def rows(base: Int, sf: Double): Long = math.max(1L, (base * sf).round)

  /** One query entry as an operation: build the DataFrame, then run it to
    * a `noop` sink. */
  def runQuery(spark: SparkSession, h: Harness, q: String, kind: String, dir: String): Boolean =
    h.op(q, kind) {
      val df = h.call("query.build")(SparkEntry.queries(q)(spark, dir))
      h.call("query.exec")(df.write.format("noop").mode("overwrite").save())
    }.isDefined

  /** One untimed pass that writes each query's result, with the oracle SQL
    * DuckDB checks them against after the run. */
  def writeResults(spark: SparkSession, h: Harness, queries: Seq[String], dir: String,
      out: File): Unit = {
    queries.foreach { q =>
      h.op(q, "check") {
        SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(new File(out, q).getPath)
      }
    }
    val oracle = SparkEntry.oracleSql.filter { case (q, _) => queries.contains(q) }
    java.nio.file.Files.writeString(new File(out, "oracle_sql.json").toPath, Report.json(oracle))
  }

  private def cents(c: Column): Column = c.cast("double") / 100.0

  /** The star schema at scale factor `sf`, one parquet file per table
    * like the program's test data, in `dir`. */
  def generate(spark: SparkSession, seed: Long, dir: String, sf: Double): Unit = {
    import spark.implicits._
    def u(salt: Int, m: Long): Column = pmod(xxhash64(lit(seed), lit(salt), col("id")), lit(m))
    def pick(salt: Int, values: Seq[String]): Column =
      element_at(array(values.map(lit): _*), (u(salt, values.size) + 1).cast("int"))
    def day(salt: Int, from: String, span: Long): Column =
      date_add(lit(from).cast("date"), u(salt, span).cast("int")).cast("timestamp_ntz")
    def rows(base: Int): Long = StarSchema.rows(base, sf)
    val (nCust, nSupp, nPart, nOrd, nLine) =
      (rows(150000), rows(10000), rows(200000), rows(1500000), rows(6000000))
    def write(t: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    write("region", Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name"))
    write("nation", (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"))
    write("customer", spark.range(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      u(1, 25).cast("int").as("c_nationkey"),
      cents(u(2, 1099400) - 99440).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")))
    write("supplier", spark.range(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      u(4, 25).cast("int").as("s_nationkey"),
      cents(u(5, 1099400) - 99440).as("s_acctbal")))
    val adj = Seq("small", "large", "red", "blue", "hot", "old", "green", "shiny")
    val noun = Seq("ring", "widget", "bolt", "gear", "gizmo", "plate", "spring", "valve")
    write("part", spark.range(nPart).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(6, adj), pick(7, noun)).as("p_name"),
      concat(lit("Brand#"), (u(8, 25) + 1).cast("string")).as("p_brand"),
      pick(9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      (u(10, 50) + 1).cast("int").as("p_size"),
      cents(col("id") % 1000 * 10 + 90000).as("p_retailprice")))
    write("orders", spark.range(nOrd).select(col("id").as("o_orderkey"),
      u(11, nCust).as("o_custkey"),
      pick(12, Seq("F", "O", "P")).as("o_orderstatus"),
      cents(u(13, 49900000) + 100000).as("o_totalprice"),
      day(14, "1995-01-01", 2404).as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")))
    val partkey = u(17, nPart)
    val qty = u(20, 50) + 1
    write("lineitem", spark.range(nLine).select(u(16, nOrd).as("l_orderkey"),
      partkey.as("l_partkey"), u(18, nSupp).as("l_suppkey"),
      (u(19, 7) + 1).cast("int").as("l_linenumber"),
      qty.cast("double").as("l_quantity"),
      cents(qty * (partkey % 1000 * 10 + 90000)).as("l_extendedprice"),
      (u(21, 11).cast("double") / 100.0).as("l_discount"),
      (u(22, 9).cast("double") / 100.0).as("l_tax"),
      pick(23, Seq("A", "N", "R")).as("l_returnflag"),
      pick(24, Seq("F", "O")).as("l_linestatus"),
      day(25, "1995-01-02", 2498).as("l_shipdate")))
  }
}
