package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Read-only relational queries from the registered entry surface over a
  * seeded TPC-H-shaped star schema, each run to a `noop` sink. Runnable
  * with `run.py --workload star_query`; not in `BENCHMARK.json` (see
  * README.md). */
final class StarQuery(spark: SparkSession, seed: Long, root: File) extends Workload {
  val sf = 0.02
  /** TPC-H queries, a semi join, a distinct aggregate, a window entry
    * and a cards-sets query; every one has a DuckDB oracle in
    * `SparkEntry.oracleSql` that the result must match exactly. */
  val queries: Seq[String] = Seq(
    "q9_product_profit", "q13_cust_distribution", "q14_promo_revenue", "q18_large_orders",
    "q_semi_join", "q_count_distinct", "q_window_rank_stats", "q_cards_per_set")
  val inputs: Map[String, Any] = Map("sf" -> sf, "lineitem_rows" -> StarSchema.rows(6000000, sf),
    "queries" -> queries.size)
  val workUnit = "queries"
  val nominalRoundS = 5.0
  var work = 0.0

  val data = new File(root, "star_query")
  def dir: String = new File(data, "tables").getPath

  def setup(h: Harness): Unit = {
    Workload.deleteTree(data)
    StarSchema.generate(spark, seed, dir, sf)
  }

  def warmup(h: Harness): Unit = queries.foreach(runQuery(h, _))

  def round(h: Harness, r: Int): Unit = {
    new scala.util.Random(seed * 31 + r).shuffle(queries).foreach { q =>
      if (runQuery(h, q) && h.measuring) work += 1
    }
  }

  private def runQuery(h: Harness, q: String): Boolean =
    StarSchema.runQuery(spark, h, q, "read", dir)

  override def finish(h: Harness): Unit =
    StarSchema.writeResults(spark, h, queries, dir, new File(data, "results"))
}
