package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** §2 #18 — as-of join: attach to each order the customer's most recent
  * EARLIER (strictly) order date, i.e. `ASOF JOIN ... ON key = key AND
  * ts > ts'` in DuckDB terms — an operator Spark lacks natively.
  *
  * Spark-first composition (SURVEY §2 preference order (a)): dedupe the
  * right side to distinct (key, ts) pairs, take `lag` over a window
  * keyed+ordered like the as-of predicate, and join back — one shuffle
  * on the key, no range-condition explosion, no custom physical node
  * needed. Distinct-dates first also makes tie behavior well-defined
  * (every row with the same (key, ts) gets the same as-of match), which
  * a raw sort-based as-of leaves ambiguous.
  *
  * At 100 TB: both inputs shuffle once on the join key; the window runs
  * inside the same partitioning (AQE coalesces), so the whole operator
  * costs one exchange of each side — the same price as a plain join.
  */
object AsofJoin {

  def asofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.load(spark, sfDir, "orders")
    val distinctDates = orders.select(col("o_custkey"), col("o_orderdate"))
      .distinct()
      .withColumn("prev_date",
        lag(col("o_orderdate"), 1).over(
          Window.partitionBy("o_custkey").orderBy("o_orderdate")))
    orders.join(distinctDates, Seq("o_custkey", "o_orderdate"), "left")
      .select(col("o_orderkey"),
        date_format(col("prev_date"), "yyyy-MM-dd").as("prev_day"),
        datediff(col("o_orderdate"), col("prev_date")).as("gap_days"))
      .orderBy("o_orderkey")
  }
}
