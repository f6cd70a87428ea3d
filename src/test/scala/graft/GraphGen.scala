package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Test graphs for connected components as (nodes, pairs) frames —
  * `doc_id` and (`id_a`, `id_b`), long ids — generated by Spark, so a
  * large graph never passes through the driver. */
object GraphGen {

  /** The path 0 - 1 - … - (n-1): one component of diameter n - 1,
    * 2(n - 1) directed edge rows. */
  def chain(spark: SparkSession, n: Long): (DataFrame, DataFrame) =
    (spark.range(n).select(col("id").as("doc_id")),
      spark.range(n - 1).select(col("id").as("id_a"),
        (col("id") + 1).as("id_b")))

  /** `m` pairs whose endpoints are drawn from 0 until n by a hash of
    * (seed, pair index): the same graph for the same arguments,
    * whatever the partitioning. Self-pairs and repeats are kept. */
  def random(spark: SparkSession, n: Long, m: Long,
             seed: Long): (DataFrame, DataFrame) = {
    def end(side: Int) =
      pmod(xxhash64(lit(seed), lit(side), col("id")), lit(n))
    (spark.range(n).select(col("id").as("doc_id")),
      spark.range(m).select(end(0).as("id_a"), end(1).as("id_b")))
  }
}
