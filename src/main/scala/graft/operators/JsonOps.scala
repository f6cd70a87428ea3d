package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** §2 #35 — semi-structured (JSON) property extraction from the events
  * stream payload: typed path extraction + aggregation, all codegen'd
  * (`get_json_object`), map-only before the final small aggregate.
  *
  * Reference analog: typed value parsing of packed payloads
  * (Codeunit 60000:826 FormatFieldValue parses packed field text) — the
  * modern pipeline shape is JSON columns.
  */
object JsonOps {

  def jsonProps(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k_val"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        count(col("k_val")).as("n_with_k"),
        sum("k_val").cast("long").as("sum_k"),
        min("k_val").as("min_k"), max("k_val").as("max_k"))
      .orderBy("event_type")
}
