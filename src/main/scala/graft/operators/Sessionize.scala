package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** §2 #20 — gap-based sessionization (batch). Streaming twin:
  * [[graft.streaming.Sessionizer]] (flatMapGroupsWithState).
  *
  * A session breaks when the gap to the previous event of the same user
  * exceeds `gapMinutes`. Classic lag→flag→cumsum: one shuffle on
  * user_id, then two windows over the SAME partitioning (Catalyst plans
  * a single exchange), then the final per-session aggregate — shapes
  * that hold at any scale because state never leaves the user's
  * partition. All timestamps exact integer microseconds.
  */
object Sessionize {

  def sessionize(spark: SparkSession, sfDir: String,
                 gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes.toLong * 60 * 1000000
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_us").isNull
          || col("ts_us") - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("session_idx",
        sum("is_new").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        min("ts_us").as("start_us"),
        (max("ts_us") - min("ts_us")).as("duration_us"))
      .orderBy("user_id", "session_idx")
  }

  /** §2 #185 — sessionization via Spark's NATIVE `session_window`
    * operator (the declarative twin of the lag/cumsum islands above,
    * and the batch face of the same operator Structured Streaming
    * merges state with): one groupBy on (session_window(ts, gap),
    * user). The native gap boundary is INCLUSIVE — an event exactly
    * `gap` after the last one still merges (spec-pinned on a crafted
    * boundary fixture) — identical to [[sessionize]]'s strict->
    * break, so both forms share ONE oracle and must agree row-for-row.
    * session_idx is recovered by ranking session starts per user (a
    * per-user window over SESSIONS, not events — bounded by
    * sessions/user). */
  def sessionizeNative(spark: SparkSession, sfDir: String,
                       gapMinutes: Int = 30): DataFrame = {
    val sessions = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"))
      .groupBy(session_window(col("ts"), s"$gapMinutes minutes").as("sw"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"), min("ts_us").as("start_us"),
        (max("ts_us") - min("ts_us")).as("duration_us"))
    sessions
      .withColumn("session_idx", row_number().over(
        Window.partitionBy("user_id").orderBy("start_us")).cast("long"))
      .select(col("user_id"), col("session_idx"), col("n_events"),
        col("start_us"), col("duration_us"))
      .orderBy("user_id", "session_idx")
  }
}
