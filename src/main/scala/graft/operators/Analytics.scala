package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Filtering.cents

/** Analytics core: grouped aggregation, windowed analytics, skew-safe
  * (salted) aggregation, time-bucketed event aggregation.
  *
  * Money math is integer-cents throughout (see Filtering.cents): BIGINT
  * sums are associative, so results are identical across partitionings,
  * engines, and cluster sizes — double sums are none of those.
  */
object Analytics {

  /** §2 #15 — flagship grouped aggregation (TPC-H Q1 analog).
    * Map-side partial aggregation + 2-key shuffle; at 100 TB this is one
    * scan + one small exchange. disc_price/charge stay in exact cents:
    * price_c * (100 - disc_c) has unit cents*10^-2, fits BIGINT at any SF.
    */
  def q1Agg(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.load(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .select(
        col("l_returnflag"), col("l_linestatus"),
        cents(col("l_quantity")).as("qty_c"),
        cents(col("l_extendedprice")).as("price_c"),
        cents(col("l_discount")).as("disc_c"),
        cents(col("l_tax")).as("tax_c"))
    li.groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("qty_c").as("sum_qty_c"),
        sum("price_c").as("sum_base_c"),
        sum(col("price_c") * (lit(100L) - col("disc_c"))).as("sum_disc_c3"),
        sum(col("price_c") * (lit(100L) - col("disc_c"))
          * (lit(100L) + col("tax_c"))).as("sum_charge_c5"),
        count(lit(1)).as("count_order"))
      .withColumn("avg_qty",
        round(col("sum_qty_c") / col("count_order") / 100.0, 4))
      .withColumn("avg_price",
        round(col("sum_base_c") / col("count_order") / 100.0, 4))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** §2 #16 — windowed analytics: top-3 orders by price per customer.
    * Single shuffle on the window partition key; deterministic tie-break
    * by order key so results are stable across engines. */
  def windowRank(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.load(spark, sfDir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        cents(col("o_totalprice")).as("price_cents"))
      .withColumn("rnk",
        row_number().over(Window.partitionBy("o_custkey")
          .orderBy(col("price_cents").desc, col("o_orderkey").asc)))
      .filter(col("rnk") <= 3)
      .orderBy("o_custkey", "rnk")
  }

  /** §2 #17 — skew-safe two-stage aggregation: salt the hot key space,
    * partially aggregate per (key, salt), then finalize per key. Result is
    * bit-identical to a plain groupBy (integer sums), but no single
    * reducer ever sees a whole hot key — the 100 TB skew insurance. */
  def aggSkewSalted(spark: SparkSession, sfDir: String, salts: Int = 16): DataFrame =
    Tables.load(spark, sfDir, "events")
      .select(col("event_type"), cents(col("value")).as("value_c"))
      .withColumn("salt", pmod(crc32(col("value_c").cast("string")), lit(salts)))
      .groupBy("event_type", "salt")
      .agg(sum("value_c").as("part_sum"), count(lit(1)).as("part_cnt"))
      .groupBy("event_type")
      .agg(sum("part_sum").as("sum_value_c"), sum("part_cnt").as("n_events"))
      .orderBy("event_type")

  /** §2 #41 — top-k frequent items via the custom mergeable aggregate
    * ([[graft.functions.TopKFrequent]]): partial dictionaries per
    * partition, binary-buffer merge at the reducer — the sketch operator
    * shape, exact at this cardinality so the oracle can check it. */
  def topkFrequent(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame =
    Tables.load(spark, sfDir, "events")
      .agg(graft.functions.TopKAggregate.topkFrequent(col("event_type"), k)
        .as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t.item").as("item"), col("t.cnt").as("cnt"))
      .orderBy(desc("cnt"), asc("item"))

  /** §2 #51 — pivot: long→wide conditional aggregation (the worksheet
    * cross-tab view a migration UI shows). Spark compiles `pivot` to one
    * hash aggregate with a CASE per cell — one exchange, no joins; the
    * value list is explicit so the plan never needs the extra distinct
    * scan of auto-discovery. */
  def pivotStatus(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "orders")
      .select(col("o_orderpriority"), col("o_orderstatus"),
        cents(col("o_totalprice")).as("price_c"))
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(sum("price_c"))
      .toDF("o_orderpriority", "sum_f_c", "sum_o_c", "sum_p_c")
      .orderBy("o_orderpriority")

  /** §2 #52 — rollup: multi-level aggregation in ONE pass (grand total,
    * per-status, per-(status, priority)) — Spark expands grouping sets
    * map-side, so the cost stays a single scan + one exchange instead of
    * three queries. `gid` is computed from `grouping()` bits identically
    * in the oracle, pinning the NULL-marker semantics cross-engine. */
  def rollupAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "orders")
      .select(col("o_orderstatus"), col("o_orderpriority"),
        cents(col("o_totalprice")).as("price_c"))
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("price_c").as("sum_price_c"),
        (grouping(col("o_orderstatus")) * 2
          + grouping(col("o_orderpriority"))).cast("int").as("gid"))
      .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** §2 #53 — exact discrete percentiles per group (`percentile_disc`,
    * the SQL-standard WITHIN GROUP form): the distribution profile a
    * data-quality gate reads. Exact disc quantiles are oracle-checkable
    * (no interpolation arithmetic to drift cross-engine); at 100 TB the
    * same call shape swaps to `approx_percentile` (t-digest sketch) —
    * group memory is bounded by distinct values, not rows, either way. */
  def pctileValue(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "events")
      .select(col("event_type"), cents(col("value")).as("v_c"))
      .groupBy("event_type")
      .agg(
        expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY v_c) AS BIGINT)")
          .as("p50_c"),
        expr("CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY v_c) AS BIGINT)")
          .as("p90_c"),
        expr("CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY v_c) AS BIGINT)")
          .as("p99_c"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  /** §2 #65 — running total per key (cumulative window aggregate): the
    * per-customer balance-over-time view. One shuffle on the partition
    * key; the frame is the default RANGE UNBOUNDED PRECEDING..CURRENT
    * ROW in both engines (keys are unique per customer, so RANGE and
    * ROWS agree — pinned by the oracle). */
  def runningTotal(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        cents(col("o_totalprice")).as("price_cents"))
      .withColumn("running_c",
        sum("price_cents").over(Window.partitionBy("o_custkey")
          .orderBy("o_orderkey")))
      .orderBy("o_custkey", "o_orderkey")

  /** §2 #97 — RANGE-frame rolling window: per event, the count and
    * 4-dp mean value of the SAME USER's events in the trailing hour —
    * the time-based moving aggregate (rate limiting, anomaly baselines)
    * that a ROWS frame cannot express when event spacing is irregular.
    * One exchange hash-partitions by user; the range frame then scans
    * each user's time-sorted partition once with a sliding two-pointer
    * (Spark's WindowExec), so cost is O(events) after the shuffle, not
    * O(events × window). Exact integral micros; identical RANGE peer
    * semantics in the oracle. */
  def rollingWindow(spark: SparkSession, sfDir: String,
                    windowSec: Long = 3600): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("t")
      .rangeBetween(-windowSec * 1000000L, 0L)
    Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("t"), cents(col("value")).as("v_c"))
      .select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("n_1h"),
        round(avg(col("v_c")).over(w) / 100.0, 4).as("avg_value_1h"))
      .orderBy("user_id", "event_id")
  }

  /** §2 #19 — time-bucketed event aggregation (batch twin of the
    * streaming windowed agg in graft.streaming.EventStream). */
  /** §2 #88 — bounded RANGE JOIN: pairs of events from the same user
    * within `windowSec` of each other (temporal-proximity correlation —
    * fraud/coordination detection shape). A naive `t BETWEEN t±W` theta
    * join plans a per-key cartesian (BroadcastNestedLoop at cluster
    * scale); BANDING by `t div W` turns it into an EQUI-join on
    * (user, bucket): the probe side duplicates into its 3 adjacent
    * buckets (bounded 3×), every qualifying pair lands in exactly ONE
    * bucket match (the build row's own bucket), so no post-join dedup,
    * and the exchange is an ordinary hash shuffle that AQE can size.
    * Pairs are (smaller event_id, larger event_id), audited per user. */
  def rangeJoinPairs(spark: SparkSession, sfDir: String,
                     windowSec: Int = 600): DataFrame = {
    val w = windowSec * 1000000L
    val ev = Tables.load(spark, sfDir, "events")
      // integral micros: exact arithmetic, identical in the oracle
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("t"))
    val build = ev.withColumn("bucket", expr(s"t div $w"))
    val probe = ev.withColumn("bucket",
      explode(expr(s"array(t div $w - 1, t div $w, t div $w + 1)")))
    build.alias("a").join(probe.alias("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.event_id") < col("b.event_id") &&
          abs(col("a.t") - col("b.t")) <= w)
      .groupBy(col("a.user_id").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        min(abs(col("a.t") - col("b.t"))).as("min_gap_us"),
        max(abs(col("a.t") - col("b.t"))).as("max_gap_us"))
      .orderBy("user_id")
  }

  /** §2 #95 — FUNNEL conversion over ordered event steps: per user, the
    * first `view`, the first `click` strictly after it, the first
    * `purchase` strictly after that; summarized per step as (n_users,
    * 4-dp mean seconds from the previous step). The step dependency is
    * inherently sequential, so the plan is one conditional-min hash
    * aggregate PER STEP, each joined to the previous step's (user,
    * t_prev) frame — never a per-user ordered window over the raw
    * events. At 100 TB each step's scan is pushdown-filtered to one
    * event type, every exchange carries (user_id, timestamp) pairs
    * only, and the per-user frames shrink monotonically down the
    * funnel. Exact integral micros arithmetic (unix_micros), identical
    * in the oracle. */
  def funnelSteps(spark: SparkSession, sfDir: String,
                  steps: Seq[String] = Seq("view", "click", "purchase"))
      : DataFrame =
    funnelStepsFrom(
      Tables.load(spark, sfDir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("t")),
      steps)

  /** Generic core: funnel over ANY (user_id, event_type, t) frame. */
  def funnelStepsFrom(ev: DataFrame, steps: Seq[String]): DataFrame = {
    var prev = ev.filter(col("event_type") === steps.head)
      .groupBy("user_id").agg(min("t").as("t_cur"))
      .withColumn("gap_us", lit(0L))
    var out = prev.agg(lit(1).as("step"),
      count(lit(1)).as("n_users"), lit(0.0).as("avg_gap_s"))
    steps.zipWithIndex.drop(1).foreach { case (s, i) =>
      val cur = ev.filter(col("event_type") === s)
        .join(prev.select(col("user_id"), col("t_cur").as("t_prev")), "user_id")
        .filter(col("t") > col("t_prev"))
        .groupBy("user_id")
        .agg(min("t").as("t_cur"), min("t_prev").as("t_prev"))
        .withColumn("gap_us", col("t_cur") - col("t_prev"))
      out = out.unionByName(cur.agg(lit(i + 1).as("step"),
        count(lit(1)).as("n_users"),
        round(sum(col("gap_us")).cast("double") / count(lit(1)) / 1e6, 4)
          .as("avg_gap_s")))
      prev = cur
    }
    out.orderBy("step")
  }

  /** §2 #129 — WINDOWED conversion funnel: users whose first `stepA`
    * event is followed by a `stepB` event within `windowUs` — the
    * time-constrained form of funnel_steps (an unbounded funnel calls
    * a purchase six months later a "conversion"; product analytics
    * does not). Reports starters, converters, the rate and the exact
    * median conversion delay.
    *
    * Scale shape: first-A = one keyed aggregate; the A→B pairing is a
    * per-user equi-join with a time-band filter (the range_join shape
    * on a co-partitioned key) followed by a min aggregate — nothing
    * wider than (user, t) pairs ever shuffles; the report is one
    * 1-row aggregate. */
  def funnelWindowed(spark: SparkSession, sfDir: String,
                     stepA: String = "view", stepB: String = "purchase",
                     windowUs: Long = 3600000000L): DataFrame =
    funnelWindowedFrom(
      Tables.load(spark, sfDir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("t")),
      stepA, stepB, windowUs)

  /** Generic core over ANY (user_id, event_type, t) frame. */
  def funnelWindowedFrom(ev: DataFrame, stepA: String, stepB: String,
                         windowUs: Long): DataFrame = {
    val firstA = ev.filter(col("event_type") === stepA)
      .groupBy("user_id").agg(min("t").as("t_a"))
    val conv = ev.filter(col("event_type") === stepB)
      .join(firstA, "user_id")
      .filter(col("t") > col("t_a") && col("t") <= col("t_a") + windowUs)
      .groupBy("user_id").agg((min("t") - min("t_a")).as("delay_us"))
    firstA.agg(count(lit(1)).as("n_started"))
      .crossJoin(conv.agg(count(lit(1)).as("n_converted"),
        expr("percentile(delay_us, 0.5D)").as("p50")))
      .select(col("n_started"), col("n_converted"),
        round(col("n_converted") / col("n_started").cast("double"), 4)
          .as("conv_rate"),
        round(col("p50") / 1e6, 4).as("p50_delay_s"))
  }

  /** §2 #135 — LAST-TOUCH ATTRIBUTION: each purchase is credited to
    * the most recent view/click by the same user within `windowUs`
    * before it, then rolled up per touch type (purchases with no
    * in-window touch land in the 'none' bucket). The revenue-
    * attribution table every marketing pipeline ends in, and a second
    * real consumer of the engine's bounded per-user range-join shape.
    *
    * Scale shape: both sides pushdown-filter to their event types at
    * the scan; the candidate join is a per-user equi-join with a time
    * band (co-partitioned on user_id, candidates bounded by events/user
    * /window); "last" is an argmax via one max(struct) aggregate keyed
    * by purchase — no window function over the full stream, no global
    * sort. The final rollup is a ≤3-row aggregate. */
  def attribution(spark: SparkSession, sfDir: String,
                  touches: Seq[String] = Seq("view", "click"),
                  windowUs: Long = 86400000000L): DataFrame =
    attributionFrom(
      Tables.load(spark, sfDir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("t"), cents(col("value")).as("v_c")),
      touches, windowUs)

  /** Per-purchase assignment half of [[attributionFrom]]: one row per
    * purchase with its credited touch type ('none' when no in-window
    * touch). Ties on the touch instant break on the larger touch
    * event_id — a total, engine-independent order. Also the batch twin
    * of [[graft.streaming.StreamAttribution]]. */
  def attributionAssignFrom(ev: DataFrame, touches: Seq[String],
                            windowUs: Long): DataFrame = {
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"),
        col("t").as("t_p"), col("v_c"))
    val o = ev.filter(col("event_type").isin(touches: _*))
      .select(col("user_id"), col("t").as("t_o"),
        col("event_id").as("oid"), col("event_type").as("touch"))
    val last = p.join(o, Seq("user_id"))
      .filter(col("t_o") < col("t_p")
        && col("t_o") >= col("t_p") - windowUs)
      .groupBy("pid")
      .agg(max(struct(col("t_o"), col("oid"), col("touch"))).as("b"))
      .select(col("pid"), col("b.touch").as("touch"))
    p.join(last, Seq("pid"), "left")
      .select(col("pid"), col("user_id"),
        coalesce(col("touch"), lit("none")).as("touch_type"), col("v_c"))
  }

  /** Generic core over ANY (event_id, user_id, event_type, t, v_c)
    * frame: [[attributionAssignFrom]] rolled up per touch type. */
  def attributionFrom(ev: DataFrame, touches: Seq[String],
                      windowUs: Long): DataFrame =
    attributionAssignFrom(ev, touches, windowUs)
      .groupBy("touch_type")
      .agg(count(lit(1)).as("n_purchases"),
        sum("v_c").as("value_cents"),
        countDistinct("user_id").as("n_users"))
      .orderBy("touch_type")

  /** §2 #139 — PATH TRANSITIONS: the user-journey Markov table —
    * counts and conditional probabilities of consecutive event-type
    * transitions within each user's stream (ordered by (t, event_id),
    * a total engine-independent order). The "what do users do next"
    * flow map behind funnel design: funnel_steps assumes an order,
    * this table MEASURES which orders actually happen.
    *
    * Scale shape: ONE window pass partitioned by user (the stream is
    * already user-partitioned for sessionize; no global sort), then a
    * tiny (type, type) hash aggregate and a per-prev-type share join —
    * |types|² rows, data-independent. */
  def pathTransitions(spark: SparkSession, sfDir: String): DataFrame =
    pathTransitionsFrom(
      Tables.load(spark, sfDir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("t"), col("event_id")))

  /** Generic core over ANY (user_id, event_type, t, event_id) frame. */
  def pathTransitionsFrom(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
    val trans = ev
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val fromTotals = trans.groupBy("prev_type")
      .agg(sum("n").as("n_from"))
    trans.join(fromTotals, "prev_type")
      .select(col("prev_type"), col("next_type"), col("n"),
        round(col("n") / col("n_from").cast("double"), 4).as("p4"))
      .orderBy("prev_type", "next_type")
  }

  /** §2 #144 — DAILY-VOLUME ANOMALY report: per-day event counts
    * scored by robust deviation from the median (|n − median| / MAD —
    * the median/MAD pair shrugs off the outliers a mean/stddev pair
    * would absorb), each day flagged when its deviation exceeds
    * `k`×MAD. The ingest-monitoring table that catches a dropped feed
    * or a replay storm BEFORE it skews a training snapshot — the
    * volume-side complement of drift_report's distribution side.
    *
    * Scale shape: ONE day-grain hash aggregate over the stream (the
    * only corpus-scale pass), then medians over the BOUNDED day table
    * and two 1-row broadcasts back. Exact integer day counts; the two
    * interpolated medians are the proven percentile/quantile_cont
    * cross-engine pair. */
  def eventsAnomaly(spark: SparkSession, sfDir: String,
                    k: Double = 3.0): DataFrame =
    eventsAnomalyFrom(
      Tables.load(spark, sfDir, "events")
        .select(expr("unix_micros(ts) div 86400000000").as("day")), k)

  /** Generic core over ANY single-column (day) frame. */
  def eventsAnomalyFrom(days: DataFrame, k: Double): DataFrame = {
    val d = days.groupBy("day").agg(count(lit(1)).as("n"))
    val med = d.agg(expr("percentile(n, 0.5D)").as("med"))
    val dev = d.crossJoin(broadcast(med))
      .withColumn("adev", abs(col("n") - col("med")))
    val mad = dev.agg(expr("percentile(adev, 0.5D)").as("mad"))
    dev.crossJoin(broadcast(mad))
      .select(col("day"), col("n"),
        round(col("med"), 4).as("med4"),
        round(col("mad"), 4).as("mad4"),
        when(col("mad") > 0, round(col("adev") / col("mad"), 4))
          .as("score4"),
        (col("adev") > col("mad") * k).as("is_anomaly"))
      .orderBy("day")
  }

  /** §2 #207 — CUSUM change-point detection over the daily event
    * volume (Page 1954) — the monitoring twin of [[eventsAnomaly]]:
    * MAD fences flag single outlier days, CUSUM accumulates SMALL
    * persistent shifts (a 10% drop sustained for a week never trips a
    * 3-MAD fence but walks the CUSUM straight through its threshold —
    * the ingest-rot signature a training-data pipeline most needs to
    * catch). Two-sided: S⁺ detects upward drift, S⁻ downward, slack
    * K = σ/2, threshold H = 4σ (the textbook defaults).
    *
    * Spark-first trick: the max(0, S+x) RECURRENCE has the closed form
    * S_d = P_d − min(0, min_{j≤d} P_j) over the prefix sums P — two
    * ordered window aggregates over the BOUNDED day table (the
    * recurrence never touches row-scale data; the per-day rollup is
    * the only corpus-wide pass, partial-aggregated). μ and σ come from
    * exact integer sums (Σn, Σn², N) via one explicit formula, so
    * every double is IEEE-identical cross-engine. */
  def eventsCusum(spark: SparkSession, sfDir: String): DataFrame =
    eventsCusumFrom(
      Tables.load(spark, sfDir, "events")
        .select(expr("unix_micros(ts) div 86400000000").as("day")))

  /** Generic core over ANY single-column (day) frame. */
  def eventsCusumFrom(days: DataFrame): DataFrame =
    eventsCusumFromCounts(
      days.groupBy("day").agg(count(lit(1)).as("n")))

  /** CUSUM finishing over a PRE-AGGREGATED (day, n) table — the seam
    * [[graft.streaming.StreamCusum]] shares: day counts ADD across
    * micro-batches, so a complete-mode streaming `groupBy(day).count`
    * feeds this directly and the published card equals the batch twin
    * bit-for-bit. Everything below runs on the bounded day table
    * (|days| rows — model state, never row-scale data). */
  def eventsCusumFromCounts(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stats = d.agg(sum("n").as("s1"),
      sum(col("n") * col("n")).as("s2"), count(lit(1)).as("cnt"))
    // single-partition ordered window: |days| rows — bounded model
    // state, same stance as the percentile legs of eventsAnomaly
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.crossJoin(broadcast(stats))
      .withColumn("mu", col("s1").cast("double") / col("cnt"))
      .withColumn("sigma", sqrt(
        (col("s2").cast("double")
          - col("s1").cast("double") * col("s1") / col("cnt"))
          / col("cnt")))
      .withColumn("pp",
        sum(col("n") - col("mu") - col("sigma") / 2).over(w))
      .withColumn("pn",
        sum(col("mu") - col("sigma") / 2 - col("n")).over(w))
      .withColumn("s_pos", col("pp") - least(min(col("pp")).over(w), lit(0.0)))
      .withColumn("s_neg", col("pn") - least(min(col("pn")).over(w), lit(0.0)))
      .select(col("day"), col("n"),
        round(col("mu"), 4).as("mu4"),
        round(col("sigma"), 4).as("sigma4"),
        round(col("s_pos"), 4).as("s_pos4"),
        round(col("s_neg"), 4).as("s_neg4"),
        (col("s_pos") > col("sigma") * 4
          || col("s_neg") > col("sigma") * 4).as("is_change"))
      .orderBy("day")
  }

  /** §2 #130 — DISTRIBUTION DRIFT report: event-type shares in the
    * first vs second half of the stream's time range, with per-type
    * absolute share drift — the monitoring table that decides "has the
    * input distribution moved" before a model retrain or a mixture
    * re-weight (the same check a 100 TB ingest runs between corpus
    * snapshots). The split point is exact integer arithmetic on
    * microseconds, so both engines cut the same instant.
    *
    * Scale shape: one 1-row min/max aggregate broadcast back, one
    * (type) hash aggregate with conditional sums — two passes of
    * scan+agg, exchanges carry per-type count pairs only. */
  def driftReport(spark: SparkSession, sfDir: String): DataFrame =
    driftReportFrom(Tables.load(spark, sfDir, "events")
      .select(col("event_type"), unix_micros(col("ts")).as("t")))

  /** Generic core over ANY (event_type, t) frame. */
  def driftReportFrom(ev: DataFrame): DataFrame = {
    val span = ev.agg(min("t").as("t_min"), max("t").as("t_max"))
    val halved = ev.crossJoin(broadcast(span))
      // integral divide: both engines floor, no float-cast rounding
      .withColumn("in_a", col("t") < expr("(t_min + t_max) div 2"))
    val counts = halved.groupBy("event_type")
      .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("in_a"), 1L).otherwise(0L)).as("n_b"))
    val totals = counts.agg(sum("n_a").as("t_a"), sum("n_b").as("t_b"))
    counts.crossJoin(broadcast(totals))
      .select(col("event_type"), col("n_a"), col("n_b"),
        round(col("n_a") / col("t_a").cast("double"), 4).as("share_a"),
        round(col("n_b") / col("t_b").cast("double"), 4).as("share_b"))
      .withColumn("drift",
        round(abs(col("share_a") - col("share_b")), 4))
      .orderBy("event_type")
  }

  def eventsWindow(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "events")
      .select(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("hour_bucket"),
        col("event_type"), cents(col("value")).as("value_c"))
      .groupBy("hour_bucket", "event_type")
      .agg(count(lit(1)).as("n"), sum("value_c").as("sum_value_c"))
      .orderBy("hour_bucket", "event_type")

  /** §2 #194 — TPC-H-Q5-SHAPED star join: revenue per region/nation
    * through the full dimension chain region ⋈ nation ⋈ customer ⋈
    * orders ⋈ lineitem — the canonical multiway join whose PLAN is the
    * point: Catalyst broadcasts the three dimension legs (region,
    * nation, and — at dim scale — customer) so the two FACT tables
    * shuffle only for their own equi-join, and the filters/projections
    * push into every scan. Revenue in exact cents·10⁻² (q1_agg's
    * BIGINT stance) so engines agree digit-for-digit. */
  def q5RegionRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val region = Tables.load(spark, sfDir, "region")
      .select(col("r_regionkey"), col("r_name"))
    val nation = Tables.load(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val customer = Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val orders = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val lineitem = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"),
        (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount"))))
          .as("rev_c3"))
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_lines"), sum("rev_c3").as("revenue_c3"))
      .orderBy("r_name", "n_name")
  }

  /** §2 #193 — MARKET-BASKET PAIR AFFINITY: support and lift of part
    * pairs co-occurring within an order — the classic association
    * signal (lift > 1 ⇒ the pair co-occurs above independence). The
    * self-join is keyed by the ORDER, whose line count is bounded
    * (TPC-H ≤ 7; any sane order schema is small), so candidate pairs
    * grow linearly with orders, never quadratically with parts; the
    * part-frequency join legs are vocabulary-bounded aggregates and
    * the top-k lands via TakeOrdered (no global sort shuffle). */
  def basketLift(spark: SparkSession, sfDir: String,
                 topK: Int = 20): DataFrame = {
    // ONE pass over lineitem (r20 opt, guide §2.3 "aggregate before you
    // shuffle" / §2.4): the old form scanned lineitem into a distinct
    // (okey, part) frame FOUR times (two self-join legs, part counts,
    // order count) and shuffled the self-join by okey on both legs.
    // Per-order part sets are bounded (TPC-H ≤ 7 lines), so aggregate
    // to array_sort(collect_set(part)) in one exchange and generate
    // each order's a<b pairs MAP-SIDE from the sorted set — candidate
    // pairs still grow linearly with orders, but the quadratic-safe
    // self-join shuffle is gone. Pair counts, part counts and the
    // order count all roll up from the one per-order frame, whose
    // exchange the three consumers share (ReusedExchange) in the one
    // action — an eager persisted copy measured no faster at sf0.1.
    // Output is identical: same pair multiset (sorted-set pairs ≡
    // distinct a<b self-join), same counts, same lift arithmetic.
    val sets = Tables.load(spark, sfDir, "lineitem")
      .groupBy(col("l_orderkey").as("okey"))
      .agg(array_sort(collect_set(col("l_partkey"))).as("parts"))
    val nOrders = sets.agg(count(lit(1)).as("n_orders"))
    val partCnt = sets.select(explode(col("parts")).as("part"))
      .groupBy("part").agg(count(lit(1)).as("n_part"))
    sets
      .select(explode(expr(
        """flatten(transform(parts, (x, i) ->
             transform(slice(parts, i + 2, size(parts)),
               y -> struct(x AS p1, y AS p2))))""")).as("pr"))
      .select(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
      .groupBy("p1", "p2")
      .agg(count(lit(1)).as("n_both"))
      .join(partCnt.select(col("part").as("p1"), col("n_part").as("n_a")),
        Seq("p1"))
      .join(partCnt.select(col("part").as("p2"), col("n_part").as("n_b")),
        Seq("p2"))
      .crossJoin(broadcast(nOrders))
      .select(col("p1"), col("p2"), col("n_both"), col("n_a"), col("n_b"),
        round(col("n_both").cast("double") * col("n_orders")
          / (col("n_a") * col("n_b")), 4).as("lift4"))
      .orderBy(desc("n_both"), col("p1"), col("p2"))
      .limit(topK)
  }

  /** §2 #184 — HOPPING (sliding) window aggregation: 10-minute windows
    * every 5 minutes via Spark's native `window()` — each event lands
    * in exactly window/slide = 2 epoch-aligned windows (the overlap
    * that makes a smoothed rate readable next to #19's tumbling
    * buckets). The generator expands in the map stage, so the plan is
    * still one hash aggregate keyed by (window, type) — the exchange
    * carries 2× the events, the price of overlap at any scale. */
  def eventsHopping(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "events")
      .select(col("ts"), col("event_type"), cents(col("value")).as("value_c"))
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value_c").as("sum_value_c"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n"), col("sum_value_c"))
      .orderBy("win_start", "event_type")

  /** Generic core: duplicate-EVENT detection over ANY
    * (event_id, user_id, event_type, t, v_c) stream — an event is a
    * duplicate when the same (user, type, value) occurred within
    * `windowUs` before it (at-least-once delivery, client retries,
    * replayed batches: the ingestion-hygiene check every event
    * pipeline runs before aggregating). Emits the duplicates with
    * their gap to the previous occurrence.
    *
    * Scale shape: ONE window partitioned by the full identity key
    * (user, type, value) ordered by (t, event_id) — high-cardinality
    * partitions, so no task ever sees more than one identity's
    * history; a lag(1) per row, then a pushable filter. */
  def eventDedupFrom(ev: DataFrame, windowUs: Long): DataFrame = {
    val byIdent = Window.partitionBy("user_id", "event_type", "v_c")
      .orderBy(col("t"), col("event_id"))
    ev.withColumn("prev_t", lag("t", 1).over(byIdent))
      .filter(col("prev_t").isNotNull
        && col("t") - col("prev_t") <= windowUs)
      .select(col("event_id"), col("user_id"), col("event_type"),
        (col("t") - col("prev_t")).as("gap_us"))
      .orderBy("event_id")
  }

  /** §2 #113 — duplicate events in the fixture stream (10-minute
    * identity window; value in exact cents). The synthetic stream has
    * no natural identity repeats, so a deterministic REPLAYED-BATCH
    * slice is unioned in first (every 101st event re-delivered 1 s
    * later under a new id — exactly what at-least-once redelivery
    * produces), identically in both engines (pii_scrub's stance). */
  def eventDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t"), cents(col("value")).as("v_c"))
    // replayed ids live in the NEGATIVE namespace — disjoint from real
    // (non-negative) ids at any table size, unlike a fixed additive
    // offset which collides once the table outgrows it
    val replayed = ev.filter(col("event_id") % 101 === 0)
      .select((-(col("event_id") + 1L)).as("event_id"), col("user_id"),
        col("event_type"), (col("t") + 1000000L).as("t"), col("v_c"))
    eventDedupFrom(ev.unionAll(replayed), 600000000L)
  }

  /** Generic core: per-user EXPONENTIAL MOVING AVERAGE (α = ½) of
    * event values in replay order (t, event_id) — the classic
    * smoothed-rate signal next to events_anomaly's z-scores. EWMA is
    * inherently sequential, so the per-user history is folded as an
    * ORDERED ARRAY with a higher-order `aggregate` — one hash
    * aggregate, no window, no driver state; the fold expression
    * (0.5·v + 0.5·acc, dyadic α) is IEEE-identical to the oracle's
    * list_reduce. Per-user state is bounded by that user's activity
    * (the sessionizer assumption); the continuous form would carry the
    * running EWMA as one double per user in a stateful stream. */
  def eventsEwmaFrom(ev: DataFrame): DataFrame =
    ev.groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("t"), col("event_id"),
        col("v_c")))).as("seq"))
      .withColumn("vals",
        expr("transform(seq, x -> x.v_c / CAST(100 AS DOUBLE))"))
      .withColumn("ewma", expr(
        """aggregate(slice(vals, 2, size(vals) - 1), vals[0],
           (acc, v) -> CAST(0.5 AS DOUBLE) * v + CAST(0.5 AS DOUBLE) * acc)"""))
      .select(col("user_id"), size(col("vals")).cast("long").as("n_events"),
        round(col("ewma"), 6).as("ewma6"))
      .orderBy("user_id")

  /** §2 #176 — per-user EWMA of event values (exact cents → doubles,
    * half-life weighting in arrival order). */
  def eventsEwma(spark: SparkSession, sfDir: String): DataFrame =
    eventsEwmaFrom(Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("t"), cents(col("value")).as("v_c")))

  /** §2 #177 — SALTED fact⋈fact equi-join: the manual hot-key
    * treatment when one join key dominates (the join-side twin of
    * agg_skew_salted, and the fallback when AQE's skew split cannot
    * apply, e.g. a bucketed/sorted layout that must not be re-split).
    * The big side carries a deterministic per-row salt, the other side
    * replicates ×`salts`; the exchange then keys on (orderkey, salt),
    * spreading one hot order over `salts` reducers. Result provably
    * identical to the unsalted join (oracle IS the plain join; spec
    * asserts equality and the salted exchange). The merge hint pins a
    * shuffle join so the salted exchange is actually exercised at
    * bench SF (at 100 TB neither fact side broadcasts anyway). */
  def joinSkewSalted(spark: SparkSession, sfDir: String,
                     salts: Int = 8): DataFrame = {
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), cents(col("l_extendedprice")).as("price_c"),
        pmod(crc32(concat_ws(",", col("l_orderkey"), col("l_linenumber"))),
          lit(salts.toLong)).cast("int").as("salt"))
    val ord = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"))
      .withColumn("salt", explode(array((0 until salts).map(lit): _*)))
    li.hint("merge")
      .join(ord, li("l_orderkey") === ord("o_orderkey")
        && li("salt") === ord("salt"))
      .groupBy("o_orderstatus")
      .agg(sum("price_c").as("revenue_c"), count(lit(1)).as("n_lines"))
      .orderBy("o_orderstatus")
  }

  /** Generic core: RETENTION COHORTS over ANY (user_id, wk) frame of
    * per-user activity weeks — users are grouped by their first active
    * ISO week (the cohort) and counted at each later week offset: the
    * standard product-analytics retention triangle.
    *
    * Scale shape: one hash aggregate for first-activity (user_id keys),
    * one equi-join back on user_id (co-partitioned with the aggregate's
    * exchange, so AQE reuses the partitioning), one (cohort, offset)
    * aggregate whose distinct-user count shuffles (cohort, offset,
    * user_id) triples — bounded by activity rows, never wider. */
  def retentionCohortsFrom(ev: DataFrame): DataFrame = {
    val first = ev.groupBy("user_id").agg(min("wk").as("cohort_wk"))
    ev.join(first, "user_id")
      .withColumn("week_offset",
        expr("datediff(wk, cohort_wk) div 7").cast("int"))
      .groupBy("cohort_wk", "week_offset")
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort_wk", "week_offset")
  }

  /** §2 #107 — weekly retention cohorts of the events stream. Both
    * engines truncate to the ISO week's Monday, so offsets are exact
    * multiples of 7 days by construction. */
  def retentionCohorts(spark: SparkSession, sfDir: String): DataFrame =
    retentionCohortsFrom(Tables.load(spark, sfDir, "events")
      .select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("wk")))
}
