package graft.oracle


/** DuckDB replays of the event and TPC-H analytics queries (Analytics,
  * AsofJoin, Sessionize). */
object Analytics {

  /** The DuckDB oracle uses a REAL ASOF JOIN — the engines reach the
    * same answer through entirely different operators. */
  val asofJoinOracle: String =
    """SELECT o_orderkey,
        strftime(b.od, '%Y-%m-%d') AS prev_day,
        CAST(date_diff('day', b.od, a.o_orderdate) AS INTEGER) AS gap_days
       FROM orders a ASOF LEFT JOIN
         (SELECT DISTINCT o_custkey AS ck, o_orderdate AS od FROM orders) b
         ON a.o_custkey = b.ck AND a.o_orderdate > b.od
       ORDER BY o_orderkey"""

  /** DuckDB oracle for the FORWARD native as-of join — same shape with
    * the comparator flipped (`lt < rt` picks the nearest later right). */
  val asofJoinForwardOracle: String =
    """SELECT o_orderkey,
        strftime(b.od, '%Y-%m-%d') AS next_day,
        CAST(date_diff('day', a.o_orderdate, b.od) AS INTEGER) AS gap_days
       FROM orders a ASOF LEFT JOIN
         (SELECT DISTINCT o_custkey AS ck, o_orderdate AS od FROM orders) b
         ON a.o_custkey = b.ck AND a.o_orderdate < b.od
       ORDER BY o_orderkey"""

  /** DuckDB oracle for [[graft.operators.Analytics.funnelWindowed]]. */
  def funnelWindowedOracle(stepA: String = "view",
                           stepB: String = "purchase",
                           windowUs: Long = 3600000000L): String =
    s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t
                   FROM events),
        fa AS (SELECT user_id, min(t) AS t_a FROM e
               WHERE event_type = '$stepA' GROUP BY user_id),
        cv AS (SELECT e.user_id, min(e.t) - min(fa.t_a) AS delay_us
               FROM e JOIN fa USING (user_id)
               WHERE e.event_type = '$stepB'
                 AND e.t > fa.t_a AND e.t <= fa.t_a + $windowUs
               GROUP BY e.user_id)
       SELECT (SELECT count(*) FROM fa) AS n_started,
              (SELECT count(*) FROM cv) AS n_converted,
              round((SELECT count(*) FROM cv)
                    / CAST((SELECT count(*) FROM fa) AS DOUBLE), 4)
                AS conv_rate,
              round((SELECT quantile_cont(delay_us, 0.5) FROM cv) / 1e6, 4)
                AS p50_delay_s"""

  /** DuckDB oracle for [[graft.operators.Analytics.attribution]] (row_number
    * replays the same (t, event_id) last-touch order). */
  def attributionOracle(touches: Seq[String] = Seq("view", "click"),
                        windowUs: Long = 86400000000L): String = {
    val in = touches.map(t => s"'$t'").mkString(", ")
    s"""WITH e AS (SELECT event_id, user_id, event_type,
                     epoch_us(ts) AS t,
                     CAST(round(value * 100) AS BIGINT) AS v_c
                   FROM events),
        p AS (SELECT event_id AS pid, user_id, t AS t_p, v_c FROM e
              WHERE event_type = 'purchase'),
        o AS (SELECT user_id, t AS t_o, event_id AS oid,
                     event_type AS touch FROM e
              WHERE event_type IN ($in)),
        last AS (SELECT pid, touch FROM (
              SELECT p.pid, o.touch,
                row_number() OVER (PARTITION BY p.pid
                  ORDER BY o.t_o DESC, o.oid DESC) AS rn
              FROM p JOIN o ON o.user_id = p.user_id
              WHERE o.t_o < p.t_p AND o.t_o >= p.t_p - $windowUs)
            WHERE rn = 1)
       SELECT coalesce(touch, 'none') AS touch_type,
              count(*) AS n_purchases,
              CAST(sum(v_c) AS BIGINT) AS value_cents,
              count(DISTINCT user_id) AS n_users
       FROM p LEFT JOIN last USING (pid)
       GROUP BY 1 ORDER BY 1"""
  }

  /** DuckDB oracle for [[graft.operators.Analytics.eventsAnomaly]]. */
  def eventsAnomalyOracle(k: Double = 3.0): String =
    s"""WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
              count(*) AS n FROM events GROUP BY 1),
        m AS (SELECT quantile_cont(n, 0.5) AS med FROM d),
        dv AS (SELECT day, n, med, abs(n - med) AS adev FROM d, m),
        md AS (SELECT quantile_cont(adev, 0.5) AS mad FROM dv)
       SELECT day, n, round(med, 4) AS med4, round(mad, 4) AS mad4,
              CASE WHEN mad > 0 THEN round(adev / mad, 4) END AS score4,
              adev > mad * $k AS is_anomaly
       FROM dv, md ORDER BY day"""

  /** DuckDB oracle for [[graft.operators.Analytics.eventsCusum]]: same
    * exact-integer μ/σ, same prefix-sum closed form over the same day order. */
  val eventsCusumOracle: String =
    """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
              count(*) AS n FROM events GROUP BY 1),
        st AS (SELECT sum(n) AS s1, sum(n * n) AS s2, count(*) AS cnt
               FROM d),
        base AS (SELECT day, n,
                   CAST(s1 AS DOUBLE) / cnt AS mu,
                   sqrt((CAST(s2 AS DOUBLE)
                     - CAST(s1 AS DOUBLE) * s1 / cnt) / cnt) AS sigma
                 FROM d, st),
        pre AS (SELECT day, n, mu, sigma,
                  sum(n - mu - sigma / 2) OVER
                    (ORDER BY day ROWS UNBOUNDED PRECEDING) AS pp,
                  sum(mu - sigma / 2 - n) OVER
                    (ORDER BY day ROWS UNBOUNDED PRECEDING) AS pn
                FROM base),
        cs AS (SELECT day, n, mu, sigma,
                 pp - least(min(pp) OVER
                   (ORDER BY day ROWS UNBOUNDED PRECEDING), 0) AS s_pos,
                 pn - least(min(pn) OVER
                   (ORDER BY day ROWS UNBOUNDED PRECEDING), 0) AS s_neg
               FROM pre)
       SELECT day, n, round(mu, 4) AS mu4, round(sigma, 4) AS sigma4,
              round(s_pos, 4) AS s_pos4, round(s_neg, 4) AS s_neg4,
              (s_pos > sigma * 4 OR s_neg > sigma * 4) AS is_change
       FROM cs ORDER BY day"""

  /** DuckDB oracle for [[graft.operators.Analytics.pathTransitions]]. */
  val pathTransitionsOracle: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t, event_id
                  FROM events),
        s AS (SELECT event_type,
                lag(event_type) OVER (PARTITION BY user_id
                  ORDER BY t, event_id) AS prev_type
              FROM e),
        tr AS (SELECT prev_type, event_type AS next_type, count(*) AS n
               FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        ft AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_from
               FROM tr GROUP BY 1)
       SELECT prev_type, next_type, n,
              round(n / CAST(n_from AS DOUBLE), 4) AS p4
       FROM tr JOIN ft USING (prev_type)
       ORDER BY prev_type, next_type"""

  /** DuckDB oracle for [[graft.operators.Analytics.driftReport]]. */
  val driftOracle: String =
    """WITH e AS (SELECT event_type, epoch_us(ts) AS t FROM events),
        s AS (SELECT min(t) AS t_min, max(t) AS t_max FROM e),
        h AS (SELECT event_type,
                t < (t_min + t_max) // 2 AS in_a
              FROM e, s),
        c AS (SELECT event_type,
                CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
              FROM h GROUP BY event_type),
        t AS (SELECT CAST(sum(n_a) AS BIGINT) AS t_a,
                CAST(sum(n_b) AS BIGINT) AS t_b FROM c)
       SELECT event_type, n_a, n_b,
              round(n_a / CAST(t_a AS DOUBLE), 4) AS share_a,
              round(n_b / CAST(t_b AS DOUBLE), 4) AS share_b,
              round(abs(round(n_a / CAST(t_a AS DOUBLE), 4)
                        - round(n_b / CAST(t_b AS DOUBLE), 4)), 4) AS drift
       FROM c, t ORDER BY event_type"""

  val q5RegionRevenueOracle: String =
    """SELECT r_name, n_name, count(*) AS n_lines,
         CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
              * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
           AS revenue_c3
       FROM lineitem
       JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Parameterized like the operator (`topK`) so a non-default
    * invocation cannot silently diverge from its oracle. */
  def basketLiftOracle(topK: Int = 20): String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS part
                   FROM lineitem),
        no_ AS (SELECT count(DISTINCT okey) AS n_orders FROM li),
        pc AS (SELECT part, count(*) AS n_part FROM li GROUP BY 1),
        pr AS (SELECT a.part AS p1, b.part AS p2, count(*) AS n_both
               FROM li a JOIN li b ON a.okey = b.okey AND a.part < b.part
               GROUP BY 1, 2)
       SELECT p1, p2, n_both, a.n_part AS n_a, b.n_part AS n_b,
         round(CAST(n_both AS DOUBLE) * n_orders / (a.n_part * b.n_part), 4)
           AS lift4
       FROM pr JOIN pc a ON a.part = pr.p1 JOIN pc b ON b.part = pr.p2
       CROSS JOIN no_
       ORDER BY n_both DESC, p1, p2 LIMIT $topK"""

  /** DuckDB oracle for [[graft.operators.Analytics.eventsHopping]]: every event
    * contributes to its epoch-aligned 5-minute bucket's window and the one
    * before. */
  val eventsHoppingOracle: String =
    """WITH ev AS (SELECT event_type,
             CAST(round(value*100) AS BIGINT) AS v_c,
             (epoch_us(ts) // 300000000) * 300000000 AS b
           FROM events),
        w AS (SELECT make_timestamp(b) AS ws, event_type, v_c FROM ev
              UNION ALL
              SELECT make_timestamp(b - 300000000), event_type, v_c FROM ev)
       SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
         count(*) AS n, CAST(sum(v_c) AS BIGINT) AS sum_value_c
       FROM w GROUP BY 1, 2 ORDER BY 1, 2"""

  /** DuckDB oracle for [[graft.operators.Analytics.eventDedup]]. */
  val eventDedupOracle: String =
    """WITH base AS (SELECT event_id, user_id, event_type,
            epoch_us(ts) AS t, CAST(round(value*100) AS BIGINT) AS v_c
          FROM events),
        ev AS (SELECT * FROM base
               UNION ALL
               SELECT -(event_id + 1), user_id, event_type,
                      t + 1000000, v_c
               FROM base WHERE event_id % 101 = 0)
       SELECT event_id, user_id, event_type, t - prev_t AS gap_us
       FROM (SELECT event_id, user_id, event_type, t,
               lag(t) OVER (PARTITION BY user_id, event_type, v_c
                            ORDER BY t, event_id) AS prev_t
             FROM ev)
       WHERE prev_t IS NOT NULL AND t - prev_t <= 600000000
       ORDER BY event_id"""

  val eventsEwmaOracle: String =
    """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS t,
              CAST(round(value*100) AS BIGINT) AS v_c FROM events),
        seq AS (SELECT user_id,
                  list(v_c / CAST(100 AS DOUBLE) ORDER BY t, event_id)
                    AS vals
                FROM ev GROUP BY 1)
       SELECT user_id, CAST(len(vals) AS BIGINT) AS n_events,
         round(list_reduce(vals, (acc, v) ->
           CAST(0.5 AS DOUBLE) * v + CAST(0.5 AS DOUBLE) * acc), 6)
           AS ewma6
       FROM seq ORDER BY user_id"""

  val joinSkewSaltedOracle: String =
    """SELECT o_orderstatus,
         CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
           AS revenue_c,
         count(*) AS n_lines
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       GROUP BY 1 ORDER BY 1"""

  /** DuckDB oracle for [[graft.operators.Analytics.retentionCohorts]]. */
  val retentionOracle: String =
    """WITH a AS (SELECT user_id,
            CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
        f AS (SELECT user_id, min(wk) AS cohort_wk FROM a GROUP BY user_id)
       SELECT cohort_wk,
              CAST(date_diff('day', cohort_wk, wk) // 7 AS INTEGER)
                AS week_offset,
              count(DISTINCT a.user_id) AS n_users
       FROM a JOIN f ON a.user_id = f.user_id
       GROUP BY cohort_wk, week_offset
       ORDER BY cohort_wk, week_offset"""

  /** `newSessionOp` is the gap comparator: ">" replays
    * [[graft.operators.Sessionize.sessionize]]'s strict boundary, ">=" replays
    * the native window's half-open one. */
  def sessionizeOracle(gapMinutes: Int = 30, newSessionOp: String = ">"): String = {
    val gapUs = gapMinutes.toLong * 60 * 1000000
    s"""SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
         count(*) AS n_events,
         min(ts_us) AS start_us,
         max(ts_us) - min(ts_us) AS duration_us
        FROM (
          SELECT user_id, ts_us,
            sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_idx
          FROM (
            SELECT user_id, event_id, ts_us,
              CASE WHEN prev_us IS NULL OR ts_us - prev_us $newSessionOp $gapUs
                   THEN 1 ELSE 0 END AS is_new
            FROM (
              SELECT user_id, event_id,
                epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
                  (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
                  AS prev_us
              FROM events)))
        GROUP BY 1, 2 ORDER BY 1, 2"""
  }

  /** DuckDB oracle for [[graft.operators.Sessionize.sessionizeNative]] — the
    * same islands replay as [[graft.operators.Sessionize.sessionize]] (the
    * inclusive native boundary IS the strict-> break; `newSessionOp = ">="` is
    * kept available for engines whose session windows are half-open). */
  def sessionizeNativeOracle(gapMinutes: Int = 30): String =
    sessionizeOracle(gapMinutes)
}
