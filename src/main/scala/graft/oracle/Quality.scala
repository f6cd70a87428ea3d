package graft.oracle

import graft.operators.Maintenance.mortonTerms
import graft.operators.Quality.corrCols
import graft.operators.SchemaTools.{templateTables, xmlOrdersElements}

/** DuckDB replays of the data-quality and migration queries: integrity,
  * profiles, privacy checks, schema/package metadata, merges and diffs
  * (Quality, SchemaTools, ExportImport, Maintenance, MergeImport,
  * JsonOps, PackageFilter). */
object Quality {

  val jsonPropsOracle: String =
    """SELECT event_type, count(*) AS n,
        count(k_val) AS n_with_k,
        CAST(sum(k_val) AS BIGINT) AS sum_k,
        min(k_val) AS min_k, max(k_val) AS max_k
       FROM (SELECT event_type,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
             FROM events)
       GROUP BY 1 ORDER BY 1"""

  val packageFilterOracle: String =
    s"""SELECT o_orderkey, o_orderstatus,
        CAST(round(o_totalprice*100) AS BIGINT) AS price_cents,
        o_orderpriority
        FROM orders
        WHERE (o_orderstatus = 'F' OR o_orderstatus = 'O')
          AND o_totalprice >= 10000 AND o_totalprice <= 400000
          AND o_orderpriority <> '3-LOW'
        ORDER BY o_orderkey"""

  /** DuckDB twin of [[graft.operators.Quality.knuth32]] (same split-multiply,
    * same values). */
  def knuthSql(key: String): String = {
    val a = s"(($key) % 4294967296)"
    s"((($a % 65536) * 2654435761) % 4294967296 + " +
      s"((($a // 65536) * 2654435761) % 65536) * 65536) % 4294967296"
  }

  /** DuckDB oracle for [[graft.operators.Quality.outlierFences]] (quantile_disc
    * == percentile_disc, proven by pctile_value). */
  val outlierOracle: String =
    """WITH ev AS (SELECT event_type,
           CAST(round(value*100) AS BIGINT) AS v_c FROM events),
        f AS (SELECT event_type,
           CAST(quantile_disc(v_c, 0.25) AS BIGINT) AS q1_c,
           CAST(quantile_disc(v_c, 0.75) AS BIGINT) AS q3_c
         FROM ev GROUP BY 1)
       SELECT ev.event_type, count(*) AS n,
         min(q1_c) AS q1_c, min(q3_c) AS q3_c,
         CAST(sum(CASE WHEN v_c*2 < q1_c*2 - (q3_c-q1_c)*3
                    OR v_c*2 > q3_c*2 + (q3_c-q1_c)*3
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
         min(CASE WHEN v_c*2 < q1_c*2 - (q3_c-q1_c)*3
                    OR v_c*2 > q3_c*2 + (q3_c-q1_c)*3
                  THEN v_c END) AS min_out_c,
         max(CASE WHEN v_c*2 < q1_c*2 - (q3_c-q1_c)*3
                    OR v_c*2 > q3_c*2 + (q3_c-q1_c)*3
                  THEN v_c END) AS max_out_c
       FROM ev JOIN f ON ev.event_type = f.event_type
       GROUP BY 1 ORDER BY 1"""

  /** DuckDB oracle for [[graft.operators.Quality.integrityChecksum]]: same
    * canonical text, same KR fold (the bloom_decontaminate-proven replay), same
    * decimal sum. */
  val integrityOracle: String =
    """WITH t AS (SELECT o_orderstatus AS grp,
           o_orderkey || '|' || o_custkey || '|' || o_orderstatus || '|' ||
           CAST(round(o_totalprice*100) AS BIGINT) || '|' ||
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') || '|' ||
           o_orderpriority AS s
         FROM orders)
       SELECT grp, count(*) AS n_rows,
         CAST(sum(CAST(list_reduce(
           [CAST(unicode(s[i]) AS BIGINT)
            for i in range(1, CAST(length(s) AS INTEGER) + 1)],
           (a, c) -> (a * 257 + c) % 18014398509481984) AS HUGEINT))
           % 2305843009213693951 AS BIGINT) AS checksum
       FROM t GROUP BY grp ORDER BY grp"""

  /** DuckDB oracle for [[graft.operators.Quality.joinSkewReport]]
    * (quantile_cont = Spark's interpolating percentile; explicit DOUBLE casts
    * because DuckDB's `/` on integers is integer division). */
  val joinSkewOracle: String =
    """WITH c AS (SELECT user_id AS key, count(*) AS cnt
                  FROM events GROUP BY 1),
        a AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
                     count(*) AS n_keys,
                     quantile_cont(cnt, 0.5) AS p50,
                     quantile_cont(cnt, 0.99) AS p99,
                     max(cnt) AS max_rows
              FROM c),
        t AS (SELECT key AS top_key, cnt AS top_cnt
              FROM c ORDER BY cnt DESC, key LIMIT 1)
       SELECT n_rows, n_keys,
         round(n_rows / CAST(n_keys AS DOUBLE), 4) AS avg_rows,
         round(p50, 4) AS p50_rows,
         round(p99, 4) AS p99_rows,
         max_rows,
         round(max_rows / (n_rows / CAST(n_keys AS DOUBLE)), 4)
           AS skew_factor,
         top_key,
         round(top_cnt / CAST(n_rows AS DOUBLE), 4) AS top_share
       FROM a, t"""

  /** Oracle twin of [[graft.operators.Quality.profileTable]] (UNION ALL, one
    * leg per column). */
  val profileOracle: String = {
    def leg(c: String, mn: String, mx: String) =
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
          count(CASE WHEN $c IS NULL THEN 1 END) AS n_nulls,
          count(DISTINCT $c) AS n_distinct,
          $mn AS min_txt, $mx AS max_txt FROM orders"""
    val legs = Seq(
      leg("o_orderkey", "CAST(min(o_orderkey) AS VARCHAR)",
        "CAST(max(o_orderkey) AS VARCHAR)"),
      leg("o_custkey", "CAST(min(o_custkey) AS VARCHAR)",
        "CAST(max(o_custkey) AS VARCHAR)"),
      leg("o_orderstatus", "CAST(min(o_orderstatus) AS VARCHAR)",
        "CAST(max(o_orderstatus) AS VARCHAR)"),
      leg("o_totalprice",
        "CAST(CAST(round(min(o_totalprice)*100) AS BIGINT) AS VARCHAR)",
        "CAST(CAST(round(max(o_totalprice)*100) AS BIGINT) AS VARCHAR)"),
      leg("o_orderdate", "strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S')",
        "strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S')"),
      leg("o_orderpriority", "CAST(min(o_orderpriority) AS VARCHAR)",
        "CAST(max(o_orderpriority) AS VARCHAR)"))
    legs.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY col_name")
  }

  /** DuckDB oracle for [[graft.operators.Quality.kAnonymity]]. */
  def kAnonymityOracle(k: Int = 5): String =
    s"""WITH g AS (SELECT c_nationkey, c_mktsegment,
                  floor(c_acctbal / 1000) AS bal_bucket, count(*) AS cnt
           FROM customer GROUP BY 1, 2, 3)
       SELECT $k AS k, CAST(sum(cnt) AS BIGINT) AS n_rows,
         count(*) AS n_groups,
         CAST(sum(CASE WHEN cnt < $k THEN 1 ELSE 0 END) AS BIGINT)
           AS n_risky_groups,
         CAST(sum(CASE WHEN cnt < $k THEN cnt ELSE 0 END) AS BIGINT)
           AS n_risky_rows,
         round(sum(CASE WHEN cnt < $k THEN cnt ELSE 0 END)
               / CAST(sum(cnt) AS DOUBLE), 4) AS risk_pct,
         min(cnt) AS min_group, max(cnt) AS max_group
       FROM g"""

  val benfordCheckOracle: String =
    """WITH d AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice*100)
               AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
           FROM orders),
        g AS (SELECT digit, count(*) AS n FROM d WHERE digit >= 1
              GROUP BY 1)
       SELECT digit, n,
         round(n / CAST(sum(n) OVER () AS DOUBLE), 4) AS freq4,
         round(log10(1 + 1.0 / digit), 4) AS benford4,
         round(abs(round(n / CAST(sum(n) OVER () AS DOUBLE), 4)
               - round(log10(1 + 1.0 / digit), 4)), 4) AS dev4,
         round(abs(round(n / CAST(sum(n) OVER () AS DOUBLE), 4)
               - round(log10(1 + 1.0 / digit), 4)), 4) > 0.02 AS flag_digit
       FROM g ORDER BY digit"""

  /** DuckDB oracle for [[graft.operators.Quality.lDiversity]]. */
  def lDiversityOracle(l: Int = 3): String =
    s"""WITH gs AS (SELECT c_nationkey, c_mktsegment,
                      floor(c_acctbal / 1000) AS s, count(*) AS cnt
                    FROM customer GROUP BY 1, 2, 3),
        g AS (SELECT c_nationkey, c_mktsegment,
                count(*) AS n_sensitive, sum(cnt) AS cnt
              FROM gs GROUP BY 1, 2)
       SELECT $l AS l, CAST(sum(cnt) AS BIGINT) AS n_rows,
         count(*) AS n_groups,
         CAST(sum(CASE WHEN n_sensitive < $l THEN 1 ELSE 0 END) AS BIGINT)
           AS n_risky_groups,
         CAST(sum(CASE WHEN n_sensitive < $l THEN cnt ELSE 0 END) AS BIGINT)
           AS n_risky_rows,
         round(sum(CASE WHEN n_sensitive < $l THEN cnt ELSE 0 END)
               / CAST(sum(cnt) AS DOUBLE), 4) AS risk_pct,
         min(n_sensitive) AS min_diversity,
         max(n_sensitive) AS max_diversity
       FROM g"""

  /** DuckDB oracle for [[graft.operators.Quality.tCloseness]]: same
    * observed-cell algebra, 8-dp decimal terms, 4-dp class distance. */
  def tClosenessOracle(t: Double = 0.2): String =
    s"""WITH cells AS (SELECT c_nationkey AS q0, c_mktsegment AS q1,
                         floor(c_acctbal / 1000) AS s, count(*) AS cnt
                       FROM customer GROUP BY 1, 2, 3),
        cls AS (SELECT q0, q1, sum(cnt) AS n_c FROM cells GROUP BY 1, 2),
        gdist AS (SELECT s, sum(cnt) AS g_s FROM cells GROUP BY 1),
        tot AS (SELECT sum(cnt) AS n FROM cells),
        tv AS (SELECT c.q0, c.q1, max(cl.n_c) AS n_c,
                 round((1.0 + CAST(sum(CAST(round(
                     abs(c.cnt / CAST(cl.n_c AS DOUBLE)
                         - g.g_s / CAST(tot.n AS DOUBLE))
                     - g.g_s / CAST(tot.n AS DOUBLE), 8)
                   AS DECIMAL(18, 8))) AS DOUBLE)) / 2.0, 4) AS tv4
               FROM cells c
               JOIN cls cl ON cl.q0 = c.q0 AND cl.q1 = c.q1
               JOIN gdist g ON g.s = c.s, tot
               GROUP BY c.q0, c.q1)
       SELECT CAST($t AS DOUBLE) AS t,
         CAST(sum(n_c) AS BIGINT) AS n_rows,
         count(*) AS n_groups,
         CAST(sum(CASE WHEN tv4 > $t THEN 1 ELSE 0 END) AS BIGINT)
           AS n_risky_groups,
         CAST(sum(CASE WHEN tv4 > $t THEN n_c ELSE 0 END) AS BIGINT)
           AS n_risky_rows,
         round(sum(CASE WHEN tv4 > $t THEN n_c ELSE 0 END)
               / CAST(sum(n_c) AS DOUBLE), 4) AS risk_pct,
         min(tv4) AS min_tv4, max(tv4) AS max_tv4
       FROM tv"""

  /** DuckDB oracle for [[graft.operators.Quality.totalsReconcile]]. */
  val totalsReconcileOracle: String =
    """WITH l AS (SELECT l_orderkey,
              CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                    * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT) AS lc
            FROM lineitem GROUP BY 1),
        j AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS oc, lc
              FROM orders LEFT JOIN l ON l_orderkey = o_orderkey),
        orph AS (SELECT count(*) AS n_orphan_line_keys FROM l
                 WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
       SELECT count(*) AS n_orders,
         CAST(sum(CASE WHEN lc IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_no_lines,
         CAST(sum(CASE WHEN lc = oc THEN 1 ELSE 0 END) AS BIGINT)
           AS n_exact,
         CAST(sum(CASE WHEN abs(lc - oc) * 10000 <= oc * 100
           THEN 1 ELSE 0 END) AS BIGINT) AS n_within_1pct,
         CAST(sum(CASE WHEN abs(lc - oc) * 10000 <= oc * 1000
           THEN 1 ELSE 0 END) AS BIGINT) AS n_within_10pct,
         round(quantile_cont(abs(lc - oc) * 10000 // oc, 0.5), 4)
           AS p50_err_bp,
         (SELECT n_orphan_line_keys FROM orph) AS n_orphan_line_keys
       FROM j"""

  /** DuckDB oracle for [[graft.operators.Quality.corpusConcentration]] — same
    * histogram regrouping, same int64 arithmetic, same final divisions. */
  val corpusConcentrationOracle: String =
    """WITH hist AS (SELECT n_chars AS v, count(*) AS c
                     FROM documents GROUP BY 1),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                       CAST(sum(v * c) AS BIGINT) AS t_chars FROM hist),
        w AS (SELECT v, c,
                coalesce(sum(c) OVER (ORDER BY v ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS s_lt,
                sum(c) OVER (ORDER BY v DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
              FROM hist),
        k AS (SELECT n, t_chars,
                greatest(n // 100, 1) AS k1, greatest(n // 10, 1) AS k10
              FROM tot)
       SELECT max(n) AS n_docs, max(t_chars) AS total_chars,
         round(2.0 * sum(v * (c * s_lt + c * (c + 1) // 2))
                 / (max(n) * max(t_chars))
               - (max(n) + 1) / CAST(max(n) AS DOUBLE), 6) AS gini6,
         round(sum(v * (least(cc, k1) - least(cc - c, k1)))
               / CAST(max(t_chars) AS DOUBLE), 6) AS top1_share,
         round(sum(v * (least(cc, k10) - least(cc - c, k10)))
               / CAST(max(t_chars) AS DOUBLE), 6) AS top10_share
       FROM w, k"""

  /** DuckDB oracle for [[graft.operators.Quality.corrMatrix]]: the same cents
    * quantization, exact-integer sufficient statistics, and closed-form
    * correlation — deliberately NOT DuckDB's corr() (whose streaming update
    * order is not part of any cross-engine contract). */
  def corrMatrixOracle(): String = {
    def d(e: String) = s"CAST(sum($e) AS DOUBLE)"
    val pairs = for {
      i <- corrCols.indices; j <- corrCols.indices if i < j
    } yield (corrCols(i), corrCols(j))
    val sums =
      (corrCols.map(c => s"${d(s"q_$c")} AS s_$c") ++
        corrCols.map(c => s"${d(s"q_$c * q_$c")} AS ss_$c") ++
        pairs.map { case (a, b) => s"${d(s"q_$a * q_$b")} AS sp_${a}_$b" })
        .mkString(",\n              ")
    val rows = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS col_x, '$b' AS col_y, n,
            round((n * sp_${a}_$b - s_$a * s_$b)
              / sqrt((n * ss_$a - s_$a * s_$a)
                * (n * ss_$b - s_$b * s_$b)), 6) AS corr6 FROM s"""
    }.mkString("\n        UNION ALL\n        ")
    val quant = corrCols
      .map(c => s"CAST(floor($c * 100 + 0.5) AS BIGINT) AS q_$c")
      .mkString(",\n              ")
    s"""WITH qv AS (SELECT $quant FROM lineitem),
        s AS (SELECT CAST(count(*) AS BIGINT) AS n,
              $sums
            FROM qv)
       SELECT * FROM ($rows) ORDER BY col_x, col_y"""
  }

  val mergeUpsertOracle: String =
    """SELECT o_orderkey,
        CASE WHEN o_orderkey % 10 = 0 THEN 'U' ELSE o_orderstatus END
          AS o_orderstatus,
        CAST(round(CASE WHEN o_orderkey % 10 = 0
                        THEN o_totalprice + 1000.0
                        ELSE o_totalprice END * 100) AS BIGINT) AS price_cents
       FROM orders ORDER BY o_orderkey"""

  val packageApplyOracle: String =
    """SELECT * FROM (
         SELECT 'customer' AS tab, 1 AS proc_order, count(*) AS n_rows,
                count(CASE WHEN c_custkey % 7 = 0 THEN 1 END) AS n_changed,
                CAST(0 AS BIGINT) AS n_rejected
         FROM customer
         UNION ALL
         SELECT 'orders' AS tab, 2 AS proc_order, count(*) AS n_rows,
                count(CASE WHEN o_orderkey % 10 = 0 THEN 1 END) AS n_changed,
                CAST(0 AS BIGINT) AS n_rejected
         FROM orders)
       ORDER BY proc_order"""

  val diffOracle: String =
    """WITH src AS (SELECT o_orderkey AS k,
             CAST(round(o_totalprice*100) AS BIGINT) AS price_c FROM orders),
       new_snap AS (
         SELECT k, CASE WHEN k % 113 = 0 THEN price_c + 11
                        ELSE price_c END AS price_c
         FROM src WHERE k % 127 <> 0
         UNION ALL
         SELECT k + 100000000, price_c FROM src WHERE k % 131 = 0)
       SELECT * FROM (
         SELECT coalesce(o.k, n.k) AS o_orderkey,
           CASE WHEN o.k IS NULL THEN 'added'
                WHEN n.k IS NULL THEN 'removed'
                WHEN o.price_c <> n.price_c THEN 'changed'
                ELSE 'same' END AS change_type,
           o.price_c AS old_price_c, n.price_c AS new_price_c
         FROM src o FULL OUTER JOIN new_snap n ON o.k = n.k)
       WHERE change_type <> 'same' ORDER BY o_orderkey, change_type"""

  /** DuckDB oracle for [[graft.operators.MergeImport.scd2Intervals]]. */
  val scd2Oracle: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t,
            event_type AS status FROM events),
        c AS (SELECT *,
                lag(status) OVER (PARTITION BY user_id
                                  ORDER BY t, event_id) AS prev
              FROM e),
        ch AS (SELECT * FROM c
               WHERE prev IS NULL OR prev <> status)
       SELECT user_id,
              CAST(row_number() OVER w AS INTEGER) AS version,
              status, t AS valid_from_us,
              lead(t) OVER w AS valid_to_us,
              lead(t) OVER w IS NULL AS is_current
       FROM ch
       WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
       ORDER BY user_id, version"""

  val corpusDiffOracle: String =
    """WITH v1 AS (SELECT doc_id, source, text FROM documents),
        v2 AS (SELECT doc_id, source,
                 CASE WHEN doc_id % 17 = 0 THEN text || ' v2'
                      ELSE text END AS text
               FROM v1 WHERE doc_id % 13 <> 0
               UNION ALL
               SELECT -(doc_id + 1), source, text
               FROM v1 WHERE doc_id % 19 = 0),
        a AS (SELECT doc_id, source AS s1, sha256(text) AS f1,
                CAST(len(text) AS BIGINT) AS c1 FROM v1),
        b AS (SELECT doc_id, source AS s2, sha256(text) AS f2,
                CAST(len(text) AS BIGINT) AS c2 FROM v2),
        j AS (SELECT coalesce(s1, s2) AS source,
                CASE WHEN f1 IS NULL THEN 'added'
                     WHEN f2 IS NULL THEN 'removed'
                     WHEN f1 <> f2 THEN 'changed'
                     ELSE 'unchanged' END AS status,
                coalesce(c2, c1) AS chars
              FROM a FULL OUTER JOIN b USING (doc_id))
       SELECT source, status, count(*) AS n_docs,
         CAST(sum(chars) AS BIGINT) AS n_chars
       FROM j GROUP BY 1, 2 ORDER BY 1, 2"""

  val fixedWidthRoundtripOracle: String =
    """SELECT o_orderstatus, count(*) AS n,
         CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
           AS sum_price_c,
         min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
         CAST(0 AS BIGINT) AS n_badlen
       FROM orders GROUP BY 1 ORDER BY 1"""

  val schemaEvolutionOracle: String =
    """SELECT channel, count(*) AS n,
        CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
          AS sum_price_c
       FROM (SELECT o_totalprice,
               CASE WHEN o_orderkey % 2 = 0 THEN 'unknown'
                    WHEN o_orderkey % 3 = 0 THEN 'web'
                    ELSE 'store' END AS channel
             FROM orders)
       GROUP BY 1 ORDER BY 1"""

  /** DuckDB oracle for [[graft.operators.Maintenance.zorderLayout]]. */
  def zorderLayoutOracle(bits: Int = 8, nFiles: Int = 64): String = {
    val n = 1L << bits
    def leg(fileExpr: String, name: String) =
      s"""SELECT '$name' AS layout, count(*) AS n_files,
            CAST(sum(c) AS BIGINT) AS n_rows,
            round(avg(xs), 4) AS avg_x_span,
            round(avg(ys), 4) AS avg_y_span,
            round(avg(xs * ys), 4) AS avg_box
          FROM (SELECT $fileExpr AS f, count(*) AS c,
                  max(x) - min(x) + 1 AS xs, max(y) - min(y) + 1 AS ys
                FROM z GROUP BY 1)"""
    s"""WITH b AS (SELECT o_custkey AS xr,
              epoch_us(o_orderdate) // 86400000000 AS yr FROM orders),
        mm AS (SELECT min(xr) AS minx, max(xr) AS maxx,
                      min(yr) AS miny, max(yr) AS maxy FROM b),
        s AS (SELECT (xr - minx) * $n // (maxx - minx + 1) AS x,
                     (yr - miny) * $n // (maxy - miny + 1) AS y
              FROM b, mm),
        z AS (SELECT x, y, ${mortonTerms(bits, "//")} AS z FROM s)
       SELECT * FROM (
         ${leg(s"z // ${(1L << (2 * bits)) / nFiles}", "zorder")}
         UNION ALL
         ${leg(s"x // ${n / nFiles}", "linear")})
       ORDER BY layout"""
  }

  /** The asserted expectation for schemaGen's oracle: hand-maintained,
    * so the oracle is independent of the code that derives the answer. */
  val expectedSchema: Seq[(String, String, String)] = Seq(
    ("region", "r_regionkey", "xsd:integer"), ("region", "r_name", "xsd:string"),
    ("nation", "n_nationkey", "xsd:integer"), ("nation", "n_name", "xsd:string"),
    ("nation", "n_regionkey", "xsd:integer"),
    ("customer", "c_custkey", "xsd:integer"), ("customer", "c_name", "xsd:string"),
    ("customer", "c_nationkey", "xsd:integer"),
    ("customer", "c_acctbal", "xsd:double"),
    ("customer", "c_mktsegment", "xsd:string"),
    ("supplier", "s_suppkey", "xsd:integer"), ("supplier", "s_name", "xsd:string"),
    ("supplier", "s_nationkey", "xsd:integer"),
    ("supplier", "s_acctbal", "xsd:double"),
    ("part", "p_partkey", "xsd:integer"), ("part", "p_name", "xsd:string"),
    ("part", "p_brand", "xsd:string"), ("part", "p_type", "xsd:string"),
    ("part", "p_size", "xsd:integer"), ("part", "p_retailprice", "xsd:double"),
    ("orders", "o_orderkey", "xsd:integer"), ("orders", "o_custkey", "xsd:integer"),
    ("orders", "o_orderstatus", "xsd:string"),
    ("orders", "o_totalprice", "xsd:double"),
    ("orders", "o_orderdate", "xsd:dateTime"),
    ("orders", "o_orderpriority", "xsd:string"),
    ("lineitem", "l_orderkey", "xsd:integer"),
    ("lineitem", "l_partkey", "xsd:integer"),
    ("lineitem", "l_suppkey", "xsd:integer"),
    ("lineitem", "l_linenumber", "xsd:integer"),
    ("lineitem", "l_quantity", "xsd:double"),
    ("lineitem", "l_extendedprice", "xsd:double"),
    ("lineitem", "l_discount", "xsd:double"),
    ("lineitem", "l_tax", "xsd:double"),
    ("lineitem", "l_returnflag", "xsd:string"),
    ("lineitem", "l_linestatus", "xsd:string"),
    ("lineitem", "l_shipdate", "xsd:dateTime"),
    ("events", "event_id", "xsd:integer"), ("events", "ts", "xsd:dateTime"),
    ("events", "user_id", "xsd:integer"), ("events", "event_type", "xsd:string"),
    ("events", "value", "xsd:double"), ("events", "props", "xsd:string"),
    ("documents", "doc_id", "xsd:integer"), ("documents", "text", "xsd:string"),
    ("documents", "lang", "xsd:string"), ("documents", "source", "xsd:string"),
    ("documents", "n_chars", "xsd:integer"),
    ("embeddings", "vec_id", "xsd:integer"),
    ("embeddings", "embedding", "xsd:string"),
    ("embeddings", "label", "xsd:integer"))

  def schemaGenOracle: String =
    expectedSchema
      .map { case (t, c, x) => s"('$t','$c','$x')" }
      .mkString(
        "SELECT tab, col_name, xsd_type FROM (VALUES ",
        ", ",
        ") AS t(tab, col_name, xsd_type) ORDER BY tab, col_name")

  def xsdExportOracle: String =
    xmlOrdersElements.zipWithIndex
      .map { case ((n, t), i) => s"(${i + 1},'$n','$t')" }
      .mkString("SELECT pos, element, xsd_type FROM (VALUES ", ", ",
        ") AS t(pos, element, xsd_type) ORDER BY pos")

  def templateExportOracle: String = {
    val rows = templateTables.flatMap { t =>
      expectedSchema.filter(_._1 == t).zipWithIndex.map {
        case ((_, c, x), i) => (t, i + 1, c, s"Type: $x")
      }
    }
    rows.map { case (t, p, c, cm) => s"('$t',$p,'$c','$cm')" }
      .mkString(
        "SELECT tab, col_pos, col_name, col_comment FROM (VALUES ", ", ",
        ") AS t(tab, col_pos, col_name, col_comment) ORDER BY tab, col_pos")
  }

  def packageCountsOracle(tables: Seq[String], nCols: Map[String, Int]): String =
    tables.sorted.map { t =>
      s"SELECT '$t' AS tab, CAST(count(*) AS BIGINT) AS n_rows, ${nCols(t)} AS n_cols FROM $t"
    }.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY tab")
}
