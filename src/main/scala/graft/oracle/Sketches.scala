package graft.oracle

import graft.operators.Sketches.{CmsA, CmsB, CmsGr, CmsP}

/** DuckDB replays of the sketch queries: KMV, HLL, CMS, HDR and their
  * composed forms (Sketches, SketchHash). */
object Sketches {

  /** DuckDB CTEs replaying [[graft.operators.Sketches.sourceHashes]]: per-doc
    * distinct shingles (same construction as [[Dedup.duckdbShingleCte]], with
    * source), KR+mix hash, cross-doc DISTINCT. */
  private def sourceHashCte: String =
    s"""WITH sg AS (SELECT source,
             unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                   for i in range(1, len(w)-1)])) AS t
           FROM (SELECT source,
                        string_split_regex(trim(lower(text)), '\\s+') AS w
                 FROM documents)),
        hs AS (SELECT DISTINCT source,
                 ${Sketches.duckdbSketchHash("t")} AS g
               FROM sg)"""

  /** DuckDB oracle for [[graft.operators.Sketches.kmvDistinct]]: same hashes,
    * k-th smallest via row_number, same estimator arithmetic. */
  def kmvDistinctOracle(k: Int = 256): String =
    s"""$sourceHashCte,
        r AS (SELECT source, g,
                row_number() OVER (PARTITION BY source ORDER BY g) AS rn,
                count(*) OVER (PARTITION BY source) AS d
              FROM hs),
        a AS (SELECT source, CAST(max(d) AS BIGINT) AS n_exact,
                CAST(least($k, max(d)) AS BIGINT) AS k_used,
                max(CASE WHEN rn = least($k, d) THEN g END) AS kth_hash
              FROM r GROUP BY source),
        e AS (SELECT source, n_exact, k_used, kth_hash,
                CASE WHEN n_exact <= $k THEN CAST(n_exact AS DOUBLE)
                     ELSE round(${k - 1} * pow(2, 63)
                                / CAST(kth_hash AS DOUBLE), 4)
                END AS kmv_est4
              FROM a)
       SELECT source, n_exact, k_used, kth_hash, kmv_est4,
              round((kmv_est4 - n_exact) / CAST(n_exact AS DOUBLE) * 100,
                    2) AS err_pct2
       FROM e ORDER BY source"""

  /** DuckDB oracle for [[graft.operators.Sketches.hllDistinct]]: registers
    * replayed with integer ops (`%`, `//`, `bin()` for bit length, `<<` for the
    * scaled terms), then the same estimator arithmetic. */
  def hllDistinctOracle(): String =
    s"""$sourceHashCte,
        rw AS (SELECT source, g % 64 AS reg,
                 (g // 64) % ${1L << 51} AS w
               FROM hs),
        rr AS (SELECT source, reg,
                 max(CASE WHEN w = 0 THEN 52
                          ELSE 52 - length(bin(w)) END) AS rho
               FROM rw GROUP BY source, reg),
        ag AS (SELECT source, CAST(count(*) AS BIGINT) AS n_hit,
                 sum(CAST(1 AS BIGINT) << (52 - rho)) AS s_hit
               FROM rr GROUP BY source),
        ex AS (SELECT source, CAST(count(*) AS BIGINT) AS n_exact
               FROM hs GROUP BY source),
        st AS (SELECT source, n_exact, 64 - n_hit AS n_regs_zero,
                 CAST(s_hit + (64 - n_hit) * (CAST(1 AS BIGINT) << 52)
                      AS BIGINT) AS s_scaled
               FROM ag JOIN ex USING (source)),
        e AS (SELECT source, n_exact, n_regs_zero, s_scaled,
                CAST(0.7213 AS DOUBLE) / (1 + CAST(1.079 AS DOUBLE) / 64)
                  * 4096 * pow(2, 52) / CAST(s_scaled AS DOUBLE) AS raw
              FROM st)
       SELECT source, n_exact, n_regs_zero, s_scaled,
              round(CASE WHEN n_regs_zero > 0 AND raw <= 160
                         THEN 64 * ln(64 / CAST(n_regs_zero AS DOUBLE))
                         ELSE raw END, 4) AS hll_est4,
              round((round(CASE WHEN n_regs_zero > 0 AND raw <= 160
                                THEN 64 * ln(64 / CAST(n_regs_zero AS DOUBLE))
                                ELSE raw END, 4) - n_exact)
                    / CAST(n_exact AS DOUBLE) * 100, 2) AS err_pct2
       FROM e ORDER BY source"""

  /** DuckDB oracle for [[graft.operators.Sketches.cmsTopk]]: grid, top-k and
    * min-of-cells all replayed (cells sum per-term exact counts — identical to
    * summing item occurrences). */
  def cmsTopkOracle(w: Int = 512, k: Int = 20): String = {
    val aCase = CmsA.zipWithIndex
      .map { case (a, j) => s"WHEN $j THEN $a" }.mkString(" ")
    val bCase = CmsB.zipWithIndex
      .map { case (b, j) => s"WHEN $j THEN $b" }.mkString(" ")
    s"""WITH it AS (SELECT
             unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                   for i in range(1, len(w)-1)])) AS term
           FROM (SELECT string_split_regex(trim(lower(text)), '\\s+') AS w
                 FROM documents)),
        tc AS (SELECT term, count(*) AS exact_cnt FROM it GROUP BY term),
        tg AS (SELECT term, exact_cnt,
                 ${Sketches.duckdbSketchHash("term")} % $CmsGr AS gr
               FROM tc),
        jc AS (SELECT term, exact_cnt, j,
                 ((CASE j $aCase END * gr + CASE j $bCase END)
                  % $CmsP) % $w AS c
               FROM tg, range(0, 4) r(j)),
        cells AS (SELECT j, c, CAST(sum(exact_cnt) AS BIGINT) AS cnt
                  FROM jc GROUP BY j, c),
        top AS (SELECT term, exact_cnt FROM tc
                ORDER BY exact_cnt DESC, term LIMIT $k)
       SELECT top.term AS term, CAST(top.exact_cnt AS BIGINT) AS exact_cnt,
              min(cells.cnt) AS cms_est,
              min(cells.cnt) - CAST(top.exact_cnt AS BIGINT) AS overest
       FROM top
       JOIN jc ON jc.term = top.term
       JOIN cells ON cells.j = jc.j AND cells.c = jc.c
       GROUP BY top.term, top.exact_cnt
       ORDER BY exact_cnt DESC, top.term"""
  }

  private val hdrBucketSql =
    """CASE WHEN v <= 31 THEN v
       ELSE (v >> (length(bin(v)) - 5)) << (length(bin(v)) - 5) END"""

  /** DuckDB oracle for [[graft.operators.Sketches.hdrQuantiles]]: same integer
    * bucket, same integer rank targets, same cumulative-window extraction. */
  def hdrQuantilesOracle(): String = {
    def qsel(qn: Int, qd: Int, p: String, sfx: String) =
      s"min(CASE WHEN cum >= ($qn * n + ${qd - 1}) // $qd THEN b END) AS p$p$sfx"
    def leg(cellSql: String, sfx: String) =
      s"""(SELECT source, CAST(max(n) AS BIGINT) AS n$sfx,
             CAST(count(*) AS BIGINT) AS nb$sfx,
             ${qsel(1, 2, "50", sfx)}, ${qsel(9, 10, "90", sfx)},
             ${qsel(99, 100, "99", sfx)}
           FROM (SELECT source, b,
                   sum(cnt) OVER (PARTITION BY source ORDER BY b) AS cum,
                   sum(cnt) OVER (PARTITION BY source) AS n
                 FROM ($cellSql))
           GROUP BY source)"""
    def errSql(p: String) =
      s"""CASE WHEN p${p}_exact = 0 THEN 0.0
          ELSE CAST(p${p}_exact - p${p}_est AS DOUBLE)
               / CAST(p${p}_exact AS DOUBLE) END"""
    s"""WITH lv AS (SELECT source, CAST(length(text) AS BIGINT) AS v
                    FROM documents),
        ec AS (SELECT source, $hdrBucketSql AS b, count(*) AS cnt
               FROM lv GROUP BY 1, 2),
        xc AS (SELECT source, v AS b, count(*) AS cnt
               FROM lv GROUP BY 1, 2),
        e AS ${leg("SELECT * FROM ec", "_est")},
        x AS ${leg("SELECT * FROM xc", "_exact")}
       SELECT source, n_exact AS n, nb_est AS n_buckets,
              p50_est, p50_exact, p90_est, p90_exact, p99_est, p99_exact,
              round(greatest(${errSql("50")}, ${errSql("90")},
                             ${errSql("99")}) * 100, 2) AS maxerr_pct2
       FROM e JOIN x USING (source) ORDER BY source"""
  }

  /** The estimator CASE over integer (zero, s_scaled) state — shared
    * SQL text for the per-source and union legs of
    * [[sourceOverlapHllOracle]]. */
  private def hllEstSql(zero: String, s: String): String =
    s"""round(CASE WHEN $zero > 0
                AND CAST(0.7213 AS DOUBLE) / (1 + CAST(1.079 AS DOUBLE) / 64)
                    * 4096 * pow(2, 52) / CAST($s AS DOUBLE) <= 160
              THEN 64 * ln(64 / CAST($zero AS DOUBLE))
              ELSE CAST(0.7213 AS DOUBLE) / (1 + CAST(1.079 AS DOUBLE) / 64)
                   * 4096 * pow(2, 52) / CAST($s AS DOUBLE) END, 4)"""

  /** DuckDB oracle for [[graft.operators.Sketches.sourceOverlapHll]]: registers
    * per source, max per register across sources, the same estimator on both
    * levels. */
  def sourceOverlapHllOracle(): String =
    s"""$sourceHashCte,
        rw AS (SELECT source, g % 64 AS reg,
                 (g // 64) % ${1L << 51} AS w
               FROM hs),
        rr AS (SELECT source, reg,
                 max(CASE WHEN w = 0 THEN 52
                          ELSE 52 - length(bin(w)) END) AS rho
               FROM rw GROUP BY source, reg),
        sr AS (SELECT source,
                 CAST(64 - count(*) AS BIGINT) AS zero,
                 CAST(sum(CAST(1 AS BIGINT) << (52 - rho))
                      + (64 - count(*)) * (CAST(1 AS BIGINT) << 52)
                      AS BIGINT) AS s
               FROM rr GROUP BY source),
        ss AS (SELECT CAST(count(*) AS BIGINT) AS n_sources,
                 CAST(sum(CAST(${hllEstSql("zero", "s")} AS DECIMAL(18,4)))
                      AS DOUBLE) AS sum_src_est4
               FROM sr),
        ur AS (SELECT reg, max(rho) AS rho FROM rr GROUP BY reg),
        us AS (SELECT CAST(64 - count(*) AS BIGINT) AS zero,
                 CAST(sum(CAST(1 AS BIGINT) << (52 - rho))
                      + (64 - count(*)) * (CAST(1 AS BIGINT) << 52)
                      AS BIGINT) AS s
               FROM ur),
        ue AS (SELECT ${hllEstSql("zero", "s")} AS union_est4 FROM us),
        ex AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS n_exact FROM hs)
       SELECT n_sources, n_exact, sum_src_est4, union_est4,
              round((sum_src_est4 - union_est4) / sum_src_est4 * 100, 2)
                AS overlap_pct2,
              round((union_est4 - n_exact) / CAST(n_exact AS DOUBLE) * 100,
                    2) AS err_pct2
       FROM ss, ue, ex"""

  /** DuckDB oracle for [[graft.operators.Sketches.sourceJaccardKmv]]:
    * per-source bottom-k via row_number, the same tagged union / rank /
    * match-share over sketch content, the same exact-join anchor. */
  def sourceJaccardKmvOracle(k: Int = 256): String =
    s"""$sourceHashCte,
        sk AS (SELECT source, g FROM
                 (SELECT source, g,
                    row_number() OVER (PARTITION BY source ORDER BY g) AS rn
                  FROM hs)
               WHERE rn <= $k),
        ss AS (SELECT DISTINCT source FROM hs),
        sp AS (SELECT a.source AS sa, b.source AS sb
               FROM ss a JOIN ss b ON a.source < b.source),
        t AS (SELECT sp.sa, sp.sb, sk.g, 1 AS ia, 0 AS ib
              FROM sp JOIN sk ON sk.source = sp.sa
              UNION ALL
              SELECT sp.sa, sp.sb, sk.g, 0 AS ia, 1 AS ib
              FROM sp JOIN sk ON sk.source = sp.sb),
        u AS (SELECT sa, sb, g, max(ia) AS ia, max(ib) AS ib
              FROM t GROUP BY sa, sb, g),
        w AS (SELECT sa, sb, ia, ib,
                row_number() OVER (PARTITION BY sa, sb ORDER BY g) AS rn
              FROM u),
        e AS (SELECT sa, sb, CAST(count(*) AS BIGINT) AS k_union,
                CAST(sum(ia * ib) AS BIGINT) AS matches
              FROM w WHERE rn <= $k GROUP BY sa, sb),
        sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n
               FROM hs GROUP BY source),
        iv AS (SELECT a.source AS sa, b.source AS sb,
                 CAST(count(*) AS BIGINT) AS inter
               FROM hs a JOIN hs b ON a.g = b.g AND a.source < b.source
               GROUP BY 1, 2)
       SELECT e.sa, e.sb, e.k_union, e.matches,
              round(e.matches / e.k_union, 6) AS jacc_est6,
              round(coalesce(iv.inter, 0)
                    / (za.n + zb.n - coalesce(iv.inter, 0)), 6)
                AS jacc_exact6,
              round(round(e.matches / e.k_union, 6)
                    - round(coalesce(iv.inter, 0)
                            / (za.n + zb.n - coalesce(iv.inter, 0)), 6), 6)
                AS err6
       FROM e
       JOIN sz za ON za.source = e.sa
       JOIN sz zb ON zb.source = e.sb
       LEFT JOIN iv ON iv.sa = e.sa AND iv.sb = e.sb
       ORDER BY e.sa, e.sb"""

  /** DuckDB oracle for [[graft.operators.Sketches.sourceJaccardComposed]]: the
    * estimate legs of [[sourceJaccardKmvOracle]] — bottom-k replay, tagged
    * union, rank, match share — without the exact-join anchor. */
  def sourceJaccardComposedOracle(k: Int = 256): String =
    s"""$sourceHashCte,
        sk AS (SELECT source, g FROM
                 (SELECT source, g,
                    row_number() OVER (PARTITION BY source ORDER BY g) AS rn
                  FROM hs)
               WHERE rn <= $k),
        ss AS (SELECT DISTINCT source FROM hs),
        sp AS (SELECT a.source AS sa, b.source AS sb
               FROM ss a JOIN ss b ON a.source < b.source),
        t AS (SELECT sp.sa, sp.sb, sk.g, 1 AS ia, 0 AS ib
              FROM sp JOIN sk ON sk.source = sp.sa
              UNION ALL
              SELECT sp.sa, sp.sb, sk.g, 0 AS ia, 1 AS ib
              FROM sp JOIN sk ON sk.source = sp.sb),
        u AS (SELECT sa, sb, g, max(ia) AS ia, max(ib) AS ib
              FROM t GROUP BY sa, sb, g),
        w AS (SELECT sa, sb, ia, ib,
                row_number() OVER (PARTITION BY sa, sb ORDER BY g) AS rn
              FROM u)
       SELECT sa, sb, CAST(count(*) AS BIGINT) AS k_union,
              CAST(sum(ia * ib) AS BIGINT) AS matches,
              round(sum(ia * ib) / count(*), 6) AS jacc_est6
       FROM w WHERE rn <= $k GROUP BY sa, sb
       ORDER BY sa, sb"""

  /** DuckDB oracle for [[graft.operators.Sketches.hdrQuantilesComposed]]: the
    * estimate leg of [[hdrQuantilesOracle]] alone. */
  def hdrQuantilesComposedOracle(): String =
    s"""WITH lv AS (SELECT source, CAST(length(text) AS BIGINT) AS v
                    FROM documents),
        ec AS (SELECT source, $hdrBucketSql AS b, count(*) AS cnt
               FROM lv GROUP BY 1, 2),
        c AS (SELECT source, b,
                sum(cnt) OVER (PARTITION BY source ORDER BY b) AS cum,
                sum(cnt) OVER (PARTITION BY source) AS n
              FROM ec)
       SELECT source, CAST(max(n) AS BIGINT) AS n,
              CAST(count(*) AS BIGINT) AS n_buckets,
              min(CASE WHEN cum >= (1 * n + 1) // 2 THEN b END) AS p50_est,
              min(CASE WHEN cum >= (9 * n + 9) // 10 THEN b END) AS p90_est,
              min(CASE WHEN cum >= (99 * n + 99) // 100 THEN b END) AS p99_est
       FROM c GROUP BY source ORDER BY source"""

  /** DuckDB replay of [[graft.functions.SketchHash.mix]] over a BIGINT SQL
    * expression: the wrap Java gets for free needs HUGEINT width, then `% 2^63`
    * keeps the same low 63 bits the Scala side masks. */
  def duckdbMix(hExpr: String): String =
    s"""CAST((CAST($hExpr AS HUGEINT) * 11400714819323198485)
           % 9223372036854775808 AS BIGINT)"""

  /** DuckDB replay of [[graft.functions.SketchHash.sketchHash]] over a VARCHAR
    * SQL expression (KR fold per [[graft.functions.KrHashF.hashUtf8]], then the
    * mix). */
  def duckdbSketchHash(tExpr: String): String =
    duckdbMix(
      s"""list_reduce([CAST(unicode(($tExpr)[i]) AS BIGINT)
            for i in range(1, CAST(len($tExpr) AS INTEGER) + 1)],
            (a, c) -> (a * 257 + c) % 18014398509481984)""")
}
