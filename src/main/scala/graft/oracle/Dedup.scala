package graft.oracle

import graft.operators.Dedup.{P, SimHashBits, perms}

/** DuckDB replays of the exact, near-duplicate and substring dedup
  * queries (Dedup, TextShingles). */
object Dedup {

  /** DuckDB fragment producing the same doc_id→shingle-set relation
    * (the oracle side of `TextShingles`). */
  val duckdbShingleCte: String =
    """WITH sh AS (
         SELECT doc_id,
                list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                               for i in range(1, len(w)-1)]) AS s
         FROM (SELECT doc_id,
                      string_split_regex(trim(lower(text)), '\s+') AS w
               FROM documents))"""

  /** DuckDB all-pairs verified-similarity oracle at threshold `tau`. */
  def duckdbAllPairsOracle(tau: Double): String =
    s"""$duckdbShingleCte
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                     / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 4) AS j4
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= $tau
        ORDER BY id_a, id_b"""

  /** DuckDB oracle for [[graft.operators.Dedup.paraDedup]]. */
  val paraOracle: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws,
           greatest(1, (len(string_split(text, ' ')) + 11) // 12) AS nP
         FROM documents),
        px AS (SELECT doc_id,
           unnest(list_transform(range(0, nP), i -> struct_pack(
             pos := i,
             para := array_to_string(ws[i*12+1 : i*12+12], ' ')))) AS u
         FROM w),
        p2 AS (SELECT doc_id, CAST(u.pos AS INTEGER) AS pos, u.para AS para
               FROM px),
        own AS (SELECT para, min(doc_id * 4096 + pos) AS okey
                FROM p2 GROUP BY 1),
        k AS (SELECT p2.doc_id, p2.pos, p2.para,
                (p2.doc_id * 4096 + p2.pos) = own.okey AS kept
              FROM p2 JOIN own USING (para))
       SELECT doc_id, count(*) AS n_paras,
         CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         sha256(coalesce(string_agg(CASE WHEN kept THEN para END,
           chr(10) ORDER BY pos), '')) AS kept_sha
       FROM k GROUP BY doc_id ORDER BY doc_id"""

  /** DuckDB oracle for [[graft.operators.Dedup.lineDedup]]. */
  def lineDedupOracle(maxDf: Long = 2L): String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws,
           greatest(1, (len(string_split(text, ' ')) + 9) // 10) AS nL
         FROM documents),
        px AS (SELECT doc_id,
           unnest(list_concat(list_concat(
             list_transform(range(0, nL), i ->
               array_to_string(ws[i*10+1 : i*10+10], ' ')),
             CASE WHEN doc_id % 3 = 0
               THEN ['accept all cookies to continue reading this site']
               ELSE [] END),
             CASE WHEN doc_id % 4 = 1
               THEN ['home about products contact privacy terms sitemap']
               ELSE [] END)) AS line,
           unnest(range(0, nL
             + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
             + CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END)) AS pos
         FROM w),
        dfreq AS (SELECT line, count(DISTINCT doc_id) AS df
                  FROM px GROUP BY 1),
        k AS (SELECT px.doc_id, px.pos, px.line, dfreq.df <= $maxDf AS kept
              FROM px JOIN dfreq USING (line))
       SELECT doc_id, count(*) AS n_lines,
         CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         sha256(coalesce(string_agg(CASE WHEN kept THEN line END,
           chr(10) ORDER BY pos), '')) AS kept_sha
       FROM k GROUP BY doc_id ORDER BY doc_id"""

  /** DuckDB oracle for [[graft.operators.Dedup.dedupEvalSweep]]: three full
    * replays (the oracle may brute-force what the engine shares/caches). */
  def dedupEvalSweepOracle(tau: Double = 0.5): String =
    Seq((8, 8), (16, 4), (32, 2)).map { case (b, r) =>
      s"""SELECT 'b${b}r$r' AS geometry, *
          FROM (${dedupEvalOracle(tau, b, r, " WHERE doc_id % 5 = 0")})"""
    }.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY geometry")

  /** DuckDB oracle for [[graft.operators.Dedup.dedupEval]]: base hash,
    * permutations, band keys, bucket pairs and exact truth all replayed in
    * SQL. */
  def dedupEvalOracle(tau: Double = 0.5, bands: Int = 16,
                      rowsPerBand: Int = 4, docWhere: String = ""): String = {
    val permExprs = perms.map { case (a, b) =>
      s"list_min(list_transform(h, x -> ($a * x + $b) % $P))"
    }.mkString("[", ",\n                   ", "]")
    s"""${Dedup.duckdbShingleCte
            .replace("FROM documents)", s"FROM documents$docWhere)")},
        hx AS (SELECT doc_id, list_transform(s, t ->
                 list_reduce([CAST(unicode(t[i]) AS BIGINT)
                              for i in range(1, CAST(len(t) AS INTEGER) + 1)],
                             (a, c) -> (a * 257 + c) % $P)) AS h
               FROM sh WHERE len(s) > 0),
        sig AS (SELECT doc_id, $permExprs AS sg FROM hx),
        bnd AS (SELECT doc_id,
                  unnest(range(0, $bands)) AS band_idx,
                  unnest([array_to_string(
                            sg[i*$rowsPerBand+1 : i*$rowsPerBand+$rowsPerBand],
                            ',')
                          for i in range(0, $bands)]) AS bsig
                FROM sig),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM bnd a JOIN bnd b
                   ON a.band_idx = b.band_idx AND a.bsig = b.bsig
                      AND a.doc_id < b.doc_id),
        truth AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                  WHERE len(a.s) > 0 AND len(b.s) > 0
                    AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                        / (len(a.s) + len(b.s)
                           - len(list_intersect(a.s, b.s))) >= $tau),
        hit AS (SELECT * FROM cand JOIN truth USING (id_a, id_b))
       SELECT (SELECT count(*) FROM truth) AS n_truth,
              (SELECT count(*) FROM cand) AS n_cand,
              (SELECT count(*) FROM hit) AS n_hit,
              CASE WHEN (SELECT count(*) FROM cand) > 0 THEN
                round((SELECT count(*) FROM hit)
                      / CAST((SELECT count(*) FROM cand) AS DOUBLE), 4)
              END AS precision,
              CASE WHEN (SELECT count(*) FROM truth) > 0 THEN
                round((SELECT count(*) FROM hit)
                      / CAST((SELECT count(*) FROM truth) AS DOUBLE), 4)
              END AS recall"""
  }

  /** DuckDB oracle for [[graft.operators.Dedup.simhashPlan]]: fingerprints
    * replay via the shared shingle CTE + KR hash + majority vote (the
    * dedup_simhash oracle's own fp derivation); candidate volume replays the
    * band-key grouping with the same shift/mask arithmetic; the recall
    * rationals are re-derived INDEPENDENTLY — multiplicative binomials built
    * stepwise in a recursive CTE (each partial product C(n−k+j, j) is an
    * integer, so HUGEINT floor division is exact), then the same
    * inclusion-exclusion sum. */
  def simhashPlanOracle(): String =
    // the shared shingle CTE opens with plain WITH; the binr binomial
    // CTE below is recursive, so promote the clause
    s"""${Dedup.duckdbShingleCte
           .replaceFirst("WITH", "WITH RECURSIVE")},
        hx AS (SELECT doc_id, list_transform(s, t ->
                 list_reduce([CAST(unicode(t[i]) AS BIGINT)
                              for i in range(1, CAST(len(t) AS INTEGER) + 1)],
                             (a, c) -> (a * 257 + c) % ${graft.functions.KrHashF.M})) AS h
               FROM sh WHERE len(s) > 0),
        f AS (SELECT doc_id,
                CAST(list_sum([CASE WHEN 2 * list_sum([CAST((h2 >> k) & 1 AS BIGINT)
                                                       for h2 in h]) > len(h)
                                    THEN (CAST(1 AS BIGINT) << k)
                                    ELSE CAST(0 AS BIGINT) END
                               for k in range(0, $SimHashBits)]) AS BIGINT) AS fp
              FROM hx),
        schemes(bands, band_bits) AS (VALUES
          (2, 27), (3, 18), (6, 9), (9, 6), (18, 3), (27, 2), (54, 1)),
        bandix AS (SELECT bands, band_bits,
                          unnest(range(0, bands)) AS band FROM schemes),
        kb AS (SELECT k.bands, k.band_bits, k.band,
                      (f.fp >> (k.band * k.band_bits))
                        & ((CAST(1 AS BIGINT) << k.band_bits) - 1) AS bkey,
                      count(*) AS c
               FROM bandix k CROSS JOIN f
               GROUP BY k.bands, k.band_bits, k.band, bkey),
        cand AS (SELECT bands, band_bits,
                        CAST(sum(c * (c - 1) // 2) AS BIGINT) AS cand_rows
                 FROM kb GROUP BY bands, band_bits),
        hs(h) AS (VALUES (5), (8), (10)),
        needs AS (
          SELECT DISTINCT n, k FROM (
            SELECT bands AS n, unnest(range(1, bands + 1)) AS k
            FROM schemes
            UNION ALL
            SELECT $SimHashBits - ii.i * s.band_bits AS n, hs.h AS k
            FROM schemes s
            CROSS JOIN (SELECT unnest(range(1, ${SimHashBits + 1})) AS i) ii
            CROSS JOIN hs
            WHERE ii.i <= s.bands
              AND $SimHashBits - ii.i * s.band_bits >= 0
            UNION ALL
            SELECT $SimHashBits AS n, h AS k FROM hs)
          WHERE k <= n AND k >= 1),
        binr(n, k, j, v) AS (
          SELECT n, k, 0, CAST(1 AS HUGEINT) FROM needs
          UNION ALL
          SELECT n, k, j + 1, (v * (n - k + j + 1)) // (j + 1)
          FROM binr WHERE j < k),
        bin AS (SELECT n, k, v FROM binr WHERE j = k),
        terms AS (
          SELECT s.bands, s.band_bits, hs.h,
                 (CASE WHEN ii.i % 2 = 1 THEN 1 ELSE -1 END)
                   * cb.v * cr.v AS t
          FROM schemes s
          CROSS JOIN (SELECT unnest(range(1, ${SimHashBits + 1})) AS i) ii
          CROSS JOIN hs
          JOIN bin cb ON cb.n = s.bands AND cb.k = ii.i
          JOIN bin cr ON cr.n = $SimHashBits - ii.i * s.band_bits
            AND cr.k = hs.h
          WHERE ii.i <= s.bands
            AND $SimHashBits - ii.i * s.band_bits >= hs.h),
        rec AS (SELECT bands, band_bits, h, sum(t) AS num
                FROM terms GROUP BY bands, band_bits, h),
        den AS (SELECT hs.h, b.v AS den
                FROM hs JOIN bin b ON b.n = $SimHashBits AND b.k = hs.h)
       SELECT c.bands, c.band_bits, c.bands - 1 AS exact_radius,
              c.cand_rows,
              round(CAST(r5.num AS DOUBLE) / CAST(d5.den AS DOUBLE), 6)
                AS rec6_h5,
              round(CAST(r8.num AS DOUBLE) / CAST(d8.den AS DOUBLE), 6)
                AS rec6_h8,
              round(CAST(r10.num AS DOUBLE) / CAST(d10.den AS DOUBLE), 6)
                AS rec6_h10,
              CAST(r10.num AS BIGINT) AS rec_num_h10,
              CAST(d10.den AS BIGINT) AS rec_den_h10
       FROM cand c
       JOIN rec r5 ON r5.bands = c.bands
         AND r5.band_bits = c.band_bits AND r5.h = 5
       JOIN rec r8 ON r8.bands = c.bands
         AND r8.band_bits = c.band_bits AND r8.h = 8
       JOIN rec r10 ON r10.bands = c.bands
         AND r10.band_bits = c.band_bits AND r10.h = 10
       JOIN den d5 ON d5.h = 5
       JOIN den d8 ON d8.h = 8
       JOIN den d10 ON d10.h = 10
       ORDER BY c.bands"""

  /** DuckDB oracle for [[graft.operators.Dedup.dedupSurvivorship]]: the
    * recursive-CTE cluster truth + a row_number replay of the argmax policy. */
  def dedupSurvivorshipOracle(tau: Double = 0.3): String =
    s"""${Dedup.duckdbShingleCte
            .replaceFirst("WITH sh", "WITH RECURSIVE sh")},
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
                >= $tau),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
        reach(id, lbl) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
        lab AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
        mem AS (SELECT lab.cluster_id, lab.id AS doc_id, d.n_chars
                FROM lab JOIN documents d ON d.doc_id = lab.id),
        sz AS (SELECT cluster_id, count(*) AS n_members,
                 CAST(sum(n_chars) AS BIGINT) AS chars_total
               FROM mem GROUP BY 1 HAVING count(*) > 1),
        keep AS (SELECT cluster_id, doc_id AS kept_doc,
                   n_chars AS kept_chars FROM (
            SELECT *, row_number() OVER (PARTITION BY cluster_id
              ORDER BY n_chars DESC, doc_id) AS rn FROM mem)
          WHERE rn = 1)
       SELECT s.cluster_id, s.n_members, k.kept_doc, k.kept_chars,
              s.chars_total - k.kept_chars AS chars_dropped
       FROM sz s JOIN keep k USING (cluster_id) ORDER BY cluster_id"""

  /** DuckDB oracle for [[graft.operators.Dedup.dedupThresholdSweep]]: the
    * all-pairs truth at the smallest tau, re-counted per threshold. */
  def dedupThresholdSweepOracle(
      taus: Seq[Double] = Seq(0.3, 0.5, 0.7)): String = {
    val base = taus.min
    val rows = taus.sorted.map { t =>
      s"""SELECT CAST($t AS DOUBLE) AS tau,
            (SELECT count(*) FROM p WHERE j4 >= $t) AS n_pairs,
            (SELECT count(DISTINCT d) FROM (
               SELECT id_a AS d FROM p WHERE j4 >= $t
               UNION ALL SELECT id_b FROM p WHERE j4 >= $t))
              AS n_docs_affected"""
    }.mkString(" UNION ALL ")
    s"""${Dedup.duckdbShingleCte},
        p AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                  / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))),
                  4) AS j4
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE len(a.s) > 0 AND len(b.s) > 0
            AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
                >= $base)
       SELECT * FROM ($rows) ORDER BY tau"""
  }

  /** DuckDB oracle for [[graft.operators.Dedup.kgramNovelty]]. */
  val kgramNoveltyOracle: String =
    s"""${Dedup.duckdbShingleCte},
        x AS (SELECT doc_id, unnest(s) AS s FROM sh WHERE len(s) > 0),
        d AS (SELECT s, count(DISTINCT doc_id) AS df FROM x GROUP BY s)
       SELECT doc_id, count(*) AS n_shingles,
              CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_novel,
              round(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)
                    / CAST(count(*) AS DOUBLE), 4) AS novelty
       FROM x JOIN d USING (s)
       GROUP BY doc_id ORDER BY doc_id"""

  /** DuckDB oracle for [[graft.operators.Dedup.exactSubstrSpans]]: the
    * positional gram stream rebuilt with list comprehensions, the SAME
    * Karp-Rabin hash folded per gram (identical collisions by construction),
    * and the interval union replayed with the same running-max window. */
  def exactSubstrSpansOracle(n: Int = 8, minCount: Int = 2): String =
    s"""${substrSpanCtes(n, minCount)}
       SELECT doc_id, n_tokens, count(*) AS n_spans,
              CAST(sum(e - s + 1) AS BIGINT) AS repeated_tokens,
              CAST(max(e - s + 1) AS BIGINT) AS max_span_tokens,
              round(sum(e - s + 1) / CAST(n_tokens AS DOUBLE), 4)
                AS repeated_frac
       FROM iv GROUP BY doc_id, n_tokens ORDER BY doc_id"""

  /** Shared WITH-block of [[exactSubstrSpansOracle]] and
    * [[exactSubstrScrubOracle]]: all-doc token arrays (`allw`), the
    * positional gram/hash stream, and the merged repeated intervals,
    * ending at the `iv` CTE. */
  private def substrSpanCtes(n: Int, minCount: Int): String =
    s"""WITH allw AS (SELECT doc_id,
          string_split_regex(trim(lower(text)), '\\s+') AS w
          FROM documents WHERE text IS NOT NULL),
        base AS (
          SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens, w
          FROM allw
          WHERE len(w) >= $n),
        pg AS (SELECT doc_id, n_tokens,
                 unnest([{'pos': i,
                          'gram': array_to_string(w[i:i+${n - 1}], ' ')}
                         for i in range(1, len(w) - $n + 2)],
                        recursive := true)
               FROM base),
        ph AS (SELECT doc_id, n_tokens, pos,
                 list_reduce([CAST(unicode(gram[i]) AS BIGINT)
                              for i in range(1, CAST(len(gram) AS INTEGER) + 1)],
                             (a, c) -> (a * ${graft.functions.KrHashF.B} + c)
                               % ${graft.functions.KrHashF.M}) AS g
               FROM pg),
        rep AS (SELECT g FROM ph GROUP BY g HAVING count(*) >= $minCount),
        hits AS (SELECT doc_id, n_tokens, pos FROM ph JOIN rep USING (g)),
        mk AS (SELECT doc_id, n_tokens, pos,
                 CASE WHEN max(pos + $n - 1) OVER prev IS NULL
                        OR pos > max(pos + $n - 1) OVER prev + 1
                      THEN 1 ELSE 0 END AS new_span
               FROM hits
               WINDOW prev AS (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        sp AS (SELECT doc_id, n_tokens, pos,
                 sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos)
                   AS span_id
               FROM mk),
        iv AS (SELECT doc_id, n_tokens, span_id,
                 min(pos) AS s, max(pos) + $n - 1 AS e
               FROM sp GROUP BY 1, 2, 3)"""

  /** DuckDB oracle for [[graft.operators.Dedup.exactSubstrScrub]]: the
    * [[substrSpanCtes]] intervals expanded to covered positions, the token
    * stream position-anti-joined against them, and each doc re-assembled with
    * an ordered string_agg — same normalized form, same sha256. */
  def exactSubstrScrubOracle(n: Int = 8, minCount: Int = 2): String =
    s"""${scrubCtes(n, minCount)}
       SELECT doc_id, n_tokens, kept_tokens, removed_tokens, scrubbed, fp
       FROM scr ORDER BY doc_id"""

  /** Shared WITH-block of [[exactSubstrScrubOracle]] and
    * [[scrubReportOracle]], ending at the per-doc `scr` CTE. */
  private def scrubCtes(n: Int, minCount: Int): String =
    s"""${substrSpanCtes(n, minCount)},
        cov AS (SELECT doc_id, unnest(range(s, e + 1)) AS pos FROM iv),
        tok AS (SELECT doc_id,
                  unnest([{'pos': i, 't': w[i]}
                          for i in range(1, len(w) + 1)],
                         recursive := true)
                FROM allw),
        keep AS (SELECT t.doc_id, t.pos, t.t
                 FROM tok t LEFT JOIN cov c
                   ON t.doc_id = c.doc_id AND t.pos = c.pos
                 WHERE c.pos IS NULL),
        reb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_tokens,
                  string_agg(t, ' ' ORDER BY pos) AS scrubbed
                FROM keep GROUP BY doc_id),
        nt AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM allw),
        scr AS (SELECT n.doc_id, n.n_tokens,
                  coalesce(r.kept_tokens, 0) AS kept_tokens,
                  n.n_tokens - coalesce(r.kept_tokens, 0) AS removed_tokens,
                  coalesce(r.scrubbed, '') AS scrubbed,
                  sha256(coalesce(r.scrubbed, '')) AS fp
                FROM nt n LEFT JOIN reb r USING (doc_id))"""

  /** DuckDB oracle for [[graft.operators.Dedup.scrubReport]]: the scrub CTE
    * chain rolled up by the labeled source. */
  def scrubReportOracle(n: Int = 8, minCount: Int = 2): String =
    s"""${scrubCtes(n, minCount)}
       SELECT d.source, count(*) AS n_docs,
              CAST(sum(CASE WHEN s.removed_tokens > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_affected,
              CAST(sum(s.n_tokens) AS BIGINT) AS tokens_total,
              CAST(sum(s.removed_tokens) AS BIGINT) AS tokens_removed,
              round(CAST(sum(s.removed_tokens) AS DOUBLE)
                    / sum(s.n_tokens), 4) AS removed_frac
       FROM scr s JOIN documents d USING (doc_id)
       GROUP BY d.source ORDER BY d.source"""

  /** DuckDB oracle for [[graft.operators.Dedup.memorizationGrams]]. */
  def memorizationGramsOracle(minDocs: Int = 3, topK: Int = 40): String =
    s"""WITH sh AS (
         SELECT doc_id,
                list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                               || ' ' || w[i+3] || ' ' || w[i+4]
                               for i in range(1, len(w)-3)]) AS s
         FROM (SELECT doc_id,
                      string_split_regex(trim(lower(text)), '\\s+') AS w
               FROM documents)),
        x AS (SELECT doc_id, unnest(s) AS gram FROM sh WHERE len(s) > 0)
       SELECT gram, count(*) AS n_docs,
              min(doc_id) AS min_doc, max(doc_id) AS max_doc
       FROM x GROUP BY gram HAVING count(*) >= $minDocs
       ORDER BY n_docs DESC, gram ASC LIMIT $topK"""

  /** DuckDB oracle for [[graft.operators.Dedup.sourceOverlap]]: the exact
    * all-pairs truth at the same tau, rolled up identically. */
  def sourceOverlapOracle(tau: Double = 0.3): String =
    s"""${Dedup.duckdbShingleCte},
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE len(a.s) > 0 AND len(b.s) > 0
            AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
                >= $tau),
        lab AS (SELECT least(da.source, db.source) AS source_a,
                       greatest(da.source, db.source) AS source_b
                FROM pairs
                JOIN documents da ON da.doc_id = pairs.id_a
                JOIN documents db ON db.doc_id = pairs.id_b),
        tot AS (SELECT count(*) AS n_total FROM pairs)
       SELECT source_a, source_b, count(*) AS n_pairs,
              round(count(*) / CAST(tot.n_total AS DOUBLE), 4) AS share
       FROM lab, tot
       GROUP BY source_a, source_b, tot.n_total
       ORDER BY source_a, source_b"""

  /** DuckDB oracle for [[graft.operators.Dedup.docContainment]]: the doc_winnow
    * fingerprint replay + df cap + fingerprint self-join. */
  def containmentOracle(maxDf: Long = 50L, minShared: Long = 2L,
                        tau: Double = 0.5): String =
    s"""WITH fpl AS (
          SELECT doc_id,
            list_sort(list_distinct(
              CASE WHEN len(h) = 0 THEN CAST([] AS BIGINT[])
                   WHEN len(h) < 4 THEN [list_min(h)]
                   ELSE [list_min(h[i:i+3]) for i in range(1, len(h) - 2)]
              END)) AS fp
          FROM (
            SELECT doc_id,
              [list_reduce(cp[i:i+4], (a, c) -> (a*257 + c) % 1000000007)
               for i in range(1, len(cp) - 3)] AS h
            FROM (
              SELECT doc_id,
                [CAST(unicode(text[i]) AS BIGINT)
                 for i in range(1, CAST(length(text) AS INTEGER) + 1)] AS cp
              FROM documents))),
        f AS (SELECT doc_id, unnest(fp) AS fp FROM fpl),
        rare AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= $maxDf),
        kept AS (SELECT f.doc_id, f.fp FROM f JOIN rare ON f.fp = rare.fp),
        sizes AS (SELECT doc_id, count(*) AS n_fp FROM kept GROUP BY doc_id),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
          FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING count(*) >= $minShared)
       SELECT id_a, id_b, shared, sa.n_fp AS n_fp_a, sb.n_fp AS n_fp_b,
              round(shared / CAST(least(sa.n_fp, sb.n_fp) AS DOUBLE), 4)
                AS containment
       FROM pairs JOIN sizes sa ON pairs.id_a = sa.doc_id
                  JOIN sizes sb ON pairs.id_b = sb.doc_id
       WHERE round(shared / CAST(least(sa.n_fp, sb.n_fp) AS DOUBLE), 4)
             >= $tau
       ORDER BY id_a, id_b"""

  /** DuckDB oracle for [[graft.operators.Dedup.dedupPairsIncremental]]: the
    * all-pairs truth restricted to pairs touching the delta slice. */
  def dedupPairsIncrementalOracle(tau: Double = 0.3, mod: Int = 10,
                                  deltaFrom: Int = 8): String =
    s"""${Dedup.duckdbShingleCte}
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                     / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))),
                     4) AS j4
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(a.s) > 0 AND len(b.s) > 0
          AND (a.doc_id % $mod >= $deltaFrom OR b.doc_id % $mod >= $deltaFrom)
          AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
              >= $tau
        ORDER BY id_a, id_b"""

  /** DuckDB oracle for [[graft.operators.Dedup.dedupAuditComposed]]: the
    * all-pairs truth at the floor tau, then every audit scalar replayed off
    * that one pair table — transitive-closure CTEs for the cluster-based
    * columns (full corpus for survivorship, exact-canonical endpoints for the
    * corpus audit). */
  def dedupAuditComposedOracle(
      taus: Seq[Double] = Seq(0.3, 0.5, 0.7)): String =
    s"""${Dedup.duckdbShingleCte
            .replaceFirst("WITH sh", "WITH RECURSIVE sh")},
        p AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                  / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))),
                  4) AS j4
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE len(a.s) > 0 AND len(b.s) > 0
            AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
                >= ${taus.min}),
        edges AS (SELECT id_a AS src, id_b AS dst FROM p
                  UNION ALL SELECT id_b AS src, id_a AS dst FROM p),
        reach(id, lbl) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
        lab AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
        mem AS (SELECT lab.cluster_id, lab.id AS doc_id, d.n_chars
                FROM lab JOIN documents d ON d.doc_id = lab.id),
        sz AS (SELECT cluster_id, count(*) AS n_members,
                 CAST(sum(n_chars) AS BIGINT) AS chars_total
               FROM mem GROUP BY 1 HAVING count(*) > 1),
        keep AS (SELECT cluster_id, n_chars AS kept_chars FROM (
            SELECT *, row_number() OVER (PARTITION BY cluster_id
              ORDER BY n_chars DESC, doc_id) AS rn FROM mem)
          WHERE rn = 1),
        srcmap AS (SELECT least(da.source, db.source) AS sa,
                          greatest(da.source, db.source) AS sb
                   FROM p
                   JOIN documents da ON da.doc_id = p.id_a
                   JOIN documents db ON db.doc_id = p.id_b),
        norm AS (SELECT doc_id,
                   sha256(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                     AS h
                 FROM documents),
        canon AS (SELECT min(doc_id) AS doc_id FROM norm GROUP BY h),
        cp AS (SELECT id_a, id_b FROM p
               WHERE id_a IN (SELECT doc_id FROM canon)
                 AND id_b IN (SELECT doc_id FROM canon)),
        cedges AS (SELECT id_a AS src, id_b AS dst FROM cp
                   UNION ALL SELECT id_b AS src, id_a AS dst FROM cp),
        creach(id, lbl) AS (
          SELECT doc_id, doc_id FROM canon
          UNION
          SELECT e.dst, r.lbl FROM creach r JOIN cedges e ON e.src = r.id),
        clab AS (SELECT id, min(lbl) AS cluster_id FROM creach GROUP BY id)
       SELECT
         (SELECT count(*) FROM p) AS n_pairs,
         (SELECT count(DISTINCT d) FROM (
            SELECT id_a AS d FROM p UNION ALL SELECT id_b FROM p))
           AS n_docs_affected,
         (SELECT count(*) FROM (SELECT sa, sb FROM srcmap GROUP BY sa, sb))
           AS n_source_cells,
         (SELECT count(*) FROM sz) AS n_clusters_multi,
         (SELECT CAST(coalesce(sum(s.chars_total - k.kept_chars), 0) AS BIGINT)
          FROM sz s JOIN keep k USING (cluster_id)) AS chars_dropped_total,
         (SELECT count(*) FROM p WHERE j4 >= ${taus.max}) AS n_pairs_hi,
         (SELECT count(*) FROM documents) AS n_in,
         (SELECT count(*) FROM documents) - (SELECT count(*) FROM canon)
           AS n_exact_removed,
         (SELECT count(*) FROM clab WHERE id <> cluster_id) AS n_near_removed,
         (SELECT count(*) FROM clab WHERE id = cluster_id) AS n_out"""

  /** DuckDB oracle for [[graft.operators.Dedup.lshPlan]] — the same closed
    * forms over the same scheme list. */
  def lshPlanOracle(nHashes: Int = 64): String = {
    val schemes = (0 to 30).map(1 << _).filter(b =>
      b <= nHashes && nHashes % b == 0).map(b => s"($b, ${nHashes / b})")
    s"""WITH schemes(bands, rows_per_band) AS
          (VALUES ${schemes.mkString(", ")})
        SELECT bands, rows_per_band,
          round(pow(1.0 - pow(0.5, 1.0 / bands), 1.0 / rows_per_band), 6)
            AS s50,
          round(1.0 - pow(1.0 - pow(0.3, rows_per_band), bands), 6) AS p_at_30,
          round(1.0 - pow(1.0 - pow(0.5, rows_per_band), bands), 6) AS p_at_50,
          round(1.0 - pow(1.0 - pow(0.7, rows_per_band), bands), 6) AS p_at_70,
          round(1.0 - pow(1.0 - pow(0.9, rows_per_band), bands), 6) AS p_at_90
        FROM schemes ORDER BY bands"""
  }
}
