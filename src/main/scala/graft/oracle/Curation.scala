package graft.oracle

import graft.operators.Similarity
import Oracle._

/** DuckDB replays of the curation queries: C4/Gopher gates, BM25 and
  * fused retrieval, mixtures, splits and shards (Curation). */
object Curation {

  /** DuckDB oracle for [[graft.operators.Curation.contaminationReport]] — the
    * decontaminate oracle's CTEs rolled up by source. */
  def contaminationReportOracle(n: Int = 4, benchMod: Int = 50): String =
    s"""WITH w AS (SELECT doc_id,
              string_split_regex(trim(lower(text)), '\\s+') AS w
            FROM documents),
          g AS (SELECT doc_id,
                  unnest(list_distinct(
                    [w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                     for i in range(1, len(w) - 2)])) AS gram
                FROM w),
          bench AS (SELECT DISTINCT gram FROM g
                    WHERE doc_id % $benchMod = 0),
          hits AS (SELECT doc_id, count(*) AS n_hit_grams
                   FROM g WHERE doc_id % $benchMod <> 0
                     AND gram IN (SELECT gram FROM bench)
                   GROUP BY 1)
       SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN h.n_hit_grams IS NOT NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS n_contaminated,
         CAST(coalesce(sum(h.n_hit_grams), 0) AS BIGINT) AS n_hit_grams,
         round(sum(CASE WHEN h.n_hit_grams IS NOT NULL THEN 1 ELSE 0 END)
           / CAST(count(*) AS DOUBLE), 4) AS contaminated_frac
       FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
       WHERE d.doc_id % $benchMod <> 0
       GROUP BY d.source ORDER BY d.source"""

  /** DuckDB oracle for [[graft.operators.Curation.mixtureTemperature]]. */
  def mixtureTemperatureOracle(budgetTokens: Long = 2000L): String =
    s"""WITH t AS (SELECT doc_id, source,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
             AS n_tok,
           ${Quality.knuthSql("doc_id")} AS h
         FROM documents),
        s AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS src_tokens,
                CAST(round(sqrt(CAST(sum(n_tok) AS DOUBLE)) * 1000000)
                  AS BIGINT) AS w6
              FROM t GROUP BY 1),
        w AS (SELECT CAST(sum(w6) AS BIGINT) AS w_sum FROM s),
        b AS (SELECT source, src_tokens,
                CAST((CAST($budgetTokens AS HUGEINT) * w6) // w_sum
                  AS BIGINT) AS budget_tokens
              FROM s, w),
        c AS (SELECT source, n_tok,
                sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id)
                  AS cum
              FROM t)
       SELECT b.source, b.src_tokens, b.budget_tokens,
         count(*) AS n_docs, CAST(sum(c.n_tok) AS BIGINT) AS n_tokens
       FROM c JOIN b USING (source)
       WHERE c.cum <= b.budget_tokens
       GROUP BY 1, 2, 3 ORDER BY 1"""

  /** DuckDB oracle for [[graft.operators.Curation.c4Clean]]: the page synthesis
    * and every line rule replayed with list comprehensions (chr(10) = the
    * engine's '\n'; single-space splits agree because the synthesis only ever
    * joins with single spaces). */
  def c4Oracle(minLineWords: Int = 3, minKeptLines: Int = 3): String =
    s"""WITH pages AS (
          SELECT doc_id,
            list_transform(range(0, nS), i ->
              array_to_string(ws[i*8+1 : i*8+8], ' ') ||
              CASE WHEN i = 0 AND doc_id % 11 = 0
                   THEN ' javascript' ELSE '' END ||
              CASE WHEN i = nS - 1 AND doc_id % 17 = 0
                   THEN ' {' ELSE '' END ||
              CASE WHEN (doc_id + i) % 3 = 2 THEN '' ELSE '.' END)
            || CASE WHEN doc_id % 13 = 0 THEN ['lorem ipsum.']
                    ELSE [] END AS lines
          FROM (SELECT doc_id, string_split(text, ' ') AS ws,
                  greatest(1,
                    (len(string_split(text, ' ')) + 7) // 8) AS nS
                FROM documents)),
        cleaned AS (
          SELECT doc_id, lines,
            list_filter(lines, l ->
              right(l, 1) IN ('.', '!', '?', '"')
              AND len(string_split(l, ' ')) >= $minLineWords
              AND NOT contains(lower(l), 'javascript')) AS kept,
            array_to_string(lines, chr(10)) AS full_text
          FROM pages)
        SELECT doc_id,
          CAST(len(lines) AS INTEGER) AS n_lines,
          CAST(len(kept) AS INTEGER) AS n_kept,
          (contains(lower(full_text), 'lorem ipsum')
            OR contains(full_text, '{')
            OR len(kept) < $minKeptLines) AS page_drop,
          sha256(coalesce(array_to_string(kept, chr(10)), '')) AS kept_sha
        FROM cleaned ORDER BY doc_id"""

  /** DuckDB oracle for [[graft.operators.Curation.gopherReport]]: the #235
    * replay's metric CTE extended with the same per-rule flags, one UNION ALL
    * branch per rule. */
  def gopherReportOracle(minWords: Int = 50, maxWords: Int = 100000,
                         minMeanLen: Double = 3.0,
                         maxMeanLen: Double = 10.0,
                         maxSymbolRatio: Double = 0.1,
                         maxBulletRatio: Double = 0.9,
                         maxEllipsisRatio: Double = 0.3,
                         minAlphaRatio: Double = 0.8,
                         minStopHits: Int = 2): String = {
    val rules = Seq(
      "alpha_words" -> s"(alpha_ratio < $minAlphaRatio)",
      "bullet_lines" -> s"(bullet_ratio > $maxBulletRatio)",
      "ellipsis_lines" -> s"(ellipsis_ratio > $maxEllipsisRatio)",
      "mean_word_len" ->
        s"(NOT (mean_wlen >= $minMeanLen AND mean_wlen <= $maxMeanLen))",
      "stop_words" -> s"(n_stop < $minStopHits)",
      "symbol_ratio" -> s"(sym_ratio > $maxSymbolRatio)",
      "word_count" ->
        s"(n_words = 0 OR NOT (n_words >= $minWords AND n_words <= $maxWords))")
    val flagCols = rules.zipWithIndex.map { case ((_, e), i) =>
      s"$e AS f$i" }.mkString(", ")
    val nf = rules.indices.map(i => s"CAST(f$i AS INT)").mkString(" + ")
    val branches = rules.zipWithIndex.map { case ((name, _), i) =>
      s"""SELECT '$name' AS rule,
            CAST(sum(CASE WHEN f$i THEN 1 ELSE 0 END) AS BIGINT)
              AS n_fail,
            CAST(sum(CASE WHEN f$i AND nf = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_exclusive,
            round(sum(CASE WHEN f$i THEN 1 ELSE 0 END)
                  / CAST(count(*) AS DOUBLE), 4) AS fail_share4
          FROM nf"""
    }.mkString(" UNION ALL ")
    s"""WITH ${gopherPagesCte()},
        flags AS (SELECT doc_id, $flagCols FROM met),
        nf AS (SELECT *, ($nf) AS nf FROM flags)
        SELECT rule, n_fail, n_exclusive, fail_share4
        FROM ($branches) ORDER BY rule"""
  }

  /** DuckDB oracle for [[graft.operators.Curation.gopherQuality]]: the page
    * synthesis and every rule replayed with list comprehensions; all ratios are
    * int/int divisions so the unrounded keep-decision doubles agree exactly. */
  /** The #235/#239 oracle's shared CTE chain: the fixture page
    * synthesis + per-doc metric computation, ONE definition so the
    * report's flags can never drift from the battery's replay. */
  private def gopherPagesCte(): String =
    """pages AS (
          SELECT doc_id,
            list_transform(range(0, nL), i ->
              CASE WHEN (doc_id + i) % 5 = 4 THEN '- ' ELSE '' END ||
              array_to_string(ws[i*10+1 : i*10+10], ' ') ||
              CASE WHEN i = 0 AND doc_id % 7 = 0 THEN ' ##' ELSE '' END ||
              CASE WHEN i = 0 AND doc_id % 3 = 0
                   THEN ' and of that' ELSE '' END ||
              CASE WHEN (doc_id + i) % 4 = 3 THEN '...' ELSE '' END)
              AS lines
          FROM (SELECT doc_id, string_split(text, ' ') AS ws,
                  greatest(1,
                    (len(string_split(text, ' ')) + 9) // 10) AS nL
                FROM documents)),
        base AS (
          SELECT doc_id, lines,
            list_filter(
              flatten(list_transform(lines, l -> string_split(l, ' '))),
              w -> w <> '') AS words,
            array_to_string(lines, chr(10)) AS t
          FROM pages),
        met AS (
          SELECT doc_id,
            len(words) AS n_words, len(lines) AS n_lines,
            CASE WHEN len(words) = 0 THEN 0.0 ELSE
              CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE)
                / len(words) END AS mean_wlen,
            CASE WHEN len(words) = 0 THEN 0.0 ELSE greatest(
              CAST(length(t) - length(replace(t, '#', '')) AS DOUBLE)
                / len(words),
              CAST((length(t) - length(replace(t, '...', ''))) // 3
                 + (length(t) - length(replace(t, '…', ''))) AS DOUBLE)
                / len(words)) END AS sym_ratio,
            CAST(len(list_filter(lines,
                   l -> l[1:2] IN ('- ', '* ') OR l[1:1] = '•'))
                 AS DOUBLE) / len(lines) AS bullet_ratio,
            CAST(len(list_filter(lines,
                   l -> right(l, 3) = '...' OR right(l, 1) = '…'))
                 AS DOUBLE) / len(lines) AS ellipsis_ratio,
            CASE WHEN len(words) = 0 THEN 0.0 ELSE
              CAST(len(list_filter(words,
                     w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
                / len(words) END AS alpha_ratio,
            len(list_filter(
              ['the','be','to','of','and','that','have','with'],
              s -> list_contains(list_transform(words, w -> lower(w)), s)))
              AS n_stop
          FROM base)"""

  def gopherQualityOracle(minWords: Int = 50, maxWords: Int = 100000,
                          minMeanLen: Double = 3.0,
                          maxMeanLen: Double = 10.0,
                          maxSymbolRatio: Double = 0.1,
                          maxBulletRatio: Double = 0.9,
                          maxEllipsisRatio: Double = 0.3,
                          minAlphaRatio: Double = 0.8,
                          minStopHits: Int = 2): String =
    s"""WITH ${gopherPagesCte()}
        SELECT doc_id,
          CAST(n_words AS INTEGER) AS n_words,
          CAST(n_lines AS INTEGER) AS n_lines,
          round(mean_wlen, 4) AS mean_wlen4,
          round(sym_ratio, 4) AS sym_ratio4,
          round(bullet_ratio, 4) AS bullet_ratio4,
          round(ellipsis_ratio, 4) AS ellipsis_ratio4,
          round(alpha_ratio, 4) AS alpha_ratio4,
          CAST(n_stop AS INTEGER) AS n_stop,
          (n_words > 0
            AND n_words >= $minWords AND n_words <= $maxWords
            AND mean_wlen >= $minMeanLen AND mean_wlen <= $maxMeanLen
            AND sym_ratio <= $maxSymbolRatio
            AND bullet_ratio <= $maxBulletRatio
            AND ellipsis_ratio <= $maxEllipsisRatio
            AND alpha_ratio >= $minAlphaRatio
            AND n_stop >= $minStopHits) AS keep
        FROM met ORDER BY doc_id"""

  /** DuckDB oracle for [[graft.operators.Curation.bm25Search]]: the shared body
    * plus this oracle's own top-k order — the fusion replay appends its own
    * instead ([[rrfOracleOver]]), so neither depends on string-editing the
    * other's ORDER BY (ADVICE-r18). */
  def bm25Oracle(terms: Seq[String] = Seq("data", "filter", "join"),
                 k: Int = 20, k1: Double = 1.2, b: Double = 0.75): String =
    s"""${bm25OracleBody(terms, k1, b)}
       ORDER BY score DESC, doc_id LIMIT $k"""

  /** The BM25 replay WITHOUT the final sort: CTE chain + unsorted
    * scored SELECT over every document. */
  private def bm25OracleBody(terms: Seq[String] = Seq("data", "filter",
                               "join"),
                             k1: Double = 1.2, b: Double = 0.75): String = {
    val tf = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(w, x -> x = '$t')) AS BIGINT) AS tf_$i"
    }.mkString(", ")
    val df = terms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$i")
      .mkString(", ")
    val score = terms.indices.map(i =>
      s"(ln(1.0 + (n_docs - df_$i + 0.5) / (df_$i + 0.5)) * " +
        s"((CAST(tf_$i AS DOUBLE) * ($k1 + 1.0)) / " +
        s"(tf_$i + $k1 * ((1.0 - $b) + $b * " +
        s"(dl / (CAST(sum_dl AS DOUBLE) / n_docs))))))")
      .mkString(" + ")
    val tfCols = terms.indices.map(i => s"tf_$i").mkString(", ")
    s"""WITH base AS (SELECT doc_id,
            CAST(len(w) AS BIGINT) AS dl, $tf
          FROM (SELECT doc_id,
                  string_split_regex(trim(lower(text)), '\\s+') AS w
                FROM documents)),
        stats AS (SELECT count(*) AS n_docs,
            CAST(sum(dl) AS BIGINT) AS sum_dl, $df FROM base)
       SELECT doc_id, dl, $tfCols, round($score, 4) AS score
       FROM base, stats"""
  }

  /** DuckDB oracle for [[graft.operators.Curation.bm25Indexed]]: the #109
    * replay restricted to documents holding at least one query term — the
    * postings representation's exact semantics. */
  def bm25IndexedOracle(terms: Seq[String] = Seq("data", "filter",
                          "join"),
                        k: Int = 20): String = {
    val anyTf = terms.indices.map(i => s"tf_$i > 0").mkString(" OR ")
    s"""SELECT * FROM (${bm25OracleBody(terms)}) scored
       WHERE $anyTf
       ORDER BY score DESC, doc_id LIMIT $k"""
  }

  /** DuckDB oracle for [[graft.operators.Curation.retrievalFuse]]: the #109
    * BM25 replay and the brute cosine leg as CTEs, ranked identically, fused
    * with the same fixed-order reciprocal sum. */

  def rrfOracle(kc: Int = 60, kLeg: Int = 20, k: Int = 10): String = {
    rrfOracleOver(
      s"""vec AS (SELECT doc_id,
            CAST(row_number() OVER (ORDER BY cos DESC, doc_id)
              AS INTEGER) AS vec_rank
          FROM (SELECT c.vec_id AS doc_id,
                  ${dot("q.embedding", "c.embedding")} / (q.nrm * c.nrm)
                    AS cos
                FROM nvv q JOIN nvv c ON c.vec_id <> q.vec_id
                WHERE q.vec_id = 0)
          QUALIFY vec_rank <= $kLeg)""", kc, kLeg, k)
  }

  /** DuckDB oracle for [[graft.operators.Curation.retrievalFuseIndexed]]: the
    * same fuse skeleton with the vector leg replayed through the static-IVF
    * assignment/probe CTEs ([[Ann.ivfStaticOracle]]'s machinery) — every stage
    * of the served form exact. */
  def rrfIndexedOracle(nProbe: Int = 4, kc: Int = 60, kLeg: Int = 20,
                       k: Int = 10): String =
    rrfOracleOver(ivfVecLegCtes(nProbe, kLeg), kc, kLeg, k)

  /** DuckDB oracle for [[graft.operators.Curation.retrievalFuseServed]]: BOTH
    * legs replayed in their artifact-served semantics — the lexical list
    * restricted to term-matching documents (the postings scan's exact output),
    * the vector list through the static-IVF probe CTEs. */
  def rrfServedOracle(nProbe: Int = 4, kc: Int = 60, kLeg: Int = 20,
                      k: Int = 10): String =
    rrfOracleOver(ivfVecLegCtes(nProbe, kLeg), kc, kLeg, k,
      lexMatchedOnly = true)

  /** The static-IVF vector-leg CTE chain (assignment → probe → ranked
    * `vec` list) shared by [[rrfIndexedOracle]] and
    * [[rrfServedOracle]], so the two served replays cannot drift in
    * the probe arithmetic. */
  private def ivfVecLegCtes(nProbe: Int, kLeg: Int): String = {
    s"""cents(cell, cv) AS (VALUES ${rows(Similarity.staticCentroids())}),
        ${rankedCte("rankedv", "nvv")},
        ${assignedCte("assignedv", "rankedv")},
        ${probesCte(nProbe, "vec_id = 0", norm = true, "rankedv", "probesv")},
        vec AS (SELECT doc_id,
            CAST(row_number() OVER (ORDER BY cos DESC, doc_id)
              AS INTEGER) AS vec_rank
          FROM (SELECT a.neighbor_id AS doc_id,
                  ${probedCos()} AS cos
                FROM probesv p JOIN assignedv a ON p.cell = a.cell
                WHERE p.query_id <> a.neighbor_id)
          QUALIFY vec_rank <= $kLeg)"""
  }

  /** DuckDB oracle for [[graft.operators.Curation.retrievalFuseSq8]]: the
    * served fuse skeleton with the vector leg replayed through the sq8
    * two-stage CTEs — static-IVF assignment/probe, the shared dequant body
    * (`Oracle.sq8Dequant`) scoring the shortlist, exact re-rank to kLeg — every
    * stage of the cheap-scan leg exact. */
  def rrfSq8Oracle(nProbe: Int = 4, kc: Int = 60, kLeg: Int = 20,
                   k: Int = 10): String =
    rrfOracleOver(sq8VecLegCtes(nProbe, kLeg), kc, kLeg, k,
      lexMatchedOnly = true)

  /** The sq8-scan vector-leg CTE chain (assignment → dequant scan →
    * bounded shortlist → exact re-rank → ranked `vec` list) —
    * [[ivfVecLegCtes]] one scan rung down, mirroring
    * [[graft.operators.Similarity.annServeSq8FromIndex]]'s two stages with the
    * serving default shortlistFactor = 8. */
  private def sq8VecLegCtes(nProbe: Int, kLeg: Int): String = {
    s"""cents(cell, cv) AS (VALUES ${rows(Similarity.staticCentroids())}),
        ${rankedCte("rankedv", "nvv")},
        dqv AS (${sq8Dequant()}),
        ${acandCte("acandv", "dqv", "rankedv")},
        ${probesCte(nProbe, "vec_id = 0", norm = false, "rankedv", "probesv")},
        ${shortlist("shortv", "p.query_id", "p.query_id", "probesv p, acandv n",
          probed, sq8Score("p.e_q"), 8 * kLeg)},
        vec AS (SELECT doc_id,
            CAST(row_number() OVER (ORDER BY cos DESC, doc_id)
              AS INTEGER) AS vec_rank
          FROM (SELECT s.neighbor_id AS doc_id,
                  ${cosOf("qv", "cv")}
                    AS cos
                FROM shortv s
                JOIN nvv qv ON qv.vec_id = s.query_id
                JOIN nvv cv ON cv.vec_id = s.neighbor_id)
          QUALIFY vec_rank <= $kLeg)"""
  }

  /** The shared RRF-oracle skeleton: the BM25 lex CTEs + the caller's
    * vector-leg CTE chain (must define `vec(doc_id, vec_rank)`; `nvv`
    * — normed vectors — is provided) + the fixed-order reciprocal
    * fuse. One definition, so the brute and artifact-served replays
    * cannot drift in the combine arithmetic. */
  private def rrfOracleOver(vecCtes: String, kc: Int, kLeg: Int,
                            k: Int, lexMatchedOnly: Boolean = false): String = {
    // the artifact-served lexical leg carries only documents holding
    // >= 1 query term (postings semantics,
    // [[graft.operators.Curation.bm25FromIndex]]); the brute leg scores every
    // document. The predicate is DERIVED from the default term list (the
    // bm25IndexedOracle stance), so a term count change can never leave it
    // filtering on stale tf columns.
    val defaultTerms = Seq("data", "filter", "join")
    val lexBody =
      if (lexMatchedOnly)
        s"""SELECT * FROM (${bm25OracleBody(defaultTerms)}) s
            WHERE ${defaultTerms.indices.map(i => s"tf_$i > 0")
              .mkString(" OR ")}"""
      else bm25OracleBody(defaultTerms)
    s"""WITH lexs AS ($lexBody),
        lex AS (SELECT doc_id,
            CAST(row_number() OVER (ORDER BY score DESC, doc_id)
              AS INTEGER) AS lex_rank
          FROM lexs QUALIFY lex_rank <= $kLeg),
        ${normCte("nvv")},
        $vecCtes
       SELECT doc_id, lex_rank, vec_rank,
         round(coalesce(1.0 / ($kc + lex_rank), 0.0)
               + coalesce(1.0 / ($kc + vec_rank), 0.0), 6) AS rrf6
       FROM lex FULL OUTER JOIN vec USING (doc_id)
       ORDER BY (coalesce(1.0 / ($kc + lex_rank), 0.0)
                 + coalesce(1.0 / ($kc + vec_rank), 0.0)) DESC, doc_id
       LIMIT $k"""
  }

  /** DuckDB oracle for [[graft.operators.Curation.shardAssign]]. */
  def shardOracle(nShards: Int = 8, headK: Int = 8): String =
    s"""WITH d AS (SELECT doc_id,
            CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
              AS n_tok,
            ${Quality.knuthSql("doc_id")} AS h
          FROM documents),
        s AS (SELECT doc_id, n_tok, h,
                CAST(h % $nShards AS INTEGER) AS shard FROM d),
        agg AS (SELECT shard, count(*) AS n_docs,
                  CAST(sum(n_tok) AS BIGINT) AS sum_tokens
                FROM s GROUP BY shard),
        head AS (SELECT shard, doc_id,
                   CAST(row_number() OVER (PARTITION BY shard
                          ORDER BY h, doc_id) AS INTEGER) AS rk
                 FROM s)
       SELECT a.shard, a.n_docs, a.sum_tokens, head.rk, head.doc_id
       FROM agg a JOIN head ON a.shard = head.shard
       WHERE head.rk <= $headK
       ORDER BY a.shard, head.rk"""

  /** DuckDB oracle for [[graft.operators.Curation.splitLeakage]]: split hash,
    * normalized content hashes and the all-pairs cross-split Jaccard
    * replayed. */
  def splitLeakageOracle(tau: Double = 0.5, mod: Int = 10): String =
    s"""WITH t AS (SELECT doc_id, text,
            (${Quality.knuthSql("doc_id")}) % $mod = 0
              AS is_eval
          FROM documents),
        h AS (SELECT doc_id, is_eval,
                sha256(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                  AS hh
              FROM t),
        ex AS (SELECT DISTINCT e.doc_id
               FROM h e JOIN h tr ON e.is_eval AND NOT tr.is_eval
                                  AND e.hh = tr.hh),
        shx AS (SELECT t.doc_id, t.is_eval,
                  list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                 for i in range(1, len(w)-1)]) AS s
                FROM (SELECT doc_id, is_eval,
                        string_split_regex(trim(lower(text)), '\\s+') AS w
                      FROM t) t),
        nr AS (SELECT DISTINCT a.doc_id
               FROM shx a JOIN shx b ON a.is_eval AND NOT b.is_eval
               WHERE len(a.s) > 0 AND len(b.s) > 0
                 AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                     / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
                     >= $tau),
        lk AS (SELECT doc_id FROM ex UNION SELECT doc_id FROM nr)
       SELECT (SELECT count(*) FROM t WHERE NOT is_eval) AS n_train,
              (SELECT count(*) FROM t WHERE is_eval) AS n_eval,
              (SELECT count(*) FROM ex) AS n_exact_leaks,
              (SELECT count(*) FROM nr) AS n_near_leaks,
              (SELECT count(*) FROM lk) AS n_leaked,
              CASE WHEN (SELECT count(*) FROM t WHERE is_eval) > 0 THEN
                round((SELECT count(*) FROM lk)
                      / CAST((SELECT count(*) FROM t WHERE is_eval)
                             AS DOUBLE), 4)
              END AS leak_rate"""

  /** DuckDB oracle for [[graft.operators.Curation.leakageSafeSplit]]:
    * recursive-CTE cluster truth + the same knuth32 split hash on the cluster
    * id. */
  def leakageSafeSplitOracle(tau: Double = 0.3, mod: Int = 10): String =
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
        lab AS (SELECT id AS doc_id, min(lbl) AS cluster_id
                FROM reach GROUP BY id)
       SELECT doc_id, cluster_id,
              CASE WHEN (${Quality.knuthSql("cluster_id")})
                       % $mod = 0
                   THEN 'eval' ELSE 'train' END AS split
       FROM lab ORDER BY doc_id"""

  /** DuckDB oracle for [[graft.operators.Curation.budgetSelect]]: the
    * quality_model score replayed + a window cumsum over the same total
    * order. */
  def budgetSelectOracle(frac: Double = 0.5): String =
    s"""WITH s AS (SELECT doc_id,
            CAST(length(text) AS BIGINT) AS n_chars_calc,
            CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
              AS n_words,
            CAST(len(regexp_extract_all(text, '[.,!?;:]', 0)) AS BIGINT)
              AS n_punct,
            CAST(len(regexp_extract_all(lower(text),
              '\\b(?:the|and|is|of|to)\\b', 0)) AS BIGINT) AS n_stop
          FROM documents),
        f AS (SELECT doc_id, n_words,
            round(n_stop / n_words, 4) AS stop_ratio,
            round(n_punct / n_chars_calc, 4) AS punct_ratio FROM s),
        q AS (SELECT doc_id, n_words,
            round(1.0 / (1.0 + exp(-(-2.0 + 0.9 * ln(n_words + 1.0)
              + 3.0 * stop_ratio - 8.0 * punct_ratio))), 4) AS score
          FROM f),
        sel AS (SELECT doc_id, score, n_words,
            CAST(sum(n_words) OVER (ORDER BY score DESC, doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM q),
        tot AS (SELECT CAST(floor(CAST(sum(n_words) AS DOUBLE) * $frac)
                  AS BIGINT) AS budget FROM q)
       SELECT doc_id, score, CAST(n_words AS BIGINT) AS n_tokens,
              cum_tokens
       FROM sel, tot WHERE cum_tokens <= budget
       ORDER BY score DESC, doc_id"""

  /** DuckDB oracle for [[graft.operators.Curation.dsirWeights]]: KR bucket
    * hash, both distributions, smoothing and the ratio terms replayed
    * exactly. */
  def dsirOracle(nBuckets: Int = 1024): String = {
    val kr = """list_reduce(
         [CAST(unicode(w[i]) AS BIGINT)
          for i in range(1, CAST(length(w) AS INTEGER) + 1)],
         (a, c) -> (a * 257 + c) % 18014398509481984)"""
    s"""WITH wd AS (SELECT doc_id, source,
            unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
          FROM documents),
        tk AS (SELECT doc_id, source = 'src0' AS tgt, $kr % $nBuckets AS b
               FROM wd WHERE length(w) > 0),
        d AS (SELECT b, CAST(count(*) AS BIGINT) AS n_c,
                CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS n_t
              FROM tk GROUP BY b),
        t AS (SELECT CAST(sum(n_c) AS BIGINT) AS t_c,
                CAST(sum(n_t) AS BIGINT) AS t_t FROM d),
        tm AS (SELECT b, CAST(round(ln(
                 (CAST(n_t + 1 AS DOUBLE) / (t_t + $nBuckets))
                 / (CAST(n_c + 1 AS DOUBLE) / (t_c + $nBuckets))), 8)
                 AS DECIMAL(18,8)) AS term
               FROM d, t)
       SELECT doc_id, count(*) AS n_tok,
              round(CAST(sum(term) AS DOUBLE) / count(*), 4) AS weight,
              round(CAST(sum(term) AS DOUBLE) / count(*), 4) > 0 AS selected
       FROM tk JOIN tm USING (b)
       GROUP BY doc_id ORDER BY doc_id"""
  }

  /** DuckDB oracle for [[graft.operators.Curation.pipelineReport]]: the
    * charset/quality regex arithmetic, the shared entropy CTE chain, the
    * dedup_exact normalized fingerprint window, and the decontaminate gram
    * probe — composed into the identical first-fail CASE and stacked
    * attrition. */
  def pipelineReportOracle(n: Int = 4, benchMod: Int = 50): String = {
    require(n == 4, "the oracle's gram construction is written for n = 4")
    s"""WITH ${Text.charEntropyCtes},
        w AS (SELECT doc_id,
                string_split_regex(trim(lower(text)), '\\s+') AS w
              FROM documents),
        g AS (SELECT doc_id,
                unnest(list_distinct(
                  [w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                   for i in range(1, len(w) - 2)])) AS gram
              FROM w),
        bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % $benchMod = 0),
        contam AS (SELECT DISTINCT doc_id FROM g
                   WHERE gram IN (SELECT gram FROM bench)),
        base AS (SELECT d.doc_id,
            (len(regexp_extract_all(d.text, '�', 0)) > 0
             OR len(regexp_extract_all(d.text,
                  '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]', 0)) > 0) AS f_charset,
            (e.char_entropy < 3.0 OR e.char_entropy > 5.0) AS f_entropy,
            NOT (CAST(len(string_split_regex(trim(d.text), '\\s+'))
                   AS BIGINT) >= 20
                 AND round(least(CAST(len(string_split_regex(trim(d.text),
                       '\\s+')) AS BIGINT) / 50.0, 1.0) * 0.5
                     + (CAST(len(regexp_extract_all(lower(d.text),
                          '\\b(?:the|and|is|of|to)\\b', 0)) AS BIGINT)
                        / CAST(len(string_split_regex(trim(d.text), '\\s+'))
                            AS BIGINT)) * 0.5, 4) >= 0.3) AS f_quality,
            sha256(lower(trim(regexp_replace(d.text, '\\s+', ' ', 'g'))))
              AS h
          FROM documents d JOIN ent e ON e.doc_id = d.doc_id),
        keep AS (SELECT h, min(doc_id) AS keep FROM base GROUP BY 1),
        p AS (SELECT CASE WHEN f_charset THEN 1
                          WHEN f_entropy THEN 2
                          WHEN f_quality THEN 3
                          WHEN base.doc_id <> keep.keep THEN 4
                          WHEN contam.doc_id IS NOT NULL THEN 5
                          ELSE 0 END AS ff
              FROM base JOIN keep USING (h)
              LEFT JOIN contam ON contam.doc_id = base.doc_id),
        a AS (SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN ff = 1 THEN 1 ELSE 0 END) AS BIGINT) AS r1,
                CAST(sum(CASE WHEN ff = 2 THEN 1 ELSE 0 END) AS BIGINT) AS r2,
                CAST(sum(CASE WHEN ff = 3 THEN 1 ELSE 0 END) AS BIGINT) AS r3,
                CAST(sum(CASE WHEN ff = 4 THEN 1 ELSE 0 END) AS BIGINT) AS r4,
                CAST(sum(CASE WHEN ff = 5 THEN 1 ELSE 0 END) AS BIGINT) AS r5
              FROM p)
       SELECT * FROM (
         SELECT 1 AS stage, 'charset' AS gate, n AS n_in,
                r1 AS n_rejected, n - r1 AS n_out FROM a
         UNION ALL
         SELECT 2, 'entropy', n - r1, r2, n - r1 - r2 FROM a
         UNION ALL
         SELECT 3, 'quality', n - r1 - r2, r3, n - r1 - r2 - r3 FROM a
         UNION ALL
         SELECT 4, 'duplicate', n - r1 - r2 - r3, r4,
                n - r1 - r2 - r3 - r4 FROM a
         UNION ALL
         SELECT 5, 'contaminated', n - r1 - r2 - r3 - r4, r5,
                n - r1 - r2 - r3 - r4 - r5 FROM a)
       ORDER BY stage"""
  }
}
