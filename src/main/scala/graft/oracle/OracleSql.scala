package graft.oracle

import graft.Tables
import graft.operators.SchemaTools
import Oracle.dot

/** The DuckDB oracle of every query: one SQL string per
  * `SparkEntry.queries` entry, runnable on the same parquet tables with
  * the same column names. `graft.Verify` writes it to
  * `oracle_sql.json`. */
object OracleSql {

  private val centsSql = (c: String) => s"CAST(round($c*100) AS BIGINT)"

  /** Per-doc bigram CTEs (w, b) — the oracle twin of
    * [[graft.operators.TextAnalysis]]'s docBigrams, shared by both
    * perplexity scorers. */
  private val bigramCtes =
    """w AS (SELECT doc_id,
              string_split_regex(trim(lower(text)), '\s+') AS w
            FROM documents),
       b AS (SELECT doc_id, s.w1 AS w1, s.w2 AS w2
             FROM (SELECT doc_id,
                     unnest([{'w1': w[i], 'w2': w[i+1]}
                             for i in range(1, len(w))]) AS s
                   FROM w WHERE len(w) >= 2))"""

  /** Shared CTE chain of the corpus bigram LM — per-doc avg NLL, the
    * oracle twin of [[graft.operators.TextAnalysis.perplexityFrom]].
    * Named composition (no string surgery): both the lm_perplexity and
    * perplexity_buckets oracles splice it with `WITH $perplexityCtes`. */
  private val perplexityCtes =
    s"""$bigramCtes,
       c2 AS (SELECT w1, w2, count(*) AS c2 FROM b GROUP BY 1, 2),
       c1 AS (SELECT w1, count(*) AS c1 FROM b GROUP BY 1),
       v AS (SELECT count(DISTINCT w2) AS v FROM b),
       ppl AS (SELECT doc_id, count(*) AS n_bigrams,
                 round(CAST(sum(CAST(round(-ln((c2 + 1.0) / (c1 + v)), 8)
                         AS DECIMAL(18,8))) AS DOUBLE) / count(*), 4) AS avg_nll
               FROM b JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
               GROUP BY doc_id)"""

  /** `n(vec_id, label, embedding, nrm)`: the normed embeddings the
    * brute-force kNN replays rank. */
  private val duckNormCte: String = s"WITH ${Oracle.normCte("n", label = true)}"

  /** Brute-force cosine top-k — the ann_bruteforce oracle, also the
    * ground truth inside ann_recall_eval's oracle. */
  private val bruteAnnSql: String = Oracle.ann(Oracle.Brute, Oracle.Exact)

  // shared by dedup_clusters and its artifact-fed composed twin (#46b)
  private val dedupClustersSql: String =
    s"""${Dedup.duckdbShingleCte
            .replaceFirst("WITH sh", "WITH RECURSIVE sh")},
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.3),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
        reach(id, lbl) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
        lab AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)
        SELECT id AS doc_id, cluster_id,
               CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
                 AS n_members,
               id = cluster_id AS is_canonical
        FROM lab ORDER BY doc_id"""

  // shared by dedup_corpus and its artifact-fed composed twin (#70b):
  // exact canonicals → near-dup pairs among survivors → connected
  // components → the end-to-end audit counts
  private val dedupCorpusSql: String =
    s"""WITH RECURSIVE norm AS (
            SELECT doc_id,
              sha256(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h
            FROM documents),
          canon AS (SELECT min(doc_id) AS doc_id FROM norm GROUP BY h),
          sh AS (SELECT d.doc_id,
                   list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                  for i in range(1, len(w)-1)]) AS s
                 FROM (SELECT doc_id,
                         string_split_regex(trim(lower(text)), '\\s+') AS w
                       FROM documents) d JOIN canon c ON d.doc_id = c.doc_id),
          pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.3),
          edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                    UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
          reach(id, lbl) AS (
            SELECT doc_id, doc_id FROM canon
            UNION
            SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
          lab AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)
          SELECT (SELECT count(*) FROM documents) AS n_in,
                 (SELECT count(*) FROM documents) - (SELECT count(*) FROM canon)
                   AS n_exact_removed,
                 (SELECT count(*) FROM lab WHERE id <> cluster_id)
                   AS n_near_removed,
                 (SELECT count(*) FROM lab WHERE id = cluster_id) AS n_out"""

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def all: Map[String, String] = Map(
    "xml_roundtrip" ->
      s"""SELECT o_orderstatus, count(*) AS n,
          CAST(sum(${centsSql("o_totalprice")}) AS BIGINT) AS sum_price_c,
          strftime(min(o_orderdate), '%Y-%m-%d') AS first_day,
          strftime(max(o_orderdate), '%Y-%m-%d') AS last_day
          FROM orders GROUP BY 1 ORDER BY 1""",
    // identical source aggregate as xml_roundtrip: the round-trip must
    // reproduce the orders table regardless of interchange format
    "xlsx_roundtrip" ->
      s"""SELECT o_orderstatus, count(*) AS n,
          CAST(sum(${centsSql("o_totalprice")}) AS BIGINT) AS sum_price_c,
          strftime(min(o_orderdate), '%Y-%m-%d') AS first_day,
          strftime(max(o_orderdate), '%Y-%m-%d') AS last_day
          FROM orders GROUP BY 1 ORDER BY 1""",
    "template_export" -> Quality.templateExportOracle,
    "xsd_export" -> Quality.xsdExportOracle,
    "xlsx_keys" ->
      "SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 20",
    "csv_roundtrip" ->
      s"""SELECT l_returnflag, count(*) AS n,
          CAST(sum(${centsSql("l_quantity")}) AS BIGINT) AS sum_qty_c,
          CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT) AS sum_price_c,
          CAST(0 AS BIGINT) AS n_corrupt
          FROM lineitem GROUP BY 1 ORDER BY 1""",
    "orc_roundtrip" ->
      s"""SELECT l_returnflag, count(*) AS n,
          CAST(sum(${centsSql("l_quantity")}) AS BIGINT) AS sum_qty_c,
          CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT) AS sum_price_c
          FROM lineitem GROUP BY 1 ORDER BY 1""",
    "integrity_checksum" -> Quality.integrityOracle,
    "compressed_io" ->
      s"""SELECT c_mktsegment, count(*) AS n,
          CAST(sum(${centsSql("c_acctbal")}) AS BIGINT) AS sum_bal_c
          FROM customer GROUP BY 1 ORDER BY 1""",
    "jsonl_roundtrip" ->
      s"""SELECT c_mktsegment, count(*) AS n,
          CAST(sum(${centsSql("c_acctbal")}) AS BIGINT) AS sum_bal_c
          FROM customer GROUP BY 1 ORDER BY 1""",
    // flat twin of the nested-document round-trip: the assembled docs
    // must explode back to exactly this join aggregate
    "nested_docs" ->
      s"""SELECT o_orderstatus,
          count(DISTINCT o_orderkey) AS n_orders,
          count(*) AS n_lines,
          CAST(sum(${centsSql("l_quantity")}) AS BIGINT) AS sum_qty_c,
          CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT) AS sum_price_c
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY 1 ORDER BY 1""",
    "package_roundtrip" ->
      Quality.packageCountsOracle(
        Seq("orders", "customer", "nation"), SchemaTools.tableCols),
    "schema_gen" -> Quality.schemaGenOracle,
    "package_metadata" ->
      Quality.packageCountsOracle(Tables.names, SchemaTools.tableCols),
    "blob_base64" ->
      """SELECT doc_id, to_base64(encode(text)) AS b64,
         decode(from_base64(to_base64(encode(text)))) = text AS ok
         FROM documents ORDER BY doc_id""",
    "media_roundtrip" ->
      """SELECT doc_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         sha256(text) AS sha_hex
         FROM documents ORDER BY doc_id""",
    // the engine wraps each payload in a real 24-bpp BMP (16 px wide,
    // 48-byte aligned rows, 54-byte header) and PARSES the header back;
    // the writer is a pure function of payload length, so the oracle
    // replays every parsed field arithmetically
    "media_metadata" ->
      """SELECT doc_id,
         CAST(54 + 48 * greatest(1, (octet_length(encode(text)) + 47) // 48)
           AS BIGINT) AS n_bytes,
         sha256(text) AS sha_hex,
         'image/bmp' AS mime,
         CAST(16 AS INTEGER) AS width,
         CAST(greatest(1, (octet_length(encode(text)) + 47) // 48)
           AS INTEGER) AS height,
         CAST(1 AS INTEGER) AS frames
         FROM documents ORDER BY doc_id""",
    "media_frame_sample" -> Blob.mediaFrameSampleOracle(),
    "media_resize" -> Blob.mediaResizeOracle,
    "media_png_roundtrip" -> Blob.mediaPngRoundtripOracle,
    "media_resize_png" -> Blob.mediaResizePngOracle,
    "dedup_exact" ->
      """SELECT content_hash, count(*) AS n_dups, min(doc_id) AS canonical_id
         FROM (SELECT sha256(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
                 AS content_hash, doc_id
               FROM documents)
         GROUP BY 1 ORDER BY 1""",
    "para_dedup" -> Dedup.paraOracle,
    "line_dedup" -> Dedup.lineDedupOracle(),
    "text_normalize" -> Text.textNormalizeOracle,
    "dedup_eval" -> Dedup.dedupEvalOracle(),
    "dedup_eval_sample" ->
      Dedup.dedupEvalOracle(docWhere = " WHERE doc_id % 5 = 0"),
    "dedup_eval_sweep" -> Dedup.dedupEvalSweepOracle(),
    "kgram_novelty" -> Dedup.kgramNoveltyOracle,
    "memorization_grams" -> Dedup.memorizationGramsOracle(),
    "dedup_threshold_sweep" -> Dedup.dedupThresholdSweepOracle(),
    "lsh_plan" -> Dedup.lshPlanOracle(),
    "simhash_plan" -> Dedup.simhashPlanOracle(),
    "funnel_windowed" -> Analytics.funnelWindowedOracle(),
    "attribution" -> Analytics.attributionOracle(),
    "path_transitions" -> Analytics.pathTransitionsOracle,
    "events_anomaly" -> Analytics.eventsAnomalyOracle(),
    "events_cusum" -> Analytics.eventsCusumOracle,
    "totals_reconcile" -> Quality.totalsReconcileOracle,
    "drift_report" -> Analytics.driftOracle,
    "split_leakage" -> Curation.splitLeakageOracle(),
    "leakage_safe_split" -> Curation.leakageSafeSplitOracle(),
    // artifact-fed form: same truth, so the same oracle
    "leakage_safe_split_composed" -> Curation.leakageSafeSplitOracle(),
    "budget_select" -> Curation.budgetSelectOracle(),
    "source_overlap" -> Dedup.sourceOverlapOracle(),
    "dedup_minhash" ->
      Dedup.duckdbAllPairsOracle(0.5),
    // all-pairs brute force over the SAME 54-bit KR-hash SimHash
    // fingerprints the engine computes — exact equality is guaranteed
    // because 6-band blocking has total recall at hamming <= 5
    "dedup_simhash" ->
      s"""${Dedup.duckdbShingleCte},
          hx AS (SELECT doc_id, list_transform(s, t ->
                   list_reduce([CAST(unicode(t[i]) AS BIGINT)
                                for i in range(1, CAST(len(t) AS INTEGER) + 1)],
                               (a, c) -> (a * 257 + c) % ${graft.functions.KrHashF.M})) AS h
                 FROM sh WHERE len(s) > 0),
          fp AS (SELECT doc_id,
                   CAST(list_sum([CASE WHEN 2 * list_sum([CAST((h2 >> k) & 1 AS BIGINT)
                                                          for h2 in h]) > len(h)
                                       THEN (CAST(1 AS BIGINT) << k)
                                       ELSE CAST(0 AS BIGINT) END
                                  for k in range(0, 54)]) AS BIGINT) AS f
                 FROM hx)
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(bit_count(xor(a.f, b.f)) AS INTEGER) AS hamming
          FROM fp a JOIN fp b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.f, b.f)) <= 5
          ORDER BY id_a, id_b""",
    "dedup_ngram_exactjoin" ->
      Dedup.duckdbAllPairsOracle(0.3),
    // the full corpus-dedup audit: exact canonicals → near-dup clusters
    // on the survivors → canonical keepers, counted end to end
    "dedup_corpus" -> dedupCorpusSql,
    // the artifact-fed form is the SAME audit (Jaccard is pairwise, so
    // the verified-pair artifact restricted to canonical endpoints IS
    // the survivor pair set) — identical oracle by construction
    "dedup_corpus_composed" -> dedupCorpusSql,
    // connected components over the same exact verified pairs, via a
    // recursive transitive-closure CTE; min reachable id = cluster id
    "dedup_survivorship" -> Dedup.dedupSurvivorshipOracle(),
    "dedup_survivorship_composed" -> Dedup.dedupSurvivorshipOracle(),
    "dedup_audit_composed" -> Dedup.dedupAuditComposedOracle(),
    "exact_substr_spans" -> Dedup.exactSubstrSpansOracle(),
    "exact_substr_scrub" -> Dedup.exactSubstrScrubOracle(),
    "scrub_report" -> Dedup.scrubReportOracle(),
    "dedup_pairs_incremental" -> Dedup.dedupPairsIncrementalOracle(),
    "dedup_clusters" -> dedupClustersSql,
    "dedup_clusters_composed" -> dedupClustersSql,
    "embedding_dedup" ->
      s"""$duckNormCte
          SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
                 round(${dot("a.embedding", "b.embedding")}
                       / (a.nrm * b.nrm), 6) AS cos6
          FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
          WHERE ${dot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.4
          ORDER BY id_a, id_b""",
    "ann_bruteforce" -> bruteAnnSql,
    "ann_recall_eval" -> {
      def rec(variant: String, sql: String) =
        s"""SELECT '$variant' AS variant,
              (SELECT count(*) FROM ($bruteAnnSql)) AS n_truth,
              (SELECT count(*) FROM ($sql) v JOIN ($bruteAnnSql) b
                 ON v.query_id = b.query_id
                AND v.neighbor_id = b.neighbor_id) AS n_hit"""
      s"""SELECT variant, n_truth, n_hit,
            round(n_hit / CAST(n_truth AS DOUBLE), 4) AS recall
          FROM (${rec("ann_ivf_static", Ann.ivfStaticOracle())}
                UNION ALL
                ${rec("ann_lsh", Ann.lshOracle())}
                UNION ALL
                ${rec("ann_sign_sketch", Ann.signSketchOracle())})
          ORDER BY variant"""
    },
    "knn_graph" ->
      s"""$duckNormCte,
          e AS (SELECT query_id, neighbor_id, rnk, cos FROM (
            SELECT query_id, neighbor_id, cos,
              CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rnk
            FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                    ${dot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
                  FROM n q JOIN n c ON c.vec_id <> q.vec_id))
          WHERE rnk <= 5)
          SELECT e.query_id AS src_id, e.neighbor_id AS dst_id,
                 e.rnk AS rnk, round(e.cos, 6) AS cos6,
                 (r.query_id IS NOT NULL) AS mutual
          FROM e LEFT JOIN e r ON r.query_id = e.neighbor_id
                              AND r.neighbor_id = e.query_id
          ORDER BY src_id, e.rnk""",
    // the incremental merge equals the full graph over base + the
    // re-id'd delta slice, so the oracle is knn_graph's brute replay
    // over the combined corpus
    "knn_edges_incremental" ->
      s"""WITH n AS (SELECT vec_id, embedding,
            sqrt(${dot("embedding", "embedding")}) AS nrm
          FROM (SELECT vec_id, embedding FROM embeddings
                UNION ALL
                SELECT vec_id + 10000 AS vec_id, embedding
                FROM embeddings WHERE vec_id % 5 = 0)),
          e AS (SELECT query_id, neighbor_id, rnk, cos FROM (
            SELECT query_id, neighbor_id, cos,
              CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rnk
            FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                    ${dot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
                  FROM n q JOIN n c ON c.vec_id <> q.vec_id))
          WHERE rnk <= 5)
          SELECT e.query_id AS src_id, e.neighbor_id AS dst_id,
                 e.rnk AS rnk, round(e.cos, 6) AS cos6,
                 (r.query_id IS NOT NULL) AS mutual
          FROM e LEFT JOIN e r ON r.query_id = e.neighbor_id
                              AND r.neighbor_id = e.query_id
          ORDER BY src_id, e.rnk""",
    "hard_negatives" ->
      s"""$duckNormCte
          SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cos6 FROM (
            SELECT query_id, neighbor_id, cos,
              CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rnk
            FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                    ${dot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
                  FROM n q JOIN n c ON c.label <> q.label
                  WHERE q.vec_id < 10))
          WHERE rnk <= 5 ORDER BY query_id, rnk""",
    // static-hyperplane LSH is fully deterministic — the oracle inlines
    // the seeded planes and replays sign-bit banding + ranking exactly
    "ann_lsh" -> Ann.lshOracle(),
    "ann_sign_sketch" -> Ann.signSketchOracle(),
    "ann_ivf_static" -> Ann.ivfStaticOracle(),
    // same pipeline served from the materialized cell-partitioned index
    "ann_ivf_indexed" -> Ann.ivfStaticOracle(),
    "knn_graph_ann" -> Ann.knnGraphAnnOracle(),
    "label_spread" -> Ann.labelSpreadOracle(),
    "ann_pq" -> Ann.pqTrainedOracle(),
    "ann_sq8" -> Ann.sq8Oracle(),
    "ann_ivfsq8" -> Ann.ivfSq8TrainedOracle(),
    "ann_ivfsq8_indexed" -> Ann.ivfSq8StaticOracle(),
    "ann_mmr" -> Ann.mmrOracle(),
    "ann_mmr_indexed" -> Ann.mmrIndexedOracle(),
    "ann_mmr_sq8_indexed" -> Ann.mmrSq8IndexedOracle(),
    "ann_ivf_whitened_indexed" -> Ann.ivfWhitenedOracle(),
    "ann_mmr_pq_indexed" -> Ann.mmrPqIndexedOracle(),
    "ann_ivfpq" -> Ann.ivfPqTrainedOracle(),
    "ann_ivfpq_residual" -> Ann.ivfPqResidualTrainedOracle(),
    "ann_ivfpq_indexed" -> Ann.ivfPqTrainedOracle(),
    "ann_ivfpq_opq_indexed" -> Ann.ivfPqOpqTrainedOracle(),
    "ann_ivfpq_residual_indexed" -> Ann.ivfPqResidualTrainedOracle(),
    "semantic_dedup" -> Ann.semanticDedupOracle(),
    "decontaminate_semantic" -> Ann.decontaminateSemanticOracle(),
    "decon_recall_eval" -> Ann.deconRecallEvalOracle(),
    "semantic_dedup_incremental" ->
      Ann.semanticDedupIncrementalOracle(),
    // oracle takes the deterministically-trained quantizer as given
    // (training is property-specced); everything downstream is exact
    "ann_ivf" -> Ann.ivfTrainedOracle(),
    "asof_join" -> Analytics.asofJoinOracle,
    "asof_join_native" -> Analytics.asofJoinOracle,
    "asof_join_forward" -> Analytics.asofJoinForwardOracle,
    "import_validation" ->
      """SELECT count(*) AS n_rows,
          count(CASE WHEN bad_price THEN 1 END) AS n_bad_price,
          count(CASE WHEN bad_date THEN 1 END) AS n_bad_date,
          count(CASE WHEN NOT bad_price AND NOT bad_date THEN 1 END)
            AS n_clean
         FROM (
           SELECT NOT regexp_matches(price_txt, '^[0-9]+(\.[0-9]+)?$')
                    AS bad_price,
                  try_strptime(date_txt, '%Y-%m-%d') IS NULL AS bad_date
           FROM (
             SELECT CASE WHEN o_orderkey % 97 = 0 THEN 'not-a-number'
                         ELSE CAST(o_totalprice AS VARCHAR) END AS price_txt,
                    CASE WHEN o_orderkey % 101 = 0 THEN '31-13-2020'
                         ELSE strftime(o_orderdate, '%Y-%m-%d') END AS date_txt
             FROM orders))""",
    "import_errors" ->
      """WITH staged AS (
           SELECT o_orderkey,
                  CASE WHEN o_orderkey % 97 = 0 THEN 'not-a-number'
                       ELSE CAST(o_totalprice AS VARCHAR) END AS price_txt,
                  CASE WHEN o_orderkey % 101 = 0 THEN '31-13-2020'
                       ELSE strftime(o_orderdate, '%Y-%m-%d') END AS date_txt
           FROM orders)
         SELECT * FROM (
           SELECT o_orderkey, 'o_totalprice' AS field,
                  price_txt AS raw_value,
                  'not a valid decimal' AS reason
           FROM staged
           WHERE NOT regexp_matches(price_txt, '^[0-9]+(\.[0-9]+)?$')
           UNION ALL
           SELECT o_orderkey, 'o_orderdate' AS field,
                  date_txt AS raw_value, 'not a valid date' AS reason
           FROM staged
           WHERE try_strptime(date_txt, '%Y-%m-%d') IS NULL)
         ORDER BY o_orderkey, field""",
    "sessionize" -> Analytics.sessionizeOracle(),
    "json_props" -> Quality.jsonPropsOracle,
    "package_filter" -> Quality.packageFilterOracle,
    "merge_upsert" -> Quality.mergeUpsertOracle,
    "package_apply" -> Quality.packageApplyOracle,
    "topk_frequent" ->
      """SELECT event_type AS item, count(*) AS cnt FROM events
         GROUP BY 1 ORDER BY cnt DESC, item LIMIT 3""",
    "quality_filter" ->
      """SELECT doc_id, n_words, quality FROM (
           SELECT doc_id, n_words,
             round(least(n_words / 50.0, 1.0) * 0.5 + (n_stop / n_words) * 0.5, 4)
               AS quality
           FROM (SELECT doc_id,
                   CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                     AS n_words,
                   CAST(len(regexp_extract_all(lower(text),
                     '\b(?:the|and|is|of|to)\b', 0)) AS BIGINT) AS n_stop
                 FROM documents))
         WHERE n_words >= 20 AND quality >= 0.3
         ORDER BY doc_id""",
    "partitioned_write" ->
      s"""SELECT o_orderstatus, count(*) AS n,
          CAST(sum(${centsSql("o_totalprice")}) AS BIGINT) AS sum_c
          FROM orders WHERE o_orderstatus = 'F'
          GROUP BY 1 ORDER BY 1""",
    "text_stats" ->
      """SELECT doc_id, n_chars_calc, n_words, n_punct, n_stop,
          round(n_stop / n_words, 4) AS stop_ratio,
          round(n_punct / n_chars_calc, 4) AS punct_ratio,
          round(least(n_words / 50.0, 1.0) * 0.5 + (n_stop / n_words) * 0.5, 4)
            AS quality
          FROM (SELECT doc_id,
                  CAST(length(text) AS BIGINT) AS n_chars_calc,
                  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                    AS n_words,
                  CAST(len(regexp_extract_all(text, '[.,!?;:]', 0)) AS BIGINT)
                    AS n_punct,
                  CAST(len(regexp_extract_all(lower(text),
                    '\b(?:the|and|is|of|to)\b', 0)) AS BIGINT) AS n_stop
                FROM documents)
          ORDER BY doc_id""",
    "quality_calibration" -> Text.qualityCalibrationOracle,
    "lang_id" ->
      s"""SELECT doc_id, pred_lang, pred_lang = lang AS is_match FROM (
            SELECT doc_id, lang, ${graft.operators.TextAnalysis.langCaseSql}
              AS pred_lang
            FROM (SELECT doc_id, lang,
                    len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]', 0))
                      AS c_zh,
                    len(regexp_extract_all(lower(text),
                      '\\b(?:the|and|is|of|to)\\b', 0)) AS c_en,
                    len(regexp_extract_all(lower(text),
                      '\\b(?:der|die|und|ist|das)\\b', 0)) AS c_de,
                    len(regexp_extract_all(lower(text),
                      '\\b(?:le|la|et|est|les)\\b', 0)) AS c_fr,
                    len(regexp_extract_all(lower(text),
                      '\\b(?:el|los|y|es|una)\\b', 0)) AS c_es
                  FROM documents))
          ORDER BY doc_id""",
    "token_count" ->
      """SELECT doc_id,
          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
            AS ws_tokens,
          CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]', 0))
            AS BIGINT) AS bpe_tokens,
          CAST(length(text) AS BIGINT) AS n_chars_calc
          FROM documents ORDER BY doc_id""",
    "doc_fingerprint" ->
      s"""${Dedup.duckdbShingleCte}
          SELECT doc_id,
            sha256(list_aggregate(list_sort(s), 'string_agg', '|'))
              AS fingerprint,
            CAST(len(s) AS BIGINT) AS n_shingles
          FROM sh ORDER BY doc_id""",
    "doc_winnow" ->
      """SELECT doc_id, CAST(len(fp) AS BIGINT) AS n_fp,
          sha256(coalesce(list_aggregate(
                   list_transform(fp, x -> CAST(x AS VARCHAR)),
                   'string_agg', ','), '')) AS fp_digest
         FROM (
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
               FROM documents)))
         ORDER BY doc_id""",
    "embedding_quantize" ->
      """WITH m AS (SELECT vec_id, embedding,
                      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                        list_transform(embedding,
                          v -> abs(CAST(v AS DOUBLE)))),
                        (a, b) -> greatest(a, b)) AS maxabs
                    FROM embeddings),
          s AS (SELECT vec_id, embedding, maxabs,
                  CASE WHEN maxabs > 0 THEN 127.0 / maxabs ELSE 1.0 END
                    AS scale
                FROM m),
          qt AS (SELECT vec_id, embedding, maxabs, scale,
                   list_transform(embedding,
                     v -> CAST(least(greatest(
                            round(CAST(v AS DOUBLE) * scale), -127.0),
                            127.0) AS BIGINT)) AS q
                 FROM s)
         SELECT vec_id, round(scale, 4) AS scale4,
           CAST(list_sum([q[i] * i for i in range(1, len(q) + 1)])
                AS BIGINT) AS checksum,
           round(list_max([abs(CAST(embedding[i] AS DOUBLE)
                               - CAST(q[i] AS DOUBLE) / scale)
                           for i in range(1, len(q) + 1)]), 6) AS max_err6,
           round(maxabs, 6) AS maxabs6
         FROM qt ORDER BY vec_id""",
    "quantize_eval" ->
      """WITH m AS (SELECT vec_id, embedding,
                      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                        list_transform(embedding,
                          v -> abs(CAST(v AS DOUBLE)))),
                        (a, b) -> greatest(a, b)) AS maxabs
                    FROM embeddings),
          s AS (SELECT vec_id, embedding, maxabs,
                  CASE WHEN maxabs > 0 THEN 127.0 / maxabs ELSE 1.0 END
                    AS scale
                FROM m),
          qt AS (SELECT vec_id, embedding, scale,
                   list_transform(embedding,
                     v -> CAST(least(greatest(
                            round(CAST(v AS DOUBLE) * scale), -127.0),
                            127.0) AS BIGINT)) AS q
                 FROM s),
          acc AS (SELECT vec_id,
                    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                      [CAST(embedding[i] AS DOUBLE)
                         * (CAST(q[i] AS DOUBLE) / scale)
                       for i in range(1, len(q) + 1)]),
                      (a, b) -> a + b) AS dp,
                    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                      [CAST(embedding[i] AS DOUBLE)
                         * CAST(embedding[i] AS DOUBLE)
                       for i in range(1, len(q) + 1)]),
                      (a, b) -> a + b))
                    * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                      [(CAST(q[i] AS DOUBLE) / scale)
                         * (CAST(q[i] AS DOUBLE) / scale)
                       for i in range(1, len(q) + 1)]),
                      (a, b) -> a + b)) AS den
                  FROM qt),
          d AS (SELECT vec_id,
                  round(CASE WHEN den = 0 THEN 0.0
                             ELSE 1.0 - dp / den END, 8) AS d8
                FROM acc)
         SELECT count(*) AS n_vecs, max(d8) AS max_dist8,
           round(CAST(sum(CAST(d8 AS DECIMAL(38,8))) AS DOUBLE)
                 / count(*), 8) AS mean_dist8
         FROM d""",
    "contamination_report" -> Curation.contaminationReportOracle(),
    "decontaminate" ->
      """WITH w AS (SELECT doc_id,
                      string_split_regex(trim(lower(text)), '\s+') AS w
                    FROM documents),
          g AS (SELECT doc_id,
                  unnest(list_distinct(
                    [w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                     for i in range(1, len(w) - 2)])) AS gram
                FROM w),
          bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0)
         SELECT doc_id, count(*) AS n_hit_grams
         FROM g WHERE doc_id % 50 <> 0 AND gram IN (SELECT gram FROM bench)
         GROUP BY 1 ORDER BY 1""",
    // replays the Bloom bitmap bit-for-bit: same KR hash, same
    // double-hashed positions — membership in the bitmap == the
    // position triple being a subset of the bench side's set bits
    "bloom_decontaminate" ->
      """WITH w AS (SELECT doc_id,
                      string_split_regex(trim(lower(text)), '\s+') AS w
                    FROM documents),
          g AS (SELECT doc_id,
                  unnest(list_distinct(
                    [w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                     for i in range(1, len(w) - 2)])) AS gram
                FROM w),
          k AS (SELECT doc_id, gram,
                  list_reduce(
                    [CAST(unicode(gram[i]) AS BIGINT)
                     for i in range(1, CAST(length(gram) AS INTEGER) + 1)],
                    (a, c) -> (a * 257 + c) % 18014398509481984) AS h
                FROM g),
          pp AS (SELECT doc_id, gram,
                   h % 65536 AS p0,
                   (h % 65536 + (1 + ((h // 65536) % 65535))) % 65536 AS p1,
                   (h % 65536 + 2 * (1 + ((h // 65536) % 65535))) % 65536
                     AS p2
                 FROM k),
          bpos AS (SELECT DISTINCT unnest([p0, p1, p2]) AS bp
                   FROM pp WHERE doc_id % 50 = 0),
          cand AS (SELECT doc_id, gram FROM pp
                   WHERE doc_id % 50 <> 0
                     AND p0 IN (SELECT bp FROM bpos)
                     AND p1 IN (SELECT bp FROM bpos)
                     AND p2 IN (SELECT bp FROM bpos)),
          bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0)
         SELECT c.doc_id, count(*) AS n_cand_grams,
           count(b.gram) AS n_hit_grams
         FROM cand c LEFT JOIN bench b ON b.gram = c.gram
         GROUP BY 1 ORDER BY 1""",
    "decontaminate_fuzzy" ->
      """WITH sh AS (
           SELECT doc_id,
             list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                            for i in range(1, len(w)-1)]) AS s
           FROM (SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\s+') AS w
                 FROM documents)),
          p AS (SELECT t.doc_id AS doc_id, b.doc_id AS bench_id,
                  round(CAST(len(list_intersect(t.s, b.s)) AS DOUBLE)
                    / (len(t.s) + len(b.s) - len(list_intersect(t.s, b.s))),
                    4) AS j4
                FROM sh t JOIN sh b
                  ON t.doc_id % 50 <> 0 AND b.doc_id % 50 = 0
                WHERE CAST(len(list_intersect(t.s, b.s)) AS DOUBLE)
                  / (len(t.s) + len(b.s) - len(list_intersect(t.s, b.s)))
                  >= 0.5)
         SELECT doc_id, bench_id AS best_bench_id, j4
         FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                 ORDER BY j4 DESC, bench_id DESC) AS rk FROM p)
         WHERE rk = 1 ORDER BY doc_id""",
    "doc_chunk" ->
      """SELECT doc_id, CAST(ix AS INTEGER) AS chunk_ix,
          CAST(length(substring(text, CAST(ix*150+1 AS INTEGER), 200))
               AS INTEGER) AS c_len,
          sha256(substring(text, CAST(ix*150+1 AS INTEGER), 200)) AS c_sha
         FROM (SELECT doc_id, text,
                 unnest(range(0, (length(text) - 1) // 150 + 1)) AS ix
               FROM documents)
         ORDER BY doc_id, chunk_ix""",
    "mixture_sample" ->
      s"""SELECT source, count(*) AS n_docs,
          CAST(sum(n_tok) AS BIGINT) AS n_tokens
         FROM (SELECT source, n_tok,
                 sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id)
                   AS cum
               FROM (SELECT doc_id, source,
                       CAST(len(string_split_regex(trim(text), '\\s+'))
                         AS BIGINT) AS n_tok,
                       ${Quality.knuthSql("doc_id")} AS h
                     FROM documents))
         WHERE cum <= 1000 GROUP BY 1 ORDER BY 1""",
    "mixture_temperature" -> Curation.mixtureTemperatureOracle(),
    "dedup_incremental" ->
      s"""${Dedup.duckdbShingleCte},
          hx AS (SELECT doc_id,
                   sha256(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                     AS h,
                   doc_id % 10 >= 8 AS is_delta
                 FROM documents),
          ex AS (SELECT d.doc_id,
                   (EXISTS (SELECT 1 FROM hx b
                            WHERE NOT b.is_delta AND b.h = d.h)
                    OR EXISTS (SELECT 1 FROM hx p
                               WHERE p.is_delta AND p.h = d.h
                                 AND p.doc_id < d.doc_id)) AS exact_dropped
                 FROM hx d WHERE d.is_delta),
          pairs AS (SELECT p.doc_id AS id_a, c.doc_id AS id_b
                    FROM sh p JOIN sh c
                      ON p.doc_id % 10 >= 8 AND p.doc_id <> c.doc_id
                    WHERE CAST(len(list_intersect(p.s, c.s)) AS DOUBLE)
                      / (len(p.s) + len(c.s) - len(list_intersect(p.s, c.s)))
                      >= 0.5),
          nb AS (SELECT DISTINCT id_a AS doc_id FROM pairs
                 WHERE id_b % 10 < 8),
          nd AS (SELECT DISTINCT p.id_a AS doc_id
                 FROM pairs p JOIN ex e ON e.doc_id = p.id_b
                 WHERE p.id_b % 10 >= 8 AND p.id_b < p.id_a
                   AND NOT e.exact_dropped)
         SELECT ex.doc_id,
           CASE WHEN ex.exact_dropped THEN 'exact'
                WHEN nb.doc_id IS NOT NULL OR nd.doc_id IS NOT NULL
                  THEN 'near'
                ELSE 'kept' END AS decision
         FROM ex LEFT JOIN nb ON nb.doc_id = ex.doc_id
                 LEFT JOIN nd ON nd.doc_id = ex.doc_id
         ORDER BY ex.doc_id""",
    "schema_diff" ->
      """SELECT * FROM (VALUES
           ('o_channel', 'added', CAST(NULL AS VARCHAR), 'string'))
         AS t(col_name, change, v1_type, v2_type) ORDER BY col_name""",
    "quality_repetition" ->
      """WITH w AS (SELECT doc_id,
                      string_split_regex(trim(lower(text)), '\s+') AS w
                    FROM documents),
          topc AS (SELECT doc_id, max(c) AS top_c
                   FROM (SELECT doc_id, word, count(*) AS c
                         FROM (SELECT doc_id, unnest(w) AS word FROM w)
                         GROUP BY 1, 2)
                   GROUP BY 1),
          g AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
                  CASE WHEN len(w) >= 2
                       THEN [w[i] || ' ' || w[i+1]
                             for i in range(1, CAST(len(w) AS INTEGER))]
                       ELSE [] END AS g2,
                  CASE WHEN len(w) >= 3
                       THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                             for i in range(1, CAST(len(w) AS INTEGER) - 1)]
                       ELSE [] END AS g3
                FROM w)
         SELECT doc_id, n_words, top_word_frac, dup2_frac, dup3_frac,
           (top_word_frac > 0.20 OR dup2_frac > 0.18 OR dup3_frac > 0.16)
             AS repetitive
         FROM (SELECT g.doc_id, g.n_words,
                 round(CAST(top_c AS DOUBLE) / g.n_words, 4) AS top_word_frac,
                 CASE WHEN len(g2) > 0
                      THEN round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE)
                             / len(g2), 4)
                      ELSE 0.0 END AS dup2_frac,
                 CASE WHEN len(g3) > 0
                      THEN round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE)
                             / len(g3), 4)
                      ELSE 0.0 END AS dup3_frac
               FROM g JOIN topc ON topc.doc_id = g.doc_id)
         ORDER BY doc_id""",
    "pii_scrub" ->
      """WITH t AS (SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0
                      THEN text || ' contact user' ||
                           CAST(doc_id AS VARCHAR) || '@example.com now'
                      WHEN doc_id % 11 = 0
                      THEN text || ' from 10.0.' ||
                           CAST(doc_id % 256 AS VARCHAR) || '.7 logged'
                      ELSE text END AS text
               FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
             AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
             AS BIGINT) AS n_ips,
           sha256(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
             'g'), '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'))
             AS scrubbed_sha,
           (CAST(len(regexp_extract_all(text,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
            + CAST(len(regexp_extract_all(text,
              '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT)) > 0
             AS had_pii
         FROM t ORDER BY doc_id""",
    "c4_clean" -> Curation.c4Oracle(),
    "gopher_quality" -> Curation.gopherQualityOracle(),
    "gopher_report" -> Curation.gopherReportOracle(),
    "charset_gate" -> Text.charsetOracle,
    "vocab_coverage" -> Text.vocabOracle,
    "word_pmi" -> Text.pmiOracle,
    "quality_model" -> Text.qualityModelOracle,
    "shard_assign" -> Curation.shardOracle(),
    "retention_cohorts" -> Analytics.retentionOracle,
    "scd2_intervals" -> Quality.scd2Oracle,
    "bm25_search" -> Curation.bm25Oracle(),
    "bm25_indexed" -> Curation.bm25IndexedOracle(),
    "bm25_incremental" -> Curation.bm25IndexedOracle(),
    "retrieval_fuse" -> Curation.rrfOracle(),
    "retrieval_fuse_indexed" -> Curation.rrfIndexedOracle(),
    "retrieval_fuse_served" -> Curation.rrfServedOracle(),
    "retrieval_fuse_sq8" -> Curation.rrfSq8Oracle(),
    "doc_containment" -> Dedup.containmentOracle(),
    "inverted_index" -> Text.invertedIndexOracle,
    "bpe_train" -> Text.bpeTrainOracle(),
    "bpe_encode" -> Text.bpeEncodeOracle(),
    "bpe_fertility" -> Text.bpeFertilityOracle(),
    "unigram_encode" -> Text.unigramTrainedOracle(),
    "unigram_encode_artifact" -> Text.unigramTrainedOracle(),
    "tokenizer_fertility" -> Text.tokenizerFertilityOracle(),
    // artifact-fed encode is output-identical to bpe_encode by
    // construction — same oracle
    "bpe_encode_artifact" -> Text.bpeEncodeOracle(),
    "char_entropy" -> Text.charEntropyOracle(),
    "zipf_fit" -> Text.zipfFitOracle(),
    "lang_confusion" -> Text.langConfusionOracle,
    "corpus_report" -> Text.corpusReportOracle(),
    "kmv_distinct" -> Sketches.kmvDistinctOracle(),
    "hll_distinct" -> Sketches.hllDistinctOracle(),
    "cms_topk" -> Sketches.cmsTopkOracle(),
    "hdr_quantiles" -> Sketches.hdrQuantilesOracle(),
    "source_overlap_hll" -> Sketches.sourceOverlapHllOracle(),
    "source_jaccard_kmv" -> Sketches.sourceJaccardKmvOracle(),
    "source_jaccard_composed" -> Sketches.sourceJaccardComposedOracle(),
    "hdr_quantiles_composed" -> Sketches.hdrQuantilesComposedOracle(),
    "embedding_class_stats" -> Ann.embeddingClassStatsOracle,
    "embedding_outliers" -> Ann.embeddingOutliersOracle,
    "dsir_weights" -> Curation.dsirOracle(),
    "quality_funnel" -> Text.qualityFunnelOracle(),
    "source_mix_report" -> Text.sourceMixOracle,
    "source_kl" -> Text.sourceKlOracle(),
    "source_psi" -> Text.sourcePsiOracle(),
    "event_dedup" -> Analytics.eventDedupOracle,
    "events_ewma" -> Analytics.eventsEwmaOracle,
    "join_skew_salted" -> Analytics.joinSkewSaltedOracle,
    "embedding_pca" -> Ann.embeddingPcaOracle(),
    "embedding_whiten" -> Ann.embeddingWhitenOracle(),
    "whiten_recall_eval" -> Ann.whitenRecallEvalOracle(),
    "ivf_probe_sweep" -> Ann.ivfProbeSweepOracle(),
    "pq_shortlist_sweep" -> Ann.pqShortlistSweepOracle(),
    "ann_recall_eval_pq" -> Ann.annRecallEvalPqOracle(),
    "opq_rotate" -> Ann.opqTrainedOracle(),
    "pq_bits_sweep" -> Ann.pqBitsSweepOracle(),
    "pq_shortlist_sweep_residual" ->
      Ann.pqShortlistSweepResidualOracle(),
    "pq_drift" -> Ann.pqDriftOracle(),
    "ivf_drift" -> Ann.ivfDriftOracle(),
    "ivf_drift_impact" -> Ann.ivfDriftImpactOracle(),
    "ivf_rebuild" -> Ann.ivfRebuildOracle(),
    "html_strip" -> Text.htmlStripOracle,
    "media_wav_stats" -> Blob.mediaWavStatsOracle(),
    "media_jpeg_stats" -> Blob.mediaJpegStatsOracle,
    "media_phash_dedup" -> Blob.mediaPhashDedupOracle(),
    "media_phash_clusters" -> Blob.mediaPhashClustersOracle(),
    "media_phash_incremental" -> Blob.mediaPhashIncrementalOracle(),
    "media_wav_fp_dedup" -> Blob.mediaWavFpDedupOracle(),
    "media_wav_fp_planned" -> Blob.mediaWavFpPlannedOracle(),
    "hamming_plan" -> Blob.hammingPlanOracle(),
    "media_wav_fp_incremental" -> Blob.mediaWavFpIncrementalOracle(),
    "media_wav_fp_clusters" -> Blob.mediaWavFpClustersOracle(),
    "events_hopping" -> Analytics.eventsHoppingOracle,
    "sessionize_native" -> Analytics.sessionizeNativeOracle(),
    "fixed_width_roundtrip" -> Quality.fixedWidthRoundtripOracle,
    "benford_check" -> Quality.benfordCheckOracle,
    "corr_matrix" -> Quality.corrMatrixOracle(),
    "knn_communities" -> Ann.knnCommunitiesOracle(),
    "knn_triangles" -> Ann.knnTrianglesOracle(),
    "corpus_diff" -> Quality.corpusDiffOracle,
    "gate_agreement" -> Text.gateAgreementOracle(),
    "basket_lift" -> Analytics.basketLiftOracle(),
    "q5_region_revenue" -> Analytics.q5RegionRevenueOracle,
    "pipeline_report" -> Curation.pipelineReportOracle(),
    "pack_efficiency" -> Text.packEfficiencyOracle(),
    "lm_perplexity" ->
      s"""WITH $perplexityCtes
         SELECT doc_id, n_bigrams, avg_nll FROM ppl ORDER BY doc_id""",
    "tfidf_embed" ->
      s"""WITH w AS (SELECT doc_id,
                       string_split_regex(trim(lower(text)), '\\s+') AS w
                     FROM documents),
          tok0 AS (SELECT doc_id, unnest(w) AS tok FROM w),
          tf AS (SELECT doc_id, tok, count(*) AS tf
                 FROM tok0 WHERE len(tok) > 0 GROUP BY 1, 2),
          df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
          hx AS (SELECT tok, df,
                   list_reduce([CAST(unicode(tok[i]) AS BIGINT)
                                for i in range(1, CAST(len(tok) AS INTEGER) + 1)],
                               (a, c) -> (a * 257 + c) % ${graft.functions.KrHashF.M}) AS h
                 FROM df),
          n AS (SELECT count(DISTINCT doc_id) AS n FROM tf)
         SELECT doc_id, h % 64 AS bucket,
           round(CAST(sum(CAST(round(
               (CASE WHEN (h // 64) % 2 = 0 THEN CAST(1 AS DOUBLE)
                     ELSE CAST(-1 AS DOUBLE) END)
               * tf
               * (ln((n + CAST(1 AS DOUBLE)) / (df + CAST(1 AS DOUBLE)))
                  + CAST(1 AS DOUBLE)), 8)
             AS DECIMAL(18,8))) AS DOUBLE), 6) AS w6
         FROM tf JOIN hx USING (tok) CROSS JOIN n
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "lm_perplexity_kn" ->
      s"""WITH $bigramCtes,
          c2 AS (SELECT w1, w2, count(*) AS c2 FROM b GROUP BY 1, 2),
          hist AS (SELECT w1, sum(c2) AS c1, count(*) AS nf
                   FROM c2 GROUP BY 1),
          cont AS (SELECT w2, count(*) AS np FROM c2 GROUP BY 1),
          tt AS (SELECT count(*) AS tt FROM c2)
         SELECT doc_id, count(*) AS n_bigrams,
           round(CAST(sum(CAST(round(-ln(
                   (c2 - CAST(0.75 AS DOUBLE)) / c1
                   + CAST(0.75 AS DOUBLE) * nf / c1 * (np / tt)), 8)
                 AS DECIMAL(18,8))) AS DOUBLE) / count(*), 4) AS avg_nll_kn
         FROM b JOIN c2 USING (w1, w2) JOIN hist USING (w1)
              JOIN cont USING (w2) CROSS JOIN tt
         GROUP BY doc_id ORDER BY doc_id""",
    "weighted_sample" ->
      s"""WITH w AS (SELECT doc_id,
                       CAST(len(string_split_regex(trim(text), '\\s+'))
                         AS BIGINT) AS wt
                     FROM documents),
          keyed AS (SELECT doc_id, wt,
                      ln((${Quality.knuthSql("doc_id")} + 1) / 4294967297.0)
                        / wt AS k
                    FROM w WHERE wt >= 1),
          ranked AS (SELECT doc_id, wt, k,
                       row_number() OVER (ORDER BY k DESC, doc_id) AS rk
                     FROM keyed)
         SELECT CAST(rk AS INTEGER) AS rk, doc_id, wt AS w_tokens,
                round(k, 8) AS es_key
         FROM ranked WHERE rk <= 64 ORDER BY rk""",
    "perplexity_buckets" ->
      s"""WITH $perplexityCtes,
          scored AS (SELECT p.doc_id, d.lang, p.avg_nll,
                       CAST(round(p.avg_nll * 10000) AS BIGINT) AS nll4
                     FROM ppl p JOIN documents d USING (doc_id)),
          per_score AS (SELECT lang, nll4, count(*) AS cnt
                        FROM scored GROUP BY 1, 2),
          cum AS (SELECT lang, nll4,
                    sum(cnt) OVER (PARTITION BY lang ORDER BY nll4) AS cum,
                    sum(cnt) OVER (PARTITION BY lang) AS n
                  FROM per_score),
          buckets AS (SELECT lang, nll4,
                        CASE WHEN cum * 3 <= n THEN 'head'
                             WHEN cum * 3 <= 2 * n THEN 'middle'
                             ELSE 'tail' END AS ppl_bucket
                      FROM cum)
         SELECT s.doc_id, s.lang, s.avg_nll, b.ppl_bucket
         FROM scored s JOIN buckets b USING (lang, nll4)
         ORDER BY s.doc_id""",
    "ngram_lm" ->
      """WITH w AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS w
                    FROM documents),
          bg AS (SELECT unnest([{'w1': w[i], 'w2': w[i+1]}
                               for i in range(1, len(w))]) AS s
                 FROM w),
          c AS (SELECT s.w1 AS w1, s.w2 AS w2, count(*) AS n
                FROM bg GROUP BY 1, 2 HAVING count(*) >= 5)
         SELECT w1, w2, n, CAST(rk AS INTEGER) AS rk
         FROM (SELECT *, row_number()
                 OVER (PARTITION BY w1 ORDER BY n DESC, w2) AS rk FROM c)
         WHERE rk <= 3 ORDER BY w1, rk""",
    "mixture_upsample" ->
      s"""SELECT source, count(DISTINCT doc_id) AS n_docs,
          count(*) AS n_emitted,
          CAST(sum(n_tok) AS BIGINT) AS tokens_emitted,
          CAST(min(${Quality.knuthSql("(doc_id % 4294967296) * 31 + epoch")})
               AS BIGINT) AS first_pos
         FROM (SELECT doc_id, source,
                 CAST(len(string_split_regex(trim(text), '\\s+'))
                   AS BIGINT) AS n_tok,
                 unnest(range(1, CASE
                   WHEN source IN ('src0', 'src1') THEN 3
                   WHEN source IN ('src2', 'src3') THEN 2
                   ELSE 1 END + 1)) AS epoch
               FROM documents)
         GROUP BY 1 ORDER BY 1""",
    "tfidf_topterms" ->
      """WITH t AS (SELECT doc_id,
                      unnest(string_split_regex(trim(lower(text)), '\s+'))
                        AS term
                    FROM documents),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
          dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          n AS (SELECT count(*) AS n_docs FROM documents),
          scored AS (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
                       round(tf.tf * ln(CAST(n.n_docs + 1 AS DOUBLE)
                                        / (dfreq.df + 1)), 4) AS score
                     FROM tf JOIN dfreq USING (term) CROSS JOIN n)
         SELECT doc_id, term, tf, df, score
         FROM (SELECT *, row_number()
                 OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
               FROM scored)
         WHERE rk <= 3 ORDER BY doc_id, term""",
    // seq_id MUST be cast back to BIGINT: DuckDB's integer window sum
    // yields HUGEINT, which survives fetchall() as a Python int (local
    // check green) but turns into float64 through the pandas/pyarrow
    // path a driver-side comparator uses — "0.0" vs "0" = the r3/r4
    // hash-only mismatch on this one query.
    "seq_pack" ->
      """SELECT seq_id, count(*) AS n_docs,
          CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
          min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM (SELECT doc_id, n_tok,
                 CAST((sum(n_tok) OVER (ORDER BY doc_id) - n_tok) // 2048
                   AS BIGINT) AS seq_id
               FROM (SELECT doc_id,
                       CAST(len(string_split_regex(trim(text), '\s+'))
                         AS BIGINT) AS n_tok
                     FROM documents))
         GROUP BY 1 ORDER BY 1""",
    "text_shingles" ->
      """SELECT doc_id,
          CASE WHEN length(text) >= 3
               THEN CAST(len(list_distinct([substring(text, i, 3)
                      for i in range(1, CAST(length(text) AS INTEGER) - 1)]))
                    AS INTEGER)
               ELSE 0 END AS n_shingles3
          FROM documents ORDER BY doc_id""",
    "filter_pushdown" ->
      s"""SELECT l_orderkey, l_linenumber, ${centsSql("l_quantity")} AS qty_cents,
          strftime(l_shipdate, '%Y-%m-%d') AS ship_day
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_returnflag = 'R'
            AND l_quantity > 30
          ORDER BY l_orderkey, l_linenumber""",
    "projection" ->
      "SELECT p_partkey, p_brand, p_size FROM part ORDER BY p_partkey",
    "typed_format" ->
      s"""SELECT o_orderkey,
          strftime(o_orderdate, '%Y-%m-%d') AS day_txt,
          strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS dt_txt,
          ${centsSql("o_totalprice")} AS price_cents,
          o_orderstatus = 'F' AS is_final,
          strptime(strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S'),
                   '%Y-%m-%dT%H:%M:%S') = o_orderdate AS fmt_ok
          FROM orders ORDER BY o_orderkey""",
    "column_mapping" ->
      s"""SELECT o_orderkey AS order_id, o_custkey AS customer_id,
          o_orderstatus AS status, ${centsSql("o_totalprice")} AS total_price,
          o_orderpriority AS priority
          FROM orders ORDER BY order_id""",
    "preview_sample" ->
      s"""SELECT o_orderkey, o_custkey, o_orderstatus,
          ${centsSql("o_totalprice")} AS price_cents
          FROM orders ORDER BY o_orderkey LIMIT 20""",
    "dim_flatten" ->
      s"""SELECT r_name, n_name,
          CAST(sum(rev_c3) AS BIGINT) AS revenue_c3,
          CAST(sum(n_lines) AS BIGINT) AS n_lines
          FROM (SELECT l_orderkey,
                  ${centsSql("l_extendedprice")} * (100 - ${centsSql("l_discount")}) AS rev_c3,
                  1 AS n_lines
                FROM lineitem) li
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY 1, 2 ORDER BY 1, 2""",
    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
          CAST(sum(qty_c) AS BIGINT) AS sum_qty_c,
          CAST(sum(price_c) AS BIGINT) AS sum_base_c,
          CAST(sum(price_c*(100-disc_c)) AS BIGINT) AS sum_disc_c3,
          CAST(sum(price_c*(100-disc_c)*(100+tax_c)) AS BIGINT) AS sum_charge_c5,
          count(*) AS count_order,
          round(CAST(sum(qty_c) AS BIGINT)/count(*)/100.0, 4) AS avg_qty,
          round(CAST(sum(price_c) AS BIGINT)/count(*)/100.0, 4) AS avg_price
          FROM (SELECT l_returnflag, l_linestatus,
                  ${centsSql("l_quantity")} AS qty_c,
                  ${centsSql("l_extendedprice")} AS price_c,
                  ${centsSql("l_discount")} AS disc_c,
                  ${centsSql("l_tax")} AS tax_c
                FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02')
          GROUP BY 1, 2 ORDER BY 1, 2""",
    "window_rank" ->
      s"""SELECT o_custkey, o_orderkey, price_cents, rnk FROM (
            SELECT o_custkey, o_orderkey,
              ${centsSql("o_totalprice")} AS price_cents,
              CAST(row_number() OVER (PARTITION BY o_custkey
                ORDER BY ${centsSql("o_totalprice")} DESC, o_orderkey) AS INTEGER) AS rnk
            FROM orders)
          WHERE rnk <= 3 ORDER BY o_custkey, rnk""",
    "agg_skew_salted" ->
      s"""SELECT event_type,
          CAST(sum(value_c) AS BIGINT) AS sum_value_c,
          count(*) AS n_events
          FROM (SELECT event_type, ${centsSql("value")} AS value_c FROM events)
          GROUP BY 1 ORDER BY 1""",
    "events_window" ->
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_bucket,
          event_type, count(*) AS n,
          CAST(sum(${centsSql("value")}) AS BIGINT) AS sum_value_c
          FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "range_join" ->
      """SELECT a.user_id AS user_id, count(*) AS n_pairs,
          min(abs(epoch_us(a.ts) - epoch_us(b.ts))) AS min_gap_us,
          max(abs(epoch_us(a.ts) - epoch_us(b.ts))) AS max_gap_us
         FROM events a JOIN events b
           ON a.user_id = b.user_id AND a.event_id < b.event_id
          AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 600000000
         GROUP BY 1 ORDER BY 1""",
    "funnel_steps" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t
                    FROM events),
          s1 AS (SELECT user_id, min(t) AS t_cur FROM e
                 WHERE event_type = 'view' GROUP BY 1),
          s2 AS (SELECT e.user_id, min(e.t) AS t_cur, min(s1.t_cur) AS t_prev
                 FROM e JOIN s1 ON e.user_id = s1.user_id
                 WHERE e.event_type = 'click' AND e.t > s1.t_cur GROUP BY 1),
          s3 AS (SELECT e.user_id, min(e.t) AS t_cur, min(s2.t_cur) AS t_prev
                 FROM e JOIN s2 ON e.user_id = s2.user_id
                 WHERE e.event_type = 'purchase' AND e.t > s2.t_cur
                 GROUP BY 1)
         SELECT CAST(1 AS INTEGER) AS step, count(*) AS n_users,
                0.0 AS avg_gap_s FROM s1
         UNION ALL
         SELECT CAST(2 AS INTEGER), count(*),
                round(CAST(sum(t_cur - t_prev) AS DOUBLE)
                      / count(*) / 1e6, 4) FROM s2
         UNION ALL
         SELECT CAST(3 AS INTEGER), count(*),
                round(CAST(sum(t_cur - t_prev) AS DOUBLE)
                      / count(*) / 1e6, 4) FROM s3
         ORDER BY step""",
    "rolling_window" ->
      """SELECT user_id, event_id,
           count(*) OVER w AS n_1h,
           round(avg(v_c) OVER w / 100, 4) AS avg_value_1h
         FROM (SELECT user_id, event_id, epoch_us(ts) AS t,
                 CAST(round(value*100) AS BIGINT) AS v_c FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY t
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, event_id""",
    "pivot_status" ->
      s"""SELECT o_orderpriority,
          CAST(sum(CASE WHEN o_orderstatus = 'F' THEN price_c END) AS BIGINT)
            AS sum_f_c,
          CAST(sum(CASE WHEN o_orderstatus = 'O' THEN price_c END) AS BIGINT)
            AS sum_o_c,
          CAST(sum(CASE WHEN o_orderstatus = 'P' THEN price_c END) AS BIGINT)
            AS sum_p_c
          FROM (SELECT o_orderpriority, o_orderstatus,
                  ${centsSql("o_totalprice")} AS price_c FROM orders)
          GROUP BY 1 ORDER BY 1""",
    "rollup_agg" ->
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
          CAST(sum(price_c) AS BIGINT) AS sum_price_c,
          CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
            AS INTEGER) AS gid
          FROM (SELECT o_orderstatus, o_orderpriority,
                  ${centsSql("o_totalprice")} AS price_c FROM orders)
          GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
          ORDER BY gid, o_orderstatus NULLS FIRST,
            o_orderpriority NULLS FIRST""",
    "pctile_value" ->
      s"""SELECT event_type,
          CAST(quantile_disc(v_c, 0.5) AS BIGINT) AS p50_c,
          CAST(quantile_disc(v_c, 0.9) AS BIGINT) AS p90_c,
          CAST(quantile_disc(v_c, 0.99) AS BIGINT) AS p99_c,
          count(*) AS n
          FROM (SELECT event_type, ${centsSql("value")} AS v_c FROM events)
          GROUP BY 1 ORDER BY 1""",
    "snapshot_diff" -> Quality.diffOracle,
    "running_total" ->
      s"""SELECT o_custkey, o_orderkey,
          ${centsSql("o_totalprice")} AS price_cents,
          CAST(sum(${centsSql("o_totalprice")}) OVER (
            PARTITION BY o_custkey ORDER BY o_orderkey) AS BIGINT)
            AS running_c
          FROM orders ORDER BY o_custkey, o_orderkey""",
    "fk_orphans" ->
      """SELECT count(*) AS n_orphan_lines,
          count(DISTINCT l_orderkey) AS n_orphan_keys,
          min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
         FROM lineitem
         WHERE l_orderkey NOT IN
           (SELECT o_orderkey FROM orders WHERE o_orderkey % 97 <> 0)""",
    "join_skew_report" -> Quality.joinSkewOracle,
    "k_anonymity" -> Quality.kAnonymityOracle(),
    "l_diversity" -> Quality.lDiversityOracle(),
    "t_closeness" -> Quality.tClosenessOracle(),
    "pagerank" -> Ann.pagerankOracle(),
    "corpus_concentration" -> Quality.corpusConcentrationOracle,
    "deterministic_sample" ->
      s"""SELECT o_orderkey, ${centsSql("o_totalprice")} AS price_cents
          FROM orders
          WHERE ${Quality.knuthSql("o_orderkey")} < 429496720
          ORDER BY o_orderkey""",
    "stratified_sample" ->
      s"""SELECT stratum, CAST(rk AS INTEGER) AS rk, doc_id,
          CAST(h AS BIGINT) AS h
         FROM (SELECT lang AS stratum, doc_id, h, row_number()
                 OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
               FROM (SELECT lang, doc_id,
                       ${Quality.knuthSql("doc_id")} AS h
                     FROM documents))
         WHERE rk <= 10 ORDER BY stratum, rk""",
    "value_histogram" ->
      s"""SELECT CAST(floor(v_c / 2500.0) AS BIGINT) AS bin,
          count(*) AS n, min(v_c) AS min_c, max(v_c) AS max_c
          FROM (SELECT ${centsSql("value")} AS v_c FROM events)
          GROUP BY 1 ORDER BY 1""",
    "profile_table" -> Quality.profileOracle,
    "outlier_fences" -> Quality.outlierOracle,
    "compact_files" ->
      s"""SELECT count(*) AS n_rows,
          CAST(sum(${centsSql("o_totalprice")}) AS BIGINT) AS sum_price_c,
          count(DISTINCT o_orderkey) AS n_keys
          FROM orders""",
    "schema_evolution" -> Quality.schemaEvolutionOracle,
    "zorder_layout" -> Quality.zorderLayoutOracle(),
  )
}
