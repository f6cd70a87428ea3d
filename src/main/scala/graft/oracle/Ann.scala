package graft.oracle

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions.l2norm
import graft.operators.Similarity.{hyperplanes, residualAssigned,
  staticCentroids, trainCentroids, trainOpqRotation, trainPc1,
  trainPqCodebooks, trainWhitening, whitenVectors, withTrainCache}
import Oracle._

/** DuckDB replays of the ANN, embedding and kNN-graph queries
  * (Similarity, Graph). */
object Ann {

  /** DuckDB oracle for [[graft.operators.Similarity.knnGraphAnn]]: static
    * centroids inlined, assignment/probing/ranking replayed (the
    * [[ivfStaticOracle]] machinery with every vector as a query) plus the
    * mutual self-join. */
  def knnGraphAnnOracle(nProbe: Int = 6, k: Int = 5): String =
    s"""WITH ${normCte("n")},
        cents(cell, cv) AS (VALUES ${rows(staticCentroids())}),
        ${rankedCte(norm = "n")},
        ${assignedCte()},
        ${probesCte(nProbe, "", norm = true)},
        e AS (
          SELECT query_id, neighbor_id, rnk, cos FROM (
            SELECT p.query_id, a.neighbor_id,
              ${probedCos()} AS cos,
              CAST(row_number() OVER (PARTITION BY p.query_id ORDER BY
                ${probedCos()} DESC,
                a.neighbor_id) AS INTEGER) AS rnk
            FROM probes p JOIN assigned a ON p.cell = a.cell
            WHERE p.query_id <> a.neighbor_id)
          WHERE rnk <= $k)
        SELECT e.query_id AS src_id, e.neighbor_id AS dst_id, e.rnk AS rnk,
               round(e.cos, 6) AS cos6, (r.query_id IS NOT NULL) AS mutual
        FROM e LEFT JOIN e r ON r.query_id = e.neighbor_id
                            AND r.neighbor_id = e.query_id
        ORDER BY src_id, e.rnk"""

  /** DuckDB oracle for [[graft.operators.Similarity.labelSpread]]: the same
    * rank/vote/argmax chain replayed with window functions. */
  def labelSpreadOracle(k: Int = 5, seedMod: Int = 5): String = {
    s"""WITH ${normCte("n", label = true)},
        sd AS (SELECT * FROM n WHERE vec_id % $seedMod = 0),
        qs AS (SELECT * FROM n WHERE vec_id % $seedMod <> 0),
        e AS (SELECT query_id, nb_label FROM (
            SELECT q.vec_id AS query_id, s.label AS nb_label,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                ${cosOf("q", "s")} DESC,
                s.vec_id) AS rnk
            FROM qs q JOIN sd s ON true)
          WHERE rnk <= $k),
        votes AS (SELECT query_id, nb_label, count(*) AS c
                  FROM e GROUP BY 1, 2),
        pred AS (SELECT query_id, nb_label AS pred_label FROM (
            SELECT query_id, nb_label, row_number() OVER (
              PARTITION BY query_id ORDER BY c DESC, nb_label) AS vr
            FROM votes) WHERE vr = 1),
        ev AS (SELECT q.label AS label,
                 count(*) AS n_eval,
                 CAST(sum(CASE WHEN p.pred_label = q.label THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_correct
               FROM qs q JOIN pred p ON p.query_id = q.vec_id
               GROUP BY 1),
        sc AS (SELECT label, count(*) AS n_seed FROM sd GROUP BY 1)
       SELECT label, n_seed, n_eval, n_correct,
              round(n_correct / CAST(n_eval AS DOUBLE), 4) AS acc4
       FROM ev JOIN sc USING (label) ORDER BY label"""
  }

  /** DuckDB oracle for [[graft.operators.Similarity.ivfProbeSweep]]: the
    * static-IVF CTE machinery with one branch per probe setting, all off shared
    * CTEs. */
  def ivfProbeSweepOracle(nQueries: Int = 10, k: Int = 5): String = {
    val cents = staticCentroids()
    val pers = (1 to cents.length).map { p =>
      s"""SELECT $p AS n_probe,
           (SELECT count(*) FROM truth) AS n_truth,
           ${hits("pr", "a", probedCos("pr"),
             s"""(SELECT cell, vec_id AS query_id, embedding AS e_q,
                          nrm AS n_q
                        FROM ranked
                        WHERE crnk <= $p AND vec_id < $nQueries) pr
                  JOIN assigned a ON pr.cell = a.cell
                  WHERE pr.query_id <> a.neighbor_id""", k,
             count = "count(*)")} AS n_hit,
           (SELECT CAST(sum(cc.cnt) AS BIGINT) - $nQueries
            FROM (SELECT cell FROM ranked
                  WHERE crnk <= $p AND vec_id < $nQueries) pp
            JOIN cc USING (cell)) AS n_candidates"""
    }.mkString("\n          UNION ALL\n          ")
    s"""WITH ${normCte("n")},
        cents(cell, cv) AS (VALUES ${rows(cents)}),
        ${rankedCte(norm = "n")},
        ${assignedCte()},
        cc AS (SELECT cell, count(*) AS cnt FROM assigned GROUP BY 1),
        ${truthCte("truth", "n", s"q.vec_id < $nQueries", k)}
       SELECT n_probe, n_truth, n_hit,
         round(n_hit / n_truth, 4) AS recall, n_candidates
       FROM ($pers)
       ORDER BY n_probe"""
  }

  /** DuckDB oracle for [[graft.operators.Similarity.pqShortlistSweep]]: the
    * [[pqTrainedOracle]] machinery (trained codebooks + biases inlined, code
    * pivot, ADC sum in fixed sub-space order) with the candidates ADC-ranked
    * once in a shared CTE and one branch per factor — each filters its
    * rank-prefix, exact-reranks, and scores against the shared brute truth. */
  def pqShortlistSweepOracle(nQueries: Int = 10, k: Int = 5,
                             factors: Seq[Int] = Seq(1, 2, 4, 8)): String = {
    val cbs = withTrainCache(Oracle.vectors())(trainPqCodebooks(_))
    val nSub = cbs.length
    val sub = cbs.head.head.length
    val branches = factors.map { f =>
      s"""SELECT $f AS shortlist_factor,
           (SELECT least(${f.toLong * k}, count(*) - 1) * $nQueries
            FROM embeddings) AS n_rerank,
           (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           ${rerankHits(prefix(f * k), k)} AS n_hit"""
    }.mkString("\n          UNION ALL\n          ")
    s"""WITH ${codebookCtes(cbs)},
        ${pqEncode(nSub, sub, "embeddings")},
        ${normCte()},
        ${shortlist("adcr", "q.vec_id AS query_id", "q.vec_id",
          "embeddings q, codes n, cbl", unprobed(nQueries),
          adc("q.embedding", "cbl", nSub, sub), factors.max * k,
          keepRank = true)},
        ${truthCte("truth", "nv", s"q.vec_id < $nQueries", k)}
       SELECT shortlist_factor, n_rerank, n_truth, n_hit,
         round(n_hit / CAST(n_truth AS DOUBLE), 4) AS recall
       FROM ($branches)
       ORDER BY shortlist_factor"""
  }

  /** The first `n` of each query's ranked shortlist `adcr`. */
  private def prefix(n: Int): String =
    s"(SELECT query_id, neighbor_id FROM adcr WHERE r <= $n)"


  /** DuckDB oracle for [[graft.operators.Similarity.pqShortlistSweepResidual]]:
    * the [[ivfPqResidualTrainedOracle]] machinery (both trained models inlined,
    * double residual subtract, residual encode, centroid-first ADC) with the
    * probed-cell candidates ranked once in a shared CTE and one branch per
    * factor — rank-prefix filter, exact re-rank, hit count vs the shared brute
    * truth, and the measured prefix count as the gather bill. */
  def pqShortlistSweepResidualOracle(nQueries: Int = 10, k: Int = 5,
                                     nProbe: Int = 4,
                                     factors: Seq[Int] = Seq(1, 2, 4, 8))
      : String = {
    val (cents, cbs) = residualModels(16)
    val nSub = cbs.length
    val sub = cbs.head.head.length
    val branches = factors.map { f =>
      s"""SELECT $f AS shortlist_factor,
           (SELECT CAST(count(*) AS BIGINT) FROM adcr
            WHERE r <= ${f * k}) AS n_rerank,
           (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           ${rerankHits(prefix(f * k), k)} AS n_hit"""
    }.mkString("\n          UNION ALL\n          ")
    s"""WITH cents(cell, cv) AS (VALUES ${rows(cents)}),
        ${codebookCtes(cbs)},
        ${normCte()},
        ${rankedCte()},
        $residCte,
        ${pqEncode(nSub, sub, "resid", "re")},
        ${cellCodesCte(cells = "SELECT vec_id, cell FROM resid")},
        ${probesCte(nProbe, s"vec_id < $nQueries", norm = false)},
        ${shortlist("adcr", "p.query_id", "p.query_id",
          "probes p, cents ct, acodes n, cbl", s"ct.cell = p.cell AND $probed",
          adc("p.e_q", "cbl", nSub, sub, Some("ct.cv")), factors.max * k,
          keepRank = true)},
        ${truthCte("truth", "nv", s"q.vec_id < $nQueries", k)}
       SELECT shortlist_factor, n_rerank, n_truth, n_hit,
         round(n_hit / CAST(n_truth AS DOUBLE), 4) AS recall
       FROM ($branches)
       ORDER BY shortlist_factor"""
  }

  /** DuckDB oracle for [[graft.operators.Similarity.pqBitsSweep]]: one trained
    * codebook set per size inlined; shared sub-vector slices and brute truth;
    * per size — the code argmin (keeping s/cv/bias for the three-term 8-dp
    * decimal error), the code pivot, the ADC shortlist, and the exact re-rank
    * hit count, all the proven replay machinery. */
  def pqBitsSweepOracle(sizes: Seq[Int] = Seq(4, 16, 64),
                        nQueries: Int = 10, k: Int = 5): String = {
    val models = withTrainCache(Oracle.vectors())(vc =>
      sizes.map(kk => kk -> trainPqCodebooks(vc, k = kk)))
    val nSub = models.head._2.length
    val sub = models.head._2.head.head.length
    // one codebook, code and shortlist CTE per size over the shared `sub`
    val perSize = models.map { case (sz, cbs) =>
      val name = (base: String) =>
        if (base == "sub") base else s"k${sz}_$base"
      s"""${codebookCtes(cbs, name)},
         ${codeCtes(nSub, name, terms = true)},
         ${shortlist(s"k${sz}_short", "q.vec_id AS query_id", "q.vec_id",
           s"embeddings q, k${sz}_codes n, k${sz}_cbl", unprobed(nQueries),
           adc("q.embedding", s"k${sz}_cbl", nSub, sub), 8 * k)}"""
    }.mkString(",\n        ")
    val branches = models.map { case (sz, cbs) =>
      val bits = 32 - Integer.numberOfLeadingZeros(sz - 1)
      s"""SELECT $sz AS codebook_k, $bits AS bits_per_code,
           ${cbs.length * bits} AS bits_per_vector,
           (SELECT round(CAST(sum(CAST(round(${dot("s", "s")}
              - 2 * ${dot("s", "cv")} - 2 * bias, 8) AS DECIMAL(18,8)))
              AS DOUBLE) / count(*), 6) FROM k${sz}_coded) AS mean_mse6,
           (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           ${rerankHits(s"k${sz}_short", k)} AS n_hit"""
    }.mkString("\n          UNION ALL\n          ")
    s"""WITH ${subCte(nSub, sub, "embeddings")},
        ${normCte()},
        ${truthCte("truth", "nv", s"q.vec_id < $nQueries", k)},
        $perSize
       SELECT codebook_k, bits_per_code, bits_per_vector, mean_mse6,
         n_truth, n_hit,
         round(n_hit / CAST(n_truth AS DOUBLE), 4) AS recall
       FROM ($branches)
       ORDER BY codebook_k"""
  }

  /** DuckDB oracle for [[graft.operators.Similarity.annRecallEvalPq]]: the
    * [[pqTrainedOracle]] and [[ivfPqTrainedOracle]] machinery merged onto
    * SHARED CTEs (one code pivot, one truth) with one counting branch per
    * variant. */
  def annRecallEvalPqOracle(nQueries: Int = 10, k: Int = 5): String = {
    val (cents, cbs, cbsR, rO, cbsO) = withTrainCache(Oracle.vectors()) { vc =>
      val cents = trainCentroids(vc, 16)
      val (rO, cbsO) = trainOpqRotation(vc)
      (cents, trainPqCodebooks(vc),
        trainPqCodebooks(residualAssigned(vc, cents)
          .select(col("vec_id"), col("res").as("embedding"))),
        rO, cbsO)
    }
    val nSub = cbs.length
    val sub = cbs.head.head.length
    val limit = 8 * k
    def short(name: String, from: String, where: String, score: String) =
      if (from.startsWith("probe"))
        shortlist(name, "p.query_id", "p.query_id", from, where, score, limit)
      else
        shortlist(name, "q.vec_id AS query_id", "q.vec_id", from, where,
          score, limit)
    // one branch per variant: shortlist CTE name in, hit count out
    def branch(variant: String, shortCte: String) =
      s"""SELECT '$variant' AS variant,
           (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           ${rerankHits(shortCte, k)} AS n_hit"""
    s"""WITH ${codebookCtes(cbs)},
        ${codebookCtes(cbsR, suffix("r"))},
        ${codebookCtes(cbsO, suffix("o"))},
        ${rotationCtes(rO)},
        ${pqEncode(nSub, sub, "rot", name = suffix("o"))},
        cents(cell, cv) AS (VALUES ${rows(cents)}),
        ${normCte()},
        ${pqEncode(nSub, sub, "embeddings")},
        ${rankedCte()},
        ${cellCodesCte()},
        $residCte,
        ${pqEncode(nSub, sub, "resid", "re", suffix("r"))},
        ${cellCodesCte("acodesr", "codesr", "SELECT vec_id, cell FROM resid")},
        ${probesCte(4, s"vec_id < $nQueries", norm = false)},
        ${cellCodesCte("acodeso", "codeso")},
        probeso AS (SELECT p.cell, p.query_id, rt.embedding AS e_s
                    FROM probes p JOIN rot rt ON rt.vec_id = p.query_id),
        ${truthCte("truth", "nv", s"q.vec_id < $nQueries", k)},
        ${short("short_pq", "embeddings q, codes n, cbl", unprobed(nQueries),
          adc("q.embedding", "cbl", nSub, sub))},
        ${short("short_pq_opq", "rot q, codeso n, cbol", unprobed(nQueries),
          adc("q.embedding", "cbol", nSub, sub))},
        ${short("short_ivfpq", "probes p, acodes n, cbl", probed,
          adc("p.e_q", "cbl", nSub, sub))},
        ${short("short_ivfpq_opq", "probeso p, acodeso n, cbol", probed,
          adc("p.e_s", "cbol", nSub, sub))},
        ${short("short_ivfpq_r", "probes p, cents ct, acodesr n, cbrl",
          s"ct.cell = p.cell AND $probed",
          adc("p.e_q", "cbrl", nSub, sub, Some("ct.cv")))},
        dqz AS (${sq8Dequant()}),
        ${short("short_sq8", "embeddings q JOIN dqz n ON n.vec_id <> q.vec_id",
          s"q.vec_id < $nQueries", sq8Score("q.embedding"))}
       SELECT variant, n_truth, n_hit,
         round(n_hit / CAST(n_truth AS DOUBLE), 4) AS recall
       FROM (
         ${branch("ann_ivfpq", "short_ivfpq")}
         UNION ALL
         ${branch("ann_ivfpq_opq", "short_ivfpq_opq")}
         UNION ALL
         ${branch("ann_ivfpq_residual", "short_ivfpq_r")}
         UNION ALL
         ${branch("ann_pq", "short_pq")}
         UNION ALL
         ${branch("ann_pq_opq", "short_pq_opq")}
         UNION ALL
         ${branch("ann_sq8", "short_sq8")})
       ORDER BY variant"""
  }

  /** DuckDB oracle for [[graft.operators.Similarity.knnTriangles]]: the exact
    * knn CTE + mutual filter + the same oriented triangle join and per-corner
    * attribution. */
  def knnTrianglesOracle(k: Int = 5): String = {
    s"""WITH ${normCte("n")},
        e0 AS (SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                ${cosOf("q", "c")} DESC,
                c.vec_id) AS rnk
            FROM n q JOIN n c ON c.vec_id <> q.vec_id)
          WHERE rnk <= $k),
        mutual AS (SELECT e.query_id AS id_a, e.neighbor_id AS id_b
                   FROM e0 e JOIN e0 r ON r.query_id = e.neighbor_id
                                      AND r.neighbor_id = e.query_id
                   WHERE e.query_id < e.neighbor_id),
        deg AS (SELECT id, count(*) AS degree FROM (
            SELECT id_a AS id FROM mutual
            UNION ALL SELECT id_b FROM mutual) GROUP BY id),
        tris AS (SELECT e1.id_a AS x, e1.id_b AS y, e2.id_b AS z
                 FROM mutual e1
                 JOIN mutual e2 ON e2.id_a = e1.id_a
                               AND e2.id_b > e1.id_b
                 JOIN mutual e3 ON e3.id_a = e1.id_b
                               AND e3.id_b = e2.id_b),
        tpn AS (SELECT id, count(*) AS triangles FROM (
            SELECT x AS id FROM tris
            UNION ALL SELECT y FROM tris
            UNION ALL SELECT z FROM tris) GROUP BY id)
       SELECT v.vec_id,
              CAST(coalesce(d.degree, 0) AS BIGINT) AS degree,
              CAST(coalesce(t.triangles, 0) AS BIGINT) AS triangles,
              CASE WHEN coalesce(d.degree, 0) >= 2
                   THEN round(2.0 * coalesce(t.triangles, 0)
                        / (d.degree * (d.degree - 1)), 4)
                   ELSE 0.0 END AS coeff4
       FROM embeddings v
       LEFT JOIN deg d ON d.id = v.vec_id
       LEFT JOIN tpn t ON t.id = v.vec_id
       ORDER BY v.vec_id"""
  }

  /** DuckDB oracle for [[graft.operators.Similarity.knnCommunities]]: the exact
    * knn edge CTE + mutual filter + recursive-CTE transitive closure + the
    * identical majority/purity arithmetic. */
  def knnCommunitiesOracle(k: Int = 5): String = {
    s"""WITH RECURSIVE ${normCte("n")},
        e0 AS (SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                ${cosOf("q", "c")} DESC,
                c.vec_id) AS rnk
            FROM n q JOIN n c ON c.vec_id <> q.vec_id)
          WHERE rnk <= $k),
        mutual AS (SELECT e.query_id AS id_a, e.neighbor_id AS id_b
                   FROM e0 e JOIN e0 r ON r.query_id = e.neighbor_id
                                      AND r.neighbor_id = e.query_id
                   WHERE e.query_id < e.neighbor_id),
        edges AS (SELECT id_a AS src, id_b AS dst FROM mutual
                  UNION ALL SELECT id_b, id_a FROM mutual),
        reach(id, lbl) AS (
          SELECT vec_id, vec_id FROM embeddings
          UNION
          SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
        lab AS (SELECT id, min(lbl) AS community_id FROM reach GROUP BY 1),
        mem AS (SELECT lab.community_id, emb.label
                FROM lab JOIN embeddings emb ON emb.vec_id = lab.id),
        bl AS (SELECT community_id, label, count(*) AS cnt
               FROM mem GROUP BY 1, 2),
        sel AS (SELECT community_id, label AS majority_label,
                  cnt AS maj_cnt FROM (
            SELECT *, row_number() OVER (PARTITION BY community_id
              ORDER BY cnt DESC, label) AS rn FROM bl) WHERE rn = 1),
        tot AS (SELECT community_id, CAST(sum(cnt) AS BIGINT) AS n_members,
                  count(*) AS n_labels FROM bl GROUP BY 1)
       SELECT t.community_id, t.n_members, t.n_labels, s.majority_label,
         round(s.maj_cnt / CAST(t.n_members AS DOUBLE), 4) AS purity4
       FROM tot t JOIN sel s USING (community_id)
       ORDER BY community_id"""
  }

  /** DuckDB oracle for [[graft.operators.Similarity.ivfDriftImpact]]:
    * per-scenario corpus CTEs, the ranked-assignment replay, brute truth, probe
    * serve, and the probed-cell population sum — unioned. */
  def ivfDriftImpactOracle(nQueries: Int = 10, k: Int = 5,
                           nProbe: Int = 4): String = {
    val qCap = nQueries * 5
    def scen(tag: String, deltaSrc: String) =
      s"""${normCte(s"${tag}_n",
             s"(SELECT * FROM base UNION ALL SELECT * FROM $deltaSrc)")},
         ${rankedCte(s"${tag}_ranked", s"${tag}_n")},
         ${assignedCte(s"${tag}_assigned", s"${tag}_ranked")},
         ${tag}_cc AS (SELECT cell, count(*) AS cnt
           FROM ${tag}_assigned GROUP BY 1),
         ${truthCte(s"${tag}_truth", s"${tag}_n",
           s"q.vec_id % 5 = 0 AND q.vec_id < $qCap", k)}"""
    def sel(tag: String) =
      s"""SELECT '$tag' AS scenario,
           (SELECT CAST(count(*) AS BIGINT) FROM ${tag}_truth) AS n_truth,
           ${hits("pr", "a", probedCos("pr"),
             s"""(SELECT cell, vec_id AS query_id, embedding AS e_q,
                          nrm AS n_q
                        FROM ${tag}_ranked
                        WHERE crnk <= $nProbe AND vec_id % 5 = 0
                          AND vec_id < $qCap) pr
                  JOIN ${tag}_assigned a ON pr.cell = a.cell
                  WHERE pr.query_id <> a.neighbor_id""", k,
             truth = s"${tag}_truth")} AS n_hit,
           (SELECT CAST(sum(cc.cnt) AS BIGINT) - $nQueries
            FROM (SELECT cell FROM ${tag}_ranked
                  WHERE crnk <= $nProbe AND vec_id % 5 = 0
                    AND vec_id < $qCap) pp
            JOIN ${tag}_cc cc USING (cell)) AS n_candidates"""
    s"""WITH cents(cell, cv) AS (VALUES ${rows(staticCentroids())}),
        base AS (SELECT vec_id, embedding FROM embeddings
                 WHERE vec_id % 5 <> 0),
        delta_stable AS (SELECT vec_id, embedding FROM embeddings
                         WHERE vec_id % 5 = 0),
        delta_shifted AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x + 0.5 AS FLOAT))
              AS embedding
          FROM embeddings WHERE vec_id % 5 = 0),
        ${scen("stable", "delta_stable")},
        ${scen("shifted", "delta_shifted")}
       SELECT scenario, n_truth, n_hit,
         round(n_hit / CAST(n_truth AS DOUBLE), 4) AS recall4,
         n_candidates,
         round(n_candidates / CAST($nQueries AS DOUBLE), 2)
           AS cand_per_query2
       FROM (${sel("stable")} UNION ALL ${sel("shifted")})
       ORDER BY scenario"""
  }

  /** DuckDB oracle for [[graft.operators.Similarity.ivfRebuild]]: the pre phase
    * replays the static-quantizer drift + impact formulas over the drifted
    * corpus (baseline = the base-only rows of the same ranked assignment); the
    * post phase replays them under the INLINED retrained centroids, with
    * baseline = the corpus itself (the reset semantics, so every PSI term
    * cancels to 0 exactly). Training is taken as given, the
    * [[ivfTrainedOracle]] doctrine: deterministic seeds + per-iteration 1e-6
    * mean quantization make the k-means replayable from either the in-memory
    * union or the artifact's parquet rows (float storage is exact). */
  def ivfRebuildOracle(nQueries: Int = 10, k: Int = 5, nProbe: Int = 4,
                       nCells: Int = 16): String = {
    val v = Oracle.vectors().select(col("vec_id"), col("embedding"))
    val shifted = v.filter(col("vec_id") % 5 === 0).select(col("vec_id"),
      transform(col("embedding"), x => x + lit(0.5f)).as("embedding"))
    val postCents = trainCentroids(
      v.filter(col("vec_id") % 5 =!= 0).unionByName(shifted), nCells)
    val qCap = nQueries * 5
    // ranked assignment of the drifted corpus under one centroid table
    def ranked(tag: String, cents: String) =
      s"""${tag}_ranked AS (
           SELECT v.vec_id, v.embedding, c.cell,
             ${dot("v.embedding", "c.cv")} AS dp,
             sqrt(${dot("v.embedding", "v.embedding")}) AS nrm,
             row_number() OVER (PARTITION BY v.vec_id ORDER BY
               ${dot("v.embedding", "c.cv")} DESC, c.cell) AS crnk
           FROM cur v, $cents c)"""
    // per-cell (cnt, dsum) stats over a crnk=1 slice
    def stat(tag: String, name: String, pre: String, where: String) =
      s"""${name} AS (
           SELECT cell, CAST(count(*) AS BIGINT) AS ${pre}_cnt,
             sum(CAST(round(1.0 - dp / nrm, 8) AS DECIMAL(18,8)))
               AS ${pre}_dsum
           FROM ${tag}_ranked WHERE crnk = 1$where GROUP BY cell)"""
    // PSI of cur vs baseline (the ivfDriftOracle formulas)
    def psi(tag: String) =
      s"""${tag}_j AS (SELECT b.base_cnt, c.cur_cnt
           FROM ${tag}_bstat b FULL OUTER JOIN ${tag}_cstat c
             ON b.cell = c.cell),
         ${tag}_tot AS (SELECT CAST(sum(base_cnt) AS BIGINT) AS n_base,
             CAST(sum(cur_cnt) AS BIGINT) AS n_cur FROM ${tag}_j),
         ${tag}_summary AS (SELECT sum(term) AS psi_sum,
             CAST(sum(CASE WHEN base_cnt IS NULL OR cur_cnt IS NULL
               THEN 1 ELSE 0 END) AS BIGINT) AS n_cells_onesided
           FROM (SELECT base_cnt, cur_cnt,
             CASE WHEN base_cnt IS NOT NULL AND cur_cnt IS NOT NULL THEN
               CAST(round(
                 (cur_cnt / CAST(n_cur AS DOUBLE)
                   - base_cnt / CAST(n_base AS DOUBLE))
                 * ln((cur_cnt / CAST(n_cur AS DOUBLE))
                   / (base_cnt / CAST(n_base AS DOUBLE))), 8)
                 AS DECIMAL(18,8)) END AS term
             FROM ${tag}_j, ${tag}_tot))"""
    // brute truth + probed-cell candidate bill over the same ranked CTE
    def impact(tag: String) =
      s"""${topKIds(s"${tag}_truth", ("q.vec_id AS query_id", "q.vec_id"),
             ("c.vec_id AS neighbor_id", "c.vec_id"), cosOf("q", "c"),
             s"""${tag}_ranked q
             JOIN ${tag}_ranked c ON c.crnk = 1 AND c.vec_id <> q.vec_id
             WHERE q.crnk = 1 AND q.vec_id % 5 = 0 AND q.vec_id < $qCap""",
             k)},
         ${tag}_cc AS (SELECT cell, count(*) AS cnt
           FROM ${tag}_ranked WHERE crnk = 1 GROUP BY 1)"""
    def sel(tag: String) =
      s"""SELECT '$tag' AS phase,
           round(CAST((SELECT psi_sum FROM ${tag}_summary) AS DOUBLE), 4)
             AS psi4,
           coalesce(CAST((SELECT psi_sum FROM ${tag}_summary) AS DOUBLE),
             0.0) > 0.2 AS is_shifted,
           (SELECT n_cells_onesided FROM ${tag}_summary)
             AS n_cells_onesided,
           (SELECT CAST(count(*) AS BIGINT) FROM ${tag}_truth) AS n_truth,
           ${hits("pr", "a", probedCos("pr"),
             s"""(SELECT cell, vec_id AS query_id,
                          embedding AS e_q, nrm AS n_q
                        FROM ${tag}_ranked
                        WHERE crnk <= $nProbe AND vec_id % 5 = 0
                          AND vec_id < $qCap) pr
                  JOIN (SELECT cell, vec_id AS neighbor_id,
                          embedding AS e_c, nrm AS n_c
                        FROM ${tag}_ranked WHERE crnk = 1) a
                    ON pr.cell = a.cell
                  WHERE pr.query_id <> a.neighbor_id""", k,
             truth = s"${tag}_truth")} AS n_hit,
           (SELECT CAST(sum(cc.cnt) AS BIGINT) - $nQueries
            FROM (SELECT cell FROM ${tag}_ranked
                  WHERE crnk <= $nProbe AND vec_id % 5 = 0
                    AND vec_id < $qCap) pp
            JOIN ${tag}_cc cc USING (cell)) AS n_candidates"""
    s"""WITH cents_pre(cell, cv) AS (VALUES ${rows(staticCentroids())}),
        cents_post(cell, cv) AS (VALUES ${rows(postCents)}),
        cur AS (SELECT vec_id, embedding FROM embeddings
                WHERE vec_id % 5 <> 0
                UNION ALL
                SELECT vec_id,
                  list_transform(embedding, x -> CAST(x + 0.5 AS FLOAT))
                    AS embedding
                FROM embeddings WHERE vec_id % 5 = 0),
        ${ranked("pre", "cents_pre")},
        ${ranked("post", "cents_post")},
        ${stat("pre", "pre_bstat", "base", " AND vec_id % 5 <> 0")},
        ${stat("pre", "pre_cstat", "cur", "")},
        ${stat("post", "post_cstat", "cur", "")},
        post_bstat AS (SELECT cell, cur_cnt AS base_cnt,
            cur_dsum AS base_dsum FROM post_cstat),
        ${psi("pre")},
        ${psi("post")},
        ${impact("pre")},
        ${impact("post")}
       SELECT phase, psi4, is_shifted, n_cells_onesided, n_truth, n_hit,
         round(n_hit / CAST(n_truth AS DOUBLE), 4) AS recall4,
         n_candidates,
         round(n_candidates / CAST($nQueries AS DOUBLE), 2)
           AS cand_per_query2
       FROM (${sel("pre")} UNION ALL ${sel("post")})
       ORDER BY phase"""
  }

  /** DuckDB oracle for [[graft.operators.Similarity.ivfDrift]]: centroids
    * inlined as VALUES, the ranked-assignment replay of [[ivfStaticOracle]],
    * same 8-dp decimal terms, same one-sided-cell accounting, both scenarios
    * replayed and unioned. */
  def ivfDriftOracle(): String = {
    // ranked-assignment replay + per-cell count/distance rollup for one
    // corpus CTE; columns named by `pre` so base stats join two
    // scenario stats without collisions
    def stats(src: String, tag: String, pre: String) =
      s"""${tag}_scored AS (
           SELECT v.vec_id, c.cell,
             ${dot("v.embedding", "c.cv")} AS dp,
             sqrt(${dot("v.embedding", "v.embedding")}) AS nrm,
             row_number() OVER (PARTITION BY v.vec_id ORDER BY
               ${dot("v.embedding", "c.cv")} DESC, c.cell) AS crnk
           FROM $src v, cents c),
         ${tag}_stat AS (
           SELECT cell, CAST(count(*) AS BIGINT) AS ${pre}_cnt,
             sum(CAST(round(1.0 - dp / nrm, 8) AS DECIMAL(18,8)))
               AS ${pre}_dsum
           FROM ${tag}_scored WHERE crnk = 1 GROUP BY cell)"""
    // per-scenario join/totals/shares/summary over base_stat + the
    // scenario's cur stat
    def scen(tag: String) =
      s"""${tag}_j AS (SELECT coalesce(b.cell, c.cell) AS cell,
             b.base_cnt, b.base_dsum, c.cur_cnt, c.cur_dsum
           FROM base_stat b FULL OUTER JOIN ${tag}_stat c
             ON b.cell = c.cell),
         ${tag}_tot AS (SELECT CAST(sum(base_cnt) AS BIGINT) AS n_base,
             CAST(sum(cur_cnt) AS BIGINT) AS n_cur,
             sum(base_dsum) AS bd, sum(cur_dsum) AS cd FROM ${tag}_j),
         ${tag}_shares AS (SELECT cell, base_cnt, cur_cnt,
             base_cnt / CAST(n_base AS DOUBLE) AS base_share,
             cur_cnt / CAST(n_cur AS DOUBLE) AS cur_share,
             CASE WHEN base_cnt IS NOT NULL AND cur_cnt IS NOT NULL THEN
               CAST(round(
                 (cur_cnt / CAST(n_cur AS DOUBLE)
                   - base_cnt / CAST(n_base AS DOUBLE))
                 * ln((cur_cnt / CAST(n_cur AS DOUBLE))
                   / (base_cnt / CAST(n_base AS DOUBLE))), 8)
                 AS DECIMAL(18,8)) END AS term
           FROM ${tag}_j, ${tag}_tot),
         ${tag}_summary AS (SELECT sum(term) AS psi_sum,
             CAST(sum(CASE WHEN base_cnt IS NULL OR cur_cnt IS NULL
               THEN 1 ELSE 0 END) AS BIGINT) AS n_cells_onesided
           FROM ${tag}_shares)"""
    def sel(tag: String, label: String) =
      s"""SELECT '$label' AS scenario, CAST(s.cell AS INTEGER) AS cell,
           coalesce(s.base_cnt, 0) AS base_cnt,
           coalesce(s.cur_cnt, 0) AS cur_cnt,
           round(s.base_share, 6) AS base_share6,
           round(s.cur_share, 6) AS cur_share6,
           CAST(s.term AS DOUBLE) AS term8,
           round(CAST(m.psi_sum AS DOUBLE), 4) AS psi4,
           m.n_cells_onesided,
           round(CAST(t.bd AS DOUBLE) / t.n_base, 6) AS base_mdist6,
           round(CAST(t.cd AS DOUBLE) / t.n_cur, 6) AS cur_mdist6,
           coalesce(CAST(m.psi_sum AS DOUBLE), 0.0) > 0.2 AS is_shifted
         FROM ${tag}_shares s, ${tag}_summary m, ${tag}_tot t"""
    s"""WITH cents(cell, cv) AS (VALUES ${rows(staticCentroids())}),
        base AS (SELECT vec_id, embedding FROM embeddings
                 WHERE vec_id % 5 <> 0),
        delta AS (SELECT vec_id, embedding FROM embeddings
                  WHERE vec_id % 5 = 0),
        cur_stable AS (SELECT * FROM base UNION ALL SELECT * FROM delta),
        cur_shifted AS (SELECT * FROM base UNION ALL
          SELECT vec_id,
            list_transform(embedding, x -> CAST(x + 0.5 AS FLOAT))
              AS embedding
          FROM delta),
        ${stats("base", "base", "base")},
        ${stats("cur_stable", "stable", "cur")},
        ${stats("cur_shifted", "shifted", "cur")},
        ${scen("stable")},
        ${scen("shifted")}
       ${sel("stable", "stable")}
       UNION ALL
       ${sel("shifted", "shifted")}
       ORDER BY scenario, cell"""
  }

  /** DuckDB replay of [[graft.operators.Similarity.pqDrift]]: trained codebooks
    * + biases inlined (the [[pqTrainedOracle]] stance), per-corpus sub-vector
    * explode, code argmin (biased dot DESC, code ASC), the SAME three-term 8-dp
    * decimal error, and the shared-baseline join per scenario. */
  def pqDriftOracle(staleRatio: Double = 1.5): String = {
    val v = Oracle.vectors().select(col("vec_id"), col("embedding"))
    val cbs = withTrainCache(v.filter(col("vec_id") % 5 =!= 0))(
      trainPqCodebooks(_))
    val nSub = cbs.length
    val sub = cbs.head.head.length
    val cbRows = codebookRows(cbs)
    def stats(src: String, tag: String, pre: String) =
      s"""${tag}_sub AS (SELECT v.vec_id, mm.m AS m,
             v.embedding[mm.m * $sub + 1 : (mm.m + 1) * $sub] AS s
           FROM $src v, (SELECT unnest(range(0, $nSub)) AS m) mm),
         ${tag}_coded AS (SELECT vec_id, m, s, cv, bias FROM (
             SELECT t.vec_id, t.m, t.s, cb.cv, cb.bias,
               row_number() OVER (PARTITION BY t.vec_id, t.m
                 ORDER BY (${dot("t.s", "cb.cv")} + cb.bias) DESC,
                   cb.kk) AS r
             FROM ${tag}_sub t JOIN cb ON cb.m = t.m) WHERE r = 1),
         ${tag}_stat AS (SELECT m, CAST(count(*) AS BIGINT) AS ${pre}_cnt,
             sum(CAST(round(${dot("s", "s")} - 2 * ${dot("s", "cv")}
               - 2 * bias, 8) AS DECIMAL(18,8))) AS ${pre}_esum
           FROM ${tag}_coded GROUP BY m)"""
    def scen(tag: String) =
      s"""${tag}_row AS (SELECT b.m, b.base_cnt, c.cur_cnt,
             round(CAST(b.base_esum AS DOUBLE) / b.base_cnt, 6)
               AS base_mse6,
             round(CAST(c.cur_esum AS DOUBLE) / c.cur_cnt, 6) AS cur_mse6
           FROM base_stat b JOIN ${tag}_stat c USING (m))"""
    def sel(tag: String, label: String) =
      s"""SELECT '$label' AS scenario, CAST(m AS INTEGER) AS m,
           base_cnt, cur_cnt, base_mse6, cur_mse6,
           round(cur_mse6 / base_mse6, 4) AS ratio4,
           round(cur_mse6 / base_mse6, 4) > $staleRatio AS is_stale
         FROM ${tag}_row"""
    s"""WITH cb(m, kk, cv, bias) AS (VALUES $cbRows),
        base AS (SELECT vec_id, embedding FROM embeddings
                 WHERE vec_id % 5 <> 0),
        delta AS (SELECT vec_id, embedding FROM embeddings
                  WHERE vec_id % 5 = 0),
        cur_stable AS (SELECT * FROM base UNION ALL SELECT * FROM delta),
        cur_shifted AS (SELECT * FROM base UNION ALL
          SELECT vec_id,
            list_transform(embedding, x -> CAST(x + 0.5 AS FLOAT))
              AS embedding
          FROM delta),
        ${stats("base", "base", "base")},
        ${stats("cur_stable", "stable", "cur")},
        ${stats("cur_shifted", "shifted", "cur")},
        ${scen("stable")},
        ${scen("shifted")}
       ${sel("stable", "stable")}
       UNION ALL
       ${sel("shifted", "shifted")}
       ORDER BY scenario, m"""
  }

  /** Oracle for [[graft.operators.Similarity.annIvfSq8Indexed]]: the
    * [[ivfSq8TrainedOracle]] replay over the STATIC quantizer the artifact
    * build pins. */
  def ivfSq8StaticOracle(nProbe: Int = 4, nQueries: Int = 10, k: Int = 5,
                         shortlistFactor: Int = 8): String =
    ann(Ivf(staticCentroids(), nProbe), Sq8, nQueries, k, shortlistFactor)

  /** DuckDB replay for [[graft.operators.Similarity.annMmrSq8Indexed]]:
    * [[mmrOracleOver]]'s greedy rounds fed by the sq8 two-stage shortlist —
    * static-IVF assignment/probe CTEs, the shared sq8 dequant body scoring the
    * pre-shortlist, exact rescore cut to f·k — every stage of the served form
    * exact. */
  def mmrSq8IndexedOracle(nProbe: Int = 4, nQueries: Int = 10,
                          k: Int = 5, shortlistFactor: Int = 8,
                          lambda: Double = 0.7,
                          preFactor: Int = 2): String = {
    mmrOracleOver(
      s"""cents(cell, cv) AS (VALUES ${rows(staticCentroids())}),
        ${rankedCte()},
        ${assignedCte(id = "cand_id")},
        dq AS (${sq8Dequant()}),
        acand AS (SELECT a.cell, a.cand_id, d.d,
                    sqrt(${dot("d.d", "d.d")}) AS n_d
                  FROM assigned a JOIN dq d ON d.vec_id = a.cand_id),
        ${probesCte(nProbe, s"vec_id < $nQueries", norm = true)},
        pre AS (SELECT query_id, cand_id FROM (
            SELECT p.query_id, n.cand_id,
              row_number() OVER (PARTITION BY p.query_id ORDER BY
                (${dot("p.e_q", "n.d")} / (p.n_q * n.n_d)) DESC,
                n.cand_id) AS r
            FROM probes p JOIN acand n ON n.cell = p.cell
            WHERE n.cand_id <> p.query_id)
          WHERE r <= ${preFactor * shortlistFactor * k}),
        ${mmrRescore(shortlistFactor * k)}""", k, lambda)
  }

  /** DuckDB replay for [[graft.operators.Similarity.annMmrPqIndexed]]:
    * [[mmrOracleOver]]'s greedy rounds fed by the ADC two-stage shortlist —
    * both trained models inlined (the [[ivfPqTrainedOracle]] stance), coarse
    * assignment / probing / PQ encoding / ADC pre-shortlist / exact rescore cut
    * to f·k, every stage of the served form exact. */
  def mmrPqIndexedOracle(nCells: Int = 16, nProbe: Int = 4,
                         nQueries: Int = 10, k: Int = 5,
                         shortlistFactor: Int = 8,
                         lambda: Double = 0.7,
                         preFactor: Int = 2): String = {
    val v = Oracle.vectors()
    val (cents, cbs) =
      withTrainCache(v)(vc => (trainCentroids(vc, nCells),
        trainPqCodebooks(vc)))
    val nSub = cbs.length
    val sub = cbs.head.head.length
    mmrOracleOver(
      s"""cents(cell, cv) AS (VALUES ${rows(cents)}),
        ${codebookCtes(cbs)},
        ${rankedCte()},
        ${pqEncode(nSub, sub, "embeddings", materialize = true)},
        ${cellCodesCte()},
        ${probesCte(nProbe, s"vec_id < $nQueries", norm = false)},
        pre AS MATERIALIZED (SELECT query_id, cand_id FROM (
            SELECT p.query_id, n.vec_id AS cand_id,
              row_number() OVER (PARTITION BY p.query_id ORDER BY
                (${adc("p.e_q", "cbl", nSub, sub)}) DESC, n.vec_id) AS r
            FROM probes p, acodes n, cbl
            WHERE $probed)
          WHERE r <= ${preFactor * shortlistFactor * k}),
        -- MATERIALIZED: the greedy skeleton references short/pairs once
        -- per unrolled round; inlining would re-evaluate the full PQ
        -- encode + ADC chain 2k+ times and exhaust the checker's memory
        ${mmrRescore(shortlistFactor * k, materialize = true)}""",
      k, lambda)
  }

  /** `short(query_id, cand_id, cosq)`: the exact re-rank of
    * pre-shortlist `pre`, cut to `limit` per query. */
  private def mmrRescore(limit: Int, materialize: Boolean = false)
      : String =
    s"""short AS${if (materialize) " MATERIALIZED" else ""} (SELECT query_id, cand_id, cosq FROM (
            SELECT pr.query_id, pr.cand_id,
              ${cosOf("qv", "cv")} AS cosq,
              row_number() OVER (PARTITION BY pr.query_id ORDER BY
                ${cosOf("qv", "cv")} DESC, pr.cand_id) AS r
            FROM pre pr
            JOIN nv qv ON qv.vec_id = pr.query_id
            JOIN nv cv ON cv.vec_id = pr.cand_id)
          WHERE r <= $limit)"""

  /** DuckDB replay for [[graft.operators.Similarity.annMmr]] — static SQL with
    * the k greedy rounds UNROLLED (sel1..selK + cumulative selected sets): the
    * same shortlist/pair arithmetic, the same `λ·cosq − (1−λ)·max` formula with
    * the same literal λ, the same (mmr DESC, id) tie-break. */
  def mmrOracle(nQueries: Int = 10, k: Int = 5, shortlistFactor: Int = 8,
                lambda: Double = 0.7): String = {
    mmrOracleOver(
      s"""short AS (SELECT query_id, cand_id, cosq FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              ${cosOf("q", "c")} AS cosq,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                ${cosOf("q", "c")} DESC,
                c.vec_id) AS r
            FROM nv q JOIN nv c ON c.vec_id <> q.vec_id
            WHERE q.vec_id < $nQueries)
          WHERE r <= ${shortlistFactor * k})""", k, lambda)
  }

  /** DuckDB replay for [[graft.operators.Similarity.annMmrIndexed]]:
    * [[mmrOracle]]'s greedy rounds over the IVF-PROBED shortlist — the
    * [[ivfStaticOracle]] assignment CTEs (static centroid VALUES, argmax
    * assignment, nProbe probes) feeding the same top-(f·k) ranking, so every
    * stage of the served form is replayed exactly. */
  def mmrIndexedOracle(nProbe: Int = 4, nQueries: Int = 10, k: Int = 5,
                       shortlistFactor: Int = 8,
                       lambda: Double = 0.7): String = {
    mmrOracleOver(
      s"""cents(cell, cv) AS (VALUES ${rows(staticCentroids())}),
        ${rankedCte()},
        ${assignedCte(id = "cand_id")},
        ${probesCte(nProbe, s"vec_id < $nQueries", norm = true)},
        short AS (SELECT query_id, cand_id, cosq FROM (
            SELECT p.query_id, a.cand_id,
              ${probedCos()} AS cosq,
              row_number() OVER (PARTITION BY p.query_id ORDER BY
                ${probedCos()} DESC,
                a.cand_id) AS r
            FROM probes p JOIN assigned a ON p.cell = a.cell
            WHERE p.query_id <> a.cand_id)
          WHERE r <= ${shortlistFactor * k})""", k, lambda)
  }

  /** The shared MMR-oracle skeleton: `nv` (normed vectors) + the
    * caller's shortlist CTE chain (must define `short(query_id,
    * cand_id, cosq)`) + the pair stage + the k UNROLLED greedy rounds —
    * one definition, so the brute and artifact-served replays cannot
    * drift in the selection arithmetic. */
  private def mmrOracleOver(shortCtes: String, k: Int,
                            lambda: Double): String = {
    val lam = lambda.toString
    val oneMinus = (1.0 - lambda).toString
    // k = 1 has no later rounds: emit NO trailing CTE (a dangling
    // comma after sel1 is a parser error, not a wrong answer)
    val rounds = (2 to k).map { r =>
      s"""cum${r - 1} AS (${(1 until r)
          .map(i => s"SELECT query_id, cand_id FROM sel$i")
          .mkString(" UNION ALL ")}),
        sel$r AS (SELECT query_id, cand_id, cosq, mmr FROM (
            SELECT s.query_id, s.cand_id, s.cosq,
              ($lam * s.cosq - $oneMinus * m.msim) AS mmr,
              row_number() OVER (PARTITION BY s.query_id ORDER BY
                ($lam * s.cosq - $oneMinus * m.msim) DESC, s.cand_id) AS r
            FROM short s
            JOIN (SELECT p.query_id, p.a_id, max(p.cab) AS msim
                  FROM pairs p
                  JOIN cum${r - 1} c ON c.query_id = p.query_id
                                    AND c.cand_id = p.b_id
                  GROUP BY 1, 2) m
              ON m.query_id = s.query_id AND m.a_id = s.cand_id
            WHERE NOT EXISTS (SELECT 1 FROM cum${r - 1} x
                              WHERE x.query_id = s.query_id
                                AND x.cand_id = s.cand_id))
          WHERE r = 1)"""
    }.mkString(",\n        ")
    val unionAll = (1 to k)
      .map(r => s"SELECT query_id, cand_id, $r AS rnk, cosq, mmr FROM sel$r")
      .mkString(" UNION ALL ")
    s"""WITH ${normCte()},
        $shortCtes,
        pairs AS (SELECT a.query_id, a.cand_id AS a_id, b.cand_id AS b_id,
            ${cosOf("ea", "eb")} AS cab
          FROM short a
          JOIN short b ON b.query_id = a.query_id
                      AND b.cand_id <> a.cand_id
          JOIN nv ea ON ea.vec_id = a.cand_id
          JOIN nv eb ON eb.vec_id = b.cand_id),
        sel1 AS (SELECT query_id, cand_id, cosq,
            ($lam * cosq - $oneMinus * 0.0) AS mmr FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY
              ($lam * cosq - $oneMinus * 0.0) DESC, cand_id) AS r
            FROM short)
          WHERE r = 1)${if (rounds.isEmpty) "" else ",\n        " + rounds}
        SELECT query_id, cand_id AS neighbor_id, CAST(rnk AS INTEGER)
            AS rnk,
          round(cosq, 6) AS cos6, round(mmr, 6) AS mmr6
        FROM ($unionAll)
        ORDER BY query_id, rnk"""
  }

  /** Oracle for [[graft.operators.Similarity.semanticDedupIncremental]]:
    * trained centroids inlined, ranked assignment, then the same order-free
    * pairwise rule — EXISTS a same-cell cosine ≥ tau neighbor that is base or a
    * smaller delta id. */
  def semanticDedupIncrementalOracle(nCells: Int = 16,
                                     tau: Double = 0.4): String = {
    val cents = withTrainCache(Oracle.vectors())(
      trainCentroids(_, nCells))
    s"""WITH ${normCte("n")},
        cents(cell, cv) AS (VALUES ${rows(cents)}),
        assigned AS (SELECT vec_id, embedding, nrm, cell,
                            vec_id % 5 = 0 AS is_base FROM (
          SELECT v.vec_id, v.embedding, v.nrm, c.cell,
            row_number() OVER (PARTITION BY v.vec_id ORDER BY
              ${dot("v.embedding", "c.cv")} DESC, c.cell) AS crnk
          FROM n v, cents c) WHERE crnk = 1),
        dup AS (SELECT a.vec_id
                FROM assigned a JOIN assigned b
                  ON a.cell = b.cell AND NOT a.is_base
                  AND (b.is_base OR b.vec_id < a.vec_id)
                  AND a.vec_id <> b.vec_id
                WHERE ${dot("a.embedding", "b.embedding")}
                        / (a.nrm * b.nrm) >= $tau
                GROUP BY 1)
        SELECT a.vec_id, a.cell,
               CASE WHEN dup.vec_id IS NOT NULL THEN 'near'
                    ELSE 'kept' END AS decision
        FROM assigned a LEFT JOIN dup USING (vec_id)
        WHERE NOT a.is_base
        ORDER BY a.vec_id"""
  }

  /** Oracle for [[graft.operators.Similarity.decontaminateSemantic]]: trained
    * centroids inlined; both splits' ranked assignment, the probe join, the tau
    * gate, and the (cos DESC, id ASC) top-match replayed exactly. */
  def decontaminateSemanticOracle(nCells: Int = 16, nProbe: Int = 4,
                                  tau: Double = 0.4): String = {
    val cents = trainCentroids(Oracle.vectors(), nCells)
    s"""WITH ${normCte("n")},
        cents(cell, cv) AS (VALUES ${rows(cents)}),
        ${rankedCte(norm = "n")},
        corpus AS (SELECT vec_id, embedding, nrm, cell FROM ranked
                   WHERE crnk = 1 AND vec_id % 10 <> 0),
        probes AS (SELECT vec_id AS eval_id, embedding, nrm, cell
                   FROM ranked WHERE crnk <= $nProbe AND vec_id % 10 = 0),
        hits AS (SELECT c.vec_id, p.eval_id,
                   ${cosOf("c", "p")}
                     AS cos
                 FROM corpus c JOIN probes p ON p.cell = c.cell
                 WHERE ${dot("c.embedding", "p.embedding")}
                         / (c.nrm * p.nrm) >= $tau),
        verdicts AS (SELECT vec_id,
                       CAST(count(*) AS BIGINT) AS n_matches,
                       first(eval_id ORDER BY cos DESC, eval_id) AS eval_id,
                       round(max(cos), 6) AS max_cos6
                     FROM hits GROUP BY 1)
        SELECT c.vec_id, v.n_matches IS NOT NULL AS contaminated,
               coalesce(v.n_matches, 0) AS n_matches,
               v.eval_id, v.max_cos6
        FROM corpus c LEFT JOIN verdicts v ON v.vec_id = c.vec_id
        ORDER BY c.vec_id"""
  }

  /** Oracle for [[graft.operators.Similarity.semanticDedup]]: trained centroids
    * inlined, ranked assignment + within-cell pairwise replay. */
  def semanticDedupOracle(nCells: Int = 16, tau: Double = 0.4): String = {
    val cents = trainCentroids(Oracle.vectors(), nCells)
    s"""WITH ${normCte("n")},
        cents(cell, cv) AS (VALUES ${rows(cents)}),
        assigned AS (SELECT vec_id, embedding, nrm, cell FROM (
          SELECT v.vec_id, v.embedding, v.nrm, c.cell,
            row_number() OVER (PARTITION BY v.vec_id ORDER BY
              ${dot("v.embedding", "c.cv")} DESC, c.cell) AS crnk
          FROM n v, cents c) WHERE crnk = 1),
        dup AS (SELECT b.vec_id, min(a.vec_id) AS dup_of
                FROM assigned a JOIN assigned b
                  ON a.cell = b.cell AND a.vec_id < b.vec_id
                WHERE ${dot("a.embedding", "b.embedding")}
                        / (a.nrm * b.nrm) >= $tau
                GROUP BY 1)
        SELECT s.vec_id, s.cell, dup.dup_of IS NOT NULL AS dropped,
               dup.dup_of
        FROM assigned s LEFT JOIN dup ON dup.vec_id = s.vec_id
        ORDER BY s.vec_id"""
  }

  /** DuckDB oracle for [[graft.operators.Similarity.deconRecallEval]]: trained
    * centroids inlined; ranked probe assignment, the reachable-pair frame, the
    * bounded brute truth, and every (n_probe, tau) counting row replayed. */
  def deconRecallEvalOracle(nCells: Int = 16,
                            probeCounts: Seq[Int] = Seq(1, 2, 4),
                            taus: Seq[Double] = Seq(0.3, 0.4),
                            nEval: Int = 50): String = {
    val cents = trainCentroids(Oracle.vectors(), nCells)
    val maxProbe = math.min(probeCounts.max, cents.length)
    val gridRows = probeCounts.flatMap(np =>
      taus.map(tau => s"($np, $tau)")).mkString(", ")
    val minTau = taus.min
    s"""WITH cents(cell, cv) AS (VALUES ${rows(cents)}),
        ${normCte()},
        ${rankedCte()},
        corpus AS (SELECT vec_id, embedding, nrm, cell FROM ranked
                   WHERE crnk = 1 AND vec_id % 10 <> 0),
        evals AS (SELECT vec_id AS eval_id, embedding, nrm
                  FROM nv WHERE vec_id % 10 = 0
                    AND vec_id < ${nEval * 10}),
        probes AS (SELECT vec_id AS eval_id, embedding, nrm, cell,
                     crnk AS probe_rank
                   FROM ranked WHERE crnk <= $maxProbe
                     AND vec_id % 10 = 0 AND vec_id < ${nEval * 10}),
        pairs AS (SELECT c.vec_id, p.probe_rank,
                    ${cosOf("c", "p")}
                      AS cos
                  FROM corpus c JOIN probes p ON p.cell = c.cell
                  WHERE ${dot("c.embedding", "p.embedding")}
                          / (c.nrm * p.nrm) >= $minTau),
        brute AS (SELECT c.vec_id,
                    ${cosOf("c", "e")}
                      AS cos
                  FROM corpus c, evals e
                  WHERE ${dot("c.embedding", "e.embedding")}
                          / (c.nrm * e.nrm) >= $minTau),
        grid(n_probe, tau) AS (VALUES $gridRows)
       SELECT g.n_probe, CAST(g.tau AS DOUBLE) AS tau,
         (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) FROM brute
          WHERE cos >= g.tau) AS n_brute,
         (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) FROM pairs
          WHERE probe_rank <= g.n_probe AND cos >= g.tau) AS n_flagged,
         round((SELECT count(DISTINCT vec_id) FROM pairs
                WHERE probe_rank <= g.n_probe AND cos >= g.tau)
           / CAST((SELECT count(DISTINCT vec_id) FROM brute
                   WHERE cos >= g.tau) AS DOUBLE), 4) AS recall4
       FROM grid g
       ORDER BY g.n_probe, g.tau"""
  }

  /** DuckDB oracle for [[graft.operators.Similarity.annLsh]]. The hyperplanes
    * are FIXED (seeded), so the whole pipeline — sign bits, banding, candidate
    * pairs, cosine, ranking — is static SQL: the planes are inlined as list
    * literals (Double.toString round-trips exactly, and the left-fold dot
    * contract matches `VectorFunctions.dot` bit-for-bit, as already proven by
    * the embedding_dedup oracle). This flips ann_lsh from a weak rows-only
    * check to a full value-hash oracle match. */
  def lshOracle(nQueries: Int = 10, k: Int = 5): String = {
    val planes = hyperplanes(16, 64)
    val bitExprs = planes.map { p =>
      val lit = p.mkString("[", ", ", "]")
      s"CASE WHEN ${dot("embedding", lit)} > 0 THEN '1' ELSE '0' END"
    }.mkString("concat(", ", ", ")")
    s"""WITH ${normCte("n")},
        bits AS (SELECT vec_id, embedding, nrm, $bitExprs AS bits FROM n),
        banded AS (
          SELECT vec_id, b.b || ':' || substring(bits, b.b * 2 + 1, 2)
                   AS band_key
          FROM bits, (SELECT unnest(range(0, 8)) AS b) b),
        pair_ids AS (
          SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
          FROM banded q JOIN banded c ON q.band_key = c.band_key
          WHERE q.vec_id < $nQueries AND q.vec_id <> c.vec_id)
        SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cos6 FROM (
          SELECT p.query_id, p.neighbor_id,
            ${cosOf("qv", "cv")} AS cos,
            CAST(row_number() OVER (PARTITION BY p.query_id ORDER BY
              ${cosOf("qv", "cv")} DESC,
              p.neighbor_id) AS INTEGER) AS rnk
          FROM pair_ids p
          JOIN bits qv ON qv.vec_id = p.query_id
          JOIN bits cv ON cv.vec_id = p.neighbor_id)
        WHERE rnk <= $k ORDER BY query_id, rnk"""
  }

  /** DuckDB oracle for [[graft.operators.Similarity.annIvfStatic]]: the static
    * centroids inlined; assignment and probing replayed with a ranked 16-way
    * expansion (the oracle may brute-force what the engine does map-only). */
  def ivfStaticOracle(nProbe: Int = 4, nQueries: Int = 10,
                      k: Int = 5): String =
    ann(Ivf(staticCentroids(), nProbe), Exact, nQueries, k)

  /** Oracle for the TRAINED IVF query: inlines the centroid matrix the
    * engine deterministically trains on the verify SF, so everything
    * downstream of training — assignment, probing, ranking — is checked
    * exactly. Training itself is covered by the determinism/unit-norm
    * property spec; the oracle takes the quantizer as given, as any
    * oracle must for a data-dependent model. */
  def ivfTrainedOracle(nCells: Int = 16, nProbe: Int = 4, nQueries: Int = 10,
                       k: Int = 5): String =
    ann(Ivf(trainCentroids(Oracle.vectors(), nCells), nProbe), Exact,
      nQueries, k)

  /** DuckDB replay for [[graft.operators.Similarity.annSq8]]: per-element
    * max-abs quantize/clamp/dequantize, stage-1 cosine as three left folds, the
    * shortlist and the exact re-rank. */
  def sq8Oracle(nQueries: Int = 10, k: Int = 5,
                shortlistFactor: Int = 8): String =
    ann(Brute, Sq8, nQueries, k, shortlistFactor)

  /** DuckDB replay for [[graft.operators.Similarity.annIvfSq8]]: trained
    * centroids inlined, then cell assignment/probing and the sq8 scoring of the
    * probed cells. */
  def ivfSq8TrainedOracle(nCells: Int = 16, nProbe: Int = 4,
                          nQueries: Int = 10, k: Int = 5,
                          shortlistFactor: Int = 8): String = {
    val cents = withTrainCache(Oracle.vectors())(trainCentroids(_, nCells))
    ann(Ivf(cents, nProbe), Sq8, nQueries, k, shortlistFactor)
  }

  /** Oracle for [[graft.operators.Similarity.annIvfPqResidual]]: both trained
    * models inlined (the [[ivfTrainedOracle]] stance); coarse assignment, the
    * DOUBLE residual subtract, residual PQ encoding, the centroid-plus-codeword
    * ADC, shortlist, and re-rank replayed exactly. */
  def ivfPqResidualTrainedOracle(nCells: Int = 16, nProbe: Int = 4,
                                 nQueries: Int = 10, k: Int = 5): String = {
    val (cents, cbs) = residualModels(nCells)
    ann(Ivf(cents, nProbe), Pq(cbs, residual = true), nQueries, k)
  }

  /** The trained centroids and the codebooks trained on the residuals
    * to them — the engine's residual IVF-PQ models. */
  private def residualModels(nCells: Int)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) =
    withTrainCache(Oracle.vectors()) { vc =>
      val cents = trainCentroids(vc, nCells)
      (cents, trainPqCodebooks(
        residualAssigned(vc, cents).select(col("vec_id"),
          col("res").as("embedding"))))
    }

  /** Oracle for [[graft.operators.Similarity.annIvfPq]]: both trained models
    * inlined (the [[ivfTrainedOracle]] stance); coarse assignment, probing, PQ
    * encoding, ADC, shortlist, and re-rank replayed exactly. */
  def ivfPqTrainedOracle(nCells: Int = 16, nProbe: Int = 4,
                         nQueries: Int = 10, k: Int = 5): String = {
    val v = Oracle.vectors()
    ann(Ivf(trainCentroids(v, nCells), nProbe), Pq(trainPqCodebooks(v)),
      nQueries, k)
  }

  /** Oracle for [[graft.operators.Similarity.annIvfPqOpqIndexed]]: the IVF-PQ
    * replay with the trained rotation inlined — codes from the rotated corpus,
    * ADC off the rotated query, exact re-rank unchanged. */
  def ivfPqOpqTrainedOracle(nCells: Int = 16, nProbe: Int = 4,
                            nQueries: Int = 10, k: Int = 5): String = {
    val (cents, rO, cbsO) = withTrainCache(Oracle.vectors()) { vc =>
      val c = trainCentroids(vc, nCells)
      val (r, cb) = trainOpqRotation(vc)
      (c, r, cb)
    }
    ann(Ivf(cents, nProbe), Pq(cbsO, rotation = Some(rO)), nQueries, k)
  }

  /** Oracle for [[graft.operators.Similarity.annPq]]: inlines the codebooks the
    * engine deterministically trains on the verify SF (the [[ivfTrainedOracle]]
    * stance); encode, ADC, and rank are replayed EXACTLY downstream of the
    * model. */
  def pqTrainedOracle(nQueries: Int = 10, k: Int = 5): String =
    ann(Brute, Pq(trainPqCodebooks(Oracle.vectors())), nQueries, k)

  /** DuckDB oracle for [[graft.operators.Similarity.annPqOpq]]: the trained
    * rotation AND codebooks inlined; the PQ replay over the rotated frame with
    * the exact re-rank on the ORIGINAL embeddings. */
  def opqTrainedOracle(nQueries: Int = 10, k: Int = 5): String = {
    val (r, cbs) = withTrainCache(Oracle.vectors())(trainOpqRotation(_))
    ann(Brute, Pq(cbs, rotation = Some(r)), nQueries, k)
  }

  /** DuckDB oracle for [[graft.operators.Similarity.annSignSketch]]: the 63-bit
    * packing, the Hamming top-m (row_number over (hamming, neighbor_id) — the
    * exact TopKByScore order), and the cosine rerank all replay in SQL. */
  def signSketchOracle(nQueries: Int = 10, m: Int = 50,
                       k: Int = 5): String = {
    s"""WITH ${normCte("n")},
        b AS (SELECT vec_id, embedding, nrm,
          CAST(list_sum([CASE WHEN embedding[i + 1] > 0
                              THEN (CAST(1 AS BIGINT) << i) ELSE 0 END
                         for i in range(63)]) AS BIGINT) AS code
          FROM n),
        topm AS (
          SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY bit_count(xor(q.code, c.code)), c.vec_id) AS rm
            FROM b q JOIN b c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < $nQueries)
          WHERE rm <= $m)
        SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cos6 FROM (
          SELECT t.query_id, t.neighbor_id,
            ${cosOf("qv", "cv")} AS cos,
            CAST(row_number() OVER (PARTITION BY t.query_id ORDER BY
              ${cosOf("qv", "cv")} DESC,
              t.neighbor_id) AS INTEGER) AS rnk
          FROM topm t
          JOIN b qv ON qv.vec_id = t.query_id
          JOIN b cv ON cv.vec_id = t.neighbor_id)
        WHERE rnk <= $k ORDER BY query_id, rnk"""
  }

  /** DuckDB oracle for [[graft.operators.Similarity.embeddingOutliers]]: the
    * #164 cosine CTEs + quantile_disc fences with the same doubled-integer
    * comparisons. */
  val embeddingOutliersOracle: String =
    s"""WITH dims AS (
         SELECT label, unnest(embedding) AS v,
                generate_subscripts(embedding, 1) AS pos
         FROM embeddings),
       cent AS (
         SELECT label, pos, round(avg(CAST(v AS DOUBLE)), 6) AS m
         FROM dims GROUP BY label, pos),
       cvec AS (
         SELECT label, list(m ORDER BY pos) AS centroid,
           sqrt(${dot("list(m ORDER BY pos)", "list(m ORDER BY pos)")}) AS cn
         FROM cent GROUP BY label),
       scored AS (
         SELECT e.label,
           CAST(round(list_reduce(list_transform(
               list_zip(e.embedding, c.centroid),
               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
               (p, q) -> p + q)
             / (sqrt(${dot("e.embedding", "e.embedding")}) * c.cn)
             * 10000) AS BIGINT) AS c4
         FROM embeddings e JOIN cvec c USING (label)),
       f AS (SELECT label,
           CAST(quantile_disc(c4, 0.25) AS BIGINT) AS q1_c4,
           CAST(quantile_disc(c4, 0.75) AS BIGINT) AS q3_c4
         FROM scored GROUP BY label)
       SELECT scored.label, count(*) AS n_vecs,
         min(q1_c4) AS q1_c4, min(q3_c4) AS q3_c4,
         CAST(sum(CASE WHEN c4*2 < q1_c4*2 - (q3_c4-q1_c4)*3
                    OR c4*2 > q3_c4*2 + (q3_c4-q1_c4)*3
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
         min(CASE WHEN c4*2 < q1_c4*2 - (q3_c4-q1_c4)*3
                    OR c4*2 > q3_c4*2 + (q3_c4-q1_c4)*3
                  THEN c4 END) AS min_out_c4
       FROM scored JOIN f ON scored.label = f.label
       GROUP BY scored.label ORDER BY scored.label"""

  /** DuckDB oracle for [[graft.operators.Similarity.embeddingClassStats]]: same
    * 1e-6 centroid quantization, same left-fold dot
    * ([[graft.functions.DotProduct]]'s cross-engine contract), min/max over
    * bit-identical cosines. */
  val embeddingClassStatsOracle: String =
    s"""WITH dims AS (
         SELECT label, unnest(embedding) AS v,
                generate_subscripts(embedding, 1) AS pos
         FROM embeddings),
       cent AS (
         SELECT label, pos, round(avg(CAST(v AS DOUBLE)), 6) AS m
         FROM dims GROUP BY label, pos),
       cvec AS (
         SELECT label, list(m ORDER BY pos) AS centroid,
           sqrt(${dot("list(m ORDER BY pos)", "list(m ORDER BY pos)")}) AS cn
         FROM cent GROUP BY label),
       scored AS (
         SELECT e.label, c.cn,
           ${dot("e.embedding", "c.centroid")}
           / (sqrt(${dot("e.embedding", "e.embedding")}) * c.cn) AS cos
         FROM embeddings e JOIN cvec c USING (label))
       SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
              round(any_value(cn), 4) AS centroid_norm,
              round(min(cos), 4) AS min_cos,
              round(max(cos), 4) AS max_cos
       FROM scored GROUP BY label ORDER BY label"""

  /** DuckDB oracle for [[graft.operators.Similarity.embeddingWhiten]]:
    * μ/pc/‖pc‖ inlined as trained literals, the projection and every decimal
    * sum replayed with identical arithmetic. */
  def embeddingWhitenOracle(iters: Int = 5): String = {
    val (spark, sfDir) = Oracle.input
    val (mu, pc) = trainPc1(
      Tables.load(spark, sfDir, "embeddings").select(col("embedding")),
      iters)
    val muL = mu.mkString("[", ", ", "]")
    val pcL = pc.mkString("[", ", ", "]")
    val pcN = math.sqrt(pc.map(x => x * x).sum)
    s"""WITH diff AS (SELECT list_transform(list_zip(embedding, $muL),
            x -> CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) AS diff
          FROM embeddings),
        sc AS (SELECT diff, ${dot("diff", pcL)} AS s FROM diff),
        ww AS (SELECT diff, s,
            list_transform(list_zip(diff, $pcL),
              x -> CAST(x[1] AS DOUBLE) - s * CAST(x[2] AS DOUBLE)) AS w
          FROM sc),
        m AS (SELECT s, ${dot("w", pcL)} AS s2,
            ${dot("diff", "diff")} AS nd2, ${dot("w", "w")} AS nw2
          FROM ww),
        cc AS (SELECT s, s2, nd2, nw2,
            CASE WHEN nd2 > 0 THEN abs(s) / (sqrt(nd2) * $pcN)
                 ELSE 0.0 END AS cos_b,
            CASE WHEN nw2 > 0 THEN abs(s2) / (sqrt(nw2) * $pcN)
                 ELSE 0.0 END AS cos_a
          FROM m)
       SELECT CAST(count(*) AS BIGINT) AS n_vecs,
         round(CAST(sum(CAST(round(cos_b, 8) AS DECIMAL(28,8))) AS DOUBLE)
               / count(*), 4) AS mean_abs_cos_before4,
         round(CAST(sum(CAST(round(cos_a, 8) AS DECIMAL(28,8))) AS DOUBLE)
               / count(*), 4) AS mean_abs_cos_after4,
         round(CAST(sum(CAST(round(s*s, 8) AS DECIMAL(28,8))) AS DOUBLE)
               / CAST(sum(CAST(round(nd2, 8) AS DECIMAL(28,8))) AS DOUBLE),
               6) AS ev_share_before6,
         round(CAST(sum(CAST(round(s2*s2, 8) AS DECIMAL(28,8))) AS DOUBLE)
               / CAST(sum(CAST(round(nw2, 8) AS DECIMAL(28,8))) AS DOUBLE),
               6) AS ev_share_after6,
         round(CAST(sum(CAST(round(nd2, 8) AS DECIMAL(28,8))) AS DOUBLE)
               / count(*), 6) AS var_total_before6,
         round(CAST(sum(CAST(round(nw2, 8) AS DECIMAL(28,8))) AS DOUBLE)
               / count(*), 6) AS var_total_after6
       FROM cc"""
  }

  /** DuckDB oracle for [[graft.operators.Similarity.whitenRecallEval]]: μ/pc,
    * the whitened-trained centroids, and the whitened rotation+codebooks
    * inlined as literals; the whitened corpus built by one CTE (the exact
    * [[graft.operators.Similarity.whitenVectors]] arithmetic) and every rung's
    * stage — argmax assignment, sq8 clamp/round, rotated encode, ADC shortlist,
    * exact whitened-space rerank — replayed off it. */
  def whitenRecallEvalOracle(nQueries: Int = 10, k: Int = 5): String = {
    val vRaw = Oracle.vectors()
    val (mu, pc) = trainWhitening(vRaw)
    val w = whitenVectors(vRaw.select(col("vec_id"), col("embedding")),
        mu, pc)
      .withColumn("nrm", l2norm(col("embedding")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (centsW, rW, cbsWO) =
      try {
        val c = trainCentroids(w, 16)
        val (r, cb) = trainOpqRotation(w)
        (c, r, cb)
      } finally w.unpersist(blocking = false)
    val muL = mu.mkString("[", ", ", "]")
    val pcL = pc.mkString("[", ", ", "]")
    val nSub = cbsWO.length
    val sub = cbsWO.head.head.length
    def hit(shortCte: String) =
      s"""(SELECT CAST(count(*) AS BIGINT)
            FROM $shortCte s
            JOIN truthw t ON t.query_id = s.query_id
                         AND t.neighbor_id = s.neighbor_id)"""
    def rerank(preCte: String, outCte: String) =
      topKIds(outCte, ("s.query_id", "s.query_id"),
        ("s.neighbor_id", "s.neighbor_id"), cosOf("qv", "cv"),
        s"""$preCte s
            JOIN nw qv ON qv.vec_id = s.query_id
            JOIN nw cv ON cv.vec_id = s.neighbor_id""", k)
    s"""WITH wd AS (SELECT vec_id,
            list_transform(list_zip(embedding, $muL),
              x -> CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) AS diff
          FROM embeddings),
        wemb AS (SELECT vec_id,
            list_transform(list_zip(diff, $pcL),
              x -> CAST(x[1] AS DOUBLE) - s * CAST(x[2] AS DOUBLE))
              AS embedding
          FROM (SELECT vec_id, diff, ${dot("diff", pcL)} AS s FROM wd)),
        ${normCte("nw", "wemb")},
        ${normCte()},
        ${truthCte("truthw", "nw", s"q.vec_id < $nQueries", k)},
        ${truthCte("bruteraw", "nv", s"q.vec_id < $nQueries", k)},
        cents(cell, cv) AS (VALUES ${rows(centsW)}),
        ${rankedCte("rankedw", "nw")},
        ${assignedCte("assignedw", "rankedw")},
        ${probesCte(4, s"vec_id < $nQueries", norm = true, "rankedw",
          "probesw")},
        ${topKIds("ivfw", ("p.query_id", "p.query_id"),
          ("a.neighbor_id", "a.neighbor_id"), probedCos(),
          """probesw p JOIN assignedw a ON p.cell = a.cell
            WHERE p.query_id <> a.neighbor_id""", k)},
        dqw AS (${sq8Dequant("wemb")}),
        sq8pre AS (SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                (${dot("q.embedding", "d.d")}
                   / (q.nrm * sqrt(${dot("d.d", "d.d")}))) DESC,
                d.vec_id) AS r
            FROM nw q, dqw d
            WHERE q.vec_id < $nQueries AND d.vec_id <> q.vec_id)
          WHERE r <= ${8 * k}),
        ${rerank("sq8pre", "sq8w")},
        ${rotationCtes(rW, "wemb")},
        ${codebookCtes(cbsWO)},
        ${pqEncode(nSub, sub, "rot")},
        ${shortlist("opqpre", "q.vec_id AS query_id", "q.vec_id",
          "rot q, codes n, cbl", unprobed(nQueries),
          adc("q.embedding", "cbl", nSub, sub), 8 * k)},
        ${rerank("opqpre", "opqw")},
        nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truthw)
       SELECT variant, n_truth, n_hit,
         round(CAST(n_hit AS DOUBLE) / n_truth, 4) AS recall
       FROM (
         SELECT 'brute_raw' AS variant, nt.n_truth,
           ${hit("bruteraw")} AS n_hit FROM nt
         UNION ALL SELECT 'ivf_whitened', nt.n_truth,
           ${hit("ivfw")} FROM nt
         UNION ALL SELECT 'sq8_whitened', nt.n_truth,
           ${hit("sq8w")} FROM nt
         UNION ALL SELECT 'pq_opq_whitened', nt.n_truth,
           ${hit("opqw")} FROM nt)
       ORDER BY variant"""
  }

  /** DuckDB oracle for [[graft.operators.Similarity.embeddingPca]]: μ and the
    * trained component inlined as literals (the semanticDedup stance — the same
    * training code runs once per session), variance/λ recomputed FROM DATA with
    * the identical decimal-sum arithmetic. */
  def embeddingPcaOracle(iters: Int = 5): String = {
    val (spark, sfDir) = Oracle.input
    val (mu, pc) = trainPc1(
      Tables.load(spark, sfDir, "embeddings").select(col("embedding")),
      iters)
    val muL = mu.mkString("[", ", ", "]")
    val pcL = pc.mkString("[", ", ", "]")
    s"""WITH diff AS (SELECT list_transform(list_zip(embedding, $muL),
            x -> CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) AS diff
          FROM embeddings),
        scored AS (SELECT diff,
            ${dot("diff", pcL)} AS s
          FROM diff),
        lam AS (SELECT sum(CAST(round(s*s, 8) AS DECIMAL(28,8))) AS ss
                FROM scored),
        dims AS (SELECT generate_subscripts(diff, 1) AS pos,
                   unnest(diff) AS dx FROM scored),
        pv AS (SELECT pos, sum(CAST(round(dx*dx, 8) AS DECIMAL(28,8))) AS vv,
                 count(*) AS cnt FROM dims GROUP BY 1),
        tv AS (SELECT sum(vv) AS tv FROM pv)
       SELECT CAST(pos - 1 AS INTEGER) AS pos,
         CAST(($muL)[pos] AS DOUBLE) AS mu6,
         CAST(($pcL)[pos] AS DOUBLE) AS loading6,
         round(CAST(vv AS DOUBLE) / cnt, 6) AS var6,
         round(CAST(ss AS DOUBLE) / CAST(tv AS DOUBLE), 6) AS ev_share6
       FROM pv CROSS JOIN lam CROSS JOIN tv ORDER BY pos"""
  }

  /** DuckDB oracle for [[graft.operators.Similarity.annIvfWhitenedIndexed]]:
    * μ/pc and the whitened-space centroids inlined as trained literals (all
    * deterministic — the [[whitenRecallEvalOracle]] stance); the whitened
    * corpus is one CTE (the exact [[graft.operators.Similarity.whitenVectors]]
    * arithmetic) and the IVF assignment/probe/rank replay runs off it — queries
    * whitened by the SAME CTE, because a served query is a corpus row
    * transformed with the same stored model. */
  def ivfWhitenedOracle(nProbe: Int = 4, nQueries: Int = 10,
                        k: Int = 5, nCells: Int = 16,
                        iters: Int = 5): String = {
    val (spark, sfDir) = Oracle.input
    val raw = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val (mu, pc) = trainWhitening(raw, iters)
    val w = whitenVectors(raw, mu, pc)
    val cents = withTrainCache(w)(trainCentroids(_, nCells))
    val muL = mu.mkString("[", ", ", "]")
    val pcL = pc.mkString("[", ", ", "]")
    s"""WITH wd AS (SELECT vec_id,
            list_transform(list_zip(embedding, $muL),
              x -> CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) AS diff
          FROM embeddings),
        wemb AS (SELECT vec_id,
            list_transform(list_zip(diff, $pcL),
              x -> CAST(x[1] AS DOUBLE) - s * CAST(x[2] AS DOUBLE))
              AS embedding
          FROM (SELECT vec_id, diff, ${dot("diff", pcL)} AS s FROM wd)),
        ${normCte("nw", "wemb")},
        cents(cell, cv) AS (VALUES ${rows(cents)}),
        ${rankedCte(norm = "nw")},
        ${assignedCte()},
        ${probesCte(nProbe, s"vec_id < $nQueries", norm = true)}
        ${topK("p", "a", probedCos(),
          """probes p JOIN assigned a ON p.cell = a.cell
          WHERE p.query_id <> a.neighbor_id""", k)}"""
  }

  /** DuckDB oracle for [[graft.operators.Graph.pagerank]]: the knn_graph edge
    * CTE plus `iters` unrolled iterations of the identical decimal-summed
    * arithmetic. */
  def pagerankOracle(k: Int = 5, d: Double = 0.85, iters: Int = 5): String = {
    val base =
      s"""WITH ${normCte("n", label = true)},
          e AS (SELECT query_id AS src, neighbor_id AS dst FROM (
            SELECT query_id, neighbor_id,
              CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rnk
            FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                    ${cosOf("q", "c")} AS cos
                  FROM n q JOIN n c ON c.vec_id <> q.vec_id))
          WHERE rnk <= $k),
          deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
          nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
          nn AS (SELECT count(*) AS n FROM nodes),
          pr0 AS (SELECT id, CAST(1 AS DOUBLE) / n AS pr
                  FROM nodes CROSS JOIN nn)"""
    val its = (1 to iters).map { i =>
      s"""it$i AS (SELECT nodes.id,
            round((CAST(1 AS DOUBLE) - CAST($d AS DOUBLE)) / nn.n
              + CAST($d AS DOUBLE)
                * CAST(coalesce(s.sc, 0) AS DOUBLE), 10) AS pr
          FROM nodes CROSS JOIN nn
          LEFT JOIN (SELECT e.dst AS id,
                       sum(CAST(round(round(p.pr, 10) / deg.deg, 12)
                         AS DECIMAL(28,12))) AS sc
                     FROM e JOIN deg USING (src)
                     JOIN ${if (i == 1) "pr0" else s"it${i - 1}"} p
                       ON p.id = e.src
                     GROUP BY 1) s ON s.id = nodes.id)"""
    }.mkString(",\n          ")
    s"""$base,
          $its
         SELECT id AS vec_id, pr FROM it$iters ORDER BY vec_id"""
  }
}
