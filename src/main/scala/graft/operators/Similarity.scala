package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions._

/** Embedding similarity: near-dup pairs and approximate-nearest-neighbor
  * search over the `embeddings` table (`array<float>`, 64-dim).
  *
  * Scale shapes:
  *  - near-dup (#25) blocks on an equi-join key (label) — at 100 TB the
  *    block key is an LSH bucket or a coarse quantizer cell; the plan
  *    shape (bounded blocks → pairs within block) is identical;
  *  - brute-force ANN (#26) broadcasts the (small) query set and scans
  *    candidates linearly — the correct brute-force baseline at any
  *    scale: one pass, per-partition top-k, tiny final merge;
  *  - LSH ANN (#27) buckets by random-hyperplane signature bands so each
  *    query only scores candidates sharing a band.
  */
object Similarity {

  /** vec_id + embedding + precomputed L2 norm (map-only). */
  private[graft] def vectors(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"),
        l2norm(col("embedding")).as("nrm"))

  /** §2 #25 — embedding-cosine near-dup pairs within label blocks. */
  def embeddingDedup(spark: SparkSession, sfDir: String,
                     tau: Double = 0.4): DataFrame = {
    val v = vectors(spark, sfDir)
    val a = v.select(col("label"), col("vec_id").as("id_a"),
      col("embedding").as("e_a"), col("nrm").as("n_a"))
    val b = v.select(col("label"), col("vec_id").as("id_b"),
      col("embedding").as("e_b"), col("nrm").as("n_b"))
    a.join(b, Seq("label"))
      .filter(col("id_a") < col("id_b"))
      .select(col("label"), col("id_a"), col("id_b"),
        cosineWithNorms(dot(col("e_a"), col("e_b")), col("n_a"), col("n_b"))
          .as("cos"))
      .filter(col("cos") >= tau)
      .select(col("label"), col("id_a"), col("id_b"),
        round(col("cos"), 6).as("cos6"))
      .orderBy("id_a", "id_b")
  }

  /** §2 #26 — brute-force cosine top-k: the exact baseline every ANN
    * variant is measured against. Query set broadcast; candidates
    * scanned once; ranking via the bounded [[graft.functions.TopKByScore]]
    * aggregate — partial top-k per map partition, so the exchange moves
    * at most k rows per (query, partition) instead of shuffling the
    * whole N×Q scored set into a window sort. */
  def annBruteforce(spark: SparkSession, sfDir: String,
                    nQueries: Int = 10, k: Int = 5): DataFrame = {
    val v = vectors(spark, sfDir)
    val queries = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("e_q"),
        col("nrm").as("n_q"))
    val cands = v.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("e_c"), col("nrm").as("n_c"))
    val scored = cands.join(broadcast(queries),
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineWithNorms(dot(col("e_q"), col("e_c")), col("n_q"), col("n_c"))
          .as("cos"))
    rankTopK(scored, k)
  }

  /** §2 #117 — k-NN GRAPH build: every vector's top-k cosine neighbors
    * plus the MUTUAL flag (edge (a,b) is mutual iff b also ranks a) —
    * the input structure for graph-based clustering and SemDeDup-style
    * community pruning, where mutual edges are the high-precision
    * subset. Scoring is EXACT (every pair, full-probe cell join — see
    * the body note); dropping `nProbe` below the cell count swaps in
    * the ANN approximation ([[knnGraphAnn]]) unchanged above the
    * ranking, exactly like [[hardNegatives]]. The mutual flag is ONE
    * self-equi-join of the (already ≤ N×k row) edge list on the
    * reversed key. */
  def knnGraph(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame =
    // EXACT scoring routed through the cell equi-join: assignment puts
    // every candidate in exactly ONE cell and each query probes ALL
    // cells, so each ordered pair is scored exactly once — the output
    // is the brute graph bit-for-bit (same cosine expression, same
    // bounded ranking), but the plan co-partitions two corpus-sized
    // sides on cell with NO broadcast anywhere. Exact k-NN is O(N²)
    // compute however it is executed; this shape is the one that still
    // EXECUTES at 100 TB of vectors, where a corpus-sided broadcast
    // build cannot. [[knnGraphBrute]] keeps the one-join broadcast form
    // as the spec's small-SF equality witness.
    knnGraphAnn(spark, sfDir, nProbe = staticCentroids().length, k)

  /** The broadcast brute-force graph build: exact same output as
    * [[knnGraph]] (SimilaritySpec asserts equality), usable when the
    * corpus fits a broadcast — i.e. as a small-sample witness, never as
    * the corpus-scale plan. */
  private[graft] def knnGraphBrute(spark: SparkSession, sfDir: String,
                                   k: Int = 5): DataFrame = {
    val v = vectors(spark, sfDir)
    val queries = v.select(col("vec_id").as("query_id"),
      col("embedding").as("e_q"), col("nrm").as("n_q"))
    val cands = v.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("e_c"), col("nrm").as("n_c"))
    mutualFlag(rankTopK(cands.join(broadcast(queries),
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineWithNorms(dot(col("e_q"), col("e_c")), col("n_q"), col("n_c"))
          .as("cos")), k))
  }

  /** Mutual-edge decoration shared by the graph builds: ONE
    * self-equi-join of the (≤ N×k row) edge list on the reversed key. */
  private def mutualFlag(edges: DataFrame): DataFrame = {
    val rev = edges.select(col("neighbor_id").as("query_id"),
      col("query_id").as("neighbor_id"), lit(true).as("rev"))
    edges.join(rev, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id").as("src_id"), col("neighbor_id").as("dst_id"),
        col("rnk"), col("cos6"),
        coalesce(col("rev"), lit(false)).as("mutual"))
      .orderBy("src_id", "rnk")
  }

  /** §2 #117b — k-NN GRAPH on the ANN PATH: [[knnGraph]]'s output shape
    * built through the static-quantizer IVF probe instead of the N²
    * broadcast — every vector is a query probing its `nProbe` nearest
    * cells, candidates come from a cell equi-join (a SHUFFLE join of
    * two corpus-sized sides co-partitioned on cell — no broadcast
    * assumption anywhere, which is the only shape that survives 100 TB
    * of vectors), ranking/mutual-flag identical to the brute build.
    * Scoring work is ~nProbe/nCells of brute; recall vs the exact
    * graph is asserted by SimilaritySpec and the static quantizer
    * keeps the whole pipeline SQL-replayable for the oracle. */
  def knnGraphAnn(spark: SparkSession, sfDir: String, nProbe: Int = 6,
                  k: Int = 5): DataFrame = {
    val v = vectors(spark, sfDir)
    val cents = staticCentroids()
    def cellsOf(n: Int) =
      graft.functions.VectorQuantize.nearestCells(col("embedding"), cents, n)
    // SALTED cell join (guide §2.5): the join key has only nCells
    // distinct values, so the pair-scoring stage — whose cost is pair
    // COMPUTE, not shuffle bytes (AQE coalesces it by bytes down to a
    // handful of tasks) — was capped at nCells-way parallelism on any
    // cluster. Each candidate lands in ONE deterministic sub-bucket
    // (hash of its id), every probe visits all sub-buckets of its
    // probed cells: the scored pair set is IDENTICAL, spread over
    // nCells × nSalts partitions. nSalts derives from the session's
    // parallelism (scale-adaptive, never a constant).
    val nSalts = math.max(1,
      2 * v.sparkSession.sparkContext.defaultParallelism / cents.length)
    val assigned = v.select(element_at(cellsOf(1), 1).as("cell"),
      col("vec_id").as("neighbor_id"), col("embedding").as("e_c"),
      col("nrm").as("n_c"))
      .withColumn("salt",
        pmod(xxhash64(col("neighbor_id")), lit(nSalts.toLong)).cast("int"))
    val probes = v.select(col("vec_id").as("query_id"),
      col("embedding").as("e_q"), col("nrm").as("n_q"),
      explode(cellsOf(nProbe)).as("cell"))
      .withColumn("salt",
        explode(typedLit(List.range(0, nSalts))))
    // explicit partition count: AQE's BYTE-based coalescing would fold
    // this exchange to a handful of tasks (the shuffle is MBs while the
    // stage cost is the quadratic pair compute) — user-specified
    // repartition counts are exempt from coalescing, and both sides
    // sharing key+count means the join adds no further exchange
    val parts = cents.length * nSalts
    mutualFlag(rankTopK(
      assigned.repartition(parts, col("cell"), col("salt"))
        .join(probes.repartition(parts, col("cell"), col("salt")),
          Seq("cell", "salt"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          cosineWithNorms(dot(col("e_q"), col("e_c")), col("n_q"), col("n_c"))
            .as("cos")), k))
  }

  /** §2 #136 — LABEL SPREAD: semi-supervised label propagation from a
    * seed registry — every unlabeled vector takes the MAJORITY label of
    * its k nearest seeds (cosine; vote ties break on the smaller
    * label), evaluated against the held-back true labels per class.
    * This is how a small curated label set (here: every 5th vector)
    * fans out over a 100 TB embedding corpus — domain tagging, quality
    * tiers, language families — without a trained classifier.
    *
    * Scale shape: the SEED side is the small curated set and is
    * broadcast; the corpus side streams map-only through scoring into
    * the bounded [[graft.functions.TopKByScoreAgg]] per-query
    * aggregate. Votes and the per-class evaluation are two further
    * ≤ N×k hash aggregates. No N² pair ever materializes, no window
    * over the corpus. */
  def labelSpread(spark: SparkSession, sfDir: String, k: Int = 5,
                  seedMod: Int = 5): DataFrame =
    labelSpreadFrom(vectors(spark, sfDir), k, seedMod)

  /** Generic core over ANY (vec_id, label, embedding, nrm) frame. */
  def labelSpreadFrom(v: DataFrame, k: Int, seedMod: Int): DataFrame = {
    val seeds = v.filter(col("vec_id") % seedMod === 0)
    val queries = v.filter(col("vec_id") % seedMod =!= 0)
      .select(col("vec_id").as("query_id"), col("label").as("true_label"),
        col("embedding").as("e_q"), col("nrm").as("n_q"))
    val cands = seeds.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("e_c"), col("nrm").as("n_c"))
    val edges = rankTopK(queries.join(broadcast(cands))
      .select(col("query_id"), col("neighbor_id"),
        cosineWithNorms(dot(col("e_q"), col("e_c")), col("n_q"), col("n_c"))
          .as("cos")), k)
    val seedLabels = seeds.select(col("vec_id").as("neighbor_id"),
      col("label").as("nb_label"))
    val pred = edges.join(broadcast(seedLabels), "neighbor_id")
      .groupBy("query_id", "nb_label").agg(count(lit(1)).as("c"))
      .groupBy("query_id")
      .agg(min(struct((-col("c")).as("nc"), col("nb_label").as("lbl")))
        .as("b"))
      .select(col("query_id"), col("b.lbl").as("pred_label"))
    val seedCounts = seeds.groupBy(col("label")).agg(count(lit(1)).as("n_seed"))
    queries.select(col("query_id"), col("true_label"))
      .join(pred, "query_id")
      .groupBy(col("true_label").as("label"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("pred_label") === col("true_label"), 1L).otherwise(0L))
          .as("n_correct"))
      .join(seedCounts, "label")
      .select(col("label"), col("n_seed"), col("n_eval"), col("n_correct"),
        round(col("n_correct") / col("n_eval").cast("double"), 4).as("acc4"))
      .orderBy("label")
  }

  /** §2 #119 — ANN RECALL evaluation: recall@k of the two fully
    * deterministic index paths (static-quantizer IVF, static-plane
    * LSH) against the exact brute-force truth — the eval that decides
    * nCells/nProbe/band geometry BEFORE an index is built over 100 TB
    * of vectors ([[Dedup.dedupEval]]'s stance applied to similarity
    * search; the trained paths share the same plan shapes, so the
    * static variants' recall is the representative measurement the
    * oracle can replay exactly). Output: one row per variant with
    * truth/hit counts and recall@k.
    *
    * Scale shape: three already-proven pipelines (each bounded
    * TopKByScore), then joins of ≤ nQueries×k edge lists — at corpus
    * scale the eval runs on a query SAMPLE, which the per-variant
    * 1-row output makes cheap to sweep across geometries. */
  def annRecallEval(spark: SparkSession, sfDir: String,
                    nQueries: Int = 10, k: Int = 5): DataFrame = {
    val key = Seq("query_id", "neighbor_id")
    val truth = annBruteforce(spark, sfDir, nQueries, k).select(key.head, key.tail: _*)
    def one(variant: String, edges: DataFrame): DataFrame = {
      val hits = edges.select(key.head, key.tail: _*).join(truth, key)
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
        .select(lit(variant).as("variant"), col("n_truth"), col("n_hit"),
          round(col("n_hit") / col("n_truth"), 4).as("recall"))
    }
    one("ann_ivf_static", annIvfStatic(spark, sfDir, nQueries = nQueries, k = k))
      .unionByName(one("ann_lsh", annLsh(spark, sfDir, nQueries = nQueries, k = k)))
      .unionByName(one("ann_sign_sketch",
        annSignSketch(spark, sfDir, nQueries = nQueries, k = k)))
      .orderBy("variant")
  }

  /** §2 #181 — IVF PROBE SWEEP: recall@k AND candidate volume per
    * nProbe setting of the static quantizer — the tuning table that
    * plans the IVF cost/recall knob the way lsh_plan plans banding
    * (ann_recall_eval scores variants at ONE setting; this sweeps the
    * setting). One row per nProbe: how much of the brute truth the
    * probe reaches, and how many candidate pairs it pays for.
    *
    * Scale shape: the swept pipelines are the proven bounded-TopK IVF
    * serves over a query SAMPLE; candidate volume needs no join of
    * vectors at all — probed cells join the |cells|-row population
    * table. Each sweep row is a pair of 1-row aggregates. */
  def ivfProbeSweep(spark: SparkSession, sfDir: String, nQueries: Int = 10,
                    k: Int = 5): DataFrame = {
    val cents = staticCentroids()
    val v = vectors(spark, sfDir)
    // NOTE (r19 opt round): persisting this truth across the 16
    // branches was tried and MEASURED NEUTRAL-TO-WORSE — the single
    // final action already shares the identical truth subplan across
    // branches via ReusedExchange (the crossPairsFrom doctrine), so a
    // cache only adds a materialization barrier + per-branch cache
    // scans (90 -> 170 jobs, wall unchanged at sf0.1).
    val truth = annBruteforce(spark, sfDir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val key = Seq("query_id", "neighbor_id")
    def cellsOf(n: Int) =
      graft.functions.VectorQuantize.nearestCells(col("embedding"), cents, n)
    val cellCounts = v
      .select(element_at(cellsOf(1), 1).as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("cnt"))
    (1 to cents.length).map { p =>
      val edges = serveFirst(v, nQueries, Some(cents), p, Exact, TopK(k))
        .select(key.head, key.tail: _*)
      val probes = v.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), explode(cellsOf(p)).as("cell"))
      // each query's own vector sits in its probed top cell — subtract
      val nCand = probes.join(cellCounts, Seq("cell"))
        .agg((sum("cnt") - lit(nQueries.toLong)).as("n_candidates"))
      val hits = edges.join(truth, key)
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
        .crossJoin(nCand)
        .select(lit(p).as("n_probe"), col("n_truth"), col("n_hit"),
          round(col("n_hit") / col("n_truth"), 4).as("recall"),
          col("n_candidates"))
    }.reduce(_ unionByName _).orderBy("n_probe")
  }

  /** §2 #224 — `pq_shortlist_sweep`: the tuning table for the PQ
    * family's knob. For each shortlist factor f: recall@k of the
    * ADC-shortlist(f·k) + exact-rerank pipeline vs brute truth, and
    * the rerank gather bill (min(f·k, N−1)·nQueries rows — the ONLY
    * stage that touches raw vectors, so it IS the quality/cost
    * trade). Completes the tuning-table family: `ivf_probe_sweep`
    * prices nProbe, `lsh_plan`/`hamming_plan`/`simhash_plan` price
    * banding geometry, this prices the ADC shortlist.
    *
    * Scale shape: the corpus is encoded and ADC-scored ONCE — the
    * candidates are ranked at the LARGEST factor and every smaller
    * factor is a rank-prefix of that one bounded aggregate; the exact
    * cosines of the max shortlist are computed once and each factor's
    * re-rank is a filter + ≤N×k ranking over them. */
  def pqShortlistSweep(spark: SparkSession, sfDir: String,
                       nQueries: Int = 10, k: Int = 5,
                       factors: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    val v = vectors(spark, sfDir)
    val cbs = withTrainCache(v)(trainPqCodebooks(_))
    val nCorpus = v.count()
    // the truth is O(N²) to evaluate — persist it, or every factor
    // branch re-pays it twice (n_truth agg + hits join; ADVICE r15)
    val truth = annBruteforce(spark, sfDir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    TransientCaches.register(truth)
    val maxF = factors.max
    val queries = queryRows(v.filter(col("vec_id") < nQueries))
    // one ADC ranking at the largest factor; srnk = ADC rank, so a
    // smaller factor's shortlist is srnk <= f*k
    val codec = Pq(cbs)
    val shortMax = rankTopKFull(
      stage1(codec.encode(inlineRows(v, None)), queries, None, 0, codec),
      maxF * k)
      .select(col("query_id"), col("neighbor_id"), col("rnk").as("srnk"))
    // exact cosines of the max shortlist, computed once
    val rer = shortMax
      .join(fullRows(v), Seq("neighbor_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("srnk"),
        Exact.score.as("cos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    TransientCaches.register(rer)
    factors.map { f =>
      val edges = rankTopK(rer.filter(col("srnk") <= f * k)
        .select("query_id", "neighbor_id", "cos"), k)
        .select("query_id", "neighbor_id")
      val hits = edges.join(truth, Seq("query_id", "neighbor_id"))
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hit"))))
        .select(lit(f).as("shortlist_factor"),
          lit(math.min(f.toLong * k, nCorpus - 1) * nQueries)
            .as("n_rerank"),
          col("n_truth"), col("n_hit"),
          round(col("n_hit") / col("n_truth"), 4).as("recall"))
    }.reduce(_ unionByName _).orderBy("shortlist_factor")
  }

  /** §2 #231 — `pq_shortlist_sweep_residual`: the shortlist-budget
    * tuning table for the RESIDUAL IVFADC serving mode (#227/#228 —
    * the recommended one: recall 0.80 vs 0.72 raw at the same
    * default budget). The raw sweep (#224) prices the knob for pure
    * PQ over the whole corpus; this prices it where a deployment
    * actually tunes it — probed-cell candidates, centroid-plus-
    * codeword ADC — and reports the TRUE per-factor gather bill
    * (probed-cell pools vary per query, so `n_rerank` is the
    * measured rank-prefix count, not a closed form).
    *
    * Scale shape: candidates ADC-ranked ONCE at the largest factor
    * (bounded TopK), every smaller factor a rank-prefix; exact
    * cosines of the max shortlist computed once; the O(N²) brute
    * truth persisted across factors. */
  def pqShortlistSweepResidual(spark: SparkSession, sfDir: String,
                               nQueries: Int = 10, k: Int = 5,
                               nProbe: Int = 4,
                               factors: Seq[Int] = Seq(1, 2, 4, 8))
      : DataFrame = {
    val v = vectors(spark, sfDir)
    val (cents, cbs) = withTrainCache(v) { vc =>
      val cents = trainCentroids(vc, 16)
      (cents, trainPqCodebooks(
        residualAssigned(vc, cents).select(col("vec_id"),
          col("res").as("embedding"))))
    }
    val truth = annBruteforce(spark, sfDir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    TransientCaches.register(truth)
    val maxF = factors.max
    val queries = queryRows(v.filter(col("vec_id") < nQueries))
    // one residual-ADC ranking over the probed-cell candidates at the
    // LARGEST factor; srnk = ADC rank, smaller factors are prefixes
    val codec = Pq(cbs, Some(cents))
    val shortMax = rankTopKFull(
      stage1(codec.encode(inlineRows(v, Some(cents))), queries, Some(cents),
        nProbe, codec), maxF * k)
      .select(col("query_id"), col("neighbor_id"), col("rnk").as("srnk"))
    val rer = shortMax
      .join(fullRows(v), Seq("neighbor_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("srnk"),
        Exact.score.as("cos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    TransientCaches.register(rer)
    factors.map { f =>
      val edges = rankTopK(rer.filter(col("srnk") <= f * k)
        .select("query_id", "neighbor_id", "cos"), k)
        .select("query_id", "neighbor_id")
      val hits = edges.join(truth, Seq("query_id", "neighbor_id"))
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hit"))))
        .crossJoin(broadcast(rer.filter(col("srnk") <= f * k)
          .agg(count(lit(1)).as("n_rerank"))))
        .select(lit(f).as("shortlist_factor"), col("n_rerank"),
          col("n_truth"), col("n_hit"),
          round(col("n_hit") / col("n_truth"), 4).as("recall"))
    }.reduce(_ unionByName _).orderBy("shortlist_factor")
  }

  /** §2 #230 — `pq_bits_sweep`: the CODEBOOK-SIZE tuning table — the
    * third and last knob of the PQ serving family after probe count
    * (`ivf_probe_sweep`) and shortlist budget (`pq_shortlist_sweep`).
    * One row per codebook size kk ∈ {4, 16, 64} (2/4/6 bits per code):
    * the storage bill (bits/vector), the mean squared reconstruction
    * error under codebooks of that size (the [[pqDistortionStats]]
    * decimal doctrine — order-independent, oracle-exact), and recall@k
    * of the full encode→ADC→re-rank pipeline against the shared brute
    * truth. This is the table a deployment reads to decide what a halved
    * index footprint costs in recall — measured, not guessed.
    *
    * Scale shape: each size is one [[trainPqCodebooks]] (bounded model
    * state), one stacked map-only distortion pass, and one proven
    * bounded-TopK serve over a query sample; the O(N²) brute truth is
    * evaluated ONCE and persisted across all rows. */
  def pqBitsSweep(spark: SparkSession, sfDir: String,
                  sizes: Seq[Int] = Seq(4, 16, 64),
                  nQueries: Int = 10, k: Int = 5): DataFrame = {
    val v = vectors(spark, sfDir)
    val truth = annBruteforce(spark, sfDir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    TransientCaches.register(truth)
    val models = withTrainCache(v)(vc =>
      sizes.map(kk => kk -> trainPqCodebooks(vc, k = kk)))
    models.map { case (kk, cbs) =>
      // ceil, not round: a 10-codeword codebook needs 4 bits to
      // address, and understating the bill defeats the table's purpose
      val bits = 32 - Integer.numberOfLeadingZeros(kk - 1)
      val mse = pqDistortionStats(v.select("vec_id", "embedding"), cbs,
          "cur")
        .agg(sum(col("cur_esum")).as("esum"), sum(col("cur_cnt")).as("cnt"))
        .select(round(col("esum").cast("double") / col("cnt"), 6)
          .as("mean_mse6"))
      val edges = serveFirst(v, nQueries, None, 0, Pq(cbs), TopK(k))
        .select("query_id", "neighbor_id")
      val hits = edges.join(truth, Seq("query_id", "neighbor_id"))
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hit"))))
        .crossJoin(broadcast(mse))
        .select(lit(kk).as("codebook_k"),
          lit(bits).as("bits_per_code"),
          lit(cbs.length * bits).as("bits_per_vector"),
          col("mean_mse6"), col("n_truth"), col("n_hit"),
          round(col("n_hit") / col("n_truth"), 4).as("recall"))
    }.reduce(_ unionByName _).orderBy("codebook_k")
  }

  /** §2 #226 — `ann_recall_eval_pq`: the recall table for the
    * COMPRESSED serving variants — [[annRecallEval]] scores the
    * static-model paths (ivf_static, lsh, sign_sketch), but the
    * variants a 100 TB deployment actually serves are [[annPq]],
    * [[annPqOpq]], [[annIvfPq]], [[annIvfPqResidual]], and the
    * training-free [[annSq8]]; this scores them against the same brute
    * truth with the same one-row-per-variant output (`ann_ivfpq_indexed`
    * serves bit-identically to `ann_ivfpq` by the shared oracle, so its
    * row would be a duplicate). The residual row is the table's point
    * at a glance: same 8-nibble storage, higher recall — the measured
    * argument for residual encoding. All trained models come from the
    * shared train cache (one training per corpus per JVM), and the
    * truth frame is evaluated once and shared by all hit-joins.
    *
    * Scale shape: two already-proven bounded-TopK pipelines over a
    * query SAMPLE + joins of ≤ nQueries×k edge lists — the same
    * sweep-cheap geometry as [[annRecallEval]]. */
  def annRecallEvalPq(spark: SparkSession, sfDir: String,
                      nQueries: Int = 10, k: Int = 5): DataFrame = {
    val v = vectors(spark, sfDir)
    val (cents, cbs, cbsR, rO, cbsO) = withTrainCache(v) { vc =>
      val cents = trainCentroids(vc, 16)
      val (rO, cbsO) = trainOpqRotation(vc)
      (cents, trainPqCodebooks(vc),
        trainPqCodebooks(residualAssigned(vc, cents)
          .select(col("vec_id"), col("res").as("embedding"))),
        rO, cbsO)
    }
    val key = Seq("query_id", "neighbor_id")
    val truth = annBruteforce(spark, sfDir, nQueries, k)
      .select(key.head, key.tail: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    TransientCaches.register(truth)
    def one(variant: String, edges: DataFrame): DataFrame = {
      val hits = edges.select(key.head, key.tail: _*).join(truth, key)
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hit"))))
        .select(lit(variant).as("variant"), col("n_truth"), col("n_hit"),
          round(col("n_hit") / col("n_truth"), 4).as("recall"))
    }
    one("ann_pq", serveFirst(v, nQueries, None, 0, Pq(cbs), TopK(k)))
      .unionByName(one("ann_pq_opq", serveFirst(v, nQueries, None, 0,
        Pq(cbsO, rotation = Some(rO)), TopK(k))))
      .unionByName(one("ann_ivfpq_opq", serveFirst(v, nQueries, Some(cents),
        4, Pq(cbsO, rotation = Some(rO)), TopK(k))))
      .unionByName(one("ann_ivfpq", serveFirst(v, nQueries, Some(cents), 4,
        Pq(cbs), TopK(k))))
      .unionByName(one("ann_ivfpq_residual", serveFirst(v, nQueries,
        Some(cents), 4, Pq(cbsR, Some(cents)), TopK(k))))
      .unionByName(one("ann_sq8", serveFirst(v, nQueries, None, 0, Sq8,
        TopK(k))))
      .orderBy("variant")
  }

  /** Session-shared exact k-NN EDGE ARTIFACT (docs/ARTIFACTS.md): the
    * corpus-scale cell equi-join build runs ONCE per (k, version of the
    * embeddings table) ([[ArtifactState]]) and lands as a (src, dst,
    * rnk, cos, mutual) parquet; every graph consumer (pagerank's
    * iterations, knn_communities' propagation) then reads the artifact
    * — the same amortization doctrine as the verified-pair and
    * BPE-rules artifacts. knn_graph itself stays the measured fresh
    * build. */
  def sharedKnnEdgesDir(spark: SparkSession, sfDir: String,
                        k: Int = 5): String =
    ArtifactState.dirOf(spark, "knn-edges",
      Seq(s"$sfDir/embeddings.parquet"), k) { dir =>
      // FULL-precision cos in the stored state (not the display
      // rounding): [[knnEdgesIncrementalFrom]] re-ranks stored edges
      // against freshly computed doubles, which is only exact when the
      // stored score is the exact score
      mutualFull(knnEdgesFullFrom(
        graft.Tables.load(spark, sfDir, "embeddings")
          .select(col("vec_id"), col("embedding")), k))
        .write.mode("overwrite").parquet(dir)
    }

  /** EXACT kNN edges with full-precision scores over an explicit
    * (vec_id, embedding) frame — [[knnGraph]]'s cell equi-join plan
    * (all cells probed ⇒ exact, no corpus-side broadcast), minus the
    * display rounding: the state [[sharedKnnEdgesDir]] stores and
    * [[knnEdgesIncrementalFrom]] merges. */
  private[graft] def knnEdgesFullFrom(vecs: DataFrame,
                                      k: Int = 5): DataFrame = {
    val cents = staticCentroids()
    val v = vecs.select(col("vec_id"), col("embedding"),
      l2norm(col("embedding")).as("nrm"))
    def cellsOf(n: Int) =
      graft.functions.VectorQuantize.nearestCells(col("embedding"), cents, n)
    val assigned = v.select(element_at(cellsOf(1), 1).as("cell"),
      col("vec_id").as("neighbor_id"), col("embedding").as("e_c"),
      col("nrm").as("n_c"))
    val probes = v.select(col("vec_id").as("query_id"),
      col("embedding").as("e_q"), col("nrm").as("n_q"),
      explode(cellsOf(cents.length)).as("cell"))
    // salted exactly like [[knnGraphAnn]]: the nCells-key join caps the
    // pair-compute stage at nCells tasks; sub-bucketing the candidate
    // side spreads the identical pair set over the session's cores
    val nSalts = math.max(1,
      2 * vecs.sparkSession.sparkContext.defaultParallelism / cents.length)
    val assignedS = assigned.withColumn("salt",
      pmod(xxhash64(col("neighbor_id")), lit(nSalts.toLong)).cast("int"))
    val probesS = probes.withColumn("salt",
      explode(typedLit(List.range(0, nSalts))))
    // explicit count so AQE's byte-based coalescing cannot fold the
    // pair-compute stage (see [[knnGraphAnn]])
    val parts = cents.length * nSalts
    rankTopKFull(
      assignedS.repartition(parts, col("cell"), col("salt"))
        .join(probesS.repartition(parts, col("cell"), col("salt")),
          Seq("cell", "salt"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          cosineWithNorms(dot(col("e_q"), col("e_c")), col("n_q"),
            col("n_c")).as("cos")), k)
  }

  /** EXACT INCREMENTAL kNN edge maintenance: the combined graph over
    * `base ∪ delta` from the base's stored edge state + one
    * delta-proportional scoring pass — never the |corpus|² rebuild.
    * Exactness argument: a delta vector is the only kind of new
    * candidate, so an existing node's new top-k is the top-k of
    * (its stored top-k ∪ its scores against the delta) — a base
    * candidate outside the stored top-k can never re-enter, because
    * the merged k-th score is ≥ the old k-th score that already beat
    * it (ties break on neighbor_id in both builds). Delta nodes rank
    * against the full corpus through the ann_bruteforce shape
    * (broadcast DELTA query side; the corpus-sized side only streams).
    * Output is [[knnGraph]]-shaped and equals the full rebuild
    * row-for-row (SimilaritySpec; the `knn_edges_incremental` oracle
    * replays the combined-corpus brute graph).
    *
    * Scale shape: cost ∝ |delta| × |corpus| scoring + one ≤N×k merge
    * agg + the ≤N×k mutual self-join. `baseEdges` must carry
    * FULL-precision `cos` ([[sharedKnnEdgesDir]]'s state shape) —
    * see [[rankTopKFull]]. Feeds the same consumers (pagerank,
    * communities, triangles) a daily-ingest deployment re-points at
    * the merged edge table.
    *
    * CONTRACT (guarded, ADVICE r15): `baseEdges` needs `src`/`dst`/
    * `rnk` and a DOUBLE `cos` (a `cos6`-shaped frame — this method's
    * own OUTPUT — is refused: re-ranking rounded scores against fresh
    * doubles is not exact; chain through the full-precision state,
    * [[sharedKnnEdgesDir]] / the streaming maintainer's store), and
    * must have been built with k' ≥ k: a stored top-k' cannot supply
    * ranks k'+1..k, so the merge would silently return a truncated
    * graph. k' is checked as the global max stored rank (one bounded
    * agg over the ≤N×k' edge frame). */
  def knnEdgesIncrementalFrom(base: DataFrame, baseEdges: DataFrame,
                              delta: DataFrame, k: Int = 5): DataFrame = {
    val cols = baseEdges.columns.toSet
    require(Seq("src", "dst", "rnk", "cos").forall(cols.contains),
      s"baseEdges needs columns src/dst/rnk/cos (the sharedKnnEdgesDir " +
        s"state shape); got ${baseEdges.columns.mkString(", ")} — a " +
        "cos6 frame (this method's OUTPUT) is not valid merge state")
    require(baseEdges.schema("cos").dataType ==
      org.apache.spark.sql.types.DoubleType,
      "baseEdges.cos must be the full-precision DOUBLE score: merging " +
        "re-ranks stored edges against freshly computed doubles, which " +
        "is only exact when the stored score is the exact score")
    // a base node with n-1 < k possible neighbors legitimately stores
    // fewer ranks, so the bound is min(k, |base|-1). storedK >= k
    // already implies sufficiency (needK <= k), so the corpus-sized
    // count is paid ONLY in the small-corpus edge case — never on the
    // common per-merge path
    val storedK = Option(baseEdges.agg(max("rnk")).head().get(0))
      .map(_.asInstanceOf[Number].intValue).getOrElse(0)
    if (storedK < k) {
      val needK = math.min(k.toLong, base.count() - 1)
      require(storedK >= needK,
        s"baseEdges was built with k=$storedK < required $needK: a " +
          s"stored top-$storedK cannot supply ranks ${storedK + 1}.." +
          s"$needK for existing nodes — rebuild the edge artifact at " +
          s"k or merge at k ≤ $storedK")
    }
    mutualFlag(knnEdgesIncrementalFull(base, baseEdges, delta, k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("cos"), 6).as("cos6")))
  }

  /** [[knnEdgesIncrementalFrom]] keeping FULL-precision scores — the
    * (query_id, neighbor_id, rnk, cos) frame the continuous maintainer
    * ([[graft.streaming.StreamKnnEdges]]) stores back as the next
    * merge's state. */
  private[graft] def knnEdgesIncrementalFull(base: DataFrame,
                                             baseEdges: DataFrame,
                                             delta: DataFrame,
                                             k: Int): DataFrame = {
    def withN(df: DataFrame) = df.select(col("vec_id"), col("embedding"),
      l2norm(col("embedding")).as("nrm"))
    val bn = withN(base)
    val dn = withN(delta)
    val dCand = dn.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("e_c"), col("nrm").as("n_c"))
    // existing nodes: stored top-k ∪ scores against the broadcast delta
    val newCand = bn.select(col("vec_id").as("query_id"),
        col("embedding").as("e_q"), col("nrm").as("n_q"))
      .join(broadcast(dCand), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineWithNorms(dot(col("e_q"), col("e_c")), col("n_q"),
          col("n_c")).as("cos"))
    val stored = baseEdges.select(col("src").as("query_id"),
      col("dst").as("neighbor_id"), col("cos"))
    val mergedBase = rankTopKFull(stored.unionByName(newCand), k)
    // delta nodes: broadcast query side, the corpus streams
    val deltaEdges = rankTopKFull(
      bn.unionByName(dn)
        .select(col("vec_id").as("neighbor_id"),
          col("embedding").as("e_c"), col("nrm").as("n_c"))
        .join(broadcast(dn.select(col("vec_id").as("query_id"),
          col("embedding").as("e_q"), col("nrm").as("n_q"))),
          col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          cosineWithNorms(dot(col("e_q"), col("e_c")), col("n_q"),
            col("n_c")).as("cos")), k)
    mergedBase.unionByName(deltaEdges)
  }

  /** Mutual-flag decoration PRESERVING full-precision scores — the
    * (src, dst, rnk, cos, mutual) state shape of [[sharedKnnEdgesDir]]
    * and the continuous maintainer. */
  private[graft] def mutualFull(full: DataFrame): DataFrame = {
    val rev = full.select(col("neighbor_id").as("query_id"),
      col("query_id").as("neighbor_id"), lit(true).as("rev"))
    full.join(rev, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"),
        col("rnk"), col("cos"),
        coalesce(col("rev"), lit(false)).as("mutual"))
  }

  /** §2 #223 — `knn_edges_incremental`: the graph-family delta path —
    * maintain the exact kNN edge artifact under ingest without the
    * |corpus|² rebuild every other artifact family already avoids
    * (pairs #151, IVF #150b, sketches #216). Base edges come from the
    * session-shared artifact ([[sharedKnnEdgesDir]] — built once,
    * amortized across pagerank/communities/triangles, so THIS query
    * measures the merge, the production shape); the delta is the
    * re-id'd 20% slice (near-dup ingest: exact copies under fresh
    * ids). Output equals [[knnGraph]] over the combined corpus
    * row-for-row — the oracle replays the combined brute graph. */
  def knnEdgesIncremental(spark: SparkSession, sfDir: String,
                          k: Int = 5): DataFrame = {
    val v = vectors(spark, sfDir).select(col("vec_id"), col("embedding"))
    val delta = v.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val baseEdges = spark.read.parquet(sharedKnnEdgesDir(spark, sfDir, k))
    knnEdgesIncrementalFrom(v, baseEdges, delta, k)
  }

  /** §2 #205 — kNN TRIANGLES / local clustering coefficient: per node
    * of the MUTUAL k-NN graph, its degree, triangle count, and local
    * clustering coefficient (2·tri / deg·(deg−1)) — the geometry-health
    * audit beside [[knnCommunities]]: high coefficients mean tight
    * semantic neighborhoods (good dedup/retrieval structure), a flat
    * near-zero profile means the embedding space is hub-dominated noise
    * at this k. Edges come from the session-shared knn artifact (built
    * once per corpus version).
    *
    * Scale shape: mutual degree ≤ k by construction, so the oriented
    * wedge join is bounded by N·C(k,2) rows and every join key is an
    * id — no vector ever enters the plan. Triangles are counted once
    * each via the (a<b<c) orientation and attributed to their three
    * corners with one explode + hash agg. */
  def knnTriangles(spark: SparkSession, sfDir: String,
                   k: Int = 5): DataFrame = {
    val mutual = spark.read.parquet(sharedKnnEdgesDir(spark, sfDir, k))
      .filter(col("mutual") && col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("b"))
    val deg = mutual.select(col("a").as("vec_id"))
      .union(mutual.select(col("b").as("vec_id")))
      .groupBy("vec_id").agg(count(lit(1)).as("degree"))
    val wedges = mutual.as("e1")
      .join(mutual.as("e2"), col("e1.a") === col("e2.a")
        && col("e1.b") < col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"),
        col("e2.b").as("z"))
    val tris = wedges.join(
      mutual.select(col("a").as("y"), col("b").as("z")), Seq("y", "z"))
    val triPerNode = tris
      .select(explode(array(col("x"), col("y"), col("z"))).as("vec_id"))
      .groupBy("vec_id").agg(count(lit(1)).as("triangles"))
    graft.Tables.load(spark, sfDir, "embeddings").select(col("vec_id"))
      .join(deg, Seq("vec_id"), "left")
      .join(triPerNode, Seq("vec_id"), "left")
      .na.fill(0L, Seq("degree", "triangles"))
      .select(col("vec_id"), col("degree"), col("triangles"),
        when(col("degree") >= 2,
          round(col("triangles") * lit(2.0)
            / (col("degree") * (col("degree") - 1)), 4))
          .otherwise(lit(0.0)).as("coeff4"))
      .orderBy("vec_id")
  }

  /** §2 #189 — SEMANTIC COMMUNITIES: connected components over the
    * MUTUAL k-NN graph (mutual edges only — the standard symmetric
    * sparsification that keeps hub vectors from welding unrelated
    * regions together), rolled up per community with label purity —
    * the unsupervised structure report read NEXT TO the supervised
    * label audits (embedding_class_stats asks "is each label
    * geometrically tight"; this asks "does the geometry's own
    * community structure agree with the labels").
    *
    * Scale shape: edges come from the session-shared artifact
    * ([[sharedKnnEdgesDir]] — the broadcast-free cell equi-join build
    * paid once per corpus version); components run the SAME
    * contraction rounds and driver finish as dedup_clusters over ≤ N·k
    * mutual edges; the rollup is a two-level (community, label) hash agg —
    * majority via min(struct), no window over members. */
  def knnCommunities(spark: SparkSession, sfDir: String, k: Int = 5,
                     maxIters: Int = 20): DataFrame = {
    val edges = spark.read.parquet(sharedKnnEdgesDir(spark, sfDir, k))
      .filter(col("mutual") && col("src") < col("dst"))
      .select(col("src").as("id_a"), col("dst").as("id_b"))
    val labels = graft.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"))
    val comps = Dedup.clustersFromPairs(
      labels.select(col("vec_id").as("doc_id")), edges, maxIters)
    val byLabel = comps
      .join(labels.withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"))
      .groupBy("cluster_id", "label").agg(count(lit(1)).as("cnt"))
    byLabel.groupBy(col("cluster_id").as("community_id"))
      .agg(sum("cnt").as("n_members"), count(lit(1)).as("n_labels"),
        min(struct((-col("cnt")).as("neg"), col("label").as("lab")))
          .as("m"))
      .select(col("community_id"), col("n_members"), col("n_labels"),
        col("m.lab").as("majority_label"),
        round((-col("m.neg")) / col("n_members"), 4).as("purity4"))
      .orderBy("community_id")
  }

  /** Shared final ranking for every ANN variant: one hash aggregate with
    * the bounded [[graft.functions.TopKByScore]] buffer — partial top-k
    * per map partition, so the exchange moves at most k rows per
    * (query, partition) instead of hash-partitioning ALL surviving
    * candidates into a per-query window sort (at nProbe/nCells = 1/4
    * that window would land ~N/4 rows in ONE task per query). Tie-break
    * is (score desc, id asc), identical to the SQL oracles' row_number. */
  /** [[rankTopK]] keeping the FULL-precision score — the form the
    * incremental kNN edge state stores: a 6-dp-rounded score cannot
    * re-rank exactly against freshly computed doubles (at N×k×|delta|
    * comparisons, crossings inside the rounding step are expected). */
  private def rankTopKFull(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(graft.functions.TopKByScoreAgg.topkByScore(
        col("neighbor_id"), col("cos"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("query_id"), col("e.neighbor_id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rnk"),
        col("e.cos").as("cos"))

  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    rankTopKFull(scored, k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("cos"), 6).as("cos6"))
      .orderBy("query_id", "rnk")

  /** Spherical k-means coarse quantizer, trained as DataFrame
    * aggregations. Each iteration is map-only assignment (the
    * [[graft.functions.NearestCells]] expression folds the centroid
    * matrix per row) + one partially-aggregated mean: the exchange
    * carries at most partitions × nCells × dims partial rows, never the
    * corpus. The driver only ever holds the nCells × dims centroid
    * matrix (the broadcast literal of the next iteration) — bounded
    * model state, not data.
    *
    * Determinism: init = first nCells vectors by id; per-iteration means
    * are quantized to 1e-6 before re-normalizing so float summation
    * order cannot leak into the trained model across runs.
    */
  private def normalize(c: Array[Array[Double]]): Array[Array[Double]] =
    c.map { a =>
      val n = math.sqrt(a.map(x => x * x).sum)
      if (n == 0.0) a else a.map(_ / n)
    }

  /** Static coarse quantizer (seeded unit vectors) for the
    * oracle-checked IVF variant — the stand-in for centroids a real
    * deployment trains ONCE, offline, and ships as a constant. Being a
    * compile-time constant is exactly what makes the full IVF
    * probe/rank pipeline statically replayable by a SQL oracle. */
  private[graft] def staticCentroids(nCells: Int = 16,
                                     dim: Int = 64): Array[Array[Double]] = {
    val rnd = new scala.util.Random(11)
    normalize(Array.fill(nCells)(Array.fill(dim)(rnd.nextGaussian())))
  }

  private[graft] def trainCentroids(v: DataFrame, nCells: Int,
                                    iters: Int = 3): Array[Array[Double]] =
      memoModel(v, s"cents|$nCells|$iters") {
    import v.sparkSession.implicits._
    // init = the nCells FIRST vectors BY ID (a bounded global TopK,
    // not `vec_id < nCells`): on a corpus whose id space has holes or
    // an offset — a live artifact after dedup, appended deltas, any
    // ad-hoc frame — the filter form silently under-provisions the
    // quantizer (asked for 16 cells, trains on however many ids
    // happen to fall under 16). Identical on dense-from-0 fixtures.
    // the cast accepts BOTH array<float> corpora and array<double>
    // ad-hoc frames (float→double is exact, so the float path is
    // unchanged value-for-value — the trainPqCodebooks stance)
    var cents: Array[Array[Double]] =
      normalize(v.orderBy("vec_id").limit(nCells)
        .select(col("embedding").cast("array<double>"))
        .as[Array[Double]].collect())
    for (_ <- 1 to iters) {
      val means = v.select(
          element_at(graft.functions.VectorQuantize.nearestCells(
            col("embedding"), cents, 1), 1).as("cell"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg(avg(col("x")).as("m"))
        .collect()
      val next = Array.tabulate(cents.length)(i => cents(i).clone())
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = math.rint(r.getDouble(2) * 1e6) / 1e6
      }
      cents = normalize(next)
    }
    cents
  }

  /** §2 #39 — IVF ANN: a k-means coarse quantizer assigns every vector
    * to its nearest cell; queries probe their `nProbe` nearest cells
    * only. Cell assignment is MAP-ONLY (one codegen'd argmax per row
    * over the broadcast centroid matrix — zero exchanges before the
    * probe), cells are an equi-join key, and the candidate set shrinks
    * by ~nProbe/nCells at any scale. Each neighbor lives in exactly one
    * cell and a query's probed cells are distinct, so candidate pairs
    * are unique by construction — no distinct needed.
    * Approximate (weak oracle) — SimilaritySpec asserts recall vs brute.
    */
  def annIvf(spark: SparkSession, sfDir: String, nCells: Int = 16,
             nProbe: Int = 4, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val v = vectors(spark, sfDir)
    serveFirst(v, nQueries, Some(withTrainCache(v)(trainCentroids(_, nCells))),
      nProbe, Exact, TopK(k))
  }

  /** Training scans the vectors frame once per k-means iteration (and
    * per PQ sub-space) — persist it so the 30-odd training jobs read
    * the cache, not the parquet, exactly as a real deployment trains
    * on a cached sample. Lazy persist: the first training job's scan
    * populates it. SCOPED to training: once the (driver-bounded) model
    * arrays exist the cache is released, so the serving plan reads the
    * source — which is also the only honest option at 100 TB, where the
    * vectors don't fit in cache and a leaked MEMORY_AND_DISK footprint
    * would crowd out every later job's execution memory. */
  private[graft] def withTrainCache[M](v: DataFrame)(train: DataFrame => M): M = {
    v.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try train(v) finally v.unpersist(blocking = false)
  }

  /** PER-JVM SHARED TRAIN CACHE — the memo the training scaladocs
    * promise ("one training per corpus per JVM"), held in
    * [[ArtifactState]] (single-flight, bounded LRU). Keyed by the
    * training input's CANONICALIZED logical plan, the fingerprint of
    * its input files ([[ArtifactState.fingerprint]]) and the
    * hyper-params: two trainings share a model iff they read the same
    * source version through the same transformations with the same
    * knobs — parquet relations compare by root path, LocalRelations by
    * their rows, ad-hoc RDD-backed frames never compare equal (always
    * train fresh). The fingerprint (ADVICE-r19) makes a corpus REBUILT
    * at the same path inside a long-lived JVM retrain instead of
    * silently serving a model trained on the old contents; frames with
    * no file inputs fingerprint as "". Training is deterministic by
    * contract (init by first ids, per-iteration 1e-6 mean
    * quantization), so a memo hit returns bit-identical model state to
    * a fresh run — only the wall clock can tell. Nested trainings (OPQ
    * trains PQ codebooks mid-build) use their own keys. */
  private def memoModel[T <: AnyRef](v: DataFrame, params: String)
                                    (train: => T): T = {
    val files = try v.inputFiles catch {
      case scala.util.control.NonFatal(_) => Array.empty[String]
    }
    val conf = v.sparkSession.sparkContext.hadoopConfiguration
    ArtifactState.memo((v.queryExecution.analyzed.canonicalized,
      ArtifactState.fingerprint(conf,
        files.toSeq.map(new org.apache.hadoop.fs.Path(_))), params))(train)
  }

  /** §2 #66 — oracle-checked IVF variant: same map-only assignment and
    * probe pipeline as [[annIvf]], over the STATIC quantizer — so a SQL
    * oracle can replay cell assignment, probing, and ranking exactly
    * (see `Ann.ivfStaticOracle`). */
  def annIvfStatic(spark: SparkSession, sfDir: String, nProbe: Int = 4,
                   nQueries: Int = 10, k: Int = 5): DataFrame =
    serveFirst(vectors(spark, sfDir), nQueries, Some(staticCentroids()),
      nProbe, Exact, TopK(k))

  /** How stage 1 of ANN serving stores and scores a candidate: its
    * encoding (raw floats, int8, or PQ codes), the query-side columns
    * its score reads, and the score its shortlist ranks by. Every
    * approximate codec is followed by one exact cosine re-rank
    * ([[serve]]). */
  private[graft] sealed trait Codec {
    /** (keys…, embedding, nrm) rows → (keys…, stage-1 columns), where
      * the keys are every other column (cell, a vec_id or neighbor_id). */
    def encode(rows: DataFrame): DataFrame
    /** Probe-side columns [[score]] reads besides e_q / n_q. */
    def queryCols: Seq[Column] = Nil
    /** Stage-1 score of a (probe ⋈ encoded candidate) row. */
    def score: Column
  }

  private def keysOf(rows: DataFrame): Seq[Column] =
    rows.columns.toSeq.filterNot(Set("embedding", "nrm")).map(col)

  /** Full-precision scan: exact cosine, ranked in a single stage. */
  private[graft] case object Exact extends Codec {
    def encode(rows: DataFrame): DataFrame =
      rows.select(keysOf(rows) :+ col("embedding").as("e_c") :+
        col("nrm").as("n_c"): _*)
    def score: Column =
      cosineWithNorms(dot(col("e_q"), col("e_c")), col("n_q"), col("n_c"))
  }

  /** int8 scan: cosine against [[graft.functions.Sq8Dequant]]'s serving
    * vector, dequantized ONCE per candidate (map-only) — re-quantizing
    * inside the pair join would multiply the work by the query count. */
  private[graft] case object Sq8 extends Codec {
    def encode(rows: DataFrame): DataFrame =
      rows.select(keysOf(rows) :+
          graft.functions.Sq8Dequant.dequant(col("embedding")).as("d"): _*)
        .withColumn("n_d", l2norm(col("d")))
    def score: Column =
      cosineWithNorms(dot(col("e_q"), col("d")), col("n_q"), col("n_d"))
  }

  /** Product quantization (ADC): one L2-argmin code per sub-space of the
    * ENCODING-SPACE vector — the raw vector, or its double residual
    * `e − c(cell)` under `residualCentroids`, then rotated by an OPQ
    * `rotation`. The score is the asymmetric distance: the query (rotated
    * once, broadcast model state) dotted with each selected codeword,
    * summed LEFT TO RIGHT after the residual leg's centroid term — the
    * oracles add in the same order, so the double is bit-identical. */
  private[graft] final case class Pq(
      cbs: Array[Array[Array[Double]]],
      residualCentroids: Option[Array[Array[Double]]] = None,
      rotation: Option[Array[Array[Double]]] = None) extends Codec {
    private val sub = cbs.head.head.length
    private def slice(v: String, m: Int): Column =
      expr(s"slice($v, ${m * sub + 1}, $sub)")
    /** The encoding-space vector of `e` (reads `cell` in residual mode). */
    def space(e: Column): Column = {
      val r = residualCentroids.fold(e)(residualOf(_, e))
      rotation.fold(r)(rotCol(_, r))
    }
    def encode(rows: DataFrame): DataFrame = {
      val keys = keysOf(rows)
      rows.select(keys :+ space(col("embedding")).as("enc"): _*)
        .select(keys ++ cbs.indices.map { m =>
          element_at(graft.functions.VectorQuantize.nearestCellsBiased(
            slice("enc", m), cbs(m), l2Biases(cbs(m)), 1), 1).as(s"c$m")
        }: _*)
    }
    override def queryCols: Seq[Column] =
      Seq(rotation.fold(col("e_q"))(rotCol(_, col("e_q"))).as("e_s"))
    def score: Column =
      (residualCentroids.map(c => dot(col("e_q"), element_at(
          typedLit(c.map(_.toSeq).toSeq), col("cell") + 1))).toSeq ++
        cbs.indices.map { m =>
          dot(slice("e_s", m),
            element_at(typedLit(cbs(m).map(_.toSeq).toSeq), col(s"c$m") + 1))
        }).reduceLeft(_ + _)
  }

  /** What serving returns per query: the exact top-k (approximate codecs
    * shortlist `shortlistFactor·k` first), or MMR over the exact
    * top-`shortlistFactor·k` (approximate codecs shortlist
    * `preFactor·shortlistFactor·k` first). */
  private[graft] sealed trait Rank {
    /** Stage-1 shortlist size of an approximate codec. */
    def shortlist: Int
  }
  private[graft] final case class TopK(k: Int, shortlistFactor: Int = 8)
      extends Rank {
    def shortlist: Int = shortlistFactor * k
  }
  private[graft] final case class Mmr(k: Int, shortlistFactor: Int,
                                      lambda: Double, preFactor: Int = 1)
      extends Rank {
    def shortlist: Int = preFactor * shortlistFactor * k
  }

  /** Encoded candidates (cell, neighbor_id, …) joined to the broadcast
    * (query_id, e_q, n_q) set: under a coarse quantizer each query
    * probes its `nProbe` nearest cells — an equi-join, and since cells
    * partition the corpus the pairs are unique without a distinct;
    * without one (`cents = None`) every candidate meets every query, the
    * flat scan. Self-matches are dropped either way. When the query
    * frame is local (a LocalRelation after optimization) its probe
    * cells are computed on the driver — no job — and the candidates
    * also carry them as a filter, which prunes the cell-partitioned
    * read to the probed directories (dynamic partition pruning never
    * fires here: the broadcast probe side has no selective filter).
    * The filter is implied by the join, so results are unchanged. It is
    * `array_contains`, not `IN`: constraint inference copies it onto
    * the probe side, where an `IN` reads as selective and adds a
    * dynamic-pruning subquery the static filter makes redundant. */
  private def probed(cand: DataFrame, queries: DataFrame,
                     cents: Option[Array[Array[Double]]], nProbe: Int,
                     codec: Codec): DataFrame = {
    val q = queries.select(col("*") +: codec.queryCols: _*)
    cents match {
      case Some(c) =>
        val cells = graft.functions.VectorQuantize.nearestCells(col("e_q"),
          c, nProbe)
        val local = queries.select(cells)
        val pruned = local.queryExecution.optimizedPlan match {
          case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
            cand.filter(array_contains(typedLit(local.collect()
              .flatMap(_.getSeq[Int](0)).distinct.sorted.toSeq), col("cell")))
          case _ => cand
        }
        pruned.join(broadcast(q.withColumn("cell", explode(cells))),
            Seq("cell"))
          .filter(col("query_id") =!= col("neighbor_id"))
      case None =>
        cand.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
    }
  }

  /** Stage 1: every probed (query_id, neighbor_id) pair with the codec's
    * score as `cos`. */
  private def stage1(cand: DataFrame, queries: DataFrame,
                     cents: Option[Array[Array[Double]]], nProbe: Int,
                     codec: Codec): DataFrame =
    probed(cand, queries, cents, nProbe, codec)
      .select(col("query_id"), col("neighbor_id"), codec.score.as("cos"))

  /** THE two-stage ANN serving core every inline and artifact path runs.
    * `cand` = the codec's encoded candidates, `full` = (neighbor_id, e_c,
    * n_c) full-precision rows, `queries` = (query_id, e_q, n_q). An
    * [[Exact]] scan ranks its scores directly; an approximate codec keeps
    * a bounded TopK shortlist, adds the `fresh` (cell, neighbor_id) rows
    * its probes reach unscored (live deltas the codes do not cover —
    * never approximated, never shortlist-pruned), gathers full vectors by
    * id and re-ranks by exact cosine. [[Mmr]] then runs [[mmrRerank]]
    * over the exact top-f·k. Both rankings are the bounded
    * [[graft.functions.TopKByScore]] aggregate. */
  private def serve(cand: DataFrame, full: DataFrame, queries: DataFrame,
                    cents: Option[Array[Array[Double]]], nProbe: Int,
                    codec: Codec, rank: Rank,
                    fresh: Option[DataFrame] = None): DataFrame = {
    val scored = stage1(cand, queries, cents, nProbe, codec)
    val exact = codec match {
      case Exact => scored
      case _ =>
        val short = scored.groupBy("query_id")
          .agg(graft.functions.TopKByScoreAgg.topkByScore(
            col("neighbor_id"), col("cos"), rank.shortlist).as("top"))
          .select(col("query_id"), explode(col("top.neighbor_id"))
            .as("neighbor_id"))
        fresh.fold(short)(f => short.unionByName(
            probed(f, queries, cents, nProbe, codec)
              .select("query_id", "neighbor_id")))
          .join(full, Seq("neighbor_id"))
          .join(broadcast(queries), Seq("query_id"))
          .select(col("query_id"), col("neighbor_id"), Exact.score.as("cos"))
    }
    rank match {
      case TopK(k, _) => rankTopK(exact, k)
      case Mmr(k, f, lambda, _) =>
        mmrRerank(rankTopKFull(exact, f * k), full, k, lambda)
    }
  }

  /** (query_id, e_q, n_q) from a (vec_id, embedding) query frame. */
  private def queryRows(queries: DataFrame): DataFrame =
    queries.select(col("vec_id").as("query_id"), col("embedding").as("e_q"),
      l2norm(col("embedding")).as("n_q"))

  /** (neighbor_id, e_c, n_c) — the exact stage's gather side. */
  private def fullRows(rows: DataFrame): DataFrame =
    rows.select(col("vec_id").as("neighbor_id"), col("embedding").as("e_c"),
      col("nrm").as("n_c"))

  /** Inline serving: `queries` against `corpus` (both vec_id, embedding,
    * nrm), cells assigned map-only under `cents` and the candidates
    * encoded by `codec` in the same pass. */
  private[graft] def serveFrames(corpus: DataFrame, queries: DataFrame,
                                 cents: Option[Array[Array[Double]]],
                                 nProbe: Int, codec: Codec,
                                 rank: Rank): DataFrame =
    serve(codec.encode(inlineRows(corpus, cents)), fullRows(corpus),
      queryRows(queries), cents, nProbe, codec, rank)

  /** (cell, neighbor_id, embedding, nrm) — cells assigned under `cents`
    * (none for a flat scan), ready for a codec's encode. */
  private def inlineRows(corpus: DataFrame,
                         cents: Option[Array[Array[Double]]]): DataFrame =
    corpus.select(cents.map(c => element_at(
        graft.functions.VectorQuantize.nearestCells(col("embedding"), c, 1),
        1).as("cell")).toSeq ++
      Seq(col("vec_id").as("neighbor_id"), col("embedding"), col("nrm")): _*)

  /** [[serveFrames]] for the fixture query set: `v`'s first `nQueries`
    * ids against all of `v`. */
  private[graft] def serveFirst(v: DataFrame, nQueries: Int,
                                cents: Option[Array[Array[Double]]],
                                nProbe: Int, codec: Codec,
                                rank: Rank): DataFrame =
    serveFrames(v, v.filter(col("vec_id") < nQueries), cents, nProbe, codec,
      rank)

  /** Serving RAW (vec_id, embedding) queries from an index artifact's
    * inverted lists (base + live deltas): broadcast probes join only
    * their cell partitions. `raw` states the geometry the caller
    * serves: a raw artifact, or a whitened one whose stored transform
    * the queries take first; the other kind refuses. */
  private def serveIndex(ivf: IvfArtifact, raw: Boolean,
                         queries: DataFrame, nProbe: Int, codec: Codec,
                         rank: Rank): DataFrame = {
    if (raw) ivf.requireRaw() else ivf.requireWhitened()
    val rows = ivf.rows.drop("batch_id")
    serve(codec.encode(rows.withColumnRenamed("vec_id", "neighbor_id")),
      fullRows(rows), queryRows(ivf.toSpace(queries)), Some(ivf.centroids),
      nProbe, codec, rank)
  }

  /** Batch twin for the streaming ANN path: serve an explicit
    * (vec_id, embedding) query frame against the corpus through the
    * static quantizer. */
  def annServe(spark: SparkSession, sfDir: String, queries: DataFrame,
               nProbe: Int = 4, k: Int = 5): DataFrame =
    serveFrames(vectors(spark, sfDir), queries, Some(staticCentroids()),
      nProbe, Exact, TopK(k))

  /** The MATERIALIZED IVF index artifact: centroids + the corpus's cell
    * assignment written ONCE as parquet, inverted-list style. The
    * `assigned/` table is PARTITIONED BY cell, so a serve whose query
    * frame is local (a LocalRelation — a client's request) reads only
    * the probed cell directories: [[probed]] computes the probe cells on
    * the driver and adds them as a static partition filter on the
    * candidate scan. Other query frames scan every cell (dynamic
    * partition pruning does not fire: the broadcast probe side carries
    * no selective filter), and the exact gather of the sq8/PQ codecs
    * reads by id across cells. At 100 TB the index build (train +
    * assign) runs once per corpus version — the ANN analog of
    * [[graft.operators.Dedup.verifiedPairsToDir]]'s asymmetric
    * build-once/serve-many split. */
  def ivfIndexToDir(spark: SparkSession, sfDir: String, dir: String,
                    cents: Array[Array[Double]] = staticCentroids()): Unit =
    ivfIndexBuild(spark,
      vectors(spark, sfDir).select("vec_id", "embedding"), dir, cents)

  /** [[ivfIndexToDir]] over an explicit (vec_id, embedding) corpus
    * frame — the form [[ivfIndexRebuild]] reuses against the live
    * artifact's own rows. Besides `assigned/` + `centroids/` the build
    * lands two version-pinned facts:
    *  - `drift_baseline/` — the build-time per-cell (cnt, dsum) stats
    *    ([[driftStats]]), the baseline [[ivfDriftFromIndex]] monitors
    *    against. Snapshotted AT BUILD because [[ivfIndexCompact]] folds
    *    deltas into `assigned/`: a baseline re-derived from the base
    *    rows would silently reset to the already-drifted population
    *    after every fold and the monitor could never fire (ADVICE r14).
    *  - a `_quantizer_version` marker at the artifact root (fresh
    *    build = 1; [[ivfIndexRebuild]] bumps it) — the fact maintainers
    *    pin at stream start so a mid-stream retrain fails loudly
    *    instead of mixing assignments from two quantizers
    *    ([[graft.streaming.StreamIvfIndex]]). */
  def ivfIndexBuild(spark: SparkSession, vecs: DataFrame, dir: String,
                    cents: Array[Array[Double]] = staticCentroids()): Unit = {
    writeIndexVersion(spark, vecs.select("vec_id", "embedding"), dir, cents)
    graft.streaming.StreamIO.writeMarker(dir, "_quantizer_version", 1L,
      spark.sparkContext.hadoopConfiguration)
  }

  /** One index version's data files (assigned + centroids + drift
    * baseline) into `dir` — shared by the fresh build (marker v1 at the
    * live root) and the rebuild (marker bumped at the STAGED root, so
    * a crash can never leave a bumped version over old data). */
  private def writeIndexVersion(spark: SparkSession, vecs: DataFrame,
                                dir: String,
                                cents: Array[Array[Double]]): Unit = {
    assignWithCentroids(vecs, cents)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/assigned")
    import spark.implicits._
    cents.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    // snapshot from the STORED rows, so the baseline is exactly what
    // serving reads (re-assignment is bit-identical — SimilaritySpec)
    driftStats(spark.read.parquet(s"$dir/assigned"), cents, "base")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/drift_baseline")
  }

  /** The artifact's quantizer version (`_quantizer_version` root
    * marker): 1 at [[ivfIndexBuild]], +1 per [[ivfIndexRebuild]]; None
    * for a pre-versioning artifact. */
  def readIvfQuantizerVersion(spark: SparkSession,
                              dir: String): Option[Long] =
    openIvf(spark, dir).quantizerVersion

  /** Cell assignment of (vec_id, embedding) rows under a given centroid
    * matrix — the map-only inverted-list row shape (cell, vec_id,
    * embedding, nrm) shared by [[ivfIndexToDir]], [[ivfIndexAppend]]
    * and the continuous maintainer
    * [[graft.streaming.StreamIvfIndex]]. */
  private[graft] def assignWithCentroids(vecs: DataFrame,
                                         cents: Array[Array[Double]]): DataFrame =
    vecs.select(
      element_at(graft.functions.VectorQuantize
        .nearestCells(col("embedding"), cents, 1), 1).as("cell"),
      col("vec_id"), col("embedding"),
      l2norm(col("embedding")).as("nrm"))

  /** Centroid matrix back from an [[ivfIndexToDir]] artifact (bounded:
    * nCells × dim doubles — model state, never data), collected once per
    * version of `centroids/` ([[ArtifactState]]; the arrays are shared,
    * read-only). Existence resolves through the Hadoop FileSystem of the
    * path's scheme (the [[Sketches.readSketchStates]] stance) — the
    * index a cluster deployment maintains lives on a DFS. */
  def readIvfCentroids(spark: SparkSession, dir: String): Array[Array[Double]] =
    openIvf(spark, dir).centroids

  /** The one handle on the IVF index artifact at `dir`. */
  private[graft] def openIvf(spark: SparkSession, dir: String): IvfArtifact =
    new IvfArtifact(spark, dir)

  /** An IVF index artifact's layout. Every read of a member or marker
    * and every write of index rows goes through this handle; the
    * builders ([[ivfIndexBuild]], [[ivfWhitenIndexBuild]],
    * [[ivfPqIndexAdd]]) and the swaps ([[ivfIndexCompact]],
    * [[ivfIndexRebuild]]) beside it are the only other code that names
    * a member:
    * {{{
    *   centroids/              the quantizer (cell, centroid)
    *   assigned/               base inverted lists, PARTITIONED BY cell;
    *                           `_compacted_through` = folded delta watermark
    *   stream/batch_id=N/      live deltas, PARTITIONED BY cell
    *   _quantizer_version      1 at build, +1 per rebuild
    *   _whiten + whiten/       whitened artifact: rows in whitened space, μ/pc
    *   codes/                  PQ scan table, PARTITIONED BY cell; `_synced_to`
    *   codebooks/ (+ rotation/, pq_baseline/)
    *                           the PQ unit; `_rotation`, then `_residual` last
    * }}}
    * Members and markers are read lazily, at most once per handle; a
    * handle serves one verb, and a verb that rewrites what it read opens
    * a new handle to read it again. */
  private[graft] final class IvfArtifact(spark: SparkSession,
                                         dir: String) {
    import graft.streaming.StreamIO
    private def conf = spark.sparkContext.hadoopConfiguration
    private def exists(member: String): Boolean = {
      val (fs, p) = StreamIO.fsFor(s"$dir/$member", conf)
      fs.exists(p)
    }
    private def marker(member: String, name: String): Option[Long] =
      StreamIO.readMarker(s"$dir/$member", name, conf)

    lazy val centroids: Array[Array[Double]] = {
      require(exists("centroids"),
        s"no IVF index artifact at $dir — run ivfIndexToDir first")
      ArtifactState.ofInputs(spark, "centroids", Seq(s"$dir/centroids"),
        ()) {
        spark.read.parquet(s"$dir/centroids").orderBy("cell")
          .collect().map(_.getAs[Seq[Double]]("centroid").toArray)
      }
    }
    lazy val quantizerVersion: Option[Long] =
      StreamIO.readMarker(dir, "_quantizer_version", conf)
    /** Base rows' compaction watermark: deltas at or below it are folded. */
    lazy val compactedThrough: Option[Long] =
      marker("assigned", "_compacted_through")

    /** Whether the rows are stored in whitened space (`_whiten` = 1). */
    lazy val whitened: Boolean =
      StreamIO.readMarker(dir, "_whiten", conf).contains(1L)
    /** The stored whitening model (μ + pc: two d-vectors — model state,
      * never data), collected once per version of `whiten/` (shared,
      * read-only). Refuses a raw artifact (no `_whiten` marker) and a
      * torn one (`_whiten` = 1 but `whiten/` missing — only manual
      * surgery can produce it given the build order, the [[rotation]]
      * stance). */
    lazy val whitenModel: (Array[Double], Array[Double]) = {
      require(whitened,
        s"index artifact at $dir carries no _whiten marker — its rows " +
          "are raw-space; serve through annServeFromIndex, or build a " +
          "whitened artifact with ivfWhitenIndexToDir.")
      require(exists("whiten"),
        s"index artifact at $dir carries _whiten = 1 but whiten/ is " +
          "missing — the unit is torn. Rebuild with ivfWhitenIndexToDir.")
      ArtifactState.ofInputs(spark, "whiten", Seq(s"$dir/whiten"), ()) {
        val rows = spark.read.parquet(s"$dir/whiten").collect()
          .map(r => r.getAs[String]("kind") ->
            r.getAs[Seq[Double]]("v").toArray).toMap
        (rows("mu"), rows("pc"))
      }
    }
    /** Refuse RAW-SPACE access to a whitened artifact: its rows are
      * stored in whitened space, so scoring raw queries (or landing raw
      * vectors) against it silently mixes two geometries — the failure
      * the `_rotation` marker doctrine exists to prevent, one transform
      * earlier in the pipeline. */
    def requireRaw(): Unit =
      require(!whitened,
        s"index artifact at $dir carries _whiten = 1 (its rows are " +
          "stored in whitened space) — raw-space serving or maintenance " +
          "would silently mix geometries. Serve through " +
          "annServeWhitenedFromIndex / append through " +
          "ivfWhitenIndexAppend (they apply the stored transform).")
    def requireWhitened(): Unit = { whitenModel; () }

    /** RAW (vec_id, embedding) vectors in the rows' space: unchanged, or
      * whitened with the stored model. */
    def toSpace(vectors: DataFrame): DataFrame =
      if (whitened) {
        val (mu, pc) = whitenModel
        whitenVectors(vectors, mu, pc)
      } else vectors
    /** RAW vectors as inverted-list rows (cell, vec_id, embedding, nrm)
      * under the artifact's own transform and centroids. */
    def assign(vectors: DataFrame): DataFrame =
      assignWithCentroids(toSpace(vectors), centroids)

    /** Batch ids of the live `stream/` deltas, listed on every call. */
    def deltaIds(): Seq[Long] = {
      val (fs, root) = StreamIO.fsFor(s"$dir/stream", conf)
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("batch_id="))
        .map(_.stripPrefix("batch_id=").toLong)
    }
    /** Delete the given deltas, and the delta root once it is empty (an
      * empty root would fail parquet schema inference on the next read). */
    def dropDeltas(ids: Seq[Long]): Unit = {
      val (fs, root) = StreamIO.fsFor(s"$dir/stream", conf)
      ids.foreach(n =>
        fs.delete(new org.apache.hadoop.fs.Path(root, s"batch_id=$n"), true))
      if (fs.exists(root) && deltaIds().isEmpty) fs.delete(root, true)
      ()
    }

    /** The full inverted-list table: base rows with a null `batch_id`,
      * live delta rows with their partition's. Deltas at or below
      * [[compactedThrough]] are EXCLUDED: their rows are already folded
      * into the base by [[ivfIndexCompact]], and a crashed compaction
      * (swap committed, delta delete pending) must not double-count
      * them. Cell partition pruning holds on both legs. */
    lazy val rows: DataFrame = {
      val base = Tables.readParquet(spark, s"$dir/assigned")
        .withColumn("batch_id", lit(null).cast("long"))
      // bare existence is not enough: an emptied delta root (all
      // batches folded) would fail parquet schema inference
      if (deltaIds().nonEmpty) {
        val deltas = Tables.readParquet(spark, s"$dir/stream")
          .withColumn("batch_id", col("batch_id").cast("long"))
        val live = compactedThrough
          .map(w => deltas.filter(col("batch_id") > w)).getOrElse(deltas)
        base.unionByName(live.select(base.columns.map(col).toSeq: _*))
      } else base
    }

    /** THE index writer: append RAW vectors to the inverted lists under
      * the stored transform and centroids. A PQ leg gets the delta's
      * codes FIRST: a crash between the two writes leaves codes the
      * exact gather drops (no assigned/ row to join), never assigned/
      * rows the ADC scan silently misses. */
    def append(vectors: DataFrame): Unit = {
      val rows = assign(vectors)
      if (hasPq)
        pq.encode(rows)
          .write.mode("append").partitionBy("cell").parquet(s"$dir/codes")
      rows.write.mode("append").partitionBy("cell").parquet(s"$dir/assigned")
    }
    /** Whether a continuous maintainer's batch `batchId` is already
      * folded into the base ([[StreamIO.foldedByCompaction]]: older ids
      * fail loudly). */
    def foldedByCompaction(batchId: Long): Boolean =
      StreamIO.foldedByCompaction(s"$dir/assigned", batchId, conf)
    /** Land RAW vectors as the cell-partitioned delta of stream batch
      * `batchId`, overwriting that batch's own subtree so a replayed
      * batch replaces its delta instead of duplicating it. An empty
      * batch lands nothing: a fileless `batch_id` dir would trip schema
      * inference on the stream root. */
    def landDelta(batchId: Long, vectors: DataFrame): Unit =
      if (!vectors.isEmpty)
        assign(vectors).write.mode("overwrite").partitionBy("cell")
          .parquet(s"$dir/stream/batch_id=$batchId")

    lazy val hasPq: Boolean = exists("codes")
    lazy val hasCodebooks: Boolean = exists("codebooks")
    lazy val hasPqBaseline: Boolean = exists("pq_baseline")
    /** The base watermark the `codes/` encode saw. */
    lazy val pqSyncedTo: Option[Long] = marker("codes", "_synced_to")
    /** Whether the codes cover the base as folded now. */
    def pqInSync: Boolean = pqSyncedTo.contains(compactedThrough.getOrElse(-1L))
    /** Refuse a PQ leg that is absent, whose encode did not complete, or
      * that predates the base's compaction watermark. */
    def requirePqSynced(): Unit = {
      require(hasPq, s"no PQ leg at $dir/codes — run ivfPqIndexAdd first")
      // the marker is REQUIRED, not defaulted: ivfPqIndexAdd writes it
      // strictly after the codes land, so its absence means the encode
      // crashed mid-write and the scan table may silently miss vectors
      val synced = pqSyncedTo.getOrElse(throw new IllegalArgumentException(
        s"PQ codes at $dir/codes carry no _synced_to marker — the " +
          "encode did not complete (ivfPqIndexAdd writes the marker " +
          "after the codes). Re-run ivfPqIndexAdd."))
      val folded = compactedThrough.getOrElse(-1L)
      require(synced == folded,
        s"PQ codes at $dir/codes are synced to compaction watermark " +
          s"$synced but the base is folded through $folded — the codes " +
          "miss vectors compaction folded into the base. Re-run " +
          "ivfPqIndexAdd (map-only re-encode with the stored codebooks).")
    }
    /** The `codes/` scan table. */
    lazy val codes: DataFrame = Tables.readParquet(spark, s"$dir/codes")

    /** The PQ unit's encoding mode; None without a unit. [[ivfPqIndexAdd]]
      * writes the `_residual` marker strictly after the codebook unit it
      * describes (codebooks + distortion baseline), so a missing marker
      * means one of three things:
      *
      *  - `pq_baseline/` PRESENT: the (re)train crashed mid-unit
      *    (between the baseline and the marker) and the stored pieces
      *    may disagree — refuse rather than guess (a wrong guess scores
      *    one space's codes under the other space's codebooks,
      *    silently);
      *  - `pq_baseline/` ABSENT, `codes/_synced_to` PRESENT: the LEGACY
      *    pre-marker layout — those legs were trained before residual
      *    encoding (or the baseline snapshot) existed and COMPLETED
      *    (`_synced_to` is every add's final write, and the codes
      *    overwrite clears it first), so the mode is raw by
      *    construction, not a guess;
      *  - `pq_baseline/` ABSENT, `codes/_synced_to` ABSENT: a first
      *    (re)train crashed mid-write — the codebooks' encoding space is
      *    unknown, so refuse. Serving would refuse on staleness anyway,
      *    but the RE-SYNC path both consults the mode AND repairs the
      *    staleness marker: a raw guess here would launder a torn
      *    residual train into a consistent-looking, silently-wrong raw
      *    leg.
      */
    lazy val residualMode: Option[Boolean] =
      if (!hasCodebooks) None
      else Some(marker("codebooks", "_residual") match {
        case Some(v) => v == 1L
        case None =>
          if (hasPqBaseline) throw new IllegalArgumentException(
            s"PQ codebooks at $dir/codebooks carry no _residual marker " +
              "but a pq_baseline/ snapshot exists — the codebook " +
              "(re)train crashed mid-unit (the marker lands after the " +
              "codebooks and baseline), so the stored pieces may " +
              "disagree and their encoding space is unknown. Re-run " +
              "ivfPqIndexAdd(retrain = true, residual = Some(<intended " +
              "mode>)).")
          if (pqSyncedTo.isEmpty) throw new IllegalArgumentException(
            s"PQ codebooks at $dir/codebooks carry no _residual marker, " +
              "no pq_baseline/ snapshot, and codes/ has no _synced_to — " +
              "a first (re)train crashed mid-write (a completed legacy " +
              "pre-marker leg always carries _synced_to), so the " +
              "encoding space is unknown. Re-run ivfPqIndexAdd(retrain " +
              "= true, residual = Some(<intended mode>)).")
          false // completed legacy pre-marker layout: raw by construction
      })
    /** Whether the PQ unit was trained under an OPQ rotation; None
      * without a unit. [[ivfPqIndexAdd]] writes `_rotation` strictly
      * BEFORE `_residual`, so on any COMPLETE unit (the only kind
      * [[residualMode]] lets a caller past) an absent marker means a
      * rotation-unaware vintage — unrotated by construction. */
    lazy val rotationMode: Option[Boolean] =
      if (!hasCodebooks) None
      else Some(marker("codebooks", "_rotation").contains(1L))
    /** PQ codebooks (bounded: m × k × sub doubles — model state, never
      * data), collected once per version of `codebooks/` (shared,
      * read-only). */
    lazy val codebooks: Array[Array[Array[Double]]] =
      ArtifactState.ofInputs(spark, "codebooks", Seq(s"$dir/codebooks"),
        ()) {
        val rows = spark.read.parquet(s"$dir/codebooks")
          .orderBy("m", "cell").collect()
        rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, rs) =>
          rs.sortBy(_.getInt(1))
            .map(_.getAs[Seq[Double]]("codeword").toArray)
        }.toArray
      }
    /** The stored OPQ rotation (d×d doubles — model state). Refuses
      * loudly when the `_rotation` marker promises one but `rotation/`
      * is missing (a torn unit that escaped the marker doctrine, e.g. a
      * partial manual delete): guessing identity would silently score
      * rotated codes against unrotated queries. */
    lazy val rotation: Array[Array[Double]] = {
      require(exists("rotation"),
        s"PQ unit at $dir carries _rotation = 1 but rotation/ is missing " +
          "— the unit is torn. Re-run ivfPqIndexAdd(retrain = true, " +
          "opq = Some(true)).")
      ArtifactState.ofInputs(spark, "rotation", Seq(s"$dir/rotation"), ()) {
        spark.read.parquet(s"$dir/rotation").orderBy("j").collect()
          .map(_.getAs[Seq[Double]]("rv").toArray)
      }
    }
    /** The stored PQ unit as a codec: codebooks, the residual mode (a
      * torn unit refuses here) and the OPQ rotation member. */
    lazy val pq: Pq = {
      val cbs = codebooks
      Pq(cbs, if (residualMode.contains(true)) Some(centroids) else None,
        if (rotationMode.contains(true)) Some(rotation) else None)
    }
  }

  /** INCREMENTAL index maintenance: assign a batch of new
    * (vec_id, embedding) vectors with the artifact's OWN centroids and
    * append them to the cell-partitioned inverted lists. Assignment is
    * map-only over the delta; existing partitions are untouched (append
    * mode writes new files into the matching cell directories), so the
    * updated index serves identically to a full rebuild over the
    * combined vector set — SimilaritySpec proves it, for every codec.
    * When the artifact has a PQ leg ([[ivfPqIndexAdd]]) the delta is
    * also encoded with the stored codebook unit and appended to
    * `codes/`, so the ADC scan keeps covering `assigned/`. The quantizer
    * itself is versioned with the corpus: retrain + rebuild when drift
    * warrants, append between versions (the standard IVF deployment
    * cadence). */
  def ivfIndexAppend(spark: SparkSession, dir: String,
                     vectors: DataFrame): Unit = {
    val ivf = openIvf(spark, dir)
    ivf.requireRaw()
    ivf.append(vectors)
  }

  /** ARTIFACT COMPACTION / delta GC for the IVF index: fold every
    * `stream/batch_id=N` delta the continuous maintainers
    * ([[graft.streaming.StreamIvfIndex]] /
    * [[graft.streaming.StreamSemanticDedup]]) have landed back into the
    * base cell layout, and drop the folded deltas. Serving reads are
    * identical before and after ([[annServeFromIndex]] unions base +
    * deltas either way — SimilaritySpec proves it), but after 10⁴
    * micro-batches the un-compacted index pays a per-query listing of
    * 10⁴ delta trees and probes cell fragments instead of full-size
    * cell files; the fold restores the build-time layout where a probe
    * touches exactly nProbe cell directories.
    *
    * SINGLE-WRITER contract + crash-safety (the
    * [[graft.streaming.Compaction]] doctrine): run with the maintainers
    * quiesced; the fold commits a `_compacted_through` watermark INSIDE
    * the swapped `assigned/` dir, the maintainers skip a replay of the
    * folded batch and refuse older ids
    * ([[graft.streaming.StreamIO.foldedByCompaction]]), readers ignore
    * any delta at-or-below the watermark
    * ([[IvfArtifact.rows]] — so a crash between the swap and
    * the delta delete never double-counts), and an interrupted swap is
    * repaired on the next entry. Returns the folded watermark, None if
    * there was nothing to fold.
    *
    * Concurrent READERS: the swap window momentarily removes
    * `assigned/`, so a scan planned across it can see missing files —
    * set `spark.sql.files.ignoreMissingFiles` for in-flight reads
    * (they fall back to the deltas' rows on the next query), or put
    * serving that cannot tolerate the window behind an ACID table
    * format (docs/LAKEHOUSE.md). A read STARTED after the swap is
    * always complete — StreamingSpec's read-after-compact proves it on
    * the graftmock DFS scheme. */
  def ivfIndexCompact(spark: SparkSession, dir: String): Option[Long] = {
    import graft.streaming.StreamIO
    val conf = spark.sparkContext.hadoopConfiguration
    val assignedDir = s"$dir/assigned"
    val staged = s"$dir/assigned.compact-staging"
    StreamIO.recoverInterruptedSwap(assignedDir, staged,
      "_compacted_through", conf)
    val ivf = openIvf(spark, dir)
    // deltas already folded by a crashed run (watermark in the swapped
    // base, reads ignoring them) are garbage — collect them first
    ivf.compactedThrough.foreach(w =>
      ivf.dropDeltas(ivf.deltaIds().filter(_ <= w)))
    val live = ivf.deltaIds()
    if (live.isEmpty) return None
    val w = live.max
    // one pass: base + live deltas (rows applies the old watermark)
    // rewritten in the build-time cell layout
    ivf.rows.drop("batch_id")
      .write.mode("overwrite").partitionBy("cell").parquet(staged)
    StreamIO.writeMarker(staged, "_compacted_through", w, conf)
    StreamIO.swapInto(staged, assignedDir, conf)
    ivf.dropDeltas(live)
    Some(w)
  }

  /** The RETRAIN action [[ivfDrift]]'s `is_shifted` flag calls for —
    * the last verb of the IVF operational loop (ingest → dedup → serve
    * → compact → monitor → **retrain**). One call against a live
    * artifact: retrain the coarse quantizer on the CURRENT corpus
    * (base + every live delta), rebuild the cell-partitioned layout,
    * reset the drift baseline to the post-rebuild population, and bump
    * the quantizer version — so probe pruning recovers the
    * ~nProbe/nCells candidate fraction drift had inflated
    * ([[ivfDriftImpact]]: recall holds while candidates/query explode;
    * the rebuild is what restores the pruning, and `ivf_rebuild` is
    * the oracle-checked proof).
    *
    * Crash-safety is the whole-artifact stage→swap: the new version
    * (assigned + centroids + drift_baseline + bumped
    * `_quantizer_version`, witnessed LAST by `_rebuild_complete`) is
    * staged beside the artifact and swapped in atomically-enough —
    * an interrupted swap is completed on the next entry, a staging
    * tree from a pre-swap crash is cleared before re-staging
    * (the [[graft.streaming.Compaction]] lesson), and because the
    * version marker travels inside the staged tree a crash can never
    * leave a bumped version over old data. Live deltas are FOLDED into
    * the rebuilt base, so the compaction watermark advances to the max
    * folded batch id: a maintainer replaying that batch skips, older
    * ids fail loudly ([[graft.streaming.StreamIO.foldedByCompaction]]),
    * and a maintainer that pinned the old quantizer version at stream
    * start refuses the NEXT batch loudly
    * ([[graft.streaming.StreamIvfIndex]]) — restart it so it assigns
    * with the new centroids.
    *
    * SINGLE-WRITER contract: run with the maintainers quiesced, like
    * [[ivfIndexCompact]]. READERS: the swap window momentarily removes
    * the artifact root — same two answers as compaction
    * (`spark.sql.files.ignoreMissingFiles` for in-flight scans; an
    * ACID table format for serving that cannot tolerate the window —
    * docs/LAKEHOUSE.md).
    *
    * Scale shape: training is the bounded k-means of [[annIvf]]
    * (nCells × dim model state on the driver, corpus scans stay
    * distributed, cached across the iterations); the rebuild itself is
    * one map-only assignment pass + the cell-partitioned write — the
    * same cost as the initial build, paid once per `is_shifted`, not
    * per query. Returns the new quantizer version. */
  def ivfIndexRebuild(spark: SparkSession, dir: String, nCells: Int = 0,
                      iters: Int = 3): Long = {
    // a whitened artifact's honest retrain re-fits μ/pc too (the
    // distribution that drifted is the RAW one the transform was
    // trained on) and the swap below would drop the whiten/ member —
    // leaving whitened rows behind a raw-looking root. Rebuild those
    // from the raw corpus via ivfWhitenIndexToDir instead.
    val ivf = openIvf(spark, dir)
    ivf.requireRaw()
    import graft.streaming.StreamIO
    val conf = spark.sparkContext.hadoopConfiguration
    val staged = s"$dir.rebuild-staging"
    StreamIO.recoverInterruptedSwap(dir, staged, "_rebuild_complete", conf)
    StreamIO.deleteRecursively(staged, conf)
    // nCells <= 0 (the default) KEEPS the artifact's current cell
    // count: a drift-triggered rebuild re-fits the centroids, it does
    // not silently re-provision a tuned index to some fixed size
    val n = if (nCells > 0) nCells else ivf.centroids.length
    val corpus = ivf.rows.select("vec_id", "embedding")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cents = trainCentroids(corpus, n, iters)
      writeIndexVersion(spark, corpus, staged, cents)
      // live deltas are folded into the rebuilt base: advance the
      // compaction watermark so a replay of the last folded batch
      // skips and older ids fail loudly
      (ivf.deltaIds() ++ ivf.compactedThrough).maxOption.foreach(w =>
        StreamIO.writeMarker(s"$staged/assigned", "_compacted_through",
          w, conf))
      val v = ivf.quantizerVersion.getOrElse(0L) + 1
      StreamIO.writeMarker(staged, "_quantizer_version", v, conf)
      // completion witness LAST: recoverInterruptedSwap only installs
      // a staging tree that carries it
      StreamIO.writeMarker(staged, "_rebuild_complete", v, conf)
      StreamIO.swapInto(staged, dir, conf)
      v
    } finally { corpus.unpersist(blocking = false); () }
  }

  /** QUANTIZER-DRIFT MONITOR core: compare the cell-population of the
    * `cur` corpus against the `base` (build-time) corpus under ONE
    * fixed quantizer — the retrain signal the IVF deployment cadence
    * ([[ivfIndexAppend]] / [[graft.streaming.StreamIvfIndex]]) defers
    * to: appended vectors keep the build-time centroids, so when the
    * incoming distribution moves, cells bloat/starve (probe recall and
    * pruning both degrade) and nothing else in the serving path says
    * so. Two measurements per the standard monitoring playbook:
    *  - PSI of cell-population shares (current vs baseline), the
    *    [[TextAnalysis.sourcePsiFrom]] doctrine: 8-dp decimal terms
    *    (order-independent exact sum), terms only over cells populated
    *    on BOTH sides, one-sided cells COUNTED (`n_cells_onesided`)
    *    rather than epsilon-smoothed — at 16 cells the missing-mass is
    *    its own signal. `is_shifted` flags PSI > 0.2 (the industry
    *    screening threshold) = retrain + rebuild, then stream between
    *    versions.
    *  - mean assignment distance (1 − cos to the assigned centroid)
    *    per side: a distribution can keep its cell SHARES while moving
    *    away from every centroid (uniform radial drift), which PSI
    *    cannot see but recall still pays for.
    * Scale shape: two map-only assignments (broadcast centroid
    * matrix), two ≤nCells-row hash aggregates, everything after the
    * per-cell rollup is broadcast arithmetic over ≤nCells rows. */
  def ivfDriftFrom(base: DataFrame, cur: DataFrame,
                   cents: Array[Array[Double]]): DataFrame =
    ivfDriftFromStats(driftStats(base, cents, "base"), cur, cents)

  /** Per-cell population/distance rollup of one corpus under one
    * quantizer — the (cell, cnt, dsum) frame both sides of the PSI
    * monitor reduce to, and the shape [[ivfIndexBuild]] snapshots into
    * the artifact as `drift_baseline/` (ADVICE r14: compaction folds
    * deltas into the base, so a baseline RE-DERIVED from `assigned/`
    * silently resets to the already-drifted population after every
    * fold; the snapshot pins the build-time truth). Map-only
    * assignment + one ≤nCells-row hash aggregate. */
  private[graft] def driftStats(v: DataFrame, cents: Array[Array[Double]],
                                tag: String): DataFrame = {
    val spark = v.sparkSession
    import spark.implicits._
    val centDF = cents.zipWithIndex.toSeq
      .map { case (cv, i) => (i, cv.toSeq) }.toDF("cell", "centroid")
    assignWithCentroids(v.select(col("vec_id"), col("embedding")), cents)
      .join(broadcast(centDF), "cell")
      .select(col("cell"),
        round(lit(1.0) - dot(col("embedding"), col("centroid"))
          / col("nrm"), 8)
          .cast(org.apache.spark.sql.types.DecimalType(18, 8)).as("d"))
      .groupBy("cell")
      .agg(count(lit(1)).as(s"${tag}_cnt"), sum(col("d")).as(s"${tag}_dsum"))
  }

  /** [[ivfDriftFrom]] with the baseline side already reduced to its
    * (cell, base_cnt, base_dsum) stats — the form the index monitor
    * uses against the artifact's `drift_baseline/` snapshot, where the
    * build-time corpus itself is long folded away. */
  def ivfDriftFromStats(baseStats: DataFrame, cur: DataFrame,
                        cents: Array[Array[Double]]): DataFrame = {
    val j = baseStats
      .join(driftStats(cur, cents, "cur"), Seq("cell"), "full_outer")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    TransientCaches.register(j)
    val tot = j.agg(sum("base_cnt").as("n_base"), sum("cur_cnt").as("n_cur"),
      sum("base_dsum").as("bd"), sum("cur_dsum").as("cd"))
    val shares = j.crossJoin(broadcast(tot))
      .withColumn("base_share",
        col("base_cnt") / col("n_base").cast("double"))
      .withColumn("cur_share", col("cur_cnt") / col("n_cur").cast("double"))
      .withColumn("term",
        when(col("base_cnt").isNotNull && col("cur_cnt").isNotNull,
          round((col("cur_share") - col("base_share"))
            * log(col("cur_share") / col("base_share")), 8)
            .cast(org.apache.spark.sql.types.DecimalType(18, 8))))
    val summary = shares.agg(sum("term").as("psi_sum"),
      sum(when(col("base_cnt").isNull || col("cur_cnt").isNull, 1L)
        .otherwise(0L)).as("n_cells_onesided"))
    shares.crossJoin(broadcast(summary))
      .select(col("cell").cast("int").as("cell"),
        coalesce(col("base_cnt"), lit(0L)).as("base_cnt"),
        coalesce(col("cur_cnt"), lit(0L)).as("cur_cnt"),
        round(col("base_share"), 6).as("base_share6"),
        round(col("cur_share"), 6).as("cur_share6"),
        col("term").cast("double").as("term8"),
        round(col("psi_sum").cast("double"), 4).as("psi4"),
        col("n_cells_onesided"),
        round(col("bd").cast("double") / col("n_base"), 6).as("base_mdist6"),
        round(col("cd").cast("double") / col("n_cur"), 6).as("cur_mdist6"),
        (coalesce(col("psi_sum").cast("double"), lit(0.0)) > 0.2)
          .as("is_shifted"))
      .orderBy("cell")
  }

  /** §2 #219 — `ivf_drift`: the oracle-checked instantiation of
    * [[ivfDriftFrom]] under the static quantizer, run over BOTH
    * verdict classes so the monitor demonstrates its own
    * discrimination. Baseline = 80% of the embeddings (vec_id % 5 ≠ 0,
    * the "index build" corpus); the remaining 20% is ingested twice:
    *  - scenario `stable`: unchanged — same distribution, PSI must
    *    stay far under the 0.2 threshold (`is_shifted` = false);
    *  - scenario `shifted`: every coordinate mean-shifted by +0.5
    *    (≈ 4σ of the embedding elements — the shifted vectors point
    *    at the all-ones direction and pile into the few cells whose
    *    centroids face it), so the monitor must flag
    *    `is_shifted` = true.
    * Everything — assignment, shares, 8-dp PSI terms, distance terms
    * — is replayed exactly by `Ann.ivfDriftOracle` (float addition is
    * replayed as double-add-then-cast, exact because a float + 0.5
    * fits double precision). */
  def ivfDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val v = vectors(spark, sfDir).select(col("vec_id"), col("embedding"))
    val base = v.filter(col("vec_id") % 5 =!= 0)
    val delta = v.filter(col("vec_id") % 5 === 0)
    val shifted = delta.select(col("vec_id"),
      transform(col("embedding"), x => x + lit(0.5f)).as("embedding"))
    val cents = staticCentroids()
    ivfDriftFrom(base, base.unionByName(delta), cents)
      .withColumn("scenario", lit("stable"))
      .unionByName(
        ivfDriftFrom(base, base.unionByName(shifted), cents)
          .withColumn("scenario", lit("shifted")))
      .orderBy("scenario", "cell")
  }

  /** [[ivfDrift]] against a LIVE index artifact: baseline = the
    * artifact's `drift_baseline/` snapshot (per-cell stats pinned at
    * [[ivfIndexBuild]]/[[ivfIndexRebuild]] time), current = base +
    * every live stream delta — the production monitor a deployment
    * schedules beside [[ivfIndexCompact]]. The snapshot is what makes
    * that scheduling safe: compaction folds deltas into `assigned/`,
    * so a baseline re-derived from the base rows (the pre-r15
    * behavior, kept as the fallback for artifacts that predate the
    * snapshot) resets to the already-drifted population at every fold
    * — on a fallback artifact, evaluate drift BEFORE compacting.
    * Cells are re-derived with the artifact's own centroids (one
    * map-only pass, bit-identical to the stored assignment —
    * SimilaritySpec proves the equality to [[ivfDriftFrom]] on the
    * same frames). */
  def ivfDriftFromIndex(spark: SparkSession, dir: String): DataFrame = {
    val ivf = openIvf(spark, dir)
    val cents = ivf.centroids
    val all = ivf.rows
    val cur = all.select("vec_id", "embedding")
    val snap = new org.apache.hadoop.fs.Path(s"$dir/drift_baseline")
    val fs = snap.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(snap))
      ivfDriftFromStats(spark.read.parquet(s"$dir/drift_baseline"),
        cur, cents)
    else
      ivfDriftFrom(
        all.filter(col("batch_id").isNull).select("vec_id", "embedding"),
        cur, cents)
  }

  /** §2 #220 — `ivf_drift_impact`: what the drift [[ivfDrift]] flags
    * actually COSTS, measured. For queries drawn from the NEW
    * (post-ingest) distribution, serve them through the unchanged
    * quantizer against the current corpus and publish, per scenario:
    * recall@k vs the brute truth over the same corpus, and the probed
    * candidate volume (the pruning bill — probed-cell population sums,
    * no vector join). The drifted scenario's signature is the real
    * IVF failure mode: recall can HOLD (the new vectors crowd into the
    * same cells their neighbors landed in) while the candidate volume
    * per query explodes toward a full scan — pruning, not recall, is
    * what dies first, which is why `is_shifted` means retrain even
    * when spot-checked answers still look right. Same deterministic
    * scenario construction as [[ivfDrift]]; everything is replayed by
    * `Ann.ivfDriftImpactOracle`. */
  def ivfDriftImpact(spark: SparkSession, sfDir: String, nQueries: Int = 10,
                     k: Int = 5, nProbe: Int = 4): DataFrame = {
    val cents = staticCentroids()
    val v = vectors(spark, sfDir).select(col("vec_id"), col("embedding"))
    val base = v.filter(col("vec_id") % 5 =!= 0)
    val stable = v.filter(col("vec_id") % 5 === 0)
    val shifted = stable.select(col("vec_id"),
      transform(col("embedding"), x => x + lit(0.5f)).as("embedding"))
    def withNrm(df: DataFrame) = df.select(col("vec_id"), col("embedding"),
      l2norm(col("embedding")).as("nrm"))
    def cellsOf(n: Int) =
      graft.functions.VectorQuantize.nearestCells(col("embedding"), cents, n)
    def one(tag: String, delta: DataFrame): DataFrame = {
      val corpus = withNrm(base.unionByName(delta))
      val queries = withNrm(delta.filter(col("vec_id") < nQueries * 5))
      val qf = queries.select(col("vec_id").as("query_id"),
        col("embedding").as("e_q"), col("nrm").as("n_q"))
      val cf = corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("e_c"), col("nrm").as("n_c"))
      // brute truth over the CURRENT corpus (broadcast query side)
      val truth = rankTopK(cf.join(broadcast(qf),
          col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          cosineWithNorms(dot(col("e_q"), col("e_c")), col("n_q"),
            col("n_c")).as("cos")), k)
        .select("query_id", "neighbor_id")
      val served = serveFrames(corpus, queries, Some(cents), nProbe, Exact,
        TopK(k))
        .select("query_id", "neighbor_id")
      // the pruning bill: probed-cell population, no vector join (each
      // query's own vector sits in its probed top cell — subtract)
      val cellCounts = corpus.select(element_at(cellsOf(1), 1).as("cell"))
        .groupBy("cell").agg(count(lit(1)).as("cnt"))
      val nCand = queries
        .select(col("vec_id").as("query_id"), explode(cellsOf(nProbe)).as("cell"))
        .join(cellCounts, Seq("cell"))
        .agg((sum("cnt") - lit(nQueries.toLong)).as("n_candidates"))
      val hits = served.join(truth, Seq("query_id", "neighbor_id"))
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
        .crossJoin(nCand)
        .select(lit(tag).as("scenario"), col("n_truth"), col("n_hit"),
          round(col("n_hit") / col("n_truth"), 4).as("recall4"),
          col("n_candidates"),
          round(col("n_candidates") / lit(nQueries.toDouble), 2)
            .as("cand_per_query2"))
    }
    one("stable", stable).unionByName(one("shifted", shifted))
      .orderBy("scenario")
  }

  /** Impact metrics ([[ivfDriftImpact]]'s measurement core) served
    * FROM a live artifact: brute truth over the artifact corpus, probe
    * hits through the stored cell layout, and the probed-cell
    * candidate volume, for a (vec_id, embedding) query frame whose
    * vectors are in the corpus (the own-vector probe row is
    * subtracted from the candidate bill, as in [[ivfDriftImpact]]). */
  private[graft] def ivfImpactFromIndex(spark: SparkSession, dir: String,
                                        queries: DataFrame, nQueries: Int,
                                        k: Int, nProbe: Int): DataFrame = {
    val ivf = openIvf(spark, dir)
    val cents = ivf.centroids
    val assigned = ivf.rows
    val q = queries.select(col("vec_id"), col("embedding"),
      l2norm(col("embedding")).as("nrm"))
    val qf = q.select(col("vec_id").as("query_id"),
      col("embedding").as("e_q"), col("nrm").as("n_q"))
    val cf = assigned.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("e_c"), col("nrm").as("n_c"))
    val truth = rankTopK(cf.join(broadcast(qf),
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineWithNorms(dot(col("e_q"), col("e_c")), col("n_q"),
          col("n_c")).as("cos")), k)
      .select("query_id", "neighbor_id")
    val served = annServeFromIndex(spark, dir,
        queries.select("vec_id", "embedding"), nProbe, k)
      .select("query_id", "neighbor_id")
    val cellCounts = assigned.groupBy("cell").agg(count(lit(1)).as("cnt"))
    val nCand = q.select(col("vec_id").as("query_id"),
        explode(graft.functions.VectorQuantize.nearestCells(
          col("embedding"), cents, nProbe)).as("cell"))
      .join(cellCounts, Seq("cell"))
      .agg((sum("cnt") - lit(nQueries.toLong)).as("n_candidates"))
    val hits = served.join(truth, Seq("query_id", "neighbor_id"))
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hit"))))
      .crossJoin(broadcast(nCand))
      .select(col("n_truth"), col("n_hit"),
        round(col("n_hit") / col("n_truth"), 4).as("recall4"),
        col("n_candidates"),
        round(col("n_candidates") / lit(nQueries.toDouble), 2)
          .as("cand_per_query2"))
  }

  /** §2 #221 — `ivf_rebuild`: the measured proof of
    * [[ivfIndexRebuild]] on [[ivfDrift]]'s drifted scenario, exercised
    * through the REAL artifact path end-to-end. Build the index on the
    * 80% base (static quantizer), land the mean-shifted 20% as a live
    * stream delta (the [[graft.streaming.StreamIvfIndex]] shape), and
    * publish the monitor + impact summary per phase:
    *  - `pre` (drifted, old quantizer): `is_shifted` fires (PSI > 0.2
    *    against the build-time `drift_baseline/` snapshot) and the
    *    probed candidate volume is inflated — the [[ivfDriftImpact]]
    *    signature where pruning, not recall, is what drift kills;
    *  - `post` (after [[ivfIndexRebuild]]): PSI is exactly 0 against
    *    the RESET baseline (the monitor restarts from the rebuilt
    *    population) and the candidate volume is restored toward the
    *    balanced ~nProbe/nCells fraction, at recall ≥ the pre phase.
    * The oracle (`Ann.ivfRebuildOracle`) replays both phases — the post
    * quantizer is the deterministically-trained k-means the oracle
    * inlines, the `Ann.ivfTrainedOracle` doctrine. */
  def ivfRebuild(spark: SparkSession, sfDir: String, nQueries: Int = 10,
                 k: Int = 5, nProbe: Int = 4, nCells: Int = 16): DataFrame = {
    val v = vectors(spark, sfDir).select(col("vec_id"), col("embedding"))
    val base = v.filter(col("vec_id") % 5 =!= 0)
    val shifted = v.filter(col("vec_id") % 5 === 0).select(col("vec_id"),
      transform(col("embedding"), x => x + lit(0.5f)).as("embedding"))
    // per-run UUID subdir: concurrent runs must not overwrite each
    // other's artifact mid-read (the annIvfIndexed stance)
    val dir = ExportImport.runScratch("ivf-rebuild")
    ivfIndexBuild(spark, base, dir, staticCentroids())
    graft.streaming.StreamIvfIndex.applyBatch(shifted, 0L, dir)
    val queries = shifted.filter(col("vec_id") < nQueries * 5)
    def phase(tag: String): DataFrame =
      ivfDriftFromIndex(spark, dir)
        .agg(max("psi4").as("psi4"), max("is_shifted").as("is_shifted"),
          max("n_cells_onesided").as("n_cells_onesided"))
        .crossJoin(broadcast(
          ivfImpactFromIndex(spark, dir, queries, nQueries, k, nProbe)))
        .select(lit(tag).as("phase"), col("psi4"), col("is_shifted"),
          col("n_cells_onesided"), col("n_truth"), col("n_hit"),
          col("recall4"), col("n_candidates"), col("cand_per_query2"))
    // the pre-phase summary must be MATERIALIZED before the rebuild
    // mutates the artifact under the lazy plan (1 row — bounded
    // witness, the convergence-witness stance)
    val pre = phase("pre").collect().toSeq
    ivfIndexRebuild(spark, dir, nCells)
    val post = phase("post")
    spark.createDataFrame(
        spark.sparkContext.parallelize(pre, 1), post.schema)
      .unionByName(post)
      .orderBy("phase")
  }

  /** PQ-DISTORTION rollup of one corpus under one codebook set: per
    * sub-space `(m, cnt, esum)` where the per-(vector, sub-space) term
    * is the exact squared reconstruction error of the CHOSEN codeword,
    * `round(‖s‖² − 2·dot(s,c) − 2·bias(c), 8)` as DECIMAL(18,8) — with
    * bias = −‖c‖²/2 the three-term form IS ‖s−c‖², spelled so a SQL
    * replay adds the same doubles in the same order, and the decimal
    * sum is order-independent (the [[driftStats]] doctrine one level
    * down the compression stack). This is the quantity ADC serving
    * loses: the shortlist score is dot(q, c) instead of dot(q, s), so
    * growing ‖s−c‖² IS growing shortlist error — a distortion monitor
    * needs no query set.
    *
    * Scale shape: ONE stacked map-only pass over the corpus (the
    * [[trainPqCodebooks]] iteration shape — each row explodes into
    * nSub (m, sub-vector) rows in-task, codebooks ride along as
    * broadcast literals) + one ≤nSub-row hash aggregate. */
  private[graft] def pqDistortionStats(v: DataFrame,
      cbs: Array[Array[Array[Double]]], tag: String): DataFrame = {
    val nSub = cbs.length
    val sub = cbs.head.head.length
    val stackArgs = (0 until nSub)
      .map(mi => s"$mi, slice(embedding, ${mi * sub + 1}, $sub)")
      .mkString(", ")
    val errCol = (0 until nSub).foldLeft(lit(null).cast("double")) {
      (acc, mi) =>
        val code = element_at(graft.functions.VectorQuantize
          .nearestCellsBiased(col("s"), cbs(mi), l2Biases(cbs(mi)), 1), 1)
        val cw = element_at(typedLit(cbs(mi).map(_.toSeq).toSeq), code + 1)
        val bias = element_at(typedLit(l2Biases(cbs(mi)).toSeq), code + 1)
        when(col("m") === mi,
          dot(col("s"), col("s")) - lit(2.0) * dot(col("s"), cw)
            - lit(2.0) * bias).otherwise(acc)
    }
    v.select(expr(s"stack($nSub, $stackArgs) AS (m, s)"))
      .select(col("m"), round(errCol, 8)
        .cast(org.apache.spark.sql.types.DecimalType(18, 8)).as("e"))
      .groupBy("m")
      .agg(count(lit(1)).as(s"${tag}_cnt"), sum(col("e")).as(s"${tag}_esum"))
  }

  /** PQ-STALENESS verdict from a build-time baseline: per sub-space,
    * mean squared reconstruction error of the CURRENT corpus under the
    * FIXED codebooks vs the baseline stats pinned when those codebooks
    * were trained ([[ivfPqIndexAdd]]'s `pq_baseline/` snapshot — the
    * `drift_baseline/` doctrine applied to the PQ leg, because a
    * baseline re-derived from the base rows would silently reset to
    * the already-drifted population after every compaction fold).
    * `is_stale` flags `ratio4 > staleRatio` — both engines compare the
    * SAME 6-dp/4-dp rounded doubles, so the verdict replays exactly. */
  def pqDriftFromStats(baseStats: DataFrame, cur: DataFrame,
                       cbs: Array[Array[Array[Double]]],
                       staleRatio: Double = 1.5): DataFrame =
    baseStats.join(pqDistortionStats(cur, cbs, "cur"), Seq("m"))
      .select(col("m").cast("int").as("m"),
        col("base_cnt"), col("cur_cnt"),
        round(col("base_esum").cast("double") / col("base_cnt"), 6)
          .as("base_mse6"),
        round(col("cur_esum").cast("double") / col("cur_cnt"), 6)
          .as("cur_mse6"))
      .withColumn("ratio4", round(col("cur_mse6") / col("base_mse6"), 4))
      .withColumn("is_stale", col("ratio4") > staleRatio)
      .orderBy("m")

  /** §2 #225 — `pq_drift`: the PQ-leg staleness monitor, oracle-checked
    * over both verdict classes (the [[ivfDrift]] experiment one level
    * down the compression stack). [[ivfPqIndexAdd]]'s re-sync path
    * deliberately REUSES stored codebooks, so after a drifted ingest is
    * folded into the base the re-encoded codes stay marker-consistent
    * (`_synced_to` passes) while ADC distortion grows — the shortlist
    * degrades with nothing in the serving path saying so. This is the
    * measurement that says so. Codebooks train on the 80% base slice
    * (the "index build" corpus — [[trainPqCodebooks]]' deterministic
    * init draws the base's own first 16 rows by id; the oracle inlines
    * EXACTLY the trained model); the held-out 20% is ingested twice:
    *  - scenario `stable`: unchanged — same distribution, per-sub-space
    *    reconstruction error stays ≈ baseline (`is_stale` = false);
    *  - scenario `shifted`: every coordinate +0.5 (≈ 4σ) — the
    *    sub-vectors leave the codeword cloud, distortion jumps an
    *    order of magnitude, every sub-space must flag `is_stale`.
    * Everything downstream of the trained model — code argmin, the
    * three-term error, 8-dp decimal sums, 6-dp means, the 4-dp ratio
    * and the flag — is replayed exactly by `Ann.pqDriftOracle`. */
  def pqDrift(spark: SparkSession, sfDir: String,
              staleRatio: Double = 1.5): DataFrame = {
    val v = vectors(spark, sfDir).select(col("vec_id"), col("embedding"))
    val base = v.filter(col("vec_id") % 5 =!= 0)
    val delta = v.filter(col("vec_id") % 5 === 0)
    val shifted = delta.select(col("vec_id"),
      transform(col("embedding"), x => x + lit(0.5f)).as("embedding"))
    val cbs = withTrainCache(base)(trainPqCodebooks(_))
    val baseStats = pqDistortionStats(base, cbs, "base")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    TransientCaches.register(baseStats)
    def scen(tag: String, cur: DataFrame) =
      pqDriftFromStats(baseStats, cur, cbs, staleRatio)
        .withColumn("scenario", lit(tag))
    scen("stable", base.unionByName(delta))
      .unionByName(scen("shifted", base.unionByName(shifted)))
      .select(col("scenario"), col("m"), col("base_cnt"), col("cur_cnt"),
        col("base_mse6"), col("cur_mse6"), col("ratio4"), col("is_stale"))
      .orderBy("scenario", "m")
  }

  /** [[pqDrift]] against a LIVE index artifact: baseline = the
    * `pq_baseline/` snapshot [[ivfPqIndexAdd]] pins whenever it TRAINS
    * codebooks (fresh add or `retrain = true` — never on a re-sync,
    * which is exactly what keeps the monitor honest across compaction
    * folds), current = base + every live stream delta. This closes the
    * last silent-degradation path in the ANN serving family: the
    * marker discipline proves the codes COVER the corpus, this proves
    * they still FIT it. On `is_stale`, the action is
    * `ivfPqIndexAdd(retrain = true)` (codebooks re-trained on the
    * current base, codes re-encoded, baseline re-pinned) — wired into
    * the one-call cadence by [[graft.api.Graft.maintainIvfIndex]]. */
  def pqDriftFromIndex(spark: SparkSession, dir: String,
                       staleRatio: Double = 1.5): DataFrame = {
    val ivf = openIvf(spark, dir)
    require(ivf.hasPqBaseline,
      s"no PQ distortion baseline at $dir/pq_baseline — ivfPqIndexAdd " +
        "pins it when it trains codebooks; a pre-pq_drift artifact " +
        "needs one retrain (ivfPqIndexAdd(retrain = true)) to start " +
        "monitoring")
    // measure distortion in the leg's ENCODING space — the space the
    // baseline was pinned in and whose reconstruction error degrades
    // its ADC shortlist; a torn codebook unit refuses
    val pq = ivf.pq
    pqDriftFromStats(spark.read.parquet(s"$dir/pq_baseline"),
      ivf.rows.select(col("vec_id"),
        pq.space(col("embedding")).as("embedding")),
      pq.cbs, staleRatio)
  }

  /** The full inverted-list table of an index artifact: the base build
    * plus any `stream/batch_id=N` deltas the continuous maintainer
    * ([[graft.streaming.StreamIvfIndex]]) has landed — so serving sees
    * continuously-ingested vectors with no code change. Existence of
    * the delta root resolves through the Hadoop FileSystem of the
    * path's scheme (same stance as
    * [[Sketches.readSketchStates]]). Cell partition pruning holds on
    * both legs: `cell` is a partition column of the base AND of every
    * delta batch. */
  def readIvfAssigned(spark: SparkSession, dir: String): DataFrame =
    openIvf(spark, dir).rows.drop("batch_id")

  /** Serve (vec_id, embedding) queries straight from the index
    * artifact: no re-train, no corpus re-assignment — broadcast probes
    * join the cell-partitioned inverted lists. */
  def annServeFromIndex(spark: SparkSession, dir: String, queries: DataFrame,
                        nProbe: Int = 4, k: Int = 5): DataFrame =
    serveIndex(openIvf(spark, dir), raw = true, queries, nProbe, Exact,
      TopK(k))

  /** Build an index artifact in a fresh per-run scratch dir (concurrent
    * runs must not overwrite each other's artifact mid-read), then serve
    * the fixture's first `nQueries` vectors from it — the shared body of
    * the §2 `ann_*_indexed` queries. */
  private def servedFromScratch(spark: SparkSession, sfDir: String,
                                kind: String, nQueries: Int)
                               (build: String => Unit)
                               (serveFrom: (String, DataFrame) => DataFrame)
      : DataFrame = {
    val dir = ExportImport.runScratch(kind)
    build(dir)
    serveFrom(dir, Tables.load(spark, sfDir, "embeddings")
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding")))
  }

  /** §2 #150 — IVF serving FROM THE ARTIFACT: build the index once
    * (static quantizer, so `Ann.ivfStaticOracle` replays the whole
    * pipeline), then serve the standard query set from it. Output is
    * identical to [[annIvfStatic]] by construction — same assignment,
    * same probes, same ranking — which the shared oracle and
    * SimilaritySpec both pin. */
  def annIvfIndexed(spark: SparkSession, sfDir: String, nProbe: Int = 4,
                    nQueries: Int = 10, k: Int = 5): DataFrame =
    servedFromScratch(spark, sfDir, "ivf-index", nQueries)(
      ivfIndexToDir(spark, sfDir, _))(annServeFromIndex(spark, _, _, nProbe, k))

  /** SQ8 serving FROM an IVF index artifact: like
    * [[annServeFromIndex]] but stage 1 scores the probed cells with
    * [[graft.functions.Sq8Dequant]]'s 1-byte-per-dim serving vectors and
    * stage 2 exact-reranks the bounded shortlist — the query-time seam
    * that turns any existing IVF artifact into the 4×-cheaper-scan
    * serving mode with NO new artifact format or lifecycle (sq8
    * encoding is deterministic per vector, so there is nothing to
    * train, snapshot, or drift-monitor — the whole point of the rung). */
  def annServeSq8FromIndex(spark: SparkSession, dir: String,
                           queries: DataFrame, nProbe: Int = 4, k: Int = 5,
                           shortlistFactor: Int = 8): DataFrame =
    serveIndex(openIvf(spark, dir), raw = true, queries, nProbe, Sq8,
      TopK(k, shortlistFactor))

  /** §2 #237 — IVF-SQ8 serving FROM THE ARTIFACT: build the standard
    * IVF index once (static quantizer, the [[annIvfIndexed]] stance),
    * then serve the query set through [[annServeSq8FromIndex]] —
    * proving the artifact seam extends to the 4×-cheaper sq8 scan with
    * zero new lifecycle surface. Bit-identical to the inline pipeline
    * under the same quantizer, which the shared oracle
    * (`Ann.ivfSq8StaticOracle`) and SimilaritySpec both pin. */
  def annIvfSq8Indexed(spark: SparkSession, sfDir: String,
                       nProbe: Int = 4, nQueries: Int = 10,
                       k: Int = 5): DataFrame =
    servedFromScratch(spark, sfDir, "ivf-index", nQueries)(
      ivfIndexToDir(spark, sfDir, _))(
      annServeSq8FromIndex(spark, _, _, nProbe, k))

  /** §2 #238 — MMR DIVERSITY RE-RANK (Maximal Marginal Relevance,
    * Carbonell & Goldstein 1998): greedy top-k that trades relevance
    * against redundancy — pick argmax `λ·cos(q,c) − (1−λ)·max_{s∈S}
    * cos(c,s)` k times. The retrieval-side twin of near-dup removal:
    * a RAG context window or a diverse few-shot set wants the k BEST
    * DISTINCT neighbors, not k copies of the best one; λ=1 degenerates
    * to plain top-k (SimilaritySpec pins that identity exactly).
    *
    * Scale shape: the expensive stage is the same exact shortlist scan
    * every ANN variant uses (bounded TopK, swap in any index path
    * unchanged above the ranking); everything after is
    * shortlist-bounded — the pair stage is (f·k)² rows per query, the
    * k greedy rounds are fixed-size joins over the PERSISTED shortlist/
    * pair frames (KB-sized model state, the truth-frame doctrine), so
    * the selection never touches the corpus again and never loops on
    * the driver. Fully deterministic (ties → lower id), so the DuckDB
    * oracle replays the whole greedy unrolled — STATIC SQL, no trained
    * literals. */
  def annMmr(spark: SparkSession, sfDir: String, nQueries: Int = 10,
             k: Int = 5, shortlistFactor: Int = 8,
             lambda: Double = 0.7): DataFrame = {
    val v = vectors(spark, sfDir)
    annMmrFrames(v, v.filter(col("vec_id") < nQueries), k,
      shortlistFactor, lambda)
  }

  /** Generic two-frame core: MMR-select from ANY (vec_id, embedding)
    * corpus for ANY (vec_id, embedding) query frame (norms recomputed
    * if absent; shared-id rows are excluded as self-matches, disjoint
    * id spaces are simply unaffected). The facade entry point. Stage 1
    * is the exact cosine shortlist of a flat scan (brute scan + bounded
    * TopK). */
  def annMmrFrames(corpus: DataFrame, queryFrame: DataFrame, k: Int = 5,
                   shortlistFactor: Int = 8,
                   lambda: Double = 0.7): DataFrame = {
    val c = if (corpus.columns.contains("nrm")) corpus
            else corpus.withColumn("nrm", l2norm(col("embedding")))
    serveFrames(c, queryFrame, None, 0, Exact,
      Mmr(k, shortlistFactor, lambda))
  }

  /** MMR stages 2–3 over ANY (query_id, neighbor_id, cos) shortlist and
    * (neighbor_id, e_c, n_c) candidate-embedding source — the last step
    * of [[serve]] under [[Mmr]], so the greedy selection arithmetic is
    * one body for the brute, artifact, sq8 and ADC forms.
    *
    * The shortlist is BOUNDED by construction (≤ nQueries ×
    * shortlistFactor·k rows — its producer is always a bounded TopK
    * aggregate), so the pair similarities and the k greedy rounds are
    * model-state work, not data work: they run on the DRIVER over the
    * collected shortlist + its ≤ nQueries·f·k candidate vectors. The
    * previous DataFrame formulation spent ~30 scheduled jobs (~1100
    * shuffle tasks of KB frames) per call on the same arithmetic —
    * pure round-trip overhead at any scale, since the per-round state
    * never exceeds the shortlist. Corpus-scale work stays in stage 1,
    * exactly as before: the only distributed reads here are the
    * shortlist aggregate itself and one In-pruned candidate-vector
    * fetch. Arithmetic is bit-identical: the same left-fold
    * double-cast dot ([[graft.functions.DotProduct]]'s contract), the
    * same cos = dot/(n_a·n_b), msim = max(cab) over selected,
    * mmr = λ·cosq − (1−λ)·msim, tie-break (mmr desc, cand_id asc). */
  private def mmrRerank(shortRaw: DataFrame, cEmb: DataFrame, k: Int,
                        lambda: Double): DataFrame = {
    val spark = shortRaw.sparkSession
    val shortRows = shortRaw
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        col("cos").cast("double"))
      .collect()
    require(shortRows.length <= 2000000,
      s"MMR shortlist collected ${shortRows.length} rows — the bounded " +
        "TopK contract (nQueries x shortlistFactor x k) was violated " +
        "upstream; refusing a corpus-scale driver collect")
    val candIds = shortRows.map(_.getLong(1)).distinct
    // one pruned fetch of the shortlisted candidates' vectors; the
    // fold below casts per element, so float and double corpora agree
    // with the distributed dot's per-element double-cast contract.
    // SMALL id sets (the 400-row default shape) go through isin — a
    // literal In the scan can evaluate without a join. Past 10k ids a
    // literal In is itself a planning hazard (VERDICT-r19 #3: the 2M
    // guard above admits shortlists whose In expression would blow up
    // analysis before any row moves) — switch to a broadcast semi-join
    // against a local id frame: same rows, hash-lookup pruning.
    val candFetch =
      if (candIds.length <= 10000)
        cEmb.filter(col("neighbor_id").isin(candIds.map(Long.box).toSeq: _*))
      else {
        import spark.implicits._
        cEmb.join(broadcast(candIds.toSeq.toDF("neighbor_id")),
          Seq("neighbor_id"), "left_semi")
      }
    val embRows = candFetch
      .select(col("neighbor_id").cast("long"), col("e_c"),
        col("n_c").cast("double"))
      .collect()
    val emb = new scala.collection.mutable.HashMap[Long, (Array[Double], Double)]
    embRows.foreach { r =>
      val a = r.getSeq[Any](1).iterator.map {
        case f: java.lang.Float => f.toDouble
        case d: java.lang.Double => d.doubleValue()
        case x => x.asInstanceOf[Number].doubleValue()
      }.toArray
      emb.put(r.getLong(0), (a, r.getDouble(2)))
    }
    def embOf(id: Long): (Array[Double], Double) = emb.getOrElse(id,
      throw new IllegalArgumentException(
        s"MMR shortlist references neighbor_id=$id with no embedding row in " +
          "the candidate source — shortlist and corpus frames disagree"))
    def cos(aId: Long, bId: Long): Double = {
      val (ea, na) = embOf(aId)
      val (eb, nb) = embOf(bId)
      // loud on ragged vectors, matching DotProduct.compute's contract
      // (the old distributed formulation threw here too)
      require(ea.length == eb.length,
        s"embedding length mismatch: $aId has ${ea.length} dims, " +
          s"$bId has ${eb.length}")
      var s = 0.0
      var i = 0
      val n = ea.length
      while (i < n) { s += ea(i) * eb(i); i += 1 }
      s / (na * nb)
    }
    // greedy per query over the bounded shortlist — identical rounds
    // to the old per-round window/join formulation
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Int, Double, Double)]
    shortRows.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      var remaining = rows.map(r => (r.getLong(1), r.getDouble(2))).toSeq
      var selected = List.empty[Long]
      var r = 1
      while (r <= k && remaining.nonEmpty) {
        val scoredRound = remaining.map { case (cid, cosq) =>
          val msim =
            if (selected.isEmpty) 0.0
            else selected.iterator.map(b => cos(cid, b)).max
          (cid, cosq, lambda * cosq - (1.0 - lambda) * msim)
        }
        val (cid, cosq, mmr) = scoredRound.minBy(t => (-t._3, t._1))
        out += ((qid, cid, r, cosq, mmr))
        selected ::= cid
        remaining = remaining.filterNot(_._1 == cid)
        r += 1
      }
    }
    import spark.implicits._
    out.toSeq.toDF("query_id", "cand_id", "rnk", "cosq", "mmr")
      .select(col("query_id"), col("cand_id").as("neighbor_id"), col("rnk"),
        round(col("cosq"), 6).as("cos6"), round(col("mmr"), 6).as("mmr6"))
      .orderBy("query_id", "rnk")
  }

  /** MMR served FROM the IVF index artifact: stage 1's shortlist comes
    * from the probed inverted lists ([[annServeFromIndex]]'s
    * exact-cosine probe scan, kept to shortlistFactor·k instead of k),
    * stages 2–3 are [[mmrRerank]] unchanged — closing the one gap in
    * the serving matrix where MMR's production shape still paid a full
    * corpus scan per query batch. At nProbe = nCells every cell is
    * probed, the shortlist equals the brute one exactly, and the picks
    * are IDENTICAL to [[annMmrFrames]] (SimilaritySpec pins that, the
    * [[annIvfSq8Indexed]] stance); at production probes the stage-1
    * bill drops to ~nProbe/nCells of the corpus BY LAYOUT.
    *
    * Scale shape: broadcast probes against cell-partitioned inverted
    * lists (partition-pruned for a local query frame — [[probed]]),
    * bounded TopK shortlist, then the
    * greedy rounds over persisted KB-sized frames — the corpus is
    * touched once, in its cheapest indexed form. */
  def annMmrFromIndex(spark: SparkSession, dir: String, queryFrame: DataFrame,
                      nProbe: Int = 4, k: Int = 5, shortlistFactor: Int = 8,
                      lambda: Double = 0.7): DataFrame =
    serveIndex(openIvf(spark, dir), raw = true, queryFrame, nProbe, Exact,
      Mmr(k, shortlistFactor, lambda))

  /** MMR with its stage-1 shortlist from the SQ8 SCAN (VERDICT-r18
    * #4 — compose the diversity re-rank with the cheap scan leg): the
    * probed cells are scored with [[graft.functions.Sq8Dequant]]'s
    * 1-byte/dim serving vectors, a WIDER sq8 pre-shortlist
    * (preFactor·f·k, the [[annServeSq8FromIndex]] two-stage stance) is
    * exact-rescored and cut to the standard f·k, and stages 2–3 are
    * [[mmrRerank]] unchanged — so the greedy selection runs over EXACT
    * cosines while the corpus-scale scan reads 4× less. At full probes
    * the final shortlist equals the brute one whenever the exact
    * top-f·k all sit inside the sq8 top-preFactor·f·k (the fixture
    * does — SimilaritySpec pins picks identical to [[annMmrFrames]]). */
  def annMmrSq8FromIndex(spark: SparkSession, dir: String,
                         queryFrame: DataFrame, nProbe: Int = 4,
                         k: Int = 5, shortlistFactor: Int = 8,
                         lambda: Double = 0.7,
                         preFactor: Int = 2): DataFrame =
    serveIndex(openIvf(spark, dir), raw = true, queryFrame, nProbe, Sq8,
      Mmr(k, shortlistFactor, lambda, preFactor))

  /** §2 #250 — MMR OVER THE SQ8 SCAN, FROM THE ARTIFACT: the standard
    * IVF build (static quantizer) served through
    * [[annMmrSq8FromIndex]] — the diversity re-rank at the 4×-cheaper
    * candidate-scan price with zero new lifecycle surface (sq8
    * encoding is deterministic per vector; nothing new to train,
    * snapshot or monitor). */
  def annMmrSq8Indexed(spark: SparkSession, sfDir: String,
                       nProbe: Int = 4, nQueries: Int = 10, k: Int = 5,
                       shortlistFactor: Int = 8, lambda: Double = 0.7,
                       preFactor: Int = 2): DataFrame =
    servedFromScratch(spark, sfDir, "ivf-index", nQueries)(
      ivfIndexToDir(spark, sfDir, _))(annMmrSq8FromIndex(spark, _, _,
        nProbe, k, shortlistFactor, lambda, preFactor))

  /** §2 #240 — MMR FROM THE ARTIFACT: build the standard IVF index once
    * (static quantizer, the [[annIvfIndexed]] stance), then MMR-select
    * the query set through [[annMmrFromIndex]] at production probes —
    * the diversity re-rank in its serving form. */
  def annMmrIndexed(spark: SparkSession, sfDir: String, nProbe: Int = 4,
                    nQueries: Int = 10, k: Int = 5,
                    shortlistFactor: Int = 8,
                    lambda: Double = 0.7): DataFrame =
    servedFromScratch(spark, sfDir, "ivf-index", nQueries)(
      ivfIndexToDir(spark, sfDir, _))(annMmrFromIndex(spark, _, _, nProbe,
        k, shortlistFactor, lambda))

  /** §2 #96b — INCREMENTAL semantic-dedup decisions: a delta batch of
    * (vec_id, embedding) vectors decided against an accumulated base of
    * KEPT vectors — the embedding twin of the media families' delta
    * path ([[Blob.mediaPhashIncrementalFrom]]'s order-free pairwise
    * rule): a delta vector is 'near' if some same-cell vector with
    * cosine ≥ tau is in the base or has a smaller delta id, 'kept'
    * otherwise. The driver form slices the corpus (base = vec_id
    * multiples of 5, delta = the rest) with the full-corpus trained
    * quantizer, so the oracle replays the identical rule over inlined
    * centroids.
    *
    * Scale shape: delta assignment map-only (broadcast centroids); the
    * probe side of the one cell equi-join is the DELTA only, so a daily
    * increment pays cost ∝ increment — base×base never pairs (the
    * dedup_incremental doctrine in embedding space). */
  def semanticDedupIncremental(spark: SparkSession, sfDir: String,
                               nCells: Int = 16,
                               tau: Double = 0.4): DataFrame = {
    val v = vectors(spark, sfDir)
    val cents = withTrainCache(v)(trainCentroids(_, nCells))
    val base = assignWithCentroids(
      v.filter(col("vec_id") % 5 === 0).select("vec_id", "embedding"),
      cents)
    semanticDedupIncrementalFrom(base,
      v.filter(col("vec_id") % 5 =!= 0).select("vec_id", "embedding"),
      cents, tau)
  }

  /** The shared core over ANY assigned base (cell, vec_id, embedding,
    * nrm — [[readIvfAssigned]]'s shape, so a maintained IVF index IS a
    * valid base) and raw delta — also the micro-batch body of
    * [[graft.streaming.StreamSemanticDedup]]. */
  private[graft] def semanticDedupIncrementalFrom(baseAssigned: DataFrame,
                                                  delta: DataFrame,
                                                  cents: Array[Array[Double]],
                                                  tau: Double): DataFrame = {
    val d = assignWithCentroids(delta.select("vec_id", "embedding"), cents)
    val build = baseAssigned
      .select(col("cell"), col("vec_id"), col("embedding"), col("nrm"))
      .withColumn("b_is_base", lit(true))
      .unionByName(d.withColumn("b_is_base", lit(false)))
    val probe = d.select(col("cell"), col("vec_id").as("id_a"),
      col("embedding").as("e_a"), col("nrm").as("n_a"))
    val blockers = probe
      .join(build.select(col("cell"), col("vec_id").as("id_b"),
        col("embedding").as("e_b"), col("nrm").as("n_b"),
        col("b_is_base")), Seq("cell"))
      .filter(col("b_is_base") || col("id_b") < col("id_a"))
      .filter(col("id_a") =!= col("id_b"))
      .filter(cosineWithNorms(dot(col("e_a"), col("e_b")),
        col("n_a"), col("n_b")) >= tau)
      .select(col("id_a").as("vec_id")).distinct()
      .withColumn("blocked", lit(true))
    d.join(blockers, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(coalesce(col("blocked"), lit(false)), lit("near"))
          .otherwise(lit("kept")).as("decision"))
      .orderBy("vec_id")
  }

  /** §2 #100 — HARD-NEGATIVE mining for contrastive training: for each
    * anchor, the top-k most-similar vectors with a DIFFERENT label —
    * the near-misses that teach an embedding model its decision
    * boundary (the complement of near-dup removal: there we drop
    * same-meaning neighbors, here we keep different-meaning ones).
    * Same scale shape as the brute-force baseline: anchors broadcast,
    * candidates scanned once, bounded TopKByScore ranking; at corpus
    * scale the scan side is replaced by any of the ANN index paths
    * (#27/#39/#89/#90) unchanged above the scoring join. */
  def hardNegatives(spark: SparkSession, sfDir: String,
                    nAnchors: Int = 10, k: Int = 5): DataFrame = {
    val v = vectors(spark, sfDir)
    val anchors = v.filter(col("vec_id") < nAnchors)
      .select(col("vec_id").as("query_id"), col("label").as("lab_q"),
        col("embedding").as("e_q"), col("nrm").as("n_q"))
    val cands = v.select(col("vec_id").as("neighbor_id"),
      col("label").as("lab_c"), col("embedding").as("e_c"),
      col("nrm").as("n_c"))
    rankTopK(
      cands.join(broadcast(anchors), col("lab_q") =!= col("lab_c"))
        .select(col("query_id"), col("neighbor_id"),
          cosineWithNorms(dot(col("e_q"), col("e_c")), col("n_q"), col("n_c"))
            .as("cos")),
      k)
  }

  /** §2 #96 — SEMANTIC dedup (SemDeDup, Abbas et al. 2023): cluster
    * the corpus with the k-means coarse quantizer, then drop any vector
    * that has a lower-id near-duplicate (cosine ≥ tau) in ITS OWN
    * cluster — the embedding-space analogue of exact dedup's
    * keep-the-canonical rule, and the standard way to de-duplicate at
    * the scale where all-pairs cosine is impossible. The decision rule
    * (exists a lower-id in-cell dup) is pairwise and order-free, so the
    * oracle replays it exactly.
    *
    * Scale shape: cell assignment map-only over the broadcast centroid
    * matrix; the only join is within-cell pairs (blocks bounded by the
    * quantizer, ~N/nCells each — at 100 TB nCells grows with the corpus
    * so blocks stay bounded); output decisions via one left join. */
  def semanticDedup(spark: SparkSession, sfDir: String, nCells: Int = 16,
                    tau: Double = 0.4): DataFrame = {
    val v = vectors(spark, sfDir)
    semanticDedupWith(v, withTrainCache(v)(trainCentroids(_, nCells)), tau)
  }

  private def semanticDedupWith(v: DataFrame, cents: Array[Array[Double]],
                                tau: Double): DataFrame = {
    val assigned = v.select(
      element_at(graft.functions.VectorQuantize.nearestCells(
        col("embedding"), cents, 1), 1).as("cell"),
      col("vec_id"), col("embedding"), col("nrm"))
    val a = assigned.select(col("cell"), col("vec_id").as("id_a"),
      col("embedding").as("e_a"), col("nrm").as("n_a"))
    val b = assigned.select(col("cell"), col("vec_id").as("id_b"),
      col("embedding").as("e_b"), col("nrm").as("n_b"))
    val dupOf = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(cosineWithNorms(dot(col("e_a"), col("e_b")),
        col("n_a"), col("n_b")) >= tau)
      .groupBy(col("id_b").as("vec_id"))
      .agg(min(col("id_a")).as("dup_of"))
    assigned.select(col("vec_id"), col("cell"))
      .join(dupOf, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        col("dup_of").isNotNull.as("dropped"), col("dup_of"))
      .orderBy("vec_id")
  }

  /** §2 #229 — SEMANTIC DECONTAMINATION: the embedding-space leg of
    * the decontamination family (exact `decontaminate` → Bloom
    * `bloom_decontaminate` → n-gram `decontaminate_fuzzy` → THIS) —
    * flag every corpus document whose embedding is cosine-≥-tau close
    * to ANY held-out benchmark/eval vector, the paraphrase-robust
    * contamination check text n-grams miss (an eval item rewritten in
    * different words shares no 8-gram but keeps its embedding
    * neighborhood). Eval split = `vec_id % 10 == 0` (the held-out
    * tenth), corpus = the rest.
    *
    * Geometry is [[serve]]'s IVF probe, sides chosen by size: the SMALL
    * eval set probes its `nProbe` nearest cells and broadcasts; the corpus
    * streams through ONE cell equi-join on its single-cell assignment
    * — at 100 TB the corpus never shuffles more than (cell, id) and
    * its vectors are touched map-only, while missing a match requires
    * the pair to straddle all nProbe probed cells (the documented
    * ann_ivf recall trade, tuned by `ivf_probe_sweep`). A corpus doc
    * lives in one cell and a query's probed cells are distinct, so
    * (corpus, eval) pairs are unique by construction — no distinct.
    * Per corpus doc: the contamination verdict, the match count, the
    * worst (highest-cosine, ties → lower id) eval item via the bounded
    * [[graft.functions.TopKByScore]] aggregate, and its cosine —
    * the evidence row a release audit wants. */
  def decontaminateSemantic(spark: SparkSession, sfDir: String,
                            nCells: Int = 16, nProbe: Int = 4,
                            tau: Double = 0.4): DataFrame = {
    val v = vectors(spark, sfDir)
    val cents = withTrainCache(v)(trainCentroids(_, nCells))
    decontaminateSemanticFrom(
      v.filter(col("vec_id") % 10 =!= 0).select("vec_id", "embedding"),
      evalProbesOf(v.filter(col("vec_id") % 10 === 0), cents, nProbe),
      cents, tau)
  }

  /** The eval split's probe rows — (eval_id, cell ×nProbe, vector,
    * norm), the broadcast side of the semantic-contamination join.
    * Computed once per gate (the [[decontaminationGateToDir]] artifact
    * stores them), map-only over the small eval set. */
  private[graft] def evalProbesOf(eval: DataFrame,
                                  cents: Array[Array[Double]],
                                  nProbe: Int): DataFrame =
    eval.select(col("vec_id").as("eval_id"),
      // probing more cells than exist is just "probe everything" —
      // clamp instead of pushing the kernel's bounds check onto
      // callers with small quantizers
      explode(graft.functions.VectorQuantize.nearestCells(
        col("embedding"), cents, math.min(nProbe, cents.length))).as("cell"),
      col("embedding").as("e_q"),
      l2norm(col("embedding")).as("n_q"))

  /** TWO-FRAME semantic-contamination core: gate `corpus` rows
    * (vec_id, embedding) against pre-computed eval probes — the seam
    * [[graft.streaming.StreamDecontaminate]] reuses per micro-batch
    * (verdicts are per-doc independent, so streamed prefixes equal the
    * batch run row-for-row). */
  private[graft] def decontaminateSemanticFrom(corpus: DataFrame,
                                               evalProbes: DataFrame,
                                               cents: Array[Array[Double]],
                                               tau: Double): DataFrame = {
    val assigned = corpus.select(
      element_at(graft.functions.VectorQuantize.nearestCells(
        col("embedding"), cents, 1), 1).as("cell"),
      col("vec_id"), col("embedding").as("e_c"),
      l2norm(col("embedding")).as("n_c"))
    val hits = assigned
      .join(broadcast(evalProbes), Seq("cell"))
      .select(col("vec_id"), col("eval_id"),
        cosineWithNorms(dot(col("e_c"), col("e_q")), col("n_c"),
          col("n_q")).as("cos"))
      .filter(col("cos") >= tau)
    val verdicts = hits.groupBy("vec_id")
      .agg(count(lit(1)).as("n_matches"),
        graft.functions.TopKByScoreAgg.topkByScore(
          col("eval_id"), col("cos"), 1).as("top"))
      .select(col("vec_id"), col("n_matches"),
        col("top")(0).getField("neighbor_id").as("eval_id"),
        round(col("top")(0).getField("cos"), 6).as("max_cos6"))
    corpus.select(col("vec_id"))
      .join(verdicts, Seq("vec_id"), "left")
      .select(col("vec_id"),
        col("n_matches").isNotNull.as("contaminated"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("eval_id"), col("max_cos6"))
      .orderBy("vec_id")
  }

  /** Materialize a SEMANTIC-CONTAMINATION GATE artifact: the trained
    * quantizer plus the eval split's pre-computed probe rows —
    * {{{
    *   dir/centroids/    the fixed quantizer (readIvfCentroids layout)
    *   dir/eval_probes/  (eval_id, cell, e_q, n_q) — nProbe rows each
    * }}}
    * — so a continuous ingest gate ([[graft.streaming
    * .StreamDecontaminate]]) pays the eval-side work ONCE and each
    * micro-batch costs one map-only assignment + one broadcast cell
    * equi-join. The quantizer is fixed at gate build (eval probes are
    * only meaningful under the centroids that produced them). */
  def decontaminationGateToDir(spark: SparkSession, sfDir: String,
                               dir: String, nCells: Int = 16,
                               nProbe: Int = 4): Unit = {
    val v = vectors(spark, sfDir)
    decontaminationGateFrom(spark, v, v.filter(col("vec_id") % 10 === 0),
      dir, nCells, nProbe)
  }

  /** [[decontaminationGateToDir]] over EXPLICIT frames: train the
    * quantizer on `train` (any representative corpus sample — the
    * probes are only meaningful under these centroids) and pin `eval`'s
    * probe rows. Both frames need (vec_id, embedding).
    *
    * Crash consistency: the probes are only meaningful under the
    * centroids written beside them, and the two land in separate
    * writes — so a `_gate_complete` marker is cleared FIRST and
    * re-written LAST, and every gate reader requires it. A crash
    * between the writes (new centroids, stale probes — silently wrong
    * verdicts) leaves no marker and the reader refuses; re-run the
    * build. */
  def decontaminationGateFrom(spark: SparkSession, train: DataFrame,
                              eval: DataFrame, dir: String,
                              nCells: Int = 16, nProbe: Int = 4): Unit = {
    import graft.streaming.StreamIO
    val conf = spark.sparkContext.hadoopConfiguration
    val (fs, marker) = StreamIO.fsFor(s"$dir/_gate_complete", conf)
    if (fs.exists(marker)) fs.delete(marker, false)
    val cents = withTrainCache(train.select("vec_id", "embedding"))(
      trainCentroids(_, nCells))
    import spark.implicits._
    cents.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    evalProbesOf(eval.select("vec_id", "embedding"), cents, nProbe)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/eval_probes")
    StreamIO.writeMarker(dir, "_gate_complete", 1L, conf)
  }

  /** The gate reader's guard: refuse a gate whose completion marker is
    * absent — the build crashed between the centroid and probe writes
    * and the two may disagree (probes under retired centroids serve
    * silently wrong verdicts, the failure mode markers exist for). */
  private[graft] def requireGateComplete(spark: SparkSession,
                                         dir: String): Unit = {
    import graft.streaming.StreamIO
    val conf = spark.sparkContext.hadoopConfiguration
    require(StreamIO.readMarker(dir, "_gate_complete", conf).contains(1L),
      s"contamination gate at $dir carries no _gate_complete marker — " +
        "the build did not finish (the marker lands after both the " +
        "centroids and the probe rows), so the probes may not match " +
        "the centroids. Re-run decontaminationGateFrom.")
  }

  /** [[decontaminateSemantic]] over EXPLICIT frames (both need
    * vec_id, embedding): quantizer trained on corpus ∪ eval (the
    * driver query's stance), then the same probe-broadcast cell
    * equi-join. The batch entry point a library user calls with their
    * own corpus and benchmark tables. */
  def decontaminateSemanticFrames(corpus: DataFrame, eval: DataFrame,
                                  nCells: Int = 16, nProbe: Int = 4,
                                  tau: Double = 0.4): DataFrame = {
    val c = corpus.select("vec_id", "embedding")
    val e = eval.select("vec_id", "embedding")
    // the two frames' vec_id spaces may collide (independently
    // produced tables): dedup the TRAINING union by id so
    // trainCentroids' orderBy(vec_id).limit(nCells) init cannot seed
    // duplicate rows and under-provision the quantizer. The survivor
    // is DETERMINISTIC — corpus row wins a collision (min precedence
    // tag), never dropDuplicates' partition-order pick — so trained
    // centroids and therefore contamination verdicts are reproducible
    // run-to-run. Verdicts are otherwise unaffected (both splits are
    // assigned under the same centroids).
    val train = c.withColumn("prio", lit(0))
      .unionByName(e.withColumn("prio", lit(1)))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("vec_id").orderBy("prio")))
      .filter(col("rn") === 1)
      .select("vec_id", "embedding")
    val cents = withTrainCache(train)(trainCentroids(_, nCells))
    decontaminateSemanticFrom(c, evalProbesOf(e, cents, nProbe), cents, tau)
  }

  /** §2 #233 — DECONTAMINATION-GATE RECALL PRICING: how much of the
    * brute-force contamination verdict does the cell-probed
    * [[decontaminateSemantic]] gate recover, per (nProbe, tau)
    * operating point — the [[annRecallEval]] doctrine applied to the
    * curation family. The gate's spec proves soundness and a recall
    * floor at its defaults; THIS is the table that prices the knobs,
    * because a contamination gate that silently misses tau-close pairs
    * in unprobed cells is the same silent-degradation class `pq_drift`
    * closed for serving.
    *
    * Truth leg: the smallest `nEval` held-out items against the whole
    * corpus — a bounded-broadcast all-pairs check (nEval rows build
    * side, the documented recall-truth shape), NEVER corpus × eval.
    * Gate leg: the same eval items' ranked probe cells joined to the
    * corpus's single-cell assignment — a pair is reachable at nProbe ≥
    * the rank of the corpus doc's cell in the eval item's probe order,
    * so ONE ranked pair frame prices every probe count as a filter.
    * Per (n_probe, tau): brute-flagged docs, gate-flagged docs
    * (a subset, by the gate's soundness), and their ratio = recall. */
  def deconRecallEval(spark: SparkSession, sfDir: String,
                      nCells: Int = 16,
                      probeCounts: Seq[Int] = Seq(1, 2, 4),
                      taus: Seq[Double] = Seq(0.3, 0.4),
                      nEval: Int = 50): DataFrame = {
    val v = vectors(spark, sfDir)
    val cents = withTrainCache(v)(trainCentroids(_, nCells))
    val maxProbe = math.min(probeCounts.max, cents.length)
    val corpus = v.filter(col("vec_id") % 10 =!= 0)
      .select(
        element_at(graft.functions.VectorQuantize.nearestCells(
          col("embedding"), cents, 1), 1).as("cell"),
        col("vec_id"), col("embedding"), col("nrm"))
    // eval sample: the smallest nEval held-out items (ids are dense
    // from 0, so vec_id < nEval*10 picks exactly nEval at any SF)
    val evalS = v.filter(col("vec_id") % 10 === 0 &&
        col("vec_id") < nEval * 10)
      .select(col("vec_id").as("eval_id"), col("embedding").as("e_q"),
        col("nrm").as("n_q"))
    val probes = evalS.select(col("eval_id"), col("e_q"), col("n_q"),
        posexplode(graft.functions.VectorQuantize.nearestCells(
          col("e_q"), cents, maxProbe)).as(Seq("pos", "cell")))
      .select(col("cell"), col("eval_id"), col("e_q"), col("n_q"),
        (col("pos") + 1).as("probe_rank"))
    val pairCos = cosineWithNorms(dot(col("embedding"), col("e_q")),
      col("nrm"), col("n_q"))
    val minTau = taus.min
    // gate-reachable pairs, cheapest tau pre-filter applied once; a
    // corpus doc lives in ONE cell and an item's probed cells are
    // distinct, so pairs are unique by construction
    val pairs = corpus.join(broadcast(probes), Seq("cell"))
      .select(col("vec_id"), col("probe_rank"), pairCos.as("cos"))
      .filter(col("cos") >= minTau)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    TransientCaches.register(pairs)
    val brutePairs = corpus.join(broadcast(evalS), pairCos >= minTau)
      .select(col("vec_id"), pairCos.as("cos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    TransientCaches.register(brutePairs)
    def rowFor(np: Int, tau: Double): DataFrame =
      brutePairs.filter(col("cos") >= tau)
        .agg(countDistinct(col("vec_id")).as("n_brute"))
        .crossJoin(broadcast(
          pairs.filter(col("probe_rank") <= np && col("cos") >= tau)
            .agg(countDistinct(col("vec_id")).as("n_flagged"))))
        .select(lit(np).as("n_probe"), lit(tau).as("tau"),
          col("n_brute"), col("n_flagged"),
          round(col("n_flagged") / col("n_brute"), 4).as("recall4"))
    probeCounts.flatMap(np => taus.map(tau => rowFor(np, tau)))
      .reduce(_.unionByName(_))
      .orderBy("n_probe", "tau")
  }

  /** Random hyperplanes for LSH signatures: nBits × dim, fixed seed. */
  private[graft] def hyperplanes(nBits: Int, dim: Int): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(7)
    Seq.fill(nBits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** `−‖c‖²/2` per codeword: the bias that turns a dot-product argmax
    * into an L2 argmin over UNNORMALIZED codebooks. */
  private[graft] def l2Biases(cb: Array[Array[Double]]): Array[Double] =
    cb.map(c => -0.5 * c.map(x => x * x).sum)

  /** PQ codebooks: one k-means quantizer PER SUB-SPACE. Unlike the IVF
    * coarse quantizer these are PLAIN L2 k-means — codewords keep their
    * magnitudes (a unit 64-dim vector's 8-dim sub-vectors have norm
    * ≈ 1/√8, and normalizing them away wrecks the ADC reconstruction:
    * measured recall@5 was ~0.2 spherical vs 0.7 L2 + re-rank at
    * sf0.01). Same determinism
    * contract as [[trainCentroids]]: init by first vectors, means
    * quantized to 1e-6 per iteration, so the oracle can inline the
    * trained model. */
  private[graft] def trainPqCodebooks(v: DataFrame, m: Int = 8, k: Int = 16,
                                      sub: Int = 8,
                                      iters: Int = 3): Array[Array[Array[Double]]] =
      memoModel(v, s"pq|$m|$k|$sub|$iters") {
    import v.sparkSession.implicits._
    // init: first k vectors BY ID (one bounded collect), sliced per
    // sub-space driver-side — the [[trainCentroids]] sparse-id stance:
    // identical on dense-from-0 fixtures, correct on hole/offset id
    // spaces where `vec_id < k` would under-provision the codebooks.
    // The cast makes the trainer accept BOTH raw `array<float>`
    // embeddings and `array<double>` residual frames (float→double is
    // exact, so the float path is unchanged value-for-value).
    val init = v.orderBy("vec_id").limit(k)
      .select(col("embedding").cast("array<double>"))
      .as[Array[Double]].collect()
    var cbs: Array[Array[Array[Double]]] =
      Array.tabulate(m)(mi => init.map(_.slice(mi * sub, (mi + 1) * sub)))
    // ALL sub-spaces per iteration in ONE job: stack each row into its m
    // (sub-space, sub-vector) rows, branch the argmin on the sub-space
    // id, aggregate every (m, cell, pos) mean at once — iters+1 jobs
    // total instead of m×(iters+1), and one corpus pass per iteration,
    // which is the distributed-training shape that matters at scale.
    val stackArgs = (0 until m)
      .map(mi => s"$mi, slice(embedding, ${mi * sub + 1}, $sub)")
      .mkString(", ")
    for (_ <- 1 to iters) {
      val cellCol = (0 until m).foldLeft(lit(null).cast("int")) { (acc, mi) =>
        when(col("m") === mi,
          element_at(graft.functions.VectorQuantize.nearestCellsBiased(
            col("s"), cbs(mi), l2Biases(cbs(mi)), 1), 1)).otherwise(acc)
      }
      val means = v
        .select(expr(s"stack($m, $stackArgs) AS (m, s)"))
        .select(col("m"), cellCol.as("cell"),
          posexplode(col("s")).as(Seq("pos", "x")))
        .groupBy("m", "cell", "pos")
        .agg(avg(col("x")).as("mn"))
        .collect()
      val next = Array.tabulate(m)(mi => cbs(mi).map(_.clone()))
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
          math.rint(r.getDouble(3) * 1e6) / 1e6
      }
      cbs = next
    }
    cbs
  }

  /** §2 #89 — PRODUCT-QUANTIZATION ANN (Jégou et al. 2011): each 64-dim
    * vector is encoded as 8 sub-space codes (4 bits each — 8 codes vs
    * 256 raw bytes, the 32× compression an ANN index stores at 100 TB);
    * queries score candidates ASYMMETRICALLY (ADC): the full query
    * sub-vector against the candidate's reconstructed codeword, summed
    * over sub-spaces in fixed order; the ADC shortlist (4k ids) is then
    * EXACT-reranked by true cosine — the standard two-stage serving
    * shape (compressed scan → tiny exact gather).
    *
    * Scale shape: encoding is MAP-ONLY (one [[graft.functions.NearestCells]]
    * L2-argmin per sub-space over the broadcast codebook — zero
    * exchanges); the big scan reads the CODES table (8 ints/vector),
    * never raw embeddings; shortlisting uses the bounded
    * [[graft.functions.TopKByScore]] aggregate (≤ 4k rows per query per
    * partition); the re-rank gathers only R×Q full vectors by an
    * id equi-join. The whole pipeline — encode, ADC, shortlist,
    * re-rank — is replayed exactly by `Ann.pqTrainedOracle`. */
  def annPq(spark: SparkSession, sfDir: String,
            nQueries: Int = 10, k: Int = 5): DataFrame = {
    val v = vectors(spark, sfDir)
    serveFirst(v, nQueries, None, 0, Pq(withTrainCache(v)(trainPqCodebooks(_))),
      TopK(k))
  }

  /** §2 #234 — SQ8 ANN (scalar-quantized flat scan, the FAISS
    * `SQfp8`/`QT_8bit` serving mode): stage 1 scores EVERY candidate by
    * `cos(q, dequant_i8(x))` — the asymmetric distance over
    * [[graft.functions.Sq8Dequant]]'s int8 storage leg that #120 (embedding_quantize)
    * writes and #121 (quantize_eval) prices — and stage 2 exact-reranks
    * the bounded shortlist (the [[serve]] core shared with the PQ
    * family). The compression rung BETWEEN raw floats and PQ: 4× smaller
    * scan than float32 (1 byte/dim + one scale per vector) with far less
    * distortion than 8×4-bit PQ, no training, no codebook lifecycle —
    * the right serving mode when storage is the constraint but recall
    * must stay near-exact ([[annRecallEvalPq]] prices it against the PQ
    * ladder). Quantization is deterministic per vector, so the DuckDB
    * oracle is STATIC SQL — no trained literals.
    *
    * Scale shape: identical to [[annBruteforce]]'s broadcast-query scan
    * but over 1-byte codes instead of 4-byte floats; shortlist ranking
    * is the bounded [[graft.functions.TopKByScore]] aggregate (exchange
    * carries ≤ shortlist rows per query per partition); the exact
    * re-rank gathers only shortlist×queries float vectors by equi-join. */
  def annSq8(spark: SparkSession, sfDir: String,
             nQueries: Int = 10, k: Int = 5,
             shortlistFactor: Int = 8): DataFrame = {
    serveFirst(vectors(spark, sfDir), nQueries, None, 0, Sq8,
      TopK(k, shortlistFactor))
  }

  /** §2 #236 — IVF-SQ8 (the FAISS `IndexIVFScalarQuantizer(QT_8bit)`
    * composition): the coarse quantizer (#39/#66) composed with int8
    * scalar quantization (#234) — the sub-linear-scan × recall-free-
    * compression point of the serving ladder. A query probes its
    * `nProbe` nearest cells and sq8-scores ONLY those cells' rows (the
    * scan shrinks by ~nProbe/nCells AND reads 1 byte/dim instead of 4 —
    * the two savings multiply, the IVFADC argument at 4× instead of
    * 32×); the shortlist is exact-reranked by true cosine. Because sq8
    * scoring is near-exact (#226 measures recall 1.00 for the flat
    * scan), the probe pattern is the ONLY recall loss: SimilaritySpec
    * pins this output equal to [[annIvf]]'s at the same operating
    * point — you pay 4× less scan IO for identical answers.
    *
    * Same scale shape as [[annIvfPq]]: map-only assignment over
    * broadcast centroids, cell equi-join against the ≤ nQueries×nProbe
    * broadcast probe set, bounded TopK both stages. Everything
    * downstream of the trained quantizer is replayed exactly by
    * `Ann.ivfSq8TrainedOracle`. */
  def annIvfSq8(spark: SparkSession, sfDir: String, nCells: Int = 16,
                nProbe: Int = 4, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val v = vectors(spark, sfDir)
    serveFirst(v, nQueries, Some(withTrainCache(v)(trainCentroids(_, nCells))),
      nProbe, Sq8, TopK(k))
  }

  /** §2 #90 — IVFADC (Jégou et al. 2011 §IV): the coarse quantizer
    * (#39/#66) composed with product quantization (#89) — the actual
    * 100 TB serving index. Every vector is coarse-assigned to one cell
    * AND PQ-encoded, both MAP-ONLY over broadcast model state; a query
    * probes its `nProbe` nearest cells and ADC-scores ONLY the codes in
    * those cells (the scan shrinks by ~nProbe/nCells AND reads 8 ints
    * per candidate instead of 256 raw bytes — the two compressions
    * multiply); the shortlist is exact-reranked by true cosine.
    *
    * Cells partition the corpus and a query's probed cells are
    * distinct, so (query, candidate) pairs are unique by construction —
    * no distinct. Both ranking stages are the bounded
    * [[graft.functions.TopKByScore]] aggregate. Everything downstream
    * of the two trained models is replayed exactly by
    * `Ann.ivfPqTrainedOracle`. */
  def annIvfPq(spark: SparkSession, sfDir: String, nCells: Int = 16,
               nProbe: Int = 4, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val v = vectors(spark, sfDir)
    val (cents, cbs) =
      withTrainCache(v)(vc => (trainCentroids(vc, nCells),
        trainPqCodebooks(vc)))
    serveFirst(v, nQueries, Some(cents), nProbe, Pq(cbs), TopK(k))
  }

  /** §2 #241 — OPQ IVFADC serving FROM THE ARTIFACT: the
    * [[annIvfPqIndexed]] lifecycle with an OPQ-rotated PQ leg
    * (`ivfPqIndexAdd(rotation = Some(R))`) — the serving form of
    * [[annPqOpq]]'s measured recall lift, which until this query could
    * not be served from the artifact at all (the rotation had no slot
    * in the codebook unit). The `_rotation` marker beside the
    * codebooks tells serving to rotate the query before the ADC dots,
    * and the same marker steers re-sync, `pq_drift`, and retrain.
    * Identical to inline IVF-OPQ serving under the same models
    * (SimilaritySpec pins it; shared `Ann.ivfPqOpqTrainedOracle`). */
  def annIvfPqOpqIndexed(spark: SparkSession, sfDir: String,
                         nProbe: Int = 4, nQueries: Int = 10,
                         k: Int = 5): DataFrame =
    pqServedFromScratch(spark, sfDir, nQueries)((vc, _) =>
      trainOpqRotation(vc))((dir, opq) =>
      ivfPqIndexAdd(spark, dir, Some(opq._2), rotation = Some(opq._1)))(
      annServeFromPqIndex(spark, _, _, nProbe, k))

  /** (vec_id, cell, res) for every corpus vector: its coarse cell and
    * the DOUBLE-precision residual `e − c(e)` — the quantity a residual
    * product quantizer trains on and encodes. Float elements are cast
    * to double BEFORE the subtract (exact), so DuckDB's
    * `CAST(x AS DOUBLE) − c` replays it bit-for-bit; the residual is
    * never rounded back to float. zip_with is CodegenFallback, but it
    * runs once per corpus ROW on map-only passes (train/encode), never
    * on the per-pair ADC hot path. */
  private[graft] def residualAssigned(v: DataFrame,
                               cents: Array[Array[Double]]): DataFrame =
    v.select(col("vec_id"), col("embedding"),
        element_at(graft.functions.VectorQuantize.nearestCells(
          col("embedding"), cents, 1), 1).as("cell"))
      .withColumn("res", residualOf(cents, col("embedding")))

  /** `e − cents(cell)` per element, in double (reads the `cell` column). */
  private def residualOf(cents: Array[Array[Double]], e: Column): Column =
    zip_with(e, element_at(typedLit(cents.map(_.toSeq).toSeq), col("cell") + 1),
      (x, c) => x.cast("double") - c)

  /** §2 #227 — IVFADC with RESIDUAL encoding (Jégou et al. 2011 §IV-A —
    * the composition the paper actually recommends): PQ codes quantize
    * `e − c(e)` (the vector's offset from its coarse centroid) instead
    * of the raw vector. Residuals of a cell concentrate near 0 with far
    * smaller variance than the raw corpus, so the SAME m×k codebook
    * budget spends its codewords on a much tighter distribution —
    * measured recall@5 at sf0.01 rises vs raw-encoded [[annIvfPq]]
    * (see `ann_recall_eval_pq`'s table) at IDENTICAL storage (8 nibble
    * codes/vector) and identical scan shape. ADC recovers
    * `dot(q, c + recon(codes)) = dot(q, c) + Σ_m dot(q_m, cw_m)`: one
    * extra per-(query, probed-cell) centroid dot — constant work per
    * probe pair, computed from the broadcast models, nothing new moves.
    *
    * Scale shape is [[annIvfPq]]'s unchanged: assignment + residual +
    * encoding are ONE map-only pass over broadcast model state; the ADC
    * scan reads codes of probed cells only; both ranking stages are the
    * bounded [[graft.functions.TopKByScore]] aggregate; the re-rank
    * gathers shortlist×queries full vectors by equi-join. Everything
    * downstream of the two trained models is replayed exactly by
    * `Ann.ivfPqResidualTrainedOracle`. */
  def annIvfPqResidual(spark: SparkSession, sfDir: String, nCells: Int = 16,
                       nProbe: Int = 4, nQueries: Int = 10,
                       k: Int = 5): DataFrame = {
    val v = vectors(spark, sfDir)
    val (cents, cbs) = withTrainCache(v) { vc =>
      val cents = trainCentroids(vc, nCells)
      // codebooks train on the residual frame — [[trainPqCodebooks]]
      // is dimension- and type-agnostic (array<double> residuals)
      (cents, trainPqCodebooks(
        residualAssigned(vc, cents).select(col("vec_id"),
          col("res").as("embedding"))))
    }
    serveFirst(v, nQueries, Some(cents), nProbe, Pq(cbs, Some(cents)),
      TopK(k))
  }

  /** PQ (ADC) ACCELERATION LEG for the IVF index artifact — the
    * 32×-compressed scan table a 100 TB deployment actually serves
    * from. Derived strictly FROM the artifact: codebooks trained on
    * the artifact's own BASE rows (reused untouched when `codebooks/`
    * already exists — the re-sync path), every base vector PQ-encoded
    * map-only, codes landed cell-partitioned beside `assigned/`:
    * {{{
    *   dir/codes/      (vec_id, c0..c{m-1})  PARTITIONED BY cell
    *   dir/codebooks/  (m, cell, codeword)   m×k×sub model state
    * }}}
    * `assigned/` stays the ground truth (exact re-rank gathers from
    * it); `codes/` is the acceleration structure, version-consistent
    * by construction and by marker:
    *  - codes cover `assigned/` — this encode covers the rows present
    *    now and [[ivfIndexAppend]] encodes every later batch it adds;
    *    live `stream/batch_id=N` deltas serve through the exact fresh
    *    path ([[annServeFromPqIndex]]), the sealed-segments-compressed
    *    / fresh-buffer-exact split of every production ANN engine;
    *  - a `_synced_to` marker inside `codes/` records the base
    *    compaction watermark the encode saw; after [[ivfIndexCompact]]
    *    folds deltas into the base the markers disagree and serving
    *    REFUSES loudly until `ivfPqIndexAdd` re-syncs (a map-only
    *    re-encode with the stored codebooks — same order of work as
    *    the compaction that invalidated it);
    *  - [[ivfIndexRebuild]] swaps the whole artifact, so stale codes
    *    cannot survive a quantizer retrain: `codes/` simply vanishes
    *    and serving refuses until a re-add retrains codebooks under
    *    the new quantizer.
    * Pass `codebooks` to reuse an externally trained model (the
    * bench/oracle path trains once on the cached corpus and shares the
    * literals with the SQL replay).
    *
    * ENCODING MODE: `residual = Some(true)` trains/encodes the leg in
    * RESIDUAL space (`e − c(e)` under the artifact's own centroids and
    * stored cell assignment — [[annIvfPqResidual]]'s higher-recall
    * form at identical storage); the mode is pinned as a `_residual`
    * marker beside the codebooks and every later verb follows it:
    * serving adds the centroid ADC term, re-sync re-encodes residuals,
    * `pq_drift` measures distortion in residual space, and a plain
    * `retrain = true` keeps the mode. `None` (the default) keeps the
    * stored mode — raw for a fresh leg — so existing cadences never
    * change encoding by omission. A RE-SYNC cannot change the mode
    * (codes from one space scored under another space's codebooks
    * would be silently wrong): passing a contradicting `Some` without
    * `retrain` refuses loudly. NOTE a quantizer rebuild drops the leg
    * with its marker — [[graft.api.Graft.maintainIvfIndex]] captures
    * the mode before rebuilding and restates it on the re-add; a
    * manual rebuild + re-add must do the same.
    *
    * WHENEVER the codebooks are (re)trained — fresh add, explicit
    * `codebooks`, or `retrain = true` — the per-sub-space distortion
    * of the base under them is pinned as `pq_baseline/`
    * ([[pqDistortionStats]]): the build-time truth
    * [[pqDriftFromIndex]] monitors against. A pure re-sync leaves the
    * baseline UNTOUCHED (it re-encodes an already-drifted base, and a
    * re-derived baseline would reset the monitor at every compaction
    * fold — the `drift_baseline/` lesson). `retrain = true` is the
    * action `is_stale` calls for: codebooks re-trained on the CURRENT
    * base, codes re-encoded, baseline re-pinned — distortion returns
    * to the trained-fit level (SimilaritySpec measures the round
    * trip). */
  def ivfPqIndexAdd(spark: SparkSession, dir: String,
                    codebooks: Option[Array[Array[Array[Double]]]] = None,
                    retrain: Boolean = false,
                    residual: Option[Boolean] = None,
                    rotation: Option[Array[Array[Double]]] = None,
                    opq: Option[Boolean] = None)
      : Unit = {
    // the PQ serving path scores RAW queries (annServeFromPqIndex is
    // raw-only); a PQ leg over a whitened artifact would be
    // unreachable by construction — refuse the build, not just the serve
    val ivf = openIvf(spark, dir)
    ivf.requireRaw()
    import graft.streaming.StreamIO
    val conf = spark.sparkContext.hadoopConfiguration
    val base = spark.read.parquet(s"$dir/assigned")
    require(!(opq.contains(false) && rotation.isDefined),
      "opq = Some(false) contradicts an explicit rotation")
    require(rotation.isEmpty || codebooks.isDefined,
      "an explicit rotation needs its matching codebooks (OPQ " +
        "codebooks are trained in the rotated space — passing one " +
        "half would pair models from two spaces)")
    val reuseStored = codebooks.isEmpty && rotation.isEmpty && !retrain &&
      ivf.hasCodebooks
    // resolve the encoding mode BEFORE touching anything: stored mode
    // when a consistent leg exists (residualMode REFUSES a torn
    // codebook unit — consulted lazily, so a retrain that states its
    // mode recovers a torn leg instead of tripping on it), else the
    // caller's choice, else raw
    val mode: Boolean =
      if (reuseStored) {
        val m = ivf.residualMode.getOrElse(false)
        require(residual.forall(_ == m),
          s"PQ leg at $dir is ${if (m) "residual" else "raw"}-encoded; " +
            "a re-sync cannot change the encoding (codes from one " +
            "space under another space's codebooks are silently " +
            "wrong). Pass retrain = true to re-train in the new mode.")
        m
      } else residual.orElse(ivf.residualMode).getOrElse(false)
    // the rotation (OPQ) mode resolves by the SAME doctrine: stored on
    // a pure re-sync (a contradicting `opq` refuses — rotated-space
    // codes under unrotated scoring are silently wrong, and vice
    // versa), else the caller's choice, else the stored mode, else off
    val rotMode: Boolean =
      if (codebooks.isDefined) {
        // an explicit model pair IS the unit: its rotation mode is
        // whether a rotation came with it (the codebooks were trained
        // in that rotation's space). The stored mode CANNOT leak in
        // here — inheriting _rotation=1 while encoding with an
        // unrotated external model would write a unit whose marker
        // and codes disagree, exactly the silent mismatch the marker
        // doctrine exists to prevent.
        require(opq.forall(_ == rotation.isDefined),
          "opq contradicts the explicit model pair: pass the rotation " +
            "together with its codebooks (they are one unit), or drop " +
            "the opq flag")
        require(rotation.isDefined || opq.isDefined ||
            !ivf.rotationMode.getOrElse(false),
          s"PQ leg at $dir is OPQ-rotated but the explicit codebooks " +
            "came without a rotation — refusing the silent downgrade. " +
            "Pass rotation = Some(R) to stay OPQ, or opq = Some(false) " +
            "to deliberately re-key unrotated.")
        rotation.isDefined
      } else if (reuseStored) {
        val m = ivf.rotationMode.getOrElse(false)
        require(opq.forall(_ == m),
          s"PQ leg at $dir is ${if (m) "OPQ-rotated" else "unrotated"}; " +
            "a re-sync cannot change the rotation mode. Pass retrain = " +
            "true to re-train in the new mode.")
        m
      } else opq.orElse(ivf.rotationMode).getOrElse(false)
    // residual mode subtracts the artifact's own centroid per the
    // STORED cell assignment — the exact quantity serving adds back
    lazy val cents = ivf.centroids
    // resolve (rotation, codebooks) TOGETHER — OPQ codebooks only make
    // sense in their rotation's space, so the pair travels as a unit
    val (rot, cbs): (Option[Array[Array[Double]]],
                     Array[Array[Array[Double]]]) =
      if (codebooks.isDefined) (rotation, codebooks.get)
      else if (reuseStored)
        (if (rotMode) Some(ivf.rotation) else None, ivf.codebooks)
      else {
        // the trainers see the residual/raw space; OPQ learns its
        // rotation on top of it
        val vecs = base.select(col("cell"), col("vec_id"),
            (if (mode) residualOf(cents, col("embedding"))
             else col("embedding")).as("embedding"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // sub-space width stays 8; the COUNT of sub-spaces follows the
        // artifact's actual embedding dim, so the leg works on any
        // 8-divisible dimension, not just the 64-dim fixture
        try {
          val dim = vecs.select(size(col("embedding"))).head().getInt(0)
          require(dim % 8 == 0, s"PQ sub-space width is 8: embedding " +
            s"dim $dim must be divisible by 8")
          if (rotMode) {
            val (r, c) = trainOpqRotation(
              vecs.select(col("vec_id"), col("embedding")), m = dim / 8)
            (Some(r), c)
          } else (None, trainPqCodebooks(vecs, m = dim / 8, sub = 8))
        }
        finally { vecs.unpersist(blocking = false); () }
      }
    val codec = Pq(cbs, if (mode) Some(cents) else None, rot)
    val rows = base.select(col("cell"), col("vec_id"), col("embedding"))
    codec.encode(rows)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/codes")
    // the codebook UNIT (codebooks + baseline + mode marker) is
    // written ONLY when it changed — a pure re-sync re-encodes codes
    // and leaves the unit byte-for-byte alone, so no crash window in
    // a re-sync can tear it. On a (re)train the marker lands LAST:
    // a crash inside the unit write leaves no marker and every
    // reader ([[IvfArtifact.residualMode]]) refuses rather than pairing
    // codebooks with a guessed encoding space or a stale baseline.
    if (!reuseStored) {
      import spark.implicits._
      cbs.zipWithIndex.flatMap { case (cb, mi) =>
        cb.zipWithIndex.map { case (cw, ci) => (mi, ci, cw.toSeq) }
      }.toSeq.toDF("m", "cell", "codeword")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
      // the rotation member lands inside the unit too (d×d doubles of
      // model state), before the baseline and markers; a unit trained
      // WITHOUT a rotation removes any stale member from a previous
      // OPQ vintage (readers key on the marker, but a dead member
      // invites exactly the manual-surgery tear IvfArtifact.rotation
      // guards)
      rot match {
        case Some(r) =>
          r.zipWithIndex.map { case (row, j) => (j, row.toSeq) }.toSeq
            .toDF("j", "rv")
            .coalesce(1).write.mode("overwrite").parquet(s"$dir/rotation")
        case None =>
          StreamIO.deleteRecursively(s"$dir/rotation", conf)
      }
      // the distortion baseline pins in the ENCODING space (residual
      // distortion is what a residual leg's ADC loses; a rotated leg's
      // in ROTATED space — that is the reconstruction its ADC reads) —
      // inside the unit, before the markers, so a stale baseline can
      // never pair with fresh codebooks
      pqDistortionStats(rows.select(col("cell"), col("vec_id"),
          codec.space(col("embedding")).as("embedding")), cbs, "base")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/pq_baseline")
      // markers land LAST, `_residual` very last: residualMode's
      // completeness doctrine keys on it, so a crash anywhere inside
      // the unit (including between the two markers) leaves a unit
      // every reader refuses — the rotation can never be half-adopted
      StreamIO.writeMarker(s"$dir/codebooks", "_rotation",
        if (rotMode) 1L else 0L, conf)
      StreamIO.writeMarker(s"$dir/codebooks", "_residual",
        if (mode) 1L else 0L, conf)
    }
    // pin the coverage: codes encode the base as of this compaction
    // watermark — serving compares and refuses a stale scan table
    StreamIO.writeMarker(s"$dir/codes", "_synced_to",
      ivf.compactedThrough.getOrElse(-1L), conf)
  }

  /** PQ codebooks back from an artifact's `codebooks/` (bounded:
    * m × k × sub doubles — model state, never data), collected once per
    * version of `codebooks/` (shared, read-only). */
  def readPqCodebooks(spark: SparkSession,
                      dir: String): Array[Array[Array[Double]]] =
    openIvf(spark, dir).codebooks

  /** IVFADC serving FROM THE ARTIFACT: ADC shortlist over the probed
    * cells of the compressed `codes/` table (8 ints per candidate —
    * the scan [[annIvfPq]] builds inline every call, here read from
    * the materialized leg with cell partition pruning), live deltas
    * routed straight to the exact stage (fresh-buffer semantics: a
    * delta vector is never ADC-approximated and can never be
    * shortlist-pruned), and one exact cosine re-rank over the union,
    * gathering full vectors by id from `assigned/`. Refuses loudly
    * when `codes/` is absent (run [[ivfPqIndexAdd]]) or predates the
    * base's compaction watermark (re-sync — see [[ivfPqIndexAdd]]).
    * With no live deltas the output is IDENTICAL to [[annIvfPq]] under
    * the same models (SimilaritySpec; shared `Ann.ivfPqTrainedOracle`).
    *
    * `shortlistFactor = 0` (the default) resolves MODE-AWARE from the
    * leg's stored `_residual` marker: 4 for a residual leg, 8 for raw
    * — [[pqShortlistSweepResidual]] prices residual f=4 at the same
    * recall as raw f=8 (0.80 at sf0.01), so the residual default buys
    * HALF the exact-gather bill for free. Explicit callers are
    * untouched (any positive factor is used as passed). */
  def annServeFromPqIndex(spark: SparkSession, dir: String,
                          queries: DataFrame, nProbe: Int = 4, k: Int = 5,
                          shortlistFactor: Int = 0): DataFrame = {
    require(shortlistFactor >= 0,
      s"shortlistFactor must be positive (or 0 = mode-aware default): " +
        s"$shortlistFactor")
    // mode-aware default: residual ADC holds raw-f=8 recall at f=4
    // (pqShortlistSweepResidual), so the residual leg's default
    // gathers half the candidates for the same answer quality
    servePqLeg(spark, dir, queries, nProbe)(pq => TopK(k,
      if (shortlistFactor > 0) shortlistFactor
      else if (pq.residualCentroids.isDefined) 4 else 8))
  }

  /** The PQ leg's serving, shared by the top-k serve
    * ([[annServeFromPqIndex]]) and the MMR-over-ADC form
    * ([[annMmrPqFromIndex]]): every staleness/mode/rotation guard, then
    * [[serve]] over the `codes/` cells with live deltas as the fresh
    * rows (codes never cover `stream/`, so the two legs are disjoint)
    * and the exact gather from `assigned/` ∪ deltas. */
  private def servePqLeg(spark: SparkSession, dir: String,
                         queries: DataFrame, nProbe: Int)
                        (rank: Pq => Rank): DataFrame = {
    val ivf = openIvf(spark, dir)
    ivf.requireRaw()
    ivf.requirePqSynced()
    val all = ivf.rows
    serve(ivf.codes.withColumnRenamed("vec_id", "neighbor_id"),
      fullRows(all), queryRows(queries), Some(ivf.centroids), nProbe, ivf.pq,
      rank(ivf.pq), Some(all.filter(col("batch_id").isNotNull)
        .select(col("cell"), col("vec_id").as("neighbor_id"))))
  }

  /** MMR with its stage-1 shortlist from the ADC SCAN of the PQ leg
    * (the VERDICT-r18 #4 composition taken to its cheapest rung): the
    * probed `codes/` cells are ADC-scored (8 ints per candidate — the
    * 32×-compressed read path), a WIDER pre-shortlist (preFactor·f·k,
    * the [[annMmrSq8FromIndex]] two-stage stance) is exact-rescored
    * and cut to the standard f·k, and stages 2–3 are [[mmrRerank]]
    * unchanged — the diversity re-rank with the corpus-scale scan at
    * ADC price while the greedy selection runs over EXACT cosines.
    * Live deltas join the exact pool unpruned (fresh-buffer
    * semantics). At full probes the picks equal the brute [[annMmr]]
    * whenever the exact top-f·k all sit inside the ADC
    * top-preFactor·f·k — ADC's 4-bit codes are a far coarser sketch
    * than sq8's bytes, so that takes a WIDER preFactor (8 on the
    * fixture where sq8 needed 2; SimilaritySpec pins the equality at
    * that budget, [[pqShortlistSweep]] prices the operating points). */
  def annMmrPqFromIndex(spark: SparkSession, dir: String,
                        queryFrame: DataFrame, nProbe: Int = 4,
                        k: Int = 5, shortlistFactor: Int = 8,
                        lambda: Double = 0.7,
                        preFactor: Int = 2): DataFrame = {
    require(shortlistFactor > 0 && preFactor > 0,
      s"MMR needs explicit positive factors: f=$shortlistFactor, " +
        s"pre=$preFactor")
    servePqLeg(spark, dir, queryFrame, nProbe)(_ =>
      Mmr(k, shortlistFactor, lambda, preFactor))
  }

  /** Train the coarse quantizer plus a PQ model once on the fixture,
    * build the IVF artifact + its PQ leg in a scratch dir
    * (`ivfPqIndexAdd(codebooks, …)` as `addPq` states it), and serve
    * the standard query set — the shared body of the §2
    * `ann_*pq*_indexed` queries. */
  private def pqServedFromScratch[M](spark: SparkSession, sfDir: String,
                                     nQueries: Int)
      (train: (DataFrame, Array[Array[Double]]) => M)
      (addPq: (String, M) => Unit)
      (serveFrom: (String, DataFrame) => DataFrame): DataFrame = {
    val v = vectors(spark, sfDir)
    val (cents, model) = withTrainCache(v) { vc =>
      val c = trainCentroids(vc, 16)
      (c, train(vc, c))
    }
    servedFromScratch(spark, sfDir, "ivfpq-index", nQueries) { dir =>
      ivfIndexBuild(spark, v.select("vec_id", "embedding"), dir, cents)
      addPq(dir, model)
    }(serveFrom)
  }

  /** §2 #254 — MMR OVER THE ADC SCAN, FROM THE ARTIFACT: train both
    * models once (the [[annIvfPqIndexed]] doctrine), build the IVF
    * artifact + its PQ leg, then MMR-select the standard query set
    * through [[annMmrPqFromIndex]] — the serving ladder's diversity
    * rung at its cheapest candidate-scan price (raw exact probe →
    * sq8 → ADC, each spec-pinned equal to the brute greedy at full
    * probes on the fixture). */
  def annMmrPqIndexed(spark: SparkSession, sfDir: String,
                      nProbe: Int = 4, nQueries: Int = 10, k: Int = 5,
                      shortlistFactor: Int = 8, lambda: Double = 0.7,
                      preFactor: Int = 2): DataFrame =
    pqServedFromScratch(spark, sfDir, nQueries)((vc, _) =>
      trainPqCodebooks(vc))(
      (dir, cbs) => ivfPqIndexAdd(spark, dir, Some(cbs)))(
      annMmrPqFromIndex(spark, _, _, nProbe, k, shortlistFactor, lambda,
        preFactor))

  /** §2 #222 — IVFADC serving FROM THE ARTIFACT: train both models
    * once (the [[annIvfPq]] doctrine), build the IVF artifact + its PQ
    * leg, then serve the standard query set from the materialized
    * index. Output is identical to [[annIvfPq]] by construction — same
    * models, same ADC shortlist, same exact re-rank — which the shared
    * `Ann.ivfPqTrainedOracle` and SimilaritySpec both pin (the
    * [[annIvfIndexed]] pattern, one level up the compression stack). */
  def annIvfPqIndexed(spark: SparkSession, sfDir: String, nProbe: Int = 4,
                      nQueries: Int = 10, k: Int = 5): DataFrame =
    pqServedFromScratch(spark, sfDir, nQueries)((vc, _) =>
      trainPqCodebooks(vc))((dir, cbs) => ivfPqIndexAdd(spark, dir, Some(cbs)))(
      annServeFromPqIndex(spark, _, _, nProbe, k))

  /** §2 #228 — RESIDUAL IVFADC serving FROM THE ARTIFACT: the
    * [[annIvfPqIndexed]] lifecycle with a residual-encoded PQ leg
    * (`ivfPqIndexAdd(residual = Some(true))`) — the artifact form of
    * [[annIvfPqResidual]], proving the higher-recall encoding survives
    * the materialize/marker/serve path bit-identically (shared
    * `Ann.ivfPqResidualTrainedOracle`): the `_residual` marker beside
    * the codebooks tells serving to add the centroid ADC term, and the
    * same marker steers re-sync, `pq_drift`, and retrain — so the
    * production cadence keeps the recall gain without any caller
    * branching on encoding. */
  def annIvfPqResidualIndexed(spark: SparkSession, sfDir: String,
                              nProbe: Int = 4, nQueries: Int = 10,
                              k: Int = 5): DataFrame =
    pqServedFromScratch(spark, sfDir, nQueries)((vc, cents) =>
      trainPqCodebooks(residualAssigned(vc, cents).select(col("vec_id"),
        col("res").as("embedding"))))((dir, cbsR) =>
      ivfPqIndexAdd(spark, dir, Some(cbsR), residual = Some(true)))(
      // factor pinned to the inline pipeline's 8: this query PROVES
      // artifact serving ≡ the inline residual pipeline at the same
      // operating point (shared oracle). The mode-aware serving default
      // (residual → 4) is spec-pinned separately in SimilaritySpec.
      annServeFromPqIndex(spark, _, _, nProbe, k, shortlistFactor = 8))

  /** R·x as a column: one codegen'd dot per output dimension over the
    * broadcast rotation rows — map-only, like every encode step in the
    * PQ family. Output is `array<double>` (the trainers' and ADC's
    * encoding-space type). */
  private[graft] def rotCol(r: Array[Array[Double]], x: Column): Column =
    array(r.map(row => dot(x, typedLit(row.toSeq))): _*)

  /** [[rotCol]] over a (vec_id, embedding) frame. */
  private def rotatedFrame(v: DataFrame,
                           r: Array[Array[Double]]): DataFrame =
    v.select(col("vec_id"), rotCol(r, col("embedding")).as("embedding"))

  /** OPQ rotation training (Ge et al., CVPR 2013 §4 — the
    * non-parametric alternation): starting from R = I, repeat
    * { train PQ codebooks on R·x; fix the codes and solve the
    * orthogonal Procrustes problem min_R ||R·X − Y||_F over the
    * reconstructions Y }, then train final codebooks under the final
    * R. The Procrustes solve is SVD(Σ x·yᵀ) = UΣVᵀ → R = V·Uᵀ, a
    * d×d driver-side problem (model state, never data); the cross
    * matrix is one distributed treeAggregate pass over (original,
    * reconstruction) pairs. Every aggregate is rounded to 1e-6 (the
    * [[trainCentroids]] determinism stance) so the trained R is
    * reproducible bit-for-bit and can be inlined by the oracle. */
  private[graft] def trainOpqRotation(v: DataFrame, m: Int = 8,
                                      k: Int = 16, sub: Int = 8,
                                      iters: Int = 2)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) =
      memoModel(v, s"opq|$m|$k|$sub|$iters") {
    val d = m * sub
    var r: Array[Array[Double]] =
      Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    for (_ <- 1 to iters) {
      val cbs = trainPqCodebooks(rotatedFrame(v, r), m, k, sub)
      // reconstruction of R·x under the current codebooks: encode the
      // rotated vector, concatenate the selected codewords
      val coded = Pq(cbs, rotation = Some(r)).encode(v.select(
        col("embedding").cast("array<double>").as("x"), col("embedding")))
      val xy = coded.select(col("x"),
        flatten(array((0 until m).map(mi =>
          element_at(typedLit(cbs(mi).map(_.toSeq).toSeq),
            col(s"c$mi") + 1)): _*)).as("y"))
      // M = Σ x·yᵀ — d² doubles of model state off one corpus pass
      val flat = xy.select(col("x"), col("y")).rdd
        .treeAggregate(new Array[Double](d * d))(
          (acc, row) => {
            val x = row.getSeq[Double](0)
            val y = row.getSeq[Double](1)
            var i = 0
            while (i < d) {
              val xi = x(i); var j = 0
              while (j < d) { acc(i * d + j) += xi * y(j); j += 1 }
              i += 1
            }
            acc
          },
          (a, b) => {
            var i = 0
            while (i < a.length) { a(i) += b(i); i += 1 }
            a
          })
        .map(x => math.rint(x * 1e6) / 1e6)
      // maximize tr(R·M): M = UΣVᵀ → R = V·Uᵀ (orthogonal Procrustes)
      // (the DenseMatrix ctor is column-major; flat is row-major → .t)
      val mMat = new breeze.linalg.DenseMatrix(d, d, flat).t.copy
      val breeze.linalg.svd.SVD(u, _, vt) = breeze.linalg.svd(mMat)
      val rNew = vt.t * u.t
      r = Array.tabulate(d, d)((i, j) =>
        math.rint(rNew(i, j) * 1e6) / 1e6)
    }
    (r, trainPqCodebooks(rotatedFrame(v, r), m, k, sub))
  }

  /** §2 #232 — OPTIMIZED PRODUCT QUANTIZATION ANN (Ge et al., CVPR
    * 2013): [[annPq]] with a trained orthogonal rotation applied
    * before the sub-space split — the remaining public-knowledge rung
    * of the PQ ladder (PQ → IVFADC → residual → OPQ). The rotation
    * redistributes variance across sub-spaces so the same 8×4-bit
    * code budget loses less; serving cost is IDENTICAL to raw PQ
    * (rotating a query is one d×d mat-vec over broadcast model state,
    * then the same compressed ADC scan), so the recall delta in
    * [[annRecallEvalPq]]'s `ann_pq_opq` row is the whole price
    * question. Stage 1 ranks ADC in rotated space; stage 2 exact-
    * reranks in the ORIGINAL space (rotation preserves cosine). */
  def annPqOpq(spark: SparkSession, sfDir: String,
               nQueries: Int = 10, k: Int = 5): DataFrame = {
    val v = vectors(spark, sfDir)
    val (r, cbs) = withTrainCache(v)(trainOpqRotation(_))
    serveFirst(v, nQueries, None, 0, Pq(cbs, rotation = Some(r)), TopK(k))
  }

  /** §2 #27 — LSH-bucketed ANN: 16 sign bits → 8 bands × 2 bits; a
    * candidate is scored only if it shares ≥1 band with the query.
    * Band width trades candidate count against recall: the synthetic
    * embeddings are near-uniform (LSH's worst case), so bands are short;
    * clustered production embeddings would use wider bands for a larger
    * candidate-set reduction at the same recall.
    * Approximate (weak oracle) — SimilaritySpec asserts recall vs the
    * brute-force baseline. */
  def annLsh(spark: SparkSession, sfDir: String,
             nQueries: Int = 10, k: Int = 5): DataFrame = {
    val planes = hyperplanes(16, 64)
    val bitCols: Seq[Column] = planes.map { h =>
      val lits = array(h.map(lit): _*)
      when(dot(col("embedding"), lits) > 0, "1").otherwise("0")
    }
    val v = vectors(spark, sfDir)
    // candidate generation moves (band_key, id) pairs ONLY — the band
    // join and the pair-distinct exchange never carry embeddings (at
    // 100 TB the 64-float payload is ~30× the id, so this is the
    // difference between shuffling ids and shuffling the corpus)
    val banded = v.withColumn("bits", concat(bitCols: _*))
      .select(col("vec_id"),
        explode(expr(
          """transform(sequence(0, 7), b ->
               concat(b, ':', substring(bits, b*2 + 1, 2)))""")).as("band_key"))
    val qIds = banded.filter(col("vec_id") < nQueries)
      .select(col("band_key"), col("vec_id").as("query_id"))
    val cIds = banded.select(col("band_key"), col("vec_id").as("neighbor_id"))
    val pairIds = qIds.join(cIds, Seq("band_key"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .dropDuplicates("query_id", "neighbor_id")

    // embeddings re-join AFTER the distinct: query side broadcast (tiny),
    // candidate side one hash join on the already-deduped pairs
    val qv = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("e_q"),
        col("nrm").as("n_q"))
    val cv = v.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("e_c"), col("nrm").as("n_c"))
    rankTopK(
      pairIds
        .join(broadcast(qv), Seq("query_id"))
        .join(cv, Seq("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          cosineWithNorms(dot(col("e_q"), col("e_c")), col("n_q"), col("n_c"))
            .as("cos")),
      k)
  }

  /** §2 #203 — BINARY SIGN-SKETCH ANN serve: 63-bit sign codes (bit i
    * = embedding[i] > 0, dims 0..62 so the code stays clear of the
    * BIGINT sign bit in BOTH engines) → Hamming top-m pre-filter over
    * CODES ONLY → exact-cosine rerank of the m survivors. This is the
    * production "binary codes in RAM, floats on disk" pattern: at
    * 100 TB the 8-byte code column is ~32× smaller than the float
    * vectors, the pre-filter scans codes map-only (queries broadcast,
    * bounded TopK — at most m rows per (query, partition) move), and
    * the float fetch pays only m·nQueries rows. Spark-first: the code
    * packing is one codegen'd `aggregate` over the array, Hamming is
    * xor + bit_count, both stages end in the bounded
    * [[graft.functions.TopKByScore]] aggregate — no window over the
    * corpus, no full-size shuffle anywhere. */
  def annSignSketch(spark: SparkSession, sfDir: String,
                    nQueries: Int = 10, m: Int = 50, k: Int = 5)
      : DataFrame = {
    val coded = vectors(spark, sfDir).withColumn("code", expr(
      """aggregate(sequence(0, 62), CAST(0 AS BIGINT),
           (acc, i) -> acc + IF(element_at(embedding, i + 1) > CAST(0 AS FLOAT),
                                shiftleft(CAST(1 AS BIGINT), i),
                                CAST(0 AS BIGINT)))"""))
    // stage 1: Hamming top-m over the 8-byte codes — the embeddings are
    // NOT in this stage's plan at all (the pre-filter's entire point)
    val q = coded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("code").as("code_q"))
    val c = coded.select(col("vec_id").as("neighbor_id"),
      col("code").as("code_c"))
    val topM = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        // TopKByScore ranks (score DESC, id ASC); negated Hamming makes
        // that (hamming ASC, id ASC) — the oracle's row_number order
        expr("CAST(-bit_count(code_q ^ code_c) AS DOUBLE)").as("cos"))
      .groupBy("query_id")
      .agg(graft.functions.TopKByScoreAgg.topkByScore(
        col("neighbor_id"), col("cos"), m).as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e.neighbor_id").as("neighbor_id"))
    // stage 2: exact-cosine rerank of the m·nQueries survivors — the
    // only rows whose float vectors are ever fetched
    val v = vectors(spark, sfDir)
    val qv = v.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("e_q"),
        col("nrm").as("n_q"))
    val cv = v.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("e_c"), col("nrm").as("n_c"))
    rankTopK(
      topM.join(broadcast(qv), Seq("query_id"))
        .join(cv, Seq("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          cosineWithNorms(dot(col("e_q"), col("e_c")), col("n_q"),
            col("n_c")).as("cos")),
      k)
  }

  /** §2 #76 — embedding QUANTIZATION (int8, per-vector max-abs scale):
    * the compression step an ANN index at 100 TB actually stores —
    * 4 bytes/dim float32 → 1 byte/dim int8 + one scale. Output per
    * vector: the scale, an exact integer checksum of the quantized
    * codes (position-weighted, so any code or permutation change
    * surfaces), and the max reconstruction error.
    *
    * Map-only — zero exchanges (spec-asserted). The arithmetic is the
    * repo's standard cross-engine contract: per-element double casts,
    * left folds, round-half-away — DuckDB reproduces every cell
    * bit-exactly. Reconstruction error is bounded by maxabs/254 by
    * construction (|x·s| ≤ 127 means rounding is the only loss), which
    * the spec asserts row by row. */
  def embeddingQuantize(spark: SparkSession, sfDir: String): DataFrame =
    quantizeFrom(Tables.load(spark, sfDir, "embeddings"))

  /** Generic core: quantize ANY (vec_id, embedding ARRAY<FLOAT>) frame.
    * One fused codegen'd kernel per row ([[graft.functions.QuantizeI8]])
    * — the composed aggregate/zip_with/transform form was an
    * interpreter wall on a full-corpus map (CodegenSpec pins this). */
  def quantizeFrom(embs: DataFrame): DataFrame =
    embs
      .select(col("vec_id"),
        graft.functions.QuantizeI8.quantize(col("embedding")).as("qz"))
      .select(col("vec_id"),
        round(col("qz.scale"), 4).as("scale4"),
        col("qz.checksum").as("checksum"),
        round(col("qz.max_err"), 6).as("max_err6"),
        round(col("qz.maxabs"), 6).as("maxabs6"))
      .orderBy("vec_id")

  /** §2 #121 — QUANTIZATION distortion evaluation: corpus-level cosine
    * distortion of int8 storage (1 - cos(x, dequant(x)) per vector,
    * then count/max/mean) — the third leg of the engine's eval family
    * (dedup_eval, ann_recall_eval): it answers "is int8 safe for THIS
    * corpus" with one number, before 4x-compressing 100 TB of vectors.
    *
    * Map-only fused kernel ([[graft.functions.QuantizeDistortion]]) +
    * ONE aggregate. Per-vector distortion is rounded to 8 dp and the
    * mean is decimal-summed, so the corpus aggregate is independent of
    * row order and partitioning. */
  def quantizeEval(spark: SparkSession, sfDir: String): DataFrame =
    quantizeEvalFrom(Tables.load(spark, sfDir, "embeddings"))

  /** Generic core over ANY (vec_id, embedding) frame. */
  def quantizeEvalFrom(embs: DataFrame): DataFrame =
    embs
      .select(round(
        graft.functions.QuantizeI8.distortion(col("embedding")), 8).as("d8"))
      .agg(count(lit(1)).as("n_vecs"),
        max(col("d8")).as("max_dist8"),
        sum(col("d8").cast("decimal(38,8)")).as("sum_dist8"))
      .select(col("n_vecs"), col("max_dist8"),
        round(col("sum_dist8").cast("double") / col("n_vecs"), 8)
          .as("mean_dist8"))

  /** §2 #164 — EMBEDDING CLASS STATISTICS: per-label centroid norm and
    * the min/max cosine of members to their centroid — the embedding-QA
    * table a pipeline reads before trusting labels for blocking
    * (embedding_dedup) or supervision (label_spread): a tight class has
    * high centroid norm (unit vectors agreeing) and a high cosine
    * floor; centroid_norm ≈ 0 means the label carries no geometry.
    *
    * Scale shape: centroid via posexplode → (label, pos) partial-agg
    * (shuffle bounded by |labels|·dim, NOT by corpus), centroids
    * broadcast back (model state), min/max via one hash agg. Centroid
    * components are quantized to 1e-6 BEFORE use (the IVF-centroid
    * doctrine) so every downstream number is a left-fold over identical
    * doubles in both engines. */
  def embeddingClassStats(spark: SparkSession, sfDir: String): DataFrame =
    embeddingClassStatsFrom(Tables.load(spark, sfDir, "embeddings"))

  /** Per-label 1e-6-quantized centroid + its norm (the IVF-centroid
    * doctrine) — shared by [[embeddingClassStatsFrom]] and
    * [[embeddingOutliersFrom]]. Shuffle bounded by |labels|·dim. */
  private[graft] def labelCentroids(e: DataFrame): DataFrame =
    e.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(round(avg(col("v")), 6).as("m"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("centroid"))
      .select(col("label"), col("centroid"),
        l2norm(col("centroid")).as("cn"))

  /** Generic core over ANY (vec_id, embedding, label) frame. */
  def embeddingClassStatsFrom(e: DataFrame): DataFrame = {
    val cents = labelCentroids(e)
    e.join(broadcast(cents), "label")
      .select(col("label"), col("cn"),
        (dot(col("embedding"), col("centroid"))
          / (l2norm(col("embedding")) * col("cn"))).as("cos"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        round(first(col("cn")), 4).as("centroid_norm"),
        round(min(col("cos")), 4).as("min_cos"),
        round(max(col("cos")), 4).as("max_cos"))
      .orderBy("label")
  }

  /** §2 #200 — EMBEDDING OUTLIERS: per label, Tukey-fence outlier count
    * over member-to-centroid cosines — the row-level complement of
    * #164's min/max: class stats say how tight a label is; this says
    * HOW MANY members sit outside the label's own distribution (the
    * mislabeled/noisy-vector review queue a pipeline drains before
    * trusting labels for blocking or supervision). Cosines are
    * quantized to 1e-4 integers and fences computed with
    * percentile_disc + doubled-integer comparisons — the #98 doctrine,
    * so borderline flags can never flip between engines.
    *
    * Scale shape: centroids are |labels|·dim bounded model state
    * (broadcast); the per-label fence table is a tiny percentile agg
    * (broadcast back); the outlier count is one scan-side hash agg —
    * no window over members, no collect. */
  def embeddingOutliers(spark: SparkSession, sfDir: String): DataFrame =
    embeddingOutliersFrom(Tables.load(spark, sfDir, "embeddings"))

  /** Generic core over ANY (vec_id, embedding, label) frame. */
  def embeddingOutliersFrom(e: DataFrame): DataFrame = {
    val cents = labelCentroids(e)
    val scored = e.join(broadcast(cents), "label")
      .select(col("label"),
        round(dot(col("embedding"), col("centroid"))
          / (l2norm(col("embedding")) * col("cn")) * 10000)
          .cast("long").as("c4"))
    val fences = scored.groupBy("label").agg(
      expr("CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY c4) AS BIGINT)")
        .as("q1_c4"),
      expr("CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY c4) AS BIGINT)")
        .as("q3_c4"))
      .withColumn("iqr", col("q3_c4") - col("q1_c4"))
    // 2·c < 2·q1 − 3·iqr ⇔ c < q1 − 1.5·iqr, in pure integers (#98)
    val isOut = col("c4") * 2 < col("q1_c4") * 2 - col("iqr") * 3 ||
      col("c4") * 2 > col("q3_c4") * 2 + col("iqr") * 3
    scored.join(broadcast(fences), "label")
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        min("q1_c4").as("q1_c4"), min("q3_c4").as("q3_c4"),
        sum(when(isOut, 1L).otherwise(0L)).as("n_outliers"),
        min(when(isOut, col("c4"))).as("min_out_c4"))
      .orderBy("label")
  }

  /** Power-iteration training of the TOP PRINCIPAL COMPONENT: μ is the
    * 1e-6-quantized per-dim mean (the centroid doctrine), then `iters`
    * rounds of w ← Σ_x (x−μ)((x−μ)·v), normalize, re-quantize to 1e-6.
    * Each round is ONE aggregate pass collecting a d-vector — bounded
    * model state like every trainer here. Sign pinned to the first
    * significant loading so the eigenvector's inherent ± ambiguity
    * can't flip between runs. */
  private[graft] def trainPc1(v: DataFrame,
                              iters: Int = 5): (Array[Double], Array[Double]) =
      memoModel(v, s"pc1|$iters") {
    val mu = v.select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("pos").agg(round(avg(col("x")), 6).as("m"))
      .orderBy("pos").collect().map(_.getDouble(1))
    val d = mu.length
    val muArr = array(mu.map(lit): _*)
    var pc = Array.fill(d)(1.0 / math.sqrt(d))
    (1 to iters).foreach { _ =>
      val pcArr = array(pc.map(lit): _*)
      val w = v
        .select(zip_with(col("embedding"), muArr, (a, b) => a - b).as("diff"))
        .withColumn("s", graft.functions.VectorFunctions.dot(col("diff"), pcArr))
        .select(posexplode(col("diff")).as(Seq("pos", "dx")), col("s"))
        .groupBy("pos").agg(sum(col("dx") * col("s")).as("w"))
        .orderBy("pos").collect().map(_.getDouble(1))
      val n = math.sqrt(w.map(x => x * x).sum)
      if (n > 0.0) {
        val sgn = w.find(math.abs(_) > 1e-12).map(math.signum).getOrElse(1.0)
        pc = w.map(x => math.rint(x / n * sgn * 1e6) / 1e6)
      }
    }
    (mu, pc)
  }

  /** Generic core: PCA REPORT over ANY (embedding) frame — per
    * dimension the mean, variance, and top-principal-component loading,
    * plus the share of total variance that component explains (the
    * embedding-QA number behind "all-but-the-top" whitening, Mu 2018:
    * a dominant common direction means the embeddings carry a corpus-
    * wide bias worth projecting out before cosine retrieval).
    *
    * Scale shape: training is `iters` bounded aggregate passes (model
    * state = two d-vectors on the driver); the report itself is one
    * map-only diff/score pass + a (pos)-keyed hash agg + two 1-row
    * aggregates broadcast back. Variance and λ numerators are 8-dp
    * decimal sums — order-independent, digit-equal in the oracle. */
  def embeddingPcaFrom(v: DataFrame, iters: Int = 5): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val (mu, pc) = withTrainCache(v.select(col("embedding")))(trainPc1(_, iters))
    val muArr = array(mu.map(lit): _*)
    val pcArr = array(pc.map(lit): _*)
    val scored = v
      .select(zip_with(col("embedding"), muArr, (a, b) => a - b).as("diff"))
      .withColumn("s", graft.functions.VectorFunctions.dot(col("diff"), pcArr))
    val lam = scored.agg(
      sum(round(col("s") * col("s"), 8).cast(DecimalType(28, 8))).as("ss"))
    val pv = scored.select(posexplode(col("diff")).as(Seq("pos", "dx")))
      .groupBy("pos")
      .agg(sum(round(col("dx") * col("dx"), 8).cast(DecimalType(28, 8)))
        .as("vv"), count(lit(1)).as("cnt"))
    val tv = pv.agg(sum(col("vv")).as("tv"))
    pv.crossJoin(broadcast(lam)).crossJoin(broadcast(tv))
      .select(col("pos"),
        element_at(muArr, (col("pos") + 1).cast("int")).as("mu6"),
        element_at(pcArr, (col("pos") + 1).cast("int")).as("loading6"),
        round(col("vv").cast("double") / col("cnt"), 6).as("var6"),
        round(col("ss").cast("double") / col("tv").cast("double"), 6)
          .as("ev_share6"))
      .orderBy("pos")
  }

  /** §2 #180 — PCA report of the embeddings table. */
  def embeddingPca(spark: SparkSession, sfDir: String,
                   iters: Int = 5): DataFrame =
    embeddingPcaFrom(Tables.load(spark, sfDir, "embeddings"), iters)

  /** Train the whitening model (μ + top principal component) over ANY
    * (embedding) frame — [[trainPc1]] exposed for the facade. */
  def trainWhitening(v: DataFrame,
                     iters: Int = 5): (Array[Double], Array[Double]) =
    withTrainCache(v.select(col("embedding")))(trainPc1(_, iters))

  /** The all-but-the-top TRANSFORM for pipeline use: μ-center ANY
    * (vec_id, embedding) frame and remove the top component —
    * `w = (x − μ) − ((x − μ)·pc)·pc`, map-only over broadcast model
    * state (two d-vectors). Output embeddings are `array<double>` in
    * the whitened space, ready for any cosine consumer. */
  def whitenVectors(v: DataFrame, mu: Array[Double],
                    pc: Array[Double]): DataFrame = {
    val muArr = array(mu.map(lit): _*)
    val pcArr = array(pc.map(lit): _*)
    v.select(col("vec_id"),
        zip_with(col("embedding"), muArr, (a, b) => a - b).as("diff"))
      .withColumn("s", graft.functions.VectorFunctions.dot(col("diff"), pcArr))
      .select(col("vec_id"),
        zip_with(col("diff"), pcArr, (d, p) => d - col("s") * p)
          .as("embedding"))
  }

  /** Generic core: ALL-BUT-THE-TOP WHITENING REPORT (Mu et al., ICLR
    * 2018) over ANY (embedding) frame — the measured answer to "is the
    * dominant common direction worth projecting out before cosine
    * retrieval": one row comparing the corpus BEFORE vs AFTER removing
    * μ and the top principal component — the mean |cos| to that
    * component (the anisotropy the paper targets; after ≈ 0 up to the
    * component's 1e-6 quantization), its explained-variance share
    * (after ≈ 0), and the total variance (after = before − λ, the
    * removed direction's mass). The #180 report DESCRIBES the bias;
    * this prices removing it, and [[whitenVectors]] is the transform a
    * pipeline then applies.
    *
    * Determinism: all means/shares are decimal sums of 8-dp-rounded
    * per-row terms over exact left-fold dots (the embeddingPca
    * arithmetic), μ/pc are 1e-6-quantized trained literals — every
    * double digit-equal in the oracle.
    *
    * Scale shape: training = `iters` bounded aggregate passes; the
    * report = ONE map-only diff/project pass + a 1-row aggregate; the
    * transform itself is map-only. Nothing corpus-sized moves. */
  def embeddingWhitenFrom(v: DataFrame, iters: Int = 5): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val (mu, pc) = trainWhitening(v, iters)
    val muArr = array(mu.map(lit): _*)
    val pcArr = array(pc.map(lit): _*)
    // ‖pc‖ as a driver-side literal (pc is 1e-6-quantized, so its norm
    // is ~1 but not exactly 1 — the cosine uses the exact norm)
    val pcN = math.sqrt(pc.map(x => x * x).sum)
    def dec(c: Column) = round(c, 8).cast(DecimalType(28, 8))
    val scored = v
      .select(zip_with(col("embedding"), muArr, (a, b) => a - b).as("diff"))
      .withColumn("s",
        graft.functions.VectorFunctions.dot(col("diff"), pcArr))
      .withColumn("w",
        zip_with(col("diff"), pcArr, (d, p) => d - col("s") * p))
      .withColumn("s2",
        graft.functions.VectorFunctions.dot(col("w"), pcArr))
      .withColumn("nd2",
        graft.functions.VectorFunctions.dot(col("diff"), col("diff")))
      .withColumn("nw2",
        graft.functions.VectorFunctions.dot(col("w"), col("w")))
      .withColumn("cos_b",
        when(col("nd2") > 0, abs(col("s")) / (sqrt(col("nd2")) * lit(pcN)))
          .otherwise(lit(0.0)))
      .withColumn("cos_a",
        when(col("nw2") > 0, abs(col("s2")) / (sqrt(col("nw2")) * lit(pcN)))
          .otherwise(lit(0.0)))
    scored.agg(
      count(lit(1)).as("n_vecs"),
      sum(dec(col("cos_b"))).as("cb"), sum(dec(col("cos_a"))).as("ca"),
      sum(dec(col("s") * col("s"))).as("ssb"),
      sum(dec(col("s2") * col("s2"))).as("ssa"),
      sum(dec(col("nd2"))).as("tvb"), sum(dec(col("nw2"))).as("tva"))
      .select(col("n_vecs"),
        round(col("cb").cast("double") / col("n_vecs"), 4)
          .as("mean_abs_cos_before4"),
        round(col("ca").cast("double") / col("n_vecs"), 4)
          .as("mean_abs_cos_after4"),
        round(col("ssb").cast("double") / col("tvb").cast("double"), 6)
          .as("ev_share_before6"),
        round(col("ssa").cast("double") / col("tva").cast("double"), 6)
          .as("ev_share_after6"),
        round(col("tvb").cast("double") / col("n_vecs"), 6)
          .as("var_total_before6"),
        round(col("tva").cast("double") / col("n_vecs"), 6)
          .as("var_total_after6"))
  }

  /** §2 #247 — whitening report of the embeddings table. */
  def embeddingWhiten(spark: SparkSession, sfDir: String,
                      iters: Int = 5): DataFrame =
    embeddingWhitenFrom(Tables.load(spark, sfDir, "embeddings"), iters)

  /** §2 #251 — WHITENED RETRIEVAL RECALL (VERDICT-r18 #3: measure,
    * don't claim): the #226 recall-table stance applied to the
    * all-but-the-top transform — does Mu 2018's anisotropy removal
    * change the neighbor structure on THIS corpus, and does the
    * serving ladder (IVF probe, sq8 scan, OPQ-rotated ADC) still
    * recover its ground truth after the transform? Truth is the EXACT
    * whitened-space brute top-k; rows:
    *  - `brute_raw` — the raw-space brute list scored against the
    *    whitened truth: the overlap IS the measured geometry change
    *    (1.0 = whitening moved nothing; the fixture measures 0.82 at
    *    sf0.01 — the transform is real but modest on this
    *    near-isotropic corpus).
    *  - `ivf_whitened` / `sq8_whitened` / `pq_opq_whitened` — each
    *    serving rung re-trained/re-encoded IN whitened space vs the
    *    whitened truth: the #226 ladder's recall after the transform,
    *    directly comparable to its raw rows (and `pq_opq_whitened`
    *    answers the OPQ-composition question with a number).
    * All trained state (μ/pc, whitened centroids, whitened
    * rotation+codebooks) is deterministic and inlined by the oracle —
    * every stage replayed exactly (the decon_recall_eval stance).
    *
    * Scale shape: the transform is map-only over two broadcast
    * d-vectors; each rung keeps its own proven plan (broadcast probes,
    * bounded TopK, shortlist-equi-join rerank); the eval is priced as
    * an eval — run per corpus version, not per query. */
  def whitenRecallEval(spark: SparkSession, sfDir: String,
                       nQueries: Int = 10, k: Int = 5): DataFrame = {
    val vRaw = vectors(spark, sfDir)
    val (mu, pc) = trainWhitening(vRaw)
    val w = whitenVectors(vRaw.select(col("vec_id"), col("embedding")),
        mu, pc)
      .withColumn("nrm", l2norm(col("embedding")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    TransientCaches.register(w)
    val centsW = trainCentroids(w, 16)
    val (rW, cbsWO) = trainOpqRotation(w)
    val wq = w.filter(col("vec_id") < nQueries)
    val key = Seq("query_id", "neighbor_id")
    val truth = rankTopK(
      w.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("e_c"), col("nrm").as("n_c"))
        .join(broadcast(wq.select(col("vec_id").as("query_id"),
          col("embedding").as("e_q"), col("nrm").as("n_q"))),
          col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          cosineWithNorms(dot(col("e_q"), col("e_c")), col("n_q"),
            col("n_c")).as("cos")), k)
      .select(key.head, key.tail: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    TransientCaches.register(truth)
    def one(variant: String, edges: DataFrame): DataFrame = {
      val hits = edges.select(key.head, key.tail: _*).join(truth, key)
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hit"))))
        .select(lit(variant).as("variant"), col("n_truth"), col("n_hit"),
          round(col("n_hit") / col("n_truth"), 4).as("recall"))
    }
    one("brute_raw", annBruteforce(spark, sfDir, nQueries, k))
      .unionByName(one("ivf_whitened", serveFrames(w, wq, Some(centsW), 4,
        Exact, TopK(k))))
      .unionByName(one("sq8_whitened", serveFirst(w, nQueries, None, 0, Sq8,
        TopK(k))))
      .unionByName(one("pq_opq_whitened", serveFirst(w, nQueries, None, 0,
        Pq(cbsWO, rotation = Some(rW)), TopK(k))))
      .orderBy("variant")
  }

  /** The WHITENED INDEX LEG: an IVF artifact whose inverted lists
    * store the corpus AFTER the all-but-the-top transform, with the
    * trained μ/pc persisted as a `whiten/` member behind a `_whiten`
    * root marker — so a pipeline can serve whitened retrieval (the
    * geometry [[whitenRecallEval]] measures) WITHOUT hand-wiring
    * [[whitenVectors]] before every build and query: the artifact
    * carries its own transform, [[annServeWhitenedFromIndex]] applies
    * it to incoming raw queries, and [[ivfWhitenIndexAppend]] to
    * incoming raw deltas (VERDICT-r18 missing #3's serving half).
    *
    * MARKER ORDER deviates from the lands-last doctrine DELIBERATELY:
    * `whiten/` then `_whiten` land BEFORE any index rows, because the
    * marker here guards the GEOMETRY of the rows that follow — with
    * marker-last, a crash after `assigned/` would leave whitened rows
    * behind a raw-looking root that [[annServeFromIndex]] happily
    * serves raw queries against. With marker-first every crash prefix
    * is refused by BOTH paths: no marker + no centroids (only
    * `whiten/` present) refuses raw serving on the missing centroids
    * and whitened serving on the missing marker; marker + no
    * centroids refuses raw serving on the marker
    * ([[annServeFromIndex]]'s requireRaw) and whitened serving
    * on the missing centroids.
    *
    * Maintenance contract (v1): whitened serve + whitened append +
    * compaction. Rebuild and the PQ leg refuse
    * (requireRaw): a whitened artifact's honest retrain re-fits
    * μ/pc from the raw corpus — [[ivfWhitenIndexToDir]] again — and
    * the PQ serving path scores raw queries by construction.
    *
    * Scale shape: training adds `iters` bounded aggregate passes (two
    * d-vectors of model state); the transform is map-only over those
    * broadcast vectors; everything downstream keeps the raw artifact's
    * proven plan (cell-partitioned lists, broadcast probes, bounded
    * TopK). */
  def ivfWhitenIndexToDir(spark: SparkSession, sfDir: String, dir: String,
                          nCells: Int = 16, iters: Int = 5): Unit =
    ivfWhitenIndexBuild(spark,
      Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding")), dir, nCells, iters)

  /** [[ivfWhitenIndexToDir]] over an explicit (vec_id, embedding) RAW
    * corpus frame: train μ/pc, land `whiten/` + `_whiten` (marker
    * FIRST — see the geometry-guard ordering above), then the standard
    * index build over the whitened rows with centroids trained in
    * whitened space. */
  def ivfWhitenIndexBuild(spark: SparkSession, vecs: DataFrame,
                          dir: String, nCells: Int = 16,
                          iters: Int = 5): Unit = {
    import spark.implicits._
    val raw = vecs.select(col("vec_id"), col("embedding"))
    val (mu, pc) = trainWhitening(raw, iters)
    Seq(("mu", mu.toSeq), ("pc", pc.toSeq)).toDF("kind", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/whiten")
    graft.streaming.StreamIO.writeMarker(dir, "_whiten", 1L,
      spark.sparkContext.hadoopConfiguration)
    val w = whitenVectors(raw, mu, pc)
    val cents = withTrainCache(w)(trainCentroids(_, nCells))
    ivfIndexBuild(spark, w, dir, cents)
  }

  /** The stored whitening model (μ + pc: two d-vectors — model state,
    * never data). Refuses a raw artifact (no `_whiten` marker) and a
    * torn one (`_whiten` = 1 but `whiten/` missing). */
  def readWhitenModel(spark: SparkSession,
                      dir: String): (Array[Double], Array[Double]) =
    openIvf(spark, dir).whitenModel

  /** Serve RAW (vec_id, embedding) queries from a whitened artifact:
    * the stored μ/pc transform the query batch (map-only over two
    * broadcast d-vectors), then the standard probe/rank body runs in
    * whitened space — the caller never touches the transform. */
  def annServeWhitenedFromIndex(spark: SparkSession, dir: String,
                                queries: DataFrame, nProbe: Int = 4,
                                k: Int = 5): DataFrame =
    serveIndex(openIvf(spark, dir), raw = false, queries, nProbe, Exact,
      TopK(k))

  /** Incremental maintenance of the whitened artifact: a RAW delta
    * batch is whitened with the STORED model (the transform is
    * versioned with the index, exactly like the quantizer), assigned
    * with the artifact's own centroids, and appended to the
    * cell-partitioned lists — the [[ivfIndexAppend]] cadence one
    * transform earlier. Map-only over the delta; base partitions
    * untouched. */
  def ivfWhitenIndexAppend(spark: SparkSession, dir: String,
                           vectors: DataFrame): Unit = {
    val ivf = openIvf(spark, dir)
    ivf.requireWhitened()
    ivf.append(vectors)
  }

  /** §2 #253 — WHITENED IVF SERVING FROM THE ARTIFACT: build the
    * whitened artifact once (μ/pc + whitened-space centroids + whitened
    * inverted lists), then serve the standard RAW query set from it —
    * the serving form of the geometry [[whitenRecallEval]] priced
    * (its `ivf_whitened` rung, 0.86 recall of the whitened truth at
    * sf0.01), with the transform applied BY the artifact instead of
    * hand-wired by the pipeline. */
  def annIvfWhitenedIndexed(spark: SparkSession, sfDir: String,
                            nProbe: Int = 4, nQueries: Int = 10,
                            k: Int = 5): DataFrame =
    servedFromScratch(spark, sfDir, "ivf-whiten-index", nQueries)(
      ivfWhitenIndexToDir(spark, sfDir, _))(
      annServeWhitenedFromIndex(spark, _, _, nProbe, k))
}
