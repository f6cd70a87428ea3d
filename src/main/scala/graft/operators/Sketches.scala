package graft.operators

import graft.Tables
import graft.functions.{SketchAggregates, SketchHash, TextShingles}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Cardinality / frequency SKETCHES over the corpus — the mergeable
  * bounded-state summaries a 100 TB profile pass actually ships to the
  * driver (per-source distinct-shingle counts, corpus heavy hitters)
  * instead of exact answers whose state grows with the data:
  *
  *   - [[kmvDistinct]] — K-minimum-values distinct estimate (k·8 B
  *     state per source, merge = bounded set union);
  *   - [[hllDistinct]] — HyperLogLog (64 B state per source, merge =
  *     elementwise max);
  *   - [[cmsTopk]]     — count-min sketch frequency estimates for the
  *     exact heavy hitters (d·w integer cells for the whole corpus),
  *     reported AGAINST the exact counts so the overestimate the
  *     pigeonhole analysis predicts is measured, not assumed.
  *
  * At gate scale the tables also carry the EXACT number next to each
  * estimate — the estimators' error is part of the result contract
  * (like ann_recall_eval scores its own recall), and the exact side
  * doubles as the oracle's anchor.
  *
  * The item domain is per-doc distinct 3-word shingles (the dedup
  * family's unit, [[TextShingles.shingles3]]): ~10k distinct per
  * source at sf0.1 — high enough cardinality to exercise estimation,
  * and the number a curation pipeline actually wants ("how much
  * distinct text does each source contribute?").
  *
  * Re-expresses the profiling surface of the reference's export
  * statistics (BigDataMigrateCloud Codeunit 60000's record/field
  * counting procedures) at the scale where exact per-key counting
  * stops being shippable.
  */
object Sketches {

  /** Distinct (source, 63-bit mixed shingle hash) pairs: one hash
    * aggregate with map-side partial distinct — the only shuffle any
    * sketch below pays before its bounded-state aggregate. */
  private def sourceHashes(docs: DataFrame): DataFrame =
    docs.select(col("source"),
        explode(TextShingles.shingles3(TextShingles.words(col("text"))))
          .as("t"))
      .select(col("source"), SketchHash.sketchHash(col("t")).as("g"))
      .distinct()

  // ---------------------------------------------------------------- KMV

  /** §2 #209 — K-MINIMUM-VALUES distinct estimate per source: keep the
    * k smallest distinct hash values; if more than k distinct values
    * exist, the k-th smallest v_k estimates the density as
    * `(k−1) / (v_k / 2^63)`. State is k·8 B per source regardless of
    * corpus size ([[graft.functions.MinKDistinct]] — partials merged
    * as bounded set unions, no per-source sort or window anywhere).
    * Sub-saturation sources (≤ k distinct) fall back to the sketch's
    * own exact content — the estimator is exact there by construction.
    */
  def kmvDistinct(spark: SparkSession, sfDir: String,
                  k: Int = 256): DataFrame =
    kmvDistinctFrom(Tables.load(spark, sfDir, "documents"), k)

  def kmvDistinctFrom(docs: DataFrame, k: Int): DataFrame = {
    val est = when(col("n_exact") <= k, col("n_exact").cast("double"))
      .otherwise(round(
        lit((k - 1).toDouble) * pow(lit(2.0), lit(63.0))
          / col("kth_hash").cast("double"), 4))
    sourceHashes(docs)
      .groupBy("source")
      .agg(count(lit(1)).as("n_exact"),
        SketchAggregates.minK(col("g"), k).as("mk"))
      .withColumn("k_used", least(lit(k.toLong), col("n_exact")))
      .withColumn("kth_hash",
        element_at(col("mk"), col("k_used").cast("int")))
      .withColumn("kmv_est4", est)
      .withColumn("err_pct2", round(
        (col("kmv_est4") - col("n_exact"))
          / col("n_exact").cast("double") * 100, 2))
      .select("source", "n_exact", "k_used", "kth_hash", "kmv_est4",
        "err_pct2")
      .orderBy("source")
  }

  // ---------------------------------------------------------------- HLL

  /** The HLL estimate from exact integer sketch state — shared by the
    * batch query and [[graft.streaming.StreamDistinct]]. alpha_64 and
    * the small-range correction (V empty registers, E ≤ 2.5m → linear
    * counting) follow Flajolet et al. 2007; every input is an exact
    * integer so the double arithmetic is engine-reproducible. */
  def hllEstimate(nRegsZero: Column, sScaled: Column): Column = {
    // DELIBERATE deviation from the paper's dedicated m=64 constant
    // (α₆₄ = 0.709): both sides of the cross-engine contract — this
    // estimator AND the DuckDB oracle — use the asymptotic formula
    // 0.7213/(1+1.079/m) ≈ 0.70934, so the published estimate is
    // bit-identical across engines; the ~0.05% bias vs α₆₄ is well
    // inside HLL's 1.04/√64 = 13% standard error.
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(64.0))
    val raw = alpha * lit(4096.0) * pow(lit(2.0), lit(52.0)) /
      sScaled.cast("double")
    round(when(nRegsZero > 0 && raw <= lit(160.0),
      lit(64.0) * log(lit(64.0) / nRegsZero.cast("double")))
      .otherwise(raw), 4)
  }

  /** §2 #210 — HYPERLOGLOG distinct estimate per source (m = 64
    * registers): 64 BYTES of state per source, update = max-of-rank,
    * merge = elementwise max ([[graft.functions.HllSketch]]) — the
    * shape that turns corpus-wide cardinality profiling into a
    * map-side combine. The published `s_scaled` (Σ 2^(52−M_j) as an
    * exact integer) makes the harmonic mean reproducible bit-for-bit
    * across engines — no floating-point register sum in the contract.
    */
  def hllDistinct(spark: SparkSession, sfDir: String): DataFrame =
    hllDistinctFrom(Tables.load(spark, sfDir, "documents"))

  def hllDistinctFrom(docs: DataFrame): DataFrame =
    sourceHashes(docs)
      .groupBy("source")
      .agg(count(lit(1)).as("n_exact"),
        SketchAggregates.hll(col("g")).as("h"))
      .select(col("source"), col("n_exact"),
        col("h.n_regs_zero").cast("long").as("n_regs_zero"),
        col("h.s_scaled").as("s_scaled"),
        hllEstimate(col("h.n_regs_zero"), col("h.s_scaled"))
          .as("hll_est4"))
      .withColumn("err_pct2", round(
        (col("hll_est4") - col("n_exact"))
          / col("n_exact").cast("double") * 100, 2))
      .orderBy("source")

  // ---------------------------------------------------------------- CMS

  /** Count-min row-hash constants: pairwise-independent-ish LCG maps
    * over the 63-bit hash reduced mod a 30-bit prime, so every product
    * stays under 2^63 in BIGINT arithmetic on both engines. */
  private[graft] val CmsA = Seq(1103515245L, 1566083941L, 1812433253L, 69069L)
  private[graft] val CmsB = Seq(12345L, 362437L, 1013904223L, 1234567L)
  private[graft] val CmsGr = 1073741789L // 30-bit prime reducing g
  private[graft] val CmsP = 1000000007L  // row-hash modulus

  private def cmsCol(j: Int, gr: Column, w: Int): Column =
    ((lit(CmsA(j)) * gr + lit(CmsB(j))) % CmsP) % w

  /** §2 #211 — COUNT-MIN SKETCH heavy-hitter estimates: a d×w integer
    * grid (d = 4 rows, w = 512 columns — 2 KB of state for the WHOLE
    * corpus) accumulates shingle document-frequencies; the exact
    * top-k's estimated count is the min over its d cells. Reported
    * against the exact counts so `overest` (always ≥ 0 — CMS never
    * undercounts) measures the collision noise at this load factor.
    *
    * Scale shape: the grid build is one partial-combined hash
    * aggregate with at most d·w result cells; the exact top-k is a
    * TakeOrdered; estimates join the k rows against the broadcast
    * grid. Nothing scales with corpus size but the initial scan. */
  def cmsTopk(spark: SparkSession, sfDir: String,
              w: Int = 512, k: Int = 20): DataFrame =
    cmsTopkFrom(Tables.load(spark, sfDir, "documents"), w, k)

  def cmsTopkFrom(docs: DataFrame, w: Int, k: Int): DataFrame = {
    val items = docs.select(
        explode(TextShingles.shingles3(TextShingles.words(col("text"))))
          .as("term"))
      .withColumn("gr", SketchHash.sketchHash(col("term")) % CmsGr)
    val cells = items
      .select(explode(array((0 until 4).map(j =>
        struct(lit(j).as("j"), cmsCol(j, col("gr"), w).as("c"))): _*))
        .as("jc"))
      .groupBy(col("jc.j").as("j"), col("jc.c").as("c"))
      .agg(count(lit(1)).as("cnt"))
    val top = items.groupBy("term")
      .agg(count(lit(1)).as("exact_cnt"), first(col("gr")).as("gr"))
      .orderBy(desc("exact_cnt"), col("term")).limit(k)
    top
      .select(col("term"), col("exact_cnt"),
        explode(array((0 until 4).map(j =>
          struct(lit(j).as("j"), cmsCol(j, col("gr"), w).as("c"))): _*))
          .as("jc"))
      .join(broadcast(cells),
        col("jc.j") === cells("j") && col("jc.c") === cells("c"))
      .groupBy("term", "exact_cnt")
      .agg(min(col("cnt")).as("cms_est"))
      .withColumn("overest", col("cms_est") - col("exact_cnt"))
      .orderBy(desc("exact_cnt"), col("term"))
  }

  // ---------------------------------------------------------- HDR quantiles

  /** HDR bucket of a non-negative BIGINT: values below 32 are their own
    * bucket (exact); above, the value keeps its top 5 bits (16
    * sub-buckets per octave → relative width ≤ 1/16). Pure INTEGER
    * arithmetic — bit length via `length(bin(v))`, then shift — so the
    * bucket boundary is bit-identical in any engine (a log-gamma bucket
    * would hang the contract on libm's last ulp). */
  private[graft] val hdrBucket =
    expr("""CASE WHEN v <= 31 THEN v
            ELSE shiftleft(shiftright(v, length(bin(v)) - 5),
                           length(bin(v)) - 5) END""")

  /** Discrete-quantile columns from a (source, b, cnt) cell table:
    * cumulative counts over the BOUNDED cell domain, then the smallest
    * b whose cumulative count reaches ceil(q·n) — with the rank target
    * computed in INTEGER arithmetic (`(q_num·n + q_den − 1) div q_den`),
    * because `ceil(0.9 * n)` in doubles disagrees across engines at
    * exact multiples. */
  private[graft] def discQuantiles(cells: DataFrame, sfx: String): DataFrame = {
    val cum = cells
      .withColumn("cum",
        sum("cnt").over(Window.partitionBy("source").orderBy("b")))
      .withColumn("n", sum("cnt").over(Window.partitionBy("source")))
    def q(qn: Int, qd: Int): Column =
      min(when(col("cum") >= expr(s"($qn * n + ${qd - 1}) div $qd"),
        col("b")))
    cum.groupBy("source").agg(
      max(col("n")).as("n" + sfx),
      count(lit(1)).as("nb" + sfx),
      q(1, 2).as("p50" + sfx), q(9, 10).as("p90" + sfx),
      q(99, 100).as("p99" + sfx))
  }

  /** §2 #213 — HDR-HISTOGRAM QUANTILE SKETCH of doc length per source:
    * the mergeable quantile summary completing the sketch quartet
    * (distinct = KMV/HLL, frequency = CMS, quantiles = this). The
    * sketch is just `groupBy(source, hdrBucket).count()` — Catalyst's
    * partial aggregation IS the mergeable histogram (≤ 16 cells per
    * octave per source, counts add), no custom state needed. Quantile
    * estimate = lower bound of the bucket holding the target rank,
    * an UNDER-estimate by construction with relative error ≤ 1/16
    * above 31 and 0 below; the exact discrete quantiles (same rank
    * arithmetic over the value-domain-bounded (source, len) table) are
    * published beside it, so `maxerr_pct2` measures the promised bound
    * instead of assuming it.
    *
    * Scale shape: two value-domain-bounded aggregates (bucket cells,
    * distinct lengths) with map-side combine; the windows run over
    * those bounded tables, never over rows. */
  def hdrQuantiles(spark: SparkSession, sfDir: String): DataFrame =
    hdrQuantilesFrom(Tables.load(spark, sfDir, "documents"))

  def hdrQuantilesFrom(docs: DataFrame): DataFrame = {
    val lens = docs.select(col("source"),
      length(col("text")).cast("long").as("v"))
    val est = discQuantiles(
      lens.select(col("source"), hdrBucket.as("b"))
        .groupBy("source", "b").agg(count(lit(1)).as("cnt")), "_est")
    val exact = discQuantiles(
      lens.groupBy(col("source"), col("v").as("b"))
        .agg(count(lit(1)).as("cnt")), "_exact")
    def err(p: String): Column =
      when(col(s"p${p}_exact") === 0, lit(0.0))
        .otherwise((col(s"p${p}_exact") - col(s"p${p}_est")).cast("double")
          / col(s"p${p}_exact").cast("double"))
    est.join(exact, "source")
      .select(col("source"), col("n_exact").as("n"),
        col("nb_est").as("n_buckets"),
        col("p50_est"), col("p50_exact"), col("p90_est"),
        col("p90_exact"), col("p99_est"), col("p99_exact"),
        round(greatest(err("50"), err("90"), err("99")) * 100, 2)
          .as("maxerr_pct2"))
      .orderBy("source")
  }

  // ------------------------------------------------------- HLL union algebra

  /** The Spark-side HLL estimate off raw registers (zero count +
    * exact-integer scaled sum via higher-order array functions) —
    * the column form of [[graft.functions.HllSketch]]'s eval, for
    * frames that carry the 64-register state itself. */
  private def regsZero(regs: String): Column =
    expr(s"size(filter($regs, r -> r = 0))")

  private def regsScaled(regs: String): Column =
    expr(s"aggregate($regs, CAST(0 AS BIGINT), " +
      "(a, r) -> a + shiftleft(CAST(1 AS BIGINT), 52 - r))")

  /** §2 #214 — CROSS-SOURCE OVERLAP FROM SKETCH ALGEBRA: per-source HLL
    * register arrays are UNIONED by elementwise max — in DataFrame
    * algebra (posexplode → groupBy(reg) → max), not inside an aggregate
    * — and the union estimate is read off the merged state with the
    * same integer arithmetic. `overlap_pct2` = (Σ per-source estimates
    * − union estimate) / Σ — the sketch-implied share of shingle mass
    * duplicated across sources (the 64-byte answer to #127
    * source_overlap's exact pairwise question), published against the
    * corpus-exact distinct count (`err_pct2`).
    *
    * This is the 100 TB operating model the sketches exist for:
    * per-source states are computed ONCE (64 B each), and any union —
    * all sources, one region's, yesterday's + today's — is derived
    * from stored state without rescanning text. Σ estimates is summed
    * as DECIMAL over the 4-dp rounded values, so the one
    * source-cardinality-sized reduction is order-free. */
  def sourceOverlapHll(spark: SparkSession, sfDir: String): DataFrame =
    sourceOverlapHllFrom(Tables.load(spark, sfDir, "documents"))

  def sourceOverlapHllFrom(docs: DataFrame): DataFrame = {
    val hs = sourceHashes(docs)
    val perSrc = hs.groupBy("source")
      .agg(SketchAggregates.hllRegs(col("g")).as("regs"))
    val srcTot = perSrc
      .select(hllEstimate(regsZero("regs"), regsScaled("regs")).as("est"))
      .agg(count(lit(1)).as("n_sources"),
        sum(col("est").cast(DecimalType(18, 4))).as("sum_dec"))
    val union = perSrc
      .select(posexplode(col("regs"))).toDF("reg", "r")
      .groupBy("reg").agg(max("r").as("r"))
      .agg(sum(when(col("r") === 0, 1L).otherwise(0L)).as("zero"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), 52 - r)")).as("s"))
    val exact = hs.agg(countDistinct(col("g")).as("n_exact"))
    srcTot.join(union).join(exact)
      .select(col("n_sources"), col("n_exact"),
        col("sum_dec").cast("double").as("sum_src_est4"),
        hllEstimate(col("zero"), col("s")).as("union_est4"))
      .withColumn("overlap_pct2", round(
        (col("sum_src_est4") - col("union_est4"))
          / col("sum_src_est4") * 100, 2))
      .withColumn("err_pct2", round(
        (col("union_est4") - col("n_exact"))
          / col("n_exact").cast("double") * 100, 2))
  }

  // ------------------------------------------------------ KMV pair Jaccard

  /** §2 #215 — PAIRWISE SOURCE JACCARD FROM KMV SKETCH STATE: the
    * pairwise complement to [[sourceOverlapHll]]'s global union. For
    * each unordered source pair, the k smallest hashes of the pair's
    * UNION are recovered from the two per-source sketches alone
    * (union-then-rank — valid because the k smallest of A∪B are a
    * subset of sketch(A) ∪ sketch(B)), and Jaccard is estimated as the
    * share of that k-sample present in BOTH sketches — the classic
    * bottom-k estimator (Broder 1997; matches/k_union is an unbiased
    * permutation-sample estimate, σ ≈ √(J(1−J)/k)). When a pair's
    * union fits inside k the sample IS the union and the estimate is
    * exact by construction. The exact Jaccard (one self-equijoin on
    * hash) is published beside the estimate, so `err6` measures the
    * estimator at this k instead of assuming the envelope.
    *
    * Scale shape: the corpus is touched ONCE ([[sourceHashes]] + the
    * bounded MinK aggregate); everything pairwise runs over the
    * EXPLODED SKETCH CONTENT — ≤ sources²·k id-free rows — so 190
    * pairs at k=256 rank ~100k longs regardless of corpus size. The
    * exact legs are the gate-scale validation anchor; a 100 TB run
    * ships only the sketch algebra. */
  def sourceJaccardKmv(spark: SparkSession, sfDir: String,
                       k: Int = 256): DataFrame =
    sourceJaccardKmvFrom(Tables.load(spark, sfDir, "documents"), k)

  /** Pairwise bottom-k estimate core over a (source, mk) SKETCH table —
    * union-then-rank over exploded sketch content, match share per
    * pair. Shared by the standalone (which joins exact anchors) and the
    * artifact-fed composed form (which ships these columns as-is). */
  private def jaccardEstFromSketches(sk: DataFrame, k: Int): DataFrame = {
    val ex = sk.select(col("source"), explode(col("mk")).as("g"))
    val srcs = sk.select("source")
    // tag each sketch row with every partner source on its other side;
    // the non-equi joins are over the BOUNDED source list (broadcast
    // nested-loop over ~|sources| rows — the right plan at any scale)
    val ta = ex.toDF("sa", "g")
      .join(srcs.toDF("sb"), col("sa") < col("sb"))
      .select(col("sa"), col("sb"), col("g"),
        lit(1).as("ia"), lit(0).as("ib"))
    val tb = ex.toDF("sb", "g")
      .join(srcs.toDF("sa"), col("sa") < col("sb"))
      .select(col("sa"), col("sb"), col("g"),
        lit(0).as("ia"), lit(1).as("ib"))
    val union = ta.unionByName(tb)
      .groupBy("sa", "sb", "g")
      .agg(max("ia").as("ia"), max("ib").as("ib"))
    val ranked = union.withColumn("rn", row_number()
        .over(Window.partitionBy("sa", "sb").orderBy("g")))
      .filter(col("rn") <= k)
    ranked.groupBy("sa", "sb").agg(
      count(lit(1)).as("k_union"),
      sum(col("ia") * col("ib")).cast("long").as("matches"))
      .withColumn("jacc_est6",
        round(col("matches") / col("k_union"), 6))
  }

  def sourceJaccardKmvFrom(docs: DataFrame, k: Int): DataFrame = {
    // both the sketch leg and the exact anchor legs consume the
    // hash table — persist it for the query's lifetime (session
    // boundary releases it, TransientCaches doctrine)
    val hs = TransientCaches.register(sourceHashes(docs).cache())
    val sk = hs.groupBy("source")
      .agg(SketchAggregates.minK(col("g"), k).as("mk"))
    val est = jaccardEstFromSketches(sk, k)
    val sz = hs.groupBy("source").agg(count(lit(1)).as("n"))
    val inter = hs.toDF("sa", "g")
      .join(hs.toDF("sb", "g2"),
        col("g") === col("g2") && col("sa") < col("sb"))
      .groupBy("sa", "sb").agg(count(lit(1)).as("inter"))
    est
      .join(sz.toDF("sa", "na"), "sa")
      .join(sz.toDF("sb", "nb"), "sb")
      .join(inter, Seq("sa", "sb"), "left")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .select(col("sa"), col("sb"), col("k_union"), col("matches"),
        col("jacc_est6"),
        round(col("inter")
          / (col("na") + col("nb") - col("inter")), 6).as("jacc_exact6"))
      .withColumn("err6",
        round(col("jacc_est6") - col("jacc_exact6"), 6))
      .orderBy("sa", "sb")
  }

  // ------------------------------------------------------ sketch-state artifact

  /** ONE corpus pass → the per-source sketch STATE table: bottom-k
    * hash array (k longs), HLL registers (64 ints), and the HDR length
    * cells — KBs per source, persisted as parquet. This is the
    * artifact a 100 TB profile run ships: cardinality, cross-source
    * union, pairwise overlap, and quantile questions are then answered
    * from stored state without re-reading a byte of text (the sketch
    * twin of [[graft.operators.Dedup.verifiedPairsToDir]]'s one-join
    * economics). */
  def sketchStatesToDir(spark: SparkSession, sfDir: String, dir: String,
                        k: Int = 256): Unit =
    sketchStatesOf(Tables.load(spark, sfDir, "documents"), k)
      .write.mode("overwrite").parquet(dir)

  /** The per-source sketch-state frame over ANY (source, text) docs —
    * the shared core of [[sketchStatesToDir]] and the streaming
    * maintenance twin [[graft.streaming.StreamSketches]] (which
    * max-merges/unions/adds a micro-batch's states into the stored
    * artifact; all three components are exactly mergeable, so
    * incremental maintenance equals a batch rebuild bit-for-bit). */
  def sketchStatesOf(docs: DataFrame, k: Int = 256): DataFrame = {
    val sk = sourceHashes(docs).groupBy("source").agg(
      SketchAggregates.minK(col("g"), k).as("mk"),
      SketchAggregates.hllRegs(col("g")).as("regs"))
    val cells = docs
      .select(col("source"), length(col("text")).cast("long").as("v"))
      .select(col("source"), hdrBucket.as("b"))
      .groupBy("source", "b").agg(count(lit(1)).as("cnt"))
      .groupBy("source")
      .agg(sort_array(collect_list(struct(col("b"), col("cnt"))))
        .as("cells"))
    sk.join(cells, "source")
  }

  /** Read back a [[sketchStatesToDir]] artifact. Existence resolves
    * through the Hadoop FileSystem of the path's scheme — the artifact
    * a 100 TB profile run ships lives on a DFS, where a
    * `java.nio.file` check would reject a perfectly good URI. */
  def readSketchStates(spark: SparkSession, dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"no sketch-state artifact at $dir — run sketchStatesToDir first")
    spark.read.parquet(dir)
  }

  /** The session's [[sketchStatesToDir]] artifact: ONE build per (k,
    * version of the corpus's documents) ([[ArtifactState]]) — the
    * in-process form of one-profile-pass-per-corpus-version. */
  def sharedSketchStatesDir(spark: SparkSession, sfDir: String,
                            k: Int = 256): String =
    ArtifactState.dirOf(spark, "sketch-states",
      Seq(s"$sfDir/documents.parquet"), k)(
      sketchStatesToDir(spark, sfDir, _, k))

  /** §2 #215b — the ARTIFACT-FED form of [[sourceJaccardKmv]]: the
    * same bottom-k pair estimates (identical `sa, sb, k_union,
    * matches, jacc_est6` values — spec-pinned), but derived from the
    * STORED sketch states — no corpus scan, no exact-join anchor.
    * This is the production shape: the anchor legs exist to validate
    * the estimator at gate scale; a 100 TB run answers pair-overlap
    * questions from the KB-sized artifact alone. */
  def sourceJaccardComposed(spark: SparkSession, sfDir: String,
                            k: Int = 256): DataFrame = {
    val dir = sharedSketchStatesDir(spark, sfDir, k)
    jaccardEstFromSketches(
      readSketchStates(spark, dir).select("source", "mk"), k)
      .orderBy("sa", "sb")
  }

  /** The published quantile card off a (source, b, cnt) cell table —
    * the estimate-only extraction shared by the artifact-fed composed
    * form below and the streaming twin
    * ([[graft.streaming.StreamQuantiles]] delegates here). */
  def hdrCardOf(cells: DataFrame): DataFrame =
    discQuantiles(cells, "_est")
      .select(col("source"), col("n_est").as("n"),
        col("nb_est").as("n_buckets"),
        col("p50_est"), col("p90_est"), col("p99_est"))
      .orderBy("source")

  /** §2 #213c — the ARTIFACT-FED quantile card: [[hdrCardOf]] over the
    * STORED HDR cells — per-source p50/p90/p99 estimates without
    * touching a document (cells un-nest from the artifact, the rank
    * windows run over ≤ 16 cells/octave per source). */
  def hdrQuantilesComposed(spark: SparkSession, sfDir: String,
                           k: Int = 256): DataFrame = {
    val dir = sharedSketchStatesDir(spark, sfDir, k)
    hdrCardOf(
      readSketchStates(spark, dir)
        .select(col("source"), explode(col("cells")).as("c"))
        .select(col("source"), col("c.b").as("b"), col("c.cnt").as("cnt")))
  }
}
