package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.operators.Filtering.cents

/** Data-quality / pre-migration checks: referential integrity,
  * deterministic sampling, value histograms, column profiling — the
  * checks a migration operator runs BEFORE applying a package (the
  * reference's validation surface generalized to table-level audits).
  *
  * Each check has a GENERIC DataFrame-first core (usable on any input,
  * exposed through [[graft.api.Graft]]) plus a fixture-bound query
  * wrapper that the driver's oracle validates. All four are single-pass
  * or single-join shapes that hold at 100 TB: an anti join on the key, a
  * map-only arithmetic filter, one hash aggregate, and one
  * multi-aggregate pass stacked into rows.
  */
object Quality {

  /** Generic core: children of `child` whose `childKey` has no match in
    * `parent.parentKey` — one anti join, summarized. */
  def fkOrphanSummary(child: DataFrame, childKey: String,
                      parent: DataFrame, parentKey: String): DataFrame =
    child.select(col(childKey))
      .join(parent.select(col(parentKey)),
        col(childKey) === col(parentKey), "left_anti")
      .agg(count(lit(1)).as("n_orphan_lines"),
        countDistinct(col(childKey)).as("n_orphan_keys"),
        min(childKey).as("min_key"), max(childKey).as("max_key"))

  /** §2 #56 — referential-integrity audit on the fixture: parents are
    * deterministically thinned (keys % 97 dropped) so the check has
    * something to find. */
  def fkOrphans(spark: SparkSession, sfDir: String): DataFrame =
    fkOrphanSummary(
      Tables.load(spark, sfDir, "lineitem"), "l_orderkey",
      Tables.load(spark, sfDir, "orders")
        .filter(col("o_orderkey") % 97 =!= 0), "o_orderkey")

  /** Knuth multiplicative hash — pure 64-bit arithmetic, so the SAME
    * rows are selected by any engine, any run, any partitioning. */
  private[operators] val KnuthA = 2654435761L
  private[operators] val Mod32 = 4294967296L

  /** Overflow-safe `((key mod 2^32) * KnuthA) mod 2^32`.
    *
    * A plain `key * KnuthA` wraps silently in Spark but RAISES an
    * out-of-range error in DuckDB once the product passes 2^63
    * (key ≈ 3.4e9) — the cross-engine contract would diverge exactly at
    * the id ranges a 100 TB corpus reaches. Splitting the reduced key
    * into 16-bit halves keeps every intermediate below 2^48:
    * `a*K mod 2^32 = (a0*K mod 2^32 + (a1*K mod 2^16)*2^16) mod 2^32`
    * for `a = a1*2^16 + a0`. Values are IDENTICAL to the naive formula
    * wherever it didn't overflow. SQL twin: `Quality.knuthSql`. */
  def knuth32(key: Column): Column = {
    val a = pmod(key.cast("long"), lit(Mod32))
    val a1 = (a / 65536L).cast("long")
    val a0 = pmod(a, lit(65536L))
    pmod(pmod(a0 * KnuthA, lit(Mod32)) +
      pmod(a1 * KnuthA, lit(65536L)) * 65536L, lit(Mod32))
  }

  /** Generic core: predicate keeping ~pct% of rows, membership a pure
    * function of the integer key column — map-only, pushdown-eligible,
    * engine-independent. */
  def sampleByKey(key: String, pct: Int): Column = {
    require(pct >= 1 && pct <= 100)
    knuth32(col(key)) < lit(Mod32 / 100 * pct)
  }

  /** Generic core: STRATIFIED deterministic sample — exactly `k` rows
    * per stratum, membership a pure function of the key (Knuth-hash
    * order, doc_id tie-break), so any engine and any partitioning draws
    * the same rows. The class-balanced pick a training-mixture builder
    * needs (equal per-language slices from a skewed corpus).
    *
    * Scale shape: ONE hash aggregate whose [[graft.functions.TopKByScore]]
    * buffers carry at most k rows per stratum per map partition — NOT a
    * `row_number().over(Window.partitionBy(stratum))`, which would sort
    * every row of a stratum inside one task at 100 TB. */
  def stratifiedSampleFrom(docs: DataFrame, stratumCol: String,
                           keyCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k=$k must be positive")
    docs.select(col(stratumCol).as("stratum"), col(keyCol).as("id"),
      knuth32(col(keyCol)).as("h"))
      // TopKByScore keeps score DESC / id ASC — negate h to draw the
      // smallest hashes first (exact long→double below 2^53)
      .groupBy("stratum")
      .agg(graft.functions.TopKByScoreAgg
        .topkByScore(col("id"), -col("h").cast("double"), k).as("top"))
      .select(col("stratum"), posexplode(col("top")))
      .select(col("stratum"), (col("pos") + 1).cast("int").as("rk"),
        col("col.neighbor_id").as("doc_id"),
        (-col("col.cos")).cast("long").as("h"))
      .orderBy("stratum", "rk")
  }

  /** §2 #84 — per-language stratified sample of the document corpus. */
  def stratifiedSample(spark: SparkSession, sfDir: String,
                       k: Int = 10): DataFrame =
    stratifiedSampleFrom(Tables.load(spark, sfDir, "documents"),
      "lang", "doc_id", k)

  /** Generic core: WEIGHTED sample without replacement (Efraimidis &
    * Spirakis 2006) — keep the k rows maximizing u^(1/w), computed as
    * the equivalent ln(u)/w DESC order; u is a deterministic Knuth-hash
    * uniform in (0,1), so any engine and any partitioning draws the
    * SAME sample (the reproducibility contract every sampling op here
    * honors). The token-weighted draw a mixture builder uses when
    * "sample 1k docs" must mean "1k docs, long ones proportionally
    * more likely", without a full corpus sort.
    *
    * Scale shape: ONE map-only key computation + ONE hash aggregate
    * whose [[graft.functions.TopKByScore]] state is k pairs — the
    * exchange carries 32 partial top-k heaps, never the corpus; the
    * k winners then join their weights back (broadcast of k rows). */
  def weightedSampleFrom(docs: DataFrame, weight: Column,
                         k: Int): DataFrame = {
    require(k >= 1, s"k=$k must be positive")
    val keyed = docs.select(col("doc_id"), weight.cast("long").as("wt"))
      .filter(col("wt") >= 1)
      // u = (knuth32(id)+1)/(2^32+1) ∈ (0,1); ln(u)/w is IEEE-identical
      // in DuckDB (same integer hash, same division, same ln)
      .withColumn("es_key",
        log((knuth32(col("doc_id")) + 1).cast("double") / lit(4294967297.0))
          / col("wt").cast("double"))
    val top = keyed
      .agg(graft.functions.TopKByScoreAgg
        .topkByScore(col("doc_id"), col("es_key"), k).as("top"))
      .select(posexplode(col("top")))
      .select((col("pos") + 1).cast("int").as("rk"),
        col("col.neighbor_id").as("doc_id"),
        round(col("col.cos"), 8).as("es_key"))
    keyed.select(col("doc_id"), col("wt"))
      .join(broadcast(top), Seq("doc_id"))
      .select(col("rk"), col("doc_id"), col("wt").as("w_tokens"),
        col("es_key"))
      .orderBy("rk")
  }

  /** §2 #170 — token-weighted deterministic draw from the corpus. */
  def weightedSample(spark: SparkSession, sfDir: String,
                     k: Int = 64): DataFrame =
    weightedSampleFrom(Tables.load(spark, sfDir, "documents"),
      size(split(trim(col("text")), "\\s+")).cast("long"), k)

  /** §2 #57 — deterministic systematic sample of orders (~pct%): the
    * reproducible debug/preview slice a pipeline run logs. */
  def deterministicSample(spark: SparkSession, sfDir: String,
                          pct: Int = 10): DataFrame =
    Tables.load(spark, sfDir, "orders")
      .filter(sampleByKey("o_orderkey", pct))
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"))
      .orderBy("o_orderkey")

  /** Generic core: fixed-width histogram of a LONG column. */
  def histogram(df: DataFrame, valueCol: String,
                binWidth: Long): DataFrame =
    df.select(col(valueCol).as("v"))
      .groupBy(floor(col("v") / lit(binWidth.toDouble)).cast("long")
        .as("bin"))
      .agg(count(lit(1)).as("n"),
        min("v").as("min_c"), max("v").as("max_c"))
      .orderBy("bin")

  /** §2 #58 — value distribution of events, in cents. */
  def valueHistogram(spark: SparkSession, sfDir: String,
                     binWidth: Long = 2500L): DataFrame =
    histogram(Tables.load(spark, sfDir, "events")
      .select(cents(col("value")).as("v_c")), "v_c", binWidth)

  /** Generic core: rows/nulls/distinct/min/max per column for ANY frame
    * — one aggregate LEG per column, unioned (one job). Min/max surface
    * as engine-stable text: doubles as exact cents, timestamps as
    * formatted seconds, everything else as its string cast.
    *
    * Plan shape: the previous single wide aggregate with six
    * `countDistinct`s planned an Expand that amplified every input row
    * 6× through the exchange — measured 10× slower than this union of
    * per-column legs, whose scans are column-PRUNED (each leg reads one
    * parquet column, so total I/O equals the one-pass scan) and whose
    * distinct pre-aggregations dedup map-side per column. Same shape
    * the DuckDB oracle uses.
    *
    * DERIVED frames self-protect: each leg re-evaluates the input plan,
    * and the pruning argument only holds for columnar sources — so when
    * the input is not a plain scan leg (projection/filter over a
    * relation), [[profile]] persists and EAGERLY materializes it first
    * (one materialization, then N cache reads; eager because all N legs
    * share ONE job, and sibling scans of a lazy cache each recompute
    * the lineage). The cache is left populated for the caller. */
  def profile(df: DataFrame): DataFrame = profileWith(df, countDistinct(_))

  /** True for plans whose per-leg re-evaluation is free-ish: a relation
    * scan, possibly under projection/filter/alias — exactly the shapes
    * whose legs stay column-pruned at the source. */
  private def scanLike(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    p match {
      case _: LeafNode => true
      case pr: Project => scanLike(pr.child)
      case f: Filter => scanLike(f.child)
      case a: SubqueryAlias => scanLike(a.child)
      case _ => false
    }
  }

  private def selfProtect(df: DataFrame): DataFrame =
    if (scanLike(df.queryExecution.logical)) df
    else {
      val cached = TransientCaches.register(df.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      cached.count() // materialize ONCE before the N sibling cache reads
      cached
    }

  private def profileWith(input: DataFrame,
                          distinctAgg: Column => Column): DataFrame = {
    val df = selfProtect(input)
    def txt(c: String): (Column, Column) =
      df.schema(c).dataType match {
        case DoubleType | FloatType =>
          (cents(min(col(c))).cast("string"),
            cents(max(col(c))).cast("string"))
        case TimestampType | TimestampNTZType =>
          (date_format(min(col(c)), "yyyy-MM-dd HH:mm:ss"),
            date_format(max(col(c)), "yyyy-MM-dd HH:mm:ss"))
        case _ =>
          (min(col(c)).cast("string"), max(col(c)).cast("string"))
      }
    df.columns.toSeq.map { c =>
      val (mn, mx) = txt(c)
      df.select(col(c)).agg(
        count(lit(1)).as("n_rows"),
        count(when(col(c).isNull, 1)).as("n_nulls"),
        distinctAgg(col(c)).as("n_distinct"),
        mn.as("min_txt"), mx.as("max_txt"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_txt"), col("max_txt"))
    }.reduce(_ unionByName _)
      .orderBy("col_name")
  }

  /** The 100 TB swap of [[profile]]: HyperLogLog++ approximate distinct
    * counts (mergeable sketches, fixed memory per column) instead of
    * exact distinct aggregation — same output shape, `n_distinct`
    * becomes an estimate with the given relative standard deviation.
    * Use when exact per-column distinct state would spill. */
  def profileApprox(df: DataFrame, rsd: Double = 0.05): DataFrame =
    profileWith(df, approx_count_distinct(_, rsd))

  /** §2 #59 — column profile of the orders table. */
  def profileTable(spark: SparkSession, sfDir: String): DataFrame =
    profile(Tables.load(spark, sfDir, "orders"))

  /** §2 #98 — IQR-fence outlier detection per group (Tukey fences at
    * q1 − 1.5·IQR / q3 + 1.5·IQR): the distribution-free outlier gate a
    * migration/quality pass runs on numeric columns. Built on EXACT
    * discrete percentiles (engine-equal, unlike variance-based z-scores
    * whose float summation order can flip borderline flags) and
    * doubled-integer fence comparisons so the 0.5-cent fence positions
    * never touch floats. Two passes: one tiny per-group percentile
    * aggregate (broadcast back), one scan counting outliers — both hash
    * aggregates, no window. */
  def outlierFences(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("event_type"), cents(col("value")).as("v_c"))
    val fences = ev.groupBy("event_type").agg(
      expr("CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY v_c) AS BIGINT)")
        .as("q1_c"),
      expr("CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY v_c) AS BIGINT)")
        .as("q3_c"))
      .withColumn("iqr", col("q3_c") - col("q1_c"))
    // 2·v < 2·q1 − 3·iqr  ⇔  v < q1 − 1.5·iqr, in pure integers
    val isOut = col("v_c") * 2 < col("q1_c") * 2 - col("iqr") * 3 ||
      col("v_c") * 2 > col("q3_c") * 2 + col("iqr") * 3
    ev.join(broadcast(fences), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        min("q1_c").as("q1_c"), min("q3_c").as("q3_c"),
        sum(when(isOut, 1L).otherwise(0L)).as("n_outliers"),
        min(when(isOut, col("v_c"))).as("min_out_c"),
        max(when(isOut, col("v_c"))).as("max_out_c"))
      .orderBy("event_type")
  }

  /** Generic core: ORDER-INDEPENDENT per-group integrity checksum — the
    * cheap cross-engine equality certificate a migration runs on source
    * and target (reference: the import-validation surface, 60000:283's
    * per-row checks lifted to table level). Each row's canonical text
    * is hashed with the proven cross-engine Karp-Rabin fold and SUMMED
    * per group as DECIMAL(38,0): summation commutes, so the checksum is
    * independent of row order, partitioning, and engine — two sides
    * agree iff (modulo 61-bit collisions) the group contents agree.
    * The exact decimal sum is folded mod the Mersenne prime 2^61-1 and
    * emitted as BIGINT: a certificate column must itself fit int64, or
    * downstream hashers (including the verification harness) cannot
    * normalize it identically across engines.
    * One hash aggregate; exchanges carry (group, count, sum) only. */
  def integrityChecksumFrom(df: DataFrame, rowText: Column,
                            groupCol: Column): DataFrame =
    df.select(groupCol.as("grp"),
      graft.functions.KrHashF.krHash(rowText).as("h"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n_rows"),
        (sum(col("h").cast("decimal(38,0)")) % lit(2305843009213693951L))
          .cast("long").as("checksum"))
      .orderBy("grp")

  /** §2 #93 — integrity checksum of orders by status. The canonical row
    * text uses the repo's engine-stable casts (cents for doubles,
    * formatted seconds for timestamps). */
  def integrityChecksum(spark: SparkSession, sfDir: String): DataFrame = {
    val rowText = concat_ws("|",
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      cents(col("o_totalprice")),
      date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"),
      col("o_orderpriority"))
    integrityChecksumFrom(Tables.load(spark, sfDir, "orders"),
      rowText, col("o_orderstatus"))
  }

  /** §2 #118 — JOIN-SKEW diagnostics for a key column: the numbers
    * that decide whether a join/aggregation on this key needs salting
    * or AQE skew handling BEFORE the job is launched at 100 TB —
    * per-key count distribution (p50/p99/max), skew factor (max over
    * mean), and the single heaviest key with its share. The engine's
    * own salted operators (agg_skew_salted, the banded joins) exist
    * precisely for keys this report flags.
    *
    * Scale shape: one hash aggregate over the key (the same exchange
    * the candidate join itself would pay), then a second aggregate
    * over the per-key counts — n_keys rows, never the data. */
  def joinSkewReportFrom(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("cnt"))
    // heaviest key, smallest key on count ties — TakeOrdered over the
    // per-key counts (works for ANY orderable key type; a max(struct(
    // cnt, -key)) tie-break would null out on string keys). Catalyst
    // reuses the counts exchange between the two consumers.
    val top = counts.orderBy(col("cnt").desc, col("key").asc).limit(1)
      .select(col("key").as("top_key"), col("cnt").as("top_cnt"))
    counts.agg(
      sum("cnt").as("n_rows"),
      count(lit(1)).as("n_keys"),
      expr("percentile(cnt, 0.5D)").as("p50"),
      expr("percentile(cnt, 0.99D)").as("p99"),
      max("cnt").as("max_rows"))
      .crossJoin(top)
      .select(col("n_rows"), col("n_keys"),
        round(col("n_rows") / col("n_keys"), 4).as("avg_rows"),
        round(col("p50"), 4).as("p50_rows"),
        round(col("p99"), 4).as("p99_rows"),
        col("max_rows"),
        round(col("max_rows") / (col("n_rows") / col("n_keys")), 4)
          .as("skew_factor"),
        col("top_key"),
        round(col("top_cnt") / col("n_rows"), 4).as("top_share"))
  }

  /** Skew report over the event stream's user key (the key sessionize
    * and the windowed aggregations shuffle on). */
  def joinSkewReport(spark: SparkSession, sfDir: String): DataFrame =
    joinSkewReportFrom(Tables.load(spark, sfDir, "events"), "user_id")

  /** Generic core of [[kAnonymity]]: group sizes over the
    * quasi-identifier columns, summarized into one audit row. */
  def kAnonymityFrom(df: DataFrame, quasi: Seq[Column], k: Int): DataFrame =
    df.groupBy(quasi: _*).agg(count(lit(1)).as("cnt"))
      .agg(
        sum("cnt").as("n_rows"),
        count(lit(1)).as("n_groups"),
        sum(when(col("cnt") < k, 1L).otherwise(0L)).as("n_risky_groups"),
        sum(when(col("cnt") < k, col("cnt")).otherwise(0L))
          .as("n_risky_rows"),
        min("cnt").as("min_group"), max("cnt").as("max_group"))
      .select(lit(k).as("k"), col("n_rows"), col("n_groups"),
        col("n_risky_groups"), col("n_risky_rows"),
        round(col("n_risky_rows") / col("n_rows"), 4).as("risk_pct"),
        col("min_group"), col("max_group"))

  /** §2 #132 — K-ANONYMITY audit over quasi-identifiers: how many
    * equivalence classes of (nation, market segment, balance bucket)
    * hold fewer than k customers — i.e. how many rows an adversary who
    * knows those three public attributes can re-identify. The privacy
    * gate a training-data release runs BEFORE export, the structured
    * twin of pii_scrub's free-text pass: scrubbing emails is useless if
    * the attribute combination is unique.
    *
    * Scale shape: two hash aggregates (rows → QI groups → 1 audit row),
    * both with partial/map-side combine; nothing else. The group-by key
    * is the QI tuple, so the exchange is exactly as wide as the
    * re-identification question itself. Holds unchanged at 100 TB. */
  def kAnonymity(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame =
    kAnonymityFrom(Tables.load(spark, sfDir, "customer"),
      Seq(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000d).as("bal_bucket")), k)

  /** §2 #188 — BENFORD'S-LAW digit audit of order totals — the classic
    * fabricated-amounts screen (Nigrini 1996): organically-grown
    * magnitudes follow P(d) = log10(1 + 1/d); invented ones don't.
    * Per digit: observed count/frequency, the Benford expectation, the
    * absolute deviation, and flag_digit (deviation > 0.02, the usual
    * screening threshold). One hash agg to ≤9 rows + a 9-row window —
    * scan-bound at any scale. */
  def benfordCheck(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val digit = substring(cents(col("o_totalprice")).cast("string"), 1, 1)
      .cast("int")
    Tables.load(spark, sfDir, "orders")
      .select(digit.as("digit"))
      .filter(col("digit") >= 1)
      .groupBy("digit").agg(count(lit(1)).as("n"))
      .withColumn("total", sum("n").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("digit"), col("n"),
        round(col("n") / col("total"), 4).as("freq4"),
        round(log10(lit(1) + lit(1.0) / col("digit")), 4).as("benford4"))
      .withColumn("dev4", round(abs(col("freq4") - col("benford4")), 4))
      .withColumn("flag_digit", col("dev4") > 0.02)
      .orderBy("digit")
  }

  /** Generic core of [[lDiversity]]: distinct-sensitive-value counts
    * per quasi-identifier group, summarized into one audit row. The
    * two-level aggregation ((QI, s) → QI → 1) keeps every distinct
    * count mergeable — no count(DISTINCT) shuffle explosion. */
  def lDiversityFrom(df: DataFrame, quasi: Seq[Column],
                     sensitive: Column, l: Int): DataFrame =
    df.groupBy((quasi.zipWithIndex.map { case (c, i) => c.as(s"q$i") }
        :+ sensitive.as("s")): _*)
      .agg(count(lit(1)).as("cnt"))
      .groupBy(quasi.indices.map(i => col(s"q$i")): _*)
      .agg(count(lit(1)).as("n_sensitive"), sum("cnt").as("cnt"))
      .agg(
        sum("cnt").as("n_rows"),
        count(lit(1)).as("n_groups"),
        sum(when(col("n_sensitive") < l, 1L).otherwise(0L))
          .as("n_risky_groups"),
        sum(when(col("n_sensitive") < l, col("cnt")).otherwise(0L))
          .as("n_risky_rows"),
        min("n_sensitive").as("min_diversity"),
        max("n_sensitive").as("max_diversity"))
      .select(lit(l).as("l"), col("n_rows"), col("n_groups"),
        col("n_risky_groups"), col("n_risky_rows"),
        round(col("n_risky_rows") / col("n_rows"), 4).as("risk_pct"),
        col("min_diversity"), col("max_diversity"))

  /** §2 #171 — L-DIVERSITY audit: k-anonymity's blind spot is a large
    * group whose members all SHARE the sensitive value — group size
    * protects identity, not the attribute (Machanavajjhala 2007). Here:
    * how many (nation, market segment) classes see fewer than l
    * distinct balance buckets among their customers.
    *
    * Scale shape: two hash aggregates with map-side combine — the
    * (QI, sensitive) pre-group makes the distinct count an ordinary
    * count, so no count(DISTINCT) expansion; exchange width = the QI
    * tuple. Holds unchanged at 100 TB. */
  def lDiversity(spark: SparkSession, sfDir: String, l: Int = 3): DataFrame =
    lDiversityFrom(Tables.load(spark, sfDir, "customer"),
      Seq(col("c_nationkey"), col("c_mktsegment")),
      floor(col("c_acctbal") / 1000d), l)

  /** Generic core of [[tCloseness]]: per-QI-class total-variation
    * distance between the class's sensitive-value distribution and the
    * GLOBAL one, summarized into one audit row. The absent-value mass
    * is folded in algebraically — TV = ½(1 + Σ_{s∈class}(|p_c−p_g| −
    * p_g)) — so only OBSERVED (class, sensitive) cells aggregate;
    * no class × domain expansion ever materializes. Terms are 8-dp
    * decimals (order-independent exact sum, the source_kl doctrine),
    * the class flag compares the 4-dp rounded distance. */
  def tClosenessFrom(df: DataFrame, quasi: Seq[Column],
                     sensitive: Column, t: Double): DataFrame = {
    val qs = quasi.zipWithIndex.map { case (c, i) => c.as(s"q$i") }
    val qNames = quasi.indices.map(i => col(s"q$i"))
    val cells = df.groupBy((qs :+ sensitive.as("s")): _*)
      .agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val classes = cells.groupBy(qNames: _*).agg(sum("cnt").as("n_c"))
    val global = cells.groupBy("s").agg(sum("cnt").as("g_s"))
    val total = cells.agg(sum("cnt").as("n"))
    val tv = cells
      .join(classes, quasi.indices.map(i => s"q$i"))
      .join(global, Seq("s"))
      .crossJoin(broadcast(total))
      .withColumn("term", round(
        abs(col("cnt") / col("n_c").cast("double")
          - col("g_s") / col("n").cast("double"))
          - col("g_s") / col("n").cast("double"), 8)
        .cast(org.apache.spark.sql.types.DecimalType(18, 8)))
      .groupBy(qNames: _*)
      .agg(max("n_c").as("n_c"), sum("term").as("term_sum"))
      .select(col("n_c"), round(
        (lit(1.0) + col("term_sum").cast("double")) / 2.0, 4).as("tv4"))
    TransientCaches.register(cells)
    tv.agg(
        sum("n_c").as("n_rows"),
        count(lit(1)).as("n_groups"),
        sum(when(col("tv4") > t, 1L).otherwise(0L)).as("n_risky_groups"),
        sum(when(col("tv4") > t, col("n_c")).otherwise(0L))
          .as("n_risky_rows"),
        min("tv4").as("min_tv4"), max("tv4").as("max_tv4"))
      .select(lit(t).as("t"), col("n_rows"), col("n_groups"),
        col("n_risky_groups"), col("n_risky_rows"),
        round(col("n_risky_rows") / col("n_rows"), 4).as("risk_pct"),
        col("min_tv4"), col("max_tv4"))
  }

  /** §2 #206 — T-CLOSENESS audit (Li et al. 2007): l-diversity's blind
    * spot is a class whose sensitive values are distinct but SKEWED
    * far from the corpus baseline — distinctness protects nothing if
    * the distribution itself leaks. Here: how many (nation, market
    * segment) classes sit more than t total-variation distance from
    * the global balance-bucket distribution. Completes the structured
    * privacy family (#132 k-anonymity → #171 l-diversity → this).
    *
    * Scale shape: three hash aggregates over observed cells (map-side
    * combined), one broadcast scalar, one small equi-join per cell —
    * the absent-mass algebra above keeps the plan free of any
    * class × domain cross join. Holds unchanged at 100 TB. */
  def tCloseness(spark: SparkSession, sfDir: String,
                 t: Double = 0.2): DataFrame =
    tClosenessFrom(Tables.load(spark, sfDir, "customer"),
      Seq(col("c_nationkey"), col("c_mktsegment")),
      floor(col("c_acctbal") / 1000d), t)

  /** §2 #138 — PARENT/CHILD TOTALS RECONCILIATION: order headers vs
    * the sum of their lines (extended price net of discount, plus
    * tax), bucketed by integer-basis-point relative error — the
    * source-vs-migrated financial audit every migration signs off on
    * (the aggregate form of the reference's per-record validation
    * path). Reports exact matches, ≤1%/≤10% bands, headers with no
    * lines, and orphan line keys; on this synthetic fixture the bands
    * are empty and the report says so — that divergence IS the
    * audit's finding.
    *
    * All money stays in integer cents (`round(x*100)` per line BEFORE
    * summing, identical in the oracle); the error measure is integer
    * basis points, so every count and the median are engine-exact.
    *
    * Scale shape: one partial-combined per-key line aggregate (the
    * same exchange any order-level query pays), a key equi-join
    * against headers, one anti-join for orphans, then 1-row summary
    * aggregates. Nothing wider than (key, cents) shuffles. */
  def totalsReconcile(spark: SparkSession, sfDir: String): DataFrame =
    totalsReconcileFrom(Tables.load(spark, sfDir, "orders"),
      Tables.load(spark, sfDir, "lineitem"))

  /** Generic core over ANY (o_orderkey, o_totalprice) header frame and
    * (l_orderkey, l_extendedprice, l_discount, l_tax) line frame. */
  def totalsReconcileFrom(o: DataFrame, l: DataFrame): DataFrame = {
    val lineSums = l.groupBy(col("l_orderkey"))
      .agg(sum(expr(
        "cast(round(l_extendedprice * (1 - l_discount) * (1 + l_tax)" +
          " * 100) as bigint)")).as("lc"))
    val joined = o
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("oc"))
      .join(lineSums, col("o_orderkey") === col("l_orderkey"), "left")
    val orphans = lineSums
      .join(o.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
    joined.agg(
      count(lit(1)).as("n_orders"),
      sum(when(col("lc").isNull, 1L).otherwise(0L)).as("n_no_lines"),
      sum(when(col("lc") === col("oc"), 1L).otherwise(0L)).as("n_exact"),
      sum(when(abs(col("lc") - col("oc")) * 10000 <= col("oc") * 100, 1L)
        .otherwise(0L)).as("n_within_1pct"),
      sum(when(abs(col("lc") - col("oc")) * 10000 <= col("oc") * 1000, 1L)
        .otherwise(0L)).as("n_within_10pct"),
      round(expr("percentile(abs(lc - oc) * 10000 div oc, 0.5D)"), 4)
        .as("p50_err_bp"))
      .crossJoin(broadcast(
        orphans.agg(count(lit(1)).as("n_orphan_line_keys"))))
  }

  /** §2 #133 — CORPUS CONCENTRATION report: Gini coefficient and
    * top-1%/top-10% character share of the document length
    * distribution — the "how unequal is this corpus" monitoring row
    * that decides whether seq_pack bins will balance, whether a few
    * giant documents dominate the token budget, and how aggressive
    * doc_chunk has to be. Every statistic is computed from the LENGTH
    * HISTOGRAM, not the rows: the rank-weighted Lorenz sum
    * `Σ rank·len` is regrouped per distinct length v with cumulative
    * prefix count S as `v·(c·S + c(c+1)/2)` (tie-invariant, so both
    * engines agree exactly), and the top-k% share reads the descending
    * cumulative counts clipped at k. All arithmetic stays in int64
    * until the final divisions.
    *
    * Scale shape: one hash aggregate (rows → distinct lengths), then
    * windows + a final aggregate over the histogram — whose size is
    * bounded by the longest document, NOT the corpus. The single-
    * partition window is over that bounded histogram only; the 100 TB
    * data pass is the one partial-agg count. */
  def corpusConcentrationFrom(docs: DataFrame, lenCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = docs.groupBy(lenCol.as("v")).agg(count(lit(1)).as("c"))
    // single-partition ordered windows over the bounded histogram —
    // on WindowLintSpec's bounded allowlist
    val wAsc = Window.orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wDesc = Window.orderBy(col("v").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = hist.agg(sum("c").as("n"),
      sum(col("v") * col("c")).as("t_chars"))
    hist
      .withColumn("s_lt", coalesce(sum(col("c")).over(wAsc), lit(0L)))
      .withColumn("cc", sum(col("c")).over(wDesc))
      .crossJoin(tot)
      .withColumn("k1", greatest(expr("n div 100"), lit(1L)))
      .withColumn("k10", greatest(expr("n div 10"), lit(1L)))
      .agg(
        max(col("n")).as("n_docs"), max(col("t_chars")).as("total_chars"),
        sum(col("v") * (col("c") * col("s_lt")
          + expr("c * (c + 1) div 2"))).as("sw"),
        sum(col("v") * (least(col("cc"), col("k1"))
          - least(col("cc") - col("c"), col("k1")))).as("chars_k1"),
        sum(col("v") * (least(col("cc"), col("k10"))
          - least(col("cc") - col("c"), col("k10")))).as("chars_k10"))
      .select(col("n_docs"), col("total_chars"),
        round(lit(2d) * col("sw") / (col("n_docs") * col("total_chars"))
          - (col("n_docs") + 1) / col("n_docs"), 6).as("gini6"),
        round(col("chars_k1") / col("total_chars"), 6).as("top1_share"),
        round(col("chars_k10") / col("total_chars"), 6).as("top10_share"))
  }

  /** Fixture binding of [[corpusConcentrationFrom]] on documents. */
  def corpusConcentration(spark: SparkSession, sfDir: String): DataFrame =
    corpusConcentrationFrom(Tables.load(spark, sfDir, "documents"),
      col("n_chars"))

  /** The lineitem metric columns [[corrMatrix]] profiles, in the
    * lexicographic order that defines the output's (col_x, col_y)
    * pairing. */
  private[graft] val corrCols =
    Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")

  /** §2 #212 — PEARSON CORRELATION MATRIX over the fact table's metric
    * columns: the multivariate step after [[profileTable]]'s univariate
    * moments — the screen for redundant measures and accidental
    * functional dependencies before a wide fact table ships (and the
    * sanity check that price ≁ discount in generated data). One
    * aggregate pass computes n plus Σx, Σx², Σxy for every pair; each
    * of the C(4,2) correlations is derived from those sufficient
    * statistics — never a per-pair scan.
    *
    * Determinism contract: the metric columns are DOUBLEs, so naive
    * Σxy would be partition-order dependent. Each COLUMN is quantized
    * ONCE to integer cents (`floor(x·100 + 0.5)` — half-up, exact for
    * the 2-dp monetary domain, cheap IEEE ops), products are then
    * exact LONGs summed as DECIMAL — every sufficient statistic is an
    * exact integer and the final double formula engine-reproducible.
    * Pearson correlation is invariant under per-column positive linear
    * scaling, so the cents units cancel out of `corr6` entirely.
    * (The obvious alternative — `round(product, 8)` per aggregate —
    * costs a BigDecimal per row per aggregate inside Spark's Round and
    * measured 10× slower; 4 quantizations/row beats 15 rounds/row.)
    * Domain bound: |cents| must stay below ~3e9 so the long products
    * cannot wrap (ANSI mode fails loudly if violated).
    *
    * Scale shape: one map-side-combined aggregate to a single
    * 15-number row; the pair explosion happens on that one row. */
  def corrMatrix(spark: SparkSession, sfDir: String): DataFrame =
    corrMatrixFrom(Tables.load(spark, sfDir, "lineitem"), corrCols)

  def corrMatrixFrom(df: DataFrame, cols: Seq[String]): DataFrame = {
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val qd = df.select(cols.map(c =>
      floor(col(c) * 100 + lit(0.5)).as(s"q_$c")): _*)
    def s(e: Column) = sum(e.cast(DecimalType(28, 0)))
    val aggs =
      cols.map(c => s(col(s"q_$c")).as(s"s_$c")) ++
        cols.map(c => s(col(s"q_$c") * col(s"q_$c")).as(s"ss_$c")) ++
        pairs.map { case (a, b) =>
          s(col(s"q_$a") * col(s"q_$b")).as(s"sp_${a}_$b") }
    val one = qd.agg(count(lit(1)).as("n"), aggs: _*)
    def corr6(a: String, b: String): Column = {
      val n = col("n").cast("double")
      val sx = col(s"s_$a").cast("double")
      val sy = col(s"s_$b").cast("double")
      round((n * col(s"sp_${a}_$b").cast("double") - sx * sy)
        / sqrt((n * col(s"ss_$a").cast("double") - sx * sx)
          * (n * col(s"ss_$b").cast("double") - sy * sy)), 6)
    }
    one.select(explode(array(pairs.map { case (a, b) =>
        struct(lit(a).as("col_x"), lit(b).as("col_y"),
          col("n").as("n"), corr6(a, b).as("corr6"))
      }: _*)).as("p"))
      .select(col("p.col_x").as("col_x"), col("p.col_y").as("col_y"),
        col("p.n").as("n"), col("p.corr6").as("corr6"))
      .orderBy("col_x", "col_y")
  }
}
