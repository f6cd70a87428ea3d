package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Iterative graph algorithms over edge lists.
  *
  * The missing family next to the one-shot graph ops (dedup_clusters'
  * connected components, label_spread's seeded propagation): fixed-point
  * iteration where every round is a join + aggregate over the edge
  * list. PageRank is the canonical member — centrality over the k-NN
  * similarity graph ranks the most "representative" documents/vectors
  * of a corpus (the selection signal used when a budget keeps only the
  * most central exemplars of each region, cf. coreset selection).
  *
  * Determinism contract: a float sum over incoming contributions is
  * accumulation-order-dependent, so each contribution is rounded to
  * 12 dp and summed as DECIMAL(28,12) — exact and order-independent —
  * and each iteration's rank is rounded back to 10 dp (the same
  * stance as lm_perplexity's decimal NLL sum). The DuckDB oracle
  * replays the identical arithmetic, so five iterations stay
  * digit-for-digit equal across engines.
  */
object Graph {

  /** Generic core: PageRank over ANY (src, dst) edge frame.
    *
    * pr_{t+1}(v) = (1−d)/N + d · Σ_{u→v} pr_t(u)/outdeg(u), iterated
    * `iters` times from the uniform vector. Dangling nodes cannot
    * arise from a k-NN build (every node is a query); nodes with no
    * in-edges settle at the teleport floor.
    *
    * Scale shape: per iteration ONE equi-join of the edge list with
    * the (node, pr) frame on src and ONE hash aggregate on dst — both
    * shuffles keyed by node id, partial aggregation applies, nothing
    * is ever collected (N stays a 1-row driver scalar). At 100 TB the
    * edge list dwarfs the rank vector; a production run would
    * checkpoint the rank frame every few iterations to cut lineage —
    * the five benched iterations keep the pure plan. */
  def pageRankFrom(edges: DataFrame, d: Double = 0.85,
                   iters: Int = 5): DataFrame = {
    require(iters >= 1 && d > 0 && d < 1)
    // every iteration (and nodes/outdeg) consumes the edge list — cache
    // it or an expensive upstream build (the knn cell join) re-executes
    // once per join leg per iteration (measured 13.9s → 8.1s at sf0.1).
    // Session boundary releases it (the TransientCaches contract).
    val e = TransientCaches.register(
      edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val n = nodes.count()
    // IEEE-pinned scalars: 1.0/n and (1.0−d)·… reproduce bit-for-bit
    // in the oracle's CAST(… AS DOUBLE) arithmetic
    var pr = nodes.withColumn("pr", lit(1.0) / lit(n.toDouble))
    (1 to iters).foreach { _ =>
      val contrib = e.join(outdeg, Seq("src"))
        .join(pr.select(col("id").as("src"), col("pr")), Seq("src"))
        .select(col("dst").as("id"),
          round(round(col("pr"), 10) / col("deg"), 12)
            .cast(DecimalType(28, 12)).as("c"))
        .groupBy("id").agg(sum(col("c")).as("sc"))
      pr = nodes.join(contrib, Seq("id"), "left")
        .select(col("id"),
          round((lit(1.0) - lit(d)) / lit(n.toDouble)
            + lit(d) * coalesce(col("sc").cast("double"), lit(0.0)), 10)
            .as("pr"))
    }
    pr.orderBy("id")
  }

  /** §2 #172 — PageRank centrality over the exact k-NN similarity
    * graph, fed from the session-shared EDGE ARTIFACT
    * ([[graft.operators.Similarity.sharedKnnEdgesDir]]): the
    * corpus-scale cell equi-join build runs once per corpus version
    * and the five damped iterations read the (src, dst) parquet —
    * the artifact doctrine's graph leg (knn_graph stays the measured
    * fresh build). d = 0.85. */
  def pagerank(spark: SparkSession, sfDir: String, d: Double = 0.85,
               iters: Int = 5): DataFrame =
    pageRankFrom(
      spark.read.parquet(Similarity.sharedKnnEdgesDir(spark, sfDir))
        .select(col("src"), col("dst")),
      d, iters)
      .select(col("id").as("vec_id"), col("pr"))
}
