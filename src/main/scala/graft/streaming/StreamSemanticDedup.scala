package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** §2 #96c — CONTINUOUS semantic dedup at ingest: each arriving
  * micro-batch of (vec_id, embedding) vectors is decided against the
  * accumulated KEPT corpus with the proven incremental operator
  * ([[Similarity.semanticDedupIncrementalFrom]]), and the batch's kept
  * vectors join the corpus — the embedding-space twin of [[StreamDedup]]
  * (text) and [[StreamPhash]]/[[StreamWavFp]] (media), completing the
  * ingest-dedup family across every modality the engine fingerprints.
  *
  * ONE artifact, TWO uses: the kept corpus is maintained AS an IVF
  * index ([[Similarity.ivfIndexToDir]]'s layout — the base build seeds
  * it and fixes the quantizer; kept vectors land as cell-partitioned
  * `stream/batch_id=N` deltas), so the deduped corpus is immediately
  * servable through [[Similarity.annServeFromIndex]] /
  * [[StreamAnn]] with no export step — dedup-at-ingest and
  * retrieval share state.
  *
  * EXACTLY-ONCE under foreachBatch's at-least-once replay (the
  * [[StreamPairs]] stance): decisions and kept deltas land in
  * `batch_id=N` overwrite partitions, and the base read for batch N
  * excludes delta N — a replayed batch overwrites its own output and
  * cannot pair against itself as history. Per-batch cost ∝ increment:
  * one map-only assignment (broadcast centroids) + one cell equi-join
  * whose probe side is the batch.
  */
object StreamSemanticDedup {

  /** Decide one micro-batch (keyed by `batchId`) against the
    * accumulated kept corpus at `dir`; write decisions and kept
    * vectors into the batch's own partitions. private[graft]:
    * StreamingSpec drives it directly to prove replay idempotence. */
  private[graft] def applyBatch(batch: DataFrame, batchId: Long,
                                dir: String, outDir: String,
                                tau: Double): Unit = {
    val spark = batch.sparkSession
    val ivf = Similarity.openIvf(spark, dir)
    // the kept corpus is raw-space: a whitened artifact refuses
    ivf.requireRaw()
    // replay of a compaction-folded batch: kept vectors are in the
    // folded assigned/ base and decisions in the folded log — skip
    // (older ids fail loudly, StreamIO.foldedByCompaction)
    if (ivf.foldedByCompaction(batchId) || StreamIO.foldedByCompaction(
        outDir, batchId, spark.sparkContext.hadoopConfiguration)) return
    val b = batch.select(col("vec_id"), col("embedding"))
    val base = ivf.rows.filter(coalesce(col("batch_id") =!= batchId,
      lit(true))).drop("batch_id")
    // persist: the decision frame feeds both the log write and the
    // kept filter — without the cache the assignment + cell join would
    // execute twice
    val decisions = Similarity
      .semanticDedupIncrementalFrom(base, b, ivf.centroids, tau)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    decisions.select("vec_id", "cell", "decision")
      .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    // an all-near batch lands no delta, and the decision is
    // deterministic so a replay recomputes the same emptiness
    ivf.landDelta(batchId, b.join(decisions.filter(col("decision") ===
      "kept").select("vec_id"), "vec_id"))
    decisions.unpersist()
    ()
  }

  /** Start continuous semantic dedup of `vectors` (needs vec_id,
    * embedding) against the index artifact at `dir` (seeded by
    * [[Similarity.ivfIndexToDir]], which also fixes the quantizer). */
  def start(vectors: DataFrame, dir: String, outDir: String,
            checkpoint: String, tau: Double = 0.4): StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, dir, outDir, tau)
      }
      .start()
}
