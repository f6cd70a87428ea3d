package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Similarity

/** CONTINUOUS similarity serving: each arriving micro-batch of query
  * vectors probes the static-quantizer IVF index of a (static) corpus
  * and appends its per-query top-k — the online half of the ANN family
  * (the index the batch operators build, queried as vectors arrive:
  * embedding-based retrieval, online near-dup checks, hard-negative
  * lookups during training).
  *
  * Composition, not new machinery: the micro-batch body IS the proven
  * [[Similarity.annServe]] (same cell probe, same bounded TopKByScore
  * ranking the oracles check), so the streaming decisions equal the
  * batch operator on the same rows — StreamingSpec proves it. The
  * query side of every probe join is the micro-batch (broadcast by
  * construction); the corpus-sized side only streams through the cell
  * equi-join, so ingest cost is proportional to arriving queries, not
  * to the corpus. The trained model (centroid matrix) is a broadcast
  * constant exactly as in the batch path — at deployment the
  * `foreachBatch` body swaps the parquet write for the serving store.
  *
  * EXACTLY-ONCE under foreachBatch's at-least-once replay (the
  * [[StreamPairs]] stance): each batch's top-k lands in its own
  * `batch_id=N` partition with mode(overwrite), so a replayed batch
  * overwrites its results instead of appending duplicates.
  */
object StreamAnn {

  /** Serve one micro-batch of (vec_id, embedding) queries against the
    * corpus dir; write the per-query top-k into the batch's own
    * partition. An idle micro-batch writes nothing — a fileless
    * `batch_id=N` directory would trip schema inference for readers of
    * the outDir root (the [[StreamIvfIndex]]/[[StreamSemanticDedup]]
    * idle-batch stance). private[graft]: StreamingSpec drives it
    * directly to prove replay idempotence. */
  private[graft] def applyBatch(batch: DataFrame, batchId: Long,
                                corpusDir: String, outDir: String,
                                nProbe: Int, k: Int): Unit =
    land(batch, batchId, outDir)(b =>
      Similarity.annServe(b.sparkSession, corpusDir, b, nProbe, k))

  /** Write `serveBatch(batch)` over the batch's own `batch_id=N`
    * partition of `outDir`; an idle batch writes nothing. `release`
    * frees the per-batch frames the serve persisted, after the write. */
  private def land(batch: DataFrame, batchId: Long, outDir: String,
                   release: Boolean = false)
                  (serveBatch: DataFrame => DataFrame): Unit =
    if (!batch.isEmpty) {
      serveBatch(batch)
        .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      if (release) graft.operators.TransientCaches.release()
    }

  /** Start a stream that [[land]]s each micro-batch of `queries`. */
  private def serveEach(queries: DataFrame, outDir: String,
                        checkpoint: String, release: Boolean = false)
                       (serveBatch: DataFrame => DataFrame): StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        land(batch, batchId, outDir, release)(serveBatch)
      }
      .start()

  /** Start continuous serving of `queries` (needs vec_id, embedding). */
  def applyStream(queries: DataFrame, corpusDir: String, outDir: String,
                  checkpoint: String, nProbe: Int = 4,
                  k: Int = 5): StreamingQuery =
    serveEach(queries, outDir, checkpoint)(b =>
      Similarity.annServe(b.sparkSession, corpusDir, b, nProbe, k))

  /** Start continuous serving FROM THE INDEX ARTIFACT (built by
    * [[Similarity.ivfIndexToDir]], possibly growing live under
    * [[StreamIvfIndex]]/[[StreamSemanticDedup]]): each micro-batch of
    * queries probes base + every delta landed so far via
    * [[Similarity.annServeFromIndex]] — the serving loop closed against
    * the maintenance loop, with the same replay-idempotent
    * `batch_id=N` output partitions.
    *
    * CONCURRENCY CAVEAT: the maintainers' replays OVERWRITE their own
    * `stream/batch_id=N` partition, so a serve that listed that
    * partition's files just before the overwrite can hit
    * FileNotFoundException during the (rare: replay-concurrent-with-
    * serve) window. Deployments that co-run maintenance and serving
    * set `spark.sql.files.ignoreMissingFiles=true` on the serving
    * session (the lost files' rows are re-landed by the same replay)
    * — or use a lakehouse table, whose ACID commit closes the window
    * entirely (docs/LAKEHOUSE.md). */
  def applyStreamFromIndex(queries: DataFrame, indexDir: String,
                           outDir: String, checkpoint: String,
                           nProbe: Int = 4, k: Int = 5): StreamingQuery =
    serveEach(queries, outDir, checkpoint)(b =>
      Similarity.annServeFromIndex(b.sparkSession, indexDir, b, nProbe,
        k))

  /** Continuous IVF-SQ8 serving: each query micro-batch scores the
    * probed cells through [[Similarity.annServeSq8FromIndex]]'s
    * 1-byte-per-dim scan and exact-reranks — the 4×-cheaper continuous
    * loop over the SAME artifact [[applyStreamFromIndex]] serves
    * (sq8 encoding is deterministic per vector: no extra leg to build,
    * sync, or drift-monitor, so this mode swap is config-only). Same
    * replay-idempotent `batch_id=N` output partitions and the same
    * concurrency caveat as [[applyStreamFromIndex]]. */
  def applyStreamSq8FromIndex(queries: DataFrame, indexDir: String,
                              outDir: String, checkpoint: String,
                              nProbe: Int = 4, k: Int = 5): StreamingQuery =
    serveEach(queries, outDir, checkpoint)(b =>
      Similarity.annServeSq8FromIndex(b.sparkSession, indexDir, b, nProbe,
        k))

  /** Continuous IVFADC serving from the artifact's PQ leg
    * ([[Similarity.ivfPqIndexAdd]]): each query micro-batch ADC-scans
    * the probed cells of the 32×-compressed codes table and
    * exact-reranks, with live index deltas routed straight to the
    * exact stage ([[Similarity.annServeFromPqIndex]]'s fresh-buffer
    * semantics) — the compressed serving loop closed against the same
    * maintenance loop. The staleness guard travels with the body: a
    * micro-batch arriving after an un-resynced compaction FAILS
    * loudly rather than silently missing folded vectors (re-run
    * `ivfPqIndexAdd`, restart the stream). Same replay-idempotent
    * `batch_id=N` output partitions and the same concurrency caveat
    * as [[applyStreamFromIndex]]. */
  def applyStreamFromPqIndex(queries: DataFrame, indexDir: String,
                             outDir: String, checkpoint: String,
                             nProbe: Int = 4, k: Int = 5): StreamingQuery =
    serveEach(queries, outDir, checkpoint)(b =>
      Similarity.annServeFromPqIndex(b.sparkSession, indexDir, b, nProbe,
        k))

  /** Continuous WHITENED serving from a whitened artifact
    * ([[Similarity.ivfWhitenIndexToDir]]): each micro-batch of RAW
    * query vectors is transformed with the artifact's stored μ/pc and
    * probed against the whitened inverted lists
    * ([[Similarity.annServeWhitenedFromIndex]]) — the whitened
    * geometry's continuous loop, with the transform owned by the
    * artifact rather than wired into every producer. A raw artifact
    * fails loudly at the first batch (readWhitenModel's marker
    * doctrine). Same replay-idempotent `batch_id=N` output partitions
    * and the same concurrency caveat as [[applyStreamFromIndex]]. */
  def applyStreamWhitenedFromIndex(queries: DataFrame, indexDir: String,
                                   outDir: String, checkpoint: String,
                                   nProbe: Int = 4,
                                   k: Int = 5): StreamingQuery =
    serveEach(queries, outDir, checkpoint)(b =>
      Similarity.annServeWhitenedFromIndex(b.sparkSession, indexDir, b, nProbe,
        k))

  /** Continuous MMR serving from the artifact: each query micro-batch
    * takes its shortlist from the probed inverted lists and runs the
    * greedy diversity re-rank ([[Similarity.annMmrFromIndex]]) — the
    * serving ladder's diversity rung closed against the same
    * maintenance loop. MMR is per-query independent (shortlist, pair,
    * and pick frames all key on query_id), so the streamed batches
    * equal the batch operator on the same rows (StreamingSpec). The
    * per-batch frames the greedy rounds persist are KB-sized; the body
    * releases them after the write so a long-lived stream never
    * accumulates cache entries. Same replay-idempotent `batch_id=N`
    * partitions and the same concurrency caveat as
    * [[applyStreamFromIndex]]. */
  def applyStreamMmrFromIndex(queries: DataFrame, indexDir: String,
                              outDir: String, checkpoint: String,
                              nProbe: Int = 4, k: Int = 5,
                              lambda: Double = 0.7): StreamingQuery =
    serveEach(queries, outDir, checkpoint, release = true)(b =>
      Similarity.annMmrFromIndex(b.sparkSession, indexDir, b, nProbe, k,
        lambda = lambda))
}
