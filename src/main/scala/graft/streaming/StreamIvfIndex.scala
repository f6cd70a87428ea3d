package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** CONTINUOUS IVF index maintenance: each arriving micro-batch of new
  * corpus vectors is assigned with the index artifact's OWN centroids
  * (map-only, broadcast constant) and landed as a cell-partitioned
  * delta — the ingestion half of the ANN family, closing the loop with
  * [[StreamAnn]] (the serving half): vectors stream in, queries stream
  * in, and [[Similarity.readIvfAssigned]] makes serving see both the
  * base build and every delta with no code change. The quantizer stays
  * versioned with the corpus (retrain + rebuild when drift warrants,
  * stream between versions — the standard IVF deployment cadence
  * [[Similarity.ivfIndexAppend]] documents for the batch form).
  *
  * EXACTLY-ONCE under foreachBatch's at-least-once replay (the
  * [[StreamPairs]] stance): each batch overwrites its own
  * `stream/batch_id=N` subtree, so a replayed batch replaces its delta
  * instead of appending duplicate vectors. Per-batch cost ∝ increment:
  * assignment is one map-only pass over the batch (nCells × dim
  * centroid broadcast), and nothing of the base index is read or
  * rewritten. `cell` is a partition column of every delta, so probe
  * partition pruning holds across base + deltas.
  *
  * StreamingSpec proves serving from the maintained index equals
  * serving from a full batch rebuild over the combined vector set, and
  * that a replayed batch leaves the index unchanged.
  */
object StreamIvfIndex {

  /** Assign one micro-batch (keyed by `batchId`) with the artifact's
    * centroids; land it as the batch's own cell-partitioned delta.
    * `pinnedVersion` = the artifact's quantizer version when the
    * stream STARTED ([[start]] captures it): an
    * [[Similarity.ivfIndexRebuild]] under a running maintainer fails
    * the next batch loudly instead of landing deltas that mix two
    * quantizers' cell meanings — restart the stream so it re-pins the
    * new version (None = pre-versioning artifact, unguarded).
    * private[graft]: StreamingSpec drives it directly to prove replay
    * idempotence and the version guard. */
  private[graft] def applyBatch(batch: DataFrame, batchId: Long,
                                dir: String,
                                pinnedVersion: Option[Long] = None): Unit = {
    val ivf = Similarity.openIvf(batch.sparkSession, dir)
    // raw batch vectors never land in a whitened artifact's lists
    ivf.requireRaw()
    pinnedVersion.foreach { v0 =>
      val v = ivf.quantizerVersion
      if (!v.contains(v0))
        throw new IllegalStateException(
          s"IVF index at $dir is at quantizer version ${v.orNull} but " +
            s"this maintainer pinned version $v0 at stream start — the " +
            "index was rebuilt underneath it. Restart the maintainer " +
            "so new deltas are assigned with the retrained centroids.")
    }
    // replay of a batch ivfIndexCompact already folded into the base:
    // its vectors are in assigned/ — skip (older ids fail loudly)
    if (!ivf.foldedByCompaction(batchId))
      ivf.landDelta(batchId, batch.select("vec_id", "embedding"))
  }

  /** Start continuous maintenance of the index at `dir` (built once by
    * [[Similarity.ivfIndexToDir]]); `vectors` needs (vec_id,
    * embedding). */
  def start(vectors: DataFrame, dir: String,
            checkpoint: String): StreamingQuery = {
    // pin the quantizer version for the life of this stream: every
    // batch must assign under the SAME centroids or the deltas mix
    // two quantizers' cell meanings (applyBatch enforces it)
    val pinned = Similarity.openIvf(vectors.sparkSession, dir)
      .quantizerVersion
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, dir, pinned)
      }
      .start()
  }
}
