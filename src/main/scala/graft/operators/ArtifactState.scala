package graft.operators

import java.util.concurrent.{ExecutionException, FutureTask}
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Per-JVM registry of state derived from an artifact or a training
  * input: model arrays collected off an index member, the parquet
  * schema of a member read, trained models. Such state changes only
  * when its input is rewritten, so a serving path resolves it once per
  * input version instead of re-collecting it (Spark jobs) per call.
  *
  *  - Keyed by whatever pins the input version: for an artifact member,
  *    (kind, member path, fingerprint) where the fingerprint hashes the
  *    sorted (path, length, mtime) of every file under the member —
  *    Spark names every part file with a per-write UUID, so any rewrite
  *    changes it, even under coarse mtimes.
  *  - Single-flight: each key maps to a [[FutureTask]] run by the first
  *    caller outside the map's lock, so concurrent first touches build
  *    once and a build may itself resolve OTHER keys (the OPQ trainer
  *    trains PQ codebooks mid-build). A failed build is dropped, never
  *    cached: the next call retries.
  *  - Bounded: least-recently-used entries are evicted one at a time
  *    past [[Bound]] (re-building is always correct).
  *
  * Values are shared between callers and must be treated as read-only.
  */
private[graft] object ArtifactState {
  private[graft] val Bound = 256

  /** Builds run so far (misses), for specs. */
  private[graft] val builds = new AtomicLong

  private val entries =
    new java.util.LinkedHashMap[Any, FutureTask[AnyRef]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Any, FutureTask[AnyRef]]): Boolean =
        size > Bound
    }

  /** The value under `key`, building it once per key. */
  def memo[T <: AnyRef](key: Any)(build: => T): T = {
    val fresh = new FutureTask[AnyRef](() => build)
    val task = entries.synchronized {
      val t = entries.get(key)
      if (t != null) t else { entries.put(key, fresh); fresh }
    }
    if (task eq fresh) { builds.incrementAndGet(); fresh.run() }
    try task.get().asInstanceOf[T]
    catch {
      case e: ExecutionException =>
        entries.synchronized(entries.remove(key, task))
        throw e.getCause
    }
  }

  /** `build` over the artifact member at `path`, once per version of
    * the member's files; a missing member is not cached (`build` runs
    * and reports it). */
  def ofMember[T <: AnyRef](spark: SparkSession, kind: String, path: String)
                           (build: => T): T = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) build
    else {
      val q = fs.makeQualified(p)
      memo((kind, q.toString, fingerprint(fs, q)))(build)
    }
  }

  /** Hash of the sorted (path, length, mtime) of every file under `p`.
    * `listStatus`, not `listFiles`: the located form looks up block
    * locations and permissions per file. */
  private def fingerprint(fs: FileSystem, p: Path): String = {
    def walk(d: Path): Seq[String] = fs.listStatus(d).toSeq.flatMap { st =>
      if (st.isDirectory) walk(st.getPath)
      else Seq(s"${st.getPath}:${st.getLen}:${st.getModificationTime}")
    }
    java.util.UUID.nameUUIDFromBytes(
      walk(p).sorted.mkString("\n").getBytes("UTF-8")).toString
  }
}
