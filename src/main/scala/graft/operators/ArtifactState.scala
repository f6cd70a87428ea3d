package graft.operators

import java.util.concurrent.{ExecutionException, FutureTask}
import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Per-JVM registry of state derived from an artifact or a training
  * input: model arrays collected off an index member, the parquet
  * schema of a member read, trained models, and directory artifacts
  * built from a corpus (verified pairs, kNN edges, BM25 stats,
  * tokenizer models, sketch states). Such state changes only when its
  * input is rewritten, so a caller resolves it once per input version
  * instead of re-building it (Spark jobs) per call.
  *
  *  - Keyed by whatever pins the input version: (kind, qualified input
  *    paths, [[fingerprint]] of their files, params). Spark names every
  *    part file with a per-write UUID, so any rewrite changes the
  *    fingerprint, even under coarse mtimes.
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

  /** Builds run so far (misses) and lookups that found their key
    * present (hits), for the bench record and specs. */
  private[graft] val builds, hits = new AtomicLong

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
    else hits.incrementAndGet()
    try task.get().asInstanceOf[T]
    catch {
      case e: ExecutionException =>
        entries.synchronized(entries.remove(key, task))
        throw e.getCause
    }
  }

  /** `build` over the files under `inputs`, once per (kind, params)
    * and version of those files. A missing input keys as its path
    * alone, so its build (which fails, and is not cached) re-runs until
    * the input exists, and then keys by the input's files. */
  def ofInputs[T <: AnyRef](spark: SparkSession, kind: String,
                            inputs: Seq[String], params: Any)
                           (build: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val qualified = inputs.map { s =>
      val p = new Path(s)
      p.getFileSystem(conf).makeQualified(p)
    }
    memo((kind, qualified.map(_.toString), fingerprint(conf, qualified),
      params))(build)
  }

  /** The directory artifact `write` builds from the files under
    * `inputs`, once per (kind, params) and version of those files. Each
    * build writes a directory of its own, so a directory returned
    * earlier is never overwritten: after an LRU eviction or an input
    * rewrite, lazy frames over the old one still read what they
    * planned. An artifact never outlives the process that built it
    * ([[ExportImport.runScratch]]). */
  def dirOf(spark: SparkSession, kind: String, inputs: Seq[String],
            params: Any)(write: String => Unit): String =
    ofInputs(spark, kind, inputs, params) {
      val dir = ExportImport.runScratch(s"$kind/" +
        ExportImport.pathSlug(s"$params-${inputs.mkString(",")}"))
      write(dir)
      dir
    }

  /** Hash of the sorted (path, length, mtime) of every file under
    * `paths` (a path may name a file or a directory); "" when there are
    * none. A path that cannot be listed contributes itself.
    * `listStatus`, not `listFiles`: the located form looks up block
    * locations and permissions per file. */
  def fingerprint(conf: Configuration, paths: Seq[Path]): String =
    if (paths.isEmpty) ""
    else {
      def walk(fs: FileSystem, d: Path): Seq[String] =
        fs.listStatus(d).toSeq.flatMap { st =>
          if (st.isDirectory) walk(fs, st.getPath)
          else Seq(s"${st.getPath}:${st.getLen}:${st.getModificationTime}")
        }
      val files = paths.flatMap { p =>
        try walk(p.getFileSystem(conf), p)
        catch { case NonFatal(_) => Seq(p.toString) }
      }
      java.util.UUID.nameUUIDFromBytes(
        files.sorted.mkString("\n").getBytes("UTF-8")).toString
    }
}
