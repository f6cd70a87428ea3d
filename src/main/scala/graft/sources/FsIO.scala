package graft.sources

import java.io.{InputStream, OutputStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Single-file IO through the Hadoop FileSystem of the path's scheme —
  * the non-parquet sinks' analog of [[graft.streaming.StreamIO]]: the
  * xlsx/xsd/manifest/media writers produce driver-side or per-partition
  * files beside the parquet artifacts, and on a cluster those land on
  * HDFS/S3 where `java.nio.file` rejects the URI outright. Everything
  * here is a thin wrapper; the point is that NO format writer in the
  * library speaks `java.nio.file` for artifact paths (local tooling
  * such as the plan dumps rightly still does).
  */
object FsIO {

  /** The driver-side Hadoop Configuration for helpers whose signature
    * predates conf-threading (scratch-dir creation, manifest reads):
    * the ACTIVE session's hadoopConfiguration when one exists — so
    * cluster credentials/scheme settings (S3 keys, defaultFS) apply —
    * falling back to a bare default only when no session is up (e.g.
    * path utilities invoked before SparkSession.builder ran). */
  def sessionConf: Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  /** The session Hadoop Configuration shipped into an executor closure:
    * `Configuration` is not java-serializable, so per-partition writers
    * ([[XlsxTables.write]], media exports) carry this wrapper and
    * resolve their FileSystem on the executor with the DRIVER's
    * settings (credentials, scheme impls) intact. */
  class SerializableConf(@transient private var conf: Configuration)
      extends Serializable {
    def value: Configuration = conf
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      conf = new Configuration(false)
      conf.readFields(in)
    }
  }
  def serializable(conf: Configuration): SerializableConf =
    new SerializableConf(conf)

  def fs(path: String, conf: Configuration): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(conf), p)
  }

  def exists(path: String, conf: Configuration): Boolean = {
    val (f, p) = fs(path, conf)
    f.exists(p)
  }

  def mkdirs(path: String, conf: Configuration): Unit = {
    val (f, p) = fs(path, conf)
    f.mkdirs(p)
    ()
  }

  /** Recursive delete; no-op when absent. */
  def delete(path: String, conf: Configuration): Unit = {
    val (f, p) = fs(path, conf)
    if (f.exists(p)) { f.delete(p, true); () }
  }

  /** Overwriting create (caller closes). */
  def create(path: String, conf: Configuration): OutputStream = {
    val (f, p) = fs(path, conf)
    f.create(p, true)
  }

  def open(path: String, conf: Configuration): InputStream = {
    val (f, p) = fs(path, conf)
    f.open(p)
  }

  def writeBytes(path: String, bytes: Array[Byte],
                 conf: Configuration): Unit = {
    val out = create(path, conf)
    try out.write(bytes) finally out.close()
  }

  def writeString(path: String, s: String, conf: Configuration): Unit =
    writeBytes(path, s.getBytes("UTF-8"), conf)

  def readBytes(path: String, conf: Configuration): Array[Byte] = {
    val in = open(path, conf)
    try in.readAllBytes() finally in.close()
  }

  def readString(path: String, conf: Configuration): String =
    new String(readBytes(path, conf), "UTF-8")

  /** Per-partition BULK small-file writer. Scheme decides the engine:
    *  - `file:` targets bypass the Hadoop local shim entirely — without
    *    the native library its create path FORKS a chmod per file
    *    (measured 3.7 ms/file vs 0.02 ms for java.nio, 180×, and the
    *    checksum wrapper adds a hidden `.crc` sidecar per artifact on
    *    top), which turns a 0.7 s 5k-file export into 20-30 s;
    *  - any other scheme writes through ONE un-cached Hadoop client
    *    (the shared cached instance must not be mutated) with
    *    client-side checksums off — DFS integrity is server-side.
    * Close after the partition. */
  trait BulkWriter extends AutoCloseable {
    def write(path: String, bytes: Array[Byte]): Unit
  }

  def bulkWriter(dir: String, conf: Configuration): BulkWriter = {
    val probe = FileSystem.newInstance(new Path(dir).toUri, conf)
    if (probe.getScheme == "file") {
      probe.close()
      new BulkWriter {
        def write(path: String, bytes: Array[Byte]): Unit = {
          java.nio.file.Files.write(
            java.nio.file.Paths.get(path.stripPrefix("file:")), bytes)
          ()
        }
        def close(): Unit = ()
      }
    } else {
      probe.setWriteChecksum(false)
      probe.setVerifyChecksum(false)
      new BulkWriter {
        def write(path: String, bytes: Array[Byte]): Unit = {
          val out = probe.create(new Path(path), true)
          try out.write(bytes) finally out.close()
        }
        def close(): Unit = probe.close()
      }
    }
  }

  /** Delete the direct children of `dir` whose names satisfy `pred` —
    * overwrite semantics for non-parquet directory sinks. */
  def clearChildren(dir: String, conf: Configuration)
                   (pred: String => Boolean): Unit = {
    val (f, p) = fs(dir, conf)
    if (f.exists(p))
      f.listStatus(p).foreach { st =>
        if (pred(st.getPath.getName)) f.delete(st.getPath, true)
      }
  }
}
