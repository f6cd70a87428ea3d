package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json (`graft.oracle.OracleSql`), for the driver's
  * DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // optional extra args: restrict the dump to these query names (dev loop)
    val only = args.drop(2).toSet
    // data-dependent oracles (trained-IVF centroid literals) must be
    // built for the SAME SF the queries ran at
    sys.props("graft.oracle.sfdir") = sfDir
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A query that throws writes no parquet dir, so it would simply be
    // ABSENT from the driver's correctness report — N fewer rows, all
    // green. Record every failure in a durable artifact (and a final
    // loud summary) so a silent shrink of the query set is impossible.
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed(name) = e.toString.takeWhile(_ != '\n')
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // session boundary between queries — same hygiene as Bench
      operators.TransientCaches.release()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // keys sorted, one entry per line: two runs' files diff line by line
    val json = graft.oracle.OracleSql.all.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{\n", ",\n", "\n}\n")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/_verify_errors.json"),
      failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    val ran =
      SparkEntry.queries.count { case (n, _) => only.isEmpty || only(n) }
    System.err.println(
      s"[verify] DONE ok=${ran - failed.size} failed=${failed.size}" +
        (if (failed.nonEmpty) s" -> ${failed.keys.mkString(",")}" else ""))
    spark.stop()
  }
}
