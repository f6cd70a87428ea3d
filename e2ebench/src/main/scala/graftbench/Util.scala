package graftbench

import java.io.File
import scala.io.Source

/** Local-filesystem helpers for the benchmark's own work directory. */
object Fs {
  def delete(path: String): Unit = {
    def rm(f: File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(path))
  }

  /** Bytes of the data files under `path` (Spark's `_SUCCESS` markers
    * and hidden checksum files excluded). */
  def bytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
      else f.length
    walk(new File(path))
  }
}

/** Output values recorded per (workload, seed) from an earlier run of
  * the program, one `workload seed key value` line each. A seed with no
  * record is checked only within the run. Every run prints its own
  * values as `# expected ...` lines, the format this file holds. */
object Expected {
  @volatile var file: Option[String] = None

  private lazy val table: Map[(String, Long), Map[String, String]] =
    file.filter(new File(_).isFile).map { f =>
      val src = Source.fromFile(f, "UTF-8")
      try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split("\\s+", 4)).collect {
          case Array(w, s, k, v) => ((w, s.toLong), k -> v)
        }.toSeq.groupBy(_._1).map { case (key, kvs) => key -> kvs.map(_._2).toMap }
      finally src.close()
    }.getOrElse(Map.empty)

  def check(workload: String, seed: Long,
            values: Map[String, String]): Option[Check] = {
    values.toSeq.sorted.foreach { case (k, v) => println(s"# expected $workload $seed $k $v") }
    table.get((workload, seed)).map { rec =>
      val diff = values.filter { case (k, v) => rec.get(k).exists(_ != v) }
      Check("recorded_for_seed", diff.isEmpty,
        if (diff.isEmpty) s"${rec.size} recorded values match"
        else s"differ from the record: ${diff.keys.mkString(",")}")
    }
  }
}
