package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import graft.{SparkEntry, Tables}

/** Writes docs/plans/PLANS_<family>.md (one file per Bench family) plus
  * a docs/PLANS.md index: the formatted physical plan of each headline
  * query at the bench SF — the artifact used to audit shuffle counts,
  * pushdown, and broadcast decisions per SURVEY §4.
  *
  * Per-family files exist so a rewiring in one family regenerates ONE
  * reviewable file instead of churning a 25k-line monolith (the r10
  * verdict's reviewability complaint). Args: optional family names
  * restrict the regen (`runMain graft.tools.DumpPlans dedup ann`); no
  * args regenerates everything. Flags -sf <dir> / -out <dir> override
  * the data and output locations. Before/after plan evidence for a
  * change is this tool run on both commits plus a `git diff` of the
  * family's file.
  */
object DumpPlans {
  /** (sf dir, out dir, family names): `-sf` and `-out` consume the arg
    * after them, left to right; every other arg is a family name. */
  private[graft] def parseArgs(
      args: Seq[String]): (String, String, Set[String]) = {
    @annotation.tailrec
    def go(rest: List[String], sf: String, out: String,
           fams: Set[String]): (String, String, Set[String]) = rest match {
      case "-sf" :: v :: t => go(t, v, out, fams)
      case "-out" :: v :: t => go(t, sf, v, fams)
      case f :: Nil if f == "-sf" || f == "-out" =>
        throw new IllegalArgumentException(s"$f needs a value")
      case fam :: t => go(t, sf, out, fams + fam)
      case Nil => (sf, out, fams)
    }
    go(args.toList, "/root/testdata/sf0.1",
      sys.props("user.dir") + "/docs/plans", Set.empty)
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, famFilter) = parseArgs(args.toSeq)
    val known = graft.Bench.families.map(_._1)
    require(famFilter.forall(known.contains),
      s"unknown family in ${famFilter.mkString(", ")} — known: ${
        known.mkString(", ")}")
    val families = graft.Bench.families
      .filter { case (f, _) => famFilter.isEmpty || famFilter(f) }

    val spark = Tables.configure(SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val header = "Audit criteria (SURVEY §4): filters/projections at " +
      "the scan, bounded dims broadcast, one real exchange per " +
      "agg/join, no cartesian products outside the documented " +
      "brute-force ANN baseline.\n"
    families.foreach { case (fam, qs) =>
      val sb = new StringBuilder
      sb.append(s"# Physical plans — $fam family ")
      sb.append(s"(generated by graft.tools.DumpPlans, sf dir $sfDir)\n\n")
      sb.append(header)
      qs.filter(SparkEntry.queries.contains).foreach { name =>
        val df = SparkEntry.queries(name)(spark, sfDir)
        sb.append(s"\n## $name\n\n```\n")
        sb.append(df.queryExecution.explainString(
          ExplainMode.fromString("formatted")))
        sb.append("```\n")
      }
      val p = java.nio.file.Paths.get(s"$outDir/PLANS_$fam.md")
      java.nio.file.Files.writeString(p, sb.toString)
      println(s"wrote $p")
    }
    // index: where each family's plans live (replaces the old monolith)
    if (famFilter.isEmpty) {
      val idx = new StringBuilder
      idx.append("# Physical plans index\n\n")
      idx.append("Per-family plan dumps (regenerate one family with ")
      idx.append("`sbt \"runMain graft.tools.DumpPlans <family>\"`):\n\n")
      graft.Bench.families.foreach { case (fam, qs) =>
        val n = qs.count(SparkEntry.queries.contains)
        idx.append(s"- [plans/PLANS_$fam.md](plans/PLANS_$fam.md) — $n queries\n")
      }
      idx.append("\n").append(header)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(
          sys.props("user.dir") + "/docs/PLANS.md"), idx.toString)
      println("wrote docs/PLANS.md (index)")
    }
    spark.stop()
  }
}
