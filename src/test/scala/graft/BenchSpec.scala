package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import scala.jdk.CollectionConverters._

/** The bench contract: the headline set, the result line's shape, and
  * one query timed under its own job group into a per-query record. */
class BenchSpec extends SparkSpec {

  test("every headline query exists and every family name is unique") {
    val all = Bench.families.flatMap(_._2)
    assert(all.distinct == all, "duplicate query in Bench.families")
    val missing = all.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"headline names not in SparkEntry.queries: $missing")
  }

  private def record(q: String, wallS: Double, err: Option[String]) = {
    val ns = (wallS * 1e9).toLong
    Bench.Record(q, 0L, ns, ns, 1L, 1L, 1L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, "",
      err)
  }

  test("the result line: metric, value, unit, queries, errors and sf; " +
      "an errored query only under errors, outside the total") {
    val line = Bench.resultLine(Seq(
      record("q1_agg", 1.25, None),
      record("ann_mmr", 7.0, Some("java.lang.RuntimeException: \"bad\" \\ path")),
      record("pagerank", 0.5, None)), "/data/sf0.01")
    val JObject(fields) = parse(line): @unchecked
    assert(fields.map(_._1) ==
      Seq("metric", "value", "unit", "queries", "errors", "sf"))
    val j = parse(line)
    assert((j \ "metric") == JString("total") &&
      (j \ "unit") == JString("sec") && (j \ "sf") == JString("/data/sf0.01"))
    assert((j \ "value") == JDouble(1.75), "the total sums successes only")
    val JObject(qs) = j \ "queries": @unchecked
    assert(qs.map(_._1) == Seq("q1_agg", "pagerank"))
    val JObject(errs) = j \ "errors": @unchecked
    assert(errs.map(_._1) == Seq("ann_mmr"))
  }

  test("a timed query runs under its job group and is recorded") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(Option(e.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    val meter = new Bench.Meter
    val sc = spark.sparkContext
    sc.addSparkListener(meter)
    sc.addSparkListener(jobs)
    val r = try Bench.timeQuery(spark, sf, "q1_agg", meter)
      finally { sc.removeSparkListener(jobs); sc.removeSparkListener(meter) }
    assert(r.err.isEmpty, s"q1_agg failed: ${r.err}")
    assert(r.jobs >= 1 && r.jobs == groups.size,
      s"${r.jobs} jobs recorded, ${groups.size} seen")
    assert(groups.iterator().asScala.forall(_ == "q1_agg"),
      s"jobs outside the query's group: $groups")
    assert(sc.getLocalProperty("spark.jobGroup.id") == null,
      "the job group is cleared after the write")
    assert(r.constructNs + r.actionNs <= r.wallNs)
    val j = parse(r.json)
    val JObject(fields) = j: @unchecked
    assert(fields.map(_._1) == Seq("q", "family", "construct_s", "action_s",
      "wall_s", "jobs", "stages", "tasks", "task_s", "cpu_s", "gc_ms",
      "shuffle_mb", "spill_mb", "artifact_builds", "artifact_hits", "jvm"),
      "a successful record carries no err field")
    assert((j \ "q") == JString("q1_agg") &&
      (j \ "family") == JString("analytics"))
  }

  test("the record counts artifact builds, then hits on a repeat") {
    // a private copy of the documents table, so no earlier spec in this
    // JVM has built the rules artifact for it yet
    val sfCopy = operators.ExportImport.runScratch("bench-spec-sf")
    Tables.load(spark, sf, "documents").write
      .parquet(s"$sfCopy/documents.parquet")
    val meter = new Bench.Meter
    val sc = spark.sparkContext
    sc.addSparkListener(meter)
    val Seq(first, second) =
      try Seq.fill(2)(Bench.timeQuery(spark, sfCopy, "bpe_encode_artifact",
        meter))
      finally sc.removeSparkListener(meter)
    assert(first.err.isEmpty && second.err.isEmpty, s"${first.err} ${second.err}")
    assert(first.artifactBuilds >= 1, first.json)
    assert(second.artifactBuilds == 0 && second.artifactHits >= 1,
      second.json)
  }

  test("a memory pool without a maximum prints its use alone") {
    assert(Bench.poolUsage("Metaspace", 160000000L, -1L) == "Metaspace=160MB")
    assert(Bench.poolUsage("CodeHeap 'non-nmethods'", 2400000L, 7000000L) ==
      "CodeHeap 'non-nmethods'=2/7MB")
  }

  test("DumpPlans consumes flag values left to right") {
    val (sfDir, out, fams) =
      graft.tools.DumpPlans.parseArgs(Seq("-sf", "ann", "ann", "-out", "o"))
    assert(sfDir == "ann" && out == "o" && fams == Set("ann"),
      "a family named like a flag value is still a family")
  }
}
