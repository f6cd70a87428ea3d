package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Source-level lint pinning every UNPARTITIONED window in the engine
  * to an explicit bounded-frame allowlist.
  *
  * Why a lint and not a runtime marker: WindowExec warns ("No Partition
  * Defined ... single partition") whenever a window has no partition
  * spec, and Catalyst constant-folds a `partitionBy(lit(0))` marker
  * away before the physical plan — so the warning cannot be silenced
  * per-site without changing semantics. The repo's doctrine is that a
  * single-partition window is acceptable ONLY over frames bounded by
  * model/report state (a top-k head, a value histogram, a day table),
  * never over row-scale data. This spec makes that doctrine enforced:
  * any NEW `Window.orderBy`/`Window.rowsBetween`/`Window.rangeBetween`
  * chain (the house style for partitioned windows always starts
  * `Window.partitionBy(...)`) fails the build until it is either
  * partitioned or consciously added here with its boundedness argument.
  * The ~18 WindowExec warnings in a Verify log all map to these sites.
  */
class WindowLintSpec extends org.scalatest.funsuite.AnyFunSuite {

  /** (file → expected count) of unpartitioned Window chain-starts, each
    * justified bounded:
    *  - Curation.scala (1): rankedBy — ranks a bounded top-k retrieval
    *    list (≤ 20 rows) for reciprocal-rank fusion.
    *  - TextAnalysis.scala (2): vocab_coverage's rank + cumulative-share
    *    windows run AFTER `.limit(k)` — ≤ k rows (top-k head).
    *  - Quality.scala (3): corpus_concentration's two cumulative
    *    windows over the doc-length HISTOGRAM (≤ longest-doc rows) and
    *    benford_check's total over ≤ 9 digit rows.
    *  - Analytics.scala (1): events_cusum's prefix-sum window over the
    *    per-day rollup (|days| rows — the corpus pass is the partial
    *    aggregate that builds it). */
  private val allow = Map(
    "operators/TextAnalysis.scala" -> 2,
    "operators/Curation.scala" -> 1,
    "operators/Quality.scala" -> 3,
    "operators/Analytics.scala" -> 1)

  /** (path relative to src/main/scala/graft → text) of every Scala
    * source under `sub`. */
  private def sources(sub: String = ""): Map[String, String] = {
    val root = Paths.get("src/main/scala/graft")
    val walk = Files.walk(root.resolve(sub))
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString ->
        new String(Files.readAllBytes(p), "UTF-8"))
      .toMap
    finally walk.close()
  }

  test("every unpartitioned Window chain is on the bounded allowlist") {
    val pat = java.util.regex.Pattern.compile(
      """Window\s*\.\s*(orderBy|rowsBetween|rangeBetween)\(""")
    val found = sources().flatMap { case (path, text) =>
      // frame-bound constants (Window.unboundedPreceding etc.) are
      // not chain starts; the pattern above already excludes them
      val m = pat.matcher(text)
      var n = 0
      while (m.find()) n += 1
      if (n > 0) Some(path -> n) else None
    }
    assert(found == allow,
      s"unpartitioned Window sites changed.\n  found: $found\n  " +
        s"allow: $allow\nA new single-partition window must either be " +
        "partitioned or argued bounded and added to the allowlist " +
        "with its justification.")
  }

  /** Operators run inside the caller's session and must leave it as
    * they found it: a session-conf write, or a `setCheckpointDir` on
    * the shared SparkContext, is visible to every other query planned
    * meanwhile in that session, and a query whose branches were
    * collected eagerly on driver threads hides its plan and outlives a
    * failure. All are rejected at the source. */
  test("no operator writes session conf or runs branches eagerly") {
    val offending = sources("operators").collect {
      case (path, text) if text.contains("conf.set(") ||
          text.contains("setCheckpointDir(") ||
          text.contains("Branches") => path
    }
    assert(offending.isEmpty,
      s"operators writing session conf or state or using Branches: $offending")
  }

  /** The IVF index artifact's layout — its members and markers — is
    * known to `Similarity`'s artifact handle alone: the API and the
    * stream maintainers read and write an index through the handle, so
    * no second module can re-derive a marker's meaning and get it
    * wrong. `_compacted_through` stays allowed: the generic compaction
    * helpers use it for every artifact kind. */
  test("only the IVF artifact handle knows the index layout") {
    val layout = Seq("\"_synced_to\"", "\"_residual\"", "\"_rotation\"",
      "\"_whiten\"", "\"_quantizer_version\"", "/assigned\"", "/codes\"",
      "stream/batch_id=$", "readResidualMode", "readPqRotationMode")
    val offending = (sources("api") ++ sources("streaming")).collect {
      case (path, text) if layout.exists(text.contains) =>
        path -> layout.filter(text.contains)
    }
    assert(offending.isEmpty,
      s"IVF layout named outside the artifact handle: $offending")
  }

  /** Artifact and model state derived from an input lives in ONE
    * registry, `ArtifactState`, which keys it by the input's version;
    * a hand-rolled map beside it would serve stale state after a
    * rewrite. */
  test("no operator keeps a registry of its own") {
    val offending = sources("operators").collect {
      case (path, text) if text.contains("ConcurrentHashMap") &&
          path != "operators/ArtifactState.scala" => path
    }
    assert(offending.isEmpty, s"registries outside ArtifactState: $offending")
  }

  /** A per-run directory that no one deletes piles up on disk with
    * every call; `ExportImport.runDir` makes one and registers it for
    * deletion at exit, so it is the only place an operator mints a run
    * id. */
  test("per-run scratch directories come from the one helper") {
    val found = sources("operators").map { case (path, text) =>
      path -> "randomUUID".r.findAllIn(text).size
    }.filter(_._2 > 0)
    assert(found == Map("operators/ExportImport.scala" -> 1),
      s"run ids minted outside ExportImport.runDir: $found")
  }

  /** A catch-all (`case _: Throwable`) also swallows interrupts and
    * fatal errors; handlers catch `NonFatal` or a named exception.
    * Verify's is the one exception: it is its failure report, writing
    * every query's failure to `_verify_errors.json`. */
  test("no catch-all Throwable handler outside Verify") {
    val pat = """:\s*Throwable\s*=>""".r
    val offending = sources().collect {
      case (path, text) if pat.findFirstIn(text).isDefined &&
          path != "Verify.scala" => path
    }
    assert(offending.isEmpty, s"catch-all Throwable handlers: $offending")
  }

  /** The DuckDB replays are the truth the engine is checked against, so
    * the engine never reads them: nothing under the engine packages
    * names `graft.oracle`. */
  test("no engine package references graft.oracle") {
    val engine = Seq("operators", "api", "streaming", "functions", "sources")
    val offending = engine.flatMap(sources(_)).collect {
      case (path, text) if text.contains("graft.oracle") => path
    }
    assert(offending.isEmpty, s"engine files naming graft.oracle: $offending")
  }

  /** DuckDB-only list functions belong to the replays: in code (comments
    * stripped) they appear under `graft/oracle` alone, so no replay text
    * is left behind in the engine. */
  test("DuckDB list functions appear only under graft/oracle") {
    val duck = Seq("list_reduce(", "list_transform(", "list_zip(")
    val comments = """(?s)/\*.*?\*/|//[^\n]*""".r
    val offending = sources().collect {
      case (path, text) if !path.startsWith("oracle/") &&
          duck.exists(comments.replaceAllIn(text, " ").contains) => path
    }
    assert(offending.isEmpty,
      s"DuckDB list functions outside graft/oracle: $offending")
  }
}
