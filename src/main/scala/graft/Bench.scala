package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.CatalystBridge
import graft.operators.ArtifactState
import scala.util.Try
import scala.util.control.NonFatal

/** Benchmark main: times the headline queries at SPARK_GRAFT_SF_DIR.
  * Each query runs under its own Spark job group (its name) and leaves
  * one `[bench] {…}` JSON record on stderr ([[Record]]); the last stdout
  * line is the `{"metric":"total",…}` result ([[resultLine]]). A failed
  * query reports an "errors" entry (and is excluded from the total)
  * instead of masquerading as a timing. Query names as args time a
  * subset. */
object Bench {

  /** Headline set grouped into families by dominant input (`ann` =
    * every embeddings-reading query); each record names its family, so
    * family totals sum from the records. */
  val families: Seq[(String, Seq[String])] = Seq(
    "analytics" -> Seq(
      "q1_agg", "q5_region_revenue", "dim_flatten", "window_rank",
      "agg_skew_salted",
      "events_window", "events_hopping", "events_ewma", "join_skew_salted",
      "funnel_steps", "funnel_windowed", "attribution",
      "path_transitions", "totals_reconcile", "events_anomaly", "events_cusum",
      "drift_report",
      "filter_pushdown",
      "asof_join",
      "asof_join_native",
      "asof_join_forward",
      "sessionize", "sessionize_native", "merge_upsert", "basket_lift",
      "topk_frequent",
      "package_filter",
      "typed_format", "pivot_status", "rollup_agg", "pctile_value",
      "running_total", "rolling_window",
      "snapshot_diff", "corpus_diff", "fk_orphans", "join_skew_report",
      "k_anonymity", "l_diversity", "t_closeness", "corpus_concentration",
      "deterministic_sample",
      "value_histogram", "profile_table", "outlier_fences", "benford_check",
      "corr_matrix",
      "compact_files",
      "schema_evolution", "zorder_layout", "xlsx_keys", "retention_cohorts",
      "scd2_intervals",
      "event_dedup"),
    "dedup" -> Seq(
      "dedup_exact", "para_dedup", "line_dedup", "text_normalize",
      "dedup_minhash", "dedup_eval_sample", "dedup_eval_sweep",
      "dedup_ngram_exactjoin",
      "dedup_simhash", "dedup_clusters", "dedup_survivorship",
      "dedup_corpus", "dedup_audit_composed",
      // composed forms AFTER dedup_audit_composed: by convention the
      // audit pays the session's one-time verified-pair artifact build,
      // so the composed entries measure the production rollup form
      "dedup_clusters_composed", "dedup_survivorship_composed",
      "dedup_corpus_composed",
      "leakage_safe_split_composed",
      "dedup_incremental",
      "dedup_pairs_incremental",
      "doc_containment", "kgram_novelty", "memorization_grams",
      "exact_substr_spans", "exact_substr_scrub", "scrub_report",
      "source_overlap",
      "dedup_threshold_sweep", "lsh_plan", "simhash_plan"),
    "ann" -> Seq(
      "ann_bruteforce", "knn_graph", "knn_graph_ann", "pagerank",
      "knn_communities", "knn_triangles", "knn_edges_incremental",
      "label_spread",
      "ann_recall_eval",
      "ann_lsh", "ann_sign_sketch", "ann_ivf", "ann_ivf_static",
      "ann_ivf_indexed",
      "ann_pq", "ann_sq8", "ann_ivfsq8", "ann_ivfsq8_indexed", "ann_mmr",
      "ann_mmr_indexed", "ann_mmr_sq8_indexed", "ann_mmr_pq_indexed",
      "ann_ivfpq", "ann_ivfpq_residual",
      "ann_ivfpq_indexed", "ann_ivfpq_opq_indexed",
      "ann_ivfpq_residual_indexed", "semantic_dedup",
      "semantic_dedup_incremental", "hard_negatives",
      "embedding_dedup", "embedding_quantize", "quantize_eval",
      "embedding_class_stats", "embedding_outliers", "embedding_pca",
      "embedding_whiten", "whiten_recall_eval", "ann_ivf_whitened_indexed",
      "ivf_probe_sweep", "pq_shortlist_sweep",
      "pq_shortlist_sweep_residual", "pq_bits_sweep",
      "ann_recall_eval_pq", "opq_rotate",
      "ivf_drift", "ivf_drift_impact", "ivf_rebuild", "pq_drift"),
    "text" -> Seq(
      "text_stats", "token_count", "lang_id", "quality_filter",
      "quality_funnel", "quality_calibration", "gate_agreement",
      "doc_winnow", "doc_fingerprint", "text_shingles", "seq_pack",
      "pack_efficiency", "html_strip",
      "ngram_lm", "quality_repetition", "lm_perplexity", "lm_perplexity_kn",
      "perplexity_buckets", "charset_gate",
      "stratified_sample", "vocab_coverage", "word_pmi", "quality_model",
      "inverted_index", "source_mix_report", "source_kl", "source_psi", "tfidf_embed",
      "bpe_train", "bpe_encode",
      "bpe_fertility", "bpe_encode_artifact",
      "unigram_encode", "unigram_encode_artifact", "tokenizer_fertility",
      "char_entropy", "zipf_fit", "lang_confusion", "corpus_report",
      "kmv_distinct", "hll_distinct", "cms_topk",
      "hdr_quantiles", "source_overlap_hll", "source_jaccard_kmv",
      // composed forms AFTER the standalones: the first composed
      // sketch query pays the session's one-time state-artifact build,
      // so the second measures the pure from-state rollup
      "source_jaccard_composed", "hdr_quantiles_composed"),
    "curation" -> Seq(
      "decontaminate", "contamination_report", "pipeline_report",
      "decontaminate_fuzzy", "bloom_decontaminate",
      "decontaminate_semantic", "decon_recall_eval",
      "split_leakage", "leakage_safe_split", "budget_select",
      "doc_chunk", "pii_scrub", "c4_clean", "gopher_quality", "gopher_report", "range_join",
      "mixture_sample", "mixture_temperature", "mixture_upsample",
      "weighted_sample",
      "tfidf_topterms", "shard_assign", "dsir_weights",
      "bm25_search", "bm25_indexed", "bm25_incremental", "retrieval_fuse",
      "retrieval_fuse_indexed", "retrieval_fuse_served",
      "retrieval_fuse_sq8"),
    "io" -> Seq(
      "xml_roundtrip", "csv_roundtrip", "orc_roundtrip",
      "fixed_width_roundtrip", "xlsx_roundtrip",
      "jsonl_roundtrip", "integrity_checksum",
      "nested_docs",
      "compressed_io", "media_roundtrip", "media_frame_sample",
      "media_resize", "media_png_roundtrip", "media_resize_png",
      "media_wav_stats", "media_jpeg_stats", "media_phash_dedup",
      "media_phash_clusters", "media_phash_incremental",
      "media_wav_fp_dedup", "media_wav_fp_planned", "hamming_plan",
      "media_wav_fp_clusters", "media_wav_fp_incremental",
      "json_props",
      "import_validation", "import_errors", "package_apply"))

  /** Flat headline order (= concatenated family order). */
  val headline: Seq[String] = families.flatMap(_._2)
  private val familyOf: Map[String, String] =
    families.flatMap { case (f, ns) => ns.map(_ -> f) }.toMap

  /** One timed query. `constructNs` builds the DataFrame (eager artifact
    * builds, trainings and collects run here), `actionNs` is its `noop`
    * write, `wallNs` both; the counters are Spark's deltas over the query
    * ([[Meter]]), the artifact counts are [[operators.ArtifactState]]'s
    * builds and hits over the query, and `jvm` the code-cache/metaspace
    * reading after it (a full code cache silently disables JIT). */
  final case class Record(q: String, constructNs: Long, actionNs: Long,
                          wallNs: Long, jobs: Long, stages: Long,
                          tasks: Long, taskMs: Long, cpuNs: Long,
                          gcMs: Long, shuffleBytes: Long, spillBytes: Long,
                          artifactBuilds: Long, artifactHits: Long,
                          jvm: String, err: Option[String]) {
    def wallS: Double = wallNs / 1e9
    def json: String = {
      import org.json4s.JsonDSL._
      import org.json4s.jackson.JsonMethods.{compact, render}
      def s(ns: Long): Double = math.round(ns / 1e6) / 1e3
      def mb(bytes: Long): Double = math.round(bytes / 1e4) / 1e2
      compact(render(("q" -> q) ~ ("family" -> familyOf.get(q)) ~
        ("construct_s" -> s(constructNs)) ~ ("action_s" -> s(actionNs)) ~
        ("wall_s" -> s(wallNs)) ~ ("jobs" -> jobs) ~ ("stages" -> stages) ~
        ("tasks" -> tasks) ~ ("task_s" -> s(taskMs * 1000000L)) ~
        ("cpu_s" -> s(cpuNs)) ~ ("gc_ms" -> gcMs) ~
        ("shuffle_mb" -> mb(shuffleBytes)) ~ ("spill_mb" -> mb(spillBytes)) ~
        ("artifact_builds" -> artifactBuilds) ~
        ("artifact_hits" -> artifactHits) ~
        ("jvm" -> jvm) ~ ("err" -> err)))
    }
  }

  /** Cumulative counters over every job, stage and task the session
    * runs: jobs, stages, tasks, summed task ms, executor CPU ns,
    * task-attributed GC ms, shuffle read + write bytes and spilled
    * (memory + disk) bytes. A query's record holds their deltas, which
    * tell fixed scheduling cost from data cost, and box load (wall up,
    * CPU/GC/shuffle flat) from a plan change. */
  private[graft] final class Meter extends SparkListener {
    private val jobs, stages, tasks, taskMs, cpuNs, gcMs, shuffleBytes,
      spillBytes = new AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(st: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (te.taskInfo != null) taskMs.addAndGet(te.taskInfo.duration)
      val m = te.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    /** The counters in the order the class comment lists them. */
    def snapshot: Seq[Long] =
      Seq(jobs, stages, tasks, taskMs, cpuNs, gcMs, shuffleBytes, spillBytes)
        .map(_.get)
  }

  /** One memory pool's reading: `name=used/maxMB`, or `name=usedMB` for
    * a pool without a maximum (`max` = -1, e.g. Metaspace). */
  private[graft] def poolUsage(name: String, used: Long, max: Long): String =
    if (max < 0) f"$name=${used / 1e6}%.0fMB"
    else f"$name=${used / 1e6}%.0f/${max / 1e6}%.0fMB"

  private def jvmHealth(): String = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") ||
        p.getName.contains("CodeCache") || p.getName == "Metaspace")
      .map { p => poolUsage(p.getName, p.getUsage.getUsed, p.getUsage.getMax) }
      .mkString(" ")
  }

  /** Runs `df` to its full result and discards the rows: a `noop`-sink
    * write computes every output column, where `.count()` lets Catalyst
    * prune projected work (and whole union branches of aggregates). */
  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Times query `name` under job group `name`, from construction
    * through its `noop` write, then resets the session so the next query
    * starts from the same state; `meter` must be registered on the
    * session. */
  private[graft] def timeQuery(spark: SparkSession, sfDir: String,
                               name: String, meter: Meter): Record = {
    val sc = spark.sparkContext
    val pre = meter.snapshot
    val (builds0, hits0) = (ArtifactState.builds.get, ArtifactState.hits.get)
    sc.setJobGroup(name, name)
    val t0 = System.nanoTime()
    val (t1, res) =
      try {
        val built = Try(SparkEntry.queries(name)(spark, sfDir))
        val t1 = System.nanoTime()
        (t1, built.map(materialize))
      } finally sc.clearJobGroup()
    val t2 = System.nanoTime()
    // outside the timed region: free operator-transient caches and
    // anything else pinned in the block manager — leaked storage blocks
    // crowd out execution memory, so later heavy queries would measure
    // spill, not their own plan (observed 14x on dedup_simhash at sf0.1).
    // Broadcast and shuffle blocks are reaped by the ContextCleaner only
    // when driver GC collects their handles, hence the forced GC (3-4x
    // observed on the export round-trips at the end of a full sweep).
    operators.TransientCaches.release()
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
    CatalystBridge.drainListeners(sc)
    val Seq(jobs, stages, tasks, taskMs, cpuNs, gcMs, shuffle, spill) =
      meter.snapshot.zip(pre).map { case (a, b) => a - b }
    Record(name, t1 - t0, t2 - t1, t2 - t0, jobs, stages, tasks, taskMs,
      cpuNs, gcMs, shuffle, spill, ArtifactState.builds.get - builds0,
      ArtifactState.hits.get - hits0, jvmHealth(),
      res.failed.toOption.map(_.toString.takeWhile(_ != '\n')))
  }

  /** The result line: successful queries' wall seconds and their sum,
    * failed queries' first error line. */
  def resultLine(records: Seq[Record], sfDir: String): String = {
    val ok = records.filter(_.err.isEmpty)
    val qs = ok.map(r => "\"" + r.q + "\":" + f"${r.wallS}%.3f")
      .mkString("{", ",", "}")
    val errs = records.flatMap(r => r.err.map { e =>
      "\"" + r.q + "\":\"" + e.replace("\\", "\\\\").replace("\"", "'") + "\""
    }).mkString("{", ",", "}")
    val total = ok.map(_.wallS).sum
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir"}"""
  }

  private def warmup(what: String)(body: => Unit): Unit =
    try body
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] warmup $what failed: $e")
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warm up codegen/JIT and the parquet reader path so the first timed
    // query measures the query, not session start-up
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.load(spark, sfDir, "region").count()
    // the composed dedup pipeline generates the largest codegen classes
    // in the suite (~8 s of one-time Janino compilation) — compile them
    // against a 60-doc in-memory frame
    warmup("dedup codegen") {
      import spark.implicits._
      val warmDocs = (1 to 60)
        .map(i => (i.toLong, Seq.tabulate(12)(j => s"w${(i * 7 + j) % 19}")
          .mkString(" ")))
        .toDF("doc_id", "text")
      operators.Dedup.dedupCorpusKept(warmDocs, 0.3).count()
    }
    // the shingle→prefix→verify join once over a ~0.1% slice of the real
    // documents table, so its hot path is JIT-compiled against the real
    // parquet schema; a slice, not a full scan, so the page cache is
    // not warmed for the scan-bound queries
    warmup("dedup documents slice") {
      operators.Dedup.dedupCorpusKept(
        Tables.load(spark, sfDir, "documents")
          .filter("doc_id % 997 = 0"), 0.3).count()
    }
    // the JPEG kernel (javax.imageio encode + the SOF walk + the lossy
    // decode) JIT-compiles a large codec surface on first use; local
    // mode shares one JVM, so a few 16x16 driver-side cycles compile the
    // code the executor threads run
    warmup("jpeg codec") {
      val rgb = Array.tabulate(16 * 16 * 3)(i => (i * 37 % 251).toByte)
      (1 to 3).foreach { _ =>
        val jpg = graft.sources.JpegCodec.encodeJpeg(16, 16, rgb)
        graft.sources.JpegCodec.parseSof(jpg)
        graft.sources.JpegCodec.decodeJpeg(jpg)
      }
    }

    // optional args restrict to a subset (dev loop); driver passes none
    val names = (if (args.nonEmpty) headline.filter(args.toSet) else headline)
      .filter(SparkEntry.queries.contains)
    val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    val records = names.map { name =>
      val r = timeQuery(spark, sfDir, name, meter)
      System.err.println(s"[bench] ${r.json}")
      r
    }
    println(resultLine(records, sfDir))
    spark.stop()
  }
}
