package graftbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.api.Graft
import graft.functions.TextShingles.{shingles3, words}

/** The curation leg of the batch pipeline: each pass runs every stage
  * in order over this seed's corpus; a stage writes its output and the
  * next stage reads it back to select its input. The verified-pair
  * artifact is rebuilt cold in every pass. */
final class CurationPipeline {
  val name = "curation"
  val spans: Seq[String] = Seq(
    "TextAnalysis.htmlStrip", "Curation.c4Clean", "Curation.gopherQuality",
    "Dedup.writeVerifiedPairs", "Dedup.nearDupClusters",
    "Dedup.dedupSurvivorship", "Dedup.sourceOverlap",
    "Curation.decontaminate", "Curation.shardAssign", "sources.export",
    "Quality.integrityChecksum")

  private val tau = 0.3
  /** Pages before near-duplicate copies: sf0.1's 5000. */
  private val nBase = 5000
  private var corpus: Inputs.Corpus = _

  def prepare(ctx: Ctx): Unit = {
    corpus = Inputs.corpus(ctx.seed, nBase)
    Inputs.docsFrame(ctx.spark, corpus.docs).repartition(4)
      .write.mode("overwrite").parquet(ctx.dir("input/sf/documents.parquet"))
    Inputs.docsFrame(ctx.spark, corpus.bench).coalesce(1)
      .write.mode("overwrite").parquet(ctx.dir("input/bench.parquet"))
  }

  /** What one pass leaves behind, for the checks. */
  final case class PassResult(rows: Long, checksums: Map[String, (Long, Long)],
                                      exportMs: Double)

  private def rowText(df: DataFrame) =
    concat_ws("|", df("doc_id"), df("lang"), df("source"), df("n_chars"),
      sha2(df("text").cast("binary"), 256))

  def pass(ctx: Ctx, out: String): PassResult = {
    val spark = ctx.spark
    val tr = ctx.tracer
    def read(p: String) = spark.read.parquet(s"$out/$p")
    val docs = spark.read.parquet(ctx.dir("input/sf/documents.parquet"))
    def text(keep: DataFrame) =
      docs.join(keep, Seq("doc_id"), "left_semi").select("doc_id", "text")

    tr.span("TextAnalysis.htmlStrip") {
      tr.construct(Graft.htmlStrip(docs)).write.parquet(s"$out/s1_html")
    }
    // markup-heavy pages (navigation, link farms) leave the pipeline
    val keep1 = read("s1_html")
      .filter(col("n_tags") * 4 <= col("n_words_clean")).select("doc_id")
    tr.span("Curation.c4Clean") {
      tr.construct(Graft.c4Clean(text(keep1))).write.parquet(s"$out/s2_c4")
    }
    val keep2 = read("s2_c4").filter(!col("page_drop")).select("doc_id")
    tr.span("Curation.gopherQuality") {
      tr.construct(Graft.gopherQuality(text(keep2)))
        .write.parquet(s"$out/s3_gopher")
    }
    val kept = docs.join(read("s3_gopher").filter(col("keep")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    tr.span("Dedup.writeVerifiedPairs") {
      Graft.writeVerifiedPairs(
        kept.select(col("doc_id"), shingles3(words(col("text"))).as("sh")),
        s"$out/s4_pairs", tau)
    }
    val pairs = Graft.readVerifiedPairs(spark, s"$out/s4_pairs")
    tr.span("Dedup.nearDupClusters") {
      tr.construct(Graft.nearDupClusters(kept.select("doc_id"), pairs))
        .write.parquet(s"$out/s5_clusters")
    }
    tr.span("Dedup.dedupSurvivorship") {
      tr.construct(Graft.dedupSurvivorship(pairs, kept))
        .write.parquet(s"$out/s5_survivorship")
    }
    tr.span("Dedup.sourceOverlap") {
      tr.construct(Graft.sourceOverlap(pairs, kept))
        .write.parquet(s"$out/s5_overlap")
    }
    val canon = docs.join(
      read("s5_clusters").filter(col("is_canonical")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    tr.span("Curation.decontaminate") {
      tr.construct(Graft.decontaminate(canon.select("doc_id", "text"),
        spark.read.parquet(ctx.dir("input/bench.parquet")).select("doc_id", "text")))
        .write.parquet(s"$out/s6_contaminated")
    }
    val clean = canon.join(read("s6_contaminated").select("doc_id"),
      Seq("doc_id"), "left_anti")
    tr.span("Curation.shardAssign") {
      tr.construct(graft.operators.Curation.shardAssignFrom(clean))
        .write.parquet(s"$out/s7_shards")
    }
    val e0 = System.nanoTime()
    tr.span("sources.export") {
      clean.write.json(s"$out/export/jsonl")
      clean.write.parquet(s"$out/export/parquet")
    }
    val exportMs = (System.nanoTime() - e0) / 1e6
    val sums = tr.span("Quality.integrityChecksum") {
      val exported = spark.read.parquet(s"$out/export/parquet")
      tr.construct(Graft.integrityChecksum(exported, rowText(exported),
        col("source"))).collect()
    }
    val checksums = sums.map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    PassResult(checksums.values.map(_._1).sum, checksums, exportMs)
  }

  /** Checks over every completed pass (in order) and the files of the
    * last operation's pass, if it completed. */
  def report(ctx: Ctx, done: Seq[PassResult], last: Option[String]): LegReport = {
    val spark = ctx.spark
    val checks = Seq.newBuilder[Check]
    done.headOption.foreach { first =>
      checks += Check("passes_agree", done.forall(_.checksums == first.checksums),
        s"${done.size} passes, ${first.rows} exported rows, " +
          s"${first.checksums.size} source checksums")
      Expected.check(name, ctx.seed, Map("rows" -> first.rows.toString,
        "checksum" -> first.checksums.toSeq.sortBy(_._1)
          .map { case (s, (n, c)) => s"$s:$n:$c" }.mkString(","))).foreach(checks += _)
    }
    last.foreach { dir =>
      def sumsOf(df: DataFrame) = Graft.integrityChecksum(df, rowText(df),
        col("source")).collect().map(r =>
        r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val jsonl = spark.read.schema(spark.read.parquet(s"$dir/export/parquet").schema)
        .json(s"$dir/export/jsonl")
      checks += Check("export_reread", sumsOf(jsonl) == done.last.checksums,
        "jsonl re-read checksums equal the parquet export's")
    }
    if (ctx.tracer.on) checks ++= crossCheck(ctx)
    // dedup quality: injected copies that land in their original's cluster
    val recall = last.map { dir =>
      val cl = spark.read.parquet(s"$dir/s5_clusters")
        .select("doc_id", "cluster_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val both = corpus.copies.filter { case (c, o) => cl.contains(c) && cl.contains(o) }
      both.count { case (c, o) => cl(c) == cl(o) }.toDouble / math.max(1, both.size)
    }.getOrElse(0.0)
    val rows = done.headOption.map(_.rows).getOrElse(0L)
    LegReport(checks.result(), recall, last.map(d => Fs.bytes(s"$d/export")).getOrElse(0L),
      rows, Seq(("exported_rows", rows.toDouble, "count"), ("near_dup_recall", recall, "ratio")))
  }

  /** The pipeline's operator calls, applied to the raw corpus, equal
    * the oracle-checked single queries at their default inputs. Run
    * once per traced run, outside every timed region. */
  private def crossCheck(ctx: Ctx): Seq[Check] =
    try {
      val spark = ctx.spark
      val sfDir = ctx.dir("input/sf")
      val docs = graft.Tables.load(spark, sfDir, "documents")
      val pairsDir = ctx.dir("crosscheck/pairs")
      Graft.writeVerifiedPairs(docs.select(col("doc_id"),
        shingles3(words(col("text"))).as("sh")), pairsDir, tau)
      def rows(df: DataFrame): Set[Row] = df.collect().toSet
      val composed = rows(Graft.nearDupClusters(docs.select("doc_id"),
        Graft.readVerifiedPairs(spark, pairsDir)))
      val oracle = rows(graft.operators.Dedup.dedupClustersComposed(spark, sfDir))
      val shards = rows(graft.operators.Curation.shardAssignFrom(docs))
      val shardOracle = rows(graft.operators.Curation.shardAssign(spark, sfDir))
      Seq(Check("crosscheck_dedup_clusters_composed", composed == oracle,
          s"${composed.size} cluster rows"),
        Check("crosscheck_shard_assign", shards == shardOracle,
          s"${shards.size} shard rows"))
    } catch {
      case NonFatal(e) => Seq(Check("crosscheck", ok = false, e.toString))
    }
}
