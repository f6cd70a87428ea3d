package graft

import graft.operators.{Analytics, Dedup, TextAnalysis}

/** No interpreter walls in the hot paths (SURVEY §4): the map-only text
  * and analytics operators — including every custom expression — must
  * execute inside WholeStageCodegen. A CodegenFallback expression in
  * one of these plans would silently break the span and row-by-row
  * interpret the scan at 100 TB. */
class CodegenSpec extends SparkSpec {

  private def assertCodegen(name: String,
                            df: org.apache.spark.sql.DataFrame): Unit = {
    // `*(n)` prefixes mark whole-stage-codegen'd operators in the plan
    // string; every Project feeding these map-only pipelines must carry
    // one — an unstarred Project is an interpreter wall
    val plan = planOf(df).split("== Initial Plan ==").head
    assert(plan.contains("*("),
      s"$name must run inside whole-stage codegen:\n$plan")
    val unstarred = plan.linesIterator
      .filter(l => l.contains("+- Project") || l.trim.startsWith("Project"))
      .filterNot(_.contains("*(")).toSeq
    assert(unstarred.isEmpty,
      s"$name has interpreted Project stages:\n${unstarred.mkString("\n")}\n$plan")
  }

  test("map-only text operators stay inside whole-stage codegen") {
    assertCodegen("text_stats", TextAnalysis.textStats(spark, sf))
    assertCodegen("token_count", TextAnalysis.tokenCount(spark, sf))
    assertCodegen("doc_fingerprint", TextAnalysis.docFingerprint(spark, sf))
    // doc_winnow's custom expression was a CodegenFallback until the
    // static-kernel doGenCode landed — keep it pinned
    assertCodegen("doc_winnow", TextAnalysis.docWinnow(spark, sf))
    assertCodegen("lang_id", TextAnalysis.langId(spark, sf))
    // the entropy gate's whole point is ONE codegen'd map pass — a
    // fallback would re-introduce the per-character shuffle it replaces
    assertCodegen("char_entropy", TextAnalysis.charEntropy(spark, sf))
  }

  test("tokenizer encodes run their per-word kernel inside whole-stage " +
      "codegen") {
    Seq("bpe" -> TextAnalysis.bpeEncodeArtifact(spark, sf),
      "unigram" -> TextAnalysis.unigramEncodeArtifact(spark, sf))
      .foreach { case (name, df) =>
        assertCodegen(s"${name}_encode", df)
        assert(df.queryExecution.executedPlan.toString
          .contains("token_count"), s"$name encode lost its kernel")
      }
  }

  test("custom-expression pipelines stay inside whole-stage codegen") {
    assertCodegen("q1_agg", Analytics.q1Agg(spark, sf))
    assertCodegen("dedup_exact", Dedup.dedupExact(spark, sf))
    assertCodegen("dedup_simhash", Dedup.dedupSimhash(spark, sf))
  }

  test("round-7 audit operators stay inside whole-stage codegen") {
    assertCodegen("k_anonymity",
      graft.operators.Quality.kAnonymity(spark, sf))
    assertCodegen("attribution", Analytics.attribution(spark, sf))
    // (totals_reconcile is exempt: its only unstarred Project is the
    // one-column broadcast-build prep Spark keeps outside WSCG)
    assertCodegen("memorization_grams",
      Dedup.memorizationGrams(spark, sf))
    // the Morton interleave is a pure-arithmetic expression chain — it
    // must codegen or the whole scan interprets
    assertCodegen("zorder_layout",
      graft.operators.Maintenance.zorderLayout(spark, sf))
  }

  test("ANN scoring (dot product) stays inside whole-stage codegen") {
    // the pair-scoring Project must be starred — aggregate/zip_with
    // here would be a CodegenFallback on the hottest inner loop
    import org.apache.spark.sql.functions._
    val e = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"),
        graft.functions.VectorFunctions.dot(
          col("embedding"), col("embedding")).as("d"))
    assertCodegen("dot_product", e)
    assertCodegen("embedding_quantize",
      graft.operators.Similarity.embeddingQuantize(spark, sf))
  }

  test("round-10c map-only operators stay inside whole-stage codegen") {
    assertCodegen("html_strip", TextAnalysis.htmlStrip(spark, sf))
    assertCodegen("benford_check",
      graft.operators.Quality.benfordCheck(spark, sf))
    assertCodegen("fixed_width_roundtrip",
      graft.operators.ExportImport.fixedWidthRoundtrip(spark, sf))
    assertCodegen("q5_region_revenue", Analytics.q5RegionRevenue(spark, sf))
    assertCodegen("lm_perplexity_kn", TextAnalysis.lmPerplexityKn(spark, sf))
  }

  test("corr_matrix quantization pass stays codegen'd with no Round") {
    // the 10x over the rounded-product draft rests on this shape: the
    // scan-side stage is codegen'd floor/multiply (4 casts per row),
    // never a per-row-per-aggregate BigDecimal Round
    val df = graft.operators.Quality.corrMatrix(spark, sf)
    assertCodegen("corr_matrix", df)
    val plan = planOf(df)
    val scanStage = plan.split("== Initial Plan ==").head
    // round() may appear in the final 6-dp presentation of the 1-row
    // pair explosion, but must NOT appear inside any partial aggregate
    val partials = scanStage.linesIterator
      .filter(_.contains("partial_")).mkString("\n")
    assert(!partials.toLowerCase.contains("round("),
      s"partial aggregates must not Round per row:\n$partials")
    assert(partials.contains("FLOOR") || scanStage.contains("FLOOR"),
      s"cents quantization (FLOOR) missing from the scan stage:\n$scanStage")
  }
}
