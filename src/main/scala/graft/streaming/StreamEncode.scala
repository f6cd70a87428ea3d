package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{TextShingles, Tokenizer, Unigram}

/** Continuous TOKENIZATION off a tokenizer artifact (the BPE rules,
  * [[graft.operators.TextAnalysis.bpeRulesToDir]], or the unigram
  * model, [[graft.operators.TextAnalysis.unigramModelToDir]]):
  * arriving documents report the same per-document (n_words, n_chars,
  * n_tokens, compression) row the batch encode produces — the
  * ingest-side token accounting a continuously-fed pipeline needs for
  * budget/mixture decisions at arrival time, not after the next batch
  * job.
  *
  * STATELESS map-only, so append mode needs no watermark or state
  * store: where the batch body explodes words and re-aggregates per
  * doc (fine for a scan, a stateful aggregation in a stream), this
  * sums the same per-word kernel over each row's word array.
  * StreamingSpec proves per-doc equality with the batch encode on the
  * same artifact.
  */
object StreamEncode {

  /** Encode a (streaming or batch) (doc_id, text) frame off a BPE rules
    * artifact frame. */
  def encoded(docs: DataFrame, rulesDf: DataFrame): DataFrame =
    encodedWith(docs, graft.operators.TextAnalysis.bpeOf(rulesDf))

  /** Encode off a unigram model (piece → micro-nat log-prob). */
  def unigramEncoded(docs: DataFrame, lp: Map[String, Long],
                     maxPieceLen: Int = 4): DataFrame =
    encodedWith(docs, Unigram(lp, maxPieceLen))

  /** Output schema and values match the batch encode row-for-row (docs
    * with no alphabetic word are absent there too — the batch explode
    * drops them). */
  private def encodedWith(docs: DataFrame, tok: Tokenizer): DataFrame =
    docs
      .withColumn("kept",
        filter(TextShingles.words(col("text")), _.rlike("^[a-z]+$")))
      .filter(size(col("kept")) > 0)
      .select(col("doc_id"),
        size(col("kept")).cast("long").as("n_words"),
        aggregate(col("kept"), lit(0L), (a, x) => a + length(x))
          .as("n_chars"),
        aggregate(col("kept"), lit(0L), (a, x) => a + tok.tokens(x))
          .as("n_tokens"))
      .withColumn("compression",
        round(col("n_chars") / col("n_tokens").cast("double"), 4))
}
