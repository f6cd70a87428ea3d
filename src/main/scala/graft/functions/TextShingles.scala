package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Word-shingle construction shared by the dedup family.
  *
  * Both the Spark side and the DuckDB oracle SQL must tokenize
  * identically, so the contract is pinned here:
  *   words    = regex-split of trim(lower(text)) on \s+
  *   shingles = distinct 3-word grams joined with a single space
  */
object TextShingles {

  /** `array<string>` of whitespace tokens of trim(lower(text)). */
  def words(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Distinct 3-word shingles; empty array when fewer than 3 words.
    * Native expression ([[WordShingles]]) — the composed
    * transform/concat_ws/array_distinct chain runs interpreted and
    * dominated every dedup query at sf0.1. */
  def shingles3(wordsCol: Column): Column =
    WordShinglesExpr.wordShingles(wordsCol, 3)

  /** Exact Jaccard of two distinct-element string arrays, as a DOUBLE
    * built from exact integer set sizes (identical across engines). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter / (size(a) + size(b) - inter)
  }
}
