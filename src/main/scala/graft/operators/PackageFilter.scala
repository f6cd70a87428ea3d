package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Filtering.cents

/** §2 #37 — Business-Central-style record filter expressions compiled to
  * Catalyst predicates.
  *
  * Reference semantics: Codeunit 60000 - Config. XML Exchange.al:141
  * `ApplyPackageFilter` applies per-field filter STRINGS
  * (`FieldRef.SETFILTER`) in BC filter syntax. Supported here (the
  * subset the reference's packages use):
  *
  *   `A..B`   closed range        `..B` / `A..`  open-ended range
  *   `<>v`    not equal           `>v` `>=v` `<v` `<=v`  comparisons
  *   `a|b|c`  alternation (OR)    `v`  equality
  *
  * Compiling to `Column` predicates keeps everything pushdown-eligible:
  * the resulting filters reach the parquet scan like any hand-written
  * predicate (asserted in FilteringSpec).
  */
object PackageFilter {

  /** Compile one BC filter expression against a column. Values are
    * parsed by Catalyst's implicit casts against the column type. */
  def compile(c: Column, filterExpr: String): Column = {
    def term(t: String): Column = {
      val s = t.trim
      if (s.contains("..")) {
        val Array(lo, hi) = s.split("\\.\\.", -1).map(_.trim)
        (lo.isEmpty, hi.isEmpty) match {
          case (false, false) => c >= lo && c <= hi
          case (true, false) => c <= hi
          case (false, true) => c >= lo
          case _ => lit(true)
        }
      }
      else if (s.startsWith("<>")) c =!= s.drop(2).trim
      else if (s.startsWith(">=")) c >= s.drop(2).trim
      else if (s.startsWith("<=")) c <= s.drop(2).trim
      else if (s.startsWith(">")) c > s.drop(1).trim
      else if (s.startsWith("<")) c < s.drop(1).trim
      else c === s
    }
    filterExpr.split("\\|").map(term).reduce(_ || _)
  }

  /** Apply a per-field filter map (the ConfigPackageFilter record set). */
  def applyFilters(df: DataFrame, filters: Seq[(String, String)]): DataFrame =
    filters.foldLeft(df) { case (d, (field, f)) =>
      d.filter(compile(col(field), f))
    }

  /** Query: a representative package filter set over orders. */
  val orderFilters: Seq[(String, String)] = Seq(
    "o_orderstatus" -> "F|O",
    "o_totalprice" -> "10000..400000",
    "o_orderpriority" -> "<>3-LOW")

  def packageFilter(spark: SparkSession, sfDir: String): DataFrame =
    applyFilters(Tables.load(spark, sfDir, "orders"), orderFilters)
      .select(col("o_orderkey"), col("o_orderstatus"),
        cents(col("o_totalprice")).as("price_cents"), col("o_orderpriority"))
      .orderBy("o_orderkey")
}
