package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.CatalystBridge
import org.apache.spark.sql.types.{DataType, LongType}

/** Fibonacci (golden-ratio) multiplicative finalizer over a KR hash,
  * keeping the low 63 bits: `(h * 0x9E3779B97F4A7C15) mod 2^63`.
  *
  * Why it exists: [[KrHash]] is a polynomial fold, so SHORT inputs map
  * to SMALL values (a 1-char token hashes to its code point). That is
  * harmless for equality joins — the dedup family only ever compares
  * hashes for equality — but fatal for ORDER/POSITION sketches
  * (KMV's "k-th smallest", HLL's "leading zeros", CMS row hashing),
  * which need the value's POSITION in [0, 2^63) to be uniform. One
  * odd-constant multiply mod a power of two is a bijection (no new
  * collisions beyond KR's own) whose high bits mix well — exactly the
  * bits KMV magnitude and HLL rank read.
  *
  * Cross-engine contract (the reason this is not xxhash64): Java wraps
  * `long` multiplication mod 2^64 natively; DuckDB replays the same
  * value with HUGEINT arithmetic — see [[SketchHash.duckdbMix]]. The
  * signed-overflow trap is avoided by masking to 63 bits on both
  * sides, so every downstream comparison ( `<`, `%`, `//` ) sees the
  * same non-negative number in both engines.
  */
case class SketchMix(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "sketch_mix"

  override protected def nullSafeEval(input: Any): Any =
    SketchHash.mix(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = ($c * ${SketchHash.C}L) & ${Long.MaxValue}L;")

  override protected def withNewChildInternal(newChild: Expression): SketchMix =
    copy(child = newChild)
}

object SketchHash {
  /** 2^64 / φ rounded to odd — 0x9E3779B97F4A7C15 as a signed long. */
  val C: Long = -7046029254386353131L

  def mix(h: Long): Long = (h * C) & Long.MaxValue

  def mix63(c: Column): Column =
    CatalystBridge.column(SketchMix(CatalystBridge.expression(c)))

  /** 63-bit mixed sketch hash of a string column: KR fold then mix. */
  def sketchHash(text: Column): Column = mix63(KrHashF.krHash(text))
}
