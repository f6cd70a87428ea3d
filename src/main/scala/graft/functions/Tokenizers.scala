package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.CatalystBridge
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** A trained tokenizer as a per-word kernel: the number of tokens a
  * `[a-z]+` word encodes to. The trainers, the batch encode and the
  * stream encode all call the same kernel, so they cannot disagree. */
sealed trait Tokenizer extends Serializable {
  def count(word: String): Long

  /** Column API: the token count of every word in `word`, as one
    * codegen'd call ([[TokenCount]]). */
  def tokens(word: Column): Column =
    CatalystBridge.column(TokenCount(CatalystBridge.expression(word), this))
}

/** Byte-pair encoding (Sennrich et al. 2016): the learned merge rules,
  * applied to a word's characters in rule order. */
final case class Bpe(rules: Seq[(String, String)]) extends Tokenizer {
  def count(word: String): Long = Bpe.count(word, rules)
  override def toString: String = s"bpe(${rules.size} rules)"
}

object Bpe {
  /** One greedy left-to-right pass of rule (l, r): each `l` followed by
    * `r` becomes `l + r`; a merged symbol never merges again in the same
    * pass. */
  def merge(syms: Array[String], l: String, r: String): Array[String] = {
    val out = ArrayBuffer.empty[String]
    syms.foreach { x =>
      if (out.nonEmpty && out.last == l && x == r) out(out.length - 1) = l + r
      else out += x
    }
    out.toArray
  }

  /** Symbols left after folding [[merge]] over `rules` in order. */
  def count(word: String, rules: Seq[(String, String)]): Long =
    rules.foldLeft(word.map(_.toString).toArray) { case (s, (l, r)) =>
      merge(s, l, r)
    }.length.toLong
}

/** Unigram language-model tokenizer (Kudo 2018): piece → integer
  * micro-nat log-prob, pieces at most `maxPieceLen` long. Every single
  * letter must be a piece, so every `[a-z]+` word segments. */
final case class Unigram(lp: Map[String, Long], maxPieceLen: Int)
    extends Tokenizer {
  Unigram.requireLetters(lp)
  def count(word: String): Long = Unigram.viterbi(word, lp, maxPieceLen)._1
  override def toString: String =
    s"unigram(${lp.size} pieces, maxPieceLen=$maxPieceLen)"
}

object Unigram {
  def requireLetters(lp: Map[String, Long]): Unit = {
    val missing = ('a' to 'z').map(_.toString).filterNot(lp.contains)
    require(missing.isEmpty, "a unigram model needs every single-letter " +
      s"piece to segment every [a-z]+ word; missing: ${missing.mkString(", ")}")
  }

  /** The integer-score Viterbi DP: `d[i] = max_j d[j] + lp(w[j..i))`,
    * ties → fewer pieces, then the smaller j (the longer final piece).
    * Returns the best segmentation's piece count and back-pointers. */
  private def viterbi(w: String, lp: Map[String, Long],
                      maxPieceLen: Int): (Long, Array[Int]) = {
    val n = w.length
    val ds = new Array[Long](n + 1)
    val dc = new Array[Long](n + 1)
    val bk = new Array[Int](n + 1)
    for (i <- 1 to n) {
      var bs = Long.MinValue; var bc = 0L; var bj = -1
      for (j <- math.max(0, i - maxPieceLen) until i) {
        lp.get(w.substring(j, i)) match {
          case Some(v) =>
            val s = ds(j) + v; val c = dc(j) + 1
            if (bj < 0 || s > bs || (s == bs && c < bc)) {
              bs = s; bc = c; bj = j
            }
          case None => ()
        }
      }
      ds(i) = bs; dc(i) = bc; bk(i) = bj
    }
    (dc(n), bk)
  }

  /** The pieces of `w`'s best segmentation, in order. */
  def viterbiPieces(w: String, lp: Map[String, Long],
                    maxPieceLen: Int): Seq[String] = {
    val bk = viterbi(w, lp, maxPieceLen)._2
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var i = w.length
    while (i > 0) { out.prepend(w.substring(bk(i), i)); i = bk(i) }
    out.toSeq
  }
}

/** A word's token count under `tokenizer`, as a native expression: the
  * tokenizer rides into generated code as a reference object, so the
  * per-word kernel runs inside whole-stage codegen, where the same fold
  * written with higher-order SQL functions would run interpreted. */
case class TokenCount(child: Expression, tokenizer: Tokenizer)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "token_count"

  override protected def nullSafeEval(input: Any): Any =
    tokenizer.count(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tok = ctx.addReferenceObj("tokenizer", tokenizer,
      classOf[Tokenizer].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $tok.count($c.toString());")
  }

  override protected def withNewChildInternal(newChild: Expression): TokenCount =
    copy(child = newChild)
}
