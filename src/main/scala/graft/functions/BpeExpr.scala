package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Shims.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd BPE encode over a words array — the §7.3 promotion, with the
  * measurement that justified it: the composed-HOF form (per word, a char
  * transform plus one interpreted `aggregate` fold per merge, each fold
  * step allocating a fresh array) ran text_bpe_encode at 14.0 s at sf0.1
  * where every sibling text query is ≤3 s. This expression does the same
  * greedy merges in one tight JIT loop per word with a reusable buffer.
  *
  * Numerical/semantic contract: identical to
  * `merges.foldLeft(chars)(Bpe.mergePair)` — merges apply in list
  * (priority) order per word, greedy left-to-right within each — proven
  * by BpeSpec's side-by-side test against the fold form. */
object BpeExpr {

  /** merges encoded as "lhs rhs|lhs rhs|..." — a foldable string param,
    * part of the function's identity (the [[VectorExprs.JlProject]]
    * pattern for parameterized expressions). */
  def encodeMerges(merges: Seq[(String, String)]): String =
    merges.map { case (a, b) => s"$a $b" }.mkString("|")

  case class BpeSubwords(left: Expression, right: Expression)
    extends BinaryExpression {

    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
      case ArrayType(StringType, _) =>
        if (right.foldable && right.dataType == StringType && right.eval() != null)
          TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a foldable STRING merge spec, got ${right.sql}")
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string> words, got ${other.sql}")
    }

    private lazy val merges: Array[(String, String)] =
      right.eval().toString.split('|').filter(_.nonEmpty).map { m =>
        val Array(a, b) = m.split(' ')
        (a, b)
      }

    def compute(words: ArrayData): ArrayData = {
      val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
      var wi = 0
      while (wi < words.numElements()) {
        val w = words.getUTF8String(wi).toString
        var syms = scala.collection.mutable.ArrayBuffer.empty[String]
        var ci = 0
        while (ci < w.length) { syms += w.substring(ci, ci + 1); ci += 1 }
        var mi = 0
        while (mi < merges.length) {
          val (a, b) = merges(mi)
          val next = scala.collection.mutable.ArrayBuffer.empty[String]
          var si = 0
          while (si < syms.length) {
            val x = syms(si)
            if (next.nonEmpty && next.last == a && x == b)
              next(next.length - 1) = a + b
            else next += x
            si += 1
          }
          syms = next
          mi += 1
        }
        syms.foreach(s => out += UTF8String.fromString(s))
        wi += 1
      }
      new GenericArrayData(out.toArray[Any])
    }

    override def nullSafeEval(a: Any, b: Any): Any =
      compute(a.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("graftBpe", this, classOf[BpeSubwords].getName)
      nullSafeCodeGen(ctx, ev, (a, _) => s"${ev.value} = $self.compute($a);")
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
    override def prettyName: String = "graft_bpe_subwords"
  }

  def subwords(words: Column, merges: Seq[(String, String)]): Column =
    column(BpeSubwords(expression(words), Literal(encodeMerges(merges))))
}
