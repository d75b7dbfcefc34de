package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Shims.{column, expression}
import org.apache.spark.sql.types._

/** One-pass text-signal extraction for the quality/lang-ID family.
  *
  * The composed-built-in forms (`filter(toks, t => t.rlike(...))`,
  * `filter(toks, t => array_contains(...))` once per language) are
  * higher-order functions — CodegenFallback in Spark, so every token pays
  * an interpreted lambda step and the row leaves whole-stage codegen;
  * measured at ~3 s for 5k docs at sf0.1 (text_gopher), with the same cost
  * repeated in langid, quality, and the curation funnel. This expression
  * computes every signal those operators need in ONE tokenization pass per
  * row — the same extension-policy escalation (and codegen pattern) as
  * [[HashExprs]].
  *
  * Exact-parity contract (the DuckDB oracles pin it): trim removes ' '
  * only (Spark `trim`), tokens split on Java `\s+` with limit -1 (Spark
  * `split`), "alpha" means the token contains [a-zA-Z一-鿿]
  * (`rlike` find semantics), counts are over code points (Spark `length`),
  * and `\s` is Java's ASCII class [ \t\n\x0B\f\r]. */
object TextExprs {

  /** 1-based element positions in the output array (for element_at). */
  val NTokens = 1       // size(split(trim(text), "\s+"))
  val NonSpaceChars = 2 // length(regexp_replace(text, "\s", ""))
  val AlphaTokCount = 3 // size(filter(toks, _.rlike("[a-zA-Z一-鿿]")))
  val RegistryStops = 4 // size(filter(registryWithDups, array_contains(toks, _)))
  val AnyStopTokens = 5 // size(filter(toks, _ ∈ union of all lists))
  val PunctChars = 6    // length(text) - length(regexp_replace(text, "[^a-zA-Z0-9\s]", ""))
  val LangBase = 7      // per-language token hit counts, registry order

  /** All signals for one text: array<bigint> laid out as above.
    * `langWords`: per-language stopword lists in registry order (duplicate
    * words across languages are semantically significant — see
    * RegistryStops, which counts registry ENTRIES, not distinct words). */
  case class TextSignals(child: Expression, langWords: Seq[Seq[String]])
    extends UnaryExpression {

    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string column, got ${child.dataType.catalogString}")

    @transient private lazy val ws = java.util.regex.Pattern.compile("\\s+")
    @transient private lazy val perLang: Array[java.util.HashSet[String]] =
      langWords.map { words =>
        val s = new java.util.HashSet[String]()
        words.foreach(s.add)
        s
      }.toArray
    @transient private lazy val unionSet: java.util.HashSet[String] = {
      val s = new java.util.HashSet[String]()
      langWords.foreach(_.foreach(s.add))
      s
    }
    @transient private lazy val registryList: Array[String] =
      langWords.flatten.toArray

    private def isJavaWs(cp: Int): Boolean =
      cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0b || cp == '\f' || cp == '\r'

    private def containsAlpha(tok: String): Boolean = {
      var i = 0
      while (i < tok.length) {
        val cp = tok.codePointAt(i)
        if ((cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z') ||
          (cp >= 0x4e00 && cp <= 0x9fff)) return true
        i += Character.charCount(cp)
      }
      false
    }

    def compute(text: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
      val s = text.toString
      // one code-point scan: non-whitespace and punctuation char counts
      var nonSpace = 0L
      var punct = 0L
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        val wsp = isJavaWs(cp)
        if (!wsp) {
          nonSpace += 1
          val alnum = (cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z') ||
            (cp >= '0' && cp <= '9')
          if (!alnum) punct += 1
        }
        i += Character.charCount(cp)
      }
      // Spark trim: ' ' only
      var st = 0
      var en = s.length
      while (st < en && s.charAt(st) == ' ') st += 1
      while (en > st && s.charAt(en - 1) == ' ') en -= 1
      val toks = ws.split(s.substring(st, en), -1)
      val tokSet = new java.util.HashSet[String]()
      var alphaToks = 0L
      var anyStop = 0L
      val langHits = new Array[Long](perLang.length)
      var t = 0
      while (t < toks.length) {
        val tok = toks(t)
        if (containsAlpha(tok)) alphaToks += 1
        if (unionSet.contains(tok)) anyStop += 1
        var l = 0
        while (l < perLang.length) {
          if (perLang(l).contains(tok)) langHits(l) += 1
          l += 1
        }
        tokSet.add(tok)
        t += 1
      }
      var registryStops = 0L
      var r = 0
      while (r < registryList.length) {
        if (tokSet.contains(registryList(r))) registryStops += 1
        r += 1
      }
      val out = new Array[Long](6 + langHits.length)
      out(0) = toks.length.toLong
      out(1) = nonSpace
      out(2) = alphaToks
      out(3) = registryStops
      out(4) = anyStop
      out(5) = punct
      System.arraycopy(langHits, 0, out, 6, langHits.length)
      new GenericArrayData(out)
    }

    override def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("textSignals", this, classOf[TextSignals].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.compute($c);")
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "graft_text_signals"
  }

  /** Lowercased pure-alpha tokens: parity twin of
    * `filter(tokens(lower(text)), t => t.rlike("^[a-z]+$"))` (the HOF form
    * pays an interpreted regex per token). Lowercasing delegates to
    * UTF8String.toLowerCase — exactly Spark's `lower` — so locale edge
    * cases (Kelvin sign, dotted İ) cannot diverge from the built-in. */
  case class AlphaTokens(child: Expression) extends UnaryExpression {

    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string column, got ${child.dataType.catalogString}")

    @transient private lazy val ws = java.util.regex.Pattern.compile("\\s+")

    private def pureAlpha(tok: String): Boolean = {
      if (tok.isEmpty) return false
      var i = 0
      while (i < tok.length) {
        val c = tok.charAt(i)
        if (c < 'a' || c > 'z') return false
        i += 1
      }
      true
    }

    def compute(text: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
      val s = text.toLowerCase.toString
      var st = 0
      var en = s.length
      while (st < en && s.charAt(st) == ' ') st += 1
      while (en > st && s.charAt(en - 1) == ' ') en -= 1
      val toks = ws.split(s.substring(st, en), -1)
      val out = new java.util.ArrayList[Any](toks.length)
      var t = 0
      while (t < toks.length) {
        if (pureAlpha(toks(t)))
          out.add(org.apache.spark.unsafe.types.UTF8String.fromString(toks(t)))
        t += 1
      }
      new GenericArrayData(out.toArray)
    }

    override def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("alphaTokens", this, classOf[AlphaTokens].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.compute($c);")
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "graft_alpha_tokens"
  }

  /** Adjacent-pair word grams of a token array: parity twin of
    * `zip_with(slice(toks, 1, n-1), slice(toks, 2, n-1), concat_ws(" "))`
    * (interpreted lambda per gram). n < 2 tokens → empty array. */
  case class WordBigrams(child: Expression) extends UnaryExpression {

    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string>, got ${other.catalogString}")
    }

    def compute(arr: ArrayData): ArrayData = {
      val n = arr.numElements()
      if (n < 2) return new GenericArrayData(Array.empty[Any])
      val out = new Array[Any](n - 1)
      var prev = arr.getUTF8String(0)
      var i = 1
      while (i < n) {
        val cur = arr.getUTF8String(i)
        out(i - 1) = org.apache.spark.unsafe.types.UTF8String.concat(
          prev, org.apache.spark.unsafe.types.UTF8String.fromString(" "), cur)
        prev = cur
        i += 1
      }
      new GenericArrayData(out)
    }

    override def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("wordBigrams", this, classOf[WordBigrams].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.compute($c);")
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "graft_word_bigrams"
  }

  def textSignals(text: Column, langWords: Seq[Seq[String]]): Column =
    column(TextSignals(expression(text), langWords))

  def alphaTokens(text: Column): Column = column(AlphaTokens(expression(text)))

  def wordBigrams(tokens: Column): Column = column(WordBigrams(expression(tokens)))
}
