package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Shims.{column, expression}
import org.apache.spark.sql.types._

/** Custom Catalyst expressions for the hash-sketch operators.
  *
  * The composed-built-in forms (32 parallel transform/array_min trees for
  * MinHash, 32 aggregate folds for SimHash) are semantically fine but
  * bloat the analyzed plan and the generated code enough that
  * plan-compile time dwarfs evaluation on small inputs — and at 100 TB
  * the interpreted lambda evaluation per (shingle × hash) pair is pure
  * overhead. These expressions do the same math in one tight JVM loop per
  * row: O(shingles·k) long arithmetic with no per-step allocation.
  *
  * Codegen: each expression implements `doGenCode` by referencing itself
  * (`ctx.addReferenceObj`) and calling its `compute` loop on the already
  * codegen'd child value. This keeps the surrounding stage in whole-stage
  * codegen (no CodegenFallback row materialization + interpreted eval per
  * row); the loop itself is ordinary JIT-compiled JVM code either way.
  *
  * Per the engine's extension policy (SURVEY.md §7.3): compose built-ins
  * first, drop to a custom Expression only when the built-in form is
  * measurably inadequate. This is that case.
  */
object HashExprs {

  /** MinHash signature: k affine permutations (a·h + b mod p) of the
    * xxhash64 of each shingle, min per permutation. Input: array<string>.
    * Output: array<bigint> of length k. */
  case class MinHashSig(child: Expression, a: IndexedSeq[Long], b: IndexedSeq[Long], p: Long)
    extends UnaryExpression {

    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    def compute(arr: ArrayData): ArrayData = {
      val k = a.length
      val mins = Array.fill(k)(Long.MaxValue)
      var i = 0
      while (i < arr.numElements()) {
        val s = arr.getUTF8String(i)
        val h0 = Math.floorMod(
          XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L), p)
        var j = 0
        while (j < k) {
          val hj = Math.floorMod(a(j) * h0 + b(j), p)
          if (hj < mins(j)) mins(j) = hj
          j += 1
        }
        i += 1
      }
      new GenericArrayData(mins)
    }

    override def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("minhashSig", this, classOf[MinHashSig].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $self.compute($c);")
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "graft_minhash_sig"
  }

  /** MinHash signature + distinct-shingle count computed straight from the
    * document TEXT: tokenize, slide the w-gram window, hash each gram, and
    * fold the k permutation minima — all in one loop, with no materialized
    * gram array. Semantically identical to
    * `MinHashSig(array_distinct(shingles(text, w)))` plus
    * `size(array_distinct(...))`: gram strings are built with single-space
    * joins exactly like `concat_ws(" ", ...)`, tokenization replicates
    * `split(trim(text), "\s+")`, short docs fall back to the whole raw
    * text, and the min-fold is idempotent so distinctness cannot change
    * the signature (n_sh counts distinct 64-bit gram hashes).
    *
    * Why it exists: materializing the gram array for every corpus document
    * runs through interpreted higher-order lambdas (transform/concat_ws)
    * and was measured as the dominant cost of the LSH path at sf0.1 —
    * ~10-100x the hashing itself. With this expression the corpus pass is
    * scan → one codegen'd expression → band explode; gram ARRAYS are only
    * materialized for verify-stage candidates.
    * Input: string. Output: struct<n_sh: int, sig: array<bigint>>. */
  case class MinHashDoc(child: Expression, w: Int,
      a: IndexedSeq[Long], b: IndexedSeq[Long], p: Long)
    extends UnaryExpression {

    override def dataType: DataType = StructType(Seq(
      StructField("n_sh", IntegerType, nullable = false),
      StructField("sig", ArrayType(LongType, containsNull = false), nullable = false)))

    private val ws = java.util.regex.Pattern.compile("\\s+")

    def compute(text: org.apache.spark.unsafe.types.UTF8String): Any = {
      val k = a.length
      val mins = Array.fill(k)(Long.MaxValue)
      val seen = new java.util.HashSet[java.lang.Long]()
      val s = text.toString
      // replicate Spark's trim(): strip 0x20 only
      var st = 0
      var en = s.length
      while (st < en && s.charAt(st) == ' ') st += 1
      while (en > st && s.charAt(en - 1) == ' ') en -= 1
      val toks = ws.split(s.substring(st, en), -1)

      def fold(gramBytes: Array[Byte]): Unit = {
        val h0 = Math.floorMod(XXH64.hashUnsafeBytes(gramBytes,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, gramBytes.length, 42L), p)
        seen.add(h0)
        var j = 0
        while (j < k) {
          val hj = Math.floorMod(a(j) * h0 + b(j), p)
          if (hj < mins(j)) mins(j) = hj
          j += 1
        }
      }

      if (toks.length >= w) {
        val sb = new java.lang.StringBuilder()
        var i = 0
        while (i <= toks.length - w) {
          sb.setLength(0)
          var j = 0
          while (j < w) {
            if (j > 0) sb.append(' ')
            sb.append(toks(i + j))
            j += 1
          }
          fold(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          i += 1
        }
      } else fold(text.getBytes) // short doc: whole raw text, like array(text)

      org.apache.spark.sql.catalyst.InternalRow(seen.size,
        new GenericArrayData(mins))
    }

    override def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("minhashDoc", this, classOf[MinHashDoc].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (InternalRow) $self.compute($c);")
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "graft_minhash_doc"
  }

  /** 32-bit SimHash over the xxhash64 of each token: per-bit ±1 majority
    * vote. Input: array<string>. Output: bigint. */
  case class SimHash32(child: Expression)
    extends UnaryExpression {

    override def dataType: DataType = LongType

    def compute(arr: ArrayData): Long = {
      val votes = new Array[Int](32)
      var i = 0
      while (i < arr.numElements()) {
        val s = arr.getUTF8String(i)
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        var j = 0
        while (j < 32) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
        i += 1
      }
      var out = 0L
      var j = 0
      while (j < 32) {
        if (votes(j) > 0) out |= (1L << j)
        j += 1
      }
      out
    }

    override def nullSafeEval(input: Any): Any =
      java.lang.Long.valueOf(compute(input.asInstanceOf[ArrayData]))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("simhash32", this, classOf[SimHash32].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $self.compute($c);")
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "graft_simhash32"
  }

  /** Random-hyperplane LSH band buckets for an embedding vector: the
    * sign bits of `planes` dot products, grouped into bands of
    * `bitsPerBand`, each band hashed to one bucket id. Input:
    * array<float|double>. Output: array<int> (one bucket per band).
    * Vectors with high cosine similarity agree on most sign bits, so they
    * collide in at least one band with high probability — the candidate
    * generation for ANN at corpus scale (bucket join, never O(n²)). */
  case class RpLshBuckets(child: Expression, planes: Array[Array[Double]],
      bitsPerBand: Int)
    extends UnaryExpression {

    private val numBands = planes.length / bitsPerBand

    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

    def compute(arr: ArrayData): ArrayData = {
      val dim = arr.numElements()
      val vec = new Array[Double](dim)
      val isFloat = childElementType == FloatType
      var d = 0
      while (d < dim) {
        vec(d) = if (isFloat) arr.getFloat(d).toDouble else arr.getDouble(d)
        d += 1
      }
      val buckets = new Array[Int](numBands)
      var b = 0
      while (b < numBands) {
        var bucket = 0
        var j = 0
        while (j < bitsPerBand) {
          val plane = planes(b * bitsPerBand + j)
          var dot = 0.0
          var i = 0
          val n = math.min(dim, plane.length)
          while (i < n) { dot += vec(i) * plane(i); i += 1 }
          if (dot >= 0) bucket |= (1 << j)
          j += 1
        }
        buckets(b) = bucket
        b += 1
      }
      new GenericArrayData(buckets)
    }

    override def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("rplsh", this, classOf[RpLshBuckets].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $self.compute($c);")
    }

    private lazy val childElementType: DataType = child.dataType match {
      case ArrayType(et, _) => et
      case _ => DoubleType
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "graft_rplsh_buckets"
  }

  /** Column builders: each constructs its expression with its
    * parameters bound, so two builders with different parameters stay
    * distinct in one plan. */
  def minhashSig(shingles: Column, a: IndexedSeq[Long], b: IndexedSeq[Long],
      p: Long): Column =
    column(MinHashSig(expression(shingles), a, b, p))

  def simhash32(tokens: Column): Column = column(SimHash32(expression(tokens)))

  /** Distinct word w-grams of a document in first-occurrence order, with
    * the same tokenization as [[MinHashDoc]] (trim 0x20, split on \s+)
    * and the same short-doc fallback as `Dedup.shingles` (fewer than w
    * tokens → the single raw text). The built-in form
    * (`array_distinct(transform(sequence(...), concat_ws(...)))`) runs
    * every lambda step interpreted — measured at ~10× the rest of an LSH
    * pass when materialized corpus-wide; this is one loop per row and the
    * gram strings are engine-portable (exact DuckDB oracle), unlike the
    * hash-valued expressions above. Input: string. Output: array<string>. */
  case class WordNgrams(child: Expression, w: Int)
    extends UnaryExpression {

    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    private val ws = java.util.regex.Pattern.compile("\\s+")

    def compute(text: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
      val s = text.toString
      var st = 0
      var en = s.length
      while (st < en && s.charAt(st) == ' ') st += 1
      while (en > st && s.charAt(en - 1) == ' ') en -= 1
      val toks = ws.split(s.substring(st, en), -1)
      val out = new java.util.LinkedHashSet[String]()
      if (toks.length >= w) {
        val sb = new java.lang.StringBuilder()
        var i = 0
        while (i <= toks.length - w) {
          sb.setLength(0)
          var j = 0
          while (j < w) {
            if (j > 0) sb.append(' ')
            sb.append(toks(i + j))
            j += 1
          }
          out.add(sb.toString)
          i += 1
        }
      } else out.add(s)
      val arr = new Array[Any](out.size)
      val it = out.iterator
      var i = 0
      while (it.hasNext) {
        arr(i) = org.apache.spark.unsafe.types.UTF8String.fromString(it.next())
        i += 1
      }
      new GenericArrayData(arr)
    }

    override def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("wordNgrams", this, classOf[WordNgrams].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.compute($c);")
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "graft_word_ngrams"
  }

  def wordNgrams(text: Column, w: Int): Column = column(WordNgrams(expression(text), w))

  def wordNgramsAll(text: Column, w: Int): Column =
    column(WordNgramsAll(expression(text), w))

  /** POSITIONAL word w-grams: every gram in token order (index i = gram
    * starting at token i — what `posexplode` turns into (pos, gram)
    * rows), no dedup, empty array under w tokens. The exact-substring
    * dedup's gram builder: the composed-built-in form
    * (`transform(sequence(...), array_join(slice(...)))`) evaluates each
    * of the three lambdas interpreted per gram — the same interpreted-HOF
    * cost class [[WordNgrams]] was measured replacing. One loop per row;
    * gram strings engine-portable (the DuckDB oracle recomputes them). */
  case class WordNgramsAll(child: Expression, w: Int)
    extends UnaryExpression {

    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    private val ws = java.util.regex.Pattern.compile("\\s+")

    def compute(text: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
      val s = text.toString
      var st = 0
      var en = s.length
      while (st < en && s.charAt(st) == ' ') st += 1
      while (en > st && s.charAt(en - 1) == ' ') en -= 1
      val toks = ws.split(s.substring(st, en), -1)
      if (toks.length < w) return new GenericArrayData(Array.empty[Any])
      val arr = new Array[Any](toks.length - w + 1)
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i <= toks.length - w) {
        sb.setLength(0)
        var j = 0
        while (j < w) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        arr(i) = org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
        i += 1
      }
      new GenericArrayData(arr)
    }

    override def nullSafeEval(input: Any): Any =
      compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("wordNgramsAll", this, classOf[WordNgramsAll].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.compute($c);")
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    override def prettyName: String = "graft_word_ngrams_all"
  }

  def minhashDoc(text: Column, w: Int, a: IndexedSeq[Long], b: IndexedSeq[Long],
      p: Long): Column =
    column(MinHashDoc(expression(text), w, a, b, p))

  def rpLshBuckets(embedding: Column, planes: Array[Array[Double]],
      bitsPerBand: Int): Column =
    column(RpLshBuckets(expression(embedding), planes, bitsPerBand))
}
