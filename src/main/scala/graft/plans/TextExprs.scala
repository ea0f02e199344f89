package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass builders for the dedup operators' candidate
  * sets. Semantics mirror the composed definitions exactly:
  *
  *  - ShingleSet(text, w)  == array_distinct(tokenShingles(text, w))
  *    with tokens = lower(text) split on \s+ (Java regex, limit -1 —
  *    Spark's split semantics), shingles joined by single spaces,
  *    whole token string when fewer than w tokens.
  *  - CharNGramSet(text, n) == TextFns.charNGrams(text, n)
  *    (distinct n-grams of lower(text); the whole string when
  *    shorter than n).
  *
  * Distinct keeps first-occurrence order (array_distinct's rule);
  * all downstream uses are order-free (min / set sizes / explode).
  */
object TextExprs {
  def shingleSetCol(text: Column, w: Int): Column =
    ColumnBridge.column(ShingleSet(ColumnBridge.expression(text), w))
  def slidingShinglesCol(text: Column, w: Int): Column =
    ColumnBridge.column(SlidingShingles(ColumnBridge.expression(text), w))
  def tokenChunksCol(text: Column, w: Int): Column =
    ColumnBridge.column(TokenChunks(ColumnBridge.expression(text), w))
  def charNGramSetCol(text: Column, n: Int): Column =
    ColumnBridge.column(CharNGramSet(ColumnBridge.expression(text), n))
  def winnowMinsCol(text: Column, k: Int, w: Int, distinct: Boolean = false): Column =
    ColumnBridge.column(WinnowMins(ColumnBridge.expression(text), k, w, distinct))

  /** Static body for WinnowMins (also called from generated code):
    * the windowed-minimum sequence of the k-gram polyhashes of an
    * ALREADY-LOWERCASED string — identical, element for element, to
    * the HOF pipeline it replaces
    * (transform(sequence) ∘ polyHash(substr) ∘ array_min(slice),
    * TextAnalysis.winnowArrays) and to the DuckDB oracle's
    * list_transform shape, but one tight code-point pass: direct
    * O(k) gram hashing (k is 8 — rolling buys nothing at that width)
    * and a monotonic-deque sliding min, zero intermediate arrays.
    * The interpreted HOF tree was the single most expensive scan in
    * the engine (~6 s for 5k docs at sf0.1 — HOFs don't codegen);
    * this is the same numbers at scan speed.
    *
    * Window minima use the LEFTMOST-min tie rule implicitly: ties
    * are value-equal so which position wins is unobservable (the
    * output is the VALUE sequence). Grams count < w degrades to one
    * global min; no grams (len < k) yields an empty array — both
    * exactly the HOF when() branches.
    *
    * `distinct = true` fuses array_distinct in (first-occurrence
    * order, array_distinct's rule) so the ~(w+1)/2-fold repeated
    * window minima never materialize — every consumer of the
    * distinct form is a set function (explode→join, size, sum, min),
    * so order is unobservable there too. */
  def winnowMins(v: UTF8String, k: Int, w: Int, distinct: Boolean): ArrayData = {
    val cps = v.toString.codePoints().toArray
    val n = cps.length
    val g = n - k + 1
    if (g <= 0) return new GenericArrayData(Array.emptyLongArray)
    val hs = new Array[Long](g)
    val P = HashExprs.P
    var i = 0
    while (i < g) {
      var h = 0L
      var j = 0
      while (j < k) { h = (h * 31L + cps(i + j)) % P; j += 1 }
      hs(i) = h
      i += 1
    }
    if (g < w) {
      var m = hs(0); i = 1
      while (i < g) { if (hs(i) < m) m = hs(i); i += 1 }
      return new GenericArrayData(Array(m))
    }
    val out = new Array[Long](g - w + 1)
    val deque = new Array[Int](g) // indices, increasing hs values
    var head = 0; var tail = 0    // [head, tail)
    i = 0
    while (i < g) {
      while (tail > head && hs(deque(tail - 1)) >= hs(i)) tail -= 1
      deque(tail) = i; tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) out(i - w + 1) = hs(deque(head))
      i += 1
    }
    if (!distinct) return new GenericArrayData(out)
    val seen = new java.util.HashSet[java.lang.Long](out.length * 2)
    val ded = new Array[Long](out.length)
    var d = 0
    i = 0
    while (i < out.length) {
      if (seen.add(out(i))) { ded(d) = out(i); d += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(ded, d))
  }

  /** Static body for RepGramStats (also called from generated code):
    * `(n_grams, top multiplicity)` of the 4-code-point character
    * grams of an ALREADY-LOWERCASED string — identical, value for
    * value, to the composed spelling it replaces
    * (TextAnalysis.repetition: transform(sequence) ∘ substr windows,
    * then max equal-adjacent run of the sorted gram array):
    * windows are CODE-POINT indexed like Spark substr / DuckDB
    * substr; a string shorter than n is its own single gram
    * (n_grams = 1, top = 1, the when().otherwise(array(lc)) branch).
    * One pass, no gram array, no string sort: BMP-only strings pack
    * each window into one long (4 × 16-bit code points — injective)
    * and sort primitively; a string with any supplementary code
    * point falls back to sorting the window strings (rare, exact
    * either way). The composed spelling materialized + sorted the
    * gram STRINGS and ran an interpreted fold — measured 5.6 s for
    * text_repetition at sf0.1 under the noop action. */
  def repGramStats(v: UTF8String, n: Int): ArrayData = {
    // the BMP fast path packs exactly 4 code points per long: any
    // other n would silently collide grams or read past the window
    require(n == 4, s"repGramStats packs 4-code-point grams, got n=$n")
    val cps = v.toString.codePoints().toArray
    val g = cps.length - n + 1
    if (g <= 0) return new GenericArrayData(Array[Any](1L, 1L))
    var bmp = true
    var i = 0
    while (i < cps.length) { if (cps(i) > 0xFFFF) { bmp = false; i = cps.length }; i += 1 }
    var top = 1L
    if (bmp) {
      val enc = new Array[Long](g)
      i = 0
      while (i < g) {
        enc(i) = (cps(i).toLong << 48) | (cps(i + 1).toLong << 32) |
          (cps(i + 2).toLong << 16) | cps(i + 3).toLong
        i += 1
      }
      java.util.Arrays.sort(enc)
      var run = 1L
      i = 1
      while (i < g) {
        run = if (enc(i) == enc(i - 1)) run + 1L else 1L
        if (run > top) top = run
        i += 1
      }
    } else {
      val ws = new Array[String](g)
      i = 0
      while (i < g) { ws(i) = new String(cps, i, n); i += 1 }
      // any total order groups equal grams adjacently — only equality
      // matters for the run count, so the comparator is unobservable
      java.util.Arrays.sort(ws.asInstanceOf[Array[AnyRef]])
      var run = 1L
      i = 1
      while (i < g) {
        run = if (ws(i) == ws(i - 1)) run + 1L else 1L
        if (run > top) top = run
        i += 1
      }
    }
    new GenericArrayData(Array[Any](g.toLong, top))
  }

  def repGramStatsCol(lc: Column, n: Int): Column =
    ColumnBridge.column(RepGramStats(ColumnBridge.expression(lc), n))

  /** Static body for SlidingShingles (also called from generated
    * code): EVERY w-token window of the lowercased text, joined by
    * single spaces, WITH multiplicity and in position order — the
    * non-distinct sibling of [[shingles]], replacing the composed
    * `transform(sequence, i => array_join(slice(tokens, i+1, w)))`
    * spelling value for value (whole token string when fewer than w
    * tokens — the when().otherwise branch). The composed HOF ran the
    * slice+join INTERPRETED per position (~15 µs each — measured
    * 3.4 s just to materialize 236k positions at sf0.1); this is one
    * compiled pass. */
  def slidingShingles(v: UTF8String, w: Int): ArrayData = {
    val toks = v.toString.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
    if (toks.length >= w) {
      val g = toks.length - w + 1
      val out = new Array[Any](g)
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < g) {
        sb.setLength(0)
        var j = 0
        while (j < w) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
        out(i) = UTF8String.fromString(sb.toString)
        i += 1
      }
      new GenericArrayData(out)
    } else new GenericArrayData(
      Array[Any](UTF8String.fromString(toks.mkString(" "))))
  }

  /** Static body for TokenChunks (also called from generated code):
    * consecutive non-overlapping w-token chunks of the lowercased
    * text, joined by single spaces — replaces the composed
    * `transform(sequence(0, ceil(n/w)-1), i => array_join(slice(...)))`
    * chunking (dedupLines / boilerplate) value for value: the last
    * chunk carries the remainder, and the no-token edge (split of ""
    * yields [""]) produces the same single empty chunk. Same
    * interpreted-HOF cost story as [[slidingShingles]]. */
  def tokenChunks(v: UTF8String, w: Int): ArrayData = {
    val toks = v.toString.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
    val n = toks.length
    val nChunks = (n + w - 1) / w // integer ceil; n >= 1 always
    val out = new Array[Any](nChunks)
    val sb = new java.lang.StringBuilder
    var c = 0
    while (c < nChunks) {
      sb.setLength(0)
      val b = c * w
      val e = math.min(b + w, n)
      var j = b
      while (j < e) { if (j > b) sb.append(' '); sb.append(toks(j)); j += 1 }
      out(c) = UTF8String.fromString(sb.toString)
      c += 1
    }
    new GenericArrayData(out)
  }

  /** Static body for ShingleSet (also called from generated code). */
  def shingles(v: UTF8String, w: Int): ArrayData = {
    val toks = v.toString.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
    val out = new mutable.LinkedHashSet[String]
    if (toks.length >= w) {
      var i = 0
      val sb = new java.lang.StringBuilder
      while (i + w <= toks.length) {
        sb.setLength(0)
        var k = 0
        while (k < w) {
          if (k > 0) sb.append(' ')
          sb.append(toks(i + k))
          k += 1
        }
        out += sb.toString
        i += 1
      }
    } else out += toks.mkString(" ")
    new GenericArrayData(out.iterator.map(UTF8String.fromString).toArray[Any])
  }

  /** Static body for CharNGramSet (also called from generated code).
    * Windows are CODE-POINT indexed: Spark's length()/substring() and
    * DuckDB's length()/substr() both count code points, so a UTF-16
    * window would shift every gram after the first non-BMP char. */
  def ngrams(v: UTF8String, n: Int): ArrayData = {
    val s = v.toString.toLowerCase(java.util.Locale.ROOT)
    val out = new mutable.LinkedHashSet[String]
    val cps = s.codePoints().toArray
    if (cps.length >= n) {
      var i = 0
      while (i + n <= cps.length) { out += new String(cps, i, n); i += 1 }
    } else out += s
    new GenericArrayData(out.iterator.map(UTF8String.fromString).toArray[Any])
  }
}

case class WinnowMins(child: Expression, k: Int, w: Int, distinct: Boolean)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq[DataType](StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    TextExprs.winnowMins(v.asInstanceOf[UTF8String], k, w, distinct)
  override protected def doGenCode(ctx: codegen.CodegenContext,
      ev: codegen.ExprCode): codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.TextExprs.winnowMins($c, $k, $w, $distinct)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class RepGramStats(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq[DataType](StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    TextExprs.repGramStats(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: codegen.CodegenContext,
      ev: codegen.ExprCode): codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.TextExprs.repGramStats($c, $n)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class SlidingShingles(child: Expression, w: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq[DataType](StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    TextExprs.slidingShingles(v.asInstanceOf[UTF8String], w)
  override protected def doGenCode(ctx: codegen.CodegenContext,
      ev: codegen.ExprCode): codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.TextExprs.slidingShingles($c, $w)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class TokenChunks(child: Expression, w: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq[DataType](StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    TextExprs.tokenChunks(v.asInstanceOf[UTF8String], w)
  override protected def doGenCode(ctx: codegen.CodegenContext,
      ev: codegen.ExprCode): codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.TextExprs.tokenChunks($c, $w)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class ShingleSet(child: Expression, w: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq[DataType](StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    TextExprs.shingles(v.asInstanceOf[UTF8String], w)
  override protected def doGenCode(ctx: codegen.CodegenContext,
      ev: codegen.ExprCode): codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.TextExprs.shingles($c, $w)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}

case class CharNGramSet(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq[DataType](StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    TextExprs.ngrams(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: codegen.CodegenContext,
      ev: codegen.ExprCode): codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.TextExprs.ngrams($c, $n)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(c)
}
