package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the repetition-signal COUNTS over a
  * token array: one fused pass instead of the composed-builtins chain
  * (array_sort + aggregate fold for the top-token run, n shifted slices
  * + zip_with + concat_ws + array_distinct per n-gram order) — those
  * higher-order lambdas evaluate interpreted, outside whole-stage
  * codegen, and allocate an intermediate array per step. This expression
  * returns the exact INTEGER counts; the ratio arithmetic (double
  * divisions of those counts) stays in ordinary Column expressions in
  * [[graft.pipeline.Repetition]], so the produced doubles are
  * bit-identical to the composed formulation by construction — identical
  * integers through identical IEEE operations (parity-tested against the
  * composed reference, which stays in Repetition as `*Of`).
  *
  * Fields (all counts over the input array `t`):
  *   - n          = size(t)
  *   - n_distinct = size(array_distinct(t))
  *   - top        = the longest run in array_sort(t) under the composed
  *                  fold's semantics: max multiplicity of a non-null
  *                  token (a null element never equates to anything —
  *                  x === prev is null — so each null contributes a
  *                  run of exactly 1)
  *   - d2, d3     = size(array_distinct(ngrams(t, k))) for k = 2, 3,
  *                  null when n < k (no grams to judge), with gram
  *                  equality exactly as the concat_ws(" ", …) strings
  *                  compare
  *
  * Gram distinctness runs on interned token ids packed into longs, not
  * gram strings — exact, because whitespace-split tokens contain no
  * separator, so the " "-joined gram string is injective on the token
  * sequence. Arrays carrying null elements (which the shared tokenizer
  * never produces) take a string-building fallback that reproduces
  * concat_ws's null-skipping verbatim.
  */
case class RepetitionCounts(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  // the counting pass reads UTF8Strings: any other input fails analysis
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = RepetitionCounts.OutType
  override def prettyName: String = "repetition_counts"

  override def nullSafeEval(a: Any): Any =
    RepetitionCounts.compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.RepetitionCounts.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RepetitionCounts {

  val OutType: StructType = StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("top", IntegerType, nullable = false),
    StructField("d2", IntegerType, nullable = true),
    StructField("d3", IntegerType, nullable = true)))

  /** Column entry point: `repetition_counts(t)` over an array<string>. */
  def repetitionCounts(t: Column): Column =
    GraftBridge.column(RepetitionCounts(GraftBridge.expression(t)))

  /** The fused counting pass (shared by eval and generated code). */
  def compute(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) { hasNull = arr.isNullAt(i); i += 1 }
    if (hasNull) return computeWithNulls(arr, n)

    // token -> dense id, multiplicity count per id
    val idOf = new java.util.HashMap[UTF8String, Integer](n * 2)
    val ids = new Array[Int](n)
    var cnt = new Array[Int](math.max(8, n))
    var nd = 0
    i = 0
    while (i < n) {
      val tok = arr.getUTF8String(i)
      var id = idOf.get(tok)
      if (id == null) { id = Integer.valueOf(nd); idOf.put(tok, id); nd += 1 }
      ids(i) = id.intValue()
      cnt(ids(i)) += 1
      i += 1
    }
    var top = 0
    i = 0
    while (i < nd) { if (cnt(i) > top) top = cnt(i); i += 1 }

    var d2: Any = null
    var d3: Any = null
    if (n >= 2) {
      // distinct bigrams: the two 32-bit ids packed in one long — exact
      val big = new java.util.HashSet[java.lang.Long](n * 2)
      i = 0
      while (i < n - 1) {
        big.add((ids(i).toLong << 32) | (ids(i + 1).toLong & 0xffffffffL))
        i += 1
      }
      d2 = Integer.valueOf(big.size())
      if (n >= 3) {
        // distinct trigrams: intern each bigram to a dense id, pack with
        // the third token's id — still exact, still one long per gram
        val bigId = new java.util.HashMap[java.lang.Long, Integer](n * 2)
        val tri = new java.util.HashSet[java.lang.Long](n * 2)
        i = 0
        while (i < n - 2) {
          val bkey = java.lang.Long.valueOf((ids(i).toLong << 32) | (ids(i + 1).toLong & 0xffffffffL))
          var bid = bigId.get(bkey)
          if (bid == null) { bid = Integer.valueOf(bigId.size()); bigId.put(bkey, bid) }
          tri.add((bid.intValue().toLong << 32) | (ids(i + 2).toLong & 0xffffffffL))
          i += 1
        }
        d3 = Integer.valueOf(tri.size())
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, nd, top, d2, d3))
  }

  /** Exact replay of the composed semantics for arrays with null
    * elements (never produced by the shared tokenizer, kept for strict
    * equivalence): array_distinct counts null once; the sorted-run fold
    * gives every null a run of 1 (x === prev is null for any null
    * operand); concat_ws SKIPS nulls when building gram strings. */
  private def computeWithNulls(arr: ArrayData, n: Int): InternalRow = {
    val seen = new java.util.HashMap[UTF8String, Integer]()
    var nullSeen = false
    var top = 0
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) { nullSeen = true; if (top < 1) top = 1 }
      else {
        val tok = arr.getUTF8String(i)
        val c = seen.merge(tok, Integer.valueOf(1), (a, b) => Integer.valueOf(a + b))
        if (c > top) top = c.intValue()
      }
      i += 1
    }
    val nd = seen.size() + (if (nullSeen) 1 else 0)
    def gramSet(k: Int): Integer = {
      val s = new java.util.HashSet[String]()
      var j = 0
      while (j <= n - k) {
        val sb = new java.lang.StringBuilder()
        var first = true
        var d = 0
        while (d < k) {
          if (!arr.isNullAt(j + d)) {
            if (!first) sb.append(' ')
            sb.append(arr.getUTF8String(j + d).toString)
            first = false
          }
          d += 1
        }
        s.add(sb.toString)
        j += 1
      }
      Integer.valueOf(s.size())
    }
    val d2: Any = if (n >= 2) gramSet(2) else null
    val d3: Any = if (n >= 3) gramSet(3) else null
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, nd, top, d2, d3))
  }
}
