package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native greedy left-to-right BPE pair merge: every non-overlapping
  * adjacent (a, b) in the symbol array becomes the single symbol a+b —
  * "aaa" under (a,a) → ["aa","a"], exactly the composed `aggregate`
  * fold in [[graft.pipeline.Bpe]] (which stays as the parity
  * reference). The composed form rebuilds the accumulator array per
  * element (`concat(slice(acc, …), array(s))`) — O(len²) allocation
  * per word per merge round, interpreted outside codegen; this is one
  * forward pass with a single output buffer. A null element never
  * merges (both of the fold's equality probes go null → the append
  * branch), reproduced verbatim.
  */
case class BpeMergePair(child: Expression, a: String, b: String)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "bpe_merge_pair"

  // a non-array<string> child is rejected at analysis, not with a
  // ClassCastException inside a task
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string> symbols, got ${other.catalogString}")
  }

  private val aU = UTF8String.fromString(a)
  private val bU = UTF8String.fromString(b)
  private val abU = UTF8String.fromString(a + b)

  override def nullSafeEval(x: Any): Any =
    BpeMergePair.merge(x.asInstanceOf[ArrayData], aU, bU, abU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("aU", aU)
    val bRef = ctx.addReferenceObj("bU", bU)
    val abRef = ctx.addReferenceObj("abU", abU)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BpeMergePair.merge($c, $aRef, $bRef, $abRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BpeMergePair {

  /** Column entry point over an array<string> symbol column. */
  def bpeMergePair(syms: Column, a: String, b: String): Column =
    GraftBridge.column(BpeMergePair(GraftBridge.expression(syms), a, b))

  def merge(arr: ArrayData, a: UTF8String, b: UTF8String,
            ab: UTF8String): GenericArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n)
    var m = 0 // filled length of out
    var i = 0
    while (i < n) {
      val s: UTF8String = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      if (s != null && m > 0 && out(m - 1) != null &&
          out(m - 1).asInstanceOf[UTF8String].equals(a) && s.equals(b))
        out(m - 1) = ab
      else { out(m) = s; m += 1 }
      i += 1
    }
    if (m == n) new GenericArrayData(out)
    else new GenericArrayData(java.util.Arrays.copyOf(out.asInstanceOf[Array[AnyRef]], m))
  }
}
