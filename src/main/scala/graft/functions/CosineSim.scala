package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for cosine similarity of two double arrays.
  *
  * The composed `zip_with + aggregate` formulation (kept as the parity
  * reference `graft.ParityRefs.cosineComposed` in the test suite)
  * materializes an intermediate products array per row and walks three
  * higher-order loops; this expression does one fused loop with zero
  * allocation and participates in whole-stage codegen (`doGenCode`), which
  * is the difference between scanning a 100 TB embedding corpus at memory
  * bandwidth versus allocator speed. Preference order per the build brief:
  * compose built-ins where semantics allow (done elsewhere) → native
  * Expression for the genuinely hot scalar (this) → UDF never.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  // the loop reads doubles: any other element type (the embeddings
  // table's array<float> included) fails analysis, not a task. The
  // inputTypes overrides leave their result type to inference: its
  // element type, AbstractDataType, is private[sql].
  override def inputTypes =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getDouble(i); val yv = y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = $a.getDouble($i);
         |  double $yv = $b.getDouble($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0
         |  : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object CosineSim {
  import org.apache.spark.sql.functions.transform

  /** Column-level entry point: `cosine_sim(a, b)`; inputs coerced to
    * array<double> so the expression always sees its expected type. */
  def cosineSim(a: Column, b: Column): Column = {
    def d(c: Column) = transform(c, _.cast("double"))
    GraftBridge.column(CosineSim(GraftBridge.expression(d(a)), GraftBridge.expression(d(b))))
  }
}
