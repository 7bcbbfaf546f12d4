package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Product-quantization encoder: splits a dim-length vector into
  * `m = codebook.length` contiguous subvectors and, per subspace j, emits
  * the 1-based index of the L2-nearest codeword — argmin ‖x_j − c‖² =
  * argmax (dot(x_j, c) − ‖c‖²/2), evaluated as ONE fused m×ksub×sub loop
  * inside the scan projection (the NearestCentroid discipline: the
  * codebook rides into generated code via `addReferenceObj`, no
  * per-codeword expression trees). Ties break to the lowest codeword
  * index (strict `>`), and a vector whose length differs from m·sub is
  * encoded as NULL (the oracle's `len(v) = dim` guard).
  *
  * Determinism contract (what lets a SQL oracle replay codes exactly):
  * the score is a LEFT-TO-RIGHT dot over the subvector minus a
  * half-norm precomputed in index order from the (6-dp-rounded) codebook
  * values — a replay that writes the same chain over the same literals
  * is bit-identical, so the argmax and every downstream ADC lookup
  * agree across engines (see queries.PqSql).
  */
case class PqEncode(child: Expression, codebook: Array[Array[Array[Double]]])
    extends UnaryExpression with ExpectsInputTypes {
  require(codebook.nonEmpty && codebook.forall(_.nonEmpty),
    "PqEncode needs a non-empty codebook per subspace")

  private val m = codebook.length
  private val sub = codebook(0)(0).length

  // the loop reads doubles: any other input fails analysis
  override def inputTypes = Seq(ArrayType(DoubleType))

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  // a wrong-length vector encodes as NULL even when the child column is
  // non-nullable — without this the codegen's isNull slot is a literal
  override def nullable: Boolean = true
  override def prettyName: String = "pq_encode"

  /** ‖c‖²/2 per codeword, summed in index order (the oracle's unrolled
    * chain order) so the subtraction is replayable bit-for-bit. */
  @transient private lazy val halfNsq: Array[Array[Double]] =
    codebook.map(_.map { c =>
      var s = 0.0; var d = 0
      while (d < c.length) { s += c(d) * c(d); d += 1 }
      0.5 * s
    })

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    if (arr.numElements() != m * sub) return null
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      val cbj = codebook(j); val hnj = halfNsq(j)
      var best = 1; var bestScore = Double.NegativeInfinity
      var k = 0
      while (k < cbj.length) {
        val c = cbj(k)
        var dot = 0.0; var d = 0
        while (d < sub) { dot += arr.getDouble(j * sub + d) * c(d); d += 1 }
        val score = dot - hnj(k)
        if (score > bestScore) { bestScore = score; best = k + 1 }
        k += 1
      }
      codes(j) = best
      j += 1
    }
    new GenericArrayData(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("codebook", codebook, "double[][][]")
    val hnRef = ctx.addReferenceObj("halfNsq", halfNsq, "double[][]")
    nullSafeCodeGen(ctx, ev, arr => {
      val codes = ctx.freshName("codes")
      val j = ctx.freshName("j"); val k = ctx.freshName("k"); val d = ctx.freshName("d")
      val cbj = ctx.freshName("cbj"); val hnj = ctx.freshName("hnj")
      val dot = ctx.freshName("dot"); val score = ctx.freshName("score")
      val best = ctx.freshName("best"); val bestScore = ctx.freshName("bestScore")
      val c = ctx.freshName("c")
      s"""
         |if ($arr.numElements() != ${m * sub}) {
         |  ${ev.isNull} = true;
         |} else {
         |  int[] $codes = new int[$m];
         |  for (int $j = 0; $j < $m; $j++) {
         |    double[][] $cbj = $cbRef[$j];
         |    double[] $hnj = $hnRef[$j];
         |    int $best = 1; double $bestScore = java.lang.Double.NEGATIVE_INFINITY;
         |    for (int $k = 0; $k < $cbj.length; $k++) {
         |      double[] $c = $cbj[$k];
         |      double $dot = 0.0;
         |      for (int $d = 0; $d < $sub; $d++) { $dot += $arr.getDouble($j * $sub + $d) * $c[$d]; }
         |      double $score = $dot - $hnj[$k];
         |      if ($score > $bestScore) { $bestScore = $score; $best = $k + 1; }
         |    }
         |    $codes[$j] = $best;
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($codes);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object PqEncode {
  import org.apache.spark.sql.functions.transform

  /** Column entry point; input coerced to array<double>. */
  def pqEncode(vec: Column, codebook: Array[Array[Array[Double]]]): Column =
    GraftBridge.column(PqEncode(
      GraftBridge.expression(transform(vec, _.cast("double"))), codebook))
}
