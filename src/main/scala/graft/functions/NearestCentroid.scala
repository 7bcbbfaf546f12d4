package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Argmax-cosine against a fixed centroid table, fused into ONE native
  * expression: the IVF coarse-quantizer assignment (Similarity.ivfAssign)
  * is a single k×dim loop inside the scan projection instead of k separate
  * literal-array CosineSim trees (which cost k big codegen units per plan
  * — the 16-centroid formulation spent ~10 s/query in compilation alone).
  * Centroids ride into generated code via `addReferenceObj`, so the
  * expression scales to large k without expression-tree blowup.
  *
  * Returns the 1-based index of the nearest centroid; ties break to the
  * lowest index (matching `array_position(sims, array_max(sims))`), and a
  * zero-norm input or centroid scores 0 (CosineSim's convention).
  */
case class NearestCentroid(child: Expression, cents: Array[Array[Double]])
    extends UnaryExpression with ExpectsInputTypes {
  require(cents.nonEmpty, "NearestCentroid needs at least one centroid")

  // the loop reads doubles: any other input fails analysis
  override def inputTypes = Seq(ArrayType(DoubleType))

  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_centroid"

  @transient private lazy val cnorms: Array[Double] =
    cents.map(c => math.sqrt(c.map(x => x * x).sum))

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var na = 0.0
    var i = 0
    while (i < n) { val x = arr.getDouble(i); na += x * x; i += 1 }
    val sna = math.sqrt(na)
    var best = 1; var bestSim = Double.NegativeInfinity
    var j = 0
    while (j < cents.length) {
      val cj = cents(j)
      val m = math.min(n, cj.length)
      var dot = 0.0
      i = 0
      while (i < m) { dot += arr.getDouble(i) * cj(i); i += 1 }
      val sim = if (na == 0.0 || cnorms(j) == 0.0) 0.0 else dot / (sna * cnorms(j))
      if (sim > bestSim) { bestSim = sim; best = j + 1 }
      j += 1
    }
    java.lang.Integer.valueOf(best)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("cents", cents, "double[][]")
    val normsRef = ctx.addReferenceObj("cnorms", cnorms, "double[]")
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val na = ctx.freshName("na"); val sna = ctx.freshName("sna")
      val dot = ctx.freshName("dot"); val sim = ctx.freshName("sim")
      val best = ctx.freshName("best"); val bestSim = ctx.freshName("bestSim")
      val cj = ctx.freshName("cj"); val m = ctx.freshName("m")
      s"""
         |int $n = $arr.numElements();
         |double $na = 0.0;
         |for (int $i = 0; $i < $n; $i++) { double v = $arr.getDouble($i); $na += v * v; }
         |double $sna = java.lang.Math.sqrt($na);
         |int $best = 1; double $bestSim = java.lang.Double.NEGATIVE_INFINITY;
         |for (int $j = 0; $j < $centsRef.length; $j++) {
         |  double[] $cj = $centsRef[$j];
         |  int $m = java.lang.Math.min($n, $cj.length);
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $m; $i++) { $dot += $arr.getDouble($i) * $cj[$i]; }
         |  double $sim = ($na == 0.0 || $normsRef[$j] == 0.0) ? 0.0 : $dot / ($sna * $normsRef[$j]);
         |  if ($sim > $bestSim) { $bestSim = $sim; $best = $j + 1; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object NearestCentroid {
  import org.apache.spark.sql.functions.transform

  /** Column entry point; input coerced to array<double>. */
  def nearestCentroid(vec: Column, cents: Array[Array[Double]]): Column =
    GraftBridge.column(NearestCentroid(
      GraftBridge.expression(transform(vec, _.cast("double"))), cents))
}
