package graft.functions

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Membership in a fixed driver-built set: Catalyst `InSet`'s semantics
  * (NULL in, NULL out; the set is a codegen reference object, hashed once
  * per task) without its plan text. `InSet.toString` puts every element
  * in every formatted plan description, 1.47 MB each for the 25,829 grams
  * of remove_frequent_spans_fp at sf0.1; `toString` and `sql` here give
  * the size (`in_set(__g, 25829 values)`). The child must have the set's
  * element type (string or bigint). */
case class InFixedSet(child: Expression, values: InFixedSet.Values)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(values.dataType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "in_set"
  override def toString: String = s"$prettyName($child, $values)"
  override def sql: String = s"$prettyName(${child.sql}, $values)"
  override def nullSafeEval(v: Any): Any = values.set.contains(v)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val set = ctx.addReferenceObj("set", values.set, "java.util.Set")
    val box = if (values.dataType == LongType) "java.lang.Long.valueOf" else ""
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $set.contains($box($v));")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object InFixedSet {
  /** The set and its element type, hashed once: plan copies share the
    * instance, and unequal sets almost always differ in the hash, so
    * comparing plans does not walk the elements. */
  final class Values(val set: java.util.Set[AnyRef], val dataType: DataType) extends Serializable {
    private val hash = set.hashCode
    override def hashCode: Int = hash
    override def equals(o: Any): Boolean = o match {
      case v: Values => (v eq this) || (v.hash == hash && v.dataType == dataType && v.set == set)
      case _ => false
    }
    override def toString: String = s"${set.size} values"
    def contains(c: Column): Column = GraftBridge.column(InFixedSet(GraftBridge.expression(c), this))
  }

  private def of(vs: Iterable[AnyRef], t: DataType) = new Values(new java.util.HashSet(vs.asJavaCollection), t)
  def strings(vs: Iterable[String]): Values = of(vs.map(UTF8String.fromString), StringType)
  def longs(vs: Iterable[Long]): Values = of(vs.map(java.lang.Long.valueOf(_: Long)), LongType)
}
