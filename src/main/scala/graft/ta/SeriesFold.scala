package graft.ta

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution,
  HashPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode, UnsafeExternalRowSorter}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.collection.unsafe.sort.{PrefixComparators, RecordComparator}

/** The one batch per-series fold: [[SeriesOps.overSeries]],
  * [[graft.bt.Vectorized]]'s fold, [[graft.bt.Sequential.runPortfolios]]
  * and the [[graft.etl.Align]] forward/backward fill all run on it.
  *
  * One logical node and one physical operator. The operator requires
  * `ClusteredDistribution(key)`, which the series partitioning
  * ([[SeriesOps.bySeries]]) already satisfies, so it adds no exchange of
  * its own. It sorts each partition itself with Spark's spillable
  * `UnsafeExternalRowSorter` (prefix: the key's 64-bit hash; comparator:
  * the order column, then the key, both interpreted), so each series'
  * rows are contiguous and in order, and hands each series to the fold
  * as `InternalRow`s. Outputs are written
  * by the fold with an `UnsafeRowWriter` ([[Out]]) or an interpreted
  * unsafe projection. So the operator plans no sort stage, no ordering,
  * no Row (de)serializer and no grouping projection: it generates no
  * class of its own, only the stage that feeds it and its exchange do.
  *
  * The planning strategy is registered on the session the first time a
  * fold is built there (idempotent), so sessions that do not load
  * [[graft.GraftExtensions]] plan it too.
  */
object SeriesFold {

  /** One task's fold: called once per series with the series key (a
    * Catalyst value, e.g. `UTF8String`) and the series' rows in the
    * input frame's column order, sorted by the order column. Returns the
    * series' output rows in the output's column order; consecutive rows
    * may share one buffer (each is consumed before the next is built). */
  type Fold = (Any, Array[InternalRow]) => Iterator[InternalRow]

  /** Fold `df` per series of `key`, rows sorted by `order` (descending
    * if asked, nulls first ascending / last descending as in SQL).
    * The output is the `keep` columns of `df` (passed through unchanged,
    * so a series partitioning on `key` survives the fold) followed by
    * `added`. `fold` runs once per task and returns that task's fold. A
    * `key` that is a literal is one series: it keeps the fold's own
    * exchange instead of a series repartition the optimizer would fold
    * into one the operator cannot reuse. */
  def apply(df: DataFrame, key: String, order: String, keep: Seq[String],
            added: Seq[StructField], descending: Boolean = false)
           (fold: () => Fold): DataFrame = {
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(Planner))
      spark.experimental.extraStrategies = Planner +: spark.experimental.extraStrategies
    val child = (if (literalKey(df, key)) df else SeriesOps.bySeries(df, key))
      .queryExecution.analyzed
    def attr(name: String) = child.output.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"no column '$name' in ${child.output}"))
    val node = SeriesFoldNode(attr(key),
      SortOrder(attr(order), if (descending) Descending else Ascending),
      child.output, fold, keep.map(attr) ++ DataTypeUtils.toAttributes(StructType(added)), child)
    // the aliases let the analyzer tell a self-join's sides apart; the
    // optimizer drops them as redundant
    GraftBridge.ofRows(spark, Project(node.output.map(a => Alias(a, a.name)()), node))
  }

  /** Whether `key` is a literal in `df`'s analyzed plan: its alias, read
    * through projections and casts, has a foldable child. */
  private def literalKey(df: DataFrame, key: String): Boolean = {
    val plan = df.queryExecution.analyzed
    val aliases = plan.flatMap(_.expressions).collect { case a: Alias => a.exprId -> a.child }.toMap
    def literal(e: Expression): Boolean = e match {
      case Cast(c, _, _, _) => literal(c)
      case a: Attribute => aliases.get(a.exprId).exists(literal)
      case _ => e.foldable
    }
    plan.output.find(_.name == key).exists(literal)
  }

  /** Output-row builder over one reused `UnsafeRowWriter`: `start()`,
    * then one call per column in order, then `row`. */
  final class Out(numFields: Int) {
    private val w = new UnsafeRowWriter(numFields)
    private var i = 0
    def start(): Out = { w.reset(); w.zeroOutNullBytes(); i = 0; this }
    private def skip(): Out = { w.setNullAt(i); i += 1; this }
    def string(v: UTF8String): Out = if (v == null) skip() else { w.write(i, v); i += 1; this }
    def long(v: Long): Out = { w.write(i, v); i += 1; this }
    def double(v: Double): Out = { w.write(i, v); i += 1; this }
    /** NaN, the kernels' missing value, as null. */
    def nanNull(v: Double): Out = if (java.lang.Double.isNaN(v)) skip() else double(v)
    def stringAt(r: InternalRow, j: Int): Out = string(r.getUTF8String(j))
    def longAt(r: InternalRow, j: Int): Out = if (r.isNullAt(j)) skip() else long(r.getLong(j))
    def doubleAt(r: InternalRow, j: Int): Out = if (r.isNullAt(j)) skip() else double(r.getDouble(j))
    def row: InternalRow = w.getRow
  }

  /** Plans [[SeriesFoldNode]]. */
  object Planner extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case f: SeriesFoldNode =>
        SeriesFoldExec(f.key, f.order, f.input, f.fold, f.output, planLater(f.child)) :: Nil
      case _ => Nil
    }
  }
}

/** A per-series fold of `child` (see [[SeriesFold]]). `input` lists
  * every child column the fold reads, in the order its rows carry them,
  * so column pruning keeps them all; `output` may pass `child` columns
  * through. */
case class SeriesFoldNode(key: Expression, order: SortOrder, input: Seq[Attribute],
                          fold: () => SeriesFold.Fold, output: Seq[Attribute],
                          child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output) -- child.outputSet
  override def simpleString(maxFields: Int): String =
    s"SeriesFold key=$key order=$order output=${output.mkString("[", ", ", "]")}"
  override protected def withNewChildInternal(newChild: LogicalPlan): SeriesFoldNode =
    copy(child = newChild)
}

/** The physical [[SeriesFoldNode]]: sort each partition by (key hash,
  * order, key), then fold it one series at a time. */
case class SeriesFoldExec(key: Expression, order: SortOrder, input: Seq[Attribute],
                          fold: () => SeriesFold.Fold, output: Seq[Attribute],
                          child: SparkPlan) extends UnaryExecNode {

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(key)) :: Nil

  /** A hash partitioning on columns the fold passes through holds for
    * its output too. */
  override def outputPartitioning: Partitioning = child.outputPartitioning match {
    case h: HashPartitioning if h.references.subsetOf(outputSet) => h
    case p => UnknownPartitioning(p.numPartitions)
  }

  override def simpleString(maxFields: Int): String =
    s"SeriesFold key=$key order=$order output=${output.mkString("[", ", ", "]")}"

  override protected def doExecute(): RDD[InternalRow] = {
    val bound = input.map(BindReferences.bindReference[Expression](_, child.output))
    val sameLayout = input == child.output
    // below, rows are in `input`'s layout
    val schema = DataTypeUtils.fromAttributes(input)
    val rowKey = BindReferences.bindReference(key, input)
    val keyType = key.dataType
    // within one key hash, rows sort by (order, key): the order column
    // decides almost every compare, and a run of one hash splits by key
    // (indexed: the interpreted orderings index their sort orders)
    val sortOrder = Vector(BindReferences.bindReference(order, input), SortOrder(rowKey, Ascending))
    val numFields = input.length
    val mkFold = fold
    child.execute().mapPartitions { rows =>
      if (!rows.hasNext) Iterator.empty
      else {
        lazy val toInput = InterpretedUnsafeProjection.createProjection(bound)
        val keyOrdering = new InterpretedOrdering(sortOrder.drop(1))
        def hash(row: InternalRow): Long = {
          val k = rowKey.eval(row)
          if (k == null) 0L else XxHash64Function.hash(k, keyType, 42L)
        }
        val prefix = new UnsafeExternalRowSorter.PrefixComputer {
          private val p = new UnsafeExternalRowSorter.PrefixComputer.Prefix
          override def computePrefix(row: InternalRow): UnsafeExternalRowSorter.PrefixComputer.Prefix = {
            p.value = hash(row)
            p
          }
        }
        val sorter = UnsafeExternalRowSorter.createWithRecordComparator(schema,
          () => new SeriesFoldExec.Comparator(numFields, sortOrder),
          PrefixComparators.LONG, prefix, SparkEnv.get.memoryManager.pageSizeBytes, false)
        val sorted = sorter.sort(rows.map {
          case u: UnsafeRow if sameLayout => u
          case r => toInput(r)
        })
        // the series of a run, each still sorted by order
        def byKey(run: Array[InternalRow]): Iterator[Array[InternalRow]] = {
          val (same, rest) = run.partition(keyOrdering.compare(run(0), _) == 0)
          Iterator.single(same) ++ (if (rest.isEmpty) Iterator.empty else byKey(rest))
        }
        val f = mkFold()
        // one run of a key hash at a time: buffer copies of its rows,
        // then fold each of its series
        new Iterator[Array[InternalRow]] {
          private var pending: InternalRow = if (sorted.hasNext) sorted.next().copy() else null
          override def hasNext: Boolean = pending != null
          override def next(): Array[InternalRow] = {
            val run = scala.collection.mutable.ArrayBuffer(pending)
            val h = hash(pending)
            pending = null
            while (pending == null && sorted.hasNext) {
              val r = sorted.next()
              if (hash(r) == h) run += r.copy() else pending = r.copy()
            }
            run.toArray
          }
        }.flatMap(byKey).flatMap(group => f(rowKey.eval(group(0)), group))
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SeriesFoldExec =
    copy(child = newChild)
}

object SeriesFoldExec {
  /** Orders two sorter records (rows of `numFields` columns) by
    * `sortOrder`; it only runs on equal prefixes (equal key hashes). A
    * non-null `long` order column, the common case, compares without
    * the interpreted ordering. */
  private final class Comparator(numFields: Int, sortOrder: Seq[SortOrder]) extends RecordComparator {
    private val ordering = new InterpretedOrdering(sortOrder)
    private val longAt = sortOrder.head.child match {
      case b: BoundReference if b.dataType == LongType => b.ordinal
      case _ => -1
    }
    private val sign = if (sortOrder.head.direction == Descending) -1 else 1
    private val l = new UnsafeRow(numFields)
    private val r = new UnsafeRow(numFields)
    override def compare(lo: Object, lOff: Long, lLen: Int, ro: Object, rOff: Long, rLen: Int): Int = {
      l.pointTo(lo, lOff, lLen)
      r.pointTo(ro, rOff, rLen)
      val c = if (longAt < 0 || l.isNullAt(longAt) || r.isNullAt(longAt)) 0
        else sign * java.lang.Long.compare(l.getLong(longAt), r.getLong(longAt))
      if (c != 0) c else ordering.compare(l, r)
    }
  }
}
