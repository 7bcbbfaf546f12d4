package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** Aggregation state for [[MisraGries]]: `est(token) = stored(token) −
  * offset`. The global `offset` makes the MG decrement-all step O(1) —
  * a decrement event bumps `offset` instead of walking the map — and a
  * purge pass (remove dead entries, i.e. `stored ≤ offset`, fused with
  * an exact-min recompute) runs only when `offset` reaches `minStored`,
  * the tracked lower bound on the minimum live stored value. Because the
  * purge triggers in the same event in which any entry dies, the live
  * set and every estimate are BIT-IDENTICAL to the eager
  * decrement-every-counter formulation — this is a representation
  * change, not a semantics change.
  *
  * `minStored` is exact after every purge and insert; an increment of
  * the current minimum entry can leave it stale low by the increment
  * amount, costing at most a no-op purge pass before the next exact
  * recompute. Amortized cost per row is O(1) on long-tail streams (each
  * purge removal is paid for by the insert that created the entry);
  * the adversarial worst case — a stream alternating min-entry hits
  * with unseen tokens — degrades to the eager formulation's
  * O(capacity) per decrement event, never worse. */
final class MGBuffer {
  val m: mutable.HashMap[String, Long] = mutable.HashMap.empty
  var offset: Long = 0L
  var minStored: Long = Long.MaxValue
}

/** Misra–Gries heavy-hitters summary as a native Catalyst
  * `TypedImperativeAggregate` — the bounded-memory answer to "top tokens
  * of a 100 TB corpus":
  *
  *   - each map-side partial holds AT MOST `capacity` (token, count)
  *     entries whatever the data looks like (Misra & Gries 1982: an
  *     unseen token past capacity decrements every counter instead of
  *     growing the map — implemented as a lazily-subtracted global
  *     offset, see [[MGBuffer]], so the hot decrement path allocates
  *     nothing and walks nothing);
  *   - partials merge by union-sum then subtracting the (capacity+1)-th
  *     largest count (Agarwal et al., "Mergeable Summaries", PODS 2012),
  *     so the reduce side sees O(partitions · capacity) entries, never a
  *     per-token shuffle — no hot-token reducer at any corpus size;
  *   - estimates carry the classic one-sided bound: true_count ≥
  *     estimate ≥ true_count − N/(capacity+1), and any token with
  *     frequency above N/(capacity+1) is guaranteed present.
  *
  * EXACTNESS ESCAPE: if `capacity` ≥ the number of distinct keys, no
  * decrement ever fires (update never overflows, merged unions never
  * exceed capacity), so every count is exact — which is what lets a
  * registered query run the genuine sketch code path and still be
  * hash-verified against an exact SQL oracle. In the approximate regime
  * the surviving set depends on partition layout (the bound above holds
  * for every layout; the specific casualties differ).
  *
  * Buffer serialization is a flat length-prefixed byte stream (no Java
  * serialization on the shuffle path), always offset-normalized.
  */
case class MisraGries(child: Expression, capacity: Int,
                      mutableAggBufferOffset: Int = 0,
                      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[MGBuffer] with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)

  require(capacity > 0, s"capacity must be positive, got $capacity")

  override def createAggregationBuffer(): MGBuffer = new MGBuffer

  override def update(b: MGBuffer, input: InternalRow): MGBuffer = {
    val v = child.eval(input)
    if (v != null) {
      val t = v.asInstanceOf[UTF8String].toString
      b.m.get(t) match {
        case Some(s) => b.m.update(t, s + 1)
        case None if b.m.size < capacity =>
          val s = b.offset + 1
          b.m.update(t, s)
          if (s < b.minStored) b.minStored = s
        case None =>
          // the MG step, amortized: pay with a global offset bump; purge
          // (and recompute the exact min) only when a counter can die
          b.offset += 1
          if (b.offset >= b.minStored) purge(b)
      }
    }
    b
  }

  /** Remove dead entries (est ≤ 0) and recompute the exact minimum
    * stored value in the same pass — no key-array allocation. */
  private def purge(b: MGBuffer): Unit = {
    b.m.filterInPlace((_, s) => s > b.offset)
    var mn = Long.MaxValue
    val it = b.m.valuesIterator
    while (it.hasNext) { val s = it.next(); if (s < mn) mn = s }
    b.minStored = mn
  }

  /** Fold the offset into the stored counts (dropping dead entries), so
    * `m` holds plain estimates — merge/eval/serialize all operate on the
    * normalized form. */
  private def normalize(b: MGBuffer): Unit = {
    if (b.offset != 0L) {
      b.m.filterInPlace((_, s) => s > b.offset)
      b.m.mapValuesInPlace((_, s) => s - b.offset)
      b.offset = 0L
      b.minStored = Long.MaxValue
    }
  }

  override def merge(b: MGBuffer, o: MGBuffer): MGBuffer = {
    normalize(b); normalize(o)
    o.m.foreach { case (k, c) => b.m.update(k, b.m.getOrElse(k, 0L) + c) }
    if (b.m.size > capacity) {
      // subtract the (capacity+1)-th largest count from everyone; all
      // entries at or below it drop, so the result fits capacity again
      val counts = b.m.values.toArray
      java.util.Arrays.sort(counts)
      val sub = counts(counts.length - capacity - 1)
      b.m.filterInPlace((_, c) => c > sub)
      b.m.mapValuesInPlace((_, c) => c - sub)
    }
    b
  }

  override def eval(b: MGBuffer): Any = {
    normalize(b)
    val rows: Array[Any] = b.m.toArray.sortBy { case (t, c) => (-c, t) }
      .map { case (t, c) => InternalRow(UTF8String.fromString(t), c) }
    new GenericArrayData(rows)
  }

  override def serialize(b: MGBuffer): Array[Byte] = {
    normalize(b)
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(b.m.size)
    b.m.foreach { case (k, c) =>
      val kb = k.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(kb.length); out.write(kb); out.writeLong(c)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): MGBuffer = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val b = new MGBuffer
    var i = 0
    while (i < n) {
      val kb = new Array[Byte](in.readInt()); in.readFully(kb)
      val c = in.readLong()
      b.m.update(new String(kb, java.nio.charset.StandardCharsets.UTF_8), c)
      if (c < b.minStored) b.minStored = c
      i += 1
    }
    b
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("token", StringType), StructField("n_occurrences", LongType))), containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = child :: Nil
  override def prettyName: String = "misra_gries"

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGries =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGries =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object MisraGries {
  /** Aggregate Column: array<struct<token,n_occurrences>> sorted by
    * (count desc, token asc). */
  def misraGries(c: Column, capacity: Int): Column =
    GraftBridge.column(
      MisraGries(GraftBridge.expression(c), capacity).toAggregateExpression())

  /** Weighted variant: array<struct<token,n_occurrences>> with each row
    * contributing `weight` instead of 1. */
  def misraGriesWeighted(c: Column, weight: Column, capacity: Int): Column =
    GraftBridge.column(
      MisraGriesWeighted(GraftBridge.expression(c),
        GraftBridge.expression(weight.cast("long")), capacity).toAggregateExpression())
}

/** WEIGHTED Misra–Gries heavy hitters: each input row carries a long
  * weight (e.g. a pre-aggregated count), and estimates bound
  * `true_weight ≥ estimate ≥ true_weight − W/(capacity+1)` for total
  * weight W. Implemented in the mergeable-summaries formulation
  * throughout (Agarwal et al., PODS 2012): inserting a weighted key is
  * a merge with a singleton summary, and overflow is resolved by
  * subtracting the (capacity+1)-th largest count — each subtraction of
  * s destroys ≥ (capacity+1)·s total mass, which is what yields the
  * W/(capacity+1) bound for ANY interleaving of updates and merges.
  * The buffer is allowed to grow to 2×capacity between trims, so the
  * O(capacity log capacity) trim amortizes to O(log capacity) per new
  * key instead of firing on every insertion (the decrement-all/offset
  * machinery of the unweighted [[MisraGries]] does not carry over:
  * weighted arrivals decrement by varying amounts, so there is no
  * single global offset to defer).
  *
  * EXACTNESS ESCAPE, same as the unweighted sketch: with capacity ≥
  * distinct keys no trim ever fires and every count is exact — the
  * regime that lets the sketched BPE trainer hash-match the exact
  * oracle ([[graft.pipeline.Bpe]]). */
case class MisraGriesWeighted(child: Expression, weight: Expression, capacity: Int,
                              mutableAggBufferOffset: Int = 0,
                              inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.HashMap[String, Long]] with ExpectsInputTypes {

  // update reads the weight as a java.lang.Number: every non-decimal
  // numeric type
  override def inputTypes = Seq(StringType,
    GraftBridge.anyOf(ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType))

  require(capacity > 0, s"capacity must be positive, got $capacity")

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  /** Subtract the (capacity+1)-th largest count from everyone; entries
    * at or below it drop, so the result fits capacity again. */
  private def trim(b: mutable.HashMap[String, Long]): Unit =
    if (b.size > capacity) {
      val counts = b.values.toArray
      java.util.Arrays.sort(counts)
      val sub = counts(counts.length - capacity - 1)
      b.filterInPlace((_, c) => c > sub)
      b.mapValuesInPlace((_, c) => c - sub)
    }

  override def update(b: mutable.HashMap[String, Long], input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    val w = weight.eval(input)
    if (v != null && w != null) {
      // any integral weight type (SQL callers pass what they have)
      val wl = w.asInstanceOf[Number].longValue()
      if (wl > 0L) {
        val t = v.asInstanceOf[UTF8String].toString
        b.update(t, b.getOrElse(t, 0L) + wl)
        // slack to 2×capacity so the O(cap log cap) trim amortizes
        if (b.size > 2 * capacity) trim(b)
      }
    }
    b
  }

  override def merge(b: mutable.HashMap[String, Long], o: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    o.foreach { case (k, c) => b.update(k, b.getOrElse(k, 0L) + c) }
    trim(b)
    b
  }

  override def eval(b: mutable.HashMap[String, Long]): Any = {
    trim(b)
    val rows: Array[Any] = b.toArray.sortBy { case (t, c) => (-c, t) }
      .map { case (t, c) => InternalRow(UTF8String.fromString(t), c) }
    new GenericArrayData(rows)
  }

  override def serialize(b: mutable.HashMap[String, Long]): Array[Byte] = {
    trim(b) // capacity-bounded on the shuffle path, not 2×
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(b.size)
    b.foreach { case (k, c) =>
      val kb = k.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(kb.length); out.write(kb); out.writeLong(c)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val b = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) {
      val kb = new Array[Byte](in.readInt()); in.readFully(kb)
      b.update(new String(kb, java.nio.charset.StandardCharsets.UTF_8), in.readLong())
      i += 1
    }
    b
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("token", StringType), StructField("n_occurrences", LongType))), containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = child :: weight :: Nil
  override def prettyName: String = "misra_gries_weighted"

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesWeighted =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesWeighted =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head, weight = newChildren(1))
}
