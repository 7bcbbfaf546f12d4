package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Composed-builtins formulations of graft's native expressions, kept
  * only as the references the natives are parity-tested against. */
object ParityRefs {

  /** Cosine similarity by `zip_with` + `aggregate` — the reference for
    * [[graft.functions.CosineSim]] (`Similarity.cosine`). */
  def cosineComposed(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v * v))
    val nb = sqrt(aggregate(b, lit(0.0), (acc, v) => acc + v * v))
    when(na === 0 || nb === 0, 0.0).otherwise(dot / (na * nb))
  }

  /** The greedy left-to-right pair merge as an `aggregate` fold — the
    * reference for [[graft.functions.BpeMergePair]]. */
  def mergePairComposed(syms: Column, a: String, b: String): Column =
    aggregate(syms, typedLit(Seq.empty[String]),
      (acc, s) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(a) && s === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(s))))
}
