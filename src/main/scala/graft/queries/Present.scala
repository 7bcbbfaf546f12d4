package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The presentation sort every query registration ends with: output
  * hashes are row-order-sensitive, so each output is ordered by its sort
  * keys. Those keys MUST be unique per row: the sort does not specify the
  * order among rows with equal keys (a shuffle reader takes blocks in
  * arrival order and a spilled sort merges its runs unstably), so ties
  * would make the output hash depend on the run.
  *
  * [[sorted]] is `repartition(1).sortWithinPartitions(keys)`. ONE plan:
  * the body runs once, its partitions gather into a single-partition
  * exchange and one task sorts them. No range sampler, no lineage
  * truncation, nothing to release, and nothing runs at build time. The
  * price is that the sort is one task at any core count.
  *
  * Production consumers that don't need row order should skip it (the
  * `align(sorted = false)` doctrine). */
object Present {
  def sorted(df: DataFrame, keys: String*): DataFrame =
    df.repartition(1).sortWithinPartitions(keys.map(col): _*)

  /** A no-op, kept only for the benchmark's call between reads
    * (perfbench/src/graftbench/QuantUniverse.scala); drop both together. */
  def releaseBarriers(): Unit = ()
}
