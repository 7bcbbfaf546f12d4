package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The presentation sort every query registration ends with: output
  * hashes are row-order-sensitive, so each output is ordered by its sort
  * keys. Those keys MUST be unique per row: neither form specifies the
  * order among rows with equal keys (a shuffle reader takes blocks in
  * arrival order and a spilled sort merges its runs unstably), so ties
  * would make the output hash depend on the run.
  *
  *  - [[sorted]] — `repartition(1).sortWithinPartitions(keys)`. ONE plan:
  *    the body runs once, its partitions gather into a single-partition
  *    exchange and one task sorts them. No range sampler, no lineage
  *    truncation, nothing to release, and nothing runs at build time.
  *    The price is that the sort is one task at any core count. The
  *    default.
  *
  *  - [[sortedBarrier]] — `localCheckpoint(eager = false)` + `orderBy`.
  *    The body is planned once, at build time, and the query the caller
  *    runs plans and prints only the sort over the checkpoint's stored
  *    blocks. That wins where the body's plan itself is expensive: the
  *    literal legs of remove_frequent_spans carry the frequent-gram set
  *    as an InSet literal (25,829 grams at sf0.1), which the write of a
  *    one-plan query re-plans and describes (one formatted description
  *    of the fp leg's body alone takes ~0.1 s); there the barrier form
  *    measured faster in 9 of 10 pairs. The trade is explicit: the
  *    checkpoint truncates lineage, so an executor lost AFTER the
  *    barrier materializes fails the query instead of recomputing it,
  *    and its blocks stay pinned until [[releaseBarriers]] frees them.
  *
  * Production consumers that don't need row order should skip both (the
  * `align(sorted = false)` doctrine). */
object Present {
  def sorted(df: DataFrame, keys: String*): DataFrame =
    df.repartition(1).sortWithinPartitions(keys.map(col): _*)

  private val liveBarriers =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  def sortedBarrier(df: DataFrame, keys: String*): DataFrame = {
    val cp = df.localCheckpoint(eager = false)
    liveBarriers.add(cp)
    cp.orderBy(keys.map(col): _*)
  }

  /** Free every live barrier's storage blocks
    * ([[graft.Scratch.freeCheckpoint]]). Call ONLY between
    * queries (harness loop / after an oracle collect): the lineage is
    * truncated, so a freed barrier cannot recompute — any later scan of
    * the same DataFrame object throws. Each registration call builds a
    * fresh barrier, so re-running a query after release is safe. */
  def releaseBarriers(): Unit = {
    var df = liveBarriers.poll()
    while (df != null) { graft.Scratch.freeCheckpoint(df); df = liveBarriers.poll() }
  }
}
