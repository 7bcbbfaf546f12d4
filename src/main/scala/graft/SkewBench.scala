package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Evidence harness for SkewJoin: unsalted vs salted shuffle join on a
  * hot key, measuring wall time AND the straggler (max task duration).
  *
  * The modeled regime is the one AQE does NOT fix: broadcast is off (the
  * "small" side models a few-GB dim that won't broadcast) and the hot
  * partition sits under AQE's 256 MB `skewedPartitionThresholdInBytes`,
  * so the skew-join split never triggers — yet one reducer still owns
  * 60% of the probe side and paces the stage. Salting spreads that key
  * over `saltBuckets` reducers at the cost of replicating the dim.
  * AQE stays ON (defaults) — the point is salting wins where AQE's
  * byte-threshold heuristic is blind, not fighting the optimizer.
  *
  * Results are recorded in BASELINE.md (round 8).
  */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val counter = new TaskCounter(spark)

    val n = args.headOption.map(_.toLong).getOrElse(20_000_000L)
    // 60% of the big side on key 0, the rest uniform over 999 other keys
    def big = spark.range(n).select(
      when(col("id") % 10 < 6, 0L).otherwise(col("id") % 1000).as("key"),
      col("id").as("payload"))
    def small = spark.range(1000).select(col("id").as("key"),
      (col("id") * 3).as("dimv"))

    def run(what: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      // warm-up pass absorbs codegen/scheduler one-time cost, then measure
      df.select(sum(col("payload") + col("dimv"))).collect()
      counter.reset()
      val t0 = System.nanoTime()
      val s = df.select(sum(col("payload") + col("dimv"))).collect()(0).getLong(0)
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"[skew] $what%-28s wall ${wall}%6.2f s   max-task ${counter.longestTaskMs / 1000.0}%6.2f s   checksum $s")
    }

    run("unsalted join")(big.join(small, Seq("key")))
    run("salted join (16 buckets)")(
      etl.SkewJoin.saltedJoin(big, small, Seq("key"), saltBuckets = 16,
        saltOn = Some(col("payload"))))
    run("salted join (32 buckets)")(
      etl.SkewJoin.saltedJoin(big, small, Seq("key"), saltBuckets = 32,
        saltOn = Some(col("payload"))))
    spark.stop()
  }
}
