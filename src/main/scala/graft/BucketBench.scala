package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Evidence harness for Bucketing: the same fact⋈dim join executed over
  * plain parquet (both sides hash-exchange at query time) vs bucketed
  * tables (co-located scan, zero exchange), measuring wall time AND the
  * actual shuffle bytes written, task-metrics-truthful.
  *
  * The shuffle-bytes number is the one that matters at 100 TB: the plain
  * join re-shuffles the full fact table on EVERY query that joins on the
  * key, while the bucketed layout paid one exchange at write time and
  * then reads co-located buckets forever. Broadcast is off — the modeled
  * dim is a few-GB table that won't broadcast.
  *
  * Results are recorded in BASELINE.md (round 10).
  */
object BucketBench {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          shuffleBytes.addAndGet(te.taskMetrics.shuffleWriteMetrics.bytesWritten)
    })
    // TaskEnd events ride the async listener bus; poll until the counter
    // stops moving before reading it (same discipline as SkewBench).
    def drained(): Long = {
      var last = -1L; var stable = 0; var waited = 0
      while (stable < 3 && waited < 3000) {
        Thread.sleep(100); waited += 100
        val cur = shuffleBytes.get()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
      shuffleBytes.get()
    }

    val n = args.headOption.map(_.toLong).getOrElse(20_000_000L)
    val users = 100_000L
    val base = Scratch.dir("graft_bktbench_")
    val fact = spark.range(n).select(col("id").as("event_id"),
      (col("id") % users).as("user_id"), (col("id") % 997).cast("double").as("value"))
    val dim = spark.range(users).select(col("id").as("user_id"),
      (col("id") * 3).as("dimv"))

    // plain layout: parquet with no bucket metadata
    fact.write.mode("overwrite").parquet(s"$base/fact_plain")
    dim.write.mode("overwrite").parquet(s"$base/dim_plain")
    // bucketed layout: one write-side exchange, then co-located forever
    etl.Bucketing.writeBucketed(fact, "bb_fact", s"$base/fact_bkt", "user_id", 32, Some("user_id"))
    etl.Bucketing.writeBucketed(dim, "bb_dim", s"$base/dim_bkt", "user_id", 32, Some("user_id"))

    def run(what: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      df.select(sum(col("value") + col("dimv"))).collect() // warm-up
      drained(); shuffleBytes.set(0)
      val t0 = System.nanoTime()
      val s = df.select(sum(col("value") + col("dimv"))).collect()(0).getDouble(0)
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"[bucket] $what%-24s wall ${wall}%6.2f s   shuffle-write ${drained() / 1e6}%8.2f MB   checksum $s%.3f")
    }

    run("plain parquet join") {
      spark.read.parquet(s"$base/fact_plain")
        .join(spark.read.parquet(s"$base/dim_plain"), Seq("user_id"))
    }
    run("bucketed join") {
      etl.Bucketing.bucketedJoin(spark, "bb_fact", "bb_dim", Seq("user_id"))
    }
    spark.stop()
  }
}
