package graft.streaming

import org.apache.spark.sql.functions._

/** End-to-end streaming demo: stream the events parquet through a file
  * source into the stateful EMA and the watermarked window rollup, land in
  * memory sinks, print a sample. Usage: runMain graft.streaming.StreamingDemo [sfDir]. */
object StreamingDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Harness.session()

    // stage the events file into its own dir (file source reads a directory)
    val stage = graft.Scratch.dir("graft_stream_in_")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      java.nio.file.Paths.get(stage, "events.parquet"))

    val schema = graft.Tables.table(spark, sfDir, "events").schema // sets nanosAsLong + UTC tz
    val raw = spark.readStream.schema(schema).parquet(stage)

    // ts arrives as nanos-since-epoch long (TIMESTAMP(NANOS) data under
    // nanosAsLong) or as a timestamp type (MICROS data) — windowedStats
    // wants a timestamp column either way
    val tsCol =
      if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
        timestamp_micros((col("ts") / 1000).cast("long"))
      else col("ts").cast("timestamp")
    val events = raw.select(tsCol.as("ts"), col("event_type"), col("value"))
    val winQ = StreamingOps.windowedStats(events, "6 hours", "6 hours", "1 hour")
      .writeStream.format("memory").queryName("win").outputMode("update")
      .option("checkpointLocation",
        graft.Scratch.dir("graft_ck1_")).start()

    val bars = raw.select(
      concat(col("event_type"), lit("_"), (col("user_id") % 16).cast("string")).as("symbol"),
      col("event_id").as("ord"), col("value").as("close"))
    val emaQ = StreamingOps.emaStream(bars, 5)
      .writeStream.format("memory").queryName("ema").outputMode("update")
      .option("checkpointLocation",
        graft.Scratch.dir("graft_ck2_")).start()

    winQ.processAllAvailable(); emaQ.processAllAvailable()
    println("WINDOW_ROWS=" + spark.sql("SELECT count(*) FROM win").head.getLong(0))
    spark.sql("SELECT event_type, window.start, n_events, round(avg_value,2) avg FROM win ORDER BY event_type, window.start").show(8, truncate = false)
    println("EMA_ROWS=" + spark.sql("SELECT count(*) FROM ema").head.getLong(0))
    println("EMA_NONNULL=" + spark.sql("SELECT count(ema) FROM ema").head.getLong(0))
    spark.sql("SELECT * FROM ema WHERE ema IS NOT NULL ORDER BY symbol, ord").show(5)
    winQ.stop(); emaQ.stop(); spark.stop()
  }
}
