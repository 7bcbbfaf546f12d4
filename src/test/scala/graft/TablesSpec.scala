package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Tables.eventsNs must deliver BIGINT nanos whatever timestamp unit the
  * driver's parquet writer chose — the round-10 testdata regen flipped
  * TIMESTAMP(NANOS) to TIMESTAMP(MICROS) and broke every raw `ts div`
  * consumer at bench time, which is exactly the drift this pins. */
class TablesSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .appName("graft-tables-test").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def stage(df: org.apache.spark.sql.DataFrame): String = {
    val dir = Scratch.dir("graft_tables_spec_")
    // Tables.table reads $dir/events.parquet — a directory named like the
    // driver's single-file layout works identically through the Hadoop FS
    df.repartition(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("eventsNs converts a timestamp-typed ts to epoch nanos (UTC)") {
    val micros = Seq(0L, 1_000_000L, 1_700_000_000_123_456L)
    val dir = stage(spark.range(micros.length).select(
      col("id").as("event_id"),
      expr(s"timestamp_micros(element_at(array(${micros.mkString(",")}), cast(id+1 as int)))").as("ts"),
      (col("id") % 3).as("user_id")))
    val out = Tables.eventsNs(spark, dir)
    assert(out.schema("ts").dataType == org.apache.spark.sql.types.LongType)
    val got = out.orderBy("event_id").select("ts").collect().map(_.getLong(0)).toSeq
    assert(got == micros.map(_ * 1000L),
      "nanos must be micros*1000 under the UTC session tz, whatever TZ the host runs")
  }

  test("eventsNs passes a long ts through untouched") {
    val dir = stage(spark.range(4).select(
      col("id").as("event_id"), (col("id") * 1_000_000_007L).as("ts")))
    val out = Tables.eventsNs(spark, dir)
    assert(out.schema("ts").dataType == org.apache.spark.sql.types.LongType)
    assert(out.orderBy("event_id").select("ts").collect().map(_.getLong(0)).toSeq ==
      (0 until 4).map(_ * 1_000_000_007L))
  }

  /** Tables.series against the same projection over an inferred-schema
    * read of `dir`: same schema, same rows. */
  private def assertSeriesMatchesInferred(dir: String): Unit = {
    val declared = Tables.series(spark, dir)
    val inferred = spark.read.parquet(s"$dir/events.parquet").select(
      concat(col("event_type"), lit("_"),
        (col("user_id") % Tables.SymbolBuckets).cast("string")).as("symbol"),
      col("event_id").as("ord"), col("value").as("close"))
    assert(declared.schema == inferred.schema)
    assert(declared.orderBy("ord").collect().toSeq == inferred.orderBy("ord").collect().toSeq)
  }

  test("series' declared-schema read equals the inferred-schema read, rows and types") {
    // an events table in the testdata layout (all six columns, the
    // declared four among them, spread over two files)
    val dir = Scratch.dir("graft_tables_spec_")
    spark.range(0, 300, 1, 2).select(
      col("id").as("event_id"),
      expr("timestamp_micros(1700000000000000 + id * 1000)").as("ts"),
      (col("id") * 37 % 101).as("user_id"),
      element_at(array(Seq("click", "view", "buy", "cart", "search").map(lit): _*),
        (col("id") % 5 + 1).cast("int")).as("event_type"),
      (col("id") * 0.37 + 1.0).as("value"),
      lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assertSeriesMatchesInferred(dir)
    // the session-conf side effects Tables.table applies still happen
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    Tables.series(spark, dir)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("series' declared-schema read equals the inferred-schema read on the sf0.001 dataset") {
    // the generated dataset, not a file staged in the declared types:
    // SPARK_GRAFT_TESTDATA names the directory holding the sf* dirs
    val dir = sys.env.get("SPARK_GRAFT_TESTDATA").map(_ + "/sf0.001")
    assume(dir.exists(d => new java.io.File(s"$d/events.parquet").exists),
      "SPARK_GRAFT_TESTDATA unset or without sf0.001/events.parquet")
    assertSeriesMatchesInferred(dir.get)
  }
}
