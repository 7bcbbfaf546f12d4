package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Readers for the driver test tables (TESTDATA.md) plus the canonical
  * long-format OHLCV bar frame derived deterministically from `events`.
  *
  * Data convention for the whole TA library (SURVEY.md §1): long format
  * `(symbol: String, ord: Long, open, high, low, close, volume: Double)`.
  * `ord` is any monotonically increasing per-symbol sort key; for the
  * driver tables we use `event_id`, which is globally ordered by `ts`
  * (verified on every scale factor), avoiding cross-engine timestamp
  * precision issues (events.ts is nanosecond parquet).
  *
  * Scale notes (100 TB design): all per-series operators partition by
  * `symbol`, so Spark parallelizes across series natively. [[series]] and
  * [[bars]] themselves are a scan plus per-row projections, with no
  * shuffle: each per-series operator brings its own exchange. The typed
  * folds and the Align fill use the series partitioning
  * ([[graft.ta.SeriesOps.bySeries]], a fixed hash partitioning that
  * adaptive execution does not coalesce); Column windows use the
  * window's own exchange, one per distinct window partitioning in a
  * plan. A reader that never partitions by `symbol` (a grid or as-of
  * join, a `limit(1)` warm-up) scans without shuffling.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    pinSessionConf(spark)
    spark.read.parquet(s"$dir/$name.parquet")
  }

  private def pinSessionConf(spark: SparkSession): Unit = {
    // Some driver datasets write events.ts as TIMESTAMP(NANOS); Spark 4
    // rejects that unless mapped to long. Runtime-settable, and set here
    // (not only in our mains) because the driver smoke-runs entry() with
    // its own SparkSession. Session tz pinned to UTC so a TIMESTAMP_NTZ →
    // TIMESTAMP cast (eventsNs) is a deterministic identity on the wall
    // clock — the same convention DuckDB's epoch_ns applies to naive
    // timestamps, so both engines agree on the epoch value.
    // NOTE: this mutates SESSION-GLOBAL state on every table read — a
    // deliberate repo-wide convention (every query in this library is
    // tz-invariant or assumes UTC); callers embedding this library next
    // to session-tz-dependent code should set their tz after, not
    // before, the first table() call.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  /** The events table with `ts` normalized to BIGINT nanoseconds since
    * epoch, whatever the parquet writer chose: TIMESTAMP(NANOS) arrives as
    * long already (nanosAsLong); TIMESTAMP(MICROS/MILLIS) arrives as a
    * timestamp type and is converted via unix_micros under the UTC session
    * tz. Every downstream consumer (sessionization, hourly rollup, the
    * DuckDB oracles via epoch_ns) works in integral nanos, so all gap /
    * bucket arithmetic is exact and engine-portable. The conversion is a
    * per-row projection — nothing about pushdown or partitioning changes.
    */
  def eventsNs(spark: SparkSession, dir: String): DataFrame = {
    val df = table(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _ => df.withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000"))
    }
  }

  /** Number of user-hash buckets folded into the series key. 80 series
    * (5 event types × 16 buckets) at every scale factor — enough to keep
    * local[32] saturated; on a real cluster the key would be an actual
    * instrument id with unbounded cardinality, which this layout models.
    */
  val SymbolBuckets = 16

  /** events projected to (symbol, ord, close).
    *
    * The series key is `event_type × (user_id mod 16)`, NOT bare
    * `event_type`: event_type has cardinality 5, which would cap every
    * window/groupByKey plan at 5-way parallelism forever (the round-1
    * scale-killer). The DuckDB oracle (Sql.bars) mirrors this derivation
    * exactly.
    *
    * The four columns it reads are read with a declared schema (their
    * types at every scale factor), so building a series plan launches no
    * schema-inference job; the session conf is pinned as in [[table]].
    * Those four types are part of the input contract: a file column
    * Parquet can widen to its declared type (INT32 to BIGINT, FLOAT to
    * DOUBLE) still reads, but one it cannot (a DECIMAL `value`, a
    * STRING `user_id`) fails at read time, where an inferred read
    * would have accepted it.
    *
    * The frame carries no partitioning (see the scale notes above).
    */
  def series(spark: SparkSession, dir: String): DataFrame = {
    pinSessionConf(spark)
    spark.read.schema(SeriesColumns).parquet(s"$dir/events.parquet").select(
      concat(col("event_type"), lit("_"),
        (col("user_id") % SymbolBuckets).cast("string")).as("symbol"),
      col("event_id").as("ord"),
      col("value").as("close"))
  }

  /** The `events` columns [[series]] reads. */
  private val SeriesColumns = "event_type STRING, user_id BIGINT, event_id BIGINT, value DOUBLE"

  /** Deterministic synthetic OHLCV bars from `events` — the shared input of
    * every indicator query. Body, upper/lower shadow, and open gap are
    * deterministic pseudo-random functions of `ord` (co-prime multipliers),
    * chosen so every candlestick-shape class occurs: dojis (|body| ≤ 0.25%),
    * long bodies (up to ±20%), zero and long shadows, and up/down gaps
    * versus the (i.i.d.) previous close. The DuckDB oracle (Sql.bars)
    * recomputes the identical derivation with the same IEEE expression
    * structure, so comparisons are bit-exact.
    */
  def bars(spark: SparkSession, dir: String): DataFrame = {
    // Prime denominators keep derived prices non-terminating in decimal, so
    // round(x, 6) never lands on an exact half — Spark (BigDecimal HALF_UP on
    // the binary expansion) and DuckDB (scaled multiply) disagree there.
    val g  = (col("ord") * 7919 % 4000 - 2000).cast("double") / 9973.0  // body ±20%
    val us = (col("ord") * 104729 % 7).cast("double") / 401.0           // upper shadow 0–1.5%
    val ls = (col("ord") * 15485863 % 5).cast("double") / 499.0         // lower shadow 0–0.8%
    val open = col("close") * (lit(1.0) + g)
    // one projection, not a withColumn chain: each withColumn re-analyzes
    // the whole plan, ~10 ms apiece at build time
    series(spark, dir).select(col("*"),
      open.as("open"),
      (greatest(open, col("close")) * (lit(1.0) + us)).as("high"),
      (least(open, col("close")) * (lit(1.0) - ls)).as("low"),
      (col("ord") % 1000 + 10).cast("double").as("volume"))
  }

  def documents(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")

  def embeddings(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "embeddings")
}
