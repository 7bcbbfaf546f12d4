package graft.etl

import graft.ta.SeriesOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multi-file market-data alignment ETL — port of reference
  * `python/polars_quant/backtest/sequential.py:7-93`, Spark-first:
  *
  *   - scan every CSV/Parquet in a directory (schema inferred)
  *   - inject `symbol` from the file stem when the column is absent
  *   - union with `unionByName(allowMissingColumns=true)`
  *     (= Polars `concat(how="diagonal_relaxed")`)
  *   - dates × symbols grid via crossJoin (symbols side broadcast — it is
  *     small by construction; the grid never materializes on the driver)
  *   - left-join the data onto the grid, sort, per-symbol forward/backward/
  *     zero fill via `last/first(ignoreNulls)` windows, then default fill
  *
  * Scale: the shuffles are the distinct()s, the grid join and one
  * repartition of the join output by symbol for the fill windows. That
  * repartition is the series partitioning
  * ([[graft.ta.SeriesOps.bySeries]]): a fixed hash partitioning that
  * adaptive execution does not coalesce, so the fill runs one task per
  * shuffle partition even when the grid is small.
  */
object Align {

  def readDir(spark: SparkSession, folder: String, symbolCol: String = "symbol"): DataFrame = {
    // Hadoop FileSystem, not java.io.File: the directory listing must work
    // wherever Spark can read — HDFS, s3a://, local — a 100 TB corpus does
    // not live on the driver's local disk. Accepts both plain files and
    // Spark-style parquet output directories.
    val dir = new org.apache.hadoop.fs.Path(folder)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = (if (fs.exists(dir)) fs.listStatus(dir) else Array.empty[org.apache.hadoop.fs.FileStatus])
      .filter(st => st.isFile || (st.isDirectory &&
        st.getPath.getName.toLowerCase.matches(".*\\.(parquet|pqt)$")))
      .sortBy(_.getPath.getName)
    val frames = files.flatMap { st =>
      val name = st.getPath.getName.toLowerCase
      val stem = st.getPath.getName.replaceAll("\\.[^.]+$", "")
      val df =
        if (st.isFile && name.endsWith(".csv"))
          Some(spark.read.option("header", "true").option("inferSchema", "true").csv(st.getPath.toString))
        else if (name.endsWith(".parquet") || name.endsWith(".pqt"))
          Some(spark.read.parquet(st.getPath.toString))
        else None
      df.map(d => if (d.columns.contains(symbolCol)) d else d.withColumn(symbolCol, lit(stem)))
    }
    require(frames.nonEmpty, s"No valid CSV or Parquet files found in '$folder'.")
    frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  def prepareSequentialData(spark: SparkSession, folder: String,
                            dateCol: String = "date", symbolCol: String = "symbol",
                            fillNullStrategy: String = "forward",
                            defaultFillValue: Double = 0.0): DataFrame = {
    val master = readDir(spark, folder, symbolCol)
    align(master, dateCol, symbolCol, fillNullStrategy, defaultFillValue)
  }

  /** Grid + fill on an already-loaded long frame. With `sorted = true`
    * (the default, reference-parity presentation) output rows are ordered
    * by (date, symbol) — the final orderBy guarantees it for every fill
    * strategy, including "backward" whose fill window scans descending.
    * That orderBy is a full range exchange + global sort that exists for
    * OUTPUT ORDERING only — the grid and fills are complete without it —
    * and at corpus scale it is the operator's single biggest cost (the
    * #1 line of the sf0.1 bench). Pass `sorted = false` when downstream
    * consumers don't care about row order (joins, aggregations, writes
    * partitioned by symbol): the plan then ends at the fill projection
    * with no global Sort/RangeExchange (plan-pinned in PlanSpec). */
  def align(master: DataFrame, dateCol: String = "date", symbolCol: String = "symbol",
            fillNullStrategy: String = "forward", defaultFillValue: Double = 0.0,
            sorted: Boolean = true): DataFrame = {
    val valueCols = master.columns.filterNot(c => c == dateCol || c == symbolCol).toSeq

    val dates = master.select(dateCol).distinct()
    val symbols = master.select(symbolCol).distinct()
    val grid = dates.crossJoin(broadcast(symbols))
    var aligned = grid.join(master, Seq(dateCol, symbolCol), "left")

    if (valueCols.nonEmpty) {
      // a running last-non-null over the series partitioning of the join
      // output, in the given date order
      def fill(order: Column): DataFrame = {
        val w = Window.partitionBy(symbolCol).orderBy(order)
          .rowsBetween(Window.unboundedPreceding, 0)
        SeriesOps.bySeries(aligned, symbolCol).select(col(dateCol) +: col(symbolCol) +:
          valueCols.map(c => last(col(c), ignoreNulls = true).over(w).as(c)): _*)
      }
      fillNullStrategy match {
        case "forward" => aligned = fill(col(dateCol))
        // backward fill = forward fill over the REVERSED date order. The
        // natural formulation — first(ignoreNulls) over (0,
        // unboundedFollowing) — makes Spark re-scan the remainder of the
        // partition for EVERY row (growing-from-below frames are not
        // maintained incrementally): O(rows²) per symbol, measured 573 s at
        // sf0.1 vs 8.5 s for the forward twin. A running
        // (unboundedPreceding, 0) frame over descending dates is the same
        // value, maintained incrementally — O(rows).
        case "backward" => aligned = fill(col(dateCol).desc)
        case "zero" =>
          aligned = aligned.select(col(dateCol) +: col(symbolCol) +:
            valueCols.map(c => coalesce(col(c), lit(0.0)).as(c)): _*)
        case other => throw new IllegalArgumentException(s"fill strategy: $other")
      }
      aligned = aligned.select(col(dateCol) +: col(symbolCol) +:
        valueCols.map(c => coalesce(col(c), lit(defaultFillValue)).as(c)): _*)
    }
    if (sorted) aligned.orderBy(dateCol, symbolCol) else aligned
  }
}
