package graft.etl

import graft.ta.SeriesFold
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BindReferences, GenericInternalRow,
  InterpretedUnsafeProjection}
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
  *   - left-join the data onto the grid, then per-symbol forward/backward
  *     fill (the last non-null value per column in date order) and the
  *     default fill in one pass of the series fold
  *     ([[graft.ta.SeriesFold]], not a window), or the zero fill as a
  *     projection
  *
  * Scale: the shuffles are the distinct()s, the grid join and one
  * repartition of the join output by symbol for the fill. That
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
    * strategy, including "backward" whose fill scans descending.
    * That orderBy is a full range exchange + global sort that exists for
    * OUTPUT ORDERING only — the grid and fills are complete without it —
    * and at corpus scale it is the operator's single biggest cost (the
    * #1 line of the sf0.1 bench). Pass `sorted = false` when downstream
    * consumers don't care about row order (joins, aggregations, writes
    * partitioned by symbol): the plan then ends at the fill
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
      def coalesced(v: Double) = aligned.select(col(dateCol) +: col(symbolCol) +:
        valueCols.map(c => coalesce(col(c), lit(v)).as(c)): _*)
      aligned = fillNullStrategy match {
        case "zero" => coalesced(0.0)
        // each value column's last non-null value over the series in date
        // order (backward = forward over descending dates), then the
        // default fill, in one pass of the series fold
        case "forward" | "backward" =>
          val out = coalesced(defaultFillValue)
          val exprs = out.queryExecution.analyzed.expressions
            .map(BindReferences.bindReference(_, aligned.queryExecution.analyzed.output))
          val types = aligned.schema.map(_.dataType).toArray
          SeriesFold(aligned, symbolCol, dateCol, Seq(dateCol, symbolCol), out.schema.drop(2),
            descending = fillNullStrategy == "backward") { () =>
            val project = InterpretedUnsafeProjection.createProjection(exprs)
            (_, rows) => {
              val last = new GenericInternalRow(types.length)
              rows.iterator.map { r => // date and symbol lead the join output
                var j = 0
                while (j < types.length) {
                  if (j < 2 || !r.isNullAt(j)) last.update(j, r.get(j, types(j)))
                  j += 1
                }
                project(last)
              }
            }
          }
        case other => throw new IllegalArgumentException(s"fill strategy: $other")
      }
    }
    if (sorted) aligned.orderBy(dateCol, symbolCol) else aligned
  }
}
