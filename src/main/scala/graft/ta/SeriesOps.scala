package graft.ta

import org.apache.spark.sql.{DataFrame, Encoders, KeyValueGroupedDataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Generic distributed executor for per-series recurrence kernels.
  *
  * `overSeries` groups the frame by `symbol`, sorts each group by `ord`,
  * hands the input columns to an array kernel, and emits
  * `(symbol, ord, outCols…)` rows. This is the idiomatic Spark shape for
  * order-dependent state machines (SURVEY.md §7.2): one shuffle on the
  * series key, then embarrassingly parallel sequential folds.
  *
  * Partitioning contract: the typed per-series stages in graft (this
  * fold, [[graft.bt.Vectorized]], [[graft.bt.Sequential.runPortfolios]])
  * and the [[graft.etl.Align]] fill window run on [[bySeries]]'s
  * partitioning, a fixed hash partitioning on the series key into the
  * session's shuffle partition count. Adaptive execution never coalesces
  * such a repartition, so a small universe still runs one task per core
  * rather than one task in all (AQE will not make a coalesced partition
  * smaller than `coalescePartitions.minPartitionSize`, 1 MB). A frame
  * that is already partitioned that way is not shuffled again: the
  * planner drops a repartition whose child already has the same hash
  * partitioning. The sources ([[graft.Tables.series]]/`bars`) carry no
  * partitioning, so a reader that never groups by series pays no
  * shuffle, and Column windows keep Spark's own window exchange. The
  * typed folds group on the key COLUMN ([[groupsBySeries]]), not on a
  * key lambda, so no `AppendColumns` deserializes each row just to read
  * its key, and the grouping reuses the series exchange. A literal key
  * (e.g. `lit("p0")` as the portfolio) is one series: the optimizer
  * would fold it into the repartition, which the grouping cannot reuse,
  * so [[groupsBySeries]] leaves the grouping's own exchange as the only
  * one.
  *
  * Scale: one series' full history is materialized on one executor —
  * correct for daily/bar-level data (thousands of rows per key, millions of
  * keys on a cluster). For tick-scale series that exceed executor memory,
  * the documented hardening path is `repartitionByRange(symbol, ord)` +
  * `mapPartitions` with carried state across chunk boundaries.
  */
object SeriesOps {

  /** Hard cap on rows materialized per series inside one task (~50M rows
    * ≈ a few GB of doubles — a comfortable executor working set). */
  val MaxRowsPerSeries: Int = 50_000_000

  /** The series partitioning: `df` hash-partitioned on `key` into the
    * partition count Spark's own exchanges start from
    * (`SQLConf.numShufflePartitions`: `spark.sql.shuffle.partitions`, or
    * AQE's initial partition number when one is set). */
  def bySeries(df: DataFrame, key: String): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, col(key))

  /** [[bySeries]], grouped on the (string) `key` column itself; each
    * group's values are `df`'s full rows, key included. */
  def groupsBySeries(df: DataFrame, key: String): KeyValueGroupedDataset[String, Row] =
    (if (literalKey(df, key)) df else bySeries(df, key))
      .groupBy(col(key)).as[String, Row](Encoders.STRING, Encoders.row(df.schema))

  /** Whether `key` is a literal in `df`'s analyzed plan: its alias, read
    * through projections and casts, has a foldable child. */
  private def literalKey(df: DataFrame, key: String): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Cast, Expression}
    val plan = df.queryExecution.analyzed
    val aliases = plan.flatMap(_.expressions).collect { case a: Alias => a.exprId -> a.child }.toMap
    def literal(e: Expression): Boolean = e match {
      case Cast(c, _, _, _) => literal(c)
      case a: Attribute => aliases.get(a.exprId).exists(literal)
      case _ => e.foldable
    }
    plan.output.find(_.name == key).exists(literal)
  }

  /** @param df   input with `symbol` (string), `ord` (castable to long) and `in` numeric columns
    * @param in   input column names fed to the kernel (cast to double; null → NaN)
    * @param out  output column names
    * @param f    kernel: per-series column arrays → output column arrays (NaN → null)
    *
    * Input columns are CARRIED THROUGH to the output (distinct names, in
    * order), so computing an indicator does not force a join back to the
    * source frame — the round-1 design cost k shuffles + k joins for k
    * indicators; this costs one shuffle total and zero joins.
    */
  def overSeries(df: DataFrame, in: Seq[String], out: Seq[String])
                (f: Array[Array[Double]] => Array[Array[Double]]): DataFrame = {
    val carried = in.distinct
    val proj = df.select(
      col("symbol").cast(StringType) +:
      col("ord").cast(LongType) +:
      carried.map(c => col(c).cast(DoubleType)): _*)
    val outSchema = StructType(
      StructField("symbol", StringType) ::
      StructField("ord", LongType) ::
      (carried.toList ++ out.toList).map(StructField(_, DoubleType)))
    val inIdx = in.map(c => carried.indexOf(c) + 2)
    groupsBySeries(proj, "symbol")
      .flatMapGroups { (sym: String, it: Iterator[Row]) =>
        val rows = it.toArray
        // One series' history is materialized on one executor. Guard the
        // assumption instead of OOMing opaquely: beyond this bound, run the
        // kernel's step form through overSeriesChunked (state carried
        // across bounded chunks — same results, bounded working set), or
        // use the streaming layer / coarser bars.
        require(rows.length <= MaxRowsPerSeries,
          s"series '$sym' has ${rows.length} rows (> $MaxRowsPerSeries); " +
            "use SeriesOps.overSeriesChunked (or overSeriesAuto) with the " +
            "kernel's Chunked.StepKernel form for unbounded series")
        java.util.Arrays.sort(rows, Ordering.by((r: Row) => r.getLong(1)))
        val ins = inIdx.toArray.map { j =>
          Array.tabulate(rows.length) { i =>
            if (rows(i).isNullAt(j)) Double.NaN else rows(i).getDouble(j)
          }
        }
        val outs = f(ins)
        require(outs.length == out.length, s"kernel returned ${outs.length} cols, expected ${out.length}")
        rows.indices.iterator.map { i =>
          Row.fromSeq(
            sym +: rows(i).getLong(1) +:
            (carried.indices.map(j => if (rows(i).isNullAt(j + 2)) null else rows(i).getDouble(j + 2)) ++
             outs.indices.map(j => if (java.lang.Double.isNaN(outs(j)(i))) null else outs(j)(i))))
        }
      }(Encoders.row(outSchema))
  }

  /** Chunked-state executor for UNBOUNDED series: the same per-series
    * recurrence as [[overSeries]], but one task never materializes more
    * than `chunkRows` rows of a series. The kernel's scan state
    * ([[Chunked.StepKernel]] — the loop variables of the array kernel) is
    * carried across chunk boundaries the way the streaming twins carry it
    * across micro-batches, so outputs are bit-identical to `overSeries`
    * (parity-pinned in ChunkedSpec).
    *
    * Execution shape (the 100 TB story):
    *   1. one pass assigns each row its per-series chunk index
    *      (`(row_number − 1) div chunkRows` — the row_number window is a
    *      streaming running count, spill-backed, never an in-memory
    *      materialization) and writes the corpus to scratch parquet
    *      partitioned by chunk (session-scoped temp dir, removed on JVM
    *      exit, unless the caller owns `scratchDir`);
    *   2. a sequential STATE loop: chunk k runs one partition-pruned,
    *      state-only pass (the same fold, outputs discarded) that
    *      cogroups the chunk's rows with the PREVIOUS chunk's exit-state
    *      parquet by series and writes this chunk's (entry, exit) states
    *      back to scratch — state never touches the driver, so the loop
    *      carries O(#series) vectors in executor/parquet space, not
    *      driver memory (a series' chunk indices are contiguous from 0,
    *      so "exit of chunk k−1" covers every series present in chunk k);
    *   3. ONE parallel output pass over the whole staged corpus,
    *      cogrouped with the union of the per-chunk entry-state files on
    *      (series, chunk): every group replays its rows from its recorded
    *      entry state. Unlike the state loop, chunks here are independent
    *      — the pass parallelizes over series × chunks.
    *
    * Nothing is collected and no N-way union of row data is built: the
    * result is one cogroup over one shuffle of the staged corpus plus a
    * shuffle of the state rows (O(non-empty (series, chunk) pairs) tiny
    * array rows). Driver footprint is O(#chunks) path strings — many
    * short series are as safe as one long one. Within a series the
    * recurrence is inherently sequential, so the state loop cannot
    * overlap chunks; the output pass has no such constraint, which is
    * where the parallelism comes back.
    *
    * `ord` must be unique per series (same contract as overSeries: ties
    * would make the scan order ambiguous).
    */
  def overSeriesChunked(df: DataFrame, in: Seq[String], out: Seq[String],
                        kernel: Chunked.StepKernel, chunkRows: Int,
                        scratchDir: Option[String] = None): DataFrame = {
    require(chunkRows > 0, "chunkRows must be positive")
    require(kernel.numInputs == in.length && kernel.numOutputs == out.length,
      s"kernel is ${kernel.numInputs}→${kernel.numOutputs}, got ${in.length}→${out.length} columns")
    val spark = df.sparkSession
    val carried = in.distinct
    val inIdx = in.map(c => carried.indexOf(c) + 2).toArray
    val proj = df.select(
      col("symbol").cast(StringType) +:
      col("ord").cast(LongType) +:
      carried.map(c => col(c).cast(DoubleType)): _*)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("symbol").orderBy("ord")
    // the returned frame is lazy, so the staged copy must outlive this
    // call: a caller-less scratch dir is deleted at JVM exit
    val scratch = scratchDir.getOrElse(graft.Scratch.dir("graft_chunked_"))
    val dataDir = s"$scratch/data"
    proj.withColumn("__chunk",
        ((row_number().over(w) - 1) / chunkRows).cast(IntegerType))
      .write.mode("overwrite").partitionBy("__chunk").parquet(dataDir)
    val staged = spark.read.parquet(dataDir)
    val chunkIds = staged.select("__chunk").distinct()
      .collect().map(_.getInt(0)).sorted
    val outSchema = StructType(
      StructField("symbol", StringType) ::
      StructField("ord", LongType) ::
      (carried.toList ++ out.toList).map(StructField(_, DoubleType)))
    if (chunkIds.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], outSchema)

    /** Fold one series' chunk rows (sorted by ord) from `st`, optionally
      * emitting output rows; returns the exit state. */
    def foldRows(rows: Array[Row], st: Array[Double],
                 emit: Boolean): Iterator[Row] = {
      java.util.Arrays.sort(rows, Ordering.by((r: Row) => r.getLong(1)))
      val inBuf = new Array[Double](inIdx.length)
      val it = rows.iterator.map { r =>
        var j = 0
        while (j < inIdx.length) {
          inBuf(j) = if (r.isNullAt(inIdx(j))) Double.NaN else r.getDouble(inIdx(j))
          j += 1
        }
        val o = kernel.step(st, inBuf)
        if (emit)
          Row.fromSeq(
            r.getString(0) +: r.getLong(1) +:
            (carried.indices.map(c => if (r.isNullAt(c + 2)) null else r.getDouble(c + 2)) ++
             o.indices.map(c => if (java.lang.Double.isNaN(o(c))) null else o(c))))
        else null
      }
      if (emit) it else { it.foreach(_ => ()); Iterator.empty }
    }

    // ---- phase 2: sequential state-only loop, state kept distributed ----
    // each chunk's pass cogroups the chunk's rows with the previous
    // chunk's exit-state parquet by series and writes (symbol, entry,
    // exit, __chunk) back to scratch: no collect, no driver-side map —
    // per-chunk parquet also cuts the lineage, so the loop's plan depth
    // stays O(1) per chunk
    val stateSchema = StructType(Seq(
      StructField("symbol", StringType),
      StructField("entry", ArrayType(DoubleType, containsNull = false)),
      StructField("exit", ArrayType(DoubleType, containsNull = false)),
      StructField("__chunk", IntegerType)))
    def stateDir(k: Int) = s"$scratch/state/$k"
    var prevExit: DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("symbol", StringType),
        StructField("exit", ArrayType(DoubleType, containsNull = false)))))
    for (k <- chunkIds) {
      staged.where(col("__chunk") === k)                           // partition-pruned
        .select("symbol", ("ord" +: carried): _*)
        .groupByKey(_.getString(0))(Encoders.STRING)
        .cogroup(prevExit.groupByKey(_.getString(0))(Encoders.STRING)) {
          (sym: String, rowsIt: Iterator[Row], prevIt: Iterator[Row]) =>
            val rows = rowsIt.toArray
            if (rows.isEmpty) Iterator.empty // series ended before this chunk
            else {
              val entry = prevIt.nextOption().map(_.getSeq[Double](1).toArray)
                .getOrElse(kernel.init())
              val st = entry.clone()
              foldRows(rows, st, emit = false)
              Iterator.single(Row(sym, entry.toSeq, st.toSeq, k))
            }
        }(Encoders.row(stateSchema))
        .write.mode("overwrite").parquet(stateDir(k))
      prevExit = spark.read.parquet(stateDir(k)).select("symbol", "exit")
    }

    // ---- phase 3: one parallel output pass over all (series, chunk) ----
    // the staged corpus cogroups with the union of the per-chunk entry
    // states on (chunk, symbol): the state side is O(non-empty pairs)
    // tiny rows shuffled alongside the one corpus shuffle — nothing is
    // broadcast, so a corpus of millions of short series costs the same
    // driver memory as one long series
    val entries = spark.read.parquet(chunkIds.map(stateDir): _*)
      .select(col("__chunk"), col("symbol"), col("entry"))
    val chunkIdx = 2 + carried.length
    val keyEnc = Encoders.tuple(Encoders.scalaInt, Encoders.STRING)
    staged.select(col("symbol") +: col("ord") +: carried.map(col) :+ col("__chunk"): _*)
      .groupByKey(r => (r.getInt(chunkIdx), r.getString(0)))(keyEnc)
      .cogroup(entries.groupByKey(r => (r.getInt(0), r.getString(1)))(keyEnc)) {
        (key: (Int, String), rowsIt: Iterator[Row], entryIt: Iterator[Row]) =>
          val rows = rowsIt.toArray
          if (rows.isEmpty) Iterator.empty
          else {
            require(entryIt.hasNext, s"missing entry state for $key")
            val st = entryIt.next().getSeq[Double](2).toArray
            foldRows(rows, st, emit = true)
          }
      }(Encoders.row(outSchema))
  }

  /** Size-aware dispatch: run the whole-series executor when every series
    * fits one task's working set, otherwise fall back to the chunked-state
    * path. The sizing probe is one partial-aggregated count per series —
    * cheap next to the recurrence itself, and only paid when the caller
    * opts into auto mode. */
  def overSeriesAuto(df: DataFrame, in: Seq[String], out: Seq[String],
                     kernel: Chunked.StepKernel,
                     maxRows: Int = MaxRowsPerSeries,
                     chunkRows: Int = 10_000_000,
                     scratchDir: Option[String] = None)
                    (f: Array[Array[Double]] => Array[Array[Double]]): DataFrame = {
    // empty input → max() is null; an empty frame trivially fits the
    // whole-series path
    val row = df.groupBy("symbol").count().agg(max("count")).head()
    val longest = if (row.isNullAt(0)) 0L else row.getLong(0)
    if (longest <= maxRows) overSeries(df, in, out)(f)
    else overSeriesChunked(df, in, out, kernel, chunkRows, scratchDir)
  }
}
