package graftbench

import graft.{SparkEntry, Tables}
import graft.bt.{Metrics, Sequential, Vectorized}
import graft.etl.Align
import graft.queries.Present
import graft.ta.{Frames, Kernels, Patterns, Recursive}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Serializable strategy and kernel closures (top-level, so Spark ships
  * no enclosing instance). */
object QuantFns {
  val studies: Seq[(String, Array[Array[Double]] => Array[Double])] = Seq(
    "ema20" -> (a => Kernels.ema(a(3), 20)),
    "ema50" -> (a => Kernels.ema(a(3), 50)),
    "rsi14" -> (a => Kernels.rsi(a(3), 14)),
    "atr14" -> (a => Kernels.atr(a(1), a(2), a(3), 14)))

  /** The signal's studies over a close-only frame. */
  val closeStudies: Seq[(String, Array[Array[Double]] => Array[Double])] = Seq(
    "ema20" -> (a => Kernels.ema(a(0), 20)),
    "ema50" -> (a => Kernels.ema(a(0), 50)),
    "rsi14" -> (a => Kernels.rsi(a(0), 14)))

  /** One, two and three-bar patterns. All 61 in one plan spend ~10 s per
    * pass in planning and code generation at any data size, more than the
    * run's time budget allows. */
  val patterns: Seq[graft.ta.PatternDsl.Pattern] = Seq(
    Patterns.cdldoji, Patterns.cdlhammer, Patterns.cdlengulfing, Patterns.cdlharami,
    Patterns.cdl3whitesoldiers, Patterns.cdlmorningstar)

  /** Per bar and per asset, in sorted asset order: buy 10 after two down
    * closes, sell 10 after two up closes. */
  val momentum: (Array[String], Map[String, Array[Double]]) => (Sequential.OrderContext, Int) => Unit =
    (syms, closes) => (ctx, p) => syms.foreach { s =>
      val c = closes(s)
      if (p >= 2 && c(p) < c(p - 1) && c(p - 1) < c(p - 2)) ctx.buy(s, 10, c(p))
      else if (p >= 2 && c(p) > c(p - 1) && c(p - 1) > c(p - 2)) ctx.sell(s, 10, c(p))
    }

  /** ema20/ema50 cross gated by rsi14, on the driver. */
  def signal(close: Array[Double]): (Array[Boolean], Array[Boolean]) = {
    val e20 = Kernels.ema(close, 20); val e50 = Kernels.ema(close, 50); val r = Kernels.rsi(close, 14)
    val ready = close.indices.map(i => !e50(i).isNaN && !r(i).isNaN)
    (close.indices.map(i => ready(i) && e20(i) > e50(i) && r(i) < 70).toArray,
      close.indices.map(i => ready(i) && (e20(i) < e50(i) || r(i) > 80)).toArray)
  }
}

/** The quant stack over the bars graft derives from an `events` table:
  * recurrences, window studies, patterns, a vectorized backtest, the
  * alignment ETL and a multi-portfolio event-driven backtest. The reads
  * are registry queries (graft.SparkEntry.queries), each materialized
  * with the noop sink as graft.Bench does; the warm-up pass writes their
  * outputs instead, and run.py compares those with the DuckDB oracle. */
final class QuantUniverse extends Workload {
  private var q: Gen.Quant = _
  private var sparse: Map[String, Map[Long, Double]] = Map.empty
  private val sampled = Seq("click_0", "purchase_7", "view_15")

  /** A window study, a recurrence and a candlestick pattern from the
    * registry. The cycle, backtest and chunked entries' DuckDB oracles
    * (recursive CTEs) take 12–23 s each, more than a run can spend. */
  val catalog: Seq[String] = Seq("sma_20", "rsi_14", "cdlengulfing")

  def generate(spark: SparkSession, dir: String, seed: Long): Unit = {
    q = Gen.quant(spark, dir, seed)
    sparse = spark.read.parquet(s"$dir/universe.parquet").collect()
      .groupBy(_.getString(0)).map { case (s, rs) => s -> rs.map(r => r.getLong(1) -> r.getDouble(2)).toMap }
  }

  override def prepare(ctx: Ctx): Unit = {
    val oracle = SparkEntry.oracleSql
    Files.createDirectories(Paths.get(s"${ctx.work}/oracle"))
    Files.writeString(Paths.get(s"${ctx.work}/oracle/oracle_sql.json"),
      Json.obj(catalog.map(n => n -> oracle(n))))
  }

  private def same(a: Double, b: Double): Boolean = (a.isNaN && b.isNaN) || a == b

  /** Forward-filled closes on the universe's bar grid, 0.0 before a
    * symbol's first bar (Align's forward + default fill). */
  private def alignedCloses(sym: String, grid: Array[Long]): Array[Double] = {
    var last = Double.NaN
    grid.map { t => sparse(sym).get(t).foreach(last = _); if (last.isNaN) 0.0 else last }
  }

  def pass(ctx: Ctx): Unit = {
    val spark = ctx.spark
    implicit val w = Window.partitionBy("symbol").orderBy("ord")
    val bars = Tables.bars(spark, ctx.dir)
    val universe = spark.read.parquet(s"${ctx.dir}/universe.parquet")
    val membership = spark.read.parquet(s"${ctx.dir}/membership.parquet")
    val aligned = s"${ctx.work}/stage/aligned"

    ctx.op("ta.overseries") {
      Workload.noop(Recursive.multi(bars, Seq("open", "high", "low", "close"), QuantFns.studies))
      () => true
    }
    ctx.op("ta.frames") {
      Workload.noop(bars.select(col("symbol"), col("ord"),
        Frames.sma(col("close"), 20).as("sma20"),
        Frames.bbandsUpper(col("close"), 20, 2.0).as("bb_up"),
        Frames.bbandsLower(col("close"), 20, 2.0).as("bb_lo")))
      () => true
    }
    ctx.op("ta.patterns") {
      Workload.noop(bars.select(col("symbol") +: col("ord") +: QuantFns.patterns.map(_.column): _*))
      () => true
    }
    ctx.op("bt.vectorized") {
      val sig = Recursive.multi(bars, Seq("close"), QuantFns.closeStudies)
        .select(col("symbol"), col("ord"), col("close").as("price"),
          (!isnan(col("ema50")) && !isnan(col("rsi14")) && col("ema20") > col("ema50") &&
            col("rsi14") < 70).as("buy_sig"),
          (!isnan(col("ema50")) && !isnan(col("rsi14")) &&
            (col("ema20") < col("ema50") || col("rsi14") > 80)).as("sell_sig"))
      val rows = Vectorized.summaryVsPrice(sig).collect().map(r => r.getString(0) -> r).toMap
      () => rows.size == Gen.Series && sampled.forall { s =>
        val close = q.closes(s)
        val (buys, sells) = QuantFns.signal(close)
        val cfg = Vectorized.Config()
        val r = Vectorized.runSeries(close, buys, sells, cfg)
        val m = Metrics.summary(r.equity, close, cfg.initialCapital, r.trades, r.wins)
        Metrics.columns.zipWithIndex.forall { case (c, j) => same(rows(s).getDouble(j + 1), m(c)) }
      }
    }
    ctx.op("etl.align") {
      Align.align(universe, dateCol = "ord", sorted = false).write.mode("overwrite").parquet(aligned)
      () => {
        val agg = spark.read.parquet(aligned).agg(count(lit(1)), sum("close")).collect().head
        val grid = sparse.values.flatMap(_.keys).toArray.distinct.sorted
        val expect = sparse.keys.toSeq.sorted.map(alignedCloses(_, grid).sum).sum
        agg.getLong(0) == grid.length.toLong * sparse.size &&
          math.abs(agg.getDouble(1) - expect) <= 1e-9 * math.abs(expect)
      }
    }
    ctx.op("bt.sequential") {
      val input = spark.read.parquet(aligned).join(broadcast(membership), "symbol")
        .select("portfolio", "symbol", "ord", "close")
      val finals = Sequential.runPortfolios(input, QuantFns.momentum)
        .groupBy("portfolio").agg(max_by(col("equity"), col("ord")).as("equity"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      () => {
        val grid = sparse.values.flatMap(_.keys).toArray.distinct.sorted
        finals.size == Gen.Portfolios && Seq("P00", "P05").forall { p =>
          val syms = q.membership.filter(_._1 == p).map(_._2).distinct.sorted
          val closes = syms.map(s => s -> alignedCloses(s, grid)).toMap
          same(finals(p), Sequential.run(grid.length, QuantFns.momentum(syms, closes)).equity.last)
        }
      }
    }
    // reads: registry queries; the warm-up pass dumps them for the oracle
    val queries = SparkEntry.queries
    catalog.foreach { name =>
      ctx.op("queries", "read", name) {
        val b0 = System.nanoTime()
        val df = queries(name)(spark, ctx.dir)
        ctx.note("build_ms", (System.nanoTime() - b0) / 1e6)
        if (ctx.pass < 0) df.coalesce(1).write.mode("overwrite").parquet(s"${ctx.work}/oracle/$name")
        else Workload.noop(df)
        () => true
      }
      Present.releaseBarriers()
    }
  }
}
