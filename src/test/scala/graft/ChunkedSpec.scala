package graft

import graft.ta.{Chunked, Cycle, Kernels, SeriesOps}
import org.scalatest.funsuite.AnyFunSuite

/** Parity pin for the chunked-state executor: a series forced through
  * many small chunks must produce BIT-IDENTICAL results to the
  * whole-series overSeries scan — same nulls, same doubles — for the
  * flagship recursive kernels (EMA, RSI, ATR). This is the contract that
  * makes overSeriesChunked a legitimate escape hatch for series longer
  * than one executor's working set.
  */
class ChunkedSpec extends AnyFunSuite with SparkSuite {
  /** 3 symbols × 1200 rows of deterministic pseudo-random OHLC with
    * interior nulls (every 97th close, every 131st high) — nulls must ride
    * the skip-don't-poison convention across chunk boundaries too. */
  private def bars() = {
    val rows = for {
      s <- 0 until 3
      i <- 0 until 1200
    } yield {
      val base = 100.0 + 10.0 * math.sin(i * 0.05 + s) + (i * 7919 % 13) * 0.3
      val close = if (i % 97 == 0) None else Some(base)
      val high = if (i % 131 == 0) None else Some(base + (i * 31 % 7) * 0.2)
      val low = Some(base - (i * 17 % 5) * 0.25)
      (s"sym_$s", i.toLong, high, low, close)
    }
    spark.createDataFrame(rows).toDF("symbol", "ord", "high", "low", "close")
  }

  private def collectMap(df: org.apache.spark.sql.DataFrame, outCol: String) =
    df.select("symbol", "ord", outCol).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (if (r.isNullAt(2)) null else r.getDouble(2)))
      .toMap

  test("chunked EMA(20) is bit-identical to overSeries across 5 forced chunks") {
    val df = bars()
    val whole = SeriesOps.overSeries(df, Seq("close"), Seq("ema"))(
      a => Array(Kernels.ema(a(0), 20)))
    val chunked = SeriesOps.overSeriesChunked(
      df, Seq("close"), Seq("ema"), new Chunked.EmaStep(20), chunkRows = 257)
    assert(collectMap(chunked, "ema") == collectMap(whole, "ema"))
  }

  test("chunked RSI(14) is bit-identical to overSeries") {
    val df = bars()
    val whole = SeriesOps.overSeries(df, Seq("close"), Seq("rsi"))(
      a => Array(Kernels.rsi(a(0), 14)))
    val chunked = SeriesOps.overSeriesChunked(
      df, Seq("close"), Seq("rsi"), new Chunked.RsiStep(14), chunkRows = 211)
    assert(collectMap(chunked, "rsi") == collectMap(whole, "rsi"))
  }

  test("chunked ATR(14) is bit-identical to overSeries") {
    val df = bars()
    val whole = SeriesOps.overSeries(df, Seq("high", "low", "close"), Seq("atr"))(
      a => Array(Kernels.atr(a(0), a(1), a(2), 14)))
    val chunked = SeriesOps.overSeriesChunked(
      df, Seq("high", "low", "close"), Seq("atr"), new Chunked.AtrStep(14), chunkRows = 173)
    assert(collectMap(chunked, "atr") == collectMap(whole, "atr"))
  }

  test("chunked MACD(12,26,9) — a composed multi-output machine — is bit-identical") {
    val df = bars()
    val whole = SeriesOps.overSeries(df, Seq("close"),
      Seq("macd", "macd_signal", "macd_hist")) { a =>
      val (d, s, h) = Kernels.macd(a(0), 12, 26, 9); Array(d, s, h)
    }
    val chunked = SeriesOps.overSeriesChunked(
      df, Seq("close"), Seq("macd", "macd_signal", "macd_hist"),
      new Chunked.MacdStep(12, 26, 9), chunkRows = 173)
    for (c <- Seq("macd", "macd_signal", "macd_hist"))
      assert(collectMap(chunked, c) == collectMap(whole, c), s"column $c diverged")
  }

  test("chunked KAMA(10) — ring-buffer state — is bit-identical across chunk cuts") {
    val df = bars()
    val whole = SeriesOps.overSeries(df, Seq("close"), Seq("kama"))(
      a => Array(Kernels.kama(a(0), 10)))
    val chunked = SeriesOps.overSeriesChunked(
      df, Seq("close"), Seq("kama"), new Chunked.KamaStep(10), chunkRows = 97)
    assert(collectMap(chunked, "kama") == collectMap(whole, "kama"))
  }

  test("a chunk smaller than the warmup still seeds correctly") {
    // chunkRows = 7 < n = 20: the SMA seed accumulates across three chunk
    // boundaries before the first non-null value appears
    val df = bars().where(org.apache.spark.sql.functions.col("symbol") === "sym_0")
    val whole = SeriesOps.overSeries(df, Seq("close"), Seq("ema"))(
      a => Array(Kernels.ema(a(0), 20)))
    val chunked = SeriesOps.overSeriesChunked(
      df, Seq("close"), Seq("ema"), new Chunked.EmaStep(20), chunkRows = 7)
    assert(collectMap(chunked, "ema") == collectMap(whole, "ema"))
  }

  test("many short series through the chunked path: parity, uneven lengths, no driver state") {
    // the r8 weak: driver-side state maps grew O(#series). The state now
    // stays in scratch parquet, so a corpus of MANY short series (here
    // 200, lengths 1..40 — most shorter than one chunk, many ending
    // mid-loop) must route fine and agree with overSeries bit-for-bit
    val rows = for {
      s <- 0 until 200
      i <- 0 until (1 + s % 40)
    } yield {
      val v = 50.0 + math.sin(i * 0.3 + s) * 5 + (s % 7) * 0.1
      (s"s_$s", i.toLong, if ((i + s) % 23 == 0) None else Some(v))
    }
    val df = spark.createDataFrame(rows).toDF("symbol", "ord", "close")
    val whole = SeriesOps.overSeries(df, Seq("close"), Seq("ema"))(
      a => Array(Kernels.ema(a(0), 5)))
    val chunked = SeriesOps.overSeriesChunked(
      df, Seq("close"), Seq("ema"), new Chunked.EmaStep(5), chunkRows = 4)
    assert(collectMap(chunked, "ema") == collectMap(whole, "ema"))
  }

  test("chunked SAR — the trend/EP/AF flip machine — is bit-identical across chunk cuts") {
    val df = bars()
    val whole = SeriesOps.overSeries(df, Seq("high", "low"), Seq("sar"))(
      a => Array(Kernels.sar(a(0), a(1), 0.02, 0.2)))
    val chunked = SeriesOps.overSeriesChunked(
      df, Seq("high", "low"), Seq("sar"), new Chunked.SarStep(0.02, 0.2), chunkRows = 149)
    assert(collectMap(chunked, "sar") == collectMap(whole, "sar"))
  }

  test("chunked SAREXT (offset-on-reverse, asymmetric accel, signed output) is bit-identical") {
    val df = bars()
    // two configs: the defaults-shaped one and a start-short with offset +
    // asymmetric acceleration, so both flip directions cross chunk cuts
    for ((sv, off, ail, al, aml, ais, as_, ams, chunk) <- Seq(
        (0.0, 0.0, 0.02, 0.02, 0.2, 0.02, 0.02, 0.2, 127),
        (-90.0, 0.05, 0.02, 0.03, 0.25, 0.015, 0.02, 0.15, 89))) {
      val whole = SeriesOps.overSeries(df, Seq("high", "low"), Seq("sarext"))(
        a => Array(Kernels.sarext(a(0), a(1), sv, off, ail, al, aml, ais, as_, ams)))
      val chunked = SeriesOps.overSeriesChunked(
        df, Seq("high", "low"), Seq("sarext"),
        new Chunked.SarExtStep(sv, off, ail, al, aml, ais, as_, ams), chunkRows = chunk)
      assert(collectMap(chunked, "sarext") == collectMap(whole, "sarext"),
        s"sarext($sv,$off) diverged")
    }
  }

  private val mesaCols = Seq("ht_dcperiod", "ht_dcphase", "inphase", "quadrature",
    "sine", "leadsine", "ht_trendline", "ht_trendmode", "mama", "fama")

  test("chunked MESA/HT machine (41-double state, 10 outputs) is bit-identical") {
    // 'low' is the null-free column — the mesa kernels' input contract
    val df = bars()
    val whole = SeriesOps.overSeries(df, Seq("low"), mesaCols)(a => Cycle.mesa(a(0)))
    val chunked = SeriesOps.overSeriesChunked(
      df, Seq("low"), mesaCols, new Chunked.MesaStep(), chunkRows = 101)
    for (c <- mesaCols)
      assert(collectMap(chunked, c) == collectMap(whole, c), s"column $c diverged")
  }

  test("chunked MESA on sub-warmup series (< 32 rows) emits all-null like the kernel") {
    val rows = for { s <- 0 until 4; i <- 0 until (8 + s * 7) } // lengths 8..29
      yield (s"s_$s", i.toLong, 100.0 + math.sin(i * 0.4 + s))
    val df = spark.createDataFrame(rows).toDF("symbol", "ord", "close")
    val whole = SeriesOps.overSeries(df, Seq("close"), mesaCols)(a => Cycle.mesa(a(0)))
    val chunked = SeriesOps.overSeriesChunked(
      df, Seq("close"), mesaCols, new Chunked.MesaStep(), chunkRows = 5)
    for (c <- mesaCols) {
      val m = collectMap(chunked, c)
      assert(m == collectMap(whole, c), s"column $c diverged")
      assert(m.values.forall(_ == null), s"column $c not all-null under warmup")
    }
  }

  test("overSeriesAuto routes an over-bound series to the chunked path instead of throwing") {
    val df = bars()
    // force the bound far below the series length: the whole-series path
    // would trip overSeries' require; auto must route to chunked and agree
    val auto = SeriesOps.overSeriesAuto(
      df, Seq("close"), Seq("ema"), new Chunked.EmaStep(20),
      maxRows = 100, chunkRows = 300)(a => Array(Kernels.ema(a(0), 20)))
    val whole = SeriesOps.overSeries(df, Seq("close"), Seq("ema"))(
      a => Array(Kernels.ema(a(0), 20)))
    assert(collectMap(auto, "ema") == collectMap(whole, "ema"))
    // and below the bound it uses the whole-series scan (no scratch write)
    val small = SeriesOps.overSeriesAuto(
      df, Seq("close"), Seq("ema"), new Chunked.EmaStep(20),
      maxRows = 10_000)(a => Array(Kernels.ema(a(0), 20)))
    assert(collectMap(small, "ema") == collectMap(whole, "ema"))
  }
}
