package graft.bt

import graft.ta.{SeriesFold, SeriesOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Signal-driven vectorized backtester — port of reference
  * `src/backtest/vectorized.rs:69-224`, lifted from single-asset to
  * per-symbol-parallel: the same scan-fold runs inside
  * the series fold ([[SeriesFold]]), so a universe of
  * symbols backtests in one shuffle with each symbol's fold sequential
  * (as it must be) and symbols embarrassingly parallel across executors.
  * That shuffle is the series partitioning ([[SeriesOps.bySeries]]), a
  * fixed hash partitioning adaptive execution does not coalesce; a
  * signal frame already partitioned that way is not shuffled again.
  *
  * Fill semantics (faithful to the reference):
  *   - buy only when flat: deploy equity·positionSize at price+buySlippage,
  *     whole shares (floor), commission max(rate·cost, min) (rs:146-161);
  *     entry cost marked at the RAW price, not the execution price (rs:159)
  *   - sell liquidates the whole position at price−sellSlippage (rs:162-175);
  *     win iff net revenue > entry cost
  *   - NaN/≤0 price rows only mark to market (rs:141-144)
  */
object Vectorized {

  final case class Config(
    initialCapital: Double = 100000.0,
    buySlippage: Double = 0.0,
    sellSlippage: Double = 0.0,
    buyCommissionRate: Double = 0.0003,
    sellCommissionRate: Double = 0.0003,
    minCommission: Double = 5.0,
    positionSize: Double = 1.0)

  final case class SeriesResult(
    positions: Array[Double], cash: Array[Double], equity: Array[Double],
    trades: Int, wins: Int)

  /** Per-symbol running state of the fold (also the streaming state —
    * graft.streaming reuses [[step]] inside flatMapGroupsWithState). */
  final case class State(position: Double, cash: Double, entryCost: Double,
                         trades: Int, wins: Int)
  def initialState(cfg: Config): State = State(0.0, cfg.initialCapital, 0.0, 0, 0)

  /** One bar of the reference scan; returns the post-bar state. The
    * emitted (position, cash, equity) for the bar is read off the state. */
  def step(s: State, price: Double, buy: Boolean, sell: Boolean, cfg: Config): State = {
    if (price.isNaN || price <= 0.0) s  // mark-to-market only (vectorized.rs:141-144)
    else if (buy && s.position == 0.0) {
      val execPrice = price + cfg.buySlippage
      val equity = s.cash + s.position * price
      val qty = math.floor(equity * cfg.positionSize / execPrice)
      if (qty > 0.0) {
        val cost = qty * execPrice
        val fee = math.max(cost * cfg.buyCommissionRate, cfg.minCommission)
        State(s.position + qty, s.cash - cost - fee, (s.position + qty) * price,
          s.trades + 1, s.wins)
      } else s
    } else if (sell && s.position > 0.0) {
      val execPrice = price - cfg.sellSlippage
      val revenue = s.position * execPrice
      val fee = math.max(revenue * cfg.sellCommissionRate, cfg.minCommission)
      val net = revenue - fee
      State(0.0, s.cash + net, s.entryCost, s.trades,
        if (net > s.entryCost) s.wins + 1 else s.wins)
    } else s
  }

  /** The single-series fold (pure; exactly the reference scan). */
  def runSeries(prices: Array[Double], buys: Array[Boolean], sells: Array[Boolean],
                cfg: Config): SeriesResult = {
    val n = prices.length
    val posA = new Array[Double](n); val cashA = new Array[Double](n); val eqA = new Array[Double](n)
    var s = initialState(cfg)
    var i = 0
    while (i < n) {
      s = step(s, prices(i), buys(i), sells(i), cfg)
      posA(i) = s.position; cashA(i) = s.cash; eqA(i) = s.cash + s.position * prices(i)
      i += 1
    }
    SeriesResult(posA, cashA, eqA, s.trades, s.wins)
  }

  /** The scan per symbol; `emit` writes the symbol's output rows (`keep`
    * columns of the projected input, then `added`) from its rows, the
    * scan's result and its prices. */
  private def foldGroups(df: DataFrame, keep: Seq[String], added: Seq[String], cfg: Config)
                        (emit: (SeriesFold.Out, Array[InternalRow], SeriesResult, Array[Double]) =>
                          Iterator[InternalRow]): DataFrame = {
    val proj = df.select(
      col("symbol").cast(StringType), col("ord").cast(LongType),
      col("price").cast(DoubleType), col("buy_sig").cast(BooleanType),
      col("sell_sig").cast(BooleanType))
    SeriesFold(proj, "symbol", "ord", keep, added.map(StructField(_, DoubleType))) { () =>
      val out = new SeriesFold.Out(keep.length + added.length)
      (_, rows) => {
        val prices = rows.map(r => if (r.isNullAt(2)) Double.NaN else r.getDouble(2))
        val buys = rows.map(r => !r.isNullAt(3) && r.getBoolean(3))
        val sells = rows.map(r => !r.isNullAt(4) && r.getBoolean(4))
        emit(out, rows, runSeries(prices, buys, sells, cfg), prices)
      }
    }
  }

  /** Per-bar portfolio curves: (symbol, ord, position, cash, equity). */
  def run(df: DataFrame, cfg: Config = Config()): DataFrame =
    foldGroups(df, Seq("symbol", "ord"), Seq("position", "cash", "equity"), cfg) { (out, rows, r, _) =>
      rows.indices.iterator.map(i => out.start().stringAt(rows(i), 0).longAt(rows(i), 1)
        .double(r.positions(i)).double(r.cash(i)).double(r.equity(i)).row)
    }

  /** Per-symbol summary (metrics.rs-port applied to each symbol's curve). */
  def summary(df: DataFrame, cfg: Config = Config()): DataFrame =
    summaries(df, cfg)(_ => Array.empty)

  /** Per-symbol summary with CAPM alpha/beta measured against the
    * symbol's own price curve as the benchmark (buy-and-hold): the
    * benchmark series Metrics needs is exactly the bar-aligned price
    * array the fold already has, so no extra input or join — and beta is
    * genuinely nonzero whenever the strategy holds the asset at all. */
  def summaryVsPrice(df: DataFrame, cfg: Config = Config()): DataFrame =
    summaries(df, cfg)(identity)

  /** One row per symbol: the symbol, then [[Metrics.columns]] against
    * the benchmark `bench` derives from the symbol's prices. */
  private def summaries(df: DataFrame, cfg: Config)(bench: Array[Double] => Array[Double]): DataFrame =
    foldGroups(df, Seq("symbol"), Metrics.columns, cfg) { (out, rows, r, prices) =>
      val m = Metrics.summary(r.equity, bench(prices), cfg.initialCapital, r.trades, r.wins)
      out.start().stringAt(rows(0), 0)
      Metrics.columns.foreach(c => out.double(m(c)))
      Iterator.single(out.row)
    }
}
