package graft.bt

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Event-driven multi-asset backtester — port of reference
  * `src/backtest/sequential.rs:48-337`. The strategy is a plain Scala
  * closure `(OrderContext, Int) => Unit`, so the per-bar loop has no
  * language-boundary cost (the reference crosses Rust→Python under the GIL
  * every bar — its main scalability sin, SURVEY.md §3.3). The loop itself
  * is inherently serial per portfolio; parallelism belongs across
  * configs/universes, not inside one simulation.
  */
object Sequential {

  final case class Order(asset: String, quantity: Double, price: Double)

  final case class Fill(asset: String, quantity: Double, fillPrice: Double,
                        commission: Double, transactionCost: Double, isBuy: Boolean)

  final case class Config(
    initialCapital: Double = 100000.0,
    buySlippage: Double = 0.0,
    sellSlippage: Double = 0.0,
    buyCommissionRate: Double = 0.0003,
    sellCommissionRate: Double = 0.0003,
    minCommission: Double = 5.0)

  /** Queues validated orders from the strategy (sequential.rs:174-205):
    * NaN/≤0 price or ≤0 quantity are silently rejected; sells are stored
    * with negative quantity. */
  final class OrderContext {
    private[bt] val pending = mutable.ArrayBuffer.empty[Order]
    def buy(asset: String, quantity: Double, price: Double): Unit =
      if (!price.isNaN && price > 0.0 && quantity > 0.0)
        pending += Order(asset, quantity, price)
    def sell(asset: String, quantity: Double, price: Double): Unit =
      if (!price.isNaN && price > 0.0 && quantity > 0.0)
        pending += Order(asset, -quantity, price)
  }

  /** Fill simulation (sequential.rs:48-97): buy requires cash ≥ cost+fee,
    * sell requires position ≥ qty; no partial fills, no shorting;
    * additive slippage; commission max(rate·notional, min). */
  final class ExecutionEngine(cfg: Config) {
    def processOrder(order: Order, cash: Double, position: Double): Option[Fill] = {
      if (order.quantity > 0.0) {
        val fillPrice = order.price + cfg.buySlippage
        val cost = order.quantity * fillPrice
        val fee = math.max(cost * cfg.buyCommissionRate, cfg.minCommission)
        if (cash >= cost + fee)
          Some(Fill(order.asset, order.quantity, fillPrice, fee, cost, isBuy = true))
        else None
      } else if (order.quantity < 0.0) {
        val absQty = math.abs(order.quantity)
        if (position >= absQty) {
          val fillPrice = order.price - cfg.sellSlippage
          val revenue = absQty * fillPrice
          val fee = math.max(revenue * cfg.sellCommissionRate, cfg.minCommission)
          Some(Fill(order.asset, order.quantity, fillPrice, fee, -revenue, isBuy = false))
        } else None
      } else None
    }
  }

  /** Cash/position bookkeeping (sequential.rs:113-158). Faithful quirks:
    * entry price is OVERWRITTEN on re-buy, not averaged (:134); positions
    * are purged at ≤1e-8; win counted iff net revenue > qty·entry. */
  final class Portfolio(initialCapital: Double) {
    var cash: Double = initialCapital
    val positions: mutable.Map[String, Double] = mutable.Map.empty
    val entryPrices: mutable.Map[String, Double] = mutable.Map.empty
    var totalTrades: Int = 0
    var winningTrades: Int = 0

    def applyFill(f: Fill): Unit = {
      val current = positions.getOrElse(f.asset, 0.0)
      if (f.isBuy) {
        cash -= f.transactionCost + f.commission
        positions(f.asset) = current + f.quantity
        entryPrices(f.asset) = f.fillPrice
        totalTrades += 1
      } else {
        val revenue = -f.transactionCost
        cash += revenue - f.commission
        positions(f.asset) = current + f.quantity
        entryPrices.get(f.asset).foreach { entry =>
          val absQty = math.abs(f.quantity)
          if (revenue - f.commission > absQty * entry) winningTrades += 1
        }
        if (positions(f.asset) <= 1e-8) {
          positions.remove(f.asset)
          entryPrices.remove(f.asset)
        }
      }
    }

    /** cash + Σ qty·price from the last-traded price board, falling back
      * to entry price (sequential.rs:161-171). */
    def equity(priceBoard: collection.Map[String, Double]): Double = {
      var v = 0.0
      positions.foreach { case (asset, qty) =>
        priceBoard.get(asset) match {
          case Some(p) => v += qty * p
          case None => entryPrices.get(asset).foreach(e => v += qty * e)
        }
      }
      cash + v
    }
  }

  final case class Result(equity: Array[Double], summary: Map[String, Double],
                          portfolio: Portfolio)

  /** The event loop (sequential.rs:256-337): per period build an
    * OrderContext, call the strategy, execute pending orders, mark equity
    * from the last-traded price board. */
  def run(periods: Int, strategy: (OrderContext, Int) => Unit,
          cfg: Config = Config(), benchmark: Array[Double] = Array.empty): Result = {
    val portfolio = new Portfolio(cfg.initialCapital)
    val engine = new ExecutionEngine(cfg)
    val priceBoard = mutable.Map.empty[String, Double]
    val equityCurve = new Array[Double](periods)
    var p = 0
    while (p < periods) {
      val ctx = new OrderContext
      strategy(ctx, p)
      ctx.pending.foreach { order =>
        priceBoard(order.asset) = order.price
        val position = portfolio.positions.getOrElse(order.asset, 0.0)
        engine.processOrder(order, portfolio.cash, position).foreach(portfolio.applyFill)
      }
      equityCurve(p) = portfolio.equity(priceBoard)
      p += 1
    }
    val summary = Metrics.summary(equityCurve, benchmark, cfg.initialCapital,
      portfolio.totalTrades, portfolio.winningTrades)
    Result(equityCurve, summary, portfolio)
  }

  /** Distributed multi-portfolio driver: each portfolio's event loop runs
    * inside ONE task via the series fold ([[graft.ta.SeriesFold]]) — the same
    * shape Vectorized uses per symbol, with `portfolio` as the series key: a fixed hash partitioning that adaptive execution does
    * not coalesce, so portfolios spread over every core. Portfolios are
    * embarrassingly parallel across executors; each loop stays
    * sequential, as an order-queue simulation must. Nothing is collected
    * to the driver: the aligned bars of one portfolio (its whole
    * simulation input) are materialized inside the task, bounded by one
    * portfolio's history — the unit a user sizes anyway.
    *
    * @param df         `(portfolio, symbol, ord, close)` — bars of every
    *                   asset in every portfolio (pre-align sparse symbols
    *                   with [[graft.etl.Align.align]])
    * @param mkStrategy builds the per-bar strategy from the portfolio's
    *                   symbol list (sorted) and per-symbol close arrays
    *                   indexed by the portfolio's distinct sorted ords;
    *                   must be serializable (a plain function literal is)
    * @return           `(portfolio, ord, equity)` — one row per period
    */
  def runPortfolios(df: DataFrame,
                    mkStrategy: (Array[String], Map[String, Array[Double]]) => (OrderContext, Int) => Unit,
                    cfg: Config = Config()): DataFrame = {
    val proj = df.select(col("portfolio").cast(StringType), col("symbol").cast(StringType),
      col("ord").cast(LongType), col("close").cast(DoubleType))
    graft.ta.SeriesFold(proj, "portfolio", "ord", Seq("portfolio"),
      Seq(StructField("ord", LongType), StructField("equity", DoubleType))) { () =>
      val out = new graft.ta.SeriesFold.Out(3)
      (_, rows) => {
        val ords = rows.map(_.getLong(2)).distinct // rows arrive sorted by ord
        val idx = ords.zipWithIndex.toMap
        val syms = rows.map(_.getUTF8String(1).toString).distinct.sorted
        // missing (symbol, ord) cells AND null closes stay 0.0 —
        // OrderContext rejects zero-price orders, matching the pre-grid
        // default-fill contract (a NaN here would instead make strategy
        // comparisons silently false, bypassing that rejection path)
        val closes: Map[String, Array[Double]] =
          syms.map(s => s -> new Array[Double](ords.length)).toMap
        rows.foreach { r =>
          closes(r.getUTF8String(1).toString)(idx(r.getLong(2))) =
            if (r.isNullAt(3)) 0.0 else r.getDouble(3)
        }
        val res = run(ords.length, mkStrategy(syms, closes), cfg)
        ords.indices.iterator.map(i =>
          out.start().stringAt(rows(0), 0).long(ords(i)).double(res.equity(i)).row)
      }
    }
  }
}
