package graft

import graft.bt.Vectorized
import graft.etl.Align
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Distributed backtest + alignment ETL over real Spark. */
class SparkBtSpec extends AnyFunSuite with SparkSuite {
  test("Vectorized.run distributes the fold per symbol and matches runSeries") {
    val cfg = Vectorized.Config(initialCapital = 1000.0, minCommission = 1.0,
      buyCommissionRate = 0.001, sellCommissionRate = 0.001)
    val prices = Map("a" -> Array(10.0, 12.0, 9.0, 15.0, 14.0), "b" -> Array(5.0, 4.0, 6.0, 7.0, 3.0))
    val buys = Array(true, false, true, false, false)
    val sells = Array(false, true, false, true, false)
    val rows = for {
      (sym, ps) <- prices.toSeq; i <- ps.indices
    } yield (sym, i.toLong, ps(i), buys(i), sells(i))
    val df = spark.createDataFrame(rows).toDF("symbol", "ord", "price", "buy_sig", "sell_sig")

    val out = Vectorized.run(df, cfg).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    prices.foreach { case (sym, ps) =>
      val exp = Vectorized.runSeries(ps, buys, sells, cfg)
      ps.indices.foreach { i =>
        val (pos, cash, eq) = out((sym, i.toLong))
        assert(math.abs(pos - exp.positions(i)) < 1e-9)
        assert(math.abs(cash - exp.cash(i)) < 1e-9)
        assert(math.abs(eq - exp.equity(i)) < 1e-9)
      }
    }
    val summ = Vectorized.summary(df, cfg).collect()
    assert(summ.length == 2)
    assert(summ.forall(_.getDouble(8) > 0)) // total_trades per symbol
  }

  test("Sequential.runPortfolios: portfolios fold independently and match the local loop") {
    import graft.bt.Sequential
    // two portfolios over the same bars — p1 additionally trades symbol B;
    // each must reproduce the single-portfolio local run exactly
    val bars = for {
      (pf, syms) <- Seq("p0" -> Seq("A"), "p1" -> Seq("A", "B"))
      s <- syms
      i <- 0 until 40
    } yield (pf, s, i.toLong, 50.0 + 5 * math.sin(i * 0.7 + s.hashCode % 7))
    val df = spark.createDataFrame(bars).toDF("portfolio", "symbol", "ord", "close")
    def strat(ss: Array[String], closes: Map[String, Array[Double]]): (Sequential.OrderContext, Int) => Unit =
      (ctx, p) => ss.foreach { s =>
        val c = closes(s)
        if (p >= 1 && c(p) < c(p - 1)) ctx.buy(s, 5, c(p))
        else if (p >= 1 && c(p) > c(p - 1)) ctx.sell(s, 5, c(p))
      }
    val got = Sequential.runPortfolios(df, strat)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for ((pf, syms) <- Seq("p0" -> Seq("A"), "p1" -> Seq("A", "B"))) {
      val closes = syms.map(s => s ->
        bars.filter(b => b._1 == pf && b._2 == s).sortBy(_._3).map(_._4).toArray).toMap
      val local = Sequential.run(40, strat(syms.sorted.toArray, closes))
      (0 until 40).foreach { i =>
        assert(got((pf, i.toLong)) == local.equity(i), s"$pf equity[$i]")
      }
    }
    // p1's extra symbol must have changed its curve vs p0 (cross-asset
    // cash coupling is real, not per-symbol accounting)
    assert((0 until 40).exists(i => got(("p0", i.toLong)) != got(("p1", i.toLong))))
  }

  test("Align.prepareSequentialData: stem symbol injection, grid, forward fill") {
    val dir = new java.io.File(Scratch.dir("graft_align_"))
    // aaa.csv lacks a symbol column → injected from the stem
    val csv = new java.io.File(dir, "aaa.csv")
    java.nio.file.Files.writeString(csv.toPath,
      "date,close\n2024-01-01,10\n2024-01-03,12\n")
    // bbb.parquet has its own symbol column and an extra column
    spark.createDataFrame(Seq(("2024-01-02", "bbb", 5.0, 1.0), ("2024-01-03", "bbb", 6.0, 2.0)))
      .toDF("date", "symbol", "close", "volume")
      .write.parquet(new java.io.File(dir, "bbb.parquet").getPath)

    val out = Align.prepareSequentialData(spark, dir.getPath)
    val rows = out.collect().map(r => (r.getAs[Any]("date").toString, r.getAs[String]("symbol")) ->
      (r.getAs[Any]("close"), r.getAs[Any]("volume"))).toMap
    assert(rows.size == 6) // 3 dates × 2 symbols
    // forward fill: aaa has no 01-02 row → carries 10 forward
    assert(rows(("2024-01-02", "aaa"))._1.toString.toDouble == 10.0)
    // default fill: aaa never has volume → 0.0; leading null before first
    // value also defaults
    assert(rows(("2024-01-03", "aaa"))._2.toString.toDouble == 0.0)
    assert(rows(("2024-01-01", "bbb"))._1.toString.toDouble == 0.0)
    assert(rows(("2024-01-03", "bbb"))._2.toString.toDouble == 2.0)
  }

  test("Align zero-fill strategy") {
    val master = spark.createDataFrame(
      Seq(("d1", "x", Some(1.0)), ("d2", "x", None), ("d1", "y", Some(3.0))))
      .toDF("date", "symbol", "close")
    val out = Align.align(master, fillNullStrategy = "zero").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(out(("d2", "x")) == 0.0)
    assert(out(("d2", "y")) == 0.0) // grid row materialized and zero-filled
  }
}
