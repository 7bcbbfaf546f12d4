package graft

import graft.ta._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Spark-level tests: Frames vs Kernels agreement, overSeries mechanics,
  * and candlestick patterns on crafted bars that exercise specific firing
  * branches (the synthetic driver data cannot reach every pattern). */
class SparkTaSpec extends AnyFunSuite with SparkSuite {
  private def ohlcDf(rows: Seq[(Double, Double, Double, Double)]): DataFrame = {
    val data = rows.zipWithIndex.map { case ((o, h, l, c), i) =>
      ("s", i.toLong, o, h, l, c)
    }
    spark.createDataFrame(data).toDF("symbol", "ord", "open", "high", "low", "close")
  }

  private def patternValues(p: PatternDsl.Pattern, rows: Seq[(Double, Double, Double, Double)]): Seq[Int] = {
    implicit val w = Window.partitionBy("symbol").orderBy("ord")
    ohlcDf(rows).select(col("ord"), p.column).orderBy("ord")
      .collect().map(_.getInt(1)).toSeq
  }

  // ---- crafted pattern firings ----

  test("cdlhammer fires on a hammer after a down bar") {
    // bar0: bearish; bar1: small body, long lower shadow, zero upper shadow
    val rows = Seq(
      (100.0, 101.0, 95.0, 96.0),        // bear
      (100.0, 100.0, 90.0, 99.9)         // body .1, lower shadow 9.9, upper 0
    )
    assert(patternValues(Patterns.cdlhammer, rows) == Seq(0, 100))
  }

  test("cdlengulfing fires both directions") {
    val bullish = Seq((100.0, 101.0, 94.0, 95.0), (94.0, 103.0, 93.0, 102.0))
    val bearish = Seq((95.0, 101.0, 94.0, 100.0), (101.0, 102.0, 93.0, 94.0))
    assert(patternValues(Patterns.cdlengulfing, bullish) == Seq(0, 100))
    assert(patternValues(Patterns.cdlengulfing, bearish) == Seq(0, -100))
  }

  test("cdldoji fires on near-zero body") {
    val rows = Seq((100.0, 101.0, 99.0, 100.1))  // body .1 ≤ 0.5% of ~100
    assert(patternValues(Patterns.cdldoji, rows) == Seq(100))
  }

  test("cdlkicking fires on opposing marubozus with a gap") {
    val rows = Seq(
      (110.0, 110.2, 99.9, 100.0),   // bear marubozu (body 10, shadows .2/.1)
      (120.0, 130.3, 119.8, 130.0)   // bull marubozu, opens above prior open
    )
    assert(patternValues(Patterns.cdlkicking, rows) == Seq(0, 100))
    assert(patternValues(Patterns.cdlkickingbylength, rows) == Seq(0, 100))
  }

  test("cdlmorningstar fires on the classic three-bar reversal") {
    val rows = Seq(
      (110.0, 111.0, 99.0, 100.0),     // long bear
      (95.0, 96.0, 93.0, 94.0),        // short body gapping below c1
      (96.0, 109.0, 95.0, 108.0)       // bull closing well into bar1 body
    )
    assert(patternValues(Patterns.cdlmorningstar, rows) == Seq(0, 0, 100))
  }

  test("penetration parameter gates the morning-star recovery threshold") {
    // bar1 body = 10 (110→100); cur closes at 104 = 40% recovery:
    // fires at the default 0.3 threshold (c > 103), not at 0.5 (c > 105)
    val rows = Seq(
      (110.0, 111.0, 99.0, 100.0),
      (95.0, 96.0, 93.0, 94.0),
      (96.0, 105.0, 95.0, 104.0)
    )
    assert(patternValues(Patterns.cdlmorningstarP(0.3), rows) == Seq(0, 0, 100))
    assert(patternValues(Patterns.cdlmorningstarP(0.5), rows) == Seq(0, 0, 0))
  }

  test("penetration parameter gates the abandoned-baby reversal depth") {
    // b1 bear body 10 (110→100); doji gaps below b1.l; cur gaps back up
    // and closes at 104 = 40% recovery: fires at pen 0.3 (c > 103), not
    // at 0.5 (c > 105); the fixed default instance has no depth term.
    val rows = Seq(
      (110.0, 111.0, 99.0, 100.0),
      (95.0, 95.5, 94.5, 95.02),      // doji, high 95.5 < b1.l 99
      (96.0, 106.0, 95.6, 104.0)      // bull, low 95.6 > doji high
    )
    assert(patternValues(Patterns.cdlabandonedbaby, rows) == Seq(0, 0, 100))
    assert(patternValues(Patterns.cdlabandonedbabyP(0.3), rows) == Seq(0, 0, 100))
    assert(patternValues(Patterns.cdlabandonedbabyP(0.5), rows) == Seq(0, 0, 0))
  }

  test("penetration parameter sets the mat-hold hold level") {
    // b1 bull body 10 (100→110); three small bars with lows at 103: above
    // the fixed instance's hold (open1 = 100) but below the pen=0.5 hold
    // (close1 − 5 = 105); raising the lows to 106 satisfies both.
    def rows(lo: Double) = Seq(
      (100.0, 110.5, 99.5, 110.0),
      (111.0, 112.0, lo, 110.6),
      (110.0, 111.0, lo, 110.4),
      (110.0, 111.0, lo, 110.5),
      (108.0, 116.0, 107.5, 115.0)
    )
    assert(patternValues(Patterns.cdlmathold, rows(103.0)) == Seq(0, 0, 0, 0, 100))
    assert(patternValues(Patterns.cdlmatholdP(0.5), rows(103.0)) == Seq(0, 0, 0, 0, 0))
    assert(patternValues(Patterns.cdlmatholdP(0.5), rows(106.0)) == Seq(0, 0, 0, 0, 100))
  }

  test("cdl3whitesoldiers fires on three long advancing bulls") {
    val rows = Seq(
      (100.0, 110.2, 99.9, 110.0),
      (105.0, 115.2, 104.9, 115.0),
      (110.0, 120.2, 109.9, 120.0)
    )
    assert(patternValues(Patterns.cdl3whitesoldiers, rows) == Seq(0, 0, 100))
  }

  test("cdl2crows is unsatisfiable (faithful reference quirk)") {
    // pattern.rs:32 requires o > o2 && o < c2 on a BEAR second bar, where
    // o2 > c2 — contradictory, so the reference's cdl2crows can never
    // fire. We transcribe faithfully; this pins the quirk.
    val rows = Seq(
      (100.0, 111.0, 99.0, 110.0),   // long bull
      (113.0, 114.0, 111.5, 112.0),  // bear gapping above c1
      (112.5, 113.0, 104.0, 105.0))  // classic two-crows third bar
    assert(patternValues(Patterns.cdl2crows, rows) == Seq(0, 0, 0))
  }

  test("cdlidentical3crows fires on three equal-open crows") {
    val rows = Seq(
      (110.0, 111.0, 99.0, 100.0),
      (100.0, 101.0, 89.0, 90.0),    // opens ≈ c1
      (90.0, 91.0, 79.0, 80.0))      // opens ≈ c2
    assert(patternValues(Patterns.cdlidentical3crows, rows) == Seq(0, 0, -100))
  }

  test("cdlrisefall3methods fires on the rising three methods") {
    val rows = Seq(
      (100.0, 120.5, 99.5, 120.0),   // long bull, wide range
      (118.0, 119.0, 112.0, 113.0),  // three short bodies inside bar1's range
      (113.5, 115.0, 109.0, 110.0),
      (110.5, 112.0, 106.0, 107.0),
      (108.0, 125.5, 107.5, 125.0))  // long bull closing above c1
    assert(patternValues(Patterns.cdlrisefall3methods, rows) == Seq(0, 0, 0, 0, 100))
  }

  test("cdlseparatinglines fires on equal-open opposing long bodies") {
    val rows = Seq(
      (110.0, 111.0, 99.0, 100.0),   // long bear
      (110.05, 122.0, 109.5, 121.0)) // long bull opening at bar1's open
    assert(patternValues(Patterns.cdlseparatinglines, rows) == Seq(0, 100))
  }

  test("cdlsticksandwich fires on the bear-bull-bear sandwich") {
    val rows = Seq(
      (110.0, 111.0, 99.0, 100.0),    // long bear closing at 100
      (103.0, 116.0, 102.5, 115.0),   // long bull opening above c1
      (116.0, 117.0, 99.5, 100.05))   // long bear closing ≈ c1
    assert(patternValues(Patterns.cdlsticksandwich, rows) == Seq(0, 0, 100))
  }

  test("cdlhikkakemod fires on the double-inside breakout") {
    val rows = Seq(
      (100.0, 120.0, 90.0, 110.0),
      (105.0, 115.0, 95.0, 100.0),    // inside bar1
      (102.0, 110.0, 98.0, 104.0),    // inside bar2
      (105.0, 125.0, 104.0, 124.0))   // bull close above h1
    assert(patternValues(Patterns.cdlhikkakemod, rows) == Seq(0, 0, 0, 100))
  }

  test("cdl3linestrike fires on three crows + bull strike") {
    val rows = Seq(
      (110.0, 111.0, 99.0, 100.0),      // bear 1
      (105.0, 106.0, 94.0, 95.0),       // bear 2: opens inside body1, closes lower
      (100.0, 101.0, 89.0, 90.0),       // bear 3: opens inside body2, closes lower
      (88.0, 113.0, 87.0, 112.0))       // bull opens below c3, closes above o1
    assert(patternValues(Patterns.cdl3linestrike, rows) == Seq(0, 0, 0, 100))
  }

  test("cdl3starsinsouth fires on the shrinking-bear sequence") {
    val rows = Seq(
      (110.0, 110.2, 79.0, 100.0),      // long bear, lower shadow 21 > 2·body
      (106.0, 107.0, 95.0, 101.0),      // bear, higher low, higher close
      (104.0, 105.0, 96.0, 102.5))      // short bear inside bar2's range
    assert(patternValues(Patterns.cdl3starsinsouth, rows) == Seq(0, 0, 100))
  }

  test("cdladvanceblock fires on stalling advance with shrinking body") {
    val rows = Seq(
      (100.0, 110.5, 99.5, 110.0),      // long bull
      (105.0, 117.5, 104.5, 117.0),     // bull, opens within body1, closes higher
      (112.0, 119.5, 111.5, 119.0))     // bull, shrinking body (7 < 12)
    assert(patternValues(Patterns.cdladvanceblock, rows) == Seq(0, 0, -100))
  }

  test("cdlgapsidesidewhite fires on gapping twin whites") {
    val rows = Seq(
      (100.0, 111.0, 99.0, 110.0),      // bull
      (115.0, 121.5, 114.5, 121.0),     // bull gapping above c1
      (115.05, 121.6, 114.6, 121.1))    // near-identical white beside it
    assert(patternValues(Patterns.cdlgapsidesidewhite, rows) == Seq(0, 0, 100))
  }

  test("cdlconcealbabyswall fires on the concealing swallow") {
    val rows = Seq(
      (110.0, 110.1, 99.95, 100.0),     // bear marubozu
      (100.0, 100.05, 89.97, 90.0),     // bear marubozu closing lower
      (89.0, 92.0, 85.0, 86.0),         // bear with high above c2
      (93.0, 93.5, 84.0, 84.5))         // long bear engulfing: opens above h3, closes below l2
    assert(patternValues(Patterns.cdlconcealbabyswall, rows) == Seq(0, 0, 0, 100))
  }

  test("patterns are scale-invariant (thresholds are price-relative)") {
    val rows = Seq(
      (110.0, 111.0, 99.0, 100.0),
      (95.0, 96.0, 93.0, 94.0),
      (96.0, 109.0, 95.0, 108.0)
    )
    val scaled = rows.map { case (o, h, l, c) => (o * 250, h * 250, l * 250, c * 250) }
    assert(patternValues(Patterns.cdlmorningstar, scaled) == Seq(0, 0, 100))
  }

  test("pattern outputs are always in {-100, 0, 100} on real bars") {
    implicit val w = Window.partitionBy("symbol").orderBy("ord")
    val bars = Tables.bars(spark, "/root/testdata/sf0.001")
    val cols = Seq(Patterns.cdlbelthold, Patterns.cdlhighwave, Patterns.cdlengulfing)
    val vals = bars.select(cols.map(_.column): _*).collect()
    vals.foreach(r => (0 until 3).foreach(j => assert(Set(-100, 0, 100)(r.getInt(j)))))
  }

  // ---- Frames vs Kernels agreement on real data ----

  test("Frames.sma/wma/stoch agree with kernel-space counterparts") {
    implicit val w = Window.partitionBy("symbol").orderBy("ord")
    val bars = Tables.bars(spark, "/root/testdata/sf0.001").cache()
    val frames = bars.select(col("symbol"), col("ord"),
        Frames.sma(col("close"), 7).as("f_sma"),
        Frames.wma(col("close"), 7).as("f_wma"),
        Frames.stochFastK(col("high"), col("low"), col("close"), 5).as("f_k"))
    val kern = Recursive.multi(bars, Seq("high", "low", "close"), Seq(
      "k_sma" -> (a => Kernels.sma(a(2), 7)),
      "k_wma" -> (a => Kernels.wma(a(2), 7)),
      "k_k"   -> (a => Kernels.stochFastK(a(0), a(1), a(2), 5))))
    val joined = frames.join(kern.select("symbol", "ord", "k_sma", "k_wma", "k_k"),
      Seq("symbol", "ord")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      Seq(("f_sma", "k_sma"), ("f_wma", "k_wma"), ("f_k", "k_k")).foreach { case (f, k) =>
        val fv = Option(r.getAs[java.lang.Double](f)).map(_.doubleValue)
        val kv = Option(r.getAs[java.lang.Double](k)).map(_.doubleValue)
        assert(fv.isDefined == kv.isDefined, s"$f null mismatch at ${r.get(1)}")
        for (a <- fv; b <- kv) assert(math.abs(a - b) < 1e-9, s"$f $a != $b")
      }
    }
  }

  // ---- overSeries mechanics ----

  test("overSeries sorts by ord within series and carries inputs") {
    import scala.util.Random
    val rnd = new Random(7)
    val rows = rnd.shuffle((0 until 100).map(i => ("a", i.toLong, i + 1.0)).toList)
    val df = spark.createDataFrame(rows).toDF("symbol", "ord", "close")
    val out = SeriesOps.overSeries(df, Seq("close"), Seq("sma"))(a => Array(Kernels.sma(a(0), 3)))
      .orderBy("ord").collect()
    assert(out.length == 100)
    assert(out(0).schema.fieldNames.toSeq == Seq("symbol", "ord", "close", "sma"))
    // input carried: close at ord i is i+1; sma at i>=2 is i (avg of i-1,i,i+1)
    assert(out(50).getDouble(2) == 51.0)
    assert(math.abs(out(50).getDouble(3) - 50.0) < 1e-12)
    assert(out(0).isNullAt(3) && out(1).isNullAt(3))
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
