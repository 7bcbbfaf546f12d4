package graft

import graft.ta._
import org.scalatest.funsuite.AnyFunSuite

/** Golden-fixture parity with the standard TA-Lib formulas, standing in
  * for the reference's own intended oracle (its tests pin `ta-lib>=0.6.8`
  * — reference tests/__init__.py:1-5, pyproject.toml:28-31 — which is not
  * installable here). `scripts/gen_golden.py` implements
  * SMA/EMA/RSI/ATR/ADX from the published definitions with plain Python
  * loops — an implementation INDEPENDENT of the Scala kernels — and its
  * committed output (`talib_golden.csv`, 256-bar deterministic LCG random
  * walk) is the contract both must satisfy. Tolerance 1e-8 absolute:
  * identical recurrences, different summation order in the SMA seeds.
  */
class GoldenSpec extends AnyFunSuite with SparkSuite {
  // (ord, open, high, low, close, volume, sma_20, ema_20, rsi_14, atr_14, adx_14)
  private lazy val rows: Array[Array[Double]] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/talib_golden.csv"))
    try src.getLines().drop(1).map { line =>
      // keep trailing empty fields: warm-up bars have empty expected cells
      line.split(",", -1).map(s => if (s.isEmpty) Double.NaN else s.toDouble)
    }.toArray
    finally src.close()
  }
  private def col(i: Int): Array[Double] = rows.map(_(i))

  private def assertSeries(what: String, got: Array[Double], exp: Array[Double],
                           tol: Double = 1e-8): Unit = {
    assert(got.length == exp.length)
    got.indices.foreach { i =>
      val (g, e) = (got(i), exp(i))
      assert(g.isNaN == e.isNaN, s"$what[$i]: NaN shape — got $g, expected $e")
      if (!e.isNaN)
        assert(math.abs(g - e) <= tol, s"$what[$i]: got $g, expected $e")
    }
  }

  test("kernels match the committed TA-Lib goldens (SMA/EMA/RSI/ATR/ADX, 256-bar walk)") {
    val (h, l, c) = (col(2), col(3), col(4))
    assertSeries("sma_20", Kernels.sma(c, 20), col(6))
    assertSeries("ema_20", Kernels.ema(c, 20), col(7))
    assertSeries("rsi_14", Kernels.rsi(c, 14), col(8))
    assertSeries("atr_14", Kernels.atr(h, l, c, 14), col(9))
    assertSeries("adx_14", Kernels.adx(h, l, c, 14), col(10))
  }

  test("kernels match the goldens for WMA, MACD, STOCH, DEMA, TEMA, and TRIX") {
    val (h, l, c) = (col(2), col(3), col(4))
    assertSeries("wma_10", Kernels.wma(c, 10), col(11))
    assertSeries("dema_10", Kernels.dema(c, 10), col(28))
    assertSeries("tema_10", Kernels.tema(c, 10), col(29))
    assertSeries("trix_10", Kernels.trix(c, 10), col(30))
    assertSeries("apo_12_26", {
      val f = Kernels.ma(c, 12, 0); val s = Kernels.ma(c, 26, 0)
      Array.tabulate(c.length)(i =>
        if (!f(i).isNaN && !s(i).isNaN) f(i) - s(i) else Double.NaN)
    }, col(31))
    val (dif, sig, hist) = Kernels.macd(c, 12, 26, 9)
    assertSeries("macd", dif, col(15))
    assertSeries("macd_signal", sig, col(16))
    assertSeries("macd_hist", hist, col(17))
    val (slowk, slowd) = Kernels.stoch(h, l, c, 5, 3, 0, 3, 0)
    assertSeries("slowk", slowk, col(18))
    assertSeries("slowd", slowd, col(19))
  }

  test("window-expressed Frames ops match the goldens (BBANDS, CCI, WILLR, MOM)") {
    import org.apache.spark.sql.functions.{col => sc}
    implicit val w = org.apache.spark.sql.expressions.Window
      .partitionBy("symbol").orderBy("ord")
    val df = spark.createDataFrame(
      rows.toSeq.map(r => ("g", r(0).toLong, r(2), r(3), r(4), r(5))))
      .toDF("symbol", "ord", "high", "low", "close", "volume")
    val out = df.select(sc("ord"),
        Frames.mfi(sc("high"), sc("low"), sc("close"), sc("volume"), 14).as("mfi"),
        Frames.cmo(sc("close"), 14).as("cmo"),
        Frames.trange(sc("high"), sc("low"), sc("close")).as("tr"),
        Frames.ad(sc("high"), sc("low"), sc("close"), sc("volume")).as("ad"),
        Frames.obv(sc("close"), sc("volume")).as("obv"),
        Frames.bbandsUpper(sc("close"), 20, 2.0).as("up"),
        Frames.bbandsMiddle(sc("close"), 20).as("mid"),
        Frames.bbandsLower(sc("close"), 20, 2.0).as("lo"),
        Frames.cci(sc("high"), sc("low"), sc("close"), 14).as("cci"),
        Frames.willr(sc("high"), sc("low"), sc("close"), 14).as("willr"),
        Frames.mom(sc("close"), 10).as("mom"),
        Frames.aroonUp(sc("high"), 14).as("ar_up"),
        Frames.aroonDown(sc("low"), 14).as("ar_dn"),
        Frames.ultosc(sc("high"), sc("low"), sc("close"), 7, 14, 28).as("uo"))
      .orderBy("ord").collect()
    def series(name: String) = out.map { r =>
      val i = r.fieldIndex(name); if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
    }
    assertSeries("bb_up", series("up"), col(12))
    assertSeries("bb_mid", series("mid"), col(13))
    assertSeries("bb_low", series("lo"), col(14))
    assertSeries("cci_14", series("cci"), col(20))
    assertSeries("willr_14", series("willr"), col(21))
    assertSeries("mom_10", series("mom"), col(22))
    assertSeries("aroon_up_14", series("ar_up"), col(23))
    assertSeries("aroon_down_14", series("ar_dn"), col(24))
    assertSeries("ultosc_7_14_28", series("uo"), col(25))
    assertSeries("mfi_14", series("mfi"), col(26))
    assertSeries("cmo_14", series("cmo"), col(27))
    assertSeries("trange", series("tr"), col(32))
    // AD/OBV are running sums of ~256 products: allow proportional tolerance
    assertSeries("ad", series("ad"), col(33), tol = 1e-6)
    assertSeries("obv", series("obv"), col(34), tol = 1e-6)
  }

  test("SAR/SAREXT state machines match the independent golden transcription") {
    // flips are discontinuous: any divergence in the sar/ep/af state would
    // explode past any tolerance, so a pass pins the whole trajectory —
    // seeding rule, clamp order, flip emission, and sign convention
    val (h, l) = (col(2), col(3))
    assertSeries("sar_002_02", Kernels.sar(h, l, 0.02, 0.2), col(35))
    assertSeries("sarext_def",
      Kernels.sarext(h, l, 0, 0, 0.02, 0.02, 0.2, 0.02, 0.02, 0.2), col(36))
  }

  test("the MESA/HT family and MAMA match the independent golden transcription") {
    // the one state machine the WITH-RECURSIVE oracles replay from OUR
    // semantics; this pins it against a second implementation (python
    // list shift-registers vs scala ring buffers). atan/sin differences
    // between libm and the JVM are sub-ulp here; the period recursion is
    // contractive, so 1e-8 absolute is far above any accumulated drift
    val c = col(4)
    val m = Cycle.mesa(c)
    assertSeries("ht_dcperiod", m(Cycle.DCPERIOD), col(37))
    assertSeries("ht_dcphase", m(Cycle.DCPHASE), col(38))
    assertSeries("ht_inphase", m(Cycle.INPHASE), col(39))
    assertSeries("ht_quadrature", m(Cycle.QUADRATURE), col(40))
    assertSeries("ht_sine", m(Cycle.SINE), col(41))
    assertSeries("ht_leadsine", m(Cycle.LEADSINE), col(42))
    assertSeries("ht_trendline", m(Cycle.TRENDLINE), col(43))
    assertSeries("ht_trendmode", m(Cycle.TRENDMODE), col(44))
    assertSeries("mama_05_005", m(Cycle.MAMA), col(45))
    assertSeries("fama_05_005", m(Cycle.FAMA), col(46))
  }

  test("the distributed path reproduces the goldens end-to-end") {
    // same contract through the Spark surface (Recursive -> SeriesOps ->
    // Kernels): proves the per-symbol series reassembly, not just the math
    val df = spark.createDataFrame(
      rows.toSeq.map(r => ("g", r(0).toLong, r(2), r(3), r(4))))
      .toDF("symbol", "ord", "high", "low", "close")
    val out = Recursive.multi(df, Seq("high", "low", "close"), Seq(
        "ema_20" -> (a => Kernels.ema(a(2), 20)),
        "rsi_14" -> (a => Kernels.rsi(a(2), 14)),
        "adx_14" -> (a => Kernels.adx(a(0), a(1), a(2), 14))))
      .orderBy("ord").collect()
    def series(idx: Int) = out.map(r => if (r.isNullAt(idx)) Double.NaN else r.getDouble(idx))
    val (e, rI, aI) = (out.head.fieldIndex("ema_20"),
      out.head.fieldIndex("rsi_14"), out.head.fieldIndex("adx_14"))
    assertSeries("spark ema_20", series(e), col(7))
    assertSeries("spark rsi_14", series(rI), col(8))
    assertSeries("spark adx_14", series(aI), col(10))
  }

  test("the 17 hardest pattern recognizers match an independent transcription") {
    // scripts/gen_golden_patterns.py re-reads pattern.rs from scratch —
    // a third opinion uncorrelated with the Scala DSL / DuckDB SQL pair,
    // which share one authoring pass. The crafted trigger blocks give the
    // fixture teeth: every column fires at least once (generator-asserted
    // AND re-asserted here), so an always-zero recognizer cannot pass.
    import org.apache.spark.sql.functions.{col => sc}
    implicit val w = org.apache.spark.sql.expressions.Window
      .partitionBy("symbol").orderBy("ord")
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/talib_golden_patterns.csv"))
    val lines = try src.getLines().toArray finally src.close()
    val names = lines.head.split(",").drop(5)
    val data = lines.tail.map(_.split(",", -1))
    val df = spark.createDataFrame(
      data.toSeq.map(r => ("g", r(0).toLong, r(1).toDouble, r(2).toDouble, r(3).toDouble, r(4).toDouble)))
      .toDF("symbol", "ord", "open", "high", "low", "close")
    val pats = names.map(n => Patterns.all.find(_.name == n)
      .getOrElse(fail(s"golden names a pattern the engine lacks: $n")))
    val out = df.select(sc("ord") +: pats.map(_.column): _*).orderBy("ord").collect()
    names.zipWithIndex.foreach { case (name, j) =>
      val exp = data.map(_(5 + j).toInt)
      val got = out.map(_.getInt(j + 1))
      got.indices.foreach { i =>
        assert(got(i) == exp(i), s"$name[$i]: got ${got(i)}, expected ${exp(i)}")
      }
      assert(exp.exists(_ != 0), s"$name: golden column never fires — fixture lost its teeth")
    }
  }
}
