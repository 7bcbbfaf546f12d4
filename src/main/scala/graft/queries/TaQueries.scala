package graft.queries

import graft.Tables
import graft.ta.{Frames, Recursive}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import Registry.Q

/** Driver-contract query registrations for the TA indicator library
  * (SURVEY.md §2.1–§2.3). EVERY operator carries a DuckDB oracle —
  * frame-expressible ones replay as plain window SQL, recursive (loop-op)
  * ones as list_reduce / WITH RECURSIVE state-machine replays (the
  * `mesaCtes` / fold-CTE generators below); the golden scalatests add
  * reference-valued coverage on top (SURVEY.md §5.3).
  *
  * Output contract per query: columns `(symbol, ord, <outputs>)`, values
  * `round(x, 6) + 0.0` (−0.0 normalized), rows ordered by (symbol, ord) —
  * mirrored exactly in each oracle so the driver's hash compare is stable.
  */
object TaQueries extends Registry {

  private def r6(c: Column): Column = round(c, 6) + lit(0.0)
  private def W: WindowSpec = Window.partitionBy("symbol").orderBy("ord")

  /** Frame-op query over bars: one select, one window exchange, then
    * the single-plan presentation sort ([[Present.sorted]]). */
  private def frameQ(outs: (String, WindowSpec => Column)*): Q = (spark, dir) => {
    val w = W
    Present.sorted(Tables.bars(spark, dir)
      .select(col("symbol") +: col("ord") +: outs.map { case (n, f) => r6(f(w)).as(n) }: _*),
      "symbol", "ord")
  }

  /** Loop-op query: overSeries output (inputs carried) → rounded outputs,
    * sorted like [[frameQ]]: the series-fold kernel loop runs
    * once, feeding the single-partition sort directly. */
  private def recQ(outs: String*)(f: DataFrame => DataFrame): Q = (spark, dir) =>
    Present.sorted(f(Tables.bars(spark, dir))
      .select(col("symbol") +: col("ord") +: outs.map(n => r6(col(n)).as(n)): _*),
      "symbol", "ord")

  private val B = Sql.bars
  private val T = Sql.tail

  // -- shared CTE fragments for the list-fold oracles (recursive family).
  //    Each replays the kernel's sequential IEEE arithmetic via
  //    list_reduce folds so hashes match bit-for-bit (Sql.foldList). --

  /** Per-series cumulative close list. */
  private val closeList =
    s"l AS (SELECT symbol, ord, list(close) OVER wc AS xs FROM bars WINDOW ${Sql.wcDef})"

  /** KAMA(10) replay (Kernels.kama): vol via a rolling (−oldest, +newest)
    * zip fold, then the recursion seeded with the previous value — shared
    * by kama_10 and the matype-6 dispatcher leg. */
  private def kamaSql(alias: String): String = {
    val fast = 2.0 / (2 + 1); val slow = 2.0 / (30 + 1)
    val fs = Sql.dlit(fast - slow); val sl = Sql.dlit(slow)
    val er = "CASE WHEN vol = 0.0 THEN 0.0 ELSE dir / vol END"
    s"""$B, t AS (
      |  SELECT symbol, ord, close, abs(close - lag(close, 1) OVER w) AS d,
      |    abs(close - lag(close, 10) OVER w) AS dir
      |  FROM bars WINDOW ${Sql.wDef}
      |), l AS (
      |  SELECT symbol, ord, close, dir, list(close) OVER wc AS xs, ${Sql.filt("d")} AS ds FROM t WINDOW ${Sql.wcDef}
      |), v AS (
      |  SELECT symbol, ord, close, dir, xs,
      |    CASE WHEN len(ds) >= 10 THEN ${Sql.zipFold(Sql.seqSum("ds", 10), "ds[11:]", "ds[1:len(ds)-10]", "(acc.list_1 - z.list_2) + z.list_1")} END AS vol
      |  FROM l
      |), sc AS (
      |  SELECT symbol, ord, xs,
      |    CASE WHEN vol IS NULL THEN NULL ELSE ($er * $fs + $sl) * ($er * $fs + $sl) END AS sc
      |  FROM v
      |), scl AS (SELECT symbol, ord, xs, ${Sql.filt("sc")} AS scs FROM sc WINDOW ${Sql.wcDef})
      |SELECT symbol, ord, ${Sql.r6(s"CASE WHEN len(xs) >= 11 THEN ${Sql.zipFold("xs[10]", "xs[11:]", "scs", "acc.list_1 + z.list_2 * (z.list_1 - acc.list_1)")} END", alias)}
      |FROM scl $T""".stripMargin
  }

  /** True range (NULL on each series' first row) + filtered list (Kernels.trange). */
  private val trList =
    s"""t AS (
       |  SELECT symbol, ord, close, CASE WHEN lag(close, 1) OVER w IS NULL THEN NULL
       |    ELSE greatest(high - low, abs(high - lag(close, 1) OVER w), abs(low - lag(close, 1) OVER w)) END AS tr
       |  FROM bars WINDOW ${Sql.wDef}
       |), l AS (SELECT symbol, ord, close, ${Sql.filt("tr")} AS ys FROM t WINDOW ${Sql.wcDef})""".stripMargin

  /** Wilder up/down averages (Kernels.rsi seed + recurrence). */
  private val rsiCtes =
    s"""t AS (
       |  SELECT symbol, ord, close - lag(close, 1) OVER w AS d FROM bars WINDOW ${Sql.wDef}
       |), u AS (
       |  SELECT symbol, ord,
       |    CASE WHEN d IS NULL THEN NULL WHEN d > 0 THEN d ELSE 0.0 END AS up,
       |    CASE WHEN d IS NULL THEN NULL WHEN d < 0 THEN -d ELSE 0.0 END AS dn
       |  FROM t
       |), lu AS (SELECT symbol, ord, ${Sql.filt("up")} AS ups, ${Sql.filt("dn")} AS dns FROM u WINDOW ${Sql.wcDef}),
       |g AS (SELECT symbol, ord, ${Sql.wilderFold("ups", 14)} AS ag, ${Sql.wilderFold("dns", 14)} AS al FROM lu)""".stripMargin
  private val rsiExpr =
    "CASE WHEN ag IS NULL THEN NULL WHEN al = 0.0 THEN 100.0 ELSE 100.0 - 100.0 / (1.0 + ag / al) END"

  /** ±DM/TR → Wilder-sum-smoothed → DI/DX pipeline (Kernels.dmPipeline). */
  private val dmCtes =
    s"""t AS (
       |  SELECT symbol, ord, high - lag(high, 1) OVER w AS up, lag(low, 1) OVER w - low AS dn,
       |    CASE WHEN lag(close, 1) OVER w IS NULL THEN NULL
       |      ELSE greatest(high - low, abs(high - lag(close, 1) OVER w), abs(low - lag(close, 1) OVER w)) END AS tr
       |  FROM bars WINDOW ${Sql.wDef}
       |), dm AS (
       |  SELECT symbol, ord,
       |    CASE WHEN up IS NULL THEN NULL WHEN up > dn AND up > 0 THEN up ELSE 0.0 END AS pdm,
       |    CASE WHEN dn IS NULL THEN NULL WHEN dn > up AND dn > 0 THEN dn ELSE 0.0 END AS mdm,
       |    tr
       |  FROM t
       |), dl AS (SELECT symbol, ord, ${Sql.filt("pdm")} AS pdms, ${Sql.filt("mdm")} AS mdms, ${Sql.filt("tr")} AS trs FROM dm WINDOW ${Sql.wcDef}),
       |sm AS (SELECT symbol, ord, ${Sql.wilderSumFold("pdms", 14)} AS spdm, ${Sql.wilderSumFold("mdms", 14)} AS smdm, ${Sql.wilderSumFold("trs", 14)} AS str FROM dl),
       |di AS (SELECT symbol, ord, spdm, smdm,
       |  CASE WHEN spdm IS NULL THEN NULL WHEN str = 0 THEN 0.0 ELSE 100.0 * spdm / str END AS pdi,
       |  CASE WHEN smdm IS NULL THEN NULL WHEN str = 0 THEN 0.0 ELSE 100.0 * smdm / str END AS mdi
       |  FROM sm),
       |dxt AS (SELECT symbol, ord, spdm, smdm, pdi, mdi,
       |  CASE WHEN pdi IS NULL THEN NULL WHEN pdi + mdi = 0 THEN 0.0 ELSE 100.0 * abs(pdi - mdi) / (pdi + mdi) END AS dx
       |  FROM di)""".stripMargin

  private def dmQ(c: String, out: String): String =
    s"$B, $dmCtes SELECT symbol, ord, ${Sql.r6(c, out)} FROM dxt $T"

  /** ADX = Wilder average of DX (Kernels.adx). */
  private val adxCtes =
    s"""$dmCtes, xl AS (SELECT symbol, ord, ${Sql.filt("dx")} AS dxs FROM dxt WINDOW ${Sql.wcDef}),
       |ax AS (SELECT symbol, ord, ${Sql.wilderFold("dxs", 14)} AS adx FROM xl)""".stripMargin

  /** SAR / SAREXT oracle via a RECURSIVE CTE that replays the kernel's
    * per-bar state machine (long?, sar, ep, af) one row at a time —
    * list_reduce struct accumulators are unusable here (DuckDB 1.0
    * evaluates later struct fields against a partially-updated
    * accumulator), and the recursion is O(rows), not O(rows²).
    * `signed` = SAREXT's emit-short-as-negative convention (Kernels.sar /
    * Kernels.sarext; plain SAR ≡ SAREXT with symmetric accel and the
    * unsigned output). Lateral column aliases keep each state component
    * written once. */
  private def sarOracle(signed: Boolean, outName: String,
                        aIL: Double, aL: Double, aML: Double,
                        aIS: Double, aS: Double, aMS: Double, oor: Double): String = {
    import Sql.dlit
    val (ail, al, aml, ais, as_, ams) = (dlit(aIL), dlit(aL), dlit(aML), dlit(aIS), dlit(aS), dlit(aMS))
    val op = s"(1.0 + ${dlit(oor)})"; val om = s"(1.0 - ${dlit(oor)})"
    val outExpr =
      if (signed)
        s"""CASE WHEN lng0 = 1 THEN (CASE WHEN flip = 1 THEN -(ep0 * $op) ELSE sar0 END)
           |         ELSE (CASE WHEN flip = 1 THEN ep0 * $om ELSE -sar0 END) END AS out,""".stripMargin
      else "CASE WHEN flip = 1 THEN ep0 ELSE sar0 END AS out,"
    def step(init: Boolean): String = {
      val enter =
        if (init)
          s"""CASE WHEN (h - ph) >= (pl - l) THEN ${dlit(1.0)} ELSE ${dlit(0.0)} END AS lng0,
             |    CASE WHEN lng0 = 1 THEN pl ELSE ph END AS sar0,
             |    CASE WHEN lng0 = 1 THEN h ELSE l END AS ep0,
             |    CASE WHEN lng0 = 1 THEN $ail ELSE $ais END AS af0,""".stripMargin
        else "plng AS lng0, psar AS sar0, pep AS ep0, paf AS af0,"
      s"""SELECT symbol, ord, rn, h, l, $enter
         |    CASE WHEN lng0 = 1 THEN (CASE WHEN l < sar0 THEN 1 ELSE 0 END)
         |         ELSE (CASE WHEN h > sar0 THEN 1 ELSE 0 END) END AS flip,
         |    $outExpr
         |    CASE WHEN flip = 1 THEN 1.0 - lng0 ELSE lng0 END AS lng,
         |    CASE WHEN flip = 1 THEN (CASE WHEN lng0 = 1 THEN l ELSE h END)
         |         WHEN lng0 = 1 THEN (CASE WHEN h > ep0 THEN h ELSE ep0 END)
         |         ELSE (CASE WHEN l < ep0 THEN l ELSE ep0 END) END AS ep,
         |    CASE WHEN flip = 1 THEN (CASE WHEN lng0 = 1 THEN $ais ELSE $ail END)
         |         WHEN lng0 = 1 THEN (CASE WHEN h > ep0 THEN least(af0 + $al, $aml) ELSE af0 END)
         |         ELSE (CASE WHEN l < ep0 THEN least(af0 + $as_, $ams) ELSE af0 END) END AS af,
         |    CASE WHEN lng0 = 1 AND flip = 1 THEN greatest((ep0 * $op) + $ais * (l - (ep0 * $op)), h, ph)
         |         WHEN lng0 = 1 THEN least(sar0 + af * (ep - sar0), l, pl)
         |         WHEN flip = 1 THEN least((ep0 * $om) + $ail * (h - (ep0 * $om)), l, pl)
         |         ELSE greatest(sar0 + af * (ep - sar0), h, ph) END AS sar""".stripMargin
    }
    val outc = "symbol, ord, rn, h, l, lng, sar, ep, af, out"
    s"""${B.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |rr AS (SELECT symbol, ord, high, low, row_number() OVER (PARTITION BY symbol ORDER BY ord) AS rn FROM bars),
       |st AS (
       |  SELECT $outc FROM (
       |    ${step(init = true)}
       |    FROM (SELECT r2.symbol, r2.ord, r2.rn, r2.high AS h, r2.low AS l, r1.high AS ph, r1.low AS pl
       |          FROM rr r2 JOIN rr r1 ON r1.symbol = r2.symbol AND r1.rn = 1 AND r2.rn = 2)
       |  )
       |  UNION ALL
       |  SELECT $outc FROM (
       |    ${step(init = false)}
       |    FROM (SELECT r.symbol, r.ord, r.rn, r.high AS h, r.low AS l, st.h AS ph, st.l AS pl,
       |                 st.lng AS plng, st.sar AS psar, st.ep AS pep, st.af AS paf
       |          FROM st JOIN rr r ON r.symbol = st.symbol AND r.rn = st.rn + 1)
       |  )
       |)
       |SELECT b.symbol AS symbol, b.ord AS ord, round(st.out, 6) + 0.0 AS $outName
       |FROM bars b LEFT JOIN st ON st.symbol = b.symbol AND st.ord = b.ord
       |ORDER BY b.symbol, b.ord""".stripMargin
  }

  /** Vectorized-backtester state CTE: a RECURSIVE CTE replays
    * Vectorized.step per (symbol, bar) — (position, cash, entryCost,
    * trades, wins) — with the demo's bounded price and pseudo-random
    * signals inlined (see btSignals). Exposes st(symbol, ord, rn, price,
    * pos, cash, entry, trades, wins, equity). Prefix with
    * `B.replaceFirst("WITH ", "WITH RECURSIVE ")`. */
  private lazy val btStateCtes: String = {
    import Sql.dlit
    val ic = dlit(100000.0); val ps = dlit(1.0)
    val bsl = dlit(0.0); val ssl = dlit(0.0)
    val bcr = dlit(0.0003); val scr = dlit(0.0003); val mc = dlit(5.0)
    def step(init: Boolean): String = {
      val enter =
        if (init) s"${dlit(0.0)} AS pos0, $ic AS cash0, ${dlit(0.0)} AS entry0, 0 AS tr0, 0 AS wn0,"
        else "ppos AS pos0, pcash AS cash0, pentry AS entry0, ptr AS tr0, pwn AS wn0,"
      s"""SELECT symbol, ord, rn, price, $enter
         |    floor((cash0 + pos0 * price) * $ps / (price + $bsl)) AS qty,
         |    (price > 0 AND coalesce(bsig, false) AND pos0 = 0 AND qty > 0) AS buying,
         |    (price > 0 AND coalesce(ssig, false) AND pos0 > 0) AS selling,
         |    qty * (price + $bsl) AS cost,
         |    greatest(qty * (price + $bsl) * $bcr, $mc) AS bfee,
         |    pos0 * (price - $ssl) AS rev,
         |    greatest(pos0 * (price - $ssl) * $scr, $mc) AS sfee,
         |    CASE WHEN buying THEN pos0 + qty WHEN selling THEN 0.0 ELSE pos0 END AS pos,
         |    CASE WHEN buying THEN cash0 - cost - bfee WHEN selling THEN cash0 + (rev - sfee) ELSE cash0 END AS cash,
         |    CASE WHEN buying THEN (pos0 + qty) * price ELSE entry0 END AS entry,
         |    CASE WHEN buying THEN tr0 + 1 ELSE tr0 END AS trades,
         |    CASE WHEN selling AND (rev - sfee) > entry0 THEN wn0 + 1 ELSE wn0 END AS wins,
         |    cash + pos * price AS equity""".stripMargin
    }
    val outc = "symbol, ord, rn, price, pos, cash, entry, trades, wins, equity"
    s"""sigs AS (
       |  SELECT symbol, ord, 50.0 + (close % 2.0) AS price,
       |    (ord * 2654435761 % 97 < 14) AS bsig,
       |    (ord * 2654435761 % 97 >= 83) AS ssig
       |  FROM bars
       |),
       |rr AS (SELECT *, row_number() OVER (PARTITION BY symbol ORDER BY ord) AS rn FROM sigs),
       |st AS (
       |  SELECT $outc FROM (${step(init = true)} FROM rr WHERE rn = 1)
       |  UNION ALL
       |  SELECT $outc FROM (
       |    ${step(init = false)}
       |    FROM (SELECT r.symbol, r.ord, r.rn, r.price, r.bsig, r.ssig,
       |                 st.pos AS ppos, st.cash AS pcash, st.entry AS pentry, st.trades AS ptr, st.wins AS pwn
       |          FROM st JOIN rr r ON r.symbol = st.symbol AND r.rn = st.rn + 1)
       |  )
       |)""".stripMargin
  }

  /** MESA state CTE: a RECURSIVE CTE replays Cycle.mesa per (symbol, bar)
    * — the 4-3-2-1 smoother is a plain window column, and the three 7-tap
    * rings (detrend/Q1/I1) plus the nine scalars (I2, Q2, Re, Im, period,
    * smoothPeriod, phase, MAMA, FAMA) are 30 carried state columns whose
    * update expressions mirror the kernel's IEEE operation order exactly.
    * atan/sin agree bit-for-bit between the JVM (StrictMath fdlibm —
    * Math.atan has no HotSpot intrinsic) and DuckDB's libm on this data,
    * verified by the hash gate at sf0.01 and sf0.001. Exposes
    * st(symbol, ord, rn, x, d0..d6, qa0..qa6, ia0..ia6, i2v, q2v, rev,
    * imv, per, sper, ph, mam, fam); outputs gate on rn >= 32. */
  private lazy val mesaCtes: String = {
    import Sql.dlit
    val keys = (0 to 6).map(j => s"d$j") ++ (0 to 6).map(j => s"qa$j") ++
      (0 to 6).map(j => s"ia$j") ++
      Seq("i2v", "q2v", "rev", "imv", "per", "sper", "ph", "mam", "fam")
    def step(init: Boolean): String = {
      val p: String => String =
        if (init) _ => "CAST(0 AS DOUBLE)" else k => s"p_$k"
      val prevper = if (init) "CAST(6 AS DOUBLE)" else "p_per"
      val rings = ((1 to 6).map(j => s"${p(s"d${j - 1}")} AS d$j") ++
        (1 to 6).map(j => s"${p(s"qa${j - 1}")} AS qa$j") ++
        (1 to 6).map(j => s"${p(s"ia${j - 1}")} AS ia$j")).mkString(", ")
      val (a1, a2) = (dlit(0.0962), dlit(0.5769))
      s"""SELECT symbol, ord, rn, x,
         |    $prevper AS prevper,
         |    ${dlit(0.075)} * prevper + ${dlit(0.54)} AS adj,
         |    ($a1*sm + $a2*sm2 - $a2*sm4 - $a1*sm6) * adj AS d0,
         |    ($a1*d0 + $a2*${p("d1")} - $a2*${p("d3")} - $a1*${p("d5")}) * adj AS qa0,
         |    ${p("d2")} AS ia0,
         |    ($a1*ia0 + $a2*${p("ia1")} - $a2*${p("ia3")} - $a1*${p("ia5")}) * adj AS ji,
         |    ($a1*qa0 + $a2*${p("qa1")} - $a2*${p("qa3")} - $a1*${p("qa5")}) * adj AS jq,
         |    ${dlit(0.2)}*(ia0 - jq) + ${dlit(0.8)}*${p("i2v")} AS i2v,
         |    ${dlit(0.2)}*(qa0 + ji) + ${dlit(0.8)}*${p("q2v")} AS q2v,
         |    ${dlit(0.2)}*(i2v*${p("i2v")} + q2v*${p("q2v")}) + ${dlit(0.8)}*${p("rev")} AS rev,
         |    ${dlit(0.2)}*(i2v*${p("q2v")} - q2v*${p("i2v")}) + ${dlit(0.8)}*${p("imv")} AS imv,
         |    CASE WHEN imv != 0.0 AND rev != 0.0 THEN (2.0 * pi()) / atan(imv / rev) ELSE ${p("per")} END AS praw,
         |    least(greatest(praw, ${dlit(0.67)}*prevper), ${dlit(1.5)}*prevper) AS per1,
         |    least(greatest(per1, 6.0), 50.0) AS per2,
         |    ${dlit(0.2)}*per2 + ${dlit(0.8)}*prevper AS per,
         |    ${dlit(0.33)}*per + ${dlit(0.67)}*${p("sper")} AS sper,
         |    CASE WHEN ia0 != 0.0 THEN atan(qa0 / ia0) * 180.0 / pi() ELSE 0.0 END AS ph,
         |    CASE WHEN (${p("ph")} - ph) < 1.0 THEN 1.0 ELSE ${p("ph")} - ph END AS dph,
         |    least(greatest(${dlit(0.5)} / dph, ${dlit(0.05)}), ${dlit(0.5)}) AS alph,
         |    alph * x + (1.0 - alph) * ${p("mam")} AS mam,
         |    ${dlit(0.5)}*alph*mam + (1.0 - ${dlit(0.5)}*alph) * ${p("fam")} AS fam,
         |    $rings""".stripMargin
    }
    val state = "symbol, ord, rn, x, " + keys.mkString(", ")
    s"""rr AS (
       |  SELECT symbol, ord, close AS x,
       |    row_number() OVER wo AS rn,
       |    CASE WHEN row_number() OVER wo >= 4
       |         THEN (4.0*close + 3.0*lag(close,1) OVER wo + 2.0*lag(close,2) OVER wo + lag(close,3) OVER wo) * ${dlit(0.1)}
       |         ELSE 0.0 END AS sm0
       |  FROM bars WINDOW wo AS (PARTITION BY symbol ORDER BY ord)
       |),
       |r2 AS (
       |  SELECT symbol, ord, x, rn, sm0 AS sm,
       |    coalesce(lag(sm0,2) OVER wo2, 0.0) AS sm2,
       |    coalesce(lag(sm0,4) OVER wo2, 0.0) AS sm4,
       |    coalesce(lag(sm0,6) OVER wo2, 0.0) AS sm6
       |  FROM rr WINDOW wo2 AS (PARTITION BY symbol ORDER BY ord)
       |),
       |st AS (
       |  SELECT $state FROM (${step(init = true)} FROM r2 WHERE rn = 7)
       |  UNION ALL
       |  SELECT $state FROM (
       |    ${step(init = false)}
       |    FROM (SELECT r.symbol, r.ord, r.rn, r.x, r.sm, r.sm2, r.sm4, r.sm6,
       |                 ${keys.map(k => s"st.$k AS p_$k").mkString(", ")}
       |          FROM st JOIN r2 r ON r.symbol = st.symbol AND r.rn = st.rn + 1)
       |  )
       |)""".stripMargin
  }

  /** One MESA-family oracle: `outsel` projects from alias `s` (the st row
    * for this bar, NULL inside the 32-bar warmup). */
  private def mesaQ(outsel: String): String =
    s"""${B.replaceFirst("WITH ", "WITH RECURSIVE ")}, $mesaCtes
       |SELECT b.symbol AS symbol, b.ord AS ord, $outsel
       |FROM bars b LEFT JOIN (SELECT * FROM st WHERE rn >= 32) s ON s.symbol = b.symbol AND s.ord = b.ord
       |ORDER BY b.symbol, b.ord""".stripMargin

  /** The bt_summary / bt_summary_bench oracle: Metrics replayed per symbol
    * over the recursive equity curve. `withBench` adds the CAPM leg — the
    * benchmark is the symbol's own buy-and-hold PRICE series, its returns
    * folded with the same sequential left-fold order Metrics uses
    * (benchReturns(0) = 0 because prevB seeds at curve(0); covariance and
    * benchmark variance are ddof-divided zip/list folds; alpha = annret −
    * (rf + β·(benchAnn − rf)) — metrics.rs:7-152). */
  private def btSummaryOracle(withBench: Boolean): String = {
    val ic = Sql.dlit(100000.0)
    val rbCol = if (!withBench) "" else
      """,
        |    CASE WHEN coalesce(lag(price) OVER w, price) > 0
        |         THEN (price - coalesce(lag(price) OVER w, price)) / coalesce(lag(price) OVER w, price)
        |         ELSE 0.0 END AS rb""".stripMargin
    val aggBench = if (!withBench) "" else
      """,
        |    list(rb ORDER BY rn) AS bs,
        |    min_by(price, rn) AS bstart,
        |    max_by(price, rn) AS bend""".stripMargin
    val m1Bench = if (!withBench) "" else
      """, bs, bstart, bend,
        |    list_reduce(list_prepend(0.0, bs), (a, x) -> a + x) / days AS meanb""".stripMargin
    val m2Bench = if (!withBench) "" else s""",
        |    CASE WHEN list_reduce(list_prepend(0.0, list_transform(bs, x -> (x - meanb) * (x - meanb))), (a, x) -> a + x) / ddof > 0.0
        |         THEN (${Sql.zipFold("0.0", "rs", "bs",
                   "acc.list_1 + (z.list_1 - meanret) * (z.list_2 - meanb)")} / ddof)
        |              / (list_reduce(list_prepend(0.0, list_transform(bs, x -> (x - meanb) * (x - meanb))), (a, x) -> a + x) / ddof)
        |         ELSE 0.0 END AS beta,
        |    CASE WHEN bstart > 0.0 THEN (bend - bstart) / bstart ELSE 0.0 END AS btotal""".stripMargin
    val (alphaSel, betaSel) =
      if (!withBench) ("0.0", "0.0")
      else ("annret - (0.03 + beta * ((CASE WHEN btotal > -1.0 THEN pow(1.0 + btotal, 252.0 / days) - 1.0 ELSE -1.0 END) - 0.03))",
            "beta")
    s"""${B.replaceFirst("WITH ", "WITH RECURSIVE ")}, $btStateCtes,
      |curve AS (
      |  SELECT symbol, rn, equity, trades, wins, price,
      |    CASE WHEN coalesce(lag(equity) OVER w, $ic) > 0
      |         THEN (equity - coalesce(lag(equity) OVER w, $ic)) / coalesce(lag(equity) OVER w, $ic)
      |         ELSE 0.0 END AS r,
      |    greatest($ic, max(equity) OVER wcm) AS peak$rbCol
      |  FROM st WINDOW w AS (PARTITION BY symbol ORDER BY rn),
      |              wcm AS (PARTITION BY symbol ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |),
      |agg AS (
      |  SELECT symbol,
      |    CAST(count(*) AS DOUBLE) AS days,
      |    max(CASE WHEN peak > 0 THEN (peak - equity) / peak ELSE 0.0 END) AS maxdd,
      |    list(r ORDER BY rn) AS rs,
      |    max_by(equity, rn) AS finaleq,
      |    max_by(trades, rn) AS ntrades,
      |    max_by(wins, rn) AS nwins$aggBench
      |  FROM curve GROUP BY symbol
      |),
      |m1 AS (
      |  SELECT symbol, days, maxdd, rs, ntrades, nwins,
      |    (finaleq - $ic) / $ic AS tr,
      |    list_reduce(list_prepend(0.0, rs), (a, x) -> a + x) / days AS meanret,
      |    greatest(days - 1.0, 1.0) AS ddof$m1Bench
      |  FROM agg
      |),
      |m2 AS (
      |  SELECT symbol, days, maxdd, tr, ntrades, nwins,
      |    CASE WHEN tr > -1.0 THEN pow(1.0 + tr, 252.0 / days) - 1.0 ELSE -1.0 END AS annret,
      |    sqrt(list_reduce(list_prepend(0.0, list_transform(rs, x -> (x - meanret) * (x - meanret))), (a, x) -> a + x) / ddof) * sqrt(252.0) AS annvol$m2Bench
      |  FROM m1
      |)
      |SELECT symbol,
      |  ${Sql.r6("annret", "annualized_return")},
      |  ${Sql.r6("maxdd", "max_drawdown")},
      |  ${Sql.r6(alphaSel, "alpha")},
      |  ${Sql.r6(betaSel, "beta")},
      |  ${Sql.r6("CASE WHEN annvol > 0 THEN (annret - 0.03) / annvol ELSE 0.0 END", "sharpe_ratio")},
      |  ${Sql.r6("greatest(tr, 0.0)", "max_profit")},
      |  ${Sql.r6("CASE WHEN ntrades > 0 THEN CAST(nwins AS DOUBLE) / ntrades ELSE 0.0 END", "win_rate")},
      |  ${Sql.r6("CAST(ntrades AS DOUBLE)", "total_trades")}
      |FROM m2 ORDER BY symbol""".stripMargin
  }

  /** bt_sequential oracle: the single-asset event loop as a recursive CTE
    * — state (cash, position, price board), the momentum signals as
    * window lags, fills replaying ExecutionEngine/Portfolio arithmetic
    * (cash − (cost+fee) on buy, cash + (rev−fee) on sell, board posted
    * for every VALIDATED order even when the fill is rejected). */
  private lazy val btSeqOracle: String = {
    import Sql.dlit
    val ic = dlit(100000.0); val mc = dlit(5.0); val rate = dlit(0.0003)
    def step(init: Boolean): String = {
      val enter =
        if (init) s"$ic AS cash0, CAST(0 AS DOUBLE) AS pos0, CAST(0 AS DOUBLE) AS board0,"
        else "pcash AS cash0, ppos AS pos0, pboard AS board0,"
      s"""SELECT ord, rn, close, $enter
         |    coalesce(buy, false) AS b, coalesce(sell, false) AS s,
         |    CASE WHEN b OR s THEN close ELSE board0 END AS board,
         |    10.0 * close AS notional,
         |    greatest(10.0 * close * $rate, $mc) AS fee,
         |    (b AND cash0 >= notional + fee) AS canbuy,
         |    (s AND pos0 >= 10.0) AS cansell,
         |    CASE WHEN canbuy THEN cash0 - (notional + fee)
         |         WHEN cansell THEN cash0 + (notional - fee) ELSE cash0 END AS cash,
         |    CASE WHEN canbuy THEN pos0 + 10.0 WHEN cansell THEN pos0 - 10.0 ELSE pos0 END AS pos,
         |    cash + pos * board AS equity""".stripMargin
    }
    val outc = "ord, rn, close, board, cash, pos, equity"
    s"""${B.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |s0 AS (
       |  SELECT ord, close, row_number() OVER wo AS rn,
       |         (close < lag(close,1) OVER wo AND lag(close,1) OVER wo < lag(close,2) OVER wo) AS buy,
       |         (close > lag(close,1) OVER wo AND lag(close,1) OVER wo > lag(close,2) OVER wo) AS sell
       |  FROM bars WHERE symbol = 'click_0' WINDOW wo AS (ORDER BY ord)
       |),
       |st AS (
       |  SELECT $outc FROM (${step(init = true)} FROM s0 WHERE rn = 1)
       |  UNION ALL
       |  SELECT $outc FROM (
       |    ${step(init = false)}
       |    FROM (SELECT r.ord, r.rn, r.close, r.buy, r.sell,
       |                 st.cash AS pcash, st.pos AS ppos, st.board AS pboard
       |          FROM st JOIN s0 r ON r.rn = st.rn + 1)
       |  )
       |)
       |SELECT ord, ${Sql.r6("equity", "equity")} FROM st ORDER BY ord""".stripMargin
  }

  /** bt_multi_asset oracle: the four-asset event loop over the ALIGNED
    * grid as a recursive CTE. Each asset's fill is one NESTED subquery
    * level (not a lateral-alias chain — DuckDB expands those macro-style
    * and the four-level chain went exponential), so within-period cash
    * consumption sequences exactly like the Portfolio's queue order.
    * Zero-price (default-filled) rows fail order validation and post no
    * board price, like OrderContext. */
  private lazy val btMultiOracle: String = {
    import Sql.dlit
    val ic = dlit(100000.0); val mc = dlit(5.0); val rate = dlit(0.0003)
    val syms = Seq("click_0", "click_1", "view_0", "view_1")
    val base = "ord, rn, " + (0 until 4).map(k => s"c_$k, b_$k, s_$k").mkString(", ")
    def assetBlock(k: Int, inner: String): String = {
      val carry = ((0 until k).map(j => s"pos_$j, board_$j") ++
        (k + 1 until 4).map(j => s"pos0_$j, board0_$j")).mkString(", ")
      val carryC = if (carry.nonEmpty) carry + ", " else ""
      s"""SELECT $base, $carryC
         |      CASE WHEN ob OR os THEN c_$k ELSE board0_$k END AS board_$k,
         |      CASE WHEN ob AND cash_$k >= notional + fee THEN cash_$k - (notional + fee)
         |           WHEN os AND pos0_$k >= 10.0 THEN cash_$k + (notional - fee) ELSE cash_$k END AS cash_${k + 1},
         |      CASE WHEN ob AND cash_$k >= notional + fee THEN pos0_$k + 10.0
         |           WHEN os AND pos0_$k >= 10.0 THEN pos0_$k - 10.0 ELSE pos0_$k END AS pos_$k
         |    FROM (
         |      SELECT *,
         |        coalesce(b_$k, false) AND c_$k > 0 AS ob,
         |        coalesce(s_$k, false) AND c_$k > 0 AS os,
         |        10.0 * c_$k AS notional,
         |        greatest(10.0 * c_$k * $rate, $mc) AS fee
         |      FROM ($inner)
         |    )""".stripMargin
    }
    def step(init: Boolean): String = {
      val src =
        if (init)
          s"SELECT $base, $ic AS cash_0, " +
            (0 until 4).map(k => s"CAST(0 AS DOUBLE) AS pos0_$k, CAST(0 AS DOUBLE) AS board0_$k").mkString(", ") +
            " FROM s0 WHERE rn = 1"
        else
          s"SELECT r.ord, r.rn, " + (0 until 4).map(k => s"r.c_$k, r.b_$k, r.s_$k").mkString(", ") +
            ", st.cash AS cash_0, " +
            (0 until 4).map(k => s"st.pos_${k}o AS pos0_$k, st.board_${k}o AS board0_$k").mkString(", ") +
            " FROM st JOIN s0 r ON r.rn = st.rn + 1"
      val inner = (0 until 4).foldLeft(src)((acc, k) => assetBlock(k, acc))
      val eq = "cash_4 + " + (0 until 4).map(k => s"pos_$k * board_$k").mkString(" + ")
      s"SELECT ord, rn, cash_4 AS cash, " +
        (0 until 4).map(k => s"pos_$k AS pos_${k}o, board_$k AS board_${k}o").mkString(", ") +
        s", $eq AS equity FROM ($inner)"
    }
    val outc = "ord, rn, cash, " +
      (0 until 4).map(k => s"pos_${k}o, board_${k}o").mkString(", ") + ", equity"
    val symCases = syms.zipWithIndex.map { case (s, k) =>
      s"max(CASE WHEN symbol = '$s' THEN close END) AS c_$k" }.mkString(", ")
    val sigCols = (0 until 4).map(k =>
      s"(c_$k < lag(c_$k,1) OVER wo AND lag(c_$k,1) OVER wo < lag(c_$k,2) OVER wo) AS b_$k, " +
      s"(c_$k > lag(c_$k,1) OVER wo AND lag(c_$k,1) OVER wo > lag(c_$k,2) OVER wo) AS s_$k").mkString(", ")
    val symsIn = syms.map(s => s"'$s'").mkString(", ")
    s"""${B.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |sparse AS (SELECT symbol, ord, close FROM bars WHERE symbol IN ($symsIn)),
       |dates AS (SELECT DISTINCT ord FROM sparse),
       |syms AS (SELECT DISTINCT symbol FROM sparse),
       |grid AS (SELECT d.ord, s.symbol FROM dates d CROSS JOIN syms s),
       |j AS (SELECT g.ord, g.symbol, sp.close FROM grid g LEFT JOIN sparse sp ON sp.ord = g.ord AND sp.symbol = g.symbol),
       |f AS (SELECT ord, symbol, coalesce(last_value(close IGNORE NULLS) OVER wf, 0.0) AS close
       |      FROM j WINDOW wf AS (PARTITION BY symbol ORDER BY ord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |piv AS (SELECT ord, $symCases FROM f GROUP BY ord),
       |s0 AS (SELECT ord, row_number() OVER wo AS rn, c_0, c_1, c_2, c_3, $sigCols
       |       FROM piv WINDOW wo AS (ORDER BY ord)),
       |st AS (
       |  SELECT $outc FROM (${step(init = true)})
       |  UNION ALL
       |  SELECT $outc FROM (${step(init = false)})
       |)
       |SELECT ord, ${Sql.r6("equity", "equity")} FROM st ORDER BY ord""".stripMargin
  }

  /** MACD line + signal + hist via EMA folds (Kernels.macd, 12/26/9). */
  private lazy val macdSql =
    s"""$B, l AS (SELECT symbol, ord, list(close) OVER wc AS xs FROM bars WINDOW ${Sql.wcDef}),
       |m AS (SELECT symbol, ord, ${Sql.emaList("xs", 12)} - ${Sql.emaList("xs", 26)} AS macd FROM l),
       |ml AS (SELECT symbol, ord, macd, ${Sql.filt("macd")} AS ys FROM m WINDOW ${Sql.wcDef}),
       |s AS (SELECT symbol, ord, macd, ${Sql.emaList("ys", 9)} AS sig FROM ml)
       |SELECT symbol, ord, ${Sql.r6("macd", "macd")}, ${Sql.r6("sig", "macd_signal")},
       |  ${Sql.r6("macd - sig", "macd_hist")} FROM s $T""".stripMargin

  // ---------------------------------------------------------------- entries

  val entries: Seq[Entry] = Seq(

    // ---- overlap studies, frame-expressible (oracle-checked) ----

    Entry("sma_20",
      frameQ("sma" -> (w => Frames.sma(col("close"), 20)(w))),
      Some(s"""$B SELECT symbol, ord, ${Sql.gatedR6("close", 20, "avg(close) OVER wn20", "sma")}
        |FROM bars ${Sql.windows(20)} $T""".stripMargin)),

    Entry("wma_10",
      frameQ("wma" -> (w => Frames.wma(col("close"), 10)(w))),
      Some {
        val n = 10
        val terms = (0 until n).map(k =>
          if (k == 0) s"close * $n" else s"lag(close, $k) OVER w * ${n - k}").mkString(" + ")
        s"""$B SELECT symbol, ord, ${Sql.gatedR6("close", n, s"($terms) / ${n * (n + 1) / 2}.0", "wma")}
          |FROM bars ${Sql.windows(n)} $T""".stripMargin
      }),

    Entry("ma_10_2",
      // MA dispatcher with matype 2 (WMA): kernel path, same math as the
      // Frames wma_10 oracle (valid-window == physical-window on null-free
      // bars), so the dispatcher itself is oracle-checked.
      recQ("ma")(df => Recursive.ma(df, "close", 10, 2, out = "ma")),
      Some {
        val n = 10
        val terms = (0 until n).map(k =>
          if (k == 0) s"close * $n" else s"lag(close, $k) OVER w * ${n - k}").mkString(" + ")
        s"""$B SELECT symbol, ord, ${Sql.gatedR6("close", n, s"($terms) / ${n * (n + 1) / 2}.0", "ma")}
          |FROM bars ${Sql.windows(n)} $T""".stripMargin
      }),

    // ---- MA dispatcher legs (matypes 1,3..8): the same kernels the
    // families verify below, routed through Kernels.ma so every dispatch
    // arm is driver-visible (matype 0 is covered by apo/macdext, 2 above;
    // 7 stubs to SMA in the reference — overlap.rs:857-869 — and the stub
    // behavior is pinned by its own SMA oracle here).
    Entry("ma_10_1",
      recQ("ma")(df => Recursive.ma(df, "close", 10, 1, out = "ma")),
      Some(s"""$B, $closeList
        |SELECT symbol, ord, ${Sql.r6(Sql.emaList("xs", 10), "ma")} FROM l $T""".stripMargin)),
    Entry("ma_10_3",
      recQ("ma")(df => Recursive.ma(df, "close", 10, 3, out = "ma")),
      Some {
        val (ctes, last) = Sql.emaCascade(2, 10)
        s"""$B, $ctes
          |SELECT symbol, ord, ${Sql.r6("CASE WHEN e2 IS NOT NULL THEN 2 * e1 - e2 END", "ma")}
          |FROM $last $T""".stripMargin
      }),
    Entry("ma_10_4",
      recQ("ma")(df => Recursive.ma(df, "close", 10, 4, out = "ma")),
      Some {
        val (ctes, last) = Sql.emaCascade(3, 10)
        s"""$B, $ctes
          |SELECT symbol, ord, ${Sql.r6("CASE WHEN e3 IS NOT NULL THEN 3 * e1 - 3 * e2 + e3 END", "ma")}
          |FROM $last $T""".stripMargin
      }),
    Entry("ma_10_5",
      // n=10 → inner SMA(5), outer SMA(6) (overlap.rs:1313-1326). Both
      // legs replay the ROLLING sum (smaRollList, outer over the filtered
      // inner-value list) — matype 5 runs Kernels.sma twice, the same
      // drift class that bit ppo_12_26 at sf0.1 under avg() OVER oracles
      recQ("ma")(df => Recursive.ma(df, "close", 10, 5, out = "ma")),
      Some(s"""$B, $closeList, t AS (
        |  SELECT symbol, ord, ${Sql.smaRollList("xs", 5)} AS s FROM l
        |), l2 AS (
        |  SELECT symbol, ord, ${Sql.filt("s")} AS ys FROM t WINDOW ${Sql.wcDef}
        |)
        |SELECT symbol, ord, ${Sql.r6(Sql.smaRollList("ys", 6), "ma")}
        |FROM l2 $T""".stripMargin)),
    Entry("ma_10_6",
      recQ("ma")(df => Recursive.ma(df, "close", 10, 6, out = "ma")),
      Some(kamaSql("ma"))),
    Entry("ma_10_7",
      recQ("ma")(df => Recursive.ma(df, "close", 10, 7, out = "ma")),
      // smaRollList, not avg() OVER: matype 7 runs the ROLLING-sum kernel,
      // whose drift a fresh per-window average reproduces only to ~1 ulp —
      // the same class that bit ppo_12_26 at sf0.1
      Some(s"""$B, $closeList
        |SELECT symbol, ord, ${Sql.r6(Sql.smaRollList("xs", 10), "ma")} FROM l $T""".stripMargin)),
    Entry("ma_10_8",
      // reference matype 8 = calc_t3(values, timeperiod, 0.0) —
      // overlap.rs:866 — vfactor 0 zeroes c1..c3 and makes c4 = 1, so the
      // value is e3 but validity stays gated by the 6-EMA warm-up
      recQ("ma")(df => Recursive.ma(df, "close", 10, 8, out = "ma")),
      Some {
        val (ctes, last) = Sql.emaCascade(6, 10)
        s"""$B, $ctes
          |SELECT symbol, ord, ${Sql.r6("CASE WHEN e6 IS NOT NULL THEN e3 END", "ma")}
          |FROM $last $T""".stripMargin
      }),

    Entry("ma_10_0",
      // matype 0 = SMA through the dispatcher (overlap.rs:858) — the one
      // arm that had no period-10 registry leg of its own. Same
      // rolling-sum replay as ma_10_7 (the SMA stub): both arms call
      // Kernels.sma, so both need smaRollList, not avg() OVER.
      recQ("ma")(df => Recursive.ma(df, "close", 10, 0, out = "ma")),
      Some(s"""$B, $closeList
        |SELECT symbol, ord, ${Sql.r6(Sql.smaRollList("xs", 10), "ma")} FROM l $T""".stripMargin)),

    Entry("trima_10",
      frameQ("trima" -> (w => Frames.trima(col("close"), 10)(w))),
      // n=10 → inner SMA(5), outer SMA(6) (overlap.rs:1313-1326)
      Some(s"""$B, s1 AS (
        |  SELECT symbol, ord,
        |         CASE WHEN count(close) OVER wn5 >= 5 THEN avg(close) OVER wn5 END AS s
        |  FROM bars WINDOW ${Sql.wnDef(5)}
        |)
        |SELECT symbol, ord, ${Sql.gatedR6("s", 6, "avg(s) OVER wn6", "trima")}
        |FROM s1 WINDOW ${Sql.wnDef(6)} $T""".stripMargin)),

    Entry("bbands_20_2",
      frameQ(
        "bb_upper"  -> (w => Frames.bbandsUpper(col("close"), 20, 2.0)(w)),
        "bb_middle" -> (w => Frames.bbandsMiddle(col("close"), 20)(w)),
        "bb_lower"  -> (w => Frames.bbandsLower(col("close"), 20, 2.0)(w))),
      Some(s"""$B, t AS (
        |  SELECT symbol, ord, avg(close) OVER wn20 AS m,
        |         stddev_pop(close) OVER wn20 AS sd, count(close) OVER wn20 AS cnt
        |  FROM bars WINDOW ${Sql.wnDef(20)}
        |)
        |SELECT symbol, ord,
        |  ${Sql.r6("CASE WHEN cnt >= 20 THEN m + 2*sd END", "bb_upper")},
        |  ${Sql.r6("CASE WHEN cnt >= 20 THEN m END", "bb_middle")},
        |  ${Sql.r6("CASE WHEN cnt >= 20 THEN m - 2*sd END", "bb_lower")}
        |FROM t $T""".stripMargin)),

    Entry("midpoint_14",
      frameQ("midpoint" -> (w => Frames.midpoint(col("close"), 14)(w))),
      Some(s"""$B SELECT symbol, ord,
        |${Sql.gatedR6("close", 14, "(max(close) OVER wn14 + min(close) OVER wn14)/2", "midpoint")}
        |FROM bars ${Sql.windows(14)} $T""".stripMargin)),

    Entry("midprice_14",
      frameQ("midprice" -> (w => Frames.midprice(col("high"), col("low"), 14)(w))),
      Some(s"""$B SELECT symbol, ord,
        |${Sql.gatedR6("high", 14, "(max(high) OVER wn14 + min(low) OVER wn14)/2", "midprice")}
        |FROM bars ${Sql.windows(14)} $T""".stripMargin)),

    // ---- momentum, frame-expressible (oracle-checked) ----

    Entry("mom_10",
      frameQ("mom" -> (w => Frames.mom(col("close"), 10)(w))),
      Some(s"""$B SELECT symbol, ord, ${Sql.r6("close - lag(close, 10) OVER w", "mom")}
        |FROM bars ${Sql.windows()} $T""".stripMargin)),

    Entry("roc_10",
      frameQ("roc" -> (w => Frames.roc(col("close"), 10)(w))),
      Some(s"""$B SELECT symbol, ord, ${Sql.r6(
           "CASE WHEN lag(close, 10) OVER w = 0 THEN 0.0 " +
           "ELSE 100 * (close / lag(close, 10) OVER w - 1) END", "roc")}
        |FROM bars ${Sql.windows()} $T""".stripMargin)),

    Entry("rocp_10",
      frameQ("rocp" -> (w => Frames.rocp(col("close"), 10)(w))),
      Some(s"""$B SELECT symbol, ord,
        |${Sql.r6(
           "CASE WHEN lag(close, 10) OVER w = 0 THEN 0.0 " +
           "ELSE (close - lag(close, 10) OVER w) / lag(close, 10) OVER w END", "rocp")}
        |FROM bars ${Sql.windows()} $T""".stripMargin)),

    Entry("rocr_10",
      frameQ("rocr" -> (w => Frames.rocr(col("close"), 10)(w))),
      Some(s"""$B SELECT symbol, ord, ${Sql.r6(
           "CASE WHEN lag(close, 10) OVER w = 0 THEN 0.0 " +
           "ELSE close / lag(close, 10) OVER w END", "rocr")}
        |FROM bars ${Sql.windows()} $T""".stripMargin)),

    Entry("rocr100_10",
      frameQ("rocr100" -> (w => Frames.rocr100(col("close"), 10)(w))),
      Some(s"""$B SELECT symbol, ord, ${Sql.r6(
           "CASE WHEN lag(close, 10) OVER w = 0 THEN 0.0 " +
           "ELSE 100 * close / lag(close, 10) OVER w END", "rocr100")}
        |FROM bars ${Sql.windows()} $T""".stripMargin)),

    Entry("cmo_14",
      frameQ("cmo" -> (w => Frames.cmo(col("close"), 14)(w))),
      Some(s"""$B, t AS (
        |  SELECT symbol, ord, close - lag(close, 1) OVER w AS d FROM bars WINDOW ${Sql.wDef}
        |), t2 AS (
        |  SELECT symbol, ord,
        |    CASE WHEN d > 0 THEN d WHEN d IS NULL THEN NULL ELSE 0.0 END AS up,
        |    CASE WHEN d < 0 THEN -d WHEN d IS NULL THEN NULL ELSE 0.0 END AS dn
        |  FROM t
        |)
        |SELECT symbol, ord, ${Sql.gatedR6("up", 14,
           "CASE WHEN sum(up) OVER wn14 + sum(dn) OVER wn14 = 0 THEN 0.0 " +
           "ELSE 100.0 * (sum(up) OVER wn14 - sum(dn) OVER wn14) / (sum(up) OVER wn14 + sum(dn) OVER wn14) END",
           "cmo")}
        |FROM t2 ${Sql.windows(14)} $T""".stripMargin)),

    Entry("willr_14",
      frameQ("willr" -> (w => Frames.willr(col("high"), col("low"), col("close"), 14)(w))),
      Some(s"""$B SELECT symbol, ord, ${Sql.gatedR6("high", 14,
           "CASE WHEN max(high) OVER wn14 = min(low) OVER wn14 THEN 0.0 " +
           "ELSE -100.0 * (max(high) OVER wn14 - close) / (max(high) OVER wn14 - min(low) OVER wn14) END",
           "willr")}
        |FROM bars ${Sql.windows(14)} $T""".stripMargin)),

    Entry("bop",
      frameQ("bop" -> (_ => Frames.bop(col("open"), col("high"), col("low"), col("close")))),
      Some(s"""$B SELECT symbol, ord,
        |${Sql.r6("CASE WHEN high = low THEN 0.0 ELSE (close - open) / (high - low) END", "bop")}
        |FROM bars $T""".stripMargin)),

    Entry("cci_14",
      frameQ("cci" -> (w => Frames.cci(col("high"), col("low"), col("close"), 14)(w))),
      Some(s"""$B, t AS (
        |  SELECT symbol, ord, (high + low + close)/3 AS tp FROM bars
        |), t2 AS (
        |  SELECT symbol, ord, tp, avg(tp) OVER wn14 AS m, count(tp) OVER wn14 AS cnt,
        |         list(tp) OVER wn14 AS arr
        |  FROM t WINDOW ${Sql.wnDef(14)}
        |), t3 AS (
        |  SELECT symbol, ord, tp, m, cnt,
        |         list_sum(list_transform(arr, x -> abs(x - m))) / 14 AS mad
        |  FROM t2
        |)
        |SELECT symbol, ord, ${Sql.r6(
           "CASE WHEN cnt >= 14 THEN (CASE WHEN mad = 0 THEN 0.0 ELSE (tp - m) / (0.015 * mad) END) END",
           "cci")}
        |FROM t3 $T""".stripMargin)),

    Entry("mfi_14",
      frameQ("mfi" -> (w => Frames.mfi(col("high"), col("low"), col("close"), col("volume"), 14)(w))),
      Some(s"""$B, t AS (
        |  SELECT symbol, ord, (high + low + close)/3 AS tp, volume FROM bars
        |), t2 AS (
        |  SELECT symbol, ord, tp - lag(tp, 1) OVER w AS d, tp, volume
        |  FROM t WINDOW ${Sql.wDef}
        |), t3 AS (
        |  SELECT symbol, ord,
        |    CASE WHEN d > 0 THEN tp * volume WHEN d IS NULL THEN NULL ELSE 0.0 END AS pos,
        |    CASE WHEN d < 0 THEN tp * volume WHEN d IS NULL THEN NULL ELSE 0.0 END AS neg
        |  FROM t2
        |)
        |SELECT symbol, ord, ${Sql.gatedR6("pos", 14,
           "CASE WHEN sum(neg) OVER wn14 = 0 THEN 100.0 " +
           "ELSE 100.0 - 100.0 / (1.0 + sum(pos) OVER wn14 / sum(neg) OVER wn14) END",
           "mfi")}
        |FROM t3 ${Sql.windows(14)} $T""".stripMargin)),

    Entry("ultosc_7_14_28",
      frameQ("ultosc" -> (w => Frames.ultosc(col("high"), col("low"), col("close"), 7, 14, 28)(w))),
      Some(s"""$B, t AS (
        |  SELECT symbol, ord,
        |    CASE WHEN lag(close, 1) OVER w IS NULL THEN NULL
        |      ELSE close - least(low, lag(close, 1) OVER w) END AS bp,
        |    CASE WHEN lag(close, 1) OVER w IS NULL THEN NULL
        |      ELSE greatest(high, lag(close, 1) OVER w) - least(low, lag(close, 1) OVER w) END AS tr
        |  FROM bars WINDOW ${Sql.wDef}
        |)
        |SELECT symbol, ord, ${Sql.gatedR6("bp", 28,
           "(100.0/7.0) * (4 * (sum(bp) OVER wn7 / sum(tr) OVER wn7) " +
           "+ 2 * (sum(bp) OVER wn14 / sum(tr) OVER wn14) " +
           "+ (sum(bp) OVER wn28 / sum(tr) OVER wn28))",
           "ultosc")}
        |FROM t ${Sql.windows(7, 14, 28)} $T""".stripMargin)),

    Entry("aroon_14",
      frameQ(
        "aroon_up"   -> (w => Frames.aroonUp(col("high"), 14)(w)),
        "aroon_down" -> (w => Frames.aroonDown(col("low"), 14)(w))),
      Some(s"""$B, t AS (
        |  SELECT symbol, ord, count(high) OVER wn15 AS cnt,
        |         list(high) OVER wn15 AS ah, list(low) OVER wn15 AS al
        |  FROM bars WINDOW ${Sql.wnDef(15)}
        |)
        |SELECT symbol, ord,
        |  ${Sql.r6("CASE WHEN cnt >= 15 THEN 100.0 * (14 - (list_position(list_reverse(ah), list_max(ah)) - 1)) / 14 END", "aroon_up")},
        |  ${Sql.r6("CASE WHEN cnt >= 15 THEN 100.0 * (14 - (list_position(list_reverse(al), list_min(al)) - 1)) / 14 END", "aroon_down")}
        |FROM t $T""".stripMargin)),

    Entry("aroonosc_14",
      frameQ("aroonosc" -> (w => Frames.aroonosc(col("high"), col("low"), 14)(w))),
      Some(s"""$B, t AS (
        |  SELECT symbol, ord, count(high) OVER wn15 AS cnt,
        |         list(high) OVER wn15 AS ah, list(low) OVER wn15 AS al
        |  FROM bars WINDOW ${Sql.wnDef(15)}
        |)
        |SELECT symbol, ord,
        |  ${Sql.r6("CASE WHEN cnt >= 15 THEN " +
           "100.0 * (14 - (list_position(list_reverse(ah), list_max(ah)) - 1)) / 14 " +
           "- 100.0 * (14 - (list_position(list_reverse(al), list_min(al)) - 1)) / 14 END", "aroonosc")}
        |FROM t $T""".stripMargin)),

    // ---- APO/PPO/MACDEXT with SMA legs are pure windows → oracle-checked ----

    Entry("apo_12_26",
      recQ("apo")(df => Recursive.apo(df, "close", 12, 26, 0)),
      // rolling-sum replay for the same reason as ppo_12_26/ma_10_7
      Some(s"""$B, $closeList, t AS (
        |  SELECT symbol, ord, ${Sql.smaRollList("xs", 12)} AS f,
        |    ${Sql.smaRollList("xs", 26)} AS s
        |  FROM l
        |)
        |SELECT symbol, ord, ${Sql.r6("f - s", "apo")} FROM t $T""".stripMargin)),

    Entry("ppo_12_26",
      recQ("ppo")(df => Recursive.ppo(df, "close", 12, 26, 0)),
      // replays Kernels.sma's ROLLING sum (seed + (s−old)+new drift), not
      // avg() OVER: the kernel's running sum accumulates rounding drift a
      // fresh per-window average doesn't, and the ratio form divides two
      // such sums — at sf0.1 one of 23M rows landed on the other side of
      // the 6-decimal boundary under the window-avg oracle
      Some(s"""$B, $closeList, t AS (
        |  SELECT symbol, ord, ${Sql.smaRollList("xs", 12)} AS f,
        |    ${Sql.smaRollList("xs", 26)} AS s
        |  FROM l
        |)
        |SELECT symbol, ord, ${Sql.r6("CASE WHEN s = 0 THEN NULL ELSE 100.0 * (f - s) / s END", "ppo")}
        |FROM t $T""".stripMargin)),

    Entry("macdext_sma",
      recQ("macd", "macd_signal", "macd_hist")(df =>
        Recursive.macdext(df, "close", 12, 0, 26, 0, 9, 0)),
      // all three SMA legs replay the rolling sum (drift class of
      // ppo_12_26); the signal leg folds over the filtered dif list
      Some(s"""$B, $closeList, t AS (
        |  SELECT symbol, ord,
        |    ${Sql.smaRollList("xs", 12)} - ${Sql.smaRollList("xs", 26)} AS dif
        |  FROM l
        |), tl AS (
        |  SELECT symbol, ord, dif, ${Sql.filt("dif")} AS ds FROM t WINDOW ${Sql.wcDef}
        |), t2 AS (
        |  SELECT symbol, ord, dif, ${Sql.smaRollList("ds", 9)} AS sig FROM tl
        |)
        |SELECT symbol, ord, ${Sql.r6("dif", "macd")}, ${Sql.r6("sig", "macd_signal")},
        |  ${Sql.r6("dif - sig", "macd_hist")}
        |FROM t2 $T""".stripMargin)),

    Entry("macdext_ema_wma",
      // cross-matype composition through the dispatcher — fast=EMA(12),
      // slow=WMA(26), signal=EMA(9), per-leg matype per momentum.py:83-88.
      // Gates the per-leg dispatch path macdext_sma (all-SMA) cannot see.
      recQ("macd", "macd_signal", "macd_hist")(df =>
        Recursive.macdext(df, "close", 12, 1, 26, 2, 9, 1)),
      Some(s"""$B, $closeList, t AS (
        |  SELECT symbol, ord,
        |    ${Sql.emaList("xs", 12)} - ${Sql.wmaList("xs", 26)} AS dif
        |  FROM l
        |), tl AS (
        |  SELECT symbol, ord, dif, ${Sql.filt("dif")} AS ds FROM t WINDOW ${Sql.wcDef}
        |), t2 AS (
        |  SELECT symbol, ord, dif, ${Sql.emaList("ds", 9)} AS sig FROM tl
        |)
        |SELECT symbol, ord, ${Sql.r6("dif", "macd")}, ${Sql.r6("sig", "macd_signal")},
        |  ${Sql.r6("dif - sig", "macd_hist")}
        |FROM t2 $T""".stripMargin)),

    // ---- STOCH family (kernel path; SMA matype → oracle-checked) ----

    Entry("stochf_5_3",
      recQ("fastk", "fastd")(df => Recursive.stochf(df, fastkN = 5, fastdN = 3, fastdType = 0)),
      Some(s"""$B, t AS (
        |  SELECT symbol, ord, CASE WHEN count(high) OVER wn5 >= 5 THEN
        |    (CASE WHEN max(high) OVER wn5 = min(low) OVER wn5 THEN 0.0
        |     ELSE 100.0 * (close - min(low) OVER wn5) / (max(high) OVER wn5 - min(low) OVER wn5) END)
        |  END AS fastk
        |  FROM bars WINDOW ${Sql.wnDef(5)}
        |), tl AS (
        |  SELECT symbol, ord, fastk, ${Sql.filt("fastk")} AS ks FROM t WINDOW ${Sql.wcDef}
        |)
        |SELECT symbol, ord, ${Sql.r6("fastk", "fastk")},
        |  ${Sql.r6(Sql.smaRollList("ks", 3), "fastd")}
        |FROM tl $T""".stripMargin)),

    Entry("stoch_5_3_3",
      recQ("slowk", "slowd")(df =>
        Recursive.stoch(df, fastkN = 5, slowkN = 3, slowkType = 0, slowdN = 3, slowdType = 0)),
      // both SMA legs replay the rolling sum (Kernels.ma matype 0 inside
      // Kernels.stoch) — same drift class as ppo_12_26; fastk itself is
      // window min/max arithmetic, exact on both engines
      Some(s"""$B, t AS (
        |  SELECT symbol, ord, CASE WHEN count(high) OVER wn5 >= 5 THEN
        |    (CASE WHEN max(high) OVER wn5 = min(low) OVER wn5 THEN 0.0
        |     ELSE 100.0 * (close - min(low) OVER wn5) / (max(high) OVER wn5 - min(low) OVER wn5) END)
        |  END AS fastk
        |  FROM bars WINDOW ${Sql.wnDef(5)}
        |), tl AS (
        |  SELECT symbol, ord, ${Sql.filt("fastk")} AS ks FROM t WINDOW ${Sql.wcDef}
        |), t2 AS (
        |  SELECT symbol, ord, ${Sql.smaRollList("ks", 3)} AS slowk FROM tl
        |), t2l AS (
        |  SELECT symbol, ord, slowk, ${Sql.filt("slowk")} AS ds FROM t2 WINDOW ${Sql.wcDef}
        |)
        |SELECT symbol, ord, ${Sql.r6("slowk", "slowk")},
        |  ${Sql.r6(Sql.smaRollList("ds", 3), "slowd")}
        |FROM t2l $T""".stripMargin)),

    Entry("stoch_ema",
      recQ("slowk", "slowd")(df =>
        Recursive.stoch(df, fastkN = 5, slowkN = 3, slowkType = 1, slowdN = 3, slowdType = 1)),
      // EMA legs via list folds over the window-expressible fastK
      Some(s"""$B, t AS (
        |  SELECT symbol, ord, CASE WHEN count(high) OVER wn5 >= 5 THEN
        |    (CASE WHEN max(high) OVER wn5 = min(low) OVER wn5 THEN 0.0
        |     ELSE 100.0 * (close - min(low) OVER wn5) / (max(high) OVER wn5 - min(low) OVER wn5) END)
        |  END AS fastk
        |  FROM bars WINDOW ${Sql.wnDef(5)}
        |), kl AS (SELECT symbol, ord, ${Sql.filt("fastk")} AS ys FROM t WINDOW ${Sql.wcDef}),
        |k AS (SELECT symbol, ord, ${Sql.emaList("ys", 3)} AS slowk FROM kl),
        |dl AS (SELECT symbol, ord, slowk, ${Sql.filt("slowk")} AS zs FROM k WINDOW ${Sql.wcDef})
        |SELECT symbol, ord, ${Sql.r6("slowk", "slowk")}, ${Sql.r6(Sql.emaList("zs", 3), "slowd")}
        |FROM dl $T""".stripMargin)),

    // ---- volume / volatility / price transforms (oracle-checked) ----

    Entry("trange",
      frameQ("trange" -> (w => Frames.trange(col("high"), col("low"), col("close"))(w))),
      Some(s"""$B, t AS (
        |  SELECT symbol, ord, high, low, lag(close, 1) OVER w AS pc FROM bars WINDOW ${Sql.wDef}
        |)
        |SELECT symbol, ord, ${Sql.r6(
           "CASE WHEN pc IS NULL THEN NULL ELSE greatest(high - low, abs(high - pc), abs(low - pc)) END",
           "trange")}
        |FROM t $T""".stripMargin)),

    Entry("ad",
      frameQ("ad" -> (w => Frames.ad(col("high"), col("low"), col("close"), col("volume"))(w))),
      Some(s"""$B SELECT symbol, ord, ${Sql.r6(
           "sum(CASE WHEN high = low THEN 0.0 ELSE ((close - low) - (high - close)) / (high - low) * volume END) OVER wc",
           "ad")}
        |FROM bars WINDOW ${Sql.wcDef} $T""".stripMargin)),

    Entry("obv",
      frameQ("obv" -> (w => Frames.obv(col("close"), col("volume"))(w))),
      Some(s"""$B, t AS (
        |  SELECT symbol, ord, volume, close, lag(close, 1) OVER w AS pc FROM bars WINDOW ${Sql.wDef}
        |)
        |SELECT symbol, ord, ${Sql.r6(
           "sum(CASE WHEN pc IS NULL THEN volume WHEN close > pc THEN volume " +
           "WHEN close < pc THEN -volume ELSE 0.0 END) OVER wc",
           "obv")}
        |FROM t WINDOW ${Sql.wcDef} $T""".stripMargin)),

    Entry("avgprice",
      frameQ("avgprice" -> (_ => Frames.avgprice(col("open"), col("high"), col("low"), col("close")))),
      Some(s"""$B SELECT symbol, ord, ${Sql.r6("(open + high + low + close) / 4", "avgprice")}
        |FROM bars $T""".stripMargin)),

    Entry("medprice",
      frameQ("medprice" -> (_ => Frames.medprice(col("high"), col("low")))),
      Some(s"""$B SELECT symbol, ord, ${Sql.r6("(high + low) / 2", "medprice")}
        |FROM bars $T""".stripMargin)),

    Entry("typprice",
      frameQ("typprice" -> (_ => Frames.typprice(col("high"), col("low"), col("close")))),
      Some(s"""$B SELECT symbol, ord, ${Sql.r6("(high + low + close) / 3", "typprice")}
        |FROM bars $T""".stripMargin)),

    Entry("wclprice",
      frameQ("wclprice" -> (_ => Frames.wclprice(col("high"), col("low"), col("close")))),
      Some(s"""$B SELECT symbol, ord, ${Sql.r6("(high + low + close * 2) / 4", "wclprice")}
        |FROM bars $T""".stripMargin)),

    // ---- recursive family (loop ops; rows-only check + golden scalatests) ----

    Entry("ema_20",   recQ("ema")(df => Recursive.ema(df, "close", 20)),
      Some(s"""$B, $closeList
        |SELECT symbol, ord, ${Sql.r6(Sql.emaList("xs", 20), "ema")} FROM l $T""".stripMargin)),
    Entry("ema_20_chunked",
      // the chunked-state executor under the DRIVER gate: same EMA(20),
      // but every series is forced across chunk boundaries — the kernel's
      // scan state (Chunked.EmaStep) carries over them exactly like the
      // streaming twin carries it across micro-batches. chunkRows adapts
      // to the data so each series spans ~3 chunks at ANY scale factor:
      // the state loop is inherently one job per chunk, so a fixed small
      // chunkRows would turn bigger SFs into a job-launch benchmark
      // instead of a boundary-crossing test. The oracle is ema_20's,
      // unchanged: the chunked path must be bit-equivalent to the
      // whole-series scan.
      (spark, dir) => {
        val bars = Tables.bars(spark, dir)
        val row = bars.groupBy("symbol").count().agg(max("count")).head()
        val maxLen = if (row.isNullAt(0)) 1L else row.getLong(0)
        val chunk = math.max(1, math.ceil(maxLen / 3.0).toInt)
        graft.ta.SeriesOps.overSeriesChunked(bars, Seq("close"), Seq("ema"),
            new graft.ta.Chunked.EmaStep(20), chunkRows = chunk)
          .select(col("symbol"), col("ord"), r6(col("ema")).as("ema"))
          .transform(Present.sorted(_, "symbol", "ord"))
      },
      Some(s"""$B, $closeList
        |SELECT symbol, ord, ${Sql.r6(Sql.emaList("xs", 20), "ema")} FROM l $T""".stripMargin)),
    Entry("ema_20_auto",
      // the size-dispatch probe under the DRIVER gate: overSeriesAuto
      // counts the longest series (one partial-aggregated job) and
      // routes — maxRows is pinned BELOW the data's series length (half
      // the longest), so this query exercises probe → chunked-path
      // dispatch end to end at every SF (the whole-series branch is
      // covered by every other TA query; the probe itself is what was
      // only unit-tested before). chunkRows adapts like ema_20_chunked's
      // (~3 chunks per series at any SF). Same unchanged EMA(20) oracle:
      // routing must never change values.
      (spark, dir) => {
        val bars = Tables.bars(spark, dir)
        val row = bars.groupBy("symbol").count().agg(max("count")).head()
        val maxLen = if (row.isNullAt(0)) 1L else row.getLong(0)
        graft.ta.SeriesOps.overSeriesAuto(bars, Seq("close"), Seq("ema"),
            new graft.ta.Chunked.EmaStep(20),
            maxRows = math.max(1, (maxLen / 2).toInt),
            chunkRows = math.max(1, math.ceil(maxLen / 3.0).toInt))(
            a => Array(graft.ta.Kernels.ema(a(0), 20)))
          .select(col("symbol"), col("ord"), r6(col("ema")).as("ema"))
          .transform(Present.sorted(_, "symbol", "ord"))
      },
      Some(s"""$B, $closeList
        |SELECT symbol, ord, ${Sql.r6(Sql.emaList("xs", 20), "ema")} FROM l $T""".stripMargin)),
    Entry("rma_14",   recQ("rma")(df => Recursive.rma(df, "close", 14)),
      Some(s"""$B, $closeList
        |SELECT symbol, ord, ${Sql.r6(Sql.rmaList("xs", 14), "rma")} FROM l $T""".stripMargin)),
    Entry("dema_20",  recQ("dema")(df => Recursive.dema(df, "close", 20)),
      Some {
        val (ctes, last) = Sql.emaCascade(2, 20)
        s"""$B, $ctes
          |SELECT symbol, ord, ${Sql.r6("CASE WHEN e2 IS NOT NULL THEN 2 * e1 - e2 END", "dema")}
          |FROM $last $T""".stripMargin
      }),
    Entry("tema_10",  recQ("tema")(df => Recursive.tema(df, "close", 10)),
      Some {
        val (ctes, last) = Sql.emaCascade(3, 10)
        s"""$B, $ctes
          |SELECT symbol, ord, ${Sql.r6("CASE WHEN e3 IS NOT NULL THEN 3 * e1 - 3 * e2 + e3 END", "tema")}
          |FROM $last $T""".stripMargin
      }),
    Entry("t3_5",     recQ("t3")(df => Recursive.t3(df, "close", 5)),
      Some {
        // coefficients recomputed with the kernel's own expressions so the
        // embedded literals are the identical IEEE doubles (Kernels.t3)
        val a = 0.7
        val c1 = -a * a * a
        val c2 = 3 * a * a + 3 * a * a * a
        val c3 = -6 * a * a - 3 * a - 3 * a * a * a
        val c4 = 1 + 3 * a + a * a * a + 3 * a * a
        val (ctes, last) = Sql.emaCascade(6, 5)
        s"""$B, $ctes
          |SELECT symbol, ord, ${Sql.r6(
             s"CASE WHEN e6 IS NOT NULL THEN ${Sql.dlit(c1)} * e6 + ${Sql.dlit(c2)} * e5 + " +
             s"${Sql.dlit(c3)} * e4 + ${Sql.dlit(c4)} * e3 END", "t3")}
          |FROM $last $T""".stripMargin
      }),
    Entry("kama_10",  recQ("kama")(df => Recursive.kama(df, "close", 10)),
      Some(kamaSql("kama"))),
    Entry("mavp_5_15",
      recQ("mavp")(df => Recursive.mavp(
        df.withColumn("periods", (col("ord") % 11 + 5).cast("double")), "close", "periods", 5, 15, 0)),
      Some {
        // one gated SMA window per distinct period, dispatched by the
        // periods expression (valid window == physical on null-free bars)
        val branches = (5 to 15).map(p =>
          s"WHEN $p THEN CASE WHEN count(close) OVER wn$p >= $p THEN avg(close) OVER wn$p END").mkString(" ")
        val wins = (5 to 15).map(Sql.wnDef).mkString(", ")
        s"""$B
          |SELECT symbol, ord, ${Sql.r6(s"CASE CAST(ord % 11 + 5 AS INT) $branches END", "mavp")}
          |FROM bars WINDOW $wins $T""".stripMargin
      }),
    Entry("rsi_14",   recQ("rsi")(df => Recursive.rsi(df, "close", 14)),
      Some(s"""$B, $rsiCtes
        |SELECT symbol, ord, ${Sql.r6(rsiExpr, "rsi")} FROM g $T""".stripMargin)),
    Entry("macd_12_26_9",
      recQ("macd", "macd_signal", "macd_hist")(df => Recursive.macd(df, "close")),
      Some(macdSql)),
    Entry("macdfix_9",
      recQ("macd", "macd_signal", "macd_hist")(df => Recursive.macdfix(df, "close")),
      Some(macdSql)), // MACDFIX ≡ MACD(12, 26, sig) — same oracle
    Entry("trix_10",  recQ("trix")(df => Recursive.trix(df, "close", 10)),
      Some {
        val (ctes, last) = Sql.emaCascade(3, 10)
        s"""$B, $ctes,
          |tr AS (SELECT symbol, ord, e3, lag(e3, 1) OVER w AS p3 FROM $last WINDOW ${Sql.wDef})
          |SELECT symbol, ord, ${Sql.r6("CASE WHEN e3 IS NOT NULL AND p3 IS NOT NULL AND p3 != 0 THEN 100.0 * (e3 / p3 - 1.0) END", "trix")}
          |FROM tr $T""".stripMargin
      }),
    Entry("atr_14",   recQ("atr")(df => Recursive.atr(df)),
      Some(s"""$B, $trList
        |SELECT symbol, ord, ${Sql.r6(Sql.rmaList("ys", 14), "atr")} FROM l $T""".stripMargin)),
    Entry("natr_14",  recQ("natr")(df => Recursive.natr(df)),
      Some(s"""$B, $trList, a AS (SELECT symbol, ord, close, ${Sql.rmaList("ys", 14)} AS atr FROM l)
        |SELECT symbol, ord, ${Sql.r6("CASE WHEN atr IS NOT NULL AND close != 0 THEN 100.0 * atr / close END", "natr")}
        |FROM a $T""".stripMargin)),
    Entry("adosc_3_10", recQ("adosc")(df => Recursive.adosc(df)),
      Some(s"""$B, t AS (
        |  SELECT symbol, ord, CASE WHEN high = low THEN 0.0 ELSE ((close - low) - (high - close)) / (high - low) * volume END AS clv
        |  FROM bars
        |), l AS (SELECT symbol, ord, list(clv) OVER wc AS cs FROM t WINDOW ${Sql.wcDef}),
        |a AS (SELECT symbol, ord, list_reduce(list_prepend(0.0, cs), (acc, x) -> acc + x) AS adl FROM l),
        |al AS (SELECT symbol, ord, list(adl) OVER wc AS xs FROM a WINDOW ${Sql.wcDef})
        |SELECT symbol, ord, ${Sql.r6(s"${Sql.emaList("xs", 3)} - ${Sql.emaList("xs", 10)}", "adosc")} FROM al $T""".stripMargin)),
    Entry("adx_14",   recQ("adx")(df => Recursive.adx(df)),
      Some(s"""$B, $adxCtes
        |SELECT symbol, ord, ${Sql.r6("adx", "adx")} FROM ax $T""".stripMargin)),
    Entry("adxr_14",  recQ("adxr")(df => Recursive.adxr(df)),
      Some(s"""$B, $adxCtes,
        |ar AS (SELECT symbol, ord, adx, lag(adx, 13) OVER w AS padx FROM ax WINDOW ${Sql.wDef})
        |SELECT symbol, ord, ${Sql.r6("CASE WHEN adx IS NOT NULL AND padx IS NOT NULL THEN (adx + padx) / 2 END", "adxr")}
        |FROM ar $T""".stripMargin)),
    Entry("dx_14",    recQ("dx")(df => Recursive.dx(df)), Some(dmQ("dx", "dx"))),
    Entry("plus_di_14",  recQ("plus_di")(df => Recursive.plusDi(df)), Some(dmQ("pdi", "plus_di"))),
    Entry("minus_di_14", recQ("minus_di")(df => Recursive.minusDi(df)), Some(dmQ("mdi", "minus_di"))),
    Entry("plus_dm_14",  recQ("plus_dm")(df => Recursive.plusDm(df)), Some(dmQ("spdm", "plus_dm"))),
    Entry("minus_dm_14", recQ("minus_dm")(df => Recursive.minusDm(df)), Some(dmQ("smdm", "minus_dm"))),
    Entry("sar",      recQ("sar")(df => Recursive.sar(df)),
      Some(sarOracle(signed = false, "sar", 0.02, 0.02, 0.2, 0.02, 0.02, 0.2, 0.0))),
    Entry("sarext",   recQ("sarext")(df => Recursive.sarext(df)),
      Some(sarOracle(signed = true, "sarext", 0.02, 0.02, 0.2, 0.02, 0.02, 0.2, 0.0))),
    Entry("sar_chunked",
      // the heaviest branchy state machine (trend/EP/AF flips) under the
      // DRIVER gate on the chunked-state executor: ~3 chunks per series
      // at any SF (the ema_20_chunked convention), oracle unchanged from
      // sar — the chunked path must be bit-equivalent to the
      // whole-series scan (ChunkedSpec pins the same at chunkRows 149)
      (spark, dir) => {
        val bars = Tables.bars(spark, dir)
        val row = bars.groupBy("symbol").count().agg(max("count")).head()
        val maxLen = if (row.isNullAt(0)) 1L else row.getLong(0)
        val chunk = math.max(1, math.ceil(maxLen / 3.0).toInt)
        graft.ta.SeriesOps.overSeriesChunked(bars, Seq("high", "low"), Seq("sar"),
            new graft.ta.Chunked.SarStep(), chunkRows = chunk)
          .select(col("symbol"), col("ord"), r6(col("sar")).as("sar"))
          .transform(Present.sorted(_, "symbol", "ord"))
      },
      Some(sarOracle(signed = false, "sar", 0.02, 0.02, 0.2, 0.02, 0.02, 0.2, 0.0))),
    Entry("stochrsi_14_5_3",
      recQ("fastk_rsi", "fastd_rsi")(df => Recursive.stochrsi(df, "close")),
      Some(s"""$B, $rsiCtes,
        |r AS (SELECT symbol, ord, $rsiExpr AS rsi FROM g),
        |fk AS (SELECT symbol, ord, CASE WHEN count(rsi) OVER wn5 >= 5 THEN
        |    (CASE WHEN max(rsi) OVER wn5 = min(rsi) OVER wn5 THEN 0.0
        |     ELSE 100.0 * (rsi - min(rsi) OVER wn5) / (max(rsi) OVER wn5 - min(rsi) OVER wn5) END)
        |  END AS fastk FROM r WINDOW ${Sql.wnDef(5)}),
        |fkl AS (SELECT symbol, ord, fastk, ${Sql.filt("fastk")} AS ks FROM fk WINDOW ${Sql.wcDef})
        |SELECT symbol, ord, ${Sql.r6("fastk", "fastk_rsi")},
        |  ${Sql.r6(Sql.smaRollList("ks", 3), "fastd_rsi")}
        |FROM fkl $T""".stripMargin)),

    // ---- cycle / Hilbert family (one mesa pass; trendline+trendmode are
    //      window-expressible → oracle-checked, the rest golden-tested) ----

    Entry("ht_dcperiod", recQ("ht_dcperiod")(df => Recursive.htAll(df)),
      Some(mesaQ(Sql.r6("s.sper", "ht_dcperiod")))),
    Entry("ht_dcphase",  recQ("ht_dcphase")(df => Recursive.htAll(df)),
      Some {
        // the kernel's sequential fixups: +90, +180 when I1<0, −360 past 315
        val t1 = "(CASE WHEN s.ia0 < 0.0 THEN s.ph + 90.0 + 180.0 ELSE s.ph + 90.0 END)"
        mesaQ(Sql.r6(s"CASE WHEN $t1 > 315.0 THEN $t1 - 360.0 ELSE $t1 END", "ht_dcphase"))
      }),
    Entry("ht_phasor",   recQ("inphase", "quadrature")(df => Recursive.htAll(df)),
      Some(mesaQ(s"${Sql.r6("s.ia0", "inphase")}, ${Sql.r6("s.qa0", "quadrature")}")),
    ),
    Entry("ht_sine",     recQ("sine", "leadsine")(df => Recursive.htAll(df)),
      Some(mesaQ(s"${Sql.r6("sin(s.ph * pi() / 180.0)", "sine")}, " +
        Sql.r6("sin((s.ph + 45.0) * pi() / 180.0)", "leadsine")))),
    Entry("ht_trendline",
      recQ("ht_trendline")(df => Recursive.htAll(df)),
      Some(s"""$B SELECT symbol, ord, ${Sql.r6(
           "CASE WHEN row_number() OVER w >= 32 THEN " +
           "(((close + lag(close, 1) OVER w) + lag(close, 2) OVER w) + lag(close, 3) OVER w) * 0.25 END",
           "ht_trendline")}
        |FROM bars ${Sql.windows()} $T""".stripMargin)),
    Entry("ht_trendmode",
      recQ("ht_trendmode")(df => Recursive.htAll(df)),
      Some(s"""$B, t AS (
        |  SELECT symbol, ord, close, row_number() OVER w AS rn,
        |    (((close + lag(close, 1) OVER w) + lag(close, 2) OVER w) + lag(close, 3) OVER w) * 0.25 AS tl
        |  FROM bars WINDOW ${Sql.wDef}
        |)
        |SELECT symbol, ord, ${Sql.r6(
           "CASE WHEN rn >= 32 THEN (CASE WHEN abs(close - tl) > (0.01 * tl) THEN 1.0 ELSE 0.0 END) END",
           "ht_trendmode")}
        |FROM t $T""".stripMargin)),
    Entry("mama_05_005", recQ("mama", "fama")(df => Recursive.mama(df)),
      Some(mesaQ(s"${Sql.r6("s.mam", "mama")}, ${Sql.r6("s.fam", "fama")}"))),
    Entry("mama_chunked",
      // the 42-double MESA/HT state vector under the DRIVER gate on the
      // chunked-state executor (~3 chunks per series at any SF): the
      // whole HT_* family rides this one machine, so MAMA/FAMA parity
      // here certifies the family's tick-scale path. Oracle unchanged
      // from mama_05_005 — chunked must be bit-equivalent to the
      // whole-series scan (ChunkedSpec pins all 10 outputs at
      // chunkRows 101).
      (spark, dir) => {
        val bars = Tables.bars(spark, dir)
        val row = bars.groupBy("symbol").count().agg(max("count")).head()
        val maxLen = if (row.isNullAt(0)) 1L else row.getLong(0)
        val chunk = math.max(1, math.ceil(maxLen / 3.0).toInt)
        graft.ta.SeriesOps.overSeriesChunked(bars, Seq("close"),
            Seq("ht_dcperiod", "ht_dcphase", "inphase", "quadrature", "sine",
              "leadsine", "ht_trendline", "ht_trendmode", "mama", "fama"),
            new graft.ta.Chunked.MesaStep(), chunkRows = chunk)
          .select(col("symbol"), col("ord"),
            r6(col("mama")).as("mama"), r6(col("fama")).as("fama"))
          .transform(Present.sorted(_, "symbol", "ord"))
      },
      Some(mesaQ(s"${Sql.r6("s.mam", "mama")}, ${Sql.r6("s.fam", "fama")}"))),

    // ---- backtests (recursive folds; rows-only + scripted scalatests) ----

    Entry("bt_vectorized",
      (spark, dir) => {
        val sig = btSignals(spark, dir)
        graft.bt.Vectorized.run(sig)
          .select(col("symbol"), col("ord"), r6(col("position")).as("position"),
            r6(col("cash")).as("cash"), r6(col("equity")).as("equity"))
          .transform(Present.sorted(_, "symbol", "ord"))
      },
      Some(s"""${B.replaceFirst("WITH ", "WITH RECURSIVE ")}, $btStateCtes
        |SELECT symbol, ord, ${Sql.r6("pos", "position")}, ${Sql.r6("cash", "cash")},
        |  ${Sql.r6("equity", "equity")}
        |FROM st $T""".stripMargin)),
    Entry("bt_summary",
      (spark, dir) => {
        val sig = btSignals(spark, dir)
        val cols = graft.bt.Metrics.columns
        graft.bt.Vectorized.summary(sig)
          .select(col("symbol") +: cols.map(c => r6(col(c)).as(c)): _*)
          .transform(Present.sorted(_, "symbol"))
      },
      // Metrics replayed per symbol over the recursive curve: list folds
      // for the sequential mean/variance sums, running-max window for
      // drawdown, final state via max_by(·, rn)
      Some(btSummaryOracle(withBench = false))),

    Entry("bt_summary_bench",
      // CAPM alpha/beta against a REAL benchmark curve (the symbol's own
      // buy-and-hold price series): exercises Metrics' covariance/variance
      // arithmetic end-to-end with nonzero beta — the plain bt_summary
      // passes no benchmark, leaving alpha=beta=0 (metrics.rs:7-152)
      (spark, dir) => {
        val sig = btSignals(spark, dir)
        val cols = graft.bt.Metrics.columns
        graft.bt.Vectorized.summaryVsPrice(sig)
          .select(col("symbol") +: cols.map(c => r6(col(c)).as(c)): _*)
          .transform(Present.sorted(_, "symbol"))
      },
      Some(btSummaryOracle(withBench = true))),

    Entry("bt_sequential",
      // The event-driven engine is inherently serial per portfolio
      // (SURVEY.md §3.3), but the fold itself runs INSIDE a task:
      // runPortfolios folds per portfolio on the series fold, so
      // nothing crosses the driver and a universe of
      // portfolios backtests in parallel. The demo runs one symbol's bar
      // stream through a scripted momentum strategy.
      (spark, dir) => {
        val bars = Tables.bars(spark, dir)
          .where(col("symbol") === "click_0")
          .select(lit("p0").as("portfolio"), col("symbol"), col("ord"), col("close"))
        graft.bt.Sequential.runPortfolios(bars, (_, closes) => {
          val c = closes("click_0")
          (ctx, p) =>
            if (p >= 2 && c(p) < c(p - 1) && c(p - 1) < c(p - 2))
              ctx.buy("X", 10, c(p))
            else if (p >= 2 && c(p) > c(p - 1) && c(p - 1) > c(p - 2))
              ctx.sell("X", 10, c(p))
        })
          .select(col("ord"), r6(col("equity")).as("equity"))
          .orderBy("ord")
      }, Some(btSeqOracle)),

    Entry("bt_multi_asset",
      // Cross-asset demo: four symbols' ALIGNED bars drive one portfolio,
      // exercising Portfolio's cross-asset bookkeeping (per-asset price
      // board, re-buy entry overwrite, oversell/zero-price rejection).
      // Each symbol owns a disjoint ord set, so Align's grid+ffill does
      // real work before the loop; alignment runs distributed and the
      // event loop folds inside a task via runPortfolios — the strategy
      // iterates symbols in sorted order, matching the oracle's nested
      // per-asset fill sequence (cash consumption order matters).
      // sorted = false: runPortfolios groups and re-orders per portfolio
      // itself, so align's terminal global sort would be pure waste here
      // (the consumer-is-a-shuffle case the parameter exists for).
      (spark, dir) => {
        val syms = Seq("click_0", "click_1", "view_0", "view_1")
        val bars4 = Tables.bars(spark, dir).where(col("symbol").isin(syms: _*))
          .select(col("symbol"), col("ord"), col("close"))
        val aligned = graft.etl.Align.align(bars4, dateCol = "ord", sorted = false)
          .select(lit("p0").as("portfolio"), col("symbol"), col("ord"), col("close"))
        graft.bt.Sequential.runPortfolios(aligned, (ss, closes) => {
          (ctx, p) =>
            ss.foreach { s =>
              val c = closes(s)
              if (p >= 2 && c(p) < c(p - 1) && c(p - 1) < c(p - 2)) ctx.buy(s, 10, c(p))
              else if (p >= 2 && c(p) > c(p - 1) && c(p - 1) > c(p - 2)) ctx.sell(s, 10, c(p))
            }
        })
          .select(col("ord"), r6(col("equity")).as("equity"))
          .orderBy("ord")
      }, Some(btMultiOracle))
  )

  /** Deterministic pseudo-random signals for the vectorized-backtest demo
    * queries (Knuth-multiplier parity of ord). Deliberately UNcorrelated
    * with future returns: a momentum rule on the synthetic zigzag prices
    * compounds equity past 2^52, where 6-decimal rounding itself becomes
    * engine-dependent (doubles are spaced 0.5 apart) and no oracle can
    * hash-match. Random entries + fee drag keep wealth bounded at any SF;
    * signal quality is irrelevant to what the queries verify — the fill
    * arithmetic. */
  private def btSignals(spark: SparkSession, dir: String): DataFrame =
    // the demo PRICE is likewise bounded (50 + close mod 2, an exact fmod
    // both engines compute bit-identically): raw event values swing ×2000
    // within a symbol, so all-in sizing on them walks log-wealth past
    // 2^52 no matter the signals
    Tables.bars(spark, dir).select(col("symbol"), col("ord"),
      // Spark `%` is fmod (sign of dividend) like DuckDB's `%`; pmod would
      // diverge from the oracle on negative closes
      (lit(50.0) + col("close") % lit(2.0)).as("price"),
      (col("ord") * 2654435761L % 97 < 14).as("buy_sig"),
      (col("ord") * 2654435761L % 97 >= 83).as("sell_sig"))
}
