package graft.queries

import graft.Tables
import graft.ta.Patterns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Registry.Q

/** Driver-contract registration for all 61 candlestick patterns
  * (SURVEY.md §2.5). Implementation and oracle SQL both derive from the
  * same PatternDsl definition, so every pattern is oracle-checked.
  */
object PatternQueries extends Registry {

  private def patternQ(p: graft.ta.PatternDsl.Pattern): Q = (spark, dir) => {
    implicit val w = Window.partitionBy("symbol").orderBy("ord")
    Present.sorted(Tables.bars(spark, dir)
      .select(col("symbol"), col("ord"), p.column),
      "symbol", "ord")
  }

  private def patternSql(p: graft.ta.PatternDsl.Pattern): String =
    s"""${Sql.bars}
      |SELECT symbol, ord, ${p.sqlExpr}
      |FROM bars WINDOW ${Sql.wDef}
      |${Sql.tail}""".stripMargin

  /** Non-default penetration variants (the reference wrapper takes the
    * argument but its kernel ignores it; ours honors it). Same dual-emit
    * DSL → the oracle is free and cannot drift. */
  private val parameterized: Seq[graft.ta.PatternDsl.Pattern] = Seq(
    Patterns.cdldarkcloudcoverP(0.5, "cdldarkcloudcover_p50"),
    Patterns.cdlmorningstarP(0.5, "cdlmorningstar_p50"),
    Patterns.cdleveningstarP(0.5, "cdleveningstar_p50"),
    Patterns.cdlpiercingP(0.5, "cdlpiercing_p50"),
    // the remaining three wrappers with a `penetration` arg (reference
    // pattern.py:60,144,298), registered at their documented defaults
    Patterns.cdlabandonedbabyP(0.3, "cdlabandonedbaby_p30"),
    Patterns.cdleveningdojistarP(0.3, "cdleveningdojistar_p30"),
    Patterns.cdlmatholdP(0.5, "cdlmathold_p50"))

  private val allPatterns = Patterns.all ++ parameterized

  val entries: Seq[Entry] =
    allPatterns.map(p => Entry(p.name, patternQ(p), Some(patternSql(p))))
}
