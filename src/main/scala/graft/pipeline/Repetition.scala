package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Repetition-based quality signals for pretraining corpora — the
  * "excessive repetition" family of filters popularized by the Gopher /
  * MassiveText quality rules (Rae et al. 2021, §A1.1) and C4: documents
  * dominated by one token or by duplicated n-grams are boilerplate,
  * spam, or scraper artifacts, and get dropped before training.
  *
  * Every signal is computed PER ROW with higher-order array functions
  * over the token list — no explode, no groupBy, no shuffle, no UDF: at
  * 100 TB this runs entirely inside the scan stage, and the only data
  * movement is the parquet read itself. The arithmetic is integer counts
  * ratioed in double precision, so a SQL oracle replays it exactly.
  */
object Repetition {

  /** Lowercased whitespace tokens — the ONE shared normalization
    * (Dedup.tokens), so repetition signals can never drift from the
    * dedup signatures and their SQL oracles. Lowercased because
    * repetition is a lexical property: "The the THE" is three repeats. */
  private def toks(text: Column): Column = Dedup.tokens(text)

  /** Keep thresholds, shared with the SQL oracles (PipelineQueries
    * interpolates these — one definition, three uses). */
  val MinDistinctRatio = 0.2
  val MaxTopTokenRatio = 0.3
  val MaxDup2Ratio = 0.5
  val MaxDup3Ratio = 0.4

  /** Distinct-token fraction (type-token ratio): near 0 ⇒ the doc keeps
    * repeating the same few words. */
  def distinctRatio(text: Column): Column = distinctRatioOf(toks(text))

  /** Token-array variants (`*Of`): when several signals are computed over
    * one document, project the token array into a column ONCE and pass
    * the attribute — each signal referencing a `split` expression
    * re-tokenizes per reference, and the registered query computes five
    * signals. */
  def distinctRatioOf(t: Column): Column =
    size(array_distinct(t)).cast("double") / size(t)

  /** Fraction of tokens taken by the single most frequent token. Computed
    * as the longest run in the SORTED token list — one aggregate() fold,
    * no per-token grouping. */
  def topTokenRatio(text: Column): Column = topTokenRatioOf(toks(text))

  def topTokenRatioOf(t: Column): Column = {
    val best = aggregate(
      array_sort(t),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1).otherwise(1)
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    best.cast("double") / size(t)
  }

  /** The n-gram list over a token array ("a b", "b c", …) — empty when
    * fewer than n tokens. Shared with Vocab.ngramTopK: one gram
    * construction for the repetition filter and the n-gram vocabulary.
    *
    * Built from n shifted SLICES zipped together, NOT per-element
    * `element_at(t, i+j)` lambdas: Catalyst does no common-subexpression
    * elimination inside higher-order-function lambdas, so when `t` is an
    * expression (a split), the element_at form re-evaluated the ENTIRE
    * tokenization for every gram element — O(tokens²) regex splits per
    * document (measured: 160+ s for 5 000 docs at sf0.1). The slice form
    * evaluates `t` O(n) times per ROW; the zip lambdas only touch their
    * bound element variables. */
  private[pipeline] def ngrams(t: Column, n: Int): Column =
    when(size(t) >= n, {
      val parts = (0 until n).map(j => slice(t, lit(j + 1), size(t) - (n - 1)))
      parts.reduce((a, b) => zip_with(a, b, (x, y) => concat_ws(" ", x, y)))
    }).otherwise(array().cast("array<string>"))

  /** Fraction of n-grams that are duplicates of an earlier one:
    * 1 − distinct/total. NULL when the doc has fewer than n tokens (no
    * n-grams to judge). */
  def dupNgramRatio(text: Column, n: Int): Column = dupNgramRatioOf(toks(text), n)

  def dupNgramRatioOf(t: Column, n: Int): Column = {
    val g = ngrams(t, n)
    when(size(g) > 0,
      lit(1.0) - size(array_distinct(g)).cast("double") / size(g))
  }

  /** Gopher-flavored keep decision from the repetition signals alone
    * (the length/charset legs live in TextStats.qualityScore): drop docs
    * whose vocabulary collapses or whose n-grams loop. Thresholds follow
    * the MassiveText repetition rules, adapted to the two n-gram orders
    * computed here. */
  def repetitionKeep(text: Column): Column = repetitionKeepBound(toks(text))

  /** The composed-builtins keep decision — kept as the reference the
    * native-counts form is parity-tested against (the discipline of the
    * composed references in the test suite's `graft.ParityRefs`). */
  def repetitionKeepOf(t: Column): Column =
    distinctRatioOf(t) > MinDistinctRatio &&
      topTokenRatioOf(t) < MaxTopTokenRatio &&
      coalesce(dupNgramRatioOf(t, 2), lit(0.0)) < MaxDup2Ratio &&
      coalesce(dupNgramRatioOf(t, 3), lit(0.0)) < MaxDup3Ratio

  // ---- Native-counts forms (r19). The four signals above walk the
  // ---- token array once EACH through interpreted HOF lambdas
  // ---- (array_sort + fold; per-order slices + zip_with + concat_ws +
  // ---- array_distinct). graft.functions.RepetitionCounts returns the
  // ---- same integer counts in ONE fused codegen-participating pass;
  // ---- the double ratios are rebuilt from those counts with the
  // ---- identical IEEE operations, so every produced value is
  // ---- bit-identical to the composed forms (parity-tested).

  /** The counts struct (n, n_distinct, top, d2, d3) — see
    * [[graft.functions.RepetitionCounts]]. */
  def countsOf(t: Column): Column =
    graft.functions.RepetitionCounts.repetitionCounts(t)

  /** Ratios/keep from a counts-struct VALUE (an attribute or a bound
    * lambda variable — never a repeated expression: each reference of a
    * repeated counts expression would re-run the pass and re-tokenize,
    * the r18 pushdown trap). Value-identical to the `*Of` forms:
    *   distinctRatio = n_distinct / n        (double / int division)
    *   topTokenRatio = top / n
    *   dupNgram(k)   = 1.0 − d_k / (n−k+1), NULL when n < k
    * (size(ngrams(t,k)) = n−k+1 exactly when n ≥ k, else the gram array
    * is empty and the composed form yields NULL — same condition). */
  def distinctRatioFrom(s: Column): Column =
    s.getField("n_distinct").cast("double") / s.getField("n")
  def topTokenRatioFrom(s: Column): Column =
    s.getField("top").cast("double") / s.getField("n")
  def dupNgramRatioFrom(s: Column, n: Int): Column =
    when(s.getField("n") >= n,
      lit(1.0) - s.getField(s"d$n").cast("double") / (s.getField("n") - lit(n - 1)))
  def repetitionKeepFrom(s: Column): Column =
    distinctRatioFrom(s) > MinDistinctRatio &&
      topTokenRatioFrom(s) < MaxTopTokenRatio &&
      coalesce(dupNgramRatioFrom(s, 2), lit(0.0)) < MaxDup2Ratio &&
      coalesce(dupNgramRatioFrom(s, 3), lit(0.0)) < MaxDup3Ratio

  /** The keep decision with the counts STRUCT bound as a lambda variable
    * (a single-element `transform`), so every signal reads the bound
    * value instead of re-evaluating the expression. This matters the
    * moment the keep decision is used as a FILTER: predicate pushdown
    * substitutes the full condition into the scan filter, and each
    * reference of a repeated subexpression re-evaluates it — r18
    * measured 40 `split(trim(lower(text)))` occurrences per row in
    * pack_filtered's pushed filter under the alias formulation. The
    * bound form keeps ONE tokenization and ONE counting pass per row
    * under any optimizer rewrite. Use THIS form in `.where(...)`. */
  def repetitionKeepBound(t: Column): Column =
    element_at(transform(array(countsOf(t)), s => repetitionKeepFrom(s)), 1)
}
