package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic stratified sampling for training-data pipelines —
  * rebalance over-represented strata (languages, sources, length buckets)
  * by keeping a row iff `hash(id) mod D < rate(stratum) · D`.
  *
  * Versus `rand()`-based sampling: the decision is a pure function of the
  * row id, so it is reproducible across runs, retries, engines and
  * partitionings (a re-run keeps the SAME documents — essential when the
  * sample feeds a training corpus that must be auditable), and it needs
  * no RNG state, no shuffle, no driver coordination: one codegen'd
  * projection in the scan. The hash is the mod-prime affine family
  * (TextHashes.polyA/polyB, stream index 16384 — disjoint from the
  * minhash/simhash/IVF streams), so a SQL oracle replays the decision in
  * plain BIGINT arithmetic.
  *
  * Rates are fixed-point per-myriad (rate · 10000 rounded) on BOTH the
  * Spark and oracle sides, so no float comparison sits on the keep/drop
  * boundary.
  */
object Sampling {

  /** Frames the selection planners persist, through the shared
    * [[graft.Scratch.Retained]] guard (Dedup keeps its own instance, so
    * each `releaseCaches` frees only its owner's frames). */
  private val retained = new graft.Scratch.Retained

  /** Unpersist every frame the selection planners retained. Call between
    * corpora in a long-lived session; safe while no query built from
    * those frames is still running. */
  def releaseCaches(): Unit = retained.release()

  private val D = 10000L
  private[graft] val SeedIdx = 16384L

  /** The per-myriad threshold a rate maps to — shared with oracle
    * generators so both sides round identically. */
  def threshold(rate: Double): Long = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
    math.round(rate * D)
  }

  /** The sampling hash in [0, D). Replay note: Spark's pmod keeps the id
    * reduction non-negative, so an engine with C-style `%` (DuckDB,
    * Postgres) must replay NEGATIVE ids as `((id % P) + P) % P`; for
    * non-negative ids plain `(A * (id % P) + B) % P % 10000` is identical
    * (what the registered oracle uses — doc_id >= 0). */
  def sampleHash(id: Column): Column = {
    val P = graft.functions.TextHashes.PolyP
    ((lit(graft.functions.TextHashes.polyA(SeedIdx)) * pmod(id.cast("long"), lit(P)) +
      lit(graft.functions.TextHashes.polyB(SeedIdx))) % lit(P)) % lit(D)
  }

  private[graft] val SplitSeedIdx = 24576L

  /** Deterministic train/val/test split assignment: the same fixed-point
    * per-myriad decision as [[sampleHash]] but on a DISJOINT affine
    * stream (index 24576), so the split is statistically independent of
    * any sampling decision made on the same ids — a row's keep/drop and
    * its split never correlate. Pure projection (no shuffle, no RNG
    * state): reproducible across runs, engines and partitionings, which
    * is what makes a held-out set auditable. Fractions are rounded to
    * per-myriad fixed point on both sides, so no float comparison sits
    * on a split boundary. */
  def assignSplit(df: DataFrame, trainFrac: Double = 0.98, valFrac: Double = 0.01,
                  idCol: String = "doc_id"): DataFrame = {
    require(trainFrac >= 0 && valFrac >= 0 && trainFrac + valFrac <= 1.0,
      s"fractions must be non-negative and sum <= 1, got $trainFrac + $valFrac")
    require(!df.columns.contains("split"),
      "input already has a 'split' column; drop or rename it first")
    val P = graft.functions.TextHashes.PolyP
    val h = ((lit(graft.functions.TextHashes.polyA(SplitSeedIdx)) *
      pmod(col(idCol).cast("long"), lit(P)) +
      lit(graft.functions.TextHashes.polyB(SplitSeedIdx))) % lit(P)) % lit(D)
    df.withColumn("split",
      when(h < threshold(trainFrac), "train")
        .when(h < threshold(trainFrac) + threshold(valFrac), "val")
        .otherwise("test"))
  }

  /** Keep-decision for a stratified sample: per-stratum rates, with a
    * default for strata not listed. */
  def stratifiedKeep(id: Column, stratum: Column, rates: Map[String, Double],
                     defaultRate: Double = 1.0): Column = {
    val thr = rates.foldLeft(lit(threshold(defaultRate))) { case (acc, (k, r)) =>
      when(stratum === k, lit(threshold(r))).otherwise(acc)
    }
    sampleHash(id) < thr
  }

  /** Temperature-resampled source mixture — the standard rebalancing move
    * for multi-source training corpora: target share q_s ∝ n_s^α (α < 1
    * flattens the source distribution toward uniform; α = 1 is
    * proportional, i.e. no-op), realized as per-source keep rates
    * r_s = min(1, q_s · N_target / n_s) over the SAME deterministic
    * fixed-point hash as [[stratifiedKeep]]. Unlike stratifiedKeep's
    * caller-fixed rates, these DERIVE from the data: one tiny per-source
    * count aggregate, collected to the driver (bounded by the number of
    * distinct sources — small by nature, same posture as the IVF
    * centroid collect) and folded into the when-chain of thresholds.
    *
    * Replay determinism: α = 0.5 routes through `sqrt` (correctly rounded
    * by IEEE in both JVM and SQL engines) rather than `pow` (only
    * 1-ulp-accurate, and differently so per libm), and the normalizer
    * Σ n_s^α folds in ASCENDING SOURCE-NAME order — the oracle sums the
    * same values in the same order, so every intermediate double is
    * bit-identical and the rounded per-myriad threshold cannot straddle
    * an engine boundary. */
  def temperatureMixture(df: DataFrame, sourceCol: String = "source",
                         alpha: Double = 0.5, targetFraction: Double = 0.2,
                         idCol: String = "doc_id"): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1], got $alpha")
    require(targetFraction > 0.0 && targetFraction <= 1.0,
      s"targetFraction must be in (0,1], got $targetFraction")
    def powA(x: Double): Double = if (alpha == 0.5) math.sqrt(x) else math.pow(x, alpha)
    val counts = df.groupBy(sourceCol).count()
      .orderBy(sourceCol).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val total = counts.map(_._2).sum
    val z = counts.map(c => powA(c._2.toDouble)).foldLeft(0.0)(_ + _)
    val nTarget = targetFraction * total
    val rates = counts.map { case (s, n) =>
      s -> math.min(1.0, powA(n.toDouble) / z * nTarget / n)
    }.toMap
    df.where(stratifiedKeep(col(idCol), col(sourceCol), rates, defaultRate = 0.0))
  }

  /** FIXED-SIZE per-stratum sample: exactly min(k, |stratum|) rows per
    * group, chosen by ranking the deterministic sample hash (ties broken
    * by id) — a uniform without-replacement draw that is reproducible
    * across runs/engines/partitionings, the complement of the
    * fraction-based [[stratifiedKeep]] ("give me 10k docs per source",
    * not "keep 3% of each source").
    *
    * Scale shape: the rank ≤ k filter compiles to WindowGroupLimit, so
    * each input partition prunes to its local k per group BEFORE the
    * group exchange — the shuffle moves O(groups · k · partitions) rows,
    * never the corpus (plan-tested). */
  def kPerGroup(df: DataFrame, groupCol: String, k: Int,
                idCol: String = "doc_id"): DataFrame = {
    require(k > 0, "k must be positive")
    require(!df.columns.contains("__rk"),
      "a __rk column already exists — rename it before sampling")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
      .orderBy(sampleHash(col(idCol)).asc, col(idCol).asc)
    df.withColumn("__rk", row_number().over(w)).where(col("__rk") <= k).drop("__rk")
  }

  /** Quality-ranked corpus selection under a PER-SOURCE token budget —
    * the "fill each source's slice of the training mix with its best
    * documents" primitive. Documents rank by (quality DESC, id ASC)
    * within their source and the maximal prefix whose running token sum
    * stays ≤ `budgetPerSource` is kept (strict prefix rule: once the
    * budget is crossed nothing later is admitted — deterministic,
    * auditable, no knapsack backfill). The rank key is the composite
    * quality score ROUNDED to 6 decimals (the repo's fixed-point gate
    * precision) so no cross-engine fp residual can reorder the boundary;
    * ties break on ascending id.
    *
    * Plans (same output, pinned to the same oracle):
    *
    *   - `bucketRefined = false`: one window cumsum per source. Correct
    *     anywhere, but the window sorts EVERY row of a source in one
    *     task chain — a 100 TB source is a single-task sort.
    *   - `bucketRefined = true` (the scale path): quantize quality into
    *     `buckets` fixed cells (monotone in the rank key, so cells
    *     partition the global order), aggregate per-(source, bucket)
    *     token sums — one narrow-key map-side-partial exchange — and
    *     pick each source's cutoff cell on the driver (bounded:
    *     sources × buckets rows, the temperatureMixture collect
    *     precedent). Cells strictly above the cutoff are kept with NO
    *     sort; only the cutoff cell's rows — a 1/buckets-ish sliver —
    *     pay the window prefix against the remaining budget. Ties
    *     cannot straddle a cell boundary (equal keys share a cell), so
    *     the result is IDENTICAL to the exact leg by construction.
    */
  def tokenBudgetSelect(docs: DataFrame, budgetPerSource: Long,
                        textCol: String = "text", idCol: String = "doc_id",
                        sourceCol: String = "source",
                        bucketRefined: Boolean = false,
                        buckets: Int = 1000): DataFrame = {
    require(budgetPerSource > 0, "budgetPerSource must be positive")
    require(buckets > 0, "buckets must be positive")
    // null text ⇒ null quality AND null token count: the exact leg would
    // silently admit such rows (window cumsum ignores nulls) while the
    // refined leg's driver histogram walk would NPE on the null cells —
    // a leg divergence. A document with no text has no tokens or quality
    // to rank, so BOTH legs exclude it up front and stay identical.
    def scoredPlan = docs.where(col(textCol).isNotNull)
      .select(col(idCol), col(sourceCol),
        (round(TextStats.qualityScore(col(textCol)), 6) + lit(0.0)).as("quality"),
        size(Dedup.tokens(col(textCol))).cast("long").as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(sourceCol)
      .orderBy(col("quality").desc, col(idCol).asc)
    if (!bucketRefined) {
      scoredPlan.withColumn("__cum", sum(col("n_tokens")).over(w))
        .where(col("__cum") <= budgetPerSource).drop("__cum")
    } else {
      // persist the NARROW scored projection (id, source, two 8-byte
      // numbers — the text column does not survive it): the histogram
      // pass materializes it, and the above/boundary branches then read
      // the cache instead of re-deriving quality from the corpus text —
      // without this the refined leg reads the text column three times,
      // which at 100 TB is the dominant cost. Released via
      // [[releaseCaches]] in long-lived sessions (the Dedup precedent).
      val scored = retained.guardedPersist(scoredPlan)
      val withCell = scored.withColumn("__qb",
        floor(col("quality") * buckets).cast("int"))
      // bounded collect: sources × (buckets + 1) rows
      val hist = withCell.groupBy(col(sourceCol), col("__qb"))
        .agg(sum(col("n_tokens")).as("t")).collect()
      // per source, walking cells from best quality down: the cutoff cell
      // is the first whose full addition would cross the budget; what was
      // accumulated before it is that cell's remaining in-cell budget
      val cutoffs: Map[String, (Int, Long)] = hist
        .groupBy(_.getString(0))
        .flatMap { case (src, rows) =>
          val desc = rows.map(r => (r.getInt(1), r.getLong(2))).sortBy(-_._1)
          var cum = 0L
          var res: Option[(Int, Long)] = None
          for ((cell, t) <- desc if res.isEmpty) {
            if (cum + t > budgetPerSource) res = Some((cell, budgetPerSource - cum))
            else cum += t
          }
          res.map(src -> _) // None: the whole source fits the budget
        }
      if (cutoffs.isEmpty) withCell.drop("__qb")
      else {
        val cutCell = coalesce(
          element_at(typedLit(cutoffs.map { case (s, c) => s -> c._1 }), col(sourceCol)),
          lit(Int.MinValue))
        val remBudget = element_at(
          typedLit(cutoffs.map { case (s, c) => s -> c._2 }), col(sourceCol))
        val above = withCell.where(col("__qb") > cutCell)
        val boundary = withCell.where(col("__qb") === cutCell)
          .withColumn("__cum", sum(col("n_tokens")).over(w))
          .where(col("__cum") <= remBudget).drop("__cum")
        above.unionByName(boundary).drop("__qb")
      }
    }
  }
}
