package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BooleanType, DoubleType, IntegerType, LongType,
  StructField, StructType}

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Scale design: queries are broadcast (they are the small side by
  * definition); the corpus is never shuffled for brute force — each
  * partition scores its slice and the only exchange is the per-query top-k
  * (a window over k·|queries| rows after per-partition pruning by rank).
  * The LSH path buckets the corpus by random-hyperplane signature so each
  * query only scores its own bucket — the 100 TB path where brute force
  * would read everything per query.
  */
object Similarity {

  /** Named IVF defaults — referenced by queries.IvfSql so the oracle's
    * replay constants cannot silently drift from the defaults the
    * registered query runs with (same coupling discipline as
    * DedupSql.bucketCte). */
  val DefaultNumCentroids = 16
  val DefaultLloydIters = 3
  val DefaultNProbe = 4
  val DefaultTopK = 5

  /** Lloyd-refinement hash-sample modulus the REGISTERED persisted-index
    * query runs with (keep 1/4 of the corpus, selected by the same seed
    * hash the oracle replays). This is the knob that keeps the index
    * build's per-iteration scan cost sublinear in the corpus — at 100 TB
    * the refinement runs on a fixed-rate sample while the one-time
    * assignment pass still covers every vector. Library defaults stay at
    * sampleMod = 1 (tiny test corpora can't spare rows); the driver query
    * and IvfSql share THIS constant so the replay can't drift. */
  val DefaultLloydSampleMod = 4

  /** Cosine similarity between two double arrays — the native fused-loop
    * Catalyst expression (graft.functions.CosineSim, with doGenCode). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSim.cosineSim(a, b)

  private def asDouble(c: Column): Column = transform(c, _.cast("double"))

  /** Exact brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (self-match excluded). Queries side is broadcast. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), asDouble(col(vecCol)).as("c_vec"))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("q_vec"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        cosine(col("q_vec"), col("c_vec")).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Sign of the (j,k) random-projection weight: splitmix64 of the flat
    * index j·outDim+k, thresholded to {+1,−1,0} with density 1/3
    * (Achlioptas 2003, "Database-friendly random projections"). The mix
    * matters: a raw power-of-two-modulus LCG here preserves the index's
    * parity, which with an even `outDim` locks every output dimension to
    * weights of a single sign — subset sums, not signed projections —
    * quietly degrading shortlist recall on vectors with a nonzero mean
    * component. splitmix64 (TextHashes.splitmix, the same mix the
    * hyperplane LSH uses) has full avalanche, so signs decorrelate from
    * index structure. Deterministic integer arithmetic end to end — the
    * oracle precomputes the identical matrix from THIS function and
    * embeds it as a literal ±v[j] chain (PipelineQueries), nothing
    * serialized at runtime. */
  def rpSign(j: Int, k: Int, outDim: Int): Double = {
    val z = graft.functions.TextHashes.splitmix(j.toLong * outDim + k)
    java.lang.Math.floorMod(z, 6L) match {
      case 0L => 1.0; case 1L => -1.0; case _ => 0.0
    }
  }

  /** Deterministic sparse random projection: appends `outCol` =
    * Array[Double](outDim) with out(k) = Σ_j v(j)·rpSign(j,k). The usual
    * √(3/outDim) scale factor is dropped — cosine is scale-invariant,
    * and {±1,0} weights keep the fold bit-reproducible across engines.
    *
    * Zero-weight terms are skipped (the sum is emitted as a literal
    * ±element_at chain, ~inDim·outDim/3 fused adds inside codegen): an
    * oracle replaying the FULL left fold adds v(j)·0 = ±0.0 there, and
    * IEEE `acc + ±0.0 == acc` for every acc this fold produces — the
    * accumulator starts at +0.0 and an exact-zero sum rounds to +0.0
    * under round-to-nearest, so it is never −0.0 — hence the skip is
    * bit-exact, not approximate.
    *
    * Scale: pure map-side projection, zero shuffles — the standard
    * candidate-generation move for ANN over a 100 TB corpus: shortlist
    * in the low-dim space, re-rank exact on the full vectors
    * ([[rpRerankTopK]]). */
  def randomProject(df: DataFrame, inDim: Int, outDim: Int,
                    vecCol: String = "embedding", outCol: String = "rp"): DataFrame = {
    val dims = (0 until outDim).map { k =>
      (0 until inDim).foldLeft(lit(0.0)) { (acc, j) =>
        rpSign(j, k, outDim) match {
          case 1.0  => acc + element_at(col(vecCol), j + 1).cast("double")
          case -1.0 => acc - element_at(col(vecCol), j + 1).cast("double")
          case _    => acc
        }
      }
    }
    df.withColumn(outCol, array(dims: _*))
  }

  /** Project → shortlist → exact re-rank ANN: cosine top-`shortlist` in
    * the `outDim`-dim projected space (cheap), then exact cosine over the
    * full `inDim`-dim vectors on that candidate set only, top-`k`. The
    * candidate set is queries·shortlist rows — broadcast back against the
    * corpus, so the full vectors of non-candidates are never scored. */
  def rpRerankTopK(corpus: DataFrame, queries: DataFrame, inDim: Int, outDim: Int,
                   shortlist: Int = 20, k: Int = 5,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val rc = randomProject(corpus, inDim, outDim, vecCol).select(col(idCol), col("rp"))
    val rq = randomProject(queries, inDim, outDim, vecCol).select(col(idCol), col("rp"))
    val cand = bruteForceTopK(rc, rq, k = shortlist, idCol = idCol, vecCol = "rp")
      .select("query_id", "corpus_id")
    val cv = corpus.select(col(idCol).as("corpus_id"), asDouble(col(vecCol)).as("c_vec"))
    val qv = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("q_vec"))
    val scored = cv.join(broadcast(cand), "corpus_id")
      .join(broadcast(qv), "query_id")
      .select(col("query_id"), col("corpus_id"),
        cosine(col("q_vec"), col("c_vec")).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Random-hyperplane signature for one LSH table (native expression;
    * see TextHashes.HyperplaneSigs — all tables in one fused loop). */
  def lshSignature(vec: Column, planes: Int = 6, table: Int = 0): Column =
    element_at(graft.functions.TextHashes.hyperplaneSigs(asDouble(vec), planes, table + 1), table + 1)

  /** All-tables signatures as one array column (the hot path). */
  private def lshSignatures(vec: Column, planes: Int, tables: Int): Column =
    graft.functions.TextHashes.hyperplaneSigs(asDouble(vec), planes, tables)

  /** Approximate top-k via multi-table hyperplane LSH (OR-amplified):
    * each of `tables` independent signatures buckets the corpus; a pair is
    * scored if it collides in ANY table. Collision probability for angle θ
    * is 1−(1−(1−θ/π)^planes)^tables — raise `tables` for recall, `planes`
    * for precision. Candidates are deduped before scoring, so each pair is
    * scored once regardless of how many tables it collides in. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5, planes: Int = 6,
              tables: Int = 8, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    def sigs(df: DataFrame, id: String, vecOut: String) =
      df.select(col(idCol).as(id), asDouble(col(vecCol)).as(vecOut),
        posexplode(lshSignatures(col(vecCol), planes, tables)).as(Seq("tbl", "sig")))
    val c = sigs(corpus, "corpus_id", "c_vec")
    val q = sigs(queries, "query_id", "q_vec")
    val candidates = c.select("corpus_id", "tbl", "sig")
      .join(broadcast(q.select("query_id", "tbl", "sig")), Seq("tbl", "sig"))
      .where(col("corpus_id") =!= col("query_id"))
      .select("query_id", "corpus_id").distinct()
    val cv = corpus.select(col(idCol).as("corpus_id"), asDouble(col(vecCol)).as("c_vec"))
    val qv = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("q_vec"))
    val scored = candidates.join(cv, "corpus_id").join(broadcast(qv), "query_id")
      .select(col("query_id"), col("corpus_id"),
        cosine(col("q_vec"), col("c_vec")).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** k-NN GRAPH: per corpus vector, its k nearest neighbors — the
    * all-vectors variant of [[lshTopK]] where the query side IS the
    * corpus, so NOTHING broadcasts by design: candidates come from a
    * bucketed SELF-join over multi-table OR-amplified hyperplane
    * signatures, a pair colliding in t tables is scored t times and
    * deduped AFTER scoring by a cheap (a_id, b_id)-keyed max (scoring
    * is a fused loop on in-bucket data; deduping first would carry a
    * dim-sized vector across two pair-scale shuffles — see the inline
    * plan note), and the per-vector top-k
    * runs through WindowGroupLimit partial pruning. The kNN graph is
    * the standard substrate for graph-based curation — SemDeDup-style
    * semantic dedup, connectivity analysis — and its (a_id, b_id)
    * edges feed [[graft.pipeline.Dedup.components]] directly.
    *
    * Scale shape: candidates never leave their (tbl, sig) bucket;
    * `planes <= 0` derives the bucket count from the corpus size
    * (planesForCorpus) so per-bucket — and therefore per-vector —
    * candidate counts stay bounded as N grows — and the kNN target
    * bucket is 64·k, NOT cosineNearDup's 4096: a top-k query needs a
    * few hundred candidates per vector, and total scored pairs are
    * Θ(n·bucket·tables), so the bucket size IS the scale knob (4096
    * would cost 20× the pairs for no recall a 192-bucket misses at
    * k=3). `dim > 0` drops wrong-dimension vectors up front (the
    * registered query pins it so the oracle's len(v) guard is mirrored
    * exactly). `corpusSize > 0` is the caller-known valid-vector count
    * — it skips the one count() action the auto plane derivation
    * otherwise spends (the count runs over the null/dim-FILTERED frame,
    * so malformed rows never inflate the bucket math). */
  def knnGraph(corpus: DataFrame, k: Int = 3, planes: Int = 0, tables: Int = 4,
               dim: Int = 0, idCol: String = "vec_id", vecCol: String = "embedding",
               corpusSize: Long = 0L): DataFrame = {
    val base = corpus.where(col(vecCol).isNotNull)
    val withDim = if (dim > 0) base.where(size(col(vecCol)) === dim) else base
    val p = if (planes > 0) planes
            else planesForCorpus(
              if (corpusSize > 0) corpusSize else withDim.count(),
              64L * math.max(k, 1))
    // vectors RIDE the bucket join (one sigs-sized exchange per side,
    // reused), and table-dedup happens AFTER scoring via a cheap
    // (a, b)-keyed max: a pair colliding in t of the 4 tables is scored
    // t times (≤ tables× extra fused-loop compute on identical inputs)
    // instead of carrying a dim-sized vector across two PAIR-scale join
    // shuffles — at ×100 this plan shuffles 5× less and runs 4× faster
    // than dedupe-first (BASELINE.md r14); the max over bit-identical
    // cosines is deterministic
    val sigs = withDim.select(col(idCol), asDouble(col(vecCol)).as("v"),
      posexplode(lshSignatures(col(vecCol), p, tables)).as(Seq("tbl", "sig")))
    val a = sigs.toDF("a_id", "a_v", "tbl", "sig")
    val b = sigs.toDF("b_id", "b_v", "tbl", "sig")
    // ONE pair-scale exchange serves both tails: hash(a_id) satisfies
    // the (a_id, b_id) dedup aggregate's clustering AND the a_id window
    // — without the explicit repartition, the aggregate exchanges on
    // (a_id, b_id) and the window re-exchanges the whole deduped frame
    // on a_id
    val scored = a.join(b, Seq("tbl", "sig"))
      .where(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), cosine(col("a_v"), col("b_v")).as("cosine"))
      .repartition(col("a_id"))
      .groupBy("a_id", "b_id").agg(max("cosine").as("cosine"))
    val w = Window.partitionBy("a_id").orderBy(col("cosine").desc, col("b_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Default bucket target for the collapse star's plane derivation.
    * The star has ONE hub per bucket, so any bucket holding parts of
    * TWO duplicate classes collapses only the hub's class and
    * singleton-izes every member of the other — each collision costs
    * ~class-size representatives. The constraint is therefore slot
    * SPARSITY (slots ≫ duplicate-class fragments), not bucket ≈ class
    * size: at ×100 (200k vectors, 2k classes) a 32-target (8k slots)
    * measured 35.7k reps from fragment collisions where a 4-target
    * (65k slots) measured 9.4k — and the near-dup default of 4096
    * (512 slots) left reps corpus-sized and the graph stage dead on
    * disk at ×1000 (BASELINE.md r14). Splitting a class across slots
    * is cheap (one extra rep per fragment); colliding two classes in
    * a slot is not. Extra empty slots cost nothing — the star is
    * within-bucket only. */
  val DefaultCollapseBucket: Long = 4L

  /** Dup-robust kNN graph: collapse near-identical duplicate classes
    * FIRST, then build the graph over class representatives only.
    *
    * [[knnGraph]]'s within-bucket pair volume is quadratic in duplicate
    * mass at ANY plane count — N jittered copies of one document share
    * every bucket and contribute N² scored pairs, so on a dup-heavy
    * corpus (every real crawl corpus) the direct op dies on shuffle
    * spill as the corpus grows (measured: both direct legs die on
    * >75 GB of spill at ×1000 while this composition completes —
    * BASELINE.md r14). The composition keeps every stage linear:
    * [[cosineNearDupStar]] emits hub↔member edges (linear in bucket
    * size), `cosine ≥ collapseThreshold` gates them — on the ROUNDED
    * (6 dp) cosine, the cross-engine boundary convention, so an oracle
    * replays the gate identically — [[Dedup.components]] clusters the
    * classes, and the graph runs over one representative per class
    * (duplicate classes contribute one node, not N² pairs).
    *
    * `attachMembers = true` re-attaches every class member to its
    * representative's neighbor list (a_id := member id, neighbors stay
    * representatives) — the SemDeDup-style per-document view; the
    * within-class neighbors the collapse hides ARE near-identical
    * duplicates, which is the point of collapsing them. The quality
    * trade (representative-level vs direct neighbors) is measured, not
    * assumed: the `knn_collapsed_recall` gate prices the edge overlap
    * at every gated SF.
    *
    * `collapsePlanes <= 0` derives the star's bucket count from the
    * corpus size at [[DefaultCollapseBucket]]-sized buckets (see its
    * note — collapse buckets must be ≈ class-sized); `planes <= 0`
    * derives the graph stage's own bucket count from the REPRESENTATIVE
    * count, which is the honest post-collapse corpus size. A positive
    * `corpusSize` (the caller-known valid-vector count — [[knnGraphAuto]]
    * passes the count its probe already paid for) skips the collapse
    * plane derivation's own count() action. */
  /** The collapse front half shared by [[knnGraphCollapsed]] and
    * [[collapseReps]]: null/dim-filter, star edges at the rounded-cosine
    * threshold, connected components. Returns (valid corpus frame,
    * vec→cluster component labels). GRAFT_KNN_DEBUG stage accounting
    * (the GRAFT_IVF_DEBUG precedent): the star+CC stage is EAGER
    * (components runs its label rounds as actions), so the split between
    * collapse cost and downstream cost is observable here. */
  private def collapseComponents(corpus: DataFrame, dim: Int,
                                 collapseThreshold: Double, collapsePlanes: Int,
                                 idCol: String, vecCol: String,
                                 corpusSize: Long = 0L): (DataFrame, DataFrame) = {
    val base = corpus.where(col(vecCol).isNotNull)
    val valid = if (dim > 0) base.where(size(col(vecCol)) === dim) else base
    val cp = if (collapsePlanes > 0) collapsePlanes
             else knnTimed("collapse-planes count")(planesForCorpus(
               if (corpusSize > 0) corpusSize else valid.count(),
               DefaultCollapseBucket))
    val edges = cosineNearDupStar(valid, planes = cp, idCol = idCol, vecCol = vecCol)
      .where(round(col("cosine"), 6) >= collapseThreshold)
    val comp = knnTimed("star+cc")(
      Dedup.components(edges, valid.select(col(idCol)), idCol = idCol))
    (valid, comp)
  }

  private def knnTimed[T](what: String)(f: => T): T =
    if (!sys.env.contains("GRAFT_KNN_DEBUG")) f else {
      val t0 = System.nanoTime(); val r = f
      System.err.println(f"[knn] $what ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }

  /** Duplicate-class representatives: every input column of the rows
    * that are their own component label after the ≥ `collapseThreshold`
    * cosine collapse — the DEDUP-THEN-INDEX entry point. A quantized ANN
    * index built over a dup-heavy corpus is recall-capped by duplicate
    * mass, not by its own knobs: all N copies of a vector share one PQ
    * code, so a query's true top-k (its own near-copies) can only be
    * tie-break-sampled from an ADC-identical class — measured at ×1000
    * (1000 jittered copies/class), the √n-centroid quality-tier index
    * tops out at recall 0.43 while the SAME config over the collapsed
    * representatives holds ~1.0 (BASELINE.md r15). Collapse first, index
    * the representatives, serve members through their class label. */
  def collapseReps(corpus: DataFrame, dim: Int = 0, collapseThreshold: Double = 0.999,
                   collapsePlanes: Int = 0,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   corpusSize: Long = 0L): DataFrame = {
    val (valid, comp) = collapseComponents(corpus, dim, collapseThreshold,
      collapsePlanes, idCol, vecCol, corpusSize)
    valid.join(comp.where(col(idCol) === col("cluster_id")).select(col(idCol)), Seq(idCol))
  }

  def knnGraphCollapsed(corpus: DataFrame, k: Int = 3, planes: Int = 0, tables: Int = 4,
                        dim: Int = 0, collapseThreshold: Double = 0.999,
                        collapsePlanes: Int = 0, attachMembers: Boolean = false,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        corpusSize: Long = 0L): DataFrame = {
    val debug = sys.env.contains("GRAFT_KNN_DEBUG")
    val (valid, comp) = collapseComponents(corpus, dim, collapseThreshold,
      collapsePlanes, idCol, vecCol, corpusSize)
    val reps = valid.join(
      comp.where(col(idCol) === col("cluster_id")).select(col(idCol)), Seq(idCol))
    // the reps count is an extra action under debug only; it is then
    // REUSED as knnGraph's corpusSize so debug mode adds no second count
    val repCount = if (debug) knnTimed("reps count") {
      val n = reps.count(); System.err.println(s"[knn] reps=$n"); n
    } else 0L
    val graph = knnGraph(reps, k, planes, tables, dim = 0, idCol = idCol, vecCol = vecCol,
      corpusSize = repCount)
    if (!attachMembers) graph
    else comp.select(col(idCol), col("cluster_id"))
      .join(graph.withColumnRenamed("a_id", "cluster_id"), Seq("cluster_id"))
      .select(col(idCol).as("a_id"), col("b_id"), col("cosine"), col("rank"))
  }

  /** Regime-dispatched kNN graph (the [[Dedup.verifiedPairsAuto]]
    * candidate-mass-probe precedent): MEASURE the direct plan's scored
    * -pair volume — Σ over (table, signature) buckets of size·(size−1),
    * one linear aggregation over the signature frame — and route to
    * [[knnGraph]] when it sits within `pairFactor`× the uniform-corpus
    * expectation (n · n/2^planes · tables — what the SAME plane count
    * costs when no bucket is duplicate-inflated), to [[knnGraphCollapsed]]
    * when duplicate mass has blown it past that. The probe reuses the
    * exact signatures the direct plan would bucket on, so the verdict
    * measures the plan that would run, not a proxy. Probe sums in
    * DOUBLE: on a dup-heavy corpus the pair count is quadratic in class
    * size and a 64-bit sum could overflow at the scales this dispatch
    * exists for. */
  def knnGraphAuto(corpus: DataFrame, k: Int = 3, planes: Int = 0, tables: Int = 4,
                   dim: Int = 0, collapseThreshold: Double = 0.999,
                   collapsePlanes: Int = 0, attachMembers: Boolean = false,
                   pairFactor: Double = 4.0,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val base = corpus.where(col(vecCol).isNotNull)
    val valid = if (dim > 0) base.where(size(col(vecCol)) === dim) else base
    val bucketTarget = 64L * math.max(k, 1)
    val n = valid.count()
    val p = if (planes > 0) planes else planesForCorpus(n, bucketTarget)
    val mass = valid
      .select(posexplode(lshSignatures(col(vecCol), p, tables)).as(Seq("tbl", "sig")))
      .groupBy("tbl", "sig").agg(count(lit(1)).cast("double").as("c"))
      .agg(coalesce(sum(col("c") * (col("c") - 1)), lit(0.0)).as("m"))
      .head.getDouble(0)
    val budget = n.toDouble * (n.toDouble / (1L << p)) * tables * pairFactor
    if (mass <= budget)
      knnGraph(valid, k, p, tables, dim = 0, idCol = idCol, vecCol = vecCol, corpusSize = n)
    else
      knnGraphCollapsed(valid, k, p, tables, dim = 0, collapseThreshold,
        collapsePlanes, attachMembers, idCol, vecCol, corpusSize = n)
  }

  /** Per-row nearest-centroid id (1-based) against the centroid table:
    * ONE fused native k×dim loop (functions.NearestCentroid) inside the
    * scan projection — no window, no shuffle, no exchange of the corpus,
    * and no per-centroid expression trees to codegen (the 16-tree literal
    * formulation spent seconds compiling per action). Ties break to the
    * lowest cid, matching the probe side's (csim desc, cid asc) ordering. */
  private def nearestCid(v: Column, cents: Array[Array[Double]]): Column =
    graft.functions.NearestCentroid.nearestCentroid(v, cents)

  /** Build the IVF coarse quantizer: deterministic hash-ordered seed of
    * `numCentroids` corpus vectors, refined with `lloydIters` Lloyd
    * (k-means) iterations over a hash sample of the corpus.
    *
    * This is the index-BUILD phase and runs Spark actions (like writing
    * an index file would): the seed is a TakeOrderedAndProject of k rows
    * (per-partition top-k, driver merge — never a SinglePartition
    * exchange), and each Lloyd step is a map-side argmax + a
    * (cid, dim)-keyed partial-aggregated mean, so shuffle volume per
    * iteration is bounded by partitions × k × dim regardless of corpus
    * size. The sample cap keeps the refinement cost fixed at 100 TB. */
  def ivfBuild(corpus: DataFrame, numCentroids: Int = DefaultNumCentroids,
               lloydIters: Int = DefaultLloydIters,
               sampleMod: Int = 1, idCol: String = "vec_id",
               vecCol: String = "embedding", portableSeed: Boolean = false,
               sampleTarget: Long = 0L): Array[Array[Double]] = {
    // the seed is a deterministic hash shuffle of the ids; `portableSeed`
    // swaps XXH64 for the mod-prime affine family (every intermediate
    // < 2^60) so a SQL oracle can replay the exact seed order — id is
    // reduced mod P first, which keeps the product in range for any id.
    // portableSeed ALSO rounds each Lloyd mean to 6 decimals: fp summation
    // order inside avg() differs between engines (and between Spark runs),
    // and the rounding absorbs that noise so the replayed centroids — and
    // therefore every downstream assignment — are value-identical
    val P = graft.functions.TextHashes.PolyP
    val seedHash =
      if (portableSeed)
        (lit(graft.functions.TextHashes.polyA(8192L)) * pmod(col(idCol).cast("long"), lit(P)) +
          lit(graft.functions.TextHashes.polyB(8192L))) % lit(P)
      else xxhash64(col(idCol))
    // the build phase runs 1 + lloydIters actions over the same projection
    // — cache it so parquet is read once, not per action. Storage-level
    // guarded: a re-entrant build over the same corpus would otherwise
    // re-cache an identical plan and draw the CacheManager warning.
    // Null vectors never seed (a null in the first numCentroids hash
    // ranks would put a null centroid under NearestCentroid); the
    // oracle's seed CTE carries the same v IS NOT NULL guard.
    val cPlan = corpus.where(col(vecCol).isNotNull)
      .select(seedHash.as("h"), col(idCol).cast("long").as("sid"),
      asDouble(col(vecCol)).as("v"))
    val cWasCached = cPlan.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val c = if (cWasCached) cPlan else cPlan.cache()
    try {
      // secondary sort on id: limit-under-ties must be deterministic for
      // the oracle (XXH64 never collides in practice, the poly hash can)
      var cents: Array[Array[Double]] = timed("seed")(c.orderBy("h", "sid").limit(numCentroids)
        .collect().map(_.getSeq[Double](2).toArray))
      require(cents.nonEmpty, "ivfBuild: corpus is empty — nothing to seed centroids from")
      val sample = lloydSample(c, sampleMod, sampleTarget)
      for (it <- 1 to lloydIters) {
        // the assignment gets its OWN projection below the explode:
        // `select(expensive, posexplode(v))` re-evaluates the expensive
        // expression per EXPLODED row (ExtractGenerator leaves it in the
        // post-Generate Project) — measured 246 s vs 6 s at 1415
        // centroids × 64 dims on a 500k sample; the two-step select pins
        // it under the Generate, once per vector
        val means = timed(s"lloyd$it")(sample
          .select(nearestCid(col("v"), cents).as("cid"), col("v"))
          .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy("cid", "pos")
          .agg((if (portableSeed) round(avg("x"), 6) + lit(0.0) else avg("x")).as("m"))
          .groupBy("cid").agg(map_from_arrays(collect_list("pos"), collect_list("m")).as("byPos"))
          .collect().map { r =>
            val m = r.getMap[Int, Double](1)
            r.getInt(0) -> Array.tabulate(cents(0).length)(d => m(d))
          }.toMap)
        cents = cents.indices.map(i => means.getOrElse(i + 1, cents(i))).toArray
      }
      cents
    } finally if (!cWasCached) c.unpersist(blocking = false)
  }

  /** The Lloyd refinement sample. Two modes:
    *
    *   - `sampleTarget > 0` — fixed-SIZE: one count over the (cached)
    *     projection derives a fixed-point keep fraction, so the refinement
    *     shuffle is bounded by ~sampleTarget rows at ANY corpus size. This
    *     is the 100 TB posture: build cost stops growing with N once the
    *     sample saturates (k-means quality needs ~k×1000 points, not the
    *     corpus). Wins over `sampleMod` when both are set.
    *   - `sampleMod > 1` — fixed-RATE: keep every sampleMod-th hash value;
    *     cost stays linear in N but the predicate is trivially replayable
    *     in SQL, which is why the oracle-registered query keeps using it
    *     (IvfSql replays DefaultLloydSampleMod).
    *
    * Both select on the SAME deterministic per-row hash `h` used for
    * seeding, so the sample is reproducible across runs and engines; the
    * fixed-size threshold compares `h mod 2^20` against fraction×2^20,
    * independent of the `orderBy(h).limit(k)` seed choice for any
    * non-degenerate corpus (the k seed rows are the k smallest h — a
    * vanishing fraction of the range). */
  private[graft] def lloydSample(c: DataFrame, sampleMod: Int, sampleTarget: Long): DataFrame =
    if (sampleTarget > 0L) {
      val n = c.count()
      if (n <= sampleTarget) c
      else {
        val scale = 1L << 20
        val thr = math.max(1L, sampleTarget * scale / n)
        c.where(pmod(col("h"), lit(scale)) < lit(thr))
      }
    } else if (sampleMod <= 1) c
    else c.where(pmod(col("h"), lit(sampleMod)) === 0)

  /** IVF (inverted-file) index: a small set of coarse centroids partitions
    * the corpus into lists; queries probe only the `nprobe` nearest lists.
    *
    * At 100 TB the centroid set stays tiny (k ≈ √N) and rides into every
    * task as literals in the generated code; the corpus is scanned ONCE to
    * assign lists — a map-side argmax projection, zero shuffles — and a
    * query touches nprobe/k of the data instead of all of it. */
  def ivfAssign(corpus: DataFrame, cents: Array[Array[Double]],
                idCol: String, vecCol: String): (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = cents.zipWithIndex.map { case (v, i) => (i + 1, v) }.toSeq
      .toDF("cid", "centroid")
    val assignments = corpus.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .withColumn("cid", nearestCid(col("v"), cents))
    (centroids, assignments)
  }

  /** The probe phase shared by the in-memory and persisted index paths:
    * pick each query's `nprobe` nearest centroids from the broadcast
    * centroid table, then score ONLY those lists. */
  private def ivfProbe(centroids: DataFrame, assignments: DataFrame, queries: DataFrame,
                       k: Int, nprobe: Int, idCol: String, vecCol: String): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("q_vec"))
    val probeW = Window.partitionBy("query_id").orderBy(col("csim").desc, col("cid").asc)
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("csim", cosine(col("q_vec"), col("centroid")))
      .withColumn("pr", row_number().over(probeW))
      .where(col("pr") <= nprobe)
      .select("query_id", "q_vec", "cid")
    val scored = assignments.join(broadcast(probes), "cid")
      .where(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("corpus_id"),
        cosine(col("q_vec"), col("v")).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** IVF approximate top-k: probe the `nprobe` closest centroid lists per
    * query and score only those lists. Recall grows with nprobe
    * (nprobe == numCentroids ⇒ exact brute force). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int = DefaultTopK,
              numCentroids: Int = DefaultNumCentroids, nprobe: Int = DefaultNProbe,
              lloydIters: Int = DefaultLloydIters,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = ivfBuild(corpus, numCentroids, lloydIters, 1, idCol, vecCol)
    val (centroids, assignments) = ivfAssign(corpus, cents, idCol, vecCol)
    ivfProbe(centroids, assignments, queries, k, nprobe, idCol, vecCol)
  }

  /** Persist a built IVF index: centroid table + list assignments, the
    * lists laid out `partitionBy(cid)` so a probe's scan is pruned to its
    * own lists' files — the build-once/probe-many workflow a 100 TB
    * corpus actually uses (assignment scan runs once at write time). */
  private def timed[T](what: String)(f: => T): T = {
    if (sys.env.contains("GRAFT_IVF_DEBUG")) {
      val t0 = System.nanoTime(); val r = f
      System.err.println(f"[ivf] $what ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    } else f
  }

  /** `coarse`: a pre-trained coarse quantizer to reuse instead of
    * running [[ivfBuild]] — the FAISS `IndexIVF(quantizer, …)` pattern.
    * Index variants over the SAME corpus and coarse knobs (raw vs
    * residual codes, different codebook budgets) share one quantizer;
    * ivfBuild is deterministic given its inputs, so passing its result
    * in changes nothing but the redundant re-training. The caller owns
    * the equivalence: an oracle-gated index must receive exactly what
    * ivfBuild(corpus, numCentroids, lloydIters, sampleMod) returns. */
  def ivfWrite(corpus: DataFrame, path: String, numCentroids: Int = DefaultNumCentroids,
               lloydIters: Int = DefaultLloydIters, idCol: String = "vec_id",
               vecCol: String = "embedding", portableSeed: Boolean = false,
               sampleMod: Int = 1, sampleTarget: Long = 0L,
               coarse: Option[Array[Array[Double]]] = None): Unit = {
    val cents = coarse.getOrElse(timed("build")(
      ivfBuild(corpus, numCentroids, lloydIters, sampleMod, idCol, vecCol, portableSeed,
        sampleTarget)))
    val (centroids, assignments) = ivfAssign(corpus, cents, idCol, vecCol)
    timed("write")(ivfWriteParts(centroids, assignments, path))
  }

  private def ivfWriteParts(centroids: DataFrame, assignments: DataFrame, path: String): Unit = {
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    // co-locate each list before the partitioned write: without this every
    // shuffle partition writes a sliver into every cid directory —
    // numPartitions × k tiny files (and as many probe-side opens); with it
    // each cid's rows land together. At larger corpora the hash partition
    // splits a big list across tasks naturally, so file sizes stay bounded.
    assignments.repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$path/lists")
  }

  /** Probe a persisted index; `cid` is a partition column of the lists
    * table, so the equi-join key prunes unprobed lists at the source. */
  def ivfQuery(spark: org.apache.spark.sql.SparkSession, path: String, queries: DataFrame,
               k: Int = DefaultTopK, nprobe: Int = DefaultNProbe, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    val centroids = readArtifact(spark, path, "centroids")
    // the IVF lists carry the caller's id column, so their schema is read
    val assignments = spark.read.parquet(s"$path/lists")
    ivfProbe(centroids, assignments, queries, k, nprobe, idCol, vecCol)
  }

  // ---- Product quantization: byte codes + ADC scan + exact re-rank ----

  /** PQ defaults — referenced by queries.PqSql so the oracle's replay
    * constants cannot drift (the IvfSql coupling discipline). 64-dim
    * float32 vectors quantize to 8 subspaces × 16 codewords: 8 4-bit
    * codes ≈ 4 B against 256 B raw — the memory ratio that lets a 100 TB
    * embedding corpus' scan working set live in executor memory. */
  val DefaultPqM = 8
  val DefaultPqK = 16
  val DefaultPqIters = 2
  val DefaultPqSampleMod = 4
  val DefaultPqShortlist = 32

  /** The QUALITY-TIER fused-index config (registered as the
    * ann_ivfpq_hq_* gates beside the deliberately tiny default):
    * 64 codewords per subspace, a 256-candidate exact-re-rank
    * shortlist, and 12 probed cells. Measured in-gate: recall@5
    * 0.94 / 0.96 at sf0.01 / sf0.1 where the default codebook sits at
    * 0.36–0.50 — nprobe is the dominant lever (at 8 the coarse pruning
    * caps recall at 0.80–0.84 on this corpus), then the shortlist. The
    * gate's 12-of-16 probe ratio is a gate-scale artifact of the pinned
    * numCentroids = 16: a production index scales numCentroids with
    * √corpus (cells stay bounded) and the SAME nprobe probes a
    * vanishing corpus fraction. Index size is unchanged by shortlist
    * and nprobe; ksub = 64 costs 6 bits/code vs 4 (still ~2% of raw at
    * 64-dim float32). */
  val HqPqK = 64
  val HqShortlist = 256
  val HqNProbe = 12

  /** The PRODUCTION cell-count rule: numCentroids = max(floor, ⌈√n⌉) —
    * cells scale with corpus size so a fixed nprobe probes a vanishing
    * fraction (the knob the pinned-16 gate configs deliberately hold
    * still). Shared by ScaleBench's decade indexes, the registered
    * ann_ivfpq_hq_scaled_* gates, and the DuckDB replay
    * (queries.IvfSql.seedCteScaledOver computes the same rule IN SQL),
    * so the Spark build and the oracle derive the cell count from the
    * same definition. `n` is the non-null-embedding count. */
  val ScaledMinCentroids = 16
  def scaledNumCentroids(n: Long): Int =
    math.max(ScaledMinCentroids, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** The production NPROBE companion to [[scaledNumCentroids]]:
    * nprobe = max(HqNProbe, ⌈cells/3⌉), so the probed fraction stays
    * ≥ ⅓ once the √n cell count outgrows the fixed-12 floor — at fixed
    * nprobe the fraction decays with corpus size and recall@5 decays
    * with it (measured 0.90/0.86/0.68 across the gated SFs at cells
    * 16/23/45; BASELINE.md r16). Probe cost grows ∝ cells ∝ √n — the
    * fraction it scans of the corpus still VANISHES (⅓ of cells, each
    * holding ~√n rows ⇒ ~n/√n·⅓ reads per query against n total).
    * Shared by the registered ann_ivfpq_hq_scaled_np_* gates and the
    * DuckDB replay (queries.IvfSql.probesCteScaledNp computes the same
    * rule IN SQL over the same derived cell count). */
  def scaledNProbe(cells: Int): Int =
    math.max(HqNProbe, math.ceil(cells / 3.0).toInt)

  /** Seed index for the PQ poly-hash (decorrelated from ivfBuild's 8192
    * family so the two samples are independent). */
  val PqHashSeed = 4096L

  /** DuckDB's round(x, 6) semantics (ties away from zero) — the SAME
    * fixed-point boundary Spark's round applies, used for the
    * driver-computed ADC lookup tables so they are value-identical to
    * the oracle's `round(dot, 6) + 0.0` replay. */
  private[graft] def r6d(x: Double): Double = {
    val r = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    if (r == 0.0) 0.0 else r // the oracle's `+ 0.0`: never −0.0
  }

  /** Train per-subspace PQ codebooks (the index-BUILD phase, like
    * [[ivfBuild]]): a portable-hash-ordered seed of `ksub` corpus
    * vectors initializes every subspace's codebook from its slice of
    * the SAME seed rows; `iters` Lloyd rounds refine each subspace
    * independently over a hash sample — ALL subspaces in one action per
    * round (the per-row [[graft.functions.PqEncode]] assignment emits
    * every subspace's code at once, so the means pass is a single
    * (j, code, dim)-keyed partial aggregate, shuffle bounded by
    * m·ksub·sub cells regardless of corpus size). Means round to 6
    * decimals — the cross-engine fixed point that lets queries.PqSql
    * replay the codebook (and therefore every code) exactly.
    *
    * Returns codebook(j)(k)(d): subspace j, 0-based codeword k, dim d;
    * codes downstream are 1-based (k+1). */
  def pqTrain(corpus: DataFrame, m: Int = DefaultPqM, ksub: Int = DefaultPqK,
              iters: Int = DefaultPqIters, sampleMod: Int = DefaultPqSampleMod,
              idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Array[Double]]] = {
    val P = graft.functions.TextHashes.PolyP
    val seedHash =
      (lit(graft.functions.TextHashes.polyA(PqHashSeed)) * pmod(col(idCol).cast("long"), lit(P)) +
        lit(graft.functions.TextHashes.polyB(PqHashSeed))) % lit(P)
    // null vectors never seed (the oracle's psd carries the same
    // v IS NOT NULL guard); a WRONG-dimension seed fails fast below
    // instead of silently mis-dimensioning every codebook
    val cPlan = corpus.where(col(vecCol).isNotNull)
      .select(seedHash.as("h"), col(idCol).cast("long").as("sid"),
        asDouble(col(vecCol)).as("v"))
    val cWasCached = cPlan.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val c = if (cWasCached) cPlan else cPlan.cache()
    try {
      val seeds = timed("pq-seed")(c.orderBy("h", "sid").limit(ksub)
        .collect().map(_.getSeq[Double](2).toArray))
      require(seeds.nonEmpty, "pqTrain: corpus is empty — nothing to seed codebooks from")
      val dim = seeds(0).length
      require(seeds.forall(_.length == dim),
        s"pqTrain: seed vectors disagree on dimension (${seeds.map(_.length).distinct.toList}) — " +
          "filter the corpus to one embedding dimension before training")
      require(m > 0 && dim % m == 0, s"pqTrain: dim $dim must be divisible by m=$m")
      val sub = dim / m
      var cb: Array[Array[Array[Double]]] =
        Array.tabulate(m)(j => seeds.map(s => s.slice(j * sub, (j + 1) * sub)))
      val sample = lloydSample(c, sampleMod, 0L).where(size(col("v")) === lit(dim))
      for (it <- 1 to iters) {
        // same two-step-select discipline as the ivfBuild Lloyd pass:
        // pqEncode below the Generate, once per vector, not per element
        val means = timed(s"pq-lloyd$it")(sample
          .select(graft.functions.PqEncode.pqEncode(col("v"), cb).as("codes"), col("v"))
          .select(col("codes"), posexplode(col("v")).as(Seq("pos", "x")))
          .select((col("pos") / lit(sub)).cast("int").as("j"),
            element_at(col("codes"), (col("pos") / lit(sub)).cast("int") + 1).as("k"),
            pmod(col("pos"), lit(sub)).as("d"), col("x"))
          .groupBy("j", "k", "d")
          .agg((round(avg("x"), 6) + lit(0.0)).as("mu"))
          .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap)
        // a codeword that captured no sample subvectors keeps its previous
        // value (the ivfBuild getOrElse convention, replayed by coalesce)
        cb = Array.tabulate(m)(j => Array.tabulate(cb(j).length)(k0 =>
          Array.tabulate(sub)(d => means.getOrElse((j, k0 + 1, d), cb(j)(k0)(d)))))
      }
      cb
    } finally if (!cWasCached) c.unpersist(blocking = false)
  }

  /** PQ-ADC approximate top-k with exact re-rank. The corpus is scanned
    * as CODES (m small ints/vector instead of dim floats — the
    * memory-bounded representation); per query, a lookup table of
    * codeword dot products is computed ONCE on the driver (the bounded
    * query-batch contract every ADC engine shares) and the approximate
    * score is m table lookups per corpus row:
    *
    *   adc(q, x) ≈ Σ_j lut_q[j][code_j(x)] / sqrt(Σ_j ‖cw_{j,code_j}‖²)
    *
    * — the asymmetric-distance inner product over the reconstructed
    * vector, normalized by the reconstruction's norm so it approximates
    * COSINE (per query, ‖q‖ is a constant factor and drops out of the
    * ranking). The top-`shortlist` candidates per query are then
    * re-ranked by EXACT cosine over their full vectors (fetched by a
    * broadcast semi-join — non-candidates' floats are never read).
    *
    * Scale shape: encode is a zero-shuffle map projection; the ADC scan
    * is corpus-partition-local against a broadcast query batch; the only
    * exchanges are the two per-query top-k windows (shortlist · queries
    * rows). Every stage is oracle-replayable: codebook means are 6-dp
    * fixed-point, LUT entries round the same way, and both sums fold in
    * subspace order, so codes, shortlists and ranks agree bit-for-bit
    * with queries.PqSql's DuckDB replay. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int = DefaultTopK,
             m: Int = DefaultPqM, ksub: Int = DefaultPqK, iters: Int = DefaultPqIters,
             sampleMod: Int = DefaultPqSampleMod, shortlist: Int = DefaultPqShortlist,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cb = pqTrain(corpus, m, ksub, iters, sampleMod, idCol, vecCol)
    pqTopKWith(corpus, queries, cb, k, shortlist, idCol, vecCol)
  }

  /** The probe phase against a pre-trained codebook, encoding the corpus
    * inline (build-once / probe-many; [[pqTopK]] composes the two, and
    * [[pqWrite]]/[[pqQuery]] persist the codes so repeated probes skip
    * the encode scan entirely). */
  def pqTopKWith(corpus: DataFrame, queries: DataFrame,
                 cb: Array[Array[Array[Double]]], k: Int = DefaultTopK,
                 shortlist: Int = DefaultPqShortlist,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    pqAdcRerank(pqCodes(corpus, cb, idCol, vecCol), corpus, queries, cb,
      k, shortlist, idCol, vecCol)

  /** Corpus → (corpus_id, codes): the zero-shuffle encode projection. */
  private def pqCodes(corpus: DataFrame, cb: Array[Array[Array[Double]]],
                      idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol).cast("long").as("corpus_id"),
        graft.functions.PqEncode.pqEncode(col(vecCol), cb).as("codes"))
      .where(col("codes").isNotNull) // wrong-dim vectors: the oracle's len(v) guard

  /** Persist a trained PQ index: the codebook table plus the encoded
    * corpus — m small ints per vector instead of dim floats, the
    * representation whose scan working set survives 100 TB (64-dim
    * float32 → 8×16 codes is 256 B → ~5 B on disk; the ratio grows with
    * dim). The encode scan runs ONCE here, at write time (the ivfWrite
    * discipline); [[pqQuery]] then reads codes only, plus the full
    * vectors of shortlisted CANDIDATES for the exact re-rank — at
    * cluster scale that candidate fetch is a point lookup against the
    * vector store, never a second corpus scan. */
  def pqWrite(corpus: DataFrame, path: String, m: Int = DefaultPqM,
              ksub: Int = DefaultPqK, iters: Int = DefaultPqIters,
              sampleMod: Int = DefaultPqSampleMod,
              idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val cb = timed("pq-build")(pqTrain(corpus, m, ksub, iters, sampleMod, idCol, vecCol))
    val spark = corpus.sparkSession
    import spark.implicits._
    val cbDf = (for (j <- cb.indices; k0 <- cb(j).indices)
      yield (j, k0 + 1, cb(j)(k0).toSeq)).toDF("j", "k", "c")
    cbDf.write.mode("overwrite").parquet(s"$path/codebook")
    timed("pq-encode")(pqCodes(corpus, cb, idCol, vecCol)
      .write.mode("overwrite").parquet(s"$path/codes"))
  }

  /** Probe a persisted PQ index: the ADC scan reads the CODES parquet
    * (the compressed representation), and only the re-rank touches
    * `corpus` for candidates' full vectors. */
  def pqQuery(spark: org.apache.spark.sql.SparkSession, path: String,
              corpus: DataFrame, queries: DataFrame, k: Int = DefaultTopK,
              shortlist: Int = DefaultPqShortlist,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    pqAdcRerank(spark.read.parquet(s"$path/codes"), corpus, queries,
      readPqCodebook(spark, s"$path/codebook"), k, shortlist, idCol, vecCol)

  /** The schemas the index writers give their artifacts (`centroids`,
    * `codebook`, `meta`, the IVF-PQ `ids` sidecar and cid-partitioned
    * `lists`), as Spark reads them back. A read that declares its schema
    * runs no schema-inference job (one footer read per inferred read). */
  private[graft] val ArtifactSchemas: Map[String, StructType] = {
    val doubles = ArrayType(DoubleType)
    Map(
      "centroids" -> StructType(Seq(StructField("cid", IntegerType), StructField("centroid", doubles))),
      "codebook" -> StructType(Seq(StructField("j", IntegerType), StructField("k", IntegerType),
        StructField("c", doubles))),
      "meta" -> StructType(Seq(StructField("residual", BooleanType))),
      "ids" -> StructType(Seq(StructField("corpus_id", LongType), StructField("cid", IntegerType))),
      "lists" -> StructType(Seq(StructField("corpus_id", LongType),
        StructField("codes", ArrayType(IntegerType)), StructField("cid", IntegerType))))
  }

  /** Read the index artifact `name` under `path` with its written schema. */
  private[graft] def readArtifact(spark: org.apache.spark.sql.SparkSession, path: String,
                                  name: String): DataFrame =
    spark.read.schema(ArtifactSchemas(name)).parquet(s"$path/$name")

  /** Load a codebook written by [[pqWrite]]/[[ivfPqWrite]] back into the
    * driver-side (j)(k)(d) array shape the encode/ADC expressions take. */
  private[graft] def readPqCodebook(spark: org.apache.spark.sql.SparkSession,
                                    path: String): Array[Array[Array[Double]]] = {
    val rows = spark.read.schema(ArtifactSchemas("codebook")).parquet(path).collect()
    require(rows.nonEmpty, s"readPqCodebook: empty codebook at $path")
    val cbMap = rows.map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray).toMap
    val mEff = rows.iterator.map(_.getInt(0)).max + 1
    val kEff = rows.iterator.map(_.getInt(1)).max
    Array.tabulate(mEff)(j => Array.tabulate(kEff)(k0 => cbMap((j, k0 + 1))))
  }

  // ---- IVF-PQ: coarse lists of PQ codes — the composed billion-scale
  // ---- layout (the FAISS IVFPQ shape, minus residual encoding; codes
  // ---- quantize raw vectors so the global-codebook oracle replay holds)

  /** Build and persist the fused index: the IVF coarse quantizer
    * partitions the corpus into lists, PQ compresses every vector to m
    * codes, and the lists are laid out `partitionBy(cid)` holding CODES
    * — so a probe reads nprobe/numCentroids of the corpus AND reads it
    * compressed (≈4 B/vector instead of 256 B at 64-dim float32). That
    * product is the layout a 100 TB embedding corpus actually serves
    * queries from: both pruning levers in one scan.
    *
    * Build cost: both trainers run their bounded-sample Lloyd loops
    * (ivfBuild / pqTrain — shuffle per round bounded by k·dim and
    * m·ksub·sub cells respectively), then ONE full corpus scan emits
    * (cid, codes) per vector and writes the partitioned lists. Raw
    * vectors are NOT stored in the index — the exact re-rank fetches
    * candidates' floats from the source corpus by broadcast semi-join,
    * a point lookup at cluster scale.
    *
    * Everything downstream is oracle-replayable (queries.IvfPqSql): the
    * coarse path rides ivfBuild's portable seed + 6-dp means (IvfSql's
    * replay), the code path rides pqTrain's (PqSql's replay), and the
    * fused probe is a composition of the two verified halves.
    *
    * Beside the lists, an id→cell SIDECAR (`$path/ids`,
    * [[ivfPqIdsRefresh]]) is written so [[ivfPqDelete]] discovers
    * affected cells in Θ(batch) instead of scanning the index. */
  def ivfPqWrite(corpus: DataFrame, path: String,
                 numCentroids: Int = DefaultNumCentroids,
                 lloydIters: Int = DefaultLloydIters,
                 ivfSampleMod: Int = DefaultLloydSampleMod,
                 m: Int = DefaultPqM, ksub: Int = DefaultPqK,
                 pqIters: Int = DefaultPqIters, pqSampleMod: Int = DefaultPqSampleMod,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 coarse: Option[Array[Array[Double]]] = None): Unit = {
    graft.Swap.recovered(corpus.sparkSession, path)
    // `coarse`: reuse a pre-trained quantizer (see ivfWrite) — index
    // variants over one corpus share the coarse model, not retrain it
    val cents = coarse.getOrElse(timed("ivfpq-coarse")(ivfBuild(corpus, numCentroids,
      lloydIters, ivfSampleMod, idCol, vecCol, portableSeed = true)))
    val cb = timed("ivfpq-codebook")(pqTrain(corpus, m, ksub, pqIters, pqSampleMod,
      idCol, vecCol))
    val spark = corpus.sparkSession
    import spark.implicits._
    cents.zipWithIndex.map { case (v, i) => (i + 1, v.toSeq) }.toSeq
      .toDF("cid", "centroid")
      .write.mode("overwrite").parquet(s"$path/centroids")
    (for (j <- cb.indices; k0 <- cb(j).indices) yield (j, k0 + 1, cb(j)(k0).toSeq))
      .toDF("j", "k", "c").write.mode("overwrite").parquet(s"$path/codebook")
    writeIndexMeta(spark, path, residual = false)
    // ONE scan emits both the list assignment and the codes; wrong-dim
    // vectors encode null and drop (PqSql's len(v) guard). repartition
    // co-locates each list before the partitioned write (the ivfWrite
    // small-files discipline).
    val codes = corpus.select(col(idCol).cast("long").as("corpus_id"),
        asDouble(col(vecCol)).as("v"),
        graft.functions.PqEncode.pqEncode(col(vecCol), cb).as("codes"))
      .where(col("codes").isNotNull)
      .select(col("corpus_id"), nearestCid(col("v"), cents).as("cid"), col("codes"))
    timed("ivfpq-encode")(codes.repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$path/lists"))
    ivfPqIdsRefresh(spark, path)
  }

  // ---- Residual IVF-PQ: PQ over (v − centroid) — the FAISS-IVFPQ
  // ---- refinement. Within a coarse cell the residuals are tighter
  // ---- than the raw vectors, so the same codebook budget quantizes
  // ---- finer; the price is per-cell correction terms in the ADC math.

  /** Build and persist the residual-encoded fused index: same layout as
    * [[ivfPqWrite]] (centroids / codebook / cid-partitioned code lists)
    * but the PQ codebooks are TRAINED ON RESIDUALS (v − cent[cid]) and
    * every vector's codes quantize its residual. One extra corpus scan
    * versus the raw variant (the residual projection feeds training),
    * still zero corpus shuffles outside the partitioned write. The
    * residual subtraction is exact elementwise arithmetic over the
    * 6-dp-fixed centroids, so the whole pipeline stays oracle-replayable
    * (queries.IvfPqResSql). */
  def ivfPqResWrite(corpus: DataFrame, path: String,
                    numCentroids: Int = DefaultNumCentroids,
                    lloydIters: Int = DefaultLloydIters,
                    ivfSampleMod: Int = DefaultLloydSampleMod,
                    m: Int = DefaultPqM, ksub: Int = DefaultPqK,
                    pqIters: Int = DefaultPqIters, pqSampleMod: Int = DefaultPqSampleMod,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    coarse: Option[Array[Array[Double]]] = None): Unit = {
    graft.Swap.recovered(corpus.sparkSession, path)
    // `coarse`: reuse a pre-trained quantizer (see ivfWrite) — the
    // residual variant by design shares the raw variant's coarse model
    val cents = coarse.getOrElse(timed("ivfpqres-coarse")(ivfBuild(corpus, numCentroids,
      lloydIters, ivfSampleMod, idCol, vecCol, portableSeed = true)))
    val dim = cents(0).length
    val resid = residualFrame(corpus, cents, dim, idCol, vecCol)
    // PQ codebooks learned on the residual table (same portable seed +
    // 6-dp Lloyd fixed point, keyed by the same ids)
    val cb = timed("ivfpqres-codebook")(pqTrain(
      resid.select(col(idCol), col("resid").as(vecCol)),
      m, ksub, pqIters, pqSampleMod, idCol, vecCol))
    val spark = corpus.sparkSession
    import spark.implicits._
    cents.zipWithIndex.map { case (v, i) => (i + 1, v.toSeq) }.toSeq
      .toDF("cid", "centroid")
      .write.mode("overwrite").parquet(s"$path/centroids")
    (for (j <- cb.indices; k0 <- cb(j).indices) yield (j, k0 + 1, cb(j)(k0).toSeq))
      .toDF("j", "k", "c").write.mode("overwrite").parquet(s"$path/codebook")
    writeIndexMeta(spark, path, residual = true)
    val codes = resid.select(col(idCol).cast("long").as("corpus_id"), col("cid"),
        graft.functions.PqEncode.pqEncode(col("resid"), cb).as("codes"))
      .where(col("codes").isNotNull)
    timed("ivfpqres-encode")(codes.repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$path/lists"))
    ivfPqIdsRefresh(spark, path)
  }

  /** (Re)build the id→cell SIDECAR `$path/ids` from the persisted lists:
    * (corpus_id, cid) range-partitioned AND sorted on corpus_id, so the
    * files tile the id space and every row group's min/max footer stat
    * is selective on the id — an id-batch probe (the [[ivfPqDelete]]
    * discovery) reads the few row groups covering the batch instead of
    * the whole index, and reads them 2 columns wide instead of dragging
    * the code arrays. One column-pruned scan of the lists builds it
    * (codes never deserialize), so refreshing after maintenance costs a
    * sliver of a rebuild.
    *
    * The sidecar is a SUPERSET index by contract: every (id, cell) in
    * the lists is in the sidecar, but the sidecar may retain ids a
    * [[ivfPqDelete]] already removed (tombstones). Supersets are always
    * safe — discovery only NOMINATES candidate cells, and the exact
    * per-cell dead counts come from the candidate cells' own lists, so
    * a stale entry can re-nominate a cell (bounded extra read on a
    * repeat delete of the same ids), never corrupt a result. Call this
    * after heavy churn to re-tighten. */
  def ivfPqIdsRefresh(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    graft.Swap.recovered(spark, path)
    readArtifact(spark, path, "lists")
      .select(col("corpus_id"), col("cid").cast("int").as("cid"))
      .repartitionByRange(col("corpus_id"))
      .sortWithinPartitions("corpus_id")
      .write.mode("overwrite").parquet(s"$path/ids")
  }

  /** Replace `cells` of the index at `path` with their rows of `lists`
    * (cid, corpus_id, codes) minus the ids in `dead`, in ONE
    * [[graft.Swap]] commit: the rewrite is staged one sorted file per
    * cell, then every cell swaps, and a cell the rewrite leaves empty is
    * dropped. A crash at any step leaves either the old index or, once
    * the next mutating call rolls the commit forward, the new one —
    * never a hidden cell or a half-applied delete. The staged dirs lead
    * with a dot, so Spark's partition discovery never sees them. */
  private def rewriteCells(fs: org.apache.hadoop.fs.FileSystem, path: String,
                           lists: DataFrame, cells: Seq[Int], dead: Option[DataFrame],
                           label: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val staged = new org.apache.hadoop.fs.Path(graft.Swap.staging(root), "lists")
    val kept = lists.where(col("cid").isin(cells: _*))
    timed(label)(dead.map(d => kept.join(broadcast(d), Seq("corpus_id"), "left_anti"))
      .getOrElse(kept)
      .select(col("corpus_id"), col("codes"), col("cid"))
      .repartition(col("cid"))
      .sortWithinPartitions(col("cid"), col("corpus_id"))
      .write.mode("overwrite").partitionBy("cid").parquet(staged.toString))
    graft.Swap.commit(fs, root, cells.map { c =>
      val cell = s"${graft.Swap.StagingName}/lists/cid=$c"
      graft.Swap.Move(s"lists/cid=$c",
        Some(cell).filter(n => fs.exists(new org.apache.hadoop.fs.Path(root, n))))
    })
  }

  /** The lists with a uniform schema: (cid int, corpus_id, codes). */
  private def readLists(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    readArtifact(spark, path, "lists")
      .select(col("cid").cast("int").as("cid"), col("corpus_id"), col("codes"))

  /** Cells holding more than `maxFilesPerCell` data files. */
  private def fragmentedCells(fs: org.apache.hadoop.fs.FileSystem, path: String,
                              maxFilesPerCell: Int): Seq[Int] =
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/lists")).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cid="))
      .filter(st => fs.listStatus(st.getPath)
        .count { f =>
          val n = f.getPath.getName
          f.isFile && !n.startsWith("_") && !n.startsWith(".")
        } > maxFilesPerCell)
      .map(st => st.getPath.getName.stripPrefix("cid=").toInt)

  /** Append new vectors to a persisted IVF-PQ index WITHOUT retraining —
    * the incremental-maintenance posture a 100 TB corpus demands (a daily
    * crawl increment must not re-shuffle, re-train, or re-encode the
    * other 99%). The persisted centroids + codebook are the model; this
    * is a pure ENCODE pass over the increment: one scan assigning each
    * vector its coarse cell and PQ codes (residuals first when the
    * index's persisted mode marker says so), then an append-mode
    * cid-partitioned write — only the increment moves, and only through
    * the one co-locating repartition every list write pays.
    *
    * The encode is deterministic given (centroids, codebook), so the
    * appended lists are EXACTLY what [[ivfPqWrite]]/[[ivfPqResWrite]]
    * would have emitted for these rows had they been present at write
    * time with the same trained model — batch-size invariant (one append
    * of N rows ≡ any partition of it into successive appends), and the
    * whole prefix-train/append-encode pipeline is oracle-replayable
    * (queries.IvfPqSqlGen.annIvfPqAppendTop5Sql). The increment's
    * quantization error is priced by the SAME recall gates as the base
    * index — appended vectors quantize against codebooks trained without
    * them, the standard trade of every incremental ANN index; retrain
    * (a fresh write) when drift accumulates.
    *
    * Requires the encoding-mode marker ([[ivfPqWrite]]/[[ivfPqResWrite]]
    * write it): appending raw codes to a residual index — or vice versa
    * — would corrupt the lists silently. Duplicate ids are NOT detected
    * (parquet append cannot see existing rows without scanning them);
    * appending a row twice leaves two copies, the caller's contract like
    * any append-only log. The id-sidecar receives the increment's
    * (corpus_id, cid) rows in the same pass (one persisted encode feeds
    * both writes), keeping [[ivfPqDelete]]'s Θ(batch) discovery intact
    * as the index grows. */
  def ivfPqAppend(corpus: DataFrame, path: String,
                  idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    val (fs, _) = graft.Swap.recovered(spark, path)
    val residual = readIndexMeta(spark, path).getOrElse(throw new IllegalArgumentException(
      s"ivfPqAppend: index at $path carries no encoding-mode marker (meta parquet) — " +
      "appending without knowing raw-vs-residual would corrupt the lists silently; " +
      "rewrite the index with ivfPqWrite/ivfPqResWrite to stamp it"))
    val cents = readArtifact(spark, path, "centroids").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).sortBy(_._1).map(_._2)
    val cb = readPqCodebook(spark, s"$path/codebook")
    val codes =
      if (residual) {
        val dim = cents(0).length
        residualFrame(corpus, cents, dim, idCol, vecCol)
          .select(col(idCol).cast("long").as("corpus_id"), col("cid"),
            graft.functions.PqEncode.pqEncode(col("resid"), cb).as("codes"))
          .where(col("codes").isNotNull)
      } else
        corpus.select(col(idCol).cast("long").as("corpus_id"),
            asDouble(col(vecCol)).as("v"),
            graft.functions.PqEncode.pqEncode(col(vecCol), cb).as("codes"))
          .where(col("codes").isNotNull)
          .select(col("corpus_id"), nearestCid(col("v"), cents).as("cid"), col("codes"))
    // one encode pass feeds BOTH the id-sidecar append and the lists
    // append (persist, not recompute: PqEncode is the expensive half).
    // Sidecar FIRST: the two appends are not atomic, and the superset
    // contract ("every (id, cell) in the lists is in the sidecar") makes
    // the failure modes asymmetric — a crash after the sidecar append
    // but before the lists append leaves extra sidecar entries, which
    // are safe tombstones (discovery only NOMINATES cells); the reverse
    // order would leave lists rows the sidecar never saw, so a later
    // delete's discovery would silently skip them — a
    // right-to-be-forgotten miss with no error.
    val staged = codes.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // a pre-sidecar index (older ivfPqWrite) keeps its full-scan
      // delete path; appending a partial sidecar would break the
      // superset contract
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/ids")))
        staged.select(col("corpus_id"), col("cid").cast("int").as("cid"))
          .repartitionByRange(col("corpus_id"))
          .sortWithinPartitions("corpus_id")
          .write.mode("append").parquet(s"$path/ids")
      timed("ivfpq-append")(staged.repartition(col("cid"))
        .write.mode("append").partitionBy("cid").parquet(s"$path/lists"))
    } finally staged.unpersist()
  }

  /** The one delete-discovery mechanism behind [[ivfPqDelete]] and
    * [[ivfPqMaintain]]: nominate the batch's candidate cells from the id
    * sidecar when present (a pushed-down Θ(batch) probe over the
    * range-laid 2-column table; batches past
    * `spark.graft.ann.maxDeleteDiscoveryIds` degrade to a broadcast
    * semi-join that still never drags the code arrays), then take EXACT
    * per-cell dead counts from the candidate cells' lists only — a stale
    * sidecar tombstone can re-nominate a cell, never miscount, because
    * the counts come from the lists themselves. No sidecar (an index
    * written before it existed) falls back to a full-lists count scan.
    * Returns (cid, deadRows) for the cells that truly hold batch ids —
    * empty when the batch touches nothing. */
  private def discoverDeadCells(spark: org.apache.spark.sql.SparkSession,
                                path: String, fs: org.apache.hadoop.fs.FileSystem,
                                lists: DataFrame, del: DataFrame): Array[(Int, Long)] = {
    val candidates: Option[Seq[Int]] =
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/ids"))) {
        val cap = spark.conf.getOption("spark.graft.ann.maxDeleteDiscoveryIds")
          .map(_.toInt).getOrElse(1 << 20)
        val sidecar = readArtifact(spark, path, "ids")
        val delIds = del.limit(cap + 1).collect().map(_.getLong(0))
        val probed =
          if (delIds.length <= cap)
            // the id set rides INTO the parquet scan as a pushed filter —
            // the sorted range layout makes the footer stats prune to the
            // row groups the batch actually touches
            sidecar.where(col("corpus_id").isInCollection(delIds))
          else sidecar.join(broadcast(del), Seq("corpus_id"), "left_semi")
        Some(probed.select("cid").distinct().collect().map(_.getInt(0)).toSeq)
      } else None
    val scanBase = candidates match {
      case Some(cells) if cells.isEmpty => return Array.empty
      case Some(cells)                  => lists.where(col("cid").isin(cells: _*))
      case None                         => lists
    }
    scanBase.join(broadcast(del.withColumn("__dead", lit(1))),
        Seq("corpus_id"), "left")
      .groupBy("cid").agg(sum(coalesce(col("__dead"), lit(0))).as("dead"))
      .where(col("dead") > 0)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
  }

  /** Delete vectors from a persisted IVF-PQ index, rewriting ONLY the
    * coarse cells that hold them — the right-to-be-forgotten pass a
    * training-data index must support without a corpus-scale rewrite.
    *
    * Plan: DISCOVERY probes the id-sidecar ([[ivfPqIdsRefresh]] — every
    * [[ivfPqWrite]]/[[ivfPqAppend]] maintains it) for the batch's
    * candidate cells: the sidecar is range-laid and sorted on corpus_id,
    * so the probe's pushed-down id predicate reads the few row groups
    * covering the batch — Θ(batch), not Θ(index); a batch too large to
    * collect (`spark.graft.ann.maxDeleteDiscoveryIds`, default 2^20)
    * degrades to a broadcast semi-join over the sidecar, still a
    * 2-column scan that never drags the code arrays. The exact per-cell
    * dead counts then come from ONE aggregation over the CANDIDATE
    * cells' lists only (partition-pruned; stale sidecar tombstones can
    * re-nominate a cell, never miscount), and the surviving rows OF THE
    * TRULY AFFECTED CELLS ONLY are staged and swapped in by one commit
    * ([[rewriteCells]] — a crash rolls forward). Untouched
    * cells' files are never read twice, never rewritten, never moved;
    * cells the deletion EMPTIES are dropped (the staging write emits no
    * dir for them). Work is therefore Θ(affected cells) end to end:
    * deleting a crawl snapshot's worth of ids from a 100 TB index reads
    * and rewrites the few thousand cells they live in. An index written
    * before the sidecar existed (no `$path/ids`) falls back to the
    * legacy full-lists discovery scan — run [[ivfPqIdsRefresh]] once to
    * upgrade it.
    *
    * `ids` must expose `idCol` (any extra columns are ignored). Returns
    * the number of rows actually removed. The model (centroids,
    * codebook, meta) is untouched — deletion never needs retraining;
    * like [[ivfPqAppend]], accumulated drift is the retrain trigger.
    * Deleted ids stay in the sidecar as tombstones (the superset
    * contract documented at [[ivfPqIdsRefresh]]). */
  def ivfPqDelete(ids: DataFrame, path: String,
                  idCol: String = "vec_id"): Long = {
    val spark = ids.sparkSession
    val del = ids.select(col(idCol).cast("long").as("corpus_id")).distinct()
    val (fs, _) = graft.Swap.recovered(spark, path)
    val lists = readLists(spark, path)
    val affected = discoverDeadCells(spark, path, fs, lists, del)
    if (affected.isEmpty) return 0L
    rewriteCells(fs, path, lists, affected.map(_._1).toSeq, Some(del), "ivfpq-delete")
    affected.map(_._2).sum
  }

  /** Compact a persisted IVF-PQ index's lists: every [[ivfPqAppend]]
    * adds at least one file per touched cell, and a probe's read cost
    * eventually becomes file-open-bound rather than byte-bound (the
    * classic small-files decay of any append-only partitioned layout).
    * Cells at or under `maxFilesPerCell` are left ALONE — their files
    * never move — and only the fragmented cells rewrite, through the
    * same one-commit cell rewrite as [[ivfPqDelete]], so
    * compaction work is Θ(fragmented cells), not Θ(corpus). Returns the
    * number of cells rewritten. Content is unchanged (same rows, same
    * codes — only the file layout coalesces, one file per rewritten
    * cell). */
  def ivfPqCompact(spark: org.apache.spark.sql.SparkSession, path: String,
                   maxFilesPerCell: Int = 4): Int = {
    val (fs, _) = graft.Swap.recovered(spark, path)
    // a model-only index (write-less clone, lists never materialized)
    // has nothing to compact
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/lists"))) return 0
    val fragmented = fragmentedCells(fs, path, maxFilesPerCell)
    if (fragmented.isEmpty) return 0
    rewriteCells(fs, path, readLists(spark, path), fragmented, None, "ivfpq-compact")
    fragmented.size
  }

  /** Combined maintenance pass: [[ivfPqDelete]] + [[ivfPqCompact]] in
    * ONE staging rewrite — a cell that both holds dead ids and is
    * fragmented rewrites once, not twice (the nightly-maintenance shape:
    * the day's right-to-be-forgotten batch and the day's append
    * fragmentation share most of their touched cells, because both are
    * driven by the same fresh data). Work is Θ(touched ∪ fragmented
    * cells); discovery is the delete's Θ(batch) sidecar probe plus the
    * compact's file listing. Rewritten cells coalesce to one sorted file
    * AND shed their dead rows; cells only one criterion touches go
    * through the same single pass. Returns (rowsRemoved,
    * cellsRewritten). Pass an empty `ids` frame for a compact-only pass
    * or `maxFilesPerCell = Int.MaxValue` for a delete-only one — both
    * degrade to the single-purpose ops' exact behavior. */
  def ivfPqMaintain(ids: DataFrame, path: String,
                    maxFilesPerCell: Int = 4,
                    idCol: String = "vec_id"): (Long, Int) = {
    val spark = ids.sparkSession
    val del = ids.select(col(idCol).cast("long").as("corpus_id")).distinct()
    val (fs, _) = graft.Swap.recovered(spark, path)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/lists"))) return (0L, 0)
    val lists = readLists(spark, path)
    // delete side: sidecar-candidate cells → exact dead counts
    val affected = discoverDeadCells(spark, path, fs, lists, del)
    val deadTotal = affected.map(_._2).sum
    // compact side: fragmented cells from the file listing
    val touched = (affected.map(_._1).toSet ++ fragmentedCells(fs, path, maxFilesPerCell))
      .toSeq.sorted
    if (touched.isEmpty) return (0L, 0)
    rewriteCells(fs, path, lists, touched, Some(del), "ivfpq-maintain")
    // sidecar RE-TIGHTENING: deletes leave their ids in `$path/ids` as
    // tombstones by the superset contract ([[ivfPqIdsRefresh]]), and
    // nothing else ever removes them — a long-lived index would
    // re-nominate dead cells forever. Maintenance is the natural place
    // to pay the refresh (one 2-column scan of the lists we just
    // rewrote), but only when the tombstone mass is worth it: refresh
    // when sidecar rows exceed live rows by
    // `spark.graft.ann.sidecarRefreshRatio` (default 0.1 — one refresh
    // per ~10% churn, amortized Θ(batch) like the rest of the pass).
    val idsPath = new org.apache.hadoop.fs.Path(s"$path/ids")
    if (deadTotal > 0 && fs.exists(idsPath)) {
      val ratio = spark.conf.getOption("spark.graft.ann.sidecarRefreshRatio")
        .map(_.toDouble).getOrElse(0.1)
      val sidecarRows = readArtifact(spark, path, "ids").count()
      val liveRows = readArtifact(spark, path, "lists").count()
      if (sidecarRows > liveRows * (1.0 + ratio)) ivfPqIdsRefresh(spark, path)
    }
    (deadTotal, touched.size)
  }

  /** (id, cid, resid): each valid-dim vector's coarse cell and residual
    * v − cent[cid] — exact elementwise subtraction in one projection. */
  private def residualFrame(corpus: DataFrame, cents: Array[Array[Double]], dim: Int,
                            idCol: String, vecCol: String): DataFrame = {
    val centLit = typedLit(cents.map(_.toSeq).toSeq)
    corpus.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .where(size(col("v")) === lit(dim))
      .withColumn("cid", nearestCid(col("v"), cents))
      .withColumn("resid",
        zip_with(col("v"), element_at(centLit, col("cid")), (a, b) => a - b))
  }

  /** Probe a persisted residual IVF-PQ index. The ADC approximation of
    * dot(q, x) over a cell `c` with residual codes k_j is
    *
    *   dot(q, c) + Σ_j lut_q[j][k_j]            (numerator)
    *   ‖c‖² + Σ_j (2·c_j·cw_{j,k_j} + ‖cw_{j,k_j}‖²)   (‖ĉ+r̂‖², denominator)
    *
    * — the per-cell constants (dot(q,c) per query, the cross+norm table
    * per (cell, j, codeword), ‖c‖² per cell) are all driver-computed in
    * fixed fold order and ride in as literals/broadcasts, so the plan
    * shape is IDENTICAL to the raw fused probe: pruned compressed scan,
    * two top-k windows, broadcast everything else. */
  def ivfPqResQuery(spark: org.apache.spark.sql.SparkSession, path: String,
                    corpus: DataFrame, queries: DataFrame, k: Int = DefaultTopK,
                    nprobe: Int = DefaultNProbe, shortlist: Int = DefaultPqShortlist,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (scored, qDf) = ivfPqResScored(spark, path, queries, nprobe, idCol, vecCol)
    exactRerank(scored, qDf, corpus, k, shortlist, idCol, vecCol)
  }

  /** The ADC-rank half of [[ivfPqResQuery]] without the exact re-rank —
    * (query_id, corpus_id, adc, rank), the batch twin the residual-mode
    * streaming probe is parity-gated against (the [[ivfPqAdcTopK]]
    * discipline). */
  def ivfPqResAdcTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                      queries: DataFrame, k: Int = DefaultTopK, nprobe: Int = DefaultNProbe,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (scored, _) = ivfPqResScored(spark, path, queries, nprobe, idCol, vecCol)
    val w = Window.partitionBy("query_id").orderBy(col("adc").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select("query_id", "corpus_id", "adc", "rank")
  }

  /** Per-(query, cell) dot(q, cent), through the LUT's 6-dp fixed point
    * (it is a lookup-table entry like any other), in (query, cid) order. */
  private[graft] def pqResQcTable(qRows: Array[(Long, Array[Double])],
                                  cents: Array[Array[Double]]): Seq[(Long, Int, Double)] =
    for ((qid, qv) <- qRows.toSeq; (c, i) <- cents.zipWithIndex.toSeq) yield {
      var dot = 0.0; var d = 0
      val n = math.min(qv.length, c.length)
      while (d < n) { dot += qv(d) * c(d); d += 1 }
      (qid, i + 1, r6d(dot))
    }

  /** Per-cell ‖cent‖², dim-order fold. */
  private[graft] def pqResCellNsq(cents: Array[Array[Double]]): Array[Double] =
    cents.map { c =>
      var s = 0.0; var d = 0
      while (d < c.length) { s += c(d) * c(d); d += 1 }
      s
    }

  /** The (cell, j, k) residual correction 2·c_j·cw + ‖cw‖², flattened in
    * ((cid−1)·m + j)·ksub + (k−1) order. */
  private[graft] def pqResCorrTable(cents: Array[Array[Double]],
                                    cb: Array[Array[Array[Double]]]): Array[Double] = {
    val mEff = cb.length
    val kEff = cb(0).length
    val sub = cb(0)(0).length
    cents.flatMap { c =>
      (0 until mEff).flatMap { j =>
        (0 until kEff).map { k0 =>
          val cw = cb(j)(k0)
          var cross = 0.0; var d = 0
          while (d < sub) { cross += c(j * sub + d) * cw(d); d += 1 }
          var nn = 0.0; d = 0
          while (d < sub) { nn += cw(d) * cw(d); d += 1 }
          2.0 * cross + nn
        }
      }
    }
  }

  /** The residual ADC scan over probed cells: returns (scored, qDf)
    * where scored carries query_id/corpus_id/adc over the cid-pruned
    * compressed lists (see [[ivfPqResQuery]] for the math and the
    * determinism contract). */
  private def ivfPqResScored(spark: org.apache.spark.sql.SparkSession, path: String,
                             queries: DataFrame, nprobe: Int,
                             idCol: String, vecCol: String): (DataFrame, DataFrame) = {
    val cents = readArtifact(spark, path, "centroids").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).sortBy(_._1).map(_._2)
    val cb = readPqCodebook(spark, s"$path/codebook")
    val mEff = cb.length
    val kEff = cb(0).length
    val qDf = pqLutDf(spark, queries, cb, idCol, vecCol)
    import spark.implicits._
    // qDf is a driver-local frame (pqLutDf builds it from collected
    // rows), so this collect is a local copy, not a Spark job
    val qRows = qDf.select("query_id", "q_vec").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val qcDf = pqResQcTable(qRows, cents).toDF("query_id", "cid", "qc")
    val withQ = ivfPqPrunedCodes(spark, path, qDf, nprobe, extraQc = Some(qcDf))
    (adcScoreCols(withQ, cb, residCents = Some(cents)), qDf)
  }

  /** Probe a persisted IVF-PQ index: pick each query's `nprobe` nearest
    * coarse centroids (broadcast centroid table — the ivfProbe shape),
    * ADC-scan ONLY those lists' codes (`cid` is a partition column, so
    * the broadcast equi-join prunes unprobed lists at the source), then
    * exact-re-rank the top-`shortlist` candidates on their full vectors
    * from `corpus`. The only exchanges are the two per-query top-k
    * windows — the corpus is never shuffled, and never read raw except
    * for shortlisted candidates. */
  def ivfPqQuery(spark: org.apache.spark.sql.SparkSession, path: String,
                 corpus: DataFrame, queries: DataFrame, k: Int = DefaultTopK,
                 nprobe: Int = DefaultNProbe, shortlist: Int = DefaultPqShortlist,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cb = readPqCodebook(spark, s"$path/codebook")
    val qDf = pqLutDf(spark, queries, cb, idCol, vecCol)
    pqAdcTail(ivfPqPrunedCodes(spark, path, qDf, nprobe), qDf, corpus, cb,
      k, shortlist, idCol, vecCol)
  }

  /** nprobe nearest centroids per query — ONE definition of the coarse
    * probe selection (argmax cosine, ties to the lowest cid) shared by
    * the raw and residual fused probes. */
  private def ivfPqProbes(centroids: DataFrame, qDf: DataFrame, nprobe: Int): DataFrame = {
    val probeW = Window.partitionBy("query_id").orderBy(col("csim").desc, col("cid").asc)
    qDf.select("query_id", "q_vec").crossJoin(broadcast(centroids))
      .withColumn("csim", cosine(col("q_vec"), col("centroid")))
      .withColumn("pr", row_number().over(probeW))
      .where(col("pr") <= nprobe)
      .select("query_id", "cid")
  }

  /** The cid-pruned, query-joined codes frame both fused-probe variants
    * scan: nprobe nearest centroids per query (broadcast centroid table),
    * then the partitioned lists joined down to probed cells only.
    * `extraQc` (residual mode) rides one more (query_id, cid)-keyed
    * broadcast join — the per-cell dot(q, cent) constants. */
  private def ivfPqPrunedCodes(spark: org.apache.spark.sql.SparkSession, path: String,
                               qDf: DataFrame, nprobe: Int,
                               extraQc: Option[DataFrame] = None): DataFrame = {
    val centroids = readArtifact(spark, path, "centroids")
    val probes = ivfPqProbes(centroids, qDf, nprobe)
    val base = readArtifact(spark, path, "lists")
      .join(broadcast(probes), "cid")
      .join(broadcast(qDf.select("query_id", "lut")), "query_id")
    extraQc.fold(base)(qc => base.join(broadcast(qc), Seq("query_id", "cid")))
      .where(col("corpus_id") =!= col("query_id"))
  }

  /** The ADC-rank half of [[ivfPqQuery]] WITHOUT the exact re-rank: per
    * query, the top-k corpus vectors by asymmetric distance over the
    * probed cells only — (query_id, corpus_id, adc, rank). This is the
    * batch twin of the streaming probe
    * ([[graft.streaming.StreamingOps.annAdcStream]]), which must
    * reproduce these rows exactly; the exact re-rank is a downstream
    * batch stage in both worlds (it needs the raw corpus vectors, which
    * the compressed index deliberately does not carry). */
  def ivfPqAdcTopK(spark: org.apache.spark.sql.SparkSession, path: String,
                   queries: DataFrame, k: Int = DefaultTopK, nprobe: Int = DefaultNProbe,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cb = readPqCodebook(spark, s"$path/codebook")
    val qDf = pqLutDf(spark, queries, cb, idCol, vecCol)
    val scored = pqAdcScores(ivfPqPrunedCodes(spark, path, qDf, nprobe), cb)
    val w = Window.partitionBy("query_id").orderBy(col("adc").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select("query_id", "corpus_id", "adc", "rank")
  }

  /** A persisted IVF-PQ index loaded whole into driver memory in its
    * COMPRESSED form — centroids, codebook, and per-cell (id, codes)
    * arrays. This is the broadcastable shape the streaming probe rides:
    * at 64-dim float32 → 8 codes the index is ~2% of the raw corpus,
    * which is the PQ design point that makes "whole index in memory"
    * a statement about codes, not floats. */
  final case class IvfPqIndex(cents: Array[Array[Double]],
                              cb: Array[Array[Array[Double]]],
                              lists: Map[Int, Array[(Long, Array[Int])]],
                              residual: Option[Boolean] = None)
      extends Serializable

  /** One-row `meta` parquet recording HOW the codes were produced
    * (raw vectors vs residuals v − cent[cid]): the two encodings share
    * a layout but demand different ADC denominators, so a probe that
    * guesses wrong returns silently wrong scores — the marker lets
    * [[loadIvfPq]]/[[graft.streaming.StreamingOps.annAdcStream]]
    * validate instead. */
  private def writeIndexMeta(spark: org.apache.spark.sql.SparkSession,
                             path: String, residual: Boolean): Unit = {
    import spark.implicits._
    Seq(residual).toDF("residual").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load a persisted IVF-PQ index ([[ivfPqWrite]]/[[ivfPqResWrite]]
    * layout) into an [[IvfPqIndex]]. Cell lists sort by id so downstream
    * iteration is deterministic regardless of parquet row order. The
    * encoding-mode marker rides along (None for indexes written before
    * the marker existed).
    *
    * The collect is corpus-proportional (codes ≈2% of raw vectors — the
    * broadcastable streaming-serving shape), so it is BOUNDED, not
    * assumed: past `maxRows` (override: `spark.graft.ann.maxIndexRows`)
    * the load fails fast with the scale-path pointer
    * ([[graft.streaming.StreamingOps.annAdcStreamJoin]] probes the
    * cid-partitioned lists where they sit, nothing driver-side). */
  def loadIvfPq(spark: org.apache.spark.sql.SparkSession, path: String,
                maxRows: Long = -1L): IvfPqIndex = {
    val listsDf = readArtifact(spark, path, "lists")
      .select(col("cid").cast("int"), col("corpus_id"), col("codes"))
    val bound =
      if (maxRows >= 0) maxRows
      else spark.conf.getOption("spark.graft.ann.maxIndexRows")
        .map(_.trim.toLong).getOrElse(10_000_000L)
    val n = listsDf.count()
    require(n <= bound,
      s"loadIvfPq: index at $path holds $n code rows > bound $bound — too large to " +
      "collect/broadcast; probe it in place with StreamingOps.annAdcStreamJoin " +
      "(stream-static join against the cid-partitioned lists), or raise " +
      "spark.graft.ann.maxIndexRows / the maxRows argument if the driver has headroom")
    val cents = readArtifact(spark, path, "centroids").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).sortBy(_._1).map(_._2)
    val cb = readPqCodebook(spark, s"$path/codebook")
    val lists = listsDf.collect()
      .groupBy(_.getInt(0))
      .map { case (cid, rs) =>
        cid -> rs.map(r => (r.getLong(1), r.getSeq[Int](2).toArray)).sortBy(_._1)
      }
    IvfPqIndex(cents, cb, lists, readIndexMeta(spark, path))
  }

  /** The encoding-mode marker of a persisted index, if present (indexes
    * written before the marker existed load as None). */
  private[graft] def readIndexMeta(spark: org.apache.spark.sql.SparkSession,
                                   path: String): Option[Boolean] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/meta")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(readArtifact(spark, path, "meta").select("residual").head.getBoolean(0))
    else None
  }

  /** The shared ADC + exact-re-rank tail over an already-encoded corpus
    * (see [[pqTopK]] for the plan shape and determinism contract). */
  private def pqAdcRerank(codes: DataFrame, corpus: DataFrame, queries: DataFrame,
                          cb: Array[Array[Array[Double]]], k: Int,
                          shortlist: Int, idCol: String, vecCol: String): DataFrame = {
    val qDf = pqLutDf(corpus.sparkSession, queries, cb, idCol, vecCol)
    val withQ = codes.crossJoin(broadcast(qDf.select("query_id", "lut")))
      .where(col("corpus_id") =!= col("query_id"))
    pqAdcTail(withQ, qDf, corpus, cb, k, shortlist, idCol, vecCol)
  }

  /** Per-query ADC lookup tables, built ONCE on the driver (queries are
    * the small side BY CONTRACT — the standard ANN batch shape; the
    * collect is bounded like the LUT any ADC engine builds). Each entry
    * is round(subvector·codeword, 6) in (j, k) order — the exact fixed
    * point queries.PqSql replays. Returns (query_id, q_vec, lut). */
  private def pqLutDf(spark: org.apache.spark.sql.SparkSession, queries: DataFrame,
                      cb: Array[Array[Array[Double]]],
                      idCol: String, vecCol: String): DataFrame = {
    import spark.implicits._
    val mEff = cb.length
    val kEff = cb(0).length
    val sub = cb(0)(0).length
    require(cb.forall(_.length == kEff), "pqLutDf: ragged codebook")
    // null / wrong-dimension query vectors emit no rows — the same
    // contract the streaming probe documents (a crash here would take
    // the whole batch down for one malformed query row)
    val qRows = queries
      .select(col(idCol).cast("long"), asDouble(col(vecCol))).collect()
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .filter(_._2.length == mEff * sub)
    val lutRows = qRows.map { case (qid, qv) =>
      val lut = new Array[Double](mEff * kEff)
      var j = 0
      while (j < mEff) {
        var k0 = 0
        while (k0 < kEff) {
          val cw = cb(j)(k0)
          var dot = 0.0; var d = 0
          while (d < sub) { dot += qv(j * sub + d) * cw(d); d += 1 }
          lut(j * kEff + k0) = r6d(dot)
          k0 += 1
        }
        j += 1
      }
      (qid, qv.toSeq, lut.toSeq)
    }.toSeq
    lutRows.toDF("query_id", "q_vec", "lut")
  }

  /** ADC scoring + shortlist + exact re-rank over a codes frame already
    * joined with its query batch (`withQ`: corpus_id, codes, query_id,
    * lut — the crossJoin shape for flat PQ, the cid-pruned join shape
    * for IVF-PQ). num and den fold in subspace order, matching the
    * oracle's left-associated chains bit-for-bit. */
  private def pqAdcTail(withQ: DataFrame, qDf: DataFrame, corpus: DataFrame,
                        cb: Array[Array[Array[Double]]], k: Int,
                        shortlist: Int, idCol: String, vecCol: String): DataFrame =
    exactRerank(pqAdcScores(withQ, cb), qDf, corpus, k, shortlist, idCol, vecCol)

  /** shortlist-by-adc → exact-cosine re-rank — ONE definition of the
    * two-window tail shared by every quantized probe (flat, fused,
    * residual): candidates and the query batch ride broadcasts, the
    * corpus contributes only the candidates' vectors. */
  private def exactRerank(scored: DataFrame, qDf: DataFrame, corpus: DataFrame,
                          k: Int, shortlist: Int, idCol: String, vecCol: String): DataFrame = {
    val sw = Window.partitionBy("query_id").orderBy(col("adc").desc, col("corpus_id").asc)
    val cand = scored.withColumn("srn", row_number().over(sw))
      .where(col("srn") <= shortlist).select("query_id", "corpus_id")
    val cv = corpus.select(col(idCol).cast("long").as("corpus_id"), asDouble(col(vecCol)).as("c_vec"))
    val ex = cv.join(broadcast(cand), "corpus_id")
      .join(broadcast(qDf.select(col("query_id"), col("q_vec"))), "query_id")
      .select(col("query_id"), col("corpus_id"), cosine(col("q_vec"), col("c_vec")).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("corpus_id").asc)
    ex.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** ADC scoring columns over a (corpus_id, codes, query_id, lut) frame:
    * num/den fold in subspace order (the oracle's left-associated
    * chains), adc = num/√den with the den==0 → 0 convention. The
    * codeword-norm lookup folds each ‖c‖² in dim order — the exact
    * chain PqSql unrolls, so den is bit-identical. */
  private def pqAdcScores(withQ: DataFrame, cb: Array[Array[Array[Double]]]): DataFrame =
    adcScoreCols(withQ, cb, residCents = None)

  /** ONE definition of the ADC num/den/adc columns for BOTH encodings —
    * shared by the flat/fused batch probes, the residual batch probe,
    * and the stream-static join probe, so the fold orders and fixed
    * points can never drift apart. Raw mode (`residCents = None`) needs
    * (codes, lut); residual mode additionally needs (cid, qc) and adds
    * the per-cell corrections (dot(q, cent) numerator constant;
    * ‖cent‖² + Σ(2·c·cw + ‖cw‖²) denominator — ivfPqResQuery's math,
    * same fold order, den ≤ 0 → 0 because the rounded ‖ĉ+r̂‖² can go
    * fractionally negative). */
  private[graft] def adcScoreCols(withQ: DataFrame, cb: Array[Array[Array[Double]]],
                                  residCents: Option[Array[Array[Double]]]): DataFrame = {
    val mEff = cb.length
    val kEff = cb(0).length
    val subspaceIdx = sequence(lit(0), lit(mEff - 1))
    val lutSum = aggregate(
      zip_with(col("codes"), subspaceIdx, (cd, j) => element_at(col("lut"), j * kEff + cd)),
      lit(0.0), (a, x) => a + x)
    residCents match {
      case None =>
        val nsqCol = typedLit(pqNsqFlat(cb).toSeq)
        withQ
          .withColumn("num", lutSum)
          .withColumn("den", aggregate(
            zip_with(col("codes"), subspaceIdx, (cd, j) => element_at(nsqCol, j * kEff + cd)),
            lit(0.0), (a, x) => a + x))
          .withColumn("adc",
            when(col("den") === 0, lit(0.0)).otherwise(col("num") / sqrt(col("den"))))
      case Some(cents) =>
        val tCol = typedLit(pqResCorrTable(cents, cb).toSeq)
        val cnsqCol = typedLit(pqResCellNsq(cents).toSeq)
        withQ
          .withColumn("num", col("qc") + lutSum)
          .withColumn("den", element_at(cnsqCol, col("cid")) + aggregate(
            zip_with(col("codes"), subspaceIdx,
              (cd, j) => element_at(tCol, ((col("cid") - 1) * mEff + j) * kEff + cd)),
            lit(0.0), (a, x) => a + x))
          .withColumn("adc",
            when(col("den") <= 0, lit(0.0)).otherwise(col("num") / sqrt(col("den"))))
    }
  }

  /** Codeword squared norms in (j, k) order, each summed in dim order. */
  private[graft] def pqNsqFlat(cb: Array[Array[Array[Double]]]): Array[Double] =
    cb.flatMap(_.map { c =>
      var s = 0.0; var d = 0
      while (d < c.length) { s += c(d) * c(d); d += 1 }
      s
    })

  /** Planes needed so the EXPECTED bucket holds ≤ targetBucketSize vectors
    * (2^planes ≥ n/target): within-bucket pairing is O(n²/2^planes), so a
    * fixed plane count goes quadratic as the corpus grows — the bucket
    * count must scale with N. Capped at 31: signatures are Int bit
    * masks (functions.HyperplaneSigs), so plane 31 is the last distinct
    * bit — past the cap buckets grow linearly with n (2.1B slots),
    * which stays correct (LSH recall only rises with bucket size) and
    * merely pays more within-bucket pairs. */
  def planesForCorpus(n: Long, targetBucketSize: Long = 4096): Int =
    math.min(31, math.max(4,
      math.ceil(math.log(math.max(n.toDouble / targetBucketSize, 1.0)) / math.log(2.0)).toInt))

  /** Embedding-cosine near-duplicate pairs above a threshold, via LSH
    * buckets (within-bucket pairs only — never all-pairs). `planes <= 0`
    * derives the bucket count from the corpus size (one count() action)
    * so the within-bucket pair blow-up is bounded at any scale. */
  def cosineNearDup(corpus: DataFrame, threshold: Double = 0.95, planes: Int = 0,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val p = if (planes > 0) planes else planesForCorpus(corpus.count())
    // coalesce = nullability barrier (unreachable after the notnull
    // filter): without it the self-join's inferred isnotnull(sig)
    // constraint re-evaluates the hyperplane signature in the scan filter
    // on both sides (same pattern as Dedup.simhash)
    val c = corpus.where(col(vecCol).isNotNull)
      .select(col(idCol), asDouble(col(vecCol)).as("v"),
        coalesce(element_at(lshSignatures(col(vecCol), p, 1), 1), lit(0)).as("sig"))
    val a = c.toDF("a_id", "a_v", "sig")
    val b = c.toDF("b_id", "b_v", "sig")
    a.join(b, "sig").where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), cosine(col("a_v"), col("b_v")).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** STAR edges over the hyperplane buckets — [[cosineNearDup]]'s
    * linear-edge twin for CLUSTERING consumers (the embedding analogue
    * of Dedup.bucketStarEdges/simhashStarEdges): per signature bucket,
    * only the bucket-min hub links to each member, so edge count is
    * linear in bucket size where the all-pairs self-join is quadratic.
    * The cosine rides along un-gated (threshold = the caller's gate,
    * applied on the ROUNDED value by the registered query — the
    * established cross-engine boundary convention); a member pair whose
    * mutual cosine passes the gate but whose hub links both fail it may
    * land in split components — the standard LSH recall trade, pinned by
    * the oracle's replay of this construction. Returns
    * (a_id, b_id, cosine). */
  def cosineNearDupStar(corpus: DataFrame, planes: Int = 0,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val p = if (planes > 0) planes else planesForCorpus(corpus.count())
    val c = corpus.where(col(vecCol).isNotNull)
      .select(col(idCol), asDouble(col(vecCol)).as("v"),
        coalesce(element_at(lshSignatures(col(vecCol), p, 1), 1), lit(0)).as("sig"))
      // one explicit sig exchange shared by the hub aggregation and the
      // hub↔member join (ReuseExchange)
      .repartition(col("sig"))
    // min over (id, vector) structs: ids are unique, so the struct min IS
    // the min-id member, carrying its vector without a recovery join
    val hubs = c.groupBy("sig")
      .agg(min(struct(col(idCol), col("v"))).as("h"))
      .select(col("sig"), col("h")(idCol).as("a_id"), col("h")("v").as("a_v"))
    c.join(hubs, "sig").where(col(idCol) =!= col("a_id"))
      .select(col("a_id"), col(idCol).as("b_id"), cosine(col("a_v"), col("v")).as("cosine"))
  }
}
