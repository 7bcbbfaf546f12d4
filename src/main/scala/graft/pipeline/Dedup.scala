package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication for training-data pipelines: exact (hash groupBy),
  * MinHash+LSH banded near-dup, and SimHash near-dup.
  *
  * 100 TB design notes (the math that keeps this bucketed, never all-pairs):
  *
  *   - EXACT: sha2 → the shuffle is by 256-bit hash, perfectly uniform, so
  *     1000 executors each see ~1/1000 of the corpus. No skew possible.
  *   - MINHASH-LSH: `numPerms` minhashes split into `bands` bands of
  *     `rows = numPerms/bands` each. Candidate-pair probability for true
  *     Jaccard j is 1−(1−j^rows)^bands (S-curve). With 32/16×2 the 50%
  *     threshold sits near j≈0.17; tune rows up for precision. The ONLY
  *     join is an equi-join on (band, bucket): at 10B docs and b buckets a
  *     bucket holds ~10B·16/b docs; with 2^20 buckets that's ~150k docs/
  *     bucket worst case ⇒ pairs within a bucket stay bounded, and a
  *     skewed bucket (all-identical spam) is exactly the case where
  *     pairing is the desired output. Never a cartesian across buckets.
  *   - SIMHASH: 64-bit signature; Hamming-≤k search uses the pigeonhole
  *     principle — split 64 bits into `numChunks` chunks; any pair within
  *     Hamming k < numChunks must agree on ≥1 whole chunk, so an equi-join
  *     per chunk finds all candidates. 8 chunks of 8 bits ⇒ k ≤ 7
  *     guaranteed recall, candidates verified by exact bit_count(xor);
  *     the code refuses k ≥ numChunks rather than silently under-recall.
  */
object Dedup {

  /** Frames the plan builders persist for intra-plan reuse (minhash
    * signatures, LSH buckets, frequent fps), through the shared
    * [[graft.Scratch.Retained]] guard: persisted MEMORY_AND_DISK unless an
    * identical plan is already cached, and tracked for [[releaseCaches]]
    * — a long-lived session dispatching over MANY distinct corpora (the
    * incremental pipeline use case) releases them instead of accumulating
    * cache entries for the JVM lifetime. */
  private val retained = new graft.Scratch.Retained

  /** Unpersist every frame the dedup plan builders retained (and drop
    * memoized regime verdicts — stale after the data they probed
    * changes). Call between corpora in a long-lived session; safe while
    * no query built from those frames is still running. */
  def releaseCaches(): Unit = {
    retained.release()
    clearRegimeCache()
  }

  /** Exact dedup annotation: hash, duplicate-group size, canonical flag
    * (lowest id in the group wins). */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val byHash = Window.partitionBy("text_hash")
    docs.select(col(idCol), sha2(col(textCol), 256).as("text_hash"))
      .withColumn("dup_count", count(lit(1)).over(byHash))
      .withColumn("is_canonical", col(idCol) === min(col(idCol)).over(byHash))
  }

  /** Whitespace tokens of the normalized text — THE tokenization every
    * dedup signature derives from. One definition: the DuckDB oracles
    * (DedupSql.tokCte) replay this exact form, so a drift between call
    * sites would silently desync them from the oracle. */
  private[graft] def tokens(text: Column): Column =
    split(trim(lower(text)), "\\s+")

  /** Word k-shingles of the normalized text.
    *
    * Built from k shifted SLICES zipped together, NOT a per-position
    * `slice(words, i + 1, k)` lambda — the same O(tokens²) trap
    * documented (and fixed the same way) on [[Repetition.ngrams]]:
    * Catalyst does no common-subexpression elimination inside
    * higher-order-function lambdas, so when `words` is an expression (a
    * regex split), the per-position slice form re-ran the ENTIRE
    * tokenization for every gram position — measured 4.3 s for a
    * 5 000-doc × ~52-gram corpus vs 0.2 s for the split itself (r18).
    * The slice form evaluates `words` O(k) times per ROW; the zip
    * lambdas only touch their bound element variables. Output strings
    * are identical by construction (same windows, same single-space
    * join). */
  def shingles(text: Column, k: Int = 3): Column = shinglesOfTokens(tokens(text), k)

  /** [[shingles]] over an already-tokenized array column — for callers
    * that stage the token array as an attribute (spanRewrite) so the
    * slices below are O(k) array reads, not re-tokenizations. */
  private[graft] def shinglesOfTokens(words: Column, k: Int): Column =
    when(size(words) < k, array(concat_ws(" ", words)))
      .otherwise({
        val parts = (0 until k).map(j => slice(words, lit(j + 1), size(words) - (k - 1)))
        parts.reduce((a, b) => zip_with(a, b, (x, y) => concat_ws(" ", x, y)))
      })

  /** (id, sig: array<long>[numPerms]) minhash signatures via a native
    * expression — computed entirely inside the scan stage (map-side only;
    * the round-1 formulation exploded shingles and shuffled
    * O(docs·shingles) rows through 32 min-aggregates).
    *
    * `portable = false` (default) hashes with XXH64 — fastest, but no SQL
    * engine can replay its wrapping multiplies. `portable = true` uses the
    * mod-prime affine family (TextHashes.MinhashSigPoly), bit-replayable
    * in plain BIGINT arithmetic — the mode the DuckDB oracles verify. */
  def minhashSignatures(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                        numPerms: Int = 32, shingleK: Int = 3,
                        portable: Boolean = false): DataFrame = {
    // portable mode fuses shingling into the expression (modular
    // composition over per-token fingerprints — no shingle strings are
    // ever materialized); XXH64 needs the shingle's actual bytes, so that
    // path keeps the explicit shingle-array expression
    val sig =
      if (portable) graft.functions.TextHashes.minhashShinglePoly(
        tokens(col(textCol)), shingleK, numPerms)
      else graft.functions.TextHashes.minhashSig(shingles(col(textCol), shingleK), numPerms)
    docs.select(col(idCol), sig.as("sig"))
  }

  /** LSH banding: (id, band, bucket) — one row per band per doc; the
    * bucket key folds the band's signature slice (xxhash64 by default, a
    * mod-prime polynomial fold in portable mode). */
  def lshBuckets(signatures: DataFrame, idCol: String = "doc_id",
                 numPerms: Int = 32, bands: Int = 16,
                 portable: Boolean = false): DataFrame =
    signatures.select(col(idCol),
        explode(bandBucketsExpr(col("sig"), numPerms, bands, portable)).as("bb"))
      .select(col(idCol), col("bb.band"), col("bb.bucket"))

  /** The banding expression itself: array<struct<band,bucket>> over a
    * signature column — the ONE band-fold definition shared by the batch
    * [[lshBuckets]] frame and the streaming per-row probe
    * (StreamingOps.crossCorpusNearDupStream), so the bucket keys the two
    * paths derive cannot drift. */
  def bandBucketsExpr(sig: Column, numPerms: Int = 32, bands: Int = 16,
                      portable: Boolean = false): Column = {
    val rows = numPerms / bands
    require(rows * bands == numPerms, "bands must divide numPerms")
    val P = graft.functions.TextHashes.PolyP
    def bucket(sl: Column): Column =
      if (portable) aggregate(sl, lit(0L), (h, v) => (h * lit(1000003L) + v) % lit(P))
      else xxhash64(sl)
    array((0 until bands).map { b =>
      struct(lit(b).as("band"), bucket(slice(sig, b * rows + 1, rows)).as("bucket"))
    }: _*)
  }

  /** Candidate near-dup pairs from bucket collisions, with the MinHash
    * Jaccard estimate (fraction of agreeing signature components).
    * The join key is (band, bucket) — bounded buckets, never all-pairs.
    *
    * `collapseIdentical` mirrors simhashCandidates' duplicate-class
    * guard for clustering consumers: docs sharing a full signature
    * collapse to their min-id representative before banding, so an
    * m-member exact-duplicate class emits m−1 star edges (est_jaccard
    * 1.0 — identical signatures agree on every component) instead of
    * O(m²) bucket pairs. Connected components are unchanged; the pair
    * LIST is not, so the est-Jaccard-consuming registered query keeps
    * the all-pairs default. */
  def minhashCandidates(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                        numPerms: Int = 32, bands: Int = 16, shingleK: Int = 3,
                        portable: Boolean = false,
                        collapseIdentical: Boolean = false): DataFrame = {
    // MEMORY_AND_DISK, not the MEMORY_ONLY default: the signature frame is
    // corpus-sized (one row per doc), and it feeds THREE downstream joins
    // (bucketing + both sides of the pair-verify). Under memory pressure at
    // 100 TB, MEMORY_ONLY silently evicts and recomputes the shingle+minhash
    // pass per join; spilling the overflow to local disk is strictly cheaper.
    // storage-level guard: a re-entrant call with the same corpus/args
    // builds an IDENTICAL logical plan, which CacheManager would match
    // and warn about ("already cached") — reuse the live entry instead,
    // so that warning stays a real finding when it appears
    val rawSig = retained.guardedPersist(
      minhashSignatures(docs, textCol, idCol, numPerms, shingleK, portable))
    val (sig, identityEdges) =
      if (!collapseIdentical) (rawSig, None)
      else {
        // same single-window collapse as simhashCandidates; column order
        // (idCol, sig) preserved for the positional toDF renames below
        val w = org.apache.spark.sql.expressions.Window.partitionBy("sig")
        val withRep = rawSig.withColumn("rep", min(col(idCol)).over(w))
        val reps = withRep.where(col(idCol) === col("rep"))
          .select(col(idCol), col("sig"))
        val ident = withRep.where(col(idCol) =!= col("rep"))
          .select(col("rep").as("a_id"), col(idCol).as("b_id"), lit(1.0).as("est_jaccard"))
        (reps, Some(ident))
      }
    val buckets = lshBuckets(sig, idCol, numPerms, bands, portable)
    val a = buckets.toDF("a_id", "band", "bucket")
    val b = buckets.toDF("b_id", "band", "bucket")
    val pairs = a.join(b, Seq("band", "bucket")).where(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    val agree = size(filter(zip_with(col("a_sig"), col("b_sig"), (x, y) => x === y), p => p))
    val scored = pairs.join(sig.toDF("a_id", "a_sig"), "a_id")
      .join(sig.toDF("b_id", "b_sig"), "b_id")
      .select(col("a_id"), col("b_id"), (agree.cast("double") / numPerms).as("est_jaccard"))
    identityEdges.map(scored.unionByName(_)).getOrElse(scored)
  }

  /** Connected components over near-dup pairs — the step a real dedup
    * pipeline needs between pair emission and canonical-document
    * selection. Two-phase design (the standard large-graph CC recipe,
    * "contract big, finish small"):
    *
    *   1. Distributed min-label rounds: each iteration is ONE
    *      edge-scale equi-join + partial-aggregated min. The pointer
    *      jump (label := label-of-label) is FUSED into that join by
    *      unioning the label map itself as extra directed edges
    *      (id → label), so the jump rides the same exchange instead of
    *      paying its own join — the round-12 audit priced the unfused
    *      round at ~4 joins over the edge frame; the fused round pays
    *      one. Labels are pointwise non-increasing, so convergence is a
    *      changed-row count on the just-checkpointed frame (a scan, not
    *      a join).
    *   2. Driver finish: once the super-graph (distinct label-to-label
    *      edges still crossing components) fits `driverEdgeBound`
    *      (default 2^20 edges ≈ tens of MB — bounded driver memory, the
    *      same posture as the IVF centroid collect), the remaining closure
    *      runs as a path-compressed min-root union-find on the driver and
    *      is applied back with one broadcast join. The fit test is a
    *      single `limit(bound+1).collect()` — CollectLimit fetches reduce
    *      partitions incrementally, so a far-over-bound round stops after
    *      ~16 MB instead of materializing + counting the full contraction
    *      (the round-12 checkpoint+count double-pass). The check runs at
    *      round 0 (where the contraction is the raw checkpointed edge set
    *      — an early-stopping scan, no join) and EVERY round thereafter:
    *      the ×1000 audit measured that label-flood heuristics (skip the
    *      check while most labels still move) starve the driver finish,
    *      because the contracted super-graph collapses rounds before the
    *      labeling quiesces. This caps the round count: a 100 TB corpus
    *      pays a few fused rounds, and a bench-scale pair set (edges
    *      already under the bound) pays ZERO distributed rounds.
    *
    * Returns (idCol, cluster_id, is_representative) for EVERY id in
    * `ids` — singletons keep their own id as cluster_id; cluster_id is
    * the component's minimum id (deterministic, order-independent: the
    * union-find attaches the larger root under the smaller, so roots are
    * component minima regardless of edge order).
    * Contract: pair endpoints must be drawn from `ids` — an edge to an
    * id outside the universe contributes no label (its endpoint has no
    * labels row to propagate from). */
  /** Resolve the broadcast-label-regime bound for [[components]].
    * Order: explicit arg ≥ 0 → the conf `spark.graft.cc.maxBroadcastIds`
    * → a memory-derived default at the measured ~3.2 KB/id calibration
    * (the ×1000 audit: a 5M-id hashed relation beside the 160M-edge
    * checkpoint OOMs an 8g JVM but fits 16g). The memory figure is the
    * driver heap ONLY under local masters, where driver and executors
    * share one JVM and the calibration was taken; on a cluster the
    * broadcast's hashed relation lives in EXECUTOR heaps — driver heap
    * says nothing about it — so the default reads spark.executor.memory
    * instead, and if even that is unset falls back to
    * autoBroadcastJoinThreshold at ~100 B per hashed id (ordinary
    * dimension-broadcast sizing; a disabled threshold (-1) resolves to
    * the always-safe shuffle regime). */
  private[graft] def resolveBroadcastBound(
      spark: org.apache.spark.sql.SparkSession, maxBroadcastIds: Long): Long =
    if (maxBroadcastIds >= 0) maxBroadcastIds
    else spark.conf.getOption("spark.graft.cc.maxBroadcastIds") match {
      case Some(v) => v.trim.toLong
      // "local" / "local[...]" ONLY: local-cluster[...] runs executors
      // in their OWN small JVMs, where the driver-heap calibration would
      // be exactly the miscalibration this resolution exists to avoid
      case None if spark.sparkContext.master == "local" ||
                   spark.sparkContext.master.startsWith("local[") =>
        Runtime.getRuntime.maxMemory / 3200
      case None =>
        spark.conf.getOption("spark.executor.memory") match {
          case Some(m) =>
            org.apache.spark.network.util.JavaUtils.byteStringAsBytes(m) / 3200
          case None =>
            val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
            if (thr.trim.startsWith("-")) 0L
            else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(thr) / 100
        }
    }

  def components(pairs: DataFrame, ids: DataFrame, idCol: String = "doc_id",
                 aCol: String = "a_id", bCol: String = "b_id",
                 maxIters: Int = 20, driverEdgeBound: Long = 1L << 20,
                 maxBroadcastIds: Long = -1L): DataFrame = {
    // localCheckpoint (not cache) on the iterated frames: caching keeps
    // the LOGICAL plan growing — two self-joins per round double it, and
    // the analyzer blows the heap after a dozen rounds; checkpointing
    // truncates the lineage so every round plans against a leaf
    var labels = ids.select(col(idCol).as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint(eager = true)
    val labelType = labels.schema("label").dataType
    // label-map size regime: a small-enough label map rides every
    // per-round join as a BROADCAST — the round's only shuffle is the
    // node-scale min-aggregate merge instead of the full edge frame
    // (the round-12 audit's 3+ GB/round). Past the bound — the
    // billions-of-docs regime — the shuffle-join path below is the plan;
    // the dispatch is a count on the checkpointed frame (a cheap scan).
    // Bound resolution (arg → conf → memory-derived) lives in
    // [[resolveBroadcastBound]]; on a real cluster prefer the explicit
    // knob or conf, sized to executor memory (~100 bytes/id hashed).
    val idCount = labels.count()
    val bcastBound = resolveBroadcastBound(ids.sparkSession, maxBroadcastIds)
    val bcastRegime = idCount <= bcastBound
    // broadcast regime: repartition BY src BEFORE the distinct —
    // HashPartitioning(src) satisfies the distinct's
    // ClusteredDistribution(src, dst), so the edge frame still pays ONE
    // exchange total but checkpoints hash-partitioned on src, and every
    // round's groupBy(src) reuses that partitioning with no exchange at
    // all (the per-round joins are all broadcasts). Shuffle regime keeps
    // the (src, dst) hash: src-keyed partitioning buys nothing there
    // (the round join re-exchanges on dst anyway) and would concentrate
    // a high-degree hub's entire edge list into one partition.
    val fwd = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
    val sym = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    val edges = (if (bcastRegime) sym.repartition(col("src")) else sym)
      .distinct().localCheckpoint(eager = true)
    val debug = sys.env.contains("GRAFT_CC_DEBUG")
    // bound+1 rows decide "fits" vs "doesn't" in one incremental-fetch
    // job; the array is ≤ ~16 MB at the default bound either way
    val fitLimit = math.min(driverEdgeBound + 1, Int.MaxValue.toLong - 8).toInt
    var i = 0
    var converged = false
    while (!converged && i < maxIters) {
      // super-graph fit test — round 0 (raw edge set, no join: the scan
      // early-stops the moment bound+1 rows surface) and EVERY round
      // after. A changed-fraction gate was tried and measured WRONG at
      // ×1000: min-label flooding inside giant duplicate components
      // keeps ~4.9M/5M labels moving for many rounds while the
      // CONTRACTED super-graph is already tiny (r12's accounting has it
      // under 2^20 by round 3), so gating on changed starves the driver
      // finish and the loop pays open-ended edge-scale rounds instead.
      // The per-round check price is bounded: two label joins + partial
      // distinct + an early-stopping limit(bound+1) fetch — strictly
      // less than r12's materialize-and-count double pass.
      locally {
        // contracted super-graph between CURRENT labels, canonical
        // (min, max) form; round 0's identity labeling makes it the
        // (already distinct, symmetric) edge set itself
        def lab(as: String, out: String) = {
          val m = labels.select(col("id").as(as), col("label").as(out))
          if (bcastRegime) broadcast(m) else m
        }
        val contracted =
          if (i == 0) edges.where(col("src") < col("dst")).select(col("src").as("x"), col("dst").as("y"))
          else edges
            .join(lab("src", "sl"), "src")
            .join(lab("dst", "dl"), "dst")
            .where(col("sl") =!= col("dl"))
            .select(least(col("sl"), col("dl")).as("x"), greatest(col("sl"), col("dl")).as("y"))
            .distinct()
        val superEdges = contracted.limit(fitLimit).collect()
        if (debug) System.err.println(
          s"[cc] check round=$i super_edges=${if (superEdges.length == fitLimit) s">${driverEdgeBound}" else superEdges.length.toString}")
        if (superEdges.isEmpty) {
          // every edge is internal to a label ⇒ labels are
          // component-uniform, and a uniform label equals the component
          // min (the min node's label only ever decreases from itself
          // and label values are member ids)
          converged = true
        } else if (superEdges.length <= driverEdgeBound) {
          // driver finish: min-root union-find with path compression over
          // the super-graph, applied back through ONE broadcast join.
          // Generic over the id type — label values (Long doc ids, Int
          // test ids, …) are compared through Comparable, and the root map
          // is rebuilt with the labels frame's own schema so no cast can
          // corrupt or widen the output type.
          val parent = new java.util.HashMap[Any, Any]()
          def find(a: Any): Any = {
            var r = a
            while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
            var c = a // path compression
            while (parent.getOrDefault(c, c) != r) { val nxt = parent.get(c); parent.put(c, r); c = nxt }
            r
          }
          def lt(a: Any, b: Any): Boolean = a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
          superEdges.foreach { row =>
            val (rx, ry) = (find(row.get(0)), find(row.get(1)))
            if (rx != ry) { if (lt(rx, ry)) parent.put(ry, rx) else parent.put(rx, ry) }
          }
          val rootRows = new java.util.ArrayList[org.apache.spark.sql.Row]()
          parent.keySet().forEach { k =>
            val r = find(k)
            if (r != k) rootRows.add(org.apache.spark.sql.Row(k, r))
          }
          val spark = labels.sparkSession
          val schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("l", labelType),
            org.apache.spark.sql.types.StructField("root", labelType)))
          val roots = spark.createDataFrame(rootRows, schema)
          labels = labels.join(broadcast(roots), labels("label") === roots("l"), "left")
            .select(col("id"), coalesce(col("root"), col("label")).as("label"))
          converged = true
        }
      }
      if (!converged) {
        // fused propagate + pointer-jump: one edge-scale pass computes
        // min(label, neighbor labels, label-of-label) per node. The jump
        // is against this round's INPUT labeling (a stale label-of-label
        // still contracts: labels only ever decrease toward the
        // component min and every value is a same-component id, so
        // least() stays correct).
        val merged = (if (bcastRegime) {
          // broadcast regime: the label map joins map-side everywhere.
          // The edge frame is hash-partitioned on src (checkpoint above)
          // and a broadcast join preserves the streamed side's
          // partitioning, so groupBy(src) runs with NO exchange — the
          // round's only shuffle is the node-scale merge join. The jump
          // is a second map-side lookup of the same broadcast (reused by
          // exchange reuse), not a pointer-edge union, which would break
          // the src partitioning.
          val lb = broadcast(labels)
          val nbrMin = edges
            .join(lb.select(col("id").as("dst"), col("label").as("dl")), "dst")
            .groupBy(col("src")).agg(min("dl").as("nbr_min"))
          val jumped = labels
            .join(lb.select(col("id").as("j_id"), col("label").as("jl")),
              labels("label") === col("j_id"), "left")
            .select(col("id"), col("label").as("__old"),
              least(col("label"), coalesce(col("jl"), col("label"))).as("lab1"))
          jumped.join(nbrMin, jumped("id") === nbrMin("src"), "left")
            .select(col("id"), col("__old"),
              least(col("lab1"), coalesce(col("nbr_min"), col("lab1"))).as("label"))
        } else {
          // shuffle regime (label map too big to broadcast): the label
          // map rides the edge frame as extra (id → label) directed
          // edges, so ONE equi-join + min-aggregate yields the same
          // fused value. Self-labeled nodes contribute no pointer edge —
          // round 0 pays zero jump overhead.
          val ptr = labels.where(col("id") =!= col("label"))
            .select(col("id").as("src"), col("label").as("dst"))
          val nbrMin = edges.union(ptr)
            .join(labels.select(col("id").as("dst"), col("label").as("dl")), "dst")
            .groupBy(col("src")).agg(min("dl").as("nbr_min"))
          labels.join(nbrMin, labels("id") === nbrMin("src"), "left")
            .select(col("id"), col("label").as("__old"),
              least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"))
        }).localCheckpoint(eager = true)
        // old label rides through the checkpoint so convergence is a
        // filtered scan of the materialized frame — no old-vs-new join
        val changed = merged.where(col("label") =!= col("__old")).count()
        // the superseded label checkpoint is dead: merged is materialized
        // (eager) and changed already counted — free its blocks now
        // instead of accumulating a node-scale block set per round
        graft.Scratch.freeCheckpoint(labels)
        labels = merged.select(col("id"), col("label"))
        if (debug) System.err.println(s"[cc] round=$i changed=$changed")
        // zero changed labels ⇒ every node's label ≤ all neighbor labels
        // ⇒ adjacent labels are equal ⇒ component-uniform (= the min)
        if (changed == 0) converged = true
        i += 1
      }
    }
    // silent unconverged labels would hand callers WRONG clusters; with
    // pointer jumping + the driver finish, maxIters=20 covers any graph
    // whose super-graph ever contracts under the bound — hitting this
    // means the graph needs a bigger budget, not a shrug
    if (sys.env.contains("GRAFT_CC_DEBUG")) System.err.println(s"[cc] rounds=$i")
    if (!converged) {
      // free BOTH live checkpoints before the throw: a failed CC run
      // must not leak its edge-scale (and label-scale) block sets for
      // the JVM lifetime — exactly the accumulation the success path's
      // frees prevent
      graft.Scratch.freeCheckpoint(edges)
      graft.Scratch.freeCheckpoint(labels)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIters iterations; raise maxIters")
    }
    // the returned frame reads only the final label checkpoint (+ the
    // driver-finish broadcast): the edge-scale checkpoint is dead weight
    // from here — free it so consecutive CC calls in one session don't
    // stack corpus-sized block sets (two ×1000 star-cluster queries
    // OOMed a 16g JVM that way; each alone fits in 8g)
    graft.Scratch.freeCheckpoint(edges)
    labels.select(col("id").as(idCol), col("label").as("cluster_id"),
      (col("id") === col("label")).as("is_representative"))
  }

  /** Pair-level agreement between two clusterings of the SAME id
    * universe — the Rand-index decomposition, computed entirely from
    * cluster-size marginals (never pair enumeration, so any corpus size
    * pays three node-scale aggregates): co-clustered pair counts per
    * side come from Σ n(n−1)/2 over cluster sizes, the agreeing count
    * from the same sum over the JOINT partition, and the two set
    * differences fall out by subtraction. The round-12 star-construction
    * default verifies only hub↔member links, so a verified all-pairs
    * clique whose members each fail against every shared hub SPLITS —
    * this is the measurement that keeps that recall trade visible:
    * `pairs_only_b`(= in the all-pairs clustering but not the star's)
    * counts exactly the under-merged pairs. Returns ONE row:
    * (n_clusters_a, n_clusters_b, pairs_a, pairs_b, pairs_both,
    * pairs_only_a, pairs_only_b). Pair counts are exact through the
    * shiftright halving up to ~3×10⁹-member clusters (n(n−1) in a
    * Long). Inputs are [[components]]-shaped: (idCol, cluster_id, …). */
  def clusteringAgreement(a: DataFrame, b: DataFrame,
                          idCol: String = "doc_id"): DataFrame = {
    val joint = a.select(col(idCol).as("id"), col("cluster_id").as("ca"))
      .join(b.select(col(idCol).as("id"), col("cluster_id").as("cb")), "id")
      .groupBy("ca", "cb").agg(count(lit(1)).as("n"))
    def pairCount(n: Column) = shiftright(n * (n - lit(1)), 1)
    val ma = joint.groupBy("ca").agg(sum("n").as("n"))
      .agg(count(lit(1)).as("n_clusters_a"), sum(pairCount(col("n"))).as("pairs_a"))
    val mb = joint.groupBy("cb").agg(sum("n").as("n"))
      .agg(count(lit(1)).as("n_clusters_b"), sum(pairCount(col("n"))).as("pairs_b"))
    val mj = joint.agg(sum(pairCount(col("n"))).as("pairs_both"))
    ma.crossJoin(mb).crossJoin(mj)
      .select(col("n_clusters_a"), col("n_clusters_b"),
        col("pairs_a"), col("pairs_b"), col("pairs_both"),
        (col("pairs_a") - col("pairs_both")).as("pairs_only_a"),
        (col("pairs_b") - col("pairs_both")).as("pairs_only_b"))
  }

  /** Choose one KEEPER per near-dup cluster by an explicit preference —
    * longest text, highest quality score, newest version — instead of
    * [[components]]' structural min-label representative: real dedup
    * pipelines keep the best duplicate, not the smallest id. Emits a
    * keep flag for EVERY doc, so keeps and drops are both verifiable.
    * Ties break on ascending id; nulls rank last on both engines
    * (explicit, because Spark's desc defaults nulls-last while SQL
    * engines default nulls-first). For oracle-gated use, rank by an
    * engine-exact column (length, counts) — a full-precision double
    * rank can flip near-ties across engines.
    *
    * Scale: one doc-keyed join + one cluster-keyed window — both
    * exchanges uniform (cluster sizes are near-dup class sizes, bounded
    * by the same collapse argument as [[minhashCandidates]]). The rank
    * expression is evaluated on `docs` BEFORE the join, so only
    * (id, rank) rides the exchange — never the doc payload — and a
    * cluster_id/keep column already present on `docs` can't collide. */
  def clusterRepresentatives(clusters: DataFrame, docs: DataFrame, rankBy: Column,
                             idCol: String = "doc_id"): DataFrame = {
    val ranked = docs.select(col(idCol), rankBy.as("__rank"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("__rank").desc_nulls_last, col(idCol).asc)
    clusters.select(col(idCol), col("cluster_id"))
      .join(ranked, Seq(idCol))
      .withColumn("keep", row_number().over(w) === 1)
      .select(col(idCol), col("cluster_id"), col("keep"))
  }

  /** Train/test decontamination: flag every corpus doc sharing at least
    * one k-gram with the benchmark set. The check runs on shingle
    * FINGERPRINTS (ShingleFps — the same modular composition the fused
    * minhash uses), so no shingle strings are built or shuffled: the
    * benchmark's fingerprint set is small by nature (eval suites, not
    * corpora) and rides a broadcast; the corpus side is one explode +
    * broadcast-semi-join, never a corpus-side shuffle. False positives
    * require a mod-P fingerprint collision (~|doc shingles|·|bench|/P per
    * doc) — decontamination errs on the drop side, so that is the safe
    * direction.
    *
    * Returns (idCol, contaminated) for every corpus doc. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    textCol: String = "text", idCol: String = "doc_id",
                    shingleK: Int = 5): DataFrame = {
    def docFps = graft.functions.TextHashes.shingleFps(tokens(col(textCol)), shingleK)
    // benchmark side needs no id column — an eval suite is naturally a
    // bare text set
    val benchFps = benchmark.select(explode(array_distinct(docFps)).as("fp")).distinct()
    val hits = corpus.select(col(idCol), explode(array_distinct(docFps)).as("fp"))
      .join(broadcast(benchFps), "fp")
      .select(idCol).distinct().withColumn("contaminated", lit(true))
    corpus.select(col(idCol)).join(hits, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("contaminated"), lit(false)).as("contaminated"))
  }

  /** Bloom position streams live at index 40960+ in the shared splitmix
    * affine family — disjoint from minhash (i = p), simhash (4096 + j),
    * the IVF sample hash (8192), sampling (16384), split assignment
    * (24576) and packing shards (32768), so no permutation is reused
    * across sketches. */
  private val BloomSeedBase = 40960L

  private def bloomPosition(fp: Column, i: Int, mBits: Long): Column = {
    import graft.functions.TextHashes.{polyA, polyB, PolyP}
    ((fp * lit(polyA(BloomSeedBase + i)) + lit(polyB(BloomSeedBase + i))) % lit(PolyP)) % lit(mBits)
  }

  /** A built Bloom sketch: the bit words TOGETHER WITH the k they were
    * built under. The pairing is load-bearing — probing with a larger k
    * than the build tests never-set position streams and voids the
    * one-sided-error guarantee (a contaminated doc could come back
    * clean), so the k never travels separately from the bits. */
  final case class BloomSketch(words: Array[Long], k: Int) {
    def mBits: Long = words.length * 64L
  }

  /** Distributed Bloom-sketch build over a fingerprint column: k affine
    * positions per fp ((a_i·fp + b_i) mod P mod m — the same portable
    * integer family as the minhash permutations, so any SQL engine
    * derives identical bits), OR-folded into 64-bit words by a
    * partial-aggregated groupBy. The driver collect is bounded by
    * m/64 WORDS — independent of input size, which is the point: a
    * billion-entry reference set becomes an mBits/8-byte array, where
    * the exact fingerprint set behind [[decontaminate]]'s broadcast
    * semi-join would not fit an executor. */
  def bloomBitmap(fps: DataFrame, fpCol: String = "fp",
                  mBits: Int = 1 << 20, k: Int = 3): BloomSketch = {
    require(mBits > 0 && mBits % 64 == 0 && mBits < graft.functions.TextHashes.PolyP,
      s"mBits must be a positive multiple of 64 below PolyP, got $mBits")
    val posExprs = (0 until k).map(i => bloomPosition(col(fpCol), i, mBits))
    val words = fps.select(explode(array(posExprs: _*)).as("pos"))
      .groupBy((col("pos") / 64).cast("long").as("w"))
      .agg(expr("bit_or(shiftleft(1L, cast(pos % 64 as int)))").as("bits"))
    val arr = new Array[Long](mBits / 64)
    words.collect().foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
    BloomSketch(arr, k)
  }

  /** Membership probe against a built sketch — pure Columns over an
    * array<bigint> literal, so the test stays inside codegen with no
    * join, no UDF, and no per-row state. */
  def bloomMightContain(sketch: BloomSketch, fp: Column): Column = {
    val words = typedLit(sketch.words)
    (0 until sketch.k).map { i =>
      val pos = bloomPosition(fp, i, sketch.mBits)
      val word = element_at(words, (pos / 64).cast("int") + 1)
      call_function("shiftright", word, (pos % 64).cast("int")) % 2 =!= 0
    }.reduce(_ && _)
  }

  /** Per-doc probe column: true iff ANY distinct shingle fingerprint of
    * `text` might be in the sketch. The ONE probe definition shared by
    * the batch and streaming decontaminators, so their per-doc semantics
    * cannot drift. Null text coalesces to false — `exists` over a null
    * array is null, and the exact [[decontaminate]] twin already maps
    * no-shingle docs to clean, so the sketch leg must agree. */
  def bloomProbe(text: Column, sketch: BloomSketch, shingleK: Int = 5): Column =
    coalesce(
      exists(array_distinct(graft.functions.TextHashes.shingleFps(tokens(text), shingleK)),
        fp => bloomMightContain(sketch, fp)),
      lit(false))

  /** Sketch decontamination: [[decontaminate]]'s semantics through a
    * Bloom filter — one-sided error (may flag a clean doc, never clears
    * a contaminated one), FULLY deterministic: the false positives are a
    * pure function of the integer hash family, so an oracle replaying
    * the position arithmetic reproduces the flags bit-for-bit, FPs
    * included.
    *
    * Scale shape: this is the path for a reference set too large for the
    * exact broadcast semi-join — the probe side is a zero-shuffle,
    * zero-join per-row `exists` over the doc's shingle fps against the
    * mBits/8-byte bitmap (vs the join + re-aggregate the exact flag
    * pays), and the build side collapses any reference size into the
    * m-bounded bitmap aggregation. Size mBits for the target fill: FP
    * rate per fp ≈ fill^k with fill ≈ 1 − exp(−k·n_fps/m). */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame,
                         textCol: String = "text", idCol: String = "doc_id",
                         shingleK: Int = 5, mBits: Int = 1 << 20, k: Int = 3): DataFrame = {
    def docFps = graft.functions.TextHashes.shingleFps(tokens(col(textCol)), shingleK)
    val sketch = bloomBitmap(
      benchmark.select(explode(array_distinct(docFps)).as("fp")), "fp", mBits, k)
    corpus.select(col(idCol),
      bloomProbe(col(textCol), sketch, shingleK).as("contaminated"))
  }

  /** Per-doc CONTAINMENT probe against a reference Bloom sketch: the
    * fraction of the doc's distinct k-shingle fingerprints that might be
    * in the sketch (NULL when the doc yields no shingles). The ONE
    * definition shared by the batch [[crossCorpusContainmentBloom]] and
    * the streaming twin (StreamingOps.crossCorpusContainmentStream), the
    * [[bloomProbe]] convention. Containment, not Jaccard — a per-doc
    * probe never sees any single reference doc's shingle set, only the
    * union bitmap, so the score is |doc ∩ reference-union| / |doc|: the
    * right monotone signal for "this doc's content already exists in the
    * reference" at any reference size, with the Bloom's one-sided error
    * (never under-counts, deterministically over-counts). */
  def containmentProbe(text: Column, sketch: BloomSketch, shingleK: Int = 3): Column = {
    val fps = array_distinct(graft.functions.TextHashes.shingleFps(tokens(text), shingleK))
    val hits = size(filter(fps, fp => bloomMightContain(sketch, fp)))
    when(size(fps) > 0, hits.cast("double") / size(fps).cast("double"))
  }

  /** Cross-corpus dedup for a reference too large to enumerate pairs
    * against: [[crossCorpusNearDup]]'s "flag the new batch against the
    * world" step through an m-bounded Bloom bitmap of the reference's
    * distinct shingle fingerprints. The probe side is a zero-shuffle,
    * zero-join per-row scan (no bucket join, no jaccard verify — the
    * candidate-mass term that makes the exact flag's shuffle track the
    * duplicate density disappears entirely), and the build side collapses
    * ANY reference size into the bitmap aggregation. Deterministic like
    * [[decontaminateBloom]]: false-positive bits are a pure function of
    * the hash family, so an oracle replaying the position arithmetic
    * reproduces scores bit-for-bit. Returns (idCol, containment,
    * near_dup_est = containment ≥ thr; no-shingle docs → (NULL, false)). */
  def crossCorpusContainmentBloom(corpus: DataFrame, reference: DataFrame,
                                  containmentThr: Double = 0.5,
                                  textCol: String = "text", idCol: String = "doc_id",
                                  shingleK: Int = 3, mBits: Int = 1 << 20,
                                  k: Int = 3): DataFrame = {
    val sketch = bloomBitmap(
      reference.select(explode(array_distinct(
        graft.functions.TextHashes.shingleFps(tokens(col(textCol)), shingleK))).as("fp")),
      "fp", mBits, k)
    corpus.select(col(idCol), containmentProbe(col(textCol), sketch, shingleK).as("containment"))
      .withColumn("near_dup_est",
        coalesce(col("containment") >= containmentThr, lit(false)))
  }

  /** Exact n-gram Jaccard for given candidate pairs (verification step —
    * only runs on candidates, never the full cross product). Extra columns
    * on `pairs` (e.g. the MinHash `est_jaccard`) are carried through, so
    * estimate + exact verification is one plan with no re-join. */
  def ngramJaccard(pairs: DataFrame, docs: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id", shingleK: Int = 3): DataFrame = {
    val sh = docs.select(col(idCol), array_distinct(shingles(col(textCol), shingleK)).as("sh"))
    jaccardFromShingleCols(pairs
      .join(sh.toDF("a_id", "a_sh"), "a_id")
      .join(sh.toDF("b_id", "b_sh"), "b_id"))
      .drop("a_sh", "b_sh")
  }

  /** The ONE exact-jaccard verify definition over joined (a_sh, b_sh)
    * shingle columns — shared by [[ngramJaccard]] (shingles computed
    * in-plan), [[crossCorpusNearDupIndexed]] (reference shingles read
    * from the persisted index), and the streaming indexed probe
    * (StreamingOps.crossCorpusNearDupStreamIndexed), so the verification
    * the three paths apply cannot drift. A null b_sh (candidate-less
    * left-joined row) yields a null jaccard, which the max() rollups
    * ignore — exactly the batch left-join semantics. */
  private[graft] def jaccardFromShingleCols(joined: DataFrame): DataFrame = joined
    .withColumn("inter", size(array_intersect(col("a_sh"), col("b_sh"))).cast("double"))
    .withColumn("uni", size(array_union(col("a_sh"), col("b_sh"))).cast("double"))
    .withColumn("jaccard",
      when(col("uni") === 0, 0.0).otherwise(col("inter") / col("uni")))
    .drop("inter", "uni")

  /** Contamination FRACTION — the graded refinement of [[decontaminate]]'s
    * boolean flag: for each corpus doc, the share of its distinct k-shingle
    * fingerprints that appear anywhere in the benchmark set. Pipelines use
    * the fraction to rank partial overlaps (a quote vs a verbatim copy)
    * where the boolean can only drop.
    *
    * Scale shape: the benchmark fp set (small by nature — eval suites, not
    * corpora) rides a broadcast-hash-join probed by the exploded corpus
    * fps, then ONE doc-keyed aggregation (partial map-side) counts the
    * hits. The probe hash is built once per task — the tempting
    * alternative, a per-row `array_intersect` against a broadcast ARRAY,
    * rebuilds the set hash for EVERY corpus row, O(|corpus|·|set|): with a
    * 4.7k-fp benchmark at sf0.1 that measured 2.9 s vs ~1 s for this
    * shape, and the gap grows with the set. `n_fps` ≥ 1 always (the
    * short-text shingle fallback emits one shingle), so the division is
    * total. */
  def contaminationStats(corpus: DataFrame, benchmark: DataFrame,
                         textCol: String = "text", idCol: String = "doc_id",
                         shingleK: Int = 5): DataFrame = {
    def docFps =
      array_distinct(graft.functions.TextHashes.shingleFps(tokens(col(textCol)), shingleK))
    val bench = benchmark.select(explode(docFps).as("fp")).distinct()
      .select(col("fp"), lit(true).as("__hit"))
    corpus.select(col(idCol), docFps.as("fps"))
      .select(col(idCol), size(col("fps")).as("n_fps"), explode(col("fps")).as("fp"))
      .join(broadcast(bench), Seq("fp"), "left")
      .groupBy(col(idCol), col("n_fps"))
      .agg(count(col("__hit")).cast("int").as("n_hits"))
      .withColumn("contam_frac", col("n_hits").cast("double") / col("n_fps"))
      .select(col(idCol), col("n_fps"), col("n_hits"), col("contam_frac"))
  }

  /** Corpus-frequent k-gram spans ("boilerplate" detection, the flat-text
    * analogue of C4's repeated-line removal — the unit is a word k-gram
    * here because the unit of repetition is a delimiter choice, not an
    * algorithm change): spans appearing in ≥ `minDocs` DISTINCT documents,
    * with their document frequencies.
    *
    * Scale: at corpus scale most k-grams are SINGLETONS (the long tail),
    * so a direct groupBy on gram strings shuffles ~k× the text volume
    * mostly to count things to 1 and discard them. This runs two legs
    * instead: (1) doc-frequency per 8-byte span FINGERPRINT — the only
    * corpus-wide exchange, narrow keys, map-side partials — filtered to
    * ≥ `minDocs`; (2) a second scan recovers the STRINGS of surviving
    * spans only (fp→gram zip, broadcast-semi-joined against the frequent
    * set inside the scan stage) and recounts per gram exactly. The
    * recount makes the result exact under any fp behavior: a colliding
    * fp can only ADD a candidate (its count is the union's), never drop
    * a frequent gram, and the final `HAVING` re-applies `minDocs` per
    * STRING. The frequent set is bounded by totalSpans/minDocs (the
    * spanBoilerplateStats broadcast bound). Trade: one extra scan of the
    * text column buys removal of the long tail from the wide shuffle —
    * at 100 TB the tail is nearly the whole corpus.
    *
    * `array_distinct` before each explode keeps (gram, doc) pairs
    * distinct by construction, so both doc-frequency legs are plain
    * algebraic counts — no countDistinct re-distinct pass, no hot-gram
    * funnel of raw occurrences. */
  def frequentSpans(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                    k: Int = 3, minDocs: Int = 2,
                    fpPrefilter: Boolean = true): DataFrame = {
    val direct = docs
      .select(col(idCol), explode(array_distinct(shingles(col(textCol), k))).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
    if (!fpPrefilter) direct
    else {
      // xxhash64 of the gram STRING, not the poly rolling hash: on
      // structured corpora (arithmetic-progression tokens, templated
      // ids) the polynomial family collides systematically — measured
      // 36k correlated collisions on a 40M-gram synthetic — while
      // xxhash64's avalanche keeps collisions at the ~2^-64 birthday
      // floor. Collisions here cost only superset looseness (the
      // recount re-applies minDocs per STRING), but a tight candidate
      // set is the whole point of the prefilter.
      val freqFpsPlan = docs
        .select(explode(array_distinct(
          transform(shingles(col(textCol), k), g => xxhash64(g)))).as("fp"))
        .groupBy("fp").agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= minDocs)
        .select("fp")
      // the frequent-fp set is bounded only by totalSpans/minDocs, which
      // on a boilerplate-heavy corpus can exceed what a driver broadcast
      // survives. Persist + count gates the broadcast on the ACTUAL size
      // (the count pays nothing new — the join needed the aggregation
      // anyway, and the persisted frame feeds it); past the bound the fp
      // prefilter can't help (the "frequent tail" is most of the corpus,
      // so the recount would shuffle most strings regardless) and the
      // direct path is the honest plan.
      val freqFps = retained.guardedPersist(freqFpsPlan)
      if (freqFps.count() > MaxBroadcastFps) {
        // the direct plan never reads freqFps — drop the cache now
        // instead of leaking it for the session lifetime
        freqFps.unpersist(blocking = false)
        direct
      } else {
        val pairs = array_distinct(transform(shingles(col(textCol), k),
          g => struct(g.as("gram"), xxhash64(g).as("fp"))))
        docs.select(explode(pairs).as("p"))
          .select(col("p.gram").as("gram"), col("p.fp").as("fp"))
          .join(broadcast(freqFps), Seq("fp"), "left_semi")
          .groupBy("gram").agg(count(lit(1)).as("n_docs"))
          .filter(col("n_docs") >= minDocs)
      }
    }
  }

  /** Largest frequent-fp set [[frequentSpans]] will broadcast: 4M 8-byte
    * fingerprints ≈ 32 MB serialized — safely inside default driver /
    * `maxResultSize` budgets while far above any realistic boilerplate
    * span set. */
  private val MaxBroadcastFps = 4_000_000L

  /** The Horvitz-Thompson weight table for bucket-sampled pairs: entry
    * k−1 is 1/(1 − (1−1/s)^k) rounded to 6 decimals, the inverse
    * inclusion probability of a pair whose signatures agree on k bands
    * when buckets are kept at rate 1/s. Precomputed by successive exact
    * multiplication so the SAME literal doubles appear in the Spark plan
    * and the DuckDB oracle — no engine-varying pow() in gated math. */
  private[graft] def htWeights(sampleMod: Int, bands: Int): Seq[Double] = {
    val q = 1.0 - 1.0 / sampleMod
    val pows = Iterator.iterate(1.0)(_ * q).drop(1).take(bands).toSeq
    pows.map(p => math.rint(1.0 / (1.0 - p) * 1e6) / 1e6)
  }

  /** The 6-decimal string form of an [[htWeights]] entry, shared verbatim
    * by the Spark literal and the DuckDB oracle. Locale-pinned: an
    * `f"%.6f"` interpolator formats with the JVM default locale, and on
    * comma-decimal locales (de_DE etc.) the resulting "1,066667" breaks
    * BigDecimal parsing here and the mirrored SQL literal in
    * DedupSql.sourceOverlapSampledSql. */
  private[graft] def dec6(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.6f", Double.box(v))

  /** Deterministically SAMPLED verified near-dup pairs with
    * Horvitz-Thompson inverse-inclusion weights — the 100 TB path for
    * overlap MATRICES, where exact pair enumeration is output-bound
    * (BASELINE.md round 11: the corpus's true pair count is quadratic in
    * its near-dup density, so any enumerator pays Θ(pairs)). Keep only
    * LSH buckets whose (already uniform) hash value ≡ 0 mod `sampleMod`,
    * enumerate pairs inside surviving cells only, verify as usual, and
    * attach to each sampled pair the weight 1/(1 − (1−1/s)^k), k = its
    * TOTAL matching-band count — the inverse of its inclusion
    * probability under bucket-hash uniformity. Σw over any group is an
    * unbiased estimate of that group's full verified-pair count at
    * ~1/sampleMod of the enumeration cost; the weights come from a
    * precomputed literal table ([[htWeights]]) so the estimate is
    * bit-replayable by a SQL oracle. Returns
    * (a_id, b_id, jaccard, k, w). */
  def sampledVerifiedPairs(docs: DataFrame, sampleMod: Int = 16,
                           jaccardThr: Double = 0.5,
                           textCol: String = "text", idCol: String = "doc_id",
                           numPerms: Int = 32, bands: Int = 16,
                           shingleK: Int = 3): DataFrame = {
    val sig = minhashSignatures(docs, textCol, idCol, numPerms, shingleK, portable = true)
    // the bucket frame feeds FOUR scans (both sides of the sampled pair
    // join, both sides of the k recount) — persist it (guarded) or the
    // shingle+minhash pass runs four times
    val buckets = retained.guardedPersist(lshBuckets(sig, idCol, numPerms, bands, portable = true))
    val sampled = buckets.where(pmod(col("bucket"), lit(sampleMod.toLong)) === 0)
    val pairs = sampled.toDF("a_id", "band", "bucket")
      .join(sampled.toDF("b_id", "band", "bucket"), Seq("band", "bucket"))
      .where(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    // k over ALL bands (not just sampled ones): the pair set is small
    // after sampling, so the band-match recount joins only sampled pairs
    val k = pairs
      .join(buckets.toDF("a_id", "band", "a_bucket"), "a_id")
      .join(buckets.toDF("b_id", "band", "b_bucket"), Seq("b_id", "band"))
      .where(col("a_bucket") === col("b_bucket"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).cast("int").as("k"))
    // DECIMAL literals, not doubles: a double→decimal cast can disagree
    // between engines in digits past the 6th; an exact decimal literal
    // per k makes Σw identical by construction, any summation order
    val w = htWeights(sampleMod, bands).zipWithIndex
      .foldLeft(lit(null).cast("decimal(38,12)")) { case (acc, (wv, i)) =>
        when(col("k") === (i + 1),
          lit(new java.math.BigDecimal(dec6(wv))).cast("decimal(38,12)"))
          .otherwise(acc)
      }
    ngramJaccard(pairs, docs, textCol, idCol, shingleK)
      .where(col("jaccard") >= jaccardThr)
      .join(k, Seq("a_id", "b_id"))
      .withColumn("w", w)
  }

  /** Regime-dispatched verified near-dup pairs for overlap consumers
    * (round 12 — the `frequentSpansAuto` pattern applied to the overlap
    * matrix): probe the LSH candidate mass — Σ c(c−1)/2 over
    * (band, bucket) cells, ONE partial-aggregated pass over the bucket
    * frame both dispatch targets share — then enumerate exactly below
    * `maxExactPairs` and fall to the Horvitz-Thompson bucket sample
    * ([[sampledVerifiedPairs]]) above it. Pair enumeration is
    * Θ(candidate pairs) by definition, so the candidate mass IS the cost
    * model; the ×100 audit measured the crossover (exact 137.0 s vs
    * sampled 41.1 s at ~5×10⁶ candidates, exact still ahead at ×10's
    * ~2×10⁵). Returns (a_id, b_id, jaccard, w) with w = 1 exactly on the
    * exact leg and the inverse-inclusion decimal weight on the sampled
    * leg, so Σw is the true verified-pair count below the threshold and
    * an unbiased estimate of it above — consumers aggregate w the same
    * way in both regimes. */
  def verifiedPairsAuto(docs: DataFrame, maxExactPairs: Long = 2_000_000L,
                        sampleMod: Int = 16, jaccardThr: Double = 0.5,
                        textCol: String = "text", idCol: String = "doc_id",
                        numPerms: Int = 32, bands: Int = 16,
                        shingleK: Int = 3): DataFrame =
    verifiedPairsAutoWithRegime(docs, maxExactPairs, sampleMod, jaccardThr,
      textCol, idCol, numPerms, bands, shingleK)._1

  /** [[verifiedPairsAuto]] plus WHICH regime the probe chose (true =
    * exact enumeration, false = HT bucket sample). An oracle-gated
    * caller whose replay covers only one leg asserts on this instead of
    * letting a future threshold crossing surface as a baffling hash
    * mismatch — the dispatch is data-dependent, so the gate must see the
    * dispatch, not just the values. */
  def verifiedPairsAutoWithRegime(docs: DataFrame, maxExactPairs: Long = 2_000_000L,
                        sampleMod: Int = 16, jaccardThr: Double = 0.5,
                        textCol: String = "text", idCol: String = "doc_id",
                        numPerms: Int = 32, bands: Int = 16,
                        shingleK: Int = 3): (DataFrame, Boolean) = {
    val sig = minhashSignatures(docs, textCol, idCol, numPerms, shingleK, portable = true)
    // persist: the probe aggregation + whichever leg wins all read this
    // frame (the sampled leg's own guarded persist will find this entry
    // via CacheManager plan-equality, so nothing is cached twice)
    val buckets = retained.guardedPersist(lshBuckets(sig, idCol, numPerms, bands, portable = true))
    val probe = buckets.groupBy("band", "bucket").agg(count(lit(1)).as("c"))
      .agg(sum((col("c") * (col("c") - lit(1))).cast("long") / lit(2)).cast("long").as("m"))
      .head()
    val candidates = if (probe.isNullAt(0)) 0L else probe.getLong(0)
    if (candidates <= maxExactPairs) {
      val pairs = buckets.toDF("a_id", "band", "bucket")
        .join(buckets.toDF("b_id", "band", "bucket"), Seq("band", "bucket"))
        .where(col("a_id") < col("b_id"))
        .select("a_id", "b_id").distinct()
      (ngramJaccard(pairs, docs, textCol, idCol, shingleK)
        .where(col("jaccard") >= jaccardThr)
        .withColumn("w", lit(java.math.BigDecimal.ONE).cast("decimal(38,12)"))
        .select(col("a_id"), col("b_id"), col("jaccard"), col("w")), true)
    } else {
      // size the sample to a FIXED pair budget, not a fixed rate: the
      // ×1000 audit filled 75 GB of spill running the 1/16 sample on a
      // ~2×10⁹-candidate corpus (a fixed rate is still Θ(pairs) — 125M
      // sampled pairs each dragging two shingle arrays through the
      // verify join). Dividing the measured candidate mass by the exact
      // budget keeps the sampled verify join at ~maxExactPairs pairs at
      // ANY density; the HT weight table (1/(1−(1−1/s)^k)) is exact for
      // any s, the estimate stays unbiased, and variance (∝ s per
      // stratum) is the documented price of density — the knob a caller
      // tightens by raising maxExactPairs.
      val mod = math.max(sampleMod,
        math.ceil(candidates.toDouble / math.max(1L, maxExactPairs)).toInt)
      (sampledVerifiedPairs(docs, mod, jaccardThr, textCol, idCol,
          numPerms, bands, shingleK)
        .select(col("a_id"), col("b_id"), col("jaccard"), col("w")), false)
    }
  }

  /** Cross-corpus (incremental) near-dup flagging: for each doc in
    * `corpus`, does it near-duplicate ANY doc in `reference`? This is the
    * standard incremental-crawl step — dedup a new batch against the
    * existing training set without re-clustering the world. Both sides
    * ride the banded minhash-LSH join (never all-pairs, never a corpus
    * re-scan of the reference beyond its own signature pass); candidate
    * pairs are verified with exact n-gram Jaccard.
    *
    * Contract: ids must be unique ACROSS the two frames (global doc ids
    * — the verify join resolves both sides from their union). Returns
    * one row per corpus doc: (idCol, near_dup, max_jaccard) with
    * max_jaccard the best verified candidate (NULL when no bucket
    * collision produced a candidate at all). */
  def crossCorpusNearDup(corpus: DataFrame, reference: DataFrame,
                         jaccardThr: Double = 0.5,
                         textCol: String = "text", idCol: String = "doc_id",
                         numPerms: Int = 32, bands: Int = 16,
                         shingleK: Int = 3): DataFrame = {
    val cb = lshBuckets(minhashSignatures(corpus, textCol, idCol, numPerms, shingleK,
      portable = true), idCol, numPerms, bands, portable = true)
    val rb = lshBuckets(minhashSignatures(reference, textCol, idCol, numPerms, shingleK,
      portable = true), idCol, numPerms, bands, portable = true)
    val pairs = cb.toDF("a_id", "band", "bucket")
      .join(rb.toDF("b_id", "band", "bucket"), Seq("band", "bucket"))
      .select("a_id", "b_id").distinct()
    val both = corpus.select(col(idCol), col(textCol))
      .unionByName(reference.select(col(idCol), col(textCol)))
    val verified = ngramJaccard(pairs, both, textCol, idCol, shingleK)
      .groupBy("a_id")
      .agg(max(col("jaccard") >= jaccardThr).as("near_dup"),
        max(col("jaccard")).as("max_jaccard"))
    corpus.select(col(idCol)).join(verified, corpus(idCol) === verified("a_id"), "left")
      .select(col(idCol),
        coalesce(col("near_dup"), lit(false)).as("near_dup"),
        col("max_jaccard"))
  }

  /** Persist the REFERENCE side of cross-corpus dedup as a probe-ready
    * index — the text-dedup analogue of the fused ANN index
    * ([[graft.pipeline.Similarity.ivfPqWrite]]): a 100 TB training set's
    * signatures are computed ONCE, not once per arriving crawl batch.
    * Two external bucketed tables (the etl.Bucketing discipline):
    *
    *   - `<prefix>_buckets` (id, band, bucket), bucketed+sorted on
    *     (band, bucket) — the candidate join's key, so the probe's
    *     bucket join shuffles ONLY the arriving batch; the reference
    *     side sort-merges its co-located buckets in place.
    *   - `<prefix>_shingles` (id, sh), bucketed+sorted on the id — the
    *     verify join's key, so the reference never re-shingles and its
    *     shingle arrays never re-shuffle either.
    *   - `<prefix>_meta`: one row pinning (numPerms, bands, shingleK) —
    *     probing with mismatched banding would silently miss duplicates,
    *     so [[crossCorpusNearDupIndexed]] reads its parameters FROM the
    *     index (the ivfPq mode-marker precedent, made total: no argument
    *     to mismatch).
    *
    * Reference growth is [[dedupIndexAppend]] — a signed increment
    * through the same portable signatures under the meta table's pinned
    * banding, append-mode into the same bucketed tables; a full rebuild
    * is only for changed banding parameters. */
  def dedupIndexWrite(reference: DataFrame, tablePrefix: String, path: String,
                      numBuckets: Int = 32, textCol: String = "text",
                      idCol: String = "doc_id", numPerms: Int = 32,
                      bands: Int = 16, shingleK: Int = 3): Unit = {
    val spark = reference.sparkSession
    val buckets = lshBuckets(minhashSignatures(reference, textCol, idCol, numPerms,
      shingleK, portable = true), idCol, numPerms, bands, portable = true)
    spark.sql(s"DROP TABLE IF EXISTS `${tablePrefix}_buckets`")
    buckets.write.mode("overwrite").option("path", s"$path/buckets")
      .bucketBy(numBuckets, "band", "bucket").sortBy("band", "bucket")
      .format("parquet").saveAsTable(s"${tablePrefix}_buckets")
    val sh = reference.select(col(idCol),
      array_distinct(shingles(col(textCol), shingleK)).as("sh"))
    spark.sql(s"DROP TABLE IF EXISTS `${tablePrefix}_shingles`")
    sh.write.mode("overwrite").option("path", s"$path/shingles")
      .bucketBy(numBuckets, idCol).sortBy(idCol)
      .format("parquet").saveAsTable(s"${tablePrefix}_shingles")
    spark.sql(s"DROP TABLE IF EXISTS `${tablePrefix}_meta`")
    import spark.implicits._
    Seq((numPerms, bands, shingleK)).toDF("num_perms", "bands", "shingle_k")
      .coalesce(1).write.mode("overwrite").option("path", s"$path/meta")
      .format("parquet").saveAsTable(s"${tablePrefix}_meta")
    spark.sql(s"DROP TABLE IF EXISTS `${tablePrefix}_tombstones`")
    spark.range(0).select(col("id").as("doc_id"))
      .coalesce(1).write.mode("overwrite").option("path", s"$path/tombstones")
      .format("parquet").saveAsTable(s"${tablePrefix}_tombstones")
  }

  /** The tombstone side table behind [[dedupIndexDelete]]'s Θ(batch)
    * logical forgetting: one bigint `doc_id` column of reference ids the
    * probes must treat as never indexed. [[dedupIndexWrite]] creates it
    * empty; an index written before tombstones existed gets one created
    * (empty, beside the other tables) on its first delete. */
  /** Fork a persisted dedup index ([[dedupIndexWrite]] layout): copy
    * each side table's files to a fresh location under `path` and
    * register them under `dstPrefix` with the SAME schema and
    * bucket/sort spec. The clone is content-identical (a file copy) and
    * fully independent — lifecycle ops on the clone never touch the
    * source's tables or files. This is the snapshot/fork primitive a
    * maintenance pipeline uses to stage a compaction experiment — and
    * what lets a derived fixture reuse an already-built index instead
    * of re-signing the whole reference (r18). Bucket identity survives
    * the copy because Spark encodes the bucket id in the file NAME,
    * which the copy preserves. */
  def dedupIndexClone(spark: org.apache.spark.sql.SparkSession,
                      srcPrefix: String, dstPrefix: String, path: String): Unit = {
    val catalog = spark.sessionState.catalog
    val conf = spark.sparkContext.hadoopConfiguration
    // two phases (r19, advisor item): copy EVERY side table's files
    // first, register only after all copies succeeded — a failed copy
    // can no longer leave dst tables registered over half-copied files
    val toRegister = Seq("buckets", "shingles", "meta", "tombstones").flatMap { t =>
      val src = s"${srcPrefix}_$t"
      if (!spark.catalog.tableExists(src)) None
      else {
        val meta = catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(src))
        val srcLoc = new org.apache.hadoop.fs.Path(meta.location)
        val dstLoc = new org.apache.hadoop.fs.Path(s"$path/$t")
        val fs = srcLoc.getFileSystem(conf)
        org.apache.hadoop.fs.FileUtil.copy(fs, srcLoc, fs, dstLoc, false, conf)
        Some((t, meta, dstLoc))
      }
    }
    toRegister.foreach { case (t, meta, dstLoc) =>
      val bucketDdl = meta.bucketSpec.map { s =>
        val sorted =
          if (s.sortColumnNames.nonEmpty)
            s" SORTED BY (${s.sortColumnNames.map(c => s"`$c`").mkString(", ")})"
          else ""
        s"CLUSTERED BY (${s.bucketColumnNames.map(c => s"`$c`").mkString(", ")})" +
          s"$sorted INTO ${s.numBuckets} BUCKETS"
      }.getOrElse("")
      val dst = s"${dstPrefix}_$t"
      // never DROP a same-named MANAGED table: that would delete ITS
      // data files — the clone only ever replaces external registrations
      val dstId = org.apache.spark.sql.catalyst.TableIdentifier(dst)
      if (spark.catalog.tableExists(dst) &&
          catalog.getTableMetadata(dstId).tableType ==
            org.apache.spark.sql.catalyst.catalog.CatalogTableType.MANAGED)
        throw new IllegalStateException(
          s"dedupIndexClone: destination table `$dst` exists and is MANAGED — " +
          "dropping it would delete its data; use a different dstPrefix")
      spark.sql(s"DROP TABLE IF EXISTS `$dst`")
      spark.sql(s"CREATE TABLE `$dst` (${meta.schema.toDDL}) USING PARQUET " +
        s"$bucketDdl LOCATION '${dstLoc.toString}'")
    }
  }

  /** The reference-bucket scan with the tombstone mask applied — the ONE
    * definition behind [[crossCorpusNearDupIndexed]] and the streaming
    * twin: docs a [[dedupIndexDelete]] logically forgot must never
    * nominate a candidate pair. Broadcast (the tombstone set is
    * takedown-batch-scale) and BEFORE the candidate join, so the filter
    * rides the bucketed scan's partitioning — no new exchange, and the
    * verify join never sees a forgotten b_id either. The anti-join is
    * SKIPPED entirely when the table is absent (pre-tombstone index) OR
    * empty (post-[[dedupIndexCompact]] steady state — the one-row
    * emptiness probe against the one-file table is a driver-side
    * constant, where the always-on anti-join was a permanent ~15–17%
    * wall tax measured with tombstones present). */
  private[graft] def tombstoneMaskedBuckets(
      spark: org.apache.spark.sql.SparkSession, tablePrefix: String): DataFrame = {
    val base = spark.table(s"${tablePrefix}_buckets").toDF("b_id", "band", "bucket")
    val name = s"${tablePrefix}_tombstones"
    if (spark.catalog.tableExists(name) && !spark.table(name).isEmpty)
      base.join(broadcast(spark.table(name)
        .select(col("doc_id").as("b_id"))), Seq("b_id"), "left_anti")
    else base
  }

  private def ensureTombstoneTable(spark: org.apache.spark.sql.SparkSession,
                                   tablePrefix: String): String = {
    val name = s"${tablePrefix}_tombstones"
    if (!spark.catalog.tableExists(name)) {
      val metaLoc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(s"${tablePrefix}_meta"))
          .location)
      spark.range(0).select(col("id").as("doc_id"))
        .coalesce(1).write.mode("overwrite")
        .option("path", new org.apache.hadoop.fs.Path(
          metaLoc.getParent, "tombstones").toString)
        .format("parquet").saveAsTable(name)
    }
    name
  }

  /** Append a reference INCREMENT to a persisted dedup index
    * ([[dedupIndexWrite]]) without touching the resident rows — the
    * [[graft.pipeline.Similarity.ivfPqAppend]] contract for the text
    * side: a daily reference growth must not re-sign, re-shingle, or
    * re-shuffle the other 99%. The increment's signatures and shingles
    * compute under the banding parameters READ FROM the index's meta
    * table (no argument to mismatch — probing or appending with
    * different banding would silently miss duplicates), and append
    * through the SAME bucketBy/sortBy spec, so each bucket gains one
    * sorted file per append: Spark still prunes and co-locates on the
    * bucket id, and [[crossCorpusNearDupIndexed]] results are EXACTLY
    * what a full rebuild over the grown reference would produce
    * (signatures are per-row, so append ≡ rebuild — parity-tested).
    *
    * Like any append-only log, duplicate ids are the caller's contract:
    * appending a doc twice leaves two copies (harmless for dedup
    * verdicts — both carry the same shingles — but wasteful). Compact by
    * rebuilding when append files accumulate. */
  def dedupIndexAppend(increment: DataFrame, tablePrefix: String,
                       textCol: String = "text", idCol: String = "doc_id"): Unit = {
    val spark = increment.sparkSession
    val meta = spark.table(s"${tablePrefix}_meta").head()
    val (numPerms, bands, shingleK) = (meta.getInt(0), meta.getInt(1), meta.getInt(2))
    val numBuckets = {
      val spec = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
          s"${tablePrefix}_buckets")).bucketSpec
      spec.map(_.numBuckets).getOrElse(throw new IllegalStateException(
        s"dedupIndexAppend: ${tablePrefix}_buckets carries no bucket spec — " +
        "was the index written by dedupIndexWrite?"))
    }
    // shingles append FIRST: the two appends are not atomic, and the
    // failure modes are asymmetric. An orphan shingles row (shingles
    // landed, buckets didn't) is inert — nothing nominates it, so a
    // crash between the writes degrades to "increment not yet indexed"
    // (recover by re-appending or rebuilding). The reverse order would
    // leave bucket rows whose b_id has no shingles row, and the probe's
    // inner verify join would silently DROP those candidate pairs —
    // missed duplicates with no error.
    increment.select(col(idCol),
        array_distinct(shingles(col(textCol), shingleK)).as("sh"))
      .write.mode("append")
      .bucketBy(numBuckets, idCol).sortBy(idCol)
      .format("parquet").saveAsTable(s"${tablePrefix}_shingles")
    lshBuckets(minhashSignatures(increment, textCol, idCol, numPerms,
      shingleK, portable = true), idCol, numPerms, bands, portable = true)
      .write.mode("append")
      .bucketBy(numBuckets, "band", "bucket").sortBy("band", "bucket")
      .format("parquet").saveAsTable(s"${tablePrefix}_buckets")
  }

  /** Compact a persisted dedup index: every [[dedupIndexAppend]] adds
    * one file set per bucket, and the probe's sort-merge side eventually
    * goes file-open-bound (the ivfPqCompact decay on the text side).
    * Rewrites both tables to one file per bucket through a staged-table
    * swap — and FOLDS the accumulated [[dedupIndexDelete]] tombstones
    * into the rewrite (the rows drop physically here, then the tombstone
    * table clears), so compaction is also the physical half of
    * forgetting. Probe content is invariant either way: tombstoned rows
    * were already invisible to [[crossCorpusNearDupIndexed]]
    * (parity-tested). Clear-after-rewrite is the crash-safe order — a
    * crash between leaves tombstones over already-removed rows, and an
    * anti-join that never matches is harmless; the next compact clears
    * them. */
  def dedupIndexCompact(spark: org.apache.spark.sql.SparkSession,
                        tablePrefix: String): Unit = {
    val tomb = ensureTombstoneTable(spark, tablePrefix)
    val tombs = spark.table(tomb).select(col("doc_id").as("__drop_id"))
    val fold = if (tombs.isEmpty) None else Some(tombs)
    dedupIndexRewrite(spark, tablePrefix, dropIds = fold)
    if (fold.isDefined)
      spark.range(0).select(col("id").as("doc_id"))
        .coalesce(1).write.mode("overwrite").insertInto(tomb)
  }

  /** Forget reference docs in a persisted dedup index — the
    * right-to-be-forgotten pass on the dedup REFERENCE (a takedown'd
    * site's pages must stop suppressing near-duplicates of themselves).
    *
    * This is a LOGICAL delete, Θ(batch) like [[ivfPqDelete]]: the batch
    * ids land in the `<prefix>_tombstones` side table, and every probe
    * ([[crossCorpusNearDupIndexed]], the streaming twin) anti-joins its
    * reference-bucket scan against the broadcast tombstone set — the
    * forgotten docs never nominate a candidate pair, so results are
    * indistinguishable from never having indexed them (hash-gated
    * against the shrunk-reference oracle). The inverted (band, bucket)
    * layout means no id structure can prune a PHYSICAL per-batch
    * removal — that Θ(index) rewrite is deferred to
    * [[dedupIndexCompact]], which folds all accumulated tombstones into
    * the one staged rewrite it was already paying and then clears them.
    *
    * The returned count (batch ids actually resident and not already
    * forgotten) reads the id-sorted shingles table through a pushed-down
    * id filter — row groups outside the batch's id range prune on footer
    * stats, the ivfPqDelete sidecar-probe discipline; batches past
    * `spark.graft.dedup.maxDeleteDiscoveryIds` (default 2^20) degrade to
    * a broadcast semi-join. */
  def dedupIndexDelete(ids: DataFrame, tablePrefix: String,
                       idCol: String = "doc_id"): Long = {
    val spark = ids.sparkSession
    val del = ids.select(col(idCol).cast("long").as("doc_id")).distinct()
    val tomb = ensureTombstoneTable(spark, tablePrefix)
    val shingleTbl = spark.table(s"${tablePrefix}_shingles")
    val shName = shingleTbl.columns.head
    val cap = spark.conf.getOption("spark.graft.dedup.maxDeleteDiscoveryIds")
      .map(_.toInt).getOrElse(1 << 20)
    val delIds = del.limit(cap + 1).collect().map(_.getLong(0))
    val resident =
      if (delIds.length <= cap)
        shingleTbl.where(col(shName).isInCollection(delIds))
          .select(col(shName).cast("long").as("doc_id"))
      else
        shingleTbl.select(col(shName).cast("long").as("doc_id"))
          .join(broadcast(del), Seq("doc_id"), "left_semi")
    // persist the batch-sized result between the count and the append:
    // the residency probe is the expensive half (a full id-column scan
    // when the batch's ids spread across every row group — uniform
    // takedown ids defeat min/max pruning), and without the cache it
    // would run twice (measured ~19.5 s → ~10 s at ×1000)
    val newTombs = resident.distinct()
      .join(broadcast(spark.table(tomb)), Seq("doc_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val removed = newTombs.count()
      if (removed > 0)
        newTombs.coalesce(1).write.mode("append").insertInto(tomb)
      removed
    } finally newTombs.unpersist()
  }

  /** The one staged-rewrite mechanism behind [[dedupIndexCompact]] and
    * [[dedupIndexDelete]]: for each index table, write the (optionally
    * id-filtered) content as a staged table at a fresh location under
    * the SAME bucket/sort spec, then drop the live name and rename the
    * staged table into it. The staged table is fully materialized before
    * anything is dropped, so a crash leaves either the intact original
    * or a complete `<name>_staged` to recover from; the superseded
    * location is deleted last. */
  private def dedupIndexRewrite(spark: org.apache.spark.sql.SparkSession,
                                tablePrefix: String,
                                dropIds: Option[DataFrame]): Unit = {
    val catalog = spark.sessionState.catalog
    Seq("buckets", "shingles").foreach { t =>
      val name = s"${tablePrefix}_$t"
      val meta = catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(name))
      val spec = meta.bucketSpec.getOrElse(throw new IllegalStateException(
        s"dedupIndexRewrite: $name carries no bucket spec"))
      val oldLoc = new org.apache.hadoop.fs.Path(meta.location)
      // fresh sibling location: <loc>_r1, _r2, ... (first free suffix)
      val fs = oldLoc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val newLoc = Iterator.from(1).map(i =>
        new org.apache.hadoop.fs.Path(oldLoc.toString + s"_r$i"))
        .find(p => !fs.exists(p)).get
      // read the table's FILES, not the catalog table: a bucketed scan's
      // spec satisfies the co-locating repartition's required
      // partitioning and the optimizer elides the exchange — while the
      // actual scan stays per-file-split, so every split writes its own
      // file per bucket and the "compaction" emits MORE files than it
      // read (observed 3 file sets -> 12 files at 4 buckets). A plain
      // file scan keeps the exchange and each task holds exactly one
      // bucket: one file per bucket, which is the point. (Scoping the
      // fix to this read, rather than flipping
      // spark.sql.sources.bucketing.enabled session-wide, keeps
      // concurrent probes on the shared session bucket-pruned.)
      val live = spark.read.parquet(oldLoc.toString)
      val idName = live.columns.head
      val kept = dropIds match {
        case Some(del) =>
          live.join(broadcast(del), col(idName) === col("__drop_id"), "left_anti")
        case None => live
      }
      val staged = s"${name}_staged"
      spark.sql(s"DROP TABLE IF EXISTS `$staged`")
      // co-locate each bucket's rows in one task before the bucketed
      // write (repartition hashing matches the bucket-id hashing), so
      // the rewrite emits ONE file per bucket — otherwise every input
      // split writes its own file per bucket and the compaction
      // re-fragments what it set out to coalesce
      val colocated = kept.repartition(spec.numBuckets,
        spec.bucketColumnNames.map(col): _*)
      val writer = colocated.write.mode("overwrite")
        .option("path", newLoc.toString)
        .bucketBy(spec.numBuckets, spec.bucketColumnNames.head,
          spec.bucketColumnNames.tail: _*)
      (if (spec.sortColumnNames.nonEmpty)
         writer.sortBy(spec.sortColumnNames.head, spec.sortColumnNames.tail: _*)
       else writer)
        .format("parquet").saveAsTable(staged)
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      spark.sql(s"ALTER TABLE `$staged` RENAME TO `$name`")
      fs.delete(oldLoc, true)
    }
  }

  /** [[crossCorpusNearDup]] against a PERSISTED reference index
    * ([[dedupIndexWrite]]): per-row results are IDENTICAL (same portable
    * signatures, same banding, same exact-jaccard verify — parity-tested)
    * but the reference contributes zero signature compute and zero
    * shuffle: the candidate join sort-merges the co-located
    * (band, bucket) buckets in place and only the arriving batch
    * exchanges; the verify join reads the persisted shingle arrays
    * co-located on the id. Banding parameters come FROM the index's meta
    * table — only the verification threshold is a probe-time knob. */
  def crossCorpusNearDupIndexed(corpus: DataFrame, tablePrefix: String,
                                jaccardThr: Double = 0.5,
                                textCol: String = "text",
                                idCol: String = "doc_id"): DataFrame = {
    val spark = corpus.sparkSession
    val meta = spark.table(s"${tablePrefix}_meta").head()
    val (numPerms, bands, shingleK) = (meta.getInt(0), meta.getInt(1), meta.getInt(2))
    val cb = lshBuckets(minhashSignatures(corpus, textCol, idCol, numPerms,
      shingleK, portable = true), idCol, numPerms, bands, portable = true)
    val refBuckets = tombstoneMaskedBuckets(spark, tablePrefix)
    val pairs = cb.toDF("a_id", "band", "bucket")
      .join(refBuckets, Seq("band", "bucket"))
      .select("a_id", "b_id").distinct()
    val ash = corpus.select(col(idCol).as("a_id"),
      array_distinct(shingles(col(textCol), shingleK)).as("a_sh"))
    val rsh = spark.table(s"${tablePrefix}_shingles").toDF("b_id", "b_sh")
    val verified = jaccardFromShingleCols(pairs
      .join(ash, "a_id")
      .join(rsh, "b_id"))
      .groupBy("a_id")
      .agg(max(col("jaccard") >= jaccardThr).as("near_dup"),
        max(col("jaccard")).as("max_jaccard"))
    corpus.select(col(idCol)).join(verified, corpus(idCol) === verified("a_id"), "left")
      .select(col(idCol),
        coalesce(col("near_dup"), lit(false)).as("near_dup"),
        col("max_jaccard"))
  }

  /** Per-bucket STAR edges from LSH bucket membership: one (bucket-min
    * id → member) edge per other member of each (band, bucket) —
    * component-IDENTICAL to the all-pairs bucket join (within a bucket a
    * star connects exactly what a clique connects) while emitting edges
    * LINEAR in bucket size where all-pairs is quadratic. This is the
    * clustering scale path behind minhash_pairs' measured output-bound
    * growth (BASELINE.md round 11): pair ENUMERATION is Θ(true pairs) by
    * definition and a dense corpus has quadratically many, but
    * connectivity only ever needs a spanning set. Consumers that verify
    * edges (est-jaccard gates) should note the star verifies min↔member
    * links only — the standard LSH-dedup recall trade; unverified
    * bucket-connectivity clustering loses nothing. */
  def bucketStarEdges(buckets: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val bm = buckets.groupBy("band", "bucket").agg(min(col(idCol)).as("a_id"))
    buckets.join(bm, Seq("band", "bucket"))
      .where(col(idCol) =!= col("a_id"))
      .select(col("a_id"), col(idCol).as("b_id"))
      .distinct()
  }

  /** Sampled gram-regime probe: the fraction of gram INSTANCES that are
    * distinct on a deterministic ~`targetDocs`-document sample. Near 1
    * means singleton-dominated (web-text regime — the long tail can't be
    * collapsed map-side, fp prefiltering pays); low means
    * repeated-vocabulary (template corpora — partials collapse the
    * string shuffle on their own, the direct path is cheaper).
    *
    * The sample is FIXED-SIZE, not fixed-rate: a distinct ratio is only
    * meaningful at a stated volume (any small-enough sample of any
    * corpus looks all-singleton — the species-richness bias that made a
    * 1%-rate probe mis-dispatch the repeated-vocabulary sf corpus), so
    * the probe always measures at the same ~targetDocs reference volume
    * regardless of corpus size. A high ratio at reference volume can
    * still collapse at the (larger) real partition volume — i.e. the
    * probe errs toward the fp path, the scale-safe side.
    *
    * Cost: `limit(targetDocs)` short-circuits the scan after the first
    * files — a hash-rate sample would still scan EVERY row's text just
    * to discard most of it (row-group pruning can't see a hash
    * predicate). The first-files bias and the sketch's ±2% are dispatch
    * heuristics only — BOTH dispatch targets are exact, so probe error
    * moves cost, never answers.
    *
    * The verdict is CACHED per (corpus plan, gram shape, probe params)
    * for the JVM's lifetime: the regime is a corpus property, so
    * re-probing the same table on every query invocation (a bench sweep,
    * a production pipeline calling the dispatcher per stage) re-buys the
    * same answer — the r11 bench measured ~1.5–2 s per redundant probe.
    * Keying on the ANALYZED plan's semantic hash means two reads of the
    * same path share the entry while different tables never collide. */
  private val regimeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, String, Int, Int), Boolean]()

  /** Drop every memoized regime verdict. The cache treats the regime as
    * a corpus property keyed on the analyzed plan, which is right for
    * immutable tables but stale if data behind the same path changes
    * in-session (incremental crawl batches, overwritten replicas) —
    * callers that mutate a probed table should invalidate between
    * batches. Cost-only either way: both dispatch targets are exact. */
  def clearRegimeCache(): Unit = regimeCache.clear()

  private[pipeline] def singletonDominated(docs: DataFrame, gramsExpr: Column,
      targetDocs: Int = 2000, threshold: Double = 0.5): Boolean = {
    // full expression string, not its hashCode: a String.hashCode
    // collision would silently share verdicts across different gram
    // shapes (the key is a handful of entries — size is irrelevant)
    val key = (docs.queryExecution.analyzed.semanticHash(),
      gramsExpr.toString, targetDocs, math.rint(threshold * 1e6).toInt)
    regimeCache.computeIfAbsent(key, _ => {
      val r = docs.limit(targetDocs)
        .select(explode(gramsExpr).as("g"))
        .agg(count(lit(1)).as("n"), approx_count_distinct(col("g")).as("d"))
        .head()
      r.getLong(0) > 0 && r.getLong(1).toDouble / r.getLong(0) >= threshold
    })
  }

  /** Regime-dispatched [[frequentSpans]]: probe a fixed-size doc sample,
    * then run the fp-prefiltered plan on singleton-dominated corpora and
    * the direct string groupBy on repeated-vocabulary ones. Results are
    * identical either way; only the shuffle shape differs.
    *
    * The probe counts span FINGERPRINTS, not span strings: the ratio of
    * distinct instances is the same either way (approx_count_distinct is
    * ±2% regardless, and fp collisions sit at the 2^-64 floor), but the
    * fp form never materializes a gram string — measured 1.5 s → ~0.4 s
    * per probe at sf0.1, which is the difference between the dispatcher
    * costing noise and costing a visible slice of small-corpus walls
    * (the r11 verdict's probe-amortization ask). */
  def frequentSpansAuto(docs: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id", k: Int = 3,
                        minDocs: Int = 2): DataFrame =
    frequentSpans(docs, textCol, idCol, k, minDocs,
      fpPrefilter = singletonDominated(docs,
        graft.functions.TextHashes.shingleFps(tokens(col(textCol)), k)))

  /** Per-document boilerplate exposure: how many of a doc's distinct
    * k-gram spans are corpus-frequent ([[frequentSpans]] members on
    * FINGERPRINTS — no span strings are built), and the fraction. High
    * `boiler_frac` marks template/boilerplate documents a quality filter
    * should drop.
    *
    * Scale: one aggregation pass builds the frequent-fp set (bounded above
    * by total spans / `minDocs` — the same self-limiting bound the CC
    * driver finish uses), which rides a broadcast-hash-join probed by the
    * exploded corpus fps; ONE doc-keyed aggregation (partial map-side)
    * counts the hits. The probe hash is built once per task — a per-row
    * `array_intersect` against a broadcast ARRAY rebuilds the set hash for
    * EVERY row, O(|corpus|·|set|): with the 13k-span frequent set this
    * corpus produces at sf0.1 that measured 9.6 s vs ~1 s for this shape. */
  def spanBoilerplateStats(docs: DataFrame, textCol: String = "text",
                           idCol: String = "doc_id", k: Int = 3,
                           minDocs: Int = 10): DataFrame = {
    def docFps =
      array_distinct(graft.functions.TextHashes.shingleFps(tokens(col(textCol)), k))
    // same distinct-by-construction argument as frequentSpans: docFps is
    // per-doc distinct, so the doc count is algebraic
    val bp = docs.select(col(idCol), explode(docFps).as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("fp"), lit(true).as("__bp"))
    docs.select(col(idCol), docFps.as("fps"))
      .select(col(idCol), size(col("fps")).as("n_spans"), explode(col("fps")).as("fp"))
      .join(broadcast(bp), Seq("fp"), "left")
      .groupBy(col(idCol), col("n_spans"))
      .agg(count(col("__bp")).cast("int").as("n_boiler"))
      .withColumn("boiler_frac", col("n_boiler").cast("double") / col("n_spans"))
      .select(col(idCol), col("n_spans"), col("n_boiler"), col("boiler_frac"))
  }

  /** Largest frequent-gram set [[removeFrequentSpans]] will inline into
    * its scan-stage membership probe: 256k gram strings (~20 bytes each
    * ≈ 5 MB serialized into the task binary) — far above any realistic
    * boilerplate span set at a removal-grade `minDocs`, far below what a
    * stage broadcast notices. */
  private val MaxLiteralSpans = 262_144

  /** Cross-document duplicated-span REMOVAL — the rewrite stage on top of
    * [[frequentSpans]]' detection (the flat-text analogue of C4's
    * repeated-line removal, and the span-granular counterpart of
    * doc-level near-dup dedup: exact-substring dedup à la "Deduplicating
    * Training Data Makes Language Models Better"): every token position
    * covered by ANY k-gram occurring in ≥ `minDocs` distinct documents is
    * dropped, and the document is rebuilt from the surviving (normalized)
    * tokens.
    *
    * Scale shape: the frequent-gram set is computed ONCE at
    * plan-construction time by [[frequentSpans]] (doc-frequency per
    * 8-byte fingerprint is the only corpus-wide exchange; the string
    * recount makes the set exact under any fp behavior), collected under
    * an explicit bound (`maxLiteralSpans` — a REMOVAL-grade frequent set
    * is boilerplate, bounded by totalSpans/minDocs, not corpus-sized),
    * and inlined into the returned plan as a native `InSet` probe — the
    * set hash is built once per task, membership is O(1) per gram
    * (contrast the per-row `array_intersect` trap documented on
    * [[spanBoilerplateStats]]). The rewrite itself is then a PURE
    * projection: position p is covered iff some gram window
    * [max(0, p−k+1), min(p, g−1)] is frequent, surviving tokens re-join
    * with single spaces — zero shuffles, zero joins, the whole rewrite
    * runs inside the scan stage at any corpus size (plan-tested).
    *
    * Contract notes: tokens are the normalized (lowered,
    * whitespace-split) stream every dedup op here hashes — the rebuilt
    * text is normalized text, the right input for the training-data
    * stages downstream of boilerplate removal. Documents shorter than
    * `k` tokens form one all-tokens gram (the [[shingles]] fallback), so
    * a short doc that IS corpus-frequent boilerplate empties entirely. */
  def removeFrequentSpans(docs: DataFrame, textCol: String = "text",
                          idCol: String = "doc_id", k: Int = 3,
                          minDocs: Int = 10,
                          maxLiteralSpans: Int = MaxLiteralSpans,
                          fpRewrite: Option[Boolean] = None): DataFrame = {
    // regime-dispatched detection (frequentSpansAuto): on a
    // repeated-vocabulary corpus the fp prefilter's extra scan buys
    // nothing — the probe routes to the one-pass direct plan there and
    // keeps the fp path for singleton-dominated corpora, where it is the
    // 100 TB win
    val singleton = singletonDominated(docs,
      graft.functions.TextHashes.shingleFps(tokens(col(textCol)), k))
    // persist the detection result across the regime probe and the
    // (possible) join-leg reuse: without it the overflow branch
    // recomputed the WHOLE detection aggregation a second time inside
    // spanRewriteJoin's broadcast build (the collect below and the join
    // plan are separate actions, so nothing else shares their shuffle).
    // The frame is bounded by totalSpans/minDocs — the frequentSpans
    // broadcast bound — so caching it is batch-scale, and the literal
    // leg drops the handle as soon as the set moves into the driver.
    val freq = retained.guardedPersist(frequentSpans(docs, textCol, idCol, k, minDocs,
      fpPrefilter = singleton))
    val freqRows = freq.select("gram").limit(maxLiteralSpans + 1).collect()
    if (freqRows.length <= maxLiteralSpans)
      // the rewrite scan dispatches on the SAME cached regime verdict: a
      // singleton-dominated corpus probes 8-byte rolling fps and only
      // builds a gram string on fp hits (rare there by definition); a
      // repeated-vocabulary corpus would fp-hit on most positions, so
      // the one-pass string probe is the cheaper plan
      {
        // the set now lives in the driver literal — the cached detection
        // frame has no further reader
        freq.unpersist(blocking = false)
        spanRewrite(docs, freqRows.map(_.getString(0)).toSeq, textCol, idCol, k,
          fpShortCircuit = fpRewrite.getOrElse(singleton))
      }
    else
      // set-size regime dispatch, not a capacity refusal: past the
      // literal bound (a repetition-dominated corpus, or a 100 TB one
      // whose rare-by-definition boilerplate tail is still millions of
      // grams) the frequent set stops riding the plan as an InSet
      // literal and stays a distributed frame joined in executor memory
      // — no driver-side ceiling. Pays one extra detection pass (the
      // probe collect above) — the price of not guessing the regime.
      spanRewriteJoin(docs, freq.select("gram"), textCol, idCol, k)
  }

  /** Driver-side replay of [[graft.functions.TextHashes.ShingleFps]]'
    * rolling combine for one gram STRING: split on the single spaces
    * `concat_ws` joined with (tokens are `\s+`-split, so they contain no
    * whitespace — the split recovers the window's token list exactly,
    * for the short-doc all-tokens gram too) and fold the per-token
    * (fp, pow) pairs with the same mod-P recurrence the expression
    * generates. Products stay in Long: P ≈ 1e9, so a·b < 1e18. */
  private def gramPolyFp(gram: String): Long = {
    import graft.functions.TextHashes.{fpAndPow, PolyP}
    val toks = gram.split(" ", -1)
    var f = 0L
    var i = 0
    while (i < toks.length) {
      val fp = fpAndPow(org.apache.spark.unsafe.types.UTF8String.fromString(toks(i)))
      f = if (i == 0) fp(0)
          else (((f * 131L + 32L) % PolyP) * fp(1) + fp(0)) % PolyP
      i += 1
    }
    f
  }

  /** The pure-projection rewrite leg of [[removeFrequentSpans]] against a
    * STATIC frequent-gram set — shared verbatim by the batch op and the
    * streaming twin (same Columns ⇒ per-doc results identical by
    * construction). Zero shuffles, zero joins: the set rides the plan as
    * a native `InSet` whose hash is built once per task.
    *
    * `fpShortCircuit` flips the probe order for singleton-dominated
    * corpora (the dispatcher's call in [[removeFrequentSpans]]): probe
    * each position's 8-byte rolling fingerprint (ShingleFps — computed
    * from per-token fps, NO gram string is materialized) against the
    * frequent set's driver-replayed fps, and only on an fp hit build the
    * window's string for the exact confirm (Catalyst `And` short-circuits
    * in codegen, so the `concat_ws` never executes on a miss). On a
    * web-crawl-shaped corpus ~every position misses, so the rewrite scan
    * drops its per-position string allocation — the dominant cost at
    * 100 TB. Exactness is unchanged: the string confirm runs on every fp
    * hit, so a poly-family collision (the systematic-collision caveat on
    * [[frequentSpans]]' xxhash64 choice) costs a wasted confirm, never a
    * wrong removal. On repeated-vocabulary corpora most positions HIT, so
    * the fp probe is pure overhead — the dispatcher keeps those on the
    * direct string probe. */
  private[graft] def spanRewrite(docs: DataFrame, freqGrams: Seq[String],
                                 textCol: String = "text",
                                 idCol: String = "doc_id",
                                 k: Int = 3,
                                 fpShortCircuit: Boolean = false): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.InSet
    import org.apache.spark.unsafe.types.UTF8String
    val hset: Set[Any] =
      freqGrams.iterator.map(UTF8String.fromString).toSet
    def isFreq(g: Column): Column =
      GraftBridge.column(InSet(GraftBridge.expression(g), hset))
    // stage the token array as a REAL column first, so every reference
    // below — and in particular the slices inside the transform lambdas,
    // which Catalyst never CSEs — reads the attribute instead of
    // re-running the regex split per gram position (the O(tokens²) trap
    // documented on [[shingles]]; on the fp leg the per-HIT gramAt slice
    // re-split the whole doc for ~every position of a
    // repeated-vocabulary corpus — measured 9.1 s → ~2 s at sf0.1).
    // CollapseProject keeps the barrier: __toks is referenced more than
    // once above, and the optimizer does not inline non-trivial aliases
    // with multiple uses.
    val toks = col("__toks")
    val freqFlags: Column =
      if (!fpShortCircuit)
        transform(shinglesOfTokens(toks, k), isFreq _)
      else {
        val fpSet: Set[Any] =
          freqGrams.iterator.map(g => java.lang.Long.valueOf(gramPolyFp(g))).toSet
        def isFpHit(f: Column): Column =
          GraftBridge.column(InSet(GraftBridge.expression(f), fpSet))
        // gram string for ONE window, built lazily inside the And's
        // right branch; the <k fallback mirrors shingles()
        def gramAt(p: Column): Column =
          when(size(toks) < k, concat_ws(" ", toks))
            .otherwise(concat_ws(" ", slice(toks, p + 1, lit(k))))
        transform(graft.functions.TextHashes.shingleFps(toks, k),
          (f, p) => isFpHit(f) && isFreq(gramAt(p)))
      }
    val staged = docs.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"), freqFlags.as("__freq"))
    rebuildFromFlags(staged, idCol, k)
  }

  /** Shared rebuild tail of both rewrite legs: from (idCol, __toks,
    * __freq — per-gram-position frequent flags) drop every token covered
    * by a flagged window and re-join the survivors. Pure per-row
    * projection regardless of where the flags came from (InSet literal
    * or distributed join), so the two legs are output-identical by
    * construction. */
  private def rebuildFromFlags(staged: DataFrame, idCol: String, k: Int): DataFrame = {
    val g = size(col("__freq"))
    val keptStructs = filter(
      transform(col("__toks"), (t, p) => {
        val lo = greatest(lit(0), p - lit(k - 1))
        val hi = least(p, g - lit(1))
        struct(t.as("t"),
          exists(slice(col("__freq"), lo + lit(1), hi - lo + lit(1)),
            b => b).as("c"))
      }),
      s => !s.getField("c"))
    staged
      .select(col(idCol), size(col("__toks")).cast("int").as("n_tokens"),
        keptStructs.as("__kept"))
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - size(col("__kept"))).cast("int").as("n_removed"),
        concat_ws(" ", transform(col("__kept"), s => s.getField("t")))
          .as("cleaned_text"))
  }

  /** The no-driver-ceiling rewrite leg of [[removeFrequentSpans]]: hit
    * POSITIONS come from a join against the (distributed) frequent-gram
    * frame instead of an inlined literal — the plan when the set exceeds
    * [[MaxLiteralSpans]]. Each doc's gram positions join `left_semi` on
    * the gram STRING (exact — no fingerprint in the match path), collapse
    * to one hit-position array per doc, and feed the SAME
    * [[rebuildFromFlags]] tail as the literal leg, so the legs are
    * output-identical by construction.
    *
    * Scale shape: the frequent frame rides a broadcast-hash-join (grams
    * in ≥minDocs docs are bounded by totalSpans/minDocs — orders below
    * the corpus; past executor broadcast headroom drop `broadcastSet`
    * and the same plan runs as a shuffled join keyed on the gram). The
    * per-doc regroup shuffles only HIT positions — bounded by the
    * corpus's boilerplate coverage mass, not its volume. */
  private[graft] def spanRewriteJoin(docs: DataFrame, freqGrams: DataFrame,
                                     textCol: String = "text",
                                     idCol: String = "doc_id",
                                     k: Int = 3,
                                     broadcastSet: Boolean = true): DataFrame = {
    val fset = freqGrams.select(col(freqGrams.columns.head).as("__g"))
    val grams = docs.select(col(idCol),
      posexplode(shingles(col(textCol), k)).as(Seq("__gp", "__g")))
    val hits = grams
      .join(if (broadcastSet) broadcast(fset) else fset, Seq("__g"), "left_semi")
      .groupBy(col(idCol)).agg(collect_list(col("__gp")).as("__gps"))
    val toks = tokens(col(textCol))
    val nGrams = when(size(toks) < k, lit(1)).otherwise(size(toks) - (k - 1))
    val staged = docs
      .select(col(idCol), toks.as("__toks"), nGrams.as("__ng"))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), col("__toks"),
        transform(sequence(lit(0), col("__ng") - 1),
          i => coalesce(array_contains(col("__gps"), i), lit(false)))
          .as("__freq"))
    rebuildFromFlags(staged, idCol, k)
  }

  /** Within-document repeated-unit removal: rebuild each doc keeping only
    * the FIRST occurrence of every token (the flat-text analogue of
    * within-page duplicate-line stripping; the unit is again a delimiter
    * choice). `array_distinct` preserves first-occurrence order, so the
    * rebuild is one per-row expression — zero shuffles, the whole op runs
    * inside the scan stage at any corpus size. Tokenization is
    * [[tokens]] (lowered), keeping oracle parity with DedupSql.tokCte. */
  def dedupDocTokens(docs: DataFrame, textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame = {
    val toks = tokens(col(textCol))
    val ded = array_distinct(toks)
    docs.select(col(idCol), size(toks).as("n_tokens"),
      size(ded).as("n_distinct"), concat_ws(" ", ded).as("text_dedup"))
  }

  /** 64-bit SimHash via the native SimHash64 expression — one pass over
    * the token array inside the scan (map-side only; the round-1
    * formulation exploded tokens into a 64-aggregate groupBy).
    *
    * The coalesce is a nullability barrier, not a semantic change (the
    * explicit text-notnull filter makes it unreachable): without it, the
    * chunk join's inferred `isnotnull(key)` constraint rewrites to
    * `isnotnull(simhash64(…))` in the scan FILTER while the projection
    * evaluates it again — Spark's subexpression elimination doesn't span
    * Filter→Project, so every document was tokenized and hashed TWICE
    * per join side. */
  def simhash(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
              portable: Boolean = false): DataFrame = {
    val toks = tokens(col(textCol))
    val sig = if (portable) graft.functions.TextHashes.simhashPoly64(toks)
              else graft.functions.TextHashes.simhash64(toks)
    docs.where(col(textCol).isNotNull).select(col(idCol),
      coalesce(sig, lit(0L)).as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming ≤ maxHamming via the pigeonhole
    * chunk join. With `numChunks` chunks any pair within Hamming
    * `numChunks − 1` must agree on ≥1 whole chunk, so the equi-join per
    * chunk has FULL recall only for maxHamming < numChunks — the
    * `require` keeps the query contract and the guarantee in agreement
    * (a looser threshold would silently miss pairs whose differing bits
    * spread across every chunk). Default 8×8-bit chunks ⇒ k ≤ 7. */
  def simhashCandidates(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                        maxHamming: Int = 7, numChunks: Int = 8,
                        portable: Boolean = false,
                        collapseIdentical: Boolean = false): DataFrame = {
    require(64 % numChunks == 0, s"numChunks must divide 64, got $numChunks")
    require(maxHamming < numChunks,
      s"pigeonhole recall guarantee needs maxHamming < numChunks ($maxHamming !< $numChunks)")
    val bits = 64 / numChunks
    val mask = (1L << bits) - 1
    val rawSig = simhash(docs, textCol, idCol, portable)
    // `collapseIdentical` is the duplicate-class guard for the CLUSTERING
    // consumer (components): a boilerplate-heavy corpus puts an m-member
    // exact-duplicate class into the same bucket of every chunk, and the
    // all-pairs join emits O(m²) rows — 10^12 candidates for one million
    // copies of a cookie banner. Collapsing each distinct signature to its
    // min-id representative first emits the class as m−1 star edges
    // (Hamming 0 ⇒ every member is mutually a pair, so the star spans the
    // same component) and runs the quadratic join over DISTINCT signatures
    // only. Connected components are IDENTICAL to the all-pairs contract —
    // dedup_clusters hash-verifies against the all-pairs SQL replay, which
    // re-proves the equivalence every round — but the PAIR LIST is not
    // (within-class pairs become stars, cross-class pairs surface once per
    // representative), so pair-list consumers (est-Jaccard style) keep the
    // default. No persist here: the window's single exchange is shared by
    // the rep-filter and star-edge branches via ReuseExchange
    // (plan-tested), so the signatures are computed once per action.
    val (sig, identityEdges) =
      if (!collapseIdentical) (rawSig, None)
      else {
        // one window over the signature (a single hash exchange, REUSED by
        // both consumers below) beats a groupBy + back-join: rep-selection
        // and star-edge emission are two filters over the same shuffled
        // frame
        val w = org.apache.spark.sql.expressions.Window.partitionBy("simhash")
        val withRep = rawSig.withColumn("rep", min(col(idCol)).over(w))
        val reps = withRep.where(col(idCol) === col("rep"))
          .select(col(idCol), col("simhash"))
        val ident = withRep.where(col(idCol) =!= col("rep"))
          .select(col("rep").as("a_id"), col(idCol).as("b_id"), lit(0).as("hamming"))
        (reps, Some(ident))
      }
    val chunks = sig.select(col(idCol), col("simhash"),
      explode(array((0 until numChunks).map(c =>
        struct(lit(c).as("chunk"),
          shiftright(col("simhash"), c * bits).bitwiseAND(mask).as("key"))): _*)).as("ck"))
      .select(col(idCol), col("simhash"), col("ck.chunk"), col("ck.key"))
      // repartition BOTH join sides through one identical exchange:
      // ReuseExchange then computes signatures + explode ONCE instead of
      // once per side (and at corpus scale the join must shuffle anyway)
      .repartition(col("chunk"), col("key"))
    val a = chunks.toDF("a_id", "a_sim", "chunk", "key")
    val b = chunks.toDF("b_id", "b_sim", "chunk", "key")
    // emit each pair ONLY at its smallest shared chunk: near-identical docs
    // collide on all `numChunks` chunks, so without this guard the join
    // emits up to numChunks duplicates per pair into a distinct() shuffle —
    // the guard makes emission exactly-once and the distinct unnecessary
    val noEarlierChunk = (0 until numChunks).map(i =>
      when(lit(i) < col("chunk"),
        shiftright(col("a_sim"), i * bits).bitwiseAND(mask) =!=
          shiftright(col("b_sim"), i * bits).bitwiseAND(mask))
        .otherwise(lit(true))).reduce(_ && _)
    val candidatePairs = a.join(b, Seq("chunk", "key")).where(col("a_id") < col("b_id"))
      .where(noEarlierChunk)
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_sim").bitwiseXOR(col("b_sim"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
    identityEdges.map(candidatePairs.unionByName(_)).getOrElse(candidatePairs)
  }

  /** Verified STAR edges over the simhash pigeonhole buckets — the
    * linear-edge clustering path (the simhash analogue of
    * [[bucketStarEdges]], which the round-11 ×100 audit proved 11×
    * cheaper than all-pairs enumeration for component consumers).
    *
    * Construction: identical signatures collapse to their min-id
    * representative first (Hamming-0 star edges — exactly
    * [[simhashCandidates]]' duplicate-class guard); then, per
    * (chunk, key) bucket over the DISTINCT signatures, the bucket-min
    * hub links to each member, and ONLY those hub↔member links pay the
    * Hamming verification. Edge count is linear in bucket size where the
    * candidate all-pairs join is quadratic in distinct signatures per
    * bucket — at corpus scale the difference is the difference between
    * Θ(docs) and Θ(true pairs), and a dense corpus has quadratically
    * many true pairs (BASELINE.md round 11).
    *
    * Semantics trade, stated plainly: a verified all-pairs clique can be
    * connected through a member↔member edge whose endpoints both fail
    * verification against every shared hub, so star components may SPLIT
    * such cliques — the standard LSH-dedup recall trade (the minhash
    * star has the same property for est-jaccard-gated consumers). The
    * registered clustering queries' oracles replay THIS construction,
    * so the trade is pinned, not hidden; `simhash_pairs` keeps the exact
    * all-pairs contract gated. Returns (a_id, b_id). */
  def simhashStarEdges(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                       maxHamming: Int = 7, numChunks: Int = 8,
                       portable: Boolean = false): DataFrame = {
    require(64 % numChunks == 0, s"numChunks must divide 64, got $numChunks")
    require(maxHamming < numChunks,
      s"pigeonhole recall guarantee needs maxHamming < numChunks ($maxHamming !< $numChunks)")
    val bits = 64 / numChunks
    val mask = (1L << bits) - 1
    val rawSig = simhash(docs, textCol, idCol, portable)
    // same single-window collapse as simhashCandidates (one signature
    // exchange shared by the rep-filter and identity-edge branches)
    val w = Window.partitionBy("simhash")
    val withRep = rawSig.withColumn("rep", min(col(idCol)).over(w))
    val reps = withRep.where(col(idCol) === col("rep"))
      .select(col(idCol), col("simhash"))
    val ident = withRep.where(col(idCol) =!= col("rep"))
      .select(col("rep").as("a_id"), col(idCol).as("b_id"))
    // one explicit (chunk, key) exchange shared by the hub aggregation
    // and the hub↔member join (ReuseExchange — the simhashCandidates
    // pattern), so distinct signatures are hashed and exploded once
    val chunks = reps.select(col(idCol), col("simhash"),
      explode(array((0 until numChunks).map(c =>
        struct(lit(c).as("chunk"),
          shiftright(col("simhash"), c * bits).bitwiseAND(mask).as("key"))): _*)).as("ck"))
      .select(col(idCol), col("simhash"), col("ck.chunk"), col("ck.key"))
      .repartition(col("chunk"), col("key"))
    // min over (id, simhash) structs = the min-id hub carrying its own
    // signature — no second join to recover the hub's bits
    val hubs = chunks.groupBy("chunk", "key")
      .agg(min(struct(col(idCol), col("simhash"))).as("h"))
      .select(col("chunk"), col("key"),
        col("h")(idCol).as("a_id"), col("h")("simhash").as("a_sim"))
    val star = chunks.join(hubs, Seq("chunk", "key"))
      .where(col(idCol) =!= col("a_id"))
      .where(bit_count(col("a_sim").bitwiseXOR(col("simhash"))) <= maxHamming)
      .select(col("a_id"), col(idCol).as("b_id"))
      .distinct()
    star.unionByName(ident)
  }
}
