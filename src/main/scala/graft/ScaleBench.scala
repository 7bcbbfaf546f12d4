package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-point harness (round 11): re-run the top-wall registry queries
  * on a ×N replica of the sf0.1 pipeline tables, recording wall time AND
  * per-query shuffle bytes from task metrics. The ≤sf0.1 scaling slopes
  * are dominated by fixed plan/JVM overhead on 0.3–5 s queries; this adds
  * the point where DATA dominates, which is the regime that predicts
  * 100× behavior — and shuffle bytes are captured because they, not
  * wall, are the metric a 1000-executor cluster actually pays for.
  *
  * The replica preserves every distribution instead of naively copying
  * rows (which would graft an artificial exact-duplicate structure onto
  * the corpus and blow up pair-finding out of distribution):
  *  - documents: per (copy, doc) the WORDS are deterministically
  *    permuted (position-keyed xxhash64 sort), so length/vocab/word-freq
  *    and lang/source joints are identical but shingle sets across
  *    copies are unrelated — near-dup density per doc-PAIR stays at the
  *    corpus's own level;
  *  - events: ids and users shift per copy (10× users, same 30-day
  *    window → same per-user event density; series per symbol get ×N
  *    longer, which is the regime the chunked-EMA path targets);
  *  - embeddings: per-component deterministic jitter (±5e-4) keeps the
  *    spatial distribution while breaking exact duplication.
  *
  * Usage: runMain graft.ScaleBench [mult] [query ...]
  * The replica is generated once per mult into /tmp/graft_scale_x<mult>
  * and reused (delete the dir to regenerate).
  */
object ScaleBench {
  /** Replica layout version, written into `_DONE`. Bump on any change to
    * [[generate]] that alters replica CONTENT so existing dirs rebuild. */
  val ReplicaFormat = "v2"

  val DefaultQueries: Seq[String] = Seq(
    "align_grid", "align_grid_backward", "minhash_pairs", "pack_filtered",
    "source_overlap", "repetition_stats", "ema_20_auto", "frequent_spans",
    "ann_ivf_top5", "text_quality")

  /** Scale-only queries with no registry entry: the chunked-state TA
    * kernels the round-12 audit prices (registered macd/kama ride the
    * whole-series scan; the chunked twins are the 100 TB path for series
    * that outgrow a task, bit-parity-tested in ChunkedSpec). chunkRows
    * adapts so each series spans ~3 chunks at any replica size — the
    * ema_20_chunked convention. */
  val ExtraQueries: Map[String, (SparkSession, String) => DataFrame] = {
    def chunked(in: Seq[String], out: Seq[String],
                kernel: Long => graft.ta.Chunked.StepKernel)
               (spark: SparkSession, dir: String): DataFrame = {
      val bars = Tables.bars(spark, dir)
      val row = bars.groupBy("symbol").count().agg(max("count")).head()
      val maxLen = if (row.isNullAt(0)) 1L else row.getLong(0)
      graft.ta.SeriesOps.overSeriesChunked(bars, in, out,
        kernel(maxLen), chunkRows = math.max(1, math.ceil(maxLen / 3.0).toInt))
    }
    Map(
      "macd_chunked" -> (chunked(Seq("close"), Seq("macd", "macd_signal", "macd_hist"),
        _ => new graft.ta.Chunked.MacdStep(12, 26, 9)) _),
      "kama_chunked" -> (chunked(Seq("close"), Seq("kama"),
        _ => new graft.ta.Chunked.KamaStep(10)) _),
      "sar_chunked" -> (chunked(Seq("high", "low"), Seq("sar"),
        _ => new graft.ta.Chunked.SarStep()) _),
      "mesa_chunked" -> (chunked(Seq("close"),
        Seq("ht_dcperiod", "ht_dcphase", "inphase", "quadrature", "sine",
          "leadsine", "ht_trendline", "ht_trendmode", "mama", "fama"),
        _ => new graft.ta.Chunked.MesaStep()) _),
      // the fp-probe rewrite FORCED on the permuted replica: the replica
      // inherits the sf corpus's tiny vocabulary, so it is
      // repeated-vocabulary at every mult (the 2000-doc instance-distinct
      // probe reads ~0.2, far under the 0.5 verdict line) and the
      // REGISTERED query's dispatcher takes the direct string probe
      // there — this leg prices what forcing the fp order COSTS in its
      // wrong regime (fp probe + ~every position hits → string confirm
      // anyway); the fp WIN is measured on the singleton-regime derived
      // table below
      "remove_spans_fp" -> ((spark: SparkSession, dir: String) =>
        graft.pipeline.Dedup.removeFrequentSpans(
          Tables.documents(spark, dir), minDocs = 5, fpRewrite = Some(true))),
      // the direct leg WITHOUT the registered query's presentation
      // orderBy, so the replica A/B above compares rewrite scans only
      // (the registered entry's doc_id sort is its own RangeExchange)
      "remove_spans_direct" -> ((spark: SparkSession, dir: String) =>
        graft.pipeline.Dedup.removeFrequentSpans(
          Tables.documents(spark, dir), minDocs = 5, fpRewrite = Some(false))),
      // the beyond-literal-bound set-as-frame leg forced (no sort):
      // prices the broadcast-join rewrite against the InSet-literal
      // direct leg above on the same replica
      "remove_spans_join" -> ((spark: SparkSession, dir: String) =>
        graft.pipeline.Dedup.removeFrequentSpans(
          Tables.documents(spark, dir), minDocs = 5, maxLiteralSpans = 0)),
      // fp-vs-direct rewrite A/B in the fp leg's WINNING regime: the sf
      // corpus and its permuted replicas are all repeated-vocabulary, so
      // the singleton-dominated (web-crawl-shaped) regime the
      // fp-short-circuit exists for never occurs on them — these run on
      // the salted derived table ([[singletonDocs]]: 99% of docs carry a
      // per-doc token suffix → grams are cross-doc singletons; the 1%
      // unsalted sliver supplies the corpus-frequent set). Identical
      // detection both legs; the delta is the rewrite scan's
      // per-position string build, which the fp order skips on ~every
      // (non-frequent) position
      "remove_spans_singleton_fp" -> ((spark: SparkSession, dir: String) =>
        graft.pipeline.Dedup.removeFrequentSpans(
          singletonDocs(spark, dir), minDocs = 5, fpRewrite = Some(true))),
      "remove_spans_singleton_direct" -> ((spark: SparkSession, dir: String) =>
        graft.pipeline.Dedup.removeFrequentSpans(
          singletonDocs(spark, dir), minDocs = 5, fpRewrite = Some(false))),
      // the dispatcher left to itself on the singleton table — pins that
      // the cached regime verdict actually routes this shape to the fp
      // leg (wall should track remove_spans_singleton_fp)
      "remove_spans_singleton_auto" -> ((spark: SparkSession, dir: String) =>
        graft.pipeline.Dedup.removeFrequentSpans(
          singletonDocs(spark, dir), minDocs = 5)),
      // the kNN graph with the library's corpus-size-derived plane count
      // (the registered gate pins planes=6 for oracle replay — at ×1000's
      // 2M vectors that would be 31k-vector buckets and a quadratic pair
      // blow-up; THIS leg measures the auto derivation the library
      // actually ships: target bucket 64·k, planes grow with N)
      "knn_graph_auto" -> ((spark: SparkSession, dir: String) =>
        graft.pipeline.Similarity.knnGraph(
          Tables.embeddings(spark, dir), k = 3, tables = 4, dim = 64)),
      // the tight-bucket leg: scored pairs are Θ(n·bucket·tables), so
      // the bucket target is the pair-volume lever — 16 planes at ×1000
      // (2M vectors) is ~31-vector buckets, ~6× fewer pairs than the
      // auto 192-target; the recall price of smaller buckets is the
      // documented LSH trade (the gate-pinned leg measures recall at
      // gate SFs, this leg prices the decade where pair volume rules)
      "knn_graph_tight" -> ((spark: SparkSession, dir: String) =>
        graft.pipeline.Similarity.knnGraph(
          Tables.embeddings(spark, dir), k = 3, planes = 16, tables = 4, dim = 64)),
      // the dup-heavy-corpus posture: the ×N replica's embeddings are
      // jittered COPIES, so ~N near-identical vectors share every bucket
      // at any plane count and kNN pair volume goes quadratic in the
      // duplicate mass (both legs above die on disk at ×1000). The fix
      // is the r12 collapse discipline: linear star edges at cosine ≥
      // 0.999 → connected components → the kNN graph over class
      // REPRESENTATIVES only (duplicate classes contribute one node,
      // not N² pairs)
      // r15: the r14 bench recipe promoted to library surface — this leg
      // now measures Similarity.knnGraphCollapsed itself (same stages:
      // ≥0.999 star at class-sized buckets → components → graph over
      // representatives; collapsePlanes left to the library's
      // DefaultCollapseBucket derivation, which lands on 16 planes at
      // ×1000's 2M vectors — the value the recipe pinned by hand)
      "knn_graph_collapsed" -> ((spark: SparkSession, dir: String) =>
        graft.pipeline.Similarity.knnGraphCollapsed(
          Tables.embeddings(spark, dir), k = 3, tables = 4, dim = 64)),
      // the dispatcher left to itself (the remove_spans_singleton_auto
      // convention; "knn_graph_auto" above is the direct op's auto-PLANES
      // leg, this is the auto-REGIME leg): the candidate-mass probe must
      // route the dup-heavy replica to the collapse-first plan — wall
      // should track knn_graph_collapsed plus the probe's one signature
      // aggregation
      "knn_graph_auto_dispatch" -> ((spark: SparkSession, dir: String) =>
        graft.pipeline.Similarity.knnGraphAuto(
          Tables.embeddings(spark, dir), k = 3, tables = 4, dim = 64)),
      // probe-only twin of the registry's quality-tier fused leg (the
      // ann_ivfpq_top5_probe convention): running it AFTER
      // ann_ivfpq_hq_top5 in one JVM hits the memoized index, so its
      // wall is the amortized hq online-query price at the decade
      "ann_ivfpq_hq_probe" -> ((spark: SparkSession, dir: String) =>
        SparkEntry.queries("ann_ivfpq_hq_top5")(spark, dir)),
      // the PRODUCTION-SHAPED quality tier at the decade: the registered
      // hq legs pin numCentroids = 16 for oracle replay, so at ×1000
      // each coarse cell holds 125k vectors and recall collapses (the
      // gate-scale artifact the HqPqK scaladoc names — measured 0.26 at
      // 2M vectors). The knob that must SCALE with the corpus is the
      // cell count: √n centroids keep cell size AND cell count at √n,
      // so the probe reads nprobe·√n codes — a vanishing corpus
      // fraction. This leg builds the same hq codebook at √n coarse
      // cells (build timed on first run, marker-gated like the replica
      // itself) and the _recall twin re-measures what the scaling buys
      // at the decade.
      "ann_ivfpq_hq_scaled" -> ((spark: SparkSession, dir: String) =>
        hqScaledProbe(spark, dir)),
      "ann_ivfpq_hq_scaled_probe" -> ((spark: SparkSession, dir: String) =>
        hqScaledProbe(spark, dir)),
      "ann_ivfpq_hq_scaled_recall" -> ((spark: SparkSession, dir: String) =>
        hqScaledRecall(spark, dir, scaledNp = false)),
      // the nprobe SCALING RULE at the decade (Similarity.scaledNProbe —
      // max(12, ⌈cells/3⌉)): the fixed-nprobe leg above prices the
      // probed-fraction decay (12 of √n cells → a vanishing fraction at
      // the decade); this pair records what the rule buys back in
      // recall and what it costs in probe wall (the _np probe reads
      // ~cells/3 lists instead of 12). Run both; compare.
      "ann_ivfpq_hq_scaled_np" -> ((spark: SparkSession, dir: String) =>
        hqScaledProbe(spark, dir, scaledNp = true)),
      "ann_ivfpq_hq_scaled_np_recall" -> ((spark: SparkSession, dir: String) =>
        hqScaledRecall(spark, dir, scaledNp = true)),
      // DEDUP-THEN-INDEX (Similarity.collapseReps → the same hq config):
      // the ×N replica's embeddings are N jittered copies per base
      // vector, and a quantized index is recall-capped by that duplicate
      // mass — all N copies share one PQ code, so the true top-k (the
      // copies) can only be tie-break-sampled from an ADC-identical
      // class (√n-centroid hq measures 0.43 at ×1000). This leg collapses
      // classes first (≥0.999 star → CC → reps), builds the SAME hq
      // config over the representatives, and measures recall vs brute
      // force over the collapsed corpus — the production pipeline order.
      // Wall includes collapse + build + probe on first run (the index
      // is marker-gated beside the replica like the scaled leg).
      "ann_hq_collapsed_recall" -> (hqCollapsedRecall(_, _, graft.pipeline.Similarity.HqNProbe)),
      // the recall-vs-probed-fraction curve over the collapsed index:
      // the replica's BASE vectors are uniform random (unclusterable —
      // no centroid carries neighbor signal), so coarse pruning is the
      // whole recall loss after the collapse removes the duplicate cap.
      // np32 probes a third of the cells, npall disables pruning (the
      // residual loss there is PQ quantization alone: what the ADC
      // shortlist misses at Hq codebook resolution)
      "ann_hq_collapsed_recall_np32" -> (hqCollapsedRecall(_, _, 32)),
      "ann_hq_collapsed_recall_npall" -> (hqCollapsedRecall(_, _, Int.MaxValue)),
      // the production nprobe RULE on the collapsed (production-shaped)
      // corpus — where coarse pruning IS the recall loss, unlike the raw
      // replica whose duplicate mass shortlist-caps recall regardless of
      // nprobe (measured: 0.433 at both nprobe 12 and 472 at ×1000).
      // scaledNProbe(√reps cells) probes ~⅓ of cells at any decade.
      "ann_hq_collapsed_recall_npscaled" -> ((spark: SparkSession, dir: String) => {
        val cells = spark.read.parquet(s"${hqCollapsedIndex(spark, dir)}/centroids")
          .count().toInt
        hqCollapsedRecall(spark, dir, graft.pipeline.Similarity.scaledNProbe(cells))
      }),
      // INCREMENTAL index maintenance at the decade (Similarity.
      // ivfPqAppend): the leg clones the √n-cell hq index's MODEL only
      // (centroids + codebook + meta — config-sized, kilobytes) into a
      // fresh path and appends a 0.1% increment (vec_id ≡ 7 mod 1000).
      // The wall is the daily-crawl-increment price: one encode pass
      // over the increment + the co-locating write — it must track the
      // INCREMENT, not the corpus (the full √n build at the same decade
      // is the rebuild price recorded beside it, ann_ivfpq_hq_scaled).
      // A fresh temp path each run keeps the marker-gated shared index
      // pristine and the leg idempotent.
      "ivfpq_append" -> ((spark: SparkSession, dir: String) => {
        val basePath = hqScaledIndex(spark, dir)
        val p = Scratch.dir("graft_append_")
        for (part <- Seq("centroids", "codebook", "meta"))
          spark.read.parquet(s"$basePath/$part")
            .coalesce(1).write.mode("overwrite").parquet(s"$p/$part")
        val inc = Tables.embeddings(spark, dir)
          .where(pmod(col("vec_id"), lit(1000)) === 7)
        graft.pipeline.Similarity.ivfPqAppend(inc, p)
        spark.read.parquet(s"$p/lists").groupBy().agg(count(lit(1)).as("appended"))
      }),
      // index DELETION at the decade (Similarity.ivfPqDelete): remove
      // every replica copy of ONE base vector (ids ≡ 13 mod 20000 — the
      // sf0.1 base corpus size; copies are near-identical so they share
      // coarse cells) from the shared √n-cell index, then RESTORE them
      // with ivfPqAppend (same model → identical codes, so the shared
      // index's content is exactly what it was and the other legs are
      // undisturbed). Wall = one lists scan to find affected cells +
      // survivor rewrite of THOSE CELLS ONLY + the restoring append —
      // the Θ(affected cells) claim measured at the decade. A spread id
      // set (uniform deletes) degrades toward min(|ids|, cells) cells
      // rewritten — bounded by the cell count, never by the corpus.
      "ivfpq_delete" -> ((spark: SparkSession, dir: String) => {
        val basePath = hqScaledIndex(spark, dir)
        val sel = pmod(col("vec_id"), lit(20000)) === 13
        val emb = Tables.embeddings(spark, dir)
        // the shared index mutates in place: drop its _DONE marker while
        // the delete/restore pair is in flight, so a crash between the
        // two leaves a rebuild trigger instead of a silently-short index,
        // and restore in finally so even a failed restore is attempted
        val done = java.nio.file.Paths.get(s"$dir/_DONE_HQ_SCALED_v1")
        java.nio.file.Files.deleteIfExists(done)
        val removed = graft.pipeline.Similarity.ivfPqDelete(
          emb.where(sel).select("vec_id"), basePath)
        // restore + marker on the SUCCESS path only: an exception above
        // leaves the marker absent, so the next run REBUILDS the shared
        // index rather than re-appending the full slice onto a
        // partially-deleted one (duplicate rows in cells whose swap
        // never ran) under a marker that falsely asserts health
        graft.pipeline.Similarity.ivfPqAppend(emb.where(sel), basePath)
        java.nio.file.Files.createFile(done)
        spark.range(1).select(lit(removed).as("removed"))
      }),
      // COMBINED maintenance at the decade (Similarity.ivfPqMaintain):
      // the delete leg's class removal AND a full compaction in ONE
      // staging pass over the shared √n-cell index — cells the delete
      // touches and cells the appends fragmented rewrite once, not
      // twice. Restore + marker discipline as ivfpq_delete. Compare
      // against ivfpq_delete + ivfpq_compact walls run separately.
      "ivfpq_maintain" -> ((spark: SparkSession, dir: String) => {
        val basePath = hqScaledIndex(spark, dir)
        val sel = pmod(col("vec_id"), lit(20000)) === 13
        val emb = Tables.embeddings(spark, dir)
        val done = java.nio.file.Paths.get(s"$dir/_DONE_HQ_SCALED_v1")
        java.nio.file.Files.deleteIfExists(done)
        val (removed, rewritten) = graft.pipeline.Similarity.ivfPqMaintain(
          emb.where(sel).select("vec_id"), basePath, maxFilesPerCell = 4)
        // success-path-only restore + marker (the ivfpq_delete rationale)
        graft.pipeline.Similarity.ivfPqAppend(emb.where(sel), basePath)
        java.nio.file.Files.createFile(done)
        spark.range(1).select(lit(removed).as("removed"),
          lit(rewritten).as("cells_rewritten"))
      }),
      // right-to-be-forgotten on the DEDUP REFERENCE at the decade
      // (Dedup.dedupIndexDelete): tombstone a 0.1% slice of the indexed
      // reference. Since round 17 this is the Θ(batch) LOGICAL delete —
      // a pushed-filter residency probe of the id-sorted shingles table
      // plus a batch-sized tombstone append; expect ~the append leg's
      // wall, not the staging leg's (the old Θ(index) staged rewrite is
      // now ccidx_compact_fold). Requires cross_corpus_indexed to have
      // staged the index in this JVM (name it first on the command
      // line).
      "ccidx_forget" -> ((spark: SparkSession, dir: String) => {
        val docs = Tables.documents(spark, dir)
        val prefix = "scale_ccidx_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
        val removed = graft.pipeline.Dedup.dedupIndexDelete(
          docs.where(pmod(col("doc_id"), lit(1000)) === 3).select("doc_id"), prefix)
        spark.range(1).select(lit(removed).as("removed"))
      }),
      // the PRICE of logical forgetting at probe time: the
      // cross_corpus_indexed probe re-run while the tombstone set is
      // non-empty, so the reference-bucket scan pays the broadcast
      // anti-join. Compare this wall against cross_corpus_indexed's —
      // the delta is the anti-join overhead the tombstone design buys
      // its Θ(batch) deletes with. Run AFTER ccidx_forget.
      "ccidx_probe_tombstoned" -> ((spark: SparkSession, dir: String) => {
        val docs = Tables.documents(spark, dir)
        val prefix = "scale_ccidx_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
        graft.pipeline.Dedup.crossCorpusNearDupIndexed(
          docs.where(pmod(col("doc_id"), lit(1000)) === 1), prefix)
      }),
      // the PHYSICAL half of forgetting (Dedup.dedupIndexCompact): fold
      // the accumulated tombstones into the one staged rewrite
      // compaction already pays — the honest Θ(index) cost, now paid
      // once per maintenance window instead of once per takedown batch.
      // Run AFTER ccidx_forget; wall ≈ the old per-batch delete's.
      "ccidx_compact_fold" -> ((spark: SparkSession, dir: String) => {
        val prefix = "scale_ccidx_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
        graft.pipeline.Dedup.dedupIndexCompact(spark, prefix)
        spark.table(s"${prefix}_tombstones").groupBy()
          .agg(count(lit(1)).as("tombstones_left"))
      }),
      // the POST-COMPACTION steady state (r18): the probe re-run with
      // the tombstone table EMPTY — since the empty-set skip, the plan
      // carries no anti-join at all (pinned in PipelineSpec), so this
      // wall must read ≈ cross_corpus_indexed's clean probe, NOT
      // ccidx_probe_tombstoned's ~15–17%-taxed one. Run AFTER
      // ccidx_compact_fold.
      "ccidx_probe_postcompact" -> ((spark: SparkSession, dir: String) => {
        val docs = Tables.documents(spark, dir)
        val prefix = "scale_ccidx_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
        graft.pipeline.Dedup.crossCorpusNearDupIndexed(
          docs.where(pmod(col("doc_id"), lit(1000)) === 1), prefix)
      }),
      // the PERSISTED cross-corpus dedup index in its OPERATIONAL shape:
      // a 0.1% daily batch (doc_id ≡ 1 mod 1000) probed against the
      // 99.9% reference — the direct path must re-sign and re-shuffle
      // the whole reference for that sliver of new docs, the indexed
      // path touches only the batch (the reference's buckets and shingle
      // arrays sort-merge in place from the bucketed tables, plan-pinned
      // in PlanSpec). The first leg invocation in a JVM pays the
      // one-time index build (in-memory catalog — tables re-stage per
      // JVM; name the leg twice to split build from probe, the
      // ann_ivfpq_top5/_probe convention). cross_corpus_direct_small is
      // the apples-to-apples direct leg on the same split. (The % 3
      // registry split is the wrong shape for this comparison: there the
      // "batch" is 2/3 of the corpus and the candidate-verify join
      // dominates both paths — measured 68 s indexed vs 59 s direct at
      // ×100, i.e. the index only pays when the batch is small, which is
      // exactly when you need it.)
      "cross_corpus_indexed" -> ((spark: SparkSession, dir: String) => {
        val docs = Tables.documents(spark, dir)
        val prefix = "scale_ccidx_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
        if (!Seq("buckets", "shingles", "meta")
              .forall(s => spark.catalog.tableExists(s"${prefix}_$s"))) {
          println(s"[scale] staging cross-corpus dedup index $prefix ...")
          graft.pipeline.Dedup.dedupIndexWrite(
            docs.where(pmod(col("doc_id"), lit(1000)) =!= 1), prefix, s"$dir/ccidx")
        }
        graft.pipeline.Dedup.crossCorpusNearDupIndexed(
          docs.where(pmod(col("doc_id"), lit(1000)) === 1), prefix)
      }),
      "cross_corpus_direct_small" -> ((spark: SparkSession, dir: String) => {
        val docs = Tables.documents(spark, dir)
        graft.pipeline.Dedup.crossCorpusNearDup(
          docs.where(pmod(col("doc_id"), lit(1000)) === 1),
          docs.where(pmod(col("doc_id"), lit(1000)) =!= 1))
      }),
      // reference GROWTH on the persisted dedup index: a 0.1% increment
      // (doc_id ≡ 2 mod 1000 — disjoint from the probe batch) appended
      // through Dedup.dedupIndexAppend — signature compute + bucketed
      // append of the increment ONLY, vs cross_corpus_indexed's staging
      // leg which re-signs the whole reference. Measures the append ≡
      // rebuild trade the ivfpq_append leg measures for the ANN side.
      // Requires cross_corpus_indexed to have staged the index in this
      // JVM (name it first on the command line).
      "ccidx_append" -> ((spark: SparkSession, dir: String) => {
        val docs = Tables.documents(spark, dir)
        val prefix = "scale_ccidx_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
        graft.pipeline.Dedup.dedupIndexAppend(
          docs.where(pmod(col("doc_id"), lit(1000)) === 2), prefix)
        spark.table(s"${prefix}_buckets").groupBy()
          .agg(count(lit(1)).as("bucket_rows"))
      }),
      // dedup_clusters_star with the CC driver-finish bound raised
      // 1<<20 → 1<<23 (~8M super-edges ≈ 128-256 MB collected): the
      // round-12 ×1000 audit found the star path's super-linear step is
      // the bound being crossed (3 distributed label rounds switch on);
      // this measures how much of that step a bigger driver budget buys
      // — the evidence for the round-13 default decision
      "star_clusters_b23" -> ((spark: SparkSession, dir: String) => {
        val docs = Tables.documents(spark, dir)
        val sig = graft.pipeline.Dedup.minhashSignatures(docs, portable = true)
        val edges = graft.pipeline.Dedup.bucketStarEdges(
          graft.pipeline.Dedup.lshBuckets(sig, portable = true))
        graft.pipeline.Dedup.components(edges, docs.select("doc_id"),
          driverEdgeBound = 1L << 23)
      }),
      // dedup_clusters_star with the CC broadcast-label regime forced at
      // ×1000's 5M ids (default maxBroadcastIds = 2M is sized for the
      // 8g single-JVM posture — this leg needs SPARK_DRIVER_MEM=16g):
      // measures what the cluster-regime plan (label map broadcast,
      // src-partitioned edge checkpoint, zero edge-scale exchanges per
      // round) buys where executors have dimension-table headroom
      "star_clusters_bcast" -> ((spark: SparkSession, dir: String) => {
        val docs = Tables.documents(spark, dir)
        val sig = graft.pipeline.Dedup.minhashSignatures(docs, portable = true)
        val edges = graft.pipeline.Dedup.bucketStarEdges(
          graft.pipeline.Dedup.lshBuckets(sig, portable = true))
        graft.pipeline.Dedup.components(edges, docs.select("doc_id"),
          maxBroadcastIds = 8_000_000L)
      }),
      // the billions-of-docs regime forced at ×1000: label map pinned OFF
      // broadcast, so every round pays the fused pointer-union edge join
      // — the path a corpus whose id set outgrows any executor's memory
      // must take. Measures the fused round + every-round early-stop
      // check against r12's unfused 437 s / 15.4 GB profile.
      "star_clusters_shuffle" -> ((spark: SparkSession, dir: String) => {
        val docs = Tables.documents(spark, dir)
        val sig = graft.pipeline.Dedup.minhashSignatures(docs, portable = true)
        val edges = graft.pipeline.Dedup.bucketStarEdges(
          graft.pipeline.Dedup.lshBuckets(sig, portable = true))
        graft.pipeline.Dedup.components(edges, docs.select("doc_id"),
          maxBroadcastIds = 0L)
      }))
  }

  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val queries = if (args.length > 1) args.drop(1).toSeq else DefaultQueries
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = s"/tmp/graft_scale_x$mult"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          shuffleBytes.addAndGet(te.taskMetrics.shuffleWriteMetrics.bytesWritten)
    })
    def drained(): Long = {
      var last = -1L; var stable = 0; var waited = 0
      while (stable < 3 && waited < 5000) {
        Thread.sleep(100); waited += 100
        val cur = shuffleBytes.get()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
      shuffleBytes.get()
    }

    // _DONE doubles as a replica FORMAT marker: a format change bumps
    // ReplicaFormat and stale replicas regenerate instead of silently
    // serving old-layout data. An empty legacy _DONE is accepted because
    // the only format change so far (row-count → max-id+1 offsets) is
    // a no-op on the driver's dense 0-based ids — identical replicas.
    val doneFile = java.nio.file.Paths.get(s"$out/_DONE")
    val replicaOk = java.nio.file.Files.exists(doneFile) && {
      val tag = new String(java.nio.file.Files.readAllBytes(doneFile), "UTF-8").trim
      tag.isEmpty || tag == ReplicaFormat
    }
    if (!replicaOk) generate(spark, base, out, mult)

    // derive the singleton-regime table OUTSIDE any timed query
    if (queries.exists(_.startsWith("remove_spans_singleton")))
      singletonDocs(spark, out).limit(1).collect(): Unit

    // same warmups as Bench: tables + window/overSeries machinery
    spark.range(1000).selectExpr("sum(id)").collect()
    Tables.bars(spark, out).limit(1).collect()
    Tables.documents(spark, out).limit(1).collect()
    Tables.embeddings(spark, out).limit(1).collect()
    locally {
      import org.apache.spark.sql.expressions.Window
      val wdf = spark.range(0, 64).selectExpr("CAST(id % 2 AS STRING) AS symbol",
        "id AS ord", "CAST(id AS DOUBLE) AS close")
      wdf.select(avg(col("close")).over(
        Window.partitionBy("symbol").orderBy("ord").rowsBetween(-4, 0))).count()
      ta.SeriesOps.overSeries(wdf, Seq("close"), Seq("o"))(a => Array(a(0))).count()
    }

    queries.foreach { name =>
      val fn = ExtraQueries.getOrElse(name, SparkEntry.queries(name))
      drained(); shuffleBytes.set(0)
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, out)
        // recall gates return a tiny per-query frame — at scale points
        // the VALUE is the result (what the decade costs in recall),
        // so surface the mean instead of discarding it into noop
        val recallNote =
          if (!name.contains("recall")) {
            df.write.format("noop").mode("overwrite").save(); ""
          } else {
            val rows = df.collect()
            val col = df.schema.fieldNames.indexWhere(_.startsWith("recall"))
            if (col < 0 || rows.isEmpty) { "" } else {
              val m = rows.map(_.getDouble(col)).sum / rows.length
              f"   mean-recall ${m}%.3f"
            }
          }
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"[scale x$mult] $name%-22s wall ${wall}%7.2f s   shuffle-write ${drained() / 1e6}%9.2f MB$recallNote")
      } catch { case e: Throwable =>
        println(s"[scale x$mult] $name FAILED: ${e.toString.linesIterator.next()}")
      }
    }
    spark.stop()
  }

  /** Singleton-regime documents table DERIVED from a replica's: 99% of
    * docs get a deterministic per-doc suffix on every token (so their
    * k-grams are cross-doc singletons — the web-crawl shape the
    * fp-short-circuit rewrite exists for), the other 1% keep the replica
    * text verbatim (the shared tiny-vocab sliver that supplies the
    * corpus-frequent set, so the A/B removal is non-degenerate). Written
    * once beside the replica, gated by its own marker; delete the marker
    * to regenerate. */
  def singletonDocs(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/documents_singleton.parquet"
    val done = java.nio.file.Paths.get(s"$dir/_DONE_SINGLETON_v1")
    if (!java.nio.file.Files.exists(done)) {
      println(s"[scale] deriving singleton-regime documents at $path ...")
      val salted = concat_ws(" ", transform(split(col("text"), "\\s+"),
        t => concat(t, lit("q"), col("doc_id").cast("string"))))
      Tables.documents(spark, dir)
        .withColumn("text",
          when(pmod(xxhash64(col("doc_id")), lit(100)) === 0, col("text"))
            .otherwise(salted))
        .write.mode("overwrite").parquet(path)
      java.nio.file.Files.createFile(done)
    }
    spark.read.parquet(path)
  }

  /** The √n-centroid quality-tier fused index beside the replica (see
    * the ann_ivfpq_hq_scaled legs): built once per replica dir, gated by
    * its own marker (delete it to re-time the build). numCentroids =
    * ⌈√n⌉ over the valid-vector count; codebook/probe knobs are the
    * registered hq constants so the ONLY delta vs the gate legs is the
    * cell count — the knob a production index derives from corpus size. */
  def hqScaledIndex(spark: SparkSession, dir: String): String = {
    val path = s"$dir/ivfpq_hq_scaled"
    val done = java.nio.file.Paths.get(s"$dir/_DONE_HQ_SCALED_v1")
    if (!java.nio.file.Files.exists(done)) {
      val emb = Tables.embeddings(spark, dir)
      val n = emb.where(col("embedding").isNotNull).count()
      val nc = graft.pipeline.Similarity.scaledNumCentroids(n)
      println(s"[scale] building hq-scaled IVF-PQ index: n=$n numCentroids=$nc ...")
      graft.pipeline.Similarity.ivfPqWrite(emb, path, numCentroids = nc,
        ksub = graft.pipeline.Similarity.HqPqK)
      java.nio.file.Files.createFile(done)
    } else if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$path/ids"))) {
      // an index built before the id-sidecar existed: upgrade in place
      // (one column-pruned lists scan) so the delete leg measures the
      // Θ(batch) discovery, not the legacy fallback
      println(s"[scale] refreshing id sidecar for pre-sidecar index at $path ...")
      graft.pipeline.Similarity.ivfPqIdsRefresh(spark, path)
    }
    path
  }

  /** Collapsed-representative embeddings beside the replica (the
    * dedup-then-index corpus for ann_hq_collapsed_recall), written once
    * so the brute-force and probe sides read one materialization. */
  def collapsedEmb(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/embeddings_reps.parquet"
    val done = java.nio.file.Paths.get(s"$dir/_DONE_EMB_REPS_v1")
    if (!java.nio.file.Files.exists(done)) {
      println(s"[scale] deriving collapsed-representative embeddings at $path ...")
      graft.pipeline.Similarity.collapseReps(Tables.embeddings(spark, dir), dim = 64)
        .write.mode("overwrite").parquet(path)
      java.nio.file.Files.createFile(done)
    }
    spark.read.parquet(path)
  }

  /** The hq-config fused index over the collapsed representatives:
    * √(reps) coarse cells — the production-shaped config over the
    * production-shaped corpus. Marker-gated like the scaled index. */
  def hqCollapsedIndex(spark: SparkSession, dir: String): String = {
    val path = s"$dir/ivfpq_hq_reps"
    val done = java.nio.file.Paths.get(s"$dir/_DONE_HQ_REPS_v1")
    if (!java.nio.file.Files.exists(done)) {
      val reps = collapsedEmb(spark, dir)
      val n = reps.count()
      val nc = graft.pipeline.Similarity.scaledNumCentroids(n)
      println(s"[scale] building hq collapsed-reps IVF-PQ index: n=$n numCentroids=$nc ...")
      graft.pipeline.Similarity.ivfPqWrite(reps, path, numCentroids = nc,
        ksub = graft.pipeline.Similarity.HqPqK)
      java.nio.file.Files.createFile(done)
    }
    path
  }

  /** DEDUP-THEN-INDEX recall (the ann_hq_collapsed_recall legs): the
    * hq config over the collapsed representatives, measured against
    * brute force over the same collapsed corpus at the given nprobe.
    * Wall includes collapse + build + probe on first run (index and reps
    * are marker-gated beside the replica). */
  private def hqCollapsedRecall(spark: SparkSession, dir: String, nprobe: Int): DataFrame = {
    val sim = graft.pipeline.Similarity
    val k = sim.DefaultTopK
    val emb = Tables.embeddings(spark, dir)
    val reps = collapsedEmb(spark, dir)
    val q = emb.where(col("vec_id") < 10)
    val bf = sim.bruteForceTopK(reps, q, k = k)
      .select(col("query_id"), col("corpus_id"))
    sim.ivfPqQuery(spark, hqCollapsedIndex(spark, dir), reps, q, k = k,
        nprobe = nprobe, shortlist = sim.HqShortlist)
      .select(col("query_id"), col("corpus_id"))
      .join(bf, Seq("query_id", "corpus_id"))
      .groupBy("query_id").agg(count(lit(1)).as("__h"))
      .agg(avg(col("__h") / lit(k.toDouble)).as("recall_at_k"))
  }

  private def hqScaledProbe(spark: SparkSession, dir: String,
                            k: Int = graft.pipeline.Similarity.DefaultTopK,
                            scaledNp: Boolean = false): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val path = hqScaledIndex(spark, dir)
    val np =
      if (scaledNp) graft.pipeline.Similarity.scaledNProbe(
        spark.read.parquet(s"$path/centroids").count().toInt)
      else graft.pipeline.Similarity.HqNProbe
    graft.pipeline.Similarity.ivfPqQuery(spark, path, emb,
      emb.where(col("vec_id") < 10), k = k, nprobe = np,
      shortlist = graft.pipeline.Similarity.HqShortlist)
  }

  private def hqScaledRecall(spark: SparkSession, dir: String,
                             scaledNp: Boolean): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val k = graft.pipeline.Similarity.DefaultTopK
    val bf = graft.pipeline.Similarity.bruteForceTopK(
        emb, emb.where(col("vec_id") < 10), k = k)
      .select(col("query_id"), col("corpus_id"))
    hqScaledProbe(spark, dir, k = k, scaledNp = scaledNp)
      .select(col("query_id"), col("corpus_id"))
      .join(bf, Seq("query_id", "corpus_id"))
      .groupBy("query_id").agg(count(lit(1)).as("__h"))
      .agg(avg(col("__h") / lit(k.toDouble)).as("recall_at_k"))
  }

  /** Build the ×mult replica (see class doc for the distribution
    * argument per table). One-time; `_DONE` marks completion. */
  def generate(spark: SparkSession, base: String, out: String, mult: Int): Unit = {
    println(s"[scale x$mult] generating replica at $out from $base ...")
    val copies = explode(sequence(lit(0), lit(mult - 1))).as("copy")

    // per-copy id offsets come from max(id) + 1, NOT row counts: sparse
    // ids with max >= count would silently collide across copies and
    // corrupt the replica's duplicate-free id space (dense 0-based ids —
    // every driver dataset so far — make base == count, so existing
    // replicas are unchanged)
    def idBase(df: DataFrame, c: String): Long = {
      // max over an empty table is NULL — an empty base replicates to an
      // empty replica with offset 0, not an NPE
      val row = df.agg(max(col(c)).cast("long")).head()
      if (row.isNullAt(0)) 0L else row.getLong(0) + 1
    }
    val docs = Tables.documents(spark, base)
    val nDocs = docs.count()
    val docBase = idBase(docs, "doc_id")
    val words = split(trim(lower(col("text"))), "\\s+")
    // position-keyed deterministic permutation: key depends on (position,
    // doc, copy) only, so duplicate words do NOT cluster and each copy
    // draws an unrelated permutation
    val permuted = transform(
      array_sort(transform(words, (w, i) => struct(
        xxhash64(concat_ws("_", i.cast("string"), col("doc_id").cast("string"),
          col("copy").cast("string"))).as("k"),
        w.as("w")))),
      s => s.getField("w"))
    docs.select(col("*"), copies)
      .select(
        (col("copy") * docBase + col("doc_id")).as("doc_id"),
        concat_ws(" ", permuted).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val ev = Tables.table(spark, base, "events")
    val nEv = ev.count()
    val evBase = idBase(ev, "event_id")
    val userBase = idBase(ev, "user_id")
    ev.select(col("*"), copies)
      .select(
        (col("copy") * evBase + col("event_id")).as("event_id"),
        col("ts"),
        (col("copy") * userBase + col("user_id")).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    val emb = Tables.embeddings(spark, base)
    val nEmb = emb.count()
    val embBase = idBase(emb, "vec_id")
    emb.select(col("*"), copies)
      .select(
        (col("copy") * embBase + col("vec_id")).as("vec_id"),
        transform(col("embedding"), (x, i) => (x + (pmod(
          xxhash64(concat_ws("_", i.cast("string"), col("vec_id").cast("string"),
            col("copy").cast("string"))), lit(1000L)).cast("double") - 500.0) / 1e6)
          .cast("float"))
          .as("embedding"),
        col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/_DONE"),
      ReplicaFormat.getBytes("UTF-8"))
    println(s"[scale x$mult] replica ready: docs ${nDocs * mult}, events ${nEv * mult}, embeddings ${nEmb * mult}")
  }
}
