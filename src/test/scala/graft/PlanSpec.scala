package graft

import graft.pipeline._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-SHAPE regression tests: the scale properties this engine claims
  * (broadcast small sides, reuse one exchange across self-join sides,
  * map-side signature computation, filter pushdown into the parquet scan)
  * are asserted on the executed plan, so a refactor that silently
  * reintroduces a full-corpus shuffle or drops a pushdown fails CI — not
  * just the 100 TB cluster three weeks later.
  */
class PlanSpec extends AnyFunSuite with SparkSuite {
  /** Executed (post-AQE) plan string: run the query first so adaptive
    * re-planning has happened, then render the final plan. */
  private def executedPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  /** Count physical shuffle-exchange NODES in the final adaptive plan.
    * The plan STRING under AQE prints both the Final and Initial plans
    * (the same node appears twice in the text), so substring counting
    * over-counts — walk the resolved plan tree instead. Query stages are
    * leaf nodes that hide their materialized exchange behind `.plan`, so
    * the walk descends into them explicitly (a plain `collect` would see
    * zero exchanges). ReusedExchangeExec is not ShuffleExchangeLike, so a
    * reused exchange still counts once. */
  private def physicalNodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => physicalNodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => physicalNodes(q.plan)
    case other => other +: other.children.flatMap(physicalNodes)
  }
  private def countShuffleExchanges(df: DataFrame): Int = {
    df.collect()
    physicalNodes(df.queryExecution.executedPlan)
      .count(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
  }

  private def docs(n: Int) =
    spark.createDataFrame(
      (0 until n).map(i => (i.toLong, s"document number $i with some shared words and token$i")))
      .toDF("doc_id", "text")

  private def embs(n: Int, dim: Int = 8) =
    spark.createDataFrame(
      (0 until n).map(i => (i.toLong, Array.tabulate(dim)(d => math.sin(i * 31 + d).toFloat))))
      .toDF("vec_id", "embedding")

  test("simhash chunk join reuses ONE exchange for both sides") {
    val plan = executedPlan(Dedup.simhashCandidates(docs(50)))
    assert(plan.contains("ReusedExchange"),
      s"expected the (chunk, key) exchange to be computed once and reused:\n$plan")
  }

  test("minhash signatures are computed map-side: no exchange in the plan") {
    val plan = executedPlan(Dedup.minhashSignatures(docs(50)))
    assert(!plan.contains("Exchange"),
      s"signature computation must stay inside the scan stage (no shuffle):\n$plan")
  }

  test("brute-force ANN broadcasts the query side, never the corpus") {
    val e = embs(60)
    val plan = executedPlan(Similarity.bruteForceTopK(e, e.where(col("vec_id") < 3), k = 2))
    assert(plan.contains("BroadcastExchange"),
      s"queries must ride a broadcast, corpus stays in place:\n$plan")
    // rank <= k must compile to WindowGroupLimit: each partition prunes to
    // its local top-k BEFORE the per-query exchange, so the shuffle is
    // O(partitions·k·|queries|), not O(|corpus|·|queries|)
    assert(plan.contains("WindowGroupLimit"),
      s"top-k must partial-prune before the exchange:\n$plan")
  }

  test("parquet filter + projection push down to the scan") {
    val dir = Scratch.dir("graft_plan_pushdown_")
    docs(100).write.mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir).where(col("doc_id") < 10).select("doc_id")
    val plan = executedPlan(q)
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,10)]"),
      s"filter must reach the parquet reader:\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint>"),
      s"projection must prune the text column from the scan:\n$plan")
  }

  test("manifest pruning: the pruned read plans ONLY the surviving files") {
    // the driver-side-skip claim's plan half: readPruned's scan must
    // touch exactly the manifest-surviving file set — file pruning
    // happens before the scan plans, not inside it
    import graft.etl.Layout
    val rows = for (a <- 0L until 40L; b <- 0L until 10L) yield (a, b, a * 100 + b)
    val df = spark.createDataFrame(rows).toDF("a", "b", "v")
    val dir = Scratch.dir("graft_plan_manifest_") + "/t"
    Layout.zOrderWrite(df, Seq("a", "b"), dir, bits = 8, numFiles = 4)
    Layout.manifestRefresh(spark, dir, Seq("a", "b"))
    val bounds = Seq(Layout.Bound("a", 0L, 5L), Layout.Bound("b", 0L, 5L))
    val pruned = Layout.prunedFiles(spark, dir, bounds)
    assert(pruned.nonEmpty && pruned.size < 4,
      s"the corner box must keep a strict subset of the 4 curve files, kept ${pruned.size}")
    val q = Layout.readPruned(spark, dir, bounds)
      .where(col("a") <= 5 && col("b") <= 5).agg(count(lit(1)).as("n"))
    val n = q.collect()(0).getLong(0)
    assert(n == rows.count { case (a, b, _) => a <= 5 && b <= 5 },
      "the pruned read must still see every matching row")
    val scanned = physicalNodes(q.queryExecution.executedPlan)
      .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      .map(_.metrics("numFiles").value).sum
    assert(scanned == pruned.size,
      s"the scan must plan exactly the ${pruned.size} surviving files, planned $scanned")
  }

  test("ivfPqDelete discovery: the delete batch's ids push INTO the sidecar scan") {
    // the Θ(batch) claim's plan half: the sidecar probe must carry the
    // id predicate in PushedFilters (row-group stats prune on the sorted
    // range layout) and read only the two sidecar columns
    val vecs = (0L until 30L).map { i =>
      (i, (0 until 8).map(d =>
        (java.lang.Math.floorMod(graft.functions.TextHashes.splitmix(i * 31 + d), 1000L)
          .toDouble / 500.0) - 1.0))
    }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val dir = Scratch.dir("graft_plan_sidecar_")
    Similarity.ivfPqWrite(df, dir, numCentroids = 4, lloydIters = 1, ivfSampleMod = 1,
      m = 4, ksub = 4, pqIters = 2, pqSampleMod = 2)
    // the exact probe shape ivfPqDelete builds under the cap
    val q = spark.read.parquet(s"$dir/ids")
      .where(col("corpus_id").isInCollection(Seq(3L, 17L)))
      .select("cid").distinct()
    val plan = executedPlan(q)
    assert(plan.contains("PushedFilters: [In(corpus_id,")
        || plan.contains("PushedFilters: [IsNotNull(corpus_id), In(corpus_id"),
      s"the id batch must reach the sidecar's parquet reader as a pushed filter:\n$plan")
    assert(plan.contains("ReadSchema: struct<corpus_id:bigint,cid:int>"),
      s"discovery must read the 2-column sidecar, never the code arrays:\n$plan")
  }

  test("sequence packing shuffles once, on the shard key") {
    val df = Packing.packSequences(docs(60), budget = 16, shards = 4)
    // one hash exchange on shard feeds the per-shard running-offset
    // window; any second exchange means the packing stopped scaling with
    // the shard count
    val nExchange = countShuffleExchanges(df)
    val plan = executedPlan(df)
    assert(nExchange == 1, s"packing must shuffle exactly once (by shard):\n$plan")
    assert(plan.contains("hashpartitioning(shard"),
      s"the single exchange must be keyed on shard:\n$plan")
  }

  test("pack slices: the explode stays narrow — still exactly one shuffle, on shard") {
    val df = Packing.packSlices(docs(60), budget = 16, shards = 4)
    // the sequence()+explode fan-out must run INSIDE the post-window stage:
    // a second exchange would mean slice materialization re-shuffles the
    // corpus instead of riding the same shard partitioning
    val nExchange = countShuffleExchanges(df)
    val plan = executedPlan(df)
    assert(nExchange == 1, s"slice map must reuse the single shard exchange:\n$plan")
    assert(plan.contains("hashpartitioning(shard"),
      s"the single exchange must be keyed on shard:\n$plan")
  }

  test("repetition + pii columns stay inside the scan stage: zero shuffles") {
    val d = docs(80)
    val rep = d.select(col("doc_id"),
      Repetition.distinctRatio(col("text")),
      Repetition.topTokenRatio(col("text")),
      Repetition.dupNgramRatio(col("text"), 2),
      Repetition.repetitionKeep(col("text")))
    assert(countShuffleExchanges(rep) == 0,
      "repetition signals must be per-row arithmetic, no exchange")
    val pii = Pii.withScrub(Pii.demoPii(d))
    assert(countShuffleExchanges(pii) == 0,
      "pii detection/redaction must be per-row regex columns, no exchange")
  }

  test("repetition keep as a FILTER tokenizes once under pushdown (r18 trap pinned)") {
    // predicate pushdown substitutes the full keep condition into the
    // scan filter; under the r18 alias formulation that meant 40 copies
    // of split(trim(lower(text))) per row. The r19 counts-bound form
    // must keep ONE tokenization and ONE counting pass per row under
    // any optimizer rewrite — pinned here because no plan-shape rule in
    // Spark guarantees it (advisor item: a Spark upgrade could silently
    // reintroduce the re-tokenization).
    // a REAL parquet scan: a LocalRelation is constant-folded before the
    // filter ever reaches a plan (ConvertToLocalRelation), and the trap
    // being pinned lives in the scan-filter substitution
    val dir = Scratch.dir("graft_repkeep_plan_")
    docs(80).write.mode("overwrite").parquet(dir)
    val plan = executedPlan(
      spark.read.parquet(dir).where(Repetition.repetitionKeep(col("text"))))
    def occurrences(s: String, sub: String): Int = {
      var c = 0; var i = s.indexOf(sub)
      while (i >= 0) { c += 1; i = s.indexOf(sub, i + 1) }
      c
    }
    // the AQE plan string prints Final and Initial plans (each node can
    // appear twice) — bound at 2, where the r18 regression read 40+
    assert(occurrences(plan, "split(") <= 2,
      s"keep filter must tokenize once per row, got:\n$plan")
    assert(occurrences(plan, "repetition_counts") <= 2 &&
      plan.contains("repetition_counts"),
      s"keep filter must run ONE counting pass per row, got:\n$plan")
  }

  test("Present.sorted plans as one single-partition sort over the body") {
    // the default presentation sort: one plan, no
    // checkpoint leaf, no range sampler, one gather exchange
    val df = graft.queries.Present.sorted(
      docs(50).select(col("doc_id"), length(col("text")).as("len")), "doc_id")
    val plan = executedPlan(df)
    assert(!plan.contains("ExistingRDD"), s"no checkpoint leaf:\n$plan")
    assert(!plan.contains("rangepartitioning"), s"no range sort:\n$plan")
    val exchanges = physicalNodes(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    assert(exchanges.map(_.outputPartitioning) ==
      Seq(org.apache.spark.sql.catalyst.plans.physical.SinglePartition),
      s"exactly one SinglePartition exchange:\n$plan")
  }

  test("Present.sorted yields the body's rows ordered by unique keys") {
    // 4 input partitions, each holding keys from across the range, so
    // the sort must interleave them; keys are unique, as every
    // registration's are (the sort does not specify the order of ties)
    val body = spark.range(0, 200, 1, 4)
      .select((col("id") * 7 % 200).as("k"), (col("id") * 3).as("v"))
    val expected = body.collect().toSeq.sortBy(_.getLong(0))
    assert(graft.queries.Present.sorted(body, "k").collect().toSeq == expected)
  }

  test("frequent-span removal over a 10k-gram set: one plan, one gather, the set printed by its size") {
    // two copies of one 10,002-token doc: its 10,000 3-grams are all
    // frequent at minDocs = 2, and the set rides the plan as a literal
    val n = 10002
    val text = (0 until n).map(i => s"w$i").mkString(" ")
    val corpus = spark.createDataFrame(Seq((0L, text), (1L, text), (2L, "a lone doc")))
      .toDF("doc_id", "text")
    val grams = (0 until n - 2).map(i => s"w$i w${i + 1} w${i + 2}")
    Seq(false, true).foreach { fp =>
      val df = graft.queries.Present.sorted(
        Dedup.removeFrequentSpans(corpus, minDocs = 2, fpRewrite = Some(fp)), "doc_id")
      val plan = executedPlan(df)
      assert(!plan.contains("ExistingRDD") && !df.queryExecution.analyzed.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]), s"fp=$fp: no checkpoint leaf:\n$plan")
      val exchanges = physicalNodes(df.queryExecution.executedPlan).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }
      assert(exchanges.map(_.outputPartitioning) ==
        Seq(org.apache.spark.sql.catalyst.plans.physical.SinglePartition),
        s"fp=$fp: exactly one SinglePartition exchange:\n$plan")
      assert(df.collect().map(_.getAs[Int]("n_removed")).toSeq == Seq(n, n, 0))
      val described = df.queryExecution.toString
      val rewriteSql = df.queryExecution.analyzed.collect {
        case p: org.apache.spark.sql.catalyst.plans.logical.Project => p.projectList
      }.flatten.filter(_.name == "__freq").map(_.sql)
      assert(rewriteSql.nonEmpty, s"fp=$fp: the rewrite column is in the analyzed plan")
      (described +: rewriteSql).foreach { text =>
        assert(text.length < 60000, s"fp=$fp: ${text.length} chars")
        assert(!grams.exists(text.contains), s"fp=$fp: a gram is printed in:\n${text.take(2000)}")
      }
    }
  }

  test("identical-signature collapse adds exactly one exchange, and it is reused") {
    // plain: 1 shuffle (the chunk/key repartition, reused by both join
    // sides). collapsed: + the signature window's hash exchange = 2.
    val d = docs(60)
    assert(countShuffleExchanges(Dedup.simhashCandidates(d)) == 1)
    val collapsed = Dedup.simhashCandidates(d, collapseIdentical = true)
    assert(countShuffleExchanges(collapsed) == 2,
      "collapse must cost one extra exchange (the signature window), not a join cascade")
    assert(executedPlan(collapsed).contains("ReusedExchange"),
      "rep-filter and star-edge branches must share the window's exchange")
  }

  test("pack text: one exchange total — text rides the shard shuffle, no join-back") {
    val df = Packing.packText(docs(60), budget = 16, shards = 4)
    val plan = executedPlan(df)
    assert(countShuffleExchanges(df) == 1,
      s"text must be carried through the single shard exchange and the\n" +
        s"(shard, seq_id) groupBy must reuse that partitioning:\n$plan")
  }

  test("session stats reuse the user partitioning: one exchange for window + groupBy") {
    val evts = spark.createDataFrame((1 to 200).map(i =>
      (i.toLong % 10, i.toLong * 1000L, i.toLong))).toDF("user_id", "ts", "event_id")
    val df = graft.etl.Sessions.sessionStats(evts, gapNanos = 5000L)
    assert(countShuffleExchanges(df) == 1,
      "the (user, session) aggregation must ride the window's user_id exchange")
  }

  test("backward fill compiles to a running frame, never unbounded-following") {
    // growing-from-below frames are re-scanned per row (O(rows²) per
    // symbol — 573 s at sf0.1 before the rewrite); the backward fill must
    // stay a running (unboundedpreceding, currentrow) frame over
    // descending dates
    val bars = spark.createDataFrame((0 until 60).map(i =>
      (s"s${i % 3}", i.toLong, if (i % 4 == 0) Some(i.toDouble) else None)))
      .toDF("symbol", "date", "close")
    val plan = executedPlan(graft.etl.Align.align(bars, fillNullStrategy = "backward"))
      .toLowerCase
    assert(!plan.contains("unboundedfollowing"),
      s"backward fill must run as a reversed running frame:\n$plan")
  }

  test("align with sorted=false ends at the fill, no global sort / range exchange") {
    // the terminal (date, symbol) orderBy is presentation-only — at scale
    // it is align's single biggest cost, so the unsorted path must not
    // pay it: no rangepartitioning exchange and no global Sort anywhere
    // (the window fills keep their LOCAL per-partition sorts)
    val bars = spark.createDataFrame((0 until 60).map(i =>
      (s"s${i % 3}", i.toLong, if (i % 4 == 0) Some(i.toDouble) else None)))
      .toDF("symbol", "date", "close")
    val df = graft.etl.Align.align(bars, sorted = false)
    assert(!executedPlan(df).toLowerCase.contains("rangepartitioning"),
      "unsorted align must not range-exchange for output order")
    val globalSorts = physicalNodes(df.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s
    }
    assert(globalSorts.isEmpty, s"unsorted align must have no global sort: $globalSorts")
    // and the sorted default still delivers the reference-parity order
    val sortedPlan = executedPlan(graft.etl.Align.align(bars)).toLowerCase
    assert(sortedPlan.contains("rangepartitioning"),
      "sorted align must keep the global (date, symbol) order")
  }

  test("simhashStarEdges reuses ONE (chunk, key) exchange for hub agg and hub join") {
    // the star construction's hub aggregation and hub↔member join both
    // consume the exploded chunk frame — the explicit repartition must be
    // computed once and reused, or the signature+explode pass runs twice
    val plan = executedPlan(Dedup.simhashStarEdges(docs(50)))
    assert(plan.contains("ReusedExchange"),
      s"expected the (chunk, key) exchange to be computed once and reused:\n$plan")
  }

  test("cosineNearDupStar reuses ONE sig exchange for hub agg and hub join") {
    val plan = executedPlan(Similarity.cosineNearDupStar(embs(60), planes = 2))
    assert(plan.contains("ReusedExchange"),
      s"expected the sig exchange to be computed once and reused:\n$plan")
  }

  test("unsorted align + aggregate: the only range exchange orders the AGGREGATED frame") {
    // the registered align_grid_unsorted shape: grid + fill with
    // sorted=false feeding a per-symbol aggregate, ordered by symbol at
    // the end. The tiny terminal ORDER BY may range-exchange ~#symbols
    // rows; it must sit ABOVE the aggregation — a range exchange below it
    // would mean the presentation sort of the full row-level frame
    // sneaked back in
    val bars = spark.createDataFrame((0 until 60).map(i =>
      (s"s${i % 3}", i.toLong, if (i % 4 == 0) Some(i.toDouble) else None)))
      .toDF("symbol", "date", "close")
    val df = graft.etl.Align.align(bars, sorted = false)
      .groupBy("symbol").agg(count(lit(1)).as("n"), sum("close").as("s"))
      .orderBy("symbol")
    df.collect()
    val ranges = physicalNodes(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] => e
    }
    assert(ranges.nonEmpty, "terminal symbol order needs one small range exchange")
    ranges.foreach { e =>
      val below = physicalNodes(e.asInstanceOf[org.apache.spark.sql.execution.SparkPlan])
      assert(below.exists(_.isInstanceOf[org.apache.spark.sql.execution.aggregate.BaseAggregateExec]),
        s"the range exchange must order the aggregated frame, not the row-level fill:\n$e")
    }
  }

  test("bpe encode joins the vocabulary by broadcast, corpus never shuffles for it") {
    // the join-based encode's contract: the (word → pieces) side rides a
    // broadcast, so the corpus pays shuffles only for the per-doc
    // re-assembly and the row-restoring rejoin — never a word-keyed
    // corpus exchange (natural-language word keys are maximally skewed)
    val d = docs(40)
    val m = Bpe.train(d, numMerges = 3)
    val df = Bpe.encode(d, m.wordPieces)
    val plan = executedPlan(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"vocabulary side must broadcast:\n$plan")
    assert(countShuffleExchanges(df) <= 1,
      s"corpus must shuffle only for the doc_id re-assembly:\n$plan")
  }

  test("vocab top-k compiles to TakeOrdered, never a global sort") {
    val toks = docs(60).select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .where(col("token") =!= "")
    val top = toks.groupBy("token")
      .agg(count(lit(1)).as("n_occurrences"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("token").asc)
      .limit(100)
    val plan = executedPlan(top)
    assert(plan.contains("TakeOrderedAndProject"),
      s"orderBy+limit must fuse into per-partition top-k + driver merge:\n$plan")
  }

  test("k-per-group sampling prunes per-partition before the group exchange") {
    val d = docs(80).withColumn("source",
      concat(lit("s"), (col("doc_id") % 4).cast("string")))
    val plan = executedPlan(Sampling.kPerGroup(d, "source", k = 3))
    assert(plan.contains("WindowGroupLimit"),
      s"the rank<=k filter must prune before the shuffle:\n$plan")
  }

  test("tfidf top-k prunes per-partition before the per-doc exchange") {
    val df = Vocab.tfidfTopK(docs(60), k = 3)
    val plan = executedPlan(df)
    // the row_number <= k filter must fuse into WindowGroupLimit: each
    // partition keeps only its local top-k (doc, score) rows, so the
    // per-doc exchange moves O(docs·k), not every (doc, token) pair
    assert(plan.contains("WindowGroupLimit"),
      s"per-doc top-k must partial-prune before the exchange:\n$plan")
  }

  test("approx percentile aggregates partially map-side (sketch merge)") {
    val d = docs(80).withColumn("source",
      concat(lit("s"), (col("doc_id") % 4).cast("string")))
    val q = d.groupBy("source").agg(
      approx_percentile(length(col("text")).cast("double"), lit(0.5), lit(1000)).as("p50"))
    val plan = executedPlan(q)
    assert(plan.contains("partial_approx_percentile"),
      s"percentile sketches must merge map-side:\n$plan")
  }

  test("approx doc-frequency aggregates partially map-side (HLL sketch merge)") {
    // the scale rationale for vocab_top100_approx: the HLL sketch is
    // algebraic, so a partial aggregate must appear below the exchange —
    // each mapper merges its own sketch and a hot token's reducer sees one
    // row per partition, not every distinct (token, doc) pair
    val df = Vocab.topK(docs(80), k = 10, exactDocFreq = false)
    val plan = executedPlan(df)
    assert(plan.contains("partial_approx_count_distinct"),
      s"HLL doc frequency must partial-aggregate before the shuffle:\n$plan")
  }

  test("sequential backtest event loop executes inside a task, not on the driver") {
    // pre-r8 these queries collected bars to the driver and re-parallelized
    // the equity curve (a LocalTableScan of driver-computed rows); the
    // distributed shape folds inside flatMapGroups, so the plan must show a
    // typed-groups node fed by the parquet scan and no local relation
    // the portfolio is the literal "p0", one series: the grouping's own
    // exchange is its only one (a series repartition on the folded
    // literal would add a second that the grouping cannot reuse)
    for ((name, exchanges) <- Seq("bt_sequential" -> 2, "bt_multi_asset" -> 5)) {
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      val plan = executedPlan(df)
      assert(plan.contains("MapGroups"),
        s"$name: event loop must fold inside a task (flatMapGroups):\n$plan")
      assert(!plan.contains("LocalTableScan"),
        s"$name: no driver-side collect/re-parallelize in the query path:\n$plan")
      assert(countShuffleExchanges(df) == exchanges,
        s"$name: expected $exchanges exchanges:\n$plan")
    }
  }

  test("persisted IVF probe prunes unprobed lists via cid partition filter") {
    val e = embs(80)
    val dir = Scratch.dir("graft_plan_ivf_")
    Similarity.ivfWrite(e, dir, numCentroids = 4, portableSeed = true)
    val probe = Similarity.ivfQuery(spark, dir, e.where(col("vec_id") < 2), k = 2, nprobe = 1)
    val plan = executedPlan(probe)
    // the lists scan must carry a partition filter on cid (dynamic pruning
    // or a pushed-down join-key filter), not read all lists
    assert(plan.contains("dynamicpruning") || plan.contains("PartitionFilters: [isnotnull(cid"),
      s"probe must prune list partitions at the source:\n$plan")
  }

  test("IVF-PQ probe prunes unprobed lists at the source and keeps the two-window shuffle bound") {
    val e = embs(80)
    val dir = Scratch.dir("graft_plan_ivfpq_")
    Similarity.ivfPqWrite(e, dir, numCentroids = 4, lloydIters = 1, ivfSampleMod = 1,
      m = 4, ksub = 4, pqIters = 1, pqSampleMod = 1)
    val probe = Similarity.ivfPqQuery(spark, dir, e, e.where(col("vec_id") < 2),
      k = 2, nprobe = 1, shortlist = 4)
    val plan = executedPlan(probe)
    // the codes scan must carry a partition filter on cid (dynamic pruning
    // or a pushed-down join-key filter), not read all lists — the same
    // contract as the flat IVF probe, now over the COMPRESSED lists
    assert(plan.contains("dynamicpruning") || plan.contains("PartitionFilters: [isnotnull(cid"),
      s"probe must prune list partitions at the source:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"both top-k stages must partial-prune before their exchange:\n$plan")
    // probes, LUTs and candidates all ride broadcasts: the corpus-scale
    // data crosses at most the two per-query top-k windows; the third
    // permitted exchange is the nprobe-selection window over the tiny
    // queries×centroids frame (|q|·k rows — size-independent of the
    // corpus, the ivfProbe shape)
    assert(countShuffleExchanges(probe) <= 3,
      s"IVF-PQ probe must not shuffle the corpus:\n$plan")
  }

  test("residual IVF-PQ probe keeps the raw fused probe's plan shape") {
    val e = embs(80)
    val dir = Scratch.dir("graft_plan_ivfpqres_")
    Similarity.ivfPqResWrite(e, dir, numCentroids = 4, lloydIters = 1, ivfSampleMod = 1,
      m = 4, ksub = 4, pqIters = 1, pqSampleMod = 1)
    val probe = Similarity.ivfPqResQuery(spark, dir, e, e.where(col("vec_id") < 2),
      k = 2, nprobe = 1, shortlist = 4)
    val plan = executedPlan(probe)
    // the residual corrections are literals/broadcasts — the plan must
    // still prune unprobed lists at the source and keep the corpus out
    // of every exchange (same contract as the raw fused probe)
    assert(plan.contains("dynamicpruning") || plan.contains("PartitionFilters: [isnotnull(cid"),
      s"probe must prune list partitions at the source:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"both top-k stages must partial-prune before their exchange:\n$plan")
    assert(countShuffleExchanges(probe) <= 3,
      s"residual IVF-PQ probe must not shuffle the corpus:\n$plan")
  }

  test("contamination scoring probes a broadcast hash, never a sort-merge join") {
    val d = docs(40)
    val bench = d.where(col("doc_id") % 10 === 0)
    val df = Dedup.contaminationStats(d.where(col("doc_id") % 10 =!= 0), bench)
    val plan = physicalNodes({ df.collect(); df.queryExecution.executedPlan })
    // the bench set rides a BroadcastHashJoin (probe hash built once per
    // task — a per-row array_intersect against a broadcast array would
    // rebuild the set hash for every corpus row, O(|corpus|·|set|)); the
    // only corpus-keyed movement is the single doc-keyed hit aggregation
    assert(!plan.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "corpus must not sort-merge against the benchmark set")
    assert(plan.exists(_.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "bench set should ride a broadcast hash join")
    assert(countShuffleExchanges(df) <= 2,
      "bench-distinct + doc-keyed agg are the only exchanges allowed")
  }

  test("random projection is map-side: zero exchanges, no shuffle for the transform") {
    val e = embs(50, dim = 8)
    assert(countShuffleExchanges(Similarity.randomProject(e, inDim = 8, outDim = 4)) == 0,
      "the projection is a per-row literal sum chain — nothing to shuffle")
  }

  test("rp re-rank broadcasts the candidate set back against the corpus") {
    val e = embs(60, dim = 8)
    val plan = executedPlan(Similarity.rpRerankTopK(
      e, e.where(col("vec_id") < 3), inDim = 8, outDim = 4, shortlist = 5, k = 2))
    // both the shortlist stage (queries side) and the re-rank stage
    // (candidate ids) must ride broadcasts — the full corpus is never
    // shuffled by either stage
    assert(plan.contains("BroadcastExchange"),
      s"candidates must broadcast against the corpus:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"both top-k stages must partial-prune before their exchange:\n$plan")
  }

  test("PQ ADC scan: LUTs and candidates broadcast, corpus never shuffles, top-k prunes") {
    val e = embs(60, dim = 8)
    val cb = Similarity.pqTrain(e, m = 4, ksub = 4, iters = 1, sampleMod = 1)
    val df = Similarity.pqTopKWith(e, e.where(col("vec_id") < 3), cb, k = 2, shortlist = 5)
    val plan = executedPlan(df)
    assert(plan.contains("BroadcastExchange"),
      s"query LUT batch and candidate set must ride broadcasts:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"both top-k stages must partial-prune before their exchange:\n$plan")
    // the corpus contributes only code/vector SCANS: the sole shuffle
    // exchanges are the two pruned per-query top-k windows
    assert(countShuffleExchanges(df) <= 2,
      s"ADC scan must not shuffle the corpus:\n$plan")
  }

  test("Misra-Gries vocabulary partial-aggregates map-side (bounded summaries)") {
    // the scale rationale for vocab_top100_mg: each mapper builds its own
    // capacity-bounded summary and the single reduce sees O(partitions *
    // capacity) entries — a partial misra_gries must appear below the
    // exchange, not a raw per-token shuffle
    val plan = executedPlan(Vocab.topKHeavyHitters(docs(60), k = 5, capacity = 32))
    assert(plan.contains("partial_misra_gries"),
      s"the MG summary must partial-aggregate before the shuffle:\n$plan")
  }

  test("vocab encoding is a pure scan: the id map is a plan literal, no join") {
    val d = docs(30)
    val enc = Vocab.encode(d, Vocab.assignIds(d, vocabSize = 20))
    // assignIds pays its own bounded aggregation before this plan exists
    // (collected into the map literal); the returned encode query must be
    // join-free and shuffle-free
    assert(countShuffleExchanges(enc) == 0, "encoding against a literal map must not shuffle")
    assert(!executedPlan(enc).contains("Join"), "encoding against a literal map must not join")
  }

  test("bloom decontamination probe is a pure scan: zero exchanges, no join") {
    val d = docs(40)
    val probe = Dedup.decontaminateBloom(d.where(col("doc_id") % 5 =!= 0),
      d.where(col("doc_id") % 5 === 0), mBits = 1 << 12)
    // the bitmap build pays its own bounded aggregation BEFORE this plan
    // exists (driver-side Array[Long]); the returned probe query must be
    // join-free and shuffle-free — that is the sketch's entire point
    assert(countShuffleExchanges(probe) == 0,
      "probing a literal bitmap must not shuffle")
    assert(!executedPlan(probe).contains("Join"),
      "probing a literal bitmap must not join")
  }

  test("frequent-span removal rewrite is a pure scan: zero exchanges, no join") {
    val d = docs(40)
    // the frequent set is collected at construction time and inlined as a
    // native set probe (InFixedSet), so the REWRITE plan a consumer actually runs —
    // the thing that scans the 100 TB corpus — must stay join-free and
    // shuffle-free regardless of set size
    val rewrite = Dedup.removeFrequentSpans(d, minDocs = 2)
    assert(countShuffleExchanges(rewrite) == 0,
      "rewriting against an inlined frequent set must not shuffle")
    assert(!executedPlan(rewrite).contains("Join"),
      "rewriting against an inlined frequent set must not join")
    // the fp-short-circuit leg keeps the same contract: the fp probe and
    // the per-hit string confirm are both scan-stage expressions
    val fpRewrite = Dedup.removeFrequentSpans(d, minDocs = 2, fpRewrite = Some(true))
    assert(countShuffleExchanges(fpRewrite) == 0,
      "the fp-short-circuit rewrite must not shuffle")
    assert(!executedPlan(fpRewrite).contains("Join"),
      "the fp-short-circuit rewrite must not join")
    // past the literal bound the set stays a distributed frame: the
    // frequent grams must ride a BROADCAST hash join (never a shuffled
    // sort-merge — the set is orders below the corpus by construction)
    val joinRewrite = Dedup.removeFrequentSpans(d, minDocs = 2, maxLiteralSpans = 0)
    val jp = executedPlan(joinRewrite)
    assert(jp.contains("BroadcastHashJoin"),
      "the beyond-bound rewrite must broadcast the frequent set")
    assert(!jp.contains("SortMergeJoin"),
      "the frequent set must never sort-merge against the corpus")
  }

  test("cross-corpus containment probe is a pure scan: zero exchanges, no join") {
    val d = docs(40)
    val probe = Dedup.crossCorpusContainmentBloom(d.where(col("doc_id") % 5 =!= 0),
      d.where(col("doc_id") % 5 === 0), mBits = 1 << 12)
    // same contract as the bloom decontaminator: the reference collapsed
    // into a literal bitmap before this plan exists, so the per-doc
    // containment score — the unbounded-reference cross-corpus leg and
    // the frame the streaming twin re-emits per micro-batch — must stay
    // join-free and shuffle-free at any reference size
    assert(countShuffleExchanges(probe) == 0,
      "containment against a literal bitmap must not shuffle")
    assert(!executedPlan(probe).contains("Join"),
      "containment against a literal bitmap must not join")
  }

  test("mixture sampling compiles to a pure scan filter: zero exchanges") {
    val d = docs(40).withColumn("source",
      org.apache.spark.sql.functions.when(col("doc_id") % 3 === 0, "a").otherwise("b"))
    // rates resolve to literals at plan time (the bounded count collect
    // happens before the returned plan), so the kept-rows query is a
    // shuffle-free filter any scan stage absorbs
    assert(countShuffleExchanges(Sampling.temperatureMixture(d)) == 0)
  }

  test("bucketed join executes with zero shuffle exchanges") {
    val base = Scratch.dir("graft_bkt_plan_")
    val ev = spark.range(0, 1000).select(col("id").as("event_id"),
      (col("id") % 50).as("user_id"), (col("id") * 1.5).as("value"))
    val usr = ev.groupBy("user_id").agg(count(lit(1)).as("n_events"))
    graft.etl.Bucketing.writeBucketed(ev, "plan_bkt_ev", s"$base/ev", "user_id", 4, Some("user_id"))
    graft.etl.Bucketing.writeBucketed(usr, "plan_bkt_usr", s"$base/usr", "user_id", 4, Some("user_id"))
    // broadcast off: a broadcast-hash join would trivially have no
    // exchange and prove nothing about bucket co-location
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = graft.etl.Bucketing.bucketedJoin(spark, "plan_bkt_ev", "plan_bkt_usr", Seq("user_id"))
      assert(countShuffleExchanges(j) == 0,
        "same-bucketed sides must sort-merge join without any exchange")
      assert(j.count() == 1000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("dedup-index candidate join shuffles only the arriving batch") {
    // the persisted cross-corpus index (Dedup.dedupIndexWrite): the
    // reference buckets table is bucketed+sorted on the join key
    // (band, bucket), so the candidate join's ONLY exchange is the
    // arriving batch's — a 100 TB reference never re-shuffles
    val base = Scratch.dir("graft_ccidx_plan_")
    val d = docs(60)
    // built INCREMENTALLY (write-half + append-half) — the appended
    // bucket files must keep the co-located join property, since that
    // is the shape the registered gate and a growing reference produce
    val ref = d.where(col("doc_id") % 3 === 0)
    graft.pipeline.Dedup.dedupIndexWrite(
      ref.where(col("doc_id") < 30), "plan_ccidx", base, numBuckets = 4)
    graft.pipeline.Dedup.dedupIndexAppend(
      ref.where(col("doc_id") >= 30), "plan_ccidx")
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val batch = d.where(col("doc_id") % 3 =!= 0)
      val cb = graft.pipeline.Dedup.lshBuckets(
        graft.pipeline.Dedup.minhashSignatures(batch, portable = true), portable = true)
      val j = cb.toDF("a_id", "band", "bucket")
        .join(spark.table("plan_ccidx_buckets").toDF("b_id", "band", "bucket"),
          Seq("band", "bucket"))
      assert(countShuffleExchanges(j) == 1,
        "exactly one exchange — the batch side; the appended bucketed reference joins in place")
      assert(j.count() > 0, "the fixture must produce candidates")
      // the tombstone anti-join (logical forgetting) must ride the
      // bucketed reference scan WITHOUT a new exchange: the tombstone
      // set is batch-sized and broadcast, so the candidate join keeps
      // its one-exchange property with forgetting in the plan
      assert(graft.pipeline.Dedup.dedupIndexDelete(
        ref.where(col("doc_id") === 0).select("doc_id"), "plan_ccidx") == 1L)
      val tomb = spark.table("plan_ccidx_tombstones").select(col("doc_id").as("b_id"))
      val rb = spark.table("plan_ccidx_buckets").toDF("b_id", "band", "bucket")
        .join(org.apache.spark.sql.functions.broadcast(tomb), Seq("b_id"), "left_anti")
      val j2 = cb.toDF("a_id", "band", "bucket").join(rb, Seq("band", "bucket"))
      assert(countShuffleExchanges(j2) == 1,
        "the tombstone anti-join must not cost the candidate join its one-exchange property")
      assert(j2.count() > 0, "the tombstoned fixture must still produce candidates")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("bucketed registry query recovers when the catalog loses its tables") {
    // the JVM-global build-once cache stores table NAMES whose catalog
    // entries die with the session that made them; a later session must
    // re-register, not throw TABLE_OR_VIEW_NOT_FOUND. Simulated here by
    // dropping the names from the live catalog between two invocations.
    val dir = "/root/testdata/sf0.001"
    val q = graft.SparkEntry.queries("bucketed_join")
    val n1 = q(spark, dir).count()
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_bkt_")).foreach(t => spark.sql(s"DROP TABLE `$t`"))
    assert(q(spark, dir).count() == n1)
  }

  test("bucket-key aggregation reuses the write-time partitioning: zero exchanges") {
    // the same property as the join, one hop earlier: a groupBy on the
    // bucket column reads pre-hashed buckets and needs no exchange at all.
    // Stages its own table so the test runs standalone.
    val base = Scratch.dir("graft_bkt_agg_plan_")
    graft.etl.Bucketing.writeBucketed(
      spark.range(0, 1000).select((col("id") % 50).as("user_id"),
        (col("id") * 1.5).as("value")),
      "plan_bkt_agg", s"$base/ev", "user_id", 4, Some("user_id"))
    val agg = spark.table("plan_bkt_agg").groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
    assert(countShuffleExchanges(agg) == 0,
      "aggregation on the bucket key must not shuffle")
    assert(agg.count() == 50)
  }

  test("partitioned scan prunes to the selected partition directory") {
    val p = Scratch.dir("graft_part_plan_")
    val d = docs(40).withColumn("lang",
        when(col("doc_id") % 4 === 0, "en").otherwise(
          when(col("doc_id") % 4 === 1, "de").otherwise(
            when(col("doc_id") % 4 === 2, "fr").otherwise("zh"))))
      .withColumn("n_chars", length(col("text")).cast("long"))
    graft.etl.Bucketing.writePartitioned(d, p, Seq("lang"))
    val q = spark.read.parquet(p)
      .where(col("lang") === "en" && col("n_chars") >= 10)
    q.collect()
    val scans = physicalNodes(q.queryExecution.executedPlan)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans.nonEmpty, "expected a parquet file scan")
    assert(scans.head.partitionFilters.nonEmpty,
      "lang predicate must become a partition filter, not a data filter")
    assert(scans.head.selectedPartitions.partitionCount == 1,
      s"one lang directory selected, got ${scans.head.selectedPartitions.partitionCount}")
    assert(scans.head.metadata("PushedFilters").contains("n_chars"),
      "non-partition predicate must still push into the parquet reader")
  }

  test("runtime-filtered join dynamic-prunes the partitioned fact scan") {
    val p = Scratch.dir("graft_dpp_plan_")
    val d = docs(40).withColumn("lang",
        when(col("doc_id") % 4 === 0, "en").otherwise(
          when(col("doc_id") % 4 === 1, "de").otherwise(
            when(col("doc_id") % 4 === 2, "fr").otherwise("zh"))))
      .withColumn("n_chars", length(col("text")).cast("long"))
    graft.etl.Bucketing.writePartitioned(d, p, Seq("lang"))
    val facts = spark.read.parquet(p)
    // the wanted partitions exist only behind a filter on a NON-KEY dim
    // column (a plain `lang IN (…)` would be constraint-propagated into a
    // static partition filter — measured: it is — which proves pushdown,
    // not DPP). The dim must live in a file scan too: a filter over a
    // LocalRelation is folded away at optimize time and DPP sees no
    // selective predicate.
    val dimPath = Scratch.dir("graft_dpp_dim_")
    spark.createDataFrame(Seq(("en", "low"), ("de", "high"), ("fr", "high"), ("zh", "low")))
      .toDF("lang", "tier").write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).where(col("tier") === "high").select(col("lang"))
    val q = facts.join(broadcast(dim), Seq("lang"))
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
    q.collect()
    val planStr = q.queryExecution.executedPlan.toString +
      q.queryExecution.sparkPlan.toString
    assert(planStr.toLowerCase.contains("dynamicpruning"),
      "fact scan must carry a dynamicpruning subquery fed by the dim broadcast")
    // and the pruning is real: only the de/fr directories are read
    val scans = physicalNodes(q.queryExecution.executedPlan)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .filter(_.metadata("Location").contains("dpp_plan_"))
    assert(scans.nonEmpty, "expected the partitioned fact scan")
    val partsRead = scans.head.metrics("numPartitions").value
    assert(partsRead == 2, s"two lang directories after runtime pruning, got $partsRead")
  }

  test("relational pricing summary pushes the date filter and prunes columns") {
    val df = graft.queries.RelationalQueries
      .queries("relational_pricing_summary")(spark, "/root/testdata/sf0.001")
    df.collect()
    val scans = physicalNodes(df.queryExecution.executedPlan)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans.nonEmpty, "expected a parquet scan of lineitem")
    val meta = scans.head.metadata
    // a CAST(ts AS DATE) predicate would leave PushedFilters empty — the
    // direct timestamp comparison must reach the reader
    assert(meta("PushedFilters").contains("LessThanOrEqual(l_shipdate"),
      s"shipdate filter must push into parquet, got ${meta("PushedFilters")}")
    // 7 of lineitem's 11 columns feed the rollup; the scan must not read
    // the other 4
    val read = scans.head.schema.fieldNames.toSet
    assert(read == Set("l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate"),
      s"scan must read exactly the 7 needed columns, got $read")
  }

  test("two-step select pins an expensive expression BELOW the explode") {
    // `select(expensive, posexplode(v))` leaves the non-generator
    // expression in the post-Generate projection, re-evaluating it per
    // EXPLODED element — 35× measured on the 1415-centroid Lloyd pass
    // (BASELINE.md r15). Both Lloyd loops (ivfBuild, pqTrain) rely on
    // the two-step shape staying pinned under the optimizer; this test
    // guards that assumption, and documents the one-step shape's defect.
    // parquet-backed input: over a LocalRelation the optimizer's
    // ConvertToLocalRelation evaluates the lower Project at plan time and
    // the expression disappears from the physical plan entirely
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = Array.tabulate(4, 64)((j, d) => math.cos(j * 64 + d))
    val nc = graft.functions.NearestCentroid
      .nearestCentroid(transform(col("embedding"), _.cast("double")), cents)
    def genChildHasNearest(df: DataFrame): Boolean = {
      df.collect()
      // search the whole subtree UNDER the Generate (codegen wrappers sit
      // between it and the projection that carries the expression)
      physicalNodes(df.queryExecution.executedPlan)
        .collect { case g: org.apache.spark.sql.execution.GenerateExec => g }
        .exists(g => physicalNodes(g.child).exists(_.expressions.exists(_.find {
          case _: graft.functions.NearestCentroid => true; case _ => false
        }.isDefined)))
    }
    val twoStep = e.select(nc.as("cid"), col("embedding"))
      .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("cid", "pos").agg(avg("x"))
    assert(genChildHasNearest(twoStep),
      "the two-step select must evaluate NearestCentroid below the Generate (once per row)")
    val oneStep = e.select(nc.as("cid"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("cid", "pos").agg(avg("x"))
    assert(!genChildHasNearest(oneStep),
      "one-step select evaluates NearestCentroid above the Generate — if Spark " +
      "starts pinning it below, the two-step workaround in ivfBuild/pqTrain can be dropped")
  }

  // ---- the series partitioning (ta.SeriesOps.bySeries) ----

  /** An events table in the testdata layout: 8 series of 40 rows. */
  private lazy val eventsDir: String = {
    val dir = Scratch.dir("graft_plan_events_")
    spark.range(0, 320, 1, 2).select(
      col("id").as("event_id"), (col("id") % 8).as("user_id"),
      lit("click").as("event_type"), (col("id") * 0.37 % 5 + 1.0).as("value"))
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  private def nodesAfterRun(df: DataFrame) = {
    df.collect()
    physicalNodes(df.queryExecution.executedPlan)
  }
  private def hasAppendColumns(nodes: Seq[org.apache.spark.sql.execution.SparkPlan]) =
    nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.AppendColumnsExec])
  private def shuffles(nodes: Seq[org.apache.spark.sql.execution.SparkPlan]) =
    nodes.collect { case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }

  test("bars plans no exchange: a reader that never groups by series scans without a shuffle") {
    assert(countShuffleExchanges(Tables.bars(spark, eventsDir)) == 0)
  }

  test("Recursive.multi over bars plans ONE exchange: the fold's fixed series partitioning") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val kernels: Seq[(String, Array[Array[Double]] => Array[Double])] =
      Seq("ema5" -> (a => graft.ta.Kernels.ema(a(0), 5)))
    val nodes = nodesAfterRun(
      graft.ta.Recursive.multi(Tables.bars(spark, eventsDir), Seq("close"), kernels))
    val ex = shuffles(nodes)
    assert(ex.size == 1, s"the fold must plan exactly one exchange: $ex")
    assert(ex.head.shuffleOrigin == org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM,
      s"the series exchange is a fixed repartition: ${ex.head.shuffleOrigin}")
    ex.head.outputPartitioning match {
      case HashPartitioning(Seq(a: Attribute), 4) if a.name == "symbol" =>
      case other => fail(s"expected hashpartitioning(symbol, 4), got $other")
    }
    assert(!hasAppendColumns(nodes), "the fold groups on the key column, not a key lambda")
  }

  test("Frames + Patterns over bars share one window exchange") {
    implicit val w: org.apache.spark.sql.expressions.WindowSpec =
      org.apache.spark.sql.expressions.Window.partitionBy("symbol").orderBy("ord")
    val df = Tables.bars(spark, eventsDir).select(col("symbol"), col("ord"),
      graft.ta.Frames.sma(col("close"), 5).as("sma5"),
      graft.ta.Patterns.cdlengulfing.column.as("engulfing"))
    assert(countShuffleExchanges(df) == 1)
  }

  test("the vectorized and sequential backtests group on the key column: no AppendColumns") {
    val sig = Tables.bars(spark, eventsDir).select(col("symbol"), col("ord"),
      col("close").as("price"), (col("ord") % 7 === 0).as("buy_sig"),
      (col("ord") % 7 === 3).as("sell_sig"))
    val vec = nodesAfterRun(graft.bt.Vectorized.summaryVsPrice(sig))
    assert(!hasAppendColumns(vec))
    assert(shuffles(vec).size == 1, "the vectorized fold plans exactly one exchange")
    val pf = Tables.bars(spark, eventsDir)
      .select(concat(lit("P"), (col("ord") % 2).cast("string")).as("portfolio"),
        col("symbol"), col("ord"), col("close"))
    val seq = nodesAfterRun(graft.bt.Sequential.runPortfolios(pf,
      (syms, closes) => (ctx, p) => ctx.buy(syms(0), 1, closes(syms(0))(p))))
    assert(!hasAppendColumns(seq))
    assert(seq.exists(_.isInstanceOf[org.apache.spark.sql.execution.MapGroupsExec]))
  }

  test("a small series query keeps every series partition: no coalesced AQE read") {
    // AQE will not coalesce below 1 MB per partition, so an
    // ENSURE_REQUIREMENTS exchange of this frame would read as ONE
    // partition; the fixed series repartition keeps all four
    val kernels: Seq[(String, Array[Array[Double]] => Array[Double])] =
      Seq("ema5" -> (a => graft.ta.Kernels.ema(a(0), 5)))
    val df = graft.ta.Recursive.multi(Tables.bars(spark, eventsDir), Seq("close"), kernels)
    val reads = nodesAfterRun(df).collect {
      case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec => r
    }
    assert(!reads.exists(_.hasCoalescedPartition), s"coalesced series read: $reads")
    assert(df.rdd.getNumPartitions == 4)
  }
}
