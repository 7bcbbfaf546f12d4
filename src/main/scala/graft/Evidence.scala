package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Evidence harnesses: the physics of a design decision whose
  * correctness lives in a registered gate, one family per decision, each
  * leg warmed then timed. Results are recorded in BASELINE.md.
  *
  * Usage: runMain graft.Evidence gram|bucket|skew|layout [lifecycle] [n|mult]
  *
  *  - `gram [n]`: gram-fingerprint frequent spans and bigram top-k,
  *    direct vs fp, on the sf documents (SPARK_GRAFT_SF_DIR) and on an
  *    n-doc heavy-tail corpus (default 1M): wall, shuffle-write, rows.
  *  - `bucket [n]`: an n-row fact ⋈ dim join (default 20M) over plain vs
  *    bucketed parquet: wall, shuffle-write, checksum.
  *  - `skew [n]`: unsalted vs salted join on a hot key over n rows
  *    (default 20M): wall, longest task, checksum.
  *  - `layout [lifecycle] [mult]`: needle queries over time-sorted vs
  *    z-ordered copies of the ScaleBench ×mult events replica (default
  *    100): wall, scan rows, files; `lifecycle` prices appends, the
  *    manifest, maintain, forget and upsert on one layout instead.
  */
object Evidence {
  private val Usage = "usage: runMain graft.Evidence gram|bucket|skew|layout [lifecycle] [n|mult]"

  def main(args: Array[String]): Unit = {
    val family = args.headOption.getOrElse("")
    val lifecycle = args.lift(1).contains("lifecycle")
    val num = args.lift(if (lifecycle) 2 else 1)
    val conf = family match {
      case "gram" => Nil
      // the modeled dim is a few-GB table that won't broadcast
      case "bucket" | "skew" => Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1")
      // AQE re-instantiates plan fragments, so the scan node reachable
      // from queryExecution is not the instance whose metrics filled —
      // the family reads the scan's own numOutputRows/numFiles, so run
      // the (trivial scan+agg) plans non-adaptively
      case "layout" => Seq("spark.sql.adaptive.enabled" -> "false")
      case _ => throw new IllegalArgumentException(Usage)
    }
    val spark = Harness.session(conf: _*)
    val legs = new Harness.Legs(spark)
    family match {
      case "gram" => gram(spark, legs, num.fold(1_000_000L)(_.toLong))
      case "bucket" => bucket(spark, legs, num.fold(20_000_000L)(_.toLong))
      case "skew" => skew(spark, legs, num.fold(20_000_000L)(_.toLong))
      case "layout" => layout(spark, num.fold(100)(_.toInt), lifecycle)
    }
    legs.close()
    spark.stop()
  }

  /** Gram-fingerprint restructures (round 11): the SAME frequent-span /
    * bigram-top-k query computed the direct way (gram strings ride the
    * corpus-wide shuffle) vs the fp way (8-byte fingerprints ride the
    * shuffle; strings recovered only for survivors).
    *
    * The shuffle-bytes number is the one that predicts 100× behavior: at
    * corpus scale most k-grams are singletons, so the direct formulation
    * shuffles ~k× the text volume mostly to count tail grams to 1 and
    * throw them away, while the fp formulation's wide exchange stays at 8
    * bytes per span. */
  private def gram(spark: SparkSession, legs: Harness.Legs, nDocs: Long): Unit = {
    val docs = Tables.documents(spark, Harness.sfDir)

    def run(what: String)(df: => DataFrame): Unit = {
      df.count() // warm-up (tables, JVM, and any driver-side plan collect)
      val leg = legs(s"[gram] $what FAILED")(df.count())
      leg.value.foreach(n => println(
        f"[gram] $what%-28s wall ${leg.wall}%6.2f s   shuffle-write ${leg.shuffleMb}%8.2f MB   rows $n%d"))
    }

    run("sf frequent_spans direct") {
      pipeline.Dedup.frequentSpans(docs, minDocs = 2, fpPrefilter = false)
        .orderBy(col("n_docs").desc, col("gram")).limit(50)
    }
    run("sf frequent_spans fp") {
      pipeline.Dedup.frequentSpans(docs, minDocs = 2)
        .orderBy(col("n_docs").desc, col("gram")).limit(50)
    }
    run("sf bigram_top100 direct") {
      pipeline.Vocab.ngramTopK(docs, n = 2, k = 100, exactDocFreq = true)
    }
    run("sf bigram_top100 fp") {
      pipeline.Vocab.ngramTopKFp(docs, n = 2, k = 100)
    }

    // ---- heavy-tail corpus: the regime the fp design targets ----
    // The sf documents table has a small repeated vocabulary, so map-side
    // partials collapse the direct path's string shuffle before it ever
    // gets wide — representative of template-heavy corpora, not of web
    // text. Real corpora are Zipfian: a small head of common words rides
    // on a long tail of near-unique ones, so the top-k n-grams have high
    // counts while MOST gram instances are singletons that CANNOT be
    // collapsed map-side — every one crosses the wire. This synthetic
    // corpus pins that regime: `nDocs` docs × 40 words, ~30% drawn
    // Zipf-ish from a 1000-word head and the rest unique, 5% of docs
    // carrying a shared boilerplate sentence.
    val tailDocs = spark.range(nDocs).select(
      col("id").as("doc_id"),
      concat(
        concat_ws(" ", (0 until 40).map { i =>
          val h = (col("id") * 40 + i) * 2654435761L % 99999989L
          val u = (h / 10 % 100000L).cast("double") / 100000.0
          when(h % 10 < 3,
            concat(lit("c"), floor(pow(u, 3.0) * 1000).cast("long").cast("string")))
            .otherwise(concat(lit("w"), h.cast("string")))
        }: _*),
        when(col("id") % 20 === 0,
          lit(" terms of service apply to all content on this site"))
          .otherwise(lit(""))).as("text"))

    run("tail frequent_spans direct") {
      pipeline.Dedup.frequentSpans(tailDocs, minDocs = 2, fpPrefilter = false)
        .orderBy(col("n_docs").desc, col("gram")).limit(50)
    }
    run("tail frequent_spans fp") {
      pipeline.Dedup.frequentSpans(tailDocs, minDocs = 2)
        .orderBy(col("n_docs").desc, col("gram")).limit(50)
    }
    run("tail bigram_top100 direct") {
      pipeline.Vocab.ngramTopK(tailDocs, n = 2, k = 100, exactDocFreq = true)
    }
    run("tail bigram_top100 fp") {
      pipeline.Vocab.ngramTopKFp(tailDocs, n = 2, k = 100)
    }
  }

  /** Bucketing (round 10): the same fact⋈dim join executed over plain
    * parquet (both sides hash-exchange at query time) vs bucketed tables
    * (co-located scan, zero exchange).
    *
    * The shuffle-bytes number is the one that matters at 100 TB: the plain
    * join re-shuffles the full fact table on EVERY query that joins on the
    * key, while the bucketed layout paid one exchange at write time and
    * then reads co-located buckets forever. */
  private def bucket(spark: SparkSession, legs: Harness.Legs, n: Long): Unit = {
    val users = 100_000L
    val base = Scratch.dir("graft_bktbench_")
    val fact = spark.range(n).select(col("id").as("event_id"),
      (col("id") % users).as("user_id"), (col("id") % 997).cast("double").as("value"))
    val dim = spark.range(users).select(col("id").as("user_id"),
      (col("id") * 3).as("dimv"))

    // plain layout: parquet with no bucket metadata
    fact.write.mode("overwrite").parquet(s"$base/fact_plain")
    dim.write.mode("overwrite").parquet(s"$base/dim_plain")
    // bucketed layout: one write-side exchange, then co-located forever
    etl.Bucketing.writeBucketed(fact, "bb_fact", s"$base/fact_bkt", "user_id", 32, Some("user_id"))
    etl.Bucketing.writeBucketed(dim, "bb_dim", s"$base/dim_bkt", "user_id", 32, Some("user_id"))

    def run(what: String)(df: => DataFrame): Unit = {
      df.select(sum(col("value") + col("dimv"))).collect() // warm-up
      val leg = legs(s"[bucket] $what FAILED")(
        df.select(sum(col("value") + col("dimv"))).collect()(0).getDouble(0))
      leg.value.foreach(s => println(
        f"[bucket] $what%-24s wall ${leg.wall}%6.2f s   shuffle-write ${leg.shuffleMb}%8.2f MB   checksum $s%.3f"))
    }

    run("plain parquet join") {
      spark.read.parquet(s"$base/fact_plain")
        .join(spark.read.parquet(s"$base/dim_plain"), Seq("user_id"))
    }
    run("bucketed join") {
      etl.Bucketing.bucketedJoin(spark, "bb_fact", "bb_dim", Seq("user_id"))
    }
  }

  /** SkewJoin (round 8): unsalted vs salted shuffle join on a hot key,
    * measuring the straggler (max task duration).
    *
    * The modeled regime is the one AQE does NOT fix: broadcast is off and
    * the hot partition sits under AQE's 256 MB
    * `skewedPartitionThresholdInBytes`, so the skew-join split never
    * triggers — yet one reducer still owns 60% of the probe side and
    * paces the stage. Salting spreads that key over `saltBuckets`
    * reducers at the cost of replicating the dim. AQE stays ON (defaults)
    * — the point is salting wins where AQE's byte-threshold heuristic is
    * blind, not fighting the optimizer. */
  private def skew(spark: SparkSession, legs: Harness.Legs, n: Long): Unit = {
    // 60% of the big side on key 0, the rest uniform over 999 other keys
    def big = spark.range(n).select(
      when(col("id") % 10 < 6, 0L).otherwise(col("id") % 1000).as("key"),
      col("id").as("payload"))
    def small = spark.range(1000).select(col("id").as("key"),
      (col("id") * 3).as("dimv"))

    def run(what: String)(df: => DataFrame): Unit = {
      // warm-up pass absorbs codegen/scheduler one-time cost, then measure
      df.select(sum(col("payload") + col("dimv"))).collect()
      val leg = legs(s"[skew] $what FAILED")(
        df.select(sum(col("payload") + col("dimv"))).collect()(0).getLong(0))
      leg.value.foreach(s => println(
        f"[skew] $what%-28s wall ${leg.wall}%6.2f s   max-task ${leg.maxTaskS}%6.2f s   checksum $s"))
    }

    run("unsalted join")(big.join(small, Seq("key")))
    run("salted join (16 buckets)")(
      etl.SkewJoin.saltedJoin(big, small, Seq("key"), saltBuckets = 16,
        saltOn = Some(col("payload"))))
    run("salted join (32 buckets)")(
      etl.SkewJoin.saltedJoin(big, small, Seq("key"), saltBuckets = 32,
        saltOn = Some(col("payload"))))
  }

  /** Z-order layout (round 15; correctness lives in the registered
    * `zorder_prune` gate). Writes the SAME events replica twice —
    * time-sorted (the natural single-dimension layout every ingestion
    * pipeline produces) and z-ordered on (user_id, ts) — plus a 3-dim
    * z-order, and runs the canonical needle query "one user, one time
    * slice" and its neighbours over each, reporting wall and the rows
    * the scan materialized: the number that predicts 100 TB scan cost.
    * Layouts are written once beside the replica, marker-gated. */
  private def layout(spark: SparkSession, mult: Int, lifecycle: Boolean): Unit = {
    val out = ScaleBench.replica(spark, Harness.sfDir, mult)
    val events = Tables.eventsNs(spark, out)
    if (lifecycle) { layoutLifecycle(spark, out, events, mult); return }

    val tsPath = s"$out/events_ts_sorted.parquet"
    val zPath = s"$out/events_zorder.parquet"
    val z3Path = s"$out/events_zorder3.parquet"
    Harness.once(s"$out/_DONE_LAYOUT_v1") {
      println(s"[layout x$mult] writing ts-sorted and z-ordered layouts ...")
      events.repartitionByRange(col("ts")).sortWithinPartitions("ts")
        .write.mode("overwrite").parquet(tsPath)
      etl.Layout.zOrderWrite(events, Seq("user_id", "ts"), zPath)
    }
    // the 3-dim layout: (user, TYPE, time) with the type dimension a
    // STRING through zStats' dictionary front — each dimension keeps
    // ~bits/3 of locality, the selectivity split across one more axis
    Harness.once(s"$out/_DONE_LAYOUT3_v1") {
      println(s"[layout x$mult] writing 3-dim (user, type, ts) z-ordered layout ...")
      etl.Layout.zOrderWrite(events, Seq("user_id", "event_type", "ts"), z3Path)
    }

    // three query shapes — the honest trade, not a cherry-pick: a
    // single-dim time sort wins the pure time slice (perfect locality
    // on its one dimension), CANNOT skip for a user lookup (every row
    // group spans every user), and the z-order serves both from one
    // layout (each dimension keeps ~half its bits' worth of locality)
    val (t1, t2) = needleSlice(events)
    val uid = { val ids = userIds(events); ids(ids.length / 2) } // 700 of sf0.1's 1,500
    val shapes = Seq(
      "user_only" -> (col("user_id") === uid),
      "time_slice" -> col("ts").between(t1, t2),
      "user+slice" -> (col("user_id") === uid && col("ts").between(t1, t2)),
      "type_only" -> (col("event_type") === "error"),
      "u+type+sl" -> (col("user_id") === uid && col("event_type") === "error"
        && col("ts").between(t1, t2)))

    Seq("ts_sorted" -> tsPath, "zorder" -> zPath, "zorder3" -> z3Path)
      .foreach { case (name, p) =>
      val df = spark.read.parquet(p)
      df.limit(1).collect() // footer/reader warmup outside the timed run
      shapes.foreach { case (shape, pred) =>
        (1 to 2).foreach { run =>
          val q = df.where(pred).agg(count(lit(1)).as("n"), sum("value").as("sv"))
          println(f"[layout x$mult] $name%-10s $shape%-11s run$run ${needleRun(q)}")
        }
      }
    }
  }

  private def userIds(events: DataFrame): Array[Long] =
    events.select("user_id").distinct().orderBy("user_id").collect().map(_.getLong(0))

  /** The needle's time slice: 40–45% of the events' ts range. */
  private def needleSlice(events: DataFrame): (Long, Long) = {
    val b = events.agg(min("ts"), max("ts")).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    (lo + ((hi - lo) * 0.40).toLong, lo + ((hi - lo) * 0.45).toLong)
  }

  /** One run of needle count `q`: its wall, the scan nodes' own SQL
    * metrics — rows MATERIALIZED by the parquet reader (what survives
    * row-group and page pruning, i.e. the IO a layout saves) and files
    * read — and the rows it counted. (Task
    * inputMetrics.bytesRead is blind here: the local-fs vectorized
    * reader bypasses the metered stream — measured 0.19 MB for a 90 MB
    * full scan — so it cannot see skipping at all.) */
  private def needleRun(q: DataFrame): String = {
    val (r, wall) = Harness.clock(q.collect())
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    val ss = scans(q.queryExecution.executedPlan)
    def sum(m: String) = ss.map(_.metrics(m).value).sum
    f"wall $wall%6.3f s   scan-rows ${sum("numOutputRows")}%9d   files ${sum("numFiles")}%4d   rows ${r(0).getLong(0)}"
  }

  /** Layout LIFECYCLE physics: what appends cost the reader, what
    * maintain buys back, and what the file manifest prunes — the decade
    * evidence for zOrderMaintain / manifestUpdate / prunedFiles, then
    * forget, tombstone fold and upsert. Fresh dir per run (the pass
    * mutates the layout; marker-gating would poison reruns). */
  private def layoutLifecycle(spark: SparkSession, out: String, events: DataFrame,
                              mult: Int): Unit = {
    import graft.etl.Layout
    val lp = s"$out/events_zorder_lifecycle.parquet"
    val fs = new org.apache.hadoop.fs.Path(lp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(lp), true)
    val zc = Seq("user_id", "ts")
    // the replica's own users, increment users (pmod(user_id, 20) < 6)
    // first: 0 is the needle, 0-2 are forgotten, 3-5 tombstoned, 6 and 7
    // upserted (from the snapshot where a replica has < 8 increment users)
    val roles = userIds(events).sortBy(u => Math.floorMod(u, 20L) >= 6)
    require(roles.length >= 8, s"layout lifecycle needs 8 users, the replica has ${roles.length}")
    val needleUser = roles(0)
    // 70% snapshot + six 5% increments — the daily-OPTIMIZE shape
    val snap = events.where(pmod(col("user_id"), lit(20)) >= 6)
    val st = Layout.zStats(snap, zc)
    Layout.zOrderWrite(snap, zc, lp, stats = Some(st))
    Layout.saveZStats(spark, lp, zc, st)
    val (_, wRefresh) = Harness.clock(Layout.manifestRefresh(spark, lp, zc))
    def live() = fs.listStatus(new org.apache.hadoop.fs.Path(lp))
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_")
        && !s.getPath.getName.startsWith("."))
    val residentMin = live().map(_.getLen).min
    for (r <- 0 until 6)
      Layout.zOrderAppend(events.where(pmod(col("user_id"), lit(20)) === r),
        zc, lp, st)
    val (_, wUpdate) = Harness.clock(Layout.manifestUpdate(spark, lp, zc))
    val filesGrown = live().length
    val (t1, t2) = needleSlice(events)
    val needleBox = Seq(Layout.Bound("user_id", needleUser, needleUser), Layout.Bound("ts", t1, t2))
    def needle(df: DataFrame, label: String): Unit = {
      df.limit(1).collect()
      println(f"[lifecycle x$mult] needle/$label%-9s " + needleRun(df.where(
        col("user_id") === needleUser && col("ts").between(t1, t2)).agg(count(lit(1)).as("n"))))
    }
    needle(spark.read.parquet(lp), "grown")
    // manifest pruning on the grown layout: the needle box's file list
    val (pruned, wPrune) = Harness.clock(Layout.prunedFiles(spark, lp, needleBox))
    println(f"[lifecycle x$mult] manifest: refresh $wRefresh%6.2f s   update-after-appends $wUpdate%6.2f s   prune lookup $wPrune%5.3f s   files kept ${pruned.length}%4d / $filesGrown")
    needle(Layout.readPruned(spark, lp, needleBox), "pruned")
    // maintain: compact everything smaller than the snapshot's files
    val (compacted, wMaintain) = Harness.clock(Layout.zOrderMaintain(spark, lp, zc, st,
      smallFileBytes = residentMin))
    println(f"[lifecycle x$mult] maintain: compacted $compacted%4d files -> ${live().length}%4d live   wall $wMaintain%6.2f s (manifest included)")
    needle(spark.read.parquet(lp), "maintained")
    // the honest comparator: what a FULL re-cluster of the table costs
    val fullPath = s"$out/events_zorder_full_rw.parquet"
    val (_, wFull) = Harness.clock(
      Layout.zOrderWrite(spark.read.parquet(lp), zc, fullPath, stats = Some(st)))
    println(f"[lifecycle x$mult] full rewrite comparator: $wFull%6.2f s")
    fs.delete(new org.apache.hadoop.fs.Path(fullPath), true)
    // right-to-be-forgotten on the maintained layout: the manifest
    // names the files whose [min,max] can hold the batch; only they
    // rewrite — measure the affected fraction and the wall against
    // the full-rewrite comparator above
    val ((dropped, rewritten), wDel) = Harness.clock(Layout.zOrderDelete(spark, lp, zc, st,
      "user_id", roles.slice(0, 3).toSeq))
    println(f"[lifecycle x$mult] forget: dropped $dropped%d rows, rewrote $rewritten%d/${live().length}%d files   wall $wDel%6.2f s (manifest included)")
    needle(spark.read.parquet(lp), "forgotten")
    // ---- Θ(batch) LOGICAL forgetting (zOrderForget): the same
    // per-user takedown shape, but the batch lands in the _tombstones
    // sidecar and reads mask it — nothing table-proportional moves at
    // forget time; the next maintain folds the rows out physically.
    // The three walls to compare: physical delete above, the logical
    // forget here, and the fold (amortized into maintenance).
    val (masked, wFgt) = Harness.clock(Layout.zOrderForget(spark, lp, "user_id",
      roles.slice(3, 6).toSeq))
    println(f"[lifecycle x$mult] forget-tomb: masked $masked%d rows   wall $wFgt%6.2f s   (vs physical $wDel%6.2f s)")
    needle(Layout.readLayout(spark, lp), "fgt-mask")
    val (folded, wFold) = Harness.clock(Layout.zOrderMaintain(spark, lp, zc, st,
      smallFileBytes = 1, targetFileBytes = residentMin.max(2L)))
    println(f"[lifecycle x$mult] forget-fold: rewrote $folded%d files   wall $wFold%6.2f s   tombstones cleared")
    needle(spark.read.parquet(lp), "fgt-folded")
    // ---- MERGE (zOrderUpsert): one user's history re-scored in ONE
    // commit, vs the delete-then-append two-pass. Both batches stage to
    // a scratch parquet first so their lineage never reads files the
    // mutation is about to rename away.
    def staged(user: Long, path: String): DataFrame = {
      spark.read.parquet(lp).where(col("user_id") === user)
        .withColumn("value", col("value") * 1.01)
        .write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }
    val scratch = s"$out/upsert_batch.parquet"
    val batch1 = staged(roles(6), scratch)
    val ((sup, wrote, rw), wUps) = Harness.clock(Layout.zOrderUpsert(spark, lp, zc, st,
      "user_id", batch1))
    println(f"[lifecycle x$mult] upsert: superseded $sup%d rows, wrote $wrote%d, rewrote $rw%d files   wall $wUps%6.2f s")
    val scratch2 = s"$out/upsert_batch2.parquet"
    val batch2 = staged(roles(7), scratch2)
    val (_, wDelApp) = Harness.clock {
      Layout.zOrderDelete(spark, lp, zc, st, "user_id", Seq(roles(7)))
      Layout.zOrderAppend(batch2, zc, lp, st)
      Layout.manifestUpdate(spark, lp, zc)
    }
    println(f"[lifecycle x$mult] upsert comparator (delete-then-append): wall $wDelApp%6.2f s   (two commits + reconcile)")
    fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
    fs.delete(new org.apache.hadoop.fs.Path(scratch2), true)
  }
}
