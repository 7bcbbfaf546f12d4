package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order layout evidence (the SkewBench/BucketBench convention:
  * correctness lives in the registered `zorder_prune` gate, the physics
  * lives here). Writes the SAME events replica twice — time-sorted (the
  * natural single-dimension layout every ingestion pipeline produces)
  * and z-ordered on (user_id, ts) — and runs the canonical needle query
  * "one user, one time slice" over both, reporting wall and BYTES READ
  * (task input metrics): the number that predicts 100 TB scan cost.
  * Layouts are written once beside the replica, marker-gated like the
  * ScaleBench derived tables.
  *
  * Usage: runMain graft.LayoutBench [mult] — uses the ScaleBench replica
  * at /tmp/graft_scale_x<mult> (generated if absent).
  */
object LayoutBench {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(100)
    val lifecycle = args.length > 1 && args(1) == "lifecycle"
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = s"/tmp/graft_scale_x$mult"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // AQE re-instantiates plan fragments, so the scan node reachable
      // from queryExecution is not the instance whose metrics filled —
      // the bench reads the scan's own numOutputRows/numFiles, so run
      // the (trivial scan+agg) plans non-adaptively
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val doneFile = java.nio.file.Paths.get(s"$out/_DONE")
    if (!java.nio.file.Files.exists(doneFile)) ScaleBench.generate(spark, base, out, mult)

    // skipping metric: the SCAN node's own SQL metrics after execution —
    // rows MATERIALIZED by the parquet reader (what survives row-group
    // and page pruning, i.e. the IO a layout saves) and files read.
    // (Task inputMetrics.bytesRead is blind here: the local-fs vectorized
    // reader bypasses the metered stream — measured 0.19 MB for a 90 MB
    // full scan — so it cannot see skipping at all.)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    def scanMetrics(df: DataFrame): (Long, Long) = {
      val ss = scans(df.queryExecution.executedPlan)
      (ss.map(_.metrics("numOutputRows").value).sum,
        ss.map(_.metrics("numFiles").value).sum)
    }

    val events = Tables.eventsNs(spark, out)

    // ---- layout LIFECYCLE physics (runMain graft.LayoutBench <mult>
    // lifecycle): what appends cost the reader, what maintain buys back,
    // and what the file manifest prunes — the decade evidence for
    // zOrderMaintain / manifestUpdate / prunedFiles. Fresh dir per run
    // (the pass mutates the layout; marker-gating would poison reruns).
    if (lifecycle) {
      import graft.etl.Layout
      val lp = s"$out/events_zorder_lifecycle.parquet"
      val fs = new org.apache.hadoop.fs.Path(lp)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(lp), true)
      val zc = Seq("user_id", "ts")
      // 70% snapshot + six 5% increments — the daily-OPTIMIZE shape
      val snap = events.where(pmod(col("user_id"), lit(20)) >= 6)
      val st = Layout.zStats(snap, zc)
      Layout.zOrderWrite(snap, zc, lp, stats = Some(st))
      Layout.saveZStats(spark, lp, zc, st)
      var t0 = System.nanoTime()
      Layout.manifestRefresh(spark, lp, zc)
      val wRefresh = (System.nanoTime() - t0) / 1e9
      def live() = fs.listStatus(new org.apache.hadoop.fs.Path(lp))
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_")
          && !s.getPath.getName.startsWith("."))
      val residentMin = live().map(_.getLen).min
      for (r <- 0 until 6)
        Layout.zOrderAppend(events.where(pmod(col("user_id"), lit(20)) === r),
          zc, lp, st)
      t0 = System.nanoTime()
      Layout.manifestUpdate(spark, lp, zc)
      val wUpdate = (System.nanoTime() - t0) / 1e9
      val filesGrown = live().length
      val b = events.agg(min("ts"), max("ts")).head()
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      val needlePred = col("user_id") === 700L &&
        col("ts").between(lo + ((hi - lo) * 0.40).toLong, lo + ((hi - lo) * 0.45).toLong)
      def needle(df: DataFrame, label: String): Unit = {
        df.limit(1).collect()
        val q = df.where(needlePred).agg(count(lit(1)).as("n"))
        val t = System.nanoTime(); q.collect()
        val wall = (System.nanoTime() - t) / 1e9
        val (rows, files) = scanMetrics(q)
        println(f"[lifecycle x$mult] needle/$label%-9s wall $wall%6.3f s   scan-rows $rows%9d   files $files%4d")
      }
      needle(spark.read.parquet(lp), "grown")
      // manifest pruning on the grown layout: the needle box's file list
      t0 = System.nanoTime()
      val pruned = Layout.prunedFiles(spark, lp,
        Seq(Layout.Bound("user_id", 700L, 700L),
          Layout.Bound("ts", lo + ((hi - lo) * 0.40).toLong,
            lo + ((hi - lo) * 0.45).toLong)))
      val wPrune = (System.nanoTime() - t0) / 1e9
      println(f"[lifecycle x$mult] manifest: refresh $wRefresh%6.2f s   update-after-appends $wUpdate%6.2f s   prune lookup $wPrune%5.3f s   files kept ${pruned.length}%4d / $filesGrown")
      needle(Layout.readPruned(spark, lp,
        Seq(Layout.Bound("user_id", 700L, 700L),
          Layout.Bound("ts", lo + ((hi - lo) * 0.40).toLong,
            lo + ((hi - lo) * 0.45).toLong))), "pruned")
      // maintain: compact everything smaller than the snapshot's files
      t0 = System.nanoTime()
      val compacted = Layout.zOrderMaintain(spark, lp, zc, st,
        smallFileBytes = residentMin)
      val wMaintain = (System.nanoTime() - t0) / 1e9
      println(f"[lifecycle x$mult] maintain: compacted $compacted%4d files -> ${live().length}%4d live   wall $wMaintain%6.2f s (manifest included)")
      needle(spark.read.parquet(lp), "maintained")
      // the honest comparator: what a FULL re-cluster of the table costs
      val fullPath = s"$out/events_zorder_full_rw.parquet"
      t0 = System.nanoTime()
      Layout.zOrderWrite(spark.read.parquet(lp), zc, fullPath, stats = Some(st))
      println(f"[lifecycle x$mult] full rewrite comparator: ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      fs.delete(new org.apache.hadoop.fs.Path(fullPath), true)
      // right-to-be-forgotten on the maintained layout: the manifest
      // names the files whose [min,max] can hold the batch; only they
      // rewrite — measure the affected fraction and the wall against
      // the full-rewrite comparator above
      t0 = System.nanoTime()
      val (dropped, rewritten) = Layout.zOrderDelete(spark, lp, zc, st,
        "user_id", Seq(700L, 701L, 702L))
      val wDel = (System.nanoTime() - t0) / 1e9
      println(f"[lifecycle x$mult] forget: dropped $dropped%d rows, rewrote $rewritten%d/${live().length}%d files   wall $wDel%6.2f s (manifest included)")
      needle(spark.read.parquet(lp), "forgotten")
      // ---- Θ(batch) LOGICAL forgetting (zOrderForget): the same
      // per-user takedown shape, but the batch lands in the _tombstones
      // sidecar and reads mask it — nothing table-proportional moves at
      // forget time; the next maintain folds the rows out physically.
      // The three walls to compare: physical delete above, the logical
      // forget here, and the fold (amortized into maintenance).
      t0 = System.nanoTime()
      val masked = Layout.zOrderForget(spark, lp, "user_id",
        Seq(703L, 704L, 705L))
      val wFgt = (System.nanoTime() - t0) / 1e9
      println(f"[lifecycle x$mult] forget-tomb: masked $masked%d rows   wall $wFgt%6.2f s   (vs physical $wDel%6.2f s)")
      needle(Layout.readLayout(spark, lp), "fgt-mask")
      t0 = System.nanoTime()
      val folded = Layout.zOrderMaintain(spark, lp, zc, st,
        smallFileBytes = 1, targetFileBytes = residentMin.max(2L))
      val wFold = (System.nanoTime() - t0) / 1e9
      println(f"[lifecycle x$mult] forget-fold: rewrote $folded%d files   wall $wFold%6.2f s   tombstones cleared")
      needle(spark.read.parquet(lp), "fgt-folded")
      // ---- MERGE (zOrderUpsert): one user's history re-scored in ONE
      // commit, vs the delete-then-append two-pass. Both
      // batches stage to a scratch parquet first so their lineage never
      // reads files the mutation is about to rename away.
      val scratch = s"$out/upsert_batch.parquet"
      spark.read.parquet(lp).where(col("user_id") === 720L)
        .withColumn("value", col("value") * 1.01)
        .write.mode("overwrite").parquet(scratch)
      val batch1 = spark.read.parquet(scratch)
      t0 = System.nanoTime()
      val (sup, wrote, rw) = Layout.zOrderUpsert(spark, lp, zc, st,
        "user_id", batch1)
      val wUps = (System.nanoTime() - t0) / 1e9
      println(f"[lifecycle x$mult] upsert: superseded $sup%d rows, wrote $wrote%d, rewrote $rw%d files   wall $wUps%6.2f s")
      val scratch2 = s"$out/upsert_batch2.parquet"
      spark.read.parquet(lp).where(col("user_id") === 721L)
        .withColumn("value", col("value") * 1.01)
        .write.mode("overwrite").parquet(scratch2)
      val batch2 = spark.read.parquet(scratch2)
      t0 = System.nanoTime()
      Layout.zOrderDelete(spark, lp, zc, st, "user_id", Seq(721L))
      Layout.zOrderAppend(batch2, zc, lp, st)
      Layout.manifestUpdate(spark, lp, zc)
      val wDelApp = (System.nanoTime() - t0) / 1e9
      println(f"[lifecycle x$mult] upsert comparator (delete-then-append): wall $wDelApp%6.2f s   (two commits + reconcile)")
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      fs.delete(new org.apache.hadoop.fs.Path(scratch2), true)
      spark.stop(); return
    }

    val tsPath = s"$out/events_ts_sorted.parquet"
    val zPath = s"$out/events_zorder.parquet"
    val z3Path = s"$out/events_zorder3.parquet"
    locally {
      val m = java.nio.file.Paths.get(s"$out/_DONE_LAYOUT_v1")
      if (!java.nio.file.Files.exists(m)) {
        println(s"[layout x$mult] writing ts-sorted and z-ordered layouts ...")
        events.repartitionByRange(col("ts")).sortWithinPartitions("ts")
          .write.mode("overwrite").parquet(tsPath)
        graft.etl.Layout.zOrderWrite(events, Seq("user_id", "ts"), zPath)
        java.nio.file.Files.createFile(m)
      }
      // the 3-dim layout: (user, TYPE, time) with the type dimension a
      // STRING through zStats' dictionary front — each dimension keeps
      // ~bits/3 of locality, the selectivity split across one more axis
      val m3 = java.nio.file.Paths.get(s"$out/_DONE_LAYOUT3_v1")
      if (!java.nio.file.Files.exists(m3)) {
        println(s"[layout x$mult] writing 3-dim (user, type, ts) z-ordered layout ...")
        graft.etl.Layout.zOrderWrite(events, Seq("user_id", "event_type", "ts"), z3Path)
        java.nio.file.Files.createFile(m3)
      }
    }

    // three query shapes — the honest trade, not a cherry-pick: a
    // single-dim time sort wins the pure time slice (perfect locality
    // on its one dimension), CANNOT skip for a user lookup (every row
    // group spans every user), and the z-order serves both from one
    // layout (each dimension keeps ~half its bits' worth of locality)
    val b = events.agg(min("ts"), max("ts")).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val t1 = lo + ((hi - lo) * 0.40).toLong
    val t2 = lo + ((hi - lo) * 0.45).toLong
    val uid = 700L
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
          val t0 = System.nanoTime()
          val r = q.collect()
          val wall = (System.nanoTime() - t0) / 1e9
          val (scanRows, files) = scanMetrics(q)
          println(f"[layout x$mult] $name%-10s $shape%-11s run$run wall ${wall}%6.3f s   scan-rows ${scanRows}%9d   files $files%3d   rows ${r(0).getLong(0)}")
        }
      }
    }
    spark.stop()
  }
}
