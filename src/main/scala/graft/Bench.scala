package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional args: query names to run (repeats allowed) for isolated
    // timing; no args = the full driver-contract sweep
    val toRun: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      if (args.nonEmpty) args.toSeq.map(n => n -> SparkEntry.queries(n))
      // name order, so per-query timings are comparable across rounds (and
      // ann_ivf_top5 deterministically pays the one-time index build its
      // _probe twin then amortizes)
      else SparkEntry.queries.toSeq.sortBy(_._1)
    // absorb JVM/classloader/scheduler/parquet-reader warmup before the
    // timed loop — otherwise the alphabetically-first query of each table
    // is billed one-time open/footer cost that has nothing to do with its
    // plan; warm all three source tables
    spark.range(1000).selectExpr("sum(id)").collect()
    Tables.bars(spark, sfDir).limit(1).collect()
    Tables.documents(spark, sfDir).limit(1).collect()
    Tables.embeddings(spark, sfDir).limit(1).collect()
    // ... and the two execution machineries every TA query rides — window
    // exec and the overSeries flatMapGroups scaffolding — on a 64-row
    // synthetic frame. The first window plan and the first typed-groups
    // plan of a JVM each pay Catalyst/Janino classloading that has nothing
    // to do with whichever alphabetically-first query would absorb it.
    locally {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.{avg, col}
      val wdf = spark.range(0, 64).selectExpr("CAST(id % 2 AS STRING) AS symbol",
        "id AS ord", "CAST(id AS DOUBLE) AS close")
      wdf.select(avg(col("close")).over(
        Window.partitionBy("symbol").orderBy("ord").rowsBetween(-4, 0))).count()
      ta.SeriesOps.overSeries(wdf, Seq("close"), Seq("o"))(a => Array(a(0))).count()
      // ... and the noop sink plus both presentation-sort forms
      // (queries.Present): the single-partition sort most registrations
      // ride, and the global-sort range sampler over a localCheckpoint
      // that the remove_frequent_spans barrier rides. The
      // alphabetically-first query of each form was otherwise billed
      // their one-time datasource/classload costs
      wdf.repartition(1).sortWithinPartitions("symbol", "ord")
        .write.format("noop").mode("overwrite").save()
      wdf.localCheckpoint(eager = false).orderBy("ord")
        .write.format("noop").mode("overwrite").save()
    }
    // a query that THROWS must be loudly visible, not silently timed as
    // "fast": the roc family was broken at sf0.1 for rounds (ANSI
    // divide-by-zero on the six zero closes sf0.01 never sees) while the
    // swallowed exception kept the bench green
    // per-query shuffle-write bytes from task metrics: the metric that
    // predicts 100× behavior better than wall (BASELINE.md round 11's
    // scale audit). Captured OUTSIDE the timed region — the counter is
    // read after the wall clock stops, so the drain's listener-bus wait
    // never inflates a query's recorded seconds (only sweep wall).
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0)
    // a named listener instance: removed on exit so a second main() call
    // in the same JVM can't double-count every task
    val shuffleListener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          shuffleBytes.addAndGet(te.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    spark.sparkContext.addSparkListener(shuffleListener)
    // drain until the listener bus is CONFIRMED quiet (4 stable reads),
    // with a cap generous enough that late TaskEnd events from query N
    // can't leak into query N+1's counter under post-sweep bus lag — the
    // 2 s cap this replaces was measurably crossable right after the
    // align family's multi-GB shuffles
    def drained(): Long = {
      var last = -1L; var stable = 0; var waited = 0
      while (stable < 4 && waited < 10000) {
        Thread.sleep(25); waited += 25
        val cur = shuffleBytes.get()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
      shuffleBytes.get()
    }
    val shuffleMb = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    val timings = toRun.map { case (name, fn) =>
      drained(); shuffleBytes.set(0)
      val t0 = System.nanoTime()
      // noop sink, NOT .count(): count() lets Catalyst prune every column
      // a projection computes — a pure-projection query was timed as its
      // SCAN (repetition_stats measured 0.29 s counted vs 9.6 s actually
      // computed, round 7). The noop write materializes every output
      // column, which is what a real consumer pays. r2–r6 walls were
      // recorded under count() semantics — NOT comparable to r7+.
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          failed += name
          // e.toString, not getMessage: a null/empty message (bare NPE)
          // must not crash the code whose job is making failures visible
          System.err.println(s"[bench] FAILED $name: ${e.toString.linesIterator.next()}")
          false
        }
      // a failed query reports -1 and is excluded from the total: its
      // partial time-to-throw would otherwise deflate the wall number
      // cross-round comparisons use
      val wall = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      // free this query's presentation-barrier blocks (r19): the output
      // is materialized, nothing scans the barrier frame again, and
      // leaving ~270 checkpointed outputs pinned for the sweep makes
      // storage compete with execution memory (guide §5 "unpersist when
      // done" — the r18 sweeps' in-sweep inflation class). OUTSIDE the
      // timed region, like the shuffle drain: per-query timing
      // methodology is unchanged.
      graft.queries.Present.releaseBarriers()
      shuffleMb(name) = math.rint(drained() / 1e6 * 100) / 100
      name -> wall
    }
    if (args.nonEmpty) timings.foreach { case (n, t) =>
      System.err.println(f"[bench] $n%s $t%.3f s  shuffle ${shuffleMb(n)}%.2f MB") }
    val results = timings.toMap
    // millisecond precision: sub-ms digits are pure noise and the shorter
    // line helps the whole map survive the driver's stdout capture
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    def qJson(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => s"\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val total = r3(results.values.filter(_ >= 0.0).sum)
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // STDOUT gets a COMPACT line: the driver's stdout capture keeps only
    // a ~2 KB tail, and r9's full 204-query line blew past it — the
    // captured fragment lost its opening brace and the driver recorded
    // parsed:null, i.e. NO bench number for the whole round. The headline
    // subset (the plan-audited expensive queries + one representative per
    // family) keeps the line a few hundred bytes; the FULL map goes to
    // BENCH_FULL.json, which is committed and diffable across rounds.
    val headline = Seq("align_grid", "align_grid_backward", "frequent_spans",
      "minhash_pairs", "ann_ivf_top5", "repetition_stats", "bigram_top100",
      "bpe_merges", "bt_sequential", "events_hourly", "user_sessions",
      "sma_20", "ema_20_chunked", "cdlengulfing", "vocab_top100")
    val headlineQs = headline.flatMap(n => results.get(n).map(n -> _))
    def line(qs: String) =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"n_queries":${results.size},"failed":$failedJson,"full_map":"BENCH_FULL.json","semantics":"noop-materialize (r7+; r2-r6 used count(), which pruned projection work - see BASELINE.md)","sf":"$sfDir"}"""
    println(line(qJson(headlineQs)))
    // The full wall map AND the per-query shuffle-write map (r11+) — the
    // byte column is the one that scales. r19 (judge item 1): every FULL
    // sweep writes a per-invocation file BENCH_FULL_<sf>_c<cpus>.json, so
    // the driver's second bench leg (the low-core scaling run) can no
    // longer clobber the canonical 32-core map — the bug that left
    // PERF_r18 with no per-query comparison at all. The fixed name
    // BENCH_FULL.json stays too, for cross-round diffing of the
    // canonical sweep, but only the 32-core sweep writes it. Isolated
    // runs (explicit query args) write no files: their timings map
    // holds repeats of a few queries and would masquerade as a sweep.
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","cpus":$cpus,"queries":${qJson(results)},"shuffle_mb":${qJson(shuffleMb)},"n_queries":${results.size},"failed":$failedJson,"semantics":"noop-materialize (r7+); shuffle_mb = task-metrics shuffle write per query (r11+)","sf":"$sfDir"}"""
    def writeFull(name: String): Unit =
      try java.nio.file.Files.write(java.nio.file.Paths.get(name),
        (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable => System.err.println(s"[bench] $name write failed: $e") }
    if (args.isEmpty) {
      val sfTag = java.nio.file.Paths.get(sfDir).getFileName.toString
      writeFull(s"BENCH_FULL_${sfTag}_c$cpus.json")
      if (cpus == "32") writeFull("BENCH_FULL.json")
    }
    spark.sparkContext.removeSparkListener(shuffleListener)
    spark.stop()
  }
}
