package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = Harness.sfDir
    val spark = Harness.session()
    // optional args: query names to run (repeats allowed) for isolated
    // timing; no args = the full driver-contract sweep
    val toRun: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      if (args.nonEmpty) args.toSeq.map(n => n -> SparkEntry.queries(n))
      // name order, so per-query timings are comparable across rounds (and
      // ann_ivf_top5 deterministically pays the one-time index build its
      // _probe twin then amortizes)
      else SparkEntry.queries.toSeq.sortBy(_._1)
    Harness.warm(spark, sfDir)
    // a query that THROWS must be loudly visible, not silently timed as
    // "fast": the roc family was broken at sf0.1 for rounds (ANSI
    // divide-by-zero on the six zero closes sf0.01 never sees) while the
    // swallowed exception kept the bench green
    // per-query shuffle-write bytes from task metrics: the metric that
    // predicts 100× behavior better than wall (BASELINE.md round 11's
    // scale audit), read after the wall clock stops.
    val legs = new Harness.Legs(spark)
    val ran = toRun.map { case (name, fn) =>
      // noop sink, NOT .count(): count() lets Catalyst prune every column
      // a projection computes — a pure-projection query was timed as its
      // SCAN (repetition_stats measured 0.29 s counted vs 9.6 s actually
      // computed, round 7). The noop write materializes every output
      // column, which is what a real consumer pays. r2–r6 walls were
      // recorded under count() semantics — NOT comparable to r7+.
      name -> legs(s"[bench] FAILED $name") {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
    }
    if (args.nonEmpty) ran.foreach { case (n, l) =>
      System.err.println(f"[bench] $n%s ${wall(l)}%.3f s  shuffle ${l.shuffleMb}%.2f MB") }
    val (line, full) = lines(ran, Harness.cpus, sfDir)
    println(line)
    // every FULL sweep writes a per-invocation file
    // BENCH_FULL_<sf>_c<cpus>.json, so a second, low-core sweep can no
    // longer clobber the canonical 32-core map — the bug that left
    // PERF_r18 with no per-query comparison at all. The fixed name
    // BENCH_FULL.json stays too, for cross-round diffing of the canonical
    // sweep, but only the 32-core sweep writes it. Isolated runs
    // (explicit query args) write no files: their timings map holds
    // repeats of a few queries and would masquerade as a sweep.
    def writeFull(name: String): Unit =
      Harness.attempt(s"[bench] $name write failed") {
        java.nio.file.Files.writeString(java.nio.file.Paths.get(name), full + "\n")
      }
    if (args.isEmpty) {
      val sfTag = java.nio.file.Paths.get(sfDir).getFileName.toString
      writeFull(s"BENCH_FULL_${sfTag}_c${Harness.cpus}.json")
      if (Harness.cpus == "32") writeFull("BENCH_FULL.json")
    }
    legs.close()
    spark.stop()
  }

  /** The plan-audited expensive queries plus one representative per
    * family: the per-query subset of the stdout line. */
  val Headline: Seq[String] = Seq("align_grid", "align_grid_backward", "frequent_spans",
    "minhash_pairs", "ann_ivf_top5", "repetition_stats", "bigram_top100",
    "bpe_merges", "bt_sequential", "events_hourly", "user_sessions",
    "sma_20", "ema_20_chunked", "cdlengulfing", "vocab_top100")

  // a failed query reports -1 and is excluded from the total: its
  // partial time-to-throw would otherwise deflate the wall number
  // cross-round comparisons use
  private def wall(l: Harness.Leg[_]): Double = if (l.value.isEmpty) -1.0 else l.wall

  /** The two artifacts of a sweep's legs, given in run order: the
    * stdout line and the full map (BENCH_FULL*.json). */
  private[graft] def lines(ran: Seq[(String, Harness.Leg[_])], cpus: String,
                           sfDir: String): (String, String) = {
    val results = ran.map { case (n, l) => n -> wall(l) }.toMap
    val shuffleMb = scala.collection.mutable.LinkedHashMap.from(
      ran.map { case (n, l) => n -> math.rint(l.shuffleMb * 100) / 100 })
    val failed = ran.collect { case (n, l) if l.value.isEmpty => n }
    // millisecond precision: sub-ms digits are pure noise and the shorter
    // line helps the whole map survive a 2 KB stdout capture
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    def qJson(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => s"\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val total = r3(results.values.filter(_ >= 0.0).sum)
    def jsonList(ss: Seq[String]): String = ss.map("\"" + _ + "\"").mkString("[", ",", "]")
    // STDOUT gets a COMPACT line: the stdout capture that grades a round
    // keeps only a ~2 KB tail, and r9's full 204-query line blew past it
    // — the captured fragment lost its opening brace and parsed to null,
    // i.e. NO bench number for the whole round. The headline subset keeps
    // the line a few hundred bytes, the failed list keeps the names that
    // fit and ends in one "+<n> more"; the FULL map goes to
    // BENCH_FULL.json, which is committed and diffable across rounds.
    val headlineQs = Headline.flatMap(n => results.get(n).map(n -> _))
    def lineWith(shown: Int): String =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${qJson(headlineQs)},"n_queries":${results.size},"failed":${jsonList(failed.take(shown) ++ Option.when(shown < failed.size)(s"+${failed.size - shown} more"))},"full_map":"BENCH_FULL.json","semantics":"noop-materialize (r7+; r2-r6 used count(), which pruned projection work - see BASELINE.md)","sf":"$sfDir"}"""
    val line = (failed.size to 1 by -1).iterator.map(lineWith)
      .find(_.getBytes(java.nio.charset.StandardCharsets.UTF_8).length < 2048).getOrElse(lineWith(0))
    // The full wall map AND the per-query shuffle-write map (r11+) — the
    // byte column is the one that scales.
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","cpus":$cpus,"queries":${qJson(results)},"shuffle_mb":${qJson(shuffleMb)},"n_queries":${results.size},"failed":${jsonList(failed)},"semantics":"noop-materialize (r7+); shuffle_mb = task-metrics shuffle write per query (r11+)","sf":"$sfDir"}"""
    (line, full)
  }
}
