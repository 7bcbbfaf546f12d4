package graft

/** Prints formatted physical plans for representative queries so plan
  * regressions (extra shuffles, lost pushdown, broken codegen) are visible.
  * Usage: runMain graft.PlanAudit [sfDir] [query...] */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq
      else Seq("sma_20", "cdlengulfing", "rsi_14", "ann_brute_top5", "exact_dedup",
        "minhash_buckets", "simhash_pairs", "ann_ivf_top5_probe", "embedding_dedup_clusters",
        "pack_text", "user_sessions", "repetition_stats", "vocab_top100")
    val spark = Harness.session()
    names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
