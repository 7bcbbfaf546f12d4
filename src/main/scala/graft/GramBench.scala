package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Evidence harness for the gram-fingerprint restructures (round 11):
  * the SAME frequent-span / bigram-top-k query computed the direct way
  * (gram strings ride the corpus-wide shuffle) vs the fp way (8-byte
  * fingerprints ride the shuffle; strings recovered only for survivors),
  * measuring wall time AND actual shuffle bytes written,
  * task-metrics-truthful.
  *
  * The shuffle-bytes number is the one that predicts 100× behavior: at
  * corpus scale most k-grams are singletons, so the direct formulation
  * shuffles ~k× the text volume mostly to count tail grams to 1 and
  * throw them away, while the fp formulation's wide exchange stays at 8
  * bytes per span. Results recorded in BASELINE.md (round 11).
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 runMain graft.GramBench
  */
object GramBench {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val counter = new TaskCounter(spark)

    val docs = Tables.documents(spark, dir)

    def run(what: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      df.count() // warm-up (tables, JVM, and any driver-side plan collect)
      counter.reset()
      val t0 = System.nanoTime()
      val n = df.count()
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"[gram] $what%-28s wall ${wall}%6.2f s   shuffle-write ${counter.shuffleWriteBytes / 1e6}%8.2f MB   rows $n%d")
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
    val nDocs = args.headOption.map(_.toLong).getOrElse(1_000_000L)
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
    spark.stop()
  }
}
