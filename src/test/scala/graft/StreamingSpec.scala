package graft

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{BarIn, SigBarIn}
import graft.bt.Vectorized
import graft.ta.Kernels
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Stream == batch equivalence: the streaming recurrences must reproduce
  * the batch kernels exactly, including across micro-batch boundaries
  * (state carry). Driven through MemoryStream + memory sink. */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .appName("graft-streaming-test").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmpCheckpoint() =
    Scratch.dir("graft_ckpt_")

  test("streaming EMA equals the batch kernel across micro-batch boundaries") {
    implicit val enc = Encoders.product[BarIn]
    val ms = MemoryStream[BarIn](spark)
    val q = StreamingOps.emaStream(ms.toDF(), 3)
      .writeStream.format("memory").queryName("ema_stream")
      .outputMode("update").option("checkpointLocation", tmpCheckpoint()).start()
    try {
      val closes = Array.tabulate(20)(i => 100.0 + (i * 37 % 11))
      // batch 1: first 8 bars of two symbols; batch 2: the rest
      ms.addData((0 until 8).flatMap(i =>
        Seq(BarIn("x", i, closes(i)), BarIn("y", i, closes(i) * 2))))
      q.processAllAvailable()
      ms.addData((8 until 20).flatMap(i =>
        Seq(BarIn("x", i, closes(i)), BarIn("y", i, closes(i) * 2))))
      q.processAllAvailable()

      val got = spark.sql("SELECT symbol, ord, ema FROM ema_stream").collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toMap
      val expX = Kernels.ema(closes, 3)
      val expY = Kernels.ema(closes.map(_ * 2), 3)
      (0 until 20).foreach { i =>
        def check(sym: String, exp: Double): Unit = {
          val g = got((sym, i.toLong))
          assert(g.isNaN == exp.isNaN && (exp.isNaN || math.abs(g - exp) < 1e-9),
            s"$sym@$i: $g != $exp")
        }
        check("x", expX(i)); check("y", expY(i))
      }
    } finally q.stop()
  }

  test("streaming exact dedup: first arrival canonical, duplicates flagged across batches") {
    implicit val enc = Encoders.product[(Long, String)]
    val ms = MemoryStream[(Long, String)](spark)
    val q = StreamingOps.exactDedupStream(ms.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("update").option("checkpointLocation", tmpCheckpoint()).start()
    try {
      ms.addData(Seq(1L -> "alpha", 2L -> "beta", 3L -> "alpha"))
      q.processAllAvailable()
      ms.addData(Seq(4L -> "alpha", 5L -> "gamma", 6L -> "beta"))
      q.processAllAvailable()
      val canon = spark.sql("SELECT doc_id, is_canonical FROM dedup_stream").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(canon == Map(1L -> true, 2L -> true, 3L -> false,
        4L -> false, 5L -> true, 6L -> false))
    } finally q.stop()
  }

  test("streaming decontamination equals the batch broadcast-semi-join flags") {
    // corpus: some docs share a 5-gram with the benchmark, some don't;
    // doc 7 shares tokens but never 5 contiguous ones
    val bench = Seq("the quick brown fox jumps over the lazy dog",
      "to be or not to be that is the question")
    val corpus = (0L until 12L).map { i =>
      val text =
        if (i % 3 == 0) s"prefix $i the quick brown fox jumps over something else"
        else if (i == 7L) "quick dog lazy fox brown the jumps over or not"
        else s"completely unrelated document number $i with its own words"
      (i, text)
    }
    val benchDf = spark.createDataFrame(bench.map(Tuple1(_))).toDF("text")
    implicit val enc = Encoders.product[(Long, String)]
    val ms = MemoryStream[(Long, String)](spark)
    val q = StreamingOps.decontaminateStream(ms.toDF().toDF("doc_id", "text"), benchDf)
      .writeStream.format("memory").queryName("decon_stream")
      .outputMode("append").option("checkpointLocation", tmpCheckpoint()).start()
    try {
      val (b1, b2) = corpus.splitAt(5)
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, contaminated FROM decon_stream").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      val corpusDf = spark.createDataFrame(corpus).toDF("doc_id", "text")
      val batch = graft.pipeline.Dedup.decontaminate(corpusDf, benchDf).collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(got == batch, s"stream flags must equal batch flags\n got=$got\n batch=$batch")
      // sanity on the shape itself, not just parity: shared 5-grams flag,
      // shared words alone don't
      assert(got(0L) && got(3L) && !got(7L) && !got(1L))
    } finally q.stop()
  }

  test("streaming bloom decontamination equals the batch probe for the same bitmap") {
    import org.apache.spark.sql.functions.{array_distinct, col, explode}
    val bench = Seq("the quick brown fox jumps over the lazy dog",
      "to be or not to be that is the question")
    val corpus = (0L until 10L).map { i =>
      val text =
        if (i % 3 == 0) s"prefix $i the quick brown fox jumps over something else"
        else s"completely unrelated document number $i with its own words"
      (i, text)
    }
    val benchDf = spark.createDataFrame(bench.map(Tuple1(_))).toDF("text")
    val bitmap = graft.pipeline.Dedup.bloomBitmap(
      benchDf.select(explode(array_distinct(graft.functions.TextHashes.shingleFps(
        graft.pipeline.Dedup.tokens(col("text")), 5))).as("fp")), mBits = 1 << 12)
    implicit val enc = Encoders.product[(Long, String)]
    val ms = MemoryStream[(Long, String)](spark)
    val q = StreamingOps.decontaminateBloomStream(
        ms.toDF().toDF("doc_id", "text"), bitmap)
      .writeStream.format("memory").queryName("bloom_stream")
      .outputMode("append").option("checkpointLocation", tmpCheckpoint()).start()
    try {
      val (b1, b2) = corpus.splitAt(4)
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, contaminated FROM bloom_stream").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      val corpusDf = spark.createDataFrame(corpus).toDF("doc_id", "text")
      val batch = graft.pipeline.Dedup
        .decontaminateBloom(corpusDf, benchDf, mBits = 1 << 12).collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(got == batch, s"stream flags must equal batch flags\n got=$got\n batch=$batch")
      assert(got(0L) && got(3L) && !got(1L))
    } finally q.stop()
  }

  test("streaming cross-corpus dedup equals the batch bucket-join flags and jaccards") {
    // reference = "the world"; arriving docs = the new crawl batch. Mix:
    // verbatim copy (jaccard 1), near-copy (high), partial overlap,
    // unrelated, and a doc sharing words but no 3-shingles
    val reference = Seq(
      100L -> "the quick brown fox jumps over the lazy dog every single morning",
      101L -> "to be or not to be that is the question for all of us",
      102L -> "pack my box with five dozen liquor jugs right now please")
    val corpus = Seq(
      0L -> "the quick brown fox jumps over the lazy dog every single morning",
      1L -> "the quick brown fox jumps over the lazy dog every single evening",
      2L -> "she said to be or not to be that is the question and left",
      3L -> "completely unrelated text about distributed query engines and shuffles",
      4L -> "dog fox brown quick lazy the over jumps",
      5L -> "pack my box with five dozen liquor jugs right now please")
    val refDf = spark.createDataFrame(reference).toDF("doc_id", "text")
    val corpusDf = spark.createDataFrame(corpus).toDF("doc_id", "text")
    implicit val enc = Encoders.product[(Long, String)]
    val ms = MemoryStream[(Long, String)](spark)
    val q = StreamingOps.crossCorpusNearDupStream(ms.toDF().toDF("doc_id", "text"), refDf)
      .writeStream.format("memory").queryName("xcorpus_stream")
      .outputMode("append").option("checkpointLocation", tmpCheckpoint()).start()
    try {
      val (b1, b2) = corpus.splitAt(3)
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
      def asMap(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
        r.getLong(0) -> (r.getBoolean(1),
          if (r.isNullAt(2)) null else java.lang.Double.valueOf(r.getDouble(2)))).toMap
      val got = asMap(spark.sql(
        "SELECT doc_id, near_dup, max_jaccard FROM xcorpus_stream").collect())
      val batch = asMap(graft.pipeline.Dedup.crossCorpusNearDup(corpusDf, refDf)
        .select("doc_id", "near_dup", "max_jaccard").collect())
      assert(got == batch, s"stream must equal batch\n got=$got\n batch=$batch")
      // shape sanity beyond parity: the verbatim copies flag at 1.0, the
      // unrelated doc has no candidates at all
      assert(got(0L) == ((true, java.lang.Double.valueOf(1.0))))
      assert(got(5L) == ((true, java.lang.Double.valueOf(1.0))))
      assert(got(1L)._1, "near-copy must flag")
      assert(got(3L) == ((false, null)), "unrelated doc: no candidates -> (false, NULL)")
    } finally q.stop()
  }

  test("streaming INDEXED cross-corpus probe equals batch across micro-batches; index append == rebuild") {
    import org.apache.spark.sql.functions.col
    val reference = Seq(
      100L -> "the quick brown fox jumps over the lazy dog every single morning",
      101L -> "to be or not to be that is the question for all of us",
      102L -> "pack my box with five dozen liquor jugs right now please",
      103L -> "sphinx of black quartz judge my vow said the old examiner")
    val corpus = Seq(
      0L -> "the quick brown fox jumps over the lazy dog every single morning",
      1L -> "the quick brown fox jumps over the lazy dog every single evening",
      2L -> "she said to be or not to be that is the question and left",
      3L -> "completely unrelated text about distributed query engines and shuffles",
      4L -> "dog fox brown quick lazy the over jumps",
      5L -> "sphinx of black quartz judge my vow said the old examiner")
    val refDf = spark.createDataFrame(reference).toDF("doc_id", "text")
    val corpusDf = spark.createDataFrame(corpus).toDF("doc_id", "text")
    val dedup = graft.pipeline.Dedup
    // one index built in full, one built write-half + append-half
    dedup.dedupIndexWrite(refDf, "sidx_full",
      Scratch.dir("graft_sidx_f_"), numBuckets = 4)
    dedup.dedupIndexWrite(refDf.where(col("doc_id") < 102), "sidx_inc",
      Scratch.dir("graft_sidx_i_"), numBuckets = 4)
    dedup.dedupIndexAppend(refDf.where(col("doc_id") >= 102), "sidx_inc")
    def asMap(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      r.getLong(0) -> (r.getBoolean(1),
        if (r.isNullAt(2)) null else java.lang.Double.valueOf(r.getDouble(2)))).toMap
    val batchFull = asMap(dedup.crossCorpusNearDupIndexed(corpusDf, "sidx_full")
      .select("doc_id", "near_dup", "max_jaccard").collect())
    val batchInc = asMap(dedup.crossCorpusNearDupIndexed(corpusDf, "sidx_inc")
      .select("doc_id", "near_dup", "max_jaccard").collect())
    assert(batchInc == batchFull,
      s"an appended index must probe exactly like a rebuilt one\n inc=$batchInc\n full=$batchFull")
    // the streaming stream-static twin over the APPENDED index, split
    // across micro-batch boundaries
    implicit val enc = Encoders.product[(Long, String)]
    val ms = MemoryStream[(Long, String)](spark)
    val q = StreamingOps.crossCorpusNearDupStreamIndexed(
        ms.toDF().toDF("doc_id", "text"), "sidx_inc")
      .writeStream.format("memory").queryName("xidx_stream")
      .outputMode("update").option("checkpointLocation", tmpCheckpoint()).start()
    try {
      val (b1, b2) = corpus.splitAt(3)
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
      val got = asMap(spark.sql(
        "SELECT doc_id, near_dup, max_jaccard FROM xidx_stream").collect())
      assert(got == batchFull, s"stream must equal batch\n got=$got\n batch=$batchFull")
      assert(got(0L) == ((true, java.lang.Double.valueOf(1.0))))
      assert(got(5L) == ((true, java.lang.Double.valueOf(1.0))),
        "a doc matching only APPENDED reference rows must flag through the stream probe")
      assert(got(3L) == ((false, null)), "unrelated doc: no candidates -> (false, NULL)")
    } finally q.stop()
    // logical forgetting reaches the STREAM probe too: tombstone the one
    // reference doc corpus doc 5 matches, re-probe through a fresh
    // stream — the forgotten doc must stop nominating candidates while
    // everything else is untouched (the batch twin asserts the same)
    assert(dedup.dedupIndexDelete(
      spark.createDataFrame(Seq(Tuple1(103L))).toDF("doc_id"), "sidx_inc") == 1L)
    val batchForgot = asMap(dedup.crossCorpusNearDupIndexed(corpusDf, "sidx_inc")
      .select("doc_id", "near_dup", "max_jaccard").collect())
    assert(batchForgot(5L) == ((false, null)),
      "batch probe must treat the tombstoned doc as never indexed")
    val ms2 = MemoryStream[(Long, String)](spark)
    val q2 = StreamingOps.crossCorpusNearDupStreamIndexed(
        ms2.toDF().toDF("doc_id", "text"), "sidx_inc")
      .writeStream.format("memory").queryName("xidx_stream_fgt")
      .outputMode("update").option("checkpointLocation", tmpCheckpoint()).start()
    try {
      ms2.addData(corpus); q2.processAllAvailable()
      val got2 = asMap(spark.sql(
        "SELECT doc_id, near_dup, max_jaccard FROM xidx_stream_fgt").collect())
      assert(got2 == batchForgot,
        s"stream must equal batch after forgetting\n got=$got2\n batch=$batchForgot")
      assert(got2(5L) == ((false, null)),
        "the stream probe must anti-join the tombstones")
      assert(got2(0L) == ((true, java.lang.Double.valueOf(1.0))),
        "unrelated reference docs must keep flagging")
    } finally q2.stop()
  }

  test("streaming cross-corpus containment equals the batch bloom probe for the same bitmap") {
    val reference = Seq(
      100L -> "the quick brown fox jumps over the lazy dog every single morning",
      101L -> "to be or not to be that is the question for all of us")
    val corpus = Seq(
      0L -> "the quick brown fox jumps over the lazy dog every single morning",
      1L -> "prefix words then the quick brown fox jumps over another thing",
      2L -> "totally fresh content with zero overlap whatsoever in any shingle")
    val refDf = spark.createDataFrame(reference).toDF("doc_id", "text")
    val corpusDf = spark.createDataFrame(corpus).toDF("doc_id", "text")
    import org.apache.spark.sql.functions.{array_distinct, col, explode}
    val bitmap = graft.pipeline.Dedup.bloomBitmap(
      refDf.select(explode(array_distinct(graft.functions.TextHashes.shingleFps(
        graft.pipeline.Dedup.tokens(col("text")), 3))).as("fp")), mBits = 1 << 12)
    implicit val enc = Encoders.product[(Long, String)]
    val ms = MemoryStream[(Long, String)](spark)
    val q = StreamingOps.crossCorpusContainmentStream(
        ms.toDF().toDF("doc_id", "text"), bitmap)
      .writeStream.format("memory").queryName("xcont_stream")
      .outputMode("append").option("checkpointLocation", tmpCheckpoint()).start()
    try {
      ms.addData(corpus); q.processAllAvailable()
      def asMap(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
        r.getLong(0) -> ((if (r.isNullAt(1)) null
          else java.lang.Double.valueOf(r.getDouble(1))), r.getBoolean(2))).toMap
      val got = asMap(spark.sql(
        "SELECT doc_id, containment, near_dup_est FROM xcont_stream").collect())
      val batch = asMap(graft.pipeline.Dedup.crossCorpusContainmentBloom(
          corpusDf, refDf, mBits = 1 << 12)
        .select("doc_id", "containment", "near_dup_est").collect())
      assert(got == batch, s"stream must equal batch\n got=$got\n batch=$batch")
      assert(got(0L) == ((java.lang.Double.valueOf(1.0), true)), "verbatim copy: full containment")
      assert(!got(2L)._2, "fresh doc must not flag")
    } finally q.stop()
  }

  test("streaming boilerplate scoring equals the batch stats for the same frequent set") {
    // the frequent-span set comes from a batch pass over a reference
    // corpus; arriving docs are graded against it statelessly
    val refCorpus = (0L until 8L).map(i => (i, "common header line here " +
      (if (i % 2 == 0) s"unique body $i words" else s"other content $i today")))
    val refDf = spark.createDataFrame(refCorpus).toDF("doc_id", "text")
    val freq = graft.pipeline.Dedup.frequentSpans(refDf, minDocs = 4)
    // frequentSpans emits gram STRINGS; their polyFingerprint equals the
    // composed shingle fp the batch scorer uses (the composition identity
    // the SQL oracles already pin)
    val fps = freq.collect().map(r => graft.functions.TextHashes.polyFingerprint(
      org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0)))).toSet
    val arriving = Seq(
      10L -> "common header line here and then novel trailing content",
      11L -> "entirely fresh document with no shared spans at all")
    implicit val enc = Encoders.product[(Long, String)]
    val ms = MemoryStream[(Long, String)](spark)
    val q = StreamingOps.boilerplateScoreStream(ms.toDF().toDF("doc_id", "text"), fps)
      .writeStream.format("memory").queryName("bp_stream")
      .outputMode("append").option("checkpointLocation", tmpCheckpoint()).start()
    try {
      ms.addData(arriving); q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, n_spans, n_boiler, boiler_frac FROM bp_stream")
        .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getDouble(3))).toMap
      // doc 10 shares the "common header line"/"header line here" spans;
      // doc 11 shares none
      assert(got(10L)._2 > 0 && got(11L)._2 == 0)
      // parity: batch scorer over (ref ∪ arriving) with the same minDocs
      // yields the same counts for the arriving docs (the arrivals are too
      // few to change the frequent set at minDocs=4)
      val all = spark.createDataFrame(refCorpus ++ arriving).toDF("doc_id", "text")
      val batch = graft.pipeline.Dedup.spanBoilerplateStats(all, minDocs = 4).collect()
        .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getDouble(3))).toMap
      arriving.foreach { case (id, _) => assert(got(id) == batch(id), s"doc $id") }
    } finally q.stop()
  }

  test("streaming span removal equals the batch rewrite for the same frequent set") {
    // frequent set from a batch pass over the reference corpus; arriving
    // docs are REWRITTEN against it (positions covered by any frequent
    // 3-gram drop) with the exact batch Columns — stateless per batch
    val refCorpus = (0L until 6L).map(i =>
      (i, s"doc $i starts common header line here then unique tail $i"))
    val refDf = spark.createDataFrame(refCorpus).toDF("doc_id", "text")
    val freqGrams = graft.pipeline.Dedup.frequentSpans(refDf, minDocs = 4)
      .collect().map(_.getString(0)).toSeq
    assert(freqGrams.nonEmpty)
    val arriving = Seq(
      10L -> "prefix common header line here suffix words",
      11L -> "entirely fresh document with no shared spans")
    implicit val enc = Encoders.product[(Long, String)]
    val ms = MemoryStream[(Long, String)](spark)
    val q = StreamingOps.removeFrequentSpansStream(
        ms.toDF().toDF("doc_id", "text"), freqGrams)
      .writeStream.format("memory").queryName("rfs_stream")
      .outputMode("append").option("checkpointLocation", tmpCheckpoint()).start()
    try {
      ms.addData(arriving); q.processAllAvailable()
      val got = spark.sql("SELECT doc_id, n_tokens, n_removed, cleaned_text FROM rfs_stream")
        .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getString(3))).toMap
      // doc 10's "common header line here" run is covered (4 tokens plus
      // the k-1 window overhang on each flank within gram bounds)
      assert(got(10L)._2 > 0 && got(10L)._3.startsWith("prefix"))
      assert(got(11L) == ((7, 0, "entirely fresh document with no shared spans")))
      // parity: the batch rewrite leg over the same docs + same set
      val batch = graft.pipeline.Dedup.spanRewrite(
          spark.createDataFrame(arriving).toDF("doc_id", "text"), freqGrams)
        .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getString(3))).toMap
      arriving.foreach { case (id, _) => assert(got(id) == batch(id), s"doc $id") }
    } finally q.stop()

    // the fp-short-circuit probe order is the same pure projection:
    // stream it with the flag flipped and require identical rows
    val ms2 = MemoryStream[(Long, String)](spark)
    val q2 = StreamingOps.removeFrequentSpansStream(
        ms2.toDF().toDF("doc_id", "text"), freqGrams, fpShortCircuit = true)
      .writeStream.format("memory").queryName("rfs_stream_fp")
      .outputMode("append").option("checkpointLocation", tmpCheckpoint()).start()
    try {
      ms2.addData(arriving); q2.processAllAvailable()
      val gotFp = spark.sql("SELECT doc_id, n_tokens, n_removed, cleaned_text FROM rfs_stream_fp")
        .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getString(3))).toMap
      val batch = graft.pipeline.Dedup.spanRewrite(
          spark.createDataFrame(arriving).toDF("doc_id", "text"), freqGrams)
        .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getString(3))).toMap
      arriving.foreach { case (id, _) => assert(gotFp(id) == batch(id), s"doc $id (fp)") }
    } finally q2.stop()
  }

  test("stateless pipeline columns (pii, repetition) apply to streams unchanged") {
    // per-row Column ops need no streaming twin: the SAME batch code runs
    // on an unbounded input — this pins that property so a refactor can't
    // silently introduce state into these paths
    import graft.pipeline.{Pii, Repetition}
    implicit val enc = Encoders.product[(Long, String)]
    val ms = MemoryStream[(Long, String)](spark)
    val out = Pii.withScrub(ms.toDF().toDF("doc_id", "text"))
      .withColumn("rep_keep", Repetition.repetitionKeep(
        org.apache.spark.sql.functions.col("text")))
      .select("doc_id", "n_emails", "text_scrubbed", "rep_keep")
    val q = out.writeStream.format("memory").queryName("stateless_stream")
      .outputMode("append").option("checkpointLocation", tmpCheckpoint()).start()
    try {
      ms.addData(Seq(
        1L -> "write to eve@corp.io about the quick brown fox jumping over dogs",
        2L -> "spam spam spam spam spam spam"))
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM stateless_stream").collect()
        .map(r => r.getLong(0) -> (r.getInt(1), r.getString(2), r.getBoolean(3))).toMap
      assert(got(1L) == ((1, "write to <EMAIL> about the quick brown fox jumping over dogs", true)))
      assert(got(2L)._1 == 0 && !got(2L)._3)
    } finally q.stop()
    // token-window chunking is per-row too (the explode is stateless):
    // the SAME batch code chunks an unbounded stream
    val ms2 = MemoryStream[(Long, String)](spark)
    val q2 = graft.pipeline.Packing
      .chunkTokens(ms2.toDF().toDF("doc_id", "text"), size = 3, overlap = 1)
      .writeStream.format("memory").queryName("chunk_stream")
      .outputMode("append").option("checkpointLocation", tmpCheckpoint()).start()
    try {
      ms2.addData(Seq(1L -> "a b c d e"))
      q2.processAllAvailable()
      val chunks = spark.sql("SELECT chunk_id, chunk_text FROM chunk_stream").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(chunks == Map(0L -> "a b c", 1L -> "c d e"))
    } finally q2.stop()
  }

  test("streaming packing equals the batch window layout across micro-batches") {
    // doc 7 has NULL text (the documents schema allows it): both paths
    // must emit null n_tokens and advance the shard offset by zero
    val docs = (1 to 30).map(i =>
      (i.toLong, if (i == 7) null
                 else (1 to (i % 5 + 2)).map(j => s"w${i}_$j").mkString(" ")))
    implicit val enc = Encoders.product[(Long, String)]
    val ms = MemoryStream[(Long, String)](spark)
    val q = StreamingOps.packStream(
        ms.toDF().toDF("doc_id", "text"), budget = 8, shards = 3)
      .writeStream.format("memory").queryName("pack_stream")
      .outputMode("update").option("checkpointLocation", tmpCheckpoint()).start()
    try {
      // id-ordered ingestion split across three micro-batches: the
      // running offsets must carry across the boundaries per shard
      val (b1, rest) = docs.splitAt(10)
      val (b2, b3) = rest.splitAt(10)
      Seq(b1, b2, b3).foreach { b => ms.addData(b); q.processAllAvailable() }
      val got = spark.sql(
          "SELECT doc_id, shard, n_tokens, seq_in_shard, offset_in_seq FROM pack_stream")
        .collect().map(r => r.getLong(0) ->
          (r.getInt(1), r.get(2), r.getLong(3), r.getLong(4))).toMap
      val batch = graft.pipeline.Packing.packSequences(
          spark.createDataFrame(docs).toDF("doc_id", "text"), budget = 8, shards = 3)
        .collect().map(r => r.getLong(0) ->
          (r.getInt(1), r.get(2), r.getLong(3), r.getLong(4))).toMap
      assert(got == batch, s"stream layout must equal batch layout")
      assert(got(7L)._2 == null, "null text must surface as null n_tokens")
    } finally q.stop()
  }

  test("streaming sessionization equals the batch window fold across micro-batches") {
    val gap = 100L
    // two users; batch boundary lands MID-session for user 1 (events 3,4
    // are 50 apart across the boundary) so the state carry is exercised
    val evts = Seq(
      (1L, 0L, 1L), (1L, 50L, 2L), (1L, 150L, 3L),   // batch 1
      (1L, 200L, 4L), (1L, 302L, 5L),                // batch 2: 200-150=50 same, 302-200=102 new
      (2L, 10L, 10L), (2L, 500L, 11L))
    implicit val enc = Encoders.product[(Long, Long, Long)]
    val ms = MemoryStream[(Long, Long, Long)](spark)
    val q = StreamingOps.sessionizeStream(
        ms.toDF().toDF("user_id", "ts", "event_id"), gap)
      .writeStream.format("memory").queryName("sess_stream")
      .outputMode("update").option("checkpointLocation", tmpCheckpoint()).start()
    try {
      val (b1, b2) = evts.splitAt(3)
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
      val got = spark.sql("SELECT event_id, session_id FROM sess_stream").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batch = graft.etl.Sessions.sessionize(
          spark.createDataFrame(evts).toDF("user_id", "ts", "event_id"), gap)
        .collect().map(r => r.getLong(2) -> r.getLong(3)).toMap
      assert(got == batch, s"stream $got != batch $batch")
      assert(got(5L) == 2L && got(4L) == 1L)
    } finally q.stop()
  }

  test("streaming minhash-LSH pairs equal the batch bucket join across micro-batches") {
    val base = "the quick brown fox jumps over the lazy dog again and again " * 4
    val words = base.trim.split(" ")
    val docs = (0 until 10).map { i =>
      val w = words.clone(); w(i % w.length) = s"tok$i"; (i.toLong, w.mkString(" "))
    } ++ Seq(100L -> base.trim, 101L -> base.trim)
    implicit val enc = Encoders.product[(Long, String)]
    val ms = MemoryStream[(Long, String)](spark)
    val q = StreamingOps.minhashPairsStream(ms.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("minhash_stream")
      .outputMode("update").option("checkpointLocation", tmpCheckpoint()).start()
    try {
      val (b1, b2) = docs.splitAt(6)
      ms.addData(b1); q.processAllAvailable()
      // re-ingest two already-seen docs: first arrival wins, no re-emission
      ms.addData(b2 ++ b1.take(2)); q.processAllAvailable()
      val got = spark.sql("SELECT a_id, b_id, est_jaccard FROM minhash_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), math.rint(r.getDouble(2) * 1e6)))
      // exactly-once: near-identical docs collide in MANY bands, pair emitted once
      assert(got.length == got.distinct.length)
      val docsDf = spark.createDataFrame(docs).toDF("doc_id", "text")
      val batch = graft.pipeline.Dedup.minhashCandidates(docsDf, portable = true).collect()
        .map(r => (r.getLong(0), r.getLong(1), math.rint(r.getDouble(2) * 1e6)))
      assert(got.toSet == batch.toSet,
        s"stream-only: ${got.toSet -- batch.toSet}, batch-only: ${batch.toSet -- got.toSet}")
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("streaming simhash pairs equal the batch chunk join across micro-batches (both hash modes)") {
    val base = "the quick brown fox jumps over the lazy dog again and again " * 4
    val words = base.trim.split(" ")
    val docs = (0 until 14).map { i =>
      val w = words.clone(); w(i % w.length) = s"tok$i"; (i.toLong, w.mkString(" "))
    } ++ Seq(100L -> base.trim, 101L -> base.trim)
    implicit val enc = Encoders.product[(Long, String)]
    // portable = the hash family the driver-verified batch queries run;
    // false = the fast XXH64 default — the stream must match batch in both
    for (portable <- Seq(false, true)) {
      val ms = MemoryStream[(Long, String)](spark)
      val name = s"simhash_stream_$portable"
      val q = StreamingOps.simhashPairsStream(ms.toDF().toDF("doc_id", "text"), portable = portable)
        .writeStream.format("memory").queryName(name)
        .outputMode("update").option("checkpointLocation", tmpCheckpoint()).start()
      try {
        val (b1, b2) = docs.splitAt(7)
        ms.addData(b1); q.processAllAvailable()
        ms.addData(b2); q.processAllAvailable()
        val got = spark.sql(s"SELECT a_id, b_id, hamming FROM $name").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        // exactly-once: no duplicate pairs even though near-dups share chunks
        assert(got.length == got.distinct.length)
        val docsDf = spark.createDataFrame(docs).toDF("doc_id", "text")
        val batch = graft.pipeline.Dedup.simhashCandidates(docsDf, maxHamming = 7, portable = portable)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        assert(got.toSet == batch.toSet,
          s"portable=$portable stream-only: ${got.toSet -- batch.toSet}, batch-only: ${batch.toSet -- got.toSet}")
        assert(batch.nonEmpty)
      } finally q.stop()
    }
  }

  test("streaming backtest equals the batch fold across micro-batches") {
    implicit val enc = Encoders.product[SigBarIn]
    val cfg = Vectorized.Config(initialCapital = 1000.0, minCommission = 1.0,
      buyCommissionRate = 0.001, sellCommissionRate = 0.001)
    val ms = MemoryStream[SigBarIn](spark)
    val q = StreamingOps.backtestStream(
        ms.toDF().withColumnRenamed("buy", "buy_sig").withColumnRenamed("sell", "sell_sig"), cfg)
      .writeStream.format("memory").queryName("bt_stream")
      .outputMode("update").option("checkpointLocation", tmpCheckpoint()).start()
    try {
      val prices = Array(10.0, 12.0, 9.0, 15.0, 14.0, 11.0)
      val buys = Array(true, false, true, false, false, true)
      val sells = Array(false, true, false, true, false, false)
      def bars(r: Range) = r.map(i => SigBarIn("s", i, prices(i), buys(i), sells(i)))
      ms.addData(bars(0 until 3)); q.processAllAvailable()
      ms.addData(bars(3 until 6)); q.processAllAvailable()

      val got = spark.sql("SELECT ord, position, cash, equity FROM bt_stream").collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
      val exp = Vectorized.runSeries(prices, buys, sells, cfg)
      (0 until 6).foreach { i =>
        val (p, c, e) = got(i.toLong)
        assert(math.abs(p - exp.positions(i)) < 1e-9, s"pos@$i")
        assert(math.abs(c - exp.cash(i)) < 1e-9, s"cash@$i")
        assert(math.abs(e - exp.equity(i)) < 1e-9, s"eq@$i")
      }
    } finally q.stop()
  }

  test("watermarked windowed stats over an event stream") {
    implicit val enc = Encoders.product[Ev]
    val ms = MemoryStream[Ev](spark)
    val q = StreamingOps.windowedStats(
        ms.toDF().selectExpr("CAST(ts AS TIMESTAMP) ts", "event_type", "value"),
        windowDur = "1 hour")
      .writeStream.format("memory").queryName("win_stream")
      .outputMode("update").option("checkpointLocation", tmpCheckpoint()).start()
    try {
      ms.addData(
        Ev("2024-01-01 00:10:00", "click", 10.0),
        Ev("2024-01-01 00:40:00", "click", 20.0),
        Ev("2024-01-01 01:10:00", "click", 30.0),
        Ev("2024-01-01 00:20:00", "view", 5.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT event_type, n_events, avg_value FROM win_stream ORDER BY event_type, n_events")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      assert(rows.contains(("click", 2L, 15.0))) // 00:00 window
      assert(rows.contains(("click", 1L, 30.0))) // 01:00 window
      assert(rows.contains(("view", 1L, 5.0)))
    } finally q.stop()
  }
  case class Ev(ts: String, event_type: String, value: Double)

  test("streaming props json rollup equals the batch schema-on-read stats") {
    import org.apache.spark.sql.functions.{col, count, from_json, lit, max, min, sum, window}
    implicit val enc = Encoders.product[(String, String, String)]
    val ms = MemoryStream[(String, String, String)](spark)
    val q = StreamingOps.propsJsonStatsStream(
        ms.toDF().selectExpr("CAST(_1 AS TIMESTAMP) ts", "_2 event_type", "_3 props"))
      .writeStream.format("memory").queryName("props_stream")
      .outputMode("update").option("checkpointLocation", tmpCheckpoint()).start()
    val evts = Seq(
      ("2024-01-01 00:10:00", "click", """{"k": 5}"""),
      ("2024-01-01 00:40:00", "click", """{"k": 7}"""),
      ("2024-01-01 00:20:00", "view", """{"k": 2}"""),
      ("2024-01-01 01:10:00", "click", """{"k": 11}"""),
      // batch 2 lands in the already-open 00:00 windows → state update
      ("2024-01-01 00:50:00", "click", """{"k": 1}"""),
      ("2024-01-01 00:30:00", "view", "not json")) // malformed → null k, still counted
    try {
      val (b1, b2) = evts.splitAt(4)
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getTimestamp(1).toString, r.getLong(2),
          r.get(3), r.get(4), r.get(5))
      val got = spark.sql(
          "SELECT event_type, window.start, n, sum_k, min_k, max_k FROM props_stream")
        .collect().map(key).toSet
      // independent batch replay of the props_json_stats shape, windowed
      val batch = spark.createDataFrame(evts).toDF("ts", "event_type", "props")
        .selectExpr("CAST(ts AS TIMESTAMP) ts", "event_type", "props")
        .select(col("ts"), col("event_type"),
          from_json(col("props"), lit("k INT")).getField("k").as("k"))
        .groupBy(col("event_type"), window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"), sum(col("k")).cast("long").as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .select(col("event_type"), col("window.start"), col("n"),
          col("sum_k"), col("min_k"), col("max_k"))
        .collect().map(key)
      batch.foreach(b => assert(got.contains(b), s"final row $b missing from stream"))
      // the mid-window arrival really updated state: 00:00 click window
      // reached n=3 (5,7 then +1) with min 1
      assert(got.exists(r => r._1 == "click" && r._3 == 3L && r._5 == 1))
    } finally q.stop()
  }

  test("streaming partitioned parquet sink: hive dirs, exactly-once, prunable") {
    import org.apache.spark.sql.functions.col
    implicit val enc = Encoders.product[(Long, String, String)]
    // the sink-side twin of the batch partitioned layout (Bucketing
    // .writePartitioned): a stream lands as lang=xx/ directories through
    // the transactional file sink, so a downstream batch reader gets the
    // same directory pruning the batch writer would have produced —
    // including across a restart replaying the same batch (exactly-once
    // via the sink's _spark_metadata log, not writer idempotence)
    val ms = MemoryStream[(Long, String, String)](spark)
    val out = Scratch.dir("graft_stream_part_")
    val ck = tmpCheckpoint()
    def start() = ms.toDF().toDF("doc_id", "lang", "text")
      .writeStream.format("parquet").partitionBy("lang")
      .option("path", out).option("checkpointLocation", ck).start()
    val q = start()
    try {
      ms.addData((1L, "en", "a"), (2L, "de", "b"), (3L, "en", "c"))
      q.processAllAvailable()
    } finally q.stop()
    val q2 = start()
    try {
      ms.addData((4L, "fr", "d"))
      q2.processAllAvailable()
    } finally q2.stop()
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
      .filterNot(_ == "_spark_metadata").sorted
    assert(dirs.toSeq == Seq("lang=de", "lang=en", "lang=fr"))
    val back = spark.read.parquet(out)
    assert(back.count() == 4, "restart must not duplicate rows (file-sink log)")
    assert(back.where(col("lang") === "en").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
  }

  test("streaming ANN ADC probe equals the batch pruned ADC rank over the same index") {
    import graft.pipeline.Similarity
    import org.apache.spark.sql.functions.col
    // arriving query vectors probe a STATIC persisted IVF-PQ index (built
    // once by the batch ivfPqWrite pass — the build is an offline job);
    // per-query ADC top-k must be identical to the batch pruned scan
    val vecs = (0L until 40L).map { i =>
      (i, (0 until 8).map(d =>
        (java.lang.Math.floorMod(graft.functions.TextHashes.splitmix(i * 31 + d), 1000L)
          .toDouble / 500.0) - 1.0))
    }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val dir = Scratch.dir("graft_ivfpq_s_")
    Similarity.ivfPqWrite(df, dir, numCentroids = 4, lloydIters = 1, ivfSampleMod = 1,
      m = 4, ksub = 4, pqIters = 1, pqSampleMod = 1)
    val index = Similarity.loadIvfPq(spark, dir)
    implicit val enc = Encoders.product[(Long, Seq[Double])]
    val ms = MemoryStream[(Long, Seq[Double])](spark)
    val q = StreamingOps.annAdcStream(ms.toDF().toDF("vec_id", "embedding"), index,
        k = 3, nprobe = 2)
      .writeStream.format("memory").queryName("ann_stream")
      .outputMode("append").option("checkpointLocation", tmpCheckpoint()).start()
    try {
      // two micro-batches (stateless: the boundary must not matter), plus
      // a wrong-dimension vector that must emit nothing
      ms.addData(vecs.take(2)); q.processAllAvailable()
      ms.addData(vecs.slice(2, 4) :+ (99L -> Seq(1.0, 2.0))); q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getInt(3)) -> (r.getLong(1), math.round(r.getDouble(2) * 1e9))
      val got = spark.sql(
        "SELECT query_id, corpus_id, adc, rank FROM ann_stream").collect().map(key(_)).toMap
      val batch = Similarity.ivfPqAdcTopK(spark, dir,
          df.where(col("vec_id") < 4), k = 3, nprobe = 2)
        .collect().map(key(_)).toMap
      assert(got == batch, s"stream must equal batch\n got=$got\n batch=$batch")
      assert(got.size == 12, "4 queries x top-3")
      assert(!got.keys.exists(_._1 == 99L), "wrong-dim query must emit no rows")
    } finally q.stop()
  }

  test("streaming residual ANN ADC probe equals the batch residual ADC rank") {
    import graft.pipeline.Similarity
    import org.apache.spark.sql.functions.col
    val vecs = (0L until 40L).map { i =>
      (i, (0 until 8).map(d =>
        (java.lang.Math.floorMod(graft.functions.TextHashes.splitmix(i * 31 + d), 1000L)
          .toDouble / 500.0) - 1.0))
    }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val dir = Scratch.dir("graft_ivfpqres_s_")
    Similarity.ivfPqResWrite(df, dir, numCentroids = 4, lloydIters = 1, ivfSampleMod = 1,
      m = 4, ksub = 4, pqIters = 1, pqSampleMod = 1)
    val index = Similarity.loadIvfPq(spark, dir)
    implicit val enc = Encoders.product[(Long, Seq[Double])]
    val ms = MemoryStream[(Long, Seq[Double])](spark)
    val q = StreamingOps.annAdcStream(ms.toDF().toDF("vec_id", "embedding"), index,
        k = 3, nprobe = 2, residual = true)
      .writeStream.format("memory").queryName("ann_res_stream")
      .outputMode("append").option("checkpointLocation", tmpCheckpoint()).start()
    try {
      ms.addData(vecs.take(2)); q.processAllAvailable()
      ms.addData(vecs.slice(2, 4)); q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getInt(3)) -> (r.getLong(1), math.round(r.getDouble(2) * 1e9))
      val got = spark.sql(
        "SELECT query_id, corpus_id, adc, rank FROM ann_res_stream").collect().map(key(_)).toMap
      val batch = Similarity.ivfPqResAdcTopK(spark, dir,
          df.where(col("vec_id") < 4), k = 3, nprobe = 2)
        .collect().map(key(_)).toMap
      assert(got == batch, s"residual stream must equal batch\n got=$got\n batch=$batch")
      assert(got.size == 12, "4 queries x top-3")
    } finally q.stop()
  }

  test("stream-static join ANN probe equals the batch pruned ADC rank (nothing collected)") {
    import graft.pipeline.Similarity
    import org.apache.spark.sql.functions.col
    // the index-bigger-than-memory posture: the compressed lists stay in
    // their cid-partitioned parquet and are probed via a stateless
    // stream-static equi-join; per-query top-k through the k-cell
    // TopKByScore aggregate (update mode — each query's candidates land
    // in its own micro-batch)
    val vecs = (0L until 40L).map { i =>
      (i, (0 until 8).map(d =>
        (java.lang.Math.floorMod(graft.functions.TextHashes.splitmix(i * 31 + d), 1000L)
          .toDouble / 500.0) - 1.0))
    }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val dir = Scratch.dir("graft_ivfpq_sj_")
    Similarity.ivfPqWrite(df, dir, numCentroids = 4, lloydIters = 1, ivfSampleMod = 1,
      m = 4, ksub = 4, pqIters = 1, pqSampleMod = 1)
    implicit val enc = Encoders.product[(Long, Seq[Double])]
    val ms = MemoryStream[(Long, Seq[Double])](spark)
    val q = StreamingOps.annAdcStreamJoin(ms.toDF().toDF("vec_id", "embedding"), dir,
        k = 3, nprobe = 2)
      .writeStream.format("memory").queryName("ann_join_stream")
      .outputMode("update").option("checkpointLocation", tmpCheckpoint()).start()
    try {
      ms.addData(vecs.take(2)); q.processAllAvailable()
      ms.addData(vecs.slice(2, 4) :+ (99L -> Seq(1.0, 2.0))); q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getInt(3)) -> (r.getLong(1), math.round(r.getDouble(2) * 1e9))
      val got = spark.sql(
        "SELECT query_id, corpus_id, adc, rank FROM ann_join_stream").collect().map(key(_)).toMap
      val batch = Similarity.ivfPqAdcTopK(spark, dir,
          df.where(col("vec_id") < 4), k = 3, nprobe = 2)
        .collect().map(key(_)).toMap
      assert(got == batch, s"stream-static join must equal batch\n got=$got\n batch=$batch")
      assert(got.size == 12, "4 queries x top-3")
      assert(!got.keys.exists(_._1 == 99L), "wrong-dim query must emit no rows")
    } finally q.stop()
  }

  test("stream-static join ANN probe over a maintained index (append + delete) stays batch-exact") {
    import graft.pipeline.Similarity
    import org.apache.spark.sql.functions.col
    // the operational lifecycle composed: write a base index, append an
    // increment, delete a few ids, compact — the stream-static probe
    // reads whatever files the maintenance ops left and must still equal
    // the batch ADC rank over the same path (both sides see the same
    // survivor lists; nothing is cached driver-side to go stale)
    val vecs = (0L until 60L).map { i =>
      (i, (0 until 8).map(d =>
        (java.lang.Math.floorMod(graft.functions.TextHashes.splitmix(i * 31 + d), 1000L)
          .toDouble / 500.0) - 1.0))
    }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val dir = Scratch.dir("graft_ivfpq_sj_maint_")
    Similarity.ivfPqWrite(df.where(col("vec_id") < 40), dir,
      numCentroids = 4, lloydIters = 1, ivfSampleMod = 1,
      m = 4, ksub = 4, pqIters = 1, pqSampleMod = 1)
    Similarity.ivfPqAppend(df.where(col("vec_id") >= 40 && col("vec_id") < 50), dir)
    Similarity.ivfPqAppend(df.where(col("vec_id") >= 50), dir)
    Similarity.ivfPqDelete(
      spark.createDataFrame(Seq(Tuple1(5L), Tuple1(45L), Tuple1(55L))).toDF("vec_id"), dir)
    Similarity.ivfPqCompact(spark, dir, maxFilesPerCell = 1)
    implicit val enc = Encoders.product[(Long, Seq[Double])]
    val ms = MemoryStream[(Long, Seq[Double])](spark)
    val q = StreamingOps.annAdcStreamJoin(ms.toDF().toDF("vec_id", "embedding"), dir,
        k = 3, nprobe = 2)
      .writeStream.format("memory").queryName("ann_join_maint")
      .outputMode("update").option("checkpointLocation", tmpCheckpoint()).start()
    try {
      ms.addData(vecs.take(2)); q.processAllAvailable()
      ms.addData(vecs.slice(2, 4)); q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getInt(3)) -> (r.getLong(1), math.round(r.getDouble(2) * 1e9))
      val got = spark.sql(
        "SELECT query_id, corpus_id, adc, rank FROM ann_join_maint").collect().map(key(_)).toMap
      val batch = Similarity.ivfPqAdcTopK(spark, dir,
          df.where(col("vec_id") < 4), k = 3, nprobe = 2)
        .collect().map(key(_)).toMap
      assert(got == batch, s"maintained-index stream probe must equal batch\n got=$got\n batch=$batch")
      assert(!got.values.exists(v => Set(5L, 45L, 55L)(v._1)),
        "deleted ids must be unreachable through the stream probe")
    } finally q.stop()
  }

  test("stream-static join residual ANN probe equals the batch residual ADC rank") {
    import graft.pipeline.Similarity
    import org.apache.spark.sql.functions.col
    val vecs = (0L until 40L).map { i =>
      (i, (0 until 8).map(d =>
        (java.lang.Math.floorMod(graft.functions.TextHashes.splitmix(i * 31 + d), 1000L)
          .toDouble / 500.0) - 1.0))
    }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val dir = Scratch.dir("graft_ivfpqres_sj_")
    Similarity.ivfPqResWrite(df, dir, numCentroids = 4, lloydIters = 1, ivfSampleMod = 1,
      m = 4, ksub = 4, pqIters = 1, pqSampleMod = 1)
    // the persisted marker must gate the mode: a raw probe of the
    // residual index fails loudly instead of scoring wrong
    val bad = intercept[IllegalArgumentException] {
      StreamingOps.annAdcStreamJoin(df, dir, residual = false)
    }
    assert(bad.getMessage.contains("residual-encoded"))
    implicit val enc = Encoders.product[(Long, Seq[Double])]
    val ms = MemoryStream[(Long, Seq[Double])](spark)
    val q = StreamingOps.annAdcStreamJoin(ms.toDF().toDF("vec_id", "embedding"), dir,
        k = 3, nprobe = 2, residual = true)
      .writeStream.format("memory").queryName("ann_res_join_stream")
      .outputMode("update").option("checkpointLocation", tmpCheckpoint()).start()
    try {
      ms.addData(vecs.take(2)); q.processAllAvailable()
      ms.addData(vecs.slice(2, 4)); q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getInt(3)) -> (r.getLong(1), math.round(r.getDouble(2) * 1e9))
      val got = spark.sql(
        "SELECT query_id, corpus_id, adc, rank FROM ann_res_join_stream").collect().map(key(_)).toMap
      val batch = Similarity.ivfPqResAdcTopK(spark, dir,
          df.where(col("vec_id") < 4), k = 3, nprobe = 2)
        .collect().map(key(_)).toMap
      assert(got == batch, s"residual stream-static join must equal batch\n got=$got\n batch=$batch")
      assert(got.size == 12, "4 queries x top-3")
    } finally q.stop()
  }

  test("streaming z-order sink: micro-batches land curve-ordered beside resident files; manifest reconciles per batch") {
    import org.apache.spark.sql.functions.col
    val rows = for (l <- Seq("de", "en", "fr"); i <- 0L until 60L)
      yield (l, i, s"$l-$i")
    val df = spark.createDataFrame(rows).toDF("lang", "k", "payload")
    val zc = Seq("lang", "k")
    val snap = df.where(col("k") < 30)
    val st = graft.etl.Layout.zStats(snap, zc)
    val out = Scratch.dir("graft_zsink_") + "/t"
    graft.etl.Layout.zOrderWrite(snap, zc, out, bits = 8, numFiles = 1,
      stats = Some(st))
    graft.etl.Layout.saveZStats(spark, out, zc, st)
    graft.etl.Layout.manifestRefresh(spark, out, zc)
    def liveFiles() = new java.io.File(out).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val resident = liveFiles().map(f => f.getName -> f.lastModified()).toMap
    implicit val enc = Encoders.product[(String, Long, String)]
    val ms = MemoryStream[(String, Long, String)](spark)
    val q = StreamingOps.zOrderSinkStream(
      ms.toDF().toDF("lang", "k", "payload"), out, tmpCheckpoint(),
      maintainEvery = 2)
    try {
      val inc = rows.filter(_._2 >= 30)
      val (b1, rest) = inc.splitAt(40)
      val (b2, b3) = rest.splitAt(30)
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
      def keyset(d: org.apache.spark.sql.DataFrame) = d.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      assert(keyset(spark.read.parquet(out)) == (snap.collect()
          .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet ++ b1 ++ b2),
        "after two batches the layout must hold snapshot + every streamed row")
      assert(resident.forall { case (n, ts) =>
          liveFiles().exists(f => f.getName == n && f.lastModified() == ts) },
        "resident files must never move under streaming ingestion (pre-maintain)")
      // batch 2 (0-based) crosses maintainEvery=2: the sink compacts the
      // layout in the same foreachBatch slot, then reconciles the manifest
      val before = liveFiles().length
      ms.addData(b3); q.processAllAvailable()
      assert(liveFiles().length < before,
        s"the maintainEvery batch must shrink the file count, $before -> ${liveFiles().length}")
      assert(keyset(spark.read.parquet(out)) == rows.toSet,
        "self-maintenance must be content-invisible")
      val lf = liveFiles().length
      val pruned = graft.etl.Layout.prunedFiles(spark, out,
        Seq(graft.etl.Layout.Bound("k", 50L, 59L)))
      assert(pruned.nonEmpty && pruned.size <= lf,
        "the post-maintain manifest reconcile must keep pruning live")
      val pred = col("k").between(50, 59)
      assert(keyset(graft.etl.Layout.readPruned(spark, out,
          Seq(graft.etl.Layout.Bound("k", 50L, 59L))).where(pred))
          == keyset(spark.read.parquet(out).where(pred)),
        "manifest pruning over the maintained streamed layout must stay lossless")
    } finally q.stop()
  }

  test("streaming z-order sink folds externally-landed tombstones at its maintenance slot") {
    import org.apache.spark.sql.functions.col
    // a zOrderForget arriving BETWEEN micro-batches (a takedown hitting a
    // live ingestion layout) must (a) mask immediately for readLayout
    // consumers and (b) fold physically at the sink's next maintainEvery
    // slot — the self-maintaining stream inherits Θ(batch) forgetting
    // with no extra machinery, because the sink reconciles the manifest
    // per batch so the fold's completeness guard always holds.
    val rows = for (l <- Seq("en", "fr"); i <- 0L until 40L) yield (l, i, s"$l-$i")
    val df = spark.createDataFrame(rows).toDF("lang", "k", "payload")
    val zc = Seq("lang", "k")
    val snap = df.where(col("k") < 20)
    val st = graft.etl.Layout.zStats(snap, zc)
    val out = Scratch.dir("graft_zsinkfgt_") + "/t"
    graft.etl.Layout.zOrderWrite(snap, zc, out, bits = 8, numFiles = 1,
      stats = Some(st))
    graft.etl.Layout.saveZStats(spark, out, zc, st)
    graft.etl.Layout.manifestRefresh(spark, out, zc)
    implicit val enc = Encoders.product[(String, Long, String)]
    val ms = MemoryStream[(String, Long, String)](spark)
    val q = StreamingOps.zOrderSinkStream(
      ms.toDF().toDF("lang", "k", "payload"), out, tmpCheckpoint(),
      maintainEvery = 2)
    try {
      val inc = rows.filter(_._2 >= 20)
      val (b1, rest) = inc.splitAt(15)
      val (b2, b3) = rest.splitAt(15)
      ms.addData(b1); q.processAllAvailable()
      // the takedown lands between batches: id 3 (both langs resident in
      // the snapshot) and id 25 (only en-25 streamed so far — fr-25
      // arrives AFTER the forget and is masked by id too: tombstones
      // suppress the id until folded; re-ingesting a forgotten id is
      // zOrderUpsert's un-forget contract, not a plain append)
      assert(graft.etl.Layout.zOrderForget(spark, out, "k", Seq(3L, 25L)) == 3L,
        "en-3, fr-3 and en-25 are resident at forget time")
      def keyset(d: org.apache.spark.sql.DataFrame) = d.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      val expect = (snap.collect().map(r =>
          (r.getString(0), r.getLong(1), r.getString(2))).toSet ++ b1 ++ b2 ++ b3)
        .filterNot(t => Set(3L, 25L)(t._2))
      ms.addData(b2); q.processAllAvailable()
      assert(!keyset(graft.etl.Layout.readLayout(spark, out)).exists(t => Set(3L, 25L)(t._2)),
        "the mask must hide the batch while the stream keeps landing")
      // batch 2 crosses maintainEvery=2: the fold runs inside the same
      // serialized foreachBatch slot — tombstones drop physically
      ms.addData(b3); q.processAllAvailable()
      assert(!new java.io.File(s"$out/_tombstones").exists(),
        "the maintenance slot must fold and clear the tombstones")
      assert(keyset(spark.read.parquet(out)) == expect,
        "a BARE read after the fold must equal the shrunk content — physically gone")
    } finally q.stop()
  }
}
