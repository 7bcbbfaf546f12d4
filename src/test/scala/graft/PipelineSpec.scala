package graft

import graft.pipeline._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pipeline operators on crafted corpora with known duplicates/neighbors
  * (the synthetic driver docs contain no true near-dups). */
class PipelineSpec extends AnyFunSuite with SparkSuite {
  private def docs(texts: (Long, String)*) =
    spark.createDataFrame(texts).toDF("doc_id", "text")

  private val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"

  test("exact dedup: groups, counts, canonical flags") {
    val df = Dedup.exact(docs(1L -> "aaa", 2L -> "bbb", 3L -> "aaa", 4L -> "aaa"))
    val rows = df.collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(rows(1L) == (3L, true))
    assert(rows(3L) == (3L, false))
    assert(rows(4L) == (3L, false))
    assert(rows(2L) == (1L, true))
  }

  test("minhash LSH finds a near-duplicate pair, skips unrelated docs") {
    val nearDup = base.replace("tonight", "today") // 1-word edit
    val other = "completely different content about spark catalyst optimizer rules and physical plans here"
    val d = docs(1L -> base, 2L -> nearDup, 3L -> other)
    val cand = Dedup.minhashCandidates(d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cand.contains((1L, 2L)), s"expected (1,2) among ${cand.keys}")
    assert(cand((1L, 2L)) > 0.5)
    assert(!cand.contains((1L, 3L)) && !cand.contains((2L, 3L)))
    // exact verification: jaccard of the pair is high and exceeds none for others
    val j = Dedup.ngramJaccard(
      spark.createDataFrame(Seq((1L, 2L))).toDF("a_id", "b_id"), d).collect()
    assert(j.head.getDouble(2) > 0.7)
  }

  test("simhash: identical docs at hamming 0, near-dups close, unrelated far") {
    val d = docs(1L -> base, 2L -> base, 3L -> "spark catalyst tungsten codegen shuffle partitions broadcast join")
    val sig = Dedup.simhash(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) == sig(2L))
    assert(java.lang.Long.bitCount(sig(1L) ^ sig(3L)) > 10)
    val pairs = Dedup.simhashCandidates(d, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((1L, 2L)) == 0)
  }

  test("asof join: equal-time match, staleness tolerance, no-quote nulls") {
    import org.apache.spark.sql.Row
    val trades = spark.createDataFrame(Seq(("a", 1L, 9.0), ("a", 3L, 10.0), ("a", 6L, 11.0),
      ("b", 5L, 20.0))).toDF("symbol", "ord", "trade_px")
    val quotes = spark.createDataFrame(Seq(("a", 2L, 100.0), ("a", 3L, 101.0), ("a", 4L, 102.0)))
      .toDF("symbol", "ord", "quote_px")
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("symbol", "ord").collect()
      .map(r => (r.getString(0), r.getLong(1), Option(r.get(3)), Option(r.get(4)))).toSeq
    val plain = rows(graft.etl.AsOf.asofJoin(trades, quotes, valueCols = Seq("quote_px")))
    assert(plain == Seq(
      ("a", 1L, None, None),                       // before any quote
      ("a", 3L, Some(101.0), Some(3L)),            // equal-time quote matches
      ("a", 6L, Some(102.0), Some(4L)),            // latest at-or-before
      ("b", 5L, None, None)))                      // symbol with no quotes
    val tol = rows(graft.etl.AsOf.asofJoin(trades, quotes, valueCols = Seq("quote_px"),
      tolerance = Some(1L)))
    assert(tol == Seq(
      ("a", 1L, None, None),
      ("a", 3L, Some(101.0), Some(3L)),            // age 0 <= 1
      ("a", 6L, None, None),                       // age 2 > tolerance 1 → no match
      ("b", 5L, None, None)))
  }

  test("decontamination flags any shared k-gram, including the short-text fallback") {
    val bench = docs(100L -> "the secret benchmark answer is forty two exactly",
      101L -> "tiny")
    val corpus = docs(
      1L -> "padding words then the secret benchmark answer is forty two exactly and more",
      2L -> "completely unrelated text with no overlapping five gram sequences here at all",
      3L -> "tiny") // < k tokens: whole-text shingle must match bench's same fallback
    val flags = Dedup.decontaminate(corpus, bench).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(flags == Map(1L -> true, 2L -> false, 3L -> true))
  }

  test("stratified hash sampling: deterministic, rate-accurate, stratum-scoped") {
    val df = spark.createDataFrame((0L until 4000L).map(i =>
      (i, if (i % 4 == 0) "keep_all" else "down"))).toDF("id", "stratum")
    val kept = df.select(col("id"), col("stratum"),
        Sampling.stratifiedKeep(col("id"), col("stratum"), Map("down" -> 0.25)).as("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    // unlisted stratum defaults to rate 1.0
    assert(kept.filter(_._2 == "keep_all").forall(_._3))
    // listed stratum lands near its rate (hash-uniform: ±5% on 3000 rows)
    val downRate = kept.filter(_._2 == "down").count(_._3).toDouble / 3000
    assert(math.abs(downRate - 0.25) < 0.05, s"down stratum kept $downRate")
    // decision is a pure function of id — rerun identical
    val again = df.select(col("id"),
        Sampling.stratifiedKeep(col("id"), col("stratum"), Map("down" -> 0.25)).as("k"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(kept.forall { case (id, _, k) => again(id) == k })
  }

  test("range join: exactly-once across bucket boundaries, bounds inclusive") {
    // interval [3, 20] spans buckets 0..5 at width 4 — every contained
    // point must appear exactly once despite the interval's 6 bucket copies
    val points = spark.createDataFrame((0L to 25L).map(i => ("a", i, i * 1.5)))
      .toDF("symbol", "ord", "v")
    val intervals = spark.createDataFrame(Seq(("a", 3L, 20L), ("a", 22L, 22L), ("b", 0L, 9L)))
      .toDF("symbol", "start", "end")
    val got = graft.etl.RangeJoin.rangeJoin(points, intervals, "ord", "start", "end",
        bucketWidth = 4L)
      .select("symbol", "start", "ord").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.length == got.distinct.length)                       // exactly-once
    assert(got.filter(_._2 == 3L).map(_._3).sorted == (3L to 20L))  // inclusive both ends
    assert(got.filter(_._2 == 22L).map(_._3) == Seq(22L))           // single-point interval
    assert(!got.exists(_._1 == "b"))                                // by-key isolation
  }

  test("fused shingle minhash equals the string-shingle portable formulation") {
    // modular-composition identity fp(a ++ ' ' ++ b) = ((fp(a)·131+32)·131^|b| + fp(b)) mod P
    // must hold on: normal text, short text (< k tokens), single token,
    // empty text, repeated/multi-space runs
    val d = docs(
      1L -> base,
      2L -> "one two",            // short-text fallback: one shingle of all tokens
      3L -> "single",
      4L -> "",
      5L -> "a  b   c d",         // multi-space: split semantics shared by both paths
      6L -> (base + " " + base))
    val fused = Dedup.minhashSignatures(d, portable = true).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val unfused = d.select(col("doc_id"),
        graft.functions.TextHashes.minhashSigPoly(Dedup.shingles(col("text")), 32).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fused == unfused)
  }

  test("semantic dedup: cosine near-dup pairs cluster transitively, unrelated stay singletons") {
    // 0≈1≈2 (a transitive chain through 1), 3 orthogonal ⇒ clusters {0,1,2} and {3}
    val vecs = Seq(
      (0L, Array(1.0f, 0.02f, 0.0f, 0.0f)), (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, -0.02f, 0.0f, 0.0f)), (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)))
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDup(df, threshold = 0.95, planes = 2)
    val clusters = Dedup.components(pairs, df.select(col("vec_id")), idCol = "vec_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(clusters(0L) == (0L, true))
    assert(clusters(1L) == (0L, false))
    assert(clusters(2L) == (0L, false))
    assert(clusters(3L) == (3L, true))
  }

  test("randomProject: zero-term skip is bit-identical to the full fold") {
    // the scaladoc claims skipping zero-weight terms equals the complete
    // left fold (acc + v·0 == acc); pin it bit-for-bit against a plain
    // Scala replay of the FULL fold, zero terms included
    val inDim = 16; val outDim = 8
    val vecs = (0L until 20L).map(i =>
      (i, Array.tabulate(inDim)(d => (math.sin(i * 37.0 + d) * 3).toFloat)))
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val got = Similarity.randomProject(df, inDim, outDim).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](2).toArray).toMap
    vecs.foreach { case (id, v) =>
      val want = Array.tabulate(outDim) { k =>
        (0 until inDim).foldLeft(0.0)((acc, j) =>
          acc + v(j).toDouble * Similarity.rpSign(j, k, outDim))
      }
      assert(java.util.Arrays.equals(got(id), want), s"vec $id drifted")
    }
  }

  test("rpSign matrix mixes signs within every output dimension") {
    // regression for the LCG-parity flaw: with a power-of-two-modulus LCG
    // the flat index's parity leaked through %6, so every output dim got
    // weights of one sign only (subset sums — no JL property). splitmix
    // decorrelates: each dim must see BOTH signs, and global density must
    // sit near the Achlioptas 1/3-per-sign split
    val inDim = 64; val outDim = 16
    val signs = Array.tabulate(outDim)(k =>
      (0 until inDim).map(j => Similarity.rpSign(j, k, outDim)))
    signs.zipWithIndex.foreach { case (colSigns, k) =>
      assert(colSigns.contains(1.0) && colSigns.contains(-1.0),
        s"output dim $k is single-signed: ${colSigns.distinct}")
    }
    val all = signs.flatten
    val plus = all.count(_ == 1.0).toDouble / all.length
    val minus = all.count(_ == -1.0).toDouble / all.length
    assert(math.abs(plus - 1.0 / 6) < 0.05 && math.abs(minus - 1.0 / 6) < 0.05,
      s"density drifted off the Achlioptas 1/6-per-sign split: +$plus −$minus")
  }

  test("rp re-rank: exact cosines on the candidate set, identical-vector recall") {
    // 0 and 1 identical ⇒ each must shortlist the other (rp spaces
    // preserve equality exactly) and re-rank it first with cosine 1
    val vecs = (0L until 12L).map {
      case 0L => (0L, Array.tabulate(6)(d => (d + 1).toFloat))
      case 1L => (1L, Array.tabulate(6)(d => (d + 1).toFloat))
      case i  => (i, Array.tabulate(6)(d => math.cos(i * 13.0 + d * 5).toFloat))
    }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val top = Similarity.rpRerankTopK(df, df.where(col("vec_id") < 2),
        inDim = 6, outDim = 4, shortlist = 4, k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(3).toLong) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(top((0L, 1L)) == (1L, 1.0))
    assert(top((1L, 1L)) == (0L, 1.0))
  }

  test("brute-force ANN ranks an identical vector first with cosine 1") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)), (3L, Array(0.7f, 0.7f, 0.0f)))
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(df, df.where(col("vec_id") === 0), k = 3).collect()
      .sortBy(_.getAs[Int]("rank"))
    assert(top.head.getAs[Long]("corpus_id") == 1L)
    assert(math.abs(top.head.getAs[Double]("cosine") - 1.0) < 1e-9)
    assert(top.last.getAs[Long]("corpus_id") == 2L) // orthogonal ranks last
  }

  test("LSH ANN buckets identical vectors together") {
    val vecs = Seq((0L, Array.fill(16)(0.5f)), (1L, Array.fill(16)(0.5f)),
      (2L, Array.tabulate(16)(i => if (i % 2 == 0) 1.0f else -1.0f)))
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val top = Similarity.lshTopK(df, df.where(col("vec_id") === 0), k = 2).collect()
    assert(top.exists(r => r.getAs[Long]("corpus_id") == 1L &&
      math.abs(r.getAs[Double]("cosine") - 1.0) < 1e-9))
  }

  test("langId picks the dominant stopword language") {
    val d = docs(
      1L -> "the cat is on the mat and it is happy for now",
      2L -> "der hund ist nicht mit der katze und das ist gut",
      3L -> "el perro es un animal que vive en la casa por aqui")
    val out = d.select(col("doc_id"), TextStats.langId(col("text"))).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en" && out(2L) == "de" && out(3L) == "es")
  }

  test("text stats: token counts and ratios") {
    val d = docs(1L -> "Hello, world! 42 times.")
    val r = d.select(
      TextStats.nTokens(col("text")),
      TextStats.bpeishTokens(col("text")),
      TextStats.alphaRatio(col("text")),
      TextStats.fingerprint(col("text")),
      TextStats.fingerprint(concat(col("text"), lit("  ")))).head()
    assert(r.getInt(0) == 4)
    assert(r.getInt(1) == 7) // Hello , world ! 42 times .
    assert(r.getDouble(2) > 0.5 && r.getDouble(2) < 0.8)
    assert(r.getLong(3) == r.getLong(4)) // fingerprint ignores trailing whitespace
  }

  test("IVF ANN: exact when nprobe == numCentroids, finds identical vector when probed") {
    val rnd = new scala.util.Random(5)
    val vecs = (0L until 60L).map(i => (i, Array.fill(16)(rnd.nextFloat() - 0.5f))) :+
      (60L, Array.fill(16)(0.25f)) :+ (61L, Array.fill(16)(0.25f)) // identical pair
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val q = df.where(col("vec_id") === 60)
    // full probe == brute force
    val full = Similarity.ivfTopK(df, q, k = 3, numCentroids = 8, nprobe = 8).collect()
      .sortBy(_.getAs[Int]("rank"))
    val brute = Similarity.bruteForceTopK(df, q, k = 3).collect()
      .sortBy(_.getAs[Int]("rank"))
    assert(full.map(_.getAs[Long]("corpus_id")).toSeq == brute.map(_.getAs[Long]("corpus_id")).toSeq)
    assert(full.head.getAs[Long]("corpus_id") == 61L &&
      math.abs(full.head.getAs[Double]("cosine") - 1.0) < 1e-9)
    // narrow probe still finds the identical vector (same list as the query)
    val narrow = Similarity.ivfTopK(df, q, k = 3, numCentroids = 8, nprobe = 1).collect()
    assert(narrow.exists(r => r.getAs[Long]("corpus_id") == 61L))
  }

  test("simhash pigeonhole recall: every Hamming<=7 pair found (vs brute force)") {
    val words = base.split(" ")
    val variants = (0 until 30).map { i =>
      val w = words.clone(); w(i % w.length) = s"tok$i"; (i.toLong, w.mkString(" "))
    } :+ (100L -> base) :+ (101L -> base) // guaranteed Hamming-0 pair
    val d = docs(variants: _*)
    val sigs = Dedup.simhash(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      if java.lang.Long.bitCount(sigs(a) ^ sigs(b)) <= 7
    } yield (a, b)).toSet
    val got = Dedup.simhashCandidates(d, maxHamming = 7).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty)
    assert(got == expected, s"missed: ${expected -- got}, spurious: ${got -- expected}")
    // thresholds beyond the pigeonhole guarantee are refused, not silently under-recalled
    intercept[IllegalArgumentException](Dedup.simhashCandidates(d, maxHamming = 8))
  }

  test("IVF Lloyd refinement: recall@5 at fixed nprobe >= unrefined seed centroids") {
    val rnd = new scala.util.Random(13)
    // three gaussian-ish clusters in 8-d
    val centers = Seq(Array.fill(8)(1.0f), Array.fill(8)(-1.0f),
      Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f))
    val vecs = (0L until 120L).map { i =>
      val c = centers((i % 3).toInt)
      (i, c.map(x => x + (rnd.nextFloat() - 0.5f) * 0.6f))
    }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val q = df.where(col("vec_id") < 6)
    def recall(iters: Int): Double = {
      val approx = Similarity.ivfTopK(df, q, k = 5, numCentroids = 6, nprobe = 2,
        lloydIters = iters).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = Similarity.bruteForceTopK(df, q, k = 5).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (approx & exact).size.toDouble / exact.size
    }
    val r0 = recall(0); val r3 = recall(3)
    assert(r3 >= r0, s"Lloyd refinement degraded recall: $r3 < $r0")
    assert(r3 > 0.8, s"refined recall@5 too low: $r3")
  }

  test("cosineNearDup bucket count scales with corpus size") {
    assert(Similarity.planesForCorpus(1000) == 4)
    assert(Similarity.planesForCorpus(1L << 30, 4096) == 18) // 2^30/2^12
    assert(Similarity.planesForCorpus(1L << 40) > Similarity.planesForCorpus(1L << 30))
  }

  test("persisted IVF index: write/query round-trip equals the in-memory path") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 80L).map(i => (i, Array.fill(8)(rnd.nextFloat() - 0.5f)))
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val q = df.where(col("vec_id") < 4)
    val dir = Scratch.dir("graft_ivf_")
    Similarity.ivfWrite(df, dir, numCentroids = 5)
    val persisted = Similarity.ivfQuery(spark, dir, q, k = 3, nprobe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val inMem = Similarity.ivfTopK(df, q, k = 3, numCentroids = 5, nprobe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(persisted == inMem)
    // lists are laid out one directory per centroid → probe-side pruning
    val listDirs = new java.io.File(s"$dir/lists").listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("cid="))
    assert(listDirs.nonEmpty && listDirs.length <= 5)
  }

  test("components: min-label propagation finds planted clusters and singletons") {
    // components: {1,2,3} (chain), {5,6} (pair), {4}, {7} (singletons)
    val pairs = spark.createDataFrame(Seq((2L, 1L), (3L, 2L), (5L, 6L))).toDF("a_id", "b_id")
    val ids = spark.createDataFrame(Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).map(Tuple1(_))).toDF("doc_id")
    val got = Dedup.components(pairs, ids).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got == Map(
      1L -> (1L, true), 2L -> (1L, false), 3L -> (1L, false),
      4L -> (4L, true), 5L -> (5L, true), 6L -> (5L, false), 7L -> (7L, true)))
  }

  test("chunkTokens: window starts, short tail, single-chunk short docs, full coverage") {
    // doc 1: 11 tokens, size 4, stride 3 → nch = 1+ceil(7/3) = 4, starts
    // 0,3,6,9; the last window runs short (t10 t11). A 10-token doc needs
    // only 3 (start 6 already covers through t10) — no degenerate
    // fully-contained tail chunk is emitted.
    val d = docs(
      1L -> (1 to 11).map(i => s"t$i").mkString(" "),
      2L -> "a b c",   // shorter than size → exactly one chunk
      3L -> (1 to 10).map(i => s"t$i").mkString(" "))
    val got = Packing.chunkTokens(d, size = 4, overlap = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getInt(2), r.getString(3))).toMap
    assert(got((1L, 0L)) == (4, "t1 t2 t3 t4"))
    assert(got((1L, 1L)) == (4, "t4 t5 t6 t7"))
    assert(got((1L, 2L)) == (4, "t7 t8 t9 t10"))
    assert(got((1L, 3L)) == (2, "t10 t11"), "final window runs short, never spills past the doc")
    assert(got((2L, 0L)) == (3, "a b c"))
    assert(got.keys.count(_._1 == 3L) == 3)
    assert(got.size == 8)
    // every token index is covered by at least one chunk (the defining
    // property: no token of any doc is lost to the chunking)
    val covered = got.keys.filter(_._1 == 1L).map(_._2).flatMap(c => (c * 3 + 1) to math.min(c * 3 + 4, 11)).toSet
    assert(covered == (1 to 11).toSet)
  }

  test("assignSplit: deterministic, fractions roughly honored, independent of sampling") {
    val ids = spark.range(0, 10000).toDF("doc_id")
    val s1 = Sampling.assignSplit(ids).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val s2 = Sampling.assignSplit(ids.repartition(7)).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(s1 == s2, "assignment must not depend on partition layout")
    val byClass = s1.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(byClass("train") > 9600 && byClass("val") > 40 && byClass("test") > 40,
      s"98/1/1 fractions should roughly hold on 10k uniform ids: $byClass")
    assert(byClass.values.sum == 10000)
  }

  test("Misra-Gries vocabulary: exact regime equals groupBy, layout-independent") {
    // 40 docs over an 8-token vocabulary, capacity 64 >> 8 → exact
    val d = docs((0 until 40).map(i =>
      i.toLong -> (0 to i % 7).map(w => s"w${(i + w) % 8}").mkString(" ")): _*)
    def counts(df: org.apache.spark.sql.DataFrame) =
      Vocab.topKHeavyHitters(df, k = 20, capacity = 64)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toList
    val exact = Vocab.topK(d, k = 20, exactDocFreq = true)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toList
    assert(counts(d) == exact)
    // repartitioning forces real partial merges + buffer (de)serialization
    // through the shuffle; exact regime must be layout-independent
    assert(counts(d.repartition(11)) == exact)
  }

  test("Misra-Gries bigram leg: exact regime equals the exact n-gram ranking") {
    val d = docs((0 until 30).map(i =>
      i.toLong -> (0 to 3 + i % 4).map(w => s"w${(i * 3 + w) % 6}").mkString(" ")): _*)
    val mg = Vocab.ngramTopKHeavyHitters(d, n = 2, k = 15, capacity = 256)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toList
    val exact = Vocab.ngramTopK(d, n = 2, k = 15, exactDocFreq = true)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toList
    assert(mg == exact)
  }

  test("Misra-Gries vocabulary: approximate regime keeps the heavy hitter in bound") {
    // 60x "hot" among 30 distinct cold tokens, capacity 4: the MG bound
    // says est >= true - N/(capacity+1) = 60 - 90/5 = 42 and the heavy
    // hitter (freq > N/(capacity+1)) is GUARANTEED to survive
    val rows = (0 until 60).map(i => (i.toLong, "hot")) ++
      (0 until 30).map(i => (100L + i, s"cold$i"))
    val d = spark.createDataFrame(rows).toDF("doc_id", "text")
    val got = Vocab.topKHeavyHitters(d, k = 4, capacity = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.contains("hot"), "a token above N/(capacity+1) frequency must survive")
    assert(got("hot") >= 42 && got("hot") <= 60,
      s"estimate must be one-sided within N/(capacity+1): ${got("hot")}")
  }

  test("Misra-Gries lazy-offset buffer is bit-identical to the eager formulation") {
    // the amortized decrement is a REPRESENTATION change: the live set and
    // every estimate must match the textbook decrement-every-counter loop
    // on any stream, including the adversarial min-entry/unseen alternation
    // that stresses the stale-min purge path
    def eager(stream: Seq[String], cap: Int): Map[String, Long] = {
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      stream.foreach { t =>
        if (m.contains(t)) m(t) += 1
        else if (m.size < cap) m(t) = 1L
        else m.keys.toArray.foreach { k =>
          if (m(k) == 1L) m.remove(k) else m(k) -= 1 }
      }
      m.toMap
    }
    def viaSpark(stream: Seq[String], cap: Int): Map[String, Long] = {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val rdd = spark.sparkContext.parallelize(stream.map(Row(_)), numSlices = 1)
      spark.createDataFrame(rdd, StructType(Seq(StructField("token", StringType))))
        .agg(graft.functions.MisraGries.misraGries(col("token"), cap).as("mg"))
        .select(explode(col("mg")).as("e"))
        .select(col("e.token"), col("e.n_occurrences"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val rnd = new scala.util.Random(41)
    val longTail = (0 until 3000).map { _ =>
      val r = rnd.nextInt(100)
      if (r < 40) "hot" else if (r < 60) s"warm${r % 5}" else s"cold${rnd.nextInt(400)}"
    }
    // adversarial: keep re-hitting a low counter between unseen arrivals
    val adversarial = (0 until 500).flatMap(i => Seq("lowcount", s"unseen$i"))
    val mixed = rnd.shuffle(longTail ++ adversarial).toList
    for ((stream, label) <- Seq((longTail, "long-tail"), (adversarial, "adversarial"),
        (mixed, "mixed")); cap <- Seq(3, 8, 64)) {
      assert(viaSpark(stream, cap) == eager(stream, cap),
        s"$label stream at capacity $cap diverged from the eager reference")
    }
  }

  test("unigram LM score: hand-computed means, salted path bit-identical") {
    // corpus: N=5 tokens; n(a)=3, n(b)=1, n(c)=1
    val d = docs(1L -> "a a b", 2L -> "a c")
    def lp(n: Long) = math.log(n / 5.0)
    val want = Map(
      1L -> (3L, (2 * lp(3) + lp(1)) / 3),
      2L -> (2L, (lp(3) + lp(1)) / 2))
    val got = Vocab.unigramScore(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    want.foreach { case (id, (n, v)) =>
      assert(got(id)._1 == n)
      assert(math.abs(got(id)._2 - v) < 1e-9, s"doc $id: ${got(id)._2} vs $v")
    }
    // salting only re-partitions; the decimal-term sum is exact, so the
    // salted result must be IDENTICAL, not merely close
    val salted = Vocab.unigramScore(d, saltBuckets = 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(salted == got)
  }

  test("vocab encode: rank-by-frequency ids, OOV to 0, token order preserved") {
    val d = docs(
      1L -> "b b b a a c",
      2L -> "a b zzz",   // zzz falls outside vocabSize=3? no — 4 distinct; cap at 3
      3L -> "c a")
    // counts: b=4, a=4, c=2, zzz=1 → vocab(3): a=1 (tie a<b), b=2, c=3; zzz OOV
    val vocab = Vocab.assignIds(d, vocabSize = 3)
      .collect().map(r => r.getString(0) -> r.getInt(2)).toMap
    assert(vocab == Map("a" -> 1, "b" -> 2, "c" -> 3))
    val enc = Vocab.encode(d, Vocab.assignIds(d, vocabSize = 3))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(enc(1L) == Seq(2, 2, 2, 1, 1, 3))
    assert(enc(2L) == Seq(1, 2, 0), "out-of-vocabulary must encode as 0")
    assert(enc(3L) == Seq(3, 1))
  }

  test("vocab encode: join path is row-for-row identical to the literal path") {
    // force the dispatch both ways over a corpus with the edge shapes:
    // OOV token, empty-token doc, null text, duplicate tokens
    val d = spark.createDataFrame(Seq(
        (1L, "b b b a a c"), (2L, "a b zzz"), (3L, "c a"), (4L, "   ")))
      .toDF("doc_id", "text")
      .unionByName(spark.sql("SELECT CAST(5 AS LONG) AS doc_id, CAST(NULL AS STRING) AS text"))
    val vocab = Vocab.assignIds(d, vocabSize = 3)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Int](1).toList)).toMap
    val literal = asMap(Vocab.encode(d, vocab))
    val joined = asMap(Vocab.encodeJoin(d, vocab))
    assert(literal == joined, s"literal $literal vs join $joined")
    assert(joined(4L) == Nil, "whitespace-only doc must encode to an empty sequence")
    assert(joined(5L) == null, "null text must encode to null")
    // and the auto dispatch actually routes: maxLiteralVocab=1 < |vocab|
    assert(asMap(Vocab.encode(d, vocab, maxLiteralVocab = 1)) == literal)
  }

  test("bloom decontamination: superset of exact, one-sided error under saturation") {
    val benchText = base
    val cleanText = "completely unrelated content about catalyst physical plans and codegen stages today"
    val corpus = docs(1L -> benchText, 2L -> cleanText)
    val bench = docs(10L -> benchText)
    // roomy bitmap: bloom agrees with the exact flag (no FPs at 2^20 bits)
    val roomy = Dedup.decontaminateBloom(corpus, bench)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(roomy == Map(1L -> true, 2L -> false))
    // saturated bitmap: a wide benchmark (hundreds of distinct shingles,
    // ~3x that in positions) into 64 bits sets EVERY bit, so the clean
    // doc is flagged too — the one-sided error is real and deterministic,
    // and the contaminated doc can never be cleared
    val wideBench = docs((0 until 40).map(i =>
      (100L + i) -> (0 until 8).map(w => s"tok${i}x$w").mkString(" ")): _*)
    val tiny = Dedup.decontaminateBloom(corpus, bench.unionByName(wideBench), mBits = 64)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(tiny(1L), "true contamination must survive any bitmap size")
    assert(tiny(2L), "a 64-bit bitmap over dozens of fps must saturate and flag the clean doc")
  }

  test("bloom bitmap build is partition-layout-independent") {
    // bit_or commutes and the positions are a pure function of the fp, so
    // the collected words must be identical under any repartitioning —
    // the property that makes the sketch reproducible on a cluster
    val fps = spark.range(0, 500).selectExpr("(id * 7919) % 1000000007 AS fp")
    val a = Dedup.bloomBitmap(fps, mBits = 1 << 12)
    val b = Dedup.bloomBitmap(fps.repartition(13), mBits = 1 << 12)
    assert(a.k == b.k && java.util.Arrays.equals(a.words, b.words))
  }

  test("clusterRepresentatives: keep-longest policy, id tiebreak, nulls lose") {
    // cluster 10: lengths 3/5/5 → longest wins, tie broken by ascending id
    // cluster 20: null text vs short text → null ranks last, short kept
    // cluster 30: singleton → trivially kept
    val clusters = spark.createDataFrame(Seq(
      (1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L), (5L, 20L), (6L, 30L)
    )).toDF("doc_id", "cluster_id")
    val d = spark.createDataFrame(Seq(
      (1L, Option("abc")), (2L, Option("abcde")), (3L, Option("vwxyz")),
      (4L, Option.empty[String]), (5L, Option("x")), (6L, Option("any"))
    )).toDF("doc_id", "text")
    val keep = Dedup.clusterRepresentatives(clusters, d, length(col("text")))
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(keep == Map(1L -> false, 2L -> true, 3L -> false,
      4L -> false, 5L -> true, 6L -> true))
  }

  test("components: long chain converges within the iteration bound") {
    val n = 30
    val pairs = spark.createDataFrame(
      (1 until n).map(i => (i.toLong, i.toLong + 1))).toDF("a_id", "b_id")
    val ids = spark.createDataFrame((1 to n).map(i => Tuple1(i.toLong))).toDF("doc_id")
    val got = Dedup.components(pairs, ids).collect()
    assert(got.forall(_.getLong(1) == 1L))
    assert(got.count(_.getBoolean(2)) == 1)
  }

  test("removeFrequentSpans: covered positions drop, short-doc fallback, overlap union") {
    val d = docs(
      1L -> "x alpha beta gamma y",   // shared gram mid-doc
      2L -> "Alpha BETA gamma z w",   // same gram at doc start, case-normalized
      3L -> "p q r s t",              // untouched
      4L -> "alpha beta",             // short-doc fallback: whole text is the gram
      5L -> "alpha beta",
      6L -> "a b c d e",              // two overlapping frequent grams
      7L -> "z a b c d")
    val got = Dedup.removeFrequentSpans(d, minDocs = 2).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    assert(got(1L) == ((5, 3, "x y")))
    assert(got(2L) == ((5, 3, "z w")), "rebuilt text is the normalized token stream")
    assert(got(3L) == ((5, 0, "p q r s t")))
    assert(got(4L) == ((2, 2, "")), "a frequent short doc empties entirely")
    assert(got(5L) == ((2, 2, "")))
    // doc 6: grams "a b c"(covers 0-2) and "b c d"(covers 1-3) are both
    // frequent — coverage is the UNION, only "e" survives
    assert(got(6L) == ((5, 4, "e")))
    assert(got(7L) == ((5, 4, "z")))
  }

  test("removeFrequentSpans: empty frequent set is the identity rewrite") {
    val d = docs(1L -> "p q r s t", 2L -> "u v w x y")
    val got = Dedup.removeFrequentSpans(d, minDocs = 2).collect()
      .map(r => r.getLong(0) -> (r.getInt(2), r.getString(3))).toMap
    assert(got(1L) == ((0, "p q r s t")) && got(2L) == ((0, "u v w x y")))
  }

  test("removeFrequentSpans: fp-short-circuit rewrite is bit-identical to the string probe") {
    // the fp leg probes driver-replayed rolling fps and only
    // string-confirms on hit — same output by construction IF the driver
    // replay matches ShingleFps' combine exactly; this corpus exercises
    // the paths that could break it: multi-codepoint tokens (é, 漢),
    // short-doc all-tokens grams, overlapping frequent windows, and a
    // doc that empties entirely
    val d = docs(
      1L -> "x alpha beta gamma y",
      2L -> "Alpha BETA gamma z w",
      3L -> "p q r s t",
      4L -> "café 漢字 test",
      5L -> "café 漢字 test",
      6L -> "a b c d e",
      7L -> "z a b c d",
      8L -> "alpha beta")
    val direct = Dedup.removeFrequentSpans(d, minDocs = 2, fpRewrite = Some(false))
      .orderBy("doc_id").collect().toSeq
    val fp = Dedup.removeFrequentSpans(d, minDocs = 2, fpRewrite = Some(true))
      .orderBy("doc_id").collect().toSeq
    assert(fp == direct)
    // sanity on the interesting rows, not just self-consistency
    val m = fp.map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(m(4L) == "" && m(5L) == "", "frequent short docs empty on both legs")
    assert(m(6L) == "e" && m(7L) == "z", "overlap union agrees on both legs")
  }

  test("removeFrequentSpans: fp and direct legs agree on a randomized unicode corpus") {
    // seeded fuzz over the replay-sensitive surface: token content is
    // built from multi-byte codepoints INCLUDING a surrogate pair (🦀 —
    // fpAndPow iterates codepoints, gramPolyFp must agree), doc lengths
    // straddle the <k all-tokens fallback, and a small shared vocab
    // guarantees cross-doc frequent grams while a wide tail stays
    // singleton
    val rnd = new scala.util.Random(20260815L)
    val pieces = Array("a", "b", "é", "ß", "漢", "字", "🦀", "x", "y", "z", "λ", "ق")
    def tok() = Array.fill(1 + rnd.nextInt(3))(pieces(rnd.nextInt(pieces.length))).mkString
    val vocab = Array.fill(14)(tok())
    val corpus = (1L to 300L).map { id =>
      val n = 1 + rnd.nextInt(12)
      val words =
        if (id % 5 == 0) Seq.fill(n)(tok())                  // singleton tail
        else Seq.fill(n)(vocab(rnd.nextInt(vocab.length)))   // shared vocab
      id -> words.mkString(" ")
    }
    val d = docs(corpus: _*)
    val direct = Dedup.removeFrequentSpans(d, minDocs = 2, fpRewrite = Some(false))
      .orderBy("doc_id").collect().toSeq
    val fp = Dedup.removeFrequentSpans(d, minDocs = 2, fpRewrite = Some(true))
      .orderBy("doc_id").collect().toSeq
    assert(fp == direct)
    // third leg: the beyond-literal-bound join rewrite (set stays a
    // distributed frame) must also be bit-identical on the same fuzz
    val joined = Dedup.removeFrequentSpans(d, minDocs = 2, maxLiteralSpans = 0)
      .orderBy("doc_id").collect().toSeq
    assert(joined == direct)
    // the corpus must actually exercise removal, not vacuously agree
    assert(direct.map(_.getInt(2)).sum > 0, "no token was ever removed — corpus too sparse")
  }

  test("removeFrequentSpans: join leg equals the literal leg on the edge corpus") {
    // the hand-picked edge corpus from the fp test: short docs below k,
    // fully-emptied docs, overlapping windows, unicode — now through the
    // set-as-frame plan (forced via maxLiteralSpans = 0)
    val d = docs(
      1L -> "x alpha beta gamma y",
      2L -> "Alpha BETA gamma z w",
      3L -> "p q r s t",
      4L -> "café 漢字 test",
      5L -> "café 漢字 test",
      6L -> "a b c d e",
      7L -> "z a b c d",
      8L -> "alpha beta")
    val lit0 = Dedup.removeFrequentSpans(d, minDocs = 2, fpRewrite = Some(false))
      .orderBy("doc_id").collect().toSeq
    val join0 = Dedup.removeFrequentSpans(d, minDocs = 2, maxLiteralSpans = 0)
      .orderBy("doc_id").collect().toSeq
    assert(join0 == lit0)
    val m = join0.map(r => r.getLong(0) -> (r.getInt(2), r.getString(3))).toMap
    assert(m(4L)._2 == "" && m(5L)._2 == "", "frequent short docs empty via the join leg too")
    assert(m(3L) == ((0, "p q r s t")), "untouched doc survives the left join intact")
  }

  test("tokenBudgetSelect: prefix rule, and the bucket-refined leg is identical") {
    import org.apache.spark.sql.functions.col
    // 3 sources × 12 docs of varying length (quality varies through the
    // length score) + exact-tie pairs (identical text ⇒ identical quality,
    // tiebreak on id) sitting right at budget boundaries
    val rows = (0 until 12).flatMap { i =>
      Seq(("a", i.toLong, ("alpha beta gamma " * (i + 1)).trim),
          ("b", 100L + i, ("delta epsilon " * (12 - i)).trim),
          ("c", 200L + i, if (i % 2 == 0) "tie tie tie tie tie" else ("zeta " * (i + 2)).trim))
    }
    val d = spark.createDataFrame(rows.map(r => (r._2, r._3, r._1)))
      .toDF("doc_id", "text", "source")
    for (budget <- Seq(5L, 37L, 200L, 100000L)) {
      val exact = Sampling.tokenBudgetSelect(d, budget)
      val refined = Sampling.tokenBudgetSelect(d, budget, bucketRefined = true, buckets = 4)
      val eRows = exact.collect().map(r => (r.getLong(0), r.getDouble(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      val rRows = refined.collect().map(r => (r.getLong(0), r.getDouble(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      assert(eRows == rRows, s"refined leg must equal exact leg at budget=$budget")
      // independent prefix-rule replay from the op's own scoring
      val scored = d.select(col("doc_id"), col("source"),
          (org.apache.spark.sql.functions.round(TextStats.qualityScore(col("text")), 6)
            + org.apache.spark.sql.functions.lit(0.0)).as("q"),
          org.apache.spark.sql.functions.size(
            org.apache.spark.sql.functions.split(
              org.apache.spark.sql.functions.trim(
                org.apache.spark.sql.functions.lower(col("text"))), "\\s+"))
            .cast("long").as("n"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      val expected = scored.groupBy(_._2).values.flatMap { g =>
        val ordered = g.sortBy(x => (-x._3, x._1))
        val cums = ordered.scanLeft(0L)(_ + _._4).tail
        ordered.zip(cums).takeWhile(_._2 <= budget).map(_._1._1)
      }.toSet
      assert(eRows.map(_._1).toSet == expected, s"prefix rule at budget=$budget")
    }
    // the whole-corpus-fits case exercises the refined leg's no-cutoff path
    val all = Sampling.tokenBudgetSelect(d, 100000L, bucketRefined = true)
    assert(all.count() == rows.size)
  }

  test("tokenBudgetSelect: null-text docs are excluded by BOTH legs (no driver NPE)") {
    // null text ⇒ null quality + null token count: pre-fix the refined
    // leg NPE'd walking the histogram while the exact leg silently kept
    // the row — this pins the shared exclusion
    val d = spark.createDataFrame(Seq(
        (1L, "alpha beta gamma delta", "s"), (2L, null: String, "s"),
        (3L, "epsilon zeta", "s"), (4L, null: String, "t"),
        (5L, "eta theta iota kappa lambda", "t")))
      .toDF("doc_id", "text", "source")
    for (refined <- Seq(false, true)) {
      val got = Sampling.tokenBudgetSelect(d, 4L, bucketRefined = refined, buckets = 4)
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(!got.contains(2L) && !got.contains(4L),
        s"null-text docs must not be selectable (refined=$refined)")
      assert(got.nonEmpty, s"non-null docs still selected (refined=$refined)")
    }
    val e = Sampling.tokenBudgetSelect(d, 4L).collect().map(_.getLong(0)).sorted.toSeq
    val r = Sampling.tokenBudgetSelect(d, 4L, bucketRefined = true, buckets = 4)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(e == r, "legs must stay identical on a null-bearing corpus")
  }

  test("PqEncode: codes match an independent replay; wrong-length vectors encode null") {
    import org.apache.spark.sql.functions.col
    val cb: Array[Array[Array[Double]]] = Array(
      Array(Array(0.0, 0.0), Array(1.0, 1.0), Array(2.0, 0.0)),
      Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 1.0)))
    val vecs = Seq(
      (1L, Seq(0.1, 0.1, 0.9, 0.1)), (2L, Seq(1.1, 0.9, 0.1, 1.0)),
      (3L, Seq(2.0, 0.0, 1.0, 1.0)), (4L, Seq(0.0, 0.0, 0.0, 0.0)),
      (5L, Seq(1.0, 1.0))) // wrong length
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val got = df.select(col("vec_id"),
        graft.functions.PqEncode.pqEncode(col("embedding"), cb).as("c"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Int](1).toList)).toMap
    def ref(v: Seq[Double]): List[Int] = (0 until 2).map { j =>
      val scores = cb(j).map { c =>
        (0 until 2).map(d => v(j * 2 + d) * c(d)).sum - 0.5 * c.map(x => x * x).sum
      }
      // strict-> first-wins argmax (ties to the lowest codeword)
      scores.zipWithIndex.reduceLeft((a, b) => if (b._1 > a._1) b else a)._2 + 1
    }.toList
    for ((id, v) <- vecs if v.length == 4)
      assert(got(id) == ref(v), s"codes for vec $id")
    assert(got(5L) == null, "wrong-length vector must encode NULL")
  }

  test("pqTopK: exact re-rank with a full-corpus shortlist equals brute force") {
    import org.apache.spark.sql.functions.col
    // when the ADC shortlist covers the whole corpus, the re-rank scores
    // every vector exactly — the quantization can only affect the
    // (discarded) shortlist order, so the result must equal brute force
    val vecs = (0L until 40L).map { i =>
      (i, (0 until 8).map(d =>
        (java.lang.Math.floorMod(graft.functions.TextHashes.splitmix(i * 31 + d), 1000L)
          .toDouble / 500.0) - 1.0))
    }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val q = df.where(col("vec_id") < 3)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Number]("query_id").longValue, r.getAs[Number]("rank").intValue) ->
        (r.getAs[Number]("corpus_id").longValue, math.round(r.getAs[Double]("cosine") * 1e9))
    val pq = Similarity.pqTopK(df, q, k = 5, m = 4, ksub = 4, iters = 2,
        sampleMod = 2, shortlist = 100).collect().map(key).toMap
    val bf = Similarity.bruteForceTopK(df, q, k = 5).collect().map(key).toMap
    assert(pq == bf, "full-shortlist PQ must equal exact brute force")
    assert(pq.size == 15, "3 queries x top-5")
  }

  test("ivfPqQuery: full coverage (nprobe = all cells, corpus-wide shortlist) equals brute force") {
    import org.apache.spark.sql.functions.col
    // probing every coarse cell makes the pruning a no-op and a
    // corpus-wide shortlist makes the ADC order irrelevant — the exact
    // re-rank then scores everything, so the fused index must reproduce
    // brute force bit-for-bit (the pqTopK full-shortlist argument,
    // composed with the ivfTopK nprobe=k one)
    val vecs = (0L until 40L).map { i =>
      (i, (0 until 8).map(d =>
        (java.lang.Math.floorMod(graft.functions.TextHashes.splitmix(i * 31 + d), 1000L)
          .toDouble / 500.0) - 1.0))
    }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val q = df.where(col("vec_id") < 3)
    val dir = Scratch.dir("graft_ivfpq_")
    Similarity.ivfPqWrite(df, dir, numCentroids = 4, lloydIters = 1, ivfSampleMod = 1,
      m = 4, ksub = 4, pqIters = 2, pqSampleMod = 2)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Number]("query_id").longValue, r.getAs[Number]("rank").intValue) ->
        (r.getAs[Number]("corpus_id").longValue, math.round(r.getAs[Double]("cosine") * 1e9))
    val got = Similarity.ivfPqQuery(spark, dir, df, q, k = 5, nprobe = 4, shortlist = 100)
      .collect().map(key).toMap
    val bf = Similarity.bruteForceTopK(df, q, k = 5).collect().map(key).toMap
    assert(got == bf, "full-coverage IVF-PQ must equal exact brute force")
    // the persisted lists are one directory per coarse cell and hold
    // CODES only — the raw vectors never enter the index
    val listDirs = new java.io.File(s"$dir/lists").listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("cid="))
    assert(listDirs.nonEmpty && listDirs.length <= 4, s"cid dirs: ${listDirs.toList}")
    assert(spark.read.parquet(s"$dir/lists").schema.fieldNames.toSet ==
      Set("corpus_id", "codes", "cid"), "lists must store codes, not raw vectors")
  }

  test("ivfPqWrite with a pre-trained coarse quantizer equals the self-trained index") {
    import org.apache.spark.sql.functions.col
    // the r19 quantizer-reuse parameter: passing ivfBuild's own result
    // through `coarse` must produce a byte-equivalent index (same
    // centroids, same codebook, same code lists) — the property the
    // shared-coarse fixtures in PipelineQueries rely on
    val vecs = (0L until 40L).map { i =>
      (i, (0 until 8).map(d =>
        (java.lang.Math.floorMod(graft.functions.TextHashes.splitmix(i * 31 + d), 1000L)
          .toDouble / 500.0) - 1.0))
    }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val d1 = Scratch.dir("graft_ivfpq_self_")
    val d2 = Scratch.dir("graft_ivfpq_reuse_")
    Similarity.ivfPqWrite(df, d1, numCentroids = 4, lloydIters = 1, ivfSampleMod = 1,
      m = 4, ksub = 4, pqIters = 2, pqSampleMod = 2)
    val cents = Similarity.ivfBuild(df, numCentroids = 4, lloydIters = 1,
      sampleMod = 1, portableSeed = true)
    Similarity.ivfPqWrite(df, d2, numCentroids = 4, lloydIters = 1, ivfSampleMod = 1,
      m = 4, ksub = 4, pqIters = 2, pqSampleMod = 2, coarse = Some(cents))
    def slurp(p: String) = Seq("centroids", "codebook", "lists").map(part =>
      spark.read.parquet(s"$p/$part").collect().map(_.toString).sorted.toList)
    assert(slurp(d1) == slurp(d2),
      "quantizer reuse must not change a single byte of the index content")
  }

  test("knnGraph equals lshTopK with the corpus as the query side") {
    import org.apache.spark.sql.functions.col
    // same candidate construction (collide in ANY table), same scoring,
    // same ties — only the plan shape differs (self-join vs broadcast
    // query batch), so the results must be identical row for row
    val vecs = (0L until 60L).map { i =>
      (i, (0 until 8).map(d =>
        (java.lang.Math.floorMod(graft.functions.TextHashes.splitmix(i * 17 + d), 1000L)
          .toDouble / 500.0) - 1.0))
    }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getAs[Number](3).intValue) ->
        (r.getLong(1), math.round(r.getAs[Double]("cosine") * 1e9))
    val graph = Similarity.knnGraph(df, k = 3, planes = 4, tables = 8)
      .select("a_id", "b_id", "cosine", "rank").collect().map(key(_)).toMap
    val lsh = Similarity.lshTopK(df, df, k = 3, planes = 4, tables = 8)
      .select("query_id", "corpus_id", "cosine", "rank").collect().map(key(_)).toMap
    assert(graph == lsh, "knnGraph must equal the broadcast-query LSH top-k")
    assert(graph.nonEmpty && graph.keys.map(_._1).toSet.size > 30,
      "most vectors should have neighbors at 8 OR-amplified tables")
  }

  private def dupHeavyVecs(classes: Int, copies: Int): Seq[(Long, Seq[Double])] =
    // `classes` distinct base vectors, each repeated `copies` times EXACTLY
    // (ids interleave so class ids are not contiguous): the dup-heavy
    // corpus shape where knnGraph's within-bucket pair volume goes
    // quadratic — exact copies share every signature deterministically
    (0L until (classes.toLong * copies)).map { i =>
      val cls = i % classes
      (i, (0 until 8).map(d =>
        (java.lang.Math.floorMod(graft.functions.TextHashes.splitmix(cls * 17 + d), 1000L)
          .toDouble / 500.0) - 1.0))
    }

  test("knnGraphCollapsed: duplicate classes collapse to one node; members inherit the rep list") {
    import org.apache.spark.sql.functions.col
    val classes = 10
    val vecs = dupHeavyVecs(classes, copies = 12)
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    // collapsePlanes = 8 (256 buckets, 10 classes) isolates each class in
    // its own star bucket; graph planes = 2 (4 buckets) makes every rep
    // collide with others, so every rep appears as an a_id
    val reps = Similarity.knnGraphCollapsed(df, k = 3, planes = 2, tables = 4,
      collapsePlanes = 8).cache()
    // exact copies share the collapse bucket; hub links at cosine 1 pass
    // any threshold ≤ 1, so each class collapses to its min id (class
    // ids are i % classes → min member of class c is c itself)
    val aIds = reps.select("a_id").distinct().collect().map(_.getLong(0)).toSet
    assert(aIds == (0L until classes).toSet,
      s"representatives must be the class min ids, got $aIds")
    val bIds = reps.select("b_id").distinct().collect().map(_.getLong(0)).toSet
    assert(bIds.subsetOf((0L until classes).toSet), "neighbors must be representatives")
    // attachMembers: every member's list IS its representative's list
    val attached = Similarity.knnGraphCollapsed(df, k = 3, planes = 2, tables = 4,
      collapsePlanes = 8, attachMembers = true)
    def lists(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.getLong(0)).view.mapValues(
        _.map(r => (r.getAs[Number]("rank").intValue, r.getLong(1),
          math.round(r.getAs[Double]("cosine") * 1e9))).sortBy(_._1).toSeq).toMap
    val byMember = lists(attached.select("a_id", "b_id", "cosine", "rank").collect())
    val byRep = lists(reps.select("a_id", "b_id", "cosine", "rank").collect())
    assert(byMember.size == classes * 12, "every member must carry a list")
    vecs.foreach { case (id, _) =>
      assert(byMember(id) == byRep(id % classes),
        s"member $id must inherit rep ${id % classes}'s list")
    }
    reps.unpersist()
  }

  test("collapseReps: one representative row per duplicate class, all columns kept") {
    val classes = 10
    val df = spark.createDataFrame(dupHeavyVecs(classes, copies = 12))
      .toDF("vec_id", "embedding")
    val reps = Similarity.collapseReps(df, collapsePlanes = 8).collect()
    assert(reps.map(_.getLong(0)).toSet == (0L until classes).toSet,
      "representatives must be the class min ids")
    // representative rows are the ORIGINAL rows (the dedup-then-index
    // corpus feeds ivfPqWrite directly): vectors must match the source
    val byId = dupHeavyVecs(classes, copies = 12).toMap
    reps.foreach(r => assert(r.getSeq[Double](1) == byId(r.getLong(0)),
      s"rep ${r.getLong(0)} must carry its own embedding"))
  }

  test("knnGraphCollapsed: with nothing to collapse it equals knnGraph") {
    import org.apache.spark.sql.functions.col
    val vecs = (0L until 60L).map { i =>
      (i, (0 until 8).map(d =>
        (java.lang.Math.floorMod(graft.functions.TextHashes.splitmix(i * 17 + d), 1000L)
          .toDouble / 500.0) - 1.0))
    }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getAs[Number](3).intValue) ->
        (r.getLong(1), math.round(r.getAs[Double]("cosine") * 1e9))
    // distinct vectors, threshold above every cosine → all-singleton
    // classes → the graph stage sees the full corpus
    val collapsed = Similarity.knnGraphCollapsed(df, k = 3, planes = 4, tables = 8,
        collapseThreshold = 1.0000001, collapsePlanes = 5)
      .select("a_id", "b_id", "cosine", "rank").collect().map(key(_)).toMap
    val direct = Similarity.knnGraph(df, k = 3, planes = 4, tables = 8)
      .select("a_id", "b_id", "cosine", "rank").collect().map(key(_)).toMap
    assert(collapsed == direct, "degenerate collapse must reproduce the direct graph")
  }

  test("knnGraphAuto: candidate-mass probe routes dup-heavy to collapsed, diverse to direct") {
    import org.apache.spark.sql.functions.col
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getAs[Number](3).intValue) ->
        (r.getLong(1), math.round(r.getAs[Double]("cosine") * 1e9))
    def cols(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id", "cosine", "rank").collect().map(key(_)).toMap
    // dup-heavy: 10 classes × 60 exact copies at 64 buckets → scored-pair
    // mass ~classes·copies²·tables, an order past the uniform expectation
    val dup = spark.createDataFrame(dupHeavyVecs(10, 60)).toDF("vec_id", "embedding")
    val auto = cols(Similarity.knnGraphAuto(dup, k = 3, planes = 6, tables = 4,
      collapsePlanes = 5))
    val collapsed = cols(Similarity.knnGraphCollapsed(dup, k = 3, planes = 6, tables = 4,
      collapsePlanes = 5))
    assert(auto == collapsed, "dup-heavy corpus must take the collapse-first route")
    // diverse: 600 distinct vectors at the same plane count → within
    // budget → the direct plan (must NOT collapse: knnGraph output)
    val vecs = (0L until 600L).map { i =>
      (i, (0 until 8).map(d =>
        (java.lang.Math.floorMod(graft.functions.TextHashes.splitmix(i * 17 + d), 1000L)
          .toDouble / 500.0) - 1.0))
    }
    val div = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val auto2 = cols(Similarity.knnGraphAuto(div, k = 3, planes = 6, tables = 4))
    val direct = cols(Similarity.knnGraph(div, k = 3, planes = 6, tables = 4))
    assert(auto2 == direct, "diverse corpus must take the direct route")
  }

  test("loadIvfPq enforces the collect bound and annAdcStream validates the encoding marker") {
    import org.apache.spark.sql.functions.col
    val vecs = (0L until 20L).map { i =>
      (i, (0 until 8).map(d =>
        (java.lang.Math.floorMod(graft.functions.TextHashes.splitmix(i * 31 + d), 1000L)
          .toDouble / 500.0) - 1.0))
    }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val dir = Scratch.dir("graft_ivfpq_guard_")
    Similarity.ivfPqWrite(df, dir, numCentroids = 2, lloydIters = 1, ivfSampleMod = 1,
      m = 4, ksub = 4, pqIters = 1, pqSampleMod = 1)
    val e = intercept[IllegalArgumentException] {
      Similarity.loadIvfPq(spark, dir, maxRows = 3)
    }
    assert(e.getMessage.contains("annAdcStreamJoin"),
      "the failure must point at the stream-static scale path")
    val ix = Similarity.loadIvfPq(spark, dir)
    assert(ix.residual.contains(false), "ivfPqWrite must mark the index raw-encoded")
    val bad = intercept[IllegalArgumentException] {
      graft.streaming.StreamingOps.annAdcStream(df, ix, residual = true)
    }
    assert(bad.getMessage.contains("raw-encoded"),
      "a residual probe of a raw index must fail loudly, not score wrong")
  }

  test("ivfPqAppend: appended rows probe like resident ones; base lists untouched; batch-split invariant") {
    import org.apache.spark.sql.functions.col
    val vecs = (0L until 40L).map { i =>
      (i, (0 until 8).map(d =>
        (java.lang.Math.floorMod(graft.functions.TextHashes.splitmix(i * 31 + d), 1000L)
          .toDouble / 500.0) - 1.0))
    }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val base = df.where(col("vec_id") < 20)
    val inc = df.where(col("vec_id") >= 20)
    def listKeys(p: String) = spark.read.parquet(s"$p/lists")
      .collect().map(r => (r.getAs[Long]("corpus_id"),
        r.getAs[Number]("cid").intValue, r.getAs[Seq[Int]]("codes"))).toSet
    val p1 = Scratch.dir("graft_ivfpq_app1_")
    Similarity.ivfPqWrite(base, p1, numCentroids = 4, lloydIters = 1, ivfSampleMod = 1,
      m = 4, ksub = 4, pqIters = 2, pqSampleMod = 2)
    val resident = listKeys(p1)
    Similarity.ivfPqAppend(inc, p1)
    val after = listKeys(p1)
    // the resident rows are byte-identical (append never rewrites them)
    // and the increment's ids all arrived
    assert(after.filter(_._1 < 20) == resident, "append must not touch resident lists")
    assert(after.map(_._1) == (0L until 40L).toSet, "every appended id must land")
    // batch-split invariance: one append ≡ two successive appends
    val p2 = Scratch.dir("graft_ivfpq_app2_")
    Similarity.ivfPqWrite(base, p2, numCentroids = 4, lloydIters = 1, ivfSampleMod = 1,
      m = 4, ksub = 4, pqIters = 2, pqSampleMod = 2)
    Similarity.ivfPqAppend(inc.where(col("vec_id") < 30), p2)
    Similarity.ivfPqAppend(inc.where(col("vec_id") >= 30), p2)
    assert(listKeys(p2) == after, "append must be batch-size invariant")
    // full coverage: the probe over the union lists reproduces brute
    // force over the union corpus — appended rows are first-class
    // candidates (present, probeable, exactly re-rankable)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Number]("query_id").longValue, r.getAs[Number]("rank").intValue) ->
        (r.getAs[Number]("corpus_id").longValue, math.round(r.getAs[Double]("cosine") * 1e9))
    val q = df.where(col("vec_id") < 3)
    val got = Similarity.ivfPqQuery(spark, p1, df, q, k = 5, nprobe = 4, shortlist = 100)
      .collect().map(key).toMap
    val bf = Similarity.bruteForceTopK(df, q, k = 5).collect().map(key).toMap
    assert(got == bf, "full-coverage probe over write+append must equal brute force")
  }

  test("ivfPqAppend: residual indexes append residual codes; unmarked indexes are refused") {
    import org.apache.spark.sql.functions.col
    val vecs = (0L until 40L).map { i =>
      (i, (0 until 8).map(d =>
        (java.lang.Math.floorMod(graft.functions.TextHashes.splitmix(i * 13 + d), 1000L)
          .toDouble / 500.0) - 1.0))
    }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val base = df.where(col("vec_id") < 20)
    val inc = df.where(col("vec_id") >= 20)
    val dir = Scratch.dir("graft_ivfpq_appres_")
    Similarity.ivfPqResWrite(base, dir, numCentroids = 4, lloydIters = 1, ivfSampleMod = 1,
      m = 4, ksub = 4, pqIters = 2, pqSampleMod = 2)
    Similarity.ivfPqAppend(inc, dir)
    // the append read the residual marker: the streaming probe in
    // residual mode (parity twin of ivfPqResAdcTopK) scores the appended
    // rows — if the append had encoded raw vectors, codes would decode
    // against the residual codebook to garbage distances but, stronger,
    // the full-coverage exact re-rank must still reproduce brute force
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Number]("query_id").longValue, r.getAs[Number]("rank").intValue) ->
        (r.getAs[Number]("corpus_id").longValue, math.round(r.getAs[Double]("cosine") * 1e9))
    val q = df.where(col("vec_id") < 3)
    val got = Similarity.ivfPqResQuery(spark, dir, df, q, k = 5, nprobe = 4, shortlist = 100)
      .collect().map(key).toMap
    val bf = Similarity.bruteForceTopK(df, q, k = 5).collect().map(key).toMap
    assert(got == bf, "full-coverage residual probe over write+append must equal brute force")
    // and the codes ARE residual-encoded: re-deriving the increment's
    // codes from the persisted model's residuals matches the lists
    val ix = Similarity.loadIvfPq(spark, dir)
    assert(ix.residual.contains(true))
    val centLit = org.apache.spark.sql.functions.typedLit(ix.cents.map(_.toSeq).toSeq)
    val expect = inc.select(col("vec_id"),
        org.apache.spark.sql.functions.transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("cid",
        graft.functions.NearestCentroid.nearestCentroid(col("v"), ix.cents))
      .withColumn("resid", org.apache.spark.sql.functions.zip_with(
        col("v"),
        org.apache.spark.sql.functions.element_at(centLit, col("cid")), (a, b) => a - b))
      .select(col("vec_id"),
        graft.functions.PqEncode.pqEncode(col("resid"), ix.cb).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getAs[Seq[Int]]("codes")).toMap
    val stored = spark.read.parquet(s"$dir/lists").where(col("corpus_id") >= 20)
      .collect().map(r => r.getAs[Long]("corpus_id") -> r.getAs[Seq[Int]]("codes")).toMap
    assert(stored == expect, "appended codes must quantize the residuals, not the raw vectors")
    // an index with no encoding-mode marker is refused loudly
    val bare = Scratch.dir("graft_ivfpq_bare_")
    Similarity.ivfPqResWrite(base, bare, numCentroids = 4, lloydIters = 1, ivfSampleMod = 1,
      m = 4, ksub = 4, pqIters = 1, pqSampleMod = 1)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$bare/meta"), true)
    val e = intercept[IllegalArgumentException] { Similarity.ivfPqAppend(inc, bare) }
    assert(e.getMessage.contains("marker"),
      "append without the raw-vs-residual marker must refuse, not guess")
  }

  test("ivfPqDelete: survivors probe exactly; untouched cells' files never move; emptied cells drop") {
    import org.apache.spark.sql.functions.col
    val vecs = (0L until 40L).map { i =>
      (i, (0 until 8).map(d =>
        (java.lang.Math.floorMod(graft.functions.TextHashes.splitmix(i * 31 + d), 1000L)
          .toDouble / 500.0) - 1.0))
    }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val dir = Scratch.dir("graft_ivfpq_del_")
    Similarity.ivfPqWrite(df, dir, numCentroids = 4, lloydIters = 1, ivfSampleMod = 1,
      m = 4, ksub = 4, pqIters = 2, pqSampleMod = 2)
    val before = spark.read.parquet(s"$dir/lists")
      .select("corpus_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).intValue).toMap
    // pick the dead set so that one whole cell empties: every id of the
    // smallest cell, plus a few ids from one other cell
    val byCell = before.groupBy(_._2).view.mapValues(_.keys.toSeq.sorted).toMap
    val (emptyCell, emptyIds) = byCell.minBy(_._2.size)
    val (mixedCell, mixedIds) = byCell.filter(_._1 != emptyCell).maxBy(_._2.size)
    val dead = (emptyIds ++ mixedIds.take(2)).toSet
    val untouched = byCell.keys.filter(c => c != emptyCell && c != mixedCell).toSeq
    def fileStamps(cid: Int) = {
      val d = new java.io.File(s"$dir/lists/cid=$cid")
      if (!d.exists()) Map.empty[String, Long]
      else d.listFiles().map(f => f.getName -> f.lastModified()).toMap
    }
    val stampsBefore = untouched.map(c => c -> fileStamps(c)).toMap
    val removed = Similarity.ivfPqDelete(
      spark.createDataFrame(dead.toSeq.sorted.map(Tuple1(_))).toDF("vec_id"), dir)
    assert(removed == dead.size, "the returned count must be the rows actually removed")
    val after = spark.read.parquet(s"$dir/lists").select("corpus_id").collect()
      .map(_.getLong(0)).toSet
    assert(after == before.keySet -- dead, "exactly the dead ids must vanish")
    assert(!new java.io.File(s"$dir/lists/cid=$emptyCell").exists(),
      "a cell the deletion empties must be dropped, not left with dead files")
    assert(untouched.map(c => c -> fileStamps(c)).toMap == stampsBefore,
      "cells holding no dead ids must keep their exact files (names and mtimes)")
    assert(!new java.io.File(s"$dir/lists_delete_staging").exists(),
      "the staging dir must be cleaned up")
    // deleting ids that are not in the index is a no-op returning 0
    assert(Similarity.ivfPqDelete(
      spark.createDataFrame(Seq(Tuple1(9999L), Tuple1(8888L))).toDF("vec_id"), dir) == 0L)
    // full coverage: the probe over the survivors equals brute force
    // over the survivor corpus (deleted vectors are unreachable)
    val survivors = df.where(!col("vec_id").isin(dead.toSeq: _*))
    val q = df.where(col("vec_id") < 3)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Number]("query_id").longValue, r.getAs[Number]("rank").intValue) ->
        (r.getAs[Number]("corpus_id").longValue, math.round(r.getAs[Double]("cosine") * 1e9))
    val got = Similarity.ivfPqQuery(spark, dir, df, q, k = 5, nprobe = 4, shortlist = 100)
      .collect().map(key).toMap
    val bf = Similarity.bruteForceTopK(survivors, q, k = 5).collect().map(key).toMap
    assert(got == bf, "full-coverage probe after delete must equal brute force over survivors")
  }

  test("ivfPqCompact: fragmented cells coalesce to one file, content unchanged, quiet cells untouched") {
    import org.apache.spark.sql.functions.col
    val vecs = (0L until 80L).map { i =>
      (i, (0 until 8).map(d =>
        (java.lang.Math.floorMod(graft.functions.TextHashes.splitmix(i * 31 + d), 1000L)
          .toDouble / 500.0) - 1.0))
    }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val dir = Scratch.dir("graft_ivfpq_cmp_")
    Similarity.ivfPqWrite(df.where(col("vec_id") < 20), dir,
      numCentroids = 4, lloydIters = 1, ivfSampleMod = 1,
      m = 4, ksub = 4, pqIters = 2, pqSampleMod = 2)
    // six small appends fragment the touched cells
    (20L until 80L by 10L).foreach { lo =>
      Similarity.ivfPqAppend(
        df.where(col("vec_id") >= lo && col("vec_id") < lo + 10), dir)
    }
    def cellFiles(cid: Int) = {
      val d = new java.io.File(s"$dir/lists/cid=$cid")
      if (!d.exists()) Array.empty[java.io.File]
      else d.listFiles().filter(f =>
        f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    }
    val cids = new java.io.File(s"$dir/lists").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cid="))
      .map(_.getName.stripPrefix("cid=").toInt)
    val fragged = cids.filter(c => cellFiles(c).length > 4)
    val quiet = cids.filter(c => cellFiles(c).length <= 4)
    assert(fragged.nonEmpty, "the appends must have fragmented at least one cell")
    val quietStamps = quiet.map(c => c -> cellFiles(c).map(f =>
      f.getName -> f.lastModified()).toMap).toMap
    def content() = spark.read.parquet(s"$dir/lists")
      .collect().map(r => (r.getAs[Long]("corpus_id"),
        r.getAs[Number]("cid").intValue, r.getAs[Seq[Int]]("codes"))).toSet
    val before = content()
    val rewritten = Similarity.ivfPqCompact(spark, dir)
    assert(rewritten == fragged.length, "exactly the fragmented cells rewrite")
    assert(content() == before, "compaction must not change index content")
    fragged.foreach(c => assert(cellFiles(c).length == 1,
      s"cell $c must coalesce to one file"))
    assert(quiet.map(c => c -> cellFiles(c).map(f =>
      f.getName -> f.lastModified()).toMap).toMap == quietStamps,
      "cells under the bound must keep their exact files")
    assert(!new java.io.File(s"$dir/lists_compact_staging").exists(),
      "the staging dir must be cleaned up")
    assert(Similarity.ivfPqCompact(spark, dir) == 0, "a compacted index is a no-op")
  }

  test("ivfPqMaintain: one staging pass == sequential delete + compact; shared cells rewrite once") {
    import org.apache.spark.sql.functions.col
    val vecs = (0L until 80L).map { i =>
      (i, (0 until 8).map(d =>
        (java.lang.Math.floorMod(graft.functions.TextHashes.splitmix(i * 31 + d), 1000L)
          .toDouble / 500.0) - 1.0))
    }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    def build(): String = {
      val dir = Scratch.dir("graft_ivfpq_mnt_")
      Similarity.ivfPqWrite(df.where(col("vec_id") < 40), dir,
        numCentroids = 4, lloydIters = 1, ivfSampleMod = 1,
        m = 4, ksub = 4, pqIters = 2, pqSampleMod = 2)
      (40L until 80L by 10L).foreach(lo => Similarity.ivfPqAppend(
        df.where(col("vec_id") >= lo && col("vec_id") < lo + 10), dir))
      dir
    }
    val a = build()
    val b = build()
    val dead = Seq(3L, 17L, 44L, 71L)
    val deadDf = spark.createDataFrame(dead.map(Tuple1(_))).toDF("vec_id")
    val (removed, rewritten) = Similarity.ivfPqMaintain(deadDf, a, maxFilesPerCell = 1)
    val removedB = Similarity.ivfPqDelete(deadDf, b)
    Similarity.ivfPqCompact(spark, b, maxFilesPerCell = 1)
    assert(removed == dead.size && removedB == dead.size)
    def content(dir: String) = spark.read.parquet(s"$dir/lists")
      .collect().map(r => (r.getAs[Long]("corpus_id"),
        r.getAs[Number]("cid").intValue, r.getAs[Seq[Int]]("codes"))).toSet
    assert(content(a) == content(b),
      "the combined pass must leave exactly the sequential ops' content")
    // every touched cell coalesced to one file in the single pass
    val cells = new java.io.File(s"$a/lists").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cid="))
    assert(rewritten > 0 && cells.forall(c => c.listFiles().count(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")) == 1),
      "maintained cells must coalesce to one file each")
    assert(!new java.io.File(s"$a/lists_maintain_staging").exists())
    // compact-only degenerate: empty id batch on an already-tight index
    assert(Similarity.ivfPqMaintain(
      spark.createDataFrame(Seq.empty[Tuple1[Long]]).toDF("vec_id"), a,
      maxFilesPerCell = 1) == ((0L, 0)))
  }

  test("ivfPqMaintain re-tightens the id sidecar once tombstone mass crosses the ratio") {
    import org.apache.spark.sql.functions.col
    val vecs = (0L until 80L).map { i =>
      (i, (0 until 8).map(d =>
        (java.lang.Math.floorMod(graft.functions.TextHashes.splitmix(i * 31 + d), 1000L)
          .toDouble / 500.0) - 1.0))
    }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val dir = Scratch.dir("graft_ivfpq_tight_")
    Similarity.ivfPqWrite(df, dir, numCentroids = 4, lloydIters = 1,
      ivfSampleMod = 1, m = 4, ksub = 4, pqIters = 2, pqSampleMod = 2)
    def sidecarRows() = spark.read.parquet(s"$dir/ids").count()
    assert(sidecarRows() == 80L)
    // small churn (5% < the 10% ratio): tombstones RETAINED — the
    // superset contract says a refresh this cheap isn't paid per batch
    val small = spark.createDataFrame(Seq(Tuple1(3L), Tuple1(17L))).toDF("vec_id")
    val (rm1, _) = Similarity.ivfPqMaintain(small, dir, maxFilesPerCell = 1)
    assert(rm1 == 2L)
    assert(sidecarRows() == 80L,
      "below-ratio churn must keep the sidecar untouched (tombstones are cheap)")
    // heavy churn (a quarter of the index): the delete→maintain sequence
    // must fold an ivfPqIdsRefresh in and SHRINK the sidecar to the
    // survivors — a long-lived index stops re-nominating dead cells
    val heavy = spark.createDataFrame((20L until 40L).map(Tuple1(_))).toDF("vec_id")
    val (rm2, _) = Similarity.ivfPqMaintain(heavy, dir, maxFilesPerCell = 1)
    assert(rm2 == 20L)
    assert(sidecarRows() == 58L,
      "past-ratio churn must re-tighten the sidecar to the live rows")
    assert(spark.read.parquet(s"$dir/ids").select("corpus_id").collect()
      .map(_.getLong(0)).toSet ==
      spark.read.parquet(s"$dir/lists").select("corpus_id").collect()
        .map(_.getLong(0)).toSet,
      "the refreshed sidecar must mirror the lists exactly")
  }

  test("ivfPq id sidecar: mirrors the lists, drives delete discovery, fallback and refresh agree") {
    import org.apache.spark.sql.functions.col
    val vecs = (0L until 60L).map { i =>
      (i, (0 until 8).map(d =>
        (java.lang.Math.floorMod(graft.functions.TextHashes.splitmix(i * 31 + d), 1000L)
          .toDouble / 500.0) - 1.0))
    }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    def build(): String = {
      val dir = Scratch.dir("graft_ivfpq_sc_")
      Similarity.ivfPqWrite(df.where(col("vec_id") < 40), dir,
        numCentroids = 4, lloydIters = 1, ivfSampleMod = 1,
        m = 4, ksub = 4, pqIters = 2, pqSampleMod = 2)
      Similarity.ivfPqAppend(df.where(col("vec_id") >= 40), dir)
      dir
    }
    def pairsOf(path: String) = spark.read.parquet(path)
      .select("corpus_id", "cid").collect()
      .map(r => r.getAs[Long]("corpus_id") -> r.getAs[Number]("cid").intValue).toSet
    val a = build()
    val b = build()
    // write + append both maintain the sidecar: it mirrors the lists
    assert(pairsOf(s"$a/ids") == pairsOf(s"$a/lists"),
      "after write + append the sidecar must hold exactly the lists' (id, cell) pairs")
    // the same delete through sidecar discovery (a) and through the
    // legacy full-scan fallback (b, sidecar removed) must agree exactly
    def rmTree(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmTree)
      f.delete()
    }
    rmTree(new java.io.File(s"$b/ids"))
    val dead = Seq(1L, 7L, 23L, 45L, 59L)
    val deadDf = spark.createDataFrame(dead.map(Tuple1(_))).toDF("vec_id")
    val ra = Similarity.ivfPqDelete(deadDf, a)
    val rb = Similarity.ivfPqDelete(deadDf, b)
    assert(ra == dead.size && rb == dead.size,
      "both discovery paths must remove exactly the dead rows")
    assert(pairsOf(s"$a/lists") == pairsOf(s"$b/lists"),
      "sidecar and fallback discovery must leave identical survivor lists")
    // the sidecar keeps tombstones (superset contract) — a repeat delete
    // re-nominates their cells but the exact per-cell count drops them
    assert(pairsOf(s"$a/ids").map(_._1).intersect(dead.toSet) == dead.toSet,
      "deleted ids stay in the sidecar as tombstones")
    assert(Similarity.ivfPqDelete(deadDf, a) == 0L,
      "a repeat delete over stale tombstones must be an exact no-op")
    // refresh re-tightens: the sidecar mirrors the lists again
    Similarity.ivfPqIdsRefresh(spark, a)
    assert(pairsOf(s"$a/ids") == pairsOf(s"$a/lists"),
      "ivfPqIdsRefresh must rebuild the sidecar to exactly the live lists")
    // an oversized batch degrades to the broadcast-join probe — same answer
    spark.conf.set("spark.graft.ann.maxDeleteDiscoveryIds", "2")
    try {
      val dead2 = Seq(2L, 8L, 24L, 46L)
      val dead2Df = spark.createDataFrame(dead2.map(Tuple1(_))).toDF("vec_id")
      assert(Similarity.ivfPqDelete(dead2Df, a) == dead2.size,
        "the over-cap broadcast-join discovery must find the same cells")
      assert(!pairsOf(s"$a/lists").map(_._1).exists(dead2.contains),
        "the over-cap path must remove exactly the dead rows")
    } finally spark.conf.unset("spark.graft.ann.maxDeleteDiscoveryIds")
  }

  test("Layout string dimensions: dictionary rank == manual integer image; stale stats stay lossless") {
    import org.apache.spark.sql.functions.col
    val rows = for (l <- Seq("de", "en", "es", "fr"); i <- 0L until 25L)
      yield (l, i * 7 % 100, s"$l-$i")
    val df = spark.createDataFrame(rows).toDF("lang", "k", "payload")
    val st = graft.etl.Layout.zStats(df, Seq("lang", "k"))
    // the dictionary is the lexicographic rank over the distinct values
    assert(st.dicts.head.contains(Map("de" -> 0, "en" -> 1, "es" -> 2, "fr" -> 3)))
    assert(st.dicts(1).isEmpty && st.mins == Seq(0.0, 0.0) && st.maxs == Seq(3.0, 98.0))
    // zValueWith over the string == zValue over the hand-encoded integer
    val manual = df.withColumn("__li",
      when(col("lang") === "de", 0).when(col("lang") === "en", 1)
        .when(col("lang") === "es", 2).otherwise(3))
    val a = df.select(graft.etl.Layout.zValueWith(
      Seq(col("lang"), col("k")), st, bits = 8).as("z")).collect().map(_.getLong(0))
    val b = manual.select(graft.etl.Layout.zValue(
      Seq(col("__li"), col("k")), st.mins, st.maxs, bits = 8).as("z"))
      .collect().map(_.getLong(0))
    assert(a.toSeq == b.toSeq, "the dictionary front must be a pure integer re-image")
    // single-scan write with PRECOMPUTED stats from a previous snapshot:
    // an unseen lang ("zz") clamps to cell 0 but every row survives
    val grown = spark.createDataFrame(rows :+ (("zz", 50L, "zz-0"))).toDF("lang", "k", "payload")
    val out = Scratch.dir("graft_zorder_str_") + "/t"
    graft.etl.Layout.zOrderWrite(grown, Seq("lang", "k"), out, bits = 8, stats = Some(st))
    val back = spark.read.parquet(out).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(back == grown.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getString(2))).toSet,
      "z-order with stale snapshot stats must stay a lossless reorder")
    // incremental OPTIMIZE: an increment appends under the snapshot
    // stats; resident files never move, total content = union
    val residentFiles = new java.io.File(out).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(f => f.getName -> f.lastModified()).toMap
    val inc = spark.createDataFrame(
      Seq(("en", 7L, "inc-0"), ("fr", 93L, "inc-1"))).toDF("lang", "k", "payload")
    graft.etl.Layout.zOrderAppend(inc, Seq("lang", "k"), out, st, bits = 8)
    val after = spark.read.parquet(out).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(after == back ++ Set(("en", 7L, "inc-0"), ("fr", 93L, "inc-1")),
      "zOrderAppend must add exactly the increment")
    val residentAfter = new java.io.File(out).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(f => f.getName -> f.lastModified()).toMap
    assert(residentFiles.forall { case (n, ts) => residentAfter.get(n).contains(ts) },
      "resident files must never move on an incremental append")
  }

  test("Profile: one-pass column stats with exact null/distinct accounting and typed ranges") {
    val df = spark.createDataFrame(Seq(
      (Some(3L), Some("b")), (Some(1L), None), (None, Some("a")),
      (Some(3L), Some("c")), (Some(7L), Some("a")))).toDF("k", "s")
    val got = graft.etl.Profile.profile(df, Seq("k", "s")).orderBy("column")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), Option(r.get(4)), Option(r.get(5)),
        Option(r.get(6)), Option(r.get(7))))
    assert(got.toSeq == Seq(
      ("k", 5L, 1L, 3L, Some(1.0), Some(7.0), None, None),
      ("s", 5L, 1L, 3L, None, None, Some("a"), Some("c"))),
      s"profile must count nulls/distincts exactly and type the ranges, got ${got.toSeq}")
    // one job, one aggregation: the plan carries no join and ONE scan
    val plan = graft.etl.Profile.profile(df, Seq("k", "s"))
      .queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("join"),
      "profile must stay a single-scan aggregation — no per-column joins")
    intercept[IllegalArgumentException] {
      graft.etl.Profile.profile(
        df.withColumn("arr", array(col("k"))), Seq("arr"))
    }
  }

  test("Layout lifecycle: zstats sidecar roundtrips; zOrderMaintain compacts ONLY small files losslessly; the manifest prunes and reconciles incrementally") {
    import org.apache.spark.sql.functions.col
    val rows = for (l <- Seq("de", "en", "es", "fr"); i <- 0L until 400L)
      yield (l, i, s"$l-$i-" + ("x" * 20))
    val df = spark.createDataFrame(rows).toDF("lang", "k", "payload")
    val cols = Seq("lang", "k")
    val snap = df.where(col("k") % 4 === 0)
    val st = graft.etl.Layout.zStats(snap, cols)
    val out = Scratch.dir("graft_zorder_life_") + "/t"
    // one BIG resident file + a persisted stats sidecar + a manifest
    graft.etl.Layout.zOrderWrite(snap, cols, out, bits = 8, numFiles = 1,
      stats = Some(st))
    graft.etl.Layout.saveZStats(spark, out, cols, st)
    val (loadedCols, loadedSt) = graft.etl.Layout.loadZStats(spark, out)
    assert(loadedCols == cols && loadedSt == st,
      "the _zstats sidecar must roundtrip columns and stats exactly")
    graft.etl.Layout.manifestRefresh(spark, out, cols)
    // three appends under the SIDECAR's stats, two small files each
    for (r <- 1 to 3)
      graft.etl.Layout.zOrderAppend(df.where(col("k") % 4 === r), cols, out,
        loadedSt, bits = 8, numFiles = 2)
    graft.etl.Layout.manifestUpdate(spark, out, cols)
    def liveFiles() = new java.io.File(out).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(liveFiles().length == 7, "1 resident + 3x2 appended files expected")
    assert(spark.read.parquet(s"$out/_manifest").count() == 7,
      "manifestUpdate must track every live file")
    // manifest pruning: an (en..es, k-range) box keeps a strict subset
    // of files, and the pruned read agrees with the full read
    val bounds = Seq(graft.etl.Layout.Bound("lang", "en", "es"),
      graft.etl.Layout.Bound("k", 0L, 99L))
    val pf = graft.etl.Layout.prunedFiles(spark, out, bounds)
    assert(pf.nonEmpty && pf.size < 7,
      s"the box must prune at least one of 7 files, kept ${pf.size}")
    val rowPred = col("lang").isin("en", "es") && col("k").between(0, 99)
    def keyset(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(keyset(graft.etl.Layout.readPruned(spark, out, bounds).where(rowPred))
        == keyset(spark.read.parquet(out).where(rowPred)),
      "manifest pruning must be lossless for the range predicate")
    // maintain: threshold between resident and appended sizes — ONLY the
    // six appended files compact, the resident file never moves
    val resident = liveFiles().maxBy(_.length)
    val before = keyset(spark.read.parquet(out))
    val n = graft.etl.Layout.zOrderMaintain(spark, out, cols, loadedSt,
      bits = 8, smallFileBytes = resident.length)
    assert(n == 6, s"exactly the six appended files must compact, got $n")
    val after = liveFiles()
    assert(after.length == 2, "six small files must merge into one beside the resident")
    assert(after.exists(f => f.getName == resident.getName
        && f.lastModified() == resident.lastModified()),
      "the resident full-size file must never rewrite")
    assert(keyset(spark.read.parquet(out)) == before,
      "zOrderMaintain must preserve content exactly")
    // the manifest reconciles: dead rows drop, the merged file appears
    graft.etl.Layout.manifestUpdate(spark, out, cols)
    assert(spark.read.parquet(s"$out/_manifest").count() == 2,
      "manifestUpdate must drop dead files and add the merged one")
    assert(keyset(graft.etl.Layout.readPruned(spark, out, bounds).where(rowPred))
        == keyset(spark.read.parquet(out).where(rowPred)),
      "pruning must stay lossless over the maintained layout")
    // nothing small left (the merged file alone is <= 1 small file)
    assert(graft.etl.Layout.zOrderMaintain(spark, out, cols, loadedSt,
      bits = 8, smallFileBytes = resident.length) == 0,
      "a second maintain must be a no-op")
    // an interrupted commit rolls forward on the next maintain: cut one
    // after it hid a file and before it promoted the copy staged to
    // replace it, while the file's rows are invisible to readers
    val vict = liveFiles().head
    val rowCount = spark.read.parquet(out).count()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(out, Swap.StagingName, "data"))
    java.nio.file.Files.copy(vict.toPath,
      java.nio.file.Paths.get(out, Swap.StagingName, "data", "part-restaged.parquet"))
    CrashFs.register(spark)
    val crashRoot = new org.apache.hadoop.fs.Path(CrashFs.at(out))
    CrashFs.arm(2)
    intercept[CrashFs.Crash] {
      Swap.commit(crashRoot.getFileSystem(spark.sparkContext.hadoopConfiguration), crashRoot,
        Seq(Swap.Move(vict.getName, None), Swap.Move("part-restaged.parquet",
          Some(s"${Swap.StagingName}/data/part-restaged.parquet"))))
    }
    CrashFs.disarm()
    assert(!vict.exists() && spark.read.parquet(out).count() < rowCount,
      "the cut commit must leave the victim hidden")
    assert(graft.etl.Layout.zOrderMaintain(spark, out, cols, loadedSt, bits = 8) == 2,
      "maintain must roll the commit forward, then compact the two files")
    assert(keyset(spark.read.parquet(out)) == before &&
        spark.read.parquet(out).count() == rowCount,
      "the rolled-forward commit must preserve content exactly")
    assert(new java.io.File(out).list().forall(n => !n.startsWith(".") || n.endsWith(".crc")),
      "no intent, hidden copy or staging may remain")
  }

  test("zValue == scalar reference interleave on seeded-random inputs (clamp, nulls, 2 and 3 dims)") {
    import org.apache.spark.sql.functions.col
    // the scalar reference: the textbook construction, reimplemented
    // independently of the Column algebra under test
    def refZ(vals: Seq[Option[Double]], mins: Seq[Double], maxs: Seq[Double],
             bits: Int): Long = {
      val n = vals.length
      val cells = (1L << bits).toDouble
      val scaled = vals.zipWithIndex.map { case (v, j) =>
        val lo = mins(j)
        val span = math.max(maxs(j) - lo, java.lang.Double.MIN_VALUE)
        val c = math.floor((v.getOrElse(lo) - lo) / span * cells)
        math.min(math.max(c, 0.0), cells - 1.0).toLong
      }
      (0 until bits).flatMap(i => scaled.zipWithIndex.map { case (s, j) =>
        ((s >> i) & 1L) << (i * n + j)
      }).reduce(_ | _)
    }
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 4) {
      val nCols = 2 + trial % 2
      val bits = Seq(4, 8, 12, 16)(trial)
      val mins = Seq.fill(nCols)(rnd.nextDouble() * 100 - 50)
      val maxs = mins.map(_ + rnd.nextDouble() * 200 + 1)
      // points include out-of-range values (clamp path) and nulls (cell 0)
      val pts: Seq[Seq[Option[Double]]] = Seq.fill(200)(Seq.tabulate(nCols)(j =>
        if (rnd.nextInt(10) == 0) None
        else Some(mins(j) - 50 + rnd.nextDouble() * (maxs(j) - mins(j) + 100))))
      val rows = pts.map(p => org.apache.spark.sql.Row(
        p.map(_.map(java.lang.Double.valueOf).orNull): _*))
      val schema = org.apache.spark.sql.types.StructType(Seq.tabulate(nCols)(j =>
        org.apache.spark.sql.types.StructField(s"c$j",
          org.apache.spark.sql.types.DoubleType, nullable = true)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), schema)
      val got = df.select(graft.etl.Layout.zValue(
          Seq.tabulate(nCols)(j => col(s"c$j")), mins, maxs, bits).as("z"))
        .collect().map(_.getLong(0))
      val want = pts.map(p => refZ(p, mins, maxs, bits))
      assert(got.toSeq == want,
        s"trial $trial (nCols=$nCols bits=$bits): Column z-codes must equal the scalar reference")
    }
  }

  test("profileMerge(random split) == profile(whole): counts and ranges exact, estimate in bound") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(7)
    val rows: Seq[(Option[Long], Option[String])] = Seq.tabulate(3000) { i =>
      (if (rnd.nextInt(20) == 0) None else Some(rnd.nextInt(400).toLong),
       if (rnd.nextInt(15) == 0) None else Some(s"v${rnd.nextInt(37)}"))
    }
    val df = spark.createDataFrame(rows).toDF("k", "s")
      .withColumn("slice", pmod(monotonically_increasing_id(), lit(4)))
    for (nSlices <- Seq(2, 4)) {
      val parts = (0 until nSlices).map(r => graft.etl.Profile.profileSketch(
          df.where(col("slice") % nSlices === r).drop("slice"), Seq("k", "s")))
        .reduce(_.unionByName(_))
      val merged = graft.etl.Profile.profileMerge(parts)
        .collect().map(r => r.getString(0) -> r).toMap
      val whole = graft.etl.Profile.profile(df.drop("slice"), Seq("k", "s"))
        .collect().map(r => r.getString(0) -> r).toMap
      for (c <- Seq("k", "s")) {
        val (m, w) = (merged(c), whole(c))
        assert(m.getLong(m.fieldIndex("n_rows")) == w.getLong(w.fieldIndex("n_rows"))
            && m.getLong(m.fieldIndex("n_nulls")) == w.getLong(w.fieldIndex("n_nulls")),
          s"$nSlices slices, $c: counts must merge exactly")
        for (f <- Seq("min_num", "max_num", "min_str", "max_str"))
          assert(m.get(m.fieldIndex(f)) == w.get(w.fieldIndex(f)),
            s"$nSlices slices, $c: $f must merge exactly")
        val est = m.getLong(m.fieldIndex("n_distinct_est"))
        val exact = w.getLong(w.fieldIndex("n_distinct"))
        assert(math.abs(est - exact) <= 0.1 * exact + 2,
          s"$nSlices slices, $c: HLL union estimate $est must sit within bound of $exact")
      }
    }
  }

  test("zOrderDelete: manifest-targeted forgetting rewrites ONLY affected files; null ids survive") {
    import org.apache.spark.sql.functions.col
    val rows: Seq[(String, Option[Long], String)] =
      (for (l <- Seq("de", "en", "es", "fr"); i <- 0L until 100L)
        yield (l, Some(i), s"$l-$i")) ++ Seq(("en", None, "null-0"), ("fr", None, "null-1"))
    val df = spark.createDataFrame(rows).toDF("lang", "k", "payload")
    val cols = Seq("lang", "k")
    val st = graft.etl.Layout.zStats(df, cols)
    val out = Scratch.dir("graft_zdel_") + "/t"
    graft.etl.Layout.zOrderWrite(df, cols, out, bits = 8, numFiles = 4,
      stats = Some(st))
    graft.etl.Layout.saveZStats(spark, out, cols, st)
    graft.etl.Layout.manifestRefresh(spark, out, cols)
    def liveFiles() = new java.io.File(out).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val before = liveFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(before.size == 4)
    // k's high bit dominates the curve, so files ~tile by k: a low-k
    // batch must leave the high-k files untouched
    val (dropped, rewritten) = graft.etl.Layout.zOrderDelete(
      spark, out, cols, st, "k", Seq(5L, 6L), bits = 8)
    assert(dropped == 8L, s"two ks x four langs must drop, got $dropped")
    assert(rewritten >= 1 && rewritten < 4,
      s"the manifest must prune at least one file from the rewrite, touched $rewritten")
    val after = liveFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(before.count { case (n, ts) => after.get(n).contains(ts) } == 4 - rewritten,
      "exactly the affected files may move")
    def keyset() = spark.read.parquet(out).collect()
      .map(r => (r.getString(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
        r.getString(2))).toSet
    assert(keyset() == rows.filterNot(r => r._2.exists(Set(5L, 6L))).toSet,
      "deletion must remove exactly the batch — null-k rows survive")
    // manifest reconciles; a fresh delete of an id that is ALREADY gone
    // touches files (intervals still cover it) but drops nothing
    graft.etl.Layout.manifestUpdate(spark, out, cols)
    val (d2, _) = graft.etl.Layout.zOrderDelete(
      spark, out, cols, st, "k", Seq(5L), bits = 8)
    assert(d2 == 0L, "re-deleting a forgotten id must be a no-op on content")
    // out-of-range batch: no file interval covers it -> (0, 0), no IO
    assert(graft.etl.Layout.zOrderDelete(
      spark, out, cols, st, "k", Seq(10000L), bits = 8) == ((0L, 0)),
      "a batch outside every file interval must touch nothing")
  }

  test("a Layout rewrite that keeps no rows promotes no empty file, so the manifest stays complete") {
    import graft.etl.Layout
    val df = spark.range(0, 40).selectExpr("id AS k", "CAST(id AS STRING) AS payload")
    val st = Layout.zStats(df, Seq("k"))
    val out = Scratch.dir("graft_zempty_") + "/t"
    Layout.zOrderWrite(df, Seq("k"), out, bits = 8, numFiles = 2, stats = Some(st))
    Layout.saveZStats(spark, out, Seq("k"), st)
    Layout.manifestRefresh(spark, out, Seq("k"))
    // the tombstone fold empties every file it rewrites
    Layout.zOrderForget(spark, out, "k", 0L until 40L)
    assert(Layout.zOrderMaintain(spark, out, Seq("k"), st, bits = 8,
      smallFileBytes = 1, targetFileBytes = 1L << 30) == 2)
    val live = new java.io.File(out).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(live.isEmpty, s"no data file may survive an empty rewrite: ${live.map(_.getName).toSeq}")
    // a manifest-guarded mutation after it must not refuse
    assert(Layout.zOrderDelete(spark, out, Seq("k"), st, "k", Seq(1L), bits = 8) == ((0L, 0)))
  }

  test("zOrderForget: tombstone mask hides exactly the batch; maintain folds only affected files and clears the sidecar") {
    import org.apache.spark.sql.functions.col
    import graft.etl.Layout
    val rows: Seq[(String, Option[Long], String)] =
      (for (l <- Seq("de", "en", "es", "fr"); i <- 0L until 100L)
        yield (l, Some(i), s"$l-$i")) ++ Seq(("en", None, "null-0"))
    val df = spark.createDataFrame(rows).toDF("lang", "k", "payload")
    val cols = Seq("lang", "k")
    val st = Layout.zStats(df, cols)
    val out = Scratch.dir("graft_zfgt_") + "/t"
    Layout.zOrderWrite(df, cols, out, bits = 8, numFiles = 4, stats = Some(st))
    Layout.saveZStats(spark, out, cols, st)
    Layout.manifestRefresh(spark, out, cols)
    def liveFiles() = new java.io.File(out).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val before = liveFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(before.size == 4)
    def keyset(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getString(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
        r.getString(2))).toSet
    val full = rows.toSet
    val shrunk = rows.filterNot(r => r._2.exists(Set(5L, 6L))).toSet
    // the forget is LOGICAL: a pure sidecar append, no data file moves
    val resident = Layout.zOrderForget(spark, out, "k", Seq(5L, 6L))
    assert(resident == 8L, s"four langs x two ks are resident, got $resident")
    assert(liveFiles().map(f => f.getName -> f.lastModified()).toMap == before,
      "zOrderForget must not touch any data file")
    assert(keyset(spark.read.parquet(out).toDF("lang", "k", "payload")).map(identity) ==
      full.map(t => (t._1, t._2, t._3)),
      "a bare read still sees tombstoned rows (the documented contract)")
    assert(keyset(Layout.readLayout(spark, out)) == shrunk,
      "readLayout must hide exactly the batch — null-k rows survive the mask")
    // readPruned applies the same mask on the pruned file set
    assert(keyset(Layout.readPruned(spark, out,
        Seq(Layout.Bound("lang", "de", "fr"), Layout.Bound("k", 0L, 99L)))) == shrunk,
      "readPruned must mask tombstones too")
    // repeat forget of tombstoned ids is a no-op; unseen ids count 0 resident
    assert(Layout.zOrderForget(spark, out, "k", Seq(5L, 6L)) == 0L)
    assert(Layout.zOrderForget(spark, out, "k", Seq(50000L)) == 0L,
      "an id no file interval holds must count zero residents")
    // the FOLD: maintain with no small files rewrites ONLY the files
    // whose manifest interval holds a tombstoned id, drops their rows,
    // clears the sidecar, and reconciles the manifest in place
    val n = Layout.zOrderMaintain(spark, out, cols, st, bits = 8,
      smallFileBytes = 1, targetFileBytes = 1L << 30)
    assert(n >= 1 && n < 4, s"the fold must rewrite a strict subset, touched $n")
    val after = liveFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(before.count { case (name, ts) => after.get(name).contains(ts) } == 4 - n,
      "untouched files must not move in the fold")
    assert(!new java.io.File(s"$out/_tombstones").exists(),
      "the fold must clear the tombstone sidecar")
    assert(keyset(spark.read.parquet(out).toDF("lang", "k", "payload")) == shrunk,
      "after the fold a bare read equals the shrunk table — physical removal")
    assert(keyset(Layout.readLayout(spark, out)) == shrunk,
      "post-fold readLayout pays no mask and reads the same content")
    assert(spark.read.parquet(s"$out/_manifest").count() == liveFiles().length,
      "the fold must reconcile the manifest in place")
    // steady state: no smalls, no tombstones -> no-op
    assert(Layout.zOrderMaintain(spark, out, cols, st, bits = 8,
      smallFileBytes = 1, targetFileBytes = 1L << 30) == 0)
    // a maintain asked to fold WITHOUT a manifest must refuse loudly
    val out2 = Scratch.dir("graft_zfgt2_") + "/t"
    Layout.zOrderWrite(df, cols, out2, bits = 8, numFiles = 2, stats = Some(st))
    Layout.zOrderForget(spark, out2, "k", Seq(1L))
    val e = intercept[IllegalArgumentException] {
      Layout.zOrderMaintain(spark, out2, cols, st, bits = 8)
    }
    assert(e.getMessage.contains("manifestRefresh"),
      s"fold without a manifest must name the recovery step, got: ${e.getMessage}")
  }

  test("zOrderUpsert: MERGE rewrites only affected files; pure inserts append; upserted ids un-forget") {
    import org.apache.spark.sql.functions.col
    import graft.etl.Layout
    val rows: Seq[(String, Long, String)] =
      for (l <- Seq("de", "en", "es", "fr"); i <- 0L until 100L)
        yield (l, i, s"$l-$i")
    val df = spark.createDataFrame(rows).toDF("lang", "k", "payload")
    val cols = Seq("lang", "k")
    val st = Layout.zStats(df, cols)
    val out = Scratch.dir("graft_zups_") + "/t"
    Layout.zOrderWrite(df, cols, out, bits = 8, numFiles = 4, stats = Some(st))
    Layout.saveZStats(spark, out, cols, st)
    Layout.manifestRefresh(spark, out, cols)
    def liveFiles() = new java.io.File(out).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val before = liveFiles().map(f => f.getName -> f.lastModified()).toMap
    def keyset() = spark.read.parquet(out).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    // mixed batch: k in {5, 6} updated (every lang's row of that id is
    // superseded — replace-the-id semantics), two brand-new ids inserted
    val batch = spark.createDataFrame(
        (for (l <- Seq("de", "en", "es", "fr"); i <- Seq(5L, 6L))
          yield (l, i, s"UPD-$l-$i")) ++
        Seq(("xx", 200L, "NEW-200"), ("yy", 201L, "NEW-201")))
      .toDF("lang", "k", "payload")
    val (superseded, written, filesRw) =
      Layout.zOrderUpsert(spark, out, cols, st, "k", batch, bits = 8)
    assert(superseded == 8L, s"4 langs x 2 updated ids, got $superseded")
    assert(written == 10L, s"8 updates + 2 inserts, got $written")
    assert(filesRw >= 1 && filesRw < 4,
      s"the manifest must keep untouched files out of the MERGE, rewrote $filesRw")
    val after = liveFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(before.count { case (n2, ts) => after.get(n2).contains(ts) } == 4 - filesRw,
      "exactly the affected files may move")
    val expect = rows.filterNot(r => Set(5L, 6L)(r._2)).toSet ++
      batch.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(keyset() == expect, "MERGE = anti-join old ids, union batch")
    assert(spark.read.parquet(s"$out/_manifest").count() == liveFiles().length,
      "upsert must reconcile the manifest in place")
    // pure insert: no file interval can hold the batch ids -> append
    // path, zero rewrites, content grows by the batch
    val ins = spark.createDataFrame(Seq(("zz", 300L, "NEW-300")))
      .toDF("lang", "k", "payload")
    val (s2, w2, f2) = Layout.zOrderUpsert(spark, out, cols, st, "k", ins, bits = 8)
    assert((s2, w2, f2) == ((0L, 1L, 0)), s"pure insert must append, got ($s2,$w2,$f2)")
    assert(keyset() == expect + (("zz", 300L, "NEW-300")))
    // un-forget: a tombstoned id the batch re-ingests must be live again
    assert(Layout.zOrderForget(spark, out, "k", Seq(10L, 11L)) == 8L)
    assert(Layout.readLayout(spark, out).where(col("k").isin(10L, 11L)).isEmpty,
      "forgotten ids must be masked")
    val rev = spark.createDataFrame(Seq(("en", 10L, "REVIVED-10")))
      .toDF("lang", "k", "payload")
    Layout.zOrderUpsert(spark, out, cols, st, "k", rev, bits = 8)
    val vis = Layout.readLayout(spark, out).where(col("k") === 10L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(vis == Set(("en", 10L, "REVIVED-10")),
      "the upserted id must leave the tombstone mask; id 11 stays masked")
    assert(Layout.readLayout(spark, out).where(col("k") === 11L).isEmpty,
      "non-upserted tombstoned ids stay masked")
    // null ids are refused — MERGE is keyed
    val nullBatch = spark.createDataFrame(
        Seq(("en", Some(1L), "x"), ("en", Option.empty[Long], "y")))
      .toDF("lang", "k", "payload")
    val e = intercept[IllegalArgumentException] {
      Layout.zOrderUpsert(spark, out, cols, st, "k", nullBatch, bits = 8)
    }
    assert(e.getMessage.contains("null ids"))
  }

  test("manifest completeness guard: files landed after the last reconcile make targeted mutations refuse") {
    import org.apache.spark.sql.functions.col
    import graft.etl.Layout
    val rows: Seq[(String, Long, String)] =
      for (l <- Seq("en", "fr"); i <- 0L until 50L) yield (l, i, s"$l-$i")
    val df = spark.createDataFrame(rows).toDF("lang", "k", "payload")
    val cols = Seq("lang", "k")
    val st = Layout.zStats(df, cols)
    val out = Scratch.dir("graft_zgrd_") + "/t"
    Layout.zOrderWrite(df, cols, out, bits = 8, numFiles = 2, stats = Some(st))
    Layout.manifestRefresh(spark, out, cols)
    // a file the manifest has never seen: landed by append, no reconcile
    Layout.zOrderAppend(
      spark.createDataFrame(Seq(("en", 7L, "late-7"))).toDF("lang", "k", "payload"),
      cols, out, st, bits = 8)
    val eDel = intercept[IllegalArgumentException] {
      Layout.zOrderDelete(spark, out, cols, st, "k", Seq(7L), bits = 8)
    }
    assert(eDel.getMessage.contains("manifestUpdate"),
      s"zOrderDelete over an incomplete manifest could leave ids alive while " +
      s"reporting success — must refuse, got: ${eDel.getMessage}")
    val eUps = intercept[IllegalArgumentException] {
      Layout.zOrderUpsert(spark, out, cols, st, "k",
        spark.createDataFrame(Seq(("en", 7L, "u"))).toDF("lang", "k", "payload"),
        bits = 8)
    }
    assert(eUps.getMessage.contains("manifestUpdate"))
    // forget still works (the mask needs no manifest; the residency count
    // falls back to a full pushed-filter scan) — but the FOLD refuses
    assert(Layout.zOrderForget(spark, out, "k", Seq(7L)) == 3L,
      "two resident rows + the unreconciled late file's row")
    val eFold = intercept[IllegalArgumentException] {
      Layout.zOrderMaintain(spark, out, cols, st, bits = 8,
        smallFileBytes = 1, targetFileBytes = 1L << 30)
    }
    assert(eFold.getMessage.contains("manifestUpdate"))
    // after the reconcile every op proceeds
    Layout.manifestUpdate(spark, out, cols)
    assert(Layout.zOrderMaintain(spark, out, cols, st, bits = 8,
      smallFileBytes = 1, targetFileBytes = 1L << 30) >= 1)
    assert(spark.read.parquet(out).where(col("k") === 7L).count() == 0,
      "the fold must shed every row of the forgotten id, late file included")
  }

  test("manifest null counts make null-seeking pruning lossless") {
    import org.apache.spark.sql.functions.col
    import graft.etl.Layout
    val rows: Seq[(String, Option[Long], String)] =
      (for (l <- Seq("en", "fr"); i <- 0L until 100L)
        yield (l, Some(i), s"$l-$i")) ++
      Seq(("en", None, "n0"), ("fr", None, "n1"), ("en", None, "n2"))
    val df = spark.createDataFrame(rows).toDF("lang", "k", "payload")
    val cols = Seq("lang", "k")
    val st = Layout.zStats(df, cols)
    val out = Scratch.dir("graft_znul_") + "/t"
    Layout.zOrderWrite(df, cols, out, bits = 8, numFiles = 4, stats = Some(st))
    Layout.manifestRefresh(spark, out, cols)
    // null k encodes to cell 0, so the null rows cluster at the curve's
    // low end: the null-seeking file list is a strict subset
    val nf = Layout.prunedFiles(spark, out, Nil, nullCols = Seq("k"))
    assert(nf.nonEmpty && nf.length < 4,
      s"null-seeking pruning must keep a strict subset, kept ${nf.length}/4")
    assert(Layout.readPruned(spark, out, Nil, nullCols = Seq("k"))
        .where(col("k").isNull).count() == 3,
      "null-seeking pruning must be lossless — every IS NULL row survives")
    // range bounds still prune files whose tracked column is all-null
    // away (no BETWEEN matches a NULL) — unchanged semantics
    assert(Layout.readPruned(spark, out,
        Seq(Layout.Bound("k", 0L, 99L))).where(col("k").between(0L, 99L))
        .count() == 200)
  }

  test("Profile: timestamp and date columns profile as epoch micros / days") {
    import org.apache.spark.sql.functions.col
    val ts = (secs: Long) => java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(secs))
    val d = (s: String) => java.sql.Date.valueOf(s)
    val rows = Seq(
      (ts(1000L), d("2026-01-01")),
      (ts(2000L), d("2026-03-01")),
      (ts(2000L), d("2026-01-01")),
      (null.asInstanceOf[java.sql.Timestamp], d("2026-02-01")))
    val df = spark.createDataFrame(rows).toDF("ts", "day")
    val p = graft.etl.Profile.profile(df, Seq("ts", "day")).collect()
      .map(r => r.getString(0) -> r).toMap
    val tsRow = p("ts")
    assert(tsRow.getLong(1) == 4L && tsRow.getLong(2) == 1L && tsRow.getLong(3) == 2L,
      "ts: 4 rows, 1 null, 2 distinct")
    assert(tsRow.getDouble(4) == 1000e6 && tsRow.getDouble(5) == 2000e6,
      s"ts range must be epoch micros, got ${tsRow.getDouble(4)}..${tsRow.getDouble(5)}")
    val dayRow = p("day")
    val epochDay = (s: String) => java.time.LocalDate.parse(s).toEpochDay.toDouble
    assert(dayRow.getDouble(4) == epochDay("2026-01-01")
        && dayRow.getDouble(5) == epochDay("2026-03-01"),
      "date range must be epoch days")
    // the sketch/merge path takes the same epoch-integral image: two
    // slices merge to the whole-table profile exactly on counts/ranges
    val parts = Seq(df.where(col("day") <= lit(d("2026-01-31"))),
        df.where(col("day") > lit(d("2026-01-31"))))
      .map(s => graft.etl.Profile.profileSketch(s, Seq("ts", "day")))
      .reduce(_.unionByName(_))
    val m = graft.etl.Profile.profileMerge(parts).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(m("ts").getDouble(m("ts").fieldIndex("min_num")) == 1000e6
        && m("ts").getDouble(m("ts").fieldIndex("max_num")) == 2000e6,
      "merged ts range must equal the one-pass range")
  }

  test("Layout.zValue interleaves bits exactly; zOrderWrite is a lossless reorder") {
    import org.apache.spark.sql.functions.col
    // bits = 2, two columns scaled over [0, 4): cell = value itself for
    // 0..3 (v/4*4), the max clamps into the top cell. The textbook
    // Morton positions: bit i of column j lands at i*n + j.
    val pts = Seq((0L, 0L), (3L, 0L), (0L, 3L), (3L, 3L), (2L, 1L), (1L, 2L), (4L, 0L))
    val df = spark.createDataFrame(pts).toDF("x", "y")
    val z = graft.etl.Layout.zValue(Seq(col("x"), col("y")), Seq(0.0, 0.0),
      Seq(4.0, 4.0), bits = 2)
    val got = df.select(col("x"), col("y"), z.as("z")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((0L, 0L) -> 0L, (3L, 0L) -> 5L, (0L, 3L) -> 10L,
      (3L, 3L) -> 15L, (2L, 1L) -> 6L, (1L, 2L) -> 9L, (4L, 0L) -> 5L),
      s"Morton codes must match the textbook interleave, got $got")
    // roundtrip: the z-ordered rewrite is a pure reorder — same multiset
    val rows = (0L until 500L).map(i => (i, i % 37, (i * 31) % 101))
    val src = spark.createDataFrame(rows).toDF("id", "a", "b")
    val dir = Scratch.dir("graft_zorder_")
    graft.etl.Layout.zOrderWrite(src, Seq("a", "b"), dir, bits = 8, numFiles = 4)
    val back = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(back.toSeq == rows.sorted.toSeq, "zOrderWrite must preserve every row")
    assert(spark.read.parquet(dir).schema.fieldNames.toSet == Set("id", "a", "b"),
      "the z key must not leak into the written schema")
  }

  test("crossCorpusNearDupIndexed: per-row identical to the direct path; params come from the index") {
    import org.apache.spark.sql.functions.col
    // a corpus with true near-dups across the split, exact dups, and
    // no-collision strays — the three row classes the contract names
    val texts = (0L until 40L).map { i =>
      if (i % 4 == 1) // strays: fully private vocabulary, no collision
        i -> (0 until 12).map(w => s"u${i}x$w").mkString(" ")
      else {
        val words = (0 until 12).map(w => s"w${(i % 7 + w) % 19}")
        i -> (if (i % 5 == 0) words.mkString(" ")
              else words.drop(1).mkString(" ") + s" tail$i")
      }
    }
    val all = docs(texts: _*)
    val ref = all.where(col("doc_id") % 3 === 0)
    val batch = all.where(col("doc_id") % 3 =!= 0)
    val ipath = Scratch.dir("graft_ccidx_")
    Dedup.dedupIndexWrite(ref, "test_ccidx", ipath, numBuckets = 4, bands = 8)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      r.getLong(0) -> (r.getBoolean(1),
        Option(r.get(2)).map(v => math.round(r.getDouble(2) * 1e9)))).toMap
    val direct = key(Dedup.crossCorpusNearDup(batch, ref, bands = 8))
    val indexed = key(Dedup.crossCorpusNearDupIndexed(batch, "test_ccidx"))
    assert(indexed == direct,
      s"indexed probe must equal the direct path\n idx=$indexed\n dir=$direct")
    assert(direct.values.exists(_._1) && direct.values.exists(!_._1),
      "the fixture must exercise both flag values")
    // the banding params ride the index's meta table (bands = 8 here,
    // not the default 16): a probe at library defaults would produce
    // DIFFERENT buckets — equality above proves the meta was honored
    val meta = spark.table("test_ccidx_meta").head()
    assert((meta.getInt(0), meta.getInt(1), meta.getInt(2)) == (32, 8, 3))
  }

  test("dedupIndex compact + delete: staged swap keeps probes exact; delete == rebuild on the shrunk reference") {
    import org.apache.spark.sql.functions.col
    val texts = (0L until 40L).map { i =>
      if (i % 4 == 1) i -> (0 until 12).map(w => s"u${i}x$w").mkString(" ")
      else {
        val words = (0 until 12).map(w => s"w${(i % 7 + w) % 19}")
        i -> (if (i % 5 == 0) words.mkString(" ")
              else words.drop(1).mkString(" ") + s" tail$i")
      }
    }
    val all = docs(texts: _*)
    val ref = all.where(col("doc_id") % 3 === 0)
    val batch = all.where(col("doc_id") % 3 =!= 0)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      r.getLong(0) -> (r.getBoolean(1),
        Option(r.get(2)).map(v => math.round(r.getDouble(2) * 1e9)))).toMap
    // fragmented build: write one third, append the rest in two batches
    val p1 = Scratch.dir("graft_didx_frag_")
    Dedup.dedupIndexWrite(ref.where(col("doc_id") < 12), "didx_frag", p1,
      numBuckets = 4, bands = 8)
    Dedup.dedupIndexAppend(ref.where(col("doc_id") >= 12 && col("doc_id") < 27), "didx_frag")
    Dedup.dedupIndexAppend(ref.where(col("doc_id") >= 27), "didx_frag")
    val before = key(Dedup.crossCorpusNearDupIndexed(batch, "didx_frag"))
    def dataFiles(tbl: String) = {
      val loc = new java.io.File(spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(tbl)).location)
      loc.listFiles().count(f => f.isFile && !f.getName.startsWith("_")
        && !f.getName.startsWith("."))
    }
    assert(dataFiles("didx_frag_buckets") > 4,
      "the appends must have fragmented the buckets table")
    Dedup.dedupIndexCompact(spark, "didx_frag")
    assert(dataFiles("didx_frag_buckets") <= 4 && dataFiles("didx_frag_shingles") <= 4,
      "compaction must coalesce to at most one file per bucket")
    assert(key(Dedup.crossCorpusNearDupIndexed(batch, "didx_frag")) == before,
      "compaction must not change probe results")
    // delete half the reference -> probes equal a fresh index on the rest.
    // The delete is LOGICAL (Θ(batch) tombstone append): the physical
    // tables must be untouched, the tombstone table must hold the batch,
    // and the probe's anti-join must hide the forgotten docs exactly.
    val dead = ref.where(col("doc_id") % 2 === 0)
    val shinglesBefore = spark.table("didx_frag_shingles").count()
    val removed = Dedup.dedupIndexDelete(dead.select("doc_id"), "didx_frag")
    assert(removed == dead.count(), "removed count = reference docs dropped")
    assert(spark.table("didx_frag_shingles").count() == shinglesBefore,
      "logical delete must not rewrite the physical tables")
    assert(spark.table("didx_frag_tombstones").count() == removed,
      "the tombstone table must hold exactly the forgotten ids")
    val p2 = Scratch.dir("graft_didx_ref2_")
    Dedup.dedupIndexWrite(ref.where(col("doc_id") % 2 =!= 0), "didx_ref2", p2,
      numBuckets = 4, bands = 8)
    val survivors = key(Dedup.crossCorpusNearDupIndexed(batch, "didx_frag"))
    assert(survivors == key(Dedup.crossCorpusNearDupIndexed(batch, "didx_ref2")),
      "a deleted-from index must probe exactly like one rebuilt on the survivors")
    // with tombstones resident the probe pays the broadcast anti-join ...
    assert(Dedup.crossCorpusNearDupIndexed(batch, "didx_frag")
        .queryExecution.executedPlan.toString.contains("LeftAnti"),
      "a tombstoned index's probe must carry the anti-join mask")
    // deleting absent ids is a no-op; re-deleting tombstoned ids too
    assert(Dedup.dedupIndexDelete(
      spark.createDataFrame(Seq(Tuple1(9999L))).toDF("doc_id"), "didx_frag") == 0L)
    assert(Dedup.dedupIndexDelete(dead.select("doc_id"), "didx_frag") == 0L,
      "re-deleting already-tombstoned ids must count zero")
    // compact folds the tombstones physically: rows drop from the
    // tables, the side table clears, and the probe is unchanged
    Dedup.dedupIndexCompact(spark, "didx_frag")
    assert(spark.table("didx_frag_shingles").count() == shinglesBefore - removed,
      "compact must physically shed the tombstoned rows")
    assert(spark.table("didx_frag_tombstones").count() == 0,
      "compact must clear the folded tombstones")
    assert(key(Dedup.crossCorpusNearDupIndexed(batch, "didx_frag")) == survivors,
      "physical forgetting must probe identically to logical forgetting")
    // ... and the post-compaction steady state pays NOTHING: the empty
    // tombstone set skips the anti-join at plan time, it does not run
    // an always-true mask forever
    assert(!Dedup.crossCorpusNearDupIndexed(batch, "didx_frag")
        .queryExecution.executedPlan.toString.contains("LeftAnti"),
      "an empty tombstone set must skip the anti-join entirely")
  }

  test("dedupIndexClone: fork probes identically, keeps the bucket spec, and isolates mutations") {
    import org.apache.spark.sql.functions.col
    val texts = (0L until 40L).map { i =>
      if (i % 4 == 1) i -> (0 until 12).map(w => s"u${i}x$w").mkString(" ")
      else {
        val words = (0 until 12).map(w => s"w${(i % 7 + w) % 19}")
        i -> (if (i % 5 == 0) words.mkString(" ")
              else words.drop(1).mkString(" ") + s" tail$i")
      }
    }
    val all = docs(texts: _*)
    val ref = all.where(col("doc_id") % 3 === 0)
    val batch = all.where(col("doc_id") % 3 =!= 0)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      r.getLong(0) -> (r.getBoolean(1),
        Option(r.get(2)).map(v => math.round(r.getDouble(2) * 1e9)))).toMap
    val p1 = Scratch.dir("graft_didx_src_")
    Dedup.dedupIndexWrite(ref, "didx_src", p1, numBuckets = 4, bands = 8)
    // tombstone some ids on the SOURCE so the clone must carry them too
    val dead = ref.where(col("doc_id") % 2 === 0)
    Dedup.dedupIndexDelete(dead.select("doc_id"), "didx_src")
    val srcProbe = key(Dedup.crossCorpusNearDupIndexed(batch, "didx_src"))
    val p2 = Scratch.dir("graft_didx_cln_")
    Dedup.dedupIndexClone(spark, "didx_src", "didx_cln", p2)
    // content-identical fork: probe results, tombstones, bucket spec
    assert(key(Dedup.crossCorpusNearDupIndexed(batch, "didx_cln")) == srcProbe,
      "the clone must probe exactly like its source")
    assert(spark.table("didx_cln_tombstones").count() ==
      spark.table("didx_src_tombstones").count(),
      "the clone must carry the source's tombstones")
    def spec(tbl: String) = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl)).bucketSpec
    assert(spec("didx_cln_buckets") == spec("didx_src_buckets") &&
      spec("didx_cln_shingles") == spec("didx_src_shingles"),
      "the clone must keep the source's bucket/sort specs")
    // mutation isolation: compacting the clone (folds + clears its
    // tombstones) must leave the source's tables and tombstones intact
    val srcShingles = spark.table("didx_src_shingles").count()
    val srcTombs = spark.table("didx_src_tombstones").count()
    Dedup.dedupIndexCompact(spark, "didx_cln")
    assert(spark.table("didx_cln_tombstones").count() == 0,
      "compact on the clone must clear the clone's tombstones")
    assert(spark.table("didx_src_shingles").count() == srcShingles &&
      spark.table("didx_src_tombstones").count() == srcTombs,
      "mutating the clone must not touch the source")
    assert(key(Dedup.crossCorpusNearDupIndexed(batch, "didx_cln")) == srcProbe,
      "the physically-compacted clone must still probe like the source")
  }

  test("Layout.zValue is monotone under coordinate dominance (exhaustive 16x16 grid)") {
    import org.apache.spark.sql.functions.col
    // the property that makes Morton footer stats selective: if a <= b
    // on EVERY dimension then z(a) <= z(b), so an axis-aligned rectangle
    // maps to a bounded set of curve intervals and each row group's
    // min/max covers a contiguous curve tile. Exhaustive over the full
    // 16x16 cell grid at bits = 4 — every dominated pair checked.
    val pts = for (x <- 0 until 16; y <- 0 until 16) yield (x.toLong, y.toLong)
    val df = spark.createDataFrame(pts).toDF("x", "y")
    val z = graft.etl.Layout.zValue(Seq(col("x"), col("y")), Seq(0.0, 0.0),
      Seq(16.0, 16.0), bits = 4)
    val got = df.select(col("x"), col("y"), z.as("z")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.values.toSeq.distinct.size == 256, "the grid must map to 256 distinct codes")
    for (((ax, ay), az) <- got; ((bx, by), bz) <- got
         if ax <= bx && ay <= by && (ax, ay) != (bx, by))
      assert(az < bz, s"dominated point ($ax,$ay)=$az must order before ($bx,$by)=$bz")
  }

  test("ivfPqResQuery: full coverage equals brute force (residual corrections cancel at the re-rank)") {
    import org.apache.spark.sql.functions.col
    // same argument as the raw fused test: probing every cell + a
    // corpus-wide shortlist makes both the pruning and the residual ADC
    // order irrelevant — the exact re-rank must reproduce brute force
    val vecs = (0L until 40L).map { i =>
      (i, (0 until 8).map(d =>
        (java.lang.Math.floorMod(graft.functions.TextHashes.splitmix(i * 31 + d), 1000L)
          .toDouble / 500.0) - 1.0))
    }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val q = df.where(col("vec_id") < 3)
    val dir = Scratch.dir("graft_ivfpqres_")
    Similarity.ivfPqResWrite(df, dir, numCentroids = 4, lloydIters = 1, ivfSampleMod = 1,
      m = 4, ksub = 4, pqIters = 2, pqSampleMod = 2)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Number]("query_id").longValue, r.getAs[Number]("rank").intValue) ->
        (r.getAs[Number]("corpus_id").longValue, math.round(r.getAs[Double]("cosine") * 1e9))
    val got = Similarity.ivfPqResQuery(spark, dir, df, q, k = 5, nprobe = 4, shortlist = 100)
      .collect().map(key).toMap
    val bf = Similarity.bruteForceTopK(df, q, k = 5).collect().map(key).toMap
    assert(got == bf, "full-coverage residual IVF-PQ must equal exact brute force")
  }

  test("components broadcast-bound resolution: arg > conf > local-heap default") {
    assert(Dedup.resolveBroadcastBound(spark, 42L) == 42L,
      "an explicit non-negative arg wins outright")
    assert(Dedup.resolveBroadcastBound(spark, 0L) == 0L,
      "zero is an explicit bound (always-shuffle), not a sentinel")
    spark.conf.set("spark.graft.cc.maxBroadcastIds", "123456")
    try assert(Dedup.resolveBroadcastBound(spark, -1L) == 123456L,
      "the session conf overrides the memory-derived default")
    finally spark.conf.unset("spark.graft.cc.maxBroadcastIds")
    // this suite runs a local master: the default must be the measured
    // single-JVM calibration (heap/3.2K) — driver and executors share
    // the heap here, which is exactly when driver heap IS the evidence
    assert(Dedup.resolveBroadcastBound(spark, -1L) ==
      Runtime.getRuntime.maxMemory / 3200)
  }

  test("clusteringAgreement: identical clusterings agree exactly; refinement decomposes") {
    import org.apache.spark.sql.functions.col
    // clusters {1,2,3},{4,5},{6} vs a REFINEMENT splitting the triple
    val a = spark.createDataFrame(Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (6L, 6L)))
      .toDF("doc_id", "cluster_id")
    val b = spark.createDataFrame(Seq(
      (1L, 1L), (2L, 1L), (3L, 30L), (4L, 4L), (5L, 4L), (6L, 6L)))
      .toDF("doc_id", "cluster_id")
    val same = Dedup.clusteringAgreement(a, a).head()
    // identical clusterings: pair sets equal, both diffs zero
    assert(same.getLong(0) == 3 && same.getLong(1) == 3)
    assert(same.getLong(2) == 4 && same.getLong(3) == 4 && same.getLong(4) == 4)
    assert(same.getLong(5) == 0 && same.getLong(6) == 0)
    val refd = Dedup.clusteringAgreement(a, b).head()
    // b refines a: every b-pair is an a-pair (pairs_only_b = 0), and a
    // loses exactly the 2 pairs that crossed the {1,2}|{3} split
    assert(refd.getLong(2) == 4 && refd.getLong(3) == 2 && refd.getLong(4) == 2)
    assert(refd.getLong(5) == 2, "pairs_only_a = split pairs")
    assert(refd.getLong(6) == 0, "a refinement never adds pairs")
  }

  test("components: distributed rounds, hybrid finish, and driver finish all agree") {
    // two chains + singletons; every execution path of the two-phase CC
    // must produce the identical labeling:
    //   bound=0        → pure distributed min-label rounds (never finishes
    //                    on the driver)
    //   bound=2        → distributed rounds contract the super-graph until
    //                    it fits, then the driver union-find closes it
    //   bound=default  → immediate driver finish, zero distributed rounds
    val n = 20
    val chain = (1 until n).map(i => (i.toLong, i.toLong + 1))
    val pair = Seq((100L, 101L))
    val pairs = spark.createDataFrame(chain ++ pair).toDF("a_id", "b_id")
    val ids = spark.createDataFrame(
      ((1 to n).map(_.toLong) ++ Seq(100L, 101L, 200L)).map(Tuple1(_))).toDF("doc_id")
    def run(bound: Long, maxBcastIds: Long = 8_000_000L) =
      Dedup.components(pairs, ids, driverEdgeBound = bound,
          maxBroadcastIds = maxBcastIds)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val viaDriver = run(1L << 20)
    val viaDistributed = run(0L)
    val viaHybrid = run(2L)
    // maxBroadcastIds=0 forces the shuffle-join (pointer-edge-union)
    // rounds — the billions-of-docs regime must label identically to the
    // broadcast-label rounds the small regimes take
    val viaShuffleRounds = run(0L, maxBcastIds = 0L)
    assert(viaDriver == viaDistributed)
    assert(viaDriver == viaHybrid)
    assert(viaDriver == viaShuffleRounds)
    assert(viaDriver(20L) == (1L, false) && viaDriver(101L) == (100L, false)
      && viaDriver(200L) == (200L, true))
  }

  test("components: driver finish preserves an Int id schema") {
    // Int ids must come back as Int cluster ids (the union-find is generic
    // — no silent widening to Long through the root map)
    val pairs = spark.createDataFrame(Seq((2, 1), (3, 2))).toDF("a_id", "b_id")
    val ids = spark.createDataFrame(Seq(1, 2, 3, 9).map(Tuple1(_))).toDF("doc_id")
    val out = Dedup.components(pairs, ids)
    assert(out.schema("cluster_id").dataType == org.apache.spark.sql.types.IntegerType)
    val got = out.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(got == Map(1 -> 1, 2 -> 1, 3 -> 1, 9 -> 9))
  }

  test("sequence packing: contiguous offsets per shard, budget-aligned boundaries") {
    val d = docs((1 to 40).map(i => i.toLong -> (Seq.fill(i % 7 + 1)("tok").mkString(" "))): _*)
    val budget = 10
    val rows = Packing.packSequences(d, budget = budget, shards = 3)
      .orderBy("shard", "doc_id").collect()
    assert(rows.length == 40)
    // within each shard, offset(next) = offset(prev) + n_tokens(prev):
    // documents are packed back-to-back with no gaps and no overlap
    rows.groupBy(_.getInt(1)).foreach { case (_, rs) =>
      val offs = rs.map(r => (r.getLong(2), r.getLong(3) * budget + r.getLong(4)))
      offs.sliding(2).foreach {
        case Array((ntokPrev, offPrev), (_, offNext)) =>
          assert(offNext == offPrev + ntokPrev)
        case _ =>
      }
      // every shard starts at sequence 0, offset 0
      assert(offs.head._2 == 0L)
    }
    // token counts: doc i has i % 7 + 1 whitespace tokens
    assert(rows.forall(r => r.getLong(2) == (r.getLong(0) % 7) + 1))
    // all shards used (hash sharding spreads 40 sequential ids over 3)
    assert(rows.map(_.getInt(1)).distinct.length == 3)
  }

  test("sampledVerifiedPairs: subset of exact pairs, HT estimate tracks the true count") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away " * 3
    // several near-dup families so buckets exist on both sides of the
    // sampling gate, plus unrelated docs
    val d = docs(
      ((0L until 40L).map { i =>
        val fam = i / 4
        i -> (base.trim.replace("dog", s"dog$fam") + s" tail$i")
      } :+ (100L -> "completely unrelated content about catalyst and codegen")): _*)
    val exact = Dedup.ngramJaccard(Dedup.minhashCandidates(d, portable = true), d)
      .where(col("jaccard") >= 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sampled = Dedup.sampledVerifiedPairs(d, sampleMod = 4).collect()
    val sampledPairs = sampled.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sampledPairs.subsetOf(exact), "sampling must never invent a pair")
    // weights: every sampled pair has k >= 1 and w >= 1 (inclusion
    // probability is at most 1)
    sampled.foreach { r =>
      assert(r.getInt(3) >= 1)
      assert(r.getDecimal(4).doubleValue() >= 1.0)
    }
    // the HT estimate is unbiased over the hash draw; on this fixed
    // corpus it must at least land within a loose factor of truth —
    // catching broken weights (off by s) or broken k counting
    val est = sampled.map(_.getDecimal(4).doubleValue()).sum
    assert(exact.nonEmpty && est > 0)
    assert(est > exact.size / 4.0 && est < exact.size * 4.0,
      s"HT estimate $est vs true ${exact.size}")
  }

  test("bucketStarEdges: linear edge count, components equal the all-pairs bucket join") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away " * 3
    // a 5-member near-dup class + a 2-member class + singletons
    val d = docs(
      ((1L to 5L).map(i => i -> (base.trim + s" tail$i")) :+
        (10L -> "parquet footers and shuffle partitions make a fine evening read") :+
        (11L -> "parquet footers and shuffle partitions make a fine evening chat") :+
        (20L -> "completely unrelated content about catalyst rules and codegen")): _*)
    val buckets = Dedup.lshBuckets(Dedup.minhashSignatures(d, portable = true), portable = true)
    val star = Dedup.bucketStarEdges(buckets)
    val allPairs = {
      val a = buckets.toDF("a_id", "band", "bucket")
      val b = buckets.toDF("b_id", "band", "bucket")
      a.join(b, Seq("band", "bucket")).where(col("a_id") < col("b_id"))
        .select("a_id", "b_id").distinct()
    }
    // stars never out-count cliques, and every star edge leads from a
    // bucket minimum
    val nStar = star.count(); val nPairs = allPairs.count()
    assert(nStar <= nPairs && nStar > 0)
    // components are IDENTICAL: within a bucket the star spans the clique
    val ids = d.select("doc_id")
    def comps(pairs: org.apache.spark.sql.DataFrame) =
      Dedup.components(pairs, ids).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(star) == comps(allPairs))
    // linearity on a planted b-member bucket: a clique is b(b-1)/2, the
    // star is b-1 — check the structural bound per (band, bucket)
    val sizes = buckets.groupBy("band", "bucket").count().collect().map(_.getLong(2))
    val starBound = sizes.map(_ - 1).sum
    assert(nStar <= starBound)
  }

  test("collapseIdentical: star edges for duplicate classes, identical components") {
    // 4 exact copies (one duplicate class) + 2 near-dups of the class +
    // unrelated docs
    val base = "the quick brown fox jumps over the lazy dog and runs far away " * 3
    val d = docs(
      (Seq(1L, 2L, 3L, 4L).map(_ -> base.trim) :+
        (10L -> (base.trim + " extra")) :+
        (11L -> base.trim.replace("lazy", "sleepy")) :+
        (20L -> "completely different words about spark plans and shuffles here") :+
        (21L -> "another unrelated doc that talks about parquet footers only")): _*)
    val plain = Dedup.simhashCandidates(d, portable = true)
    val collapsed = Dedup.simhashCandidates(d, portable = true, collapseIdentical = true)
    // the duplicate class {1,2,3,4} is all-pairs (6 edges) plain, a star
    // (3 edges from rep 1) collapsed
    val plainIn = plain.collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(p => p._1 <= 4 && p._2 <= 4)
    val starIn = collapsed.collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(p => p._1 <= 4 && p._2 <= 4)
    assert(plainIn.length == 6 && starIn.toSet == Set((1L, 2L), (1L, 3L), (1L, 4L)))
    // components must be IDENTICAL either way (the collapse contract)
    val ids = d.select("doc_id")
    def comps(pairs: org.apache.spark.sql.DataFrame) =
      Dedup.components(pairs, ids).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(plain) == comps(collapsed))
  }

  test("collapseIdentical for minhash: star edges at est_jaccard 1.0, identical components") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away " * 3
    val d = docs(
      (Seq(1L, 2L, 3L).map(_ -> base.trim) :+
        (10L -> (base.trim + " extra trailing tokens")) :+
        (20L -> "completely different words about spark plans and shuffles here")): _*)
    val plain = Dedup.minhashCandidates(d, portable = true)
    val collapsed = Dedup.minhashCandidates(d, portable = true, collapseIdentical = true)
    val starIn = collapsed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(p => p._1 <= 3 && p._2 <= 3)
    assert(starIn.toSet == Set((1L, 2L, 1.0), (1L, 3L, 1.0)))
    val ids = d.select("doc_id")
    def comps(pairs: org.apache.spark.sql.DataFrame) =
      Dedup.components(pairs.select("a_id", "b_id"), ids).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(plain) == comps(collapsed))
  }

  test("crossCorpusNearDup: flags near-dups of the reference, leaves strangers (false, null)") {
    val b = "the quick brown fox jumps over the lazy dog and runs far away " * 3
    val corpus = docs(
      1L -> (b.trim + " tail"),                     // near-dup of ref 100
      2L -> b.trim.replace("lazy", "sleepy"),       // near-dup of ref 100
      3L -> "completely different words about spark plans and shuffles here")
    val ref = docs(100L -> b.trim,
      101L -> "reference doc about parquet footers and row group statistics")
    val got = Dedup.crossCorpusNearDup(corpus, ref).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got(1L)._1 && got(1L)._2.exists(_ >= 0.5))
    assert(got(2L)._1 && got(2L)._2.exists(_ >= 0.5))
    // the stranger either produced no candidate (null) or a sub-threshold one
    assert(!got(3L)._1 && got(3L)._2.forall(_ < 0.5))
    // corpus docs never flag against EACH OTHER: 1 and 2 near-dup each
    // other, but with only the stranger as reference nothing flags
    val onlyStranger = Dedup.crossCorpusNearDup(corpus,
      docs(200L -> "reference doc about parquet footers and row group statistics"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(onlyStranger.values.forall(_ == false))
  }

  test("verifiedPairsAuto: exact regime carries w = 1 and the exact pair set; forced sampled regime = sampledVerifiedPairs") {
    val b = "the quick brown fox jumps over the lazy dog and runs far away " * 3
    val d = docs(
      (1L -> b.trim) +: (2L -> (b.trim + " tail")) +: (3L -> b.trim.replace("lazy", "sleepy")) +:
        (20L -> "completely different words about spark plans and shuffles here") +: Nil: _*)
    val auto = Dedup.verifiedPairsAuto(d).collect()
    assert(auto.nonEmpty)
    // exact regime: every weight is exactly 1
    assert(auto.forall(r => r.getDecimal(3).compareTo(java.math.BigDecimal.ONE) == 0))
    val exact = Dedup.ngramJaccard(Dedup.minhashCandidates(d, portable = true), d)
      .where(col("jaccard") >= 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto.map(r => (r.getLong(0), r.getLong(1))).toSet == exact)
    // a budget just below the measured candidate mass forces the sampled
    // leg while keeping the adaptive sampleMod at its floor of 16
    // (ceil(cand/(cand−1)) = 2 < 16), so the result must equal
    // sampledVerifiedPairs' pinned 1/16 sample — pair set AND weights
    val buckets = Dedup.lshBuckets(Dedup.minhashSignatures(d, portable = true),
      portable = true)
    val cand = buckets.groupBy("band", "bucket").count()
      .agg(org.apache.spark.sql.functions.sum(
        (col("count") * (col("count") - 1) / 2).cast("long"))).head().getLong(0)
    assert(cand > 1, s"fixture must produce candidate pairs, got $cand")
    def key(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getLong(1), r.getDecimal(3))).toSet
    val forced = Dedup.verifiedPairsAuto(d, maxExactPairs = cand - 1).collect()
    val sampled = Dedup.sampledVerifiedPairs(d)
      .select("a_id", "b_id", "jaccard", "w").collect()
    assert(key(forced) == key(sampled))
    // and a budget of 1 drives the adaptive mod to the candidate count —
    // the fixed-pair-budget contract (empty or tiny sample, never an error)
    val tight = Dedup.verifiedPairsAuto(d, maxExactPairs = 1L).collect()
    assert(tight.length <= sampled.length)
  }

  test("simhashStarEdges: ident stars for duplicate classes, verified hub links, all-pairs-equal components here") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away " * 3
    val d = docs(
      (Seq(1L, 2L, 3L, 4L).map(_ -> base.trim) :+
        (10L -> (base.trim + " extra")) :+
        (11L -> base.trim.replace("lazy", "sleepy")) :+
        (20L -> "completely different words about spark plans and shuffles here") :+
        (21L -> "another unrelated doc that talks about parquet footers only")): _*)
    val star = Dedup.simhashStarEdges(d, portable = true)
    val edges = star.collect().map(r => (r.getLong(0), r.getLong(1)))
    // the exact-duplicate class {1,2,3,4} arrives as identity star edges
    assert(edges.count(p => p._1 <= 4 && p._2 <= 4) == 3)
    assert(edges.filter(p => p._1 <= 4 && p._2 <= 4).toSet ==
      Set((1L, 2L), (1L, 3L), (1L, 4L)))
    // every non-ident edge leaves a bucket-min hub, so a_id < b_id never
    // reverses and no self-loops exist
    assert(edges.forall(p => p._1 != p._2))
    // on this corpus (every near-dup is within Hamming 7 of the class
    // hub) star components EQUAL the verified all-pairs components
    val ids = d.select("doc_id")
    def comps(pairs: org.apache.spark.sql.DataFrame) =
      Dedup.components(pairs, ids).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val allPairs = Dedup.simhashCandidates(d, portable = true).select("a_id", "b_id")
    assert(comps(star) == comps(allPairs))
    // and the unrelated docs stay singletons
    val cm = comps(star)
    assert(cm(20L) == 20L && cm(21L) == 21L)
  }

  test("cosineNearDupStar: hub edges only, gated components equal all-pairs on hub-dense buckets") {
    import scala.collection.JavaConverters._
    val vecs = Seq(
      1L -> Array(1.0f, 0.0f, 0.0f, 0.0f),
      2L -> Array(0.99f, 0.1f, 0.0f, 0.0f),   // near-dup of 1
      3L -> Array(0.98f, 0.15f, 0.05f, 0.0f), // near-dup of 1
      10L -> Array(-1.0f, 0.0f, 0.0f, 0.0f),  // opposite bucket
      11L -> Array(-0.99f, -0.1f, 0.0f, 0.0f))
    val rows = vecs.map { case (id, v) =>
      org.apache.spark.sql.Row(id, v.toSeq)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))))
    val df = spark.createDataFrame(rows.asJava, schema)
    val gate = 0.9
    val star = Similarity.cosineNearDupStar(df, planes = 2)
      .where(col("cosine") >= gate)
    val all = Similarity.cosineNearDup(df, threshold = gate, planes = 2)
      .select("a_id", "b_id")
    val ids = df.select("vec_id")
    def comps(pairs: org.apache.spark.sql.DataFrame) =
      Dedup.components(pairs.select("a_id", "b_id"), ids, idCol = "vec_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hubs are bucket minima: each b_id appears with an a_id smaller
    // than it within its bucket, and star never out-counts all-pairs
    assert(star.count() <= all.count() || all.count() == 0)
    assert(comps(star) == comps(all))
  }

  test("pack slices: sequences reassemble exactly — full budget per sequence, full doc across slices") {
    val d = docs((1 to 40).map(i => i.toLong -> (Seq.fill(i % 7 + 1)("tok").mkString(" "))): _*)
    val budget = 10
    val rows = Packing.packSlices(d, budget = budget, shards = 3)
      .orderBy("shard", "seq_id", "doc_id").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    // every doc is fully covered: its slices take n_tokens total, starting
    // at doc_from 0 and contiguous across consecutive sequences
    rows.groupBy(_._3).foreach { case (doc, slices) =>
      val expected = (doc % 7) + 1
      assert(slices.map(_._5).sum == expected, s"doc $doc total take_len")
      val sorted = slices.sortBy(_._2)
      assert(sorted.head._4 == 0L, s"doc $doc first slice must start at 0")
      sorted.sliding(2).foreach {
        case Array(p, n) =>
          assert(n._2 == p._2 + 1, s"doc $doc slices must touch consecutive sequences")
          assert(n._4 == p._4 + p._5, s"doc $doc doc_from must be contiguous")
        case _ =>
      }
    }
    // every sequence except the last of its shard is packed to EXACTLY the
    // budget, slices abutting (offset_in_seq contiguous from 0)
    rows.groupBy(r => (r._1, r._2)).foreach { case ((shard, seq), slices) =>
      val sorted = slices.sortBy(_._3)
      assert(sorted.head._6 == 0L, s"seq ($shard,$seq) must start at offset 0")
      sorted.sliding(2).foreach {
        case Array(p, n) => assert(n._6 == p._6 + p._5, s"seq ($shard,$seq) slices must abut")
        case _ =>
      }
      val lastSeq = rows.filter(_._1 == shard).map(_._2).max
      if (seq < lastSeq)
        assert(slices.map(_._5).sum == budget, s"seq ($shard,$seq) must be budget-full")
      else assert(slices.map(_._5).sum <= budget)
    }
    // consistency with packSequences: a doc's first slice lands exactly at
    // its (seq_in_shard, offset_in_seq) position
    val pos = Packing.packSequences(d, budget = budget, shards = 3).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(3), r.getLong(4))).toMap
    rows.groupBy(_._3).foreach { case (doc, slices) =>
      val first = slices.minBy(_._2)
      assert((first._1, first._2, first._6) == pos(doc), s"doc $doc position mismatch")
    }
  }

  test("fixed-size Lloyd sample stays ~target regardless of corpus size") {
    // the same portable per-row hash ivfBuild derives for its `h` column
    def hashed(n: Int) = {
      val P = graft.functions.TextHashes.PolyP
      spark.range(n).select(
        ((lit(graft.functions.TextHashes.polyA(8192L)) * pmod(col("id"), lit(P)) +
          lit(graft.functions.TextHashes.polyB(8192L))) % lit(P)).as("h"))
    }
    val target = 500L
    // two corpus sizes, 10× apart: the sample must stay near `target` for
    // both (the fixed-RATE path would grow 10×)
    for (n <- Seq(2000, 20000)) {
      val got = Similarity.lloydSample(hashed(n), sampleMod = 1, sampleTarget = target).count()
      assert(got >= target * 3 / 5 && got <= target * 3 / 2, s"n=$n sample=$got")
    }
    // saturation: a corpus below target passes through whole
    assert(Similarity.lloydSample(hashed(300), 1, target).count() == 300L)
    // fixed-size wins when both knobs are set
    val both = Similarity.lloydSample(hashed(20000), sampleMod = 4, sampleTarget = target).count()
    assert(both >= target * 3 / 5 && both <= target * 3 / 2, s"both-knobs sample=$both")
    // and centroids still build end-to-end through the bounded sample
    val rnd = new scala.util.Random(5)
    val corpus = spark.createDataFrame((0 until 800).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() - 0.5f)))).toDF("vec_id", "embedding")
    val cents = Similarity.ivfBuild(corpus, numCentroids = 4, sampleTarget = 200L)
    assert(cents.length == 4 && cents.forall(_.length == 8))
  }

  test("repetition signals: hand-computed ratios and keep thresholds") {
    val d = docs(
      1L -> "a a a a",                       // one token repeated: collapse
      2L -> "the quick brown fox jumps over the lazy dog",
      3L -> "x y x y x y x y",               // looping 2-grams
      4L -> "one two",                       // too short for 3-grams
      5L -> "solo")
    val out = d.select(col("doc_id"),
        Repetition.distinctRatio(col("text")).as("dr"),
        Repetition.topTokenRatio(col("text")).as("tr"),
        Repetition.dupNgramRatio(col("text"), 2).as("d2"),
        Repetition.dupNgramRatio(col("text"), 3).as("d3"),
        Repetition.repetitionKeep(col("text")).as("keep"))
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)),
          r.getBoolean(5))).toMap
    val eps = 1e-12
    // doc 1: 1 distinct of 4, top "a" 4/4, 2-grams all "a a" (1 distinct of 3)
    assert(math.abs(out(1L)._1 - 0.25) < eps && math.abs(out(1L)._2 - 1.0) < eps)
    assert(math.abs(out(1L)._3.get - (1.0 - 1.0 / 3)) < eps && !out(1L)._5)
    // doc 2: 9 tokens, 8 distinct ("the" twice), all 2/3-grams unique
    assert(math.abs(out(2L)._1 - 8.0 / 9) < eps && math.abs(out(2L)._2 - 2.0 / 9) < eps)
    assert(out(2L)._3.get == 0.0 && out(2L)._4.get == 0.0 && out(2L)._5)
    // doc 3: 7 2-grams but only 2 distinct ("x y", "y x") -> dup 5/7; keep fails
    assert(math.abs(out(3L)._3.get - 5.0 / 7) < eps && !out(3L)._5)
    // doc 4: one 2-gram, no 3-grams -> d3 NULL; keep still FAILS because a
    // 2-token doc has top-token ratio 0.5 >= 0.3 — ultra-short docs can't
    // pass the concentration gate (length filtering is TextStats' job)
    assert(out(4L)._3.get == 0.0 && out(4L)._4.isEmpty && !out(4L)._5)
    // doc 5: single token -> both gram ratios NULL, distinct/top = 1
    assert(out(5L)._3.isEmpty && out(5L)._4.isEmpty && math.abs(out(5L)._2 - 1.0) < eps)
  }

  test("native repetition counts are bit-identical to the composed signal forms") {
    // the r19 RepetitionCounts expression vs the composed-builtins
    // reference (*Of forms), the cosineComposed parity discipline —
    // adversarial shapes: empty/whitespace text (one "" token), single
    // token, all-same, looping grams, shared prefixes, unicode, long
    // repetitive tails, null text
    import org.apache.spark.sql.functions.{coalesce, lit}
    val texts = Seq(
      "", "   ", "solo", "a a a a", "x y x y x y x y",
      "the quick brown fox jumps over the lazy dog",
      "a ab b a ab b a", "ab a b ab a b", "one two",
      "über die über die straße", "末 末 来 末 来",
      (1 to 200).map(i => s"tok${i % 7}").mkString(" "),
      "a b c a b c d a b", null.asInstanceOf[String])
    val d = spark.createDataFrame(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }).toDF("doc_id", "text")
    val t = Dedup.tokens(col("text"))
    val s = col("__sig")
    val both = d.withColumn("__sig", Repetition.countsOf(t))
      .select(col("doc_id"),
        Repetition.distinctRatioOf(t).as("rd0"), Repetition.distinctRatioFrom(s).as("rd1"),
        Repetition.topTokenRatioOf(t).as("rt0"), Repetition.topTokenRatioFrom(s).as("rt1"),
        Repetition.dupNgramRatioOf(t, 2).as("r20"), Repetition.dupNgramRatioFrom(s, 2).as("r21"),
        Repetition.dupNgramRatioOf(t, 3).as("r30"), Repetition.dupNgramRatioFrom(s, 3).as("r31"),
        Repetition.repetitionKeepOf(t).as("k0"),
        Repetition.repetitionKeepFrom(s).as("k1"),
        Repetition.repetitionKeepBound(t).as("k2"))
      .collect()
    def bits(r: org.apache.spark.sql.Row, i: Int): Any =
      if (r.isNullAt(i)) None else java.lang.Double.doubleToRawLongBits(r.getDouble(i))
    both.foreach { r =>
      assert(bits(r, 1) == bits(r, 2), s"distinctRatio mismatch: $r")
      assert(bits(r, 3) == bits(r, 4), s"topTokenRatio mismatch: $r")
      assert(bits(r, 5) == bits(r, 6), s"dup2 mismatch: $r")
      assert(bits(r, 7) == bits(r, 8), s"dup3 mismatch: $r")
      def b(i: Int) = if (r.isNullAt(i)) None else Some(r.getBoolean(i))
      assert(b(9) == b(10) && b(9) == b(11), s"keep mismatch: $r")
    }
    // null-element arrays (never produced by the tokenizer): the
    // fallback must replay array_distinct / sorted-run / concat_ws
    // null semantics exactly
    val arrDf = spark.createDataFrame(Seq(
      (1L, Seq[String]("a", null, "a", "b")),
      (2L, Seq[String](null, null)),
      (3L, Seq[String]("a", null)))).toDF("doc_id", "toks")
    val ta = col("toks")
    val sa = col("__sig")
    val arrBoth = arrDf.withColumn("__sig", Repetition.countsOf(ta))
      .select(col("doc_id"),
        Repetition.distinctRatioOf(ta).as("rd0"), Repetition.distinctRatioFrom(sa).as("rd1"),
        Repetition.topTokenRatioOf(ta).as("rt0"), Repetition.topTokenRatioFrom(sa).as("rt1"),
        Repetition.dupNgramRatioOf(ta, 2).as("r20"), Repetition.dupNgramRatioFrom(sa, 2).as("r21"),
        Repetition.dupNgramRatioOf(ta, 3).as("r30"), Repetition.dupNgramRatioFrom(sa, 3).as("r31"))
      .collect()
    arrBoth.foreach { r =>
      (1 to 7 by 2).foreach(i =>
        assert(bits(r, i) == bits(r, i + 1), s"null-element parity mismatch at $i: $r"))
    }
  }

  test("native BPE pair merge is identical to the composed aggregate fold") {
    val rows = Seq(
      Seq("a", "a", "a"),                    // overlap: greedy non-overlapping
      Seq("a", "b", "a", "b", "b"),          // repeated pair + trailing b
      Seq("b", "a", "b"),                    // pair mid-array
      Seq("a"), Seq("b"), Seq[String](),     // too short / empty
      Seq("ab", "a", "b", "ab"),             // merged symbol already present
      Seq("x", null, "a", "b", null, "a"))   // nulls never merge
    val df = spark.createDataFrame(rows.zipWithIndex.map { case (s, i) => (i.toLong, s) })
      .toDF("id", "syms")
    val out = df.select(col("id"),
        graft.functions.BpeMergePair.bpeMergePair(col("syms"), "a", "b").as("nat"),
        ParityRefs.mergePairComposed(col("syms"), "a", "b").as("ref"),
        graft.functions.BpeMergePair.bpeMergePair(col("syms"), "a", "a").as("nat2"),
        ParityRefs.mergePairComposed(col("syms"), "a", "a").as("ref2"))
      .collect()
    out.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2), s"(a,b) mismatch: $r")
      assert(r.getSeq[String](3) == r.getSeq[String](4), s"(a,a) mismatch: $r")
    }
  }

  test("pii scrub: detection counts, redaction, and the IP-before-phone order") {
    val d = docs(
      1L -> "write to alice.smith+spam@mail.example.org or bob@ex.co today",
      2L -> "server 10.0.113.9 and backup 192.168.1.254 are up",
      3L -> "call +1 (555) 0123-4567 or 555 012 9876 now",
      4L -> "no pii here at all",
      5L -> "mix: eve@corp.io at 172.16.254.3, dial 555-867-5309.")
    val out = Pii.withScrub(d).collect().map(r => r.getLong(0) ->
      (r.getInt(2), r.getInt(3), r.getInt(4), r.getString(5))).toMap
    assert(out(1L) == ((2, 0, 0, "write to <EMAIL> or <EMAIL> today")))
    // the two IPs must NOT also be counted as phones (scrub order)
    assert(out(2L) == ((0, 2, 0, "server <IP> and backup <IP> are up")))
    assert(out(3L) == ((0, 0, 2, "call <PHONE> or <PHONE> now")))
    assert(out(4L) == ((0, 0, 0, "no pii here at all")))
    assert(out(5L) == ((1, 1, 1, "mix: <EMAIL> at <IP>, dial <PHONE>.")))
  }

  test("pack text: shard streams reassemble the corpus byte-for-byte") {
    val d = docs((1 to 30).map(i =>
      i.toLong -> (1 to (i % 5 + 2)).map(j => s"w${i}_$j").mkString(" ")): _*)
    val budget = 8
    val seqs = Packing.packText(d, budget = budget, shards = 3)
      .orderBy("shard", "seq_id").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // each sequence carries exactly n_tokens whitespace tokens; full
    // budget except possibly the shard's last
    seqs.groupBy(_._1).foreach { case (shard, ss) =>
      ss.foreach { case (_, seq, n, text) =>
        assert(text.split("\\s+").count(_.nonEmpty) == n, s"($shard,$seq) token count")
        if (seq < ss.map(_._2).max) assert(n == budget, s"($shard,$seq) must be full")
      }
      // concatenating the shard's sequences in order reproduces the
      // shard's docs laid back-to-back in id order — nothing lost,
      // reordered, or duplicated across sequence boundaries
      val stream = ss.sortBy(_._2).map(_._4).mkString(" ")
      val docsInShard = Packing.packSequences(d, budget = budget, shards = 3)
        .where(col("shard") === shard).orderBy("doc_id").collect().map(_.getLong(0))
      val expected = d.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(stream == docsInShard.map(expected).mkString(" "), s"shard $shard stream")
    }
  }

  test("vocab: approx doc-frequency path tracks the exact one") {
    val rnd = new scala.util.Random(17)
    val vocabWords = (0 until 50).map(i => s"word$i")
    val d = docs((1 to 200).map(i =>
      i.toLong -> (0 until 20).map(_ => vocabWords(rnd.nextInt(50))).mkString(" ")): _*)
    val exact = Vocab.topK(d, 30, exactDocFreq = true).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val approx = Vocab.topK(d, 30, exactDocFreq = false).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // occurrence counts (and therefore the selected top-k) are identical —
    // only the doc-frequency estimator changes
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (tok, (occ, nd)) =>
      val (occA, ndA) = approx(tok)
      assert(occ == occA, s"$tok occurrence count must be exact in both modes")
      assert(math.abs(nd - ndA).toDouble / nd < 0.1,
        s"$tok approx n_docs $ndA vs exact $nd drifted >10%")
    }
  }

  test("length quantiles: approx_percentile tracks the exact percentile") {
    val rnd = new scala.util.Random(29)
    val d = docs((1 to 300).map(i =>
      i.toLong -> (0 until (5 + rnd.nextInt(120))).map(_ => "w").mkString(" ")): _*)
      .withColumn("source", concat(lit("s"), (col("doc_id") % 3).cast("string")))
    val n = size(split(trim(col("text")), "\\s+")).cast("double")
    def q(agg: (org.apache.spark.sql.Column, Double) => org.apache.spark.sql.Column) =
      d.groupBy("source").agg(agg(n, 0.5).as("p50"), agg(n, 0.9).as("p90"))
        .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val exact = q((c, p) => percentile(c, lit(p)))
    val approx = q((c, p) => approx_percentile(c, lit(p), lit(2500)))
    exact.foreach { case (src, (e50, e90)) =>
      val (a50, a90) = approx(src)
      // at accuracy 2500 over ≤120 distinct lengths the sketch is near-exact
      assert(math.abs(a50 - e50) <= 2.0, s"$src p50 $a50 vs $e50")
      assert(math.abs(a90 - e90) <= 3.0, s"$src p90 $a90 vs $e90")
    }
  }

  test("BPE training: hand-checked merge sequence and word pieces (Sennrich example)") {
    // word counts low:5 lower:2 newest:6 widest:3 — the classic corpus.
    // Hand-derived: r1 (e,s,9); r2 (es,t,9); r3 (l,o,7 — ties ow at 7,
    // lexicographic tiebreak); r4 (lo,w,7)
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val d = docs(words.zipWithIndex.map { case (w, i) => (i + 1).toLong -> w }: _*)
    val m = Bpe.train(d, numMerges = 4)
    val got = m.merges.orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == Seq((1, "e", "s", 9L), (2, "es", "t", 9L),
      (3, "l", "o", 7L), (4, "lo", "w", 7L)))
    val pieces = m.wordPieces.collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    assert(pieces("low") == List("low"))
    assert(pieces("lower") == List("low", "e", "r"))
    assert(pieces("newest") == List("n", "e", "w", "est"))
    assert(pieces("widest") == List("w", "i", "d", "est"))
    // encode re-assembles pieces in document token order
    val enc = Bpe.encode(docs(1L -> "newest low", 2L -> "widest lower"), m.wordPieces)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    assert(enc(1L) == List("n", "e", "w", "est", "low"))
    assert(enc(2L) == List("w", "i", "d", "est", "low", "e", "r"))
  }

  test("BPE training matches an independent reference implementation on random corpora") {
    // plain-Scala reference: same algorithm, written against the spec
    // (not the Spark code) — word counts, overlapping-adjacent pair
    // counts, (n desc, a asc, b asc) argmax, greedy left-to-right merge
    def refTrain(words: Map[String, Long], numMerges: Int)
        : (List[(Int, String, String, Long)], Map[String, List[String]]) = {
      var st = words.map { case (w, c) => (w.split("").toList, c) }
      val merges = List.newBuilder[(Int, String, String, Long)]
      var done = false
      for (r <- 1 to numMerges if !done) {
        val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
        st.foreach { case (syms, c) =>
          syms.zip(syms.drop(1)).foreach(p => pairCounts(p) = pairCounts.getOrElse(p, 0L) + c)
        }
        if (pairCounts.isEmpty) done = true
        else {
          val ((a, b), n) = pairCounts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
          merges += ((r, a, b, n))
          st = st.map { case (syms, c) =>
            val out = scala.collection.mutable.ListBuffer.empty[String]
            syms.foreach { s =>
              if (out.nonEmpty && out.last == a && s == b)
                out(out.length - 1) = a + b
              else out += s
            }
            (out.toList, c)
          }
        }
      }
      (merges.result(),
        words.keys.map(w => w -> st.find(_._1.mkString == w)).toMap.collect {
          case (w, Some((syms, _))) => w -> syms
        })
    }
    val rnd = new scala.util.Random(43)
    for (trial <- 0 until 3) {
      val alphabet = "abcde"
      val words = (0 until 30).map { _ =>
        (0 until (2 + rnd.nextInt(6))).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      }
      val corpus = (0 until 200).map(i => (i.toLong, words(rnd.nextInt(words.length))))
      val d = spark.createDataFrame(corpus).toDF("doc_id", "text")
      val wc = corpus.groupBy(_._2).map { case (w, g) => w -> g.size.toLong }
      val m = Bpe.train(d, numMerges = 8)
      val gotMerges = m.merges.orderBy("round").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toList
      val (wantMerges, wantPieces) = refTrain(wc, 8)
      assert(gotMerges == wantMerges, s"trial $trial merge tables diverged")
      val gotPieces = m.wordPieces.collect()
        .map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
      wantPieces.foreach { case (w, syms) =>
        assert(gotPieces(w) == syms, s"trial $trial word '$w' pieces diverged")
      }
    }
  }

  test("weighted Misra-Gries: exact regime equals groupBy-sum, layout-independent") {
    val rnd = new scala.util.Random(47)
    val rows = (0 until 300).map(i =>
      (s"k${rnd.nextInt(20)}", 1L + rnd.nextInt(9).toLong))
    val d = spark.createDataFrame(rows).toDF("k", "w")
    def viaMg(df: org.apache.spark.sql.DataFrame) = df
      .agg(graft.functions.MisraGries.misraGriesWeighted(col("k"), col("w"), 64).as("mg"))
      .select(explode(col("mg")).as("e"))
      .select(col("e.token"), col("e.n_occurrences"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toList
    val exact = d.groupBy("k").agg(sum("w").as("n"))
      .orderBy(col("n").desc, col("k").asc)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toList
    assert(viaMg(d) == exact)
    // repartition forces real partial merges + (de)serialization
    assert(viaMg(d.repartition(13)) == exact)
  }

  test("weighted Misra-Gries: approximate regime keeps the heavy key within W/(c+1)") {
    // heavy key weight 600 among 50 distinct cold keys (weight 5 each),
    // capacity 4: W = 850, bound W/(c+1) = 170 → est in [430, 600] and
    // the heavy key (weight > bound) is guaranteed present
    val rows = Seq(("hot", 600L)) ++ (0 until 50).map(i => (s"cold$i", 5L))
    val d = spark.createDataFrame(new scala.util.Random(51).shuffle(rows))
      .toDF("k", "w").repartition(7)
    val got = d
      .agg(graft.functions.MisraGries.misraGriesWeighted(col("k"), col("w"), 4).as("mg"))
      .select(explode(col("mg")).as("e"))
      .select(col("e.token"), col("e.n_occurrences"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.contains("hot"), "a key above W/(capacity+1) must survive")
    assert(got("hot") >= 430L && got("hot") <= 600L,
      s"estimate must be one-sided within W/(capacity+1): ${got("hot")}")
  }

  test("BPE parquet-staged training is identical to the localCheckpoint path") {
    val rnd = new scala.util.Random(59)
    val words = (0 until 20).map(_ =>
      (0 until (2 + rnd.nextInt(5))).map(_ => "wxyz"(rnd.nextInt(4))).mkString)
    val d = docs((0 until 100).map(i =>
      i.toLong -> words(rnd.nextInt(words.length))): _*)
    val dir = Scratch.dir("graft_bpe_test_")
    try {
      val fast = Bpe.train(d, numMerges = 5)
      val staged = Bpe.train(d, numMerges = 5, scratchDir = Some(dir))
      def tbl(m: Bpe.Model) = m.merges.orderBy("round").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toList
      assert(tbl(staged) == tbl(fast))
      def pieces(m: Bpe.Model) = m.wordPieces.collect()
        .map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
      assert(pieces(staged) == pieces(fast))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(dir))
    }
  }

  test("BPE sketched pair counting learns the identical merge table in exact regime") {
    val rnd = new scala.util.Random(53)
    val words = (0 until 25).map(_ =>
      (0 until (2 + rnd.nextInt(5))).map(_ => "abcd"(rnd.nextInt(4))).mkString)
    val d = docs((0 until 150).map(i =>
      i.toLong -> words(rnd.nextInt(words.length))): _*)
    val exact = Bpe.train(d, numMerges = 6)
    val sketched = Bpe.train(d, numMerges = 6, pairCapacity = Some(1024))
    def tbl(m: Bpe.Model) = m.merges.orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toList
    assert(tbl(sketched) == tbl(exact))
    def pieces(m: Bpe.Model) = m.wordPieces.collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    assert(pieces(sketched) == pieces(exact))
  }

  test("BPE greedy merge is non-overlapping left-to-right") {
    // "aaa" under (a,a) must become [aa, a]; "aaaa" must become [aa, aa]
    val d = docs(1L -> "aaa aaa aaa aaaa")
    val m = Bpe.train(d, numMerges = 1)
    val first = m.merges.collect().map(r => (r.getString(1), r.getString(2))).head
    assert(first == ("a", "a"))
    val pieces = m.wordPieces.collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    assert(pieces("aaa") == List("aa", "a"))
    assert(pieces("aaaa") == List("aa", "aa"))
  }

  test("vocab HLL bound-twin: exact columns match topK, every sketch lands in bound") {
    val rnd = new scala.util.Random(31)
    val vocabWords = (0 until 60).map(i => s"tok$i")
    val d = docs((1 to 250).map(i =>
      i.toLong -> (0 until 15).map(_ => vocabWords(rnd.nextInt(60))).mkString(" ")): _*)
    val twin = Vocab.topKHllBound(d, k = 40).collect()
    val exact = Vocab.topK(d, k = 40, exactDocFreq = true).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(twin.length == exact.size)
    twin.foreach { r =>
      val (occ, nd) = exact(r.getString(0))
      assert(r.getLong(1) == occ && r.getLong(2) == nd,
        s"${r.getString(0)}: twin exact columns must equal the exact leg")
      assert(r.getBoolean(3), s"${r.getString(0)}: HLL estimate outside 4·rsd bound")
    }
  }

  test("quantile bound-twin: sketch rank window holds at high and low accuracy") {
    val rnd = new scala.util.Random(37)
    val d = docs((1 to 400).map(i =>
      i.toLong -> (0 until (3 + rnd.nextInt(200))).map(_ => "w").mkString(" ")): _*)
      .withColumn("source", concat(lit("s"), (col("doc_id") % 4).cast("string")))
    val n = size(split(trim(col("text")), "\\s+")).cast("double")
    for (acc <- Seq(2500, 50)) {
      val rows = TextStats.quantileBoundCheck(d, "source", n,
        percentiles = Seq(0.5, 0.9, 0.99), accuracy = acc).collect()
      assert(rows.length == 4)
      rows.foreach { r =>
        assert(r.getLong(1) == 100, s"${r.getString(0)}: exact group count")
        for (i <- 2 to 4)
          assert(r.getBoolean(i),
            s"${r.getString(0)} acc=$acc col=$i: sketch outside its rank budget")
      }
    }
  }

  test("repetition ratios stay bounded and pii scrub is idempotent (randomized corpus)") {
    val rnd = new scala.util.Random(23)
    val words = Seq("alpha", "beta", "gamma", "x", "y", "spam", "the", "of")
    val d = docs((1 to 120).map { i =>
      val n = rnd.nextInt(30) + 1
      i.toLong -> (0 until n).map(_ => words(rnd.nextInt(words.length))).mkString(" ")
    }: _*)
    val rows = d.select(
        Repetition.distinctRatio(col("text")).as("dr"),
        Repetition.topTokenRatio(col("text")).as("tr"),
        Repetition.dupNgramRatio(col("text"), 2).as("d2"),
        Repetition.dupNgramRatio(col("text"), 3).as("d3"))
      .collect()
    rows.foreach { r =>
      assert(r.getDouble(0) > 0 && r.getDouble(0) <= 1.0)
      assert(r.getDouble(1) > 0 && r.getDouble(1) <= 1.0)
      Seq(2, 3).foreach(i =>
        if (!r.isNullAt(i)) assert(r.getDouble(i) >= 0.0 && r.getDouble(i) < 1.0))
    }
    // scrubbing already-scrubbed text finds nothing (placeholders match no
    // pattern) — the scrub is a fixpoint after one pass
    val scrubbed = Pii.withScrub(Pii.demoPii(d))
      .select(col("doc_id"), col("text_scrubbed").as("text"))
    val again = Pii.withScrub(scrubbed)
      .agg(sum("n_emails"), sum("n_ips"), sum("n_phones")).collect()(0)
    assert(again.getLong(0) == 0 && again.getLong(1) == 0 && again.getLong(2) == 0)
  }

  test("jsonl round-trip is lossless for hostile strings") {
    val tricky = Seq(
      (1L, "plain ascii", "en", "web", 11L),
      (2L, "quotes \" and \\ backslash", "en", "web", 24L),
      (3L, "newline\nand\ttab", "fr", "books", 15L),
      (4L, "unicode: é中文 😀", "zh", "web", 12L),
      (5L, null, null, "web", 0L))
    val df = spark.createDataFrame(tricky).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = Scratch.dir("graft_jsonl_rt_")
    graft.pipeline.Jsonl.write(df, dir)
    val back = graft.pipeline.Jsonl.readDocuments(spark, dir)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2), r.getString(3), r.getLong(4))).toSet
    assert(back == tricky.toSet)
  }

  test("sessionize: gap boundaries, per-user numbering, tie ordering") {
    val gap = 100L
    val evts = spark.createDataFrame(Seq(
      // user 1: gaps 50 (same), 100 (same — boundary is >, not >=), 101 (new)
      (1L, 0L, 1L), (1L, 50L, 2L), (1L, 150L, 3L), (1L, 251L, 4L),
      // user 2: equal timestamps — event_id breaks the tie, one session
      (2L, 500L, 10L), (2L, 500L, 11L),
      // user 3: single event
      (3L, 9L, 20L)))
      .toDF("user_id", "ts", "event_id")
    val tagged = graft.etl.Sessions.sessionize(evts, gap)
      .collect().map(r => r.getLong(2) -> r.getLong(3)).toMap
    assert(tagged == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L,
      10L -> 1L, 11L -> 1L, 20L -> 1L))
    val stats = graft.etl.Sessions.sessionStats(evts, gap)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(stats((1L, 1L)) == ((3L, 0L, 150L, 150L)))
    assert(stats((1L, 2L)) == ((1L, 251L, 251L, 0L)))
    assert(stats((2L, 1L)) == ((2L, 500L, 500L, 0L)))
    assert(stats((3L, 1L)) == ((1L, 9L, 9L, 0L)))
  }

  test("salted join equals the plain join on skewed data (inner and left)") {
    val rnd = new scala.util.Random(29)
    // 90% of rows on one hot key, the rest spread over 9 keys; some big
    // rows carry keys ABSENT from the dim (exercises left-join nulls)
    val big = spark.createDataFrame((1 to 2000).map { i =>
      val k = if (rnd.nextDouble() < 0.9) "hot" else s"k${rnd.nextInt(9)}"
      (i.toLong, k, rnd.nextDouble())
    }).toDF("row_id", "key", "v")
    val dim = spark.createDataFrame(
      (Seq("hot") ++ (0 until 6).map(i => s"k$i")).map(k => (k, s"label_$k")))
      .toDF("key", "label")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("row_id", "key", "v", "label").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        if (r.isNullAt(3)) null else r.getString(3))).toSet
    val plainInner = canon(big.join(dim, Seq("key")))
    val saltedInner = canon(graft.etl.SkewJoin.saltedJoin(big, dim, Seq("key"), 8))
    assert(saltedInner == plainInner && plainInner.nonEmpty)
    val plainLeft = canon(big.join(dim, Seq("key"), "left"))
    val saltedLeft = canon(graft.etl.SkewJoin.saltedJoin(big, dim, Seq("key"), 8, "left"))
    assert(saltedLeft == plainLeft)
    assert(plainLeft.exists(_._4 == null), "left join must exercise unmatched keys")
    intercept[IllegalArgumentException] {
      graft.etl.SkewJoin.saltedJoin(big, dim, Seq("key"), 8, "full")
    }
  }

  test("native CosineSim expression agrees with the composed built-ins formulation") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 200).map(i => (i.toLong,
      Array.fill(32)(rnd.nextDouble() - 0.5),
      if (i == 7) Array.fill(32)(0.0) else Array.fill(32)(rnd.nextDouble() - 0.5)))
    val df = spark.createDataFrame(rows).toDF("id", "a", "b")
    val out = df.select(
      Similarity.cosine(col("a"), col("b")).as("native"),
      ParityRefs.cosineComposed(col("a"), col("b")).as("composed")).collect()
    out.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12,
        s"${r.getDouble(0)} != ${r.getDouble(1)}")
    }
    // null input → null out (BinaryExpression default null handling)
    val n = df.select(Similarity.cosine(lit(null).cast("array<double>"), col("b"))).head()
    assert(n.isNullAt(0))
  }

  test("multimodal plumbing: deterministic features, schema, byte counts") {
    val d = Multimodal.demoBinary(docs(1L -> "hello", 2L -> "hello", 3L -> "other"))
    val out = Multimodal.withFeatures(d).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getString(2), r.getSeq[Float](3))).toMap
    assert(out(1L)._1 == 5)
    assert(out(1L)._2 == Multimodal.KindRaw) // text bytes → stub path
    assert(out(1L)._3 == out(2L)._3)     // identical payload → identical features
    assert(out(1L)._3 != out(3L)._3)
    assert(out(1L)._3.length == Multimodal.FeatureDim)
  }

  test("WAV decode: hand-computed RMS/ZCR/peak on known PCM16 samples") {
    // 4 samples: 16384, -16384, 32767, -32768 (|a| = .5, .5, ~1, 1)
    val samples = Seq[Short](16384, -16384, 32767, -32768)
    val dataLen = samples.length * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes); buf.putInt(36 + dataLen); buf.put("WAVE".getBytes)
    buf.put("fmt ".getBytes); buf.putInt(16); buf.putShort(1); buf.putShort(1)
    buf.putInt(8000); buf.putInt(16000); buf.putShort(2); buf.putShort(16)
    buf.put("data".getBytes); buf.putInt(dataLen)
    samples.foreach(buf.putShort)
    val f = Multimodal.decodeWav(buf.array()).get
    assert(math.abs(f(0) - 4.0f / 8000) < 1e-7)                   // duration
    val exp = math.sqrt((0.25 + 0.25 + math.pow(32767 / 32768.0, 2) + 1.0) / 4)
    assert(math.abs(f(1) - exp) < 1e-6)                            // RMS
    assert(f(2) == 1.0f)                                           // all 3 transitions cross
    assert(f(3) == 1.0f)                                           // peak at full scale
    // histogram: two samples in bin |a|=.5 → bin 4+6, two at top bin 4+11
    assert(f(4 + 6) == 0.5f && f(4 + 11) == 0.5f)
    // dispatch picks the wav path
    assert(Multimodal.decode(buf.array())._1 == Multimodal.KindWav)
    // malformed chunk size (high bit set) terminates the walk → stub path
    val bad = buf.array().clone()
    bad(16) = 0xFF.toByte; bad(17) = 0xFF.toByte; bad(18) = 0xFF.toByte; bad(19) = 0xFF.toByte
    assert(Multimodal.decode(bad)._1 == Multimodal.KindRaw)
  }

  test("PPM decode: header parse + mean RGB + luma histogram") {
    // 2×1 image: pure red, pure white
    val bytes = "P6\n2 1\n255\n".getBytes ++
      Array[Byte](255.toByte, 0, 0, 255.toByte, 255.toByte, 255.toByte)
    val f = Multimodal.decodePpm(bytes).get
    assert(f(0) == 2.0f && f(1) == 1.0f)
    assert(f(2) == 1.0f)                           // mean R
    assert(math.abs(f(3) - 0.5f) < 1e-6)           // mean G
    assert(math.abs(f(4) - 0.5f) < 1e-6)           // mean B
    // red luma = .299 → bin 5+3; white luma = 1.0 → top bin 5+10
    assert(f(5 + 3) == 0.5f && f(5 + 10) == 0.5f)
    assert(Multimodal.decode(bytes)._1 == Multimodal.KindPpm)
    // truncated body rejected → stub path
    assert(Multimodal.decodePpm(bytes.dropRight(1)).isEmpty)
    assert(Multimodal.decode(bytes.dropRight(1))._1 == Multimodal.KindRaw)
  }

  test("PPM resize: identity round-trips, downscale picks nearest-neighbor pixels") {
    val src = Multimodal.synthPpm(7L) // 8×8
    // identity resize re-emits the exact payload (same header format)
    assert(java.util.Arrays.equals(Multimodal.resizePpm(src, 8, 8).get, src))
    // 8×8 → 4×4: destination (y, x) must hold source pixel (2y, 2x)
    val small = Multimodal.resizePpm(src, 4, 4).get
    val (w, h, _, off) = Multimodal.parsePpmHeader(small, 0).get
    assert(w == 4 && h == 4 && small.length == off + 48)
    val (_, _, _, srcOff) = Multimodal.parsePpmHeader(src, 0).get
    for (y <- 0 until 4; x <- 0 until 4; c <- 0 until 3)
      assert(small(off + (y * 4 + x) * 3 + c) == src(srcOff + ((2 * y) * 8 + 2 * x) * 3 + c))
    // upscale duplicates pixels: (y, x) ← source (y/2, x/2)
    val big = Multimodal.resizePpm(src, 16, 16).get
    val (_, _, _, bOff) = Multimodal.parsePpmHeader(big, 0).get
    for (y <- Seq(0, 1, 15); x <- Seq(0, 1, 15); c <- 0 until 3)
      assert(big(bOff + (y * 16 + x) * 3 + c) == src(srcOff + ((y / 2) * 8 + x / 2) * 3 + c))
    // non-PPM payloads are rejected, not garbled
    assert(Multimodal.resizePpm(Multimodal.synthWav(1L), 4, 4).isEmpty)
    assert(Multimodal.resizePpm(src.dropRight(1), 4, 4).isEmpty)
  }

  test("video frame split/sample: seamless round-trip, every-2nd decimation") {
    val frames = (0 until 5).map(f => Multimodal.synthPpm(100L + f))
    val video = frames.reduce(_ ++ _)
    val split = Multimodal.splitFrames(video).get
    assert(split.length == 5)
    split.zip(frames).foreach { case (a, b) => assert(java.util.Arrays.equals(a, b)) }
    val kept = Multimodal.sampleFrames(video, every = 2).get
    assert(kept.length == 3)
    Seq(0, 2, 4).zipWithIndex.foreach { case (srcIdx, i) =>
      assert(java.util.Arrays.equals(kept(i), frames(srcIdx)))
    }
    // a trailing partial frame poisons the whole payload (None, not silent drop)
    assert(Multimodal.splitFrames(video.dropRight(1)).isEmpty)
    assert(Multimodal.splitFrames(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.splitFrames(Array.emptyByteArray).contains(IndexedSeq.empty))
  }

  test("mixed-modality demo routes each payload to the right decoder") {
    val d = Multimodal.demoMedia(docs(0L -> "a", 1L -> "b", 2L -> "c", 3L -> "d"))
    val kinds = Multimodal.withFeatures(d).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(kinds(0L) == Multimodal.KindWav && kinds(3L) == Multimodal.KindWav)
    assert(kinds(1L) == Multimodal.KindPpm)
    assert(kinds(2L) == Multimodal.KindRaw)
  }

  test("temperatureMixture: α<1 flattens toward uniform, deterministically") {
    import org.apache.spark.sql.functions.lit
    // 400 docs from a dominant source, 100 from a rare one
    val d = spark.range(500).toDF("doc_id")
      .withColumn("source", org.apache.spark.sql.functions
        .when(org.apache.spark.sql.functions.col("doc_id") < 400, lit("big")).otherwise(lit("rare")))
    def keptBySource(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val m = Sampling.temperatureMixture(d, alpha = 0.5, targetFraction = 0.2)
    val kept = keptBySource(m)
    // α=0.5 targets q ∝ √n: √400:√100 = 2:1 instead of 4:1 — the rare
    // source's KEEP RATE must exceed the big source's
    assert(kept("rare").toDouble / 100 > kept("big").toDouble / 400)
    // hash-deterministic: a second run keeps the same rows
    val again = Sampling.temperatureMixture(d, alpha = 0.5, targetFraction = 0.2)
    assert(m.collect().map(_.getLong(0)).sorted.sameElements(again.collect().map(_.getLong(0)).sorted))
    // α=1 degenerates to proportional sampling: both rates ≈ targetFraction
    val prop = keptBySource(Sampling.temperatureMixture(d, alpha = 1.0, targetFraction = 0.2))
    // exact expectation: threshold(0.2) = 2000 per-myriad on the id hash
    val thr = Sampling.threshold(0.2)
    val expBig = d.where(org.apache.spark.sql.functions.col("source") === "big")
      .where(Sampling.sampleHash(org.apache.spark.sql.functions.col("doc_id")) < thr).count()
    assert(prop("big") == expBig)
  }

  test("contaminationStats: fraction grades what decontaminate's boolean flags") {
    val corpus = docs(
      1L -> base,                          // verbatim copy of the benchmark doc
      2L -> (base + " extra trailing words append here now"), // partial overlap
      3L -> "completely unrelated content about spark catalyst optimizer rules")
    val bench = docs(99L -> base)
    val frac = Dedup.contaminationStats(corpus, bench).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getDouble(3))).toMap
    // verbatim: every shingle hits
    assert(frac(1L)._1 == frac(1L)._2 && frac(1L)._3 == 1.0)
    // partial: strictly between 0 and 1
    assert(frac(2L)._3 > 0.0 && frac(2L)._3 < 1.0)
    assert(frac(3L)._2 == 0 && frac(3L)._3 == 0.0)
    // boolean consistency: contam_frac > 0 ⟺ decontaminate flags it
    val flags = Dedup.decontaminate(corpus, bench).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    frac.foreach { case (id, (_, hits, _)) => assert((hits > 0) == flags(id), s"doc $id") }
    // self-benchmark: every doc is 100% contaminated against itself
    Dedup.contaminationStats(corpus, corpus).collect()
      .foreach(r => assert(r.getDouble(3) == 1.0, s"doc ${r.getLong(0)} vs itself"))
  }

  test("frequentSpans + spanBoilerplateStats: hand-checked document frequencies") {
    val d = docs(
      1L -> "a b c d e",   // spans: "a b c" "b c d" "c d e"
      2L -> "a b c x y",   // shares "a b c"
      3L -> "a b c d q",   // shares "a b c" "b c d"
      4L -> "z z z z z")
    val freq = Dedup.frequentSpans(d, minDocs = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(freq == Map("a b c" -> 3L, "b c d" -> 2L))
    val stats = Dedup.spanBoilerplateStats(d, minDocs = 2).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(stats(1L) == (3, 2)) // "a b c", "b c d" frequent; "c d e" not
    assert(stats(2L) == (3, 1))
    assert(stats(3L) == (3, 2))
    assert(stats(4L) == (1, 0)) // "z z z" spans dedup to one, nowhere else
    // invariant: n_boiler ≤ n_spans, and n_spans ≥ 1 even for short docs
    val short = Dedup.spanBoilerplateStats(docs(9L -> "hi"), minDocs = 2).collect()(0)
    assert(short.getInt(1) == 1 && short.getInt(2) == 0)
  }

  test("fp-prefiltered gram paths equal the direct ones in every regime") {
    // zipfian: common head + unique tail (the web-text regime the fp
    // path targets), with count ties at the top-k boundary
    val zipf = docs((0 until 400).map { i =>
      i.toLong -> ((0 until 12).map { w =>
        val h = (i * 12 + w) * 2654435761L % 99999989L
        if (h % 10 < 3) s"c${(h / 10) % 12}" else s"w$h"
      }.mkString(" ") + (if (i % 20 == 0) " terms of service apply here" else ""))
    }: _*)
    // degenerate: all-singleton grams — threshold 1, tie overflow; the
    // fp top-k must detect it and fall back, still exact
    val singleton = docs((0 until 200).map { i =>
      i.toLong -> (0 until 8).map(w => s"u${i * 8 + w}").mkString(" ")
    }: _*)
    for (d <- Seq(zipf, singleton)) {
      val direct = Dedup.frequentSpans(d, minDocs = 2, fpPrefilter = false)
        .orderBy(col("n_docs").desc, col("gram")).collect().toSeq
      val fp = Dedup.frequentSpans(d, minDocs = 2)
        .orderBy(col("n_docs").desc, col("gram")).collect().toSeq
      assert(fp == direct)
      val dk = Vocab.ngramTopK(d, n = 2, k = 25, exactDocFreq = true).collect().toSeq
      assert(Vocab.ngramTopKFp(d, n = 2, k = 25).collect().toSeq == dk)
      assert(Vocab.ngramTopKAuto(d, n = 2, k = 25).collect().toSeq == dk)
    }
    // repeated-vocabulary corpus: auto dispatch must still be exact
    val rep = docs((0 until 100).map(i => i.toLong -> "a b c d e f g"): _*)
    assert(Dedup.frequentSpansAuto(rep, minDocs = 2).orderBy("gram").collect().toSeq ==
      Dedup.frequentSpans(rep, minDocs = 2, fpPrefilter = false)
        .orderBy("gram").collect().toSeq)
  }

  test("dedupDocTokens keeps first occurrences in order, zero shuffles") {
    val out = Dedup.dedupDocTokens(docs(1L -> "B a b A c a", 2L -> "x")).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    // lowered tokenization: b a c, first-occurrence order preserved
    assert(out(1L) == (6, 3, "b a c"))
    assert(out(2L) == (1, 1, "x"))
    val plan = Dedup.dedupDocTokens(docs(1L -> "a b a")).queryExecution.executedPlan
    assert(!plan.toString.contains("Exchange"), "per-row op must not shuffle")
    // idempotence: re-deduping the deduped text is the identity
    val once = Dedup.dedupDocTokens(docs(1L -> base, 2L -> (base + " " + base)))
      .select(col("doc_id"), col("text_dedup").as("text"))
    Dedup.dedupDocTokens(once).collect().foreach { r =>
      assert(r.getInt(1) == r.getInt(2), s"doc ${r.getLong(0)}: second pass changed tokens")
    }
  }
}
