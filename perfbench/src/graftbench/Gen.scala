package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** The seeded input generator. Every table is a pure function of the
  * seed and the size constants below: the same seed gives the same
  * content. graft only ever reads the parquet written here; the returned
  * in-memory values are the ground truth the output checks use.
  *
  * Standalone: `Gen <workload> <seed> <dir>` writes one workload's inputs. */
object Gen {

  // ---- quant_universe: an `events` table shaped like the repo's testdata
  // ---- (80 bar series), each series a random walk, plus a sparse universe
  val Events = 40000
  val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  val Series: Int = EventTypes.size * graft.Tables.SymbolBuckets
  val UniverseBars = 500
  val Portfolios = 8
  val PerPortfolio = 4

  // ---- llm_pipeline: Zipf docs with injected near-copies, PII, boilerplate
  val BaseDocs = 3000
  val Vocab = 20000
  val ZipfExponent = 0.8
  val Boilerplate = "please read our terms of service before you continue reading"

  // ---- llm_pipeline's embeddings: jittered Gaussian clusters of tight groups
  val Vectors = 6000
  val Dim = 64
  val Clusters = 50
  val GroupSize = 6
  val AnnQueries = 20

  /** closes per bar symbol (`<event_type>_<bucket>`) in event order */
  final case class Quant(closes: Map[String, Array[Double]], membership: Array[(String, String)])
  final case class Docs(texts: Map[Long, String], nearPairs: Set[(Long, Long)],
                        looping: Set[Long], emails: Set[Long])
  final case class Vecs(ids: Array[Long], queryIds: Array[Long])

  private def write(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.mode("overwrite").parquet(path)

  /** The testdata `events` schema: ids ordered by ts, five event types,
    * 1,500 users. graft.Tables derives 80 bar series from it (event type
    * × user bucket); each series' values are a log-normal random walk in
    * cents, so indicators and backtests see trends and reversals. The
    * sparse universe holds the portfolio symbols' first 500 closes,
    * indexed by bar number, with ~30% of the bars missing. */
  def quant(spark: SparkSession, dir: String, seed: Long): Quant = {
    val rnd = new java.util.Random(seed * 1000003L + 1)
    val buckets = graft.Tables.SymbolBuckets
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val px = Array.fill(Series)(20.0 + rnd.nextDouble() * 180.0)
    val closes = Array.fill(Series)(ArrayBuffer.empty[Double])
    val rows = (0 until Events).map { i =>
      val s = rnd.nextInt(Series)
      px(s) = px(s) * math.exp(rnd.nextGaussian() * 0.015)
      val v = math.max(0.01, math.rint(px(s) * 100) / 100)
      closes(s) += v
      val ts = java.sql.Timestamp.valueOf(
        t0.plusNanos(i.toLong * 64000000000L + rnd.nextInt(1000) * 1000L))
      Row(i.toLong + 1, ts, (rnd.nextInt(1500 / buckets) * buckets + s % buckets).toLong,
        EventTypes(s / buckets), v, s"""{"k": ${rnd.nextInt(100)}}""")
    }
    write(spark, rows, StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("props", StringType))), s"$dir/events.parquet")
    val names = (0 until Series).map(s => s"${EventTypes(s / buckets)}_${s % buckets}")
    val byName = names.zip(closes.map(_.toArray)).toMap
    val membership = for (p <- 0 until Portfolios; k <- 0 until PerPortfolio)
      yield (f"P$p%02d", names((p * 7 + k * 5) % Series))
    val uRows = for (s <- membership.map(_._2).distinct.sorted;
                     t <- 0 until math.min(UniverseBars, byName(s).length)
                     if rnd.nextDouble() < 0.7)
      yield Row(s, t.toLong, byName(s)(t))
    write(spark, uRows, StructType(Seq(StructField("symbol", StringType),
      StructField("ord", LongType), StructField("close", DoubleType))), s"$dir/universe.parquet")
    write(spark, membership.map { case (p, s) => Row(p, s) },
      StructType(Seq(StructField("portfolio", StringType), StructField("symbol", StringType))),
      s"$dir/membership.parquet")
    Quant(byName, membership.toArray)
  }

  /** Documents of 20–80 tokens over a Zipf(0.8) vocabulary. Of the base
    * docs, every 5th carries an email, 10% carry the shared boilerplate
    * span and 2% are looping spam; then 10% are copied with one token
    * substituted (the injected near-copy families; every pair inside a
    * family is a true pair). */
  def docs(spark: SparkSession, dir: String, seed: Long): Docs = {
    val rnd = new java.util.Random(seed * 1000003L + 3)
    val words = Array.tabulate(Vocab) { i =>
      val sb = new StringBuilder
      var k = i + 1
      while (k > 0) { sb += ('a' + k % 23).toChar; k /= 23 }
      sb.append("ae".charAt(i % 2)).toString
    }
    val cdf = {
      val w = Array.tabulate(Vocab)(i => 1.0 / math.pow(i + 1, ZipfExponent))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      words(math.min(if (i < 0) -i - 1 else i, Vocab - 1))
    }
    val texts = scala.collection.mutable.LinkedHashMap.empty[Long, String]
    val looping, emails = scala.collection.mutable.Set.empty[Long]
    for (id <- 1L to BaseDocs.toLong) {
      val toks = ArrayBuffer.fill(20 + rnd.nextInt(61))(word())
      if (rnd.nextInt(50) == 0) {
        val phrase = Seq.fill(3)(word())
        toks.clear(); for (_ <- 0 until 12) toks ++= phrase
        looping += id
      } else if (rnd.nextInt(10) == 0)
        toks.insert(rnd.nextInt(toks.size), Boilerplate)
      if (id % 5 == 0) {
        toks.insert(rnd.nextInt(toks.size), s"user$id@mail${rnd.nextInt(9)}.example.com")
        emails += id
      }
      texts(id) = toks.mkString(" ")
    }
    val near = ArrayBuffer.empty[(Long, Long)]
    var next = BaseDocs.toLong + 1
    val originals = texts.keys.filterNot(looping).toArray
    for (_ <- 0 until BaseDocs / 10) {
      val src = originals(rnd.nextInt(originals.length))
      val toks = texts(src).split(" ")
      toks(rnd.nextInt(toks.length)) = word()
      texts(next) = toks.mkString(" ")
      if (toks.exists(_.contains("@"))) emails += next
      near += ((src, next)); next += 1
    }
    // a source copied twice makes a family of three: every pair in it is true
    val families = near.groupBy(_._1).map { case (src, cs) => src +: cs.map(_._2).toSeq }
    val pairs = families.flatMap(f => f.combinations(2).map { case Seq(a, b) => (a, b) }).toSet
    // shuffle row order so ids are not clustered in the files
    val order = rnd.ints(0, Int.MaxValue).limit(texts.size).toArray
    val rows = texts.toSeq.zip(order).sortBy(_._2).map { case ((id, t), _) =>
      Row(id, t, if (id % 3 == 0) "zh" else "en", s"src${id % 4}", t.length.toLong) }
    write(spark, rows, StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType))),
      s"$dir/documents.parquet")
    val truth = pairs.toSeq.sorted.map { case (a, b) => s"$a,$b" }.mkString("a_id,b_id\n", "\n", "\n")
    Files.writeString(Paths.get(s"$dir/near_pairs.csv"), truth)
    Docs(texts.toMap, pairs, looping.toSet, emails.toSet)
  }

  /** 64-d float vectors: 50 jittered clusters, each made of tight groups
    * of six near-copies, so a vector's true top-5 are its group and stand
    * out from the rest of its cluster. Queries are drawn next to random
    * groups; their ids never collide with the corpus. `label` is the
    * cluster. */
  def vectors(spark: SparkSession, dir: String, seed: Long): Vecs = {
    val rnd = new java.util.Random(seed * 1000003L + 4)
    val centers = Array.fill(Clusters, Dim)(rnd.nextGaussian())
    val groups = Array.tabulate(Vectors / GroupSize) { g =>
      val c = g % Clusters
      (c, Array.tabulate(Dim)(j => centers(c)(j) + rnd.nextGaussian() * 0.35))
    }
    def near(g: Array[Double]): Array[Float] = g.map(x => (x + rnd.nextGaussian() * 0.03).toFloat)
    val ids = Array.tabulate(Vectors)(i => i.toLong + 1)
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    write(spark, ids.indices.map { i =>
      val (c, g) = groups(i / GroupSize)
      Row(ids(i), near(g).toSeq, c)
    }, schema, s"$dir/embeddings.parquet")
    val qIds = Array.tabulate(AnnQueries)(i => 1000000L + i)
    write(spark, qIds.toSeq.map(q => Row(q, near(groups(rnd.nextInt(groups.length))._2).toSeq, -1)),
      schema, s"$dir/queries.parquet")
    Vecs(ids, qIds)
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, dir) = args
    val spark = Main.session(dir)
    try Workload(workload).generate(spark, dir, seed.toLong)
    finally spark.stop()
  }
}
