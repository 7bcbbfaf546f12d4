package graft

import graft.etl.Layout
import graft.pipeline.{Dedup, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Crash-point spec for the persisted-artifact lifecycles: each
  * rewrite runs under [[CrashFs]] once per crash point N (the N-th
  * rename or delete fails and the process counts as dead from there),
  * until a run completes. After every crash, the next mutating call (one
  * that changes no content) must leave the artifact at the pre-op or the
  * post-op state, with no intent, hidden or staging debris. The dedup
  * index's catalog swap is not a file rename, so its two crash states
  * are planted directly. */
class CrashSpec extends AnyFunSuite with SparkSuite {
  override protected def cores = 2
  override protected def partitions = 1
  // every crash point fails a Spark job or a commit on purpose
  override protected def logLevel = "OFF"

  override def beforeAll(): Unit = {
    super.beforeAll()
    CrashFs.register(spark)
  }
  override def afterAll(): Unit = {
    CrashFs.disarm()
    if (spark != null) spark.sparkContext.setLogLevel("ERROR")
    super.afterAll()
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** A dot-hidden entry (intent, hidden copy, staging), an old-style
    * `*_staging` dir or a `_temporary` dir anywhere under `dir`. */
  private def debris(dir: String): Seq[String] = {
    def walk(f: java.io.File): Seq[String] =
      Option(f.listFiles()).toSeq.flatten.flatMap { c =>
        val n = c.getName
        if (n.startsWith(".") || n.endsWith("_staging") || n == "_temporary") Seq(c.getPath)
        else walk(c)
      }
    walk(new java.io.File(dir))
  }

  /** Run `op` on a fresh copy of `base` at every crash point. `view` reads
    * the visible state and `neutral` is a mutating call that changes no
    * content. Returns the number of crash points covered. */
  private def everyCrashPoint(base: String, view: String => Seq[String],
                              neutral: String => Unit)(op: String => Unit): Int = {
    def copy(): String = {
      val d = Scratch.dir("graft_crash_run_")
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(base), new java.io.File(d))
      CrashFs.at(d)
    }
    val pre = view(CrashFs.at(base))
    val post = { val d = copy(); op(d); view(d) }
    var n = 0
    var done = false
    while (!done) {
      n += 1
      val d = copy()
      CrashFs.arm(n)
      try op(d) catch { case _: Throwable if CrashFs.crashed => }
      done = !CrashFs.crashed
      // tasks of the failed job still winding down die at the crashed
      // file system, not in the recovered directory
      val tracker = spark.sparkContext.statusTracker
      val t0 = System.nanoTime()
      while (tracker.getActiveJobIds().nonEmpty && System.nanoTime() - t0 < 10e9) Thread.sleep(10)
      CrashFs.disarm()
      if (!done) {
        neutral(d)
        val got = view(d)
        assert(got == pre || got == post,
          s"crash at step $n: the visible state is neither the pre-op nor the post-op one")
        assert(debris(d.stripPrefix(s"${CrashFs.Scheme}://")).isEmpty,
          s"crash at step $n: debris left after recovery")
      }
    }
    assert(n > 1, "the operation under test renamed or deleted nothing")
    n - 1
  }

  // ---- z-layout -------------------------------------------------------

  private val zc = Seq("id", "k")

  private def layoutRows(lo: Long, hi: Long) =
    spark.range(lo, hi).select(col("id"), (col("id") * 7 % 13).as("k"),
      (col("id") * 3).cast("double").as("v"))

  /** A z-layout of a snapshot plus two appended increments (three small
    * files), with `_zstats` and a manifest on `id` and `k`; `forgotten`
    * ids are tombstoned. */
  private def layoutBase(forgotten: Seq[Long]): (String, Layout.ZStats) = {
    val p = CrashFs.at(Scratch.dir("graft_crash_layout_"))
    val st = Layout.zStats(layoutRows(0, 120), zc)
    Layout.zOrderWrite(layoutRows(0, 120), zc, p, bits = 8, numFiles = 1, stats = Some(st))
    Layout.saveZStats(spark, p, zc, st)
    for (i <- 0 until 2)
      Layout.zOrderAppend(layoutRows(120 + 20 * i, 140 + 20 * i), zc, p, st, bits = 8, numFiles = 1)
    Layout.manifestRefresh(spark, p, zc)
    if (forgotten.nonEmpty) Layout.zOrderForget(spark, p, "id", forgotten)
    (p.stripPrefix(s"${CrashFs.Scheme}://"), st)
  }

  /** The masked rows, plus whether `_manifest` lists exactly the live
    * data files (what manifest pruning relies on). */
  private def layoutView(p: String): Seq[String] = {
    val live = new java.io.File(p.stripPrefix(s"${CrashFs.Scheme}://")).listFiles()
      .map(_.getName).filter(n => n.endsWith(".parquet") && !n.startsWith(".")).toSet
    val listed = rows(spark.read.parquet(s"$p/_manifest").select("file")).toSet
    rows(Layout.readLayout(spark, p)) :+ s"manifest complete: ${listed == live.map(n => s"[$n]")}"
  }

  private def upsertBatch(ids: Seq[Long]): DataFrame =
    spark.createDataFrame(ids.map(i => (i, 5L, -1.0 * i))).toDF("id", "k", "v")

  test("z-layout maintain lands whole at every crash point") {
    val (base, st) = layoutBase(Nil)
    val n = everyCrashPoint(base, layoutView, p => Layout.manifestUpdate(spark, p, zc)) { p =>
      Layout.zOrderMaintain(spark, p, zc, st, bits = 8)
    }
    assert(n > 5, s"crash points: $n")
  }

  test("z-layout upsert with a tombstone shrink, the tombstone fold and manifest rewrites land whole at every crash point") {
    val (base, st) = layoutBase(Seq(3L, 4L, 130L))
    val neutral = (p: String) => Layout.manifestUpdate(spark, p, zc)
    // re-ingesting forgotten id 3 shrinks the mask in the same commit as
    // the rows that replace it (with an update of 125 and an insert of
    // 500): ids 4 and 130 stay masked throughout
    everyCrashPoint(base, layoutView, neutral) { p =>
      Layout.zOrderUpsert(spark, p, zc, st, "id", upsertBatch(Seq(3L, 125L, 500L)), bits = 8)
    }
    // the fold drops the forgotten rows and the sidecar together
    everyCrashPoint(base, layoutView, neutral) { p =>
      Layout.zOrderMaintain(spark, p, zc, st, bits = 8, smallFileBytes = 1)
    }
    everyCrashPoint(base, layoutView, neutral) { p =>
      Layout.manifestRefresh(spark, p, zc)
    }
  }

  // ---- IVF-PQ index ----------------------------------------------------

  private def vectors(lo: Long, hi: Long) = spark.createDataFrame((lo until hi).map { i =>
    (i, (0 until 8).map(d =>
      (java.lang.Math.floorMod(graft.functions.TextHashes.splitmix(i * 31 + d), 1000L)
        .toDouble / 500.0) - 1.0))
  }).toDF("vec_id", "embedding")

  test("IVF-PQ delete and compact land whole at every crash point") {
    val base = Scratch.dir("graft_crash_ivf_")
    Similarity.ivfPqWrite(vectors(0, 40), CrashFs.at(base), numCentroids = 3, lloydIters = 1,
      ivfSampleMod = 1, m = 2, ksub = 4, pqIters = 1, pqSampleMod = 1)
    Similarity.ivfPqAppend(vectors(40, 52), CrashFs.at(base))
    Similarity.ivfPqAppend(vectors(52, 64), CrashFs.at(base))
    val view = (p: String) => rows(spark.read.parquet(s"$p/lists"))
    val neutral = (p: String) => { Similarity.ivfPqCompact(spark, p, Int.MaxValue); () }
    // the deleted ids span every cell, so the rewrite swaps several
    val dead = vectors(0, 64).where(col("vec_id") % 5 === 0).select("vec_id")
    everyCrashPoint(base, view, neutral) { p => Similarity.ivfPqDelete(dead, p) }
    everyCrashPoint(base, view, neutral) { p => Similarity.ivfPqCompact(spark, p, 1) }
  }

  // ---- dedup index (catalog swap, planted) ------------------------------

  test("an interrupted dedup-index rewrite rolls forward on the next operation") {
    val session = spark
    import session.implicits._
    val texts = (0L until 24L).map { i =>
      i -> (0 until 10).map(w => s"w${(i % 5 + w) % 13}").mkString(" ")
    }
    val ref = texts.toDF("doc_id", "text")
    val probe = texts.map { case (i, t) => (i + 100, t + " tail") }.toDF("doc_id", "text")
    val catalog = spark.sessionState.catalog
    def location(t: String) = catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(t)).location.getPath
    for ((prefix, dropLive) <- Seq("crash_dd_lone" -> true, "crash_dd_both" -> false)) {
      val dir = Scratch.dir("graft_crash_dd_")
      Dedup.dedupIndexWrite(ref, prefix, dir, numBuckets = 2, bands = 4)
      def view(): Seq[String] =
        rows(Dedup.crossCorpusNearDupIndexed(probe, prefix)) ++
          rows(spark.table(s"${prefix}_buckets")) ++ rows(spark.table(s"${prefix}_shingles"))
      val pre = view()
      // plant the rewrite's crash state: a complete staged copy of the
      // buckets table at the rewrite's `<loc>_r1`, with (dropLive) or
      // without the live table already dropped
      val live = location(s"${prefix}_buckets")
      spark.read.parquet(live).write.option("path", s"${live}_r1")
        .bucketBy(2, "band", "bucket").sortBy("band", "bucket")
        .format("parquet").saveAsTable(s"${prefix}_buckets_staged")
      if (dropLive) spark.sql(s"DROP TABLE `${prefix}_buckets`")
      // the next operation: a delete of ids the index never held
      assert(Dedup.dedupIndexDelete(Seq(999L).toDF("doc_id"), prefix) == 0L)
      assert(view() == pre, s"$prefix: the index content must survive the crash")
      assert(!spark.catalog.tableExists(s"${prefix}_buckets_staged"),
        s"$prefix: the staged table must be rolled forward or dropped")
      val dirs = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("buckets"))
      assert(dirs.toSeq == Seq(new java.io.File(location(s"${prefix}_buckets")).getName),
        s"$prefix: exactly the live buckets location must remain, got ${dirs.toSeq}")
    }
  }
}
