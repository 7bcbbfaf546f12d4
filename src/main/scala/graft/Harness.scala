package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The decisions every harness main shares: the session it runs in, the
  * warm-up before its timed region, the timed leg with its task metrics
  * and failure report, and the persisted marker gate of the tables the
  * evidence mains derive once per replica. */
private[graft] object Harness {

  /** Local cores, and the shuffle partitions that match them. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** The dataset the timed mains read (SPARK_GRAFT_SF_DIR). */
  val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** `local[cpus]` with one shuffle partition per core, a UTC session
    * time zone, no UI and WARN logging; `conf` adds a main's own
    * settings. */
  def session(conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Absorb one-time JVM, classloader, scheduler and parquet-reader cost
    * before a timed loop. Otherwise the first query of each table is
    * billed the open/footer cost, and the first window plan, the first
    * typed-groups plan (`overSeries`), the first noop write and the
    * first presentation sort (`queries.Present`'s single-partition
    * sort) each pay Catalyst/Janino classloading that has nothing to do
    * with whichever query would absorb it. */
  def warm(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{avg, col}
    spark.range(1000).selectExpr("sum(id)").collect()
    Tables.bars(spark, dir).limit(1).collect()
    Tables.documents(spark, dir).limit(1).collect()
    Tables.embeddings(spark, dir).limit(1).collect()
    val wdf = spark.range(0, 64).selectExpr("CAST(id % 2 AS STRING) AS symbol",
      "id AS ord", "CAST(id AS DOUBLE) AS close")
    wdf.select(avg(col("close")).over(
      Window.partitionBy("symbol").orderBy("ord").rowsBetween(-4, 0))).count()
    ta.SeriesOps.overSeries(wdf, Seq("close"), Seq("o"))(a => Array(a(0))).count()
    wdf.repartition(1).sortWithinPartitions("symbol", "ord")
      .write.format("noop").mode("overwrite").save()
  }

  /** `body`'s value, or None after reporting its failure on stderr as
    * `<what>: <first line of the exception>`. The exception's toString,
    * not its message: a bare NPE has a null message, and the report
    * must still name the class. */
  def attempt[A](what: => String)(body: => A): Option[A] =
    try Some(body)
    catch { case e: Throwable =>
      Console.err.println(s"$what: ${e.toString.linesIterator.next()}")
      None
    }

  /** `body`'s value and its wall seconds. */
  def clock[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** One timed leg: its value (None if it threw), wall seconds, and the
    * shuffle-write MB and longest task (s) of the tasks it ran. */
  final case class Leg[A](value: Option[A], wall: Double, shuffleMb: Double, maxTaskS: Double)

  /** Times legs against one [[TaskCounter]]: reset, wall clock around
    * [[attempt]], then the drained task metrics, read after the clock
    * stops so the drain never inflates a wall. */
  final class Legs(spark: SparkSession) {
    private val counter = new TaskCounter(spark)

    def apply[A](failure: => String)(body: => A): Leg[A] = {
      counter.reset()
      val (v, wall) = clock(attempt(failure)(body))
      val (bytes, maxMs) = counter.read()
      Leg(v, wall, bytes / 1e6, maxMs / 1000.0)
    }

    def close(): Unit = counter.close()
  }

  /** Run `build` unless the file `marker` exists, then create it: the
    * gate of a table or index derived once beside a replica. Delete the
    * marker to rebuild. */
  def once(marker: String)(build: => Unit): Unit = {
    val m = Paths.get(marker)
    if (!Files.exists(m)) { build; Files.createFile(m) }
  }
}
