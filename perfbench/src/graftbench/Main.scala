package graftbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Runs one workload in one JVM and writes the raw record (every set-up
  * round, pass and operation) as JSON; perfbench/run.py turns it into
  * metrics. The load is a closed loop: this thread issues each operation
  * after the previous one returned.
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE */
object Main {
  val SetupRounds = 3

  def session(work: String): SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-perfbench")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    .getOrCreate()

  /** Fixed CPU probe: the same integer work every time, so its ms tell
    * how fast this box ran at that moment. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L; var acc = 0L; var i = 0
    while (i < 40000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x & 1023; i += 1
    }
    if (acc == 42) println("")
    (System.nanoTime() - t0) / 1e6
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum

  def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim catch { case _: Throwable => "" }

  def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload"); val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble; val trace = opt("trace") == "1"
    val work = opt("work"); val out = opt("out")
    val wl = Workload(name)
    val calibStart = calibrate()

    val t0 = System.nanoTime()
    val spark = session(work)
    spark.sparkContext.setLogLevel("WARN")
    // one-time datasource and scheduler class loading
    Workload.noop(spark.range(8).toDF())
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, tracer, work)

    // set-up: the inputs are generated SetupRounds times (same seed, fresh
    // dir; the last copy is used), then one warm-up pass runs on them. Its
    // wall is set-up time, never pass time.
    val genS = (0 until SetupRounds).map { r =>
      ctx.dir = s"$work/input-$r"
      val g0 = System.nanoTime()
      wl.generate(spark, ctx.dir, seed)
      (System.nanoTime() - g0) / 1e9
    }
    val p0 = System.nanoTime()
    wl.prepare(ctx)
    val prepS = (System.nanoTime() - p0) / 1e9
    ctx.pass = -1
    val w0 = System.nanoTime()
    wl.pass(ctx)
    val warmS = (System.nanoTime() - w0) / 1e9
    val inputMb = Workload.dirBytes(ctx.dir) / 1e6

    // timed passes: start passes until `seconds` have gone by; in a traced
    // run every other pass is traced (at least one of each), so the run
    // also yields the tracing overhead
    val m0 = System.nanoTime()
    val minPasses = if (trace) 2 else 1
    val passes = Iterator.from(0)
      .takeWhile(i => i < minPasses || System.nanoTime() - m0 < seconds * 1e9)
      .map { i =>
        val traced = trace && i % 2 == 0
        ctx.pass = i
        val gc0 = gcMs(); val load = loadavg()
        val start = System.nanoTime()
        ctx.beginPass(traced)
        wl.pass(ctx)
        val end = System.nanoTime()
        val attrs = ctx.endPass()
        Map("pass" -> i, "traced" -> traced, "offset_s" -> (start - m0) / 1e9,
          "wall_s" -> (end - start) / 1e9, "gc_ms" -> (gcMs() - gc0), "loadavg" -> load,
          "self_s" -> attrs.getOrElse("self_s", -1.0))
      }.toVector
    val measuredS = (System.nanoTime() - m0) / 1e9
    val calibEnd = calibrate()

    val opsJson = ctx.ops.map(o => Json.obj(Seq("pass" -> o.pass, "name" -> o.name,
      "kind" -> o.kind, "detail" -> o.detail, "wall_s" -> o.wallS, "check_s" -> o.checkS,
      "ok" -> o.ok, "err" -> o.err, "attrs" -> o.attrs)))
    val factsJson = ctx.facts.map { case (p, n, v) => Json.obj(Seq("pass" -> p, "name" -> n, "value" -> v)) }
    val raw = Seq(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cores" -> 4, "input_dir" -> ctx.dir, "input_mb" -> inputMb,
      "calib_start_ms" -> calibStart, "calib_end_ms" -> calibEnd,
      "measured_s" -> measuredS, "peak_rss_mb" -> peakRssMb(),
      "session_s" -> sessionS, "gen_s" -> genS, "check_prep_s" -> prepS, "warm_s" -> warmS,
      "passes" -> passes)
    val body = Json.obj(raw).dropRight(1) +
      ",\"ops\":[" + opsJson.mkString(",\n") + "],\"facts\":[" + factsJson.mkString(",\n") + "]}\n"
    Files.writeString(Paths.get(out), body)
    tracer.foreach { t =>
      Files.writeString(Paths.get(out.stripSuffix(".json") + ".spans.json"), t.toJson(t0))
      t.close()
    }
    spark.stop()
  }
}
