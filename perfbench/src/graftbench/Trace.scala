package graftbench

import org.apache.spark.BenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed interval. Spans of one pass share `trace`; `parent` is the
  * span that caused this one (0 for a pass). Times are System.nanoTime. */
final class Span(val id: Long, val trace: Long, val parent: Long, val name: String,
                 val kind: String, val start: Long) {
  @volatile var end: Long = -1L
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = synchronized { counters(k) = counters.getOrElse(k, 0.0) + v }
  def attrs: Map[String, Double] = synchronized(counters.toMap)
}

/** Records spans in memory: pass → step → Spark job. Jobs are attributed
  * to their step through the job group the tracer sets per step span;
  * task metrics through the job's stages; Catalyst phase times through a
  * QueryExecutionListener, delivered before the step closes because the
  * tracer drains the listener bus at every step end. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val all = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val jobs = new ConcurrentHashMap[Int, Span]()
  private val stageJob = new ConcurrentHashMap[Int, Span]()
  @volatile private var current: Span = null
  /** epoch-ms event times → the nanoTime clock the step spans use */
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private def open(trace: Long, parent: Long, name: String, kind: String, start: Long): Span = {
    val id = ids.incrementAndGet()
    val s = new Span(id, if (trace == 0) id else trace, parent, name, kind, start)
    all.add(s); byId.put(id, s); s
  }

  def beginPass(name: String): Span = open(0, 0, name, "pass", System.nanoTime())

  def beginStep(pass: Span, name: String): Span = {
    val s = open(pass.trace, pass.id, name, "step", System.nanoTime())
    current = s
    sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
    s.add("spark.codegen.compile_ms", -CodeGenerator.compileTime / 1e6)
    s.add("spark.codegen.classes", -CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)
    s
  }

  /** Close a step: wait for its events, then derive its job-covered time. */
  def endStep(s: Span, end: Long): Unit = {
    sc.clearJobGroup()
    BenchBus.drain(sc)
    current = null
    s.end = end
    s.add("spark.codegen.compile_ms", CodeGenerator.compileTime / 1e6)
    s.add("spark.codegen.classes", CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)
    val kids = children(s).filter(_.end > 0).map(j => (j.start, j.end))
    val covered = Tracer.unionNs(kids, s.start, s.end)
    s.add("job_s", covered / 1e9)
    s.add("self_s", (s.end - s.start - covered) / 1e9)
  }

  def endPass(p: Span, end: Long): Unit = {
    p.end = end
    val covered = Tracer.unionNs(children(p).map(c => (c.start, c.end)), p.start, p.end)
    p.add("self_s", (p.end - p.start - covered) / 1e9)
  }

  def children(s: Span): Seq[Span] = all.asScala.filter(_.parent == s.id).toSeq
  def spans: Seq[Span] = all.asScala.toSeq

  private def stepOf(job: Span): Option[Span] = Option(byId.get(job.parent))

  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val group = Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      group.flatMap(g => Option(byId.get(g.toLong))).foreach { step =>
        val job = open(step.trace, step.id, s"job ${js.jobId}", "job", js.time * 1000000L + offsetNs)
        jobs.put(js.jobId, job)
        js.stageIds.foreach(stageJob.put(_, job))
        step.add("spark.exec.jobs", 1)
      }
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(jobs.remove(je.jobId)).foreach(_.end = je.time * 1000000L + offsetNs)
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(te.stageId)).foreach { job =>
        val m = te.taskMetrics
        val counts = Seq(
          "spark.exec.tasks" -> 1.0,
          "spark.exec.failed_tasks" -> (if (te.reason == org.apache.spark.Success) 0.0 else 1.0)) ++
          (if (m == null) Nil else Seq(
            "spark.exec.run_s" -> m.executorRunTime / 1e3,
            "spark.exec.cpu_s" -> m.executorCpuTime / 1e9,
            "spark.exec.gc_s" -> m.jvmGCTime / 1e3,
            "spark.exec.shuffle_write_mb" -> m.shuffleWriteMetrics.bytesWritten / 1e6,
            "spark.exec.shuffle_read_mb" ->
              (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / 1e6,
            "spark.exec.spill_mb" -> m.diskBytesSpilled / 1e6))
        counts.foreach { case (k, v) => job.add(k, v); stepOf(job).foreach(_.add(k, v)) }
      }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = Option(current).foreach { s =>
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        ph.get(p).foreach(sum => s.add(s"spark.plan.${p}_ms", sum.durationMs.toDouble))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Spans as JSON, times in µs from `t0`. */
  def toJson(t0: Long): String = spans.sortBy(_.id).map { s =>
    Json.obj(Seq("id" -> s.id, "trace" -> s.trace, "parent" -> s.parent, "name" -> s.name,
      "kind" -> s.kind, "start_us" -> (s.start - t0) / 1000, "end_us" -> (s.end - t0) / 1000,
      "attrs" -> s.attrs))
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def unionNs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }
}
