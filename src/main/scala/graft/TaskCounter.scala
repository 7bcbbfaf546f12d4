package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The task-metrics counter of [[Harness.Legs]]: shuffle-write bytes
  * and the longest task (ms) over the TaskEnd events since the last
  * [[reset]]. TaskEnd events ride the asynchronous listener bus and can
  * land after the action that ran the tasks returns, so every read first
  * waits until the count of finished tasks is stable for 4 reads 25 ms
  * apart (at most 10 s): the late events of one measurement never leak
  * into the next. Reads happen after a measured wall clock stops, so the
  * wait never inflates a recorded time. [[close]] removes the listener,
  * so a second main in the same JVM does not count every task twice. */
private[graft] final class TaskCounter(spark: SparkSession) {
  private val tasks = new AtomicLong(0)
  private val shuffleBytes = new AtomicLong(0)
  private val maxTaskMs = new AtomicLong(0)
  private val listener = new SparkListener {
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      if (te.taskMetrics != null)
        shuffleBytes.addAndGet(te.taskMetrics.shuffleWriteMetrics.bytesWritten)
      maxTaskMs.getAndUpdate(m => math.max(m, te.taskInfo.duration))
      tasks.incrementAndGet()
    }
  }
  spark.sparkContext.addSparkListener(listener)

  private def drain(): Unit = {
    var last = -1L; var stable = 0; var waited = 0
    while (stable < 4 && waited < 10000) {
      Thread.sleep(25); waited += 25
      val cur = tasks.get()
      if (cur == last) stable += 1 else { stable = 0; last = cur }
    }
  }

  /** Drain, then start counting from zero. */
  def reset(): Unit = { drain(); shuffleBytes.set(0); maxTaskMs.set(0) }

  /** Drain, then the shuffle-write bytes and the longest task (ms). */
  def read(): (Long, Long) = { drain(); (shuffleBytes.get(), maxTaskMs.get()) }

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}
