package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** The local file system under the test-only `crashfs` scheme, with a
  * crash switch for crash-point tests. Armed with `n`, the n-th rename or
  * delete from then on fails, and so does every rename, delete, create
  * and mkdirs after it: the process is dead from that step on. Spark's
  * own output commits run through the same calls, so a crash can land
  * inside a staged write as well as inside a graft commit.
  *
  * A path under `crashfs://` names the same file as under `file:`, so a
  * spec builds a fixture at `file:` paths and runs the operation under
  * test at `crashfs:` paths (see [[CrashFs.at]]).
  */
final class CrashFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${CrashFs.Scheme}:///")
  override def getScheme: String = CrashFs.Scheme

  override def rename(src: Path, dst: Path): Boolean = {
    CrashFs.step(); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    CrashFs.step(); super.delete(p, recursive)
  }
  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    CrashFs.alive(); super.mkdirs(p, permission)
  }
  override def create(p: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    CrashFs.alive()
    super.create(p, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CrashFs {
  val Scheme = "crashfs"

  /** Steps left before the crash; negative when disarmed. */
  private val left = new AtomicInteger(-1)
  @volatile private var dead = false
  private val steps = new AtomicInteger(0)

  final class Crash(what: String) extends java.io.IOException(s"crashfs: crashed at $what")

  /** Make the scheme resolvable in `spark`'s Hadoop configuration. */
  def register(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set(s"fs.$Scheme.impl", classOf[CrashFs].getName)

  /** `localPath` under the crash scheme. */
  def at(localPath: String): String = s"$Scheme://$localPath"

  /** Crash at the `n`-th rename or delete from now (1-based). */
  def arm(n: Int): Unit = { dead = false; steps.set(0); left.set(n) }

  def disarm(): Unit = { left.set(-1); dead = false }

  def crashed: Boolean = dead

  private def step(): Unit = {
    alive()
    if (left.get >= 0) {
      steps.incrementAndGet()
      if (left.decrementAndGet() == 0) { dead = true; throw new Crash(s"step ${steps.get}") }
    }
  }

  private def alive(): Unit = if (dead) throw new Crash("a call after the crash")
}
