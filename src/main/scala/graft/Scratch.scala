package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Every piece of scratch state graft creates, and how it is released:
  *
  *  - [[dir]] — temp directories (fixture indexes and layouts, chunk
  *    staging, bench outputs). The frames that read them are lazy, so a
  *    directory must outlive the call that made it; one shutdown hook
  *    deletes every registered directory at JVM exit.
  *  - [[PerDir]] — a value built once per sf dir per JVM (a persisted
  *    fixture, a trained model). [[fixture]] and [[fork]] build the
  *    directory-valued ones.
  *  - [[staged]] — a fixture whose tables live in a session catalog,
  *    re-staged when a fresh session's catalog lacks them.
  *  - [[Retained]] — frames persisted for intra-plan reuse, released on
  *    demand by their owner.
  *  - [[freeCheckpoint]] — the storage blocks of a dead localCheckpoint.
  */
private[graft] object Scratch {

  private val dirs = new ConcurrentLinkedQueue[String]()
  sys.addShutdownHook(dirs.forEach(d => delete(d)))

  /** A fresh temp directory named `prefix…`, deleted at JVM exit. */
  def dir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toString
    dirs.add(d)
    d
  }

  /** Recursive delete that tolerates missing entries and never follows a
    * symbolic link out of the tree. */
  def delete(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (!Files.isSymbolicLink(f.toPath)) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(path))
  }

  /** Recursive file copy of a fixture directory. The walk stream holds an
    * open directory handle per level, so it is closed explicitly. */
  private def copyDir(src: String, dst: String): Unit = {
    val s = Paths.get(src)
    val t = Paths.get(dst)
    val walk = Files.walk(s)
    try walk.forEach { from =>
      val to = t.resolve(s.relativize(from))
      if (Files.isDirectory(from)) Files.createDirectories(to)
      else Files.copy(from, to, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  /** A value built at most once per sf dir per JVM. `computeIfAbsent`
    * gives the contract: concurrent callers for one dir wait on a single
    * build, and a build that throws caches nothing, so the next call
    * retries. Each memo owns its map, so a build may call another memo
    * (a fork building its base). Nesting `computeIfAbsent` on ONE map
    * throws "Recursive update" whenever the two keys share a bin. */
  final class PerDir[T](build: (SparkSession, String) => T) {
    private val memo = new ConcurrentHashMap[String, T]()
    def apply(spark: SparkSession, sfDir: String): T =
      memo.computeIfAbsent(sfDir, d => build(spark, d))
  }

  /** A fixture directory per sf dir: a fresh [[dir]] that
    * `fill(spark, sfDir, path)` writes. */
  def fixture(prefix: String)(fill: (SparkSession, String, String) => Unit): PerDir[String] =
    new PerDir((spark, d) => { val p = dir(prefix); fill(spark, d, p); p })

  /** A fixture forked from a shared base: the base directory is built
    * once per sf dir, file-copied into this fixture's own directory, and
    * `op` applies only this fixture's lifecycle step to the copy. Every
    * gate over a fork states a content property (rollup hashes, pruning
    * losslessness, probe results) that a bit-identical copy preserves. */
  def fork(prefix: String, base: PerDir[String])(
      op: (SparkSession, String, String) => Unit): PerDir[String] =
    fixture(prefix) { (spark, d, p) => copyDir(base(spark, d), p); op(spark, d, p) }

  private val stageLock = new Object

  /** A fixture whose `tables` live in the session catalog: the names are
    * stable per JVM, but a fresh session's catalog lacks them, so
    * `stage(path)` re-runs into a fresh [[dir]] whenever any is missing.
    * One lock for all such fixtures, re-entrant so a stage may stage the
    * fixture it forks. */
  def staged(spark: SparkSession, tables: Seq[String], prefix: String)(
      stage: String => Unit): Unit =
    stageLock.synchronized {
      if (!tables.forall(t => spark.catalog.tableExists(t))) stage(dir(prefix))
    }

  /** Frames persisted for intra-plan reuse (corpus-sized signatures,
    * buckets, frequent sets), tracked so a long-lived session dispatching
    * over many corpora can release them instead of accumulating cache
    * entries, disk spill included, for the JVM lifetime. Each owner keeps
    * its own instance, so releasing one frees only that owner's frames. */
  final class Retained {
    private val frames = new ConcurrentLinkedQueue[DataFrame]()

    /** Persist `plan` MEMORY_AND_DISK unless an identical plan is already
      * cached (a re-entrant call builds an identical logical plan, which
      * CacheManager would match and warn about; reusing the live entry
      * keeps that warning a real finding), and track the handle for
      * [[release]]. MEMORY_AND_DISK, not the MEMORY_ONLY default: these
      * frames feed several downstream joins, and under memory pressure
      * MEMORY_ONLY silently evicts and recomputes the expensive pass per
      * join, while spilling to local disk is strictly cheaper. */
    def guardedPersist(plan: DataFrame): DataFrame =
      if (plan.storageLevel == StorageLevel.NONE) {
        val p = plan.persist(StorageLevel.MEMORY_AND_DISK)
        frames.add(p)
        p
      } else plan

    /** Unpersist every tracked frame. Safe while no query built from
      * those frames is still running. */
    def release(): Unit = {
      var df = frames.poll()
      while (df != null) { df.unpersist(blocking = false); df = frames.poll() }
    }
  }

  /** Release a DEAD localCheckpoint's storage blocks. A checkpointed
    * frame's plan is one LogicalRDD leaf whose RDD owns the materialized
    * blocks; freeing is safe ONLY once nothing will scan the frame again
    * (the lineage is truncated, so a freed checkpoint cannot recompute —
    * any later scan throws). The blocks go through the context directly
    * ([[GraftBridge.freeBlocks]]): `RDD.unpersist` would log its "cannot
    * be recomputed" WARN for every free, and every free here is
    * deliberate. The freed RDD keeps reporting its old storage level, so
    * it must never be persisted or scanned again. */
  def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => GraftBridge.freeBlocks(lr.rdd, blocking = false)
      case _ =>
    }
}
