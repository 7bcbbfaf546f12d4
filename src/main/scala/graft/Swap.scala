package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one crash-safe commit behind every rewrite of a persisted
  * artifact (a z-layout's data files and sidecars, an IVF-PQ index's
  * cells): the lakehouse commit pattern of Delta Lake's log and the
  * Iceberg table spec, cut down to one intent file per commit.
  *
  * The caller writes the new content under [[staging]]. [[commit]] then
  * writes and closes `<root>/.swap_intent`, listing every move, before
  * anything live is touched; renames each moved live path to a hidden
  * `.<name>.superseded` beside itself and each staged replacement into
  * its place (no replacement means drop); deletes the hidden copies and
  * the staging; and deletes the intent last. Every step checks its
  * result and is idempotent, so [[recover]] rolls a present intent
  * forward. With no intent nothing live was touched, and the staging is
  * dropped. The mutating operations of each artifact call [[recover]]
  * first, so no crash needs an operator. Readers racing a commit can
  * still see a partial file set, as under any lakehouse OPTIMIZE. Every
  * path a commit adds is dot-hidden from Spark's file listing.
  */
private[graft] object Swap {

  /** Replace `live` with `staged`, or drop it when `staged` is None. Both
    * are paths relative to the commit root. */
  final case class Move(live: String, staged: Option[String])

  val IntentName = ".swap_intent"
  val StagingName = ".swap_staging"
  private val End = "end"

  /** Where a commit's new content is written before [[commit]]. */
  def staging(root: Path): Path = new Path(root, StagingName)

  /** Apply `moves` under `root` as one commit. */
  def commit(fs: FileSystem, root: Path, moves: Seq[Move]): Unit = {
    val lines = moves.map(m => (m.live +: m.staged.toSeq).mkString("\t")) :+ End
    val out = fs.create(new Path(root, IntentName), false)
    try out.write(lines.mkString("", "\n", "\n").getBytes(UTF_8)) finally out.close()
    rollForward(fs, root, moves)
  }

  /** `path`'s file system and root, for an operation that changes the
    * artifact there: a commit a crash interrupted is finished first. */
  def recovered(spark: SparkSession, path: String): (FileSystem, Path) = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(fs, root)
    (fs, root)
  }

  /** Finish the commit a crash interrupted under `root`, if any. An
    * intent without its end line was cut while being written, before
    * anything live moved, so it is dropped like a missing one. */
  def recover(fs: FileSystem, root: Path): Unit = {
    val intent = new Path(root, IntentName)
    val lines = if (!fs.exists(intent)) Vector.empty else {
      val in = fs.open(intent)
      try new String(in.readAllBytes(), UTF_8).linesIterator.toVector finally in.close()
    }
    if (lines.lastOption.contains(End))
      rollForward(fs, root, lines.init.map(_.split("\t")).map(f => Move(f(0), f.lift(1))))
    else {
      drop(fs, staging(root))
      drop(fs, intent)
    }
  }

  private def rollForward(fs: FileSystem, root: Path, moves: Seq[Move]): Unit = {
    def at(rel: String) = new Path(root, rel)
    def hidden(rel: String) = {
      val live = at(rel)
      new Path(live.getParent, s".${live.getName}.superseded")
    }
    // a live path hides only while its replacement is still staged: once
    // promoted, the path at `live` is the new content
    for (m <- moves if m.staged.forall(s => fs.exists(at(s))) && fs.exists(at(m.live)))
      rename(fs, at(m.live), hidden(m.live))
    for (m <- moves; s <- m.staged if fs.exists(at(s)))
      rename(fs, at(s), at(m.live))
    moves.foreach(m => drop(fs, hidden(m.live)))
    drop(fs, staging(root))
    drop(fs, new Path(root, IntentName))
  }

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    require(fs.rename(from, to), s"Swap: rename $from -> $to failed")

  private def drop(fs: FileSystem, p: Path): Unit =
    if (fs.exists(p)) require(fs.delete(p, true), s"Swap: could not delete $p")
}
