package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** [[Swap]] on plain files: a commit cut at any rename or delete rolls
  * forward under [[Swap.recover]] to exactly the committed state. */
class SwapSpec extends AnyFunSuite {

  private def write(root: String, rel: String, body: String): Unit = {
    val p = Paths.get(root, rel)
    Files.createDirectories(p.getParent)
    Files.write(p, body.getBytes(UTF_8))
  }

  /** Every file under `root` with its content, relative paths sorted. */
  private def tree(root: String): Seq[(String, String)] = {
    val r = Paths.get(root)
    val walk = Files.walk(r)
    try walk.filter(Files.isRegularFile(_)).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .map(p => r.relativize(p).toString -> new String(Files.readAllBytes(p), UTF_8)).sorted
    finally walk.close()
  }

  /** A live file, a live dir, a file to drop, a file that stays, and the
    * staged replacements plus one new path. */
  private def fixture(): (String, Seq[Swap.Move]) = {
    val root = Scratch.dir("graft_swap_")
    write(root, "a", "a0"); write(root, "d/x", "x0"); write(root, "d/y", "y0")
    write(root, "gone", "g0"); write(root, "keep", "k0")
    write(root, s"${Swap.StagingName}/a", "a1")
    write(root, s"${Swap.StagingName}/d/x", "x1")
    write(root, s"${Swap.StagingName}/n", "n1")
    (root, Seq(
      Swap.Move("a", Some(s"${Swap.StagingName}/a")),
      Swap.Move("d", Some(s"${Swap.StagingName}/d")),
      Swap.Move("gone", None),
      Swap.Move("n", Some(s"${Swap.StagingName}/n"))))
  }

  private val before = Seq("a" -> "a0", "d/x" -> "x0", "d/y" -> "y0", "gone" -> "g0", "keep" -> "k0")
  private val after = Seq("a" -> "a1", "d/x" -> "x1", "keep" -> "k0", "n" -> "n1")

  private def crashFs(): FileSystem = {
    val conf = new Configuration()
    conf.set(s"fs.${CrashFs.Scheme}.impl", classOf[CrashFs].getName)
    FileSystem.get(new java.net.URI(s"${CrashFs.Scheme}:///"), conf)
  }

  test("a commit cut at any step recovers to the committed state; no intent, hidden or staged path remains") {
    val fs = crashFs()
    var n = 0
    var done = false
    while (!done) {
      n += 1
      val (root, moves) = fixture()
      CrashFs.arm(n)
      try Swap.commit(fs, new Path(CrashFs.at(root)), moves)
      catch { case _: CrashFs.Crash => }
      done = !CrashFs.crashed
      CrashFs.disarm()
      val cut = tree(root)
      Swap.recover(fs, new Path(CrashFs.at(root)))
      assert(tree(root) == after, s"crash at step $n left ${cut.map(_._1)}")
      assert(new java.io.File(root).list().forall(!_.startsWith(".")), s"crash at step $n: debris")
    }
    // hide 3, promote 3, drop 3 hidden copies, the staging and the intent
    assert(n - 1 == 11, s"crash points: ${n - 1}")
  }

  test("without an intent nothing live moves; the staging and a cut intent are dropped") {
    val fs = crashFs()
    val (root, _) = fixture()
    Swap.recover(fs, new Path(CrashFs.at(root)))
    assert(tree(root) == before)
    val (root2, _) = fixture()
    write(root2, Swap.IntentName, "a\t.swap_staging/a\n")
    Swap.recover(fs, new Path(CrashFs.at(root2)))
    assert(tree(root2) == before, "an intent without its end line was cut before any move")
  }
}
