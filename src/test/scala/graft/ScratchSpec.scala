package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The scratch lifecycle: the per-sf-dir memo keeps computeIfAbsent's
  * contract (one build under concurrency, nested memos, failed builds
  * retried), forks copy their base, and the cleanup deletes whole trees
  * without following links out of them. No Spark session is needed: the
  * builds here ignore it. */
class ScratchSpec extends AnyFunSuite {

  test("PerDir builds once per dir under 8 concurrent callers") {
    val builds = new AtomicInteger()
    val memo = new Scratch.PerDir[String]((_, d) => {
      builds.incrementAndGet(); Thread.sleep(50); s"v:$d"
    })
    val pool = Executors.newFixedThreadPool(8)
    val gate = new CountDownLatch(1)
    try {
      val got = (1 to 8).map(_ => pool.submit(new Callable[String] {
        def call(): String = { gate.await(); memo(null, "sf") }
      }))
      gate.countDown()
      assert(got.map(_.get(30, TimeUnit.SECONDS)).toSet == Set("v:sf"))
      assert(builds.get == 1)
    } finally pool.shutdownNow()
  }

  test("PerDir builds may call another PerDir, whatever the keys hash to") {
    val base = new Scratch.PerDir[String]((_, d) => s"base:$d")
    val fork = new Scratch.PerDir[String]((s, d) => "fork<" + base(s, d) + ">")
    // many keys, so pairs that share a hash bin are among them
    for (i <- 0 until 256) {
      val d = s"/data/sf$i"
      assert(fork(null, d) == s"fork<base:$d>")
    }
  }

  test("PerDir caches nothing for a build that throws; the next call retries") {
    val builds = new AtomicInteger()
    val memo = new Scratch.PerDir[String]((_, _) =>
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("first build fails")
      else "ok")
    intercept[IllegalStateException](memo(null, "sf"))
    assert(memo(null, "sf") == "ok")
    assert(memo(null, "sf") == "ok")
    assert(builds.get == 2)
  }

  test("fork copies its base into its own dir and leaves the base untouched") {
    val base = Scratch.fixture("graft_scratch_base_") { (_, _, p) =>
      Files.createDirectories(Paths.get(p, "part=1"))
      Files.write(Paths.get(p, "part=1", "a.txt"), "a".getBytes)
    }
    val fork = Scratch.fork("graft_scratch_fork_", base) { (_, _, p) =>
      Files.write(Paths.get(p, "b.txt"), "b".getBytes)
    }
    val (b, f) = (base(null, "sf"), fork(null, "sf"))
    try {
      assert(b != f)
      assert(new String(Files.readAllBytes(Paths.get(f, "part=1", "a.txt"))) == "a")
      assert(Files.exists(Paths.get(f, "b.txt")))
      assert(!Files.exists(Paths.get(b, "b.txt")))
    } finally { Scratch.delete(b); Scratch.delete(f) }
  }

  test("delete removes a nested tree it created, and not what a link points to") {
    val root = Scratch.dir("graft_scratch_test_")
    val outside = Files.createTempDirectory("graft_scratch_outside_")
    try {
      Files.write(outside.resolve("keep.txt"), "keep".getBytes)
      val deep = Files.createDirectories(Paths.get(root, "a", "b", "c"))
      Files.write(deep.resolve("x.parquet"), Array[Byte](1, 2, 3))
      Files.write(Paths.get(root, "a", "_SUCCESS"), Array.emptyByteArray)
      Files.createSymbolicLink(Paths.get(root, "a", "link"), outside)
      Scratch.delete(root)
      assert(!Files.exists(Paths.get(root)))
      assert(Files.exists(outside.resolve("keep.txt")))
    } finally Scratch.delete(outside.toString)
    assert(!Files.exists(outside))
  }
}
