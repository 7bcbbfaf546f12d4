package graft

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Bench's output contract — its stdout line and full map — and the one
  * failure report every harness main prints. */
class HarnessSpec extends AnyFunSuite with SparkSuite {
  override protected def cores = 1

  private def ok(wall: Double, mb: Double = 0.0) = Harness.Leg(Some(()), wall, mb, 0.0)
  private val threw = Harness.Leg[Unit](None, 0.25, 1.5, 0.0)

  /** A JSON object's fields, in the order the text holds them. */
  private def fields(json: String): Seq[(String, AnyRef)] =
    new ObjectMapper().readValue(json, classOf[java.util.LinkedHashMap[String, AnyRef]])
      .asScala.toSeq

  private def num(v: AnyRef): Double = v.asInstanceOf[Number].doubleValue

  // sma_20 is a headline query that throws; "extra" is not a headline query
  private val ran = Bench.Headline.map(n => n -> (if (n == "sma_20") threw else ok(1.0))) ++
    Seq("extra" -> ok(0.5, 2.346))

  test("Bench's stdout line: key order, every headline query, a failed one at -1 outside the total") {
    val (line, _) = Bench.lines(ran, "4", "/data/sf0.001")
    val f = fields(line)
    assert(f.map(_._1) == Seq("metric", "value", "unit", "queries", "n_queries", "failed",
      "full_map", "semantics", "sf"))
    val m = f.toMap
    val qs = m("queries").asInstanceOf[java.util.Map[String, AnyRef]].asScala
    assert(qs.keySet == Bench.Headline.toSet && Bench.Headline.size == 15)
    assert(num(qs("sma_20")) == -1.0)
    assert(m("failed").asInstanceOf[java.util.List[String]].asScala == Seq("sma_20"))
    assert(num(m("value")) == 14.5, "14 headline legs at 1 s + extra at 0.5 s; the failed leg's 0.25 s left out")
    assert(num(m("n_queries")) == 16)
    assert(m("full_map") == "BENCH_FULL.json" && m("sf") == "/data/sf0.001")
  }

  test("Bench's stdout line stays under a 2 KB stdout capture") {
    // every headline query at a four-digit wall, three of them failed
    val slow = Bench.Headline.zipWithIndex.map { case (n, i) =>
      n -> (if (i % 5 == 0) threw else ok(1234.5678)) }
    val (line, _) = Bench.lines(slow, "32", "/datasets/graft/sf0.1")
    assert(line.getBytes(UTF_8).length < 2048, line)
  }

  test("Bench's stdout line stays under 2 KB when every query fails: the failed list ends in a count") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val all = names.map(_ -> threw)
    val (line, full) = Bench.lines(all, "32", "/datasets/graft/sf0.1")
    assert(line.getBytes(UTF_8).length < 2048, line)
    val f = fields(line)
    assert(f.map(_._1) == Seq("metric", "value", "unit", "queries", "n_queries", "failed",
      "full_map", "semantics", "sf"))
    val shown = f.toMap.apply("failed").asInstanceOf[java.util.List[String]].asScala.toSeq
    assert(shown.init == names.take(shown.size - 1) && shown.size > 1)
    assert(shown.last == s"+${names.size - shown.size + 1} more")
    assert(fields(full).toMap.apply("failed").asInstanceOf[java.util.List[String]].asScala == names)
  }

  test("Bench's full map: every query with its wall and shuffle MB") {
    val (_, full) = Bench.lines(ran, "4", "/data/sf0.001")
    val f = fields(full)
    assert(f.map(_._1) == Seq("metric", "value", "unit", "cpus", "queries", "shuffle_mb",
      "n_queries", "failed", "semantics", "sf"))
    val m = f.toMap
    val qs = m("queries").asInstanceOf[java.util.Map[String, AnyRef]].asScala
    val mb = m("shuffle_mb").asInstanceOf[java.util.Map[String, AnyRef]].asScala
    assert(qs.keySet == ran.map(_._1).toSet && mb.keySet == qs.keySet)
    assert(num(qs("sma_20")) == -1.0 && num(qs("extra")) == 0.5)
    assert(num(mb("sma_20")) == 1.5 && num(mb("extra")) == 2.35)
    assert(num(m("cpus")) == 4 && num(m("value")) == 14.5)
  }

  test("a throwing leg carries no value and reports its exception class, message or not") {
    val legs = new Harness.Legs(spark)
    val err = new java.io.ByteArrayOutputStream()
    try {
      val failed = Console.withErr(err) {
        legs("[bench] FAILED q")(throw new NullPointerException())
      }
      assert(failed.value.isEmpty)
      assert(err.toString(UTF_8).trim == "[bench] FAILED q: java.lang.NullPointerException")
      val fine = legs("[bench] FAILED r")(spark.range(100).repartition(2).count())
      assert(fine.value.contains(100L) && fine.shuffleMb > 0.0 && fine.wall > 0.0)
    } finally legs.close()
  }
}
