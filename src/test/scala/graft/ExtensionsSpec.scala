package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SQL surface of the native expressions, wired via
  * spark.sql.extensions — SQL and DataFrame paths must agree. */
class ExtensionsSpec extends AnyFunSuite with SparkSuite {
  override protected def cores = 2
  override protected def conf = Seq("spark.sql.extensions" -> "graft.GraftExtensions")

  test("cosine_sim callable from SQL, agrees with the Column API") {
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0d, 2.0d, 0.0d), array(1.0d, 2.0d, 0.0d)) AS same, " +
      "cosine_sim(array(1.0d, 0.0d), array(0.0d, 1.0d)) AS orth, " +
      "cosine_sim(array(0.0d, 0.0d), array(1.0d, 1.0d)) AS zero").head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
    assert(r.getDouble(2) == 0.0)
  }

  test("simhash64 / minhash_sig / hyperplane_sigs callable from SQL") {
    val r = spark.sql(
      "SELECT simhash64(split('the quick brown fox', ' ')) AS sh, " +
      "minhash_sig(split('the quick brown fox', ' '), 4) AS mh, " +
      "hyperplane_sigs(array(1.0d, -1.0d, 0.5d), 4, 2) AS hp").head()
    // SQL results must equal the Column-API expressions on the same input
    import org.apache.spark.sql.functions._
    val viaCols = spark.range(1).select(
      graft.functions.TextHashes.simhash64(split(lit("the quick brown fox"), " ")).as("sh"),
      graft.functions.TextHashes.minhashSig(split(lit("the quick brown fox"), " "), 4).as("mh"),
      graft.functions.TextHashes.hyperplaneSigs(
        array(lit(1.0), lit(-1.0), lit(0.5)), 4, 2).as("hp")).head()
    assert(r.getLong(0) == viaCols.getLong(0))
    assert(r.getSeq[Long](1) == viaCols.getSeq[Long](1))
    assert(r.getSeq[Int](2) == viaCols.getSeq[Int](2))
  }

  test("portable hash family callable from SQL, equal to the Column API") {
    val r = spark.sql(
      "SELECT simhash_poly64(split('the quick brown fox', ' ')) AS sh, " +
      "minhash_sig_poly(split('the quick brown fox', ' '), 4) AS mh, " +
      "minhash_shingle_poly(split('the quick brown fox jumps', ' '), 3, 4) AS mhs").head()
    import org.apache.spark.sql.functions._
    val viaCols = spark.range(1).select(
      graft.functions.TextHashes.simhashPoly64(split(lit("the quick brown fox"), " ")).as("sh"),
      graft.functions.TextHashes.minhashSigPoly(split(lit("the quick brown fox"), " "), 4).as("mh"),
      graft.functions.TextHashes.minhashShinglePoly(
        split(lit("the quick brown fox jumps"), " "), 3, 4).as("mhs")).head()
    assert(r.getLong(0) == viaCols.getLong(0))
    assert(r.getSeq[Long](1) == viaCols.getSeq[Long](1))
    assert(r.getSeq[Long](2) == viaCols.getSeq[Long](2))
  }

  test("misra_gries callable from SQL as a real aggregate, GROUP BY included") {
    val rows = spark.sql(
      "SELECT g, misra_gries(t, 16) AS mg FROM VALUES " +
      "(1, 'a'), (1, 'a'), (1, 'b'), (2, 'c') AS v(g, t) GROUP BY g ORDER BY g")
      .collect()
    val g1 = rows(0).getSeq[org.apache.spark.sql.Row](1)
      .map(r => r.getString(0) -> r.getLong(1))
    assert(g1 == Seq("a" -> 2L, "b" -> 1L))
    val g2 = rows(1).getSeq[org.apache.spark.sql.Row](1)
      .map(r => r.getString(0) -> r.getLong(1))
    assert(g2 == Seq("c" -> 1L))
  }

  test("misra_gries_weighted callable from SQL, weights summed per key") {
    val rows = spark.sql(
      "SELECT misra_gries_weighted(t, w, 16) AS mg FROM VALUES " +
      "('a', 3), ('a', 2), ('b', 4), ('c', 1) AS v(t, w)")
      .collect()
    val got = rows(0).getSeq[org.apache.spark.sql.Row](0)
      .map(r => r.getString(0) -> r.getLong(1))
    assert(got == Seq("a" -> 5L, "b" -> 4L, "c" -> 1L))
  }

  test("non-literal period argument is rejected with a clear error") {
    val e = intercept[Exception](
      spark.sql("SELECT minhash_sig(array('a'), CAST(rand() * 4 AS INT))").head())
    assert(e.getMessage.contains("integer literal"))
  }

  test("every SQL function rejects a wrong-type argument at analysis") {
    // one wrong type per function; the array<float> legs are the
    // embeddings table's own element type, which the double loops must
    // not read unconverted
    val wrong = Seq(
      "cosine_sim(array(1.0f, 2.0f), array(1.0d, 2.0d))",
      "simhash64(array(1, 2))",
      "misra_gries(t, 16) FROM VALUES (1), (2) AS v(t)",
      "misra_gries_weighted(t, w, 16) FROM VALUES ('a', 1.5) AS v(t, w)",
      "minhash_sig(array(1, 2), 4)",
      "simhash_poly64(array(1.0d))",
      "minhash_sig_poly(array(1, 2), 4)",
      "minhash_shingle_poly(array(1, 2), 3, 4)",
      "hyperplane_sigs(array(1.0f, -1.0f), 4, 2)")
    wrong.foreach { call =>
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(s"SELECT $call"))
      assert(e.getMessage.contains("UNEXPECTED_INPUT_TYPE"), s"$call: ${e.getMessage}")
    }
  }

  test("bpe_merge_pair rejects a non-array<string> argument at analysis") {
    import org.apache.spark.sql.functions._
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.range(1).select(graft.functions.BpeMergePair.bpeMergePair(
        array(lit(1), lit(2)), "a", "b")))
    assert(e.getMessage.contains("array<string>"), e.getMessage)
  }

  test("every Column-only native expression rejects a wrong-type argument at analysis") {
    // the expressions themselves, not their entry points (which cast):
    // each input type is exactly what its eval loop reads
    import graft.functions._
    import org.apache.spark.sql.GraftBridge.{column, expression}
    import org.apache.spark.sql.functions._
    val floats = expression(array(lit(1.0f), lit(2.0f)))
    val ints = expression(array(lit(1), lit(2)))
    val wrong = Seq(
      "nearest_centroid" -> column(NearestCentroid(floats, Array(Array(1.0, 0.0)))),
      "pq_encode" -> column(PqEncode(floats, Array(Array(Array(1.0), Array(0.0))))),
      "top_k_by_score" -> column(TopKByScore(expression(lit(1.0f)), expression(lit(1L)), 2)
        .toAggregateExpression()),
      "shingle_fps" -> column(TextHashes.ShingleFps(ints, 2)),
      "repetition_counts" -> column(RepetitionCounts(ints)),
      "in_set" -> column(InFixedSet(ints, InFixedSet.strings(Seq("a")))),
      "in_set (bigint)" -> column(InFixedSet(expression(lit("a")), InFixedSet.longs(Seq(1L)))))
    wrong.foreach { case (name, c) =>
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.range(1).select(c))
      assert(e.getMessage.contains("UNEXPECTED_INPUT_TYPE"), s"$name: ${e.getMessage}")
    }
  }
}
