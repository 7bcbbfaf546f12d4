package graftbench

import graft.pipeline.{Dedup, Packing, Pii, Repetition, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The README training-data pass — keep + scrub → simhash star edges +
  * components → representatives + packing, plus minhash candidates —
  * then one maintenance cycle of a persisted IVF-PQ index over the
  * corpus embeddings: append the held-out tenth, compact, probe a query
  * batch, delete the tenth again. The first warm-up pass writes the index.
  * Each pipeline stage writes its output, as a staged pipeline does, so
  * every step times its own operators. The reads are single-document
  * keep-and-scrub lookups. Checked against the injected truth and
  * Similarity.bruteForceTopK. */
final class LlmPipeline extends Workload {
  private var d: Gen.Docs = _
  private var v: Gen.Vecs = _
  private var keptIds: Set[Long] = Set.empty
  /** reference top-5 per query over the whole corpus */
  private var truth: Map[Long, Set[Long]] = Map.empty
  /** IVF-PQ is approximate: the check bounds its recall, it does not ask
    * for the exact answer (~0.8 at the default probe settings). */
  private val MinRecall = 0.6

  private def baseN = v.ids.length * 9 / 10

  def generate(spark: SparkSession, dir: String, seed: Long): Unit = {
    d = Gen.docs(spark, dir, seed)
    v = Gen.vectors(spark, dir, seed)
  }

  private def topK(df: DataFrame): Map[Long, Set[Long]] =
    df.select("query_id", "corpus_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

  override def prepare(ctx: Ctx): Unit =
    truth = topK(Similarity.bruteForceTopK(ctx.spark.read.parquet(s"${ctx.dir}/embeddings.parquet"),
      ctx.spark.read.parquet(s"${ctx.dir}/queries.parquet"), k = 5))

  private def tokenCount(t: String): Int = t.trim.split("\\s+").length

  def pass(ctx: Ctx): Unit = {
    dedupPass(ctx)
    indexCycle(ctx)
    // reads: one document's keep decision and scrubbed text
    val docs = ctx.spark.read.parquet(s"${ctx.dir}/documents.parquet")
    val ids = d.texts.keys.toIndexedSeq.sorted
    for (k <- 0 until 12) {
      val id = ids(math.floorMod(ctx.pass * 97 + k * 199, ids.size))
      ctx.op("pipeline.read", "read", id.toString) {
        val rows = docs.where(col("doc_id") === id)
          .where(Repetition.repetitionKeep(col("text"))).transform(Pii.withScrub(_))
          .select("n_emails", "text_scrubbed").collect()
        () =>
          if (!keptIds(id)) rows.isEmpty
          else rows.length == 1 && rows(0).getInt(0) == (if (d.emails(id)) 1 else 0) &&
            !rows(0).getString(1).contains("@")
      }
    }
  }

  private def dedupPass(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val stage = s"${ctx.work}/stage"
    val docs = spark.read.parquet(s"${ctx.dir}/documents.parquet")

    ctx.op("pipeline.keep_scrub") {
      docs.where(Repetition.repetitionKeep(col("text"))).transform(Pii.withScrub(_))
        .write.mode("overwrite").parquet(s"$stage/keep")
      () => {
        val rows = spark.read.parquet(s"$stage/keep")
          .select(col("doc_id"), col("n_emails"), col("text_scrubbed").contains("@")).collect()
        keptIds = rows.map(_.getLong(0)).toSet
        val normal = d.texts.keySet -- d.looping
        ctx.fact("pipeline.kept_share", keptIds.size.toDouble / normal.size)
        keptIds.intersect(d.looping).isEmpty && keptIds.size >= 0.95 * normal.size &&
          rows.forall(r => r.getInt(1) == (if (d.emails(r.getLong(0))) 1 else 0) && !r.getBoolean(2))
      }
    }
    val keep = spark.read.parquet(s"$stage/keep")

    ctx.op("pipeline.cluster") {
      Dedup.components(Dedup.simhashStarEdges(keep), keep.select("doc_id"))
        .write.mode("overwrite").parquet(s"$stage/clusters")
      () => {
        val label = spark.read.parquet(s"$stage/clusters").select("doc_id", "cluster_id")
          .collect().map(r => r.getLong(0) -> r.get(1)).toMap
        val live = d.nearPairs.filter { case (a, b) => label.contains(a) && label.contains(b) }
        val found = live.count { case (a, b) => label(a) == label(b) }
        val sameCluster = label.values.groupBy(identity).values.map(c => c.size.toLong * (c.size - 1) / 2).sum
        val recall = found.toDouble / live.size
        val precision = if (sameCluster == 0) 0.0 else found.toDouble / sameCluster
        ctx.fact("pipeline.dedup_recall", recall)
        ctx.fact("pipeline.dedup_precision", precision)
        // the star path splits a family whose members verify against no
        // shared hub (Dedup.simhashStarEdges), so recall is reported and
        // bounded loosely; a merged family or a lost document is an error
        label.keySet == keptIds && recall >= 0.1 && precision >= 0.9
      }
    }
    val clusters = spark.read.parquet(s"$stage/clusters")

    ctx.op("pipeline.reps_pack") {
      val reps = Dedup.clusterRepresentatives(clusters, keep, length(col("text")))
      val canonical = keep.join(reps.where(col("keep")), "doc_id")
      val packed = Packing.packText(canonical.select(col("doc_id"), col("text_scrubbed").as("text")),
          budget = 512, shards = 16)
        .agg(count(lit(1)), sum("n_tokens")).collect().head
      () => {
        val label = clusters.select("doc_id", "cluster_id").collect().map(r => r.getLong(0) -> r.get(1))
        val canon = label.groupBy(_._2).values.map(_.map(_._1).minBy(id => (-d.texts(id).length, id)))
        val tokens = canon.toSeq.map(id => tokenCount(d.texts(id)).toLong).sum
        packed.getLong(1) == tokens && packed.getLong(0) >= tokens / 512
      }
    }

    ctx.op("pipeline.minhash") {
      val pairs = Dedup.minhashCandidates(keep).select("a_id", "b_id").collect()
        .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1)))).toSet
      () => {
        val hits = pairs.count(d.nearPairs)
        ctx.fact("pipeline.candidate_pairs", pairs.size.toDouble)
        ctx.fact("pipeline.true_pair_share", if (pairs.isEmpty) 0.0 else hits.toDouble / pairs.size)
        hits >= 0.5 * d.nearPairs.size
      }
    }
  }

  private def indexCycle(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val idx = s"${ctx.work}/index"
    val corpus = spark.read.parquet(s"${ctx.dir}/embeddings.parquet")
    val tenth = corpus.where(col("vec_id") > baseN)

    if (!new java.io.File(s"$idx/lists").isDirectory) {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idx))
      ctx.op("similarity.write", "mutate") {
        Similarity.ivfPqWrite(corpus.where(col("vec_id") <= baseN), idx)
        () => new java.io.File(s"$idx/lists").isDirectory
      }
    }
    ctx.op("similarity.append", "mutate") {
      Similarity.ivfPqAppend(tenth, idx)
      () => true
    }
    ctx.op("similarity.compact", "mutate") {
      val cells = Similarity.ivfPqCompact(spark, idx, maxFilesPerCell = 1)
      () => cells > 0
    }
    ctx.fact("similarity.index_files", Workload.dataFiles(s"$idx/lists").toDouble)
    ctx.fact("similarity.index_bytes_per_input_byte",
      Workload.dirBytes(s"$idx/lists").toDouble / Workload.dirBytes(s"${ctx.dir}/embeddings.parquet"))
    ctx.op("similarity.batch_query") {
      val got = topK(Similarity.ivfPqQuery(spark, idx, corpus,
        spark.read.parquet(s"${ctx.dir}/queries.parquet"), k = 5))
      () => {
        val recall = v.queryIds.map(q => got.getOrElse(q, Set.empty).count(truth(q))).sum /
          (5.0 * v.queryIds.length)
        ctx.fact("similarity.recall_at_5", recall)
        recall >= MinRecall
      }
    }
    ctx.op("similarity.delete", "mutate") {
      val removed = Similarity.ivfPqDelete(tenth.select("vec_id"), idx)
      () => removed == v.ids.length - baseN
    }
  }
}
