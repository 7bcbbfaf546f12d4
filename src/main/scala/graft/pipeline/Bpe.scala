package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BPE (byte-pair-encoding) tokenizer TRAINING and encoding over a
  * document corpus — the classic subword-vocabulary learner (Sennrich et
  * al. 2016) as a Spark-first iterative pipeline.
  *
  * Algorithm (exact, greedy): start from the per-WORD character
  * sequences, then for `numMerges` rounds pick the adjacent symbol pair
  * with the highest corpus frequency (weighted by word count; ties break
  * lexicographically so the learned table is deterministic) and merge
  * every left-to-right occurrence into one symbol.
  *
  * Scale shape — the reason this trains on word COUNTS, not raw text:
  * the working state is the DISTINCT-word table (Heaps-law bounded —
  * millions of rows for a 100 TB corpus, not trillions), produced by one
  * map-side-partial corpus aggregation. Each round is then one
  * vocabulary-sized job: pair explode → partial-aggregated groupBy →
  * TakeOrdered(1) (never a global sort), with only the single winning
  * pair returning to the driver — O(numMerges) driver traffic total.
  * The symbol-array column is rewritten per round and localCheckpointed:
  * the checkpoint materializes the vocabulary-sized state and cuts the
  * growing lineage, so round k's plan does not replay rounds 1..k−1.
  * Per-round pair counts are exact by default (the aggregation is
  * algebraic); `pairCapacity` swaps in the weighted Misra–Gries
  * aggregate (functions.MisraGriesWeighted) for capacity-bounded pair
  * partials when the pair space itself is the memory hazard — identical
  * merges in the sketch's exact regime, parity-tested.
  *
  * No reference analog (the reference is a TA library): brief-driven,
  * built on the tokens/vocabulary bricks of [[Vocab]]/[[Dedup]].
  */
object Bpe {

  /** Trained model: `merges` = (round, a, b, n) — the ordered merge
    * table, the artifact a tokenizer ships; `wordPieces` = (word, syms)
    * — every corpus word's final subword sequence, i.e. the merge table
    * pre-applied to the training vocabulary. */
  final case class Model(merges: DataFrame, wordPieces: DataFrame)

  /** Corpus word counts under the shared [[Dedup.tokens]] normalization. */
  def wordCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(Dedup.tokens(col(textCol))).as("word"))
      .where(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Adjacent symbol pairs of one array: zip with its own tail. */
  private def adjacentPairs(s: Column): Column =
    zip_with(slice(s, lit(1), size(s) - 1), slice(s, lit(2), size(s) - 1),
      (x, y) => struct(x.as("a"), y.as("b")))

  /** Greedy left-to-right merge of adjacent (a, b) into the single
    * symbol a+b: "aaa" under (a,a) becomes ["aa","a"], never
    * ["aa","aa"] — exactly the non-overlapping replace the reference
    * BPE formulation performs. Native single-pass expression (r19,
    * guide §4): the composed fold below rebuilds the accumulator array
    * per element — O(len²) allocation per word per round, interpreted
    * outside codegen. Parity-tested against the composed fold kept in the
    * test suite (`graft.ParityRefs.mergePairComposed`). */
  private def mergePair(syms: Column, a: String, b: String): Column =
    graft.functions.BpeMergePair.bpeMergePair(syms, a, b)

  /** Learn `numMerges` merges from the corpus. Stops early if the
    * vocabulary runs out of adjacent pairs (every word collapsed to one
    * symbol). The returned merge table is driver-built — it is the
    * O(numMerges) model artifact, same adjudication as the IVF centroid
    * and vocab-id literals.
    *
    * `pairCapacity`: per-round pair counting. `None` (default) = exact
    * groupBy-sum — reducer state grows with the round's DISTINCT-PAIR
    * count, which is the loop's only unbounded aggregation state (the
    * pair space can approach vocab² as merges build longer symbols).
    * `Some(c)` routes each round through the weighted Misra–Gries
    * aggregate instead: every partial is capped at c entries whatever
    * the pair space does, and the argmax carries MG's one-sided
    * W/(c+1) bound — with c ≥ the round's distinct pairs the counts
    * are exact and the learned table is IDENTICAL to the exact path
    * (parity-tested), which is also what makes the sketched trainer
    * hash-gateable.
    *
    * `scratchDir`: how the per-round word state is materialized. `None`
    * (default) = `localCheckpoint` — fastest, but executor-resident
    * blocks with CUT lineage, so an executor loss mid-training fails the
    * job (rerun from scratch). `Some(dir)` stages each round to parquet
    * under `dir` instead — fault-tolerant and resumable, the same
    * scratch-staging trade [[graft.ta.SeriesOps.overSeriesChunked]]
    * makes; the caller owns the directory's lifecycle. Identical
    * results either way (parity-tested). */
  def train(docs: DataFrame, numMerges: Int, textCol: String = "text",
            pairCapacity: Option[Int] = None,
            scratchDir: Option[String] = None): Model = {
    require(numMerges > 0, "numMerges must be positive")
    val spark = docs.sparkSession
    // LAZY local checkpoint (r19): each round's state materializes as a
    // side effect of the round's own pair-count action instead of a
    // dedicated count() job — one Spark job per merge round, not two.
    // Identical state either way (parity-tested); the scratchDir path
    // keeps its eager parquet staging (that IS its fault-tolerance).
    def stage(df: DataFrame, round: Int): DataFrame = scratchDir match {
      case None => df.localCheckpoint(eager = false)
      case Some(dir) =>
        val p = s"$dir/bpe_round_$round"
        df.write.mode("overwrite").parquet(p)
        spark.read.parquet(p)
    }
    // free a SUPERSEDED round's checkpoint blocks (Scratch.freeCheckpoint,
    // as in Dedup.components): round r's state, once round r+1's state is
    // materialized, is never scanned again — without this, every train
    // call leaks numMerges vocabulary-sized block sets for the JVM
    // lifetime of the memoized model
    def freeStage(df: DataFrame): Unit =
      if (scratchDir.isEmpty) graft.Scratch.freeCheckpoint(df)
    var st = stage(wordCounts(docs, textCol)
      .select(col("word"), col("cnt"), split(col("word"), "").as("syms")), 0)
    // the state materialized two actions ago — dead once the action
    // after it has run (the action that materialized its SUCCESSOR)
    var superseded: Option[DataFrame] = None
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= numMerges && !exhausted) {
      val pairs = st.select(col("cnt"), explode(adjacentPairs(col("syms"))).as("p"))
      val top = pairCapacity match {
        case None =>
          pairs.groupBy(col("p.a").as("a"), col("p.b").as("b"))
            .agg(sum("cnt").as("n"))
            .orderBy(col("n").desc, col("a").asc, col("b").asc)
            .limit(1).collect()
        case Some(c) =>
          // pair → single key with a NUL separator: NUL sorts below any
          // real character, so MG's (count desc, key asc) output order
          // equals the exact path's (n desc, a asc, b asc) tiebreak
          pairs.select(concat(col("p.a"), lit("\u0000"), col("p.b")).as("k"), col("cnt"))
            .agg(graft.functions.MisraGries.misraGriesWeighted(col("k"), col("cnt"), c).as("mg"))
            .select(explode(col("mg")).as("e")).limit(1)
            .select(split(col("e.token"), "\u0000").getItem(0).as("a"),
              split(col("e.token"), "\u0000").getItem(1).as("b"),
              col("e.n_occurrences").as("n"))
            .collect()
      }
      // this round's action just materialized `st`; whatever st's
      // PREDECESSOR was is now unreachable by any future scan
      superseded.foreach(freeStage)
      superseded = None
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r, a, b, n))
        superseded = Some(st)
        st = stage(st.withColumn("syms", mergePair(col("syms"), a, b)), r)
        r += 1
      }
    }
    Model(
      spark.createDataFrame(merges.toSeq).toDF("round", "a", "b", "n"),
      st.select("word", "syms"))
  }

  /** Encode every document as its subword sequence: tokens in order,
    * each word replaced by its trained pieces. posexplode + broadcast
    * join + ordered re-assembly — the join-based encode shape that keeps
    * working when the vocabulary outgrows a plan literal (the corpus
    * side stays one shuffle on doc_id for the re-assembly; the
    * vocabulary side is broadcast, Heaps-bounded). Words outside
    * `wordPieces` are dropped (cannot occur when encoding the training
    * corpus itself); docs with zero non-empty tokens emit nothing. */
  def encode(docs: DataFrame, wordPieces: DataFrame,
             textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol),
        posexplode(filter(Dedup.tokens(col(textCol)), _ =!= ""))
          .as(Seq("pos", "word")))
      .join(broadcast(wordPieces), "word")
      .groupBy(col(idCol))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("pos"), col("syms")))),
        x => x("syms"))).as("pieces"))
}
