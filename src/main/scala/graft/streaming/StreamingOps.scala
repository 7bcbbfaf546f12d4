package graft.streaming

import graft.bt.Vectorized
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming analogs of the batch engine (SURVEY.md §7.4).
  * The reference is strictly batch; these extend the same semantics to
  * unbounded inputs the idiomatic Spark way:
  *
  *   - stateful recurrences (EMA/RMA) via `flatMapGroupsWithState` with
  *     per-symbol state — the streaming twin of SeriesOps.overSeries
  *   - the vectorized backtester as a stateful stream, reusing the SAME
  *     `Vectorized.step` bar arithmetic as the batch fold
  *   - watermarked event-time window aggregation over the raw event stream
  *
  * Ordering caveat (documented contract): rows are processed in `ord`
  * order WITHIN each micro-batch (sorted per group per batch); late
  * cross-batch arrivals are applied in arrival order, as is standard for
  * stateful streaming recurrences.
  */
object StreamingOps {

  final case class BarIn(symbol: String, ord: Long, close: Double)
  final case class EmaState(count: Long, sum: Double, ema: Double)
  final case class EmaOut(symbol: String, ord: Long, ema: Option[Double])

  /** Streaming SMA-seeded EMA (α = 2/(n+1)), per symbol — identical
    * recurrence to Kernels.ema. Output mode: append/update per batch. */
  def emaStream(bars: DataFrame, n: Int): DataFrame = {
    val alpha = 2.0 / (n + 1)
    implicit val stEnc = Encoders.product[EmaState]
    implicit val outEnc = Encoders.product[EmaOut]
    bars.select(col("symbol").cast("string"), col("ord").cast("long"),
        col("close").cast("double")).as[BarIn](Encoders.product[BarIn])
      .groupByKey(_.symbol)(Encoders.STRING)
      .flatMapGroupsWithState[EmaState, EmaOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (sym: String, rows: Iterator[BarIn], state: GroupState[EmaState]) =>
          var st = state.getOption.getOrElse(EmaState(0L, 0.0, Double.NaN))
          val out = rows.toSeq.sortBy(_.ord).map { b =>
            if (st.count < n - 1) {
              st = EmaState(st.count + 1, st.sum + b.close, st.ema)
              EmaOut(sym, b.ord, None)
            } else if (st.count == n - 1) {
              val seeded = (st.sum + b.close) / n
              st = EmaState(st.count + 1, 0.0, seeded)
              EmaOut(sym, b.ord, Some(seeded))
            } else {
              val e = alpha * b.close + (1 - alpha) * st.ema
              st = EmaState(st.count + 1, 0.0, e)
              EmaOut(sym, b.ord, Some(e))
            }
          }
          state.update(st)
          out.iterator
      }.toDF()
  }

  final case class SigBarIn(symbol: String, ord: Long, price: Double,
                            buy: Boolean, sell: Boolean)
  final case class BtOut(symbol: String, ord: Long, position: Double,
                         cash: Double, equity: Double)
  final case class BtStreamState(position: Double, cash: Double, entryCost: Double,
                                 trades: Int, wins: Int)

  /** Streaming vectorized backtest: per-symbol portfolio state carried
    * across micro-batches; bar arithmetic is Vectorized.step — batch and
    * stream can never drift. */
  def backtestStream(signals: DataFrame, cfg: Vectorized.Config = Vectorized.Config()): DataFrame = {
    implicit val stEnc = Encoders.product[BtStreamState]
    implicit val outEnc = Encoders.product[BtOut]
    signals.select(col("symbol").cast("string"), col("ord").cast("long"),
        col("price").cast("double"), col("buy_sig").cast("boolean").as("buy"),
        col("sell_sig").cast("boolean").as("sell")).as[SigBarIn](Encoders.product[SigBarIn])
      .groupByKey(_.symbol)(Encoders.STRING)
      .flatMapGroupsWithState[BtStreamState, BtOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (sym: String, rows: Iterator[SigBarIn], state: GroupState[BtStreamState]) =>
          val init = state.getOption
            .map(s => Vectorized.State(s.position, s.cash, s.entryCost, s.trades, s.wins))
            .getOrElse(Vectorized.initialState(cfg))
          var st = init
          val out = rows.toSeq.sortBy(_.ord).map { b =>
            st = Vectorized.step(st, b.price, b.buy, b.sell, cfg)
            BtOut(sym, b.ord, st.position, st.cash, st.cash + st.position * b.price)
          }
          state.update(BtStreamState(st.position, st.cash, st.entryCost, st.trades, st.wins))
          out.iterator
      }.toDF()
  }

  final case class DocIn(doc_id: Long, text_hash: String)
  final case class DedupOut(doc_id: Long, text_hash: String, is_canonical: Boolean)
  final case class SeenState(canonicalId: Long)

  /** Streaming exact dedup: per content-hash state marks the FIRST
    * arrival canonical (streaming semantics — the batch Dedup.exact
    * canonicalizes min doc_id over the closed corpus; on an unbounded
    * stream first-arrival is the standard choice and each doc is decided
    * the moment it arrives). State per distinct hash is one long; at
    * 100 TB the hash-keyed state shards across executors and a TTL/
    * watermark policy bounds it in production. */
  def exactDedupStream(docs: DataFrame, textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    implicit val stEnc = Encoders.product[SeenState]
    implicit val outEnc = Encoders.product[DedupOut]
    docs.select(col(idCol).cast("long").as("doc_id"),
        sha2(col(textCol), 256).as("text_hash")).as[DocIn](Encoders.product[DocIn])
      .groupByKey(_.text_hash)(Encoders.STRING)
      .flatMapGroupsWithState[SeenState, DedupOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (hash: String, rows: Iterator[DocIn], state: GroupState[SeenState]) =>
          var canonical = state.getOption.map(_.canonicalId).getOrElse(-1L)
          val out = rows.toSeq.sortBy(_.doc_id).map { d =>
            val first = canonical < 0
            if (first) canonical = d.doc_id
            DedupOut(d.doc_id, hash, first)
          }
          state.update(SeenState(canonical))
          out.iterator
      }.toDF()
  }

  final case class ChunkDocIn(chunk: Int, key: Long, doc_id: Long, sig: Long)
  final case class PairOut(a_id: Long, b_id: Long, hamming: Int)
  final case class BucketState(ids: List[Long], sigs: List[Long])

  /** Streaming simhash near-dup pairs: the batch pigeonhole chunk join
    * (Dedup.simhashCandidates) as a stateful stream — each (chunk, key)
    * bucket keeps the docs seen so far and every arrival pairs against
    * them. Exactly-once across buckets by the same smallest-shared-chunk
    * rule as batch (decided from the two signatures, so it is arrival-
    * order independent). Guaranteed recall for maxHamming < numChunks,
    * like batch; bucket state grows with corpus — production bounds it
    * with state TTL. */
  def simhashPairsStream(docs: DataFrame, maxHamming: Int = 7, numChunks: Int = 8,
                         textCol: String = "text", idCol: String = "doc_id",
                         portable: Boolean = false): DataFrame = {
    require(64 % numChunks == 0 && maxHamming < numChunks,
      s"pigeonhole recall guarantee needs maxHamming < numChunks ($maxHamming !< $numChunks)")
    val bits = 64 / numChunks
    val mask = (1L << bits) - 1
    implicit val stEnc = Encoders.product[BucketState]
    implicit val outEnc = Encoders.product[PairOut]
    @inline def chunkKey(sig: Long, c: Int): Long = (sig >>> (c * bits)) & mask
    // same portable/XXH64 signature dispatch as the batch twin
    // (Dedup.simhash), so streaming results stay comparable to the
    // driver-verified batch mode
    val toks = split(trim(lower(col(textCol))), "\\s+")
    val sigExpr = if (portable) graft.functions.TextHashes.simhashPoly64(toks)
                  else graft.functions.TextHashes.simhash64(toks)
    val chunks = docs.where(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        coalesce(sigExpr, lit(0L)).as("sig"))
      .select(col("doc_id"), col("sig"),
        explode(array((0 until numChunks).map(c =>
          struct(lit(c).as("chunk"),
            shiftright(col("sig"), c * bits).bitwiseAND(mask).as("key"))): _*)).as("ck"))
      .select(col("ck.chunk").as("chunk"), col("ck.key").as("key"),
        col("doc_id"), col("sig"))
    chunks.as[ChunkDocIn](Encoders.product[ChunkDocIn])
      .groupByKey(r => (r.chunk, r.key))(Encoders.product[(Int, Long)])
      .flatMapGroupsWithState[BucketState, PairOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (ck: (Int, Long), rows: Iterator[ChunkDocIn], state: GroupState[BucketState]) =>
          val chunk = ck._1
          var st = state.getOption.getOrElse(BucketState(Nil, Nil))
          val out = scala.collection.mutable.ArrayBuffer.empty[PairOut]
          // first arrival of a doc_id wins (same contract as the streaming
          // exact-dedup): a re-ingested id would otherwise be appended
          // alongside its first version and re-emit every pair in the bucket
          rows.toSeq.sortBy(_.doc_id).foreach { d =>
            if (!st.ids.contains(d.doc_id)) {
              st.ids.zip(st.sigs).foreach { case (oid, osig) =>
                val ham = java.lang.Long.bitCount(d.sig ^ osig)
                // smallest-shared-chunk rule == batch's exactly-once guard
                val firstShared = (0 until numChunks)
                  .find(c => chunkKey(d.sig, c) == chunkKey(osig, c)).get
                if (ham <= maxHamming && firstShared == chunk)
                  out += PairOut(math.min(oid, d.doc_id), math.max(oid, d.doc_id), ham)
              }
              st = BucketState(d.doc_id :: st.ids, d.sig :: st.sigs)
            }
          }
          state.update(st)
          out.iterator
      }.toDF()
  }

  final case class BandDocIn(band: Int, bucket: Long, doc_id: Long, sig: Seq[Long])
  final case class MinhashPairOut(a_id: Long, b_id: Long, est_jaccard: Double)
  final case class BandState(ids: List[Long], sigs: List[Seq[Long]])

  /** Streaming MinHash-LSH near-dup pairing: the batch (band, bucket)
    * equi-join (Dedup.minhashCandidates) as a stateful stream — each
    * bucket keeps the docs seen so far and every arrival pairs against
    * them, emitting the signature-agreement Jaccard estimate. Exactly-once
    * across bands by the smallest-shared-band rule (decided from the two
    * signatures alone, so it is arrival-order independent — the same
    * trick as the simhash chunk stream). PORTABLE hash mode only: the
    * state handler must recompute band buckets from stored signatures in
    * plain Scala, which the mod-prime fold allows and xxhash64-of-array
    * (a Catalyst-internal-representation hash) does not. Bucket state
    * grows with corpus; production bounds it with state TTL. */
  def minhashPairsStream(docs: DataFrame, numPerms: Int = 32, bands: Int = 16,
                         shingleK: Int = 3, textCol: String = "text",
                         idCol: String = "doc_id"): DataFrame = {
    val rows = numPerms / bands
    require(rows * bands == numPerms, "bands must divide numPerms")
    val P = graft.functions.TextHashes.PolyP
    implicit val stEnc = Encoders.product[BandState]
    implicit val outEnc = Encoders.product[MinhashPairOut]
    @inline def bandBucket(sig: Seq[Long], b: Int): Long = {
      var h = 0L; var r = 0
      while (r < rows) { h = (h * 1000003L + sig(b * rows + r)) % P; r += 1 }
      h
    }
    val sigExpr = graft.functions.TextHashes.minhashShinglePoly(
      split(trim(lower(col(textCol))), "\\s+"), shingleK, numPerms)
    def bucketExpr(sl: org.apache.spark.sql.Column) =
      aggregate(sl, lit(0L), (h, v) => (h * lit(1000003L) + v) % lit(P))
    val banded = docs.where(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"), sigExpr.as("sig"))
      .select(col("doc_id"), col("sig"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            bucketExpr(slice(col("sig"), b * rows + 1, rows)).as("bucket"))): _*)).as("bb"))
      .select(col("bb.band").as("band"), col("bb.bucket").as("bucket"),
        col("doc_id"), col("sig"))
    banded.as[BandDocIn](Encoders.product[BandDocIn])
      .groupByKey(r => (r.band, r.bucket))(Encoders.product[(Int, Long)])
      .flatMapGroupsWithState[BandState, MinhashPairOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (bb: (Int, Long), rws: Iterator[BandDocIn], state: GroupState[BandState]) =>
          val band = bb._1
          var st = state.getOption.getOrElse(BandState(Nil, Nil))
          val out = scala.collection.mutable.ArrayBuffer.empty[MinhashPairOut]
          // first arrival of a doc_id wins (see simhashPairsStream note)
          rws.toSeq.sortBy(_.doc_id).foreach { d =>
            if (!st.ids.contains(d.doc_id)) {
              st.ids.zip(st.sigs).foreach { case (oid, osig) =>
                val firstShared = (0 until bands)
                  .find(b => bandBucket(d.sig, b) == bandBucket(osig, b)).get
                if (firstShared == band) {
                  val agree = d.sig.iterator.zip(osig.iterator).count { case (x, y) => x == y }
                  out += MinhashPairOut(math.min(oid, d.doc_id), math.max(oid, d.doc_id),
                    agree.toDouble / numPerms)
                }
              }
              st = BandState(d.doc_id :: st.ids, d.sig :: st.sigs)
            }
          }
          state.update(st)
          out.iterator
      }.toDF()
  }

  final case class PackDocIn(doc_id: Long, text: String)
  final case class PackState(offset: Long)
  final case class PackOut(doc_id: Long, shard: Int, n_tokens: Option[Long],
                           seq_in_shard: Long, offset_in_seq: Long)

  /** Streaming sequence packing, the twin of Packing.packSequences: the
    * per-shard state is ONE long (the running token offset), so an
    * unbounded corpus streams into fixed-budget training sequences with
    * O(shards) total state. Shard assignment is the same poly hash as
    * batch (Packing.shardOfId); within a micro-batch docs pack in id
    * order, across batches in arrival order — the usual stateful-twin
    * ordering contract, equal to batch whenever ingestion is id-ordered
    * (tested). Token counting matches the batch split exactly (trim +
    * \s+, empty text counts 1). */
  def packStream(docs: DataFrame, budget: Int, shards: Int): DataFrame = {
    require(budget > 0 && shards > 0, "budget and shards must be positive")
    implicit val stEnc = Encoders.product[PackState]
    implicit val outEnc = Encoders.product[PackOut]
    docs.select(col("doc_id").cast("long"), col("text").cast("string"))
      .as[PackDocIn](Encoders.product[PackDocIn])
      .groupByKey(d => graft.pipeline.Packing.shardOfId(d.doc_id, shards))(Encoders.scalaInt)
      .flatMapGroupsWithState[PackState, PackOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (shard: Int, rows: Iterator[PackDocIn], state: GroupState[PackState]) =>
          var off = state.getOption.map(_.offset).getOrElse(0L)
          // count tokens BEFORE buffering for the sort: the group buffer
          // then holds (id, count) pairs, not the document bodies — the
          // micro-batch's text footprint stays one doc at a time.
          // null text → null n_tokens and zero offset advance, matching
          // the batch twin (size(split(null)) is null; the window sum
          // skips it) — the documents schema allows null text
          val counted = rows.map(d =>
            (d.doc_id, Option(d.text).map(_.trim.split("\\s+").length.toLong)))
            .toSeq.sortBy(_._1)
          val out = counted.map { case (id, n) =>
            val o = PackOut(id, shard, n, off / budget, off % budget)
            off += n.getOrElse(0L)
            o
          }
          state.update(PackState(off))
          out.iterator
      }.toDF()
  }

  final case class SessEvIn(user_id: Long, ts: Long, event_id: Long)
  final case class SessState(lastTs: Long, sessionId: Long)
  final case class SessOut(user_id: Long, event_id: Long, ts: Long, session_id: Long)

  /** Streaming gap sessionization, the twin of etl.Sessions.sessionize:
    * per-user state is just (last event time, current session number) —
    * an event later than `gapNanos` after the last one opens a new
    * session, numbered per user exactly like batch. Same ordering
    * contract as the other stateful twins: (ts, event_id) within each
    * micro-batch, arrival order across batches. In production the state
    * (16 bytes/user) is bounded by a state-TTL policy; sessions
    * themselves need no watermark because the assignment is a pure
    * left-to-right fold. */
  def sessionizeStream(events: DataFrame, gapNanos: Long): DataFrame = {
    implicit val stEnc = Encoders.product[SessState]
    implicit val outEnc = Encoders.product[SessOut]
    events.select(col("user_id").cast("long"), col("ts").cast("long"),
        col("event_id").cast("long")).as[SessEvIn](Encoders.product[SessEvIn])
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[SessState, SessOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[SessEvIn], state: GroupState[SessState]) =>
          var st = state.getOption.getOrElse(SessState(Long.MinValue, 0L))
          val out = rows.toSeq.sortBy(e => (e.ts, e.event_id)).map { e =>
            val opens = st.sessionId == 0L || e.ts - st.lastTs > gapNanos
            val sid = if (opens) st.sessionId + 1 else st.sessionId
            st = SessState(e.ts, sid)
            SessOut(uid, e.event_id, e.ts, sid)
          }
          state.update(st)
          out.iterator
      }.toDF()
  }

  /** Streaming train/test decontamination, the twin of
    * Dedup.decontaminate: flag every arriving corpus doc that shares a
    * k-gram fingerprint with the (STATIC) benchmark set. The benchmark is
    * an eval suite, not a corpus — its distinct fingerprint set is
    * collected once at query build (the same small set the batch path
    * rides on a broadcast join) and shipped to executors as one broadcast
    * variable; each micro-batch then flags docs with a stateless per-row
    * hash-set probe. No shuffle, no state store, no watermark — the
    * cheapest possible streaming shape, and the per-doc semantics are
    * IDENTICAL to batch (same shingleFps composition, so the same mod-P
    * collision caveat, erring on the drop side).
    *
    * The membership probe is a Scala UDF rather than a join: a streaming
    * `explode` + semi-join + per-doc distinct would need an aggregation
    * state store per micro-batch, while a broadcast set lookup is O(1)
    * per shingle with zero state — on a stream, the UDF IS the scalable
    * shape. Returns (idCol, contaminated) per arriving doc. */
  def decontaminateStream(corpus: DataFrame, benchmark: DataFrame,
                          textCol: String = "text", idCol: String = "doc_id",
                          shingleK: Int = 5): DataFrame = {
    import graft.functions.TextHashes
    def docFps(c: org.apache.spark.sql.Column) =
      array_distinct(TextHashes.shingleFps(graft.pipeline.Dedup.tokens(c), shingleK))
    val fps = benchmark.select(explode(docFps(col(textCol))).as("fp"))
      .distinct().collect().map(_.getLong(0)).toSet
    val bc = corpus.sparkSession.sparkContext.broadcast(fps)
    val hit = udf { (arr: Seq[Long]) => arr != null && arr.exists(bc.value.contains) }
    corpus.select(col(idCol), hit(docFps(col(textCol))).as("contaminated"))
  }

  /** Streaming Bloom decontamination: probe each arriving doc against a
    * bitmap built ONCE by the batch [[graft.pipeline.Dedup.bloomBitmap]]
    * pass over the reference set. Unlike [[decontaminateStream]]'s exact
    * broadcast-set UDF, the probe is pure Columns over the bitmap
    * literal — stateless, shuffle-free, codegen'd — and the bitmap stays
    * mBits/8 bytes however large the reference set is, which is exactly
    * the property an unbounded stream against a giant reference needs.
    * Per-doc semantics identical to the batch
    * [[graft.pipeline.Dedup.decontaminateBloom]] given the same bitmap. */
  def decontaminateBloomStream(corpus: DataFrame, sketch: graft.pipeline.Dedup.BloomSketch,
                               textCol: String = "text", idCol: String = "doc_id",
                               shingleK: Int = 5): DataFrame =
    corpus.select(col(idCol),
      graft.pipeline.Dedup.bloomProbe(col(textCol), sketch, shingleK).as("contaminated"))

  /** Streaming cross-corpus dedup, the twin of Dedup.crossCorpusNearDup:
    * flag each ARRIVING doc that near-duplicates any doc of the (STATIC)
    * reference corpus — the incremental-crawl step ("dedup the new batch
    * against the world") as a stream, which is its most natural shape.
    *
    * Build time runs two batch passes over the reference: its LSH bucket
    * table (band,bucket → member ids) and its distinct shingle sets, both
    * collected and shipped as broadcast variables — the exact-mode bound
    * is the reference size, same posture as decontaminateStream's fp set
    * (past executor memory, [[crossCorpusNearDupStreamIndexed]] keeps
    * exactness by probing the persisted index in place, and
    * [[crossCorpusContainmentStream]] trades it for a fixed bitmap).
    * Each micro-batch is then stateless and shuffle-free: the arriving
    * doc's signature and band buckets are computed by the SAME native
    * expressions as batch (Dedup.bandBucketsExpr — one definition, no
    * drift), candidates come from an O(bands) broadcast-map lookup, and
    * the exact n-gram jaccard verify runs per candidate in the same UDF
    * — so no join, no state store, no watermark, and per-doc results
    * IDENTICAL to the batch rollup: (idCol, near_dup, max_jaccard), with
    * (false, NULL) for docs that collide with no bucket. Reference ids
    * must be BIGINT (the broadcast maps key on Long); the batch twin
    * stays type-generic. */
  def crossCorpusNearDupStream(corpus: DataFrame, reference: DataFrame,
                               jaccardThr: Double = 0.5,
                               textCol: String = "text", idCol: String = "doc_id",
                               numPerms: Int = 32, bands: Int = 16,
                               shingleK: Int = 3): DataFrame = {
    import graft.pipeline.Dedup
    val refBuckets: Map[(Int, Long), Array[Long]] =
      Dedup.lshBuckets(
          Dedup.minhashSignatures(reference, textCol, idCol, numPerms, shingleK,
            portable = true), idCol, numPerms, bands, portable = true)
        .collect()
        .groupBy(r => (r.getInt(1), r.getLong(2)))
        .map { case (k, rs) => k -> rs.map(_.getLong(0)) }
    val refShingles: Map[Long, Set[String]] =
      reference.select(col(idCol),
          array_distinct(Dedup.shingles(col(textCol), shingleK)).as("sh"))
        .collect()
        .map(r => r.getLong(0) ->
          // a null-text reference doc has a null shingle array; it also
          // emits no buckets, so it can never surface as a candidate —
          // any value works, and empty avoids the NPE
          (if (r.isNullAt(1)) Set.empty[String] else r.getSeq[String](1).toSet))
        .toMap
    val sc = corpus.sparkSession.sparkContext
    val bcBuckets = sc.broadcast(refBuckets)
    val bcShingles = sc.broadcast(refShingles)
    // the bucket array is ordered by band (bandBucketsExpr emits bands
    // 0..n−1 in order), so the element INDEX is the band — a Seq[Long]
    // UDF input where array<struct> would need unsupported Row params
    val verdict = udf { (sh: Seq[String], buckets: Seq[java.lang.Long]) =>
      // null bucket entries (null-text docs) never equi-join in batch —
      // skip them here the same way
      val cands: Set[Long] =
        if (buckets == null) Set.empty
        else buckets.iterator.zipWithIndex.filter(_._1 != null)
          .flatMap { case (bkt, band) =>
            bcBuckets.value.getOrElse((band, bkt.longValue), Array.empty[Long]) }
          .toSet
      if (cands.isEmpty) (false, Option.empty[Double])
      else {
        val a: Set[String] = if (sh == null) Set.empty else sh.toSet
        var best = Double.NegativeInfinity
        cands.foreach { id =>
          val b = bcShingles.value(id)
          val inter = a.count(b.contains).toDouble
          val uni = a.size.toDouble + b.size.toDouble - inter
          val j = if (uni == 0.0) 0.0 else inter / uni
          if (j > best) best = j
        }
        (best >= jaccardThr, Some(best))
      }
    }
    corpus.select(col(idCol),
        verdict(
          array_distinct(Dedup.shingles(col(textCol), shingleK)),
          transform(Dedup.bandBucketsExpr(
            graft.functions.TextHashes.minhashShinglePoly(
              Dedup.tokens(col(textCol)), shingleK, numPerms),
            numPerms, bands, portable = true), bb => bb.getField("bucket"))).as("__v"))
      .select(col(idCol), col("__v._1").as("near_dup"), col("__v._2").as("max_jaccard"))
  }

  /** Streaming cross-corpus dedup against a PERSISTED reference index
    * ([[graft.pipeline.Dedup.dedupIndexWrite]]) — the stream-static-join
    * twin of [[graft.pipeline.Dedup.crossCorpusNearDupIndexed]] and the
    * EXACT leg [[crossCorpusNearDupStream]] cannot offer past executor
    * memory: nothing reference-proportional is ever collected or
    * broadcast (only the 3-cell meta row loads driver-side). The
    * [[annAdcStreamJoin]] discipline applied to text dedup: the
    * reference's bucketed buckets/shingles tables are probed IN PLACE,
    * so an unbounded reference gets an exact streaming probe — the leg
    * the Bloom containment path only approximates.
    *
    * Plan shape, all stateless until the final rollup: each arriving doc
    * computes its signature + band buckets by the SAME native
    * expressions as batch (Dedup.bandBucketsExpr — one definition, no
    * drift) and its distinct shingle set in one projection;
    * explode_outer keeps candidate-less and null-text docs alive; a
    * stream-static LEFT join against the buckets table nominates
    * reference candidates (band-bucket equi-join — the static side
    * prunes/co-locates on its bucket spec); a second LEFT join against
    * the shingles table fetches candidate shingles; the shared
    * Dedup.jaccardFromShingleCols verifies exactly; and one per-doc
    * aggregate rolls up (near_dup, max_jaccard). Candidate-less docs
    * surface as (false, NULL) exactly like batch — null jaccards fall
    * out of max(). No watermark and no join state at any stream length;
    * aggregate state is one row per arriving doc id — run the sink in
    * UPDATE mode (a doc's candidates arrive within its own micro-batch,
    * so the last update per id is final). Banding parameters come FROM
    * the index's meta table; only the verification threshold is a
    * probe-time knob. Per-doc results are IDENTICAL to
    * crossCorpusNearDupIndexed (parity-tested across micro-batch
    * boundaries). */
  def crossCorpusNearDupStreamIndexed(corpus: DataFrame, tablePrefix: String,
                                      jaccardThr: Double = 0.5,
                                      textCol: String = "text",
                                      idCol: String = "doc_id"): DataFrame = {
    import graft.pipeline.Dedup
    val spark = corpus.sparkSession
    val meta = spark.table(s"${tablePrefix}_meta").head()
    val (numPerms, bands, shingleK) = (meta.getInt(0), meta.getInt(1), meta.getInt(2))
    val qSide = corpus
      .select(col(idCol).as("a_id"),
        array_distinct(Dedup.shingles(col(textCol), shingleK)).as("a_sh"),
        Dedup.bandBucketsExpr(
          graft.functions.TextHashes.minhashShinglePoly(
            Dedup.tokens(col(textCol)), shingleK, numPerms),
          numPerms, bands, portable = true).as("__bb"))
      .select(col("a_id"), col("a_sh"), explode_outer(col("__bb")).as("__b"))
      .select(col("a_id"), col("a_sh"),
        col("__b.band").as("band"), col("__b.bucket").as("bucket"))
    // tombstone mask on the static bucket side — the batch twin's ONE
    // definition (Dedup.tombstoneMaskedBuckets): logically-forgotten
    // reference docs never nominate a candidate; absent OR empty table
    // (post-compaction steady state) skips the anti-join entirely.
    // Static-side-only transform — stream-static join rules untouched.
    // The emptiness check runs once at query START: a dedupIndexDelete
    // landing mid-stream is picked up on restart, the static-side
    // snapshot contract every stream-static join already carries.
    val refBuckets = Dedup.tombstoneMaskedBuckets(spark, tablePrefix)
    val cand = qSide.join(refBuckets, Seq("band", "bucket"), "left")
    val joined = cand.join(
      spark.table(s"${tablePrefix}_shingles").toDF("b_id", "b_sh"),
      Seq("b_id"), "left")
    Dedup.jaccardFromShingleCols(joined)
      .groupBy(col("a_id"))
      .agg(max(col("jaccard") >= jaccardThr).as("__nd"),
        max(col("jaccard")).as("max_jaccard"))
      .select(col("a_id").as(idCol),
        coalesce(col("__nd"), lit(false)).as("near_dup"),
        col("max_jaccard"))
  }

  /** Streaming cross-corpus dedup against a reference too large for the
    * exact broadcast structures: probe each arriving doc's distinct
    * shingle fingerprints against the m-bounded Bloom bitmap built ONCE
    * by the batch [[graft.pipeline.Dedup.bloomBitmap]] pass over the
    * reference — the [[decontaminateBloomStream]] posture. Pure Columns
    * (Dedup.containmentProbe — the one definition shared with the batch
    * crossCorpusContainmentBloom): stateless, shuffle-free, codegen'd,
    * and the sketch stays mBits/8 bytes at ANY reference size. Emits
    * (idCol, containment, near_dup_est). */
  def crossCorpusContainmentStream(corpus: DataFrame,
                                   sketch: graft.pipeline.Dedup.BloomSketch,
                                   containmentThr: Double = 0.5,
                                   textCol: String = "text", idCol: String = "doc_id",
                                   shingleK: Int = 3): DataFrame =
    corpus.select(col(idCol),
        graft.pipeline.Dedup.containmentProbe(col(textCol), sketch, shingleK)
          .as("containment"))
      .withColumn("near_dup_est",
        coalesce(col("containment") >= containmentThr, lit(false)))

  /** Streaming boilerplate scoring: grade each arriving doc against a
    * STATIC corpus-frequent span set (built once by the batch
    * [[graft.pipeline.Dedup.frequentSpans]] pass over the reference
    * corpus — recomputing corpus frequencies per micro-batch is
    * meaningless on a stream). Same broadcast-set-probe shape as
    * [[decontaminateStream]]: stateless, shuffle-free, per-doc semantics
    * identical to the batch [[graft.pipeline.Dedup.spanBoilerplateStats]]
    * given the same frequent set. Returns (idCol, n_spans, n_boiler,
    * boiler_frac) per arriving doc. */
  def boilerplateScoreStream(corpus: DataFrame, frequentFps: Set[Long],
                             textCol: String = "text", idCol: String = "doc_id",
                             shingleK: Int = 3): DataFrame = {
    import graft.functions.TextHashes
    def docFps(c: org.apache.spark.sql.Column) =
      array_distinct(TextHashes.shingleFps(graft.pipeline.Dedup.tokens(c), shingleK))
    val bc = corpus.sparkSession.sparkContext.broadcast(frequentFps)
    val nBoiler = udf { (arr: Seq[Long]) =>
      if (arr == null) 0 else arr.count(bc.value.contains) }
    corpus.select(col(idCol), docFps(col(textCol)).as("__fps"))
      .select(col(idCol), size(col("__fps")).as("n_spans"),
        nBoiler(col("__fps")).as("n_boiler"))
      .withColumn("boiler_frac", col("n_boiler").cast("double") / col("n_spans"))
  }

  /** Streaming duplicated-span REMOVAL: rewrite each arriving doc
    * against a STATIC frequent-gram set (built once by the batch
    * [[graft.pipeline.Dedup.frequentSpansAuto]] pass over the reference
    * corpus — recomputing corpus frequencies per micro-batch is
    * meaningless on a stream). Not a re-implementation: the stream runs
    * the SAME pure-projection Columns as the batch
    * [[graft.pipeline.Dedup.removeFrequentSpans]] rewrite leg
    * (`spanRewrite` — native set probe, per-task set hash), so per-doc
    * results are identical by construction; stateless, shuffle-free,
    * join-free per micro-batch at any reference-set size under the
    * inline bound. Returns (idCol, n_tokens, n_removed, cleaned_text)
    * per arriving doc. */
  def removeFrequentSpansStream(corpus: DataFrame, frequentGrams: Seq[String],
                                textCol: String = "text", idCol: String = "doc_id",
                                k: Int = 3,
                                fpShortCircuit: Boolean = false): DataFrame =
    graft.pipeline.Dedup.spanRewrite(corpus, frequentGrams, textCol, idCol, k,
      fpShortCircuit)

  /** Streaming ANN probe over a persisted IVF-PQ index: each arriving
    * query vector picks its `nprobe` nearest coarse cells, builds its
    * ADC lookup table in-row, scans ONLY those cells' codes from the
    * broadcast [[graft.pipeline.Similarity.IvfPqIndex]], and emits its
    * top-k by asymmetric distance — stateless, shuffle-free, one UDF
    * per row. The index rides the broadcast in its COMPRESSED form
    * (m small ints per vector — the PQ design point: the codes of a
    * 100 TB float corpus are ~2% of it, the representation sized to
    * live in executor memory).
    *
    * Every float fold mirrors the batch plan exactly — centroid cosine
    * in CosineSim's loop order (ties to the lowest cid), LUT entries
    * through the same 6-dp fixed point (Similarity.r6d), num/den summed
    * in subspace order, self-match excluded, (adc desc, id asc) ties —
    * so per-query results are IDENTICAL to the batch
    * [[graft.pipeline.Similarity.ivfPqAdcTopK]] (parity-tested). The
    * exact re-rank is a downstream batch stage in both worlds: it needs
    * raw corpus vectors, which the compressed index deliberately does
    * not carry. Null or wrong-dimension query vectors emit no rows.
    * Emits (query_id, corpus_id, adc, rank).
    *
    * `residual = true` probes an index written by
    * [[graft.pipeline.Similarity.ivfPqResWrite]]: the UDF adds the same
    * per-cell corrections as the batch residual probe (dot(q, cent)
    * numerator constant; ‖cent‖² + 2·c·cw + ‖cw‖² denominator table) —
    * parity twin [[graft.pipeline.Similarity.ivfPqResAdcTopK]].
    *
    * Lifecycle: each CALL broadcasts the index once (the per-stream
    * cost, reclaimed by the ContextCleaner when the stream stops and
    * the reference drops) — build ONE stream per index and reuse it
    * across micro-batches rather than re-invoking per batch. */
  def annAdcStream(queries: DataFrame, index: graft.pipeline.Similarity.IvfPqIndex,
                   k: Int = graft.pipeline.Similarity.DefaultTopK,
                   nprobe: Int = graft.pipeline.Similarity.DefaultNProbe,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   residual: Boolean = false): DataFrame = {
    import graft.pipeline.Similarity
    // the two encodings share a layout but need different ADC
    // denominators — a wrong `residual` flag would return silently
    // wrong scores, so the index's persisted marker must agree
    index.residual.foreach { wrote =>
      require(wrote == residual,
        s"annAdcStream: the index was written ${if (wrote) "residual" else "raw"}-encoded " +
        s"(ivfPq${if (wrote) "Res" else ""}Write) but residual = $residual was requested")
    }
    val bc = queries.sparkSession.sparkContext.broadcast(index)
    // per-codeword tables computed ONCE on the driver and
    // closure-captured — they depend only on the index, not the query.
    // Raw mode: den = Σ‖cw‖². Residual mode (`residual = true`, an
    // index written by ivfPqResWrite): den = ‖cent‖² + Σ(2·c·cw+‖cw‖²)
    // and num gains the per-cell dot(q, cent) constant — the
    // ivfPqResQuery corrections, same fold order.
    val nsq =
      if (residual) Similarity.pqResCorrTable(index.cents, index.cb)
      else Similarity.pqNsqFlat(index.cb)
    val cellNsq = if (residual) Similarity.pqResCellNsq(index.cents) else Array.empty[Double]
    val topk = udf { (qid: java.lang.Long, qv: Seq[Double]) =>
      val ix = bc.value
      val mEff = ix.cb.length
      val kEff = ix.cb(0).length
      val sub = ix.cb(0)(0).length
      if (qid == null || qv == null || qv.length != mEff * sub)
        Seq.empty[(Long, Double, Int)]
      else {
        val q = qv.toArray
        // nprobe nearest centroids — CosineSim's fold, ties to lowest cid
        val probed = ix.cents.zipWithIndex.map { case (c, i) =>
          val n = math.min(q.length, c.length)
          var dot = 0.0; var na = 0.0; var nb = 0.0; var d = 0
          while (d < n) {
            val x = q(d); val y = c(d)
            dot += x * y; na += x * x; nb += y * y; d += 1
          }
          val sim = if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
          (sim, i + 1)
        }.sortBy(t => (-t._1, t._2)).take(nprobe).map(_._2)
        // the per-query LUT — pqLutDf's loop through the same fixed point
        val lut = new Array[Double](mEff * kEff)
        var j = 0
        while (j < mEff) {
          var k0 = 0
          while (k0 < kEff) {
            val cw = ix.cb(j)(k0)
            var dot = 0.0; var d = 0
            while (d < sub) { dot += q(j * sub + d) * cw(d); d += 1 }
            lut(j * kEff + k0) = Similarity.r6d(dot)
            k0 += 1
          }
          j += 1
        }
        // residual mode: dot(q, cent) per probed cell, through the LUT's
        // fixed point (pqResQcTable's loop)
        val qc: Map[Int, Double] =
          if (!residual) Map.empty
          else probed.map { cid =>
            val c = ix.cents(cid - 1)
            var dot = 0.0; var d = 0
            val n = math.min(q.length, c.length)
            while (d < n) { dot += q(d) * c(d); d += 1 }
            cid -> Similarity.r6d(dot)
          }.toMap
        val hits = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
        probed.foreach { cid =>
          // correction-table base for this cell (residual mode only)
          val tBase = if (residual) (cid - 1) * mEff * kEff else 0
          val num0 = if (residual) qc(cid) else 0.0
          val den0 = if (residual) cellNsq(cid - 1) else 0.0
          ix.lists.getOrElse(cid, Array.empty[(Long, Array[Int])]).foreach {
            case (corpusId, codes) =>
              if (corpusId != qid.longValue) {
                // codes are 1-based (pqTrain convention); the arrays are
                // 0-based flat — the batch element_at is 1-based, which
                // absorbs the same offset. num0/den0 add AFTER the fold,
                // matching the batch `qc + aggregate(...)` order.
                var num = 0.0; var den = 0.0; var jj = 0
                while (jj < mEff) {
                  num += lut(jj * kEff + codes(jj) - 1)
                  den += nsq(tBase + jj * kEff + codes(jj) - 1)
                  jj += 1
                }
                num = num0 + num; den = den0 + den
                val adc =
                  if (if (residual) den <= 0.0 else den == 0.0) 0.0
                  else num / math.sqrt(den)
                hits += ((corpusId, adc))
              }
          }
        }
        hits.sortBy(t => (-t._2, t._1)).take(k).toSeq
          .zipWithIndex.map { case ((id, adc), r) => (id, adc, r + 1) }
      }
    }
    queries
      .select(col(idCol).cast("long").as("query_id"),
        transform(col(vecCol), _.cast("double")).as("__qv"))
      .select(col("query_id"), explode(topk(col("query_id"), col("__qv"))).as("__r"))
      .select(col("query_id"), col("__r._1").as("corpus_id"),
        col("__r._2").as("adc"), col("__r._3").as("rank"))
  }

  /** Streaming ANN ADC probe as a STREAM-STATIC JOIN against the
    * cid-partitioned lists parquet — the index-bigger-than-memory
    * posture [[annAdcStream]] cannot take: nothing corpus-proportional
    * is ever collected or broadcast. Only the centroid table and the
    * codebook load driver-side (k·dim and m·ksub·sub cells — fixed by
    * config, not corpus size); the compressed lists stay where
    * [[graft.pipeline.Similarity.ivfPqWrite]] put them and are probed
    * in place.
    *
    * Plan shape: each arriving query computes its nprobe probed cells +
    * ADC LUT in one per-row pass (closure-captured centroid/codebook
    * arrays — per-query work, the irreducible ANN probe cost), explodes
    * to (query_id, cid, qc, lut), and equi-joins the static lists on
    * cid — a stateless stream-static inner join, so the query needs no
    * watermark and holds no join state at any stream length. The
    * per-query top-k then runs through [[graft.functions.TopKByScore]],
    * a k-cell-bounded native aggregate (window functions are
    * unsupported on streams; collect_list would buffer the whole probed
    * candidate set) — run the sink in UPDATE output mode: each query's
    * candidates arrive within its own micro-batch, so the last update
    * per query_id is its final top-k.
    *
    * ADC math is [[graft.pipeline.Similarity.adcScoreCols]] — the SAME
    * column definitions as the batch probes, both encodings (the
    * persisted mode marker must agree with `residual`, like
    * annAdcStream) — so per-query results are identical to
    * [[graft.pipeline.Similarity.ivfPqAdcTopK]] /
    * [[graft.pipeline.Similarity.ivfPqResAdcTopK]] (parity-tested).
    * Null or wrong-dimension query vectors emit no rows. Emits
    * (query_id, corpus_id, adc, rank). */
  def annAdcStreamJoin(queries: DataFrame, path: String,
                       k: Int = graft.pipeline.Similarity.DefaultTopK,
                       nprobe: Int = graft.pipeline.Similarity.DefaultNProbe,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       residual: Boolean = false): DataFrame = {
    import graft.pipeline.Similarity
    val spark = queries.sparkSession
    Similarity.readIndexMeta(spark, path).foreach { wrote =>
      require(wrote == residual,
        s"annAdcStreamJoin: the index at $path was written " +
        s"${if (wrote) "residual" else "raw"}-encoded " +
        s"(ivfPq${if (wrote) "Res" else ""}Write) but residual = $residual was requested")
    }
    val cents = spark.read.parquet(s"$path/centroids").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).sortBy(_._1).map(_._2)
    val cb = Similarity.readPqCodebook(spark, s"$path/codebook")
    val mEff = cb.length
    val kEff = cb(0).length
    val sub = cb(0)(0).length
    // per-query probe: nprobe nearest centroids (CosineSim's fold, ties
    // to lowest cid), the LUT through pqLutDf's fixed point, and — in
    // residual mode — dot(q, cent) per probed cell (pqResQcTable's loop)
    val probe = udf { (qv: Seq[Double]) =>
      if (qv == null || qv.length != mEff * sub) null
      else {
        val q = qv.toArray
        val probed = cents.zipWithIndex.map { case (c, i) =>
          val n = math.min(q.length, c.length)
          var dot = 0.0; var na = 0.0; var nb = 0.0; var d = 0
          while (d < n) {
            val x = q(d); val y = c(d)
            dot += x * y; na += x * x; nb += y * y; d += 1
          }
          val sim = if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
          (sim, i + 1)
        }.sortBy(t => (-t._1, t._2)).take(nprobe).map(_._2)
        val lut = new Array[Double](mEff * kEff)
        var j = 0
        while (j < mEff) {
          var k0 = 0
          while (k0 < kEff) {
            val cw = cb(j)(k0)
            var dot = 0.0; var d = 0
            while (d < sub) { dot += q(j * sub + d) * cw(d); d += 1 }
            lut(j * kEff + k0) = Similarity.r6d(dot)
            k0 += 1
          }
          j += 1
        }
        val prs = probed.map { cid =>
          if (!residual) (cid, 0.0)
          else {
            val c = cents(cid - 1)
            var dot = 0.0; var d = 0
            val n = math.min(q.length, c.length)
            while (d < n) { dot += q(d) * c(d); d += 1 }
            (cid, Similarity.r6d(dot))
          }
        }
        (prs.toSeq, lut.toSeq)
      }
    }
    val qSide = queries
      .select(col(idCol).cast("long").as("query_id"),
        transform(col(vecCol), _.cast("double")).as("__qv"))
      .withColumn("__p", probe(col("__qv")))
      .where(col("__p").isNotNull)
      .select(col("query_id"), col("__p._2").as("lut"), explode(col("__p._1")).as("__c"))
      .select(col("query_id"), col("lut"),
        col("__c._1").as("cid"), col("__c._2").as("qc"))
    val lists = spark.read.parquet(s"$path/lists")
      .select(col("cid").cast("int"), col("corpus_id"), col("codes"))
    val withQ = qSide.join(lists, Seq("cid"))
      .where(col("corpus_id") =!= col("query_id"))
    val scored = Similarity.adcScoreCols(withQ, cb,
      residCents = if (residual) Some(cents) else None)
    scored.groupBy("query_id")
      .agg(graft.functions.TopKByScore.topK(col("adc"), col("corpus_id"), k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__i", "__t")))
      .select(col("query_id"), col("__t.id").as("corpus_id"),
        col("__t.score").as("adc"), (col("__i") + 1).cast("int").as("rank"))
  }

  /** Watermarked streaming twin of the props_json_stats rollup
    * (EtlQueries): ONE codegen'd from_json parse per arriving event
    * inside the streaming scan — the same schema-on-read shape as batch,
    * no UDF, no per-field re-parse — then a watermarked event-time
    * windowed rollup keyed (event_type, window). The parse itself
    * carries no state; aggregation state is bounded by watermark
    * retention × key cardinality, so the query holds at any stream
    * rate. Malformed JSON parses to null k (counted in n, absent from
    * the k stats), matching the batch semantics. */
  def propsJsonStatsStream(events: DataFrame, windowDur: String = "1 hour",
                           watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .select(col("ts"), col("event_type"),
        from_json(col("props"), lit("k INT")).getField("k").as("k"))
      .groupBy(col("event_type"), window(col("ts"), windowDur))
      .agg(count(lit(1)).as("n"), sum(col("k")).cast("long").as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))

  /** Watermarked event-time windowed aggregation over the raw event
    * stream: per (event_type, window) count/avg — the canonical streaming
    * rollup for the events table. `ts` must be a timestamp column. */
  def windowedStats(events: DataFrame, windowDur: String = "1 hour",
                    slideDur: String = "1 hour", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("event_type"), window(col("ts"), windowDur, slideDur))
      .agg(count(lit(1)).as("n_events"), avg("value").as("avg_value"),
        max("value").as("max_value"))

  /** Streaming z-order ingestion — the streaming twin of
    * [[graft.etl.Layout.zOrderAppend]] + manifestUpdate: every
    * micro-batch curve-orders under the layout's persisted `_zstats`
    * sidecar (loaded per batch from the layout itself — the artifact is
    * self-describing, nothing rides in application state) and appends
    * beside resident files, then the `_manifest` reconciles in
    * Θ(batch files). The continuous-crawl ingestion shape: readers keep
    * full multi-dim skipping over everything already landed, and
    * [[graft.etl.Layout.zOrderMaintain]] compacts on schedule exactly
    * as in the batch lifecycle.
    *
    * Delivery is foreachBatch's at-least-once: a batch retried after a
    * mid-append failure appends twice (the append-only-log contract
    * [[graft.pipeline.Similarity.ivfPqAppend]] documents) — carry a
    * unique key and dedup downstream, or make landing idempotent at the
    * next compaction, per the caller's pipeline contract.
    *
    * `maintainEvery > 0` makes the layout SELF-maintaining: every Nth
    * micro-batch runs [[graft.etl.Layout.zOrderMaintain]] (which
    * commits the manifest with the rewrite) inside the same foreachBatch
    * slot — serialized with the appends by the streaming engine, so
    * compaction never races the sink's OWN landings, and the file count
    * stays bounded without an external scheduler. Two caveats the batch
    * Layout docs carry that apply here verbatim: (a) EXTERNAL readers
    * racing the maintenance commit can see a partial file set — a maintaining
    * sink needs the same reader-exclusion window as any lakehouse
    * OPTIMIZE, so leave `maintainEvery` off (the default) when readers
    * query the layout continuously and schedule maintenance in a quiet
    * window instead; (b) a crash mid-commit leaves an intent that the
    * restarted stream's next append rolls forward (every mutating Layout
    * call recovers first, [[graft.Swap]]), so the layout comes back as
    * the old or the maintained file set and no restart needs an
    * operator. */
  def zOrderSinkStream(rows: DataFrame, path: String, checkpoint: String,
                       maintainEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        val spark = batch.sparkSession
        val (zc, st) = graft.etl.Layout.loadZStats(spark, path)
        graft.etl.Layout.zOrderAppend(batch.toDF(), zc, path, st)
        graft.etl.Layout.manifestUpdate(spark, path, zc)
        if (maintainEvery > 0 && batchId > 0 && batchId % maintainEvery == 0)
          graft.etl.Layout.zOrderMaintain(spark, path, zc, st): Unit
      }
      .start()
}
