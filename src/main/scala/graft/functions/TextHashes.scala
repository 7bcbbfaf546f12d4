package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}

/** Native expressions for the per-document hash signatures of the dedup
  * pipeline. The composed formulation (explode shingles → 32/64 hash
  * aggregates → groupBy) shuffles O(docs·shingles) rows; these compute the
  * whole signature in one pass over the array INSIDE the scan stage —
  * map-side only, no explode, no shuffle. At 100 TB that converts the
  * dedup signature step from a full-corpus shuffle into a projection.
  *
  * All three implement `doGenCode` (same treatment as CosineSim) so the
  * dedup scan stays inside whole-stage codegen — no boxed per-row eval on
  * the hot path. The interpreted `nullSafeEval` twins are kept for
  * non-codegen contexts and are what the unit tests pin.
  */
object TextHashes {

  private val M1 = -7046029254386353131L // 0x9E3779B97F4A7C15 (splitmix64 inc)
  private val M2 = -4658895280553007687L
  private val M3 = -7723592293110705685L

  /** The splitmix64 mix used by HyperplaneSigs' ±1 components — exposed so
    * the DuckDB oracle generators derive the IDENTICAL sign matrix from
    * this very function (queries.PipelineQueries). */
  private[graft] def splitmix(z0: Long): Long = {
    var z = z0 + M1
    z = (z ^ (z >>> 30)) * M2
    z = (z ^ (z >>> 27)) * M3
    z ^ (z >>> 31)
  }

  // ---- engine-portable hash family (mod-prime arithmetic only) ----------
  //
  // XXH64 needs wrapping 64-bit multiplies, which SQL engines without
  // explicit wrap semantics cannot replay — so the xxhash64-based
  // signatures above can only ever be rows-only checked by an external
  // oracle. This family keeps every intermediate below 2^63 (a, f < P ≈
  // 2^30, so a·f + b < 2^60): plain BIGINT arithmetic replays it exactly.
  // It is the verifiability mode; xxhash64 stays the fast default.

  /** The input type of the token/shingle signatures: the loops read
    * UTF8Strings, so any other element type fails analysis. */
  private val Strings = Seq(ArrayType(StringType))

  /** Prime modulus of the portable family (fits products in a signed 64). */
  val PolyP: Long = 1000000007L

  /** Polynomial string fingerprint over Unicode code points:
    * h ← (h·131 + cp) mod P. Matches the SQL replay
    * `list_reduce(list_prepend(0, list_transform(string_split(s,''),
    * c -> ascii(c))), (h,c) -> (h*131+c) % P)`. */
  def polyFingerprint(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h = (h * 131L + cp) % PolyP
      i += java.lang.Character.charCount(cp)
    }
    h
  }

  /** Affine-permutation coefficients a_i ∈ [1, P−1], b_i ∈ [0, P−1],
    * derived from splitmix64 so Scala expression and SQL generator share
    * one definition. Index spaces: minhash perm p uses i = p; simhash bit
    * j uses i = 4096 + j (disjoint streams). */
  def polyA(i: Long): Long = java.lang.Math.floorMod(splitmix(2 * i + 1), PolyP - 1) + 1
  def polyB(i: Long): Long = java.lang.Math.floorMod(splitmix(2 * i + 2), PolyP)

  /** Portable MinHash: for each permutation p, min over shingles of
    * (a_p·fp(s) + b_p) mod P with fp = polyFingerprint. Same shape and
    * scale posture as MinhashSig (one fused pass inside the scan), but
    * every step is SQL-replayable. */
  case class MinhashSigPoly(child: Expression, numPerms: Int)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Strings
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "minhash_sig_poly"
    @transient private lazy val as: Array[Long] = Array.tabulate(numPerms)(p => polyA(p))
    @transient private lazy val bs: Array[Long] = Array.tabulate(numPerms)(p => polyB(p))
    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val mins = Array.fill(numPerms)(Long.MaxValue)
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        val f = polyFingerprint(arr.getUTF8String(i))
        var p = 0
        while (p < numPerms) {
          val h = (as(p) * f + bs(p)) % PolyP
          if (h < mins(p)) mins(p) = h
          p += 1
        }
        i += 1
      }
      new GenericArrayData(mins)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val asRef = ctx.addReferenceObj("as", as, "long[]")
      val bsRef = ctx.addReferenceObj("bs", bs, "long[]")
      nullSafeCodeGen(ctx, ev, arr => {
        val mins = ctx.freshName("mins"); val n = ctx.freshName("n")
        val i = ctx.freshName("i"); val p = ctx.freshName("p")
        val f = ctx.freshName("f"); val h = ctx.freshName("h")
        s"""
           |long[] $mins = new long[$numPerms];
           |java.util.Arrays.fill($mins, Long.MAX_VALUE);
           |int $n = $arr.numElements();
           |for (int $i = 0; $i < $n; $i++) {
           |  long $f = graft.functions.TextHashes.polyFingerprint($arr.getUTF8String($i));
           |  for (int $p = 0; $p < $numPerms; $p++) {
           |    long $h = ($asRef[$p] * $f + $bsRef[$p]) % ${PolyP}L;
           |    if ($h < $mins[$p]) $mins[$p] = $h;
           |  }
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
         """.stripMargin
      })
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Fused shingling + portable MinHash: takes the TOKEN array and builds
    * each k-shingle's fingerprint by modular composition instead of
    * materializing shingle strings — fp("a b") = (fp(a)·131 + 32)·131^|b|
    * + fp(b) (mod P), so each token's characters are hashed ONCE and each
    * shingle costs k combine ops. Exactly equal to MinhashSigPoly over
    * shingles() (pinned by a scalatest and the driver oracle): same
    * short-text fallback (fewer than k tokens ⇒ one shingle of all
    * tokens), same affine permutations. At corpus scale this removes
    * O(shingles·k·chars) re-hashing AND all per-shingle allocations from
    * the scan projection. */
  case class MinhashShinglePoly(child: Expression, shingleK: Int, numPerms: Int)
      extends UnaryExpression with ExpectsInputTypes {
    require(shingleK >= 1, "shingleK must be >= 1")
    override def inputTypes = Strings
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "minhash_shingle_poly"
    @transient private lazy val as: Array[Long] = Array.tabulate(numPerms)(p => polyA(p))
    @transient private lazy val bs: Array[Long] = Array.tabulate(numPerms)(p => polyB(p))

    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      // per-token fingerprint + 131^(codepoint count) mod P — via fpAndPow,
      // the SAME definition the generated code calls, so interpreted and
      // codegen paths cannot desync
      val fps = new Array[Long](n)
      val pows = new Array[Long](n)
      var i = 0
      while (i < n) {
        val fp = fpAndPow(arr.getUTF8String(i))
        fps(i) = fp(0); pows(i) = fp(1)
        i += 1
      }
      val mins = Array.fill(numPerms)(Long.MaxValue)
      @inline def vote(f: Long): Unit = {
        var p = 0
        while (p < numPerms) {
          val h = (as(p) * f + bs(p)) % PolyP
          if (h < mins(p)) mins(p) = h
          p += 1
        }
      }
      @inline def combineRange(start: Int, end: Int): Long = {
        var f = fps(start)
        var j = start + 1
        while (j < end) {
          f = (((f * 131L + 32L) % PolyP) * pows(j) + fps(j)) % PolyP
          j += 1
        }
        f
      }
      // n == 0 ⇒ the one shingle is the empty concat, fp("") = 0 (same as
      // MinhashSigPoly over shingles(), where concat_ws of no words = "")
      if (n == 0) vote(0L)
      else if (n < shingleK) vote(combineRange(0, n))
      else {
        var s = 0
        while (s + shingleK <= n) { vote(combineRange(s, s + shingleK)); s += 1 }
      }
      new GenericArrayData(mins)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val asRef = ctx.addReferenceObj("as", as, "long[]")
      val bsRef = ctx.addReferenceObj("bs", bs, "long[]")
      nullSafeCodeGen(ctx, ev, arr => {
        val n = ctx.freshName("n"); val fps = ctx.freshName("fps")
        val pows = ctx.freshName("pows"); val mins = ctx.freshName("mins")
        val i = ctx.freshName("i"); val s = ctx.freshName("s"); val j = ctx.freshName("j")
        val p = ctx.freshName("p"); val f = ctx.freshName("f"); val h = ctx.freshName("h")
        val lo = ctx.freshName("lo"); val hi = ctx.freshName("hi")
        val fp = ctx.freshName("fp"); val end = ctx.freshName("end")
        s"""
           |int $n = $arr.numElements();
           |long[] $fps = new long[$n];
           |long[] $pows = new long[$n];
           |for (int $i = 0; $i < $n; $i++) {
           |  long[] $fp = graft.functions.TextHashes.fpAndPow($arr.getUTF8String($i));
           |  $fps[$i] = $fp[0]; $pows[$i] = $fp[1];
           |}
           |long[] $mins = new long[$numPerms];
           |java.util.Arrays.fill($mins, Long.MAX_VALUE);
           |int $lo = 0, $hi = ($n < $shingleK) ? 1 : $n - $shingleK + 1;
           |for (int $s = $lo; $s < $hi; $s++) {
           |  int $end = ($n < $shingleK) ? $n : $s + $shingleK;
           |  long $f = ($n == 0) ? 0L : $fps[$s];
           |  for (int $j = $s + 1; $j < $end; $j++) {
           |    $f = ((($f * 131L + 32L) % ${PolyP}L) * $pows[$j] + $fps[$j]) % ${PolyP}L;
           |  }
           |  for (int $p = 0; $p < $numPerms; $p++) {
           |    long $h = ($asRef[$p] * $f + $bsRef[$p]) % ${PolyP}L;
           |    if ($h < $mins[$p]) $mins[$p] = $h;
           |  }
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
         """.stripMargin
      })
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** All k-shingle fingerprints of a token array (same modular composition
    * as MinhashShinglePoly, emitting every shingle's fp instead of folding
    * them into minima) — the candidate-generation primitive for n-gram
    * overlap checks (decontamination). Same short-text fallback: fewer
    * than k tokens ⇒ the one all-tokens shingle. */
  case class ShingleFps(child: Expression, shingleK: Int)
      extends UnaryExpression with ExpectsInputTypes {
    require(shingleK >= 1, "shingleK must be >= 1")
    override def inputTypes = Strings
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "shingle_fps"
    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val fps = new Array[Long](n)
      val pows = new Array[Long](n)
      var i = 0
      while (i < n) {
        val fp = fpAndPow(arr.getUTF8String(i))
        fps(i) = fp(0); pows(i) = fp(1)
        i += 1
      }
      @inline def combineRange(start: Int, end: Int): Long = {
        var f = fps(start)
        var j = start + 1
        while (j < end) {
          f = (((f * 131L + 32L) % PolyP) * pows(j) + fps(j)) % PolyP
          j += 1
        }
        f
      }
      val out: Array[Long] =
        if (n == 0) Array(0L)
        else if (n < shingleK) Array(combineRange(0, n))
        else Array.tabulate(n - shingleK + 1)(s => combineRange(s, s + shingleK))
      new GenericArrayData(out)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, arr => {
        val n = ctx.freshName("n"); val fps = ctx.freshName("fps")
        val pows = ctx.freshName("pows"); val out = ctx.freshName("out")
        val i = ctx.freshName("i"); val s = ctx.freshName("s"); val j = ctx.freshName("j")
        val f = ctx.freshName("f"); val fp = ctx.freshName("fp")
        val end = ctx.freshName("end"); val m = ctx.freshName("m")
        s"""
           |int $n = $arr.numElements();
           |long[] $fps = new long[$n];
           |long[] $pows = new long[$n];
           |for (int $i = 0; $i < $n; $i++) {
           |  long[] $fp = graft.functions.TextHashes.fpAndPow($arr.getUTF8String($i));
           |  $fps[$i] = $fp[0]; $pows[$i] = $fp[1];
           |}
           |int $m = ($n == 0 || $n < $shingleK) ? 1 : $n - $shingleK + 1;
           |long[] $out = new long[$m];
           |for (int $s = 0; $s < $m; $s++) {
           |  int $end = ($n < $shingleK) ? $n : $s + $shingleK;
           |  long $f = ($n == 0) ? 0L : $fps[$s];
           |  for (int $j = $s + 1; $j < $end; $j++) {
           |    $f = ((($f * 131L + 32L) % ${PolyP}L) * $pows[$j] + $fps[$j]) % ${PolyP}L;
           |  }
           |  $out[$s] = $f;
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         """.stripMargin
      })
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** (polyFingerprint(s), 131^codepoints(s) mod P) — the composition pair
    * MinhashShinglePoly's generated code calls per token. */
  def fpAndPow(s: org.apache.spark.unsafe.types.UTF8String): Array[Long] = {
    val str = s.toString
    var h = 0L; var pw = 1L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h = (h * 131L + cp) % PolyP
      pw = (pw * 131L) % PolyP
      i += java.lang.Character.charCount(cp)
    }
    Array(h, pw)
  }

  /** Portable 64-bit SimHash: token "hash" bit j is the parity of
    * (a_{4096+j}·fp(token) + b_{4096+j}) mod P; signature bit j is the
    * sign of the ±1 vote sum — same vote structure as SimHash64. */
  case class SimHashPoly64(child: Expression) extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Strings
    override def dataType: DataType = LongType
    override def prettyName: String = "simhash_poly64"
    @transient private lazy val sa: Array[Long] = Array.tabulate(64)(j => polyA(4096L + j))
    @transient private lazy val sb: Array[Long] = Array.tabulate(64)(j => polyB(4096L + j))
    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val counts = new Array[Int](64)
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        val f = polyFingerprint(arr.getUTF8String(i))
        var j = 0
        while (j < 64) {
          if (((sa(j) * f + sb(j)) % PolyP & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
        i += 1
      }
      var sig = 0L
      var j = 0
      while (j < 64) { if (counts(j) > 0) sig |= (1L << j); j += 1 }
      java.lang.Long.valueOf(sig)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val saRef = ctx.addReferenceObj("sa", sa, "long[]")
      val sbRef = ctx.addReferenceObj("sb", sb, "long[]")
      nullSafeCodeGen(ctx, ev, arr => {
        val counts = ctx.freshName("counts"); val n = ctx.freshName("n")
        val i = ctx.freshName("i"); val j = ctx.freshName("j")
        val f = ctx.freshName("f"); val sig = ctx.freshName("sig")
        s"""
           |int[] $counts = new int[64];
           |int $n = $arr.numElements();
           |for (int $i = 0; $i < $n; $i++) {
           |  long $f = graft.functions.TextHashes.polyFingerprint($arr.getUTF8String($i));
           |  for (int $j = 0; $j < 64; $j++) {
           |    if ((($saRef[$j] * $f + $sbRef[$j]) % ${PolyP}L & 1L) == 1L) $counts[$j]++; else $counts[$j]--;
           |  }
           |}
           |long $sig = 0L;
           |for (int $j = 0; $j < 64; $j++) {
           |  if ($counts[$j] > 0) $sig |= (1L << $j);
           |}
           |${ev.value} = $sig;
         """.stripMargin
      })
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** MinHash signature: for each permutation p, min over shingles of
    * XXH64(shingle bytes, seed=p). Output array<long>[numPerms]. */
  case class MinhashSig(child: Expression, numPerms: Int)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Strings
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "minhash_sig"
    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val mins = Array.fill(numPerms)(Long.MaxValue)
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        val s = arr.getUTF8String(i)
        var p = 0
        while (p < numPerms) {
          val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, p.toLong)
          if (h < mins(p)) mins(p) = h
          p += 1
        }
        i += 1
      }
      new GenericArrayData(mins)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, arr => {
        val mins = ctx.freshName("mins"); val n = ctx.freshName("n")
        val i = ctx.freshName("i"); val p = ctx.freshName("p")
        val s = ctx.freshName("s"); val h = ctx.freshName("h")
        s"""
           |long[] $mins = new long[$numPerms];
           |java.util.Arrays.fill($mins, Long.MAX_VALUE);
           |int $n = $arr.numElements();
           |for (int $i = 0; $i < $n; $i++) {
           |  UTF8String $s = $arr.getUTF8String($i);
           |  for (int $p = 0; $p < $numPerms; $p++) {
           |    long $h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
           |      $s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), (long) $p);
           |    if ($h < $mins[$p]) $mins[$p] = $h;
           |  }
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
         """.stripMargin
      })
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** 64-bit SimHash: sign of the per-bit ±1 sums of token hashes. */
  case class SimHash64(child: Expression) extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Strings
    override def dataType: DataType = LongType
    override def prettyName: String = "simhash64"
    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val counts = new Array[Int](64)
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        val s = arr.getUTF8String(i)
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 0L)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
        i += 1
      }
      var sig = 0L
      var j = 0
      while (j < 64) { if (counts(j) > 0) sig |= (1L << j); j += 1 }
      java.lang.Long.valueOf(sig)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, arr => {
        val counts = ctx.freshName("counts"); val n = ctx.freshName("n")
        val i = ctx.freshName("i"); val j = ctx.freshName("j")
        val s = ctx.freshName("s"); val h = ctx.freshName("h")
        val sig = ctx.freshName("sig")
        s"""
           |int[] $counts = new int[64];
           |int $n = $arr.numElements();
           |for (int $i = 0; $i < $n; $i++) {
           |  UTF8String $s = $arr.getUTF8String($i);
           |  long $h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
           |    $s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), 0L);
           |  for (int $j = 0; $j < 64; $j++) {
           |    if ((($h >>> $j) & 1L) == 1L) $counts[$j]++; else $counts[$j]--;
           |  }
           |}
           |long $sig = 0L;
           |for (int $j = 0; $j < 64; $j++) {
           |  if ($counts[$j] > 0) $sig |= (1L << $j);
           |}
           |${ev.value} = $sig;
         """.stripMargin
      })
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Random-hyperplane LSH signatures for ALL tables in one pass: output
    * array<int>[tables], bit p of table t = sign(Σ_d v[d]·h(t,p,d)) with
    * deterministic ±1 hyperplane components from a splitmix64 of
    * (t, p, d). Replaces planes×tables aggregate-over-array loops. */
  case class HyperplaneSigs(child: Expression, planes: Int, tables: Int)
      extends UnaryExpression with ExpectsInputTypes {
    // the loop reads doubles: an array<float> (the embeddings table's
    // element type) must be cast first, as Similarity's callers do
    override def inputTypes = Seq(ArrayType(DoubleType))
    override def dataType: DataType = ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
    override def prettyName: String = "hyperplane_sigs"
    @inline private def mix(z0: Long): Long = {
      var z = z0 + M1
      z = (z ^ (z >>> 30)) * M2
      z = (z ^ (z >>> 27)) * M3
      z ^ (z >>> 31)
    }
    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val sigs = new Array[Int](tables)
      var t = 0
      while (t < tables) {
        var sig = 0
        var p = 0
        while (p < planes) {
          var dot = 0.0
          var d = 0
          while (d < n) {
            val sign = if ((mix(t.toLong * 1000003L + p.toLong * 7919L + d) & 1L) == 0L) 1.0 else -1.0
            dot += arr.getDouble(d) * sign
            d += 1
          }
          if (dot >= 0) sig |= (1 << p)
          p += 1
        }
        sigs(t) = sig
        t += 1
      }
      new GenericArrayData(sigs)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, arr => {
        val sigs = ctx.freshName("sigs"); val n = ctx.freshName("n")
        val t = ctx.freshName("t"); val p = ctx.freshName("p"); val d = ctx.freshName("d")
        val sig = ctx.freshName("sig"); val dot = ctx.freshName("dot")
        val z = ctx.freshName("z")
        s"""
           |int $n = $arr.numElements();
           |int[] $sigs = new int[$tables];
           |for (int $t = 0; $t < $tables; $t++) {
           |  int $sig = 0;
           |  for (int $p = 0; $p < $planes; $p++) {
           |    double $dot = 0.0;
           |    for (int $d = 0; $d < $n; $d++) {
           |      long $z = (long) $t * 1000003L + (long) $p * 7919L + (long) $d + ${M1}L;
           |      $z = ($z ^ ($z >>> 30)) * ${M2}L;
           |      $z = ($z ^ ($z >>> 27)) * ${M3}L;
           |      $z = $z ^ ($z >>> 31);
           |      $dot += $arr.getDouble($d) * ((($z & 1L) == 0L) ? 1.0 : -1.0);
           |    }
           |    if ($dot >= 0) $sig |= (1 << $p);
           |  }
           |  $sigs[$t] = $sig;
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sigs);
         """.stripMargin
      })
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def minhashSig(shingles: Column, numPerms: Int): Column =
    GraftBridge.column(MinhashSig(GraftBridge.expression(shingles), numPerms))

  def minhashSigPoly(shingles: Column, numPerms: Int): Column =
    GraftBridge.column(MinhashSigPoly(GraftBridge.expression(shingles), numPerms))

  def minhashShinglePoly(tokens: Column, shingleK: Int, numPerms: Int): Column =
    GraftBridge.column(MinhashShinglePoly(GraftBridge.expression(tokens), shingleK, numPerms))

  def shingleFps(tokens: Column, shingleK: Int): Column =
    GraftBridge.column(ShingleFps(GraftBridge.expression(tokens), shingleK))

  def simhashPoly64(tokens: Column): Column =
    GraftBridge.column(SimHashPoly64(GraftBridge.expression(tokens)))

  def hyperplaneSigs(vec: Column, planes: Int, tables: Int): Column =
    GraftBridge.column(HyperplaneSigs(GraftBridge.expression(vec), planes, tables))

  def simhash64(tokens: Column): Column =
    GraftBridge.column(SimHash64(GraftBridge.expression(tokens)))
}
