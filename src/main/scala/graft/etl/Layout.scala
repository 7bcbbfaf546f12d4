package graft.etl

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional storage layout: Z-ORDER clustering for parquet.
  *
  * A single-column sort makes parquet row-group min/max stats selective
  * for THAT column only — a 100 TB events table sorted by time answers
  * time ranges with a sliver of IO but scans everything for a
  * (user, time-range) lookup, because every row group spans every user.
  * Z-ordering interleaves the bits of several columns into one sort key,
  * so rows near each other on EVERY dimension land in the same row
  * groups and the footer stats of all interleaved columns become
  * selective at once (the Morton-curve layout every lakehouse OPTIMIZE
  * implements; Spark itself has no native z-order — this is the
  * pure-Column construction, fully codegen'd, no UDF).
  *
  * Scale shape: one pass to compute per-column stats (skippable — see
  * [[ZStats]]), one range exchange on the z-value, a within-partition
  * sort, and a plain parquet write — the same cost as any global sort of
  * the table. Nothing is collected but the stat cells and, for string
  * dimensions, a bounded dictionary.
  */
object Layout {

  /** Per-column scaling state for [[zValue]]/[[zOrderWrite]]: numeric
    * columns carry (min, max); STRING columns carry a sorted-order
    * dictionary (value → 0-based rank, lexicographic, so prefix-adjacent
    * values land in adjacent cells) and scale over [0, size−1]. Stats
    * from a PREVIOUS snapshot are explicitly fine — out-of-range numerics
    * clamp to the edge cells and unseen strings encode null → cell 0;
    * they cluster, just coarsely — which is what makes the single-scan
    * write ([[zOrderWrite]]'s `stats` argument) safe for derived
    * pipelines whose input is expensive to scan twice. */
  final case class ZStats(mins: Seq[Double], maxs: Seq[Double],
                          dicts: Seq[Option[Map[String, Int]]]) {
    require(mins.length == maxs.length && mins.length == dicts.length,
      "ZStats: mins/maxs/dicts must be parallel")
  }

  /** Compute [[ZStats]] for `zCols` of `df`: one aggregation for every
    * numeric column's min/max, plus one bounded distinct-collect per
    * string column (capped at `maxDict` values — z-order string keys are
    * low-cardinality dimensions like lang/source/type by design; a
    * high-cardinality string belongs in a hash or truncation first).
    * Persist the result alongside a table snapshot to make every later
    * [[zOrderWrite]] single-scan. */
  def zStats(df: DataFrame, zCols: Seq[String], maxDict: Int = 65536): ZStats = {
    val isStr = zCols.map(c =>
      df.schema(c).dataType == org.apache.spark.sql.types.StringType)
    val dicts = zCols.zip(isStr).map {
      case (c, true) =>
        val vals = df.select(col(c)).where(col(c).isNotNull)
          .distinct().orderBy(col(c)).limit(maxDict + 1)
          .collect().map(_.getString(0))
        require(vals.length <= maxDict,
          s"zStats: string column $c exceeds $maxDict distinct values — " +
          "dictionary-encoded z-order is for low-cardinality dimensions; " +
          "hash or truncate the column first")
        Some(vals.zipWithIndex.toMap)
      case _ => None
    }
    val numIdx = zCols.indices.filterNot(isStr)
    val numStats: Map[Int, (Double, Double)] =
      if (numIdx.isEmpty) Map.empty
      else {
        val aggs = numIdx.flatMap(j =>
          Seq(min(col(zCols(j))).cast("double"), max(col(zCols(j))).cast("double")))
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        numIdx.zipWithIndex.map { case (j, i) =>
          j -> (if (row.isNullAt(2 * i)) 0.0 else row.getDouble(2 * i),
                if (row.isNullAt(2 * i + 1)) 0.0 else row.getDouble(2 * i + 1))
        }.toMap
      }
    ZStats(
      zCols.indices.map(j => dicts(j).map(_ => 0.0).getOrElse(numStats(j)._1)),
      zCols.indices.map(j => dicts(j).map(d => math.max(d.size - 1, 1).toDouble)
        .getOrElse(numStats(j)._2)),
      dicts)
  }

  /** The z-value (Morton code) of `cols` as ONE Column: each column is
    * min/max-scaled to a `bits`-bit integer (clamped; nulls → 0) and the
    * bits interleave LSB-first — bit i of column j lands at position
    * i·n + j, so the code orders by the interleaved prefix exactly like
    * the textbook construction. Pure bitwise Columns (shift/and/or), so
    * the whole key codegens into the scan projection.
    *
    * `bits · cols.length` must fit a signed long (≤ 63). The min/max
    * scaling is the caller's contract: stats from a PREVIOUS snapshot
    * are fine (new out-of-range values clamp to the edge cells — they
    * cluster, just coarsely). String dimensions enter through the
    * dictionary front ([[zStats]] / the `dicts` overload below). */
  def zValue(cols: Seq[Column], mins: Seq[Double], maxs: Seq[Double],
             bits: Int): Column = {
    val n = cols.length
    require(n > 0 && bits > 0 && n * bits <= 63,
      s"zValue: need 0 < cols*bits <= 63, got $n cols x $bits bits")
    val cells = (1L << bits).toDouble
    val scaled = cols.zipWithIndex.map { case (c, j) =>
      val lo = mins(j)
      val span = math.max(maxs(j) - lo, java.lang.Double.MIN_VALUE)
      least(greatest(
          floor((coalesce(c.cast("double"), lit(lo)) - lit(lo)) / lit(span) * lit(cells)),
          lit(0.0)),
        lit(cells - 1.0)).cast("long")
    }
    (0 until bits).flatMap { i =>
      scaled.zipWithIndex.map { case (s, j) =>
        shiftleft(shiftright(s, i).bitwiseAND(lit(1L)), i * n + j)
      }
    }.reduce(_ bitwiseOR _)
  }

  /** [[zValue]] over mixed numeric + string dimensions: string columns
    * pass through their [[ZStats]] dictionary (value → lexicographic
    * rank; unseen or null values → null → cell 0) and then scale like
    * any numeric. The map lookup is a literal `element_at` — still a
    * pure codegen'd expression, no UDF. */
  def zValueWith(cols: Seq[Column], stats: ZStats, bits: Int): Column = {
    val encoded = cols.zip(stats.dicts).map {
      case (c, Some(dict)) =>
        if (dict.isEmpty) lit(null).cast("int")
        else element_at(typedLit(dict), c)
      case (c, None) => c
    }
    zValue(encoded, stats.mins, stats.maxs, bits)
  }

  /** Write `df` to `path` z-ordered on `zCols` (numeric AND/OR string —
    * strings dictionary-encode through [[zStats]]): per-column stats in
    * one pass (SKIPPED when the caller supplies `stats`, making the
    * whole write single-scan — the derived-pipeline posture), a range
    * exchange on the z-value (so files tile the curve), a
    * within-partition sort, and the parquet write — the key itself is
    * dropped before writing (the layout IS the artifact; the footer
    * stats of the original columns carry the skipping).
    * `numFiles <= 0` keeps the session's shuffle parallelism. */
  def zOrderWrite(df: DataFrame, zCols: Seq[String], path: String,
                  bits: Int = 16, numFiles: Int = 0,
                  stats: Option[ZStats] = None): Unit =
    zOrderedFrame(df, zCols, bits, numFiles, stats)
      .write.mode("overwrite").parquet(path)

  /** Append an INCREMENT to an existing z-ordered layout — the
    * incremental OPTIMIZE a daily partition needs: the new rows
    * curve-order among themselves under the SNAPSHOT's stats (pass the
    * `ZStats` persisted at layout time — out-of-range values clamp, the
    * documented trade) and land as new files beside the resident ones,
    * which never rewrite. Each file set tiles the curve independently,
    * so footer-stat skipping still prunes within every set; what
    * accumulates is files per curve tile, not lost selectivity —
    * re-cluster with a fresh [[zOrderWrite]] when file counts decay
    * reads (the ivfPqCompact posture).
    *
    * Forget interplay: tombstones mask by ID, so rows of a
    * [[zOrderForget]]-forgotten id appended here stay masked — and the
    * next maintenance fold drops them physically. Re-ingesting a
    * forgotten id is [[zOrderUpsert]]'s contract (it un-forgets the
    * batch ids), not a plain append. */
  def zOrderAppend(df: DataFrame, zCols: Seq[String], path: String,
                   stats: ZStats, bits: Int = 16, numFiles: Int = 0): Unit = {
    graft.Swap.recovered(df.sparkSession, path)
    zOrderedFrame(df, zCols, bits, numFiles, Some(stats))
      .write.mode("append").parquet(path)
  }

  private def zOrderedFrame(df: DataFrame, zCols: Seq[String], bits: Int,
                            numFiles: Int, stats: Option[ZStats]): DataFrame = {
    val st = stats.getOrElse(zStats(df, zCols))
    val z = zValueWith(zCols.map(col), st, bits)
    val keyed = df.withColumn("__zvalue", z)
    val ranged = if (numFiles > 0) keyed.repartitionByRange(numFiles, col("__zvalue"))
                 else keyed.repartitionByRange(col("__zvalue"))
    ranged.sortWithinPartitions("__zvalue").drop("__zvalue")
  }

  import org.apache.spark.sql.SparkSession
  import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
  import graft.Swap

  private val ManifestName = "_manifest"
  private val TombName = "_tombstones"

  private def fsFor(spark: SparkSession, path: String): (FileSystem, HPath) = {
    val p = new HPath(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }


  /** A live DATA file of the layout: skips Spark metadata (`_SUCCESS`),
    * sidecars (`_zstats`, `_manifest`) and any dot-hidden staging or
    * superseded file — the same visibility rule Spark's own file listing
    * applies, so "what this returns" ≡ "what a read of `path` scans". */
  private def dataFiles(fs: FileSystem, root: HPath) =
    fs.listStatus(root).filter(s => s.isFile &&
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))

  /** Persist [[ZStats]] as a `_zstats` parquet sidecar INSIDE the layout
    * (underscore-prefixed, so table reads never see it): one row per
    * z-column — (idx, col, min, max, dict) — making the layout
    * self-describing. [[zOrderAppend]]/[[zOrderMaintain]] callers load
    * the snapshot's stats from here instead of threading them through
    * application state (the index-sidecar posture: the artifact carries
    * what its maintenance needs). */
  def saveZStats(spark: SparkSession, path: String, zCols: Seq[String],
                 stats: ZStats): Unit = {
    require(zCols.length == stats.mins.length,
      "saveZStats: zCols and stats must be parallel")
    import spark.implicits._
    zCols.indices.map(j => (j, zCols(j), stats.mins(j), stats.maxs(j),
        stats.dicts(j).orNull))
      .toDF("idx", "col", "min", "max", "dict")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_zstats")
  }

  /** Read an underscore-named sidecar dir by its PART FILES: passing the
    * dir itself makes Spark's listing filter warn (underscore paths are
    * "hidden"), so resolve the parquet files explicitly — same rows, no
    * reliance on hidden-path reading. */
  private def readSidecar(spark: SparkSession, dir: String): DataFrame = {
    val (fs, root) = fsFor(spark, dir)
    val parts = fs.listStatus(root)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString)
    require(parts.nonEmpty, s"readSidecar: no parquet part files under $dir")
    spark.read.parquet(parts.toIndexedSeq: _*)
  }

  /** Load the `_zstats` sidecar written by [[saveZStats]]: returns the
    * z-columns in layout order plus their [[ZStats]]. */
  def loadZStats(spark: SparkSession, path: String): (Seq[String], ZStats) = {
    val rows = readSidecar(spark, s"$path/_zstats").collect().sortBy(_.getInt(0))
    val zCols = rows.toSeq.map(_.getString(1))
    (zCols, ZStats(
      rows.toSeq.map(_.getDouble(2)),
      rows.toSeq.map(_.getDouble(3)),
      rows.toSeq.map(r => Option(r.getMap[String, Int](4)).map(_.toMap))))
  }

  /** Compact a z-ordered layout's SMALL files — the periodic OPTIMIZE
    * that keeps [[zOrderAppend]] sustainable: every append lands one
    * file set per curve tile, and after enough increments a probe goes
    * file-open-bound (the ivfPqCompact decay on the layout side). Files
    * under `smallFileBytes` are read back (and ONLY them — resident
    * full-size files never rewrite, so the pass is Θ(appended bytes),
    * not Θ(table)), curve-ordered together under the SNAPSHOT's stats,
    * and written as ~`targetFileBytes` files.
    *
    * This pass is ALSO the physical half of [[zOrderForget]]: when a
    * `_tombstones` sidecar is present, the manifest names the files
    * whose [min, max] interval can hold any tombstoned id, those files
    * join the victim set (resident files no tombstone touches still
    * never rewrite), their tombstoned rows drop from the staged rewrite,
    * and the sidecar clears. Folding requires a COMPLETE `_manifest` (live files ⊆
    * manifest) so no file can smuggle a tombstoned row past the rewrite;
    * the pass refuses loudly otherwise.
    *
    * The rewrite, the tombstone clear and the manifest of the new file
    * set land in one [[graft.Swap]] commit: a crash at any step leaves
    * either the old layout or, once the next mutating call rolls the
    * commit forward, the new one. Readers racing the commit can see a
    * partial file set — run maintenance in the same exclusion window as
    * any lakehouse OPTIMIZE.
    *
    * Returns the number of files rewritten (0 = nothing to do: fewer
    * than two small files and no tombstone touches any file). */
  def zOrderMaintain(spark: SparkSession, path: String, zCols: Seq[String],
                     stats: ZStats, bits: Int = 16,
                     smallFileBytes: Long = 64L << 20,
                     targetFileBytes: Long = 128L << 20): Int = {
    require(targetFileBytes >= smallFileBytes,
      s"zOrderMaintain: targetFileBytes ($targetFileBytes) below " +
      s"smallFileBytes ($smallFileBytes) would re-emit files the next pass " +
      "calls small again — the compaction would never converge to a no-op")
    val (fs, root) = Swap.recovered(spark, path)
    val small = dataFiles(fs, root).filter(_.getLen < smallFileBytes)
    // tombstone fold: the manifest names every file whose interval can
    // hold a tombstoned id — they rewrite alongside the small files and
    // their tombstoned rows drop (batch-scale ids by the zOrderForget
    // contract: they ride an isInCollection filter)
    val tomb = loadTombstones(spark, path)
    val (affNames, survivorPred) = tomb match {
      case Some((idCol, ids)) =>
        (affectedFiles(keyedManifest(spark, path, idCol, "zOrderMaintain"), idCol, ids).toSet,
         Some(col(idCol).isNull || !col(idCol).isInCollection(ids)))
      case None => (Set.empty[String], None)
    }
    val victimNames = small.map(_.getPath.getName).toSet ++ affNames
    if (small.length <= 1 && affNames.isEmpty) {
      // every tombstoned id is already physically absent (the complete
      // manifest proves no file interval holds one) — safe to clear
      if (tomb.isDefined) Swap.commit(fs, root, Seq(Swap.Move(TombName, None)))
      return 0
    }
    val victims = dataFiles(fs, root)
      .filter(s => victimNames(s.getPath.getName)).toIndexedSeq
    val numFiles = math.max(1L,
      (victims.map(_.getLen).sum + targetFileBytes - 1) / targetFileBytes).toInt
    val df0 = spark.read.parquet(victims.map(_.getPath.toString): _*)
    val df = survivorPred.map(df0.where).getOrElse(df0)
    swapIn(spark, path, victims,
      zOrderedFrame(df, zCols, bits, numFiles, Some(stats)), tomb.map(_ => Nil))
    victims.length
  }

  /** Replace `victims` with `rewritten` in ONE [[graft.Swap]] commit,
    * shared by [[zOrderMaintain]], [[zOrderDelete]] and [[zOrderUpsert]].
    * The rewrite is staged first (minus an empty part: no manifest row
    * would list it, and later mutations would refuse), and so is the
    * `_manifest` of the post-swap file set when the layout keeps one
    * (rows of surviving files carry over, only new files are scanned).
    * The commit then drops the victims and promotes the new files
    * (per-write UUID names, no collision with residents), the manifest
    * and, when given, `tombstones` as the new `_tombstones` content
    * (empty drops the sidecar). So a crash never leaves data without its
    * manifest, nor a shrunk mask over rows the rewrite has not replaced. */
  private def swapIn(spark: SparkSession, path: String, victims: Seq[FileStatus],
                     rewritten: DataFrame, tombstones: Option[Seq[Any]]): Unit = {
    val (fs, root) = fsFor(spark, path)
    val staged = new HPath(Swap.staging(root), "data")
    rewritten.write.mode("overwrite").parquet(staged.toString)
    val parts = dataFiles(fs, staged).toSeq.filter { p =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(p, fs.getConf))
      try r.getRecordCount > 0 finally r.close()
    }
    val gone = victims.map(_.getPath.getName).toSet
    val manifest = manifestColumns(spark, path).map(cols => stageManifest(spark, path,
      dataFiles(fs, root).filterNot(s => gone(s.getPath.getName)) ++ parts, cols, reuse = true))
    Swap.commit(fs, root,
      victims.map(v => Swap.Move(v.getPath.getName, None)) ++
      parts.map(p => Swap.Move(p.getPath.getName,
        Some(s"${Swap.StagingName}/data/${p.getPath.getName}"))) ++
      tombstones.map(stageTombstones(spark, path, _)) ++ manifest)
  }

  /** Right-to-be-forgotten on the LAYOUT itself: drop `ids` (values of
    * the manifest-tracked column `idCol`) by rewriting ONLY the files
    * whose manifest [min, max] interval can hold any of them — the
    * manifest turns a takedown batch into a Θ(affected files) pass, the
    * same discipline ivfPqDelete's id sidecar buys the ANN index. The
    * affected files' survivors re-curve-order under the snapshot stats
    * and replace them in one [[graft.Swap]] commit, together with the
    * reconciled manifest; untouched files never open.
    *
    * Deletion is PHYSICAL and immediate — the strongest takedown
    * contract, at the cost of rewriting every affected file NOW; on
    * curve-adversarial batches (a per-user takedown over a (user, ts)
    * layout after compaction coarsened tiles) that can be a large
    * fraction of the table. [[zOrderForget]] is the Θ(batch) two-phase
    * alternative: logical tombstones masked at read, folded physically
    * by the next [[zOrderMaintain]]. Returns (rows dropped, files
    * rewritten); (0, 0) when no file can hold any batch id. Batch-sized
    * `ids` by contract (they broadcast into the anti-join and drive a
    * driver-side interval test per file). Requires a COMPLETE manifest
    * (live files ⊆ manifest) — a file landed since the last reconcile
    * could otherwise keep ids physically alive while the call reports
    * success. */
  def zOrderDelete(spark: SparkSession, path: String, zCols: Seq[String],
                   stats: ZStats, idCol: String, ids: Seq[Any],
                   bits: Int = 16): (Long, Int) = {
    require(ids.nonEmpty, "zOrderDelete: give at least one id")
    val affected = affectedStatus(spark, path, idCol, ids, "zOrderDelete")
    if (affected.isEmpty) return (0L, 0)
    // persist between the dropped-count and the survivor rewrite — the
    // affected files would otherwise scan twice (the dedupIndexDelete
    // residency-probe lesson: measured ~2× on the read half)
    val src = spark.read.parquet(affected.map(_.getPath.toString): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dropped = src.where(col(idCol).isInCollection(ids)).count()
      // null-safe survivor predicate: a bare !isin evaluates to NULL for
      // null ids and would silently drop rows the batch never named
      swapIn(spark, path, affected,
        zOrderedFrame(src.where(col(idCol).isNull || !col(idCol).isInCollection(ids)),
          zCols, bits, affected.length, Some(stats)), None)
      (dropped, affected.length)
    } finally src.unpersist()
  }

  /** The live files a keyed mutation ([[zOrderDelete]], [[zOrderUpsert]])
    * rewrites: those whose manifest interval on `idCol` can hold any of
    * `ids`. Rolls an interrupted commit forward first. */
  private def affectedStatus(spark: SparkSession, path: String, idCol: String,
                             ids: Seq[Any], op: String): IndexedSeq[FileStatus] = {
    val (fs, root) = Swap.recovered(spark, path)
    val names = affectedFiles(keyedManifest(spark, path, idCol, op), idCol, ids).toSet
    val affected = dataFiles(fs, root).filter(s => names(s.getPath.getName)).toIndexedSeq
    require(affected.length == names.size,
      s"$op: manifest names ${names.size} affected file(s) but " +
      s"${affected.length} are on disk — run manifestUpdate first")
    affected
  }

  /** The `_manifest` a keyed rewrite names its affected files from: it
    * must exist, be complete and track `idCol`. */
  private def keyedManifest(spark: SparkSession, path: String, idCol: String,
                            op: String): DataFrame = {
    val (fs, root) = fsFor(spark, path)
    require(fs.exists(new HPath(root, ManifestName)),
      s"$op: no _manifest — affected files are named from manifest " +
      "intervals; run manifestRefresh first")
    val manifest = readSidecar(spark, s"$path/$ManifestName")
    requireManifestComplete(fs, root, manifest, op)
    require(manifest.columns.contains(s"min_$idCol"),
      s"$op: manifest does not track id column $idCol")
    manifest
  }

  /** The driver-side interval test shared by [[zOrderDelete]],
    * [[zOrderUpsert]] and the [[zOrderMaintain]] tombstone fold: a
    * manifest row (file) is AFFECTED when any batch id sits inside its
    * [min, max] — the same footer-stat logic as [[prunedFiles]], applied
    * per id and OR-reduced. Collect is bounded by the affected-file
    * count. */
  private def affectedFiles(manifest: DataFrame, idCol: String,
                            ids: Seq[Any]): Seq[String] = {
    val pred = ids.map(v =>
        col(s"min_$idCol") <= lit(v) && col(s"max_$idCol") >= lit(v))
      .reduce(_ || _)
    manifest.where(pred)
      .select("file").collect().map(_.getString(0)).toIndexedSeq.sorted
  }

  /** The completeness guard every manifest-targeted mutation needs: the
    * one-directional check (manifest names exist on disk) cannot see a
    * LIVE file the manifest has never listed — e.g. landed by
    * [[zOrderAppend]] since the last reconcile — and such a file could
    * keep batch ids physically alive while the mutation reports success.
    * Require live ⊆ manifest and fail with the recovery step instead. */
  private def requireManifestComplete(fs: FileSystem, root: HPath,
                                      manifest: DataFrame, op: String): Unit = {
    val listed = manifest.select("file").collect().map(_.getString(0)).toSet
    val unlisted = dataFiles(fs, root).map(_.getPath.getName).filterNot(listed)
    require(unlisted.isEmpty,
      s"$op: ${unlisted.length} live data file(s) missing from _manifest " +
      s"(e.g. ${unlisted.headOption.getOrElse("")}) — the interval test " +
      "cannot name them as affected; run manifestUpdate first")
  }

  /** The columns `_manifest` tracks, from its own schema (the min_<col>
    * fields) — what lets every mutating op keep the manifest current
    * without threading the column list through application state. None
    * when the layout carries no manifest. */
  private def manifestColumns(spark: SparkSession, path: String): Option[Seq[String]] = {
    val (fs, root) = fsFor(spark, path)
    if (!fs.exists(new HPath(root, ManifestName))) None
    else Some(readSidecar(spark, s"$path/$ManifestName").schema.fieldNames
      .filter(_.startsWith("min_")).map(_.stripPrefix("min_")).toIndexedSeq)
  }

  // ---------------------------------------------------------------------
  // Θ(batch) logical forgetting: the `_tombstones` sidecar
  // ---------------------------------------------------------------------

  /** Right-to-be-forgotten in Θ(batch) — the two-phase contract
    * [[graft.pipeline.Dedup.dedupIndexDelete]] gives the dedup index,
    * now for the base layout: the batch ids land in a `_tombstones`
    * parquet sidecar (one column, named after `idCol`, in the layout's
    * native id type — self-describing like `_zstats`), every read
    * through [[readLayout]] / [[readPruned]] masks them with a null-safe
    * anti filter, and the NEXT [[zOrderMaintain]] folds accumulated
    * tombstones into the compaction rewrite it already pays (only
    * manifest-named affected files rewrite; the sidecar clears in the
    * same commit). Nothing table-proportional moves at forget time — on the
    * curve-adversarial per-user takedown shape where [[zOrderDelete]]
    * rewrites ~40% of a compacted layout, this writes one batch-sized
    * file.
    *
    * Returns the resident ROW count among the newly-forgotten ids (rows
    * that disappear from masked reads) — Θ(affected files) through the
    * manifest when one exists and is complete, a pushed-filter id-column
    * scan otherwise. Already-tombstoned ids are skipped (repeat forget
    * is a no-op). Batch-sized `ids` by contract: they ride
    * isInCollection filters and the read-time mask. */
  def zOrderForget(spark: SparkSession, path: String, idCol: String,
                   ids: Seq[Any]): Long = {
    require(ids.nonEmpty, "zOrderForget: give at least one id")
    val (fs, root) = Swap.recovered(spark, path)
    val existing = loadTombstones(spark, path)
    existing.foreach { case (c, _) => require(c == idCol,
      s"zOrderForget: _tombstones is keyed on $c, not $idCol") }
    val already = existing.map(_._2.toSet).getOrElse(Set.empty[Any])
    val fresh = ids.distinct.filterNot(already)
    if (fresh.isEmpty) return 0L
    val src: Option[DataFrame] =
      if (fs.exists(new HPath(s"$path/_manifest"))) {
        val manifest = readSidecar(spark, s"$path/_manifest")
        val listed = manifest.select("file").collect().map(_.getString(0)).toSet
        val complete = dataFiles(fs, root)
          .map(_.getPath.getName).forall(listed)
        if (complete && manifest.columns.contains(s"min_$idCol")) {
          val aff = affectedFiles(manifest, idCol, fresh)
          if (aff.isEmpty) None
          else Some(spark.read.parquet(aff.map(n => s"$path/$n"): _*))
        } else Some(spark.read.parquet(path))
      } else Some(spark.read.parquet(path))
    val resident = src.map(
      _.where(col(idCol).isInCollection(fresh)).count()).getOrElse(0L)
    // append-only sidecar write: a crash mid-append loses at most THIS
    // batch (caller retries), never the resident tombstones
    val dt = spark.read.parquet(path).schema(idCol).dataType
    writeTombstoneRows(spark, tombDir(path), idCol, dt, fresh, append = true)
    resident
  }

  private def tombDir(path: String) = s"$path/$TombName"

  /** The `_tombstones` sidecar's content: (id column name, distinct
    * ids). None when the sidecar is absent or empty. Collect is
    * batch-scale by the [[zOrderForget]] contract. */
  def loadTombstones(spark: SparkSession, path: String): Option[(String, Seq[Any])] = {
    val (fs, root) = fsFor(spark, tombDir(path))
    if (!fs.exists(root)) return None
    val parts = fs.listStatus(root)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString)
    if (parts.isEmpty) return None
    val df = spark.read.parquet(parts.toIndexedSeq: _*)
    val idCol = df.columns.head
    val vals = df.distinct().collect().map(_.get(0)).toIndexedSeq
    if (vals.isEmpty) None else Some((idCol, vals))
  }

  private def writeTombstoneRows(spark: SparkSession, dir: String,
                                 idCol: String,
                                 dt: org.apache.spark.sql.types.DataType,
                                 vals: Seq[Any], append: Boolean): Unit = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(idCol, dt, nullable = false)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        vals.map(org.apache.spark.sql.Row(_)), 1), schema)
    df.write.mode(if (append) "append" else "overwrite").parquet(dir)
  }

  /** The commit move that makes `keep` the `_tombstones` content, staged
    * in the sidecar's own column and type. An empty `keep` drops the
    * sidecar — the post-fold steady state: an absent sidecar means
    * [[maskForgotten]] is a no-op and reads pay nothing (the empty-set
    * lesson from the dedup probes). */
  private def stageTombstones(spark: SparkSession, path: String,
                              keep: Seq[Any]): Swap.Move =
    if (keep.isEmpty) Swap.Move(TombName, None)
    else {
      val (_, root) = fsFor(spark, path)
      val field = spark.read.parquet(tombDir(path)).schema.head
      writeTombstoneRows(spark, new HPath(Swap.staging(root), TombName).toString,
        field.name, field.dataType, keep, append = false)
      Swap.Move(TombName, Some(s"${Swap.StagingName}/$TombName"))
    }

  /** Apply the layout's tombstone mask to `df` (normally a read of the
    * layout itself): forgotten ids drop through a null-safe anti filter —
    * isInCollection for batch-scale sets, a broadcast anti-join past
    * `maxInlineIds` (an anti-join keeps null-id rows, matching the
    * isInCollection null guard). No-op when no sidecar exists, so the
    * steady state after a [[zOrderMaintain]] fold is free. */
  def maskForgotten(spark: SparkSession, path: String, df: DataFrame,
                    maxInlineIds: Int = 10000): DataFrame =
    loadTombstones(spark, path) match {
      case Some((idCol, ids)) if ids.length <= maxInlineIds =>
        df.where(col(idCol).isNull || !col(idCol).isInCollection(ids))
      case Some((idCol, ids)) =>
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("__forget_id",
            df.schema(idCol).dataType, nullable = false)))
        val tdf = spark.createDataFrame(
          spark.sparkContext.parallelize(
            ids.map(org.apache.spark.sql.Row(_)), 1), schema)
        df.join(broadcast(tdf), col(idCol) === col("__forget_id"), "left_anti")
      case None => df
    }

  /** Read the layout with the forget contract applied: the plain parquet
    * scan plus [[maskForgotten]]. THE documented read wrapper for a
    * layout that uses [[zOrderForget]] — a bare `spark.read.parquet`
    * still sees tombstoned rows until the next [[zOrderMaintain]] folds
    * them out. */
  def readLayout(spark: SparkSession, path: String): DataFrame =
    maskForgotten(spark, path, spark.read.parquet(path))

  /** MERGE on the z-layout — the missing lifecycle op between append and
    * delete: for every id present in `batch`, all existing rows of that
    * id are superseded by the batch's rows (the classic keyed upsert
    * when the batch carries one row per id; replace-the-id's-history in
    * general). The manifest names the affected files; their survivors,
    * the updated rows, and the inserted rows curve-order together and
    * replace the affected files in one [[graft.Swap]] commit — untouched
    * files never open, and the whole MERGE is one commit instead of the
    * delete-then-append two-pass.
    *
    * Upserted ids also leave the `_tombstones` sidecar (an id forgotten
    * yesterday and re-ingested today is live again). The shrunk sidecar
    * rides the same commit as the rows that replace the forgotten ones,
    * so a crash never shows a forgotten id's old rows.
    *
    * Returns (resident rows superseded, batch rows written, files
    * rewritten). Batch-sized `batch` by contract (its ids drive the
    * driver-side interval test and isInCollection filters); null ids are
    * refused — MERGE is keyed. Requires a COMPLETE manifest tracking
    * `idCol`. */
  def zOrderUpsert(spark: SparkSession, path: String, zCols: Seq[String],
                   stats: ZStats, idCol: String, batch: DataFrame,
                   bits: Int = 16): (Long, Long, Int) = {
    val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val ids = b.select(col(idCol)).distinct().collect().map(_.get(0)).toIndexedSeq
      require(ids.nonEmpty, "zOrderUpsert: empty batch")
      require(!ids.contains(null), "zOrderUpsert: batch carries null ids — MERGE is keyed")
      val written = b.count()
      val affected = affectedStatus(spark, path, idCol, ids, "zOrderUpsert")
      // un-forget: a tombstoned id the batch re-ingests must be live
      val tombstones = loadTombstones(spark, path).flatMap { case (tCol, tIds) =>
        require(tCol == idCol, s"zOrderUpsert: _tombstones is keyed on $tCol, not $idCol")
        val keep = tIds.filterNot(ids.toSet)
        if (keep.length == tIds.length) None else Some(keep)
      }
      // no affected file: a pure insert, the batch alone is staged
      val src = if (affected.isEmpty) None
        else Some(spark.read.parquet(affected.map(_.getPath.toString): _*)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      try {
        val superseded = src.map(_.where(col(idCol).isInCollection(ids)).count()).getOrElse(0L)
        val rows = src.map(s => s.where(col(idCol).isNull || !col(idCol).isInCollection(ids))
          .unionByName(b.select(s.columns.map(col): _*))).getOrElse(b)
        swapIn(spark, path, affected,
          zOrderedFrame(rows, zCols, bits, affected.length, Some(stats)), tombstones)
        (superseded, written, affected.length)
      } finally src.foreach(_.unpersist())
    } finally b.unpersist()
  }

  /** A FILE-LEVEL min/max manifest for a layout — the sidecar that makes
    * file pruning a driver-side lookup instead of a footer read per
    * file. Parquet row-group stats already skip WITHIN a file, but the
    * planner still lists and footer-reads every file to find that out;
    * at lakehouse scale (millions of files) the listing round-trips are
    * the bottleneck, which is exactly why Delta/Iceberg carry manifests.
    * `_manifest` holds one row per live data file: (file, min_<col>,
    * max_<col> for every tracked column, in the column's NATIVE type —
    * no lossy casts, string dimensions compare lexicographically like
    * the z-dictionary).
    *
    * [[manifestRefresh]] rebuilds it with one column-pruned scan of the
    * whole layout (Θ(table) on the tracked columns only — the bulk
    * posture). [[manifestUpdate]] reconciles incrementally: stats
    * compute ONLY for files the manifest has never seen, rows of dead
    * files drop — Θ(new files), the daily-append posture; call it after
    * [[zOrderAppend]]. [[zOrderMaintain]], [[zOrderDelete]] and
    * [[zOrderUpsert]] reconcile the manifest in their own commit. */
  def manifestRefresh(spark: SparkSession, path: String,
                      cols: Seq[String]): Unit = writeManifest(spark, path, cols, reuse = false)

  def manifestUpdate(spark: SparkSession, path: String,
                     cols: Seq[String]): Unit = writeManifest(spark, path, cols, reuse = true)

  private def writeManifest(spark: SparkSession, path: String, cols: Seq[String],
                            reuse: Boolean): Unit = {
    val (fs, root) = Swap.recovered(spark, path)
    Swap.commit(fs, root, Seq(stageManifest(spark, path, dataFiles(fs, root), cols, reuse)))
  }

  /** Stage the `_manifest` of a layout whose data files are `files`
    * (live, or staged to promote under the same name), as a [[graft.Swap]]
    * move. With `reuse`, rows the current manifest holds for those names
    * carry over and only the other files are scanned — Θ(new files).
    * The driver holds only file NAMES here (what any manifest system's
    * listing already pays), never the stat rows: the surviving rows ride
    * a broadcast semi-join straight from the old manifest parquet into
    * the staged write, so the reconcile shuffles nothing and collects
    * nothing row-shaped. The manifest is derived state; the data files
    * are the truth. */
  private def stageManifest(spark: SparkSession, path: String, files: Seq[FileStatus],
                            cols: Seq[String], reuse: Boolean): Swap.Move = {
    import spark.implicits._
    val (_, root) = fsFor(spark, path)
    val names = files.map(_.getPath.getName)
    val kept = if (!reuse) None else Some(readSidecar(spark, s"$path/$ManifestName")
      .join(broadcast(names.toDF("file")), Seq("file"), "left_semi"))
    val prior = kept.map(_.select("file").as[String].collect().toSet).getOrElse(Set.empty)
    val fresh = files.filterNot(f => prior(f.getPath.getName)).map(_.getPath.toString)
    val rows = kept match {
      case Some(k) if fresh.isEmpty => k
      case Some(k) => k.unionByName(manifestRows(spark, fresh, cols))
      case None => manifestRows(spark, fresh, cols)
    }
    rows.coalesce(1).write.mode("overwrite")
      .parquet(new HPath(Swap.staging(root), ManifestName).toString)
    Swap.Move(ManifestName, Some(s"${Swap.StagingName}/$ManifestName"))
  }

  /** One row per file in `files`: (file, min_/max_/nulls_ per tracked
    * column — ranges in native type, null counts as longs; the null
    * leg costs nothing extra, it rides the same groupBy pass and is
    * what makes IS NULL predicates prunable, the blind spot range-only
    * manifests have). input_file_name() keys the group — reduced to the
    * BASENAME, so manifest identity is sibling-unique, scheme-free, and
    * survives relocating the layout directory — and the whole pass is
    * one column-pruned scan + one partial-aggregated groupBy.
    * Manifests written before the nulls_ columns existed fail
    * [[manifestUpdate]]'s union loudly — [[manifestRefresh]] upgrades
    * them in one pass. */
  private def manifestRows(spark: SparkSession, files: Seq[String],
                           cols: Seq[String]): DataFrame = {
    def legs(c: String): Seq[Column] = Seq(
      min(c).as(s"min_$c"), max(c).as(s"max_$c"),
      sum(col(c).isNull.cast("long")).as(s"nulls_$c"))
    val aggs = cols.flatMap(legs)
    spark.read.parquet(files: _*)
      .select(element_at(split(input_file_name(), "/"), -1).as("file")
        +: cols.map(col): _*)
      .groupBy("file")
      .agg(aggs.head, aggs.tail: _*)
  }

  /** An inclusive range predicate against the manifest: files whose
    * [min_col, max_col] interval intersects [lo, hi] survive. Native
    * typed comparison (pass Long for bigint columns, String for string
    * columns). Range semantics: a file whose `col` is all-null has null
    * range stats and prunes away — correct, since no BETWEEN-shaped
    * predicate matches a NULL. Null-SEEKING reads (`col IS NULL`) use
    * the `nullCols` parameter of [[prunedFiles]]/[[readPruned]] instead,
    * which keeps exactly the files whose per-file null count is
    * positive. */
  final case class Bound(col: String, lo: Any, hi: Any)

  /** The manifest-pruned file list (BASENAMES, the manifest's identity)
    * for a conjunction of [[Bound]]s plus, for every column in
    * `nullCols`, "this file holds at least one NULL of that column"
    * (the IS NULL leg of the predicate, prunable since the manifest
    * carries per-file null counts) — the driver-side skip. Collect is
    * bounded by the SURVIVING file count (the point of pruning); an
    * empty result means no file can hold a matching row. */
  def prunedFiles(spark: SparkSession, path: String,
                  bounds: Seq[Bound], nullCols: Seq[String] = Nil): Seq[String] = {
    require(bounds.nonEmpty || nullCols.nonEmpty,
      "prunedFiles: give at least one Bound or null-seeking column")
    val pred = (bounds.map(b =>
        col(s"max_${b.col}") >= lit(b.lo) && col(s"min_${b.col}") <= lit(b.hi)) ++
      nullCols.map(c => col(s"nulls_$c") > 0))
      .reduce(_ && _)
    readSidecar(spark, s"$path/_manifest").where(pred)
      .select("file").collect().map(_.getString(0)).toIndexedSeq
  }

  /** Read only the manifest-surviving files for `bounds` (and/or
    * null-seeking columns), with the layout's tombstone mask applied —
    * the read path every consumer of a maintained layout should use.
    * The caller still applies its row-level predicate — the manifest
    * prunes the FILE list (what the planner would otherwise discover one
    * footer at a time); parquet row-group stats prune within the
    * survivors as always.
    *
    * Consistency contract: the manifest is derived state committed with
    * the data by the mutating ops themselves, but a reader racing a
    * [[graft.Swap]] commit can hit the brief no-`_manifest` window or a
    * partial file set — run reads and maintenance in separate windows,
    * the same exclusion any lakehouse OPTIMIZE requires. */
  def readPruned(spark: SparkSession, path: String,
                 bounds: Seq[Bound], nullCols: Seq[String] = Nil): DataFrame = {
    val files = prunedFiles(spark, path, bounds, nullCols)
    maskForgotten(spark, path,
      if (files.isEmpty) spark.read.parquet(path).where(lit(false))
      else spark.read.parquet(files.map(n => s"$path/$n"): _*))
  }
}
