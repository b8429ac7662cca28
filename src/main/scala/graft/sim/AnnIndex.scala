package graft.sim

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.{SmallPath, Stages}
import graft.functions.{CentroidCells, DotProduct}
import graft.functions.CentroidCells.centroidCells
import graft.functions.VectorFunctions._
import graft.sources.{Readers, Writers}

/** Persistent IVF index: build once, probe many — the production ANN
  * lifecycle ([[Ann.ivfTopK]] refits its coarse quantizer on every
  * call, which is right for one-shot queries and wrong for a serving
  * corpus probed daily).
  *
  * `build` fits the cosine-consistent coarse quantizer (the shared
  * [[Ann.fitCentroids]] capped deterministic sample), assigns every
  * vector to its nearest cell, and writes two parquet tables under
  * `dir`: `centroids` (nCells rows) and `cells`, PARTITIONED BY the
  * cell id. That layout is the point: a probe touches `nProbe` cells,
  * so the scan prunes to nProbe/nCells of the index files (≈ √n cells
  * ⇒ a 10-probe query over 10⁴ cells reads 0.1% of the bytes) —
  * partition pruning does at rest what the cell equi-join does in
  * memory. Probing reads the centroid table driver-side (nCells ≈ √n
  * rows — bounded like the quantizer fit sample, never corpus-scale),
  * explodes each query into its nProbe nearest cells, and scores
  * cell-locally exactly as [[Ann.ivfTopK]] does — same output, no
  * refit, no full-index scan.
  */
object AnnIndex {

  /** Write-generation stamp riding on every cell row (the `__graft_`
    * reserved namespace): build stamps 0, each append/upsert batch
    * stamps the next generation, and tombstones mask (id, seq ≤
    * upto_seq) instead of bare ids — so [[upsert]]'s new version
    * survives the tombstone that retires its predecessor, and a
    * re-APPENDED id resurfaces immediately instead of staying masked
    * until the next rebuild. */
  private val SeqCol = "__graft_seq"

  /** Last write generation, a 1-row parquet beside the cells — read
    * once per maintenance batch (driver-side, kilobytes). Missing dir
    * (pre-versioning index or fresh build) reads as 0. */
  private def readGen(spark: SparkSession, dir: String): Long = {
    val p = new Path(s"$dir/gen")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else Readers.parquet(spark, p.toString).head().getLong(0)
  }

  private def writeGen(spark: SparkSession, dir: String, g: Long): Unit = {
    import spark.implicits._
    Seq(g).toDF("last_seq").repartition(1)
      .write.mode("overwrite").parquet(s"$dir/gen")
  }

  /** The memoized fit + calibration shared by [[build]] and
    * [[fitFrame]]: keyed on the content key of `live`
    * ([[Ann.corpusKey]]) plus (nCells, seed, cap, recall), so over the
    * same files whichever caller runs first pays the fit and the other
    * serves it, and a corpus rewritten in place refits. `live` must
    * already be the nrm-filtered frame [[build]] derives. */
  private def fitted(live: DataFrame, nCells: Int, seed: Long,
                     fitSampleCap: Long, recall: Double)
      : (Long, Seq[Seq[Double]], Int) =
    Ann.memo(Ann.corpusKey(live).map(c =>
        s"annidxbuild|$c|cells=$nCells|seed=$seed|cap=$fitSampleCap|recall=$recall")) {
      val nn = live.count()
      val cs = Ann.fitCentroids(live, nn, nCells, seed, fitSampleCap)
      val probe = Ann.probesForRecall(Ann.calibrationSample(live, nn), cs, recall)
      (nn, cs, probe)
    }

  /** The fit + calibration HALF of [[build]] as its own frame, so a
    * harness can price the shared quantizer fit on exactly one line
    * (r15 verdict: the s17/s19 builds share one [[Ann.memo]] key, so
    * under min-of-passes BOTH lines' minima silently excluded the
    * ~2.3 s fit — the fit cost landed wherever the key was first
    * touched in suite order). Same `live` derivation, same memo key,
    * bit-identical (n, centroids, probe) as [[build]]; a later build
    * over the same files with the same (nCells, seed, cap, recall)
    * skips the refit. `cacheKey` is ignored (the memo keys on the
    * corpus's content); it stays for callers that pass it by name.
    * Output: (cell, centroid, n, n_probe, recall_target) — nCells
    * rows, the in-memory twin of the persisted centroids + meta
    * tables. */
  def fitFrame(corpus: DataFrame, nCells: Int, seed: Long,
               fitSampleCap: Long = 100000L, recall: Double = 0.9,
               cacheKey: Option[String] = None): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val live = corpus.drop(SeqCol).withColumn(SeqCol, lit(0L))
      .withColumn("nrm", norm(col("vec"))).filter(col("nrm") > 0)
    val (n, centroids, calibratedProbe) =
      fitted(live, nCells, seed, fitSampleCap, recall)
    centroids.zipWithIndex
      .map { case (c, i) => (i, c, n, calibratedProbe, recall) }
      .toDF("cell", "centroid", "n", "n_probe", "recall_target")
  }

  /** Fit + assign + persist. `corpus`: (id, vec: array<double>).
    *
    * Build-time also CALIBRATES the index's default operating point:
    * [[Ann.probesForRecall]] solves the probe count for `recall` from
    * the corpus's measured cell geometry, and the result is stored in
    * a 1-row `meta` table beside the centroids — a prober gets the
    * recall the builder certified without hand-tuning nProbe (pass an
    * explicit nProbe to override). Appends don't recalibrate; rebuild
    * when the drift audit says so (see [[append]]). The fit comes from
    * the content-keyed memo [[fitFrame]] shares; `cacheKey` is ignored,
    * as there. */
  def build(corpus: DataFrame, nCells: Int, seed: Long, dir: String,
            fitSampleCap: Long = 100000L, recall: Double = 0.9,
            cacheKey: Option[String] = None): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // a rebuild starts a new generation: a stale tombstone list from
    // the previous generation would silently mask any re-inserted ids
    clearTombstones(spark, dir)
    writeGen(spark, dir, 0L)
    // a rebuild fed from liveCells carries the old seq stamps — this
    // generation restarts at 0
    val live = corpus.drop(SeqCol).withColumn(SeqCol, lit(0L))
      .withColumn("nrm", norm(col("vec"))).filter(col("nrm") > 0)
    // the quantizer + its calibration are configuration-scale metadata,
    // a deterministic function of (corpus content, params) — the same
    // contract [[Ann.ivfTopKAuto]]'s opCache serves: a caller building
    // several indexes over one corpus (or rebuilding per bench pass)
    // derives them once and reuses (the ML k-means fit is the dominant
    // fixed cost of a build — ~2.3 s at ANY corpus size once the
    // sample cap binds, vs ~0.6 s for assignment + write)
    val (n, centroids, calibratedProbe) =
      fitted(live, nCells, seed, fitSampleCap, recall)
    centroids.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "centroid")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    Seq((recall, calibratedProbe, n, nCells))
      .toDF("recall_target", "n_probe", "n", "n_cells")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$dir/meta")
    // ALL input columns persist into the cell files — metadata columns
    // (label / lang / license) ride beside (id, vec) as ordinary
    // parquet columns, which is what probeFiltered's predicate prunes
    // on (row-group min/max stats apply before any distance math)
    live
      .withColumn("cell",
        element_at(centroidCells(col("vec"), col("nrm"), centroids, 1), 1))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/cells")
  }

  /** The index [[build]] makes of `corpus`, for read-only consumers:
    * staged once per content key ([[Ann.corpusKey]]) under
    * `root/name-c<nCells>-s<seed>-<key>` through the
    * [[graft.etl.Stages]] commit protocol, so a later call over the
    * same files serves the committed directory without a write, and a
    * corpus rewritten in place builds a new one. A corpus with no
    * content key is built privately into `root/name` on every call.
    * Returns the index directory. A consumer that writes into its
    * index (tombstones, appends) builds its own. */
  private[graft] def served(corpus: DataFrame, nCells: Int, seed: Long,
                            root: String, name: String): String =
    Ann.corpusKey(corpus) match {
      case Some(key) =>
        Stages.stageDir(corpus.sparkSession, root, s"$name-c$nCells-s$seed-$key")(
          build(corpus, nCells, seed, _))
      case None =>
        val dir = s"$root/$name"
        build(corpus, nCells, seed, dir)
        dir
    }

  /** Append a batch to an existing index WITHOUT refitting: assign the
    * new vectors against the PERSISTED centroids and append their
    * cell-partitioned files — ingest stays O(batch), never O(corpus).
    * Centroids drift as the corpus grows; rebuild (`build`) when the
    * recall audit (probe vs [[Ann.bruteForceTopK]] on a sample) decays
    * past budget. Append-only parquet means a concurrent probe sees
    * either the old or the new file set, never a torn cell. */
  def append(newRows: DataFrame, dir: String): Unit = {
    val spark = newRows.sparkSession
    // heal BEFORE the mode("append") write: appending into the purge
    // crash window (cells missing) would create a fresh cells dir of
    // only the new rows, and the now-present dir would stop the heal
    // from ever restoring the staged survivors
    healPurge(spark, dir)
    val centroids = readCentroids(spark, dir)
    val g = readGen(spark, dir) + 1L
    newRows.drop(SeqCol).withColumn(SeqCol, lit(g))
      .withColumn("nrm", norm(col("vec"))).filter(col("nrm") > 0)
      .withColumn("cell",
        element_at(centroidCells(col("vec"), col("nrm"), centroids, 1), 1))
      .write.mode("append").partitionBy("cell").parquet(s"$dir/cells")
    writeGen(spark, dir, g)
  }

  /** UPSERT (#238) — the CDC write every production vector store
    * serves (a re-embedded or edited document must replace its old
    * vector, not rank beside it): tombstone the ids' CURRENT versions
    * (seq ≤ the pre-batch generation) and [[append]] the new vectors
    * at the next generation in one maintenance call — O(batch), never
    * a cell rewrite. The versioned tombstone is what makes this sound:
    * a bare id-mask (the pre-#238 format) would swallow the new
    * version too, and left re-ingested ids invisible until the next
    * rebuild. Probes see old-or-new per id, never both (spec-pinned:
    * post-upsert full probe ≡ brute force over the post-CDC corpus,
    * rank for rank); physical reclamation of the retired versions is
    * [[purge]]'s job, unchanged. `rows`: (id, vec) + metadata columns,
    * same contract as [[append]]. */
  def upsert(rows: DataFrame, dir: String): Unit = {
    delete(rows.select("id"), dir)
    append(rows, dir)
  }

  /** Compact the small per-append segment files inside each cell
    * partition — the maintenance pass a daily-append index needs:
    * every [[append]] adds ≥ 1 file per touched cell, so after N
    * batches a probe of `nProbe` cells opens O(N·nProbe) files whose
    * per-file open/footer cost dwarfs the bytes (the classic
    * small-file tax). Delegates to
    * [[graft.sources.Writers.compactSmallFiles]], inheriting its
    * crash-recoverable pending-marker swap: rows are never lost. A
    * probe racing the swap window can transiently see a vector twice
    * (it would then occupy two adjacent ranks) — schedule compaction
    * in a maintenance window for strict isolation, as with any
    * plain-parquet table. Cell partition values are untouched, so
    * partition pruning and the calibrated meta are preserved
    * (spec-pinned probe parity). */
  def compact(spark: SparkSession, dir: String,
              minFileBytes: Long = 8L * 1024 * 1024,
              targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    healPurge(spark, dir)
    Writers.compactSmallFiles(
      spark, s"$dir/cells", minFileBytes, targetFileBytes)
  }

  /** Tombstone DELETION (#232) — the right-to-be-forgotten half of the
    * index lifecycle (q70 audits the relational purge; this is the
    * vector-store one). Deleting by rewrite would cost O(corpus) per
    * request, so deletes are LOGICAL first: the ids append to a
    * `tombstones` parquet beside the cells and every read path
    * ([[probe]], [[probeFiltered]], the sweeps, [[stats]],
    * [[maintain]]) anti-joins them out via [[liveCells]] — O(batch)
    * per delete, exact immediately (a tombstoned vector can never
    * occupy a rank). Tombstones are VERSIONED (id, upto_seq): a delete
    * masks the versions present when it lands (seq ≤ the current
    * generation), so an [[upsert]]'s or later [[append]]'s new version
    * is never swallowed by an older mask. Idempotent by construction:
    * replaying a forget set re-writes (id, g') rows whose mask is a
    * superset of nothing new — the max-per-id fold is insensitive to
    * duplicates. Physical reclamation is [[purge]]'s job, run in the
    * same maintenance window as [[compact]]. `ids`: any frame with an
    * `id` column. */
  def delete(ids: DataFrame, dir: String): Unit = {
    val g = readGen(ids.sparkSession, dir)
    ids.select(col("id").cast("long").as("id"),
        lit(g).as("upto_seq"))
      .write.mode("append").parquet(s"$dir/tombstones")
  }

  /** Physically drop tombstoned rows from the cell files and clear
    * the tombstone list — the reclamation pass that turns [[delete]]'s
    * logical mask into reclaimed bytes (GDPR's "erased from backups
    * and replicas" clause needs this pass, not just the mask). The
    * survivors are fully MATERIALIZED into `.cells.purge-inprogress`
    * and swapped in by [[graft.sources.Writers.replaceDir]] — an
    * in-place overwrite would delete the cells table at job start, so
    * a crash or executor loss mid-rewrite would destroy the index
    * (tombstones alone cannot restore it); a crash between the swap's
    * two renames is completed by [[healPurge]] on every read and
    * maintenance path. Cell partition values are untouched so
    * partition pruning and the calibrated meta survive, probes
    * before/after are bit-identical (spec-pinned), and tombstones are
    * cleared only AFTER the swap commits (a crash between swap and
    * clear just re-masks already-purged ids — the anti-join is a no-op
    * on them). Returns the number of rows physically removed; no-op 0
    * when nothing is tombstoned. */
  def purge(spark: SparkSession, dir: String): Long = {
    val tomb = new Path(s"$dir/tombstones")
    val fs = tomb.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(tomb)) return 0L
    // SNAPSHOT the tombstone files first and apply/clear exactly that
    // set: delete() stays online during this maintenance pass, and a
    // directory-level clear after the swap would wipe masks appended
    // DURING the rewrite — ids whose mask was never applied would
    // resurrect into every probe (a silently lost GDPR deletion).
    // Files appended after this listing survive the clear and re-mask
    // the new cells table; the next purge applies them.
    val tombFiles = tombstoneFiles(fs, tomb)
    if (tombFiles.isEmpty) return 0L
    val cells = cellsPath(dir)
    val (nAll, nLive) = Writers.replaceDir(fs, cells, purgeStaging(cells)) { tmp =>
      val nAll = Readers.parquet(spark, cells.toString).count()
      val mask = Readers.parquet(spark, tombFiles.map(_.toString): _*)
        .groupBy("id").agg(max("upto_seq").as("__graft_tomb_seq"))
      Readers.parquet(spark, cells.toString)
        .join(mask, Seq("id"), "left")
        .filter(col("__graft_tomb_seq").isNull ||
          col(SeqCol) > col("__graft_tomb_seq"))
        .drop("__graft_tomb_seq")
        .write.mode("overwrite").partitionBy("cell").parquet(tmp.toString)
      (nAll, Readers.parquet(spark, tmp.toString).count())
    }
    // clear ONLY the snapshot's files, only after the swap commits (a
    // crash in between re-masks already-purged ids — anti-join no-op)
    tombFiles.foreach(f => fs.delete(f, false))
    nAll - nLive
  }

  private def cellsPath(dir: String): Path = new Path(dir, "cells")
  private def purgeStaging(cells: Path): Path =
    Writers.hiddenSibling(cells, "purge-inprogress")

  /** Complete or roll back an INTERRUPTED [[purge]] swap
    * ([[graft.sources.Writers.healReplace]]). Runs on every read and
    * maintenance path: in the crash window `cells` is absent, and
    * nothing else would restore it. Either outcome is consistent:
    * tombstones are cleared only AFTER a committed swap, so the
    * snapshot's masks still cover the rolled-either-way table. */
  private def healPurge(spark: SparkSession, dir: String): Unit = {
    val cells = cellsPath(dir)
    Writers.healReplace(
      cells.getFileSystem(spark.sparkContext.hadoopConfiguration),
      cells, purgeStaging(cells))
  }

  private def clearTombstones(spark: SparkSession, dir: String): Unit = {
    val tomb = new Path(s"$dir/tombstones")
    val fs = tomb.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(tomb)) fs.delete(tomb, true)
  }

  /** The visible parquet part files of the tombstone dir — [[purge]]
    * applies and clears exactly this snapshot (never the whole dir,
    * which would wipe masks a concurrent [[delete]] appended), and
    * the read paths mask from whatever is present; a dir holding only
    * committer droppings (`_SUCCESS`) reads as "no tombstones"
    * instead of failing schema inference. */
  private def tombstoneFiles(fs: FileSystem, tomb: Path): Array[Path] =
    fs.listStatus(tomb)
      .filter(st => Writers.isDataFile(st) && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath)

  /** The cells table minus tombstoned ids — EVERY consumer of the
    * cell files goes through here, so a logical delete is exact on
    * all probe/audit/census paths the moment it lands. The tombstone
    * side of the anti-join is a forget set (sliver-sized vs the
    * corpus), so AQE broadcasts it; when no delete has ever run the
    * read is the bare parquet scan. */
  private def liveCells(spark: SparkSession, dir: String): DataFrame = {
    val tomb = new Path(s"$dir/tombstones")
    val fs = tomb.getFileSystem(spark.sparkContext.hadoopConfiguration)
    healPurge(spark, dir)
    healInterruptedSplit(spark, dir)
    val cells = Readers.parquet(spark, s"$dir/cells")
    val files =
      if (fs.exists(tomb)) tombstoneFiles(fs, tomb)
      else Array.empty[Path]
    if (files.nonEmpty) {
      // versioned mask: a row dies only if some tombstone for its id
      // covers its write generation — upserted/re-appended versions
      // (seq > every mask) stay live. No broadcast hint: the mask is
      // usually sliver-sized (AQE broadcasts it), but a mass-delete
      // history can grow it past broadcast budget — let the planner
      // decide instead of forcing an OOM
      val mask = Readers.parquet(spark, files.map(_.toString): _*)
        .groupBy("id").agg(max("upto_seq").as("__graft_tomb_seq"))
      cells.join(mask, Seq("id"), "left")
        .filter(col("__graft_tomb_seq").isNull ||
          col(SeqCol) > col("__graft_tomb_seq"))
        .drop("__graft_tomb_seq")
    } else cells
  }

  /** The audit→decision→action loop closed (#184): [[append]]'s
    * contract says "rebuild when the recall audit decays past budget"
    * — this runs that audit against the PERSISTED index and performs
    * the rebuild when it fails. Recall@k of the index's calibrated
    * probe path is measured against exact brute force on a
    * deterministic corpus slice whose size is an ABSOLUTE budget, not
    * a fraction ([[Ann.auditSampleMod]]: 1/sampleMod below
    * sampleMod·sampleBudget rows, then the modulus grows with n so
    * the query count stays ≤ sampleBudget — a fixed fraction would
    * make the exact side Θ(n²) and the audit the most expensive query
    * in the system at 100×). The s14 economics hold at every scale:
    * brute force pays |sample|·n, the audited side is the production
    * plan. If recall_ppm drops below the floor — the
    * index's stored build-time recall target by default, or an
    * explicit `floorPpm` — the corpus is re-read from the cell files,
    * STAGED through a checkpoint (the rebuild overwrites the very
    * files the frame reads — materialize-before-overwrite, same
    * hazard class as the stage-commit protocol), refit and
    * recalibrated via [[build]]. `nCells <= 0` re-derives √n from the
    * CURRENT corpus size — after heavy appends the original cell count
    * is stale in exactly the way that degrades recall. Returns
    * (recall_ppm measured BEFORE any rebuild, rebuilt?). */
  def maintain(spark: SparkSession, dir: String, k: Int = 10,
               sampleMod: Int = 25, seed: Long = 42L,
               floorPpm: Long = -1L, nCells: Int = 0,
               sampleBudget: Long = 2048L,
               hotCellMultiple: Long = 3L,
               autoSplit: Boolean = false): (Long, Boolean) = {
    import spark.implicits._
    // the rebuild must carry the metadata columns back through build
    // (probeFiltered prunes on them) — only nrm/cell are derived;
    // tombstoned rows are excluded, so a rebuild is also a purge
    // (build clears the then-incorporated tombstone list)
    val full = liveCells(spark, dir).drop("nrm", "cell")
    val corpus = full.select("id", "vec")
    val n = corpus.count()
    val mod = Ann.auditSampleMod(n, sampleMod.toLong, sampleBudget)
    val sample = corpus.filter(pmod(col("id"), lit(mod)) === 0)
    val exact = Ann.bruteForceTopK(corpus, sample, k)
      .select(col("qid"), col("neighbor_id"))
    val approx = probe(spark, dir, sample, k)
      .select(col("qid"), col("neighbor_id")).withColumn("hit", lit(1L))
    val (nTrue, nHit) = exact.join(approx, Seq("qid", "neighbor_id"), "left")
      .agg(count(lit(1)).as("n"), sum(coalesce(col("hit"), lit(0L))).as("h"))
      .as[(Long, Long)].head()
    val recallPpm = if (nTrue == 0) 1000000L else nHit * 1000000L / nTrue
    val meta = Readers.parquet(spark, s"$dir/meta")
      .select("recall_target", "n_cells").head()
    val floor =
      if (floorPpm >= 0) floorPpm
      else math.round(meta.getDouble(0) * 1000000L)
    val rebuild = recallPpm < floor
    // the capacity signal RECALL cannot see (r13 GEOCHECK finding):
    // probe cost is proportional to probed cell MASS, so a clustered
    // corpus can keep recall green while one ballooning cell makes
    // every probe that touches it pay the blob — s22's clustered sf1
    // wall was 2.9× isotropic at the SAME probe budget and the same
    // recall spec. Surface it loudly here, where the rebuild decision
    // is made, not only in the passive stats panel.
    val hot = hotCellSignal(spark, dir, hotCellMultiple)
    if (hot.hot) System.err.println(
      s"[graft.AnnIndex] HOT CELL at $dir: max cell population " +
        s"${hot.maxCell} > $hotCellMultiple x occupancy target " +
        s"${hot.target} — probe wall is cell-mass-bound regardless of " +
        s"recall; rebuild with nCells >= ${hot.suggestedNCells} (or " +
        s"run splitHotCells) to restore the calibrated probe cost")
    // the automated remedy (r15): split in place when the gate fires
    // and no rebuild is about to refit everything anyway — O(hot-cell
    // mass), not O(corpus)
    if (autoSplit && hot.hot && !rebuild) {
      val rep = splitHotCells(spark, dir, hotCellMultiple, seed)
      System.err.println(
        s"[graft.AnnIndex] splitHotCells at $dir: split=${rep.splitCells} " +
          s"newCells=${rep.newCells} refused=${rep.refused} " +
          s"maxCell ${rep.maxCellBefore} -> ${rep.maxCellAfter}")
    }
    if (rebuild) {
      val staged = full.localCheckpoint(true)
      val cells =
        if (nCells > 0) nCells
        else math.max(2, math.ceil(math.sqrt(n.toDouble)).toInt)
      build(staged, cells, seed, dir, recall = meta.getDouble(0))
    }
    (recallPpm, rebuild)
  }

  /** The hot-cell capacity signal behind [[maintain]]'s warning,
    * factored so operators (and AnnSpec's clustered fixture) can gate
    * on it directly. `hot` fires when the max live-cell population
    * exceeds `maxMultiple` × the occupancy target ⌈nVec / nCells⌉ —
    * the geometry regime GEOCHECK measured (r13): probed-cell MASS,
    * not count, drives the probe wall, and recall audits are blind to
    * it because the hot cell's vectors are genuinely each other's
    * neighbors. `suggestedNCells` scales the cell count so the hot
    * cell's mass would meet the budget if the quantizer splits it
    * proportionally — a SUGGESTION: a near-identical blob may refuse
    * to split (the AnnSpec blob-floor case), in which case the honest
    * remedies are a dedicated hot-cell shard or admission-side dedup
    * (d13/d05), not more cells. Metadata-only, the [[stats]] census
    * shape: per-cell counts off the `cell` partition column, vectors
    * never read; the per-cell collect is nCells ≈ √n rows, bounded. */
  case class HotCell(nVec: Long, maxCell: Long, target: Long, hot: Boolean,
                     suggestedNCells: Int)
  def hotCellSignal(spark: SparkSession, dir: String,
                    maxMultiple: Long = 3L): HotCell = {
    val spark2 = spark
    import spark2.implicits._
    val nCells = Readers.parquet(spark, s"$dir/centroids").count()
    val pops = liveCells(spark, dir).groupBy("cell")
      .agg(count(lit(1)).as("n")).select("n").as[Long].collect()
    val nVec = pops.sum
    val maxCell = if (pops.isEmpty) 0L else pops.max
    val target = if (nCells == 0) 0L else (nVec + nCells - 1) / nCells
    val hot = target > 0 && maxCell > maxMultiple * target
    val suggested = math.max(math.max(2L,
        math.ceil(math.sqrt(nVec.toDouble)).toLong),
      if (target > 0 && maxMultiple * target > 0)
        nCells * ((maxCell + maxMultiple * target - 1) / (maxMultiple * target))
      else nCells)
    HotCell(nVec, maxCell, target, hot,
      math.min(suggested, Int.MaxValue.toLong).toInt)
  }

  /** One [[splitHotCells]] pass, summarized: cells split, NEW cell
    * ids minted (k−1 per split — sub-cell 0 reuses the split cell's
    * id), splits REFUSED (the identical-blob floor: the local
    * quantizer put every vector in one sub-cell, so splitting would
    * only mint dead centroids — re-running can never loop on such a
    * cell), and the max live-cell population before/after. */
  case class SplitReport(splitCells: Int, newCells: Int, refused: Int,
                         maxCellBefore: Long, maxCellAfter: Long)

  private val SplitMarker = "_graft_split_pending"
  private val SplitTmp = ".split-inprogress"

  /** Split every HOT cell — population > `maxMultiple` × the
    * occupancy target ⌈nVec/nCells⌉, [[hotCellSignal]]'s gate — into
    * k = ⌈pop/target⌉ sub-cells via a LOCAL k-means over that one
    * cell's vectors: the automated remedy the r14 gate could only
    * suggest. Work is O(Σ hot-cell mass) — the quantizer fit and the
    * reassignment read exactly the hot partitions (partition-pruned
    * scans), never the corpus — and the rewrite touches only those
    * partitions, so on a 100 TB index a split prices like an append
    * of the hot cells, not a rebuild. Probe parity: sub-cell 0 reuses
    * the hot cell's id and ids `nCells..` append, preserving the
    * "centroid table position = cell id" contiguity every probe path
    * assumes; the sub-centroids tile the old cell's region, so a
    * probe that would have paid the whole blob now ranks its
    * sub-cells individually and reads only the mass it needs
    * (recall preservation spec-pinned on the clustered fixture).
    * The calibrated `meta.n_probe` operating point is kept — after a
    * split each probed unit is smaller, so probe cost only drops.
    *
    * Crash safety is the marker commit of
    * [[graft.sources.Writers.compactSmallFiles]]: ALL reassigned
    * rows, the updated centroid table and meta are fully staged under
    * a hidden sibling dir first; a root-level pending marker listing
    * the retired source files is the COMMIT POINT; apply then moves
    * staged files in ([[graft.sources.Writers.moveIn]]), deletes the
    * originals, and swaps centroids/meta. Every reader heals through
    * the marker ([[healInterruptedSplit]] on the [[liveCells]] path):
    * a crash before the marker leaves an invisible staging dir (swept
    * by the next split); a crash after it rolls FORWARD idempotently.
    * Like compact/purge, a probe racing the apply window can
    * transiently see a vector twice; schedule splits in the same
    * maintenance window. Single maintenance writer assumed (the
    * compact/purge contract).
    *
    * A hot cell whose local k-means refuses to separate it (all mass
    * in one sub-cell — a near-identical blob) is SKIPPED and counted
    * in `refused`: re-running therefore terminates — it never mints
    * empty centroids for an unsplittable blob, and once nothing is
    * hot the pass is a no-op (idempotence spec-pinned). For blobs the
    * honest remedies remain admission-side dedup (d13/d05) or a
    * dedicated shard, per [[hotCellSignal]]'s scaladoc. */
  def splitHotCells(spark: SparkSession, dir: String,
                    maxMultiple: Long = 3L, seed: Long = 42L,
                    maxSubCells: Int = 256): SplitReport = {
    import spark.implicits._
    val st = stageSplit(spark, dir, maxMultiple, seed, maxSubCells)
    if (!st.committed)
      return SplitReport(0, 0, st.refused, st.maxBefore, st.maxBefore)
    applySplit(spark, dir, st.originals)
    val popsAfter = liveCells(spark, dir).groupBy("cell")
      .agg(count(lit(1)).as("n")).select("n").as[Long].collect()
    SplitReport(st.split, st.newCells, st.refused, st.maxBefore,
      if (popsAfter.isEmpty) 0L else popsAfter.max)
  }

  /** Staged-and-COMMITTED half of [[splitHotCells]] (everything up to
    * and including the marker write), factored so AnnSpec can pin the
    * crash window between commit and apply: after this returns with
    * `committed = true`, the split is durable — any reader heals it
    * forward. `committed = false` means nothing was staged (no hot
    * cells, or every hot cell refused to split). */
  private[graft] case class StagedSplit(originals: Seq[String], split: Int,
                                        newCells: Int, refused: Int,
                                        maxBefore: Long, committed: Boolean)
  private[graft] def stageSplit(spark: SparkSession, dir: String,
                                maxMultiple: Long, seed: Long,
                                maxSubCells: Int): StagedSplit = {
    import spark.implicits._
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    healPurge(spark, dir)
    healInterruptedSplit(spark, dir)
    // uncommitted staging from a crashed predecessor is invisible to
    // readers and safe to sweep HERE (single maintenance writer) —
    // a reader's healer must never touch it (see healInterruptedSplit)
    val tmp = new Path(dir, SplitTmp)
    fs.delete(tmp, true)
    val nCells0 = Readers.parquet(spark, s"$dir/centroids").count().toInt
    val pops = liveCells(spark, dir).groupBy("cell")
      .agg(count(lit(1)).as("n")).as[(Int, Long)].collect()
    val nVec = pops.map(_._2).sum
    val target = if (nCells0 == 0) 0L else (nVec + nCells0 - 1) / nCells0
    val maxBefore = if (pops.isEmpty) 0L else pops.map(_._2).max
    val hot = pops.filter(_._2 > maxMultiple * target).sortBy(_._1)
    if (target == 0 || hot.isEmpty)
      return StagedSplit(Nil, 0, 0, 0, maxBefore, committed = false)
    val updated = scala.collection.mutable.ArrayBuffer(
      readCentroids(spark, dir): _*)
    var base = nCells0
    var refused = 0
    var split = 0
    val originals = scala.collection.mutable.ArrayBuffer.empty[String]
    hot.foreach { case (h, pop) =>
      val k = math.min(maxSubCells.toLong,
        math.max(2L, (pop + target - 1) / target)).toInt
      val cellRows = liveCells(spark, dir)
        .filter(col("cell") === h).drop("cell")
      // O(cell) local fit: the frame IS one partition's (pruned) rows.
      // kEff, not k, drives the id arithmetic — a duplicate-heavy cell
      // can yield fewer distinct centers than requested
      val subCents = Ann.fitCentroids(
        cellRows.select("id", "vec"), pop, k, seed + h, 100000L)
      val kEff = subCents.length
      val assigned = cellRows.withColumn("__sub",
        element_at(centroidCells(col("vec"), col("nrm"), subCents, 1), 1))
      val maxSub = assigned.groupBy("__sub").agg(count(lit(1)).as("n"))
        .agg(max("n")).as[Long].head()
      if (maxSub >= pop || kEff < 2) refused += 1
      else {
        assigned
          .withColumn("cell", when(col("__sub") === 0, lit(h))
            .otherwise(col("__sub") + lit(base - 1)))
          .drop("__sub")
          .write.mode("append").partitionBy("cell")
          .parquet(s"${tmp.toString}/cells")
        updated(h) = subCents.head
        subCents.tail.foreach(c => updated += c)
        val cdir = new Path(s"$dir/cells/cell=$h")
        fs.listStatus(cdir).filter(Writers.isDataFile)
          .foreach(st => originals += s"cell=$h/${st.getPath.getName}")
        base += kEff - 1
        split += 1
      }
    }
    if (split == 0) { fs.delete(tmp, true)
      return StagedSplit(Nil, 0, 0, refused, maxBefore, committed = false) }
    updated.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("cell", "centroid")
      .repartition(1).write.mode("overwrite").parquet(s"${tmp.toString}/centroids")
    // meta rides along so n_cells stays truthful; the calibrated
    // n_probe operating point is preserved (see scaladoc)
    scala.util.Try(Readers.parquet(spark, s"$dir/meta").head()).foreach { m =>
      Seq((m.getDouble(0), m.getInt(1), m.getLong(2), updated.length))
        .toDF("recall_target", "n_probe", "n", "n_cells")
        .repartition(1).write.mode("overwrite").parquet(s"${tmp.toString}/meta")
    }
    // COMMIT: from here every reader rolls the split forward
    val marker = new Path(dir, SplitMarker)
    val out = fs.create(marker, true)
    out.write((s"tmp=$SplitTmp" +: originals.toSeq).mkString("\n")
      .getBytes("UTF-8"))
    out.close()
    StagedSplit(originals.toSeq, split, base - nCells0, refused, maxBefore,
      committed = true)
  }

  /** Apply (or re-apply) a COMMITTED split: move staged partition
    * files in, retire the listed originals, swap centroids + meta,
    * clear the marker. Every step is idempotent and
    * concurrent-tolerant — a rename that loses a race to a healer is
    * accepted when the destination exists; a swap whose staged side
    * is already gone is complete. */
  private def applySplit(spark: SparkSession, dir: String,
                         originals: Seq[String]): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dir, SplitTmp)
    val tmpCells = new Path(tmp, "cells")
    if (fs.exists(tmpCells)) {
      fs.listStatus(tmpCells)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
        .foreach { pd =>
          val dest = new Path(s"$dir/cells/${pd.getPath.getName}")
          fs.mkdirs(dest)
          Writers.moveIn(fs, pd.getPath, dest)
        }
    }
    originals.foreach { rel =>
      val p = new Path(s"$dir/cells/$rel")
      if (fs.exists(p)) fs.delete(p, false)
    }
    Seq("centroids", "meta").foreach { t =>
      val staged = new Path(tmp, t)
      if (fs.exists(staged)) {
        val live = new Path(s"$dir/$t")
        fs.delete(live, true)
        if (!fs.rename(staged, live) && !fs.exists(live))
          throw new java.io.IOException(
            s"splitHotCells: swap $staged -> $live failed")
      }
    }
    fs.delete(new Path(dir, SplitMarker), false)
    fs.delete(tmp, true)
  }

  /** Roll a COMMITTED-but-interrupted [[splitHotCells]] forward — the
    * read-path healer, sibling of [[healPurge]]. Acts only
    * when the commit marker exists; an UNcommitted staging dir (no
    * marker) belongs to a possibly-live splitter and is left alone —
    * the next [[splitHotCells]] sweeps it. One `exists` probe on the
    * no-marker fast path. */
  private[graft] def healInterruptedSplit(spark: SparkSession,
                                          dir: String): Unit = {
    val marker = new Path(dir, SplitMarker)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) return
    val in = fs.open(marker)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    applySplit(spark, dir, lines.filter(l => l.nonEmpty && !l.startsWith("tmp=")))
  }

  /** Index HEALTH panel: one row — true cell count (from the
    * centroid table, so DEAD cells count), populated cell count,
    * vector count, exact min/median/max cell population over ALL
    * cells (a dead cell is a 0), and the max-cell/true-mean imbalance
    * (milli) — the signal behind rebuild decisions that
    * [[maintain]]'s recall audit confirms from the other side: probe
    * cost is proportional to probed cell MASS, so a ballooning max
    * cell means the quantizer no longer fits the corpus (heavy
    * appends drifting into few cells), and dead cells are exactly
    * the degraded-geometry symptom — deriving the census from the
    * partition layout alone would hide them and report a
    * 10%-populated index as "balanced". Metadata-only: a columnar
    * aggregate over the `cell` partition column (vectors never
    * read); the per-cell counts collect driver-side like
    * [[readCentroids]] — nCells ≈ √n rows, bounded, which buys
    * EXACT order statistics with zero-padding. */
  def stats(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val nCells = Readers.parquet(spark, s"$dir/centroids").count().toInt
    val populated = liveCells(spark, dir)
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .select("n").as[Long].collect()
    val all = (populated ++ Array.fill(
      math.max(0, nCells - populated.length))(0L)).sorted
    val nVec = populated.sum
    val imbalance =
      if (nVec == 0) 0L else all.last * 1000L * nCells / nVec
    Seq((nCells.toLong, populated.length.toLong, nVec,
        all.head, all((all.length - 1) / 2), all.last, imbalance))
      .toDF("n_cells", "n_cells_populated", "n_vectors",
        "min_cell", "p50_cell", "max_cell", "imbalance_milli")
  }

  private def readCentroids(spark: SparkSession, dir: String): Seq[Seq[Double]] = {
    import spark.implicits._
    // nCells rows (≈ √n) — bounded driver read, the probe-side analog
    // of the quantizer fit sample, NOT a corpus-scale collect; sorted
    // here, where a Spark sort would add a sample and a shuffle job
    Readers.parquet(spark, s"$dir/centroids").select("cell", "centroid")
      .as[(Int, Seq[Double])].collect().sortBy(_._1).map(_._2).toSeq
  }

  /** Top-k cosine neighbors for each query against a persisted index.
    * Output matches [[Ann.ivfTopK]]: (qid, rank, neighbor_id).
    * `nProbe <= 0` (the default) probes at the index's build-time
    * calibrated operating point (`meta.n_probe`); older indexes
    * without a meta table fall back to the √nCells heuristic. */
  def probe(spark: SparkSession, dir: String, queries: DataFrame,
            k: Int, nProbe: Int = 0): DataFrame = {
    val centroids = readCentroids(spark, dir)
    val probes =
      if (nProbe > 0) nProbe
      else
        try Readers.parquet(spark, s"$dir/meta").select("n_probe").head().getInt(0)
        catch { case scala.util.control.NonFatal(_) =>
          math.max(3, math.ceil(math.sqrt(centroids.length.toDouble)).toInt)
        }
    scoreCells(liveCells(spark, dir), queries, centroids,
      probes, k)
  }

  /** Pre-filtered probe (#195): top-k among only the indexed vectors
    * whose stored metadata columns satisfy `pred` —
    * [[Ann.filteredIvfTopKAuto]]'s serving twin against the persisted
    * index. The predicate applies AT THE CELL-FILE SCAN (metadata
    * columns are ordinary parquet columns beside (id, vec), so
    * row-group min/max stats prune before a single distance multiply),
    * and the probe budget widens PER QUERY from the measured PER-CELL
    * survivor distribution (one metadata-only groupBy that never
    * touches a vector): each query probes the minimal ranked-cell
    * prefix whose cumulative survivor mass reaches the candidate
    * count the build-time calibration solved for (base probes × the
    * unfiltered mean cell population), floored at the calibrated
    * base. A GLOBAL n/n_kept widening (the one-shot
    * [[Ann.filteredIvfTopKAuto]] keeps, documented there) restores
    * the candidate count only when survivors spread roughly uniformly
    * across cells; a predicate CORRELATED with embedding geometry —
    * `lang` on language-clustered vectors — concentrates survivors in
    * few cells, and the per-cell prefix keeps widening exactly where
    * the mass isn't, instead of silently under-probing. Degenerate
    * case: too few survivors in total ⇒ every cell probes — exact
    * filtered brute force. Survivor counts price the CURRENT cells
    * table, so appends are accounted for without a rebuild. */
  def probeFiltered(spark: SparkSession, dir: String, queries: DataFrame,
                    k: Int, pred: org.apache.spark.sql.Column): DataFrame = {
    val centroids = readCentroids(spark, dir)
    val base =
      try Readers.parquet(spark, s"$dir/meta").select("n_probe").head().getInt(0)
      catch { case scala.util.control.NonFatal(_) =>
        math.max(3, math.ceil(math.sqrt(centroids.length.toDouble)).toInt)
      }
    val cells = liveCells(spark, dir)
    val kept = cells.filter(pred)
    val n = cells.count()
    val nKept = kept.count()
    require(nKept > 0, "filter keeps no indexed vectors")
    // per-cell survivor mass: columnar metadata aggregate, no vectors
    val cellKept = kept.groupBy("cell").agg(count(lit(1)).as("__graft_kept"))
    // the candidate mass the calibrated recall target was solved for
    val target = math.max(1L, base.toLong * math.max(1L, n / centroids.length))
    val q = queries.select(col("id").as("qid"), col("vec").as("qvec"))
      .withColumn("qnrm", norm(col("qvec")))
      .filter(col("qnrm") > 0)
      .select(col("qid"), col("qvec"), col("qnrm"),
        posexplode(
          centroidCells(col("qvec"), col("qnrm"), centroids, centroids.length))
          .as(Seq("__graft_rk", "cell")))
    val wc = Window.partitionBy("qid").orderBy("__graft_rk")
    val probes = q.join(cellKept, Seq("cell"), "left")
      .withColumn("__graft_cum",
        sum(coalesce(col("__graft_kept"), lit(0L))).over(wc))
      // minimal ranked prefix: keep a cell while the survivor mass
      // STRICTLY BEFORE it is below target; floor at the calibrated
      // base so a generous filter never probes fewer cells than the
      // unfiltered operating point
      .filter(col("__graft_rk") < base ||
        col("__graft_cum") - coalesce(col("__graft_kept"), lit(0L)) < target)
      // survivor-free cells contribute no candidates — skip their scan
      .filter(col("__graft_kept").isNotNull)
      .select("qid", "qvec", "qnrm", "cell")
    val scored = Ann.spreadCorpus(kept) // sort-parallelism guard (Ann.ivfProbe)
      .join(broadcast(probes), Seq("cell"))
      .filter(col("id") =!= col("qid"))
      .withColumn("sim",
        cosinePrenormed(dot(col("qvec"), col("vec")), col("qnrm"), col("nrm")))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"),
        col("id").as("neighbor_id"))
  }

  /** MMR-diversified probe (#201): [[Ann.mmrTopK]]'s re-rank served
    * from the persisted index — candidates come from the calibrated
    * (or explicit) cell probe instead of a brute scan, then the same
    * shared greedy ([[Ann.mmrRerank]]) trades relevance against
    * redundancy per query. At λ = 1 this is exactly [[probe]] with
    * k = fetchK truncated to k (spec-pinned), so the index path
    * inherits MMR's correctness anchor. */
  def probeMmr(spark: SparkSession, dir: String, queries: DataFrame,
               k: Int, fetchK: Int, lambda: Double = 0.7,
               nProbe: Int = 0): DataFrame = {
    require(k <= fetchK, s"k=$k must be <= fetchK=$fetchK")
    val top = probeScored(spark, dir, queries, fetchK, nProbe)
      .select(col("qid"), col("neighbor_id"), col("rel"), col("nvec"))
    Ann.mmrRerank(top, k, lambda)
  }

  /** MMR operating-curve sweep served from the persisted index —
    * [[Ann.mmrSweep]]'s lifecycle twin, completing the pattern
    * [[probeSweep]] set for the probe knob: candidates come from ONE
    * calibrated (or explicit) cell probe at `fetchK` (partition-pruned
    * parquet scan, no brute corpus pass), are checkpointed, and each λ
    * re-runs only the bounded per-query greedy + metric fold. Output
    * matches [[Ann.mmrSweep]]: one (lambda_milli, mean_rel_milli,
    * mean_pair_sim_milli) row per λ — the table a RAG owner prices the
    * diversity knob from, now against the serving index rather than a
    * one-shot scan. AnnSpec pins the λ = 1 anchor (≡ the plain index
    * probe's mean relevance) and the directional contract. */
  def probeMmrSweep(spark: SparkSession, dir: String, queries: DataFrame,
                    k: Int, fetchK: Int,
                    lambdas: Seq[Double] = Seq(1.0, 0.7, 0.5, 0.3),
                    nProbe: Int = 0): DataFrame = {
    require(k <= fetchK, s"k=$k must be <= fetchK=$fetchK")
    val top = probeScored(spark, dir, queries, fetchK, nProbe)
      .select(col("qid"), col("neighbor_id"), col("rel"), col("nvec"))
    Ann.mmrSweepFrom(top, k, lambdas)
  }

  /** Index-served RRF (#299) — s23's fusion against the PERSISTED
    * index (the #201/#221 lifecycle pattern: every serving-path
    * operator gets a build-once/probe-many twin): the dense list per
    * query comes from the calibrated (or explicit) cell [[probe]] at
    * `fetchK` instead of a brute corpus pass, and fuses with a
    * caller-supplied lexical ranked list `lex` (qid, doc_id,
    * lex_rank — e.g. BM25 served from the t17 inverted index) by the
    * same integer-exact rule: rrf = Σ 10⁹ div (rrfK + rank), absent
    * list contributes 0, ties on doc_id. Both inputs are
    * ≤ fetchK-row-per-query frames, so the fusion join is
    * candidate-scale; the top-k window plans as WindowGroupLimit.
    * AnnSpec pins full-probe parity: at nProbe = nCells the output
    * equals [[graft.LlmQueries.s23RrfFusion]]'s oracled rows
    * rank-for-rank. */
  def probeRrf(spark: SparkSession, dir: String, queries: DataFrame,
               lex: DataFrame, k: Int, fetchK: Int = 20,
               nProbe: Int = 0, rrfK: Int = 60): DataFrame =
    Ann.rrfFuse(lex,
      probe(spark, dir, queries, fetchK, nProbe)
        .select(col("qid"), col("neighbor_id").as("doc_id"),
          col("rank").as("dense_rank")),
      k, rrfK)

  /** Index-served hard-negative mining (#302) —
    * [[Ann.hardNegativesIvf]]'s build-once/probe-many twin (the
    * #201/#221/#299 lifecycle pattern): candidates come from the
    * PERSISTED index's cell equi-join (partition-pruned, no refit per
    * call) and the same-root exclusion applies to the candidate set
    * BEFORE ranking, so k fills from eligible candidates next to any
    * cluster size — the exact kernel's contract, kept. The query side
    * is the indexed corpus itself (every live vector mines its own
    * negatives), so it is never broadcast — the cell join shuffles
    * both sides on the cell id exactly as the one-shot twin does.
    *
    * `nProbe <= 0` widens the operating point for the exclusion depth
    * on the persisted geometry: the stored `meta.n_probe` was
    * calibrated for UNRESTRICTED top-k, but a query's same-root
    * near-dups crowd its closest cells, so the k-th ELIGIBLE neighbor
    * sits deeper — [[Ann.probesForRecall]] is re-solved at
    * kCal = k + (size-weighted p99 cluster size − 1), capped 255
    * (identical rule, rationale and cap as [[Ann.hardNegativesIvf]]'s
    * scaladoc). The re-solve is bounded driver work (the 512-cap
    * calibration sample against √n centroids); a serving loop that
    * mines daily should pass the solved nProbe back explicitly.
    * `groups`: (id, root) — total over the indexed ids (inner-joined;
    * unrooted ids drop, the one-shot twin's convention). AnnSpec pins
    * full-probe parity with the exact [[Ann.hardNegatives]] kernel,
    * the exclusion contract, and a calibrated-probe recall floor. */
  def probeHardNegatives(spark: SparkSession, dir: String, k: Int,
                         groups: DataFrame, nProbe: Int = 0): DataFrame = {
    val centroids = readCentroids(spark, dir)
    val g = groups.select(col("id"), col("root"))
    // materialize the (cells ⋈ tombstone mask ⋈ groups) frame ONCE:
    // the calibration path reads it twice (count + calibration sample)
    // and the cell self-join twice more — without a barrier each
    // subplan re-runs the cells scan + anti-join + groups join (the
    // maintain/probeSweep checkpoint pattern)
    val live = liveCells(spark, dir).join(g, "id").localCheckpoint(true)
    val probes =
      if (nProbe > 0) nProbe
      else {
        val recall =
          try Readers.parquet(spark, s"$dir/meta")
            .select("recall_target").head().getDouble(0)
          catch { case scala.util.control.NonFatal(_) => 0.9 }
        val solved = Ann.probesForRecall(
          Ann.calibrationSample(live, live.count()),
          centroids, recall, kCal = k + Ann.exclusionDepth(g))
        Ann.warnDegenerateMiningGeometry("probeHardNegatives", solved,
          centroids.length)
        solved
      }
    val c = live.select(col("id").as("neighbor_id"), col("vec").as("cvec"),
      col("nrm").as("cnrm"), col("root").as("croot"), col("cell"))
    val q = live.select(col("id").as("qid"), col("vec").as("qvec"),
        col("nrm").as("qnrm"), col("root").as("qroot"))
      .withColumn("cell",
        explode(centroidCells(col("qvec"), col("qnrm"), centroids, probes)))
    Ann.rankExcludedCells(c, q, k)
  }

  /** Recall-vs-cost frontier (#209): sweep the probe budget against
    * the persisted index and report, per operating point, the
    * measured recall@k (vs exact brute force on a deterministic
    * corpus slice bounded by an ABSOLUTE query budget —
    * [[Ann.auditSampleMod]], the s14/[[maintain]] economics: a fixed
    * FRACTION would make the exact side Θ(n²) at 100×) and the
    * candidate volume a probe at that point scans. This is the
    * capacity-planning table a serving owner reads before picking a
    * latency budget — the stored calibrated point (meta.n_probe) is
    * ONE row of it. Monotonicity (recall never decreases with probes)
    * and the full-probe anchor (nProbe = nCells ⇒ recall 1.0 — probing
    * every cell IS brute force) are spec-pinned.
    *
    * Two paths, one result. The sweep scores about 2·n²/sampleMod
    * pairs, so a live index of at most ⌊√(bound · sampleMod)⌋ rows
    * ([[graft.etl.SmallPath]]'s bound; 1,280 at the default) is
    * collected once and swept on the driver ([[sweepOnDriver]]), at
    * the other small paths' scale of driver work and with no plan per
    * operating point. A larger index is swept DISTRIBUTED
    * ([[maintain]]'s shape: the exact truth materializes once as a
    * ≤ budget·k-row frame, each point is a join + 1-row aggregate) —
    * the driver only ever holds the final ppm scalars, never a
    * corpus-fraction pair set. AnnSpec forces each path and asserts
    * identical rows. */
  def probeSweep(spark: SparkSession, dir: String, k: Int = 10,
                 sampleMod: Int = 25,
                 probes: Seq[Int] = Nil,
                 sampleBudget: Long = 2048L): DataFrame = {
    import spark.implicits._
    val centroids = readCentroids(spark, dir)
    val nCells = centroids.length
    val points =
      if (probes.nonEmpty) probes
      else Seq(1, 2, 4, 8, nCells).distinct.filter(_ <= nCells).sorted
    val cut = math.min(Int.MaxValue - 1L,
      math.sqrt(SmallPath.bound.toDouble * sampleMod).toLong)
    // one task reads at most cut + 1 rows: one job, where a bounded
    // collect over the cell files scales up over several
    val small = SmallPath.collectBelow(
      liveCells(spark, dir).select("id", "vec", "nrm", "cell").coalesce(1), cut)
    if (small.isDefined)
      return sweepOnDriver(small.get, centroids, points, k, sampleMod, sampleBudget)
        .map { case (p, ppm) => (p.toLong, ppm, nCells.toLong) }
        .toDF("n_probe", "recall_ppm", "n_cells").coalesce(1).orderBy("n_probe")
    val corpus = liveCells(spark, dir).select("id", "vec")
    val n = corpus.count()
    val mod = Ann.auditSampleMod(n, sampleMod.toLong, sampleBudget)
    val sample = corpus.filter(pmod(col("id"), lit(mod)) === 0)
    // exact truth is ≤ budget·k rows — materialized ONCE and reused by
    // every operating point (never re-brute-forced, never collected)
    val exact = Ann.bruteForceTopK(corpus, sample, k)
      .select("qid", "neighbor_id").localCheckpoint(true)
    val nTrue = exact.count()
    if (nTrue == 0)
      return points.map(p => (p.toLong, 1000000L, nCells.toLong))
        .toDF("n_probe", "recall_ppm", "n_cells").orderBy("n_probe")
    // ONE scored pass serves every operating point (r15): the old
    // shape re-ran the whole probe pipeline per point — 5× the
    // liveCells scan, corpus cell assignment and window, with the
    // full-probe anchor alone costing a brute-force-sized scan
    // (sweep was the s-family's most expensive steady-state line,
    // 8.9 s at sf0.1 / 16.9 s at sf1). Candidates at budget p are a
    // PREFIX of the full-probe candidates under the query's
    // nearest-cell order, so: score once with the cell's probe rank
    // attached, then one shared-sort (sim desc, id asc) pass computes
    // each point's filtered running count rnk_p — row_number among
    // candidates with crank ≤ p — and a row is a point-p hit iff
    // crank ≤ p ∧ rnk_p ≤ k ∧ it's in the exact truth. One exchange,
    // the per-point windows reuse the same sort, no candidate-frame
    // materialization (scale-clean: nothing beyond the one shuffle).
    val cells = liveCells(spark, dir)
    val c = Ann.spreadCorpus(cells) // sort-parallelism guard (Ann.ivfProbe)
      .select(col("id").as("neighbor_id"), col("vec").as("cvec"),
        col("nrm").as("cnrm"), col("cell"))
    val q = sample.select(col("id").as("qid"), col("vec").as("qvec"))
      .withColumn("qnrm", norm(col("qvec")))
      .filter(col("qnrm") > 0)
      .select(col("qid"), col("qvec"), col("qnrm"),
        posexplode(centroidCells(col("qvec"), col("qnrm"), centroids, nCells))
          .as(Seq("crank0", "cell")))
    val scoredAll = c.join(broadcast(q), Seq("cell"))
      .filter(col("neighbor_id") =!= col("qid"))
      .withColumn("sim",
        cosinePrenormed(dot(col("qvec"), col("cvec")), col("qnrm"), col("cnrm")))
      .select(col("qid"), col("cell"), col("neighbor_id"), col("sim"),
        (col("crank0") + 1).as("crank"))
    // SOUND per-(query, cell) top-k pre-prune: a candidate outside its
    // own cell's k best can never enter ANY operating point's top-k
    // (every candidate set containing it already holds k better rows
    // from that same cell). This window carries a rank-≤-k filter, so
    // it plans as WindowGroupLimit — map-side partial top-k, near-zero
    // exchange — and shrinks the running-count stage's full sort from
    // budget·n candidate rows to ≤ budget·nCells·k (≈ budget·k·√n):
    // without it the one-pass shape lost the old per-point plans'
    // WindowGroupLimit and re-measured SLOWER at corpus scale (19.3
    // vs 14.5 s at sf1; the prune restores par — the remaining floor
    // is the DEFINITIONAL budget·n scoring volume of the exact side
    // plus the full-probe anchor, paid once each).
    val wCell = Window.partitionBy("qid", "cell")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    val scored = scoredAll
      .withColumn("__cellrank", row_number().over(wCell))
      .filter(col("__cellrank") <= k)
      .drop("__cellrank", "cell")
      .join(broadcast(exact.withColumn("hit", lit(1L))),
        Seq("qid", "neighbor_id"), "left")
    val w = Window.partitionBy("qid")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = points.foldLeft(scored) { (df, p) =>
      df.withColumn(s"__rnk_$p",
        sum(when(col("crank") <= p, 1L).otherwise(0L)).over(w))
    }
    val hitCols = points.map(p =>
      sum(when(col("crank") <= p && col(s"__rnk_$p") <= k,
        coalesce(col("hit"), lit(0L))).otherwise(0L)).as(s"__h_$p"))
    val hits = ranked.agg(hitCols.head, hitCols.tail: _*).head()
    points.zipWithIndex.map { case (p, i) =>
      (p.toLong, hits.getLong(i) * 1000000L / nTrue, nCells.toLong)
    }.toDF("n_probe", "recall_ppm", "n_cells").orderBy("n_probe")
  }

  /** [[probeSweep]]'s distributed rows, (n_probe, recall_ppm) per
    * point, computed on the driver from the collected live cells
    * (id, vec, nrm, cell). Each step is the plan's own arithmetic, not
    * a re-derivation: the dot of [[graft.functions.DotProduct]], the
    * cell order of [[graft.functions.CentroidCells]], `math.sqrt`
    * norms (the stored `nrm` on the candidate side, recomputed on the
    * exact side as [[Ann.bruteForceTopK]] does), the `pmod` id sample,
    * SQL `> 0` (a NaN norm passes), `neighbor_id ≠ qid` (a NULL id
    * never joins), Spark's double ordering then id ascending, the
    * per-(query, cell) top-k prune and the left join to the exact
    * truth (one row per matching truth row). */
  private def sweepOnDriver(rows: Array[org.apache.spark.sql.Row],
                            centroids: Seq[Seq[Double]], points: Seq[Int],
                            k: Int, sampleMod: Int,
                            sampleBudget: Long): Seq[(Int, Long)] = {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
    final case class V(id: Long, vec: ArrayData, nrm: Double, cell: Int)
    final case class Scored(nid: Long, sim: Double, crank: Int)
    def positive(d: Double): Boolean = d > 0 || d.isNaN
    def norm(v: ArrayData): Double = math.sqrt(DotProduct.doubles(v, v))
    def cosine(q: V, qnrm: Double, c: V, cnrm: Double): Double =
      DotProduct.doubles(q.vec, c.vec) / (qnrm * cnrm)
    // (sim desc, neighbor_id asc) — the windows' order
    val bySim: Ordering[Scored] = (a: Scored, b: Scored) => {
      val c = SQLOrderingUtil.compareDoubles(b.sim, a.sim)
      if (c != 0) c else java.lang.Long.compare(a.nid, b.nid)
    }
    val n = rows.length.toLong
    // build stored a vec, nrm and cell on every row; a NULL id is
    // counted in n but never sampled or joined
    val vs = rows.filter(!_.isNullAt(0)).map(r => V(r.getLong(0),
      UnsafeArrayData.fromPrimitiveArray(r.getSeq[Double](1).toArray),
      r.getDouble(2), r.getInt(3)))
    val mod = Ann.auditSampleMod(n, sampleMod.toLong, sampleBudget)
    val queries = vs.filter(v => java.lang.Math.floorMod(v.id, mod) == 0L)
      .map(q => (q, norm(q.vec))).filter(q => positive(q._2))
    // exact truth: (qid, neighbor_id) -> its rows in the top-k
    val exactSide = vs.map(c => (c, norm(c.vec))).filter(c => positive(c._2))
    val truth = scala.collection.mutable.HashMap.empty[(Long, Long), Int]
    queries.foreach { case (q, qnrm) =>
      exactSide.filter(_._1.id != q.id)
        .map { case (c, cnrm) => Scored(c.id, cosine(q, qnrm, c, cnrm), 0) }
        .sorted(bySim).take(k)
        .foreach(s => truth((q.id, s.nid)) = truth.getOrElse((q.id, s.nid), 0) + 1)
    }
    val nTrue = truth.valuesIterator.sum.toLong
    if (nTrue == 0L) return points.map(p => (p, 1000000L))
    val byCell = vs.groupBy(_.cell)
    val cellOrder = CentroidCells.onDriver(centroids, centroids.length)
    val hits = new Array[Long](points.length)
    queries.foreach { case (q, qnrm) =>
      val order = cellOrder(q.vec, qnrm).toIntArray()
      // the query's candidates by (cell, probe rank), each cell's k best
      val kept = order.zipWithIndex.groupBy(_._1).toSeq.flatMap {
        case (cell, ranks) =>
          ranks.toSeq.flatMap { case (_, r) =>
            byCell.getOrElse(cell, Array.empty[V]).toSeq.filter(_.id != q.id)
              .map(c => Scored(c.id, cosine(q, qnrm, c, c.nrm), r + 1))
          }.sorted(bySim.orElseBy(_.crank)).take(k)
      }.flatMap { s =>
        val m = truth.getOrElse((q.id, s.nid), 0)
        Seq.fill(math.max(m, 1))((s, m > 0))
      }.sortBy(_._1)(bySim.orElseBy(_.crank))
      points.indices.foreach { i =>
        var rnk = 0L
        kept.foreach { case (s, hit) =>
          if (s.crank <= points(i)) {
            rnk += 1
            if (hit && rnk <= k) hits(i) += 1
          }
        }
      }
    }
    points.indices.map(i => (points(i), hits(i) * 1000000L / nTrue))
  }

  private def probeScored(spark: SparkSession, dir: String,
                          queries: DataFrame, fetchK: Int,
                          nProbe: Int): DataFrame = {
    val centroids = readCentroids(spark, dir)
    val probes =
      if (nProbe > 0) nProbe
      else
        try Readers.parquet(spark, s"$dir/meta").select("n_probe").head().getInt(0)
        catch { case scala.util.control.NonFatal(_) =>
          math.max(3, math.ceil(math.sqrt(centroids.length.toDouble)).toInt)
        }
    val cells = liveCells(spark, dir)
    val q = queries.select(col("id").as("qid"), col("vec").as("qvec"))
      .withColumn("qnrm", norm(col("qvec")))
      .filter(col("qnrm") > 0)
      .withColumn("cell",
        explode(centroidCells(col("qvec"), col("qnrm"), centroids, probes)))
    val scored = Ann.spreadCorpus(cells) // sort-parallelism guard (Ann.ivfProbe)
      .join(broadcast(q), Seq("cell"))
      .filter(col("id") =!= col("qid"))
      .withColumn("sim", cosinePrenormed(dot(col("qvec"), col("vec")), col("qnrm"), col("nrm")))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= fetchK)
      .select(col("qid"), col("rank"), col("id").as("neighbor_id"),
        col("sim").as("rel"), col("vec").as("nvec"))
  }

  private def scoreCells(cells: DataFrame, queries: DataFrame,
                         centroids: Seq[Seq[Double]], probes: Int,
                         k: Int): DataFrame = {
    val q = queries.select(col("id").as("qid"), col("vec").as("qvec"))
      .withColumn("qnrm", norm(col("qvec")))
      .filter(col("qnrm") > 0)
      .withColumn("cell",
        explode(centroidCells(col("qvec"), col("qnrm"), centroids, probes)))
    val scored = Ann.spreadCorpus(cells) // sort-parallelism guard (Ann.ivfProbe)
      .join(broadcast(q), Seq("cell"))
      .filter(col("id") =!= col("qid"))
      .withColumn("sim", cosinePrenormed(dot(col("qvec"), col("vec")), col("qnrm"), col("nrm")))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"),
        col("id").as("neighbor_id"))
  }
}
