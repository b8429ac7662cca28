package graft.sources

import java.io.IOException

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Sinks mirroring the reference's load stage
  * (dags/etl_grammy_spotify.py:305-379: CSV file + `to_sql` replace,
  * plus the cloud-storage artifact upload at :330-357).
  */
object Writers {

  /** Partitioned parquet — the scale-native sink. `partitionBy` on a
    * low-cardinality column gives partition pruning to every
    * downstream reader; `maxRecordsPerFile` bounds file sizes. */
  def parquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
              mode: SaveMode = SaveMode.Overwrite,
              maxRecordsPerFile: Long = 5000000L): Unit = {
    val w = df.write.mode(mode)
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** CSV with header (the reference's final artifact shape). */
  def csv(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).option("header", "true").csv(path)

  /** Partition-level backfill — overwrite ONLY the partitions present
    * in `df`, leaving every other partition of the table untouched
    * (Spark's dynamic partitionOverwriteMode, scoped to this one
    * write instead of mutating session config). This is the
    * production backfill story at 100 TB: re-running one bad day of
    * an events table must never clobber the other 3649 days, and
    * static-mode `Overwrite` does exactly that clobbering. The write
    * commits per-partition through the normal FileOutputCommitter
    * protocol, so a crashed backfill leaves untouched partitions
    * intact and re-running it is idempotent. */
  def overwritePartitions(df: DataFrame, path: String,
                          partitionBy: Seq[String],
                          maxRecordsPerFile: Long = 5000000L): Unit = {
    require(partitionBy.nonEmpty, "overwritePartitions needs partition columns")
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .partitionBy(partitionBy: _*)
      .parquet(path)
  }

  /** The no-loss directory commit of every whole-directory replace
    * ([[publish]], [[writeShards]], [[compact]],
    * [[graft.sim.AnnIndex.purge]]): heal an interrupted earlier replace
    * ([[healReplace]]), let `fill` fully write the new directory into
    * `staging` (a hidden sibling of `target`), move the old `target`
    * aside to `.name.previous`, rename `staging` in, drop the old. Each
    * rename is atomic on HDFS/POSIX and the previous directory is never
    * deleted before the new one is in place: readers may see `target`
    * briefly absent, never half-written or lost (HDFS cannot replace a
    * non-empty directory in one rename; on object stores front this
    * with a manifest/versioned prefix). A concurrent healer can win
    * either rename: if it restored the OLD directory first our rename
    * nested inside it, so un-nest and retry once; if it rolled OUR
    * staging forward the swap is committed. Anything else throws, so a
    * caller never takes its next step (purge's tombstone clear) unless
    * the new directory is live. Returns `fill`'s result; `complete` as
    * in [[healReplace]]. */
  private[graft] def replaceDir[A](fs: FileSystem, target: Path, staging: Path,
                                   complete: String = "_SUCCESS")
                                  (fill: Path => A): A = {
    healReplace(fs, target, staging, complete)
    val prev = hiddenSibling(target, "previous")
    fs.delete(staging, true)
    val result = fill(staging)
    fs.delete(prev, true)
    if (fs.exists(target) && !fs.rename(target, prev))
      throw new IOException(s"rename $target -> $prev failed")
    if (fs.rename(staging, target)) {
      val nested = new Path(target, staging.getName)
      if (fs.exists(nested)) {
        fs.rename(nested, staging)
        if (!fs.rename(target, prev) || !fs.rename(staging, target))
          throw new IOException(
            s"swap retry $staging -> $target failed (previous at $prev)")
      }
    } else if (!(fs.exists(target) && !fs.exists(staging)))
      throw new IOException(
        s"rename $staging -> $target failed (previous at $prev)")
    fs.delete(prev, true)
    fs.delete(staging, true) // a healer that lost a race may un-nest a copy back
    result
  }

  /** Complete or roll back a [[replaceDir]] interrupted between its two
    * renames, when `target` is absent but the data is safe: roll
    * FORWARD when the staging dir is complete (`staging/complete`
    * exists; `fill` finished before the first rename), else restore
    * `.name.previous`. One `exists` probe when `target` is present. A
    * live replace can be in the same window, and Hadoop rename ONTO an
    * existing dir NESTS the source inside it and reports success, so
    * each rename un-nests if the racer committed first — a nested
    * hidden copy would keep bytes on disk that no read sees (for
    * [[graft.sim.AnnIndex.purge]], purged rows). */
  private[graft] def healReplace(fs: FileSystem, target: Path, staging: Path,
                                 complete: String = "_SUCCESS"): Unit = {
    if (fs.exists(target)) return
    val prev = hiddenSibling(target, "previous")
    def renameUnlessNested(src: Path): Boolean = {
      if (!fs.rename(src, target)) return false
      val nested = new Path(target, src.getName)
      if (fs.exists(nested)) { fs.rename(nested, src); false } else true
    }
    if (fs.exists(new Path(staging, complete)) && renameUnlessNested(staging)) {
      fs.delete(prev, true)
    } else if (!fs.exists(target) && fs.exists(prev)) {
      if (!renameUnlessNested(prev) && !fs.exists(target))
        throw new IOException(s"recovery: rename $prev -> $target failed")
    }
  }

  /** `.name.suffix` beside `p` — the hidden-sibling naming of every
    * staging and previous directory (invisible to Spark's file index). */
  private[graft] def hiddenSibling(p: Path, suffix: String): Path =
    new Path(p.getParent, s".${p.getName}.$suffix")

  /** The data-file rule of Spark's file index for one listed entry: a
    * file whose name is neither `_`- nor `.`-prefixed (`_SUCCESS`,
    * manifests, commit markers and hidden staging are not data). */
  private[graft] def isDataFile(st: FileStatus): Boolean = {
    val n = st.getPath.getName
    st.isFile && !n.startsWith("_") && !n.startsWith(".")
  }

  /** Every file under `root`, recursively, that `keep` accepts. */
  private def listFiles(fs: FileSystem, root: Path)
                       (keep: FileStatus => Boolean): Seq[FileStatus] = {
    val it = fs.listFiles(root, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
    while (it.hasNext) { val st = it.next(); if (keep(st)) buf += st }
    buf.toSeq
  }

  /** Move the data files of `staged` into `live` under their own names
    * — the idempotent staged-file move-in of [[compactSmallFiles]],
    * [[finishPendingCompaction]] and [[graft.sim.AnnIndex]]'s split
    * apply. A file already at its live name is skipped (a re-run after
    * a crash mid-move), and a rename lost to a concurrent healer is
    * accepted when the destination exists. Staged names must be
    * job-unique (Spark part-file names are). Returns the number of
    * data files `staged` held. */
  private[graft] def moveIn(fs: FileSystem, staged: Path, live: Path): Int = {
    val files = fs.listStatus(staged).filter(isDataFile)
    files.foreach { st =>
      val to = new Path(live, st.getPath.getName)
      if (!fs.exists(to) && !fs.rename(st.getPath, to) && !fs.exists(to))
        throw new IOException(s"rename ${st.getPath} -> $to failed")
    }
    files.length
  }

  /** Publish a final artifact to any Hadoop-FS URI with no-loss
    * replace — the public-knowledge analog of the reference's Drive
    * upload (dags/etl_grammy_spotify.py:330-357): written into
    * `.name.inprogress` and swapped in by [[replaceDir]], so a crash
    * mid-publish never loses the previous artifact. Idempotent:
    * re-publishing replaces. */
  def publish(df: DataFrame, uri: String, format: String = "parquet"): Unit = {
    val target = new Path(uri)
    val fs = target.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    replaceDir(fs, target, hiddenSibling(target, "inprogress")) { tmp =>
      df.write.mode(SaveMode.Overwrite)
        .option("header", "true") // no-op for parquet, header for csv
        .format(format).save(tmp.toString)
    }
  }

  /** #240: deterministic sharded corpus export — materialize a shard
    * plan ([[graft.TrainingDataQueries.t39ShardPlan]]'s shape: `shard`
    * + `seq` + `doc_id` + `n_tok` + payload columns) as a
    * shard-partitioned parquet table WITH a per-shard `_manifest`:
    * (shard, n_docs, n_tokens, content_md5), where content_md5 chains
    * the docs' text digests in `seq` order — the checkable receipt a
    * training job verifies before (and audits after) consuming a
    * shard, and the unit of retry when one transfer corrupts. The
    * manifest lives INSIDE the artifact under the `_`-prefix (invisible
    * to Spark's file index, travels with the data), and the whole
    * artifact swaps in via [[replaceDir]] from `.name.inprogress` — a
    * staged export counts as complete only once its manifest landed,
    * so re-export is idempotent and readers never see data without
    * its manifest. Per-shard digest state is bounded by the token
    * budget (a configuration constant), so the collect inside the
    * manifest aggregate is shard-sized however large the corpus.
    * Returns (nShards, nDocs). */
  def writeShards(plan: DataFrame, dir: String): (Long, Long) = {
    import org.apache.spark.sql.functions._
    val spark = plan.sparkSession
    val target = new Path(dir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    replaceDir(fs, target, hiddenSibling(target, "inprogress"),
        complete = "_manifest/_SUCCESS") { tmp =>
      plan.repartition(col("shard")).sortWithinPartitions("seq")
        .write.mode(SaveMode.Overwrite)
        .partitionBy("shard").parquet(tmp.toString)
      // manifest from the WRITTEN files — it certifies what landed, not
      // what was asked for. The explicit schema keeps a ZERO-row plan
      // sound: a partitioned write of an empty frame lands only
      // _SUCCESS, and a schema-less read of that directory cannot infer
      // one (an empty split must publish an empty-but-readable
      // artifact, not abort the export after siblings already swapped)
      val written = spark.read.schema(plan.schema).parquet(tmp.toString)
      val manifest = written
        .withColumn("__h", md5(col("text").cast("binary")))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tok").as("n_tokens"),
          md5(concat_ws("",
            transform(array_sort(collect_list(struct(col("seq"), col("__h")))),
              x => x.getField("__h"))).cast("binary")).as("content_md5"))
      val manifestDir = new Path(tmp, "_manifest").toString
      manifest.repartition(1).write.mode(SaveMode.Overwrite).parquet(manifestDir)
      // count from the one-file manifest just written (one row per
      // shard), read with the schema it was written with, instead of
      // re-aggregating every shard
      val nDocs = spark.read.schema(manifest.schema).parquet(manifestDir)
        .select("n_docs").collect().map(_.getLong(0))
      (nDocs.length.toLong, nDocs.sum)
    }
  }

  /** Small-file compaction — the OPTIMIZE analog for plain parquet
    * tables. Streaming sinks and fine-grained partitioned writes
    * accumulate files far below the scan sweet spot; at 100 TB the
    * scan's task count and the listing cost are proportional to FILE
    * COUNT, so periodic compaction to ~targetFileBytes files is table
    * maintenance, not an optimization. The table is read, coalesced
    * to ⌈bytes/target⌉ output partitions, fully materialized into
    * `.name.compact-inprogress` and swapped in by [[replaceDir]] —
    * readers never observe a half-compacted table, and a run
    * interrupted mid-swap is completed by the next one. With
    * `partitionBy`, rows are hash-distributed on the partition columns
    * so each partition dir compacts to one file per value (sizes then
    * follow value skew — split hot partitions upstream). Returns
    * (filesBefore, filesAfter) for maintenance-job observability. */
  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 128L * 1024 * 1024,
              partitionBy: Seq[String] = Nil): (Int, Int) = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive: $targetFileBytes")
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = replaceDir(fs, target, hiddenSibling(target, "compact-inprogress")) { tmp =>
      val files = listFiles(fs, target)(isDataFile)
      val nOut = math.max(1,
        math.ceil(files.map(_.getLen).sum.toDouble / targetFileBytes).toInt)
      val df0 = Readers.parquet(spark, path)
      val df = if (partitionBy.nonEmpty) df0.repartition(nOut, partitionBy.map(col): _*)
               else df0.repartition(nOut)
      parquet(df, tmp.toString, partitionBy)
      files.size
    }
    (before, listFiles(fs, target)(isDataFile).size)
  }

  /** Size-aware small-file compaction — rewrites ONLY the small-file
    * tail. [[compact]] rewrites every byte of the table; at 100 TB a
    * maintenance pass that rewrites 100 TB to fix 1% small files is
    * not runnable. This variant walks each leaf directory (per
    * partition dir for partitioned tables), merges just the data
    * files smaller than `minFileBytes` into ~`targetFileBytes` peers,
    * and leaves every large file untouched — bytes rewritten are
    * proportional to the small-file TAIL, not the table.
    *
    * Swap protocol (per directory, no table-root rename — the
    * whole-table-missing window of [[replaceDir]] does not exist
    * here):
    *   1. merged output of the small files is fully materialized into
    *      a hidden sibling dir;
    *   2. a `_graft_compaction_pending` marker naming the staging dir
    *      (`tmp=` line) and listing the doomed originals is written
    *      into the live dir (underscore-prefixed → invisible to
    *      readers);
    *   3. merged files move in ([[moveIn]]);
    *   4. originals are deleted, then the marker, then the staging
    *      dir.
    * A crash never loses rows: before step 2 the originals are intact
    * (tmp dir is garbage); from step 2 on, recovery FIRST completes
    * step 3 from the named staging dir and only then deletes the
    * redundant originals — the next `compactSmallFiles` run (or
    * [[finishPendingCompaction]]) does both in that order.
    * Readers racing step 3–4 can transiently see duplicated rows
    * (bounded by the small tail); strict readers should snapshot via
    * [[publish]] or schedule compaction in a maintenance window —
    * plain parquet directories have no atomic multi-file commit
    * (that's a table format's transaction log).
    *
    * @return (filesRewritten, filesCreated) across all directories
    */
  def compactSmallFiles(spark: SparkSession, path: String,
                        minFileBytes: Long,
                        targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    require(minFileBytes > 0, s"minFileBytes must be positive: $minFileBytes")
    require(targetFileBytes >= minFileBytes,
      s"targetFileBytes $targetFileBytes < minFileBytes $minFileBytes")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    finishPendingCompaction(spark, path)
    // leaf dirs = parents of data files (partition dirs, or the root)
    val byDir = listFiles(fs, root)(isDataFile).groupBy(_.getPath.getParent)
    var rewritten = 0; var created = 0
    byDir.foreach { case (dir, files) =>
      val smalls = files.filter(_.getLen < minFileBytes)
      if (smalls.size >= 2) { // one small file alone has no merge peer
        val smallBytes = smalls.map(_.getLen).sum
        val nOut = math.max(1, math.ceil(smallBytes.toDouble / targetFileBytes).toInt)
        val tmp = hiddenSibling(dir, "compact-small-inprogress")
        fs.delete(tmp, true)
        // coalesce, not repartition: merging needs no shuffle
        Readers.parquet(spark, smalls.map(_.getPath.toString): _*)
          .coalesce(nOut)
          .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
        val marker = new Path(dir, "_graft_compaction_pending")
        val out = fs.create(marker, true)
        out.write((s"tmp=${tmp.getName}" +: smalls.map(_.getPath.getName))
          .mkString("\n").getBytes("UTF-8"))
        out.close()
        val merged = moveIn(fs, tmp, dir)
        smalls.foreach(st => fs.delete(st.getPath, false))
        fs.delete(marker, false)
        fs.delete(tmp, true)
        rewritten += smalls.size
        created += merged
      }
    }
    (rewritten, created)
  }

  /** Complete any compaction swap interrupted after its commit
    * marker: for every `_graft_compaction_pending` marker under
    * `path`, FIRST move any still-staged merged files in from the
    * marker's named staging dir ([[moveIn]] — without this, deleting
    * the originals while their replacements sat in the hidden staging
    * dir silently lost the small tail's rows in the marker→merge-in
    * crash window), then delete the listed originals that still
    * exist, then the marker and staging dir. Idempotent; called
    * automatically at the start of [[compactSmallFiles]]. Markers from
    * pre-`tmp=` versions (no staging line) behave as before. */
  def finishPendingCompaction(spark: SparkSession, path: String): Int = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    val markers = listFiles(fs, root)(st =>
      st.isFile && st.getPath.getName == "_graft_compaction_pending").map(_.getPath)
    markers.foreach { m =>
      val in = fs.open(m)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
                  finally in.close()
      val dir = m.getParent
      val tmp = lines.find(_.startsWith("tmp="))
        .map(l => new Path(dir.getParent, l.stripPrefix("tmp=")))
      tmp.filter(fs.exists).foreach(moveIn(fs, _, dir))
      lines.filter(l => l.nonEmpty && !l.startsWith("tmp=")).foreach { n =>
        val doomed = new Path(dir, n)
        if (fs.exists(doomed)) fs.delete(doomed, false)
      }
      fs.delete(m, false)
      tmp.foreach(t => fs.delete(t, true))
    }
    markers.size
  }

  /** JDBC writer builder (`to_sql(if_exists="replace")` analog),
    * fired against embedded Derby in SourcesSpec. Batched inserts +
    * `truncate` (instead of drop/create) are the options that matter
    * under load. */
  def jdbc(df: DataFrame, url: String, table: String,
           props: Map[String, String] = Map.empty): DataFrameWriter[Row] = {
    val base = df.write.format("jdbc")
      .mode(SaveMode.Overwrite)
      .option("url", url)
      .option("dbtable", table)
      .option("truncate", "true")
      .option("batchsize", "10000")
    props.foldLeft(base) { case (w, (k, v)) => w.option(k, v) }
  }
}
