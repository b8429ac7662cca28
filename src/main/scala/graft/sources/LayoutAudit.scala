package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-skipping layout audit (#243) — the "is this table laid out
  * for its read pattern?" report behind OPTIMIZE/ZORDER decisions
  * (q47 computes the layout KEY; this measures what a layout actually
  * buys). Parquet footers already carry per-row-group column min/max
  * — the statistics every engine's scan planner prunes with — so the
  * audit is METADATA-ONLY: it reads footers, never data pages. At
  * 100 TB that is the difference between an audit costing kilobytes
  * per file and one costing a column scan; file count can still be
  * large, so footer reads are DISTRIBUTED (one Spark task per slice
  * of the file list), not a driver loop.
  *
  * The payoff table ([[skippingReport]]) prices a predicate range
  * against the stats: a row group is SKIPPED when its [min, max]
  * misses the range — the exact rule Spark's parquet reader applies
  * from `PushedFilters` — so `skip_ppm` is the fraction of row groups
  * (and `rows_skipped` the row mass) a range scan never touches.
  * Clustered-on-key layouts score near 10⁶·(1−selectivity); a random
  * layout scores ~0 because every row group's [min, max] spans the
  * domain (both directions spec-pinned on the same rows, re-laid-out).
  */
object LayoutAudit {

  /** Per-ROW-GROUP footer stats for one INT64/INT32 column:
    * (file, row_group, n_rows, min_val, max_val). Footers are read in
    * distributed tasks over the file list; the Hadoop conf travels
    * serialized as (key, value) pairs (Configuration itself is not
    * serializable). Fails loudly on a column without statistics —
    * an audit that silently treats missing stats as "prunable" would
    * overstate the layout. */
  def fileStats(spark: SparkSession, path: String,
                column: String): DataFrame = {
    import spark.implicits._
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // recursive: partitioned tables keep their files under key= dirs
    val it = fs.listFiles(root, true)
    val fb = new scala.collection.mutable.ArrayBuffer[String]()
    val rootUri = root.toUri.getPath
    // Spark's InMemoryFileIndex visibility rule: any path segment below
    // the root starting with '_' or '.' is invisible (writeShards'
    // `_manifest`, compaction markers, compactSmallFiles' per-partition
    // `.<dir>.compact-small-inprogress` staging; Writers.replaceDir
    // stages beside the root, not under it) — auditing those would
    // read foreign schemas or count row groups the scan never sees.
    def visible(p: Path): Boolean = {
      val rel = p.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
      rel.split('/').forall(s =>
        s.nonEmpty && !s.startsWith("_") && !s.startsWith("."))
    }
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.endsWith(".parquet") && visible(p)) fb += p.toString
    }
    val files = fb.toSeq
    require(files.nonEmpty, s"no parquet files under $path")
    val confKv = spark.sparkContext.hadoopConfiguration.iterator()
    val kv = new scala.collection.mutable.ArrayBuffer[(String, String)]()
    while (confKv.hasNext) { val e = confKv.next(); kv += ((e.getKey, e.getValue)) }
    val kvSer = kv.toSeq
    val slices = math.max(1, math.min(files.size,
      spark.sparkContext.defaultParallelism))
    spark.sparkContext.parallelize(files, slices).flatMap { f =>
      val conf = new Configuration(false)
      kvSer.foreach { case (k, v) => conf.set(k, v) }
      val in = HadoopInputFile.fromPath(new Path(f), conf)
      val reader = ParquetFileReader.open(in)
      try {
        val md = reader.getFooter.getBlocks
        (0 until md.size()).map { i =>
          val block = md.get(i)
          val colMd = (0 until block.getColumns.size())
            .map(block.getColumns.get)
            .find(_.getPath.toDotString == column)
            .getOrElse(throw new IllegalArgumentException(
              s"column $column not found in $f"))
          val stats = colMd.getStatistics
          require(stats != null && !stats.isEmpty,
            s"no statistics for $column in $f row group $i")
          val (lo, hi) = (stats.genericGetMin, stats.genericGetMax) match {
            case (a: java.lang.Long, b: java.lang.Long) => (a.toLong, b.toLong)
            case (a: java.lang.Integer, b: java.lang.Integer) =>
              (a.toLong, b.toLong)
            case other => throw new IllegalArgumentException(
              s"unsupported stats type for $column: $other")
          }
          (f, i.toLong, block.getRowCount, lo, hi)
        }
      } finally reader.close()
    }.toDF("file", "row_group", "n_rows", "min_val", "max_val")
  }

  /** Skip-effectiveness per predicate range: how many row groups (and
    * rows) a scan for `column BETWEEN lo AND hi` never opens under
    * the footer-stats pruning rule (skip ⇔ max < lo ∨ min > hi).
    * One row per range: (lo, hi, n_groups, groups_skipped, rows_total,
    * rows_skipped, skip_ppm). Aggregates the [[fileStats]] frame —
    * still metadata-only. */
  def skippingReport(spark: SparkSession, path: String, column: String,
                     ranges: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val stats = fileStats(spark, path, column)
    val r = ranges.toDF("lo", "hi")
    stats.crossJoin(broadcast(r))
      .withColumn("skipped",
        (col("max_val") < col("lo")) || (col("min_val") > col("hi")))
      .groupBy("lo", "hi")
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("skipped"), 1L).otherwise(0L)).as("groups_skipped"),
        sum("n_rows").as("rows_total"),
        sum(when(col("skipped"), col("n_rows")).otherwise(0L))
          .as("rows_skipped"))
      .withColumn("skip_ppm",
        expr("rows_skipped * 1000000 div rows_total"))
      .orderBy("lo", "hi")
  }
}
