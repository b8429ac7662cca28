package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Exact
import graft.functions.{BloomFilter, ExactPercentile}

/** Persisted mergeable sketch artifacts — the incremental-analytics
  * counterpart of [[graft.sim.AnnIndex]]: each ingest batch builds its
  * own sketch ONCE, the artifact (kilobytes) is stored next to the
  * data, and any later consumer merges the sketches it needs instead
  * of re-scanning the batches. Bloom insert only ever SETS bits, so
  * the OR-merge of per-batch filters is BIT-IDENTICAL to a filter
  * built over the union in one pass (spec-pinned) — merge order,
  * grouping, and re-merging are all free. That property is what makes
  * "seen-key" state maintainable across days at 100 TB: day N's probe
  * filter = OR of N daily kilobyte artifacts, no history re-scan.
  *
  * The artifact is one parquet row (words array + numHashes); array
  * columns are fine here — this is an internal artifact, not an
  * oracle-compared query output (ORACLE.md rule 7 applies to query
  * outputs only). */
object SketchStore {

  def saveBloom(spark: SparkSession, filter: BloomFilter.Filter,
                dir: String): Unit = {
    import spark.implicits._
    Seq((filter.words.toSeq, filter.numHashes))
      .toDF("words", "num_hashes")
      .repartition(1)
      .write.mode("overwrite").parquet(dir)
  }

  def loadBloom(spark: SparkSession, dir: String): BloomFilter.Filter = {
    import spark.implicits._
    val (words, nh) = Readers.parquet(spark, dir)
      .select("words", "num_hashes").as[(Seq[Long], Int)].head()
    BloomFilter.Filter(words.toArray, nh)
  }

  /** OR-merge; requires identically-sized filters (same sizing params
    * — a mismatched pair was built for a different keyspace budget and
    * their bit positions don't line up). */
  def mergeBloom(a: BloomFilter.Filter, b: BloomFilter.Filter): BloomFilter.Filter = {
    require(a.words.length == b.words.length && a.numHashes == b.numHashes,
      s"incompatible sketches: ${a.words.length}x${a.numHashes} vs ${b.words.length}x${b.numHashes}")
    val out = new Array[Long](a.words.length)
    var i = 0
    while (i < out.length) { out(i) = a.words(i) | b.words(i); i += 1 }
    BloomFilter.Filter(out, a.numHashes)
  }

  // ── Exact mergeable value histograms (quantile persistence) ──────
  //
  // The quantile analog of the bloom/HLL artifacts above: each ingest
  // batch reduces to a (group, scaled-value) → count histogram — an
  // EXACT summary whose merge is plain count addition, so quantiles
  // over any union of stored batches are answered by summing their
  // kilobyte-to-megabyte histograms, never by re-scanning the
  // batches. Size is bounded by the DISTINCT VALUE DOMAIN per group
  // (cents of a bounded price, integer lengths), not row count — the
  // regime where this beats a KLL sketch by being exact at comparable
  // size. For a genuinely unbounded continuous domain, pre-bucket the
  // value (q55's quantile bins) or fall back to approx_percentile.

  /** One batch's histogram frame: `groupCols` + scaled long `v`
    * (value·10^valPow, nulls dropped — quantile semantics) + `cnt`.
    * Exposed so producers can route it through a staged writer
    * ([[graft.etl.Stages.stage]], the q112 regime) instead of
    * [[saveHistogram]]'s overwrite.
    *
    * When valPow = 0 and the value column is already integral, the
    * column passes through UNTOUCHED: `Exact.e(c, 0)` = floor(c + 0.5)
    * would promote a BIGINT to DOUBLE — lossy above 2^53 and a quiet
    * float on an integer-exact artifact path. */
  def histogramFrame(df: DataFrame, groupCols: Seq[String], value: Column,
                     valPow: Int): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val isIntegral = df.select(value).schema.head.dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    val v =
      if (valPow == 0 && isIntegral) value.cast(LongType)
      else Exact.e(value, valPow)
    df.filter(value.isNotNull)
      .groupBy(groupCols.map(col) :+ v.as("v"): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Build and persist one batch's histogram ([[histogramFrame]]'s
    * columns). */
  def saveHistogram(df: DataFrame, groupCols: Seq[String], value: Column,
                    valPow: Int, dir: String,
                    partitionCols: Seq[String] = Nil): Unit = {
    val w = histogramFrame(df, groupCols, value, valPow)
      .write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(dir)
  }

  /** Merge stored histograms by count addition — associative,
    * commutative, re-mergeable (a merged histogram can itself be
    * saved and merged again). */
  def mergeHistograms(spark: SparkSession, dirs: Seq[String],
                      groupCols: Seq[String]): DataFrame = {
    require(dirs.nonEmpty, "no histogram artifacts to merge")
    dirs.map(Readers.parquet(spark, _))
      .reduce(_.unionByName(_))
      .groupBy((groupCols :+ "v").map(col): _*)
      .agg(sum("cnt").as("cnt"))
  }

  /** Exact interpolated quantiles from a (merged) stored histogram —
    * bit-identical to [[graft.functions.ExactPercentile.quantiles]]
    * over the union of the saved batches (spec-pinned). */
  def quantilesFromHistogram(hist: DataFrame, groupCols: Seq[String],
                             valPow: Int, outPow: Int,
                             pcts: Seq[ExactPercentile.Pct]): DataFrame =
    ExactPercentile.quantilesOfCounts(hist, groupCols, valPow, outPow, pcts)

  // ── Mergeable HLL distinct sketches (Datasketches binary) ────────

  /** Persist one batch's per-group HLL register sets. The lossless
    * union at equal lgK (the Spark default) makes day-N distinct
    * counts a merge of N stored kilobyte rows — same contract q71
    * pre-aggregates inline, exposed here as the build-once artifact
    * API. */
  def saveHll(df: DataFrame, groupCols: Seq[String], key: Column,
              dir: String): Unit =
    df.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_agg(key).as("hll_sk"), count(lit(1)).as("n_rows"))
      .write.mode("overwrite").parquet(dir)

  /** Union stored HLL artifacts per group and estimate: identical
    * registers to a single-pass sketch over the union of the saved
    * batches (spec-pinned estimate equality). */
  def unionHll(spark: SparkSession, dirs: Seq[String],
               groupCols: Seq[String]): DataFrame = {
    require(dirs.nonEmpty, "no HLL artifacts to merge")
    dirs.map(Readers.parquet(spark, _))
      .reduce(_.unionByName(_))
      .groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_estimate(hll_union_agg(col("hll_sk"))).as("approx_distinct"),
        sum("n_rows").as("n_rows"))
  }

  // ── Mergeable SpaceSaving top-k sketches ─────────────────────────

  /** Persist one batch's SpaceSaving buffer (q34's sketch, kept at
    * FULL capacity rather than cut to k — the merge needs every
    * counter: dropping the tail before merging voids the
    * n/capacity error bound). One row per counter + the capacity and
    * the batch's item count; day-N top-k = SpaceSaving-merge of N
    * kilobyte artifacts, never a history re-scan. */
  def saveTopK(items: DataFrame, itemCol: Column, capacity: Int,
               dir: String): Unit = {
    val spark = items.sparkSession
    import spark.implicits._
    val ds = items.select(itemCol.cast(org.apache.spark.sql.types.StringType))
      .as[String]
    val n = ds.count()
    val buffer = ds
      .select(new graft.functions.HeavyHitters(capacity, capacity)
        .toColumn.name("counters"))
      .head()
    buffer.toDF("item", "cnt")
      .withColumn("capacity", lit(capacity))
      .withColumn("n_items", lit(n))
      .repartition(1)
      .write.mode("overwrite").parquet(dir)
  }

  /** SpaceSaving-merge stored sketches and report the top k: the same
    * fold the Aggregator runs across partitions, applied across
    * ARTIFACTS — associative, so day ranges compose. Error inherits
    * the summed bound: any item with true frequency > Σn/capacity is
    * present, counts overestimate by ≤ Σn/capacity (spec-pinned in
    * PropertySpec against exact counts over the union). */
  def mergeTopK(spark: SparkSession, dirs: Seq[String], k: Int): Seq[(String, Long)] = {
    require(dirs.nonEmpty, "no top-k artifacts to merge")
    import spark.implicits._
    val parts = dirs.map { d =>
      val rows = Readers.parquet(spark, d)
        .select(col("item"), col("cnt"), col("capacity"))
        .as[(String, Long, Int)].collect()
      val cap = rows.headOption.map(_._3).getOrElse(0)
      (cap, scala.collection.mutable.Map(rows.map(r => r._1 -> r._2): _*))
    }
    val caps = parts.map(_._1).filter(_ > 0).toSet
    require(caps.size <= 1,
      s"incompatible top-k sketches: capacities $caps — merged bounds only hold at one capacity")
    val cap = caps.headOption.getOrElse(1)
    val hh = new graft.functions.HeavyHitters(cap, k)
    val merged = parts.map(_._2).reduce(hh.merge)
    hh.finish(merged)
  }

  /** Grouped variant of [[saveTopK]]: ONE distributed job builds a
    * SpaceSaving sketch per group (ingest day, source, …) and stores
    * all buffers as rows partitioned by group — the artifact layout a
    * day-ranged top-k consumer wants: any contiguous (or arbitrary)
    * set of days is answered by partition-pruned reads of those days'
    * kilobyte buffers, never a history re-scan, and never one driver
    * loop per day (N days is still one shuffle). Buffers are kept at
    * FULL capacity (see [[saveTopK]]); n per group is implicit — in
    * SpaceSaving every arrival increments exactly one counter (an
    * eviction inherits min+1 from a min-count counter it replaces),
    * so Σcnt per group IS that group's item count. */
  def saveTopKGrouped(items: DataFrame, groupCol: Column, itemCol: Column,
                      capacity: Int, dir: String): Unit = {
    val spark = items.sparkSession
    import spark.implicits._
    val hh = new graft.functions.HeavyHitters(capacity, capacity)
    items
      .select(groupCol.cast(org.apache.spark.sql.types.StringType).as("grp"),
        itemCol.cast(org.apache.spark.sql.types.StringType).as("item"))
      .as[(String, String)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(hh.toColumn.name("counters"))
      .flatMap { case (g, counters) =>
        counters.map { case (it, c) => (g, it, c) } }
      .toDF("grp", "item", "cnt")
      .withColumn("capacity", lit(capacity))
      .write.mode("overwrite").partitionBy("grp").parquet(dir)
  }

  /** Merge the stored buffers of every group matching `groupPred` and
    * report the top k — [[mergeTopK]] across a partition-pruned group
    * range. Groups fold in sorted-group order so the result is
    * deterministic even in the eviction regime (SpaceSaving merge is
    * order-sensitive only once evictions start; in the
    * capacity ≫ domain regime any order gives the exact counts, which
    * is what the q74 oracle pins). Same summed bound as [[mergeTopK]]:
    * counts overestimate by ≤ Σn/capacity over the merged groups. */
  def mergeTopKGroups(spark: SparkSession, dir: String, k: Int,
                      groupPred: Column): Seq[(String, Long)] = {
    import spark.implicits._
    val rows = Readers.parquet(spark, dir)
      .filter(groupPred)
      .select(col("grp").cast(org.apache.spark.sql.types.StringType),
        col("item"), col("cnt"), col("capacity"))
      .as[(String, String, Long, Int)].collect()
    require(rows.nonEmpty, "no top-k artifact groups match the range")
    val caps = rows.map(_._4).toSet
    require(caps.size == 1,
      s"incompatible top-k sketches: capacities $caps — merged bounds only hold at one capacity")
    val hh = new graft.functions.HeavyHitters(caps.head, k)
    val perGroup = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, rs) =>
      scala.collection.mutable.Map(rs.map(r => r._2 -> r._3): _*)
    }
    hh.finish(perGroup.reduce(hh.merge))
  }

  /** Roll the stored per-group buffers up to a coarser calendar (or
    * any) granularity and report each rolled group's top k: day
    * artifacts → weekly/monthly top-k without re-scanning any day.
    * `rollup` maps a stored group label to its rolled label; groups
    * fold in sorted order within each rolled label (same determinism
    * note as [[mergeTopKGroups]]); same per-label Σn/capacity bound. */
  def mergeTopKRollup(spark: SparkSession, dir: String, k: Int,
                      rollup: String => String): Seq[(String, String, Long)] = {
    import spark.implicits._
    val rows = Readers.parquet(spark, dir)
      .select(col("grp").cast(org.apache.spark.sql.types.StringType),
        col("item"), col("cnt"), col("capacity"))
      .as[(String, String, Long, Int)].collect()
    require(rows.nonEmpty, "no top-k artifact groups to roll up")
    val caps = rows.map(_._4).toSet
    require(caps.size == 1,
      s"incompatible top-k sketches: capacities $caps — merged bounds only hold at one capacity")
    val hh = new graft.functions.HeavyHitters(caps.head, k)
    rows.groupBy(r => rollup(r._1)).toSeq.sortBy(_._1).flatMap {
      case (label, rs) =>
        val perGroup = rs.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, g) =>
          scala.collection.mutable.Map(g.map(r => r._2 -> r._3): _*)
        }
        hh.finish(perGroup.reduce(hh.merge)).map { case (it, n) => (label, it, n) }
    }
  }

  // ── Mergeable count-min frequency sketches ───────────────────────
  //
  // The point-frequency member of the artifact family: SpaceSaving
  // answers "what are the top k?", HLL answers "how many distinct?",
  // CMS answers "how often did THIS item occur?" for ARBITRARY items —
  // including ones far below the heavy-hitter cutoff, which SpaceSaving
  // has evicted. Per (group, batch) the sketch is a fixed
  // depth × width counter grid (kilobytes however many rows); merge is
  // cell-wise addition under identical (eps, confidence, seed) — the
  // same hash functions index the same cells, so merged-parts ≡ direct
  // EXACTLY (spec-pinned), and day ranges compose like the other
  // families. Estimates never undercount; overcount ≤ eps·N(range)
  // with probability ≥ confidence (one-sided — the safe direction for
  // quota/abuse checks).

  /** ONE distributed job builds a CMS per group (ingest day, …) and
    * stores the binaries partitioned by group: any group range is
    * answered by partition-pruned kilobyte reads. Items are hashed as
    * strings (cast before the agg) so the stored sketch and the
    * driver-side point query use the same byte hashing. */
  def saveCmsGrouped(items: DataFrame, groupCol: Column, itemCol: Column,
                     dir: String, eps: Double = 0.0005,
                     confidence: Double = 0.99, seed: Int = 42): Unit =
    items
      .groupBy(groupCol.cast(org.apache.spark.sql.types.StringType).as("grp"))
      .agg(
        count_min_sketch(itemCol.cast(org.apache.spark.sql.types.StringType),
          lit(eps), lit(confidence), lit(seed)).as("cms"),
        count(lit(1)).as("n_items"))
      .withColumn("eps_e6", lit(math.round(eps * 1e6)))
      .withColumn("seed", lit(seed))
      .write.mode("overwrite").partitionBy("grp").parquet(dir)

  /** Merge the stored sketches of every group matching `groupPred`
    * (partition-pruned) into one grid, plus the merged range's true
    * item count (the N in the eps·N bound). Mixed-parameter sketches
    * fail loudly — their cells don't line up. Exposed for long-lived
    * consumers (the streaming quota gate) that adopt the history grid
    * ONCE and then fold only new batches into it. */
  def mergedCms(spark: SparkSession, dir: String, groupPred: Column)
      : (org.apache.spark.util.sketch.CountMinSketch, Long) = {
    import org.apache.spark.util.sketch.CountMinSketch
    val rows = Readers.parquet(spark, dir).filter(groupPred)
      .select(col("cms"), col("n_items"), col("eps_e6"), col("seed"))
      .collect()
    require(rows.nonEmpty, "no CMS artifact groups match the range")
    val params = rows.map(r => (r.getLong(2), r.getInt(3))).toSet
    require(params.size == 1,
      s"incompatible CMS sketches: (eps_e6, seed) $params — cells only line up at one parameterization")
    val sketches = rows.map(r => CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](0))))
    (sketches.reduce { (a, b) => a.mergeInPlace(b); a },
      rows.map(_.getLong(1)).sum)
  }

  /** Answer point-frequency queries for `items` from the merged
    * sketches of a (partition-pruned) group range. Returns
    * (item, est_n) pairs plus the range's item count. */
  def cmsEstimates(spark: SparkSession, dir: String, groupPred: Column,
                   items: Seq[String]): (Seq[(String, Long)], Long) = {
    val (merged, n) = mergedCms(spark, dir, groupPred)
    (items.map(it => it -> merged.estimateCount(it)), n)
  }

  // ── Decrementable cell-grid count-min (#233) ─────────────────────
  //
  // The CDC-aware member of the CMS family. The binary sketches above
  // ([[saveCmsGrouped]]) ride Spark's `count_min_sketch` aggregate,
  // whose public API is increment-only — fine for append-only ingest,
  // wrong the day a changelog carries deletes or a forget-set erases a
  // user's events (q67 / q70): the only recourse is rebuilding the
  // grid from the retained corpus, an O(corpus) pass per purge. This
  // representation fixes that by storing the grid AS DATA — one row
  // per non-zero (r, c) cell — because a count-min grid is LINEAR in
  // its input: cells(S ∖ D) = cells(S) − cells(D) cell for cell, so a
  // delete batch folds in as a weight −1 build over JUST the deleted
  // rows (O(batch), like every other maintenance op here), and the
  // decremented grid is BIT-IDENTICAL to a from-scratch rebuild
  // (spec-pinned). Merge across batches/days is a groupBy-sum over
  // kilobyte frames; estimates are the usual min over depth rows, and
  // the standard one-sided guarantee holds at any point in the
  // add/delete history because the grid always EQUALS the grid of the
  // net corpus. The cell hash is the repo's engine-portable idiom
  // (first 8 hex of md5("<item>:<row>") — t08/t35's convention), so a
  // DuckDB oracle rebuilds the same grid bit for bit and the whole
  // family is FULLY oracled, unlike the opaque binary sketches.
  //
  // Why not conservative update (CU)? CU increments only the cells at
  // the current minimum, which tightens estimates (pointwise ≤ the
  // standard grid, spec-pinned) but makes the sketch ORDER-DEPENDENT:
  // the grid is no longer a sum over items, so per-partition partial
  // grids can't merge, and a delete can't subtract what an insert
  // might never have added. CU therefore can't run as a distributed
  // aggregation OR consume a changelog — [[cmsCuEstimates]] exists as
  // the driver-side reference that quantifies the tightening this
  // family deliberately gives up for mergeability + decrementability.

  /** Cell index of `item` (a string column) in hash row `r`:
    * first 8 hex digits of md5("<item>:<r>") mod `width` — identical
    * in DuckDB as `('0x'||substr(md5(item||':'||r),1,8))::BIGINT`. */
  def cmsCellIndex(item: Column, r: Column, width: Int): Column =
    conv(substring(md5(concat_ws(":", item, r)
        .cast(org.apache.spark.sql.types.BinaryType)), 1, 8), 16, 10)
      .cast(org.apache.spark.sql.types.LongType) % width

  /** Build the cell grid of `items` in ONE distributed aggregation:
    * depth rows per item (a narrow explode), then a map-side-combined
    * sum per (r, c) — the shuffle carries at most depth × width cells
    * per task regardless of corpus size. `weight` −1 turns the same
    * job into a delete-batch grid for [[cmsCellsMerge]]. */
  def cmsCells(items: DataFrame, itemCol: Column, weight: Column = lit(1L),
               depth: Int = 4, width: Int = 512): DataFrame =
    items
      .select(itemCol.cast(org.apache.spark.sql.types.StringType).as("it"),
        weight.cast(org.apache.spark.sql.types.LongType).as("wt"))
      .select(col("it"), col("wt"),
        explode(expr(s"sequence(0, ${depth - 1})")).as("r"))
      .groupBy(col("r"), cmsCellIndex(col("it"), col("r"), width).as("c"))
      .agg(sum("wt").as("cnt"))
      .filter(col("cnt") =!= 0)

  /** Fold grids (add-batches, delete-batches, history) into one by
    * cell-wise addition, dropping netted-out cells so a decremented
    * grid is bit-identical to a rebuild over the retained corpus. */
  def cmsCellsMerge(grids: DataFrame*): DataFrame =
    grids.reduce(_ unionByName _)
      .groupBy("r", "c").agg(sum("cnt").as("cnt"))
      .filter(col("cnt") =!= 0)

  /** Point-frequency estimates for `probes` against a cell grid: min
    * over the depth rows, absent cells counting 0. Distributed — the
    * grid is ≤ depth × width rows (kilobytes), so the join broadcasts
    * and the probe side streams at any cardinality. */
  def cmsCellEstimates(probes: DataFrame, itemCol: Column, cells: DataFrame,
                       depth: Int = 4, width: Int = 512): DataFrame =
    probes
      .select(itemCol.cast(org.apache.spark.sql.types.StringType).as("it"))
      .distinct()
      .select(col("it"), explode(expr(s"sequence(0, ${depth - 1})")).as("r"))
      .withColumn("c", cmsCellIndex(col("it"), col("r"), width))
      .join(broadcast(cells), Seq("r", "c"), "left")
      .groupBy("it")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_n"))

  /** One-shot grouped persistence of cell grids (the [[saveCmsGrouped]]
    * of this family): per `groupCol` value one [[cmsCells]] grid,
    * partitioned by group so range reads prune; (depth, width) ride as
    * columns — the parameterization stamp [[mergedCmsCells]] enforces,
    * the way eps_e6/seed do for the binary grids. */
  def saveCmsCellsGrouped(items: DataFrame, groupCol: Column, itemCol: Column,
                          weight: Column = lit(1L), dir: String = "",
                          depth: Int = 4, width: Int = 512): Unit = {
    require(dir.nonEmpty, "saveCmsCellsGrouped needs a target dir")
    items
      .select(groupCol.cast(org.apache.spark.sql.types.StringType).as("grp"),
        itemCol.cast(org.apache.spark.sql.types.StringType).as("it"),
        weight.cast(org.apache.spark.sql.types.LongType).as("wt"))
      .select(col("grp"), col("it"), col("wt"),
        explode(expr(s"sequence(0, ${depth - 1})")).as("r"))
      .groupBy(col("grp"), col("r"),
        cmsCellIndex(col("it"), col("r"), width).as("c"))
      .agg(sum("wt").as("cnt"))
      .filter(col("cnt") =!= 0)
      .withColumn("depth", lit(depth)).withColumn("width", lit(width))
      .repartition(col("grp"))
      .write.mode("overwrite").partitionBy("grp").parquet(dir)
  }

  /** Fold the stored cell grids of every group matching `groupPred`
    * (partition-pruned) into one grid; returns (grid, depth, width)
    * ready for [[cmsCellEstimates]]. Zero-netted cells (the streaming
    * maintainer persists them — see its scaladoc) drop here, so
    * consumers always see the canonical grid. Mixed (depth, width)
    * fail loudly — the cells don't line up. */
  def mergedCmsCells(spark: SparkSession, dir: String,
                     groupPred: Column): (DataFrame, Int, Int) = {
    val rows = Readers.parquet(spark, dir).filter(groupPred)
    val params = rows.select("depth", "width").distinct()
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    require(params.nonEmpty, "no cell-grid groups match the range")
    require(params.length == 1,
      s"incompatible cell grids: (depth, width) ${params.toSeq} — " +
        "cells only line up at one parameterization")
    (rows.groupBy("r", "c").agg(sum("cnt").as("cnt"))
      .filter(col("cnt") =!= 0), params.head._1, params.head._2)
  }

  /** Driver-side CONSERVATIVE-UPDATE reference (sequential by nature —
    * see the family note above for why this can never be the
    * distributed path): estimates are pointwise ≤ the standard grid's
    * and ≥ exact, the two-sided sandwich the tradeoff spec pins. */
  def cmsCuEstimates(items: Seq[String], probes: Seq[String],
                     depth: Int = 4, width: Int = 512): Map[String, Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def cellsOf(s: String): Seq[(Int, Int)] = (0 until depth).map { r =>
      val hex = md.digest(s"$s:$r".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      (r, (java.lang.Long.parseLong(hex, 16) % width).toInt)
    }
    val grid = Array.ofDim[Long](depth, width)
    items.foreach { s =>
      val cs = cellsOf(s)
      val est = cs.map { case (r, c) => grid(r)(c) }.min + 1
      cs.foreach { case (r, c) => if (grid(r)(c) < est) grid(r)(c) = est }
    }
    probes.map(p => p -> cellsOf(p).map { case (r, c) => grid(r)(c) }.min).toMap
  }

  // ── Artifact consumers (no-rescan analytics) ─────────────────────

  /** q58's drift audit computed ENTIRELY from stored value histograms
    * — per group, the total-variation distance (integer
    * milli-proportions, q58's overflow-proof kernel) between a
    * REFERENCE and a CURRENT histogram, each typically the
    * count-addition merge of per-day artifacts: drift between ANY two
    * historical windows costs two kilobyte-artifact merges, never a
    * re-scan of either window's raw events. A bucket present in only
    * one window full-outer-joins in with count 0 on the other side —
    * exactly the row q58's single-scan aggregate produces. Inputs are
    * (groupCols, v, cnt) frames; output matches q58's
    * (group, n_ref, n_cur, tv_milli) row for row when the histograms
    * were saved over q58's bucket column (oracle-pinned by
    * q75_drift_from_artifacts). */
  def tvDriftFromHistograms(refHist: DataFrame, curHist: DataFrame,
                            groupCols: Seq[String]): DataFrame = {
    val keys = groupCols :+ "v"
    val joined = refHist
      .select(keys.map(col) :+ col("cnt").as("o_ref"): _*)
      .join(curHist.select(keys.map(col) :+ col("cnt").as("o_cur"): _*),
        keys, "full_outer")
      .select(keys.map(col) :+
        coalesce(col("o_ref"), lit(0L)).as("o_ref") :+
        coalesce(col("o_cur"), lit(0L)).as("o_cur"): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
    joined
      .withColumn("n_ref", sum("o_ref").over(w))
      .withColumn("n_cur", sum("o_cur").over(w))
      .groupBy(groupCols.map(col): _*)
      .agg(min("n_ref").as("n_ref"), min("n_cur").as("n_cur"),
        sum(abs(expr("1000 * o_ref div n_ref") - expr("1000 * o_cur div n_cur")))
          .as("tv_milli"))
  }

  /** q57's winsorization report computed ENTIRELY from a stored value
    * histogram — bands, clip counts and clamped sums all derive from
    * (group, value) → count rows, so the corpus is never re-scanned
    * (the raw-frame q57 pays one full scan per run; this pays a
    * kilobyte-artifact read). Bit-identical to
    * [[graft.AnalyticsQueries.q57Winsorize]] when the histogram was
    * saved with valPow=2 over l_extendedprice (spec-pinned): the
    * histogram value v is round(x·100), q57's v_e4 = v·100, and every
    * derived quantity is a count-weighted integer sum. `loPct`/`hiPct`
    * are numerator/denominator pairs on ExactPercentile's convention. */
  def winsorizeFromHistogram(hist: DataFrame, groupCols: Seq[String],
                             valPow: Int, outPow: Int,
                             loNum: Int, hiNum: Int, den: Int): DataFrame = {
    val scaleUp = math.round(Exact.pow10(outPow - valPow))
    val bands = ExactPercentile.quantilesOfCounts(hist, groupCols, valPow, outPow,
      Seq(ExactPercentile.Pct("lo_e" + outPow, loNum, den),
        ExactPercentile.Pct("hi_e" + outPow, hiNum, den)))
    val lo = col("lo_e" + outPow)
    val hi = col("hi_e" + outPow)
    val v = col("v") * scaleUp
    hist.join(broadcast(bands), groupCols)
      .withColumn("v_out", v)
      .withColumn("w_out", greatest(lo, least(hi, v)))
      .groupBy(groupCols.map(col): _*)
      .agg(sum("cnt").as("n_rows"),
        sum(when(v < lo, col("cnt")).otherwise(0L)).as("n_clip_low"),
        sum(when(v > hi, col("cnt")).otherwise(0L)).as("n_clip_high"),
        sum(col("cnt") * col("v_out")).as("sum_raw_e" + outPow),
        sum(col("cnt") * col("w_out")).as("sum_wins_e" + outPow),
        min(lo).as("lo_e" + outPow), min(hi).as("hi_e" + outPow))
  }
}
