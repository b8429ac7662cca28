package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over embedding columns
  * (SURVEY.md §2 #26–27).
  *
  * Brute force is the baseline: the (small) query set broadcasts and
  * every corpus partition scores locally — one pass over the corpus,
  * no shuffle of vectors, then a top-k window shuffled only on the
  * tiny (query, score) pairs.
  *
  * The scale path buckets the corpus by random-hyperplane signs
  * (seeded, deterministic): each query only scores its own bucket —
  * corpus-partition-local compare, recall traded for a ~2^bits
  * speedup. (Multi-probe = union over neighboring buckets; add probes
  * rather than shrinking bits to tune recall.)
  */
object Ann {

  /** Exact top-k by cosine for each query vector.
    * `queries`/`corpus`: (id, vec: array<double>) with `vec` already
    * cast via [[VectorFunctions.toDouble]]. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    // zero-norm vectors (failed/padded embeddings) have no direction:
    // their cosine is 0/0 = NaN, and Spark's NaN orders ABOVE every
    // real value, which would rank them as the #1 neighbor everywhere
    // — exclude them on both sides (same guard in all ANN variants)
    //
    // spreadCorpus (r15): a small-footprint corpus parquet reads as
    // 1-2 byte-derived splits, and the broadcast cross join + the
    // window's PARTIAL top-k sort inherit that — |corpus|x|queries|
    // scored rows sorted in 1-2 TASKS (the r14 stage:knn_graph
    // diagnosis, measured again on s25's one-pass audit: 2.9 s of
    // join+dot vs ~32 s of single-task sort at sf1). One corpus-row
    // round-robin shuffle (n rows, vectors only) spreads the scoring
    // and the partial sort across the executor; results are
    // bit-identical (exact arithmetic, ties broken on neighbor_id).
    val c = spreadCorpus(corpus)
      .select(col("id").as("neighbor_id"), col("vec").as("cvec"))
      .withColumn("cnrm", norm(col("cvec")))
      .filter(col("cnrm") > 0)
    val q = queries.select(col("id").as("qid"), col("vec").as("qvec"))
      .withColumn("qnrm", norm(col("qvec")))
      .filter(col("qnrm") > 0)
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("qid"))
      .withColumn("sim", cosinePrenormed(dot(col("qvec"), col("cvec")), col("qnrm"), col("cnrm")))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("neighbor_id"))
  }

  /** Round-robin spread of a corpus frame across the session's
    * shuffle parallelism — the brute-force kernels' sort-parallelism
    * guard (see [[bruteForceTopK]]). Costs one n-row shuffle of the
    * corpus vectors; skipped when the optimizer's size estimate says
    * the frame already spans ≥ target max-split-sized partitions (a
    * real cluster-scale scan reads wide on its own, and an inflated
    * post-join estimate errs toward skipping — the safe side).
    *
    * Deliberately NOT `corpus.rdd.getNumPartitions`: under AQE,
    * `.rdd` on a frame containing joins/aggregates EXECUTES its
    * shuffle stages eagerly just to answer the partition count, so an
    * index path with a live tombstone mask ([[AnnIndex]]) would run
    * its anti-join twice per probe. Logical stats cost nothing. */
  private[graft] def spreadCorpus(corpus: DataFrame): DataFrame = {
    val conf = corpus.sparkSession.sessionState.conf
    val target = conf.numShufflePartitions
    val wide = BigInt(conf.filesMaxPartitionBytes) * target
    if (corpus.queryExecution.optimizedPlan.stats.sizeInBytes >= wide) corpus
    else corpus.repartition(target)
  }

  /** Exact top-k by INNER PRODUCT (MIPS — the recommendation-retrieval
    * scoring where magnitude IS signal: a strongly-preferred item
    * vector legitimately outranks a unit one, so cosine's
    * normalization is the wrong metric). Same broadcast-queries /
    * corpus-partition-local scan shape as [[bruteForceTopK]]; no
    * zero-norm guard needed (dot is total — a zero vector just scores
    * 0 everywhere instead of NaN-poisoning the ordering). */
  def bruteForceMipsTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = spreadCorpus(corpus)
      .select(col("id").as("neighbor_id"), col("vec").as("cvec"))
    val q = queries.select(col("id").as("qid"), col("vec").as("qvec"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("qid"))
      .withColumn("score", dot(col("qvec"), col("cvec")))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("neighbor_id"))
  }

  /** Exact top-k by HAMMING distance over sign-packed vectors (s29,
    * SURVEY §2 #328) — binary quantization, the memory tier BELOW
    * int8 (Qdrant/Weaviate "BQ"): one bit per dimension, 32× smaller
    * than float. Unlike every float kernel here the whole scoring
    * path is INTEGER arithmetic ([[graft.functions.QuantizeInt8
    * .SignPack]] words, XOR+popcount distance), so the ranking —
    * ties broken on neighbor id — is engine-exact and fully
    * DuckDB-oracleable: this is the s-family's integer-exact anchor
    * the way s12 is for clustering. Serving composition: BQ is the
    * coarse filter; rerank survivors through the int8 (s05) or float
    * (s01) tier — the [[int8RerankTopK]] candMult pattern applies
    * unchanged. Zero vectors pack to all-zero words and rank by
    * popcount of the other side — total, no NaN guard needed. */
  def bruteForceHammingTopK(corpus: DataFrame, queries: DataFrame,
                            k: Int): DataFrame = {
    import graft.functions.QuantizeInt8.{hammingPacked, signPack}
    val c = spreadCorpus(corpus)
      .select(col("id").as("neighbor_id"), signPack(col("vec")).as("cb"))
    val q = queries.select(col("id").as("qid"), signPack(col("vec")).as("qb"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("qid"))
      .withColumn("hamming", hammingPacked(col("cb"), col("qb")))
    val w = Window.partitionBy("qid")
      .orderBy(col("hamming").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("hamming"))
  }

  /** Deterministic random hyperplanes: `nBits` × `dim`, seeded. */
  def hyperplanes(nBits: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nBits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bucket id of a vector under the given hyperplanes. Unrolled
    * driver-side over the (small, literal) plane set — nBits codegen'd
    * dot products per row instead of an interpreted `aggregate` lambda
    * re-dispatching per plane. bucket = Σ bit_i · 2^i via acc·2 + bit. */
  def bucketId(vec: org.apache.spark.sql.Column, planes: Seq[Seq[Double]]): org.apache.spark.sql.Column =
    planes.foldLeft(lit(0L): org.apache.spark.sql.Column) { (acc, p) =>
      acc * 2 + when(dot(vec, typedlit(p)) > 0, 1L).otherwise(0L)
    }

  /** IVF (inverted-file) ANN: a k-means coarse quantizer partitions
    * the corpus into `nCells` cells; each query scores only the
    * `nProbe` nearest cells. Unlike sign-LSH the cells adapt to the
    * data distribution, which keeps recall stable on clustered
    * embeddings. Training happens once (seeded, deterministic) and the
    * cell assignment is a broadcast of `nCells` centroids — the corpus
    * is scanned once, never shuffled on vectors. */
  /** Seeded, deterministic k-means coarse-quantizer fit shared by the
    * IVF family ([[ivfTopK]], [[knnGraph]]).
    *
    * Fits on a deterministic hash-sample capped at `fitSampleCap` rows:
    * KMeans cost is a full corpus scan PER ITERATION, and centroid
    * quality converges long before the sample covers the corpus — at
    * 100 TB the fit would otherwise dominate the query. The hash filter
    * keeps the sample stable across partitionings (no `limit`/`sample`
    * nondeterminism). Ranking is by COSINE, so the quantizer must live
    * on the unit sphere: fit on L2-normalized vectors (Euclidean
    * distance between unit vectors is a monotone function of cosine);
    * quantizing raw magnitudes instead puts a vector 10× its query's
    * length in a far cell even at cosine 1.0, and recall collapses.
    * A coarse quantizer only needs rough cell boundaries — 5 iterations
    * is ample (recall is governed by the probe count, not centroid
    * polish), and each iteration is a full pass over the fit sample. */
  private[graft] def fitCentroids(live: DataFrame, n: Long, nCells: Int,
                                  seed: Long,
                                  fitSampleCap: Long): Seq[Seq[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val sampled =
      if (n <= fitSampleCap) live
      else live.filter(pmod(xxhash64(col("id")), lit(n / fitSampleCap + 1)) === 0)
    // NOT spread ([[spreadCorpus]]): k-means|| init samples
    // PER-PARTITION, so repartitioning the fit input moves the
    // centroids, not just the task layout — an r15 experiment spread
    // it and two pinned recall fixtures shifted (fixed-probe recall
    // 0.85 → 0.70; a healthy index audited at 0.885 and tripped its
    // rebuild floor). The fit's wall cost is a bounded calibration
    // constant (≤ fitSampleCap rows, memoized by the Auto callers);
    // the scoring joins downstream are where parallelism pays.
    val featured = new org.apache.spark.ml.feature.Normalizer()
      .setInputCol("f0").setOutputCol("features").setP(2.0)
      .transform(sampled.withColumn("f0", array_to_vector(col("vec"))))
    val model = new KMeans().setK(nCells).setSeed(seed).setMaxIter(5)
      .fit(featured)
    model.clusterCenters.map(_.toArray.toSeq).toSeq
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCells: Int, nProbe: Int, seed: Long,
              fitSampleCap: Long = 100000L,
              corpusCount: Long = -1L): DataFrame = {
    // Fit the coarse quantizer on a deterministic hash-sample capped at
    // `fitSampleCap` rows: KMeans cost is a full corpus scan PER
    // ITERATION (10 here), and centroid quality converges long before
    // the sample covers the corpus — at 100 TB the fit would otherwise
    // dominate the query. The hash filter keeps the sample stable
    // across partitionings (no `limit`/`sample` nondeterminism).
    val live = corpus.withColumn("nrm0", norm(col("vec"))).filter(col("nrm0") > 0)
    // a caller that already sized the corpus (ivfTopKAuto) passes its
    // count in — zero-norm rows are rare enough that the sampling-cap
    // arithmetic doesn't care, and it saves a second full-scan job
    val n = if (corpusCount >= 0) corpusCount else live.count()
    val centroids = fitCentroids(live, n, nCells, seed, fitSampleCap)
    ivfProbe(live, queries, k, centroids, nProbe)
  }

  /** Probe stage of IVF, shared by the fixed-parameter and calibrated
    * entry points: `liveCorpus` must already carry (id, vec, nrm0)
    * with zero-norm rows excluded. */
  private def ivfProbe(live: DataFrame, queries: DataFrame, k: Int,
                       centroids: Seq[Seq[Double]], nProbe: Int): DataFrame = {
    // Distance of the UNIT vector v/‖v‖ to centroid cᵢ, minus the
    // per-row constant 1: dᵢ = ‖cᵢ‖² − 2·(v·cᵢ)/‖v‖ — cosine-consistent
    // quantization. One codegen'd CentroidCells kernel (centroid
    // matrix as a reference object) replaces the unrolled
    // least()/array_sort struct fold, whose generated code grew with
    // the √n-derived cell count (see CentroidCells scaladoc); the
    // corpus side takes element 1 (the argmin cell), the query side
    // explodes the nProbe nearest.
    import graft.functions.CentroidCells.centroidCells
    // spreadCorpus: with the query side BROADCAST the candidate rows
    // and the window's partial top-k sort inherit the corpus scan's
    // 1-2 byte-derived parquet splits — at an 800-query audit sample
    // the probe ran 1-2 tasks for ~11M candidate rows (r15 `Probe
    // s14`: ivf side 32.7 s at n=20k, 3.3 s spread)
    val c = spreadCorpus(live)
      .select(col("id").as("neighbor_id"), col("vec").as("cvec"),
        col("nrm0").as("cnrm"))
      .withColumn("cell",
        element_at(centroidCells(col("cvec"), col("cnrm"), centroids, 1), 1))
    val q = queries.select(col("id").as("qid"), col("vec").as("qvec"))
      .withColumn("qnrm", norm(col("qvec")))
      .filter(col("qnrm") > 0)
      .withColumn("cell",
        explode(centroidCells(col("qvec"), col("qnrm"), centroids, nProbe)))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("neighbor_id") =!= col("qid"))
      .withColumn("sim", cosinePrenormed(dot(col("qvec"), col("cvec")), col("qnrm"), col("cnrm")))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("neighbor_id"))
  }

  /** Sign agreement probability of one random hyperplane for a pair at
    * cosine exactly `tau`: p = 1 − θ/π (Goemans–Williamson). */
  def planeAgreement(tau: Double): Double = 1.0 - math.acos(tau) / math.Pi

  /** Occupancy-scaled hash width: buckets grow with the corpus so the
    * EXPECTED bucket population stays ≈ `occupancy`, which keeps the
    * per-table candidate volume Θ(n · occupancy) — linear in n —
    * instead of the Θ(n²/2^nBits) a FIXED width degrades to. This is
    * the difference between an LSH join that survives a 1000× corpus
    * and one that silently goes quadratic. */
  def bitsForOccupancy(n: Long, occupancy: Long = 32L,
                       minBits: Int = 4, maxBits: Int = 28): Int = {
    val buckets = math.max(1.0, n.toDouble / occupancy.toDouble)
    math.min(maxBits, math.max(minBits, math.ceil(math.log(buckets) / math.log(2.0)).toInt))
  }

  /** OR-table count for per-pair recall ≥ `recall` at threshold `tau`
    * with `nBits`-wide tables: 1 − (1 − p^nBits)^T ≥ R. Grows as
    * (1/p)^nBits — at a loose τ (weak per-plane agreement) recall is
    * expensive by nature; production near-dup thresholds (τ ≥ 0.8,
    * p ≥ 0.79) keep this modest. `maxTables` is a fail-loud guard
    * against configurations whose table count itself would dominate. */
  def tablesForRecall(tau: Double, nBits: Int, recall: Double = 0.99,
                      maxTables: Int = 256): Int = {
    val pBucket = math.pow(planeAgreement(tau), nBits.toDouble)
    val t = math.ceil(math.log1p(-recall) / math.log1p(-pBucket)).toInt
    require(t <= maxTables,
      f"recall $recall%.2f at tau $tau%.2f needs $t OR-tables (> $maxTables): " +
        "raise tau, lower the recall target, or lower occupancy")
    math.max(1, t)
  }

  // ---- IVF-family recall calibration -------------------------------
  //
  // tablesForRecall's closed form exists because sign-LSH has an exact
  // per-plane agreement probability (Goemans–Williamson). k-means
  // cells have no closed form — they adapt to the data — so the same
  // question ("how much probe budget buys recall R?") is answered by
  // MEASURING it on a bounded deterministic sample of the corpus:
  // for each sampled vector take its true top-k sample neighbors
  // (exact cosine, driver-side) and record at which probe rank the
  // neighbor's home cell appears in the query's cell ordering. The
  // empirical CDF of that rank IS the recall-vs-nProbe curve; solving
  // it for R is the data-adaptive analog of solving
  // 1 − (1 − p^b)^T ≥ R for T. When the sample is the whole corpus
  // (small sf) the curve is exact; on a capped sample of a huge corpus
  // the sampled neighbors sit farther out than the true ones, their
  // cells spread wider, and the calibrated nProbe errs conservative —
  // recall lands at or above target, never silently below.

  /** Per-JVM memo of corpus-derived OPERATING POINTS — counts, fitted
    * quantizers, calibrated probe/buffer budgets — keyed by the
    * corpus's content key ([[corpusKey]]) plus the caller's
    * parameters. These are configuration-scale metadata (a few ints +
    * √n-bounded codebooks, the in-memory analog of [[AnnIndex]]'s
    * persisted `meta`/`centroids` tables): a serving path derives them
    * once per corpus and READS them per query, it doesn't refit per
    * call (the round-8 bench showed s07 paying a full fit+calibrate on
    * every invocation). Serving the memo is exact, not approximate —
    * every cached value is a deterministic function of (corpus
    * content, params), and a corpus rewritten in place has a new key,
    * so a caller never clears anything after a mutation. A frame with
    * no content key (`None`: checkpointed, local) is derived per
    * call. [[clearOpCache]] only frees memory. */
  private val opCache =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  private[graft] def clearOpCache(): Unit = opCache.clear()
  private[sim] def memo[T <: AnyRef](key: Option[String])(build: => T): T =
    key match {
      case Some(k) => opCache.computeIfAbsent(k, _ => build).asInstanceOf[T]
      case None    => build
    }

  /** The content key of a corpus frame: a digest of its canonicalized
    * analyzed plan (every field printed), the root paths of its file
    * scans in plan order, and the file snapshot
    * ([[graft.etl.Stages.snapshot]]) of its input files. Two frames
    * that `sameResult` over the same files share it; a file rewritten
    * in place, or a different derivation, gets a new key. None unless
    * every leaf of the plan is a file scan and every expression is
    * deterministic and built in: a checkpointed or local frame, or a
    * user-defined function (printed by name only), has no content
    * identity, so it is never memoized. Metadata-only. */
  private[graft] def corpusKey(df: DataFrame): Option[String] = {
    import org.apache.spark.sql.catalyst.expressions.UserDefinedExpression
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val plan = df.queryExecution.analyzed
    val roots = plan.collectLeaves().map {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation => Some(r.location.rootPaths.mkString(","))
        case _ => None
      }
      case _ => None
    }
    val udf = plan.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[UserDefinedExpression])))
    if (roots.contains(None) || udf || !plan.deterministic) None
    else {
      val spark = df.sparkSession
      val files = df.inputFiles.sorted.toSeq
        .flatMap(f => graft.etl.Stages.snapshot(spark, f))
      val md = java.security.MessageDigest.getInstance("SHA-256")
      (plan.canonicalized.treeString(verbose = true, maxFields = Int.MaxValue) +:
          (roots.flatten ++ files.map(_.toString)))
        .foreach(x => md.update((x + "\n").getBytes("UTF-8")))
      Some(md.digest().map("%02x".format(_)).mkString)
    }
  }

  private def dotA(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Same cell score [[graft.functions.CentroidCells]] ranks by:
    * ‖c‖² − 2·v·c for unit v (the per-row constant ‖v‖²=1 dropped). */
  private def cellScores(v: Array[Double], cents: Array[Array[Double]]): Array[Double] =
    cents.map(c => dotA(c, c) - 2.0 * dotA(v, c))

  /** Bounded deterministic calibration sample: unit vectors of a
    * hash-sampled slice of the live corpus (same stable pmod filter as
    * the fit caps), sorted by id so the result is partitioning-
    * independent. Driver round-trip is ≤ cap·dim doubles. */
  private[graft] def calibrationSample(live: DataFrame, n: Long,
                                       cap: Long = 512L): Array[Array[Double]] = {
    val sampled =
      if (n <= cap) live
      else live.filter(pmod(xxhash64(col("id")), lit(n / cap + 1)) === 0)
    sampled.orderBy("id").select(col("vec")).collect().map { r =>
      val v = r.getSeq[Double](0).toArray
      val nr = math.sqrt(dotA(v, v))
      v.map(_ / nr)
    }
  }

  /** Modulus for a deterministic ABSOLUTE-budget audit sample — the
    * recall-audit economics ([[AnnIndex.maintain]], s14, s17) price
    * the exact brute-force side at |sample|·n similarity evaluations,
    * so the sample must be bounded by a fixed QUERY BUDGET, not a
    * corpus fraction: a 1/25 slice is Θ(n²) at 100× and the audit
    * becomes the most expensive query in the system. Below
    * floorMod·budget rows the classic 1/floorMod slice is kept
    * (small corpora audit densely — and the test-scale sample is
    * unchanged); past it the modulus grows with n so the expected
    * query count stays ≤ budget forever. Same pmod convention as the
    * fit/calibration caps: deterministic, partitioning-independent. */
  private[graft] def auditSampleMod(n: Long, floorMod: Long = 25L,
                                    budget: Long = 2048L): Long =
    math.max(floorMod, (n + budget - 1L) / budget)

  /** Probe ranks of true-neighbor home cells: one entry per
    * (sample query, true top-`kCal` sample neighbor) pair, giving the
    * 1-based position of the neighbor's home cell in the query's
    * nearest-cell ordering. */
  private[graft] def neighborCellRanks(sample: Array[Array[Double]],
                                       centroids: Seq[Seq[Double]],
                                       kCal: Int): Array[Int] = {
    val cents = centroids.map(_.toArray).toArray
    val s = sample.length
    val home = sample.map(v => cellScores(v, cents).zipWithIndex.minBy(_._1)._2)
    val out = Array.newBuilder[Int]
    var qi = 0
    while (qi < s) {
      val v = sample(qi)
      val order = cellScores(v, cents).zipWithIndex.sortBy(_._1).map(_._2)
      val rankOfCell = new Array[Int](cents.length)
      order.zipWithIndex.foreach { case (cell, r) => rankOfCell(cell) = r + 1 }
      val sims = Array.tabulate(s)(j =>
        if (j == qi) Double.NegativeInfinity else dotA(v, sample(j)))
      sims.zipWithIndex.sortBy { case (sim, j) => (-sim, j) }
        .take(math.min(kCal, s - 1))
        .foreach { case (_, j) => out += rankOfCell(home(j)) }
      qi += 1
    }
    out.result()
  }

  /** Probe count for per-neighbor recall ≥ `recall` at the measured
    * cell geometry — the [[tablesForRecall]] of the IVF family. Solves
    * the empirical CDF of [[neighborCellRanks]] for the target. */
  def probesForRecall(sample: Array[Array[Double]], centroids: Seq[Seq[Double]],
                      recall: Double = 0.9, kCal: Int = 10,
                      minProbe: Int = 3): Int = {
    val ranks = neighborCellRanks(sample, centroids, kCal)
    if (ranks.isEmpty) return math.min(minProbe, centroids.length)
    val sorted = ranks.sorted
    val idx = math.max(0, math.min(sorted.length - 1,
      math.ceil(recall * sorted.length).toInt - 1))
    math.min(centroids.length, math.max(minProbe, sorted(idx)))
  }

  /** All `nTables` hyperplane sets, seeded per table exactly as the
    * unrolled path did (seed + 31·t). */
  private def tablePlanes(nBits: Int, nTables: Int, dim: Int,
                          seed: Long): Seq[Seq[Seq[Double]]] =
    (0 until nTables).map(t => hyperplanes(nBits, dim, seed + 31L * t))

  /** (id, tbl, bkt) rows via ONE [[graft.functions.SignBuckets]] call
    * + posexplode. Output is bit-identical to folding [[bucketId]] per
    * table (same sequential dot, same `> 0`, same 2·acc+bit fold) —
    * the change is generated-CODE size: the unrolled form emitted
    * O(tables·bits·dim) Java that janino compiled for seconds per
    * query at d07's derived 40-table config. */
  private def tableBuckets(df: DataFrame, vecCol: String, idAs: String,
                           planes: Seq[Seq[Seq[Double]]]): DataFrame =
    df.select(col("id").as(idAs),
      posexplode(graft.functions.SignBuckets.signBuckets(col(vecCol), planes))
        .as(Seq("tbl", "bkt")))

  /** Candidate stage of the near-dup join, exposed for the
    * volume-bound spec: distinct pairs sharing a bucket in ≥1 table. */
  private[graft] def lshCandidates(v: DataFrame, nBits: Int, nTables: Int,
                                   dim: Int, seed: Long): DataFrame = {
    val bkts = tableBuckets(v, "v", "id", tablePlanes(nBits, nTables, dim, seed))
    bkts.toDF("id1", "tbl1", "bkt1")
      .join(bkts.toDF("id2", "tbl2", "bkt2"),
        col("tbl1") === col("tbl2") && col("bkt1") === col("bkt2") &&
        col("id1") < col("id2"))
      .select("id1", "id2")
      .distinct()
  }

  /** Exact-rerank tail shared by every two-stage ANN path: fetch the
    * survivors' float vectors by id (cand is (qid, neighbor_id) only —
    * the approximate stage never shuffles vectors), exact cosine,
    * final top-k. Precision of the ranking is exact; only candidate
    * recall is approximate. */
  private def exactRerank(cand: DataFrame, corpus: DataFrame,
                          queries: DataFrame, k: Int): DataFrame = {
    val cf = corpus.select(col("id").as("neighbor_id"), col("vec").as("cvec"))
      .withColumn("cnrm", norm(col("cvec"))).filter(col("cnrm") > 0)
    val qf = queries.select(col("id").as("qid"), col("vec").as("qvec"))
      .withColumn("qnrm", norm(col("qvec"))).filter(col("qnrm") > 0)
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("neighbor_id").asc)
    cand.join(cf, "neighbor_id").join(broadcast(qf), "qid")
      .withColumn("sim", cosinePrenormed(dot(col("qvec"), col("cvec")), col("qnrm"), col("cnrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("neighbor_id"))
  }

  /** IVF-PQ ANN (SURVEY.md §2 #94) — the IVFADC composition (Jégou
    * et al. 2011 §IV) that production vector stores run: a coarse
    * quantizer narrows each query to `nProbe` cells (IVF, #27b), and
    * within them vectors are scored from PQ codes of their RESIDUAL
    * `v/‖v‖ − centroid(cell)` (#89's machinery on the residual
    * space, where the same code budget quantizes far finer because
    * the coarse quantizer already absorbed the corpus structure).
    * Approximate score = q·centroid(cell) + Σ_m lut(code_m) — base
    * term once per (query, cell), fine term m lookups per row, no
    * float vector touched until the exact rerank. At 10⁹ vectors
    * this is n^(3/4)-ish probe work over 8-byte codes: both the
    * IVF coverage saving and the PQ bandwidth saving compound. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int, seed: Long,
                m: Int = 8, ksub: Int = 16, candMult: Int = 0,
                fitSampleCap: Long = 8192L, maxCells: Int = 2048,
                recall: Double = 0.9): DataFrame = {
    import graft.functions.{CentroidCells, ProductQuantizer, ResidualPq}
    import ProductQuantizer.{fit, pqAdc, pqLut}
    val live = corpus.withColumn("nrm", norm(col("vec"))).filter(col("nrm") > 0)
    // the whole operating point — coarse + residual codebooks, probe
    // count, rerank buffer — is a deterministic function of (corpus,
    // params): derived once per corpus key, read per query (the
    // round-8 bench's s07 regression was exactly this block re-run
    // per call)
    val (coarseSeq, pqCb, nProbe, buf) = memo(corpusKey(corpus).map(c =>
        s"ivfpq|$c|k=$k|seed=$seed|m=$m|ksub=$ksub|cm=$candMult" +
          s"|cap=$fitSampleCap|mc=$maxCells|r=$recall")) {
      val n = live.count()
      // √n cells, clamped so the driver Lloyd fit stays bounded (≥ 8
      // sample points per centroid; past the clamp, probe coverage
      // grows as nProbe/maxCells of the corpus — swap the coarse fit
      // for distributed ml.KMeans (the s03 path) to push further)
      val nCells = math.min(maxCells,
        math.max(8, math.ceil(math.sqrt(n.toDouble)).toInt))
      val cap = math.max(fitSampleCap, nCells.toLong * 8)
      val sampled =
        if (n <= cap) live
        else live.filter(pmod(xxhash64(col("id")), lit(n / cap + 1)) === 0)
      // orderBy(id): partitioning-independent codebooks (see pqTopK)
      val samples = sampled.orderBy("id").select(col("vec"), col("nrm")).collect()
        .map { r => val v = r.getSeq[Double](0); val nr = r.getDouble(1); v.map(_ / nr).toArray }
      val coarse = fit(samples, m = 1, ksub = nCells, seed).cent(0)
      // residual fit sample: same unit vectors, coarse part subtracted
      def cellOf(v: Array[Double]): Int = {
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < coarse.length) {
          var d = 0.0; var i = 0
          while (i < v.length) { val t = v(i) - coarse(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        best
      }
      val residuals = samples.map { v =>
        val ctr = coarse(cellOf(v))
        Array.tabulate(v.length)(i => v(i) - ctr(i))
      }
      val cb = fit(residuals, m, ksub, seed ^ 0x5f3759df)
      val cSeq: Seq[Seq[Double]] = coarse.map(_.toSeq).toSeq

      // Two approximate stages compound: overall recall ≈
      // P(neighbor's cell probed) · P(neighbor survives the ADC cut).
      // Budget each at √recall, then solve each from the fit sample —
      // nProbe from the cell-rank CDF ([[probesForRecall]]) and the
      // rerank buffer from the measured ADC rank of true neighbors
      // ([[candMultForRecall]]); candMult > 0 overrides the calibration.
      val perStage = math.sqrt(recall)
      val calib =
        if (samples.length <= 512) samples
        else {
          val stride = samples.length / 512 + 1
          samples.zipWithIndex.collect { case (v, i) if i % stride == 0 => v }
        }
      val p = probesForRecall(calib, cSeq, perStage, kCal = k)
      val b =
        if (candMult > 0) candMult
        else candMultForRecall(calib, coarse, cb, p, k, n, perStage)
      (cSeq, cb, p, b)
    }

    val c = spreadCorpus(live) // sort-parallelism guard, see ivfProbe
      .withColumn("cell",
        element_at(CentroidCells.centroidCells(col("vec"), col("nrm"), coarseSeq, 1), 1))
      .select(col("id").as("neighbor_id"), col("cell"),
        ResidualPq.residualEncode(col("vec"), col("nrm"), col("cell"), coarseSeq, pqCb)
          .as("codes"))
    val q = queries.withColumn("qnrm", norm(col("vec")))
      .filter(col("qnrm") > 0)
      .select(col("id").as("qid"), col("vec").as("qvec"), col("qnrm"))
      .withColumn("cell",
        explode(CentroidCells.centroidCells(col("qvec"), col("qnrm"), coarseSeq, nProbe)))
      .withColumn("base",
        ResidualPq.centroidDot(col("qvec"), col("qnrm"), col("cell"), coarseSeq))
      .withColumn("lut", pqLut(col("qvec"), col("qnrm"), pqCb))
      .select("qid", "cell", "base", "lut")
    val wa = Window.partitionBy("qid").orderBy(col("asim").desc, col("neighbor_id").asc)
    val cand = c.join(broadcast(q), Seq("cell"))
      .filter(col("neighbor_id") =!= col("qid"))
      .withColumn("asim", col("base") + pqAdc(col("lut"), col("codes"), ksub))
      .withColumn("ar", row_number().over(wa))
      .filter(col("ar") <= k * buf)
      .select("qid", "neighbor_id")
    exactRerank(cand, corpus, queries, k)
  }

  /** Rerank-buffer multiplier for the PQ cut: measures, on the
    * calibration sample, the ADC rank each true neighbor would need to
    * survive (1 + the number of same-probe candidates whose quantized
    * score beats it), scales the rank by n/|sample| (outscoring
    * competitors are a distortion-determined FRACTION of the candidate
    * population, so their absolute count grows with the corpus), takes
    * the `recall` quantile, and converts to a multiple of k. The clamp
    * at `maxCandMult` bounds the exact-rerank cost per query — past it
    * the honest fix is more PQ bits (m·log₂ksub), not a deeper buffer. */
  private[graft] def candMultForRecall(sample: Array[Array[Double]],
                                       coarse: Array[Array[Double]],
                                       cb: graft.functions.ProductQuantizer.Codebooks,
                                       nProbe: Int, kCal: Int, n: Long,
                                       recall: Double,
                                       minCandMult: Int = 2,
                                       maxCandMult: Int = 64): Int = {
    val s = sample.length
    if (s < 3) return 8
    val m = cb.m; val ksub = cb.ksub; val dsub = cb.dsub
    val home = sample.map(v => cellScores(v, coarse).zipWithIndex.minBy(_._1)._2)
    // residual PQ codes of each sample vector (exactly what
    // ResidualPq.residualEncode computes executor-side)
    val codes = Array.tabulate(s) { i =>
      val v = sample(i); val ctr = coarse(home(i))
      Array.tabulate(m) { sub =>
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < ksub) {
          val cent = cb.cent(sub)(c)
          var d = 0.0; var t = 0
          while (t < dsub) {
            val x = v(sub * dsub + t) - ctr(sub * dsub + t) - cent(t)
            d += x * x; t += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        best
      }
    }
    val scaledRanks = Array.newBuilder[Double]
    var qi = 0
    while (qi < s) {
      val v = sample(qi)
      val probed = cellScores(v, coarse).zipWithIndex.sortBy(_._1)
        .take(nProbe).map(_._2).toSet
      // query-side LUT + per-candidate ADC score, as pqLut/pqAdc do
      val lut = Array.tabulate(m, ksub) { (sub, c) =>
        var d = 0.0; var t = 0
        while (t < dsub) { d += v(sub * dsub + t) * cb.cent(sub)(c)(t); t += 1 }
        d
      }
      def adc(j: Int): Double = {
        var sc = dotA(v, coarse(home(j)))
        var sub = 0
        while (sub < m) { sc += lut(sub)(codes(j)(sub)); sub += 1 }
        sc
      }
      val cand = (0 until s).filter(j => j != qi && probed(home(j)))
      val candScores = cand.map(adc)
      val sims = Array.tabulate(s)(j =>
        if (j == qi) Double.NegativeInfinity else dotA(v, sample(j)))
      sims.zipWithIndex.sortBy { case (sim, j) => (-sim, j) }
        .take(math.min(kCal, s - 1))
        .foreach { case (_, j) =>
          if (probed(home(j))) {
            val mine = adc(j)
            val rank = 1 + candScores.count(_ > mine)
            scaledRanks += rank.toDouble * math.max(1.0, n.toDouble / s)
          }
        }
      qi += 1
    }
    val ranks = scaledRanks.result()
    if (ranks.isEmpty) return 8
    val sorted = ranks.sorted
    val idx = math.max(0, math.min(sorted.length - 1,
      math.ceil(recall * sorted.length).toInt - 1))
    val depth = math.ceil(sorted(idx) / kCal).toInt
    math.min(maxCandMult, math.max(minCandMult, depth))
  }

  /** Int8-quantized two-stage ANN: score the WHOLE corpus from its
    * int8 codes (4× smaller than floats — at 100 TB the scan, shuffle
    * and cache all shrink 4×), keep the top k·candMult per query by
    * approximate cosine, then re-fetch ONLY those candidates' float
    * vectors by id for the exact rerank. The approximate score
    * `dotInt(qc, qq)·sc·sq / (‖c‖·‖q‖)` uses the codegen'd integer
    * kernel ([[graft.functions.DotProductInt]]); per-component int8
    * error is ≤ 0.4% of amax, so with a 3× candidate buffer the true
    * top-k survives the approximate cut (recall spec in AnnSpec).
    * This is the serving-shape pattern for a vector store built with
    * s04's quantization. */
  def int8RerankTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     candMult: Int = 3): DataFrame = {
    import graft.functions.DotProductInt.dotInt
    import graft.functions.QuantizeInt8.{absMax, quantizeInt8}
    // the int8 "store": codes + scale + norm — no float vectors here
    def store(df: DataFrame, idAs: String, pre: String): DataFrame =
      df.withColumn("nrm0", norm(col("vec")))
        .filter(col("nrm0") > 0)
        .select(col("id").as(idAs),
          quantizeInt8(col("vec")).as(s"${pre}q"),
          (absMax(col("vec")) / 127.0).as(s"${pre}s"),
          col("nrm0").as(s"${pre}nrm"))
    val c = store(spreadCorpus(corpus), "neighbor_id", "c") // see ivfProbe
    val q = store(queries, "qid", "q")
    val approx = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("qid"))
      .withColumn("asim",
        dotInt(col("cq"), col("qq")).cast("double") * col("cs") * col("qs") /
          (col("cnrm") * col("qnrm")))
    val wa = Window.partitionBy("qid").orderBy(col("asim").desc, col("neighbor_id").asc)
    val cand = approx.withColumn("ar", row_number().over(wa))
      .filter(col("ar") <= k * candMult)
      .select("qid", "neighbor_id")
    exactRerank(cand, corpus, queries, k)
  }

  /** Product-quantization two-stage ANN (SURVEY.md §2 #89): corpus
    * vectors compress to `m` codebook codes (8 bytes/vector at the
    * defaults — the 100 TB float corpus becomes ~1.6 TB of codes), the
    * whole corpus is scored by ADC table lookups (`m` lookups per row,
    * no float vector touched), and only the top `k·candMult` per query
    * are re-fetched by id for an exact cosine rerank — the same
    * two-stage serving shape as [[int8RerankTopK]], one compression
    * notch further (int8 scales per-component; PQ quantizes whole
    * subspaces). Codebooks fit on a bounded deterministic hash-sample
    * ([[graft.functions.ProductQuantizer.fit]]); precision of the final
    * ranking is exact, only candidate recall is approximate (spec'd in
    * AnnSpec vs brute force). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, seed: Long,
             m: Int = 8, ksub: Int = 16, candMult: Int = 8,
             fitSampleCap: Long = 8192L): DataFrame = {
    import graft.functions.ProductQuantizer._
    val live = corpus.withColumn("nrm", norm(col("vec"))).filter(col("nrm") > 0)
    val n = live.count()
    val sampled =
      if (n <= fitSampleCap) live
      else live.filter(pmod(xxhash64(col("id")), lit(n / fitSampleCap + 1)) === 0)
    // bounded driver round-trip: ≤ cap·dim doubles of FIT SAMPLE (not
    // corpus) — the codebook analog of the IVF fit cap / bloom
    // sketch. orderBy(id): the Lloyd fit is order-sensitive, so an
    // unsorted collect would tie the codebooks to physical
    // partitioning and break the determinism claim.
    val samples = sampled.orderBy("id").select(col("vec"), col("nrm"))
      .collect()
      .map { r =>
        val v = r.getSeq[Double](0); val nr = r.getDouble(1)
        v.map(_ / nr).toArray
      }
    val cb = fit(samples, m, ksub, seed)
    val c = spreadCorpus(live) // sort-parallelism guard, see ivfProbe
      .select(col("id").as("neighbor_id"),
        pqEncode(col("vec"), col("nrm"), cb).as("codes"))
    val q = queries.withColumn("qnrm", norm(col("vec")))
      .filter(col("qnrm") > 0)
      .select(col("id").as("qid"), pqLut(col("vec"), col("qnrm"), cb).as("lut"))
    val wa = Window.partitionBy("qid").orderBy(col("asim").desc, col("neighbor_id").asc)
    val cand = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("qid"))
      .withColumn("asim", pqAdc(col("lut"), col("codes"), ksub))
      .withColumn("ar", row_number().over(wa))
      .filter(col("ar") <= k * candMult)
      .select("qid", "neighbor_id")
    exactRerank(cand, corpus, queries, k)
  }

  /** Multi-table sign-LSH near-duplicate pairs — the scale path for a
    * cosine-threshold self-join (d05's exact per-label all-pairs is
    * quadratic in label population). Candidates = pairs sharing a
    * bucket in ANY of `nTables` independent hyperplane tables; exact
    * cosine verification then keeps only pairs ≥ `tau`, so precision
    * is exact and only recall is probabilistic:
    * 1 − (1 − p^nBits)^nTables with p = 1 − θ/π per hyperplane.
    * Work is Θ(Σ bucket²) per table over 16-byte (id, bucket) rows —
    * vectors are never shuffled; verification re-joins them by id.
    * Prefer [[lshNearDupPairsAuto]], which sizes both parameters from
    * the corpus instead of shipping fixed ones.
    */
  /** int8 code columns (`q`, `s`, `l1q`) for the sound candidate
    * prefilter ([[bucketPrefilteredPairs]]): symmetric quantization
    * q = round(v/s) at s = absMax/127, plus the L1 mass of the
    * DEQUANTIZED vector (s·Σ|qᵢ| — the exact term the error bound
    * needs, not an approximation of ‖v‖₁). Expects (id, v, nrm). */
  private[graft] def int8CodeCols(v: DataFrame): DataFrame = {
    import graft.functions.QuantizeInt8.{absMax, quantizeInt8, sumAbsInt}
    v.withColumn("q", quantizeInt8(col("v")))
      .withColumn("s", absMax(col("v")) / 127.0)
      // codegen'd Σ|qᵢ| — a functions.aggregate lambda here would put
      // an interpreted lambdafunction in every candidate-stage plan
      .withColumn("l1q", col("s") * sumAbsInt(col("q")).cast("double"))
  }

  /** Bucket-grouped generate-and-score candidate stage shared by the
    * sign-LSH and SemDeDup near-dup paths (r15): `bkts` rows are
    * (c: struct(id, q, s, nrm, l1q), tbl, bkt) — one per (vector,
    * table). Members collect per (tbl, bkt) — occupancy-BOUNDED by
    * the callers' parameter derivations — pairs generate and score
    * INSIDE the bucket row with whole-stage codegen, and only
    * prefilter survivors reach a shuffle. Replaces the previous
    * bucket SELF-JOIN → all-pair distinct → per-pair vector joins,
    * which at d07's n=20k/T=239 spent ~47 of 92 s before any scoring
    * (the restructure measured 92 → 7.4 s end-to-end).
    *
    * The prefilter is SOUND, not approximate: with q = round(v/s),
    * every |vᵢ − qᵢs| ≤ s/2, so
    *   |v₁·v₂ − ŝ| ≤ s₂/2·Σ|q₁ᵢs₁| + s₁/2·Σ|q₂ᵢs₂| + d·s₁s₂/4
    * (ŝ = the int8 dot rescaled; the terms are the e₂, e₁ and e₁e₂
    * masses of (q₁s₁+e₁)·(q₂s₂+e₂)). A pair is pruned only when even
    * ŝ + bound < τ·‖v₁‖‖v₂‖ — no true pair can be lost; callers
    * exact-verify survivors, so output sets are unchanged
    * (DedupSpec/AnnSpec pin them against exact blocked recomputes).
    *
    * Degenerate-class hazard (same class as SimHash's identical-sig
    * blobs): bucket arrays are occupancy-sized in EXPECTATION; an
    * identical-vector blob concentrates in one bucket per table and
    * pays m² scoring there, as every all-pairs-at-τ contract must —
    * run exact dedup (d01) upstream, where pipelines remove equality
    * classes anyway. */
  private[graft] def bucketPrefilteredPairs(bkts: DataFrame, tau: Double,
                                            dim: Int): DataFrame = {
    import graft.functions.DotProductInt.dotInt
    bkts.groupBy("tbl", "bkt")
      .agg(collect_list(col("c")).as("cs"))
      .filter(size(col("cs")) > 1)
      .select(col("cs"), posexplode(col("cs")).as(Seq("i", "a")))
      .select(col("a"),
        explode(slice(col("cs"), col("i") + lit(2), size(col("cs")))).as("b"))
      .withColumn("adot",
        dotInt(col("a.q"), col("b.q")) * col("a.s") * col("b.s"))
      .withColumn("abound",
        col("b.s") * col("a.l1q") / 2 + col("a.s") * col("b.l1q") / 2 +
          lit(dim / 4.0) * col("a.s") * col("b.s"))
      .filter(col("adot") + col("abound") >= lit(tau) * col("a.nrm") * col("b.nrm"))
      .select(least(col("a.id"), col("b.id")).as("id1"),
        greatest(col("a.id"), col("b.id")).as("id2"))
      .distinct()
  }

  def lshNearDupPairs(vecs: DataFrame, idCol: String, vecCol: String,
                      tau: Double, nBits: Int, nTables: Int, dim: Int,
                      seed: Long): DataFrame = {
    val v = vecs.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", norm(col("v")))
      .filter(col("nrm") > 0) // zero-norm → NaN cosine → NaN ≥ τ is TRUE in Spark
      .repartition(col("id")) // barrier → one materialization, reused 2×
    // candidate stage = the shared bucket-grouped generate-and-score
    // kernel ([[bucketPrefilteredPairs]] — the r15 restructure that
    // took d07 from 92 to 7.4 s at n=20k, T=239); survivors are
    // exact-verified below, so the emitted pair set is unchanged
    val planes = tablePlanes(nBits, nTables, dim, seed)
    val bkts = int8CodeCols(v).select(
      struct(col("id"), col("q"), col("s"), col("nrm"), col("l1q")).as("c"),
      posexplode(graft.functions.SignBuckets.signBuckets(col("v"), planes))
        .as(Seq("tbl", "bkt")))
    bucketPrefilteredPairs(bkts, tau, dim)
      .join(v.select(col("id").as("id1"), col("v").as("v1"), col("nrm").as("nrm1")), "id1")
      .join(v.select(col("id").as("id2"), col("v").as("v2"), col("nrm").as("nrm2")), "id2")
      .filter(cosinePrenormed(dot(col("v1"), col("v2")), col("nrm1"), col("nrm2")) >= tau)
      .select("id1", "id2")
  }

  /** [[lshNearDupPairs]] with corpus-derived parameters (round-4 fix:
    * a FIXED nBits makes bucket population n/2^nBits, so the candidate
    * stage is quadratic in the corpus no matter how cheap each compare
    * is). nBits holds expected bucket occupancy constant
    * ([[bitsForOccupancy]]); nTables then buys the recall target back
    * at that width ([[tablesForRecall]]). Total candidate volume is
    * O(n · occupancy · nTables). One count() job sizes the corpus —
    * same pattern as the IVF fit-sample cap. */
  def lshNearDupPairsAuto(vecs: DataFrame, idCol: String, vecCol: String,
                          tau: Double, dim: Int, seed: Long,
                          occupancy: Long = 32L, recall: Double = 0.99): DataFrame = {
    val n = vecs.count()
    val nBits = bitsForOccupancy(n, occupancy)
    val nTables = tablesForRecall(tau, nBits, recall)
    lshNearDupPairs(vecs, idCol, vecCol, tau, nBits, nTables, dim, seed)
  }

  /** [[lshTopK]] with corpus-derived parameters — same rationale as
    * [[lshNearDupPairsAuto]]: fixed nBits caps the corpus at
    * 2^nBits·occupancy before per-query candidates stop shrinking.
    * Top-k has no crisp threshold, so `tauTarget` states the cosine
    * at which the recall bound is taken (neighbors ABOVE it recall
    * better; the k-th neighbor's similarity is the honest choice). */
  def lshTopKAuto(corpus: DataFrame, queries: DataFrame, k: Int,
                  dim: Int, seed: Long, tauTarget: Double = 0.5,
                  occupancy: Long = 32L, recall: Double = 0.75): DataFrame = {
    val n = corpus.count()
    val nBits = bitsForOccupancy(n, occupancy)
    val nTables = tablesForRecall(tauTarget, nBits, recall)
    lshTopK(corpus, queries, k, nBits, dim, seed, nTables)
  }

  /** [[ivfTopK]] with corpus-derived sizing: nCells ≈ √n (cell count
    * and cell population balance, the standard IVF/FAISS shape) and
    * nProbe solved from a RECALL TARGET against the fitted cells
    * ([[probesForRecall]]) — the round-8 upgrade from the fixed
    * √nCells heuristic, whose measured recall at the default operating
    * point was 0.3-ish: a serving path should state its recall and
    * spend exactly the probes that buy it. Because the quantizer is
    * data-adaptive, a clustered corpus concentrates true neighbors in
    * few cells and the calibrated nProbe stays far below nCells
    * (per-query work ≈ nProbe·n/nCells); a corpus with no cluster
    * structure honestly calibrates toward more probes rather than
    * silently under-recalling. */
  def ivfTopKAuto(corpus: DataFrame, queries: DataFrame, k: Int,
                  seed: Long, recall: Double = 0.9): DataFrame = {
    val live = corpus.withColumn("nrm0", norm(col("vec"))).filter(col("nrm0") > 0)
    val (centroids, nProbe) =
      memo(corpusKey(corpus).map(c => s"ivfauto|$c|k=$k|seed=$seed|recall=$recall")) {
        val n = live.count()
        val nCells = math.max(8, math.ceil(math.sqrt(n.toDouble)).toInt)
        val cs = fitCentroids(live, n, nCells, seed, fitSampleCap = 100000L)
        (cs, probesForRecall(calibrationSample(live, n), cs, recall, kCal = k))
      }
    ivfProbe(live, queries, k, centroids, nProbe)
  }

  /** Pre-filtered ANN (#192): top-k among only the corpus vectors
    * satisfying a metadata predicate — the filtered-vector-search
    * shape every retrieval service needs ("nearest docs WHERE
    * lang = 'de' AND license = permissive"). The naive composition,
    * POST-filtering an unfiltered top-k, silently loses results as
    * the filter gets selective: k survivors of a 1%-selective filter
    * need ~100·k unfiltered candidates. Two moves fix it:
    *
    *  - the predicate is applied to the corpus side BEFORE any
    *    distance math, so it prunes at the scan (with a
    *    [[AnnIndex]]-style cell layout plus a partition/file filter
    *    column this is file-level pruning, not a row filter);
    *  - the probe budget is WIDENED by the measured selectivity:
    *    calibration solves nProbe for the UNFILTERED geometry, and
    *    the filtered search probes min(nCells, ⌈nProbe·n/n_kept⌉)
    *    cells, restoring the expected candidate count the calibrated
    *    recall was solved for (the per-cell survivor density shrinks
    *    by n_kept/n, so the cell count grows by its inverse).
    *
    * The quantizer fits on the FULL corpus — the index is built once
    * and shared by every predicate; a per-filter refit would be an
    * index per query. CAVEAT: the global n/n_kept widening restores
    * the calibrated candidate count only when filter survivors spread
    * roughly uniformly across cells; a predicate CORRELATED with
    * embedding geometry (e.g. `lang` on language-clustered vectors)
    * concentrates survivors in few cells and can still under-probe —
    * [[AnnIndex.probeFiltered]] is the upgrade: it widens PER QUERY
    * from the measured per-cell survivor distribution. Rows-only by
    * design (iterative float k-means); AnnSpec pins recall vs the
    * exact FILTERED brute force and the probe-widening arithmetic. */
  def filteredIvfTopKAuto(corpus: DataFrame, queries: DataFrame, k: Int,
                          pred: org.apache.spark.sql.Column, seed: Long,
                          recall: Double = 0.9): DataFrame = {
    val live = corpus.withColumn("nrm0", norm(col("vec"))).filter(col("nrm0") > 0)
    // the index-side operating point (count, quantizer, base probes) is
    // predicate-INDEPENDENT — one fit serves every filter; only the
    // survivor count below is per-predicate
    val (n, centroids, base) =
      memo(corpusKey(corpus).map(c => s"ivffilt|$c|k=$k|seed=$seed|recall=$recall")) {
        val nn = live.count()
        val nCells = math.max(8, math.ceil(math.sqrt(nn.toDouble)).toInt)
        val cs = fitCentroids(live, nn, nCells, seed, fitSampleCap = 100000L)
        (nn, cs,
          probesForRecall(calibrationSample(live, nn), cs, recall, kCal = k))
      }
    val kept = live.filter(pred)
    val nKept = kept.count()
    require(nKept > 0, "filter keeps no corpus vectors")
    val widened = math.min(centroids.length,
      math.ceil(base.toDouble * n.toDouble / nKept.toDouble).toInt)
    ivfProbe(kept, queries, k, centroids, widened)
  }

  /** MMR-diversified retrieval (#200) — maximal marginal relevance
    * (Carbonell & Goldstein, SIGIR'98), the re-rank RAG/search
    * serving stacks apply after ANN: a plain top-k from a redundant
    * corpus returns k near-copies of the same answer; MMR greedily
    * picks argmax λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s), trading
    * relevance against similarity to what's already selected. Shape:
    * the candidate fetch (top `fetchK` by relevance) is the same
    * broadcast-query scan as [[bruteForceTopK]] (swap in the IVF/index
    * probe at scale), and the greedy selection runs per query over its
    * OWN ≤ fetchK candidates via `flatMapGroups` — a bounded
    * per-group buffer (the legitimate mapGroups case: genuinely
    * iterative per-group logic over config-scale state), never a
    * corpus-scale collect. Deterministic: candidates sort by
    * (−rel, id), strict `>` keeps the first-best so score ties break
    * toward higher relevance then lower id — and at λ = 1 the
    * selection provably reduces to the plain top-k (spec-pinned),
    * which is the correctness anchor for the float arithmetic. */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, k: Int, fetchK: Int,
              lambda: Double = 0.7): DataFrame = {
    require(k <= fetchK, s"k=$k must be <= fetchK=$fetchK")
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = spreadCorpus(corpus) // sort-parallelism guard, see ivfProbe
      .withColumn("cnrm", norm(col("vec"))).filter(col("cnrm") > 0)
      .select(col("id").as("neighbor_id"), col("vec").as("nvec"), col("cnrm"))
    val q = queries.select(col("id").as("qid"), col("vec").as("qvec"))
      .withColumn("qnrm", norm(col("qvec"))).filter(col("qnrm") > 0)
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("qid"))
      .withColumn("rel",
        cosinePrenormed(dot(col("qvec"), col("nvec")), col("qnrm"), col("cnrm")))
    val w = Window.partitionBy("qid")
      .orderBy(col("rel").desc, col("neighbor_id").asc)
    mmrRerank(
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= fetchK)
        .select(col("qid"), col("neighbor_id"), col("rel"), col("nvec")),
      k, lambda)
  }

  /** The greedy MMR selection over a prepared candidate frame
    * (qid, neighbor_id, rel, nvec) — shared by [[mmrTopK]] (brute
    * candidates) and [[AnnIndex.probeMmr]] (persisted-index
    * candidates). Per-query work is bounded by that query's own
    * candidate count. */
  private[sim] def mmrRerank(cands: DataFrame, k: Int,
                             lambda: Double): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    cands
      .as[(Long, Long, Double, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val cand = it.toArray.sortBy(t => (-t._3, t._2))
        val unit = cand.map { t =>
          val v = t._4.toArray
          val n = math.sqrt(v.map(x => x * x).sum)
          v.map(_ / n)
        }
        def cos(i: Int, j: Int): Double = {
          var s = 0.0; var d = 0
          while (d < unit(i).length) { s += unit(i)(d) * unit(j)(d); d += 1 }
          s
        }
        val sel = scala.collection.mutable.ArrayBuffer.empty[Int]
        val taken = new Array[Boolean](cand.length)
        while (sel.size < math.min(k, cand.length)) {
          var best = -1; var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < cand.length) {
            if (!taken(i)) {
              // true max over the selected set (cosines can be
              // negative; clamping at 0 would mute anti-similar docs)
              var red = if (sel.isEmpty) 0.0 else Double.NegativeInfinity
              sel.foreach { j => val s = cos(i, j); if (s > red) red = s }
              val score = lambda * cand(i)._3 - (1 - lambda) * red
              if (score > bestScore) { best = i; bestScore = score }
            }
            i += 1
          }
          taken(best) = true
          sel += best
        }
        sel.zipWithIndex.map { case (i, r) =>
          (qid, (r + 1).toLong, cand(i)._2)
        }
      }
      .toDF("qid", "rank", "neighbor_id")
  }

  /** MMR operating-curve sweep (#218) — [[probeSweep]]'s sibling for
    * the diversity knob: per λ, the mean relevance and the mean
    * pairwise similarity of the selected sets, the two axes a RAG
    * owner trades when picking λ (how much relevance does each unit
    * of de-duplication cost?). The fetchK candidate frame is scored
    * ONCE and checkpointed; each λ re-runs only the greedy + a
    * bounded per-query metric fold (groups ≤ k rows). Milli-rounded
    * report; AnnSpec pins the directional contract — relevance
    * non-increasing and diversity non-decreasing as λ falls, anchored
    * at the λ = 1 plain-top-k row. */
  def mmrSweep(corpus: DataFrame, queries: DataFrame, k: Int, fetchK: Int,
               lambdas: Seq[Double] = Seq(1.0, 0.7, 0.5, 0.3)): DataFrame = {
    val c = spreadCorpus(corpus) // sort-parallelism guard, see ivfProbe
      .withColumn("cnrm", norm(col("vec"))).filter(col("cnrm") > 0)
      .select(col("id").as("neighbor_id"), col("vec").as("nvec"), col("cnrm"))
    val q = queries.select(col("id").as("qid"), col("vec").as("qvec"))
      .withColumn("qnrm", norm(col("qvec"))).filter(col("qnrm") > 0)
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("qid"))
      .withColumn("rel",
        cosinePrenormed(dot(col("qvec"), col("nvec")), col("qnrm"), col("cnrm")))
    val w = Window.partitionBy("qid")
      .orderBy(col("rel").desc, col("neighbor_id").asc)
    val top = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= fetchK)
      .select(col("qid"), col("neighbor_id"), col("rel"), col("nvec"))
    mmrSweepFrom(top, k, lambdas)
  }

  /** The λ-curve over a PREPARED candidate frame
    * (qid, neighbor_id, rel, nvec) — shared by [[mmrSweep]] (brute
    * candidates) and [[AnnIndex.probeMmrSweep]] (persisted-index
    * candidates). The frame is scored once and checkpointed here;
    * each λ re-runs only the bounded greedy + per-query metric fold. */
  private[sim] def mmrSweepFrom(cands: DataFrame, k: Int,
                                lambdas: Seq[Double]): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    val top = cands.localCheckpoint(true)
    val rows = lambdas.map { lam =>
      val parts = Ann.mmrRerank(top, k, lam)
        .join(top, Seq("qid", "neighbor_id"))
        .select(col("qid"), col("rel"), col("nvec"))
        .as[(Long, Double, Seq[Double])]
        .groupByKey(_._1)
        .mapGroups { (_, it) =>
          val a = it.toArray
          val unit = a.map { t =>
            val v = t._3.toArray
            val n = math.sqrt(v.map(x => x * x).sum)
            v.map(_ / n)
          }
          var p = 0.0; var pn = 0L
          for (i <- a.indices; j <- a.indices if i < j) {
            var d = 0.0; var x = 0
            while (x < unit(i).length) { d += unit(i)(x) * unit(j)(x); x += 1 }
            p += d; pn += 1
          }
          (a.map(_._2).sum, a.length.toLong, p, pn)
        }.collect()
      val (r, rn, p, pn) = parts.foldLeft((0.0, 0L, 0.0, 0L)) {
        case ((ra, rna, pa, pna), (rb, rnb, pb, pnb)) =>
          (ra + rb, rna + rnb, pa + pb, pna + pnb)
      }
      (math.round(lam * 1000),
        math.round(r / rn * 1000),
        if (pn == 0) 0L else math.round(p / pn * 1000))
    }
    rows.toDF("lambda_milli", "mean_rel_milli", "mean_pair_sim_milli")
      .orderBy(col("lambda_milli").desc)
  }

  /** All-corpus k-NN graph: every document's k nearest neighbors by
    * cosine — the input structure for SemDeDup-style clustering,
    * graph dedup, and label propagation. [[ivfTopK]] cannot build it
    * (it BROADCASTS the query side, and here the query side IS the
    * corpus), so the IVF idea re-lands as a shuffle self-join on the
    * cell id: each document is stored in its 1 home cell and probes
    * its `nProbe` nearest cells; candidates per document ≈
    * nProbe · n/nCells = nProbe·√n at the auto sizing — total work
    * n^1.5-ish spread evenly across cells, never the n² all-pairs
    * join, and the vectors shuffle ONCE each side (no per-query
    * re-scan). A clustered corpus makes hot cells; that skew lands in
    * the cell-id exchange where AQE's skew-join splitting applies —
    * measured, not assumed: AnnSpec's adversarial-skew case pins the
    * candidate volume of a 90%-one-blob corpus at its irreducible
    * blob floor (the data-adaptive quantizer splits any blob loose
    * enough to split; a near-identical blob's self-pairs are real
    * neighbors no regional method can avoid comparing).
    * The per-document top-k is a row_number window over the
    * HIGH-cardinality document id (Spark 4 caps it via
    * WindowGroupLimit before the full sort). Seeded k-means fit via
    * [[fitCentroids]] (capped deterministic sample). Rows-only by
    * design (iterative float k-means has no SQL oracle); AnnSpec pins
    * recall@k against the exact brute-force graph. */
  def knnGraph(corpus: DataFrame, k: Int, seed: Long,
               fitSampleCap: Long = 100000L,
               recallTarget: Option[Double] = None): DataFrame = {
    import graft.functions.CentroidCells.centroidCells
    val live = corpus.withColumn("nrm0", norm(col("vec"))).filter(col("nrm0") > 0)
    val (centroids, nProbe) = memo(corpusKey(corpus).map(c =>
        s"knn|$c|k=$k|seed=$seed|r=${recallTarget.getOrElse(-1.0)}|cap=$fitSampleCap")) {
      val n = live.count()
      val nCells = math.max(8, math.ceil(math.sqrt(n.toDouble)).toInt)
      val cs = fitCentroids(live, n, nCells, seed, fitSampleCap)
      // default: the fixed √nCells heuristic (candidate volume n^1.5);
      // with an opt-in recall target, nProbe is SOLVED from the same
      // cell-rank CDF calibration as [[ivfTopKAuto]] — the graph build
      // then states its recall and spends exactly the probes that buy
      // it (AnnSpec pins the measured recall vs the exact graph)
      val p = recallTarget match {
        case Some(r) => probesForRecall(calibrationSample(live, n), cs, r, kCal = k)
        case None    => math.max(3, math.ceil(math.sqrt(nCells.toDouble)).toInt)
      }
      (cs, p)
    }
    // the corpus side SPREADS before the join: its upstream is a
    // parquet scan whose split count is byte-derived (a compact
    // embeddings file reads as 1-2 splits), and with the exploded
    // query side BROADCAST the join output inherits the STREAM side's
    // partitioning — so without this shuffle the nProbe·n²/nCells
    // candidate rows and the window's partial top-k sort land in 1-2
    // TASKS (measured r14 at n=20k: 71 of 93 s single-threaded in the
    // map-side sort; the cell repartition costs one n-row shuffle and
    // returned the whole build to 18 s with the identical plan above)
    val c = live.select(col("id").as("neighbor_id"), col("vec").as("cvec"),
        col("nrm0").as("cnrm"))
      .withColumn("cell",
        element_at(centroidCells(col("cvec"), col("cnrm"), centroids, 1), 1))
      .repartition(col("cell"))
    val q = live.select(col("id").as("qid"), col("vec").as("qvec"),
        col("nrm0").as("qnrm"))
      .withColumn("cell",
        explode(centroidCells(col("qvec"), col("qnrm"), centroids, nProbe)))
    val scored = c.join(q, Seq("cell"))
      .filter(col("neighbor_id") =!= col("qid"))
      .withColumn("sim",
        cosinePrenormed(dot(col("qvec"), col("cvec")), col("qnrm"), col("cnrm")))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid").as("id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"))
  }

  /** EXACT k-NN graph — every corpus vector's top-k cosine neighbors
    * by definition (the [[bruteForceTopK]] kernel with the whole
    * corpus as the query side), deterministic ties on neighbor id.
    * This is the hash-oracled baseline twin of [[knnGraph]]: exact
    * answers are definitionally quadratic, so this path is for
    * calibration/audit-scale corpora (the s14 recall audit's ground
    * truth, SemDeDup threshold studies); the corpus-scale build is
    * [[knnGraph]]'s calibrated IVF cell self-join, whose recall this
    * baseline prices (AnnSpec pins it). */
  def knnGraphExact(corpus: DataFrame, k: Int): DataFrame = {
    // NOT bruteForceTopK: that kernel broadcasts its query side, which
    // is right for a handful of probes but a hard broadcast-size /
    // driver-heap ceiling when the query side IS the corpus. The graph
    // build scores a BLOCK-NESTED-LOOP cartesian instead — O(n²) work
    // either way (definitional for exact), but no single-node
    // materialization of a corpus-sized side, and explicit block
    // counts: corpus side spread over the shuffle parallelism, query
    // side in a few fat blocks (a small parquet reads as 1-2 splits,
    // which would starve a plain cartesian to p_c × p_q ≈ 2 tasks).
    val p = corpus.sparkSession.sessionState.conf.numShufflePartitions
    val qBlocks = math.max(1, math.min(8, p / 4))
    val c = corpus.select(col("id").as("neighbor_id"), col("vec").as("cvec"))
      .withColumn("cnrm", norm(col("cvec")))
      .filter(col("cnrm") > 0)
      .repartition(p)
    val q = corpus.select(col("id").as("qid"), col("vec").as("qvec"))
      .withColumn("qnrm", norm(col("qvec")))
      .filter(col("qnrm") > 0)
      .repartition(qBlocks)
    val scored = c.crossJoin(q)
      .filter(col("neighbor_id") =!= col("qid"))
      .withColumn("sim",
        cosinePrenormed(dot(col("qvec"), col("cvec")), col("qnrm"), col("cnrm")))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid").as("id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"))
  }

  /** EXACT hard-negative mining — every vector's top-k cosine
    * neighbors EXCLUDING members of its own group (near-dup cluster):
    * the contrastive-training counterpart of [[knnGraphExact]]. A
    * duplicate ranked as a "hard negative" is a false negative that
    * actively teaches the encoder to separate copies of the same
    * content, so the exclusion must be by the DEDUP clustering (text
    * identity), not by embedding distance — the two disagree exactly
    * where it matters. Ranks are computed OVER the excluded candidate
    * set (not by post-filtering a fixed top-m, which under-fills k
    * next to large clusters). Exact and hash-oracled like the graph
    * baseline; the corpus-scale path is [[hardNegativesIvf]] (the
    * calibrated IVF cell join with the same exclusion contract).
    * `groups`: (id, root) — total over the corpus ids. */
  def hardNegatives(corpus: DataFrame, k: Int, groups: DataFrame): DataFrame = {
    val g = groups.select(col("id"), col("root"))
    // same block-nested-loop shape as [[knnGraphExact]] (the
    // broadcast-ceiling and task-starvation arguments there)
    val p = corpus.sparkSession.sessionState.conf.numShufflePartitions
    val qBlocks = math.max(1, math.min(8, p / 4))
    val c = corpus.join(g, "id")
      .select(col("id").as("neighbor_id"), col("vec").as("cvec"),
        col("root").as("croot"))
      .withColumn("cnrm", norm(col("cvec")))
      .filter(col("cnrm") > 0)
      .repartition(p)
    val q = corpus.join(g, "id")
      .select(col("id").as("qid"), col("vec").as("qvec"),
        col("root").as("qroot"))
      .withColumn("qnrm", norm(col("qvec")))
      .filter(col("qnrm") > 0)
      .repartition(qBlocks)
    // croot ≠ qroot also excludes self (equal roots by construction).
    // Partitioned cartesian, NOT crossJoin(broadcast(q)): the query
    // side is the whole corpus (knnGraphExact's broadcast-ceiling
    // argument)
    val scored = c.crossJoin(q)
      .filter(col("croot") =!= col("qroot"))
      .withColumn("sim",
        cosinePrenormed(dot(col("qvec"), col("cvec")), col("qnrm"), col("cnrm")))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid").as("id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"))
  }

  /** Corpus-scale hard-negative mining — [[hardNegatives]]' calibrated
    * IVF twin, the same exact→scale pairing as [[knnGraphExact]] /
    * [[knnGraph]]. Shape: one seeded coarse-quantizer fit
    * ([[fitCentroids]]), corpus side assigned to its home cell, query
    * side (the whole corpus) exploded over its `nProbe` nearest cells,
    * candidates joined ON THE CELL ID — candidate volume
    * ≈ nProbe·n/nCells per query, never the O(n²) block-nested-loop
    * cartesian of the exact kernel — and the same-root exclusion
    * applied to the candidate set BEFORE ranking (qroot ≠ croot on the
    * joined rows), so k fills from eligible candidates and never
    * under-fills next to a large cluster (the exact kernel's
    * rank-over-excluded-set contract, kept).
    *
    * The over-fetch lives in the CALIBRATION, not in a top-(k+m)
    * post-filter: a query's same-root near-dups are its very nearest
    * vectors, crowding the closest cells, so the k-th ELIGIBLE
    * neighbor sits deeper in the cell ordering than the k-th
    * unrestricted one. [[probesForRecall]] is therefore solved at
    * kCal = k + (p99 cluster size − 1), with the percentile taken
    * SIZE-WEIGHTED over member rows (the cluster size a
    * 99th-percentile QUERY experiences — a root-level percentile
    * collapses to 1 whenever singletons dominate the root count, even
    * with one corpus-fraction mega-cluster): the empirical
    * neighbor-rank CDF covers the exclusion depth that query faces,
    * and nProbe grows only as far as that deeper CDF demands. p99 (not
    * max) keeps one web-scale boilerplate mega-cluster from pushing
    * kCal past the 512-vector calibration sample and degenerating the
    * probe count toward a full scan; the bump is additionally capped at
    * 255 — beyond that depth the capped sample has no CDF resolution
    * left to spend. Rows-only by design (iterative float k-means);
    * AnnSpec pins recall vs the exact [[hardNegatives]] kernel and the
    * same-root exclusion on a planted fixture.
    *
    * `probeBudget` (> 0) is an EXPLICIT COST CEILING on the calibrated
    * probe count — the r12 SCALECHECK remedy made a first-class
    * operating point. On geometry-less (near-isotropic) corpora the
    * calibration honestly solves nProbe ≈ nCells/2 for the recall
    * target, which degenerates the cell join's candidate volume toward
    * n²/2 ([[warnDegenerateMiningGeometry]]); a budget pins the volume
    * at ≤ budget·n·(n/nCells) ≈ budget·n^1.5 instead — sub-quadratic
    * REGARDLESS of geometry — and the recall target becomes
    * best-effort WITHIN the budget (on structured corpora the solved
    * point is usually under the budget and nothing changes; the
    * budget binds exactly where exact-recall mining was about to go
    * quadratic). The solved, uncapped point stays memoized, so two
    * callers with different budgets share one fit + calibration. A
    * binding budget logs the solved-vs-capped points; ≤ 0 = uncapped
    * (trust the calibration, the pre-r13 behavior). */
  def hardNegativesIvf(corpus: DataFrame, k: Int, groups: DataFrame,
                       seed: Long, recall: Double = 0.9,
                       fitSampleCap: Long = 100000L,
                       probeBudget: Int = 0): DataFrame = {
    import graft.functions.CentroidCells.centroidCells
    val g = groups.select(col("id"), col("root"))
    val live = corpus.join(g, "id")
      .withColumn("nrm0", norm(col("vec"))).filter(col("nrm0") > 0)
    // the calibrated operating point depends on the GROUPS frame (its
    // p99 cluster size sets the exclusion depth), so the memo key must
    // cover the groups' content, not just the corpus key — two calls
    // sharing a corpus but clustered differently must not serve each
    // other's calibration. The groups are keyed by a content digest,
    // not their files: a staged cluster table is rewritten under new
    // file names by every fresh stage root, with the same rows. One
    // linear digest per call; the expensive fit behind it is still
    // memoized.
    val key = corpusKey(corpus).map { c =>
      val r = g.agg(coalesce(expr("bit_xor(xxhash64(id, root))"), lit(0L)),
        count(lit(1))).head()
      s"hni|$c|k=$k|seed=$seed|r=$recall|cap=$fitSampleCap" +
        s"|g=${r.getLong(0)}x${r.getLong(1)}"
    }
    val (centroids, solved) = memo(key) {
      val n = live.count()
      val nCells = math.max(8, math.ceil(math.sqrt(n.toDouble)).toInt)
      val cs = fitCentroids(live, n, nCells, seed, fitSampleCap)
      (cs, probesForRecall(calibrationSample(live, n), cs, recall,
        kCal = k + exclusionDepth(g)))
    }
    warnDegenerateMiningGeometry("hardNegativesIvf", solved, centroids.length)
    val nProbe =
      if (probeBudget > 0 && solved > probeBudget) {
        System.err.println(
          s"[graft] hardNegativesIvf probe budget binds: calibration " +
            s"solved $solved of ${centroids.length} cells for recall " +
            s"$recall, capped at $probeBudget — recall is best-effort " +
            "within the budget on this geometry")
        probeBudget
      } else solved
    val c = live.select(col("id").as("neighbor_id"), col("vec").as("cvec"),
        col("nrm0").as("cnrm"), col("root").as("croot"))
      .withColumn("cell",
        element_at(centroidCells(col("cvec"), col("cnrm"), centroids, 1), 1))
    val q = live.select(col("id").as("qid"), col("vec").as("qvec"),
        col("nrm0").as("qnrm"), col("root").as("qroot"))
      .withColumn("cell",
        explode(centroidCells(col("qvec"), col("qnrm"), centroids, nProbe)))
    rankExcludedCells(c, q, k)
  }

  /** Exclusion depth for hard-negative calibration — the cluster size
    * a 99th-percentile QUERY experiences minus the query itself,
    * capped at 255 (past that the 512-vector calibration sample has
    * no CDF resolution left to spend). SIZE-WEIGHTED: the percentile
    * of csz runs over MEMBER rows (per-root counts joined back to
    * members), not over root rows — in a soft-dedup regime singleton
    * roots dominate the root count, so a root-level p99 collapses to
    * 1 even when one cluster holds 20% of the corpus. ONE definition
    * shared by the one-shot [[hardNegativesIvf]] and the index-served
    * [[AnnIndex.probeHardNegatives]], so the two mining calibrations
    * can never silently diverge (the ksFromCounts/rrfFuse
    * convention). `g`: (id, root). */
  private[graft] def exclusionDepth(g: DataFrame): Int = {
    val p99 = g.join(g.groupBy("root").agg(count(lit(1)).as("csz")), "root")
      .agg(percentile_approx(col("csz"), lit(0.99), lit(10000)))
      .head().getLong(0)
    math.min(255L, math.max(0L, p99 - 1L)).toInt
  }

  /** The operational signal behind the r12 SCALECHECK diagnosis: when
    * the mining calibration solves a probe budget ≥ a third of the
    * cells, the corpus geometry gives the cell join little selectivity
    * at this recall target — candidate volume approaches n²/3+, the
    * IVF path's edge over the exact kernel is a constant factor at
    * best, and the owner should know BEFORE the job bill arrives.
    * A warning (not a silent fallback): the exact kernel is also
    * quadratic, thresholds would flip across scale points, and the
    * right remedies are a deliberate choice — a bounded probe budget
    * ([[AnnIndex.probeHardNegatives]] with explicit nProbe) or a
    * lower recall target. */
  private[graft] def warnDegenerateMiningGeometry(path: String, nProbe: Int,
                                                  nCells: Int): Unit =
    if (nProbe * 3 >= nCells) System.err.println(
      s"[graft] $path calibration solved nProbe=$nProbe of $nCells cells: " +
        "the corpus geometry gives the cell join little selectivity at " +
        "this recall target (candidate volume approaches n^2). Consider " +
        "a bounded probe budget (AnnIndex.probeHardNegatives with an " +
        "explicit nProbe) or a lower recall target.")

  /** The hard-negative miners' shared scoring tail: candidates joined
    * ON the cell id, the same-root exclusion applied BEFORE ranking
    * (k fills from eligible candidates next to any cluster size),
    * rank (sim desc, neighbor_id asc), keep k. Shared by
    * [[hardNegativesIvf]] and [[AnnIndex.probeHardNegatives]].
    * `c`: (neighbor_id, cvec, cnrm, croot, cell);
    * `q`: (qid, qvec, qnrm, qroot, cell). */
  private[graft] def rankExcludedCells(c: DataFrame, q: DataFrame,
                                       k: Int): DataFrame = {
    // croot ≠ qroot also excludes self (equal roots by construction)
    val scored = c.join(q, Seq("cell"))
      .filter(col("croot") =!= col("qroot"))
      .withColumn("sim",
        cosinePrenormed(dot(col("qvec"), col("cvec")), col("qnrm"), col("cnrm")))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid").as("id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"))
  }

  /** Integer-exact Reciprocal Rank Fusion of two per-query ranked
    * lists — ONE definition of the rule (rrf = Σ 10⁹ div
    * (rrfK + rank); a doc absent from a list contributes 0 and its
    * rank column reports 0; ties on doc_id) shared by the batch
    * query ([[graft.LlmQueries.s23RrfFusion]]) and the index-served
    * path ([[AnnIndex.probeRrf]]), so the serving path can never
    * silently diverge from the oracled rule. Inputs: (qid, doc_id,
    * lex_rank) and (qid, doc_id, dense_rank), each ≤ fetch-k rows
    * per query — the fusion join is candidate-scale and the top-k
    * window plans as WindowGroupLimit. */
  def rrfFuse(lex: DataFrame, dense: DataFrame, k: Int,
              rrfK: Int = 60): DataFrame = {
    val w = Window.partitionBy("qid")
      .orderBy(col("rrf_nano").desc, col("doc_id").asc)
    lex.select(col("qid"), col("doc_id"), col("lex_rank"))
      .join(dense.select(col("qid"), col("doc_id"), col("dense_rank")),
        Seq("qid", "doc_id"), "full")
      .na.fill(0L, Seq("lex_rank", "dense_rank"))
      .withColumn("rrf_nano",
        when(col("lex_rank") > 0,
          expr(s"1000000000 div ($rrfK + lex_rank)")).otherwise(0L) +
        when(col("dense_rank") > 0,
          expr(s"1000000000 div ($rrfK + dense_rank)")).otherwise(0L))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "rank", "doc_id", "lex_rank", "dense_rank", "rrf_nano")
  }

  /** LSH-bucketed ANN: score only corpus vectors sharing a bucket
    * with the query in at least one of `nTables` independent
    * hyperplane tables. One table's recall on near-orthogonal
    * embeddings is poor (~0.1 at nBits=4 — a true neighbor at cos 0.4
    * agrees with the query on all 4 signs only 16% of the time);
    * OR-ing tables compounds it to 1 − (1−p^nBits)^nTables while
    * candidate volume stays ≈ nTables · n/2^nBits per query.
    * Prefer [[lshTopKAuto]]. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nBits: Int, dim: Int, seed: Long, nTables: Int = 8): DataFrame = {
    // barrier: bucket generation AND scoring read the same
    // materialized corpus exchange instead of re-running the upstream
    // scan/projection twice (ReuseExchange); zero-norm rows excluded —
    // NaN cosine would rank first under Spark's NaN-greatest ordering
    val cp = corpus.select(col("id"), col("vec"))
      .withColumn("nrm", norm(col("vec")))
      .filter(col("nrm") > 0)
      .repartition(col("id"))
    val qp = queries.select(col("id"), col("vec"))
      .withColumn("nrm", norm(col("vec")))
      .filter(col("nrm") > 0)
    val planes = tablePlanes(nBits, nTables, dim, seed)
    val cand = tableBuckets(cp, "vec", "neighbor_id", planes)
      .join(broadcast(tableBuckets(qp, "vec", "qid", planes)), Seq("tbl", "bkt"))
      .filter(col("neighbor_id") =!= col("qid"))
      .select("qid", "neighbor_id")
      .distinct()
    val c = cp.select(col("id").as("neighbor_id"), col("vec").as("cvec"),
      col("nrm").as("cnrm"))
    val q = qp.select(col("id").as("qid"), col("vec").as("qvec"),
      col("nrm").as("qnrm"))
    val scored = cand.join(c, "neighbor_id").join(broadcast(q), "qid")
      .withColumn("sim", cosinePrenormed(dot(col("qvec"), col("cvec")), col("qnrm"), col("cnrm")))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("neighbor_id"))
  }
}
