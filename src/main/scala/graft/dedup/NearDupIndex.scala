package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Readers

/** Persistent near-dup admission index (#186) — the corpus side of the
  * streaming near-dup ingest gate ([[graft.streaming.EventStream
  * .nearDupGateForeachBatch]]) as a durable, APPENDABLE artifact, the
  * [[graft.sim.AnnIndex]] lifecycle applied to MinHash/LSH state:
  *
  *  - `build` computes each corpus doc's minhash signature ONCE,
  *    persists the signature table, and derives + persists the band
  *    table FROM THE STORED SIGNATURES (never a second shingle pass).
  *    A `meta` row pins (k, nBands, seed) — the parameters are part
  *    of the index identity (bands built at different parameters don't
  *    collide correctly), so `append` and `gate` read them from the
  *    index rather than trusting caller arguments: a parameter
  *    mismatch is unrepresentable, not merely checked.
  *  - `append` folds an admitted ingest batch in at O(batch) cost
  *    (signature + band rows for the new docs only, parquet append —
  *    the same no-torn-reads story as AnnIndex.append).
  *  - `gate` wires the stored tables straight into the foreachBatch
  *    near-dup gate, so a nightly ingest job is: gate today's stream
  *    against the index, then append what was admitted.
  *
  * At 100 TB the band table is the big artifact (nBands rows/doc of
  * three longs); it is written partitioned by `band`, so the gate's
  * (band, bh) join prunes each probe task to 1/nBands of the files.
  */
object NearDupIndex {

  def build(corpus: DataFrame, dir: String, k: Int = 64, nBands: Int = 16,
            seed: Long = 0x5eedL): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    writeSigs(corpus, dir, k, nBands, seed)
    Seq((k, nBands, seed)).toDF("k", "n_bands", "seed")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Append an (admitted) batch without rebuilding: same parameters,
    * O(batch) new rows. */
  def append(newDocs: DataFrame, dir: String): Unit = {
    val spark = newDocs.sparkSession
    val (k, nBands, seed) = readMeta(spark, dir)
    writeSigs(newDocs, dir, k, nBands, seed, append = true)
  }

  /** (bands, sigs) as the gate expects them. */
  def load(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    (Readers.parquet(spark, s"$dir/bands").select("band", "bh", "cid"),
      Readers.parquet(spark, s"$dir/sigs"))

  /** The streaming ingest gate served from the persisted index. */
  def gate(spark: SparkSession, dir: String)(
      onAdmitted: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = {
    val (k, nBands, seed) = readMeta(spark, dir)
    val (bands, sigs) = load(spark, dir)
    graft.streaming.EventStream.nearDupGateForeachBatch(
      bands, sigs, k, nBands, seed)(onAdmitted)
  }

  /** Maintenance: merge the small per-append segment files inside each
    * band partition (and the flat sigs dir) — the same small-file tax
    * and the same crash-recoverable swap as
    * [[graft.sim.AnnIndex.compact]]. */
  def compact(spark: SparkSession, dir: String,
              minFileBytes: Long = 8L * 1024 * 1024,
              targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val a = graft.sources.Writers.compactSmallFiles(
      spark, s"$dir/bands", minFileBytes, targetFileBytes)
    val b = graft.sources.Writers.compactSmallFiles(
      spark, s"$dir/sigs", minFileBytes, targetFileBytes)
    (a._1 + b._1, a._2 + b._2)
  }

  /** Gate QUALITY audit against the persisted index (#206): the d31
    * confusion report with the estimate side served from the STORED
    * band/signature tables — per batch doc, the index gate's reject
    * decision vs ground truth "∃ corpus doc with EXACT jaccard ≥
    * τ" from the lossless prefix-filtered [[SetSimJoin]] over
    * corpus ∪ batch (`corpus` must be the (doc_id, text) frame the
    * index was built/appended from; ids disjoint from the batch —
    * the gate contract). One row: true/false rejects, missed dups,
    * integer-ppm precision/recall — the nightly "re-tune (k, nBands)
    * or rebuild?" signal, run on a slice/cadence because the exact
    * side prices like d04. An independent implementation of the d31
    * kernel (DedupSpec pins the two agreeing on the same fixture). */
  def auditGate(spark: SparkSession, dir: String, batch: DataFrame,
                corpus: DataFrame, tauNum: Int = 7,
                tauDen: Int = 10): DataFrame = {
    import org.apache.spark.sql.functions._
    val (k, nBands, seed) = readMeta(spark, dir)
    val (bands, sigs) = load(spark, dir)
    val bSig = batch
      .withColumn("text_norm", graft.etl.TextNorm.normalizeText(col("text")))
      .select(col("doc_id"), MinHash.signature(
        array_distinct(MinHash.shingleHashes(col("text_norm"), 3)), k, seed)
        .as("bsig"))
    val cand = bSig
      .select(col("doc_id"), col("bsig"),
        posexplode(MinHash.bandHashes(col("bsig"), nBands, k))
          .as(Seq("band", "bh")))
      .join(bands, Seq("band", "bh"))
      .select("doc_id", "bsig", "cid").distinct()
    val rejected = cand.join(sigs, "cid")
      .withColumn("m", MinHash.sigMatches(col("bsig"), col("csig")))
      .filter(col("m") * tauDen >= k * tauNum)
      .select("doc_id").distinct().withColumn("rej", lit(1L))
    val sets = corpus.select(col("doc_id"), col("text"), lit(false).as("is_b"))
      .unionByName(batch.select(col("doc_id"), col("text"), lit(true).as("is_b")))
      .withColumn("text_norm", graft.etl.TextNorm.normalizeText(col("text")))
      .select(col("doc_id"), col("is_b"),
        array_distinct(MinHash.shingleHashes(col("text_norm"), 3)).as("s"))
      .repartition(col("doc_id"))
    val pairs = SetSimJoin.jaccardSelfJoin(
      sets.select("doc_id", "s"), "doc_id", "s", tauNum, tauDen)
    val flag = sets.select("doc_id", "is_b")
    val trueDup = pairs
      .join(flag.select(col("doc_id").as("id1"), col("is_b").as("b1")), "id1")
      .join(flag.select(col("doc_id").as("id2"), col("is_b").as("b2")), "id2")
      .filter(col("b1") =!= col("b2"))
      .select(when(col("b1"), col("id1")).otherwise(col("id2")).as("doc_id"))
      .distinct().withColumn("dup", lit(1L))
    batch.select("doc_id")
      .join(rejected, Seq("doc_id"), "left")
      .join(trueDup, Seq("doc_id"), "left")
      .agg(
        count(lit(1)).as("n_batch"),
        sum(coalesce(col("rej"), lit(0L))).as("n_rejected"),
        sum(coalesce(col("dup"), lit(0L))).as("n_true_dup"),
        sum(when(col("rej") === 1L && col("dup") === 1L, 1L).otherwise(0L))
          .as("true_rejects"),
        sum(when(col("rej") === 1L && col("dup").isNull, 1L).otherwise(0L))
          .as("false_rejects"),
        sum(when(col("rej").isNull && col("dup") === 1L, 1L).otherwise(0L))
          .as("missed_dups"))
      .withColumn("precision_ppm", expr(
        "case when n_rejected = 0 then 1000000 " +
          "else (true_rejects * 1000000) div n_rejected end"))
      .withColumn("recall_ppm", expr(
        "case when n_true_dup = 0 then 1000000 " +
          "else (true_rejects * 1000000) div n_true_dup end"))
  }

  private def writeSigs(docs: DataFrame, dir: String, k: Int, nBands: Int,
                        seed: Long, append: Boolean = false): Unit = {
    val spark = docs.sparkSession
    val mode = if (append) "append" else "overwrite"
    docs
      .withColumn("text_norm", graft.etl.TextNorm.normalizeText(col("text")))
      .select(col("doc_id").as("cid"), MinHash.signature(
        array_distinct(MinHash.shingleHashes(col("text_norm"), 3)), k, seed)
        .as("csig"))
      .write.mode(mode).parquet(s"$dir/sigs")
    // bands derive from the STORED signatures — one shingle pass total
    val sigSrc =
      if (append)
        Readers.parquet(spark, s"$dir/sigs")
          .join(docs.select(col("doc_id").as("cid")), Seq("cid"), "left_semi")
      else Readers.parquet(spark, s"$dir/sigs")
    sigSrc
      .select(col("cid"),
        posexplode(MinHash.bandHashes(col("csig"), nBands, k))
          .as(Seq("band", "bh")))
      .select("band", "bh", "cid")
      .write.mode(mode).partitionBy("band").parquet(s"$dir/bands")
  }

  private def readMeta(spark: SparkSession, dir: String): (Int, Int, Long) = {
    val m = Readers.parquet(spark, s"$dir/meta").select("k", "n_bands", "seed").head()
    (m.getInt(0), m.getInt(1), m.getLong(2))
  }
}
