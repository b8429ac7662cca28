package graft

import org.apache.spark.sql.{Column, DataFrame}

import graft.dedup.SetSimJoin
import graft.etl.{CoOccur, Dedup, TextNorm}
import graft.functions.{BloomFilter, CdcChunks, HistogramRank}
import graft.sim.{NearDup, SemDeDup}
import graft.sources.Writers

/** Fluent façade over the operator library, so a pipeline reads as a
  * chain instead of nested object calls:
  *
  * {{{
  * import graft.syntax._
  * docs.normalizeText("text", "text_norm")
  *     .dedupTopPerKey(Seq("fp"), Seq(col("score").desc))
  *     .publishTo("hdfs://out/corpus")
  * }}}
  *
  * Every method delegates to the tested operator objects — this layer
  * adds no logic, only the ergonomics a user migrating from the
  * reference's imperative pandas steps expects.
  */
object syntax {

  implicit class GraftDataFrameOps(private val df: DataFrame) extends AnyVal {

    /** Reference text normalization into a new column. */
    def normalizeText(from: String, to: String): DataFrame =
      df.withColumn(to, TextNorm.normalizeText(df(from)))

    /** Keep the top row per key under the given ordering. */
    def dedupTopPerKey(keys: Seq[String], order: Seq[Column]): DataFrame =
      Dedup.topPerKey(df, keys, order)

    /** Exact Jaccard self-join (lossless prefix+positional filtering).
      * `setCol` must hold distinct `array<bigint>` token fingerprints. */
    def jaccardSelfJoin(idCol: String, setCol: String,
                        tauNum: Int, tauDen: Int): DataFrame =
      SetSimJoin.jaccardSelfJoin(df, idCol, setCol, tauNum, tauDen)

    /** Directed containment pairs (|A∩B|/|A| ≥ τ) → (id_a, id_b,
      * inter, sz_a) — the quote/excerpt direction jaccard misses. */
    def containmentJoin(idCol: String, setCol: String,
                       tauNum: Int, tauDen: Int): DataFrame =
      SetSimJoin.containmentJoin(df, idCol, setCol, tauNum, tauDen)

    /** All-or-nothing artifact publish (temp dir + atomic rename). */
    def publishTo(uri: String, format: String = "parquet"): Unit =
      Writers.publish(df, uri, format)

    /** Embedding near-duplicate pairs — defaults to the LSH scale path
      * (corpus-derived parameters); `exact = true` for the all-pairs
      * oracle twin. */
    def nearDupPairs(idCol: String, vecCol: String, tau: Double, dim: Int,
                     seed: Long = 0L, exact: Boolean = false,
                     blockCols: Seq[String] = Nil): DataFrame =
      NearDup.pairs(df, idCol, vecCol, tau, dim, seed = seed, exact = exact,
        blockCols = blockCols)

    /** SemDeDup keep/drop flags over an embedding column. */
    def semDedupFlags(idCol: String, vecCol: String, tau: Double,
                      seed: Long): DataFrame =
      SemDeDup.dedupFlags(df, idCol, vecCol, tau, seed)

    /** Bloom runtime pre-filter: keep only rows whose `keyCol` might
      * be in `dimKeys` — the semi-join reduction before a selective
      * join (false positives only; follow with the real join). */
    def bloomPrefilterBy(dimKeys: DataFrame, dimKeyCol: String,
                         keyCol: String, expectedKeys: Long,
                         fpp: Double = 0.01): DataFrame = {
      val bf = BloomFilter.buildLong(dimKeys, dimKeyCol, expectedKeys, fpp)
      df.filter(BloomFilter.mightContain(df(keyCol), bf))
    }

    /** Bounded co-occurrence pairs: unordered item pairs (a < b) per
      * basket, each basket capped at `maxItems` distinct items before
      * the self-join (corpus-linear on any distribution). */
    def coOccurrencePairs(basketCol: String, itemCol: String,
                          maxItems: Int = 64): DataFrame =
      CoOccur.pairs(df, basketCol, itemCol, maxItems)

    /** Tie-free per-group rank `r` and group size `n` derived from a
      * count-by-value histogram — the scale-safe replacement for
      * rank-family windows over low-cardinality partition keys. */
    def histogramRank(group: Seq[String], value: String,
                      ties: Seq[String]): DataFrame =
      HistogramRank.withRank(df, group, value, ties)

    /** Content-defined chunk fingerprints of a string column (one
      * codegen'd byte pass; edit-robust chunk identities). */
    def cdcChunkFingerprints(textCol: String, outCol: String,
                             modulus: Int = 16): DataFrame =
      df.withColumn(outCol, CdcChunks.cdcChunks(df(textCol), modulus))
  }
}
