package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.{Readers, Writers}

/** Persisted dedup-savings ledger (#189) — the nightly home for the
  * d29/d30 stage-savings frames: each pipeline run APPENDS its report
  * under a run label, and governance reads the ledger's history
  * instead of ever recomputing a past run ("is stage 2's marginal
  * value shrinking as the crawl saturates?" is a trend question; the
  * frames themselves only answer it for tonight).
  *
  * Layout: parquet partitioned by `run_label`, maintained through
  * [[Writers.overwritePartitions]] (dynamic-partition overwrite) — so
  * re-running a night replaces exactly that night's rows and nothing
  * else, making `append` idempotent per label and a crashed re-run
  * recoverable by just running it again. At 100 TB the ledger itself
  * is configuration-scale (runs × stages × sources rows); the
  * expensive inputs behind it are the staged cluster/span artifacts
  * the savings queries already reuse.
  */
object SavingsLedger {

  /** Append (or idempotently re-write) one run's savings frame. The
    * frame must not already carry `run_label`. */
  def append(savings: DataFrame, dir: String, runLabel: String): Unit = {
    require(!savings.columns.contains("run_label"),
      "savings frame already has a run_label column")
    Writers.overwritePartitions(
      savings.withColumn("run_label", lit(runLabel)), dir, Seq("run_label"))
  }

  /** Partition-column type inference would surface a date-shaped
    * label ("2026-08-01") as DATE; the label is an opaque run id, so
    * it is pinned back to string (lossless for ISO dates, identity
    * for everything else). */
  def read(spark: SparkSession, dir: String): DataFrame =
    Readers.parquet(spark, dir)
      .withColumn("run_label", col("run_label").cast("string"))

  /** Run-over-run trend: for each key (e.g. `stage` or
    * `stage, source`) in run-label order, this run's saved tokens and
    * the delta vs the PREVIOUS run (null on a key's first appearance —
    * "new feed", not "no change"). The window partitions on the
    * configuration-scale key, never on data volume. "Run-label order"
    * is LEXICOGRAPHIC — use labels whose string order is run order
    * (ISO dates, zero-padded counters like the streaming ledger's
    * `batch_000012`); unpadded `run_10` sorts before `run_2`. */
  def trend(spark: SparkSession, dir: String,
            keyCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy("run_label")
    read(spark, dir)
      .withColumn("prev_saved_tokens", lag("saved_tokens", 1).over(w))
      .withColumn("delta_saved_tokens",
        col("saved_tokens") - col("prev_saved_tokens"))
      .orderBy(("run_label" +: keyCols).map(col): _*)
  }
}
