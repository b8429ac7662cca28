package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType}

import graft.sources.Readers

/** The corpus-PUBLISH flagship (#318) — the q17-of-the-LLM-family:
  * every step a training-data owner runs between "raw feed" and
  * "artifact a trainer consumes", composed as ONE staged, resumable
  * pipeline from pieces that are each already oracled or spec-pinned:
  *
  *   1. `pub_split`   — leakage-safe train/valid/test assignment
  *                      (t23: near-dup CLUSTERS are the split unit, so
  *                      cross-split paraphrase leakage is structurally
  *                      impossible; reads the staged cluster artifact);
  *   2. `pub_kept`    — exact dedup, keep-min-id per md5(text)
  *                      (d01's rule) with the token census attached;
  *   3. `pub_plan`    — per-split token-budget shard plan (t39's
  *                      greedy sequence cut in the epoch-0 hash order,
  *                      one distributed prefix sum per split — the
  *                      split domain is 3 values, configuration-scale);
  *   4. shard export  — [[graft.sources.Writers.writeShards]] per
  *                      split: shard-partitioned parquet WITH per-shard
  *                      `_manifest` receipts (n_docs, n_tokens,
  *                      content_md5 chained in seq order), swapped in
  *                      atomically;
  *   5. `pub_datasheet` — the per-(source, split) provenance census a
  *                      datasheet quotes (docs in/kept, tokens in/out,
  *                      half-up retention ppm — d33's conventions);
  *   6. savings ledger — the run's exact-dedup savings appended under
  *                      `runLabel` ([[graft.etl.SavingsLedger]],
  *                      dynamic-partition overwrite ⇒ idempotent per
  *                      label).
  *
  * RESUMABILITY is the staging contract, not new machinery: stages
  * 1–3 and 5 are `_SUCCESS`-gated [[graft.etl.Stages.stage]] dirs
  * under `stageRoot` — a killed run resumes at the first uncommitted
  * stage (half-written `.inprogress` debris is rebuilt, never
  * trusted); the export swaps whole artifacts via the no-loss rename
  * protocol (re-running re-exports the same bytes — the manifests'
  * content_md5 is the idempotence witness); the ledger append is
  * idempotent per run label. PublishSpec kills the pipeline
  * mid-stage, resumes on the same root, and pins manifests +
  * datasheet + ledger bit-identical to a from-scratch run — with the
  * committed prefix SERVED (commit-marker mtime unchanged), not
  * rebuilt.
  *
  * At 100 TB: every stage is a linear shuffle or a staged read; the
  * only per-shard driver state is the manifest digest chain, bounded
  * by the token budget. The expensive upstream (near-dup pair graph →
  * clusters) is the shared staged artifact the rest of the library
  * already amortizes. */
object PublishCorpus {

  import graft.text.TextFunctions.whitespaceTokenCount

  /** Stage 1: (doc_id, root, split) — t23's cluster-rooted split. */
  private[graft] def splitFrame(spark: SparkSession, dir: String,
                                stageRoot: String): DataFrame =
    etl.Stages.stage(spark, stageRoot, "pub_split") {
      TrainingDataQueries.t23LeakageSafeSplit(spark, dir)
    }

  /** Stage 2: the kept corpus — exact dedup (keep min doc_id per
    * md5(text)) with payload + token census. */
  private[graft] def keptFrame(spark: SparkSession, dir: String,
                               stageRoot: String): DataFrame =
    etl.Stages.stage(spark, stageRoot, "pub_kept") {
      etl.Dedup.topPerKey(
          Tables.documents(spark, dir)
            .select(col("doc_id"), col("source"), col("text"))
            .withColumn("dup_key", md5(col("text"))),
          Seq("dup_key"), Seq(col("doc_id").asc))
        .drop("dup_key")
        .withColumn("n_tok", whitespaceTokenCount(col("text")))
    }

  private[graft] val Splits = Seq("train", "valid", "test")

  /** Stage 3: per-split shard plan — t39's greedy token-budget cut
    * (epoch-0 hash order, distributed prefix sum, shard = start
    * offset div budget), one pass per split over the STAGED kept
    * frame (the split domain is 3 values — three parquet reads, no
    * corpus recompute). */
  private[graft] def planFrame(spark: SparkSession, dir: String,
                               stageRoot: String,
                               tokenBudget: Long): DataFrame =
    // the budget is part of the stage IDENTITY: a warm root re-run at
    // a different budget must rebuild, not serve the stale cut
    etl.Stages.stage(spark, stageRoot, s"pub_plan_b$tokenBudget") {
      val kept = keptFrame(spark, dir, stageRoot)
        .join(splitFrame(spark, dir, stageRoot).select("doc_id", "split"),
          "doc_id")
        .withColumn("hk",
          conv(substring(md5(concat_ws(":", col("doc_id"), lit(0))
            .cast(BinaryType)), 1, 15), 16, 10).cast(LongType))
      // one split-partitioned prefix-sum pass (r15): the per-split
      // filter+union form read the kept corpus once per split — same
      // rows, 3 corpus passes → 1
      etl.GlobalOrder.withGlobalSeq(kept,
          "hk", Seq("doc_id"), valueCol = Some("n_tok"),
          seqCol = "seq", runCol = "cum_tok",
          partitionCols = Seq("split"))
        .withColumn("shard",
          expr(s"(cum_tok - n_tok) div $tokenBudget"))
        .select("split", "shard", "seq", "doc_id", "source", "n_tok",
          "cum_tok", "text")
    }

  /** Stage 5: the per-(source, split) provenance datasheet (d33's
    * outcome-census conventions on the publish pipeline's own
    * decisions). */
  private[graft] def datasheetFrame(spark: SparkSession, dir: String,
                                    stageRoot: String): DataFrame =
    etl.Stages.stage(spark, stageRoot, "pub_datasheet") {
      val in = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          whitespaceTokenCount(col("text")).as("n_tok_in"))
      val kept = keptFrame(spark, dir, stageRoot)
        .join(splitFrame(spark, dir, stageRoot).select("doc_id", "split"),
          "doc_id")
        .select(col("doc_id"), col("split"), col("n_tok").as("n_tok_out"))
      in.join(kept, Seq("doc_id"), "left")
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_tok_out").isNotNull, 1L).otherwise(0L)).as("n_kept"),
          sum("n_tok_in").as("tokens_in"),
          sum(coalesce(col("n_tok_out"), lit(0L))).as("tokens_out"))
        // decimal(38): tokens_out·2e6 overflows Long past ~4.6e12
        // tokens per cell — real at the 100 TB design point (the same
        // overflow this round fixed in the streaming control chart)
        .withColumn("retention_ppm", expr(
          "case when tokens_in = 0 then 0 " +
            "else (cast(tokens_out as decimal(38,0)) * 2000000 + tokens_in) " +
            "div (2 * tokens_in) end").cast(LongType))
    }
  // a dropped duplicate has no split (its surviving twin carries one):
  // those rows land in the split=NULL cell of their source — the
  // datasheet's "removed" row, not a lost doc.

  /** Run the whole publish: stages 1–3 + 5 under `stageRoot`
    * (resumable), shard export per split under `outDir/<split>`
    * (atomic swap), savings ledger under `outDir/_ledger` (idempotent
    * per `runLabel`). Returns the shard-receipt report: one row per
    * (split, shard) read back from the WRITTEN manifests —
    * (split, shard, n_docs, n_tokens, content_md5). */
  def run(spark: SparkSession, dir: String, outDir: String,
          stageRoot: String, tokenBudget: Long = 1024L,
          runLabel: String = "run_001"): DataFrame = {
    val plan = planFrame(spark, dir, stageRoot, tokenBudget)
    // the three split exports are INDEPENDENT jobs writing disjoint
    // directories — submit them from a small thread pool so each
    // job's straggler tail back-fills with the next split's tasks
    // (guide §2.6; actions are only sequential because driver code
    // calls them sequentially). FIFO scheduling keeps the first
    // split's tasks prioritized; outputs are deterministic per split
    // regardless of completion order.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Splits.size)
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val exports = Splits.map { s =>
        scala.concurrent.Future {
          sources.Writers.writeShards(
            plan.filter(col("split") === s)
              .select("shard", "seq", "doc_id", "source", "n_tok", "text"),
            s"$outDir/$s")
        }
      }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(exports),
        scala.concurrent.duration.Duration.Inf)
    } finally pool.shutdown()
    val sheet = datasheetFrame(spark, dir, stageRoot)
    val savings = sheet.groupBy("source")
      .agg(sum("n_docs").as("n_docs"), sum("tokens_in").as("tokens_in"),
        (sum("tokens_in") - sum("tokens_out")).as("saved_tokens"))
    etl.SavingsLedger.append(savings, s"$outDir/_ledger", runLabel)
    Splits.map { s =>
      Readers.parquet(spark, s"$outDir/$s/_manifest")
        .withColumn("split", lit(s))
    }.reduce(_ unionByName _)
      .select("split", "shard", "n_docs", "n_tokens", "content_md5")
      .orderBy("split", "shard")
  }

  /** True iff `outDir/<split>` holds a committed shard artifact with
    * its manifest — the reader-side readiness probe a training job
    * runs before consuming. */
  def isPublished(spark: SparkSession, outDir: String): Boolean = {
    val fs = new Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Splits.forall(s => fs.exists(new Path(s"$outDir/$s/_manifest")))
  }
}
