package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** #318 — the corpus-publish flagship: end-to-end, kill/resume, and
  * idempotent re-publish. */
class PublishSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private type Receipt = (String, Long, Long, Long, String)
  private def receipts(df: org.apache.spark.sql.DataFrame): Seq[Receipt] =
    df.select(col("split"), col("shard"), col("n_docs"), col("n_tokens"),
        col("content_md5"))
      .as[Receipt].collect().sortBy(r => (r._1, r._2)).toSeq

  test("publish flagship: receipts are complete, budget-shaped, and split-leakage-free") {
    val root = tmp("graft-pub-root"); val out = tmp("graft-pub-out") + "/corpus"
    val report = PublishCorpus.run(spark, TestSpark.Sf, out, root,
      tokenBudget = 512L)
    val rec = receipts(report)
    assert(rec.nonEmpty && rec.map(_._1).toSet == Set("train", "valid", "test"))
    assert(PublishCorpus.isPublished(spark, out))
    // receipts certify what LANDED: re-read every shard and recompute
    val landed = PublishCorpus.Splits.flatMap { s =>
      val rows = spark.read.parquet(s"$out/$s")
      rows.groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .select(lit(s).as("split"), col("shard"), col("n_docs"), col("n_tokens"))
        .as[(String, Long, Long, Long)].collect()
    }.sortBy(r => (r._1, r._2)).toSeq
    assert(landed == rec.map(r => (r._1, r._2, r._3, r._4)),
      "manifest counts diverge from the landed rows")
    // shard sizes respect the greedy budget cut: every shard except a
    // split's last starts under the budget boundary of the next
    val plan = PublishCorpus.planFrame(spark, TestSpark.Sf, root, 512L)
    val bad = plan.filter(expr("(cum_tok - n_tok) div 512 != shard")).count()
    assert(bad == 0L, "shard assignment must be the greedy cut")
    // leakage-safety is inherited from t23: no near-dup cluster spans
    // splits among PUBLISHED docs
    val splits = PublishCorpus.splitFrame(spark, TestSpark.Sf, root)
    val spanning = splits.groupBy("root")
      .agg(countDistinct("split").as("ns")).filter(col("ns") > 1).count()
    assert(spanning == 0L, "a near-dup cluster spans splits")
    // the datasheet's token conservation: per source,
    // tokens_out <= tokens_in and kept <= docs; ledger holds one row
    // per source under the run label with the same savings
    val sheet = PublishCorpus.datasheetFrame(spark, TestSpark.Sf, root)
    assert(sheet.filter(col("tokens_out") > col("tokens_in") ||
      col("n_kept") > col("n_docs")).count() == 0L)
    val ledger = etl.SavingsLedger.read(spark, s"$out/_ledger")
      .filter(col("run_label") === "run_001")
    val fromSheet = sheet.groupBy("source")
      .agg((sum("tokens_in") - sum("tokens_out")).as("saved_tokens"))
      .as[(String, Long)].collect().toMap
    val fromLedger = ledger.select("source", "saved_tokens")
      .as[(String, Long)].collect().toMap
    assert(fromLedger == fromSheet, "ledger savings diverge from the datasheet")
  }

  test("writeShards publishes an EMPTY plan as an empty-but-readable artifact (no abort after siblings swapped)") {
    // the review-found hazard: a small corpus can hash no cluster root
    // into a split's bucket; the export of that split must land a
    // readable artifact with an empty manifest, not throw on the
    // schema-less read-back
    val out = tmp("graft-pub-empty") + "/corpus"
    val empty = Seq.empty[(Long, Long, Long, String, Long, String)]
      .toDF("shard", "seq", "doc_id", "source", "n_tok", "text")
    val (nShards, nDocs) = sources.Writers.writeShards(empty, out)
    assert(nShards == 0L && nDocs == 0L)
    val manifest = spark.read.parquet(s"$out/_manifest")
    assert(manifest.count() == 0L &&
      manifest.columns.toSet == Set("shard", "n_docs", "n_tokens", "content_md5"))
  }

  test("publish flagship: the shard budget is part of the plan's stage identity") {
    // a warm stage root re-run at a DIFFERENT budget must rebuild the
    // cut, never serve the stale plan
    val root = tmp("graft-pub-budget")
    val p512 = PublishCorpus.planFrame(spark, TestSpark.Sf, root, 512L)
    val p2048 = PublishCorpus.planFrame(spark, TestSpark.Sf, root, 2048L)
    val max512 = p512.agg(max("shard")).as[Long].head()
    val max2048 = p2048.agg(max("shard")).as[Long].head()
    assert(max512 > max2048,
      s"512-token cut ($max512 shards) must be finer than 2048 ($max2048)")
    // and both honour their own greedy rule
    assert(p512.filter(expr("(cum_tok - n_tok) div 512 != shard")).count() == 0L)
    assert(p2048.filter(expr("(cum_tok - n_tok) div 2048 != shard")).count() == 0L)
  }

  test("publish flagship: kill mid-stage, resume serves the committed prefix and matches from-scratch") {
    // from-scratch reference run
    val rootA = tmp("graft-pub-rootA"); val outA = tmp("graft-pub-outA") + "/corpus"
    val reportA = receipts(
      PublishCorpus.run(spark, TestSpark.Sf, outA, rootA, tokenBudget = 512L))
    val sheetA = PublishCorpus.datasheetFrame(spark, TestSpark.Sf, rootA)
      .orderBy("source", "split").collect().toSeq

    // "killed" run: stages 1–2 committed, stage 3 died mid-write —
    // simulated by a half-written .inprogress dir with NO _SUCCESS
    // (exactly what a killed parquet job leaves)
    val rootB = tmp("graft-pub-rootB"); val outB = tmp("graft-pub-outB") + "/corpus"
    PublishCorpus.splitFrame(spark, TestSpark.Sf, rootB)
    PublishCorpus.keptFrame(spark, TestSpark.Sf, rootB)
    // the plan stage's name carries the budget (pub_plan_b512 at this
    // test's 512-token cut) — the debris must land in THAT stage's
    // namespace or the torn-dir scenario silently degenerates to
    // "stage absent"
    val debris = new java.io.File(s"$rootB/.pub_plan_b512.inprogress-deadbeef")
    assert(debris.mkdirs())
    java.nio.file.Files.write(debris.toPath.resolve("part-00000.parquet"),
      "torn".getBytes("UTF-8"))
    val splitSuccess = java.nio.file.Paths.get(s"$rootB/pub_split/_SUCCESS")
    val mtimeBefore = java.nio.file.Files.getLastModifiedTime(splitSuccess)

    // resume: the full pipeline on the same root
    val reportB = receipts(
      PublishCorpus.run(spark, TestSpark.Sf, outB, rootB, tokenBudget = 512L))
    val sheetB = PublishCorpus.datasheetFrame(spark, TestSpark.Sf, rootB)
      .orderBy("source", "split").collect().toSeq

    // the committed prefix was SERVED, not rebuilt
    assert(java.nio.file.Files.getLastModifiedTime(splitSuccess) == mtimeBefore,
      "resume rebuilt an already-committed stage")
    // and the resumed outputs are bit-identical to from-scratch:
    // manifests (content_md5 chains the per-doc text digests in seq
    // order — THE idempotence witness), datasheet, ledger
    assert(reportB == reportA, "resumed manifests diverge from from-scratch")
    assert(sheetB == sheetA, "resumed datasheet diverges from from-scratch")
    val lA = etl.SavingsLedger.read(spark, s"$outA/_ledger")
      .orderBy("source").collect().toSeq
    val lB = etl.SavingsLedger.read(spark, s"$outB/_ledger")
      .orderBy("source").collect().toSeq
    assert(lB == lA, "resumed ledger diverges from from-scratch")

    // idempotent re-publish: running again on the SAME root + outDir
    // re-exports the same bytes (atomic swap) and re-writes the same
    // ledger partition
    val reportB2 = receipts(
      PublishCorpus.run(spark, TestSpark.Sf, outB, rootB, tokenBudget = 512L))
    assert(reportB2 == reportB, "re-publish is not idempotent")
  }
}
