package graft
import org.apache.spark.sql.SparkSession

import graft.sources.Readers
object Bench {
  /** The bench session ([[GraftSession.local]]) + dataset dir, shared
    * with [[graft.streaming.StreamBench.main]]. */
  private[graft] def session(): (SparkSession, String) = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    (GraftSession.local(), sfDir)
  }

  def main(args: Array[String]): Unit = {
    val (spark, sfDir) = session()
    // JIT/classloading warm-up outside the timed region: one small
    // scan+agg+join exercises the codegen, parquet and shuffle paths
    try {
      val li = Readers.parquet(spark, s"$sfDir/lineitem.parquet")
      li.groupBy("l_returnflag").count().count()
      val o = Readers.parquet(spark, s"$sfDir/orders.parquet")
      li.join(o, li("l_orderkey") === o("o_orderkey")).count()
    } catch { case _: Throwable => () }
    // Materialize through the noop sink: every operator in the plan
    // runs and every output row is produced, unlike `.count()`, where
    // Catalyst prunes projections (and sorts) under Aggregate(count)
    // and a projection-only query degenerates to a parquet row count.
    // a failed query must not read as a ~0 s performance win: report
    // it on stderr and as -1 in the JSON so regressions are visible
    // optional name filter (local iteration: `runMain graft.Bench q53_cooccurrence`)
    // Deterministic name order — map-iteration order reshuffled every
    // round as keys were added, moving each query's position relative
    // to GC/codegen-cache pressure and inflating unchanged queries up
    // to 21× between rounds (r6 audit: q32 29.4 s in-suite vs 2.39 s
    // isolated).
    val selected =
      (if (args.isEmpty) SparkEntry.queries
       else SparkEntry.queries.filter { case (n, _) => args.contains(n) })
        .toSeq.sortBy(_._1)
    // Multiple full passes, report per-query MINIMA: the min over
    // passes is the position-noise-free estimate of the query's true
    // cost (heap/codegen-cache interference only ever adds time).
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt
    // wall-clock budget: if earlier passes ran long (cold host, loaded
    // machine), skip the remaining passes instead of risking an
    // external timeout truncating the artifact — one COMPLETE pass
    // beats half of two. Default sized so the grown suite fits two
    // full query passes (the r13 lesson: pass 1 ran ~515 s against a
    // 420 s budget, pass 2 was skipped, and the published artifact
    // carried unfiltered cold-pass position noise — every unchanged
    // query "regressed" 10-20× vs its steady-state SCALECHECK value).
    // Two levers restore comparability: (a) this budget fits pass 1 +
    // one warm query pass; (b) stage:/stream: lines run on pass 1
    // ONLY — they are artifact builds/stream folds whose cost is
    // dominated by data volume, not cache position (min-of-passes
    // buys them nothing), so later passes spend their budget where
    // the min actually filters noise: the query lines.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "1500").toLong
    val t0All = System.nanoTime()
    def elapsedSec: Long = (System.nanoTime() - t0All) / 1000000000L
    var budgetTruncated = false
    val timings = (1 to passes).flatMap { pass =>
      if (pass > 1 && elapsedSec > budgetSec) {
        budgetTruncated = true
        System.err.println(
          s"[bench] skipping pass $pass (${elapsedSec}s elapsed > ${budgetSec}s budget)")
        None
      } else Some {
        // fresh stage root on pass 1: a run must rebuild shared staged
        // artifacts (pair graph, cluster table) instead of serving a
        // previous process's debris. Later passes keep pass 1's root —
        // the stage: lines only run on pass 1, so a reset would make
        // every consumer query PAY the stage build inside its own
        // pass-2 timing (inflating it above pass 1 and wasting the
        // budget); serving the committed artifacts gives pass-2
        // consumers exactly the staged-read + compute cost pass-1
        // consumers paid after their stage lines built.
        if (pass == 1) StageRoots.reset()
        // shared-stage builds timed as their OWN ledger lines: without
        // this the whole build cost lands on the alphabetically-first
        // consumer (d04 read as 5.2 s when the PPJoin itself is ~1 s;
        // d26 as 7.8 s vs 3.7 s steady-state), so consumer regressions
        // were not attributable. Stages.shared is eager — constructing
        // the frame runs the build and commits the parquet; the noop
        // write adds the staged-read cost so the line prices the whole
        // artifact turnaround. Under a name filter, only explicitly
        // named stage: lines run (so the heavy-tail scale audit can
        // price one stage without the 245-query suite); an unnamed
        // stage is skipped and its consumers pay the build — the old
        // local-iteration behavior.
        // pass 1 only (see the budget note above): these lines price
        // whole-artifact turnaround, where run-to-run variance is data
        // volume, not the codegen-cache position noise min-of-passes
        // exists to absorb
        val stageTimes: Map[String, Double] =
          if (pass > 1) Map.empty
          else Seq[(String, () => org.apache.spark.sql.DataFrame)](
            "stage:neardup_pairs" -> (() => LlmQueries.pairGraph(spark, sfDir)),
            "stage:dedup_clusters" -> (() => LlmQueries.clusters(spark, sfDir)),
            // r15: the co-purchase edge list (d18/d20's shared input)
            // joined the staged-artifact convention — its build is
            // priced here, not on the alphabetically-first consumer
            "stage:copurchase" -> (() => LlmQueries.coPurchaseEdges(spark, sfDir)),
            "stage:dup_spans" -> (() => LlmQueries.dupSpanFrame(spark, sfDir)),
            "stage:ks_hists" -> (() => AnalyticsQueries.ksHistArtifact(spark, sfDir)),
            // building postings stages sets + df transitively, so this
            // one line prices the whole gate-corpus artifact chain
            "stage:gate_corpus" -> (() => LlmQueries.gateCorpusPostings(spark, sfDir)),
            "stage:rasters" -> (() => LlmQueries.rasterFrame(spark, sfDir)),
            // the IVF k-NN graph: the similarity stack's dominant
            // build, staged once for its consumers (s27 census; the
            // SemDeDup/community families consume the exact s10 twin
            // at oracle scale) — n^1.5 cell self-join by design
            "stage:knn_graph" -> (() => LlmQueries.knnGraphFrame(spark, sfDir)),
            // r16: the shared AnnIndex quantizer fit + calibration
            // (s17/s19's memoized build half) priced on its OWN line —
            // the r15 verdict's finding: both builders share one
            // Ann.memo key, so under min-of-passes NEITHER query line
            // carried the ~2.3 s fit and their minima depended on
            // suite order. The same declared corpus and parameters
            // as s17/s19 (LlmQueries.IvfIndex), so the same
            // content-keyed memo entry: the fit runs once per run,
            // here, and s17's staged index build serves it.
            "stage:ann_fit" -> (() => sim.AnnIndex.fitFrame(
              LlmQueries.IvfIndex.corpus(spark, sfDir),
              LlmQueries.IvfIndex.nCells, LlmQueries.IvfIndex.seed)),
            // the publish flagship, attributed per stage (r13 verdict
            // task 5: the sf1 cost decomposition must be measured, not
            // asserted). The four pub_* lines build and commit their
            // _SUCCESS-gated stage dirs in dependency order, so each
            // line prices EXACTLY its own stage's build (the staging
            // contract serves the committed prefix); the publish_corpus
            // line then prices what remains of the end-to-end run —
            // shard export + manifests + savings ledger + the manifest
            // read-back — on top of the served prefix. Sum of the five
            // = r13's single `stage:publish_corpus` end-to-end line
            // (that name is retired: its ledger chain measured the
            // whole pipeline and must not continue with export-only
            // numbers). Shard budget 32k tokens: the bench prices the
            // pipeline's data-volume cost, not a pathological
            // hundreds-of-tiny-shards layout the oracle-scale 1024
            // constant would force (a real deployment budgets ~100M
            // tokens/shard)
            "stage:pub_split" -> (() => PublishCorpus.splitFrame(spark, sfDir,
              StageRoots.rootFor(sfDir) + "/publish")),
            "stage:pub_kept" -> (() => PublishCorpus.keptFrame(spark, sfDir,
              StageRoots.rootFor(sfDir) + "/publish")),
            "stage:pub_plan" -> (() => PublishCorpus.planFrame(spark, sfDir,
              StageRoots.rootFor(sfDir) + "/publish", tokenBudget = 32768L)),
            "stage:pub_datasheet" -> (() => PublishCorpus.datasheetFrame(spark,
              sfDir, StageRoots.rootFor(sfDir) + "/publish")),
            "stage:pub_export" -> (() => PublishCorpus.run(spark, sfDir,
              StageRoots.rootFor(sfDir) + "/publish_out",
              StageRoots.rootFor(sfDir) + "/publish",
              tokenBudget = 32768L))
          ).filter { case (name, _) => args.isEmpty || args.contains(name) }
            .map { case (name, fr) =>
            val t0 = System.nanoTime()
            val ok =
              try { fr().write.mode("overwrite").format("noop").save(); true }
              catch { case e: Throwable =>
                System.err.println(s"[bench] $name failed (pass $pass): ${e.getMessage}"); false
              }
            name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
          }.toMap
        // streaming monitor throughput (r13): representative stateful
        // monitors driven over deterministic micro-batch slices —
        // priced like stage lines (pass 1 only; a stream fold's cost
        // is state turnover, not cache position); under a name filter
        // only explicitly named stream: lines run
        val streamTimes: Map[String, Double] =
          if (pass > 1 ||
              (args.nonEmpty && !args.exists(_.startsWith("stream:")))) Map.empty
          else try streaming.StreamBench.run(spark, sfDir,
            if (args.isEmpty) Set.empty else args.filter(_.startsWith("stream:")).toSet)
          catch { case e: Throwable =>
            System.err.println(s"[bench] stream lines failed (pass $pass): ${e.getMessage}")
            Map.empty
          }
        val tPass0 = System.nanoTime()
        val queryTimes = selected.map { case (name, fn) =>
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
            catch { case e: Throwable =>
              System.err.println(s"[bench] $name failed (pass $pass): ${e.getMessage}"); false
            }
          name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
        }.toMap
        System.err.println(f"[bench] pass $pass queries: " +
          f"${(System.nanoTime() - tPass0) / 1e9}%.1f s")
        stageTimes ++ streamTimes ++ queryTimes
      }
    }
    // stage:* then stream:* lines first, then the query keys, all
    // name-sorted
    val names = timings.flatMap(_.keys).distinct
      .sortBy(n => (if (n.startsWith("stage:")) 0
                    else if (n.startsWith("stream:")) 1 else 2, n))
    val results = names.map { name =>
      val runs = timings.flatMap(_.get(name))
      // a query that failed on ANY pass reports -1: a flaky failure
      // must not hide behind one lucky pass
      name -> (if (runs.exists(_ < 0)) -1.0 else runs.min)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // pass diagnostics (r13 verdict tasks 1+8): the artifact itself
    // must say whether each query line is a min-of-N or a single cold
    // pass, so a future budget truncation reads as the harness event
    // it is instead of a 10-20× "regression" of unchanged queries.
    // query_passes = passes every QUERY line ran (stage:/stream: lines
    // are pass-1-only by design); pass_sec = per-pass wall totals.
    val passSec = timings.map(m => m.values.filter(_ >= 0).sum)
    val diag = s""""passes_requested":$passes,"query_passes":${timings.length},""" +
      s""""budget_truncated":$budgetTruncated,""" +
      s""""pass_sec":${passSec.map(s => f"$s%.1f").mkString("[", ",", "]")}"""
    val line = s"""{"metric":"total","value":$total,"unit":"sec",$diag,"queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // the driver captures only a stdout tail (BENCH_r04/r05 lost ~1/3 of
    // per-query timings to truncation) — persist the complete artifact,
    // atomically (r15 verdict: BENCH_r14's stdout tail truncated
    // mid-JSON and the round lost its per-query prev table; a torn
    // bench_out.json would lose it the same way)
    try {
      val tmp = java.nio.file.Paths.get("bench_out.json.tmp")
      java.nio.file.Files.write(tmp, (line + "\n").getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get("bench_out.json"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } catch { case e: Throwable => System.err.println(s"[bench] bench_out.json: $e") }
    spark.stop()
  }
}
