package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.TestBridge
import org.scalatest.funsuite.AnyFunSuite

/** Job budgets of the barrier-heavy catalogue lines at sf0.001: the
  * Spark jobs one line runs, from the catalogue call (construction,
  * with its eager checkpoints and collects) through a noop write of
  * its output. Job counts repeat exactly for a fixed plan, so each
  * budget is the count when it was set; a change that cuts a line's
  * jobs lowers its budget, and one that raises a budget says why. */
class JobBudgetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def jobsOf(key: String): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    TestBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      SparkEntry.queries(key)(spark, TestSpark.Sf)
        .write.mode("overwrite").format("noop").save()
      TestBridge.drainListenerBus(sc)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  // the HITS rounds and the BPE merge loop run on the driver at this
  // size (etl.SmallPath); the two parquet footer reads of d25 and the
  // one of t18/t21 count too
  private val budgets = Seq("d25_hits" -> 6, "t18_bpe_merges" -> 4, "t21_bpe_encode" -> 8)

  for ((key, budget) <- budgets) test(s"$key runs at most $budget jobs") {
    val n = jobsOf(key)
    info(s"$key: $n jobs")
    assert(n <= budget, s"$key ran $n jobs, budget $budget")
  }

  // s17's warm call serves the index the first call staged and sweeps
  // it on the driver (AnnIndex.served, AnnIndex.probeSweep): three
  // parquet footer reads (embeddings, the index's centroids and
  // cells), the centroid and cell collects and the noop write, and
  // every class it needs is still in Spark's codegen cache
  test("s17_probe_sweep's warm call runs at most 6 jobs and 0 codegen compiles") {
    jobsOf("s17_probe_sweep")
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    val n = jobsOf("s17_probe_sweep")
    val compiled = compiles.getCount - before
    info(s"s17_probe_sweep warm: $n jobs, $compiled compiles")
    assert(n <= 6, s"s17_probe_sweep's warm call ran $n jobs, budget 6")
    assert(compiled == 0,
      s"s17_probe_sweep's warm call compiled $compiled classes, budget 0")
  }
}
