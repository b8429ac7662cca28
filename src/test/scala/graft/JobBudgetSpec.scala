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

  // a warmed call (the second in the session), so a pin does not
  // depend on which spec read a table first: every parquet read is
  // then served with its memoized schema (sources.Readers.parquet),
  // and the HITS rounds and the BPE merge loop run on the driver at
  // this size (etl.SmallPath)
  private val budgets = Seq("d25_hits" -> 4, "t18_bpe_merges" -> 3, "t21_bpe_encode" -> 7)

  for ((key, budget) <- budgets) test(s"$key runs at most $budget jobs") {
    jobsOf(key)
    val n = jobsOf(key)
    info(s"$key warm: $n jobs")
    assert(n <= budget, s"$key's warm call ran $n jobs, budget $budget")
  }

  // s17's warm call serves the index the first call staged and sweeps
  // it on the driver (AnnIndex.served, AnnIndex.probeSweep): the
  // centroid and cell collects and the noop write, with no footer
  // read, and every class it needs is still in Spark's codegen cache
  test("s17_probe_sweep's warm call runs at most 3 jobs and 0 codegen compiles") {
    jobsOf("s17_probe_sweep")
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    val n = jobsOf("s17_probe_sweep")
    val compiled = compiles.getCount - before
    info(s"s17_probe_sweep warm: $n jobs, $compiled compiles")
    assert(n <= 3, s"s17_probe_sweep's warm call ran $n jobs, budget 3")
    assert(compiled == 0,
      s"s17_probe_sweep's warm call compiled $compiled classes, budget 0")
  }
}
