package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM: session, set-up (repeated), a cold
  * first pass, warm passes until the time window closes, then the
  * output checks. Raw timings, spans and check results go to the file
  * named by `--out`; run.py turns them into metrics. Load is a closed
  * loop with one client: every op starts after the previous one ends.
  *
  * {{{
  * java -cp <classpath> graft.perfbench.Main --workload etl_scan \
  *   --data <input dir> --work <scratch dir> --out <metrics.json> \
  *   --seconds 10 --trace 0
  * }}}
  */
object Main {
  /** Set-up runs this many times, each from scratch; setup_s takes the
    * median build. */
  val Setups = 3

  /** The session, fixed here so that editing a library session builder
    * cannot move the numbers. */
  val SessionConf: Seq[(String, String)] = Seq(
    "spark.master" -> "local[4]",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = args("work")
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"

    val b = SessionConf.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val t = new Tracer(spark)
    t.setTrace(trace)
    val c = new Ctx(spark, args("data"), work, t)
    val w = Workloads.byName(args("workload"))

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val passes = Seq.newBuilder[ListMap[String, Any]]
    t.span(args("workload"), "workload") {
      val builds = (1 to Setups).map { i =>
        timed(c.attempt(s"setup$i")(t.span(s"setup$i", "setup")(w.setup(c))))
      }
      passes += ListMap("pass" -> 1, "traced" -> trace, "wall_s" -> timed(
        t.span("pass1", "pass")(w.pass(c, 1))), "builds_s" -> builds)
      // warm passes until the window closes (at least one); a traced run
      // makes at least three, listener off-on-off, so the overhead is
      // measured on the same JVM without favouring the later passes
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var p = 2
      while (System.nanoTime() < deadline || p < (if (trace) 5 else 3)) {
        val on = trace && p % 2 == 1
        t.setTrace(on)
        val s = timed(t.span(s"pass$p", "pass")(w.pass(c, p)))
        passes += ListMap("pass" -> p, "traced" -> on, "wall_s" -> s)
        p += 1
      }
      t.setTrace(false)
    }
    w.check(c)

    val out = Json.obj(Seq(
      "workload" -> args("workload"),
      "session_s" -> sessionS,
      "passes" -> passes.result(),
      "attempted" -> c.attempted,
      "failures" -> c.failures.map { case (w, e) => Map("what" -> w, "error" -> e) },
      "checks" -> c.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "oracles" -> c.oracles,
      "facts" -> c.facts,
      "jobs" -> t.jobs.map { case (s, a, e) => Seq(s, a, e) },
      "plans" -> t.plans.map { case (a, d) => Seq(a, d) }))
    Files.writeString(Paths.get(args("out")), out)
    Files.writeString(Paths.get(args("out") + ".spans.jsonl"), t.spansJson + "\n")
    spark.stop()
  }
}
