package graft

/** Scratch main for per-query plan and job attribution (not part of the
  * library API). Usage:
  *   - `Probe jobs <sfDir> [names...]`
  *   - `Probe explain <sfDir> <outDir> [names...]` */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    args.headOption match {
      case Some("jobs") =>
        // per-line Spark-job/stage/task census: on latency-bound hosts
        // the suite's cost is job launches, not bytes — this attributes
        // each query's seconds to its sequential-job count so an outlier
        // (a line paying 3× its siblings' launches) is visible as a
        // NUMBER. Counting via a per-query job group + statusTracker
        // (public API; the listener bus is async, so poll briefly for
        // the status store to drain before reading).
        val dir = args(1)
        val names =
          if (args.length > 2) args.drop(2).toSeq
          else SparkEntry.queries.keys.toSeq.sorted
        val sc = spark.sparkContext
        names.foreach { name =>
          SparkEntry.queries.get(name).foreach { fn =>
            sc.setJobGroup(s"probe:$name", name, interruptOnCancel = false)
            val t0 = System.nanoTime()
            val ok =
              try { fn(spark, dir).write.mode("overwrite").format("noop").save(); true }
              catch { case e: Throwable =>
                System.err.println(s"[probe] jobs $name failed: ${e.getMessage}"); false }
            val sec = (System.nanoTime() - t0) / 1e9
            sc.clearJobGroup()
            Thread.sleep(300) // let the async status bus drain
            val jobIds = sc.statusTracker.getJobIdsForGroup(s"probe:$name")
            val stageIds = jobIds.flatMap(id =>
              sc.statusTracker.getJobInfo(id).map(_.stageIds().map(_.intValue)).getOrElse(Array.empty[Int]))
            val tasks = stageIds.distinct.flatMap(sid =>
              sc.statusTracker.getStageInfo(sid).map(_.numTasks)).sum
            if (ok) println(f"[probe] jobs $name: ${jobIds.length} jobs, " +
              f"${stageIds.distinct.length} stages, $tasks tasks, $sec%.2f s")
          }
        }
      case Some("explain") =>
        // dump .explain("formatted") per named query for the plan
        // ledger (query keys only; stage: lines are not queries)
        val dir = args(1)
        val outDir = java.nio.file.Paths.get(args(2))
        java.nio.file.Files.createDirectories(outDir)
        val names =
          if (args.length > 3) args.drop(3).toSeq
          else SparkEntry.queries.keys.toSeq.sorted
        names.foreach { name =>
          SparkEntry.queries.get(name) match {
            case Some(fn) =>
              val plan = fn(spark, dir).queryExecution
                .explainString(org.apache.spark.sql.execution.FormattedMode)
              java.nio.file.Files.write(outDir.resolve(s"$name.txt"),
                plan.getBytes("UTF-8"))
              println(s"[probe] explained $name -> $outDir/$name.txt")
            case None => System.err.println(s"[probe] no such query: $name")
          }
        }
      case _ =>
        System.err.println("usage: Probe jobs <sfDir> [names...] | " +
          "Probe explain <sfDir> <outDir> [names...]")
    }
    spark.stop()
  }
}
