package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{PublishCorpus, SparkEntry, StageRoots, Tables}

/** What a workload runs against: the session, the generated input
  * directory, a scratch directory inside the run's work dir, and the
  * span tracer. Op failures and output checks are accounted here. */
final class Ctx(val spark: SparkSession, val dir: String, val work: String,
                val t: Tracer) {
  var attempted = 0
  val failures: mutable.ArrayBuffer[(String, String)] = mutable.ArrayBuffer.empty
  val checks: mutable.ArrayBuffer[(String, Boolean, String)] = mutable.ArrayBuffer.empty
  /** Oracled outputs the first pass wrote, for the DuckDB compare. */
  val oracles: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
  val facts: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty

  /** Count an attempt; an exception is recorded as a failure and the
    * run goes on. */
  def attempt(what: String)(body: => Unit): Unit = {
    attempted += 1
    try body
    catch { case e: Throwable =>
      failures += ((what, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"))
      System.err.println(s"[perfbench] $what failed: $e")
    }
  }

  /** One op: a timed, failure-accounted span. */
  def op(name: String, layer: String, kind: String = "op")(body: => Unit): Unit =
    attempt(name)(t.span(name, kind, layer)(body))

  /** An op split into construct (the module call itself, which may run
    * eager jobs) and execute (materialize the returned frame). */
  def frameOp[T](name: String, layer: String)(construct: => DataFrame)(
      execute: DataFrame => T): Option[T] = {
    var out: Option[T] = None
    op(name, layer) {
      val df = t.span("construct", "construct", layer)(construct)
      out = Some(t.span("execute", "execute", layer)(execute(df)))
    }
    out
  }

  def check(name: String)(body: => (Boolean, String)): Unit = {
    attempted += 1
    val (ok, detail) =
      try body catch { case e: Throwable => (false, s"threw $e") }
    checks += ((name, ok, detail))
    if (!ok) failures += ((s"check:$name", detail))
  }

  def tmp(name: String): String = s"$work/$name"
  def rm(path: String): Unit = Workloads.deleteTree(path)
}

/** One part of a workload: set-up that builds what the timed loop reads
  * (repeatable, each call from scratch), its ops for one pass, and the
  * output checks run once after timing. */
trait Part {
  def setup(c: Ctx): Unit = ()
  def pass(c: Ctx, p: Int): Unit
  def check(c: Ctx): Unit
}

/** A workload: its parts, run in order within each pass. */
final class Workload(parts: Part*) {
  def setup(c: Ctx): Unit = parts.foreach(_.setup(c))
  def pass(c: Ctx, p: Int): Unit = parts.foreach(_.pass(c, p))
  def check(c: Ctx): Unit = parts.foreach(_.check(c))
}

object Workloads {
  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def deleteTree(path: String): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root)) {
      val it = java.nio.file.Files.walk(root)
      try it.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally it.close()
    }
  }

  def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  def byName(name: String): Workload = name match {
    case "mine_iterative" => new Workload(AnnFit, new Queries(Seq(
      "d25_hits" -> "graph", "s17_probe_sweep" -> "sim", "t18_bpe_merges" -> "text")))
    case "publish_fresh" => new Workload(
      new Queries(Seq("q17_etl_pipeline" -> "etl")), new PublishFresh,
      new TwsStream)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** The shared ANN quantizer fit that the probe sweep serves: the same
  * memo key as `s17_probe_sweep`'s index build, so the timed loop only
  * ever reads it. */
object AnnFit extends Part {
  override def setup(c: Ctx): Unit = {
    StageRoots.reset()
    graft.sim.Ann.clearOpCache()
    c.t.span("ann_fit", "build", "sim")(graft.sim.AnnIndex.fitFrame(
      Tables.embeddings(c.spark, c.dir).select(col("vec_id").as("id"),
        graft.functions.VectorFunctions.toDouble(col("embedding")).as("vec")),
      nCells = 23, seed = 42L, cacheKey = Some(c.dir)))
  }
  def pass(c: Ctx, p: Int): Unit = ()
  def check(c: Ctx): Unit = ()
}

/** Catalogued queries run as ops: construct = the catalogue function,
  * execute = the noop sink (every operator runs, nothing is written).
  * The first pass writes each oracled op's output as parquet instead,
  * as a nightly run would, for the DuckDB compare after timing.
  * `s17_probe_sweep` is collected, so its output can be compared
  * across passes. */
final class Queries(ops: Seq[(String, String)]) extends Part {
  private val s17 = mutable.ArrayBuffer.empty[Seq[String]]
  private val oracle = SparkEntry.oracleSql
  def pass(c: Ctx, p: Int): Unit = ops.foreach { case (key, layer) =>
    val fn = SparkEntry.queries(key)
    if (key == "s17_probe_sweep")
      c.frameOp(key, layer)(fn(c.spark, c.dir))(Workloads.rows).foreach(s17 += _)
    else if (p == 1 && oracle.contains(key)) {
      val out = c.tmp(s"check/$key")
      c.frameOp(key, layer)(fn(c.spark, c.dir))(
        _.write.mode("overwrite").parquet(out)).foreach(_ => c.oracles(key) = oracle(key))
    } else c.frameOp(key, layer)(fn(c.spark, c.dir))(Workloads.noop)
  }
  def check(c: Ctx): Unit =
    if (ops.exists(_._1 == "s17_probe_sweep")) c.check("s17_identical_across_passes") {
      (s17.nonEmpty && s17.forall(_ == s17.head),
        s"${s17.size} passes, ${s17.map(_.size).distinct.mkString(",")} rows")
    }
}

/** The publish chain from an empty stage root and output dir on every
  * pass; each stage is its own op, in dependency order, so each op
  * prices exactly its own stage's build. `etl.Stages.stage` builds and
  * commits eagerly, so a stage op has nothing left to execute. The split
  * stage builds the near-dup pair graph and dedup clusters it roots the
  * split on. */
final class PublishFresh extends Part {
  private val Budget = 32768L
  private val manifests = mutable.ArrayBuffer.empty[Seq[Row]]
  private var lastOut: Option[String] = None

  def pass(c: Ctx, p: Int): Unit = {
    val (spark, dir) = (c.spark, c.dir)
    StageRoots.reset()
    lastOut.foreach(c.rm)
    val root = StageRoots.rootFor(dir) + "/publish"
    val out = c.tmp(s"publish_out_$p")
    lastOut = Some(out)
    val committed: DataFrame => Unit = _ => ()
    c.frameOp("pub_split", "dedup")(PublishCorpus.splitFrame(spark, dir, root))(committed)
    c.frameOp("pub_kept", "etl")(PublishCorpus.keptFrame(spark, dir, root))(committed)
    c.frameOp("pub_plan", "etl")(PublishCorpus.planFrame(spark, dir, root, Budget))(committed)
    c.frameOp("pub_datasheet", "etl")(PublishCorpus.datasheetFrame(spark, dir, root))(committed)
    c.frameOp("pub_export", "sources")(
      PublishCorpus.run(spark, dir, out, root, tokenBudget = Budget))(_.collect().toSeq)
      .foreach(manifests += _)
    c.t.current.foreach(_.facts("published_bytes") = dirBytes(out).toDouble)
  }

  private def dirBytes(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val it = java.nio.file.Files.walk(root)
      try it.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally it.close()
    }
  }

  def check(c: Ctx): Unit = {
    c.check("publish_manifests_identical_across_passes") {
      (manifests.nonEmpty && manifests.forall(_ == manifests.head),
        s"${manifests.size} passes")
    }
    manifests.headOption.foreach { m =>
      c.facts("publish_n_docs") = m.map(_.getAs[Long]("n_docs")).sum
      c.facts("publish_n_tokens") = m.map(_.getAs[Long]("n_tokens")).sum
    }
  }
}

/** The transformWithState running aggregate on the RocksDB state store
  * ([[graft.streaming.EventStream.runningUserAggV2]]), a real streaming
  * query over a MemoryStream, fed one micro-batch at a time; state starts
  * empty on every pass. The first micro-batch also opens the state
  * stores and plans the query: it is the query's start span, and every
  * later micro-batch is an op. */
final class TwsStream extends Part {
  // 14 timed batches and the 6 other ops of a publish pass make 20 op
  // samples: the median falls among the steady batches, not between the
  // batches and the fastest stage, and below 21 samples op_tail_s stays
  // the max
  private val NBatches = 15
  private var pairs: Array[(Long, Double)] = Array.empty
  // last-pass outputs for the check
  private var out = Seq.empty[Long]
  private var stateRows = -1L

  private def slice(i: Int): Seq[(Long, Double)] =
    pairs.indices.filter(_ % NBatches == i).map(pairs(_))

  /** The driver-side (user_id, value) rows the MemoryStream is fed from. */
  override def setup(c: Ctx): Unit = {
    import c.spark.implicits._
    pairs = Tables.events(c.spark, c.dir).select(col("user_id"), col("value"))
      .as[(Long, Double)].collect()
  }

  def pass(c: Ctx, p: Int): Unit = {
    val spark = c.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // the v2 operator requires the RocksDB state store provider
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = c.tmp(s"tws_ckpt_$p")
    try c.attempt("tws_query")(c.t.span("tws", "monitor", "streaming") {
      val input = MemoryStream[(Long, Double)]
      val q = graft.streaming.EventStream.runningUserAggV2(
          input.toDF().toDF("user_id", "value"))
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", ckpt).start()
      def batch(i: Int): Unit = { input.addData(slice(i)); q.processAllAvailable() }
      try {
        c.t.span("tws_start", "start", "streaming")(batch(0))
        (1 until NBatches).foreach(i => c.op("tws", "streaming", "batch")(batch(i)))
      } finally q.stop()
      val ps = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      val state = ps.lastOption.toSeq.flatMap(_.stateOperators)
      out = ps.map(_.sink.numOutputRows)
      stateRows = state.map(_.numRowsTotal).sum
      c.t.current.foreach { s =>
        s.facts("state_rows") = stateRows.toDouble
        s.facts("state_mem_bytes") = state.map(_.memoryUsedBytes).sum.toDouble
        s.facts("state_commit_ms") = ps.flatMap(_.stateOperators).map(_.commitTimeMs).sum.toDouble
        s.facts("input_rows") = pairs.length.toDouble
      }
    }) finally {
      prev match {
        case Some(v) => spark.conf.set(provKey, v)
        case None => spark.conf.unset(provKey)
      }
      c.rm(ckpt)
    }
  }

  /** One output row per (batch, user in batch); one state row per user. */
  def check(c: Ctx): Unit = c.check("tws_row_accounting") {
    val expect = (0 until NBatches).map(i => slice(i).map(_._1).distinct.size.toLong)
    val users = pairs.map(_._1).distinct.length.toLong
    (out == expect && stateRows == users,
      s"out ${out.sum} vs ${expect.sum}, state $stateRows vs $users")
  }
}
