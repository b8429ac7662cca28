package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of the span tree
  * workload → setup/pass → op/monitor → construct/execute/batch. */
final class Span(val id: Int, val parent: Int, val name: String,
                 val kind: String, val layer: String) {
  val startMs: Long = System.currentTimeMillis()
  val startNs: Long = System.nanoTime()
  private[perfbench] val gc0: Long = Tracer.gcMillis()
  private[perfbench] val cg0: Long = Tracer.codegenCompiles()
  var endMs = 0L
  var endNs = 0L
  /** Driver-side facts attached when the span closes (and by the
    * workload, e.g. streaming state); listener counters live in
    * [[Tracer]] until [[Tracer.drain]]. */
  val facts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans plus the optional listeners. Spark work is attributed to the
  * innermost open span through the `perfbench.span` local property,
  * which the job-start event carries; stage and task events map back
  * to it through their stage id. Timing and the cheap JVM counters
  * (GC, codegen compiles, heap after GC) are always on; the listeners
  * run only between `setTrace(true)` and `setTrace(false)`. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val Prop = "perfbench.span"
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Span] = Nil

  // listener-side state (listener-bus thread), guarded by `this`
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val jobSpan = mutable.HashMap.empty[Int, (Int, Long)]
  val jobs: mutable.ArrayBuffer[(Int, Long, Long)] = mutable.ArrayBuffer.empty
  val plans: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  private val counters: mutable.HashMap[Int, mutable.HashMap[String, Double]] =
    mutable.HashMap.empty

  private def add(span: Int, key: String, v: Double): Unit =
    counters.getOrElseUpdate(span, mutable.HashMap.empty)
      .updateWith(key)(o => Some(o.getOrElse(0.0) + v))
  private def max(span: Int, key: String, v: Double): Unit =
    counters.getOrElseUpdate(span, mutable.HashMap.empty)
      .updateWith(key)(o => Some(math.max(o.getOrElse(0.0), v)))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toInt).getOrElse(-1)
      jobSpan(e.jobId) = (span, e.time)
      e.stageIds.foreach(s => stageSpan(s) = span)
      add(span, "jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.remove(e.jobId).foreach { case (span, t0) => jobs += ((span, t0, e.time)) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      add(stageSpan.getOrElse(e.stageInfo.stageId, -1), "stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val span = stageSpan.getOrElse(e.stageId, -1)
      add(span, "tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add(span, "exec_run_s", m.executorRunTime / 1e3)
        add(span, "exec_cpu_s", m.executorCpuTime / 1e9)
        add(span, "shuffle_read_bytes",
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
        add(span, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add(span, "spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        max(span, "peak_exec_mem_mb", m.peakExecutionMemory / 1048576.0)
        add(span, "scan_bytes", m.inputMetrics.bytesRead)
        add(span, "scan_rows", m.inputMetrics.recordsRead)
        add(span, "write_bytes", m.outputMetrics.bytesWritten)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) Tracer.this.synchronized {
        plans += ((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private var on = false
  def setTrace(v: Boolean): Unit = if (v != on) {
    drain()
    if (v) { sc.addSparkListener(listener); spark.listenerManager.register(qeListener) }
    else { sc.removeSparkListener(listener); spark.listenerManager.unregister(qeListener) }
    on = v
  }

  /** Wait until every queued listener event has been handled. */
  def drain(): Unit = PerfbenchAccess.drainListenerBus(sc)

  def current: Option[Span] = stack.headOption

  def span[T](name: String, kind: String, layer: String = "")(body: => T): T = {
    val s = new Span(spans.length, stack.headOption.map(_.id).getOrElse(-1),
      name, kind, layer)
    spans += s
    stack = s :: stack
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      s.facts("gc_s") = (Tracer.gcMillis() - s.gc0) / 1e3
      s.facts("codegen_compiles") = (Tracer.codegenCompiles() - s.cg0).toDouble
      s.facts("heap_after_gc_mb") = Tracer.heapAfterGcMb()
      stack = stack.tail
      sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
    }
  }

  def spansJson: String = synchronized {
    spans.map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "kind" -> s.kind, "layer" -> s.layer, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "wall_s" -> s.seconds) ++
        s.facts.toSeq ++ counters.get(s.id).toSeq.flatMap(_.toSeq.sortBy(_._1)))
    }.mkString("\n")
  }
}

object Tracer {
  private lazy val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
      p.getCollectionUsage != null)

  def gcMillis(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  def codegenCompiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  /** Heap in use just after the most recent collection of each pool. */
  def heapAfterGcMb(): Double =
    heapPools.map(_.getCollectionUsage.getUsed).sum / 1048576.0
}

/** Just enough JSON for the metrics and span files. */
object Json {
  def value(v: Any): String = v match {
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
