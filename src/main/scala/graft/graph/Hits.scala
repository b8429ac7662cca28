package graft.graph

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** HITS (Kleinberg, JACM'99) on a directed bipartite edge list —
  * mutually-recursive hub/authority scores: an authority is pointed
  * at by good hubs, a hub points at good authorities. On a
  * customer→product graph the authorities are the products demanded
  * by broadly-active customers (a popularity signal that, unlike raw
  * degree, discounts narrow repeat buyers); on a query→document click
  * graph it's the classic retrieval use.
  *
  * Integer-exact and oracle-unrollable (the d14/d18/d20 regime):
  * every iteration is two |E|-linear join+aggregate passes
  * (h-mass → authorities, a-mass → hubs) followed by an integer
  * re-normalization to `scale` via one 1-ROW broadcast sum each —
  * floor division, so both engines agree bit-for-bit. Overflow bound:
  * after every normalization the scores sum to ≤ scale, so a raw
  * aggregate is ≤ scale·maxOutdeg and the renormalization product is
  * ≤ scale²·maxOutdeg — under 2⁶³ for the default scale 10⁶ up to
  * maxOutdeg 10⁶ (raise scale only with a proven degree bound; the
  * e6 resolution is ample for ranking). Fixed iteration
  * budget; per-iteration checkpoint holds the plan constant, with
  * the optional reliable `checkpointDir` shared by all graft graph
  * ops.
  *
  * Measured-size small path ([[graft.etl.SmallPath]]): a distinct
  * edge list at or below the bound runs the same rounds on the
  * driver in Long math — the same truncating division (floor on
  * these non-negative scores), `addExact`/`multiplyExact` so an
  * overflow throws as it does under ANSI, the same per-round changed
  * counts fed to `probe` — and returns the same rows. */
object Hits {

  /** @param edges distinct directed pairs (src, dst)
    * @return (dst, auth_e6) — authority scores over `dst` nodes,
    *         scaled to sum ≤ `scale` */
  def authorities(edges: DataFrame, iterations: Int = 3,
                  scale: Long = 1000000L,
                  checkpointDir: Option[String] = None,
                  probe: Option[Convergence] = None): DataFrame = {
    require(iterations >= 1 && iterations <= 64, s"iterations in [1,64], got $iterations")
    checkpointDir.foreach(edges.sparkSession.sparkContext.setCheckpointDir)
    def cutR(df: DataFrame, eager: Boolean = true): (DataFrame, () => Unit) =
      graft.etl.Checkpoints.cutReleasable(df, eager,
        reliable = checkpointDir.isDefined)
    // lazy cut: the probe's job (or, for non-Long ids, the first
    // round's) materializes it
    val (e, freeE) = cutR(edges.select(col("src"), col("dst")).distinct(), eager = false)
    // Long ids only, as in ConnectedComponents (every library caller)
    val longIds = e.schema.fields.forall(_.dataType == LongType)
    val small = if (longIds) graft.etl.SmallPath.collectBelow(e) else None
    if (small.isDefined) {
      freeE()
      return onDriver(e.sparkSession, small.get, e.schema("dst"), iterations, scale, probe)
    }
    var hub = e.select(col("src")).distinct().select(col("src"), lit(1L).as("h"))
    var auth: DataFrame = null
    var prevAuth: DataFrame = null
    // release thunks for the round the current frames derive from:
    // freed as soon as the NEXT round's eager cut (or the probe count)
    // has materialized past them, so the loop pins O(1) frames, not
    // O(iterations) (guide §5)
    var freeHRaw: () => Unit = () => ()
    var freePrevARaw: () => Unit = () => ()
    for (_ <- 1 to iterations) {
      // the cut sits on the RAW aggregate, which is referenced twice
      // (the broadcast 1-row sum AND the renormalization stream side):
      // a barrier on the normalized frame instead would leave the |E|
      // join + aggregate to run once per reference
      val (aRaw, freeARaw) = cutR(e.join(hub, Seq("src"))
        .groupBy("dst").agg(sum("h").as("ar")))
      // aRaw is materialized (eager) — the hub frame behind it has no
      // further consumer
      freeHRaw()
      val aSum = aRaw.agg(sum("ar").as("s"))
      auth = aRaw.crossJoin(broadcast(aSum))
        .select(col("dst"), expr(s"ar * $scale div s").as("a"))
      // LAZY cut (eager would force the |E| join + aggregate even on
      // the final iteration, whose hub update no consumer reads — one
      // wasted full edge pass per call at a fixed budget): the blocks
      // materialize when the next round's aRaw — or nothing — first
      // reads them, and the double reference (1-row sum + stream side)
      // is still served from one materialization
      val (hRaw, freeHR) = cutR(e.join(auth, Seq("dst"))
        .groupBy("src").agg(sum("a").as("hr")), eager = false)
      freeHRaw = freeHR
      val hSum = hRaw.agg(sum("hr").as("s"))
      // opt-in convergence probe on the normalized authority scores
      // (derived from the checkpointed aRaw — cheap): equal scores ⇒
      // the hub update and every later iteration reproduce themselves
      // exactly (integer arithmetic), so stopping early is
      // output-invariant. First iteration has no predecessor and
      // records the full row count.
      val done = probe.exists { p =>
        val ch =
          if (prevAuth == null) auth.count()
          else auth.join(prevAuth.select(col("dst"), col("a").as("pa")), "dst")
            .filter(col("a") =!= col("pa")).count()
        p.record(ch)
        ch == 0L
      }
      // the probe (if any) was the last reader of prevAuth; its
      // backing aRaw can go. The CURRENT aRaw stays — `auth` (the
      // return value) derives from it.
      freePrevARaw()
      prevAuth = auth
      freePrevARaw = freeARaw
      if (done) return auth.select(col("dst"), col("a").as("auth_e6"))
      hub = hRaw.crossJoin(broadcast(hSum))
        .select(col("src"), expr(s"hr * $scale div s").as("h"))
    }
    auth.select(col("dst"), col("a").as("auth_e6"))
  }

  /** The distributed rounds above, on the collected distinct edge
    * list, returned as one partition (at most the bound's rows; a
    * caller's ORDER BY then sorts in place instead of range-shuffling
    * a local relation over three jobs). Join semantics carry over: a
    * NULL key never joins, yet its group (a NULL `dst` fed by non-NULL
    * sources, a NULL `src` fed by non-NULL targets) counts in the
    * normalizing sum, and a NULL-`dst` authority is returned. */
  private def onDriver(spark: SparkSession, rows: Array[Row], dst: StructField,
                       iterations: Int, scale: Long,
                       probe: Option[Convergence]): DataFrame = {
    val edges = rows.map(r => (r.get(0), r.get(1)))
    // Σ weight(from) over the edges, grouped by `to` (NULL group kept)
    def spread(weight: collection.Map[Any, Long], from: ((Any, Any)) => Any,
               to: ((Any, Any)) => Any): mutable.HashMap[Any, Long] = {
      val out = mutable.HashMap.empty[Any, Long]
      edges.foreach { ed =>
        val k = from(ed)
        if (k != null) weight.get(k).foreach { w =>
          out(to(ed)) = Math.addExact(out.getOrElse(to(ed), 0L), w)
        }
      }
      out
    }
    def normalize(raw: mutable.HashMap[Any, Long]): mutable.HashMap[Any, Long] = {
      val s = raw.valuesIterator.foldLeft(0L)(Math.addExact)
      raw.map { case (k, v) => k -> Math.multiplyExact(v, scale) / s }
    }
    var hub: collection.Map[Any, Long] = edges.map(_._1 -> 1L).toMap
    var auth = mutable.HashMap.empty[Any, Long]
    var prevAuth: mutable.HashMap[Any, Long] = null
    var round = 1
    var done = false
    while (!done && round <= iterations) {
      // the hub update of the previous round, computed only when a
      // round reads it (the distributed hRaw is lazy the same way)
      if (prevAuth != null) hub = normalize(spread(prevAuth, _._2, _._1))
      auth = normalize(spread(hub, _._1, _._2))
      done = probe.exists { p =>
        val ch =
          if (prevAuth == null) auth.size.toLong
          else auth.count { case (k, a) => k != null && prevAuth.get(k).exists(_ != a) }.toLong
        p.record(ch)
        ch == 0L
      }
      prevAuth = auth
      round += 1
    }
    spark.createDataFrame(auth.toSeq.map { case (k, a) => Row(k, a) }.asJava,
      StructType(Seq(dst, StructField("auth_e6", LongType)))).coalesce(1)
  }
}
