package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a near-duplicate pair graph — turns
  * pairwise matches into dedup CLUSTERS so each group keeps one
  * canonical document (the min id).
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14), which
  * converges in O(log² n) alternating rounds on ANY graph — a
  * 10⁹-node path needs ~20 rounds, where round-1's plain min-label
  * propagation needed diameter rounds and hard-failed past 15.
  *
  *  - large-star(u): every neighbor LARGER than u re-points to
  *    m = min(Γ(u) ∪ {u}).
  *  - small-star(u): u and all its SMALLER neighbors re-point to the
  *    minimum among them.
  *
  * Both steps preserve connectivity and only ever decrease the
  * partner of a node, so the edge set monotonically descends to its
  * fixpoint: one star per component, centered at the component's min
  * id. Every round is two (join + partial-agg) passes over the edge
  * list carrying 16-byte id pairs — never payloads — with
  * `localCheckpoint` truncating lineage so plans stay constant-size.
  * Convergence is detected by an order-independent (count, xor of
  * xxhash64) edge-set digest — one cheap aggregate, no driver-side
  * edge compare, no overflow (round-1's Σcomp checksum overflowed at
  * ≥10¹² ids).
  */
object ConnectedComponents {

  /** @param edges DataFrame with two id columns (an undirected edge
    *              list; self-loops and duplicates tolerated)
    * @param checkpointDir when set, iterations go through RELIABLE
    *              `df.checkpoint()` into this directory and survive
    *              executor loss; default `localCheckpoint` stores
    *              blocks on executors (fast, but a lost executor
    *              kills the job — fine for local runs only)
    * @return (id, comp) — comp is the min id reachable from id
    */
  def run(edges: DataFrame, idCols: (String, String) = ("id1", "id2"),
          maxIter: Int = 64, checkpointDir: Option[String] = None): DataFrame = {
    checkpointDir.foreach(edges.sparkSession.sparkContext.setCheckpointDir)
    def cutR(df: DataFrame, eager: Boolean = true): (DataFrame, () => Unit) =
      graft.etl.Checkpoints.cutReleasable(df, eager,
        reliable = checkpointDir.isDefined)
    def cut(df: DataFrame, eager: Boolean = true): DataFrame = cutR(df, eager)._1
    // checkpoint the incoming edge list ONCE: `ids`, the canonical
    // edge set and the final join all derive from it, and upstream
    // edge generation (e.g. d04's whole similarity pipeline) is far
    // too expensive to re-run per consumer
    val (raw, freeRaw) =
      cutR(edges.select(col(idCols._1).as("a"), col(idCols._2).as("b")))

    // Measured-size small path (`etl.SmallPath`): each alternating
    // round costs ~5 shuffles plus a digest job, so a pair graph of a
    // few thousand edges pays seconds of round overhead for
    // microseconds of work (near-dup pair graphs are sparse at every
    // tested scale). At or below the bound in RAW rows (so node count
    // ≤ 2× the bound even when the input is mostly self-loops, as
    // with d26's surrogate edges), solve with a min-root union-find
    // on the driver: the output — (id, min reachable id) — is a pure
    // function of the edge SET, identical to the fixpoint of the star
    // rounds. Long-typed ids only (every library caller); anything
    // else, or any larger graph, takes the distributed rounds below
    // unchanged.
    val longIds = raw.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    val small = if (longIds) graft.etl.SmallPath.collectBelow(raw) else None
    if (small.isDefined) {
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      // union-by-min: the larger root attaches under the smaller, so
      // every root IS its component's min id — order-independent
      def union(x: Long, y: Long): Unit = {
        val (rx, ry) = (find(x), find(y))
        if (rx < ry) parent(ry) = rx
        else if (ry < rx) parent(rx) = ry
      }
      val nodes = scala.collection.mutable.LongMap.empty[Boolean]
      // the rounds' NULL semantics: a NULL id is one node of its own
      // (`ids` keeps it) whose edges join nothing (`a =!= b` is NULL),
      // labelled NULL; the other end of such an edge is still a node
      var nullId = false
      small.get.foreach { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) {
          nullId = true
          (0 to 1).filterNot(r.isNullAt).foreach(i => nodes(r.getLong(i)) = true)
        } else {
          val (a, b) = (r.getLong(0), r.getLong(1))
          nodes(a) = true; nodes(b) = true
          if (a != b) union(a, b)
        }
      }
      // the collected edge list's blocks are dead weight now — the
      // result is driver-built (guide §5: unpersist when done)
      freeRaw()
      val spark = edges.sparkSession
      import spark.implicits._
      val labelled: Seq[(Option[Long], Option[Long])] =
        nodes.keys.toSeq.sorted.map(id => (Some(id), Some(find(id))))
      return (if (nullId) labelled :+ ((None, None)) else labelled)
        .toDF("id", "comp")
    }

    val ids = cut(raw.select(col("a").as("id"))
      .union(raw.select(col("b").as("id")))
      .distinct())

    // canonical (u, v) pairs with v < u; self-loops tracked via `ids`
    var (e, freeE) = cutR(raw.filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .distinct())
    // ids and the canonical edge set are both materialized (eager
    // cuts); nothing reads the raw edge list again
    freeRaw()

    def digest(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    // Per-node minima via groupBy + join back, NOT a window: a star
    // root's degree ≈ its component size, and Window.partitionBy
    // funnels that whole edge list into ONE task (unsplittable
    // straggler on a giant boilerplate cluster). groupBy(min) does
    // map-side partial aggregation — skew-immune — and the join back
    // is a sort-merge join AQE can skew-split. Two more shuffles per
    // round than a window; rounds are O(log² n), so the constant is
    // bounded and every stage stays splittable.
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.select(col("u").as("node"), col("v").as("nbr"))
        .union(e.select(col("v").as("node"), col("u").as("nbr")))
      val mins = nbrs.groupBy("node").agg(min("nbr").as("mn"))
      nbrs.join(mins, "node")
        .filter(col("nbr") > col("node"))
        .select(col("nbr").as("u"), least(col("mn"), col("node")).as("v"))
      // duplicates tolerated: smallStar's min ignores them and its
      // final distinct removes them — no extra shuffle here
    }

    def smallStar(e: DataFrame): DataFrame = {
      // e rows (u, v) already mean "v is a smaller neighbor of u"
      val mins = e.groupBy("u").agg(min("v").as("m"))
      val moved = e.join(mins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      moved.union(mins.select(col("u"), col("m").as("v"))).distinct()
    }

    var prev = digest(e)
    var iter = 0
    var converged = e.isEmpty
    while (!converged && iter < maxIter) {
      // lazy checkpoint: the digest aggregate is the action that
      // materializes it — one Spark job per round, not two
      val (next, freeNext) = cutR(smallStar(largeStar(e)), eager = false)
      val d = digest(next)
      // the digest materialized `next`; the previous round's edge
      // blocks have no remaining consumer — release them so the loop
      // holds ONE edge frame, not O(rounds)
      freeE()
      e = next
      freeE = freeNext
      converged = d == prev
      prev = d
      iter += 1
    }
    require(converged,
      s"connected components did not converge in $maxIter rounds " +
      "(O(log² n) expected — unreachable for any physical graph)")

    // fixpoint edges are (child, root) stars; roots and isolated
    // nodes label themselves
    ids.join(e.select(col("u").as("id"), col("v").as("comp")), Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }
}
