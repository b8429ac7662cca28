package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.graph.PageRank

/** PageRank: the distributed integer recurrence must match an
  * in-memory reference power iteration exactly (same floor-division
  * ops), and the structural properties of PageRank must hold. */
class GraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Scale = 1000000000000L

  /** Reference: the same integer recurrence, single-threaded. */
  private def reference(edges: Seq[(Long, Long)], iterations: Int): Map[Long, Long] = {
    val sym = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
    val deg = sym.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val n = deg.size.toLong
    var r = deg.keys.map(_ -> Scale / n).toMap
    val base = (15L * (Scale / n)) / 100L
    for (_ <- 1 to iterations) {
      val in = sym.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => r(src) / deg(src) }.sum
      }
      r = r.map { case (id, _) => id -> (base + (85L * in.getOrElse(id, 0L)) / 100L) }
    }
    r
  }

  test("PageRank matches the reference recurrence on a path + star graph") {
    // path 1-2-3 plus star 10-{11,12,13}: centers 2 and 10 must lead
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (10L, 12L), (10L, 13L))
    for (iters <- Seq(1, 5)) {
      val got = PageRank.run(edges.toDF("s", "t"), "s", "t", iterations = iters)
        .as[(Long, Long)].collect().toMap
      assert(got == reference(edges, iters), s"iters=$iters")
    }
  }

  test("PageRank structural properties: centrality ordering and mass bound") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (10L, 12L), (10L, 13L))
    val r = PageRank.run(edges.toDF("s", "t"), "s", "t")
      .as[(Long, Long)].collect().toMap
    assert(r(2L) > r(1L) && r(2L) > r(3L), s"path center must lead: $r")
    assert(r(10L) > r(11L), s"star center must lead: $r")
    assert(r(1L) == r(3L) && r(11L) == r(12L) && r(12L) == r(13L),
      s"symmetric nodes must tie exactly: $r")
    val total = r.values.sum
    // floor leakage only ever shrinks mass, and by < 1 ulp per
    // division: iterations × (N + 2) divisions at most
    assert(total <= Scale && total > Scale - 1000L, s"mass $total")
  }

  test("PageRank through a reliable checkpoint dir is identical to localCheckpoint") {
    // on a cluster, localCheckpoint blocks die with their executor;
    // checkpointDir switches every lineage cut to reliable
    // df.checkpoint() — result must be bit-identical either way
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (10L, 12L), (10L, 13L))
    val dir = java.nio.file.Files.createTempDirectory("graft_pr_ckpt").toString
    val reliable = PageRank.run(edges.toDF("s", "t"), "s", "t",
      checkpointDir = Some(dir)).as[(Long, Long)].collect().toMap
    val local = PageRank.run(edges.toDF("s", "t"), "s", "t")
      .as[(Long, Long)].collect().toMap
    assert(reliable == local, s"reliable=$reliable local=$local")
    // the reliable checkpoint must actually have landed on the filesystem
    def anyFile(f: java.io.File): Boolean =
      f.isFile || Option(f.listFiles).exists(_.exists(anyFile))
    assert(anyFile(new java.io.File(dir)), "no checkpoint data written")
  }

  test("PageRank on a regular graph is uniform (exact fixed point)") {
    // triangle: every node degree 2 — rank must stay exactly uniform
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val r = PageRank.run(edges.toDF("s", "t"), "s", "t")
      .as[(Long, Long)].collect().toMap
    assert(r.values.toSet.size == 1, s"regular graph must be uniform: $r")
  }

  test("k-core peel cascades: pendant chain into a clique peels over rounds") {
    import graft.graph.KCore
    // 4-clique {1,2,3,4} + pendant chain 4-5, 5-6. k=2:
    // round 1 removes 6 (deg 1); round 2 removes 5 (deg now 1);
    // round 3 removes edge 4-5's remnant — the clique alone survives,
    // every node at within-subgraph degree 3. A single-round peel
    // (min-degree filter) would KEEP node 5 — the cascade is the op.
    val clique = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val edges = (clique ++ Seq((4L, 5L), (5L, 6L))).toDF("a", "b")
    val r = KCore.peel(edges, k = 2, rounds = 5)
      .as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), r.toString)
    // not-yet-converged budget: one round keeps the half-peeled 5
    val r1 = KCore.peel(edges, k = 2, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1.contains(5L) && !r1.contains(6L), r1.toString)
  }

  test("label propagation separates two triangles joined by a bridge") {
    import graft.graph.LabelProp
    // Triangles {1,2,3} and {4,5,6}, bridge 3-4. Hand-unrolling the
    // synchronous min-tie-break updates: after 3 rounds the left
    // triangle is uniformly labeled 1 and the right one 3 — the
    // bridge never merges them.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("a", "b")
    val r = LabelProp.run(edges, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L),
      r.toString)
    // determinism: a second run is bit-identical
    val r2 = LabelProp.run(edges, rounds = 3).as[(Long, Long)].collect().toMap
    assert(r2 == r)
  }

  test("HITS: a part demanded by every customer out-ranks a single-buyer part") {
    import graft.graph.Hits
    // customers 1,2,3 all buy part 100; only customer 1 buys part 200.
    // Authority must rank 100 above 200, and hub-weighting must give
    // 200 a nonzero score (its buyer is a good hub).
    val e = Seq((1L, 100L), (2L, 100L), (3L, 100L), (1L, 200L)).toDF("src", "dst")
    val r = Hits.authorities(e, iterations = 3)
      .as[(Long, Long)].collect().toMap
    assert(r(100L) > r(200L) && r(200L) > 0L, r.toString)
    // scores are normalized: they sum to <= scale with floor leakage
    assert(r.values.sum <= 1000000L && r.values.sum > 990000L, r.toString)
  }

  test("convergence probes: each op reports converged-at <= budget and early exit is output-invariant") {
    import graft.graph.{Convergence, Hits, KCore, LabelProp, PageRank}

    // PageRank on a 2-regular ring: the uniform start IS the fixed
    // point, so round 1 changes nothing
    val ring = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("a", "b")
    val prProbe = new Convergence
    val pr = PageRank.run(ring, "a", "b", iterations = 8, probe = Some(prProbe))
      .as[(Long, Long)].collect().toMap
    val prFull = PageRank.run(ring, "a", "b", iterations = 8)
      .as[(Long, Long)].collect().toMap
    assert(pr == prFull, "early exit changed the PageRank output")
    assert(prProbe.convergedAt.exists(_ < 8),
      s"expected early convergence, probe=${prProbe.changedPerRound}")
    info(s"pagerank converged at round ${prProbe.convergedAt.get}/8, " +
      s"changed=${prProbe.changedPerRound.mkString(",")}")

    // k-core: 4-clique + 2-chain converges in 3 peels (budget 10)
    val clique = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val kcEdges = (clique ++ Seq((4L, 5L), (5L, 6L))).toDF("a", "b")
    val kcProbe = new Convergence
    val kc = KCore.peel(kcEdges, k = 2, rounds = 10, probe = Some(kcProbe))
      .as[(Long, Long)].collect().toMap
    val kcFull = KCore.peel(kcEdges, k = 2, rounds = 10)
      .as[(Long, Long)].collect().toMap
    assert(kc == kcFull, "early exit changed the k-core output")
    assert(kcProbe.convergedAt.exists(_ <= 3 + 1),
      s"probe=${kcProbe.changedPerRound}")
    info(s"k-core converged at round ${kcProbe.convergedAt.get}/10, " +
      s"deleted=${kcProbe.changedPerRound.mkString(",")}")

    // label propagation: two bridged triangles stabilize well inside 8
    val lpEdges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("a", "b")
    val lpProbe = new Convergence
    val lp = LabelProp.run(lpEdges, rounds = 8, probe = Some(lpProbe))
      .as[(Long, Long)].collect().toMap
    val lpFull = LabelProp.run(lpEdges, rounds = 8)
      .as[(Long, Long)].collect().toMap
    assert(lp == lpFull, "early exit changed the LPA output")
    assert(lpProbe.convergedAt.exists(_ < 8), s"probe=${lpProbe.changedPerRound}")
    info(s"lpa converged at round ${lpProbe.convergedAt.get}/8, " +
      s"changed=${lpProbe.changedPerRound.mkString(",")}")

    // HITS on a single-hub star: normalized authorities are exact
    // from iteration 1, so iteration 2 proves the fixed point
    val star = Seq((1L, 100L), (1L, 200L), (1L, 300L)).toDF("src", "dst")
    val hProbe = new Convergence
    val h = Hits.authorities(star, iterations = 6, probe = Some(hProbe))
      .as[(Long, Long)].collect().toMap
    val hFull = Hits.authorities(star, iterations = 6)
      .as[(Long, Long)].collect().toMap
    assert(h == hFull, "early exit changed the HITS output")
    assert(hProbe.convergedAt.exists(_ < 6), s"probe=${hProbe.changedPerRound}")
    info(s"hits converged at round ${hProbe.convergedAt.get}/6, " +
      s"changed=${hProbe.changedPerRound.mkString(",")}")
  }

  test("HITS through a reliable checkpoint dir is identical to localCheckpoint") {
    import graft.graph.Hits
    val dir = java.nio.file.Files.createTempDirectory("hits_chk").toString
    val e = Seq((1L, 100L), (2L, 100L), (3L, 100L), (1L, 200L), (2L, 300L))
      .toDF("src", "dst")
    // the distributed rounds: the small path would absorb the fixture
    TestSpark.withSmallPathBound(0) {
      val local = Hits.authorities(e, iterations = 3).as[(Long, Long)].collect().toMap
      val reliable = Hits.authorities(e, iterations = 3, checkpointDir = Some(dir))
        .as[(Long, Long)].collect().toMap
      assert(reliable == local)
    }
  }

  /** HITS rows and per-round changed counts under one forced path. */
  private def hitsUnder(bound: Long, e: org.apache.spark.sql.DataFrame,
                        iterations: Int): (Set[org.apache.spark.sql.Row], Seq[Long]) =
    TestSpark.withSmallPathBound(bound) {
      val p = new graft.graph.Convergence
      val rows = graft.graph.Hits.authorities(e, iterations = iterations, probe = Some(p))
        .collect().toSet
      (rows, p.changedPerRound)
    }

  test("HITS: the driver small path returns the distributed rows and per-round changes") {
    // every fixture above, plus NULL keys: a NULL key never joins but
    // its group counts in the normalizing sums, and src 4 (NULL
    // targets only) leaves the hub set after round 1, so the NULL
    // authority is present in round 1 only
    val fixtures = Seq(
      ("demand", Seq((1L, 100L), (2L, 100L), (3L, 100L), (1L, 200L)).toDF("src", "dst"), 3),
      ("star", Seq((1L, 100L), (1L, 200L), (1L, 300L)).toDF("src", "dst"), 6),
      ("checkpoint", Seq((1L, 100L), (2L, 100L), (3L, 100L), (1L, 200L), (2L, 300L))
        .toDF("src", "dst"), 3),
      ("nulls", Seq[(Option[Long], Option[Long])]((Some(1L), Some(100L)),
        (Some(2L), Some(100L)), (None, Some(100L)), (Some(3L), None),
        (Some(1L), Some(200L)), (Some(4L), None), (Some(2L), Some(200L)))
        .toDF("src", "dst"), 4),
      ("empty", Seq.empty[(Long, Long)].toDF("src", "dst"), 3))
    for ((name, e, iters) <- fixtures) {
      val distributed = hitsUnder(0L, e, iters)
      val driver = hitsUnder(TestSpark.DriverBound, e, iters)
      assert(driver == distributed, s"$name: driver $driver vs distributed $distributed")
    }
    // the edges SmallPath names: exactly the bound takes the driver
    // path, one row past it the distributed rounds (demand: 4 edges)
    val demand = fixtures.head._2
    assert(hitsUnder(4L, demand, 3) == hitsUnder(3L, demand, 3))
    assert(graft.etl.SmallPath.collectBelow(demand, 4L).map(_.length) == Some(4))
    assert(graft.etl.SmallPath.collectBelow(demand, 3L).isEmpty)
    assert(graft.etl.SmallPath.collectBelow(demand.limit(0), 0L).map(_.length) == Some(0))
  }

  test("HITS on d25's demand graph (sf0.001): both paths agree row for row and round for round") {
    import org.apache.spark.sql.functions.col
    val e = Tables.orders(spark, TestSpark.Sf).select("o_orderkey", "o_custkey")
      .join(Tables.lineitem(spark, TestSpark.Sf).select("l_orderkey", "l_partkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), col("l_partkey").as("dst"))
    val (rows, changed) = hitsUnder(0L, e, 3)
    assert(rows.nonEmpty && changed.length == 3, changed.toString)
    assert(hitsUnder(TestSpark.DriverBound, e, 3) == ((rows, changed)))
  }

  test("k-core through a reliable checkpoint dir is identical to localCheckpoint") {
    import graft.graph.KCore
    val dir = java.nio.file.Files.createTempDirectory("kcore_chk").toString
    val clique = for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)
    val edges = (clique ++ Seq((5L, 6L), (6L, 7L), (7L, 8L))).toDF("a", "b")
    val local = KCore.peel(edges, k = 3, rounds = 4)
      .as[(Long, Long)].collect().toMap
    val reliable = KCore.peel(edges, k = 3, rounds = 4,
        checkpointDir = Some(dir))
      .as[(Long, Long)].collect().toMap
    assert(reliable == local && local.keySet == Set(1L, 2L, 3L, 4L, 5L))
  }
}
