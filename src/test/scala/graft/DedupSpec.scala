package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{MinHash, SetSimJoin, SimHash}
import graft.etl.TextNorm

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** doc pairs with exact-jaccard ≥ 0.5 at sf0.001 — ground truth from
    * the d04 oracle-checked query (planted near-duplicates). */
  private lazy val groundTruth: Set[(Long, Long)] =
    LlmQueries.d04NgramJaccard(spark, TestSpark.Sf)
      .select("doc_id1", "doc_id2").as[(Long, Long)].collect().toSet

  /** the strongly-similar subset (jaccard ≥ 0.9) — what simhash at
    * hamming ≤ 3 is designed to catch. */
  private lazy val strongTruth: Set[(Long, Long)] =
    LlmQueries.d04NgramJaccard(spark, TestSpark.Sf)
      .filter(col("inter") * 10 >= col("uni") * 9)
      .select("doc_id1", "doc_id2").as[(Long, Long)].collect().toSet

  private def sigs = {
    val docs = Tables.documents(spark, TestSpark.Sf)
      .withColumn("text_norm", TextNorm.normalizeText(col("text")))
      .withColumn("sh", MinHash.shingleHashes(col("text_norm"), 3))
    docs.select(col("doc_id"), MinHash.signature(col("sh"), 64, 0x5eedL).as("sig"),
      SimHash.simhash(col("sh")).as("ssig"))
  }

  test("MinHash signature is deterministic and k-long") {
    val two = sigs.limit(1).select("sig").as[Seq[Long]].collect()
    val again = sigs.limit(1).select("sig").as[Seq[Long]].collect()
    assert(two.head.length == 64 && two.head == again.head)
  }

  test("MinHash+LSH finds the planted near-duplicates (high recall)") {
    assert(groundTruth.nonEmpty, "expected planted near-dups in testdata")
    val found = LlmQueries.d02MinHashLsh(spark, TestSpark.Sf)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val recall = groundTruth.count(found).toDouble / groundTruth.size
    assert(recall >= 0.9, s"recall $recall; truth=$groundTruth found=$found")
  }

  test("d27 cross-corpus near-dup audit: quantified recall vs exact cross-split jaccard") {
    import graft.TrainingDataQueries.hashBucket
    val buckets = Tables.documents(spark, TestSpark.Sf)
      .select(col("doc_id"), hashBucket(col("doc_id"), 10).as("b"))
      .as[(Long, Long)].collect().toMap
    // exact truth: jaccard ≥ 0.7 pairs (from the oracle-checked d04
    // pair graph) that CROSS the t08 split — one side train (0–7),
    // one side eval (9); normalized to (test_id, train_id)
    val truth = LlmQueries.d04NgramJaccard(spark, TestSpark.Sf)
      .filter(col("inter") * 10 >= col("uni") * 7)
      .select("doc_id1", "doc_id2").as[(Long, Long)].collect()
      .flatMap { case (a, b) =>
        (buckets(a), buckets(b)) match {
          case (9, t) if t <= 7 => Some((a, b))
          case (t, 9) if t <= 7 => Some((b, a))
          case _ => None
        }
      }.toSet
    assert(truth.nonEmpty, "expected planted near-dups crossing the split")
    val found = LlmQueries.d27CrossCorpusNearDup(spark, TestSpark.Sf)
      .select("test_id", "train_id").as[(Long, Long)].collect().toSet
    // every reported pair genuinely crosses the corpora (no self-side
    // leakage from the band join)
    found.foreach { case (te, tr) =>
      assert(buckets(te) == 9 && buckets(tr) <= 7, s"pair ($te,$tr) not cross-split")
    }
    val recall = truth.count(found).toDouble / truth.size
    info(s"d27 recall vs exact cross-split jaccard-0.7 = $recall (${truth.size} true pairs)")
    assert(recall >= 0.85, s"recall $recall; truth=$truth found=$found " +
      "(measured 1.0 r10)")
  }

  test("SimHash banding is complete: banded pairs == brute-force pairs at hamming ≤ 3") {
    val pairs = SimHash.nearDupPairs(sigs.select("doc_id", "ssig"), "doc_id", "ssig", 4, 3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.nonEmpty)
    assert(strongTruth.nonEmpty)
    // pigeonhole guarantee: any pair at hamming ≤ nBands-1 shares a
    // chunk, so the banded join must find EXACTLY the brute-force set.
    // (statistical recall of jaccard-0.9 pairs at ham ≤ 3 is a property
    // of simhash itself, not of this implementation — on this
    // low-margin word-salad corpus it is ~50%; minhash covers the rest)
    val all = sigs.select("doc_id", "ssig").as[(Long, Long)].collect()
    val brute = (for {
      (i1, s1) <- all; (i2, s2) <- all if i1 < i2
      if java.lang.Long.bitCount(s1 ^ s2) <= 3
    } yield (i1, i2)).toSet
    assert(pairs == brute, s"banded=$pairs brute=$brute")

    // non-dividing nBands (64 % 5 ≠ 0): remainder-bit bands must still
    // cover all 64 bits, so completeness holds for hamming ≤ 4 too
    val brute4 = (for {
      (i1, s1) <- all; (i2, s2) <- all if i1 < i2
      if java.lang.Long.bitCount(s1 ^ s2) <= 4
    } yield (i1, i2)).toSet
    val pairs5 = SimHash.nearDupPairs(sigs.select("doc_id", "ssig"), "doc_id", "ssig", 5, 4)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs5 == brute4, s"nBands=5 banded=$pairs5 brute=$brute4")
  }

  test("jaccardSelfJoin touching restriction yields exactly the delta pairs") {
    val sets = Tables.documents(spark, TestSpark.Sf)
      .withColumn("text_norm", TextNorm.normalizeText(col("text")))
      .select(col("doc_id"),
        array_distinct(MinHash.shingleHashes(col("text_norm"), 3)).as("s"))
    val full = SetSimJoin.jaccardSelfJoin(sets, "doc_id", "s", 1, 2)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val newIds = sets.filter(col("doc_id") % 4 === 3).select("doc_id")
    val delta = SetSimJoin.jaccardSelfJoin(sets, "doc_id", "s", 1, 2,
        touching = Some(newIds))
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val expect = full.filter { case (a, b) => a % 4 == 3 || b % 4 == 3 }
    assert(delta == expect, s"extra=${delta -- expect} missing=${expect -- delta}")
    assert(delta.size < full.size, "restriction must actually drop old-old pairs")
  }

  test("incremental cluster maintenance equals the from-scratch components") {
    val inc = LlmQueries.d26IncrementalClusters(spark, TestSpark.Sf)
      .as[(Long, Long)].collect().toSeq
    val full = LlmQueries.d06DedupClusters(spark, TestSpark.Sf)
      .as[(Long, Long)].collect().toSeq
    assert(inc.nonEmpty && inc == full)
  }

  test("d38 soft-dedup weights: local recompute parity, per-cluster mass conservation") {
    val got = LlmQueries.d38SoftDedupWeights(spark, TestSpark.Sf)
      .select("doc_id", "comp", "csize", "n_tok", "weight_ppm", "w_tokens")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val comp = LlmQueries.d06DedupClusters(spark, TestSpark.Sf)
      .as[(Long, Long)].collect().toMap
    val toks = Tables.documents(spark, TestSpark.Sf)
      .select(col("doc_id"),
        graft.text.TextFunctions.whitespaceTokenCount(col("text")))
      .as[(Long, Long)].collect().toMap
    val csize = comp.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val want = toks.toSeq.sortBy(_._1).map { case (id, nTok) =>
      val c = comp.getOrElse(id, id)
      val s = if (comp.contains(id)) csize(comp(id)) else 1L
      val w = (2000000L + s) / (2L * s)
      (id, c, s, nTok, w, nTok * w / 1000000L)
    }
    assert(got == want, "d38 diverged from the local recompute")
    // mass conservation: a cluster's weights sum to 1e6 up to the
    // per-member half-up rounding (±csize/2); singletons are exact
    got.groupBy(_._2).foreach { case (c, rows) =>
      val s = rows.head._3
      val sum = rows.map(_._5).sum
      assert(rows.forall(_._3 == s), s"cluster $c: inconsistent csize")
      assert(math.abs(sum - 1000000L) <= (s + 1) / 2,
        s"cluster $c: weight mass $sum drifted beyond rounding")
      if (s == 1L) assert(sum == 1000000L)
    }
    // clustered docs exist: the pin is vacuous otherwise
    assert(got.exists(_._3 > 1L), "fixture has no near-dup clusters")
    assert(got.forall(r => r._6 <= r._4), "w_tokens must never exceed n_tok")
  }

  test("d37 recut mechanism: a transitive chain at tau .5 splits at tau .7 (planted)") {
    import graft.dedup.ConnectedComponents
    // A–B tight (J ≈ .82), B–C and A–C loose (J ≈ .54): one τ=.5
    // cluster {A,B,C}; the τ=.7 recut keeps only A–B, so C becomes a
    // tight singleton — exactly the chain-glue case d36's density
    // signal flags and d37 exists to cut (the shipped corpus's
    // planted near-dups are all ≥ .9, so the corpus query shows the
    // no-split case; this pins the split case)
    val sets = Seq(
      (1L, (1L to 20L).toSeq),                       // A
      (2L, (1L to 18L) ++ Seq(101L, 102L)),          // B: J(A,B)=18/22
      (3L, (1L to 14L) ++ (201L to 206L))            // C: J(B,C)=14/26
    ).toDF("doc_id", "s")
    val pairs = SetSimJoin.jaccardSelfJoin(sets, "doc_id", "s",
      tauNum = 1, tauDen = 2).localCheckpoint(true)
    val loosePairs = pairs.select(col("id1"), col("id2"))
    val tightPairs = pairs.filter(col("inter") * 10 >= col("uni") * 7)
      .select(col("id1"), col("id2"))
    val loose = ConnectedComponents.run(loosePairs, idCols = ("id1", "id2"))
      .as[(Long, Long)].collect().toMap
    val tightRaw = ConnectedComponents.run(tightPairs, idCols = ("id1", "id2"))
      .as[(Long, Long)].collect().toMap
    val tight = (1L to 3L).map(id => id -> tightRaw.getOrElse(id, id)).toMap
    assert(loose == Map(1L -> 1L, 2L -> 1L, 3L -> 1L),
      s"loose cut should chain all three: $loose")
    assert(tight == Map(1L -> 1L, 2L -> 1L, 3L -> 3L),
      s"tight cut should split off C: $tight")
  }

  test("connected components merges transitive near-dup chains") {
    import graft.dedup.ConnectedComponents
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L), (9L, 9L)).toDF("id1", "id2")
    val comps = ConnectedComponents.run(edges)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(comps == Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L), (9L, 9L)))
  }

  test("connected components converges on a 200-node path graph (O(log n) rounds)") {
    import graft.dedup.ConnectedComponents
    // force the DISTRIBUTED star rounds (this pin is about their
    // convergence; the small-path driver union-find would otherwise
    // absorb the fixture)
    TestSpark.withSmallPathBound(0) {
      val chain = (0L until 200L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("id1", "id2")
      val comps = ConnectedComponents.run(chain)
        .agg(countDistinct("comp"), count(lit(1)), min("comp"), max("comp"))
        .as[(Long, Long, Long, Long)].head()
      // diameter 199 ≫ the round budget of plain label propagation; the
      // large-star/small-star alternation collapses it logarithmically
      assert(comps == ((1L, 200L, 0L, 0L)))
    }
  }

  test("connected components: driver union-find path equals the distributed star rounds") {
    import graft.dedup.ConnectedComponents
    // adversarial mix: a path (worst diameter), a star, self-loops,
    // duplicate + reversed edges, and isolated-by-self-loop nodes —
    // the measured-size driver path must be row-identical to the
    // distributed fixpoint on the same edge SET
    val edges = ((0L until 50L).sliding(2).map(s => (s(0), s(1))).toSeq ++
      Seq((100L, 101L), (100L, 102L), (100L, 103L), (103L, 100L),
          (200L, 200L), (7L, 3L), (3L, 7L), (300L, 300L))).toDF("id1", "id2")
    val viaDriver = ConnectedComponents.run(edges)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    val viaRounds = TestSpark.withSmallPathBound(0) {
      ConnectedComponents.run(edges).orderBy("id").as[(Long, Long)].collect().toSeq
    }
    assert(viaDriver == viaRounds,
      s"driver path diverged: $viaDriver vs $viaRounds")
    assert(viaDriver.toMap.get(200L) == Some(200L) &&
      viaDriver.toMap.get(300L) == Some(300L),
      "self-loop-only nodes must label themselves")
    // the bound's edges: exactly the bound in raw rows takes the
    // driver path, one row past it the rounds; zero rows, either
    val n = edges.count()
    def under(bound: Long, e: org.apache.spark.sql.DataFrame) =
      TestSpark.withSmallPathBound(bound) {
        ConnectedComponents.run(e).orderBy("id").as[(Long, Long)].collect().toSeq
      }
    assert(under(n, edges) == viaRounds && under(n - 1, edges) == viaRounds)
    val none = edges.limit(0)
    assert(under(0, none).isEmpty && under(TestSpark.DriverBound, none).isEmpty)
    // a NULL id: its own NULL-labelled node, joined to nothing, on both
    // paths (the other end of its edge still labels itself)
    val withNull = Seq((Some(1L), Some(2L)), (None, Some(3L))).toDF("id1", "id2")
    def labels(bound: Long) = TestSpark.withSmallPathBound(bound) {
      ConnectedComponents.run(withNull).as[(Option[Long], Option[Long])]
        .collect().toSeq.sortBy(_._1)
    }
    val expected = Seq((None, None), (Some(1L), Some(1L)), (Some(2L), Some(1L)),
      (Some(3L), Some(3L)))
    assert(labels(TestSpark.DriverBound) == expected && labels(0) == expected,
      s"NULL id: driver ${labels(TestSpark.DriverBound)} vs rounds ${labels(0)}")
  }

  test("prefix-filtered jaccard self-join equals brute force (lossless)") {
    val docs = Tables.documents(spark, TestSpark.Sf)
      .withColumn("text_norm", TextNorm.normalizeText(col("text")))
      .select(col("doc_id"),
        array_distinct(MinHash.shingleHashes(col("text_norm"), 3)).as("s"))
    val fast = SetSimJoin.jaccardSelfJoin(docs, "doc_id", "s", tauNum = 1, tauDen = 2)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val all = docs.as[(Long, Seq[Long])].collect()
    val brute = (for {
      (i1, s1) <- all; (i2, s2) <- all if i1 < i2
      inter = s1.toSet.intersect(s2.toSet).size
      if inter > 0 && inter * 2 >= s1.size + s2.size - inter
    } yield (i1, i2)).toSet
    assert(fast == brute, s"fast=$fast brute=$brute")
  }

  test("exactGroups groups duplicate values") {
    val df = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("id", "t")
    val r = etl.Dedup.exactGroups(df, md5(col("t")), col("id"))
      .orderBy("keep_id").select("keep_id", "n_dups").as[(Long, Long)].collect()
    assert(r.toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("blocked SimHash tables find the same pairs as simple banding, fewer candidates") {
    import graft.dedup.{MinHash, SimHash}
    val sigs = LlmQueries.normedDocs(spark, TestSpark.Sf)
      .select(col("doc_id"),
        SimHash.simhash(MinHash.shingleHashes(col("text_norm"), 3)).as("sig"))
    val banded = SimHash.nearDupPairs(sigs, "doc_id", "sig", nBands = 4, maxHamming = 3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val blocked = SimHash.nearDupPairsBlocked(sigs, "doc_id", "sig",
        nBlocks = 6, maxHamming = 3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    // both schemes are pigeonhole-complete at hamming <= 3 and verify
    // exactly -> identical output
    assert(blocked == banded,
      s"missed=${banded.diff(blocked)} extra=${blocked.diff(banded)}")
    // the widened keys (~32 vs 16 bits) must not surface MORE DISTINCT
    // candidate pairs: random 16-bit collisions vanish at 32 bits, and
    // random-collision mass (Σ n²/2^keybits per table) is what turns
    // the banded scheme quadratic at corpus scale. (Row multiplicity
    // runs the other way on a toy corpus — a hamming-0 pair matches
    // all 20 subsets but only 4 bands — so distinct pairs, which is
    // also what the verification stage pays for after the hamming
    // filter, is the meaningful meter. nBlocks = maxHamming + 1
    // reproduces the banded keys exactly.)
    val nBlocked = SimHash.blockedCandidates(sigs, "doc_id", "sig", 6, 3)
      .select("id1", "id2").distinct().count()
    val nBanded = SimHash.blockedCandidates(sigs, "doc_id", "sig", 4, 3)
      .select("id1", "id2").distinct().count()
    assert(nBlocked <= nBanded,
      s"blocked distinct candidates $nBlocked > banded $nBanded")
  }

  test("EdJoin prefix-filtered edit-distance join equals brute force (lossless)") {
    // edge shapes: short strings below the gram bound (routed through
    // the short block), boundary dist = 4, dist = 5 excluded, repeated
    // grams, and cross short/long pairs
    val names = Seq(
      "ab", "abcd", "xbcd", "zzzz",                 // short block
      "aaaaaaaaaaaaaaaaaaaa",                        // repeated grams
      "aaaaaaaaaaaaaaaabbbb",                        // dist 4 from above
      "goldenrod lavender spring chocolate lace",
      "goldenrod lavender spring chocolate lacq",    // dist 1
      "goldenrod lavender sprinG chocolaXe lacq",    // dist 3 from prev
      "completely different string here entirely"
    ).toDF("s")
    val got = dedup.EdJoin.selfJoin(names, "s", maxDist = 4)
      .as[(String, String, Long)].collect().toSet
    val brute = names.select(col("s").as("n1"))
      .join(names.select(col("s").as("n2")), col("n1") < col("n2"))
      .withColumn("dist", levenshtein(col("n1"), col("n2")).cast("long"))
      .filter(col("dist") <= 4)
      .as[(String, String, Long)].collect().toSet
    assert(brute.nonEmpty, "fixture must contain qualifying pairs")
    assert(got == brute,
      s"missed=${brute.diff(got)} extra=${got.diff(brute)}")
  }

  test("EdJoin equals brute force on the real part-name corpus") {
    val part = Tables.part(spark, TestSpark.Sf)
    val got = graft.dedup.EdJoin.selfJoin(part, "p_name", maxDist = 4)
      .as[(String, String, Long)].collect().toSet
    val names = part.select(col("p_name")).distinct()
    val brute = names.select(col("p_name").as("n1"))
      .join(names.select(col("p_name").as("n2")), col("n1") < col("n2"))
      .withColumn("dist", levenshtein(col("n1"), col("n2")).cast("long"))
      .filter(col("dist") <= 4)
      .as[(String, String, Long)].collect().toSet
    assert(got == brute, s"missed=${brute.diff(got).take(5)} extra=${got.diff(brute).take(5)}")
  }

  test("d15 canonical pick: one max-degree min-id representative per cluster, sizes exact") {
    val picks = LlmQueries.d15CanonicalPick(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect()
    // recompute components + degrees locally from the exact pair set
    val pairs = groundTruth
    val adj = pairs.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val degree = adj.view.mapValues(_.size.toLong).toMap
    var comp = Map.empty[Long, Long]
    for (root <- adj.keys.toSeq.sorted if !comp.contains(root)) {
      var frontier = Set(root)
      while (frontier.nonEmpty) {
        comp ++= frontier.iterator.map(_ -> root)
        frontier = frontier.flatMap(adj).diff(comp.keySet)
      }
    }
    val clusters = comp.groupBy(_._2).values.map(_.keySet).toSeq
    val expect = clusters.map { members =>
      val canon = members.toSeq.sortBy(id => (-degree(id), id)).head
      (members.min, canon, degree(canon), members.size.toLong)
    }.toSet
    // comp labels: CC labels each cluster by its min id, matching `members.min`
    assert(picks.toSet == expect,
      s"got=${picks.toSet.diff(expect).take(3)} want=${expect.diff(picks.toSet).take(3)}")
    assert(picks.map(_._1).distinct.length == picks.length, "one pick per cluster")
  }

  test("d16 per-doc triangle counts equal brute-force enumeration") {
    val got = LlmQueries.d16Triangles(spark, TestSpark.Sf)
      .as[(Long, Long)].collect().toMap
    val edges = groundTruth
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val has = edges ++ edges.map(e => (e._2, e._1))
    val expect = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      Seq(a, b, c) <- nodes.combinations(3)
      if has((a, b)) && has((b, c)) && has((a, c))
      n <- Seq(a, b, c)
    } expect(n) += 1
    assert(got == expect.toMap.filter(_._2 > 0),
      s"got=${got.toSeq.sorted.take(5)} want=${expect.toSeq.sorted.take(5)}")
  }

  test("d17 CDC chunking finds the planted near-dups (recall >= 0.9 of exact jaccard pairs)") {
    val got = LlmQueries.d17CdcChunkDedup(spark, TestSpark.Sf)
      .select("doc_id1", "doc_id2").as[(Long, Long)].collect().toSet
    val hit = groundTruth.count(got)
    assert(hit * 10 >= groundTruth.size * 9,
      s"recall ${hit}/${groundTruth.size} below 0.9")
  }

  test("CDC chunk digests survive an insertion (the content-defined property)") {
    // chunk one real doc and an edited copy with a word spliced into
    // the middle; fixed-offset framing would shift every later frame,
    // CDC must keep the majority of digests identical
    val text = Tables.documents(spark, TestSpark.Sf)
      .filter(col("doc_id") === 149).select("text").as[String].head()
    val edited = text.substring(0, text.length / 2) + " spliced words here " +
      text.substring(text.length / 2)
    def chunksOf(s: String): Set[String] = {
      val cuts = (1 until s.length).filter(i =>
        (s.charAt(i - 1).toInt * 31 + s.charAt(i).toInt) % 16 == 0)
      val bounds = 0 +: cuts :+ s.length
      bounds.sliding(2).map { case Seq(a, b) => s.substring(a, b) }.toSet
    }
    val (orig, ed) = (chunksOf(text), chunksOf(edited))
    val survived = orig.intersect(ed).size
    assert(survived * 10 >= orig.size * 6,
      s"only $survived/${orig.size} chunks survived the insertion")
  }

  test("d19 duplicated n-gram stats count cross-doc 8-gram sharing exactly") {
    // doc 1 and 2 share their first 9 words (= two shared 8-grams);
    // doc 3 is disjoint; doc 4 is too short to carry any 8-gram and
    // must not appear. Within-doc repeats collapse via DISTINCT.
    val w = (1 to 9).map(i => s"w$i").mkString(" ") // 9 shared words
    val docs = Seq(
      (1L, s"$w alpha beta"), // 11 words = 4 grams, 2 shared
      (2L, s"$w gamma delta epsilon"), // 12 words = 5 grams, 2 shared
      (3L, (1 to 12).map(i => s"x$i").mkString(" ")), // 5 grams, 0 shared
      (4L, "too short for one gram")
    ).toDF("doc_id", "text")
    val grams = docs
      .withColumn("text_norm", TextNorm.normalizeText(col("text")))
      .select(col("doc_id"), split(col("text_norm"), " ").as("w"))
      .filter(size(col("w")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 7), i -> md5(array_join(slice(w, i, 8), ' ')))")).as("gh"))
      .distinct()
    val freq = grams.groupBy("gh").agg(count(lit(1)).as("nd"))
    val r = grams.join(freq, Seq("gh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_grams"))
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(r == Map(1L -> ((4L, 2L)), 2L -> ((5L, 2L)), 3L -> ((5L, 0L))), r.toString)
  }

  test("containment join equals brute force and catches what jaccard can't") {
    import graft.dedup.SetSimJoin
    // doc 9001 = a 30-word excerpt of doc 149 (the longest doc, 99
    // words): containment(A→149) ≈ 1, jaccard ≈ 28/97 < 0.5 — the
    // directed case
    val base = Tables.documents(spark, TestSpark.Sf)
      .withColumn("text_norm", TextNorm.normalizeText(col("text")))
      .select(col("doc_id"), array_distinct(MinHash.shingleHashes(col("text_norm"), 3)).as("s"))
    val d0 = Tables.documents(spark, TestSpark.Sf)
      .filter(col("doc_id") === 149).select("text").as[String].head()
    val excerpt = d0.split("\\s+").take(30).mkString(" ")
    val extra = Seq((9001L, excerpt))
      .toDF("doc_id", "text")
      .withColumn("text_norm", TextNorm.normalizeText(col("text")))
      .select(col("doc_id"), array_distinct(MinHash.shingleHashes(col("text_norm"), 3)).as("s"))
    val all = base.unionAll(extra)
    val got = SetSimJoin.containmentJoin(all, "doc_id", "s", 9, 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((9001L, 149L)), s"excerpt not caught: $got")
    // lossless: equals the local brute force over the same sets
    val sets = all.as[(Long, Array[Long])].collect().map(t => t._1 -> t._2.toSet).toMap
    val brute = (for {
      (ia, sa) <- sets.toSeq; (ib, sb) <- sets.toSeq
      if ia != ib && sa.intersect(sb).size * 10 >= sa.size * 9
    } yield (ia, ib)).toSet
    assert(got == brute,
      s"missing=${brute.diff(got).take(3)} extra=${got.diff(brute).take(3)}")
    // and jaccard-0.5 over the same corpus does NOT pair (9001, 0)
    val jac = SetSimJoin.jaccardSelfJoin(all, "doc_id", "s", 1, 2)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(!jac.contains((149L, 9001L)) && !jac.contains((9001L, 149L)))
  }

  test("d23 span removal excises cross-doc grams, spares within-doc repeats") {
    val w = (1 to 9).map(i => s"w$i").mkString(" ")
    val a8 = (1 to 8).map(i => s"a$i").mkString(" ")
    val docs = Seq(
      (1L, s"$w alpha beta"), // tokens 1-9 covered → "alpha beta"
      (2L, s"$w gamma delta epsilon"), // → "gamma delta epsilon"
      (3L, (1 to 12).map(i => s"x$i").mkString(" ")), // untouched
      (5L, s"$a8 z $a8") // same 8-gram TWICE within one doc: T == C,
                         // not cross-doc — must pass through intact
    ).toDF("doc_id", "text")
    val n = 8
    val normed = docs.withColumn("text_norm", TextNorm.normalizeText(col("text")))
    val toks = normed
      .select(col("doc_id"), split(col("text_norm"), " ").as("w"))
      .select(col("doc_id"), posexplode(col("w")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("tok"))
    val grams = normed
      .select(col("doc_id"), split(col("text_norm"), " ").as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(1, size(w) - 7), i -> md5(array_join(slice(w, i, 8), ' ')))")).as(Seq("g0", "gh")))
      .select(col("doc_id"), (col("g0") + 1).as("gpos"), col("gh"))
    val dupStarts = grams
      .withColumn("t", count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("gh")))
      .withColumn("c", count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("doc_id", "gh")))
      .filter(col("t") > col("c")).select("doc_id", "gpos")
    val covered = dupStarts
      .select(col("doc_id"), explode(expr("sequence(gpos, gpos + 7)")).as("pos"))
      .distinct()
    val r = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(concat_ws(" ", expr("transform(sort_array(collect_list(struct(pos, tok))), s -> s.tok)")).as("ct"))
      .as[(Long, String)].collect().toMap
    assert(r(1L) == "alpha beta", r(1L))
    assert(r(2L) == "gamma delta epsilon", r(2L))
    assert(r(3L).split(" ").length == 12)
    assert(r(5L).split(" ").length == 17, s"within-doc repeat was excised: ${r(5L)}")
  }

  test("d24 gate: exact-dup and containment flags fire on planted batch docs") {
    import graft.dedup.SetSimJoin
    // even ids = corpus, odd = new batch (the query's parity rule):
    // 3 is a verbatim copy of 2; 5 is 2's first 12 words (contained);
    // 7 is fresh. w20 is long enough that the 12-word prefix stays
    // under jaccard but over containment.
    val w20 = (1 to 20).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (2L, w20), (4L, (1 to 15).map(i => s"z$i").mkString(" ")),
      (3L, w20),
      (5L, (1 to 12).map(i => s"w$i").mkString(" ")),
      (7L, (1 to 15).map(i => s"q$i").mkString(" "))
    ).toDF("doc_id", "text")
      .withColumn("text_norm", TextNorm.normalizeText(col("text")))
    val withDig = docs.withColumn("dig", md5(col("text_norm")))
      .withColumn("is_new", (col("doc_id") % 2) === 1)
    val exact = withDig.filter(col("is_new"))
      .join(withDig.filter(!col("is_new")).select("dig"), Seq("dig"), "left_semi")
      .select("doc_id").as[Long].collect().toSet
    assert(exact == Set(3L), exact.toString)
    val withSet = docs.select(col("doc_id"),
      array_distinct(MinHash.shingleHashes(col("text_norm"), 3)).as("s"))
    val contained = SetSimJoin.containmentJoin(withSet, "doc_id", "s", 9, 10)
      .filter(col("id_a") % 2 === 1 && col("id_b") % 2 === 0)
      .select("id_a").as[Long].collect().toSet
    assert(contained == Set(3L, 5L), contained.toString)
  }

  test("artifact-served containment gate: parity with the union gate, novel-token zero-candidate bound") {
    import graft.dedup.SetSimJoin
    // the r13 d24 shape: the corpus side arrives as STAGED artifacts
    // (df order + ranked postings + sets) built WITHOUT the batch —
    // the staleness window — and decisions must still be bit-identical
    // to the union-order gate because the prefix theorem is
    // order-agnostic and verification is exact.
    val w20 = (1 to 20).map(i => s"w$i").mkString(" ")
    val mk = (rows: Seq[(Long, String)]) => rows.toDF("doc_id", "text")
      .withColumn("text_norm", TextNorm.normalizeText(col("text")))
      .select(col("doc_id"),
        array_distinct(MinHash.shingleHashes(col("text_norm"), 3)).as("s"))
    val corpus = mk(Seq(
      (2L, w20), (4L, (1 to 15).map(i => s"z$i").mkString(" ")),
      (6L, (1 to 9).map(i => s"w$i").mkString(" ") + " tail1 tail2")))
    val batch = mk(Seq(
      (3L, w20), // verbatim copy of 2 → contained
      (5L, (1 to 12).map(i => s"w$i").mkString(" ")), // prefix of 2 → contained
      (7L, (1 to 15).map(i => s"q$i").mkString(" ")), // fresh, tokens OVERLAP nothing
      (9L, (1 to 6).map(i => s"w$i").mkString(" ") + " novel7 novel8"))) // shares tokens, not contained at 0.9
    // artifacts: built from the corpus side only
    val dfFrame = corpus.select(explode(col("s")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val postings = SetSimJoin.containmentPostings(corpus, "doc_id", "s", dfFrame)
    val got = SetSimJoin.containmentJoinAgainst(batch, "doc_id", "s",
        postings, corpus.select("doc_id", "s"), dfFrame, 9, 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // union-order gate (the pre-r13 path) on the same docs, new→old
    val want = SetSimJoin.containmentJoin(corpus.unionAll(batch), "doc_id", "s", 9, 10)
      .filter(col("id_a") % 2 === 1 && col("id_b") % 2 === 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == want,
      s"missing=${want.diff(got).take(5)} extra=${got.diff(want).take(5)}")
    assert(got.map(_._1) == Set(3L, 5L), got.toString)
    // work bound, the O(batch) property made a measurement: an
    // all-novel-token batch ranks its (df = 0) tokens into the prefix
    // but no corpus posting carries them — ZERO candidates, before
    // any verification work
    val novel = mk(Seq((11L, (1 to 15).map(i => s"n$i").mkString(" ")),
      (13L, (1 to 8).map(i => s"m$i").mkString(" "))))
    val novelCand = SetSimJoin.containmentCandidatesAgainst(novel,
      "doc_id", "s", postings, dfFrame, 9, 10).count()
    assert(novelCand == 0L, s"novel batch generated $novelCand candidates")
    // and the planted batch's candidate volume stays candidate-scale:
    // bounded by Σ_prefix-tok df(tok) — here every batch doc's prefix
    // is ≤ 3 tokens of df ≤ 3, so ≤ a few dozen, NOT |batch|·|corpus|
    val cand = SetSimJoin.containmentCandidatesAgainst(batch,
      "doc_id", "s", postings, dfFrame, 9, 10).count()
    assert(cand <= 12L, s"candidate volume $cand exceeds the prefix-df bound")
  }

  test("d24 staged-gate decisions match the from-scratch recomputation at spec scale") {
    // the registered query now reads the staged corpus artifacts; its
    // decisions must equal the pre-r13 union recompute on the real
    // corpus (the oracle certifies vs DuckDB at sf0.01; this pins the
    // same property in-suite at sf0.001 against the old plan shape)
    val got = LlmQueries.d24IncrementalGate(spark, TestSpark.Sf)
      .as[(Long, Boolean, Boolean)].collect().toSeq
    val docs = Tables.documents(spark, TestSpark.Sf)
      .withColumn("text_norm", TextNorm.normalizeText(col("text")))
      .withColumn("dig", md5(col("text_norm")))
      .withColumn("is_new", (col("doc_id") % 2) === 1)
    val exact = docs.filter(col("is_new"))
      .join(docs.filter(!col("is_new")).select("dig"), Seq("dig"), "left_semi")
      .select("doc_id").as[Long].collect().toSet
    val withSet = docs.select(col("doc_id"),
      array_distinct(MinHash.shingleHashes(col("text_norm"), 3)).as("s"))
    val contained = SetSimJoin.containmentJoin(withSet, "doc_id", "s", 9, 10)
      .filter(col("id_a") % 2 === 1 && col("id_b") % 2 === 0)
      .select("id_a").as[Long].collect().toSet
    val want = docs.filter(col("is_new")).select("doc_id").as[Long].collect()
      .sorted.toSeq.map(id => (id, exact.contains(id), contained.contains(id)))
    assert(got == want,
      s"first diff: ${got.zip(want).find(p => p._1 != p._2)}")
  }

  test("collapsed hamming pairing equals the blocked kernel on identical/near/far classes and the m04 feed") {
    // planted: an identical class of 4 (all pairs hamming 0), a near
    // pair at hamming 2, a pair at exactly maxHamming 3, one just
    // past it (4 — excluded), and a far singleton
    val base = 0x0123456789abcdefL
    def flip(s: Long, bits: Int*): Long = bits.foldLeft(s)((a, b) => a ^ (1L << b))
    val rows = Seq(
      (1L, base), (2L, base), (3L, base), (4L, base), // identical class
      (10L, flip(base, 7)), (11L, flip(base, 7, 13, 21)), // h(10,11)=2
      (20L, flip(base, 40)), (21L, flip(base, 40, 41, 42, 43)), // h=3
      (30L, flip(base, 50)), (31L, flip(base, 50, 51, 52, 53, 54)), // h=4, out
      (40L, 0x7edcba9876543210L)
    ).toDF("vid", "sig")
    val want = SimHash.nearDupPairsBlocked(rows, "vid", "sig", 6, 3)
      .as[(Long, Long, Long)].collect().toSet
    val got = SimHash.nearDupPairsCollapsed(rows, "vid", "sig", 6, 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want,
      s"missing=${want.diff(got).take(5)} extra=${got.diff(want).take(5)}")
    assert(want.exists(_._3 == 0) && want.exists(_._3 == 2) &&
      want.exists(_._3 == 3) && !want.exists(_._3 > 3))
    // the review-found hazards: one id carrying TWO different sigs
    // (a min-id rep would collide and drop the cross-class pair),
    // duplicate (id, sig) rows (must not multiply output), and the
    // id-in-both-classes self-pair
    val tricky = Seq(
      (1L, base), (1L, flip(base, 7, 13)), // id 1 in two classes, h=2
      (2L, base), (2L, base),              // duplicate rows
      (3L, flip(base, 7, 13))
    ).toDF("vid", "sig")
    val wantT = SimHash.nearDupPairsBlocked(tricky, "vid", "sig", 6, 3)
      .as[(Long, Long, Long)].collect().toSet
    val gotT = SimHash.nearDupPairsCollapsed(tricky, "vid", "sig", 6, 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(gotT == wantT,
      s"tricky: missing=${wantT.diff(gotT).take(5)} extra=${gotT.diff(wantT).take(5)}")
    // the cross-class pair a min-id rep would have dropped
    assert(gotT.contains((1L, 2L, 2L)) || gotT.contains((1L, 3L, 0L)),
      s"cross-class pairs missing: $gotT")
    // output arrives as a SET (no duplicate rows): collect as list too
    val gotList = SimHash.nearDupPairsCollapsed(tricky, "vid", "sig", 6, 3)
      .as[(Long, Long, Long)].collect().toSeq
    assert(gotList.size == gotList.toSet.size, s"duplicate rows: $gotList")
    // two ids sharing TWO identical-sig classes emit their hamming-0
    // row once (the blocked kernel's triple-distinct), and NULL sigs
    // never pair (null block keys never join)
    val twoClasses = Seq(
      (Some(1L), Some(base)), (Some(2L), Some(base)),
      (Some(1L), Some(flip(base, 60))), (Some(2L), Some(flip(base, 60))),
      (Some(8L), None), (Some(9L), None)
    ).map { case (v, s) => (v.get, s) }.toDF("vid", "sig")
    val wantTwo = SimHash.nearDupPairsBlocked(twoClasses, "vid", "sig", 6, 3)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val gotTwo = SimHash.nearDupPairsCollapsed(twoClasses, "vid", "sig", 6, 3)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(gotTwo == wantTwo,
      s"two-class/null parity: got=$gotTwo want=$wantTwo")
    assert(gotTwo.count(r => r._1 == 1L && r._2 == 2L && r._3 == 0L) == 1,
      s"shared hamming-0 row must appear once: $gotTwo")
    assert(!gotTwo.exists(r => r._1 == 8L || r._2 == 9L),
      s"null sigs must never pair: $gotTwo")
    // and on the real m04 feed (two wire-format variants per doc)
    val feed = LlmQueries.rasterFrame(spark, TestSpark.Sf)
      .select(col("doc_id"), col("sig_p5"), col("sig_p2"))
      .select(explode(array(
          struct((col("doc_id") * 2).as("vid"), col("sig_p5").as("sig")),
          struct((col("doc_id") * 2 + 1).as("vid"), col("sig_p2").as("sig"))))
        .as("v"))
      .select(col("v.vid").as("vid"), col("v.sig").as("sig"))
    val wantCorpus = SimHash.nearDupPairsBlocked(feed, "vid", "sig", 6, 3)
      .as[(Long, Long, Long)].collect().toSet
    val gotCorpus = SimHash.nearDupPairsCollapsed(feed, "vid", "sig", 6, 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(gotCorpus == wantCorpus,
      s"corpus diff: missing=${wantCorpus.diff(gotCorpus).take(3)} " +
        s"extra=${gotCorpus.diff(wantCorpus).take(3)}")
  }

  test("collapsed pairing bounds a degenerate 10^4 identical class (star contract)") {
    // the r13 verdict's weak row: a web-scale boilerplate class held
    // as ONE collect_list row is a task OOM and its C(n,2) emission
    // is combinatorial. Plant a 10^4-member identical class (the
    // EtlSpec CoOccur adversarial-basket template) beside a near
    // class and a far class; the default maxClassSize (4096) must
    // switch the big class to the star contract while every small
    // class keeps the exact blocked-kernel pairs.
    val base = 0x0123456789abcdefL
    val bigN = 10000L
    val big = (0L until bigN).map(i => (100L + i, base))
    val near = Seq((50000L, base ^ 3L), (50001L, base ^ 3L)) // hamming 2
    val far = Seq((60000L, 0x7edcba9876543210L), (60001L, 0x7edcba9876543210L))
    val rows = (big ++ near ++ far).toDF("vid", "sig")
      .repartition(8)
    val got = SimHash.nearDupPairsCollapsed(rows, "vid", "sig", 6, 3)
      .as[(Long, Long, Long)].collect()
    assert(got.length == got.toSet.size, "no duplicate rows")
    val pairs = got.toSet
    // star contract: exactly n-1 within edges, every one rooted at
    // the class's min id — LINEAR in class size, not C(n,2)
    val withinBig = pairs.filter(p => p._3 == 0L && p._2 >= 100L && p._2 < 50000L)
    assert(withinBig.size == (bigN - 1).toInt, s"star edge count ${withinBig.size}")
    assert(withinBig.forall(_._1 == 100L), "every star edge roots at the min-id rep")
    assert(withinBig.map(_._2) == (101L until 100L + bigN).toSet)
    // cross edges: the big class participates through its rep ONLY;
    // the small near class expands fully (both members reach the rep)
    val cross = pairs.filter(p => p._2 >= 50000L && p._2 < 60000L && p._3 > 0L)
    assert(cross == Set((100L, 50000L, 2L), (100L, 50001L, 2L)), s"cross: $cross")
    // small classes keep the exact contract
    assert(pairs.contains((50000L, 50001L, 0L)) && pairs.contains((60000L, 60001L, 0L)))
    // and nothing else: components are exactly {big ∪ near} and {far}
    assert(pairs.size == (bigN - 1 + 2 + 1 + 1).toInt, s"total ${pairs.size}")
    // raising the cap above the class size restores the exact
    // contract's shape on a SMALLER planted class (don't materialize
    // C(10^4, 2) in a test): 100 members, cap 99 stars / cap 100 exact
    val c100 = (0L until 100L).map(i => (i, base)).toDF("vid", "sig")
    val star = SimHash.nearDupPairsCollapsed(c100, "vid", "sig", 6, 3,
      maxClassSize = 99).count()
    val exact = SimHash.nearDupPairsCollapsed(c100, "vid", "sig", 6, 3,
      maxClassSize = 100).count()
    assert(star == 99L && exact == 100L * 99L / 2L, s"star=$star exact=$exact")
  }

  test("t20 novelty: a gram is novel only for its smallest-doc_id owner") {
    // Same corpus as the d19 test: docs 1 and 2 share two 8-grams.
    // Doc 1 (smaller id) owns them — all 4 of its grams are novel;
    // doc 2 arrives later, so only its 3 unshared grams are novel.
    val w = (1 to 9).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"$w alpha beta"),
      (2L, s"$w gamma delta epsilon"),
      (3L, (1 to 12).map(i => s"x$i").mkString(" "))
    ).toDF("doc_id", "text")
    val grams = docs
      .withColumn("text_norm", TextNorm.normalizeText(col("text")))
      .select(col("doc_id"), split(col("text_norm"), " ").as("w"))
      .filter(size(col("w")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 7), i -> md5(array_join(slice(w, i, 8), ' ')))")).as("gh"))
      .distinct()
    val own = grams.groupBy("gh").agg(min(col("doc_id")).as("first_doc"))
    val r = grams.join(own, Seq("gh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L)).as("n_novel"))
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(r == Map(1L -> ((4L, 4L)), 2L -> ((5L, 3L)), 3L -> ((5L, 5L))), r.toString)
  }

  test("near-dup index: persisted gate equals the in-memory gate; append extends history") {
    import graft.dedup.NearDupIndex
    import graft.streaming.EventStream
    val docs = Tables.documents(spark, TestSpark.Sf).select("doc_id", "text")
    val even = docs.filter(col("doc_id") % 2 === 0)
    val odd = docs.filter(col("doc_id") % 2 === 1)
    val dir = java.nio.file.Files.createTempDirectory("nd_idx").toString
    NearDupIndex.build(even, dir)

    // the stored tables ARE the in-memory corpus frames
    val (bands, sigs) = NearDupIndex.load(spark, dir)
    val (wBands, wSigs) = EventStream.nearDupCorpus(even)
    val gotSigs = sigs.as[(Long, Seq[Long])].collect().toMap
    val wantSigs = wSigs.as[(Long, Seq[Long])].collect().toMap
    assert(gotSigs == wantSigs, "persisted signatures differ")
    val gotBands = bands.select(col("band").cast("int"), col("bh"), col("cid"))
      .as[(Int, Long, Long)].collect().toSet
    val wantBands = wBands.select(col("band").cast("int"), col("bh"), col("cid"))
      .as[(Int, Long, Long)].collect().toSet
    assert(gotBands == wantBands, "persisted band table differs")

    // gate-from-index == gate-from-frames on a mixed probe batch
    // (gate functions are plain (DataFrame, batchId) closures — no
    // streaming machinery needed to compare their decisions)
    val probe = docs.limit(60).withColumn("doc_id", col("doc_id") + 1000000L)
    import org.apache.spark.sql.DataFrame
    def admitted(g: ((DataFrame, Long) => Unit) => (DataFrame, Long) => Unit): Set[Long] = {
      var out = Set.empty[Long]
      g { (adm, _) => out = adm.select("doc_id").as[Long].collect().toSet }
        .apply(probe, 0L)
      out
    }
    val fromIndex = admitted(NearDupIndex.gate(spark, dir))
    val fromFrames = admitted(
      EventStream.nearDupGateForeachBatch(wBands.localCheckpoint(true),
        wSigs.localCheckpoint(true)))
    assert(fromIndex == fromFrames, s"index gate diverged: " +
      s"extra=${fromIndex -- fromFrames} missing=${fromFrames -- fromIndex}")
    // even-id replays must be among the rejections
    val evenIds = even.select("doc_id").as[Long].collect().toSet
    val replayedEven = probe.select("doc_id").as[Long].collect()
      .filter(id => evenIds.contains(id - 1000000L)).toSet
    assert(replayedEven.nonEmpty && (fromIndex & replayedEven).isEmpty,
      "an even-id verbatim replay slipped through the gate")

    // append the odd half: an odd verbatim replay is now rejected too
    NearDupIndex.append(odd, dir)
    val oddProbe = odd.limit(10).withColumn("doc_id", col("doc_id") + 2000000L)
    val afterAppend = admitted(NearDupIndex.gate(spark, dir))
    val r2 = {
      var out = Set.empty[Long]
      NearDupIndex.gate(spark, dir) { (adm, _) =>
        out = adm.select("doc_id").as[Long].collect().toSet }
        .apply(oddProbe, 1L)
      out
    }
    assert(r2.isEmpty, s"odd replays admitted after append: $r2")
    assert(afterAppend.subsetOf(fromIndex),
      "appending history can only shrink the admitted set")

    // compaction merges the append segments; gate decisions unchanged
    val (rewritten, created) = NearDupIndex.compact(spark, dir)
    assert(rewritten > 0 && created < rewritten, s"compact $rewritten -> $created")
    assert(admitted(NearDupIndex.gate(spark, dir)) == afterAppend,
      "compaction changed gate decisions")
  }

  test("near-dup index auditGate agrees with the in-memory d31 audit") {
    import graft.dedup.NearDupIndex
    val dir = java.nio.file.Files.createTempDirectory("graft_ndi_audit").toString
    val docs = Tables.documents(spark, TestSpark.Sf).select("doc_id", "text")
    val corpus = docs.filter($"doc_id" % 2 === 0)
    val batch = docs.filter($"doc_id" % 2 === 1)
    NearDupIndex.build(corpus, dir)
    val cols = Seq("n_batch", "n_rejected", "n_true_dup", "true_rejects",
      "false_rejects", "missed_dups", "precision_ppm", "recall_ppm")
    val got = NearDupIndex.auditGate(spark, dir, batch, corpus)
      .select(cols.map(col): _*)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].head()
    // two independent implementations of the same audit must agree —
    // d31 computes the estimate side in memory, this one reads the
    // persisted index tables
    val want = LlmQueries.d31GateAudit(spark, TestSpark.Sf)
      .select(cols.map(col): _*)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].head()
    assert(got == want, s"index audit $got != in-memory d31 $want")
  }

  test("d31 gate audit: confusion counts are consistent and recall holds") {
    val r = LlmQueries.d31GateAudit(spark, TestSpark.Sf)
      .select("n_batch", "n_rejected", "n_true_dup", "true_rejects",
        "false_rejects", "missed_dups", "precision_ppm", "recall_ppm")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].head()
    val (nBatch, nRej, nDup, tp, fp, miss, prec, rec) = r
    info(s"audit: batch=$nBatch rejected=$nRej trueDup=$nDup " +
      s"precision=${prec / 10000.0}% recall=${rec / 10000.0}%")
    // the confusion partition must tile exactly
    assert(tp + fp == nRej, s"true+false rejects $tp+$fp != rejected $nRej")
    assert(tp + miss == nDup, s"true+missed $tp+$miss != true dups $nDup")
    assert(nRej <= nBatch && nDup <= nBatch)
    // the audit is only useful if the fixture has planted near-dups
    assert(nDup > 0, "fixture has no cross-parity exact near-dups")
    // k=64 signatures at τ=0.7: estimate-vs-exact flips are confined to
    // the threshold boundary — measured 100%/100% at sf0.001; the floor
    // leaves room for boundary pairs at other corpus sizes
    assert(rec >= 900000L, s"gate recall_ppm $rec below 0.9")
    assert(prec >= 900000L, s"gate precision_ppm $prec below 0.9")
  }

  test("d41 agreement: planted confusion exact, corpus subsumption holds") {
    import spark.implicits._
    // planted labels with a hand-countable pair confusion:
    //   A-clusters: {1,2,3} {4,5} {6} {7}   -> 3 + 1 = 4 pairs
    //   B-groups:   {1,2}   {3,4} {5} {6,7} -> 3 pairs
    //   co-grouped in both: only (1,2)      -> TP = 1
    val planted = Seq(
      (1L, "x", "p"), (2L, "x", "p"), (3L, "x", "q"),
      (4L, "y", "q"), (5L, "y", "r"), (6L, "z", "s"), (7L, "w", "s"))
      .toDF("doc_id", "a", "b")
    val Array((n, pn, pe, pb, rand, jacc)) =
      LlmQueries.agreementOf(planted)
        .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert((n, pn, pe, pb) == ((7L, 4L, 3L, 1L)))
    // TN = C(7,2) - TP - FP - FN = 21 - 1 - 3 - 2 = 15; rand = 16/21
    assert(rand == BigInt(16) * 1000000 / 21)
    assert(jacc == BigInt(1) * 1000000 / 6)

    // corpus run: the exact layer is legitimately empty on this corpus
    // (no identical texts — the census columns ARE the evidence), the
    // subsumption invariant holds vacuously, and the transitive layer
    // must have merged something for the audit to be informative
    val Array((nDocs, pNear, pExact, pBoth, randPpm, jaccPpm)) =
      LlmQueries.d41ClusterAgreement(spark, TestSpark.Sf)
        .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(nDocs > 0)
    assert(pBoth == pExact,
      s"exact-dup pairs $pExact not all co-clustered (both=$pBoth)")
    assert(pNear > 0, "near-dup layer merged nothing — audit uninformative")
    assert(randPpm > 900000L && randPpm <= 1000000L)
    assert(jaccPpm == (if (pNear + pExact - pBoth == 0) 1000000L
      else BigInt(pBoth) * 1000000 /
        (BigInt(pNear) + BigInt(pExact) - BigInt(pBoth))))
  }

  test("d31 exact-audit volume bound at its own operating point (sf0.01, sf0.1)") {
    // d31 runs the gate AND the exact truth by definition — the r11
    // verdict: "audit-scale by contract; make the contract a spec, not
    // prose". The exact side is the lossless prefix-filtered self-join
    // at d31's own τ = 0.7; its cost driver is the CANDIDATE count, so
    // that count is gated per doc at two SFs against an absolute bound
    // (64: ~10× headroom over the measured operating point) and a
    // quadratic yardstick (an all-pairs path generates ~n/2 candidates
    // per doc — orders of magnitude past either measurement).
    // Measured r12: sf0.01 → 25 candidates over 500 docs (0.05/doc —
    // that corpus holds almost no genuine near-dups); sf0.1 → 33,315
    // over 5,000 (6.66/doc). Wall-time exponents for the family
    // (d04/d06/d31) stay sub-linear through sf0.3 in SCALECHECK.
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val sets = LlmQueries.shingleSets(spark, dir)
      val n = sets.count()
      val cands = graft.dedup.SetSimJoin
        .jaccardCandidates(sets, "doc_id", "s", tauNum = 7, tauDen = 10)
        .count()
      val perDoc = cands.toDouble / n.toDouble
      info(s"$dir: n=$n candidates=$cands perDoc=$perDoc")
      assert(perDoc <= 64.0,
        s"$dir: d31 exact-side candidates/doc $perDoc exceeds the audit bound")
      assert(perDoc * 8 <= n.toDouble / 2.0,
        s"$dir: d31 exact-side candidates/doc $perDoc is within 8× of the " +
          s"all-pairs yardstick (n/2 = ${n / 2}) — a quadratic path")
    }
  }

  test("d07 candidate volume bound at its own operating point (sf0.01, sf0.1)") {
    import graft.sim.Ann
    import graft.functions.VectorFunctions.{dot, toDouble}
    // The documented low-τ hazard made a SUITE gate, not a bench-ledger
    // observation: at d07's exact derived parameters (τ=0.44, recall
    // 0.95, occupancy 32), per-doc candidates must stay within the
    // design bound nTables · n/2^nBits · slack — a parameter
    // regression (or a quadratic path) trips here first.
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val e = Tables.embeddings(spark, dir)
        .select(col("vec_id").as("id"), toDouble(col("embedding")).as("v"))
        .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
        .filter(col("nrm") > 0)
      val n = e.count()
      val nBits = Ann.bitsForOccupancy(n)
      // d07's recall target is 0.95 (LlmQueries.d07EmbedNearDupLsh →
      // NearDup.pairs default), NOT the 0.99 the AnnSpec rate test uses
      val nTables = Ann.tablesForRecall(0.44, nBits, 0.95)
      val cands = Ann.lshCandidates(e, nBits, nTables, dim = 64,
        seed = 0xd07L).count()
      val perDoc = cands.toDouble / n.toDouble
      val bound = nTables.toDouble * (n.toDouble / (1L << nBits)) * 1.5
      info(s"$dir: n=$n bits=$nBits tables=$nTables perDoc=$perDoc bound=$bound")
      // measured r11: sf0.01 perDoc = 158.7 (bound 750, 16 tables),
      // sf0.1 perDoc = 481.2 (bound 1921.9, 41 tables) — cross-table
      // dedup keeps the measurement ~4× under the design bound; the
      // 1.5× slack absorbs bucket skew on clustered embeddings, while
      // a quadratic path would overshoot by n/2^nBits/occupancy ≫ slack
      assert(perDoc <= bound,
        s"$dir: d07 candidates/doc $perDoc exceeds design bound $bound")
    }
  }

  test("d42 LSH design table matches the exact S-curve and prices the deployed trade") {
    val spark = TestSpark.spark
    import spark.implicits._
    val got = LlmQueries.d42LshDesign(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._2)
    assert(got.map(r => (r._1, r._2)).toSeq ==
      Seq((64L, 1L), (32L, 2L), (16L, 4L), (8L, 8L), (4L, 16L), (2L, 32L),
        (1L, 64L)), "one row per factorization of the 64-perm signature")
    // exact recomputation: P(s) = 1 − (1 − s^r)^b with BigDecimal-free
    // doubles — the same squaring chains the query evaluates
    def sq(x: Double, times: Int): Double =
      (0 until times).foldLeft(x)((a, _) => a * a)
    def pOf(s: Double, r: Long, b: Long): Double = {
      val sr = sq(s, java.lang.Long.numberOfTrailingZeros(r))
      1.0 - sq(1.0 - sr, java.lang.Long.numberOfTrailingZeros(b))
    }
    got.foreach { case (b, r, s50, fp, fn, cost, _) =>
      val grid = (1 to 19).map(_ * 50000L)
      val pPpm = grid.map(sp =>
        sp -> math.floor(pOf(sp / 1000000.0, r, b) * 1000000.0 + 0.5).toLong)
        .toMap
      val wantS50 = grid.find(pPpm(_) >= 500000L).getOrElse(1000000L)
      val wantFp = grid.filter(_ < 700000L).map(pPpm).sum
      val wantFn = grid.filter(_ >= 700000L).map(1000000L - pPpm(_)).sum
      assert((s50, fp, fn, cost) == ((wantS50, wantFp, wantFn, wantFp + wantFn)),
        s"($b, $r): ($s50, $fp, $fn) != ($wantS50, $wantFp, $wantFn)")
    }
    // the S-curve's operating threshold rises with rows-per-band
    assert(got.map(_._3).toSeq == got.map(_._3).toSeq.sorted,
      "s50 must be monotone in r")
    // at tau = 0.7 the combined-mass optimum is the 8x8 design …
    assert(got.filter(_._7 == 1L).map(r => (r._1, r._2)).toSeq ==
      Seq((8L, 8L)), "tau=0.7 cost optimum")
    // … while the DEPLOYED 16x4 is deliberately recall-heavy: its
    // false-negative mass is tiny next to its false-positive mass
    // (candidates get exact-verified; misses are unrecoverable)
    val deployed = got.find(r => (r._1, r._2) == ((16L, 4L))).get
    assert(deployed._5 * 100 < deployed._4,
      s"16x4 must be recall-heavy: fn ${deployed._5} vs fp ${deployed._4}")
  }
}
