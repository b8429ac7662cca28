package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, IntegerType}
import org.scalatest.funsuite.AnyFunSuite

import graft.etl._

class EtlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("TextNorm.normalizeText mirrors the reference semantics") {
    val df = Seq(
      "  Drake feat. Rihanna  ",
      "Simon & Garfunkel",
      "Hall and Oates",
      "The   Band" // 'and' inside a word is replaced too — faithful to reference
    ).toDF("s").select(TextNorm.normalizeText($"s").as("n"))
    assert(df.as[String].collect().toSeq == Seq(
      "drake;rihanna", "simon;garfunkel", "hall;oates", "the b;"))
  }

  test("TextNorm.firstToken extracts the prefix word") {
    val r = Seq("cold widget", "bolt").toDF("s")
      .select(TextNorm.firstToken($"s")).as[String].collect()
    assert(r.toSeq == Seq("cold", "bolt"))
  }

  test("Cleaning.standardize maps empty and null to sentinel") {
    val r = Seq(Some(""), None, Some("x")).toDF("s")
      .select(Cleaning.standardize($"s")).as[String].collect()
    assert(r.toSeq == Seq("N/A", "N/A", "x"))
  }

  test("Cleaning.parseBool maps true/false strings, else null") {
    val r = Seq("True", " false ", "yes").toDF("s")
      .select(Cleaning.parseBool($"s")).collect().map(r => Option(r.get(0)))
    assert(r.toSeq == Seq(Some(true), Some(false), None))
  }

  test("Cleaning.safeCast coerces bad values to null (to_datetime errors=coerce)") {
    val r = Seq("2024-01-01", "not a date").toDF("s")
      .select(Cleaning.safeCast($"s", DateType)).collect()
    assert(r(0).get(0) != null && r(1).get(0) == null)
  }

  test("Dedup.topPerKey keeps exactly the top row per key, deterministically") {
    val df = Seq((1, "a", 10), (1, "b", 20), (2, "c", 5), (1, "d", 20)).toDF("k", "v", "pop")
    val r = Dedup.topPerKey(df, Seq("k"), Seq($"pop".desc, $"v".asc))
      .orderBy("k").as[(Int, String, Int)].collect()
    assert(r.toSeq == Seq((1, "b", 20), (2, "c", 5))) // ties break on v
  }

  test("Impute.fromLookup fills nulls from lookup with fallback") {
    val df = Seq((1, None: Option[String]), (2, Some("kept")), (3, None)).toDF("id", "v")
    val lk = Seq((1, "looked")).toDF("lid", "lv")
    val r = Impute.fromLookup(df, lk, "id", "lid", "v", "lv", Some("Unknown"))
      .orderBy("id").select("v").as[String].collect()
    assert(r.toSeq == Seq("looked", "kept", "Unknown"))
  }

  test("Merge.unionSplits is pd.concat by name") {
    val a = Seq((1, "x")).toDF("id", "v")
    val b = Seq(("y", 2)).toDF("v", "id") // shuffled column order
    val r = Merge.unionSplits(Seq(a, b)).orderBy("id").as[(Int, String)].collect()
    assert(r.toSeq == Seq((1, "x"), (2, "y")))
  }

  test("Stages: build runs once, restart resumes from committed output, partial output is rebuilt") {
    val root = java.nio.file.Files.createTempDirectory("graft_stages").toString
    var builds = 0
    def built = Stages.stage(spark, root, "s1") { builds += 1; Seq((1L, "a"), (2L, "b")).toDF("id", "v") }
    assert(built.count() == 2 && builds == 1)
    // simulated restart: stage is committed → closure must not run
    assert(Stages.stage(spark, root, "s1") { builds += 1; Seq((9L, "x")).toDF("id", "v") }.count() == 2)
    assert(builds == 1)
    // simulated kill mid-write: no _SUCCESS → stage must rebuild
    new java.io.File(s"$root/s1/_SUCCESS").delete()
    assert(Stages.stage(spark, root, "s1") { builds += 1; Seq((9L, "x")).toDF("id", "v") }.count() == 1)
    assert(builds == 2)
    Stages.invalidate(spark, root, "s1")
    assert(!new java.io.File(s"$root/s1").exists())
  }

  test("stageDurable: unchanged corpus is served cross-run, a one-doc change rebuilds") {
    val data = java.nio.file.Files.createTempDirectory("graft_dur_data").toString
    val root = java.nio.file.Files.createTempDirectory("graft_dur_root").toString
    Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(data)

    def corpus = spark.read.parquet(data)
    val dig1 = Stages.contentDigest(corpus.select("doc_id", "text"))
    // digest is layout-independent: same rows, any partitioning/order
    assert(Stages.contentDigest(
      corpus.select("doc_id", "text").repartition(7).sortWithinPartitions(desc("text"))) == dig1)

    var builds = 0
    def run(dig: String) = Stages.stageDurable(spark, root, "pairs", dig) {
      builds += 1; corpus.select("doc_id")
    }
    assert(run(dig1).count() == 3 && builds == 1)
    // "run 2" (fresh digest computation over the unchanged corpus):
    // same digest → committed artifact is READ, the closure never runs
    val dig2 = Stages.contentDigest(corpus.select("doc_id", "text"))
    assert(dig2 == dig1)
    assert(run(dig2).count() == 3 && builds == 1)
    // one-doc change → different digest → rebuild by construction
    Seq((1L, "alpha"), (2L, "beta EDITED"), (3L, "gamma")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(data)
    val dig3 = Stages.contentDigest(corpus.select("doc_id", "text"))
    assert(dig3 != dig1, "one-doc edit must flip the digest")
    assert(run(dig3).count() == 3 && builds == 2)
    // an insert-then-also-insert-duplicate corpus is caught by the
    // count term even where the xor term cancels
    val twice = corpus.select("doc_id", "text")
      .unionAll(corpus.select("doc_id", "text").limit(1))
    assert(Stages.contentDigest(twice) != dig3)
  }

  test("durable pair-graph wiring: second run reuses the committed artifact") {
    val root = java.nio.file.Files.createTempDirectory("graft_dur_wire").toString
    System.setProperty("graft.stages.durableRoot", root)
    try {
      assert(LlmQueries.pairGraph(spark, TestSpark.Sf).count() > 0)
      val dsDir = new java.io.File(root).listFiles.filter(_.isDirectory)
      assert(dsDir.length == 1, s"one dataset key expected: ${dsDir.toSeq}")
      val stages = dsDir.head.listFiles
        .filter(f => f.isDirectory && f.getName.startsWith("neardup_pairs-"))
      assert(stages.length == 1, s"one digest-named stage expected: ${stages.toSeq}")
      val marker = new java.io.File(stages.head, "_SUCCESS")
      assert(marker.exists())
      val mtime = marker.lastModified()
      // simulated second run: digest recomputed from the (unchanged)
      // corpus must address the SAME committed dir — served, not rebuilt
      assert(LlmQueries.pairGraph(spark, TestSpark.Sf).count() > 0)
      assert(marker.lastModified() == mtime, "artifact was rebuilt, not reused")
    } finally System.clearProperty("graft.stages.durableRoot")
  }

  test("durable drift-histogram wiring: second run reuses the committed artifact") {
    val root = java.nio.file.Files.createTempDirectory("graft_dur_ks").toString
    System.setProperty("graft.stages.durableRoot", root)
    try {
      assert(AnalyticsQueries.q112KsFromArtifacts(spark, TestSpark.Sf).count() > 0)
      val dsDir = new java.io.File(root).listFiles.filter(_.isDirectory)
      assert(dsDir.length == 1, s"one dataset key expected: ${dsDir.toSeq}")
      val stages = dsDir.head.listFiles
        .filter(f => f.isDirectory && f.getName.startsWith("ks_hists-"))
      assert(stages.length == 1, s"one digest-named stage expected: ${stages.toSeq}")
      val marker = new java.io.File(stages.head, "_SUCCESS")
      assert(marker.exists())
      val mtime = marker.lastModified()
      // simulated second run (fresh digest over unchanged events) — and
      // the SIBLING consumer: both must read the same committed artifact
      assert(AnalyticsQueries.q114AucFromArtifacts(spark, TestSpark.Sf).count() > 0)
      assert(marker.lastModified() == mtime, "artifact was rebuilt, not reused")
    } finally System.clearProperty("graft.stages.durableRoot")
  }

  /** A writable copy of the test dataset, so a test can rewrite a table. */
  private def copyOfSf(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    Tables.names.foreach { t =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(Tables.path(TestSpark.Sf, t)),
        java.nio.file.Paths.get(Tables.path(dir.toString, t)))
    }
    dir.toString
  }

  /** Replace `table` under `dir` in place with `df` (which may read it). */
  private def rewriteTable(dir: String, table: String,
                           df: org.apache.spark.sql.DataFrame): Unit = {
    val tmp = s"$dir/.$table.rewrite"
    df.write.parquet(tmp)
    val target = new java.io.File(Tables.path(dir, table))
    assert(target.delete(), s"could not remove $target")
    assert(new java.io.File(tmp).renameTo(target))
  }

  private def stageDirs(root: String, name: String): Seq[java.io.File] =
    new java.io.File(root).listFiles.filter(_.isDirectory).toSeq
      .flatMap(_.listFiles.filter(f => f.isDirectory && f.getName.startsWith(s"$name-")))

  test("durable copurchase edges digest lineitem: a changed order rebuilds them") {
    val data = copyOfSf("graft_dur_li_data")
    val root = java.nio.file.Files.createTempDirectory("graft_dur_li").toString
    System.setProperty("graft.stages.durableRoot", root)
    try {
      def edges = LlmQueries.coPurchaseEdges(spark, data)
        .as[(Long, Long)].collect().toSet
      val before = edges
      assert(before.nonEmpty && stageDirs(root, "copurchase_edges").length == 1)
      // drop one order that supports an edge at exactly the support
      // floor (2 orders): that edge must disappear
      val li = Tables.lineitem(spark, data)
      val ed = li.select("l_orderkey", "l_partkey").distinct()
      val order = ed.as("x").join(ed.as("y"),
          $"x.l_orderkey" === $"y.l_orderkey" && $"x.l_partkey" < $"y.l_partkey")
        .groupBy($"x.l_partkey".as("a"), $"y.l_partkey".as("b"))
        .agg(count(lit(1)).as("n"), min($"x.l_orderkey").as("o"))
        .filter($"n" === 2).orderBy("a", "b").select("o").as[Long].head()
      rewriteTable(data, "lineitem", li.filter($"l_orderkey" =!= order))
      val after = edges
      assert(stageDirs(root, "copurchase_edges").length == 2,
        "a lineitem change must rebuild the edges under a new digest")
      assert(after != before && after.subsetOf(before))
    } finally System.clearProperty("graft.stages.durableRoot")
  }

  test("durable pair graph: an in-place documents rewrite rebuilds it in the same session") {
    val data = copyOfSf("graft_dur_doc_data")
    val root = java.nio.file.Files.createTempDirectory("graft_dur_doc").toString
    System.setProperty("graft.stages.durableRoot", root)
    try {
      def pairs = LlmQueries.pairGraph(spark, data)
        .select("doc_id1", "doc_id2").as[(Long, Long)].collect().toSet
      val before = pairs
      assert(stageDirs(root, "neardup_pairs").length == 1)
      // edit one text: the first doc becomes a copy of the last one,
      // which makes the two an exact-duplicate pair
      val docs = Tables.documents(spark, data)
      val ids = docs.select("doc_id").as[Long].collect().sorted
      val (x, y) = (ids.head, ids.last)
      assert(!before.contains((x, y)))
      val yText = docs.filter($"doc_id" === y).select("text").as[String].head()
      rewriteTable(data, "documents",
        docs.withColumn("text", when($"doc_id" === x, lit(yText)).otherwise($"text")))
      val after = pairs
      assert(stageDirs(root, "neardup_pairs").length == 2,
        "the rewritten corpus must rebuild the pair graph under a new digest")
      assert(after.contains((x, y)))
    } finally System.clearProperty("graft.stages.durableRoot")
  }

  test("q70 forget audit matches the physical purge it certifies") {
    // the audit's n_kept must equal the row count of the actual purge
    // (the complementary LEFT ANTI join) on every table in the chain
    val dir = TestSpark.Sf
    val audit = CoreQueries.q70ForgetAudit(spark, dir)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val forget = Tables.customer(spark, dir)
      .filter($"c_custkey" % 97 === 0).select($"c_custkey".as("fk"))
    val keptCust = Tables.customer(spark, dir)
      .join(forget, $"c_custkey" === $"fk", "left_anti").count()
    val orders = Tables.orders(spark, dir)
    val dropOrders = orders.join(forget, $"o_custkey" === $"fk", "left_semi")
      .select($"o_orderkey".as("dok"))
    val keptOrders = orders.join(dropOrders, $"o_orderkey" === $"dok", "left_anti").count()
    val keptLi = Tables.lineitem(spark, dir)
      .join(dropOrders, $"l_orderkey" === $"dok", "left_anti").count()
    assert(audit("customer")._4 == keptCust)
    assert(audit("orders")._4 == keptOrders)
    assert(audit("lineitem")._4 == keptLi)
    // the forget set is non-trivial in the fixture: something to purge,
    // and the cascade reaches the grandchild table
    assert(audit("customer")._3 > 0 && audit("lineitem")._3 > 0)
    audit.values.foreach { case (_, total, del, kept) =>
      assert(del + kept == total)
    }
  }

  test("flagship pipeline produces per-source aggregates") {
    val out = Pipeline.run(Tables.documents(spark, TestSpark.Sf)).collect()
    assert(out.length > 10)
    assert(out.map(_.getAs[Long]("n_docs")).sum == 500L)
  }

  test("fluent syntax façade chains operators end-to-end") {
    import graft.syntax._
    val out = Seq(
        (1L, "  The  Cat "), (2L, "the cat"), (3L, "a dog"))
      .toDF("id", "text")
      .normalizeText("text", "text_norm")
      .dedupTopPerKey(Seq("text_norm"), Seq(col("id").asc))
      .orderBy("id").select("id", "text_norm").as[(Long, String)].collect()
    assert(out.toSeq == Seq((1L, "the cat"), (3L, "a dog")))
    val dir = java.nio.file.Files.createTempDirectory("graft_syntax").toString
    Seq((1L, "x")).toDF("id", "v").publishTo(s"$dir/a", format = "parquet")
    assert(spark.read.parquet(s"$dir/a").count() == 1)
  }

  test("CoOccur.pairs bounds an adversarial giant basket (no k² explosion)") {
    val k = 64
    // one hot basket with 10_000 distinct items (the stopword-heavy
    // document shape) + two normal baskets
    val giant = (1 to 10000).map(i => (1L, f"item_$i%05d"))
    val normal = Seq((2L, "a"), (2L, "b"), (2L, "c"), (3L, "x"), (3L, "y"),
      (3L, "x")) // dup item in basket 3 must not double-count
    val pairs = CoOccur.pairs((giant ++ normal).toDF("ok", "item"), "ok", "item",
      maxItems = k).cache()
    try {
      // per-basket candidate volume is ≤ k(k-1)/2 whatever the basket size
      val perBasket = pairs.groupBy("basket").count()
        .as[(Long, Long)].collect().toMap
      assert(perBasket(1L) == k.toLong * (k - 1) / 2, s"giant: ${perBasket(1L)}")
      assert(perBasket(2L) == 3 && perBasket(3L) == 1, s"$perBasket")
      // the cap keeps the FIRST k items in sort order — deterministic
      val keptMax = pairs.filter($"basket" === 1L).agg(max("b")).as[String].head()
      assert(keptMax == f"item_${k}%05d", s"kept through $keptMax")
      assert(pairs.count() == k.toLong * (k - 1) / 2 + 4)
    } finally pairs.unpersist()
  }

  test("fluent façade exposes the round-4 similarity/filter operators") {
    import graft.syntax._
    // bloom pre-filter: keeps all matching keys, prunes the rest
    val facts = spark.range(0, 1000).toDF("k")
    val dims = spark.range(0, 50).toDF("dk")
    val kept = facts.bloomPrefilterBy(dims, "dk", "k", expectedKeys = 50)
    assert(kept.count() >= 50 && kept.count() < 1000)
    // semDedup flags + nearDup exact pairs run through the façade
    val emb = Tables.embeddings(spark, TestSpark.Sf)
      .select(col("vec_id"), graft.functions.VectorFunctions.toDouble(col("embedding")).as("v"))
    val flags = emb.semDedupFlags("vec_id", "v", tau = 0.44, seed = 1L)
    assert(flags.count() == emb.count())
    val pairs = emb.withColumn("label", lit(1))
      .nearDupPairs("vec_id", "v", tau = 0.44, dim = 64, exact = true,
        blockCols = Seq("label"))
    assert(pairs.columns.toSeq.take(2) == Seq("id1", "id2"))
  }

  test("fluent façade exposes the round-6 kernels (coOccurrence/histogramRank/cdcChunks)") {
    import graft.syntax._
    val baskets = Seq((1L, "a"), (1L, "b"), (1L, "c"), (2L, "a"), (2L, "b"))
      .toDF("ok", "item")
    val co = baskets.coOccurrencePairs("ok", "item")
      .select("a", "b").as[(String, String)].collect()
    assert(co.count(_ == ("a", "b")) == 2 && co.length == 4)
    val ranked = Seq(("g", 1L, 10L), ("g", 2L, 20L), ("g", 3L, 30L))
      .toDF("g", "v", "id")
      .histogramRank(Seq("g"), "v", Seq("id"))
      .select("id", "r", "n").as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(ranked.map(t => (t._2, t._3)).toSeq == Seq((1L, 3L), (2L, 3L), (3L, 3L)))
    val fps = Seq((1L, "hello world of chunks")).toDF("id", "text")
      .cdcChunkFingerprints("text", "fp")
      .select("fp").as[Seq[Long]].head()
    assert(fps.nonEmpty)
  }

  test("GlobalOrder matches the single-task global window on adversarial domains") {
    import org.apache.spark.sql.expressions.Window
    // negative keys, a huge gap (skewed domain → most width-buckets
    // empty), duplicate keys broken by a ties column, negative values
    val rows = Seq(
      (-50L, 1L, 7L), (-50L, 2L, -3L), (0L, 1L, 10L),
      (999999L, 1L, 1L), (1000000L, 1L, 5L), (3L, 9L, -2L), (17L, 1L, 4L))
    val df = rows.toDF("k", "t", "v").repartition(5)
    val got = GlobalOrder
      .withGlobalSeq(df, "k", Seq("t"), valueCol = Some("v"),
        seqCol = "seq", runCol = "run", buckets = 7)
      .select("k", "t", "seq", "run")
      .as[(Long, Long, Long, Long)].collect().toSet
    val w = Window.orderBy("k", "t")
    val want = df
      .withColumn("seq", row_number().over(w).cast("long"))
      .withColumn("run", sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .select("k", "t", "seq", "run")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == want, s"got $got\nwant $want")
  }

  test("withBandedGlobalSeq matches the local sort even when one band holds 90% of rows") {
    import graft.etl.GlobalOrder
    // the t36 hazard made adversarial: a bounded coarse domain where
    // one value (42) holds ~90% of the rows — the shape that
    // serializes a score-partitioned window and starves withGlobalSeq's
    // equal-width composite buckets
    val rows = (1L to 2000L).map(id =>
      (id, if (id % 10 == 0) (id % 7).toInt else 42))
    val df = rows.toDF("id", "band")
    val got = GlobalOrder
      .withBandedGlobalSeq(df, "band", "id", coarseDesc = true, seqCol = "seq")
      .select("seq", "id").as[(Long, Long)].collect().toSeq.sortBy(_._1)
    val want = rows.sortBy { case (id, b) => (-b, id) }.zipWithIndex
      .map { case ((id, _), i) => ((i + 1).toLong, id) }
    assert(got == want, s"banded seq diverged: ${got.take(5)} vs ${want.take(5)}")
    // ascending coarse order too
    val gotAsc = GlobalOrder
      .withBandedGlobalSeq(df, "band", "id", coarseDesc = false, seqCol = "seq")
      .select("seq", "id").as[(Long, Long)].collect().toSeq.sortBy(_._1)
    val wantAsc = rows.sortBy { case (id, b) => (b, id) }.zipWithIndex
      .map { case ((id, _), i) => ((i + 1).toLong, id) }
    assert(gotAsc == wantAsc)
    // the dataScaleCoarse path (bucketed coarse prefix, shuffle-joined
    // offsets) must be bit-identical in BOTH orderings — t46 only
    // exercises ascending, so the descending branch is pinned here
    val gotDscDesc = GlobalOrder
      .withBandedGlobalSeq(df, "band", "id", coarseDesc = true,
        seqCol = "seq", dataScaleCoarse = true)
      .select("seq", "id").as[(Long, Long)].collect().toSeq.sortBy(_._1)
    assert(gotDscDesc == want, "dataScaleCoarse desc diverged")
    val gotDscAsc = GlobalOrder
      .withBandedGlobalSeq(df, "band", "id", coarseDesc = false,
        seqCol = "seq", dataScaleCoarse = true)
      .select("seq", "id").as[(Long, Long)].collect().toSeq.sortBy(_._1)
    assert(gotDscAsc == wantAsc, "dataScaleCoarse asc diverged")
    // and a non-numeric coarse key fails fast with the contract named
    val e = intercept[IllegalArgumentException] {
      GlobalOrder.withBandedGlobalSeq(df.withColumn("b2", col("band").cast("string")),
        "b2", "id", dataScaleCoarse = true)
    }
    assert(e.getMessage.contains("numeric coarse"), e.getMessage)
  }

  test("withGroupSeq matches local per-group ranks even when one group holds 90% of rows") {
    import graft.etl.GlobalOrder
    // same adversarial shape as the banded test: a bounded group
    // domain with one value holding ~90% of the rows — the per-group
    // rank must split that group across bucket tasks, never serialize
    val rows = (1L to 2000L).map(id =>
      (id, if (id % 10 == 0) (id % 7).toInt else 42))
    val df = rows.toDF("id", "grp")
    val got = GlobalOrder.withGroupSeq(df, "grp", "id", seqCol = "r")
      .select("grp", "id", "r").as[(Int, Long, Long)].collect().toSet
    val want = rows.groupBy(_._2).flatMap { case (g, rs) =>
      rs.map(_._1).sorted.zipWithIndex.map { case (id, i) =>
        (g, id, (i + 1).toLong) }
    }.toSet
    assert(got == want, s"group ranks diverged")
  }

  test("withGroupCumBefore matches the per-group window on adversarial domains") {
    import org.apache.spark.sql.expressions.Window
    import graft.etl.GlobalOrder
    // histogram shape: (grp, value) unique within grp; negative values,
    // a huge domain gap (most width-buckets empty), one group holding
    // ~90% of the histogram rows, zero counts allowed
    val rows = (1L to 1500L).map { i =>
      val grp = if (i % 10 == 0) (i % 3).toString else "hot"
      val v = if (i % 17 == 0) i * 1000000L - 700L else i - 50L
      (grp, v, (i % 5)) // weights 0..4 — zeros exercise coalesce
    }
    val df = rows.toDF("grp", "v", "cnt").repartition(7)
    val got = GlobalOrder
      .withGroupCumBefore(df, "grp", "v", "cnt", cumCol = "cum", buckets = 11)
      .select("grp", "v", "cum").as[(String, Long, Long)].collect().toSet
    val w = Window.partitionBy("grp").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = df
      .withColumn("cum", coalesce(sum("cnt").over(w), lit(0L)))
      .select("grp", "v", "cum").as[(String, Long, Long)].collect().toSet
    assert(got == want, "banded per-group exclusive prefix sums diverged")
  }

  test("q89 ABC classes tier cleanly: ranks contiguous, shares monotone, boundaries greedy") {
    val rows = AnalyticsQueries.q89Pareto(spark, TestSpark.Sf)
      .select("custkey", "cents", "rnk", "cum", "share_ppm", "abc_class")
      .as[(Long, Long, Long, Long, Long, String)].collect().sortBy(_._3)
    assert(rows.nonEmpty)
    assert(rows.map(_._3).toSeq == (1L to rows.length), "ranks not contiguous")
    // revenue conservation + monotone shares ending at ~100%
    assert(rows.map(_._2).sum == rows.last._4, "cum drifted from sum")
    assert(rows.map(_._5).toSeq == rows.map(_._5).toSeq.sorted, "shares not monotone")
    assert(rows.last._5 == 1000000L || rows.last._5 == 999999L)
    // classes partition the rank order A* B* C* with all three present
    val classes = rows.map(_._6).toSeq
    assert(classes.mkString.matches("A+B+C+"),
      s"classes not a clean A..B..C tiering: ${classes.distinct}")
    // greedy boundary: the last A STARTS before the 80% line, the
    // first B does not
    val total = rows.map(_._2).sum
    val lastA = rows.takeWhile(_._6 == "A").last
    val firstB = rows.dropWhile(_._6 == "A").head
    assert((lastA._4 - lastA._2) * 100 < total * 80)
    assert((firstB._4 - firstB._2) * 100 >= total * 80)
  }

  test("q90 association rules: directed pairs consistent, confidence bounded, lift symmetric") {
    val rules = AnalyticsQueries.q90AssocRules(spark, TestSpark.Sf)
      .select("antecedent", "consequent", "n_a", "n_b", "n_ab",
        "confidence_ppm", "lift_milli")
      .as[(String, String, Long, Long, Long, Long, Long)].collect()
    assert(rules.nonEmpty)
    val byPair = rules.map(r => ((r._1, r._2), r)).toMap
    rules.foreach { r =>
      assert(r._5 <= r._3 && r._5 <= r._4, "pair support exceeds unary support")
      assert(r._6 <= 1000000L && r._6 > 0L, s"confidence ${r._6} out of band")
      val mirror = byPair((r._2, r._1))
      assert(mirror._7 == r._7, "lift not symmetric across directions")
      assert(mirror._5 == r._5 && mirror._3 == r._4 && mirror._4 == r._3)
    }
    assert(rules.length % 2 == 0, "directed rules must pair up")
  }

  test("q91 RFM: quintiles balanced, scores consistent, segments follow the rule table") {
    val rows = AnalyticsQueries.q91Rfm(spark, TestSpark.Sf)
      .select("custkey", "recency_days", "freq", "cents",
        "r_score", "f_score", "m_score", "rfm_code", "segment")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, String)]
      .collect()
    assert(rows.nonEmpty)
    val n = rows.length
    rows.foreach { r =>
      assert(r._5 >= 1 && r._5 <= 5 && r._6 >= 1 && r._6 <= 5 &&
        r._7 >= 1 && r._7 <= 5, s"score out of band: $r")
      assert(r._8 == r._5 * 100 + r._6 * 10 + r._7, "rfm_code inconsistent")
      assert(r._2 >= 0, "negative recency")
      val want =
        if (r._5 >= 4 && r._6 >= 4 && r._7 >= 4) "champion"
        else if (r._5 >= 4 && r._6 >= 3) "loyal"
        else if (r._5 >= 4) "recent"
        else if (r._5 >= 2 && r._6 >= 3) "at_risk"
        else if (r._5 >= 2) "cooling"
        else "lost"
      assert(r._9 == want, s"segment rule diverged: $r")
    }
    // the NTILE identity partitions each axis into fifths of size
    // ⌈n/5⌉ or ⌊n/5⌋
    for (axis <- Seq(rows.map(_._5), rows.map(_._6), rows.map(_._7))) {
      val sizes = axis.groupBy(identity).view.mapValues(_.length)
      assert(sizes.keys.toSet.subsetOf(Set(1L, 2L, 3L, 4L, 5L)))
      sizes.values.foreach(s =>
        assert(math.abs(s - n / 5.0) <= 1.0, s"quintile skew: $sizes"))
    }
    // the most recent customer anchors recency at 0 days
    assert(rows.map(_._2).min == 0L, "no customer at the corpus max date")
    // monetary rank 5 holds the corpus max spender
    val maxCents = rows.map(_._4).max
    assert(rows.filter(_._7 == 5L).exists(_._4 == maxCents))
  }

  test("q92 session paths: trigram totals reconcile with q20's session sizes") {
    val paths = AnalyticsQueries.q92SessionPaths(spark, TestSpark.Sf)
      .select("path", "step1", "step2", "step3", "n")
      .as[(String, String, String, String, Long)].collect()
    assert(paths.nonEmpty)
    paths.foreach { p =>
      assert(p._1 == s"${p._2}>${p._3}>${p._4}", "path label diverged")
      assert(p._5 >= 1)
    }
    assert(paths.map(_._1).distinct.length == paths.length)
    // cross-operator identity: a session of k events holds max(k-2, 0)
    // within-session trigrams, so Σ n must equal that census over the
    // SAME session definition (q20)
    val wantTotal = AnalyticsQueries.q20Sessionize(spark, TestSpark.Sf)
      .select("n_events").as[Long].collect()
      .map(k => math.max(k - 2, 0L)).sum
    assert(paths.map(_._5).sum == wantTotal,
      s"trigram mass ${paths.map(_._5).sum} != session census $wantTotal")
  }

  test("q93 Benford: digits complete, masses conserve, TV halves the deviation sum") {
    val rows = AnalyticsQueries.q93Benford(spark, TestSpark.Sf)
      .select("digit", "cnt", "n_total", "obs_ppm", "exp_ppm", "dev_ppm",
        "tv_ppm")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == (1L to 9L), "digit spine incomplete")
    val nTotal = rows.head._3
    assert(rows.forall(_._3 == nTotal))
    assert(rows.map(_._2).sum == nTotal, "counts don't sum to total")
    // floor-division ppm masses can only undershoot, by < 9 ppm total
    val ppmSum = rows.map(_._4).sum
    assert(ppmSum <= 1000000L && ppmSum > 1000000L - 9, s"ppm mass $ppmSum")
    assert(rows.forall(r => r._6 == math.abs(r._4 - r._5)))
    val tv = rows.head._7
    assert(rows.forall(_._7 == tv))
    assert(tv == rows.map(_._6).sum / 2, "tv != half the deviation sum")
    // Benford's expected masses are themselves a distribution
    assert(rows.map(_._5).sum == 1000000L)
  }

  test("q99 CUSUM: closed form equals the textbook recursion, alarms fire on the corpus") {
    val rows = AnalyticsQueries.q99Cusum(spark, TestSpark.Sf)
      .select(col("event_type"), col("day").cast("string"), col("cents"),
        col("target"), col("dev"), col("s_pos"), col("s_neg"), col("alarm"))
      .as[(String, String, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (et, trs) =>
      val seq = trs.sortBy(_._2)
      // target = integer mean of daily cents (truncating div)
      val target = seq.map(_._3).sum / seq.size
      assert(seq.forall(_._4 == target), s"$et target")
      // literal Page recursion, both sides
      var sp = 0L
      var sn = 0L
      seq.foreach { case (_, day, cents, t, dev, gotP, gotN, alarm) =>
        assert(dev == cents - t)
        sp = math.max(0L, sp + dev)
        sn = math.max(0L, sn - dev)
        assert(gotP == sp, s"$et $day s_pos: closed form $gotP != recursion $sp")
        assert(gotN == sn, s"$et $day s_neg: closed form $gotN != recursion $sn")
        assert(alarm == (if (sp > t || sn > t) 1L else 0L))
      }
    }
    // the corpus must exercise the alarm path (census-evidence lesson)
    assert(rows.map(_._8).sum > 0, "no alarm rows — detector unexercised")
    assert(rows.exists(_._6 > 0) && rows.exists(_._7 > 0),
      "one-sided corpus: both CUSUM sides should accumulate")
  }

  test("t41 Zipf octaves tile the rank spine and conserve token mass") {
    val rows = TrainingDataQueries.t41ZipfAudit(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    rows.foreach { case (oct, lo, hi, nTypes, _, _, rfHead) =>
      assert(lo == (1L << oct), s"octave $oct head rank $lo")
      assert(hi < (1L << (oct + 1)), s"octave $oct tail rank $hi")
      assert(nTypes == hi - lo + 1, "octave rank range must be gap-free")
      assert(rfHead > 0, "head rank x freq probe missing")
    }
    // contiguous spine: each octave ends where the next begins
    rows.sliding(2).foreach {
      case Seq(a, b) => assert(a._3 + 1 == b._2, "octave spine has a gap")
      case _ => ()
    }
    // mass conserves to the corpus token census
    val total = LlmQueries.normedDocs(spark, TestSpark.Sf)
      .select(explode(split(col("text_norm"), " ")).as("t"))
      .filter(length(col("t")) > 0).count()
    assert(rows.map(_._5).sum == total, "octave masses don't sum to corpus")
  }

  test("q100 hazard table: at-risk counts telescope and conserve the gap census") {
    val rows = AnalyticsQueries.q100Hazard(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(rows.nonEmpty)
    // at-risk telescopes: risk(w) = events(w) + risk(next observed w)
    rows.sliding(2).foreach {
      case Seq((_, ev, risk, _), (_, _, riskNext, _)) =>
        assert(risk == ev + riskNext, "at-risk must telescope")
      case _ => ()
    }
    val last = rows.last
    assert(last._2 == last._3, "final bucket: everyone at risk repurchases")
    // first bucket's at-risk count IS the total gap census
    assert(rows.head._3 == rows.map(_._2).sum, "risk(0) != total gaps")
    rows.foreach { case (_, ev, risk, hz) =>
      assert(hz == BigInt(ev) * 1000000 / risk, "hazard ppm arithmetic")
      assert(hz <= 1000000L)
    }
  }

  test("q102 Gini: planted distributions hit the closed-form poles, corpus values sane") {
    import org.apache.spark.sql.expressions.Window
    // planted: a perfectly uniform group -> 0; a one-hot group -> (n-1)/n
    val planted = Seq.tabulate(10)(i => ("UNI", i.toLong, 500L)) ++
      (("HOT", 100L, 1000L) +: Seq.tabulate(9)(i => ("HOT", i.toLong, 0L)))
    val df = planted.toDF("segment", "o_custkey", "cents")
    val wRank = Window.partitionBy("segment")
      .orderBy(col("cents").asc, col("o_custkey").asc)
    val got = df
      .withColumn("i", row_number().over(wRank)
        .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
      .groupBy("segment")
      .agg(count(lit(1)).cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("n"),
        sum(col("cents").cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("sx"),
        sum(col("i") * col("cents")).as("six"))
      .select(col("segment"),
        expr("((2 * six - (n + 1) * sx) * 1000000) div (n * sx)").as("g"))
      .as[(String, Long)].collect().toMap
    assert(got("UNI") == 0L, "uniform distribution must score 0")
    assert(got("HOT") == 900000L, "one-hot must score (n-1)/n = 0.9")
    // corpus: every segment lands strictly inside (0, 1) ppm bounds
    val corpus = AnalyticsQueries.q102Gini(spark, TestSpark.Sf)
      .as[(String, Long, Long)].collect().toSeq
    assert(corpus.nonEmpty)
    corpus.foreach { case (s, n, g) =>
      assert(n > 0 && g >= 0 && g < 1000000L, s"segment $s gini $g")
    }
  }

  test("q103 skyline: frontier equals the quadratic dominance definition") {
    // the window closed form must agree with the textbook O(n²) test
    val rows = AnalyticsQueries.q103Skyline(spark, TestSpark.Sf)
      .as[(String, Long, Long)].collect().toSet
    val pts = Tables.part(spark, TestSpark.Sf)
      .select(col("p_brand"),
        Exact.e(col("p_retailprice"), 2).cast("long"),
        col("p_size").cast("long"))
      .as[(String, Long, Long)].collect().toSeq
    assert(pts.nonEmpty && rows.nonEmpty)
    val byBrand = pts.groupBy(_._1)
    val want = byBrand.flatMap { case (b, ps) =>
      // collapse price ties to min size (the histogram rule), then the
      // quadratic dominance test over the collapsed points
      val h = ps.groupBy(_._2).map { case (pr, g) => (pr, g.map(_._3).min) }.toSeq
      h.filter { case (pr, sz) =>
        !h.exists { case (pr2, sz2) =>
          (pr2 <= pr && sz2 <= sz) && (pr2 < pr || sz2 < sz) }
      }.map { case (pr, sz) => (b, pr, sz) }
    }.toSet
    assert(rows == want, s"frontier mismatch: got ${rows.size}, want ${want.size}")
    // frontier is strictly decreasing in size along increasing price
    rows.groupBy(_._1).foreach { case (b, f) =>
      val seq = f.toSeq.sortBy(_._2)
      seq.sliding(2).foreach {
        case Seq(a, c) => assert(a._3 > c._3, s"$b frontier not strict")
        case _ => ()
      }
    }
  }

  test("q104 chi-square: margins exact, identity matches a local recompute") {
    val rows = AnalyticsQueries.q104ChiSquare(spark, TestSpark.Sf)
      .as[(String, String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    val chi2 = rows.head._6
    val dof = rows.head._7
    assert(rows.forall(r => r._6 == chi2 && r._7 == dof),
      "chi2/dof must be carried identically on every row")
    val nSeg = rows.map(_._1).distinct.size
    val nNat = rows.map(_._2).distinct.size
    assert(dof == (nSeg - 1).toLong * (nNat - 1))
    // local recompute of the margin identity chi2 = sum O²N/(RC) − N
    val o = rows.map(r => ((r._1, r._2), BigInt(r._3))).toMap
    val n = o.values.sum
    val rSum = o.groupBy(_._1._1).map { case (s, m) => s -> m.values.sum }
    val cSum = o.groupBy(_._1._2).map { case (t, m) => t -> m.values.sum }
    val want = o.map { case ((s, t), ob) =>
      ob * ob * n * 1000000 / (rSum(s) * cSum(t))
    }.sum - n * 1000000
    assert(BigInt(chi2) == want, s"chi2_e6 $chi2 != local $want")
    // expected counts: per-cell E in milli from the same margins
    rows.foreach { case (s, t, ob, eMilli, devMilli, _, _) =>
      val e = rSum(s) * cSum(t) * 1000 / n
      assert(BigInt(eMilli) == e, s"cell ($s,$t) expected")
      assert(BigInt(devMilli) == BigInt(ob) * 1000 - e)
    }
  }

  test("t43 frequency spectrum: censuses conserve, spectrum well-formed") {
    val rows = TrainingDataQueries.t43FreqSpectrum(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    // the synthetic vocabulary has no hapaxes at this sf (every token
    // repeats) — N1 = 0 IS the corpus truth; the spectrum must still
    // be a strictly-increasing frequency spine with positive censuses
    assert(rows.map(_._1) == rows.map(_._1).sorted &&
      rows.map(_._1).distinct.size == rows.size)
    assert(rows.forall(r => r._1 > 0 && r._2 > 0))
    rows.foreach { case (f, nt, mass, _, _) =>
      assert(mass == f * nt, "mass must be freq x types")
    }
    // conservation vs the independent corpus censuses
    val counts = LlmQueries.normedDocs(spark, TestSpark.Sf)
      .select(explode(split(col("text_norm"), " ")).as("t"))
      .filter(length(col("t")) > 0)
    assert(rows.map(_._3).sum == counts.count(), "mass != token census")
    assert(rows.map(_._2).sum == counts.distinct().count(), "types != vocab")
  }

  test("q105 variant: plan takes the VariantGet path, damage nulls out, parity with q27") {
    // plan provenance: the extraction really is the binary-VARIANT path
    val plan = AnalyticsQueries.q105VariantShred(spark, TestSpark.Sf)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("variant_get") || plan.contains("VariantGet"),
      s"expected the VARIANT extraction path:\n${plan.take(800)}")
    // typed extraction agrees with the q27 string-path rule per event
    val viaVariant = Tables.events(spark, TestSpark.Sf)
      .withColumn("k", expr("variant_get(parse_json(props), '$.k', 'long')"))
      .select("event_id", "k").as[(Long, Option[Long])].collect().toMap
    val viaString = Tables.events(spark, TestSpark.Sf)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long"))
      .as[(Long, Option[Long])].collect().toMap
    assert(viaVariant == viaString, "variant and string JSON paths diverged")
    // planted damage: try_parse_json nulls, parse_json on valid rows
    // unaffected — ingest never fails the job on one bad payload
    val planted = Seq((1L, """{"k": 5}"""), (2L, """{"k": """ /* truncated */))
      .toDF("id", "props")
      .withColumn("k",
        expr("variant_get(try_parse_json(props), '$.k', 'long')"))
      .select("id", "k").as[(Long, Option[Long])].collect().toMap
    assert(planted(1L) == Some(5L) && planted(2L).isEmpty)
  }

  test("q110 Wilson: bound below raw rate, local recompute exact, small-n demotion holds") {
    val rows = AnalyticsQueries.q110WilsonRank(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    def wilsonPpm(n: BigInt, s: BigInt): Long = {
      val rt = BigInt(math.sqrt((n * (s * (n - s) + n)).toDouble).toLong)
      // floor adjust: toDouble rounding can land one off for huge args
      val x = n * (s * (n - s) + n)
      var r = rt
      while ((r + 1) * (r + 1) <= x) r += 1
      while (r * r > x) r -= 1
      if ((s + 2) * n >= 2 * r)
        (((s + 2) * n - 2 * r) * 1000000 / (n * (n + 4))).toLong
      else 0L
    }
    rows.foreach { case (b, n, s, raw, lb) =>
      assert(raw == BigInt(s) * 1000000 / n)
      assert(lb <= raw, s"$b: bound must not exceed the raw rate")
      // NOTE: local floor-isqrt vs the engines' FLOOR(SQRT(double)) can
      // differ by 1 ulp only past 2^52 — not reachable at test scale
      assert(lb == wilsonPpm(n, s), s"$b: local recompute diverged")
    }
    // the operator's reason to exist: 2/2 must rank BELOW 180/200
    assert(wilsonPpm(2, 2) < wilsonPpm(200, 180),
      "small-sample perfect rate must lose to well-evidenced 90%")
    // more evidence at the same rate tightens the bound upward
    assert(wilsonPpm(10, 5) < wilsonPpm(1000, 500))
  }

  test("q94 CM join-size estimate never undercounts and matches the exact census") {
    val Array((est, exact, over)) =
      ScaleQueries.q94JoinSizeCms(spark, TestSpark.Sf)
        .as[(Long, Long, Long)].collect()
    // exact join size recomputed locally from frequency maps
    val fa = Tables.events(spark, TestSpark.Sf).select("user_id")
      .as[Long].collect().groupBy(identity).view.mapValues(_.length.toLong)
    val fb = Tables.orders(spark, TestSpark.Sf).select("o_custkey")
      .as[Long].collect().groupBy(identity).view.mapValues(_.length.toLong)
    val want = fa.map { case (k, na) => na * fb.getOrElse(k, 0L) }.sum
    assert(exact == want, s"exact $exact != local census $want")
    assert(est >= exact, "CM inner product undercounted the join size")
    assert(over == est - exact)
    // collision residue stays inside the expected-overcount bound with
    // slack: E[over per row] ≈ N_A·N_B/w; allow 3× before calling the
    // hash broken
    val na = fa.values.sum; val nb = fb.values.sum
    assert(over <= 3L * na * nb / 512L,
      s"overcount $over implausibly large for w=512")
  }

  test("q95 MAD: median/MAD equal a local order-statistics recompute, fence counts exact") {
    val rows = AnalyticsQueries.q95MadOutliers(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1)
    val vals = Tables.orders(spark, TestSpark.Sf)
      .selectExpr("o_orderpriority", "CAST(o_totalprice * 100 + 0.5 AS BIGINT)")
      .as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toVector).toMap
    // quantile_cont at p=0.5 over an exact long vector, ×10
    def medMilli(v: Vector[Long]): Long = {
      val h2 = v.size - 1 // h = (n-1)/2; milli result is exact at ×10
      val (lo, hi) = (v(h2 / 2), v(h2 / 2 + h2 % 2))
      lo * 10 + (h2 % 2) * (hi - lo) * 10 / 2
    }
    assert(rows.map(_._1).toSeq == vals.keySet.toSeq.sorted)
    rows.foreach { case (prio, n, p50, mad, nOut) =>
      val v = vals(prio)
      assert(n == v.size.toLong, s"$prio n")
      assert(p50 == medMilli(v), s"$prio median")
      val devs = v.map(x => math.abs(x * 10 - p50)).sorted
      assert(mad == medMilli(devs), s"$prio mad") // devs already milli: ×10 shift
      val wantOut = devs.count(_ * 10 > 5 * mad).toLong
      assert(nOut == wantOut, s"$prio fence count")
      // the fence is meaningful on this corpus: MAD positive, outliers
      // a strict minority
      assert(mad > 0 && nOut < n / 2, s"$prio degenerate")
    }
  }

  test("s20 centroid drift: pair matrix matches a local int8-centroid recompute") {
    val got = LlmQueries.s20CentroidDrift(spark, TestSpark.Sf)
      .as[(String, String, Long, Long, Long, Long, Long)].collect()
      .sortBy(r => (r._1, r._2))
    val emb = Tables.embeddings(spark, TestSpark.Sf)
      .select("label", "embedding").as[(String, Array[Float])].collect()
    // s04's exact quantization rule, then milli-mean centroids
    def quant(v: Array[Float]): Array[Long] = {
      val amax = if (v.isEmpty) 0.0 else v.map(x => math.abs(x.toDouble)).max
      if (amax <= 0) Array.fill(v.length)(0L)
      else v.map(x => math.floor(x.toDouble * 127.0 / amax + 0.5).toLong)
    }
    val byLabel = emb.groupBy(_._1).view.mapValues(_.map(v => quant(v._2)))
    val cents = byLabel.mapValues { qs =>
      val n = qs.size.toLong
      val dims = qs.head.length
      (n, Array.tabulate(dims) { d =>
        val s = qs.map(_(d)).sum
        ((s + 127 * n) * 1000) / n - 127000 // nonneg division: / == div
      })
    }.toMap
    val labels = cents.keySet.toSeq.sorted
    val wantPairs = for {
      a <- labels; b <- labels if a < b
    } yield {
      val (na, ca) = cents(a); val (nb, cb) = cents(b)
      val dot = ca.zip(cb).map { case (x, y) => x * y }.sum
      val n2a = ca.map(x => x * x).sum; val n2b = cb.map(x => x * x).sum
      val cos2 = (BigInt(dot) * dot * 1000000 / (BigInt(n2a) * n2b)).toLong
      (a, b, na, nb, dot, cos2, dot.sign.toLong)
    }
    assert(got.toSeq == wantPairs, "pair matrix != local recompute")
    // evidence the metric discriminates: all pairs in [0, 1e6], and on
    // label-clustered synthetic embeddings not every pair is identical
    assert(got.forall(r => r._6 >= 0 && r._6 <= 1000000L))
    assert(got.map(_._6).distinct.length > 1, "cos² constant across pairs")
  }

  test("q96 k-anonymity: groups, l-diversity and risk totals match a local recompute") {
    val got = AnalyticsQueries.q96KanonAudit(spark, TestSpark.Sf)
      .as[(String, String, Long, Long, Long, Long)].collect()
      .sortBy(r => (r._1, r._2))
    val cust = Tables.customer(spark, TestSpark.Sf)
      .select(col("c_mktsegment"), col("c_nationkey"),
        Exact.e(col("c_acctbal"), 2).cast("long"))
      .as[(String, Long, Long)].collect()
    val nations = Tables.nation(spark, TestSpark.Sf)
      .selectExpr("n_nationkey", "n_name").as[(Long, String)].collect().toMap
    val want = cust.groupBy(c => (c._1, nations(c._2))).map { case ((seg, nat), rows) =>
      (seg, nat, rows.length.toLong, rows.map(_._3).distinct.length.toLong,
        if (rows.length < 10) 1L else 0L)
    }.toSeq.sortBy(r => (r._1, r._2))
    val riskTotal = want.filter(_._5 == 1L).map(_._3).sum
    assert(got.map(r => (r._1, r._2, r._3, r._4, r._5)).toSeq == want)
    assert(got.forall(_._6 == riskTotal), "rows_at_risk_total inconsistent")
    // the QI frame is configuration-bounded: |segments| x |nations|
    assert(got.length <= 5 * 25)
  }

  test("q97 FK audit: census columns carry corpus evidence; planted orphans are counted") {
    val rows = AnalyticsQueries.q97FkOrphans(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.length == 4)
    // TPC-H referential integrity holds by construction — the zeros
    // are the RIGHT answer, and the census columns are the evidence
    assert(rows.forall(r => r._2 > 0 && r._3 > 0), "census empty")
    assert(rows.forall(r => r._4 == 0L && r._5 == 0L), "TPC-H has no orphans")
    // nonzero path via the kernel on a planted fixture: 3 of 5 child
    // rows reference a missing parent
    val child = Seq(1L, 1L, 2L, 7L, 9L).toDF("k")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val Array((rel, n, nk, orph, ppm)) =
      AnalyticsQueries.fkOrphansOf("fixture", child, "k", parent, "pk")
        .as[(String, Long, Long, Long, Long)].collect()
    assert((rel, n, nk, orph) == ("fixture", 5L, 4L, 2L))
    assert(ppm == 2L * 1000000L / 5L)
  }

  test("d40 cluster sizes: histogram conserves the corpus and matches the cluster table") {
    val rows = LlmQueries.d40ClusterSizes(spark, TestSpark.Sf)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // every row internally consistent: n_docs = size * n_clusters
    rows.foreach { case (size, nc, nd) =>
      assert(nd == size * nc, s"size $size: $nd != $size*$nc")
    }
    // mass conservation: all docs accounted for exactly once
    val corpus = Tables.documents(spark, TestSpark.Sf).count()
    assert(rows.map(_._3).sum == corpus, "histogram loses/duplicates docs")
    // clustered mass agrees with the staged cluster table directly
    val clustered = LlmQueries.pairGraph(spark, TestSpark.Sf) // warm stage
    val fromTable = LlmQueries.d06DedupClusters(spark, TestSpark.Sf).count()
    assert(rows.filter(_._1 >= 2).map(_._3).sum == fromTable)
    // real clusters exist on this corpus (not an evidence-free report)
    assert(rows.exists(r => r._1 >= 2 && r._2 > 0))
  }

  test("SavingsLedger: per-label idempotent append, trend deltas vs previous run") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ledger").toString
    def frame(saved: Long) = Seq(
      ("1_exact", 10L, 8L, 100L, 80L, saved),
      ("2_neardup_cluster", 8L, 6L, 80L, 60L, saved + 5L))
      .toDF("stage", "n_docs_in", "n_docs_out", "tokens_in", "tokens_out",
        "saved_tokens")
    SavingsLedger.append(frame(20L), dir, "2026-08-01")
    SavingsLedger.append(frame(26L), dir, "2026-08-02")
    val t = SavingsLedger.trend(spark, dir, Seq("stage"))
      .select("run_label", "stage", "saved_tokens", "delta_saved_tokens")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long])))
    assert(t.toSeq == Seq(
      ("2026-08-01", "1_exact", 20L, None),
      ("2026-08-01", "2_neardup_cluster", 25L, None),
      ("2026-08-02", "1_exact", 26L, Some(6L)),
      ("2026-08-02", "2_neardup_cluster", 31L, Some(6L))))
    // re-running a night replaces exactly that night's rows: same row
    // count, updated values, other nights untouched
    SavingsLedger.append(frame(30L), dir, "2026-08-02")
    val after = SavingsLedger.read(spark, dir)
    assert(after.count() == 4L)
    assert(after.filter($"run_label" === "2026-08-02" && $"stage" === "1_exact")
      .select("saved_tokens").as[Long].head() == 30L)
    assert(after.filter($"run_label" === "2026-08-01" && $"stage" === "1_exact")
      .select("saved_tokens").as[Long].head() == 20L)
    // a frame already carrying run_label is a caller bug, not a silent
    // double-label
    intercept[IllegalArgumentException] {
      SavingsLedger.append(
        frame(1L).withColumn("run_label", lit("x")), dir, "2026-08-03")
    }
  }

  test("GlobalOrder without a value column assigns a contiguous 1..n sequence") {
    val df = (1L to 100L).map(i => (i * 31 % 97, i)).toDF("k", "t")
    val seqs = GlobalOrder.withGlobalSeq(df, "k", Seq("t"))
      .select("seq").as[Long].collect().sorted.toSeq
    assert(seqs == (1L to 100L))
  }
}
