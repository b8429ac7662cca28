package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TrainingDataSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("t08 hash split is deterministic, in-range, and roughly 80/10/10") {
    val r1 = TrainingDataQueries.t08HashSplit(spark, TestSpark.Sf)
      .as[(Long, Long, String)].collect()
    val r2 = TrainingDataQueries.t08HashSplit(spark, TestSpark.Sf)
      .as[(Long, Long, String)].collect()
    assert(r1.toSeq == r2.toSeq) // content-hash split: rerun can't reshuffle docs
    assert(r1.forall { case (_, b, _) => b >= 0 && b < 10 })
    val bySplit = r1.groupBy(_._3).view.mapValues(_.length).toMap
    val n = r1.length.toDouble
    // md5 is uniform: train ~80%, valid/test ~10% each (±10 pts at n=500)
    assert(bySplit("train") / n > 0.70 && bySplit("train") / n < 0.90, bySplit)
    assert(bySplit("valid") > 0 && bySplit("test") > 0, bySplit)
  }

  test("t08 split is a pure projection (no exchange before the sort)") {
    val plan = TrainingDataQueries.t08HashSplit(spark, TestSpark.Sf)
      .queryExecution.executedPlan.toString
    // only the final presentation orderBy may shuffle; no join/agg exchange
    assert(!plan.contains("HashAggregate") && !plan.contains("Join"), plan.take(800))
  }

  test("d08 chunks tile each document with len-32 stride-24 windows") {
    val docs = Tables.documents(spark, TestSpark.Sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    val chunks = TrainingDataQueries.d08Chunk(spark, TestSpark.Sf)
      .select(col("doc_id"), col("chunk_id"), col("n_tok"))
      .as[(Long, Long, Long)].collect()
    val byDoc = chunks.groupBy(_._1)
    assert(byDoc.keySet == docs.keySet)
    for ((id, cs) <- byDoc) {
      val n = docs(id)
      val expect = 1L + math.max(0L, math.ceil((n - 32).toDouble / 24).toLong)
      assert(cs.length == expect, s"doc $id: ${cs.length} chunks for $n tokens")
      val sorted = cs.sortBy(_._2)
      // all but the last chunk are full; the last covers the tail exactly
      sorted.init.foreach { case (_, _, t) => assert(t == 32) }
      val (_, lastId, lastTok) = sorted.last
      assert(lastTok == n - lastId * 24, s"doc $id: tail $lastTok of $n tokens")
    }
  }

  test("d08 chunk text round-trips: concatenating stride prefixes rebuilds the doc") {
    val doc = Tables.documents(spark, TestSpark.Sf)
      .filter(col("doc_id") === 1).select("text").as[String].head()
    val chunks = TrainingDataQueries.d08Chunk(spark, TestSpark.Sf)
      .filter(col("doc_id") === 1).orderBy("chunk_id")
      .select("chunk").as[String].collect()
    val toks = doc.split(" ", -1)
    // stride-prefix of every chunk + full tail of the last = original
    val rebuilt = chunks.init.map(_.split(" ", -1).take(24)).flatten ++
      chunks.last.split(" ", -1)
    assert(rebuilt.toSeq == toks.toSeq)
  }

  test("t09 keeps at most 3 salient terms per doc, rank-contiguous") {
    val r = TrainingDataQueries.t09SalientTerms(spark, TestSpark.Sf)
      .select(col("doc_id"), col("rnk"), col("tf"))
      .as[(Long, Long, Long)].collect()
    val byDoc = r.groupBy(_._1)
    assert(byDoc.values.forall(_.length <= 3))
    byDoc.values.foreach { rows =>
      val rnks = rows.map(_._2).sorted.toSeq
      assert(rnks == (1L to rnks.length).toSeq)
      // tf is non-increasing along the ranking
      val byRnk = rows.sortBy(_._2).map(_._3).toSeq
      assert(byRnk.zip(byRnk.tail).forall { case (a, b) => a >= b })
    }
  }

  test("t09 plan pushes the per-doc top-k below the shuffle (WindowGroupLimit)") {
    val plan = TrainingDataQueries.t09SalientTerms(spark, TestSpark.Sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(800))
  }

  test("d09 contamination pairs cross the split and share real 5-grams") {
    val split = TrainingDataQueries.t08HashSplit(spark, TestSpark.Sf)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val pairs = TrainingDataQueries.d09Contamination(spark, TestSpark.Sf)
      .as[(Long, Long, Long)].collect()
    assert(pairs.nonEmpty) // the synthetic corpus embeds near-duplicates
    pairs.foreach { case (te, tr, n) =>
      assert(split(te) == "test" && split(tr) == "train", s"($te,$tr)")
      assert(n >= 1)
    }
  }

  test("d09 joins on gram fingerprints, never doc x doc") {
    val plan = TrainingDataQueries.d09Contamination(spark, TestSpark.Sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(800))
  }

  test("d10 bins are contiguous per (source, sub) stream and overshoot by at most one chunk") {
    val rows = TrainingDataQueries.d10Pack(spark, TestSpark.Sf)
      .select(concat_ws("/", col("source"), col("sub")).as("stream"),
        col("doc_id"), col("chunk_id"), col("n_tok"), col("bin_id"))
      .as[(String, Long, Long, Long, Long)].collect()
    for ((_, rs) <- rows.groupBy(_._1)) {
      val ordered = rs.sortBy(r => (r._2, r._3))
      // bin ids start at 0 and never decrease or skip along pack order
      val bins = ordered.map(_._5)
      assert(bins.head == 0L)
      bins.zip(bins.tail).foreach { case (a, b) => assert(b == a || b == a + 1, s"$a -> $b") }
      // offset binning: chunk starts advance by <= 32 tokens, so every
      // non-final bin's fill sits in [512-31, 512+31]
      val perBin = ordered.groupBy(_._5).view.mapValues(_.map(_._4).sum).toMap
      perBin.toSeq.sortBy(_._1).dropRight(1).foreach { case (b, t) =>
        assert(t >= 512 - 31, s"bin $b: $t tokens")
      }
      perBin.values.foreach(t => assert(t < 512 + 32))
    }
  }

  test("t14 LM score matches a local reference computation") {
    val docs = Tables.documents(spark, TestSpark.Sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    def bigramsOf(t: String): Seq[(String, String)] = {
      val w = t.split(" ", -1)
      if (w.length >= 2) w.sliding(2).map(a => (a(0), a(1))).toSeq else Seq.empty
    }
    val cb = docs.flatMap(d => bigramsOf(d._2))
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val cp = cb.groupBy(_._1._1).map { case (p, m) => p -> m.values.sum }
    val expected = docs.map { case (id, t) =>
      val bs = bigramsOf(t)
      (id, bs.size.toLong, bs.map(b => 1000000L * cb(b) / cp(b._1)).sum)
    }.sortBy(_._1).toSeq
    val got = TrainingDataQueries.t14LmScore(spark, TestSpark.Sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == expected)
  }

  test("d12 mixture: per-doc epoch counts realize the source weights, deterministically") {
    val rows = TrainingDataQueries.d12Mixture(spark, TestSpark.Sf)
      .groupBy("source", "doc_id").agg(count(lit(1)).as("n"), max("w10").as("w10"))
      .as[(String, Long, Long, Long)].collect()
    for ((src, _, n, w10) <- rows) {
      val full = w10 / 10
      // every doc gets floor(w) epochs, plus at most one fractional epoch
      assert(n == full || n == full + 1, s"$src: $n epochs at weight $w10")
    }
    // fractional gate hits ~(w10 mod 10)/10 of each source's TOTAL doc
    // population (0-epoch docs are absent from the output, so the rate
    // must be measured against the documents table, not emitted rows) —
    // and is deterministic (hash of id, not random)
    val srcTotals = Tables.documents(spark, TestSpark.Sf)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    val bySrc = rows.groupBy(_._1)
    for ((src, rs) <- bySrc if rs.head._4 % 10 != 0) {
      val frac = rs.count(r => r._3 == r._4 / 10 + 1).toDouble / srcTotals(src)
      val want = (rs.head._4 % 10).toDouble / 10
      assert(math.abs(frac - want) < 0.25, s"$src extra-epoch rate $frac, want ~$want")
    }
    // docs from a weight-0.5 source appear at most once; weight-3 thrice
    val r2 = TrainingDataQueries.d12Mixture(spark, TestSpark.Sf)
      .groupBy("source", "doc_id").agg(count(lit(1)).as("n"))
      .as[(String, Long, Long)].collect()
    assert(r2.filter(_._1 == "src0").forall(_._3 == 3L))
    assert(r2.filter(_._1 == "src19").forall(_._3 == 1L)) // 0-epoch docs don't appear
  }

  test("t10 sample takes exactly 20 docs per language, deterministically") {
    val s1 = TrainingDataQueries.t10StratifiedSample(spark, TestSpark.Sf)
      .as[(String, Long, Long)].collect()
    val s2 = TrainingDataQueries.t10StratifiedSample(spark, TestSpark.Sf)
      .as[(String, Long, Long)].collect()
    assert(s1.toSeq == s2.toSeq)
    val perLang = s1.groupBy(_._1).view.mapValues(_.length).toMap
    val langSizes = Tables.documents(spark, TestSpark.Sf)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    for ((lang, n) <- perLang) assert(n == math.min(20L, langSizes(lang)))
  }

  test("t11 oov counts are consistent: 0 <= n_oov <= n_tok, and vocab terms cover the corpus majority") {
    val r = TrainingDataQueries.t11OovRate(spark, TestSpark.Sf)
      .as[(Long, Long, Long)].collect()
    assert(r.forall { case (_, tok, oov) => oov >= 0 && oov <= tok })
    val (tot, oov) = (r.map(_._2).sum.toDouble, r.map(_._3).sum.toDouble)
    // top-25 vocab of a ~30-word synthetic corpus covers most tokens
    assert(oov / tot < 0.5, s"oov share ${oov / tot}")
  }

  test("t12 flags exactly the docs outside their language's [p05, p95] band") {
    val flagged = TrainingDataQueries.t12LengthOutliers(spark, TestSpark.Sf)
      .select("doc_id").as[Long].collect().toSet
    // cross-check one language locally
    val docs = Tables.documents(spark, TestSpark.Sf)
      .filter(col("lang") === "en").select("doc_id", "n_chars")
      .as[(Long, Long)].collect()
    val xs = docs.map(_._2.toDouble).sorted
    def q(p: Double): Double = {
      val pos = p * (xs.length - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      xs(lo) + (pos - lo) * (xs(hi) - xs(lo))
    }
    val (lo, hi) = (q(0.05), q(0.95))
    val expect = docs.filter { case (_, n) => n < lo || n > hi }.map(_._1).toSet
    val enFlagged = flagged.intersect(docs.map(_._1).toSet)
    assert(enFlagged == expect, s"diff ${enFlagged.diff(expect)} / ${expect.diff(enFlagged)}")
  }

  test("t16 readability metrics match a local regex recomputation on every doc") {
    val got = TrainingDataQueries.t16Readability(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    val texts = Tables.documents(spark, TestSpark.Sf)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    def half(a: Long, b: Long): Long = if (b == 0) 0L else (2 * a * 1000 + b) / (2 * b)
    got.foreach { case (id, nSent, nWord, nChars, nLong, avgMilli, longMilli) =>
      val t = texts(id); val lo = t.toLowerCase
      val sent = """[.!?]+""".r.findAllIn(t).length.toLong
      val words = """[a-z0-9]+""".r.findAllIn(lo).toSeq
      val chars = words.map(_.length.toLong).sum
      val longs = """[a-z0-9]{7,}""".r.findAllIn(lo).length.toLong
      assert((nSent, nWord, nChars, nLong) == ((sent, words.length.toLong, chars, longs)),
        s"doc $id counts")
      assert(avgMilli == half(chars, words.length.toLong), s"doc $id avg")
      assert(longMilli == half(longs, words.length.toLong), s"doc $id ratio")
    }
    assert(got.length == texts.size)
  }

  test("t17 inverted index: exact df, first-16 sorted postings, df >= 5 only") {
    val got = TrainingDataQueries.t17InvertedIndex(spark, TestSpark.Sf)
      .as[(String, Long, String)].collect()
    val docs = Tables.documents(spark, TestSpark.Sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    val full = docs.flatMap { case (id, t) =>
      """[a-z0-9]+""".r.findAllIn(t.toLowerCase).toSet.map((w: String) => (w, id))
    }.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val expect = full.collect { case (term, ids) if ids.length >= 5 =>
      (term, ids.length.toLong, ids.take(16).mkString(","))
    }.toSet
    assert(got.toSet == expect,
      s"missing=${expect.diff(got.toSet).take(3)} extra=${got.toSet.diff(expect).take(3)}")
  }

  test("t18 learns the same merges as a sequential reference BPE") {
    val got = TrainingDataQueries.t18BpeMerges(spark, TestSpark.Sf)
      .as[(Long, String, Long)].collect().toSeq
    // independent sequential BPE over the same word-frequency table
    val wc = Tables.documents(spark, TestSpark.Sf)
      .select("text").as[String].collect()
      .flatMap(t => """[a-z0-9]+""".r.findAllIn(t.toLowerCase))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    var vocab: Map[Vector[String], Long] =
      wc.map { case (w, c) => w.map(_.toString).toVector -> c }
    val expect = (1 to 5).map { i =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      vocab.foreach { case (syms, c) =>
        syms.sliding(2).foreach {
          case Seq(a, b) => counts((a, b)) += c
          case _ =>
        }
      }
      val ((a, b), c) = counts.minBy { case ((x, y), n) => (-n, s"<$x><$y>") }
      def merge(syms: Vector[String]): Vector[String] = {
        val out = Vector.newBuilder[String]
        var j = 0
        while (j < syms.length) {
          if (j + 1 < syms.length && syms(j) == a && syms(j + 1) == b) {
            out += (a + b); j += 2
          } else { out += syms(j); j += 1 }
        }
        out.result()
      }
      vocab = vocab.groupBy { case (s, _) => merge(s) }.view
        .mapValues(_.values.sum).toMap
      (i.toLong, s"<$a><$b>", c)
    }
    assert(got == expect, s"got=$got want=$expect")
  }

  /** Rows of `q` at `dir` with each path of the BPE learner forced:
    * (distributed, driver). */
  private def bpeBothPaths(q: Q, dir: String): (Seq[org.apache.spark.sql.Row],
                                                Seq[org.apache.spark.sql.Row]) = {
    def rows(bound: Long) = TestSpark.withSmallPathBound(bound) {
      q(spark, dir).collect().toSeq
    }
    (rows(0L), rows(TestSpark.DriverBound))
  }

  test("t18/t21 BPE: the driver small path returns the distributed rows (sf0.001)") {
    for ((name, q) <- Seq("t18" -> TrainingDataQueries.t18BpeMerges,
                          "t21" -> TrainingDataQueries.t21BpeEncode)) {
      val (distributed, driver) = bpeBothPaths(q, TestSpark.Sf)
      assert(distributed.nonEmpty, name)
      assert(driver == distributed, s"$name: the two paths diverged")
    }
  }

  /** A documents table holding only `texts`, in a fresh directory. */
  private def docsDir(texts: Seq[String]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe").toString
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(Tables.path(dir, "documents"))
    dir
  }

  test("BPE degenerate vocabularies: pairs run out before merge 5, empty corpus, the bound's edges") {
    // vocab {ab: 2, cd: 1, e: 3}: merges 1-2 use up every pair, so
    // merge 3 has no argmax row and the distributed cross join empties
    // the symbol table — the driver path must stop the same way
    val short = docsDir(Seq("ab ab cd e", "e e"))
    val (t18Rounds, t18Driver) = bpeBothPaths(TrainingDataQueries.t18BpeMerges, short)
    assert(t18Driver == t18Rounds)
    assert(t18Driver.map(r => (r.getLong(0), r.getString(1), r.getLong(2))) ==
      Seq((1L, "<a><b>", 2L), (2L, "<c><d>", 1L)))
    val (t21Rounds, t21Driver) = bpeBothPaths(TrainingDataQueries.t21BpeEncode, short)
    assert(t21Driver == t21Rounds)
    // only one-letter words: no pair at merge 1
    val letters = docsDir(Seq("a b c", "a a"))
    for (q <- Seq(TrainingDataQueries.t18BpeMerges, TrainingDataQueries.t21BpeEncode)) {
      val (rounds, driver) = bpeBothPaths(q, letters)
      assert(driver == rounds)
    }
    // zero words
    val empty = docsDir(Seq("", "--"))
    for (q <- Seq(TrainingDataQueries.t18BpeMerges, TrainingDataQueries.t21BpeEncode)) {
      val (rounds, driver) = bpeBothPaths(q, empty)
      assert(rounds.isEmpty && driver.isEmpty)
    }
    // exactly the bound (3 words: driver) and one past it (distributed)
    val atBound = TestSpark.withSmallPathBound(3L) {
      TrainingDataQueries.t18BpeMerges(spark, short).collect().toSeq
    }
    val pastBound = TestSpark.withSmallPathBound(2L) {
      TrainingDataQueries.t18BpeMerges(spark, short).collect().toSeq
    }
    assert(atBound == t18Driver && pastBound == t18Driver)
  }

  test("t19 corpus report matches a local per-source recomputation") {
    val got = TrainingDataQueries.t19CorpusReport(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long, String)].collect().toSet
    val docs = Tables.documents(spark, TestSpark.Sf)
      .select("source", "lang", "text").as[(String, String, String)].collect()
    val digCount = docs.groupBy(_._3).view.mapValues(_.length).toMap
    val expect = docs.groupBy(_._1).map { case (src, rows) =>
      val toks = rows.map(r => """[a-z0-9]+""".r.findAllIn(r._3.toLowerCase).length.toLong)
      val n = rows.length.toLong
      val nTok = toks.sum
      val topLang = rows.groupBy(_._2).view.mapValues(_.length).toSeq
        .sortBy { case (l, c) => (-c, l) }.head._1
      (src, n, nTok, rows.count(r => digCount(r._3) > 1).toLong,
        (2 * nTok * 1000 + n) / (2 * n), topLang)
    }.toSet
    assert(got == expect,
      s"extra=${got.diff(expect).take(2)} missing=${expect.diff(got).take(2)}")
  }

  test("t21 BPE encode: per-doc token counts sit between words and chars, merges shrink") {
    // Every word's BPE token count is between 1 and its char length,
    // so per doc: n_words <= n_bpe_tokens <= total word chars. The 5
    // learned merges must also strictly shrink SOME doc (else apply
    // did nothing).
    val got = TrainingDataQueries.t21BpeEncode(spark, TestSpark.Sf)
      .as[(Long, Long, Long)].collect()
    val chars = Tables.documents(spark, TestSpark.Sf)
      .select(col("doc_id"), expr(
        "aggregate(filter(split(lower(text), '[^a-z0-9]+'), w -> length(w) > 0), 0L, (a, w) -> a + length(w))").as("nc"))
      .as[(Long, Long)].collect().toMap
    assert(got.nonEmpty)
    got.foreach { case (d, nw, nb) =>
      assert(nw <= nb && nb <= chars(d), s"doc $d: words=$nw bpe=$nb chars=${chars(d)}")
    }
    assert(got.map(_._3).sum < got.map(t => chars(t._1)).sum,
      "5 merges shrank nothing — apply step is a no-op")
  }

  test("t23: near-duplicate docs never straddle a split boundary") {
    val split = TrainingDataQueries.t23LeakageSafeSplit(spark, TestSpark.Sf)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val edges = LlmQueries.d04NgramJaccard(spark, TestSpark.Sf)
      .select("doc_id1", "doc_id2").as[(Long, Long)].collect()
    assert(edges.nonEmpty, "no near-dup pairs in the fixture — property untestable")
    // THE leakage property: every near-dup pair shares a split
    for ((a, b) <- edges)
      assert(split(a) == split(b), s"near-dups $a/$b split across ${split(a)}/${split(b)}")
    // still a real split: more than one split represented overall
    assert(split.values.toSet.size > 1, split.values.toSet.toString)
  }

  test("t25 decontamination coverage flags exactly the planted cross-split leaks") {
    import graft.TrainingDataQueries.hashBucket
    val out = TrainingDataQueries.t25DecontamCoverage(spark, TestSpark.Sf)
      .select("doc_id", "n_grams", "n_hit", "coverage_ppm", "contaminated")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    // invariants: ppm in range, hits bounded by grams, flag == bar
    out.foreach { case (id, grams, hit, ppm, flag) =>
      assert(grams > 0 && hit >= 0 && hit <= grams, s"doc $id: $hit/$grams")
      assert(ppm == hit * 1000000L / grams, s"doc $id ppm")
      assert(flag == (if (ppm >= 150000L) 1L else 0L), s"doc $id flag")
    }
    // the flagged docs are exactly the eval docs with a verified
    // near-dup partner in the train split (d27's ground truth — a
    // leaked paraphrase IS high 5-gram coverage on this corpus)
    val flagged = out.filter(_._5 == 1L).map(_._1).toSet
    assert(flagged.nonEmpty, "expected planted leaks to be flagged")
    val buckets = Tables.documents(spark, TestSpark.Sf)
      .select(col("doc_id"), hashBucket(col("doc_id"), 10).as("b"))
      .as[(Long, Long)].collect().toMap
    val nearDupEval = LlmQueries.d04NgramJaccard(spark, TestSpark.Sf)
      .select("doc_id1", "doc_id2").as[(Long, Long)].collect()
      .flatMap { case (a, b) =>
        (if (buckets(a) == 9 && buckets(b) <= 7) Seq(a) else Nil) ++
          (if (buckets(b) == 9 && buckets(a) <= 7) Seq(b) else Nil)
      }.toSet
    assert(nearDupEval.nonEmpty, "fixture has no cross-split near-dups")
    nearDupEval.foreach { id =>
      assert(flagged.contains(id), s"planted leak $id not flagged")
    }
  }

  test("t29 gopher rules match a local regex recomputation; flags derive from raw integers") {
    val got = TrainingDataQueries.t29GopherRules(spark, TestSpark.Sf)
      .select("doc_id", "n_words", "n_word_chars", "n_alpha_words",
        "n_symbols", "n_stop_types", "gopher_pass")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    val texts = Tables.documents(spark, TestSpark.Sf)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(got.length == texts.size)
    val stops = Seq("the", "a", "of", "in")
    got.foreach { case (id, w, chars, alpha, sym, st, pass) =>
      val lo = texts(id).toLowerCase
      assert(w == "[a-z0-9]+".r.findAllIn(lo).length, s"doc $id words")
      assert(chars == lo.count(c => c.isDigit || (c >= 'a' && c <= 'z')), s"doc $id chars")
      assert(alpha == "[a-z0-9]*[a-z][a-z0-9]*".r.findAllIn(lo).length, s"doc $id alpha")
      assert(sym == """[#@%&$*]|\.\.\.""".r.findAllIn(texts(id)).length, s"doc $id sym")
      assert(st == stops.count(s => s"\\b$s\\b".r.findFirstIn(lo).nonEmpty), s"doc $id stops")
      val want = if (w >= 50 && w <= 100000 && chars >= 3 * w && chars <= 10 * w &&
        10 * sym <= w && 5 * alpha >= 4 * w && st >= 2) 1L else 0L
      assert(pass == want, s"doc $id pass $pass vs $want")
    }
    // the suite must separate the corpus, not rubber-stamp it
    val passes = got.count(_._7 == 1L)
    assert(passes > 0 && passes < got.length, s"pass=$passes/${got.length}")
  }

  test("t30 class balance: shares sum to ~1e6, simpson sits in [1000, 1000k], exact vs local") {
    val got = TrainingDataQueries.t30ClassBalance(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    val counts = Tables.embeddings(spark, TestSpark.Sf)
      .groupBy("label").count().as[(Int, Long)].collect().toMap
    assert(got.length == counts.size)
    val ntot = counts.values.sum
    val sq = counts.values.map(n => n * n).sum
    val k = counts.size.toLong
    got.foreach { case (label, n, share, dev, nLabels, simpson) =>
      assert(n == counts(label.toInt), s"label $label count")
      assert(share == (n * 1000000L * 2 + ntot) / (2 * ntot))
      assert(dev == share - (1000000L * 2 + k) / (2 * k))
      assert(nLabels == k)
      assert(simpson == (ntot * ntot * 1000L * 2 + sq) / (2 * sq))
      assert(simpson >= 1000L && simpson <= 1000L * k, s"simpson $simpson")
    }
    val shareSum = got.map(_._3).sum
    assert(math.abs(shareSum - 1000000L) <= k, s"shares sum to $shareSum")
  }

  test("t28 per-source coverage matches a local rank-walk on every source") {
    val got = TrainingDataQueries.t28SourceCoverage(spark, TestSpark.Sf)
      .select("source", "p50_vocab", "p90_vocab", "p95_vocab", "p99_vocab",
        "vocab_total", "tokens_total")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // reference: explicit sorted-vocab walk (the O(vocab log vocab)
    // single-node computation the histogram-window version replaces)
    val counts = LlmQueries.normedDocs(spark, TestSpark.Sf)
      .select(col("source"), explode(split(col("text_norm"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("source", "tok").agg(count(lit(1)).as("n"))
      .as[(String, String, Long)].collect()
    val bySource = counts.groupBy(_._1)
    assert(got.keySet == bySource.keySet)
    bySource.foreach { case (src, rows) =>
      val freqs = rows.map(_._3).sortBy(-_)
      val total = freqs.sum
      def vocabAt(p: Int): Long = {
        val needed = (total * p + 99) / 100
        var run = 0L; var i = 0
        while (run < needed) { run += freqs(i); i += 1 }
        i.toLong
      }
      val (_, p50, p90, p95, p99, vt, tt) = got(src)
      assert((p50, p90, p95, p99) == (vocabAt(50), vocabAt(90), vocabAt(95), vocabAt(99)),
        s"$src: got ${(p50, p90, p95, p99)}")
      assert(vt == freqs.length && tt == total, s"$src totals")
      assert(p50 <= p90 && p90 <= p95 && p95 <= p99 && p99 <= vt, s"$src monotone")
    }
  }

  test("t37 mixture order: every prefix tracks the alpha weights within the stride bound") {
    import spark.implicits._
    val rows = TrainingDataQueries.t37MixtureOrder(spark, TestSpark.Sf)
      .select("seq", "lang", "lang_rank", "vtime")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    val w = TrainingDataQueries.t26AlphaMix(spark, TestSpark.Sf)
      .select("lang", "q_alpha_ppm").as[(String, Long)].collect().toMap
    val nByLang = rows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    assert(rows.map(_._1).toSeq == (1L to rows.length).toSeq, "seq not contiguous")
    // the stride/WFQ guarantee: in any length-k prefix, language l has
    // consumed ~k·w_l/1e6 documents (while it still has documents
    // left) — the property that makes an early-stopped training run a
    // faithful sample of the mixture. Tie-groups at one virtual time
    // admit an O(#langs) deviation; pin a conservative ±(#langs) band.
    val langs = w.keySet
    val bound = langs.size.toLong + 1
    // the guarantee holds until the first language EXHAUSTS its
    // single-epoch supply (after that its stride goes silent and the
    // tail drifts toward the surviving languages — the documented
    // semantics); test prefixes inside that horizon
    val kMax = langs.map(l => nByLang(l) * 1000000L / w(l)).min.toInt
    assert(kMax >= 40, s"fixture too skewed to test strides: horizon $kMax")
    Seq(kMax / 4, kMax / 2, kMax).foreach { k =>
      val pre = rows.take(k).groupBy(_._2).view.mapValues(_.length.toLong).toMap
      langs.foreach { l =>
        val got = pre.getOrElse(l, 0L)
        val expect = k.toLong * w(l) / 1000000L
        assert(math.abs(got - expect) <= bound,
          s"prefix $k lang $l: got $got expected ~$expect (w=${w(l)})")
      }
    }
    // past the horizon the EXHAUSTED language has contributed all its
    // docs — nothing is ever starved
    val full = rows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    langs.foreach(l => assert(full(l) == nByLang(l)))
    // within a language, virtual time is strictly increasing in rank
    rows.groupBy(_._2).foreach { case (l, rs) =>
      val byRank = rs.sortBy(_._3).map(_._4)
      assert(byRank.zip(byRank.drop(1)).forall { case (a, b) => a < b },
        s"$l: vtime not strictly increasing in rank")
    }
    // determinism: a second evaluation is bit-identical
    val again = TrainingDataQueries.t37MixtureOrder(spark, TestSpark.Sf)
      .select("seq", "lang", "lang_rank", "vtime")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(again.toSeq == rows.toSeq, "t37 order not deterministic")
  }

  test("t38 length buckets: caps cover, waste bands, bucketing beats the no-bucket baseline") {
    import spark.implicits._
    val rows = TrainingDataQueries.t38LengthBuckets(spark, TestSpark.Sf)
      .select("bucket_cap", "n_docs", "token_sum", "pad_tokens",
        "waste_ppm", "baseline_waste_ppm")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    // local recompute from per-doc token counts
    val toks = Tables.documents(spark, TestSpark.Sf)
      .select(graft.text.TextFunctions.whitespaceTokenCount(col("text")))
      .as[Long].collect().toSeq
    val want = toks.groupBy(t => (math.max(t, 1L) + 63L) / 64L * 64L)
      .toSeq.sortBy(_._1).map { case (cap, ts) =>
        val n = ts.size.toLong; val sum = ts.sum
        val pad = cap * n - sum
        (cap, n, sum, pad, pad * 1000000L / (cap * n))
      }
    assert(rows.map(r => (r._1, r._2, r._3, r._4, r._5)) == want,
      "t38 diverged from the local recompute")
    val gcap = rows.map(_._1).max
    val gn = rows.map(_._2).sum
    val gtok = rows.map(_._3).sum
    val wantBaseline = (gcap * gn - gtok) * 1000000L / (gcap * gn)
    assert(rows.forall(_._6 == wantBaseline), "baseline column drifted")
    rows.foreach { r =>
      assert(r._1 % 64L == 0L && r._1 >= 64L, s"cap ${r._1} not a 64-multiple")
      assert(r._5 >= 0L && r._5 < 1000000L, s"waste_ppm ${r._5} out of band")
    }
    // padding to per-bucket caps never burns more than padding to the
    // corpus max: total bucketed pad <= the baseline's total pad
    assert(rows.map(_._4).sum <= gcap * gn - gtok,
      "bucketed padding exceeded the no-bucket baseline")
  }

  test("t40 charset audit: census conserves and planted damage surfaces per class") {
    // corpus run: class counts conserve and the ASCII corpus is clean
    val corpus = TrainingDataQueries.t40CharsetAudit(spark, TestSpark.Sf)
      .select("source", "n_docs", "n_chars", "letter_cnt", "digit_cnt",
        "ws_cnt", "punct_cnt", "nonascii_cnt", "repl_cnt", "ctrl_cnt",
        "ascii_printable_ppm", "clean")
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long, Long,
        Long, Long)].collect()
    assert(corpus.nonEmpty)
    corpus.foreach { r =>
      val classed = r._4 + r._5 + r._6 + r._7 + r._8 + r._9 + r._10
      assert(classed <= r._3, s"class counts exceed chars: $r")
      assert(r._9 == 0L && r._10 == 0L && r._12 == 1L,
        s"ASCII corpus flagged dirty: $r")
      assert(r._11 > 0L && r._11 <= 1000000L)
    }
    // planted fixtures: each damage class counted exactly, clean=0
    val planted = TrainingDataQueries.charsetAuditOf(Seq(
      ("bad_repl", "caf\uFFFDe te\uFFFDxt"), // 2 replacement chars
      ("bad_ctrl", "a\u0000b\u0007c\u001fd"), // 3 stray C0 controls
      ("bad_ctrl", "tab\tok\n"),               // \t \n are NOT damage
      ("bad_utf8", "naïve café — über"),       // non-ASCII but undamaged
      ("ok_src", "plain ascii 123!")
    ).toDF("source", "text"))
      .select("source", "nonascii_cnt", "repl_cnt", "ctrl_cnt", "clean")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(planted("bad_repl") == ((2L, 2L, 0L, 0L)),
      s"repl census diverged: ${planted("bad_repl")}")
    assert(planted("bad_ctrl") == ((0L, 0L, 3L, 0L)),
      s"ctrl census diverged: ${planted("bad_ctrl")}")
    assert(planted("bad_utf8") == ((4L, 0L, 0L, 1L)),
      s"nonascii census diverged: ${planted("bad_utf8")}")
    assert(planted("ok_src") == ((0L, 0L, 0L, 1L)))
  }

  test("t46 decorrelated order: contiguous permutation, rank bands strictly ordered") {
    val got = TrainingDataQueries.t46DecorrelatedOrder(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect()  // (seq, doc_id, root, r)
    val n = Tables.documents(spark, TestSpark.Sf).count()
    // 1. seq is the contiguous 1..n permutation over ALL docs
    assert(got.length == n && got.map(_._1).sorted.toSeq == (1L to n))
    assert(got.map(_._2).distinct.length == n)
    // 2. within every cluster the ranks are exactly 0..m-1 (so members
    //    land in m DISTINCT bands — never two cluster members in one)
    got.groupBy(_._3).foreach { case (root, rows) =>
      assert(rows.map(_._4).sorted.toSeq == (0L until rows.length),
        s"root $root ranks not 0..m-1")
    }
    // 3. bands are globally ordered: every seq of rank r precedes every
    //    seq of rank r+1 — the separation guarantee (two same-cluster
    //    docs are always a full band apart)
    val byRank = got.groupBy(_._4).toSeq.sortBy(_._1)
    byRank.sliding(2).foreach {
      case Seq((r1, a), (r2, b)) =>
        assert(a.map(_._1).max < b.map(_._1).min,
          s"band $r1 overlaps band $r2")
      case _ => ()
    }
    // 4. within the rank-0 band the order is (md5-60bit, doc_id) — the
    //    epoch-shuffle hash, recomputed independently
    def hk(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
    }
    val band0 = got.filter(_._4 == 0L).sortBy(_._1).map(_._2)
    assert(band0.toSeq == band0.sortBy(id => (hk(id), id)).toSeq,
      "band-0 order is not (hash, doc_id)")
  }

  test("t46 kernel: planted mega-cluster (20% of docs in one root) ranks without a per-root sort task") {
    import org.apache.spark.sql.catalyst.expressions.{RowNumber, WindowExpression}
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // the soft-dedup regime t46 exists for KEEPS duplicates, so a
    // web-scale boilerplate cluster is the expected input, not an
    // edge case (EtlSpec's 10⁴-basket precedent): one root holds 20%
    // of a 10⁴-doc corpus
    val n = 10000L
    val roots = spark.range(1, n + 1)
      .select(col("id").as("doc_id"),
        when(col("id") <= 2000, lit(1L)).otherwise(col("id")).as("root"))
    val df = TrainingDataQueries.decorrelatedOrder(roots)
    // structural: every row_number window must carry the bucket axis
    // in its partition key — a window partitioned by `root` alone
    // would sort the whole mega cluster in ONE task
    df.queryExecution.optimizedPlan.foreach {
      case w: LWindow =>
        val isRank = w.windowExpressions.exists(_.collectFirst {
          case WindowExpression(_: RowNumber, _) => true }.nonEmpty)
        if (isRank)
          assert(w.partitionSpec.length >= 2,
            s"rank window partitioned by a single (skewable) key:\n$w")
      case _ => ()
    }
    val got = df.as[(Long, Long, Long, Long)].collect()  // (seq, doc_id, root, r)
    assert(got.length == n && got.map(_._1).sorted.toSeq == (1L to n))
    // mega cluster: ranks exactly 0..1999, assigned in doc_id order
    val mega = got.filter(_._3 == 1L).sortBy(_._4)
    assert(mega.length == 2000 &&
      mega.map(_._4).toSeq == (0L until 2000L))
    assert(mega.map(_._2).toSeq == mega.map(_._2).sorted.toSeq,
      "within-cluster ranks must follow doc_id order")
    // singletons are all rank 0
    got.filter(_._3 != 1L).foreach(r => assert(r._4 == 0L, s"doc ${r._2}"))
    // exact sequence vs a local recompute of the (r, md5-60bit, doc)
    // total order — pins the dataScaleCoarse bucketed prefix path
    // (coarse offsets computed in two levels, offsets shuffle-joined)
    // bit-for-bit against the straightforward sort
    def hk(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
    }
    val expect = (1L to n).map { id =>
      val r = if (id <= 2000) id - 1 else 0L
      (r, hk(id), id)
    }.sorted.map(_._3)
    assert(got.sortBy(_._1).map(_._2).toSeq == expect,
      "sequence diverged from the local (r, hash, doc) sort")
  }

  test("t47 target-mix resample: per-language replica mass hits the alpha target exactly") {
    val got = TrainingDataQueries.t47TargetMixResample(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long)].collect()  // (lang, doc_id, rank, reps)
    val w = TrainingDataQueries.t26AlphaMix(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long)].collect()  // (lang, n_docs, p, q)
    val btot = w.map(_._2).sum
    assert(got.nonEmpty && w.nonEmpty)
    w.foreach { case (lang, nDocs, _, qPpm) =>
      val target = btot * qPpm / 1000000L
      val rows = got.filter(_._1 == lang)
      assert(rows.length == nDocs, s"$lang row count")
      // the materialized plan sums to the target EXACTLY — no rounding drift
      assert(rows.map(_._4).sum == target, s"$lang replica mass != target $target")
      // every doc draws base or base+1, and exactly target % n docs draw the extra
      val base = target / nDocs
      assert(rows.forall(r => r._4 == base || r._4 == base + 1), s"$lang reps range")
      assert(rows.count(_._4 == base + 1) == target % nDocs, s"$lang extra count")
      // the extras are the FIRST target % n docs in hash-rank order
      assert(rows.filter(_._4 == base + 1).forall(_._3 < target % nDocs),
        s"$lang extras not rank-prefix")
      // ranks are the 0..n-1 permutation within the language
      assert(rows.map(_._3).sorted.toSeq == (0L until nDocs), s"$lang ranks")
    }
    // corpus-level: total replica mass = sum of targets (within one doc
    // per language of B — floor rounding only)
    val total = got.map(_._4).sum
    val targets = w.map { case (_, _, _, q) => btot * q / 1000000L }.sum
    assert(total == targets)
  }

  test("t48 split datasheet: shares close, totals match t23, zero spanning clusters certified") {
    val got = TrainingDataQueries.t48SplitDatasheet(spark, TestSpark.Sf)
      .as[(String, String, Long, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    // the certification column: the leakage-safe split NEVER lets a
    // dedup cluster span splits — proven on every run, not asserted once
    assert(got.forall(_._7 == 0L), "spanning_clusters must be 0")
    val split = TrainingDataQueries.t23LeakageSafeSplit(spark, TestSpark.Sf)
      .as[(Long, Long, String)].collect()
    got.groupBy(_._1).foreach { case (s, rows) =>
      val want = split.count(_._3 == s).toLong
      assert(rows.map(_._3).sum == want, s"$s doc total != t23")
      assert(rows.forall(_._6 == want), s"$s split_docs column")
      // floor-divided ppm shares sum to 1e6 within one ppm per cell
      val shares = rows.map(_._5).sum
      assert(shares <= 1000000L && shares > 1000000L - rows.length,
        s"$s shares sum $shares")
    }
    // character mass is conserved across the datasheet
    val nChars = Tables.documents(spark, TestSpark.Sf)
      .agg(sum("n_chars")).as[Long].head()
    assert(got.map(_._4).sum == nChars)
  }

  test("t49 shard invalidation: mass conserved, dirty shards exactly the forget-touching ones") {
    val got = TrainingDataQueries.t49ShardInvalidation(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    val plan = TrainingDataQueries.t39ShardPlan(spark, TestSpark.Sf)
      .select("shard", "doc_id", "n_tok")
      .as[(Long, Long, Long)].collect()
    assert(got.nonEmpty && plan.nonEmpty)
    // the plan covers EVERY shard (clean ones included: the work order
    // must say "untouched", not omit them)
    assert(got.map(_._1).toSet == plan.map(_._1).toSet)
    // doc and token mass conserved shard-for-shard
    val want = plan.groupBy(_._1).view.mapValues(rs =>
      (rs.length.toLong, rs.map(_._3).sum,
        rs.count(_._2 % 97 == 0).toLong,
        rs.filter(_._2 % 97 == 0).map(_._3).sum)).toMap
    got.foreach { case (sh, nd, nt, fd, ft, re) =>
      val (wd, wt, wfd, wft) = want(sh)
      assert((nd, nt, fd, ft) == ((wd, wt, wfd, wft)), s"shard $sh census")
      assert(re == (if (wfd > 0) 1L else 0L), s"shard $sh reexport bit")
    }
    // the fixture must exercise BOTH branches: some dirty, some clean
    assert(got.exists(_._6 == 1L) && got.exists(_._6 == 0L),
      "fixture must contain dirty AND clean shards")
  }

  test("t50 DSIR weights match a local floor-division recomputation") {
    val got = TrainingDataQueries.t50DsirWeights(spark, TestSpark.Sf)
      .as[(Long, Long, Long)].collect()
    val docs = Tables.documents(spark, TestSpark.Sf)
      .selectExpr("doc_id", "lang", "text").as[(Long, String, String)].collect()
    assert(got.length == docs.length, "one weight row per document")
    def bigrams(t: String): Seq[String] = {
      val w = t.split(" ", -1)
      if (w.length < 2) Nil else w.sliding(2).map(_.mkString(" ")).toSeq
    }
    val all = docs.flatMap { case (id, lang, t) =>
      bigrams(t).map(b => (id, lang, b)) }
    val rcnt = all.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val tcnt = all.filter(_._2 == "en").groupBy(_._3)
      .view.mapValues(_.length.toLong).toMap
    val rtot = all.length.toLong
    val ttot = all.count(_._2 == "en").toLong
    val delta = rcnt.keys.map { b =>
      b -> ((BigInt(tcnt.getOrElse(b, 0L)) * 1000000 / ttot) -
            (BigInt(rcnt(b)) * 1000000 / rtot)).toLong }.toMap
    val want = docs.map { case (id, _, t) =>
      val bs = bigrams(t)
      id -> ((bs.length.toLong, bs.map(delta).sum)) }.toMap
    got.foreach { case (id, nB, w) =>
      assert((nB, w) == want(id), s"doc $id: ($nB, $w) != ${want(id)}") }
    // direction: the mean weight of target-language docs must exceed
    // the mean of the rest — the importance-resampling signal itself
    val lang = docs.map(d => d._1 -> d._2).toMap
    val (en, other) = got.partition(r => lang(r._1) == "en")
    assert(en.nonEmpty && other.nonEmpty)
    val meanEn = en.map(_._3).sum.toDouble / en.length
    val meanOther = other.map(_._3).sum.toDouble / other.length
    assert(meanEn > meanOther,
      s"target-domain docs must score higher: en $meanEn vs other $meanOther")
  }

  test("t50 bigram collision audit certifies the digest keying injective") {
    // the ADVICE r13 recipe run at audit scale: distinct(bg) vs
    // distinct(xxhash64(bg)) over the corpus — equal ⇒ every t50
    // weight is exact, not merely collision-unlikely
    val (nBg, nDig, coll) = TrainingDataQueries
      .bigramCollisionAudit(Tables.documents(spark, TestSpark.Sf))
      .as[(Long, Long, Long)].head()
    assert(nBg > 0, "fixture must carry bigrams")
    assert(coll == 0L && nBg == nDig,
      s"xxhash64 collided on this vocabulary: $nBg bigrams, $nDig digests")
  }

  test("t53 quality agreement matches a local recompute of the t02 x t29 operating curve") {
    val got = TrainingDataQueries.t53QualityAgreement(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    val score = LlmQueries.t02QualityScore(spark, TestSpark.Sf)
      .select(col("doc_id"), col("score_milli"))
      .as[(Long, Long)].collect().toMap
    val pass = TrainingDataQueries.t29GopherRules(spark, TestSpark.Sf)
      .select(col("doc_id"), col("gopher_pass"))
      .as[(Long, Long)].collect().toMap
    assert(score.keySet == pass.keySet, "both signals cover every doc")
    val per = score.toSeq.map { case (id, s) => (s / 100, pass(id)) }
      .groupBy(_._1).view
      .mapValues(v => (v.size.toLong, v.map(_._2).sum)).toMap
    var keptD = 0L
    var keptP = 0L
    val want = per.keys.toSeq.sorted.reverse.map { b =>
      val (n, p) = per(b); keptD += n; keptP += p
      (b, n, p, 1000000L * p / n, keptD, keptP, 1000000L * keptP / keptD)
    }.reverse
    assert(got == want, s"first diff: ${got.zip(want).find(x => x._1 != x._2)}")
    // operating-curve shape: kept volume shrinks as the threshold
    // rises, and the fixture must exercise both verdicts
    assert(got.map(_._5) == got.map(_._5).sorted.reverse)
    assert(keptP > 0 && keptP < keptD, "fixture needs passes AND failures")
  }

  test("t52 TTR matches a local split/distinct recomputation; ratios bounded") {
    val got = TrainingDataQueries.t52Ttr(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    val docs = Tables.documents(spark, TestSpark.Sf)
      .selectExpr("doc_id", "text").as[(Long, String)].collect().toMap
    assert(got.length == docs.size)
    got.foreach { case (id, nTok, nTyp, nBg, nBgTyp, ttr, bttr) =>
      val w = docs(id).split(" ", -1).toSeq
      val bgs = if (w.length < 2) Nil else w.sliding(2).map(_.mkString(" ")).toSeq
      assert(nTok == w.length && nTyp == w.distinct.length, s"doc $id tokens")
      assert(nBg == bgs.length && nBgTyp == bgs.distinct.length, s"doc $id bigrams")
      assert(ttr == (if (w.isEmpty) 0L else 1000000L * nTyp / nTok))
      assert(bttr == (if (bgs.isEmpty) 0L else 1000000L * nBgTyp / nBg))
      // diversity ratios live in (0, 1]; bigram diversity ≥ unigram
      // diversity never holds in general, but both are bounded
      assert(ttr >= 1L && ttr <= 1000000L, s"doc $id ttr $ttr")
    }
  }

  test("t51 LZ complexity: per-row kernel parity, bounds, and signal direction") {
    val got = TrainingDataQueries.t51LzComplexity(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (_, nBytes, phrases, ppm) =>
      assert(phrases >= 1L && phrases <= nBytes, "phrase count out of bounds")
      assert(ppm == 1000000L * phrases / nBytes, "ratio not the floor division")
    }
    // rerun is bit-identical (a pure function of the bytes)
    val again = TrainingDataQueries.t51LzComplexity(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.toSeq == again.toSeq, "LZ parse must be deterministic")
    // signal direction on planted rows THROUGH the same expression:
    // template spam parses far below natural-looking text
    val planted = Seq(
      (1L, "spam " * 200),
      (2L, (0 until 200).map(i => s"w${i * 7919 % 1009}").mkString(" ")))
      .toDF("doc_id", "text")
      .select($"doc_id",
        graft.functions.Lz78Phrases.lz78Phrases($"text").as("p"),
        octet_length($"text").cast("long").as("n"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (1000000L * r._2 / r._3)).toMap
    assert(planted(1L) * 2 < planted(2L),
      s"spam ppm ${planted(1L)} must sit far below diverse ppm ${planted(2L)}")
  }

  test("t55 blocklist enforcement partitions the census; cdn. subdomains fall under their registrable domain") {
    import spark.implicits._
    val rows = TrainingDataQueries.t55DomainBlocklist(spark, TestSpark.Sf)
      .select("domain", "blocked", "n_docs")
      .as[(String, Long, Long)].collect()
    // enforcement SPLITS the census: every doc lands in exactly one
    // (domain, blocked) cell, so doc mass is conserved
    val total = Tables.documents(spark, TestSpark.Sf).count()
    assert(rows.map(_._3).sum == total, rows.toSeq.toString)
    // a domain is either wholly blocked or wholly kept (matching is on
    // the registrable domain, which IS the grouping key)
    assert(rows.groupBy(_._1).forall(_._2.map(_._2).distinct.length == 1))
    val blocked = rows.filter(_._2 == 1L).map(_._1).toSet
    val present = rows.map(_._1).toSet
    val expected = Set("src1.com", "src2.co.uk", "src3.org").intersect(present)
    assert(blocked == expected, s"blocked $blocked vs expected $expected")
    // the cdn. planting exercises subdomain coverage: hosts under a
    // blocked registrable domain are blocked regardless of subdomain
    val census = TrainingDataQueries.t54UrlCensus(spark, TestSpark.Sf)
      .select("domain").as[String].collect().toSet
    assert(present == census,
      "t54/t55 must census the same registrable-domain universe")
  }
}
