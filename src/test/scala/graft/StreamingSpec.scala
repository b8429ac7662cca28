package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streaming windowed agg matches the batch q14 shape and values") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")

    val query = EventStream.windowedAgg(events)
      .writeStream.format("memory").queryName("win_agg")
      .outputMode("complete").start()
    try {
      input.addData(
        (ts("2024-01-01 00:10:00"), "click", 1.0),
        (ts("2024-01-01 00:20:00"), "click", 2.0),
        (ts("2024-01-01 00:30:00"), "view", 5.0),
        (ts("2024-01-01 01:10:00"), "click", 4.0))
      query.processAllAvailable()

      val out = spark.table("win_agg")
        .orderBy("hour_ts", "event_type")
        .select($"hour_ts".cast("string"), $"event_type", $"n_events", $"total_value")
        .as[(String, String, Long, Double)].collect().toSeq
      assert(out == Seq(
        ("2024-01-01 00:00:00", "click", 2L, 3.0),
        ("2024-01-01 00:00:00", "view", 1L, 5.0),
        ("2024-01-01 01:00:00", "click", 1L, 4.0)))

      // batch parity: same function over a batch frame gives same rows
      val batch = EventStream.windowedAgg(
        Seq(
          (ts("2024-01-01 00:10:00"), "click", 1.0),
          (ts("2024-01-01 00:20:00"), "click", 2.0),
          (ts("2024-01-01 00:30:00"), "view", 5.0),
          (ts("2024-01-01 01:10:00"), "click", 4.0)).toDF("ts", "event_type", "value"))
        .orderBy("hour_ts", "event_type")
        .select($"hour_ts".cast("string"), $"event_type", $"n_events", $"total_value")
        .as[(String, String, Long, Double)].collect().toSeq
      assert(batch == out)
    } finally query.stop()
  }

  test("streaming windowed quantiles: mergeable sketch per window, batch parity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val rows = Seq(
      (ts("2024-01-01 00:10:00"), "click", 1.0),
      (ts("2024-01-01 00:20:00"), "click", 3.0),
      (ts("2024-01-01 00:30:00"), "click", 100.0),
      (ts("2024-01-01 01:10:00"), "view", 7.0))
    val input = MemoryStream[(Timestamp, String, Double)]
    val query = EventStream.windowedQuantiles(input.toDF().toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("win_q")
      .outputMode("complete").start()
    try {
      // two micro-batches: the per-window sketch must MERGE across them
      input.addData(rows.take(2): _*)
      query.processAllAvailable()
      input.addData(rows.drop(2): _*)
      query.processAllAvailable()
      val out = spark.table("win_q")
        .orderBy("hour_ts", "event_type")
        .select($"hour_ts".cast("string"), $"event_type", $"p50_value", $"n_events")
        .as[(String, String, Double, Long)].collect().toSeq
      // approx_percentile at accuracy 1000 over 3 values is exact: the
      // median of {1, 3, 100} is 3 — a mean-like aggregate would be ~35
      assert(out == Seq(
        ("2024-01-01 00:00:00", "click", 3.0, 3L),
        ("2024-01-01 01:00:00", "view", 7.0, 1L)), out)
      // batch parity: same function over the same rows as a batch frame
      val batch = EventStream.windowedQuantiles(rows.toDF("ts", "event_type", "value"))
        .orderBy("hour_ts", "event_type")
        .select($"hour_ts".cast("string"), $"event_type", $"p50_value", $"n_events")
        .as[(String, String, Double, Long)].collect().toSeq
      assert(batch == out)
    } finally query.stop()
  }

  test("corpus chunking runs unchanged on a stream (stateless projection + explode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    // the SAME chunked() used by batch d08/d10/d11 — stateless, so it
    // attaches to a readStream frame with no watermark or output-mode
    // constraints: documents chunk as they arrive
    val input = MemoryStream[(Long, String)]
    val chunks = TrainingDataQueries.chunked(
        input.toDF().toDF("doc_id", "text"), Seq("doc_id"))
      .select($"doc_id", $"chunk_id", size($"cw").as("n_tok"))
    val query = chunks.writeStream.format("memory").queryName("stream_chunks")
      .outputMode("append").start()
    try {
      input.addData((1L, (0 until 40).map(i => s"a$i").mkString(" ")))  // 40 tokens -> 2 chunks
      input.addData((2L, "short doc"))                                  // 2 tokens -> 1 chunk
      query.processAllAvailable()
      val out = spark.table("stream_chunks")
        .as[(Long, Long, Int)].collect().toSeq.sorted
      assert(out == Seq((1L, 0L, 32), (1L, 1L, 16), (2L, 0L, 2)), out)
    } finally query.stop()
  }

  test("bloom dedup stream: duplicates dropped across batches, state stays bounded") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    val input = MemoryStream[(Long, String)]
    val deduped = graft.streaming.EventStream.bloomDedupStream[(Long, String)](
      input.toDS(), key = _._1, nBuckets = 8, bucketBits = 1 << 14)
    val query = deduped.toDF().toDF("k", "payload")
      .writeStream.format("memory").queryName("bloom_dedup")
      .outputMode("append").start()
    try {
      input.addData((1L, "a"), (2L, "b"), (1L, "a-dup-same-batch"))
      query.processAllAvailable()
      // re-deliveries in a LATER micro-batch — the watermark-free case
      // dropDuplicatesWithinWatermark cannot cover forever
      input.addData((1L, "a-dup-later"), (2L, "b-dup-later"), (3L, "c"))
      query.processAllAvailable()
      val out = spark.table("bloom_dedup").as[(Long, String)].collect().toSeq.sorted
      assert(out.map(_._1) == Seq(1L, 2L, 3L), out)
      // first delivery wins (the same-batch duplicate was dropped too)
      assert(out == Seq((1L, "a"), (2L, "b"), (3L, "c")), out)
      // the stateful operator ran with one state row per touched bucket
      // (≤ nBuckets forever, regardless of keys seen)
      val rows = query.recentProgress.flatMap(_.stateOperators)
        .filter(_.operatorName.toLowerCase.contains("flatmapgroupswithstate"))
        .map(_.numRowsTotal)
      assert(rows.nonEmpty && rows.max <= 8, rows.toSeq)
    } finally query.stop()
  }

  test("anomaly stream flags 2-sigma outliers against per-type history only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    val input = MemoryStream[(Long, Timestamp, String, Double)]
    val events = input.toDF().toDF("event_id", "ts", "event_type", "value")
    val query = graft.streaming.EventStream.anomalyStream(events, warmup = 30)
      .toDF().writeStream.format("memory").queryName("anomaly")
      .outputMode("append").start()
    try {
      // batch 1: 40 identical baseline values — inside warmup nothing
      // may flag, and identical values build a zero-variance history
      input.addData((1L to 40L).map(i =>
        (i, ts("2024-01-01 00:00:00"), "click", 10.0)): _*)
      query.processAllAvailable()
      assert(spark.table("anomaly").count() == 0)
      // batch 2: one outlier among more baseline values — with zero
      // variance the z² test flags ANY deviation and only deviations,
      // so the assertion is order-independent within the batch
      input.addData(
        (41L, ts("2024-01-01 01:00:00"), "click", 10.0),
        (42L, ts("2024-01-01 01:00:00"), "click", 1000.0),
        (43L, ts("2024-01-01 01:00:00"), "click", 10.0))
      query.processAllAvailable()
      val flagged = spark.table("anomaly")
        .as[(Long, String, Long)].collect().toSeq
      assert(flagged == Seq((42L, "click", 100000L)), flagged)
      // an unwarmed type never flags, however extreme
      input.addData((44L, ts("2024-01-01 02:00:00"), "view", 99999.0))
      query.processAllAvailable()
      assert(spark.table("anomaly").count() == 1)
    } finally query.stop()
  }

  test("stream-stream join pairs purchases with same-user views inside the window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    val views = MemoryStream[(Timestamp, Long)]
    val purchases = MemoryStream[(Timestamp, Long, Long)]
    val joined = graft.streaming.StreamEnrich.viewPurchaseJoin(
      views.toDF().toDF("ts", "user_id"),
      purchases.toDF().toDF("ts", "user_id", "event_id"),
      watermark = "1 hour", windowMinutes = 30)
    val query = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try {
      views.addData(
        (ts("2024-01-01 00:00:00"), 1L),  // in-window for the 00:20 purchase
        (ts("2024-01-01 00:10:00"), 1L),  // in-window
        (ts("2024-01-01 00:10:00"), 2L),  // other user
        (ts("2024-01-01 01:00:00"), 1L))  // AFTER the purchase -> excluded
      purchases.addData((ts("2024-01-01 00:20:00"), 1L, 100L))
      query.processAllAvailable()
      val out = spark.table("ss_join")
        .select($"event_id", $"user_id", $"view_ts".cast("string"))
        .as[(Long, Long, String)].collect().toSeq.sorted
      assert(out == Seq(
        (100L, 1L, "2024-01-01 00:00:00"),
        (100L, 1L, "2024-01-01 00:10:00")))
      // ran as the stateful streaming join (symmetric hash), not a
      // batch join: the query reports join state operators
      assert(query.recentProgress.exists(p =>
        p.stateOperators.exists(_.operatorName.toLowerCase.contains("join"))),
        query.recentProgress.map(_.stateOperators.map(_.operatorName).mkString(",")).mkString(";"))
    } finally query.stop()
  }

  test("heavy-hitters sketch aggregates incrementally over a stream (complete mode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    // the same mergeable SpaceSaving aggregator q34 uses in batch:
    // streaming update folds new rows into the per-group sketch state
    val hh = new graft.functions.HeavyHitters(capacity = 100, k = 3).toColumn.name("top")
    val input = MemoryStream[String]
    val query = input.toDS()
      .groupByKey(_ => 0) // single global sketch
      .agg(hh)
      .writeStream.format("memory").queryName("hh_stream").outputMode("complete").start()
    try {
      input.addData("a", "b", "a", "c")
      query.processAllAvailable()
      input.addData("b", "a", "d")
      query.processAllAvailable()
      val top = spark.table("hh_stream")
        .select(explode($"top").as("kv")).select($"kv._1", $"kv._2")
        .as[(String, Long)].collect().toSeq
      // capacity >> domain: the sketch is exact — a:3, b:2, then c/d tie -> c
      assert(top == Seq(("a", 3L), ("b", 2L), ("c", 1L)), top)
    } finally query.stop()
  }

  test("stream-static join enriches each micro-batch from a dimension table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("uid", "tier")
    val input = MemoryStream[(Long, Double)]
    val stream = input.toDF().toDF("user_id", "value")
    val query = graft.streaming.StreamEnrich.withDimension(stream, dim, "user_id", "uid")
      .select($"user_id", $"tier", $"value")
      .writeStream.format("memory").queryName("enriched").outputMode("append").start()
    try {
      input.addData((1L, 10.0), (3L, 7.0))
      query.processAllAvailable()
      val out = spark.table("enriched").orderBy("user_id")
        .as[(Long, Option[String], Double)].collect().toSeq
      assert(out == Seq((1L, Some("gold"), 10.0), (3L, None, 7.0)))
    } finally query.stop()
  }

  test("session_window merges gap-bounded events and closes sessions at the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Timestamp, Long)]
    val events = input.toDF().toDF("ts", "user_id")
    val query = EventStream.sessionAgg(events, gap = "30 minutes", watermark = "1 hour")
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      input.addData(
        (ts("2024-01-01 00:00:00"), 1L),
        (ts("2024-01-01 00:10:00"), 1L),  // same session (10 min gap)
        (ts("2024-01-01 01:00:00"), 1L))  // 50 min gap → new session
      query.processAllAvailable()
      // advance the watermark far enough to close both sessions
      input.addData((ts("2024-01-01 05:00:00"), 2L))
      query.processAllAvailable()
      val out = spark.table("sessions")
        .filter($"user_id" === 1L).orderBy("session_start")
        .select($"session_start".cast("string"), $"n_events")
        .as[(String, Long)].collect().toSeq
      assert(out == Seq(
        ("2024-01-01 00:00:00", 2L),
        ("2024-01-01 01:00:00", 1L)))
    } finally query.stop()
  }

  test("streaming dedup drops same-digest re-deliveries across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Timestamp, String)]
    val docs = input.toDF().toDF("ts", "text")
      .withColumn("digest", md5(col("text")))
    val query = EventStream.dedupStream(docs, Seq("digest"), watermark = "1 hour")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      input.addData(
        (ts("2024-01-01 00:10:00"), "doc A"),
        (ts("2024-01-01 00:11:00"), "doc A"), // same batch duplicate
        (ts("2024-01-01 00:12:00"), "doc B"))
      query.processAllAvailable()
      input.addData((ts("2024-01-01 00:40:00"), "doc A")) // replay, within watermark
      query.processAllAvailable()
      val texts = spark.table("dedup_stream").select("text").as[String].collect().sorted
      assert(texts.toSeq == Seq("doc A", "doc B"))
    } finally query.stop()
  }

  test("foreachBatch JDBC sink is idempotent under batch replay (Derby)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = java.nio.file.Files.createTempDirectory("graft_stream_derby").toString
    val url = s"jdbc:derby:$dir/db;create=true"
    // create the target table up front (batch_id + run_id lineage key)
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().executeUpdate(
      "CREATE TABLE sink (user_id BIGINT, v DOUBLE, batch_id BIGINT, run_id VARCHAR(128))")
    conn.close()

    val writeBatch = graft.streaming.StreamSink.jdbcForeachBatch(
      url, "sink", Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver"), runId = "lineage-a")

    val input = MemoryStream[(Long, Double)]
    val stream = input.toDF().toDF("user_id", "v")
    val query = stream.writeStream.foreachBatch(writeBatch).outputMode("append").start()
    try {
      input.addData((1L, 1.5), (2L, 2.5))
      query.processAllAvailable()
      input.addData((3L, 3.5))
      query.processAllAvailable()
    } finally query.stop()

    // simulate the crash-replay of batch 1: same id, same data → the
    // delete-by-(run_id, batch_id) makes the rerun overwrite, not duplicate
    writeBatch(Seq((3L, 3.5)).toDF("user_id", "v"), 1L)

    // a SECOND lineage (fresh checkpoint → batch ids restart at 0) must
    // not clobber the first lineage's batch-0 rows
    val writeBatchB = graft.streaming.StreamSink.jdbcForeachBatch(
      url, "sink", Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver"), runId = "lineage-b")
    writeBatchB(Seq((9L, 9.5)).toDF("user_id", "v"), 0L)

    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "sink")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .load()
      .orderBy("user_id").select("user_id", "v").as[(Long, Double)].collect().toSeq
    assert(back == Seq((1L, 1.5), (2L, 2.5), (3L, 3.5), (9L, 9.5)), s"got $back")
  }

  test("streaming cluster scoring matches the batch k-means assignment") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sim.KMeansExact

    val quant = "transform(embedding, x -> CAST(round((CAST(x AS DOUBLE) + 1.0D) * 1000000.0D, 0) AS INT))"
    val vecs = Tables.embeddings(spark, TestSpark.Sf)
      .select($"vec_id", expr(quant).as("qv"))
    // fit once (the nightly job); collect the k-row centroid table —
    // the bounded driver read the serving path ships to executors
    val cents = KMeansExact.fit(vecs, "vec_id", "qv", k = 8, iterations = 2)
      .select($"cid", $"cv").as[(Long, Seq[Int])].collect().toSeq
    val want = KMeansExact.assign(vecs, "vec_id", "qv", k = 8, iterations = 2)
      .as[(Long, Long)].collect().toMap

    val fed = vecs.as[(Long, Seq[Int])].collect().toSeq
    val input = MemoryStream[(Long, Seq[Int])]
    val query = KMeansExact.assignRowLocal(
        input.toDF().toDF("vec_id", "qv"), "vec_id", "qv", cents)
      .writeStream.format("memory").queryName("cluster_scores")
      .outputMode("append").start()
    try {
      fed.grouped(200).foreach { b =>
        input.addData(b: _*)
        query.processAllAvailable()
      }
      val got = spark.table("cluster_scores").as[(Long, Long)].collect().toMap
      assert(got.size == want.size && got == want,
        s"diverging: ${(got.toSet diff want.toSet).take(5)}")
    } finally query.stop()
  }

  test("charset gate stream: per-doc verdicts identical to the batch t40 expressions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // planted damage + clean rows through the STREAM; batch recompute
    // of the same per-doc columns is the parity oracle
    val docs = Seq(
      (1L, "plain ascii 123!"),
      (2L, "caf\uFFFDe damaged"), // replacement char
      (3L, "ctrl\u0001here\u0007too"), // stray C0 controls
      (4L, "naïve café"),                       // non-ASCII, undamaged
      (5L, "tab\tand\nnewline are fine"))
    val input = MemoryStream[(Long, String)]
    val query = graft.streaming.EventStream.charsetGateStream(
        input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("charset_gate")
      .outputMode("append").start()
    try {
      docs.grouped(2).foreach { b =>
        input.addData(b: _*)
        query.processAllAvailable()
      }
      val got = spark.table("charset_gate")
        .select("doc_id", "repl_cnt", "ctrl_cnt", "nonascii_cnt", "clean")
        .as[(Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      val want = graft.streaming.EventStream.charsetGateStream(
          docs.toDF("doc_id", "text"))
        .select("doc_id", "repl_cnt", "ctrl_cnt", "nonascii_cnt", "clean")
        .as[(Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      assert(got == want, "stream verdicts diverged from batch expressions")
      // the planted truths, pinned absolutely (not just parity)
      assert(got(1L) == ((0L, 0L, 0L, 1L)))
      assert(got(2L) == ((1L, 0L, 1L, 0L)), s"repl doc: ${got(2L)}")
      assert(got(3L) == ((0L, 2L, 0L, 0L)), s"ctrl doc: ${got(3L)}")
      assert(got(4L) == ((0L, 0L, 2L, 1L)), s"utf8 doc: ${got(4L)}")
      assert(got(5L) == ((0L, 0L, 0L, 1L)))
      // stateless: the gate plan carries no aggregation or state store
      val plan = graft.streaming.EventStream.charsetGateStream(
        docs.toDF("doc_id", "text")).queryExecution.executedPlan.toString
      assert(!plan.contains("Aggregate") && !plan.contains("Exchange"),
        s"charset gate must be a pure projection:\n${plan.take(600)}")
    } finally query.stop()
  }

  test("stateful streaming state survives a checkpointed restart") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    // a REAL recoverable source + explicit checkpointLocation: the
    // memory-sink specs prove operator semantics, this proves the
    // operational half — a stopped query restarted on the same
    // checkpoint resumes with its STATE (and source offsets) intact,
    // the property a 100 TB ingest job leans on after every deploy
    val src = java.nio.file.Files.createTempDirectory("graft_restart_src").toString
    val ck = java.nio.file.Files.createTempDirectory("graft_restart_ck").toString
    val out = java.nio.file.Files.createTempDirectory("graft_restart_out").toString
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(src)
    val schema = new StructType().add("doc_id", LongType).add("text", StringType)
    // recoverable source AND sink (file/file): the memory sink refuses
    // checkpoint recovery by design
    def start() = {
      val in = spark.readStream.schema(schema).parquet(src).as[(Long, String)]
      EventStream.bloomDedupStream[(Long, String)](in, key = _._1,
          nBuckets = 8, bucketBits = 1 << 12)
        .toDF("doc_id", "text")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append").start()
    }
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(out).count() == 3)
    // second lifetime: one replayed key, one fresh key
    Seq((2L, "b-again"), (9L, "z")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(src)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val all = spark.read.parquet(out).as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(all.map(_._1) == Seq(1L, 2L, 3L, 9L),
      s"bloom state lost (or offsets replayed) across restart: $all")
    assert(all.find(_._1 == 2L).exists(_._2 == "b"),
      "the replayed key must keep its FIRST delivery, not the replay")
  }

  test("gate-savings ledger: per-batch frames match the gate, replay is idempotent, trend serves history") {
    import spark.implicits._
    import graft.streaming.EventStream
    import graft.etl.SavingsLedger
    val (k, nBands, seed) = (64, 16, 0x5eedL)
    val docs = Tables.documents(spark, TestSpark.Sf)
      .select("doc_id", "text", "source")
    val corpus = docs.filter($"doc_id" % 2 === 0).select("doc_id", "text")
    val (cBands, cSigs) = EventStream.nearDupCorpus(corpus, k, nBands, seed)
    val cBandsP = cBands.localCheckpoint(true)
    val cSigsP = cSigs.localCheckpoint(true)
    val streamDocs = docs
      .select(($"doc_id" + 100000L).as("doc_id"), $"text", $"source")
      .as[(Long, String, String)].collect().toSeq.sortBy(_._1)
    val batches = streamDocs.grouped(streamDocs.size / 3 + 1).toSeq
    val ledger = java.nio.file.Files
      .createTempDirectory("graft_gledger").toString + "/l"
    val admitted = scala.collection.mutable.Map.empty[Long, Set[Long]]
    val sink = EventStream.gateSavingsLedgerForeachBatch(
        cBandsP, cSigsP, ledger, k, nBands, seed) { (adm, id) =>
      admitted(id) = adm.select("doc_id").as[Long].collect().toSet
    }
    batches.zipWithIndex.foreach { case (b, i) =>
      sink(b.toDF("doc_id", "text", "source"), i.toLong)
    }
    assert(admitted.values.map(_.size).sum < streamDocs.size,
      "fixture must reject something for the ledger to price")

    // per-batch parity: every ledger row equals an independent
    // recompute from the captured admission decisions
    def tally(rows: Seq[(Long, String, String)]): Map[String, (Long, Long)] =
      rows.toDF("doc_id", "text", "source")
        .withColumn("n",
          size(split(graft.etl.TextNorm.normalizeText(col("text")), " "))
            .cast("long"))
        .groupBy("source").agg(count(lit(1)).as("c"), sum("n").as("t"))
        .as[(String, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
    val led = SavingsLedger.read(spark, ledger)
      .select("run_label", "source", "n_docs_in", "n_docs_out",
        "tokens_in", "tokens_out", "saved_tokens")
      .as[(String, String, Long, Long, Long, Long, Long)].collect().toSeq
    batches.zipWithIndex.foreach { case (b, i) =>
      val in = tally(b)
      val out = tally(b.filter(r => admitted(i.toLong)(r._1)))
      val want = in.toSeq.map { case (src, (di, ti)) =>
        val (dout, tout) = out.getOrElse(src, (0L, 0L))
        (f"batch_$i%06d", src, di, dout, ti, tout, ti - tout)
      }.toSet
      val got = led.filter(_._1 == f"batch_$i%06d").toSet
      assert(got == want, s"batch $i ledger diverged:\n$got\nvs\n$want")
    }

    // replay idempotence by construction: redelivering a batch
    // rewrites the same label with the same rows
    sink(batches(1).toDF("doc_id", "text", "source"), 1L)
    val led2 = SavingsLedger.read(spark, ledger)
      .select("run_label", "source", "n_docs_in", "n_docs_out",
        "tokens_in", "tokens_out", "saved_tokens")
      .as[(String, String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(led2.toSet == led.toSet, "replayed batch changed the ledger")

    // trend reads the history: one row per (label, source), deltas
    // null exactly on each source's first appearance
    val trend = SavingsLedger.trend(spark, ledger, Seq("source"))
    assert(trend.count() == led.size.toLong)
    val firstNulls = trend.filter(col("prev_saved_tokens").isNull).count()
    val nSources = led.map(_._2).distinct.size.toLong
    assert(firstNulls == nSources,
      s"expected $nSources first-appearance nulls, got $firstNulls")
  }

  test("near-dup gate: stream admission matches the batch LSH+verify rule") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.dedup.MinHash

    val (k, nBands, seed) = (64, 16, 0x5eedL)
    val docs = Tables.documents(spark, TestSpark.Sf).select("doc_id", "text")
    // corpus = even ids; stream = ALL docs re-keyed into a disjoint id
    // space (odd-id docs are fresh content; even-id docs are verbatim
    // replays the gate must reject; near-dups of either side follow
    // the verified-similarity rule)
    val corpus = docs.filter($"doc_id" % 2 === 0)
    val (cBands, cSigs) = EventStream.nearDupCorpus(corpus, k, nBands, seed)
    val cBandsP = cBands.localCheckpoint(true)
    val cSigsP = cSigs.localCheckpoint(true)

    val streamDocs = docs.select(($"doc_id" + 100000L).as("doc_id"), $"text")
      .as[(Long, String)].collect().toSeq.sortBy(_._1)

    val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val gate = EventStream.nearDupGateForeachBatch(cBandsP, cSigsP, k, nBands, seed) {
      (adm, _) => admitted ++= adm.select("doc_id").as[Long].collect()
    }
    val input = MemoryStream[(Long, String)]
    val query = input.toDF().toDF("doc_id", "text")
      .writeStream.foreachBatch(gate).outputMode("append").start()
    try {
      streamDocs.grouped(200).foreach { b =>
        input.addData(b: _*)
        query.processAllAvailable()
      }
    } finally query.stop()

    // expected via the independent batch path: d02's self-join LSH +
    // verification over corpus ∪ stream, rejecting any stream doc with
    // a verified pair into the corpus id space
    val union = corpus.unionByName(streamDocs.toDF("doc_id", "text"))
      .withColumn("text_norm", graft.etl.TextNorm.normalizeText(col("text")))
      .select($"doc_id", MinHash.signature(
        array_distinct(MinHash.shingleHashes($"text_norm", 3)), k, seed).as("sig"))
      .repartition($"doc_id")
    val cand = MinHash.candidatePairs(union, "doc_id", "sig", nBands, k)
    val s1 = union.toDF("id1", "sig1"); val s2 = union.toDF("id2", "sig2")
    val rejectedExpect = cand.join(s1, "id1").join(s2, "id2")
      .withColumn("m", MinHash.sigMatches($"sig1", $"sig2"))
      .filter($"m" * 10 >= k * 7)
      .filter(($"id1" < 100000L && $"id2" >= 100000L) ||
              ($"id2" < 100000L && $"id1" >= 100000L))
      .select(greatest($"id1", $"id2").as("sid")).distinct()
      .as[Long].collect().toSet
    val expectAdmitted = streamDocs.map(_._1).filterNot(rejectedExpect).toSet

    assert(rejectedExpect.nonEmpty, "test corpus must reject something")
    assert(admitted.size < streamDocs.size, "some docs must be rejected")
    assert(admitted.toSet == expectAdmitted,
      s"admitted diff: extra=${admitted.toSet -- expectAdmitted} " +
        s"missing=${expectAdmitted -- admitted.toSet}")
  }

  test("decontamination gate: streamed coverage verdicts are bit-identical to batch t25") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.TrainingDataQueries.hashBucket
    // same split as batch t25: train = buckets 0-7, the stream = the
    // eval docs (bucket 9) arriving in micro-batches
    val docs = Tables.documents(spark, TestSpark.Sf).select("doc_id", "text")
    val bucketed = docs.withColumn("b", hashBucket(col("doc_id"), 10))
    val train = bucketed.filter(col("b") <= 7).select("doc_id", "text")
    val evalDocs = bucketed.filter(col("b") === 9).select("doc_id", "text")
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    val trainGrams = EventStream.decontamTrainGrams(train).localCheckpoint(true)

    val got = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    val gate = EventStream.decontamGateForeachBatch(trainGrams) { (scored, _) =>
      scored.select("doc_id", "coverage_ppm", "contaminated")
        .as[(Long, Long, Long)].collect()
        .foreach { case (id, ppm, fl) => got(id) = (ppm, fl) }
    }
    val input = MemoryStream[(Long, String)]
    val query = input.toDF().toDF("doc_id", "text")
      .writeStream.foreachBatch(gate).outputMode("append").start()
    try {
      evalDocs.grouped(20).foreach { b =>
        input.addData(b: _*)
        query.processAllAvailable()
      }
    } finally query.stop()

    val batch = TrainingDataQueries.t25DecontamCoverage(spark, TestSpark.Sf)
      .select("doc_id", "coverage_ppm", "contaminated")
      .as[(Long, Long, Long)].collect()
      .map { case (id, ppm, fl) => id -> (ppm, fl) }.toMap
    assert(batch.nonEmpty && got.nonEmpty)
    assert(got.keySet == batch.keySet,
      s"doc sets differ: ${got.keySet.diff(batch.keySet)} / ${batch.keySet.diff(got.keySet)}")
    batch.foreach { case (id, expect) =>
      assert(got(id) == expect, s"doc $id: stream ${got(id)} vs batch $expect")
    }
    assert(batch.values.exists(_._2 == 1L), "fixture must contain a leak")
  }

  test("alpha-mix refresh: weights after each batch are bit-identical to batch t26 on the prefix") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, TestSpark.Sf)
      .select("doc_id", "lang").as[(Long, String)].collect().toSeq.sortBy(_._1)

    // seeded with a prior histogram: the stream must fold ON TOP of it
    val seed = Map("en" -> 100L, "xx" -> 7L)
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Seq[(String, Long, Long, Long)])]
    val sink = EventStream.alphaMixForeachBatch(seed) { (w, id) =>
      emitted += ((id, w.as[(String, Long, Long, Long)].collect().toSeq))
    }
    val input = MemoryStream[(Long, String)]
    val query = input.toDF().toDF("doc_id", "lang")
      .writeStream.foreachBatch(sink).outputMode("append").start()
    val batches = docs.grouped(200).toSeq
    try {
      batches.foreach { b => input.addData(b: _*); query.processAllAvailable() }
    } finally query.stop()
    assert(emitted.size == batches.size)

    // reference: t26's exact Spark expression over (seed + prefix)
    def expect(prefix: Seq[(Long, String)]): Seq[(String, Long, Long, Long)] = {
      val l = prefix.map(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
      val all = (seed.keySet ++ l.keySet).toSeq.sorted
        .map(k => k -> (seed.getOrElse(k, 0L) + l.getOrElse(k, 0L)))
      val roots = all.map { case (_, n) =>
        math.floor(math.sqrt((n * 1000000L).toDouble)).toLong }
      val (ntot, stot) = (all.map(_._2).sum, roots.sum)
      all.zip(roots).map { case ((k, n), s) =>
        (k, n, (n * 1000000L * 2 + ntot) / (2 * ntot),
          (s * 1000000L * 2 + stot) / (2 * stot)) }
    }
    var prefix = Seq.empty[(Long, String)]
    batches.zipWithIndex.foreach { case (b, i) =>
      prefix = prefix ++ b
      assert(emitted(i)._2 == expect(prefix),
        s"batch $i: ${emitted(i)._2} vs ${expect(prefix)}")
    }
    // the final refresh must agree with batch t26's q_alpha_ppm run on
    // the full table when the seed is empty — same integer kernel
    val noSeedSink = EventStream.alphaMixForeachBatch() { (w, _) =>
      val got = w.as[(String, Long, Long, Long)].collect().toSeq.sortBy(_._1)
      val want = TrainingDataQueries.t26AlphaMix(spark, TestSpark.Sf)
        .as[(String, Long, Long, Long)].collect().toSeq.sortBy(_._1)
      assert(got == want, s"stream $got vs batch t26 $want")
    }
    val input2 = MemoryStream[(Long, String)]
    val q2 = input2.toDF().toDF("doc_id", "lang")
      .writeStream.foreachBatch(noSeedSink).outputMode("append").start()
    try { input2.addData(docs: _*); q2.processAllAvailable() } finally q2.stop()
  }

  test("benford monitor: report after each batch equals batch q93 arithmetic on the prefix") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cents = Tables.orders(spark, TestSpark.Sf)
      .select((col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      .as[Long].collect().toSeq.sorted

    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Seq[(Long, Long, Long, Long, Long, Long, Long)])]
    val sink = EventStream.benfordForeachBatch() { (r, id) =>
      emitted += ((id, r.as[(Long, Long, Long, Long, Long, Long, Long)]
        .collect().toSeq.sortBy(_._1)))
    }
    val input = MemoryStream[Long]
    val query = input.toDF().toDF("cents")
      .writeStream.foreachBatch(sink).outputMode("append").start()
    val batches = cents.grouped(500).toSeq
    try {
      batches.foreach { b => input.addData(b: _*); query.processAllAvailable() }
    } finally query.stop()
    assert(emitted.size == batches.size)

    // reference: q93's exact integer rules over the prefix histogram
    def expect(prefix: Seq[Long]): Seq[(Long, Long, Long, Long, Long, Long, Long)] = {
      val h = prefix.filter(_ > 0)
        .groupBy(c => c.toString.head.toString.toLong)
        .view.mapValues(_.size.toLong).toMap
      val total = h.values.sum
      val rows = AnalyticsQueries.benfordExpPpm.map { case (d, exp) =>
        val cnt = h.getOrElse(d, 0L)
        val obs = if (total > 0) cnt * 1000000L / total else 0L
        (d, cnt, total, obs, exp, math.abs(obs - exp))
      }
      val tv = rows.map(_._6).sum / 2
      rows.map { case (d, c, n, o, e, v) => (d, c, n, o, e, v, tv) }
    }
    var prefix = Seq.empty[Long]
    batches.zipWithIndex.foreach { case (b, i) =>
      prefix = prefix ++ b
      assert(emitted(i)._2 == expect(prefix), s"batch $i diverged")
    }

    // full-stream end state equals the oracled batch q93 over orders
    val want = AnalyticsQueries.q93Benford(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq.sortBy(_._1)
    assert(emitted.last._2 == want, "end state != batch q93")

    // replayed batch id re-emits without re-folding (counts would
    // double otherwise — the alphaMix exactly-once guard)
    val before = emitted.size
    sink(spark.createDataset(batches.last).toDF("cents"),
      (batches.size - 1).toLong)
    assert(emitted.size == before + 1 && emitted.last._2 == want,
      "replayed batch id must re-emit the same frame, not double-count")

    // seeded resume: folding the second half on top of the first
    // half's histogram lands on the same end state
    val firstHalf = cents.take(cents.size / 2)
    val seedHist = firstHalf.filter(_ > 0)
      .groupBy(c => c.toString.head.toString.toLong)
      .view.mapValues(_.size.toLong).toMap
    var seededLast: Seq[(Long, Long, Long, Long, Long, Long, Long)] = Nil
    val seededSink = EventStream.benfordForeachBatch(seedHist) { (r, _) =>
      seededLast = r.as[(Long, Long, Long, Long, Long, Long, Long)]
        .collect().toSeq.sortBy(_._1)
    }
    val input2 = MemoryStream[Long]
    val q2 = input2.toDF().toDF("cents")
      .writeStream.foreachBatch(seededSink).outputMode("append").start()
    try {
      input2.addData(cents.drop(cents.size / 2): _*)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(seededLast == want, "seeded resume != full-history end state")
  }

  test("media gate stream: per-payload verdicts identical to batch, planted truths hold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.multimodal.Codecs
    val gray = Codecs.GrayImage(3, 2, Array(0, 10, 20, 30, 40, 50))
    val rgb = Codecs.renderRgb("media gate fixture")
    val wav = Codecs.encodeWav(Codecs.PcmAudio(8000,
      Array[Short](0, 5, -5, 100)), extraChunk = true)
    val payloads: Seq[(Long, Array[Byte])] = Seq(
      1L -> Codecs.encodePgmP5(gray),
      2L -> Codecs.encodeBmp24(gray),
      3L -> Codecs.encodePpmP6(rgb),
      4L -> wav,
      5L -> java.util.Arrays.copyOfRange(wav, 0, wav.length - 3), // truncated
      6L -> "not a media payload at all".getBytes("US-ASCII"),
      7L -> Array[Byte](0x42)) // too short: "empty"

    val input = MemoryStream[(Long, Array[Byte])]
    val query = EventStream.mediaGateStream(
        input.toDF().toDF("doc_id", "payload"))
      .writeStream.format("memory").queryName("media_gate")
      .outputMode("append").start()
    try {
      payloads.grouped(3).foreach { b =>
        input.addData(b: _*)
        query.processAllAvailable()
      }
      val got = spark.table("media_gate")
        .as[(Long, String, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      // absolute planted truths
      assert(got(1L) == (("pgm", 1L, 3L, 2L)))
      assert(got(2L) == (("bmp", 1L, 3L, 2L)))
      assert(got(3L) == (("ppm", 1L, 32L, 32L)))
      assert(got(4L) == (("wav", 1L, 4L, 8000L)))
      assert(got(5L)._1 == "wav" && got(5L)._2 == 0L,
        "truncated WAV must quarantine, not parse")
      assert(got(6L) == (("unknown", 0L, 0L, 0L)))
      assert(got(7L) == (("empty", 0L, 0L, 0L)))
      // batch/stream parity: the same function over a batch frame
      val want = EventStream.mediaGateStream(payloads.toDF("doc_id", "payload"))
        .as[(Long, String, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      assert(got == want, "stream verdicts diverged from batch")
    } finally query.stop()
  }

  test("purchase-gap stream: closed gap facts serve batch q100 through the shared kernel") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val orders = Tables.orders(spark, TestSpark.Sf)
      .select(col("o_custkey").as("custkey"),
        col("o_orderdate").cast("date").as("day"),
        col("o_orderkey").as("orderkey"))
      .as[(Long, java.sql.Date, Long)].collect().toSeq
    // globally day-ascending with bounded positional jitter: a
    // customer's own orders are months apart, so ±3 positions of
    // disorder stays INSIDE the 1-day lateness horizon while
    // same-day ties still straddle batches
    val jittered = orders.sortBy { case (_, d, k) => (d.toString, k % 3, k) }

    val input = MemoryStream[(Long, java.sql.Date, Long)]
    val query = EventStream.purchaseGapStream(
        input.toDF().toDF("custkey", "day", "orderkey"), latenessDays = 1)
      .writeStream.format("memory").queryName("gap_stream")
      .outputMode("append").start()
    try {
      jittered.grouped(jittered.size / 5 + 1).foreach { b =>
        input.addData(b: _*)
        query.processAllAvailable()
      }
      // sentinel flush: one far-future order per customer closes every
      // real order; the sentinel itself stays pending, so no gap to it
      // is ever emitted
      val flush = orders.groupBy(_._1).map { case (c, os) =>
        val maxD = os.map(_._2.toLocalDate).maxBy(_.toEpochDay)
        (c, java.sql.Date.valueOf(maxD.plusDays(30)), -1L)
      }.toSeq
      input.addData(flush: _*)
      query.processAllAvailable()

      val got = spark.table("gap_stream")
        .as[(Long, Long)].collect().toSeq
      // expected: the batch lag rule per customer over ALL real orders
      val want = orders.groupBy(_._1).toSeq.flatMap { case (c, os) =>
        val days = os.sortBy { case (_, d, k) => (d.toString, k) }
          .map(_._2.toLocalDate.toEpochDay)
        days.zip(days.drop(1)).map { case (a, b) => (c, b - a) }
      }
      assert(got.sorted == want.sorted,
        s"gap fact multiset diverged: got ${got.size}, want ${want.size}")

      // the hazard table over the emitted facts IS batch q100
      val viaStream = AnalyticsQueries.hazardFromGaps(
          spark.createDataset(got).toDF("custkey", "gap"))
        .as[(Long, Long, Long, Long)].collect().toSeq
      val viaBatch = AnalyticsQueries.q100Hazard(spark, TestSpark.Sf)
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(viaStream == viaBatch, "stream-served hazard != batch q100")
    } finally query.stop()
  }

  test("DSIR gate stream: per-doc weights identical to batch scoring on the frozen vector") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // frozen calibration: the hashed feature vector off the static corpus
    val features = TrainingDataQueries
      .dsirHashedFeatures(spark, TestSpark.Sf).localCheckpoint()
    val docs = Tables.documents(spark, TestSpark.Sf)
      .select("doc_id", "lang", "text")
      .as[(Long, String, String)].collect().toSeq
    // planted rows exercise the empty-bigram path and the keep bit
    val planted = Seq((-1L, "xx", "oneword"), (-2L, "xx", ""))
    val all = docs ++ planted

    val input = MemoryStream[(Long, String, String)]
    val query = EventStream.dsirGateStream(
        input.toDF().toDF("doc_id", "lang", "text"), features, keepFloor = 1L)
      .select("doc_id", "weight", "keep")
      .writeStream.format("memory").queryName("dsir_gate")
      .outputMode("append").start()
    try {
      all.grouped(all.size / 3 + 1).foreach { b =>
        input.addData(b: _*)
        query.processAllAvailable()
      }
      val got = spark.table("dsir_gate")
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got.size == all.size)
      // batch parity: the SAME shared scorer over the same rows
      val want = TrainingDataQueries.dsirScore(
          all.toDF("doc_id", "lang", "text"),
          TrainingDataQueries.dsirFeatureMap(features))
        .withColumn("keep", (col("weight") >= 1L).cast("long"))
        .select("doc_id", "weight", "keep")
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == want, "stream weights diverged from the batch scorer")
      // bigram-free docs score exactly 0 and are dropped at floor 1
      assert(got(-1L) == ((0L, 0L)) && got(-2L) == ((0L, 0L)))
      // the signal survives hashing: target-language docs score higher
      val lang = docs.map(d => d._1 -> d._2).toMap
      val (en, other) = got.filterKeys(_ >= 0).toSeq.partition {
        case (id, _) => lang(id) == "en" }
      val meanEn = en.map(_._2._1).sum.toDouble / en.size
      val meanOther = other.map(_._2._1).sum.toDouble / other.size
      assert(meanEn > meanOther,
        s"hashed weights lost the direction: en $meanEn vs other $meanOther")
      // the floor actually separates: both verdicts occur on real docs
      val keeps = got.filterKeys(_ >= 0).values.map(_._2).toSet
      assert(keeps == Set(0L, 1L), s"degenerate gate: verdicts $keeps")
    } finally query.stop()
  }

  test("quality gate stream: per-doc verdicts identical to batch t45 expressions on frozen bands") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.ExactPercentile, ExactPercentile.Pct
    // frozen calibration: the t12 band artifact off the static corpus
    val corpus = Tables.documents(spark, TestSpark.Sf)
    val bands = ExactPercentile.quantiles(corpus, Seq("lang"),
      col("n_chars"), valPow = 0, outPow = 3,
      Seq(Pct("lo_milli", 5, 100), Pct("hi_milli", 95, 100)))
      .localCheckpoint()
    val docs = corpus.select("doc_id", "lang", "text", "n_chars")
      .as[(Long, String, String, Long)].collect().toSeq
    // planted extremes exercise each gate's failure path
    val lang0 = docs.head._2
    val planted = Seq(
      (-1L, lang0, "no stopwords here just x", 24L), // fails gopher (<50 words)
      (-2L, lang0, ("the of a in " * 20) + "x " * 60, 1L)) // short n_chars -> fails len band
    val all = docs ++ planted

    val input = MemoryStream[(Long, String, String, Long)]
    val query = EventStream.qualityGateStream(
        input.toDF().toDF("doc_id", "lang", "text", "n_chars"), bands)
      .select("doc_id", "g_gopher", "g_len", "g_stop", "keep")
      .writeStream.format("memory").queryName("quality_gate")
      .outputMode("append").start()
    try {
      all.grouped(all.size / 3 + 1).foreach { b =>
        input.addData(b: _*)
        query.processAllAvailable()
      }
      val got = spark.table("quality_gate")
        .as[(Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      assert(got.size == all.size)
      // batch parity: the same function over the same rows as a batch
      val want = EventStream.qualityGateStream(
          all.toDF("doc_id", "lang", "text", "n_chars"), bands)
        .select("doc_id", "g_gopher", "g_len", "g_stop", "keep")
        .as[(Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      assert(got == want, "stream verdicts diverged from batch expressions")
      // planted truths
      assert(got(-1L)._1 == 0L && got(-1L)._4 == 0L,
        "short doc must fail the Gopher battery and be dropped")
      assert(got(-2L)._2 == 0L && got(-2L)._4 == 0L,
        "band-violating doc must fail the length gate and be dropped")
      // keep is the conjunction, bit for bit
      got.values.foreach { case (g1, g2, g3, k) =>
        assert(k == (if (g1 == 1 && g2 == 1 && g3 == 1) 1L else 0L))
      }
    } finally query.stop()
  }

  test("chi-square monitor: report after each batch equals batch q104 on the prefix") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    type R7 = (String, String, Long, Long, Long, Long, Long)
    val cust = Tables.customer(spark, TestSpark.Sf)
      .select(col("c_mktsegment").as("segment"),
        col("c_nationkey").cast("long").as("nationkey"))
      .as[(String, Long)].collect().toSeq
    val natNames = Tables.nation(spark, TestSpark.Sf)
      .select(col("n_nationkey").cast("long"), col("n_name"))
      .as[(Long, String)].collect().toMap

    val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[R7])]
    val sink = EventStream.chiSquareForeachBatch(
        Tables.nation(spark, TestSpark.Sf)) { (r, id) =>
      emitted += ((id, r.as[(String, String, Long, Long, Long, Long, Long)].collect().toSeq))
    }
    val input = MemoryStream[(String, Long)]
    val query = input.toDF().toDF("segment", "nationkey")
      .writeStream.foreachBatch(sink).outputMode("append").start()
    val batches = cust.grouped(cust.size / 3 + 1).toSeq
    try {
      batches.foreach { b => input.addData(b: _*); query.processAllAvailable() }
    } finally query.stop()
    assert(emitted.size == batches.size)

    // reference: q104's integer rules over the prefix cells
    def expect(prefix: Seq[(String, Long)]): Seq[R7] = {
      val o = prefix.groupBy(identity).toSeq
        .map { case ((s, t), g) => (s, t, BigInt(g.size)) }
      val n = o.map(_._3).sum
      val rS = o.groupBy(_._1).map { case (s, g) => s -> g.map(_._3).sum }
      val cS = o.groupBy(_._2).map { case (t, g) => t -> g.map(_._3).sum }
      val chi2 = o.map { case (s, t, ob) =>
        ob * ob * n * 1000000 / (rS(s) * cS(t)) }.sum - n * 1000000
      val dof = (rS.size - 1).toLong * (cS.size - 1).toLong
      o.map { case (s, t, ob) =>
        val e = rS(s) * cS(t) * 1000 / n
        (s, natNames(t), ob.toLong, e.toLong, (ob * 1000 - e).toLong,
          chi2.toLong, dof)
      }.sortBy(r => (r._1, r._2))
    }
    var prefix = Seq.empty[(String, Long)]
    batches.zipWithIndex.foreach { case (b, i) =>
      prefix = prefix ++ b
      assert(emitted(i)._2 == expect(prefix), s"batch $i diverged")
    }

    // full-stream end state equals the oracled batch q104
    val want = AnalyticsQueries.q104ChiSquare(spark, TestSpark.Sf)
      .as[(String, String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(emitted.last._2 == want, "end state != batch q104")

    // replayed batch id re-emits without re-folding
    val before = emitted.size
    sink(spark.createDataset(batches.last).toDF("segment", "nationkey"),
      (batches.size - 1).toLong)
    assert(emitted.size == before + 1 && emitted.last._2 == want)
  }

  test("skyline stream: frontier after each batch equals batch q103 on the prefix") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pts = Tables.part(spark, TestSpark.Sf)
      .select(col("p_brand"),
        Exact.e(col("p_retailprice"), 2).cast("long"),
        col("p_size").cast("long"))
      .as[(String, Long, Long)].collect().toSeq

    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Seq[(String, Long, Long)])]
    val sink = EventStream.skylineForeachBatch() { (f, id) =>
      emitted += ((id, f.as[(String, Long, Long)].collect().toSeq))
    }
    val input = MemoryStream[(String, Long, Long)]
    val query = input.toDF().toDF("brand", "price_cents", "size")
      .writeStream.foreachBatch(sink).outputMode("append").start()
    // scramble so cheap points arrive late (frontier must re-derive,
    // not just append) and price ties straddle batches (min-merge)
    val scrambled = pts.zipWithIndex.sortBy { case (_, i) => (i % 5, i) }.map(_._1)
    val batches = scrambled.grouped(scrambled.size / 4 + 1).toSeq
    try {
      batches.foreach { b => input.addData(b: _*); query.processAllAvailable() }
    } finally query.stop()
    assert(emitted.size == batches.size)

    // reference: q103's histogram + prefix-min rule over the prefix
    def expect(prefix: Seq[(String, Long, Long)]): Seq[(String, Long, Long)] =
      prefix.groupBy(r => (r._1, r._2)).toSeq
        .map { case ((b, p), g) => (b, p, g.map(_._3).min) }
        .groupBy(_._1).toSeq.flatMap { case (b, h) =>
          var best = Long.MaxValue
          h.sortBy(_._2).flatMap { case (_, p, s) =>
            if (s < best) { best = s; Some((b, p, s)) } else None
          }
        }.sortBy(r => (r._1, r._2))
    var prefix = Seq.empty[(String, Long, Long)]
    batches.zipWithIndex.foreach { case (b, i) =>
      prefix = prefix ++ b
      assert(emitted(i)._2 == expect(prefix), s"batch $i diverged")
    }

    // end state equals the oracled batch q103
    val want = AnalyticsQueries.q103Skyline(spark, TestSpark.Sf)
      .as[(String, Long, Long)].collect().toSeq
    assert(emitted.last._2 == want, "end state != batch q103")

    // a dominated late arrival must NOT enter the frontier
    val dominated = want.head
    sink(spark.createDataset(Seq((dominated._1, dominated._2 + 1,
      dominated._3 + 1))).toDF("brand", "price_cents", "size"),
      batches.size.toLong)
    assert(emitted.last._2 == want, "dominated arrival changed the frontier")

    // a strictly-better late arrival must displace its neighborhood
    sink(spark.createDataset(Seq((dominated._1, dominated._2 - 1,
      dominated._3))).toDF("brand", "price_cents", "size"),
      batches.size + 1L)
    val after = emitted.last._2
    assert(after.contains((dominated._1, dominated._2 - 1, dominated._3)))
    assert(!after.contains(dominated),
      "price-dominated former frontier point must drop")
  }

  test("cusum monitor: report after each batch equals batch q99 on the prefix") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    type R = (String, String, Long, Long, Long, Long, Long, Long)
    val facts = Tables.events(spark, TestSpark.Sf)
      .select(col("event_type"),
        col("ts").cast("date").cast("string").as("day"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .as[(String, String, Long)].collect().toSeq

    val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[R])]
    val sink = EventStream.cusumForeachBatch() { (r, id) =>
      emitted += ((id, r.select(col("event_type"),
        col("day").cast("string"), col("cents"), col("target"), col("dev"),
        col("s_pos"), col("s_neg"), col("alarm")).as[(String, String, Long, Long, Long, Long, Long, Long)].collect().toSeq))
    }
    val input = MemoryStream[(String, String, Long)]
    val query = input.toDF().toDF("event_type", "day", "cents")
      .writeStream.foreachBatch(sink).outputMode("append").start()
    // deliberately scramble so a day's facts straddle batches (partial
    // sums must fold losslessly) and late days arrive behind newer ones
    val scrambled = facts.zipWithIndex.sortBy { case (_, i) => i % 7 }.map(_._1)
    val batches = scrambled.grouped(scrambled.size / 4 + 1).toSeq
    try {
      batches.foreach { b => input.addData(b: _*); query.processAllAvailable() }
    } finally query.stop()
    assert(emitted.size == batches.size)

    // reference: q99's integer rules over the prefix histogram
    def expect(prefix: Seq[(String, String, Long)]): Seq[R] =
      prefix.groupBy(r => (r._1, r._2)).toSeq
        .map { case ((et, d), rs) => (et, d, rs.map(_._3).sum) }
        .groupBy(_._1).toSeq.flatMap { case (et, trs) =>
          val seq = trs.sortBy(_._2)
          val target = seq.map(_._3).sum / seq.size
          var sp = 0L
          var sn = 0L
          seq.map { case (_, d, c) =>
            val dev = c - target
            sp = math.max(0L, sp + dev)
            sn = math.max(0L, sn - dev)
            (et, d, c, target, dev, sp, sn,
              if (sp > target || sn > target) 1L else 0L)
          }
        }.sortBy(r => (r._1, r._2))
    var prefix = Seq.empty[(String, String, Long)]
    batches.zipWithIndex.foreach { case (b, i) =>
      prefix = prefix ++ b
      assert(emitted(i)._2 == expect(prefix), s"batch $i diverged")
    }

    // full-stream end state equals the oracled batch q99
    val want = AnalyticsQueries.q99Cusum(spark, TestSpark.Sf)
      .select(col("event_type"), col("day").cast("string"), col("cents"),
        col("target"), col("dev"), col("s_pos"), col("s_neg"), col("alarm"))
      .as[(String, String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(emitted.last._2 == want, "end state != batch q99")
    assert(want.map(_._8).sum > 0, "corpus must exercise the alarm path")

    // replayed batch id re-emits without re-folding
    val before = emitted.size
    sink(spark.createDataset(batches.last).toDF("event_type", "day", "cents"),
      (batches.size - 1).toLong)
    assert(emitted.size == before + 1 && emitted.last._2 == want,
      "replayed batch id must re-emit the same frame")

    // seeded resume: second half folded onto the first half's histogram
    val firstHalf = scrambled.take(scrambled.size / 2)
    val seedHist = firstHalf.groupBy(r => (r._1, r._2))
      .map { case (k, rs) => (k, rs.map(_._3).sum) }
    var seededLast: Seq[R] = Nil
    val seededSink = EventStream.cusumForeachBatch(seedHist) { (r, _) =>
      seededLast = r.select(col("event_type"), col("day").cast("string"),
        col("cents"), col("target"), col("dev"), col("s_pos"), col("s_neg"),
        col("alarm")).as[(String, String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    }
    val input2 = MemoryStream[(String, String, Long)]
    val q2 = input2.toDF().toDF("event_type", "day", "cents")
      .writeStream.foreachBatch(seededSink).outputMode("append").start()
    try {
      input2.addData(scrambled.drop(scrambled.size / 2): _*)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(seededLast == want, "seeded resume != full-history end state")
  }

  test("control chart monitor: report after each batch equals batch q122 on the prefix") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    type R = (String, String, Long, Long, Long, Long)
    val facts = Tables.events(spark, TestSpark.Sf)
      .select(col("event_type"),
        col("ts").cast("date").cast("string").as("day"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .as[(String, String, Long)].collect().toSeq

    val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[R])]
    val sink = EventStream.controlChartForeachBatch() { (r, id) =>
      emitted += ((id, r.select(col("event_type"), col("day").cast("string"),
        col("cents"), col("n_ref"), col("center_milli"), col("alarm"))
        .as[(String, String, Long, Long, Long, Long)].collect().toSeq))
    }
    val input = MemoryStream[(String, String, Long)]
    val query = input.toDF().toDF("event_type", "day", "cents")
      .writeStream.foreachBatch(sink).outputMode("append").start()
    // scramble so a day's facts straddle batches AND some reference
    // days arrive AFTER post-reference days (frozen limits must
    // re-derive, not watermark-drop)
    val scrambled = facts.zipWithIndex.sortBy { case (_, i) => i % 5 }.map(_._1)
    val batches = scrambled.grouped(scrambled.size / 4 + 1).toSeq
    try {
      batches.foreach { b => input.addData(b: _*); query.processAllAvailable() }
    } finally query.stop()
    assert(emitted.size == batches.size)

    // per-batch parity against the BATCH kernel over the prefix
    var prefix = Seq.empty[(String, String, Long)]
    batches.zipWithIndex.foreach { case (b, i) =>
      prefix = prefix ++ b
      val daily = prefix.groupBy(r => (r._1, r._2)).toSeq
        .map { case ((et, d), rs) => (et, d, rs.map(_._3).sum) }
        .toDF("event_type", "d", "cents")
        .select(col("event_type"), col("d").cast("date").as("day"),
          col("cents"))
      val want = AnalyticsQueries.controlChart(daily, "2024-01-15")
        .select(col("event_type"), col("day").cast("string"), col("cents"),
          col("n_ref"), col("center_milli"), col("alarm"))
        .as[(String, String, Long, Long, Long, Long)].collect().toSeq
      assert(emitted(i)._2 == want, s"batch $i diverged from batch kernel")
    }

    // full-stream end state equals the oracled batch q122
    val want = AnalyticsQueries.q122ControlChart(spark, TestSpark.Sf)
      .select(col("event_type"), col("day").cast("string"), col("cents"),
        col("n_ref"), col("center_milli"), col("alarm"))
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(emitted.last._2 == want, "end state != batch q122")

    // replayed batch id re-emits without re-folding
    val before = emitted.size
    sink(spark.createDataset(batches.last).toDF("event_type", "day", "cents"),
      (batches.size - 1).toLong)
    assert(emitted.size == before + 1 && emitted.last._2 == want,
      "replayed batch id must re-emit the same frame")
  }

  test("fk orphan gate: verdicts match set membership, audit equals batch q97 arithmetic on the prefix") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val customer = Tables.customer(spark, TestSpark.Sf)
    val custKeys = customer.select(col("c_custkey").cast("long"))
      .as[Long].collect().toSet
    val orders = Tables.orders(spark, TestSpark.Sf)
      .select(col("o_orderkey").cast("long").as("id"),
        col("o_custkey").cast("long").as("k"))
      .as[(Long, Long)].collect().toSeq.sortBy(_._1)
    // planted orphans: child keys guaranteed absent from the parent
    // (TPC-H referential integrity holds by construction, so the
    // corpus alone would exercise only the clean path — the q97
    // census-evidence lesson)
    val maxKey = custKeys.max
    val planted = (1L to 7L).map(i => (-i, maxKey + i))
    val rows = orders ++ planted

    val emittedGate = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Map[Long, Long])]
    val emittedAudit = scala.collection.mutable.ArrayBuffer
      .empty[(Long, (String, Long, Long, Long, Long))]
    val sink = EventStream.fkGateForeachBatch("orders.custkey->customer",
        customer, "c_custkey", "k") { (g, r, id) =>
      emittedGate += ((id,
        g.select("id", "is_orphan").as[(Long, Long)].collect().toMap))
      emittedAudit += ((id,
        r.as[(String, Long, Long, Long, Long)].collect().head))
    }
    val input = MemoryStream[(Long, Long)]
    val query = input.toDF().toDF("id", "k")
      .writeStream.foreachBatch(sink).outputMode("append").start()
    val batches = rows.grouped(rows.size / 3 + 1).toSeq
    try {
      batches.foreach { b => input.addData(b: _*); query.processAllAvailable() }
    } finally query.stop()
    assert(emittedGate.size == batches.size)

    // per-row verdicts = parent-set membership (planted orphans
    // flagged, corpus rows clean), batch by batch
    batches.zipWithIndex.foreach { case (b, i) =>
      val got = emittedGate(i)._2
      assert(got.size == b.size, s"gated frame lost/gained rows at batch $i")
      b.foreach { case (id, k) =>
        assert(got(id) == (if (custKeys(k)) 0L else 1L), s"verdict for $id")
      }
    }
    assert(emittedGate.flatMap(_._2.values).sum == 7L,
      "exactly the planted orphans must be flagged")

    // audit counters = batch q97 integer arithmetic over the prefix
    var nc = 0L
    var no = 0L
    batches.zipWithIndex.foreach { case (b, i) =>
      nc += b.size
      no += b.count { case (_, k) => !custKeys(k) }
      val (_, gn, _, go, gp) = emittedAudit(i)._2
      assert((gn, go, gp) == (nc, no, no * 1000000L / nc), s"audit at batch $i")
    }

    // distinct-keys estimate = the equal-lgK batch sketch over the
    // same prefix (register-identical union, the q71-pinned identity)
    val wantEst = spark.createDataset(rows.map(_._2)).toDF("k")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("k"))))
      .as[Long].collect().head
    assert(emittedAudit.last._2._3 == wantEst,
      "HLL key census diverged from the batch sketch")

    // replayed batch id re-emits the same audit without re-folding
    val before = emittedAudit.last._2
    sink(spark.createDataset(batches.last).toDF("id", "k"),
      (batches.size - 1).toLong)
    assert(emittedAudit.last._2 == before,
      "replayed batch id must re-emit, not double-count")
  }

  test("k-anon monitor: report after each batch equals batch q96 arithmetic on the prefix") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cust = Tables.customer(spark, TestSpark.Sf)
      .select(col("c_mktsegment").as("segment"),
        col("c_nationkey").cast("long").as("nationkey"),
        Exact.e(col("c_acctbal"), 2).cast("long").as("bal_cents"))
      .as[(String, Long, Long)].collect().toSeq
    val natNames = Tables.nation(spark, TestSpark.Sf)
      .select(col("n_nationkey").cast("long"), col("n_name"))
      .as[(Long, String)].collect().toMap

    val stateDir = java.nio.file.Files.createTempDirectory("graft_kanon").toString
    type Row6 = (String, String, Long, Long, Long, Long)
    val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Row6])]
    val nationDf = Tables.nation(spark, TestSpark.Sf)
    val sink = EventStream.kanonForeachBatch(stateDir, nationDf) { (b, id) =>
      emitted += ((id, b.as[(String, String, Long, Long, Long, Long)].collect().toSeq))
    }
    val input = MemoryStream[(String, Long, Long)]
    val query = input.toDF().toDF("segment", "nationkey", "bal_cents")
      .writeStream.foreachBatch(sink).outputMode("append").start()
    val batches = cust.grouped(cust.size / 3 + 1).toSeq
    try {
      batches.foreach { b => input.addData(b: _*); query.processAllAvailable() }
    } finally query.stop()
    assert(emitted.size == batches.size)

    // reference: q96's exact rules over the prefix
    def expect(prefix: Seq[(String, Long, Long)]): Seq[Row6] = {
      val rows = prefix.groupBy(r => (r._1, r._2)).toSeq
        .map { case ((s, nk), rs) =>
          (s, natNames(nk), rs.size.toLong,
            rs.map(_._3).distinct.size.toLong,
            if (rs.size < 10) 1L else 0L)
        }.sortBy(r => (r._1, r._2))
      val tot = rows.filter(_._5 == 1L).map(_._3).sum
      rows.map { case (s, nm, n, l, ar) => (s, nm, n, l, ar, tot) }
    }
    var prefix = Seq.empty[(String, Long, Long)]
    batches.zipWithIndex.foreach { case (b, i) =>
      prefix = prefix ++ b
      assert(emitted(i)._2 == expect(prefix), s"batch $i diverged")
    }

    // full-stream end state equals the oracled batch q96
    val want = AnalyticsQueries.q96KanonAudit(spark, TestSpark.Sf)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(emitted.last._2 == want, "end state != batch q96")

    // replayed batch id re-emits from state without re-folding
    val before = emitted.size
    sink(spark.createDataset(batches.last).toDF("segment", "nationkey", "bal_cents"),
      (batches.size - 1).toLong)
    assert(emitted.size == before + 1 && emitted.last._2 == want,
      "replayed batch id must re-emit the same report")

    // restart recovery: a FRESH sink on the same stateDir adopts the
    // committed state, and the redelivered last batch id is a no-op
    // fold (the moment Structured Streaming redelivers after a crash)
    var last2: Seq[Row6] = Nil
    val sink2 = EventStream.kanonForeachBatch(stateDir, nationDf) { (b, _) =>
      last2 = b.as[(String, String, Long, Long, Long, Long)].collect().toSeq
    }
    sink2(spark.createDataset(batches.last).toDF("segment", "nationkey", "bal_cents"),
      (batches.size - 1).toLong)
    assert(last2 == want, "post-restart redelivery must resume, not reset")
  }

  test("lang-budget service: frame after each batch equals batch t31 on the prefix") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStream
    val docs = Tables.documents(spark, TestSpark.Sf)
      .select("doc_id", "text", "lang")
      .as[(Long, String, String)].collect().toSeq

    val stateDir = java.nio.file.Files.createTempDirectory("graft_budget").toString
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Seq[(String, Long, Long, Long, Long, Long, Long, Long, Long)])]
    val sink = EventStream.langBudgetForeachBatch(stateDir) { (b, id) =>
      emitted += ((id, b.as[(String, Long, Long, Long, Long, Long, Long, Long, Long)].collect().toSeq))
    }
    val input = MemoryStream[(Long, String, String)]
    val query = input.toDF().toDF("doc_id", "text", "lang")
      .writeStream.foreachBatch(sink).outputMode("append").start()
    val batches = docs.grouped(docs.size / 3 + 1).toSeq
    try {
      batches.foreach { b => input.addData(b: _*); query.processAllAvailable() }
    } finally query.stop()
    assert(emitted.size == batches.size)

    // per-batch parity: the merged parquet state must reproduce a full
    // recompute of both kernels over the prefix (state folding is
    // lossless count addition)
    var prefix = Seq.empty[(Long, String, String)]
    batches.zipWithIndex.foreach { case (b, i) =>
      prefix = prefix ++ b
      val df = prefix.toDF("doc_id", "text", "lang")
      val counts = df
        .withColumn("text_norm", graft.etl.TextNorm.normalizeText(col("text")))
        .select(col("lang"), explode(split(col("text_norm"), " ")).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy("lang", "token").agg(count(lit(1)).as("n"))
      val want = TrainingDataQueries
        .alphaMixFromLangCounts(df.groupBy("lang").agg(count(lit(1)).as("n_docs")))
        .join(TrainingDataQueries.coverageFromTokenCounts(counts, "lang")
          .select("lang", "p50_vocab", "p90_vocab", "p99_vocab",
            "vocab_total", "tokens_total"), Seq("lang"))
        .orderBy("lang").as[(String, Long, Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
      assert(emitted(i)._2 == want, s"batch $i diverged from prefix recompute")
    }
    // end state: bit-identical to the oracled batch t31 on the full table
    val wantFull = TrainingDataQueries.t31LangBudget(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(emitted.last._2 == wantFull, "final frame != batch t31")
  }

  test("histogram artifact stream: day partitions converge to the one-shot batch histogram") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStream
    import graft.sources.SketchStore
    val ev = Tables.events(spark, TestSpark.Sf)
      .select(to_date(col("ts")).as("day"), col("event_type"),
        least(lit(9L), expr(
          "cast(round(value * 100, 0) as bigint) div 5000")).as("v"))
      .as[(java.sql.Date, String, Long)].collect().toSeq

    val dir = java.nio.file.Files.createTempDirectory("graft_histart").toString + "/h"
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val sink = EventStream.histogramArtifactForeachBatch(dir, Seq("event_type")) {
      id => seen += id
    }
    val input = MemoryStream[(java.sql.Date, String, Long)]
    val query = input.toDF().toDF("day", "event_type", "v")
      .writeStream.foreachBatch(sink).outputMode("append").start()
    // deliberately NOT day-contiguous batches: days straddle batches,
    // so the dynamic-partition merge path is exercised, not just appends
    val batches = ev.grouped(ev.size / 3 + 1).toSeq
    try {
      batches.foreach { b => input.addData(b: _*); query.processAllAvailable() }
    } finally query.stop()
    assert(seen.size == batches.size)

    // the maintained artifact is bit-identical to a one-shot batch build
    val got = spark.read.parquet(dir)
      .select("day", "event_type", "v", "cnt")
      .as[(java.sql.Date, String, Long, Long)].collect().toSet
    val want = ev.toDF("day", "event_type", "v")
      .groupBy("day", "event_type", "v").agg(count(lit(1)).as("cnt"))
      .as[(java.sql.Date, String, Long, Long)].collect().toSet
    assert(got == want, "streamed artifact != batch histogram")

    // and the q75 consumer over the STREAMED artifact reproduces q58
    def window(pred: org.apache.spark.sql.Column) =
      spark.read.parquet(dir).filter(pred)
        .groupBy("event_type", "v").agg(sum("cnt").as("cnt"))
    val drift = SketchStore.tvDriftFromHistograms(
        window(col("day") <= "2024-01-15"), window(col("day") >= "2024-01-16"),
        Seq("event_type"))
      .orderBy("event_type")
      .as[(String, Long, Long, Long)].collect().toSeq
    val q58 = AnalyticsQueries.q58Drift(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(drift == q58, "drift from streamed artifact != batch q58")
  }

  test("top-k artifact stream: day buffers converge to the one-shot batch build") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStream
    import graft.sources.SketchStore
    val ev = Tables.events(spark, TestSpark.Sf)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .as[(String, String)].collect().toSeq

    val dir = java.nio.file.Files.createTempDirectory("graft_topkart").toString + "/t"
    val sink = EventStream.topkArtifactForeachBatch(dir, capacity = 64)()
    val input = MemoryStream[(String, String)]
    val query = input.toDF().toDF("day", "item")
      .writeStream.foreachBatch(sink).outputMode("append").start()
    val batches = ev.grouped(ev.size / 3 + 1).toSeq
    try {
      batches.foreach { b => input.addData(b: _*); query.processAllAvailable() }
    } finally query.stop()

    // bit-identical to a one-shot batch build over the whole stream
    // (capacity >> domain: counts add exactly, no evictions)
    val batchDir = java.nio.file.Files.createTempDirectory("graft_topkb").toString + "/t"
    SketchStore.saveTopKGrouped(ev.toDF("day", "item"),
      col("day"), col("item"), capacity = 64, dir = batchDir)
    def rows(d: String) = spark.read.parquet(d)
      .select(col("grp").cast("string"), col("item"), col("cnt"))
      .as[(String, String, Long)].collect().toSet
    assert(rows(dir) == rows(batchDir), "streamed artifact != batch artifact")

    // and the q74 consumer over the streamed artifact is exact
    val merged = SketchStore.mergeTopKGroups(spark, dir, k = 3,
      col("grp") <= "2024-01-10")
    val exact = ev.filter(_._1 <= "2024-01-10").map(_._2)
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (it, n) => (-n, it) }.take(3)
      .map { case (it, n) => (it, n) }
    assert(merged == exact, s"consumer diverged: $merged vs $exact")
  }

  test("restart recovery: post-restart replayed batches merge nothing (durable stamps/state)") {
    import spark.implicits._
    import graft.streaming.EventStream
    // Structured Streaming REDELIVERS the last uncommitted batch after
    // a crash — exactly when a fresh JVM's in-memory replay guard is
    // gone. foreachBatch sinks are plain (DataFrame, Long) => Unit, so
    // a restart is simulated by a NEW closure over the same dirs and a
    // replayed batch id.

    // 1. histogram artifact: counts are not replay-idempotent — the
    //    durable batch stamp must reject the redelivery
    val ev = Tables.events(spark, TestSpark.Sf)
      .select(to_date(col("ts")).as("day"), col("event_type"),
        least(lit(9L), expr(
          "cast(round(value * 100, 0) as bigint) div 5000")).as("v"))
      .as[(java.sql.Date, String, Long)].collect().toSeq
    val hb = ev.grouped(ev.size / 3 + 1).toSeq
    val hdir = java.nio.file.Files.createTempDirectory("graft_hrec").toString + "/h"
    def hdf(b: Seq[(java.sql.Date, String, Long)]) =
      b.toDF("day", "event_type", "v")
    val hsink1 = EventStream.histogramArtifactForeachBatch(hdir, Seq("event_type"))()
    hsink1(hdf(hb(0)), 0); hsink1(hdf(hb(1)), 1)
    def hrows() = spark.read.parquet(hdir)
      .select("day", "event_type", "v", "cnt")
      .as[(java.sql.Date, String, Long, Long)].collect().toSet
    val afterB1 = hrows()
    val hsink2 = EventStream.histogramArtifactForeachBatch(hdir, Seq("event_type"))()
    hsink2(hdf(hb(1)), 1) // post-restart redelivery
    assert(hrows() == afterB1, "replayed batch double-counted after restart")
    hsink2(hdf(hb(2)), 2) // and genuinely-new batches still fold
    val wantH = ev.toDF("day", "event_type", "v")
      .groupBy("day", "event_type", "v").agg(count(lit(1)).as("cnt"))
      .as[(java.sql.Date, String, Long, Long)].collect().toSet
    assert(hrows() == wantH, "post-restart artifact != one-shot batch")

    // 2. top-k artifact: same stamp contract
    val tev = Tables.events(spark, TestSpark.Sf)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .as[(String, String)].collect().toSeq
    val tb = tev.grouped(tev.size / 3 + 1).toSeq
    val tdir = java.nio.file.Files.createTempDirectory("graft_trec").toString + "/t"
    val tsink1 = EventStream.topkArtifactForeachBatch(tdir, capacity = 64)()
    tsink1(tb(0).toDF("day", "item"), 0); tsink1(tb(1).toDF("day", "item"), 1)
    def trows() = spark.read.parquet(tdir)
      .select(col("grp").cast("string"), col("item"), col("cnt"))
      .as[(String, String, Long)].collect().toSet
    val tAfterB1 = trows()
    val tsink2 = EventStream.topkArtifactForeachBatch(tdir, capacity = 64)()
    tsink2(tb(1).toDF("day", "item"), 1)
    assert(trows() == tAfterB1, "replayed top-k batch double-counted after restart")
    tsink2(tb(2).toDF("day", "item"), 2)
    val batchDir = java.nio.file.Files.createTempDirectory("graft_trecb").toString + "/t"
    graft.sources.SketchStore.saveTopKGrouped(tev.toDF("day", "item"),
      col("day"), col("item"), capacity = 64, dir = batchDir)
    val wantT = spark.read.parquet(batchDir)
      .select(col("grp").cast("string"), col("item"), col("cnt"))
      .as[(String, String, Long)].collect().toSet
    assert(trows() == wantT, "post-restart top-k artifact != batch artifact")

    // 3. lang-budget service: a fresh closure must RECOVER
    //    (tokDir, lastBatch, langCounts) from the versioned state
    //    instead of resetting — redelivery re-emits, new batches
    //    resume the merge, final frame == batch t31
    val docs = Tables.documents(spark, TestSpark.Sf)
      .select("doc_id", "text", "lang")
      .as[(Long, String, String)].collect().toSeq
    val db = docs.grouped(docs.size / 3 + 1).toSeq
    val sdir = java.nio.file.Files.createTempDirectory("graft_brec").toString
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Seq[(String, Long, Long, Long, Long, Long, Long, Long, Long)])]
    val bsink1 = EventStream.langBudgetForeachBatch(sdir) { (b, id) =>
      emitted += ((id, b.as[(String, Long, Long, Long, Long, Long, Long, Long, Long)].collect().toSeq))
    }
    bsink1(db(0).toDF("doc_id", "text", "lang"), 0)
    bsink1(db(1).toDF("doc_id", "text", "lang"), 1)
    val frameAtB1 = emitted.last._2
    val bsink2 = EventStream.langBudgetForeachBatch(sdir) { (b, id) =>
      emitted += ((id, b.as[(String, Long, Long, Long, Long, Long, Long, Long, Long)].collect().toSeq))
    }
    bsink2(db(1).toDF("doc_id", "text", "lang"), 1) // redelivery
    assert(emitted.last._2 == frameAtB1,
      "post-restart redelivery changed the budget frame (state reset or double count)")
    bsink2(db(2).toDF("doc_id", "text", "lang"), 2)
    val wantFull = TrainingDataQueries.t31LangBudget(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(emitted.last._2 == wantFull,
      "final frame after restart != batch t31 on the full table")
  }

  test("seed-resumed monitors: durable stateDir gives kill/restart parity") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    // Each of the six driver-held monitors (and the parquet-state
    // kanon/langBudget monitors, eight in all), run three ways over the
    // same 3-batch stream: (U) uninterrupted, (A) killed after batch 1,
    // (B) a FRESH closure on A's stateDir that sees the redelivered
    // batch 1 then batch 2. Contract: B's redelivery emission == U's
    // batch-1 emission (state recovered, fold skipped — no reset, no
    // double count) and B's final emission == U's final emission.
    val base = java.nio.file.Files.createTempDirectory("graft_mon").toString
    def frames(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString)
    // generic runner: `make(stateDir)(onFrame)` returns the sink
    def run(make: Option[String] => ((DataFrame, Long) => Unit) => (DataFrame, Long) => Unit,
            batches: Seq[DataFrame], dir: String, name: String): Unit = {
      val u = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      val uSink = make(None) { (f, _) => u += frames(f) }
      batches.zipWithIndex.foreach { case (b, i) => uSink(b, i.toLong) }

      val a = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      val aSink = make(Some(dir)) { (f, _) => a += frames(f) }
      aSink(batches(0), 0L); aSink(batches(1), 1L)
      assert(a == u.take(2), s"$name: durable run diverged pre-kill")

      val b = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      val bSink = make(Some(dir)) { (f, _) => b += frames(f) }
      bSink(batches(1), 1L) // post-crash redelivery
      assert(b.last == u(1),
        s"$name: post-restart redelivery != uninterrupted batch-1 frame " +
          "(state reset or double count)")
      bSink(batches(2), 2L)
      assert(b.last == u(2),
        s"$name: post-restart final frame != uninterrupted final frame")
      // push the committed stamp far ahead, then: a SMALL id gap is a
      // checkpoint rewind (re-emit from recovered state, no re-fold)...
      bSink(batches(2), 100L)
      val stateAt100 = b.last
      val d = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      val dSink = make(Some(dir)) { (f, _) => d += frames(f) }
      dSink(batches(0), 50L) // gap 50 ≤ tolerance: rewind, skip-fold
      assert(d.last == stateAt100,
        s"$name: rewind replay must re-emit recovered state unchanged")
      // ...while a LARGE gap (fresh checkpoint, ids reset to 0, against
      // old state) must fail LOUDLY, not silently no-op every fold
      val cSink = make(Some(dir)) { (_, _) => () }
      val e = intercept[IllegalStateException] { cSink(batches(0), 0L) }
      assert(e.getMessage.contains("fresh checkpoint") ||
        e.getMessage.contains("reset the state dir"),
        s"$name: wrong guard message: ${e.getMessage}")
      // ...and the SYMMETRIC mismatch — a state dir restored from an
      // OLDER backup than the checkpoint (delivered id far AHEAD of
      // the snapshot) must fail too, not silently adopt stale counts
      // and lose every batch in the gap
      val fSink = make(Some(dir)) { (_, _) => () }
      val e2 = intercept[IllegalStateException] { fSink(batches(0), 400L) }
      assert(e2.getMessage.contains("older backup"),
        s"$name: wrong ahead-gap guard message: ${e2.getMessage}")
    }

    // 1. alpha-mix (lang histogram)
    val langs = Seq("en", "de", "fr", "en", "en", "de", "xx", "en", "fr")
    val langBatches = langs.zipWithIndex
      .map { case (l, i) => (i.toLong, l) }.grouped(3).toSeq
      .map(g => g.toDF("doc_id", "lang"))
    run(sd => EventStream.alphaMixForeachBatch(stateDir = sd),
      langBatches, s"$base/alpha", "alphaMix")

    // 2. benford (digit histogram)
    val centsBatches = Seq(Seq(123L, 911L, 47L), Seq(15L, 23L, 88L, 101L),
      Seq(6L, 64L, 700L)).map(_.toDF("cents"))
    run(sd => EventStream.benfordForeachBatch(stateDir = sd),
      centsBatches, s"$base/benford", "benford")

    // 3. cusum ((event_type, day) cents histogram)
    val cusumBatches = Seq(
      Seq(("click", "2024-01-01", 100L), ("click", "2024-01-02", 900L)),
      Seq(("click", "2024-01-03", 120L), ("view", "2024-01-01", 50L)),
      Seq(("click", "2024-01-02", 30L), ("view", "2024-01-02", 55L)))
      .map(_.toDF("event_type", "day", "cents"))
    run(sd => EventStream.cusumForeachBatch(stateDir = sd),
      cusumBatches, s"$base/cusum", "cusum")

    // 4. chi-square (segment × nation contingency cells)
    val nation = Seq((0L, "ALGERIA"), (1L, "ARGENTINA"), (2L, "BRAZIL"))
      .toDF("n_nationkey", "n_name")
    val chiBatches = Seq(
      Seq(("BUILDING", 0L), ("BUILDING", 1L), ("MACHINERY", 2L)),
      Seq(("MACHINERY", 0L), ("BUILDING", 0L), ("MACHINERY", 1L)),
      Seq(("BUILDING", 2L), ("MACHINERY", 2L)))
      .map(_.toDF("segment", "nationkey"))
    run(sd => EventStream.chiSquareForeachBatch(nation, stateDir = sd),
      chiBatches, s"$base/chi", "chiSquare")

    // 5. skyline ((brand, price) min-size histogram)
    val skyBatches = Seq(
      Seq(("acme", 100L, 9L), ("acme", 200L, 5L), ("bolt", 150L, 7L)),
      Seq(("acme", 100L, 4L), ("bolt", 120L, 8L)),
      Seq(("acme", 300L, 2L), ("bolt", 150L, 3L)))
      .map(_.toDF("brand", "price_cents", "size"))
    run(sd => EventStream.skylineForeachBatch(stateDir = sd),
      skyBatches, s"$base/sky", "skyline")

    // 6. control chart ((event_type, day) cents histogram, frozen
    //    limits — the sixth monitor joins the uniform contract; the
    //    mid-stream reference/post-reference day mix exercises the
    //    frozen-limit recompute across restarts)
    val chartBatches = Seq(
      Seq(("click", "2024-01-01", 100L), ("click", "2024-01-02", 104L),
        ("click", "2024-01-03", 96L)),
      Seq(("click", "2024-01-04", 101L), ("click", "2024-01-20", 990L)),
      Seq(("click", "2024-01-02", 2L), ("view", "2024-01-01", 50L)))
      .map(_.toDF("event_type", "day", "cents"))
    run(sd => EventStream.controlChartForeachBatch(stateDir = sd),
      chartBatches, s"$base/chart", "controlChart")

    // 7. k-anonymity and 8. lang budget (parquet state beside a
    //    driver histogram; their stateDir is required, so the
    //    uninterrupted run gets its own dir): the same restart, rewind
    //    and gap-guard contract
    val kanonBatches = Seq(
      Seq(("BUILDING", 0L, 100L), ("BUILDING", 0L, 250L), ("MACHINERY", 1L, 7L)),
      Seq(("BUILDING", 0L, 100L), ("MACHINERY", 2L, 9L)),
      Seq(("MACHINERY", 1L, 8L), ("BUILDING", 2L, 100L)))
      .map(_.toDF("segment", "nationkey", "bal_cents"))
    run(sd => EventStream.kanonForeachBatch(sd.getOrElse(s"$base/kanon_u"), nation),
      kanonBatches, s"$base/kanon", "kanon")
    val budgetBatches = Seq(
      Seq((0L, "the cat sat", "en"), (1L, "der hund", "de")),
      Seq((2L, "the dog ran far", "en"), (3L, "le chat", "fr")),
      Seq((4L, "die katze", "de"), (5L, "the end", "en")))
      .map(_.toDF("doc_id", "text", "lang"))
    run(sd => EventStream.langBudgetForeachBatch(sd.getOrElse(s"$base/budget_u")),
      budgetBatches, s"$base/budget", "langBudget")

    // 9. the key-domain bound fails FAST with the contract named,
    //    instead of growing driver state until the heap fails late —
    //    for every driver-held monitor; and a tripped cap commits
    //    nothing, so re-invoking the same batch id re-folds and trips
    //    again instead of emitting the over-cap state
    def capped(name: String,
               make: Int => ((DataFrame, Long) => Unit) => (DataFrame, Long) => Unit,
               keys: Range => DataFrame): Unit = {
      val g = intercept[IllegalStateException] {
        make(4)((_, _) => ())(keys(0 until 10), 0L)
      }
      assert(g.getMessage.contains("configuration-scale"),
        s"$name: bound guard message: ${g.getMessage}")
      // 3 + 3 keys: each batch fits the cap of 4, the two together do not
      val sink = make(4)((_, _) => ())
      sink(keys(0 until 3), 0L)
      intercept[IllegalStateException] { sink(keys(3 until 6), 1L) }
      val again = intercept[IllegalStateException] { sink(keys(3 until 6), 1L) }
      assert(again.getMessage.contains("configuration-scale"),
        s"$name: re-invoked over-cap batch must trip the cap again: ${again.getMessage}")
    }
    capped("alphaMix", m => EventStream.alphaMixForeachBatch(maxKeys = m),
      r => r.map(i => (i.toLong, s"l$i")).toDF("doc_id", "lang"))
    capped("benford", m => EventStream.benfordForeachBatch(maxKeys = m),
      r => r.map(i => (i + 1).toLong).toDF("cents"))
    capped("cusum", m => EventStream.cusumForeachBatch(maxKeys = m),
      r => r.map(i => (s"et$i", "2024-01-01", 1L)).toDF("event_type", "day", "cents"))
    capped("controlChart", m => EventStream.controlChartForeachBatch(maxKeys = m),
      r => r.map(i => (s"et$i", "2024-01-01", 1L)).toDF("event_type", "day", "cents"))
    capped("chiSquare", m => EventStream.chiSquareForeachBatch(nation, maxKeys = m),
      r => r.map(i => (s"S$i", i % 3L)).toDF("segment", "nationkey"))
    capped("skyline", m => EventStream.skylineForeachBatch(maxKeys = m),
      r => r.map(i => (s"b$i", 100L, 1L)).toDF("brand", "price_cents", "size"))
  }

  test("artifact maintainers survive an empty first batch (no data-less dir commit)") {
    import spark.implicits._
    import graft.streaming.EventStream
    // empty micro-batches are normal; an unguarded write would commit
    // a directory with _SUCCESS and no parquet footers, and the NEXT
    // batch's merge read would fail schema inference forever
    val base = java.nio.file.Files.createTempDirectory("graft_empty").toString
    val evH = Tables.events(spark, TestSpark.Sf)
      .select(to_date(col("ts")).as("day"), col("event_type"),
        least(lit(9L), expr(
          "cast(round(value * 100, 0) as bigint) div 5000")).as("v"))
      .as[(java.sql.Date, String, Long)].collect().toSeq.take(200)
    val hs = EventStream.histogramArtifactForeachBatch(
      base + "/h", Seq("event_type"))()
    hs(Seq.empty[(java.sql.Date, String, Long)].toDF("day", "event_type", "v"), 0)
    hs(evH.toDF("day", "event_type", "v"), 1)
    assert(spark.read.parquet(base + "/h").count() > 0)

    val evT = Tables.events(spark, TestSpark.Sf)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .as[(String, String)].collect().toSeq.take(200)
    val ts = EventStream.topkArtifactForeachBatch(base + "/t", capacity = 64)()
    ts(Seq.empty[(String, String)].toDF("day", "item"), 0)
    ts(evT.toDF("day", "item"), 1)
    assert(spark.read.parquet(base + "/t").count() > 0)

    val cs = EventStream.cmsArtifactForeachBatch(base + "/c")()
    cs(Seq.empty[(String, String)].toDF("day", "item"), 0)
    cs(evT.toDF("day", "item"), 1)
    assert(spark.read.parquet(base + "/c").count() > 0)

    // quota gate with an empty FIRST batch: nothing to flag, no
    // artifact to adopt yet — and the next real batch adopts + flags
    val flags = scala.collection.mutable.ArrayBuffer.empty[Long]
    val qs = EventStream.cmsQuotaForeachBatch(base + "/q", quota = 0L) {
      (f, _) => flags += f.count()
    }
    qs(Seq.empty[(String, String)].toDF("day", "item"), 0)
    qs(evT.toDF("day", "item"), 1)
    assert(flags.toSeq.head == 0L && flags.toSeq.last > 0L,
      s"quota gate empty-first-batch handling broke: $flags")
  }

  test("CMS artifact stream: estimates converge to the one-shot build; quota gate never misses") {
    import spark.implicits._
    import graft.streaming.EventStream
    import graft.sources.SketchStore
    val ev = Tables.events(spark, TestSpark.Sf)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("user_id").cast("string").as("item"))
      .as[(String, String)].collect().toSeq
    val batches = ev.grouped(ev.size / 3 + 1).toSeq
    val probes = ev.map(_._2).distinct.sorted
    val exact = ev.map(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap

    // maintained artifact ≡ one-shot batch build on every point query
    val dir = java.nio.file.Files.createTempDirectory("graft_cmsart").toString + "/c"
    val sink = EventStream.cmsArtifactForeachBatch(dir)()
    batches.zipWithIndex.foreach { case (b, i) => sink(b.toDF("day", "item"), i.toLong) }
    val oneDir = java.nio.file.Files.createTempDirectory("graft_cmsone").toString + "/c"
    SketchStore.saveCmsGrouped(ev.toDF("day", "item"), col("day"), col("item"), oneDir)
    val (streamed, nS) = SketchStore.cmsEstimates(spark, dir, lit(true), probes)
    val (oneShot, nO) = SketchStore.cmsEstimates(spark, oneDir, lit(true), probes)
    assert(nS == nO && nS == ev.size, s"item counts diverged: $nS vs $nO vs ${ev.size}")
    assert(streamed == oneShot, "streamed CMS estimates != one-shot build")

    // post-restart redelivery merges nothing (durable stamp)
    val sink2 = EventStream.cmsArtifactForeachBatch(dir)()
    sink2(batches.last.toDF("day", "item"), (batches.size - 1).toLong)
    val (replayed, nR) = SketchStore.cmsEstimates(spark, dir, lit(true), probes)
    assert(nR == nS && replayed == streamed, "replayed batch double-merged")

    // quota gate: flags accumulate across batches; any user whose TRUE
    // total crosses the quota is flagged (est >= exact), and every
    // flag is within the eps band of a real crossing
    val qdir = java.nio.file.Files.createTempDirectory("graft_cmsq").toString + "/c"
    val quota = exact.values.toSeq.sorted.apply(exact.size / 2) // median total
    val flagged = scala.collection.mutable.Set.empty[String]
    val qsink = EventStream.cmsQuotaForeachBatch(qdir, quota) { (f, _) =>
      flagged ++= f.select("item").as[String].collect()
    }
    batches.zipWithIndex.foreach { case (b, i) => qsink(b.toDF("day", "item"), i.toLong) }
    val mustFlag = exact.filter(_._2 > quota).keySet
    assert(mustFlag.subsetOf(flagged),
      s"quota gate missed true violators: ${mustFlag -- flagged}")
    val band = math.ceil(0.0005 * ev.size).toLong
    flagged.foreach { u =>
      assert(exact(u) > quota - band,
        s"false alarm beyond the eps band: $u exact ${exact(u)} quota $quota")
    }

    // checkpoint rewind: a FRESH quota closure replaying the whole
    // prefix adopts the grid once (which already contains every
    // batch via the durable stamp) and must not re-fold the replayed
    // batches — estimates after the final replay equal the first
    // run's exactly, not ~double
    var lastRun1 = Map.empty[String, Long]
    val qcheck1 = EventStream.cmsQuotaForeachBatch(qdir, quota) { (f, _) =>
      lastRun1 = f.select("item", "est_n").as[(String, Long)].collect().toMap
    }
    qcheck1(batches.last.toDF("day", "item"), (batches.size - 1).toLong)
    var lastRun2 = Map.empty[String, Long]
    val qcheck2 = EventStream.cmsQuotaForeachBatch(qdir, quota) { (f, _) =>
      lastRun2 = f.select("item", "est_n").as[(String, Long)].collect().toMap
    }
    batches.zipWithIndex.foreach { case (b, i) =>
      qcheck2(b.toDF("day", "item"), i.toLong)
    }
    assert(lastRun2 == lastRun1,
      s"rewind replay double-counted: ${lastRun2.take(3)} vs ${lastRun1.take(3)}")
  }

  test("cell-grid CMS stream: forget batches decrement to the retained build") {
    import spark.implicits._
    import graft.streaming.EventStream
    import graft.sources.SketchStore
    val ev = Tables.events(spark, TestSpark.Sf)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("user_id").cast("string").as("item"))
      .as[(String, String)].collect().toSeq
    def gridOf(dir: String) = {
      val (g, d, w) = SketchStore.mergedCmsCells(spark, dir, lit(true))
      assert(d == 4 && w == 512)
      g.as[(Int, Long, Long)].collect().toSet
    }
    def estOf(dir: String, probes: Seq[String]) = {
      val (g, d, w) = SketchStore.mergedCmsCells(spark, dir, lit(true))
      SketchStore.cmsCellEstimates(probes.toDF("item"), col("item"), g,
        depth = d, width = w).as[(String, Long)].collect().toMap
    }
    val probes = ev.map(_._2).distinct.sorted

    val dir = java.nio.file.Files.createTempDirectory("graft_cmscell").toString + "/c"
    val sink = EventStream.cmsCellsForeachBatch(dir)()
    // empty first batch: no data-less dir commit
    sink(Seq.empty[(String, String, Long)].toDF("day", "item", "wt"), 0)
    assert(!new java.io.File(dir).exists(), "empty batch committed a dir")
    // insert batches converge to the one-shot build
    val batches = ev.map { case (d, it) => (d, it, 1L) }
      .grouped(ev.size / 3 + 1).toSeq
    batches.zipWithIndex.foreach { case (b, i) =>
      sink(b.toDF("day", "item", "wt"), i + 1L)
    }
    val oneAll = java.nio.file.Files.createTempDirectory("graft_cmsall").toString + "/c"
    SketchStore.saveCmsCellsGrouped(ev.toDF("day", "item"),
      col("day"), col("item"), dir = oneAll)
    assert(gridOf(dir) == gridOf(oneAll),
      "maintained grid != one-shot build after inserts")

    // THE forget pin: stream a weight −1 batch of the forgotten
    // users' events; the artifact must thereafter equal a rebuild
    // over the retained stream — grid AND estimates
    val forget = ev.filter(_._2.toLong % 13 == 0)
    assert(forget.nonEmpty)
    sink(forget.map { case (d, it) => (d, it, -1L) }
      .toDF("day", "item", "wt"), batches.size + 1L)
    val retained = ev.filterNot(_._2.toLong % 13 == 0)
    val oneRet = java.nio.file.Files.createTempDirectory("graft_cmsret").toString + "/c"
    SketchStore.saveCmsCellsGrouped(retained.toDF("day", "item"),
      col("day"), col("item"), dir = oneRet)
    assert(gridOf(dir) == gridOf(oneRet),
      "post-forget grid != rebuild over retained stream")
    assert(estOf(dir, probes) == estOf(oneRet, probes))

    // post-restart redelivery of the forget batch merges nothing
    val sink2 = EventStream.cmsCellsForeachBatch(dir)()
    sink2(forget.map { case (d, it) => (d, it, -1L) }
      .toDF("day", "item", "wt"), batches.size + 1L)
    assert(gridOf(dir) == gridOf(oneRet), "replayed forget batch re-decremented")

    // fully-netted day: erase EVERY event of one day — the day's
    // partition must rewrite (zero rows persisted), not survive stale
    val day0 = ev.map(_._1).min
    val day0Rows = retained.filter(_._1 == day0)
    sink2(day0Rows.map { case (d, it) => (d, it, -1L) }
      .toDF("day", "item", "wt"), batches.size + 2L)
    val day0Grid = spark.read.parquet(dir).filter(col("grp") === day0)
    assert(day0Grid.count() > 0, "netted day vanished from the artifact")
    assert(day0Grid.filter(col("cnt") =!= 0).count() == 0,
      s"stale cells survived the full-day erasure on $day0")
    val exactAfter = retained.filterNot(_._1 == day0)
      .map(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    estOf(dir, probes).foreach { case (it, est) =>
      assert(est >= exactAfter.getOrElse(it, 0L),
        s"$it undercounted after the day purge")
    }

    // parameter drift fails loudly (batch id within the rewind/ahead
    // tolerance so the stamp-coherence guards don't fire first)
    intercept[IllegalArgumentException] {
      EventStream.cmsCellsForeachBatch(dir, depth = 2, width = 64)()(
        Seq((day0, "x", 1L)).toDF("day", "item", "wt"), batches.size + 3L)
    }
  }

  test("churn alert stream: final frame equals the batch q80 consumer") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStream
    import graft.sources.SketchStore
    val ev = Tables.events(spark, TestSpark.Sf)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .as[(String, String)].collect().toSeq

    val dir = java.nio.file.Files.createTempDirectory("graft_churn").toString + "/t"
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Seq[(String, Long, Long, Long)])]
    val sink = EventStream.topkChurnForeachBatch(dir, capacity = 64) { (f, id) =>
      emitted += ((id, f.as[(String, Long, Long, Long)].collect().toSeq))
    }
    val input = MemoryStream[(String, String)]
    val query = input.toDF().toDF("day", "item")
      .writeStream.foreachBatch(sink).outputMode("append").start()
    val batches = ev.grouped(ev.size / 3 + 1).toSeq
    try {
      batches.foreach { b => input.addData(b: _*); query.processAllAvailable() }
    } finally query.stop()
    assert(emitted.size == batches.size)

    // the batch path: one-shot artifact + the same rollup/set algebra
    val batchDir = java.nio.file.Files.createTempDirectory("graft_churnb").toString + "/t"
    SketchStore.saveTopKGrouped(ev.toDF("day", "item"),
      col("day"), col("item"), capacity = 64, dir = batchDir)
    val topk = SketchStore.mergeTopKRollup(spark, batchDir, k = 3, rollup = { d =>
      val ld = java.time.LocalDate.parse(d)
      ld.minusDays(ld.getDayOfWeek.getValue - 1L).toString
    }).map { case (wk, it, _) => (wk, it) }
    val weeks = topk.map(_._1).distinct.sorted
    val byWeek = topk.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val want = weeks.zip(weeks.drop(1)).map { case (pw, w) =>
      val (cur, prv) = (byWeek(w), byWeek(pw))
      (w, (cur -- prv).size.toLong, (prv -- cur).size.toLong,
        (cur & prv).size.toLong)
    }
    assert(emitted.last._2 == want,
      s"streamed churn ${emitted.last._2} != batch $want")
  }

  test("overlap refresh: matrix after each batch equals batch q73 on the prefix") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = Tables.events(spark, TestSpark.Sf)
      .select("event_type", "user_id").as[(String, Long)].collect().toSeq

    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Seq[(String, String, Long, Long, Long, Long, Long)])]
    val sink = EventStream.overlapHllForeachBatch { (m, id) =>
      emitted += ((id,
        m.as[(String, String, Long, Long, Long, Long, Long)].collect().toSeq))
    }
    val input = MemoryStream[(String, Long)]
    val query = input.toDF().toDF("event_type", "user_id")
      .writeStream.foreachBatch(sink).outputMode("append").start()
    val batches = ev.grouped(ev.size / 3 + 1).toSeq
    try {
      batches.foreach { b => input.addData(b: _*); query.processAllAvailable() }
    } finally query.stop()
    assert(emitted.size == batches.size)

    // per-batch parity: the same sketch kernel over the prefix frame
    var prefix = Seq.empty[(String, Long)]
    batches.zipWithIndex.foreach { case (b, i) =>
      prefix = prefix ++ b
      val want = AnalyticsQueries.overlapFromTypeSketches(
        prefix.toDF("event_type", "user_id")
          .groupBy("event_type").agg(hll_sketch_agg(col("user_id")).as("sk")))
        .as[(String, String, Long, Long, Long, Long, Long)].collect().toSeq
      assert(emitted(i)._2 == want, s"batch $i diverged")
    }
    // end-state parity with the ORACLE-REGISTERED q73 (which unions
    // per-day sketches — the q71 lossless-union identity makes the
    // differently-batched registers estimate-identical)
    val q73 = AnalyticsQueries.q73OverlapHll(spark, TestSpark.Sf)
      .as[(String, String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(emitted.last._2 == q73, "final stream matrix != batch q73")
    assert(q73.nonEmpty)
  }

  test("near-dup gate: input columns named sig/text_norm/band/bh pass through untouched") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the gate's derived columns are __graft_-prefixed, so a stream
    // that ALREADY carries the old internal names must come out with
    // its own values intact and its full schema restored
    val corpus = Seq((1L, "the quick brown fox jumps over the lazy dog again and again")).toDF("doc_id", "text")
    val (cBands, cSigs) = EventStream.nearDupCorpus(corpus)
    val rows = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    var outSchema: org.apache.spark.sql.types.StructType = null
    val gate = EventStream.nearDupGateForeachBatch(
      cBands.localCheckpoint(true), cSigs.localCheckpoint(true)) { (adm, _) =>
      outSchema = adm.schema; rows ++= adm.collect()
    }
    val input = MemoryStream[(Long, String, String, String, Long, Long)]
    val query = input.toDF()
      .toDF("doc_id", "text", "sig", "text_norm", "band", "bh")
      .writeStream.foreachBatch(gate).outputMode("append").start()
    try {
      input.addData(
        (10L, "an entirely different sentence about distributed query planning", "user-sig", "user-norm", 7L, 9L),
        (11L, "the quick brown fox jumps over the lazy dog again and again", "x", "y", 1L, 2L))
      query.processAllAvailable()
    } finally query.stop()
    assert(outSchema.fieldNames.toSeq ==
      Seq("doc_id", "text", "sig", "text_norm", "band", "bh"),
      s"input schema not restored: ${outSchema.fieldNames.toSeq}")
    assert(rows.map(_.getLong(0)).toSet == Set(10L), s"admission wrong: $rows")
    val r = rows.head
    assert(r.getString(2) == "user-sig" && r.getString(3) == "user-norm" &&
      r.getLong(4) == 7L && r.getLong(5) == 9L,
      s"user columns clobbered: $r")
  }

  test("CDC apply stream: out-of-order + replayed batches converge to batch q67") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = java.nio.file.Files.createTempDirectory("graft_cdc_derby").toString
    val url = s"jdbc:derby:$dir/db;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().executeUpdate(
      "CREATE TABLE snapshot (k BIGINT PRIMARY KEY, last_ts BIGINT, op VARCHAR(1), bal_cents BIGINT)")
    conn.close()
    val applyBatch = graft.streaming.StreamSink.cdcApplyForeachBatch(
      url, "snapshot", Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver"))

    // the exact q67 changelog, deterministically scrambled so a key's
    // I/U/D ops arrive in DIFFERENT micro-batches in arbitrary order
    val log = CoreQueries.cdcChangelog(Tables.customer(spark, TestSpark.Sf))
      .as[(Long, Long, String, Option[Long])].collect().toSeq
    val scrambled = log.sortBy { case (k, t, _, _) =>
      ((k * 2654435761L + t * 40503L) & 0xffffL, k, t)
    }
    val input = MemoryStream[(Long, Long, String, Option[Long])]
    val stream = input.toDF().toDF("k", "op_ts", "op", "bal_cents")
    val query = stream.writeStream.foreachBatch(applyBatch)
      .outputMode("append").start()
    try {
      scrambled.grouped(700).foreach { b =>
        input.addData(b: _*)
        query.processAllAvailable()
      }
    } finally query.stop()

    // crash-replay of an arbitrary earlier batch: every monotonic
    // guard fails (last_ts < incoming is strict) → pure no-op
    applyBatch(scrambled.take(700).toDF("k", "op_ts", "op", "bal_cents"), 0L)

    // snapshot view = tombstones filtered; must equal the batch q67 plan
    val got = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "snapshot")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .load()
      .filter($"op" =!= "D")
      .select($"k", $"last_ts", $"bal_cents")
      .as[(Long, Long, Option[Long])].collect().toSeq.sorted
    val want = CoreQueries.q67CdcApply(spark, TestSpark.Sf)
      .as[(Long, Long, Option[Long])].collect().toSeq.sorted
    assert(want.nonEmpty && got == want,
      s"sizes got=${got.size} want=${want.size}")

    // tombstones really are retained: deleted keys are present as 'D'
    val tombs = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "snapshot")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .load().filter($"op" === "D").count()
    assert(tombs > 0, "deletes must persist as tombstones")
  }

  test("forget stream: scrambled + replayed batches converge to batch q70 kept counts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val dir = java.nio.file.Files.createTempDirectory("graft_forget_derby").toString
    val url = s"jdbc:derby:$dir/db;create=true"
    val driver = "org.apache.derby.jdbc.EmbeddedDriver"
    // key-column mirrors of the three tables (the cascade touches keys
    // only; payload columns would ride along unchanged in production)
    def mirror(df: org.apache.spark.sql.DataFrame, t: String): Unit =
      df.write.format("jdbc").option("url", url).option("dbtable", t)
        .option("driver", driver).mode("overwrite").save()
    mirror(Tables.customer(spark, TestSpark.Sf).select("c_custkey"), "customer_t")
    val ordersStatic = Tables.orders(spark, TestSpark.Sf)
      .select("o_orderkey", "o_custkey")
    mirror(ordersStatic, "orders_t")
    mirror(Tables.lineitem(spark, TestSpark.Sf).select("l_orderkey", "l_linenumber"),
      "lineitem_t")
    locally {
      val conn = java.sql.DriverManager.getConnection(url)
      conn.createStatement().executeUpdate(
        "CREATE TABLE forget_log (fk BIGINT PRIMARY KEY)")
      conn.close()
    }
    val sink = graft.streaming.StreamSink.forgetForeachBatch(
      url, Map("driver" -> driver), ordersStatic,
      "customer_t", "orders_t", "lineitem_t", "forget_log")

    // q70's forget-set, deterministically scrambled into micro-batches
    val forget = Tables.customer(spark, TestSpark.Sf)
      .filter($"c_custkey" % 97 === 0).select("c_custkey")
      .as[Long].collect().toSeq
    assert(forget.nonEmpty, "forget-set empty — slice rule drifted")
    val scrambled = forget.sortBy(k => ((k * 2654435761L) & 0xffffL, k))
    val input = MemoryStream[Long]
    val stream = input.toDF().toDF("fk")
    val query = stream.writeStream.foreachBatch(sink)
      .outputMode("append").start()
    try {
      scrambled.grouped(3).foreach { b =>
        input.addData(b: _*)
        query.processAllAvailable()
      }
    } finally query.stop()
    // crash-replay of the first batch: PK-deduped log + delete-by-key
    // both no-op
    sink(scrambled.take(3).toDF("fk"), 0L)

    def derbyCount(t: String): Long = spark.read.format("jdbc")
      .option("url", url).option("dbtable", t).option("driver", driver)
      .load().count()
    val audit = CoreQueries.q70ForgetAudit(spark, TestSpark.Sf)
      .select($"table_name", $"n_deleted", $"n_kept")
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(derbyCount("customer_t") == audit("customer")._2, "customer kept mismatch")
    assert(derbyCount("orders_t") == audit("orders")._2, "orders kept mismatch")
    assert(derbyCount("lineitem_t") == audit("lineitem")._2, "lineitem kept mismatch")
    // the audit artifact derives from the replay-stable log
    assert(derbyCount("forget_log") == audit("customer")._1, "log != deleted subjects")
  }

  test("late events beyond the watermark are dropped (append mode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val query = EventStream.windowedAgg(events, watermark = "30 minutes")
      .writeStream.format("memory").queryName("late_agg")
      .outputMode("append").start()
    try {
      input.addData((ts("2024-01-01 00:10:00"), "click", 1.0))
      query.processAllAvailable()
      // advance event time far past the first window + watermark
      input.addData((ts("2024-01-01 03:00:00"), "click", 1.0))
      query.processAllAvailable()
      // this event is older than the watermark → must be dropped
      input.addData((ts("2024-01-01 00:15:00"), "click", 100.0))
      query.processAllAvailable()
      input.addData((ts("2024-01-01 05:00:00"), "click", 1.0))
      query.processAllAvailable()

      val firstWindow = spark.table("late_agg")
        .filter($"hour_ts" === ts("2024-01-01 00:00:00"))
        .select("n_events").as[Long].collect()
      assert(firstWindow.toSeq == Seq(1L), "late event must not be counted")
    } finally query.stop()
  }

  test("EWMA stream: closed days are bit-identical to batch q52 rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val query = EventStream.ewmaStream(events, latenessDays = 1)
      .toDF().writeStream.format("memory").queryName("ewma_stream")
      .outputMode("append").start()
    // five days, two types, multiple events per day, out-of-order
    // WITHIN each day (the lateness horizon tolerates 1 day)
    val fed = Seq(
      (ts("2024-01-01 09:00:00"), "click", 10.00),
      (ts("2024-01-01 03:00:00"), "click", 2.50),
      (ts("2024-01-02 12:00:00"), "click", 7.25),
      (ts("2024-01-02 01:00:00"), "view", 1.00),
      (ts("2024-01-03 08:00:00"), "click", 4.75),
      (ts("2024-01-03 09:00:00"), "view", 3.00),
      (ts("2024-01-04 10:00:00"), "click", 9.00),  // day 3 NOT yet closed (lateness 1)
      (ts("2024-01-05 11:00:00"), "click", 1.00),  // closes day 3 for click
      (ts("2024-01-05 11:00:00"), "view", 2.00))
    try {
      fed.grouped(3).foreach { batch =>
        input.addData(batch: _*)
        query.processAllAvailable()
      }
      val streamed = spark.table("ewma_stream")
        .select($"event_type", $"day".cast("string"), $"cents", $"ewma_milli")
        .as[(String, String, Long, Long)].collect().toSeq.sorted
      // batch q52 plan over the same events, restricted to the days the
      // stream has closed (maxSeen 01-05, lateness 1 → horizon 01-04
      // exclusive → both types closed through 01-03)
      val batchRows = AnalyticsQueries.ewmaDaily(fed.toDF("ts", "event_type", "value"))
        .filter($"day" <= "2024-01-03")
        .select($"event_type", $"day".cast("string"), $"cents", $"ewma_milli")
        .as[(String, String, Long, Long)].collect().toSeq.sorted
      assert(batchRows.nonEmpty && streamed == batchRows,
        s"streamed=$streamed batch=$batchRows")
      // a straggler for an already-closed day is dropped, not re-emitted
      input.addData((ts("2024-01-02 23:00:00"), "click", 500.0))
      query.processAllAvailable()
      val after = spark.table("ewma_stream").count()
      assert(after == streamed.size.toLong, "closed-day straggler must be dropped")
    } finally query.stop()
  }

  test("retention stream: closed-week facts aggregate to batch q49 exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Timestamp, Long)]
    val events = input.toDF().toDF("ts", "user_id")
    val query = EventStream.retentionStream(events, latenessWeeks = 1)
      .toDF().writeStream.format("memory").queryName("retention_stream")
      .outputMode("append").start()
    // three users; u1's W2 and u2's W1 arrive OUT OF ORDER but inside
    // the 1-week lateness horizon (u2's cohort must shift down to W1)
    val core = Seq(
      (ts("2024-01-03 10:00:00"), 1L), // u1 W0 (wk 2024-01-01)
      (ts("2024-01-10 10:00:00"), 1L), // u1 W1
      (ts("2024-01-17 10:00:00"), 2L), // u2 W2 — seen before their W1
      (ts("2024-01-24 10:00:00"), 1L), // u1 W3
      (ts("2024-01-10 11:00:00"), 2L), // u2 W1, late but in horizon
      (ts("2024-02-07 10:00:00"), 3L), // u3 W5
      (ts("2024-01-17 12:00:00"), 1L), // u1 W2, late but in horizon
      (ts("2024-02-14 10:00:00"), 3L)) // u3 W6
    // probes a safe distance out close every core week for every user
    // (probe week itself stays open and emits nothing)
    val probes = Seq(1L, 2L, 3L).map(u => (ts("2024-03-04 09:00:00"), u))
    try {
      (core.grouped(3).toSeq :+ probes).foreach { b =>
        input.addData(b: _*)
        query.processAllAvailable()
      }
      val streamed = spark.table("retention_stream")
        .groupBy($"cohort_wk".cast("string").as("cohort"), $"week_offset")
        .agg(countDistinct($"user_id").as("n_users"))
        .as[(String, Long, Long)].collect().toSeq.sorted
      val want = AnalyticsQueries.cohortRetentionOf(core.toDF("ts", "user_id"))
        .select($"cohort_wk".cast("string"), $"week_offset", $"n_users")
        .as[(String, Long, Long)].collect().toSeq.sorted
      assert(want.nonEmpty && streamed == want,
        s"streamed=$streamed\nbatch=$want")
      // a week behind the user's closed frontier is dropped silently
      val before = spark.table("retention_stream").count()
      input.addData((ts("2024-01-10 23:00:00"), 1L))
      query.processAllAvailable()
      assert(spark.table("retention_stream").count() == before,
        "closed-week straggler must be dropped")
    } finally query.stop()
  }

  test("rolling distinct stream: closed days match batch q65 on observed days") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[(Timestamp, Long)]
    val events = input.toDF().toDF("ts", "user_id")
    val query = EventStream.rollingDistinctStream(events, latenessDays = 1)
      .writeStream.format("memory").queryName("rolling_stream")
      .outputMode("append").start()
    // 12 days with a 3-day silence (01-05..01-07): users overlap across
    // days so the trailing-7 distinct differs from a daily sum
    val fed = Seq(
      (ts("2024-01-01 09:00:00"), 1L), (ts("2024-01-01 10:00:00"), 2L),
      (ts("2024-01-02 08:00:00"), 2L), (ts("2024-01-02 09:00:00"), 3L),
      (ts("2024-01-03 07:00:00"), 1L),
      (ts("2024-01-04 06:00:00"), 4L), (ts("2024-01-04 07:00:00"), 2L),
      (ts("2024-01-08 05:00:00"), 5L),
      (ts("2024-01-09 04:00:00"), 1L), (ts("2024-01-09 05:00:00"), 5L),
      (ts("2024-01-10 03:00:00"), 6L),
      (ts("2024-01-11 02:00:00"), 7L),
      (ts("2024-01-12 01:00:00"), 8L))
    try {
      fed.grouped(4).foreach { batch =>
        input.addData(batch: _*)
        query.processAllAvailable()
      }
      // watermark = maxTday(01-12 + 6) − 7d = 01-11 00:00 → day windows
      // with end ≤ 01-11, i.e. days through 01-10, are closed
      val streamed = spark.table("rolling_stream")
        .select($"day".cast("string"), $"n_active_7d")
        .as[(String, Long)].collect().toMap
      val batchRows = AnalyticsQueries
        .rollingDistinctDaily(fed.toDF("ts", "user_id").withColumn("user_id", $"user_id"))
        .filter($"day" <= "2024-01-10")
        .select($"day".cast("string"), $"n_active_7d")
        .as[(String, Long)].collect().toMap
      assert(batchRows.nonEmpty)
      // parity on observed days: batch ⊆ streamed with equal counts
      batchRows.foreach { case (d, n) =>
        assert(streamed.get(d).contains(n), s"day $d: stream=${streamed.get(d)} batch=$n")
      }
      // stream-only extras are exactly the unobserved target days the
      // batch semi-join drops — each must still carry the true
      // trailing-window distinct count
      val dayOf = fed.map { case (t, u) => (t.toLocalDateTime.toLocalDate, u) }
      (streamed.keySet -- batchRows.keySet).foreach { d =>
        val day = java.time.LocalDate.parse(d)
        assert(day.toString <= "2024-01-10", s"unclosed day $d emitted")
        val expect = dayOf.collect {
          case (ed, u) if !ed.isAfter(day) && !ed.isBefore(day.minusDays(6)) => u
        }.toSet.size.toLong
        assert(streamed(d) == expect, s"unobserved day $d: stream=${streamed(d)} expect=$expect")
      }
      // a straggler entirely below the watermark is dropped, not re-emitted
      val before = spark.table("rolling_stream").count()
      input.addData((ts("2024-01-02 23:00:00"), 99L))
      query.processAllAvailable()
      assert(spark.table("rolling_stream").count() == before,
        "closed-day straggler must be dropped")
    } finally query.stop()
  }

  test("interval sweep stream: per-key peaks match batch q51 exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // the same interval derivation as batch q51: R-flag lineitems,
    // [shipdate, shipdate + 7) per supplier
    val intervals = Tables.lineitem(spark, TestSpark.Sf)
      .filter($"l_returnflag" === "R")
      .select($"l_suppkey".as("key"), $"l_shipdate".cast("date").as("start_day"),
        date_add($"l_shipdate".cast("date"), 7).as("end_day"))
      .as[(Long, java.sql.Date, java.sql.Date)].collect()
      .sortBy(_._2.getTime) // realistic arrival: by start day
    val keys = intervals.map(_._1).distinct

    val input = MemoryStream[(Long, java.sql.Date, java.sql.Date)]
    val df = input.toDF().toDF("key", "start_day", "end_day")
    val query = EventStream.intervalSweepStream(df, latenessDays = 1)
      .toDF().writeStream.format("memory").queryName("sweep_stream")
      .outputMode("append").start()
    try {
      intervals.grouped(math.max(1, intervals.length / 3 + 1)).foreach { chunk =>
        input.addData(chunk.toSeq: _*)
        query.processAllAvailable()
      }
      // a far-future sentinel interval per key closes every real day
      val flush = java.sql.Date.valueOf("2030-01-01")
      val flushEnd = java.sql.Date.valueOf("2030-01-08")
      input.addData(keys.map(k => (k, flush, flushEnd)).toSeq: _*)
      query.processAllAvailable()

      val streamed = spark.table("sweep_stream")
        .filter($"day" < "2029-01-01") // sentinel days never emit, belt & braces
        .select($"key", $"day", $"active_peak")
        .as[(Long, java.sql.Date, Long)].collect()
      val streamPeaks = streamed.groupBy(_._1).map { case (k, rows) =>
        val peak = rows.map(_._3).max
        val first = rows.filter(_._3 == peak).map(_._2.toLocalDate).min(
          Ordering.by((d: java.time.LocalDate) => d.toEpochDay))
        k -> ((peak, first.toString))
      }
      val batch = AnalyticsQueries.q51IntervalSweep(spark, TestSpark.Sf)
        .as[(Long, Long, java.sql.Date)].collect()
        .map { case (k, p, d) => k -> ((p, d.toString)) }.toMap
      assert(streamPeaks == batch,
        s"diff=${(streamPeaks.toSet -- batch.toSet).take(3)} / ${(batch.toSet -- streamPeaks.toSet).take(3)}")
    } finally query.stop()
  }

  test("drift stream: per-day TV vs the frozen reference matches a local recomputation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val fed = Tables.events(spark, TestSpark.Sf)
      .select($"ts", $"event_type", $"value")
      .as[(Timestamp, String, Double)].collect().sortBy(_._1.getTime)
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val query = EventStream.driftStream(events, refDays = 10, latenessDays = 1)
      .toDF().writeStream.format("memory").queryName("drift_stream")
      .outputMode("append").start()
    try {
      fed.grouped(math.max(1, fed.length / 4 + 1)).foreach { chunk =>
        input.addData(chunk.toSeq: _*)
        query.processAllAvailable()
      }
      // flush: one far-future event per type closes every real day
      val flush = Timestamp.valueOf("2030-01-01 00:00:00")
      input.addData(fed.map(_._2).distinct.map(t => (flush, t, 1.0)).toSeq: _*)
      query.processAllAvailable()

      val streamed = spark.table("drift_stream")
        .filter($"day" < "2029-01-01")
        .select($"event_type", $"day".cast("string"), $"n_day", $"tv_milli")
        .as[(String, String, Long, Long)].collect().toSet
      // local recomputation of the same protocol
      def bucket(v: Double): Int =
        math.min(9L, math.round(v * 100) / 5000L).toInt
      val expect = fed.groupBy(_._2).flatMap { case (et, rows) =>
        val byDay = rows.groupBy(r => r._1.toLocalDateTime.toLocalDate)
          .toSeq.sortBy(_._1.toEpochDay)
        val (refD, curD) = byDay.splitAt(10)
        val ref = Array.fill(10)(0L)
        refD.foreach(_._2.foreach(r => ref(bucket(r._3)) += 1))
        val nRef = ref.sum
        curD.map { case (day, rs) =>
          val h = Array.fill(10)(0L)
          rs.foreach(r => h(bucket(r._3)) += 1)
          val nDay = h.sum
          val tv = (0 until 10).map(b =>
            math.abs(1000 * ref(b) / nRef - 1000 * h(b) / nDay)).sum
          (et, day.toString, nDay, tv)
        }
      }.toSet
      assert(streamed == expect,
        s"extra=${streamed.diff(expect).take(3)} missing=${expect.diff(streamed).take(3)}")
      assert(streamed.nonEmpty)
    } finally query.stop()
  }

  test("attribution stream: closed-prefix purchase facts match the batch q77 rule") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    def micros(t: Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    val ev = Tables.events(spark, TestSpark.Sf)
      .select($"user_id", $"ts", $"event_id", $"event_type", $"value")
      .as[(Long, Timestamp, Long, String, Double)].collect()
      .sortBy(r => (micros(r._2), r._3)).take(600)
    val input = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("user_id", "ts", "event_id", "event_type", "value")
    val query = EventStream.attributionStream(events, latenessMinutes = 60)
      .toDF().writeStream.format("memory").queryName("attr_stream")
      .outputMode("append").start()
    try {
      ev.grouped(200).foreach { b => input.addData(b: _*); query.processAllAvailable() }
      val got = spark.table("attr_stream")
        .as[(Long, String, String, Long)].collect()
        .groupBy(identity).view.mapValues(_.length).toMap
      // q77's rule replayed locally on each user's closed prefix:
      // purchases attribute to the carries of STRICTLY PRIOR events
      val expect = ev.groupBy(_._1).toSeq.flatMap { case (uid, rows) =>
        val sorted = rows.sortBy(r => (micros(r._2), r._3))
        val horizon = sorted.iterator.map(r => micros(r._2)).max - 3600L * 1000000L
        val closed = sorted.filter(r => micros(r._2) < horizon)
        var first = ""; var last = ""
        closed.flatMap { r =>
          val fact =
            if (r._4 == "purchase")
              Some((uid,
                if (first.isEmpty) "direct" else first,
                if (last.isEmpty) "direct" else last,
                math.floor(r._5 * 100 + 0.5).toLong))
            else None
          if (r._4 == "view" || r._4 == "click") {
            if (first.isEmpty) first = r._4
            last = r._4
          }
          fact
        }
      }.groupBy(identity).view.mapValues(_.length).toMap
      assert(got == expect,
        s"stream facts diverged: ${got.size} keys vs ${expect.size}")
      assert(got.nonEmpty, "no purchases closed — fixture too small")
    } finally query.stop()
  }

  test("new-returning stream: closed-day facts match the batch q82 rule") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    def micros(t: Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    val ev = Tables.events(spark, TestSpark.Sf)
      .select($"user_id", $"ts")
      .as[(Long, Timestamp)].collect()
      .sortBy(r => micros(r._2)).take(800)
    val input = MemoryStream[(Long, Timestamp)]
    val events = input.toDF().toDF("user_id", "ts")
    val query = EventStream.newReturningStream(events, latenessDays = 1)
      .toDF().writeStream.format("memory").queryName("newret_stream")
      .outputMode("append").start()
    try {
      ev.grouped(250).foreach { b => input.addData(b: _*); query.processAllAvailable() }
      val got = spark.table("newret_stream")
        .as[(Long, java.sql.Date, Long)].collect().toSet
      // q82's rule on each user's CLOSED day prefix: days close in
      // ascending order, so the first closed day is the user's true
      // minimum — NEW once, RETURNING after
      val expect = ev.groupBy(_._1).toSeq.flatMap { case (uid, rows) =>
        val days = rows.map(r => (micros(r._2) / 86400000000L).toInt)
          .distinct.sorted
        val horizon = days.max - 1
        days.filter(_ < horizon).zipWithIndex.map { case (d, i) =>
          (uid, java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d.toLong)),
            if (i == 0) 1L else 0L)
        }
      }.toSet
      assert(got == expect, s"got ${got.size} facts, want ${expect.size}")
      assert(got.nonEmpty, "no days closed — fixture too small")
      // and they roll up to the q82 frame on the closed subset
      val agg = got.toSeq.toDF("user_id", "day", "is_new")
        .groupBy("day")
        .agg(sum("is_new").as("n_new"),
          sum(expr("1 - is_new")).as("n_returning"))
        .orderBy("day").collect()
      assert(agg.nonEmpty)
    } finally query.stop()
  }

  test("transitions stream: closed-prefix pairs match the batch session rule") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    def micros(t: Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    // real events in global ts order so each user's events arrive in order
    val ev = Tables.events(spark, TestSpark.Sf)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .as[(Long, Timestamp, Long, String)].collect()
      .sortBy(r => (micros(r._2), r._3)).take(600)
    val input = MemoryStream[(Long, Timestamp, Long, String)]
    val events = input.toDF().toDF("user_id", "ts", "event_id", "event_type")
    val query = EventStream.transitionsStream(events, latenessMinutes = 60)
      .toDF().writeStream.format("memory").queryName("trans_stream")
      .outputMode("append").start()
    try {
      ev.grouped(200).foreach { b => input.addData(b: _*); query.processAllAvailable() }
      val got = spark.table("trans_stream")
        .groupBy("user_id", "from_type", "to_type").count()
        .as[(Long, String, String, Long)].collect().toSet
      // each user's closed prefix: events more than latenessMinutes
      // before that user's max seen ts; pairs under q59's 30-min rule
      val expect = ev.groupBy(_._1).flatMap { case (uid, rows) =>
        val sorted = rows.sortBy(r => (micros(r._2), r._3))
        val horizon = sorted.iterator.map(r => micros(r._2)).max - 3600L * 1000000L
        val closed = sorted.filter(r => micros(r._2) < horizon)
        closed.sliding(2).collect {
          case Array(a, b) if micros(b._2) - micros(a._2) <= 1800L * 1000000L =>
            (uid, a._4, b._4)
        }.toSeq.groupBy(identity).map { case ((u, f, t), ps) =>
          (u, f, t, ps.length.toLong)
        }
      }.toSet
      assert(got == expect,
        s"extra=${got.diff(expect).take(3)} missing=${expect.diff(got).take(3)}")
      assert(got.nonEmpty)
      // a straggler at/before a user's closed frontier is dropped
      val before = spark.table("trans_stream").count()
      input.addData(ev.head)
      query.processAllAvailable()
      assert(spark.table("trans_stream").count() == before,
        "closed-prefix straggler must not emit")
    } finally query.stop()
  }

  test("novel-gram stream: only first-carrier docs emit, duplicate doc emits nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val w = (1 to 9).map(i => s"w$i").mkString(" ") // d19/t20 spec corpus
    val d1 = s"$w alpha beta" // 4 grams
    val d3 = (1 to 12).map(i => s"x$i").mkString(" ") // 5 grams, disjoint
    val d4 = (1 to 12).map(i => s"y$i").mkString(" ") // 5 fresh grams
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val query = EventStream.novelGramsStream(docs, nBuckets = 8)
      .toDF("doc_id", "gh")
      .writeStream.format("memory").queryName("novel_grams")
      .outputMode("append").start()
    try {
      input.addData((1L, d1), (3L, d3))
      query.processAllAvailable()
      // doc 2 repeats doc 1 verbatim in a LATER batch: zero novel
      // grams; doc 4 is fresh: all 5 of its grams are novel
      input.addData((2L, d1), (4L, d4))
      query.processAllAvailable()
      val perDoc = spark.table("novel_grams").groupBy("doc_id").count()
        .as[(Long, Long)].collect().toMap
      assert(perDoc == Map(1L -> 4L, 3L -> 5L, 4L -> 5L), perDoc.toString)
      // bounded state: one row per touched bloom bucket, forever
      val rows = query.recentProgress.flatMap(_.stateOperators)
        .filter(_.operatorName.toLowerCase.contains("flatmapgroupswithstate"))
        .map(_.numRowsTotal)
      assert(rows.nonEmpty && rows.max <= 8, rows.toSeq)
    } finally query.stop()
  }

  test("ingest gate stream: corpus dups rejected, bloom path result-identical") {
    import graft.functions.BloomFilter
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val corpusTexts = Seq("old doc one", "old doc two", "old doc three")
    val corpus = corpusTexts.toDF("text_norm")
      .select(md5($"text_norm").as("dig"), xxhash64($"text_norm").as("k"))
    val bloom = BloomFilter.buildLong(corpus, "k", expectedKeys = 100L)
    val staticDigs = corpus.select("dig")

    def run(bf: Option[BloomFilter.Filter], name: String): Map[Long, String] = {
      val input = MemoryStream[(Long, String)]
      val docs = input.toDF().toDF("doc_id", "text_norm")
      val q = EventStream.ingestGateStream(docs, staticDigs, bf)
        .select("doc_id", "text_norm")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        input.addData((1L, "old doc one"), (2L, "fresh doc a"))
        q.processAllAvailable()
        input.addData((3L, "old doc three"), (4L, "fresh doc b"))
        q.processAllAvailable()
        spark.table(name).as[(Long, String)].collect().toMap
      } finally q.stop()
    }

    val exact = run(None, "gate_exact")
    // corpus dups (1, 3) rejected across batches; fresh docs admitted
    assert(exact == Map(2L -> "fresh doc a", 4L -> "fresh doc b"), exact.toString)
    // the bloom-prefiltered fast path admits the exact same set — FPs
    // can only send a new doc through the redundant anti join
    assert(run(Some(bloom), "gate_bloom") == exact)
  }

  test("ANN upsert stream: CDC reaches probes exactly; restart redelivery applies nothing") {
    import spark.implicits._
    import graft.sim.{Ann, AnnIndex}
    import graft.functions.VectorFunctions.toDouble
    val emb = Tables.embeddings(spark, TestSpark.Sf)
      .select(col("vec_id").as("id"), toDouble(col("embedding")).as("vec"))
    val dir = java.nio.file.Files.createTempDirectory("graft_annups").toString + "/idx"
    AnnIndex.build(emb, nCells = 23, seed = 42L, dir)
    val queries = emb.filter(col("id") < 8)
    def fullProbe() = AnnIndex.probe(spark, dir, queries, k = 10, nProbe = 23)
      .select("qid", "rank", "neighbor_id")
      .as[(Long, Long, Long)].collect().toSet
    def physRows() = spark.read.parquet(s"$dir/cells").count()

    val sink = EventStream.annUpsertForeachBatch(dir)()
    // empty batch: applies nothing, stamps nothing
    val before = fullProbe()
    sink(emb.limit(0).withColumn("op", lit("I")).select("op", "id", "vec"), 0)
    assert(fullProbe() == before, "empty batch changed the index")

    // one CDC batch: re-embeds (op U, reversed vectors) + erasures (op D)
    val changed = emb.filter(col("id") % 17 === 3)
      .select(lit("U").as("op"), col("id"), reverse(col("vec")).as("vec"))
    val erased = emb.filter(col("id") % 19 === 4 && col("id") % 17 =!= 3)
      .select(lit("D").as("op"), col("id"), col("vec"))
    sink(changed.unionByName(erased), 1)
    val post = emb
      .filter(col("id") % 17 =!= 3)
      .filter(!(col("id") % 19 === 4 && col("id") % 17 =!= 3))
      .unionByName(changed.select(col("id"), col("vec")))
    val got = fullProbe()
    val brute = Ann.bruteForceTopK(post, queries, k = 10)
      .select("qid", "rank", "neighbor_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == brute, "streamed CDC batch diverged from post-CDC brute force")

    // post-restart redelivery: a FRESH sink instance must skip the
    // replayed batch via the durable stamp — probes identical AND no
    // physical re-append (the self-healing upsert would also keep
    // probes identical, so pin the row count to prove it was skipped)
    val phys = physRows()
    val sink2 = EventStream.annUpsertForeachBatch(dir)()
    sink2(changed.unionByName(erased), 1)
    assert(fullProbe() == got, "replayed batch changed probe results")
    assert(physRows() == phys, "replayed batch physically re-applied")

    // the stream continues after the restart: a later batch applies
    val erased2 = emb.filter(col("id") % 23 === 1 && col("id") % 17 =!= 3)
      .select(lit("D").as("op"), col("id"), col("vec"))
    sink2(erased2, 2)
    val post2 = post.join(erased2.select("id"), Seq("id"), "left_anti")
    val brute2 = Ann.bruteForceTopK(post2, queries, k = 10)
      .select("qid", "rank", "neighbor_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(fullProbe() == brute2, "post-restart batch 2 diverged")
  }

  test("KS drift monitor: report after each batch equals batch q111 on the prefix") {
    import spark.implicits._
    import graft.streaming.EventStream
    // the monitor composes the verified histogram-artifact maintainer
    // with the shared ksFromCounts kernel — state in parquet, never a
    // driver map over the value-scale cents domain
    val ev = Tables.events(spark, TestSpark.Sf)
      .selectExpr("cast(ts as date) as day", "event_type",
        "cast(round(value * 100, 0) as bigint) as v")
      .as[(java.sql.Date, String, Long)].collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_ksm").toString + "/h"
    val reports = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Seq[(String, Long, Long, Long, Long)])]
    val sink = EventStream.ksDriftForeachBatch(dir) { (r, id) =>
      reports += ((id, r.as[(String, Long, Long, Long, Long)].collect().toSeq))
    }
    val batches = ev.grouped(ev.size / 3 + 1).toSeq
    batches.zipWithIndex.foreach { case (b, i) =>
      sink(b.toDF("day", "event_type", "v"), i.toLong)
    }
    assert(reports.size == batches.size)
    // per-batch prefix parity through the SAME kernel over the prefix
    def expect(prefix: Seq[(java.sql.Date, String, Long)]) = {
      val refEnd = java.sql.Date.valueOf("2024-01-15")
      val c = prefix.map { case (d, et, v) =>
        (et, v, if (!d.after(refEnd)) 1L else 0L,
          if (d.after(refEnd)) 1L else 0L) }
        .toDF("event_type", "cents", "o_ref", "o_cur")
        .groupBy("event_type", "cents")
        .agg(sum("o_ref").as("o_ref"), sum("o_cur").as("o_cur"))
      AnalyticsQueries.ksFromCounts(c).orderBy("event_type")
        .as[(String, Long, Long, Long, Long)].collect().toSeq
    }
    var prefix = Seq.empty[(java.sql.Date, String, Long)]
    batches.zipWithIndex.foreach { case (b, i) =>
      prefix = prefix ++ b
      assert(reports(i)._2 == expect(prefix), s"batch $i diverged")
    }
    // end state equals the oracled batch q111 over the full table
    val want = AnalyticsQueries.q111KsDrift(spark, TestSpark.Sf)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(reports.last._2 == want, "end state != batch q111")
    // a replayed batch id re-emits without re-folding (count addition
    // is not idempotent — the maintainer's durable-stamp guard)
    sink(batches.last.toDF("day", "event_type", "v"),
      (batches.size - 1).toLong)
    assert(reports.last._2 == want, "replay changed the report")
  }

  test("AUC drift monitor: prefix parity with batch q113, replay-safe, kill/restart parity") {
    import spark.implicits._
    import graft.streaming.EventStream
    // #297 — the effect-size twin of the KS monitor: same maintained
    // artifact format, aucFromCounts kernel. One combined case covers
    // the three contracts the KS twin pins separately (the monitor is
    // a composition of already-verified pieces, so the test prices
    // the composition, not the pieces again).
    val ev = Tables.events(spark, TestSpark.Sf)
      .selectExpr("cast(ts as date) as day", "event_type",
        "cast(round(value * 100, 0) as bigint) as v")
      .as[(java.sql.Date, String, Long)].collect().toSeq
    val base = java.nio.file.Files.createTempDirectory("graft_aucm").toString
    val batches = ev.grouped(ev.size / 3 + 1).toSeq
      .map(_.toDF("day", "event_type", "v"))
    def frames(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().toSeq.map(_.toString)

    val u = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val uSink = EventStream.aucDriftForeachBatch(s"$base/u") { (r, _) => u += frames(r) }
    batches.zipWithIndex.foreach { case (b, i) => uSink(b, i.toLong) }
    assert(u.size == batches.size)
    // end state is bit-identical to the oracled batch q113
    val want = AnalyticsQueries.q113AucDrift(spark, TestSpark.Sf)
      .collect().toSeq.map(_.toString)
    assert(u.last == want, "end state != batch q113")
    // a replayed batch id re-emits without re-folding
    uSink(batches.last, (batches.size - 1).toLong)
    assert(u.last == want, "replay changed the report")

    // kill/restart: fresh closure on the same artifact dir after
    // batch 1 — redelivery re-emits, batch 2 converges
    val a = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val aSink = EventStream.aucDriftForeachBatch(s"$base/a") { (r, _) => a += frames(r) }
    aSink(batches(0), 0L); aSink(batches(1), 1L)
    assert(a == u.take(2), "durable run diverged pre-kill")
    val b = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val bSink = EventStream.aucDriftForeachBatch(s"$base/a") { (r, _) => b += frames(r) }
    bSink(batches(1), 1L)
    assert(b.last == u(1), "post-restart redelivery != uninterrupted batch-1 report")
    bSink(batches(2), 2L)
    assert(b.last == u(2), "post-restart final report != uninterrupted final")

    // idle stream: NO-OP batches advance the stamp (stampNoOpBatch),
    // so a long-idle run (empty micro-batches fold nothing and used
    // to leave the stamp behind) followed by a restart recovers
    // cleanly instead of tripping the ahead-gap guard with zero data
    // lost — without the no-op stamping, the restart at id 71 below
    // would read gap 69 > tolerance and wedge a healthy stream
    val empty = batches(0).limit(0)
    bSink(empty, 3L)
    bSink(empty, 70L)
    val idle = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val idleSink = EventStream.aucDriftForeachBatch(s"$base/a") { (r, _) =>
      idle += frames(r)
    }
    idleSink(empty, 71L) // restart after the idle run: gap 1, no throw
    assert(idle.last == u(2), "idle restart changed the report")

    // the MonitorState ahead-gap guard, uniform on the artifact
    // maintainers: an artifact dir restored from an OLDER backup than
    // the checkpoint (delivered id far AHEAD of the stamp) must fail
    // loudly, not silently adopt stale counts and lose the gap batches
    val fSink = EventStream.aucDriftForeachBatch(s"$base/a") { (_, _) => () }
    val e2 = intercept[IllegalStateException] { fSink(batches(0), 400L) }
    assert(e2.getMessage.contains("older backup"),
      s"AUC monitor: wrong ahead-gap guard message: ${e2.getMessage}")
  }

  test("W1 drift monitor: end state equals batch q115, replay-safe, kill/restart parity") {
    import spark.implicits._
    import graft.streaming.EventStream
    // #301 — the transport-cost kernel through the shared monitor
    // shape; same combined contract as the AUC twin's case
    val ev = Tables.events(spark, TestSpark.Sf)
      .selectExpr("cast(ts as date) as day", "event_type",
        "cast(round(value * 100, 0) as bigint) as v")
      .as[(java.sql.Date, String, Long)].collect().toSeq
    val base = java.nio.file.Files.createTempDirectory("graft_w1m").toString
    val batches = ev.grouped(ev.size / 3 + 1).toSeq
      .map(_.toDF("day", "event_type", "v"))
    def frames(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().toSeq.map(_.toString)

    val u = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val uSink = EventStream.w1DriftForeachBatch(s"$base/u") { (r, _) => u += frames(r) }
    batches.zipWithIndex.foreach { case (b, i) => uSink(b, i.toLong) }
    assert(u.size == batches.size, "a per-batch emission was skipped")
    val want = AnalyticsQueries.q115W1Drift(spark, TestSpark.Sf)
      .collect().toSeq.map(_.toString)
    assert(u.last == want, "end state != batch q115")
    uSink(batches.last, (batches.size - 1).toLong)
    assert(u.last == want, "replay changed the report")

    val a = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val aSink = EventStream.w1DriftForeachBatch(s"$base/a") { (r, _) => a += frames(r) }
    aSink(batches(0), 0L); aSink(batches(1), 1L)
    assert(a == u.take(2), "durable run diverged pre-kill")
    val b = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val bSink = EventStream.w1DriftForeachBatch(s"$base/a") { (r, _) => b += frames(r) }
    bSink(batches(1), 1L)
    assert(b.last == u(1), "post-restart redelivery != uninterrupted batch-1 report")
    bSink(batches(2), 2L)
    assert(b.last == u(2), "post-restart final report != uninterrupted final")

    // ahead-gap guard (the AUC twin's e2 case, third kernel): restored
    // from an older backup than the checkpoint ⇒ loud failure
    val fSink = EventStream.w1DriftForeachBatch(s"$base/a") { (_, _) => () }
    val e2 = intercept[IllegalStateException] { fSink(batches(0), 400L) }
    assert(e2.getMessage.contains("older backup"),
      s"W1 monitor: wrong ahead-gap guard message: ${e2.getMessage}")
  }

  test("KS drift monitor: kill/restart parity (recovery inherited from the durable artifact maintainer)") {
    import spark.implicits._
    import graft.streaming.EventStream
    // #292 composes the durable histogram-artifact maintainer, so
    // recovery should be INHERITED — prove it the way the five
    // seed-resumed monitors do: (U) uninterrupted vs (A) killed after
    // batch 1, then (B) a FRESH closure on A's artifact dir that sees
    // the redelivered batch 1 (must skip-fold and re-emit U's batch-1
    // report — no reset, no double count) then batch 2 (must equal
    // U's final report).
    val ev = Tables.events(spark, TestSpark.Sf)
      .selectExpr("cast(ts as date) as day", "event_type",
        "cast(round(value * 100, 0) as bigint) as v")
      .as[(java.sql.Date, String, Long)].collect().toSeq
    val base = java.nio.file.Files.createTempDirectory("graft_ksmr").toString
    val batches = ev.grouped(ev.size / 3 + 1).toSeq
      .map(_.toDF("day", "event_type", "v"))
    def frames(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().toSeq.map(_.toString)

    val u = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val uSink = EventStream.ksDriftForeachBatch(s"$base/u") { (r, _) => u += frames(r) }
    batches.zipWithIndex.foreach { case (b, i) => uSink(b, i.toLong) }

    val a = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val aSink = EventStream.ksDriftForeachBatch(s"$base/a") { (r, _) => a += frames(r) }
    aSink(batches(0), 0L); aSink(batches(1), 1L)
    assert(a == u.take(2), "durable run diverged pre-kill")

    val b = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val bSink = EventStream.ksDriftForeachBatch(s"$base/a") { (r, _) => b += frames(r) }
    bSink(batches(1), 1L) // post-crash redelivery
    assert(b.last == u(1),
      "post-restart redelivery != uninterrupted batch-1 report " +
        "(artifact reset or double count)")
    bSink(batches(2), 2L)
    assert(b.last == u(2), "post-restart final report != uninterrupted final")
  }
}
