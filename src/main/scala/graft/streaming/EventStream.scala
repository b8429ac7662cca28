package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{window => timeWindow, _}
import org.apache.spark.sql.streaming.GroupStateTimeout

import graft.sources.Readers

/** Structured Streaming events pipeline (SURVEY.md §2 #33): the
  * streaming twin of `q14_time_window_agg`.
  *
  * `readStream` → event-time watermark → tumbling-window aggregate.
  * The watermark bounds state: late events beyond it are dropped and
  * closed windows are evicted, so state size is O(active windows ×
  * event types) regardless of stream length — the property that keeps
  * this runnable forever on a cluster.
  */
object EventStream {

  /** Windowed counts/sums per event type. Works on both streaming and
    * batch DataFrames with schema (ts timestamp, event_type string,
    * value double) — the batch plan is exactly `q14_time_window_agg`. */
  def windowedAgg(events: DataFrame, watermark: String = "2 hours",
                  windowLen: String = "1 hour"): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    withWm
      .groupBy(timeWindow(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))
      .select(col("w.start").as("hour_ts"), col("event_type"),
              col("n_events"), col("total_value"))
  }

  /** Streaming percentiles — the streaming member of the percentile
    * family (exact histogram = q29, approximate batch = q44):
    * `approx_percentile` is a MERGEABLE bounded-memory sketch, so it
    * composes with a watermarked tumbling window the same way
    * count/sum do — per-window state is one sketch of fixed
    * `accuracy`, evicted when the watermark closes the window. An
    * exact streaming percentile would buffer every value per window;
    * this is the shape that runs forever. Works on batch frames too
    * (same plan, no watermark). */
  def windowedQuantiles(events: DataFrame, watermark: String = "2 hours",
                        windowLen: String = "1 hour",
                        accuracy: Int = 1000): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    withWm
      .groupBy(timeWindow(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(
        expr(s"approx_percentile(value, 0.5, $accuracy)").as("p50_value"),
        expr(s"approx_percentile(value, 0.9, $accuracy)").as("p90_value"),
        count(lit(1)).as("n_events"))
      .select(col("w.start").as("hour_ts"), col("event_type"),
              col("p50_value"), col("p90_value"), col("n_events"))
  }

  /** Session-window aggregation — the streaming twin of batch
    * sessionization (q20): Spark's native `session_window` merges
    * events into gap-bounded sessions per user, with the watermark
    * closing (and emitting) sessions once event time passes the gap.
    * State is O(open sessions), not stream length. Works on batch
    * frames too (same plan, no watermark). */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes",
                 watermark: String = "2 hours"): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    withWm
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
              col("sw.end").as("session_end"), col("n_events"))
  }

  /** Streaming exact dedup — drop re-deliveries of the same record
    * (same key columns) arriving within the watermark horizon: the
    * streaming-ingest twin of d01's batch dedup, for at-least-once
    * sources that replay documents. `dropDuplicatesWithinWatermark`
    * keeps one digest per key only until event time passes the
    * watermark, so state is bounded by the unique-key arrival rate ×
    * horizon — never by stream length. Dedup on a digest column
    * (e.g. `md5(text)`), not the payload, so state rows stay small. */
  def dedupStream(records: DataFrame, keyCols: Seq[String],
                  tsCol: String = "ts", watermark: String = "2 hours"): DataFrame =
    records.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming bloom dedup (SURVEY.md §2 #91) — bounded-state
    * UNBOUNDED-HISTORY dedup, the complement of [[dedupStream]]:
    * `dropDuplicatesWithinWatermark` forgets keys once the watermark
    * passes (re-deliveries beyond the horizon slip through), while
    * this keeps a bloom filter PER KEY-HASH BUCKET in the state store
    * — total state is exactly nBuckets × bucketBits bits FOREVER,
    * independent of how many keys the stream has seen. The trade is
    * bloom semantics: a false positive drops a genuinely-new record
    * with probability ≈ fpp at saturation (never emits a duplicate),
    * which is the right direction for corpus ingest (d01's batch
    * exact dedup catches stragglers downstream); size buckets for
    * the expected unique-key volume.
    *
    * Buckets shard the keyspace so state rows stay small (one
    * `array<long>` per bucket, merged per micro-batch) and the
    * stateful operator parallelizes across the cluster. */
  def bloomDedupStream[T](records: Dataset[T], key: T => Long,
                          nBuckets: Int = 64, bucketBits: Int = 1 << 17,
                          numHashes: Int = 5)
                         (implicit enc: org.apache.spark.sql.Encoder[T]): Dataset[T] = {
    import graft.functions.BloomFilter
    val spark = records.sparkSession
    import spark.implicits._
    require(Integer.bitCount(nBuckets) == 1 && Integer.bitCount(bucketBits) == 1,
      s"nBuckets/bucketBits must be powers of two, got $nBuckets/$bucketBits")
    // bucket from the HIGH hash bits: probe 0 of the in-bucket bloom
    // is fmix64(key)'s LOW bits, so bucketing on those same low bits
    // would collapse probe-0 entropy to bucketBits/nBuckets slots and
    // inflate the false-positive rate ~an order of magnitude
    records
      .groupByKey(t => (BloomFilter.fmix64(key(t)) >>> 32) & (nBuckets - 1).toLong)
      .flatMapGroupsWithState[Array[Long], T](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { (_, rows, state) =>
        val words = state.getOption.getOrElse(new Array[Long](bucketBits >>> 6))
        // materialize before updating state: the returned iterator is
        // consumed after this function returns
        val fresh = rows.filter { t =>
          val k = key(t)
          val isNew = !BloomFilter.contains(words, k, numHashes)
          if (isNew) BloomFilter.insert(words, k, numHashes)
          isNew
        }.toVector
        state.update(words)
        fresh.iterator
      }
  }

  /** Streaming novel-gram detection — the streaming twin of t20's
    * ingestion-order novelty: emit (doc_id, gram_hash) only for grams
    * no EARLIER doc in the stream carried. Per-doc distinct 8-grams
    * are computed row-locally (`array_distinct` over the transform —
    * a stateless projection, no streaming-distinct exchange, which
    * Append mode couldn't host anyway); cross-doc "seen before?" is
    * [[bloomDedupStream]]'s bucketed bloom kernel, so state stays
    * O(nBuckets × bucketBits) FOREVER while history is unbounded.
    * Bloom false positives only ever UNDER-count novelty (a gram
    * wrongly "seen" loses its first doc) — never invent it; per-doc
    * rollup is one downstream count (foreachBatch or watermarked
    * agg). Batch t20 remains the exact auditor. */
  def novelGramsStream(docs: DataFrame, n: Int = 8,
                       nBuckets: Int = 64,
                       bucketBits: Int = 1 << 17): Dataset[(Long, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val grams = docs
      .withColumn("text_norm", graft.etl.TextNorm.normalizeText(col("text")))
      .select(col("doc_id"), split(col("text_norm"), " ").as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id").cast("long").as("doc_id"), explode(expr(
        s"""array_distinct(transform(sequence(1, size(w) - ${n - 1}),
           |                i -> xxhash64(array_join(slice(w, i, $n), ' '))))""".stripMargin)).as("gh"))
      .as[(Long, Long)]
    bloomDedupStream[(Long, Long)](grams, key = _._2,
      nBuckets = nBuckets, bucketBits = bucketBits)
  }

  /** Streaming ingest gate — the streaming twin of batch d24's
    * admission decision: admit only stream docs whose normalized-text
    * digest is NOT already in the STATIC corpus. The exact decision is
    * a stream-static left-anti join on the 16-byte digest (recomputed
    * per micro-batch, no stream state); the optional `corpusBloom` —
    * at scale, the OR-merge of [[graft.sources.SketchStore]] per-batch
    * artifacts, kilobytes per ingest day — short-circuits it: a
    * bloom-NEGATIVE doc is provably new and is admitted straight from
    * the scan (a codegen'd filter, zero join work), so only the
    * bloom-positive sliver (true dups + ~fpp of the new) pays the
    * join. Bloom FPs cost a redundant probe, never a wrong answer;
    * both paths are result-identical (spec-pinned). Within-stream
    * replay protection is [[bloomDedupStream]]'s job — compose them.
    * Input needs a `text_norm` column (the d24 normalization);
    * `corpusDigests` needs a `dig` column of md5(text_norm). */
  def ingestGateStream(docs: DataFrame, corpusDigests: DataFrame,
                       corpusBloom: Option[graft.functions.BloomFilter.Filter] = None)
      : DataFrame = {
    import graft.functions.BloomFilter
    val dig = docs.withColumn("dig", md5(col("text_norm")))
    corpusBloom match {
      case None => dig.join(corpusDigests, Seq("dig"), "left_anti")
      case Some(f) =>
        val key = xxhash64(col("text_norm"))
        // unionByName: the USING join reorders `dig` to the front
        dig.filter(!BloomFilter.mightContain(key, f))
          .unionByName(
            dig.filter(BloomFilter.mightContain(key, f))
              .join(corpusDigests, Seq("dig"), "left_anti"))
    }
  }

  /** Streaming NEAR-dup ingest gate — [[ingestGateStream]]'s admission
    * decision upgraded from exact digests to verified MinHash near-dup
    * (d02's rule): an arriving doc is REJECTED iff some corpus doc
    * shares an LSH band with it AND their signature overlap verifies
    * at estimated jaccard ≥ 0.7. "Any of my 16 bands collides, then
    * verify" is an exists-then-confirm per doc — not expressible as
    * one stream-static anti join (multiple keys per doc) nor as a
    * stateless filter (verification joins the corpus signature), so
    * this runs as a foreachBatch gate, the [[StreamSink]] pattern:
    * inside each micro-batch it is plain batch code — explode bands →
    * semi-probe the corpus band table → verify the candidate sliver
    * against corpus signatures → anti-join the rejected ids — and the
    * admitted frame goes to `onAdmitted` with the batch id (compose
    * with an idempotent sink for effectively-once).
    *
    * No stream state: the static (bands, sigs) tables are the only
    * history, same contract as #150 — within-stream replay/dup
    * protection stays [[bloomDedupStream]]'s job. Only docs with ≥1
    * colliding band (true near-dups + the band-collision sliver) ever
    * touch a signature; everything else is admitted from the band
    * probe alone. Both static tables come from [[nearDupCorpus]] over
    * the same (k, nBands, seed). */
  def nearDupGateForeachBatch(corpusBands: DataFrame, corpusSigs: DataFrame,
                              k: Int = 64, nBands: Int = 16,
                              seed: Long = 0x5eedL)(
      onAdmitted: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      import graft.dedup.MinHash
      // collision-proof internal names: an input stream that itself
      // carries `sig`/`text_norm`/`band`/`bh` columns must pass
      // through untouched — "restore the INPUT schema" has to hold
      // for every input, so every derived column is __graft_-prefixed
      // and the corpus tables are re-aliased into the same namespace
      val nSig = "__graft_sig"; val nNorm = "__graft_text_norm"
      val withSig = batch
        .withColumn(nNorm, graft.etl.TextNorm.normalizeText(col("text")))
        .withColumn(nSig, MinHash.signature(
          array_distinct(MinHash.shingleHashes(col(nNorm), 3)), k, seed))
      val cands = withSig
        .select(col("doc_id"), col(nSig),
          posexplode(MinHash.bandHashes(col(nSig), nBands, k))
            .as(Seq("__graft_band", "__graft_bh")))
        .join(corpusBands.select(
            col("band").as("__graft_band"), col("bh").as("__graft_bh"),
            col("cid").as("__graft_cid")),
          Seq("__graft_band", "__graft_bh"))
        .select("doc_id", nSig, "__graft_cid").distinct()
      val rejected = cands
        .join(corpusSigs.select(
            col("cid").as("__graft_cid"), col("csig").as("__graft_csig")),
          Seq("__graft_cid"))
        .withColumn("__graft_matches",
          MinHash.sigMatches(col(nSig), col("__graft_csig")))
        .filter(col("__graft_matches") * 10 >= k * 7)
        .select(col("doc_id").as("__graft_rejected_id")).distinct()
      // restore the INPUT schema: all derived columns are internal
      onAdmitted(
        withSig.join(rejected,
            withSig("doc_id") === rejected("__graft_rejected_id"), "left_anti")
          .drop(nSig, nNorm), batchId)
    }

  /** Streaming gate-savings LEDGER (#229) — #189's streaming twin:
    * the near-dup ingest gate decides per batch; this wrapper prices
    * each batch's admission decisions per source (docs/tokens in vs
    * admitted, the normalized-token currency) and APPENDS the frame
    * to a [[graft.etl.SavingsLedger]] under a zero-padded batch label
    * — so dedup-ROI governance over a streamed ingest reads ledger
    * HISTORY ([[graft.etl.SavingsLedger.trend]]: "is the gate's
    * marginal value shrinking?") instead of re-running past batches.
    * Replay-idempotent by CONSTRUCTION, no batch stamp needed: the
    * gate is stateless (static corpus tables), so a redelivered
    * batch recomputes the identical decisions and its dynamic-
    * partition append re-writes the same label with the same rows.
    * Zero-padded labels keep the ledger's lexicographic run_label
    * order equal to batch order. Admitted docs flow on to
    * `onAdmitted` unchanged (compose with an idempotent sink). */
  def gateSavingsLedgerForeachBatch(corpusBands: DataFrame,
                                    corpusSigs: DataFrame,
                                    ledgerDir: String,
                                    k: Int = 64, nBands: Int = 16,
                                    seed: Long = 0x5eedL,
                                    labelOf: Long => String =
                                      id => f"batch_$id%06d")(
      onAdmitted: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      // normalize ONCE per batch: the per-doc token frame is
      // materialized (batch-scale) and reused by both tallies — the
      // admitted side re-prices via a doc_id semi join, never a second
      // normalizeText pass (the gate's own signature normalization is
      // internal to it)
      val tok = batch.select(col("doc_id"), col("source"),
          size(split(graft.etl.TextNorm.normalizeText(col("text")), " "))
            .cast("long").as("__graft_n_tok"))
        .localCheckpoint(true)
      // empty micro-batch: nothing to price — appending a ZERO-ROW
      // frame would commit a data-less ledger dir whose schema a
      // read/trend before the first real batch cannot infer (the same
      // hazard class as the artifact maintainers' guards); the gate
      // still runs so onAdmitted sees the (empty) admitted frame
      val batchEmpty = tok.isEmpty
      def tally(df: DataFrame, docs: String, toks: String): DataFrame = df
        .groupBy("source")
        .agg(count(lit(1)).as(docs), sum("__graft_n_tok").as(toks))
      val inner = nearDupGateForeachBatch(corpusBands, corpusSigs,
          k, nBands, seed) { (admitted, id) =>
        if (!batchEmpty) {
          val admTok = tok.join(admitted.select("doc_id"),
            Seq("doc_id"), "left_semi")
          val savings = tally(tok, "n_docs_in", "tokens_in")
            .join(tally(admTok, "n_docs_out", "tokens_out"),
              Seq("source"), "left")
            .select(col("source"), col("n_docs_in"),
              coalesce(col("n_docs_out"), lit(0L)).as("n_docs_out"),
              col("tokens_in"),
              coalesce(col("tokens_out"), lit(0L)).as("tokens_out"),
              (col("tokens_in") - coalesce(col("tokens_out"), lit(0L)))
                .as("saved_tokens"))
          graft.etl.SavingsLedger.append(savings, ledgerDir, labelOf(id))
        }
        onAdmitted(admitted, id)
      }
      inner(batch, batchId)
    }

  /** The static corpus side of [[nearDupGateForeachBatch]]:
    * (band table (band, bh, cid), signature table (cid, csig)) over a
    * corpus frame with (doc_id, text). At scale both are incremental
    * artifacts (append admitted docs' rows per ingest day). */
  def nearDupCorpus(corpus: DataFrame, k: Int = 64, nBands: Int = 16,
                    seed: Long = 0x5eedL): (DataFrame, DataFrame) = {
    import graft.dedup.MinHash
    val sigs = corpus
      .withColumn("text_norm", graft.etl.TextNorm.normalizeText(col("text")))
      .select(col("doc_id").as("cid"), MinHash.signature(
        array_distinct(MinHash.shingleHashes(col("text_norm"), 3)), k, seed)
        .as("csig"))
    val bands = sigs.select(col("cid"),
      posexplode(MinHash.bandHashes(col("csig"), nBands, k))
        .as(Seq("band", "bh")))
      .select("band", "bh", "cid")
    (bands, sigs)
  }

  /** Streaming decontamination gate — t25's streaming twin (#168):
    * each arriving doc is scored for 5-gram coverage against the
    * STATIC train-gram table (the fraction of its positional 5-gram
    * occurrences present in the training set, integer ppm) and
    * flagged at the same 15% bar, so an eval/benchmark ingest stream
    * quarantines leaked docs at the door instead of after a batch
    * audit. Per-doc gram explode + aggregate inside one micro-batch
    * makes this a foreachBatch gate (the [[nearDupGateForeachBatch]]
    * pattern); `onScored` receives the INPUT schema plus
    * (coverage_ppm, contaminated). No stream state: the train gram
    * table is the only history — at scale it is the incrementally
    * appended artifact of the corpus build, and only this batch's
    * grams cross the shuffle (never doc×doc, same shape as batch
    * t25). Internal columns are __graft_-prefixed, so inputs carrying
    * g/bucket/hit columns pass through untouched. */
  def decontamGateForeachBatch(trainGrams: DataFrame, barPpm: Long = 150000L)(
      onScored: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      import graft.dedup.MinHash
      val grams = batch
        .withColumn("__graft_norm", graft.etl.TextNorm.normalizeText(col("text")))
        .select(col("doc_id"),
          explode(MinHash.shingleHashes(col("__graft_norm"), 5)).as("__graft_g"))
      val scored = grams
        .join(trainGrams.select(col("g").as("__graft_g"))
          .distinct().withColumn("__graft_hit", lit(1L)),
          Seq("__graft_g"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("__graft_n"),
          sum(coalesce(col("__graft_hit"), lit(0L))).as("__graft_k"))
        .select(col("doc_id").as("__graft_id"),
          expr("(__graft_k * 1000000) div __graft_n").as("coverage_ppm"))
        .withColumn("contaminated",
          when(col("coverage_ppm") >= barPpm, 1L).otherwise(0L))
      onScored(
        batch.join(scored, batch("doc_id") === scored("__graft_id"), "left")
          .drop("__graft_id"), batchId)
    }

  /** Streaming charset gate — t40's streaming twin (#251): per
    * arriving doc the exact encoding-damage counters (U+FFFD
    * replacement chars, stray C0 controls, non-ASCII census) and the
    * per-doc clean bit, as a STATELESS projection that attaches to
    * `readStream` unchanged (the #164 pattern — no watermark, no
    * state store, no shuffle, no foreachBatch): encoding damage is a
    * per-row property, so this is the cheapest gate in the family and
    * the one that belongs FIRST in an ingest chain (a feed that
    * arrives double-encoded should quarantine before any text
    * normalization touches it). Counter rules are the shared batch
    * t40 expressions ([[graft.TrainingDataQueries.replCharCount]] et
    * al.), so gate verdicts and the batch audit agree by construction
    * (spec pins per-doc parity through MemoryStream with planted
    * damage). Appends columns; input schema passes through. */
  def charsetGateStream(docs: DataFrame): DataFrame = {
    import graft.TrainingDataQueries.{charClassCount, ctrlCharCount, replCharCount}
    docs
      .withColumn("repl_cnt", replCharCount(col("text")))
      .withColumn("ctrl_cnt", ctrlCharCount(col("text")))
      .withColumn("nonascii_cnt", charClassCount(col("text"), "[^\\x00-\\x7f]"))
      .withColumn("clean",
        (col("repl_cnt") === 0 && col("ctrl_cnt") === 0)
          .cast(org.apache.spark.sql.types.LongType))
  }

  /** Streaming media-format gate (#267) — the multimodal boundary's
    * ingest gate, the #251 charset gate's binary sibling: per
    * arriving payload, the format is sniffed from magic bytes and a
    * FULL decode through the real codecs (PGM/PPM/BMP/WAV) renders
    * the verdict — a payload that parses emits its true metadata
    * (pixel dims, or sample count + rate), anything that fails the
    * parse quarantines with ok=0 (any decode failure is a
    * quarantine: a payload whose magic lies about its body must not
    * reach the feature extractors). STATELESS — a per-row map that
    * attaches to `readStream` unchanged (no watermark, no state
    * store, no shuffle), identical on batch and streaming frames
    * (the #33 duality; spec pins batch/stream parity plus absolute
    * planted truths per format). The mapPartitions is the documented
    * legitimate codec boundary. */
  def mediaGateStream(docs: DataFrame): DataFrame = {
    import graft.multimodal.Codecs
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, p) =>
        val fmt =
          if (p == null || p.length < 2) "empty"
          else if (Codecs.isWav(p)) "wav"
          else if (Codecs.isBmp(p)) "bmp"
          else if (Codecs.isPgm(p)) "pgm"
          else if (Codecs.isPpm(p)) "ppm"
          else "unknown"
        def attempt(f: => (Long, Long)): (Long, Long, Long) =
          try { val (a, b) = f; (1L, a, b) }
          catch { case scala.util.control.NonFatal(_) => (0L, 0L, 0L) }
        val (ok, d1, d2) = fmt match {
          case "wav" => attempt {
            val a = Codecs.decodeWav(p)
            (a.samples.length.toLong, a.sampleRate.toLong)
          }
          case "pgm" | "bmp" => attempt {
            val g = Codecs.decodeGray(p)
            (g.width.toLong, g.height.toLong)
          }
          case "ppm" => attempt {
            val c = Codecs.decodePpm(p)
            (c.width.toLong, c.height.toLong)
          }
          case _ => (0L, 0L, 0L)
        }
        (id, fmt, ok, d1, d2)
      }).toDF("doc_id", "format", "ok", "dim1", "dim2")
  }

  /** The static train side of [[decontamGateForeachBatch]]: the
    * distinct 5-gram fingerprint table (g) of a corpus frame with
    * (doc_id, text) — exactly the gram set batch t25 joins, so gate
    * verdicts and the batch audit agree (spec pins the parity). */
  def decontamTrainGrams(corpus: DataFrame): DataFrame = {
    import graft.dedup.MinHash
    corpus
      .withColumn("text_norm", graft.etl.TextNorm.normalizeText(col("text")))
      .select(explode(MinHash.shingleHashes(col("text_norm"), 5)).as("g"))
      .distinct()
  }

  /** Streaming α-mix refresh — t26's streaming twin: as documents
    * arrive, serve refreshed temperature-smoothed language sampling
    * weights (q_l ∝ p_l^½, mT5/XLM-R style) over the corpus-so-far.
    * Each micro-batch folds a distributed per-lang count into driver
    * state (one Long per language — bounded by the LANGUAGE DOMAIN, a
    * configuration-scale constant, never corpus rows), then emits the
    * full weight table via `onWeights`: the integer math (exact √ of
    * n·10⁶, half-up ppm) is t26's, so after batch k the emitted table
    * is BIT-IDENTICAL to batch t26 over the stream prefix
    * (spec-pinned). Restart durability: pass `stateDir` and every
    * folded batch persists the lang histogram as a versioned
    * [[MonitorState]] snapshot; a fresh closure recovers
    * (counts, lastBatch) from the highest committed version — exactly
    * when Structured Streaming redelivers the last uncommitted batch,
    * which the recovered guard then skips, so post-restart emissions
    * equal the uninterrupted run's (spec-pinned kill/restart parity).
    * `seed` stays as the cold-start fallback (a recovered snapshot
    * supersedes it). Within a run, a re-fired batch id is re-emitted
    * without re-folding, keeping counts exactly-once per batch id. */
  def alphaMixForeachBatch(seed: Map[String, Long] = Map.empty,
      stateDir: Option[String] = None, maxKeys: Int = 65536)(
      onWeights: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    MonitorState.fold[String]("alphaMix", seed, stateDir, maxKeys)(
      _.groupBy(col("lang"), lit("")).agg(count(lit(1))),
      _ + _, l => (l, ""), (l, _) => l, onWeights) { (spark, counts) =>
      import spark.implicits._
      val rows = counts.toSeq.sortBy(_._1)
      val ntot = rows.map(_._2).sum
      val sRoots = rows.map { case (_, n) =>
        math.floor(math.sqrt((n * 1000000L).toDouble)).toLong }
      val stot = sRoots.sum
      rows.zip(sRoots).map { case ((l, n), s) =>
        // positive operands: JVM `/` truncation ≡ Spark `div` here
        (l, n, (n * 1000000L * 2 + ntot) / (2 * ntot),
          (s * 1000000L * 2 + stot) / (2 * stot))
      }.toDF("lang", "n_docs", "p_ppm", "q_alpha_ppm")
    }

  /** Streaming Benford monitor (#254) — q93's streaming twin: as
    * value facts arrive (any frame with a positive-cents BIGINT
    * column), serve the refreshed first-digit forensic report over
    * the prefix-so-far. State = NINE Longs (the digit domain — the
    * hardest possible configuration-scale bound), folded per
    * micro-batch by a distributed digit histogram (groupBy on ≤ 9
    * keys, map-side combined; the collect moves ≤ 9 rows). The
    * report re-derives from the counters with batch q93's exact
    * integer rules against the SAME literal mass table
    * ([[graft.AnalyticsQueries.benfordExpPpm]]), so after batch k
    * the emitted frame is BIT-IDENTICAL to batch q93's arithmetic
    * over the stream prefix (spec-pinned). Restart durability: pass
    * `stateDir` for versioned [[MonitorState]] snapshots per folded
    * batch — a fresh closure recovers (counts, lastBatch) from the
    * highest committed version, so post-restart reports equal the
    * uninterrupted run's (spec-pinned); `seed` is the cold-start
    * fallback (a recovered snapshot supersedes it). A replayed batch
    * id re-emits without re-folding (counts are not idempotent — the
    * alphaMix guard). */
  def benfordForeachBatch(seed: Map[Long, Long] = Map.empty,
      stateDir: Option[String] = None, maxKeys: Int = 65536)(
      onReport: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    MonitorState.fold[Long]("benford", seed, stateDir, maxKeys)(
      _.filter(col("cents") > 0)
        .groupBy(substring(col("cents").cast("string"), 1, 1), lit(""))
        .agg(count(lit(1))),
      _ + _, d => (d.toString, ""), (d, _) => d.toLong, onReport) {
      (spark, counts) =>
      import spark.implicits._
      val total = counts.values.sum
      val rows = graft.AnalyticsQueries.benfordExpPpm.map { case (d, exp) =>
        val cnt = counts.getOrElse(d, 0L)
        // positive operands: JVM `/` truncation ≡ Spark `div` (q93)
        val obs = if (total > 0) cnt * 1000000L / total else 0L
        (d, cnt, total, obs, exp, math.abs(obs - exp))
      }
      val tv = rows.map(_._6).sum / 2
      rows
        .map { case (d, cnt, n, obs, exp, dev) => (d, cnt, n, obs, exp, dev, tv) }
        .toDF("digit", "cnt", "n_total", "obs_ppm", "exp_ppm", "dev_ppm",
          "tv_ppm")
    }

  /** Streaming CUSUM monitor (#262) — q99's streaming twin: as value
    * facts arrive (any frame with `event_type` STRING, `day` DATE,
    * `cents` BIGINT columns — partial daily sums are fine, count
    * addition is lossless), serve the refreshed sequential-drift
    * report over the prefix-so-far. State = one Long per
    * (event_type, day) cell — the |types| × |observed days| domain,
    * the same bound the batch detector's post-aggregate frame has —
    * folded per micro-batch by a distributed domain-bounded groupBy
    * (map-side combined; the collect moves ≤ domain rows). The
    * report re-derives from the histogram with batch q99's exact
    * integer rules (truncating-div target, Page recursion ≡ the
    * closed form — over the materialized domain the recursion is the
    * cheaper arithmetic), so after batch k the frame is
    * BIT-IDENTICAL to batch q99 over the stream prefix (spec-pinned
    * per batch AND vs the oracled q99 at end state). NOTE the
    * semantics CUSUM wants: a late fact retroactively shifts the
    * whole trajectory — this twin RE-DERIVES from counters, so late
    * arrivals are folded exactly, never dropped at a watermark.
    * Restart durability: pass `stateDir` for versioned
    * [[MonitorState]] snapshots per folded batch — a fresh closure
    * recovers (cells, lastBatch) from the highest committed version,
    * so post-restart reports equal the uninterrupted run's
    * (spec-pinned); `seed` is the cold-start fallback (a recovered
    * snapshot supersedes it). Replayed batch ids re-emit without
    * re-folding (counts are not idempotent). */
  def cusumForeachBatch(seed: Map[(String, String), Long] = Map.empty,
      stateDir: Option[String] = None, maxKeys: Int = 65536)(
      onReport: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    MonitorState.fold[(String, String)]("cusum", seed, stateDir, maxKeys)(
      dayCells, _ + _, identity, (_, _), onReport) { (spark, cells) =>
      import spark.implicits._
      val rows = cells.toSeq.map { case ((et, d), c) => (et, d, c) }
        .groupBy(_._1).toSeq.flatMap { case (et, trs) =>
          val seq = trs.sortBy(_._2)
          // batch q99's integer rules: truncating-div mean target,
          // then the Page recursion (≡ the closed form, pinned there)
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
      rows.toDF("event_type", "d", "cents", "target", "dev",
          "s_pos", "s_neg", "alarm")
        .withColumn("day", col("d").cast("date"))
        .select("event_type", "day", "cents", "target", "dev", "s_pos",
          "s_neg", "alarm")
    }

  /** The (event_type, day) → Σ cents cells one micro-batch adds to the
    * [[cusumForeachBatch]] / [[controlChartForeachBatch]] histogram. */
  private def dayCells(batch: DataFrame): DataFrame =
    batch.groupBy(col("event_type"), col("day").cast("string"))
      .agg(sum("cents"))

  /** Streaming Shewhart control chart (#316) — q122's streaming
    * twin on the [[cusumForeachBatch]] state shape: fold arriving
    * (event_type, day, cents) facts into the |types|×|observed days|
    * cell histogram (partial daily sums add losslessly), then per
    * batch re-derive the FROZEN-limits chart — reference stats from
    * cells at day ≤ `refEnd` only, every observed day judged by
    * batch q122's exact cross-multiplied 3σ rule in BigInt (the
    * driver-side twin of the decimal(38) path), so after batch k the
    * report is BIT-IDENTICAL to batch q122 over the stream prefix.
    * The frozen-reference semantics is what makes the chart
    * STREAMABLE at all: limits never depend on the days being
    * judged, so late facts inside the reference window tighten the
    * limits retroactively (re-derived, never watermark-dropped) and
    * post-reference facts can never shift them. Types with no
    * reference day yet emit nothing (batch q122's inner join drops
    * them too). Same [[MonitorState]] restart/replay contract as the
    * other five monitors. */
  def controlChartForeachBatch(
      refEnd: String = graft.AnalyticsQueries.DriftRefEnd,
      seed: Map[(String, String), Long] = Map.empty,
      stateDir: Option[String] = None, maxKeys: Int = 65536)(
      onReport: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    MonitorState.fold[(String, String)]("control_chart", seed, stateDir,
      maxKeys)(dayCells, _ + _, identity, (_, _), onReport) {
      (spark, cells) =>
      import spark.implicits._
      val rows = cells.toSeq.map { case ((et, d), c) => (et, d, c) }
        .groupBy(_._1).toSeq.flatMap { case (et, trs) =>
          val ref = trs.filter(_._2 <= refEnd).map(_._3)
          if (ref.isEmpty) Nil
          else {
            val n = ref.length.toLong
            val s = ref.sum
            val ss = ref.map(c => BigInt(c) * c).sum
            // BigInt like the alarm path: 2·s·1000 overflows Long once
            // a type's reference cents sum exceeds ~4.6e15, silently
            // breaking the spec-pinned bit-identity to batch q122
            val center = ((2 * BigInt(s) * 1000 + n) / (2 * n)).toLong
            trs.sortBy(_._2).map { case (_, d, c) =>
              val dev = BigInt(c) * n - s
              val alarm =
                if (dev * dev > 9 * (n * ss - BigInt(s) * s)) 1L else 0L
              (et, d, c, n, center, alarm)
            }
          }
        }.sortBy(r => (r._1, r._2))
      rows.toDF("event_type", "d", "cents", "n_ref",
          "center_milli", "alarm")
        .withColumn("day", col("d").cast("date"))
        .select("event_type", "day", "cents", "n_ref", "center_milli",
          "alarm")
    }

  /** Streaming DSIR admission gate (#308) — t50's streaming twin: the
    * hashed-feature importance score (Xie et al. NeurIPS 2023 §2.2 —
    * the FIXED-bucket variant exists precisely so the parameter
    * vector is configuration-scale and ships to workers) applied to
    * ARRIVING documents against a FROZEN feature artifact
    * (`features` = yesterday's
    * [[graft.TrainingDataQueries.dsirHashedFeatures]] run: a stream
    * cannot know its own corpus's target/raw distributions, so the
    * gate scores on the last calibrated vector — how the published
    * selector deploys). The ≤`buckets`-entry frame folds into a
    * 1-row broadcast MAP and the score is a pure per-row expression
    * ([[graft.TrainingDataQueries.dsirScore]] — ONE definition shared
    * with the batch parity twin): no watermark, no state store, no
    * shuffle (the #285 stateless gate pattern). `keepFloor` is the
    * admission bar in ppm-weighted bigram units; weight ≥ floor ⇒
    * keep = 1. Higher-order lambdas in the scorer are interpreted,
    * not codegen'd — acceptable for a per-row projection gate. */
  def dsirGateStream(docs: DataFrame, features: DataFrame,
                     keepFloor: Long = 0L,
                     buckets: Int = graft.TrainingDataQueries.DsirBuckets)
      : DataFrame =
    graft.TrainingDataQueries
      .dsirScore(docs,
        graft.TrainingDataQueries.dsirFeatureMap(features), buckets)
      .withColumn("keep", (col("weight") >= keepFloor).cast("long"))

  /** Streaming quality gate (#285) — t45's verdicts as an INGEST
    * GATE, completing the streaming ingest chain (charset #251 →
    * media format #267 → quality HERE → near-dup #159): per arriving
    * doc the three gate bits (Gopher battery, per-language length
    * band, stopword floor) plus the combined keep verdict, computed
    * by the SAME shared batch-t45 expressions
    * ([[graft.TrainingDataQueries.gateVerdicts]]) against a FROZEN
    * calibration frame (`bands` — yesterday's t12 percentile
    * artifact: a stream cannot know its own corpus percentiles, so
    * the gate runs on the last calibrated bands, exactly how a
    * production filter deploys). Stateless stream-static broadcast
    * join + projection — no watermark, no state store (the #164
    * pattern); batch/stream verdict parity is pinned by the spec. */
  def qualityGateStream(docs: DataFrame, bands: DataFrame): DataFrame =
    graft.TrainingDataQueries.gateVerdicts(
        docs.join(broadcast(bands), Seq("lang")))
      .withColumn("keep",
        (col("g_gopher") === 1 && col("g_len") === 1 && col("g_stop") === 1)
          .cast("long"))

  /** Streaming chi-square monitor (#280) — q104's streaming twin:
    * the independence test served over the prefix-so-far as
    * person-records arrive (segment, nationkey columns). State = one
    * Long per contingency CELL — |segments|×|nations|, configuration
    * scale, the same bound batch q104's post-aggregate frame has —
    * folded per micro-batch by a distributed domain-bounded groupBy.
    * The report re-derives margins, expected counts, per-cell
    * deviations and the χ² total from the cell histogram with batch
    * q104's exact integer rules (margin identity Σ O²·N/(R·C) − N in
    * BigInt — the driver-side twin of the decimal(38) path), so
    * after batch k the frame is BIT-IDENTICAL to batch q104 over the
    * stream prefix (spec-pinned per batch AND vs the oracled q104 at
    * end state). Restart durability: pass `stateDir` for versioned
    * [[MonitorState]] snapshots per folded batch — a fresh closure
    * recovers (cells, lastBatch) from the highest committed version,
    * so post-restart reports equal the uninterrupted run's
    * (spec-pinned); `seed` is the cold-start fallback. Replayed batch
    * ids re-emit without re-folding. */
  def chiSquareForeachBatch(nation: DataFrame,
      seed: Map[(String, Long), Long] = Map.empty,
      stateDir: Option[String] = None, maxKeys: Int = 65536)(
      onReport: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = {
    var natNames: Map[Long, String] = null
    MonitorState.fold[(String, Long)]("chiSquare", seed, stateDir, maxKeys)(
      _.groupBy(col("segment"), col("nationkey").cast("long").cast("string"))
        .agg(count(lit(1))),
      _ + _, { case (s, nk) => (s, nk.toString) }, (s, nk) => (s, nk.toLong),
      onReport) { (spark, cells) =>
      import spark.implicits._
      if (natNames == null)
        natNames = nation
          .select(col("n_nationkey").cast("long"), col("n_name"))
          .as[(Long, String)].collect().toMap
      // batch q104's integer rules over the cell histogram
      val o = cells.toSeq.map { case ((s, nk), n) => (s, nk, BigInt(n)) }
      val n = o.map(_._3).sum
      val rSum = o.groupBy(_._1).map { case (s, g) => s -> g.map(_._3).sum }
      val cSum = o.groupBy(_._2).map { case (t, g) => t -> g.map(_._3).sum }
      val chi2 =
        if (n == 0) BigInt(0)
        else o.map { case (s, t, ob) =>
          ob * ob * n * 1000000 / (rSum(s) * cSum(t))
        }.sum - n * 1000000
      val dof = (rSum.size - 1).toLong * (cSum.size - 1).toLong
      val rows = o.map { case (s, t, ob) =>
        val e = rSum(s) * cSum(t) * 1000 / n
        (s, natNames(t), ob.toLong, e.toLong, (ob * 1000 - e).toLong,
          chi2.toLong, dof)
      }.sortBy(r => (r._1, r._2))
      rows.toDF("segment", "nation", "n_obs", "e_milli", "dev_milli",
        "chi2_e6", "dof")
    }
  }

  /** Streaming skyline maintenance (#276) — q103's streaming twin:
    * serve the refreshed Pareto frontier as offers arrive. Skylines
    * are insert-monotone in the useful direction — a new point can
    * only extend the frontier or dominate existing members, never
    * resurrect one — but a DOMINATED arrival must still be
    * remembered if later frontier points could be dominated away…
    * which cannot happen under insert-only streams, so the honest
    * minimal state is the (brand, price) → min-size VALUE-DOMAIN
    * histogram (batch q103's own post-aggregate frame, the #262
    * bound): folded per batch by a distributed min-merge (collect
    * moves ≤ domain rows), with the frontier re-derived from the
    * histogram by the same prefix-min rule — so after batch k the
    * emitted frontier is BIT-IDENTICAL to batch q103 over the prefix
    * (spec-pinned per batch AND vs the oracled q103 at end state).
    * Replayed batch ids re-emit without re-folding (min-merge WOULD
    * tolerate replay — idempotent — but the guard keeps the fold
    * exactly-once by construction, the #185 convention). Restart
    * durability: pass `stateDir` for versioned [[MonitorState]]
    * snapshots per folded batch — a fresh closure recovers
    * (cells, lastBatch) from the highest committed version, so
    * post-restart frontiers equal the uninterrupted run's
    * (spec-pinned); `seed` is the cold-start fallback. */
  def skylineForeachBatch(seed: Map[(String, Long), Long] = Map.empty,
      stateDir: Option[String] = None, maxKeys: Int = 65536)(
      onFrontier: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    MonitorState.fold[(String, Long)]("skyline", seed, stateDir, maxKeys)(
      _.groupBy(col("brand"), col("price_cents").cast("string"))
        .agg(min("size")),
      math.min, { case (b, p) => (b, p.toString) }, (b, p) => (b, p.toLong),
      onFrontier) { (spark, cells) =>
      import spark.implicits._
      // frontier from the histogram: ascending price, strict prefix-min
      val rows = cells.toSeq.map { case ((b, p), s) => (b, p, s) }
        .groupBy(_._1).toSeq.flatMap { case (b, pts) =>
          var best = Long.MaxValue
          pts.sortBy(_._2).flatMap { case (_, p, s) =>
            if (s < best) { best = s; Some((b, p, s)) } else None
          }
        }.sortBy(r => (r._1, r._2))
      rows.toDF("brand", "price_cents", "size")
    }

  /** Streaming FK-orphan gate (#259) — q97's streaming twin, run as a
    * GATE rather than a post-hoc audit: every arriving child row is
    * checked against the static parent key set BEFORE it enters the
    * warehouse, via a stream-static left join on exactly the key the
    * production join would shuffle on (parent side distinct'd and
    * key-only, so Spark broadcasts it when small — the #51 pattern).
    * Two emissions per batch: the GATED batch frame (every input
    * column + an `is_orphan` bit — verdicts are a stateless
    * projection of batch × static, so a replayed batch re-derives
    * them identically, the #164/#251 contract), and the running
    * audit row. Audit state = TWO Longs (n_child, n_orphans) plus
    * one HLL register set for distinct child keys (driver-held
    * kilobytes, the #185 contract): after batch k the counters
    * reproduce batch q97's integer arithmetic over the prefix
    * BIT-IDENTICALLY (n_child / n_orphans / orphan_ppm), and
    * `n_child_keys_est` equals the equal-lgK batch sketch over the
    * same prefix (register-identical however batched — the
    * q71-pinned union identity; an EXACT streaming distinct census
    * would need unbounded key state, which is the point of the
    * sketch). Replayed batch ids re-emit without re-folding (counts
    * are not idempotent — the alphaMix guard; the HLL union would
    * tolerate it, the counters would not). */
  def fkGateForeachBatch(rel: String, parent: DataFrame, parentKey: String,
      childKey: String)(
      onGated: (DataFrame, DataFrame, Long) => Unit): (DataFrame, Long) => Unit = {
    var nChild = 0L
    var nOrphans = 0L
    var sketch: Option[Array[Byte]] = None
    var lastBatch = -1L
    val pKeys = parent.select(col(parentKey).as("__graft_pk")).distinct()
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      import spark.implicits._
      val gated = batch
        .join(pKeys, batch(childKey) === col("__graft_pk"), "left_outer")
        .withColumn("is_orphan", col("__graft_pk").isNull.cast("long"))
        .drop("__graft_pk")
      if (batchId > lastBatch) {
        val (bn, bo, bsk) = gated
          .agg(count(lit(1)).as("n"),
            coalesce(sum("is_orphan"), lit(0L)).as("o"),
            hll_sketch_agg(col(childKey)).as("sk"))
          .as[(Long, Long, Array[Byte])].collect().head
        nChild += bn
        nOrphans += bo
        Option(bsk).foreach { b =>
          sketch = Some(sketch match {
            case None => b
            case Some(prev) => Seq(prev, b).toDF("sk")
              .agg(hll_union_agg(col("sk"))).as[Array[Byte]].collect().head
          })
        }
        lastBatch = batchId
      }
      val est = sketch.map { sk =>
        Seq(sk).toDF("sk").select(hll_sketch_estimate(col("sk")))
          .as[Long].collect().head
      }.getOrElse(0L)
      // positive operands: JVM `/` truncation ≡ Spark `div` (q97)
      val ppm = if (nChild > 0) nOrphans * 1000000L / nChild else 0L
      val report = Seq((rel, nChild, est, nOrphans, ppm))
        .toDF("relation", "n_child", "n_child_keys_est", "n_orphans",
          "orphan_ppm")
      onGated(gated, report, batchId)
    }
  }

  /** Streaming k-anonymity monitor (#260) — q96's streaming twin: as
    * person-records arrive (any frame with `segment` STRING,
    * `nationkey` BIGINT, `bal_cents` BIGINT columns), serve the
    * refreshed re-identification report continuously. Two pieces of
    * state, each matched to its scale (the #190 contract): the
    * QI-group → n histogram is configuration-scale
    * (|segments|×|nations|) and driver-held; the l-diversity SUPPORT
    * SET — distinct (segment, nationkey, bal_cents) triples — is
    * value-domain-scale, so it lives as versioned parquet under
    * `stateDir`: each batch reads state v(k−1), unions its own
    * distinct triples, and writes v(k) (never a read-then-overwrite
    * of the same files). Distinct-union is lossless, so after batch
    * k the emitted report is BIT-IDENTICAL to batch q96's arithmetic
    * over the stream prefix (spec-pinned per batch AND vs the
    * oracled batch q96 at end state). Restart-safe like #190: both
    * state halves are `_SUCCESS`-gated and versioned by batch id,
    * and the first invocation after a JVM restart adopts the highest
    * fully-committed version — exactly the moment Structured
    * Streaming redelivers the last uncommitted batch, with the
    * [[MonitorState]] gap guards (a large id gap either way fails
    * loudly). Replayed batch ids re-emit from current state without
    * re-folding. */
  def kanonForeachBatch(stateDir: String, nation: DataFrame)(
      onReport: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = {
    val grpCounts = scala.collection.mutable.Map.empty[(String, Long), Long]
    var triDir: Option[String] = None
    var lastBatch = -1L
    var natNames: Map[Long, String] = null
    // post-restart resume: adopt the highest version whose triple
    // state AND group histogram both committed (a crash between
    // the two writes falls back to the previous version, and the
    // redelivered batch re-folds — convergent either way)
    val recover = MonitorState.recovery(stateDir, "grp_") { (spark, v) =>
      import spark.implicits._
      triDir = Some(s"$stateDir/v$v")
      lastBatch = v
      Readers.parquet(spark, s"$stateDir/grp_v$v")
        .as[(String, Long, Long)].collect()
        .foreach { case (s, nk, n) => grpCounts((s, nk)) = n }
    }
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      import spark.implicits._
      if (natNames == null)
        natNames = nation
          .select(col("n_nationkey").cast("long"), col("n_name"))
          .as[(Long, String)].collect().toMap
      recover(spark, batchId)
      if (batchId > lastBatch) {
        val cur = batch.select(col("segment"),
          col("nationkey").cast("long").as("nationkey"),
          col("bal_cents").cast("long").as("bal_cents"))
        val merged = triDir
          .map(d => Readers.parquet(spark, d).unionByName(cur))
          .getOrElse(cur).distinct()
        merged.write.mode("overwrite").parquet(s"$stateDir/v$batchId")
        cur.groupBy("segment", "nationkey").agg(count(lit(1)).as("n"))
          .as[(String, Long, Long)].collect()
          .foreach { case (s, nk, n) =>
            grpCounts((s, nk)) = grpCounts.getOrElse((s, nk), 0L) + n }
        grpCounts.toSeq.map { case ((s, nk), n) => (s, nk, n) }
          .toDF("segment", "nationkey", "n")
          .write.mode("overwrite").parquet(s"$stateDir/grp_v$batchId")
        triDir = Some(s"$stateDir/v$batchId")
        lastBatch = batchId
      }
      // report: l_distinct from the committed triple state (a
      // distributed groupBy reducing to ≤|QI| rows), the rest in
      // driver arithmetic over the configuration-scale histogram —
      // batch q96's exact integer rules
      val lDist = triDir.map { d =>
        Readers.parquet(spark, d).groupBy("segment", "nationkey")
          .agg(count(lit(1)).as("l")).as[(String, Long, Long)].collect()
          .map { case (s, nk, l) => ((s, nk), l) }.toMap
      }.getOrElse(Map.empty[(String, Long), Long])
      val rows = grpCounts.toSeq.map { case ((s, nk), n) =>
        (s, natNames(nk), n, lDist.getOrElse((s, nk), 0L),
          if (n < 10) 1L else 0L)
      }.sortBy(r => (r._1, r._2))
      val atRiskTotal = rows.filter(_._5 == 1L).map(_._3).sum
      val out = rows
        .map { case (s, nm, n, l, ar) => (s, nm, n, l, ar, atRiskTotal) }
        .toDF("segment", "nation", "n", "l_distinct", "at_risk",
          "rows_at_risk_total")
      onReport(out, batchId)
    }
  }

  /** Streaming language-budget service (#190) — t31's streaming twin:
    * serve the per-language budget frame (t26 α-weights ⨯ t28-kernel
    * coverage points) continuously as documents stream in. Two pieces
    * of state, each matched to its scale: the (lang → n_docs)
    * histogram is configuration-scale and driver-held (the
    * alphaMix twin's contract); the (lang, token) → n count table is
    * VOCABULARY-scale, so it lives as versioned parquet under
    * `stateDir` — each batch reads state v(k−1), merges its own
    * per-batch counts by plain addition, and writes v(k) (never a
    * read-then-overwrite of the same files; a vacuum of old versions
    * is the deployment's retention policy). Count increments merge
    * losslessly, so after batch k the emitted frame equals batch t31
    * over the stream prefix BIT-IDENTICALLY (spec-pinned) — the same
    * changelog-compaction shape a Kafka-Streams state store uses, with
    * the merge cost O(state + batch) per batch, never a prefix
    * re-scan of the documents themselves. Replayed batch ids re-emit
    * from current state without re-folding — ACROSS RESTARTS too: the
    * lang histogram persists beside each token-state version (both
    * `_SUCCESS`-gated), and the first invocation after a JVM restart
    * recovers (tokDir, lastBatch, langCounts) from the highest fully
    * committed version — exactly the moment Structured Streaming
    * redelivers the last uncommitted batch, which would otherwise
    * reset the vocabulary state and double-count the replay; the
    * [[MonitorState]] gap guards fail a large id gap either way. */
  def langBudgetForeachBatch(stateDir: String)(
      onBudget: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = {
    val langCounts = scala.collection.mutable.Map.empty[String, Long]
    var tokDir: Option[String] = None
    var lastBatch = -1L
    // post-restart resume: adopt the highest version whose token
    // state AND lang histogram both committed (a crash between the
    // two writes falls back to the previous version, and the
    // redelivered batch re-folds — convergent either way)
    val recover = MonitorState.recovery(stateDir, "lang_") { (spark, v) =>
      import spark.implicits._
      tokDir = Some(s"$stateDir/v$v")
      lastBatch = v
      Readers.parquet(spark, s"$stateDir/lang_v$v")
        .as[(String, Long)].collect()
        .foreach { case (l, n) => langCounts(l) = n }
    }
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      import spark.implicits._
      recover(spark, batchId)
      if (batchId > lastBatch) {
        batch.groupBy("lang").agg(count(lit(1)).as("__graft_n"))
          .as[(String, Long)].collect()
          .foreach { case (l, n) => langCounts(l) = langCounts.getOrElse(l, 0L) + n }
        val batchTok = batch
          .withColumn("__graft_norm", graft.etl.TextNorm.normalizeText(col("text")))
          .select(col("lang"), explode(split(col("__graft_norm"), " ")).as("token"))
          .filter(length(col("token")) > 0)
          .groupBy("lang", "token").agg(count(lit(1)).as("n"))
        val merged = tokDir match {
          case Some(d) => Readers.parquet(spark, d).unionByName(batchTok)
            .groupBy("lang", "token").agg(sum("n").as("n"))
          case None => batchTok
        }
        val next = s"$stateDir/v$batchId"
        merged.write.mode("overwrite").parquet(next)
        // lang histogram beside the token state: the durable half of
        // the driver state, written AFTER the token state so recovery
        // (which requires both) can never adopt a half-committed pair
        langCounts.toSeq.sorted.toDF("lang", "n_docs")
          .repartition(1).write.mode("overwrite")
          .parquet(s"$stateDir/lang_v$batchId")
        tokDir = Some(next)
        lastBatch = batchId
      }
      val cov = graft.TrainingDataQueries.coverageFromTokenCounts(
        Readers.parquet(spark, tokDir.get), "lang")
      val out = graft.TrainingDataQueries
        .alphaMixFromLangCounts(langCounts.toSeq.toDF("lang", "n_docs"))
        .join(cov.select("lang", "p50_vocab", "p90_vocab", "p99_vocab",
          "vocab_total", "tokens_total"), Seq("lang"))
        .orderBy("lang")
      onBudget(out, batchId)
    }
  }

  /** Durable batch-id stamp beside a maintained COUNT artifact: count
    * addition is not replay-idempotent (unlike the HLL register union
    * in overlapHllForeachBatch), so a post-crash redelivery of the
    * last batch must be detected ACROSS JVMs, not just by the
    * in-memory guard. The stamp is a `_`-prefixed file inside the
    * artifact dir — invisible to Spark's file index, co-located so it
    * travels with the artifact. Written AFTER the artifact overwrite:
    * a crash in the narrow window between the two leaves that one
    * batch at-least-once (re-merged on redelivery) — vs. the
    * unstamped behavior where EVERY post-crash redelivery
    * double-merged. */
  private def readBatchStamp(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir, "_graft_last_batch")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) -1L
    else {
      val in = fs.open(p)
      // a torn/empty stamp (crash mid-write on a filesystem without
      // atomic rename) must degrade to the documented one-batch
      // at-least-once window, never brick the stream with a parse
      // error on every restart
      try {
        val s = scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        try s.toLong catch { case _: NumberFormatException => -1L }
      } finally in.close()
    }
  }

  /** Durable snapshots for the six DRIVER-HELD monitor histograms
    * (alphaMix/benford/cusum/controlChart/chiSquare/skyline) — the
    * restart half of their prefix-bit-identity promise — and the one
    * owner of their fold ([[MonitorState.fold]]). Each folded batch
    * persists the configuration-scale state map as a versioned
    * `_SUCCESS`-gated parquet (`v<batchId>`, the langBudget
    * convention), and a fresh closure adopts the highest committed
    * version: recovery lands exactly at the moment Structured
    * Streaming redelivers the last uncommitted batch, which the
    * recovered `lastBatch` then skips — so post-crash reports equal
    * the uninterrupted run's (spec-pinned). Snapshots are two generic
    * string key columns + a Long value (every monitor's domain is
    * configuration-scale, so a per-batch single-file write is
    * artifact-dir hygiene, not a shuffle); retention keeps the last
    * two committed versions (the previous survives any crash
    * mid-write of the next). kanon and langBudget keep their own
    * parquet state but recover through the same gap-guarded
    * [[MonitorState.recovery]]. */
  private[streaming] object MonitorState {
    /** The driver-held monitor contract, once: a Long per key, seeded
      * from `seed` or recovered from `stateDir` on the first batch,
      * each new batch id folded exactly once, and `report` emitted on
      * every call — a replayed id re-emits without re-folding. A
      * monitor supplies only `grouped` (the batch reduced to
      * snapshot-shaped (k1, k2, v) rows, so one `decode` serves the
      * batch and the snapshot), `merge`, the key's `encode`/`decode`
      * to the snapshot's string columns, and `report`. The fold
      * merges into a candidate map and commits it (snapshot, state,
      * `lastBatch`) only after the cap check passes: a tripped cap
      * leaves the closure as it was, so re-invoking the same batch id
      * re-folds and trips again instead of emitting over-cap state. */
    def fold[K: Ordering](monitor: String, seed: Map[K, Long],
        stateDir: Option[String], maxKeys: Int)(
        grouped: DataFrame => DataFrame, merge: (Long, Long) => Long,
        encode: K => (String, String), decode: (String, String) => K,
        emit: (DataFrame, Long) => Unit)(
        report: (SparkSession, Map[K, Long]) => DataFrame)
        : (DataFrame, Long) => Unit = {
      var state = seed
      var lastBatch = -1L
      val recover = stateDir.map(dir => recovery(dir) { (spark, v) =>
        import spark.implicits._
        state = Readers.parquet(spark, s"$dir/v$v")
          .as[(String, String, Long)].collect()
          .map { case (k1, k2, n) => decode(k1, k2) -> n }.toMap
        lastBatch = v
      })
      (batch: DataFrame, batchId: Long) => {
        val spark = batch.sparkSession
        import spark.implicits._
        recover.foreach(_(spark, batchId))
        if (batchId > lastBatch) {
          // LIMIT the collect: the cap must bound what reaches the
          // driver, not just the map size after an unbounded collect
          // already landed (the "fail fast" the guard promises)
          val folded = grouped(batch).limit(maxKeys + 1)
            .as[(String, String, Long)].collect()
          guardBound(folded.length, maxKeys, monitor)
          val next = folded.foldLeft(state) { case (m, (k1, k2, n)) =>
            val k = decode(k1, k2)
            m.updated(k, m.get(k).fold(n)(merge(_, n)))
          }
          guardBound(next.size, maxKeys, monitor)
          stateDir.foreach(dir => save(spark, dir, batchId,
            next.toSeq.sortBy(_._1).map { case (k, n) =>
              val (k1, k2) = encode(k)
              (k1, k2, n)
            }))
          state = next
          lastBatch = batchId
        }
        emit(report(spark, state), batchId)
      }
    }

    /** Recovery run once per closure, on the first batch it sees:
      * [[committedVersion]] against that batch id, handed to `adopt`
      * when one exists. A guard failure leaves recovery pending, so
      * every later call fails the same way. */
    def recovery(dir: String, siblings: String*)(
        adopt: (SparkSession, Long) => Unit): (SparkSession, Long) => Unit = {
      var recovered = false
      (spark, batchId) => if (!recovered) {
        committedVersion(spark, dir, batchId, siblings).foreach(adopt(spark, _))
        recovered = true
      }
    }

    /** The highest `v<n>` under `dir` holding `_SUCCESS` — and, for
      * each sibling prefix `p`, `p` + `v<n>` holding it too (state
      * written as two halves commits only when both did) — checked
      * against the delivered `batchId` by the [[RewindTolerance]]
      * gap guards. */
    private def committedVersion(spark: SparkSession, dir: String,
        batchId: Long, siblings: Seq[String]): Option[Long] = {
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(root)) return None
      val committed = versions(fs, root).filter(v => ("" +: siblings)
        .forall(p => fs.exists(
          new org.apache.hadoop.fs.Path(root, s"${p}v$v/_SUCCESS"))))
      if (committed.isEmpty) None
      else {
        val v = committed.max
        // same gap-bounded coherence rule as recoverBatchStamp: a
        // small gap is a checkpoint rewind (replays re-emit from
        // recovered state, convergent); a large one means a fresh
        // checkpoint against old state — silent no-op effectively
        // forever if allowed
        if (v - batchId > RewindTolerance) throw new IllegalStateException(
          s"monitor state at $dir was committed through batch $v but " +
            s"this query delivered batch $batchId (gap > " +
            s"$RewindTolerance) — a fresh checkpoint is running against " +
            "old state; reset the state dir together with the checkpoint " +
            "(or use a fresh state dir)")
        // the SYMMETRIC mismatch: delivered id far AHEAD of the
        // snapshot means the state dir was restored from an older
        // backup under a current checkpoint — adopting it silently
        // loses every batch in the gap (emissions undercount with no
        // signal), so the guard mirrors the rewind side: small gaps
        // log loudly (a batch may legitimately commit no snapshot),
        // large gaps fail with the restore-both remedy
        if (batchId - v > RewindTolerance) throw new IllegalStateException(
          s"monitor state at $dir was committed through batch $v but " +
            s"this query delivered batch $batchId (gap > " +
            s"$RewindTolerance) — the state dir was restored from an " +
            "older backup than the checkpoint; restore state dir and " +
            "checkpoint together (or reset both)")
        if (batchId - v > 1) System.err.println(
          s"[graft] monitor state at $dir committed through batch $v, " +
            s"query delivered batch $batchId: the ${batchId - v - 1} " +
            "batch(es) in the gap are not in the recovered state — " +
            "their contributions are lost unless redelivered")
        if (batchId < v) System.err.println(
          s"[graft] monitor state at $dir committed through batch $v, " +
            s"query delivered batch $batchId: treating as a checkpoint " +
            "rewind — replayed batches re-emit without re-folding")
        Some(v)
      }
    }

    private def versions(fs: org.apache.hadoop.fs.FileSystem,
                         root: org.apache.hadoop.fs.Path): Seq[Long] =
      fs.listStatus(root).toSeq.map(_.getPath.getName)
        .filter(_.matches("v\\d+")).map(_.drop(1).toLong)

    private def save(spark: SparkSession, dir: String, batchId: Long,
                     rows: Seq[(String, String, Long)]): Unit = {
      import spark.implicits._
      rows.toDF("k1", "k2", "v").repartition(1)
        .write.mode("overwrite").parquet(s"$dir/v$batchId")
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      versions(fs, root).sorted.dropRight(2)
        .foreach(v => fs.delete(
          new org.apache.hadoop.fs.Path(root, s"v$v"), true))
    }

    /** The driver-map bound made EXPLICIT: every monitor's contract is
      * a configuration-scale key domain (languages, digits, segments ×
      * nations, brand × price points). Nothing structural stops a
      * caller wiring a high-cardinality stream in, and unbounded
      * driver state fails late and opaquely (heap) — so the fold
      * fails FAST with the contract named instead. */
    private def guardBound(nKeys: Int, maxKeys: Int, monitor: String): Unit =
      if (nKeys > maxKeys) throw new IllegalStateException(
        s"$monitor monitor state grew to $nKeys keys (cap $maxKeys): " +
          "the key domain must be configuration-scale; re-key the " +
          "stream or raise maxKeys deliberately")
  }

  /** How far an incoming batch id may sit BELOW a recovered stamp
    * before it reads as a checkpoint/artifact mismatch rather than a
    * rewind. Two indistinguishable-at-recovery cases share that
    * signature: (a) a checkpoint restored from backup while the
    * artifact kept its newer state — the replayed ids re-deliver data
    * the artifact already folded, so skipping them is exactly right
    * and ids catch up within the rewind window; (b) a FRESH checkpoint
    * (ids reset to 0) against an old artifact — every new batch below
    * the stamp is silently dropped until ids crawl past it, which for
    * a long-lived artifact is effectively forever. The damage of a
    * wrong skip is proportional to the gap, so small gaps are treated
    * as (a) with a loud log line and large gaps fail as (b): restore
    * artifact and checkpoint together, or reset both. */
  private[streaming] val RewindTolerance = 64L

  /** Recovery-time stamp read WITH the coherence guard above — in
    * BOTH directions, so the artifact maintainers (histogram / top-k /
    * CMS, and the drift monitors composed on them) share the
    * [[MonitorState]] recovery contract uniformly. Below-stamp gaps
    * are [[RewindTolerance]]'s two cases (rewind vs fresh
    * checkpoint). The SYMMETRIC mismatch — the delivered id far AHEAD
    * of the stamp — is an artifact dir restored from an OLDER backup
    * than the checkpoint: the gap batches' contributions are not in
    * the recovered artifact and will never be redelivered, so
    * adopting the stale counts silently undercounts forever; small
    * ahead gaps log loudly instead, large ones fail with the
    * restore-both remedy. The guard is sound because NO-OP batches
    * also advance the stamp once the dir exists ([[stampNoOpBatch]])
    * — a long-idle stream never accumulates a gap: the only benign
    * ahead gap left is the one-batch crash window (data written,
    * stamp not yet), and pre-first-data idling reads as stamp −1,
    * which skips the guard entirely. The stamp protocol assumes batch
    * ids are monotone over the artifact's lifetime — true while
    * artifact and checkpoint live and die together. Guards apply only
    * when a stamp EXISTS: starting a fresh artifact mid-stream
    * (stamp −1, any first id) is the caller's deliberate choice, as
    * with a fresh [[MonitorState]] dir. */
  private def recoverBatchStamp(spark: SparkSession, dir: String,
                                batchId: Long): Long = {
    val stamp = readBatchStamp(spark, dir)
    if (stamp - batchId > RewindTolerance) throw new IllegalStateException(
      s"artifact at $dir was maintained through batch $stamp but this " +
        s"query delivered batch $batchId (gap > $RewindTolerance) — a " +
        "fresh checkpoint is running against an old artifact; reset the " +
        "artifact dir together with the checkpoint (or use a fresh dir)")
    if (stamp >= 0 && batchId - stamp > RewindTolerance)
      throw new IllegalStateException(
        s"artifact at $dir was maintained through batch $stamp but this " +
          s"query delivered batch $batchId (gap > $RewindTolerance) — " +
          "the artifact dir was restored from an older backup than the " +
          "checkpoint; restore artifact and checkpoint together (or " +
          "reset both)")
    if (stamp >= 0 && batchId - stamp > 1) System.err.println(
      s"[graft] artifact at $dir stamped through batch $stamp, query " +
        s"delivered batch $batchId: the ${batchId - stamp - 1} batch(es) " +
        "in the gap are not in the artifact — their contributions are " +
        "lost unless redelivered")
    if (batchId < stamp) System.err.println(
      s"[graft] artifact at $dir stamped through batch $stamp, query " +
        s"delivered batch $batchId: treating as a checkpoint rewind — " +
        "replayed batches skip-fold until ids pass the stamp")
    stamp
  }

  private def writeBatchStamp(spark: SparkSession, dir: String,
                              batchId: Long): Unit = {
    // write-then-rename: fs.create(p, true) truncates immediately, so
    // a crash between create and close would leave an EMPTY stamp at
    // the final path; staging under a temp name keeps the stamp either
    // old or new, never torn (rename is atomic on HDFS/POSIX; on
    // stores where it isn't, readBatchStamp tolerates the tear)
    val p = new org.apache.hadoop.fs.Path(dir, "_graft_last_batch")
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s"_graft_last_batch.tmp-${java.util.UUID.randomUUID}")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(tmp, true)
    try out.write(batchId.toString.getBytes("UTF-8"))
    finally out.close()
    fs.delete(p, false)
    if (!fs.rename(tmp, p)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"batch stamp rename failed: $tmp -> $p")
    }
  }

  /** Advance the durable stamp for a NO-OP batch — a batch that folded
    * nothing still HAPPENED: empty (or fully-filtered) micro-batches
    * are routine in Structured Streaming, and if they never stamped, a
    * long-idle stream would accumulate an arbitrary stamp↔checkpoint
    * gap with zero data lost — and the next restart's ahead-gap guard
    * ([[recoverBatchStamp]]) would misread the healthy pair as an
    * older-backup restore and wedge the stream permanently (the sink
    * throws before any fold can ever advance the stamp). Stamps only
    * when the artifact dir already exists: creating the dir for a
    * bare stamp would commit a data-less dir whose schema the next
    * read cannot infer — and while no data exists the recovery guard
    * is skipped anyway (stamp −1 reads as a fresh artifact). */
  private def stampNoOpBatch(spark: SparkSession, dir: String,
                             batchId: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) writeBatchStamp(spark, dir, batchId)
  }

  /** Streaming histogram-artifact maintenance (#194) — the producer
    * side of the q75/q57 artifact consumers run from a stream: keep a
    * day-partitioned (day, keys…, v) → count histogram table current
    * as events arrive, so the no-rescan drift/winsorize/quantile
    * consumers always have tonight's artifact without a batch job.
    * Per micro-batch: the batch reduces to its own counts, the
    * TOUCHED days' stored rows (and only those — a batch near the
    * frontier touches 1–2 partitions however long the history) merge
    * in by count addition, and #158's dynamic-partition overwrite
    * swaps exactly those day partitions. The merged frame is
    * materialized through a checkpoint first — it READS the very
    * files the overwrite replaces (the AnnIndex.maintain
    * materialize-before-overwrite hazard class). Count addition is
    * associative, so the final table is bit-identical to a one-shot
    * batch [[graft.sources.SketchStore.saveHistogram]] over the whole
    * stream (spec-pinned), and a replayed batch id re-merges nothing —
    * including the post-crash redelivery, via the durable batch stamp
    * ([[readBatchStamp]]; the stamp's one narrow at-least-once window
    * is documented there). Batch schema: `day` + `keyCols` + `v`. */
  def histogramArtifactForeachBatch(dir: String, keyCols: Seq[String])(
      onUpdated: (Long) => Unit = _ => ()): (DataFrame, Long) => Unit = {
    var lastBatch = -1L
    val allKeys = "day" +: keyCols :+ "v"
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      if (lastBatch < 0) lastBatch = recoverBatchStamp(spark, dir, batchId)
      if (batchId > lastBatch) {
        val newCounts = batch
          .groupBy(allKeys.map(col): _*).agg(count(lit(1)).as("cnt"))
        val touched = newCounts.select("day").distinct().collect()
          .map(_.get(0)).toSeq
        // empty micro-batches are normal in Structured Streaming; an
        // unguarded write would commit a data-less artifact dir whose
        // schema the NEXT batch's read cannot infer, wedging the
        // stream. Nothing to merge ⇒ nothing to write — but the stamp
        // still advances once the dir exists ([[stampNoOpBatch]]: an
        // idle stream must not accumulate a stamp↔checkpoint gap the
        // recovery guard would misread as an older-backup restore).
        if (touched.nonEmpty) {
          val target = new org.apache.hadoop.fs.Path(dir)
          val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val existing =
            if (fs.exists(target))
              Some(Readers.parquet(spark, dir)
                .filter(col("day").isin(touched: _*))
                .select((allKeys :+ "cnt").map(col): _*))
            else None
          val merged = existing.fold(newCounts)(_.unionByName(newCounts))
            .groupBy(allKeys.map(col): _*).agg(sum("cnt").as("cnt"))
            .localCheckpoint(true)
          graft.sources.Writers.overwritePartitions(merged, dir, Seq("day"))
          writeBatchStamp(spark, dir, batchId)
        } else stampNoOpBatch(spark, dir, batchId)
        lastBatch = batchId
      }
      onUpdated(batchId)
    }
  }

  /** Streaming index-health monitor (#323) — the r14 hot-cell gate
    * deployed the way an index owner actually runs it: each arriving
    * embedding batch is appended to the persisted IVF index
    * ([[graft.sim.AnnIndex.append]]) and the hot-cell capacity signal
    * ([[graft.sim.AnnIndex.hotCellSignal]]) is evaluated and emitted
    * PER BATCH, so the geometry drift recall audits cannot see (probe
    * cost ∝ probed cell MASS — the GEOCHECK r13 finding) surfaces
    * while it grows, not at the next maintenance window. Append is
    * not replay-idempotent (a replayed batch would double its
    * vectors), so the index dir carries the same durable batch stamp
    * as the artifact maintainers: replayed ids SKIP the append but
    * still emit the health row (idempotent from current state), and
    * the stamp's one narrow at-least-once window (crash between
    * append and stamp) re-appends exactly one batch — duplicate
    * (id, vec) rows score identically, so a top-k list can carry a
    * duplicate id until the next rebuild/compaction purges it; the
    * window is the histogramArtifactForeachBatch contract, documented
    * there. Batch schema: (id, vec) + the index's metadata columns.
    * Health row: (batch_id, n_vectors, max_cell, occupancy_target,
    * hot, suggested_n_cells) — the signal's metadata-only census, no
    * vector reads. */
  def indexHealthForeachBatch(dir: String, maxMultiple: Long = 3L)(
      onReport: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = {
    var lastBatch = -1L
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      if (lastBatch < 0) lastBatch = recoverBatchStamp(spark, dir, batchId)
      if (batchId > lastBatch) {
        if (!batch.isEmpty) {
          graft.sim.AnnIndex.append(batch, dir)
          writeBatchStamp(spark, dir, batchId)
        } else stampNoOpBatch(spark, dir, batchId)
        lastBatch = batchId
      }
      val sig = graft.sim.AnnIndex.hotCellSignal(spark, dir, maxMultiple)
      import spark.implicits._
      onReport(Seq((batchId, sig.nVec, sig.maxCell, sig.target,
          if (sig.hot) 1L else 0L, sig.suggestedNCells.toLong))
        .toDF("batch_id", "n_vectors", "max_cell", "occupancy_target",
          "hot", "suggested_n_cells"), batchId)
    }
  }

  /** Streaming KS drift monitor (#292) — q111/q112's streaming twin,
    * built as a COMPOSITION of two already-verified pieces rather
    * than a new driver-held state family: each batch folds into the
    * day-partitioned cents-histogram artifact via
    * [[histogramArtifactForeachBatch]] (state lives in parquet with
    * the durable batch stamp — the cents domain is VALUE-scale, far
    * too large for a driver map), then the exact two-sample KS report
    * re-derives from the artifact's day windows through the shared
    * [[graft.AnalyticsQueries.ksFromCounts]] kernel. After batch k
    * the report is BIT-IDENTICAL to batch q111 over the stream prefix
    * (spec-pinned; the histogram is lossless for a CDF statistic and
    * re-derivation folds late days exactly). Replayed batch ids
    * re-emit without re-folding (the maintainer's stamp); restart
    * durability and rewind/mismatch guards are the maintainer's.
    * Batch schema: `day` DATE + `event_type` + `v` (cents). Days
    * ≤ `refEnd` are the frozen reference window. No emission until
    * the artifact holds its first committed rows. */
  def ksDriftForeachBatch(dir: String, refEnd: String = graft.AnalyticsQueries.DriftRefEnd)(
      onReport: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    driftMonitorForeachBatch(dir, refEnd,
      graft.AnalyticsQueries.ksFromCounts)(onReport)

  /** Streaming AUC drift monitor (#297) — q113/q114's streaming twin:
    * the [[ksDriftForeachBatch]] composition with the EFFECT-SIZE
    * kernel swapped in (Mann–Whitney U over the same maintained value
    * histogram — direction and magnitude where KS gives presence).
    * Detector and effect size are two derivations of ONE artifact
    * format, so the parity/recovery story is inherited wholesale:
    * after batch k the report is bit-identical to batch q113 over the
    * stream prefix, replayed ids re-emit without re-folding, and a
    * fresh closure recovers through the maintainer's durable stamp
    * (all spec-pinned alongside the KS cases). Each monitor instance
    * maintains its OWN artifact dir — to serve both statistics from
    * one fold, compose [[histogramArtifactForeachBatch]] with the two
    * kernels directly instead of running both monitors on one dir
    * (two folds of the same batch would double-count). */
  def aucDriftForeachBatch(dir: String, refEnd: String = graft.AnalyticsQueries.DriftRefEnd)(
      onReport: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    driftMonitorForeachBatch(dir, refEnd,
      graft.AnalyticsQueries.aucFromCounts)(onReport)

  /** Streaming W₁ drift monitor (#301) — q115/q116's streaming twin,
    * the third kernel through the same [[driftMonitorForeachBatch]]
    * shape: transport cost (mean cents moved per event) where KS
    * gives presence and AUC direction. Parity/recovery inherited and
    * spec-pinned exactly like the KS/AUC twins. */
  def w1DriftForeachBatch(dir: String, refEnd: String = graft.AnalyticsQueries.DriftRefEnd)(
      onReport: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    driftMonitorForeachBatch(dir, refEnd,
      graft.AnalyticsQueries.w1FromCounts)(onReport)

  /** The shared drift-monitor shape: fold the batch into the
    * day-partitioned cents-histogram artifact (durable batch stamp —
    * state in parquet, the cents domain is value-scale, never a
    * driver map), then re-derive `kernel`'s statistic from the
    * artifact's day windows. ONE definition of the window split and
    * zero-fill serves both statistics (the batch-side
    * driftWindowCounts convention). */
  private def driftMonitorForeachBatch(dir: String, refEnd: String,
      kernel: DataFrame => DataFrame)(
      onReport: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = {
    val fold = histogramArtifactForeachBatch(dir, Seq("event_type"))()
    (batch: DataFrame, batchId: Long) => {
      // null values dropped EXPLICITLY — the q111 domain rule, so the
      // monitor, the artifact consumer and the raw scan agree
      fold(batch.filter(col("v").isNotNull), batchId)
      val spark = batch.sparkSession
      val target = new org.apache.hadoop.fs.Path(dir)
      val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(target)) {
        def window(pred: org.apache.spark.sql.Column, out: String): DataFrame =
          Readers.parquet(spark, dir).filter(pred)
            .groupBy(col("event_type"), col("v").as("cents"))
            .agg(sum("cnt").as(out))
        val c = window(col("day") <= refEnd, "o_ref")
          .join(window(col("day") > refEnd, "o_cur"),
            Seq("event_type", "cents"), "full")
          .na.fill(0L, Seq("o_ref", "o_cur"))
        onReport(kernel(c).orderBy("event_type"), batchId)
      }
    }
  }

  /** Streaming top-k artifact maintenance (#208) — #194's sibling for
    * the SpaceSaving family: keep the per-day sketch table that q74/
    * q76/q80 consume current as events arrive. Per micro-batch: the
    * batch folds into per-day buffers (one distributed groupByKey —
    * the saveTopKGrouped kernel), the TOUCHED days' stored buffers
    * merge in via the Aggregator's own weighted-add (driver-side over
    * kilobyte sketch rows — the same economics as mergeTopK), and
    * #158's dynamic-partition overwrite swaps exactly those day
    * partitions. In the capacity ≫ domain regime counts add exactly,
    * so the stored table is bit-identical to a one-shot batch
    * [[graft.sources.SketchStore.saveTopKGrouped]] over the whole
    * stream (spec-pinned with days straddling batches); in the
    * eviction regime each day's buffer keeps the summed Σn/capacity
    * bound. Replayed batch ids merge nothing — across restarts too
    * (durable batch stamp, [[readBatchStamp]]). Batch schema: `day` +
    * `item`. */
  def topkArtifactForeachBatch(dir: String, capacity: Int)(
      onUpdated: (Long) => Unit = _ => ()): (DataFrame, Long) => Unit = {
    var lastBatch = -1L
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      import spark.implicits._
      if (lastBatch < 0) lastBatch = recoverBatchStamp(spark, dir, batchId)
      if (batchId > lastBatch) {
        val hh = new graft.functions.HeavyHitters(capacity, capacity)
        val newBuf = batch
          .select(col("day").cast(org.apache.spark.sql.types.StringType),
            col("item").cast(org.apache.spark.sql.types.StringType))
          .as[(String, String)]
          .groupByKey(_._1).mapValues(_._2)
          .agg(hh.toColumn.name("counters"))
          .collect().toMap
        // empty batch ⇒ nothing to merge or write (an unguarded empty
        // write commits a data-less dir the next read cannot infer);
        // the stamp still advances once the dir exists (stampNoOpBatch
        // — the histogram maintainer's idle-gap rule)
        if (newBuf.nonEmpty) {
          val target = new org.apache.hadoop.fs.Path(dir)
          val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val stored: Map[String, Seq[(String, Long)]] =
            if (fs.exists(target))
              Readers.parquet(spark, dir)
                .filter(col("grp").isin(newBuf.keys.toSeq: _*))
                .select(col("grp").cast(org.apache.spark.sql.types.StringType),
                  col("item"), col("cnt"))
                .as[(String, String, Long)].collect()
                .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSeq).toMap
            else Map.empty
          val merged = newBuf.toSeq.sortBy(_._1).flatMap { case (day, counters) =>
            val m = scala.collection.mutable.Map(counters: _*)
            val out = stored.get(day) match {
              case Some(old) =>
                hh.merge(scala.collection.mutable.Map(old: _*), m)
              case None => m
            }
            out.toSeq.map { case (it, n) => (day, it, n) }
          }
          merged.toDF("grp", "item", "cnt")
            .withColumn("capacity", lit(capacity))
            .repartition(col("grp"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("grp").parquet(dir)
          writeBatchStamp(spark, dir, batchId)
        } else stampNoOpBatch(spark, dir, batchId)
        lastBatch = batchId
      }
      onUpdated(batchId)
    }
  }

  /** Streaming CMS-artifact maintenance (#225) — #194/#208's sibling
    * for the count-min family: keep the per-day point-frequency grids
    * that q87 consumes current as events arrive. Per micro-batch: ONE
    * distributed `count_min_sketch` agg per touched day reduces the
    * batch to kilobyte grids, the touched days' stored binaries merge
    * in by CELL-WISE ADDITION driver-side (lossless under identical
    * (eps, confidence, seed) — the same hashes index the same cells),
    * and #158's dynamic-partition overwrite swaps exactly those day
    * partitions. Addition is associative and commutative, so the
    * maintained table answers every point query EXACTLY as a one-shot
    * [[graft.sources.SketchStore.saveCmsGrouped]] over the whole
    * stream (spec-pinned estimate parity); replayed batch ids merge
    * nothing — across restarts too (durable batch stamp,
    * [[readBatchStamp]]). Batch schema: `day` + `item`; artifact
    * schema matches saveCmsGrouped, so
    * [[graft.sources.SketchStore.cmsEstimates]] serves both. */
  def cmsArtifactForeachBatch(dir: String, eps: Double = 0.0005,
                              confidence: Double = 0.99, seed: Int = 42)(
      onUpdated: (Long) => Unit = _ => ()): (DataFrame, Long) => Unit = {
    var lastBatch = -1L
    val epsE6 = math.round(eps * 1e6)
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      import spark.implicits._
      if (lastBatch < 0) lastBatch = recoverBatchStamp(spark, dir, batchId)
      if (batchId > lastBatch) {
        import org.apache.spark.util.sketch.CountMinSketch
        val newRows = batch
          .groupBy(col("day").cast(org.apache.spark.sql.types.StringType)
            .as("grp"))
          .agg(count_min_sketch(
              col("item").cast(org.apache.spark.sql.types.StringType),
              lit(eps), lit(confidence), lit(seed)).as("cms"),
            count(lit(1)).as("n_items"))
          .as[(String, Array[Byte], Long)].collect()
        // empty batch ⇒ nothing to merge or write; the stamp still
        // advances once the dir exists (the idle-gap rule)
        if (newRows.nonEmpty) {
          val target = new org.apache.hadoop.fs.Path(dir)
          val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val stored: Map[String, (Array[Byte], Long)] =
            if (fs.exists(target))
              Readers.parquet(spark, dir)
                .filter(col("grp").isin(newRows.map(_._1).toSeq: _*))
                .select(col("grp")
                  .cast(org.apache.spark.sql.types.StringType),
                  col("cms"), col("n_items"))
                .as[(String, Array[Byte], Long)].collect()
                .map(r => r._1 -> (r._2, r._3)).toMap
            else Map.empty
          val merged = newRows.toSeq.sortBy(_._1).map { case (day, cms, n) =>
            stored.get(day) match {
              case Some((old, oldN)) =>
                val a = CountMinSketch.readFrom(
                  new java.io.ByteArrayInputStream(old))
                a.mergeInPlace(CountMinSketch.readFrom(
                  new java.io.ByteArrayInputStream(cms)))
                val bos = new java.io.ByteArrayOutputStream()
                a.writeTo(bos)
                (day, bos.toByteArray, oldN + n)
              case None => (day, cms, n)
            }
          }
          merged.toDF("grp", "cms", "n_items")
            .withColumn("eps_e6", lit(epsE6))
            .withColumn("seed", lit(seed))
            .repartition(col("grp"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("grp").parquet(dir)
          writeBatchStamp(spark, dir, batchId)
        } else stampNoOpBatch(spark, dir, batchId)
        lastBatch = batchId
      }
      onUpdated(batchId)
    }
  }

  /** Streaming FORGET propagation into the CMS artifacts (#234) —
    * #225 composed with the decrementable cell-grid family (#233):
    * the maintained point-frequency artifact now consumes a CDC-style
    * stream where each row carries a WEIGHT (+1 ordinary event, −1
    * erasure), so the day q70's forget-set cascade reaches the events
    * table the purge flows through the SAME pipe as ingest — a
    * forget batch decrements exactly the forgotten occurrences'
    * cells (CMS linearity), and the artifact thereafter answers as if
    * rebuilt over the retained stream (spec-pinned bit-identical).
    * #225's binary grids cannot do this (Spark's sketch API is
    * increment-only); the cell-grid representation is the whole
    * point.
    *
    * Per micro-batch: ONE distributed (grp, r, c) aggregation reduces
    * the batch to per-touched-day kilobyte grids, the touched days'
    * stored rows fold in by cell-wise addition (a union + sum — all
    * DataFrame-side, nothing corpus-scale on the driver), and #158's
    * dynamic-partition overwrite swaps exactly those days. NETTED-OUT
    * cells persist as explicit cnt = 0 rows HERE (unlike the one-shot
    * [[graft.sources.SketchStore.saveCmsCellsGrouped]]): dynamic
    * overwrite only replaces partitions PRESENT in the written frame,
    * so a day whose every count nets to zero must still emit rows or
    * its stale pre-erasure partition would survive the purge — the
    * zero row is the day's erasure record, and every consumer
    * ([[graft.sources.SketchStore.mergedCmsCells]]) drops it on read
    * (the fully-netted-day case is spec-pinned). Replayed batch ids
    * merge nothing, across restarts too (durable batch stamp).
    * Batch schema: `day`, `item`, `wt`. */
  def cmsCellsForeachBatch(dir: String, depth: Int = 4, width: Int = 512)(
      onUpdated: (Long) => Unit = _ => ()): (DataFrame, Long) => Unit = {
    var lastBatch = -1L
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      import graft.sources.SketchStore
      if (lastBatch < 0) lastBatch = recoverBatchStamp(spark, dir, batchId)
      if (batchId > lastBatch) {
        val newCells = batch
          .select(col("day").cast(org.apache.spark.sql.types.StringType)
              .as("grp"),
            col("item").cast(org.apache.spark.sql.types.StringType).as("it"),
            col("wt").cast(org.apache.spark.sql.types.LongType).as("wt"))
          .select(col("grp"), col("it"), col("wt"),
            explode(expr(s"sequence(0, ${depth - 1})")).as("r"))
          .groupBy(col("grp"), col("r"),
            SketchStore.cmsCellIndex(col("it"), col("r"), width).as("c"))
          .agg(sum("wt").as("cnt"))
        val touched = newCells.select("grp").distinct()
          .collect().map(_.getString(0)).toSeq
        // empty batch ⇒ nothing to merge or write; the stamp still
        // advances once the dir exists (the idle-gap rule)
        if (touched.nonEmpty) {
          val target = new org.apache.hadoop.fs.Path(dir)
          val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val stored =
            if (fs.exists(target)) {
              val s = Readers.parquet(spark, dir)
                .filter(col("grp").isin(touched: _*))
              val params = s.select("depth", "width").distinct()
                .collect().map(r => (r.getInt(0), r.getInt(1)))
              require(params.forall(_ == (depth, width)),
                s"stored grids are ${params.toSeq}, maintainer runs ($depth, $width)")
              s.select("grp", "r", "c", "cnt")
            } else newCells.limit(0)
          stored.unionByName(newCells)
            .groupBy("grp", "r", "c").agg(sum("cnt").as("cnt"))
            .withColumn("depth", lit(depth)).withColumn("width", lit(width))
            .repartition(col("grp"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("grp").parquet(dir)
          writeBatchStamp(spark, dir, batchId)
        } else stampNoOpBatch(spark, dir, batchId)
        lastBatch = batchId
      }
      onUpdated(batchId)
    }
  }

  /** Streaming ANN index upsert (#239) — the CDC pipe into the
    * persisted vector store (#136), composing [[graft.sim.AnnIndex
    * .upsert]] and `.delete`: each micro-batch's `D` rows tombstone
    * their ids' current versions and its `I`/`U` rows replace theirs
    * (tombstone + next-generation append — O(batch), never a cell
    * rewrite), so a re-embedded or erased document reaches serving
    * within one batch. Replay-safe TWICE over: the durable batch
    * stamp (at the index ROOT — `cells/` is overwritten by purge/
    * rebuild, the stamp must survive both) skips redelivered ids,
    * and even inside the stamp's narrow at-least-once window a
    * replayed upsert is SELF-HEALING — its delete-at-current-gen
    * retires the crashed run's append before re-appending, so probes
    * are bit-identical (spec-pinned), unlike a bare re-append which
    * would rank the same vector twice. Batch schema: `op` ("I"/"U"/
    * "D"), `id`, `vec` (+ metadata columns riding into the cells). */
  def annUpsertForeachBatch(indexDir: String)(
      onApplied: Long => Unit = _ => ()): (DataFrame, Long) => Unit = {
    import graft.sim.AnnIndex
    var lastBatch = -1L
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      if (lastBatch < 0) lastBatch = recoverBatchStamp(spark, indexDir, batchId)
      if (batchId > lastBatch) {
        // the batch frame feeds two writes — materialize once
        val b = batch.localCheckpoint(true)
        val dels = b.filter(col("op") === "D").select("id")
        val ups = b.filter(col("op") =!= "D").drop("op")
        val applied =
          (if (dels.isEmpty) false
           else { AnnIndex.delete(dels, indexDir); true }) |
          (if (ups.isEmpty) false
           else { AnnIndex.upsert(ups, indexDir); true })
        // empty batch ⇒ nothing applied; the stamp still advances
        // once the index exists (the idle-gap rule — stampNoOpBatch)
        if (applied) writeBatchStamp(spark, indexDir, batchId)
        else stampNoOpBatch(spark, indexDir, batchId)
        lastBatch = batchId
      }
      onApplied(batchId)
    }
  }

  /** Streaming quota gate (#226) — q87's consumer wired to #225's
    * maintained artifact: each micro-batch first folds into the
    * per-day CMS table, then re-prices every item SEEN IN THIS BATCH
    * against the CURRENT whole-history artifact and emits the ones
    * whose estimated total crosses `quota` — the continuous
    * abuse/quota alert ("this user just exceeded N events all-time")
    * without ever re-scanning events. The estimate never undercounts,
    * so a user whose TRUE total crosses the quota can never slip
    * through (one-sided error in the safe direction; a false alarm is
    * bounded by eps·N — spec-pinned both ways). Per-batch cost: the
    * fold + ONE batch-sized sketch agg folded into a DRIVER-HELD
    * all-time grid + one point query per distinct batch item — the
    * stored artifact is read once at adoption (first batch /
    * post-restart), never re-merged per batch (CMS addition is
    * associative, so grid(history) + grid(batch) ≡ grid(history ∪
    * batch) exactly). Replayed batch ids re-price from the current
    * grid without re-folding it. */
  def cmsQuotaForeachBatch(dir: String, quota: Long,
                           eps: Double = 0.0005, confidence: Double = 0.99,
                           seed: Int = 42)(
      onFlags: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = {
    val fold = cmsArtifactForeachBatch(dir, eps, confidence, seed)()
    var grid: Option[org.apache.spark.util.sketch.CountMinSketch] = None
    var lastFolded = -1L
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      import spark.implicits._
      fold(batch, batchId)
      val artifactPath = new org.apache.hadoop.fs.Path(dir)
      val artifactExists = artifactPath
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(artifactPath)
      grid match {
        case None if artifactExists =>
          // adopt the history grid ONCE, AFTER the fold — the artifact
          // already contains this batch, so no batch-side add here;
          // also covers restarts (the artifact is the durable state).
          // An all-empty prefix leaves no artifact yet — stay
          // unadopted (an empty batch flags nothing anyway).
          // lastFolded advances to the artifact's DURABLE stamp, not
          // just this batchId: after a checkpoint rewind the replayed
          // batches above the adoption id are already inside the
          // adopted grid (the fold's stamp skipped them), and
          // re-folding them here would double-count every item.
          grid = Some(graft.sources.SketchStore
            .mergedCms(spark, dir, lit(true))._1)
          lastFolded = math.max(batchId, readBatchStamp(spark, dir))
        case None => ()
        case Some(g) if batchId > lastFolded =>
          // fold only THIS batch's own grid into the driver-held total
          val bs = batch
            .select(count_min_sketch(
              col("item").cast(org.apache.spark.sql.types.StringType),
              lit(eps), lit(confidence), lit(seed)).as("c"))
            .head().getAs[Array[Byte]](0)
          if (bs != null)
            g.mergeInPlace(org.apache.spark.util.sketch.CountMinSketch
              .readFrom(new java.io.ByteArrayInputStream(bs)))
          lastFolded = batchId
        case _ => () // replayed batch id: grid already includes it
      }
      val items = batch
        .select(col("item").cast(org.apache.spark.sql.types.StringType))
        .distinct().as[String].collect().toSeq.sorted
      val flagged = grid.fold(Seq.empty[(String, Long)])(g =>
        items.map(it => it -> g.estimateCount(it)).filter(_._2 > quota))
      onFlags(flagged.toDF("item", "est_n")
        .withColumn("quota", lit(quota)), batchId)
    }
  }

  /** Streaming churn alert (#213) — q80's consumer wired to #208's
    * maintained artifact: each micro-batch first folds into the
    * per-day sketch table ([[topkArtifactForeachBatch]]'s kernel,
    * delegated), then re-derives the week-over-week top-k churn frame
    * from the CURRENT artifact and emits it — the alerting loop
    * ("leaderboard changed") runs continuously instead of nightly.
    * Because the artifact converges bit-identically to the batch
    * build, the emitted frame after the final batch equals the batch
    * q80 consumer over a one-shot artifact exactly (spec-pinned).
    * Cost per batch: the fold + sketch-sized driver set algebra —
    * events are never re-scanned. */
  def topkChurnForeachBatch(dir: String, capacity: Int, k: Int = 3)(
      onChurn: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = {
    val fold = topkArtifactForeachBatch(dir, capacity)()
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      import spark.implicits._
      fold(batch, batchId)
      val topk = graft.sources.SketchStore
        .mergeTopKRollup(spark, dir, k, rollup = { day =>
          val d = java.time.LocalDate.parse(day)
          d.minusDays(d.getDayOfWeek.getValue - 1L).toString
        }).map { case (wk, it, _) => (wk, it) }
      val weeks = topk.map(_._1).distinct.sorted
      val byWeek = topk.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val out = weeks.zip(weeks.drop(1)).map { case (pw, w) =>
        val (cur, prv) = (byWeek(w), byWeek(pw))
        (w, (cur -- prv).size.toLong, (prv -- cur).size.toLong,
          (cur & prv).size.toLong)
      }.toDF("week", "n_entered", "n_exited", "n_common")
        .orderBy("week")
      onChurn(out, batchId)
    }
  }

  /** Streaming audience-overlap refresh (#185) — q73's streaming twin:
    * serve the estimated distinct-user overlap matrix continuously as
    * events arrive. State = ONE HLL register set per event type
    * (driver-held kilobytes; the type domain is configuration-scale),
    * folded per micro-batch by a distributed `hll_sketch_agg` +
    * lossless `hll_union_agg` against the prior state. Because the
    * Datasketches union at equal lgK is register-identical however the
    * stream is batched (the q71-pinned identity), after batch k the
    * emitted matrix equals batch q73 over the stream prefix EXACTLY
    * (spec-pinned). Replayed batch ids re-emit without re-folding —
    * double-merging an HLL sketch is harmless (union is idempotent)
    * but the guard keeps the fold exactly-once by construction. */
  def overlapHllForeachBatch(onMatrix: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = {
    val state = scala.collection.mutable.Map.empty[String, Array[Byte]]
    var lastBatch = -1L
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      import spark.implicits._
      if (batchId > lastBatch) {
        val prev = state.toSeq.toDF("event_type", "sk")
        val merged = batch
          .groupBy("event_type").agg(hll_sketch_agg(col("user_id")).as("sk"))
          .unionByName(prev)
          .groupBy("event_type").agg(hll_union_agg(col("sk")).as("sk"))
          .as[(String, Array[Byte])].collect()
        state.clear()
        merged.foreach { case (t, sk) => state(t) = sk }
        lastBatch = batchId
      }
      val perType = state.toSeq.toDF("event_type", "sk")
      onMatrix(graft.AnalyticsQueries.overlapFromTypeSketches(perType), batchId)
    }
  }

  /** Streaming anomaly flags — the streaming twin of q54's integer z²
    * test: per event type the state is three integers (n, Σx, Σx²) of
    * all PRIOR events, and each arriving event is tested prequentially
    * against them — (x·n − s)² > 4·(n·ss − s²), the 2σ rule with no
    * mean, no sqrt, no float (BigInt for the transient squares; the
    * STORED sums stay Long, exact while n·x² < 2⁶³ ≈ 9·10⁸ events per
    * type at cent scale — past that, shard the key or rebase).
    * Test-then-fold means a flag depends only on history, never on the
    * event itself inflating its own baseline, and a `warmup` floor
    * keeps early noisy variance from flagging everything. State is
    * O(event types) — three longs each — forever. */
  def anomalyStream(events: DataFrame, warmup: Long = 30): Dataset[AnomalyFlag] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .selectExpr("event_id", "event_type",
        "cast(round(value * 100, 0) as bigint) as cents")
      .as[(Long, String, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[TypeStats, AnomalyFlag](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { (et, rows, state) =>
        var st = state.getOption.getOrElse(TypeStats(0L, 0L, 0L))
        val out = Vector.newBuilder[AnomalyFlag]
        rows.foreach { case (id, _, x) =>
          if (st.n >= warmup) {
            val dev = BigInt(x) * st.n - st.s
            val spread = BigInt(st.n) * st.ss - BigInt(st.s) * st.s
            if (dev * dev > spread * 4) out += AnomalyFlag(id, et, x)
          }
          st = TypeStats(st.n + 1, st.s + x, st.ss + x * x)
        }
        state.update(st)
        out.result().iterator
      }
  }

  /** Streaming EWMA — the streaming twin of q52's finite-memory
    * exponentially-weighted moving average (weights 8:4:2:1 over the
    * current + 3 preceding days-with-data, same integer numerator /
    * denominator and the same shared-IEEE rounding step, so a closed
    * day's row is BIT-IDENTICAL to the batch q52 row).
    *
    * Day-closing protocol (a hand-rolled watermark in day units,
    * because the EWMA recurrence needs days closed IN ORDER, which a
    * windowed aggregate + downstream stateful op chain does not
    * guarantee): per event type the state holds
    *   - accumulating cents for OPEN days (≤ latenessDays + 1 entries),
    *   - the last 3 CLOSED daily totals (the finite memory),
    *   - the highest closed day.
    * An event at day d > (max seen − latenessDays) accumulates; a day
    * closes — emitting its (cents, ewma_milli) — once events arrive
    * latenessDays past it; events for already-closed days are dropped
    * (the same late-data contract as a watermark). State is O(event
    * types × (latenessDays + 4)) longs, forever. */
  def ewmaStream(events: DataFrame, latenessDays: Int = 1): Dataset[EwmaOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    require(latenessDays >= 0, s"latenessDays must be >= 0: $latenessDays")
    events
      .selectExpr("event_type",
        "datediff(cast(ts as date), to_date('1970-01-01')) as day",
        "cast(round(value * 100, 0) as bigint) as cents")
      .as[(String, Int, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { (et, rows, state) =>
        var st = state.getOption.getOrElse(EwmaState(Int.MinValue, Map.empty, Nil))
        var maxSeen = st.open.keysIterator.foldLeft(Int.MinValue)(math.max)
        rows.foreach { case (_, d, x) =>
          if (d > st.closedThrough) { // not late
            st = st.copy(open = st.open.updated(d, st.open.getOrElse(d, 0L) + x))
            if (d > maxSeen) maxSeen = d
          }
        }
        val out = Vector.newBuilder[EwmaOut]
        if (maxSeen > Int.MinValue) {
          val horizon = maxSeen - latenessDays // days < horizon are final
          st.open.keys.toSeq.sorted.foreach { d =>
            if (d < horizon) {
              val cents = st.open(d)
              val (c1, c2, c3) = (st.closed.lift(0), st.closed.lift(1), st.closed.lift(2))
              val num = cents * 8 + c1.getOrElse(0L) * 4 + c2.getOrElse(0L) * 2 +
                c3.getOrElse(0L)
              val den = 8 + (if (c1.isDefined) 4 else 0) +
                (if (c2.isDefined) 2 else 0) + (if (c3.isDefined) 1 else 0)
              // q52's exact rounding path: long→double, ×1000.0, /den, +0.5, floor
              val ewma = math.floor(num.toDouble * 1000.0 / den + 0.5).toLong
              out += EwmaOut(et,
                java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d.toLong)),
                cents, ewma)
              st = EwmaState(d, st.open - d, (cents :: st.closed).take(3))
            }
          }
        }
        state.update(st)
        out.result().iterator
      }
  }

  /** Streaming cohort retention — the streaming twin of q49: per user,
    * the cohort week is the FIRST week the user was active, and every
    * later active week contributes one (cohort_wk, week_offset, user)
    * retention fact. The per-user stateful question ("which week was
    * this user's first, and is it still allowed to change?") is
    * exactly what a watermarked aggregate can't express — a min over
    * all history that must FREEZE once late data can no longer precede
    * it — so this is a [[ewmaStream]]-regime flatMapGroupsWithState at
    * WEEK granularity:
    *   - per user, active weeks accumulate in an open set; a week
    *     closes once that user's events arrive latenessWeeks past it;
    *   - weeks close in increasing order, so the first closed week IS
    *     the user's global first active week (anything earlier is
    *     behind the frontier and dropped) — the cohort freezes at
    *     first close, making every emitted offset final;
    *   - emission per closed active week w: (cohort, (w−cohort)/7, u).
    * Downstream, retention counts are a stateless
    * count-distinct-users per (cohort_wk, week_offset) — the spec
    * aggregates the emitted facts and pins equality with the batch
    * q49 plan over the closed prefix. State per user: frozen cohort +
    * frontier + open weeks within the lateness horizon (≤ lateness+1
    * entries), forever. */
  def retentionStream(events: DataFrame,
                      latenessWeeks: Int = 1): Dataset[RetentionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    require(latenessWeeks >= 0, s"latenessWeeks must be >= 0: $latenessWeeks")
    events
      .selectExpr("user_id",
        // epoch-day of the ISO Monday — q49's date_trunc('week') rule
        "datediff(to_date(date_trunc('week', ts)), to_date('1970-01-01')) as wk")
      .as[(Long, Int)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[RetentionState, RetentionOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { (uid, rows, state) =>
        var st = state.getOption.getOrElse(
          RetentionState(Int.MinValue, Int.MinValue, Nil))
        var maxSeen = st.open.foldLeft(Int.MinValue)(math.max)
        rows.foreach { case (_, w) =>
          if (w > st.closedThrough) { // not late
            if (!st.open.contains(w)) st = st.copy(open = w :: st.open)
            if (w > maxSeen) maxSeen = w
          }
        }
        val out = Vector.newBuilder[RetentionOut]
        if (maxSeen > Int.MinValue) {
          val horizon = maxSeen - latenessWeeks * 7 // weeks < horizon are final
          st.open.sorted.foreach { w =>
            if (w < horizon) {
              val cohort = if (st.cohortWk == Int.MinValue) w else st.cohortWk
              out += RetentionOut(uid,
                java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(cohort.toLong)),
                (w - cohort).toLong / 7L)
              st = RetentionState(cohort, w, st.open.filterNot(_ == w))
            }
          }
        }
        state.update(st)
        out.result().iterator
      }
  }

  /** Streaming rolling distinct users — the streaming twin of q65's
    * trailing-7-day DAU/WAU family, and (deliberately) the one twin
    * built ENTIRELY from native stateful operators instead of
    * flatMapGroupsWithState: the batch shape (distinct (day, user) →
    * bounded 7× explode → distinct count per target day) maps 1:1 onto
    * watermarked dropDuplicates → append-mode count, so Spark's own
    * state stores manage eviction and the plan stays whole-stage
    * codegen outside the two exchanges.
    *
    * Each event contributes its user to the 7 target days it can
    * influence; the event time of an exploded row is its TARGET day,
    * so one watermark of (6 + latenessDays) days on that column yields
    * exactly [[ewmaStream]]'s closing rule: target day t is final once
    * events arrive latenessDays past it (watermark = maxEventDay + 6 −
    * (6 + lateness) = maxEventDay − lateness). dropDuplicates state:
    * one (tday, user) entry per active user-day within the watermark
    * horizon — the same 7× bound as the batch explode, evicted by
    * Spark as days close; never stream-length.
    *
    * Emits one (day, n_active_7d) row per CLOSED day with ≥1 active
    * user in its trailing window. Batch q65 additionally drops days
    * with no events anywhere (its observed-days semi-join) — a
    * stream-global fact a keyed operator cannot see, so the parity
    * contract is: on the observed days, counts are identical
    * (StreamingSpec pins both directions). */
  def rollingDistinctStream(events: DataFrame, latenessDays: Int = 1): DataFrame = {
    require(latenessDays >= 0, s"latenessDays must be >= 0: $latenessDays")
    events
      .selectExpr("cast(ts as date) as day", "user_id")
      .selectExpr("explode(sequence(day, date_add(day, 6))) as tday", "user_id")
      .selectExpr("cast(tday as timestamp) as tday_ts", "user_id")
      .withWatermark("tday_ts", s"${6 + latenessDays} days")
      .dropDuplicates("tday_ts", "user_id")
      // day-window agg (not a bare column group-by): the chained
      // stateful-operator path Spark supports is dedup → windowed agg
      // with one propagated watermark
      .groupBy(timeWindow(col("tday_ts"), "1 day"))
      .agg(count(lit(1)).as("n_active_7d"))
      .selectExpr("cast(window.start as date) as day", "n_active_7d")
  }

  /** Streaming interval sweep — the streaming twin of q51's batch
    * sweep-line: intervals `[startDay, endDay)` arrive per key and the
    * operator emits, for every closed BOUNDARY day (a day where some
    * interval starts or ends), the day's intraday peak concurrency
    * (`active_peak` — after that day's starts, before its ends; the
    * supremum the batch sweep's ordered rows reach within the day) and
    * its end-of-day level (`active_end`). Between boundary days
    * concurrency is constant, so this series determines the whole
    * step function — per-key `max(active_peak)` and its first day are
    * exactly batch q51's (peak, first_peak_day), which the spec pins.
    *
    * Day-closing protocol is [[ewmaStream]]'s hand-rolled day-granular
    * watermark: a day closes once an interval STARTS `latenessDays`
    * past it; intervals starting at or before the closed frontier are
    * dropped (the late-data contract). State per key: the frontier,
    * one running count, and pending start/end deltas — O(max interval
    * length + lateness) entries, never stream length. */
  def intervalSweepStream(intervals: DataFrame,
                          latenessDays: Int = 1): Dataset[SweepOut] = {
    val spark = intervals.sparkSession
    import spark.implicits._
    require(latenessDays >= 0, s"latenessDays must be >= 0: $latenessDays")
    intervals
      .selectExpr("key",
        "datediff(start_day, to_date('1970-01-01')) as s",
        "datediff(end_day, to_date('1970-01-01')) as e")
      .as[(Long, Int, Int)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SweepState, SweepOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { (key, rows, state) =>
        var st = state.getOption.getOrElse(
          SweepState(Int.MinValue, 0L, Map.empty, Map.empty))
        var maxStart = Int.MinValue
        rows.foreach { case (_, s, e) =>
          require(e > s, s"interval must be non-empty: [$s, $e)")
          if (s > st.closedThrough) { // not late
            st = st.copy(
              starts = st.starts.updated(s, st.starts.getOrElse(s, 0L) + 1),
              ends = st.ends.updated(e, st.ends.getOrElse(e, 0L) + 1))
            if (s > maxStart) maxStart = s
          }
        }
        val out = Vector.newBuilder[SweepOut]
        if (maxStart > Int.MinValue) {
          val horizon = maxStart - latenessDays // days < horizon are final
          (st.starts.keySet ++ st.ends.keySet)
            .filter(d => d < horizon && d > st.closedThrough)
            .toSeq.sorted.foreach { d =>
              val peak = st.cur + st.starts.getOrElse(d, 0L)
              val end = peak - st.ends.getOrElse(d, 0L)
              out += SweepOut(key,
                java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d.toLong)),
                peak, end)
              st = SweepState(d, end, st.starts - d, st.ends - d)
            }
          if (horizon - 1 > st.closedThrough)
            st = st.copy(closedThrough = horizon - 1)
        }
        state.update(st)
        out.result().iterator
      }
  }

  /** Streaming drift monitor — the streaming twin of q58's
    * total-variation drift audit: per event type, the first `refDays`
    * CLOSED days freeze into the reference histogram (10 fixed value
    * buckets, q58's rule: min(9, cents div 5000)); every later closed
    * day emits its TV distance vs that reference —
    * TV_milli = Σ_b |1000·ref_b div N_ref − 1000·day_b div N_day| —
    * the live "is today's data still shaped like the data we trust"
    * gate. Same day-closing protocol as [[ewmaStream]] (days close IN
    * ORDER behind a lateness horizon; stragglers for closed days are
    * dropped). State per type: 10 reference longs + a bounded map of
    * open-day histograms — O((latenessDays + 1) × 10) forever. TV on
    * integer milli-proportions, so any count magnitude stays exact
    * (q58's overflow argument). */
  def driftStream(events: DataFrame, refDays: Int = 15,
                  latenessDays: Int = 1): Dataset[DriftOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    require(refDays >= 1, s"refDays must be >= 1: $refDays")
    events
      .selectExpr("event_type",
        "datediff(cast(ts as date), to_date('1970-01-01')) as day",
        "least(9L, cast(round(value * 100, 0) as bigint) div 5000) as bucket")
      .as[(String, Int, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[DriftState, DriftOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { (et, rows, state) =>
        var st = state.getOption.getOrElse(
          DriftState(Int.MinValue, 0, Vector.fill(10)(0L), Map.empty))
        var maxSeen = st.open.keysIterator.foldLeft(Int.MinValue)(math.max)
        rows.foreach { case (_, d, b) =>
          if (d > st.closedThrough) {
            val h = st.open.getOrElse(d, Vector.fill(10)(0L))
            st = st.copy(open = st.open.updated(d, h.updated(b.toInt, h(b.toInt) + 1)))
            if (d > maxSeen) maxSeen = d
          }
        }
        val out = Vector.newBuilder[DriftOut]
        if (maxSeen > Int.MinValue) {
          val horizon = maxSeen - latenessDays
          st.open.keys.toSeq.sorted.foreach { d =>
            if (d < horizon) {
              val h = st.open(d)
              if (st.refClosed < refDays) {
                st = st.copy(closedThrough = d, open = st.open - d,
                  refClosed = st.refClosed + 1,
                  ref = st.ref.lazyZip(h).map(_ + _))
              } else {
                val nRef = st.ref.sum
                val nDay = h.sum
                val tv = (0 until 10).map(b =>
                  math.abs(1000 * st.ref(b) / math.max(1L, nRef) -
                    1000 * h(b) / math.max(1L, nDay))).sum
                out += DriftOut(et,
                  java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d.toLong)),
                  nDay, tv)
                st = st.copy(closedThrough = d, open = st.open - d)
              }
            }
          }
          if (horizon - 1 > st.closedThrough)
            st = st.copy(closedThrough = horizon - 1)
        }
        state.update(st)
        out.result().iterator
      }
  }

  /** Streaming session transitions — the streaming twin of q59's
    * Markov next-event mining: per user, adjacent event-type pairs
    * within a 30-minute-gap session, emitted as the events become
    * FINAL. The same hand-rolled lateness horizon as [[ewmaStream]],
    * but at event (microsecond) granularity: an event closes once a
    * same-user event arrives `latenessMinutes` past it; closed events
    * replay in the batch plan's exact (ts, event_id) order, each
    * pairing with the previously closed event when the gap is within
    * the session rule — so the emitted pair multiset over any closed
    * prefix equals batch q59's pre-support counts (spec-pinned).
    * Events at or before the last closed timestamp are dropped (the
    * late-data contract). State per user: the closed frontier, one
    * (ts, type) carry, and the open-event buffer — O(events inside
    * the lateness window), never stream length. */
  def transitionsStream(events: DataFrame,
                        latenessMinutes: Int = 60): Dataset[TransitionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    require(latenessMinutes >= 0, s"latenessMinutes must be >= 0: $latenessMinutes")
    val lateUs = latenessMinutes.toLong * 60L * 1000000L
    val gapUs = 1800L * 1000000L // q20/q59's 30-minute session rule
    events
      .selectExpr("user_id", "unix_micros(ts) as ts_us", "event_id", "event_type")
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TransState, TransitionOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { (uid, rows, state) =>
        var st = state.getOption.getOrElse(
          TransState(Long.MinValue, Long.MinValue, "", Nil))
        var pending = st.pending.toVector
        var maxSeen = pending.iterator.map(_._1)
          .foldLeft(Long.MinValue)(math.max)
        rows.foreach { case (_, ts, id, et) =>
          if (ts > st.closedThrough) { // not late
            pending :+= ((ts, id, et))
            if (ts > maxSeen) maxSeen = ts
          }
        }
        val out = Vector.newBuilder[TransitionOut]
        var (lastTs, lastType) = (st.lastTs, st.lastType)
        var closedThrough = st.closedThrough
        if (maxSeen > Long.MinValue) {
          val horizon = maxSeen - lateUs // events < horizon are final
          val (close, keep) = pending.partition(_._1 < horizon)
          close.sortBy(e => (e._1, e._2)).foreach { case (ts, _, et) =>
            if (lastTs > Long.MinValue && ts - lastTs <= gapUs)
              out += TransitionOut(uid, lastType, et)
            lastTs = ts; lastType = et; closedThrough = ts
          }
          pending = keep
        }
        state.update(TransState(closedThrough, lastTs, lastType, pending))
        out.result().iterator
      }
  }

  /** Streaming attribution (#203) — q77's streaming twin: emit each
    * purchase's (first_touch, last_touch, cents) FACT as the user's
    * history closes, so the attribution matrix is a running aggregate
    * over this stream instead of a nightly window over all history.
    * Same STRICT lateness-horizon closing discipline as
    * [[transitionsStream]] (#129): per user, events buffer until a
    * same-user event arrives strictly MORE than `latenessMinutes`
    * past them (an event exactly at the bound still holds the buffer
    * open), then close in the batch plan's
    * exact (ts, event_id) order — a closing view/click updates the
    * first/last carry, a closing purchase emits its fact with the
    * carries as of strictly-prior history (an event can never
    * attribute to itself, q77's frame rule). Emitted facts over any
    * closed prefix aggregate to batch q77 on that prefix exactly
    * (spec-pinned). State per user: the frontier, TWO touch strings
    * (the whole attribution memory — this is why the operator
    * streams so cheaply), and the open-event buffer bounded by the
    * lateness window. */
  def attributionStream(events: DataFrame,
                        latenessMinutes: Int = 60): Dataset[AttributionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    require(latenessMinutes >= 0, s"latenessMinutes must be >= 0: $latenessMinutes")
    val lateUs = latenessMinutes.toLong * 60L * 1000000L
    events
      .selectExpr("user_id", "unix_micros(ts) as ts_us", "event_id",
        "event_type", "cast(floor(value * 100 + 0.5) as long) as cents")
      .as[(Long, Long, Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AttrState, AttributionOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { (uid, rows, state) =>
        var st = state.getOption.getOrElse(
          AttrState(Long.MinValue, "", "", Nil))
        var pending = st.pending.toVector
        var maxSeen = pending.iterator.map(_._1)
          .foldLeft(Long.MinValue)(math.max)
        rows.foreach { case (_, ts, id, et, cents) =>
          if (ts > st.closedThrough) {
            pending :+= ((ts, id, et, cents))
            if (ts > maxSeen) maxSeen = ts
          }
        }
        val out = Vector.newBuilder[AttributionOut]
        var (firstT, lastT) = (st.firstTouch, st.lastTouch)
        var closedThrough = st.closedThrough
        if (maxSeen > Long.MinValue) {
          val horizon = maxSeen - lateUs
          val (close, keep) = pending.partition(_._1 < horizon)
          close.sortBy(e => (e._1, e._2)).foreach { case (ts, _, et, cents) =>
            if (et == "purchase")
              out += AttributionOut(uid,
                if (firstT.isEmpty) "direct" else firstT,
                if (lastT.isEmpty) "direct" else lastT, cents)
            if (et == "view" || et == "click") {
              if (firstT.isEmpty) firstT = et
              lastT = et
            }
            closedThrough = ts
          }
          pending = keep
        }
        state.update(AttrState(closedThrough, firstT, lastT, pending))
        out.result().iterator
      }
  }

  /** Streaming new-vs-returning (#217) — q82's streaming twin: emit
    * each (user, active day) fact with its NEW/RETURNING verdict as
    * the day closes, so the daily growth split is a running aggregate
    * over this stream. Day-granular lateness closing (the #156
    * discipline, STRICT horizon like [[transitionsStream]]): a user's
    * day closes once a same-user event arrives strictly MORE than
    * `latenessDays` past it (day ≥ d + latenessDays + 1 — an event
    * exactly at the lateness bound still holds the day open); days
    * close in ASCENDING order, so the
    * user's first-ever closed day — which is their true minimum — is
    * the one NEW fact, and the boolean "seen" carry afterwards is the
    * whole per-user memory. State per user: frontier + one boolean +
    * the lateness-bounded pending-day set (≤ latenessDays+1 ints).
    * Emitted facts over any closed prefix aggregate to batch q82's
    * rule on exactly the closed (user, day) pairs (spec-pinned). */
  def newReturningStream(events: DataFrame,
                         latenessDays: Int = 1): Dataset[NewRetOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    require(latenessDays >= 0, s"latenessDays must be >= 0: $latenessDays")
    events
      .selectExpr("user_id",
        "cast(unix_micros(ts) div 86400000000 as int) as day")
      .as[(Long, Int)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[NewRetState, NewRetOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { (uid, rows, state) =>
        val st = state.getOption.getOrElse(
          NewRetState(Int.MinValue, seen = false, Nil))
        var pending = st.pending.toSet
        var maxSeen = pending.foldLeft(Int.MinValue)(math.max)
        rows.foreach { case (_, d) =>
          if (d > st.closedThrough) {
            pending += d
            if (d > maxSeen) maxSeen = d
          }
        }
        val out = Vector.newBuilder[NewRetOut]
        var closedThrough = st.closedThrough
        var seen = st.seen
        if (maxSeen > Int.MinValue) {
          val horizon = maxSeen - latenessDays
          val (close, keep) = pending.partition(_ < horizon)
          close.toSeq.sorted.foreach { d =>
            out += NewRetOut(uid,
              java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d.toLong)),
              if (seen) 0L else 1L)
            seen = true
            closedThrough = d
          }
          pending = keep
        }
        state.update(NewRetState(closedThrough, seen, pending.toSeq))
        out.result().iterator
      }
  }

  /** Streaming purchase-gap monitor (#277) — q100's streaming twin:
    * emit each customer's inter-order gap as a FACT the moment both
    * of its endpoints are closed, so the discrete hazard table is a
    * running aggregate over this stream (served through the SAME
    * kernel, [[graft.AnalyticsQueries.hazardFromGaps]] — twin and
    * batch agree by construction). A gap needs its orders in
    * sequence, so orders close per customer in ascending (day,
    * orderkey) order behind a day-granular lateness horizon (the
    * #156/#217 STRICT discipline: day d closes once a same-customer
    * order arrives more than `latenessDays` past it); out-of-order
    * arrivals INSIDE the horizon sort into place before closing,
    * arrivals behind an already-closed day are dropped (the
    * watermark contract). Each closing order beyond the customer's
    * first emits (custkey, gap to the previous closed order) — gaps
    * between same-day orders emit as 0, matching batch q100's lag
    * rule. State per customer: closed-through (day, orderkey), the
    * last closed day, and the lateness-bounded pending buffer. */
  def purchaseGapStream(orders: DataFrame,
                        latenessDays: Int = 1): Dataset[GapOut] = {
    val spark = orders.sparkSession
    import spark.implicits._
    require(latenessDays >= 0, s"latenessDays must be >= 0: $latenessDays")
    orders
      .selectExpr("custkey",
        "cast(datediff(day, date'1970-01-01') as int) as d", "orderkey")
      .as[(Long, Int, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[GapState, GapOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) { (cust, rows, state) =>
        val st = state.getOption.getOrElse(
          GapState(Int.MinValue, Long.MinValue, Int.MinValue, Nil))
        var pending = st.pending.toVector
        var maxSeen = pending.iterator.map(_._1)
          .foldLeft(Int.MinValue)(math.max)
        rows.foreach { case (_, d, k) =>
          val fresh = d > st.closedDay ||
            (d == st.closedDay && k > st.closedOrd)
          if (fresh) {
            pending :+= ((d, k))
            if (d > maxSeen) maxSeen = d
          }
        }
        val out = Vector.newBuilder[GapOut]
        var cd = st.closedDay
        var co = st.closedOrd
        var last = st.lastDay
        if (maxSeen > Int.MinValue) {
          val horizon = maxSeen - latenessDays
          val (close, keep) = pending.partition(_._1 < horizon)
          close.sortBy(identity).foreach { case (d, k) =>
            if (last != Int.MinValue) out += GapOut(cust, (d - last).toLong)
            last = d; cd = d; co = k
          }
          pending = keep
        }
        state.update(GapState(cd, co, last, pending))
        out.result().iterator
      }
  }

  /** Per-user running totals via arbitrary stateful processing
    * (`mapGroupsWithState`): state is one [[UserAgg]] per user —
    * bounded by the user population, not the stream length — and
    * lives in the state store, checkpointed per batch. */
  def runningUserAgg(events: DataFrame): Dataset[UserRunning] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("user_id", "value").as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserAgg, UserRunning](GroupStateTimeout.NoTimeout) {
        (uid, rows, state) =>
          val prev = state.getOption.getOrElse(UserAgg(0L, 0.0))
          var n = prev.n
          var total = prev.total
          rows.foreach { case (_, v) => n += 1; total += v }
          val next = UserAgg(n, total)
          state.update(next)
          UserRunning(uid, n, total)
      }
  }

  /** Per-user running totals via the Spark 4 STATE API v2
    * (`transformWithState`, #309) — the [[runningUserAgg]] contract on
    * the current stateful-processing surface: a [[UserAggProcessor]]
    * holding one typed `ValueState[UserAgg]` per user in the state
    * store (RocksDB provider required by the v2 operator — the spec
    * sets `spark.sql.streaming.stateStore.providerClass`; a production
    * session sets it once). Same output rows as the v1 twin, pinned by
    * the parity spec. Why v2 matters at 100 TB: the handle exposes
    * per-state TTL ([[org.apache.spark.sql.streaming.TTLConfig]] — a
    * dormant user's state expires without a synthetic event, the v1
    * timeout needed one timeout per GROUP not per STATE), event-time
    * timers decoupled from input arrival, and multiple independently
    * evolvable state variables per key (schema evolution without a
    * full checkpoint rebuild) — the maintenance surface a long-lived
    * ingest job leans on. TimeMode.None here: the running aggregate
    * needs no timers, and parity with v1 stays exact. */
  def runningUserAggV2(events: DataFrame): Dataset[UserRunning] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("user_id", "value").as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState[UserRunning](new UserAggProcessor,
        TimeMode.None(), OutputMode.Append())
  }
}

/** The #309 v2 stateful processor: one typed ValueState per user. */
class UserAggProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Double), UserRunning] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues,
    TTLConfig, ValueState}
  @transient private var agg: ValueState[UserAgg] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    agg = getHandle.getValueState[UserAgg]("agg",
      org.apache.spark.sql.Encoders.product[UserAgg], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
                               timerValues: TimerValues)
      : Iterator[UserRunning] = {
    val prev = if (agg.exists()) agg.get() else UserAgg(0L, 0.0)
    var n = prev.n
    var total = prev.total
    rows.foreach { case (_, v) => n += 1; total += v }
    agg.update(UserAgg(n, total))
    Iterator.single(UserRunning(key, n, total))
  }
}

case class GapState(closedDay: Int, closedOrd: Long, lastDay: Int,
                    pending: Seq[(Int, Long)])
case class GapOut(custkey: Long, gap: Long)
case class UserAgg(n: Long, total: Double)
case class UserRunning(user_id: Long, n_events: Long, total_value: Double)
case class TypeStats(n: Long, s: Long, ss: Long)
case class EwmaState(closedThrough: Int, open: Map[Int, Long], closed: List[Long])
case class EwmaOut(event_type: String, day: java.sql.Date, cents: Long, ewma_milli: Long)
case class SweepState(closedThrough: Int, cur: Long,
                      starts: Map[Int, Long], ends: Map[Int, Long])
case class SweepOut(key: Long, day: java.sql.Date,
                    active_peak: Long, active_end: Long)
case class DriftState(closedThrough: Int, refClosed: Int,
                      ref: Vector[Long], open: Map[Int, Vector[Long]])
case class DriftOut(event_type: String, day: java.sql.Date,
                    n_day: Long, tv_milli: Long)
case class AnomalyFlag(event_id: Long, event_type: String, cents: Long)
case class RetentionState(cohortWk: Int, closedThrough: Int, open: List[Int])
case class RetentionOut(user_id: Long, cohort_wk: java.sql.Date, week_offset: Long)
case class TransState(closedThrough: Long, lastTs: Long, lastType: String,
                      pending: Seq[(Long, Long, String)])
case class TransitionOut(user_id: Long, from_type: String, to_type: String)
case class AttrState(closedThrough: Long, firstTouch: String, lastTouch: String,
                     pending: Seq[(Long, Long, String, Long)])
case class AttributionOut(user_id: Long, first_touch: String,
                          last_touch: String, cents: Long)
case class NewRetState(closedThrough: Int, seen: Boolean, pending: Seq[Int])
case class NewRetOut(user_id: Long, day: java.sql.Date, is_new: Long)

/** Idempotent external sink via `foreachBatch`: each micro-batch is
  * stamped with its batch id and replaces any previous rows of that
  * id before inserting (delete + append inside one batch function).
  * On restart-after-crash, Structured Streaming REPLAYS the last
  * uncommitted batch with the SAME id — the delete makes the replay
  * overwrite, not duplicate: effectively-once delivery to any sink
  * that can delete by predicate (JDBC here, exercised against
  * embedded Derby in StreamingSpec).
  */
object StreamSink {

  /** Attach an idempotent JDBC sink to `df.writeStream`. The target
    * table must exist with BIGINT `batch_id` and VARCHAR `run_id`
    * columns (created on first use by the caller — Spark's JDBC writer
    * can't ALTER).
    *
    * Rows are keyed by (run_id, batch_id), not batch_id alone: batch
    * ids restart at 0 with every fresh checkpoint, so a restarted
    * stream pointed at the same table would otherwise DELETE the
    * previous lineage's rows on every replayed id. Pass a stable
    * `runId` per checkpoint lineage (e.g. the checkpoint path or the
    * query's id) — replays within a lineage overwrite, distinct
    * lineages coexist. */
  def jdbcForeachBatch(url: String, table: String,
                       props: Map[String, String],
                       runId: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      val jprops = new java.util.Properties()
      props.foreach { case (k, v) => jprops.setProperty(k, v) }
      val conn = java.sql.DriverManager.getConnection(url, jprops)
      try {
        val st = conn.prepareStatement(
          s"DELETE FROM $table WHERE batch_id = ? AND run_id = ?")
        st.setLong(1, batchId)
        st.setString(2, runId)
        st.executeUpdate()
        st.close()
      } finally conn.close()
      batch.withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
        .withColumn("run_id", org.apache.spark.sql.functions.lit(runId))
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .options(props)
        .save()
    }

  /** Streaming CDC apply — the streaming twin of batch `q67_cdc_apply`:
    * a changelog stream of (key, op_ts, op ∈ I/U/D, payload…) rows is
    * materialized into a JDBC snapshot table where per key the LATEST
    * op wins, whatever order micro-batches deliver it in.
    *
    * Shape per micro-batch: reduce to the batch-local latest op per key
    * (q67's keep-top-per-key plan — WindowGroupLimit, one surviving row
    * per key per task), then a per-partition conditional upsert:
    * `UPDATE … WHERE last_ts < incoming` / insert-if-absent, with the
    * duplicate-key race falling back to the conditional update. The
    * monotonic guard makes the sink idempotent by CONSTRUCTION —
    * effectively-once without batch-id bookkeeping: a crash-replayed
    * batch re-runs the same upserts and every guard fails (`last_ts <`
    * is strict); an out-of-order batch carrying older ops loses the
    * guard the same way. This is stronger than [[jdbcForeachBatch]]'s
    * (run_id, batch_id) delete protocol, which protects only against
    * replay of the SAME data — here late data is also ordered
    * correctly, because ordering is by op_ts, not arrival.
    *
    * Deletes are retained as TOMBSTONES (op = 'D' rows stay in the
    * table, the snapshot read filters them): dropping the row instead
    * would let a later-arriving update with an OLDER op_ts resurrect a
    * deleted key. Equal-op_ts ties keep the incumbent (the guard is
    * strict) — the changelog contract is unique (key, op_ts), same as
    * batch q67's window sort.
    *
    * Executors write their partitions directly (one connection per
    * partition, batched statements) — no driver collect; at scale the
    * per-key reduce has already shrunk each batch to its key count. */
  def cdcApplyForeachBatch(url: String, table: String,
                           props: Map[String, String]): (DataFrame, Long) => Unit =
    (batch: DataFrame, _: Long) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val w = Window.partitionBy("k").orderBy(col("op_ts").desc)
      val reduced = batch
        .select("k", "op_ts", "op", "bal_cents")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .drop("rn")
      reduced.rdd.foreachPartition { rows =>
        if (rows.hasNext) {
          val jprops = new java.util.Properties()
          props.foreach { case (kk, v) => jprops.setProperty(kk, v) }
          val conn = java.sql.DriverManager.getConnection(url, jprops)
          try {
            // batched, one commit per chunk: the guarded UPDATE goes
            // through executeBatch (one round-trip per chunk, not per
            // key); only the rows whose guard matched nothing fall to
            // the insert path, itself batched, with the duplicate-key
            // race resolved row-at-a-time (rare by construction: the
            // window exchange puts each key in exactly one partition)
            conn.setAutoCommit(false)
            val upd = conn.prepareStatement(
              s"UPDATE $table SET last_ts = ?, op = ?, bal_cents = ? " +
                s"WHERE k = ? AND last_ts < ?")
            val ins = conn.prepareStatement(
              s"INSERT INTO $table (k, last_ts, op, bal_cents) VALUES (?, ?, ?, ?)")
            def tryUpdate(k: Long, ts: Long, op: String, bal: java.lang.Long): Int = {
              upd.setLong(1, ts); upd.setString(2, op)
              if (bal == null) upd.setNull(3, java.sql.Types.BIGINT)
              else upd.setLong(3, bal)
              upd.setLong(4, k); upd.setLong(5, ts)
              upd.executeUpdate()
            }
            rows.grouped(1000).foreach { chunk =>
              chunk.foreach { r =>
                upd.setLong(1, r.getLong(1)); upd.setString(2, r.getString(2))
                if (r.isNullAt(3)) upd.setNull(3, java.sql.Types.BIGINT)
                else upd.setLong(3, r.getLong(3))
                upd.setLong(4, r.getLong(0)); upd.setLong(5, r.getLong(1))
                upd.addBatch()
              }
              def tryInsert(k: Long, ts: Long, op: String, bal: java.lang.Long): Unit =
                try {
                  ins.setLong(1, k); ins.setLong(2, ts); ins.setString(3, op)
                  if (bal == null) ins.setNull(4, java.sql.Types.BIGINT)
                  else ins.setLong(4, bal)
                  ins.executeUpdate()
                } catch {
                  case e: java.sql.SQLException
                    if e.getSQLState != null && e.getSQLState.startsWith("23") =>
                    tryUpdate(k, ts, op, bal)
                }
              val updated = upd.executeBatch()
              chunk.iterator.zip(updated.iterator).foreach { case (r, n) =>
                val k = r.getLong(0); val ts = r.getLong(1); val op = r.getString(2)
                val bal: java.lang.Long = if (r.isNullAt(3)) null else r.getLong(3)
                if (n == 0) {
                  // absent OR incumbent is newer — try insert; a
                  // duplicate key falls back to the guarded update,
                  // whose 0-row outcome is then correct
                  tryInsert(k, ts, op, bal)
                } else if (n < 0) {
                  // Statement.SUCCESS_NO_INFO (-2): the driver ran the
                  // statement but won't say how many rows matched
                  // (e.g. MySQL with rewriteBatchedStatements) — a
                  // batch of all-absent keys also reports -2, so
                  // treating it as "updated" would silently drop
                  // inserts. Resolve per-row: single-statement
                  // executeUpdate always returns an exact count, the
                  // strict last_ts < ts guard makes a re-run of an
                  // already-applied update a no-op (0 matched), and
                  // the insert path's duplicate-key fallback covers
                  // the remaining race.
                  if (tryUpdate(k, ts, op, bal) == 0) tryInsert(k, ts, op, bal)
                }
              }
              conn.commit()
            }
            upd.close(); ins.close()
          } finally conn.close()
        }
      }
    }

  /** #172: streaming forget propagation — q70's streaming twin. The
    * batch q70 audits a one-shot forget-set; in production
    * right-to-be-forgotten requests ARRIVE AS A STREAM and each must
    * cascade through the foreign-key closure (customer → orders →
    * lineitem) and be physically applied within the SLA, not queued
    * for the next full rewrite.
    *
    * Per micro-batch of subject keys:
    *   1. the order closure is resolved with a stream-static LEFT SEMI
    *      join against the orders dimension (the batch side is a
    *      sliver, so it broadcasts — no shuffle of the static side);
    *   2. subject keys land in `forget_log` insert-if-absent (PRIMARY
    *      KEY dedup), so a crash-replayed batch — same requests, same
    *      ids — is a pure no-op in the audit;
    *   3. DELETEs cascade to the three mirrors, executed ON THE
    *      EXECUTORS per partition in batched statements (same shape as
    *      [[cdcApplyForeachBatch]] — no driver collect). Deleting an
    *      already-deleted key matches 0 rows, so the data path is
    *      idempotent by construction.
    *
    * The audit a DPO reads is `forget_log` joined back to the closure
    * — derived from the log, never from delete counts (delete counts
    * are 0 on replay; the log is replay-stable). Exercised in
    * StreamingSpec against embedded Derby: scrambled batches + a
    * replayed batch converge to EXACTLY batch q70's kept/deleted
    * counts.
    *
    * `ordersStatic` must expose (o_orderkey, o_custkey); the incoming
    * stream one BIGINT column `fk`. Tables `custTable`/`ordTable`/
    * `liTable` are deleted by key; `logTable(fk BIGINT PRIMARY KEY)`
    * records admitted requests. */
  def forgetForeachBatch(url: String, props: Map[String, String],
                         ordersStatic: DataFrame,
                         custTable: String, ordTable: String,
                         liTable: String, logTable: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, _: Long) => {
      import org.apache.spark.sql.functions._
      val keys = batch.select(col("fk").cast("long").as("fk")).distinct()
      // stream-static closure: order keys owned by this batch's subjects
      val dropOrders = ordersStatic
        .join(broadcast(keys), ordersStatic("o_custkey") === keys("fk"), "left_semi")
        .select(col("o_orderkey").as("k"), lit("o").as("kind"))
      val work = keys.select(col("fk").as("k"), lit("c").as("kind"))
        .unionByName(dropOrders)
      work.rdd.foreachPartition { rows =>
        if (rows.hasNext) {
          val jprops = new java.util.Properties()
          props.foreach { case (kk, v) => jprops.setProperty(kk, v) }
          val conn = java.sql.DriverManager.getConnection(url, jprops)
          try {
            conn.setAutoCommit(false)
            val logIns = conn.prepareStatement(
              s"INSERT INTO $logTable (fk) VALUES (?)")
            // key columns are QUOTED: Spark's JDBC writer creates
            // case-sensitive lowercase identifiers — unquoted names
            // would fold to uppercase and miss them
            val delCust = conn.prepareStatement(
              s"""DELETE FROM $custTable WHERE "c_custkey" = ?""")
            val delOrd = conn.prepareStatement(
              s"""DELETE FROM $ordTable WHERE "o_orderkey" = ?""")
            val delLi = conn.prepareStatement(
              s"""DELETE FROM $liTable WHERE "l_orderkey" = ?""")
            rows.grouped(1000).foreach { chunk =>
              chunk.foreach { r =>
                val k = r.getLong(0)
                if (r.getString(1) == "c") {
                  // insert-if-absent: a duplicate key (replay) is the
                  // expected signal, swallowed; 23xxx = integrity class
                  try { logIns.setLong(1, k); logIns.executeUpdate() }
                  catch {
                    case e: java.sql.SQLException
                      if e.getSQLState != null && e.getSQLState.startsWith("23") => ()
                  }
                  delCust.setLong(1, k); delCust.addBatch()
                } else {
                  delOrd.setLong(1, k); delOrd.addBatch()
                  delLi.setLong(1, k); delLi.addBatch()
                }
              }
              delCust.executeBatch(); delOrd.executeBatch(); delLi.executeBatch()
              conn.commit()
            }
            logIns.close(); delCust.close(); delOrd.close(); delLi.close()
          } finally conn.close()
        }
      }
    }
}

/** Stream-static enrichment: every micro-batch joins against a
  * (periodically reloadable) dimension table. The static side plans
  * as a broadcast per micro-batch — no stream-side shuffle. */
object StreamEnrich {
  def withDimension(stream: DataFrame, dim: DataFrame,
                    streamKey: String, dimKey: String): DataFrame =
    stream.join(
      org.apache.spark.sql.functions.broadcast(dim),
      stream(streamKey) === dim(dimKey), "left")

  /** Stream-STREAM inner join: each purchase pairs with the same
    * user's views from the preceding `windowMinutes`. Both sides carry
    * a watermark and the join condition bounds `view_ts` relative to
    * `purchase_ts` from BOTH directions — the two things Structured
    * Streaming needs to know when a buffered view can never match
    * again and evict it, keeping join state bounded by
    * (watermark + window), not by stream length. The streaming twin
    * of q19's as-of join (which keeps only the nearest view; this
    * keeps all in-window pairs as they become available). */
  def viewPurchaseJoin(views: DataFrame, purchases: DataFrame,
                       watermark: String = "1 hour",
                       windowMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.functions._
    val v = views.withWatermark("ts", watermark)
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id"))
    p.join(v, expr(
      s"""p_user = v_user
         |AND view_ts <= purchase_ts
         |AND view_ts >= purchase_ts - INTERVAL $windowMinutes MINUTES""".stripMargin))
      .select(col("event_id"), col("p_user").as("user_id"),
        col("purchase_ts"), col("view_ts"))
  }
}
