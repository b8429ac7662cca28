package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.MinHash

/** Training-data pipeline operators beyond dedup/similarity: the
  * chunk/split/select/leakage steps an LLM corpus build runs between
  * "cleaned documents" and "tokenizer input".
  *
  * All outputs are integers/strings (never DECIMAL — see [[Exact]]),
  * and every stage is a linear shuffle: these run unchanged at 100 TB.
  */
object TrainingDataQueries {

  /** Deterministic hash bucket in [0, n): first 8 hex digits of
    * md5(decimal string of the id). Content-independent, stable across
    * engines, runs and cluster layouts — the property a train/test
    * split must have so re-ingesting a document can never flip its
    * split (md5 text is identical in Spark and DuckDB;
    * `conv(hex,16,10)` ≡ DuckDB `('0x'||hex)::BIGINT`). */
  private[graft] def hashBucket(id: Column, n: Int): Column =
    conv(substring(md5(id.cast(StringType).cast(BinaryType)), 1, 8), 16, 10)
      .cast(LongType) % n

  private def bucketSql(n: Int): String =
    s"CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % $n"

  private val BucketSql = bucketSql(10)

  /** #64 (t08): deterministic train/valid/test split — 80/10/10 by
    * id-hash bucket. Pure projection: no shuffle at all, each executor
    * labels its rows locally. */
  def t08HashSplit: Q = (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("doc_id"), hashBucket(col("doc_id"), 10).as("bucket"))
      .select(col("doc_id"), col("bucket"),
        when(col("bucket") < 8, "train")
          .when(col("bucket") === 8, "valid")
          .otherwise("test").as("split"))
      .orderBy("doc_id")

  val t08Sql: String =
    s"""SELECT doc_id, bucket,
       |       CASE WHEN bucket < 8 THEN 'train'
       |            WHEN bucket = 8 THEN 'valid'
       |            ELSE 'test' END AS split
       |FROM (SELECT doc_id, $BucketSql AS bucket FROM documents)
       |ORDER BY doc_id""".stripMargin

  private val ChunkLen = 32
  private val ChunkStride = 24 // 8-token overlap between neighbors

  /** Sliding-window chunks of `text` (split on single spaces): emits
    * `carry` columns + (chunk_id, cw array<string>). ONE definition of
    * the chunk-count formula shared by d08/d10/d11, so packing and
    * corpus stats can never disagree with the chunker they compose. */
  private[graft] def chunked(docs: DataFrame, carry: Seq[String]): DataFrame = {
    val cols = carry.map(col)
    docs
      .select(cols :+ split(col("text"), " ").as("w"): _*)
      .select(cols ++ Seq(col("w"),
        (greatest(ceil((size(col("w")) - lit(ChunkLen)).cast(DoubleType) / ChunkStride)
           .cast(LongType), lit(0L)) + 1L).as("nc")): _*)
      .select(cols ++ Seq(explode(sequence(lit(0L), col("nc") - 1)).as("chunk_id"), col("w")): _*)
      .select(cols ++ Seq(col("chunk_id"),
        slice(col("w"), (col("chunk_id") * ChunkStride + 1).cast(IntegerType), lit(ChunkLen))
          .as("cw")): _*)
  }

  /** #65 (d08): sliding-window chunking — 32-token chunks every 24
    * tokens (8-token overlap), the standard shape for packing long
    * documents into a fixed context window without losing sentences at
    * chunk borders. `sequence` + `explode` + `slice` are all
    * codegen'd builtins; chunk count is ⌈(n−len)/stride⌉+1 so the
    * final partial chunk is kept. One narrow explode, no shuffle. */
  def d08Chunk: Q = (spark, dir) =>
    chunked(Tables.documents(spark, dir), Seq("doc_id"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("cw")).cast(LongType).as("n_tok"),
        concat_ws(" ", col("cw")).as("chunk"))
      .orderBy("doc_id", "chunk_id")

  val d08Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |n AS (
       |  SELECT doc_id, w,
       |         GREATEST(CAST(CEIL((len(w) - $ChunkLen) / $ChunkStride.0) AS BIGINT), 0) + 1 AS nc
       |  FROM toks),
       |c AS (
       |  SELECT doc_id, w, unnest(range(nc)) AS chunk_id FROM n)
       |SELECT doc_id, chunk_id,
       |       CAST(len(w[chunk_id * $ChunkStride + 1 : chunk_id * $ChunkStride + $ChunkLen]) AS BIGINT) AS n_tok,
       |       array_to_string(w[chunk_id * $ChunkStride + 1 : chunk_id * $ChunkStride + $ChunkLen], ' ') AS chunk
       |FROM c
       |ORDER BY doc_id, chunk_id""".stripMargin

  /** #66 (t09): salient terms per document — top-3 terms ranked by
    * (term frequency desc, document frequency asc, term asc): the
    * integer-exact core of tf-idf (a float idf = ln(N/df) ranks
    * identically to df asc within a document, without ln()'s
    * cross-engine last-ulp risk). Two linear shuffles — (doc, term)
    * then (term) — and a per-doc top-k window (WindowGroupLimit keeps
    * only 3 rows per doc pre-shuffle). */
  def t09SalientTerms: Q = (spark, dir) => {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(df, "term")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("doc_id", "rnk", "term", "tf", "df")
      .orderBy("doc_id", "rnk")
  }

  val t09Sql: String =
    """WITH tf AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |tf2 AS (
      |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM tf GROUP BY doc_id, term),
      |dfreq AS (
      |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf2 GROUP BY term),
      |ranked AS (
      |  SELECT doc_id, term, tf, df,
      |         ROW_NUMBER() OVER (PARTITION BY doc_id
      |                            ORDER BY tf DESC, df ASC, term ASC) AS rnk
      |  FROM tf2 JOIN dfreq USING (term))
      |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, tf, df
      |FROM ranked WHERE rnk <= 3
      |ORDER BY doc_id, rnk""".stripMargin

  /** #67 (d09): train→test contamination — pairs of (test doc, train
    * doc) sharing at least one 5-gram, with the count of distinct
    * shared 5-grams. The leakage audit every eval set needs before a
    * training run. Same split as t08 (buckets 0–7 train, 9 test);
    * 5-gram sets as 64-bit fingerprints, so the equi-join shuffles
    * (gram, id) longs — corpus-linear, never doc×doc. */
  def d09Contamination: Q = (spark, dir) => {
    // one normalization recipe for the whole d-family (LlmQueries owns it)
    val grams = LlmQueries.normedDocs(spark, dir)
      .select(col("doc_id"),
        hashBucket(col("doc_id"), 10).as("bucket"),
        explode(array_distinct(MinHash.shingleHashes(col("text_norm"), 5))).as("g"))
    val train = grams.filter(col("bucket") <= 7)
      .select(col("doc_id").as("train_id"), col("g"))
    val test = grams.filter(col("bucket") === 9)
      .select(col("doc_id").as("test_id"), col("g"))
    test.join(train, "g")
      .groupBy("test_id", "train_id")
      .agg(count(lit(1)).as("n_shared")) // grams are distinct per doc → count = |∩|
      .orderBy("test_id", "train_id")
  }

  /** Oracle-equivalence assumption (documented per ADVICE r3): the
    * Spark side joins 64-bit gram FINGERPRINTS while this oracle joins
    * the literal gram strings — the comparison is exact only while no
    * two distinct grams collide. With G distinct 5-grams the collision
    * probability is ≈ G²/2⁶⁵ (≈ 10⁻¹⁰ at the gate's ~10⁵ grams); a
    * collision would surface as an n_shared hash mismatch, not a
    * silent wrong answer. At the 100 TB path fingerprints are the
    * design choice (8-byte shuffle keys); a string-gram join is the
    * byte-exact fallback if a gate-scale corpus ever trips this. */
  val d09Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         string_split(regexp_replace(regexp_replace(trim(lower(text)), '[ \\t\\n\\x0b\\f\\r]*(feat\\.|featuring|ft\\.|&|and)[ \\t\\n\\x0b\\f\\r]*', ';', 'g'), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'), ' ') AS w
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |         CASE WHEN len(w) >= 5
       |              THEN list_distinct(list_transform(range(1, len(w) - 3), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))
       |              ELSE list_distinct([array_to_string(w, ' ')]) END AS s
       |  FROM toks),
       |b AS (
       |  SELECT doc_id, s, $BucketSql AS bucket FROM sh),
       |tr AS (SELECT doc_id AS train_id, unnest(s) AS g FROM b WHERE bucket <= 7),
       |te AS (SELECT doc_id AS test_id,  unnest(s) AS g FROM b WHERE bucket = 9)
       |SELECT test_id, train_id, CAST(COUNT(*) AS BIGINT) AS n_shared
       |FROM te JOIN tr USING (g)
       |GROUP BY test_id, train_id
       |ORDER BY test_id, train_id""".stripMargin

  /** #166 (t25): per-eval-doc decontamination COVERAGE — the
    * eval-centric verdict d09's pair list feeds: for every eval doc,
    * the fraction of its 5-gram OCCURRENCES (positional, not the
    * distinct set — a doc that repeats a leaked passage is more
    * contaminated, not equally) also present anywhere in the train
    * split, in integer ppm, plus the binary call at the conventional
    * 15% bar (the GPT-3 appendix-C / PaLM decontamination shape:
    * flag an eval doc whose n-gram coverage against the training set
    * crosses a threshold, then drop or report it).
    *
    * Scale shape: eval grams LEFT JOIN the distinct train-gram set on
    * a 64-bit fingerprint — (gram, id) longs across the shuffle, never
    * doc×doc — then one map-side-combinable per-doc count/sum. Same
    * fingerprint-vs-string-gram oracle equivalence note as d09. */
  def t25DecontamCoverage: Q = (spark, dir) => {
    val grams = LlmQueries.normedDocs(spark, dir)
      .select(col("doc_id"),
        hashBucket(col("doc_id"), 10).as("bucket"),
        explode(MinHash.shingleHashes(col("text_norm"), 5)).as("g"))
    val train = grams.filter(col("bucket") <= 7).select("g").distinct()
      .withColumn("hit", lit(1L))
    grams.filter(col("bucket") === 9)
      .join(train, Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("coverage_ppm", expr("(n_hit * 1000000) div n_grams"))
      .withColumn("contaminated",
        when(col("coverage_ppm") >= 150000L, 1L).otherwise(0L))
      .orderBy("doc_id")
  }

  val t25Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         string_split(regexp_replace(regexp_replace(trim(lower(text)), '[ \\t\\n\\x0b\\f\\r]*(feat\\.|featuring|ft\\.|&|and)[ \\t\\n\\x0b\\f\\r]*', ';', 'g'), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'), ' ') AS w
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |         CASE WHEN len(w) >= 5
       |              THEN list_transform(range(1, len(w) - 3), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])
       |              ELSE [array_to_string(w, ' ')] END AS s
       |  FROM toks),
       |b AS (
       |  SELECT doc_id, s, $BucketSql AS bucket FROM sh),
       |tr AS (SELECT DISTINCT unnest(s) AS g FROM b WHERE bucket <= 7),
       |ev AS (SELECT doc_id, unnest(s) AS g FROM b WHERE bucket = 9),
       |j AS (
       |  SELECT ev.doc_id, CASE WHEN tr.g IS NULL THEN 0 ELSE 1 END AS hit
       |  FROM ev LEFT JOIN tr ON ev.g = tr.g)
       |SELECT doc_id,
       |       CAST(COUNT(*) AS BIGINT) AS n_grams,
       |       CAST(SUM(hit) AS BIGINT) AS n_hit,
       |       (CAST(SUM(hit) AS BIGINT) * 1000000) // CAST(COUNT(*) AS BIGINT) AS coverage_ppm,
       |       CAST(CASE WHEN (CAST(SUM(hit) AS BIGINT) * 1000000) // CAST(COUNT(*) AS BIGINT) >= 150000
       |                 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
       |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val BinTokens = 512

  /** Sub-source pack streams per source: one giant source must not
    * serialize into a single window task, so the pack key is
    * (source, sub) with sub a DETERMINISTIC doc-id hash bucket — a
    * doc's chunks all share its sub, so within-doc chunk contiguity
    * is preserved, and the salt is content-independent (same value on
    * both engines, stable under re-ingest). At real scale size this
    * to corpus/source volume (or use (source, day) when a natural
    * sub-key exists). */
  private val PackSubStreams = 16

  /** #69 (d10): pack chunks into ~512-token context windows — each
    * (source, sub)-stream's chunks, in (doc_id, chunk_id) order, are
    * assigned to the bin containing their cumulative start offset.
    * One window shuffle on the pack key, integer outputs. This is
    * offset binning, not first-fit-decreasing: bins can overshoot by
    * at most one chunk (≤ 32 tokens ≈ 6%), in exchange for a
    * closed-form windowed plan — exact greedy packing is a sequential
    * recurrence that would need a per-group iterator at 100 TB.
    * Round 4: the window key gained the `sub` hash bucket (see
    * [[PackSubStreams]]) so the biggest source splits into 16
    * independent, individually-splittable pack streams. */
  def d10Pack: Q = (spark, dir) => {
    val chunks = chunked(Tables.documents(spark, dir), Seq("doc_id", "source"))
      .select(col("doc_id"), col("source"), col("chunk_id"),
        size(col("cw")).cast(LongType).as("n_tok"))
      .withColumn("sub", hashBucket(col("doc_id"), PackSubStreams))
    val w = Window.partitionBy("source", "sub").orderBy("doc_id", "chunk_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chunks
      .withColumn("cum", sum("n_tok").over(w))
      .select(col("source"), col("sub"), col("doc_id"), col("chunk_id"), col("n_tok"),
        ((col("cum") - col("n_tok")) / BinTokens).cast(LongType).as("bin_id"))
      .orderBy("source", "doc_id", "chunk_id")
  }

  val d10Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
       |n AS (
       |  SELECT doc_id, source, w,
       |         GREATEST(CAST(CEIL((len(w) - $ChunkLen) / $ChunkStride.0) AS BIGINT), 0) + 1 AS nc
       |  FROM toks),
       |c AS (
       |  SELECT doc_id, source, w, unnest(range(nc)) AS chunk_id FROM n),
       |sized AS (
       |  SELECT doc_id, source, chunk_id, ${bucketSql(PackSubStreams)} AS sub,
       |         CAST(len(w[chunk_id * $ChunkStride + 1 : chunk_id * $ChunkStride + $ChunkLen]) AS BIGINT) AS n_tok
       |  FROM c),
       |cums AS (
       |  SELECT source, sub, doc_id, chunk_id, n_tok,
       |         CAST(SUM(n_tok) OVER (PARTITION BY source, sub ORDER BY doc_id, chunk_id
       |                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM sized)
       |SELECT source, sub, doc_id, chunk_id, n_tok,
       |       CAST(FLOOR((cum - n_tok) / $BinTokens.0) AS BIGINT) AS bin_id
       |FROM cums
       |ORDER BY source, doc_id, chunk_id""".stripMargin

  /** #70 (t10): stratified sampling — a fixed-size, deterministic
    * per-language sample: rank docs within each language by
    * (md5(id), id) and keep the first 20. Hash order makes the sample
    * content-independent and stable under corpus growth near the
    * boundary only (a new doc displaces at most one sampled doc in its
    * own stratum). One window shuffle on lang; `WindowGroupLimit`
    * keeps 20 rows per stratum before the exchange. */
  def t10StratifiedSample: Q = (spark, dir) => {
    val w = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast(StringType).cast(BinaryType)).asc, col("doc_id").asc)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 20)
      .select(col("lang"), col("rn").cast(LongType).as("rn"), col("doc_id"))
      .orderBy("lang", "rn")
  }

  val t10Sql: String =
    """SELECT lang, CAST(rn AS BIGINT) AS rn, doc_id
      |FROM (SELECT doc_id, lang,
      |             ROW_NUMBER() OVER (PARTITION BY lang
      |                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |      FROM documents)
      |WHERE rn <= 20
      |ORDER BY lang, rn""".stripMargin

  private val VocabK = 25

  /** #71 (t11): out-of-vocabulary rate — per-document token count and
    * how many of those tokens fall outside the corpus's top-25
    * vocabulary (by total count, ties by term). The tokenizer-coverage
    * audit run before committing to a vocab. Linear shuffles on
    * (doc, term) and (term); the vocabulary is tiny by construction,
    * so the anti-join broadcasts. */
  def t11OovRate: Q = (spark, dir) => {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy("term").agg(sum("tf").as("n"))
      .orderBy(col("n").desc, col("term").asc).limit(VocabK)
      .select("term")
    tf.join(broadcast(vocab), Seq("term"), "left_anti")
      .groupBy("doc_id").agg(sum("tf").as("n_oov"))
      .join(tf.groupBy("doc_id").agg(sum("tf").as("n_tok")), Seq("doc_id"), "right_outer")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"))
      .orderBy("doc_id")
  }

  val t11Sql: String =
    s"""WITH tf AS (
       |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
       |  GROUP BY doc_id, term),
       |vocab AS (
       |  SELECT term FROM (
       |    SELECT term, CAST(SUM(tf) AS BIGINT) AS n FROM tf GROUP BY term)
       |  ORDER BY n DESC, term ASC LIMIT $VocabK),
       |oov AS (
       |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_oov
       |  FROM tf WHERE term NOT IN (SELECT term FROM vocab)
       |  GROUP BY doc_id),
       |tot AS (
       |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tok FROM tf GROUP BY doc_id)
       |SELECT doc_id, n_tok, COALESCE(n_oov, 0) AS n_oov
       |FROM tot LEFT JOIN oov USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** #72 (t12): length-outlier trimming — flag documents whose length
    * sits outside their language's [p05, p95] band (exact interpolated
    * percentiles, integer milli outputs as in q29). The standard
    * too-short/too-long corpus filter, with per-stratum bands so a
    * verbose language doesn't set the bar for a terse one. Percentile
    * agg per lang (20 groups) broadcasts back onto the scan. */
  def t12LengthOutliers: Q = (spark, dir) => {
    // Round 4: exact `percentile` (one in-memory buffer per group)
    // replaced with the splittable histogram path — see
    // [[graft.functions.ExactPercentile]]. Integer-exact, so the
    // quantile_cont oracle is unchanged.
    import graft.functions.ExactPercentile, ExactPercentile.Pct
    val docs = Tables.documents(spark, dir)
    val bands = ExactPercentile.quantiles(docs, Seq("lang"),
      col("n_chars"), valPow = 0, outPow = 3,
      Seq(Pct("lo_milli", 5, 100), Pct("hi_milli", 95, 100)))
    docs.join(broadcast(bands), "lang")
      .filter(col("n_chars") * 1000 < col("lo_milli") ||
              col("n_chars") * 1000 > col("hi_milli"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col("lo_milli"), col("hi_milli"))
      .orderBy("doc_id")
  }

  val t12Sql: String =
    """WITH bands AS (
      |  SELECT lang,
      |         CAST(FLOOR(quantile_cont(n_chars, 0.05) * 1000.0 + 0.5) AS BIGINT) AS lo_milli,
      |         CAST(FLOOR(quantile_cont(n_chars, 0.95) * 1000.0 + 0.5) AS BIGINT) AS hi_milli
      |  FROM documents GROUP BY lang)
      |SELECT doc_id, lang, n_chars, lo_milli, hi_milli
      |FROM documents JOIN bands USING (lang)
      |WHERE n_chars * 1000 < lo_milli OR n_chars * 1000 > hi_milli
      |ORDER BY doc_id""".stripMargin

  /** #84 (t13): per-source boilerplate n-gram detection — the
    * CCNet/Dolma-style template detector: word bigrams whose DOCUMENT
    * frequency within a source exceeds 15% are navigation chrome /
    * footer / template text, not content, and are removal candidates
    * before training. Pipeline: per-doc DISTINCT bigrams (narrow
    * explode + one dedup shuffle) → (source, gram) doc counts (linear,
    * partial-agg) → broadcast join of tiny per-source doc totals →
    * integer threshold compare. Every stage is corpus-linear; the
    * gram domain, not the corpus, bounds the aggregate. */
  def t13Boilerplate: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir)
    val toks = docs
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
    val bigrams = toks
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1), size(col("w")) - 1)).as("i"), col("w"))
      .select(col("doc_id"), col("source"),
        concat_ws(" ", slice(col("w"), col("i"), lit(2))).as("gram"))
      .distinct() // document frequency, not occurrence count
    val srcDocs = docs.groupBy("source")
      .agg(countDistinct("doc_id").as("n_docs"))
    bigrams.groupBy("source", "gram").agg(count(lit(1)).as("df"))
      .join(broadcast(srcDocs), "source")
      .filter(col("df") * 100 >= col("n_docs") * 15)
      .select(col("source"), col("gram"), col("df"), col("n_docs"))
      .orderBy("source", "gram")
  }

  val t13Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
      |bg AS (
      |  SELECT DISTINCT doc_id, source,
      |         unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS gram
      |  FROM toks WHERE len(w) >= 2),
      |srcn AS (SELECT source, COUNT(DISTINCT doc_id) AS n_docs FROM documents GROUP BY 1),
      |dfreq AS (SELECT source, gram, CAST(COUNT(*) AS BIGINT) AS df FROM bg GROUP BY 1, 2)
      |SELECT d.source, gram, df, CAST(n_docs AS BIGINT) AS n_docs
      |FROM dfreq d JOIN srcn USING (source)
      |WHERE df * 100 >= n_docs * 15
      |ORDER BY source, gram""".stripMargin

  /** #93 (t14): self-trained bigram LM quality score — the CCNet move
    * (Wenzek et al. 2020 score docs with a KenLM model; here the model
    * IS the corpus's own bigram table, so the operator is closed over
    * its input). Per position, the conditional probability
    * cnt(prev,cur)/cnt(prev) is kept as an INTEGER-scaled term
    * `(10⁶·cb) div cp` — exact on both engines (pure bigint ops; a
    * float log-likelihood would drift in the last ulp across libm
    * implementations and break the hash gate), summed per doc.
    * Low-scoring docs are the incoherent tail — the same ranking a
    * log-space score gives at equal smoothing. Everything is
    * corpus-linear: one bigram stream (explode), counts partially
    * aggregated, prefix totals derived FROM the bigram counts (no
    * second corpus pass), and the score join shuffles (prev, cur)
    * pairs — hot bigrams are AQE skew-join territory, never a
    * cross product. */
  def t14LmScore: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir)
    val bi = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2) // sequence(1,0) would run DESCENDING
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("w")) - 1)).as("i"), col("w"))
      .select(col("doc_id"),
        element_at(col("w"), col("i")).as("prev"),
        element_at(col("w"), col("i") + 1).as("cur"))
    val bigramCnt = bi.groupBy("prev", "cur").agg(count(lit(1)).as("cb"))
    val prefixCnt = bigramCnt.groupBy("prev").agg(sum("cb").as("cp"))
    val scored = bi
      .join(bigramCnt, Seq("prev", "cur"))
      .join(prefixCnt, Seq("prev"))
      .withColumn("t_e6", expr("(1000000 * cb) div cp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("t_e6").as("lm_score_e6"))
    docs.select("doc_id").join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("lm_score_e6"), lit(0L)).as("lm_score_e6"))
      .orderBy("doc_id")
  }

  val t14Sql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |b AS (
      |  SELECT doc_id,
      |         unnest(list_transform(range(1, len(w)), i -> w[i])) AS prev,
      |         unnest(list_transform(range(1, len(w)), i -> w[i+1])) AS cur
      |  FROM t WHERE len(w) >= 2),
      |bc AS (SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS cb FROM b GROUP BY 1, 2),
      |pc AS (SELECT prev, CAST(SUM(cb) AS BIGINT) AS cp FROM bc GROUP BY 1),
      |s AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nb,
      |         CAST(SUM((1000000 * cb) // cp) AS BIGINT) AS sc
      |  FROM b JOIN bc USING (prev, cur) JOIN pc USING (prev)
      |  GROUP BY doc_id)
      |SELECT d.doc_id, CAST(COALESCE(nb, 0) AS BIGINT) AS n_bigrams,
      |       CAST(COALESCE(sc, 0) AS BIGINT) AS lm_score_e6
      |FROM documents d LEFT JOIN s USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** #73 (d11): flagship corpus pipeline — the training-data twin of
    * q17's ETL flagship, composing the library's own stages in one
    * Catalyst plan: exact dedup (keep min id per md5(text), 16-byte
    * shuffle key) → train split (t08 buckets 0–7, pure projection) →
    * 32/24 chunking (d08, narrow explode) → per-source corpus report.
    * Catalyst optimizes across all four stages: the md5 window and the
    * chunk explode share one scan, and only (source, n_tok) survive
    * into the final aggregate. */
  def d11CorpusPipeline: Q = (spark, dir) => {
    val deduped = graft.etl.Dedup.topPerKey(
        Tables.documents(spark, dir).withColumn("dup_key", md5(col("text"))),
        Seq("dup_key"), Seq(col("doc_id").asc))
      .drop("dup_key")
    val train = deduped.filter(hashBucket(col("doc_id"), 10) < 8)
    chunked(train, Seq("doc_id", "source"))
      .select(col("doc_id"), col("source"),
        size(col("cw")).cast(LongType).as("n_tok"))
      .groupBy("source")
      .agg(
        countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_chunks"),
        sum("n_tok").as("n_tok_total"))
      .orderBy("source")
  }

  val d11Sql: String =
    s"""WITH dd AS (
       |  SELECT doc_id, source, text FROM (
       |    SELECT doc_id, source, text,
       |           ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |    FROM documents)
       |  WHERE rn = 1),
       |tr AS (
       |  SELECT doc_id, source, text FROM dd WHERE $BucketSql < 8),
       |toks AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM tr),
       |n AS (
       |  SELECT doc_id, source, w,
       |         GREATEST(CAST(CEIL((len(w) - $ChunkLen) / $ChunkStride.0) AS BIGINT), 0) + 1 AS nc
       |  FROM toks),
       |c AS (SELECT doc_id, source, w, unnest(range(nc)) AS chunk_id FROM n),
       |sized AS (
       |  SELECT doc_id, source,
       |         CAST(len(w[chunk_id * $ChunkStride + 1 : chunk_id * $ChunkStride + $ChunkLen]) AS BIGINT) AS n_tok
       |  FROM c)
       |SELECT source,
       |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |       CAST(SUM(n_tok) AS BIGINT) AS n_tok_total
       |FROM sized GROUP BY source ORDER BY source""".stripMargin

  /** Per-source mixture weights for d12 — the Dolma/GPT-3-style data
    * mixing config: upsample high-quality sources by an integer epoch
    * count plus a fractional hash-gated extra epoch, downsample noisy
    * ones below 1.0. Weights are ×10 integers so the fractional gate
    * is exact integer arithmetic on both engines. */
  private val MixWeightsE1: Map[String, Int] =
    Map("src0" -> 30, "src1" -> 25, "src2" -> 20, "src3" -> 15,
        "src19" -> 5).withDefaultValue(10)

  /** #87 (d12): weighted corpus mixture — emit each document
    * `floor(w)` times plus one extra epoch for docs whose id-hash
    * falls under the fractional part (deterministic, so the mixture
    * is reproducible and a re-ingested doc keeps its epochs), with a
    * content-independent `order_key` for the global training-order
    * shuffle. The standard mixing step between "cleaned corpus" and
    * "tokenizer input". Pure projection + bounded explode (≤ ⌈w⌉
    * rows/doc) — no shuffle until the training-order sort, which is a
    * range partition on uniformly-distributed hashes (splittable;
    * here materialized via ORDER BY for the oracle's total order). */
  def d12Mixture: Q = (spark, dir) => {
    val wCol = MixWeightsE1.foldLeft(lit(10): Column) { case (acc, (s, w)) =>
      when(col("source") === s, lit(w)).otherwise(acc)
    }
    // epochs = w10 div 10; extra epoch iff hash-bucket(doc) < w10 mod 10
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), wCol.cast(LongType).as("w10"))
      .withColumn("full_epochs", (col("w10") / 10).cast(LongType))
      .withColumn("extra",
        (hashBucket(col("doc_id"), 10) < col("w10") % 10).cast(LongType))
      .withColumn("n_epochs", col("full_epochs") + col("extra"))
      .filter(col("n_epochs") > 0)
    docs
      .select(col("doc_id"), col("source"), col("w10"),
        explode(sequence(lit(1L), col("n_epochs"))).as("epoch"))
      .withColumn("order_key",
        md5(concat_ws(":", col("epoch"), col("doc_id"))))
      .orderBy("order_key", "doc_id")
  }

  val d12Sql: String =
    """WITH w AS (
      |  SELECT doc_id, source,
      |         CASE source WHEN 'src0' THEN 30 WHEN 'src1' THEN 25
      |              WHEN 'src2' THEN 20 WHEN 'src3' THEN 15
      |              WHEN 'src19' THEN 5 ELSE 10 END AS w10
      |  FROM documents),
      |e AS (
      |  SELECT doc_id, source, w10,
      |         w10 // 10
      |           + CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 < w10 % 10
      |                  THEN 1 ELSE 0 END AS n_epochs
      |  FROM w),
      |x AS (
      |  SELECT doc_id, source, CAST(w10 AS BIGINT) AS w10,
      |         CAST(unnest(range(1, n_epochs + 1)) AS BIGINT) AS epoch
      |  FROM e WHERE n_epochs > 0)
      |SELECT doc_id, source, w10, epoch,
      |       md5(epoch || ':' || doc_id) AS order_key
      |FROM x
      |ORDER BY order_key, doc_id""".stripMargin

  /** #104 (t15): collocation mining — bigrams whose corpus frequency
    * exceeds what their unigram frequencies predict under independence
    * (lift = P(xy)/(P(x)·P(y)), the exponential of PMI). The standard
    * multi-word-expression signal when building tokenizer vocabularies
    * and merge lists. The score is kept as the INTEGER
    * (c_xy·N·1000) div (c_x·c_y) — same rank order as PMI (log is
    * monotone) with zero cross-engine float risk (t14's convention).
    * One bigram stream, two linear partial-aggregated counts, two
    * joins on the (small) gram domain, 1-row total broadcast. */
  def t15Collocations: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir)
    val toks = docs.select(split(col("text"), " ").as("w"))
    val bi = toks
      .filter(size(col("w")) >= 2)
      .select(explode(sequence(lit(1), size(col("w")) - 1)).as("i"), col("w"))
      .select(element_at(col("w"), col("i")).as("x"),
        element_at(col("w"), col("i") + 1).as("y"))
    val pairCnt = bi.groupBy("x", "y").agg(count(lit(1)).as("c_xy"))
    val uni = toks.select(explode(col("w")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    val total = uni.agg(sum("c").as("n_tok"))
    pairCnt
      .join(uni.toDF("x", "c_x"), "x")
      .join(uni.toDF("y", "c_y"), "y")
      .crossJoin(broadcast(total))
      .filter(col("c_xy") >= 5)
      .select(col("x"), col("y"), col("c_xy"),
        expr("(c_xy * n_tok * 1000) div (c_x * c_y)").as("lift_milli"))
      .orderBy("x", "y")
  }

  val t15Sql: String =
    """WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
      |b AS (
      |  SELECT unnest(list_transform(range(1, len(w)), i -> w[i])) AS x,
      |         unnest(list_transform(range(1, len(w)), i -> w[i+1])) AS y
      |  FROM t WHERE len(w) >= 2),
      |bc AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c_xy FROM b GROUP BY 1, 2),
      |u AS (SELECT unnest(w) AS tok, 1 AS one FROM t),
      |uc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM u GROUP BY 1),
      |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tok FROM uc)
      |SELECT x, y, c_xy,
      |       CAST((c_xy * n_tok * 1000) // (ux.c * uy.c) AS BIGINT) AS lift_milli
      |FROM bc JOIN uc ux ON bc.x = ux.tok
      |        JOIN uc uy ON bc.y = uy.tok
      |        CROSS JOIN n
      |WHERE c_xy >= 5
      |ORDER BY x, y""".stripMargin

  /** #111 (t16): readability / complexity metrics — the filter signal
    * a corpus-quality pass ranks documents by (short choppy boilerplate
    * vs long-winded run-ons both stand out): sentence count, word
    * count, average word length, long-word ratio. All single-pass
    * codegen'd regex counts over the document — no tokenize-explode,
    * no shuffle except the final sort — and all ratios are half-up
    * ×1000 integers via the exact-rational identity (no float), so the
    * DuckDB mirror is textually parallel. Word = lowercase alnum run
    * (t03's convention); sentence = a [.!?] run. */
  def t16Readability: Q = (spark, dir) => {
    import graft.text.TextFunctions.matchCount
    val lo = lower(col("text"))
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        matchCount(col("text"), """[.!?]+""").as("n_sent"),
        matchCount(lo, """[a-z0-9]+""").as("n_word"),
        length(regexp_replace(lo, """[^a-z0-9]""", "")).cast(LongType)
          .as("n_word_chars"),
        matchCount(lo, """[a-z0-9]{7,}""").as("n_long"))
      .withColumn("avg_word_len_milli",
        expr("CASE WHEN n_word = 0 THEN 0L ELSE " +
          "(2 * n_word_chars * 1000 + n_word) div (2 * n_word) END"))
      .withColumn("long_ratio_milli",
        expr("CASE WHEN n_word = 0 THEN 0L ELSE " +
          "(2 * n_long * 1000 + n_word) div (2 * n_word) END"))
      .orderBy("doc_id")
  }

  val t16Sql: String =
    """SELECT doc_id,
      |       CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS n_sent,
      |       CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_word,
      |       CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS BIGINT)
      |         AS n_word_chars,
      |       CAST(len(regexp_extract_all(lower(text), '[a-z0-9]{7,}')) AS BIGINT) AS n_long,
      |       CAST(CASE WHEN len(regexp_extract_all(lower(text), '[a-z0-9]+')) = 0 THEN 0
      |                 ELSE (2 * length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) * 1000
      |                       + len(regexp_extract_all(lower(text), '[a-z0-9]+')))
      |                      // (2 * len(regexp_extract_all(lower(text), '[a-z0-9]+')))
      |            END AS BIGINT) AS avg_word_len_milli,
      |       CAST(CASE WHEN len(regexp_extract_all(lower(text), '[a-z0-9]+')) = 0 THEN 0
      |                 ELSE (2 * len(regexp_extract_all(lower(text), '[a-z0-9]{7,}')) * 1000
      |                       + len(regexp_extract_all(lower(text), '[a-z0-9]+')))
      |                      // (2 * len(regexp_extract_all(lower(text), '[a-z0-9]+')))
      |            END AS BIGINT) AS long_ratio_milli
      |FROM documents ORDER BY doc_id""".stripMargin

  /** #117 (t17): inverted index construction — term → (document
    * frequency, capped posting list), the retrieval-side artifact a
    * corpus build publishes next to the corpus itself (s08's BM25
    * scores precompute from exactly these statistics). `df` is exact
    * over all documents; the posting list keeps only the FIRST 16 doc
    * ids in sorted order — the cap is applied by a WindowGroupLimit
    * (row_number ≤ 16 over the HIGH-cardinality term key) BEFORE
    * `collect_list`, so no reducer ever materializes a stopword's
    * full O(corpus) posting row; terms below df 5 are dropped as
    * non-discriminative. Both aggregations key on `term` — one
    * partitioning serves the df count, the cap window, and the list
    * collection. */
  def t17InvertedIndex: Q = (spark, dir) => {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z0-9]+")).as("term"))
      .filter(length(col("term")) > 0)
      .distinct()
    val dfreq = tok.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 5)
    val w = Window.partitionBy("term").orderBy("doc_id")
    val postings = tok
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 16)
      .groupBy("term")
      .agg(concat_ws(",", sort_array(collect_list("doc_id"))).as("postings_csv"))
    dfreq.join(postings, "term")
      .select("term", "df", "postings_csv")
      .orderBy("term")
  }

  val t17Sql: String =
    """WITH tok AS (
      |  SELECT DISTINCT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      |  FROM documents),
      |idx AS (
      |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df
      |  FROM tok GROUP BY 1 HAVING COUNT(*) >= 5),
      |cap AS (
      |  SELECT term, doc_id FROM (
      |    SELECT term, doc_id,
      |           row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
      |    FROM tok) WHERE rn <= 16)
      |SELECT i.term, i.df,
      |       array_to_string(list_sort(list(c.doc_id)), ',') AS postings_csv
      |FROM idx i JOIN cap c USING (term)
      |GROUP BY i.term, i.df ORDER BY term""".stripMargin

  /** #118 (t18): BPE merge learning — the first 5 merge rules of a
    * byte-pair-encoding tokenizer (Sennrich et al., ACL'16 — the
    * algorithm behind GPT/Llama tokenizers), learned by [[bpeLearn]]
    * over the corpus's word-frequency table. */
  def t18BpeMerges: Q = (spark, dir) =>
    bpeLearn(docWords(spark, dir), nMerges = 5)._1.orderBy("merge_no")

  /** (doc_id, word): every `[a-z0-9]+` word occurrence of the corpus. */
  private def docWords(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(lower(col("text")), "[^a-z0-9]+")).as("word"))
      .filter(length(col("word")) > 0)

  /** BPE merge learning, t18's and t21's one learner, over the
    * word-frequency table (word, wc) of the occurrences `words`
    * ([[docWords]]). Returns the merges as (merge_no, merge_pat,
    * pair_count) and every word's final symbols as (word, sym, wc).
    * Each iteration: count
    * every adjacent symbol pair across the table (overlapping counts,
    * standard BPE), pick the most frequent pair (ties: the smallest
    * pattern in UTF-8 byte order — exact, deterministic), and merge
    * its occurrences greedily left-to-right in every word.
    *
    * Symbols are anchored as `<sym>` so a literal `replace` of
    * `<a><b>` → `<ab>` can never match across symbol boundaries, and
    * left-to-right non-overlapping `replace` IS the BPE greedy merge —
    * both engines' replace() agree, so the DuckDB oracles unroll the
    * same iterations and hash-match (d14's regime). A table whose
    * pairs run out before `nMerges` stops merging there and empties
    * `syms` (the distributed cross join with an empty argmax does).
    *
    * Scale shape: the corpus collapses ONCE into the word-frequency
    * table (vocab-sized, not corpus-sized), which is cut and probed by
    * [[graft.etl.SmallPath]]. At or below the bound the merges are
    * learned on the driver. Above it each iteration is a pair-explode
    * + partial-agged count over the cut, a 1-ROW argmax
    * (TakeOrdered), and a broadcast-join + narrow replace — linear
    * vocab passes, the argmax row rejoining as a broadcast. */
  private def bpeLearn(words: DataFrame, nMerges: Int): (DataFrame, DataFrame) = {
    val spark = words.sparkSession
    import spark.implicits._
    // lazy: the probe's job materializes the cut
    val (cut, free) = etl.Checkpoints.cutReleasable(
      words.groupBy("word").agg(count(lit(1)).as("wc")), eager = false, reliable = false)
    val anchor = "(.)"
    etl.SmallPath.collectBelow(cut) match {
      case Some(rows) =>
        free()
        var syms = rows.toSeq.map(r =>
          (r.getString(0), r.getString(0).replaceAll(anchor, "<$1>"), r.getLong(1)))
        val merges = Seq.newBuilder[(Long, String, Long)]
        for (i <- 1 to nMerges if syms.nonEmpty) {
          val counts = scala.collection.mutable.HashMap.empty[String, Long]
          syms.foreach { case (_, sym, wc) =>
            val t = sym.substring(1, sym.length - 1).split("><", -1)
            for (j <- 0 until t.length - 1) {
              val pat = s"<${t(j)}><${t(j + 1)}>"
              counts(pat) = Math.addExact(counts.getOrElse(pat, 0L), wc)
            }
          }
          if (counts.isEmpty) syms = Seq.empty
          else {
            // on these ASCII patterns String order IS UTF-8 byte order
            val (pat, c) = counts.minBy { case (p, n) => (-n, p) }
            merges += ((i.toLong, pat, c))
            val merged = pat.replace("><", "")
            syms = syms.map { case (w, sym, wc) => (w, sym.replace(pat, merged), wc) }
          }
        }
        // one partition: t18's ORDER BY then sorts in place
        (merges.result().toDF("merge_no", "merge_pat", "pair_count").coalesce(1),
          syms.toDF("word", "sym", "wc"))
      case None =>
        var syms = cut.select(col("word"),
          regexp_replace(col("word"), anchor, "<$1>").as("sym"), col("wc"))
        val pairsOf =
          """CASE WHEN size(t) < 2 THEN array()
            |ELSE transform(sequence(0, size(t) - 2),
            |               i -> concat('<', t[i], '><', t[i + 1], '>')) END""".stripMargin
        var merges = Vector.empty[DataFrame]
        for (i <- 1 to nMerges) {
          val best = syms
            .withColumn("t", split(expr("substring(sym, 2, length(sym) - 2)"), "><"))
            .select(col("wc"), explode(expr(pairsOf)).as("pat"))
            .groupBy("pat").agg(sum("wc").as("c"))
            .orderBy(col("c").desc, col("pat").asc).limit(1)
          merges :+= best.select(lit(i.toLong).as("merge_no"),
            col("pat").as("merge_pat"), col("c").as("pair_count"))
          syms = syms.crossJoin(broadcast(best))
            .withColumn("sym", expr("replace(sym, pat, replace(pat, '><', ''))"))
            .select("word", "sym", "wc")
        }
        (merges.reduce(_ unionAll _), syms)
    }
  }

  val t18Sql: String = {
    def iter(i: Int): String = {
      val prev = s"s${i - 1}"
      s"""p$i AS (
         |  SELECT pat, CAST(SUM(wc) AS BIGINT) AS c FROM (
         |    SELECT wc, unnest(list_transform(range(1, len(t)),
         |                      i -> '<' || t[i] || '><' || t[i+1] || '>')) AS pat
         |    FROM (SELECT wc, string_split(sym[2:len(sym)-1], '><') AS t FROM $prev))
         |  GROUP BY 1),
         |b$i AS (SELECT pat, c FROM p$i ORDER BY c DESC, pat LIMIT 1),
         |s$i AS (
         |  SELECT replace(sym, (SELECT pat FROM b$i),
         |                 replace((SELECT pat FROM b$i), '><', '')) AS sym, wc
         |  FROM $prev)""".stripMargin
    }
    """WITH w AS (
      |  SELECT word, CAST(COUNT(*) AS BIGINT) AS wc FROM (
      |    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
      |    FROM documents)
      |  GROUP BY 1),
      |s0 AS (SELECT regexp_replace(word, '(.)', '<\1>', 'g') AS sym, wc FROM w),
      |""".stripMargin +
      (1 to 5).map(iter).mkString(",\n") + "\n" +
      (1 to 5).map(i =>
        s"SELECT CAST($i AS BIGINT) AS merge_no, pat AS merge_pat, c AS pair_count FROM b$i")
        .mkString("", "\nUNION ALL\n", "\nORDER BY merge_no")
  }

  /** #135 (t21): BPE encoding — APPLY t18's learned merges to tokenize
    * the whole corpus: per doc, word occurrences and the BPE token
    * count after the 5 learned merges (the number a context-window
    * packer or training-cost estimate actually needs; t03's regex
    * count is the pre-tokenizer approximation). Same anchored-symbol
    * `replace` trick as t18 — merges apply greedily left-to-right,
    * identically on both engines, so the oracle unrolls learn+apply.
    *
    * Scale shape: merges are learned on the VOCAB table by
    * [[bpeLearn]], the corpus is touched exactly twice — once
    * collapsing to (doc, word) occurrences, once joining the per-word
    * token count back on the high-cardinality word key (broadcast-able:
    * vocab ≪ corpus; Spark's size estimate decides). No per-doc
    * sequential loop anywhere — the merge loop is over the 5 RULES,
    * not the data. */
  def t21BpeEncode: Q = (spark, dir) => {
    val words = docWords(spark, dir)
    val (_, syms) = bpeLearn(words, nMerges = 5)
    val perWord = syms.select(col("word"),
      size(split(expr("substring(sym, 2, length(sym) - 2)"), "><")).cast("long").as("n_tok"))
    words.join(perWord, Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_tok").as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  val t21Sql: String = {
    def iter(i: Int): String = {
      val prev = s"s${i - 1}"
      s"""p$i AS MATERIALIZED (
         |  SELECT pat, CAST(SUM(wc) AS BIGINT) AS c FROM (
         |    SELECT wc, unnest(list_transform(range(1, len(t)),
         |                      i -> '<' || t[i] || '><' || t[i+1] || '>')) AS pat
         |    FROM (SELECT wc, string_split(sym[2:len(sym)-1], '><') AS t FROM $prev))
         |  GROUP BY 1),
         |b$i AS MATERIALIZED (SELECT pat, c FROM p$i ORDER BY c DESC, pat LIMIT 1),
         |s$i AS MATERIALIZED (
         |  SELECT word, replace(sym, (SELECT pat FROM b$i),
         |                 replace((SELECT pat FROM b$i), '><', '')) AS sym, wc
         |  FROM $prev)""".stripMargin
    }
    """WITH dw AS MATERIALIZED (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
      |  FROM documents),
      |w AS MATERIALIZED (
      |  SELECT word, CAST(COUNT(*) AS BIGINT) AS wc FROM dw GROUP BY 1),
      |s0 AS MATERIALIZED (
      |  SELECT word, regexp_replace(word, '(.)', '<\1>', 'g') AS sym, wc FROM w),
      |""".stripMargin +
      (1 to 5).map(iter).mkString(",\n") +
      """,
        |tk AS MATERIALIZED (
        |  SELECT word, CAST(len(string_split(sym[2:len(sym)-1], '><')) AS BIGINT) AS n_tok
        |  FROM s5)
        |SELECT dw.doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_words,
        |       CAST(SUM(n_tok) AS BIGINT) AS n_bpe_tokens
        |FROM dw JOIN tk USING (word)
        |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** #124 (t19): corpus report card — the per-source health rollup a
    * corpus build publishes with every ingest batch: document count,
    * token volume, exact-duplicate incidence (d01's digest rule,
    * counted corpus-wide so cross-source duplication shows up in both
    * sources), dominant language (deterministic argmax: most docs,
    * then lexicographically first), and mean tokens per doc (half-up
    * ×1000 integer). One corpus scan; the digest self-join shuffles on
    * the HIGH-cardinality md5 key; everything else partial-aggregates
    * on `source`; the argmax is a min-of-struct (no rank window). */
  def t19CorpusReport: Q = (spark, dir) => {
    import graft.text.TextFunctions.matchCount
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("lang"),
        matchCount(lower(col("text")), """[a-z0-9]+""").as("toks"),
        md5(col("text")).as("dig"))
    val dupes = docs.groupBy("dig").agg(count(lit(1)).as("dn"))
    val flagged = docs.join(dupes, "dig")
    val topLang = flagged.groupBy("source", "lang").agg(count(lit(1)).as("ln"))
      .groupBy("source")
      .agg(min(struct((lit(0L) - col("ln")).as("nl"), col("lang").as("l"))).as("p"))
      .select(col("source"), col("p.l").as("top_lang"))
    flagged.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("toks").as("n_tokens"),
        sum(when(col("dn") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
        expr("(2 * sum(toks) * 1000 + count(1)) div (2 * count(1))")
          .as("avg_tokens_milli"))
      .join(topLang, "source")
      .orderBy("source")
  }

  val t19Sql: String =
    """WITH d AS (
      |  SELECT source, lang,
      |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS toks,
      |         md5(text) AS dig
      |  FROM documents),
      |dup AS (SELECT dig, COUNT(*) AS dn FROM d GROUP BY 1),
      |f AS (SELECT d.*, dup.dn FROM d JOIN dup USING (dig)),
      |tl AS (
      |  SELECT source AS tsource, lang AS top_lang,
      |         row_number() OVER (PARTITION BY source
      |                            ORDER BY COUNT(*) DESC, lang) AS rn
      |  FROM f GROUP BY source, lang),
      |agg AS (
      |  SELECT source,
      |         CAST(COUNT(*) AS BIGINT) AS n_docs,
      |         CAST(SUM(toks) AS BIGINT) AS n_tokens,
      |         CAST(COUNT(*) FILTER (dn > 1) AS BIGINT) AS n_dup_docs,
      |         CAST((2 * SUM(toks) * 1000 + COUNT(*)) // (2 * COUNT(*)) AS BIGINT)
      |           AS avg_tokens_milli
      |  FROM f GROUP BY 1)
      |SELECT agg.source, agg.n_docs, agg.n_tokens, agg.n_dup_docs,
      |       agg.avg_tokens_milli, tl.top_lang
      |FROM agg JOIN tl ON agg.source = tl.tsource AND tl.rn = 1
      |ORDER BY agg.source""".stripMargin

  /** #147 (t22): deterministic length-proportional corpus sampling —
    * Madow systematic sampling over the global running character
    * total ([[graft.etl.GlobalOrder]]): a doc is picked once per
    * stride boundary its cumulative span crosses, so inclusion is
    * ∝ n_chars (token-budget-proportional), the draw count is fixed
    * (≈ total/stride), and the whole draw is reproducible — unlike
    * Poisson/reservoir sampling, re-ingesting the corpus can never
    * flip a pick. `n_picks` > 1 = a doc longer than the stride
    * (with-replacement multiplicity, the weighted-sampling analog of
    * oversampling long docs). One pass + the GlobalOrder prefix sum;
    * no global window, no driver-side state. */
  def t22WeightedSample: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
    val step = docs.agg(
      greatest(lit(1L), (sum("n_chars") / 50).cast(LongType)).as("step"))
    graft.etl.GlobalOrder
      .withGlobalSeq(docs, "doc_id", Nil,
        valueCol = Some("n_chars"), runCol = "run_chars")
      .crossJoin(broadcast(step))
      .filter(expr("run_chars div step > (run_chars - n_chars) div step"))
      .select(col("doc_id"), col("n_chars"), col("run_chars"),
        expr("run_chars div step - (run_chars - n_chars) div step")
          .cast(LongType).as("n_picks"))
      .orderBy("doc_id")
  }

  val t22Sql: String =
    """WITH r AS MATERIALIZED (
      |  SELECT doc_id, n_chars,
      |         CAST(SUM(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
      |              AS BIGINT) AS run_chars
      |  FROM documents),
      |s AS MATERIALIZED (
      |  SELECT GREATEST(1, CAST(SUM(n_chars) AS BIGINT) // 50) AS step
      |  FROM documents)
      |SELECT doc_id, n_chars, run_chars,
      |       CAST(run_chars // step - (run_chars - n_chars) // step AS BIGINT)
      |         AS n_picks
      |FROM r CROSS JOIN s
      |WHERE run_chars // step > (run_chars - n_chars) // step
      |ORDER BY doc_id""".stripMargin

  /** #152 (t23): leakage-safe train/valid/test split — t08's id-hash
    * split leaks: two near-duplicate docs can hash into different
    * splits, and the test set then contains paraphrases of training
    * text (the contamination d09 audits for, self-inflicted). Here
    * the split unit is the NEAR-DUP CLUSTER: d06's connected
    * components give every doc a cluster root (singletons root at
    * their own id via the left join), and the t08 hash-bucket rule is
    * applied to the ROOT — every member of a cluster lands in the
    * same split by construction, so cross-split near-dup leakage is
    * structurally impossible, not just statistically unlikely. Same
    * determinism contract as t08: re-ingesting can never flip a
    * split (content-independent md5 of the root id). */
  def t23LeakageSafeSplit: Q = (spark, dir) => {
    // the `_SUCCESS`-gated staged cluster artifact (built once per run,
    // shared with d06/d15) — not an inline re-derivation of the whole
    // pair + component pipeline
    val comp = LlmQueries.clusters(spark, dir)
      .withColumnRenamed("id", "doc_id")
    Tables.documents(spark, dir).select("doc_id")
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("root"))
      .withColumn("bucket", hashBucket(col("root"), 10))
      .withColumn("split",
        when(col("bucket") < 8, "train")
          .when(col("bucket") === 8, "valid").otherwise("test"))
      .select("doc_id", "root", "split")
      .orderBy("doc_id")
  }

  val t23Sql: String =
    """WITH RECURSIVE
      |toks AS (
      |  SELECT doc_id,
      |         string_split(regexp_replace(regexp_replace(trim(lower(text)), '[ \t\n\x0b\f\r]*(feat\.|featuring|ft\.|&|and)[ \t\n\x0b\f\r]*', ';', 'g'), '[ \t\n\x0b\f\r]+', ' ', 'g'), ' ') AS w
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |         CASE WHEN len(w) >= 3
      |              THEN list_distinct(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      |              ELSE list_distinct([array_to_string(w, ' ')]) END AS s
      |  FROM toks),
      |p AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b
      |  FROM sh a JOIN sh b
      |    ON a.doc_id < b.doc_id
      |   AND len(b.s) <= 2 * len(a.s) AND len(a.s) <= 2 * len(b.s)
      |  WHERE len(list_intersect(a.s, b.s)) > 0
      |    AND len(list_intersect(a.s, b.s)) * 2 >= len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))),
      |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
      |n AS (SELECT a AS id FROM e UNION SELECT b FROM e),
      |r(id, reach) AS (
      |  SELECT id, id FROM n
      |  UNION
      |  SELECT r.id, e.b FROM r JOIN e ON r.reach = e.a),
      |c AS (SELECT id, MIN(reach) AS comp FROM r GROUP BY id),
      |ro AS (
      |  SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS root
      |  FROM documents d LEFT JOIN c ON d.doc_id = c.id)
      |SELECT doc_id, root,
      |       CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'valid'
      |            ELSE 'test' END AS split
      |FROM (SELECT doc_id, root,
      |             CAST(('0x' || substr(md5(CAST(root AS VARCHAR)), 1, 8)) AS BIGINT) % 10 AS b
      |      FROM ro)
      |ORDER BY doc_id""".stripMargin

  /** #162 (t24): tokenizer fertility by language — tokens-per-word of
    * the t18-learned BPE vocabulary per language, the standard
    * multilingual-tokenizer evaluation (a language whose fertility is
    * 2× English pays 2× the context budget per word; the signal vocab
    * sizing and mixture weighting read). Composes t21's per-doc
    * (running words, BPE tokens) with the corpus's language column;
    * the ppm ratio is integer floor-division on positive sums, so the
    * oracle (t21's full unrolled SQL as a derived table) stays
    * bit-exact. Shapes: t21's linear token pipeline + one
    * lang-keyed aggregate — nothing new shuffles wide. */
  def t24Fertility: Q = (spark, dir) =>
    t21BpeEncode(spark, dir)
      .join(Tables.documents(spark, dir).select("doc_id", "lang"), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("n_words"),
        sum("n_bpe_tokens").as("n_tokens"))
      .withColumn("fertility_ppm", expr("1000000 * n_tokens div n_words"))
      .orderBy("lang")

  val t24Sql: String =
    s"""SELECT d.lang,
       |       CAST(COUNT(*) AS BIGINT) AS n_docs,
       |       CAST(SUM(t.n_words) AS BIGINT) AS n_words,
       |       CAST(SUM(t.n_bpe_tokens) AS BIGINT) AS n_tokens,
       |       1000000 * CAST(SUM(t.n_bpe_tokens) AS BIGINT)
       |         // CAST(SUM(t.n_words) AS BIGINT) AS fertility_ppm
       |FROM ($t21Sql) t JOIN documents d USING (doc_id)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** #174 (t26): temperature-smoothed language sampling weights — the
    * multilingual mixing rule (mT5/XLM-R style): sampling a language
    * proportional to its raw share p_l starves low-resource languages,
    * so the mixture is drawn from q_l ∝ p_l^α with α < 1. α = 1/2 here,
    * which makes the weight EXACTLY computable: s_l = ⌊√(n_l·10⁶)⌋ is
    * an exact integer in both engines (correctly-rounded IEEE sqrt of
    * an integer < 2⁵² cannot straddle an integer boundary — consecutive
    * squares differ by ≫ 1 ulp), and the ppm weights use the half-up
    * (2a+b) div 2b identity on nonnegative longs. One tiny aggregate +
    * a broadcast 1-row total — no scale surface at all; at 100 TB the
    * lang histogram is still a handful of rows. Emits raw p_ppm beside
    * q_alpha_ppm so the report shows what the temperature bought. */
  def t26AlphaMix: Q = (spark, dir) =>
    alphaMixFromLangCounts(
      Tables.documents(spark, dir)
        .groupBy("lang").agg(count(lit(1)).as("n_docs")))

  /** The t26 kernel over a prepared (lang, n_docs) frame — reused by
    * the streaming budget service, which maintains the counts as
    * state instead of scanning a corpus. */
  private[graft] def alphaMixFromLangCounts(langCounts: DataFrame): DataFrame = {
    val l = langCounts
      .withColumn("s", floor(sqrt(col("n_docs") * 1000000L)).cast(LongType))
    val tot = l.agg(sum("n_docs").as("ntot"), sum("s").as("stot"))
    l.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"),
        expr("(n_docs * 1000000 * 2 + ntot) div (2 * ntot)").as("p_ppm"),
        expr("(s * 1000000 * 2 + stot) div (2 * stot)").as("q_alpha_ppm"))
      .orderBy("lang")
  }

  val t26Sql: String =
    """WITH l AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |         CAST(FLOOR(SQRT(CAST(COUNT(*) * 1000000 AS DOUBLE))) AS BIGINT) AS s
      |  FROM documents GROUP BY lang),
      |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS ntot,
      |             CAST(SUM(s) AS BIGINT) AS stot FROM l)
      |SELECT lang, n_docs,
      |       CAST((n_docs * 1000000 * 2 + ntot) // (2 * ntot) AS BIGINT) AS p_ppm,
      |       CAST((s * 1000000 * 2 + stot) // (2 * stot) AS BIGINT) AS q_alpha_ppm
      |FROM l, t ORDER BY lang""".stripMargin

  /** #175 (t27): vocabulary coverage curve — the tokenizer-sizing
    * report: how many distinct word types does a vocabulary need to
    * cover 50/90/95/99% of all token OCCURRENCES? (The Zipf head/tail
    * tradeoff every BPE budget decision rests on — t18 learns merges,
    * this says how far the learned vocab's coverage can reach.)
    * Frequency ranks and cumulative coverage come from the
    * DISTRIBUTED prefix sum ([[graft.etl.GlobalOrder]], keyed on
    * −count with token as tie-break) — never a single-task
    * `row_number() OVER (ORDER BY …)` window over the whole vocab,
    * which is the q64 scale-killer shape. Threshold hit = first rank
    * whose running total clears num/den of the corpus — exact integer
    * comparisons, single-row output, fully oracled (DuckDB's window
    * runs the same order). Token convention = t05's (normalized,
    * non-empty). */
  def t27VocabCoverage: Q = (spark, dir) => {
    val counts = LlmQueries.normedDocs(spark, dir)
      .select(explode(split(col("text_norm"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("n"))
    val ranked = etl.GlobalOrder.withGlobalSeq(
      counts.withColumn("negn", -col("n")), "negn", ties = Seq("token"),
      valueCol = Some("n"))
    val tot = counts.agg(sum("n").as("total"),
      count(lit(1)).cast(LongType).as("vocab_total"))
    ranked.crossJoin(broadcast(tot))
      .agg(
        min(when(col("run") * 100 >= col("total") * 50, col("seq"))).as("p50_vocab"),
        min(when(col("run") * 100 >= col("total") * 90, col("seq"))).as("p90_vocab"),
        min(when(col("run") * 100 >= col("total") * 95, col("seq"))).as("p95_vocab"),
        min(when(col("run") * 100 >= col("total") * 99, col("seq"))).as("p99_vocab"),
        max("vocab_total").as("vocab_total"),
        max("total").as("tokens_total"))
  }

  val t27Sql: String =
    """WITH tok AS (
      |  SELECT unnest(string_split(regexp_replace(regexp_replace(trim(lower(text)), '[ \t\n\x0b\f\r]*(feat\.|featuring|ft\.|&|and)[ \t\n\x0b\f\r]*', ';', 'g'), '[ \t\n\x0b\f\r]+', ' ', 'g'), ' ')) AS token
      |  FROM documents),
      |c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM tok
      |      WHERE length(token) > 0 GROUP BY token),
      |r AS (SELECT n,
      |             SUM(n) OVER (ORDER BY n DESC, token ASC ROWS UNBOUNDED PRECEDING) AS run,
      |             ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS seq
      |      FROM c),
      |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
      |             CAST(COUNT(*) AS BIGINT) AS vocab FROM c)
      |SELECT CAST(MIN(CASE WHEN run * 100 >= total * 50 THEN seq END) AS BIGINT) AS p50_vocab,
      |       CAST(MIN(CASE WHEN run * 100 >= total * 90 THEN seq END) AS BIGINT) AS p90_vocab,
      |       CAST(MIN(CASE WHEN run * 100 >= total * 95 THEN seq END) AS BIGINT) AS p95_vocab,
      |       CAST(MIN(CASE WHEN run * 100 >= total * 99 THEN seq END) AS BIGINT) AS p99_vocab,
      |       MAX(vocab) AS vocab_total,
      |       MAX(total) AS tokens_total
      |FROM r, t""".stripMargin

  /** #178 (t28): per-source vocabulary coverage — t27's curve grouped
    * by ingest source: the governance view ("does src7 need its own
    * tokenizer budget, or does the shared head cover it?"). The
    * per-source rank threshold is computed WITHOUT any per-source row
    * ordering of the vocabulary: tokens collapse to a (source,
    * count-value) HISTOGRAM first, so the only window runs over
    * distinct count VALUES per source — O(√tokens)-ish rows, orders of
    * magnitude below vocabulary size (the same exchange-shrinking move
    * HistogramRank makes for percentiles). The crossing rank inside a
    * tie-block of equal-count types is pure integer arithmetic
    * (ceil((needed − run_before)/n)) and order-independent, so no
    * token tie-break is ever needed. The arithmetic is guarded to the
    * single crossing block — both engines only ever divide positive
    * integers (Spark `div` truncates, DuckDB `//` floors; they agree
    * only on nonnegative operands, so the guard is correctness, not
    * style). Fully oracled. */
  def t28SourceCoverage: Q = (spark, dir) =>
    coverageByGroup(spark, dir, "source")

  /** The t28 kernel parameterized by the grouping column — reused by
    * t31's per-language budget frame. */
  private[graft] def coverageByGroup(spark: SparkSession, dir: String,
                                     group: String): DataFrame =
    coverageFromTokenCounts(
      LlmQueries.normedDocs(spark, dir)
        .select(col(group), explode(split(col("text_norm"), " ")).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy(group, "token").agg(count(lit(1)).as("n")),
      group)

  /** The coverage kernel over a prepared (group, token, n) count frame
    * — reused by the streaming budget service, whose state IS that
    * frame (per-batch count increments merge losslessly, so the
    * kernel over merged state is bit-identical to the kernel over a
    * full-corpus scan). */
  private[graft] def coverageFromTokenCounts(counts: DataFrame,
                                             group: String): DataFrame = {
    val hist = counts
      .groupBy(group, "n").agg(count(lit(1)).as("n_types"))
      .withColumn("block_tokens", col("n") * col("n_types"))
    val w = Window.partitionBy(group).orderBy(col("n").desc)
    val ranked = hist
      .withColumn("run",
        sum("block_tokens").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("types_before",
        coalesce(sum("n_types").over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .withColumn("run_before", col("run") - col("block_tokens"))
    val tot = hist.groupBy(group).agg(
      sum("block_tokens").as("total"), sum("n_types").as("vocab_total"))
    def vocabAt(p: Int): Column = {
      val needed = expr(s"(total * $p + 99) div 100")
      max(when(col("run") >= needed && col("run_before") < needed,
        col("types_before") +
          expr(s"((total * $p + 99) div 100 - run_before + n - 1) div n")))
        .as(s"p${p}_vocab")
    }
    ranked.join(broadcast(tot), group)
      .groupBy(group)
      .agg(vocabAt(50), vocabAt(90), vocabAt(95), vocabAt(99),
        max("vocab_total").as("vocab_total"), max("total").as("tokens_total"))
      .orderBy(group)
  }

  val t28Sql: String = coverageSql("source")

  private[graft] def coverageSql(group: String): String =
    """WITH tok AS (
      |  SELECT GROUPCOL, unnest(string_split(regexp_replace(regexp_replace(trim(lower(text)), '[ \t\n\x0b\f\r]*(feat\.|featuring|ft\.|&|and)[ \t\n\x0b\f\r]*', ';', 'g'), '[ \t\n\x0b\f\r]+', ' ', 'g'), ' ')) AS token
      |  FROM documents),
      |c AS (SELECT GROUPCOL, token, CAST(COUNT(*) AS BIGINT) AS n FROM tok
      |      WHERE length(token) > 0 GROUP BY 1, 2),
      |h AS (SELECT GROUPCOL, n, CAST(COUNT(*) AS BIGINT) AS n_types,
      |             n * CAST(COUNT(*) AS BIGINT) AS block_tokens
      |      FROM c GROUP BY 1, 2),
      |r AS (SELECT GROUPCOL, n, n_types, block_tokens,
      |             SUM(block_tokens) OVER (PARTITION BY GROUPCOL ORDER BY n DESC ROWS UNBOUNDED PRECEDING) AS run,
      |             COALESCE(SUM(n_types) OVER (PARTITION BY GROUPCOL ORDER BY n DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS types_before
      |      FROM h),
      |t AS (SELECT GROUPCOL, CAST(SUM(block_tokens) AS BIGINT) AS total,
      |             CAST(SUM(n_types) AS BIGINT) AS vocab_total
      |      FROM h GROUP BY 1)
      |SELECT r.GROUPCOL,
      |       CAST(MAX(CASE WHEN run >= (total * 50 + 99) // 100 AND run - block_tokens < (total * 50 + 99) // 100
      |                     THEN types_before + ((total * 50 + 99) // 100 - (run - block_tokens) + n - 1) // n END) AS BIGINT) AS p50_vocab,
      |       CAST(MAX(CASE WHEN run >= (total * 90 + 99) // 100 AND run - block_tokens < (total * 90 + 99) // 100
      |                     THEN types_before + ((total * 90 + 99) // 100 - (run - block_tokens) + n - 1) // n END) AS BIGINT) AS p90_vocab,
      |       CAST(MAX(CASE WHEN run >= (total * 95 + 99) // 100 AND run - block_tokens < (total * 95 + 99) // 100
      |                     THEN types_before + ((total * 95 + 99) // 100 - (run - block_tokens) + n - 1) // n END) AS BIGINT) AS p95_vocab,
      |       CAST(MAX(CASE WHEN run >= (total * 99 + 99) // 100 AND run - block_tokens < (total * 99 + 99) // 100
      |                     THEN types_before + ((total * 99 + 99) // 100 - (run - block_tokens) + n - 1) // n END) AS BIGINT) AS p99_vocab,
      |       MAX(vocab_total) AS vocab_total,
      |       MAX(total) AS tokens_total
      |FROM r JOIN t ON r.GROUPCOL = t.GROUPCOL
      |GROUP BY 1 ORDER BY 1""".stripMargin.replace("GROUPCOL", group)

  /** #182 (t29): Gopher-style quality rule suite (Rae et al. 2021,
    * appendix A1.1 — the public heuristic battery most corpus builds
    * start from): per doc, word count, mean word length, symbol-to-
    * word ratio, alphabetic-word fraction and stopword presence, plus
    * the combined pass verdict. Reported ratios use t16's half-up
    * milli convention; the pass FLAGS deliberately come from
    * cross-multiplied raw integers (3·w ≤ chars ≤ 10·w, 10·sym ≤ w,
    * 5·alpha ≥ 4·w), never from the rounded ratios, so a value on a
    * rounding boundary can't flip a verdict between engines. The
    * line-granular Gopher rules (bullet/ellipsis line fractions) are
    * meaningless on this corpus's single-line documents and are
    * deliberately out; the five doc-granular rules are the suite.
    * The stopword INVENTORY is the corpus's function-word list
    * (t01/t02's convention) rather than Gopher's published English
    * eight — a synthetic-vocabulary corpus would vacuously fail the
    * published list; the ≥2-distinct-stopwords RULE is unchanged.
    * Pure per-row column arithmetic — no shuffle at all; at 100 TB
    * this is a map-only scan, the cheapest possible filter stage. */
  def t29GopherRules: Q = (spark, dir) => {
    import graft.text.TextFunctions.matchCount
    val lo = lower(col("text"))
    val stopHits = Seq("the", "a", "of", "in")
      .map(w => when(matchCount(lo, s"\\b$w\\b") > 0, 1L).otherwise(0L))
      .reduce(_ + _)
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        matchCount(lo, """[a-z0-9]+""").as("n_words"),
        length(regexp_replace(lo, """[^a-z0-9]""", "")).cast(LongType)
          .as("n_word_chars"),
        matchCount(lo, """[a-z0-9]*[a-z][a-z0-9]*""").as("n_alpha_words"),
        matchCount(col("text"), """[#@%&$*]|\.\.\.""").as("n_symbols"),
        stopHits.as("n_stop_types"))
      .withColumn("mean_word_len_milli",
        expr("CASE WHEN n_words = 0 THEN 0 " +
          "ELSE (2 * n_word_chars * 1000 + n_words) div (2 * n_words) END"))
      .withColumn("alpha_word_milli",
        expr("CASE WHEN n_words = 0 THEN 0 " +
          "ELSE (2 * n_alpha_words * 1000 + n_words) div (2 * n_words) END"))
      .withColumn("symbol_ratio_milli",
        expr("CASE WHEN n_words = 0 THEN 0 " +
          "ELSE (2 * n_symbols * 1000 + n_words) div (2 * n_words) END"))
      .withColumn("gopher_pass",
        when(col("n_words") >= 50 && col("n_words") <= 100000 &&
          col("n_word_chars") >= col("n_words") * 3 &&
          col("n_word_chars") <= col("n_words") * 10 &&
          col("n_symbols") * 10 <= col("n_words") &&
          col("n_alpha_words") * 5 >= col("n_words") * 4 &&
          col("n_stop_types") >= 2, 1L).otherwise(0L))
      .orderBy("doc_id")
  }

  val t29Sql: String = {
    val stopSum = Seq("the", "a", "of", "in")
      .map(w => s"CASE WHEN len(regexp_extract_all(lower(text), '\\b$w\\b')) > 0 THEN 1 ELSE 0 END")
      .mkString(" + ")
    """WITH c AS (
      |  SELECT doc_id,
      |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_words,
      |         CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS BIGINT) AS n_word_chars,
      |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]*[a-z][a-z0-9]*')) AS BIGINT) AS n_alpha_words,
      |         CAST(len(regexp_extract_all(text, '[#@%&$*]|\.\.\.')) AS BIGINT) AS n_symbols,
      |         CAST(STOPSUM AS BIGINT) AS n_stop_types
      |  FROM documents)
      |SELECT doc_id, n_words, n_word_chars, n_alpha_words, n_symbols, n_stop_types,
      |       CAST(CASE WHEN n_words = 0 THEN 0
      |                 ELSE (2 * n_word_chars * 1000 + n_words) // (2 * n_words) END AS BIGINT) AS mean_word_len_milli,
      |       CAST(CASE WHEN n_words = 0 THEN 0
      |                 ELSE (2 * n_alpha_words * 1000 + n_words) // (2 * n_words) END AS BIGINT) AS alpha_word_milli,
      |       CAST(CASE WHEN n_words = 0 THEN 0
      |                 ELSE (2 * n_symbols * 1000 + n_words) // (2 * n_words) END AS BIGINT) AS symbol_ratio_milli,
      |       CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
      |                  AND n_word_chars >= n_words * 3 AND n_word_chars <= n_words * 10
      |                  AND n_symbols * 10 <= n_words
      |                  AND n_alpha_words * 5 >= n_words * 4
      |                  AND n_stop_types >= 2 THEN 1 ELSE 0 END AS BIGINT) AS gopher_pass
      |FROM c ORDER BY doc_id""".stripMargin.replace("STOPSUM", stopSum)
  }

  /** #185b (t31): language budget frame — the one governance table a
    * multilingual corpus/tokenizer decision reads: per language, the
    * corpus mass (docs, tokens, vocabulary), the t26
    * temperature-smoothed sampling weight it will train at, and the
    * t28-kernel coverage curve points (how much vocabulary budget its
    * Zipf head needs). A pure composition of two shipped, oracled
    * kernels joined on a configuration-scale key — the report frame is
    * |languages| rows however large the corpus. */
  def t31LangBudget: Q = (spark, dir) =>
    t26AlphaMix(spark, dir)
      .join(coverageByGroup(spark, dir, "lang")
          .select("lang", "p50_vocab", "p90_vocab", "p99_vocab",
            "vocab_total", "tokens_total"),
        Seq("lang"))
      .orderBy("lang")

  val t31Sql: String =
    s"""WITH mix AS ($t26Sql),
       |cov AS (${coverageSql("lang")})
       |SELECT m.lang, m.n_docs, m.p_ppm, m.q_alpha_ppm,
       |       c.p50_vocab, c.p90_vocab, c.p99_vocab,
       |       c.vocab_total, c.tokens_total
       |FROM mix m JOIN cov c USING (lang) ORDER BY m.lang""".stripMargin

  /** #205 (t33): quality-gated weighted sampling — t22's
    * length-proportional systematic draw restricted to the documents
    * that pass t29's Gopher rule suite: the two shipped operators
    * composed the way a curation pipeline actually runs them (filter
    * first, then spend the token budget ∝ length on what survived —
    * giving sampling mass to failing docs and discarding them after
    * would silently shrink the draw). Same distributed prefix sum,
    * same stride arithmetic, same determinism guarantee (re-ingest
    * can never flip a pick); the stride re-derives from the PASSING
    * mass so the draw size stays ~50 regardless of the gate's pass
    * rate. Fully oracled (t29's flags + t22's window recomputed
    * inline over the filtered set). */
  def t33QualitySample: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
      .join(t29GopherRules(spark, dir)
        .filter(col("gopher_pass") === 1L).select("doc_id"), "doc_id")
    val step = docs.agg(
      greatest(lit(1L), (sum("n_chars") / 50).cast(LongType)).as("step"))
    graft.etl.GlobalOrder
      .withGlobalSeq(docs, "doc_id", Nil,
        valueCol = Some("n_chars"), runCol = "run_chars")
      .crossJoin(broadcast(step))
      .filter(expr("run_chars div step > (run_chars - n_chars) div step"))
      .select(col("doc_id"), col("n_chars"), col("run_chars"),
        expr("run_chars div step - (run_chars - n_chars) div step")
          .cast(LongType).as("n_picks"))
      .orderBy("doc_id")
  }

  // lazy: embeds t29Sql
  lazy val t33Sql: String =
    s"""WITH g AS MATERIALIZED ($t29Sql),
       |f AS MATERIALIZED (
       |  SELECT d.doc_id, d.n_chars FROM documents d
       |  JOIN g ON g.doc_id = d.doc_id WHERE g.gopher_pass = 1),
       |r AS MATERIALIZED (
       |  SELECT doc_id, n_chars,
       |         CAST(SUM(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
       |              AS BIGINT) AS run_chars
       |  FROM f),
       |s AS MATERIALIZED (
       |  SELECT GREATEST(1, CAST(SUM(n_chars) AS BIGINT) // 50) AS step FROM f)
       |SELECT doc_id, n_chars, run_chars,
       |       CAST(run_chars // step - (run_chars - n_chars) // step AS BIGINT)
       |         AS n_picks
       |FROM r CROSS JOIN s
       |WHERE run_chars // step > (run_chars - n_chars) // step
       |ORDER BY doc_id""".stripMargin

  /** #210 (t34): quality-gated language weights — t26's
    * temperature-smoothed α-mix recomputed over only the documents
    * that pass t29's Gopher gate: the weights a gated corpus actually
    * trains at (raw-count weights overweight a language whose mass is
    * mostly filtered boilerplate — the gate can shift the mixture
    * materially, and THAT shift is what this report shows next to
    * t26). A language whose docs all fail drops out — correct, the
    * gated corpus has nothing of it to sample. Same exact-integer
    * kernel; fully oracled (t29 flags + t26 arithmetic composed). */
  def t34GatedAlphaMix: Q = (spark, dir) =>
    alphaMixFromLangCounts(
      Tables.documents(spark, dir)
        .join(t29GopherRules(spark, dir)
          .filter(col("gopher_pass") === 1L).select("doc_id"), "doc_id")
        .groupBy("lang").agg(count(lit(1)).as("n_docs")))

  // lazy: embeds t29Sql
  lazy val t34Sql: String =
    s"""WITH g AS MATERIALIZED ($t29Sql),
       |l AS (
       |  SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |         CAST(FLOOR(SQRT(CAST(COUNT(*) * 1000000 AS DOUBLE))) AS BIGINT) AS s
       |  FROM documents d JOIN g ON g.doc_id = d.doc_id
       |  WHERE g.gopher_pass = 1 GROUP BY d.lang),
       |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS ntot,
       |             CAST(SUM(s) AS BIGINT) AS stot FROM l)
       |SELECT lang, n_docs,
       |       CAST((n_docs * 1000000 * 2 + ntot) // (2 * ntot) AS BIGINT) AS p_ppm,
       |       CAST((s * 1000000 * 2 + stot) // (2 * stot) AS BIGINT) AS q_alpha_ppm
       |FROM l, t ORDER BY lang""".stripMargin

  /** #183 (t30): class-balance audit — the label-distribution report a
    * supervised/fine-tuning corpus needs before training (and the
    * input to rebalancing decisions t26 makes for languages): per
    * label, its count and corpus share, its deviation from the uniform
    * share (signed ppm — the rebalancing direction), and two
    * corpus-level columns riding on every row (the label domain is
    * configuration-scale, so the denormalization is free): the label
    * count and the Simpson EFFECTIVE class count
    * n_tot²/Σn_l² (milli, half-up) — 1000·k when perfectly balanced,
    * collapsing toward 1000 as one class dominates; exact in integers,
    * unlike entropy-based effective counts (log is not engine-exact).
    * One tiny aggregate + broadcast 1-row totals; fully oracled. */
  def t30ClassBalance: Q = (spark, dir) => {
    val l = Tables.embeddings(spark, dir)
      .groupBy("label").agg(count(lit(1)).as("n_vecs"))
    val tot = l.agg(sum("n_vecs").as("ntot"),
      count(lit(1)).cast(LongType).as("n_labels"),
      sum(col("n_vecs") * col("n_vecs")).as("sq"))
    l.crossJoin(broadcast(tot))
      .select(col("label").cast(LongType).as("label"), col("n_vecs"),
        expr("(n_vecs * 1000000 * 2 + ntot) div (2 * ntot)").as("share_ppm"),
        expr("(n_vecs * 1000000 * 2 + ntot) div (2 * ntot) " +
          "- (1000000 * 2 + n_labels) div (2 * n_labels)").as("dev_uniform_ppm"),
        col("n_labels"),
        expr("(ntot * ntot * 1000 * 2 + sq) div (2 * sq)").as("simpson_eff_milli"))
      .orderBy("label")
  }

  val t30Sql: String =
    """WITH l AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs
      |           FROM embeddings GROUP BY label),
      |t AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS ntot,
      |             CAST(COUNT(*) AS BIGINT) AS n_labels,
      |             CAST(SUM(n_vecs * n_vecs) AS BIGINT) AS sq FROM l)
      |SELECT CAST(label AS BIGINT) AS label, n_vecs,
      |       CAST((n_vecs * 1000000 * 2 + ntot) // (2 * ntot) AS BIGINT) AS share_ppm,
      |       CAST((n_vecs * 1000000 * 2 + ntot) // (2 * ntot)
      |            - (1000000 * 2 + n_labels) // (2 * n_labels) AS BIGINT) AS dev_uniform_ppm,
      |       n_labels,
      |       CAST((ntot * ntot * 1000 * 2 + sq) // (2 * sq) AS BIGINT) AS simpson_eff_milli
      |FROM l, t ORDER BY label""".stripMargin

  /** #222 (t35): deterministic EPOCH SHUFFLE — the training-data
    * reader's "shuffle differently every epoch, identically on every
    * re-run" contract, as a distributed operator: per epoch, every
    * doc gets a contiguous 1-based position in the order of a
    * per-epoch content-independent hash (first 15 hex digits of
    * md5("<doc_id>:<epoch>") as a 60-bit integer — the t08 bucket
    * idiom widened to an ordering key; `conv(hex,16,10)` ≡ DuckDB
    * `('0x'||hex)::BIGINT`, so the oracle orders by the SAME key).
    * Re-ingesting, repartitioning or re-running can never change an
    * epoch's order (hash of stable ids), while epochs decorrelate
    * completely (the epoch number is inside the hash). The global
    * position comes from [[graft.etl.GlobalOrder.withGlobalSeq]] —
    * the q64 distributed prefix sum, never a single-task whole-table
    * `row_number() OVER (ORDER BY …)` — and the 60-bit key domain is
    * uniform by construction, the exact regime its equal-width
    * buckets balance best. Ties (astronomically rare 60-bit
    * collisions) break on doc_id IN BOTH ENGINES, so the oracle
    * stays exact regardless. Fully oracled. */
  def t35EpochShuffle: Q = (spark, dir) => {
    import graft.etl.GlobalOrder
    val docs = Tables.documents(spark, dir).select("doc_id")
    (0 to 1).map { e =>
      val keyed = docs.withColumn("hk",
        conv(substring(md5(concat_ws(":", col("doc_id"), lit(e))
          .cast(BinaryType)), 1, 15), 16, 10).cast(LongType))
      GlobalOrder.withGlobalSeq(keyed, "hk", Seq("doc_id"), seqCol = "seq")
        .select(lit(e.toLong).as("epoch"), col("seq"), col("doc_id"))
    }.reduce(_ unionByName _).orderBy("epoch", "seq")
  }

  val t35Sql: String =
    """WITH e AS (SELECT * FROM (VALUES (0), (1)) AS t(epoch)),
      |h AS (
      |  SELECT epoch, doc_id,
      |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)), 1, 15)) AS BIGINT) AS hk
      |  FROM documents CROSS JOIN e)
      |SELECT CAST(epoch AS BIGINT) AS epoch,
      |       CAST(row_number() OVER (PARTITION BY epoch ORDER BY hk, doc_id) AS BIGINT) AS seq,
      |       doc_id
      |FROM h ORDER BY epoch, seq""".stripMargin

  /** #227 (t36): curriculum ORDER — train on the highest-quality
    * documents first (curriculum learning's data-ordering half): every
    * doc's contiguous 1-based position under (quality score DESC,
    * doc_id ASC), with the score from t02's integer-exact kernel so
    * the ordering key is engine-exact. The scale hazard is specific:
    * the score domain is BOUNDED (milli points, ≤ ~1500 distinct), so
    * a single band can hold a corpus-scale share of the rows — a
    * window partitioned by score alone serializes that band, and the
    * t35-style composite numeric key degenerates (all mass in few
    * score values). [[graft.etl.GlobalOrder.withBandedGlobalSeq]] is
    * the fix: domain-bounded offsets over the score order + a second
    * doc_id-bucketed prefix level inside each band — full parallelism
    * even when one score holds 90% of the corpus. Fully oracled
    * (DuckDB row_number over the same (score DESC, doc_id) order). */
  def t36CurriculumOrder: Q = (spark, dir) => {
    import graft.etl.GlobalOrder
    import graft.text.TextFunctions._
    val scored = graft.LlmQueries.normedDocs(spark, dir)
      .select(col("doc_id"),
        qualityScoreMilli(wordTokenCount(col("text_norm")),
          stopwordCount(col("text_norm"))).as("score_milli"))
    GlobalOrder.withBandedGlobalSeq(scored, "score_milli", "doc_id",
        coarseDesc = true, seqCol = "rank")
      .select(col("rank"), col("doc_id"), col("score_milli"))
      .orderBy("rank")
  }

  val t36Sql: String =
    """WITH n AS (
      |  SELECT doc_id,
      |         regexp_replace(regexp_replace(trim(lower(text)), '[ \t\n\x0b\f\r]*(feat\.|featuring|ft\.|&|and)[ \t\n\x0b\f\r]*', ';', 'g'), '[ \t\n\x0b\f\r]+', ' ', 'g') AS text_norm
      |  FROM documents),
      |c AS (
      |  SELECT doc_id,
      |         CAST(len(regexp_extract_all(text_norm, '[a-z0-9]+')) AS BIGINT) AS n_tok,
      |         CAST(len(regexp_extract_all(text_norm, '\b(the|a|of|in)\b')) AS BIGINT) AS n_stop
      |  FROM n),
      |s AS (
      |  SELECT doc_id,
      |         CAST(LEAST(100, n_tok) * 10 + LEAST(100, n_stop) * 5 AS BIGINT) AS score_milli
      |  FROM c)
      |SELECT CAST(row_number() OVER (ORDER BY score_milli DESC, doc_id) AS BIGINT) AS rank,
      |       doc_id, score_milli
      |FROM s ORDER BY rank""".stripMargin

  /** #235 (t37): α-weighted mixture ORDER — the operator that turns
    * t26's sampling weights into an ACTUAL deterministic reader
    * order: language l with weight w_l gets ⌊k·w_l/10⁶⌋ of any
    * length-k prefix (±O(1) — the stride/WFQ guarantee, spec-pinned),
    * so a training run that stops early has still consumed the
    * mixture at its target proportions — the property lost when
    * shards are concatenated per source, and left to chance when
    * sampling is random. Mechanism: per-language rank r (the new
    * [[graft.etl.GlobalOrder.withGroupSeq]] — scale-safe when one
    * language holds most of the corpus, exactly t26's low-resource
    * regime), VIRTUAL TIME v = ⌈r·10⁶ / w⌉ (integer ceil-div — each
    * language emits along its own evenly-spaced stride), global
    * position over (v, lang) via the q64 distributed prefix sum.
    * Single-epoch semantics: the bound holds until a language
    * EXHAUSTS its supply (α-smoothing UPWEIGHTS low-resource
    * languages, so they exhaust first — with w > p the stride emits
    * faster than the shelf refills); past that horizon its stride
    * goes silent and the tail drifts toward the surviving languages
    * — the sampled-with-replacement alternative re-reads documents
    * instead, which a single-pass ORDER cannot. Within-language
    * order is doc_id here for oracle clarity; compose with t35's
    * per-epoch hash key upstream for a shuffled stride. All integer
    * → fully oracled. */
  def t37MixtureOrder: Q = (spark, dir) => {
    import graft.etl.GlobalOrder
    val docs = Tables.documents(spark, dir).select("doc_id", "lang")
    val ranked = GlobalOrder.withGroupSeq(docs, "lang", "doc_id",
      seqCol = "lang_rank")
    val w = alphaMixFromLangCounts(
        docs.groupBy("lang").agg(count(lit(1)).as("n_docs")))
      .select(col("lang"), col("q_alpha_ppm"))
    val vt = ranked.join(broadcast(w), Seq("lang"))
      .withColumn("vtime",
        expr("(lang_rank * 1000000 + q_alpha_ppm - 1) div q_alpha_ppm"))
    GlobalOrder.withGlobalSeq(vt, "vtime", Seq("lang"), seqCol = "seq")
      .select(col("seq"), col("doc_id"), col("lang"),
        col("lang_rank"), col("vtime"))
      .orderBy("seq")
  }

  val t37Sql: String =
    """WITH l AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |         CAST(FLOOR(SQRT(CAST(COUNT(*) * 1000000 AS DOUBLE))) AS BIGINT) AS s
      |  FROM documents GROUP BY lang),
      |t AS (SELECT CAST(SUM(s) AS BIGINT) AS stot FROM l),
      |w AS (SELECT lang,
      |             CAST((s * 1000000 * 2 + stot) // (2 * stot) AS BIGINT) AS w
      |      FROM l, t),
      |r AS (SELECT doc_id, lang,
      |             CAST(row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS lang_rank
      |      FROM documents),
      |v AS (SELECT doc_id, r.lang, lang_rank,
      |             (lang_rank * 1000000 + w - 1) // w AS vtime
      |      FROM r JOIN w ON r.lang = w.lang)
      |SELECT CAST(row_number() OVER (ORDER BY vtime, lang) AS BIGINT) AS seq,
      |       doc_id, lang, lang_rank, CAST(vtime AS BIGINT) AS vtime
      |FROM v ORDER BY seq""".stripMargin

  /** #237 (t38): sequence-length bucket audit — the batching-economics
    * report behind length-bucketed batching (every serious trainer
    * pads each batch to a bucket cap, not the corpus max): bucket cap
    * = token count rounded UP to the next multiple of 64 (the
    * tensor-core-friendly granularity; empty docs land in the first
    * bucket), and per bucket the doc count, real token mass, padding
    * tokens burned (cap·n − Σtok) and padding waste in ppm of the
    * padded volume. `baseline_waste_ppm` (same on every row — one
    * broadcast 1-row total) prices the no-bucketing alternative, pad
    * everything to the corpus max: the gap between the two columns is
    * what bucketing buys. One map-side-combinable aggregate over a
    * projection — |buckets| ≤ max_len/64 rows out however large the
    * corpus. Integer-exact, fully oracled. */
  def t38LengthBuckets: Q = (spark, dir) => {
    import graft.text.TextFunctions.whitespaceTokenCount
    val capped = Tables.documents(spark, dir)
      .select(whitespaceTokenCount(col("text")).as("n_tok"))
      .withColumn("bucket_cap",
        expr("((greatest(n_tok, 1L) + 63) div 64) * 64"))
    val buckets = capped.groupBy("bucket_cap")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("token_sum"))
      .withColumn("pad_tokens",
        col("bucket_cap") * col("n_docs") - col("token_sum"))
      .withColumn("waste_ppm",
        expr("(pad_tokens * 1000000) div (bucket_cap * n_docs)"))
    val baseline = capped.agg(
        max("bucket_cap").as("_gcap"), count(lit(1)).as("_gn"),
        sum("n_tok").as("_gtok"))
      .select(expr(
        "((_gcap * _gn - _gtok) * 1000000) div (_gcap * _gn)")
        .as("baseline_waste_ppm"))
    buckets.crossJoin(broadcast(baseline)).orderBy("bucket_cap")
  }

  val t38Sql: String =
    """WITH c AS (
      |  SELECT ((GREATEST(CAST(len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS BIGINT), 1) + 63) // 64) * 64 AS bucket_cap,
      |         CAST(len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS BIGINT) AS n_tok
      |  FROM documents),
      |b AS (
      |  SELECT bucket_cap, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |         CAST(SUM(n_tok) AS BIGINT) AS token_sum
      |  FROM c GROUP BY bucket_cap),
      |g AS (
      |  SELECT CAST(((MAX(bucket_cap) * COUNT(*) - SUM(n_tok)) * 1000000)
      |              // (MAX(bucket_cap) * COUNT(*)) AS BIGINT) AS baseline_waste_ppm
      |  FROM c)
      |SELECT bucket_cap, n_docs, token_sum,
      |       bucket_cap * n_docs - token_sum AS pad_tokens,
      |       CAST(((bucket_cap * n_docs - token_sum) * 1000000)
      |            // (bucket_cap * n_docs) AS BIGINT) AS waste_ppm,
      |       baseline_waste_ppm
      |FROM b, g ORDER BY bucket_cap""".stripMargin

  /** #240a (t39): token-budget SHARD PLAN — the assignment half of
    * sharded corpus export (the artifact a trainer's data loader
    * actually consumes is N roughly-equal-token files, not one table):
    * docs in the t35 epoch-0 hash-shuffle order (shards must be
    * i.i.d.-ish slices of the corpus, not ingest-order runs), global
    * running token total via the q64 distributed prefix sum, and
    * shard = startOffset div budget — the greedy sequence cut that
    * gives every shard ~budget tokens with each doc whole in the
    * shard where it starts. Deterministic, integer-exact, fully
    * oracled; [[graft.sources.Writers.writeShards]] is the sink that
    * materializes this plan with a per-shard manifest. */
  def t39ShardPlan: Q = (spark, dir) => {
    import graft.etl.GlobalOrder
    import graft.text.TextFunctions.whitespaceTokenCount
    val keyed = Tables.documents(spark, dir)
      .select(col("doc_id"), whitespaceTokenCount(col("text")).as("n_tok"))
      .withColumn("hk",
        conv(substring(md5(concat_ws(":", col("doc_id"), lit(0))
          .cast(BinaryType)), 1, 15), 16, 10).cast(LongType))
    GlobalOrder.withGlobalSeq(keyed, "hk", Seq("doc_id"),
        valueCol = Some("n_tok"), seqCol = "seq", runCol = "cum_tok")
      .withColumn("shard", expr("(cum_tok - n_tok) div 1024"))
      .select("seq", "doc_id", "n_tok", "cum_tok", "shard")
      .orderBy("seq")
  }

  val t39Sql: String =
    """WITH h AS (
      |  SELECT doc_id,
      |         CAST(len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS BIGINT) AS n_tok,
      |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 15)) AS BIGINT) AS hk
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, n_tok,
      |         CAST(row_number() OVER (ORDER BY hk, doc_id) AS BIGINT) AS seq,
      |         CAST(SUM(n_tok) OVER (ORDER BY hk, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
      |  FROM h)
      |SELECT seq, doc_id, n_tok, cum_tok, (cum_tok - n_tok) // 1024 AS shard
      |FROM s ORDER BY seq""".stripMargin

  /** #249 (t40): charset / encoding-health audit — the per-source
    * character-class census a corpus ingest gate reads before text
    * filters run (ftfy/CCNet run a repair step precisely because feeds
    * arrive double-encoded; this is the report that says WHICH feed).
    * Per source: docs, chars, and exact per-class character counts
    * (letters, digits, whitespace, punctuation, non-ASCII), plus the
    * two hard encoding-damage signals — U+FFFD replacement characters
    * (the "already lost" marker a decoder leaves) counted via
    * translate (exact char mapping, no regex), and stray C0 control
    * bytes outside \t\n\x0b\f\r (binary-in-text / wrong-charset
    * marker). `ascii_printable_ppm` summarizes; `clean` is the gate
    * bit. One corpus scan, map-side-combinable sums of codegen'd
    * length-diffs, |sources| output rows. On THIS corpus the damage
    * columns are legitimately 0 while the census columns carry the
    * evidence (the m04 lesson: the query's evidence must not hinge on
    * the corpus containing damage); TrainingDataSpec plants damaged
    * fixtures to pin the nonzero paths. Fully oracled — every count is
    * a length-diff both engines compute identically on ASCII classes. */
  def t40CharsetAudit: Q = (spark, dir) =>
    charsetAuditOf(Tables.documents(spark, dir))

  /** t40's kernel over any (source, text) frame — split out so specs
    * can plant encoding-damaged fixtures (the corpus itself is clean
    * ASCII, so the damage columns' nonzero paths need fixtures). */
  /** Exact count of chars matching a regex class — shared by batch
    * t40 and the streaming charset gate so both flag identically. */
  private[graft] def charClassCount(c: Column, pat: String): Column =
    (length(c) - length(regexp_replace(c, pat, ""))).cast(LongType)

  /** U+FFFD occurrences via translate (exact char map, no regex). */
  private[graft] def replCharCount(c: Column): Column =
    (length(c) - length(translate(c, "�", ""))).cast(LongType)

  /** Stray C0 controls outside \t\n\x0b\f\r (binary-in-text marker). */
  private[graft] def ctrlCharCount(c: Column): Column =
    charClassCount(c, "[\\x00-\\x08\\x0e-\\x1f]")

  private[graft] def charsetAuditOf(docs: DataFrame): DataFrame = {
    def classCnt(c: Column, pat: String): Column = charClassCount(c, pat)
    val d = docs.select(
      col("source"),
      length(col("text")).cast(LongType).as("n_chars"),
      classCnt(col("text"), "[A-Za-z]").as("letter"),
      classCnt(col("text"), "[0-9]").as("digit"),
      classCnt(col("text"), "[ \\t\\n\\x0b\\f\\r]").as("ws"),
      classCnt(col("text"), "[!-/:-@\\[-`{-~]").as("punct"),
      classCnt(col("text"), "[^\\x00-\\x7f]").as("nonascii"),
      replCharCount(col("text")).as("repl"),
      ctrlCharCount(col("text")).as("ctrl"))
    d.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("n_chars"),
        sum("letter").as("letter_cnt"),
        sum("digit").as("digit_cnt"),
        sum("ws").as("ws_cnt"),
        sum("punct").as("punct_cnt"),
        sum("nonascii").as("nonascii_cnt"),
        sum("repl").as("repl_cnt"),
        sum("ctrl").as("ctrl_cnt"))
      .withColumn("ascii_printable_ppm",
        expr("(letter_cnt + digit_cnt + ws_cnt + punct_cnt) * 1000000" +
          " div n_chars"))
      .withColumn("clean",
        (col("repl_cnt") === 0 && col("ctrl_cnt") === 0).cast(LongType))
      .orderBy("source")
  }

  val t40Sql: String =
    """WITH d AS (
      |  SELECT source,
      |         CAST(length(text) AS BIGINT) AS n_chars,
      |         CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS letter,
      |         CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS digit,
      |         CAST(length(text) - length(regexp_replace(text, '[ \t\n\x0b\f\r]', '', 'g')) AS BIGINT) AS ws,
      |         CAST(length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS BIGINT) AS punct,
      |         CAST(length(text) - length(regexp_replace(text, '[^\x00-\x7f]', '', 'g')) AS BIGINT) AS nonascii,
      |         CAST(length(text) - length(replace(text, chr(65533), '')) AS BIGINT) AS repl,
      |         CAST(length(text) - length(regexp_replace(text, '[\x00-\x08\x0e-\x1f]', '', 'g')) AS BIGINT) AS ctrl
      |  FROM documents)
      |SELECT source,
      |       CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
      |       CAST(SUM(letter) AS BIGINT) AS letter_cnt,
      |       CAST(SUM(digit) AS BIGINT) AS digit_cnt,
      |       CAST(SUM(ws) AS BIGINT) AS ws_cnt,
      |       CAST(SUM(punct) AS BIGINT) AS punct_cnt,
      |       CAST(SUM(nonascii) AS BIGINT) AS nonascii_cnt,
      |       CAST(SUM(repl) AS BIGINT) AS repl_cnt,
      |       CAST(SUM(ctrl) AS BIGINT) AS ctrl_cnt,
      |       CAST((SUM(letter) + SUM(digit) + SUM(ws) + SUM(punct)) * 1000000 // SUM(n_chars) AS BIGINT) AS ascii_printable_ppm,
      |       CAST(CASE WHEN SUM(repl) = 0 AND SUM(ctrl) = 0 THEN 1 ELSE 0 END AS BIGINT) AS clean
      |FROM d GROUP BY source ORDER BY source""".stripMargin

  /** #264 (t41): Zipf rank-frequency audit — the corpus-naturalness
    * check with not one logarithm in it: under Zipf(α≈1) each
    * power-of-two rank OCTAVE [2^b, 2^{b+1}) carries roughly equal
    * token mass, so the per-octave mass profile IS the log-log slope
    * report, engine-exact in integers (template-heavy or
    * machine-generated corpora surface instantly as a head-heavy /
    * flat profile). Ranking rides the distributed prefix-sum kernel
    * ([[graft.etl.GlobalOrder.withGlobalSeq]], t27's path — never a
    * single-task global window); the octave id is floor(log2(rank))
    * computed EXACTLY as length(bin(rank))−1 on both engines, and the
    * octave head's rank×freq product (the classic Zipf-constant
    * probe) is flagged per row via the power-of-two bit test
    * (seq & (seq−1)) = 0 before grouping. Mass ppm goes through
    * decimal(38)/HUGEINT (mass × 10⁶ overflows BIGINT at 100-TB token
    * counts). Fully oracled. */
  def t41ZipfAudit: Q = (spark, dir) => {
    val counts = LlmQueries.normedDocs(spark, dir)
      .select(explode(split(col("text_norm"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("n"))
    val ranked = etl.GlobalOrder.withGlobalSeq(
      counts.withColumn("negn", -col("n")), "negn", ties = Seq("token"),
      valueCol = Some("n"))
    val tot = counts.agg(sum("n").cast(DecimalType(38, 0)).as("total"))
    ranked
      .withColumn("octave", (length(expr("bin(seq)")) - 1).cast(LongType))
      .withColumn("rf_head",
        when(expr("(seq & (seq - 1)) = 0"), col("seq") * col("n")))
      .groupBy("octave")
      .agg(min("seq").as("rank_lo"), max("seq").as("rank_hi"),
        count(lit(1)).as("n_types"), sum("n").as("mass"),
        max("rf_head").as("rf_head"))
      .crossJoin(broadcast(tot))
      .withColumn("mass_ppm",
        expr("(cast(mass as decimal(38,0)) * 1000000) div total"))
      .select("octave", "rank_lo", "rank_hi", "n_types", "mass",
        "mass_ppm", "rf_head")
      .orderBy("octave")
  }

  val t41Sql: String =
    """WITH tok AS (
      |  SELECT unnest(string_split(regexp_replace(regexp_replace(trim(lower(text)), '[ \t\n\x0b\f\r]*(feat\.|featuring|ft\.|&|and)[ \t\n\x0b\f\r]*', ';', 'g'), '[ \t\n\x0b\f\r]+', ' ', 'g'), ' ')) AS token
      |  FROM documents),
      |c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM tok
      |      WHERE length(token) > 0 GROUP BY token),
      |r AS (SELECT token, n,
      |             ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS seq
      |      FROM c),
      |t AS (SELECT CAST(SUM(n) AS HUGEINT) AS total FROM c),
      |o AS (SELECT CAST(length(bin(seq)) - 1 AS BIGINT) AS octave, seq, n,
      |             CASE WHEN (seq & (seq - 1)) = 0 THEN seq * n END AS rf_head
      |      FROM r)
      |SELECT octave,
      |       CAST(MIN(seq) AS BIGINT) AS rank_lo,
      |       CAST(MAX(seq) AS BIGINT) AS rank_hi,
      |       CAST(COUNT(*) AS BIGINT) AS n_types,
      |       CAST(SUM(n) AS BIGINT) AS mass,
      |       CAST(CAST(SUM(n) AS HUGEINT) * 1000000 // MIN(total) AS BIGINT) AS mass_ppm,
      |       CAST(MAX(rf_head) AS BIGINT) AS rf_head
      |FROM o, t GROUP BY octave ORDER BY octave""".stripMargin

  /** #265 (t42): token burstiness audit (variance-to-mean ratio,
    * Church & Gale 1995) — the dispersion statistic that separates
    * CONTENT words (bursty: absent from most docs, dense where they
    * appear, VMR ≫ 1) from function words (Poisson-ish, VMR ≈ 1);
    * a corpus whose head tokens all sit near VMR 1 is template spam.
    * Exact over the IMPLIED zero-count docs without materializing
    * them: with tot = Σc and ss = Σc² over the docs that contain the
    * token, VMR = var/mean over ALL N docs = (N·ss − tot²)/(N·tot) —
    * pure integers, decimal(38)/HUGEINT products (tot² overflows
    * BIGINT at corpus scale). One (doc, token) aggregate → one token
    * aggregate; the df ≥ 5 floor keeps the report statistical, the
    * deterministic (vmr, token) top-100 keeps it readable. Fully
    * oracled. */
  def t42Burstiness: Q = (spark, dir) => {
    val perDoc = LlmQueries.normedDocs(spark, dir)
      .select(col("doc_id"),
        explode(split(col("text_norm"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
    val nDocs = Tables.documents(spark, dir)
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n_docs"))
    perDoc.groupBy("token")
      .agg(count(lit(1)).as("df"), sum("c").as("tot"),
        sum(col("c") * col("c")).as("ss"))
      .filter(col("df") >= 5)
      .crossJoin(broadcast(nDocs))
      .withColumn("mean_ppm",
        expr("(cast(tot as decimal(38,0)) * 1000000) div n_docs"))
      .withColumn("vmr_ppm",
        expr("((n_docs * cast(ss as decimal(38,0)) - " +
          "cast(tot as decimal(38,0)) * tot) * 1000000) div (n_docs * tot)"))
      .select("token", "df", "tot", "mean_ppm", "vmr_ppm")
      .orderBy(col("vmr_ppm").desc, col("token").asc)
      .limit(100)
  }

  val t42Sql: String =
    """WITH tok AS (
      |  SELECT doc_id,
      |         unnest(string_split(regexp_replace(regexp_replace(trim(lower(text)), '[ \t\n\x0b\f\r]*(feat\.|featuring|ft\.|&|and)[ \t\n\x0b\f\r]*', ';', 'g'), '[ \t\n\x0b\f\r]+', ' ', 'g'), ' ')) AS token
      |  FROM documents),
      |pd AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c FROM tok
      |       WHERE length(token) > 0 GROUP BY 1, 2),
      |nd AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n_docs FROM documents),
      |s AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
      |             CAST(SUM(c) AS BIGINT) AS tot,
      |             CAST(SUM(c * c) AS BIGINT) AS ss
      |      FROM pd GROUP BY token HAVING COUNT(*) >= 5)
      |SELECT token, df, tot,
      |       CAST(CAST(tot AS HUGEINT) * 1000000 // n_docs AS BIGINT) AS mean_ppm,
      |       CAST((n_docs * CAST(ss AS HUGEINT) - CAST(tot AS HUGEINT) * tot) * 1000000
      |            // (n_docs * CAST(tot AS HUGEINT)) AS BIGINT) AS vmr_ppm
      |FROM s, nd
      |ORDER BY vmr_ppm DESC, token ASC LIMIT 100""".stripMargin

  /** #273 (t43): frequency-of-frequencies spectrum — the Good–Turing
    * front end (Good 1953): for each observed token frequency f, how
    * many vocabulary types occur exactly f times. N₁ (hapax count)
    * estimates unseen-mass, N₁/N₂ drives GT discounts, and a
    * spectrum whose low-f counts are DEPRESSED relative to Zipf's
    * t41 profile is the classic near-duplication symptom (dup docs
    * push singletons into higher bins). Two aggregates: token →
    * count, count → type census; the spectrum domain is bounded by
    * √(2·tokens) distinct frequencies (Σf over distinct f ≤ total),
    * so the share windows run over a bounded frame. Vocab/mass
    * shares in ppm through decimal(38)/HUGEINT. Fully oracled. */
  def t43FreqSpectrum: Q = (spark, dir) => {
    val counts = LlmQueries.normedDocs(spark, dir)
      .select(explode(split(col("text_norm"), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("f"))
    val spec = counts.groupBy("f")
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n_types"))
    val wAll = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    spec
      .withColumn("vocab", sum("n_types").over(wAll))
      .withColumn("mass", expr("f * n_types"))
      .withColumn("mass_tot", sum(expr("f * n_types")).over(wAll))
      .select(col("f").as("freq"),
        col("n_types").cast(LongType).as("n_types"),
        col("mass").cast(LongType).as("mass"),
        expr("(n_types * 1000000) div vocab").as("vocab_share_ppm"),
        expr("(mass * 1000000) div mass_tot").as("mass_share_ppm"))
      .orderBy("freq")
  }

  val t43Sql: String =
    """WITH tok AS (
      |  SELECT unnest(string_split(regexp_replace(regexp_replace(trim(lower(text)), '[ \t\n\x0b\f\r]*(feat\.|featuring|ft\.|&|and)[ \t\n\x0b\f\r]*', ';', 'g'), '[ \t\n\x0b\f\r]+', ' ', 'g'), ' ')) AS token
      |  FROM documents),
      |c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS f FROM tok
      |      WHERE length(token) > 0 GROUP BY token),
      |s AS (SELECT f, CAST(COUNT(*) AS HUGEINT) AS n_types FROM c GROUP BY f),
      |w AS (
      |  SELECT f, n_types,
      |         SUM(n_types) OVER () AS vocab,
      |         f * n_types AS mass,
      |         SUM(f * n_types) OVER () AS mass_tot
      |  FROM s)
      |SELECT f AS freq,
      |       CAST(n_types AS BIGINT) AS n_types,
      |       CAST(mass AS BIGINT) AS mass,
      |       CAST((n_types * 1000000) // vocab AS BIGINT) AS vocab_share_ppm,
      |       CAST((mass * 1000000) // mass_tot AS BIGINT) AS mass_share_ppm
      |FROM w ORDER BY freq""".stripMargin

  /** #281 (t44): split-agreement audit — Cohen's κ (Cohen 1960)
    * between the naive per-doc hash split (t08) and the
    * leakage-safe cluster-granular split (t23): the governance
    * number for "how much did leakage-safety actually move?" (κ = 1
    * ⇒ the cluster pass changed nothing; low κ with q?_gini-style
    * margins intact ⇒ big reshuffle). Exact in integers with
    * cross-multiplied rationals: po = agree/N, pe = Σ_k R_k·C_k/N²,
    * κ = (agree·N − Σ R·C)/(N² − Σ R·C), sign-factored per ORACLE.md
    * Rule 4 (a disagreeing split CAN dip below chance), ×10⁶ through
    * decimal(38)/HUGEINT. Shape: one doc_id join of the two split
    * frames → the 3×3 confusion-cell frame, localCheckpointed so the
    * margins/pe/total consumers re-read nine rows instead of
    * re-running the join (the q98 staging trick); every downstream
    * op is domain-bounded. Fully oracled (embeds both splits' SQL,
    * incl. t23's recursive cluster CTE). */
  def t44SplitAgreement: Q = (spark, dir) => {
    val d38 = DecimalType(38, 0)
    val a = t08HashSplit(spark, dir).select(col("doc_id"), col("split").as("sa"))
    val b = t23LeakageSafeSplit(spark, dir)
      .select(col("doc_id"), col("split").as("sb"))
    val cells = a.join(b, Seq("doc_id"))
      .groupBy("sa", "sb").agg(count(lit(1)).cast(d38).as("n"))
      .localCheckpoint()
    val am = cells.groupBy(col("sa").as("k")).agg(sum("n").as("ra"))
    val bm = cells.groupBy(col("sb").as("k")).agg(sum("n").as("cb"))
    val pe = am.join(bm, Seq("k"))
      .agg(sum(expr("ra * cb")).as("epair"))
    val tot = cells.agg(sum("n").as("nn"),
      coalesce(sum(when(col("sa") === col("sb"), col("n"))),
        lit(0).cast(d38)).as("agree"))
    cells.crossJoin(broadcast(pe)).crossJoin(broadcast(tot))
      .select(col("sa").as("split_naive"), col("sb").as("split_safe"),
        col("n").cast(LongType).as("n"),
        expr("(agree * 1000000) div nn").as("po_ppm"),
        expr("(epair * 1000000) div (nn * nn)").as("pe_ppm"),
        when(col("nn") * col("nn") === col("epair"), lit(1000000L))
          .otherwise(
            when(expr("agree * nn - epair") >= 0,
              expr("((agree * nn - epair) * 1000000) div (nn * nn - epair)"))
              .otherwise(
                -expr("((epair - agree * nn) * 1000000) div (nn * nn - epair)")))
          .cast(LongType).as("kappa_ppm"))
      .orderBy("split_naive", "split_safe")
  }

  // lazy: embeds t08Sql and t23Sql (t23 textually below)
  lazy val t44Sql: String =
    s"""WITH a AS ($t08Sql),
       |b AS ($t23Sql),
       |cells AS (
       |  SELECT a.split AS sa, b.split AS sb, CAST(COUNT(*) AS HUGEINT) AS n
       |  FROM a JOIN b ON a.doc_id = b.doc_id GROUP BY 1, 2),
       |am AS (SELECT sa AS k, CAST(SUM(n) AS HUGEINT) AS ra FROM cells GROUP BY 1),
       |bm AS (SELECT sb AS k, CAST(SUM(n) AS HUGEINT) AS cb FROM cells GROUP BY 1),
       |pe AS (SELECT CAST(SUM(ra * cb) AS HUGEINT) AS epair FROM am JOIN bm USING (k)),
       |tot AS (SELECT CAST(SUM(n) AS HUGEINT) AS nn,
       |               CAST(COALESCE(SUM(CASE WHEN sa = sb THEN n END), 0) AS HUGEINT) AS agree
       |        FROM cells)
       |SELECT sa AS split_naive, sb AS split_safe, CAST(n AS BIGINT) AS n,
       |       CAST((agree * 1000000) // nn AS BIGINT) AS po_ppm,
       |       CAST((epair * 1000000) // (nn * nn) AS BIGINT) AS pe_ppm,
       |       CAST(CASE WHEN nn * nn = epair THEN 1000000
       |            WHEN agree * nn - epair >= 0
       |            THEN ((agree * nn - epair) * 1000000) // (nn * nn - epair)
       |            ELSE -(((epair - agree * nn) * 1000000) // (nn * nn - epair)) END AS BIGINT) AS kappa_ppm
       |FROM cells, pe, tot
       |ORDER BY split_naive, split_safe""".stripMargin

  /** #284 (t45): quality-gate Venn — the decision table behind a
    * production keep/drop filter: three shipped gate families
    * (t29's Gopher rule battery, t12's per-language length band,
    * a minimal stopword-presence naturalness floor) evaluated
    * per doc in ONE scan, then collapsed to the 2³ verdict cells
    * with doc counts, token mass and doc-share ppm — "which gate
    * uniquely kills what" (`unique_kill` marks cells where exactly
    * one gate fails: the gates whose removal would change the
    * corpus, the d29 marginal-attribution idea applied to quality).
    * The length band reuses the t12 ExactPercentile kernel
    * (quantile_cont-oracled there), the Gopher columns are t29's
    * own expressions — gate semantics and their source audits agree
    * by construction. Cell-share windows run over ≤8 rows. Fully
    * oracled. */
  def t45GateVenn: Q = (spark, dir) => {
    import graft.functions.ExactPercentile, ExactPercentile.Pct
    val docs = Tables.documents(spark, dir)
    val bands = ExactPercentile.quantiles(docs, Seq("lang"),
      col("n_chars"), valPow = 0, outPow = 3,
      Seq(Pct("lo_milli", 5, 100), Pct("hi_milli", 95, 100)))
    val scored = gateVerdicts(docs.join(broadcast(bands), "lang"))
    val wAll = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    scored.groupBy("g_gopher", "g_len", "g_stop")
      .agg(count(lit(1)).as("n_docs"), sum("n_words").as("n_words"))
      // integer FLOOR division like every sibling share column —
      // Decimal.divide rounds HALF_UP at result scale before the Long
      // cast, so quotients with fractional part ≥ 1−5e-7 would round
      // one ppm above the DuckDB '//' oracle; `div` truncates exactly
      .withColumn("__total",
        sum(col("n_docs").cast(DecimalType(38, 0))).over(wAll))
      .withColumn("doc_share_ppm",
        expr("(cast(n_docs as decimal(38,0)) * 1000000) div __total"))
      .withColumn("unique_kill",
        (col("g_gopher") + col("g_len") + col("g_stop") === 2)
          .cast(LongType))
      .select("g_gopher", "g_len", "g_stop", "n_docs", "n_words",
        "doc_share_ppm", "unique_kill")
      .orderBy("g_gopher", "g_len", "g_stop")
  }

  /** t45's per-doc verdict columns over any frame carrying (text,
    * n_chars, lo_milli, hi_milli) — split out so the STREAMING
    * quality gate (#285) shares the batch audit's exact expressions
    * (gate and audit agree by construction, the t40/#251 contract). */
  private[graft] def gateVerdicts(docsWithBands: DataFrame): DataFrame = {
    import graft.text.TextFunctions.matchCount
    val lo = lower(col("text"))
    val stopHits = Seq("the", "a", "of", "in")
      .map(w => when(matchCount(lo, s"\\b$w\\b") > 0, 1L).otherwise(0L))
      .reduce(_ + _)
    docsWithBands
      .select(col("doc_id"),
        matchCount(lo, """[a-z0-9]+""").as("n_words"),
        length(regexp_replace(lo, """[^a-z0-9]""", "")).cast(LongType)
          .as("n_word_chars"),
        matchCount(lo, """[a-z0-9]*[a-z][a-z0-9]*""").as("n_alpha_words"),
        matchCount(col("text"), """[#@%&$*]|\.\.\.""").as("n_symbols"),
        stopHits.as("n_stop_types"),
        (col("n_chars") * 1000 >= col("lo_milli") &&
          col("n_chars") * 1000 <= col("hi_milli")).cast(LongType)
          .as("g_len"))
      .withColumn("g_gopher",
        when(col("n_words") >= 50 && col("n_words") <= 100000 &&
          col("n_word_chars") >= col("n_words") * 3 &&
          col("n_word_chars") <= col("n_words") * 10 &&
          col("n_symbols") * 10 <= col("n_words") &&
          col("n_alpha_words") * 5 >= col("n_words") * 4 &&
          col("n_stop_types") >= 2, 1L).otherwise(0L))
      .withColumn("g_stop", (col("n_stop_types") >= 1).cast(LongType))
  }

  val t45Sql: String = {
    val stopSum = Seq("the", "a", "of", "in")
      .map(w => s"CASE WHEN len(regexp_extract_all(lower(text), '\\b$w\\b')) > 0 THEN 1 ELSE 0 END")
      .mkString(" + ")
    """WITH b AS (
      |  SELECT lang,
      |         CAST(FLOOR(quantile_cont(n_chars, 0.05) * 1000.0 + 0.5) AS BIGINT) AS lo_milli,
      |         CAST(FLOOR(quantile_cont(n_chars, 0.95) * 1000.0 + 0.5) AS BIGINT) AS hi_milli
      |  FROM documents GROUP BY lang),
      |c AS (
      |  SELECT doc_id,
      |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_words,
      |         CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS BIGINT) AS n_word_chars,
      |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]*[a-z][a-z0-9]*')) AS BIGINT) AS n_alpha_words,
      |         CAST(len(regexp_extract_all(text, '[#@%&$*]|\.\.\.')) AS BIGINT) AS n_symbols,
      |         CAST(STOPSUM AS BIGINT) AS n_stop_types,
      |         CAST(CASE WHEN d.n_chars * 1000 >= b.lo_milli
      |                    AND d.n_chars * 1000 <= b.hi_milli
      |              THEN 1 ELSE 0 END AS BIGINT) AS g_len
      |  FROM documents d JOIN b USING (lang)),
      |g AS (
      |  SELECT *,
      |         CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
      |                    AND n_word_chars >= n_words * 3 AND n_word_chars <= n_words * 10
      |                    AND n_symbols * 10 <= n_words
      |                    AND n_alpha_words * 5 >= n_words * 4
      |                    AND n_stop_types >= 2 THEN 1 ELSE 0 END AS BIGINT) AS g_gopher,
      |         CAST(CASE WHEN n_stop_types >= 1 THEN 1 ELSE 0 END AS BIGINT) AS g_stop
      |  FROM c),
      |cells AS (
      |  SELECT g_gopher, g_len, g_stop,
      |         CAST(COUNT(*) AS BIGINT) AS n_docs,
      |         CAST(SUM(n_words) AS BIGINT) AS n_words
      |  FROM g GROUP BY 1, 2, 3)
      |SELECT g_gopher, g_len, g_stop, n_docs, n_words,
      |       CAST(CAST(n_docs AS HUGEINT) * 1000000 //
      |            SUM(CAST(n_docs AS HUGEINT)) OVER () AS BIGINT) AS doc_share_ppm,
      |       CAST(CASE WHEN g_gopher + g_len + g_stop = 2 THEN 1 ELSE 0 END AS BIGINT) AS unique_kill
      |FROM cells ORDER BY g_gopher, g_len, g_stop""".stripMargin
      .replace("STOPSUM", stopSum)
  }

  /** #288 (t46): cluster-decorrelated training order — near-duplicate
    * cluster members maximally separated in the reader sequence.
    * Training on near-dups back-to-back correlates consecutive
    * gradients (the within-batch redundancy SemDeDup/Lee et al.
    * measure); when soft-dedup KEEPS duplicates (d38's regime), the
    * reader should at least spread them. Deterministic round-robin:
    * every doc gets its rank r within its dedup cluster (t23's staged
    * root convention — singletons are rank 0), and the global order
    * is (r ASC, 60-bit md5 of doc_id, doc_id) — so rank-0 docs (one
    * per cluster) stream first in hash order, then every cluster's
    * second member, etc.: two same-cluster docs are always separated
    * by at least the band of other clusters' members between their
    * ranks. The contiguous seq comes from the distributed banded
    * prefix sum ([[graft.etl.GlobalOrder.withBandedGlobalSeq]]:
    * r is domain-bounded by the max cluster size, the hash key is
    * the parallel axis — never a global row_number window). The
    * within-cluster rank itself is the OTHER skew hazard: t46 exists
    * for the soft-dedup regime where duplicates are deliberately
    * KEPT, so a web-scale boilerplate cluster can hold 10⁸ members —
    * a `row_number OVER (PARTITION BY root)` window would sort that
    * cluster in ONE task. r therefore comes from
    * [[graft.etl.GlobalOrder.withGroupSeq]] (per-root two-pass prefix
    * sum over doc_id-bucketed slices, offsets shuffle-joined — never
    * broadcast: one offset row per cluster is corpus-scale), pinned
    * by an adversarial mega-cluster spec. Fully oracled
    * (recursive-CTE clusters + the same hash in DuckDB). */
  def t46DecorrelatedOrder: Q = (spark, dir) => {
    val roots = Tables.documents(spark, dir).select("doc_id")
      .join(LlmQueries.clusters(spark, dir).withColumnRenamed("id", "doc_id"),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("root"))
    decorrelatedOrder(roots)
  }

  /** The t46 kernel over a prepared (doc_id, root) frame — factored
    * so the adversarial mega-cluster spec can drive it with a planted
    * 20%-of-corpus cluster. */
  private[graft] def decorrelatedOrder(roots: DataFrame): DataFrame = {
    import graft.etl.GlobalOrder
    val ranked = GlobalOrder.withGroupSeq(roots, group = "root",
        fine = "doc_id", seqCol = "_t46_r1", broadcastOffsets = false)
      .withColumn("r", col("_t46_r1") - 1L).drop("_t46_r1")
      .withColumn("hk",
        conv(substring(md5(col("doc_id").cast(StringType)
          .cast(BinaryType)), 1, 15), 16, 10).cast(LongType))
      // materialization barrier: the banded pass below reads this
      // frame in FIVE subplans (coarse counts, two bounds aggregates,
      // bucket partials, the corpus join), each of which would re-run
      // the per-root prefix sum's exchanges + windows + the md5
      // projection (a repartition barrier measured no better — the
      // sibling subplans' exchanges don't unify under AQE); one eager
      // checkpoint runs the groupSeq pass ONCE and every banded
      // subplan reads the materialized blocks (measured 2.93 → 1.53 s
      // at sf0.1 isolated). Block-sized like any exchange of the same
      // frame — no driver collect.
      .localCheckpoint(true)
    // dataScaleCoarse: r's domain is bounded by the LARGEST cluster —
    // corpus-share in the soft-dedup regime t46 exists for — so the
    // coarse prefix must bucket and the offset frames must never
    // broadcast (|domain|-sized)
    GlobalOrder.withBandedGlobalSeq(ranked, coarse = "r", fine = "hk",
        coarseDesc = false, ties = Seq("doc_id"), dataScaleCoarse = true)
      .select(col("seq"), col("doc_id"), col("root"), col("r"))
      .orderBy("seq")
  }

  val t46Sql: String =
    """WITH RECURSIVE
      |toks AS (
      |  SELECT doc_id,
      |         string_split(regexp_replace(regexp_replace(trim(lower(text)), '[ \t\n\x0b\f\r]*(feat\.|featuring|ft\.|&|and)[ \t\n\x0b\f\r]*', ';', 'g'), '[ \t\n\x0b\f\r]+', ' ', 'g'), ' ') AS w
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |         CASE WHEN len(w) >= 3
      |              THEN list_distinct(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      |              ELSE list_distinct([array_to_string(w, ' ')]) END AS s
      |  FROM toks),
      |p AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b
      |  FROM sh a JOIN sh b
      |    ON a.doc_id < b.doc_id
      |   AND len(b.s) <= 2 * len(a.s) AND len(a.s) <= 2 * len(b.s)
      |  WHERE len(list_intersect(a.s, b.s)) > 0
      |    AND len(list_intersect(a.s, b.s)) * 2 >= len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))),
      |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
      |n AS (SELECT a AS id FROM e UNION SELECT b FROM e),
      |r(id, reach) AS (
      |  SELECT id, id FROM n
      |  UNION
      |  SELECT r.id, e.b FROM r JOIN e ON r.reach = e.a),
      |c AS (SELECT id, MIN(reach) AS comp FROM r GROUP BY id),
      |ro AS (
      |  SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS root
      |  FROM documents d LEFT JOIN c ON d.doc_id = c.id),
      |m AS (
      |  SELECT doc_id, root,
      |         CAST(row_number() OVER (PARTITION BY root ORDER BY doc_id) - 1
      |              AS BIGINT) AS r,
      |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
      |              AS BIGINT) AS hk
      |  FROM ro)
      |SELECT CAST(row_number() OVER (ORDER BY r, hk, doc_id) AS BIGINT) AS seq,
      |       doc_id, root, r
      |FROM m ORDER BY seq""".stripMargin

  /** #289 (t47): target-mix resampling plan — the α-smoothed language
    * weights (t26, mT5/XLM-R q_l ∝ p_l^½) MATERIALIZED as per-document
    * integer replication counts: resample the corpus to its own size B
    * at the target mix, so language l draws target_l = ⌊B·q_l⌋ docs.
    * Deterministic systematic assignment (the t22 Madow idea applied
    * per stratum): docs rank within their language by a 60-bit md5
    * hash, every doc gets ⌊target/n⌋ replicas and the first
    * target mod n docs in hash order get one more — Σ n_reps per
    * language equals target_l EXACTLY (spec-pinned), no randomness,
    * re-ingest stable. The per-language rank comes from the banded
    * distributed prefix sum (language is the domain-bounded band —
    * never a per-language row_number window over a corpus-scale
    * partition); weights and offsets are configuration-scale
    * broadcasts. Fully oracled. */
  def t47TargetMixResample: Q = (spark, dir) => {
    import graft.etl.GlobalOrder
    val weights = t26AlphaMix(spark, dir)
      .select("lang", "n_docs", "q_alpha_ppm")
    val targets = weights.crossJoin(
        broadcast(weights.agg(sum("n_docs").as("btot"))))
      .select(col("lang"), col("n_docs"),
        expr("(btot * q_alpha_ppm) div 1000000").as("target"))
    val keyed = Tables.documents(spark, dir).select("lang", "doc_id")
      .withColumn("hk",
        conv(substring(md5(col("doc_id").cast(StringType)
          .cast(BinaryType)), 1, 15), 16, 10).cast(LongType))
    val seqd = GlobalOrder.withBandedGlobalSeq(keyed, coarse = "lang",
      fine = "hk", coarseDesc = false, ties = Seq("doc_id"))
    // per-language 0-based rank = global seq − the language's first
    // seq; offsets via groupBy+broadcast join (config-scale), never an
    // unbounded window over the corpus-scale language partition
    val offs = seqd.groupBy("lang").agg(min("seq").as("lang_lo"))
    seqd.join(broadcast(offs), "lang")
      .withColumn("rank_in_lang", col("seq") - col("lang_lo"))
      .join(broadcast(targets), "lang")
      .select(col("lang"), col("doc_id"), col("rank_in_lang"),
        (expr("target div n_docs") +
          when(col("rank_in_lang") < expr("target % n_docs"), 1L)
            .otherwise(0L)).as("n_reps"))
      .orderBy("lang", "rank_in_lang")
  }

  val t47Sql: String =
    """WITH l AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |         CAST(FLOOR(SQRT(CAST(COUNT(*) * 1000000 AS DOUBLE))) AS BIGINT) AS s
      |  FROM documents GROUP BY lang),
      |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS btot,
      |             CAST(SUM(s) AS BIGINT) AS stot FROM l),
      |tg AS (
      |  SELECT lang, n_docs,
      |         CAST(btot * ((s * 1000000 * 2 + stot) // (2 * stot))
      |              // 1000000 AS BIGINT) AS target
      |  FROM l, t),
      |h AS (
      |  SELECT lang, doc_id,
      |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
      |              AS BIGINT) AS hk
      |  FROM documents),
      |r AS (
      |  SELECT lang, doc_id,
      |         CAST(row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) - 1
      |              AS BIGINT) AS rank_in_lang
      |  FROM h)
      |SELECT r.lang, r.doc_id, r.rank_in_lang,
      |       CAST(tg.target // tg.n_docs +
      |            CASE WHEN r.rank_in_lang < tg.target % tg.n_docs
      |                 THEN 1 ELSE 0 END AS BIGINT) AS n_reps
      |FROM r JOIN tg ON r.lang = tg.lang
      |ORDER BY r.lang, rank_in_lang""".stripMargin

  /** #293 (t48): per-split datasheet — the "datasheets for datasets"
    * split section (d33's per-source sibling): for every
    * (split, lang) cell of the LEAKAGE-SAFE split (t23's root-granular
    * buckets), the doc count, character mass and within-split doc
    * share, plus the certification column the split exists for:
    * `spanning_clusters` counts dedup clusters whose members land in
    * more than one split — ZERO by t23's construction, and this
    * datasheet PROVES it on every run instead of asserting it once in
    * a spec (the number a model card quotes next to its
    * train/valid/test table). One cluster-table join + two
    * configuration-scale aggregates; shares (decimal(38)/HUGEINT
    * floor division) follow the t45 ppm rule. Fully oracled. */
  def t48SplitDatasheet: Q = (spark, dir) => {
    val sp = t23LeakageSafeSplit(spark, dir)
    val cells = sp
      .join(Tables.documents(spark, dir).select("doc_id", "lang", "n_chars"),
        "doc_id")
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
    val spanning = sp.groupBy("root")
      .agg(countDistinct("split").as("ns"))
      .agg(coalesce(sum(when(col("ns") > 1, 1L).otherwise(0L)), lit(0L))
        .as("spanning_clusters"))
    val wS = Window.partitionBy("split")
    cells
      .withColumn("split_docs", sum("n_docs").over(wS))
      .withColumn("doc_ppm_in_split",
        expr("(cast(n_docs as decimal(38,0)) * 1000000) div split_docs")
          .cast(LongType))
      .crossJoin(broadcast(spanning))
      .select("split", "lang", "n_docs", "n_chars", "doc_ppm_in_split",
        "split_docs", "spanning_clusters")
      .orderBy("split", "lang")
  }

  val t48Sql: String =
    """WITH RECURSIVE
      |toks AS (
      |  SELECT doc_id,
      |         string_split(regexp_replace(regexp_replace(trim(lower(text)), '[ \t\n\x0b\f\r]*(feat\.|featuring|ft\.|&|and)[ \t\n\x0b\f\r]*', ';', 'g'), '[ \t\n\x0b\f\r]+', ' ', 'g'), ' ') AS w
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |         CASE WHEN len(w) >= 3
      |              THEN list_distinct(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      |              ELSE list_distinct([array_to_string(w, ' ')]) END AS s
      |  FROM toks),
      |p AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b
      |  FROM sh a JOIN sh b
      |    ON a.doc_id < b.doc_id
      |   AND len(b.s) <= 2 * len(a.s) AND len(a.s) <= 2 * len(b.s)
      |  WHERE len(list_intersect(a.s, b.s)) > 0
      |    AND len(list_intersect(a.s, b.s)) * 2 >= len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))),
      |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
      |n AS (SELECT a AS id FROM e UNION SELECT b FROM e),
      |r(id, reach) AS (
      |  SELECT id, id FROM n
      |  UNION
      |  SELECT r.id, e.b FROM r JOIN e ON r.reach = e.a),
      |c AS (SELECT id, MIN(reach) AS comp FROM r GROUP BY id),
      |ro AS (
      |  SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS root
      |  FROM documents d LEFT JOIN c ON d.doc_id = c.id),
      |sp AS (
      |  SELECT doc_id, root,
      |         CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'valid'
      |              ELSE 'test' END AS split
      |  FROM (SELECT doc_id, root,
      |               CAST(('0x' || substr(md5(CAST(root AS VARCHAR)), 1, 8)) AS BIGINT) % 10 AS b
      |        FROM ro)),
      |cells AS (
      |  SELECT sp.split, d.lang,
      |         CAST(COUNT(*) AS BIGINT) AS n_docs,
      |         CAST(SUM(d.n_chars) AS BIGINT) AS n_chars
      |  FROM sp JOIN documents d ON sp.doc_id = d.doc_id
      |  GROUP BY 1, 2),
      |sc AS (
      |  SELECT CAST(COALESCE(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
      |           AS spanning_clusters
      |  FROM (SELECT root, COUNT(DISTINCT split) AS ns FROM sp GROUP BY 1)),
      |t AS (
      |  SELECT split, lang, n_docs, n_chars,
      |         SUM(n_docs) OVER (PARTITION BY split) AS split_docs
      |  FROM cells)
      |SELECT split, lang, n_docs, n_chars,
      |       CAST(CAST(n_docs AS HUGEINT) * 1000000 // split_docs AS BIGINT)
      |         AS doc_ppm_in_split,
      |       CAST(split_docs AS BIGINT) AS split_docs, spanning_clusters
      |FROM t, sc ORDER BY split, lang""".stripMargin

  /** #294 (t49): shard invalidation plan — right-to-be-forgotten
    * reaching the TRAINER-FACING artifact: q70 audits the relational
    * purge and s19 the vector store; this prices the third surface, a
    * forget set against t39's token-budget shard plan. Per shard: the
    * doc/token census, the forgotten doc/token mass inside it, and the
    * re-export bit — the work order a deletion pipeline executes
    * (re-export exactly the dirty shards through `writeShards`, whose
    * per-shard manifest digests make the swap verifiable; clean shards
    * are untouched, which is the POINT of sharded exports under
    * deletion SLAs: re-export cost is proportional to dirty shards,
    * never the corpus). Forget set = q70's deterministic id-predicate
    * convention. One plan aggregate, shard-keyed; fully oracled. */
  def t49ShardInvalidation: Q = (spark, dir) =>
    t39ShardPlan(spark, dir)
      .withColumn("is_forget", (col("doc_id") % 97 === 0).cast(LongType))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        sum(when(col("is_forget") === 1L, 1L).otherwise(0L))
          .as("n_forget_docs"),
        sum(when(col("is_forget") === 1L, col("n_tok")).otherwise(0L))
          .as("n_forget_tokens"))
      .withColumn("reexport", (col("n_forget_docs") > 0).cast(LongType))
      .select("shard", "n_docs", "n_tokens", "n_forget_docs",
        "n_forget_tokens", "reexport")
      .orderBy("shard")

  val t49Sql: String =
    """WITH h AS (
      |  SELECT doc_id,
      |         CAST(len(regexp_extract_all(text, '[^ \t\n\x0b\f\r]+')) AS BIGINT) AS n_tok,
      |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 15)) AS BIGINT) AS hk
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, n_tok,
      |         CAST(SUM(n_tok) OVER (ORDER BY hk, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
      |  FROM h),
      |p AS (SELECT doc_id, n_tok, (cum_tok - n_tok) // 1024 AS shard FROM s)
      |SELECT shard,
      |       CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      |       CAST(SUM(CASE WHEN doc_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_forget_docs,
      |       CAST(SUM(CASE WHEN doc_id % 97 = 0 THEN n_tok ELSE 0 END) AS BIGINT)
      |         AS n_forget_tokens,
      |       CAST(CASE WHEN SUM(CASE WHEN doc_id % 97 = 0 THEN 1 ELSE 0 END) > 0
      |            THEN 1 ELSE 0 END AS BIGINT) AS reexport
      |FROM p GROUP BY shard ORDER BY shard""".stripMargin

  /** #303c (t50): DSIR-style importance weights — data selection via
    * n-gram importance resampling (Xie et al. NeurIPS 2023): score
    * every document by how much its hashed-n-gram profile looks like a
    * TARGET domain relative to the raw corpus, then sample by the
    * weight. The published estimator is Σ_b c_b·log(p_tgt(b)/p_raw(b));
    * log is banned on the oracle path (ORACLE.md Rule 4 — multi-ulp
    * libm), so this variant scores the LINEAR ratio gap
    * w = Σ_b c_b·(ppm_tgt(b) − ppm_raw(b)) over word BIGRAMS — same
    * sign semantics (positive ⇔ target-like features over-represented)
    * and a total order suitable for top-k selection, exact in
    * integers. The target here is the `lang = 'en'` slice (the
    * "formal text" stand-in the generator provides).
    *
    * Shape (all linear shuffles): explode bigrams once, then key
    * EVERY downstream exchange on the 8-byte `xxhash64(bg)` digest —
    * the d01 rule: the weight never needs the bigram STRING (the
    * output is per-doc), so shuffling raw 2-word strings through the
    * profile/feature groupBys and the profile ⋈ delta join just
    * multiplies the dominant exchanges' byte volume (the r12 ledger
    * read the string variant at exponent 1.15 on the sf0.6→1.0
    * segment — byte-volume growth, not a plan defect; re-keyed, the
    * same chain reads ≤ 1.0). A 64-bit digest collision would merge
    * two bigrams' counts — P ≈ V²/2⁶⁵ for V distinct bigrams (~3%
    * at V = 10⁹), perturbing one scoring heuristic's ppm gap by one
    * feature: acceptable for a selection weight, and the DuckDB
    * oracle (which groups by the string) certifies the digest path
    * exactly at test scale. For a corpus whose weights feed
    * IRREVERSIBLE selection, run [[bigramCollisionAudit]] once at
    * that corpus's scale — distinct(bg) = distinct(digest) certifies
    * the digest keying collision-free for that exact vocabulary (one
    * extra string-keyed distinct, paid once, not per weight run). ONE groupBy(digest) with a conditional
    * target-count (no second pass); the two corpus totals are a 1-row
    * broadcast; ppms by floor division in decimal(38) (a dominant
    * bigram's 10⁶·count can pass 2⁶³ at extreme SF); doc-profile ⋈
    * feature-table on the digest (co-partitioned), then one
    * groupBy(doc). Docs with < 2 words carry weight 0 via the left
    * join.
    *
    * vs t09 (tf-idf salience): t09 ranks terms WITHIN a doc; t50
    * prices a DOC against a target/raw distribution pair — the
    * mixture-curation decision (what to keep) rather than the
    * indexing one (what a doc is about). */
  /** One row per word-bigram OCCURRENCE: (doc_id, lang, bg) — the
    * shared front end of t50's exact weights and the #308 hashed
    * feature producer. Docs under two words contribute nothing. */
  private[graft] def docBigrams(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), col("lang"),
        explode(expr("transform(sequence(1, size(w) - 1), " +
          "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
          .as("bg"))

  /** One-off collision certification for t50's digest keying (the
    * ADVICE r13 recipe): distinct bigram STRINGS vs distinct 64-bit
    * digests over the corpus. Equal counts ⇒ the digest keying is
    * injective on this vocabulary and every t50 weight is exact, not
    * just collision-unlikely. This pays the string-keyed distinct the
    * production path avoids — run it once per corpus before weights
    * feed irreversible selection, not per scoring run. Output: one
    * row (n_bigrams, n_digests, collisions). */
  private[graft] def bigramCollisionAudit(docs: DataFrame): DataFrame =
    docBigrams(docs)
      .agg(countDistinct(col("bg")).as("n_bigrams"),
        countDistinct(xxhash64(col("bg"))).as("n_digests"))
      .select(col("n_bigrams"), col("n_digests"),
        (col("n_bigrams") - col("n_digests")).as("collisions"))

  def t50DsirWeights: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir)
    // the string leaves the plan at the map side: every shuffle below
    // carries the 8-byte digest
    val bi = docBigrams(docs)
      .select(col("doc_id"), col("lang"), xxhash64(col("bg")).as("bgd"))
    val docProfile = bi.groupBy("doc_id", "bgd")
      .agg(count(lit(1)).as("cnt"))
    // totals + delta both consume the feature table; AQE exchange
    // reuse serves the repeated explode+groupBy from one shuffle at
    // runtime (an explicit barrier measured 2x slower at sf0.3)
    val feat = bi.groupBy("bgd").agg(
      count(lit(1)).as("rcnt"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tcnt"))
    val totals = feat.agg(sum("rcnt").as("rtot"), sum("tcnt").as("ttot"))
    val delta = feat.crossJoin(broadcast(totals))
      .select(col("bgd"),
        (expr("(cast(tcnt as decimal(19,0)) * 1000000) div ttot") -
         expr("(cast(rcnt as decimal(19,0)) * 1000000) div rtot"))
          .cast(LongType).as("delta_ppm"))
    val w = docProfile.join(delta, Seq("bgd"))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_bigrams"),
        sum(col("cnt") * col("delta_ppm")).as("weight"))
    docs.select(col("doc_id"))
      .join(w, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("weight"), lit(0L)).as("weight"))
      .orderBy("doc_id")
  }

  /** #308's feature artifact: t50's target-vs-raw ppm gap at HASHED
    * bucket granularity — the published DSIR estimator hashes n-grams
    * into a FIXED bucket count precisely so the parameter vector stays
    * configuration-scale (Xie et al. §2.2: 10k buckets); the exact
    * per-bigram table (t50) is vocabulary-scale and cannot ship to a
    * stream worker, the bucket table is kilobytes and broadcasts.
    * Same integer arithmetic as t50 at bucket granularity:
    * delta_ppm(bucket) = 10⁶·tcnt div ttot − 10⁶·rcnt div rtot.
    * Bucket identity is `pmod(xxhash64(bg), buckets)` — engine-stable,
    * and the SAME expression the scorer applies (one definition). */
  def dsirHashedFeatures(spark: SparkSession, dir: String,
                         buckets: Int = DsirBuckets): DataFrame = {
    val counts = docBigrams(Tables.documents(spark, dir))
      .groupBy(pmod(xxhash64(col("bg")), lit(buckets.toLong)).as("bucket"))
      .agg(count(lit(1)).as("rcnt"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tcnt"))
    // corpus totals fold out of the bucket frame itself — ONE explode
    // pass over the corpus, the totals agg runs on ≤ buckets rows
    counts
      .crossJoin(broadcast(
        counts.agg(sum("rcnt").as("rtot"), sum("tcnt").as("ttot"))))
      .select(col("bucket"),
        (expr("(cast(tcnt as decimal(19,0)) * 1000000) div ttot") -
         expr("(cast(rcnt as decimal(19,0)) * 1000000) div rtot"))
          .cast(LongType).as("delta_ppm"))
  }

  /** Default hashed-DSIR bucket count (#308) — 2¹³, the order the
    * paper uses; the bucket frame is ~64 KiB as a broadcast map. */
  val DsirBuckets = 8192

  /** Adds `weight` (hashed-DSIR score) to `docs` given the broadcast
    * 1-row map frame from [[dsirFeatureMap]]. Shared by the #308
    * stream gate and its batch parity twin — one scoring definition. */
  private[graft] def dsirScore(docs: DataFrame, featMapRow: DataFrame,
                               buckets: Int = DsirBuckets): DataFrame =
    docs.crossJoin(broadcast(featMapRow))
      .withColumn("_dsir_w", split(col("text"), " "))
      .withColumn("_dsir_bgs", when(size(col("_dsir_w")) >= 2,
        expr("transform(sequence(1, size(_dsir_w) - 1), " +
          "i -> concat(element_at(_dsir_w, i), ' ', " +
          "element_at(_dsir_w, i + 1)))"))
        .otherwise(expr("array()")))
      .withColumn("weight",
        expr(s"aggregate(_dsir_bgs, 0L, (acc, b) -> acc + " +
          s"coalesce(element_at(_dsir_map, pmod(xxhash64(b), ${buckets}L)), 0L))"))
      .drop("_dsir_w", "_dsir_bgs", "_dsir_map")

  /** Folds the bucket feature frame into the ONE-row map frame
    * [[dsirScore]] broadcasts: configuration-scale (≤ buckets
    * entries), the deployable parameter vector of the hashed
    * estimator. */
  private[graft] def dsirFeatureMap(features: DataFrame): DataFrame =
    features.agg(map_from_entries(
      collect_list(struct(col("bucket"), col("delta_ppm")))).as("_dsir_map"))

  val t50Sql: String =
    """WITH t AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
      |b AS (
      |  SELECT doc_id, lang,
      |         unnest(list_transform(range(1, len(w)),
      |                               i -> w[i] || ' ' || w[i + 1])) AS bg
      |  FROM t WHERE len(w) >= 2),
      |dp AS (SELECT doc_id, bg, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
      |f AS (
      |  SELECT bg, COUNT(*) AS rcnt,
      |         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tcnt
      |  FROM b GROUP BY 1),
      |tot AS (SELECT SUM(rcnt) AS rtot, SUM(tcnt) AS ttot FROM f),
      |d AS (
      |  SELECT bg,
      |         CAST((CAST(tcnt AS HUGEINT) * 1000000) // ttot
      |              - (CAST(rcnt AS HUGEINT) * 1000000) // rtot AS BIGINT)
      |           AS delta_ppm
      |  FROM f, tot),
      |wq AS (
      |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
      |         CAST(SUM(cnt * delta_ppm) AS BIGINT) AS weight
      |  FROM dp JOIN d USING (bg) GROUP BY 1)
      |SELECT doc_id,
      |       COALESCE(n_bigrams, 0) AS n_bigrams,
      |       COALESCE(weight, 0) AS weight
      |FROM documents LEFT JOIN wq USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** #303d (t51): LZ78 compression-complexity audit — the
    * dictionary-parse phrase count ([[graft.functions.Lz78Phrases]],
    * Lempel & Ziv 1978) as a per-document quality signal: template
    * junk and byte-run spam parse into FEW long phrases, natural text
    * into many short ones — the compression-ratio filter of
    * production corpus pipelines without a codec library's versioned
    * output (the parse is a mathematical function of the bytes).
    * lz_ratio_ppm = 10⁶·phrases div n_bytes; low ⇔ compressible ⇔
    * suspicious. Complements t06 (bigram repetition: one dominant
    * bigram) and t14 (bigram LM: corpus-typical wording) — LZ78 sees
    * LONG-RANGE copies both miss. One codegen'd expression per row,
    * no shuffle until the final per-doc frame; rows-only (no SQL
    * engine computes an incremental parse) with the kernel pinned on
    * hand-computed fixtures in TrainingDataSpec. */
  def t51LzComplexity: Q = (spark, dir) => {
    val docs = Tables.documents(spark, dir)
    docs.select(col("doc_id"),
        octet_length(col("text")).cast(LongType).as("n_bytes"),
        graft.functions.Lz78Phrases.lz78Phrases(col("text")).as("phrases"))
      .withColumn("lz_ratio_ppm",
        when(col("n_bytes") === 0, 0L)
          .otherwise(expr("(1000000 * phrases) div n_bytes")))
      .orderBy("doc_id")
  }

  /** #312 (t52): type-token ratio — lexical diversity per document
    * (the TTR of corpus linguistics; Templin 1957's standard
    * diversity measure): distinct word types over word tokens,
    * plus the distinct-BIGRAM ratio (pairwise diversity — catches a
    * doc cycling a small vocabulary through the same few
    * transitions, which a high unigram TTR can mask). Low TTR ⇔
    * repetitive/templated; complements t06 (one dominant bigram),
    * t16 (word-shape complexity) and t51 (long-range copies) as the
    * VOCABULARY-size axis of the quality battery. Pure per-row array
    * arithmetic (`array_distinct` over the split — no explode, no
    * shuffle until the final sort), integer ppm ratios, fully
    * oracled (DuckDB `list_distinct`). */
  def t52Ttr: Q = (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"),
        size(col("w")).cast(LongType).as("n_tokens"),
        size(array_distinct(col("w"))).cast(LongType).as("n_types"),
        when(size(col("w")) >= 2,
          expr("transform(sequence(1, size(w) - 1), " +
            "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
          .otherwise(expr("array()")).as("bgs"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        size(col("bgs")).cast(LongType).as("n_bigrams"),
        size(array_distinct(col("bgs"))).cast(LongType).as("n_bigram_types"))
      .withColumn("ttr_ppm",
        when(col("n_tokens") === 0, 0L)
          .otherwise(expr("(1000000 * n_types) div n_tokens")))
      .withColumn("bigram_ttr_ppm",
        when(col("n_bigrams") === 0, 0L)
          .otherwise(expr("(1000000 * n_bigram_types) div n_bigrams")))
      .orderBy("doc_id")

  val t52Sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |b AS (
      |  SELECT doc_id,
      |         CAST(len(w) AS BIGINT) AS n_tokens,
      |         CAST(len(list_distinct(w)) AS BIGINT) AS n_types,
      |         CASE WHEN len(w) >= 2
      |              THEN list_transform(range(1, len(w)),
      |                                  i -> w[i] || ' ' || w[i + 1])
      |              ELSE [] END AS bgs
      |  FROM t)
      |SELECT doc_id, n_tokens, n_types,
      |       CAST(len(bgs) AS BIGINT) AS n_bigrams,
      |       CAST(len(list_distinct(bgs)) AS BIGINT) AS n_bigram_types,
      |       CAST(CASE WHEN n_tokens = 0 THEN 0
      |            ELSE (1000000 * n_types) // n_tokens END AS BIGINT)
      |         AS ttr_ppm,
      |       CAST(CASE WHEN len(bgs) = 0 THEN 0
      |            ELSE (1000000 * len(list_distinct(bgs))) // len(bgs)
      |            END AS BIGINT) AS bigram_ttr_ppm
      |FROM b ORDER BY doc_id""".stripMargin

  /** #322 (t53): quality-signal agreement / threshold operating curve
    * — the calibration table between the CONTINUOUS quality heuristic
    * (t02's score_milli) and the RULE battery (t29's gopher_pass),
    * the reliability-diagram idea with every banned-float part
    * replaced by exact integer ppm (Murphy-style calibration, Brier
    * lineage): per 100-milli score bucket, the doc count and the
    * rule-pass count + ppm, and the cumulative operating point "keep
    * every doc scoring ≥ this bucket" — kept volume and kept-set
    * rule-pass purity. This is the table a curator reads to CHOOSE
    * the t02 threshold: where pass_ppm jumps is where the two
    * independently-built signals agree the quality boundary sits,
    * and a bucket where they diverge is a review queue, not a silent
    * cutoff. Shape: two map-only scans join on doc_id, ONE
    * histogram-scale groupBy (score domain ≤ 16 buckets by
    * construction — max score_milli = 100·10 + 100·5 = 1500), then
    * the cumulative window over the BUCKET table only (the q23
    * aggregate-first convention: the single-partition window sees
    * ≤ 16 rows at any corpus size). Fully oracled. */
  def t53QualityAgreement: Q = (spark, dir) => {
    val score = LlmQueries.t02QualityScore(spark, dir)
      .select(col("doc_id"), expr("score_milli div 100").as("bucket"))
    val pass = t29GopherRules(spark, dir)
      .select(col("doc_id"), col("gopher_pass"))
    val per = score.join(pass, "doc_id")
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("gopher_pass").as("n_pass"))
    val w = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per
      .withColumn("kept_docs", sum("n_docs").over(w))
      .withColumn("kept_pass", sum("n_pass").over(w))
      .select(col("bucket"), col("n_docs"), col("n_pass"),
        expr("(1000000 * n_pass) div n_docs").as("pass_ppm"),
        col("kept_docs"), col("kept_pass"),
        expr("(1000000 * kept_pass) div kept_docs").as("kept_pass_ppm"))
      .orderBy("bucket")
  }

  // lazy: composes the t02 and t29 oracle statements verbatim (the
  // s08CandsSql convention) — a future change to either signal's SQL
  // flows into this oracle instead of surfacing as a t53 mismatch
  lazy val t53Sql: String =
    s"""WITH s AS MATERIALIZED (${LlmQueries.t02Sql}),
      |g AS MATERIALIZED ($t29Sql),
      |j AS (
      |  SELECT s.score_milli // 100 AS bucket, g.gopher_pass
      |  FROM s JOIN g USING (doc_id)),
      |per AS (
      |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |         CAST(SUM(gopher_pass) AS BIGINT) AS n_pass
      |  FROM j GROUP BY 1),
      |cum AS (
      |  SELECT *,
      |         CAST(SUM(n_docs) OVER (ORDER BY bucket DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS kept_docs,
      |         CAST(SUM(n_pass) OVER (ORDER BY bucket DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS kept_pass
      |  FROM per)
      |SELECT bucket, n_docs, n_pass,
      |       CAST((1000000 * n_pass) // n_docs AS BIGINT) AS pass_ppm,
      |       kept_docs, kept_pass,
      |       CAST((1000000 * kept_pass) // kept_docs AS BIGINT) AS kept_pass_ppm
      |FROM cum ORDER BY bucket""".stripMargin

  /** #325 (t54): URL canonicalization + registrable-domain dedup
    * census — the curation primitive every web-scale pipeline (CCNet,
    * RefinedWeb, Dolma) runs BEFORE text dedup: collapse the URL-key
    * variants (case, `www.`, default ports, trailing slashes,
    * tracker params, param order, fragments) so URL-keyed dedup,
    * per-domain crawl budgets and provenance share one key, then
    * census the corpus per registrable domain ([[graft.text.Url]]).
    * The driver corpus carries no URL column, so the query SYNTHESIZES
    * a deterministic messy-URL fixture per doc (scheme/case/port/
    * slash/param permutations keyed on doc_id — identically derived
    * in the oracle SQL); the OPERATOR under test is the canonicalizer
    * + domain extraction + census, all regexp/aggregate column
    * arithmetic. Per domain: docs, distinct hosts, distinct CANONICAL
    * urls (< n_docs ⇔ the canonicalizer collapsed variants),
    * whitespace tokens, and exact-dup incidence (docs minus distinct
    * text digests — the d01 key, counted per domain). Linear scan +
    * one domain-keyed groupBy: the 100 TB shape is a map-side-heavy
    * aggregation onto a ~|domains| frame. */
  /** The deterministic messy-URL fixture shared by t54/t55 (the
    * driver corpus has no URL column): scheme/case/port/slash/param
    * permutations keyed on doc_id, identically derived in the oracle
    * SQL ([[syntheticUrlSqlFragment]]). `sub` is an optional
    * subdomain column inserted after the `www.` segment (t55 plants
    * `cdn.` hosts with it to exercise registrable-domain matching on
    * real subdomains; t54 passes an empty literal). */
  private def syntheticUrl(sub: Column): Column = {
    val d = col("doc_id")
    concat(
      when(d % 2 === 0, lit("HTTP://")).otherwise(lit("https://")),
      when(d % 3 === 0, lit("WWW.")).otherwise(lit("")),
      sub,
      when(d % 5 === 0, upper(col("source"))).otherwise(col("source")),
      element_at(array(lit(".com"), lit(".co.uk"), lit(".org"), lit(".io")),
        (d % 4).cast("int") + 1),
      when(d % 6 === 0, lit(":80")).otherwise(lit("")),
      lit("/docs/"), (d % 50).cast("string"),
      when(d % 3 === 1, lit("/")).otherwise(lit("")),
      when(d % 2 === 1, concat(lit("?utm_source=feed&b="),
        (d % 5).cast("string"), lit("&a="), (d % 3).cast("string")))
        .otherwise(lit("")),
      when(d % 9 === 0, lit("#frag")).otherwise(lit("")))
  }

  /** SQL twin of [[syntheticUrl]]; `sub` is a SQL expression string
    * (the t53Sql composed-fragment precedent — one source of truth
    * per engine, parameterized rather than duplicated). */
  private def syntheticUrlSqlFragment(sub: String): String =
    s"""CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'https://' END ||
      |         CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END ||
      |         $sub ||
      |         CASE WHEN doc_id % 5 = 0 THEN upper(source) ELSE source END ||
      |         (['.com','.co.uk','.org','.io'])[CAST(doc_id % 4 AS INTEGER) + 1] ||
      |         CASE WHEN doc_id % 6 = 0 THEN ':80' ELSE '' END ||
      |         '/docs/' || CAST(doc_id % 50 AS VARCHAR) ||
      |         CASE WHEN doc_id % 3 = 1 THEN '/' ELSE '' END ||
      |         CASE WHEN doc_id % 2 = 1
      |              THEN '?utm_source=feed&b=' || CAST(doc_id % 5 AS VARCHAR) ||
      |                   '&a=' || CAST(doc_id % 3 AS VARCHAR)
      |              ELSE '' END ||
      |         CASE WHEN doc_id % 9 = 0 THEN '#frag' ELSE '' END""".stripMargin

  def t54UrlCensus: Q = (spark, dir) => {
    import graft.text.Url._
    val url = syntheticUrl(lit(""))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), url.as("url"))
      .select(col("doc_id"), col("text"),
        canonicalizeUrl(col("url")).as("canon"),
        urlHost(col("url")).as("host"))
      .withColumn("domain", registrableDomain(col("host")))
      .groupBy("domain")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("host")).as("n_hosts"),
        countDistinct(col("canon")).as("n_urls"),
        sum(size(split(col("text"), " ")).cast(LongType)).as("n_tokens"),
        (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dup_docs"))
      .orderBy("domain")
  }

  /** Shared derive chain: `urlDeriveSqlFragment` restates
    * [[graft.text.Url]]'s host/scheme/path/params/domain/canon
    * arithmetic over a CTE named `u` exposing (doc_id, text, url) —
    * composed by t54Sql and t55Sql (the t53Sql precedent: shared SQL
    * built from fragments, never duplicated). */
  private val urlDeriveSqlFragment: String =
    """c AS (
      |  SELECT doc_id, text,
      |         regexp_replace(regexp_replace(
      |           lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
      |           ':(80|443)$', ''), '^www\.', '') AS host,
      |         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |         regexp_replace(
      |           regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
      |           '/+$', '') AS path,
      |         array_to_string(list_sort(list_filter(
      |           string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
      |           x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|fbclid)='))),
      |           '&') AS params
      |  FROM u),
      |k AS (
      |  SELECT doc_id, text, host,
      |         regexp_extract(host,
      |           '([^.]+\.(?:co|com|org|net|ac|gov)\.[a-z]{2}|[^.]+\.[^.]+)$', 1) AS domain,
      |         scheme || '://' || host || path ||
      |           CASE WHEN params <> '' THEN '?' || params ELSE '' END AS canon
      |  FROM c)""".stripMargin

  val t54Sql: String =
    s"""WITH u AS (
      |  SELECT doc_id, text,
      |         ${syntheticUrlSqlFragment("''")} AS url
      |  FROM documents),
      |$urlDeriveSqlFragment
      |SELECT domain,
      |       CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
      |       CAST(COUNT(DISTINCT canon) AS BIGINT) AS n_urls,
      |       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
      |       CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_dup_docs
      |FROM k GROUP BY domain ORDER BY domain""".stripMargin

  /** #329 (t55): domain blocklist / opt-out enforcement — the legal
    * gate every web-corpus pipeline runs after URL canonicalization
    * (robots/opt-out deny lists, publisher takedowns): match each
    * doc's REGISTRABLE domain ([[graft.text.Url.registrableDomain]],
    * so `cdn.src1.com` is covered by a `src1.com` entry — the fixture
    * plants `cdn.` subdomains on doc_id % 7 to exercise exactly that)
    * against a blocklist and split the census by enforcement outcome.
    * The blocklist is joined as a BROADCAST frame, not an `isin`
    * literal: a production deny list is millions of domains — still
    * broadcastable at ~tens of MB — and the plan shape (map-side
    * hash probe, no corpus shuffle before the domain groupBy) is the
    * 100 TB shape. Fully oracled (string/integer arithmetic). */
  def t55DomainBlocklist: Q = (spark, dir) => {
    import graft.text.Url._
    import spark.implicits._
    val bl = Seq("src1.com", "src2.co.uk", "src3.org")
      .toDF("domain").withColumn("blocked0", lit(1L))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        syntheticUrl(when(col("doc_id") % 7 === 0, lit("cdn."))
          .otherwise(lit(""))).as("url"))
      .withColumn("host", urlHost(col("url")))
      .withColumn("domain", registrableDomain(col("host")))
      .join(broadcast(bl), Seq("domain"), "left")
      .withColumn("blocked", coalesce(col("blocked0"), lit(0L)))
      .groupBy("domain", "blocked")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("host")).as("n_hosts"),
        sum(size(split(col("text"), " ")).cast(LongType)).as("n_tokens"))
      .orderBy("domain", "blocked")
  }

  val t55Sql: String =
    s"""WITH u AS (
      |  SELECT doc_id, text,
      |         ${syntheticUrlSqlFragment("CASE WHEN doc_id % 7 = 0 THEN 'cdn.' ELSE '' END")} AS url
      |  FROM documents),
      |$urlDeriveSqlFragment,
      |b AS (
      |  SELECT k.domain, k.host, k.text,
      |         CASE WHEN bl.bdomain IS NULL THEN 0 ELSE 1 END AS blocked
      |  FROM k LEFT JOIN (VALUES ('src1.com'), ('src2.co.uk'), ('src3.org'))
      |         AS bl(bdomain) ON k.domain = bl.bdomain)
      |SELECT domain,
      |       CAST(blocked AS BIGINT) AS blocked,
      |       CAST(COUNT(*) AS BIGINT) AS n_docs,
      |       CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
      |       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |FROM b GROUP BY domain, blocked ORDER BY domain, blocked""".stripMargin

  val catalogue: Seq[Query] = Seq(
    Query("t55_domain_blocklist", t55DomainBlocklist, t55Sql),
    Query("t54_url_census", t54UrlCensus, t54Sql),
    Query("t53_quality_agreement", t53QualityAgreement, t53Sql),
    Query("t52_ttr", t52Ttr, t52Sql),
    Query.rowsOnly("t51_lz_complexity", t51LzComplexity),
    Query("t50_dsir_weights", t50DsirWeights, t50Sql),
    Query("t49_shard_invalidation", t49ShardInvalidation, t49Sql),
    Query("t48_split_datasheet", t48SplitDatasheet, t48Sql),
    Query("t47_target_mix_resample", t47TargetMixResample, t47Sql),
    Query("t46_decorrelated_order", t46DecorrelatedOrder, t46Sql),
    Query("t45_gate_venn", t45GateVenn, t45Sql),
    Query("t44_split_agreement", t44SplitAgreement, t44Sql),
    Query("t43_freq_spectrum", t43FreqSpectrum, t43Sql),
    Query("t41_zipf_audit", t41ZipfAudit, t41Sql),
    Query("t42_burstiness", t42Burstiness, t42Sql),
    Query("t40_charset_audit", t40CharsetAudit, t40Sql),
    Query("t36_curriculum_order", t36CurriculumOrder, t36Sql),
    Query("t37_mixture_order", t37MixtureOrder, t37Sql),
    Query("t38_length_buckets", t38LengthBuckets, t38Sql),
    Query("t39_shard_plan", t39ShardPlan, t39Sql),
    Query("t35_epoch_shuffle", t35EpochShuffle, t35Sql),
    Query("t30_class_balance", t30ClassBalance, t30Sql),
    Query("t33_quality_sample", t33QualitySample, t33Sql),
    Query("t34_gated_alpha_mix", t34GatedAlphaMix, t34Sql),
    Query("t31_lang_budget", t31LangBudget, t31Sql),
    Query("t29_gopher_rules", t29GopherRules, t29Sql),
    Query("t26_alpha_mix", t26AlphaMix, t26Sql),
    Query("t27_vocab_coverage", t27VocabCoverage, t27Sql),
    Query("t28_source_coverage", t28SourceCoverage, t28Sql),
    Query("t24_fertility", t24Fertility, t24Sql),
    Query("t23_leakage_safe_split", t23LeakageSafeSplit, t23Sql),
    Query("t22_weighted_sample", t22WeightedSample, t22Sql),
    Query("t19_corpus_report", t19CorpusReport, t19Sql),
    Query("t18_bpe_merges", t18BpeMerges, t18Sql),
    Query("t21_bpe_encode", t21BpeEncode, t21Sql),
    Query("t17_inverted_index", t17InvertedIndex, t17Sql),
    Query("t16_readability", t16Readability, t16Sql),
    Query("t15_collocations", t15Collocations, t15Sql),
    Query("d12_mixture", d12Mixture, d12Sql),
    Query("t08_hash_split", t08HashSplit, t08Sql),
    Query("d08_chunk", d08Chunk, d08Sql),
    Query("t09_salient_terms", t09SalientTerms, t09Sql),
    Query("d09_contamination", d09Contamination, d09Sql),
    Query("t25_decontam_coverage", t25DecontamCoverage, t25Sql),
    Query("d10_pack", d10Pack, d10Sql),
    Query("t10_stratified_sample", t10StratifiedSample, t10Sql),
    Query("t11_oov_rate", t11OovRate, t11Sql),
    Query("t12_length_outliers", t12LengthOutliers, t12Sql),
    Query("t13_boilerplate", t13Boilerplate, t13Sql),
    Query("t14_lm_score", t14LmScore, t14Sql),
    Query("d11_corpus_pipeline", d11CorpusPipeline, d11Sql))
}
