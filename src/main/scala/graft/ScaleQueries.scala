package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._


import graft.etl.Skew
import graft.functions.{BloomFilter, HeavyHitters}
import graft.sources.{Bucketing, Readers}

/** Scale-technique queries (SURVEY.md §2 #38, #44, #52) — operators
  * whose POINT is the execution strategy (sketching, salting,
  * bucketing), oracle-checked by choosing inputs where the strategy's
  * result provably equals the exact answer:
  *
  *  - q34: SpaceSaving with capacity ≫ the distinct-key count does no
  *    evictions, so the sketch IS the exact top-k.
  *  - q35: a salted join is result-identical to the plain join by
  *    construction (salt only spreads the shuffle).
  *  - q36: a bucketed co-located join is result-identical to the plain
  *    join (bucketing only removes the exchange).
  */
object ScaleQueries {

  // Monetary sums use graft.Exact's scaled-BIGINT convention — see
  // Exact.scala for why DECIMAL output columns can't hash-match.

  /** #52: heavy hitters — SpaceSaving top-10 brands. The brand domain
    * is small and fixed (TPC-H: 25), so capacity 1000 guarantees zero
    * evictions and exact counts at every scale factor; on an unbounded
    * domain the same aggregator keeps the n/capacity guarantee with
    * sketch-sized shuffle instead of a full groupBy. */
  def q34HeavyHitters: Q = (spark, dir) => {
    import spark.implicits._
    val hh = new HeavyHitters(capacity = 1000, k = 10).toColumn.name("hh")
    Tables.part(spark, dir)
      .select(col("p_brand")).as[String]
      .select(hh)
      .toDF("hh")
      .select(explode(col("hh")).as("kv"))
      .select(col("kv._1").as("brand"), col("kv._2").as("n"))
      .orderBy(col("n").desc, col("brand").asc)
  }

  val q34Sql: String =
    """SELECT p_brand AS brand, COUNT(*) AS n
      |FROM part GROUP BY p_brand
      |ORDER BY n DESC, brand LIMIT 10""".stripMargin

  /** #38: skew-salted join — the orders side explodes 8×, the
    * lineitem side salts deterministically from its unique
    * (orderkey, linenumber) id, so the shuffle spreads any hot order
    * key over 8 reducers while the joined rows (and therefore the
    * aggregate) are exactly the plain join's. */
  def q35SaltedJoin: Q = (spark, dir) => {
    val facts = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("okey"), col("l_linenumber"), col("l_extendedprice"))
    val dims = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("okey"), col("o_orderstatus"))
    Skew.saltedJoinBy(facts, dims, "okey",
        saltSource = concat_ws("#", col("okey"), col("l_linenumber")), nSalts = 8)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_lines"), Exact.eSum(col("l_extendedprice"), 2).as("revenue_e2"))
      .orderBy("o_orderstatus")
  }

  val q35Sql: String =
    """SELECT o_orderstatus, COUNT(*) AS n_lines,
      |       CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_e2
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** #44: bucketed co-located join — both sides written bucketed +
    * sorted by the join key, so the join itself needs no exchange and
    * no sort (each task zips matching bucket files). The write is part
    * of the query on purpose: bucketing pays one shuffle once to
    * delete it from every future join. */
  def q36BucketedJoin: Q = (spark, dir) => {
    Bucketing.writeBucketed(
      Tables.lineitem(spark, dir).select("l_orderkey", "l_quantity"),
      "graft_b_lineitem", "l_orderkey", nBuckets = 8)
    Bucketing.writeBucketed(
      Tables.orders(spark, dir)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority")),
      "graft_b_orders", "l_orderkey", nBuckets = 8)
    Bucketing.table(spark, "graft_b_lineitem")
      .join(Bucketing.table(spark, "graft_b_orders"), "l_orderkey")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"), Exact.eSum(col("l_quantity"), 2).as("qty_e2"))
      .orderBy("o_orderpriority")
  }

  val q36Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_lines,
      |       CAST(SUM(CAST(FLOOR(l_quantity * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS qty_e2
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** #81 (q43): incremental aggregation — merge per-partition partial
    * aggregates instead of rescanning history. The two halves stand in
    * for "yesterday's persisted rollup" + "today's new partition";
    * counts and scaled-integer sums are algebraic, so re-aggregating
    * the partials is EXACTLY the direct aggregate over the union — the
    * oracle asserts that identity. At 100 TB this is the difference
    * between an O(day) nightly update and an O(history) rescan; the
    * same property is why Spark's map-side partial aggregation works. */
  def q43IncrementalAgg: Q = (spark, dir) => {
    def half(parity: Int): DataFrame =
      Tables.orders(spark, dir)
        .filter(col("o_orderkey") % 2 === parity)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), Exact.eSum(col("o_totalprice"), 2).as("total_e2"))
    half(0).unionByName(half(1))
      .groupBy("o_orderstatus")
      .agg(sum("n").as("n"), sum("total_e2").as("total_e2"))
      .orderBy("o_orderstatus")
  }

  val q43Sql: String =
    """SELECT o_orderstatus, COUNT(*) AS n,
      |       CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS total_e2
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** #88 (q45): bloom-filter runtime pre-join — the big (fact) side is
    * pre-filtered by a bit-set sketch of the SELECTIVE dimension's join
    * keys before it reaches the shuffle, the explicit form of AQE's
    * InjectRuntimeFilter semi-join reduction. Bloom filters have false
    * positives only, and the real equi-join that follows removes them —
    * so the result provably equals the plain join (the oracle asserts
    * exactly that identity, same trick as q35/q36). At 100 TB the win
    * is the fact shuffle shrinking by the dimension predicate's
    * selectivity (~20% here) with the probe codegen'd into the scan
    * stage; the two build-side actions (count + sketch) touch only the
    * small filtered dimension. */
  def q45BloomPrejoin: Q = (spark, dir) => {
    val dims = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("okey"), col("o_orderdate"))
    val nKeys = math.max(1L, dims.count())
    val bf = BloomFilter.buildLong(dims, "okey", expectedKeys = nKeys, fpp = 0.01)
    val facts = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("okey"), col("l_extendedprice"))
      .filter(BloomFilter.mightContain(col("okey"), bf))
    facts.join(dims, "okey")
      .groupBy(year(col("o_orderdate")).cast("long").as("oyear"))
      .agg(count(lit(1)).as("n_lines"), Exact.eSum(col("l_extendedprice"), 2).as("revenue_e2"))
      .orderBy("oyear")
  }

  val q45Sql: String =
    """SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS oyear, COUNT(*) AS n_lines,
      |       CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_e2
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** #96 (q47): z-order (Morton) layout key — `OPTIMIZE ZORDER BY`'s
    * core: price and order-date quantize to 16 bits each and
    * interleave into one bigint sort key, under which rows close in
    * BOTH dimensions are close in file order. Writing
    * range-partitioned by this key concentrates any 2-D box
    * predicate's rows into few files (ZOrderSpec measures the file
    * count against a 1-D key layout) — the property min/max file
    * skipping needs at 100 TB. The z-value itself is pure bigint
    * shift/mask arithmetic, oracle-checked term for term. */
  def q47ZOrder: Q = (spark, dir) =>
    Tables.orders(spark, dir)
      .withColumn("price_q",
        least(lit(65535L), floor(col("o_totalprice") / 10).cast("long")))
      .withColumn("date_q",
        greatest(lit(0L), datediff(col("o_orderdate"), lit("1992-01-01")).cast("long")))
      .select(col("o_orderkey"),
        graft.functions.ZOrder.zvalue16(col("price_q"), col("date_q")).as("zvalue"))
      .orderBy("o_orderkey")

  val q47Sql: String =
    s"""SELECT o_orderkey,
       |       CAST(${graft.functions.ZOrder.zvalueSql("pq", "dq")} AS BIGINT) AS zvalue
       |FROM (
       |  SELECT o_orderkey,
       |         LEAST(65535, CAST(FLOOR(o_totalprice / 10) AS BIGINT)) AS pq,
       |         GREATEST(0, datediff('day', DATE '1992-01-01', o_orderdate)) AS dq
       |  FROM orders)
       |ORDER BY o_orderkey""".stripMargin

  /** #146 (q64): global sequence + running total
    * ([[graft.etl.GlobalOrder]]) — contiguous 1-based sample indices
    * and a global running balance over ALL customers in c_custkey
    * order, WITHOUT the empty-partition `row_number() OVER (ORDER
    * BY …)` window that funnels the whole table through one task.
    * Deterministic width-bucketed two-pass prefix sum: per-bucket
    * partials, a ≤-nb-row offset frame broadcast back, per-bucket
    * windows. Cents stay integral (round-half-up ×100, the q50
    * convention) so the running total is exact on both engines. */
  def q64GlobalSeq: Q = (spark, dir) => {
    val base = Tables.customer(spark, dir)
      .select(col("c_custkey"),
        round(col("c_acctbal") * 100, 0).cast("long").as("bal_cents"))
    graft.etl.GlobalOrder
      .withGlobalSeq(base, "c_custkey", Nil,
        valueCol = Some("bal_cents"), seqCol = "seq", runCol = "run_cents")
      .select(col("c_custkey"), col("seq"), col("run_cents"))
      .orderBy("c_custkey")
  }

  val q64Sql: String =
    """SELECT c_custkey,
      |       CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT) AS seq,
      |       CAST(SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT))
      |            OVER (ORDER BY c_custkey ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_cents
      |FROM customer
      |ORDER BY c_custkey""".stripMargin

  /** #187 (q74): day-ranged top-k from persisted SpaceSaving artifacts
    * — the q34 consumer a log warehouse actually runs: ONE distributed
    * job folds each ingest day's events into that day's sketch
    * ([[graft.sources.SketchStore.saveTopKGrouped]], buffers stored
    * partitioned by day), and any later "top event types over days
    * X–Y" question is answered by merging the RANGE'S kilobyte buffers
    * under partition pruning — never a history re-scan, and adding
    * day N+1 never touches days 1..N. Oracle-exact by the q34 trick:
    * capacity 64 ≫ the event-type domain means zero evictions, so
    * every merged count is the true count and the report equals the
    * exact grouped top-k over each range (at an unbounded item domain
    * the same artifacts keep the summed Σn/capacity bound —
    * spec-pinned in PropertySpec). At 100 TB: per-day build cost is
    * one map-side-combined shuffle of sketch buffers; per-question
    * cost is |days|·capacity rows. */
  def q74TopkDayRange: Q = (spark, dir) => {
    import graft.sources.SketchStore
    val art = StageRoots.rootFor(dir) + "/topk_byday"
    SketchStore.saveTopKGrouped(
      Tables.events(spark, dir),
      date_format(col("ts"), "yyyy-MM-dd"), col("event_type"),
      capacity = 64, dir = art)
    def range(label: String, pred: org.apache.spark.sql.Column): Seq[(String, String, Long)] =
      SketchStore.mergeTopKGroups(spark, art, k = 3, pred)
        .map { case (item, n) => (label, item, n) }
    import spark.implicits._
    (range("d01_10", col("grp") <= "2024-01-10") ++
     range("d11_30", col("grp") >= "2024-01-11"))
      .toDF("day_range", "event_type", "n")
      .orderBy(col("day_range"), col("n").desc, col("event_type"))
  }

  val q74Sql: String =
    """WITH d AS (SELECT CAST(ts AS DATE) AS day, event_type FROM events),
      |r1 AS (SELECT 'd01_10' AS day_range, event_type, CAST(COUNT(*) AS BIGINT) AS n
      |       FROM d WHERE day <= DATE '2024-01-10'
      |       GROUP BY 2 ORDER BY n DESC, event_type LIMIT 3),
      |r2 AS (SELECT 'd11_30' AS day_range, event_type, CAST(COUNT(*) AS BIGINT) AS n
      |       FROM d WHERE day >= DATE '2024-01-11'
      |       GROUP BY 2 ORDER BY n DESC, event_type LIMIT 3)
      |SELECT * FROM r1 UNION ALL SELECT * FROM r2
      |ORDER BY day_range, n DESC, event_type""".stripMargin

  /** #197 (q76): calendar-week top-k rollup from the SAME per-day
    * SpaceSaving artifacts q74 builds — the granularity question a
    * dashboard asks next ("weekly top event types, all weeks"): day
    * buffers roll up to ISO weeks driver-side
    * ([[graft.sources.SketchStore.mergeTopKRollup]] — sketch-sized
    * rows, never event rows), so ONE day-granular artifact serves
    * every coarser calendar without a re-scan or a second artifact
    * family. Jan 2024 opens on a Monday, so weeks align naturally;
    * the trailing partial week reports like any other (a rollup
    * consumer sees calendar weeks, not windows). Oracle-exact by the
    * same no-eviction argument as q74. */
  def q76TopkWeekly: Q = (spark, dir) => {
    import graft.sources.SketchStore
    val art = StageRoots.rootFor(dir) + "/topk_byday"
    SketchStore.saveTopKGrouped(
      Tables.events(spark, dir),
      date_format(col("ts"), "yyyy-MM-dd"), col("event_type"),
      capacity = 64, dir = art)
    import spark.implicits._
    SketchStore.mergeTopKRollup(spark, art, k = 3, rollup = { day =>
      val d = java.time.LocalDate.parse(day)
      d.minusDays(d.getDayOfWeek.getValue - 1L).toString
    })
      .toDF("week", "event_type", "n")
      .orderBy(col("week"), col("n").desc, col("event_type"))
  }

  val q76Sql: String =
    """WITH d AS (SELECT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS wk,
      |                  event_type FROM events),
      |c AS (SELECT wk, event_type, CAST(COUNT(*) AS BIGINT) AS n
      |      FROM d GROUP BY 1, 2),
      |r AS (SELECT wk, event_type, n,
      |             ROW_NUMBER() OVER (PARTITION BY wk ORDER BY n DESC, event_type) AS rk
      |      FROM c)
      |SELECT CAST(wk AS VARCHAR) AS week, event_type, n
      |FROM r WHERE rk <= 3
      |ORDER BY week, n DESC, event_type""".stripMargin

  /** #198 (q79): day-range exact quantiles from persisted histograms —
    * the quantile member of the artifact-consumer family (q75 drift,
    * q57-from-histogram, q74/q76 top-k): per event type, interpolated
    * p50/p90 of `value` over the CURRENT window (days 16+) computed
    * from per-day (day, type, cents)→count artifacts
    * ([[graft.sources.SketchStore.quantilesFromHistogram]] — exact
    * count addition over the range's kilobyte rows, then the same
    * splittable rank-pick q29 uses; never a re-sort of the window's
    * raw events). Histogram size is bounded by the distinct VALUE
    * domain (cents of a bounded metric), the regime where exact beats
    * a KLL sketch at comparable size. Oracled against
    * `quantile_cont` over the raw filtered events — the identity
    * proving the artifact path is lossless at the milli output
    * scale. */
  def q79QuantilesFromArtifacts: Q = (spark, dir) => {
    import graft.functions.ExactPercentile.Pct
    import graft.sources.SketchStore
    val art = StageRoots.rootFor(dir) + "/value_hists"
    SketchStore.saveHistogram(
      Tables.events(spark, dir)
        .select(to_date(col("ts")).as("day"), col("event_type"), col("value")),
      Seq("day", "event_type"), col("value"), valPow = 2, dir = art,
      partitionCols = Seq("day"))
    val cur = Readers.parquet(spark, art)
      .filter(col("day") >= "2024-01-16")
      .groupBy("event_type", "v").agg(sum("cnt").as("cnt"))
    SketchStore.quantilesFromHistogram(cur, Seq("event_type"),
        valPow = 2, outPow = 3,
        Seq(Pct("p50_value_milli", 50, 100), Pct("p90_value_milli", 90, 100)))
      .orderBy("event_type")
  }

  val q79Sql: String =
    """SELECT event_type,
      |       CAST(ROUND(quantile_cont(value, 0.5) * 1000, 0) AS BIGINT) AS p50_value_milli,
      |       CAST(ROUND(quantile_cont(value, 0.9) * 1000, 0) AS BIGINT) AS p90_value_milli
      |FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-16'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** #204 (q80): top-k CHURN alert — the monitoring consumer on top of
    * q76's weekly rollup: per consecutive week pair, how many items
    * entered, exited, and held in the top-3 (the "your leaderboard
    * changed" signal a drift alert fires on; q58 watches value
    * distributions, this watches RANK composition). Consumes the same
    * per-day sketch artifacts; the week frames are sketch-sized, so
    * the set algebra runs driver-side over ≤ weeks·k rows — at 100 TB
    * the events are never touched, only kilobyte buffers. Oracle-exact
    * in the no-eviction regime (windowed anti-join churn in SQL). */
  def q80TopkChurn: Q = (spark, dir) => {
    import graft.sources.SketchStore
    val art = StageRoots.rootFor(dir) + "/topk_byday"
    SketchStore.saveTopKGrouped(
      Tables.events(spark, dir),
      date_format(col("ts"), "yyyy-MM-dd"), col("event_type"),
      capacity = 64, dir = art)
    val topk = SketchStore.mergeTopKRollup(spark, art, k = 3, rollup = { day =>
      val d = java.time.LocalDate.parse(day)
      d.minusDays(d.getDayOfWeek.getValue - 1L).toString
    }).map { case (wk, it, _) => (wk, it) }
    val weeks = topk.map(_._1).distinct.sorted
    val byWeek = topk.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    import spark.implicits._
    weeks.zip(weeks.drop(1)).map { case (pw, w) =>
      val (cur, prv) = (byWeek(w), byWeek(pw))
      (w, (cur -- prv).size.toLong, (prv -- cur).size.toLong,
        (cur & prv).size.toLong)
    }.toDF("week", "n_entered", "n_exited", "n_common")
      .orderBy("week")
  }

  val q80Sql: String =
    """WITH d AS (SELECT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS wk,
      |                  event_type FROM events),
      |c AS (SELECT wk, event_type, COUNT(*) AS n FROM d GROUP BY 1, 2),
      |r AS (SELECT wk, event_type,
      |             ROW_NUMBER() OVER (PARTITION BY wk ORDER BY n DESC, event_type) AS rk
      |      FROM c),
      |t AS (SELECT wk, event_type FROM r WHERE rk <= 3),
      |w AS (SELECT DISTINCT wk FROM t),
      |p AS (SELECT wk, lag(wk) OVER (ORDER BY wk) AS pw FROM w),
      |ent AS (
      |  SELECT p.wk,
      |         CAST(COUNT(*) FILTER (b.event_type IS NULL) AS BIGINT) AS n_entered,
      |         CAST(COUNT(*) FILTER (b.event_type IS NOT NULL) AS BIGINT) AS n_common
      |  FROM p JOIN t a ON a.wk = p.wk
      |  LEFT JOIN t b ON b.wk = p.pw AND b.event_type = a.event_type
      |  WHERE p.pw IS NOT NULL GROUP BY 1),
      |ex AS (
      |  SELECT p.wk,
      |         CAST(COUNT(*) FILTER (c2.event_type IS NULL) AS BIGINT) AS n_exited
      |  FROM p JOIN t b2 ON b2.wk = p.pw
      |  LEFT JOIN t c2 ON c2.wk = p.wk AND c2.event_type = b2.event_type
      |  WHERE p.pw IS NOT NULL GROUP BY 1)
      |SELECT CAST(ent.wk AS VARCHAR) AS week, n_entered, n_exited, n_common
      |FROM ent JOIN ex USING (wk) ORDER BY week""".stripMargin

  /** #214 (q83): weekly quantile TREND from the day histograms — the
    * time-series member of the artifact-consumer family: per (ISO
    * week, event type), the interpolated median of `value`, computed
    * by rolling the q79 day artifacts up to weeks with plain count
    * addition and running the splittable rank-pick per (week, type)
    * group. The "is the median drifting week over week" panel beside
    * q80's rank churn and q75's distribution distance — three
    * monitors, ONE artifact family, zero event re-scans. Oracled
    * against `quantile_cont` over the raw events grouped the same
    * way. */
  def q83QuantileTrend: Q = (spark, dir) => {
    import graft.functions.ExactPercentile.Pct
    import graft.sources.SketchStore
    val art = StageRoots.rootFor(dir) + "/value_hists"
    SketchStore.saveHistogram(
      Tables.events(spark, dir)
        .select(to_date(col("ts")).as("day"), col("event_type"), col("value")),
      Seq("day", "event_type"), col("value"), valPow = 2, dir = art,
      partitionCols = Seq("day"))
    val weekly = Readers.parquet(spark, art)
      .withColumn("week",
        date_format(date_trunc("week", col("day")), "yyyy-MM-dd"))
      .groupBy("week", "event_type", "v").agg(sum("cnt").as("cnt"))
    SketchStore.quantilesFromHistogram(weekly, Seq("week", "event_type"),
        valPow = 2, outPow = 3, Seq(Pct("p50_value_milli", 50, 100)))
      .orderBy("week", "event_type")
  }

  val q83Sql: String =
    """SELECT CAST(CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS VARCHAR) AS week,
      |       event_type,
      |       CAST(ROUND(quantile_cont(value, 0.5) * 1000, 0) AS BIGINT) AS p50_value_milli
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** #223 (q87): day-ranged point-frequency estimates from persisted
    * count-min artifacts — the sketch family's third member beside
    * SpaceSaving top-k (q74) and HLL distinct (q71): "how many events
    * did THIS user generate over days X–Y?" for arbitrary users,
    * including ones far below the heavy-hitter cutoff that q74's
    * sketch has evicted (the quota/abuse/billing point lookup).
    * Per-day CMS binaries build in ONE distributed job
    * ([[graft.sources.SketchStore.saveCmsGrouped]], partitioned by
    * day); the range answer merges the pruned days' kilobyte grids by
    * cell-wise addition and reads point estimates — never an event
    * re-scan. The probe set here is the deterministic user_id % 29
    * slice (population-bounded driver list; production passes
    * whatever ids the quota check cares about). Estimates never
    * undercount and overcount ≤ eps·N(range) at 99% confidence —
    * approximate by design, so rows-only; SourcesSpec pins
    * merged-parts ≡ direct, the never-undercount direction, and the
    * eps·N band against exact counts. */
  def q87CmsFreq: Q = (spark, dir) => {
    import graft.sources.SketchStore
    import spark.implicits._
    val art = StageRoots.rootFor(dir) + "/cms_byday"
    SketchStore.saveCmsGrouped(
      Tables.events(spark, dir),
      date_format(col("ts"), "yyyy-MM-dd"), col("user_id"),
      dir = art)
    val probes = Tables.events(spark, dir)
      .select(col("user_id")).filter(col("user_id") % 29 === 0)
      .distinct().as[Long].collect().sorted.map(_.toString).toSeq
    val (ests, n) = SketchStore.cmsEstimates(spark, art,
      col("grp") <= "2024-01-10", probes)
    ests.toDF("user_id", "est_n")
      .select(col("user_id").cast("long").as("user_id"), col("est_n"),
        lit(n).as("range_n"))
      .orderBy("user_id")
  }

  /** #233 (q88): CDC-aware count-min — point-frequency estimates that
    * survive a forget-set purge WITHOUT rebuilding from the retained
    * corpus. q87's binary sketches are increment-only: the day q70's
    * erasure cascade reaches the events table, their grids silently
    * overcount forever (or pay an O(corpus) rebuild). The cell-grid
    * representation ([[graft.sources.SketchStore.cmsCells]]) is
    * LINEAR, so the purge folds in as a weight −1 grid over JUST the
    * forgotten users' events — O(forget-set), the same asymmetry as
    * the tombstone path in [[graft.sim.AnnIndex.delete]] — and the
    * decremented grid is bit-identical to a from-scratch rebuild over
    * the retained events (the linearity the spec pins). Output: per
    * probe user (the % 3 slice), the exact retained count, the grid
    * estimate, and the overcount — a forgotten probe user's exact is
    * 0 and any positive estimate is pure collision residue, which the
    * one-sided bound prices. FULLY oracled: the md5 cell hash is
    * engine-portable (t08's idiom), so DuckDB rebuilds the identical
    * grid and the integer estimates hash-match. */
  def q88CmsCdc: Q = (spark, dir) => {
    import graft.sources.SketchStore
    val ev = Tables.events(spark, dir).select("user_id")
    // full-history grid + weight −1 grid over the forgotten slice;
    // production keeps the first as the stored artifact and pays only
    // the second at purge time
    val grid = SketchStore.cmsCellsMerge(
      SketchStore.cmsCells(ev, col("user_id")),
      SketchStore.cmsCells(ev.filter(col("user_id") % 13 === 0),
        col("user_id"), lit(-1L)))
    val probes = ev.filter(col("user_id") % 3 === 0).distinct()
    val exact = ev.filter(col("user_id") % 13 =!= 0)
      .groupBy("user_id").agg(count(lit(1)).as("exact_n"))
    SketchStore.cmsCellEstimates(probes, col("user_id"), grid)
      .select(col("it").cast("long").as("user_id"), col("est_n"))
      .join(exact, Seq("user_id"), "left")
      .select(col("user_id"),
        coalesce(col("exact_n"), lit(0L)).as("exact_n"),
        col("est_n"),
        (col("est_n") - coalesce(col("exact_n"), lit(0L))).as("over_n"))
      .orderBy("user_id")
  }

  val q88Sql: String =
    """WITH ev AS (SELECT user_id FROM events),
      |r AS (SELECT * FROM (VALUES (0), (1), (2), (3)) t(r)),
      |cells AS (
      |  SELECT r,
      |         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':' || CAST(r AS VARCHAR)), 1, 8)) AS BIGINT) % 512 AS c,
      |         CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM ev CROSS JOIN r
      |  WHERE user_id % 13 <> 0
      |  GROUP BY 1, 2),
      |pr AS (
      |  SELECT p.user_id, r.r,
      |         CAST(('0x' || substr(md5(CAST(p.user_id AS VARCHAR) || ':' || CAST(r.r AS VARCHAR)), 1, 8)) AS BIGINT) % 512 AS c
      |  FROM (SELECT DISTINCT user_id FROM ev WHERE user_id % 3 = 0) p
      |  CROSS JOIN r),
      |est AS (
      |  SELECT user_id, MIN(COALESCE(cells.cnt, 0)) AS est_n
      |  FROM pr LEFT JOIN cells USING (r, c) GROUP BY 1),
      |ex AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
      |  FROM ev WHERE user_id % 13 <> 0 GROUP BY 1)
      |SELECT est.user_id,
      |       COALESCE(ex.exact_n, 0) AS exact_n,
      |       est.est_n,
      |       est.est_n - COALESCE(ex.exact_n, 0) AS over_n
      |FROM est LEFT JOIN ex USING (user_id)
      |ORDER BY est.user_id""".stripMargin

  /** #248 (q94): pre-flight join-size estimation from count-min cell
    * grids — the CM inner-product estimator (Cormode & Muthukrishnan,
    * J. Algorithms '05, §4.2): `est = min_r Σ_c A[r,c]·B[r,c]` never
    * undercounts the true equi-join cardinality `Σ_k f_A(k)·f_B(k)`
    * and overcounts by ≤ (e/w)·N_A·N_B per row in expectation. This is
    * the operator a planner runs BEFORE a corpus-scale join to price
    * its shuffle (the cardinality sibling of the q62 skew audit): both
    * grids are depth×width kilobyte frames built in one grouped pass
    * each — production reads them from [[graft.sources.SketchStore]]'s
    * persisted day grids and merges linearly, so the estimate costs
    * metadata, never a dry run of the join. The demo prices
    * events.user_id ⨝ orders.o_custkey and emits estimate, exact and
    * collision residue side by side. Cell products widen through
    * DECIMAL(38,0)/HUGEINT: at 10⁸ rows per side one cell product
    * reaches ~4·10¹⁶ and a 512-cell row sum wraps a Long silently.
    * FULLY oracled — the md5 cell hash is engine-portable (q88's
    * idiom), so DuckDB rebuilds both grids bit-identically. */
  def q94JoinSizeCms: Q = (spark, dir) => {
    import graft.sources.SketchStore
    import org.apache.spark.sql.types.LongType
    val a = SketchStore.cmsCells(
      Tables.events(spark, dir).select("user_id"), col("user_id"))
      .withColumnRenamed("cnt", "cnt_a")
    val b = SketchStore.cmsCells(
      Tables.orders(spark, dir).select("o_custkey"), col("o_custkey"))
      .withColumnRenamed("cnt", "cnt_b")
    val est = a.join(b, Seq("r", "c"))
      .groupBy("r")
      .agg(sum(expr("CAST(cnt_a AS DECIMAL(38,0)) * cnt_b")).as("ip"))
      .agg(min(col("ip")).cast(LongType).as("est_n"))
    val fa = Tables.events(spark, dir)
      .groupBy(col("user_id").as("k")).agg(count(lit(1)).as("n_a"))
    val fb = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("n_b"))
    val exact = fa.join(fb, Seq("k"))
      .agg(coalesce(sum(expr("CAST(n_a AS DECIMAL(38,0)) * n_b")), lit(0))
        .cast(LongType).as("exact_n"))
    est.crossJoin(broadcast(exact))
      .select(col("est_n"), col("exact_n"),
        (col("est_n") - col("exact_n")).as("over_n"))
  }

  val q94Sql: String =
    """WITH r AS (SELECT * FROM (VALUES (0), (1), (2), (3)) t(r)),
      |a AS (
      |  SELECT r,
      |         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':' || CAST(r AS VARCHAR)), 1, 8)) AS BIGINT) % 512 AS c,
      |         CAST(COUNT(*) AS HUGEINT) AS cnt_a
      |  FROM events CROSS JOIN r GROUP BY 1, 2),
      |b AS (
      |  SELECT r,
      |         CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR) || ':' || CAST(r AS VARCHAR)), 1, 8)) AS BIGINT) % 512 AS c,
      |         CAST(COUNT(*) AS HUGEINT) AS cnt_b
      |  FROM orders CROSS JOIN r GROUP BY 1, 2),
      |ip AS (
      |  SELECT a.r, SUM(cnt_a * cnt_b) AS ip
      |  FROM a JOIN b ON a.r = b.r AND a.c = b.c GROUP BY 1),
      |e AS (SELECT CAST(MIN(ip) AS BIGINT) AS est_n FROM ip),
      |fa AS (SELECT user_id AS k, CAST(COUNT(*) AS HUGEINT) AS n_a
      |       FROM events GROUP BY 1),
      |fb AS (SELECT o_custkey AS k, CAST(COUNT(*) AS HUGEINT) AS n_b
      |       FROM orders GROUP BY 1),
      |x AS (SELECT CAST(COALESCE(SUM(n_a * n_b), 0) AS BIGINT) AS exact_n
      |      FROM fa JOIN fb USING (k))
      |SELECT est_n, exact_n, est_n - exact_n AS over_n
      |FROM e CROSS JOIN x""".stripMargin

  val catalogue: Seq[Query] = Seq(
    Query.rowsOnly("q87_cms_freq", q87CmsFreq),
    Query("q88_cms_cdc", q88CmsCdc, q88Sql),
    Query("q94_join_size_cms", q94JoinSizeCms, q94Sql),
    Query("q34_heavy_hitters", q34HeavyHitters, q34Sql),
    Query("q76_topk_weekly", q76TopkWeekly, q76Sql),
    Query("q80_topk_churn", q80TopkChurn, q80Sql),
    Query("q83_quantile_trend", q83QuantileTrend, q83Sql),
    Query("q79_quantiles_from_artifacts", q79QuantilesFromArtifacts, q79Sql),
    Query("q35_salted_join", q35SaltedJoin, q35Sql),
    Query("q36_bucketed_join", q36BucketedJoin, q36Sql),
    Query("q43_incremental_agg", q43IncrementalAgg, q43Sql),
    Query("q45_bloom_prejoin", q45BloomPrejoin, q45Sql),
    Query("q47_zorder", q47ZOrder, q47Sql),
    Query("q64_global_seq", q64GlobalSeq, q64Sql),
    Query("q74_topk_day_range", q74TopkDayRange, q74Sql))
}
