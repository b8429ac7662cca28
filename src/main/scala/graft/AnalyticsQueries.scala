package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Readers

/** Analytics extensions beyond the reference surface (eda.ipynb-style
  * summaries + the temporal operators a production events pipeline
  * needs). All oracle rules of SURVEY.md §6 apply.
  */
object AnalyticsQueries {

  /** THE session-boundary rule: a new session starts when there is no
    * prior event or the gap since it exceeds 30 minutes. Single
    * definition shared by q20_sessionize / q37_range_join (via
    * `sessionsOf`) and q59_transitions — the round-6 NTZ regression had
    * to be fixed in two places precisely because this was duplicated. */
  private[graft] def isSessionBreak(ts: Column, prevTs: Column): Column =
    when(prevTs.isNull ||
         unix_micros(ts) - unix_micros(prevTs) > 1800L * 1000000L, 1L)
      .otherwise(0L)

  /** #34: describe/summary statistics (eda.ipynb `df.describe()`).
    * min/max pass through raw. mean/std are derived from EXACT decimal
    * sums (x and x² cast to decimal per row — exact for 2-decimal
    * inputs), then one identically-written double formula on both
    * engines: the inputs are bit-identical, IEEE /, *, - and sqrt are
    * correctly rounded, so the rounded outputs are deterministic —
    * unlike `round(AVG(double))`, whose partition-merge-order jitter
    * can flip a rounding boundary between runs. */
  def q18DescribeStats: Q = (spark, dir) => {
    // scaled-long sums, not decimal accumulators (6× slower, measured):
    // per-row floor(x·10^s + 0.5) is bit-identical on both engines, and
    // the long sum is order-independent. Scales bound the accumulator:
    // price² at scale 0 peaks ~1.2e10/row → < 2^63 through ~sf100.
    val qty = col("l_quantity"); val price = col("l_extendedprice")
    Tables.lineitem(spark, dir)
      .agg(
        count(lit(1)).as("n"),
        min(qty).as("min_qty"), max(qty).as("max_qty"),
        min(price).as("min_price"), max(price).as("max_price"),
        Exact.eSum(qty, 2).as("s_qty_e2"),
        Exact.eSum(qty * qty, 4).as("ss_qty_e4"),
        Exact.eSum(price, 2).as("s_price_e2"),
        Exact.eSum(price * price, 0).as("ss_price_e0"))
      .select(
        col("n"), col("min_qty"), col("max_qty"), col("min_price"), col("max_price"),
        (col("s_qty_e2").cast(DoubleType) / lit(100.0)).as("s_qty"),
        (col("ss_qty_e4").cast(DoubleType) / lit(10000.0)).as("ss_qty"),
        (col("s_price_e2").cast(DoubleType) / lit(100.0)).as("s_price"),
        col("ss_price_e0").cast(DoubleType).as("ss_price"))
      .select(
        col("n"), col("min_qty"), col("max_qty"),
        Exact.e(col("s_qty") / col("n"), 4).as("mean_qty_e4"),
        Exact.e(sqrt((col("ss_qty") - col("s_qty") * col("s_qty") / col("n")) / (col("n") - 1)), 4)
          .as("std_qty_e4"),
        col("min_price"), col("max_price"),
        Exact.e(col("s_price") / col("n"), 2).as("mean_price_e2"),
        Exact.e(sqrt((col("ss_price") - col("s_price") * col("s_price") / col("n")) / (col("n") - 1)), 2)
          .as("std_price_e2"))
  }

  val q18Sql: String =
    """WITH a0 AS (
      |  SELECT COUNT(*) AS n,
      |         MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
      |         MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price,
      |         CAST(SUM(CAST(FLOOR(l_quantity * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS s_qty_e2,
      |         CAST(SUM(CAST(FLOOR(l_quantity * l_quantity * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS ss_qty_e4,
      |         CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS s_price_e2,
      |         CAST(SUM(CAST(FLOOR(l_extendedprice * l_extendedprice + 0.5) AS BIGINT)) AS BIGINT) AS ss_price_e0
      |  FROM lineitem),
      |a AS (
      |  SELECT n, min_qty, max_qty, min_price, max_price,
      |         CAST(s_qty_e2 AS DOUBLE) / 100.0 AS s_qty,
      |         CAST(ss_qty_e4 AS DOUBLE) / 10000.0 AS ss_qty,
      |         CAST(s_price_e2 AS DOUBLE) / 100.0 AS s_price,
      |         CAST(ss_price_e0 AS DOUBLE) AS ss_price
      |  FROM a0)
      |SELECT n, min_qty, max_qty,
      |       CAST(FLOOR(s_qty / n * 10000.0 + 0.5) AS BIGINT) AS mean_qty_e4,
      |       CAST(FLOOR(SQRT((ss_qty - s_qty * s_qty / n) / (n - 1)) * 10000.0 + 0.5) AS BIGINT) AS std_qty_e4,
      |       min_price, max_price,
      |       CAST(FLOOR(s_price / n * 100.0 + 0.5) AS BIGINT) AS mean_price_e2,
      |       CAST(FLOOR(SQRT((ss_price - s_price * s_price / n) / (n - 1)) * 100.0 + 0.5) AS BIGINT) AS std_price_e2
      |FROM a""".stripMargin

  /** #35: as-of join — for each purchase, the nearest prior view by
    * the same user. Implemented as union + ordered window (one shuffle
    * on user_id) instead of a range join: at 100 TB a range join
    * explodes to |purchases|×|views| per user, while this is a single
    * sort within each user partition. */
  def q19AsofJoin: Q = (spark, dir) => {
    val ev = Tables.events(spark, dir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), lit(0).as("kind"), lit(null).cast(LongType).as("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("kind"), col("event_id"))
    // at equal ts the view sorts first (kind 0 < 1) — matches ASOF's
    // inclusive `v.ts <= p.ts`
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("kind").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    views.unionByName(purchases)
      .withColumn("prev_view_ts",
        last(when(col("kind") === 0, col("ts")), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(
        col("event_id"), col("user_id"),
        date_trunc("second", col("ts")).cast(TimestampType).as("purchase_s"),
        date_trunc("second", col("prev_view_ts")).cast(TimestampType).as("prev_view_s"))
      .orderBy("event_id")
  }

  val q19Sql: String =
    """WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
      |p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
      |SELECT p.event_id, p.user_id,
      |       CAST(date_trunc('second', p.ts) AS TIMESTAMP) AS purchase_s,
      |       CAST(date_trunc('second', v.ts) AS TIMESTAMP) AS prev_view_s
      |FROM p ASOF LEFT JOIN v
      |  ON p.user_id = v.user_id AND v.ts <= p.ts
      |ORDER BY event_id""".stripMargin

  /** #36: sessionization — 30-minute-gap sessions per user via
    * lag + cumulative break count (single shuffle on user_id). */
  /** Session table shared by q20 (output) and q37 (interval side). */
  private def sessionsOf(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    val cum = Window.partitionBy("user_id").orderBy("ts")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("is_break", isSessionBreak(col("ts"), col("prev_ts")))
      .withColumn("session_id", sum("is_break").over(cum))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        date_trunc("second", min("ts")).cast(TimestampType).as("session_start"),
        date_trunc("second", max("ts")).cast(TimestampType).as("session_end"))
  }

  def q20Sessionize: Q = (spark, dir) =>
    sessionsOf(spark, dir).orderBy("user_id", "session_id")

  val q20Sql: String =
    """WITH g AS (
      |  SELECT user_id, ts,
      |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
      |              THEN 1 ELSE 0 END AS is_break
      |  FROM events),
      |s AS (
      |  SELECT user_id, ts,
      |         CAST(SUM(is_break) OVER (PARTITION BY user_id ORDER BY ts
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM g)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |       CAST(date_trunc('second', MIN(ts)) AS TIMESTAMP) AS session_start,
      |       CAST(date_trunc('second', MAX(ts)) AS TIMESTAMP) AS session_end
      |FROM s GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** #37: exact distinct counting per group (the approx_count_distinct
    * HLL variant is spec-benchmarked; exact is the oracle-checkable
    * form). */
  def q21DistinctCount: Q = (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  val q21Sql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** #40: data profiling (eda.ipynb `nunique()` + empty-string counts
    * + full-row duplicate count) in one pass over orders. */
  def q22Profile: Q = (spark, dir) =>
    Tables.orders(spark, dir).agg(
      count(lit(1)).as("n_rows"),
      // distinct over a STRUCT, not bare columns: multi-arg
      // countDistinct drops any row containing a NULL, while DuckDB's
      // COUNT(DISTINCT (tuple)) counts null-bearing tuples — the
      // struct (never null itself) matches the tuple semantics
      countDistinct(struct(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))).as("n_distinct_rows"),
      countDistinct("o_custkey").as("nunique_cust"),
      countDistinct("o_orderstatus").as("nunique_status"),
      countDistinct("o_orderpriority").as("nunique_priority"),
      sum(when(col("o_orderstatus") === "", 1L).otherwise(0L)).as("empty_status"))

  val q22Sql: String =
    """SELECT COUNT(*) AS n_rows,
      |       COUNT(DISTINCT (o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority)) AS n_distinct_rows,
      |       COUNT(DISTINCT o_custkey) AS nunique_cust,
      |       COUNT(DISTINCT o_orderstatus) AS nunique_status,
      |       COUNT(DISTINCT o_orderpriority) AS nunique_priority,
      |       CAST(SUM(CASE WHEN o_orderstatus = '' THEN 1 ELSE 0 END) AS BIGINT) AS empty_status
      |FROM orders""".stripMargin

  /** #41: histogram binning (eda.ipynb histplot) — fixed-width bins
    * as integer bin ids, exact in both engines. */
  def q23Histogram: Q = (spark, dir) =>
    Tables.orders(spark, dir)
      .select(floor(col("o_totalprice") / 20000).cast(LongType).as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"))
      .orderBy("bin")

  val q23Sql: String =
    """SELECT CAST(FLOOR(o_totalprice / 20000) AS BIGINT) AS bin, COUNT(*) AS n
      |FROM orders GROUP BY 1 ORDER BY bin""".stripMargin

  /** #42: top-N value_counts (eda.ipynb `value_counts().head(10)`) —
    * global top-10 brands by frequency, deterministic tiebreak. */
  def q24TopBrands: Q = (spark, dir) =>
    Tables.part(spark, dir)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("p_brand").asc)
      .limit(10)

  val q24Sql: String =
    """SELECT p_brand, COUNT(*) AS n FROM part
      |GROUP BY p_brand ORDER BY n DESC, p_brand ASC LIMIT 10""".stripMargin

  /** #43: substring-containment join — the reference's
    * `artists_norm.str.contains(artist)` match
    * (dags/etl_grammy_spotify.py:230-239). Round 3 ran this as a
    * broadcast nested-loop `contains` join whose broadcast side was
    * DERIVED FROM THE DATA (distinct first tokens): past the
    * broadcast threshold that plan fails or falls back to a cartesian
    * BNLJ. Round 4 re-expresses it as an equi-join: the keywords are
    * whole first tokens and no keyword occurs as a proper substring
    * of another token in this vocabulary, so `contains(p_name, kw)` ⇔
    * kw ∈ tokens(p_name) — proved by the UNCHANGED `contains` oracle
    * staying green. Explode is narrow; the join is hash-based (AQE
    * broadcasts the keyword side while it is small, sort-merge when
    * it is not); (part, kw) dedup guards names repeating a token.
    *
    * The ⇔ rests on a VOCABULARY property, not a law: no ≥4-char
    * first token may occur as a proper substring of a different
    * distinct token (true of TPC-H part names; "rose" inside
    * "rosewood" would break it). [[q25AssumptionViolations]] checks
    * the property on the actual data — production callers on a new
    * vocabulary run it once per vocabulary refresh (cost: two tiny
    * DISTINCT token sets, vocab-sized not corpus-sized) and fall back
    * to a contains join for any violating keywords it reports. */
  def q25ContainsJoin: Q = (spark, dir) => {
    val part = Tables.part(spark, dir)
    val keywords = part
      .select(etl.TextNorm.firstToken(col("p_name")).as("kw"))
      .distinct()
      .filter(length(col("kw")) >= 4)
    part
      .select(col("p_partkey"), explode(split(col("p_name"), " ")).as("tok"))
      .join(keywords, col("tok") === col("kw"))
      .select("p_partkey", "kw").distinct()
      .groupBy("kw")
      .agg(count(lit(1)).as("n_parts"), min("p_partkey").as("first_part"))
      .orderBy("kw")
  }

  /** Runtime check for the q25 rewrite's vocabulary assumption:
    * returns every (kw, tok) where a keyword is a proper substring of
    * a DIFFERENT distinct token — exactly the cases where the token
    * equi-join would miss a `contains` match. Empty result ⇒ the
    * rewrite is lossless on this vocabulary. Both sides are DISTINCT
    * token sets (bounded by the vocabulary, not the corpus), and the
    * keyword side is broadcast, so the containment cross-check never
    * touches corpus-scale data. PlanSpec pins it empty on the test
    * vocabulary. */
  def q25AssumptionViolations(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir)
    val tokens = part
      .select(explode(split(col("p_name"), " ")).as("tok"))
      .distinct()
    val keywords = part
      .select(etl.TextNorm.firstToken(col("p_name")).as("kw"))
      .distinct()
      .filter(length(col("kw")) >= 4)
    tokens.join(broadcast(keywords),
        col("tok").contains(col("kw")) && col("tok") =!= col("kw"))
      .select(col("kw"), col("tok"))
  }

  val q25Sql: String =
    """WITH kw AS (
      |  SELECT DISTINCT regexp_extract(p_name, '^(\S+)', 1) AS kw FROM part),
      |k AS (SELECT kw FROM kw WHERE length(kw) >= 4)
      |SELECT k.kw, COUNT(*) AS n_parts, MIN(p.p_partkey) AS first_part
      |FROM part p JOIN k ON contains(p.p_name, k.kw)
      |GROUP BY k.kw ORDER BY k.kw""".stripMargin

  /** #44: frame-window moving average — trailing mean over the last
    * THREE ROWS of the per-day totals (ROWS BETWEEN 2 PRECEDING), i.e.
    * the last three days-WITH-DATA per event type: across a calendar
    * gap the frame reaches further back than three days (a RANGE
    * frame or calendar-spine join would pin it to calendar days; both
    * engines use the identical ROWS frame here). Output is integer
    * milli-cents: `sum*1000/n` with n ∈ {1,2,3} is exact for n=1,2 and
    * never lands on a .5 midpoint for n=3 (2m = 3(2k+1) has no integer
    * solution), so ROUND of the shared IEEE quotient is identical on
    * both engines — unlike round-1's `round(AVG(cents),2)`, a double
    * average that flipped at rounding boundaries. */
  def q26MovingAvg: Q = (spark, dir) => {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), col("ts").cast(DateType).as("day"))
      .agg(sum(round(col("value") * 100, 0).cast(LongType)).as("cents"))
    val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-2, 0)
    daily
      .withColumn("mavg_milli",
        round(sum("cents").over(w) * lit(1000.0) / count(lit(1)).over(w), 0).cast(LongType))
      .orderBy("event_type", "day")
  }

  val q26Sql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, day, cents,
      |       CAST(ROUND(SUM(cents) OVER w * 1000.0 / COUNT(*) OVER w, 0) AS BIGINT) AS mavg_milli
      |FROM daily
      |WINDOW w AS (PARTITION BY event_type ORDER BY day
      |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      |ORDER BY event_type, day""".stripMargin

  /** #45: JSON extraction from the events props payload. */
  def q27JsonExtract: Q = (spark, dir) =>
    Tables.events(spark, dir)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k_path"),
        from_json(col("props"), StructType(Seq(StructField("k", LongType))))
          .getField("k").as("k_struct"))
      .orderBy("event_id")

  val q27Sql: String =
    """SELECT event_id,
      |       CAST(props::JSON->>'k' AS BIGINT) AS k_path,
      |       CAST(props::JSON->>'k' AS BIGINT) AS k_struct
      |FROM events ORDER BY event_id""".stripMargin

  /** #46: semi/anti joins — active vs inactive customers per segment
    * (EXISTS / NOT EXISTS without materializing the join product). */
  def q28AntiSemi: Q = (spark, dir) => {
    val cust = Tables.customer(spark, dir)
    val orders = Tables.orders(spark, dir)
    val active = cust.join(orders, cust("c_custkey") === orders("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment").as("seg")).agg(count(lit(1)).as("n_active"))
    val inactive = cust.join(orders, cust("c_custkey") === orders("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment").as("seg")).agg(count(lit(1)).as("n_inactive"))
    active.join(inactive, Seq("seg"), "full_outer")
      .select(col("seg"),
        coalesce(col("n_active"), lit(0L)).as("n_active"),
        coalesce(col("n_inactive"), lit(0L)).as("n_inactive"))
      .orderBy("seg")
  }

  val q28Sql: String =
    """WITH s AS (
      |  SELECT c_mktsegment AS seg, COUNT(*) AS n_active FROM customer c
      |  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |  GROUP BY 1),
      |a AS (
      |  SELECT c_mktsegment AS seg, COUNT(*) AS n_inactive FROM customer c
      |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |  GROUP BY 1)
      |SELECT seg, COALESCE(n_active, 0) AS n_active, COALESCE(n_inactive, 0) AS n_inactive
      |FROM s FULL JOIN a USING (seg)
      |ORDER BY seg""".stripMargin

  /** #47: exact percentiles per group (linear interpolation — same
    * definition as DuckDB's quantile_cont). Outputs are integer
    * milli-units: interpolated quantiles of 2-decimal data have at
    * most 3 decimals, so ×1000 is exact — decimal rounding is NOT
    * (the median of cent-valued prices lands on a .xx5 midpoint half
    * the time, where Spark and DuckDB round differently). */
  def q29Percentiles: Q = (spark, dir) => {
    // Scale note (round 4): Spark's exact `percentile` buffers every
    // value of a group on one reducer — unsplittable at 100× lineitem.
    // ExactPercentile is the histogram path: groupBy(group, cents) →
    // domain-bounded distinct-value window → rank pick. Identical
    // output (integer-exact on this 2-decimal domain), every stage
    // splittable.
    import graft.functions.ExactPercentile, ExactPercentile.Pct
    val li = Tables.lineitem(spark, dir)
    // r15: both measures through ONE melted histogram pass — the
    // two-call form scanned lineitem once per measure and ran two
    // full count-window-agg pipelines; posexplode melts (measure id,
    // scaled value) so one groupBy histograms both, and the per-group
    // quantile arithmetic runs once keyed by (group, measure). The
    // conditional-min pivot at the end is over the 3×2-row result.
    // Output identical (same exact integer arithmetic per measure).
    val melted = li.select(col("l_returnflag"),
        posexplode(array(
          Exact.e(col("l_extendedprice"), 2),
          Exact.e(col("l_quantity"), 2))).as(Seq("m", "v")))
      .filter(col("v").isNotNull)
    val counts = melted.groupBy("l_returnflag", "m", "v")
      .agg(count(lit(1)).as("cnt"))
    val qq = ExactPercentile.quantilesOfCounts(counts,
      Seq("l_returnflag", "m"), valPow = 2, outPow = 3,
      Seq(Pct("p50", 50, 100), Pct("p90", 90, 100)))
    val both = qq.groupBy("l_returnflag")
      .agg(min(when(col("m") === 0, col("p50"))).as("p50_price_milli"),
        min(when(col("m") === 0, col("p90"))).as("p90_price_milli"),
        min(when(col("m") === 1, col("p50"))).as("p50_qty_milli"))
    // Left-join onto the distinct-group spine: the histogram drops a
    // group whose measures are ALL NULL, but quantile_cont keeps it
    // with a NULL quantile — an inner join would make it vanish.
    // No-op on TPC-H (no NULLs); the spine is one partial-agg distinct.
    val groups = li.select("l_returnflag").distinct()
    groups
      .join(both, Seq("l_returnflag"), "left")
      .orderBy("l_returnflag")
  }

  /** #85 (q44): APPROXIMATE percentiles — the tolerance-permitting
    * twin of q29 for interactive/streaming use: `approx_percentile`
    * is a mergeable bounded-memory sketch (rank error ≤ n/accuracy),
    * so it aggregates in one partial-merge pass with no per-group
    * buffering at all — cheaper than even the histogram path when a
    * ±0.01%-rank answer suffices. Rows-only (the sketch is
    * engine-specific; no cross-engine oracle). FunctionsSpec pins the
    * approx values inside the exact p45–p55 / p85–p95 bands. */
  def q44ApproxPercentiles: Q = (spark, dir) =>
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        (expr("approx_percentile(l_extendedprice, 0.5, 10000)") * 1000)
          .cast(LongType).as("p50_price_milli_approx"),
        (expr("approx_percentile(l_extendedprice, 0.9, 10000)") * 1000)
          .cast(LongType).as("p90_price_milli_approx"))
      .orderBy("l_returnflag")

  /** #92 (q46): APPROXIMATE distinct counting — the mergeable-sketch
    * twin of q21, the same relationship q44 bears to q29: HLL++
    * (`approx_count_distinct`) keeps one fixed-size register set per
    * group, merged map-side, so the shuffle carries sketches instead
    * of the full user-id domain — at 100 TB an exact countDistinct's
    * expand+re-shuffle of every (group, user) pair is the cost being
    * deleted. Rows-only (register layout is engine-specific);
    * FunctionsSpec pins each approximation inside the ±3·rsd band of
    * the exact count. */
  def q46ApproxDistinct: Q = (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        approx_count_distinct(col("user_id"), rsd = 0.02).as("n_users_approx"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** #171 (q71): pre-aggregated HLL sketch cube — the PERSISTENCE
    * pattern q46's one-shot sketch lacks, and the reason mergeable
    * sketches exist at 100 TB: a nightly job reduces each (day, type)
    * partition of an append-only event stream to one fixed-size
    * Datasketches HLL register set (`hll_sketch_agg`, a binary
    * parquet column), and every later distinct-users question over ANY
    * day range is answered by `hll_union_agg` over the stored sketches
    * — history is NEVER rescanned, and the union is exactly the
    * sketch the full rescan would have built (same registers, lossless
    * merge at equal lgK — the spec pins estimate equality, and that
    * daily sketches round-trip through parquet). Output keeps the raw
    * per-day event counts beside the estimate so the cube also serves
    * exact additive metrics. Rows-only (register layout and estimator
    * are engine-specific); FunctionsSpec pins the error band vs exact
    * and the union≡rescan identity. */
  def q71HllCube: Q = (spark, dir) => {
    val daily = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("event_type"), col("user_id"))
      .groupBy("day", "event_type")
      .agg(hll_sketch_agg(col("user_id")).as("sk"),
        count(lit(1)).as("n_events"))
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum("n_events").as("n_events"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"))
      .orderBy("event_type")
  }

  /** #176 (q72): audience overlap matrix — for every pair of event
    * types, the EXACT distinct-user intersection, union and Jaccard
    * (ppm): the segmentation question ("do clickers also purchase?")
    * behind every cross-sell/funnel decision, and the exact twin the
    * q71 sketch cube approximates at scale via HLL
    * inclusion–exclusion. Shape: distinct (type, user) pairs once,
    * then a self-join on user_id — per-user fan-out is bounded by the
    * TYPE DOMAIN (a handful), so the join output is ≤ T²/2 rows per
    * user, corpus-linear, no skew surface; pair sizes re-join from the
    * same distinct frame. Only co-observed pairs appear (inner join —
    * a pair with zero shared users carries no decision signal).
    * Jaccard in exact half-up ppm via the (2a+b) div 2b identity. */
  def q72AudienceOverlap: Q = (spark, dir) => {
    val du = Tables.events(spark, dir)
      .select("event_type", "user_id").distinct()
    val sizes = du.groupBy("event_type").agg(count(lit(1)).as("n"))
    val inter = du.toDF("type_a", "user_id")
      .join(du.toDF("type_b", "user_id2"),
        col("user_id") === col("user_id2") && col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(broadcast(sizes.toDF("type_a", "n_a")), "type_a")
      .join(broadcast(sizes.toDF("type_b", "n_b")), "type_b")
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
      .withColumn("jaccard_ppm",
        expr("(n_inter * 1000000 * 2 + n_union) div (2 * n_union)"))
      .select("type_a", "type_b", "n_a", "n_b", "n_inter", "n_union", "jaccard_ppm")
      .orderBy("type_a", "type_b")
  }

  /** #177 (q73): APPROXIMATE audience overlap — q72's sketch twin over
    * the q71 cube: per-type HLL register sets (union of the persisted
    * daily sketches — history never rescanned), then every pairwise
    * intersection by inclusion–exclusion (|A∩B| = |A|+|B|−|A∪B|, the
    * union being `hll_union` of the two stored sketches). At 100 TB
    * the exact q72 matrix costs a distinct + self-join over every
    * (type, user) pair; this answers the same segmentation question
    * from T kilobyte sketches (T = type domain, a handful) — the
    * pairwise frame is T²/2 rows of sketch merges, bounded by
    * configuration, not data. Estimates can undershoot: the
    * intersection is clamped at 0 and the jaccard denominator guarded.
    * Rows-only (estimator is engine-specific); FunctionsSpec pins each
    * pair's intersection estimate inside an error band of q72's exact
    * matrix and the estimate≡rescan identity via the daily cube. */
  def q73OverlapHll: Q = (spark, dir) => {
    val perType = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("event_type"), col("user_id"))
      .groupBy("day", "event_type")
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .groupBy("event_type")
      .agg(hll_union_agg(col("sk")).as("sk"))
    overlapFromTypeSketches(perType)
  }

  /** The pairwise half of q73, shared with its streaming twin (#185):
    * from a (event_type, sk) frame of per-type HLL register sets,
    * derive the full estimated overlap matrix. T×T pairwise frame of
    * a type-domain-bounded input: the join is deliberately a
    * broadcast cross product (T ≈ a handful of event types —
    * configuration-scale, never corpus-scale). */
  private[graft] def overlapFromTypeSketches(perType: DataFrame): DataFrame = {
    val est = perType.withColumn("n_est", hll_sketch_estimate(col("sk")))
    val pairs = est.toDF("type_a", "sk_a", "n_a_est")
      .join(broadcast(est.toDF("type_b", "sk_b", "n_b_est")),
        col("type_a") < col("type_b"))
    pairs
      .withColumn("n_union_est",
        hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b"))))
      .withColumn("n_inter_est",
        greatest(lit(0L), col("n_a_est") + col("n_b_est") - col("n_union_est")))
      .withColumn("jaccard_est_ppm",
        when(col("n_union_est") > 0,
          expr("(n_inter_est * 1000000 * 2 + n_union_est) div (2 * n_union_est)"))
          .otherwise(lit(0L)))
      .select("type_a", "type_b", "n_a_est", "n_b_est", "n_inter_est",
        "n_union_est", "jaccard_est_ppm")
      .orderBy("type_a", "type_b")
  }

  val q72Sql: String =
    """WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
      |s AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM du GROUP BY 1),
      |i AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
      |             CAST(COUNT(*) AS BIGINT) AS n_inter
      |      FROM du a JOIN du b
      |        ON a.user_id = b.user_id AND a.event_type < b.event_type
      |      GROUP BY 1, 2)
      |SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_inter,
      |       sa.n + sb.n - n_inter AS n_union,
      |       CAST((n_inter * 1000000 * 2 + (sa.n + sb.n - n_inter))
      |            // (2 * (sa.n + sb.n - n_inter)) AS BIGINT) AS jaccard_ppm
      |FROM i JOIN s sa ON i.type_a = sa.event_type
      |       JOIN s sb ON i.type_b = sb.event_type
      |ORDER BY type_a, type_b""".stripMargin

  val q29Sql: String =
    """SELECT l_returnflag,
      |       CAST(ROUND(quantile_cont(l_extendedprice, 0.5) * 1000, 0) AS BIGINT) AS p50_price_milli,
      |       CAST(ROUND(quantile_cont(l_extendedprice, 0.9) * 1000, 0) AS BIGINT) AS p90_price_milli,
      |       CAST(ROUND(quantile_cont(l_quantity, 0.5) * 1000, 0) AS BIGINT) AS p50_qty_milli
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** #97 (q48): funnel analysis — per user, the first `view`, the
    * first `click` strictly after it, the first `purchase` strictly
    * after that. The ordered-event conversion query every product
    * analytics stack runs; three stage-wise min-aggregates + joins
    * (each a linear shuffle on user_id — never a window over the
    * whole event history, so one hyperactive user can't serialize a
    * task). Unconverted stages surface as NULL (left joins), so the
    * row count is the stage-1 population. */
  def q48Funnel: Q = (spark, dir) => {
    val e = Tables.events(spark, dir).select("user_id", "event_type", "ts")
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("v_raw"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts") > col("v_raw"))
      .groupBy("user_id").agg(min("ts").as("c_raw"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") > col("c_raw"))
      .groupBy("user_id").agg(min("ts").as("p_raw"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select(col("user_id"),
        date_trunc("second", col("v_raw")).cast(TimestampType).as("view_ts"),
        date_trunc("second", col("c_raw")).cast(TimestampType).as("click_ts"),
        date_trunc("second", col("p_raw")).cast(TimestampType).as("purchase_ts"))
      .orderBy("user_id")
  }

  val q48Sql: String =
    """WITH v AS (SELECT user_id, MIN(ts) AS v_raw FROM events WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, MIN(e.ts) AS c_raw
      |      FROM events e JOIN v USING (user_id)
      |      WHERE e.event_type = 'click' AND e.ts > v_raw GROUP BY 1),
      |p AS (SELECT e.user_id, MIN(e.ts) AS p_raw
      |      FROM events e JOIN c USING (user_id)
      |      WHERE e.event_type = 'purchase' AND e.ts > c_raw GROUP BY 1)
      |SELECT v.user_id,
      |       CAST(date_trunc('second', v_raw) AS TIMESTAMP) AS view_ts,
      |       CAST(date_trunc('second', c_raw) AS TIMESTAMP) AS click_ts,
      |       CAST(date_trunc('second', p_raw) AS TIMESTAMP) AS purchase_ts
      |FROM v LEFT JOIN c ON v.user_id = c.user_id
      |       LEFT JOIN p ON v.user_id = p.user_id
      |ORDER BY 1""".stripMargin

  /** #98 (q49): cohort retention — users grouped by first-activity
    * week, distinct-user counts per (cohort, week offset). Two linear
    * aggregations: the distinct (user, week) activity matrix is
    * corpus-bounded (users × weeks), and the cohort join broadcasts
    * nothing data-derived. ISO Monday weeks on both engines. */
  /** q49's kernel on an arbitrary (ts, user_id) frame — shared with
    * the streaming twin's batch-parity spec
    * ([[graft.streaming.EventStream.retentionStream]]). */
  private[graft] def cohortRetentionOf(ev: DataFrame): DataFrame = {
    val act = ev
      .select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("wk"))
      .distinct()
    val cohort = act.groupBy("user_id").agg(min("wk").as("cohort_wk"))
    act.join(cohort, "user_id")
      // both Mondays ⇒ the day gap is an exact multiple of 7
      .withColumn("week_offset", expr("CAST(datediff(wk, cohort_wk) DIV 7 AS BIGINT)"))
      .groupBy("cohort_wk", "week_offset")
      .agg(countDistinct("user_id").as("n_users"))
  }

  def q49CohortRetention: Q = (spark, dir) =>
    cohortRetentionOf(Tables.events(spark, dir))
      .orderBy("cohort_wk", "week_offset")

  val q49Sql: String =
    """WITH a AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
      |f AS (SELECT user_id, MIN(wk) AS cohort_wk FROM a GROUP BY 1)
      |SELECT cohort_wk,
      |       CAST(datediff('day', cohort_wk, wk) // 7 AS BIGINT) AS week_offset,
      |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM a JOIN f USING (user_id)
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** #48: Pearson correlation matrix entries (eda.ipynb-style),
    * derived from exact scaled-long sums + one identically-written
    * double formula on both engines (same determinism argument as q18
    * — built-in `corr` merges co-moments in partition order, which
    * jitters the last ulps run to run; decimal accumulators are
    * order-independent too but measured 6× slower than long sums).
    * Per-term scales bound each accumulator far under 2^63: price² at
    * scale 0 (~1.2e10/row), small dt products at scale 6 (~1e4/row). */
  def q30Correlation: Q = (spark, dir) => {
    case class Sc(sx: Int, sy: Int, sxx: Int, syy: Int, sxy: Int)
    val scales = Map("qp" -> Sc(2, 2, 4, 0, 2), "dt" -> Sc(2, 2, 6, 6, 6))
    def corrCols(x: Column, y: Column, tag: String): Seq[Column] = {
      val s = scales(tag)
      Seq(
        Exact.eSum(x, s.sx).as(s"sx_${tag}_e"),
        Exact.eSum(y, s.sy).as(s"sy_${tag}_e"),
        Exact.eSum(x * x, s.sxx).as(s"sxx_${tag}_e"),
        Exact.eSum(y * y, s.syy).as(s"syy_${tag}_e"),
        Exact.eSum(x * y, s.sxy).as(s"sxy_${tag}_e"))
    }
    def unscale(name: String, s: Int): Column =
      (if (s == 0) col(name + "_e").cast(DoubleType)
       else col(name + "_e").cast(DoubleType) / lit(Exact.pow10(s))).as(name)
    def derived(tag: String): Seq[Column] = {
      val s = scales(tag)
      Seq(unscale(s"sx_$tag", s.sx), unscale(s"sy_$tag", s.sy),
          unscale(s"sxx_$tag", s.sxx), unscale(s"syy_$tag", s.syy),
          unscale(s"sxy_$tag", s.sxy))
    }
    def corrOf(tag: String): Column = {
      val (sx, sy, sxx, syy, sxy) =
        (col(s"sx_$tag"), col(s"sy_$tag"), col(s"sxx_$tag"), col(s"syy_$tag"), col(s"sxy_$tag"))
      val n = col("n")
      Exact.e((n * sxy - sx * sy) /
        (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 4)
    }
    val aggs = corrCols(col("l_quantity"), col("l_extendedprice"), "qp") ++
      corrCols(col("l_discount"), col("l_tax"), "dt")
    Tables.lineitem(spark, dir)
      .agg(count(lit(1)).cast(DoubleType).as("n"), aggs: _*)
      .select(col("n") +: (derived("qp") ++ derived("dt")): _*)
      .select(corrOf("qp").as("corr_qty_price_e4"), corrOf("dt").as("corr_disc_tax_e4"))
  }

  val q30Sql: String =
    """WITH a0 AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
      |         CAST(SUM(CAST(FLOOR(l_quantity * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sx_qp_e,
      |         CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sy_qp_e,
      |         CAST(SUM(CAST(FLOOR(l_quantity * l_quantity * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sxx_qp_e,
      |         CAST(SUM(CAST(FLOOR(l_extendedprice * l_extendedprice + 0.5) AS BIGINT)) AS BIGINT) AS syy_qp_e,
      |         CAST(SUM(CAST(FLOOR(l_quantity * l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sxy_qp_e,
      |         CAST(SUM(CAST(FLOOR(l_discount * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sx_dt_e,
      |         CAST(SUM(CAST(FLOOR(l_tax * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sy_dt_e,
      |         CAST(SUM(CAST(FLOOR(l_discount * l_discount * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sxx_dt_e,
      |         CAST(SUM(CAST(FLOOR(l_tax * l_tax * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS syy_dt_e,
      |         CAST(SUM(CAST(FLOOR(l_discount * l_tax * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sxy_dt_e
      |  FROM lineitem),
      |a AS (
      |  SELECT n,
      |         CAST(sx_qp_e AS DOUBLE) / 100.0 AS sx_qp,
      |         CAST(sy_qp_e AS DOUBLE) / 100.0 AS sy_qp,
      |         CAST(sxx_qp_e AS DOUBLE) / 10000.0 AS sxx_qp,
      |         CAST(syy_qp_e AS DOUBLE) AS syy_qp,
      |         CAST(sxy_qp_e AS DOUBLE) / 100.0 AS sxy_qp,
      |         CAST(sx_dt_e AS DOUBLE) / 100.0 AS sx_dt,
      |         CAST(sy_dt_e AS DOUBLE) / 100.0 AS sy_dt,
      |         CAST(sxx_dt_e AS DOUBLE) / 1000000.0 AS sxx_dt,
      |         CAST(syy_dt_e AS DOUBLE) / 1000000.0 AS syy_dt,
      |         CAST(sxy_dt_e AS DOUBLE) / 1000000.0 AS sxy_dt
      |  FROM a0)
      |SELECT CAST(FLOOR((n * sxy_qp - sx_qp * sy_qp) /
      |         (SQRT(n * sxx_qp - sx_qp * sx_qp) * SQRT(n * syy_qp - sy_qp * sy_qp)) * 10000.0 + 0.5) AS BIGINT) AS corr_qty_price_e4,
      |       CAST(FLOOR((n * sxy_dt - sx_dt * sy_dt) /
      |         (SQRT(n * sxx_dt - sx_dt * sx_dt) * SQRT(n * syy_dt - sy_dt * sy_dt)) * 10000.0 + 0.5) AS BIGINT) AS corr_disc_tax_e4
      |FROM a""".stripMargin

  /** #49: cube — all grouping-set combinations (rollup's superset);
    * SQL-string route for the same ambiguous-self-join reason as q15. */
  def q31Cube: Q = (spark, dir) => {
    Tables.orders(spark, dir)
      .select(col("o_orderstatus").as("st"), col("o_orderpriority").as("pri"), col("o_totalprice"))
      .createOrReplaceTempView("graft_q31_src")
    spark.sql(
      """SELECT COALESCE(st, 'ALL') AS st_g, COALESCE(pri, 'ALL') AS pri_g,
        |       COUNT(*) AS n,
        |       SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS total_e2
        |FROM graft_q31_src
        |GROUP BY CUBE(st, pri)
        |ORDER BY st_g, pri_g""".stripMargin)
  }

  val q31Sql: String =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS st_g,
      |       COALESCE(o_orderpriority, 'ALL') AS pri_g,
      |       COUNT(*) AS n,
      |       CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS total_e2
      |FROM orders
      |GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY st_g, pri_g""".stripMargin

  /** #68 (q39): grouping sets — the third grouping construct beyond
    * rollup (q15) and cube (q31): exactly the per-status, per-priority
    * and grand-total slices, WITHOUT the (status, priority) cross
    * cells a cube would also compute. Plans to one Expand + Aggregate
    * (3× row replication instead of cube's 4×). Same SQL-string route
    * as q15/q31 (GROUPING SETS has no stable DataFrame-API spelling). */
  def q39GroupingSets: Q = (spark, dir) => {
    Tables.orders(spark, dir)
      .select(col("o_orderstatus").as("st"), col("o_orderpriority").as("pri"),
        col("o_totalprice"))
      .createOrReplaceTempView("graft_q39_src")
    spark.sql(
      """SELECT COALESCE(st, 'ALL') AS st_g, COALESCE(pri, 'ALL') AS pri_g,
        |       COUNT(*) AS n,
        |       SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS total_e2
        |FROM graft_q39_src
        |GROUP BY GROUPING SETS ((st), (pri), ())
        |ORDER BY st_g, pri_g""".stripMargin)
  }

  val q39Sql: String =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS st_g,
      |       COALESCE(o_orderpriority, 'ALL') AS pri_g,
      |       COUNT(*) AS n,
      |       CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS total_e2
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY st_g, pri_g""".stripMargin

  /** #79 (q42): time-series resample — hourly event counts on a dense
    * calendar spine with zero-fill, so downstream models see every
    * (hour, type) cell even when nothing happened. The spine explodes
    * from a single min/max row (`sequence` of hours), crosses the tiny
    * distinct-type set (broadcast), and left-joins the q14-style
    * grouped counts: one aggregation shuffle total; the spine side
    * never shuffles at any data size. */
  def q42Resample: Q = (spark, dir) => {
    val ev = Tables.events(spark, dir)
      .select(date_trunc("hour", col("ts")).cast(TimestampType).as("h"), col("event_type"))
    val counts = ev.groupBy("h", "event_type").agg(count(lit(1)).as("n"))
    val spine = ev.agg(min("h").as("h0"), max("h").as("h1"))
      .select(explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("h"))
    val types = ev.select("event_type").distinct()
    spine.crossJoin(broadcast(types))
      .join(counts, Seq("h", "event_type"), "left")
      .select(col("h").as("hour_ts"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("hour_ts", "event_type")
  }

  val q42Sql: String =
    """WITH ev AS (
      |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h, event_type FROM events),
      |counts AS (
      |  SELECT h, event_type, CAST(COUNT(*) AS BIGINT) AS n FROM ev GROUP BY h, event_type),
      |spine AS (
      |  SELECT unnest(generate_series(MIN(h), MAX(h), INTERVAL 1 HOUR)) AS h FROM ev),
      |typ AS (SELECT DISTINCT event_type FROM ev)
      |SELECT spine.h AS hour_ts, typ.event_type AS event_type, COALESCE(counts.n, 0) AS n
      |FROM spine CROSS JOIN typ
      |LEFT JOIN counts ON counts.h = spine.h AND counts.event_type = typ.event_type
      |ORDER BY hour_ts, typ.event_type""".stripMargin

  /** #50: edit-distance fuzzy matching — ALL name pairs within
    * Levenshtein ≤ 4 (exact semantics, no banding loss), via the
    * q-gram prefix-filter join ([[graft.dedup.EdJoin]]). Round 1
    * banded both sides by `length/3` and silently dropped cross-band
    * pairs; round 3's ±1-band probes fixed the semantics but kept a
    * band-population-quadratic candidate join (every same-length-band
    * string pair was compared — linear bands ⇒ Θ(Σ band²) at 100×).
    * Ed-Join candidates are bounded by RARE-gram co-occurrence
    * instead: each string joins only on its q·k+1 rarest trigram
    * occurrences, so candidate volume tracks gram rarity, not band
    * population, and every stage is a linear shuffle. */
  def q32EditDistance: Q = (spark, dir) =>
    graft.dedup.EdJoin.selfJoin(Tables.part(spark, dir), "p_name", maxDist = 4)
      .orderBy("n1", "n2")

  val q32Sql: String =
    """WITH names AS (SELECT DISTINCT p_name FROM part)
      |SELECT a.p_name AS n1, b.p_name AS n2,
      |       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
      |FROM names a JOIN names b
      |  ON a.p_name < b.p_name
      | AND abs(length(a.p_name) - length(b.p_name)) <= 4
      |WHERE levenshtein(a.p_name, b.p_name) <= 4
      |ORDER BY n1, n2""".stripMargin

  /** #51: deterministic array collection — per-user sorted distinct
    * event types (collect_set order is nondeterministic; sort_array
    * canonicalizes). */
  def q33CollectSorted: Q = (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(
        array_join(sort_array(collect_set(col("event_type"))), ",").as("types"),
        count(lit(1)).as("n"))
      .orderBy("user_id")

  val q33Sql: String =
    """SELECT user_id,
      |       array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
      |       COUNT(*) AS n
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** #59: point-in-interval range join with NO equi-key — each
    * (≥3-event) session counts purchase events from OTHER users
    * inside its [start, end] window. A naive plan is a cartesian
    * product; here each interval explodes over the hour buckets it
    * covers and each point carries its single hour bucket, so the
    * match becomes an equi-join on the bucket + an exact BETWEEN
    * filter. Lossless (a contained point's bucket is always among the
    * interval's buckets) and each (session, point) pair meets exactly
    * once (the point has ONE bucket). Work is Θ(points + Σ bucket
    * co-occupancy) — the standard bin-blocked range join. */
  def q37RangeJoin: Q = (spark, dir) => {
    val sess = sessionsOf(spark, dir).filter(col("n_events") >= 3)
    val pts = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
              date_trunc("second", col("ts")).cast(TimestampType).as("pts"))
      .withColumn("bin", date_trunc("hour", col("pts")))
    val binned = sess.withColumn("bin",
      explode(sequence(date_trunc("hour", col("session_start")),
                       date_trunc("hour", col("session_end")),
                       expr("INTERVAL 1 HOUR"))))
    binned.join(pts,
        binned("bin") === pts("bin") &&
        col("pts").between(col("session_start"), col("session_end")) &&
        col("p_user") =!= binned("user_id"), "left")
      .groupBy("user_id", "session_id", "session_start")
      .agg(count(col("pts")).as("n_other_purchases"))
      .orderBy("user_id", "session_id")
  }

  val q37Sql: String =
    """WITH g AS (
      |  SELECT user_id, ts,
      |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
      |              THEN 1 ELSE 0 END AS is_break
      |  FROM events),
      |s AS (
      |  SELECT user_id, ts,
      |         CAST(SUM(is_break) OVER (PARTITION BY user_id ORDER BY ts
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM g),
      |sess AS (
      |  SELECT user_id, session_id, COUNT(*) AS n_events,
      |         CAST(date_trunc('second', MIN(ts)) AS TIMESTAMP) AS session_start,
      |         CAST(date_trunc('second', MAX(ts)) AS TIMESTAMP) AS session_end
      |  FROM s GROUP BY user_id, session_id HAVING COUNT(*) >= 3),
      |p AS (
      |  SELECT user_id AS p_user, CAST(date_trunc('second', ts) AS TIMESTAMP) AS pts
      |  FROM events WHERE event_type = 'purchase')
      |SELECT sess.user_id, sess.session_id, sess.session_start,
      |       COUNT(p.pts) AS n_other_purchases
      |FROM sess LEFT JOIN p
      |  ON p.pts BETWEEN sess.session_start AND sess.session_end
      | AND p.p_user <> sess.user_id
      |GROUP BY sess.user_id, sess.session_id, sess.session_start
      |ORDER BY user_id, session_id""".stripMargin

  /** #63: supplier roster rollout — the one testdata table no other
    * query touches: supplier ⋈ nation ⋈ region (both dims broadcast),
    * per-nation counts + exact decimal balances + name extremes. */
  def q38SupplierStats: Q = (spark, dir) => {
    val sup = Tables.supplier(spark, dir)
    val nat = broadcast(Tables.nation(spark, dir))
    val reg = broadcast(Tables.region(spark, dir))
    sup
      .join(nat, sup("s_nationkey") === nat("n_nationkey"))
      .join(reg, nat("n_regionkey") === reg("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        count(lit(1)).as("n_suppliers"),
        Exact.eSum(col("s_acctbal"), 2).as("total_bal_e2"),
        sum(when(col("s_acctbal") < 0, 1L).otherwise(0L)).as("n_negative"),
        min("s_name").as("first_name"),
        max("s_name").as("last_name"))
      .orderBy("r_name", "n_name")
  }

  val q38Sql: String =
    """SELECT r_name, n_name,
      |       COUNT(*) AS n_suppliers,
      |       CAST(SUM(CAST(FLOOR(s_acctbal * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS total_bal_e2,
      |       CAST(SUM(CASE WHEN s_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative,
      |       MIN(s_name) AS first_name,
      |       MAX(s_name) AS last_name
      |FROM supplier
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  /** #99 (q50): window distribution statistics — ntile quartiles,
    * percent_rank, cume_dist per market segment, the standard
    * rank-normalization step before stratified policies (credit bands,
    * per-stratum thresholds).
    *
    * NOT a rank window over the segment: `c_mktsegment` has 5 values,
    * and `ntile/percent_rank` over `partitionBy(segment)` buffer-sorts
    * a fifth of the table in ONE task — at 100× the query serializes
    * regardless of cluster size. Instead the rank of each row is
    * DERIVED from a count-by-value histogram (ExactPercentile's
    * regime):
    *
    *   1. `row_number` within (seg, bal_cents) ordered by custkey —
    *      a HIGH-cardinality partition key, every task tiny.
    *   2. histogram `groupBy(seg, bal_cents) → cnt`, cumulative count
    *      of SMALLER values per segment. The only per-segment window
    *      runs over the histogram, whose size is bounded by the
    *      distinct VALUE DOMAIN (≤1.1M cent values), not row count.
    *   3. global rank r = cum_before + row_number; n per segment is a
    *      5-row broadcast. ntile/percent_rank/cume_dist are then pure
    *      integer arithmetic in r and n: the order-by (acctbal,
    *      custkey) is tie-free, so percent_rank = (r−1)/(n−1),
    *      cume_dist = r/n, and ntile(4) is the first-buckets-larger
    *      split. Half-up ×1000 via the exact-rational identity
    *      floor(a/b + ½) = (2a+b) div 2b — no float anywhere, both
    *      engines bit-identical (stronger than the previous shared
    *      IEEE path). */
  def q50WindowStats: Q = (spark, dir) => {
    val base = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment").as("seg"),
        round(col("c_acctbal") * 100, 0).cast(LongType).as("bal_cents"))
    graft.functions.HistogramRank
      .withRank(base, Seq("seg"), "bal_cents", Seq("c_custkey"))
      .select(
        col("c_custkey"), col("seg"), col("bal_cents"),
        expr(graft.functions.HistogramRank.ntileExpr(4))
          .cast(LongType).as("quartile"),
        expr("CASE WHEN n = 1 THEN 0L ELSE " +
          graft.functions.HistogramRank.milliExpr("r - 1", "n - 1") + " END")
          .cast(LongType).as("pr_milli"),
        expr(graft.functions.HistogramRank.milliExpr("r", "n"))
          .cast(LongType).as("cd_milli"))
      .orderBy("c_custkey")
  }

  val q50Sql: String =
    """WITH base AS (
      |  SELECT c_custkey, c_mktsegment AS seg,
      |         CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS bal_cents
      |  FROM customer),
      |rn AS (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY seg, bal_cents
      |                                    ORDER BY c_custkey) AS BIGINT) AS rn
      |  FROM base),
      |hist AS (SELECT seg, bal_cents, COUNT(*) AS cnt FROM base GROUP BY 1, 2),
      |cum AS (
      |  SELECT seg, bal_cents,
      |         CAST(COALESCE(SUM(cnt) OVER (PARTITION BY seg ORDER BY bal_cents
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |           AS cum_before
      |  FROM hist),
      |tot AS (SELECT seg, CAST(SUM(cnt) AS BIGINT) AS n FROM hist GROUP BY 1),
      |ranked AS (
      |  SELECT rn.c_custkey, rn.seg, rn.bal_cents,
      |         cum.cum_before + rn.rn AS r, tot.n
      |  FROM rn JOIN cum USING (seg, bal_cents) JOIN tot USING (seg))
      |SELECT c_custkey, seg, bal_cents,
      |       CAST(CASE WHEN r <= (n % 4) * ((n // 4) + 1)
      |                 THEN (r + (n // 4)) // ((n // 4) + 1)
      |                 ELSE (n % 4) + (r - (n % 4) * ((n // 4) + 1) + (n // 4) - 1)
      |                                // (n // 4)
      |            END AS BIGINT) AS quartile,
      |       CAST(CASE WHEN n = 1 THEN 0
      |                 ELSE (2 * (r - 1) * 1000 + (n - 1)) // (2 * (n - 1))
      |            END AS BIGINT) AS pr_milli,
      |       CAST((2 * r * 1000 + n) // (2 * n) AS BIGINT) AS cd_milli
      |FROM ranked ORDER BY c_custkey""".stripMargin

  /** #100 (q51): interval sweep-line — peak concurrent in-transit
    * shipments per supplier. Each returned lineitem occupies
    * [shipdate, shipdate+7d); the sweep turns intervals into ±1
    * boundary events and a running sum, the classic O(n log n)
    * overlap-counting algorithm (vs the quadratic interval self-join).
    * The running sum partitions by supplier — no global sort, every
    * partition an independent streamed window; both window passes and
    * the final aggregate share ONE hash exchange. Boundary order is
    * total (day, delta DESC, orderkey, linenumber), so a start on the
    * day another interval ends counts as overlapping, and RANGE vs
    * ROWS framing cannot differ. */
  def q51IntervalSweep: Q = (spark, dir) => {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate").cast(DateType).as("d0"))
    val starts = li.select(col("l_suppkey"), col("d0").as("day"),
      lit(1L).as("delta"), col("l_orderkey"), col("l_linenumber"))
    val ends = li.select(col("l_suppkey"), date_add(col("d0"), 7).as("day"),
      lit(-1L).as("delta"), col("l_orderkey"), col("l_linenumber"))
    val sweep = Window.partitionBy("l_suppkey")
      .orderBy(col("day").asc, col("delta").desc, col("l_orderkey").asc,
        col("l_linenumber").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy("l_suppkey")
    starts.union(ends)
      .withColumn("active", sum("delta").over(sweep))
      .withColumn("peak", max("active").over(whole))
      .filter(col("active") === col("peak"))
      .groupBy("l_suppkey")
      .agg(max("active").as("peak"), min("day").as("first_peak_day"))
      .orderBy("l_suppkey")
  }

  val q51Sql: String =
    """WITH li AS (
      |  SELECT l_suppkey, l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS d0
      |  FROM lineitem WHERE l_returnflag = 'R'),
      |ev AS (
      |  SELECT l_suppkey, d0 AS day, 1 AS delta, l_orderkey, l_linenumber FROM li
      |  UNION ALL
      |  SELECT l_suppkey, d0 + 7 AS day, -1 AS delta, l_orderkey, l_linenumber FROM li),
      |sw AS (
      |  SELECT l_suppkey, day,
      |         SUM(delta) OVER (PARTITION BY l_suppkey
      |                          ORDER BY day ASC, delta DESC, l_orderkey ASC, l_linenumber ASC
      |                          ROWS UNBOUNDED PRECEDING) AS active
      |  FROM ev),
      |pk AS (SELECT l_suppkey, day, active,
      |              MAX(active) OVER (PARTITION BY l_suppkey) AS peak FROM sw)
      |SELECT l_suppkey, CAST(MAX(active) AS BIGINT) AS peak, MIN(day) AS first_peak_day
      |FROM pk WHERE active = peak
      |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin

  /** #101 (q52): exponentially-weighted moving average — per event
    * type's daily revenue, weights 8:4:2:1 over the current + 3
    * preceding days-with-data (the finite-memory EWMA; an infinite
    * alpha-recursion is not expressible as a frame and its doubles
    * drift cross-engine). Integer numerator/denominator, one shared
    * IEEE division, half-up rounding — exact on both engines (q26's
    * convention). Same single-exchange window shape as q26. */
  def q52Ewma: Q = (spark, dir) => ewmaDaily(Tables.events(spark, dir))

  /** The batch EWMA plan, shared with the spec's streaming-parity
    * check ([[graft.streaming.EventStream.ewmaStream]] must emit
    * bit-identical rows for closed days). */
  def ewmaDaily(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), col("ts").cast(DateType).as("day"))
      .agg(sum(round(col("value") * 100, 0).cast(LongType)).as("cents"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val (c1, c2, c3) = (lag("cents", 1).over(w), lag("cents", 2).over(w),
      lag("cents", 3).over(w))
    val num = col("cents") * 8 + coalesce(c1, lit(0L)) * 4 +
      coalesce(c2, lit(0L)) * 2 + coalesce(c3, lit(0L))
    val den = lit(8) + when(c1.isNotNull, 4).otherwise(0) +
      when(c2.isNotNull, 2).otherwise(0) + when(c3.isNotNull, 1).otherwise(0)
    daily
      .withColumn("ewma_milli",
        floor(num * lit(1000.0) / den + lit(0.5)).cast(LongType))
      .orderBy("event_type", "day")
  }

  val q52Sql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |l AS (
      |  SELECT event_type, day, cents,
      |         lag(cents, 1) OVER w AS c1, lag(cents, 2) OVER w AS c2,
      |         lag(cents, 3) OVER w AS c3
      |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day))
      |SELECT event_type, day, cents,
      |       CAST(FLOOR((cents * 8 + COALESCE(c1, 0) * 4 + COALESCE(c2, 0) * 2
      |                   + COALESCE(c3, 0)) * 1000.0
      |                  / (8 + CASE WHEN c1 IS NULL THEN 0 ELSE 4 END
      |                       + CASE WHEN c2 IS NULL THEN 0 ELSE 2 END
      |                       + CASE WHEN c3 IS NULL THEN 0 ELSE 1 END) + 0.5) AS BIGINT)
      |         AS ewma_milli
      |FROM l ORDER BY event_type, day""".stripMargin

  /** #102 (q53): co-occurrence mining (market-basket) — brand pairs
    * appearing in the same order, with a support threshold. The same
    * shape as word co-occurrence over documents. The pair expansion
    * goes through [[graft.etl.CoOccur.pairs]], which caps each basket
    * at 64 distinct items BEFORE the self-join — without the cap one
    * hot basket (a stopword-heavy document at k ≈ 10⁵) emits k² pairs
    * on a single join key, which AQE cannot split. TPC-H baskets are
    * k ≤ 7, so the cap is invisible here (the oracle carries the
    * identical row_number truncation — a no-op both sides), but the
    * operator stays corpus-linear on ANY distribution. The dimension
    * join is broadcast; the pair join shuffles on orderkey once. */
  def q53CoOccurrence: Q = (spark, dir) => {
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey")
    val part = Tables.part(spark, dir).select("p_partkey", "p_brand")
    val ob = li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("brand"))
    graft.etl.CoOccur.pairs(ob, "ok", "brand", maxItems = 64)
      .select(col("a").as("b1"), col("b").as("b2"))
      .groupBy("b1", "b2").agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= 10)
      .orderBy("b1", "b2")
  }

  val q53Sql: String =
    """WITH ob AS (
      |  SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |capped AS (
      |  SELECT ok, brand FROM (
      |    SELECT ok, brand,
      |           row_number() OVER (PARTITION BY ok ORDER BY brand) AS rn
      |    FROM ob) WHERE rn <= 64)
      |SELECT a.brand AS b1, b.brand AS b2, CAST(COUNT(*) AS BIGINT) AS n_orders
      |FROM capped a JOIN capped b ON a.ok = b.ok AND a.brand < b.brand
      |GROUP BY 1, 2 HAVING COUNT(*) >= 10
      |ORDER BY b1, b2""".stripMargin

  /** #103 (q54): anomaly flagging — days whose revenue sits more than
    * 2 population standard deviations from their event type's mean
    * (2σ — this near-uniform synthetic daily series has no 3σ days,
    * and an always-empty flag set would be a vacuous oracle).
    * The z² > 4 test is done ENTIRELY in integers:
    * (x·n − s)² > 4·(n·ss − s²) multiplies the definition through by
    * n², so no mean, no sqrt, no float — exact on both engines
    * (decimal(38) here, HUGEINT in the oracle; the squares overflow
    * int64 past ~sf1). Two passes over the tiny (type, day) aggregate,
    * both on one hash exchange; the corpus is touched once. */
  def q54Anomaly: Q = (spark, dir) => {
    val dec = DataTypes.createDecimalType(38, 0)
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), col("ts").cast(DateType).as("day"))
      .agg(sum(round(col("value") * 100, 0).cast(LongType)).as("cents"))
    val w = Window.partitionBy("event_type")
    val dev = (col("cents") * col("n") - col("s")).cast(dec)
    val spread = col("n").cast(dec) * col("ss").cast(dec) -
      col("s").cast(dec) * col("s").cast(dec)
    daily
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s", sum("cents").over(w))
      .withColumn("ss", sum(col("cents") * col("cents")).over(w))
      .filter(dev * dev > lit(4).cast(dec) * spread)
      .select(col("event_type"), col("day"), col("cents"))
      .orderBy("event_type", "day")
  }

  val q54Sql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |st AS (
      |  SELECT event_type, day, cents,
      |         COUNT(*) OVER w AS n, SUM(cents) OVER w AS s,
      |         SUM(cents * cents) OVER w AS ss
      |  FROM daily WINDOW w AS (PARTITION BY event_type))
      |SELECT event_type, day, cents
      |FROM st
      |WHERE CAST(cents * n - s AS HUGEINT) * CAST(cents * n - s AS HUGEINT)
      |      > 4 * (CAST(n AS HUGEINT) * CAST(ss AS HUGEINT)
      |             - CAST(s AS HUGEINT) * CAST(s AS HUGEINT))
      |ORDER BY event_type, day""".stripMargin

  /** #109 (q55): quantile binning — assign each row its within-group
    * price decile and aggregate per bin (the feature-engineering
    * "bucketize by quantile" step: equal-population bands for
    * stratified policies, monotone binning for models). Built on
    * [[graft.functions.HistogramRank]] — the same scale-safe histogram
    * rank path as q50, NOT `ntile(10)` over the 3-value returnflag
    * (l_returnflag × ~n rows would buffer-sort a third of lineitem in
    * one task). The (orderkey, linenumber) tie-break is the lineitem
    * PK, so ranks are tie-free and the decile assignment is exact
    * integer arithmetic on both engines. */
  def q55QuantileBins: Q = (spark, dir) => {
    import graft.functions.HistogramRank.ntileExpr
    // r16 (guide §2.4): the per-decile aggregates are a pure function
    // of the (flag, value) HISTOGRAM — rows of equal value are
    // interchangeable across a decile boundary, so which tied row
    // lands on which side never changes any decile's (count, sum,
    // min, max). The r15 form ranked every corpus row (a corpus-scale
    // row_number window) and joined the rank frames back onto the
    // rows (two more corpus-scale shuffles) only to aggregate the
    // per-row deciles straight back down. Here each histogram row —
    // cnt occurrences of one value spanning global ranks
    // [cum+1, cum+cnt] — explodes into the ≤10 deciles its rank
    // interval overlaps, weighted by the overlap length: ONE corpus
    // pass (the histogram groupBy), everything after it domain-scale.
    // The flag-partitioned histogram windows below are exactly the
    // ones HistogramRank.withRank already ran; nothing got coarser.
    val base = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("flag"),
        round(col("l_extendedprice") * 100, 0).cast(LongType).as("price_cents"))
    val hist = base.groupBy("flag", "price_cents")
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy("flag").orderBy("price_cents")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy("flag")
    val h = hist
      .withColumn("cum", coalesce(sum("cnt").over(wCum), lit(0L)))
      .withColumn("n", sum("cnt").over(wAll))
    // ntile(10) rank intervals, Spark/ANSI semantics (first n % 10
    // deciles one row larger). lo/hi are the decile's closed-form
    // rank bounds; a value's interval [cum+1, cum+cnt] overlaps every
    // decile from ntile(cum+1) to ntile(cum+cnt) by ≥ 1 rank, so the
    // explode is never wasted and min/max need no overlap guard.
    // (n < 10 keeps every hit decile in the THEN branch — the ELSE's
    // div-by-zero is never evaluated, as in ntileExpr itself.)
    val loSql = "CASE WHEN decile <= n % 10 " +
      "THEN (decile - 1) * ((n div 10) + 1) + 1 " +
      "ELSE (n % 10) * ((n div 10) + 1) + (decile - 1 - (n % 10)) * (n div 10) + 1 END"
    val hiSql = "CASE WHEN decile <= n % 10 " +
      "THEN decile * ((n div 10) + 1) " +
      "ELSE (n % 10) * ((n div 10) + 1) + (decile - (n % 10)) * (n div 10) END"
    h.withColumn("decile",
        explode(sequence(
          expr(ntileExpr(10, r = "cum + 1", n = "n")).cast(LongType),
          expr(ntileExpr(10, r = "cum + cnt", n = "n")).cast(LongType))))
      .withColumn("take",
        least(expr(hiSql), col("cum") + col("cnt")) -
          greatest(expr(loSql), col("cum") + 1) + 1)
      .groupBy("flag", "decile")
      .agg(sum("take").cast(LongType).as("n_rows"),
        sum(col("price_cents") * col("take")).as("sum_cents"),
        min("price_cents").as("min_cents"), max("price_cents").as("max_cents"))
      .orderBy("flag", "decile")
  }

  val q55Sql: String =
    """WITH base AS (
      |  SELECT l_returnflag AS flag,
      |         CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS price_cents,
      |         l_orderkey, l_linenumber
      |  FROM lineitem),
      |rn AS (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY flag, price_cents
      |                 ORDER BY l_orderkey, l_linenumber) AS BIGINT) AS rn
      |  FROM base),
      |hist AS (SELECT flag, price_cents, COUNT(*) AS cnt FROM base GROUP BY 1, 2),
      |cum AS (
      |  SELECT flag, price_cents,
      |         CAST(COALESCE(SUM(cnt) OVER (PARTITION BY flag ORDER BY price_cents
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |           AS cum_before
      |  FROM hist),
      |tot AS (SELECT flag, CAST(SUM(cnt) AS BIGINT) AS n FROM hist GROUP BY 1),
      |ranked AS (
      |  SELECT rn.flag, rn.price_cents, cum.cum_before + rn.rn AS r, tot.n
      |  FROM rn JOIN cum USING (flag, price_cents) JOIN tot USING (flag)),
      |dec AS (
      |  SELECT flag, price_cents,
      |         CASE WHEN r <= (n % 10) * ((n // 10) + 1)
      |              THEN (r + (n // 10)) // ((n // 10) + 1)
      |              ELSE (n % 10) + (r - (n % 10) * ((n // 10) + 1) + (n // 10) - 1)
      |                              // (n // 10)
      |         END AS decile
      |  FROM ranked)
      |SELECT flag, CAST(decile AS BIGINT) AS decile,
      |       CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(SUM(price_cents) AS BIGINT) AS sum_cents,
      |       CAST(MIN(price_cents) AS BIGINT) AS min_cents,
      |       CAST(MAX(price_cents) AS BIGINT) AS max_cents
      |FROM dec GROUP BY 1, 2 ORDER BY flag, decile""".stripMargin

  /** #112 (q56): gap-fill by linear interpolation — the time-series
    * repair step between resampling (q42's zero-fill is wrong for
    * level-like series) and modeling: missing days get the straight
    * line between their nearest known neighbors. The series is daily
    * revenue from high-value events (cents > 20000), deliberately
    * sparse so gaps exist at every SF. Each type's series is filled
    * between ITS first and last observed day (no values invented
    * before a series starts or after it ends).
    *
    * One pass, no self-join, no spine join: lead() pairs each known
    * day with its next known day, then a per-row sequence() explode
    * bridges the gap densely, interpolating at exact integer
    * arithmetic — (prev·(dn−d) + next·(d−dp)) / (dn−dp) rounded
    * half-up via (2a+b) div 2b, all terms nonnegative, so Spark `div`
    * and DuckDB `//` agree. Scale shape: the raw table is scanned
    * ONCE into the grouped daily aggregate; the single window (lead)
    * runs over the DOMAIN-BOUNDED daily frame (≤ types × days rows —
    * q52's regime); the explode fans out at most one row per calendar
    * day per gap. Contrast the textbook dense-spine + forward/backward
    * window shape: that needs the corpus scanned once per spine
    * consumer (Catalyst prunes the three daily subplans differently,
    * so their exchanges never canonicalize equal and AQE cannot reuse
    * them) — measured 3 scans; this shape needs one. */
  def q56GapFill: Q = (spark, dir) => {
    val daily = Tables.events(spark, dir)
      .select(col("event_type"), col("ts").cast(DateType).as("day"),
        round(col("value") * 100, 0).cast(LongType).as("cents"))
      .filter(col("cents") > 20000)
      .groupBy("event_type", "day").agg(sum("cents").as("cents"))
    val w = Window.partitionBy("event_type").orderBy("day")
    daily
      .withColumn("nd", lead("day", 1).over(w))
      .withColumn("nc", lead("cents", 1).over(w))
      .select(col("event_type"), col("day").as("d0"), col("cents"),
        col("nd"), col("nc"),
        explode(sequence(col("day"),
          coalesce(date_sub(col("nd"), 1), col("day")))).as("fill_day"))
      .withColumn("filled_cents",
        when(col("fill_day") === col("d0"), col("cents"))
          .otherwise(expr(
            """(2 * (cents * datediff(nd, fill_day) + nc * datediff(fill_day, d0))
              |   + datediff(nd, d0)) div (2 * datediff(nd, d0))""".stripMargin)))
      .select(col("event_type"), col("fill_day").as("day"),
        col("filled_cents"), (col("fill_day") =!= col("d0")).as("is_gap"))
      .orderBy("event_type", "day")
  }

  val q56Sql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events WHERE CAST(ROUND(value * 100, 0) AS BIGINT) > 20000
      |  GROUP BY 1, 2),
      |nb AS (
      |  SELECT event_type, day AS d0, cents,
      |         lead(day) OVER w AS nd, lead(cents) OVER w AS nc
      |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
      |fill AS (
      |  SELECT event_type, d0, cents, nd, nc,
      |         UNNEST(generate_series(d0, COALESCE(nd - 1, d0), INTERVAL 1 DAY))::DATE
      |           AS fill_day
      |  FROM nb)
      |SELECT event_type, fill_day AS day,
      |       CAST(CASE WHEN fill_day = d0 THEN cents
      |                 ELSE (2 * (cents * datediff('day', fill_day, nd)
      |                            + nc * datediff('day', d0, fill_day))
      |                       + datediff('day', d0, nd)) // (2 * datediff('day', d0, nd))
      |            END AS BIGINT) AS filled_cents,
      |       fill_day <> d0 AS is_gap
      |FROM fill ORDER BY event_type, day""".stripMargin

  /** #116 (q57): percentile winsorization — clip each group's values
    * into its own [p05, p95] band and report the damage (clip counts,
    * sums before/after): the outlier-taming step a feature pipeline
    * runs before normalization, and the aggregate complement of t12's
    * outlier FLAGGING. Bands come from [[graft.functions.ExactPercentile]]
    * (histogram path — no buffering percentile aggregate, q29's
    * regime) at output scale 10⁴ so the 1/20 and 19/20 fractions are
    * exact integers; values join the 3-row band frame broadcast, so
    * the corpus sees two aggregate-only passes (one histogram, one
    * clip-sum) and no wide shuffle. Sums stay int64 through ~sf100
    * (6·10¹⁷ < 2⁶³); past that, lift to decimal like q54. */
  def q57Winsorize: Q = (spark, dir) => {
    import graft.functions.ExactPercentile, ExactPercentile.Pct
    // r16 (guide §2.4): the clip report is a pure function of the
    // (flag, value) HISTOGRAM — the r15 form scanned lineitem twice
    // (once inside ExactPercentile's histogram, once for the
    // clip-sum over the raw rows). Build the count-by-value histogram
    // ONCE (the q95 checkpoint idiom), feed its non-null rows to the
    // rank pick for the bands, and weight the clip aggregate by the
    // counts: every sum/count below is identical term-for-term to the
    // per-row form, so the output is bit-identical. Overflow bound
    // unchanged (Σ cnt·v_e4 = Σ_rows v_e4).
    val counts = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100, 0).cast(LongType).as("v"))
      .groupBy("l_returnflag", "v").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val bands = ExactPercentile.quantilesOfCounts(
      counts.filter(col("v").isNotNull), Seq("l_returnflag"),
      valPow = 2, outPow = 4,
      Seq(Pct("lo_e4", 1, 20), Pct("hi_e4", 19, 20)))
    counts
      .withColumn("v_e4", col("v") * 100)
      .join(broadcast(bands), "l_returnflag")
      .withColumn("w_e4", greatest(col("lo_e4"), least(col("hi_e4"), col("v_e4"))))
      .groupBy("l_returnflag")
      .agg(sum("cnt").cast(LongType).as("n_rows"),
        sum(when(col("v_e4") < col("lo_e4"), col("cnt")).otherwise(0L))
          .cast(LongType).as("n_clip_low"),
        sum(when(col("v_e4") > col("hi_e4"), col("cnt")).otherwise(0L))
          .cast(LongType).as("n_clip_high"),
        sum(col("v_e4") * col("cnt")).as("sum_raw_e4"),
        sum(col("w_e4") * col("cnt")).as("sum_wins_e4"),
        min("lo_e4").as("lo_e4"), min("hi_e4").as("hi_e4"))
      .orderBy("l_returnflag")
  }

  val q57Sql: String =
    """WITH bands AS (
      |  SELECT l_returnflag,
      |         CAST(ROUND(quantile_cont(l_extendedprice, 0.05) * 10000, 0) AS BIGINT) AS lo_e4,
      |         CAST(ROUND(quantile_cont(l_extendedprice, 0.95) * 10000, 0) AS BIGINT) AS hi_e4
      |  FROM lineitem GROUP BY 1),
      |v AS (
      |  SELECT l.l_returnflag,
      |         CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT) * 100 AS v_e4,
      |         b.lo_e4, b.hi_e4
      |  FROM lineitem l JOIN bands b USING (l_returnflag))
      |SELECT l_returnflag,
      |       CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(COUNT(*) FILTER (v_e4 < lo_e4) AS BIGINT) AS n_clip_low,
      |       CAST(COUNT(*) FILTER (v_e4 > hi_e4) AS BIGINT) AS n_clip_high,
      |       CAST(SUM(v_e4) AS BIGINT) AS sum_raw_e4,
      |       CAST(SUM(GREATEST(lo_e4, LEAST(hi_e4, v_e4))) AS BIGINT) AS sum_wins_e4,
      |       CAST(MIN(lo_e4) AS BIGINT) AS lo_e4,
      |       CAST(MIN(hi_e4) AS BIGINT) AS hi_e4
      |FROM v GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  /** #121 (q58): distribution-drift audit — per event type, compare
    * the value distribution of the CURRENT window (days 16+) against
    * the REFERENCE window (days 1–15) as total-variation distance over
    * 10 fixed value buckets: TV_milli = Σ_b |1000·o_ref,b div N_ref −
    * 1000·o_cur,b div N_cur| — the monitoring gate an ML pipeline
    * runs before trusting a new data slice. TV on integer
    * milli-proportions (not χ²: its (o·N)² cross-terms overflow even
    * decimal(38) once windows pass ~10⁸ rows; TV's per-bucket division
    * normalizes FIRST, so counts of any magnitude fit int64) — exact
    * and deterministic on both engines. Shape: one scan → tiny
    * (type, window, bucket) aggregate → per-type fold on one hash
    * exchange; the drift frame is domain-bounded. */
  def q58Drift: Q = (spark, dir) => {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"),
        (datediff(col("ts").cast(DateType), lit("2024-01-01").cast(DateType)) < 15)
          .as("is_ref"),
        least(lit(9L), expr(
          "cast(round(value * 100, 0) as bigint) div 5000")).as("bucket"))
    val counts = ev.groupBy("event_type", "bucket")
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("o_ref"),
        sum(when(col("is_ref"), 0L).otherwise(1L)).as("o_cur"))
    val w = Window.partitionBy("event_type")
    counts
      .withColumn("n_ref", sum("o_ref").over(w))
      .withColumn("n_cur", sum("o_cur").over(w))
      .groupBy("event_type")
      .agg(min("n_ref").as("n_ref"), min("n_cur").as("n_cur"),
        sum(abs(expr("1000 * o_ref div n_ref") - expr("1000 * o_cur div n_cur")))
          .as("tv_milli"))
      .orderBy("event_type")
  }

  val q58Sql: String =
    """WITH ev AS (
      |  SELECT event_type,
      |         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) < 15 AS is_ref,
      |         LEAST(9, CAST(ROUND(value * 100, 0) AS BIGINT) // 5000) AS bucket
      |  FROM events),
      |c AS (
      |  SELECT event_type, bucket,
      |         CAST(COUNT(*) FILTER (is_ref) AS BIGINT) AS o_ref,
      |         CAST(COUNT(*) FILTER (NOT is_ref) AS BIGINT) AS o_cur
      |  FROM ev GROUP BY 1, 2),
      |t AS (
      |  SELECT event_type, bucket, o_ref, o_cur,
      |         SUM(o_ref) OVER (PARTITION BY event_type) AS n_ref,
      |         SUM(o_cur) OVER (PARTITION BY event_type) AS n_cur
      |  FROM c)
      |SELECT event_type,
      |       CAST(MIN(n_ref) AS BIGINT) AS n_ref,
      |       CAST(MIN(n_cur) AS BIGINT) AS n_cur,
      |       CAST(SUM(ABS(1000 * o_ref // n_ref - 1000 * o_cur // n_cur)) AS BIGINT)
      |         AS tv_milli
      |FROM t GROUP BY 1 ORDER BY event_type""".stripMargin

  /** #191 (q75): drift between day ranges from persisted histograms —
    * q58's audit served from per-day artifacts: ONE job reduces events
    * to a (day, event_type, bucket) → count histogram stored
    * partitioned by day ([[graft.sources.SketchStore.saveHistogram]]);
    * any ref-vs-current window question then merges the two ranges'
    * kilobyte artifacts by count addition (partition-pruned reads) and
    * runs the integer TV kernel
    * ([[graft.sources.SketchStore.tvDriftFromHistograms]]). At 100 TB,
    * "compare this week against the January baseline" re-reads
    * megabytes of histograms, not either window's events — and adding
    * a day appends one artifact partition. Oracled against q58's OWN
    * full-scan SQL: identical windows ⇒ identical rows, the identity
    * that proves the artifact path loses nothing. */
  def q75DriftFromArtifacts: Q = (spark, dir) => {
    import graft.sources.SketchStore
    val art = StageRoots.rootFor(dir) + "/drift_hists"
    val ev = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("event_type"),
        least(lit(9L), expr(
          "cast(round(value * 100, 0) as bigint) div 5000")).as("bucket"))
    SketchStore.saveHistogram(ev, Seq("day", "event_type"), col("bucket"), 0,
      art, partitionCols = Seq("day"))
    def window(pred: org.apache.spark.sql.Column): DataFrame =
      Readers.parquet(spark, art).filter(pred)
        .groupBy("event_type", "v").agg(sum("cnt").as("cnt"))
    SketchStore.tvDriftFromHistograms(
        window(col("day") <= "2024-01-15"), window(col("day") >= "2024-01-16"),
        Seq("event_type"))
      .orderBy("event_type")
  }

  /** #199 (q77): marketing-touch attribution — per purchase, which
    * touch (view/click) gets the credit under FIRST-touch vs
    * LAST-touch rules, reported as the classic attribution comparison
    * matrix: (first_touch, last_touch) → purchases + revenue (a
    * purchase with no prior touch attributes to 'direct'). The per-row
    * rule is a running carry of the user's touch history — `first`/
    * `last` with ignoreNulls over the STRICTLY-PRIOR rows frame, so an
    * event can never attribute to itself and both rules share ONE
    * user-keyed exchange and sort with the purchase filter applied
    * AFTER the carry (q59's one-exchange discipline). Deterministic
    * (ts, event_id) order; revenue in scaled cents. At 100 TB this is
    * one window over the user key + a configuration-scale aggregate —
    * the shape survives any history length. */
  def q77Attribution: Q = (spark, dir) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type").isin("view", "click"), col("event_type"))
    Tables.events(spark, dir)
      .select("user_id", "ts", "event_id", "event_type", "value")
      .withColumn("first_touch",
        coalesce(first(touch, ignoreNulls = true).over(w), lit("direct")))
      .withColumn("last_touch",
        coalesce(last(touch, ignoreNulls = true).over(w), lit("direct")))
      .filter(col("event_type") === "purchase")
      .groupBy("first_touch", "last_touch")
      .agg(count(lit(1)).as("n_purchases"),
        Exact.eSum(col("value"), 2).as("revenue_e2"))
      .orderBy("first_touch", "last_touch")
  }

  val q77Sql: String =
    """WITH a AS (
      |  SELECT event_type, value,
      |         COALESCE(first_value(CASE WHEN event_type IN ('view','click') THEN event_type END IGNORE NULLS)
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 'direct') AS first_touch,
      |         COALESCE(last_value(CASE WHEN event_type IN ('view','click') THEN event_type END IGNORE NULLS)
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 'direct') AS last_touch
      |  FROM events)
      |SELECT first_touch, last_touch, CAST(COUNT(*) AS BIGINT) AS n_purchases,
      |       CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_e2
      |FROM a WHERE event_type = 'purchase'
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** #211 (q81): week-hour activity profile — the classic operations
    * heatmap (ISO weekday × hour × event type), the view capacity
    * planning and anomaly triage both read ("is Tuesday 03:00 always
    * this quiet?"). Pure map-side-combinable aggregate over a
    * 7·24·|types| domain — the cheapest possible shape at any scale.
    * ISO weekday is computed engine-portably: Spark's `dayofweek`
    * (1=Sunday) remaps to ISO (1=Monday) with integer arithmetic,
    * matching DuckDB's `isodow` exactly. */
  def q81WeekHourProfile: Q = (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy(col("event_type"),
        (((dayofweek(col("ts")) + 5) % 7) + 1).cast(LongType).as("isodow"),
        hour(col("ts")).cast(LongType).as("hour24"))
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type", "isodow", "hour24")

  val q81Sql: String =
    """SELECT event_type, CAST(isodow(ts) AS BIGINT) AS isodow,
      |       CAST(hour(ts) AS BIGINT) AS hour24,
      |       CAST(COUNT(*) AS BIGINT) AS n
      |FROM events GROUP BY 1, 2, 3
      |ORDER BY 1, 2, 3""".stripMargin

  /** #212 (q82): new-vs-returning users per day — the growth-accounting
    * daily split every product dashboard leads with: a user is NEW on
    * their first active day and RETURNING on every later active day.
    * One distinct (day, user) reduction, one per-user min-day
    * aggregate, one day-keyed rollup — all map-side combinable, the
    * per-user frame is user-population-sized regardless of history
    * length (never a window over the event stream). Fully oracled. */
  def q82NewReturning: Q = (spark, dir) => {
    val act = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val firstDay = act.groupBy("user_id").agg(min("day").as("first_day"))
    act.join(firstDay, "user_id")
      .groupBy("day")
      .agg(
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("n_new"),
        sum(when(col("day") =!= col("first_day"), 1L).otherwise(0L))
          .as("n_returning"),
        count(lit(1)).as("n_active"))
      .orderBy("day")
  }

  val q82Sql: String =
    """WITH a AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |f AS (SELECT user_id, MIN(day) AS first_day FROM a GROUP BY 1)
      |SELECT a.day,
      |       CAST(COUNT(*) FILTER (a.day = f.first_day) AS BIGINT) AS n_new,
      |       CAST(COUNT(*) FILTER (a.day <> f.first_day) AS BIGINT) AS n_returning,
      |       CAST(COUNT(*) AS BIGINT) AS n_active
      |FROM a JOIN f USING (user_id)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** #215 (q84): fulfillment-latency percentiles — the warehouse SLA
    * panel on the TPC-H side: per order month, the interpolated
    * p50/p90 of order-to-ship lag in days. The measure is an integer
    * day count, so [[graft.functions.ExactPercentile]] runs in its
    * exact count-by-value regime (domain = a few hundred distinct
    * lags; the splittable histogram path q29 pioneered — never a
    * per-group value buffer). One fact-dimension equi-join + the
    * domain-bounded rank pick; fully oracled vs `quantile_cont`. */
  def q84ShipLatency: Q = (spark, dir) => {
    import graft.functions.ExactPercentile, ExactPercentile.Pct
    val lag = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate")),
        "l_orderkey")
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("omonth"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast(LongType)
          .as("lag_days"))
    ExactPercentile.quantiles(lag, Seq("omonth"), col("lag_days"),
        valPow = 0, outPow = 3,
        Seq(Pct("p50_lag_milli", 50, 100), Pct("p90_lag_milli", 90, 100)))
      .orderBy("omonth")
  }

  val q84Sql: String =
    """SELECT strftime(o_orderdate, '%Y-%m') AS omonth,
      |       CAST(ROUND(quantile_cont(datediff('day', o_orderdate, l_shipdate), 0.5) * 1000, 0) AS BIGINT) AS p50_lag_milli,
      |       CAST(ROUND(quantile_cont(datediff('day', o_orderdate, l_shipdate), 0.9) * 1000, 0) AS BIGINT) AS p90_lag_milli
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** #216 (q85): session-size profile — q20's sessions rolled into the
    * engagement histogram a product team reads (how many sessions are
    * one-shot bounces vs long engagements, and how long each band
    * runs): per n_events band, session count, total events, and the
    * half-up mean duration in seconds. Bands are fixed literals (the
    * grouping domain is 5 rows at any scale); duration arithmetic is
    * integer seconds on both engines, mean via the (2a+b) div 2b
    * half-up identity on nonnegative sums. One aggregate over the
    * session frame q20 already produces. */
  def q85SessionProfile: Q = (spark, dir) => {
    val s = sessionsOf(spark, dir)
      .withColumn("dur_s",
        (unix_timestamp(col("session_end")) -
          unix_timestamp(col("session_start"))).cast(LongType))
      .withColumn("band",
        when(col("n_events") === 1, "1")
          .when(col("n_events") === 2, "2")
          .when(col("n_events") <= 5, "3_5")
          .when(col("n_events") <= 10, "6_10")
          .otherwise("11p"))
    s.groupBy("band")
      .agg(count(lit(1)).as("n_sessions"),
        sum("n_events").as("total_events"),
        expr("(2 * sum(dur_s) + count(1)) div (2 * count(1))")
          .as("mean_dur_s"))
      .orderBy("band")
  }

  // embeds q20Sql (strict is fine: q20Sql is defined textually above)
  lazy val q85Sql: String =
    s"""WITH sess AS ($q20Sql),
       |b AS (
       |  SELECT CASE WHEN n_events = 1 THEN '1'
       |              WHEN n_events = 2 THEN '2'
       |              WHEN n_events <= 5 THEN '3_5'
       |              WHEN n_events <= 10 THEN '6_10'
       |              ELSE '11p' END AS band,
       |         n_events,
       |         CAST(date_diff('second', session_start, session_end) AS BIGINT) AS dur_s
       |  FROM sess)
       |SELECT band, CAST(COUNT(*) AS BIGINT) AS n_sessions,
       |       CAST(SUM(n_events) AS BIGINT) AS total_events,
       |       CAST((2 * SUM(dur_s) + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS mean_dur_s
       |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  /** #219 (q86): inter-purchase interval percentiles — the repeat-
    * engagement clock behind retention/LTV models: across all users,
    * the p50/p90 of the gap between a user's consecutive purchases
    * (whole hours, integer floor). One user-keyed window (lag) in
    * deterministic (ts, event_id) order + ExactPercentile's
    * domain-bounded exact rank pick — the gap domain is a few
    * thousand distinct hour values however long the history. Fully
    * oracled vs `quantile_cont` over the same windowed gaps. */
  def q86PurchaseGaps: Q = (spark, dir) => {
    import graft.functions.ExactPercentile, ExactPercentile.Pct
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gaps = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .filter(col("prev_ts").isNotNull)
      .select(lit("all").as("grp"),
        expr("(unix_timestamp(ts) - unix_timestamp(prev_ts)) div 3600")
          .as("gap_h"))
    ExactPercentile.quantiles(gaps, Seq("grp"), col("gap_h"),
        valPow = 0, outPow = 3,
        Seq(Pct("p50_gap_h_milli", 50, 100), Pct("p90_gap_h_milli", 90, 100)))
      .crossJoin(broadcast(gaps.agg(count(lit(1)).as("n_gaps"))))
      .select(col("grp"), col("n_gaps"),
        col("p50_gap_h_milli"), col("p90_gap_h_milli"))
  }

  val q86Sql: String =
    """WITH p AS (
      |  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
      |g AS (
      |  SELECT date_diff('second',
      |           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
      |           ts) // 3600 AS gap_h
      |  FROM p)
      |SELECT 'all' AS grp, CAST(COUNT(*) AS BIGINT) AS n_gaps,
      |       CAST(ROUND(quantile_cont(gap_h, 0.5) * 1000, 0) AS BIGINT) AS p50_gap_h_milli,
      |       CAST(ROUND(quantile_cont(gap_h, 0.9) * 1000, 0) AS BIGINT) AS p90_gap_h_milli
      |FROM g WHERE gap_h IS NOT NULL""".stripMargin

  /** #123 (q59): session transition mining — the Markov view of user
    * behavior: within each q20-rule session (30-min gap), count
    * adjacent event-type transitions x→y across all sessions, keeping
    * transitions with support ≥ 20. The "what do users do next"
    * input to both UX funnels and next-event models. Events order by
    * (ts, event_id) so ties are deterministic. All THREE windows
    * (break flag, session id, lead) partition on the bare
    * HIGH-cardinality user key with one shared sort — ONE exchange
    * total (PlanSpec-pinned): the session boundary is enforced by
    * comparing lead(session_id) instead of re-partitioning on
    * (user, session), which would buy a second exchange for nothing
    * — a gap row's lead pair is simply filtered out. Transition
    * counts partial-agg before their exchange. */
  def q59Transitions: Q = (spark, dir) => {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select("user_id", "ts", "event_id", "event_type")
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("is_break", isSessionBreak(col("ts"), col("prev_ts")))
      .withColumn("session_id", sum("is_break").over(cum))
      .withColumn("next_type", lead("event_type", 1).over(byUser))
      .withColumn("next_session", lead("session_id", 1).over(byUser))
      .filter(col("next_type").isNotNull &&
        col("next_session") === col("session_id"))
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 20)
      .orderBy("from_type", "to_type")
  }

  val q59Sql: String =
    """WITH g AS (
      |  SELECT user_id, ts, event_id, event_type,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
      |              THEN 1 ELSE 0 END AS is_break
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, ts, event_id, event_type,
      |         SUM(is_break) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM g),
      |t AS (
      |  SELECT event_type AS from_type,
      |         lead(event_type) OVER (PARTITION BY user_id, session_id
      |                                ORDER BY ts, event_id) AS to_type
      |  FROM s)
      |SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
      |FROM t WHERE to_type IS NOT NULL
      |GROUP BY 1, 2 HAVING COUNT(*) >= 20
      |ORDER BY from_type, to_type""".stripMargin

  /** #126 (q60): data-quality expectation suite — the declarative
    * validation gate an ingest pipeline runs before publishing a slice
    * (the Deequ idea: Schelter et al., VLDB'18 "Automating Large-Scale
    * Data Quality Verification"). Nine rules across three tables —
    * key uniqueness, not-null, value range, referential integrity,
    * cross-table consistency — each reported as
    * (rule, n_checked, n_violations). Shape: ONE aggregate pass per
    * table folds every row-level rule into conditional sums
    * (map-side combinable; adding rules adds columns, not scans);
    * uniqueness rides the same pass as a partial-distinct count; each
    * referential rule is one left join carrying BOTH its fk check and
    * any cross-table row rule (lineitem's fk + ship-after-order share
    * one join). The report itself is a 9-row stack of 1-row
    * aggregates — driver-sized, not data-sized. */
  def q60DqChecks: Q = (spark, dir) => {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val l = Tables.lineitem(spark, dir)
    val ordersAgg = o.agg(
      count(lit(1)).as("n"),
      count_distinct(col("o_orderkey")).as("n_key"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("v_null"),
      sum(when(col("o_totalprice").isNull || col("o_totalprice") <= 0.0, 1L)
        .otherwise(0L)).as("v_price"))
      .select(expr(
        """stack(3,
          |  'orders.orderkey_unique',      n, n - n_key,
          |  'orders.custkey_not_null',     n, v_null,
          |  'orders.totalprice_positive',  n, v_price)
          |  as (rule, n_checked, n_violations)""".stripMargin))
    val custAgg = c.agg(
      count(lit(1)).as("n"),
      count_distinct(col("c_custkey")).as("n_key"),
      sum(when(col("c_acctbal").isNull ||
        col("c_acctbal") < -1000.0 || col("c_acctbal") > 10000.0, 1L)
        .otherwise(0L)).as("v_bal"))
      .select(expr(
        """stack(2,
          |  'customer.custkey_unique', n, n - n_key,
          |  'customer.acctbal_range',  n, v_bal)
          |  as (rule, n_checked, n_violations)""".stripMargin))
    val liAgg = l.agg(
      count(lit(1)).as("n"),
      sum(when(col("l_quantity").isNull ||
        col("l_quantity") < 1.0 || col("l_quantity") > 50.0, 1L)
        .otherwise(0L)).as("v_qty"))
      .select(expr(
        """stack(1, 'lineitem.quantity_range', n, v_qty)
          |  as (rule, n_checked, n_violations)""".stripMargin))
    val fkCust = o.select("o_custkey")
      .join(c.select("c_custkey"),
        col("o_custkey") === col("c_custkey"), "left")
      .agg(count(lit(1)).as("n"),
        sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("v"))
      .select(expr(
        """stack(1, 'orders.fk_customer', n, v)
          |  as (rule, n_checked, n_violations)""".stripMargin))
    val fkShip = l.select("l_orderkey", "l_shipdate")
      .join(o.select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"), "left")
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("v_fk"),
        sum(when(col("o_orderkey").isNotNull &&
          col("l_shipdate") < col("o_orderdate"), 1L).otherwise(0L)).as("v_ship"))
      .select(expr(
        """stack(2,
          |  'lineitem.fk_orders',        n,        v_fk,
          |  'lineitem.ship_after_order', n - v_fk, v_ship)
          |  as (rule, n_checked, n_violations)""".stripMargin))
    ordersAgg.unionAll(custAgg).unionAll(liAgg).unionAll(fkCust)
      .unionAll(fkShip)
      .orderBy("rule")
  }

  val q60Sql: String =
    """WITH oa AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |         CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS nk,
      |         CAST(COUNT(*) FILTER (o_custkey IS NULL) AS BIGINT) AS vnull,
      |         CAST(COUNT(*) FILTER (o_totalprice IS NULL OR o_totalprice <= 0)
      |              AS BIGINT) AS vprice
      |  FROM orders),
      |ca AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |         CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS nk,
      |         CAST(COUNT(*) FILTER (c_acctbal IS NULL OR c_acctbal < -1000
      |              OR c_acctbal > 10000) AS BIGINT) AS vbal
      |  FROM customer),
      |la AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |         CAST(COUNT(*) FILTER (l_quantity IS NULL OR l_quantity < 1
      |              OR l_quantity > 50) AS BIGINT) AS vqty
      |  FROM lineitem),
      |f1 AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |         CAST(COUNT(*) FILTER (c.c_custkey IS NULL) AS BIGINT) AS v
      |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey),
      |f2 AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |         CAST(COUNT(*) FILTER (o.o_orderkey IS NULL) AS BIGINT) AS vfk,
      |         CAST(COUNT(*) FILTER (o.o_orderkey IS NOT NULL
      |              AND l.l_shipdate < o.o_orderdate) AS BIGINT) AS vship
      |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey)
      |SELECT * FROM (
      |  SELECT 'orders.orderkey_unique' AS rule, n AS n_checked,
      |         n - nk AS n_violations FROM oa
      |  UNION ALL SELECT 'orders.custkey_not_null', n, vnull FROM oa
      |  UNION ALL SELECT 'orders.totalprice_positive', n, vprice FROM oa
      |  UNION ALL SELECT 'customer.custkey_unique', n, n - nk FROM ca
      |  UNION ALL SELECT 'customer.acctbal_range', n, vbal FROM ca
      |  UNION ALL SELECT 'lineitem.quantity_range', n, vqty FROM la
      |  UNION ALL SELECT 'orders.fk_customer', n, v FROM f1
      |  UNION ALL SELECT 'lineitem.fk_orders', n, vfk FROM f2
      |  UNION ALL SELECT 'lineitem.ship_after_order', n - vfk, vship FROM f2
      |) ORDER BY rule""".stripMargin

  /** #127 (q61): per-group trend estimation — ordinary-least-squares
    * slope + intercept of monthly revenue per market segment, the
    * "is this segment growing" primitive behind forecasting and
    * anomaly baselines. Exactness: y is the exact monthly cents sum
    * (Exact.eSum), x the month index; the OLS closed form
    * (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) is evaluated entirely in
    * decimal(38,0) integers (DuckDB side: HUGEINT — bigint products
    * overflow at 100-TB monthly totals), rounded half-away-from-zero
    * at ×1000 via sign·(2000·|num| + den) div (2·den): both engines'
    * integer division truncates toward zero, but the (2a+b) div (2b)
    * half-UP identity itself only holds for a ≥ 0 — feeding a negative
    * numerator through it silently rounds half-toward-zero instead, so
    * the sign is factored out first (ORACLE.md Rule 4). Shape:
    * orders⋈customer shuffles
    * once on custkey, collapses immediately to the domain-bounded
    * (segment, month) frame via a partial-agged sum; the regression
    * itself runs on ≤ |segments|·|months| rows — driver-sized. */
  def q61TrendSlope: Q = (spark, dir) => {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val d38 = DecimalType(38, 0)
    val monthly = o.join(c, o("o_custkey") === c("c_custkey"))
      .select(col("c_mktsegment"),
        ((year(col("o_orderdate")) - 1992) * 12 + month(col("o_orderdate")) - 1)
          .cast(LongType).as("x"),
        Exact.e(col("o_totalprice"), 2).as("cents"))
      .groupBy("c_mktsegment", "x")
      .agg(sum("cents").as("y"))
    monthly
      .select(col("c_mktsegment"), col("x").cast(d38).as("x"),
        col("y").cast(d38).as("y"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_months"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("nm",
        col("n_months").cast(d38) * col("sxy") - col("sx") * col("sy"))
      .withColumn("den",
        col("n_months").cast(d38) * col("sxx") - col("sx") * col("sx"))
      .withColumn("ni", col("sy") * col("sxx") - col("sx") * col("sxy"))
      .select(col("c_mktsegment"), col("n_months"),
        when(col("nm") >= 0,
          expr("(2000 * nm + den) div (2 * den)"))
          .otherwise(-expr("(2000 * -nm + den) div (2 * den)"))
          .as("slope_e3"),
        when(col("ni") >= 0,
          expr("(2000 * ni + den) div (2 * den)"))
          .otherwise(-expr("(2000 * -ni + den) div (2 * den)"))
          .as("intercept_e3"))
      .orderBy("c_mktsegment")
  }

  val q61Sql: String =
    """WITH m AS (
      |  SELECT c_mktsegment,
      |         CAST((year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1
      |              AS HUGEINT) AS x,
      |         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
      |              AS HUGEINT) AS y
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |s AS (
      |  SELECT c_mktsegment, CAST(COUNT(*) AS HUGEINT) AS n,
      |         SUM(x) AS sx, SUM(y) AS sy,
      |         SUM(x * y) AS sxy, SUM(x * x) AS sxx
      |  FROM m GROUP BY 1),
      |f AS (
      |  SELECT c_mktsegment, n,
      |         n * sxy - sx * sy AS nm,
      |         n * sxx - sx * sx AS den,
      |         sy * sxx - sx * sxy AS ni
      |  FROM s)
      |SELECT c_mktsegment, CAST(n AS BIGINT) AS n_months,
      |       CAST(CASE WHEN nm >= 0 THEN (2000 * nm + den) // (2 * den)
      |            ELSE -((2000 * (-nm) + den) // (2 * den)) END AS BIGINT)
      |         AS slope_e3,
      |       CAST(CASE WHEN ni >= 0 THEN (2000 * ni + den) // (2 * den)
      |            ELSE -((2000 * (-ni) + den) // (2 * den)) END AS BIGINT)
      |         AS intercept_e3
      |FROM f ORDER BY c_mktsegment""".stripMargin

  /** #128 (q62): join-key skew audit — the pre-flight report that
    * sizes q35's salting factor and decides broadcast-vs-shuffle
    * before a 100-TB join is launched: per candidate key, row count,
    * distinct keys, the heaviest key's absolute count and ppm share,
    * and how many keys (and rows) sit above 10× the mean key
    * frequency. Shape: per key ONE map-side-combinable groupBy to the
    * per-key count frame; the 1-row total then BROADCASTS back over
    * that (already aggregated) frame for the hot-key test — the raw
    * table is scanned once per audited key and nothing data-sized
    * ever sits in one task. The hot test multiplies in decimal(38):
    * cnt·n_keys overflows int64 once both pass ~10^10 (HUGEINT on
    * the DuckDB side). */
  def q62SkewAudit: Q = (spark, dir) => {
    val d38 = DecimalType(38, 0)
    def audit(df: DataFrame, keyCol: String, label: String): DataFrame = {
      // collapse to the frequency-of-frequency frame first: (cnt, keys)
      // has one row per DISTINCT key frequency — kilobytes even when the
      // key space is 10^10 — and every audit statistic derives from it.
      // Persisted so the two consumers below (global totals + hot test)
      // materialize the base scan + both aggregations exactly ONCE; the
      // naive counts.crossJoin(counts.agg(...)) shape re-scans the base
      // table per consumer (measured: 2 scans/audit at explain level).
      val ff = df.groupBy(col(keyCol).as("k"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("cnt").agg(count(lit(1)).as("keys"))
        .persist()
      val tot = ff.agg(sum(col("cnt") * col("keys")).as("n_rows"),
        sum("keys").as("n_keys"), max("cnt").as("max_cnt"))
      val hot = col("cnt").cast(d38) * col("n_keys").cast(d38) >
        lit(10).cast(d38) * col("n_rows").cast(d38)
      ff.crossJoin(broadcast(tot))
        .agg(min("n_rows").as("n_rows"), min("n_keys").as("n_keys"),
          min("max_cnt").as("max_cnt"),
          sum(when(hot, col("keys")).otherwise(0L)).as("hot_keys"),
          sum(when(hot, col("cnt") * col("keys")).otherwise(0L)).as("hot_rows"))
        .select(lit(label).as("key_name"), col("n_rows"), col("n_keys"),
          col("max_cnt"),
          expr("1000000 * max_cnt div n_rows").as("top1_ppm"),
          col("hot_keys"), col("hot_rows"))
    }
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    audit(o, "o_custkey", "orders.o_custkey")
      .unionAll(audit(l, "l_partkey", "lineitem.l_partkey"))
      .unionAll(audit(l, "l_suppkey", "lineitem.l_suppkey"))
      .orderBy("key_name")
  }

  val q62Sql: String =
    """WITH
      |ca AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS cnt
      |       FROM orders GROUP BY 1),
      |pa AS (SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS cnt
      |       FROM lineitem GROUP BY 1),
      |sa AS (SELECT l_suppkey AS k, CAST(COUNT(*) AS BIGINT) AS cnt
      |       FROM lineitem GROUP BY 1),
      |r AS (
      |  SELECT 'orders.o_custkey' AS key_name,
      |         CAST(SUM(cnt) AS BIGINT) AS n_rows,
      |         CAST(COUNT(*) AS BIGINT) AS n_keys,
      |         CAST(MAX(cnt) AS BIGINT) AS max_cnt,
      |         CAST(COUNT(*) FILTER (CAST(cnt AS HUGEINT) * (SELECT COUNT(*) FROM ca)
      |              > 10 * (SELECT CAST(SUM(cnt) AS HUGEINT) FROM ca)) AS BIGINT) AS hot_keys,
      |         CAST(COALESCE(SUM(cnt) FILTER (CAST(cnt AS HUGEINT) * (SELECT COUNT(*) FROM ca)
      |              > 10 * (SELECT CAST(SUM(cnt) AS HUGEINT) FROM ca)), 0) AS BIGINT) AS hot_rows
      |  FROM ca
      |  UNION ALL
      |  SELECT 'lineitem.l_partkey',
      |         CAST(SUM(cnt) AS BIGINT), CAST(COUNT(*) AS BIGINT),
      |         CAST(MAX(cnt) AS BIGINT),
      |         CAST(COUNT(*) FILTER (CAST(cnt AS HUGEINT) * (SELECT COUNT(*) FROM pa)
      |              > 10 * (SELECT CAST(SUM(cnt) AS HUGEINT) FROM pa)) AS BIGINT),
      |         CAST(COALESCE(SUM(cnt) FILTER (CAST(cnt AS HUGEINT) * (SELECT COUNT(*) FROM pa)
      |              > 10 * (SELECT CAST(SUM(cnt) AS HUGEINT) FROM pa)), 0) AS BIGINT)
      |  FROM pa
      |  UNION ALL
      |  SELECT 'lineitem.l_suppkey',
      |         CAST(SUM(cnt) AS BIGINT), CAST(COUNT(*) AS BIGINT),
      |         CAST(MAX(cnt) AS BIGINT),
      |         CAST(COUNT(*) FILTER (CAST(cnt AS HUGEINT) * (SELECT COUNT(*) FROM sa)
      |              > 10 * (SELECT CAST(SUM(cnt) AS HUGEINT) FROM sa)) AS BIGINT),
      |         CAST(COALESCE(SUM(cnt) FILTER (CAST(cnt AS HUGEINT) * (SELECT COUNT(*) FROM sa)
      |              > 10 * (SELECT CAST(SUM(cnt) AS HUGEINT) FROM sa)), 0) AS BIGINT)
      |  FROM sa)
      |SELECT key_name, n_rows, n_keys, max_cnt,
      |       1000000 * max_cnt // n_rows AS top1_ppm, hot_keys, hot_rows
      |FROM r ORDER BY key_name""".stripMargin

  /** #148 (q65): trailing-7-day rolling distinct users per day —
    * the DAU/WAU family. The scalable shape is a BOUNDED EXPLODE,
    * not a range join: each (day, user) pair contributes itself to
    * the 7 target days it can influence (`sequence(day, day+6)`,
    * 7× linear fanout), then one exact distinct count per target
    * day. A range join (`u.day BETWEEN d-6 AND d`) evaluates
    * |dayUsers| × |days| pairs — at 10 years of 100-TB events the
    * day list alone makes that a 3650× blowup, while the explode
    * stays 7× regardless of history length. Days with no events
    * report nothing (semi-join against observed days): a trailing
    * window over silence is a gap-fill (q56) concern, kept
    * orthogonal. */
  /** q65's kernel on an arbitrary (ts, user_id) frame — shared with
    * the streaming twin's batch-parity spec
    * ([[graft.streaming.EventStream.rollingDistinctStream]]). */
  private[graft] def rollingDistinctDaily(ev: DataFrame): DataFrame = {
    val du = ev
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val days = du.select(col("day").as("tday")).distinct()
    du.select(
        explode(sequence(col("day"), date_add(col("day"), 6))).as("tday"),
        col("user_id"))
      .join(days, Seq("tday"), "left_semi")
      .groupBy("tday")
      .agg(countDistinct("user_id").as("n_active_7d"))
      .select(col("tday").as("day"), col("n_active_7d"))
  }

  def q65RollingDistinct: Q = (spark, dir) =>
    rollingDistinctDaily(Tables.events(spark, dir)).orderBy("day")

  val q65Sql: String =
    """WITH du AS MATERIALIZED (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |d AS MATERIALIZED (SELECT DISTINCT day AS tday FROM du)
      |SELECT d.tday AS day,
      |       CAST(COUNT(DISTINCT du.user_id) AS BIGINT) AS n_active_7d
      |FROM d JOIN du ON du.day BETWEEN d.tday - 6 AND d.tday
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** #241 (q89): Pareto / ABC value classification — the warehouse
    * tiering rule behind "20% of customers drive 80% of revenue":
    * customers ranked by lifetime order value (cents, [[Exact.e]]
    * half-up — integer-exact), global cumulative revenue and ppm
    * share via the q64 DISTRIBUTED prefix sum (never the single-task
    * whole-table window — the ranked-by-value shape is exactly where
    * naive ABC serializes at scale; the rank key is −cents so heavy
    * spenders come first, tie-broken on custkey), and the greedy
    * boundary rule shared with t39's shard cut: a customer is class A
    * if its cumulative interval STARTS before the 80% revenue line,
    * B before 95%, else C — deterministic, whole-customer, no
    * boundary ambiguity. Fully oracled. */
  def q89Pareto: Q = (spark, dir) => {
    import graft.etl.GlobalOrder
    val rev = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(sum(Exact.e(col("o_totalprice"), 2)).cast(LongType).as("cents"))
      .withColumn("neg", -col("cents"))
    val total = rev.agg(sum("cents").as("total"))
    GlobalOrder.withGlobalSeq(rev, "neg", Seq("custkey"),
        valueCol = Some("cents"), seqCol = "rnk", runCol = "cum")
      .crossJoin(broadcast(total))
      // cum·10⁶ through DECIMAL(38,0): a Long multiply would wrap
      // silently past ~$92B of cumulative cents — DuckDB's HUGEINT
      // arithmetic is the oracle-side twin of this widening
      .select(col("custkey"), col("cents"), col("rnk"), col("cum"),
        expr("CAST((CAST(cum AS DECIMAL(38,0)) * 1000000) div total AS BIGINT)")
          .as("share_ppm"),
        when((col("cum") - col("cents")) * 100 < col("total") * 80, "A")
          .when((col("cum") - col("cents")) * 100 < col("total") * 95, "B")
          .otherwise("C").as("abc_class"))
      .orderBy("rnk")
  }

  val q89Sql: String =
    """WITH r AS (
      |  SELECT o_custkey AS custkey,
      |         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |t AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM r),
      |s AS (
      |  SELECT custkey, cents,
      |         CAST(row_number() OVER (ORDER BY cents DESC, custkey) AS BIGINT) AS rnk,
      |         CAST(SUM(cents) OVER (ORDER BY cents DESC, custkey ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM r)
      |SELECT custkey, cents, rnk, cum,
      |       CAST(CAST(cum AS HUGEINT) * 1000000 // total AS BIGINT) AS share_ppm,
      |       CASE WHEN (cum - cents) * 100 < total * 80 THEN 'A'
      |            WHEN (cum - cents) * 100 < total * 95 THEN 'B'
      |            ELSE 'C' END AS abc_class
      |FROM s, t ORDER BY rnk""".stripMargin

  /** #242 (q90): association rules — q53's co-occurrence pairs
    * upgraded to the DIRECTED rule report a merchandiser reads:
    * confidence(a→b) = P(b|a) in ppm and lift(a,b) =
    * P(a,b)/(P(a)·P(b)) in milli, both floor-division integer-exact
    * (lift's N·n_ab·1000 widened through DECIMAL(38,0)/HUGEINT — a
    * Long multiply wraps silently once basket counts reach ~10⁸).
    * Pair support reuses q53's capped corpus-linear expansion
    * (the cap is a no-op at TPC-H basket sizes, carried identically
    * in the oracle); unary supports and the basket total are one
    * map-side-combinable distinct-aggregate each; the final joins are
    * broadcast (|brands| rows). Both rule directions emit — lift is
    * symmetric, confidence is not. */
  def q90AssocRules: Q = (spark, dir) => {
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey")
    val part = Tables.part(spark, dir).select("p_partkey", "p_brand")
    val ob = li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("brand"))
      .distinct()
    val nBaskets = ob.agg(countDistinct("ok").as("n_total"))
    val unary = ob.groupBy("brand").agg(count(lit(1)).as("n_item"))
    val pairs = graft.etl.CoOccur.pairs(ob, "ok", "brand", maxItems = 64)
      .select(col("a").as("b1"), col("b").as("b2"))
      .groupBy("b1", "b2").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 10)
    val directed = pairs.unionByName(
      pairs.select(col("b2").as("b1"), col("b1").as("b2"), col("n_ab")))
    directed
      .join(broadcast(unary.withColumnRenamed("brand", "b1")
        .withColumnRenamed("n_item", "n_a")), Seq("b1"))
      .join(broadcast(unary.withColumnRenamed("brand", "b2")
        .withColumnRenamed("n_item", "n_b")), Seq("b2"))
      .crossJoin(broadcast(nBaskets))
      // lift's n_ab·N·10³ wraps a Long once basket counts reach
      // ~10⁸ — widen through DECIMAL(38,0) (oracle twin: HUGEINT)
      .select(col("b1").as("antecedent"), col("b2").as("consequent"),
        col("n_a"), col("n_b"), col("n_ab"),
        expr("n_ab * 1000000 div n_a").as("confidence_ppm"),
        expr("CAST((CAST(n_ab AS DECIMAL(38,0)) * n_total * 1000) " +
          "div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)")
          .as("lift_milli"))
      .orderBy("antecedent", "consequent")
  }

  val q90Sql: String =
    """WITH ob AS (
      |  SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |capped AS (
      |  SELECT ok, brand FROM (
      |    SELECT ok, brand,
      |           row_number() OVER (PARTITION BY ok ORDER BY brand) AS rn
      |    FROM ob) WHERE rn <= 64),
      |n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_total FROM ob),
      |u AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_item FROM ob GROUP BY 1),
      |p AS (
      |  SELECT a.brand AS b1, b.brand AS b2, CAST(COUNT(*) AS BIGINT) AS n_ab
      |  FROM capped a JOIN capped b ON a.ok = b.ok AND a.brand < b.brand
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 10),
      |d AS (SELECT b1, b2, n_ab FROM p
      |      UNION ALL SELECT b2, b1, n_ab FROM p)
      |SELECT d.b1 AS antecedent, d.b2 AS consequent,
      |       ua.n_item AS n_a, ub.n_item AS n_b, n_ab,
      |       CAST(n_ab * 1000000 // ua.n_item AS BIGINT) AS confidence_ppm,
      |       CAST(CAST(n_ab AS HUGEINT) * n_total * 1000
      |            // (CAST(ua.n_item AS HUGEINT) * ub.n_item) AS BIGINT) AS lift_milli
      |FROM d JOIN u ua ON d.b1 = ua.brand
      |       JOIN u ub ON d.b2 = ub.brand
      |       CROSS JOIN n
      |ORDER BY antecedent, consequent""".stripMargin

  /** #245 (q91): RFM customer segmentation — the classic
    * recency/frequency/monetary quintile scoring a CRM team runs over
    * the orders fact. Per customer: days since last order (vs the
    * corpus max date — a frozen "as of" anchor both engines derive
    * identically), order count, and exact lifetime cents. Each axis
    * becomes a 1–5 quintile score via the NTILE identity
    * `5 - ((rank-1)·5) div n` over a GLOBAL rank — computed with
    * [[graft.etl.GlobalOrder.withGlobalSeq]] (the q89 kernel), not an
    * unpartitioned window: at 10⁸ customers a global `row_number()`
    * funnels the whole frame through one task, while the two-level
    * prefix sum stays bucket-parallel. The customer frame is already
    * corpus-reduced (one row per customer), so the three rank passes
    * are dimension-scale, not fact-scale. Segment labels are a fixed
    * CASE over the scores (carried textually in the oracle). Fully
    * oracled: ranks tie-break on custkey, so every output column is
    * deterministic integer/string. */
  def q91Rfm: Q = (spark, dir) => {
    import graft.etl.GlobalOrder
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey").as("custkey"),
        to_date(col("o_orderdate")).as("d"),
        Exact.e(col("o_totalprice"), 2).cast(LongType).as("cents_r"))
    val mx = o.agg(max(col("d")).as("corpus_max"))
    // ONE fact scan → customer frame, lineage cut at entry (the
    // ConnectedComponents idiom): each GlobalOrder pass evaluates its
    // input ~3× (bounds, partials, final), so chaining three passes
    // over raw lineage would re-run the orders aggregation ~27 times —
    // checkpointing the dimension-scale frame makes those re-reads
    // materialized-partition scans instead (measured 5.3 → 1.3 s at
    // sf0.1, and at 100 TB the difference is 27 fact scans vs 1)
    val cust = o.groupBy("custkey")
      .agg(max(col("d")).as("last_d"),
        count(lit(1)).as("freq"),
        sum(col("cents_r")).cast(LongType).as("cents"))
      .crossJoin(broadcast(mx))
      .withColumn("recency_days",
        datediff(col("corpus_max"), col("last_d")).cast(LongType))
      .drop("corpus_max", "last_d")
      .localCheckpoint()
    val nTot = cust.agg(count(lit(1)).as("n_cust"))
    // three INDEPENDENT slim rank frames joined back on custkey —
    // chaining the passes instead would re-evaluate each previous
    // pass's windows ~3× (GlobalOrder reads its input thrice)
    def rankOf(keyed: DataFrame, key: String, as: String): DataFrame =
      GlobalOrder.withGlobalSeq(keyed, key, Seq("custkey"), seqCol = as)
        .select("custkey", as)
    val ranked = cust
      .join(rankOf(cust.select("custkey", "recency_days"),
        "recency_days", "r_rnk"), Seq("custkey"))
      .join(rankOf(cust.select(col("custkey"), (-col("freq")).as("negf")),
        "negf", "f_rnk"), Seq("custkey"))
      .join(rankOf(cust.select(col("custkey"), (-col("cents")).as("negm")),
        "negm", "m_rnk"), Seq("custkey"))
    ranked.crossJoin(broadcast(nTot))
      .select(col("custkey"), col("recency_days"), col("freq"), col("cents"),
        expr("5 - ((r_rnk - 1) * 5) div n_cust").as("r_score"),
        expr("5 - ((f_rnk - 1) * 5) div n_cust").as("f_score"),
        expr("5 - ((m_rnk - 1) * 5) div n_cust").as("m_score"))
      .withColumn("rfm_code",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
      .withColumn("segment",
        when(col("r_score") >= 4 && col("f_score") >= 4 && col("m_score") >= 4,
          "champion")
          .when(col("r_score") >= 4 && col("f_score") >= 3, "loyal")
          .when(col("r_score") >= 4, "recent")
          .when(col("r_score") >= 2 && col("f_score") >= 3, "at_risk")
          .when(col("r_score") >= 2, "cooling")
          .otherwise("lost"))
      .orderBy("custkey")
  }

  val q91Sql: String =
    """WITH o AS (
      |  SELECT o_custkey AS custkey, CAST(o_orderdate AS DATE) AS d,
      |         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents_r
      |  FROM orders),
      |mx AS (SELECT MAX(d) AS corpus_max FROM o),
      |c AS (
      |  SELECT custkey,
      |         CAST(date_diff('day', MAX(d), (SELECT corpus_max FROM mx)) AS BIGINT) AS recency_days,
      |         CAST(COUNT(*) AS BIGINT) AS freq,
      |         CAST(SUM(cents_r) AS BIGINT) AS cents
      |  FROM o GROUP BY 1),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cust FROM c),
      |r AS (
      |  SELECT *,
      |         row_number() OVER (ORDER BY recency_days, custkey) AS r_rnk,
      |         row_number() OVER (ORDER BY freq DESC, custkey) AS f_rnk,
      |         row_number() OVER (ORDER BY cents DESC, custkey) AS m_rnk
      |  FROM c),
      |s AS (
      |  SELECT custkey, recency_days, freq, cents,
      |         CAST(5 - ((r_rnk - 1) * 5) // n_cust AS BIGINT) AS r_score,
      |         CAST(5 - ((f_rnk - 1) * 5) // n_cust AS BIGINT) AS f_score,
      |         CAST(5 - ((m_rnk - 1) * 5) // n_cust AS BIGINT) AS m_score
      |  FROM r CROSS JOIN n)
      |SELECT custkey, recency_days, freq, cents, r_score, f_score, m_score,
      |       CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS rfm_code,
      |       CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
      |            WHEN r_score >= 4 AND f_score >= 3 THEN 'loyal'
      |            WHEN r_score >= 4 THEN 'recent'
      |            WHEN r_score >= 2 AND f_score >= 3 THEN 'at_risk'
      |            WHEN r_score >= 2 THEN 'cooling'
      |            ELSE 'lost' END AS segment
      |FROM s ORDER BY custkey""".stripMargin

  /** #246 (q92): top session paths — the event-type TRIGRAMS a
    * product team reads as "what do users actually do in a session"
    * (q59's bigram transitions extended one hop; the classic
    * path-analysis / sankey input). Both leads ride the SAME
    * user-keyed window, so the whole query is ONE exchange on
    * user_id + one path-keyed aggregation whose domain is bounded by
    * |event_types|³ — never corpus-scale, which is also why no support
    * floor is needed for output boundedness (and on this corpus's
    * short sessions any floor ≥ 2 empties the report at sf ≤ 0.01 —
    * the m04 evidence-free-row lesson, measured before shipping).
    * Fully oracled (identical windows + the same '>' join of the
    * three legs). */
  def q92SessionPaths: Q = (spark, dir) => {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select("user_id", "ts", "event_id", "event_type")
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("is_break", isSessionBreak(col("ts"), col("prev_ts")))
      .withColumn("session_id", sum("is_break").over(cum))
      .withColumn("t2", lead("event_type", 1).over(byUser))
      .withColumn("s2", lead("session_id", 1).over(byUser))
      .withColumn("t3", lead("event_type", 2).over(byUser))
      .withColumn("s3", lead("session_id", 2).over(byUser))
      .filter(col("t3").isNotNull &&
        col("s2") === col("session_id") && col("s3") === col("session_id"))
      .groupBy(col("event_type").as("step1"), col("t2").as("step2"),
        col("t3").as("step3"))
      .agg(count(lit(1)).as("n"))
      .withColumn("path",
        concat_ws(">", col("step1"), col("step2"), col("step3")))
      .select("path", "step1", "step2", "step3", "n")
      .orderBy("path")
  }

  val q92Sql: String =
    """WITH g AS (
      |  SELECT user_id, ts, event_id, event_type,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
      |              THEN 1 ELSE 0 END AS is_break
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, ts, event_id, event_type,
      |         SUM(is_break) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM g),
      |t AS (
      |  SELECT event_type AS step1,
      |         lead(event_type, 1) OVER w2 AS step2,
      |         lead(session_id, 1) OVER w2 AS s2,
      |         lead(event_type, 2) OVER w2 AS step3,
      |         lead(session_id, 2) OVER w2 AS s3,
      |         session_id
      |  FROM s
      |  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT step1 || '>' || step2 || '>' || step3 AS path,
      |       step1, step2, step3, CAST(COUNT(*) AS BIGINT) AS n
      |FROM t
      |WHERE step3 IS NOT NULL AND s2 = session_id AND s3 = session_id
      |GROUP BY 1, 2, 3, 4
      |ORDER BY path""".stripMargin

  /** #247 (q93): Benford first-digit audit — the forensic
    * data-quality screen (fabricated or truncated monetary data
    * drifts from Benford's law; a q60-family expectation on the
    * DISTRIBUTION rather than per-row predicates). Leading
    * significant digit of the exact cents value (scale-invariant up
    * to the power of ten, and integer-exact on both engines via
    * string head of the BIGINT); expected ppm are the fixed
    * log10(1+1/d) constants carried as literals — no transcendental
    * evaluated at query time, so the comparison is pure integer.
    * One map-side-combinable aggregation over a 9-value domain; the
    * total-variation summary rides every row (broadcast). */
  /** Benford's expected first-digit masses, floor(log10(1+1/d)·10⁶),
    * as fixed literals (no transcendental at query time). Shared by
    * batch q93 and the streaming Benford monitor so both report
    * against the same table by construction. They sum to exactly
    * 10⁶ (spec-pinned). */
  val benfordExpPpm: Seq[(Long, Long)] = Seq(
    1L -> 301030L, 2L -> 176091L, 3L -> 124939L, 4L -> 96910L,
    5L -> 79181L, 6L -> 66947L, 7L -> 57992L, 8L -> 51153L, 9L -> 45757L)

  def q93Benford: Q = (spark, dir) => {
    import spark.implicits._
    val exp = benfordExpPpm.toDF("digit", "exp_ppm")
    val obs = Tables.orders(spark, dir)
      .select(Exact.e(col("o_totalprice"), 2).cast(LongType).as("cents"))
      .filter(col("cents") > 0)
      .select(substring(col("cents").cast(StringType), 1, 1)
        .cast(LongType).as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("cnt"))
    // totals via windows over the 9-row digit frame — ONE corpus scan
    // (agg + crossJoin(broadcast(total)) lineage would rescan orders
    // per consumer); the unpartitioned window is domain-bounded
    val wAll = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    exp.join(broadcast(obs), Seq("digit"), "left")
      .select(col("digit"), coalesce(col("cnt"), lit(0L)).as("cnt"),
        col("exp_ppm"))
      .withColumn("n_total", sum("cnt").over(wAll))
      .withColumn("obs_ppm", expr("cnt * 1000000 div n_total"))
      .withColumn("dev_ppm", abs(col("obs_ppm") - col("exp_ppm")))
      .withColumn("_sum_dev", sum("dev_ppm").over(wAll))
      .withColumn("tv_ppm", expr("_sum_dev div 2"))
      .select("digit", "cnt", "n_total", "obs_ppm", "exp_ppm", "dev_ppm",
        "tv_ppm")
      .orderBy("digit")
  }

  val q93Sql: String =
    """WITH e AS (
      |  SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |  FROM orders),
      |obs AS (
      |  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
      |         CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM e WHERE cents > 0 GROUP BY 1),
      |exp AS (
      |  SELECT * FROM (VALUES
      |    (CAST(1 AS BIGINT), CAST(301030 AS BIGINT)), (2, 176091), (3, 124939),
      |    (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153),
      |    (9, 45757)) t(digit, exp_ppm)),
      |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM obs),
      |s AS (
      |  SELECT exp.digit, COALESCE(obs.cnt, 0) AS cnt, n_total,
      |         CAST(COALESCE(obs.cnt, 0) * 1000000 // n_total AS BIGINT) AS obs_ppm,
      |         exp.exp_ppm,
      |         CAST(ABS(COALESCE(obs.cnt, 0) * 1000000 // n_total - exp.exp_ppm) AS BIGINT) AS dev_ppm
      |  FROM exp LEFT JOIN obs ON exp.digit = obs.digit CROSS JOIN tot),
      |tv AS (SELECT CAST(SUM(dev_ppm) // 2 AS BIGINT) AS tv_ppm FROM s)
      |SELECT digit, cnt, n_total, obs_ppm, exp_ppm, dev_ppm, tv_ppm
      |FROM s CROSS JOIN tv ORDER BY digit""".stripMargin

  /** #252 (q95): MAD robust outlier audit — the q54 z²-flag family's
    * ROBUST sibling: per order priority, median order value and the
    * median absolute deviation (the scale estimate a heavy-tailed
    * revenue column actually permits — one whale order shifts a mean/σ
    * rule arbitrarily, but breaks a median/MAD rule only past 50%
    * contamination), plus the count of orders beyond the classic
    * 5×MAD fence. Scale shape: ONE corpus scan builds the
    * count-by-value histogram ([[graft.functions.ExactPercentile]]'s
    * contract — the frame is bounded by the cent-value DOMAIN, not row
    * count), checkpointed once; the median, the DEVIATION histogram
    * (derived from the value histogram by re-keying — zero extra
    * corpus scans), the MAD and the fence count are all
    * histogram-scale arithmetic after that. Everything integer-exact:
    * cents → milli median (×10 interpolation) → 1e-4 MAD, fence
    * `dev·10 > 5·mad_e4` in pure BIGINT. Fully oracled
    * (quantile_cont twice + the same fence). MAD = 0 degenerates the
    * fence to "any non-median value" on both engines identically (the
    * standard MAD caveat, not an engine divergence). */
  def q95MadOutliers: Q = (spark, dir) => {
    import graft.functions.ExactPercentile, ExactPercentile.Pct
    val b = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("priority"),
        Exact.e(col("o_totalprice"), 2).cast(LongType).as("v"))
    // one corpus scan → domain-bounded histogram; checkpoint cuts the
    // lineage so the three consumers below re-read the materialized
    // frame instead of re-scanning orders (the q91 idiom)
    val counts = b.groupBy("priority", "v").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val med = ExactPercentile.quantilesOfCounts(counts, Seq("priority"),
      valPow = 2, outPow = 3, Seq(Pct("p50_milli", 1, 2)))
    val n = counts.groupBy("priority").agg(sum("cnt").cast(LongType).as("n"))
    // deviation histogram by RE-KEYING the value histogram: |groups|
    // medians broadcast onto the domain-bounded frame
    val dev = counts.join(broadcast(med), Seq("priority"))
      .withColumn("dev", abs(col("v") * 10 - col("p50_milli")))
    val devCounts = dev.groupBy(col("priority"), col("dev").as("v"))
      .agg(sum("cnt").cast(LongType).as("cnt"))
    val mad = ExactPercentile.quantilesOfCounts(devCounts, Seq("priority"),
      valPow = 3, outPow = 4, Seq(Pct("mad_e4", 1, 2)))
    val outliers = dev.join(broadcast(mad), Seq("priority"))
      .groupBy("priority")
      .agg(sum(when(col("dev") * 10 > lit(5L) * col("mad_e4"), col("cnt"))
        .otherwise(lit(0L))).cast(LongType).as("n_outliers"))
    n.join(med, Seq("priority"))
      .join(mad, Seq("priority"))
      .join(outliers, Seq("priority"))
      .select("priority", "n", "p50_milli", "mad_e4", "n_outliers")
      .orderBy("priority")
  }

  val q95Sql: String =
    """WITH b AS (
      |  SELECT o_orderpriority AS priority,
      |         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v
      |  FROM orders),
      |m AS (
      |  SELECT priority, CAST(COUNT(*) AS BIGINT) AS n,
      |         CAST(FLOOR(quantile_cont(v, 0.5) * 10 + 0.5) AS BIGINT) AS p50_milli
      |  FROM b GROUP BY 1),
      |d AS (
      |  SELECT b.priority, ABS(v * 10 - p50_milli) AS dev
      |  FROM b JOIN m USING (priority)),
      |md AS (
      |  SELECT priority,
      |         CAST(FLOOR(quantile_cont(dev, 0.5) * 10 + 0.5) AS BIGINT) AS mad_e4
      |  FROM d GROUP BY 1),
      |o AS (
      |  SELECT d.priority,
      |         CAST(SUM(CASE WHEN dev * 10 > 5 * mad_e4 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |  FROM d JOIN md USING (priority) GROUP BY 1)
      |SELECT m.priority, m.n, m.p50_milli, md.mad_e4, o.n_outliers
      |FROM m JOIN md USING (priority) JOIN o USING (priority)
      |ORDER BY priority""".stripMargin

  /** #255 (q96): k-anonymity / l-diversity audit — the
    * re-identification governance report (Sweeney 2002; Machanavajjhala
    * et al. 2007): per quasi-identifier group (market segment ×
    * nation), the group size n, the count of DISTINCT sensitive values
    * (account-balance cents — l-diversity's l), an `at_risk` bit for
    * groups under k=10 (a record in such a group is re-identifiable by
    * its QI combination alone), and the corpus-wide rows-at-risk total
    * carried on every row (window over the QI-bounded frame, q93's
    * one-scan idiom — never an agg+crossJoin lineage that rescans the
    * fact per consumer). ONE scan of customer into a
    * |segments|×|nations| frame (configuration-bounded however large
    * the table); the count-distinct is exact and map-side partial.
    * Fully oracled. */
  def q96KanonAudit: Q = (spark, dir) => {
    val g = Tables.customer(spark, dir)
      .select(col("c_mktsegment").as("segment"),
        col("c_nationkey").as("nationkey"),
        Exact.e(col("c_acctbal"), 2).cast(LongType).as("bal_cents"))
      .groupBy("segment", "nationkey")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("bal_cents")).as("l_distinct"))
      .withColumn("at_risk", (col("n") < 10).cast(LongType))
    val nat = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("nationkey"), col("n_name").as("nation"))
    val wAll = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    g.join(broadcast(nat), Seq("nationkey"))
      .withColumn("rows_at_risk_total",
        sum(when(col("at_risk") === 1, col("n")).otherwise(lit(0L))).over(wAll))
      .select("segment", "nation", "n", "l_distinct", "at_risk",
        "rows_at_risk_total")
      .orderBy("segment", "nation")
  }

  val q96Sql: String =
    """WITH g AS (
      |  SELECT c_mktsegment AS segment, c_nationkey AS nationkey,
      |         CAST(COUNT(*) AS BIGINT) AS n,
      |         CAST(COUNT(DISTINCT CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS l_distinct
      |  FROM customer GROUP BY 1, 2),
      |f AS (
      |  SELECT segment, n_name AS nation, n, l_distinct,
      |         CAST(CASE WHEN n < 10 THEN 1 ELSE 0 END AS BIGINT) AS at_risk
      |  FROM g JOIN nation ON n_nationkey = nationkey),
      |t AS (SELECT CAST(COALESCE(SUM(CASE WHEN at_risk = 1 THEN n END), 0) AS BIGINT) AS rows_at_risk_total FROM f)
      |SELECT segment, nation, n, l_distinct, at_risk, rows_at_risk_total
      |FROM f CROSS JOIN t
      |ORDER BY segment, nation""".stripMargin

  /** q97's kernel over any (child, parent) key pair — split out so
    * specs can plant orphaned fixtures (TPC-H referential integrity
    * holds by construction, so the corpus orphan counts are
    * legitimately 0; the census columns carry the corpus evidence —
    * the m04/t40 lesson). One row: n_child, n_child_keys, n_orphans,
    * orphan_ppm. The left-anti probe shuffles on the key like the
    * production join it is pre-flighting. */
  private[graft] def fkOrphansOf(rel: String, child: DataFrame,
      childKey: String, parent: DataFrame, parentKey: String): DataFrame = {
    val c = child.select(col(childKey).as("k"))
    val p = parent.select(col(parentKey).as("pk")).distinct()
    val census = c.agg(count(lit(1)).as("n_child"),
      countDistinct(col("k")).as("n_child_keys"))
    val orphans = c.join(p, col("k") === col("pk"), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
    census.crossJoin(broadcast(orphans))
      .select(lit(rel).as("relation"), col("n_child"), col("n_child_keys"),
        col("n_orphans"),
        expr("n_orphans * 1000000 div n_child").as("orphan_ppm"))
  }

  /** #256 (q97): referential-integrity orphan audit — the pre-flight
    * every warehouse join deserves (q60 checks VALUE expectations,
    * q66 compares replicas; this checks the FK graph itself): for
    * each declared child→parent edge of the TPC-H schema, the child
    * row count, distinct child keys, orphan rows (no matching
    * parent) and orphan ppm. Four left-anti probes, each shuffling
    * on exactly the key the production join would — the audit's cost
    * IS the join's dry run, minus the payload columns (key-only
    * projections reach the scans). Fully oracled (NOT EXISTS). */
  def q97FkOrphans: Q = (spark, dir) => {
    val li = Tables.lineitem(spark, dir)
    fkOrphansOf("lineitem.orderkey->orders", li, "l_orderkey",
        Tables.orders(spark, dir), "o_orderkey")
      .unionByName(fkOrphansOf("lineitem.partkey->part", li, "l_partkey",
        Tables.part(spark, dir), "p_partkey"))
      .unionByName(fkOrphansOf("lineitem.suppkey->supplier", li, "l_suppkey",
        Tables.supplier(spark, dir), "s_suppkey"))
      .unionByName(fkOrphansOf("orders.custkey->customer",
        Tables.orders(spark, dir), "o_custkey",
        Tables.customer(spark, dir), "c_custkey"))
      .orderBy("relation")
  }

  val q97Sql: String =
    """WITH e AS (
      |  SELECT 'lineitem.orderkey->orders' AS relation,
      |         CAST(COUNT(*) AS BIGINT) AS n_child,
      |         CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_child_keys,
      |         CAST(SUM(CASE WHEN NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey) THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'lineitem.partkey->part',
      |         CAST(COUNT(*) AS BIGINT),
      |         CAST(COUNT(DISTINCT l_partkey) AS BIGINT),
      |         CAST(SUM(CASE WHEN NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey) THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'lineitem.suppkey->supplier',
      |         CAST(COUNT(*) AS BIGINT),
      |         CAST(COUNT(DISTINCT l_suppkey) AS BIGINT),
      |         CAST(SUM(CASE WHEN NOT EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey) THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'orders.custkey->customer',
      |         CAST(COUNT(*) AS BIGINT),
      |         CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
      |         CAST(SUM(CASE WHEN NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey) THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM orders)
      |SELECT relation, n_child, n_child_keys, n_orphans,
      |       CAST(n_orphans * 1000000 // n_child AS BIGINT) AS orphan_ppm
      |FROM e ORDER BY relation""".stripMargin

  /** #258 (q98): weighted median — the order statistic a
    * unit-weighted median silently gets wrong whenever rows carry
    * unequal mass (a revenue-weighted latency, a quantity-weighted
    * price): the median UNIT OF WEIGHT, i.e. the exact interpolated
    * median of the multiset where each row repeats `weight` times —
    * computed WITHOUT expansion by treating integer weights as
    * histogram counts — the expansion exists only in the rank
    * arithmetic (the q29/q98 cum-window rank pick). Per return flag:
    * quantity-weighted median price beside the unweighted median
    * (the comparison IS the report — how much do big-lot prices
    * differ from per-line prices). ONE corpus scan builds one
    * histogram carrying BOTH count columns, and ONE window sort
    * carries both cumulative columns — the two rank passes share the
    * ordering, so nothing corpus-scale is materialized or re-sorted.
    * Fully oracled — the weighted side replicates the integer rank
    * pick (cum-weight windows + neighbor interpolation) in SQL, the
    * unweighted side is quantile_cont. */
  def q98WeightedMedian: Q = (spark, dir) => {
    // ONE histogram, ONE window sort carrying BOTH cumulative count
    // columns (weight mass + row count) — the two rank passes share
    // the ordering, so no checkpoint and no second pass is needed
    // (round-9 rewrite: the kernel-twice version materialized a
    // near-corpus-size histogram to feed two separate window sorts)
    val h = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"),
        Exact.e(col("l_extendedprice"), 2).cast(LongType).as("v"),
        col("l_quantity").cast(LongType).as("w"))
      .groupBy("l_returnflag", "v")
      .agg(sum("w").cast(LongType).as("wsum"), count(lit(1)).as("rows"))
    val wCum = Window.partitionBy("l_returnflag").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("l_returnflag")
    def medianMilli(cum: String, n: String): Column = {
      val lo = min(when(col(cum) > expr(s"($n - 1) div 2"), col("v")))
      val hi = min(when(col(cum) > expr(s"($n - 1) div 2 + ($n - 1) % 2"),
        col("v")))
      // odd n: lo*10; even n: (lo+hi)*5 — the q98Sql rank arithmetic
      lo * 10 + (lit(1) - expr(s"max($n) % 2")) * (hi - lo) * 5
    }
    h.withColumn("cum_w", sum("wsum").over(wCum))
      .withColumn("cum_r", sum("rows").over(wCum))
      .withColumn("n_w", sum("wsum").over(wAll))
      .withColumn("n_r", sum("rows").over(wAll))
      .groupBy("l_returnflag")
      .agg(medianMilli("cum_w", "n_w").as("wmedian_price_milli"),
        medianMilli("cum_r", "n_r").as("median_price_milli"))
      .orderBy("l_returnflag")
  }

  val q98Sql: String =
    """WITH b AS (
      |  SELECT l_returnflag AS f,
      |         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
      |         CAST(l_quantity AS BIGINT) AS w
      |  FROM lineitem),
      |h AS (SELECT f, v, CAST(SUM(w) AS BIGINT) AS c FROM b GROUP BY 1, 2),
      |r AS (
      |  SELECT f, v, c,
      |         SUM(c) OVER (PARTITION BY f ORDER BY v) AS cum,
      |         SUM(c) OVER (PARTITION BY f) AS n
      |  FROM h),
      |lo AS (SELECT f, MIN(v) AS vlo FROM r WHERE cum > (n - 1) // 2 GROUP BY 1),
      |hi AS (SELECT f, MIN(v) AS vhi FROM r WHERE cum > (n - 1) // 2 + (n - 1) % 2 GROUP BY 1),
      |par AS (SELECT f, MAX(n) % 2 AS even0 FROM r GROUP BY 1),
      |wm AS (
      |  SELECT lo.f,
      |         CAST(vlo * 10 + (1 - even0) * (vhi - vlo) * 5 AS BIGINT) AS wmedian_price_milli
      |  FROM lo JOIN hi ON lo.f = hi.f JOIN par ON par.f = lo.f),
      |um AS (
      |  SELECT f, CAST(FLOOR(quantile_cont(v, 0.5) * 10 + 0.5) AS BIGINT) AS median_price_milli
      |  FROM b GROUP BY 1)
      |SELECT wm.f AS l_returnflag, wmedian_price_milli, median_price_milli
      |FROM wm JOIN um ON wm.f = um.f
      |ORDER BY l_returnflag""".stripMargin

  /** #261 (q99): CUSUM change-point detection — the sequential drift
    * alarm (Page 1954) that q54's pointwise z² cannot raise: a run of
    * individually-unremarkable days whose SUM drifts. The textbook
    * recursion S_k = max(0, S_{k−1} + dev_k) is not a window frame —
    * but it has a closed form over prefix aggregates:
    * S⁺_k = P_k − min(0, min_{j≤k} P_j) and symmetrically
    * S⁻_k = max(0, max_{j≤k} P_j) − P_k, where P is the running sum
    * of deviations (induction: a new prefix-min resets S⁺ to exactly
    * 0). So the whole detector is ONE corpus scan → per-(type, day)
    * aggregate → three ordinary running windows PARTITIONED BY
    * event_type — shuffle-partitioned on the type key, each
    * partition |days|-bounded, nothing single-task at any corpus
    * size. Target = each type's integer mean daily cents (two window
    * aggs, no second scan); alarm when either side exceeds one full
    * average day of accumulated drift. All integers — fully oracled;
    * the spec pins the closed form against the literal recursion. */
  def q99Cusum: Q = (spark, dir) => {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), col("ts").cast(DateType).as("day"))
      .agg(sum(round(col("value") * 100, 0).cast(LongType)).as("cents"))
    val wSeq = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      // positive operands: `div` truncation ≡ DuckDB `//`
      .withColumn("target",
        expr("(sum(cents) over (partition by event_type)) div " +
          "(count(*) over (partition by event_type))"))
      .withColumn("dev", col("cents") - col("target"))
      .withColumn("cum", sum("dev").over(wSeq))
      .withColumn("s_pos", col("cum") - least(min("cum").over(wSeq), lit(0L)))
      .withColumn("s_neg",
        greatest(max("cum").over(wSeq), lit(0L)) - col("cum"))
      .withColumn("alarm",
        (col("s_pos") > col("target") || col("s_neg") > col("target"))
          .cast(LongType))
      .select("event_type", "day", "cents", "target", "dev", "s_pos",
        "s_neg", "alarm")
      .orderBy("event_type", "day")
  }

  val q99Sql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |t AS (
      |  SELECT event_type, day, cents,
      |         CAST(SUM(cents) OVER (PARTITION BY event_type) //
      |              COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS target
      |  FROM daily),
      |c AS (
      |  SELECT *, cents - target AS dev,
      |         SUM(cents - target) OVER (PARTITION BY event_type ORDER BY day
      |                                   ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM t),
      |s AS (
      |  SELECT event_type, day, cents, target, dev,
      |         CAST(cum - LEAST(MIN(cum) OVER (PARTITION BY event_type ORDER BY day
      |                                         ROWS UNBOUNDED PRECEDING), 0) AS BIGINT) AS s_pos,
      |         CAST(GREATEST(MAX(cum) OVER (PARTITION BY event_type ORDER BY day
      |                                      ROWS UNBOUNDED PRECEDING), 0) - cum AS BIGINT) AS s_neg
      |  FROM c)
      |SELECT event_type, day, cents, target, CAST(dev AS BIGINT) AS dev,
      |       s_pos, s_neg,
      |       CAST(CASE WHEN s_pos > target OR s_neg > target THEN 1 ELSE 0 END AS BIGINT) AS alarm
      |FROM s ORDER BY event_type, day""".stripMargin

  /** #266 (q100): discrete hazard table — the survival-analysis view
    * of repeat engagement that q86's gap percentiles summarize away:
    * per week-since-last-order bucket, how many customers were still
    * "at risk" (gap ≥ bucket start) and what fraction of them
    * repurchased IN that bucket — the life-table / Kaplan-Meier
    * denominator discipline (at-risk counts, not raw shares), exact
    * in integers. Shape: one scan of orders → per-customer lag
    * window (shuffled on custkey like every per-entity sequence op)
    * → gap histogram (domain-bounded) → ONE descending running sum
    * over the |weeks| frame turns event counts into at-risk counts —
    * the only unpartitioned window runs on the bounded histogram
    * (q93's idiom). Hazard ppm through decimal(38)/HUGEINT (events ×
    * 10⁶ overflows BIGINT at 100-TB order counts). Fully oracled. */
  def q100Hazard: Q = (spark, dir) => {
    val wSeq = Window.partitionBy("o_custkey")
      .orderBy(col("d").asc, col("o_orderkey").asc)
    val gaps = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast(DateType).as("d"))
      .withColumn("prev", lag("d", 1).over(wSeq))
      .filter(col("prev").isNotNull)
      .select(datediff(col("d"), col("prev")).cast(LongType).as("gap"))
    hazardFromGaps(gaps)
  }

  /** q100's life-table kernel over any frame with a `gap` (days)
    * column — split out so the streaming twin's closed gap facts can
    * be served through the identical arithmetic (#277). */
  private[graft] def hazardFromGaps(gaps: DataFrame): DataFrame = {
    val hist = gaps
      .groupBy(expr("gap div 7").as("week"))
      .agg(count(lit(1)).as("n_events"))
    val wDesc = Window.orderBy(col("week").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("n_at_risk", sum("n_events").over(wDesc))
      .withColumn("hazard_ppm",
        expr("(cast(n_events as decimal(38,0)) * 1000000) div n_at_risk"))
      .select("week", "n_events", "n_at_risk", "hazard_ppm")
      .orderBy("week")
  }

  val q100Sql: String =
    """WITH o AS (
      |  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS d
      |  FROM orders),
      |g AS (
      |  SELECT CAST(d - LAG(d, 1) OVER (PARTITION BY o_custkey
      |                                  ORDER BY d ASC, o_orderkey ASC)
      |              AS BIGINT) AS gap
      |  FROM o),
      |h AS (
      |  SELECT gap // 7 AS week, CAST(COUNT(*) AS BIGINT) AS n_events
      |  FROM g WHERE gap IS NOT NULL GROUP BY 1),
      |r AS (
      |  SELECT week, n_events,
      |         CAST(SUM(n_events) OVER (ORDER BY week DESC
      |                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_at_risk
      |  FROM h)
      |SELECT week, n_events, n_at_risk,
      |       CAST(CAST(n_events AS HUGEINT) * 1000000 // n_at_risk AS BIGINT) AS hazard_ppm
      |FROM r ORDER BY week""".stripMargin

  /** #268 (q101): Theil–Sen robust trend — the median-of-pairwise-
    * slopes estimator (Theil 1950, Sen 1968) beside q61's OLS: one
    * spiked month drags OLS arbitrarily, Theil–Sen shrugs at up to
    * 29% contamination. Exactness and scale share one trick: the
    * corpus collapses FIRST to the domain-bounded (segment, month)
    * frame (the q61 shape — one shuffle on custkey), so the pairwise
    * self-join is |months|² per segment — configuration-scale
    * however big the corpus. Each pair's slope is half-away-from-
    * zero-rounded to milli-cents/month via the sign-factored
    * (2000|dy| + dx) div (2dx) identity (ORACLE.md Rule 4; dx > 0 by
    * construction), and the MEDIAN is emitted as the two middle
    * ORDER STATISTICS (slope_lo_e3, slope_hi_e3) — rank arithmetic
    * only, no averaging division to argue about. Fully oracled. */
  def q101TheilSen: Q = (spark, dir) => {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val monthly = o.join(c, o("o_custkey") === c("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        ((year(col("o_orderdate")) - 1992) * 12 + month(col("o_orderdate")) - 1)
          .cast(LongType).as("x"),
        Exact.e(col("o_totalprice"), 2).as("cents"))
      .groupBy("segment", "x")
      .agg(sum("cents").as("y"))
    val a = monthly.select(col("segment"), col("x").as("x1"), col("y").as("y1"))
    val b = monthly.select(col("segment"), col("x").as("x2"), col("y").as("y2"))
    val pairs = a.join(b, Seq("segment")).filter(col("x1") < col("x2"))
      .withColumn("dx", col("x2") - col("x1"))
      .withColumn("dy", col("y2") - col("y1"))
      .withColumn("slope_e3",
        when(col("dy") >= 0, expr("(2000 * dy + dx) div (2 * dx)"))
          .otherwise(-expr("(2000 * -dy + dx) div (2 * dx)")))
    // median via the count-histogram rank pick (q98's kernel shape):
    // grouping to (segment, distinct slope) first keeps the cum
    // windows off raw pair rows and out of the rank-window family the
    // PlanSpec sweep forbids over low-cardinality keys
    val hist = pairs.groupBy("segment", "slope_e3")
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy("segment").orderBy("slope_e3")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("segment")
    hist
      .withColumn("cum", sum("cnt").over(wCum))
      .withColumn("n_pairs", sum("cnt").over(wAll))
      .groupBy("segment")
      .agg(max("n_pairs").as("n_pairs"),
        min(when(col("cum") >= expr("(n_pairs + 1) div 2"),
          col("slope_e3"))).as("slope_lo_e3"),
        min(when(col("cum") >= expr("n_pairs div 2 + 1"),
          col("slope_e3"))).as("slope_hi_e3"))
      .orderBy("segment")
  }

  val q101Sql: String =
    """WITH m AS (
      |  SELECT c_mktsegment AS segment,
      |         CAST((year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1 AS BIGINT) AS x,
      |         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |p AS (
      |  SELECT a.segment, b.x - a.x AS dx, b.y - a.y AS dy
      |  FROM m a JOIN m b ON a.segment = b.segment AND a.x < b.x),
      |s AS (
      |  SELECT segment,
      |         CASE WHEN dy >= 0 THEN (2000 * dy + dx) // (2 * dx)
      |              ELSE -((2000 * -dy + dx) // (2 * dx)) END AS slope_e3
      |  FROM p),
      |h AS (
      |  SELECT segment, slope_e3, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM s GROUP BY 1, 2),
      |r AS (
      |  SELECT segment, slope_e3,
      |         SUM(cnt) OVER (PARTITION BY segment ORDER BY slope_e3
      |                        ROWS UNBOUNDED PRECEDING) AS cum,
      |         SUM(cnt) OVER (PARTITION BY segment) AS n
      |  FROM h)
      |SELECT segment,
      |       CAST(MAX(n) AS BIGINT) AS n_pairs,
      |       CAST(MIN(CASE WHEN cum >= (n + 1) // 2 THEN slope_e3 END) AS BIGINT) AS slope_lo_e3,
      |       CAST(MIN(CASE WHEN cum >= n // 2 + 1 THEN slope_e3 END) AS BIGINT) AS slope_hi_e3
      |FROM r GROUP BY segment ORDER BY segment""".stripMargin

  /** #269 (q102): Gini concentration index — the inequality scalar
    * behind q89's Pareto table ("how unequal", not just "who's in the
    * head"): per market segment over per-customer lifetime spend,
    * G = (2·Σ(rank·x) − (n+1)·Σx) / (n·Σx) with ranks ascending —
    * exact in integers (tie order cannot change Σ rank·x: equal
    * values swap ranks without moving the sum), emitted as floor ppm.
    * Shape: one shuffle on custkey to the per-customer frame, a
    * rank window PARTITIONED by segment (never global), and a
    * segment aggregate; products through decimal(38)/HUGEINT
    * (rank·cents·10⁶ overflows BIGINT at corpus scale). Fully
    * oracled + a planted-distribution spec (uniform → 0, one-hot →
    * (n−1)/n). */
  def q102Gini: Q = (spark, dir) => {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val spend = o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"), col("o_custkey"))
      .agg(sum(Exact.e(col("o_totalprice"), 2)).as("cents"))
    val wRank = Window.partitionBy("segment")
      .orderBy(col("cents").asc, col("o_custkey").asc)
    spend
      .withColumn("i", row_number().over(wRank).cast(DecimalType(38, 0)))
      .groupBy("segment")
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum(col("cents").cast(DecimalType(38, 0))).as("sx"),
        sum(col("i") * col("cents")).as("six"))
      .select(col("segment"), col("n").cast(LongType).as("n_customers"),
        expr("((2 * six - (n + 1) * sx) * 1000000) div (n * sx)")
          .as("gini_ppm"))
      .orderBy("segment")
  }

  val q102Sql: String =
    """WITH s AS (
      |  SELECT c_mktsegment AS segment, o_custkey,
      |         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT segment, cents,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY segment
      |                                 ORDER BY cents ASC, o_custkey ASC) AS HUGEINT) AS i
      |  FROM s),
      |g AS (
      |  SELECT segment, CAST(COUNT(*) AS HUGEINT) AS n,
      |         CAST(SUM(cents) AS HUGEINT) AS sx,
      |         SUM(i * CAST(cents AS HUGEINT)) AS six
      |  FROM r GROUP BY segment)
      |SELECT segment, CAST(n AS BIGINT) AS n_customers,
      |       CAST(((2 * six - (n + 1) * sx) * 1000000) // (n * sx) AS BIGINT) AS gini_ppm
      |FROM g ORDER BY segment""".stripMargin

  /** #271 (q103): skyline / Pareto-frontier query (Börzsönyi et al.
    * ICDE'01) — the multi-criteria "best offers" operator: per brand,
    * the parts not DOMINATED on (retail price ↓, size ↓) — no other
    * part of the brand is cheaper-or-equal AND smaller-or-equal with
    * at least one strict. The naive dominance test is an all-pairs
    * self-join; the 2-D closed form is sort-by-x-then-prefix-min-y:
    * a point is on the frontier iff its y strictly undercuts every
    * smaller-x point's y. Scale shape: rows collapse FIRST to the
    * (brand, price) value-domain histogram carrying min(size) — the
    * running-min window then walks domain-bounded frames (the q93
    * idiom), never raw rows, and ties inside one price are resolved
    * by the same min. Emitted frontier is value-domain rows (brand,
    * price_cents, size); membership of every dominated raw row is
    * derivable by equi-join. Fully oracled (identical windows) +
    * planted-dominance spec. */
  def q103Skyline: Q = (spark, dir) => {
    val pts = Tables.part(spark, dir)
      .select(col("p_brand").as("brand"),
        Exact.e(col("p_retailprice"), 2).cast(LongType).as("price_cents"),
        col("p_size").cast(LongType).as("size"))
    val hist = pts.groupBy("brand", "price_cents")
      .agg(min("size").as("size"))
    val wPrev = Window.partitionBy("brand").orderBy("price_cents")
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("best_prev", min("size").over(wPrev))
      .filter(col("best_prev").isNull || col("size") < col("best_prev"))
      .select("brand", "price_cents", "size")
      .orderBy("brand", "price_cents")
  }

  val q103Sql: String =
    """WITH p AS (
      |  SELECT p_brand AS brand,
      |         CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents,
      |         CAST(p_size AS BIGINT) AS size
      |  FROM part),
      |h AS (
      |  SELECT brand, price_cents, CAST(MIN(size) AS BIGINT) AS size
      |  FROM p GROUP BY 1, 2),
      |w AS (
      |  SELECT brand, price_cents, size,
      |         MIN(size) OVER (PARTITION BY brand ORDER BY price_cents
      |                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_prev
      |  FROM h)
      |SELECT brand, price_cents, size
      |FROM w WHERE best_prev IS NULL OR size < best_prev
      |ORDER BY brand, price_cents""".stripMargin

  /** #272 (q104): chi-square independence audit — "are these two
    * categorical dimensions independent?" (Pearson 1900), the
    * pre-modeling check behind every segment×geography rollout
    * decision and the q58-family drift tests' categorical sibling.
    * Pure integers with cross-multiplied rationals: expected counts
    * in milli via E = R·C·1000 div N, signed per-cell deviation, and
    * the χ² total through the margin identity χ² = Σ O²·N/(R·C) − N
    * (each term ≤ O²·N·10⁶ — inside decimal(38)/HUGEINT where the
    * naive (O·N − R·C)² form overflows even 38 digits at corpus
    * scale). ONE corpus scan reduces to the |segments|×|nations|
    * cell frame; margins, totals, χ² and dof all come from windows
    * OVER that bounded frame (the q93 one-scan idiom — margins via
    * agg+crossJoin would rescan the corpus per consumer). Fully
    * oracled + a hand-computed 2×2 kernel check in the spec. */
  def q104ChiSquare: Q = (spark, dir) => {
    val cells = Tables.customer(spark, dir)
      .groupBy(col("c_mktsegment").as("segment"),
        col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("o"))
    val wSeg = Window.partitionBy("segment")
    val wNat = Window.partitionBy("nationkey")
    val wAll = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val nat = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("nationkey"), col("n_name").as("nation"))
    cells
      .withColumn("r", sum("o").over(wSeg))
      .withColumn("c", sum("o").over(wNat))
      .withColumn("n", sum("o").over(wAll))
      .withColumn("e_milli", expr("(r * c * 1000) div n"))
      .withColumn("dev_milli",
        expr("o * 1000 - (r * c * 1000) div n").cast(LongType))
      .withColumn("term_e6", expr("(o * o * n * 1000000) div (r * c)"))
      .withColumn("chi2_e6",
        sum("term_e6").over(wAll) - expr("n * 1000000").cast(LongType))
      .withColumn("dof",
        (size(collect_set("segment").over(wAll)) - 1).cast(LongType) *
          (size(collect_set("nationkey").over(wAll)) - 1).cast(LongType))
      .join(broadcast(nat), Seq("nationkey"))
      .select(col("segment"), col("nation"), col("o").cast(LongType).as("n_obs"),
        col("e_milli"), col("dev_milli"), col("chi2_e6"), col("dof"))
      .orderBy("segment", "nation")
  }

  val q104Sql: String =
    """WITH cells AS (
      |  SELECT c_mktsegment AS segment, c_nationkey AS nationkey,
      |         CAST(COUNT(*) AS HUGEINT) AS o
      |  FROM customer GROUP BY 1, 2),
      |m AS (
      |  SELECT segment, nationkey, o,
      |         SUM(o) OVER (PARTITION BY segment) AS r,
      |         SUM(o) OVER (PARTITION BY nationkey) AS c,
      |         SUM(o) OVER () AS n
      |  FROM cells),
      |t AS (
      |  SELECT segment, nationkey, o, r, c, n,
      |         (o * o * n * 1000000) // (r * c) AS term_e6
      |  FROM m),
      |f AS (
      |  SELECT segment, nationkey, o,
      |         CAST((r * c * 1000) // n AS BIGINT) AS e_milli,
      |         CAST(o * 1000 - (r * c * 1000) // n AS BIGINT) AS dev_milli,
      |         CAST(SUM(term_e6) OVER () - n * 1000000 AS BIGINT) AS chi2_e6,
      |         CAST((COUNT(DISTINCT segment) OVER () - 1) *
      |              (COUNT(DISTINCT nationkey) OVER () - 1) AS BIGINT) AS dof
      |  FROM t)
      |SELECT segment, n_name AS nation, CAST(o AS BIGINT) AS n_obs,
      |       e_milli, dev_milli, chi2_e6, dof
      |FROM f JOIN nation ON n_nationkey = nationkey
      |ORDER BY segment, nation""".stripMargin

  /** #275 (q105): VARIANT shredding — Spark 4's native semi-
    * structured type on the ingest path q27 serves with per-access
    * string parsing: `parse_json` decodes each props payload ONCE
    * into the binary VARIANT encoding, every `variant_get` after
    * that is a typed byte-offset lookup (no re-parse, no schema
    * declared up front — the open-content model Parquet VARIANT
    * shredding extends to the lake). The report: per event type the
    * typed-extraction census (present-count, sum/min/max of `$.k`) —
    * a malformed payload surfaces as a NULL extraction, never a
    * failed job (spec pins `try_parse_json` on planted damage + the
    * VariantGet plan provenance). Oracle side reads the same numbers
    * through DuckDB's JSON path casts — the VALUES are engine-
    * portable even though the encoding is Spark-native. */
  def q105VariantShred: Q = (spark, dir) =>
    Tables.events(spark, dir)
      .withColumn("vr", expr("parse_json(props)"))
      .withColumn("k", expr("variant_get(vr, '$.k', 'long')"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        count(col("k")).as("n_k_present"),
        sum("k").as("sum_k"),
        min("k").as("min_k"),
        max("k").as("max_k"))
      .orderBy("event_type")

  val q105Sql: String =
    """SELECT event_type,
      |       CAST(COUNT(*) AS BIGINT) AS n_events,
      |       CAST(COUNT(CAST(props::JSON->>'k' AS BIGINT)) AS BIGINT) AS n_k_present,
      |       CAST(SUM(CAST(props::JSON->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
      |       CAST(MIN(CAST(props::JSON->>'k' AS BIGINT)) AS BIGINT) AS min_k,
      |       CAST(MAX(CAST(props::JSON->>'k' AS BIGINT)) AS BIGINT) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** #278 (q106): denormalization drift audit — the accounting
    * reconciliation q66 (replica diff) and q97 (FK orphans) leave
    * open: does the HEADER's denormalized total still agree with the
    * DETAIL mass it summarizes? Per order status: order count,
    * childless-header count (parents with no detail rows — the
    * inverse of q97's orphans; this corpus has 257 at sf0.01, real
    * census evidence), exact header/detail cents masses, and the
    * signed drift ppm (sign-factored truncating div, ORACLE.md
    * Rule 4; ×10⁶ through decimal(38)/HUGEINT). One shuffle each
    * side on the orderkey the production join uses, then a
    * status-bounded aggregate. On THIS corpus the masses genuinely
    * disagree (the generator does not maintain the TPC-H totalprice
    * identity) — the audit's job is to measure that drift, and the
    * oracle pins the measurement. Fully oracled. */
  def q106ReconAudit: Q = (spark, dir) => {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus").as("status"),
        Exact.e(col("o_totalprice"), 2).as("hdr"))
    val l = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(sum(Exact.e(col("l_extendedprice"), 2)).as("det"),
        count(lit(1)).as("nl"))
    o.join(l, o("o_orderkey") === l("l_orderkey"), "left_outer")
      .groupBy("status")
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("nl").isNull, 1L).otherwise(0L)).as("n_childless"),
        sum("hdr").cast(DecimalType(38, 0)).as("h"),
        coalesce(sum("det"), lit(0L)).cast(DecimalType(38, 0)).as("d"))
      .select(col("status"), col("n_orders"), col("n_childless"),
        col("h").cast(LongType).as("header_cents"),
        col("d").cast(LongType).as("detail_cents"),
        when(col("d") >= col("h"),
          expr("((d - h) * 1000000) div h"))
          .otherwise(-expr("((h - d) * 1000000) div h"))
          .cast(LongType).as("drift_ppm"))
      .orderBy("status")
  }

  val q106Sql: String =
    """WITH l AS (
      |  SELECT l_orderkey,
      |         CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS det,
      |         COUNT(*) AS nl
      |  FROM lineitem GROUP BY 1),
      |j AS (
      |  SELECT o_orderstatus AS status,
      |         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS hdr,
      |         det, nl
      |  FROM orders LEFT JOIN l ON o_orderkey = l_orderkey),
      |g AS (
      |  SELECT status,
      |         CAST(COUNT(*) AS BIGINT) AS n_orders,
      |         CAST(SUM(CASE WHEN nl IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_childless,
      |         CAST(SUM(hdr) AS HUGEINT) AS h,
      |         CAST(COALESCE(SUM(det), 0) AS HUGEINT) AS d
      |  FROM j GROUP BY status)
      |SELECT status, n_orders, n_childless,
      |       CAST(h AS BIGINT) AS header_cents,
      |       CAST(d AS BIGINT) AS detail_cents,
      |       CAST(CASE WHEN d >= h THEN ((d - h) * 1000000) // h
      |            ELSE -(((h - d) * 1000000) // h) END AS BIGINT) AS drift_ppm
      |FROM g ORDER BY status""".stripMargin

  /** #279 (q107): unpivot / melt — q13's pivot inverted (wide →
    * long), the reshape every metrics pipeline needs when a
    * many-column fact must become (entity, metric, value) rows for a
    * generic downstream (alerting, drift, per-metric models). Uses
    * Spark's NATIVE `unpivot` (the Dataset API over the UNPIVOT
    * logical op — a projection+explode under the hood, map-only: no
    * shuffle appears until the demo aggregate). Per (brand, metric):
    * count and exact integer sum over the melted rows — metrics
    * pre-scaled to integer units BEFORE melting so one value column
    * carries mixed units losslessly (cents / raw size / raw
    * type-string length). Fully oracled via DuckDB UNPIVOT. */
  def q107Unpivot: Q = (spark, dir) => {
    val wide = Tables.part(spark, dir)
      .select(col("p_brand").as("brand"),
        Exact.e(col("p_retailprice"), 2).cast(LongType).as("price_cents"),
        col("p_size").cast(LongType).as("size"),
        length(col("p_type")).cast(LongType).as("type_len"))
    wide.unpivot(
        ids = Array(col("brand")),
        values = Array(col("price_cents"), col("size"), col("type_len")),
        variableColumnName = "metric",
        valueColumnName = "v")
      .groupBy("brand", "metric")
      .agg(count(lit(1)).as("n"), sum("v").as("total"))
      .orderBy("brand", "metric")
  }

  val q107Sql: String =
    """WITH wide AS (
      |  SELECT p_brand AS brand,
      |         CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents,
      |         CAST(p_size AS BIGINT) AS size,
      |         CAST(length(p_type) AS BIGINT) AS type_len
      |  FROM part),
      |long AS (
      |  UNPIVOT wide ON price_cents, size, type_len
      |  INTO NAME metric VALUE v)
      |SELECT brand, metric, CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(SUM(v) AS BIGINT) AS total
      |FROM long GROUP BY brand, metric ORDER BY brand, metric""".stripMargin

  /** #282 (q108): rollup contribution report — q15's rollup with the
    * question every subtotal reader actually asks bolted on: what
    * share of its PARENT does each row carry? (detail → its
    * subtotal, subtotal → the grand total, grand total → itself).
    * grouping_id() distinguishes the levels; the share joins are
    * SELF-joins of the rollup OUTPUT — a domain-bounded frame
    * localCheckpointed first (the q98 staging trick), so the corpus
    * aggregates once and the share plumbing touches only subtotal
    * rows. NULL grouping keys render as 'ALL' so the report is
    * unambiguous (a genuine NULL key would collide with a rollup
    * hole otherwise). Shares in floor ppm via decimal(38)/HUGEINT.
    * Fully oracled (ROLLUP + GROUPING()). */
  def q108RollupShare: Q = (spark, dir) => {
    val d38 = DecimalType(38, 0)
    val base = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
        Exact.e(col("l_extendedprice"), 2).as("cents"))
    val r = base.rollup("rf", "ls")
      .agg(sum("cents").cast(d38).as("mass"), grouping_id().as("gid"))
      .localCheckpoint()
    val seg = r.filter(col("gid") === 1)
      .select(col("rf").as("p_rf"), col("mass").as("p_mass"))
    val grand = r.filter(col("gid") === 3)
      .select(col("mass").as("g_mass"))
    val detail = r.filter(col("gid") === 0)
      .join(broadcast(seg), col("rf") === col("p_rf"))
      .select(col("rf"), col("ls"), col("gid"), col("mass"),
        col("p_mass").as("parent"))
    val subtot = r.filter(col("gid") === 1).crossJoin(broadcast(grand))
      .select(col("rf"), col("ls"), col("gid"), col("mass"),
        col("g_mass").as("parent"))
    val top = r.filter(col("gid") === 3)
      .select(col("rf"), col("ls"), col("gid"), col("mass"),
        col("mass").as("parent"))
    detail.unionByName(subtot).unionByName(top)
      .select(
        coalesce(col("rf"), lit("ALL")).as("returnflag"),
        coalesce(col("ls"), lit("ALL")).as("linestatus"),
        col("gid").cast(LongType).as("gid"),
        col("mass").cast(LongType).as("mass_cents"),
        expr("(mass * 1000000) div parent").as("share_of_parent_ppm"))
      .orderBy("gid", "returnflag", "linestatus")
  }

  val q108Sql: String =
    """WITH r AS (
      |  SELECT l_returnflag AS rf, l_linestatus AS ls,
      |         CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS HUGEINT) AS mass,
      |         CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
      |  FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)),
      |seg AS (SELECT rf AS p_rf, mass AS p_mass FROM r WHERE gid = 1),
      |grand AS (SELECT mass AS g_mass FROM r WHERE gid = 3),
      |u AS (
      |  SELECT r.rf, r.ls, r.gid, r.mass, seg.p_mass AS parent
      |  FROM r JOIN seg ON r.rf = seg.p_rf WHERE r.gid = 0
      |  UNION ALL
      |  SELECT rf, ls, gid, mass, (SELECT g_mass FROM grand) FROM r WHERE gid = 1
      |  UNION ALL
      |  SELECT rf, ls, gid, mass, mass FROM r WHERE gid = 3)
      |SELECT COALESCE(rf, 'ALL') AS returnflag,
      |       COALESCE(ls, 'ALL') AS linestatus,
      |       gid,
      |       CAST(mass AS BIGINT) AS mass_cents,
      |       CAST((mass * 1000000) // parent AS BIGINT) AS share_of_parent_ppm
      |FROM u ORDER BY gid, returnflag, linestatus""".stripMargin

  /** #283 (q109): LOCF forward fill — the imputation family's fourth
    * member (q05 sentinel fill, q08 join imputation, q56 linear
    * interpolation; this is last-observation-carried-forward, the
    * rule a DOWNWARD-biased interpolation would falsify for
    * step-shaped series like prices and configuration states). Per
    * event type: the full day spine from first to last observation
    * (explode(sequence) on the domain-bounded per-type range),
    * left-joined observations, and ONE running window carrying both
    * the filled value (`last(_, ignoreNulls)`) and the day it was
    * carried from — `staleness_days` is the trust signal a consumer
    * filters on. The spine starts at each type's first observation,
    * so no leading-null edge case exists by construction. Fully
    * oracled (LAST_VALUE IGNORE NULLS). */
  def q109Locf: Q = (spark, dir) => {
    val daily = Tables.events(spark, dir)
      .select(col("event_type"), col("ts").cast(DateType).as("day"),
        round(col("value") * 100, 0).cast(LongType).as("cents"))
      .filter(col("cents") > 20000)
      .groupBy("event_type", "day").agg(sum("cents").as("cents"))
    val spine = daily.groupBy("event_type")
      .agg(min("day").as("lo"), max("day").as("hi"))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"))).as("day"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("event_type", "day"), "left_outer")
      .withColumn("cents_filled", last("cents", ignoreNulls = true).over(w))
      .withColumn("carried_from",
        last(when(col("cents").isNotNull, col("day")), ignoreNulls = true)
          .over(w))
      .select(col("event_type"), col("day"), col("cents_filled"),
        datediff(col("day"), col("carried_from")).cast(LongType)
          .as("staleness_days"),
        col("cents").isNotNull.cast(LongType).as("is_observed"))
      .orderBy("event_type", "day")
  }

  val q109Sql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events WHERE CAST(ROUND(value * 100, 0) AS BIGINT) > 20000
      |  GROUP BY 1, 2),
      |b AS (SELECT event_type, MIN(day) AS lo, MAX(day) AS hi
      |      FROM daily GROUP BY 1),
      |spine AS (
      |  SELECT event_type,
      |         CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM b),
      |j AS (
      |  SELECT s.event_type, s.day, d.cents
      |  FROM spine s LEFT JOIN daily d
      |    ON s.event_type = d.event_type AND s.day = d.day),
      |f AS (
      |  SELECT event_type, day, cents,
      |         LAST_VALUE(cents IGNORE NULLS) OVER w AS cents_filled,
      |         LAST_VALUE(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS)
      |           OVER w AS carried_from
      |  FROM j
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING))
      |SELECT event_type, day, cents_filled,
      |       CAST(day - carried_from AS BIGINT) AS staleness_days,
      |       CAST(CASE WHEN cents IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_observed
      |FROM f ORDER BY event_type, day""".stripMargin

  /** #286 (q110): Wilson lower-bound ranking — the "how not to sort
    * by average" operator (Wilson 1927): a brand with 2/2 returns
    * must NOT outrank one with 180/200, so items rank by the
    * CONFIDENCE LOWER BOUND of their rate, not the raw ratio. At
    * z = 2 the bound is LB = (s + 2 − 2·√(s(n−s)/n + 1))/(n + 4);
    * everything is integer-rational except one √, carried as the
    * shared-IEEE term FLOOR(SQRT(n·(s·(n−s) + n))) — int→double
    * conversion and sqrt are both correctly rounded, so the floored
    * integer is bit-identical cross-engine (ORACLE.md Rule 4's
    * shared-IEEE option), and every other op stays in
    * decimal(38)/HUGEINT. Report: per brand the lineitem returns
    * census, raw rate and Wilson LB in ppm, ranked by the bound.
    * One partkey shuffle (the production join), brand-bounded
    * aggregate. Fully oracled. */
  def q110WilsonRank: Q = (spark, dir) => {
    val d38 = DecimalType(38, 0)
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"),
        (col("l_returnflag") === "R").cast(LongType).as("ret"))
    val g = li.join(Tables.part(spark, dir)
        .select(col("p_partkey"), col("p_brand").as("brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("brand")
      .agg(count(lit(1)).cast(d38).as("n"), sum("ret").cast(d38).as("s"))
    g
      // the one shared-IEEE term; all else stays integral
      .withColumn("rt",
        floor(sqrt(expr("cast(n * (s * (n - s) + n) as double)")))
          .cast(d38))
      .select(col("brand"),
        col("n").cast(LongType).as("n_lines"),
        col("s").cast(LongType).as("n_returned"),
        expr("(s * 1000000) div n").as("raw_ppm"),
        expr("case when (s + 2) * n >= 2 * rt " +
          "then (((s + 2) * n - 2 * rt) * 1000000) div (n * (n + 4)) " +
          "else 0 end").cast(LongType).as("wilson_lb_ppm"))
      .orderBy(col("wilson_lb_ppm").desc, col("brand").asc)
  }

  val q110Sql: String =
    """WITH g AS (
      |  SELECT p_brand AS brand,
      |         CAST(COUNT(*) AS HUGEINT) AS n,
      |         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS HUGEINT) AS s
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1),
      |w AS (
      |  SELECT brand, n, s,
      |         CAST(FLOOR(SQRT(CAST(n * (s * (n - s) + n) AS DOUBLE))) AS HUGEINT) AS rt
      |  FROM g)
      |SELECT brand,
      |       CAST(n AS BIGINT) AS n_lines,
      |       CAST(s AS BIGINT) AS n_returned,
      |       CAST((s * 1000000) // n AS BIGINT) AS raw_ppm,
      |       CAST(CASE WHEN (s + 2) * n >= 2 * rt
      |            THEN (((s + 2) * n - 2 * rt) * 1000000) // (n * (n + 4))
      |            ELSE 0 END AS BIGINT) AS wilson_lb_ppm
      |FROM w
      |ORDER BY wilson_lb_ppm DESC, brand ASC""".stripMargin

  /** #287 (q111): exact two-sample Kolmogorov–Smirnov drift — the
    * nonparametric complement of q58's binned total-variation audit:
    * D = max over the value domain of |F_ref(v) − F_cur(v)| between
    * the reference and current windows, sensitive to ANY distribution
    * change (location, scale, shape) without choosing bins. Exact in
    * integers: D is the rational d_num / (n_ref·n_cur) where
    * d_num = max |cum_ref·n_cur − cum_cur·n_ref| over the ordered
    * value histogram — no floats anywhere (the cross-multiplied CDF
    * trick). Plan shape is the q29/q98 count-histogram kernel: one
    * scan → (type, cents) histogram (value-domain bounded, map-side
    * combined), cumulative + total windows and the final max on ONE
    * hash exchange. d_num ≤ n_ref·n_cur stays in BIGINT through
    * ~sf1000; the ppm scaling runs in decimal(38)/HUGEINT (ORACLE.md
    * Rule 3). Fully oracled. */
  def q111KsDrift: Q = (spark, dir) =>
    ksFromCounts(driftRawCounts(spark, dir, DriftRefEnd)).orderBy("event_type")

  /** The drift panel's CANONICAL reference/current day split — the
    * boundary every batch consumer (raw q111/q113/q115, artifact
    * q112/q114/q116) and the streaming monitors' refEnd default pin
    * EXPLICITLY. The split is a parameter of [[driftRawCounts]] /
    * [[driftWindowCounts]], not a literal buried inside them: a
    * future consumer must choose its window boundary instead of
    * silently inheriting the test corpus's, and shifting it moves all
    * three statistics together (spec-pinned). `DriftCurStart` is the
    * day after `DriftRefEnd` — the windows partition the day line.
    * The DuckDB oracles encode the same boundary as
    * `datediff(day, '2024-01-01', …) < 15` inside
    * [[driftCountsCteSql]] (one shared CTE for the three raw SQLs). */
  private[graft] val DriftRefEnd = "2024-01-15"
  private[graft] val DriftCurStart = "2024-01-16"

  /** The drift triad's shared RAW-SCAN count frame — ONE definition
    * of the reference/current split and the NULL domain for the
    * KS (q111), AUC (q113) and W₁ (q115) raw queries, mirroring
    * [[driftWindowCounts]] on the artifact side. NULL values are
    * excluded EXPLICITLY so every drift path agrees on the domain:
    * the artifact producer drops null histogram values, and a NULL
    * would also order first in Spark's CDF walk but last in
    * DuckDB's. NULL timestamps are excluded for the same reason: a
    * null is_ref would count the row into o_cur here
    * (otherwise-branch) but into NEITHER count in the oracle's
    * FILTER, and into neither day window of the artifact path.
    * `refEnd` is the split boundary (see [[DriftRefEnd]]): events
    * dated ≤ refEnd are the reference window, everything later is
    * current — the raw twin of [[driftWindowCounts]]' day filter. */
  private def driftRawCounts(spark: SparkSession, dir: String,
                             refEnd: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        (col("ts").cast(DateType) <= lit(refEnd).cast(DateType))
          .as("is_ref"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
      .filter(col("cents").isNotNull && col("is_ref").isNotNull)
      .groupBy("event_type", "cents")
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("o_ref"),
        sum(when(col("is_ref"), 0L).otherwise(1L)).as("o_cur"))

  /** [[driftRawCounts]]' oracle twin: the shared `ev`/`c` CTE prefix
    * of the three raw drift SQLs (the s08CandsSql factoring pattern —
    * a domain-rule change cannot silently fork one statistic). */
  private val driftCountsCteSql: String =
    """ev AS (
      |  SELECT event_type,
      |         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) < 15 AS is_ref,
      |         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
      |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
      |c AS (
      |  SELECT event_type, cents,
      |         CAST(COUNT(*) FILTER (is_ref) AS BIGINT) AS o_ref,
      |         CAST(COUNT(*) FILTER (NOT is_ref) AS BIGINT) AS o_cur
      |  FROM ev GROUP BY 1, 2)""".stripMargin

  /** The q111 KS kernel over a prepared (event_type, cents, o_ref,
    * o_cur) count frame — shared by the raw-scan query (q111), the
    * persisted-histogram consumer (q112) and the streaming monitor
    * ([[graft.streaming.EventStream.ksDriftForeachBatch]]), so all
    * three re-derive the SAME exact rational D from whatever produced
    * the counts. Cumulative + total windows and the final max on one
    * event_type hash exchange. */
  private[graft] def ksFromCounts(c: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy("event_type").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("event_type")
    c
      .withColumn("cum_ref", sum("o_ref").over(wOrd))
      .withColumn("cum_cur", sum("o_cur").over(wOrd))
      .withColumn("n_ref", sum("o_ref").over(wAll))
      .withColumn("n_cur", sum("o_cur").over(wAll))
      .groupBy("event_type")
      .agg(min("n_ref").as("n_ref"), min("n_cur").as("n_cur"),
        max(abs(col("cum_ref") * col("n_cur") - col("cum_cur") * col("n_ref")))
          .as("d_num"))
      // D is undefined while either window is empty (the monitor's
      // early prefix) — report 0 with the window sizes visible rather
      // than divide by zero; CASE short-circuits the division
      .withColumn("ks_ppm",
        when(col("n_ref") === 0L || col("n_cur") === 0L, 0L)
          .otherwise(expr("(cast(d_num as decimal(38,0)) * 1000000) div " +
            "(cast(n_ref as decimal(38,0)) * n_cur)").cast(LongType)))
      .select("event_type", "n_ref", "n_cur", "d_num", "ks_ppm")
  }

  /** The day-partitioned cents-histogram artifact shared by the drift
    * panel's artifact consumers (q112 KS, q114 AUC): built ONCE behind
    * [[graft.etl.Stages.shared]] over the EVENTS table (d23's
    * span-frame regime) — a second panel read serves the committed
    * kilobyte parquet without re-aggregating the event log; under a
    * durable root a nightly over unchanged events reads last night's
    * artifact and any event change rebuilds by construction.
    * Written `partitionBy(day)` so day-window filters prune files. */
  private[graft] def ksHistArtifact(spark: SparkSession, dir: String): DataFrame =
    etl.Stages.shared(spark, dir, "events", "ks_hists",
        partitionCols = Seq("day")) {
      graft.sources.SketchStore.histogramFrame(
        Tables.events(spark, dir)
          .select(to_date(col("ts")).as("day"), col("event_type"),
            expr("cast(round(value * 100, 0) as bigint)").as("cents"))
          .filter(col("day").isNotNull),
        Seq("day", "event_type"), col("cents"), 0)
    }

  /** #291 (q112): KS drift between day ranges from PERSISTED
    * histograms — q111's audit served from the day-partitioned value
    * histogram artifact instead of a raw-event rescan (the q75/#191
    * no-rescan pattern, now for the nonparametric statistic). The
    * artifact ([[ksHistArtifact]], staged behind `_SUCCESS` gating)
    * stores the UNBUCKETED cents histogram, which is lossless
    * for a CDF statistic — KS from merged day histograms is
    * BIT-IDENTICAL to q111 over the raw events (the oracle pins q112
    * against q111's own SQL). Day windows prune on the artifact's day
    * partitions; the kernel is [[ksFromCounts]]. At 100 TB: tonight's
    * drift panel reads kilobyte histograms, never the event log. */
  def q112KsFromArtifacts: Q = (spark, dir) =>
    ksFromCounts(driftWindowCounts(ksHistArtifact(spark, dir),
      DriftRefEnd, DriftCurStart))
      .orderBy("event_type")

  /** The drift panel's day-window merge over the staged histogram —
    * ONE definition of the reference/current split and the zero-fill,
    * shared by the three artifact consumers (q112 KS, q114 AUC,
    * q116 W₁) so they can never silently diverge on the
    * artifact-consistency claim their oracles pin. Output: the
    * (event_type, cents, o_ref, o_cur) count frame every kernel
    * takes. The split is the caller's choice — the canonical panel
    * passes ([[DriftRefEnd]], [[DriftCurStart]]); days strictly
    * between refEnd and curStart (if the caller leaves a gap) belong
    * to neither window. */
  private[graft] def driftWindowCounts(art: DataFrame, refEnd: String,
                                       curStart: String): DataFrame = {
    def window(pred: org.apache.spark.sql.Column, out: String): DataFrame =
      art.filter(pred)
        .groupBy(col("event_type"), col("v").as("cents"))
        .agg(sum("cnt").as(out))
    window(col("day") <= refEnd, "o_ref")
      .join(window(col("day") >= curStart, "o_cur"),
        Seq("event_type", "cents"), "full")
      .na.fill(0L, Seq("o_ref", "o_cur"))
  }

  val q111Sql: String =
    "WITH " + driftCountsCteSql + """,
      |t AS (
      |  SELECT event_type,
      |         SUM(o_ref) OVER (PARTITION BY event_type ORDER BY cents
      |                          ROWS UNBOUNDED PRECEDING) AS cum_ref,
      |         SUM(o_cur) OVER (PARTITION BY event_type ORDER BY cents
      |                          ROWS UNBOUNDED PRECEDING) AS cum_cur,
      |         SUM(o_ref) OVER (PARTITION BY event_type) AS n_ref,
      |         SUM(o_cur) OVER (PARTITION BY event_type) AS n_cur
      |  FROM c),
      |d AS (
      |  SELECT event_type,
      |         CAST(MIN(n_ref) AS BIGINT) AS n_ref,
      |         CAST(MIN(n_cur) AS BIGINT) AS n_cur,
      |         CAST(MAX(ABS(cum_ref * n_cur - cum_cur * n_ref)) AS BIGINT) AS d_num
      |  FROM t GROUP BY 1)
      |SELECT event_type, n_ref, n_cur, d_num,
      |       CAST(CASE WHEN n_ref = 0 OR n_cur = 0 THEN 0
      |            ELSE CAST(d_num AS HUGEINT) * 1000000
      |                 // (CAST(n_ref AS HUGEINT) * n_cur) END AS BIGINT) AS ks_ppm
      |FROM d ORDER BY event_type""".stripMargin

  /** #295 (q113): two-sample AUC drift (Mann–Whitney U) — the EFFECT
    * SIZE companion of q111's KS detector: AUC = P(current sample >
    * reference sample) + ½P(tie), i.e. how far the current window's
    * values sit ABOVE the reference's (500000 ppm = no shift; KS says
    * "the distributions differ", AUC says by how much and in which
    * direction — the number an SLO threshold reads). Exact in
    * integers over the same value histogram: doubling clears the tie
    * half-weight, u2 = Σ_v (2·o_cur(v)·cumRef(<v) + o_ref(v)·o_cur(v))
    * counts (ref, cur) pairs with cur above ×2 plus ties ×1, and
    * auc_ppm = u2·10⁶ div (2·n_ref·n_cur) in decimal(38)/HUGEINT.
    * Same q29/q98 histogram-window plan shape as the KS kernel (one
    * event_type hash exchange); 0 while either window is empty
    * (q111's rule). Fully oracled. */
  def q113AucDrift: Q = (spark, dir) =>
    aucFromCounts(driftRawCounts(spark, dir, DriftRefEnd)).orderBy("event_type")

  /** The q113 Mann–Whitney kernel over a prepared (event_type, cents,
    * o_ref, o_cur) count frame — [[ksFromCounts]]' effect-size sibling,
    * shared by the raw-scan query (q113) and the persisted-histogram
    * consumer (q114) so both derive the SAME exact integer U. */
  private[graft] def aucFromCounts(c: DataFrame): DataFrame = {
    val wLt = Window.partitionBy("event_type").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy("event_type")
    c
      .withColumn("cum_ref_lt", coalesce(sum("o_ref").over(wLt), lit(0L)))
      .withColumn("n_ref", sum("o_ref").over(wAll))
      .withColumn("n_cur", sum("o_cur").over(wAll))
      .groupBy("event_type")
      .agg(min("n_ref").as("n_ref"), min("n_cur").as("n_cur"),
        sum(lit(2L) * col("o_cur") * col("cum_ref_lt") +
          col("o_ref") * col("o_cur")).as("u2"))
      .withColumn("auc_ppm",
        when(col("n_ref") === 0L || col("n_cur") === 0L, 0L)
          .otherwise(expr("(cast(u2 as decimal(38,0)) * 1000000) div " +
            "(2 * cast(n_ref as decimal(38,0)) * n_cur)").cast(LongType)))
      .select("event_type", "n_ref", "n_cur", "u2", "auc_ppm")
  }

  /** #300 (q115): exact two-sample Wasserstein-1 drift (earth-mover
    * distance on the line) — the TRANSPORT-COST member of the drift
    * triad: KS (q111) reports the largest CDF gap, AUC (q113) the
    * rank shift's direction; W₁ = ∫|F_ref − F_cur| dv is the mean
    * distance probability mass moved, in the VALUE's own units — the
    * "average cents shifted per event" number an SLO prices directly
    * (two distributions can share a small KS yet move a lot of mass
    * far, and vice versa). Exact in integers over the same ordered
    * cents histogram: between consecutive observed values both CDFs
    * are constant, so W₁ = Σ |cum_ref·n_cur − cum_cur·n_ref|·gap /
    * (n_ref·n_cur) with gap = next_cents − cents (the last value
    * contributes nothing — beyond the union's max both CDFs are 1).
    * The cross-multiplied |…| stays BIGINT through ~sf1000 (q111's
    * bound); the ×gap product routes through decimal(38)/HUGEINT
    * (ORACLE.md Rule 3) and only the final centi-cents ratio is
    * emitted. Same one-exchange histogram-window plan as the KS/AUC
    * kernels. Fully oracled. */
  def q115W1Drift: Q = (spark, dir) =>
    w1FromCounts(driftRawCounts(spark, dir, DriftRefEnd)).orderBy("event_type")

  /** The q115 W₁ kernel over a prepared (event_type, cents, o_ref,
    * o_cur) count frame — the third sibling of [[ksFromCounts]] /
    * [[aucFromCounts]], shared by the raw-scan query, the
    * artifact consumer (q116) and the streaming monitor. */
  private[graft] def w1FromCounts(c: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy("event_type").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("event_type")
    val wLead = Window.partitionBy("event_type").orderBy("cents")
    c
      .withColumn("cum_ref", sum("o_ref").over(wOrd))
      .withColumn("cum_cur", sum("o_cur").over(wOrd))
      .withColumn("n_ref", sum("o_ref").over(wAll))
      .withColumn("n_cur", sum("o_cur").over(wAll))
      // the open interval past the largest observed value carries no
      // mass difference (both CDFs are 1) — a 0 gap, NOT a dropped
      // row: a type whose window union holds one distinct value must
      // still report (type, n_ref, n_cur, 0) like the KS/AUC siblings
      // (a triad consumer joining the three reports on event_type
      // would otherwise lose the type from the W₁ column only)
      .withColumn("gap",
        coalesce(lead("cents", 1).over(wLead) - col("cents"), lit(0L)))
      .groupBy("event_type")
      .agg(min("n_ref").as("n_ref"), min("n_cur").as("n_cur"),
        sum(expr("cast(abs(cum_ref * n_cur - cum_cur * n_ref) " +
          "as decimal(38,0)) * gap")).as("w1num"))
      .withColumn("w1_centi_cents",
        when(col("n_ref") === 0L || col("n_cur") === 0L, 0L)
          .otherwise(expr("(w1num * 100) div " +
            "(cast(n_ref as decimal(38,0)) * n_cur)").cast(LongType)))
      .select("event_type", "n_ref", "n_cur", "w1_centi_cents")
  }

  val q115Sql: String =
    "WITH " + driftCountsCteSql + """,
      |t AS (
      |  SELECT event_type,
      |         SUM(o_ref) OVER (PARTITION BY event_type ORDER BY cents
      |                          ROWS UNBOUNDED PRECEDING) AS cum_ref,
      |         SUM(o_cur) OVER (PARTITION BY event_type ORDER BY cents
      |                          ROWS UNBOUNDED PRECEDING) AS cum_cur,
      |         SUM(o_ref) OVER (PARTITION BY event_type) AS n_ref,
      |         SUM(o_cur) OVER (PARTITION BY event_type) AS n_cur,
      |         COALESCE(lead(cents) OVER (PARTITION BY event_type ORDER BY cents)
      |                  - cents, 0) AS gap
      |  FROM c),
      |d AS (
      |  SELECT event_type,
      |         CAST(MIN(n_ref) AS BIGINT) AS n_ref,
      |         CAST(MIN(n_cur) AS BIGINT) AS n_cur,
      |         SUM(CAST(ABS(cum_ref * n_cur - cum_cur * n_ref) AS HUGEINT) * gap)
      |           AS w1num
      |  FROM t GROUP BY 1)
      |SELECT event_type, n_ref, n_cur,
      |       CAST(CASE WHEN n_ref = 0 OR n_cur = 0 THEN 0
      |            ELSE (w1num * 100)
      |                 // (CAST(n_ref AS HUGEINT) * n_cur) END AS BIGINT)
      |         AS w1_centi_cents
      |FROM d ORDER BY event_type""".stripMargin

  /** #300b (q116): W₁ drift between day ranges from the SAME staged
    * histogram artifact as q112/q114 — the drift triad's third
    * artifact consumer; the unbucketed histogram is lossless for any
    * CDF functional, so the artifact-served W₁ is bit-identical to
    * q115 over the raw events (oracle = q115's own SQL). */
  def q116W1FromArtifacts: Q = (spark, dir) =>
    w1FromCounts(driftWindowCounts(ksHistArtifact(spark, dir),
      DriftRefEnd, DriftCurStart))
      .orderBy("event_type")

  /** #296 (q114): AUC drift between day ranges from PERSISTED
    * histograms — the q112 composition applied to the Mann–Whitney U
    * statistic: the same staged day-partitioned cents histogram
    * ([[ksHistArtifact]] — ONE artifact serves the whole drift panel),
    * the same day-window merge, [[aucFromCounts]] instead of
    * [[ksFromCounts]]. The unbucketed histogram is lossless for a rank
    * statistic, so the artifact-served AUC is BIT-IDENTICAL to q113
    * over the raw events — the oracle pins q114 against q113's own
    * SQL. */
  def q114AucFromArtifacts: Q = (spark, dir) =>
    aucFromCounts(driftWindowCounts(ksHistArtifact(spark, dir),
      DriftRefEnd, DriftCurStart))
      .orderBy("event_type")

  val q113Sql: String =
    "WITH " + driftCountsCteSql + """,
      |t AS (
      |  SELECT event_type, o_ref, o_cur,
      |         COALESCE(SUM(o_ref) OVER (PARTITION BY event_type ORDER BY cents
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           AS cum_ref_lt,
      |         SUM(o_ref) OVER (PARTITION BY event_type) AS n_ref,
      |         SUM(o_cur) OVER (PARTITION BY event_type) AS n_cur
      |  FROM c),
      |d AS (
      |  SELECT event_type,
      |         CAST(MIN(n_ref) AS BIGINT) AS n_ref,
      |         CAST(MIN(n_cur) AS BIGINT) AS n_cur,
      |         CAST(SUM(2 * o_cur * cum_ref_lt + o_ref * o_cur) AS BIGINT) AS u2
      |  FROM t GROUP BY 1)
      |SELECT event_type, n_ref, n_cur, u2,
      |       CAST(CASE WHEN n_ref = 0 OR n_cur = 0 THEN 0
      |            ELSE CAST(u2 AS HUGEINT) * 1000000
      |                 // (2 * CAST(n_ref AS HUGEINT) * n_cur) END AS BIGINT)
      |         AS auc_ppm
      |FROM d ORDER BY event_type""".stripMargin

  /** #303 (q117): Spearman rank correlation — the RANK twin of q30's
    * Pearson: monotone association robust to the value scale (Spearman
    * 1904). ρ = Pearson over average ranks; with ties the average rank
    * is fractional, so the kernel works in integer DOUBLE-ranks
    * r2(v) = 2·|{u < v}| + |{u = v}| + 1 (exactly 2× the average rank,
    * always integral), and centers them: Σ of average ranks is
    * n(n+1)/2 REGARDLESS of ties, so c = r2 − (n+1) has an exactly
    * zero group mean and ρ = Σ c_x·c_y / √(Σc_x²·Σc_y²) needs no n×
    * cross terms (the products stay within decimal(38) through
    * ~sf1000, where the n·Σ form of q30 would overflow).
    *
    * Scale shape: ranks come from the per-group VALUE HISTOGRAM — one
    * groupBy(grp, value) count, then
    * [[graft.etl.GlobalOrder.withGroupCumBefore]]'s banded exclusive
    * prefix sum (the value domain is DATA-scale for prices: a window
    * partitioned by the 3-value group alone would buffer-sort a third
    * of the distinct-price histogram through one task). Rank frames
    * join back on (grp, value) — two co-partitioned hash joins — and
    * the group size broadcast. No global sort anywhere.
    *
    * Oracle: identical arithmetic; the final ρ is the one
    * shared-IEEE step (÷ and two correctly-rounded √ over
    * decimal-exact sums; at driver-checked SFs the sums sit far below
    * 2⁵³ so the decimal→double casts are exact on both engines). */
  def q117Spearman: Q = (spark, dir) => {
    val rows = Tables.lineitem(spark, dir).select(
      col("l_returnflag").as("grp"),
      Exact.e(col("l_quantity"), 2).cast(LongType).as("xv"),
      Exact.e(col("l_extendedprice"), 2).cast(LongType).as("yv"))
    // each histogram feeds the banded prefix-sum helper, which reads
    // its input three times (bounds, partials, final join); AQE
    // exchange reuse serves the repeats from one shuffle at runtime —
    // an explicit barrier measured ~1.6x SLOWER (see acfOverDaily)
    def histOf(v: String): DataFrame =
      rows.groupBy(col("grp"), col(v)).agg(count(lit(1)).as("cnt"))
    def r2Of(hist: DataFrame, v: String): DataFrame =
      graft.etl.GlobalOrder
        .withGroupCumBefore(hist, "grp", v, "cnt", cumCol = "cum")
        .select(col("grp"), col(v),
          (col("cum") * 2 + col("cnt") + 1).cast(LongType).as(s"r2$v"))
    val histX = histOf("xv")
    // group sizes fall out of the x histogram — no third corpus scan
    val n = histX.groupBy("grp").agg(sum("cnt").cast(LongType).as("n"))
    val dec19 = DecimalType(19, 0)
    val centered = rows
      .join(r2Of(histX, "xv"), Seq("grp", "xv"))
      .join(r2Of(histOf("yv"), "yv"), Seq("grp", "yv"))
      .join(broadcast(n), Seq("grp"))
      .select(col("grp"),
        col("n"),
        (col("r2xv") - (col("n") + 1)).cast(dec19).as("cx"),
        (col("r2yv") - (col("n") + 1)).cast(dec19).as("cy"))
    centered.groupBy("grp")
      .agg(min("n").as("n_rows"),
        sum(col("cx") * col("cy")).as("sxy"),
        sum(col("cx") * col("cx")).as("sxx"),
        sum(col("cy") * col("cy")).as("syy"))
      .select(col("grp").as("l_returnflag"), col("n_rows"),
        when(col("sxx") === 0 || col("syy") === 0, lit(0L))
          .otherwise(Exact.e(
            col("sxy").cast(DoubleType) /
              (sqrt(col("sxx").cast(DoubleType)) *
               sqrt(col("syy").cast(DoubleType))), 6).cast(LongType))
          .as("rho_e6"))
      .orderBy("l_returnflag")
  }

  val q117Sql: String =
    """WITH r AS (
      |  SELECT l_returnflag AS grp,
      |         CAST(FLOOR(l_quantity * 100.0 + 0.5) AS BIGINT) AS xv,
      |         CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS yv
      |  FROM lineitem),
      |hx AS (SELECT grp, xv, COUNT(*) AS cnt FROM r GROUP BY 1, 2),
      |rx AS (
      |  SELECT grp, xv,
      |         2 * COALESCE(SUM(cnt) OVER (PARTITION BY grp ORDER BY xv
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           + cnt + 1 AS r2x
      |  FROM hx),
      |hy AS (SELECT grp, yv, COUNT(*) AS cnt FROM r GROUP BY 1, 2),
      |ry AS (
      |  SELECT grp, yv,
      |         2 * COALESCE(SUM(cnt) OVER (PARTITION BY grp ORDER BY yv
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           + cnt + 1 AS r2y
      |  FROM hy),
      |n AS (SELECT grp, COUNT(*) AS n FROM r GROUP BY 1),
      |j AS (
      |  SELECT r.grp, n.n,
      |         CAST(r2x - (n + 1) AS HUGEINT) AS cx,
      |         CAST(r2y - (n + 1) AS HUGEINT) AS cy
      |  FROM r JOIN rx USING (grp, xv) JOIN ry USING (grp, yv)
      |         JOIN n USING (grp)),
      |s AS (
      |  SELECT grp, CAST(MIN(n) AS BIGINT) AS n_rows,
      |         SUM(cx * cy) AS sxy, SUM(cx * cx) AS sxx,
      |         SUM(cy * cy) AS syy
      |  FROM j GROUP BY 1)
      |SELECT grp AS l_returnflag, n_rows,
      |       CAST(CASE WHEN sxx = 0 OR syy = 0 THEN 0
      |            ELSE FLOOR(CAST(sxy AS DOUBLE) /
      |                   (sqrt(CAST(sxx AS DOUBLE)) * sqrt(CAST(syy AS DOUBLE)))
      |                   * 1000000.0 + 0.5) END AS BIGINT) AS rho_e6
      |FROM s ORDER BY l_returnflag""".stripMargin

  /** #304 (q118): Kendall τ-b + Mann–Kendall S per nation over the
    * monthly (revenue, order-count) series — concordance-based trend
    * agreement (Kendall 1938; Mann 1945's S = C − D is the classic
    * nonparametric monotone-trend test, and τ-b its tie-corrected
    * normalization). The DATA-scale stage is the (nation, month)
    * aggregation — one shuffle over the orders⋈customer join; the
    * pairwise self-join runs on the AGGREGATED series (months per
    * nation are calendar-bounded: configuration-scale, ~10³ pairs per
    * nation). Concordance is decided by SIGN COMPARISON, never a
    * difference product — no overflow at any SF. τ-b's two √ are the
    * one shared-IEEE step over exact small-integer pair counts. */
  def q118Kendall: Q = (spark, dir) => {
    // the series feeds both self-join sides and the month census;
    // AQE exchange reuse dedups the repeated aggregate at runtime (an
    // explicit barrier measured slower — see acfOverDaily's note)
    val series = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
        date_trunc("month", col("o_orderdate")).cast(DateType).as("mon"))
      .agg(Exact.eSum(col("o_totalprice"), 2).cast(LongType).as("rev"),
        count(lit(1)).as("n_ord"))
    val a = series.select(col("n_name"), col("mon").as("m1"),
      col("rev").as("r1"), col("n_ord").as("c1"))
    val b = series.select(col("n_name"), col("mon").as("m2"),
      col("rev").as("r2"), col("n_ord").as("c2"))
    val nm = series.groupBy("n_name").agg(count(lit(1)).as("n_months"))
    val conc = (col("r2") > col("r1") && col("c2") > col("c1")) ||
      (col("r2") < col("r1") && col("c2") < col("c1"))
    val disc = (col("r2") > col("r1") && col("c2") < col("c1")) ||
      (col("r2") < col("r1") && col("c2") > col("c1"))
    a.join(b, Seq("n_name")).filter(col("m1") < col("m2"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(conc, 1L).otherwise(0L)).as("nc"),
        sum(when(disc, 1L).otherwise(0L)).as("nd"),
        sum(when(col("r1") === col("r2"), 1L).otherwise(0L)).as("tx"),
        sum(when(col("c1") === col("c2"), 1L).otherwise(0L)).as("ty"))
      .join(broadcast(nm), Seq("n_name"))
      .select(col("n_name"), col("n_months"), col("n_pairs"),
        (col("nc") - col("nd")).as("s"),
        when(col("n_pairs") === col("tx") || col("n_pairs") === col("ty"),
          lit(0L))
          .otherwise(Exact.e(
            (col("nc") - col("nd")).cast(DoubleType) /
              (sqrt((col("n_pairs") - col("tx")).cast(DoubleType)) *
               sqrt((col("n_pairs") - col("ty")).cast(DoubleType))), 4)
            .cast(LongType))
          .as("tau_b_e4"))
      .orderBy("n_name")
  }

  val q118Sql: String =
    """WITH s AS (
      |  SELECT n.n_name,
      |         CAST(date_trunc('month', o.o_orderdate) AS DATE) AS mon,
      |         CAST(SUM(CAST(FLOOR(o.o_totalprice * 100.0 + 0.5) AS BIGINT))
      |              AS BIGINT) AS rev,
      |         COUNT(*) AS n_ord
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |       JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  GROUP BY 1, 2),
      |nm AS (SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_months
      |       FROM s GROUP BY 1),
      |p AS (
      |  SELECT a.n_name,
      |         COUNT(*) AS n_pairs,
      |         SUM(CASE WHEN (b.rev > a.rev AND b.n_ord > a.n_ord)
      |                    OR (b.rev < a.rev AND b.n_ord < a.n_ord)
      |                  THEN 1 ELSE 0 END) AS nc,
      |         SUM(CASE WHEN (b.rev > a.rev AND b.n_ord < a.n_ord)
      |                    OR (b.rev < a.rev AND b.n_ord > a.n_ord)
      |                  THEN 1 ELSE 0 END) AS nd,
      |         SUM(CASE WHEN a.rev = b.rev THEN 1 ELSE 0 END) AS tx,
      |         SUM(CASE WHEN a.n_ord = b.n_ord THEN 1 ELSE 0 END) AS ty
      |  FROM s a JOIN s b ON a.n_name = b.n_name AND a.mon < b.mon
      |  GROUP BY 1)
      |SELECT p.n_name, n_months,
      |       CAST(n_pairs AS BIGINT) AS n_pairs,
      |       CAST(nc - nd AS BIGINT) AS s,
      |       CAST(CASE WHEN n_pairs = tx OR n_pairs = ty THEN 0
      |            ELSE FLOOR(CAST(nc - nd AS DOUBLE) /
      |                   (sqrt(CAST(n_pairs - tx AS DOUBLE)) *
      |                    sqrt(CAST(n_pairs - ty AS DOUBLE)))
      |                   * 10000.0 + 0.5) END AS BIGINT) AS tau_b_e4
      |FROM p JOIN nm USING (n_name)
      |ORDER BY n_name""".stripMargin

  /** #305 (q119): Herfindahl–Hirschman concentration index — the
    * GOVERNANCE scalar for "how concentrated is the mass"
    * (Herfindahl 1950; the antitrust-standard Σ share²), with its
    * reciprocal, the EFFECTIVE number of equal units (Laakso–Taagepera
    * 1979) — q89's Pareto tiering tells WHO holds the mass, q102's
    * Gini its inequality; HHI prices the equivalent-competitor count a
    * mixture designer reasons with (a corpus 'balanced' over 20
    * sources with eff_n ≈ 3 is three sources in a trench coat). Two
    * dimensions in one frame: revenue by customer, corpus chars by
    * ingest source. Pure integers end to end: per-unit mass is one
    * data-scale groupBy; Σm² in decimal(38) (HUGEINT on the oracle),
    * hhi_ppm = 10⁶·Σm² div M², eff_n_e2 = 10²·M² div Σm² — exact
    * rationals under floor division, identical on both engines. */
  def q119Hhi: Q = (spark, dir) => {
    val dec19 = DecimalType(19, 0)
    def dimOf(units: DataFrame, tag: String): DataFrame =
      units.agg(count(lit(1)).as("n_units"), sum("m").as("mass"),
          sum(col("m").cast(dec19) * col("m").cast(dec19)).as("s2"))
        .select(lit(tag).as("dim"), col("n_units"),
          col("mass").cast(LongType).as("mass"),
          when(col("mass") === 0, lit(0L))
            .otherwise(expr("(s2 * 1000000) div " +
              "(cast(mass as decimal(19,0)) * cast(mass as decimal(19,0)))")
              .cast(LongType)).as("hhi_ppm"),
          when(col("mass") === 0, lit(0L))
            .otherwise(expr("(cast(mass as decimal(19,0)) * " +
              "cast(mass as decimal(19,0)) * 100) div s2")
              .cast(LongType)).as("eff_n_e2"))
    val byCust = Tables.orders(spark, dir).groupBy("o_custkey")
      .agg(Exact.eSum(col("o_totalprice"), 2).cast(LongType).as("m"))
    val bySrc = Tables.documents(spark, dir).groupBy("source")
      .agg(sum("n_chars").cast(LongType).as("m"))
    dimOf(byCust, "customer_revenue")
      .unionByName(dimOf(bySrc, "source_chars"))
      .orderBy("dim")
  }

  val q119Sql: String =
    """WITH cu AS (
      |  SELECT o_custkey,
      |         CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
      |              AS BIGINT) AS m
      |  FROM orders GROUP BY 1),
      |so AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS m
      |       FROM documents GROUP BY 1),
      |a AS (
      |  SELECT 'customer_revenue' AS dim, CAST(COUNT(*) AS BIGINT) AS n_units,
      |         CAST(SUM(m) AS BIGINT) AS mass,
      |         SUM(CAST(m AS HUGEINT) * m) AS s2
      |  FROM cu
      |  UNION ALL
      |  SELECT 'source_chars', CAST(COUNT(*) AS BIGINT),
      |         CAST(SUM(m) AS BIGINT), SUM(CAST(m AS HUGEINT) * m)
      |  FROM so)
      |SELECT dim, n_units, mass,
      |       CAST(CASE WHEN mass = 0 THEN 0
      |            ELSE (s2 * 1000000)
      |                 // (CAST(mass AS HUGEINT) * mass) END AS BIGINT)
      |         AS hhi_ppm,
      |       CAST(CASE WHEN mass = 0 THEN 0
      |            ELSE (CAST(mass AS HUGEINT) * mass * 100) // s2
      |            END AS BIGINT) AS eff_n_e2
      |FROM a ORDER BY dim""".stripMargin

  /** #310 (q120): lag-k autocorrelation of the daily revenue series
    * per event type (the ACF estimator at lags 1 and 7 — the
    * seasonality audit: lag-1 ≫ 0 means momentum/level persistence,
    * lag-7 ≫ 0 a weekly cycle; the statistic behind "is there
    * seasonality worth modeling" before anyone fits a model). EXACT
    * in integers end to end — the mean never materializes: with
    * X_t = n·x_t − S (S = Σx over the zero-filled day spine) the n²
    * normalizations cancel, r_k = Σ X_t·X_{t+k} / Σ X_t², an exact
    * rational emitted as half-away-from-zero ppm by the q61 signed
    * floor-division convention. No IEEE step at all (unlike
    * q117/q118's √). The day spine is zero-filled between each type's
    * first and last day (a missing day IS a zero-revenue day for a
    * calendar statistic — q42's convention); the spine is
    * calendar-bounded so every frame after the one (type, day)
    * aggregation shuffle is configuration-scale, and the lag join is
    * an equi-join on (type, day+k) — never a window over the raw
    * events. */
  def q120Autocorr: Q = (spark, dir) =>
    acfOverDaily(
      Tables.events(spark, dir)
        .where(col("ts").isNotNull)
        .select(col("event_type"), col("ts").cast(DateType).as("day"),
          col("value"))
        .groupBy("event_type", "day")
        .agg(Exact.eSum(col("value"), 2).cast(LongType).as("cents")),
      Seq(1, 7))

  /** The q120 kernel over a prepared (event_type, day, cents) daily
    * frame — factored so the spec can drive planted exact fixtures
    * (an alternating series ⇒ acf(odd k) = −(n−k)/n, a period-7
    * square wave ⇒ acf(7) = (n−7)/n) through the SAME code. */
  /** Zero-filled calendar spine over a (event_type, day, cents)
    * daily frame: one row per day between each type's first and last
    * observed day, missing days carrying x = 0 (a missing day IS a
    * zero-revenue day for a calendar statistic — q42's convention).
    * Shared by q120's ACF and q123's forecast backtest so both
    * statistics see the SAME series definition. */
  private[graft] def spineFill(daily: DataFrame): DataFrame =
    daily.groupBy("event_type")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("event_type"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("cents"), lit(0L)).as("x"))

  private[graft] def acfOverDaily(daily: DataFrame,
                                  lags: Seq[Int]): DataFrame = {
    val dec19 = DecimalType(19, 0)
    // the (type, day) frame feeds the spine, the series join, both
    // lag branches and the totals; the duplicated subplans LOOK like
    // re-scans in the static plan, but AQE's runtime exchange reuse
    // dedups them — an explicit localCheckpoint barrier was MEASURED
    // SLOWER at every SF (eager materialization + lost pipelining)
    val series = spineFill(daily)
    val stats = series.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("s"))
    val centered = series.join(broadcast(stats), Seq("event_type"))
      .select(col("event_type"), col("day"), col("n"),
        (col("x").cast(dec19) * col("n") - col("s"))
          .cast(DecimalType(38, 0)).as("cx"))
    val den = centered.groupBy("event_type")
      .agg(sum(col("cx") * col("cx")).as("den"))
    def lagK(k: Int): DataFrame =
      centered.select(col("event_type"), col("day"), col("cx"))
        .join(centered.select(col("event_type"),
          date_sub(col("day"), k).as("day"), col("cx").as("cy")),
          Seq("event_type", "day"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_pairs"), sum(col("cx") * col("cy")).as("num"))
        .withColumn("lag", lit(k.toLong))
    lags.map(lagK).reduce(_.unionByName(_))
      .join(broadcast(den), Seq("event_type"))
      .join(broadcast(stats.select(col("event_type"),
        col("n").as("n_days"))), Seq("event_type"))
      .select(col("event_type"), col("lag"), col("n_days"), col("n_pairs"),
        when(col("den") === 0, lit(0L))
          .otherwise(expr("case when num >= 0 " +
            "then (2000000 * num + den) div (2 * den) " +
            "else -((2000000 * (-num) + den) div (2 * den)) end")
            .cast(LongType))
          .as("acf_e6"))
      .orderBy("event_type", "lag")
  }

  val q120Sql: String =
    """WITH ev AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |         CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS cents
      |  FROM events WHERE ts IS NOT NULL),
      |daily AS (
      |  SELECT event_type, day, CAST(SUM(cents) AS BIGINT) AS x
      |  FROM ev GROUP BY 1, 2),
      |spine AS (
      |  SELECT event_type,
      |         CAST(unnest(generate_series(MIN(day), MAX(day),
      |                                     INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM daily GROUP BY event_type),
      |ser AS (
      |  SELECT s.event_type, s.day, COALESCE(d.x, 0) AS x
      |  FROM spine s LEFT JOIN daily d
      |       ON d.event_type = s.event_type AND d.day = s.day),
      |st AS (SELECT event_type, COUNT(*) AS n, SUM(x) AS s
      |       FROM ser GROUP BY 1),
      |c AS (
      |  SELECT ser.event_type, day, n,
      |         CAST(x AS HUGEINT) * n - s AS cx
      |  FROM ser JOIN st USING (event_type)),
      |den AS (SELECT event_type, SUM(cx * cx) AS den FROM c GROUP BY 1),
      |lags AS (SELECT 1 AS lag UNION ALL SELECT 7),
      |nums AS (
      |  SELECT a.event_type, l.lag, COUNT(*) AS n_pairs,
      |         SUM(a.cx * b.cx) AS num
      |  FROM c a CROSS JOIN lags l
      |       JOIN c b ON b.event_type = a.event_type
      |                AND b.day = a.day + l.lag
      |  GROUP BY 1, 2)
      |SELECT nums.event_type, CAST(lag AS BIGINT) AS lag,
      |       CAST(st.n AS BIGINT) AS n_days,
      |       CAST(n_pairs AS BIGINT) AS n_pairs,
      |       CAST(CASE WHEN den = 0 THEN 0
      |            WHEN num >= 0 THEN (2000000 * num + den) // (2 * den)
      |            ELSE -((2000000 * (-num) + den) // (2 * den))
      |            END AS BIGINT) AS acf_e6
      |FROM nums JOIN den USING (event_type) JOIN st USING (event_type)
      |ORDER BY event_type, lag""".stripMargin

  /** #311 (q121): Cramér's V — the EFFECT-SIZE normalization of
    * q104's χ² (Cramér 1946): V = √(χ²/(N·min(r−1, c−1))) ∈ [0, 1].
    * The q113-vs-q111 lesson applied to the independence test — a χ²
    * over millions of rows is "significant" at association strengths
    * nobody should act on; V prices the strength on a scale that
    * survives N. Derived FROM q104's verified frame (one definition
    * of the contingency algebra): χ²_e6/dof/N/dims aggregate off the
    * configuration-scale cell output, V's single √ is the one
    * shared-IEEE step over exact integers (the q30 convention). */
  def q121CramersV: Q = (spark, dir) => {
    val m = least(col("r_dims"), col("c_dims")) - 1
    q104ChiSquare(spark, dir)
      .agg(sum("n_obs").as("n"),
        countDistinct("segment").as("r_dims"),
        countDistinct("nation").as("c_dims"),
        min("chi2_e6").as("chi2_e6"),
        min("dof").as("dof"))
      .select(col("n"), col("r_dims").cast(LongType).as("r_dims"),
        col("c_dims").cast(LongType).as("c_dims"),
        col("chi2_e6"), col("dof"),
        when(col("n") === 0 || m <= 0, lit(0L))
          .otherwise(Exact.e(
            sqrt((col("chi2_e6").cast(DoubleType) / lit(1000000.0)) /
              (col("n").cast(DoubleType) * m.cast(DoubleType))), 4)
            .cast(LongType))
          .as("v_e4"))
      .orderBy("n")
  }

  val q121Sql: String =
    """WITH cells AS (
      |  SELECT c_mktsegment AS segment, c_nationkey AS nationkey,
      |         CAST(COUNT(*) AS HUGEINT) AS o
      |  FROM customer GROUP BY 1, 2),
      |m AS (
      |  SELECT segment, nationkey, o,
      |         SUM(o) OVER (PARTITION BY segment) AS r,
      |         SUM(o) OVER (PARTITION BY nationkey) AS c,
      |         SUM(o) OVER () AS n
      |  FROM cells),
      |t AS (
      |  SELECT segment, nationkey, o, n,
      |         (o * o * n * 1000000) // (r * c) AS term_e6
      |  FROM m),
      |f AS (
      |  SELECT o,
      |         CAST(SUM(term_e6) OVER () - n * 1000000 AS BIGINT) AS chi2_e6,
      |         CAST((COUNT(DISTINCT segment) OVER () - 1) *
      |              (COUNT(DISTINCT nationkey) OVER () - 1) AS BIGINT) AS dof,
      |         CAST(COUNT(DISTINCT segment) OVER () AS BIGINT) AS r_dims,
      |         CAST(COUNT(DISTINCT nationkey) OVER () AS BIGINT) AS c_dims
      |  FROM t),
      |agg AS (
      |  SELECT CAST(SUM(o) AS BIGINT) AS n, MIN(r_dims) AS r_dims,
      |         MIN(c_dims) AS c_dims, MIN(chi2_e6) AS chi2_e6,
      |         MIN(dof) AS dof
      |  FROM f)
      |SELECT n, r_dims, c_dims, chi2_e6, dof,
      |       CAST(CASE WHEN n = 0 OR least(r_dims, c_dims) - 1 <= 0 THEN 0
      |            ELSE FLOOR(sqrt((CAST(chi2_e6 AS DOUBLE) / 1000000.0) /
      |                   (CAST(n AS DOUBLE) *
      |                    CAST(least(r_dims, c_dims) - 1 AS DOUBLE)))
      |                   * 10000.0 + 0.5) END AS BIGINT) AS v_e4
      |FROM agg ORDER BY n""".stripMargin

  /** #314 (q122): Shewhart control chart (SPC, Shewhart 1931) — the
    * MONITORING-CHART member of the anomaly family: q54 scores every
    * day against the WHOLE series (retrospective audit); a control
    * chart freezes its center and 3σ limits on a REFERENCE window and
    * judges every subsequent point against those FROZEN limits — the
    * deployable rule (limits must not drift with the data being
    * judged; the same a-stream-cannot-know-its-own-percentiles
    * argument as the #285 gate). The reference window is the drift
    * panel's canonical boundary ([[DriftRefEnd]] — one split
    * definition across every monitoring surface). Exact in integers:
    * alarm ⇔ (x·n − s)² > 9·(n·ss − s²) with n/s/ss over reference
    * days only, cross-multiplied in decimal(38)/HUGEINT (q54's
    * convention at 3σ instead of 2σ); the reference frame is
    * configuration-scale and broadcasts. */
  def q122ControlChart: Q = (spark, dir) =>
    controlChart(
      Tables.events(spark, dir)
        .where(col("ts").isNotNull)
        .groupBy(col("event_type"), col("ts").cast(DateType).as("day"))
        .agg(sum(round(col("value") * 100, 0).cast(LongType)).as("cents")),
      DriftRefEnd)

  /** The q122 kernel over a prepared (event_type, day, cents) daily
    * frame — factored so the spec can drive a planted wild day
    * through the SAME frozen-limits comparison. */
  private[graft] def controlChart(daily0: DataFrame,
                                  refEnd: String): DataFrame = {
    val dec = DataTypes.createDecimalType(38, 0)
    // calendar-bounded frame read by the reference aggregate AND the
    // chart join — one lineage barrier keeps the corpus scan single
    val daily = daily0.localCheckpoint()
    val ref = daily.filter(col("day") <= lit(refEnd).cast(DateType))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("s"),
        sum(col("cents").cast(dec) * col("cents").cast(dec)).as("ss"))
    val dev = col("cents").cast(dec) * col("n") - col("s")
    val spread = col("n").cast(dec) * col("ss") -
      col("s").cast(dec) * col("s").cast(dec)
    daily.join(broadcast(ref), Seq("event_type"))
      .select(col("event_type"), col("day"), col("cents"),
        col("n").as("n_ref"),
        expr("(2 * s * 1000 + n) div (2 * n)").cast(LongType)
          .as("center_milli"),
        (dev * dev > lit(9).cast(dec) * spread).cast(LongType).as("alarm"))
      .orderBy("event_type", "day")
  }

  val q122Sql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
      |           AS cents
      |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
      |ref AS (
      |  SELECT event_type, COUNT(*) AS n, SUM(cents) AS s,
      |         SUM(CAST(cents AS HUGEINT) * cents) AS ss
      |  FROM daily WHERE day <= DATE '2024-01-15' GROUP BY 1)
      |SELECT d.event_type, d.day, d.cents,
      |       CAST(n AS BIGINT) AS n_ref,
      |       CAST((2 * s * 1000 + n) // (2 * n) AS BIGINT) AS center_milli,
      |       CAST(CASE WHEN (CAST(d.cents AS HUGEINT) * n - s) *
      |                      (CAST(d.cents AS HUGEINT) * n - s)
      |                      > 9 * (CAST(n AS HUGEINT) * ss
      |                             - CAST(s AS HUGEINT) * s)
      |            THEN 1 ELSE 0 END AS BIGINT) AS alarm
      |FROM daily d JOIN ref USING (event_type)
      |ORDER BY event_type, day""".stripMargin

  /** #317 (q123): forecast-baseline backtest — naive (x̂_t = x_{t−1})
    * vs seasonal-naive (x̂_t = x_{t−7}) mean absolute error over each
    * type's daily revenue series: the M-competition discipline
    * (Makridakis; Hyndman & Athanasopoulos FPP) of PRICING the
    * baselines before anyone fits a model, and the decision companion
    * of q120 — the ACF says a weekly cycle EXISTS, this backtest says
    * what exploiting it is WORTH (seasonal-naive beating naive ⇔ the
    * lag-7 structure is predictive, not just present). Same
    * [[spineFill]] series as q120 (one definition of the series),
    * errors as equi-joins on (type, day−k), totals exact BIGINT
    * cents, MAE emitted half-up at milli-cents by the unsigned
    * half-up identity (absolute errors ≥ 0). Everything after the
    * one (type, day) aggregation shuffle is calendar-bounded. */
  def q123ForecastBaseline: Q = (spark, dir) =>
    forecastBacktest(
      Tables.events(spark, dir)
        .where(col("ts").isNotNull)
        .select(col("event_type"), col("ts").cast(DateType).as("day"),
          col("value"))
        .groupBy("event_type", "day")
        .agg(Exact.eSum(col("value"), 2).cast(LongType).as("cents")))

  /** The q123 kernel over a prepared (event_type, day, cents) daily
    * frame — factored so the spec can drive a planted exactly-weekly
    * series (seasonal-naive error ≡ 0) through the SAME code. */
  private[graft] def forecastBacktest(daily: DataFrame): DataFrame = {
    val series = spineFill(daily)
    def backtest(k: Int, label: String): DataFrame =
      series.select(col("event_type"), col("day"), col("x"))
        .join(series.select(col("event_type"),
          date_add(col("day"), k).as("day"), col("x").as("xhat")),
          Seq("event_type", "day"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_evals"),
          sum(abs(col("x") - col("xhat"))).as("total_abs_err"))
        .select(col("event_type"), lit(label).as("method"),
          col("n_evals"), col("total_abs_err"),
          expr("(2 * total_abs_err * 1000 + n_evals) div (2 * n_evals)")
            .cast(LongType).as("mae_milli"))
    backtest(1, "naive").unionByName(backtest(7, "seasonal_naive"))
      .orderBy("event_type", "method")
  }

  val q123Sql: String =
    """WITH ev AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |         CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS cents
      |  FROM events WHERE ts IS NOT NULL),
      |daily AS (
      |  SELECT event_type, day, CAST(SUM(cents) AS BIGINT) AS x
      |  FROM ev GROUP BY 1, 2),
      |spine AS (
      |  SELECT event_type,
      |         CAST(unnest(generate_series(MIN(day), MAX(day),
      |                                     INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM daily GROUP BY event_type),
      |ser AS (
      |  SELECT s.event_type, s.day, COALESCE(d.x, 0) AS x
      |  FROM spine s LEFT JOIN daily d
      |       ON d.event_type = s.event_type AND d.day = s.day),
      |ks AS (SELECT 1 AS k, 'naive' AS method
      |       UNION ALL SELECT 7, 'seasonal_naive'),
      |bt AS (
      |  SELECT a.event_type, ks.method, COUNT(*) AS n_evals,
      |         CAST(SUM(ABS(a.x - b.x)) AS BIGINT) AS total_abs_err
      |  FROM ser a CROSS JOIN ks
      |       JOIN ser b ON b.event_type = a.event_type
      |                  AND b.day = a.day - ks.k
      |  GROUP BY 1, 2)
      |SELECT event_type, method,
      |       CAST(n_evals AS BIGINT) AS n_evals, total_abs_err,
      |       CAST((2 * CAST(total_abs_err AS HUGEINT) * 1000 + n_evals)
      |            // (2 * n_evals) AS BIGINT) AS mae_milli
      |FROM bt ORDER BY event_type, method""".stripMargin

  val catalogue: Seq[Query] = Seq(
    Query("q123_forecast_baseline", q123ForecastBaseline, q123Sql),
    Query("q122_control_chart", q122ControlChart, q122Sql),
    Query("q121_cramers_v", q121CramersV, q121Sql),
    Query("q120_autocorr", q120Autocorr, q120Sql),
    Query("q117_spearman", q117Spearman, q117Sql),
    Query("q118_kendall", q118Kendall, q118Sql),
    Query("q119_hhi", q119Hhi, q119Sql),
    Query("q115_w1_drift", q115W1Drift, q115Sql),
    // q116 serves q115's statistic from the shared staged histogram —
    // bit-identity to the raw scan IS the claim (the q112 convention)
    Query("q116_w1_from_artifacts", q116W1FromArtifacts, q115Sql),
    // q114 is the same composition for the U statistic: the oracle is
    // q113's SQL over the raw events (bit-identity, the q112 convention)
    Query("q114_auc_from_artifacts", q114AucFromArtifacts, q113Sql),
    Query("q113_auc_drift", q113AucDrift, q113Sql),
    // q112 serves q111's statistic from persisted day histograms —
    // the oracle IS q111's SQL over the raw events (bit-identity is
    // the artifact path's whole claim, the q75/q58 precedent)
    Query("q112_ks_from_artifacts", q112KsFromArtifacts, q111Sql),
    Query("q111_ks_drift", q111KsDrift, q111Sql),
    Query("q110_wilson_rank", q110WilsonRank, q110Sql),
    Query("q109_locf", q109Locf, q109Sql),
    Query("q108_rollup_share", q108RollupShare, q108Sql),
    Query("q107_unpivot", q107Unpivot, q107Sql),
    Query("q106_recon_audit", q106ReconAudit, q106Sql),
    Query("q105_variant_shred", q105VariantShred, q105Sql),
    Query("q104_chi_square", q104ChiSquare, q104Sql),
    Query("q103_skyline", q103Skyline, q103Sql),
    Query("q101_theil_sen", q101TheilSen, q101Sql),
    Query("q102_gini", q102Gini, q102Sql),
    Query("q100_hazard", q100Hazard, q100Sql),
    Query("q99_cusum", q99Cusum, q99Sql),
    Query("q89_pareto", q89Pareto, q89Sql),
    Query("q90_assoc_rules", q90AssocRules, q90Sql),
    Query("q91_rfm", q91Rfm, q91Sql),
    Query("q92_session_paths", q92SessionPaths, q92Sql),
    Query("q93_benford", q93Benford, q93Sql),
    Query("q95_mad_outliers", q95MadOutliers, q95Sql),
    Query("q96_kanon_audit", q96KanonAudit, q96Sql),
    Query("q97_fk_orphans", q97FkOrphans, q97Sql),
    Query("q98_weighted_median", q98WeightedMedian, q98Sql),
    Query("q65_rolling_distinct", q65RollingDistinct, q65Sql),
    Query("q50_window_stats", q50WindowStats, q50Sql),
    Query("q51_interval_sweep", q51IntervalSweep, q51Sql),
    Query("q52_ewma", q52Ewma, q52Sql),
    Query("q53_cooccurrence", q53CoOccurrence, q53Sql),
    Query("q54_anomaly", q54Anomaly, q54Sql),
    Query("q55_quantile_bins", q55QuantileBins, q55Sql),
    Query("q56_gap_fill", q56GapFill, q56Sql),
    Query("q57_winsorize", q57Winsorize, q57Sql),
    Query("q58_drift", q58Drift, q58Sql),
    Query("q75_drift_from_artifacts", q75DriftFromArtifacts, q58Sql),
    Query("q77_attribution", q77Attribution, q77Sql),
    Query("q81_weekhour_profile", q81WeekHourProfile, q81Sql),
    Query("q82_new_returning", q82NewReturning, q82Sql),
    Query("q84_ship_latency", q84ShipLatency, q84Sql),
    Query("q85_session_profile", q85SessionProfile, q85Sql),
    Query("q86_purchase_gaps", q86PurchaseGaps, q86Sql),
    Query("q59_transitions", q59Transitions, q59Sql),
    Query("q60_dq_checks", q60DqChecks, q60Sql),
    Query("q61_trend_slope", q61TrendSlope, q61Sql),
    Query("q62_skew_audit", q62SkewAudit, q62Sql),
    Query("q18_describe_stats", q18DescribeStats, q18Sql),
    Query("q19_asof_join", q19AsofJoin, q19Sql),
    Query("q20_sessionize", q20Sessionize, q20Sql),
    Query("q21_distinct_count", q21DistinctCount, q21Sql),
    Query("q22_profile", q22Profile, q22Sql),
    Query("q23_histogram", q23Histogram, q23Sql),
    Query("q24_top_brands", q24TopBrands, q24Sql),
    Query("q25_contains_join", q25ContainsJoin, q25Sql),
    Query("q26_moving_avg", q26MovingAvg, q26Sql),
    Query("q27_json_extract", q27JsonExtract, q27Sql),
    Query("q28_anti_semi", q28AntiSemi, q28Sql),
    Query("q29_percentiles", q29Percentiles, q29Sql),
    Query("q30_correlation", q30Correlation, q30Sql),
    Query("q31_cube", q31Cube, q31Sql),
    Query("q32_edit_distance", q32EditDistance, q32Sql),
    Query("q33_collect_sorted", q33CollectSorted, q33Sql),
    Query("q37_range_join", q37RangeJoin, q37Sql),
    Query("q38_supplier_stats", q38SupplierStats, q38Sql),
    Query("q39_grouping_sets", q39GroupingSets, q39Sql),
    Query("q42_resample", q42Resample, q42Sql),
    Query.rowsOnly("q44_approx_percentiles", q44ApproxPercentiles),
    Query.rowsOnly("q46_approx_distinct", q46ApproxDistinct),
    Query.rowsOnly("q71_hll_cube", q71HllCube),
    Query("q72_audience_overlap", q72AudienceOverlap, q72Sql),
    Query.rowsOnly("q73_overlap_hll", q73OverlapHll),
    Query("q48_funnel", q48Funnel, q48Sql),
    Query("q49_cohort_retention", q49CohortRetention, q49Sql))
}
