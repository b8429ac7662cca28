package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl._

/** Core ETL operator queries (SURVEY.md §2 #2–#18), each paired with a
  * DuckDB oracle over the same parquet tables.
  *
  * Oracle-safety conventions (SURVEY.md §6):
  *  - raw columns pass through untouched (bit-identical in parquet);
  *  - computed aggregates are `round(…, s)` then cast to decimal so
  *    both engines canonicalize to the same scale;
  *  - every query ends in a deterministic total ORDER BY;
  *  - aliases are identical on both sides.
  */
object CoreQueries {

  // Monetary aggregates are emitted as ×10^s BIGINT via graft.Exact —
  // see Exact.scala for why DECIMAL output columns can never hash-match
  // the driver's comparator (Arrow vs duckdb-pandas stringification).

  /** #2: filter + projection — Catalyst pushes both into the scan. */
  def q01FilterProject: Q = (spark, dir) =>
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast(TimestampType) &&
              col("l_shipdate") <  lit("1997-01-01").cast(TimestampType) &&
              col("l_discount").between(0.05, 0.07) &&
              col("l_quantity") < 24)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
              col("l_shipdate").cast(DateType).as("ship_date"))
      .orderBy("l_orderkey", "l_linenumber")

  val q01Sql: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice,
      |       CAST(l_shipdate AS DATE) AS ship_date
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate <  TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** #3: grouped aggregation (TPC-H Q1 shape) — partial agg map-side,
    * single shuffle on the two grouping keys. */
  def q02AggPricing: Q = (spark, dir) =>
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("2000-12-01").cast(TimestampType))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        Exact.eSum(col("l_quantity"), 2).as("sum_qty_e2"),
        Exact.eSum(col("l_extendedprice"), 2).as("sum_base_price_e2"),
        Exact.eSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("sum_disc_price_e4"),
        Exact.eSum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 6).as("sum_charge_e6"),
        Exact.eSum(col("l_discount"), 2).as("sum_disc_e2"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val q02Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |       CAST(SUM(CAST(FLOOR(l_quantity * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty_e2,
      |       CAST(SUM(CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_base_price_e2,
      |       CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_disc_price_e4,
      |       CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_charge_e6,
      |       CAST(SUM(CAST(FLOOR(l_discount * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_disc_e2,
      |       COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-12-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** #4: multi-way join enrichment — dims broadcast, fact shuffles
    * once on the customer key. */
  def q03JoinEnrich: Q = (spark, dir) => {
    val orders = Tables.orders(spark, dir)
    val cust = Tables.customer(spark, dir)
    val nat = broadcast(Tables.nation(spark, dir))
    val reg = broadcast(Tables.region(spark, dir))
    orders
      .join(cust, orders("o_custkey") === cust("c_custkey"))
      .join(nat, cust("c_nationkey") === nat("n_nationkey"))
      .join(reg, nat("n_regionkey") === reg("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n_orders"), Exact.eSum(col("o_totalprice"), 2).as("total_rev_e2"))
      .orderBy("r_name", "n_name")
  }

  val q03Sql: String =
    """SELECT r_name, n_name, COUNT(*) AS n_orders,
      |       CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS total_rev_e2
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  /** #5: drop/prune columns — the scan's ReadSchema shrinks to match. */
  def q04DropColumns: Q = (spark, dir) =>
    Cleaning.dropColumns(
        Tables.lineitem(spark, dir),
        Seq("l_extendedprice", "l_discount", "l_tax", "l_returnflag",
            "l_linestatus", "l_shipdate", "l_comment"))
      .filter(col("l_orderkey") <= 500)
      .orderBy("l_orderkey", "l_linenumber")

  val q04Sql: String =
    """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity
      |FROM lineitem
      |WHERE l_orderkey <= 500
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** #6: null/empty standardization with a sentinel. */
  def q05NullStandardize: Q = (spark, dir) =>
    Tables.orders(spark, dir)
      .select(
        col("o_orderkey"),
        Cleaning.standardize(nullif(col("o_orderstatus"), lit("P")), "N/A").as("status_std"),
        Cleaning.standardize(nullif(col("o_orderpriority"), lit("4-NOT SPECIFIED")), "N/A").as("priority_std"))
      .orderBy("o_orderkey")

  val q05Sql: String =
    """SELECT o_orderkey,
      |       COALESCE(NULLIF(NULLIF(o_orderstatus, 'P'), ''), 'N/A') AS status_std,
      |       COALESCE(NULLIF(NULLIF(o_orderpriority, '4-NOT SPECIFIED'), ''), 'N/A') AS priority_std
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  /** #7: reference text normalization over the documents corpus. */
  def q06NormalizeText: Q = (spark, dir) =>
    Tables.documents(spark, dir)
      .select(col("doc_id"),
              TextNorm.normalizeText(col("text")).as("text_norm"),
              TextNorm.normalizeKey(col("source")).as("source_key"))
      .orderBy("doc_id")

  val q06Sql: String =
    """SELECT doc_id,
      |       regexp_replace(regexp_replace(trim(lower(text)), '[ \t\n\x0b\f\r]*(feat\.|featuring|ft\.|&|and)[ \t\n\x0b\f\r]*', ';', 'g'), '[ \t\n\x0b\f\r]+', ' ', 'g') AS text_norm,
      |       trim(lower(source)) AS source_key
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** #8: dedup keep-top-per-key (most expensive line per part). */
  def q07DedupTopPerKey: Q = (spark, dir) =>
    Dedup.topPerKey(
        Tables.lineitem(spark, dir),
        Seq("l_partkey"),
        Seq(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc))
      .select("l_partkey", "l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy("l_partkey")

  val q07Sql: String =
    """SELECT l_partkey, l_orderkey, l_linenumber, l_extendedprice
      |FROM (
      |  SELECT l_partkey, l_orderkey, l_linenumber, l_extendedprice,
      |         ROW_NUMBER() OVER (PARTITION BY l_partkey
      |                            ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
      |  FROM lineitem) t
      |WHERE rn = 1
      |ORDER BY l_partkey""".stripMargin

  /** #9: join-based imputation with fallback — left join + coalesce
    * instead of the reference's driver-side iterrows write-back. */
  def q08ImputeJoin: Q = (spark, dir) => {
    val cust = Tables.customer(spark, dir)
      .withColumn("seg_missing", nullif(col("c_mktsegment"), lit("BUILDING")))
    Impute.fromLookup(
        cust, broadcast(Tables.nation(spark, dir)),
        keyCol = "c_nationkey", lookupKey = "n_nationkey",
        targetCol = "seg_missing", valueCol = "n_name",
        fallback = Some("Unknown"))
      .select(col("c_custkey"), col("seg_missing").as("seg_filled"))
      .orderBy("c_custkey")
  }

  val q08Sql: String =
    """SELECT c_custkey,
      |       COALESCE(NULLIF(c_mktsegment, 'BUILDING'), n_name, 'Unknown') AS seg_filled
      |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
      |ORDER BY c_custkey""".stripMargin

  /** #10: split + unionByName (pd.concat analog), then aggregate. */
  def q09UnionConcat: Q = (spark, dir) => {
    val orders = Tables.orders(spark, dir)
    val high = orders.filter(col("o_totalprice") > 100000).withColumn("split", lit("high"))
    val low = orders.filter(col("o_totalprice") <= 100000).withColumn("split", lit("low"))
    Merge.unionSplits(Seq(high, low))
      .groupBy("split", "o_orderstatus")
      .agg(count(lit(1)).as("n"), Exact.eSum(col("o_totalprice"), 2).as("total_e2"))
      .orderBy("split", "o_orderstatus")
  }

  val q09Sql: String =
    """SELECT split, o_orderstatus, COUNT(*) AS n,
      |       CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS total_e2
      |FROM (
      |  SELECT o_orderstatus, o_totalprice, 'high' AS split FROM orders WHERE o_totalprice > 100000
      |  UNION ALL
      |  SELECT o_orderstatus, o_totalprice, 'low' AS split FROM orders WHERE o_totalprice <= 100000) u
      |GROUP BY split, o_orderstatus
      |ORDER BY split, o_orderstatus""".stripMargin

  /** #11: type casts, boolean mapping, safe parses (events table). */
  def q10TypeCasts: Q = (spark, dir) =>
    Tables.events(spark, dir)
      .select(
        col("event_id"),
        col("ts").cast(DateType).as("event_date"),
        round(col("value") * 100, 0).cast(LongType).as("value_cents"),
        col("event_type").isin("purchase", "signup").as("is_conversion"),
        regexp_extract(col("props"), """(\d+)""", 1).cast(LongType).as("k_val"))
      .orderBy("event_id")

  val q10Sql: String =
    """SELECT event_id,
      |       CAST(ts AS DATE) AS event_date,
      |       CAST(ROUND(value * 100, 0) AS BIGINT) AS value_cents,
      |       event_type IN ('purchase', 'signup') AS is_conversion,
      |       CAST(regexp_extract(props, '(\d+)', 1) AS BIGINT) AS k_val
      |FROM events
      |ORDER BY event_id""".stripMargin

  /** #12: conditional masked update (when/otherwise). */
  def q11ConditionalUpdate: Q = (spark, dir) =>
    Impute.conditionalCopy(
        Tables.part(spark, dir),
        col("p_type") === "PROMO" && col("p_size") > 25,
        "p_brand", lit("Brand#PREMIUM"))
      .select(col("p_partkey"), col("p_brand").as("brand_updated"))
      .orderBy("p_partkey")

  val q11Sql: String =
    """SELECT p_partkey,
      |       CASE WHEN p_type = 'PROMO' AND p_size > 25
      |            THEN 'Brand#PREMIUM' ELSE p_brand END AS brand_updated
      |FROM part
      |ORDER BY p_partkey""".stripMargin

  /** #13: window functions — rank + running total per customer. */
  def q12WindowRank: Q = (spark, dir) => {
    val byPrice = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val byDate = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .select(
        col("o_custkey"), col("o_orderkey"),
        rank().over(byPrice).as("price_rank"),
        sum(Exact.e(col("o_totalprice"), 2)).over(byDate).as("running_total_e2"))
      .orderBy("o_custkey", "o_orderkey")
  }

  val q12Sql: String =
    """SELECT o_custkey, o_orderkey,
      |       RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS price_rank,
      |       CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_total_e2
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** #14: pivot with pre-listed values (single pass, no value scan). */
  private val EventTypes = Seq("click", "view", "purchase", "signup", "error")

  def q13PivotAgg: Q = (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy("user_id")
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      .na.fill(0, EventTypes)
      .orderBy("user_id")

  val q13Sql: String =
    """SELECT user_id,
      |       COUNT(*) FILTER (WHERE event_type = 'click') AS click,
      |       COUNT(*) FILTER (WHERE event_type = 'view') AS view,
      |       COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |       COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
      |       COUNT(*) FILTER (WHERE event_type = 'error') AS error
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** #15: tumbling time-window aggregation (batch analog of the
    * streaming pipeline; same plan shape as the watermark path). */
  def q14TimeWindowAgg: Q = (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), Exact.eSum(col("value"), 2).as("total_value_e2"))
      .select(col("w.start").as("hour_ts"), col("event_type"), col("n_events"), col("total_value_e2"))
      .orderBy("hour_ts", "event_type")

  val q14Sql: String =
    """SELECT date_trunc('hour', ts) AS hour_ts, event_type,
      |       COUNT(*) AS n_events,
      |       CAST(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS total_value_e2
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY hour_ts, event_type""".stripMargin

  /** #16: rollup with ALL sentinel rows.
    *
    * The rollup stage goes through SQL-string resolution: `rollup()`'s
    * Expand duplicates join-side attrs, which false-positives Spark's
    * ambiguous-self-join check when the grouping columns are
    * referenced as Dataset columns (dataset-id tags survive aliasing).
    * SQL text resolves by name, sidestepping the tag, and plans to the
    * identical Expand + Aggregate.
    */
  def q15Rollup: Q = (spark, dir) => {
    val cust = Tables.customer(spark, dir)
    val nat = broadcast(Tables.nation(spark, dir))
    val reg = broadcast(Tables.region(spark, dir))
    cust
      .join(nat, cust("c_nationkey") === nat("n_nationkey"))
      .join(reg, nat("n_regionkey") === reg("r_regionkey"))
      .select(col("r_name").as("rname"), col("n_name").as("nname"), col("c_acctbal"))
      .createOrReplaceTempView("graft_q15_src")
    spark.sql(
      """SELECT COALESCE(rname, 'ALL') AS r_name_g,
        |       COALESCE(nname, 'ALL') AS n_name_g,
        |       COUNT(*) AS n_cust,
        |       SUM(CAST(FLOOR(c_acctbal * 100.0 + 0.5) AS BIGINT)) AS acctbal_e2
        |FROM graft_q15_src
        |GROUP BY ROLLUP(rname, nname)
        |ORDER BY r_name_g, n_name_g""".stripMargin)
  }

  val q15Sql: String =
    """SELECT COALESCE(r_name, 'ALL') AS r_name_g,
      |       COALESCE(n_name, 'ALL') AS n_name_g,
      |       COUNT(*) AS n_cust,
      |       CAST(SUM(CAST(FLOOR(c_acctbal * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS acctbal_e2
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY r_name_g, n_name_g""".stripMargin

  /** #17: two-stage flexible join — exact name match against a catalog
    * subset, prefix (first-token) fallback, then priority coalesce.
    * Mirrors the reference's exact-then-partial artist/track matching
    * without any driver-side loop. */
  def q16FlexJoin: Q = (spark, dir) => {
    val part = Tables.part(spark, dir)
    val catalogSrc = part.filter(col("p_size") > 25)
    val exactCat = Dedup.topPerKey(catalogSrc, Seq("p_name"),
        Seq(col("p_retailprice").desc, col("p_partkey").asc))
      .select(col("p_name").as("cat_name"), col("p_partkey").as("cid"))
    val fuzzyCat = Dedup.topPerKey(
        catalogSrc.withColumn("fw", TextNorm.firstToken(col("p_name"))),
        Seq("fw"), Seq(col("p_retailprice").desc, col("p_partkey").asc))
      .select(col("fw").as("cat_fw"), col("p_partkey").as("cid"))
    val requests = part.select(col("p_partkey"), col("p_name"),
      TextNorm.firstToken(col("p_name")).as("fw"))
    val joined = Merge.twoStageJoin(
      requests, broadcast(exactCat), ("p_name", "cat_name"),
      broadcast(fuzzyCat), ("fw", "cat_fw"))
    joined
      .select(col("p_partkey"),
              coalesce(col("cid_exact"), col("cid_fuzzy"), lit(-1L)).as("canonical_id"),
              when(col("cid_exact").isNotNull, "exact")
                .when(col("cid_fuzzy").isNotNull, "prefix")
                .otherwise("none").as("match_kind"))
      .orderBy("p_partkey")
  }

  val q16Sql: String =
    """WITH catalog AS (SELECT * FROM part WHERE p_size > 25),
      |exact_cat AS (
      |  SELECT p_name AS cat_name, p_partkey AS cid FROM (
      |    SELECT p_name, p_partkey,
      |           ROW_NUMBER() OVER (PARTITION BY p_name ORDER BY p_retailprice DESC, p_partkey) AS rn
      |    FROM catalog) t WHERE rn = 1),
      |fuzzy_cat AS (
      |  SELECT fw AS cat_fw, cid FROM (
      |    SELECT regexp_extract(p_name, '^(\S+)', 1) AS fw, p_partkey AS cid,
      |           ROW_NUMBER() OVER (PARTITION BY regexp_extract(p_name, '^(\S+)', 1)
      |                              ORDER BY p_retailprice DESC, p_partkey) AS rn
      |    FROM catalog) t WHERE rn = 1)
      |SELECT p.p_partkey,
      |       COALESCE(e.cid, f.cid, -1) AS canonical_id,
      |       CASE WHEN e.cid IS NOT NULL THEN 'exact'
      |            WHEN f.cid IS NOT NULL THEN 'prefix'
      |            ELSE 'none' END AS match_kind
      |FROM part p
      |LEFT JOIN exact_cat e ON p.p_name = e.cat_name
      |LEFT JOIN fuzzy_cat f ON regexp_extract(p.p_name, '^(\S+)', 1) = f.cat_fw
      |ORDER BY p.p_partkey""".stripMargin

  /** #18: flagship — the whole reference DAG re-expressed on the
    * documents corpus: normalize → fingerprint → dedup-top-per-key →
    * mode-imputation via broadcast lookup → split/union → quality →
    * final aggregate. See also [[graft.etl.Pipeline]]. */
  def q17EtlPipeline: Q = (spark, dir) =>
    Pipeline.run(Tables.documents(spark, dir))

  val q17Sql: String = Pipeline.oracleSql

  /** #77 (q40): upsert / MERGE analog — apply a change set to a
    * dimension snapshot in one pass: matched keys take the update's
    * values, unmatched updates insert, untouched rows pass through.
    * The incremental twin of the reference's `to_sql(if_exists=
    * "replace")` full rewrite: a full-outer join on the key + per-
    * column coalesce — one shuffle on the key (or zero with #44's
    * bucketed tables), instead of rewriting the whole dimension.
    * The change set is derived deterministically from the same table
    * so the oracle can replay it: every 10th customer re-segments to
    * 'UPDATED', every 17th arrives as a brand-new key. */
  def q40Upsert: Q = (spark, dir) => {
    val tgt = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    val updates = Tables.customer(spark, dir)
      .filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"), col("c_name"), lit("UPDATED").as("c_mktsegment"))
      .unionByName(
        Tables.customer(spark, dir)
          .filter(col("c_custkey") % 17 === 0)
          .select((col("c_custkey") + 10000000L).as("c_custkey"),
            col("c_name"), lit("NEW").as("c_mktsegment")))
    val u = updates.select(col("c_custkey").as("k"),
      col("c_name").as("u_name"), col("c_mktsegment").as("u_seg"))
    tgt.join(u, tgt("c_custkey") === u("k"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("k")).as("c_custkey"),
        coalesce(col("u_name"), col("c_name")).as("c_name"),
        coalesce(col("u_seg"), col("c_mktsegment")).as("c_mktsegment"))
      .orderBy("c_custkey")
  }

  val q40Sql: String =
    """WITH u AS (
      |  SELECT c_custkey AS k, c_name AS u_name, 'UPDATED' AS u_seg
      |  FROM customer WHERE c_custkey % 10 = 0
      |  UNION ALL
      |  SELECT c_custkey + 10000000 AS k, c_name AS u_name, 'NEW' AS u_seg
      |  FROM customer WHERE c_custkey % 17 = 0)
      |SELECT COALESCE(c_custkey, k) AS c_custkey,
      |       COALESCE(u_name, c_name) AS c_name,
      |       COALESCE(u_seg, c_mktsegment) AS c_mktsegment
      |FROM customer FULL JOIN u ON c_custkey = k
      |ORDER BY c_custkey""".stripMargin

  /** #78 (q41): SCD2 validity intervals — collapse each customer's
    * order-status history into change periods (gaps-and-islands):
    * lag → change flag → cumulative island id → per-island bounds,
    * with `valid_to` = the next island's start (NULL while current).
    * Two windows over ONE shuffle on o_custkey — Spark reuses the
    * (o_custkey, sort) exchange for lag, cumsum and lead. */
  def q41Scd2: Q = (spark, dir) => {
    val byCust = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val cum = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byIsland = Window.partitionBy("o_custkey").orderBy("island")
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"), col("o_orderdate"))
      .withColumn("chg",
        when(lag("o_orderstatus", 1).over(byCust).isNull ||
             lag("o_orderstatus", 1).over(byCust) =!= col("o_orderstatus"), 1L)
          .otherwise(0L))
      .withColumn("island", sum("chg").over(cum))
      .groupBy("o_custkey", "island")
      .agg(
        // every row in an island shares the status; min() = that status,
        // and stays deterministic where first() would not be
        min("o_orderstatus").as("status"),
        count(lit(1)).as("n_orders"),
        date_trunc("second", min("o_orderdate")).cast(TimestampType).as("valid_from"))
      .withColumn("valid_to", lead("valid_from", 1).over(byIsland))
      .select("o_custkey", "island", "status", "n_orders", "valid_from", "valid_to")
      .orderBy("o_custkey", "island")
  }

  val q41Sql: String =
    """WITH g AS (
      |  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
      |         CASE WHEN lag(o_orderstatus) OVER w IS NULL
      |                OR lag(o_orderstatus) OVER w <> o_orderstatus
      |              THEN 1 ELSE 0 END AS chg
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
      |i AS (
      |  SELECT o_custkey, o_orderstatus, o_orderdate,
      |         CAST(SUM(chg) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
      |  FROM g),
      |s AS (
      |  SELECT o_custkey, island,
      |         MIN(o_orderstatus) AS status,
      |         CAST(COUNT(*) AS BIGINT) AS n_orders,
      |         CAST(date_trunc('second', MIN(o_orderdate)) AS TIMESTAMP) AS valid_from
      |  FROM i GROUP BY o_custkey, island)
      |SELECT o_custkey, island, status, n_orders, valid_from,
      |       lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY island) AS valid_to
      |FROM s
      |ORDER BY o_custkey, island""".stripMargin

  /** #137 (q63): as-of snapshot over the SCD2 intervals — "the state
    * of every customer on date D", the read path q41's write path
    * exists for. Composes q41's interval frame with a half-open
    * interval filter (valid_from ≤ D < valid_to, open-ended current
    * rows included); the filter rides the same one-exchange window
    * pipeline — no extra shuffle, and at scale the predicate prunes
    * interval partitions if the table is stored partitioned by
    * valid_from range. */
  def q63Scd2Snapshot: Q = (spark, dir) => {
    val asOf = lit("1996-06-01").cast(TimestampType)
    q41Scd2(spark, dir)
      .filter(col("valid_from") <= asOf &&
        (col("valid_to").isNull || col("valid_to") > asOf))
      .select("o_custkey", "island", "status", "n_orders", "valid_from")
      .orderBy("o_custkey")
  }

  val q63Sql: String =
    """WITH g AS (
      |  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
      |         CASE WHEN lag(o_orderstatus) OVER w IS NULL
      |                OR lag(o_orderstatus) OVER w <> o_orderstatus
      |              THEN 1 ELSE 0 END AS chg
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
      |i AS (
      |  SELECT o_custkey, o_orderstatus, o_orderdate,
      |         CAST(SUM(chg) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
      |  FROM g),
      |s AS (
      |  SELECT o_custkey, island,
      |         MIN(o_orderstatus) AS status,
      |         CAST(COUNT(*) AS BIGINT) AS n_orders,
      |         CAST(date_trunc('second', MIN(o_orderdate)) AS TIMESTAMP) AS valid_from
      |  FROM i GROUP BY o_custkey, island),
      |v AS (
      |  SELECT o_custkey, island, status, n_orders, valid_from,
      |         lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY island) AS valid_to
      |  FROM s)
      |SELECT o_custkey, island, status, n_orders, valid_from
      |FROM v
      |WHERE valid_from <= TIMESTAMP '1996-06-01'
      |  AND (valid_to IS NULL OR valid_to > TIMESTAMP '1996-06-01')
      |ORDER BY o_custkey""".stripMargin

  /** #149 (q66): reconciliation diff report — "did the migration
    * copy the table correctly?", answered without comparing wide rows:
    * each side reduces to (key, 16-byte row digest) at the scan
    * (md5 of a canonical '|'-joined projection, cents-integer for the
    * monetary column so both engines stringify identically), then ONE
    * full-outer shuffle join on the key classifies every row as
    * match / mismatch / only-in-source / only-in-target, and a tiny
    * aggregate emits the per-status report with key bounds for
    * triage. At 100 TB the shuffle carries ~24 bytes/row regardless
    * of row width — this is the digest-compare discipline replica
    * verification needs. The "source" here is a deterministic
    * perturbation of customer (drops every 37th key, shifts every
    * 11th balance) so all four statuses are exercised and the oracle
    * sees the same two frames. */
  def q66Reconcile: Q = (spark, dir) => {
    def digested(bal: Column): Column =
      md5(concat_ws("|", col("c_name"), col("c_nationkey"),
        col("c_mktsegment"), round(bal * 100, 0).cast(LongType)))
    val base = Tables.customer(spark, dir)
    val target = base.select(col("c_custkey").as("k"),
      digested(col("c_acctbal")).as("dig"))
    val source = base.filter(col("c_custkey") % 37 =!= 0)
      .select(col("c_custkey").as("k"),
        digested(when(col("c_custkey") % 11 === 0,
          col("c_acctbal") + 100).otherwise(col("c_acctbal"))).as("dig"))
      .unionAll(base.filter(col("c_custkey") % 53 === 0)
        .select((col("c_custkey") + 10000000L).as("k"),
          digested(col("c_acctbal")).as("dig")))
    source.withColumnRenamed("dig", "sdig")
      .join(target.withColumnRenamed("dig", "tdig"), Seq("k"), "full_outer")
      .select(col("k"),
        when(col("tdig").isNull, "only_in_source")
          .when(col("sdig").isNull, "only_in_target")
          .when(col("sdig") === col("tdig"), "match")
          .otherwise("mismatch").as("status"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_rows"),
        min("k").as("min_key"), max("k").as("max_key"))
      .orderBy("status")
  }

  val q66Sql: String =
    """WITH t AS MATERIALIZED (
      |  SELECT c_custkey AS k,
      |         md5(concat_ws('|', c_name, c_nationkey, c_mktsegment,
      |             CAST(round(c_acctbal * 100, 0) AS BIGINT))) AS tdig
      |  FROM customer),
      |s AS MATERIALIZED (
      |  SELECT c_custkey AS k,
      |         md5(concat_ws('|', c_name, c_nationkey, c_mktsegment,
      |             CAST(round((CASE WHEN c_custkey % 11 = 0
      |                              THEN c_acctbal + 100
      |                              ELSE c_acctbal END) * 100, 0) AS BIGINT))) AS sdig
      |  FROM customer WHERE c_custkey % 37 <> 0
      |  UNION ALL
      |  SELECT c_custkey + 10000000 AS k,
      |         md5(concat_ws('|', c_name, c_nationkey, c_mktsegment,
      |             CAST(round(c_acctbal * 100, 0) AS BIGINT))) AS sdig
      |  FROM customer WHERE c_custkey % 53 = 0)
      |SELECT CASE WHEN tdig IS NULL THEN 'only_in_source'
      |            WHEN sdig IS NULL THEN 'only_in_target'
      |            WHEN sdig = tdig THEN 'match'
      |            ELSE 'mismatch' END AS status,
      |       CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(MIN(k) AS BIGINT) AS min_key,
      |       CAST(MAX(k) AS BIGINT) AS max_key
      |FROM s FULL OUTER JOIN t USING (k)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** #160 (q69): SCD2 temporal fact join — every fact row joins the
    * dimension VERSION valid at that row's own event time (ship date ∈
    * [valid_from, valid_to)), the standard warehouse pattern q63's
    * single-timestamp snapshot does not cover: one as-of date vs one
    * as-of date PER ROW. Composes q41's interval table with the
    * lineitem facts (via orders for the customer key).
    *
    * Scale shape: NOT a range join — an equi-join on the customer key
    * followed by the interval filter. SCD2 intervals partition each
    * key's timeline, so the per-fact fanout before the filter is the
    * key's version count (small, bounded by status changes), never
    * |facts|×|intervals|; both sides shuffle once on the key, and the
    * aggregate below is map-side combinable. Quantities are integral
    * by construction — rounded to long so the output is engine-exact. */
  def q69Scd2Temporal: Q = (spark, dir) => {
    val iv = q41Scd2(spark, dir)
      .select("o_custkey", "status", "valid_from", "valid_to")
    val facts = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity"), col("l_shipdate"))
      .join(Tables.orders(spark, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_quantity"),
        col("l_shipdate").cast(TimestampType).as("ship_ts"))
    facts.join(iv, Seq("o_custkey"))
      .filter(col("valid_from") <= col("ship_ts") &&
        (col("valid_to").isNull || col("valid_to") > col("ship_ts")))
      .groupBy("status")
      .agg(count(lit(1)).as("n_items"),
        sum(round(col("l_quantity"), 0).cast(LongType)).as("sum_qty"))
      .orderBy("status")
  }

  val q69Sql: String =
    """WITH g AS (
      |  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
      |         CASE WHEN lag(o_orderstatus) OVER w IS NULL
      |                OR lag(o_orderstatus) OVER w <> o_orderstatus
      |              THEN 1 ELSE 0 END AS chg
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
      |i AS (
      |  SELECT o_custkey, o_orderstatus, o_orderdate,
      |         CAST(SUM(chg) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
      |  FROM g),
      |s AS (
      |  SELECT o_custkey, island, MIN(o_orderstatus) AS status,
      |         CAST(date_trunc('second', MIN(o_orderdate)) AS TIMESTAMP) AS valid_from
      |  FROM i GROUP BY o_custkey, island),
      |iv AS (
      |  SELECT o_custkey, status, valid_from,
      |         lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY island) AS valid_to
      |  FROM s),
      |f AS (
      |  SELECT o.o_custkey, l.l_quantity, l.l_shipdate AS ship_ts
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
      |SELECT iv.status, CAST(COUNT(*) AS BIGINT) AS n_items,
      |       CAST(SUM(CAST(round(f.l_quantity, 0) AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM f JOIN iv ON f.o_custkey = iv.o_custkey
      |WHERE iv.valid_from <= f.ship_ts
      |  AND (iv.valid_to IS NULL OR iv.valid_to > f.ship_ts)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** #151 (q67): CDC changelog apply — materialize an insert/update/
    * delete op log into the current snapshot: per key the LATEST op
    * wins (op_ts order, out-of-order arrivals included), and a
    * terminal delete removes the key. This is the missing half of
    * q40's one-shot MERGE: a changelog REPLAYS many versions per key,
    * so apply = keep-top-per-key (q07's shape — row_number desc + rank
    * 1, which plans as WindowGroupLimit: per-task cost bounded by 1
    * surviving row per key, never a full per-key sort buffer), then
    * drop 'D' survivors. The changelog here is a deterministic
    * four-source union over customer (insert@1, late-arriving
    * update@2 for %11 keys, update@3 for %5, delete@4 for %7) so
    * every precedence case is exercised: the late update beats only
    * the insert, loses to the later update and the delete. */
  /** The deterministic four-source test changelog over customer —
    * shared by batch q67 and the streaming CDC sink's parity spec
    * ([[graft.streaming.StreamSink.cdcApplyForeachBatch]]), so both
    * paths replay the exact same (k, op_ts, op, bal_cents) log. */
  private[graft] def cdcChangelog(c: DataFrame): DataFrame = {
    val cents = round(col("c_acctbal") * 100, 0).cast(LongType)
    c.select(col("c_custkey").as("k"), lit(1L).as("op_ts"),
        lit("I").as("op"), cents.as("bal_cents"))
      .unionByName(c.filter(col("c_custkey") % 11 === 0)
        .select(col("c_custkey").as("k"), lit(2L).as("op_ts"),
          lit("U").as("op"), (cents - 500L).as("bal_cents")))
      .unionByName(c.filter(col("c_custkey") % 5 === 0)
        .select(col("c_custkey").as("k"), lit(3L).as("op_ts"),
          lit("U").as("op"), (cents + 1000L).as("bal_cents")))
      .unionByName(c.filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey").as("k"), lit(4L).as("op_ts"),
          lit("D").as("op"), lit(null).cast(LongType).as("bal_cents")))
  }

  def q67CdcApply: Q = (spark, dir) => {
    val log = cdcChangelog(Tables.customer(spark, dir))
    val w = Window.partitionBy("k").orderBy(col("op_ts").desc)
    log.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(col("k"), col("op_ts").as("last_ts"), col("bal_cents"))
      .orderBy("k")
  }

  val q67Sql: String =
    """WITH log AS MATERIALIZED (
      |  SELECT c_custkey AS k, 1 AS op_ts, 'I' AS op,
      |         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey, 2, 'U',
      |         CAST(round(c_acctbal * 100, 0) AS BIGINT) - 500
      |  FROM customer WHERE c_custkey % 11 = 0
      |  UNION ALL
      |  SELECT c_custkey, 3, 'U',
      |         CAST(round(c_acctbal * 100, 0) AS BIGINT) + 1000
      |  FROM customer WHERE c_custkey % 5 = 0
      |  UNION ALL
      |  SELECT c_custkey, 4, 'D', NULL
      |  FROM customer WHERE c_custkey % 7 = 0),
      |r AS (
      |  SELECT k, op_ts, op, bal_cents,
      |         row_number() OVER (PARTITION BY k ORDER BY op_ts DESC) AS rn
      |  FROM log)
      |SELECT k, CAST(op_ts AS BIGINT) AS last_ts, bal_cents
      |FROM r WHERE rn = 1 AND op <> 'D'
      |ORDER BY k""".stripMargin

  /** #157 (q68): entity resolution / record linkage — the
    * Fellegi–Sunter shape (JASA'69) every master-data pipeline runs
    * when two rosters disagree on keys: BLOCK so candidates stay
    * linear, SCORE per-field agreements with integer log-odds-style
    * weights, THRESHOLD, then keep the best match per left record.
    *
    * The right roster is a deterministic re-keyed perturbation of
    * customer (q66's convention): dropped rows (%41), case noise
    * (%13), separator noise (%17 — both erased by normalization, so
    * the name AGREES), a 37-cent balance drift (%19 — outside the
    * ±10 tolerance band, so balance DISAGREES but name+segment carry
    * the match), segment relabel (%23), a ' jr' suffix (%29 — changes
    * the blocking key: a deliberate blocking miss, ER's standard
    * recall tradeoff) and an 'mr ' prefix (%31 — same block, name
    * disagrees, score 25 < 35 threshold: a candidate correctly
    * REJECTED by scoring, not by blocking).
    *
    * Scale shape: the block key is (nationkey, last-8 of the
    * normalized name) — near-unique, so the block join is
    * candidate-linear (never a per-nation cross product); best-match
    * selection is row_number-desc + rn=1, which plans as
    * WindowGroupLimit (q07/q67's bounded per-task top-1). Everything
    * integer/string-exact — the DuckDB oracle mirrors it term for
    * term. */
  def q68EntityResolution: Q = (spark, dir) => {
    val cents = round(col("c_acctbal") * 100, 0).cast(LongType)
    val c = Tables.customer(spark, dir)
    val a = c.select(col("c_custkey").as("a_key"), col("c_name").as("a_name"),
      col("c_nationkey").as("a_nat"), cents.as("a_cents"),
      col("c_mktsegment").as("a_seg"))
    val b = c.filter(col("c_custkey") % 41 =!= 0)
      .select((col("c_custkey") + 20000000L).as("b_key"),
        when(col("c_custkey") % 29 === 0, concat(col("c_name"), lit(" jr")))
          .when(col("c_custkey") % 31 === 0, concat(lit("mr "), col("c_name")))
          .when(col("c_custkey") % 13 === 0, upper(col("c_name")))
          .when(col("c_custkey") % 17 === 0, regexp_replace(col("c_name"), "#", " "))
          .otherwise(col("c_name")).as("b_name"),
        col("c_nationkey").as("b_nat"),
        when(col("c_custkey") % 19 === 0, cents + 37L).otherwise(cents).as("b_cents"),
        when(col("c_custkey") % 23 === 0, lit("RELINKED"))
          .otherwise(col("c_mktsegment")).as("b_seg"))
    def norm(n: Column): Column = regexp_replace(lower(n), "[^a-z0-9]", "")
    val aa = a.withColumn("blk", expr("right(regexp_replace(lower(a_name), '[^a-z0-9]', ''), 8)"))
    val bb = b.withColumn("blk", expr("right(regexp_replace(lower(b_name), '[^a-z0-9]', ''), 8)"))
    val scored = aa.join(bb,
        aa("blk") === bb("blk") && col("a_nat") === col("b_nat"))
      .withColumn("score",
        when(norm(col("a_name")) === norm(col("b_name")), 40L).otherwise(-10L) +
        when(abs(col("a_cents") - col("b_cents")) <= 10L, 25L).otherwise(-15L) +
        when(col("a_seg") === col("b_seg"), 10L).otherwise(-5L))
    val w = Window.partitionBy("a_key").orderBy(col("score").desc, col("b_key"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("score") >= 35L)
      .select(col("a_key"), col("b_key"), col("score"))
      .orderBy("a_key")
  }

  val q68Sql: String =
    """WITH a AS (
      |  SELECT c_custkey AS a_key, c_name AS a_name, c_nationkey AS a_nat,
      |         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS a_cents,
      |         c_mktsegment AS a_seg
      |  FROM customer),
      |b AS (
      |  SELECT c_custkey + 20000000 AS b_key,
      |         CASE WHEN c_custkey % 29 = 0 THEN c_name || ' jr'
      |              WHEN c_custkey % 31 = 0 THEN 'mr ' || c_name
      |              WHEN c_custkey % 13 = 0 THEN upper(c_name)
      |              WHEN c_custkey % 17 = 0 THEN replace(c_name, '#', ' ')
      |              ELSE c_name END AS b_name,
      |         c_nationkey AS b_nat,
      |         CASE WHEN c_custkey % 19 = 0
      |              THEN CAST(round(c_acctbal * 100, 0) AS BIGINT) + 37
      |              ELSE CAST(round(c_acctbal * 100, 0) AS BIGINT) END AS b_cents,
      |         CASE WHEN c_custkey % 23 = 0 THEN 'RELINKED'
      |              ELSE c_mktsegment END AS b_seg
      |  FROM customer WHERE c_custkey % 41 <> 0),
      |cand AS (
      |  SELECT a_key, b_key,
      |         CASE WHEN regexp_replace(lower(a_name), '[^a-z0-9]', '', 'g')
      |                 = regexp_replace(lower(b_name), '[^a-z0-9]', '', 'g')
      |              THEN 40 ELSE -10 END
      |       + CASE WHEN abs(a_cents - b_cents) <= 10 THEN 25 ELSE -15 END
      |       + CASE WHEN a_seg = b_seg THEN 10 ELSE -5 END AS score
      |  FROM a JOIN b
      |    ON a_nat = b_nat
      |   AND right(regexp_replace(lower(a_name), '[^a-z0-9]', '', 'g'), 8)
      |     = right(regexp_replace(lower(b_name), '[^a-z0-9]', '', 'g'), 8))
      |SELECT a_key, b_key, CAST(score AS BIGINT) AS score
      |FROM (SELECT a_key, b_key, score,
      |             row_number() OVER (PARTITION BY a_key
      |                                ORDER BY score DESC, b_key) AS rn
      |      FROM cand)
      |WHERE rn = 1 AND score >= 35
      |ORDER BY a_key""".stripMargin

  /** #167 (q70): delete propagation / right-to-be-forgotten audit —
    * the governance sweep every lakehouse runs under GDPR/CCPA: given
    * a forget-set of subjects (here: a deterministic customer slice),
    * cascade the deletion through the foreign-key closure
    * (customer → orders → lineitem) and report, per table, how many
    * rows the purge removes vs keeps — the audit artifact a DPO signs
    * off BEFORE the physical rewrite runs.
    *
    * Scale shape: each hop is a LEFT SEMI join on the parent's keys
    * (key columns only cross the shuffle — at TPC-H scale the forget
    * closure is a sliver, so the semi-join's build side stays small
    * and AQE broadcasts it), and each audit row is a pair of
    * map-side-combinable counts. The physical purge itself is the
    * complementary LEFT ANTI join written via
    * [[graft.sources.Writers.overwritePartitions]] — this query is
    * the evidence, kept integer-exact so the oracle hash-matches. */
  def q70ForgetAudit: Q = (spark, dir) => {
    val forget = Tables.customer(spark, dir)
      .filter(col("c_custkey") % 97 === 0)
      .select(col("c_custkey").as("fk"))
    val orders = Tables.orders(spark, dir)
    val dropOrders = orders
      .join(forget, orders("o_custkey") === forget("fk"), "left_semi")
      .select(col("o_orderkey").as("dok"))
    val li = Tables.lineitem(spark, dir)
    def audit(name: String, total: DataFrame, deleted: DataFrame): DataFrame =
      total.agg(count(lit(1)).as("n_total"))
        .crossJoin(deleted.agg(count(lit(1)).as("n_deleted")))
        .select(lit(name).as("table_name"), col("n_total"), col("n_deleted"),
          (col("n_total") - col("n_deleted")).as("n_kept"))
    audit("customer", Tables.customer(spark, dir), forget)
      .unionByName(audit("orders", orders, dropOrders))
      .unionByName(audit("lineitem", li,
        li.join(dropOrders, li("l_orderkey") === dropOrders("dok"), "left_semi")))
      .orderBy("table_name")
  }

  val q70Sql: String =
    """WITH f AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
      |fo AS (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM f))
      |SELECT 'customer' AS table_name,
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_total,
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM f) AS n_deleted,
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM customer)
      |         - (SELECT CAST(COUNT(*) AS BIGINT) FROM f) AS n_kept
      |UNION ALL
      |SELECT 'lineitem',
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
      |         WHERE l_orderkey IN (SELECT o_orderkey FROM fo)),
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem)
      |         - (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
      |             WHERE l_orderkey IN (SELECT o_orderkey FROM fo))
      |UNION ALL
      |SELECT 'orders',
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM fo),
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders)
      |         - (SELECT CAST(COUNT(*) AS BIGINT) FROM fo)
      |ORDER BY table_name""".stripMargin

  val catalogue: Seq[Query] = Seq(
    Query("q70_forget_audit", q70ForgetAudit, q70Sql),
    Query("q69_scd2_temporal", q69Scd2Temporal, q69Sql),
    Query("q68_entity_resolution", q68EntityResolution, q68Sql),
    Query("q67_cdc_apply", q67CdcApply, q67Sql),
    Query("q66_reconcile", q66Reconcile, q66Sql),
    Query("q01_filter_project", q01FilterProject, q01Sql),
    Query("q02_agg_pricing", q02AggPricing, q02Sql),
    Query("q03_join_enrich", q03JoinEnrich, q03Sql),
    Query("q04_drop_columns", q04DropColumns, q04Sql),
    Query("q05_null_standardize", q05NullStandardize, q05Sql),
    Query("q06_normalize_text", q06NormalizeText, q06Sql),
    Query("q07_dedup_top_per_key", q07DedupTopPerKey, q07Sql),
    Query("q08_impute_join", q08ImputeJoin, q08Sql),
    Query("q09_union_concat", q09UnionConcat, q09Sql),
    Query("q10_type_casts", q10TypeCasts, q10Sql),
    Query("q11_conditional_update", q11ConditionalUpdate, q11Sql),
    Query("q12_window_rank", q12WindowRank, q12Sql),
    Query("q13_pivot_agg", q13PivotAgg, q13Sql),
    Query("q14_time_window_agg", q14TimeWindowAgg, q14Sql),
    Query("q15_rollup", q15Rollup, q15Sql),
    Query("q16_flex_join", q16FlexJoin, q16Sql),
    Query("q17_etl_pipeline", q17EtlPipeline, q17Sql),
    Query("q40_upsert", q40Upsert, q40Sql),
    Query("q41_scd2", q41Scd2, q41Sql),
    Query("q63_scd2_snapshot", q63Scd2Snapshot, q63Sql))
}
