package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import Fmt.fix4

/** Capability-parity breadth beyond the reference's own operator set
  * (SURVEY.md §2.6): window functions (ranking + frames), event-time
  * windows, JSON property extraction, set operations, rollup, and
  * sessionization. The reference has none of these (README.md specifies
  * only joins + group-by argmax), but a user of a general analytics engine
  * expects them; all are Spark built-ins, chosen so Catalyst keeps the
  * whole plan codegen'd.
  */
object Breadth {

  /** Ranking window: top-3 customers by average line quantity within each
    * nation — the windowed generalization of the reference's A1 argmax
    * (README.md:20). Two-level: hash-aggregate per customer first (shrinks
    * 100 TB of lines to one row per customer), then a window over the
    * small per-customer frame — never a window over raw fact rows. */
  def windowRank(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val o  = Tables.orders(s, dir)
    val c  = Tables.customer(s, dir)
    val n  = Tables.nation(s, dir)
    // r15: aggregate to one row per customer BEFORE the customer/nation
    // dimension joins (§2.3 aggregate-before-shuffle / §2.4): the name
    // columns are functionally determined by c_custkey (primary key), so
    // grouping by the bare key and attaching (c_name, n_name) to the
    // customer-sized aggregate is row-identical — and the fact-sized
    // stage now runs one join instead of three, with the aggregate's
    // exchange carrying (custkey, sum, count) instead of two strings.
    val perCust = li.select("l_orderkey", "l_quantity")
      .join(o.select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(Fmt.fix4(avg("l_quantity")).as("avg_qty"))
      .join(broadcast(c), col("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .select(col("n_name"), col("c_custkey"), col("c_name"), col("avg_qty"))
    val w = Window.partitionBy("n_name")
      .orderBy(col("avg_qty").desc, col("c_custkey").asc)
    perCust
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .orderBy("n_name", "rnk")
  }

  private val windowRankSql =
    """WITH per_cust AS (
      |  SELECT n_name, c_custkey, c_name, floor(avg(l_quantity) * 10000.0 + 0.5) / 10000.0 AS avg_qty
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name, c_custkey, c_name)
      |SELECT * FROM (
      |  SELECT n_name, c_custkey, c_name, avg_qty,
      |         row_number() OVER (PARTITION BY n_name
      |                            ORDER BY avg_qty DESC, c_custkey) AS rnk
      |  FROM per_cust)
      |WHERE rnk <= 3
      |ORDER BY n_name, rnk""".stripMargin

  /** Frame window: per-user running total of event value over time
    * (SURVEY §2.6 "running total"). Partitioned by user so state stays
    * bounded per key; the sort is per-partition after a hash exchange on
    * user_id — no global sort of the event log. */
  def runningTotal(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("running_value", round(sum("value").over(w), 4))
      .select("user_id", "event_id", "running_value")
      .orderBy("user_id", "event_id")
  }

  private val runningTotalSql =
    """SELECT user_id, event_id,
      |       round(sum(value) OVER (PARTITION BY user_id
      |             ORDER BY ts, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
      |         AS running_value
      |FROM events
      |ORDER BY user_id, event_id""".stripMargin

  /** Tumbling event-time window aggregation — the batch expression of the
    * Structured Streaming pipeline in graft.streaming.StreamOps (identical
    * `window()` call works under readStream + watermark). Window start is
    * emitted as a formatted string so the oracle compare is precision-proof
    * (events.ts is ns in parquet; both engines truncate to µs). */
  def hourlyWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
              col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("hour_start", "event_type")

  private val hourlyWindowSql =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
      |       event_type, count(*) AS n_events,
      |       round(sum(value), 4) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY hour_start, event_type""".stripMargin

  /** Gap-based sessions via the built-in session_window, batch form (the
    * streaming twin with watermark + state-store merge is
    * [[graft.streaming.StreamOps.sessionWindows]]). A session's window is
    * [first event, last event + gap); events merge into a session while
    * they start strictly before the current window end, i.e. a new
    * session begins when the inter-event gap reaches 30 minutes. One hash
    * exchange on the grouping key, then per-partition sort + merge —
    * the same shuffle shape at any scale. Output timestamps format to
    * whole seconds on both sides of the oracle. */
  def sessionWindowAgg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"))
      .orderBy("user_id", "session_start")

  private val sessionWindowAggSql =
    """WITH marked AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
      |                      >= 1800 * 1000000
      |              THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT user_id, ts,
      |         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM marked)
      |SELECT user_id,
      |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |       strftime(max(ts) + INTERVAL 30 MINUTE,
      |                '%Y-%m-%d %H:%M:%S') AS session_end,
      |       count(*) AS n_events
      |FROM sessions
      |GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** JSON property extraction (SURVEY §2.6 "multimodal props"):
    * events.props is a JSON string column; pull a typed field out and
    * aggregate. get_json_object is codegen'd; for a fixed schema,
    * from_json(col, schema) gives a struct column instead. */
  def jsonProps(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
           Fmt.fix4(avg("k")).as("avg_k"),
           min("k").as("min_k"),
           max("k").as("max_k"),
           sum("k").cast("long").as("sum_k"))
      .orderBy("event_type")

  private val jsonPropsSql =
    """SELECT event_type, count(*) AS n,
      |       floor(avg(k) * 10000.0 + 0.5) / 10000.0 AS avg_k,
      |       min(k) AS min_k, max(k) AS max_k,
      |       CAST(sum(k) AS BIGINT) AS sum_k
      |FROM (SELECT event_type,
      |             CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      |      FROM events)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** VARIANT twin of [[jsonProps]]: parse the JSON props ONCE into
    * Spark 4's binary VARIANT encoding, then extract typed fields with
    * `variant_get`. At 100 TB this is the semi-structured shape that
    * wins: `get_json_object` re-parses the JSON string per extraction,
    * while a variant column parses at scan and every subsequent
    * extraction is a binary offset walk — the difference compounds with
    * every additional field a query pulls. Output: per-decile histogram
    * of the extracted metric (distinct from jsonProps's per-type stats). */
  def variantProps(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("v", parse_json(col("props")))
      .withColumn("k", expr("variant_get(v, '$.k', 'int')"))
      .groupBy(floor(col("k") / 10).cast("long").as("k_decile"))
      .agg(count(lit(1)).as("n"),
        countDistinct("event_type").as("n_types"),
        sum("k").cast("long").as("sum_k"))
      .orderBy("k_decile")

  private val variantPropsSql =
    """SELECT CAST(floor(k / 10) AS BIGINT) AS k_decile, count(*) AS n,
      |       count(DISTINCT event_type) AS n_types,
      |       CAST(sum(k) AS BIGINT) AS sum_k
      |FROM (SELECT event_type,
      |             CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      |      FROM events)
      |GROUP BY 1
      |ORDER BY k_decile""".stripMargin

  /** Cohort retention — the product-analytics triangle: users grouped by
    * first-seen week, tracked by distinct-active weeks since. Two
    * aggregates + one join, all keyed on user_id/(cohort, week) — no
    * self-join of the raw stream, so the event volume crosses the wire
    * once as (user, week) pairs. Week arithmetic stays on
    * week-truncated dates, so the day-diff is an exact multiple of 7 in
    * both engines. */
  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("wk"))
    val cohorts = e.groupBy("user_id").agg(min("wk").as("cohort"))
    e.distinct()
      .join(cohorts, "user_id")
      .withColumn("week_n", (datediff(col("wk"), col("cohort")) / 7).cast("int"))
      .groupBy(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_week"),
        col("week_n"))
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort_week", "week_n")
  }

  private val cohortRetentionSql =
    """WITH a AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      |  FROM events),
      |c AS (SELECT user_id, min(wk) AS cohort FROM a GROUP BY user_id)
      |SELECT strftime(c.cohort, '%Y-%m-%d') AS cohort_week,
      |       CAST(date_diff('day', c.cohort, a.wk) / 7 AS INT) AS week_n,
      |       count(DISTINCT a.user_id) AS n_users
      |FROM a JOIN c ON a.user_id = c.user_id
      |GROUP BY 1, 2
      |ORDER BY cohort_week, week_n""".stripMargin

  /** Ordered funnel conversion: view → click → purchase, each step
    * strictly after the previous one for the same user. Step timestamps
    * derive by conditional aggregation per user — three narrow
    * (user, step-min) frames joined on user_id — so the raw stream is
    * scanned per step but never self-joined row-to-row (the quadratic
    * trap funnel queries fall into). */
  def funnelSteps(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(
      col("user_id"), col("event_type"), col("ts").cast("double").as("sec"))
    val t1 = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("sec").as("t1"))
    val t2 = e.join(t1, "user_id")
      .filter(col("event_type") === "click" && col("sec") > col("t1"))
      .groupBy("user_id").agg(min("sec").as("t2"))
    val t3 = e.join(t2, "user_id")
      .filter(col("event_type") === "purchase" && col("sec") > col("t2"))
      .groupBy("user_id").agg(min("sec").as("t3"))
    t1.join(t2, Seq("user_id"), "left")
      .join(t3, Seq("user_id"), "left")
      .agg(count(lit(1)).as("n_viewed"),
        sum(col("t2").isNotNull.cast("long")).as("n_clicked"),
        sum(col("t3").isNotNull.cast("long")).as("n_purchased"))
      .select(col("n_viewed"), col("n_clicked"), col("n_purchased"),
        Fmt.fix4(col("n_clicked") / col("n_viewed")).as("click_rate"),
        Fmt.fix4(col("n_purchased") / col("n_viewed")).as("purchase_rate"))
  }

  private val funnelStepsSql =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch(ts) AS sec FROM events),
      |t1 AS (SELECT user_id, min(sec) AS t1 FROM e
      |       WHERE event_type = 'view' GROUP BY user_id),
      |t2 AS (SELECT e.user_id, min(sec) AS t2
      |       FROM e JOIN t1 ON e.user_id = t1.user_id
      |       WHERE event_type = 'click' AND sec > t1 GROUP BY e.user_id),
      |t3 AS (SELECT e.user_id, min(sec) AS t3
      |       FROM e JOIN t2 ON e.user_id = t2.user_id
      |       WHERE event_type = 'purchase' AND sec > t2 GROUP BY e.user_id)
      |SELECT count(*) AS n_viewed,
      |       CAST(sum(CASE WHEN t2.t2 IS NOT NULL THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_clicked,
      |       CAST(sum(CASE WHEN t3.t3 IS NOT NULL THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_purchased,
      |       floor(sum(CASE WHEN t2.t2 IS NOT NULL THEN 1 ELSE 0 END)
      |             / count(*) * 10000.0 + 0.5) / 10000.0 AS click_rate,
      |       floor(sum(CASE WHEN t3.t3 IS NOT NULL THEN 1 ELSE 0 END)
      |             / count(*) * 10000.0 + 0.5) / 10000.0 AS purchase_rate
      |FROM t1
      |LEFT JOIN t2 ON t1.user_id = t2.user_id
      |LEFT JOIN t3 ON t1.user_id = t3.user_id""".stripMargin

  /** Funnel TIME-TO-CONVERT: quartiles and exact mean of the gap between
    * ordered funnel steps (first view → first later click → first later
    * purchase) — [[funnelSteps]] says how many convert; this says how
    * LONG conversion takes, the number that sizes attribution windows
    * and retargeting delays. Same conditional-aggregation shape (three
    * narrow user-keyed frames, no row-to-row self-join). Timestamps
    * collapse to WHOLE SECONDS via integer µs floor-division — Spark
    * reads the ns fixture at µs and DuckDB keeps ns, so only the
    * whole-second key is engine-identical. Gap quartiles are exact
    * interpolated percentiles over BIGINT gaps; the mean is an exact
    * integer-sum quotient. */
  def funnelTime(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(
      col("user_id"), col("event_type"),
      expr("unix_micros(ts) div 1000000").as("sec"))
    val t1 = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("sec").as("t1"))
    val t2 = e.join(t1, "user_id")
      .filter(col("event_type") === "click" && col("sec") > col("t1"))
      .groupBy("user_id").agg(min("sec").as("t2"))
    val t3 = e.join(t2, "user_id")
      .filter(col("event_type") === "purchase" && col("sec") > col("t2"))
      .groupBy("user_id").agg(min("sec").as("t3"))
    def census(step: String, gaps: DataFrame): DataFrame =
      gaps.agg(count(lit(1)).as("n_users"),
        expr("percentile(g, array(0.25D, 0.5D, 0.75D))").as("p"),
        sum("g").as("sg"))
        .select(lit(step).as("step"), col("n_users"),
          (floor(col("p")(0) * lit(10000.0d) + lit(0.5d)) / lit(10000.0d))
            .as("p25_sec"),
          (floor(col("p")(1) * lit(10000.0d) + lit(0.5d)) / lit(10000.0d))
            .as("p50_sec"),
          (floor(col("p")(2) * lit(10000.0d) + lit(0.5d)) / lit(10000.0d))
            .as("p75_sec"),
          (floor(col("sg").cast("double") / col("n_users") * lit(10000.0d)
            + lit(0.5d)) / lit(10000.0d)).as("mean_sec"))
    val g12 = t1.join(t2, "user_id").select((col("t2") - col("t1")).as("g"))
    val g23 = t2.join(t3, "user_id").select((col("t3") - col("t2")).as("g"))
    census("1_view_to_click", g12)
      .unionByName(census("2_click_to_purchase", g23))
      .orderBy("step")
  }

  private val funnelTimeSql =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) // 1000000 AS sec
      |  FROM events),
      |t1 AS (SELECT user_id, min(sec) AS t1 FROM e
      |       WHERE event_type = 'view' GROUP BY user_id),
      |t2 AS (SELECT e.user_id, min(sec) AS t2
      |       FROM e JOIN t1 ON e.user_id = t1.user_id
      |       WHERE event_type = 'click' AND sec > t1 GROUP BY e.user_id),
      |t3 AS (SELECT e.user_id, min(sec) AS t3
      |       FROM e JOIN t2 ON e.user_id = t2.user_id
      |       WHERE event_type = 'purchase' AND sec > t2 GROUP BY e.user_id),
      |g12 AS (SELECT t2.t2 - t1.t1 AS g FROM t1 JOIN t2 ON t1.user_id = t2.user_id),
      |g23 AS (SELECT t3.t3 - t2.t2 AS g FROM t2 JOIN t3 ON t2.user_id = t3.user_id)
      |SELECT '1_view_to_click' AS step, count(*) AS n_users,
      |       floor(quantile_cont(g, 0.25) * 10000.0 + 0.5) / 10000.0 AS p25_sec,
      |       floor(quantile_cont(g, 0.5) * 10000.0 + 0.5) / 10000.0 AS p50_sec,
      |       floor(quantile_cont(g, 0.75) * 10000.0 + 0.5) / 10000.0 AS p75_sec,
      |       floor(CAST(sum(g) AS DOUBLE) / count(*) * 10000.0 + 0.5)
      |         / 10000.0 AS mean_sec
      |FROM g12
      |UNION ALL
      |SELECT '2_click_to_purchase', count(*),
      |       floor(quantile_cont(g, 0.25) * 10000.0 + 0.5) / 10000.0,
      |       floor(quantile_cont(g, 0.5) * 10000.0 + 0.5) / 10000.0,
      |       floor(quantile_cont(g, 0.75) * 10000.0 + 0.5) / 10000.0,
      |       floor(CAST(sum(g) AS DOUBLE) / count(*) * 10000.0 + 0.5)
      |         / 10000.0
      |FROM g23
      |ORDER BY step""".stripMargin

  /** Set operations (SURVEY §2.6): distinct-union / intersect / except of
    * the urgent vs low-priority customer key sets, reported as one row of
    * cardinalities. */
  def setOps(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
    val low    = o.filter(col("o_orderpriority") === "5-LOW").select("o_custkey")
    val u = urgent.union(low).distinct().agg(count(lit(1)).as("union_n"))
    val i = urgent.intersect(low).agg(count(lit(1)).as("intersect_n"))
    val e = urgent.except(low).agg(count(lit(1)).as("except_n"))
    u.crossJoin(i).crossJoin(e)
  }

  private val setOpsSql =
    """SELECT
      |  (SELECT count(*) FROM (
      |     SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |     UNION
      |     SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW')) AS union_n,
      |  (SELECT count(*) FROM (
      |     SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |     INTERSECT
      |     SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW')) AS intersect_n,
      |  (SELECT count(*) FROM (
      |     SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |     EXCEPT
      |     SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW')) AS except_n""".stripMargin

  /** Rollup (SURVEY §2.4 "grouping sets"): subtotals over
    * (returnflag, linestatus) with NULL grouping keys coalesced to 'ALL'
    * so the oracle compare is null-ordering-proof. */
  def rollupAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 4).as("sum_qty"), count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
              coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
              col("sum_qty"), col("n"))
      .orderBy("returnflag", "linestatus")

  private val rollupAggSql =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |       coalesce(l_linestatus, 'ALL') AS linestatus,
      |       round(sum(l_quantity), 4) AS sum_qty, count(*) AS n
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  /** Sessionization in batch form: a session ends after a 30-minute
    * inactivity gap. TWO-LEVEL gaps-and-islands — the skew-proof
    * spelling of the classic lag + cumulative-sum pattern. A single
    * per-user window puts a hot user's ENTIRE event history in one
    * task (the bot / load-balancer-IP shape; SKEW10_r12's 20%-hot user
    * showed the straggler ratio climbing 1.2 → 2.2 while every capped
    * path stayed flat — at 100 TB that task is the job).
    *
    * Level 1 partitions by (user, day-bucket): fragments = within-
    * bucket islands, so the hot user's events spread across its
    * calendar buckets. Level 2 stitches fragments per user — and is
    * PROVABLY bounded: a new fragment needs a >gap silence, so a
    * bucket holds ≤ 1 + W/gap = 49 fragments per user, making the
    * per-user frame calendar-sized (49/day) regardless of event
    * volume. The stitch predicate is the SAME `fs − prev_fe > gap`
    * test applied to fragment endpoints: a same-bucket predecessor
    * split on exactly that test (always a new session), a previous-
    * bucket predecessor merges iff the boundary silence ≤ gap, and a
    * predecessor ≥2 buckets back is ≥ W > gap away by construction —
    * one predicate covers all three cases, which is what makes the
    * decomposition exact (session boundaries identical to the
    * single-window spelling; oracle unchanged). The streaming twin
    * (stateful flatMapGroupsWithState) lives in
    * graft.streaming.StreamOps. */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    // All time arithmetic in EXACT integer microseconds (ts has
    // sub-second micros): gap compares are then integer-exact in both
    // engines, and the session-duration mean is a sum of exact BIGINTs
    // followed by fixed divides — no summation-order dependence (the
    // r12 q_correlated class). Same-set session boundaries: gap > 1800 s
    // over integer µs ⟺ gap_µs > 1 800 000 000.
    val GAP = 1800000000L            // 1800 s in µs
    val W = 86400000000L             // 1-day bucket in µs; any W ≥ gap ok
    val byUserBucket = Window.partitionBy("user_id", "b")
      .orderBy(col("sec").asc, col("event_id").asc)
    val frags = Tables.events(s, dir)
      .select("user_id", "event_id", "ts")
      .withColumn("sec", expr("unix_micros(ts)"))
      .withColumn("b", expr(s"sec div ${W}L"))
      .withColumn("prev_sec", lag("sec", 1).over(byUserBucket))
      .withColumn("is_new",
        when(col("prev_sec").isNull || col("sec") - col("prev_sec") > GAP, 1L)
          .otherwise(0L))
      .withColumn("f",
        sum("is_new").over(byUserBucket.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "b", "f")
      .agg(count(lit(1)).as("n_events"),
           min("sec").as("fs"), max("sec").as("fe"))
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("b").asc, col("f").asc)
    val sessions = frags
      .withColumn("prev_fe", lag("fe", 1).over(byUser))
      .withColumn("is_start",
        when(col("prev_fe").isNull || col("fs") - col("prev_fe") > GAP, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum("is_start").over(byUser.rowsBetween(Window.unboundedPreceding,
                                                Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(sum("n_events").as("n_events"),
           (max("fe") - min("fs")).as("dur"))
    sessions.groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
           max("n_events").as("max_session_events"),
           // avg_sec·10⁴ = Σdur_µs/100/n, exact integer sum first
           (floor(sum("dur").cast("double") / lit(100.0d) / count(lit(1))
             + lit(0.5d)) / lit(10000.0d)).as("avg_session_seconds"))
      .orderBy("user_id")
  }

  private val sessionizeSql =
    """WITH marked AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS sec,
      |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |              THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT user_id, sec,
      |         sum(is_new) OVER (PARTITION BY user_id ORDER BY sec, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM marked),
      |per_session AS (
      |  SELECT user_id, session_id, count(*) AS n_events,
      |         max(sec) - min(sec) AS dur
      |  FROM sessions GROUP BY user_id, session_id)
      |SELECT user_id, count(*) AS n_sessions,
      |       max(n_events) AS max_session_events,
      |       floor(sum(dur) / 100.0 / count(*) + 0.5) / 10000.0
      |         AS avg_session_seconds
      |FROM per_session
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Sketch-based distinct (the 100 TB substitute for exact countDistinct):
    * HyperLogLog++ via approx_count_distinct. No DuckDB oracle — sketch
    * estimates are engine-specific — so the driver records a rows-only
    * check; determinism within Spark is still guaranteed (HLL++ is
    * deterministic for a given input multiset). */
  def approxDistinct(s: SparkSession, dir: String): DataFrame =
    // (r14 note: unlike [[approxDistinctContract]], this plain form has
    // NO exact-distinct companion, so Catalyst plans a simple two-phase
    // aggregate with 3 sketch states per task — no per-pair sketch
    // exchange to kill. A pair-dedup rewrite was measured SLOWER here
    // (0.65 s → 1.13 s: pure added exchange); left as-is.)
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(approx_count_distinct("l_partkey", 0.02).as("approx_parts"),
           count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** Shared first level of the [[approxDistinctContract]] decomposition:
    * one row per distinct (flag, partkey) pair with its duplication
    * count — the narrow frame both the sketch and the exact distinct
    * then aggregate without any per-pair sketch state. */
  private def approxDistinctPairs(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).select("l_returnflag", "l_partkey")
      .groupBy("l_returnflag", "l_partkey")
      .agg(count(lit(1)).as("c"))

  /** ORACLE-CHECKED error contract of [[approxDistinct]]: the estimate
    * itself is engine-internal (DuckDB runs a different sketch), but the
    * CONTRACT — estimate within a deterministic band of the exact
    * distinct — is oracle-expressible: Spark evaluates the band test,
    * the oracle recomputes the exact side and pins the verdict at TRUE,
    * so a sketch regression past the band hash-fails the round instead
    * of hiding behind a rows-only check. Band = 5% = 2.5× the
    * configured 2% rsd (the estimate is ~N(exact, rsd·exact); 2.5σ
    * one-off failure odds ≈ 1%, and the fixture is fixed, so the test
    * is deterministic in practice — a flip means the sketch changed). */
  def approxDistinctContract(s: SparkSession, dir: String): DataFrame =
    // r14: same pair-dedup decomposition as [[approxDistinct]] (see there
    // for the per-pair-sketch-state exchange this kills — measured 1.73 s
    // warm, one 413-column partial-agg stage on one task). Over the
    // deduped pair frame the exact distinct is a plain count, the n
    // census is sum(c), and the sketch sees each pair once —
    // bit-identical est, no Expand, narrow exchanges only.
    approxDistinctPairs(s, dir)
      .groupBy("l_returnflag")
      .agg(approx_count_distinct("l_partkey", 0.02).as("est"),
        count(lit(1)).as("exact_parts"),
        sum("c").as("n"))
      .select(col("l_returnflag"), col("exact_parts"), col("n"),
        (abs(col("est").cast("double") - col("exact_parts"))
          / col("exact_parts") <= 0.05d).as("within_bound"))
      .orderBy("l_returnflag")

  private val approxDistinctContractSql =
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
      |       count(*) AS n, TRUE AS within_bound
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** Stratified A/B readout: Cochran–Mantel–Haenszel test of variant →
    * conversion CONTROLLING for user activity level — the guard against
    * Simpson's paradox that a pooled z-test ([[abTest]]) cannot give:
    * if assignment correlates with activity and activity drives
    * conversion, the pooled rates mislead; CMH pools the per-stratum
    * 2×2 tables instead. Strata are activity quartiles from broadcast
    * exact boundaries (no global ntile window — the RFM precedent).
    * Per-stratum expected counts and variances are single IEEE
    * expressions over BIGINT cell counts (double products, since a
    * BIGINT n1·n0·m1·m0 overflows at real user counts), floor-fixed to
    * 6 dp and summed as DECIMAL(20,6) so the K-term sums are
    * merge-order-free. One corpus scan → user aggregate → 4-row stratum
    * table; everything after is scalar. */
  def cmhTest(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(s, dir)
      .groupBy("user_id")
      .agg((sum((col("event_type") === "purchase").cast("long")) >= 14L)
        .cast("long").as("conv"),
        count(lit(1)).cast("double").as("activity"))
      .withColumn("variant",
        when(substring(md5(col("user_id").cast("string")), 32, 1) < "8",
          "A").otherwise("B"))
    val bounds = users
      .agg(expr("percentile(activity, array(0.25D, 0.5D, 0.75D))").as("bs"))
    val strata = users.join(broadcast(bounds))
      .select(expr("size(filter(bs, b -> activity > b))").as("stratum"),
        col("variant"), col("conv"))
      .groupBy("stratum")
      .agg(
        sum(when(col("variant") === "A", col("conv")).otherwise(0L)).as("a"),
        sum(when(col("variant") === "A", 1L).otherwise(0L)).as("n1"),
        sum(col("conv")).as("m1"),
        count(lit(1)).as("n"))
    strata
      .withColumn("e",
        floor(col("n1").cast("double") * col("m1") / col("n")
          * lit(1000000.0d) + lit(0.5d)) / lit(1000000.0d))
      .withColumn("v",
        floor(col("n1").cast("double") * (col("n") - col("n1"))
          * col("m1") * (col("n") - col("m1"))
          / (col("n").cast("double") * col("n")
            * greatest(col("n") - lit(1L), lit(1L)))
          * lit(1000000.0d) + lit(0.5d)) / lit(1000000.0d))
      .agg(count(lit(1)).as("n_strata"), sum("a").as("a_sum"),
        sum(col("e").cast("decimal(20,6)")).as("e_sum"),
        sum(col("v").cast("decimal(20,6)")).as("v_sum"))
      .select(col("n_strata"), col("a_sum"),
        col("e_sum").cast("double").as("e_sum"),
        col("v_sum").cast("double").as("v_sum"),
        (floor(
          (abs(col("a_sum") - col("e_sum").cast("double")) - lit(0.5d))
            * (abs(col("a_sum") - col("e_sum").cast("double")) - lit(0.5d))
            / col("v_sum").cast("double")
            * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("cmh_chi2"))
  }

  private val cmhTestSql =
    """WITH u AS (
      |  SELECT user_id,
      |         CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1
      |                ELSE 0 END) >= 14 THEN 1 ELSE 0 END AS conv,
      |         CAST(count(*) AS DOUBLE) AS activity,
      |         CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 32, 1) < '8'
      |              THEN 'A' ELSE 'B' END AS variant
      |  FROM events GROUP BY user_id),
      |b AS (SELECT quantile_cont(activity, [0.25, 0.5, 0.75]) AS bs FROM u),
      |g AS (
      |  SELECT len(list_filter(bs, y -> activity > y)) AS stratum,
      |         CAST(sum(CASE WHEN variant = 'A' THEN conv ELSE 0 END)
      |           AS BIGINT) AS a,
      |         CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END)
      |           AS BIGINT) AS n1,
      |         CAST(sum(conv) AS BIGINT) AS m1,
      |         count(*) AS n
      |  FROM u CROSS JOIN b GROUP BY 1),
      |t AS (
      |  SELECT a,
      |         floor(CAST(n1 AS DOUBLE) * m1 / n * 1000000.0 + 0.5)
      |           / 1000000.0 AS e,
      |         floor(CAST(n1 AS DOUBLE) * (n - n1) * m1 * (n - m1)
      |               / (CAST(n AS DOUBLE) * n * greatest(n - 1, 1))
      |               * 1000000.0 + 0.5) / 1000000.0 AS v
      |  FROM g),
      |m AS (
      |  SELECT count(*) AS n_strata, CAST(sum(a) AS BIGINT) AS a_sum,
      |         sum(CAST(e AS DECIMAL(20,6))) AS e_d,
      |         sum(CAST(v AS DECIMAL(20,6))) AS v_d
      |  FROM t)
      |SELECT n_strata, a_sum,
      |       CAST(e_d AS DOUBLE) AS e_sum, CAST(v_d AS DOUBLE) AS v_sum,
      |       floor((abs(a_sum - CAST(e_d AS DOUBLE)) - 0.5)
      |             * (abs(a_sum - CAST(e_d AS DOUBLE)) - 0.5)
      |             / CAST(v_d AS DOUBLE) * 10000.0 + 0.5) / 10000.0
      |         AS cmh_chi2
      |FROM m""".stripMargin

  /** Mergeable distinct-count sketch TABLE — the at-scale upgrade of
    * [[approxDistinct]]: per-(event_type, day) HLL sketches of user_id
    * (Apache DataSketches via `hll_sketch_agg`) are a materializable
    * summary a lake keeps next to each partition; any rollup — here per
    * type across all days — is a UNION of the stored sketches, never a
    * rescan of the raw events. The control columns rebuild the same
    * estimate directly from the rows and count the exact distinct:
    * union-of-parts merges register state losslessly, but its ESTIMATE
    * can differ slightly from the direct build's: DataSketches scores a
    * single-pass sketch with the insertion-order-dependent HIP estimator
    * and a merged sketch with the composite estimator (HIP does not
    * survive a union). StatsOpsSpec asserts the two agree within 2% and
    * both sit within the HLL error band of the exact count.
    *
    * Declared rows-only: sketch binaries and estimates are
    * engine-specific (DuckDB's approx_count_distinct is a different
    * sketch). The identity and error-band checks live in the spec. */
  def hllRollup(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("user_id"))
    val daily = ev.groupBy("event_type", "day")
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
    val rolled = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
          .as("est_union"))
    val direct = ev.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12)))
        .as("est_direct"),
        countDistinct(col("user_id")).as("exact_users"))
    rolled.join(direct, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("est_union"),
        col("est_direct"), col("exact_users"),
        (floor(abs(col("est_union") - col("exact_users")).cast("double")
          / col("exact_users") * lit(1000000.0d) + lit(0.5d))
          / lit(10000.0d)).as("rel_err_pct"))
      .orderBy("event_type")
  }

  /** ORACLE-CHECKED error contract of [[hllRollup]] (same construction
    * as [[approxDistinctContract]]): the union-of-parts and direct
    * estimates each sit within 5% of the exact distinct, and the two
    * estimators agree within the 2% band StatsOpsSpec documents — all
    * three verdicts pinned TRUE by the oracle, with the exact side
    * (n_days, exact_users) recomputed in DuckDB. */
  def hllContract(s: SparkSession, dir: String): DataFrame =
    hllRollup(s, dir).select(
      col("event_type"), col("n_days"), col("exact_users"),
      (abs(col("est_union").cast("double") - col("exact_users"))
        / col("exact_users") <= 0.05d).as("union_in_band"),
      (abs(col("est_direct").cast("double") - col("exact_users"))
        / col("exact_users") <= 0.05d).as("direct_in_band"),
      (abs(col("est_union").cast("double") - col("est_direct"))
        / greatest(col("est_direct").cast("double"), lit(1.0d)) <= 0.02d)
        .as("merge_agrees"))
      .orderBy("event_type")

  private val hllContractSql =
    """SELECT event_type,
      |       CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
      |       count(DISTINCT user_id) AS exact_users,
      |       TRUE AS union_in_band, TRUE AS direct_in_band,
      |       TRUE AS merge_agrees
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** lead/lag: inter-event-time statistics per user — the offset-window
    * complement to frames (same single exchange on user_id). */
  def interEventTime(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    // Gaps in EXACT integer microseconds (events.ts has sub-second
    // micros, so cast-to-double gaps are fractional and their FP sum is
    // order-dependent — the r12 q_correlated class). Exact BIGINT sums,
    // then fixed divides: avg_sec·10⁴ = Σgap_µs/100/n.
    Tables.events(s, dir)
      .withColumn("us", expr("unix_micros(ts)"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .filter(col("gap").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"),
           (floor(sum("gap").cast("double") / lit(100.0d) / count(lit(1))
             + lit(0.5d)) / lit(10000.0d)).as("avg_gap_sec"),
           (floor(max("gap").cast("double") / lit(100.0d) + lit(0.5d))
             / lit(10000.0d)).as("max_gap_sec"))
      .orderBy("user_id")
  }

  private val interEventTimeSql =
    """WITH g AS (
      |  SELECT user_id,
      |         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |                                          ORDER BY ts, event_id) AS gap
      |  FROM events)
      |SELECT user_id, count(*) AS n_gaps,
      |       floor(sum(gap) / 100.0 / count(*) + 0.5) / 10000.0 AS avg_gap_sec,
      |       floor(max(gap) / 100.0 + 0.5) / 10000.0 AS max_gap_sec
      |FROM g WHERE gap IS NOT NULL
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** ntile: quartile-bucket customers by account balance, one row per
    * bucket — computed as a DISTRIBUTED exact rank, never a global window.
    *
    * A bare `ntile(4).over(Window.orderBy(...))` funnels every row through
    * one task's sort (the canonical window scale-killer). Instead:
    *   1. repartitionByRange on the total-order key (acctbal, custkey) —
    *      Spark's sampled range exchange, fully parallel;
    *   2. row_number per range partition (window partitioned by
    *      spark_partition_id — each window group is one data partition);
    *   3. global rank = per-partition offset + local row number, where the
    *      offsets come from a triangular self-join over the per-partition
    *      counts (≤ #partitions rows — cluster-bounded, not data-bounded);
    *   4. the exact ntile formula over (rank, N): with base = N div 4 and
    *      rem = N mod 4, buckets 1..rem hold base+1 rows, the rest base.
    * The custkey tiebreak makes the total order unique, so the result is
    * identical to the single-task window at every scale. */
  def balanceQuartiles(s: SparkSession, dir: String): DataFrame = {
    // the decomposition itself now lives in [[DistNtile.withNtile]] (the
    // fleet-standard helper q_lorenz and q_probe_calibration also use)
    DistNtile.withNtile(
        Tables.customer(s, dir).select(col("c_acctbal"), col("c_custkey")),
        4, Seq(col("c_acctbal").asc, col("c_custkey").asc), "q")
      .groupBy("q")
      .agg(count(lit(1)).as("n"),
           round(min("c_acctbal"), 4).as("min_bal"),
           round(max("c_acctbal"), 4).as("max_bal"))
      .orderBy("q")
  }

  private val balanceQuartilesSql =
    """WITH t AS (
      |  SELECT c_acctbal,
      |         ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS q
      |  FROM customer)
      |SELECT q, count(*) AS n,
      |       round(min(c_acctbal), 4) AS min_bal,
      |       round(max(c_acctbal), 4) AS max_bal
      |FROM t GROUP BY q ORDER BY q""".stripMargin

  /** Fuzzy matching: closest supplier-name pairs within Levenshtein
    * distance ≤ 2 — the classic entity-resolution primitive, BLOCKED so the
    * plan is an equi-join, never a cross product.
    *
    * Candidate generation is ADAPTIVE TWO-PATH, and lossless:
    *
    * Selective path — the ED-Join positional q-gram prefix filter (Xiao et
    * al., VLDB'08 — public algorithm): if edit(a,b) ≤ D, the two strings
    * share a positional q-gram (position shift ≤ D, length difference ≤ D)
    * among the qD+1 FIRST grams of each under any global total order on the
    * gram universe. The order that makes the blocking selective is
    * document-frequency order — RAREST grams first (round 2's lexicographic
    * order put the shared '#0'/'00' template grams of every TPC-H supplier
    * name in the prefix, so one bucket held the whole table). Grams with
    * df > HOT_GRAM_CAP are dropped from the join entirely, so every
    * remaining bucket is ≤ cap and the join is provably skew-free.
    *
    * Dense path — dropping hot grams can only lose pairs whose EVERY
    * shared prefix gram is hot; both such names have a hot gram in their
    * prefix. Those "hot" names (set H) are paired exhaustively instead,
    * via a balanced C×C upper-triangular chunk grid: each name hashes to a
    * chunk, each grid cell is one chunk-pair nested loop, so the quadratic
    * work — when the data forces it — spreads evenly over C(C+1)/2
    * reducers instead of one hot key. Proof of completeness: a dist-≤D
    * pair either shares a non-hot prefix gram (selective path finds it —
    * the theorem puts the gram in BOTH prefixes, and non-hot rows are
    * kept) or shares only hot prefix grams (both names land in H).
    *
    * Why adaptive matters: with high-entropy keys H is empty and the
    * operator is a pure O(n)-candidate blocked join. With templated
    * low-entropy keys (TPC-H names at sf0.1: 17 grams/name but only ~3
    * carry entropy, and ~27% of ALL pairs are true dist-≤2 matches) the
    * true-match set is itself Θ(n²/k), so NO lossless blocker can emit
    * o(n²) candidates — the only winnable fight is even distribution,
    * which the chunk grid provides. The per-gram df table is bounded by
    * the gram universe (≤|Σ|^q, corpus-independent), so it is collected
    * once and inlined as a map literal — bounded metadata, like the stats
    * that size a broadcast. At larger corpus scale,
    * q should grow with log_|Σ|(n) so gram entropy keeps up — q is a
    * parameter here for that reason.
    *
    * The guarantee needs len ≥ q(D+1); shorter strings (none in this
    * schema) fall back to a tiny length-banded block so completeness holds
    * unconditionally. The composition is LOSSLESS, so the DuckDB oracle
    * stays the simple all-pairs form — a full-strength completeness check
    * at every sf. CandidateGuardSpec asserts candidate cardinality is O(n)
    * on a templated-but-high-entropy fixture AND exact completeness on a
    * dense sequential fixture (a plan-node assertion alone cannot see a
    * degenerate join key — round-2 lesson). */
  // NOTE (r10, measured): qg=3 was tried per the log_|Σ|(n) comment —
  // min-of-4 at sf0.1: 2.89 s (median 3.22) vs qg=2's 2.65 s (median
  // 3.08). The 3-gram entropy gain on the templated names does not pay
  // for the longer qD+1 prefix (7 vs 5 grams exploded into the join).
  // qg=2 stays; grow q only when corpus growth actually raises gram df.
  //
  // NOTE (r11, measured): the VERIFY stage was the remaining floor — the
  // full-DP levenshtein() dominated the dense tier. Same-host min-of-4
  // at sf0.1: full DP 3.29 s; built-in banded levenshtein(na, nb, 2)
  // 2.62 s; bit-parallel [[graft.functions.MyersEdK]] `myers_ed` 1.71 s
  // (confirmed 1.69 on a second run) — kept. myers_ed returns the exact
  // distance when ≤ D else -1 (bit-identity vs the built-in threshold
  // form asserted in DotProductSpec), so `dist` values are unchanged and
  // the all-pairs DuckDB oracle still checks completeness at full
  // strength.
  def fuzzyNames(s: SparkSession, dir: String): DataFrame = {
    val D = 2; val qg = 2
    val sup = Tables.supplier(s, dir)
      .select(col("s_suppkey").as("k"), col("s_name").as("nm"))
      .withColumn("len", length(col("nm")))
    graft.functions.GraftFunctions.register(s)
    fuzzyCandidates(sup, D, qg)
      .select(col("ka"), col("kb"),
        expr(s"myers_ed(na, nb, $D)").cast("long").as("dist"))
      .filter(col("dist") >= 0)
      .orderBy(col("dist").asc, col("ka").asc, col("kb").asc)
      .limit(15)
  }

  /** Grams with corpus-wide occurrence count above this are useless as join
    * keys (a df-d bucket makes d²/2 pairs): they leave the selective gram
    * join and route their names through the balanced dense path instead. */
  private[graft] val HOT_GRAM_CAP = 64L

  /** Chunk-grid width for the dense path: quadratic work over the hot-name
    * set spreads across C(C+1)/2 ≈ 528 independent chunk-pair cells. */
  private val DENSE_CHUNKS = 32

  /** The inlined gram-df map is bounded metadata only while the gram
    * universe is small (|Σ|^q for ASCII q-grams). Above this many distinct
    * grams (a wide-alphabet/unicode corpus) the collect would be a
    * driver-side OOM risk, so the prefix selection falls back to a
    * broadcast JOIN against the df table — one extra exchange, same
    * semantics. The guard makes the documented universe-bounded claim
    * ENFORCED rather than assumed. */
  private[graft] val DF_MAP_CAP = 1 << 16

  /** Candidate pairs (ka < kb, with name columns na/nb) for edit-distance ≤ D
    * matching over a (k, nm, len) frame — the adaptive two-path block
    * described at [[fuzzyNames]]. Exposed so CandidateGuardSpec can bound
    * the candidate count on adversarial fixtures; `dfMapCap` is
    * overridable so the spec can force the wide-alphabet fallback on a
    * small fixture. */
  private[graft] def fuzzyCandidates(sup: DataFrame, D: Int, qg: Int,
                                     dfMapCap: Int = DF_MAP_CAP): DataFrame = {
    // (r14 audit: fanning the 1000-row name dimension and width-pinning
    // the gram self-join were both measured — 1.47 s → 1.57 s warm; the
    // extra repartition stages cost more than the single-split per-name
    // compute they parallelize. Left at the measured floor.)
    val pref = qg * D + 1
    val gramsExpr =
      s"""transform(sequence(1, greatest(len - 1, 1)),
         |  i -> struct(substring(nm, i, $qg) AS g, i AS p))""".stripMargin
    // Per-gram-text occurrence counts, collected once and inlined as a map
    // literal. The gram universe is ≤ |Σ|^q — corpus-INDEPENDENT — so this
    // is bounded metadata at any data scale (same footing as the eager
    // stats that size a broadcast or a salt map), and inlining it makes
    // every downstream branch a narrow scan: prefix selection runs inside
    // the scan's codegen stage with zero exchanges (no explode-shuffle, no
    // per-name window, and no per-branch recompute of the df aggregate —
    // a joined df table was rebuilt once per self-join branch). A
    // rarest-first order needs only a (df, g, p) lexicographic struct sort
    // within the row. Grams absent from the map cannot occur downstream
    // (it is built from the same frame); the MaxValue default just routes
    // any such row to the lossless dense path. The limit-probe collects at
    // most dfMapCap + 1 rows, so an unexpectedly wide gram universe can
    // never OOM the driver — it routes to the join fallback below instead.
    val dfAgg = sup
      .select(explode(expr(gramsExpr)).as("gp"))
      .groupBy(col("gp.g").as("g")).agg(count(lit(1)).as("df"))
    val dfHead = dfAgg.limit(dfMapCap + 1).collect()
    val scored =
      if (dfHead.length <= dfMapCap) {
        val dfmLit = typedLit(
          dfHead.map(r => r.getString(0) -> r.getLong(1)).toMap)
        sup.withColumn("pref", slice(array_sort(transform(expr(gramsExpr), x =>
          struct(
            coalesce(element_at(dfmLit, x.getField("g")), lit(Long.MaxValue))
              .as("df"),
            x.getField("g").as("g"), x.getField("p").as("p")))), 1, pref))
      } else {
        // wide-alphabet fallback: same (df, g, p) rarest-first prefix, but
        // df arrives by broadcast-joining the df table onto the exploded
        // grams and the prefix is rebuilt per name — one hash exchange on
        // the name key, no driver-side gram universe
        sup.select(col("k"), col("nm"), col("len"),
            explode(expr(gramsExpr)).as("gp"))
          .select(col("k"), col("nm"), col("len"),
            col("gp.g").as("g"), col("gp.p").as("p"))
          .join(broadcast(dfAgg), Seq("g"), "left")
          .withColumn("df", coalesce(col("df"), lit(Long.MaxValue)))
          .groupBy("k", "nm", "len")
          .agg(slice(array_sort(collect_list(
            struct(col("df"), col("g"), col("p")))), 1, pref).as("pref"))
      }
    // NOTE (r9, measured): localCheckpoint-pinning this frame for the
    // four join branches benches 3.2 → 3.7 s — the blocking
    // materialization job costs more than the branches' row-local
    // recomputes (gram transform + prefix sort are cheap per name).
    // The recompute-per-branch shape is the measured floor.
    val withHot = scored
      .withColumn("is_hot",
        exists(col("pref"), x => x.getField("df") > HOT_GRAM_CAP))
    // selective path: hot grams leave the join, so every bucket is ≤ cap
    val exKeep = withHot
      .select(col("k"), col("nm"), col("len"),
        explode(expr(s"filter(pref, x -> x.df <= $HOT_GRAM_CAP)")).as("x"))
      .select(col("k"), col("nm"), col("len"),
              col("x.g").as("g"), col("x.p").as("p"))
    val gramPairs = exKeep.as("a").join(exKeep.as("b"),
        col("a.g") === col("b.g") &&
        col("a.k") < col("b.k") &&
        abs(col("a.p") - col("b.p")) <= D &&
        abs(col("a.len") - col("b.len")) <= D)
      .select(col("a.k").as("ka"), col("b.k").as("kb"),
              col("a.nm").as("na"), col("b.nm").as("nb"))
    // dense path: names with a hot prefix gram pair exhaustively over a
    // balanced upper-triangular chunk grid (no single hot reducer);
    // is_hot is a row-local predicate, so membership costs no exchange
    val hc = withHot.filter(col("is_hot"))
      .select("k", "nm", "len")
      .withColumn("c", pmod(hash(col("k")), lit(DENSE_CHUNKS)))
    val cells = sup.sparkSession.range(DENSE_CHUNKS.toLong * DENSE_CHUNKS)
      .select((col("id") / DENSE_CHUNKS).cast("int").as("ci"),
              (col("id") % DENSE_CHUNKS).cast("int").as("cj"))
      .filter(col("ci") <= col("cj"))
    val densePairs = hc.as("a")
      .join(broadcast(cells), col("a.c") === col("ci"))
      .join(hc.as("b"),
        col("b.c") === col("cj") &&
        (col("ci") < col("cj") || col("a.k") < col("b.k")) &&
        abs(col("a.len") - col("b.len")) <= D)
      .select(
        least(struct(col("a.k"), col("a.nm")),
              struct(col("b.k"), col("b.nm"))).as("lo"),
        greatest(struct(col("a.k"), col("a.nm")),
                 struct(col("b.k"), col("b.nm"))).as("hi"))
      .select(col("lo.k").as("ka"), col("hi.k").as("kb"),
              col("lo.nm").as("na"), col("hi.nm").as("nb"))
    // completeness fallback: strings below the gram-guarantee length pair
    // within a single (empty here, always tiny) length-banded block
    val shorts = sup.filter(col("len") < qg * (D + 1) + D)
      .withColumn("blk", lit(1))
    val shortPairs = shorts.as("a").join(shorts.as("b"),
        col("a.blk") === col("b.blk") &&
        col("a.k") < col("b.k") &&
        (col("a.len") < qg * (D + 1) || col("b.len") < qg * (D + 1)) &&
        abs(col("a.len") - col("b.len")) <= D)
      .select(col("a.k").as("ka"), col("b.k").as("kb"),
              col("a.nm").as("na"), col("b.nm").as("nb"))
    gramPairs.union(densePairs).union(shortPairs).distinct()
  }

  private val fuzzyNamesSql =
    """SELECT ka, kb, dist FROM (
      |  SELECT a.s_suppkey AS ka, b.s_suppkey AS kb,
      |         CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS dist
      |  FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey)
      |WHERE dist <= 2
      |ORDER BY dist, ka, kb LIMIT 15""".stripMargin

  /** Statistical anomaly flagging: per-type z-scores on the event value
    * stream. Two aggregates: per-type moments first (a broadcast-sized
    * stats table — one row per event_type), then a broadcast join back
    * onto the stream to score every event in its scan stage. At 100 TB
    * this is the monitoring shape that works: the full-stream pass never
    * shuffles events, only re-reads them against broadcast stats. */
  def eventAnomaly(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    // Moments from EXACT integer cents (value is 2-decimal): avg/stddev
    // over raw doubles are summation-order-dependent (the r12
    // q_correlated class) and the resulting z can straddle the fix4
    // floor tie. s1/s2 sum exactly in decimal(38,0) in any order; mu and
    // sd are then fixed sequences of IEEE ops (divide, subtract,
    // correctly-rounded sqrt) — identical in both engines.
    val cents = floor(col("value") * lit(100.0d) + lit(0.5d))
    val stats = e.groupBy("event_type")
      .agg(count(lit(1)).as("sn"),
           sum(cents.cast("decimal(38,0)")).as("s1"),
           sum((cents * cents).cast("decimal(38,0)")).as("s2"))
      .select(col("event_type"),
        (col("s1").cast("double") / lit(100.0d) / col("sn")).as("mu"),
        // sn=1 guard (ADVICE r13): the inline moments give sn*(sn-1)=0
        // and sqrt(0/0)=NaN for a singleton group, where stddev_samp's
        // NULL excluded the group from z entirely; worse, Spark's
        // floor(NaN)=0 vs DuckDB's NaN propagation makes the divergence
        // cross-engine. NULL sd restores the stddev_samp contract.
        when(col("sn") > 1,
          sqrt((col("sn") * col("s2") - col("s1") * col("s1")).cast("double")
            / (col("sn") * (col("sn") - lit(1L))).cast("double"))
            / lit(100.0d)).otherwise(lit(null).cast("double")).as("sd"))
    e.join(broadcast(stats), "event_type")
      .withColumn("z", (col("value") - col("mu")) / col("sd"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(abs(col("z")) > 3, 1L).otherwise(0L)).as("n_anomalies"),
        Fmt.fix4(max(abs(col("z")))).as("max_abs_z"))
      .orderBy("event_type")
  }

  private val eventAnomalySql =
    """WITH stats AS (
      |  SELECT event_type, count(*) AS sn,
      |         sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS s1,
      |         sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)
      |             * CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS s2
      |  FROM events GROUP BY event_type),
      |m AS (
      |  SELECT event_type,
      |         CAST(s1 AS DOUBLE) / 100.0 / sn AS mu,
      |         CASE WHEN sn > 1 THEN
      |           sqrt(CAST(sn * s2 - s1 * s1 AS DOUBLE)
      |                / CAST(sn * (sn - 1) AS DOUBLE)) / 100.0
      |         ELSE NULL END AS sd
      |  FROM stats)
      |SELECT e.event_type AS event_type, count(*) AS n,
      |       CAST(sum(CASE WHEN abs((e.value - m.mu) / m.sd) > 3
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
      |       floor(max(abs((e.value - m.mu) / m.sd)) * 10000.0 + 0.5)
      |         / 10000.0 AS max_abs_z
      |FROM events e JOIN m ON e.event_type = m.event_type
      |GROUP BY e.event_type
      |ORDER BY event_type""".stripMargin

  /** FULL OUTER join — the reconciliation shape (which days had clicks
    * but no purchases, and vice versa). Both sides pre-aggregate to one
    * row per day BEFORE the join, so the outer join runs on two
    * day-cardinality inputs — the only sane full-outer at 100 TB (a raw
    * event⋈event outer join would shuffle the whole stream twice). */
  def fullOuterDays(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    def side(t: String, n: String) = e
      .filter(col("event_type") === t)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as(n))
    side("click", "n_clicks")
      .join(side("purchase", "n_purchases"), Seq("day"), "full_outer")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
        (col("n_clicks").isNull || col("n_purchases").isNull)
          .cast("int").as("one_sided"))
      .orderBy("day")
  }

  private val fullOuterDaysSql =
    """WITH c AS (
      |  SELECT CAST(ts AS DATE) AS day, count(*) AS n_clicks
      |  FROM events WHERE event_type = 'click' GROUP BY 1),
      |p AS (
      |  SELECT CAST(ts AS DATE) AS day, count(*) AS n_purchases
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
      |SELECT strftime(coalesce(c.day, p.day), '%Y-%m-%d') AS day,
      |       coalesce(c.n_clicks, 0) AS n_clicks,
      |       coalesce(p.n_purchases, 0) AS n_purchases,
      |       CAST(c.day IS NULL OR p.day IS NULL AS INT) AS one_sided
      |FROM c FULL OUTER JOIN p ON c.day = p.day
      |ORDER BY day""".stripMargin

  /** Time-series resample + forward fill: regularize each user's event
    * stream onto a daily calendar grid (that user's own span) and carry
    * the last observed daily total across gap days — the gap-repair step
    * before any longitudinal model. Scale shape: the grid explodes from
    * per-user (min, max) bounds (2 values/user, never the events), the
    * grid⋈daily join and the fill window both key by user_id — one
    * exchange, partitions bounded by a user's day span. */
  def resampleFfill(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(round(sum("value"), 4).as("v"))
    val grid = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
      .select(col("user_id"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "day"), "left")
      .withColumn("filled", last(col("v"), ignoreNulls = true).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_days"),
        sum(col("v").isNull.cast("long")).as("n_gap_days"),
        round(sum("filled"), 4).as("sum_filled"))
      .orderBy("user_id")
  }

  private val resampleFfillSql =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, round(sum(value), 4) AS v
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT user_id,
      |         CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
      |                                     CAST(d1 AS TIMESTAMP),
      |                                     INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM (SELECT user_id, min(CAST(ts AS DATE)) AS d0,
      |               max(CAST(ts AS DATE)) AS d1
      |        FROM events GROUP BY user_id)),
      |joined AS (
      |  SELECT g.user_id, g.day, d.v,
      |         last_value(d.v IGNORE NULLS) OVER (
      |           PARTITION BY g.user_id ORDER BY g.day
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      |  FROM grid g LEFT JOIN daily d
      |    ON g.user_id = d.user_id AND g.day = d.day)
      |SELECT user_id, count(*) AS n_days,
      |       CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_gap_days,
      |       round(sum(filled), 4) AS sum_filled
      |FROM joined GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Event-type transition matrix: per user, each event paired with its
    * next event (lead over (ts, event_id) — the offset window), then the
    * (from, to) pair counts and the per-from transition probability. The
    * Markov-chain summary behind "what do users do after X" product
    * questions. Scale: the only row-scale shuffle is the per-user window
    * hash exchange carrying (user_id, ts, event_id, event_type); the
    * probability window runs over the aggregated |types|² matrix — driver
    * metadata, not data. */
  def eventTransitions(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead("event_type", 1).over(byUser))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", Fmt.fix4(col("n") /
        sum("n").over(Window.partitionBy("from_type"))))
      .orderBy("from_type", "to_type")
  }

  private val eventTransitionsSql =
    """WITH nx AS (
      |  SELECT event_type AS from_type,
      |         lead(event_type) OVER (PARTITION BY user_id
      |                                ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |t AS (
      |  SELECT from_type, to_type, count(*) AS n
      |  FROM nx WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |       floor(n / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE)
      |             * 10000.0 + 0.5) / 10000.0 AS p
      |FROM t ORDER BY from_type, to_type""".stripMargin

  /** RANGE-frame trailing window: per event, the count and value sum of
    * the SAME USER's events in the trailing hour — a frame defined by a
    * VALUE interval on the ordering key, not a row count (ROWS frames are
    * [[runningTotal]]; gap-based grouping is sessionize; this is the
    * third frame mechanism). Ordering by epoch seconds makes the range
    * arithmetic integer-exact and identical in both engines. One per-user
    * hash exchange; state per partition is the sliding frame. */
  def trailingWindow(s: SparkSession, dir: String): DataFrame = {
    val byUserRange = Window.partitionBy("user_id")
      .orderBy(col("sec"))
      .rangeBetween(-3600L, Window.currentRow)
    Tables.events(s, dir)
      // whole seconds via integer µs floor-division on BOTH sides — a
      // timestamp cast would truncate in Spark while DuckDB's epoch()
      // yields fractional doubles, shifting range boundaries
      .select(col("event_id"), col("user_id"),
        expr("unix_micros(ts) div 1000000").as("sec"), col("value"))
      .withColumn("n_trailing_1h", count(lit(1)).over(byUserRange))
      .withColumn("sum_trailing_1h", round(sum("value").over(byUserRange), 4))
      .select(col("event_id"), col("user_id"), col("n_trailing_1h"),
        col("sum_trailing_1h"))
      .orderBy("event_id")
  }

  private val trailingWindowSql =
    """SELECT event_id, user_id,
      |       count(*) OVER w AS n_trailing_1h,
      |       round(sum(value) OVER w, 4) AS sum_trailing_1h
      |FROM (SELECT event_id, user_id, epoch_us(ts) // 1000000 AS sec, value
      |      FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY sec
      |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  /** Sequence-pattern mining: the top-10 most common 3-step event paths
    * (strictly consecutive per user, ordered by (ts, event_id)) — the
    * "what journeys do users actually take" summary that generalizes the
    * pairwise transition matrix. Two stacked lead() offsets in ONE window
    * pass build the trigrams row-locally after a single per-user hash
    * exchange; the path strings that shuffle afterwards are |types|³
    * aggregate keys, not events. */
  def eventPaths(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("e2", lead("event_type", 1).over(byUser))
      .withColumn("e3", lead("event_type", 2).over(byUser))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3"))
        .as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path").asc)
      .limit(10)
  }

  private val eventPathsSql =
    """WITH t AS (
      |  SELECT event_type AS e1,
      |         lead(event_type, 1) OVER w AS e2,
      |         lead(event_type, 2) OVER w AS e3
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT e1 || '>' || e2 || '>' || e3 AS path, count(*) AS n
      |FROM t WHERE e2 IS NOT NULL AND e3 IS NOT NULL
      |GROUP BY 1 ORDER BY n DESC, path LIMIT 10""".stripMargin

  /** Hopping (sliding) event-time window: 3-hour windows advancing every
    * hour, so each event lands in 3 overlapping slots — traffic smoothing
    * a tumbling window can't express (a burst straddling an hour boundary
    * splits across tumbles but stays whole in some hop). Spark assigns
    * slots inside the scan stage (`window(ts, len, slide)` explodes to
    * len/slide rows); the shuffle carries (slot, user_id, value) — the 3×
    * fan-out is narrow tuples, never the event row. Exact distinct users
    * per slot shuffles (slot, user) pairs. */
  def slidingWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "3 hours", "1 hour").as("w"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"),
        round(sum("value"), 4).as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("n_events"), col("n_users"), col("sum_value"))
      .orderBy("win_start")

  private val slidingWindowSql =
    """WITH slotted AS (
      |  SELECT strftime(date_trunc('hour', ts) - to_hours(k),
      |                  '%Y-%m-%d %H:%M:%S') AS win_start,
      |         user_id, value
      |  FROM events, (SELECT unnest(generate_series(0, 2)) AS k))
      |SELECT win_start, count(*) AS n_events,
      |       count(DISTINCT user_id) AS n_users,
      |       round(sum(value), 4) AS sum_value
      |FROM slotted GROUP BY win_start ORDER BY win_start""".stripMargin

  /** Last-touch attribution: each purchase is credited to the same
    * user's most recent STRICTLY-EARLIER non-purchase event — the
    * marketing-analytics twin of the as-of join, expressed as one
    * IGNORE NULLS window pass instead of a per-purchase range probe
    * (the naive formulation is a quadratic self-join).
    *
    * Scale shape: one scan, one user-keyed window (per-user event counts
    * are session-bounded, so no partition is corpus-sized), and the
    * output aggregate is |event types| rows. Determinism: the window
    * orders by (ts, event_id) — duplicate timestamps cannot reorder the
    * attribution — and first-touch ties are impossible by the unique
    * event_id tiebreak. */
  def attribution(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("touch",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("none")).as("attributed_type"))
      .agg(count(lit(1)).as("n_purchases"))
      .orderBy("attributed_type")
  }

  private val attributionSql =
    """WITH touched AS (
      |  SELECT event_type,
      |         last_value(CASE WHEN event_type <> 'purchase'
      |                         THEN event_type END IGNORE NULLS)
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |           AS touch
      |  FROM events)
      |SELECT coalesce(touch, 'none') AS attributed_type,
      |       count(*) AS n_purchases
      |FROM touched WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** A/B experiment analysis: users are assigned 50/50 to variants by the
    * SAME deterministic md5 discipline as the train/test split (assignment
    * must be reproducible across engines, runs, and layouts — df.sample
    * is none of those), conversion = "user made ≥ 14 purchases" (the
    * fixture's per-user median — every user purchases at least once, so
    * the binary "ever purchased" saturates at 100%), and the
    * readout is the two-proportion pooled z-statistic — the standard
    * experiment gate, computed inside the engine instead of exporting
    * counts to a notebook.
    *
    * Scale shape: one scan → per-user aggregate (user-keyed shuffle), then
    * a single-row conditional aggregate; the z arithmetic is a pure IEEE
    * expression over that 1 row, floor-rounded for portability. */
  def abTest(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(s, dir)
      .groupBy("user_id")
      .agg((sum((col("event_type") === "purchase").cast("long")) >= 14L)
        .cast("long").as("conv"))
      .withColumn("variant",
        when(substring(md5(col("user_id").cast("string")), 32, 1) < "8", "A")
          .otherwise("B"))
    users.agg(
        sum(when(col("variant") === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === "A", col("conv")).otherwise(0L)).as("conv_a"),
        sum(when(col("variant") === "B", 1L).otherwise(0L)).as("n_b"),
        sum(when(col("variant") === "B", col("conv")).otherwise(0L)).as("conv_b"))
      .withColumn("p_a", col("conv_a").cast("double") / col("n_a"))
      .withColumn("p_b", col("conv_b").cast("double") / col("n_b"))
      .withColumn("p_pool",
        (col("conv_a") + col("conv_b")).cast("double") / (col("n_a") + col("n_b")))
      .withColumn("z",
        (col("p_a") - col("p_b")) /
          sqrt(col("p_pool") * (lit(1.0d) - col("p_pool")) *
            (lit(1.0d) / col("n_a") + lit(1.0d) / col("n_b"))))
      .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        (floor(col("p_a") * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("rate_a"),
        (floor(col("p_b") * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("rate_b"),
        (floor(col("z") * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("z_stat"))
  }

  private val abTestSql =
    """WITH users AS (
      |  SELECT user_id,
      |         CASE WHEN sum(CASE WHEN event_type = 'purchase'
      |                           THEN 1 ELSE 0 END) >= 14
      |              THEN 1 ELSE 0 END AS conv,
      |         CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 32, 1) < '8'
      |              THEN 'A' ELSE 'B' END AS variant
      |  FROM events GROUP BY user_id),
      |agg AS (
      |  SELECT CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |         CAST(sum(CASE WHEN variant = 'A' THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
      |         CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |         CAST(sum(CASE WHEN variant = 'B' THEN conv ELSE 0 END) AS BIGINT) AS conv_b
      |  FROM users),
      |rates AS (
      |  SELECT *,
      |         CAST(conv_a AS DOUBLE) / n_a AS p_a,
      |         CAST(conv_b AS DOUBLE) / n_b AS p_b,
      |         CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS p_pool
      |  FROM agg)
      |SELECT n_a, conv_a, n_b, conv_b,
      |       floor(p_a * 10000.0 + 0.5) / 10000.0 AS rate_a,
      |       floor(p_b * 10000.0 + 0.5) / 10000.0 AS rate_b,
      |       floor((p_a - p_b) /
      |             sqrt(p_pool * (1.0 - p_pool) *
      |                  (1.0 / n_a + 1.0 / n_b)) * 10000.0 + 0.5) / 10000.0
      |         AS z_stat
      |FROM rates""".stripMargin

  /** Sample-ratio-mismatch guardrail for the A/B assignment — the FIRST
    * check an experimentation platform runs on every experiment: if the
    * realized split deviates from the designed 50/50 beyond chance, the
    * assignment pipeline is broken and every downstream readout is
    * invalid. χ² = (n_a−n_b)²/(n_a+n_b) against 1 df (flag at the
    * Bonferroni-ish 0.001 ⇒ χ² > 10.828, the platform convention —
    * SRM checks run on every metric so the gate is strict). Counts are
    * exact; χ² is one fixed IEEE sequence. */
  def srmCheck(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(s, dir)
      .select(col("user_id")).distinct()
      .select(when(substring(md5(col("user_id").cast("string")), 32, 1)
        < "8", 1L).otherwise(0L).as("is_a"))
    users.agg(
        sum(col("is_a")).as("n_a"),
        sum(lit(1L) - col("is_a")).as("n_b"))
      .select(col("n_a"), col("n_b"),
        (floor((col("n_a") - col("n_b")).cast("double")
          * (col("n_a") - col("n_b")).cast("double")
          / (col("n_a") + col("n_b")).cast("double")
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("chi2"),
        ((col("n_a") - col("n_b")).cast("double")
          * (col("n_a") - col("n_b")).cast("double")
          / (col("n_a") + col("n_b")).cast("double") > lit(10.828d))
          .as("srm_flag"))
  }

  private val srmCheckSql =
    """WITH u AS (
      |  SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 32, 1) < '8'
      |              THEN 1 ELSE 0 END AS is_a
      |  FROM (SELECT DISTINCT user_id FROM events)),
      |a AS (
      |  SELECT CAST(sum(is_a) AS BIGINT) AS n_a,
      |         CAST(sum(1 - is_a) AS BIGINT) AS n_b
      |  FROM u)
      |SELECT n_a, n_b,
      |       floor(CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
      |             / CAST(n_a + n_b AS DOUBLE) * 10000.0 + 0.5) / 10000.0
      |         AS chi2,
      |       CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE)
      |         / CAST(n_a + n_b AS DOUBLE) > 10.828 AS srm_flag
      |FROM a""".stripMargin

  /** Minimal detectable effect of the CURRENT experiment configuration —
    * the power-analysis row a platform shows before anyone reads a
    * p-value: with these sample sizes and this base rate, the smallest
    * true lift the test would catch at α = 0.05 / power = 0.8 is
    *   MDE = (z_{0.975} + z_{0.8}) · √(p̄(1−p̄)(1/n_a + 1/n_b)).
    * z constants are fixed literals (1.959964, 0.841621); the base rate
    * reuses the [[abTest]] conversion and assignment. Everything is one
    * fixed IEEE sequence over exact counts. */
  def powerMde(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(s, dir)
      .groupBy("user_id")
      .agg((sum((col("event_type") === "purchase").cast("long")) >= 14L)
        .cast("long").as("conv"))
      .withColumn("is_a",
        when(substring(md5(col("user_id").cast("string")), 32, 1) < "8",
          1L).otherwise(0L))
    users.agg(
        sum(col("is_a")).as("n_a"),
        sum(lit(1L) - col("is_a")).as("n_b"),
        sum(col("conv")).as("n_conv"),
        count(lit(1)).as("n"))
      .withColumn("p_bar", col("n_conv").cast("double") / col("n").cast("double"))
      .withColumn("mde",
        // the one literal 2.801585 (= z_{0.975} + z_{0.8}) spelled
        // identically in both engines — a Scala-side sum of the two z's
        // could differ from the parsed SQL literal by an ulp
        lit(2.801585d)
          * sqrt(col("p_bar") * (lit(1.0d) - col("p_bar"))
            * (lit(1.0d) / col("n_a").cast("double")
              + lit(1.0d) / col("n_b").cast("double"))))
      .select(col("n_a"), col("n_b"),
        (floor(col("p_bar") * lit(10000.0d) + lit(0.5d)) / lit(10000.0d))
          .as("base_rate"),
        (floor(col("mde") * lit(10000.0d) + lit(0.5d)) / lit(10000.0d))
          .as("mde_abs"),
        when(col("p_bar") > 0d,
          floor(col("mde") / col("p_bar") * lit(10000.0d) + lit(0.5d))
            / lit(10000.0d)).as("mde_rel"))
  }

  private val powerMdeSql =
    """WITH users AS (
      |  SELECT user_id,
      |         CASE WHEN sum(CASE WHEN event_type = 'purchase'
      |                           THEN 1 ELSE 0 END) >= 14
      |              THEN 1 ELSE 0 END AS conv,
      |         CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 32, 1) < '8'
      |              THEN 1 ELSE 0 END AS is_a
      |  FROM events GROUP BY user_id),
      |a AS (
      |  SELECT CAST(sum(is_a) AS BIGINT) AS n_a,
      |         CAST(sum(1 - is_a) AS BIGINT) AS n_b,
      |         CAST(sum(conv) AS BIGINT) AS n_conv,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM users),
      |m AS (
      |  SELECT *,
      |         CAST(n_conv AS DOUBLE) / CAST(n AS DOUBLE) AS p_bar
      |  FROM a),
      |m2 AS (
      |  SELECT *,
      |         2.801585 * sqrt(p_bar * (1.0 - p_bar)
      |                         * (1.0 / CAST(n_a AS DOUBLE)
      |                            + 1.0 / CAST(n_b AS DOUBLE))) AS mde
      |  FROM m)
      |SELECT n_a, n_b,
      |       floor(p_bar * 10000.0 + 0.5) / 10000.0 AS base_rate,
      |       floor(mde * 10000.0 + 0.5) / 10000.0 AS mde_abs,
      |       CASE WHEN p_bar > 0 THEN
      |         floor(mde / p_bar * 10000.0 + 0.5) / 10000.0
      |       END AS mde_rel
      |FROM m2""".stripMargin

  /** CUPED variance reduction for the A/B readout — the technique that
    * makes most production experiments ship weeks earlier: regress the
    * post-period metric on each user's PRE-period activity (which the
    * treatment cannot have caused) and test the residual. θ =
    * cov(X,Y)/var(X) over the pooled users; adjusted effect =
    * (Ȳ_B−Ȳ_A) − θ(X̄_B−X̄_A); variance reduction = ρ²(X,Y).
    *
    * Pre/post split at the fixture's calendar midpoint (min_day +
    * (span+1) div 2, exact integers from a 1-row census broadcast);
    * assignment by the [[abTest]] md5 discipline. Exactness: X and Y
    * are counts, every sufficient statistic (N, Σx, Σy, Σx², Σxy, Σy²,
    * per-variant n/Σx/Σy) is one conditional-aggregate row of
    * DECIMAL(38,0) sums, and θ/effects/ρ² are one fixed IEEE sequence
    * over that row ([[Inference.welchTtestOn]] discipline). A
    * zero-variance pre-period yields NULL, not a divide error. */
  def cuped(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("bigint").as("d"))
    val cal = ev.agg(min("d").as("d_lo"), max("d").as("d_hi"))
      .select((col("d_lo")
        + expr("(d_hi - d_lo + 1) div 2")).as("d_mid"))
    cupedOn(ev.crossJoin(broadcast(cal))
      .groupBy("user_id")
      .agg(sum(when(col("d") < col("d_mid"), 1L).otherwise(0L)).as("x"),
        sum(when(col("d") >= col("d_mid"), 1L).otherwise(0L)).as("y")))
  }

  /** [[cuped]] core over an explicit per-user (user_id, x, y) frame —
    * the planted-semantics seam; assignment happens here so planted
    * fixtures go through the real md5 rule. */
  private[graft] def cupedOn(perUser: DataFrame): DataFrame = {
    val users = perUser
      .withColumn("variant",
        when(substring(md5(col("user_id").cast("string")), 32, 1) < "8",
          "A").otherwise("B"))
    def ds(c: Column) = sum(c.cast("decimal(38,0)"))
    val w = users.agg(
      count(lit(1)).as("n"),
      ds(col("x")).as("sx"), ds(col("y")).as("sy"),
      ds(col("x") * col("x")).as("sxx"),
      ds(col("x") * col("y")).as("sxy"),
      ds(col("y") * col("y")).as("syy"),
      sum(when(col("variant") === "A", 1L).otherwise(0L)).as("n_a"),
      ds(when(col("variant") === "A", col("x")).otherwise(lit(0L)))
        .as("sx_a"),
      ds(when(col("variant") === "A", col("y")).otherwise(lit(0L)))
        .as("sy_a"),
      sum(when(col("variant") === "B", 1L).otherwise(0L)).as("n_b"),
      ds(when(col("variant") === "B", col("x")).otherwise(lit(0L)))
        .as("sx_b"),
      ds(when(col("variant") === "B", col("y")).otherwise(lit(0L)))
        .as("sy_b"))
    def d(c: String) = col(c).cast("double")
    w
      .withColumn("vx", d("n") * d("sxx") - d("sx") * d("sx"))
      .withColumn("vy", d("n") * d("syy") - d("sy") * d("sy"))
      .withColumn("cxy", d("n") * d("sxy") - d("sx") * d("sy"))
      .withColumn("theta",
        when(col("vx") > 0d, col("cxy") / col("vx")))
      .withColumn("diff_raw",
        d("sy_b") / d("n_b") - d("sy_a") / d("n_a"))
      .select(
        col("n_a").cast("bigint").as("n_a"),
        col("n_b").cast("bigint").as("n_b"),
        fix4(col("diff_raw")).as("diff_raw"),
        fix4(col("theta")).as("theta"),
        fix4(col("diff_raw") - col("theta")
          * (d("sx_b") / d("n_b") - d("sx_a") / d("n_a"))).as("diff_cuped"),
        when(col("vx") > 0d && col("vy") > 0d,
          fix4(col("cxy") * col("cxy") / (col("vx") * col("vy"))))
          .as("var_reduction"))
  }

  private val cupedSql =
    """WITH ev AS (
      |  SELECT user_id,
      |         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
      |  FROM events),
      |cal AS (
      |  SELECT min(d) + (max(d) - min(d) + 1) // 2 AS d_mid FROM ev),
      |users AS (
      |  SELECT user_id,
      |         CAST(sum(CASE WHEN d < d_mid THEN 1 ELSE 0 END) AS BIGINT)
      |           AS x,
      |         CAST(sum(CASE WHEN d >= d_mid THEN 1 ELSE 0 END) AS BIGINT)
      |           AS y,
      |         CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 32, 1) < '8'
      |              THEN 'A' ELSE 'B' END AS variant
      |  FROM ev CROSS JOIN cal GROUP BY user_id),
      |w AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
      |         CAST(sum(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
      |         CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0))
      |           AS sxx,
      |         CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0))
      |           AS sxy,
      |         CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0))
      |           AS syy,
      |         CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END)
      |              AS BIGINT) AS n_a,
      |         CAST(sum(CASE WHEN variant = 'A'
      |                  THEN CAST(x AS DECIMAL(38,0)) ELSE 0 END)
      |              AS DECIMAL(38,0)) AS sx_a,
      |         CAST(sum(CASE WHEN variant = 'A'
      |                  THEN CAST(y AS DECIMAL(38,0)) ELSE 0 END)
      |              AS DECIMAL(38,0)) AS sy_a,
      |         CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END)
      |              AS BIGINT) AS n_b,
      |         CAST(sum(CASE WHEN variant = 'B'
      |                  THEN CAST(x AS DECIMAL(38,0)) ELSE 0 END)
      |              AS DECIMAL(38,0)) AS sx_b,
      |         CAST(sum(CASE WHEN variant = 'B'
      |                  THEN CAST(y AS DECIMAL(38,0)) ELSE 0 END)
      |              AS DECIMAL(38,0)) AS sy_b
      |  FROM users),
      |v AS (
      |  SELECT *,
      |         CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
      |         CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy,
      |         CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cxy,
      |         CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)
      |           - CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS diff_raw
      |  FROM w)
      |SELECT n_a, n_b,
      |       floor(diff_raw * 10000.0 + 0.5) / 10000.0 AS diff_raw,
      |       CASE WHEN vx > 0 THEN
      |         floor(cxy / vx * 10000.0 + 0.5) / 10000.0 END AS theta,
      |       CASE WHEN vx > 0 THEN
      |         floor((diff_raw - (cxy / vx)
      |                * (CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE)
      |                   - CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE)))
      |               * 10000.0 + 0.5) / 10000.0 END AS diff_cuped,
      |       CASE WHEN vx > 0 AND vy > 0 THEN
      |         floor(cxy * cxy / (vx * vy) * 10000.0 + 0.5) / 10000.0
      |       END AS var_reduction
      |FROM v""".stripMargin

  /** RFM customer segmentation — recency / frequency / monetary quartile
    * scores per customer, reported as the segment census (the
    * marketing-warehouse classic). Monetary sums are fixed to integer
    * CENTS before aggregation (exact, merge-order-independent — a raw
    * double sum is neither); quartile boundaries are exact percentiles
    * over the customer aggregate, broadcast as one row; each score is an
    * in-scan "count of boundaries strictly below" array probe — the
    * same scale shape as [[Profiling.equidepthHist]], with NO global
    * ntile window (a window over all customers single-partitions at
    * scale; a boundary broadcast does not). */
  def rfm(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.orders(s, dir)
      .select(col("o_custkey"),
        datediff(to_date(date_trunc("DAY", col("o_orderdate"))),
          lit("1970-01-01").cast("date")).cast("bigint").as("d"),
        floor(col("o_totalprice") * lit(100.0d) + lit(0.5d)).cast("bigint")
          .as("cents"))
      .groupBy("o_custkey")
      .agg(max("d").as("rec"), count(lit(1)).as("freq"),
        sum("cents").as("mon"))
      .cache() // feeds the boundary aggregate AND the scoring pass
    val bounds = cust.agg(
      expr("percentile(rec, array(0.25D, 0.5D, 0.75D))").as("rb"),
      expr("percentile(freq, array(0.25D, 0.5D, 0.75D))").as("fb"),
      expr("percentile(mon, array(0.25D, 0.5D, 0.75D))").as("mb"))
    def score(v: String, b: String) =
      expr(s"1 + size(filter($b, x -> $v > x))")
    cust.join(broadcast(bounds))
      .select(score("rec", "rb").cast("long").as("r"),
        score("freq", "fb").cast("long").as("f"),
        score("mon", "mb").cast("long").as("m"), col("mon"))
      .groupBy("r", "f", "m")
      .agg(count(lit(1)).as("n_customers"),
        (floor(sum("mon").cast("double") / count(lit(1)) / lit(100.0d)
          * lit(100.0d) + lit(0.5d)) / lit(100.0d)).as("avg_spend"))
      .orderBy("r", "f", "m")
  }

  private val rfmSql =
    """WITH cust AS (
      |  SELECT o_custkey,
      |         max(CAST(CAST(date_trunc('day', o_orderdate) AS DATE)
      |                  - DATE '1970-01-01' AS BIGINT)) AS rec,
      |         count(*) AS freq,
      |         CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
      |              AS BIGINT) AS mon
      |  FROM orders GROUP BY 1),
      |b AS (
      |  SELECT quantile_cont(rec, [0.25, 0.5, 0.75]) AS rb,
      |         quantile_cont(freq, [0.25, 0.5, 0.75]) AS fb,
      |         quantile_cont(mon, [0.25, 0.5, 0.75]) AS mb
      |  FROM cust),
      |scored AS (
      |  SELECT 1 + len(list_filter(rb, x -> rec > x)) AS r,
      |         1 + len(list_filter(fb, x -> freq > x)) AS f,
      |         1 + len(list_filter(mb, x -> mon > x)) AS m,
      |         mon
      |  FROM cust, b)
      |SELECT r, f, m, count(*) AS n_customers,
      |       floor(CAST(sum(mon) AS DOUBLE) / count(*) / 100.0 * 100.0 + 0.5)
      |         / 100.0 AS avg_spend
      |FROM scored GROUP BY r, f, m ORDER BY r, f, m""".stripMargin

  /** Daily user-growth census: active / NEW / returning users per day
    * plus the cumulative user count — the growth-accounting decomposition
    * (every active user is exactly one of new-or-returning) behind any
    * product dashboard.
    *
    * Scale shape: the event stream collapses to distinct (user, day) on
    * one user-keyed exchange; a per-user unbounded window tags each row
    * with its user's first day, and ONE groupBy(day) folds the active
    * and new censuses together (no cache, no census⋈first-seen join —
    * see the r14 note in the body). Everything downstream is day- or
    * user-keyed aggregate cardinality. The running total's global window
    * orders the per-DAY frame — cardinality = calendar days, bounded
    * regardless of corpus size, so the single-partition window is safe
    * by construction. */
  def userGrowth(s: SparkSession, dir: String): DataFrame = {
    // ONE consumption of the distinct (user, day) frame (r14): the old
    // two-branch shape (daily census ⋈ first-seen aggregate) cached ud
    // and let both branches race its first materialization — profiled as
    // two concurrent ~750 ms stages each re-reading the scan. Tagging
    // each row with its user's first day via an unbounded per-user
    // window folds both censuses into one groupBy(day) pass, no cache,
    // no join (controlled 8-pass min at sf0.1: 1.01 s → 0.50 s; a later
    // same-session 5-pass re-check read 0.62 s — host band. Oracle
    // unchanged).
    // repartition(user_id) BEFORE the distinct: hash(user) satisfies
    // ClusteredDistribution on the (user, day) superset, so the
    // distinct, the per-user window, and the first-day tag all ride ONE
    // exchange (the PageRank build precedent).
    val ud = Tables.events(s, dir)
      .select(col("user_id"), to_date(date_trunc("DAY", col("ts"))).as("day"))
      .repartition(col("user_id"))
      .distinct()
    val census = ud
      .withColumn("first_day", min("day").over(Window.partitionBy("user_id")))
      .groupBy("day")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
          .as("n_new"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    census
      .select(col("day"), col("n_active"), col("n_new"),
        (col("n_active") - col("n_new")).as("n_returning"))
      .withColumn("cum_users", sum("n_new").over(w))
      .orderBy("day")
  }

  private val userGrowthSql =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      |  FROM events),
      |daily AS (SELECT day, count(*) AS n_active FROM ud GROUP BY 1),
      |news AS (
      |  SELECT day, count(*) AS n_new FROM (
      |    SELECT user_id, min(day) AS day FROM ud GROUP BY 1)
      |  GROUP BY 1)
      |SELECT d.day, d.n_active,
      |       coalesce(n.n_new, 0) AS n_new,
      |       d.n_active - coalesce(n.n_new, 0) AS n_returning,
      |       CAST(sum(coalesce(n.n_new, 0)) OVER (ORDER BY d.day
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |         AS cum_users
      |FROM daily d LEFT JOIN news n ON d.day = n.day
      |ORDER BY d.day""".stripMargin

  /** SCD TYPE-2 dimension build: collapse each user's daily activity
    * tier into validity intervals — one row per (user, unbroken tier
    * run) with valid_from / valid_to bounds — the slowly-changing-
    * dimension structure every warehouse maintains for point-in-time
    * joins, derived here from raw events (the history the reference's
    * overwrite-only loads throw away, `job1:295-335`). A tier change on
    * the next observed day closes the interval and opens a new one;
    * reported as a per-tier census (interval counts, calendar span vs
    * observed-day counts — the spread between them is the gap census).
    *
    * Scale shape: the raw stream collapses to (user, day) inside the
    * scan's partial aggregate; both window passes ride ONE hash exchange
    * on user_id (the sessionize discipline) with day as a unique
    * in-partition order key; intervals then aggregate by (user, run).
    * No window partition ever holds more than one user's days. */
  def scd2(s: SparkSession, dir: String): DataFrame = {
    val byUserDay = Window.partitionBy("user_id").orderBy(col("day").asc)
    val runs = Tables.events(s, dir)
      .groupBy(col("user_id"), to_date(date_trunc("DAY", col("ts"))).as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("tier",
        when(col("n") >= 10, "high").when(col("n") >= 5, "mid")
          .otherwise("low"))
      .withColumn("is_new",
        when(lag("tier", 1).over(byUserDay).isNull ||
          lag("tier", 1).over(byUserDay) =!= col("tier"), 1L).otherwise(0L))
      .withColumn("run",
        sum("is_new").over(byUserDay.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
    runs.groupBy("user_id", "run")
      .agg(min("tier").as("tier"), min("day").as("valid_from"),
        max("day").as("valid_to"), count(lit(1)).as("n_days"))
      .groupBy("tier")
      .agg(count(lit(1)).as("n_intervals"),
        Fmt.fix4(avg(datediff(col("valid_to"), col("valid_from")) + 1))
          .as("avg_span_days"),
        max(datediff(col("valid_to"), col("valid_from")) + 1).cast("long")
          .as("max_span_days"),
        Fmt.fix4(avg("n_days")).as("avg_active_days"))
      .orderBy("tier")
  }

  private val scd2Sql =
    """WITH daily AS (
      |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
      |         count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |tiers AS (
      |  SELECT user_id, day,
      |         CASE WHEN n >= 10 THEN 'high'
      |              WHEN n >= 5 THEN 'mid' ELSE 'low' END AS tier
      |  FROM daily),
      |marked AS (
      |  SELECT user_id, day, tier,
      |         CASE WHEN lag(tier) OVER w IS NULL OR lag(tier) OVER w <> tier
      |              THEN 1 ELSE 0 END AS is_new
      |  FROM tiers WINDOW w AS (PARTITION BY user_id ORDER BY day)),
      |runs AS (
      |  SELECT user_id, day, tier,
      |         sum(is_new) OVER (PARTITION BY user_id ORDER BY day
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      |  FROM marked),
      |iv AS (
      |  SELECT user_id, run, min(tier) AS tier, min(day) AS valid_from,
      |         max(day) AS valid_to, count(*) AS n_days
      |  FROM runs GROUP BY 1, 2)
      |SELECT tier, count(*) AS n_intervals,
      |       floor(avg(valid_to - valid_from + 1) * 10000.0 + 0.5) / 10000.0 AS avg_span_days,
      |       CAST(max(valid_to - valid_from + 1) AS BIGINT) AS max_span_days,
      |       floor(avg(n_days) * 10000.0 + 0.5) / 10000.0 AS avg_active_days
      |FROM iv GROUP BY tier ORDER BY tier""".stripMargin

  /** Chi-squared independence test of event_type × experiment variant —
    * the categorical complement of [[abTest]]'s two-proportion z: did the
    * deterministic split actually randomize behavior, or does some event
    * type skew into one arm (the sanity check run BEFORE trusting any A/B
    * readout). Expected cell counts come from the margins
    * (e = row·col / n); the per-cell (o−e)²/e terms sum to the χ²
    * statistic (here reported per cell so the skewed cell is visible,
    * not just the aggregate).
    *
    * Scale shape: one scan collapsing to |types|×2 cells inside the
    * partial aggregate; margins derive from the cached cell table (no
    * second scan); the 1-row grand total broadcasts. Expected counts and
    * χ² terms are single IEEE expressions over exact BIGINT counts —
    * floor-rounded, engine-identical. */
  def chiSquared(s: SparkSession, dir: String): DataFrame = {
    // cells feed the margins, the grand total, and the output join —
    // cache the tiny aggregate so the event scan runs once
    val cells = Tables.events(s, dir)
      .select(col("event_type"),
        when(substring(md5(col("user_id").cast("string")), 32, 1) < "8", "A")
          .otherwise("B").as("variant"))
      .groupBy("event_type", "variant").agg(count(lit(1)).as("n_obs"))
      .cache()
    val rowTot = cells.groupBy("event_type").agg(sum("n_obs").as("n_row"))
    val colTot = cells.groupBy("variant").agg(sum("n_obs").as("n_col"))
    val grand = cells.agg(sum("n_obs").as("n_all"))
    cells.join(rowTot, "event_type").join(colTot, "variant")
      .join(broadcast(grand))
      .withColumn("e",
        col("n_row") * col("n_col") / col("n_all").cast("double"))
      .select(col("event_type"), col("variant"), col("n_obs"),
        (floor(col("e") * lit(10000.0d) + lit(0.5d)) / lit(10000.0d))
          .as("expected"),
        (floor((col("n_obs") - col("e")) * (col("n_obs") - col("e"))
          / col("e") * lit(1000000.0d) + lit(0.5d)) / lit(1000000.0d))
          .as("chi_term"))
      .orderBy("event_type", "variant")
  }

  private val chiSquaredSql =
    """WITH ev AS (
      |  SELECT event_type,
      |         CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 32, 1) < '8'
      |              THEN 'A' ELSE 'B' END AS variant
      |  FROM events),
      |cells AS (
      |  SELECT event_type, variant, count(*) AS n_obs FROM ev GROUP BY 1, 2),
      |rt AS (SELECT event_type, CAST(sum(n_obs) AS BIGINT) AS n_row
      |       FROM cells GROUP BY 1),
      |ct AS (SELECT variant, CAST(sum(n_obs) AS BIGINT) AS n_col
      |       FROM cells GROUP BY 1),
      |g AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_all FROM cells),
      |ex AS (
      |  SELECT c.event_type, c.variant, c.n_obs,
      |         rt.n_row * ct.n_col / CAST(g.n_all AS DOUBLE) AS e
      |  FROM cells c
      |  JOIN rt ON c.event_type = rt.event_type
      |  JOIN ct ON c.variant = ct.variant
      |  CROSS JOIN g)
      |SELECT event_type, variant, n_obs,
      |       floor(e * 10000.0 + 0.5) / 10000.0 AS expected,
      |       floor((n_obs - e) * (n_obs - e) / e * 1000000.0 + 0.5)
      |         / 1000000.0 AS chi_term
      |FROM ex ORDER BY event_type, variant""".stripMargin

  /** Event-type co-occurrence (market-basket association over the user
    * dimension): for every unordered pair of event types, how many users
    * performed both, with support and lift — the "users who X also Y"
    * analysis. Lift > 1 means the pair co-occurs above independence.
    *
    * Scale shape: the unit of work is the DISTINCT (user, type) pair —
    * the raw stream collapses inside the scan's partial aggregate; the
    * self-join key is user_id and fans out at most C(|types|, 2) = 10
    * rows per user. All shuffled rows are (user_id, small-string) tuples.
    * Lift = n·both / (a·b) is one IEEE expression, floor-rounded. */
  def cooccurrence(s: SparkSession, dir: String): DataFrame = {
    // the distinct (user, type) set feeds three consumers plus the user
    // census — one EAGER materialization (r15: localCheckpoint, not
    // cache + a separate blocking count: the lazy cache was raced by the
    // self-join's two readers, and the user census ran as its own serial
    // driver job BEFORE the main plan; it now rides in the plan as a
    // broadcast branch over the pinned blocks — same exact integer, one
    // job instead of two). The census's countDistinct excludes NULL
    // user_ids, matching SQL COUNT(DISTINCT) in the oracle.
    val ut = Tables.events(s, dir)
      .select("user_id", "event_type").distinct()
      .localCheckpoint()
    val nUsers = ut.agg(countDistinct("user_id").as("n_users"))
    val perType = ut.groupBy("event_type").agg(count(lit(1)).as("n"))
    val pairs = ut.as("x").join(ut.as("y"),
        col("x.user_id") === col("y.user_id") &&
          col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"),
        col("y.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(perType.select(col("event_type").as("type_a"),
        col("n").as("n_a")), "type_a")
      .join(perType.select(col("event_type").as("type_b"),
        col("n").as("n_b")), "type_b")
      .crossJoin(broadcast(nUsers))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"),
        (floor(col("n_both") * col("n_users").cast("double") /
          (col("n_a") * col("n_b")).cast("double")
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("lift"))
      .orderBy("type_a", "type_b")
  }

  private val cooccurrenceSql =
    """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
      |n AS (SELECT count(DISTINCT user_id) AS n_users FROM events),
      |per_type AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
      |pairs AS (
      |  SELECT x.event_type AS type_a, y.event_type AS type_b,
      |         count(*) AS n_both
      |  FROM ut x JOIN ut y
      |    ON x.user_id = y.user_id AND x.event_type < y.event_type
      |  GROUP BY 1, 2)
      |SELECT p.type_a, p.type_b, a.n AS n_a, b.n AS n_b, p.n_both,
      |       floor(p.n_both * CAST(n.n_users AS DOUBLE)
      |             / CAST(a.n * b.n AS DOUBLE)
      |             * 10000.0 + 0.5) / 10000.0 AS lift
      |FROM pairs p
      |JOIN per_type a ON p.type_a = a.event_type
      |JOIN per_type b ON p.type_b = b.event_type
      |CROSS JOIN n
      |ORDER BY type_a, type_b""".stripMargin

  /** UNPIVOT / melt — the wide→long reshape dual of
    * [[JoinsPlus.pivotDaily]]: a
    * per-returnflag measure block (quantity, price, line count) turns
    * into one (flag, measure, val) row per cell via `stack`, Spark's
    * generator-based unpivot (codegen'd, no shuffle beyond the tiny
    * aggregate that feeds it). Measures are summed in exact integer
    * cents first (the corpus-scan aggregation is order-independent
    * BIGINT, per the FP discipline) and only the 15-row reshaped frame
    * converts to doubles. The oracle spells the same reshape as the
    * ANSI UNION ALL every engine agrees on. */
  def unpivotMeasures(s: SparkSession, dir: String): DataFrame = {
    val wide = Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        sum(expr("CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)"))
          .as("qty_c"),
        sum(expr("CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)"))
          .as("price_c"),
        count(lit(1)).as("cnt"))
    wide.select(col("l_returnflag"), expr(
      """stack(3,
        |  'cnt',   CAST(cnt AS DOUBLE),
        |  'price', CAST(price_c AS DOUBLE) / 100.0,
        |  'qty',   CAST(qty_c AS DOUBLE) / 100.0) AS (measure, val)"""
        .stripMargin))
      .orderBy("l_returnflag", "measure")
  }

  private val unpivotMeasuresSql =
    """WITH w AS (
      |  SELECT l_returnflag,
      |         CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT))
      |           AS BIGINT) AS qty_c,
      |         CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5)
      |           AS BIGINT)) AS BIGINT) AS price_c,
      |         CAST(count(*) AS BIGINT) AS cnt
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, measure, val FROM (
      |  SELECT l_returnflag, 'cnt' AS measure, CAST(cnt AS DOUBLE) AS val
      |  FROM w
      |  UNION ALL
      |  SELECT l_returnflag, 'price', CAST(price_c AS DOUBLE) / 100.0
      |  FROM w
      |  UNION ALL
      |  SELECT l_returnflag, 'qty', CAST(qty_c AS DOUBLE) / 100.0 FROM w)
      |ORDER BY l_returnflag, measure""".stripMargin

  /** MATCH_RECOGNIZE-style path-pattern census: each 30-min-gap session
    * becomes a character string (one char per event, ordered by time)
    * and regex patterns classify sessions — "viewed then purchased",
    * "signup-led", "repeated errors", "browse-only". This is the
    * row-pattern-matching capability SQL spells MATCH_RECOGNIZE,
    * re-expressed as sessionize → string-fold → regex, which Catalyst
    * keeps fully codegen'd (vs a per-row NFA UDF). Patterns use only
    * anchors/classes/quantifiers shared by Java regex and RE2, so the
    * oracle replays them verbatim.
    *
    * Scale posture: the shuffle carries (user, ts, event_id, 1 char);
    * per-session strings are session-bounded (the gap rule keeps them
    * small on any human-scale stream — same exposure as q_sessionize).
    * The census is ONE aggregate row (conditional sums) reshaped by
    * `stack` — patterns don't re-scan. */
  def pathRegex(s: SparkSession, dir: String): DataFrame =
    pathRegexOn(Tables.events(s, dir))

  /** Path-pattern core over an (user_id, event_id, ts, event_type)
    * frame. */
  private[graft] def pathRegexOn(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val ev = events
      .withColumn("sec", col("ts").cast("double"))
      .withColumn("prev_sec", lag("sec", 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_sec").isNull || col("sec") - col("prev_sec") > 1800d,
          1L).otherwise(0L))
      .withColumn("session_id",
        sum("is_new").over(byUser.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .withColumn("c", substring(col("event_type"), 1, 1))
    val paths = ev.groupBy("user_id", "session_id")
      .agg(expr("concat_ws('', transform(array_sort(" +
        "collect_list(struct(sec, event_id, c))), x -> x.c))").as("path"))
    val wide = paths.agg(
      count(lit(1)).as("n_sessions"),
      sum(when(col("path").rlike("v.*p"), 1L).otherwise(0L)).as("m_vp"),
      sum(when(col("path").rlike("^s"), 1L).otherwise(0L)).as("m_signup"),
      sum(when(col("path").rlike("ee"), 1L).otherwise(0L)).as("m_errs"),
      sum(when(col("path").rlike("^[vc]+$"), 1L).otherwise(0L)).as("m_browse"))
    wide.select(expr(
      """stack(4,
        |  'browse_only[^[vc]+$]',        m_browse,
        |  'error_pair[ee]',              m_errs,
        |  'signup_start[^s]',            m_signup,
        |  'view_then_purchase[v.*p]',    m_vp) AS (pattern, n_matched)"""
        .stripMargin), col("n_sessions"))
      .select(col("pattern"), col("n_sessions"), col("n_matched"),
        (floor(col("n_matched").cast("double")
          / col("n_sessions").cast("double") * lit(10000.0d) + lit(0.5d))
          / lit(10000.0d)).as("share"))
      .orderBy("pattern")
  }

  private val pathRegexSql =
    """WITH marked AS (
      |  SELECT user_id, event_id, epoch(ts) AS sec,
      |         substr(event_type, 1, 1) AS c,
      |         CASE WHEN lag(epoch(ts)) OVER w IS NULL
      |                   OR epoch(ts) - lag(epoch(ts)) OVER w > 1800
      |              THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, sec, event_id, c,
      |         sum(is_new) OVER (PARTITION BY user_id ORDER BY sec, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           AS session_id
      |  FROM marked),
      |paths AS (
      |  SELECT user_id, session_id,
      |         string_agg(c, '' ORDER BY sec, event_id) AS path
      |  FROM sess GROUP BY user_id, session_id),
      |wide AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_sessions,
      |         CAST(sum(CASE WHEN regexp_matches(path, 'v.*p')
      |           THEN 1 ELSE 0 END) AS BIGINT) AS m_vp,
      |         CAST(sum(CASE WHEN regexp_matches(path, '^s')
      |           THEN 1 ELSE 0 END) AS BIGINT) AS m_signup,
      |         CAST(sum(CASE WHEN regexp_matches(path, 'ee')
      |           THEN 1 ELSE 0 END) AS BIGINT) AS m_errs,
      |         CAST(sum(CASE WHEN regexp_matches(path, '^[vc]+$')
      |           THEN 1 ELSE 0 END) AS BIGINT) AS m_browse
      |  FROM paths)
      |SELECT pattern, n_sessions, n_matched,
      |       floor(CAST(n_matched AS DOUBLE) / CAST(n_sessions AS DOUBLE)
      |             * 10000.0 + 0.5) / 10000.0 AS share
      |FROM (
      |  SELECT 'browse_only[^[vc]+$]' AS pattern, n_sessions,
      |         m_browse AS n_matched FROM wide
      |  UNION ALL
      |  SELECT 'error_pair[ee]', n_sessions, m_errs FROM wide
      |  UNION ALL
      |  SELECT 'signup_start[^s]', n_sessions, m_signup FROM wide
      |  UNION ALL
      |  SELECT 'view_then_purchase[v.*p]', n_sessions, m_vp FROM wide)
      |ORDER BY pattern""".stripMargin

  /** Trailing 7-day distinct users per active day (DAU / WAU /
    * stickiness) — the engagement census every product dashboard leads
    * with, and a genuinely different window shape: a SLIDING DISTINCT,
    * which no frame-based window computes (distinct doesn't decompose
    * over frame increments). The scale-native shape: collapse to
    * distinct (day, user) pairs in one scan, fan each pair out to the 7
    * window-end days it serves (the explode + EQUI-join idiom — narrow
    * tuples, never event rows), and count distinct per end day. */
  def rollingDistinct(s: SparkSession, dir: String): DataFrame =
    rollingDistinctOn(Tables.events(s, dir))

  /** Sliding-distinct core over a (ts, user_id) frame. */
  private[graft] def rollingDistinctOn(events: DataFrame): DataFrame = {
    val pairs = events
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val dau = pairs.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = pairs
      .select(col("day"), col("user_id"),
        explode(expr("sequence(0, 6)")).as("o"))
      .select(expr("date_add(day, o)").as("wday"), col("user_id"))
      .groupBy("wday").agg(count_distinct(col("user_id")).as("wau"))
    dau.join(wau, col("day") === col("wday"))
      .select(col("day"), col("dau"), col("wau"),
        (floor(col("dau").cast("double") / col("wau").cast("double")
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("stickiness"))
      .orderBy("day")
  }

  private val rollingDistinctSql =
    """WITH pairs AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |dau AS (
      |  SELECT day, CAST(count(*) AS BIGINT) AS dau FROM pairs GROUP BY day),
      |w AS (
      |  SELECT day + CAST(o AS INTEGER) AS wday, user_id
      |  FROM pairs CROSS JOIN (SELECT unnest(range(0, 7)) AS o)),
      |wau AS (
      |  SELECT wday, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
      |  FROM w GROUP BY wday)
      |SELECT day, dau, wau,
      |       floor(CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE)
      |             * 10000.0 + 0.5) / 10000.0 AS stickiness
      |FROM dau JOIN wau ON day = wday
      |ORDER BY day""".stripMargin

  /** Cohort LTV triangle — the cumulative-revenue table under every
    * retention chart: users cohort by FIRST-EVENT week, purchase revenue
    * accrues to (cohort, week-offset) cells, and each row carries the
    * running cumulative revenue per cohort user — "how much is a week-W
    * signup worth after k weeks". Weeks are epoch-week integers
    * (days div 7 — no engine's WEEK() truncation semantics involved),
    * revenue is exact integer cents from the scan on, and the per-user
    * division is the only FP op, floor-fixed at the end. The cumulative
    * window runs over ≤ calendar-weeks rows per cohort. */
  def cohortLtv(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("w", expr("datediff(to_date(ts), date'1970-01-01') div 7"))
    val cohort = ev.groupBy("user_id").agg(min("w").as("cw"))
    val nu = cohort.groupBy("cw").agg(count(lit(1)).as("n_users"))
    val rev = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("w"),
        expr("CAST(floor(value * 100.0D + 0.5D) AS BIGINT)").as("cents"))
      .join(cohort, "user_id")
      .groupBy(col("cw"), (col("w") - col("cw")).as("week_offset"))
      .agg(sum("cents").as("rev_c"))
    val wCum = Window.partitionBy("cw").orderBy("week_offset")
      .rowsBetween(Window.unboundedPreceding, 0)
    rev.join(nu, "cw")
      .withColumn("cum_c", sum("rev_c").over(wCum))
      .select(
        expr("date_add(date'1970-01-01', CAST(cw * 7 AS INT))")
          .as("cohort_week"),
        col("week_offset"), col("n_users"),
        (col("cum_c").cast("double") / lit(100.0d)).as("cum_revenue"),
        (floor(col("cum_c").cast("double")
          / (col("n_users").cast("double") * lit(100.0d))
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("ltv_per_user"))
      .orderBy("cohort_week", "week_offset")
  }

  private val cohortLtvSql =
    """WITH ev AS (
      |  SELECT user_id, event_type, value,
      |         datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
      |           AS w
      |  FROM events),
      |cohort AS (SELECT user_id, min(w) AS cw FROM ev GROUP BY user_id),
      |nu AS (SELECT cw, CAST(count(*) AS BIGINT) AS n_users
      |       FROM cohort GROUP BY cw),
      |rev AS (
      |  SELECT c.cw, e.w - c.cw AS week_offset,
      |         CAST(sum(CAST(floor(e.value * 100.0 + 0.5) AS BIGINT))
      |           AS BIGINT) AS rev_c
      |  FROM ev e JOIN cohort c USING (user_id)
      |  WHERE e.event_type = 'purchase'
      |  GROUP BY c.cw, e.w - c.cw),
      |cum AS (
      |  SELECT cw, week_offset, rev_c,
      |         CAST(sum(rev_c) OVER (PARTITION BY cw ORDER BY week_offset
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           AS BIGINT) AS cum_c
      |  FROM rev)
      |SELECT DATE '1970-01-01' + CAST(cw * 7 AS INTEGER) AS cohort_week,
      |       week_offset, n_users,
      |       CAST(cum_c AS DOUBLE) / 100.0 AS cum_revenue,
      |       floor(CAST(cum_c AS DOUBLE)
      |             / (CAST(n_users AS DOUBLE) * 100.0)
      |             * 10000.0 + 0.5) / 10000.0 AS ltv_per_user
      |FROM cum JOIN nu USING (cw)
      |ORDER BY cohort_week, week_offset""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q_cohort_ltv", cohortLtv, Some(cohortLtvSql),
      doc = "cohort LTV triangle: epoch-week cohorts, exact-cents " +
        "cumulative revenue, one floor-fixed per-user division"),
    Q("q_window_rank", windowRank, Some(windowRankSql)),
    Q("q_ab_test", abTest, Some(abTestSql)),
    Q("q_srm", srmCheck, Some(srmCheckSql),
      doc = "sample-ratio-mismatch guardrail: chi-square of the " +
        "realized A/B split vs 50/50, strict 0.001 flag"),
    Q("q_power_mde", powerMde, Some(powerMdeSql),
      doc = "minimal detectable effect at alpha=0.05/power=0.8 for the " +
        "current sample sizes and base rate - one IEEE sequence over " +
        "exact counts"),
    Q("q_cuped", cuped, Some(cupedSql),
      doc = "CUPED variance-reduced A/B effect: pre-period covariate " +
        "adjustment, exact DECIMAL sufficient statistics in one " +
        "conditional-aggregate row, one fixed IEEE sequence"),
    Q("q_cmh_test", cmhTest, Some(cmhTestSql)),
    Q("q_chi_squared", chiSquared, Some(chiSquaredSql)),
    Q("q_scd2", scd2, Some(scd2Sql)),
    Q("q_user_growth", userGrowth, Some(userGrowthSql)),
    Q("q_rfm", rfm, Some(rfmSql)),
    Q("q_funnel_time", funnelTime, Some(funnelTimeSql)),
    Q("q_cooccurrence", cooccurrence, Some(cooccurrenceSql)),
    Q("q_attribution", attribution, Some(attributionSql)),
    Q("q_event_transitions", eventTransitions, Some(eventTransitionsSql)),
    Q("q_event_paths", eventPaths, Some(eventPathsSql)),
    Q("q_sliding_window", slidingWindow, Some(slidingWindowSql)),
    Q("q_trailing_window", trailingWindow, Some(trailingWindowSql)),
    Q("q_full_outer", fullOuterDays, Some(fullOuterDaysSql)),
    Q("q_resample_ffill", resampleFfill, Some(resampleFfillSql)),
    Q("q_event_anomaly", eventAnomaly, Some(eventAnomalySql)),
    Q("q_cohort_retention", cohortRetention, Some(cohortRetentionSql)),
    Q("q_funnel", funnelSteps, Some(funnelStepsSql)),
    Q("q_inter_event", interEventTime, Some(interEventTimeSql)),
    Q("q_ntile", balanceQuartiles, Some(balanceQuartilesSql)),
    Q("q_fuzzy_names", fuzzyNames, Some(fuzzyNamesSql)),
    Q("q_running_total", runningTotal, Some(runningTotalSql)),
    Q("q_hourly_window", hourlyWindow, Some(hourlyWindowSql)),
    Q("q_json_props", jsonProps, Some(jsonPropsSql)),
    Q("q_variant_props", variantProps, Some(variantPropsSql)),
    Q("q_setops", setOps, Some(setOpsSql)),
    Q("q_unpivot", unpivotMeasures, Some(unpivotMeasuresSql),
      doc = "UNPIVOT/melt via stack() over an exact-cents aggregate — " +
        "the wide→long dual of q_pivot; oracle is the ANSI UNION ALL"),
    Q("q_path_regex", pathRegex, Some(pathRegexSql),
      doc = "MATCH_RECOGNIZE-style session path-pattern census: " +
        "sessionize → ordered char fold → shared-dialect regexes, one " +
        "conditional-sum aggregate reshaped by stack"),
    Q("q_rolling_distinct", rollingDistinct, Some(rollingDistinctSql),
      doc = "trailing 7-day distinct users (DAU/WAU/stickiness): " +
        "sliding DISTINCT via distinct-pair fan-out + equi-join — the " +
        "window shape frames can't express"),
    Q("q_rollup", rollupAgg, Some(rollupAggSql)),
    Q("q_sessionize", sessionize, Some(sessionizeSql)),
    Q("q_session_window", sessionWindowAgg, Some(sessionWindowAggSql)),
    Q("q_approx_distinct", approxDistinct, None),
    Q("q_hll_rollup", hllRollup, None),
    Q("q_approx_distinct_contract", approxDistinctContract,
      Some(approxDistinctContractSql)),
    Q("q_hll_contract", hllContract, Some(hllContractSql)))
}
