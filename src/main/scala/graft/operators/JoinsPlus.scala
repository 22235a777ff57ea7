package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** Join-algebra and analytics breadth beyond the reference (SURVEY.md §2.3
  * "Not present in the reference ... we still expose them"): semi/anti
  * joins, cube, pivot, as-of join, range join, exact percentiles, and the
  * salted two-phase aggregation pattern for skewed keys.
  *
  * Scale notes per operator are on each method; the common theme is that
  * every shape here stays a single hash/sort-merge exchange on the
  * partition key — nothing materializes a per-key cross product except
  * where the semantics demand it (range join, bounded by the time window).
  */
object JoinsPlus {

  /** Semi + anti join: per nation, customers with ≥1 urgent order vs
    * customers with no orders at all. left_semi/left_anti never duplicate
    * or widen rows — at scale they shuffle only the join keys of the
    * probe side (and an anti join against a broadcast dim is free). */
  def semiAnti(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    val n = Tables.nation(s, dir)
    val urgentKeys = o.filter(col("o_orderpriority") === "1-URGENT")
      .select("o_custkey")
    val withUrgent = c.join(urgentKeys, c("c_custkey") === col("o_custkey"), "left_semi")
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name").agg(count(lit(1)).as("n_urgent_customers"))
    val orderless = c.join(o.select("o_custkey"), c("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name").agg(count(lit(1)).as("n_orderless_customers"))
    // the per-nation aggregates are dim-sized (≤ |nation| rows) at any
    // scale — broadcast them onto the nation spine instead of SMJ
    n.select("n_name").distinct()
      .join(broadcast(withUrgent), Seq("n_name"), "left")
      .join(broadcast(orderless), Seq("n_name"), "left")
      .select(col("n_name"),
        coalesce(col("n_urgent_customers"), lit(0L)).as("n_urgent_customers"),
        coalesce(col("n_orderless_customers"), lit(0L)).as("n_orderless_customers"))
      .orderBy("n_name")
  }

  private val semiAntiSql =
    """SELECT n_name,
      |  (SELECT count(*) FROM customer c
      |   WHERE c.c_nationkey = n.n_nationkey
      |     AND EXISTS (SELECT 1 FROM orders o
      |                 WHERE o.o_custkey = c.c_custkey
      |                   AND o.o_orderpriority = '1-URGENT')) AS n_urgent_customers,
      |  (SELECT count(*) FROM customer c
      |   WHERE c.c_nationkey = n.n_nationkey
      |     AND NOT EXISTS (SELECT 1 FROM orders o
      |                     WHERE o.o_custkey = c.c_custkey)) AS n_orderless_customers
      |FROM nation n
      |ORDER BY n_name""".stripMargin

  /** Cube: all 2^2 grouping-set combinations over (priority, status).
    * Exact integer measures only (count / distinct count) so the oracle
    * compare is FP-proof across grouping levels. */
  def cubeAgg(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .cube("o_orderpriority", "o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
           countDistinct("o_custkey").as("n_customers"))
      .select(coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
              coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
              col("n_orders"), col("n_customers"))
      .orderBy("priority", "status")

  private val cubeAggSql =
    """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
      |       coalesce(o_orderstatus, 'ALL') AS status,
      |       count(*) AS n_orders,
      |       count(DISTINCT o_custkey) AS n_customers
      |FROM orders
      |GROUP BY CUBE(o_orderpriority, o_orderstatus)
      |ORDER BY priority, status""".stripMargin

  /** Pivot with an EXPLICIT value list (never the infer-values variant,
    * which runs an extra distinct job over 100 TB before planning):
    * events per day × event_type. */
  def pivotDaily(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val p = Tables.events(s, dir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .groupBy("day")
      .pivot("event_type", types)
      .agg(count(lit(1)))
    p.select(col("day") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      .orderBy("day")
  }

  private val pivotDailySql =
    """SELECT strftime(ts, '%Y-%m-%d') AS day,
      |       CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
      |       CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
      |       CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
      |       CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
      |       CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
      |FROM events
      |GROUP BY 1
      |ORDER BY day""".stripMargin

  /** As-of join (purchase → most recent prior view per user), by the
    * union-tag formulation: tag both streams, one hash exchange on the
    * key, one per-partition sort, then last(ignoreNulls) carries the
    * latest left-side time forward. This is THE scalable as-of shape —
    * no per-key collect, no range cross product, state is one value per
    * row regardless of history length. */
  def asofAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    // Delays in EXACT integer microseconds (ts has sub-second micros):
    // fix4(avg(fractional-seconds)) is summation-order-dependent (the
    // r12 q_correlated class). Exact BIGINT sum over attributed delays,
    // then fixed divides: avg_sec·10⁴ = Σdelay_µs/100/n_attributed.
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id"), lit(0).as("tag"),
        expr("unix_micros(ts)").as("v_us"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), lit(1).as("tag"),
        lit(null).cast("long").as("v_us"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("tag").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    views.unionByName(buys)
      .withColumn("last_view_us", last("v_us", ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .withColumn("delay", expr("unix_micros(ts)") - col("last_view_us"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_purchases"),
           count(col("last_view_us")).as("n_attributed"),
           // greatest(n,1): ANSI divide-by-zero guard for users whose
           // purchases all precede any view (sum is NULL there anyway)
           (floor(sum("delay").cast("double") / lit(100.0d)
             / greatest(count(col("delay")), lit(1L)) + lit(0.5d))
             / lit(10000.0d)).as("avg_delay_sec"))
      .orderBy("user_id")
  }

  private val asofAttributionSql =
    """WITH uni AS (
      |  SELECT user_id, ts, event_id, 0 AS tag, epoch_us(ts) AS v_us
      |  FROM events WHERE event_type = 'view'
      |  UNION ALL
      |  SELECT user_id, ts, event_id, 1 AS tag, NULL
      |  FROM events WHERE event_type = 'purchase'),
      |att AS (
      |  SELECT user_id, tag, epoch_us(ts) AS us,
      |         last_value(v_us IGNORE NULLS) OVER (
      |           PARTITION BY user_id ORDER BY ts, tag, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_us
      |  FROM uni)
      |SELECT user_id, count(*) AS n_purchases,
      |       count(last_view_us) AS n_attributed,
      |       floor(sum(us - last_view_us) / 100.0
      |             / greatest(count(us - last_view_us), 1)
      |             + 0.5) / 10000.0 AS avg_delay_sec
      |FROM att WHERE tag = 1
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** The [[graft.plans.AsOf]] CUSTOM OPERATOR driving the same
    * view→purchase attribution census as [[asofAttribution]] — but
    * through a first-class physical as-of join (AsOfJoinExec: clustered
    * + sorted children, single forward merge, one held row of state)
    * instead of the union + last-ignore-nulls window. The oracle
    * recomputes attribution from scratch with a correlated max, so a
    * hash match checks the operator's SEMANTICS, not its plan. Delays
    * subtract per-row BEFORE averaging: epoch-µs magnitudes (~1.7e15)
    * overflow double's 2^53 exact-integer range once a handful are
    * summed, per-purchase deltas (≤ days) never do. */
  def asofCustom(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("b_us"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), expr("unix_micros(ts)").as("v_us"))
    graft.plans.AsOf.join(buys, views, "user_id", "b_us", "v_us")
      .withColumn("delay_us", col("b_us") - col("__r_v_us"))
      .withColumn("v_us", col("__r_v_us"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_purchases"),
        count(col("v_us")).as("n_attributed"),
        Fmt.fix4(avg("delay_us") / lit(1000000.0d)).as("avg_delay_sec"))
      .orderBy("user_id")
  }

  private val asofCustomSql =
    """WITH b AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS b_us
      |  FROM events WHERE event_type = 'purchase'),
      |v AS (
      |  SELECT user_id, epoch_us(ts) AS v_us
      |  FROM events WHERE event_type = 'view'),
      |m AS (
      |  SELECT b.user_id, b.event_id, b.b_us, max(v.v_us) AS v_us
      |  FROM b LEFT JOIN v
      |    ON b.user_id = v.user_id AND v.v_us <= b.b_us
      |  GROUP BY 1, 2, 3)
      |SELECT user_id, count(*) AS n_purchases,
      |       count(v_us) AS n_attributed,
      |       floor(avg(b_us - v_us) / 1000000.0 * 10000.0 + 0.5) / 10000.0 AS avg_delay_sec
      |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Leakage-free training-feature assembly with the FIRST-CLASS as-of
    * operator ([[graft.plans.AsOf]]) — the point-in-time-correct join
    * every feature store is built around: each purchase (the label
    * event) picks up the user's cumulative activity THROUGH THE PRIOR
    * DAY, never the same day's (features are stamped at the NEXT
    * midnight, so a day-d label sees cum(≤ d−1) — the classic
    * target-leakage bug is structurally impossible). Runs on the custom
    * Catalyst exec (one hash-clustered exchange per side, O(1) merge
    * state), feature times as exact epoch-µs BIGINTs. Census: match
    * rate + prior-activity profile at purchase time. */
  def featureAsof(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val feats = ev
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("cum", sum("n").over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("day")))
      .select(col("user_id"),
        ((datediff(col("day"), lit("1970-01-01").cast("date")) + 1)
          .cast("long") * lit(86400000000L)).as("f_us"),
        col("cum"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("b_us"))
    graft.plans.AsOf.join(buys, feats, "user_id", "b_us", "f_us")
      .agg(count(lit(1)).as("n_purchases"),
        count(col("__r_cum")).as("n_matched"),
        (floor(sum(col("__r_cum")).cast("double")
          / count(col("__r_cum")).cast("double")
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d))
          .as("avg_prior_events"),
        max(col("__r_cum")).as("max_prior_events"))
  }

  private val featureAsofSql =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |feats AS (
      |  SELECT user_id,
      |         (CAST(day - DATE '1970-01-01' AS BIGINT) + 1)
      |           * 86400000000 AS f_us,
      |         CAST(sum(n) OVER (PARTITION BY user_id ORDER BY day
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           AS BIGINT) AS cum
      |  FROM daily),
      |b AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS b_us
      |  FROM events WHERE event_type = 'purchase'),
      |m AS (
      |  SELECT b.event_id, max(f.cum) AS cum
      |  FROM b LEFT JOIN feats f
      |    ON b.user_id = f.user_id AND f.f_us <= b.b_us
      |  GROUP BY 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_purchases,
      |       CAST(count(cum) AS BIGINT) AS n_matched,
      |       floor(CAST(sum(cum) AS DOUBLE) / count(cum) * 10000.0 + 0.5)
      |         / 10000.0 AS avg_prior_events,
      |       CAST(max(cum) AS BIGINT) AS max_prior_events
      |FROM m""".stripMargin

  /** Range (interval) join: purchases within 24 h after each signup of
    * the same user. Equi-key on user_id keeps it a hash/SMJ join; the
    * range predicate filters within the key group, so the blow-up is
    * bounded by events-per-user-per-day, not corpus size. */
  def rangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("sec", col("ts").cast("double"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("s_id"), col("sec").as("s_sec"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("sec").as("b_sec"))
    signups.join(buys,
        col("user_id") === col("b_user") &&
          col("b_sec") >= col("s_sec") &&
          col("b_sec") < col("s_sec") + 86400d,
        "left")
      .groupBy("user_id", "s_id")
      .agg(count(col("b_sec")).as("n_buys_24h"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_signups"),
           sum("n_buys_24h").cast("long").as("total_buys_24h"),
           max("n_buys_24h").as("max_buys_24h"))
      .orderBy("user_id")
  }

  private val rangeJoinSql =
    """WITH s AS (
      |  SELECT user_id, event_id AS s_id, epoch(ts) AS s_sec
      |  FROM events WHERE event_type = 'signup'),
      |b AS (
      |  SELECT user_id AS b_user, epoch(ts) AS b_sec
      |  FROM events WHERE event_type = 'purchase'),
      |per_signup AS (
      |  SELECT s.user_id, s.s_id, count(b.b_sec) AS n_buys_24h
      |  FROM s LEFT JOIN b
      |    ON s.user_id = b.b_user
      |   AND b.b_sec >= s.s_sec AND b.b_sec < s.s_sec + 86400
      |  GROUP BY s.user_id, s.s_id)
      |SELECT user_id, count(*) AS n_signups,
      |       CAST(sum(n_buys_24h) AS BIGINT) AS total_buys_24h,
      |       max(n_buys_24h) AS max_buys_24h
      |FROM per_signup
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Exact interpolated percentiles (quartiles + p95 of extended price per
    * return flag), via [[graft.operators.Profiling.groupedQuantiles]]'
    * buffer-free windowed selection — extended price is a continuous
    * double, so the old per-group `percentile` buffer grew with the
    * corpus. Results stay bit-identical to DuckDB's `quantile_cont` (the
    * selection applies Spark Percentile's exact interpolation). The
    * sketch alternative for per-key cardinality beyond dimension-bounded
    * groups is q_percentile_approx. */
  def percentiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Profiling.groupedQuantiles(Tables.lineitem(s, dir),
        "l_returnflag", "l_extendedprice", Seq(0.25d, 0.5d, 0.75d, 0.95d))
      .toSeq.map { case (f, qs) => (f, qs.head, qs(1), qs(2), qs(3)) }
      .toDF("l_returnflag", "p25r", "p50r", "p75r", "p95r")
      .select(col("l_returnflag"),
        round(col("p25r"), 4).as("p25"),
        round(col("p50r"), 4).as("p50"),
        round(col("p75r"), 4).as("p75"),
        round(col("p95r"), 4).as("p95"))
      .orderBy("l_returnflag")
  }

  private val percentilesSql =
    """SELECT l_returnflag,
      |       round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
      |       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |       round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
      |       round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** The 100 TB percentile path [[percentiles]]'s Scaladoc promises:
    * percentile_approx (a mergeable one-pass sketch with bounded memory
    * per group) instead of the exact form's full-group buffer. No DuckDB
    * oracle — sketch estimates are engine-specific — so the driver
    * records a rows-only check; within Spark the result is deterministic
    * for a given input multiset and accuracy parameter. */
  def percentilesApprox(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(expr(
        "percentile_approx(l_extendedprice, array(0.25, 0.5, 0.75, 0.95), 10000)")
        .as("ps"))
      .select(col("l_returnflag"),
        round(col("ps").getItem(0), 4).as("p25"),
        round(col("ps").getItem(1), 4).as("p50"),
        round(col("ps").getItem(2), 4).as("p75"),
        round(col("ps").getItem(3), 4).as("p95"))
      .orderBy("l_returnflag")

  /** ORACLE-CHECKED error contract of [[percentilesApprox]]: the
    * Greenwald–Khanna sketch's documented guarantee is a RANK bound —
    * the returned element's rank is within ε·n of p·n, ε = 1/accuracy —
    * which IS oracle-expressible even though the value itself is not:
    * Spark counts how many rows fall below/at each approx value and
    * tests the rank window (with one row of slack for the boundary),
    * the oracle recomputes n and pins every verdict TRUE. One broadcast
    * join of the 3-row approx frame back onto the scan. */
  def percentileApproxContract(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_extendedprice"))
    val appr = li.groupBy("l_returnflag")
      .agg(expr(
        "percentile_approx(l_extendedprice, array(0.25, 0.5, 0.75, 0.95), 10000)")
        .as("ps"))
    val qs = Seq(0.25d, 0.5d, 0.75d, 0.95d)
    val counts = qs.indices.flatMap { i =>
      Seq(
        sum(when(col("l_extendedprice") <= col("ps").getItem(i), 1L)
          .otherwise(0L)).as(s"le$i"),
        sum(when(col("l_extendedprice") < col("ps").getItem(i), 1L)
          .otherwise(0L)).as(s"lt$i"))
    }
    val g = li.join(broadcast(appr), "l_returnflag")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), counts: _*)
    val eps = 1.0d / 10000.0d
    val oks = qs.zipWithIndex.map { case (p, i) =>
      (col(s"le$i").cast("double") / col("n")
          >= lit(p - eps) - lit(1.0d) / col("n")) &&
        (col(s"lt$i").cast("double") / col("n")
          <= lit(p + eps) + lit(1.0d) / col("n"))
    }
    g.select(col("l_returnflag"), col("n"),
        oks(0).as("rank_ok_p25"), oks(1).as("rank_ok_p50"),
        oks(2).as("rank_ok_p75"), oks(3).as("rank_ok_p95"))
      .orderBy("l_returnflag")
  }

  private val percentileApproxContractSql =
    """SELECT l_returnflag, count(*) AS n,
      |       TRUE AS rank_ok_p25, TRUE AS rank_ok_p50,
      |       TRUE AS rank_ok_p75, TRUE AS rank_ok_p95
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** Salted two-phase aggregation — the skew-mitigation pattern: a hot
    * group key is split across `SALTS` reducers by a deterministic salt
    * (key-derived, NOT rand(): re-execution of a lost task must produce
    * the same row), partially aggregated, then merged. Result is
    * identical to the direct group-by (oracle = plain GROUP BY); the win
    * at scale is that no single reducer owns a hot key. AQE's
    * skewJoin/skewedPartition handling does this adaptively for joins;
    * this is the explicit form for aggregations. */
  def saltedAgg(s: SparkSession, dir: String): DataFrame = {
    val SALTS = 8
    Tables.lineitem(s, dir)
      .withColumn("salt", pmod(col("l_orderkey"), lit(SALTS)))
      .groupBy("l_returnflag", "salt")
      .agg(sum("l_quantity").as("partial_qty"), count(lit(1)).as("partial_n"))
      .groupBy("l_returnflag")
      .agg(round(sum("partial_qty"), 4).as("sum_qty"),
           sum("partial_n").cast("long").as("n"))
      .orderBy("l_returnflag")
  }

  private val saltedAggSql =
    """SELECT l_returnflag, round(sum(l_quantity), 4) AS sum_qty,
      |       count(*) AS n
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Argmax as an AGGREGATE (max_by), not sort+limit: per region, the
    * nation with the most customers. One hash aggregate — no sort at all —
    * which is the preferred argmax shape when the result is per-group
    * rather than global. Ties are impossible by construction: the compared
    * value composes (count, nationkey) into one number. */
  def argmax(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name", "n_nationkey")
      .agg(count(lit(1)).as("n_customers"))
      .groupBy("r_name")
      .agg(expr("max_by(n_name, n_customers * 1000 + n_nationkey)").as("top_nation"),
           max("n_customers").as("max_customers"))
      .orderBy("r_name")
  }

  private val argmaxSql =
    """WITH per_nation AS (
      |  SELECT r_name, n_name, n_nationkey, count(*) AS n_customers
      |  FROM customer
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  GROUP BY r_name, n_name, n_nationkey)
      |SELECT r_name,
      |       arg_max(n_name, n_customers * 1000 + n_nationkey) AS top_nation,
      |       max(n_customers) AS max_customers
      |FROM per_nation
      |GROUP BY r_name
      |ORDER BY r_name""".stripMargin

  /** Custom typed UDAF ([[graft.functions.WeightedMean]]): price-weighted
    * mean quantity per return flag. */
  def udafWeighted(s: SparkSession, dir: String): DataFrame = {
    val wmean = udaf(graft.functions.WeightedMean)
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(round(wmean(col("l_quantity"), col("l_extendedprice")), 4)
        .as("wavg_qty"))
      .orderBy("l_returnflag")
  }

  private val udafWeightedSql =
    """SELECT l_returnflag,
      |       round(sum(l_quantity * l_extendedprice) / sum(l_extendedprice), 4)
      |         AS wavg_qty
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** SQL-text entry (the reference's own interface — it drives everything
    * through spark.sql, job1:281): a TPC-H-Q5-ish revenue rollup run as
    * raw SQL via GraftSql. The SAME text is the DuckDB oracle — the
    * strongest possible ANSI-parity statement. */
  private val sqlTextQuery =
    """SELECT n_name,
      |       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
      |       count(*) AS n_lines
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  def sqlText(s: SparkSession, dir: String): DataFrame =
    graft.GraftSql.sql(s, dir, sqlTextQuery)

  /** Correlated scalar subquery — customers above their own nation's
    * average balance. Catalyst decorrelates this
    * (RewriteCorrelatedScalarSubquery) into the aggregate-then-join plan
    * you would hand-write, so the subquery form is scale-free sugar.
    *
    * The displayed mean is computed from EXACT BIGINT cents before one
    * IEEE divide: `c_acctbal` is a 2-decimal value stored as double, so
    * `fix4(avg(double))` is order-dependent — at sf0.1 group NATION_18
    * the FP `avg(c_acctbal) * 10000` lands at fractional part
    * .5000000596, and Spark's 32-way partial/final sum vs DuckDB's
    * single-stream sum straddle the floor tie (the r12 red row).
    * `sum(cents)` is an exact integer in any summation order;
    * `sum_cents * 100.0 / n` is then a single deterministic divide, so
    * the fix4 floor sees the identical double in both engines.
    *
    * The outer CAST(... AS DOUBLE) is a result-DTYPE pin, not a value
    * change: this query's shared SQL text executes on Spark, where the
    * literals `100.0`/`10000.0` parse as DECIMAL, so the all-BIGINT
    * floor chain types the column DECIMAL(34,7) while DuckDB types the
    * identical expression DOUBLE — the driver hashes typed values, so
    * the r12/r13 red row was a decimal-vs-double mismatch with
    * bit-identical values. The cast is a no-op in DuckDB and collapses
    * Spark's decimal to that same double. */
  private val correlatedQuery =
    """SELECT n_name, count(*) AS n_above,
      |       CAST(floor(sum(CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT))
      |                  * 100.0 / count(*) + 0.5) / 10000.0
      |            AS DOUBLE) AS avg_above_bal
      |FROM customer c JOIN nation n ON c_nationkey = n_nationkey
      |WHERE c_acctbal > (SELECT sum(CAST(floor(c2.c_acctbal * 100.0 + 0.5)
      |                                   AS BIGINT)) / count(*) / 100.0
      |                   FROM customer c2
      |                   WHERE c2.c_nationkey = c.c_nationkey)
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  def correlated(s: SparkSession, dir: String): DataFrame =
    graft.GraftSql.sql(s, dir, correlatedQuery)

  /** NOT IN — the NULL-AWARE anti join, a genuinely distinct join
    * semantic from LEFT ANTI (`q_semi_anti`): one NULL in the subquery
    * list makes NOT IN return nothing (three-valued logic), so Catalyst
    * must plan a null-aware join (BroadcastNestedLoopJoin with the
    * null-check conjunct) rather than a plain hash anti join whenever
    * the key is nullable — exactly the SQL-surface footgun a lake user
    * hits first. Build side is the distinct subquery key set
    * (broadcast-tiny: suppliers' nations); same SQL text both engines. */
  private val nullAntiQuery =
    """SELECT p_partkey, p_brand FROM part
      |WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem
      |                        WHERE l_quantity >= 40)
      |ORDER BY p_partkey""".stripMargin

  def nullAnti(s: SparkSession, dir: String): DataFrame =
    graft.GraftSql.sql(s, dir, nullAntiQuery)

  /** GROUPING SETS — the general form behind rollup/cube: an explicit
    * list of grouping levels in ONE pass (Catalyst's Expand amplifies
    * each row once per set before a single aggregate, instead of three
    * scans + union). Same SQL text runs on Spark and the DuckDB oracle. */
  private val groupingSetsQuery =
    """SELECT coalesce(l_returnflag, 'ALL') AS rf,
      |       coalesce(l_linestatus, 'ALL') AS ls,
      |       count(*) AS n,
      |       round(sum(l_extendedprice), 4) AS revenue
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
      |                        (l_returnflag), ())
      |ORDER BY rf, ls""".stripMargin

  def groupingSets(s: SparkSession, dir: String): DataFrame =
    graft.GraftSql.sql(s, dir, groupingSetsQuery)

  /** LATERAL correlated subquery — top-2 customers per nation without a
    * window function: the per-row subquery form Catalyst decorrelates
    * into the ranked-join plan (DecorrelateInnerQuery), so the sugar is
    * scale-free. Same SQL text runs on Spark and the DuckDB oracle. */
  private val lateralTopQuery =
    """SELECT n_name, c.c_name AS c_name, round(c.c_acctbal, 4) AS bal
      |FROM nation,
      |     LATERAL (SELECT c_name, c_acctbal FROM customer
      |              WHERE c_nationkey = n_nationkey
      |              ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
      |ORDER BY n_name, bal DESC, c_name""".stripMargin

  def lateralTop(s: SparkSession, dir: String): DataFrame =
    graft.GraftSql.sql(s, dir, lateralTopQuery)

  /** Bloom filter geometry: K md5-derived hash positions per key into
    * m = BITS_PER_KEY·|S| bits — sized from the BUILD COUNT, the way a
    * planner sizes a runtime filter (a fixed m saturates the moment |S|
    * outgrows it: an early 8192-bit constant hit 8191 bits set and a
    * 99.97% FP rate at sf0.1). With 16 bits/key and k = 3 the
    * theoretical FP rate (1 − e^{−K/16})^K ≈ 0.5%. */
  private val BLOOM_BITS_PER_KEY = 16L
  private val BLOOM_K = 3

  /** Runtime-filter (Bloom) join pruning census — the semi-join
    * pushdown trick a 100 TB join plan lives on: build a BLOOM FILTER
    * over the selective side's join keys (urgent orders), probe every
    * big-side key ROW-LOCALLY against the broadcast bit set, and only
    * candidates reach the real join. The census reports exactly what a
    * planner wants to know before enabling the filter: bits set,
    * candidate rate, and the realized false-positive rate vs the exact
    * semi join.
    *
    * Determinism: positions are md5-derived, so the filter content — and
    * therefore the FP set itself, not just its expected size — is a pure
    * function of the data, which is what lets DuckDB replay the census
    * bit-for-bit. Scale shape: the filter is ≤ K·|S| distinct SMALLINT
    * positions (broadcast), the probe is row-local hashing + a broadcast
    * semi-join per hash, and only (key, pos) pairs ever shuffle. */
  def bloomPrune(s: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("k"))
    // the filter is sized from the build-side cardinality — one scalar
    // count to the driver, exactly what a runtime-filter planner does.
    // (r14 audit: three "obvious" optimizations were measured HERE and
    // all LOST warm — (a) m as a broadcast 1-row column (the oracle's
    // mm shape) to fold this count into the final DAG: the broadcast
    // build gates every branch and the crossJoins lengthen the critical
    // path, 1.0→1.5 s; (b) caching urgent.distinct() for its 4
    // consumers: the branches are INDEPENDENT stages Spark runs
    // concurrently, so the redundant recomputes were free parallelism
    // while the cache fill serialized them; (c) a machine-width
    // repartition of the probe distinct: no effect — the md5 probe
    // wasn't the bottleneck, the barrier count was. Kept the original
    // shape; the r9 lesson "recompute across branches can beat a
    // blocking materialization" generalizes to caches on a wide-core
    // box.)
    val m = BLOOM_BITS_PER_KEY * urgent.distinct().count()
    def positions(keyCol: String): org.apache.spark.sql.Column =
      expr((0 until BLOOM_K).map(j =>
        s"CAST(conv(substr(md5(concat(CAST($keyCol AS STRING), ':bf$j')), 1, 8), 16, 10) AS BIGINT) % ${m}L")
        .mkString("array(", ", ", ")"))
    // the bit set feeds two census branches — cache it so the build-side
    // distinct runs ONCE, not per branch
    val bits = urgent.select(explode(positions("k")).as("pos")).distinct()
      .cache()
    // r15 restructure (§2.4 / §1.2): the probe-side census used to run as
    // THREE branches over a cached probe table (n_probe aggregate,
    // candidate explode+filter, exact semi join), each its own broadcast
    // crossJoin arm — ~24 stages of mostly barrier latency. One linear
    // pass computes all three: explode the K positions (always exactly K
    // rows per key), LEFT-join the broadcast bit set to flag hits, fold
    // back to per-key hit counts (the groupBy reuses the distinct's
    // hash(k) exchange — no new shuffle), LEFT-join the broadcast build
    // keys for exact membership, and aggregate once. hits = K ⇔ the old
    // inner-join count of K (duplicate positions each count in both
    // spellings); the t flag replicates the left-semi exactly. Local
    // wall-clock is FLAT (1.38 s min both shapes, 6-pass profile) — the
    // win is the scale posture: the fact-sized probe cache (§5 memory
    // pressure at 100 TB) and two of the three full passes over it drop
    // out, and the stage count roughly halves.
    val probe = Tables.lineitem(s, dir).select(col("l_orderkey").as("k"))
      .distinct()
    val perKey = probe.select(col("k"), explode(positions("k")).as("pos"))
      .join(broadcast(bits.withColumn("hit", lit(1L))), Seq("pos"), "left")
      .groupBy("k").agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
    val flagged = perKey.join(
      broadcast(urgent.distinct().withColumn("t", lit(1L))), Seq("k"), "left")
    val counts = flagged.agg(
        count(lit(1)).as("n_probe"),
        sum(when(col("hits") === BLOOM_K, lit(1L)).otherwise(lit(0L)))
          .as("n_candidates"),
        sum(coalesce(col("t"), lit(0L))).as("n_true"))
      .crossJoin(broadcast(urgent.distinct().agg(count(lit(1)).as("n_build"))))
      .crossJoin(broadcast(bits.agg(count(lit(1)).as("n_bits_set"))))
    val out = counts.select(col("n_build"), col("n_bits_set"), col("n_probe"),
      col("n_candidates"), col("n_true"),
      (col("n_candidates") - col("n_true")).as("n_false_pos"),
      (floor((col("n_candidates") - col("n_true")).cast("double")
        / (col("n_probe") - col("n_true")).cast("double")
        * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("fp_rate"))
    val row = out.collect()
    bits.unpersist(blocking = false)
    s.createDataFrame(s.sparkContext.parallelize(row.toIndexedSeq, 1),
      out.schema)
  }

  private val bloomPruneSql = {
    val posList = (j: String, key: String) =>
      s"('0x' || substr(md5(CAST($key AS VARCHAR) || ':bf$j'), 1, 8))::BIGINT % mm.m"
    val posUnion = (key: String, src: String) =>
      (0 until BLOOM_K).map(j =>
        s"SELECT $key AS k, ${posList(j.toString, key)} AS pos FROM $src CROSS JOIN mm")
        .mkString("\nUNION ALL\n")
    s"""WITH urgent AS (
       |  SELECT DISTINCT o_orderkey FROM orders
       |  WHERE o_orderpriority = '1-URGENT'),
       |mm AS (
       |  SELECT $BLOOM_BITS_PER_KEY * CAST(count(*) AS BIGINT) AS m
       |  FROM urgent),
       |bits AS (
       |  SELECT DISTINCT pos FROM (
       |${posUnion("o_orderkey", "urgent")})),
       |probe AS (SELECT DISTINCT l_orderkey FROM lineitem),
       |phits AS (
       |  SELECT k, count(*) AS hits FROM (
       |${posUnion("l_orderkey", "probe")}) p
       |  JOIN bits USING (pos) GROUP BY k),
       |cand AS (SELECT k FROM phits WHERE hits = $BLOOM_K),
       |c AS (
       |  SELECT
       |    (SELECT CAST(count(*) AS BIGINT) FROM urgent) AS n_build,
       |    (SELECT CAST(count(*) AS BIGINT) FROM bits) AS n_bits_set,
       |    (SELECT CAST(count(*) AS BIGINT) FROM probe) AS n_probe,
       |    (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
       |    (SELECT CAST(count(*) AS BIGINT) FROM probe
       |     WHERE l_orderkey IN (SELECT o_orderkey FROM urgent)) AS n_true)
       |SELECT n_build, n_bits_set, n_probe, n_candidates, n_true,
       |       n_candidates - n_true AS n_false_pos,
       |       floor(CAST(n_candidates - n_true AS DOUBLE)
       |             / CAST(n_probe - n_true AS DOUBLE) * 10000.0 + 0.5)
       |         / 10000.0 AS fp_rate
       |FROM c""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("q_feature_asof", featureAsof, Some(featureAsofSql),
      doc = "point-in-time-correct feature assembly on the first-class " +
        "as-of exec: labels join cumulative features stamped at the " +
        "NEXT midnight - same-day target leakage structurally " +
        "impossible"),
    Q("q_asof_custom", asofCustom, Some(asofCustomSql),
      doc = "As-of join as a FIRST-CLASS operator: custom LogicalPlan + " +
        "Strategy + AsOfJoinExec (clustered/sorted children, one-pass " +
        "merge, O(1) state) — semantics checked against a from-scratch " +
        "correlated-max oracle"),
    Q("q_bloom_prune", bloomPrune, Some(bloomPruneSql),
      doc = "Bloom-filter join pruning census: md5-derived bit set over " +
        "the selective side, row-local probe, realized FP rate vs the " +
        "exact semi join — deterministic, DuckDB-replayed bit-for-bit"),
    Q("q_semi_anti", semiAnti, Some(semiAntiSql)),
    Q("q_sql_text", sqlText, Some(sqlTextQuery)),
    Q("q_correlated", correlated, Some(correlatedQuery)),
    Q("q_argmax", argmax, Some(argmaxSql)),
    Q("q_udaf_weighted", udafWeighted, Some(udafWeightedSql)),
    Q("q_cube", cubeAgg, Some(cubeAggSql)),
    Q("q_grouping_sets", groupingSets, Some(groupingSetsQuery)),
    Q("q_null_anti", nullAnti, Some(nullAntiQuery)),
    Q("q_lateral_topk", lateralTop, Some(lateralTopQuery)),
    Q("q_pivot", pivotDaily, Some(pivotDailySql)),
    Q("q_asof_join", asofAttribution, Some(asofAttributionSql)),
    Q("q_range_join", rangeJoin, Some(rangeJoinSql)),
    Q("q_percentiles", percentiles, Some(percentilesSql)),
    Q("q_percentile_approx", percentilesApprox, None),
    Q("q_percentile_approx_contract", percentileApproxContract,
      Some(percentileApproxContractSql)),
    Q("q_salted_agg", saltedAgg, Some(saltedAggSql)))
}
