package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import Fmt.fix4

/** Statistical-inference operators over the event stream and the fact
  * tables: Kaplan-Meier time-to-event estimation, CUSUM changepoint
  * location, and Poisson-bootstrap confidence intervals.
  *
  * Scale posture: every operator reduces the corpus to an
  * aggregate-cardinality frame IN the scan stage (per-user min pairs,
  * per-day counts, per-replicate weighted sums), and only then applies
  * windows/products over that tiny frame — the global windows below all
  * run over ≤ a few hundred rows (distinct hours / days / replicates),
  * never over facts. The bootstrap is the scale-native resampling shape:
  * ONE pass, no data movement, B counters per partition that merge
  * associatively — the classic alternative (materializing B resampled
  * copies) would shuffle B× the corpus.
  *
  * FP discipline (memory: new-query-checklist): all sums are BIGINT
  * (counts, fixed-point cents, 1e-6-unit logs); doubles appear only in
  * final single divisions / exp, floor-fixed to 4 decimals.
  */
object Inference {

  /** Attribution horizon (hours): conversions later than this are
    * censored at the horizon — the window a campaign report closes on. */
  private val SURV_HORIZON_H = 72L

  /** Kaplan-Meier survival of time-to-first-purchase. Each user
    * contributes an observed duration in WHOLE HOURS from their first
    * event to their first `purchase`; conversions beyond the horizon (or
    * absent) are right-censored at the horizon. Deaths-before-censoring
    * at ties (the standard KM convention): a user censored at hour t is
    * still at risk for deaths at t.
    *
    * The corpus collapses to per-user (first_ts, first_purchase_ts) in
    * one scan; everything after operates on ≤ horizon+1 distinct-hour
    * rows, where S(t) = Π (1 - d/n) over death hours is a sequential
    * INTEGER fold: each factor is first fixed to 1e-6 units by exact
    * integer division (round((n−d)·1e6 / n) — no libm anywhere; the
    * earlier ln/exp formulation hash-mismatched DuckDB on 1-ulp log
    * differences), then the ordered factor array (≤ horizon+1 elements,
    * materialized per row by a running collect_list) is folded left with
    * acc·f div 1e6 — identical two-operand integer ops in both engines,
    * so the comparison is arithmetic identity. d = n yields factor 0 and
    * pins the tail at exactly 0.0 with no sentinel. */
  def survival(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val first = e.groupBy("user_id").agg(min("ts").as("t0"))
    val purch = e.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min("ts").as("tp"))
    val obs = first.join(purch, Seq("user_id"), "left")
      .select(expr(
        "(unix_micros(tp) div 1000000 - unix_micros(t0) div 1000000) div 3600")
        .as("h"))
      .select(
        when(col("h").isNotNull && col("h") <= SURV_HORIZON_H, col("h"))
          .otherwise(lit(SURV_HORIZON_H)).as("t"),
        when(col("h").isNotNull && col("h") <= SURV_HORIZON_H, lit(1L))
          .otherwise(lit(0L)).as("death"))
    kmOn(obs)
  }

  /** Kaplan-Meier core over an observation frame of (t: integer time,
    * death: 1 observed / 0 censored) — one row per subject. Censored
    * subjects at t remain at risk for deaths at t (deaths-first tie
    * convention). Emits one row per death time. */
  private[graft] def kmOn(obs: DataFrame): DataFrame = {
    val perT = obs.groupBy("t")
      .agg(count(lit(1)).as("m"), sum("death").as("d"))
    val tot = obs.agg(count(lit(1)).as("n_users"))
    // ≤ horizon+1 rows from here on — global windows are tiny by design
    val wLt = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    perT.join(broadcast(tot))
      .withColumn("n_risk",
        col("n_users") - coalesce(sum("m").over(wLt), lit(0L)))
      .filter(col("d") > 0)
      // round((n_risk−d)·1e6 / n_risk) in pure integer arithmetic
      .withColumn("f6",
        expr("((n_risk - d) * 2000000L + n_risk) div (2L * n_risk)"))
      .withColumn("fs", collect_list("f6").over(wCum))
      // left fold acc·f div 1e6, acc0 = 1e6; max intermediate 1e12 ≪ 2^63
      .withColumn("acc6",
        expr("aggregate(fs, 1000000L, (acc, x) -> acc * x div 1000000L)"))
      .select(col("t").as("t_hours"), col("n_risk"), col("d"),
        (expr("(acc6 + 50L) div 100L").cast("double") / lit(10000.0d))
          .as("surv"))
      .orderBy("t_hours")
  }

  private val survivalSql =
    s"""WITH f AS (SELECT user_id, min(ts) AS t0 FROM events GROUP BY user_id),
       |p AS (SELECT user_id, min(ts) AS tp FROM events
       |      WHERE event_type = 'purchase' GROUP BY user_id),
       |hrs AS (
       |  SELECT (epoch_us(tp) // 1000000 - epoch_us(t0) // 1000000) // 3600
       |           AS h
       |  FROM f LEFT JOIN p USING (user_id)),
       |obs AS (
       |  SELECT CASE WHEN h IS NOT NULL AND h <= $SURV_HORIZON_H
       |              THEN h ELSE $SURV_HORIZON_H END AS t,
       |         CASE WHEN h IS NOT NULL AND h <= $SURV_HORIZON_H
       |              THEN 1 ELSE 0 END AS death
       |  FROM hrs),
       |per_t AS (
       |  SELECT t, CAST(count(*) AS BIGINT) AS m,
       |         CAST(sum(death) AS BIGINT) AS d
       |  FROM obs GROUP BY t),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM obs),
       |risk AS (
       |  SELECT t, d,
       |         CAST(n_users - coalesce(sum(m) OVER (ORDER BY t
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |           AS BIGINT) AS n_risk
       |  FROM per_t CROSS JOIN tot),
       |km AS (
       |  SELECT t, n_risk, d,
       |         ((n_risk - d) * 2000000 + n_risk) // (2 * n_risk) AS f6
       |  FROM risk WHERE d > 0),
       |arr AS (
       |  SELECT t, n_risk, d,
       |         list(f6) OVER (ORDER BY t
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fs
       |  FROM km)
       |SELECT t AS t_hours, n_risk, d,
       |       CAST((list_reduce(list_prepend(CAST(1000000 AS BIGINT), fs),
       |              (acc, x) -> (acc * x) // 1000000) + 50) // 100 AS DOUBLE)
       |         / 10000.0 AS surv
       |FROM arr ORDER BY t_hours""".stripMargin

  /** Nelson-Aalen cumulative hazard over the same time-to-first-purchase
    * observation frame as [[survival]] — H(t) = Σ_{t_i ≤ t} d_i/n_i, the
    * estimator a reliability/retention report pairs with the KM curve
    * (its slope is the instantaneous conversion intensity). Same at-risk
    * accounting (deaths-before-censoring ties), same scale posture: the
    * corpus collapses to per-user pairs in one scan, the windows run over
    * ≤ horizon+1 rows. Each increment d/n fixes to 1e-6 units by exact
    * integer rounding ((2·d·1e6 + n) div 2n — all operands positive, so
    * Spark's truncating `div` ≡ DuckDB's flooring `//`), and H is a plain
    * BIGINT running sum of the increments — arithmetic identity with the
    * oracle, no libm. */
  def nelsonAalen(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val first = e.groupBy("user_id").agg(min("ts").as("t0"))
    val purch = e.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min("ts").as("tp"))
    val obs = first.join(purch, Seq("user_id"), "left")
      .select(expr(
        "(unix_micros(tp) div 1000000 - unix_micros(t0) div 1000000) div 3600")
        .as("h"))
      .select(
        when(col("h").isNotNull && col("h") <= SURV_HORIZON_H, col("h"))
          .otherwise(lit(SURV_HORIZON_H)).as("t"),
        when(col("h").isNotNull && col("h") <= SURV_HORIZON_H, lit(1L))
          .otherwise(lit(0L)).as("death"))
    naOn(obs)
  }

  /** Nelson-Aalen core over the same (t, death) observation frame shape
    * as [[kmOn]] — one row per death time with the 1e-6-fixed cumulative
    * hazard. */
  private[graft] def naOn(obs: DataFrame): DataFrame = {
    val perT = obs.groupBy("t")
      .agg(count(lit(1)).as("m"), sum("death").as("d"))
    val tot = obs.agg(count(lit(1)).as("n_users"))
    val wLt = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    perT.join(broadcast(tot))
      .withColumn("n_risk",
        col("n_users") - coalesce(sum("m").over(wLt), lit(0L)))
      .filter(col("d") > 0)
      .withColumn("h6", expr("(2L * d * 1000000L + n_risk) div (2L * n_risk)"))
      .withColumn("cum6", sum("h6").over(wCum))
      .select(col("t").as("t_hours"), col("n_risk"), col("d"),
        (expr("(cum6 + 50L) div 100L").cast("double") / lit(10000.0d))
          .as("cumhaz"))
      .orderBy("t_hours")
  }

  private val nelsonAalenSql =
    s"""WITH f AS (SELECT user_id, min(ts) AS t0 FROM events GROUP BY user_id),
       |p AS (SELECT user_id, min(ts) AS tp FROM events
       |      WHERE event_type = 'purchase' GROUP BY user_id),
       |hrs AS (
       |  SELECT (epoch_us(tp) // 1000000 - epoch_us(t0) // 1000000) // 3600
       |           AS h
       |  FROM f LEFT JOIN p USING (user_id)),
       |obs AS (
       |  SELECT CASE WHEN h IS NOT NULL AND h <= $SURV_HORIZON_H
       |              THEN h ELSE $SURV_HORIZON_H END AS t,
       |         CASE WHEN h IS NOT NULL AND h <= $SURV_HORIZON_H
       |              THEN 1 ELSE 0 END AS death
       |  FROM hrs),
       |per_t AS (
       |  SELECT t, CAST(count(*) AS BIGINT) AS m,
       |         CAST(sum(death) AS BIGINT) AS d
       |  FROM obs GROUP BY t),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM obs),
       |risk AS (
       |  SELECT t, d,
       |         CAST(n_users - coalesce(sum(m) OVER (ORDER BY t
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |           AS BIGINT) AS n_risk
       |  FROM per_t CROSS JOIN tot),
       |na AS (
       |  SELECT t, n_risk, d,
       |         (2 * d * 1000000 + n_risk) // (2 * n_risk) AS h6
       |  FROM risk WHERE d > 0)
       |SELECT t AS t_hours, n_risk, d,
       |       CAST((CAST(sum(h6) OVER (ORDER BY t
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |             AS BIGINT) + 50) // 100 AS DOUBLE) / 10000.0 AS cumhaz
       |FROM na ORDER BY t_hours""".stripMargin

  /** CUSUM changepoint location over the daily event-volume series —
    * where the cumulative deviation from a flat rate peaks. Computed
    * ENTIRELY in integers: with T days, grand total N, and running total
    * C_t after t days, the scaled statistic S_t = T·C_t − t·N (the
    * textbook Σ(x−mean) times T) is exact BIGINT arithmetic — no FP
    * anywhere, so the oracle comparison is arithmetic identity. The
    * per-day frame (≤ a few hundred rows at any corpus size: it is
    * calendar-bounded) is the only thing windows touch. */
  def cusum(s: SparkSession, dir: String): DataFrame =
    cusumOn(Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events")))

  /** CUSUM core over a (day, n_events) series frame. */
  private[graft] def cusumOn(daily: DataFrame): DataFrame = {
    val stats = daily.agg(count(lit(1)).as("n_days"),
      sum("n_events").as("n_total"))
    val w = Window.orderBy("day")
    val base = daily.join(broadcast(stats))
      .withColumn("t_idx", row_number().over(w).cast("long"))
      .withColumn("cum",
        sum("n_events").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("day"), col("n_events"),
        (col("n_days") * col("cum") - col("t_idx") * col("n_total"))
          .as("cusum"))
    val mx = base.agg(max(abs(col("cusum"))).as("mx"))
    base.join(broadcast(mx))
      .select(col("day"), col("n_events"), col("cusum"),
        (abs(col("cusum")) === col("mx")).as("is_peak"))
      .orderBy("day")
  }

  private val cusumSql =
    """WITH d AS (
      |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_events
      |  FROM events GROUP BY 1),
      |s AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
      |             CAST(sum(n_events) AS BIGINT) AS n_total FROM d),
      |c AS (
      |  SELECT day, n_events,
      |         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t_idx,
      |         CAST(sum(n_events) OVER (ORDER BY day
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |           AS cum
      |  FROM d),
      |x AS (
      |  SELECT day, n_events,
      |         s.n_days * cum - t_idx * s.n_total AS cusum
      |  FROM c CROSS JOIN s)
      |SELECT day, n_events, cusum,
      |       abs(cusum) = (SELECT max(abs(cusum)) FROM x) AS is_peak
      |FROM x ORDER BY day""".stripMargin

  /** Two-level BINARY SEGMENTATION over the exact CUSUM statistic — the
    * standard multiple-changepoint recipe: locate the global |S| peak τ,
    * split the series there, and re-run the identical statistic on each
    * side, yielding the second-level candidates a step-trend report
    * drills into. Every number stays the exact BIGINT T·C_t − t·N
    * statistic ([[cusumOn]]); τ is the EARLIEST argmax (min-day
    * tiebreak), so the split — and therefore everything downstream — is
    * engine-identical. Output: one row per segment (all/left/right) with
    * its size, earliest peak day, and peak statistic. The corpus
    * collapses to the daily frame once; each segment pass runs over ≤
    * calendar-days rows. */
  def binarySegmentation(s: SparkSession, dir: String): DataFrame =
    binarySegmentationOn(Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events")))

  /** Segmentation core over a (day, n_events) daily frame. */
  private[graft] def binarySegmentationOn(daily0: DataFrame): DataFrame = {
    val sess = daily0.sparkSession
    // The daily frame is ≤ calendar-days rows but sits on an events scan;
    // cache it once — the tau probe plus the segment pass would otherwise
    // each re-aggregate the corpus. The 3-row census is materialized
    // below, so the cache can be released before returning (laziness
    // loses nothing and the executor memory is handed back).
    val daily = daily0.cache()
    try {
      val tau = cusumOn(daily).filter(col("is_peak"))
        .agg(min("day")).collect()(0).getDate(0)
      // With τ known, every day belongs to "all" plus exactly one of
      // left/right — explode the membership and run the statistic for all
      // three segments in ONE window pass partitioned by segment (a single
      // exchange; segments compute in parallel), instead of three separate
      // single-partition global-window builds.
      val wSeg = Window.partitionBy("segment")
      val wOrd = wSeg.orderBy("day")
      val cus = daily.select(explode(array(lit("all"),
          when(col("day") <= lit(tau), "left").otherwise("right")))
          .as("segment"), col("day"), col("n_events"))
        .withColumn("n_days", count(lit(1)).over(wSeg))
        .withColumn("n_total", sum("n_events").over(wSeg))
        .withColumn("t_idx", row_number().over(wOrd).cast("long"))
        .withColumn("cum",
          sum("n_events").over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("segment"), col("day"), col("n_days"),
          abs(col("n_days") * col("cum") - col("t_idx") * col("n_total"))
            .as("s_abs"))
        .withColumn("mx", max("s_abs").over(wSeg))
      // Earliest argmax per segment, same tiebreak as [[cusumOn]]'s is_peak.
      val agg = cus.groupBy(col("segment"))
        .agg(first("n_days").as("n_days"),
          min(when(col("s_abs") === col("mx"), col("day"))).as("peak_day"),
          max("s_abs").as("s_stat"))
      val got = agg.collect().map(r => r.getString(0) -> r).toMap
      // A segment with no days (τ = last day, e.g. a single-day corpus)
      // must still emit the oracle's empty-input aggregate row:
      // count(*) = 0, min/max = NULL — groupBy alone would drop it.
      val schema = org.apache.spark.sql.types.StructType(
        agg.schema.fields.map(_.copy(nullable = true)))
      val rows: java.util.List[org.apache.spark.sql.Row] =
        java.util.Arrays.asList(Seq("all", "left", "right").map(seg =>
          got.getOrElse(seg,
            org.apache.spark.sql.Row(seg, 0L, null, null))): _*)
      sess.createDataFrame(rows, schema)
    } finally daily.unpersist()
  }

  private val binarySegmentationSql = {
    def segSql(dcte: String, seg: String): String =
      s"""s_$seg AS (SELECT CAST(count(*) AS BIGINT) AS nd,
         |           CAST(sum(n_events) AS BIGINT) AS nt FROM $dcte),
         |c_$seg AS (
         |  SELECT day,
         |         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS ti,
         |         CAST(sum(n_events) OVER (ORDER BY day
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) AS cum
         |  FROM $dcte),
         |x_$seg AS (
         |  SELECT day, s.nd * cum - ti * s.nt AS cusum
         |  FROM c_$seg CROSS JOIN s_$seg s),
         |p_$seg AS (
         |  SELECT min(day) AS peak_day,
         |         CAST(max(abs(cusum)) AS BIGINT) AS s_stat,
         |         (SELECT nd FROM s_$seg) AS n_days
         |  FROM x_$seg
         |  WHERE abs(cusum) = (SELECT max(abs(cusum)) FROM x_$seg))"""
        .stripMargin
    s"""WITH d AS (
       |  SELECT CAST(ts AS DATE) AS day,
       |         CAST(count(*) AS BIGINT) AS n_events
       |  FROM events GROUP BY 1),
       |${segSql("d", "all")},
       |tau AS (SELECT peak_day AS tau FROM p_all),
       |dl AS (SELECT day, n_events FROM d CROSS JOIN tau
       |       WHERE day <= tau),
       |dr AS (SELECT day, n_events FROM d CROSS JOIN tau
       |       WHERE day > tau),
       |${segSql("dl", "left")},
       |${segSql("dr", "right")}
       |SELECT segment, n_days, peak_day, s_stat FROM (
       |  SELECT 'all' AS segment, n_days, peak_day, s_stat FROM p_all
       |  UNION ALL
       |  SELECT 'left', n_days, peak_day, s_stat FROM p_left
       |  UNION ALL
       |  SELECT 'right', n_days, peak_day, s_stat FROM p_right)
       |ORDER BY segment""".stripMargin
  }

  /** Bootstrap replicate count. */
  private val BOOT_B = 32

  /** Cumulative Poisson(1) CDF × 2³², as 8-digit lowercase hex — the
    * inverse-CDF thresholds a uniform hash draw is compared against
    * (lexicographic compare of fixed-width lowercase hex IS the numeric
    * compare). Weights land 0..8, else 9 (P ≈ 1.1e-7). */
  private val POISSON_HEX = Seq(
    "5e2d58d8", "bc5ab1b1", "eb715e1d", "fb239797", "ff1025f5",
    "ffd90f3b", "fffa8b71", "ffff540c", "ffffed1f")

  /** Poisson-bootstrap 95% confidence interval for mean(o_totalprice) —
    * the resampling scheme that actually works at 100 TB: instead of
    * materializing B resampled copies of the corpus (B× shuffle), every
    * row draws B independent Poisson(1) replication weights from a
    * keyed hash and each replicate keeps a (Σw·x, Σw) counter pair —
    * one scan, map-side combine into B=32 groups, zero data movement.
    * The draws are 8-hex slices of md5(orderkey_group) mapped through
    * the Poisson inverse CDF, so both engines reproduce the identical
    * resample from nothing but the row key.
    * Prices are fixed to integer cents so the replicate sums are exact
    * BIGINTs; each replicate mean is one double division, and the CI is
    * the exact interpolated quantile over the 32 replicate means (the
    * engine-portable percentile ↔ quantile_cont pair). */
  def bootstrapCi(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"),
        floor(col("o_totalprice") * lit(100.0d) + lit(0.5d)).cast("long")
          .as("cents"))
    val wCol = POISSON_HEX.zipWithIndex.reverse
      .foldLeft(lit(9L)) { case (els, (hx, k)) =>
        when(col("h") < lit(hx), lit(k.toLong)).otherwise(els)
      }
    // one md5 digest feeds FOUR 8-hex draws (the digest is 32 hex chars),
    // so each row pays B/4 hashes, not B — md5 is the dominant per-row
    // cost of the whole query. Replicate id b = 4·group + slot.
    val perB = o
      .select(col("o_orderkey"), col("cents"),
        explode(sequence(lit(0), lit(BOOT_B / 4 - 1))).as("g"))
      .select(col("cents"), col("g"),
        md5(concat(col("o_orderkey").cast("string"), lit("_"),
          col("g").cast("string"))).as("hx"))
      .select(col("cents"), col("g"), explode(sequence(lit(0), lit(3))).as("i"),
        col("hx"))
      .select(col("cents"), (col("g") * 4 + col("i")).as("b"),
        expr("substring(hx, i * 8 + 1, 8)").as("h"))
      .select(col("b"), col("cents"), wCol.as("w"))
      .groupBy("b")
      .agg(sum(col("w") * col("cents")).as("swc"), sum("w").as("sw"))
    val means = perB.select((col("swc").cast("double")
      / col("sw").cast("double") / lit(100.0d)).as("mean_b"))
    val ci = means.agg(
      expr("percentile(mean_b, array(0.025D, 0.5D, 0.975D))").as("q"))
    val pe = o.agg(sum("cents").as("sc"), count(lit(1)).as("n"))
    pe.join(broadcast(ci))
      .select(col("n").as("n_orders"), lit(BOOT_B.toLong).as("n_reps"),
        (floor(col("sc").cast("double") / col("n").cast("double")
          / lit(100.0d) * lit(10000.0d) + lit(0.5d)) / lit(10000.0d))
          .as("point_est"),
        (floor(element_at(col("q"), 1) * lit(10000.0d) + lit(0.5d))
          / lit(10000.0d)).as("ci_lo"),
        (floor(element_at(col("q"), 2) * lit(10000.0d) + lit(0.5d))
          / lit(10000.0d)).as("ci_med"),
        (floor(element_at(col("q"), 3) * lit(10000.0d) + lit(0.5d))
          / lit(10000.0d)).as("ci_hi"))
  }

  private val bootstrapCiSql = {
    val cases = POISSON_HEX.zipWithIndex
      .map { case (hx, k) => s"WHEN h < '$hx' THEN $k" }
      .mkString(" ")
    s"""WITH o AS (
       |  SELECT o_orderkey,
       |         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
       |  FROM orders),
       |r AS (
       |  SELECT o_orderkey, cents, g
       |  FROM o CROSS JOIN (SELECT unnest(range(0, ${BOOT_B / 4})) AS g)),
       |hx AS (
       |  SELECT cents, g,
       |         md5(CAST(o_orderkey AS VARCHAR) || '_'
       |             || CAST(g AS VARCHAR)) AS hx
       |  FROM r),
       |u AS (
       |  SELECT cents, g * 4 + i AS b, substr(hx, i * 8 + 1, 8) AS h
       |  FROM hx CROSS JOIN (SELECT unnest(range(0, 4)) AS i)),
       |w AS (SELECT b, cents, CASE $cases ELSE 9 END AS w FROM u),
       |m AS (
       |  SELECT b, CAST(sum(w * cents) AS BIGINT) AS swc,
       |         CAST(sum(w) AS BIGINT) AS sw
       |  FROM w GROUP BY b),
       |q AS (
       |  SELECT quantile_cont(CAST(swc AS DOUBLE) / CAST(sw AS DOUBLE)
       |           / 100.0, [0.025, 0.5, 0.975]) AS q
       |  FROM m),
       |pe AS (SELECT CAST(sum(cents) AS BIGINT) AS sc,
       |              CAST(count(*) AS BIGINT) AS n FROM o)
       |SELECT n AS n_orders, CAST($BOOT_B AS BIGINT) AS n_reps,
       |       floor(CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) / 100.0
       |             * 10000.0 + 0.5) / 10000.0 AS point_est,
       |       floor(q[1] * 10000.0 + 0.5) / 10000.0 AS ci_lo,
       |       floor(q[2] * 10000.0 + 0.5) / 10000.0 AS ci_med,
       |       floor(q[3] * 10000.0 + 0.5) / 10000.0 AS ci_hi
       |FROM pe CROSS JOIN q""".stripMargin
  }

  /** Seasonal-naive forecast error: predict each day's per-type event
    * count with the count from 7 days earlier, and score with WMAPE
    * (Σ|x−x̂| / Σx) — the denominator-weighted form whose sums are exact
    * BIGINTs, unlike MAPE's order-dependent per-day double ratios. The
    * lag is an EQUI join on (type, day+7) — the lag-join learning: never
    * an inequality join for a fixed offset. This is the baseline any
    * real forecast must beat, and the standard sanity row in a forecast
    * eval sheet. Day frame is calendar-bounded. */
  def seasonalNaive(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val lag = daily.select(col("event_type"),
      date_add(col("day"), 7).as("day"), col("x").as("xhat"))
    daily.join(lag, Seq("event_type", "day"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("x") - col("xhat"))).as("sae"), sum("x").as("sx"))
      .select(col("event_type"), col("n_days"),
        (floor(col("sae").cast("double") / col("sx").cast("double")
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("wmape"))
      .orderBy("event_type")
  }

  private val seasonalNaiveSql =
    """WITH d AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |         CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |l AS (SELECT event_type, day + 7 AS day, x AS xhat FROM d)
      |SELECT d.event_type, CAST(count(*) AS BIGINT) AS n_days,
      |       floor(CAST(sum(abs(d.x - l.xhat)) AS DOUBLE)
      |             / CAST(sum(d.x) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
      |         AS wmape
      |FROM d JOIN l ON d.event_type = l.event_type AND d.day = l.day
      |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin

  /** Mutual information (and normalized MI) between a document's source
    * and its language — the categorical-dependence number that answers
    * "does routing by source skew the language mix" (χ² tests existence;
    * MI measures magnitude in nats). Exactness: every cell term is
    * n_sl · floor-fixed-ln of a ratio of BIGINT products, so the sums
    * are order-free BIGINT arithmetic; the entropies get the same
    * treatment and feed one final NMI division. All frames past the one
    * corpus scan are |sources|×|languages|-sized. */
  def mutualInfo(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(s, dir)
      .groupBy("source", "lang").agg(count(lit(1)).as("n_sl"))
    val bySrc = cells.groupBy("source").agg(sum("n_sl").as("n_s"))
    val byLang = cells.groupBy("lang").agg(sum("n_sl").as("n_l"))
    val tot = cells.agg(sum("n_sl").as("n"))
    val fixedLn = (x: org.apache.spark.sql.Column) =>
      floor(log(x) * lit(1000000.0d) + lit(0.5d)).cast("long")
    val sums = cells.join(bySrc, "source").join(byLang, "lang")
      .join(broadcast(tot))
      .select(col("n_sl"), col("n_s"), col("n_l"), col("n"),
        (col("n_sl") * fixedLn((col("n_sl") * col("n")).cast("double")
          / (col("n_s") * col("n_l")).cast("double"))).as("mi_t"))
      .agg(count(lit(1)).as("n_cells"), sum("mi_t").as("mi_f"))
    val hs = bySrc.join(broadcast(tot))
      .agg(sum(col("n_s") * fixedLn(col("n_s").cast("double")
        / col("n").cast("double"))).as("hs_f"))
    val hl = byLang.join(broadcast(tot))
      .agg(sum(col("n_l") * fixedLn(col("n_l").cast("double")
        / col("n").cast("double"))).as("hl_f"))
    sums.join(broadcast(hs)).join(broadcast(hl)).join(broadcast(tot))
      .select(col("n_cells"),
        fix4(col("mi_f").cast("double") / col("n").cast("double")
          / lit(1000000.0d)).as("mi_nats"),
        fix4(-col("hs_f").cast("double") / col("n").cast("double")
          / lit(1000000.0d)).as("h_source"),
        fix4(-col("hl_f").cast("double") / col("n").cast("double")
          / lit(1000000.0d)).as("h_lang"),
        fix4((col("mi_f").cast("double") / col("n").cast("double")
          / lit(1000000.0d))
          / sqrt((-col("hs_f").cast("double") / col("n").cast("double")
            / lit(1000000.0d))
            * (-col("hl_f").cast("double") / col("n").cast("double")
              / lit(1000000.0d)))).as("nmi"))
  }

  private val mutualInfoSql =
    """WITH c AS (
      |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_sl
      |  FROM documents GROUP BY 1, 2),
      |s AS (SELECT source, CAST(sum(n_sl) AS BIGINT) AS n_s FROM c GROUP BY 1),
      |l AS (SELECT lang, CAST(sum(n_sl) AS BIGINT) AS n_l FROM c GROUP BY 1),
      |t AS (SELECT CAST(sum(n_sl) AS BIGINT) AS n FROM c),
      |mi AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_cells,
      |         CAST(sum(n_sl * CAST(floor(ln(CAST(n_sl * n AS DOUBLE)
      |           / CAST(n_s * n_l AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT))
      |           AS BIGINT) AS mi_f
      |  FROM c JOIN s USING (source) JOIN l USING (lang) CROSS JOIN t),
      |hs AS (
      |  SELECT CAST(sum(n_s * CAST(floor(ln(CAST(n_s AS DOUBLE)
      |           / CAST(n AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT))
      |           AS BIGINT) AS hs_f
      |  FROM s CROSS JOIN t),
      |hl AS (
      |  SELECT CAST(sum(n_l * CAST(floor(ln(CAST(n_l AS DOUBLE)
      |           / CAST(n AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT))
      |           AS BIGINT) AS hl_f
      |  FROM l CROSS JOIN t)
      |SELECT n_cells,
      |       floor(CAST(mi_f AS DOUBLE) / n / 1000000.0 * 10000.0 + 0.5)
      |         / 10000.0 AS mi_nats,
      |       floor(-CAST(hs_f AS DOUBLE) / n / 1000000.0 * 10000.0 + 0.5)
      |         / 10000.0 AS h_source,
      |       floor(-CAST(hl_f AS DOUBLE) / n / 1000000.0 * 10000.0 + 0.5)
      |         / 10000.0 AS h_lang,
      |       floor((CAST(mi_f AS DOUBLE) / n / 1000000.0)
      |             / sqrt((-CAST(hs_f AS DOUBLE) / n / 1000000.0)
      |                    * (-CAST(hl_f AS DOUBLE) / n / 1000000.0))
      |             * 10000.0 + 0.5) / 10000.0 AS nmi
      |FROM mi CROSS JOIN hs CROSS JOIN hl CROSS JOIN t""".stripMargin

  /** Mann-Whitney U (Wilcoxon rank-sum) — the nonparametric two-sample
    * location test a pipeline runs when distributions are skewed and a
    * t-test's normality assumption is junk (here: are English documents
    * longer than non-English?). EVERYTHING sufficient is exact integer:
    * ranks arrive as DOUBLED midranks (2·avg = 2s + t − 1 per tie group,
    * so ties never produce fractions), the rank sum and the tie
    * correction Σ(t³−t) are BIGINT, and the z-score's floating sequence
    * runs once over those exact stats (identical IEEE op order in the
    * oracle). Shape: one scan → per-(value, group) counts (value-domain-
    * sized, the q_equidepth precedent), a bounded prefix window over
    * DISTINCT values, one final 1-row reduce. */
  def mannWhitney(s: SparkSession, dir: String): DataFrame =
    mannWhitneyOn(Tables.documents(s, dir))

  /** [[mannWhitney]] over an explicit (n_chars, lang) frame — the
    * planted-semantics seam. */
  private[graft] def mannWhitneyOn(docs: DataFrame): DataFrame = {
    val byVal = docs
      .select(col("n_chars"),
        when(col("lang") === "en", 1L).otherwise(0L).as("is_en"))
      .groupBy("n_chars")
      .agg(count(lit(1)).as("t"), sum("is_en").as("t1"))
    val w = Window.orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = byVal
      // 2·midrank of the tie group at prefix position s: 2s + t − 1,
      // with s = (running count) − t counted BEFORE the group
      .withColumn("cum", sum("t").over(w))
      .withColumn("r2", lit(2L) * (col("cum") - col("t")) + col("t") + lit(1L))
    val agg = ranked.agg(
      sum("t").as("n"), sum("t1").as("n1"),
      sum(col("t1") * col("r2")).as("r1x2"),
      sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
    agg.select(
        col("n1"), (col("n") - col("n1")).as("n2"), col("n"),
        (col("r1x2") - col("n1") * (col("n1") + lit(1L))).as("u1x2"),
        col("ties"))
      // z = (U1 − n1·n2/2) / sqrt(n1·n2/12·((N+1) − Σ(t³−t)/(N(N−1)))) —
      // one fixed double sequence over exact integers, then fix4. The
      // N(N−1) denominator is floored at 1 (exact: ties = 0 when N ≤ 1)
      // and a zero variance (all values identical) yields a NULL z
      // instead of an ANSI divide-by-zero — degenerate inputs must
      // surface, not throw (the exactQuantiles precedent).
      .withColumn("varx",
        col("n1").cast("double") * col("n2").cast("double") / lit(12.0d)
          * ((col("n").cast("double") + lit(1.0d))
            - col("ties").cast("double")
              / greatest(col("n").cast("double")
                * (col("n").cast("double") - lit(1.0d)), lit(1.0d))))
      .select(col("n1"), col("n2"),
        col("u1x2"),
        when(col("varx") > 0d,
          floor((col("u1x2").cast("double") / lit(2.0d)
              - col("n1").cast("double") * col("n2").cast("double")
                / lit(2.0d))
            / sqrt(col("varx"))
            * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("z"),
        // rank-biserial effect size r = 1 − 2·U1/(n1·n2), in the same
        // exact-numerator discipline
        (floor((lit(1.0d) - col("u1x2").cast("double")
            / (col("n1").cast("double") * col("n2").cast("double")))
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("rank_biserial"))
  }

  private val mannWhitneySql =
    """WITH bv AS (
      |  SELECT n_chars, CAST(count(*) AS BIGINT) AS t,
      |         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
      |           AS t1
      |  FROM documents GROUP BY n_chars),
      |rk AS (
      |  SELECT t, t1,
      |         2 * (sum(t) OVER (ORDER BY n_chars
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t)
      |           + t + 1 AS r2
      |  FROM bv),
      |a AS (
      |  SELECT CAST(sum(t) AS BIGINT) AS n, CAST(sum(t1) AS BIGINT) AS n1,
      |         CAST(sum(t1 * r2) AS BIGINT) AS r1x2,
      |         CAST(sum(t * t * t - t) AS BIGINT) AS ties
      |  FROM rk),
      |b AS (SELECT n1, n - n1 AS n2, n,
      |             r1x2 - n1 * (n1 + 1) AS u1x2, ties FROM a),
      |v AS (SELECT *,
      |             CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
      |               * ((CAST(n AS DOUBLE) + 1.0)
      |                 - CAST(ties AS DOUBLE)
      |                   / greatest(CAST(n AS DOUBLE)
      |                       * (CAST(n AS DOUBLE) - 1.0), 1.0)) AS varx
      |      FROM b)
      |SELECT n1, n2, u1x2,
      |       CASE WHEN varx > 0 THEN
      |         floor((CAST(u1x2 AS DOUBLE) / 2.0
      |                - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
      |               / sqrt(varx)
      |               * 10000.0 + 0.5) / 10000.0 END AS z,
      |       floor((1.0 - CAST(u1x2 AS DOUBLE)
      |              / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))
      |             * 10000.0 + 0.5) / 10000.0 AS rank_biserial
      |FROM v""".stripMargin

  /** Welch's unequal-variance t-test — [[mannWhitney]]'s parametric
    * twin on the same question (are English documents longer?), the
    * test a pipeline reports when means, not ranks, are the deliverable.
    * No pooled-variance assumption: t = (m₁−m₂)/√(v₁/n₁+v₂/n₂) with the
    * Welch–Satterthwaite df.
    *
    * Exactness: both groups' sufficient statistics (n, Σx, Σx²) are
    * exact integer sums PIVOTED WIDE by conditional aggregation, so the
    * whole t/df/Cohen's-d computation is ONE fixed IEEE sequence over
    * six exact integers on one row — no cross-group float sum exists to
    * be order-dependent. Sums ride DECIMAL(38,0) (Σx² passes int64 at
    * the 10¹¹-doc posture). Zero-variance degenerates yield NULL t
    * rather than an ANSI divide error ([[mannWhitney]] precedent).
    * Shape: one scan, one 1-row reduce. */
  def welchTtest(s: SparkSession, dir: String): DataFrame =
    welchTtestOn(Tables.documents(s, dir))

  /** [[welchTtest]] over an explicit (n_chars, lang) frame. */
  private[graft] def welchTtestOn(docs: DataFrame): DataFrame = {
    val x = col("n_chars").cast("decimal(38,0)")
    val en = col("lang") === "en"
    val w = docs.agg(
      sum(when(en, 1L).otherwise(0L)).as("n1"),
      sum(when(!en, 1L).otherwise(0L)).as("n2"),
      sum(when(en, x).otherwise(lit(0L))).as("s1"),
      sum(when(!en, x).otherwise(lit(0L))).as("s2"),
      sum(when(en, x * x).otherwise(lit(0L))).as("q1"),
      sum(when(!en, x * x).otherwise(lit(0L))).as("q2"))
    def d(c: String) = col(c).cast("double")
    // sample variances v_i = (Σx² − (Σx)²/n) / (n−1), then the Welch
    // sequence — every operand exact, identical operand order in SQL
    val withV = w
      .withColumn("v1", (d("q1") - d("s1") * d("s1") / d("n1"))
        / (d("n1") - lit(1.0d)))
      .withColumn("v2", (d("q2") - d("s2") * d("s2") / d("n2"))
        / (d("n2") - lit(1.0d)))
      .withColumn("se2", col("v1") / d("n1") + col("v2") / d("n2"))
    withV.select(
      col("n1").cast("bigint").as("n1"), col("n2").cast("bigint").as("n2"),
      fix4(d("s1") / d("n1")).as("mean_en"),
      fix4(d("s2") / d("n2")).as("mean_other"),
      when(col("se2") > 0d,
        fix4((d("s1") / d("n1") - d("s2") / d("n2")) / sqrt(col("se2"))))
        .as("t"),
      when(col("se2") > 0d,
        fix4(col("se2") * col("se2")
          / (col("v1") * col("v1") / (d("n1") * d("n1") * (d("n1") - 1.0d))
            + col("v2") * col("v2")
              / (d("n2") * d("n2") * (d("n2") - 1.0d))))).as("df"),
      when(col("se2") > 0d,
        fix4((d("s1") / d("n1") - d("s2") / d("n2"))
          / sqrt(((d("n1") - 1.0d) * col("v1") + (d("n2") - 1.0d) * col("v2"))
            / (d("n1") + d("n2") - 2.0d)))).as("cohens_d"))
  }

  private val welchTtestSql =
    """WITH w AS (
      |  SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n1,
      |         CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT)
      |           AS n2,
      |         sum(CASE WHEN lang = 'en'
      |             THEN CAST(n_chars AS DECIMAL(38,0)) ELSE 0 END) AS s1,
      |         sum(CASE WHEN lang = 'en'
      |             THEN 0 ELSE CAST(n_chars AS DECIMAL(38,0)) END) AS s2,
      |         sum(CASE WHEN lang = 'en'
      |             THEN CAST(n_chars AS DECIMAL(38,0)) * n_chars
      |             ELSE 0 END) AS q1,
      |         sum(CASE WHEN lang = 'en'
      |             THEN 0
      |             ELSE CAST(n_chars AS DECIMAL(38,0)) * n_chars END) AS q2
      |  FROM documents),
      |v AS (
      |  SELECT n1, n2, s1, s2,
      |         (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
      |            / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0) AS v1,
      |         (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
      |            / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0) AS v2
      |  FROM w),
      |v2t AS (
      |  SELECT *, v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE) AS se2
      |  FROM v)
      |SELECT n1, n2,
      |       floor(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) * 10000.0 + 0.5)
      |         / 10000.0 AS mean_en,
      |       floor(CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) * 10000.0 + 0.5)
      |         / 10000.0 AS mean_other,
      |       CASE WHEN se2 > 0 THEN
      |         floor((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |                - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
      |               / sqrt(se2) * 10000.0 + 0.5) / 10000.0 END AS t,
      |       CASE WHEN se2 > 0 THEN
      |         floor(se2 * se2
      |               / (v1 * v1 / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)
      |                             * (CAST(n1 AS DOUBLE) - 1.0))
      |                  + v2 * v2 / (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE)
      |                               * (CAST(n2 AS DOUBLE) - 1.0)))
      |               * 10000.0 + 0.5) / 10000.0 END AS df,
      |       CASE WHEN se2 > 0 THEN
      |         floor((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |                - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
      |               / sqrt(((CAST(n1 AS DOUBLE) - 1.0) * v1
      |                       + (CAST(n2 AS DOUBLE) - 1.0) * v2)
      |                      / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0))
      |               * 10000.0 + 0.5) / 10000.0 END AS cohens_d
      |FROM v2t""".stripMargin

  /** One-way ANOVA F across all languages — [[kruskalWallis]]'s
    * parametric twin, same omnibus question on means instead of ranks.
    * F = (SSB/(k−1)) / (SSW/(N−k)).
    *
    * FP determinism across k groups (the [[kruskalWallis]] discipline):
    * each group's SSB and SSW contributions are computed as one fixed
    * IEEE sequence over that group's exact integers (n_g, Σx_g, Σx²_g,
    * global N, Σx) and quantized to 1e-3 units BEFORE the order-free
    * BIGINT cross-group sum:
    *   ssw_g = Σx²_g − (Σx_g)²/n_g
    *   ssb_g = n_g·(Σx_g/n_g − Σx/N)²
    * Shape: one scan → per-group integer stats (k rows) → 1-row totals
    * broadcast back → k-row reduce. */
  def anovaF(s: SparkSession, dir: String): DataFrame =
    anovaFOn(Tables.documents(s, dir))

  /** [[anovaF]] over an explicit (n_chars, lang) frame. */
  private[graft] def anovaFOn(docs: DataFrame): DataFrame = {
    val x = col("n_chars").cast("decimal(38,0)")
    val g = docs.groupBy("lang").agg(
      count(lit(1)).as("n_g"), sum(x).as("s_g"), sum(x * x).as("q_g"))
    val tot = g.agg(sum("n_g").as("n"), sum("s_g").as("s"),
      count(lit(1)).as("k"))
    def d(c: String) = col(c).cast("double")
    val per = g.crossJoin(broadcast(tot))
      .withColumn("ssw3",
        floor((d("q_g") - d("s_g") * d("s_g") / d("n_g")) * lit(1000.0d)
          + lit(0.5d)).cast("long"))
      .withColumn("ssb3",
        floor(d("n_g")
          * (d("s_g") / d("n_g") - d("s") / d("n"))
          * (d("s_g") / d("n_g") - d("s") / d("n")) * lit(1000.0d)
          + lit(0.5d)).cast("long"))
    val f = per.agg(sum("ssb3").as("ssb3"), sum("ssw3").as("ssw3"),
        first("n").as("n"), first("k").as("k"))
      .select(
        (col("k") - lit(1L)).as("df_between"),
        (col("n") - col("k")).cast("bigint").as("df_within"),
        fix4(col("ssb3").cast("double") / lit(1000.0d)).as("ss_between"),
        fix4(col("ssw3").cast("double") / lit(1000.0d)).as("ss_within"),
        when(col("ssw3") > 0L && col("n").cast("long") > col("k"),
          fix4((col("ssb3").cast("double") / (col("k") - lit(1L))
            .cast("double"))
            / (col("ssw3").cast("double")
              / (col("n").cast("double") - col("k").cast("double")))))
          .as("f_stat"))
    g.select(col("lang"), col("n_g").as("n"),
        fix4(d("s_g") / d("n_g")).as("mean_chars"))
      .crossJoin(broadcast(f))
      .orderBy("lang")
  }

  private val anovaFSql =
    """WITH g AS (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS n_g,
      |         CAST(sum(CAST(n_chars AS DECIMAL(38,0))) AS DECIMAL(38,0))
      |           AS s_g,
      |         CAST(sum(CAST(n_chars AS DECIMAL(38,0)) * n_chars)
      |              AS DECIMAL(38,0)) AS q_g
      |  FROM documents GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(n_g) AS BIGINT) AS n,
      |         CAST(sum(s_g) AS DECIMAL(38,0)) AS s,
      |         CAST(count(*) AS BIGINT) AS k
      |  FROM g),
      |per AS (
      |  SELECT g.*, tot.n, tot.s, tot.k,
      |         CAST(floor((CAST(q_g AS DOUBLE)
      |                - CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
      |                  / CAST(n_g AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT)
      |           AS ssw3,
      |         CAST(floor(CAST(n_g AS DOUBLE)
      |                * (CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE)
      |                   - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
      |                * (CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE)
      |                   - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
      |                * 1000.0 + 0.5) AS BIGINT) AS ssb3
      |  FROM g CROSS JOIN tot),
      |f AS (
      |  SELECT CAST(any_value(k) - 1 AS BIGINT) AS df_between,
      |         CAST(any_value(n) - any_value(k) AS BIGINT) AS df_within,
      |         floor(CAST(sum(ssb3) AS DOUBLE) / 1000.0 * 10000.0 + 0.5)
      |           / 10000.0 AS ss_between,
      |         floor(CAST(sum(ssw3) AS DOUBLE) / 1000.0 * 10000.0 + 0.5)
      |           / 10000.0 AS ss_within,
      |         CASE WHEN CAST(sum(ssw3) AS BIGINT) > 0
      |                   AND any_value(n) > any_value(k) THEN
      |           floor((CAST(sum(ssb3) AS DOUBLE)
      |                  / (CAST(any_value(k) AS DOUBLE) - 1.0))
      |                 / (CAST(sum(ssw3) AS DOUBLE)
      |                    / (CAST(any_value(n) AS DOUBLE)
      |                       - CAST(any_value(k) AS DOUBLE)))
      |                 * 10000.0 + 0.5) / 10000.0 END AS f_stat
      |  FROM per)
      |SELECT lang, n_g AS n,
      |       floor(CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE) * 10000.0 + 0.5)
      |         / 10000.0 AS mean_chars,
      |       df_between, df_within, ss_between, ss_within, f_stat
      |FROM g CROSS JOIN f
      |ORDER BY lang""".stripMargin

  /** Kruskal-Wallis H — [[mannWhitney]]'s k-group generalization: does
    * document length differ across ALL languages at once (one omnibus
    * rank test instead of k² pairwise U tests with multiplicity
    * problems)? Same exact-integer rank machinery: ranks enter as
    * DOUBLED midranks over the (bounded) distinct-value domain, so every
    * sufficient statistic — per-group rank sums S2_g, sizes n_g, the tie
    * term Σ(t³−t) — is an exact integer (DECIMAL(38,0) sums: at the
    * 10¹¹-doc posture S2_g = Σ t_g·r2 exceeds int64).
    *
    * FP determinism across k groups: H = 3/(N(N+1))·Σ_g d_g²/n_g −
    * 3(N+1)·0 with d_g = S2_g − n_g(N+1) (the doubled-rank deviation
    * form; the −3(N+1) constant cancels into the deviation). A naive
    * float SUM over groups is summation-order-dependent, so each group's
    * contribution is quantized FIRST — h6_g = floor(3·d_g²/(n_g·N·(N+1))
    * ·1e6 + 0.5), one fixed IEEE sequence over exact integers per group
    * — and the order-free BIGINT sum of h6_g is the statistic. Tie
    * correction divides by c = 1 − Σ(t³−t)/(N³−N) (N³ computed in
    * doubles: both engines run the identical sequence).
    *
    * Shape: one scan → (n_chars, lang) counts (value×group-domain-sized),
    * a prefix window over DISTINCT values ([[mannWhitney]]'s bounded
    * frame), a group-domain-sized aggregate, one 1-row reduce broadcast
    * back onto the per-group rows. */
  def kruskalWallis(s: SparkSession, dir: String): DataFrame =
    kruskalWallisOn(Tables.documents(s, dir))

  /** [[kruskalWallis]] over an explicit (n_chars, lang) frame — the
    * planted-semantics seam. */
  private[graft] def kruskalWallisOn(docs: DataFrame): DataFrame = {
    val byVal = docs.groupBy("n_chars", "lang")
      .agg(count(lit(1)).as("tg"))
    val byValTot = byVal.groupBy("n_chars")
      .agg(sum("tg").as("t"))
    val w = Window.orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = byValTot
      .withColumn("cum", sum("t").over(w))
      .withColumn("r2", lit(2L) * (col("cum") - col("t")) + col("t") + lit(1L))
    val groups = byVal.join(ranked.select("n_chars", "r2"), "n_chars")
      .groupBy("lang")
      .agg(sum("tg").as("n_g"),
        sum(col("tg").cast("decimal(38,0)") * col("r2")).as("s2_g"))
    val totals = ranked.agg(
      sum("t").as("n"),
      sum(col("t").cast("decimal(38,0)") * col("t") * col("t") - col("t"))
        .as("ties"))
    val perGroup = groups.crossJoin(broadcast(totals))
      .withColumn("d_g",
        col("s2_g") - col("n_g").cast("decimal(38,0)") * (col("n") + lit(1L)))
      // one fixed IEEE sequence per group over exact integers, quantized
      // to 1e-6 BEFORE the cross-group sum (order-free BIGINT from here)
      .withColumn("h6_g",
        floor(lit(3.0d) * col("d_g").cast("double") * col("d_g").cast("double")
          / (col("n_g").cast("double") * col("n").cast("double")
            * (col("n").cast("double") + lit(1.0d)))
          * lit(1000000.0d) + lit(0.5d)).cast("long"))
    val h = perGroup.agg(
        sum("h6_g").as("h6"),
        count(lit(1)).as("k"),
        first("n").as("n"), first("ties").as("ties"))
      .withColumn("c_tie",
        lit(1.0d) - col("ties").cast("double")
          / greatest(col("n").cast("double") * col("n").cast("double")
            * col("n").cast("double") - col("n").cast("double"), lit(1.0d)))
      .select(col("k"),
        (col("k") - lit(1L)).as("df"),
        (floor(col("h6").cast("double") / lit(100.0d) + lit(0.5d))
          / lit(10000.0d)).as("h"),
        when(col("c_tie") > 0d,
          floor(col("h6").cast("double") / lit(1000000.0d) / col("c_tie")
            * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("h_tie_corrected"))
    perGroup.select(col("lang"), col("n_g").as("n"),
        (floor(col("s2_g").cast("double")
          / (lit(2.0d) * col("n_g").cast("double"))
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("mean_rank"))
      .crossJoin(broadcast(h))
      .orderBy("lang")
  }

  private val kruskalWallisSql =
    """WITH bv AS (
      |  SELECT n_chars, lang, CAST(count(*) AS BIGINT) AS tg
      |  FROM documents GROUP BY 1, 2),
      |bt AS (
      |  SELECT n_chars, CAST(sum(tg) AS BIGINT) AS t FROM bv GROUP BY 1),
      |rk AS (
      |  SELECT n_chars,
      |         2 * (sum(t) OVER (ORDER BY n_chars
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t)
      |           + t + 1 AS r2
      |  FROM bt),
      |g AS (
      |  SELECT lang, CAST(sum(tg) AS BIGINT) AS n_g,
      |         CAST(sum(CAST(tg AS DECIMAL(38,0)) * r2) AS DECIMAL(38,0))
      |           AS s2_g
      |  FROM bv JOIN rk USING (n_chars) GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(t) AS BIGINT) AS n,
      |         CAST(sum(CAST(t AS DECIMAL(38,0)) * t * t - t)
      |              AS DECIMAL(38,0)) AS ties
      |  FROM bt),
      |pg AS (
      |  SELECT lang, n_g, s2_g, n, ties,
      |         s2_g - CAST(n_g AS DECIMAL(38,0)) * (n + 1) AS d_g
      |  FROM g CROSS JOIN tot),
      |pg6 AS (
      |  SELECT *,
      |         CAST(floor(3.0 * CAST(d_g AS DOUBLE) * CAST(d_g AS DOUBLE)
      |                / (CAST(n_g AS DOUBLE) * CAST(n AS DOUBLE)
      |                   * (CAST(n AS DOUBLE) + 1.0))
      |                * 1000000.0 + 0.5) AS BIGINT) AS h6_g
      |  FROM pg),
      |h AS (
      |  SELECT CAST(count(*) AS BIGINT) AS k,
      |         CAST(count(*) - 1 AS BIGINT) AS df,
      |         CAST(sum(h6_g) AS BIGINT) AS h6,
      |         any_value(n) AS n, any_value(ties) AS ties
      |  FROM pg6),
      |hs AS (
      |  SELECT k, df,
      |         floor(CAST(h6 AS DOUBLE) / 100.0 + 0.5) / 10000.0 AS h,
      |         CASE WHEN 1.0 - CAST(ties AS DOUBLE)
      |                    / greatest(CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      |                               * CAST(n AS DOUBLE) - CAST(n AS DOUBLE),
      |                               1.0) > 0
      |           THEN floor(CAST(h6 AS DOUBLE) / 1000000.0
      |                  / (1.0 - CAST(ties AS DOUBLE)
      |                     / greatest(CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      |                                * CAST(n AS DOUBLE) - CAST(n AS DOUBLE),
      |                                1.0))
      |                  * 10000.0 + 0.5) / 10000.0 END AS h_tie_corrected
      |  FROM h)
      |SELECT lang, n_g AS n,
      |       floor(CAST(s2_g AS DOUBLE) / (2.0 * CAST(n_g AS DOUBLE))
      |             * 10000.0 + 0.5) / 10000.0 AS mean_rank,
      |       k, df, h, h_tie_corrected
      |FROM pg6 CROSS JOIN hs
      |ORDER BY lang""".stripMargin

  /** Exponentially-weighted moving average of the daily event volume per
    * event type, α = 1/2 — the smoothing a monitoring dashboard draws
    * under the raw series. α = 1/2 is not a simplification, it is the
    * choice that makes the recursion EXACT: with the state in 1e-6
    * units, e_t = (e_{t-1} + x_t·1e6) div 2 is pure BIGINT (dyadic
    * weights terminate, no FP accumulation, merge drift impossible), so
    * the oracle comparison is arithmetic identity via the same left fold
    * (`aggregate` here, `list_reduce` there), seeded e_1 = x_1·1e6.
    *
    * Scale posture: the corpus collapses to (type, day) counts in one
    * scan; the running collect_list runs per type over ≤ a few dozen
    * calendar days — the same aggregate-cardinality window discipline as
    * [[survival]]. The fold is O(days) per row over a calendar-bounded
    * array, not over facts. */
  def ewma(s: SparkSession, dir: String): DataFrame =
    ewmaOn(Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x")))

  /** EWMA core over an (event_type, day, x) daily frame. */
  private[graft] def ewmaOn(daily: DataFrame): DataFrame = {
    val wCum = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    daily.withColumn("xs", collect_list("x").over(wCum))
      .withColumn("e6", expr(
        """aggregate(slice(xs, 2, size(xs) - 1),
          |          element_at(xs, 1) * 1000000L,
          |          (acc, v) -> (acc + v * 1000000L) div 2L)""".stripMargin))
      .select(col("event_type"), col("day"), col("x"),
        (expr("(e6 + 50L) div 100L").cast("double") / lit(10000.0d))
          .as("ewma"))
      .orderBy("event_type", "day")
  }

  private val ewmaSql =
    """WITH d AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |         CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |l AS (
      |  SELECT event_type, day, x,
      |         list(x) OVER (PARTITION BY event_type ORDER BY day
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS xs
      |  FROM d)
      |SELECT event_type, day, x,
      |       CAST((list_reduce(list_transform(xs, v -> v * 1000000),
      |               (acc, v) -> (acc + v) // 2) + 50) // 100 AS DOUBLE)
      |         / 10000.0 AS ewma
      |FROM l ORDER BY event_type, day""".stripMargin

  /** Shift that turns truncating integer division into floor division on
    * both engines for the Holt fold: operands can go negative (a falling
    * series drives the trend term below zero), and Spark's `div`
    * truncates toward zero while DuckDB's `//` floors — they agree only
    * on non-negative operands, so every halving runs as
    * ((v + OFF) div 2) − OFF/2 with |v| ≪ OFF (the round-7 signed-divide
    * discipline). 2⁵⁰ keeps v + OFF < 2⁵¹ — no overflow headroom issues
    * against the ~10¹⁰ micro-unit state. */
  private val H_OFF = 1L << 50
  private val H_HALF = 1L << 49

  /** Holt's linear-trend smoothing of the per-type daily event volume —
    * [[ewma]]'s big sibling: EWMA tracks a level only and lags any
    * sustained ramp by a constant; Holt carries an explicit trend state
    * (level l_t, trend b_t) and its one-step forecast l + b is the
    * capacity number a planning dashboard actually wants. α = β = 1/2 —
    * the dyadic choice, same reason as EWMA's: both recurrences
    *   l_t = (y_t + l_{t−1} + b_{t−1}) / 2
    *   b_t = (b_{t−1} + (l_t − l_{t−1})) / 2
    * are then pure BIGINT halvings in 1e-6 units (seed l_1 = y_1,
    * b_1 = 0), so batch and oracle agree bit-for-bit via the same left
    * fold. The two-component state rides a 2-element ARRAY accumulator:
    * Spark's `aggregate` takes any accumulator type directly; DuckDB's
    * `list_reduce` requires acc ≡ element type, so the oracle lifts each
    * y into a singleton list and folds LIST(BIGINT) over LIST(LIST).
    *
    * Scale posture: identical to [[ewma]] — the stream collapses to
    * (type, day) counts in one scan, the fold runs over calendar-bounded
    * arrays, never facts. */
  def holt(s: SparkSession, dir: String): DataFrame =
    holtOn(Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x")))

  /** Holt core over an (event_type, day, x) daily frame. */
  private[graft] def holtOn(daily: DataFrame): DataFrame = {
    val wCum = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    // l' appears inside b's update, so the halving expression is spelled
    // twice — the fold stays a single expression in both engines
    val lNext = s"((v * 1000000L + element_at(acc, 1) + element_at(acc, 2)" +
      s" + ${H_OFF}L) div 2L) - ${H_HALF}L"
    // display rounding to 1e-4 via a floor-division shift (trend can be
    // negative; bare `div 100` would truncate toward zero on Spark only)
    def disp(e6: String) =
      s"cast(((($e6) + 50L + 1000000000000000L) div 100L)" +
        s" - 10000000000000L as double) / 10000.0d"
    daily.withColumn("xs", collect_list("x").over(wCum))
      .withColumn("st", expr(
        s"""aggregate(slice(xs, 2, size(xs) - 1),
           |          array(element_at(xs, 1) * 1000000L, 0L),
           |          (acc, v) -> array(
           |            $lNext,
           |            ((element_at(acc, 2) + ($lNext)
           |              - element_at(acc, 1) + ${H_OFF}L) div 2L)
           |              - ${H_HALF}L))""".stripMargin))
      .select(col("event_type"), col("day"), col("x"),
        expr(disp("element_at(st, 1)")).as("level"),
        expr(disp("element_at(st, 2)")).as("trend"),
        expr(disp("element_at(st, 1) + element_at(st, 2)")).as("forecast"))
      .orderBy("event_type", "day")
  }

  private val holtSql = {
    val lNext = s"((e[1] + acc[1] + acc[2] + ${H_OFF}) // 2) - ${H_HALF}"
    def disp(e6: String) =
      s"CAST(((($e6) + 50 + 1000000000000000) // 100)" +
        s" - 10000000000000 AS DOUBLE) / 10000.0"
    s"""WITH d AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |         CAST(count(*) AS BIGINT) AS x
       |  FROM events GROUP BY 1, 2),
       |l AS (
       |  SELECT event_type, day, x,
       |         list(x) OVER (PARTITION BY event_type ORDER BY day
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS xs
       |  FROM d),
       |f AS (
       |  SELECT event_type, day, x,
       |         list_reduce(
       |           list_prepend([xs[1] * 1000000, CAST(0 AS BIGINT)],
       |             list_transform(xs[2:], v -> [v * 1000000])),
       |           (acc, e) -> [ $lNext,
       |             ((acc[2] + ($lNext) - acc[1] + ${H_OFF}) // 2)
       |               - ${H_HALF} ]) AS st
       |  FROM l)
       |SELECT event_type, day, x,
       |       ${disp("st[1]")} AS level,
       |       ${disp("st[2]")} AS trend,
       |       ${disp("st[1] + st[2]")} AS forecast
       |FROM f ORDER BY event_type, day""".stripMargin
  }

  /** Holt-Winters additive triple smoothing (period 7) of the per-type
    * daily volume — the final member of the exponential family
    * ([[ewma]] level → [[holt]] level+trend → here level+trend+weekly
    * seasonal), the classic capacity-planning forecaster for traffic
    * with a day-of-week shape. α = β = γ = 1/2: all three recurrences
    *   l_t = (y_t − s_{t−7} + l_{t−1} + b_{t−1}) / 2
    *   b_t = (b_{t−1} + (l_t − l_{t−1})) / 2
    *   s_t = (s_{t−7} + (y_t − l_t)) / 2
    * are pure BIGINT halvings in 1e-6 units (signed-shift floor
    * division; seeds l₁ = y₁, b = 0, s ≡ 0).
    *
    * The 9-slot state [l, b, s⁰..s⁶] uses ROTATION encoding: the
    * seasonal due NOW is always slot 3, and each step emits
    * [l', b', s⁴..s⁹ shifted up, s'] — appending the refreshed seasonal
    * at the tail instead of updating by index, because neither engine's
    * fold lambda has a portable indexed-update primitive. One-step
    * forecast = l' + b' + (next slot-3). Scale posture: the [[ewma]] /
    * [[holt]] shape — facts collapse to (type, day) counts; folds run
    * over calendar-bounded arrays. */
  def holtWinters(s: SparkSession, dir: String): DataFrame =
    holtWintersOn(Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x")))

  /** Holt-Winters core over an (event_type, day, x) daily frame. */
  private[graft] def holtWintersOn(daily: DataFrame): DataFrame = {
    val wCum = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, 0)
    // l' feeds both b' and s', so its halving is spelled inline thrice
    // (the [[holtOn]] precedent, one more consumer)
    val lNext = s"((v * 1000000L - element_at(acc, 3) + element_at(acc, 1)" +
      s" + element_at(acc, 2) + ${H_OFF}L) div 2L) - ${H_HALF}L"
    def disp(e6: String) =
      s"cast(((($e6) + 50L + 1000000000000000L) div 100L)" +
        s" - 10000000000000L as double) / 10000.0d"
    daily.withColumn("xs", collect_list("x").over(wCum))
      .withColumn("st", expr(
        s"""aggregate(slice(xs, 2, size(xs) - 1),
           |          array(element_at(xs, 1) * 1000000L,
           |                0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L),
           |          (acc, v) -> concat(
           |            array(
           |              $lNext,
           |              ((element_at(acc, 2) + ($lNext)
           |                - element_at(acc, 1) + ${H_OFF}L) div 2L)
           |                - ${H_HALF}L),
           |            slice(acc, 4, 6),
           |            array(
           |              ((element_at(acc, 3) + v * 1000000L - ($lNext)
           |                + ${H_OFF}L) div 2L) - ${H_HALF}L)))""".stripMargin))
      .select(col("event_type"), col("day"), col("x"),
        expr(disp("element_at(st, 1)")).as("level"),
        expr(disp("element_at(st, 2)")).as("trend"),
        expr(disp("element_at(st, 9)")).as("seasonal"),
        expr(disp("element_at(st, 1) + element_at(st, 2)"
          + " + element_at(st, 3)")).as("forecast"))
      .orderBy("event_type", "day")
  }

  private val holtWintersSql = {
    val lNext = s"((e[1] - acc[3] + acc[1] + acc[2] + ${H_OFF}) // 2)" +
      s" - ${H_HALF}"
    def disp(e6: String) =
      s"CAST(((($e6) + 50 + 1000000000000000) // 100)" +
        s" - 10000000000000 AS DOUBLE) / 10000.0"
    s"""WITH d AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |         CAST(count(*) AS BIGINT) AS x
       |  FROM events GROUP BY 1, 2),
       |l AS (
       |  SELECT event_type, day, x,
       |         list(x) OVER (PARTITION BY event_type ORDER BY day
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS xs
       |  FROM d),
       |f AS (
       |  SELECT event_type, day, x,
       |         list_reduce(
       |           list_prepend(
       |             [xs[1] * 1000000, CAST(0 AS BIGINT), 0, 0, 0, 0, 0, 0, 0],
       |             list_transform(xs[2:], v -> [v * 1000000])),
       |           (acc, e) -> [ $lNext,
       |             ((acc[2] + ($lNext) - acc[1] + ${H_OFF}) // 2)
       |               - ${H_HALF} ]
       |             || acc[4:9]
       |             || [ ((acc[3] + e[1] - ($lNext) + ${H_OFF}) // 2)
       |                  - ${H_HALF} ]) AS st
       |  FROM l)
       |SELECT event_type, day, x,
       |       ${disp("st[1]")} AS level,
       |       ${disp("st[2]")} AS trend,
       |       ${disp("st[9]")} AS seasonal,
       |       ${disp("st[1] + st[2] + st[3]")} AS forecast
       |FROM f ORDER BY event_type, day""".stripMargin
  }

  /** Mann-Kendall trend test of the per-type daily volume — the
    * nonparametric "is there a monotone trend at all" gate run before
    * fitting any slope ([[Profiling.dailyTrend]] gives the OLS slope,
    * [[Profiling.theilSen]] the robust one; this says whether to
    * believe either): S = Σ_{i<j} sign(x_j − x_i) over day pairs, with
    * the tie-corrected variance
    *   var = (n(n−1)(2n+5) − Σ t(t−1)(2t+5)) / 18
    * and the continuity-corrected z = (S ∓ 1)/√var.
    *
    * Exactness: the day-pair self-join is CALENDAR²-bounded per type
    * (the [[Profiling.theilSen]] precedent — never facts), S and the
    * tie term are exact BIGINTs, and z is one fixed IEEE sequence.
    * Degenerate all-tied series (var = 0) yields NULL z. */
  def mannKendall(s: SparkSession, dir: String): DataFrame =
    mannKendallOn(Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x")))

  /** [[mannKendall]] core over an (event_type, day, x) daily frame. */
  private[graft] def mannKendallOn(daily: DataFrame): DataFrame = {
    val d = daily.select(col("event_type"), col("day"), col("x"))
    val sPairs = d.as("a").join(d.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.day") < col("b.day"))
      .groupBy(col("a.event_type").as("event_type"))
      .agg(sum(signum(col("b.x") - col("a.x")).cast("long")).as("s_mk"))
    val tieTerm = d.groupBy("event_type", "x")
      .agg(count(lit(1)).as("t"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_distinct"), sum("t").as("n"),
        sum(col("t") * (col("t") - lit(1L))
          * (lit(2L) * col("t") + lit(5L))).as("ties"))
    def dd(c: String) = col(c).cast("double")
    sPairs.join(tieTerm, "event_type")
      .withColumn("varx",
        (dd("n") * (dd("n") - lit(1.0d)) * (lit(2.0d) * dd("n") + lit(5.0d))
          - dd("ties")) / lit(18.0d))
      .select(col("event_type"), col("n").cast("bigint").as("n_days"),
        col("s_mk"),
        when(col("varx") > 0d,
          floor((col("s_mk").cast("double")
            - signum(col("s_mk").cast("double")))
            / sqrt(col("varx")) * lit(10000.0d) + lit(0.5d))
            / lit(10000.0d)).as("z"))
      .orderBy("event_type")
  }

  private val mannKendallSql =
    """WITH d AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |         CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |sp AS (
      |  SELECT a.event_type,
      |         CAST(sum(CASE WHEN b.x > a.x THEN 1
      |                  WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT)
      |           AS s_mk
      |  FROM d a JOIN d b
      |    ON a.event_type = b.event_type AND a.day < b.day
      |  GROUP BY 1),
      |tt AS (
      |  SELECT event_type, CAST(sum(t) AS BIGINT) AS n,
      |         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS ties
      |  FROM (SELECT event_type, x, CAST(count(*) AS BIGINT) AS t
      |        FROM d GROUP BY 1, 2)
      |  GROUP BY 1),
      |v AS (
      |  SELECT sp.event_type, tt.n, sp.s_mk,
      |         (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
      |            * (2.0 * CAST(n AS DOUBLE) + 5.0)
      |          - CAST(ties AS DOUBLE)) / 18.0 AS varx
      |  FROM sp JOIN tt USING (event_type))
      |SELECT event_type, n AS n_days, s_mk,
      |       CASE WHEN varx > 0 THEN
      |         floor((CAST(s_mk AS DOUBLE) - sign(CAST(s_mk AS DOUBLE)))
      |               / sqrt(varx) * 10000.0 + 0.5) / 10000.0 END AS z
      |FROM v ORDER BY event_type""".stripMargin

  /** One-step-ahead forecast BACKTEST — the model-selection layer the
    * smoothing family needs before anyone trusts a forecast: replay
    * each day's [[holt]] forecast, [[ewma]] level and the seasonal-naive
    * week-ago value as predictions for the NEXT day, score |error|
    * against the realized actual, and crown the per-type winner. All
    * forecasts are already exact multiples of 1e-4 (the dyadic folds),
    * so errors live as exact BIGINT 1e-4 units — the MAE comparison and
    * the winner's argmin (alphabetical tiebreak) are engine-identical
    * integer decisions, not float races.
    *
    * Scale shape: the three forecasters all ride the same (type, day)
    * calendar frame; evaluation is two window offsets and one
    * per-type aggregate. Only days where every model can forecast (a
    * full week of history AND a realized next day) score — the honest
    * backtest protocol. */
  def forecastBacktest(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val base = daily
      .withColumn("x_next", lead("x", 1).over(w))
      .withColumn("snaive", lag("x", 6).over(w))
    val h = holtOn(daily).select(col("event_type"), col("day"),
      floor(col("forecast") * lit(10000.0d) + lit(0.5d)).cast("long")
        .as("h4"))
    val e = ewmaOn(daily).select(col("event_type"), col("day"),
      floor(col("ewma") * lit(10000.0d) + lit(0.5d)).cast("long")
        .as("e4"))
    base.join(h, Seq("event_type", "day"))
      .join(e, Seq("event_type", "day"))
      .filter(col("x_next").isNotNull && col("snaive").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_evals"),
        sum(abs(col("x_next") * lit(10000L) - col("h4"))).as("se_h"),
        sum(abs(col("x_next") * lit(10000L) - col("e4"))).as("se_e"),
        sum(abs((col("x_next") - col("snaive")) * lit(10000L))).as("se_s"))
      .select(col("event_type"), col("n_evals"),
        fix4(col("se_h").cast("double") / lit(10000.0d)
          / col("n_evals").cast("double")).as("mae_holt"),
        fix4(col("se_e").cast("double") / lit(10000.0d)
          / col("n_evals").cast("double")).as("mae_ewma"),
        fix4(col("se_s").cast("double") / lit(10000.0d)
          / col("n_evals").cast("double")).as("mae_snaive"),
        when(col("se_e") <= col("se_h") && col("se_e") <= col("se_s"),
          lit("ewma"))
          .when(col("se_h") <= col("se_s"), lit("holt"))
          .otherwise(lit("snaive")).as("best_model"))
      .orderBy("event_type")
  }

  private lazy val forecastBacktestSql =
    s"""WITH h AS (
       |  SELECT event_type, day,
       |         CAST(floor(forecast * 10000.0 + 0.5) AS BIGINT) AS h4
       |  FROM ($holtSql)),
       |e AS (
       |  SELECT event_type, day,
       |         CAST(floor(ewma * 10000.0 + 0.5) AS BIGINT) AS e4
       |  FROM ($ewmaSql)),
       |d AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |         CAST(count(*) AS BIGINT) AS x
       |  FROM events GROUP BY 1, 2),
       |base AS (
       |  SELECT event_type, day, x,
       |         lead(x) OVER (PARTITION BY event_type ORDER BY day)
       |           AS x_next,
       |         lag(x, 6) OVER (PARTITION BY event_type ORDER BY day)
       |           AS snaive
       |  FROM d),
       |j AS (
       |  SELECT base.event_type, base.x_next, base.snaive, h.h4, e.e4
       |  FROM base
       |  JOIN h ON base.event_type = h.event_type AND base.day = h.day
       |  JOIN e ON base.event_type = e.event_type AND base.day = e.day
       |  WHERE base.x_next IS NOT NULL AND base.snaive IS NOT NULL),
       |a AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_evals,
       |         CAST(sum(abs(x_next * 10000 - h4)) AS BIGINT) AS se_h,
       |         CAST(sum(abs(x_next * 10000 - e4)) AS BIGINT) AS se_e,
       |         CAST(sum(abs((x_next - snaive) * 10000)) AS BIGINT) AS se_s
       |  FROM j GROUP BY 1)
       |SELECT event_type, n_evals,
       |       floor(CAST(se_h AS DOUBLE) / 10000.0 / n_evals
       |             * 10000.0 + 0.5) / 10000.0 AS mae_holt,
       |       floor(CAST(se_e AS DOUBLE) / 10000.0 / n_evals
       |             * 10000.0 + 0.5) / 10000.0 AS mae_ewma,
       |       floor(CAST(se_s AS DOUBLE) / 10000.0 / n_evals
       |             * 10000.0 + 0.5) / 10000.0 AS mae_snaive,
       |       CASE WHEN se_e <= se_h AND se_e <= se_s THEN 'ewma'
       |            WHEN se_h <= se_s THEN 'holt'
       |            ELSE 'snaive' END AS best_model
       |FROM a ORDER BY event_type""".stripMargin

  /** STL-style additive decomposition of the daily total-event series:
    * x = trend + seasonal + residual, with trend = centered 7-day moving
    * average (full windows only), seasonal = per-day-of-week mean of the
    * detrended series, residual the remainder — the classic one-pass
    * decomposition a capacity/seasonality report runs before alerting on
    * the residual.
    *
    * Exactness: everything is 1e-4 fixed-point BIGINT. trend4 is the
    * exactly-rounded 7-day mean ((s7·2e4 + 7) div 14, positive operands);
    * the seasonal mean must round a possibly-NEGATIVE sum, where Spark's
    * `div` truncates toward zero but DuckDB's `//` floors — so the
    * division shifts by OFF = 1e9 per element first (a' = sdetr + n·OFF
    * ≥ 0), rounds in the positive domain where the two semantics agree,
    * and shifts back. Residual is a subtraction. The final /1e4 casts are
    * exact binary divisions of ≤ 2^53 integers — no FP rounding anywhere.
    *
    * Scale posture: one scan collapses the corpus to ≤ calendar-days
    * rows; the MA window and dow aggregate run on that tiny frame. */
  def stlDecompose(s: SparkSession, dir: String): DataFrame =
    stlOn(Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x")))

  /** Decomposition core over a (day, x) daily frame. */
  private[graft] def stlOn(daily: DataFrame): DataFrame = {
    val w7 = Window.orderBy("day").rowsBetween(-3, 3)
    val trended = daily
      .withColumn("s7", sum("x").over(w7))
      .withColumn("c7", count(lit(1)).over(w7))
      .filter(col("c7") === 7)
      .withColumn("trend4", expr("(s7 * 20000L + 7L) div 14L"))
      .withColumn("detr4", col("x") * lit(10000L) - col("trend4"))
      .withColumn("dow", expr("datediff(day, date'1970-01-01') % 7"))
    val seasonal = trended.groupBy("dow")
      .agg(count(lit(1)).as("n"), sum("detr4").as("sdetr"))
      .withColumn("s4", expr(
        "(2L * (sdetr + n * 1000000000L) + n) div (2L * n) - 1000000000L"))
      .select("dow", "s4")
    trended.join(broadcast(seasonal), "dow")
      .select(col("day"), col("x"),
        (col("trend4").cast("double") / lit(10000.0d)).as("trend"),
        (col("s4").cast("double") / lit(10000.0d)).as("seasonal"),
        ((col("detr4") - col("s4")).cast("double") / lit(10000.0d))
          .as("resid"))
      .orderBy("day")
  }

  private val stlDecomposeSql =
    """WITH d AS (
      |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1),
      |t AS (
      |  SELECT day, x,
      |         CAST(sum(x) OVER w7 AS BIGINT) AS s7,
      |         count(*) OVER w7 AS c7
      |  FROM d WINDOW w7 AS (ORDER BY day
      |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |tr AS (
      |  SELECT day, x, (s7 * 20000 + 7) // 14 AS trend4,
      |         x * 10000 - ((s7 * 20000 + 7) // 14) AS detr4,
      |         datediff('day', DATE '1970-01-01', day) % 7 AS dow
      |  FROM t WHERE c7 = 7),
      |se AS (
      |  SELECT dow,
      |         (2 * (CAST(sum(detr4) AS BIGINT) + count(*) * 1000000000)
      |           + count(*)) // (2 * count(*)) - 1000000000 AS s4
      |  FROM tr GROUP BY dow)
      |SELECT day, x,
      |       CAST(trend4 AS DOUBLE) / 10000.0 AS trend,
      |       CAST(s4 AS DOUBLE) / 10000.0 AS seasonal,
      |       CAST(detr4 - s4 AS DOUBLE) / 10000.0 AS resid
      |FROM tr JOIN se USING (dow) ORDER BY day""".stripMargin

  /** Randomization-test permutation count. */
  private val PERM_R = 99

  /** Randomization (permutation-style) test for the difference in MEAN
    * document length between English and non-English docs — the
    * mean-based complement of [[mannWhitney]]'s rank test. Each of the
    * [[PERM_R]] replicates reassigns every doc to group A independently
    * with probability n_a/n via a salted md5 draw (the scale-native
    * shape: rank-order permutations with exactly-preserved group sizes
    * need a global sort PER replicate — one reducer holding the corpus,
    * R times; the binomial reassignment is a pure map + one R-row
    * aggregate, and at the null both randomization schemes are valid).
    *
    * Determinism/exactness: the draw is the first 4 md5 hex digits as an
    * integer vs the threshold (n_a·65536) div n — no RNG state, stable
    * across runs, engines, layouts (the q_hash_split property). The
    * "replicate at least as extreme as observed" comparison is EXACT
    * cross-multiplied integers — |Δmean_r| ≥ |Δmean_obs| ⟺
    * |sa_r·nb_r − sb_r·na_r|·(n_a·n_b) ≥ |s_a·n_b − s_b·n_a|·(na_r·nb_r)
    * — evaluated in DECIMAL(38,0) here and HUGEINT in the oracle (the
    * BIGINT cross-products overflow at ~500k docs; the widening keeps
    * the operator correct at any corpus size). A replicate that draws an
    * empty group compares 0 ≥ 0 and counts as extreme — the
    * deterministic convention both engines share. p = (1+extreme)/(R+1),
    * the standard add-one permutation p-value. */
  def permTest(s: SparkSession, dir: String): DataFrame =
    permTestOn(Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars").cast("long").as("v"),
        // NULL lang must land in group B in BOTH engines: a bare
        // `lang = 'en'` is NULL for NULL lang, which Spark's two
        // sum(when(ga)/when(!ga)) columns would drop from BOTH groups
        // while the oracle's CASE ELSE counts it into n_b.
        coalesce(col("lang") === "en", lit(false)).as("ga")))

  /** Randomization-test core over a (doc_id, v, ga) frame. */
  private[graft] def permTestOn(docs: DataFrame): DataFrame = {
    val obs = docs.agg(
      sum(when(col("ga"), 1L).otherwise(0L)).as("n_a"),
      sum(when(col("ga"), col("v")).otherwise(0L)).as("s_a"),
      sum(when(!col("ga"), 1L).otherwise(0L)).as("n_b"),
      sum(when(!col("ga"), col("v")).otherwise(0L)).as("s_b"))
    val h4 =
      """(instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
        | + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
        | + (instr('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
        | + (instr('0123456789abcdef', substr(h, 4, 1)) - 1)""".stripMargin
    val perR = docs.select(col("doc_id"), col("v"),
        explode(expr(s"sequence(1, $PERM_R)")).as("r"))
      .crossJoin(broadcast(obs))
      .withColumn("h",
        md5(concat(col("doc_id").cast("string"), lit(":perm:"),
          col("r").cast("string"))))
      .withColumn("pa", expr(h4) < expr("(n_a * 65536L) div (n_a + n_b)"))
      .groupBy("r")
      .agg(sum(when(col("pa"), 1L).otherwise(0L)).as("na_r"),
        sum(when(col("pa"), col("v")).otherwise(0L)).as("sa_r"))
      .crossJoin(broadcast(obs))
      .withColumn("nb_r", expr("n_a + n_b - na_r"))
      .withColumn("sb_r", expr("s_a + s_b - sa_r"))
      .withColumn("ext", expr(
        """CASE WHEN CAST(abs(sa_r * nb_r - sb_r * na_r) AS DECIMAL(19,0))
          |          * CAST(n_a * n_b AS DECIMAL(19,0))
          |       >= CAST(abs(s_a * n_b - s_b * n_a) AS DECIMAL(19,0))
          |          * CAST(na_r * nb_r AS DECIMAL(19,0))
          |     THEN 1L ELSE 0L END""".stripMargin))
    perR.agg(sum("ext").as("n_extreme"))
      .crossJoin(broadcast(obs))
      .select(col("n_a"), col("n_b"),
        (floor((col("s_a").cast("double") / col("n_a").cast("double")
          - col("s_b").cast("double") / col("n_b").cast("double"))
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("obs_diff"),
        col("n_extreme"),
        (floor((lit(1.0d) + col("n_extreme").cast("double"))
          / lit((PERM_R + 1).toDouble) * lit(10000.0d) + lit(0.5d))
          / lit(10000.0d)).as("p_value"))
  }

  private val permTestSql = {
    def h4(col: String) =
      s"""(strpos('0123456789abcdef', substr($col, 1, 1)) - 1) * 4096
         | + (strpos('0123456789abcdef', substr($col, 2, 1)) - 1) * 256
         | + (strpos('0123456789abcdef', substr($col, 3, 1)) - 1) * 16
         | + (strpos('0123456789abcdef', substr($col, 4, 1)) - 1)"""
        .stripMargin
    s"""WITH docs AS (
       |  SELECT doc_id, CAST(n_chars AS BIGINT) AS v,
       |         coalesce(lang = 'en', FALSE) AS ga
       |  FROM documents),
       |obs AS (
       |  SELECT CAST(sum(CASE WHEN ga THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |         CAST(sum(CASE WHEN ga THEN v ELSE 0 END) AS BIGINT) AS s_a,
       |         CAST(sum(CASE WHEN ga THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
       |         CAST(sum(CASE WHEN ga THEN 0 ELSE v END) AS BIGINT) AS s_b
       |  FROM docs),
       |d AS (
       |  SELECT doc_id, v, r,
       |         md5(CAST(doc_id AS VARCHAR) || ':perm:'
       |             || CAST(r AS VARCHAR)) AS h
       |  FROM docs CROSS JOIN (SELECT unnest(range(1, ${PERM_R + 1})) AS r)),
       |a AS (
       |  SELECT r,
       |         CAST(sum(CASE WHEN ${h4("h")}
       |             < (n_a * 65536) // (n_a + n_b) THEN 1 ELSE 0 END)
       |           AS BIGINT) AS na_r,
       |         CAST(sum(CASE WHEN ${h4("h")}
       |             < (n_a * 65536) // (n_a + n_b) THEN v ELSE 0 END)
       |           AS BIGINT) AS sa_r
       |  FROM d CROSS JOIN obs GROUP BY r),
       |e AS (
       |  SELECT r, na_r, sa_r, n_a + n_b - na_r AS nb_r,
       |         s_a + s_b - sa_r AS sb_r
       |  FROM a CROSS JOIN obs),
       |x AS (
       |  SELECT CAST(sum(CASE WHEN
       |           CAST(abs(sa_r * nb_r - sb_r * na_r) AS HUGEINT)
       |             * CAST(n_a * n_b AS HUGEINT)
       |           >= CAST(abs(s_a * n_b - s_b * n_a) AS HUGEINT)
       |             * CAST(na_r * nb_r AS HUGEINT)
       |         THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
       |  FROM e CROSS JOIN obs)
       |SELECT n_a, n_b,
       |       floor((CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
       |              - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
       |             * 10000.0 + 0.5) / 10000.0 AS obs_diff,
       |       n_extreme,
       |       floor((1.0 + CAST(n_extreme AS DOUBLE)) / ${PERM_R + 1}.0
       |             * 10000.0 + 0.5) / 10000.0 AS p_value
       |FROM x CROSS JOIN obs""".stripMargin
  }

  /** Fixed iteration count for the absorbing-chain walk: both engines
    * run EXACTLY this many rounds, so the comparison is arithmetic
    * identity whether or not the chain has fully absorbed (the output is
    * the well-defined 40-step conversion probability; transient mass
    * decays geometrically, so 40 steps is far past practical
    * absorption on journey-shaped chains). */
  private val MARKOV_T = 40

  /** Markov-chain (removal-effect) attribution — the data-driven upgrade
    * of positional attribution (q_attribution): model user journeys as
    * an absorbing Markov chain (__start → event types → __conv at first
    * purchase, unconverted journeys leak to __null), then credit each
    * channel by how much the start→conversion probability DROPS when the
    * channel's outgoing transitions are removed (mass entering a removed
    * channel is stranded — the standard removal-effect construction).
    *
    * Exactness (the reason this is oracle-checkable at all): transition
    * probabilities stay RATIONAL (count/out-count, never divided into
    * floats); each mass transfer rounds to 1e-6 units by exact integer
    * division ((2·c·v + r) div 2r), and a round is a plain BIGINT sum of
    * those terms — associative, order-free, identical in Scala and SQL.
    * The oracle replays the same [[MARKOV_T]] rounds as unrolled
    * MATERIALIZED CTEs over the (scenario, state, mass) table, with
    * removal expressed as the join predicate scenario ≠ from_state.
    *
    * Scale posture: the corpus collapses to the ≤(|types|+2)² transition
    * COUNT table in one windowed pass (narrow (user, rank, type) rows
    * shuffle, never raw events twice); the chain solve walks that tiny
    * table on the driver — the Lloyd/k-core bounded-driver-state
    * pattern, |states|·T integer ops. */
  def markovAttribution(s: SparkSession, dir: String): DataFrame =
    markovOn(Tables.events(s, dir))

  /** Attribution core over a (user_id, event_id, ts, event_type)
    * frame. */
  private[graft] def markovOn(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val ev = events
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("rn", row_number().over(byUser))
    val fp = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min("rn").as("fp_rn"))
    val j = ev.join(fp, Seq("user_id"), "left")
      .filter(col("fp_rn").isNull || col("rn") <= col("fp_rn"))
      .withColumn("st",
        when(col("rn") === col("fp_rn"), lit("__conv"))
          .otherwise(col("event_type")))
    val led = j
      .withColumn("nxt", lead("st", 1).over(
        Window.partitionBy("user_id").orderBy(col("rn").asc)))
    val edges = led.filter(col("st") =!= "__conv")
      .select(col("st").as("from_st"),
        coalesce(col("nxt"), lit("__null")).as("to_st"))
      .unionByName(led.filter(col("rn") === 1)
        .select(lit("__start").as("from_st"), col("st").as("to_st")))
    val cnt = edges.groupBy("from_st", "to_st")
      .agg(count(lit(1)).as("c")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val rOut = cnt.groupBy(_._1._1).map { case (f, m) => f -> m.values.sum }
    // the exact 40-round walk; removal strands mass entering the channel
    def conv6(removed: Option[String]): Long = {
      var v = Map("__start" -> 1000000L).withDefaultValue(0L)
      var it = 0
      while (it < MARKOV_T) {
        val nv = scala.collection.mutable.Map[String, Long]()
          .withDefaultValue(0L)
        nv("__conv") += v("__conv")
        for (((f, t), c) <- cnt
             if t != "__null" && !removed.contains(f) && f != "__conv") {
          val vf = v(f)
          if (vf != 0L)
            nv(t) += (2L * c * vf + rOut(f)) / (2L * rOut(f))
        }
        v = nv.toMap.withDefaultValue(0L)
        it += 1
      }
      v("__conv")
    }
    val base6 = conv6(None)
    // Channels = distinct non-purchase event types over ALL events — the
    // oracle's `chan` CTE, NOT the transition-table from_st keys: an event
    // type that only ever occurs after first purchases never enters the
    // truncated journeys, so it has no outgoing transitions, but the
    // oracle still emits its row (removal of an absent channel strands no
    // mass, so conv6 returns base6 and effect is exactly 0).
    val channels = events.filter(col("event_type") =!= "purchase")
      .select("event_type").distinct().collect()
      .map(_.getString(0)).toSeq.sorted
    def p4(x6: Long): Double = ((x6 + 50L) / 100L).toDouble / 10000.0
    import s.implicits._
    channels.map { ch =>
      val rem6 = conv6(Some(ch))
      val eff4 = (2L * (base6 - rem6) * 10000L + base6) /
        (2L * math.max(base6, 1L))
      (ch, p4(base6), p4(rem6), eff4.toDouble / 10000.0)
    }.toDF("channel", "base_p", "removed_p", "effect")
      .orderBy("channel")
  }

  private val markovAttributionSql = {
    val rounds = (1 to MARKOV_T).map { n =>
      val prev = if (n == 1) "r0" else s"r${n - 1}"
      s"""r$n AS MATERIALIZED (
         |  SELECT scenario, st, CAST(sum(v6) AS BIGINT) AS v6 FROM (
         |    SELECT v.scenario, t.to_st AS st,
         |           (2 * t.c * v.v6 + t.r) // (2 * t.r) AS v6
         |    FROM $prev v JOIN trans t ON t.from_st = v.st
         |    WHERE v.st <> '__conv' AND t.to_st <> '__null'
         |      AND (v.scenario = '__none' OR v.scenario <> t.from_st)
         |      AND v.v6 <> 0
         |    UNION ALL
         |    SELECT scenario, st, v6 FROM $prev WHERE st = '__conv'
         |  ) GROUP BY scenario, st)""".stripMargin
    }
    s"""WITH ev AS (
       |  SELECT user_id, event_type,
       |         row_number() OVER (PARTITION BY user_id
       |           ORDER BY ts, event_id) AS rn
       |  FROM events),
       |fp AS (SELECT user_id, min(rn) AS fp_rn FROM ev
       |       WHERE event_type = 'purchase' GROUP BY user_id),
       |j AS (
       |  SELECT e.user_id, e.rn,
       |         CASE WHEN e.rn = f.fp_rn THEN '__conv'
       |              ELSE e.event_type END AS st
       |  FROM ev e LEFT JOIN fp f USING (user_id)
       |  WHERE f.fp_rn IS NULL OR e.rn <= f.fp_rn),
       |led AS (
       |  SELECT user_id, rn, st,
       |         lead(st) OVER (PARTITION BY user_id ORDER BY rn) AS nxt
       |  FROM j),
       |edges AS (
       |  SELECT st AS from_st, coalesce(nxt, '__null') AS to_st
       |  FROM led WHERE st <> '__conv'
       |  UNION ALL
       |  SELECT '__start', st FROM led WHERE rn = 1),
       |cnt AS (SELECT from_st, to_st, CAST(count(*) AS BIGINT) AS c
       |        FROM edges GROUP BY 1, 2),
       |rout AS (SELECT from_st, CAST(sum(c) AS BIGINT) AS r
       |         FROM cnt GROUP BY 1),
       |trans AS MATERIALIZED (
       |  SELECT c.from_st, c.to_st, c.c, r.r
       |  FROM cnt c JOIN rout r USING (from_st)),
       |chan AS (SELECT DISTINCT event_type AS channel FROM events
       |         WHERE event_type <> 'purchase'),
       |r0 AS MATERIALIZED (
       |  SELECT scenario, '__start' AS st, CAST(1000000 AS BIGINT) AS v6
       |  FROM (SELECT '__none' AS scenario
       |        UNION ALL SELECT channel FROM chan)),
       |${rounds.mkString(",\n")},
       |base AS (
       |  SELECT coalesce((SELECT v6 FROM r$MARKOV_T
       |                   WHERE scenario = '__none' AND st = '__conv'), 0)
       |    AS base6)
       |SELECT channel,
       |       CAST((base6 + 50) // 100 AS DOUBLE) / 10000.0 AS base_p,
       |       CAST((rem6 + 50) // 100 AS DOUBLE) / 10000.0 AS removed_p,
       |       CAST((2 * (base6 - rem6) * 10000 + base6)
       |            // (2 * greatest(base6, 1)) AS DOUBLE) / 10000.0
       |         AS effect
       |FROM (
       |  SELECT c.channel,
       |         coalesce(r.v6, 0) AS rem6
       |  FROM chan c LEFT JOIN r$MARKOV_T r
       |    ON r.scenario = c.channel AND r.st = '__conv') t
       |CROSS JOIN base
       |ORDER BY channel""".stripMargin
  }

  /** Shapley-value attribution — the order-free coalition complement of
    * [[markovAttribution]]: each user journey reduces to the SET of
    * channels touched before first purchase (a bitmask) plus a converted
    * flag; the characteristic function v(S) = converting journeys whose
    * channel set ⊆ S; channel k's credit is the Shapley value
    * φ_k = Σ_{S ∌ k} |S|!·(n−1−|S|)!/n! · (v(S∪k) − v(S)).
    *
    * Exactness: every v(S) is an integer COUNT, the combinatorial
    * weights are integer factorial products (φ_k·n!·N is a plain integer
    * sum — marginals are non-negative since a superset admits every
    * journey its subset does), and the single division at the end is the
    * exactly-rounded 1e-4 fix. The oracle enumerates all 2^n subsets
    * (unnest(range)), tests containment as (mask | S) = S, and reads the
    * weights from a generated factorial CASE — identical integers
    * end-to-end.
    *
    * Scale posture: one windowed pass reduces the corpus to ≤ 2^n
    * (mask, conv) count rows (n = |channels|, a handful); the subset
    * enumeration walks that driver-side table — bounded like the Markov
    * transition solve. The 2^n blowup is intrinsic to exact Shapley;
    * the operator guards n ≤ 20 rather than silently sampling. */
  def shapleyAttribution(s: SparkSession, dir: String): DataFrame =
    shapleyOn(Tables.events(s, dir))

  /** Shapley core over a (user_id, event_id, ts, event_type) frame. */
  private[graft] def shapleyOn(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val ev = events
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("rn", row_number().over(byUser))
    val fp = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min("rn").as("fp_rn"))
    val channels = ev.filter(col("event_type") =!= "purchase")
      .select("event_type").distinct().collect().map(_.getString(0))
      .sorted
    require(channels.length <= 20,
      s"exact Shapley enumerates 2^n subsets; n = ${channels.length}")
    val idx = channels.zipWithIndex.toMap
    val bitOf = channels.map(c => s"WHEN '$c' THEN ${1L << idx(c)}L")
      .mkString("CASE event_type ", " ", " ELSE 0L END")
    // per-user prefix-channel bitmask: DISTINCT (user, bit) first — a
    // straight sum of per-event bits would double-count repeat visits
    val pre = ev.join(fp, Seq("user_id"), "left")
      .filter(col("fp_rn").isNull || col("rn") < col("fp_rn"))
      .filter(col("event_type") =!= "purchase")
      .select(col("user_id"), expr(bitOf).as("bit")).distinct()
      .groupBy("user_id").agg(sum("bit").as("mask"))
    val users = ev.select("user_id").distinct()
    val groups = users
      .join(pre, Seq("user_id"), "left")
      .join(fp.select(col("user_id"), lit(1L).as("conv")),
        Seq("user_id"), "left")
      .select(coalesce(col("mask"), lit(0L)).as("mask"),
        coalesce(col("conv"), lit(0L)).as("conv"))
      .groupBy("mask").agg(sum("conv").as("nconv"), count(lit(1)).as("nt"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = channels.length
    val nUsers = groups.map(_._3).sum
    def fact(k: Int): Long = (1 to k).foldLeft(1L)(_ * _)
    val full = (1L << n) - 1L
    // v(S): converting journeys whose mask ⊆ S
    def v(sMask: Long): Long =
      groups.iterator.filter { case (m, _, _) => (m | sMask) == sMask }
        .map(_._2).sum
    import s.implicits._
    val nf = fact(n)
    channels.toSeq.map { ch =>
      val bit = 1L << idx(ch)
      var num = 0L
      var sMask = 0L
      while (sMask <= full) {
        if ((sMask & bit) == 0L) {
          val bc = java.lang.Long.bitCount(sMask)
          num += fact(bc) * fact(n - 1 - bc) * (v(sMask | bit) - v(sMask))
        }
        sMask += 1L
      }
      val phi4 = (2L * num * 10000L + nf * nUsers) /
        (2L * math.max(nf * nUsers, 1L))
      (ch, phi4.toDouble / 10000.0)
    }.toDF("channel", "shapley").orderBy("channel")
  }

  private val shapleyAttributionSql = {
    def factCase(arg: String): String = (0 to 20)
      .map(k => s"WHEN $k THEN ${(1 to k).foldLeft(1L)(_ * _)}")
      .mkString(s"CASE $arg ", " ", " ELSE 0 END")
    s"""WITH ev AS (
       |  SELECT user_id, event_type,
       |         row_number() OVER (PARTITION BY user_id
       |           ORDER BY ts, event_id) AS rn
       |  FROM events),
       |fp AS (SELECT user_id, min(rn) AS fp_rn FROM ev
       |       WHERE event_type = 'purchase' GROUP BY user_id),
       |chan AS (
       |  SELECT ch, row_number() OVER (ORDER BY ch) - 1 AS idx FROM (
       |    SELECT DISTINCT event_type AS ch FROM events
       |    WHERE event_type <> 'purchase')),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM chan),
       |pre AS (
       |  SELECT DISTINCT e.user_id, c.idx
       |  FROM ev e JOIN chan c ON e.event_type = c.ch
       |  LEFT JOIN fp f ON e.user_id = f.user_id
       |  WHERE f.fp_rn IS NULL OR e.rn < f.fp_rn),
       |users AS (SELECT DISTINCT user_id FROM events),
       |umask AS (
       |  SELECT u.user_id,
       |         coalesce(m.mask, 0) AS mask,
       |         CASE WHEN f.user_id IS NULL THEN 0 ELSE 1 END AS conv
       |  FROM users u
       |  LEFT JOIN (SELECT user_id, CAST(sum(1 << idx) AS BIGINT) AS mask
       |             FROM pre GROUP BY user_id) m ON u.user_id = m.user_id
       |  LEFT JOIN fp f ON u.user_id = f.user_id),
       |groups AS (
       |  SELECT mask, CAST(sum(conv) AS BIGINT) AS nconv
       |  FROM umask GROUP BY mask),
       |nu AS (SELECT CAST(count(*) AS BIGINT) AS nusers FROM umask),
       |subsets AS (
       |  SELECT CAST(unnest(range(0, (SELECT 1 << n FROM nn))) AS BIGINT)
       |    AS s),
       |v AS MATERIALIZED (
       |  SELECT s.s, CAST(coalesce(sum(g.nconv), 0) AS BIGINT) AS conv
       |  FROM subsets s LEFT JOIN groups g ON (g.mask | s.s) = s.s
       |  GROUP BY s.s),
       |terms AS (
       |  SELECT c.ch AS channel,
       |         CAST(sum(
       |           (${factCase("bit_count(v0.s)")})
       |           * (${factCase("n - 1 - bit_count(v0.s)")})
       |           * (v1.conv - v0.conv)) AS BIGINT) AS num
       |  FROM chan c
       |  JOIN v v0 ON ((v0.s >> c.idx) & 1) = 0
       |  JOIN v v1 ON v1.s = (v0.s | (1 << c.idx))
       |  CROSS JOIN nn
       |  GROUP BY c.ch),
       |nf AS (SELECT (${factCase("n")}) AS nfact FROM nn)
       |SELECT channel,
       |       CAST((2 * num * 10000 + nfact * nusers)
       |            // (2 * greatest(nfact * nusers, 1)) AS DOUBLE)
       |         / 10000.0 AS shapley
       |FROM terms CROSS JOIN nf CROSS JOIN nu
       |ORDER BY channel""".stripMargin
  }

  /** Seasonal anomaly detection — the consumer of [[stlDecompose]]: a
    * day is anomalous when its RESIDUAL (what trend and weekly
    * seasonality cannot explain) sits more than 3 robust sigmas from the
    * residual median, with sigma = 1.4826·MAD — the
    * median-of-absolute-deviations scale that one genuine outlier cannot
    * inflate (the flaw of z-scores on the raw series: the spike moves
    * the mean and stddev it is judged against, and weekly peaks flag as
    * anomalies every week).
    *
    * Portability: residuals are 1e-4-exact integers from the
    * decomposition; both medians are `percentile` ≡ `quantile_cont`
    * (bit-identical interpolation, the established cross-engine
    * identity); the 3·1.4826·MAD threshold compare runs on identical
    * doubles in both engines. Windows run on the ≤ calendar-days frame. */
  def stlAnomaly(s: SparkSession, dir: String): DataFrame =
    stlAnomalyOn(Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x")))

  /** Anomaly core over a (day, x) daily frame. */
  private[graft] def stlAnomalyOn(daily: DataFrame): DataFrame = {
    val dec = stlOn(daily)
    val med = dec.agg(expr("percentile(resid, 0.5D)").as("med"))
    val mad = dec.crossJoin(broadcast(med))
      .agg(expr("percentile(abs(resid - med), 0.5D)").as("mad"),
        first("med").as("med"))
    dec.crossJoin(broadcast(mad))
      .select(col("day"), col("x"), col("resid"),
        (abs(col("resid") - col("med")) >
          lit(3.0d) * lit(1.4826d) * col("mad")).as("is_anomaly"))
      .orderBy("day")
  }

  private val stlAnomalySql = {
    // the decomposition replayed, then the robust threshold
    val dec = stlDecomposeSql.replace("ORDER BY day", "")
    s"""WITH dec AS MATERIALIZED ($dec),
       |med AS (SELECT quantile_cont(resid, 0.5) AS med FROM dec),
       |mad AS (
       |  SELECT quantile_cont(abs(resid - med), 0.5) AS mad,
       |         any_value(med) AS med
       |  FROM dec CROSS JOIN med)
       |SELECT day, x, resid,
       |       abs(resid - med) > 3.0 * 1.4826 * mad AS is_anomaly
       |FROM dec CROSS JOIN mad
       |ORDER BY day""".stripMargin
  }

  /** Iterative-scaling rounds for [[bradleyTerry]] — fixed budget, the
    * BPE/Lloyd/Markov unroll discipline. */
  private val BT_ROUNDS = 5

  /** Bradley-Terry source ranking — the pairwise-preference model every
    * LLM eval stack runs (arena-style): source a beats source b once per
    * cross-source document pair where a's quality bucket is strictly
    * higher (qb = min(n_chars div 100, 20) — a bounded domain, so the
    * |A|·|B| document comparisons collapse to a ≤21×21 HISTOGRAM join
    * and no document pair ever materializes, the Kendall-τ trick). The
    * MLE π solves by [[BT_ROUNDS]] minorization rounds
    * π_a ← W_a / Σ_b n_ab/(π_a+π_b) on the DRIVER over the |S|²
    * win matrix (model-sized, the PQ/Lloyd precedent), in EXACT integer
    * arithmetic: π in 1e-6 units, each denominator term
    * ⌊n_ab·10¹²/(π_a+π_b)⌋ a BigInt division, so DuckDB replays
    * training bit-for-bit as unrolled MATERIALIZED rounds. Ties (equal
    * buckets) are no-decisions, the standard BT convention. */
  def bradleyTerry(s: SparkSession, dir: String): DataFrame =
    bradleyTerryOn(Tables.documents(s, dir).select("source", "n_chars"))

  /** [[bradleyTerry]] over an explicit (source, n_chars) frame — the
    * planted-semantics seam. */
  private[graft] def bradleyTerryOn(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val hist = docs
      .select(col("source"),
        least(floor(col("n_chars") / lit(100L)), lit(20L)).cast("long")
          .as("qb"))
      .groupBy("source", "qb").agg(count(lit(1)).as("cnt"))
      .cache() // self-joined below; ≤ |sources|·21 rows
    val winRows = hist.as("a").join(hist.as("b"),
        col("a.source") =!= col("b.source") && col("a.qb") > col("b.qb"))
      .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
      .agg(sum(col("a.cnt") * col("b.cnt")).as("w"))
      .collect()
    val wins = winRows
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val sources = hist.select("source").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val bigW = sources.map(a => a -> sources.filter(_ != a)
      .map(b => wins.getOrElse((a, b), 0L)).sum).toMap
    val comps = for {
      a <- sources; b <- sources if a != b
      n = wins.getOrElse((a, b), 0L) + wins.getOrElse((b, a), 0L)
      if n > 0
    } yield (a, b, n)
    val T = BigInt(1000000000000L)
    var pi = sources.map(_ -> 1000000L).toMap
    for (_ <- 1 to BT_ROUNDS) {
      // Denominator terms and their per-source sum stay BigInt end-to-end
      // (the oracle computes the same chain in HUGEINT): a large win
      // count over a small π-sum can exceed Long per-term, and the .sum
      // across opponents can wrap even when each term fits. Only the
      // final π is narrowed — it is bounded by W·T/sm which the share
      // normalization keeps in Long range.
      val sm = comps.groupBy(_._1).map { case (a, rows) =>
        a -> rows.map { case (_, b, n) =>
          BigInt(n) * T / BigInt(math.max(pi(a) + pi(b), 1L))
        }.sum
      }
      pi = sources.map { a =>
        a -> (BigInt(bigW(a)) * T /
          sm.getOrElse(a, BigInt(0)).max(BigInt(1))).toLong
      }.toMap
    }
    val piSum = math.max(pi.values.sum, 1L)
    sources.map { a =>
      (a, bigW(a), comps.filter(_._1 == a).map(_._3).sum,
        math.floor(pi(a).toDouble / piSum * 1000000.0d + 0.5d) / 1000000.0d)
    }.toDF("source", "wins", "n_comparisons", "bt_share")
      .orderBy(col("bt_share").desc, col("source").asc)
  }

  private val bradleyTerrySql = {
    val rounds = (1 to BT_ROUNDS).map { r =>
      s"""d$r AS MATERIALIZED (
         |  SELECT g.sa AS s,
         |         CAST(sum((g.n::HUGEINT * 1000000000000)
         |                  // greatest(pa.pi + pb.pi, 1)) AS HUGEINT) AS sm
         |  FROM grid g
         |  JOIN p${r - 1} pa ON pa.s = g.sa
         |  JOIN p${r - 1} pb ON pb.s = g.sb
         |  WHERE g.n > 0 GROUP BY 1),
         |p$r AS MATERIALIZED (
         |  SELECT w.s,
         |         (w.tw::HUGEINT * 1000000000000)
         |           // greatest(coalesce(d.sm, 0), 1) AS pi
         |  FROM ww w LEFT JOIN d$r d ON d.s = w.s)""".stripMargin
    }.mkString(",\n")
    s"""WITH hist AS MATERIALIZED (
       |  SELECT source, least(n_chars // 100, 20) AS qb,
       |         CAST(count(*) AS BIGINT) AS cnt
       |  FROM documents GROUP BY 1, 2),
       |wpos AS MATERIALIZED (
       |  SELECT a.source AS sa, b.source AS sb,
       |         CAST(sum(a.cnt * b.cnt) AS BIGINT) AS w
       |  FROM hist a JOIN hist b
       |    ON a.source <> b.source AND a.qb > b.qb
       |  GROUP BY 1, 2),
       |srcs AS (SELECT DISTINCT source AS s FROM documents),
       |grid AS MATERIALIZED (
       |  SELECT x.s AS sa, y.s AS sb, coalesce(w1.w, 0) AS w,
       |         coalesce(w1.w, 0) + coalesce(w2.w, 0) AS n
       |  FROM srcs x JOIN srcs y ON x.s <> y.s
       |  LEFT JOIN wpos w1 ON w1.sa = x.s AND w1.sb = y.s
       |  LEFT JOIN wpos w2 ON w2.sa = y.s AND w2.sb = x.s),
       |ww AS MATERIALIZED (
       |  SELECT x.s, CAST(coalesce(sum(g.w), 0) AS BIGINT) AS tw,
       |         CAST(coalesce(sum(g.n), 0) AS BIGINT) AS nc
       |  FROM srcs x LEFT JOIN grid g ON g.sa = x.s GROUP BY 1),
       |p0 AS MATERIALIZED (SELECT s, 1000000::HUGEINT AS pi FROM srcs),
       |$rounds,
       |tot AS (SELECT greatest(CAST(sum(pi) AS DOUBLE), 1.0) AS tp
       |        FROM p$BT_ROUNDS)
       |SELECT w.s AS source, w.tw AS wins, w.nc AS n_comparisons,
       |       floor(CAST(p.pi AS DOUBLE) / tot.tp * 1000000.0 + 0.5)
       |         / 1000000.0 AS bt_share
       |FROM ww w JOIN p$BT_ROUNDS p ON p.s = w.s CROSS JOIN tot
       |ORDER BY bt_share DESC, source""".stripMargin
  }

  /** Propensity-score matching via the FIRST-CLASS as-of join
    * ([[graft.plans.AsOf]]) — the causal-inference estimator run as a
    * sorted MERGE instead of a per-row nearest-neighbor search: treated
    * units (odd/even custkey split, the deterministic stand-in for a
    * treatment flag) match to the control with the nearest
    * not-greater propensity score WITHIN their nation, where the score
    * is order activity (n_orders) packed with the custkey into a UNIQUE
    * integer (score·2²⁰ + key) so as-of ties are impossible and the
    * match is deterministic at any partitioning — the same
    * sorted-merge shape a feature store uses for point-in-time joins,
    * repurposed for caliper-free PSM. ATT = mean (treated − matched
    * control) spend over matched pairs; exact cent sums, single final
    * divisions. */
  /** Per-customer activity frame shared by the causal estimators:
    * (c_custkey, c_nationkey, spend cents, n_orders) — exact cent sums,
    * customers with no orders kept at zero. */
  private def customerActivity(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"))
      .join(Tables.orders(s, dir)
        .select(col("o_custkey"),
          floor(col("o_totalprice") * lit(100.0d) + lit(0.5d)).cast("long")
            .as("cents")),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey", "c_nationkey")
      .agg(coalesce(sum("cents"), lit(0L)).as("spend"),
        count(col("o_custkey")).as("n_orders"))

  def psmAtt(s: SparkSession, dir: String): DataFrame =
    psmAttOn(customerActivity(s, dir))

  /** [[psmAtt]] over an explicit (c_custkey, c_nationkey, spend,
    * n_orders) per-unit frame — the planted-semantics seam. */
  private[graft] def psmAttOn(cust0: DataFrame): DataFrame = {
    // The packed score must be collision-free at EVERY scale: a fixed
    // 2^20 shift collides once custkey exceeds 2^20 (TPC-H SF ≳ 7), and
    // a collision makes the as-of tie nondeterministic while the
    // oracle's max(cmp) equi-join fans out. Derive the shift from the
    // key domain itself — 2^bitlen(max key) — with the portable
    // length(bin(x)) idiom (same trick as the unigram-LM bit-costs).
    // Packing score·B + key with key < B preserves the lexicographic
    // (score, key) order for ANY B, so the match is base-independent.
    val kbase = cust0.agg(
      expr("shiftleft(cast(1 as bigint), length(bin(max(c_custkey))))")
        .as("kbase"))
    val cust = cust0.crossJoin(broadcast(kbase)) // 1-row stats frame
      .withColumn("cmp",
        col("n_orders") * col("kbase") + col("c_custkey"))
    val treated = cust.filter(pmod(col("c_custkey"), lit(2L)) === 0)
      .select(col("c_custkey"), col("c_nationkey").as("nat"),
        col("spend"), col("cmp"))
    val control = cust.filter(pmod(col("c_custkey"), lit(2L)) === 1)
      .select(col("c_nationkey").as("nat"), col("spend").as("c_spend"),
        col("cmp"))
    graft.plans.AsOf.join(treated, control, "nat", "cmp", "cmp")
      .agg(count(lit(1)).as("n_treated"),
        count(col("__r_c_spend")).as("n_matched"),
        sum(when(col("__r_c_spend").isNotNull,
          col("spend") - col("__r_c_spend")).otherwise(lit(0L))).as("sd"))
      .select(col("n_treated"), col("n_matched"),
        (floor(col("n_matched").cast("double") / col("n_treated")
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("match_rate"),
        (floor(col("sd").cast("double") / col("n_matched") / lit(100.0d)
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("att_dollars"))
  }

  private val psmAttSql =
    """WITH kb AS (SELECT (1::BIGINT << length(bin(max(c_custkey))))
      |             AS kbase FROM customer),
      |cust AS MATERIALIZED (
      |  SELECT c_custkey, c_nationkey,
      |         CAST(coalesce(sum(CAST(floor(o_totalprice * 100.0 + 0.5)
      |                                AS BIGINT)), 0) AS BIGINT) AS spend,
      |         CAST(count(o_custkey) AS BIGINT) AS n_orders,
      |         CAST(count(o_custkey) AS BIGINT) * (SELECT kbase FROM kb)
      |           + c_custkey AS cmp
      |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |  GROUP BY 1, 2),
      |t AS (SELECT * FROM cust WHERE c_custkey % 2 = 0),
      |c AS MATERIALIZED (SELECT * FROM cust WHERE c_custkey % 2 = 1),
      |m AS (
      |  SELECT t.c_custkey, t.spend,
      |         (SELECT max(c.cmp) FROM c
      |          WHERE c.c_nationkey = t.c_nationkey AND c.cmp <= t.cmp)
      |           AS mcmp
      |  FROM t),
      |mm AS (
      |  SELECT m.c_custkey, m.spend, c.spend AS c_spend
      |  FROM m LEFT JOIN c ON c.cmp = m.mcmp)
      |SELECT CAST(count(*) AS BIGINT) AS n_treated,
      |       CAST(count(c_spend) AS BIGINT) AS n_matched,
      |       floor(CAST(count(c_spend) AS DOUBLE) / count(*)
      |             * 10000.0 + 0.5) / 10000.0 AS match_rate,
      |       floor(CAST(coalesce(sum(spend - c_spend), 0) AS DOUBLE)
      |             / count(c_spend) / 100.0 * 10000.0 + 0.5) / 10000.0
      |         AS att_dollars
      |FROM mm""".stripMargin

  /** Activity-bucket cap for [[ipwAte]]'s propensity strata. */
  private val IPW_BUCKET_CAP = 20L

  /** Inverse-propensity-weighted ATE (Hájek-stabilized) — the weighting
    * complement of [[psmAtt]]'s matching: propensity within each
    * bounded activity stratum b (n_orders capped at
    * [[IPW_BUCKET_CAP]]) is the exact rational e_b = n_treated_b/n_b,
    * treated units weight 1/e_b = n_b/n_tb, controls 1/(1−e_b) =
    * n_b/n_cb, and ATE = weighted-mean(treated) − weighted-mean(ctrl).
    * Strata violating positivity (no treated or no control) are
    * EXCLUDED and counted — the standard trimming, surfaced rather than
    * silent.
    *
    * Exactness: per-unit weighted terms quantize to 1e-6 BIGINTs via
    * integer division (⌊cents·n_b·10⁶/n_tb⌋ — order-free sums at any
    * partitioning, the Kruskal-Wallis discipline); each weighted mean is
    * ONE division of two exact sums. Scale shape: two aggregates over
    * the customer frame + a broadcast-sized stratum table joined back —
    * no fact-sized shuffle beyond the per-customer rollup. */
  def ipwAte(s: SparkSession, dir: String): DataFrame =
    ipwAteOn(customerActivity(s, dir))

  /** [[ipwAte]] over an explicit per-unit frame — the seam. */
  private[graft] def ipwAteOn(cust: DataFrame): DataFrame = {
    val units = cust.select(col("c_custkey"), col("spend"),
      least(col("n_orders"), lit(IPW_BUCKET_CAP)).as("b"),
      when(pmod(col("c_custkey"), lit(2L)) === 0, lit(1L))
        .otherwise(lit(0L)).as("treated"))
    val strata = units.groupBy("b")
      .agg(count(lit(1)).as("nb"),
        sum("treated").as("ntb"))
      .withColumn("ncb", col("nb") - col("ntb"))
    units.join(broadcast(strata), "b")
      .select(col("treated"), col("nb"), col("ntb"), col("ncb"),
        col("spend"))
      .filter(col("ntb") > 0 && col("ncb") > 0) // positivity trim
      .agg(
        count(lit(1)).as("n_used"),
        sum("treated").as("n_treated"),
        sum(when(col("treated") === 1,
          expr("CAST(spend AS DECIMAL(38,0)) * nb * 1000000 div ntb"))
          .otherwise(0L)).as("swt"),
        sum(when(col("treated") === 1,
          expr("nb * 1000000L div ntb")).otherwise(0L)).as("swt1"),
        sum(when(col("treated") === 0,
          expr("CAST(spend AS DECIMAL(38,0)) * nb * 1000000 div ncb"))
          .otherwise(0L)).as("swc"),
        sum(when(col("treated") === 0,
          expr("nb * 1000000L div ncb")).otherwise(0L)).as("swc1"))
      .select(col("n_used"), col("n_treated"),
        (floor((col("swt").cast("double") / col("swt1")
          - col("swc").cast("double") / col("swc1")) / lit(100.0d)
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("ate_dollars"),
        (floor(col("swt").cast("double") / col("swt1") / lit(100.0d)
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("mean_treated"),
        (floor(col("swc").cast("double") / col("swc1") / lit(100.0d)
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("mean_control"))
  }

  private val ipwAteSql =
    s"""WITH cust AS (
       |  SELECT c_custkey,
       |         CAST(coalesce(sum(CAST(floor(o_totalprice * 100.0 + 0.5)
       |                                AS BIGINT)), 0) AS BIGINT) AS spend,
       |         least(CAST(count(o_custkey) AS BIGINT), $IPW_BUCKET_CAP)
       |           AS b,
       |         CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END AS treated
       |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
       |  GROUP BY c_custkey),
       |strata AS (
       |  SELECT b, CAST(count(*) AS BIGINT) AS nb,
       |         CAST(sum(treated) AS BIGINT) AS ntb,
       |         CAST(count(*) - sum(treated) AS BIGINT) AS ncb
       |  FROM cust GROUP BY 1),
       |u AS (
       |  SELECT c.treated, c.spend, s.nb, s.ntb, s.ncb
       |  FROM cust c JOIN strata s ON c.b = s.b
       |  WHERE s.ntb > 0 AND s.ncb > 0)
       |SELECT CAST(count(*) AS BIGINT) AS n_used,
       |       CAST(sum(treated) AS BIGINT) AS n_treated,
       |       floor((CAST(sum(CASE WHEN treated = 1
       |                THEN spend::HUGEINT * nb * 1000000 // ntb ELSE 0 END) AS DOUBLE)
       |              / sum(CASE WHEN treated = 1
       |                    THEN nb * 1000000 // ntb ELSE 0 END)
       |              - CAST(sum(CASE WHEN treated = 0
       |                    THEN spend::HUGEINT * nb * 1000000 // ncb ELSE 0 END) AS DOUBLE)
       |                / sum(CASE WHEN treated = 0
       |                      THEN nb * 1000000 // ncb ELSE 0 END))
       |             / 100.0 * 10000.0 + 0.5) / 10000.0 AS ate_dollars,
       |       floor(CAST(sum(CASE WHEN treated = 1
       |                THEN spend::HUGEINT * nb * 1000000 // ntb ELSE 0 END) AS DOUBLE)
       |             / sum(CASE WHEN treated = 1
       |                   THEN nb * 1000000 // ntb ELSE 0 END)
       |             / 100.0 * 10000.0 + 0.5) / 10000.0 AS mean_treated,
       |       floor(CAST(sum(CASE WHEN treated = 0
       |                THEN spend::HUGEINT * nb * 1000000 // ncb ELSE 0 END) AS DOUBLE)
       |             / sum(CASE WHEN treated = 0
       |                   THEN nb * 1000000 // ncb ELSE 0 END)
       |             / 100.0 * 10000.0 + 0.5) / 10000.0 AS mean_control
       |FROM u""".stripMargin

  /** The post-period boundary for [[didEstimate]] — the midpoint of the
    * fixture's order calendar (1995-01..2001-08). */
  private val DID_SPLIT = "1998-01-01"

  /** Difference-in-differences — the workhorse quasi-experimental
    * estimator: outcome = order value, treatment = the deterministic
    * even-custkey cohort, periods split at [[DID_SPLIT]].
    * DiD = (ȳ_treat,post − ȳ_treat,pre) − (ȳ_ctrl,post − ȳ_ctrl,pre)
    * cancels both the stable cohort difference and the common time
    * trend. One fact scan to a 2×2 cell table (exact cent sums); the
    * four means divide once each and combine in one fixed IEEE
    * sequence, floor-4dp. */
  def didEstimate(s: SparkSession, dir: String): DataFrame =
    didOn(Tables.orders(s, dir))

  /** [[didEstimate]] over an explicit (o_custkey, o_orderdate,
    * o_totalprice) frame — the planted-semantics seam. */
  private[graft] def didOn(orders: DataFrame): DataFrame = {
    // literal cast to the COLUMN's timestamp flavor (TZ vs NTZ follows
    // the fixture's parquet encoding — the RefQueries.tpchQ5 pattern)
    val tsType = orders.schema("o_orderdate").dataType
    val cells = orders
      .select(
        when(pmod(col("o_custkey"), lit(2L)) === 0, lit(1L))
          .otherwise(lit(0L)).as("treated"),
        when(col("o_orderdate") >= lit(DID_SPLIT).cast(tsType), lit(1L))
          .otherwise(lit(0L)).as("post"),
        floor(col("o_totalprice") * lit(100.0d) + lit(0.5d)).cast("long")
          .as("cents"))
      .groupBy("treated", "post")
      .agg(count(lit(1)).as("n"), sum("cents").as("sc"))
      .withColumn("mean_cents", col("sc").cast("double") / col("n"))
    def m(t: Int, p: Int) =
      max(when(col("treated") === t && col("post") === p,
        col("mean_cents"))).as(s"m_t${t}_p$p")
    cells
      .agg(sum("n").as("n_orders"), m(1, 1), m(1, 0), m(0, 1), m(0, 0))
      .select(col("n_orders"),
        (floor(col("m_t1_p1") / lit(100.0d) * lit(10000.0d) + lit(0.5d))
          / lit(10000.0d)).as("treat_post"),
        (floor(col("m_t1_p0") / lit(100.0d) * lit(10000.0d) + lit(0.5d))
          / lit(10000.0d)).as("treat_pre"),
        (floor(col("m_t0_p1") / lit(100.0d) * lit(10000.0d) + lit(0.5d))
          / lit(10000.0d)).as("ctrl_post"),
        (floor(col("m_t0_p0") / lit(100.0d) * lit(10000.0d) + lit(0.5d))
          / lit(10000.0d)).as("ctrl_pre"),
        (floor(((col("m_t1_p1") - col("m_t1_p0"))
          - (col("m_t0_p1") - col("m_t0_p0"))) / lit(100.0d)
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("did_dollars"))
  }

  private val didEstimateSql =
    s"""WITH cells AS (
       |  SELECT CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END AS treated,
       |         CASE WHEN o_orderdate >= TIMESTAMP '$DID_SPLIT'
       |              THEN 1 ELSE 0 END AS post,
       |         CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
       |              AS BIGINT) AS sc
       |  FROM orders GROUP BY 1, 2),
       |w AS (
       |  SELECT CAST(sum(n) AS BIGINT) AS n_orders,
       |         max(CASE WHEN treated = 1 AND post = 1
       |             THEN CAST(sc AS DOUBLE) / n END) AS m11,
       |         max(CASE WHEN treated = 1 AND post = 0
       |             THEN CAST(sc AS DOUBLE) / n END) AS m10,
       |         max(CASE WHEN treated = 0 AND post = 1
       |             THEN CAST(sc AS DOUBLE) / n END) AS m01,
       |         max(CASE WHEN treated = 0 AND post = 0
       |             THEN CAST(sc AS DOUBLE) / n END) AS m00
       |  FROM cells)
       |SELECT n_orders,
       |       floor(m11 / 100.0 * 10000.0 + 0.5) / 10000.0 AS treat_post,
       |       floor(m10 / 100.0 * 10000.0 + 0.5) / 10000.0 AS treat_pre,
       |       floor(m01 / 100.0 * 10000.0 + 0.5) / 10000.0 AS ctrl_post,
       |       floor(m00 / 100.0 * 10000.0 + 0.5) / 10000.0 AS ctrl_pre,
       |       floor(((m11 - m10) - (m01 - m00)) / 100.0 * 10000.0 + 0.5)
       |         / 10000.0 AS did_dollars
       |FROM w""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q_bradley_terry", bradleyTerry, Some(bradleyTerrySql),
      doc = "Bradley-Terry source ranking from bucket-histogram pairwise " +
        "wins (no document pair materializes), 5 exact-integer " +
        "minorization rounds DuckDB-replayed as unrolled CTEs"),
    Q("q_psm_att", psmAtt, Some(psmAttSql),
      doc = "Propensity-score matching ATT through the first-class as-of " +
        "join: nearest not-greater activity score within nation, " +
        "tie-free packed keys, exact cent arithmetic"),
    Q("q_ipw_ate", ipwAte, Some(ipwAteSql),
      doc = "Hajek-stabilized inverse-propensity ATE over bounded " +
        "activity strata: exact rational weights, per-unit 1e-6 " +
        "quantization before order-free sums, positivity trimming"),
    Q("q_did", didEstimate, Some(didEstimateSql),
      doc = "Difference-in-differences over the 2x2 cohort/period cell " +
        "table: exact cent sums, four one-shot means, one fixed IEEE " +
        "combine"),
    Q("q_welch_ttest", welchTtest, Some(welchTtestSql),
      doc = "Welch unequal-variance t-test en-vs-other doc length: " +
        "exact integer sufficient stats pivoted wide, one fixed IEEE " +
        "sequence for t / Welch-Satterthwaite df / Cohen's d"),
    Q("q_anova_f", anovaF, Some(anovaFSql),
      doc = "one-way ANOVA F across languages: per-group SSB/SSW " +
        "contributions quantized to 1e-3 before the order-free " +
        "cross-group sum (the Kruskal-Wallis discipline)"),
    Q("q_kruskal_wallis", kruskalWallis, Some(kruskalWallisSql),
      doc = "Kruskal-Wallis H across languages: doubled-midrank exact " +
        "integers, per-group contribution quantized to 1e-6 before the " +
        "order-free cross-group sum, tie-corrected"),
    Q("q_mann_whitney", mannWhitney, Some(mannWhitneySql),
      doc = "Mann-Whitney U / Wilcoxon rank-sum (en vs non-en document " +
        "length): doubled midranks, BIGINT rank sums + tie correction, " +
        "one fixed FP sequence for z and rank-biserial r"),
    Q("q_shapley_attribution", shapleyAttribution,
      Some(shapleyAttributionSql),
      doc = "Shapley coalition attribution over prefix-channel bitmask " +
        "journeys: integer v(S) counts, factorial weights, one exact " +
        "1e-4 division; oracle enumerates 2^n subsets with a generated " +
        "factorial CASE"),
    Q("q_markov_attribution", markovAttribution,
      Some(markovAttributionSql),
      doc = "Markov removal-effect attribution: absorbing journey " +
        "chain, exact 1e-6 fixed-point 40-round walk (driver solve " +
        "over the bounded transition table; oracle = 40 unrolled " +
        "materialized CTE rounds, removal as a join predicate)"),
    Q("q_perm_test", permTest, Some(permTestSql),
      doc = "randomization test for Δmean doc length (en vs non-en): " +
        "salted-md5 binomial reassignment ×99, exact cross-multiplied " +
        "DECIMAL/HUGEINT extremeness compare, add-one p-value"),
    Q("q_survival", survival, Some(survivalSql)),
    Q("q_nelson_aalen", nelsonAalen, Some(nelsonAalenSql),
      doc = "Nelson-Aalen cumulative hazard of time-to-first-purchase: " +
        "1e-6-fixed exact-integer d/n increments, BIGINT running sum"),
    Q("q_mann_kendall", mannKendall, Some(mannKendallSql),
      doc = "Mann-Kendall monotone-trend test per event type: exact " +
        "BIGINT pair-sign sum over the calendar^2-bounded day pairs, " +
        "tie-corrected variance, continuity-corrected z"),
    Q("q_forecast_backtest", forecastBacktest, Some(forecastBacktestSql),
      doc = "one-step-ahead backtest of holt vs ewma vs seasonal-naive: " +
        "errors as exact BIGINT 1e-4 units, integer argmin winner"),
    Q("q_holt_winters", holtWinters, Some(holtWintersSql),
      doc = "Holt-Winters additive triple smoothing, period 7, dyadic " +
        "alpha=beta=gamma=1/2: 9-slot rotation-encoded BIGINT state " +
        "fold, exact in both engines"),
    Q("q_holt", holt, Some(holtSql),
      doc = "Holt linear-trend smoothing of per-type daily volume, " +
        "dyadic alpha=beta=1/2: exact BIGINT two-state fold (array " +
        "accumulator), one-step forecast = level + trend"),
    Q("q_ewma", ewma, Some(ewmaSql),
      doc = "dyadic EWMA (α=1/2) of daily volume per type — exact " +
        "BIGINT recursion via left fold, arithmetic identity with oracle"),
    Q("q_stl_decompose", stlDecompose, Some(stlDecomposeSql),
      doc = "additive trend/seasonal/residual decomposition of daily " +
        "volume — 1e-4 fixed-point, offset-shifted signed rounding"),
    Q("q_stl_anomaly", stlAnomaly, Some(stlAnomalySql),
      doc = "seasonal anomaly flags: decomposition residual vs a " +
        "3·1.4826·MAD robust threshold — medians via the bit-identical " +
        "percentile/quantile_cont pair"),
    Q("q_cusum", cusum, Some(cusumSql)),
    Q("q_binary_segmentation", binarySegmentation,
      Some(binarySegmentationSql),
      doc = "two-level binary segmentation: split at the exact-integer " +
        "CUSUM peak (earliest-argmax tiebreak), re-run the statistic " +
        "per side — one row per segment with peak day and statistic"),
    Q("q_bootstrap_ci", bootstrapCi, Some(bootstrapCiSql)),
    Q("q_seasonal_naive", seasonalNaive, Some(seasonalNaiveSql)),
    Q("q_mutual_info", mutualInfo, Some(mutualInfoSql)))
}
