package graft

import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.plans.{AsOf, AsOfJoinExec}

/** The custom as-of operator's CONTRACT: the planner accepts the node,
  * EnsureRequirements inserts the clustered exchanges + (key, time)
  * sorts the exec demands, and the merge agrees row-for-row with the
  * built-in spelling (union + last-ignore-nulls window). */
class AsOfPlanSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private def sides = {
    val ev = Tables.events(spark, sfDir)
    (ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), expr("unix_micros(ts)").as("b_us")),
      ev.filter(col("event_type") === "view")
        .select(col("user_id"), expr("unix_micros(ts)").as("v_us")))
  }

  test("planner inserts hash exchanges and (key, time) sorts under AsOfJoinExec") {
    val (buys, views) = sides
    val j = AsOf.join(buys, views, "user_id", "b_us", "v_us")
    j.collect() // force AQE to finalize the plan
    val plan = j.queryExecution.executedPlan
    val execs = collect(plan) { case e: AsOfJoinExec => e }
    assert(execs.size == 1, s"expected one AsOfJoinExec:\n$plan")
    val shuffles = collect(plan) { case s: ShuffleExchangeExec => s }
    assert(shuffles.size == 2,
      s"both sides must hash-cluster on the key: ${shuffles.size} exchanges")
    val sorts = collect(plan) { case s: SortExec => s }
    assert(sorts.size == 2 &&
      sorts.forall(_.sortOrder.length == 2),
      s"both sides must sort by (key, time):\n$plan")
  }

  test("left-side filters push through the custom node; right-side " +
    "conjuncts stay above it") {
    val (buys, views) = sides
    val j = AsOf.join(buys, views, "user_id", "b_us", "v_us")
      // one left-only conjunct (pushable) + one right-side conjunct (must
      // NOT move: it sees null-extended slots)
      .filter(col("event_id") % 2 === 0 && col("__r_v_us").isNotNull)
    val opt = j.queryExecution.optimizedPlan
    val asof = opt.collect { case a: graft.plans.AsOfJoinPlan => a }
    assert(asof.size == 1, s"expected the custom node to survive:\n$opt")
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    // the left subtree now carries the event_id conjunct…
    val leftFilters = asof.head.left.collect { case f: Filter => f }
    assert(leftFilters.exists(_.condition.references.exists(
      _.name == "event_id")),
      s"left conjunct was not pushed into the left child:\n$opt")
    // …and no filter above the node mentions event_id (only the right
    // conjunct may remain there)
    var above = true
    val stillAbove = opt.collect {
      case f: Filter if above &&
        f.condition.references.exists(_.name == "event_id") => f
      case a: graft.plans.AsOfJoinPlan => above = false; null
    }.filter(_ != null)
    assert(stillAbove.isEmpty,
      s"event_id conjunct still filters above the as-of node:\n$opt")
    // pushdown must not change results: filtering the left input first is
    // the same query
    val manual = AsOf.join(
      buys.filter(col("event_id") % 2 === 0), views,
      "user_id", "b_us", "v_us").filter(col("__r_v_us").isNotNull)
    assert(j.count() == manual.count() && j.count() > 0)
  }

  test("custom merge agrees row-for-row with the window-based as-of spelling") {
    val (buys, views) = sides
    val custom = AsOf.join(buys, views, "user_id", "b_us", "v_us")
      .select(col("user_id"), col("event_id"), col("b_us"),
        col("__r_v_us").as("v_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    // independent spelling: union + running last-ignore-nulls
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("us").asc, col("tag").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val ev = Tables.events(spark, sfDir)
    val uni = ev.filter(col("event_type") === "view")
      .select(col("user_id"), expr("unix_micros(ts)").as("us"),
        lit(0L).as("event_id"), lit(0).as("tag"),
        expr("unix_micros(ts)").as("vv"))
      .unionByName(ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("unix_micros(ts)").as("us"),
          col("event_id"), lit(1).as("tag"),
          lit(null).cast("long").as("vv")))
    val expected = uni
      .withColumn("last_v", last("vv", ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("user_id"), col("event_id"), col("us"), col("last_v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(custom == expected,
      s"custom vs window diff: ${(custom diff expected).take(3)} / " +
        s"${(expected diff custom).take(3)}")
    assert(custom.nonEmpty)
  }

  test("timestamp and integer key/time columns join without manual casts") {
    val ev = Tables.events(spark, sfDir)
    // raw TIMESTAMP time columns + an INT-cast key: the API inserts the
    // widening casts; result must equal the hand-cast BIGINT spelling
    val buysTs = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").cast("int").as("uid"), col("event_id"),
        col("ts"))
    val viewsTs = ev.filter(col("event_type") === "view")
      .select(col("user_id").cast("int").as("uid"), col("ts"))
    val viaTs = AsOf.join(buysTs, viewsTs, "uid", "ts", "ts")
      .select(col("event_id"), expr("unix_micros(__r_ts)").as("v_us"))
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSet
    val (buys, views) = sides
    val viaUs = AsOf.join(buys, views, "user_id", "b_us", "v_us")
      .select(col("event_id"), col("__r_v_us"))
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSet
    assert(viaTs == viaUs && viaTs.nonEmpty)
    // mixed temporal/integral time pair is refused, not guessed at
    intercept[RuntimeException] {
      AsOf.join(buysTs, views.withColumnRenamed("user_id", "uid")
        .withColumn("uid", col("uid").cast("int")), "uid", "ts", "v_us")
    }
  }

  test("exec partition alignment survives AQE coalescing across shuffle " +
    "widths") {
    // zipPartitions requires equal child partition counts; this pins that
    // EnsureRequirements + AQE (coalescing enabled) keep the two sides
    // aligned whatever the configured width — a mismatch throws inside
    // zipPartitions, so agreeing row sets ARE the alignment proof
    val (buys, views) = sides
    val expected = AsOf.join(buys, views, "user_id", "b_us", "v_us")
      .select(col("event_id"), col("__r_v_us")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSet
    val widths = Seq("3", "7", "64")
    widths.foreach { w =>
      withConf("spark.sql.shuffle.partitions" -> w,
        "spark.sql.adaptive.coalescePartitions.enabled" -> "true") {
        val got = AsOf.join(buys, views, "user_id", "b_us", "v_us")
          .select(col("event_id"), col("__r_v_us")).collect()
          .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
          .toSet
        assert(got == expected, s"as-of result drifted at width $w")
      }
    }
  }

  test("self-join lineage: both sides from one table resolve distinct attributes") {
    // the regression that shipped first: shared exprIds made rightKey
    // bind to the LEFT side; the __r_ aliasing guard must prevent it
    val (buys, views) = sides
    val j = AsOf.join(buys, views, "user_id", "b_us", "v_us")
    assert(j.columns.count(_ == "user_id") == 1)
    assert(j.columns.contains("__r_user_id"))
    // unmatched left rows carry NULL right columns, not zeros
    val early = j.filter(col("__r_v_us").isNull)
    assert(early.filter(col("__r_user_id").isNotNull).count() == 0,
      "unmatched rows must be all-null on the right side")
  }

  test("mixed temporal/integral KEY pair is refused at analysis (the " +
    "epoch-us-vs-raw-integer silent mismatch)") {
    val (buys, views) = sides
    val viewsTsKey = views.select(
      expr("timestamp_micros(user_id)").as("user_id"), col("v_us"))
    val e = intercept[IllegalArgumentException] {
      AsOf.join(buys, viewsTsKey, "user_id", "b_us", "v_us")
    }
    assert(e.getMessage.contains("key columns"), e.getMessage)
  }

  test("q_psm_att executes on the custom AsOfJoinExec (not a window " +
    "rewrite), matching stays inside one merge pass") {
    val df = graft.operators.Inference.psmAtt(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val execs = collect(plan) { case e: AsOfJoinExec => e }
    assert(execs.size == 1,
      s"PSM must match through the first-class as-of exec:\n$plan")
  }
}
