package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions.expr

import graft.operators.RefQueries

class RefQueriesSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() == 1)
  }

  test("every registered query returns rows and declared columns") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      assert(df.count() > 0, s"$name returned no rows")
      assert(df.columns.distinct.length == df.columns.length,
        s"$name has duplicate column names")
    }
  }

  test("every oracleSql key has a matching query") {
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs))
  }

  test("flagship avg matches hand computation") {
    import spark.implicits._
    val row = RefQueries.flagship(spark, sfDir).as[(Long, String, Double, Long)]
      .head()
    // recompute the winner's average directly
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val joined = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .filter(c("c_custkey") === row._1)
    val expected = joined.agg(org.apache.spark.sql.functions.avg("l_quantity"))
      .head().getDouble(0)
    assert(math.abs(BigDecimal(expected).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble - row._3) < 1e-9)
    assert(joined.count() == row._4)
  }

  test("approx percentiles land within sketch tolerance of the exact values") {
    // the driver's check for q_percentile_approx is rows-only (sketch
    // estimates are engine-specific), so the accuracy claim is held here:
    // with accuracy=10000, percentile_approx guarantees a rank error of
    // at most n/10000 — compare each estimate against the exact
    // percentiles at a VALUE tolerance derived generously from the group
    // spread (the fixture groups are ~thousands of rows, so estimates
    // should sit essentially on top of the exact values)
    val approx = operators.JoinsPlus.percentilesApprox(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val exact: Map[String, (Seq[Double], Double)] = Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.95))")
        .as("ps"),
        expr("max(l_extendedprice) - min(l_extendedprice)").as("spread"))
      .collect().map(r =>
        r.getString(0) -> ((r.getSeq[Double](1), r.getDouble(2)))).toMap
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (flag, est) =>
      val (ex, spread) = exact(flag)
      est.zip(ex).zipWithIndex.foreach { case ((a, e), i) =>
        assert(math.abs(a - e) <= 0.02 * spread,
          s"approx p$i for group $flag off by ${math.abs(a - e)} " +
            s"(exact $e, approx $a, spread $spread)")
      }
    }
  }

  test("dim joins use broadcast hash join even with auto-broadcast disabled") {
    // README.md:16-17 semantics: explicit broadcast must survive
    // autoBroadcastJoinThreshold=-1.
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = RefQueries.broadcastDims(spark, sfDir)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val bhj = collect(plan) { case b: BroadcastHashJoinExec => b }
      assert(bhj.size == 2, s"expected 2 broadcast joins, got:\n$plan")
      // the fact side must not shuffle for dim joins: no ShuffleExchange
      // anywhere below a broadcast join (shuffles above — for the
      // aggregation — are expected)
      bhj.foreach { j =>
        val below = collect(j.asInstanceOf[org.apache.spark.sql.execution.SparkPlan]) {
          case e: ShuffleExchangeExec => e
        }
        assert(below.isEmpty, s"shuffle below broadcast join:\n$plan")
      }
    }
  }

  test("pricing summary pushes the shipdate filter into the parquet scan") {
    val df = RefQueries.pricingSummary(spark, sfDir)
    val scans = df.queryExecution.executedPlan.collectLeaves()
    val txt = scans.map(_.toString).mkString("\n")
    assert(txt.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$txt")
  }
}
