package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** The aggregate decompositions: the approx-distinct pair dedup and
  * the columnProfile unpivot each equal their direct form, and no
  * exchange carries per-pair sketch state. */
class AggregateDecompositionSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  test("approx-distinct pair decomposition matches the direct sketch form") {
    // HLL is duplicate-insensitive: the contract query's est over deduped
    // (flag, partkey) pairs must equal the plain form's est over raw rows
    val direct = operators.Breadth.approxDistinct(spark, sfDir)
      .select("l_returnflag", "approx_parts", "n").collect().map(_.toSeq)
    val viaPairs = operators.Breadth.approxDistinctContract(spark, sfDir)
      .collect().map(r => Seq(r.getString(0), r.getLong(2))) // flag, n
    val directN = direct.map(r => Seq(r(0), r(2)))
    assert(viaPairs.toSeq == directN.toSeq,
      "pair-dedup n census diverged from the direct count")
    val est = operators.Breadth.approxDistinctContract(spark, sfDir)
      .collect().map(_.getBoolean(3))
    assert(est.forall(identity), "sketch left the ±5% contract band")
  }

  test("columnProfile unpivot decomposition equals the wide-aggregate form") {
    import spark.implicits._
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val li = Tables.lineitem(spark, sfDir)
    val expected = cols.map { c =>
      val r = li.agg(count(col(c)).cast("long").as("nv"),
        countDistinct(col(c)).as("nd"),
        round(min(col(c)), 4).as("mn"), round(max(col(c)), 4).as("mx"),
        count(lit(1)).as("n")).collect()(0)
      (c, r.getLong(0), r.getLong(4) - r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3))
    }
    val got = operators.Curation.columnProfile(spark, sfDir).as[
      (String, Long, Long, Long, Double, Double)].collect().toSeq
    assert(got == expected.sortBy(_._1))
  }

  test("no exchange carries per-PAIR sketch state") {
    // the flag-level merge exchange legitimately carries HLL register
    // words, but only |flags|×tasks rows of them; the defect the
    // decomposition kills is sketch state on rows KEYED BY the distinct
    // column (one 413-word row per (flag, partkey) pair)
    val df = operators.Breadth.approxDistinctContract(spark, sfDir)
    df.collect()
    val bad = collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec
        if e.output.exists(_.name == "l_partkey") &&
          e.output.exists(_.name.startsWith("MS[")) => e
    }
    assert(bad.isEmpty,
      s"per-pair sketch state crossed an exchange again: $bad")
  }
}
