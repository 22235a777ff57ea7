package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.sources.Ddl

/** Physical-layout properties the reference's README makes explicit
  * (README.md:16-18, 25) — invisible to the result-only oracle, so
  * asserted on executed plans here. */
class DdlSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  lazy val warehouse: Unit = Ddl.createWarehouse(spark, sfDir)

  test("bucketed fact-fact join runs with zero shuffle exchanges") {
    warehouse
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = Ddl.bucketJoin(spark)
      df.collect()
      val joins = collect(df.queryExecution.executedPlan) {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }
      assert(joins.nonEmpty, "expected a non-broadcast equi-join")
      joins.foreach { j =>
        val shufflesBelow = collect(j.asInstanceOf[org.apache.spark.sql.execution.SparkPlan]) {
          case e: ShuffleExchangeExec => e
        }
        assert(shufflesBelow.isEmpty,
          s"bucket join must not shuffle its inputs:\n${df.queryExecution.executedPlan}")
      }
    }
  }

  test("bucket join result matches the raw-parquet join") {
    warehouse
    val bucketed = Ddl.bucketJoin(spark)
      .orderBy("o_orderpriority").collect().toSeq
    val raw = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
      .orderBy("o_orderpriority").collect().toSeq
    assert(bucketed == raw)
  }

  test("identity-partitioned dim scan prunes partitions") {
    warehouse
    val df = spark.table("bootcamp.nation_part")
      .filter(col("n_regionkey") === 1)
    df.collect()
    val leafTxt = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(leafTxt.contains("PartitionFilters") &&
      leafTxt.contains("n_regionkey"),
      s"partition filter not applied at scan:\n$leafTxt")
  }

  test("sortWithinPartitions on low-cardinality keys shrinks parquet size") {
    val out = Files.tmp("graft-writesize")
    val sizes = Ddl.writeSizeExperiment(spark, sfDir, out).toMap
    assert(sizes.keySet ==
      Set("unsorted", "sorted_lowcard", "sorted_highcard"))
    assert(sizes.values.forall(_ > 0))
    // row counts must be preserved whatever the layout (the experiment
    // runs over the deterministic ~10% orderkey slice)
    val n = spark.read.parquet(s"$out/sorted_lowcard").count()
    val expected = Tables.lineitem(spark, sfDir)
      .filter(pmod(col("l_orderkey"), lit(10)) === 0).count()
    assert(n == expected && n > 0)
    info(s"bytes: $sizes")
  }

  test("ANALYZE TABLE feeds exact row counts and column NDVs to the optimizer") {
    warehouse
    spark.sql("ANALYZE TABLE bootcamp.nation_part COMPUTE STATISTICS " +
      "FOR COLUMNS n_nationkey, n_regionkey")
    // plan-level row counts / NDVs surface only under the cost-based
    // optimizer; without it the visitor propagates sizeInBytes alone
    val stats = withConf("spark.sql.cbo.enabled" -> "true") {
      spark.table("bootcamp.nation_part").queryExecution.optimizedPlan.stats
    }
    assert(stats.rowCount.contains(BigInt(25)),
      s"table-level row count missing after ANALYZE: ${stats.rowCount}")
    val ndv = stats.attributeStats.collectFirst {
      case (a, s) if a.name == "n_regionkey" => s.distinctCount
    }.flatten
    assert(ndv.contains(BigInt(5)),
      s"column NDV missing/wrong after ANALYZE: $ndv — the CBO would fall " +
        "back to size-only estimates for join planning")
  }
}

private object Files {
  def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
