package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.sources.IngestJob
import graft.sources.IngestJob.{Bucketed, TableSpec}

/** End-to-end drive of the composed ingestion job (job1-parity): CSV
  * fixtures → validate → fail-fast → DDL → bucketed/partitioned warehouse,
  * plus the abort-before-any-write guarantee on the failure path. */
class IngestJobSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private lazy val csvDir: String = {
    val tmp = Files.createTempDirectory("graft_ingestjob").toString
    Seq("lineitem", "orders", "nation", "region", "supplier").foreach { t =>
      Tables.t(spark, sfDir, t)
        .write.mode(SaveMode.Overwrite).option("header", "true")
        .csv(s"$tmp/$t.csv")
    }
    tmp
  }

  test("composed job builds a queryable bucketed warehouse from CSVs") {
    val db = "ingestjob_ok"
    val reports = IngestJob.run(spark, IngestJob.harnessManifest(csvDir), db)
    assert(reports.size == 5 && reports.forall(_.ok))
    Seq("lineitem_w" -> "lineitem", "orders_w" -> "orders",
        "nation_w" -> "nation", "region_w" -> "region",
        "supplier_w" -> "supplier").foreach { case (w, src) =>
      assert(spark.table(s"$db.$w").count() ==
        Tables.t(spark, sfDir, src).count(), s"count mismatch for $w")
    }
    // the load-bearing property: the facts landed bucketed on the join
    // key, so fact⋈fact joins need no exchange
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val li = spark.table(s"$db.lineitem_w")
      val o = spark.table(s"$db.orders_w")
      val joined = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority").agg(sum("l_quantity").as("q"))
      joined.collect()
      val shuffles = collect(joined.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e
      }
      // only the final single-partition/agg exchange may appear; the join
      // inputs themselves must come straight from the bucketed scans
      val joins = collect(joined.queryExecution.executedPlan) {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }
      assert(joins.nonEmpty, "expected a non-broadcast equi-join")
      joins.foreach { j =>
        val below = collect(j.asInstanceOf[org.apache.spark.sql.execution.SparkPlan]) {
          case e: ShuffleExchangeExec => e
        }
        assert(below.isEmpty,
          s"composed-job bucket join must not shuffle its inputs " +
            s"(${shuffles.size} exchanges in full plan)")
      }
    }
  }

  test("declared DDL schema skips inference and fixes column types") {
    val db = "ingestjob_ddl"
    val manifest = Seq(
      TableSpec("region_t", s"$csvDir/region.csv",
        Seq("r_regionkey", "r_name"),
        schemaDdl = Some("r_regionkey BIGINT, r_name STRING, r_comment STRING")))
    IngestJob.run(spark, manifest, db)
    val sch = spark.table(s"$db.region_t").schema
    assert(sch("r_regionkey").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(sch("r_name").dataType ==
      org.apache.spark.sql.types.StringType)
  }

  test("validation failure aborts before ANY write") {
    val db = "ingestjob_fail"
    // supplier demands a column that does not exist; lineitem is valid —
    // the job must not write lineitem either
    val manifest = Seq(
      TableSpec("lineitem_w", s"$csvDir/lineitem.csv",
        Seq("l_orderkey"), Bucketed("l_orderkey")),
      TableSpec("supplier_w", s"$csvDir/supplier.csv",
        Seq("s_suppkey", "no_such_column")))
    val ex = intercept[IngestJob.ValidationFailed] {
      IngestJob.run(spark, manifest, db)
    }
    assert(ex.reports.map(_.alias) == Seq("supplier_w"))
    assert(ex.reports.head.missingColumns == Seq("no_such_column"))
    assert(!spark.catalog.databaseExists(db) ||
      spark.catalog.listTables(db).isEmpty,
      "fail-fast must abort before any write")
  }
}
