package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

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

  private def ingestThreads: Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(_.getName.startsWith("graft-ingest-"))

  test("a failed write throws only after every other table's write finished") {
    val db = "ingestjob_writefail"
    // both bucket columns are absent from their CSVs, which validation
    // does not check, so both writes fail; the failing tables come first
    // and last, so a run that threw at the first failure, or before the
    // other writes finished, would leave the good tables short or absent
    val manifest =
      TableSpec("region_bad", s"$csvDir/region.csv", Seq("r_regionkey"),
        Bucketed("no_such_key_a")) +:
        IngestJob.harnessManifest(csvDir) :+
        TableSpec("nation_bad", s"$csvDir/nation.csv", Seq("n_nationkey"),
          Bucketed("no_such_key_b"))
    val ex = intercept[Exception](IngestJob.run(spark, manifest, db))
    assert(ingestThreads.isEmpty, s"ingest threads survived: $ingestThreads")
    Seq("lineitem_w" -> "lineitem", "orders_w" -> "orders",
        "nation_w" -> "nation", "region_w" -> "region",
        "supplier_w" -> "supplier").foreach { case (w, src) =>
      assert(spark.catalog.tableExists(s"$db.$w"), s"$w was not written")
      assert(spark.table(s"$db.$w").count() ==
        Tables.t(spark, sfDir, src).count(), s"count mismatch for $w")
    }
    assert(ex.getMessage.contains("no_such_key_a"),
      s"expected the first failure in manifest order: ${ex.getMessage}")
    assert(ex.getSuppressed.exists(_.getMessage.contains("no_such_key_b")),
      "the later failure must ride along as suppressed")
  }

  test("the ingest pool never exceeds defaultParallelism and dies with run") {
    val db = "ingestjob_pool"
    val cores = spark.sparkContext.defaultParallelism
    // twice as many tables as cores: without the bound every table
    // would get its own thread
    val manifest = (1 to 2 * cores).map(i =>
      TableSpec(s"region_$i", s"$csvDir/region.csv", Seq("r_regionkey")))
    @volatile var sampling = true
    @volatile var most = 0
    val sampler = new Thread(() =>
      while (sampling) {
        most = math.max(most, ingestThreads.count(_.isAlive))
        Thread.sleep(1)
      })
    sampler.start()
    try IngestJob.run(spark, manifest, db)
    finally {
      sampling = false
      sampler.join()
    }
    assert(ingestThreads.isEmpty, s"ingest threads survived: $ingestThreads")
    assert(most > 0 && most <= cores,
      s"saw $most live ingest threads; the bound is $cores")
    manifest.foreach(t => assert(spark.catalog.tableExists(s"$db.${t.name}")))
  }
}
