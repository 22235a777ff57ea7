package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** Runtime bloom-filter join pruning (Catalyst's InjectRuntimeFilter) —
  * the optimizer surface that matters most for selective fact⋈dim shuffle
  * joins at 100 TB: the dim side's join keys build a bloom filter that
  * pre-filters the fact scan, so most fact rows never reach the shuffle.
  * The engine leans on the built-in rule rather than hand-rolling one;
  * this spec pins that the rule actually fires on our join shape (it is
  * threshold-gated, so a config drift could silently disable it).
  */
class RuntimeFilterSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  test("selective dim filter injects a bloom filter on the fact scan side") {
    withConf(
      // force the shuffle-join regime (runtime filters target non-broadcast
      // joins; with a broadcast the DPP/semi-join path applies instead)
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // local fixtures are far below the 10 GiB default application-side
      // threshold; at real scale the default gates the rule correctly
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0") {
      val urgent = Tables.orders(spark, sfDir)
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = Tables.lineitem(spark, sfDir)
        .join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
      val optimized = j.queryExecution.optimizedPlan.toString()
      assert(optimized.contains("might_contain"),
        "InjectRuntimeFilter did not fire: the fact side would scan and " +
          "shuffle every row against a selective dim")
      // and the result still matches the unfiltered-plan answer
      val expected = Tables.lineitem(spark, sfDir)
        .join(urgent.hint("broadcast"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .collect().toSeq
      assert(j.collect().toSeq == expected)
    }
  }

  test("explicit bloom prune: no false negatives, FP rate in the sized band") {
    val r = graft.operators.JoinsPlus.bloomPrune(spark, sfDir).head()
    // Bloom filters NEVER drop a true member — candidates ⊇ truth
    assert(r.getAs[Long]("n_candidates") >= r.getAs[Long]("n_true"),
      s"bloom dropped true members: $r")
    // sized at 16 bits/key with k=3 the theoretical FP is ~0.5%; allow
    // generous sampling noise at small SFs
    val fp = r.getAs[Double]("fp_rate")
    assert(fp >= 0.0 && fp < 0.05, s"FP rate $fp outside the sized band: $r")
    // the filter actually prunes: candidates are far below the probe set
    assert(r.getAs[Long]("n_candidates") < r.getAs[Long]("n_probe") / 2,
      s"filter not selective: $r")
  }

  test("AQE splits a skewed join partition instead of one straggler reducer") {
    import spark.implicits._
    // planted skew: 90% of the left rows share one key
    val left = spark.range(0, 200000)
      .select(when(col("id") % 10 === 0, col("id") % 100)
        .otherwise(lit(0L)).as("k"),
        concat(lit("payloadpayloadpayload"), col("id")).as("payload"))
    val right = spark.range(0, 100).select(col("id").as("k"),
      (col("id") * 2).as("attr"))
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      // split granularity is MAP-OUTPUT pieces: a skewed partition can
      // only split where advisory size < the hot key's per-mapper share.
      // The fixture's share is KBs (8 mappers), so the advisory must drop
      // to 1 KB here; at real scale the 64 MB default plays the same role
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB") {
      // a GLOBAL aggregate: a same-key groupBy downstream would require
      // the join's hash partitioning and veto the skew split
      val j = left.join(right, "k")
        .agg(count(lit(1)).as("n"), sum("attr").as("s"))
      val row = j.collect()(0)
      val plan = j.queryExecution.executedPlan.toString()
      assert(plan.contains("skew=true"),
        "AQE did not mark the join skew-handled — the hot key would land " +
          "on one reducer at scale:\n" + plan.take(2000))
      // correctness unaffected by the split: every left row joins once
      assert(row.getLong(0) == 200000L, s"row count off: $row")
    }
  }

  test("shuffled hash join: the third join algorithm, for mid-size builds") {
    // between "small enough to broadcast" and "sort-merge both sides"
    // sits the shuffled hash join: shuffle both sides, hash-build the
    // smaller — no sort of the (huge) probe side. At 100 TB this is the
    // right algorithm for fact ⋈ mid-size-dim where the dim exceeds the
    // driver/executor broadcast budget but one PARTITION of it fits in
    // executor memory. The explicit hint is the deterministic selector
    // (same discipline as the engine's explicit broadcast() calls):
    // auto-selection needs autoBroadcastJoinThreshold > 0, whose product
    // with the partition count gates canBuildLocalHashMap — with the
    // engine's broadcast-off setting (-1) the planner can never volunteer
    // SHJ, exactly when a 100 TB job most wants it.
    def query(hinted: Boolean) = Tables.lineitem(spark, sfDir)
      .join(
        if (hinted) Tables.orders(spark, sfDir).hint("shuffle_hash")
        else Tables.orders(spark, sfDir),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority")
    val shjRows = withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = query(hinted = true)
      val rows = j.collect()
      val plan = j.queryExecution.executedPlan
      val hasSHJ = collect(plan) {
        case h: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => h
      }.nonEmpty
      assert(hasSHJ, s"planner did not pick ShuffledHashJoin:\n$plan")
      rows
    }
    // same answer as the default (sort-merge / broadcast) plan
    assert(shjRows.sameElements(query(hinted = false).collect()),
      "join algorithm changed the answer")
  }

  test("dim filter dynamically prunes the partitioned fact scan (DPP)") {
    withConf(
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true",
      // stats-based benefit estimation is size-dependent; disable it so
      // the assertion pins the MECHANISM, not the fixture's byte counts
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false") {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_dpp").toString + "/orders_part"
      // fact laid out with a partition column — the physical layout DPP
      // prunes; at 100 TB this is the date/tenant partitioning of a lake
      Tables.orders(spark, sfDir)
        .withColumn("part", pmod(col("o_custkey"), lit(8L)))
        .write.mode("overwrite").partitionBy("part").parquet(tmp)
      val fact = spark.read.parquet(tmp)
      // selective dim: the partitions the fact scan may keep are only
      // known at RUNTIME, from the dim filter's surviving join keys
      val dim = Tables.customer(spark, sfDir)
        .filter(col("c_mktsegment") === "BUILDING")
        .filter(pmod(col("c_custkey"), lit(8L)) < 2)
        .select(pmod(col("c_custkey"), lit(8L)).as("part")).distinct()
      val j = fact.join(dim, Seq("part"))
        .agg(count(lit(1)).as("n"))
      val n = j.collect()(0).getLong(0)
      val scans = collect(j.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
          // the count() prunes every data column, so identify the fact
          // scan by its file location, not its (empty) output schema
          if s.metadata.get("Location").exists(_.contains("orders_part")) => s
      }
      assert(scans.nonEmpty, "fact scan not found")
      assert(scans.exists(_.partitionFilters.exists(
          _.toString.toLowerCase.contains("dynamicpruning"))),
        s"no dynamic pruning filter on the fact scan:\n" +
          s"${scans.map(_.partitionFilters).mkString("\n")}")
      // pruned plan must agree with the statically-filtered answer
      val expected = fact.filter(col("part") < 2).count()
      assert(n == expected, s"DPP changed the answer: $n vs $expected")
    }
  }
}
