package graft

import org.apache.spark.sql.functions._

/** Pins the third leg of the skew defense triad. Hot keys in AGGREGATES
  * are absorbed by two-phase/salted spellings (q_salted_agg), hot keys
  * in per-key WINDOWS by the two-level decomposition (sessionize), and
  * hot keys in JOINS are Spark's own job: AQE's OptimizeSkewedJoin
  * splits an oversized shuffle partition into per-split replicas at
  * runtime. That only works if the engine's sessions keep AQE + skew
  * join enabled and nothing in the plan (a hand-placed repartition on
  * the join key, a disabled flag) defeats it — which is exactly what
  * this spec asserts, on a join whose hot key carries ~80% of the fact
  * side. Thresholds are lowered to test scale; the TRIGGERING MECHANISM
  * (partition bytes > threshold AND > factor × median) is the same one
  * a 256 MB-default production partition hits.
  */
class AqeSkewJoinSpec extends SparkTestBase {

  private val skewConf = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // test-scale thresholds: the default 256 MB partition floor would
    // need a multi-GB fixture; the split CONDITION is unchanged
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16384",
    // force a sort-merge join: a broadcast join has no skewed shuffle
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** Fact side: 150k rows, 80% on key 0, ~60-byte payload — key 0's
    * shuffle partition dwarfs the median. Dim side: keys 0..999 once. */
  private def skewedJoin() = {
    val fact = spark.range(0, 150000, 1, 8)
      .select(
        when(pmod(col("id"), lit(10)) < 8, lit(0L))
          .otherwise(pmod(col("id"), lit(1000))).as("k"),
        concat(lit("payload_"), col("id"),
          lit("_" + "x" * 48)).as("payload"))
    val dim = spark.range(0, 1000, 1, 4)
      .select(col("id").as("k"), (col("id") * 7).as("dim_val"))
    // GLOBAL aggregate on purpose: a groupBy("k") downstream would
    // REQUIRE the join's k-distribution, and OptimizeSkewedJoin (which
    // breaks that distribution by splitting partitions) legally
    // declines rather than add a shuffle — the split only fires when
    // the join's output distribution is free, as here. The payload is
    // aggregated too so column pruning cannot drop it BEFORE the join
    // shuffle (a k-only hot partition is borderline against the
    // lowered byte threshold; the payload makes it unambiguous).
    fact.join(dim, "k").agg(count(lit(1)).as("n"), sum("dim_val").as("s"),
      sum(length(col("payload"))).as("pl"))
  }

  test("OptimizeSkewedJoin splits the hot key's partition under the " +
    "session's AQE defaults") {
    withConf(skewConf.toSeq: _*) {
      val df = skewedJoin()
      val rows = df.collect()
      assert(rows.length == 1 && rows(0).getLong(0) == 150000L)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected a skew-split sort-merge join in the final adaptive " +
          s"plan; got:\n${plan.take(4000)}")
    }
  }

  test("control: the same join with skewJoin disabled shows no split " +
    "(the assertion is not vacuous)") {
    withConf((skewConf + ("spark.sql.adaptive.skewJoin.enabled" -> "false")).toSeq: _*) {
      val df = skewedJoin()
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("skew=true"), "skew split fired while disabled")
    }
  }
}
