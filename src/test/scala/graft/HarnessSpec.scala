package graft

/** [[Harness.run]], the per-query path of every main: after each run only
  * the memo-owned pins stay, so shared builds stay warm while per-call
  * pins go; and a failing query is a negative time, not a thrown error. */
class HarnessSpec extends SparkTestBase {

  private def persistent: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Run registered query `name` through the harness; also returns the
    * persistent RDDs seen right after its sink ran. */
  private def run(name: String): (Double, Set[Int]) = {
    var during = Set.empty[Int]
    val dt = Harness.run(spark, "spec", name, SparkEntry.queries(name), sfDir) {
      df => Harness.noop(df); during = persistent
    }
    (dt, during)
  }

  test("a run keeps exactly the memo-owned pins; a rerun builds nothing") {
    val sc = spark.sparkContext
    val (tc, duringCooc) = run("q_cooccurrence")
    assert(tc > 0)
    assert((duringCooc -- Memo.owned(sc)).nonEmpty,
      "q_cooccurrence pins a per-call frame while it runs")
    val (tp, _) = run("q_pagerank")
    assert(tp > 0)
    val owned = Memo.owned(sc)
    assert(persistent == (owned intersect persistent) && persistent.nonEmpty,
      s"persistent $persistent vs memo-owned $owned")
    assert(((duringCooc -- owned) intersect persistent).isEmpty,
      "the per-call pins were released")
    val b0 = BuildMeter.count
    assert(run("q_pagerank")._1 > 0)
    assert(BuildMeter.count == b0, "the rerun rebuilt a shared memo")
  }

  test("a failing query returns a negative time and the next run succeeds") {
    val dt = Harness.run(spark, "spec", "q_throws",
      (_, _) => throw new IllegalStateException("boom"), sfDir)()
    assert(dt < 0)
    assert(run("q_pagerank")._1 > 0)
  }
}
