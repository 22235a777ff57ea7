package graft

import java.io.{File, PrintWriter}

/** Plan-audit main: dumps the formatted physical plan of every registered
  * query to one file for review (pushdown reached the scan? broadcasts
  * where intended? no surprise exchanges?). Dev tool, not driver contract.
  *
  * Usage: sbt 'runMain graft.Plans [sfDir] [outFile]'
  *
  * r14 additions (optimization-round evidence trail):
  *  - the [[Harness.selected]] subset filter restricts the dump to
  *    named queries;
  *  - an outFile ending in "/" is treated as a DIRECTORY and each query's
  *    plan lands in its own <dir>/<name><SPARK_GRAFT_PLAN_SUFFIX>.txt —
  *    the `plans/r14/<query>_{before,after}.txt` deliverable format;
  *  - SPARK_GRAFT_CPUS sizes the master/shuffle partitions (default 8);
  *    the session is [[GraftSession]], the bench's own, so the captured
  *    plan is the one the bench runs.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("target/plans.txt")
    val spark = GraftSession(GraftSession.cpus(8))
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "")
    val names = Harness.selected(SparkEntry.queries.keys.toSeq.sorted)
    def planText(name: String): String = {
      var txt = "ERROR: the query failed (see stderr)"
      // the plan is read after the noop run, so AQE has finalized it
      Harness.run(spark, "plans", name, SparkEntry.queries(name), sfDir) { df =>
        Harness.noop(df)
        txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      }
      txt
    }
    if (out.endsWith("/")) {
      new File(out).mkdirs()
      names.foreach { name =>
        val pw = new PrintWriter(new File(out, s"$name$suffix.txt"))
        try pw.println(planText(name)) finally pw.close()
      }
    } else {
      val pw = new PrintWriter(new File(out))
      try names.foreach { name =>
        pw.println(s"\n${"=" * 78}\nQUERY $name\n${"=" * 78}")
        pw.println(planText(name))
      } finally pw.close()
    }
    println(s"PLANS_WRITTEN $out")
    spark.stop()
  }
}
