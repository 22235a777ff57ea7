package graft

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

/** Plan-audit main: dumps the formatted physical plan of every registered
  * query to one file for review (pushdown reached the scan? broadcasts
  * where intended? no surprise exchanges?). Dev tool, not driver contract.
  *
  * Usage: sbt 'runMain graft.Plans [sfDir] [outFile]'
  *
  * r14 additions (optimization-round evidence trail):
  *  - SPARK_GRAFT_ONLY=a,b,c restricts the dump to named queries;
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
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "")
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    def planText(name: String,
                 fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): String =
      try {
        val df = fn(spark, sfDir)
        // force execution so AQE finalizes the real plan
        df.write.format("noop").mode("overwrite").save()
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        spark.catalog.clearCache()
        txt
      } catch { case e: Throwable => s"ERROR: $e" }
    if (out.endsWith("/")) {
      new File(out).mkdirs()
      names.foreach { case (name, fn) =>
        val pw = new PrintWriter(new File(out, s"$name$suffix.txt"))
        try pw.println(planText(name, fn)) finally pw.close()
      }
    } else {
      val pw = new PrintWriter(new File(out))
      try names.foreach { case (name, fn) =>
        pw.println(s"\n${"=" * 78}\nQUERY $name\n${"=" * 78}")
        pw.println(planText(name, fn))
      } finally pw.close()
    }
    println(s"PLANS_WRITTEN $out")
    spark.stop()
  }
}
