package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one per-query path of every main that runs registered queries
  * ([[Bench]], [[Verify]], [[ScaleBench]], [[SkewBench]], [[Plans]]):
  * pick the queries, run one into a sink, time it, catch its failure and
  * clean up after it — the same way in every main, so the oracle checks
  * the configuration the bench measures.
  */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** The default sink. Forcing a query through `noop` rather than
    * `count()` matters: count() lets Catalyst prune the aggregate and
    * projection columns, which under-measures the work a real consumer
    * pays; noop evaluates every output column and discards it (a job
    * writing parquet, minus the IO). */
  val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  /** `names` restricted to the comma-separated `SPARK_GRAFT_ONLY` list
    * when it is set — a dev-only subset filter; the driver sets no env
    * and always runs the full list. Order is kept. */
  def selected(names: Seq[String]): Seq[String] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
      .fold(names)(only => names.filter(only))

  /** Run `fn(spark, dir)` into `sink`; returns its wall seconds, negated
    * when it failed, so a failure can never masquerade as a fast success.
    * Only NonFatal errors are caught and logged as `[<main>] <name>
    * FAILED`: a fatal JVM error (an OOM) ends the run rather than leaving
    * every later measurement timed on a thrashed heap.
    *
    * After every run, failed or not, the caches and the per-call pins
    * the query created are dropped ([[Memo.releaseUnowned]]; pins are
    * `localCheckpoint` blocks `clearCache` cannot reach), so the next
    * query is not run under their memory pressure. Shared memo builds
    * stay warm. The cleanup is not timed. */
  def run(spark: SparkSession, main: String, name: String, fn: Query,
          dir: String)(sink: DataFrame => Unit = noop): Double = {
    val t0 = System.nanoTime()
    def secs = (System.nanoTime() - t0) / 1e9
    try { sink(fn(spark, dir)); secs }
    catch { case NonFatal(e) =>
      val dt = secs
      System.err.println(s"[$main] $name FAILED: ${e.getMessage}")
      -dt
    } finally {
      spark.catalog.clearCache()
      Memo.releaseUnowned(spark)
    }
  }

  /** Min-of-2 over `(seconds, payload)` runs: the faster successful run;
    * if both failed, the more negative one. */
  def faster[A](a: (Double, A), b: (Double, A)): (Double, A) =
    if ((a._1 > 0) != (b._1 > 0)) (if (a._1 > 0) a else b)
    else if (b._1 < a._1) b else a

  /** Warm the JVM, codegen and parquet-reader paths once, so the first
    * measured query pays for the query, not for classloading (a real
    * cluster amortizes this over hours; a bench pass must not bill it to
    * one query). */
  def warm(spark: SparkSession, dir: String): Unit = {
    noop(spark.range(1000).selectExpr("sum(id)"))
    noop(spark.read.parquet(s"$dir/region.parquet"))
  }

  /** 1-minute system load average — host-noise telemetry for the bench
    * artifacts: a pass reading 30% high is self-explaining when the
    * artifact records the competing load. */
  def loadAvg(): Double =
    java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

  /** Write `line` (plus a newline) to `path`, creating its parent dir.
    * Best-effort: an IO failure is logged, not thrown, so a cwd without
    * ./target cannot suppress the stdout line the file backs up. */
  def writeArtifact(path: String, line: String): Unit =
    try {
      val p = Paths.get(path)
      if (p.getParent != null) Files.createDirectories(p.getParent)
      Files.write(p, (line + "\n").getBytes("UTF-8"))
      ()
    } catch { case NonFatal(e) =>
      System.err.println(s"[harness] could not write $path: ${e.getMessage}")
    }
}
