package graft

import org.apache.spark.sql.SparkSession

/** The one session every graft main and spec runs under, so the oracle
  * compare, the specs and the scale/skew artifacts all prove the
  * configuration the bench measures. The only `SparkSession.builder()`
  * in the project; everything not set here is Spark's stock value. */
object GraftSession {

  /** Core count: `$SPARK_GRAFT_CPUS`, else the caller's default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** Get or create the session: `local[cpus]` (or `master`), one shuffle
    * partition per core. */
  def apply(cpus: Int, appName: String = "graft",
            master: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // Coalesce post-shuffle partitions by size, not down to the core
      // count: the r14 fleet A/B (263 queries, sf0.1) measured
      // 178.3 s -> 166.0 s from collapsing KB-sized reduce stages.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
