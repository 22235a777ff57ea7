package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: one JVM-wide SparkSession (getOrCreate
  * dedups across suites), UTC, small shuffle-partition count. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkTestBase {
  private var current: SparkSession = _

  /** The shared session, rebuilt if a spec stopped it (MemoSpec stops
    * one to check that its memo entries are never served again). */
  def session: SparkSession = synchronized {
    if (current == null || current.sparkContext.isStopped) {
      current = SparkSession.builder()
        .master("local[8]")
        .appName("graft-test")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      current.sparkContext.setLogLevel("WARN")
    }
    current
  }
}
