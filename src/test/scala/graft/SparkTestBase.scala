package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: one JVM-wide [[GraftSession]]
  * (getOrCreate dedups across suites) on 8 cores — the bench's config. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val sfDir = "/root/testdata/sf0.001"

  /** Run `body` with the session conf `pairs` set, then restore each key's
    * previous value (or unset it if it had none). */
  def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val saved = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}

object SparkTestBase {
  private var current: SparkSession = _

  /** The shared session, rebuilt if a spec stopped it (MemoSpec stops
    * one to check that its memo entries are never served again). */
  def session: SparkSession = synchronized {
    if (current == null || current.sparkContext.isStopped)
      current = GraftSession(8, "graft-test")
    current
  }
}
