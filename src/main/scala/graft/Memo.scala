package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Owner of the engine's shared-build memos: candidate pairs, affinity
  * edges, rank tables, brute-force truth, trained models — every
  * once-per-corpus build that several registered queries reuse.
  *
  * One lifecycle for all of them. An entry is served only for the same
  * (session, dir, fingerprint of the table it was built from); a changed
  * fingerprint — an in-place fixture regeneration — replaces the entry,
  * and a stopped session's entries are swept. Every miss is counted by
  * [[BuildMeter]]. The persistent RDDs a build creates (the
  * `getPersistentRDDs` diff around `build`; when builds nest, each id
  * belongs to the innermost build) are owned by its entry: a stale or
  * swept entry unpersists its own blocks instead of leaving them to the
  * ContextCleaner, and [[releaseUnowned]] can drop every other pin.
  *
  * Why the pins need an owner: pinned entries are `localCheckpoint`
  * blocks, so the per-query `catalog.clearCache()` cannot drop them. In
  * the first SKEW100 run they were UNBOUNDED across queries and fixture
  * dirs — 23 queries × 2 dirs at ×100 volume accumulated enough
  * checkpoint blocks that the skewed leg's hot task died with
  * `UNABLE_TO_ACQUIRE_MEMORY` (storage squeezing execution), while every
  * query passed standalone in a fresh JVM. At 100 TB the same failure is
  * an executor OOM from memo state that outlived its consumer.
  */
object Memo {

  /** Fingerprint of the files backing `dir/table.parquet`: (name, length,
    * mtime) of every part file folded with an order-sensitive hash. The
    * listing is name-sorted first — `listFiles()` order is UNSPECIFIED,
    * and an unsorted fold can fingerprint the SAME fixture differently
    * across filesystems/JVMs, forcing a spurious rebuild (ADVICE r10). */
  def fingerprint(dir: String, table: String): Long = {
    val f = new java.io.File(s"$dir/$table.parquet")
    val files =
      if (f.isDirectory) f.listFiles().sortBy(_.getName) else Array(f)
    files.foldLeft(f.getPath.hashCode.toLong) { (acc, x) =>
      acc * 1000003L + x.getName.hashCode * 31L + x.length * 17L +
        x.lastModified
    }
  }

  /** [[fingerprint]] as a 1–8 digit hex token, for names of on-disk
    * index tables (their stale-variant cleanup matches `[0-9a-f]{1,8}`). */
  def fingerprintHex(dir: String, table: String): String = {
    val fp = fingerprint(dir, table)
    java.lang.Long.toHexString((fp ^ (fp >>> 32)) & 0xffffffffL)
  }

  private final class Entry[V](val sc: SparkContext, val fp: Long,
                               val value: V, val rdds: Set[Int]) {
    def release(): Unit =
      if (!sc.isStopped) {
        val live = sc.getPersistentRDDs
        rdds.foreach(live.get(_).foreach(_.unpersist(blocking = false)))
      }
  }

  private val memos =
    new java.util.concurrent.CopyOnWriteArrayList[Base[_, _]]()

  sealed abstract class Base[K, V](table: String) {
    private val entries =
      new java.util.concurrent.ConcurrentHashMap[K, Entry[V]]()
    memos.add(this)

    protected def key(s: SparkSession, dir: String): K
    /** Pinned entries die with their session; driver data does not. */
    protected def diesWithSession: Boolean

    def apply(s: SparkSession, dir: String)(build: => V): V = {
      val fp = fingerprint(dir, table)
      if (diesWithSession)
        entries.forEach((k, e) => if (e.sc.isStopped) entries.remove(k, e))
      val k = key(s, dir)
      val hit = entries.get(k)
      if (hit != null && hit.fp == fp) hit.value
      else {
        if (hit != null && entries.remove(k, hit)) hit.release()
        BuildMeter.record()
        val sc = s.sparkContext
        val before = sc.getPersistentRDDs.keySet
        val v = build
        val created = sc.getPersistentRDDs.keySet.toSet -- before -- owned(sc)
        entries.put(k, new Entry(sc, fp, v, created))
        v
      }
    }

    private[Memo] def ownedIn(sc: SparkContext): Iterator[Int] =
      entries.values.asScala.iterator.filter(_.sc eq sc).flatMap(_.rdds)

    private[Memo] def clear(): Unit = entries.clear()
  }

  /** Session-bound memo of frames pinned in that session, keyed on the
    * session object itself (SparkSession keeps Object identity equality,
    * so a hit is always the caller's own session) and dir. */
  final class Pinned[V](table: String)
      extends Base[(SparkSession, String), V](table) {
    protected def key(s: SparkSession, dir: String) = (s, dir)
    protected def diesWithSession = true
  }

  /** Session-free memo of plain driver data (no DataFrame, no session
    * reference), keyed on dir — safe to serve to any session. */
  final class Local[V](table: String) extends Base[String, V](table) {
    protected def key(s: SparkSession, dir: String) = dir
    protected def diesWithSession = false
  }

  /** Persistent-RDD ids that some memo entry of `sc` owns. */
  private[graft] def owned(sc: SparkContext): Set[Int] =
    memos.asScala.iterator.flatMap(_.ownedIn(sc)).toSet

  /** Unpersist every persistent RDD no memo entry owns — the per-call
    * pins a query leaves behind — keeping every shared build warm. */
  def releaseUnowned(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val keep = owned(sc)
    sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep(id)) rdd.unpersist(blocking = true)
    }
  }

  /** Clear every memo and unpersist every persistent RDD (blocking, so the
    * freed memory is actually available to the next measurement): a
    * cold-memo state where consumers rebuild on next touch. */
  def sweep(spark: SparkSession): Unit = {
    memos.forEach(_.clear())
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }
}
