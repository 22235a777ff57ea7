package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.DataFrame
import org.scalatest.BeforeAndAfterAll

import graft.operators.{Bpe, Graph}
import graft.sources.SnapshotLake

/** The shared-build memo lifecycle ([[Memo]]): which pins survive a
  * release, when an entry is rebuilt, and that a stopped session's entry
  * is never served. Rewrites happen in a temp copy of the sf0.001
  * fixture; the fixture itself is only read. */
class MemoSpec extends SparkTestBase with BeforeAndAfterAll {

  private lazy val copy: Path = {
    val d = Files.createTempDirectory("memospec")
    val ls = Files.list(Paths.get(sfDir))
    try ls.forEach(f => Files.copy(f, d.resolve(f.getFileName)))
    finally ls.close()
    d
  }

  override def afterAll(): Unit = {
    val st = Files.walk(copy)
    try st.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.delete(f))
    finally st.close()
  }

  /** Shared builds `f` performed. */
  private def built(f: => Any): Long = {
    val b0 = BuildMeter.count
    f
    BuildMeter.count - b0
  }

  private def run(name: String, dir: String): Unit =
    SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save()

  /** Rewrite `table` of the temp copy in place: same bytes, a new file
    * with a later mtime — what a regeneration leaves on disk. */
  private def rewrite(table: String): Unit = {
    val f = copy.resolve(s"$table.parquet")
    val mtime = Files.getLastModifiedTime(f).toMillis
    val next = copy.resolve(s"$table.next")
    Files.write(next, Files.readAllBytes(f))
    Files.move(next, f, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(f, FileTime.fromMillis(mtime + 2000))
  }

  private def persistent: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("(a) releaseUnowned keeps exactly the memo-owned pins; reruns build nothing") {
    val qs = Seq("q_pagerank", "q_spearman", "q_cooccurrence", "q_assoc_rules")
    qs.foreach(run(_, sfDir))
    val before = persistent
    Memo.releaseUnowned(spark)
    val survivors = persistent
    assert(survivors == (Memo.owned(spark.sparkContext) intersect before))
    assert(survivors.nonEmpty, "the rank tables and edge memos stay pinned")
    assert((before -- survivors).nonEmpty,
      "per-call pins (cooccurrence, assoc rules) are released")
    // the kept frames still read: rerunning executes against their blocks
    assert(built(qs.foreach(run(_, sfDir))) == 0)
  }

  test("(b) an in-place rewrite rebuilds a pinned entry and unpersists the stale blocks") {
    val dir = copy.toString
    val sc = spark.sparkContext
    val owned0 = Memo.owned(sc)
    assert(built(Graph.affinityEdges(spark, dir).count()) == 1)
    val stale = Memo.owned(sc) -- owned0
    assert(stale.nonEmpty && stale.subsetOf(persistent))
    assert(built(Graph.affinityEdges(spark, dir).count()) == 0)
    rewrite("lineitem")
    assert(built(Graph.affinityEdges(spark, dir).count()) == 1)
    assert((stale intersect persistent).isEmpty)
    assert((stale intersect Memo.owned(sc)).isEmpty)
  }

  test("(b) an in-place rewrite of documents retrains the BPE merges") {
    val dir = copy.toString
    assert(built(Bpe.bpeMerges(spark, dir).collect()) == 1)
    assert(built(Bpe.bpeMerges(spark, dir).collect()) == 0)
    rewrite("documents")
    assert(built(Bpe.bpeMerges(spark, dir).collect()) == 1)
  }

  test("the date lab is keyed on the events table it is built from") {
    val dir = copy.toString
    val first = SnapshotLake.ensureDateLab(spark, dir)
    rewrite("documents")
    assert(built(SnapshotLake.ensureDateLab(spark, dir)) == 0)
    rewrite("events")
    var second = ""
    assert(built { second = SnapshotLake.ensureDateLab(spark, dir) } == 1)
    assert(second != first && !Files.exists(Paths.get(first)))
    SnapshotLake.deleteRecursively(Paths.get(second))
  }

  test("(c) an entry from a stopped session is never served") {
    val old = spark
    Graph.affinityEdges(old, sfDir)
    old.stop()
    val fresh = SparkTestBase.session
    assert(!(fresh eq old))
    var edges: DataFrame = null
    assert(built { edges = Graph.affinityEdges(fresh, sfDir) } == 1)
    assert(edges.sparkSession eq fresh)
    assert(edges.count() > 0)
  }
}
