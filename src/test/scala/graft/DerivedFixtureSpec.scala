package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, Executors}

/** [[DerivedFixture.publish]]'s protocol, run for every derived fixture
  * and for [[ShardFixture.widened]]'s selection: concurrent builders of
  * one fixture all return one complete copy, no temp dir survives, and a
  * published fixture is reused, not rebuilt. */
class DerivedFixtureSpec extends SparkTestBase {

  /** One derived fixture: its builder under a given root, each table's
    * row-count multiple of the base table, and checks on the published
    * dir that must build nothing more. */
  private case class Fixture(name: String, ensure: Path => String,
                             multiples: Seq[(String, Int)],
                             reuse: (Path, String) => Unit = (_, _) => ())

  private def scaled(k: Int): Seq[(String, Int)] =
    Seq("documents" -> k, "embeddings" -> k, "events" -> k) ++
      ScaleFixture.dimTables.map(_ -> 1)

  /** sf0.001 plans fewer scan partitions than the 8-core test session,
    * so it widens to its shard twin; the twin is already wide enough and
    * widens to itself. */
  private def widenedTwice(root: Path, twin: String): Unit = {
    assert(twin == ShardFixture.ensure(spark, sfDir, root),
      "sf0.001 must widen to its published shard twin")
    assert(ShardFixture.widened(spark, twin, root) == twin)
  }

  /** The twin sizes each table by its bytes: `lineitem` keeps the full
    * [[DerivedFixture.OUT_PARTS]] width, the tiny dims stay one file. */
  private def sizedByBytes(root: Path, twin: String): Unit = {
    def parts(t: String): Int = {
      val s = Files.list(Paths.get(twin, s"$t.parquet"))
      try s.filter(_.getFileName.toString.startsWith("part-")).count().toInt
      finally s.close()
    }
    assert(parts("lineitem") == DerivedFixture.OUT_PARTS)
    assert(parts("nation") == 1 && parts("region") == 1)
  }

  private val fixtures = Seq(
    Fixture("shard", ShardFixture.ensure(spark, sfDir, _),
      Tables.names.map(_ -> 1), sizedByBytes),
    Fixture("scale x2", ScaleFixture.ensure(spark, sfDir, 2, _), scaled(2)),
    Fixture("skew x2", SkewFixture.ensure(spark, sfDir, 2, _), scaled(2)),
    Fixture("widened", ShardFixture.widened(spark, sfDir, _),
      Tables.names.map(_ -> 1), widenedTwice))

  fixtures.foreach { f =>
    test(s"${f.name}: two concurrent ensure calls publish one complete fixture") {
      val parent = Paths.get("target").toAbsolutePath
      Files.createDirectories(parent)
      val root = Files.createTempDirectory(parent, "derived_spec")
      val pool = Executors.newFixedThreadPool(2)
      try {
        val calls = (1 to 2).map(_ => pool.submit(new Callable[String] {
          def call(): String = f.ensure(root)
        }))
        val dirs = calls.map(_.get()).distinct
        assert(dirs.size == 1, s"racers returned different copies: $dirs")
        f.multiples.foreach { case (t, k) =>
          val got = spark.read.parquet(s"${dirs.head}/$t.parquet").count()
          assert(got == k * Tables.t(spark, sfDir, t).count(), s"$t row count")
        }
        def listing = {
          val s = Files.list(root)
          try s.toArray.map(_.toString).toSeq.sorted finally s.close()
        }
        val left = listing
        assert(left.contains(dirs.head), s"not published under the root: $left")
        assert(!left.exists(Paths.get(_).getFileName.toString.startsWith(".")),
          s"a temp dir survived: $left")
        // a published fixture is reused, not rebuilt
        val marker = Paths.get(dirs.head, "_built")
        val stamp = Files.getLastModifiedTime(marker)
        assert(f.ensure(root) == dirs.head)
        f.reuse(root, dirs.head)
        assert(Files.getLastModifiedTime(marker) == stamp)
        assert(listing == left, "a reuse published another fixture")
      } finally {
        pool.shutdown()
        graft.sources.SnapshotLake.deleteRecursively(root)
      }
    }
  }
}
