package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, Executors}

/** [[DerivedFixture.publish]]'s protocol, run for every derived fixture:
  * concurrent builders of one fixture all return one complete copy, no
  * temp dir survives, and a published fixture is reused, not rebuilt. */
class DerivedFixtureSpec extends SparkTestBase {

  /** One derived fixture: its builder under a given root, and each
    * table's row-count multiple of the base table. */
  private case class Fixture(name: String, ensure: Path => String,
                             multiples: Seq[(String, Int)])

  private def scaled(k: Int): Seq[(String, Int)] =
    Seq("documents" -> k, "embeddings" -> k, "events" -> k) ++
      ScaleFixture.dimTables.map(_ -> 1)

  private val fixtures = Seq(
    Fixture("shard", ShardFixture.ensure(spark, sfDir, _),
      Tables.names.map(_ -> 1)),
    Fixture("scale x2", ScaleFixture.ensure(spark, sfDir, 2, _), scaled(2)),
    Fixture("skew x2", SkewFixture.ensure(spark, sfDir, 2, _), scaled(2)))

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
        val s = Files.list(root)
        val left = try s.toArray.map(_.toString).toSeq finally s.close()
        assert(left.contains(dirs.head), s"not published under the root: $left")
        assert(!left.exists(Paths.get(_).getFileName.toString.startsWith(".")),
          s"a temp dir survived: $left")
        // a published fixture is reused, not rebuilt
        val marker = Paths.get(dirs.head, "_built")
        val stamp = Files.getLastModifiedTime(marker)
        assert(f.ensure(root) == dirs.head)
        assert(Files.getLastModifiedTime(marker) == stamp)
      } finally {
        pool.shutdown()
        graft.sources.SnapshotLake.deleteRecursively(root)
      }
    }
  }
}
