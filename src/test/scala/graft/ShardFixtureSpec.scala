package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors}

/** The re-sharded twin's publish protocol: concurrent builders of the
  * same twin all return one complete copy, and no temp dir survives. */
class ShardFixtureSpec extends SparkTestBase {

  test("two concurrent ensure calls publish one complete twin") {
    val parent = Paths.get("target").toAbsolutePath
    Files.createDirectories(parent)
    val root = Files.createTempDirectory(parent, "shard_spec")
    val pool = Executors.newFixedThreadPool(2)
    try {
      val calls = (1 to 2).map(_ => pool.submit(new Callable[String] {
        def call(): String = ShardFixture.ensure(spark, sfDir, root)
      }))
      val dirs = calls.map(_.get()).distinct
      assert(dirs.size == 1, s"racers returned different twins: $dirs")
      Tables.names.foreach { t =>
        val twin = spark.read.parquet(s"${dirs.head}/$t.parquet").count()
        assert(twin == Tables.t(spark, sfDir, t).count(), s"$t row count")
      }
      val s = Files.list(root)
      val left = try s.toArray.map(_.toString).toSeq finally s.close()
      assert(left == dirs, s"only the published twin may remain: $left")
      // a published twin is reused, not rebuilt
      val marker = Paths.get(dirs.head, "_built")
      val stamp = Files.getLastModifiedTime(marker)
      assert(ShardFixture.ensure(spark, sfDir, root) == dirs.head)
      assert(Files.getLastModifiedTime(marker) == stamp)
    } finally {
      pool.shutdown()
      graft.sources.SnapshotLake.deleteRecursively(root)
    }
  }
}
