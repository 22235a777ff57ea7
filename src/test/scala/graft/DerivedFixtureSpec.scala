package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, Executors}

import graft.sources.SnapshotLake

/** [[DerivedFixture.publish]]'s protocol, run for every derived fixture,
  * every snapshot lab and [[ShardFixture.widened]]'s selection:
  * concurrent builders of one fixture all return one complete copy, no
  * temp dir survives, a published fixture is reused, not rebuilt, and a
  * failed build publishes nothing. */
class DerivedFixtureSpec extends SparkTestBase {

  /** One derived fixture: its builder under a given root, a check that
    * the published dir is complete, and checks on it that must build
    * nothing more. */
  private case class Fixture(name: String, ensure: Path => String,
                             complete: String => Unit,
                             reuse: (Path, String) => Unit = (_, _) => ())

  private def listing(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try s.toArray.map(_.toString).toSeq.sorted finally s.close()
  }

  /** Each table's row count is its multiple of the base table's. */
  private def multiples(ms: Seq[(String, Int)])(dir: String): Unit =
    ms.foreach { case (t, k) =>
      val got = spark.read.parquet(s"$dir/$t.parquet").count()
      assert(got == k * Tables.t(spark, sfDir, t).count(), s"$t row count")
    }

  private def scaled(k: Int): Seq[(String, Int)] =
    Seq("documents" -> k, "embeddings" -> k, "events" -> k) ++
      ScaleFixture.dimTables.map(_ -> 1)

  /** A lab ran every build step: its main version and retained manifests
    * are the last step's, and each retained snapshot reads back exactly
    * the rows its manifest records. */
  private def snapshots(kept: Seq[Int])(root: String): Unit = {
    assert(SnapshotLake.mainVersion(root) == kept.max, "main version")
    val manifests = listing(Paths.get(root, "meta"))
      .map(Paths.get(_).getFileName.toString).filter(_.endsWith(".manifest"))
    assert(manifests.toSet == kept.map(v => s"v$v.manifest").toSet,
      s"retained manifests: $manifests")
    kept.foreach { v =>
      assert(SnapshotLake.readAt(spark, root, v).count() ==
        SnapshotLake.snapshot(root, v).nRows, s"v$v rows")
    }
  }

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
      multiples(Tables.names.map(_ -> 1)), sizedByBytes),
    Fixture("scale x2", ScaleFixture.ensure(spark, sfDir, 2, _),
      multiples(scaled(2))),
    Fixture("skew x2", SkewFixture.ensure(spark, sfDir, 2, _),
      multiples(scaled(2))),
    Fixture("widened", ShardFixture.widened(spark, sfDir, _),
      multiples(Tables.names.map(_ -> 1)), widenedTwice),
    Fixture("timeline lab", SnapshotLake.ensureTimeline(spark, sfDir, _),
      snapshots(1 to 7)),
    Fixture("branch lab", SnapshotLake.ensureBranchLab(spark, sfDir, _),
      snapshots(1 to 3)),
    Fixture("partevo lab", SnapshotLake.ensurePartLab(spark, sfDir, _),
      snapshots(1 to 7)),
    Fixture("date lab", SnapshotLake.ensureDateLab(spark, sfDir, _),
      snapshots(1 to 7)),
    Fixture("expire lab", SnapshotLake.ensureExpireLab(spark, sfDir, _),
      snapshots(Seq(2, 4, 5))),
    Fixture("binpack lab", SnapshotLake.ensureBinpackLab(spark, sfDir, _),
      snapshots(1 to 5)))

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
        f.complete(dirs.head)
        val left = listing(root)
        assert(left.contains(dirs.head), s"not published under the root: $left")
        assert(!left.exists(Paths.get(_).getFileName.toString.startsWith(".")),
          s"a temp dir survived: $left")
        // a published fixture is reused, not rebuilt
        val marker = Paths.get(dirs.head, "_built")
        val stamp = Files.getLastModifiedTime(marker)
        val builds = BuildMeter.count
        assert(f.ensure(root) == dirs.head)
        f.reuse(root, dirs.head)
        assert(BuildMeter.count == builds, "a reuse built something")
        assert(Files.getLastModifiedTime(marker) == stamp)
        assert(listing(root) == left, "a reuse published another fixture")
      } finally {
        pool.shutdown()
        SnapshotLake.deleteRecursively(root)
      }
    }
  }

  test("a failed build publishes nothing, leaves no temp dir, and the next call builds") {
    val parent = Paths.get("target").toAbsolutePath
    Files.createDirectories(parent)
    val root = Files.createTempDirectory(parent, "derived_spec")
    try {
      Files.writeString(root.resolve("t.parquet"), "t")
      val fp = DerivedFixture.fingerprint(root.toString, Seq("t"), "lab")
      val boom = intercept[IllegalStateException] {
        DerivedFixture.publish("lab", fp, root) { dir =>
          Files.createDirectories(dir.resolve("data"))
          Files.writeString(dir.resolve("data").resolve("v1.parquet"), "half")
          throw new IllegalStateException("build died")
        }
      }
      assert(boom.getMessage == "build died", "publish must rethrow the build's failure")
      assert(listing(root) == Seq(root.resolve("t.parquet").toString),
        "a failed build left a published or temp dir")
      val dir = DerivedFixture.publish("lab", fp, root) { dir =>
        Files.writeString(dir.resolve("data"), "whole")
      }
      assert(Files.readString(dir.resolve("data")) == "whole")
      assert(Files.readString(dir.resolve("_built")) == fp)
      assert(listing(root) == Seq(dir, root.resolve("t.parquet")).map(_.toString).sorted)
    } finally SnapshotLake.deleteRecursively(root)
  }

  test("a publish removes the fixtures it supersedes and keeps other bases'") {
    val parent = Paths.get("target").toAbsolutePath
    Files.createDirectories(parent)
    val root = Files.createTempDirectory(parent, "derived_spec")
    try {
      def base(b: String, table: String): String = {
        Files.createDirectories(root.resolve(b))
        Files.writeString(root.resolve(b).resolve("t.parquet"), table)
        root.resolve(b).toString
      }
      def publish(name: String, baseDir: String, extra: String) =
        DerivedFixture.publish(name,
          DerivedFixture.fingerprint(baseDir, Seq("t"), extra), root) { dir =>
          Files.writeString(dir.resolve("data"), extra)
        }
      val a = base("baseA", "a")
      val v1 = publish("shard32", a, "shardv1")
      val otherBase = publish("shard32", base("baseB", "a"), "shardv1")
      val otherName = publish("scale2", a, "x2")
      val v2 = publish("shard32", a, "shardv2")
      assert(v2 != v1 && !Files.exists(v1), "a version bump kept the old fixture")
      val regenerated = publish("shard32", base("baseA", "bb"), "shardv2")
      assert(regenerated != v2 && !Files.exists(v2),
        "a base-stats change kept the old fixture")
      val s = Files.list(root)
      val left = try s.toArray.map(_.toString).toSet finally s.close()
      assert(left == Set(regenerated, otherBase, otherName,
        root.resolve("baseA"), root.resolve("baseB")).map(_.toString),
        s"a fixture of another base or name was removed, or a temp dir survived: $left")
    } finally SnapshotLake.deleteRecursively(root)
  }
}
