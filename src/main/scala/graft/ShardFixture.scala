package graft

import java.io.IOException
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession

/** Same-data multi-split twin of a base fixture: every table re-sharded
  * into [[ScaleFixture.OUT_PARTS]] part files under target/, rows and
  * values identical to the base (round-robin repartition only — the
  * fleet-wide PartitionInvarianceSpec is the contract that results don't
  * move).
  *
  * Why it exists (VERDICT r14 #5): every base sf fixture is ONE parquet
  * row group, so every scan stage plans 1-3 tasks and the 8-vs-32-core
  * scaling leg measured nothing but per-stage fixed latency — ratios ≈ 1
  * fleet-wide, indistinguishable from "nothing parallelizes". On a
  * ≥32-file fixture the scan width is real, the Par.* guards never fire
  * (planned partitions ≥ cores — the production posture), and the
  * core-count ratio measures the plans. Opt-in via
  * `SPARK_GRAFT_MULTISPLIT=1` on [[Bench]]; the driver never sets it,
  * so the contract bench is untouched.
  *
  * events is written through [[Tables.events]], i.e. with the normalized
  * µs TimestampType column — every consumer reads it through the same
  * loader, which passes an already-TimestampType column through
  * unchanged. The scaling leg is bench-only; the DuckDB oracle keeps
  * running against the base fixtures.
  */
object ShardFixture {
  /** Bump on any derivation change (forces a rebuild). */
  val VER = "v1"

  /** Where twins are published, resolved to an absolute path once so a
    * later working-directory change cannot split the cache. */
  private lazy val Root: Path = Paths.get("target").toAbsolutePath

  /** Build (or reuse) the re-sharded twin of `baseDir` under `root`;
    * returns its path. Marker-keyed on the base tables' file stats +
    * [[VER]] (the [[ScaleFixture]] fingerprint), which also names the
    * directory: a published twin is never rewritten in place. A build
    * lands in a sibling temp dir and is published by one atomic rename,
    * so a reader never sees a half-built twin; when concurrent builders
    * race, the loser finds the winner's marker and discards its copy. */
  def ensure(spark: SparkSession, baseDir: String, root: Path = Root): String = {
    val parts = ScaleFixture.OUT_PARTS
    val tag = baseDir.replaceAll("[^a-zA-Z0-9.]", "_").stripPrefix("_")
    val fp = ScaleFixture.fingerprint(baseDir, Tables.names, 1,
      s"|shard$VER")
    val dir = root.resolve(f"shard${parts}_${tag}_${fp.hashCode}%08x")
    val marker = dir.resolve("_built")
    def published = Files.exists(marker) && Files.readString(marker) == fp
    if (!published) {
      Files.createDirectories(root)
      val tmp = Files.createTempDirectory(root, s".${dir.getFileName}.")
      Tables.names.foreach { t =>
        val df =
          if (t == "events") Tables.events(spark, baseDir)
          else Tables.t(spark, baseDir, t)
        df.repartition(parts)
          .write.mode("overwrite").parquet(tmp.resolve(s"$t.parquet").toString)
      }
      Files.writeString(tmp.resolve("_built"), fp)
      try Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: IOException if published =>
          graft.sources.SnapshotLake.deleteRecursively(tmp)
      }
    }
    dir.toString
  }
}
