package graft

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** Same-data multi-split twin of a base fixture: every table re-sharded
  * into [[DerivedFixture.OUT_PARTS]] part files under target/, rows and
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

  /** Build (or reuse) the re-sharded twin of `baseDir` under `root`;
    * returns its published path. */
  def ensure(spark: SparkSession, baseDir: String,
             root: Path = DerivedFixture.Root): String = {
    val parts = DerivedFixture.OUT_PARTS
    val fp = DerivedFixture.fingerprint(baseDir, Tables.names, s"shard$VER")
    DerivedFixture.publish(s"shard$parts", fp, root) { dir =>
      Tables.names.foreach { t =>
        val df =
          if (t == "events") Tables.events(spark, baseDir)
          else Tables.t(spark, baseDir, t)
        df.repartition(parts).write.parquet(s"$dir/$t.parquet")
      }
    }.toString
  }
}
