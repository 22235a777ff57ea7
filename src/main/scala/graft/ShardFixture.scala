package graft

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.sources.SnapshotLake

/** Same-data multi-split twin of a base fixture: every table re-sharded
  * into part files under target/ by its size — `lineitem` into
  * [[DerivedFixture.OUT_PARTS]], every other table into that many times
  * its share of `lineitem`'s bytes, rounded up (so the small dims stay
  * one file each) — rows and values identical to the base (round-robin
  * repartition only — the fleet-wide PartitionInvarianceSpec is the
  * contract that results don't move).
  *
  * Why it exists (VERDICT r14 #5): every base sf fixture is ONE parquet
  * row group, so every scan stage plans 1-3 tasks and every operator
  * above it inherits that width — on a 32-core session one task does all
  * the row-local work, and the 8-vs-32-core scaling leg measures nothing
  * but per-stage fixed latency. A production table gets its parallelism
  * from its layout (many files, 128 MB splits); this twin gives the dev
  * fixtures the same posture, so operators never widen their own inputs.
  *
  * [[widened]] is the one place that decides which of the two a bench
  * main reads: the base fixture when its `lineitem` scan already plans at
  * least as many partitions as the session has cores, else the twin.
  * [[Bench]] and [[ScaleBench]] read through it; Verify and the DuckDB
  * oracle keep reading the base fixtures.
  *
  * events is written through [[Tables.events]], i.e. with the normalized
  * µs TimestampType column — every consumer reads it through the same
  * loader, which passes an already-TimestampType column through
  * unchanged.
  */
object ShardFixture {
  /** Bump on any derivation change (forces a rebuild). v2: part counts
    * sized by table bytes, so a one-row dim is not scanned as 25 tasks. */
  val VER = "v2"

  /** Build (or reuse) the re-sharded twin of `baseDir` under `root`;
    * returns its published path. */
  def ensure(spark: SparkSession, baseDir: String,
             root: Path = DerivedFixture.Root): String = {
    val parts = DerivedFixture.OUT_PARTS
    val fp = DerivedFixture.fingerprint(baseDir, Tables.names, s"shard$VER")
    DerivedFixture.publish(s"shard$parts", fp, root) { dir =>
      def bytes(t: String) =
        SnapshotLake.dirBytes(Paths.get(s"$baseDir/$t.parquet"))
      val liBytes = bytes("lineitem").max(1L)
      Tables.names.foreach { t =>
        val df =
          if (t == "events") Tables.events(spark, baseDir)
          else Tables.t(spark, baseDir, t)
        val n = math.ceil(parts.toDouble * bytes(t) / liBytes).toInt
        df.repartition(n.min(parts).max(1)).write.parquet(s"$dir/$t.parquet")
      }
    }.toString
  }

  /** `baseDir` when its `lineitem` scan plans at least the session's
    * default parallelism in partitions, else the published twin of it
    * (built on first use). A twin plans [[DerivedFixture.OUT_PARTS]]
    * partitions, so up to that many cores widening it again returns it
    * as is. */
  def widened(spark: SparkSession, baseDir: String,
              root: Path = DerivedFixture.Root): String =
    if (Tables.lineitem(spark, baseDir).rdd.getNumPartitions >=
        spark.sparkContext.defaultParallelism) baseDir
    else ensure(spark, baseDir, root)
}
