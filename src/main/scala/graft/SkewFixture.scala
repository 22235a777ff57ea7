package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Skewed twin of [[ScaleFixture]] — hot-key evidence the uniform scale
  * curve cannot give.
  *
  * Every scale artifact so far (SCALE10/40/100, the shuffle census, the
  * ScalingCurve specs) measures growth on a UNIFORM corpus, but 100 TB
  * inputs are never uniform: one crawl dominates the source mix, one
  * bot dominates the event stream, one boilerplate header dominates the
  * shingle table. This fixture has the same row counts as the uniform
  * ×`scale` fixture and three deliberate hot keys, so [[SkewBench]] can
  * measure skewed-vs-uniform cost at equal volume — the ratio that
  * tells whether the engine's documented skew defenses (salted
  * two-phase aggs, capped LSH buckets and postings, two-level windows)
  * actually absorb the skew or just haven't met it:
  *
  *  - `documents.source`: 50% of docs collapse onto `src_hot` (the
  *    CommonCrawl shape) — stresses per-source windows and aggs;
  *  - `documents.text`: 20% of docs get one SHARED unsuffixed
  *    boilerplate sentence appended (the site-header shape) — its
  *    shingles/digests appear in 0.2·N postings, stressing every
  *    posting/bucket cap in the dedup family;
  *  - `events.user_id`: 20% of events collapse onto user 0 (the bot /
  *    load-balancer-IP shape) — stresses per-user sessionization
  *    windows and stateful paths.
  *
  * The shard derivation itself is [[ScaleFixture.derivedDocs]] /
  * [[ScaleFixture.derivedEvents]] — the hot keys are three withColumn
  * edits ON TOP of the shared build, and both fixtures' fingerprints
  * carry [[DerivedFixture.DERIVATION_VER]], so the "differs ONLY in key
  * distribution" premise survives derivation revisions by
  * construction. Embeddings are symlinked from the uniform fixture (the
  * measured query set reads documents and events); TPC-H dims are
  * symlinked from the base. */
object SkewFixture {

  /** Appended verbatim (no per-shard suffix) to the hot-doc fraction —
    * every one of its shingles is shared corpus-wide. */
  val BOILERPLATE: String =
    "subscribe to our newsletter for the latest updates and follow us " +
      "on social media for more exclusive content every single day"

  val HOT_SOURCE_MOD = 2   // 1-in-2 docs  -> src_hot
  val BOILER_MOD     = 5   // 1-in-5 docs  -> boilerplate appended
  val HOT_USER_MOD   = 5   // 1-in-5 events -> user 0

  /** Build (or reuse) the skewed ×`scale` corpus of `baseDir` under
    * `root`; returns its published path. Its embeddings link to the
    * published uniform ×`scale` fixture, which is ensured first. */
  def ensure(spark: SparkSession, baseDir: String, scale: Int,
             root: Path = DerivedFixture.Root): String = {
    val uniformDir = ScaleFixture.ensure(spark, baseDir, scale, root)
    val fp = DerivedFixture.fingerprint(baseDir, Seq("documents", "events"),
      s"x$scale|skew-$HOT_SOURCE_MOD-$BOILER_MOD-$HOT_USER_MOD|$uniformDir")
    DerivedFixture.publish(s"skew$scale", fp, root) { dir =>
      ScaleFixture.derivedDocs(spark, baseDir, scale)
        .withColumn("source",
          when(pmod(hash(col("doc_id")), lit(HOT_SOURCE_MOD)) === 0,
            lit("src_hot")).otherwise(col("source")))
        .withColumn("text",
          when(pmod(hash(col("doc_id"), lit(7)), lit(BOILER_MOD)) === 0,
            concat(col("text"), lit(" " + BOILERPLATE)))
            .otherwise(col("text")))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .repartition(DerivedFixture.OUT_PARTS)
        .write.parquet(s"$dir/documents.parquet")
      ScaleFixture.derivedEvents(spark, baseDir, scale)
        .withColumn("user_id",
          when(pmod(hash(col("event_id")), lit(HOT_USER_MOD)) === 0, lit(0L))
            .otherwise(col("user_id")))
        .repartition(DerivedFixture.OUT_PARTS)
        .write.parquet(s"$dir/events.parquet")
      ScaleFixture.linkDims(baseDir, dir)
      Files.createSymbolicLink(dir.resolve("embeddings.parquet"),
        Paths.get(uniformDir, "embeddings.parquet"))
    }.toString
  }
}
