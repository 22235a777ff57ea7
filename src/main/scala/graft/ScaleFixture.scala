package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derived 10×-scale fixture shared by ScalingCurveSpec and
  * [[ScaleBench]] — empirical backing for the 100 TB linearity claims.
  *
  * The read-only harness fixtures stay untouched; the derived corpus
  * lands under target/. Each base document is copied into `scale`
  * shards with every word suffixed `_k` — a bijection on shingles per
  * shard, so each shard reproduces the base corpus's full
  * pairwise-Jaccard structure while shards stay disjoint in shingle
  * space (similar-statistics data shards, the shape a 10× crawl
  * actually has — NOT verbatim copies, which would plant a quadratic
  * true-duplicate pathology no blocker may legally prune). Embeddings
  * get a deterministic per-shard, per-component ±0.3% jitter: distinct
  * vectors, same distribution. Events multiply user cardinality
  * (user_id·scale + k) with per-user structure preserved and the SAME
  * calendar window — 10× rows/day, the realistic growth shape for
  * calendar-bounded monitors. The seven TPC-H-ish tables are symlinked
  * from the base so every registered query still resolves its inputs.
  *
  * The shard-derivation primitives ([[derivedDocs]], [[derivedEvents]],
  * [[linkDims]]) are shared with [[SkewFixture]], whose corpus must
  * differ from this one ONLY in key distribution — a private copy of the
  * derivation would silently diverge on the next revision and invalidate
  * every skew-vs-uniform ratio. Publishing is [[DerivedFixture]]'s. */
object ScaleFixture {
  import DerivedFixture.OUT_PARTS

  val dimTables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem")

  private def shardK(scale: Int) =
    explode(sequence(lit(0), lit(scale - 1))).as("k")

  /** Suffix-sharded documents, WITHOUT n_chars — callers append their
    * own text edits (SkewFixture's boilerplate) and then recompute
    * n_chars so it always matches the final text. BIGINT cast matters:
    * length() returns INT where the harness schema has BIGINT, and the
    * mismatch only explodes downstream (the lake's docs table hit
    * exactly this). */
  private[graft] def derivedDocs(spark: SparkSession, baseDir: String,
                                 scale: Int): DataFrame =
    Tables.documents(spark, baseDir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        shardK(scale))
      .select(
        (col("doc_id") * scale + col("k")).as("doc_id"),
        concat(regexp_replace(col("text"), lit(" "),
          concat(lit("_"), col("k"), lit(" "))),
          lit("_"), col("k")).as("text"),
        col("lang"), col("source"))

  /** Shard-multiplied events: new ids, user cardinality ×scale, same
    * calendar window. */
  private[graft] def derivedEvents(spark: SparkSession, baseDir: String,
                                   scale: Int): DataFrame =
    Tables.events(spark, baseDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"), shardK(scale))
      .select(
        (col("event_id") * scale + col("k")).as("event_id"),
        col("ts"),
        (col("user_id") * scale + col("k")).as("user_id"),
        col("event_type"), col("value"), col("props"))

  /** Symlink the seven TPC-H-ish dims from the base into a fresh build
    * dir. */
  private[graft] def linkDims(baseDir: String, dir: Path): Unit =
    dimTables.foreach { t =>
      Files.createSymbolicLink(dir.resolve(s"$t.parquet"),
        Paths.get(baseDir, s"$t.parquet").toAbsolutePath)
    }

  /** Build (or reuse) the derived ×`scale` corpus of `baseDir` under
    * `root`; returns its published path. */
  def ensure(spark: SparkSession, baseDir: String, scale: Int,
             root: Path = DerivedFixture.Root): String = {
    val fp = DerivedFixture.fingerprint(baseDir,
      Seq("documents", "embeddings", "events"), s"x$scale")
    DerivedFixture.publish(s"scale$scale", fp, root) { dir =>
      derivedDocs(spark, baseDir, scale)
        .withColumn("n_chars", length(col("text")).cast("long"))
        .repartition(OUT_PARTS)
        .write.parquet(s"$dir/documents.parquet")
      Tables.embeddings(spark, baseDir)
        .select(col("vec_id"), col("embedding"), col("label"), shardK(scale))
        .select(
          (col("vec_id") * scale + col("k")).as("vec_id"),
          expr("transform(embedding, (v, j) -> CAST(v * (1.0D + " +
            "((k * 31 + j) % 7 - 3) / 1000.0D) AS FLOAT))").as("embedding"),
          col("label"))
        .repartition(OUT_PARTS)
        .write.parquet(s"$dir/embeddings.parquet")
      derivedEvents(spark, baseDir, scale)
        .repartition(OUT_PARTS)
        .write.parquet(s"$dir/events.parquet")
      linkDims(baseDir, dir)
    }.toString
  }
}
