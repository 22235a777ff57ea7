package graft

/** Partition-invariance under HOT KEYS — the leg the fleet-wide sweep
  * cannot cover: on the uniform harness fixture the dedup family's
  * bucket/posting caps (BUCKET_CAP, POSTING_CAP = 64) are never
  * exceeded, so their survivor selection is never exercised. If a cap
  * kept "whichever 64 arrive first" (shuffle order) instead of a
  * deterministic ordered prefix, every capped query would silently
  * return partition-dependent results EXACTLY on the data that matters
  * — skewed corpora — while staying green on the single-configuration
  * oracle compare.
  *
  * This sweep derives a small skewed corpus ([[SkewFixture]]: 50% hot
  * source, 20% shared-boilerplate docs, 20% hot-user events) from the
  * sf0.001 fixture at ×4, whose shared boilerplate shingles land
  * hundreds of docs in the same postings/buckets — far past every cap —
  * and requires each skew-sensitive query to return identical rows
  * under a different shuffle fan-out and scan split size.
  */
class SkewInvarianceSpec extends SparkTestBase with InvarianceHarness {

  test("skew-sensitive queries return identical rows on a cap-exceeding " +
    "skewed corpus under a different shuffle fan-out and scan split size") {
    // ×4 on sf0.001 ≈ 2.4k docs, ~480 sharing the boilerplate
    // shingles — every 64-cap structure overflows
    val dir = SkewFixture.ensure(spark, sfDir, scale = 4)
    val names = SkewBench.skewQueries.filter(SparkEntry.queries.contains)
    val a = runQuerySet(Map("spark.sql.shuffle.partitions" -> "8"), names, dir)
    val b = runQuerySet(Map(
      "spark.sql.shuffle.partitions" -> "3",
      "spark.sql.files.maxPartitionBytes" -> "131072"), names, dir)
    assertInvariant(a, b, "on skewed data")
  }
}
