package graft

import org.apache.spark.sql.SparkSession

/** Skewed-vs-uniform cost measurement over the hot-key-sensitive query
  * set — the robustness axis the uniform scale curve (SCALE10/40/100)
  * cannot see.
  *
  * Protocol: build the uniform ×scale fixture ([[ScaleFixture]]) and its
  * skewed twin ([[SkewFixture]] — same row counts, three deliberate hot
  * keys), then run each listed query min-of-2 on BOTH corpora. The
  * artifact records, per query: wall-time ratio (skew/uniform at EQUAL
  * volume), shuffle-byte ratio, spill on either side, and the worst
  * per-stage straggler ratio (max task / mean task,
  * [[StageMetrics.Agg.drainImbalance]]) on both legs — the signal that
  * catches a hot key serializing one task while stage-aggregate bytes
  * still look healthy.
  *
  * Flags (the next work list):
  *  - `time`: skew costs more than [[FLAG_TIME_RATIO]]× the uniform run
  *    — a defended hot key costs a small constant, not a multiple;
  *  - `spill`: the skewed leg spills where the uniform leg did not —
  *    a partition outgrew memory purely from key distribution;
  *  - `straggler`: the skewed leg's worst stage imbalance exceeds
  *    [[FLAG_IMBALANCE]] AND grew ≥2× over the uniform leg's — one task
  *    is doing the stage's work.
  *
  * Output contract mirrors [[Bench]]: ONE compact JSON line printed
  * last (metric "skew"), backed by target/skew{N}_ratios.json.
  */
object SkewBench {
  private val FLAG_TIME_RATIO = 3.0
  private val FLAG_IMBALANCE = 8.0
  private val SHUFFLE_FLOOR_BYTES = 1L << 20

  /** Queries keyed (via window partitions, group keys, postings or
    * buckets) on the columns the skewed fixture heats: documents.source,
    * document shingles/digests, events.user_id. */
  val skewQueries: Seq[String] = Seq(
    // documents: per-source windows/aggs (src_hot = 50% of docs)
    "q_quantile_norm", "q_source_overlap", "q_dup_rate_by_source",
    "q_corpus_funnel",
    // documents: shingle/digest postings and LSH buckets (shared
    // boilerplate in 20% of docs)
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash",
    "q_dedup_ngram", "q_dedup_containment", "q_dedup_clusters",
    "q_dedup_canonical", "q_contrastive_pairs", "q_dup_passages",
    "q_dedup_savings", "q_ngram_novelty", "q_split_contamination",
    "q_distinct_ngrams",
    // events: per-user windows and sessionization (user 0 = 20% of rows)
    "q_sessionize", "q_session_window", "q_user_growth",
    "q_funnel", "q_funnel_time", "q_hourly_window")

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scale = sys.env.getOrElse("SPARK_GRAFT_SCALE", "10").toInt
    val spark = GraftSession(GraftSession.cpus(32))
    val loadStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val uniformDir = ScaleFixture.ensure(spark, baseDir, scale)
    val skewDir = SkewFixture.ensure(spark, baseDir, scale)
    val agg = StageMetrics.install(spark)

    /** Min-of-2 wall time + metrics/imbalance of the faster run. Fatal
      * JVM errors (OOM — the exact failure a skew bench hunts) PROPAGATE:
      * timing the remaining queries on a thrashed heap would fill the
      * artifact with garbage nothing marks as invalid. Query-level
      * failures return a negative time, surfaced as an `error` flag. */
    def measure(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                dir: String): (Double, StageMetrics.Snap, Double) = {
      // cold-memo isolation PER LEG (SKEW100 lessons, in order): pinned
      // localCheckpoint memos accumulated across 23 queries × 2 dirs
      // starved execution memory until hot tasks died with
      // UNABLE_TO_ACQUIRE_MEMORY; then a per-QUERY sweep still let the
      // uniform leg's pins (cluster labels, candidates for its dir)
      // shrink the skew leg's memory — q_split_contamination spilled
      // 1.6 GB on the skew leg only, with equal shuffle bytes. Sweeping
      // per leg gives both legs the same memory posture; run 1 builds,
      // run 2 is warm, min-of-2 picks the warm run as before.
      Memo.sweep(spark)
      def one(): (Double, StageMetrics.Snap, Double) = {
        val before = agg.settled()
        agg.drainImbalance() // clear stages billed to earlier work
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, dir).write.format("noop").mode("overwrite").save(); true }
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[skew] FAILED on $dir: ${e.getMessage}"); false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        val m = agg.settled() - before
        val imb = agg.drainImbalance()
        (if (ok) dt else -dt, m, imb)
      }
      val a = one(); val b = one()
      if (a._1 < 0 && b._1 < 0) a
      else if (b._1 > 0 && (a._1 < 0 || b._1 < a._1)) b else a
    }

    val registry = SparkEntry.queries
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val names = skewQueries
      .filter(n => only.forall(_.contains(n)))
      .filter { n =>
        val in = registry.contains(n)
        if (!in) System.err.println(s"[skew] not in registry, skipped: $n")
        in
      }
    // warm the session the same way Bench does
    spark.range(1000).selectExpr("sum(id)").write
      .format("noop").mode("overwrite").save()
    System.err.println(s"[skew] ${names.size} queries, uniform vs skewed ×$scale")

    final case class Row(name: String, uni: Double, skw: Double,
                         ratio: Double, uniM: StageMetrics.Snap,
                         skwM: StageMetrics.Snap, uniImb: Double,
                         skwImb: Double, shuffleRatio: Double)
    def measureRow(name: String): Row = {
      val fn = registry(name)
      val (u, um, ui) = measure(fn, uniformDir)
      val (s, sm, si) = measure(fn, skewDir)
      val ratio = if (u > 0 && s > 0) s / u else -1.0
      val shuffleRatio =
        if (u > 0 && s > 0 && um.shuffleWrite >= SHUFFLE_FLOOR_BYTES)
          sm.shuffleWrite.toDouble / um.shuffleWrite
        else -1.0
      System.err.println(f"[skew] $name uniform=$u%.2f skew=$s%.2f " +
        f"ratio=$ratio%.2f imb=$ui%.1f->$si%.1f")
      Row(name, u, s, ratio, um, sm, ui, si, shuffleRatio)
    }
    /** A failed leg is its own `error` flag and SUPPRESSES the
      * performance flags — a crashed run's partial metrics are not a
      * measurement (review finding: a skew-only crash must not read as
      * "zero flags", nor fire a straggler flag off a half-run). */
    def flagsOf(r: Row): Seq[String] =
      if (r.uni < 0 || r.skw < 0) Seq("error")
      else Seq(
        if (r.ratio > FLAG_TIME_RATIO) Some("time") else None,
        if (r.skwM.spill > 0 && r.uniM.spill == 0) Some("spill") else None,
        if (r.skwImb > FLAG_IMBALANCE && r.skwImb >= 2 * math.max(r.uniImb, 1.0))
          Some("straggler") else None,
        // leg-SYMMETRIC imbalance: the skew-relative straggler condition
        // above can never fire when BOTH legs are imbalanced (exactly the
        // r12 single-file fixture-layout artifact, 7.9 on both legs) — a
        // systematic serialization regression must surface as its own
        // flag instead of reading as "zero flags" (ADVICE r12).
        // BOTH legs must exceed the line for the both-legs label to be
        // true to its name (ADVICE r13: uniform-only imbalance was
        // mislabeled); a uniform-only imbalance with a balanced skew leg
        // means the fixture layout, not the operator, and gets its own
        // honest label.
        if (r.uniImb > FLAG_IMBALANCE && r.skwImb > FLAG_IMBALANCE)
          Some("imbalance-both")
        else if (r.uniImb > FLAG_IMBALANCE) Some("imbalance-uniform")
        else None
      ).flatten
    val firstPass = names.map(measureRow)
    // performance flags must REPRODUCE on a second measurement: shared
    // memo first-touch attribution and JVM warmup can inflate one pass
    // (observed: a 5x time ratio on pass 1 that re-measured at 1.4x).
    // The re-measured row replaces the first so the artifact records the
    // numbers the verdict was based on; `error` flags skip the re-run.
    val rows = firstPass.map { r =>
      val f1 = flagsOf(r)
      if (f1.isEmpty || f1 == Seq("error")) r
      else {
        System.err.println(s"[skew] ${r.name} flagged (${f1.mkString("+")}) " +
          "on pass 1 - re-measuring")
        measureRow(r.name)
      }
    }
    val flagged = rows.flatMap { r =>
      val why = flagsOf(r)
      if (why.isEmpty) None else Some(r.name -> why.mkString("+"))
    }
    val load = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    import StageMetrics.mb
    def r2(v: Double): Double = math.floor(v * 100.0 + 0.5) / 100.0
    val qjson = rows.map { r =>
      s"\"" + r.name + s"\":{\"uniform_s\":${r.uni},\"skew_s\":${r.skw}," +
        s"\"ratio\":${r2(r.ratio)}," +
        s"\"uniform_shuffle_mb\":${mb(r.uniM.shuffleWrite)}," +
        s"\"skew_shuffle_mb\":${mb(r.skwM.shuffleWrite)}," +
        s"\"shuffle_ratio\":${r2(r.shuffleRatio)}," +
        s"\"uniform_spill_mb\":${mb(r.uniM.spill)}," +
        s"\"skew_spill_mb\":${mb(r.skwM.spill)}," +
        s"\"uniform_straggler\":${r2(r.uniImb)}," +
        s"\"skew_straggler\":${r2(r.skwImb)}}"
    }.mkString("{", ",", "}")
    val fjson = flagged.map(_._1).distinct.map(n => s"\"" + n + "\"")
      .mkString("[", ",", "]")
    val fwhy = flagged.map { case (n, why) => s"\"$n\":\"$why\"" }
      .mkString("{", ",", "}")
    val out =
      s"""{"metric":"skew","scale":$scale,"n_queries":${rows.size},"flag_time_ratio":$FLAG_TIME_RATIO,"flagged":$fjson,"flag_reasons":$fwhy,"loadavg_start":$loadStart,"loadavg_end":$load,"queries":$qjson,"base_sf":"$baseDir"}"""
    try {
      val p = java.nio.file.Paths.get(s"target/skew${scale}_ratios.json")
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, (out + "\n").getBytes("UTF-8"))
      ()
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[skew] could not write artifact: ${e.getMessage}")
    }
    spark.stop()
    println(out)
    System.out.flush()
  }
}
