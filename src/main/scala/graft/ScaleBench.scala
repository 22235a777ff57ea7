package graft

import org.apache.spark.sql.SparkSession

/** Fleet-wide 10× scale-step measurement (VERDICT r11 #4): the other
  * ~250 registered queries' growth, beyond the 8 risk paths
  * ScalingCurveSpec pins.
  *
  * Protocol: one full warm pass over the registry at the BASE sf dir
  * picks the TOPN slowest queries; each of those then runs min-of-2 at
  * the base and min-of-2 at the [[ScaleFixture]]-derived 10× corpus
  * (documents/embeddings/events ×10, TPC-H tables symlinked). The
  * artifact records per-query (base_s, scaled_s, ratio) plus which
  * scaled tables the query actually scans — a query that reads only
  * unscaled dims legitimately shows ratio ≈ 1 and is excluded from the
  * superlinear flag. Queries growing more than 1.5× the data-growth
  * factor (15× at the default 10× step — a linear operator shows ~scale×
  * with constant overheads; a fixed threshold would false-positive every
  * linear query at larger steps) land in "flagged": the next round's
  * work list.
  *
  * Beyond wall time, each measured run carries [[StageMetrics]] deltas —
  * shuffle bytes written/read, disk spill, input bytes — because the
  * clock can lag the bytes: a shuffle growing ≫ the data growth is the
  * 100 TB bottleneck even while the 10× wall time still looks linear.
  * A query is therefore ALSO flagged when its shuffle-write bytes grow
  * more than 1.5× the data-growth factor (only when the base shuffle is
  * ≥ 1 MB — ratios on KB-scale shuffles are metadata noise).
  *
  * Output contract mirrors [[Bench]]: ONE compact JSON line printed
  * last (metric "scale10" — the name is historical; the "scale" field
  * carries the actual step), backed by target/scale{N}_ratios.json.
  */
object ScaleBench {
  private val FLAG_FACTOR = 1.5 // of the data-growth factor
  private val SHUFFLE_FLOOR_BYTES = 1L << 20 // ignore sub-MB base shuffles

  def main(args: Array[String]): Unit = {
    val topN = sys.env.getOrElse("SPARK_GRAFT_SCALE_TOPN", "30").toInt
    val scale = sys.env.getOrElse("SPARK_GRAFT_SCALE", "10").toInt
    val spark = GraftSession(GraftSession.cpus(32))
    // read at the session's width like Bench; the scaled corpus derives
    // from (and links its dims to) this dir, so both legs scan as wide
    val baseDir = ShardFixture.widened(spark,
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val loadStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val scaleDir = ScaleFixture.ensure(spark, baseDir, scale)
    val agg = StageMetrics.install(spark)

    /** Wall time only — the full-fleet ranking pass, where the listener
      * settlement wait would add ~30 s of dead time for nothing. */
    def time(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
             dir: String): Double = {
      val t0 = System.nanoTime()
      // NonFatal only: an OOM mid-fleet must abort the run, not leave
      // every later measurement timed on a thrashed heap
      val ok =
        try { fn(spark, dir).write.format("noop").mode("overwrite").save(); true }
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[scale] FAILED on $dir: ${e.getMessage}"); false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      if (ok) dt else -dt
    }

    /** Wall time + settled stage-metric deltas for one run. */
    def timeM(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
              dir: String): (Double, StageMetrics.Snap) = {
      val before = agg.settled()
      val dt = time(fn, dir)
      (dt, agg.settled() - before)
    }

    /** Leaf parquet scan locations of the query's BASE plan that hit one
      * of the scaled tables — ratio ≈ 1 on a dims-only query is then
      * self-explaining in the artifact. */
    def scaledScans(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Seq[String] = {
      val scaledNames = Seq("documents", "embeddings", "events")
      try {
        val plan = fn(spark, baseDir).queryExecution.optimizedPlan
        val hit = scala.collection.mutable.SortedSet[String]()
        plan.foreach {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            r.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location.rootPaths.foreach { p =>
                  scaledNames.foreach { t =>
                    if (p.toString.contains(s"$t.parquet")) hit += t
                  }
                }
              case _ => ()
            }
          case _ => ()
        }
        hit.toSeq
      } catch { case scala.util.control.NonFatal(_) => Seq("unknown") }
    }

    // dev-only subset filter (comma-separated names), mirroring Verify;
    // the driver sets no env and always ranks the full registry
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // warm the session the same way Bench does
    spark.range(1000).selectExpr("sum(id)").write
      .format("noop").mode("overwrite").save()
    // dev-only census mode (SPARK_GRAFT_SCALE_CENSUS=1): the base pass
    // also captures per-query byte deltas for the WHOLE registry —
    // shuffle write/read, spill, input — into target/shuffle_census.json,
    // ranked by shuffle write. This is how the next superlinear shape is
    // found without waiting for it to crack the slowest-N: a query whose
    // shuffle bytes rival its input bytes at base scale is a candidate
    // regardless of its wall time. Costs one listener settle per query.
    val census = sys.env.get("SPARK_GRAFT_SCALE_CENSUS").contains("1")
    System.err.println(s"[scale] base pass over ${all.size} queries" +
      (if (census) " (census mode)" else ""))
    val censusRows = scala.collection.mutable.ArrayBuffer[
      (String, Double, StageMetrics.Snap)]()
    val basePass = all.map { case (name, fn) =>
      if (census) {
        val (dt, m) = timeM(fn, baseDir)
        censusRows += ((name, dt, m))
        name -> dt
      } else name -> time(fn, baseDir)
    }
    if (census) {
      import StageMetrics.mb
      val lines = censusRows.sortBy(-_._3.shuffleWrite).map {
        case (name, dt, m) =>
          s"""\"$name\":{"s":$dt,"shuffle_write_mb":${mb(m.shuffleWrite)},""" +
            s""""shuffle_read_mb":${mb(m.shuffleRead)},""" +
            s""""spill_mb":${mb(m.spill)},"input_mb":${mb(m.input)}}"""
      }.mkString("{", ",", "}")
      try {
        val p = java.nio.file.Paths.get("target/shuffle_census.json")
        if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p,
          (s"""{"metric":"shuffle_census","sf":"$baseDir","queries":$lines}""" + "\n")
            .getBytes("UTF-8"))
        ()
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[scale] could not write census: ${e.getMessage}")
      }
    }
    val slowest = basePass.filter(_._2 > 0).sortBy(-_._2).take(topN)
    System.err.println(s"[scale] top-$topN slowest: " +
      slowest.take(5).map { case (n, t) => f"$n=$t%.2f" }.mkString(", "))

    final case class Row(name: String, base: Double, scaled: Double,
                         ratio: Double, tables: Seq[String],
                         baseM: StageMetrics.Snap, scaledM: StageMetrics.Snap,
                         shuffleRatio: Double)
    val zero = StageMetrics.Snap(0, 0, 0, 0, 0, 0)
    val rows = slowest.map { case (name, t1) =>
      // cold-memo isolation PER LEG (see Memo / the SKEW100
      // UNABLE_TO_ACQUIRE_MEMORY and skew-leg-spill lessons): both legs
      // measure with the same memory posture — neither inherits the
      // other dir's pinned checkpoint blocks
      Memo.sweep(spark)
      val fn = all.find(_._1 == name).get._2
      // t1 > 0 (failed base runs were filtered out of `slowest`); a
      // failed re-measurement keeps its negative marker and is ignored
      // rather than abs'd into a bogus tiny base time.
      // Both legs measure TWICE after their sweep and keep the faster
      // (warm) run's metrics: with a per-leg sweep a single base
      // re-measure is a COLD run whose shuffle bytes include the
      // first-touch memo build, so shuffle_ratio / records_ratio would
      // divide a warm scaled leg by a cold base and understate growth
      // for memoized queries (ADVICE r13) — the exact flags this bench
      // exists to raise.
      val (t2a, m2a) = timeM(fn, baseDir)
      val (t2b, m2b) = timeM(fn, baseDir)
      val (t2, m2) =
        if (t2a < 0 && t2b < 0) (math.min(t2a, t2b), zero)
        else if (t2b > 0 && (t2a < 0 || t2b < t2a)) (t2b, m2b)
        else (t2a, m2a)
      val base = if (t2 > 0) math.min(t1, t2) else t1
      val baseM = if (t2 > 0) m2 else zero
      Memo.sweep(spark)
      val (s1, ms1) = timeM(fn, scaleDir)
      val (s2, ms2) = timeM(fn, scaleDir)
      val (scaled, scaledM) =
        if (s1 < 0 && s2 < 0) (math.min(s1, s2), zero) // both failed
        else if (s2 > 0 && (s1 < 0 || s2 < s1)) (s2, ms2)
        else (s1, ms1)
      val tables = scaledScans(fn)
      val ratio = if (scaled > 0 && base > 0) scaled / base else -1.0
      val shuffleRatio =
        if (scaled > 0 && baseM.shuffleWrite >= SHUFFLE_FLOOR_BYTES)
          scaledM.shuffleWrite.toDouble / baseM.shuffleWrite
        else -1.0 // not attributable / sub-floor base
      Row(name, base, scaled, ratio, tables, baseM, scaledM, shuffleRatio)
    }
    /** Shuffle-ROW growth — the disambiguator for a byte flag: rows
      * growing ≤ the data factor while bytes exceed it means FATTER
      * rows (fixture string mutation, worse codec entropy), not more of
      * them — the r13 q_lm_score/q_distinct_ngrams diagnosis, now
      * carried in-artifact instead of re-derived by hand. */
    def recordsRatio(r: Row): Double =
      if (r.scaled > 0 && r.baseM.shuffleRecords > 0)
        r.scaledM.shuffleRecords.toDouble / r.baseM.shuffleRecords
      else -1.0
    // flag on the measured ratios alone: scan attribution is best-effort
    // (a memoized localCheckpoint build hides the parquet relation —
    // q_bigram_lm reads documents but shows scaled_tables=[]), and a
    // dims-only query growing 15x would be worth a look anyway
    val flagged = rows.flatMap { r =>
      val why = Seq(
        if (r.ratio > FLAG_FACTOR * scale) Some("time") else None,
        if (r.shuffleRatio > FLAG_FACTOR * scale) {
          val rr = recordsRatio(r)
          // rows within the linear band -> byte growth is row-size only
          Some(if (rr >= 0 && rr <= FLAG_FACTOR * scale)
            "shuffle_bytes_rowsize" else "shuffle_bytes")
        } else None).flatten
      if (why.isEmpty) None else Some(r.name -> why.mkString("+"))
    }
    val load = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    import StageMetrics.mb
    val qjson = rows.map { r =>
      val ts = r.tables.map(t => s"\"" + t + "\"").mkString("[", ",", "]")
      s"\"" + r.name + s"\":{\"base_s\":${r.base},\"scaled_s\":${r.scaled}," +
        s"\"ratio\":${r.ratio},\"scaled_tables\":$ts," +
        s"\"base_shuffle_mb\":${mb(r.baseM.shuffleWrite)}," +
        s"\"scaled_shuffle_mb\":${mb(r.scaledM.shuffleWrite)}," +
        s"\"shuffle_ratio\":${r.shuffleRatio}," +
        s"\"base_shuffle_rows\":${r.baseM.shuffleRecords}," +
        s"\"scaled_shuffle_rows\":${r.scaledM.shuffleRecords}," +
        s"\"records_ratio\":${recordsRatio(r)}," +
        s"\"base_spill_mb\":${mb(r.baseM.spill)}," +
        s"\"scaled_spill_mb\":${mb(r.scaledM.spill)}," +
        s"\"base_input_mb\":${mb(r.baseM.input)}," +
        s"\"scaled_input_mb\":${mb(r.scaledM.input)}}"
    }.mkString("{", ",", "}")
    val fjson = flagged.map(_._1).distinct.map(n => s"\"" + n + "\"")
      .mkString("[", ",", "]")
    val fwhy = flagged.map { case (n, why) => s"\"$n\":\"$why\"" }
      .mkString("{", ",", "}")
    val out =
      s"""{"metric":"scale10","scale":$scale,"top_n":${rows.size},"flag_ratio":${FLAG_FACTOR * scale},"flagged":$fjson,"flag_reasons":$fwhy,"loadavg_start":$loadStart,"loadavg_end":$load,"queries":$qjson,"base_sf":"$baseDir"}"""
    try {
      val p = java.nio.file.Paths.get(s"target/scale${scale}_ratios.json")
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, (out + "\n").getBytes("UTF-8"))
      ()
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[scale] could not write artifact: ${e.getMessage}")
    }
    spark.stop()
    println(out)
    System.out.flush()
  }
}
