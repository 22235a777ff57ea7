package graft

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
    val loadStart = Harness.loadAvg()
    val scaleDir = ScaleFixture.ensure(spark, baseDir, scale)
    val agg = StageMetrics.install(spark)

    /** Wall time + settled stage-metric deltas for one run. */
    def timeM(name: String, fn: Harness.Query,
              dir: String): (Double, StageMetrics.Snap) = {
      val before = agg.settled()
      val dt = Harness.run(spark, "scale", name, fn, dir)()
      (dt, agg.settled() - before)
    }

    /** Leaf parquet scan locations of the query's BASE plan that hit one
      * of the scaled tables — ratio ≈ 1 on a dims-only query is then
      * self-explaining in the artifact. */
    def scaledScans(fn: Harness.Query): Seq[String] = {
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

    val all = Harness.selected(SparkEntry.queries.keys.toSeq.sorted)
    Harness.warm(spark, baseDir)
    System.err.println(s"[scale] base pass over ${all.size} queries")
    // wall time only: the listener settlement wait of [[timeM]] would add
    // ~30 s of dead time to the full-fleet ranking pass for nothing
    val basePass = all.map { name =>
      name -> Harness.run(spark, "scale", name, SparkEntry.queries(name), baseDir)()
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
      val fn = SparkEntry.queries(name)
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
      val (t2, m2) =
        Harness.faster(timeM(name, fn, baseDir), timeM(name, fn, baseDir))
      val base = if (t2 > 0) math.min(t1, t2) else t1
      val baseM = if (t2 > 0) m2 else zero
      Memo.sweep(spark)
      val (scaled, ms) =
        Harness.faster(timeM(name, fn, scaleDir), timeM(name, fn, scaleDir))
      val scaledM = if (scaled > 0) ms else zero
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
    val load = Harness.loadAvg()
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
    Harness.writeArtifact(s"target/scale${scale}_ratios.json", out)
    spark.stop()
    println(out)
    System.out.flush()
  }
}
