package jobbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, split}

import graft.{BuildMeter, SparkEntry, Tables}
import graft.functions.GraftFunctions
import graft.sources.{AppendJob, IngestJob}

/** JVM side of the job benchmark: one closed-loop client in one fresh
  * local session. It sets the session up, runs the workload's passes
  * (each operation submitted after the previous one completes), checks
  * the outputs, and writes everything it measured to a JSON file that
  * `run.py` turns into the result line.
  *
  * Usage: jobbench.Main <workload> <inputDir> <runDir> <seconds> <trace 0|1>
  */
object Main {
  /** Sessions started per run; setup time is their median. */
  val Setups = 3

  /** One timed operation: its span, its process CPU seconds, success. */
  final case class Op(name: String, span: Span, cpuS: Double, ok: Boolean)

  /** CPU time of this JVM process, all threads (seconds). */
  def cpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  final class Ctx(val spark: SparkSession, val dir: String,
                  val runDir: String, val clock: Clock) {
    /** Time one operation as a span under `parent`; a failure is
      * recorded, never thrown. */
    def op(name: String, parent: Int)(body: Int => Unit): Op = {
      var ok = true
      val c0 = cpuS()
      val (_, s) = clock.span(name, parent) { id =>
        try body(id)
        catch { case NonFatal(e) =>
          ok = false
          System.err.println(s"[jobbench] $name FAILED: $e")
        }
      }
      val cpu = cpuS() - c0
      System.err.println(f"[jobbench] $name ${s.ms / 1e3}%.3f s cpu $cpu%.3f s ok=$ok")
      Op(name, s, cpu, ok)
    }
  }

  final case class Check(name: String, ok: Boolean, detail: String)

  def main(args: Array[String]): Unit = {
    val Array(workload, dir, runDir, secondsArg, traceArg) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val w: Workload = workload match {
      // LLM data-curation queries whose first touch builds a shared memo
      // (roadmap cold-build targets)
      case "curation_job" => new Queries(
        Seq("q_ann_mrr", "q_pagerank", "q_spearman"))
      case "lake_ingest" => new Lake
      case other => sys.error(s"unknown workload $other")
    }
    val t00 = System.nanoTime()
    def mark(what: String): Unit =
      System.err.println(f"[jobbench] $what at ${(System.nanoTime() - t00) / 1e9}%.2f s")
    val loadStart = loadAvg()
    val cores = Runtime.getRuntime.availableProcessors

    // set-up: fresh session + warmup, Setups times; the last one is the
    // session the workload runs in
    var spark: SparkSession = null
    val setupS = (1 to Setups).map { i =>
      val t0 = System.nanoTime()
      spark = session(cores, runDir)
      spark.range(1000).selectExpr("sum(id)").write
        .format("noop").mode("overwrite").save()
      Tables.region(spark, dir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < Setups) spark.stop()
      dt
    }
    mark(s"setup ${setupS.mkString(",")}")
    val listeners = if (trace) Some(Listeners.install(spark)) else None
    val clock = new Clock
    val ctx = new Ctx(spark, dir, runDir, clock)
    val gcStart = gcMs()
    val steal0 = Stats.cpuTicks()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

    // passes: cold pass 1, then warm passes until they have taken
    // `seconds` in all and the workload's minimum of them has run
    final case class Pass(span: Span, ops: Seq[Op], builds: Long,
                          buildOps: Int, newPins: Int, gcMs: Double)
    val passes = mutable.ArrayBuffer[Pass]()
    val (_, root) = clock.span("workload", -1) { rootId =>
      def warmS = passes.drop(1).map(_.span.ms).sum / 1e3
      while (passes.size <= w.warmPasses || warmS < seconds) {
        val b0 = BuildMeter.count
        val p0 = spark.sparkContext.getPersistentRDDs.size
        val g0 = gcMs()
        var buildOps = 0
        val (ops, ps) = clock.span("pass", rootId) { pid =>
          w.pass(ctx, pid, passes.size + 1, () => buildOps += 1)
        }
        passes += Pass(ps, ops, BuildMeter.count - b0, buildOps,
          spark.sparkContext.getPersistentRDDs.size - p0, gcMs() - g0)
      }
    }
    mark("passes done")
    val stealShare = Stats.stealShare(steal0, Stats.cpuTicks())
    val gcTotal = gcMs() - gcStart
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6

    val cold = passes.head
    val warm = passes.drop(1).toSeq
    val e2e = Map(
      "cold_pass_s" -> cold.ops.map(_.span.ms).sum / 1e3,
      "warm_pass_s" -> Stats.median(warm.map(_.ops.map(_.span.ms).sum / 1e3)),
      "query_s.p50" -> Stats.median(warm.flatMap(_.ops).map(_.span.ms / 1e3)),
      "cold_pass_cpu_s" -> cold.ops.map(_.cpuS).sum,
      "warm_pass_cpu_s" -> Stats.median(warm.map(_.ops.map(_.cpuS).sum)),
      "query_cpu_s.p50" -> Stats.median(warm.flatMap(_.ops).map(_.cpuS)))

    val layers = mutable.LinkedHashMap[String, Double]()
    val selfMs = mutable.LinkedHashMap[String, Double]()
    var traceSpans: Seq[Span] = Nil
    layers ++= Seq(
      "memo.builds" -> cold.builds.toDouble,
      "memo.builds_warm" -> warm.map(_.builds).sum.toDouble,
      "memo.build_queries" -> cold.buildOps.toDouble,
      "pins.new" -> cold.newPins.toDouble,
      "pins.mb_end" -> spark.sparkContext.getRDDStorageInfo
        .map(r => r.memSize + r.diskSize).sum / 1e6,
      "jvm.gc_ms" -> Stats.median(warm.map(_.gcMs)),
      "jvm.cpu_s" -> e2e("warm_pass_cpu_s"),
      "jvm.gc_ms_run" -> gcTotal,
      "jvm.heap_peak_mb" -> heapPeakMb,
      "jvm.peak_rss_mb" -> peakRssMb())
    layers ++= w.layers(ctx, warm.map(_.ops))
    listeners.foreach { l =>
      l.settle()
      val a = new Attribution(clock.spans.toSeq, l, cores)
      traceSpans = clock.spans.toSeq ++ a.childSpans()
      val perPass = warm.map { p =>
        val plan = traceSpans.filter(s => s.name == "operators.plan_build" &&
          p.ops.exists(o => s.parent == o.span.id))
        a.passLayers(p.span, p.ops.map(_.span), plan,
          p.ops.map(_.span).filter(_.name.startsWith("sources.")))
      }
      perPass.head.keys.foreach(k => layers(k) = Stats.median(perPass.map(_(k))))
      val self = warm.map(p => SelfTime.perLayer(traceSpans, p.span, a))
      self.flatMap(_.keys).distinct.sorted.foreach { k =>
        selfMs(k) = Stats.median(self.map(_.getOrElse(k, 0.0)))
      }
      layers ++= Kernels.measure(spark, dir)
      layers("trace.cold_pass_s") = e2e("cold_pass_s")
      layers("trace.warm_pass_s") = e2e("warm_pass_s")
    }

    mark("layers done")
    val tChecks = System.nanoTime()
    val checks = w.check(ctx)
    val checkS = (System.nanoTime() - tChecks) / 1e9
    val opsRun = passes.map(_.ops.size).sum
    val opsFailed = passes.map(_.ops.count(!_.ok)).sum
    val out = Json.obj(
      "workload" -> workload,
      "cores" -> cores,
      "setup_session_s" -> setupS,
      "passes" -> passes.zipWithIndex.map { case (p, i) => Json.obj(
        "pass" -> (i + 1), "wall_s" -> p.ops.map(_.span.ms).sum / 1e3,
        "cpu_s" -> p.ops.map(_.cpuS).sum,
        "ops" -> p.ops.map(o => Json.obj("name" -> o.name,
          "s" -> o.span.ms / 1e3, "cpu_s" -> o.cpuS, "ok" -> o.ok)))
      },
      "e2e" -> e2e,
      "layers" -> layers,
      "self_ms" -> selfMs,
      "checks" -> checks.map(c => Json.obj("name" -> c.name, "ok" -> c.ok,
        "detail" -> c.detail)),
      "oracle" -> w.oracle,
      "attempted" -> (opsRun + checks.size),
      "failed" -> (opsFailed + checks.count(!_.ok)),
      "telemetry" -> Json.obj(
        "loadavg_start" -> loadStart, "loadavg_end" -> loadAvg(),
        "other_jvms" -> otherJvms(), "cores" -> cores,
        "measure_s" -> root.ms / 1e3, "check_s" -> checkS,
        "steal_share" -> stealShare,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
        "storage_mb" -> spark.sparkContext.getExecutorMemoryStatus
          .values.map(_._1).sum / 1e6))
    Files.writeString(Paths.get(runDir, "result.json"), out.s)
    if (trace) Files.writeString(Paths.get(runDir, "spans.json"),
      Json.arr(traceSpans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start" -> s.start, "end" -> s.end))).s)
    mark("written")
    spark.stop()
    mark("stopped")
  }

  /** The benchmark's fixed session: exactly `graft.Bench`'s conf with no
    * environment overrides, on a warehouse and local dir the run owns. */
  def session(cores: Int, runDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("jobbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.join.preferSortMergeJoin", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.io.compression.codec", "lz4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def gcMs(): Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum.toDouble

  private def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def otherJvms(): Long = {
    val self = ProcessHandle.current().pid()
    ProcessHandle.allProcesses().iterator().asScala.count { p =>
      p.pid() != self &&
        p.info().command().map[Boolean](_.contains("java")).orElse(false)
    }.toLong
  }

  /** Resident-set high-water mark of this process (Linux /proc). */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** One workload: what a pass runs, the layer metrics only it can read,
  * and the correctness checks it owns. */
trait Workload {
  /** Warm passes every run makes at least (after the cold pass). */
  def warmPasses: Int
  def pass(ctx: Main.Ctx, passId: Int, passNo: Int, built: () => Unit): Seq[Main.Op]
  def layers(ctx: Main.Ctx, warm: Seq[Seq[Main.Op]]): Map[String, Double] = Map.empty
  def check(ctx: Main.Ctx): Seq[Main.Check]
  /** Oracle SQL of every result dumped for the DuckDB compare. */
  def oracle: Map[String, String] = Map.empty
}

/** Registered queries through `SparkEntry.queries`: plan build
  * (`Q.run`) and execution are timed as separate phases. Every pass
  * writes each result as a batch job would: pass 1 to `dump/` (kept for
  * the oracle compare), later passes to `out/` (overwritten), so the
  * last pass's output can be compared with the first. */
final class Queries(names: Seq[String]) extends Workload {
  // the JIT is still compiling during the first warm passes (each one
  // faster than the last); the median of four is past most of that
  val warmPasses = 4
  private val fns = names.map(n => n -> SparkEntry.queries(n))

  def pass(ctx: Main.Ctx, passId: Int, passNo: Int, built: () => Unit): Seq[Main.Op] =
    fns.map { case (name, fn) =>
      val sink = s"${ctx.runDir}/${if (passNo == 1) "dump" else "out"}/$name"
      val b0 = BuildMeter.count
      val op = ctx.op(s"query:$name", passId) { id =>
        val (df, _) = ctx.clock.span("operators.plan_build", id)(_ =>
          fn(ctx.spark, ctx.dir))
        ctx.clock.span("execute", id)(_ =>
          df.write.mode("overwrite").parquet(sink))
      }
      if (BuildMeter.count > b0) built()
      // as graft.Bench: drop caches a query created before the next one
      ctx.spark.catalog.clearCache()
      op
    }

  override val oracle: Map[String, String] =
    SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }

  /** Untimed: every query's first and last outputs hold the same rows;
    * a rows-only query (no oracle) must return rows. The oracle compare
    * of `dump/` runs in DuckDB afterwards. */
  def check(ctx: Main.Ctx): Seq[Main.Check] = fns.map { case (name, _) =>
    def rows(dir: String) = ctx.spark.read.parquet(s"${ctx.runDir}/$dir/$name")
      .collect().map(_.toString).sorted.toSeq
    try {
      val (first, last) = (rows("dump"), rows("out"))
      val ok = first == last && (oracle.contains(name) || first.nonEmpty)
      Main.Check(s"repeat:$name", ok, s"rows=${first.size}/${last.size}")
    } catch { case NonFatal(e) => Main.Check(s"repeat:$name", ok = false, e.toString) }
  }
}

/** A recurring lake job, one pass per day. Day 0 (the cold pass): the
  * reference job1 CSV ingest into bucketed, identity-partitioned and
  * plain tables, the document lake's seed, and the day's append batch.
  * Every later day: the ingest again (overwrite), the day's append batch,
  * and a compaction of every corpus bucket the appends fragmented. */
final class Lake extends Workload {
  val warmPasses = 1
  val IngestDb = "bench_ingest"
  val LakeDb = "bench_lake"
  private val reports = mutable.ArrayBuffer[AppendJob.AppendReport]()
  private var compacted = Seq.empty[Long]

  private def batches(dir: String): Seq[String] = {
    val s = Files.list(Paths.get(dir, "lake"))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("batch_")).toSeq.sorted.map(f => s"$dir/lake/$f")
    finally s.close()
  }

  def pass(ctx: Main.Ctx, passId: Int, passNo: Int, built: () => Unit): Seq[Main.Op] = {
    val spark = ctx.spark
    val batch = batches(ctx.dir)(passNo - 1)
    val ingest = ctx.op("sources.ingest", passId)(_ => IngestJob.run(spark,
      IngestJob.harnessManifest(s"${ctx.dir}/csv"), IngestDb))
    val seed =
      if (passNo > 1) Nil
      else Seq(ctx.op("sources.seed", passId)(_ => AppendJob.seed(spark,
        spark.read.parquet(s"${ctx.dir}/lake/corpus.parquet"), LakeDb)))
    val append = ctx.op("sources.append", passId)(_ =>
      reports += AppendJob.appendBatch(spark, spark.read.parquet(batch), LakeDb))
    val compact =
      if (passNo == 1) Nil
      else Seq(ctx.op("sources.compact", passId)(_ =>
        compacted :+= AppendJob.compactCorpus(spark, LakeDb, maxFiles = 1)))
    (ingest +: seed) ++ (append +: compact)
  }

  private def warehouseFiles(ctx: Main.Ctx): Seq[java.nio.file.Path] =
    Seq(IngestDb, LakeDb).flatMap { db =>
      val p = Paths.get(ctx.runDir, "warehouse", s"$db.db")
      if (!Files.exists(p)) Nil
      else {
        val s = Files.walk(p)
        try s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
          !f.getFileName.toString.startsWith(".")).toSeq
        finally s.close()
      }
    }

  /** Bytes of every input the passes consumed: the CSV exports, the
    * seed corpus and one append batch per pass. */
  private def inputBytes(ctx: Main.Ctx, passes: Int): Double =
    Stats.dirBytes(Paths.get(ctx.dir, "csv")) +
      Stats.dirBytes(Paths.get(ctx.dir, "lake", "corpus.parquet")) +
      batches(ctx.dir).take(passes).map(b => Stats.dirBytes(Paths.get(b))).sum

  override def layers(ctx: Main.Ctx, warm: Seq[Seq[Main.Op]]): Map[String, Double] = {
    val csvMb = Stats.dirBytes(Paths.get(ctx.dir, "csv")) / 1e6
    val ingestS = warm.map(_.filter(_.name == "sources.ingest").map(_.span.ms / 1e3).sum)
    val files = warehouseFiles(ctx)
    val nBatch = reports.map(_.nBatch).sum
    Map(
      "sources.ingest_mb_per_s" -> csvMb / Stats.median(ingestS),
      "sources.append_dup_ratio" ->
        (if (nBatch > 0) reports.map(_.nDup).sum.toDouble / nBatch else 0.0),
      "sources.compact_buckets_rewritten" -> compacted.lastOption.getOrElse(0L).toDouble,
      "sources.files_written" -> files.count(_.toString.endsWith(".parquet")).toDouble,
      "sources.stored_bytes_per_input_byte" ->
        files.map(Files.size(_)).sum / inputBytes(ctx, warm.size + 1))
  }

  def check(ctx: Main.Ctx): Seq[Main.Check] = {
    val spark = ctx.spark
    val roundTrip = IngestJob.harnessManifest(s"${ctx.dir}/csv").map { t =>
      val csvRows = Files.lines(Paths.get(t.path)).count() - 1
      val n = spark.table(s"$IngestDb.${t.name}").count()
      Main.Check(s"rows:${t.name}", n == csvRows, s"table=$n csv=$csvRows")
    }
    val buckets = IngestJob.harnessManifest(s"${ctx.dir}/csv").collect {
      case IngestJob.TableSpec(name, _, _, IngestJob.Bucketed(key, n), _) =>
        val info = spark.sql(s"DESCRIBE TABLE EXTENDED $IngestDb.$name")
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
        val ok = info.get("Num Buckets").contains(n.toString) &&
          info.get("Bucket Columns").contains(s"[`$key`]")
        Main.Check(s"buckets:$name", ok,
          s"${info.get("Num Buckets")} ${info.get("Bucket Columns")}")
    }
    val corpus = spark.table(s"$LakeDb.docs_corpus").count()
    val arith = reports.zipWithIndex.map { case (r, i) =>
      Main.Check(s"append:$i", r.nBatch == r.nDup + r.nAppended &&
        r.corpusAfter == r.corpusBefore + r.nAppended &&
        (i == 0 || r.corpusBefore == reports(i - 1).corpusAfter) &&
        r.nDup >= exactDups(ctx, i), r.toString)
    }
    val last = Main.Check("append:corpus_after",
      reports.nonEmpty && reports.last.corpusAfter == corpus,
      s"report=${reports.lastOption.map(_.corpusAfter)} table=$corpus")
    roundTrip ++ buckets ++ arith :+ last
  }

  /** Batch docs whose text equals a seed-corpus text: a dedup that
    * misses any of these is wrong whatever its threshold. */
  private def exactDups(ctx: Main.Ctx, i: Int): Long = {
    val spark = ctx.spark
    val corpus = spark.read.parquet(s"${ctx.dir}/lake/corpus.parquet")
      .select("text").distinct()
    spark.read.parquet(batches(ctx.dir)(i)).join(corpus, "text")
      .select("doc_id").distinct().count()
  }
}

/** Kernel-only projections of the `functions` layer over the workload's
  * documents and embeddings (traced run only): each kernel runs over
  * pre-materialized inputs, so its time is the kernel's own. */
object Kernels {
  val Rows = 20000

  def measure(spark: SparkSession, dir: String): Map[String, Double] = {
    GraftFunctions.register(spark)
    val docs = Tables.documents(spark, dir)
    val rep = math.max(1L, Rows / docs.count())
    val toks = docs.crossJoin(spark.range(rep).toDF("rep"))
      .select(split(col("text"), " ").as("toks")).localCheckpoint()
    val sh = toks.select(expr("array_distinct(word_shingles(toks, 3))").as("sh"))
      .localCheckpoint()
    val embs = Tables.embeddings(spark, dir)
    val vrep = math.max(1L, Rows / embs.count())
    val vecs = embs.crossJoin(spark.range(vrep).toDF("rep"))
      .select(col("embedding").cast("array<double>").as("v")).localCheckpoint()
    def time(df: DataFrame): Double = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e6
    })
    val ms = Map(
      "functions.shingles_ms" -> time(toks.select(expr("word_shingles(toks, 3)"))),
      "functions.minhash_ms" -> time(sh.select(expr("minhash_slices(sh)"))),
      "functions.simhash_ms" -> time(toks.select(expr("simhash32_d(toks)"))),
      "functions.dot_ms" -> time(vecs.select(expr("dot_d(v, v)"))))
    val rows = 3.0 * toks.count() + vecs.count()
    Seq(toks, sh, vecs).foreach(_.unpersist(blocking = true))
    ms + ("functions.rows_per_s" -> rows / (ms.values.sum / 1e3))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** (steal, total) jiffies of all CPUs from /proc/stat (Linux). */
  def cpuTicks(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
      .split("\\s+").drop(1).map(_.toLong)
    (f.lift(7).getOrElse(0L), f.take(8).sum)
  }

  /** Share of CPU time the hypervisor gave to other guests between two
    * [[cpuTicks]] readings: host contention this run could not see
    * in its load average. */
  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0

  def dirBytes(p: java.nio.file.Path): Double = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size(_)).sum.toDouble
    finally s.close()
  }
}

/** Minimal JSON rendering for the result files. */
object Json {
  /** Already-rendered JSON. */
  final case class Raw(s: String) { override def toString: String = s }

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))
  def arr(xs: Iterable[Any]): Raw = Raw(xs.map(value).mkString("[", ",", "]"))

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def value(v: Any): String = v match {
    case Json.Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*).s
    case xs: Iterable[_] => arr(xs).s
    case other => str(other.toString)
  }
}
