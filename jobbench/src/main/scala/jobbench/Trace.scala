package jobbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the run. Harness spans (workload, pass, op and
  * its phases) are recorded on the driver thread; Spark job, stage and
  * Catalyst phase spans come from the public listener APIs and are
  * attached to the harness span that contains their start. Times are
  * epoch milliseconds. */
final case class Span(id: Int, parent: Int, name: String, start: Double,
                      end: Double) {
  def ms: Double = end - start
}

/** Harness-side clock and span recorder. Always on: it costs a few
  * objects per operation, so untraced runs use it to time ops too. */
final class Clock {
  private val baseNano = System.nanoTime()
  private val baseEpoch = System.currentTimeMillis().toDouble
  def now(): Double = baseEpoch + (System.nanoTime() - baseNano) / 1e6

  val spans = mutable.ArrayBuffer[Span]()

  def span[T](name: String, parent: Int)(body: Int => T): (T, Span) = {
    val id = spans.size
    spans += Span(id, parent, name, now(), Double.NaN)
    try {
      val out = body(id)
      (out, close(id))
    } finally if (spans(id).end.isNaN) close(id)
  }

  private def close(id: Int): Span = {
    val s = spans(id).copy(end = now())
    spans(id) = s
    s
  }
}

/** Per-task facts from the listener bus (the subset the layer metrics
  * read). */
final case class TaskRec(stage: Int, launch: Double, finish: Double,
                         runMs: Double, gcMs: Double, inputBytes: Long,
                         shuffleReadBytes: Long, fetchWaitMs: Double,
                         shuffleWriteBytes: Long, spillBytes: Long,
                         outputBytes: Long)

/** Public-API listeners for the traced run: Spark jobs, stages and tasks
  * from a [[SparkListener]], Catalyst phases from the
  * [[org.apache.spark.sql.catalyst.QueryPlanningTracker]] of every
  * completed [[QueryExecution]]. Events only accumulate here; attribution
  * to operations happens after the run, by time containment (operations
  * run one at a time, so an event belongs to the op whose interval holds
  * its start). */
final class Listeners extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentLinkedQueue[(Int, Double, Seq[Int])]() // id, start, stages
  val jobEnds = new ConcurrentLinkedQueue[(Int, Double)]()    // id, end
  val stages = new ConcurrentLinkedQueue[(Int, Double, Double, Int)]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val phases = new ConcurrentLinkedQueue[(String, Double, Double)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.add((e.jobId, e.time.toDouble, e.stageIds)); ()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobEnds.add((e.jobId, e.time.toDouble)); ()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stages.add((i.stageId, s.toDouble, c.toDouble, i.numTasks))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null && i.finished) {
      tasks.add(TaskRec(e.stageId, i.launchTime.toDouble,
        i.finishTime.toDouble, m.executorRunTime.toDouble,
        m.jvmGCTime.toDouble, m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime.toDouble,
        m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled, m.outputMetrics.bytesWritten))
      ()
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit =
    qe.tracker.phases.foreach { case (name, p) =>
      phases.add((name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
    }
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  private def size = jobs.size + jobEnds.size + stages.size + tasks.size +
    phases.size

  /** Wait until the asynchronous listener bus stops delivering. */
  def settle(): Unit = {
    var prev = -1
    var cur = size
    var n = 0
    while (cur != prev && n < 50) {
      Thread.sleep(100); prev = cur; cur = size; n += 1
    }
  }
}

object Listeners {
  def install(spark: SparkSession): Listeners = {
    val l = new Listeners
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }
}

/** Attribution of listener events to the harness spans, and the
  * per-pass layer totals the traced run reports. */
final class Attribution(spans: Seq[Span], l: Listeners, cores: Int) {
  private val slackMs = 2.0
  private def within(t: Double, s: Span) =
    t >= s.start - slackMs && t <= s.end + slackMs

  private val jobEnd: Map[Int, Double] = l.jobEnds.asScala.toMap
  private val jobSeq: Seq[(Int, Double, Double, Seq[Int])] =
    l.jobs.asScala.toSeq.flatMap { case (id, st, stg) =>
      jobEnd.get(id).map(en => (id, st, en, stg))
    }
  val jobSpans: Seq[(Double, Double)] = jobSeq.map(j => (j._2, j._3))
  private val taskSeq = l.tasks.asScala.toSeq
  private val stageSeq = l.stages.asScala.toSeq
  private val phaseSeq = l.phases.asScala.toSeq

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, curA, curB = 0.0
    var open = false
    c.foreach { case (a, b) =>
      if (!open) { curA = a; curB = b; open = true }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (open) total += curB - curA
    total
  }

  /** Listener spans as a tree under the harness spans: jobs and Catalyst
    * phases under the innermost harness span holding their start, each
    * completed stage under the job that ran it. */
  def childSpans(): Seq[Span] = {
    val leaves = spans.filter(s => !spans.exists(_.parent == s.id))
    val out = mutable.ArrayBuffer[Span]()
    def add(parent: Int, name: String, a: Double, b: Double): Span = {
      val s = Span(spans.size + out.size, parent, name, a, b)
      out += s
      s
    }
    def leaf(t: Double) = leaves.find(s => within(t, s))
    val jobIds = jobSeq.flatMap { case (_, a, b, stg) =>
      leaf(a).map(p => (add(p.id, "spark.job", a, b), stg))
    }
    stageSeq.foreach { case (id, a, b, _) =>
      jobIds.find { case (j, stg) => stg.contains(id) && within(a, j) }
        .foreach { case (j, _) => add(j.id, "spark.stage", a, b) }
    }
    phaseSeq.foreach { case (n, a, b) =>
      leaf(a).foreach(p => add(p.id, s"catalyst.$n", a, b))
    }
    out.toSeq
  }

  /** Layer totals over one pass's op spans (`ops`) and their phase
    * spans (`planBuild`, the plan-construction phases). */
  def passLayers(passSpan: Span, ops: Seq[Span], planBuild: Seq[Span],
                 sourcesOps: Seq[Span]): Map[String, Double] = {
    val inPass = (t: Double) => within(t, passSpan)
    val opsOf = (t: Double) => ops.exists(s => within(t, s))
    val js = jobSpans.filter { case (a, _) => inPass(a) && opsOf(a) }
    val eager = jobSpans.filter { case (a, _) => planBuild.exists(s => within(a, s)) }
    val ts = taskSeq.filter(t => inPass(t.launch) && opsOf(t.launch))
    val ss = stageSeq.filter { case (_, a, _, _) => inPass(a) && opsOf(a) }
    val ph = phaseSeq.filter { case (_, a, _) => inPass(a) && opsOf(a) }
    val wall = ops.map(_.ms).sum
    val execMs = ops.map(o => unionMs(js, o.start, o.end)).sum
    val scan = ts.filter(_.inputBytes > 0)
    val taskRun = ts.map(_.runMs).sum
    // straggler ratio: run-time-weighted mean over stages with at least
    // `cores` tasks of (slowest task / mean task)
    val byStage = ts.groupBy(_.stage).values.filter(_.size >= cores)
    val (wSum, rSum) = byStage.foldLeft((0.0, 0.0)) { case ((w, r), g) =>
      val runs = g.map(_.runMs)
      val tot = runs.sum
      if (tot <= 0) (w, r)
      else (w + tot, r + tot * (runs.max * runs.size / tot))
    }
    def phaseMs(n: String) = ph.filter(_._1 == n).map(p => p._3 - p._2).sum
    def srcMs(n: String) = sourcesOps.filter(_.name == n).map(_.ms).sum
    def share(ms: Double) = if (wall > 0) ms / wall else 0.0
    val mb = 1e6
    val planMs = planBuild.map(_.ms).sum
    val eagerMs = planBuild.map(s => unionMs(eager, s.start, s.end)).sum
    Map(
      "operators.plan_build_ms" -> planMs,
      "operators.plan_build_share" -> share(planMs),
      "operators.eager_jobs" -> eager.size.toDouble,
      "operators.eager_job_ms" -> eagerMs,
      "operators.eager_job_share" -> share(eagerMs),
      "catalyst.analysis_ms" -> phaseMs("analysis"),
      "catalyst.optimization_ms" -> phaseMs("optimization"),
      "catalyst.planning_ms" -> phaseMs("planning"),
      "driver.gap_ms" -> (wall - execMs),
      "Tables.input_mb" -> scan.map(_.inputBytes).sum / mb,
      "Tables.scan_tasks" -> scan.size.toDouble,
      "Tables.scan_task_ms" -> scan.map(_.runMs).sum,
      "exec.ms" -> execMs,
      "exec.wall_share" -> share(execMs),
      "exec.jobs" -> js.size.toDouble,
      "exec.stages" -> ss.size.toDouble,
      "exec.tasks" -> ts.size.toDouble,
      "exec.task_run_ms" -> taskRun,
      "exec.core_util" -> (if (wall > 0) taskRun / (wall * cores) else 0.0),
      "exec.straggler_ratio" -> (if (wSum > 0) rSum / wSum else 1.0),
      "exec.shuffle_write_mb" -> ts.map(_.shuffleWriteBytes).sum / mb,
      "exec.shuffle_read_mb" -> ts.map(_.shuffleReadBytes).sum / mb,
      "exec.fetch_wait_ms" -> ts.map(_.fetchWaitMs).sum,
      "exec.spill_mb" -> ts.map(_.spillBytes).sum / mb,
      "exec.gc_ms" -> ts.map(_.gcMs).sum,
      "sources.write_shuffle_mb" -> taskSeq.filter(t =>
        sourcesOps.exists(s => s.name == "sources.ingest" && within(t.launch, s)))
        .map(_.shuffleWriteBytes).sum / mb,
      "sources.bytes_written" -> taskSeq.filter(t =>
        sourcesOps.exists(s => within(t.launch, s))).map(_.outputBytes).sum.toDouble,
      "sources.ingest_ms" -> srcMs("sources.ingest"),
      "sources.ingest_share" -> share(srcMs("sources.ingest")),
      "sources.append_ms" -> srcMs("sources.append"),
      "sources.append_share" -> share(srcMs("sources.append")),
      "sources.compact_ms" -> srcMs("sources.compact"),
      "sources.compact_share" -> share(srcMs("sources.compact")))
  }
}

object SelfTime {
  /** Layer a span's self time is billed to. */
  def layer(name: String): String =
    if (name.startsWith("spark.")) "exec"
    else if (name.startsWith("catalyst.")) "catalyst"
    else if (name == "operators.plan_build") "operators"
    else if (name.startsWith("sources.")) "sources"
    else if (name == "execute" || name.startsWith("query:")) "driver"
    else "harness"

  /** Self time (duration minus the union of its children's intervals)
    * summed per layer, over the subtree of `root`. */
  def perLayer(all: Seq[Span], root: Span, a: Attribution): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    val out = mutable.Map[String, Double]().withDefaultValue(0.0)
    def walk(s: Span): Unit = {
      val ch = kids.getOrElse(s.id, Nil).filter(_.id != s.id)
      out(layer(s.name)) += s.ms - a.unionMs(ch.map(c => (c.start, c.end)), s.start, s.end)
      ch.foreach(walk)
    }
    walk(root)
    out.toMap
  }
}
