package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.{StreamOps, UserAgg, UserEvent}

/** Event carrying its own id, for the stream-stream join test. */
final case class IdEvent(user_id: Long, ts: java.sql.Timestamp,
                         event_id: Long, value: Double)

/** Document row for the streaming near-dup ingestion test (matches the
  * harness documents schema). */
final case class StreamDoc(doc_id: Long, text: String, lang: String,
                           source: String, n_chars: Long)

/** StreamOps (SURVEY.md §2.7): the same transform function must produce
  * identical results on a batch DataFrame and on a stream of the same rows —
  * that unification is the whole point of Structured Streaming.
  *
  * The suite is provider-parameterized (VERDICT r11 #5): state-format
  * bugs are backend-specific, so the WHOLE stateful family — interval
  * joins incl. full-outer, sessionization, monitors, watermarked dedup,
  * CDC — runs once under the default HDFS-backed store
  * ([[StreamOpsSpec]]) and once under RocksDB
  * ([[StreamOpsRocksDbSpec]]), the provider a 100 TB session store
  * actually deploys. Two tests additionally pin RocksDB per-query
  * regardless of suite (transformWithState is RocksDB-only); their
  * set/restore nests correctly inside the suite-level override.
  */
abstract class StreamOpsSuiteBase extends SparkTestBase
    with org.scalatest.BeforeAndAfterAll {
  import spark.implicits._

  /** None = Spark's default HDFSBackedStateStoreProvider. */
  protected def providerClass: Option[String]

  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private var savedProvider: Option[String] = None

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    savedProvider = spark.conf.getOption(providerKey)
    providerClass match {
      case Some(p) => spark.conf.set(providerKey, p)
      case None => spark.conf.unset(providerKey)
    }
  }

  override protected def afterAll(): Unit = {
    savedProvider match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
    super.afterAll()
  }

  private def ts(h: Int, m: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")

  private val sample = Seq(
    UserEvent(1L, ts(0, 5), "click", 1.0),
    UserEvent(1L, ts(0, 45), "click", 2.0),
    UserEvent(2L, ts(0, 10), "view", 0.5),
    UserEvent(1L, ts(1, 20), "click", 4.0),
    UserEvent(2L, ts(2, 0), "view", 1.5))

  test("hourlyCounts: stream over MemoryStream equals batch on same rows") {
    val batch = StreamOps.hourlyCounts(sample.toDF())
      .orderBy("hour_start", "event_type").collect().toSeq

    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    mem.addData(sample: _*)
    val q = StreamOps.hourlyCounts(mem.toDF())
      .writeStream.format("memory").queryName("hourly_sink")
      .outputMode(OutputMode.Complete()).start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("hourly_sink")
      .orderBy("hour_start", "event_type").collect().toSeq
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("stream-static enrichment join equals batch and broadcasts the dim") {
    import org.apache.spark.sql.functions.col
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "segment")

    val batchDf = StreamOps.enrichedTypeTotals(sample.toDF(), dim)
    val batch = batchDf.orderBy("hour_start", "segment").collect().toSeq

    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    mem.addData(sample: _*)
    val q = StreamOps.enrichedTypeTotals(mem.toDF(), dim)
      .writeStream.format("memory").queryName("enriched_sink")
      .outputMode(OutputMode.Complete()).start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("enriched_sink")
      .orderBy("hour_start", "segment").collect().toSeq
    assert(streamed == batch)
    assert(batch.nonEmpty)
    assert(batch.exists(_.getAs[String]("segment") == "gold"))

    // the stream side must never shuffle for the join: dim broadcasts
    val plan = batchDf.queryExecution.executedPlan
    val hasBroadcast = plan.toString.contains("BroadcastHashJoin")
    assert(hasBroadcast, s"dimension join did not broadcast:\n$plan")
  }

  test("runningUserTotals: state accumulates across triggers") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    val q = StreamOps.runningUserTotals(mem.toDS())
      .writeStream.format("memory").queryName("totals_sink")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(sample.take(3): _*)
      q.processAllAvailable()
      mem.addData(sample.drop(3): _*)
      q.processAllAvailable()
    } finally q.stop()

    // Update mode emits one row per key per trigger; final state = max n.
    val finals = spark.table("totals_sink").as[UserAgg].collect()
      .groupBy(_.user_id).map { case (k, v) => k -> v.maxBy(_.n_events) }
    assert(finals(1L).n_events == 3 && math.abs(finals(1L).total_value - 7.0) < 1e-9)
    assert(finals(2L).n_events == 2 && math.abs(finals(2L).total_value - 2.0) < 1e-9)
  }

  test("transformWithState twin: running totals on the modern stateful " +
    "API equal the mapGroupsWithState form across triggers") {
    // transformWithState (Spark 4's arbitrary-stateful successor) is
    // RocksDB-only — set the provider for the query, restore after
    implicit val ctx = spark.sqlContext
    withConf(providerKey ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val mem = MemoryStream[UserEvent]
      val q = StreamOps.runningUserTotalsTws(mem.toDS())
        .writeStream.format("memory").queryName("tws_totals_sink")
        .outputMode(OutputMode.Update()).start()
      try {
        mem.addData(sample.take(3): _*)
        q.processAllAvailable()
        mem.addData(sample.drop(3): _*)
        q.processAllAvailable()
      } finally q.stop()
      val finals = spark.table("tws_totals_sink").as[UserAgg].collect()
        .groupBy(_.user_id).map { case (k, v) => k -> v.maxBy(_.n_events) }
      // identical to the mapGroupsWithState test's expectations — the
      // two stateful APIs must agree row for row on the same input
      assert(finals(1L).n_events == 3 &&
        math.abs(finals(1L).total_value - 7.0) < 1e-9)
      assert(finals(2L).n_events == 2 &&
        math.abs(finals(2L).total_value - 2.0) < 1e-9)
    }
  }

  test("file-source stream: hourlyCounts over readStream(events) equals batch") {
    val batch = StreamOps.hourlyCounts(Tables.events(spark, sfDir))
      .orderBy("hour_start", "event_type").collect().toSeq
    val q = StreamOps.hourlyCounts(StreamOps.eventsFileStream(spark, sfDir))
      .writeStream.format("memory").queryName("file_hourly_sink")
      .outputMode(OutputMode.Complete()).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("file_hourly_sink")
      .orderBy("hour_start", "event_type").collect().toSeq
    assert(streamed == batch && batch.nonEmpty)
  }

  test("Trigger.AvailableNow backfill: catches up on the file source, then stops") {
    // the production catch-up pattern: process everything that exists,
    // commit, terminate — a cron-schedulable incremental job with
    // streaming-checkpoint exactly-once semantics (vs processAllAvailable,
    // which is a test-only blocking call on a query that keeps running)
    val batch = StreamOps.hourlyCounts(Tables.events(spark, sfDir))
      .orderBy("hour_start", "event_type").collect().toSeq
    val q = StreamOps.hourlyCounts(StreamOps.eventsFileStream(spark, sfDir))
      .writeStream.format("memory").queryName("backfill_sink")
      .outputMode(OutputMode.Complete())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // AvailableNow must terminate BY ITSELF once the backlog is drained
    assert(q.awaitTermination(120000),
      "AvailableNow query did not self-terminate after draining the source")
    val streamed = spark.table("backfill_sink")
      .orderBy("hour_start", "event_type").collect().toSeq
    assert(streamed == batch && batch.nonEmpty)
  }

  test("sessionFlush: an in-batch gap splits sessions and emits the closed one") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    val q = StreamOps.sessionFlush(mem.toDS(), gapSeconds = 1800L)
      .writeStream.format("memory").queryName("flush_split_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      // one batch: events at 00:05, 00:10, then 05:00 — a 4h50m gap
      mem.addData(
        UserEvent(1L, ts(0, 5), "click", 0.0),
        UserEvent(1L, ts(0, 10), "click", 0.0),
        UserEvent(1L, ts(5, 0), "click", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("flush_split_sink").collect()
    assert(rows.length == 1) // first session closed immediately by the gap
    assert(rows(0).getLong(3) == 2L) // it held the two 00:0x events
  }

  test("sessionFlush: a session emits only after its event-time timeout fires") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    val q = StreamOps.sessionFlush(mem.toDS(), gapSeconds = 1800L)
      .writeStream.format("memory").queryName("flush_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      // two events 20 min apart — inside the 30-min gap, one open session
      mem.addData(UserEvent(1L, ts(0, 5), "click", 1.0),
        UserEvent(1L, ts(0, 25), "click", 2.0))
      q.processAllAvailable()
      assert(spark.table("flush_sink").count() == 0) // session still open
      // a much later event advances the watermark past 00:45 + 30min gap
      mem.addData(UserEvent(9L, ts(12, 0), "click", 0.0))
      q.processAllAvailable()
      mem.addData(UserEvent(9L, ts(13, 0), "click", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    import org.apache.spark.sql.functions.col
    val flushed = spark.table("flush_sink").filter(col("user_id") === 1L)
      .collect()
    assert(flushed.length == 1)
    assert(flushed(0).getLong(3) == 2L) // both events in one session
  }

  test("sessionFlush under the RocksDB state-store provider emits the " +
    "same sessions (pins the at-scale state backend)") {
    // The default HDFS-backed store keeps every key in executor heap —
    // fine for tests, not for a 100 TB session store. RocksDBStateStore
    // (bundled with Spark, no extra dep) spills state off-heap/on-disk;
    // this twin asserts the SAME stateful semantics under it, and that
    // the provider really loaded (rocksdb* custom metrics in progress —
    // a typo'd providerClass would silently run the default).
    implicit val ctx = spark.sqlContext
    withConf(providerKey ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val mem = MemoryStream[UserEvent]
      val q = StreamOps.sessionFlush(mem.toDS(), gapSeconds = 1800L)
        .writeStream.format("memory").queryName("rocksdb_flush_sink")
        .outputMode(OutputMode.Append()).start()
      try {
        mem.addData(
          UserEvent(1L, ts(0, 5), "click", 1.0),
          UserEvent(1L, ts(0, 10), "click", 2.0),
          UserEvent(1L, ts(5, 0), "click", 0.0))
        q.processAllAvailable()
        val ops = q.lastProgress.stateOperators
        assert(ops.nonEmpty)
        val metricKeys = ops.flatMap(_.customMetrics.keySet.toArray).map(_.toString)
        assert(metricKeys.exists(_.toLowerCase.contains("rocksdb")),
          s"no rocksdb state metrics in progress (got ${metricKeys.take(5)
            .mkString(", ")}) — provider did not take effect")
      } finally q.stop()
      val rows = spark.table("rocksdb_flush_sink").collect()
      assert(rows.length == 1) // in-batch gap closes the first session
      assert(rows(0).getLong(3) == 2L) // holding the two 00:0x events
    }
  }

  test("foreachBatch parquet sink lands micro-batches readable as a batch table") {
    implicit val ctx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val mem = MemoryStream[UserEvent]
    val q = StreamOps.parquetBatchSink(
      mem.toDF(), s"$tmp/out", s"$tmp/ckpt")
    try {
      mem.addData(sample.take(3): _*)
      q.processAllAvailable()
      mem.addData(sample.drop(3): _*)
      q.processAllAvailable()
    } finally q.stop()
    val landed = spark.read.parquet(s"$tmp/out")
    assert(landed.count() == sample.size)
    assert(landed.columns.sorted.sameElements(
      Array("batch_id", "event_type", "ts", "user_id", "value")))
    // two processAllAvailable rounds -> the two adds landed as distinct
    // provenance partitions
    assert(landed.select("batch_id").distinct().count() == 2)
  }

  test("restart from checkpoint: source offsets and dedup state survive " +
      "a stop/start") {
    // The property a production pipeline actually depends on: kill the
    // job, start a NEW query on the same checkpoint, and (a) already-
    // processed input is not re-processed, (b) stateful-operator state is
    // restored — a re-delivered duplicate of a PRE-restart event is still
    // dropped. MemoryStream cannot restart (offsets are per-instance), so
    // this drives the real file source.
    val tmp = java.nio.file.Files.createTempDirectory("graft_restart").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    val phase1 = Seq(IdEvent(1L, ts(0, 5), 100L, 1.0),
      IdEvent(2L, ts(0, 6), 101L, 2.0))
    phase1.toDF().coalesce(1).write.mode("append").parquet(in)
    def start() = StreamOps.parquetBatchSink(
      StreamOps.dedupEvents(
        spark.readStream.schema(phase1.toDF().schema).parquet(in)),
      out, ckpt)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // phase 2: a re-delivery of event 100 (within the watermark of the
    // phase-1 maximum) plus a genuinely new event — in ONE file, so the
    // dedup decision can only come from RESTORED state, not in-batch state
    val phase2 = Seq(IdEvent(1L, ts(0, 7), 100L, 1.0),
      IdEvent(3L, ts(0, 8), 102L, 3.0))
    phase2.toDF().coalesce(1).write.mode("append").parquet(in)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val ids = spark.read.parquet(out).select("event_id")
      .as[Long].collect().sorted.toSeq
    assert(ids == Seq(100L, 101L, 102L),
      s"expected pre-restart dedup state to drop the re-delivered 100; got $ids")
  }

  test("forced batch replay (crash between sink write and checkpoint " +
      "commit) lands zero duplicates") {
    // Exactly-once END-TO-END: simulate the crash window by deleting the
    // newest commits/<n> marker after a clean stop — on restart the engine
    // re-runs that batch from its recorded offsets, and the batch_id-
    // partitioned dynamic-overwrite sink must OVERWRITE, not append.
    val tmp = java.nio.file.Files.createTempDirectory("graft_replay").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    val rows1 = Seq(IdEvent(1L, ts(0, 5), 200L, 1.0))
    val rows2 = Seq(IdEvent(2L, ts(0, 6), 201L, 2.0),
      IdEvent(3L, ts(0, 7), 202L, 3.0))
    rows1.toDF().coalesce(1).write.mode("append").parquet(in)
    def start() = StreamOps.parquetBatchSink(
      spark.readStream.schema(rows1.toDF().schema).parquet(in), out, ckpt)
    val q1 = start()
    try {
      q1.processAllAvailable()
      rows2.toDF().coalesce(1).write.mode("append").parquet(in)
      q1.processAllAvailable()
    } finally q1.stop()
    // surgically un-commit the newest batch: offsets/<n> stays, so the
    // restart reconstructs and re-executes exactly that batch
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(f => f.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.length >= 2, "expected at least two committed batches")
    // also drop the checksum sidecar the local FS writes next to the
    // marker — a stale .crc makes the re-commit rename fail
    val crc = new java.io.File(commits.last.getParentFile,
      s".${commits.last.getName}.crc")
    assert(commits.last.delete())
    if (crc.exists) assert(crc.delete())
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val landed = spark.read.parquet(out)
    val ids = landed.select("event_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(200L, 201L, 202L),
      s"replayed batch duplicated rows: $ids")
    // the replayed batch overwrote its own partition — one batch_id per row
    import org.apache.spark.sql.functions.col
    assert(landed.groupBy("event_id").count()
      .filter(col("count") > 1).isEmpty)
  }

  test("stream-stream interval join matches the batch join on the same rows") {
    val views = Seq(
      IdEvent(1L, ts(1, 0), 100L, 0.0),
      IdEvent(1L, ts(1, 30), 101L, 0.0),
      IdEvent(2L, ts(2, 0), 102L, 0.0))
    val buys = Seq(
      IdEvent(1L, ts(1, 45), 200L, 9.0), // joins both views of user 1
      IdEvent(2L, ts(4, 0), 201L, 5.0))  // >1h after user 2's view

    val batch = StreamOps.viewPurchaseJoin(views.toDF(), buys.toDF())
      .orderBy("purchase_id", "view_id").collect().toSeq

    implicit val ctx = spark.sqlContext
    val vMem = MemoryStream[IdEvent]
    val bMem = MemoryStream[IdEvent]
    val q = StreamOps.viewPurchaseJoin(vMem.toDF(), bMem.toDF())
      .writeStream.format("memory").queryName("ssj_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      vMem.addData(views: _*)
      bMem.addData(buys: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ssj_sink").orderBy("purchase_id", "view_id")
      .collect().toSeq
    assert(streamed == batch)
    assert(batch.length == 2) // user 1's purchase x 2 views; user 2 out of window
  }

  test("left-outer stream-stream join: unmatched purchase held until the " +
    "watermark closes its window, then emitted with a null view side") {
    val views = Seq(IdEvent(1L, ts(1, 0), 100L, 0.0))
    val buys = Seq(
      IdEvent(1L, ts(1, 30), 200L, 9.0), // matches user 1's view
      IdEvent(2L, ts(1, 20), 201L, 5.0)) // no view for user 2 — outer row

    implicit val ctx = spark.sqlContext
    val vMem = MemoryStream[IdEvent]
    val bMem = MemoryStream[IdEvent]
    val q = StreamOps.viewPurchaseJoinOuter(vMem.toDF(), bMem.toDF())
      .writeStream.format("memory").queryName("ssoj_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      vMem.addData(views: _*)
      bMem.addData(buys: _*)
      q.processAllAvailable()
      // phase 1: only the matched row is out — the unmatched purchase
      // could still gain a view, so it must be parked in state
      val phase1 = spark.table("ssoj_sink").collect()
      assert(phase1.map(_.getLong(1)).toSet == Set(200L),
        s"premature outer emission: ${phase1.mkString(",")}")
      // advance the GLOBAL watermark (min of both streams) past purchase
      // 201's window end (p_ts + 10 min delay): sentinels at 4:00 push
      // the watermark to 3:50 on both sides
      vMem.addData(IdEvent(9L, ts(4, 0), 900L, 0.0))
      bMem.addData(IdEvent(9L, ts(4, 0), 901L, 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("ssoj_sink")
      .filter(org.apache.spark.sql.functions.col("purchase_id") =!= 901L)
      // (901 is the watermark sentinel, not under test)
      .collect()
    val outer = rows.filter(_.getLong(1) == 201L)
    assert(outer.length == 1, s"outer row missing: ${rows.mkString(",")}")
    assert(outer.head.isNullAt(2), "unmatched purchase must carry null view_id")
    // and it matches the batch left join on the same input
    val batch = StreamOps.viewPurchaseJoinOuter(views.toDF(), buys.toDF())
      .orderBy("purchase_id").collect().toSeq
    assert(rows.sortBy(_.getLong(1)).toSeq == batch)
  }

  test("full-outer stream-stream join: unmatched rows on BOTH sides " +
    "held until the watermark closes their windows, then null-emitted") {
    val views = Seq(
      IdEvent(1L, ts(1, 0), 100L, 0.0), // matches purchase 200
      IdEvent(3L, ts(1, 10), 102L, 0.0)) // no purchase for user 3 — outer
    val buys = Seq(
      IdEvent(1L, ts(1, 30), 200L, 9.0), // matches user 1's view
      IdEvent(2L, ts(1, 20), 201L, 5.0)) // no view for user 2 — outer

    implicit val ctx = spark.sqlContext
    val vMem = MemoryStream[IdEvent]
    val bMem = MemoryStream[IdEvent]
    val q = StreamOps.viewPurchaseJoinFull(vMem.toDF(), bMem.toDF())
      .writeStream.format("memory").queryName("ssfj_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      vMem.addData(views: _*)
      bMem.addData(buys: _*)
      q.processAllAvailable()
      // phase 1: only the matched pair is out — BOTH unmatched rows
      // could still gain a partner, so both must be parked in state
      val phase1 = spark.table("ssfj_sink").collect()
      assert(phase1.length == 1 && phase1.head.getLong(0) == 1L,
        s"premature outer emission: ${phase1.mkString(",")}")
      // sentinels at 4:00 on both sides push the GLOBAL watermark to
      // 3:50, past both unmatched windows' ends
      vMem.addData(IdEvent(9L, ts(4, 0), 900L, 0.0))
      bMem.addData(IdEvent(9L, ts(4, 0), 901L, 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("ssfj_sink")
      .filter(org.apache.spark.sql.functions.col("user_id") =!= 9L)
      .collect()
    assert(rows.length == 3, s"expected 3 rows: ${rows.mkString(",")}")
    val noView = rows.filter(r => !r.isNullAt(1) && r.getLong(1) == 201L)
    assert(noView.length == 1 && noView.head.isNullAt(2),
      "unmatched purchase must emit with null view_id")
    val noBuy = rows.filter(r => !r.isNullAt(2) && r.getLong(2) == 102L &&
      r.isNullAt(1))
    assert(noBuy.length == 1 && noBuy.head.isNullAt(3),
      "unmatched view must emit with null purchase side")
    // and the streamed rows match the batch full join on the same input
    val batch = StreamOps.viewPurchaseJoinFull(views.toDF(), buys.toDF())
      .collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))
    assert(rows.map(key).sorted.toSeq == batch.map(key).sorted.toSeq)
  }

  test("dedupEvents: re-delivered events within the watermark are dropped") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    // UserEvent has no event_id; reuse user_id as the dedup key via rename
    val q = StreamOps.dedupEvents(
        mem.toDF().withColumnRenamed("user_id", "event_id"))
      .writeStream.format("memory").queryName("dedup_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(sample.take(2): _*) // user 1 twice -> one survivor
      q.processAllAvailable()
      mem.addData(sample.take(1): _*) // re-delivery of user 1, same batch window
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup_sink").select("event_id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(1L))
  }

  test("sessionWindows: batch sessions on events parquet; stream emits sessions") {
    val batchSessions = StreamOps.sessionWindows(Tables.events(spark, sfDir))
    val n = batchSessions.count()
    assert(n > 0)
    assert(batchSessions.columns.toSeq ==
      Seq("user_id", "session_start", "session_end", "n_events"))

    // Streaming session_window requires Append mode: sessions emit only
    // once the watermark passes their end, so advance it with a late batch.
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    val q = StreamOps.sessionWindows(mem.toDF())
      .writeStream.format("memory").queryName("session_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(sample: _*)
      q.processAllAvailable()
      mem.addData(UserEvent(9L, ts(23, 0), "click", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("session_sink").count() > 0)
  }

  test("changelogCensus: streamed CDC delta reconciles the base census to the head") {
    import org.apache.spark.sql.functions._
    import graft.sources.SnapshotLake
    val root = java.nio.file.Files.createTempDirectory("cdcstream")
      .toString + "/t"
    def mk(rows: (Long, String, Long)*) =
      rows.toDF("id", "kind", "v").repartition(2)
    SnapshotLake.create(mk((1L, "a", 10L), (2L, "b", 20L)), root)     // v1
    SnapshotLake.append(spark, mk((3L, "a", 30L), (4L, "c", 40L)), root) // v2
    SnapshotLake.deleteWhereMor(spark, root, col("id") === 1L)        // v3
    SnapshotLake.deleteWhereMorEq(spark, root, Seq("a").toDF("kind")) // v4
    // the changelog lands as files — exactly how a downstream consumer
    // would receive it — and streams from there
    val chDir = root + "-changes"
    SnapshotLake.changes(spark, root, 1, 4).write.parquet(chDir)
    val schema = spark.read.parquet(chDir).schema
    val stream = spark.readStream.schema(schema).parquet(chDir)
    val q = StreamOps.changelogCensus(stream, "kind", "v")
      .writeStream.format("memory").queryName("cdc_census")
      .outputMode(OutputMode.Complete()).start()
    try q.processAllAvailable() finally q.stop()
    val delta = spark.table("cdc_census").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val base = SnapshotLake.readAt(spark, root, 1).groupBy("kind")
      .agg(count(lit(1)), sum("v")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val head = SnapshotLake.read(spark, root).groupBy("kind")
      .agg(count(lit(1)), sum("v")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val kinds = base.keySet ++ delta.keySet
    val reconciled = kinds.map { k =>
      val (bn, bv) = base.getOrElse(k, (0L, 0L))
      val (dn, dv) = delta.getOrElse(k, (0L, 0L))
      k -> (bn + dn, bv + dv)
    }.filter(_._2._1 > 0).toMap
    assert(reconciled == head,
      s"base ⊕ streamed delta = $reconciled, head census = $head")
    // and the stream really carried only changed rows (3 commits' worth)
    assert(spark.read.parquet(chDir).count() == 4) // 2 inserts + 2 deletes
  }

  test("streaming near-dup ingestion dedups against the lake AND earlier micro-batches") {
    val db = "graft_stream_lake"
    graft.sources.AppendJob.reset(spark, db)
    // seed the lake with the even-doc_id half of the fixture
    val seedDocs = Tables.documents(spark, sfDir)
      .filter(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.lit(2)) === 0)
    graft.sources.AppendJob.seed(spark, seedDocs, db)
    val seedN = spark.table(s"$db.docs_corpus").count()

    // batch 1: two exact copies of seeded docs (near-dups → drop) + two
    // novel docs whose vocabulary shares no shingle with the corpus
    val seeded = seedDocs.orderBy("doc_id").limit(2).collect()
    val dupDocs = seeded.zipWithIndex.map { case (r, i) =>
      StreamDoc(900000L + i, r.getAs[String]("text"), r.getAs[String]("lang"),
        r.getAs[String]("source"), r.getAs[Long]("n_chars"))
    }
    def novelText(tag: String) =
      (1 to 20).map(i => s"qq${tag}tok$i").mkString(" ")
    val novelDocs = Seq(
      StreamDoc(910000L, novelText("a"), "en", "srcX", 100L),
      StreamDoc(910001L, novelText("b"), "en", "srcX", 100L))

    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[StreamDoc]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_stream_ckpt").toString
    val q = StreamOps.nearDupAppendSink(mem.toDF(), db, ckpt)
    try {
      mem.addData(dupDocs.toSeq ++ novelDocs: _*)
      q.processAllAvailable()
      val afterB1 = spark.table(s"$db.docs_corpus").count()
      assert(afterB1 == seedN + 2,
        s"batch 1 must land only the 2 novel docs: $seedN -> $afterB1")

      // batch 2: near-copies of batch 1's novel docs under NEW ids — they
      // must be caught by the index rows batch 1 appended
      val echo = Seq(
        StreamDoc(920000L, novelText("a"), "en", "srcY", 100L),
        StreamDoc(920001L, novelText("b"), "en", "srcY", 100L))
      mem.addData(echo: _*)
      q.processAllAvailable()
      val afterB2 = spark.table(s"$db.docs_corpus").count()
      assert(afterB2 == afterB1,
        s"batch 2 echoes must dedup against batch 1's index rows: " +
          s"$afterB1 -> $afterB2")
    } finally q.stop()
    graft.sources.AppendJob.reset(spark, db)
  }

  test("composed restart: nearDupAppendSink stop/start keeps offsets, " +
      "batch-1 index rows dedup post-restart echoes, forced replay is " +
      "idempotent, and the IVM summary equals a fresh aggregate") {
    // The three restart properties proven SEPARATELY elsewhere, composed
    // through one pipeline (VERDICT r12 #6): checkpoint offsets survive a
    // stop/start, the near-dup index appended by a PRE-restart batch
    // still dedups post-restart echoes, a forced batch replay (crash in
    // the sink-write/checkpoint-commit window) lands zero duplicate
    // corpus rows BECAUSE the probe catches the batch's own echo, and
    // the incremental docs_summary stays equal to a fresh aggregate of
    // the corpus through all of it. MemoryStream cannot restart; drives
    // the file source.
    import org.apache.spark.sql.functions.{col, count, lit, size, split, sum}
    val db = "graft_stream_restart"
    graft.sources.AppendJob.reset(spark, db)
    val seedDocs = Tables.documents(spark, sfDir)
      .filter(org.apache.spark.sql.functions.pmod(col("doc_id"),
        lit(2)) === 0)
    graft.sources.AppendJob.seed(spark, seedDocs, db)
    graft.sources.AppendJob.ensureSummary(spark, db)
    val seedN = spark.table(s"$db.docs_corpus").count()

    def novelText(tag: String) =
      (1 to 20).map(i => s"rr${tag}tok$i").mkString(" ")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_nd_restart").toString
    val in = s"$tmp/in"; val ckpt = s"$tmp/ckpt"
    val batch1 = Seq(
      StreamDoc(930000L, novelText("a"), "en", "srcR", 100L),
      StreamDoc(930001L, novelText("b"), "en", "srcR", 100L))
    batch1.toDF().coalesce(1).write.mode("append").parquet(in)
    def start() = StreamOps.nearDupAppendSink(
      spark.readStream.schema(batch1.toDF().schema).parquet(in), db, ckpt)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.table(s"$db.docs_corpus").count() == seedN + 2)

    // while the query is DOWN: echoes of batch 1's novels under new ids
    // (must be caught by the index rows batch 1 appended, i.e. by
    // RESTORED lake state, not in-flight query state) + one new novel
    val batch2 = Seq(
      StreamDoc(940000L, novelText("a"), "en", "srcS", 100L),
      StreamDoc(940001L, novelText("b"), "en", "srcS", 100L),
      StreamDoc(940002L, novelText("c"), "en", "srcS", 100L))
    batch2.toDF().coalesce(1).write.mode("append").parquet(in)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val afterB2 = spark.table(s"$db.docs_corpus").count()
    assert(afterB2 == seedN + 3,
      s"restart must skip processed input and dedup the two echoes: " +
        s"expected ${seedN + 3}, got $afterB2")

    // forced replay of the newest batch (surgically un-commit it): the
    // re-run appendBatch sees its own rows in the index -> appends zero
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(f => f.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty, "expected at least one committed batch")
    val crc = new java.io.File(commits.last.getParentFile,
      s".${commits.last.getName}.crc")
    assert(commits.last.delete())
    if (crc.exists) assert(crc.delete())
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()
    val corpus = spark.table(s"$db.docs_corpus")
    assert(corpus.count() == seedN + 3,
      "forced replay must not duplicate corpus rows")
    assert(corpus.groupBy("doc_id").count()
      .filter(col("count") > 1).isEmpty, "duplicate doc_ids after replay")

    // the maintained IVM summary == a fresh aggregate of the corpus
    def census(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[String]("source"),
        r.getAs[String]("lang")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))).toMap
    val fresh = census(corpus.groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens")))
    val ivm = census(spark.table(s"$db.docs_summary"))
    assert(ivm == fresh,
      s"IVM summary diverged from fresh aggregate:\n ivm=$ivm\n fresh=$fresh")
    graft.sources.AppendJob.reset(spark, db)
  }

  test("drift monitor: chained stateful aggs emit per-window PSI on close") {
    // reference = window 0's distribution (3 clicks, 1 view). Window 0
    // replays it exactly -> every psi_term 0 (smoothed shares equal).
    // Window 1 is all views -> click underrepresented, view over, both
    // terms strictly positive. Window 2's late event just advances the
    // watermark past window 1.
    val ref = Map("click" -> 3L, "view" -> 1L)
    val rows = Seq(
      UserEvent(1L, ts(0, 5), "click", 1.0),
      UserEvent(1L, ts(0, 15), "click", 1.0),
      UserEvent(2L, ts(0, 25), "click", 1.0),
      UserEvent(2L, ts(0, 35), "view", 1.0),
      UserEvent(1L, ts(1, 10), "view", 1.0),
      UserEvent(2L, ts(1, 20), "view", 1.0),
      UserEvent(1L, ts(3, 0), "click", 1.0)) // watermark pusher
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    val q = StreamOps.driftMonitor(mem.toDF(), ref)
      .writeStream.format("memory").queryName("drift_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      // append mode: emit only after the watermark closes a window; the
      // pusher event landed with the same batch, so windows 0 and 1 are
      // closed once a second (empty) batch lets the watermark advance
      mem.addData(UserEvent(9L, ts(4, 0), "click", 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("drift_sink")
      .collect().map(r => (r.getTimestamp(0).getHours, r.getString(1),
        r.getLong(2), r.getDouble(5))).toSeq
    val w0 = out.filter(_._1 == 0)
    assert(w0.map(t => t._2 -> t._3).toMap == Map("click" -> 3L, "view" -> 1L))
    w0.foreach(t => assert(t._4 == 0.0d,
      s"window 0 replays the reference, psi must be 0: $t"))
    val w1 = out.filter(_._1 == 1)
    assert(w1.map(t => t._2 -> t._3).toMap == Map("view" -> 2L))
    w1.foreach(t => assert(t._4 > 0.0d, s"drifted window must score: $t"))
  }

  test("holtWintersMonitor: stream emits the batch 9-slot fold " +
    "bit-identically, negative trend included") {
    implicit val ctx = spark.sqlContext
    def dts(day: Int, h: Int) =
      Timestamp.valueOf(f"2026-03-$day%02d $h%02d:00:00")
    def burst(day: Int, n: Int) =
      (1 to n).map(i => UserEvent(i.toLong, dts(day, 1), "a", 0.0))
    val mem = MemoryStream[UserEvent]
    val q = StreamOps.holtWintersMonitor(mem.toDS())
      .writeStream.format("memory").queryName("hw_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      // falling series 8 -> 12 -> 6 (the InferenceSpec hand recurrence:
      // day 3 has negative trend and seasonal)
      mem.addData(burst(1, 8): _*)
      q.processAllAvailable()
      mem.addData(burst(2, 12): _*)
      q.processAllAvailable()
      mem.addData(burst(3, 6): _*)
      q.processAllAvailable()
      mem.addData(UserEvent(99L, dts(28, 0), "z", 0.0))
      q.processAllAvailable()
      mem.addData(UserEvent(99L, dts(28, 1), "z", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("hw_sink")
      .filter($"event_type" === "a").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))).sortBy(_._1)
    assert(got.toSeq == Seq(
      ("2026-03-01", 8L, 8.0, 0.0, 0.0, 8.0),
      ("2026-03-02", 12L, 10.0, 1.0, 1.0, 11.0),
      ("2026-03-03", 6L, 8.5, -0.25, -1.25, 8.25)), s"got ${got.toSeq}")
    // bit-identical to the BATCH fold over the same rows
    val batchRows = burst(1, 8) ++ burst(2, 12) ++ burst(3, 6)
    val batch = graft.operators.Inference.holtWintersOn(
      batchRows.toDF()
        .select($"event_type",
          org.apache.spark.sql.functions.to_date($"ts").as("day"))
        .groupBy("event_type", "day").count().withColumnRenamed("count", "x"))
      .collect()
      .map(r => (r.getDate(1).toString, r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
      .sortBy(_._1)
    assert(got.toSeq == batch.toSeq, "stream and batch folds diverged")
  }

  test("ewmaMonitor: stream emits the batch dyadic fold bit-identically " +
    "as days close") {
    implicit val ctx = spark.sqlContext
    def dts(day: Int, h: Int) =
      Timestamp.valueOf(f"2026-02-$day%02d $h%02d:00:00")
    def burst(day: Int, n: Int) =
      (1 to n).map(i => UserEvent(i.toLong, dts(day, 1), "a", 0.0))
    val mem = MemoryStream[UserEvent]
    val q = StreamOps.ewmaMonitor(mem.toDS())
      .writeStream.format("memory").queryName("ewma_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      // day 1: 10 events; day 2's arrival advances the watermark past
      // day 1's end and closes it
      mem.addData(burst(1, 10): _*)
      q.processAllAvailable()
      mem.addData(burst(2, 20): _*)
      q.processAllAvailable()
      mem.addData(burst(3, 40): _*)
      q.processAllAvailable()
      // sentinel far in the future closes day 3 via the event-time
      // timeout (different type — the 'a' fold must not see it)
      mem.addData(UserEvent(99L, dts(28, 0), "z", 0.0))
      q.processAllAvailable()
      mem.addData(UserEvent(99L, dts(28, 1), "z", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ewma_sink")
      .filter($"event_type" === "a").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getDouble(3))).sortBy(_._1)
    // the planted dyadic fold: 10 -> 15 -> 27.5 (InferenceSpec's values)
    assert(got.toSeq == Seq(
      ("2026-02-01", 10L, 10.0), ("2026-02-02", 20L, 15.0),
      ("2026-02-03", 40L, 27.5)), s"got ${got.toSeq}")
    // and bit-identical to the BATCH fold over the same rows
    val batchRows = burst(1, 10) ++ burst(2, 20) ++ burst(3, 40)
    val batch = graft.operators.Inference.ewmaOn(
      batchRows.toDF()
        .select($"event_type",
          org.apache.spark.sql.functions.to_date($"ts").as("day"))
        .groupBy("event_type", "day").count().withColumnRenamed("count", "x"))
      .collect()
      .map(r => (r.getDate(1).toString, r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(got.toSeq == batch.toSeq, "stream and batch folds diverged")
  }

  test("calibration monitor: value-threshold bins, exact per-window " +
    "rates, gap against the shipped expected map") {
    implicit val ctx = spark.sqlContext
    // boundaries [10, 20] -> bins: <=10 -> 1, <=20 -> 2, >20 -> 3;
    // expected rates: bin1 0.0, bin2 0.5, bin3 1.0
    val bounds = Seq(10L, 20L)
    val expected = Map(1 -> 0.0, 2 -> 0.5, 3 -> 1.0)
    val mem = MemoryStream[(Timestamp, Long, Long)]
    val q = StreamOps.calibrationMonitor(
        mem.toDF().toDF("ts", "margin", "y"), bounds, expected)
      .writeStream.format("memory").queryName("cal_sink")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .start()
    try {
      // hour 0: bin1 {y=-1}, bin2 {y=1, y=-1} (rate .5 -> gap 0),
      // bin3 {y=-1} (rate 0 vs expected 1 -> gap 1)
      mem.addData(
        (ts(0, 5), 5L, -1L), (ts(0, 10), 15L, 1L), (ts(0, 15), 20L, -1L),
        (ts(0, 20), 25L, -1L))
      q.processAllAvailable()
      mem.addData((ts(3, 0), 5L, 1L)) // watermark pusher
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("cal_sink").collect()
      .filter(_.getTimestamp(0).getHours == 0)
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).sortBy(_._1)
    assert(out.toSeq == Seq(
      (1, 1L, 0L, 0.0, 0.0),
      (2, 2L, 1L, 0.5, 0.0),
      (3, 1L, 0L, 0.0, 1.0)), s"got ${out.toSeq}")
  }
}

/** The default-provider run of the §2.7 family. */
class StreamOpsSpec extends StreamOpsSuiteBase {
  override protected def providerClass: Option[String] = None
}

/** The same family under RocksDB — the provider matrix leg. The suite
  * asserts the provider actually loaded by checking a started stateful
  * query's lastProgress state-store custom metrics (RocksDB reports
  * rocksdb* keys the HDFS store doesn't). */
class StreamOpsRocksDbSpec extends StreamOpsSuiteBase {
  override protected def providerClass: Option[String] =
    Some("org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider")
}
