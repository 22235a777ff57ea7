package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Typed event for the stateful operators. */
final case class UserEvent(user_id: Long, ts: java.sql.Timestamp,
                           event_type: String, value: Double)

/** Accumulated per-user state/output of runningUserTotals. */
final case class UserAgg(user_id: Long, n_events: Long, total_value: Double)

/** Structured Streaming operators (SURVEY.md §2.7). The reference is
  * batch-only, so these provide the streaming capability a general engine
  * needs; every transform is written against an unbound DataFrame so the
  * SAME function runs in batch (events parquet) and streaming (readStream /
  * MemoryStream) — asserted by StreamOpsSpec.
  *
  * Scale posture: watermarks bound state (an hourly window with a
  * 10-minute watermark keeps ~1 window of state per key); stateful ops key
  * by user_id so state shards across executors with the shuffle; session
  * windows use the built-in session_window operator (state-store-backed
  * merge) rather than a hand-rolled mapGroups buffer.
  */
object StreamOps {

  /** File-source stream over the harness events parquet — the real
    * `readStream` path (MemoryStream is for tests). Streaming sources need
    * an explicit schema, and the fixture's ts encoding has shipped in two
    * generations (TIMESTAMP(NANOS); timestamp[us] without tz), so we sniff
    * the on-disk type with a batch footer read and apply the SAME
    * normalization as the batch loader (graft.Tables.events) — ns fixtures
    * get the Long read + ns→µs floor-division, µs-NTZ fixtures get an
    * NTZ→session-tz cast (UTC-pinned sessions make it value-identical) —
    * keeping batch and stream bit-identical either way. */
  def eventsFileStream(spark: org.apache.spark.sql.SparkSession,
                       dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val onDiskTs =
      spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", onDiskTs),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    // events.parquet is a single FILE; FileStreamSource only accepts a
    // directory or a glob, so the trailing [t] forces glob mode (matching
    // exactly that file) with the parent dir as basePath
    val raw = spark.readStream.schema(schema).parquet(s"$dir/events.parque[t]")
    onDiskTs match {
      case LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Tumbling hourly aggregation — identical in batch and streaming; the
    * watermark is a no-op in batch and bounds state in streaming. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Custom keyed state: running per-user event count + value total via
    * mapGroupsWithState (the arbitrary-state API; use this shape when the
    * built-in aggregations can't express the state machine). */
  def runningUserTotals(events: Dataset[UserEvent]): Dataset[UserAgg] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[UserEvent], state: GroupState[UserAgg]) =>
          val prev = state.getOption.getOrElse(UserAgg(uid, 0L, 0d))
          var n = prev.n_events
          var tot = prev.total_value
          evs.foreach { e => n += 1; tot += e.value }
          val next = UserAgg(uid, n, tot)
          state.update(next)
          next
      }
  }

  /** [[runningUserTotals]] re-expressed on transformWithState — Spark 4's
    * arbitrary-stateful successor to mapGroupsWithState (typed named
    * states, timers, TTL; RocksDB-backed by requirement). Same semantics:
    * one ValueState[UserAgg] per user, a running (count, sum) emitted per
    * input batch. StreamOpsSpec asserts output equivalence with the
    * mapGroupsWithState form on the same rows — pinning that the engine's
    * stateful layer ports to the modern API before anyone needs timers or
    * multi-state processors. */
  def runningUserTotalsTws(events: Dataset[UserEvent]): Dataset[UserAgg] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Stream-stream interval join: purchases matched to views of the same
    * user within the preceding hour. Both sides are watermarked, and the
    * join condition bounds event-time distance, so each side's state store
    * holds only ~1 h + watermark of rows per key — the prerequisite for an
    * unbounded two-stream join. The same function body is the batch range
    * join (graft.operators.JoinsPlus.rangeJoin shape). */
  def viewPurchaseJoin(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views.select(col("user_id").as("v_user"), col("ts").as("v_ts"),
      col("event_id").as("view_id"))
      .withWatermark("v_ts", "10 minutes")
    val p = purchases.select(col("user_id").as("p_user"), col("ts").as("p_ts"),
      col("event_id").as("purchase_id"), col("value"))
      .withWatermark("p_ts", "10 minutes")
    p.join(v,
      col("p_user") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("p_user").as("user_id"), col("purchase_id"),
        col("view_id"), col("value"))
  }

  /** LEFT OUTER stream-stream join — [[viewPurchaseJoin]] plus the rows
    * the inner join drops: a purchase with NO qualifying view must still
    * come out (conversion without attribution is a row, not an absence).
    * Outer semantics force a timing contract the inner join doesn't
    * have: an unmatched purchase can only be emitted (null view side)
    * once the GLOBAL watermark — the min across both streams — passes
    * the end of its join window, because until then a matching view
    * could still arrive. Until that moment the row sits in the state
    * store; the spec pins both phases (held, then null-emitted). */
  def viewPurchaseJoinOuter(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views.select(col("user_id").as("v_user"), col("ts").as("v_ts"),
      col("event_id").as("view_id"))
      .withWatermark("v_ts", "10 minutes")
    val p = purchases.select(col("user_id").as("p_user"), col("ts").as("p_ts"),
      col("event_id").as("purchase_id"), col("value"))
      .withWatermark("p_ts", "10 minutes")
    p.join(v,
      col("p_user") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"),
      "leftOuter")
      .select(col("p_user").as("user_id"), col("purchase_id"),
        col("view_id"), col("value"))
  }

  /** FULL OUTER stream-stream join — the last join mode: unmatched rows
    * from BOTH sides must eventually emit (a view that never converted
    * is as much a funnel fact as a purchase without attribution). The
    * timing contract is the left-outer one applied symmetrically: each
    * side's unmatched rows are parked in state until the GLOBAL
    * watermark passes the end of their join window, then emitted with
    * the other side nulled. user_id comes from whichever side is
    * present (coalesce) — the one output column both sides carry. */
  def viewPurchaseJoinFull(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views.select(col("user_id").as("v_user"), col("ts").as("v_ts"),
      col("event_id").as("view_id"))
      .withWatermark("v_ts", "10 minutes")
    val p = purchases.select(col("user_id").as("p_user"), col("ts").as("p_ts"),
      col("event_id").as("purchase_id"), col("value"))
      .withWatermark("p_ts", "10 minutes")
    p.join(v,
      col("p_user") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"),
      "fullOuter")
      .select(coalesce(col("p_user"), col("v_user")).as("user_id"),
        col("purchase_id"), col("view_id"), col("value"))
  }

  /** foreachBatch parquet sink, EXACTLY-ONCE across failure/replay: each
    * micro-batch lands under its own `batch_id=<epoch>` partition via
    * dynamic partition overwrite, so a batch REPLAYED after a crash in
    * the window between the sink write and the checkpoint commit
    * OVERWRITES its own partition instead of appending a second copy — a
    * bare mode("append") here is only at-least-once, exactly in that
    * window. This is the standard way to attach a streaming pipeline to
    * a batch table when no native sink fits (e.g. the bucketed warehouse
    * of graft.sources.Ddl); readers see `batch_id` as a provenance
    * partition column and prune on it for free. Replay semantics are
    * forced and asserted by StreamOpsSpec (delete the newest checkpoint
    * commit marker, restart, zero duplicates).
    * Returns the started query; caller manages lifecycle/checkpointing. */
  def parquetBatchSink(df: DataFrame, outDir: String,
                       checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    // fail fast at wiring time: withColumn would silently REPLACE a
    // caller's own batch_id column and partition on epoch ids instead
    require(!df.columns.contains("batch_id"),
      "parquetBatchSink reserves the column name batch_id for its " +
        "replay-idempotence partition; rename the input column")
    // Layout-upgrade guard (ADVICE r12): data landed by the PRE-partition
    // append-mode sink sits as flat part files directly under outDir;
    // restarting onto such a directory would mix flat and
    // batch_id=<epoch> layouts, so readers lose or mis-infer the
    // partition column and old rows become indistinguishable. Fail fast:
    // upgrading to this sink requires a fresh outDir (or a one-time
    // rewrite of the old files under a batch_id partition).
    // Resolved through the Hadoop FileSystem, not java.io.File: a
    // URI-style or non-local outDir (file:/, hdfs://, s3a://) makes
    // File#listFiles return null and the guard would silently no-op
    // exactly where production data lives (ADVICE r13).
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val fs = outPath.getFileSystem(
      df.sparkSession.sessionState.newHadoopConf())
    val flatLegacy =
      if (fs.exists(outPath))
        fs.listStatus(outPath)
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      else Array.empty[org.apache.hadoop.fs.FileStatus]
    require(flatLegacy.isEmpty,
      s"parquetBatchSink: $outDir contains ${flatLegacy.length} flat " +
        "parquet file(s) from a non-batch_id-partitioned layout; use a " +
        "fresh outDir (mixing layouts makes old rows unreadable)")
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batch.withColumn("batch_id", lit(id))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outDir)
      }
      .start()
  }

  /** Streaming near-dup ingestion: every micro-batch of documents runs
    * the incremental MinHash probe against the seeded lake
    * ([[graft.sources.AppendJob.appendBatch]]) — near-dups of anything
    * already ingested (including earlier micro-batches: each append
    * extends the index) are dropped, novel docs land in the corpus table.
    * foreachBatch is the right shape here, not a stream-static join: the
    * dedup decision is per-DOC over 12 band probes (an aggregate), and
    * the index MUTATES as batches land — both outside what append-mode
    * stream joins can express, and exactly what the batch probe already
    * does. Caller seeds the lake first ([[graft.sources.AppendJob.seed]]).
    * Each micro-batch scans the whole index once (the probe) and adds at
    * most 16 files per table; the corpus is never rescanned. */
  def nearDupAppendSink(docs: DataFrame, db: String, checkpointDir: String,
                        threshold: Double = graft.sources.AppendJob.NEAR_DUP_EST)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // foreachBatch runs in the stream's CLONED session: its writes
    // invalidate only the clone's table-relation cache, so the caller's
    // session would keep serving the pre-append file listing. Refresh the
    // caller's view of both tables after each micro-batch lands.
    val caller = docs.sparkSession
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.sources.AppendJob.appendBatch(batch.sparkSession, batch, db,
          threshold, countCorpus = false)
        Seq("docs_corpus", "docs_mhidx", "docs_summary")
          .filter(t => caller.catalog.tableExists(s"$db.$t"))
          .foreach(t => caller.catalog.refreshTable(s"$db.$t"))
      }
      .start()
  }

  /** Finished session emitted by [[sessionFlush]] when a user's
    * inactivity timeout fires. */
  final case class SessionSummary(user_id: Long, start_sec: Double,
                                  end_sec: Double, n_events: Long)

  /** Arbitrary-state session flushing via flatMapGroupsWithState — the
    * state machine built-in aggregations can't express: a session emits
    * ONLY when its inactivity timeout fires (event-time timeout driven by
    * the watermark), producing zero rows on ordinary triggers. State per
    * key is one (start, end, n) triple; the timeout clears it, so state
    * size is bounded by the number of concurrently-active users. */
  def sessionFlush(events: Dataset[UserEvent],
                   gapSeconds: Long = 1800L): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionSummary, SessionSummary](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, evs: Iterator[UserEvent], state: GroupState[SessionSummary]) =>
          if (state.hasTimedOut) {
            val out = state.get
            state.remove()
            Iterator.single(out)
          } else {
            // Walk the batch in time order, SPLITTING on every gap >
            // gapSeconds — a single batch can both close old sessions
            // (emitted immediately) and open a new one (kept in state for
            // the timeout to flush). Without the split, events more than
            // a gap apart would silently merge into one session whenever
            // they beat the watermark.
            val secs = evs.map(_.ts.getTime / 1000.0).toArray.sorted
            val done = scala.collection.mutable.Buffer.empty[SessionSummary]
            var cur = state.getOption.orNull
            secs.foreach { t =>
              if (cur == null) cur = SessionSummary(uid, t, t, 1L)
              else if (t - cur.end_sec > gapSeconds) {
                done += cur
                cur = SessionSummary(uid, t, t, 1L)
              } else cur = SessionSummary(uid,
                math.min(cur.start_sec, t), math.max(cur.end_sec, t),
                cur.n_events + 1)
            }
            state.update(cur)
            state.setTimeoutTimestamp((cur.end_sec * 1000).toLong + gapSeconds * 1000)
            done.iterator
          }
      }
  }

  /** Streaming exact dedup — the streaming twin of the batch dedup family
    * (graft.operators.Dedup): drop re-deliveries of the same event id.
    * dropDuplicatesWithinWatermark keeps state only for the watermark
    * horizon (vs dropDuplicates, whose key state grows forever on an
    * unbounded stream) — the only viable exact-dedup shape at 100 TB/day
    * ingest. */
  def dedupEvents(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Gap-based sessions via the built-in session_window (state-store
    * merge in streaming; plain aggregation in batch). 30-minute gap
    * matches the batch q_sessionize operator. */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** CDC-driven incremental view maintenance: consume a stream of
    * changelog rows (the shape [[graft.sources.SnapshotLake.changes]]
    * emits — `_change_type` ∈ {insert, delete} plus the row values) and
    * maintain a per-key census as a STREAMING aggregation over SIGNED
    * contributions: insert = +1, delete = −1. In complete output mode the
    * sink always holds base ⊕ all deltas so far — the streaming twin of
    * the batch `q_snapshot_ivm` algebra, and the shape a downstream
    * materialized view consumes a 100 TB table's changelog with (the
    * aggregate state is |keys|-sized; the stream only ever carries the
    * CHANGED rows, never the table). */
  def changelogCensus(changes: DataFrame, key: String,
                      measure: String): DataFrame = {
    val sgn = when(col("_change_type") === "insert", 1L).otherwise(-1L)
    changes.groupBy(col(key))
      .agg(sum(sgn).as("n_rows"),
        sum(sgn * col(measure)).as(s"sum_$measure"))
  }

  /** Stream-static enrichment join: each micro-batch joins the (static)
    * user dimension — the canonical "decorate the event stream with
    * dimension attributes" shape. The static side re-plans per batch (so
    * a dimension refresh is picked up without restarting the query) and
    * is broadcast, which is the only join strategy that never shuffles
    * the stream: at 100 TB/day the stream side must stay a map-only
    * pipeline, with state reserved for genuinely stateful operators.
    * Aggregation after the join stays watermark-bounded as usual. */
  def enrichedTypeTotals(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .join(broadcast(dim), Seq("user_id"), "left")
      .groupBy(window(col("ts"), "1 hour"), col("segment"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
      .select(col("window.start").as("hour_start"), col("segment"),
        col("n_events"), col("sum_value"))

  /** Streaming DISTRIBUTION-DRIFT monitor — the production guardrail in
    * front of a training-data pipeline: per tumbling hour, the PSI terms
    * of the window's event_type distribution against a fixed reference
    * (the distribution the consumers were tuned on). Emits
    * (window_start, event_type, n, share, ref_share, psi_term) in APPEND
    * mode once the watermark closes the window; alerting is
    * `sum(psi_term) > 0.2 per window` downstream.
    *
    * Shape: CHAINED stateful aggregations — (window, type) counts feed a
    * second window aggregation (via window_time) that computes the
    * window total and re-expands the per-type rows; Spark 4 runs
    * multiple watermark-bounded stateful operators in one append-mode
    * query, so the whole monitor is a single streaming plan with
    * O(|types|) state per open window and NO custom state code. The
    * reference is a driver-provided map (model-sized), riding the plan
    * as a broadcast literal frame. Laplace (+1) smoothing over the
    * reference's type universe keeps the log finite when a type is
    * absent on either side — the q_drift_psi discipline. */
  def driftMonitor(events: DataFrame, ref: Map[String, Long]): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val k = ref.size
    val refN = ref.values.sum
    val refDf = broadcast(ref.toSeq.toDF("event_type", "ref_n"))
    val perType = events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    perType
      .groupBy(window(window_time(col("window")), "1 hour").as("w"))
      .agg(sum("n").as("n_w"),
        collect_list(struct(col("event_type"), col("n"))).as("types"))
      .select(col("w.start").as("window_start"), col("n_w"),
        explode(col("types")).as("t"))
      .select(col("window_start"), col("n_w"),
        col("t.event_type").as("event_type"), col("t.n").as("n"))
      .join(refDf, Seq("event_type"), "left")
      .withColumn("p_w",
        (col("n") + lit(1.0d)) / (col("n_w") + lit(k.toDouble)))
      .withColumn("p_ref",
        (coalesce(col("ref_n"), lit(0L)) + lit(1.0d))
          / lit((refN + k).toDouble))
      .select(col("window_start"), col("event_type"), col("n"),
        round(col("p_w"), 6).as("share"),
        round(col("p_ref"), 6).as("ref_share"),
        round((col("p_w") - col("p_ref")) * log(col("p_w") / col("p_ref")),
          6).as("psi_term"))
  }

  /** One emitted smoothing point of [[ewmaMonitor]]. */
  final case class EwmaPoint(event_type: String, day: String, x: Long,
                             ewma: Double)

  /** Per-type fold state: counts of still-open days (epochDay → n), the
    * 1e-6-fixed smoothed level of the CLOSED prefix, and whether the
    * seed day has been consumed. */
  final case class EwmaFold(open: Map[Long, Long], e6: Long,
                            seeded: Boolean)

  /** Streaming twin of the batch dyadic-EWMA census (q_ewma): per event
    * type, the SAME exact recursion e_t = (e_{t-1} + x_t·1e6) div 2 over
    * per-day counts, emitted as each day CLOSES under the watermark.
    * Because the recursion is pure BIGINT, the stream's emitted points
    * are BIT-IDENTICAL to the batch fold over the same rows
    * (StreamOpsSpec asserts it against Inference.ewmaOn) — the
    * batch/stream-parity property every operator in this module holds,
    * extended to custom sequential state.
    *
    * Shape: flatMapGroupsWithState keyed by type; state = open-day
    * counts + the folded prefix (O(open days) per type — watermark
    * bounds it); days close IN ORDER once the watermark passes their
    * end, so out-of-order arrival within the horizon cannot reorder the
    * fold. Events for already-closed days are dropped (the
    * dropDuplicatesWithinWatermark trade: exactness inside the horizon,
    * bounded state). EventTimeTimeout flushes closable days when a type
    * goes quiet. */
  /** One emitted forecasting point of [[holtWintersMonitor]]. */
  final case class HwPoint(event_type: String, day: String, x: Long,
                           level: Double, trend: Double, seasonal: Double,
                           forecast: Double)

  /** Per-type fold state for [[holtWintersMonitor]]: open-day counts +
    * the 9-slot [l, b, s⁰..s⁶] rotation-encoded vector in 1e-6 units. */
  final case class HwFold(open: Map[Long, Long], st: Array[Long],
                          seeded: Boolean)

  /** Streaming twin of the batch Holt-Winters census (q_holt_winters):
    * the SAME 9-slot BIGINT state machine — dyadic level/trend/seasonal
    * halvings via floorDiv, rotation-encoded weekly seasonals — run as
    * flatMapGroupsWithState, emitting one forecasting point as each day
    * closes under the watermark. Pure-integer state means the stream is
    * BIT-IDENTICAL to the batch fold over the same rows (StreamOpsSpec
    * asserts it against Inference.holtWintersOn). Same open-day
    * bookkeeping, in-order closing, and timeout flush as
    * [[ewmaMonitor]]. */
  def holtWintersMonitor(events: Dataset[UserEvent]): Dataset[HwPoint] = {
    import events.sparkSession.implicits._
    val DAY_MS = 86400000L
    def disp(v: Long): Double =
      Math.floorDiv(v + 50L, 100L).toDouble / 10000.0
    events
      .withWatermark("ts", "1 second")
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[HwFold, HwPoint](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (tp: String, evs: Iterator[UserEvent], state: GroupState[HwFold]) =>
          var st = state.getOption
            .getOrElse(HwFold(Map.empty, Array.fill(9)(0L), false))
          val wm = state.getCurrentWatermarkMs()
          if (!state.hasTimedOut) {
            evs.foreach { e =>
              val d = Math.floorDiv(e.ts.getTime, DAY_MS)
              if ((d + 1) * DAY_MS > wm)
                st = st.copy(open =
                  st.open.updated(d, st.open.getOrElse(d, 0L) + 1L))
            }
          }
          val closable = st.open.keys.filter(d => (d + 1) * DAY_MS <= wm)
            .toSeq.sorted
          val out = closable.map { d =>
            val x = st.open(d)
            val v = x * 1000000L
            val next =
              if (!st.seeded) Array(v, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
              else {
                val (l, b, sDue) = (st.st(0), st.st(1), st.st(2))
                val lN = Math.floorDiv(v - sDue + l + b, 2L)
                val bN = Math.floorDiv(b + lN - l, 2L)
                val sN = Math.floorDiv(sDue + v - lN, 2L)
                Array(lN, bN) ++ st.st.slice(3, 9) :+ sN
              }
            st = HwFold(st.open - d, next, seeded = true)
            HwPoint(tp, java.time.LocalDate.ofEpochDay(d).toString, x,
              disp(next(0)), disp(next(1)), disp(next(8)),
              disp(next(0) + next(1) + next(2)))
          }
          if (st.open.isEmpty && !st.seeded) state.remove()
          else {
            state.update(st)
            if (st.open.nonEmpty)
              state.setTimeoutTimestamp((st.open.keys.min + 1) * DAY_MS)
          }
          out.iterator
      }
  }

  def ewmaMonitor(events: Dataset[UserEvent]): Dataset[EwmaPoint] = {
    import events.sparkSession.implicits._
    val DAY_MS = 86400000L
    events
      .withWatermark("ts", "1 second")
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[EwmaFold, EwmaPoint](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (tp: String, evs: Iterator[UserEvent], state: GroupState[EwmaFold]) =>
          var st = state.getOption.getOrElse(EwmaFold(Map.empty, 0L, false))
          val wm = state.getCurrentWatermarkMs()
          if (!state.hasTimedOut) {
            // fold the batch into open-day counts; a day at or before the
            // watermark is already closed — its stragglers drop
            evs.foreach { e =>
              val d = Math.floorDiv(e.ts.getTime, DAY_MS)
              if ((d + 1) * DAY_MS > wm)
                st = st.copy(open =
                  st.open.updated(d, st.open.getOrElse(d, 0L) + 1L))
            }
          }
          // close every day the watermark has passed, ASCENDING — the
          // fold order is the batch fold order
          val closable = st.open.keys.filter(d => (d + 1) * DAY_MS <= wm)
            .toSeq.sorted
          val out = closable.map { d =>
            val x = st.open(d)
            val e6 =
              if (!st.seeded) x * 1000000L
              else (st.e6 + x * 1000000L) / 2L
            st = EwmaFold(st.open - d, e6, seeded = true)
            EwmaPoint(tp, java.time.LocalDate.ofEpochDay(d).toString, x,
              ((e6 + 50L) / 100L).toDouble / 10000.0)
          }
          if (st.open.isEmpty && !st.seeded) state.remove()
          else {
            state.update(st)
            if (st.open.nonEmpty)
              state.setTimeoutTimestamp((st.open.keys.min + 1) * DAY_MS)
          }
          out.iterator
      }
  }

  /** Streaming CALIBRATION monitor — the deployment twin of the batch
    * `q_ece` audit: a model-gated filter ships its calibration map
    * (decile VALUE boundaries + per-bin expected positive rate, both
    * driver-provided model artifacts from the batch calibration run)
    * and every scored example arriving on the stream bins by the same
    * value thresholds. Per event-time hour per bin: observed count,
    * positive count, observed rate, and the |expected − observed| gap —
    * the alert column; a bin whose gap grows is a score distribution
    * that drifted off its calibration. Watermarked windowed aggregate,
    * O(|bins|) state per open hour, no custom state code; binning is a
    * row-local literal-array probe in the scan (the RFM/ECE shape). */
  def calibrationMonitor(scored: DataFrame, bounds: Seq[Long],
                         expected: Map[Int, Double]): DataFrame = {
    val s = scored.sparkSession
    import s.implicits._
    val expDf = broadcast(expected.toSeq.toDF("bin", "exp_rate"))
    val bArr = bounds.map(b => s"${b}L").mkString(", ")
    scored
      .withWatermark("ts", "10 minutes")
      .withColumn("bin",
        expr(s"1 + size(filter(array($bArr), x -> margin > x))"))
      .groupBy(window(col("ts"), "1 hour"), col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("n_pos"))
      .join(expDf, Seq("bin"), "left")
      .select(col("window.start").as("window_start"), col("bin"),
        col("n"), col("n_pos"),
        (floor(col("n_pos").cast("double") / col("n") * lit(1000000.0d)
          + lit(0.5d)) / lit(1000000.0d)).as("pos_rate"),
        round(abs(coalesce(col("exp_rate"), lit(0.0d))
          - col("n_pos").cast("double") / col("n")), 6).as("gap"))
  }
}

/** The [[StreamOps.runningUserTotalsTws]] processor: one named
  * ValueState[UserAgg] per user key — the transformWithState shape of
  * the mapGroupsWithState accumulator it twins. */
class RunningTotalProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, UserEvent, UserAgg] {
  @transient private var total:
    org.apache.spark.sql.streaming.ValueState[UserAgg] = _

  override def init(outputMode: OutputMode,
                    timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    total = getHandle.getValueState[UserAgg]("total",
      org.apache.spark.sql.Encoders.product[UserAgg],
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(
      key: Long, rows: Iterator[UserEvent],
      timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[UserAgg] = {
    val prev =
      if (total.exists()) total.get() else UserAgg(key, 0L, 0d)
    var n = prev.n_events
    var tot = prev.total_value
    rows.foreach { e => n += 1; tot += e.value }
    val next = UserAgg(key, n, tot)
    total.update(next)
    Iterator.single(next)
  }
}
