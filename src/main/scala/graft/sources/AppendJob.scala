package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Dedup

/** Append-mode document ingestion — the job the reference cannot express:
  * every reference write is a full-table overwrite
  * (`job1-DDL_Load_Data_Spark_Iceberg.py:295,305,315,325,335`), so a lake
  * user appending a daily batch would re-load and re-dedup the whole
  * corpus. This job composes the incremental machinery instead:
  *
  *  1. SEED (first run only): write the corpus table and its MinHash band
  *     index — the single time the corpus is shingled.
  *  2. APPEND (every run): probe the new batch against the index
  *     ([[Dedup.probeMinhashIndex]] — signature-estimated Jaccard, no
  *     corpus text touched), drop batch docs with a near-dup already in
  *     the lake (exact duplicates score est_jac = 1.0 and are subsumed),
  *     append only the novel docs to the corpus table, and append THEIR
  *     band rows to the index so the next batch dedups against them.
  *
  * The job is idempotent: re-appending the same batch finds every doc
  * self-matched in the index (est 1.0) and appends nothing. An append
  * scans the whole index once (the probe; the corpus text is never
  * touched) and adds at most 16 files per table, one per bucket its
  * novel docs land in.
  *
  * The job owns its tables (`<db>.docs_corpus`, `<db>.docs_mhidx`) rather
  * than sharing [[Dedup.ensureMinhashIndexTable]]'s fingerprinted table:
  * an append MUTATES the index, and the registered q_dedup_incremental
  * query's oracle assumes a pristine one.
  *
  * Layout trade-off: both tables partition by the doc's own hash bucket
  * `pbk = pmod(doc_id, 16)`, the plain-parquet stand-in for the
  * reference's Iceberg `bucket(16, col)` transform. Every row of a doc,
  * corpus or index, lives in that doc's bucket, so upsert/delete rewrite
  * exactly the buckets they hit in both tables (dynamic partition
  * overwrite — the O(delta) CRUD property). The price is that the probe
  * joins on (band, nib, key), which `pbk` cannot prune: every append
  * reads the whole index, and the index side shuffles once the batch
  * outgrows the broadcast threshold. The fingerprinted
  * ensureMinhashIndexTable is the opposite trade: `bucketBy(16, band,
  * nib, key)`, exchange-free probes, rebuild-on-change instead of
  * in-place mutation. Pick by workload.
  */
object AppendJob {

  final case class AppendReport(
      nBatch: Long, nDup: Long, nAppended: Long,
      corpusBefore: Long, corpusAfter: Long)

  /** Near-dup decision threshold on signature-estimated Jaccard. */
  val NEAR_DUP_EST = 0.5

  /** Seed the lake if absent: write the corpus table and its MinHash band
    * index — the single time the corpus is shingled. A lake whose index
    * still has the earlier `(band, nib)` partitioning is re-keyed on
    * `pbk` once, row for row (no re-shingling, no re-capping). */
  def seed(spark: SparkSession, corpus: DataFrame,
           db: String = "graft_lake"): Unit = {
    val corpusTbl = s"$db.docs_corpus"
    val idxTbl = s"$db.docs_mhidx"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    if (!spark.catalog.tableExists(corpusTbl)) {
      IngestJob.dropStale(spark, db, "docs_corpus")
      // the corpus partitions by a doc_id hash bucket so UPSERTS rewrite
      // only touched buckets (dynamic partition overwrite), never the
      // whole corpus — the plain-parquet stand-in for Iceberg's MERGE
      withBucket(corpus).write.mode(SaveMode.Overwrite)
        .partitionBy("pbk")
        .saveAsTable(corpusTbl)
      // the one full shingle pass over the corpus, paid at seed time
      writeIndex(spark, db, withBucket(
        Dedup.minhashBandRows(withShingles(corpus), cap = Some(Dedup.BUCKET_CAP))))
    } else if (spark.catalog.tableExists(idxTbl) &&
        !spark.catalog.listColumns(idxTbl).collect()
          .exists(c => c.isPartition && c.name == "pbk")) {
      writeIndex(spark, db, withBucket(spark.table(idxTbl)).localCheckpoint())
    }
  }

  /** (Re)write the whole index table from `rows`, partitioned by the doc
    * bucket. A `rows` read from the index itself must be materialized
    * (localCheckpoint) first: the old files are deleted before the write. */
  private def writeIndex(spark: SparkSession, db: String, rows: DataFrame): Unit = {
    IngestJob.dropStale(spark, db, "docs_mhidx")
    rows.write.mode(SaveMode.Overwrite)
      .partitionBy("pbk")
      .saveAsTable(s"$db.docs_mhidx")
  }

  /** Probe-and-append one batch DataFrame against the seeded lake: drop
    * batch docs with a near-dup already indexed, append the novel rest to
    * the corpus, extend the index with their band rows. This is the unit
    * of work shared by the batch job ([[appendDocuments]]) and the
    * streaming sink ([[graft.streaming.StreamOps.nearDupAppendSink]] runs
    * it per micro-batch via foreachBatch). */
  def appendBatch(spark: SparkSession, batch: DataFrame,
                  db: String = "graft_lake",
                  threshold: Double = NEAR_DUP_EST,
                  countCorpus: Boolean = true): AppendReport = {
    val corpusTbl = s"$db.docs_corpus"
    val idxTbl = s"$db.docs_mhidx"
    // the census is the only corpus-wide work in an append; a
    // high-frequency caller (the streaming sink) opts out and reports -1
    val before = if (countCorpus) spark.table(corpusTbl).count() else -1L
    val nBatch = batch.count()
    val dupIds = Dedup.probeMinhashIndex(spark.table(idxTbl), withShingles(batch))
      .filter(col("est_jac") >= threshold)
      .select(col("b_doc").as("doc_id"))
      .distinct()
    // materialize the probe's verdict ONCE: `novel` feeds two writes
    // (corpus + index), which would otherwise re-execute the whole
    // probe join per write
    val novel = batch.join(dupIds, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val nNovel = novel.count()
    // append in the target tables' own column order (insertInto is
    // positional; partition columns sit last in the table schema)
    withBucket(novel).select(spark.table(corpusTbl).columns.map(col): _*)
      .write.mode(SaveMode.Append).insertInto(corpusTbl)
    withBucket(Dedup.minhashBandRows(withShingles(novel), cap = None))
      .select(spark.table(idxTbl).columns.map(col): _*)
      .write.mode(SaveMode.Append).insertInto(idxTbl)
    // after-count is arithmetic, not a second corpus scan
    applySummaryDelta(spark, db, plus = Some(novel), minus = None)
    AppendReport(nBatch, nBatch - nNovel, nNovel, before,
      if (countCorpus) before + nNovel else -1L)
  }

  /** Seed (if needed) then append the batch; returns the append census. */
  def appendDocuments(spark: SparkSession, dir: String,
                      db: String = "graft_lake",
                      threshold: Double = NEAR_DUP_EST): AppendReport = {
    seed(spark, Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(Dedup.BATCH_MOD)) =!= Dedup.BATCH_REM), db)
    appendBatch(spark, Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(Dedup.BATCH_MOD)) === Dedup.BATCH_REM),
      db, threshold)
  }

  /** Corpus small-file compaction (the OPTIMIZE pass): every append adds
    * a file per touched bucket, so a long-lived lake accumulates
    * file-per-batch fragmentation — the classic small-files problem that
    * throttles scan throughput at 100 TB (task-per-file scheduling, no
    * sequential reads). Buckets holding more than `maxFiles` files are
    * rewritten as a single file each via dynamic partition overwrite;
    * buckets already compact are untouched (their files keep their
    * identity — spec-fingerprinted). Returns the number of buckets
    * rewritten. */
  def compactCorpus(spark: SparkSession, db: String = "graft_lake",
                    maxFiles: Int = 4): Long = {
    val corpusTbl = s"$db.docs_corpus"
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    val tableDir = Paths.get(warehouse, s"$db.db", "docs_corpus")
    val overFull: Seq[Int] = {
      val s = Files.list(tableDir)
      try s.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("pbk="))
        .filter { p =>
          val f = Files.list(p)
          try f.toArray.count(q => q.toString.endsWith(".parquet")) > maxFiles
          finally f.close()
        }
        .map(_.getFileName.toString.stripPrefix("pbk=").toInt).toSeq
      finally s.close()
    }
    if (overFull.nonEmpty) {
      val cols = spark.table(corpusTbl).columns
      val rewritten = spark.table(corpusTbl)
        .filter(col("pbk").isin(overFull.map(Int.box): _*))
        .repartition(col("pbk"))
        .select(cols.map(col): _*)
        .localCheckpoint()
      withDynamicOverwrite(spark) {
        rewritten.write.mode(SaveMode.Overwrite).insertInto(corpusTbl)
      }
    }
    overFull.length.toLong
  }

  /** Index compaction — the maintenance pass that pairs with append:
    * appends extend band buckets UNCAPPED (re-evaluating the hot-bucket
    * cap across old+new rows on every append would rescan the index), so
    * after a run of appends some buckets may exceed [[Dedup.BUCKET_CAP]].
    * Compaction rewrites the index keeping only within-cap buckets —
    * restoring the probe-cost bound — and returns how many buckets it
    * dropped. The rewrite materializes via localCheckpoint before
    * overwriting, so the read never races its own overwrite. */
  def compactIndex(spark: SparkSession, db: String = "graft_lake",
                   cap: Long = Dedup.BUCKET_CAP): Long = {
    val idxTbl = s"$db.docs_mhidx"
    val cols = spark.table(idxTbl).columns
    val sizes = spark.table(idxTbl).groupBy("band", "key")
      .agg(count(lit(1)).as("bn"))
      .localCheckpoint()
    val dropped = sizes.filter(col("bn") > cap).count()
    if (dropped > 0) {
      val keep = sizes.filter(col("bn") <= cap).select("band", "key")
      writeIndex(spark, db, spark.table(idxTbl)
        .join(keep, Seq("band", "key"))
        .select(cols.map(col): _*)
        .localCheckpoint())
    }
    dropped
  }

  final case class UpsertReport(
      nUpserts: Long, nUpdated: Long, nInserted: Long,
      corpusBucketsRewritten: Long, idxBucketsRewritten: Long)

  /** Upsert a batch of documents by doc_id — the MERGE INTO the
    * reference's Iceberg DDL implies (`job1:223-275` declares merge-able
    * tables but every job write is a full overwrite), expressed on plain
    * partitioned parquet via DYNAMIC partition overwrite: in both tables
    * only the hash buckets containing an upserted doc are rewritten
    * (remaining rows of each touched bucket ∪ the upserts' new rows).
    * An updated doc's old index rows live in its own bucket, so they are
    * replaced with it and stale signatures can never produce false
    * near-dup hits against replaced text. Untouched buckets' files are
    * never read or written: at 100 TB the cost is O(touched buckets),
    * not O(corpus). */
  def upsertDocuments(spark: SparkSession, updates: DataFrame,
                      db: String = "graft_lake"): UpsertReport = {
    val corpusTbl = s"$db.docs_corpus"
    val up = withBucket(updates).localCheckpoint()
    val nUp = up.count()
    val upIds = up.select("doc_id")
    val bucketVals = up.select("pbk").distinct().collect().map(_.getInt(0))
    // retraction rows for the summary delta, captured BEFORE the
    // overwrite; also gives the updated-vs-inserted split without a
    // corpus-wide scan (an update's doc lives in a touched bucket by
    // definition, so the bucket-pruned read sees every one)
    val retracted = spark.table(corpusTbl)
      .filter(col("pbk").isin(bucketVals.map(Int.box): _*))
      .join(upIds, Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val nUpdated = retracted.count()
    val (corpusN, _) = rewriteBuckets(spark, corpusTbl, bucketVals, upIds, Some(up))
    val (idxN, _) = rewriteBuckets(spark, s"$db.docs_mhidx", bucketVals, upIds,
      Some(withBucket(Dedup.minhashBandRows(withShingles(up), cap = None))))
    applySummaryDelta(spark, db, plus = Some(up), minus = Some(retracted))
    UpsertReport(nUp, nUpdated, nUp - nUpdated, corpusN, idxN)
  }

  final case class DeleteReport(
      nRequested: Long, nDeleted: Long, corpusBucketsRewritten: Long,
      corpusBucketsDropped: Long, idxBucketsRewritten: Long,
      idxBucketsDropped: Long)

  /** Delete documents by id — the GDPR/takedown path, completing the
    * lake's CRUD story (seed → append → upsert → delete → compact) on
    * plain partitioned parquet. Same targeted-rewrite discipline as
    * [[upsertDocuments]]: only the buckets that actually hold a deleted
    * doc are read and rewritten, in both tables, and buckets emptied by
    * the delete are dropped. Cost at 100 TB: O(buckets hit), not
    * O(corpus). */
  def deleteDocuments(spark: SparkSession, ids: DataFrame,
                      db: String = "graft_lake"): DeleteReport = {
    val corpusTbl = s"$db.docs_corpus"
    val delIds = ids.select("doc_id").distinct().localCheckpoint()
    val nRequested = delIds.count()

    // full rows so the summary delta can retract them after the rewrite
    val hit = spark.table(corpusTbl)
      .join(delIds, Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val nDeleted = hit.count()
    val bucketVals = hit.select("pbk").distinct().collect().map(_.getInt(0))
    val (corpusN, corpusDropped) =
      rewriteBuckets(spark, corpusTbl, bucketVals, delIds, None)
    val (idxN, idxDropped) =
      rewriteBuckets(spark, s"$db.docs_mhidx", bucketVals, delIds, None)
    applySummaryDelta(spark, db, plus = None, minus = Some(hit))
    DeleteReport(nRequested, nDeleted, corpusN, corpusDropped, idxN, idxDropped)
  }

  /** Dynamic-overwrite `buckets` of table `tbl` with their rows minus
    * `dropIds`'s docs, plus `add`; then drop the buckets left empty
    * (dynamic overwrite replaces only partitions that RECEIVE rows, so an
    * emptied bucket would keep serving its stale files). The buckets
    * enter as literal `isin` filters: a semi-JOIN on a partition column
    * does not statically prune the scan, a literal filter does
    * (PartitionFilters). Returns (buckets rewritten, buckets dropped). */
  private def rewriteBuckets(spark: SparkSession, tbl: String,
                             buckets: Seq[Int], dropIds: DataFrame,
                             add: Option[DataFrame]): (Long, Long) = {
    val cols = spark.table(tbl).columns.map(col)
    val kept = spark.table(tbl)
      .filter(col("pbk").isin(buckets.map(Int.box): _*))
      .join(dropIds, Seq("doc_id"), "left_anti")
      .select(cols: _*)
    val rows = add.fold(kept)(a => kept.unionByName(a.select(cols: _*)))
      .localCheckpoint()
    withDynamicOverwrite(spark) {
      rows.write.mode(SaveMode.Overwrite).insertInto(tbl)
    }
    val written = rows.select("pbk").distinct().collect().map(_.getInt(0)).toSet
    val empty = buckets.filterNot(written)
    empty.foreach(b => spark.sql(s"ALTER TABLE $tbl DROP IF EXISTS PARTITION (pbk=$b)"))
    (buckets.length.toLong - empty.length, empty.length.toLong)
  }

  /** Incremental materialized aggregate: a per-(source, lang) census of
    * the corpus (docs + tokens), maintained by DELTAS through every CRUD
    * op — appends add their novel rows' aggregate, upserts retract the
    * replaced rows and add the new ones, deletes retract. The corpus is
    * aggregated exactly once (here, at ensure time); afterwards the
    * summary stays consistent without ever rescanning it — the
    * incremental-view-maintenance shape that makes a 100 TB lake's
    * dashboards affordable. Additive aggregates only (count/sum), which
    * is what makes exact retraction possible. */
  def ensureSummary(spark: SparkSession, db: String = "graft_lake"): Unit = {
    val sumTbl = s"$db.docs_summary"
    if (!spark.catalog.tableExists(sumTbl)) {
      IngestJob.dropStale(spark, db, "docs_summary")
      summaryAgg(spark.table(s"$db.docs_corpus"), sign = 1L)
        .write.mode(SaveMode.Overwrite).saveAsTable(sumTbl)
    }
  }

  /** A NULL text counts as 0 tokens. Unguarded, `size(split(NULL))` is
    * -1 with ANSI off, taking a token off its group per NULL doc, and
    * NULL with ANSI on, turning an all-NULL group's count NULL. */
  private def summaryAgg(docs: DataFrame, sign: Long): DataFrame =
    docs.groupBy("source", "lang")
      .agg((count(lit(1)) * sign).as("n_docs"),
        (sum(when(col("text").isNull, lit(0))
          .otherwise(size(split(col("text"), " "))).cast("long")) * sign)
          .as("n_tokens"))

  /** Fold a CRUD op's row deltas into the summary (no-op until
    * [[ensureSummary]] has been called). The summary is group-cardinality
    * sized, so the merge rewrite is metadata-scale — the corpus itself is
    * never touched. */
  private def applySummaryDelta(spark: SparkSession, db: String,
                                plus: Option[DataFrame],
                                minus: Option[DataFrame]): Unit = {
    val sumTbl = s"$db.docs_summary"
    if (spark.catalog.tableExists(sumTbl)) {
      val deltas =
        plus.map(summaryAgg(_, sign = 1L)).toSeq ++
          minus.map(summaryAgg(_, sign = -1L)).toSeq
      val merged = deltas
        .foldLeft(spark.table(sumTbl))(_ unionByName _)
        .groupBy("source", "lang")
        .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"))
        .filter(col("n_docs") > 0)
        .localCheckpoint()
      merged.write.mode(SaveMode.Overwrite).insertInto(sumTbl)
    }
  }

  private def withDynamicOverwrite[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try body
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** The doc bucket: doc_id-hash partition column of both the corpus and
    * the index, so point-ish rewrites (upserts, deletes) touch
    * O(buckets-hit) files in each. */
  private val N_BUCKETS = 16

  private def withBucket(docs: DataFrame): DataFrame =
    docs.withColumn("pbk", pmod(col("doc_id"), lit(N_BUCKETS)).cast("int"))

  /** Drop the job's tables and their on-disk locations — test harness
    * reset (an in-memory catalog forgets tables across JVMs but their
    * files survive; same repair as [[IngestJob]]). */
  def reset(spark: SparkSession, db: String): Unit =
    Seq("docs_corpus", "docs_mhidx", "docs_summary").foreach { t =>
      if (spark.catalog.databaseExists(db)) IngestJob.dropStale(spark, db, t)
    }

  private def withShingles(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .withColumn("toks", graft.functions.TextFns.tokens(col("text")))
      .withColumn("sh", array_distinct(expr("word_shingles(toks, 3)")))
      .select("doc_id", "sh")
  }

}
