package graft

import org.apache.spark.sql.functions._

import graft.sources.AppendJob

/** The append-mode ingestion composition: seed → probe → append-novel →
  * extend-index. Census arithmetic, idempotency (the property overwrite-
  * only ingestion cannot have), and index extension are all asserted on
  * the real fixture. */
class AppendJobSpec extends SparkTestBase {

  private val db = "graft_lake_test"

  private def warehouse =
    spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")

  /** (path, size, mtime) of every file in one `pbk` bucket of a table. */
  private def fingerprint(lake: String, table: String, bucket: Int) = {
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(warehouse,
      s"$lake.db", table, s"pbk=$bucket"))
    try s.toArray.map(_.asInstanceOf[java.nio.file.Path])
      .map(p => (p.toString, java.nio.file.Files.size(p),
        java.nio.file.Files.getLastModifiedTime(p).toMillis)).toSet
    finally s.close()
  }

  private def partitionCols(table: String) =
    spark.catalog.listColumns(table).collect().filter(_.isPartition)
      .map(_.name).toSeq

  test("append lands only novel docs and is idempotent on re-append") {
    AppendJob.reset(spark, db)
    val r1 = AppendJob.appendDocuments(spark, sfDir, db)
    assert(r1.nBatch > 0, "fixture batch must be non-empty")
    assert(r1.nBatch == r1.nDup + r1.nAppended,
      s"census must partition the batch: $r1")
    assert(r1.corpusAfter == r1.corpusBefore + r1.nAppended, s"$r1")
    assert(r1.nAppended > 0,
      s"fixture batch should contain novel docs: $r1")

    // the appended docs' band rows must now be in the index
    val idx = spark.table(s"$db.docs_mhidx")
    val batchIdsInIdx = idx
      .filter(pmod(col("doc_id"), lit(graft.operators.Dedup.BATCH_MOD))
        === graft.operators.Dedup.BATCH_REM)
      .select("doc_id").distinct().count()
    assert(batchIdsInIdx == r1.nAppended,
      s"index must gain exactly the novel docs' rows: " +
        s"$batchIdsInIdx != ${r1.nAppended}")

    // idempotency: every batch doc now self-matches at est 1.0 (novel
    // ones) or still matches its original partner (dups) — nothing lands
    val r2 = AppendJob.appendDocuments(spark, sfDir, db)
    assert(r2.nAppended == 0 && r2.nDup == r2.nBatch,
      s"re-append must be a no-op: $r2")
    assert(r2.corpusAfter == r1.corpusAfter, s"$r2")
  }

  test("compaction drops over-cap buckets and leaves the rest untouched") {
    import spark.implicits._
    val idxTbl = s"$db.docs_mhidx"
    val cap = graft.operators.Dedup.BUCKET_CAP
    val before = spark.table(idxTbl).count()
    // plant a synthetic hot bucket (cap + 50 rows on one (band, key))
    val cols = spark.table(idxTbl).columns
    val hot = (1 to (cap + 50).toInt).map { i =>
      (-i.toLong, "deadbeef") // doc_id, shared sig slice
    }.toDF("doc_id", "sig8")
    val hotRows = hot.select(
      cols.map {
        case "doc_id" => col("doc_id")
        case "band" => lit(0)
        case "key" => lit("hotbucketkey")
        case "nib" => lit("h")
        case "pbk" => pmod(col("doc_id"), lit(16)).cast("int")
        case h => col("sig8").as(h)
      }: _*)
    hotRows.write.mode(org.apache.spark.sql.SaveMode.Append)
      .insertInto(idxTbl)
    val dropped = AppendJob.compactIndex(spark, db)
    assert(dropped == 1, s"exactly the planted bucket must drop: $dropped")
    val after = spark.table(idxTbl).count()
    assert(after == before,
      s"compaction must remove only the planted bucket: $before -> $after")
    assert(spark.table(idxTbl)
      .filter(col("key") === "hotbucketkey").count() == 0)
    // compacting an already-clean index is a no-op
    assert(AppendJob.compactIndex(spark, db) == 0)
  }

  test("upsert rewrites only touched buckets, replaces index rows, drops emptied partitions") {
    import spark.implicits._
    val db2 = "graft_lake_upsert"
    AppendJob.reset(spark, db2)
    val docs = Tables.documents(spark, sfDir)
    AppendJob.seed(spark, docs, db2)
    val seedN = spark.table(s"$db2.docs_corpus").count()

    // plant a stale index row for updated doc 1, in its own bucket
    // pbk=1: the upsert's rewrite of that bucket must drop it
    val idxTbl = s"$db2.docs_mhidx"
    val idxCols = spark.table(idxTbl).columns
    Seq((1L, "zz")).toDF("doc_id", "sig")
      .select(idxCols.map {
        case "doc_id" => col("doc_id")
        case "band" => lit(99)
        case "key" => lit("plantedstalekey")
        case "nib" => lit("z")
        case "pbk" => lit(1)
        case other => col("sig").as(other)
      }: _*)
      .write.mode(org.apache.spark.sql.SaveMode.Append).insertInto(idxTbl)

    // untouched-bucket fingerprints of bucket pbk=5 in both tables
    def fingerprint5() = Seq("docs_corpus", "docs_mhidx")
      .map(fingerprint(db2, _, 5))
    val before5 = fingerprint5()

    // 3 updates (ids 0,1,2 → buckets 0,1,2) with disjoint new vocabulary,
    // plus 2 inserts (ids 990000,990001 → buckets 0,1)
    def freshText(tag: String) = (1 to 20).map(i => s"uu${tag}w$i").mkString(" ")
    val upserts = (Seq(0L, 1L, 2L).map(id =>
        (id, freshText(s"u$id"), "en", "srcU", 100L)) ++
      Seq((990000L, freshText("n0"), "en", "srcU", 100L),
          (990001L, freshText("n1"), "en", "srcU", 100L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")

    val rep = AppendJob.upsertDocuments(spark, upserts, db2)
    assert(rep.nUpserts == 5 && rep.nUpdated == 3 && rep.nInserted == 2, s"$rep")
    assert(rep.corpusBucketsRewritten == 3, // buckets 0, 1, 2
      s"upsert must touch exactly the 3 hit buckets: $rep")
    assert(rep.idxBucketsRewritten == 3, // same buckets in the index
      s"upsert must rewrite exactly the 3 hit index buckets: $rep")

    // corpus: pure updates don't grow it, inserts do; text is replaced
    assert(spark.table(s"$db2.docs_corpus").count() == seedN + 2)
    val newText0 = spark.table(s"$db2.docs_corpus")
      .filter(col("doc_id") === 0L).select("text").collect()(0).getString(0)
    assert(newText0.startsWith("uuu0w1 "), s"doc 0 text not replaced: $newText0")

    // untouched bucket: byte-identical file sets in both tables
    assert(fingerprint5() == before5,
      "bucket pbk=5 was rewritten by an upsert that never touched it")

    // index: stale rows gone (planted row AND old signatures),
    // new rows present for every upserted doc
    assert(spark.table(idxTbl).filter(col("band") === 99).count() == 0,
      "planted stale row still readable")
    val updatedRows = spark.table(idxTbl)
      .filter(col("doc_id").isin(0L, 1L, 2L, 990000L, 990001L))
      .groupBy("doc_id").count().collect()
    assert(updatedRows.length == 5 &&
      updatedRows.forall(_.getLong(1) == 12L),
      s"every upserted doc needs exactly BANDS index rows: " +
        updatedRows.mkString(", "))
    AppendJob.reset(spark, db2)
  }

  test("delete removes docs and their index rows, rewriting only hit partitions") {
    import spark.implicits._
    val db3 = "graft_lake_delete"
    AppendJob.reset(spark, db3)
    AppendJob.seed(spark, Tables.documents(spark, sfDir), db3)
    val seedN = spark.table(s"$db3.docs_corpus").count()

    def fingerprint7() = Seq("docs_corpus", "docs_mhidx")
      .map(fingerprint(db3, _, 7))
    val before7 = fingerprint7()

    // ids 3 and 20 live in buckets 3 and 4
    val rep = AppendJob.deleteDocuments(spark, Seq(3L, 20L).toDF("doc_id"), db3)
    assert(rep.nRequested == 2 && rep.nDeleted == 2, s"$rep")
    assert(rep.corpusBucketsRewritten == 2 && rep.corpusBucketsDropped == 0 &&
      rep.idxBucketsRewritten == 2 && rep.idxBucketsDropped == 0,
      s"delete must rewrite exactly the 2 hit buckets: $rep")
    assert(spark.table(s"$db3.docs_corpus").count() == seedN - 2)
    assert(spark.table(s"$db3.docs_corpus")
      .filter(col("doc_id").isin(3L, 20L)).count() == 0)
    assert(spark.table(s"$db3.docs_mhidx")
      .filter(col("doc_id").isin(3L, 20L)).count() == 0,
      "index must forget deleted docs (their text can no longer match)")
    assert(fingerprint7() == before7,
      "bucket pbk=7 was rewritten by a delete that never touched it")

    // deleting a nonexistent id is a complete no-op
    val rep2 = AppendJob.deleteDocuments(spark, Seq(999999L).toDF("doc_id"), db3)
    assert(rep2.nDeleted == 0 && rep2.corpusBucketsRewritten == 0 &&
      rep2.idxBucketsRewritten == 0, s"$rep2")
    assert(spark.table(s"$db3.docs_corpus").count() == seedN - 2)

    // deleting every doc of bucket 11 drops that partition from both tables
    val bucket11 = spark.table(s"$db3.docs_corpus")
      .filter(col("pbk") === 11).select("doc_id")
    val n11 = bucket11.count()
    val rep3 = AppendJob.deleteDocuments(spark, bucket11, db3)
    assert(rep3.nDeleted == n11 && rep3.corpusBucketsRewritten == 0 &&
      rep3.corpusBucketsDropped == 1 && rep3.idxBucketsRewritten == 0 &&
      rep3.idxBucketsDropped == 1, s"$rep3")
    Seq("docs_corpus", "docs_mhidx").foreach { t =>
      val parts = spark.sql(s"SHOW PARTITIONS $db3.$t").collect().map(_.getString(0))
      assert(!parts.contains("pbk=11"), s"$t still lists pbk=11: ${parts.mkString(",")}")
      assert(spark.table(s"$db3.$t").filter(col("pbk") === 11).isEmpty)
    }
    AppendJob.reset(spark, db3)
  }

  test("index partitions by the corpus doc bucket: <= 16 partitions, <= 16 files per append") {
    val dbl = "graft_lake_layout"
    AppendJob.reset(spark, dbl)
    val docs = Tables.documents(spark, sfDir)
    val day = pmod(col("doc_id"), lit(graft.operators.Dedup.BATCH_MOD))
    AppendJob.seed(spark, docs.filter(!day.isin(3, 4, 5)), dbl)
    val idxTbl = s"$dbl.docs_mhidx"
    val idxDir = java.nio.file.Paths.get(warehouse, s"$dbl.db", "docs_mhidx")
    def idxFiles() = {
      val s = java.nio.file.Files.walk(idxDir)
      try s.toArray.count(_.toString.endsWith(".parquet"))
      finally s.close()
    }
    Seq(3, 4, 5).foreach { rem =>
      val before = idxFiles()
      val r = AppendJob.appendBatch(spark, docs.filter(day === rem), dbl)
      assert(r.nAppended > 0, s"day $rem should append novel docs: $r")
      assert(idxFiles() - before <= 16,
        s"append of day $rem added ${idxFiles() - before} index files")
    }
    assert(partitionCols(idxTbl) == Seq("pbk"))
    assert(spark.sql(s"SHOW PARTITIONS $idxTbl").count() <= 16)
    assert(spark.table(idxTbl)
      .filter(col("pbk") =!= pmod(col("doc_id"), lit(16))).isEmpty,
      "every index row must sit in its doc's bucket")
    AppendJob.reset(spark, dbl)
  }

  test("seed re-keys an old (band, nib) index on pbk once, row for row") {
    val dbm = "graft_lake_migrate"
    AppendJob.reset(spark, dbm)
    val docs = Tables.documents(spark, sfDir)
    AppendJob.seed(spark, docs, dbm)
    val idxTbl = s"$dbm.docs_mhidx"
    // the earlier layout's write, over the same rows
    val old = spark.table(idxTbl).drop("pbk").localCheckpoint()
    spark.sql(s"DROP TABLE $idxTbl")
    old.write.partitionBy("band", "nib").saveAsTable(idxTbl)
    assert(partitionCols(idxTbl) == Seq("band", "nib"))
    def rows() = spark.table(idxTbl).select(old.columns.map(col): _*)
      .collect().map(_.toString).sorted.toSeq
    val before = rows()

    AppendJob.seed(spark, docs, dbm)
    assert(partitionCols(idxTbl) == Seq("pbk"))
    assert(rows() == before, "re-key must keep the index row for row")
    AppendJob.reset(spark, dbm)
  }

  test("summary stays delta-consistent through append, upsert and delete") {
    import spark.implicits._
    val db4 = "graft_lake_summary"
    AppendJob.reset(spark, db4)
    AppendJob.seed(spark, Tables.documents(spark, sfDir)
      .filter(pmod(col("doc_id"), lit(graft.operators.Dedup.BATCH_MOD))
        =!= graft.operators.Dedup.BATCH_REM), db4)
    AppendJob.ensureSummary(spark, db4)

    def recomputed() = spark.table(s"$db4.docs_corpus")
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("text").isNull, lit(0))
          .otherwise(size(split(col("text"), " "))).cast("long")).as("n_tokens"))
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3))).toSet
    def summary() = spark.table(s"$db4.docs_summary")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3))).toSet
    assert(summary() == recomputed(), "ensure must match a fresh aggregate")

    AppendJob.appendDocuments(spark, sfDir, db4)
    assert(summary() == recomputed(), "append delta diverged")

    def freshText(tag: String) = (1 to 25).map(i => s"ss${tag}w$i").mkString(" ")
    AppendJob.upsertDocuments(spark, Seq(
      (0L, freshText("a"), "en", "srcS", 100L),
      (7L, freshText("b"), "de", "srcS", 100L),
      (880000L, freshText("c"), "en", "srcS", 100L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"), db4)
    assert(summary() == recomputed(), "upsert delta (retract + add) diverged")

    AppendJob.deleteDocuments(spark, Seq(7L, 880000L).toDF("doc_id"), db4)
    assert(summary() == recomputed(), "delete retraction diverged")

    // a NULL text counts 0 tokens, whether size(NULL) is -1 (ANSI off)
    // or NULL (ANSI on): one NULL doc joins a populated group, one opens
    // an all-NULL group
    Seq("false" -> (0L, "en", "srcS"), "true" -> (880001L, "en", "srcN"))
      .foreach { case (ansi, (id, lang, source)) =>
        withConf("spark.sql.ansi.enabled" -> ansi) {
          AppendJob.upsertDocuments(spark,
            Seq((id, Option.empty[String], lang, source, 0L))
              .toDF("doc_id", "text", "lang", "source", "n_chars"), db4)
          assert(summary() == recomputed(), s"NULL-text upsert diverged (ansi=$ansi)")
          assert(summary().forall(_._4 >= 0), s"negative n_tokens (ansi=$ansi)")
        }
      }
    AppendJob.reset(spark, db4)
  }

  test("corpus compaction merges fragmented buckets and leaves compact ones alone") {
    import spark.implicits._
    val db5 = "graft_lake_compact"
    AppendJob.reset(spark, db5)
    AppendJob.seed(spark, Tables.documents(spark, sfDir), db5)
    val seedN = spark.table(s"$db5.docs_corpus").count()

    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    def bucketDir(b: Int) = java.nio.file.Paths.get(warehouse, s"$db5.db",
      "docs_corpus", s"pbk=$b")
    def files(b: Int) = {
      val s = java.nio.file.Files.list(bucketDir(b))
      try s.toArray.map(_.toString).filter(_.endsWith(".parquet")).toSet
      finally s.close()
    }

    // 5 appends of 2 novel docs each, all ids ≡ 9 (mod 16) → bucket 9
    // fragments file-per-batch while bucket 3 is never touched
    val before3 = files(3)
    (1 to 5).foreach { b =>
      val batch = Seq(
        (700000L + b * 16 + 9, (1 to 20).map(i => s"cc${b}a$i").mkString(" "),
          "en", "srcC", 100L),
        (710000L + b * 16 + 9, (1 to 20).map(i => s"cc${b}b$i").mkString(" "),
          "en", "srcC", 100L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      AppendJob.appendBatch(spark, batch, db5)
    }
    assert(files(9).size > 4,
      s"appends should fragment bucket 9: ${files(9).size} files")
    assert(spark.table(s"$db5.docs_corpus").count() == seedN + 10)

    val n = AppendJob.compactCorpus(spark, db5, maxFiles = 4)
    assert(n >= 1, s"fragmented bucket must compact: $n")
    assert(files(9).size == 1,
      s"bucket 9 should be a single file after OPTIMIZE: ${files(9).size}")
    assert(files(3) == before3,
      "compaction rewrote a bucket that was already compact")
    assert(spark.table(s"$db5.docs_corpus").count() == seedN + 10,
      "compaction must not change the data")
    assert(AppendJob.compactCorpus(spark, db5, maxFiles = 4) == 0,
      "second compaction must be a no-op")
    AppendJob.reset(spark, db5)
  }

  test("corpus table holds exactly corpus-seed plus novel batch docs") {
    // runs after the test above (same suite instance ordering); re-derive
    // the expectation independently of AppendReport
    val total = Tables.documents(spark, sfDir).count()
    val batch = Tables.documents(spark, sfDir)
      .filter(pmod(col("doc_id"), lit(graft.operators.Dedup.BATCH_MOD))
        === graft.operators.Dedup.BATCH_REM)
      .count()
    val corpus = spark.table(s"$db.docs_corpus").count()
    assert(corpus >= total - batch,
      "corpus must contain at least the seed docs")
    assert(corpus <= total,
      "corpus can never exceed seed + full batch")
    // every row in the corpus table is unique by doc_id (append never
    // duplicated a doc)
    val dupRows = spark.table(s"$db.docs_corpus")
      .groupBy("doc_id").count().filter(col("count") > 1).count()
    assert(dupRows == 0, s"$dupRows doc_ids duplicated by append")
  }
}
