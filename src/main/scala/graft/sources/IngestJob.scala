package graft.sources

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The composed end-to-end ingestion job — parity with the reference's only
  * real program, job1's `main()`
  * (`/root/reference/job1-DDL_Load_Data_Spark_Iceberg.py:120-177,278-340`):
  * load a set of header'd CSVs → validate ALL of them → fail fast before
  * any write if any is invalid → create the namespace → overwrite-write
  * each table in its declared layout (bucketed facts, identity-partitioned
  * dims, plain smalls).
  *
  * Deliberate differences from the reference:
  *  - validation is collected for EVERY table first and the job aborts
  *    before the first write (the reference validates, then re-validates
  *    inside an `all(...)`, and exits mid-sequence on write errors —
  *    `job1:171-177` — which can leave a half-written warehouse);
  *  - per-table layout is part of the declaration (the reference splits
  *    layout into separate hand-written DDL strings, `job1:184-275`);
  *  - failures raise a typed exception carrying every failing report, so a
  *    scheduler can retry/alert without scraping logs (`job1:114` is
  *    log-and-sys.exit).
  *
  * At 100 TB the expensive part is the write shuffle for bucketed facts —
  * paid once here, amortized over every later shuffle-free fact⋈fact join
  * (see [[Ddl]]'s rationale). Validation is metadata + a limit-1 probe per
  * table, so the fail-fast path costs no full scan.
  */
object IngestJob {

  /** One table of the ingestion manifest. `schemaDdl` is an optional
    * Spark DDL string ("a INT, b STRING") — the analog of the reference's
    * typed CREATE TABLE column lists (`job1:184-275`). When present the
    * CSV read uses it directly, skipping inference's extra full scan of
    * the file (the right call for any recurring production load). */
  final case class TableSpec(
      name: String,
      path: String,
      expectedColumns: Seq[String],
      layout: Layout = Plain,
      schemaDdl: Option[String] = None)

  sealed trait Layout
  /** Hash-bucketed on a join key — the fact layout (`job1:224,239,248`'s
    * `bucket(16, ...)` transform, as Hive bucketing). */
  final case class Bucketed(key: String, buckets: Int = 16) extends Layout
  /** Identity-partitioned on a low-cardinality column — the dim layout
    * (`job1:256`'s `PARTITIONED BY (completion_date)` analogue). */
  final case class IdentityPartitioned(key: String) extends Layout
  /** Unpartitioned — small dims (`job1:262-275`). */
  case object Plain extends Layout

  final case class ValidationFailed(reports: Seq[Ingest.ValidationReport])
      extends RuntimeException(
        "ingestion aborted before any write; invalid tables: " +
          reports.map(r => s"${r.alias}(empty=${r.isEmpty}, " +
            s"missing=${r.missingColumns.mkString(",")})").mkString("; "))

  /** Load, validate (all tables, fail-fast before any write), create the
    * namespace, and overwrite-write every table in its declared layout.
    * Returns the per-table validation reports on success. */
  def run(spark: SparkSession, specs: Seq[TableSpec],
          db: String = "bootcamp"): Seq[Ingest.ValidationReport] = {
    val loaded: Seq[(TableSpec, DataFrame)] =
      specs.map { t =>
        val schema = t.schemaDdl.map(
          org.apache.spark.sql.types.StructType.fromDDL)
        t -> Ingest.loadCsv(spark, t.path, t.name, schema = schema)
      }
    val reports = loaded.map { case (t, df) =>
      Ingest.validate(df, t.name, t.expectedColumns)
    }
    val bad = reports.filterNot(_.ok)
    if (bad.nonEmpty) throw ValidationFailed(bad)

    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    loaded.foreach { case (t, df) =>
      dropStale(spark, db, t.name)
      val w = df.write.mode(SaveMode.Overwrite)
      t.layout match {
        case Bucketed(key, n) =>
          w.bucketBy(n, key).sortBy(key).saveAsTable(s"$db.${t.name}")
        case IdentityPartitioned(key) =>
          w.partitionBy(key).saveAsTable(s"$db.${t.name}")
        case Plain =>
          w.saveAsTable(s"$db.${t.name}")
      }
    }
    reports
  }

  /** An in-memory catalog forgets tables across JVMs but their files
    * survive in the warehouse dir; saveAsTable then fails with
    * LOCATION_ALREADY_EXISTS. Drop both the entry and any stale location
    * — the one warehouse reset of the lake path ([[Ddl.createWarehouse]]
    * and [[AppendJob]] call it too). */
  private[sources] def dropStale(spark: SparkSession, db: String,
                                 table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $db.$table")
    SnapshotLake.deleteRecursively(Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      s"$db.db", table))
  }

  /** The harness-schema manifest mirroring the reference's five-table job:
    * two bucketed facts on the join key, one identity-partitioned dim, two
    * plain dims. `csvDir` holds `<name>.csv` exports. */
  def harnessManifest(csvDir: String): Seq[TableSpec] = Seq(
    TableSpec(s"lineitem_w", s"$csvDir/lineitem.csv",
      Seq("l_orderkey", "l_quantity"), Bucketed("l_orderkey")),
    TableSpec(s"orders_w", s"$csvDir/orders.csv",
      Seq("o_orderkey", "o_orderpriority"), Bucketed("o_orderkey")),
    TableSpec(s"nation_w", s"$csvDir/nation.csv",
      Seq("n_nationkey", "n_regionkey"), IdentityPartitioned("n_regionkey")),
    TableSpec(s"region_w", s"$csvDir/region.csv", Seq("r_regionkey")),
    TableSpec(s"supplier_w", s"$csvDir/supplier.csv", Seq("s_suppkey")))

  /** CLI parity with the reference's `main()`: args = csvDir [db]. */
  def main(args: Array[String]): Unit = {
    val csvDir = args.headOption.getOrElse(
      sys.error("usage: IngestJob <csvDir> [db]"))
    val db = args.lift(1).getOrElse("bootcamp")
    // one core count sizes both the local master and the shuffle width;
    // $SPARK_GRAFT_MASTER points the job at a cluster instead
    val spark = graft.GraftSession(graft.GraftSession.cpus(32), "graft-ingest",
      sys.env.get("SPARK_GRAFT_MASTER"))
    try {
      val reports = run(spark, harnessManifest(csvDir), db)
      reports.foreach(r => println(s"INGEST OK ${r.alias}"))
    } finally spark.stop()
  }
}
