package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RefQueries.flagship(spark, "/root/testdata/sf0.001")

  /** Every registered query, one per implemented operator (SURVEY.md §2). */
  private lazy val registry: Seq[Q] = Seq(
    RefQueries.all, Breadth.all, JoinsPlus.all, TextAnalysis.all, Dedup.all,
    Similarity.all, Multimodal.all, TrainPipeline.all, Curation.all,
    Layout.all, Profiling.all, Bpe.all, Graph.all, Inference.all,
    sources.Ddl.all, sources.SnapshotLake.all).flatten

  /** Raw registration order, pre-Map — RegistryContractSpec asserts name
    * uniqueness here (a duplicate would otherwise be silently dropped by
    * the Map, shadowing one operator behind another). */
  private[graft] def registeredNames: Seq[String] = registry.map(_.name)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
