package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed EXACT global ntile — the fleet-standard replacement for
  * `ntile(n).over(Window.orderBy(...))`, which funnels every row through
  * ONE task's sort (the canonical window scale-killer; see
  * [[Breadth.balanceQuartiles]], where this decomposition was first
  * documented). The result is IDENTICAL to the single-task window at
  * every scale, provided `keys` is a unique total order:
  *
  *   1. `repartitionByRange` on the total-order keys — Spark's sampled
  *      range exchange, fully parallel;
  *   2. `row_number` per range partition (each window group is exactly
  *      one data partition, so the sort is partition-local);
  *   3. global rank = per-partition offset + local row number, where
  *      offsets come from a triangular self-join over the per-partition
  *      counts (≤ #shuffle-partitions rows — cluster-bounded, not
  *      data-bounded — and broadcast back);
  *   4. the exact ntile split over (rank, N): with base = N div n and
  *      rem = N mod n, buckets 1..rem hold base+1 rows, the rest base —
  *      the same fill rule Spark and DuckDB both implement.
  */
object DistNtile {

  /** Steps 1–3, weighted: range exchange on `keys`, per-partition running
    * sum of `weight`, offsets = total weight of all lower-ranged partitions
    * (triangular join over the ≤#shuffle-partitions count frame,
    * broadcast back). Returns `df` with long column `out` = the global
    * INCLUSIVE prefix sum, and the count frame (`_dn_pid`, `_dn_cnt`). */
  private def rangeRank(df: DataFrame, keys: Seq[Column], weight: Column,
                        out: String): (DataFrame, DataFrame) = {
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // localCheckpoint is NOT an optimization: the counts branch and the
    // window branch below both consume `keyed`, and without pinning,
    // each execution RESAMPLES the range boundaries from the upstream
    // shuffle output — whose intra-partition row order is
    // nondeterministic — so the two branches can see DIFFERENT
    // partitionings and the offset join silently corrupts ranks
    // (observed: three executions, three boundary sets). One eager
    // materialization makes every consumer read identical blocks.
    val keyed = df.repartitionByRange(parts, keys: _*)
      .withColumn("_dn_pid", spark_partition_id())
      .withColumn("_dn_w", weight.cast("long"))
      .localCheckpoint()
    val counts = keyed.groupBy("_dn_pid").agg(sum("_dn_w").as("_dn_cnt"))
    val offsets = counts.as("a")
      .join(counts.as("b"), col("b._dn_pid") < col("a._dn_pid"), "left")
      .groupBy(col("a._dn_pid").as("_dn_pid"))
      .agg(coalesce(sum("b._dn_cnt"), lit(0L)).as("_dn_off"))
    val localW = Window.partitionBy("_dn_pid").orderBy(keys: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = keyed
      .withColumn("_dn_rn", sum("_dn_w").over(localW))
      .join(broadcast(offsets), "_dn_pid")
      .withColumn(out, col("_dn_off") + col("_dn_rn"))
      .drop("_dn_pid", "_dn_w", "_dn_rn", "_dn_off")
    (ranked, counts)
  }

  /** Append long column `out` = exact global INCLUSIVE prefix sum of
    * `weight` under the total order `keys` — the weighted generalization
    * of steps 1–3 ([[rangeRank]]). With weight = 1 this is the global row
    * number; with weight = a tie-run count over a DISTINCT-value frame it
    * yields rank boundaries without ever ranking facts (the Spearman
    * shape). `keys` must be a unique total order within `df`. */
  def withPrefixSum(df: DataFrame, keys: Seq[Column], weight: Column,
                    out: String): DataFrame =
    rangeRank(df, keys, weight, out)._1

  /** Append long column `out` = exact global row_number (1-based) of
    * `df` under the total order `keys` — [[withPrefixSum]] with
    * weight 1, for consumers that need the RANK itself (top-fraction
    * cuts) rather than the bucket. Same contract as [[withNtile]]:
    * `keys` must be a unique total order, or ranks within a tie run are
    * partition-dependent (fine for tie-symmetric consumers like min+max
    * over the tie group). */
  def withRank(df: DataFrame, keys: Seq[Column], out: String): DataFrame =
    withPrefixSum(df, keys, lit(1L), out)

  /** Append long column `out` = exact global ntile(`buckets`) of `df`
    * under the total order `keys` (pass `col(...).asc/.desc` forms; they
    * feed both the range exchange and the local sort). `keys` MUST be a
    * unique total order (add an id tiebreak) or results are
    * partition-dependent, exactly as with the window form. */
  def withNtile(df: DataFrame, buckets: Int, keys: Seq[Column],
                out: String): DataFrame = {
    val (ranked, counts) = rangeRank(df, keys, lit(1L), "_dn_rnk")
    val total = counts.agg(sum("_dn_cnt").as("_dn_total"))
    val base = floor(col("_dn_total") / buckets).cast("long")
    val rem  = (col("_dn_total") % buckets).cast("long")
    val head = rem * (base + lit(1L)) // rows covered by the base+1 buckets
    ranked
      .crossJoin(broadcast(total))
      // when N < buckets, base = 0 and every rank falls in the head
      // branch, so the otherwise-branch division never evaluates
      .withColumn(out,
        when(col("_dn_rnk") <= head,
             floor((col("_dn_rnk") - 1) / (base + lit(1L))).cast("long") + 1L)
          .otherwise(
             rem + floor((col("_dn_rnk") - head - 1) / base).cast("long") + 1L))
      .drop("_dn_total", "_dn_rnk")
  }
}
