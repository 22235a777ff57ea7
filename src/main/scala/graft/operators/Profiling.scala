package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import Fmt.fix4

/** Data-profiling operators a lake operator runs before trusting a table:
  * value-distribution histograms and key-skew detection. Both are the
  * diagnostic half of the scale story — the skew profile is exactly what
  * decides whether a join needs salting or an AQE skew split, and the
  * histogram is the input to range-partitioning and z-order bucket
  * boundaries ([[Layout]]).
  *
  * Scale posture: each is one scan plus aggregate-cardinality shuffles —
  * per-bin / per-key counts, never rows. The scalar bounds frame (1 row)
  * broadcasts back onto the aggregate, not onto the scan.
  */
object Profiling {

  private val N_BINS = 16
  private val TOP_KEYS = 20

  /** Equi-width histogram of lineitem.l_extendedprice: two aggregation
    * passes (global min/max, then per-bin counts) — the classic shape at
    * any scale, since bin boundaries cannot be known before the bounds
    * are. The bounds are a 1-row broadcast; the per-row bin id is computed
    * inside the scan stage, so the only shuffle is the 16-row bin
    * aggregate. Values exactly at the max land in the last bin (the
    * standard closed-top convention). */
  def histogram(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select("l_extendedprice")
    val bounds = li.agg(min("l_extendedprice").as("lo"),
      max("l_extendedprice").as("hi"))
    val w = (col("hi") - col("lo")) / lit(N_BINS.toDouble)
    li.join(broadcast(bounds))
      .select(least(floor((col("l_extendedprice") - col("lo")) / w),
        lit((N_BINS - 1).toDouble)).cast("int").as("bin"),
        col("lo"), col("hi"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_items"),
        // 4-dp rounding via floor(x·1e4 + 0.5)/1e4 — pure IEEE arithmetic,
        // bit-identical across engines. round() is NOT: Spark rounds the
        // shortest decimal repr (BigDecimal HALF_UP) while DuckDB rounds
        // the binary double, and a bin boundary landing on a .00005 tie
        // flips the 4th decimal between them.
        (floor((first(col("lo")) + col("bin") *
          first((col("hi") - col("lo")) / lit(N_BINS.toDouble))) * lit(10000.0) + lit(0.5))
          / lit(10000.0)).as("bin_lo"))
      .select(col("bin"), col("bin_lo"), col("n_items"))
      .orderBy("bin")
  }

  private val histogramSql =
    s"""WITH b AS (
       |  SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
       |  FROM lineitem),
       |binned AS (
       |  SELECT CAST(least(floor((l_extendedprice - lo) / ((hi - lo) / ${N_BINS}.0)),
       |                    ${N_BINS - 1}.0) AS INTEGER) AS bin,
       |         lo, hi
       |  FROM lineitem, b)
       |SELECT bin,
       |       floor((min(lo) + bin * min((hi - lo) / ${N_BINS}.0)) * 10000.0 + 0.5)
       |         / 10000.0 AS bin_lo,
       |       count(*) AS n_items
       |FROM binned GROUP BY bin ORDER BY bin""".stripMargin

  private val ED_BINS = 10

  /** Exact interpolated quantiles by DISTRIBUTED order-statistic
    * selection — the scale-true replacement for `percentile()`'s
    * single-buffer aggregate (which materializes every distinct value in
    * ONE task's OpenHashMap: fine at fixture scale, an OOM at 100 TB).
    * Range-partitioned sort, then only the ≤ 2·|ps| globally-indexed
    * elements the quantile positions touch come to the driver; the
    * interpolation applies Spark Percentile's exact two-sided form
    * ((hi−pos)·v_lo + (pos−lo)·v_hi), so results are bit-identical to
    * the aggregate this replaces (and to DuckDB's quantile_cont, the
    * established pairing). Cost is a few small parallel jobs instead of
    * one unbounded-buffer aggregate. */
  private[graft] def exactQuantiles(xs0: DataFrame, c: String,
                                    ps: Seq[Double]): Seq[Double] = {
    val sorted = xs0.select(col(c).cast("double")).na.drop()
      .rdd.map(_.getDouble(0)).sortBy(identity)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = sorted.count()
    if (n == 0L) {
      // Empty / all-null column: `percentile()` (and DuckDB quantile_cont)
      // return NULL; NaN is the Seq[Double] spelling of that. Without the
      // short-circuit, pos = p·(n−1) = −p and idxVal(-1) would throw an
      // unnamed NoSuchElementException (ADVICE r6).
      sorted.unpersist(false)
      return ps.map(_ => Double.NaN)
    }
    val needed = ps.flatMap { p =>
      val pos = p * (n - 1)
      Seq(math.floor(pos).toLong, math.ceil(pos).toLong)
    }.toSet
    val idxVal = sorted.zipWithIndex()
      .filter { case (_, i) => needed.contains(i) }
      .map(_.swap).collect().toMap
    sorted.unpersist(false)
    ps.map { p =>
      val pos = p * (n - 1)
      val lo = math.floor(pos).toLong
      val hi = math.ceil(pos).toLong
      if (hi == lo) idxVal(lo)
      else (hi - pos) * idxVal(lo) + (pos - lo) * idxVal(hi)
    }
  }

  /** Per-GROUP exact interpolated quantiles by windowed order-statistic
    * selection — the grouped sibling of [[exactQuantiles]], replacing
    * `percentile() GROUP BY k`'s per-group value buffer. The group
    * counts collect to the driver (group cardinality is
    * dimension-bounded for every caller — event types, return flags),
    * the rank window's sort SPILLS instead of buffering, and only the
    * ≤ 2·|ps| needed elements per group reach the driver, where the
    * interpolation applies Spark Percentile's exact two-sided form.
    * Parallelism is bounded by group count (the sort is per-group) —
    * memory-safe over unbounded group SIZES, which is the failure mode
    * that matters at 100 TB.
    *
    * Degenerate-group contract (explicit, ADVICE r6): a group whose
    * values are ALL null does not appear in the result map — callers
    * that need the old `percentile()` NULL-row behavior must left-join
    * their key domain against this map and treat absence as null. Both
    * current callers run over never-null TPC-H measures, so the choice
    * is oracle-invisible; dropping is the honest spelling ("no value
    * has a quantile") and keeps the map total on its keys. */
  private[graft] def groupedQuantiles(df: DataFrame, key: String, v: String,
                                      ps: Seq[Double]): Map[String, Seq[Double]] = {
    val s = df.sparkSession
    import s.implicits._
    val xs = df.select(col(key).cast("string").as("k"),
      col(v).cast("double").as("x")).na.drop()
    val counts = xs.groupBy("k").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val needed = counts.toSeq.flatMap { case (k, n) =>
      ps.flatMap { p =>
        val pos = p * (n - 1)
        Seq(k -> math.floor(pos).toLong, k -> math.ceil(pos).toLong)
      }
    }.distinct
    val needDf = needed.toDF("k", "idx")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy("x")
    // A DistNtile.withRank range-partitioned rewrite was measured here
    // and LOST (2.5 s: its eager localCheckpoint + offset jobs cost more
    // than the per-group sorts at any group count ≥ 2) — kept the boring
    // window, documented the loser.
    val got = xs
      .withColumn("idx", row_number().over(w).cast("long") - 1L)
      .join(broadcast(needDf), Seq("k", "idx"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    counts.map { case (k, n) =>
      k -> ps.map { p =>
        val pos = p * (n - 1)
        val lo = math.floor(pos).toLong
        val hi = math.ceil(pos).toLong
        if (hi == lo) got((k, lo))
        else (hi - pos) * got((k, lo)) + (pos - lo) * got((k, hi))
      }
    }
  }

  /** EQUI-DEPTH histogram of lineitem.l_extendedprice — the quantile
    * complement of [[histogram]]: bin boundaries are the exact deciles,
    * so bins hold ~equal row counts and the boundary VALUES carry the
    * distribution shape (the input range-partitioning and z-order
    * bucketing want — equal-work splits, not equal-width ones).
    *
    * Boundaries come from [[exactQuantiles]] (distributed selection, no
    * single-buffer aggregate) and inline as LITERALS, so the bin
    * assignment is a 9-comparison codegen expression inside the scan —
    * no join, no array probe. Boundary doubles match DuckDB's
    * quantile_cont exactly (the [[winsorized]] precedent); displayed
    * edges floor to 4 dp. */
  def equidepthHist(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_extendedprice").as("x"))
    val bs = exactQuantiles(li, "x", (0 until ED_BINS).map(_ / 10.0))
    val binCol = bs.drop(1)
      .map(b => when(col("x") > lit(b), 1).otherwise(0))
      .reduce(_ + _)
    val bsCol = array(bs.map(lit): _*)
    li.select(binCol.cast("long").as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_items"))
      .select(col("bin"),
        (floor(element_at(bsCol, (col("bin") + lit(1)).cast("int"))
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("bin_lo"),
        col("n_items"))
      .orderBy("bin")
  }

  private val equidepthHistSql = {
    val ps = (0 until ED_BINS).map(k => s"${k / 10.0}").mkString(", ")
    s"""WITH b AS (
       |  SELECT quantile_cont(l_extendedprice, [$ps]) AS bs FROM lineitem),
       |binned AS (
       |  SELECT len(list_filter(bs[2:$ED_BINS], y -> l_extendedprice > y))
       |           AS bin
       |  FROM lineitem, b),
       |c AS (SELECT bin, count(*) AS n_items FROM binned GROUP BY bin)
       |SELECT c.bin,
       |       floor(b.bs[c.bin + 1] * 10000.0 + 0.5) / 10000.0 AS bin_lo,
       |       c.n_items
       |FROM c, b ORDER BY bin""".stripMargin
  }

  /** Key-skew profile of lineitem.l_partkey: the top-$TOP_KEYS heaviest
    * join keys with their share of all rows and their skew factor (count
    * over the mean per-key count). A skew factor ≫ 1 on a join key is the
    * signal that a plain hash join will strand its reducers — the number
    * this profile exists to surface before a 100 TB join is planned. One
    * scan; the shuffles carry (key, count) pairs and one stats row. */
  def skewProfile(s: SparkSession, dir: String): DataFrame = {
    val perKey = Tables.lineitem(s, dir)
      .groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
    val stats = perKey.agg(count(lit(1)).as("n_keys"),
      sum("cnt").as("total"))
    perKey.join(broadcast(stats))
      .select(col("l_partkey"), col("cnt"),
        Fmt.fix4(col("cnt") / col("total")).as("share"),
        Fmt.fix4(col("cnt") / (col("total") / col("n_keys"))).as("skew"))
      .orderBy(col("cnt").desc, col("l_partkey").asc)
      .limit(TOP_KEYS)
  }

  private val skewProfileSql =
    s"""WITH k AS (
       |  SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY l_partkey),
       |st AS (SELECT count(*) AS n_keys, sum(cnt) AS total FROM k)
       |SELECT l_partkey, cnt,
       |       floor(cnt / CAST(total AS DOUBLE) * 10000.0 + 0.5)
       |         / 10000.0 AS share,
       |       floor(cnt / (CAST(total AS DOUBLE) / n_keys) * 10000.0 + 0.5)
       |         / 10000.0 AS skew
       |FROM k, st
       |ORDER BY cnt DESC, l_partkey LIMIT $TOP_KEYS""".stripMargin

  /** Cross-source shingle-overlap matrix: for every pair of document
    * sources, how much word-3-gram content they share (count + Jaccard) —
    * the corpus-diversity / cross-source-contamination audit run before
    * mixing sources into a training set (a pair with high overlap means
    * the mixture double-counts the same text).
    *
    * Scale posture: the unit of work is the DISTINCT (source, shingle)
    * pair — each document's shingles collapse within the scan's partial
    * aggregate, and everything shuffled afterwards is a 32-char md5
    * digest + a source name, never text. The digest self-join fans out
    * at most C(|sources|, 2) rows per digest (sources are a handful),
    * so no posting cap is needed — the output cardinality is bounded by
    * the source-pair count, not the corpus. */
  /** Memoized distinct (source, shingle-digest) pair table for
    * [[sourceOverlap]]: a deterministic corpus artifact with FOUR
    * consumers (both self-join sides, both size-table sides) that a
    * per-query cache() rebuilt on every bench pass (caches are cleared
    * between queries; localCheckpoint blocks survive) — the
    * clusterLabels / affinityEdges / spearman lifecycle: narrow rows
    * (source + 32-char md5), first consumer pays (BuildMeter-flagged),
    * stopped sessions sweep out, in-place fixture change is a miss.
    * At 100 TB this is the write-the-pair-table-once step. */
  private val shPairMemo = new graft.Memo.Pinned[DataFrame]("documents")

  private def sourceShinglePairs(s: SparkSession, dir: String): DataFrame =
    shPairMemo(s, dir) {
      graft.functions.GraftFunctions.register(s)
      Tables.documents(s, dir)
        .select(col("source"),
          explode(expr("array_distinct(word_shingles(split(text, ' '), 3))"))
            .as("g"))
        .select(col("source"), md5(col("g")).as("h"))
        .distinct()
        .localCheckpoint()
    }

  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val sh = sourceShinglePairs(s, dir)
    val sizes = sh.groupBy("source").agg(count(lit(1)).as("n"))
    val shared = sh.as("x").join(sh.as("y"),
        col("x.h") === col("y.h") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    // every source pair appears, even at zero overlap: pair the (tiny)
    // size table with itself and left-join the shared counts onto it.
    val pairs = sizes.as("a").join(sizes.as("b"),
        col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
    pairs.join(shared, Seq("source_a", "source_b"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .select(col("source_a"), col("source_b"), col("na"), col("nb"),
        col("n_shared"),
        round(col("n_shared") /
          (col("na") + col("nb") - col("n_shared")).cast("double"), 4)
          .as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  private val sourceOverlapSql =
    """WITH sh AS (
      |  SELECT DISTINCT source, md5(g) AS h
      |  FROM (
      |    SELECT source,
      |           unnest(CASE WHEN len(string_split(text, ' ')) >= 3
      |             THEN list_transform(
      |               range(1, len(string_split(text, ' ')) - 1),
      |               i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))
      |             ELSE [] END) AS g
      |    FROM documents)),
      |sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
      |shared AS (
      |  SELECT x.source AS source_a, y.source AS source_b,
      |         count(*) AS n_shared
      |  FROM sh x JOIN sh y ON x.h = y.h AND x.source < y.source
      |  GROUP BY 1, 2)
      |SELECT a.source AS source_a, b.source AS source_b,
      |       a.n AS na, b.n AS nb,
      |       coalesce(sh.n_shared, 0) AS n_shared,
      |       round(coalesce(sh.n_shared, 0)
      |             / CAST(a.n + b.n - coalesce(sh.n_shared, 0) AS DOUBLE), 4)
      |         AS jaccard
      |FROM sizes a JOIN sizes b ON a.source < b.source
      |LEFT JOIN shared sh
      |  ON sh.source_a = a.source AND sh.source_b = b.source
      |ORDER BY source_a, source_b""".stripMargin

  /** Winsorized per-group statistics: doc length (n_chars) per language
    * with values clipped to the group's exact [p05, p95] band — the
    * outlier-robust mean a curation pipeline trusts over the raw mean
    * (one 500 MB crawl artifact shouldn't move a language's "typical
    * document length").
    *
    * Scale shape: pass 1 computes exact per-group percentiles (group
    * cardinality = |languages|, so the result is a broadcast frame);
    * pass 2 re-scans, clips each row against its group's band inside the
    * scan, and aggregates. FP discipline: clipped values are fixed to
    * integer micro-units (`floor(x·10⁶ + 0.5)` — pure IEEE ops) and
    * summed as BIGINT, so the winsorized mean is exact and
    * merge-order-independent in both engines. */
  def winsorized(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("lang", "n_chars")
    val bands = docs.groupBy("lang")
      .agg(expr("percentile(n_chars, array(0.05D, 0.95D))").as("p"))
      .select(col("lang"), col("p")(0).as("p05"), col("p")(1).as("p95"))
    docs.join(broadcast(bands), "lang")
      .withColumn("clipped",
        least(greatest(col("n_chars").cast("double"), col("p05")), col("p95")))
      .withColumn("clip_u",
        floor(col("clipped") * lit(1000000.0d) + lit(0.5d)))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        // integer-valued double sums are exact; the quotient is one IEEE
        // division, so floor-rounding (not round()) keeps ties portable
        (floor(sum(col("n_chars").cast("double")) / count(lit(1))
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("raw_mean"),
        (floor(sum("clip_u") / lit(1000000.0d) / count(lit(1))
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("wins_mean"),
        round(min("p05"), 4).as("p05"), round(min("p95"), 4).as("p95"))
      .orderBy("lang")
  }

  private val winsorizedSql =
    """WITH bands AS (
      |  SELECT lang,
      |         quantile_cont(n_chars, 0.05) AS p05,
      |         quantile_cont(n_chars, 0.95) AS p95
      |  FROM documents GROUP BY lang),
      |clipped AS (
      |  SELECT d.lang,
      |         CAST(d.n_chars AS DOUBLE) AS raw,
      |         CAST(floor(least(greatest(CAST(d.n_chars AS DOUBLE), b.p05),
      |                          b.p95) * 1000000.0 + 0.5) AS BIGINT) AS clip_u
      |  FROM documents d JOIN bands b ON d.lang = b.lang)
      |SELECT c.lang, count(*) AS n_docs,
      |       floor(CAST(sum(raw) AS DOUBLE) / count(*)
      |             * 10000.0 + 0.5) / 10000.0 AS raw_mean,
      |       floor(CAST(sum(clip_u) AS BIGINT) / 1000000.0 / count(*)
      |             * 10000.0 + 0.5) / 10000.0 AS wins_mean,
      |       round(min(b.p05), 4) AS p05, round(min(b.p95), 4) AS p95
      |FROM clipped c JOIN bands b ON c.lang = b.lang
      |GROUP BY c.lang ORDER BY c.lang""".stripMargin

  /** Referential-integrity audit over the star schema: for every
    * foreign-key edge, how many child rows have no parent — the first
    * health check a lake runs after any load, and the reference's
    * validate-then-write discipline (`job1:69-88`) extended from
    * "non-empty" to "joins actually close".
    *
    * Scale shape: each edge is a LEFT ANTI join on the key columns ONLY
    * (the child scan projects just the FK, so a 100 TB fact never ships a
    * payload byte); dimension parents broadcast, the two fact⋈fact edges
    * shuffle bare keys. Output is one row per edge — constant. */
  def refIntegrity(s: SparkSession, dir: String): DataFrame = {
    val edges: Seq[(String, DataFrame, String, DataFrame, String)] = Seq(
      ("customer->nation",
        Tables.customer(s, dir), "c_nationkey", Tables.nation(s, dir), "n_nationkey"),
      ("lineitem->orders",
        Tables.lineitem(s, dir), "l_orderkey", Tables.orders(s, dir), "o_orderkey"),
      ("lineitem->part",
        Tables.lineitem(s, dir), "l_partkey", Tables.part(s, dir), "p_partkey"),
      ("lineitem->supplier",
        Tables.lineitem(s, dir), "l_suppkey", Tables.supplier(s, dir), "s_suppkey"),
      ("nation->region",
        Tables.nation(s, dir), "n_regionkey", Tables.region(s, dir), "r_regionkey"),
      ("orders->customer",
        Tables.orders(s, dir), "o_custkey", Tables.customer(s, dir), "c_custkey"),
      ("supplier->nation",
        Tables.supplier(s, dir), "s_nationkey", Tables.nation(s, dir), "n_nationkey"))
    // r14: one pass per edge instead of two. The old shape ran a
    // count+countDistinct aggregate (Catalyst one-distinct rewrite: a
    // second keyed aggregate level) PLUS a separate anti-join subtree
    // over a second child scan — ~5 stages and 2 fact scans per edge.
    // Grouping by the FK first makes every census a fold over the
    // (fk, count) frame: rows = Σc, keys = group count, orphans = Σc of
    // groups with no parent (LEFT join; a null FK never matches, exactly
    // the NOT EXISTS semantics). One child scan, one narrow exchange per
    // edge; dimension parents still broadcast. Measured 1.71 → 0.97 s.
    edges.map { case (rel, child, fk, parent, pk) =>
      val perKey = child.select(col(fk))
        .groupBy(col(fk)).agg(count(lit(1)).as("c"))
      perKey.join(parent.select(col(pk)), col(fk) === col(pk), "left")
        .agg(
          lit(rel).as("rel"),
          coalesce(sum("c"), lit(0L)).as("n_child_rows"),
          count(when(col(fk).isNotNull, lit(1))).as("n_child_keys"),
          coalesce(sum(when(col(pk).isNull, col("c"))), lit(0L))
            .as("n_orphans"))
        .select("rel", "n_child_rows", "n_child_keys", "n_orphans")
    }.reduce(_ unionAll _).orderBy("rel")
  }

  private val refIntegritySql = {
    val edges = Seq(
      ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
      ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
      ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
      ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
    edges.map { case (rel, child, fk, parent, pk) =>
      s"""SELECT '$rel' AS rel, count(*) AS n_child_rows,
         |       count(DISTINCT $fk) AS n_child_keys,
         |       (SELECT count(*) FROM $child c
         |        WHERE NOT EXISTS (SELECT 1 FROM $parent p
         |                          WHERE c.$fk = p.$pk)) AS n_orphans
         |FROM $child""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY rel")
  }

  /** Tukey-fence outlier census per event type: exact per-group quartiles,
    * fences at Q1 − 1.5·IQR / Q3 + 1.5·IQR, and a count of values outside
    * them — the ROBUST complement of the z-score anomaly detector
    * (`Breadth.eventAnomaly`): a mean/stddev monitor is itself dragged by
    * the outliers it is looking for; quartile fences are not.
    *
    * Scale shape: same two-pass discipline as [[winsorized]] — group
    * quartiles (|event types| rows, via [[groupedQuantiles]]' buffer-free
    * selection: `value` is a continuous double, so the old per-group
    * percentile buffer grew with the corpus) broadcast back onto a second
    * scan that flags each row inside the scan stage; only per-group
    * counters shuffle. Fences are pure IEEE arithmetic off interpolated
    * quartiles, so both engines draw identical boundaries. */
  def iqrOutliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).select("event_type", "value")
    val quarts = groupedQuantiles(ev, "event_type", "value", Seq(0.25d, 0.75d))
      .toSeq.map { case (t, qs) => (t, qs.head, qs(1)) }
      .toDF("event_type", "q1", "q3")
      .withColumn("lo", col("q1") - lit(1.5d) * (col("q3") - col("q1")))
      .withColumn("hi", col("q3") + lit(1.5d) * (col("q3") - col("q1")))
    ev.join(broadcast(quarts), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum((col("value") < col("lo") || col("value") > col("hi"))
          .cast("long")).as("n_outliers"),
        (floor(min("lo") * lit(10000.0d) + lit(0.5d)) / lit(10000.0d))
          .as("fence_lo"),
        (floor(min("hi") * lit(10000.0d) + lit(0.5d)) / lit(10000.0d))
          .as("fence_hi"))
      .orderBy("event_type")
  }

  private val iqrOutliersSql =
    """WITH quarts AS (
      |  SELECT event_type,
      |         quantile_cont(value, 0.25) AS q1,
      |         quantile_cont(value, 0.75) AS q3
      |  FROM events GROUP BY event_type),
      |fences AS (
      |  SELECT event_type, q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi
      |  FROM quarts)
      |SELECT e.event_type, count(*) AS n_events,
      |       CAST(sum(CASE WHEN e.value < f.lo OR e.value > f.hi
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |       floor(min(f.lo) * 10000.0 + 0.5) / 10000.0 AS fence_lo,
      |       floor(min(f.hi) * 10000.0 + 0.5) / 10000.0 AS fence_hi
      |FROM events e JOIN fences f ON e.event_type = f.event_type
      |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin

  private val PSI_BINS = 10

  /** Population-stability-index drift detection: compare the doc-length
    * distribution of the train vs test split (same deterministic md5
    * split as q_hash_split) over equi-width bins —
    * PSI = Σ_bins (p_train − p_test) · ln(p_train / p_test), the standard
    * "did my two populations drift apart" monitor run between a training
    * snapshot and fresh data. Laplace-smoothed shares ((c+1)/(n+B)) keep
    * empty bins defined; EVERY bin row appears (bins are generated from
    * the bounds frame, not from observed data — a bin both splits miss
    * still contributes its smoothed term).
    *
    * Scale shape: global bounds are a 1-row broadcast; per-(bin, split)
    * counts are the only shuffle (≤ 2·B rows); the PSI terms round to 6
    * decimals and the total sums as DECIMAL(20,6). */
  def driftPsi(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("n_chars"),
        when(substring(md5(col("doc_id").cast("string")), 32, 1) < "4",
          "test").otherwise("train").as("split"))
    val bounds = docs.agg(min("n_chars").as("lo"), max("n_chars").as("hi"))
    val w = (col("hi") - col("lo")) / lit(PSI_BINS.toDouble)
    val counts = docs.join(broadcast(bounds))
      .select(least(floor((col("n_chars") - col("lo")) / w),
        lit((PSI_BINS - 1).toDouble)).cast("long").as("bin"), col("split"))
      .groupBy("bin", "split").agg(count(lit(1)).as("c"))
    val grid = bounds.select(explode(expr(
      s"sequence(0L, ${PSI_BINS - 1}L)")).as("bin"))
    val tr = counts.filter(col("split") === "train").select("bin", "c")
    val te = counts.filter(col("split") === "test")
      .select(col("bin"), col("c").as("ct"))
    val totals = docs.groupBy().agg(
      sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
      sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
    grid.join(tr, Seq("bin"), "left").join(te, Seq("bin"), "left")
      .join(broadcast(totals))
      .withColumn("p_train",
        (coalesce(col("c"), lit(0L)) + lit(1.0d)) /
          (col("n_train") + lit(PSI_BINS.toDouble)))
      .withColumn("p_test",
        (coalesce(col("ct"), lit(0L)) + lit(1.0d)) /
          (col("n_test") + lit(PSI_BINS.toDouble)))
      .select(col("bin"),
        coalesce(col("c"), lit(0L)).as("n_train"),
        coalesce(col("ct"), lit(0L)).as("n_test"),
        (floor(col("p_train") * lit(1000000.0d) + lit(0.5d)) /
          lit(1000000.0d)).as("share_train"),
        (floor(col("p_test") * lit(1000000.0d) + lit(0.5d)) /
          lit(1000000.0d)).as("share_test"),
        round((col("p_train") - col("p_test")) *
          log(col("p_train") / col("p_test")), 6).as("psi_term"))
      .orderBy("bin")
  }

  private val driftPsiSql =
    s"""WITH docs AS (
       |  SELECT n_chars,
       |         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) < '4'
       |              THEN 'test' ELSE 'train' END AS split
       |  FROM documents),
       |bounds AS (SELECT min(n_chars) AS lo, max(n_chars) AS hi FROM docs),
       |counts AS (
       |  SELECT CAST(least(floor((n_chars - lo) /
       |             ((hi - lo) / ${PSI_BINS}.0)), ${PSI_BINS - 1}.0) AS INTEGER)
       |           AS bin,
       |         split, count(*) AS c
       |  FROM docs, bounds GROUP BY 1, 2),
       |grid AS (SELECT unnest(generate_series(0, ${PSI_BINS - 1})) AS bin),
       |totals AS (
       |  SELECT CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
       |         CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
       |  FROM docs),
       |joined AS (
       |  SELECT g.bin,
       |         coalesce(tr.c, 0) AS c_train, coalesce(te.c, 0) AS c_test,
       |         (coalesce(tr.c, 0) + 1.0) / (t.n_train + ${PSI_BINS}.0) AS p_train,
       |         (coalesce(te.c, 0) + 1.0) / (t.n_test + ${PSI_BINS}.0) AS p_test
       |  FROM grid g
       |  LEFT JOIN (SELECT bin, c FROM counts WHERE split = 'train') tr
       |    ON g.bin = tr.bin
       |  LEFT JOIN (SELECT bin, c FROM counts WHERE split = 'test') te
       |    ON g.bin = te.bin
       |  CROSS JOIN totals t)
       |SELECT bin,
       |       CAST(c_train AS BIGINT) AS n_train,
       |       CAST(c_test AS BIGINT) AS n_test,
       |       floor(p_train * 1000000.0 + 0.5) / 1000000.0 AS share_train,
       |       floor(p_test * 1000000.0 + 0.5) / 1000000.0 AS share_test,
       |       round((p_train - p_test) * ln(p_train / p_test), 6) AS psi_term
       |FROM joined ORDER BY bin""".stripMargin

  /** Pearson correlation matrix over the four lineitem measures in ONE
    * scan: all 14 sufficient statistics (n, Σx, Σx², Σxy per pair) come
    * from a single aggregate, so a 100 TB fact is read once no matter how
    * many column pairs are profiled — the classic feature-redundancy /
    * leakage audit run before columns enter a model.
    *
    * FP discipline: measures are fixed to integer cents
    * (`floor(x·100 + 0.5)` — pure IEEE), per-row products stay in BIGINT
    * (≤ ~10¹⁴), and sums run as DECIMAL(38,0) — exact and
    * merge-order-independent. Only then does each correlation collapse to
    * doubles: both engines convert the SAME exact integer sums with the
    * same IEEE nearest-even rounding and evaluate the same expression
    * shape, so the floor-4dp result is bit-identical. */
  def corrMatrix(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Column
    val shortNames = Seq("d", "p", "q", "t") // sorted by pretty name
    val pretty = Map("q" -> "quantity", "p" -> "extendedprice",
      "d" -> "discount", "t" -> "tax")
    val srcCol = Map("q" -> "l_quantity", "p" -> "l_extendedprice",
      "d" -> "l_discount", "t" -> "l_tax")
    val pairs = for {
      i <- shortNames.indices; j <- (i + 1) until shortNames.size
    } yield (shortNames(i), shortNames(j))
    val fx = Tables.lineitem(s, dir).select(shortNames.map(c =>
      floor(col(srcCol(c)) * lit(100.0d) + lit(0.5d)).cast("bigint").as(c)): _*)
    def dsum(e: Column, alias: String) =
      sum(e.cast("decimal(38,0)")).cast("double").as(alias)
    val aggs: Seq[Column] =
      Seq(count(lit(1)).cast("double").as("n")) ++
        shortNames.map(c => dsum(col(c), s"s_$c")) ++
        shortNames.map(c => dsum(col(c) * col(c), s"s_$c$c")) ++
        pairs.map { case (a, b) => dsum(col(a) * col(b), s"s_$a$b") }
    val w = fx.agg(aggs.head, aggs.tail: _*)
    def corrc(a: String, b: String): Column = {
      val num = col("n") * col(s"s_$a$b") - col(s"s_$a") * col(s"s_$b")
      val den = sqrt((col("n") * col(s"s_$a$a") - col(s"s_$a") * col(s"s_$a")) *
        (col("n") * col(s"s_$b$b") - col(s"s_$b") * col(s"s_$b")))
      floor(num / den * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)
    }
    val wide = pairs.foldLeft(w) { case (df, (a, b)) =>
      df.withColumn(s"c_$a$b", corrc(a, b))
    }
    val stackArgs = pairs.map { case (a, b) =>
      s"'${pretty(a)}', '${pretty(b)}', c_$a$b"
    }.mkString(", ")
    wide.select(
        expr(s"stack(${pairs.size}, $stackArgs) AS (col_a, col_b, corr)"),
        col("n").cast("bigint").as("n_rows"))
      .select("col_a", "col_b", "n_rows", "corr")
      .orderBy("col_a", "col_b")
  }

  private val corrMatrixSql = {
    val shortNames = Seq("d", "p", "q", "t")
    val pretty = Map("q" -> "quantity", "p" -> "extendedprice",
      "d" -> "discount", "t" -> "tax")
    val srcCol = Map("q" -> "l_quantity", "p" -> "l_extendedprice",
      "d" -> "l_discount", "t" -> "l_tax")
    val pairs = for {
      i <- shortNames.indices; j <- (i + 1) until shortNames.size
    } yield (shortNames(i), shortNames(j))
    val fxCols = shortNames.map(c =>
      s"CAST(floor(${srcCol(c)} * 100.0 + 0.5) AS BIGINT) AS $c").mkString(", ")
    val sums =
      (shortNames.map(c => s"CAST(sum(CAST($c AS HUGEINT)) AS DOUBLE) AS s_$c") ++
        shortNames.map(c => s"CAST(sum(CAST($c * $c AS HUGEINT)) AS DOUBLE) AS s_$c$c") ++
        pairs.map { case (a, b) =>
          s"CAST(sum(CAST($a * $b AS HUGEINT)) AS DOUBLE) AS s_$a$b" }).mkString(",\n         ")
    val rows = pairs.map { case (a, b) =>
      s"""  SELECT '${pretty(a)}' AS col_a, '${pretty(b)}' AS col_b,
         |         CAST(n AS BIGINT) AS n_rows,
         |         floor((n * s_$a$b - s_$a * s_$b)
         |               / sqrt((n * s_$a$a - s_$a * s_$a) * (n * s_$b$b - s_$b * s_$b))
         |               * 10000.0 + 0.5) / 10000.0 AS corr
         |  FROM w""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH fx AS (
       |  SELECT $fxCols
       |  FROM lineitem),
       |w AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n,
       |         $sums
       |  FROM fx)
       |$rows
       |ORDER BY col_a, col_b""".stripMargin
  }

  /** Spearman rank-correlation matrix over the same four lineitem
    * measures as [[corrMatrix]] — the monotonic-association profile that
    * survives outliers and nonlinear scalings Pearson is blind to (a
    * single 1000× price glitch saturates Pearson; it moves one rank).
    * Ranks are tie-AVERAGED (the textbook definition), held exact as
    * doubled integers: avg_rank·2 = min_rank + max_rank of the value's
    * tie run, so every sufficient statistic is an exact integer sum and
    * ρ = Pearson over the doubled ranks (the ×2 cancels).
    *
    * Scale shape: per column, facts first collapse to a DISTINCT-VALUE
    * frame (skew-safe partial agg absorbs hot values), and the doubled
    * tie-averaged rank is computed on THAT frame as r2(v) = 2·(count of
    * strictly-smaller rows) + t(v) + 1 via the fleet-standard
    * [[DistNtile.withPrefixSum]] range-exchange decomposition — NO
    * single-task sort and NO per-fact ranking anywhere; facts are only
    * touched by the four value-keyed equi-joins that attach r2 (an
    * earlier spelling that chained [[DistNtile.withRank]] over the fact
    * table re-executed the growing upstream plan at every level — the
    * lesson is rank the value DOMAIN, not the facts). Measures are
    * cent-fixed (`floor(x·100+0.5)`) so rank ties are engine-identical;
    * sums run DECIMAL(38,0) then collapse to the same IEEE doubles both
    * engines round, floor-4dp ([[corrMatrix]] discipline). */
  /** Memoized Spearman rank-table build: the (cname, v, tw, prefix)
    * VALUE-DOMAIN table + the fact census, per (session, dir,
    * fingerprint), pinned via localCheckpoint (the affinityEdges
    * lifecycle — survives callers' clearCache, stopped sessions sweep
    * out). */
  private val spearmanMemo = new graft.Memo.Pinned[(DataFrame, Long)]("lineitem")

  private def spearmanRankTable(s: SparkSession, dir: String,
                                base: DataFrame): (DataFrame, Long) =
    spearmanMemo(s, dir) {
      val shortNames = Seq("d", "p", "q", "t")
      val longVals = base
        .select(explode(map(shortNames.flatMap(c =>
          Seq(lit(c), col(c))): _*)).as(Seq("cname", "v")))
        .groupBy("cname", "v").agg(count(lit(1)).as("tw"))
      val pre = DistNtile.withPrefixSum(longVals,
        Seq(col("cname").asc, col("v").asc), col("tw"), "s")
        .localCheckpoint()
      (pre, base.count())
    }

  def spearmanMatrix(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Column
    val shortNames = Seq("d", "p", "q", "t")
    val pretty = Map("q" -> "quantity", "p" -> "extendedprice",
      "d" -> "discount", "t" -> "tax")
    val srcCol = Map("q" -> "l_quantity", "p" -> "l_extendedprice",
      "d" -> "l_discount", "t" -> "l_tax")
    val pairs = for {
      i <- shortNames.indices; j <- (i + 1) until shortNames.size
    } yield (shortNames(i), shortNames(j))
    // NOT cached: three consumers (value build, census, final chain)
    // each re-read a 4-column pruned parquet scan — cheaper than a
    // fact-sized cache fighting the rest of the fleet for executor
    // memory (caching measured SLOWER mid-fleet: eviction thrash)
    val base = Tables.lineitem(s, dir).select(
      shortNames.map(c =>
        floor(col(srcCol(c)) * lit(100.0d) + lit(0.5d)).cast("bigint")
          .as(c)): _*)
    // ALL FOUR columns' distinct-value counts ride ONE long-format
    // build: explode to (cname, v) → one partial-agg shuffle → ONE
    // global prefix sum under the (cname, v) total order. Because every
    // column's weights total exactly N, the per-column prefix is the
    // global prefix minus k·N for the column's alphabetical index k —
    // no per-column pass, no per-column offsets job. The doubled
    // tie-averaged rank is then r2(v) = 2·(s − k·N − t) + t + 1.
    // Join-back: discount, quantity and tax have BOUNDED value domains
    // (≤ ~50 cents values by schema semantics at any corpus size), so
    // their rank tables broadcast; only extendedprice — genuinely
    // data-cardinality — pays a shuffle join. Facts are never ranked.
    // The (cname, v, tw, prefix) rank table is a VALUE-DOMAIN ingest
    // artifact — deterministic for a given corpus — so it is memoized
    // per (session, dir, fingerprint) and PINNED via localCheckpoint
    // (survives the callers' per-query clearCache; profiled r9: the
    // build is 3.8 s of spearman's 4.5 s — longVals 1.2 s + checkpoint
    // 0.5 s + window/offsets/cache — while the ranked join + 15 sums
    // run in well under a second once the table exists).
    // NOTE (r9, measured): deriving N from the value table
    // (pre.agg(max("s"))/4 — algebraically free) benches 4.5 → 6.6 s:
    // it forces pre's whole offsets+window plan EAGERLY before the
    // broadcast builds can overlap, while base.count() is a parquet
    // footer count — effectively free at any scale. Keep the count.
    val (pre, nRows) = spearmanRankTable(s, dir, base)
    val colIdx = shortNames.sorted.zipWithIndex.toMap
    val boundedDomain = Set("d", "q", "t")
    val ranked = shortNames.foldLeft(base) { (df, c) =>
      val r2 = pre.filter(col("cname") === c)
        .select(col("v").as(s"_v_$c"),
          (lit(2L) * (col("s") - lit(colIdx(c) * nRows) - col("tw"))
            + col("tw") + lit(1L)).as(s"r2_$c"))
      val build = if (boundedDomain(c)) broadcast(r2) else r2
      df.join(build, df(c) === col(s"_v_$c")).drop(s"_v_$c")
    }
    def dsum(e: Column, alias: String) =
      sum(e.cast("decimal(38,0)")).cast("double").as(alias)
    val aggs: Seq[Column] =
      Seq(count(lit(1)).cast("double").as("n")) ++
        shortNames.map(c => dsum(col(s"r2_$c"), s"s_$c")) ++
        shortNames.map(c => dsum(col(s"r2_$c") * col(s"r2_$c"), s"s_$c$c")) ++
        pairs.map { case (a, b) =>
          dsum(col(s"r2_$a") * col(s"r2_$b"), s"s_$a$b") }
    val w = ranked.agg(aggs.head, aggs.tail: _*)
    def rhoc(a: String, b: String): Column = {
      val num = col("n") * col(s"s_$a$b") - col(s"s_$a") * col(s"s_$b")
      val den = sqrt((col("n") * col(s"s_$a$a") - col(s"s_$a") * col(s"s_$a")) *
        (col("n") * col(s"s_$b$b") - col(s"s_$b") * col(s"s_$b")))
      floor(num / den * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)
    }
    val wide = pairs.foldLeft(w) { case (df, (a, b)) =>
      df.withColumn(s"c_$a$b", rhoc(a, b))
    }
    val stackArgs = pairs.map { case (a, b) =>
      s"'${pretty(a)}', '${pretty(b)}', c_$a$b"
    }.mkString(", ")
    wide.select(
        expr(s"stack(${pairs.size}, $stackArgs) AS (col_a, col_b, rho)"),
        col("n").cast("bigint").as("n_rows"))
      .select("col_a", "col_b", "n_rows", "rho")
      .orderBy("col_a", "col_b")
  }

  private val spearmanMatrixSql = {
    val shortNames = Seq("d", "p", "q", "t")
    val pretty = Map("q" -> "quantity", "p" -> "extendedprice",
      "d" -> "discount", "t" -> "tax")
    val srcCol = Map("q" -> "l_quantity", "p" -> "l_extendedprice",
      "d" -> "l_discount", "t" -> "l_tax")
    val pairs = for {
      i <- shortNames.indices; j <- (i + 1) until shortNames.size
    } yield (shortNames(i), shortNames(j))
    val fxCols = shortNames.map(c =>
      s"CAST(floor(${srcCol(c)} * 100.0 + 0.5) AS BIGINT) AS $c")
      .mkString(", ")
    // doubled tie-averaged rank: 2·rank() + |tie run| − 1
    //   = 2·cnt_less + cnt + 1 = min_rank + max_rank (the Spark spelling)
    val rkCols = shortNames.map(c =>
      s"""2 * rank() OVER (ORDER BY $c)
         |           + count(*) OVER (PARTITION BY $c) - 1 AS r2_$c"""
        .stripMargin).mkString(",\n         ")
    val sums =
      (shortNames.map(c =>
        s"CAST(sum(CAST(r2_$c AS HUGEINT)) AS DOUBLE) AS s_$c") ++
        shortNames.map(c =>
          s"CAST(sum(CAST(r2_$c * r2_$c AS HUGEINT)) AS DOUBLE) AS s_$c$c") ++
        pairs.map { case (a, b) =>
          s"CAST(sum(CAST(r2_$a * r2_$b AS HUGEINT)) AS DOUBLE) AS s_$a$b" })
        .mkString(",\n         ")
    val rows = pairs.map { case (a, b) =>
      s"""  SELECT '${pretty(a)}' AS col_a, '${pretty(b)}' AS col_b,
         |         CAST(n AS BIGINT) AS n_rows,
         |         floor((n * s_$a$b - s_$a * s_$b)
         |               / sqrt((n * s_$a$a - s_$a * s_$a) * (n * s_$b$b - s_$b * s_$b))
         |               * 10000.0 + 0.5) / 10000.0 AS rho
         |  FROM w""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH fx AS MATERIALIZED (
       |  SELECT $fxCols
       |  FROM lineitem),
       |rk AS MATERIALIZED (
       |  SELECT $rkCols
       |  FROM fx),
       |w AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n,
       |         $sums
       |  FROM rk)
       |$rows
       |ORDER BY col_a, col_b""".stripMargin
  }

  /** Kendall's τ-b between quantity and discount — the third
    * correlation lens after Pearson ([[corrMatrix]]) and Spearman
    * ([[spearmanMatrix]]): a PAIR-concordance measure, the most
    * ties-robust of the three and the one with a direct probabilistic
    * reading (P[concordant] − P[discordant]). Naively O(N²) over facts;
    * here both columns have BOUNDED value domains (50 quantities × 11
    * discount cents), so the corpus collapses to a ≤550-cell contingency
    * table in one scan and every pair statistic is exact integer
    * arithmetic over CELL pairs (≤550² = 3·10⁵ driver-free combinations,
    * domain²-sized forever — the q_equidepth/q_mutual_info precedent):
    *   C = Σ n_a·n_b over cell pairs with x_a<x_b ∧ y_a<y_b
    *   D = Σ n_a·n_b over cell pairs with x_a<x_b ∧ y_a>y_b
    *   τ_b = (C−D) / √((n0−n1)(n0−n2)),  n0 = C(N,2), n1/n2 = Σ C(n_x,2)
    * over row/column marginals. Sums ride DECIMAL(38,0) (C ~ N² overflows
    * int64 at the 10¹¹-row posture); the √ sequence runs once over exact
    * integers. The inequality cell join is a broadcast nested loop over
    * the domain-sized frame — allow-listed, same class as the 1-row
    * stats-frame crossJoins. */
  def kendallTau(s: SparkSession, dir: String): DataFrame =
    kendallTauOn(Tables.lineitem(s, dir)
      .select(
        floor(col("l_quantity") * lit(100.0d) + lit(0.5d)).cast("bigint")
          .as("x"),
        floor(col("l_discount") * lit(100.0d) + lit(0.5d)).cast("bigint")
          .as("y")))

  /** [[kendallTau]] core over an explicit (x, y) integer-pair frame —
    * the planted-semantics seam. */
  private[graft] def kendallTauOn(xy: DataFrame): DataFrame = {
    val cells = xy
      .groupBy("x", "y").agg(count(lit(1)).as("cnt"))
      .cache()
    val pairs = cells.as("a").join(broadcast(cells.as("b")),
        col("a.x") < col("b.x") &&
          (col("a.y") < col("b.y") || col("a.y") > col("b.y")))
      .agg(
        sum(when(col("a.y") < col("b.y"),
          col("a.cnt").cast("decimal(38,0)") * col("b.cnt"))
          .otherwise(lit(0L))).as("c_pairs"),
        sum(when(col("a.y") > col("b.y"),
          col("a.cnt").cast("decimal(38,0)") * col("b.cnt"))
          .otherwise(lit(0L))).as("d_pairs"))
    // doubled total pair count 2·n0 = N(N−1) — kept doubled so no
    // division touches the integer path
    val n0 = cells.agg(sum("cnt").as("n"))
      .select(col("n"),
        (col("n").cast("decimal(38,0)") * (col("n") - lit(1L))).as("n0x2"))
    val n1 = cells.groupBy("x").agg(sum("cnt").as("nx"))
      .agg(sum(col("nx").cast("decimal(38,0)") * (col("nx") - lit(1L)))
        .as("n1x2"))
    val n2 = cells.groupBy("y").agg(sum("cnt").as("ny"))
      .agg(sum(col("ny").cast("decimal(38,0)") * (col("ny") - lit(1L)))
        .as("n2x2"))
    // doubled non-tied pair counts A = 2·n0 − n1x2 stay EXACT integers
    // (both terms even, no division anywhere until the final τ sequence:
    // τ = 2(C−D)/√(A·B))
    pairs.crossJoin(broadcast(n0)).crossJoin(broadcast(n1))
      .crossJoin(broadcast(n2))
      .withColumn("ax2", col("n0x2") - col("n1x2"))
      .withColumn("bx2", col("n0x2") - col("n2x2"))
      .select(col("n"),
        col("c_pairs").cast("bigint").as("c_pairs"),
        col("d_pairs").cast("bigint").as("d_pairs"),
        expr("cast(ax2 as bigint) div 2").as("nontied_x"),
        expr("cast(bx2 as bigint) div 2").as("nontied_y"),
        (floor(lit(2.0d)
          * (col("c_pairs").cast("double") - col("d_pairs").cast("double"))
          / sqrt(col("ax2").cast("double") * col("bx2").cast("double"))
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("tau_b"))
  }

  private val kendallTauSql =
    """WITH cells AS MATERIALIZED (
      |  SELECT CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT) AS x,
      |         CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS y,
      |         CAST(count(*) AS BIGINT) AS cnt
      |  FROM lineitem GROUP BY 1, 2),
      |p AS (
      |  SELECT CAST(sum(CASE WHEN a.y < b.y
      |                THEN CAST(a.cnt AS DECIMAL(38,0)) * b.cnt
      |                ELSE 0 END) AS DECIMAL(38,0)) AS c_pairs,
      |         CAST(sum(CASE WHEN a.y > b.y
      |                THEN CAST(a.cnt AS DECIMAL(38,0)) * b.cnt
      |                ELSE 0 END) AS DECIMAL(38,0)) AS d_pairs
      |  FROM cells a JOIN cells b
      |    ON a.x < b.x AND a.y <> b.y),
      |t AS (
      |  SELECT CAST(sum(cnt) AS BIGINT) AS n,
      |         CAST(CAST(sum(cnt) AS DECIMAL(38,0)) * (sum(cnt) - 1)
      |              AS DECIMAL(38,0)) AS n0x2
      |  FROM cells),
      |m1 AS (
      |  SELECT CAST(sum(CAST(nx AS DECIMAL(38,0)) * (nx - 1))
      |              AS DECIMAL(38,0)) AS n1x2
      |  FROM (SELECT CAST(sum(cnt) AS BIGINT) AS nx FROM cells GROUP BY x)),
      |m2 AS (
      |  SELECT CAST(sum(CAST(ny AS DECIMAL(38,0)) * (ny - 1))
      |              AS DECIMAL(38,0)) AS n2x2
      |  FROM (SELECT CAST(sum(cnt) AS BIGINT) AS ny FROM cells GROUP BY y))
      |SELECT n,
      |       CAST(c_pairs AS BIGINT) AS c_pairs,
      |       CAST(d_pairs AS BIGINT) AS d_pairs,
      |       CAST(n0x2 - n1x2 AS BIGINT) // 2 AS nontied_x,
      |       CAST(n0x2 - n2x2 AS BIGINT) // 2 AS nontied_y,
      |       floor(2.0 * (CAST(c_pairs AS DOUBLE) - CAST(d_pairs AS DOUBLE))
      |             / sqrt(CAST(n0x2 - n1x2 AS DOUBLE)
      |                    * CAST(n0x2 - n2x2 AS DOUBLE))
      |             * 10000.0 + 0.5) / 10000.0 AS tau_b
      |FROM p CROSS JOIN t CROSS JOIN m1 CROSS JOIN m2""".stripMargin

  /** Per-event-type volume trend: closed-form OLS slope of daily event
    * counts over time — the drift monitor that answers "is error volume
    * growing?" with a number instead of a dashboard squint.
    * slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) with x = epoch day.
    *
    * Scale shape: the raw stream collapses to (type, day) counts inside
    * the scan's partial aggregate (the only full-width shuffle key is the
    * group key); the per-type regression then runs over ≤ |types|·|days|
    * rows. Every sufficient statistic is an exact BIGINT sum (x ≈ 2·10⁴
    * epoch days, x² ≈ 4·10⁸, y = a count), so the slope is one IEEE
    * division over exact integers — engine-identical, floor-6dp. */
  def dailyTrend(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(col("event_type"),
        datediff(to_date(date_trunc("DAY", col("ts"))),
          lit("1970-01-01").cast("date")).cast("bigint").as("x"))
      .groupBy("event_type", "x").agg(count(lit(1)).as("y"))
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("event_type"), col("n_days"), col("sy").as("n_events"),
        (floor((col("n_days") * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
          (col("n_days") * col("sxx") - col("sx") * col("sx")).cast("double")
          * lit(1000000.0d) + lit(0.5d)) / lit(1000000.0d))
          .as("slope_per_day"))
      .orderBy("event_type")
  }

  private val dailyTrendSql =
    """WITH daily AS (
      |  SELECT event_type,
      |         CAST(CAST(date_trunc('day', ts) AS DATE)
      |              - DATE '1970-01-01' AS BIGINT) AS x,
      |         count(*) AS y
      |  FROM events GROUP BY 1, 2),
      |stats AS (
      |  SELECT event_type,
      |         CAST(count(*) AS BIGINT) AS n_days,
      |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |         CAST(sum(x * x) AS BIGINT) AS sxx,
      |         CAST(sum(x * y) AS BIGINT) AS sxy
      |  FROM daily GROUP BY 1)
      |SELECT event_type, n_days, sy AS n_events,
      |       floor(CAST(n_days * sxy - sx * sy AS DOUBLE)
      |             / CAST(n_days * sxx - sx * sx AS DOUBLE)
      |             * 1000000.0 + 0.5) / 1000000.0 AS slope_per_day
      |FROM stats ORDER BY event_type""".stripMargin

  /** THEIL-SEN robust trend per event type — the median of all pairwise
    * day-to-day slopes, the estimator that shrugs off the outlier days
    * that drag [[dailyTrend]]'s least-squares slope (one incident spike
    * moves OLS; it's just one vote among C(days, 2) here).
    *
    * Scale shape: the pairwise self-join runs on the per-(type, day)
    * AGGREGATE (calendar-bounded — C(days, 2) pairs per type no matter
    * how many raw events), keyed by event_type. The median is an exact
    * interpolated percentile over those bounded pair sets; slopes are
    * single IEEE divisions over exact integer deltas. */
  def theilSen(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(col("event_type"),
        datediff(to_date(date_trunc("DAY", col("ts"))),
          lit("1970-01-01").cast("date")).cast("bigint").as("x"))
      .groupBy("event_type", "x").agg(count(lit(1)).as("y"))
      .cache() // both sides of the pair join
    val slopes = daily.as("p").join(daily.as("q"),
        col("p.event_type") === col("q.event_type") && col("p.x") < col("q.x"))
      .select(col("p.event_type").as("event_type"),
        ((col("q.y") - col("p.y")).cast("double") / (col("q.x") - col("p.x")))
          .as("slope"))
    slopes.groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"),
        expr("percentile(slope, 0.5D)").as("med"))
      .select(col("event_type"), col("n_pairs"),
        (floor(col("med") * lit(1000000.0d) + lit(0.5d)) / lit(1000000.0d))
          .as("median_slope"))
      .orderBy("event_type")
  }

  private val theilSenSql =
    """WITH daily AS (
      |  SELECT event_type,
      |         CAST(CAST(date_trunc('day', ts) AS DATE)
      |              - DATE '1970-01-01' AS BIGINT) AS x,
      |         count(*) AS y
      |  FROM events GROUP BY 1, 2),
      |slopes AS (
      |  SELECT p.event_type,
      |         CAST(q.y - p.y AS DOUBLE) / (q.x - p.x) AS slope
      |  FROM daily p JOIN daily q
      |    ON p.event_type = q.event_type AND p.x < q.x)
      |SELECT event_type, count(*) AS n_pairs,
      |       floor(quantile_cont(slope, 0.5) * 1000000.0 + 0.5) / 1000000.0
      |         AS median_slope
      |FROM slopes GROUP BY event_type ORDER BY event_type""".stripMargin

  /** BENFORD first-digit audit of order totals — the classic synthetic /
    * tampered-data smell test: organically-scaled amounts follow
    * P(d) = log₁₀(1 + 1/d); a flat or spiky digit histogram flags
    * generated or truncated values (this fixture's uniform-ish totals
    * read far from Benford — the audit exists to MEASURE that, and the
    * deviation column is the readout). Digit extraction goes through
    * INTEGER STRING formatting, not log10-of-value — floor(log10(x))
    * flips at exact powers of ten under 1-ulp noise; substr of a BIGINT
    * cast cannot.
    *
    * One scan collapsing to 9 digit rows in the partial aggregate; the
    * 1-row total broadcasts back. */
  def benford(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.orders(s, dir)
      .select(substring(floor(col("o_totalprice")).cast("bigint")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_orders"))
    counts.join(broadcast(counts.agg(sum("n_orders").as("total"))))
      .select(col("digit"), col("n_orders"),
        (floor(col("n_orders") / col("total").cast("double")
          * lit(1000000.0d) + lit(0.5d)) / lit(1000000.0d)).as("share"),
        (floor(log10(lit(1.0d) + lit(1.0d) / col("digit"))
          * lit(1000000.0d) + lit(0.5d)) / lit(1000000.0d)).as("benford"))
      .withColumn("deviation",
        (floor((col("share") - col("benford")) * lit(1000000.0d) + lit(0.5d))
          / lit(1000000.0d)))
      .orderBy("digit")
  }

  private val benfordSql =
    """WITH d AS (
      |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
      |                          AS VARCHAR), 1, 1) AS INTEGER) AS digit
      |  FROM orders),
      |counts AS (SELECT digit, count(*) AS n_orders FROM d GROUP BY 1),
      |t AS (SELECT CAST(sum(n_orders) AS BIGINT) AS total FROM counts)
      |SELECT digit, CAST(n_orders AS BIGINT) AS n_orders,
      |       floor(n_orders / CAST(total AS DOUBLE) * 1000000.0 + 0.5)
      |         / 1000000.0 AS share,
      |       floor(log10(1.0 + 1.0 / digit) * 1000000.0 + 0.5)
      |         / 1000000.0 AS benford,
      |       floor((floor(n_orders / CAST(total AS DOUBLE) * 1000000.0 + 0.5)
      |              / 1000000.0
      |              - floor(log10(1.0 + 1.0 / digit) * 1000000.0 + 0.5)
      |                / 1000000.0) * 1000000.0 + 0.5) / 1000000.0 AS deviation
      |FROM counts, t ORDER BY digit""".stripMargin

  private val ACF_MAX_LAG = 7

  /** Autocorrelation of the daily event-volume series at lags 1..7 —
    * the weekly-seasonality detector (a lag-7 spike says day-of-week
    * structure; lag-1 says momentum) run before any forecasting or
    * anomaly baseline is trusted. Pearson correlation of (y_d, y_d+lag)
    * over the aligned day pairs, all sufficient statistics exact BIGINT
    * sums (the [[corrMatrix]] discipline), one day-offset self-join per
    * lag on the CALENDAR-SIZED daily aggregate. */
  def acf(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(datediff(to_date(date_trunc("DAY", col("ts"))),
        lit("1970-01-01").cast("date")).cast("bigint").as("x"))
      .groupBy("x").agg(count(lit(1)).as("y"))
      .cache()
    // lag fan-out as an EQUI join: each day row replicates once per lag
    // and joins day+lag exactly — no inequality/nested-loop join, and
    // the shape survives an arbitrarily long calendar
    val lagged = daily
      .withColumn("lag",
        explode(array((1 to ACF_MAX_LAG).map(l => lit(l.toLong)): _*)))
      .select(col("lag"), col("y").as("a"), (col("x") + col("lag")).as("qx"))
      .join(daily.select(col("x").as("qx"), col("y").as("b")), "qx")
    lagged.groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"),
        sum("a").as("sa"), sum("b").as("sb"),
        sum(col("a") * col("a")).as("saa"),
        sum(col("b") * col("b")).as("sbb"),
        sum(col("a") * col("b")).as("sab"))
      .select(col("lag"), col("n_pairs"),
        (floor((col("n_pairs") * col("sab") - col("sa") * col("sb"))
          .cast("double")
          / sqrt((col("n_pairs") * col("saa") - col("sa") * col("sa"))
            .cast("double")
            * (col("n_pairs") * col("sbb") - col("sb") * col("sb"))
            .cast("double"))
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("acf"))
      .orderBy("lag")
  }

  private val acfSql =
    s"""WITH daily AS (
       |  SELECT CAST(CAST(date_trunc('day', ts) AS DATE)
       |              - DATE '1970-01-01' AS BIGINT) AS x,
       |         count(*) AS y
       |  FROM events GROUP BY 1),
       |lagged AS (
       |  SELECT l.lag, p.y AS a, q.y AS b
       |  FROM daily p
       |  CROSS JOIN (SELECT unnest(generate_series(1, $ACF_MAX_LAG)) AS lag) l
       |  JOIN daily q ON p.x + l.lag = q.x),
       |st AS (
       |  SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
       |         CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb,
       |         CAST(sum(a * a) AS BIGINT) AS saa,
       |         CAST(sum(b * b) AS BIGINT) AS sbb,
       |         CAST(sum(a * b) AS BIGINT) AS sab
       |  FROM lagged GROUP BY 1)
       |SELECT lag, n_pairs,
       |       floor(CAST(n_pairs * sab - sa * sb AS DOUBLE)
       |             / sqrt(CAST(n_pairs * saa - sa * sa AS DOUBLE)
       |                    * CAST(n_pairs * sbb - sb * sb AS DOUBLE))
       |             * 10000.0 + 0.5) / 10000.0 AS acf
       |FROM st ORDER BY lag""".stripMargin

  /** AR(2) fit of the per-type daily volume by Yule-Walker — [[acf]]'s
    * consumer: the closed-form autoregression a capacity model starts
    * from (φ₁ tells momentum, φ₂ mean-reversion, and 1−φ·ρ the
    * fraction of variance the AR structure leaves unexplained).
    *   φ₁ = ρ₁(1−ρ₂)/(1−ρ₁²), φ₂ = (ρ₂−ρ₁²)/(1−ρ₁²),
    *   σ²/c₀ = 1 − φ₁ρ₁ − φ₂ρ₂.
    *
    * Exactness: autocovariances use the GLOBAL per-type mean via the
    * integer substitution a_t = n·y_t − Σy (n² cancels in every ratio),
    * so ρ_k = Σa_t·a_{t+k} / Σa_t² is a single division of two exact
    * DECIMAL(38,0) sums and the φ sequence is one fixed IEEE chain per
    * type (no cross-group sums exist). A constant series has c₀ = 0 and
    * a unit-root-like ρ₁² = 1 degenerates — both yield NULL φ rather
    * than a divide error.
    *
    * Shape: facts collapse to (type, day) counts; lag alignment is the
    * [[acf]] explode + EQUI join on the calendar-sized frame; the
    * per-type totals frame is broadcast back. */
  def arFit(s: SparkSession, dir: String): DataFrame =
    arFitOn(Tables.events(s, dir)
      .select(col("event_type"),
        datediff(to_date(date_trunc("DAY", col("ts"))),
          lit("1970-01-01").cast("date")).cast("bigint").as("x")))

  /** [[arFit]] core over an explicit (event_type, x=epoch-day) frame. */
  private[graft] def arFitOn(ev: DataFrame): DataFrame = {
    val daily = ev.groupBy("event_type", "x").agg(count(lit(1)).as("y"))
      .cache()
    val tot = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum("y").as("sy"))
    val a = daily.join(broadcast(tot), "event_type")
      .select(col("event_type"), col("x"),
        (col("n_days").cast("decimal(38,0)") * col("y") - col("sy"))
          .as("av"))
      .cache()
    val c0 = a.groupBy("event_type")
      .agg(sum(col("av") * col("av")).as("c0"))
    val ck = a
      .withColumn("lag", explode(array(lit(1L), lit(2L))))
      .select(col("event_type"), col("lag"), col("av").as("a1"),
        (col("x") + col("lag")).as("qx"))
      .join(a.select(col("event_type"), col("x").as("qx"),
        col("av").as("a2")), Seq("event_type", "qx"))
      .groupBy("event_type")
      .agg(
        sum(when(col("lag") === 1L, col("a1") * col("a2"))
          .otherwise(lit(0L))).as("c1"),
        sum(when(col("lag") === 2L, col("a1") * col("a2"))
          .otherwise(lit(0L))).as("c2"))
    tot.join(c0, "event_type").join(ck, "event_type")
      // guard INSIDE the ratio: ANSI mode turns an eager c1/c0 into a
      // divide error on the degenerate constant series (c0 = 0); the
      // NULL then propagates through every downstream when()
      .withColumn("r1", when(col("c0") > 0L,
        col("c1").cast("double") / col("c0").cast("double")))
      .withColumn("r2", when(col("c0") > 0L,
        col("c2").cast("double") / col("c0").cast("double")))
      .select(col("event_type"), col("n_days"),
        when(col("c0") > 0L, fix4(col("r1"))).as("rho1"),
        when(col("c0") > 0L, fix4(col("r2"))).as("rho2"),
        when(col("c0") > 0L &&
          lit(1.0d) - col("r1") * col("r1") > 0d,
          fix4(col("r1") * (lit(1.0d) - col("r2"))
            / (lit(1.0d) - col("r1") * col("r1")))).as("phi1"),
        when(col("c0") > 0L &&
          lit(1.0d) - col("r1") * col("r1") > 0d,
          fix4((col("r2") - col("r1") * col("r1"))
            / (lit(1.0d) - col("r1") * col("r1")))).as("phi2"),
        when(col("c0") > 0L &&
          lit(1.0d) - col("r1") * col("r1") > 0d,
          fix4(lit(1.0d)
            - (col("r1") * (lit(1.0d) - col("r2"))
              / (lit(1.0d) - col("r1") * col("r1"))) * col("r1")
            - ((col("r2") - col("r1") * col("r1"))
              / (lit(1.0d) - col("r1") * col("r1"))) * col("r2")))
          .as("resid_var_ratio"))
      .orderBy("event_type")
  }

  private val arFitSql =
    """WITH daily AS MATERIALIZED (
      |  SELECT event_type,
      |         CAST(CAST(date_trunc('day', ts) AS DATE)
      |              - DATE '1970-01-01' AS BIGINT) AS x,
      |         CAST(count(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |tot AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
      |         CAST(sum(y) AS BIGINT) AS sy
      |  FROM daily GROUP BY 1),
      |a AS MATERIALIZED (
      |  SELECT daily.event_type, x,
      |         CAST(CAST(n_days AS DECIMAL(38,0)) * y - sy
      |              AS DECIMAL(38,0)) AS av
      |  FROM daily JOIN tot USING (event_type)),
      |c0 AS (
      |  SELECT event_type, CAST(sum(av * av) AS DECIMAL(38,0)) AS c0
      |  FROM a GROUP BY 1),
      |ck AS (
      |  SELECT p.event_type,
      |         CAST(sum(CASE WHEN l.lag = 1 THEN p.av * q.av
      |                  ELSE 0 END) AS DECIMAL(38,0)) AS c1,
      |         CAST(sum(CASE WHEN l.lag = 2 THEN p.av * q.av
      |                  ELSE 0 END) AS DECIMAL(38,0)) AS c2
      |  FROM a p
      |  CROSS JOIN (SELECT unnest(generate_series(1, 2)) AS lag) l
      |  JOIN a q ON p.event_type = q.event_type AND p.x + l.lag = q.x
      |  GROUP BY 1),
      |r AS (
      |  SELECT tot.event_type, n_days, c0,
      |         CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r1,
      |         CAST(c2 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r2
      |  FROM tot JOIN c0 USING (event_type) JOIN ck USING (event_type))
      |SELECT event_type, n_days,
      |       CASE WHEN c0 > 0 THEN
      |         floor(r1 * 10000.0 + 0.5) / 10000.0 END AS rho1,
      |       CASE WHEN c0 > 0 THEN
      |         floor(r2 * 10000.0 + 0.5) / 10000.0 END AS rho2,
      |       CASE WHEN c0 > 0 AND 1.0 - r1 * r1 > 0 THEN
      |         floor(r1 * (1.0 - r2) / (1.0 - r1 * r1) * 10000.0 + 0.5)
      |           / 10000.0 END AS phi1,
      |       CASE WHEN c0 > 0 AND 1.0 - r1 * r1 > 0 THEN
      |         floor((r2 - r1 * r1) / (1.0 - r1 * r1) * 10000.0 + 0.5)
      |           / 10000.0 END AS phi2,
      |       CASE WHEN c0 > 0 AND 1.0 - r1 * r1 > 0 THEN
      |         floor((1.0
      |                - (r1 * (1.0 - r2) / (1.0 - r1 * r1)) * r1
      |                - ((r2 - r1 * r1) / (1.0 - r1 * r1)) * r2)
      |               * 10000.0 + 0.5) / 10000.0 END AS resid_var_ratio
      |FROM r ORDER BY event_type""".stripMargin

  /** Partial autocorrelation (lags 1..7) of the per-type daily volume
    * via DURBIN-LEVINSON — the AR-order selector: [[acf]] says "lag-7
    * correlates", PACF says whether that is NEW structure or just lag-1
    * echoing through (an AR(p) series has pacf ≈ 0 beyond p, so the
    * cut-off picks p; [[arFit]] then fits it). pacf(L) = φ_LL from the
    * recursion
    *   φ_kk = (ρ_k − Σ_{j<k} φ_j ρ_{k−j}) / v,
    *   φ_j ← φ_j − φ_kk φ_{k−j},   v ← v(1 − φ_kk²).
    *
    * Exactness: the ρ inputs are the [[arFit]] integer autocovariances
    * quantized to 1e-6 (exact rational → identical doubles in both
    * engines), and the recursion is a SEQUENTIAL FOLD over the lag
    * index — [v, φ₁..φ_{k−1}, φ_k]-shaped array accumulator, the new
    * φ_kk appended last so pacf(L) = acc[-1] — evaluated with the
    * identical operation order in Spark `aggregate` and DuckDB
    * `list_reduce` (the verify-skill sequential-fold rule: never a
    * GROUP-BY sum over FP terms). A degenerate v = 0 (|ρ₁| = 1) turns
    * into NULL via nullif, not an ANSI divide error.
    *
    * Shape: facts collapse to (type, day) counts; lag products ride the
    * [[acf]] explode + equi-join; everything after is per-type rows
    * folding ≤7-element arrays. */
  def pacf(s: SparkSession, dir: String): DataFrame =
    pacfOn(Tables.events(s, dir)
      .select(col("event_type"),
        datediff(to_date(date_trunc("DAY", col("ts"))),
          lit("1970-01-01").cast("date")).cast("bigint").as("x")))

  /** [[pacf]] core over an explicit (event_type, x=epoch-day) frame. */
  private[graft] def pacfOn(ev: DataFrame): DataFrame = {
    val daily = ev.groupBy("event_type", "x").agg(count(lit(1)).as("y"))
      .cache()
    val tot = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum("y").as("sy"))
    val a = daily.join(broadcast(tot), "event_type")
      .select(col("event_type"), col("x"),
        (col("n_days").cast("decimal(38,0)") * col("y") - col("sy"))
          .as("av"))
      .cache()
    val c0 = a.groupBy("event_type")
      .agg(sum(col("av") * col("av")).as("c0"))
    val lags = (1 to ACF_MAX_LAG).map(_.toLong)
    val ck = a
      .withColumn("lag", explode(array(lags.map(lit): _*)))
      .select(col("event_type"), col("lag"), col("av").as("a1"),
        (col("x") + col("lag")).as("qx"))
      .join(a.select(col("event_type"), col("x").as("qx"),
        col("av").as("a2")), Seq("event_type", "qx"))
      .groupBy("event_type", "lag")
      .agg(sum(col("a1") * col("a2")).as("ck"))
    // ρ_k quantized to 1e-6: exact integers → identical doubles
    val rhoWide = ck.join(c0, "event_type")
      .withColumn("rho", when(col("c0") > 0L,
        floor(col("ck").cast("double") / col("c0").cast("double")
          * lit(1000000.0d) + lit(0.5d)) / lit(1000000.0d)))
      .groupBy("event_type")
      .agg(max(when(col("lag") === lags.head, col("rho")))
        .as(s"r${lags.head}"),
        lags.tail.map(k =>
          max(when(col("lag") === k, col("rho"))).as(s"r$k")): _*)
      .withColumn("rhos", array(lags.map(k => col(s"r$k")): _*))
    // the Durbin-Levinson fold: φ_kk spelled inline wherever it appears
    // (the holtWinters precedent); k = size(acc) at each step
    val num = "element_at(rhos, size(acc))" +
      " - aggregate(sequence(1, size(acc) - 1), 0.0d," +
      " (s, j) -> s + element_at(acc, j + 1)" +
      " * element_at(rhos, size(acc) - j))"
    val phikk = s"(($num) / nullif(element_at(acc, 1), 0.0d))"
    // slice(…, 2, lag−1) instead of sequence(2, lag): Spark's
    // sequence(2, 1) is DESCENDING [2, 1] (step −1 default) where
    // DuckDB's generate_series(2, 1) is empty — the slice spelling is
    // empty at lag 1 in both engines
    val pacfExpr =
      s"""element_at(
         |  aggregate(slice(sequence(1, int(lag)), 2, int(lag) - 1),
         |    array(1.0d - element_at(rhos, 1) * element_at(rhos, 1),
         |          element_at(rhos, 1)),
         |    (acc, ig) -> concat(
         |      array(element_at(acc, 1) * (1.0d - $phikk * $phikk)),
         |      transform(sequence(1, size(acc) - 1),
         |        m -> element_at(acc, m + 1)
         |             - $phikk * element_at(acc, size(acc) + 1 - m)),
         |      array($phikk))),
         |  -1)""".stripMargin
    rhoWide
      .select(col("event_type"), col("rhos"),
        explode(array(lags.map(lit): _*)).as("lag"))
      .withColumn("rho", element_at(col("rhos"), col("lag").cast("int")))
      .withColumn("pacf",
        floor(expr(pacfExpr) * lit(10000.0d) + lit(0.5d)) / lit(10000.0d))
      .select(col("event_type"), col("lag"),
        (floor(col("rho") * lit(10000.0d) + lit(0.5d)) / lit(10000.0d))
          .as("acf"),
        col("pacf"))
      .orderBy("event_type", "lag")
  }

  private val pacfSql = {
    val lags = 1 to ACF_MAX_LAG
    val num = "rhos[CAST(len(acc) AS INT)]" +
      " - list_reduce(list_prepend(CAST(0.0 AS DOUBLE)," +
      " list_transform(generate_series(1, len(acc) - 1)," +
      " j -> CAST(j AS DOUBLE)))," +
      " (s, j) -> s + acc[CAST(j AS INT) + 1]" +
      " * rhos[CAST(len(acc) AS INT) - CAST(j AS INT)])"
    val phikk = s"(($num) / nullif(acc[1], 0.0))"
    val rWide = lags.map(k =>
      s"max(CASE WHEN lag = $k THEN rho END) AS r$k").mkString(",\n         ")
    s"""WITH daily AS MATERIALIZED (
       |  SELECT event_type,
       |         CAST(CAST(date_trunc('day', ts) AS DATE)
       |              - DATE '1970-01-01' AS BIGINT) AS x,
       |         CAST(count(*) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |tot AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
       |         CAST(sum(y) AS BIGINT) AS sy
       |  FROM daily GROUP BY 1),
       |a AS MATERIALIZED (
       |  SELECT daily.event_type, x,
       |         CAST(CAST(n_days AS DECIMAL(38,0)) * y - sy
       |              AS DECIMAL(38,0)) AS av
       |  FROM daily JOIN tot USING (event_type)),
       |c0 AS (
       |  SELECT event_type, CAST(sum(av * av) AS DECIMAL(38,0)) AS c0
       |  FROM a GROUP BY 1),
       |ck AS (
       |  SELECT p.event_type, l.lag,
       |         CAST(sum(p.av * q.av) AS DECIMAL(38,0)) AS ck
       |  FROM a p
       |  CROSS JOIN (SELECT unnest(generate_series(1, $ACF_MAX_LAG)) AS lag) l
       |  JOIN a q ON p.event_type = q.event_type AND p.x + l.lag = q.x
       |  GROUP BY 1, 2),
       |rho AS (
       |  SELECT ck.event_type, lag,
       |         CASE WHEN c0 > 0 THEN
       |           floor(CAST(ck AS DOUBLE) / CAST(c0 AS DOUBLE)
       |                 * 1000000.0 + 0.5) / 1000000.0 END AS rho
       |  FROM ck JOIN c0 USING (event_type)),
       |rw AS (
       |  SELECT event_type,
       |         $rWide
       |  FROM rho GROUP BY 1),
       |rl AS (
       |  SELECT event_type,
       |         [${lags.map(k => s"r$k").mkString(", ")}] AS rhos,
       |         unnest(generate_series(1, $ACF_MAX_LAG)) AS lag
       |  FROM rw),
       |f AS (
       |  SELECT event_type, lag, rhos[CAST(lag AS INT)] AS rho,
       |         list_reduce(
       |           list_prepend(
       |             [1.0 - rhos[1] * rhos[1], rhos[1]],
       |             list_transform(generate_series(2, CAST(lag AS INT)),
       |                            x -> [CAST(0.0 AS DOUBLE)])),
       |           (acc, e) ->
       |             [ acc[1] * (1.0 - $phikk * $phikk) ]
       |             || list_transform(generate_series(1, len(acc) - 1),
       |                  m -> acc[CAST(m AS INT) + 1]
       |                       - $phikk * acc[len(acc) + 1 - CAST(m AS INT)])
       |             || [ $phikk ])[-1] AS pacf
       |  FROM rl)
       |SELECT event_type, CAST(lag AS BIGINT) AS lag,
       |       floor(rho * 10000.0 + 0.5) / 10000.0 AS acf,
       |       floor(pacf * 10000.0 + 0.5) / 10000.0 AS pacf
       |FROM f ORDER BY event_type, lag""".stripMargin
  }

  /** KOLMOGOROV-SMIRNOV two-sample test between the train and test
    * splits' doc-length distributions — the exact-statistic complement
    * of [[driftPsi]]'s binned divergence: D = max |F_train − F_test|
    * over the empirical CDFs, compared against the α=0.05 critical value
    * 1.358·√((n+m)/nm).
    *
    * Scale shape: documents collapse to per-(value, split) counts inside
    * the scan; the CDF window runs over DISTINCT VALUES (bounded by the
    * value domain, not the corpus) — cumulative and total sums ride the
    * same ordered window, so no stats frame joins back. Per-row CDF
    * gaps fix to integer micro-units; the max is exact. */
  def ksTest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vals = Tables.documents(s, dir)
      .select(col("n_chars"),
        when(substring(md5(col("doc_id").cast("string")), 32, 1) < "4",
          "test").otherwise("train").as("split"))
      .groupBy("n_chars")
      .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("ct"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("cs"))
    val wc = Window.orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    vals
      .withColumn("nt", sum("ct").over(wt))
      .withColumn("ns", sum("cs").over(wt))
      .withColumn("d6",
        floor(abs(sum("ct").over(wc).cast("double") / col("nt")
          - sum("cs").over(wc).cast("double") / col("ns"))
          * lit(1000000.0d) + lit(0.5d)))
      .agg(max("nt").as("n_train"), max("ns").as("n_test"),
        max("d6").as("mx"))
      .select(col("n_train"), col("n_test"),
        (col("mx").cast("double") / lit(1000000.0d)).as("ks_stat"),
        (floor(lit(1.358d) * sqrt((col("n_train") + col("n_test"))
          .cast("double") / (col("n_train") * col("n_test")))
          * lit(1000000.0d) + lit(0.5d)) / lit(1000000.0d)).as("crit_05"))
  }

  private val ksTestSql =
    """WITH vals AS (
      |  SELECT n_chars,
      |         CAST(sum(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) >= '4'
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS ct,
      |         CAST(sum(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) < '4'
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS cs
      |  FROM documents GROUP BY 1),
      |cdf AS (
      |  SELECT CAST(floor(abs(
      |           CAST(sum(ct) OVER wc AS DOUBLE) / sum(ct) OVER wt
      |           - CAST(sum(cs) OVER wc AS DOUBLE) / sum(cs) OVER wt)
      |           * 1000000.0 + 0.5) AS BIGINT) AS d6,
      |         CAST(sum(ct) OVER wt AS BIGINT) AS n_train,
      |         CAST(sum(cs) OVER wt AS BIGINT) AS n_test
      |  FROM vals
      |  WINDOW wc AS (ORDER BY n_chars
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         wt AS (ORDER BY n_chars
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
      |SELECT max(n_train) AS n_train, max(n_test) AS n_test,
      |       CAST(max(d6) AS DOUBLE) / 1000000.0 AS ks_stat,
      |       floor(1.358 * sqrt(CAST(max(n_train) + max(n_test) AS DOUBLE)
      |                          / (max(n_train) * max(n_test)))
      |             * 1000000.0 + 0.5) / 1000000.0 AS crit_05
      |FROM cdf""".stripMargin

  /** Per-source Gini coefficient of document length — the corpus
    * inequality audit: G ≈ 0 means uniform doc sizes, G → 1 means a few
    * giant documents hold most of the characters (a skew that breaks
    * naive per-doc batching downstream). Uses the exact rank formula
    * G = (2·Σᵢ i·xᵢ) / (n·Σx) − (n+1)/n over ascending-sorted values.
    *
    * Scale shape: one window pass per source partition (rank by
    * (n_chars, doc_id) — the unique tiebreak makes ranks deterministic,
    * and equal values commute under the formula so the tiebreak cannot
    * change G); Σ i·xᵢ stays in BIGINT (rank ≤ n, x ≤ 10⁶ chars —
    * 10⁶-doc sources fit with room). Only (source, rank·x) partials
    * shuffle. */
  def gini(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(col("n_chars").asc, col("doc_id").asc)
    Tables.documents(s, dir).select("source", "doc_id", "n_chars")
      .withColumn("i", row_number().over(w).cast("bigint"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        sum(col("i") * col("n_chars")).as("swx"))
      .select(col("source"), col("n_docs"), col("total_chars"),
        (floor((lit(2.0d) * col("swx") / (col("n_docs") * col("total_chars"))
          .cast("double")
          - (col("n_docs") + lit(1L)).cast("double") / col("n_docs"))
          * lit(1000000.0d) + lit(0.5d)) / lit(1000000.0d)).as("gini"))
      .orderBy("source")
  }

  private val giniSql =
    """WITH ranked AS (
      |  SELECT source, n_chars,
      |         CAST(row_number() OVER (PARTITION BY source
      |                                 ORDER BY n_chars, doc_id) AS BIGINT) AS i
      |  FROM documents),
      |stats AS (
      |  SELECT source,
      |         CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |         CAST(sum(i * n_chars) AS BIGINT) AS swx
      |  FROM ranked GROUP BY 1)
      |SELECT source, n_docs, total_chars,
      |       floor((2.0 * swx / CAST(n_docs * total_chars AS DOUBLE)
      |              - CAST(n_docs + 1 AS DOUBLE) / n_docs)
      |             * 1000000.0 + 0.5) / 1000000.0 AS gini
      |FROM stats ORDER BY source""".stripMargin

  /** Lorenz-curve deciles of customer revenue — the table behind the
    * [[gini]] scalar: customers sort by lifetime revenue (exact integer
    * cents), split into ntile(10) deciles with the repo-standard unique
    * tiebreak, and each row reports the decile's revenue share plus the
    * running cumulative share — "the top decile books X% of revenue",
    * read directly. Both engines implement ntile identically (floor/
    * ceil split over the SAME total order, pinned by the custkey
    * tiebreak), cents sums are BIGINT, and the two share divisions are
    * the only FP, floor-fixed.
    *
    * Scale shape: customers grow with the corpus, so the decile split is
    * the DISTRIBUTED exact ntile ([[DistNtile.withNtile]] — range
    * exchange + per-partition rank + offset join), never a bare global
    * window; the only unpartitioned window left runs over the 10-row
    * decile table. Result is identical to the window form by
    * construction. */
  def lorenz(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = Tables.orders(s, dir)
      .groupBy("o_custkey")
      .agg(sum(expr("CAST(floor(o_totalprice * 100.0D + 0.5D) AS BIGINT)"))
        .as("cents"))
    val tot = rev.agg(sum("cents").as("t_c"), count(lit(1)).as("n"))
    DistNtile.withNtile(rev, 10,
        Seq(col("cents").asc, col("o_custkey").asc), "decile")
      .groupBy("decile")
      .agg(count(lit(1)).as("n_cust"), sum("cents").as("d_c"))
      .crossJoin(broadcast(tot))
      .withColumn("cum_c", sum("d_c").over(
        Window.orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("decile"), col("n_cust"),
        (floor(col("d_c").cast("double") / col("t_c").cast("double")
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("rev_share"),
        (floor(col("cum_c").cast("double") / col("t_c").cast("double")
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("cum_share"))
      .orderBy("decile")
  }

  private val lorenzSql =
    """WITH rev AS (
      |  SELECT o_custkey,
      |         CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
      |           AS BIGINT) AS cents
      |  FROM orders GROUP BY o_custkey),
      |tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t_c FROM rev),
      |dec AS (
      |  SELECT ntile(10) OVER (ORDER BY cents, o_custkey) AS decile,
      |         cents
      |  FROM rev),
      |agg AS (
      |  SELECT CAST(decile AS BIGINT) AS decile,
      |         CAST(count(*) AS BIGINT) AS n_cust,
      |         CAST(sum(cents) AS BIGINT) AS d_c
      |  FROM dec GROUP BY decile),
      |cum AS (
      |  SELECT decile, n_cust, d_c,
      |         CAST(sum(d_c) OVER (ORDER BY decile
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           AS BIGINT) AS cum_c
      |  FROM agg)
      |SELECT decile, n_cust,
      |       floor(CAST(d_c AS DOUBLE) / CAST(t_c AS DOUBLE)
      |             * 10000.0 + 0.5) / 10000.0 AS rev_share,
      |       floor(CAST(cum_c AS DOUBLE) / CAST(t_c AS DOUBLE)
      |             * 10000.0 + 0.5) / 10000.0 AS cum_share
      |FROM cum CROSS JOIN tot ORDER BY decile""".stripMargin

  /** Exact WEIGHTED quantiles: per-source p50/p90 of document length
    * where each document counts with its TOKEN weight, not once — the
    * distribution a token-budgeted training run actually samples from
    * (one 10k-token document outweighs a hundred 100-token ones, which
    * the unweighted percentile hides). Definition: the smallest value
    * whose cumulative weight reaches q·W — all-integer, no
    * interpolation, so the oracle is the identical window expression.
    *
    * Scale posture: weights collapse to per-(source, value) BIGINT sums
    * in-scan; the cumulative window runs over that distinct-value
    * aggregate, bounded by the value domain, not the corpus (the
    * [[ksTest]] precedent). min-filter instead of a rank pick keeps it
    * one window pass. */
  def weightedQuantiles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = Tables.documents(s, dir)
      .select(col("source"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("w"))
      .groupBy("source", "n_chars")
      .agg(sum("w").as("w"))
    val wc = Window.partitionBy("source").orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.partitionBy("source")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    g.withColumn("cw", sum("w").over(wc))
      .withColumn("tw", sum("w").over(wt))
      .groupBy("source")
      .agg(
        min(when(col("cw") * 2 >= col("tw"), col("n_chars"))).as("w_p50"),
        min(when(col("cw") * 10 >= col("tw") * 9, col("n_chars")))
          .as("w_p90"),
        max("tw").as("total_tokens"))
      .orderBy("source")
  }

  private val weightedQuantilesSql =
    """WITH g AS (
      |  SELECT source, n_chars,
      |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS w
      |  FROM documents GROUP BY source, n_chars),
      |c AS (
      |  SELECT source, n_chars,
      |         CAST(sum(w) OVER (PARTITION BY source ORDER BY n_chars
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           AS BIGINT) AS cw,
      |         CAST(sum(w) OVER (PARTITION BY source) AS BIGINT) AS tw
      |  FROM g)
      |SELECT source,
      |       min(CASE WHEN cw * 2 >= tw THEN n_chars END) AS w_p50,
      |       min(CASE WHEN cw * 10 >= tw * 9 THEN n_chars END) AS w_p90,
      |       max(tw) AS total_tokens
      |FROM c GROUP BY source ORDER BY source""".stripMargin

  /** ROC AUC (Mann-Whitney) of two per-document predictors of the binary
    * label "is English": n_chars and the whitespace token count. The
    * pairwise definition AUC = (#{pos>neg} + ½·#{pos=neg}) / (P·N) is
    * computed without the quadratic pair join via the tie-group identity:
    * group docs by distinct score, count positives p and negatives n per
    * group, and take wins×2 = Σ p·(2·neg_strictly_below + n_in_group).
    * Everything stays BIGINT until the single final division (operands
    * ≪ 2^53, so the doubles are exact and the one IEEE division is
    * bit-identical across engines; 4-dp via the floor discipline).
    *
    * Scale posture: the corpus is touched once (the two predictors ride
    * one scan through a row-local explode); the window runs over the
    * DISTINCT-SCORE aggregate — bounded by the value domain, not the
    * corpus (the [[ksTest]] precedent). */
  def auc(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = Tables.documents(s, dir)
      .select(col("lang"), col("n_chars").cast("long").as("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .select(explode(array(
        struct(lit("n_chars").as("metric"), col("n_chars").as("score"),
          col("lang")),
        struct(lit("n_toks").as("metric"), col("n_toks").as("score"),
          col("lang")))).as("r"))
      .select(col("r.metric").as("metric"), col("r.score").as("score"),
        col("r.lang").as("lang"))
    val groups = scored.groupBy("metric", "score")
      .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("p"),
        sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("n"))
    val below = Window.partitionBy("metric").orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    groups
      .withColumn("nb", coalesce(sum("n").over(below), lit(0L)))
      .groupBy("metric")
      .agg(sum("p").as("n_pos"), sum("n").as("n_neg"),
        sum(col("p") * (lit(2L) * col("nb") + col("n"))).as("wins2"))
      .select(col("metric"), col("n_pos"), col("n_neg"),
        (floor(col("wins2").cast("double")
          / (lit(2.0d) * col("n_pos") * col("n_neg"))
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("auc"))
      .orderBy("metric")
  }

  private val aucSql =
    """WITH u AS (
      |  SELECT 'n_chars' AS metric, CAST(n_chars AS BIGINT) AS score, lang
      |  FROM documents
      |  UNION ALL
      |  SELECT 'n_toks', CAST(len(string_split(text, ' ')) AS BIGINT), lang
      |  FROM documents),
      |g AS (
      |  SELECT metric, score,
      |         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
      |           AS p,
      |         CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n
      |  FROM u GROUP BY metric, score),
      |c AS (
      |  SELECT metric, p, n,
      |         COALESCE(CAST(sum(n) OVER (PARTITION BY metric ORDER BY score
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |           AS BIGINT), 0) AS nb
      |  FROM g)
      |SELECT metric, CAST(sum(p) AS BIGINT) AS n_pos,
      |       CAST(sum(n) AS BIGINT) AS n_neg,
      |       floor(CAST(sum(p * (2 * nb + n)) AS DOUBLE)
      |             / (2.0 * CAST(sum(p) AS BIGINT) * CAST(sum(n) AS BIGINT))
      |             * 10000.0 + 0.5) / 10000.0 AS auc
      |FROM c GROUP BY metric ORDER BY metric""".stripMargin

  /** Decile gains/lift table for the n_chars predictor of "is English" —
    * the threshold-free complement of [[auc]]: equi-depth deciles from the
    * exact interpolated quantile boundaries (engine-portable raw — the
    * [[equidepthHist]] precedent), then per-decile capture rate, lift vs
    * the base rate, and the cumulative share of positives captured
    * walking from the highest decile down (the gains chart a curation
    * run reads to pick a filter threshold).
    *
    * Scale posture: one corpus scan; the 9-boundary frame is a 1-row
    * broadcast; every window runs on the 10-row decile aggregate. */
  def liftCurve(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir)
      .select(col("n_chars").cast("double").as("x"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
    val ps = (1 to 9).map(k => s"${k / 10.0}D").mkString(", ")
    val bounds = d.agg(expr(s"percentile(x, array($ps))").as("bs"))
    val g = d.join(broadcast(bounds))
      .select(expr("size(filter(bs, b -> x > b))").as("decile"), col("pos"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"), sum("pos").as("n_pos"))
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val wDesc = Window.orderBy(col("decile").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.withColumn("tot_docs", sum("n_docs").over(wAll))
      .withColumn("tot_pos", sum("n_pos").over(wAll))
      .withColumn("cum_pos", sum("n_pos").over(wDesc))
      .select(col("decile"), col("n_docs"), col("n_pos"),
        (floor(col("n_pos").cast("double") / col("n_docs")
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("pos_rate"),
        (floor((col("n_pos").cast("double") / col("n_docs"))
          / (col("tot_pos").cast("double") / col("tot_docs"))
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("lift"),
        (floor(col("cum_pos").cast("double") / col("tot_pos")
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("cum_gain"))
      .orderBy("decile")
  }

  private val liftCurveSql = {
    val ps = (1 to 9).map(k => k / 10.0).mkString(", ")
    s"""WITH d AS (
       |  SELECT CAST(n_chars AS DOUBLE) AS x,
       |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
       |  FROM documents),
       |b AS (SELECT quantile_cont(x, [$ps]) AS bs FROM d),
       |g AS (
       |  SELECT CAST(len(list_filter(bs, y -> x > y)) AS INTEGER) AS decile,
       |         count(*) AS n_docs, CAST(sum(pos) AS BIGINT) AS n_pos
       |  FROM d CROSS JOIN b GROUP BY 1)
       |SELECT decile, n_docs, n_pos,
       |       floor(CAST(n_pos AS DOUBLE) / n_docs * 10000.0 + 0.5)
       |         / 10000.0 AS pos_rate,
       |       floor((CAST(n_pos AS DOUBLE) / n_docs)
       |             / (CAST(sum(n_pos) OVER () AS DOUBLE)
       |                / sum(n_docs) OVER ())
       |             * 10000.0 + 0.5) / 10000.0 AS lift,
       |       floor(CAST(sum(n_pos) OVER (ORDER BY decile DESC
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |               AS DOUBLE)
       |             / sum(n_pos) OVER () * 10000.0 + 0.5) / 10000.0
       |         AS cum_gain
       |FROM g ORDER BY decile""".stripMargin
  }

  /** Price buckets the skyline scan partitions its windows by. */
  private val SKY_BUCKETS = 32

  /** 2-D skyline (Pareto frontier) of the parts catalog: the points not
    * dominated on (price ↓ better, size ↑ better) — the preference-query
    * operator family (maximal-vector / BNL literature). A point is
    * dominated iff some part is ≤ on price AND ≥ on size with at least
    * one strict.
    *
    * Scalable shape: dominance only ever flows from cheaper prices, so
    * (1) collapse the corpus to one (price, best_size) row per DISTINCT
    * price in the scan stage — a same-price point below its price's max
    * size is dominated by that max (or is a duplicate of it, which
    * survives with it); (2) range-bucket the distinct-price table and
    * take the running max WITHIN each bucket (partitioned windows — no
    * global window over data-sized input); (3) fold the strictly-lower
    * buckets in via a bucket-count-sized prefix-max frame broadcast back.
    * A price survives iff its best size strictly exceeds every earlier
    * best; the surviving (price, size) pairs — skyline-sized — broadcast
    * back onto the scan to count the points sitting ON the frontier.
    * The bucket assignment only needs to be monotone in price for the
    * decomposition to be exact, so FP boundary wobble is harmless. */
  def skyline(s: SparkSession, dir: String): DataFrame =
    skylineOn(Tables.part(s, dir)
      .select(col("p_retailprice").as("p"), col("p_size").as("sz")))
      .select(col("p").as("p_retailprice"), col("sz").as("p_size"),
        col("n_points"))
      .orderBy("p_retailprice")

  /** Skyline core over a (p: minimize, sz: maximize) point frame;
    * returns the frontier as (p, sz, n_points) unordered. */
  private[graft] def skylineOn(pts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = pts.groupBy("p").agg(max("sz").as("best"))
    val bounds = d.agg(min("p").as("lo"), max("p").as("hi"))
    val withB = d.join(broadcast(bounds))
      .withColumn("bucket",
        when(col("hi") === col("lo"), lit(0))
          .otherwise(least(
            floor((col("p") - col("lo"))
              / ((col("hi") - col("lo")) / lit(SKY_BUCKETS.toDouble))),
            lit((SKY_BUCKETS - 1).toDouble)).cast("int")))
      .select("p", "best", "bucket")
    val wIn = Window.partitionBy("bucket").orderBy("p")
      .rowsBetween(Window.unboundedPreceding, -1)
    val perBucket = withB.groupBy("bucket").agg(max("best").as("bmax"))
    // ≤ SKY_BUCKETS rows: the global window here is constant-sized
    val wB = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = perBucket
      .withColumn("pmax", max("bmax").over(wB)).select("bucket", "pmax")
    val surv = withB.withColumn("im", max("best").over(wIn))
      .join(broadcast(prefix), Seq("bucket"))
      .filter(col("best") >
        coalesce(greatest(col("im"), col("pmax")), lit(Int.MinValue)))
      .select(col("p").as("sp"), col("best"))
    pts.join(broadcast(surv),
        col("p") === col("sp") && col("sz") === col("best"))
      .groupBy("p", "sz").agg(count(lit(1)).as("n_points"))
  }

  /** Oracle: independent single-window formulation over the distinct-
    * price table (fine at oracle scale; the Spark side must reach the
    * identical fixpoint through the bucketed decomposition). */
  private val skylineSql =
    """WITH d AS (
      |  SELECT p_retailprice AS p, max(p_size) AS best
      |  FROM part GROUP BY p_retailprice),
      |r AS (
      |  SELECT p, best,
      |         max(best) OVER (ORDER BY p
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mb
      |  FROM d),
      |s AS (SELECT p, best FROM r WHERE mb IS NULL OR best > mb)
      |SELECT p AS p_retailprice, best AS p_size,
      |       CAST(count(*) AS BIGINT) AS n_points
      |FROM part JOIN s ON p_retailprice = s.p AND p_size = s.best
      |GROUP BY p, best ORDER BY p""".stripMargin

  /** Candidate watermark delays (seconds) for the lateness sweep. */
  private val WM_DELAYS = Seq(0L, 60L, 300L, 900L, 3600L)

  /** Watermark-delay sweep over the event stream — the table read BEFORE
    * choosing `withWatermark`: for each candidate delay D, how many
    * events arrive more than D behind the latest event time already seen
    * on their key (and would be dropped by a D watermark). Arrival order
    * is the event_id sequence; disorder is measured per user, which is
    * both the keyed-state semantics of a streaming aggregation and what
    * keeps the window KEY-PARTITIONED — one hash exchange on user_id, no
    * global arrival sort (a global running max is a sequential dependency
    * no 100 TB scan can afford). The sweep itself is conditional
    * aggregation in the same pass (exact BIGINT µs comparisons), so the
    * whole census is one scan + one narrow shuffle. */
  def watermarkSweep(s: SparkSession, dir: String): DataFrame =
    watermarkSweepOn(Tables.events(s, dir))

  /** Core sweep over any (user_id, event_id, ts) frame — exposed for the
    * planted-disorder spec. */
  private[graft] def watermarkSweepOn(events: DataFrame): DataFrame = {
    val wSpec = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val lag = events
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("us"))
      .withColumn("lag_us", max("us").over(wSpec) - col("us"))
    val counts = lag.agg(count(lit(1)).as("n_events"),
      WM_DELAYS.map(d =>
        sum(when(col("lag_us") > d * 1000000L, 1L).otherwise(0L))
          .as(s"late_$d")): _*)
    val stackArgs = WM_DELAYS.map(d => s"${d}L, late_$d").mkString(", ")
    counts
      .select(col("n_events"),
        expr(s"stack(${WM_DELAYS.size}, $stackArgs) AS (delay_s, n_late)"))
      .select(col("delay_s"), col("n_late"),
        (floor(col("n_late").cast("double") / col("n_events").cast("double")
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("pct_late"))
      .orderBy("delay_s")
  }

  private val watermarkSweepSql = {
    val selects = WM_DELAYS.map { d =>
      s"""SELECT CAST($d AS BIGINT) AS delay_s, late_$d AS n_late,
         |       floor(CAST(late_$d AS DOUBLE) / CAST(n AS DOUBLE)
         |             * 10000.0 + 0.5) / 10000.0 AS pct_late
         |FROM c""".stripMargin
    }.mkString("\nUNION ALL\n")
    val aggs = WM_DELAYS.map(d =>
      s"CAST(count(*) FILTER (lag_us > ${d * 1000000L}) AS BIGINT) AS late_$d")
      .mkString(",\n       ")
    s"""WITH l AS (
       |  SELECT max(epoch_us(ts)) OVER (PARTITION BY user_id
       |           ORDER BY event_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |         - epoch_us(ts) AS lag_us
       |  FROM events),
       |c AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |       $aggs
       |  FROM l)
       |SELECT * FROM (
       |$selects)
       |ORDER BY delay_s""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("q_watermark_sweep", watermarkSweep, Some(watermarkSweepSql),
      doc = "Watermark-delay sweep: per candidate delay, events arriving " +
        "late vs their key's running max event time — the census behind " +
        "choosing withWatermark"),
    Q("q_histogram", histogram, Some(histogramSql)),
    Q("q_skyline", skyline, Some(skylineSql)),
    Q("q_auc", auc, Some(aucSql)),
    Q("q_lift_curve", liftCurve, Some(liftCurveSql)),
    Q("q_weighted_quantiles", weightedQuantiles, Some(weightedQuantilesSql)),
    Q("q_corr_matrix", corrMatrix, Some(corrMatrixSql)),
    Q("q_spearman", spearmanMatrix, Some(spearmanMatrixSql),
      doc = "Spearman rank-correlation matrix: tie-averaged ranks as " +
        "exact doubled integers via the distributed range-exchange " +
        "rank, Pearson over ranks with DECIMAL(38,0) sums"),
    Q("q_kendall_tau", kendallTau, Some(kendallTauSql),
      doc = "Kendall tau-b from the bounded-domain contingency table: " +
        "exact integer concordant/discordant cell-pair sums, doubled " +
        "non-tied counts, one final IEEE sequence"),
    Q("q_daily_trend", dailyTrend, Some(dailyTrendSql)),
    Q("q_equidepth_hist", equidepthHist, Some(equidepthHistSql)),
    Q("q_theil_sen", theilSen, Some(theilSenSql)),
    Q("q_ks_test", ksTest, Some(ksTestSql)),
    Q("q_benford", benford, Some(benfordSql)),
    Q("q_acf", acf, Some(acfSql)),
    Q("q_ar_fit", arFit, Some(arFitSql),
      doc = "AR(2) Yule-Walker fit per event type: global-mean " +
        "autocovariances as exact DECIMAL sums via the n*y - S " +
        "substitution, closed-form phi with degenerate-series NULL " +
        "guards"),
    Q("q_pacf", pacf, Some(pacfSql),
      doc = "partial autocorrelation lags 1..7 via the Durbin-Levinson " +
        "sequential fold over 1e-6-quantized autocorrelations - " +
        "identical operation order in Spark aggregate and DuckDB " +
        "list_reduce"),
    Q("q_gini", gini, Some(giniSql)),
    Q("q_lorenz", lorenz, Some(lorenzSql),
      doc = "Lorenz deciles of customer revenue: exact-cents ntile(10) " +
        "with unique tiebreak, per-decile + cumulative shares — the " +
        "table behind the q_gini scalar"),
    Q("q_skew_profile", skewProfile, Some(skewProfileSql)),
    Q("q_source_overlap", sourceOverlap, Some(sourceOverlapSql)),
    Q("q_winsorized", winsorized, Some(winsorizedSql)),
    Q("q_ref_integrity", refIntegrity, Some(refIntegritySql)),
    Q("q_drift_psi", driftPsi, Some(driftPsiSql)),
    Q("q_iqr_outliers", iqrOutliers, Some(iqrOutliersSql)),
    Q("q_expectations", expectations, Some(expectationsSql),
      doc = "Declarative data-quality verification suite (deequ-style): " +
        "8 heterogeneous constraints — completeness, ranges, value sets, " +
        "positivity, key uniqueness — verdicts + violation counts in one " +
        "scan; the fixture's non-unique line key genuinely fails"))

  /** Declarative constraint-verification suite — the deequ/Great-
    * Expectations shape: a fixed battery of heterogeneous constraints
    * (completeness, numeric ranges, value-set membership, positivity,
    * composite-key uniqueness) evaluated over lineitem, one verdict row
    * per constraint with exact violation counts. This is the GATE a
    * pipeline blocks on before a new drop enters training, one level up
    * from [[columnProfile]]'s descriptive census and [[refIntegrity]]'s
    * join closure.
    *
    * Scale shape: every constraint folds into ONE aggregate over one
    * scan (the uniqueness term rides the same agg as a two-column
    * distinct — Catalyst Expand, not a second pass); the wide 1-row
    * result then unpivots driver-free via `stack`. Violation counts stay
    * exact BIGINTs; verdict is their zero test. */
  def expectations(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    def viol(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    // r14: the uniqueness check rides its OWN branch instead of a
    // countDistinct inside the wide aggregate — the one-distinct rewrite
    // was Expand-doubling the whole row stream through the scan stage and
    // merging 600k near-unique partials on one (AQE-coalesced) task
    // (measured 592 ms scan + 310 ms merge of the 1.13 s total). The
    // plain checks become a partial-aggregating single pass with a 1-row
    // exchange; the distinct pair count runs on the 2-column projection
    // and both branches overlap as independent stages. Same values, same
    // output schema.
    // not-null filter mirrors countDistinct exactly (it skips rows with
    // any null argument; bare distinct would count a null pair as a key)
    val uniq = li.select("l_orderkey", "l_linenumber")
      .where(col("l_orderkey").isNotNull && col("l_linenumber").isNotNull)
      .distinct().agg(count(lit(1)).as("n_uniq_pairs"))
    val wide = li.agg(
      count(lit(1)).as("n"),
      viol(col("l_orderkey").isNull).as("v_oknull"),
      viol(col("l_shipdate").isNull).as("v_sdnull"),
      viol(col("l_extendedprice").isNull ||
        col("l_extendedprice") <= 0).as("v_price"),
      viol(col("l_discount").isNull ||
        col("l_discount") < 0 || col("l_discount") > 0.1).as("v_disc"),
      viol(col("l_quantity").isNull ||
        col("l_quantity") < 1 || col("l_quantity") > 50).as("v_qty"),
      viol(col("l_linestatus").isNull ||
        !col("l_linestatus").isin("O", "F")).as("v_ls"),
      viol(col("l_returnflag").isNull ||
        !col("l_returnflag").isin("A", "N", "R")).as("v_rf"))
      .crossJoin(broadcast(uniq))
      .withColumn("v_uniq", col("n") - col("n_uniq_pairs"))
    wide.select(col("n").as("n_rows"), expr(
      """stack(8,
        |  'complete:l_orderkey', v_oknull,
        |  'complete:l_shipdate', v_sdnull,
        |  'positive:l_extendedprice', v_price,
        |  'range:l_discount', v_disc,
        |  'range:l_quantity', v_qty,
        |  'set:l_linestatus', v_ls,
        |  'set:l_returnflag', v_rf,
        |  'unique:l_orderkey+l_linenumber', v_uniq)
        |  AS (check_name, n_violations)""".stripMargin))
      .select(col("check_name"), col("n_rows"), col("n_violations"),
        (col("n_violations") === 0L).as("passed"))
      .orderBy("check_name")
  }

  // NOTE: initialization-order hazard — `val all` captures this string at
  // object init; as a plain val declared after `all` it would still be
  // null when captured. `lazy val` makes the capture order-independent.
  private lazy val expectationsSql =
    """WITH a AS MATERIALIZED (
      |  SELECT count(*) AS n,
      |    count(*) FILTER (l_orderkey IS NULL) AS v_oknull,
      |    count(*) FILTER (l_shipdate IS NULL) AS v_sdnull,
      |    count(*) FILTER (l_extendedprice IS NULL
      |                     OR l_extendedprice <= 0) AS v_price,
      |    count(*) FILTER (l_discount IS NULL
      |                     OR l_discount < 0 OR l_discount > 0.1) AS v_disc,
      |    count(*) FILTER (l_quantity IS NULL
      |                     OR l_quantity < 1 OR l_quantity > 50) AS v_qty,
      |    count(*) FILTER (l_linestatus IS NULL
      |                     OR l_linestatus NOT IN ('O', 'F')) AS v_ls,
      |    count(*) FILTER (l_returnflag IS NULL
      |                     OR l_returnflag NOT IN ('A', 'N', 'R')) AS v_rf,
      |    count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS v_uniq
      |  FROM lineitem)
      |SELECT check_name, n AS n_rows, n_violations,
      |       n_violations = 0 AS passed
      |FROM (
      |  SELECT 'complete:l_orderkey' AS check_name,
      |         v_oknull AS n_violations, n FROM a
      |  UNION ALL SELECT 'complete:l_shipdate', v_sdnull, n FROM a
      |  UNION ALL SELECT 'positive:l_extendedprice', v_price, n FROM a
      |  UNION ALL SELECT 'range:l_discount', v_disc, n FROM a
      |  UNION ALL SELECT 'range:l_quantity', v_qty, n FROM a
      |  UNION ALL SELECT 'set:l_linestatus', v_ls, n FROM a
      |  UNION ALL SELECT 'set:l_returnflag', v_rf, n FROM a
      |  UNION ALL SELECT 'unique:l_orderkey+l_linenumber', v_uniq, n FROM a)
      |ORDER BY check_name""".stripMargin
}
