package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** Graph analytics over relationships the star schema implies — here the
  * CO-PURCHASE graph (parts that appear in the same order), the classic
  * "importance ranking over an implicit graph" workload. Complements the
  * KNN graph ops in [[Similarity]] (knnJoin / labelProp): those build a
  * graph from embedding geometry, this one from transactional
  * co-occurrence.
  *
  * Scale posture: the edge list is built once (per-order part-sets, one
  * fact shuffle, row-local pair explode, distinct over bare id pairs)
  * and cached; every PageRank round
  * shuffles (node, BIGINT) tuples only — never payloads — and per-round
  * work is one edge join + one aggregate, the same bounded-round
  * discipline as [[Dedup.dupClusters]]. Determinism: ranks live in
  * integer NANO-UNITS (BIGINT); each edge contribution is
  * floor(0.85 · r / deg + 0.5) — a single IEEE expression over exact
  * integers — and per-node sums are BIGINT. No double ever aggregates,
  * so the result is merge-order-independent and engine-identical (the
  * DuckDB oracle unrolls the same five rounds as chained CTEs).
  */
object Graph {

  private[graft] val ROUNDS = 5
  private val TOP = 20

  /** Orders with more DISTINCT parts than this are dropped from every
    * co-purchase edge build: the pair explode is Σ|order|², so a single
    * pathological giant order (a merged cart, an ingestion bug folding a
    * day into one key) would emit |order|² pairs and dominate the whole
    * build — the same cap-the-degenerate-key discipline as Dedup's
    * BUCKET_CAP / POSTING_CAP. Real orders are a handful of lines (TPC-H
    * maxes at 7), so the cap is semantic-free on sane data; the DuckDB
    * oracles apply the identical HAVING so capped results stay
    * hash-comparable. Planted-giant-order behavior is pinned in
    * GraphSpec. */
  private[graft] val ORDER_CAP = 256

  /** Directed co-purchase edge pairs (NOT yet deduplicated — the
    * consumer dedups after partitioning, see [[pagerankOn]]) from a
    * (l_orderkey, l_partkey) frame — per-order part-sets + a row-local
    * pair explode: ONE fact scan and one (orderkey, partkey) shuffle
    * instead of a self-join's two, and the exploded pairs stay bare int
    * ids. Giant orders are capped out BEFORE the explode (see
    * [[ORDER_CAP]]) — the filter runs on the collected set's size, so
    * the quadratic fan-out never happens. */
  private[graft] def copurchaseEdges(li: DataFrame): DataFrame =
    li.groupBy("l_orderkey").agg(collect_set("l_partkey").as("ps"))
      .filter(size(col("ps")) <= ORDER_CAP)
      .select(explode(col("ps")).as("src"), col("ps"))
      .select(col("src"), explode(col("ps")).as("dst"))
      .filter(col("src") =!= col("dst"))

  /** PageRank (damping 0.85, 5 power iterations) over the co-purchase
    * graph: nodes = parts, edges = distinct same-order part pairs (both
    * directions, so the graph is symmetric and every node has outdegree
    * ≥ 1). Output: the TOP most central parts with their rank in nano
    * units — exact integers, no float compare anywhere. */
  def pagerank(s: SparkSession, dir: String): DataFrame = {
    pagerankRounds(copurchasePrep(s, dir))
      .orderBy(col("r").desc, col("node").asc)
      .limit(TOP)
      .select(col("node").as("p_partkey"), col("r").as("rank_nano"))
  }

  /** Memoized prepared co-purchase edge table + node census for
    * [[pagerank]] — the build (pair count, repartition+dedup+degree,
    * cache materialization, census) costs 3 jobs over the fact table and
    * is identical across calls, while the 5 power rounds are the actual
    * query. Same per-(session, dir, fingerprint) lifecycle as
    * [[affinityEdges]]: first consumer pays (BuildMeter-flagged),
    * stopped sessions sweep out, an in-place fixture change is a miss. */
  private val prMemo = new graft.Memo.Pinned[(DataFrame, Long)]("lineitem")

  private def copurchasePrep(s: SparkSession, dir: String): (DataFrame, Long) =
    prMemo(s, dir) {
      prepareRankEdges(copurchaseEdges(
        Tables.lineitem(s, dir).select("l_orderkey", "l_partkey")))
    }

  /** Core power iteration over a directed edge list (src, dst) — possibly
    * with duplicate pairs, deduplicated here AFTER partitioning — whose
    * every node has an out-edge AND an in-edge (symmetric edge sets
    * qualify). Returns the full (node, r) rank table in nano units. */
  /** Edges per round-partition: the per-round join + aggregate over a
    * 5-round chain is STAGE-LAUNCH-bound when the per-partition slice is
    * tiny (10 stages × shuffle-partition-many ~ms tasks), so the cached
    * edge list is re-coalesced to ⌈|E| / this⌉ partitions (capped at the
    * session's shuffle parallelism). At sf0.1 (2.4M edges) that is 4
    * partitions and halves the round time; at 100 TB |E|/524288 exceeds
    * any sane shuffle-partition conf, so the swap never triggers and the
    * full parallelism is used — same adaptive-to-measured-size discipline
    * as AQE's partition coalescing, applied to a cached iteration table. */
  private val EDGES_PER_ROUND_PART = 524288L

  private[graft] def pagerankOn(edges0: DataFrame): DataFrame =
    pagerankRounds(prepareRankEdges(edges0))

  private[graft] def prepareRankEdges(edges0: DataFrame): (DataFrame, Long) = {
    // pin the edge list once, so all ROUNDS execute as ONE lazy DAG over
    // the pinned blocks: no per-round broadcast build or checkpoint job,
    // no driver round-trips between rounds. The pinned plan does NOT
    // carry the hash(src) partitioning into the rounds: the checkpoint is
    // taken of an adaptive plan, whose output partitioning is unknown, so
    // the scan reports UnknownPartitioning and a round's join re-shuffles
    // the edge list unless the rank table is small enough to broadcast.
    //
    // ONE exchange builds the whole partitioned+deduped+degreed edge
    // list: hash(src) satisfies the subset-clustering requirement of
    // BOTH the (src, dst) dedup and the per-src degree window, so after
    // the explicit repartition the distinct and the degree count plan
    // exchange-free. Out-degree is baked INTO the cached edge list as a
    // partition-local window count (the oracle's `ed` CTE does the
    // same): the per-edge contribution floor(0.85·r/deg+0.5) is constant
    // across a source's edges, so computing it edge-local is identical
    // to the per-source form — and it deletes a whole node-table join
    // (+ its exchange) from EVERY round.
    val nPart = edges0.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    // size the round partitioning BEFORE building the cache, from the
    // PRE-dedup pair count — an upper bound on |E| that costs one light
    // job over the pair explode (no dedup pass), so the partitioned+
    // deduped+degreed edge list is built and materialized exactly ONCE
    // at its final partitioning (the old shape built a 32-partition
    // cache, counted it, then re-cached a coalesced copy — two
    // materializations of the same table)
    val pairEstimate = edges0.count()
    val roundParts = math.max(1L,
      math.min(nPart.toLong, pairEstimate / EDGES_PER_ROUND_PART)).toInt
    // localCheckpoint, not cache: pins the deduped+degreed edge blocks
    // AND survives catalog.clearCache — the [[affinityEdges]] discipline;
    // with cache() every bench pass silently re-paid the whole edge build
    // inside round 1's DAG.
    val edges = edges0.repartition(roundParts, col("src")).distinct()
      .withColumn("deg", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("src")))
      .localCheckpoint()
    // one job yields the exact census (driver holds one long)
    val n = edges.agg(countDistinct(col("src"))).collect().head.getLong(0)
    (edges, n)
  }

  private def pagerankRounds(prep: (DataFrame, Long)): DataFrame = {
    val (edges, n) = prep
    // same doubles DuckDB computes from its 1-row params frame
    val r0 = math.floor(1000000000.0d / n.toDouble).toLong
    val base = math.floor(150000000.0d / n.toDouble + 0.5d).toLong
    // one round: the contribution floor(0.85·r/deg + 0.5) is computed per
    // edge and the groupBy(dst) shuffle is the inherent fan-in. The
    // symmetric edge set guarantees every node receives ≥ 1
    // contribution, so no completion join against the node table.
    def step(from: DataFrame, r: Column): DataFrame =
      from.groupBy("dst")
        .agg(sum(floor(lit(0.85d) * r / col("deg") + lit(0.5d))).as("sc"))
        .select(col("dst").as("node"), (lit(base) + col("sc")).as("r"))
    // round 1 in closed form: every src starts at r0, so it needs neither
    // a seed rank table nor a join
    var ranks = step(edges, lit(r0))
    for (_ <- 2 to ROUNDS)
      ranks = step(edges.join(ranks, col("src") === col("node")), col("r"))
    ranks
  }

  private val pagerankSql = {
    val rounds = (1 to ROUNDS).map { k =>
      s"""r$k AS (
         |  SELECT ed.dst AS node,
         |         p.base + CAST(sum(CAST(floor(0.85 * r.r / ed.deg + 0.5)
         |                                AS BIGINT)) AS BIGINT) AS r
         |  FROM ed JOIN r${k - 1} r ON ed.src = r.node
         |  CROSS JOIN params p
         |  GROUP BY ed.dst, p.base)""".stripMargin
    }.mkString(",\n")
    s"""WITH li0 AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |ok AS (SELECT l_orderkey FROM li0 GROUP BY 1
       |       HAVING count(DISTINCT l_partkey) <= $ORDER_CAP),
       |li AS (SELECT li0.* FROM li0 JOIN ok USING (l_orderkey)),
       |e AS (
       |  SELECT DISTINCT x.l_partkey AS src, y.l_partkey AS dst
       |  FROM li x JOIN li y
       |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey <> y.l_partkey),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src),
       |ed AS (SELECT e.src, e.dst, d.deg FROM e JOIN deg d ON e.src = d.src),
       |params AS (
       |  SELECT CAST(floor(1000000000.0 / CAST(count(*) AS DOUBLE)) AS BIGINT) AS r0,
       |         CAST(floor(150000000.0 / CAST(count(*) AS DOUBLE) + 0.5) AS BIGINT) AS base
       |  FROM deg),
       |r0 AS (SELECT d.src AS node, p.r0 AS r FROM deg d CROSS JOIN params p),
       |$rounds
       |SELECT node AS p_partkey, CAST(r AS BIGINT) AS rank_nano
       |FROM r$ROUNDS ORDER BY rank_nano DESC, p_partkey LIMIT $TOP""".stripMargin
  }

  private val TRI_MIN_ORDERS = 2

  /** Triangle count of the co-purchase AFFINITY graph (plus node/edge
    * census) — the clustering-structure metric behind community
    * detection and recommend-because-your-basket-closes-triangles
    * features. Edges require co-occurrence in ≥ $TRI_MIN_ORDERS distinct
    * orders: single co-occurrences are basket noise, and the support
    * threshold is also what keeps the graph sparse — the raw
    * one-co-occurrence graph's mean degree GROWS with order count (every
    * new order adds clique edges over a fixed part universe), so an
    * unthresholded wedge join would go quadratic at scale; support
    * filtering is the graph analog of PMI's min-support.
    *
    * Algorithm: DEGREE-ORDERED orientation — every undirected edge
    * points from its (degree, id)-smaller endpoint, so each triangle has
    * exactly one (x→y, x→z, y→z) orientation and is counted once; the
    * wedge join's fan-out is Σ outdeg², and min-degree orientation
    * bounds outdegrees by ~√m — the standard trick that keeps the join
    * linear-ish on power-law graphs where a hub's naive wedge count
    * would be quadratic. Wedges close via a LEFT SEMI join (bare id
    * pairs). All shuffles carry int ids. */
  /** Support-thresholded undirected affinity edges (a < b) with their
    * co-occurrence support `w`, shared by [[triangles]], [[degreeStats]],
    * [[kcore]], [[assortativity]], [[modularity]], [[linkPrediction]]
    * and [[assocRules]] (the topology consumers ignore `w`; it rides the
    * memo so the rule miner doesn't pay a second pair build). Same
    * [[ORDER_CAP]] guard as [[copurchaseEdges]] — the suffix explode is
    * C(|order|, 2). */
  private[graft] def affinityEdgesOn(li: DataFrame): DataFrame =
    li.groupBy("l_orderkey").agg(sort_array(collect_set("l_partkey")).as("ps"))
      .filter(size(col("ps")) <= ORDER_CAP)
      // upper triangle only: each element pairs with the SORTED array's
      // strict suffix, so a < b holds by construction and the generator
      // emits C(n,2) rows instead of n² rows filtered to half
      .select(posexplode(col("ps")).as(Seq("i", "a")), col("ps"))
      .select(col("a"),
        explode(expr("slice(ps, i + 2, size(ps))")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("w"))
      .filter(col("w") >= TRI_MIN_ORDERS)
      .select("a", "b", "w")

  /** Memoized per (session, dir, fixture fingerprint) affinity edge
    * table — FOUR registered queries consume the identical build
    * (triangles, k-core, degree census, assortativity), so it joins the
    * shared once-per-corpus builds (the Dedup cand/label-memo pattern,
    * same lifecycle guards): pinned as narrow (a, b) id-pair blocks via
    * localCheckpoint, first consumer pays, an in-place fixture
    * regeneration is a cache miss, stopped sessions sweep out, and a
    * stale entry releases its own blocks ([[graft.Memo]]). */
  private val edgeMemo = new graft.Memo.Pinned[DataFrame]("lineitem")

  private[graft] def affinityEdges(s: SparkSession, dir: String): DataFrame =
    edgeMemo(s, dir) {
      affinityEdgesOn(
        Tables.lineitem(s, dir).select("l_orderkey", "l_partkey"))
        .localCheckpoint()
    }

  def triangles(s: SparkSession, dir: String): DataFrame =
    trianglesOn(affinityEdges(s, dir))

  /** Degree census of the affinity graph — the structure profile read
    * BEFORE running any graph algorithm on it (max/p90 degree predict
    * wedge-join cost, [[triangles]]; a heavy tail says orient-by-degree
    * or cap). One scan of the edge list; every aggregate is
    * node-cardinality. n_edges = Σdeg/2 — derived from the degree table
    * rather than a second edge count, so the whole census is one
    * aggregate over one frame (no stats-frame crossJoin). */
  def degreeStats(s: SparkSession, dir: String): DataFrame =
    affinityEdges(s, dir)
      .select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .agg(count(lit(1)).as("n_nodes"),
        expr("sum(deg) div 2").as("n_edges"),
        min("deg").as("min_deg"), max("deg").as("max_deg"),
        (floor(sum("deg").cast("double") / count(lit(1)) * lit(10000.0d)
          + lit(0.5d)) / lit(10000.0d)).as("avg_deg"),
        (floor(expr("percentile(deg, 0.5D)") * lit(10000.0d) + lit(0.5d))
          / lit(10000.0d)).as("p50_deg"),
        (floor(expr("percentile(deg, 0.9D)") * lit(10000.0d) + lit(0.5d))
          / lit(10000.0d)).as("p90_deg"))

  private val degreeStatsSql =
    s"""WITH li0 AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |ok AS (SELECT l_orderkey FROM li0 GROUP BY 1
       |       HAVING count(DISTINCT l_partkey) <= $ORDER_CAP),
       |li AS (SELECT li0.* FROM li0 JOIN ok USING (l_orderkey)),
       |und AS (
       |  SELECT a, b FROM (
       |    SELECT x.l_partkey AS a, y.l_partkey AS b
       |    FROM li x JOIN li y
       |      ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
       |    GROUP BY x.l_orderkey, a, b)
       |  GROUP BY a, b HAVING count(*) >= $TRI_MIN_ORDERS),
       |deg AS (
       |  SELECT node, count(*) AS deg FROM (
       |    SELECT a AS node FROM und UNION ALL SELECT b FROM und)
       |  GROUP BY 1)
       |SELECT count(*) AS n_nodes,
       |       CAST(sum(deg) // 2 AS BIGINT) AS n_edges,
       |       CAST(min(deg) AS BIGINT) AS min_deg,
       |       CAST(max(deg) AS BIGINT) AS max_deg,
       |       floor(CAST(sum(deg) AS DOUBLE) / count(*) * 10000.0 + 0.5)
       |         / 10000.0 AS avg_deg,
       |       floor(quantile_cont(deg, 0.5) * 10000.0 + 0.5) / 10000.0
       |         AS p50_deg,
       |       floor(quantile_cont(deg, 0.9) * 10000.0 + 0.5) / 10000.0
       |         AS p90_deg
       |FROM deg""".stripMargin

  /** Core census over any undirected edge frame (a, b) with a < b. */
  private[graft] def trianglesOn(und0: DataFrame): DataFrame = {
    val und = und0.cache()
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .cache()
    val firstIsSmaller = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val o = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(when(firstIsSmaller, col("a")).otherwise(col("b")).as("x"),
        when(firstIsSmaller, col("b")).otherwise(col("a")).as("y"))
      .cache()
    val wedges = o.as("e1").join(o.as("e2"), col("e1.y") === col("e2.x"))
      .select(col("e1.x").as("x"), col("e2.y").as("z"))
    val closed = wedges.as("w").join(o.as("e3"),
      col("w.x") === col("e3.x") && col("w.z") === col("e3.y"), "left_semi")
    deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(und.agg(count(lit(1)).as("n_edges")))
      .crossJoin(closed.agg(count(lit(1)).as("n_triangles")))
  }

  private val trianglesSql =
    s"""WITH li0 AS (SELECT l_orderkey, l_partkey FROM lineitem),
      |ok AS (SELECT l_orderkey FROM li0 GROUP BY 1
      |       HAVING count(DISTINCT l_partkey) <= $ORDER_CAP),
      |li AS (SELECT li0.* FROM li0 JOIN ok USING (l_orderkey)),
      |und AS (
      |  SELECT a, b FROM (
      |    SELECT x.l_partkey AS a, y.l_partkey AS b
      |    FROM li x JOIN li y
      |      ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
      |    GROUP BY x.l_orderkey, a, b)
      |  GROUP BY a, b HAVING count(*) >= $TRI_MIN_ORDERS),
      |deg AS (
      |  SELECT node, count(*) AS deg FROM (
      |    SELECT a AS node FROM und UNION ALL SELECT b FROM und)
      |  GROUP BY 1),
      |o AS (
      |  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
      |              THEN a ELSE b END AS x,
      |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
      |              THEN b ELSE a END AS y
      |  FROM und
      |  JOIN deg da ON und.a = da.node
      |  JOIN deg db ON und.b = db.node)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
      |       (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges,
      |       (SELECT CAST(count(*) AS BIGINT) FROM (
      |          SELECT e1.x, e1.y, e2.y AS z
      |          FROM o e1 JOIN o e2 ON e1.y = e2.x) w
      |        WHERE EXISTS (SELECT 1 FROM o e3
      |                      WHERE e3.x = w.x AND e3.y = w.z)) AS n_triangles""".stripMargin

  /** k-core of an undirected (a, b) edge frame: iteratively peel every
    * node of degree < k until the fixpoint — what survives is the
    * maximal subgraph where every node keeps ≥ k neighbors, the standard
    * "dense cohesive backbone vs hairy periphery" cut (a triangle count
    * says how clustered the graph is; the core says WHERE).
    *
    * Per-round work is edge-set-only (a degree aggregate + two bare-key
    * semi joins), lineage is cut each round, and the round count is
    * data-bounded: each round removes ≥ 1 node or stops, and a
    * chain-shaped periphery peels from the ends inward — maxRounds
    * THROWS rather than returning a not-yet-fixpoint subgraph (the
    * [[graft.operators.Dedup]] clustersFromEdges contract). */
  private[graft] def kCoreOn(edges0: DataFrame, k: Int,
                             maxRounds: Int = 100,
                             driverCap: Long = DRIVER_PEEL_CAP): DataFrame = {
    // A materialization (eager localCheckpoint + count) is a full Spark
    // job, and per-job scheduling overhead dominates the (thresholded,
    // hence small relative to the corpus) affinity graph — while the
    // ROUND count is data-dependent: a chain-shaped periphery peels from
    // the ends, needing O(chain length) single peels. So peel a DOUBLING
    // batch of rounds per job (2, 4, 8, … capped at 32): peeling is
    // monotone, so if a batch removes nothing its first peel removed
    // nothing — the single-peel fixpoint test is preserved exactly — and
    // a diameter-L periphery costs O(log L) jobs instead of O(L).
    // Each peel inside the batch is converted to an RDD-backed plan via
    // LAZY localCheckpoint: the peel references its input three times
    // (degree aggregate + both semi-join probes), so leaving the batch
    // as one Catalyst tree would TRIPLE the plan size per peel — 3^32
    // nodes to optimize — while the RDD lineage is a shared linear DAG
    // and Catalyst only ever plans one peel at a time. Lazy peels past
    // the fixpoint are no-ops. The edge set only shrinks: coalesce keeps
    // the working table at a handful of partitions instead of paying
    // shuffle-partition-many empty tasks per round.
    var edges = edges0.select("a", "b").coalesce(4).localCheckpoint()
    var nEdges = edges.count()
    var changed = 1L
    var batch = 2
    var jobs = 0
    while (changed > 0 && jobs < maxRounds && nEdges > driverCap) {
      var next = edges
      for (_ <- 0 until batch) {
        val keep = next.select(explode(array(col("a"), col("b"))).as("n"))
          .groupBy("n").agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k).select("n")
        next = next
          .join(keep.select(col("n").as("a")), Seq("a"), "left_semi")
          .join(keep.select(col("n").as("b")), Seq("b"), "left_semi")
          .select("a", "b") // the join key migrates to column 0 — restore
          .localCheckpoint(eager = false)
      }
      val m = next.count()
      changed = nEdges - m
      edges = next
      nEdges = m
      batch = math.min(batch * 2, 32)
      jobs += 1
    }
    if (changed > 0 && nEdges <= driverCap) return peelDriver(edges, k)
    if (changed > 0)
      throw new IllegalStateException(
        s"$k-core peeling did not reach a fixpoint in $maxRounds batches")
    edges
  }

  /** Edge-set size below which the peel finishes on the driver. Peeling
    * only ever SHRINKS the edge set, and distributed rounds are bounded
    * by component diameter — a chain periphery costs O(diameter) tiny
    * synchronous jobs whose scheduling overhead dwarfs the data. Once the
    * survivors fit in driver-metadata range (~1.6 MB of id pairs — the
    * same bounded-driver-state class as the Jacobi eigensolver's 64×64
    * matrix or Lloyd's k×DIM centroids), an O(E) queue peel replaces the
    * remaining O(diameter) job rounds. At 100 TB the big graph stays on
    * executors: the distributed rounds run while E > cap, and every round
    * strictly shrinks E, so the driver only ever sees the capped tail. */
  private val DRIVER_PEEL_CAP = 100000L

  /** Exact queue-based peel of a sub-cap edge set: repeatedly delete
    * nodes of degree < k, decrementing neighbors — the textbook O(E)
    * sequential k-core, reached only below [[DRIVER_PEEL_CAP]]. */
  private def peelDriver(edges: DataFrame, k: Int): DataFrame = {
    import scala.collection.mutable
    val s = edges.sparkSession
    val schema = edges.schema
    val pairs = edges
      .select(col("a").cast("long"), col("b").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    pairs.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += b
      adj.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += a
    }
    val deg = mutable.HashMap.empty[Long, Int]
    adj.foreach { case (n, ns) => deg(n) = ns.size }
    val removed = mutable.HashSet.empty[Long]
    val queue = mutable.Queue.empty[Long]
    deg.foreach { case (n, d) => if (d < k) queue += n }
    while (queue.nonEmpty) {
      val v = queue.dequeue()
      if (!removed.contains(v)) {
        removed += v
        adj(v).foreach { u =>
          if (!removed.contains(u)) {
            deg(u) -= 1
            if (deg(u) == k - 1) queue += u // enqueue once, on crossing
          }
        }
      }
    }
    val kept = pairs.filter { case (a, b) =>
      !removed.contains(a) && !removed.contains(b)
    }
    import s.implicits._
    val out = kept.toSeq.toDF("a", "b")
    // restore the caller's column types (spec fixtures use int ids)
    out.select(out.col("a").cast(schema("a").dataType).as("a"),
      out.col("b").cast(schema("b").dataType).as("b"))
  }

  /** Registered census: core size (nodes, edges) of the affinity graph
    * for k = 2, 3, 4. Cores are nested (the 3-core is a subgraph of the
    * 2-core), so each peel starts from the previous core, not from the
    * full graph. Rows-only: the peel-to-fixpoint loop has no recursive
    * SQL replay; structural invariants (planted K4 + chain, nesting) are
    * pinned in GraphSpec. */
  def kcore(s: SparkSession, dir: String): DataFrame = {
    val e = affinityEdges(s, dir) // already pinned by the memo
    var core = e
    val rows = Seq(2, 3, 4).map { k =>
      core = kCoreOn(core, k)
      // one job for both census numbers: every edge contributes its two
      // endpoints, so rows/2 = edges and distinct endpoints = nodes
      val c = core.select(explode(array(col("a"), col("b"))).as("n"))
        .agg(countDistinct(col("n")).as("nodes"), count(lit(1)).as("ends"))
        .collect().head
      (k, c.getLong(0), c.getLong(1) / 2)
    }
    import s.implicits._
    rows.toDF("k", "n_core_nodes", "n_core_edges")
  }

  /** Oracle rounds unrolled per k. The Spark side peels to an EXACT
    * fixpoint (and throws if it can't); the oracle unrolls a fixed,
    * generous number of parallel peel rounds — legitimate because a peel
    * past the fixpoint is a no-op (idempotent) and the k-core is unique
    * regardless of peel order/granularity, so "enough rounds" ≡ exact.
    * 40 covers a peeling depth (longest chain periphery / 2) far past
    * anything the support-thresholded affinity graph exhibits; if a
    * fixture ever exceeds it, the census mismatches loudly rather than
    * silently passing. */
  private val KCORE_ORACLE_ROUNDS = 40

  /** The recursive-CTE replay VERDICT r5 asked for, expressed as a
    * bounded unroll (DuckDB 1.0 recursive CTEs can't terminate on a
    * fixpoint-of-aggregates condition — the recursive term may not
    * aggregate over the recursive table — so the loop is unrolled like
    * [[pagerankSql]]'s rounds). Each round drops every endpoint of
    * degree < k, exactly the distributed peel's batch step. */
  private val kcoreSql = {
    // every CTE is MATERIALIZED: each peel references its predecessor
    // three times, and DuckDB inlines plain CTEs per reference — a
    // 40-round chain would otherwise expand 3^40 scans (observed as
    // "Too many open files" on the base parquet before any memory blew)
    def peel(k: Int, prev: String, cur: String): String =
      s"""$cur AS MATERIALIZED (
         |  SELECT a, b FROM $prev
         |  WHERE a IN (SELECT n FROM (SELECT a AS n FROM $prev
         |                             UNION ALL SELECT b FROM $prev)
         |              GROUP BY n HAVING count(*) >= $k)
         |    AND b IN (SELECT n FROM (SELECT a AS n FROM $prev
         |                             UNION ALL SELECT b FROM $prev)
         |              GROUP BY n HAVING count(*) >= $k))""".stripMargin
    // cores are nested: each k's round-0 is the previous k's final core,
    // mirroring the Spark side's start-from-previous-core loop
    val chains = Seq(2, 3, 4).map { k =>
      val rounds = (1 to KCORE_ORACLE_ROUNDS).map { r =>
        peel(k, s"c${k}_${r - 1}", s"c${k}_$r")
      }.mkString(",\n")
      val seed =
        if (k == 2) s"c2_0 AS MATERIALIZED (SELECT a, b FROM und)"
        else s"c${k}_0 AS MATERIALIZED (SELECT a, b FROM " +
          s"c${k - 1}_$KCORE_ORACLE_ROUNDS)"
      s"$seed,\n$rounds"
    }.mkString(",\n")
    def census(k: Int): String =
      s"""SELECT $k AS k,
         |       CAST(count(DISTINCT n) AS BIGINT) AS n_core_nodes,
         |       CAST(count(*) // 2 AS BIGINT) AS n_core_edges
         |FROM (SELECT a AS n FROM c${k}_$KCORE_ORACLE_ROUNDS
         |      UNION ALL SELECT b FROM c${k}_$KCORE_ORACLE_ROUNDS)""".stripMargin
    s"""WITH li0 AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |ok AS (SELECT l_orderkey FROM li0 GROUP BY 1
       |       HAVING count(DISTINCT l_partkey) <= $ORDER_CAP),
       |li AS (SELECT li0.* FROM li0 JOIN ok USING (l_orderkey)),
       |und AS (
       |  SELECT a, b FROM (
       |    SELECT x.l_partkey AS a, y.l_partkey AS b
       |    FROM li x JOIN li y
       |      ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
       |    GROUP BY x.l_orderkey, a, b)
       |  GROUP BY a, b HAVING count(*) >= $TRI_MIN_ORDERS),
       |$chains
       |SELECT * FROM (
       |${census(2)}
       |UNION ALL
       |${census(3)}
       |UNION ALL
       |${census(4)})
       |ORDER BY k""".stripMargin
  }

  /** Degree assortativity of the affinity graph — the Pearson
    * correlation of endpoint degrees over all directed edge instances
    * (each undirected edge counted in both orientations, the standard
    * Newman construction; with both orientations Σd_a ≡ Σd_b and
    * Σd_a² ≡ Σd_b², so three sums suffice). Positive = hubs link to
    * hubs; negative (typical of co-purchase/dependency graphs) = hubs
    * link to the periphery — the one-number structure summary read next
    * to [[degreeStats]] before choosing a partitioning strategy.
    *
    * Exactness: degrees are integer counts and all five sufficient
    * statistics are exact BIGINT sums over the edge list (d_a·d_b stays
    * far under 2^63 at any plausible degree cap); the correlation is ONE
    * fixed FP sequence over those integers, floor-fixed to 4 decimals —
    * identical operand order in the oracle. A degree-regular graph has
    * zero variance and yields NULL rather than an ANSI divide error. */
  def assortativity(s: SparkSession, dir: String): DataFrame =
    assortativityOn(affinityEdges(s, dir))

  /** Assortativity core over an undirected (a, b) edge frame, a < b. */
  private[graft] def assortativityOn(e: DataFrame): DataFrame = {
    val deg = e.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val both = e.select(col("a"), col("b"))
      .unionByName(e.select(col("b").as("a"), col("a").as("b")))
    both
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .agg(count(lit(1)).as("n"), sum("da").as("sx"),
        sum(expr("da * da")).as("sxx"), sum(expr("da * db")).as("sxy"))
      .select(expr("n div 2").as("n_edges"),
        expr(
          """CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0D
            |     THEN floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            |                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            |                / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            |                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            |                * 10000.0D + 0.5D) / 10000.0D
            |END""".stripMargin).as("assortativity"))
  }

  private val assortativitySql =
    s"""WITH li0 AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |ok AS (SELECT l_orderkey FROM li0 GROUP BY 1
       |       HAVING count(DISTINCT l_partkey) <= $ORDER_CAP),
       |li AS (SELECT li0.* FROM li0 JOIN ok USING (l_orderkey)),
       |und AS (
       |  SELECT a, b FROM (
       |    SELECT x.l_partkey AS a, y.l_partkey AS b
       |    FROM li x JOIN li y
       |      ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
       |    GROUP BY x.l_orderkey, a, b)
       |  GROUP BY a, b HAVING count(*) >= $TRI_MIN_ORDERS),
       |deg AS (
       |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
       |    SELECT a AS node FROM und UNION ALL SELECT b FROM und)
       |  GROUP BY 1),
       |ori AS (
       |  SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und),
       |st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(x.deg) AS BIGINT) AS sx,
       |         CAST(sum(x.deg * x.deg) AS BIGINT) AS sxx,
       |         CAST(sum(x.deg * y.deg) AS BIGINT) AS sxy
       |  FROM ori e JOIN deg x ON e.a = x.node JOIN deg y ON e.b = y.node)
       |SELECT CAST(n // 2 AS BIGINT) AS n_edges,
       |       CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0
       |            THEN floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       |                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |                       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |                       * 10000.0 + 0.5) / 10000.0
       |       END AS assortativity
       |FROM st""".stripMargin

  /** Attribute modularity of the affinity graph under the BRAND
    * partition — "do co-purchases concentrate within a brand?", the
    * community-QUALITY score behind every community-detection loop
    * (Louvain locally maximizes exactly this objective; scoring a given
    * partition is its evaluation half). Q = Σ_c [e_c/m − (d_c/2m)²] over
    * communities c, with e_c = edges internal to c, d_c = Σ degrees of
    * c's nodes, m = |E|.
    *
    * Exactness: everything reduces to ONE exact integer per community —
    * num_c = 4·m·e_c − d_c² (DECIMAL(38,0): d_c² passes int64 at the
    * 10⁹-edge posture) — summed order-free, then Q = Σnum_c/(4m²) in a
    * single final IEEE sequence (floor-6dp; contributions are O(1/m)).
    * Shape: the memoized [[affinityEdges]] build + a broadcast of the
    * part dim for brand lookup; every post-scan frame is brand- or
    * node-cardinality. Communities whose nodes have no internal edge
    * still contribute their −(d_c/2m)² term via the left join. */
  def modularity(s: SparkSession, dir: String): DataFrame =
    modularityOn(affinityEdges(s, dir),
      Tables.part(s, dir).select(col("p_partkey"), col("p_brand")))

  /** Modularity core over an undirected (a, b) edge frame (a < b) and a
    * (p_partkey, p_brand) community assignment covering every node. */
  private[graft] def modularityOn(e: DataFrame, brand0: DataFrame): DataFrame = {
    val brand = broadcast(brand0)
    val degC = e.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .join(brand, col("node") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_nodes"), sum("deg").as("d_c"))
    val intC = e
      .join(brand.select(col("p_partkey").as("a"), col("p_brand").as("ba")),
        "a")
      .join(brand.select(col("p_partkey").as("b"), col("p_brand").as("bb")),
        "b")
      .filter(col("ba") === col("bb"))
      .groupBy(col("ba").as("p_brand")).agg(count(lit(1)).as("e_c"))
    val m = e.agg(count(lit(1)).as("m"))
    val per = degC.join(intC, Seq("p_brand"), "left")
      .na.fill(0L, Seq("e_c"))
      .crossJoin(broadcast(m))
      .withColumn("num_c",
        lit(4L) * col("m").cast("decimal(38,0)") * col("e_c")
          - col("d_c").cast("decimal(38,0)") * col("d_c"))
    val q = per.agg(sum("num_c").as("num"), first("m").as("m"))
      .select((floor(col("num").cast("double")
        / (lit(4.0d) * col("m").cast("double") * col("m").cast("double"))
        * lit(1000000.0d) + lit(0.5d)) / lit(1000000.0d)).as("modularity"))
    per.select(col("p_brand"), col("n_nodes"), col("d_c"), col("e_c"),
        (floor(col("num_c").cast("double")
          / (lit(4.0d) * col("m").cast("double") * col("m").cast("double"))
          * lit(1000000.0d) + lit(0.5d)) / lit(1000000.0d)).as("contrib"))
      .crossJoin(broadcast(q))
      .orderBy("p_brand")
  }

  private val modularitySql =
    s"""WITH li0 AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |ok AS (SELECT l_orderkey FROM li0 GROUP BY 1
       |       HAVING count(DISTINCT l_partkey) <= $ORDER_CAP),
       |li AS (SELECT li0.* FROM li0 JOIN ok USING (l_orderkey)),
       |und AS MATERIALIZED (
       |  SELECT a, b FROM (
       |    SELECT x.l_partkey AS a, y.l_partkey AS b
       |    FROM li x JOIN li y
       |      ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
       |    GROUP BY x.l_orderkey, a, b)
       |  GROUP BY a, b HAVING count(*) >= $TRI_MIN_ORDERS),
       |degc AS (
       |  SELECT p.p_brand, CAST(count(*) AS BIGINT) AS n_nodes,
       |         CAST(sum(d.deg) AS BIGINT) AS d_c
       |  FROM (SELECT node, count(*) AS deg FROM (
       |          SELECT a AS node FROM und UNION ALL SELECT b FROM und)
       |        GROUP BY 1) d
       |  JOIN part p ON d.node = p.p_partkey
       |  GROUP BY 1),
       |intc AS (
       |  SELECT pa.p_brand, CAST(count(*) AS BIGINT) AS e_c
       |  FROM und
       |  JOIN part pa ON und.a = pa.p_partkey
       |  JOIN part pb ON und.b = pb.p_partkey
       |  WHERE pa.p_brand = pb.p_brand
       |  GROUP BY 1),
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
       |per AS (
       |  SELECT degc.p_brand, degc.n_nodes, degc.d_c,
       |         coalesce(intc.e_c, 0) AS e_c,
       |         mm.m,
       |         CAST(4 * CAST(mm.m AS DECIMAL(38,0)) * coalesce(intc.e_c, 0)
       |              - CAST(degc.d_c AS DECIMAL(38,0)) * degc.d_c
       |              AS DECIMAL(38,0)) AS num_c
       |  FROM degc LEFT JOIN intc USING (p_brand) CROSS JOIN mm),
       |qq AS (
       |  SELECT floor(CAST(sum(num_c) AS DOUBLE)
       |               / (4.0 * CAST(any_value(m) AS DOUBLE)
       |                  * CAST(any_value(m) AS DOUBLE))
       |               * 1000000.0 + 0.5) / 1000000.0 AS modularity
       |  FROM per)
       |SELECT p_brand, n_nodes, d_c, CAST(e_c AS BIGINT) AS e_c,
       |       floor(CAST(num_c AS DOUBLE)
       |             / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE))
       |             * 1000000.0 + 0.5) / 1000000.0 AS contrib,
       |       modularity
       |FROM per CROSS JOIN qq
       |ORDER BY p_brand""".stripMargin

  /** Wedge-center degree cap for [[linkPrediction]]: hubs are excluded
    * as common-neighbor evidence — a hub's co-neighborhood is weak
    * signal (Adamic-Adar downweights it toward zero for the same
    * reason) AND the wedge fan-out is Σ C(deg, 2), so an uncapped hub
    * is exactly the quadratic blowup the triangle count avoids with
    * degree orientation. Scores change only in the direction the
    * literature already endorses. */
  private val LP_CENTER_CAP = 64
  private val LP_TOP = 20

  /** Jaccard link prediction over the affinity graph — "which two parts
    * are NOT yet co-purchased but share the most co-purchase
    * neighbours?", the graph-native recommend-next-edge primitive. For
    * every non-adjacent pair reachable through a (non-hub) common
    * neighbour: score = |Γa∩Γb| / |Γa∪Γb| computed over the CAPPED
    * neighbourhood graph — both the intersection AND the per-endpoint
    * degrees count only neighbours with degree ≤ [[LP_CENTER_CAP]], so
    * the ratio is a true Jaccard of the same (hub-excluded) sets rather
    * than a capped numerator over an uncapped denominator.
    *
    * Shape: the memoized edge build + one wedge self-join (capped
    * fan-out), an anti-join against existing edges, two node-degree
    * joins — every shuffle carries int ids. Exactness: the score is the
    * exact integer j6 = ⌊inter·10⁶ / union⌋ (both engines' integer
    * division; operands non-negative), displayed /1e6; ties broken by
    * (p_a, p_b) for a deterministic top-[[LP_TOP]]. */
  def linkPrediction(s: SparkSession, dir: String): DataFrame =
    linkPredictionOn(affinityEdges(s, dir))

  /** [[linkPrediction]] core over an undirected (a, b) edge frame. */
  private[graft] def linkPredictionOn(und0: DataFrame): DataFrame = {
    val und = und0.cache()
    val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .cache()
    val ori = und.select(col("a"), col("b"))
      .unionByName(und.select(col("b").as("a"), col("a").as("b")))
    val oriC = ori.join(
      deg.filter(col("deg") <= LP_CENTER_CAP).select(col("node").as("a")),
      "a")
    val cand = oriC.as("e1").join(oriC.as("e2"),
        col("e1.a") === col("e2.a") && col("e1.b") < col("e2.b"))
      .select(col("e1.b").as("y"), col("e2.b").as("z"))
      .groupBy("y", "z").agg(count(lit(1)).as("inter"))
      .join(und, col("y") === col("a") && col("z") === col("b"),
        "left_anti")
    // capped degree: |{n ∈ Γv : deg(n) ≤ CAP}| — oriC's centers per
    // endpoint — so dy/dz measure the SAME hub-excluded sets `inter`
    // intersects (every cand endpoint has ≥1 capped neighbour, so the
    // inner join drops nothing)
    val degC = oriC.groupBy(col("b").as("node"))
      .agg(count(lit(1)).as("degc"))
    cand
      .join(degC.select(col("node").as("y"), col("degc").as("dy")), "y")
      .join(degC.select(col("node").as("z"), col("degc").as("dz")), "z")
      .withColumn("union_nb", col("dy") + col("dz") - col("inter"))
      .withColumn("j6",
        expr(s"inter * 1000000L div union_nb"))
      .orderBy(col("j6").desc, col("y").asc, col("z").asc)
      .limit(LP_TOP)
      .select(col("y").as("p_a"), col("z").as("p_b"),
        col("inter").as("common_nb"), col("union_nb"),
        (col("j6").cast("double") / lit(1000000.0d)).as("jaccard"))
  }

  private val linkPredictionSql =
    s"""WITH li0 AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |ok AS (SELECT l_orderkey FROM li0 GROUP BY 1
       |       HAVING count(DISTINCT l_partkey) <= $ORDER_CAP),
       |li AS (SELECT li0.* FROM li0 JOIN ok USING (l_orderkey)),
       |und AS MATERIALIZED (
       |  SELECT a, b FROM (
       |    SELECT x.l_partkey AS a, y.l_partkey AS b
       |    FROM li x JOIN li y
       |      ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
       |    GROUP BY x.l_orderkey, a, b)
       |  GROUP BY a, b HAVING count(*) >= $TRI_MIN_ORDERS),
       |deg AS MATERIALIZED (
       |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
       |    SELECT a AS node FROM und UNION ALL SELECT b FROM und)
       |  GROUP BY 1),
       |ori AS MATERIALIZED (
       |  SELECT e.a, e.b FROM (
       |    SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und) e
       |  JOIN deg d ON e.a = d.node AND d.deg <= $LP_CENTER_CAP),
       |cand AS (
       |  SELECT w.y, w.z, w.inter FROM (
       |    SELECT e1.b AS y, e2.b AS z, CAST(count(*) AS BIGINT) AS inter
       |    FROM ori e1 JOIN ori e2 ON e1.a = e2.a AND e1.b < e2.b
       |    GROUP BY 1, 2) w
       |  LEFT JOIN und ON w.y = und.a AND w.z = und.b
       |  WHERE und.a IS NULL),
       |degc AS MATERIALIZED (
       |  SELECT b AS node, CAST(count(*) AS BIGINT) AS degc
       |  FROM ori GROUP BY 1)
       |SELECT c.y AS p_a, c.z AS p_b, c.inter AS common_nb,
       |       dy.degc + dz.degc - c.inter AS union_nb,
       |       CAST(c.inter * 1000000 // (dy.degc + dz.degc - c.inter)
       |            AS DOUBLE) / 1000000.0 AS jaccard
       |FROM cand c
       |JOIN degc dy ON c.y = dy.node
       |JOIN degc dz ON c.z = dz.node
       |ORDER BY c.inter * 1000000 // (dy.degc + dz.degc - c.inter) DESC,
       |         p_a, p_b
       |LIMIT $LP_TOP""".stripMargin

  private val AR_TOP = 20

  /** Market-basket association rules over co-purchase pairs — the
    * classic support/confidence/lift miner, the attribute-free sibling
    * of [[linkPrediction]] (that one scores ABSENT edges by topology;
    * this one scores PRESENT edges by conditional probability). A rule
    * a→b reads "baskets containing a also contain b":
    *   confidence = w(a,b)/n(a),  lift = N·w(a,b)/(n(a)·n(b))
    * over the [[ORDER_CAP]]-filtered basket universe (pair supports
    * come from the memoized [[affinityEdges]] build, which now carries
    * `w`; item supports and the basket census are one extra
    * aggregate-shaped scan). Both rule directions are emitted; top
    * [[AR_TOP]] by confidence with (antecedent, consequent) tiebreak.
    *
    * Exactness: confidence is the exact integer ⌊w·10⁶/n(a)⌋ (both
    * engines' non-negative integer division); lift runs one fixed IEEE
    * sequence over exact integer (N, w, n_a, n_b), floor-4dp. */
  def assocRules(s: SparkSession, dir: String): DataFrame =
    assocRulesOn(Tables.lineitem(s, dir).select("l_orderkey", "l_partkey"),
      affinityEdges(s, dir))

  /** [[assocRules]] core over an explicit (l_orderkey, l_partkey) frame
    * and a matching (a, b, w) pair-support frame — the seam. */
  private[graft] def assocRulesOn(li: DataFrame, und: DataFrame): DataFrame = {
    // localCheckpoint, not cache (r15): the lazy cache was RACED by its
    // consumers — the r15 stage profile showed the collect_set reduce
    // work charged TWICE in two concurrent ~700 ms stages (the
    // q_user_growth r14 failure mode: each racing branch computes the
    // blocks it finds missing). Every consumer (basket census, item
    // supports, rule joins) needs this frame, so one eager
    // materialization is on the critical path regardless; pinning it
    // makes the fact table's orderkey shuffle happen exactly once.
    val baskets = li.groupBy("l_orderkey")
      .agg(collect_set("l_partkey").as("ps"))
      .filter(size(col("ps")) <= ORDER_CAP)
      .localCheckpoint()
    val nBaskets = baskets.agg(count(lit(1)).as("n_baskets"))
    val itemCnt = baskets.select(explode(col("ps")).as("item"))
      .groupBy("item").agg(count(lit(1)).as("n_item"))
    val rules = und.select(col("a").as("ante"), col("b").as("cons"), col("w"))
      .unionByName(und.select(col("b").as("ante"), col("a").as("cons"),
        col("w")))
    rules
      .join(itemCnt.select(col("item").as("ante"), col("n_item").as("n_a")),
        "ante")
      .join(itemCnt.select(col("item").as("cons"), col("n_item").as("n_b")),
        "cons")
      .crossJoin(broadcast(nBaskets))
      .withColumn("conf6", expr("w * 1000000L div n_a"))
      .orderBy(col("conf6").desc, col("ante").asc, col("cons").asc)
      .limit(AR_TOP)
      .select(col("ante").as("antecedent"), col("cons").as("consequent"),
        col("w").as("pair_support"), col("n_a").as("ante_support"),
        col("n_b").as("cons_support"),
        (col("conf6").cast("double") / lit(1000000.0d)).as("confidence"),
        (floor(col("n_baskets").cast("double") * col("w").cast("double")
          / (col("n_a").cast("double") * col("n_b").cast("double"))
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("lift"))
  }

  private val assocRulesSql =
    s"""WITH li0 AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |ok AS (SELECT l_orderkey FROM li0 GROUP BY 1
       |       HAVING count(DISTINCT l_partkey) <= $ORDER_CAP),
       |li AS (SELECT li0.* FROM li0 JOIN ok USING (l_orderkey)),
       |und AS MATERIALIZED (
       |  SELECT a, b, CAST(count(*) AS BIGINT) AS w FROM (
       |    SELECT x.l_partkey AS a, y.l_partkey AS b
       |    FROM li x JOIN li y
       |      ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
       |    GROUP BY x.l_orderkey, a, b)
       |  GROUP BY a, b HAVING count(*) >= $TRI_MIN_ORDERS),
       |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_baskets FROM ok),
       |ic AS MATERIALIZED (
       |  SELECT l_partkey AS item, CAST(count(DISTINCT l_orderkey) AS BIGINT)
       |           AS n_item
       |  FROM li GROUP BY 1),
       |rules AS (
       |  SELECT a AS ante, b AS cons, w FROM und
       |  UNION ALL SELECT b, a, w FROM und)
       |SELECT r.ante AS antecedent, r.cons AS consequent,
       |       r.w AS pair_support, ia.n_item AS ante_support,
       |       ib.n_item AS cons_support,
       |       CAST(r.w * 1000000 // ia.n_item AS DOUBLE) / 1000000.0
       |         AS confidence,
       |       floor(CAST(n_baskets AS DOUBLE) * CAST(r.w AS DOUBLE)
       |             / (CAST(ia.n_item AS DOUBLE) * CAST(ib.n_item AS DOUBLE))
       |             * 10000.0 + 0.5) / 10000.0 AS lift
       |FROM rules r
       |JOIN ic ia ON r.ante = ia.item
       |JOIN ic ib ON r.cons = ib.item
       |CROSS JOIN nb
       |ORDER BY r.w * 1000000 // ia.n_item DESC, antecedent, consequent
       |LIMIT $AR_TOP""".stripMargin

  private val AR_EVAL_RULES = 200

  /** Held-out evaluation of the association-rule recommender — the
    * closure [[assocRules]] needs before anyone ships it: mine rules on
    * the 80% basket split (l_orderkey % 5 ≠ 0), keep the top
    * [[AR_EVAL_RULES]] by confidence, then for every TEST basket predict
    * the single best consequent whose antecedent the basket contains and
    * score a hit iff the basket also contains it. Leakage-free by
    * construction (test pairs never enter mining); the rule table is
    * bounded and broadcast, so evaluation is one explode + broadcast
    * join over test items — no pair explosion on the test side.
    *
    * Output: basket census, prediction coverage, hit precision — every
    * number an exact count, one fix4 division each. Determinism: rule
    * rank = (exact integer conf6 desc, ante, cons); per-basket best
    * rule by the same key. */
  /** Memoized TRAIN-split pair table for [[assocEval]] — the mining
    * half is once-per-corpus ingest work; only the broadcast-probe
    * evaluation is the per-query cost (the [[affinityEdges]] memo
    * lifecycle: BuildMeter-flagged, stopped sessions swept, fixture
    * change = miss). */
  private val trainEdgeMemo = new graft.Memo.Pinned[DataFrame]("lineitem")

  private def trainEdges(s: SparkSession, dir: String,
                         train: DataFrame): DataFrame =
    trainEdgeMemo(s, dir)(affinityEdgesOn(train).localCheckpoint())

  def assocEval(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select("l_orderkey", "l_partkey")
    val train = li.filter(pmod(col("l_orderkey"), lit(5L)) =!= 0)
    assocEvalOn(train,
      li.filter(pmod(col("l_orderkey"), lit(5L)) === 0),
      trainEdges(s, dir, train))
  }

  /** [[assocEval]] core over explicit train/test lineitem splits and a
    * (possibly memoized) train pair table. */
  private[graft] def assocEvalOn(train: DataFrame, test: DataFrame,
                                 und0: DataFrame = null): DataFrame = {
    val und = if (und0 != null) und0 else affinityEdgesOn(train)
    // MEASURED LOSER (r15, do not re-try): an eager localCheckpoint of
    // the test baskets below, with this basket aggregate repartitioned
    // to machine width on l_orderkey — the stage profile showed 1-task
    // reduce stages, but the full interleaved bench measured the
    // combination +9%/+20% drift-adjusted in two independent runs; the
    // branchy original overlaps its recomputes better than the pinned
    // shape serializes. Reverted.
    val itemCnt = train.groupBy("l_orderkey")
      .agg(collect_set("l_partkey").as("ps"))
      .filter(size(col("ps")) <= ORDER_CAP)
      .select(explode(col("ps")).as("item"))
      .groupBy("item").agg(count(lit(1)).as("n_item"))
    val rules = und.select(col("a").as("ante"), col("b").as("cons"),
        col("w"))
      .unionByName(und.select(col("b").as("ante"), col("a").as("cons"),
        col("w")))
      .join(itemCnt.select(col("item").as("ante"), col("n_item")), "ante")
      .withColumn("conf6", expr("w * 1000000L div n_item"))
      .orderBy(col("conf6").desc, col("ante").asc, col("cons").asc)
      .limit(AR_EVAL_RULES)
      .select("ante", "cons", "conf6")
    val baskets = test.groupBy("l_orderkey")
      .agg(collect_set("l_partkey").as("ps"))
      .filter(size(col("ps")) <= ORDER_CAP)
      .cache()
    val nBaskets = baskets.agg(count(lit(1)).as("n_baskets"))
    // per basket: the single best applicable rule (rule table bounded,
    // broadcast); hit iff its consequent is also in the basket
    val byBasket = Window.partitionBy("l_orderkey")
      .orderBy(col("conf6").desc, col("ante").asc, col("cons").asc)
    val scored = baskets
      .select(col("l_orderkey"), explode(col("ps")).as("item"), col("ps"))
      .join(broadcast(rules), col("item") === col("ante"))
      .withColumn("rn", row_number().over(byBasket))
      .filter(col("rn") === 1)
      .select(col("l_orderkey"),
        array_contains(col("ps"), col("cons")).cast("long").as("hit"))
    scored.agg(count(lit(1)).as("n_predicted"), sum("hit").as("n_hits"))
      .crossJoin(broadcast(nBaskets))
      .select(col("n_baskets"), col("n_predicted"), col("n_hits"),
        (floor(col("n_predicted").cast("double")
          / col("n_baskets").cast("double")
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("coverage"),
        (floor(col("n_hits").cast("double")
          / col("n_predicted").cast("double")
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("precision"))
  }

  private val assocEvalSql =
    s"""WITH li0 AS (SELECT l_orderkey, l_partkey FROM lineitem
       |            WHERE l_orderkey % 5 <> 0),
       |ok AS (SELECT l_orderkey FROM li0 GROUP BY 1
       |       HAVING count(DISTINCT l_partkey) <= $ORDER_CAP),
       |li AS (SELECT li0.* FROM li0 JOIN ok USING (l_orderkey)),
       |und AS MATERIALIZED (
       |  SELECT a, b, CAST(count(*) AS BIGINT) AS w FROM (
       |    SELECT x.l_partkey AS a, y.l_partkey AS b
       |    FROM li x JOIN li y
       |      ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
       |    GROUP BY x.l_orderkey, a, b)
       |  GROUP BY a, b HAVING count(*) >= $TRI_MIN_ORDERS),
       |ic AS (
       |  SELECT l_partkey AS item,
       |         CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_item
       |  FROM li GROUP BY 1),
       |rules AS MATERIALIZED (
       |  SELECT ante, cons, conf6 FROM (
       |    SELECT r.ante, r.cons, r.w * 1000000 // ic.n_item AS conf6
       |    FROM (SELECT a AS ante, b AS cons, w FROM und
       |          UNION ALL SELECT b, a, w FROM und) r
       |    JOIN ic ON r.ante = ic.item)
       |  ORDER BY conf6 DESC, ante, cons
       |  LIMIT $AR_EVAL_RULES),
       |tb AS MATERIALIZED (
       |  SELECT l_orderkey, list_distinct(list(l_partkey)) AS ps
       |  FROM lineitem WHERE l_orderkey % 5 = 0
       |  GROUP BY 1
       |  HAVING count(DISTINCT l_partkey) <= $ORDER_CAP),
       |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_baskets FROM tb),
       |scored AS (
       |  SELECT l_orderkey,
       |         CASE WHEN list_contains(ps, cons) THEN 1 ELSE 0 END AS hit
       |  FROM (
       |    SELECT t.l_orderkey, t.ps, r.cons,
       |           row_number() OVER (PARTITION BY t.l_orderkey
       |             ORDER BY r.conf6 DESC, r.ante, r.cons) AS rn
       |    FROM (SELECT l_orderkey, ps, unnest(ps) AS item FROM tb) t
       |    JOIN rules r ON t.item = r.ante)
       |  WHERE rn = 1),
       |ag AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_predicted,
       |         CAST(sum(hit) AS BIGINT) AS n_hits
       |  FROM scored)
       |SELECT nb.n_baskets, ag.n_predicted, ag.n_hits,
       |       floor(CAST(n_predicted AS DOUBLE) / CAST(n_baskets AS DOUBLE)
       |             * 10000.0 + 0.5) / 10000.0 AS coverage,
       |       floor(CAST(n_hits AS DOUBLE) / CAST(n_predicted AS DOUBLE)
       |             * 10000.0 + 0.5) / 10000.0 AS precision
       |FROM ag CROSS JOIN nb""".stripMargin

  private val TRIPLE_CAND_CAP = 200
  private val TRIPLE_TOP = 20

  /** Frequent TRIPLES — the A-Priori level-3 step over the basket
    * corpus, the step where naive mining explodes (C(|order|,3) per
    * basket) and candidate pruning is the whole game: a triple can only
    * be frequent if all three of its pairs are (Apriori monotonicity),
    * so candidates are exactly the TRIANGLES of the support-thresholded
    * pair graph — generated by the [[triangles]] wedge-close shape,
    * capped at the [[TRIPLE_CAND_CAP]] strongest (by min pair support,
    * deterministic tiebreaks), then support-counted in ONE pass over
    * baskets with the candidate list broadcast (three array_contains
    * probes per basket×candidate; candidates are bounded, so the pass
    * is linear in baskets forever). Exact integer supports; top
    * [[TRIPLE_TOP]] by (support desc, items). */
  def freqTriples(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select("l_orderkey", "l_partkey")
    freqTriplesOn(li, affinityEdges(s, dir))
  }

  /** [[freqTriples]] core over explicit lineitem + (a, b, w) pair
    * frames. */
  private[graft] def freqTriplesOn(li: DataFrame, und: DataFrame): DataFrame = {
    // candidate triples = triangles of the pair graph, strongest first
    val e = und.select("a", "b", "w")
    val cands = e.as("e1").join(e.as("e2"),
        col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"),
        col("e2.b").as("z"),
        least(col("e1.w"), col("e2.w")).as("w12"))
      .join(e.as("e3"),
        col("x") === col("e3.a") && col("z") === col("e3.b"))
      .select(col("x"), col("y"), col("z"),
        least(col("w12"), col("e3.w")).as("min_pair_w"))
      .orderBy(col("min_pair_w").desc, col("x").asc, col("y").asc,
        col("z").asc)
      .limit(TRIPLE_CAND_CAP)
    val baskets = li.groupBy("l_orderkey")
      .agg(collect_set("l_partkey").as("ps"))
      .filter(size(col("ps")) <= ORDER_CAP)
    baskets.crossJoin(broadcast(cands))
      .filter(array_contains(col("ps"), col("x")) &&
        array_contains(col("ps"), col("y")) &&
        array_contains(col("ps"), col("z")))
      .groupBy("x", "y", "z", "min_pair_w")
      .agg(count(lit(1)).as("support"))
      .orderBy(col("support").desc, col("x").asc, col("y").asc,
        col("z").asc)
      .limit(TRIPLE_TOP)
      .select(col("x").as("item_a"), col("y").as("item_b"),
        col("z").as("item_c"), col("support"), col("min_pair_w"))
  }

  private val freqTriplesSql =
    s"""WITH li0 AS (SELECT l_orderkey, l_partkey FROM lineitem),
       |ok AS (SELECT l_orderkey FROM li0 GROUP BY 1
       |       HAVING count(DISTINCT l_partkey) <= $ORDER_CAP),
       |li AS (SELECT li0.* FROM li0 JOIN ok USING (l_orderkey)),
       |und AS MATERIALIZED (
       |  SELECT a, b, CAST(count(*) AS BIGINT) AS w FROM (
       |    SELECT x.l_partkey AS a, y.l_partkey AS b
       |    FROM li x JOIN li y
       |      ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
       |    GROUP BY x.l_orderkey, a, b)
       |  GROUP BY a, b HAVING count(*) >= $TRI_MIN_ORDERS),
       |cands AS MATERIALIZED (
       |  SELECT e1.a AS x, e1.b AS y, e2.b AS z,
       |         least(e1.w, e2.w, e3.w) AS min_pair_w
       |  FROM und e1
       |  JOIN und e2 ON e1.b = e2.a
       |  JOIN und e3 ON e1.a = e3.a AND e2.b = e3.b
       |  ORDER BY min_pair_w DESC, x, y, z
       |  LIMIT $TRIPLE_CAND_CAP),
       |baskets AS MATERIALIZED (
       |  SELECT l_orderkey, list_distinct(list(l_partkey)) AS ps
       |  FROM li GROUP BY 1),
       |sup AS (
       |  SELECT c.x, c.y, c.z, c.min_pair_w,
       |         CAST(count(*) AS BIGINT) AS support
       |  FROM baskets b JOIN cands c
       |    ON list_contains(b.ps, c.x) AND list_contains(b.ps, c.y)
       |       AND list_contains(b.ps, c.z)
       |  GROUP BY 1, 2, 3, 4)
       |SELECT x AS item_a, y AS item_b, z AS item_c, support, min_pair_w
       |FROM sup
       |ORDER BY support DESC, x, y, z
       |LIMIT $TRIPLE_TOP""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q_freq_triples", freqTriples, Some(freqTriplesSql),
      doc = "A-Priori level-3 frequent triples: candidates = triangles " +
        "of the support-thresholded pair graph (monotonicity pruning), " +
        "bounded broadcast candidate list, one linear basket pass"),
    Q("q_assoc_eval", assocEval, Some(assocEvalSql),
      doc = "held-out association-rule recommender eval: rules mined on " +
        "the 80% basket split, top-200 broadcast, per-test-basket best " +
        "applicable rule, coverage + hit precision"),
    Q("q_assoc_rules", assocRules, Some(assocRulesSql),
      doc = "market-basket association rules from the memoized pair " +
        "build: exact integer-division confidence, fixed-IEEE lift, " +
        "top-20 with deterministic tiebreak"),
    Q("q_link_prediction", linkPrediction, Some(linkPredictionSql),
      doc = "Jaccard link prediction on the affinity graph: capped " +
        "wedge self-join for common-neighbor evidence, anti-join " +
        "against existing edges, exact integer-division scores"),
    Q("q_modularity", modularity, Some(modularitySql),
      doc = "brand-partition modularity of the affinity graph: one " +
        "exact DECIMAL integer per community (4·m·e_c − d_c²), " +
        "order-free sum, single final IEEE division"),
    Q("q_assortativity", assortativity, Some(assortativitySql),
      doc = "degree assortativity of the affinity graph: exact BIGINT " +
        "sufficient statistics over both edge orientations, one fixed " +
        "FP sequence; NULL on zero variance"),
    Q("q_pagerank", pagerank, Some(pagerankSql)),
    Q("q_triangles", triangles, Some(trianglesSql)),
    Q("q_kcore", kcore, Some(kcoreSql)),
    Q("q_degree_stats", degreeStats, Some(degreeStatsSql)))
}
