package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{Q, Tables}
import graft.functions.VectorFns

/** Similarity search over the `embeddings` table (north-star [N]):
  * brute-force cosine top-k as the exactness baseline, and a
  * random-hyperplane LSH prefilter as the scale path.
  *
  * Scale posture: the query vector (or a small batch of query vectors) is
  * a broadcast side — the corpus never shuffles. Brute force is one scan
  * with a TakeOrderedAndProject top-k (O(k) driver memory); the LSH
  * variant precomputes a 16-bit signature per vector at INGEST time
  * (literal hyperplane weights — no per-row hashing) into a band-exploded
  * index table partitioned by (band, nibble); a probe joins its 4 query
  * band values against the partition columns, so the scan is
  * partition-pruned to the query's buckets and the signature is never
  * recomputed per query. Candidates are then exact-hamming filtered and
  * cosine-rescored — the standard recall/throughput trade at 10^9+
  * vectors. Both index tables (LSH bands, IVF lists) carry a source-data
  * fingerprint in their name, so regenerated fixture data triggers a
  * rebuild instead of probing a stale index.
  */
object Similarity {

  private val BITS = 16
  private val DIM = 64

  /** embeddings with double-widened vector + norm (shared with
    * Dedup.embedCosine — one definition of the corpus projection). */
  private[graft] def corpus(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.embeddings(s, dir)
      .withColumn("emb", expr(VectorFns.asDoubleSql("embedding")))
      .withColumn("nrm", VectorFns.norm("emb"))
      .select("vec_id", "label", "emb", "nrm")
  }

  /** Embedding-corpus profile — the sanity census an ANN pipeline runs
    * BEFORE building any index: vector count, zero-norm vectors (cosine
    * is undefined on them; they poison normalization), the norm range
    * and mean (un-normalized corpora change which metric is meaningful),
    * collapsed dimensions (variance ≈ 0 — wasted index width, a classic
    * symptom of a broken encoder), and the top dimension variance.
    *
    * Exactness + scale: norms fix to 1e-6 integer units row-locally; the
    * per-dimension first/second moments are sums of 1e-6/1e-12-unit
    * BIGINTs aggregated as DECIMAL(38,0) (merge-order-free at any corpus
    * size — the labelCentroids discipline), and every division happens
    * once, in the same order as the oracle. Shuffles carry (dim, partial
    * moment) rows — never vectors. */
  def embeddingProfile(s: SparkSession, dir: String): DataFrame =
    embeddingProfileOn(corpus(s, dir))

  /** Core census over any (emb: array<double>, nrm) frame — exposed for
    * the planted-pathology spec. */
  private[graft] def embeddingProfileOn(e: DataFrame): DataFrame = {
    val norms = e
      .select(floor(col("nrm") * lit(1000000.0d) + lit(0.5d)).cast("long")
        .as("n6"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("n6") === 0L, 1L).otherwise(0L)).as("n_zero"),
        min("n6").as("mn"), max("n6").as("mx"),
        sum(col("n6").cast("decimal(38,0)")).as("sn"))
    val dims = e.select(posexplode(col("emb"))).toDF("j", "x")
      .select(col("j"),
        floor(col("x") * lit(1000000.0d) + lit(0.5d)).cast("long").as("f"))
      .groupBy("j")
      .agg(count(lit(1)).as("n"),
        sum(col("f").cast("decimal(38,0)")).as("sf"),
        sum((col("f") * col("f")).cast("decimal(38,0)")).as("sf2"))
      .select(col("j"),
        (col("sf2").cast("double") / col("n") / lit(1.0e12d)
          - (col("sf").cast("double") / col("n") / lit(1.0e6d))
            * (col("sf").cast("double") / col("n") / lit(1.0e6d))).as("v"))
      .agg(sum(when(col("v") < lit(0.0001d), 1L).otherwise(0L))
        .as("n_collapsed_dims"),
        max("v").as("vmax"), count(lit(1)).as("n_dims"))
    norms.join(broadcast(dims))
      .select(col("n_vecs"), col("n_dims"), col("n_zero"),
        (expr("(mn + 50L) div 100L").cast("double") / lit(10000.0d))
          .as("norm_min"),
        (expr("(mx + 50L) div 100L").cast("double") / lit(10000.0d))
          .as("norm_max"),
        (floor(col("sn").cast("double") / col("n_vecs") / lit(1.0e6d)
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("norm_mean"),
        col("n_collapsed_dims"),
        (floor(col("vmax") * lit(100000000.0d) + lit(0.5d))
          / lit(100000000.0d)).as("max_dim_var"))
  }

  private val embeddingProfileSql =
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, embedding::DOUBLE[] AS emb,
       |         sqrt(list_dot_product(embedding::DOUBLE[],
       |                               embedding::DOUBLE[])) AS nrm
       |  FROM embeddings),
       |n AS (
       |  SELECT CAST(floor(nrm * 1000000.0 + 0.5) AS BIGINT) AS n6 FROM e),
       |ns AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_vecs,
       |         CAST(count(*) FILTER (n6 = 0) AS BIGINT) AS n_zero,
       |         min(n6) AS mn, max(n6) AS mx, sum(n6) AS sn
       |  FROM n),
       |dx AS (
       |  SELECT j, CAST(floor(emb[j] * 1000000.0 + 0.5) AS BIGINT) AS f
       |  FROM e CROSS JOIN (SELECT unnest(generate_series(1, $DIM)) AS j)),
       |ds AS (
       |  SELECT j, CAST(count(*) AS BIGINT) AS n, sum(f) AS sf,
       |         sum(f * f) AS sf2
       |  FROM dx GROUP BY j),
       |dv AS (
       |  SELECT j, CAST(sf2 AS DOUBLE) / n / 1.0e12
       |           - (CAST(sf AS DOUBLE) / n / 1.0e6)
       |             * (CAST(sf AS DOUBLE) / n / 1.0e6) AS v
       |  FROM ds),
       |da AS (
       |  SELECT CAST(count(*) FILTER (v < 0.0001) AS BIGINT)
       |           AS n_collapsed_dims,
       |         max(v) AS vmax, CAST(count(*) AS BIGINT) AS n_dims
       |  FROM dv)
       |SELECT ns.n_vecs, da.n_dims, ns.n_zero,
       |       CAST((ns.mn + 50) // 100 AS DOUBLE) / 10000.0 AS norm_min,
       |       CAST((ns.mx + 50) // 100 AS DOUBLE) / 10000.0 AS norm_max,
       |       floor(CAST(ns.sn AS DOUBLE) / ns.n_vecs / 1.0e6
       |             * 10000.0 + 0.5) / 10000.0 AS norm_mean,
       |       da.n_collapsed_dims,
       |       floor(da.vmax * 100000000.0 + 0.5) / 100000000.0 AS max_dim_var
       |FROM ns CROSS JOIN da""".stripMargin

  /** Brute-force cosine top-10 against the vec_id=0 query vector (self
    * excluded) — the q_id=0 slice of the [[bruteTruth]] memo (identical
    * expressions, rounding and tie-break, so identical values). */
  def bruteTopK(s: SparkSession, dir: String): DataFrame =
    bruteTruth(s, dir)
      .filter(col("q_id") === 0)
      .select(col("vec_id"), col("label"), col("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(10)

  private val bruteTopKSql =
    """WITH e AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
      |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings),
      |q AS (SELECT emb AS q_emb, nrm AS q_nrm FROM e WHERE vec_id = 0)
      |SELECT vec_id, label,
      |       floor(list_dot_product(emb, q_emb) / (nrm * q_nrm) * 10000.0 + 0.5) / 10000.0 AS cos_sim
      |FROM e, q
      |WHERE vec_id <> 0
      |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin

  /** Batch size for the multi-query demonstration (vec_id < QBATCH is the
    * query batch) and per-query result depth. */
  private val QBATCH = 8
  private val BATCH_TOPK = 3

  /** Batched multi-query brute-force similarity: top-k per query for a
    * broadcast batch of Q query vectors in ONE corpus scan — the shape a
    * pipeline needs when deduping/linking a batch per pass rather than one
    * probe at a time. The corpus never shuffles: queries broadcast, the
    * scored rows that do shuffle are narrow (q_id, vec_id, label, cos)
    * tuples — never embeddings. The per-query top-k is one
    * `row_number() <= k` window, which Spark plans as a partial
    * `WindowGroupLimit` below the q_id exchange: each map partition ships
    * at most k rows per query, so no reducer ever receives a query's
    * whole scored corpus (the local-top-k-then-merge shape of REPOSE).
    * Ranking is over the 4-decimal-rounded cosine with a vec_id
    * tiebreak, which is what makes the DuckDB oracle row-exact.
    *
    * This is the COMPUTE path behind [[bruteTruth]]'s memo (and the plan
    * PlanShapeSpec pins). */
  private[graft] def bruteTruthCompute(s: SparkSession, dir: String,
                                       k: Int): DataFrame = {
    val e = corpus(s, dir)
    val qs = e.filter(col("vec_id") < QBATCH)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    val byQuery = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id")
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    e.join(broadcast(qs), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("label"),
        Fmt.fix4(VectorFns.cosineWithNorms("emb", "q_emb", "nrm", "q_nrm"))
          .as("cos_sim"))
      .withColumn("rn", row_number().over(byQuery))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn").cast("long").as("rn"), col("vec_id"),
        col("label"), col("cos_sim"))
      .orderBy("q_id", "rn")
  }

  /** Negatives mined per query by [[hardNegatives]]. */
  private val HN_NEG = 3

  /** HARD-NEGATIVE MINING — the contrastive-training feed every
    * embedding fine-tune runs: per batch query, the single best
    * SAME-label neighbor (the positive) and the [[HN_NEG]] highest-
    * scoring CROSS-label neighbors (the hard negatives — wrong label,
    * dangerously high cosine; random negatives teach nothing). One
    * corpus scan against the broadcast query batch; ranking is one
    * per-(query, kind) `row_number` window whose `rn <= HN_NEG` conjunct
    * plans a partial `WindowGroupLimit` below the exchange, so no reducer
    * sorts a whole query's scored corpus and only narrow scored tuples
    * shuffle — at 10⁹ vectors this is the mining job's exact shape. */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val e = corpus(s, dir)
    val qs = e.filter(col("vec_id") < QBATCH)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val byKind = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id", "kind")
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    e.join(broadcast(qs), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("label"),
        when(col("label") === col("q_label"), lit("pos"))
          .otherwise(lit("neg")).as("kind"),
        Fmt.fix4(VectorFns.cosineWithNorms("emb", "q_emb", "nrm", "q_nrm"))
          .as("cos_sim"))
      .withColumn("rn", row_number().over(byKind))
      .filter(col("rn") <= HN_NEG &&
        (col("kind") === "neg" || col("rn") <= 1))
      .select(col("q_id"), col("kind"), col("rn").cast("long").as("rn"),
        col("vec_id"), col("label"), col("cos_sim"))
      .orderBy("q_id", "kind", "rn")
  }

  private val hardNegativesSql =
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings),
       |q AS (SELECT vec_id AS q_id, label AS q_label, emb AS q_emb,
       |             nrm AS q_nrm
       |      FROM e WHERE vec_id < $QBATCH),
       |scored AS (
       |  SELECT q.q_id, e.vec_id, e.label,
       |         CASE WHEN e.label = q.q_label THEN 'pos' ELSE 'neg' END
       |           AS kind,
       |         floor(list_dot_product(e.emb, q.q_emb) / (e.nrm * q.q_nrm) * 10000.0 + 0.5) / 10000.0
       |           AS cos_sim
       |  FROM e JOIN q ON e.vec_id <> q.q_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id, kind
       |                               ORDER BY cos_sim DESC, vec_id) AS rn
       |  FROM scored)
       |SELECT q_id, kind, CAST(rn AS BIGINT) AS rn, vec_id, label, cos_sim
       |FROM ranked
       |WHERE (kind = 'pos' AND rn <= 1) OR (kind = 'neg' AND rn <= $HN_NEG)
       |ORDER BY q_id, kind, rn""".stripMargin

  /** Ground-truth depth: deep enough for every consumer (single-query
    * top-10, recall/NDCG@5, MRR@[[BATCH_TOPK]], matryoshka@[[MRL_K]]). */
  private val TRUTH_K = 10

  /** Driver-side rows with their schema: what a [[graft.Memo.Local]]
    * entry holds, served to any session as a local relation. */
  private final case class LocalRows(schema: StructType, rows: Array[Row]) {
    def toDF(s: SparkSession): DataFrame =
      s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Query-batch memo per (corpus dir, data fingerprint), ONE build
    * holding two row sets:
    *  - the brute-force truth: QBATCH·[[TRUTH_K]] (q_id, rn, vec_id,
    *    label, cos_sim) rows;
    *  - the batch's LSH probe rows: QBATCH·LSH_BANDS (q_id, q_emb,
    *    q_nrm, q_sig, band, nib) rows — each batch query's vector, norm,
    *    16-bit signature and (band, nibble) bucket keys, so
    *    [[annLshBatch]] never rescans the corpus to sign its queries.
    * Both are PLAIN DRIVER DATA — ids, 4dp-rounded scores and at most 32
    * query-vector rows, no session reference — so they're safe to serve
    * to any session (the [[trainedProbe]] precedent). */
  private val truthMemo =
    new graft.Memo.Local[(LocalRows, LocalRows)]("embeddings")

  private def batchMemo(s: SparkSession, dir: String): (LocalRows, LocalRows) =
    truthMemo(s, dir) {
      val e = corpus(s, dir).filter(col("vec_id") < QBATCH)
        .withColumn("sig", expr(VectorFns.lshSignatureSql("emb", BITS, DIM)))
      val probes = e.select(col("vec_id"), col("emb"), col("nrm"),
          col("sig"), bandNibs(col("sig")))
        .toDF("q_id", "q_emb", "q_nrm", "q_sig", "band", "nib")
      def rows(df: DataFrame) = LocalRows(df.schema, df.collect())
      (rows(bruteTruthCompute(s, dir, TRUTH_K)), rows(probes))
    }

  /** The exact cosine top-[[TRUTH_K]] for every batch query, as a local
    * relation off the memo. `q_sim_topk`, `q_sim_topk_batch`,
    * `q_ann_recall`, `q_ann_ndcg`, `q_ann_mrr` and
    * `q_matryoshka_recall` all rank against the SAME deterministic
    * truth (exact tie-broken integer/4dp values), so the fleet pays ONE
    * batched corpus scan for ground truth instead of six. At 100 TB the
    * truth side is exactly this shape: a sampled query batch scored
    * once, then reused by every evaluation that needs it. */
  private[graft] def bruteTruth(s: SparkSession, dir: String): DataFrame =
    batchMemo(s, dir)._1.toDF(s)

  /** Registered batch top-k — served from the [[bruteTruth]] memo. */
  def bruteTopKBatch(s: SparkSession, dir: String): DataFrame =
    bruteTruth(s, dir)
      .filter(col("rn") <= BATCH_TOPK)
      .orderBy("q_id", "rn")

  private val bruteTopKBatchSql =
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings),
       |q AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm
       |      FROM e WHERE vec_id < $QBATCH),
       |scored AS (
       |  SELECT q.q_id, e.vec_id, e.label,
       |         floor(list_dot_product(e.emb, q.q_emb) / (e.nrm * q.q_nrm) * 10000.0 + 0.5) / 10000.0
       |           AS cos_sim
       |  FROM e JOIN q ON e.vec_id <> q.q_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |                               ORDER BY cos_sim DESC, vec_id) AS rn
       |  FROM scored)
       |SELECT q_id, rn, vec_id, label, cos_sim
       |FROM ranked WHERE rn <= $BATCH_TOPK
       |ORDER BY q_id, rn""".stripMargin

  private val LSH_BANDS = 4
  private val LSH_BAND_BITS = BITS / LSH_BANDS

  /** Band `b`'s nibble of a 16-bit signature (or of a signature xor). */
  private def bandNib(sig: Column, b: Int): Column =
    shiftright(sig, b * LSH_BAND_BITS)
      .bitwiseAND(lit((1 << LSH_BAND_BITS) - 1))

  /** A signature exploded into its LSH_BANDS (band, nib) bucket keys. */
  private def bandNibs(sig: Column): Column =
    posexplode(array((0 until LSH_BANDS).map(bandNib(sig, _)): _*))

  /** Keep-one rule for band-index candidates. A (query, vector) pair
    * arrives once per band whose bucket it shares with a probe; `x` is
    * `sig ^ q_sig` and `collides` says whether a band's xor nibble
    * matches a probe (nibble 0 for the query's own buckets, ≤ 1 set bit
    * under flip-1 multi-probe). Returns the LOWEST colliding band
    * (LSH_BANDS when none does). Filtering `band === firstCollidingBand`
    * keeps every colliding pair exactly once, row-locally — the lowest
    * colliding band is unique and is always among the pair's rows — so
    * no dedup exchange ever carries the candidates' vectors. */
  private[graft] def firstCollidingBand(x: Column,
                                        collides: Column => Column): Column =
    (0 until LSH_BANDS).foldRight(lit(LSH_BANDS)) { (b, none) =>
      when(collides(bandNib(x, b)), lit(b)).otherwise(none)
    }

  /** Build — once per (sf-dir, data fingerprint) per JVM — the LSH band
    * index: each vector's 16-bit hyperplane signature computed at ingest,
    * exploded into its 4 (band, nibble) bucket keys, written as a catalog
    * table PARTITIONED BY (band, nib). Storage is BANDS× the corpus (the
    * classic B-hash-tables LSH layout); a probe reads only its 4 matching
    * partitions — 4/(4·16) = 1/16 of the index — and never recomputes a
    * signature. Same ingest/query split [[ensureIvfTable]] performs for
    * the IVF lists. */
  private[graft] def ensureLshTable(s: SparkSession, dir: String): String =
    ensureIndexTable(s, dir, "lsh") {
      val e = corpus(s, dir)
        .withColumn("sig", expr(VectorFns.lshSignatureSql("emb", BITS, DIM)))
      e.select(col("vec_id"), col("label"), col("emb"), col("nrm"),
          col("sig"), bandNibs(col("sig")))
        .toDF("vec_id", "label", "emb", "nrm", "sig", "band", "nib")
    }(Seq("band", "nib"))

  /** ANN via random-hyperplane LSH over the ingest-time band index:
    * candidates = rows sharing ≥1 of the query's 4 (band, nibble) buckets
    * — a partition-pruned scan (asserted in PlanShapeSpec) — kept once
    * per vector at its first colliding band, then exact
    * hamming(sig, query_sig) ≤ 3 and cosine rescore, top-5. The band
    * prefilter is LOSSLESS for the hamming radius: ≤3 bit flips across 4
    * disjoint bands leave ≥1 band intact (pigeonhole), so the DuckDB
    * oracle stays the simple hamming-≤3 form over all vectors. */
  def annLsh(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureLshTable(s, dir)
    val e = corpus(s, dir)
      .withColumn("sig", expr(VectorFns.lshSignatureSql("emb", BITS, DIM)))
    val qv = e.filter(col("vec_id") === 0)
    val probes = qv.select(bandNibs(col("sig"))).toDF("band", "nib")
    val q = qv.select(col("emb").as("q_emb"), col("nrm").as("q_nrm"),
      col("sig").as("q_sig"))
    s.table(tbl)
      .join(broadcast(probes), Seq("band", "nib"))
      .filter(col("vec_id") =!= 0)
      .join(broadcast(q))
      .filter(col("band") === firstCollidingBand(
        col("sig").bitwiseXOR(col("q_sig")), _ === 0))
      .withColumn("hamming", expr("bit_count(sig ^ q_sig)").cast("long"))
      .filter(col("hamming") <= 3)
      .select(col("vec_id"), col("label"), col("hamming"),
        Fmt.fix4(VectorFns.cosineWithNorms("emb", "q_emb", "nrm", "q_nrm"))
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(5)
  }

  // Weights per plane are materialized as a LIST and the projection is
  // list_dot_product — a sequential left-to-right fold, bit-identical
  // to Spark's dot_d over the inlined literal array. (A GROUP BY
  // sum(emb[j]*wt) would leave the summation order to the aggregate
  // engine and could flip a near-zero sign bit.) Parameterized on the
  // hamming radius so the single-probe (≤3) and multiprobe (≤7) oracles
  // share one template instead of string-editing each other.
  private def annLshSqlAt(radius: Int): String = {
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings),
       |w AS (
       |  SELECT m,
       |         list_transform(generate_series(0, ${DIM - 1}), j ->
       |           CASE WHEN strpos('0123456789abcdef', substr(md5(m || ':' || j), 1, 1)) - 1 >= 8
       |                THEN 1.0 ELSE -1.0 END) AS wt
       |  FROM (SELECT unnest(generate_series(0, ${BITS - 1})) AS m)),
       |comp AS (
       |  SELECT vec_id, m, list_dot_product(emb, wt) AS d
       |  FROM e, w),
       |sig AS (
       |  SELECT vec_id,
       |         CAST(sum(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << CAST(m AS INTEGER))
       |                       ELSE 0 END) AS BIGINT) AS sig
       |  FROM comp GROUP BY vec_id),
       |es AS (
       |  SELECT e.vec_id, label, emb, nrm, sig FROM e JOIN sig ON e.vec_id = sig.vec_id),
       |q AS (SELECT emb AS q_emb, nrm AS q_nrm, sig AS q_sig FROM es WHERE vec_id = 0)
       |SELECT vec_id, label,
       |       CAST(bit_count(xor(sig, q_sig)) AS BIGINT) AS hamming,
       |       floor(list_dot_product(emb, q_emb) / (nrm * q_nrm) * 10000.0 + 0.5) / 10000.0 AS cos_sim
       |FROM es, q
       |WHERE vec_id <> 0 AND bit_count(xor(sig, q_sig)) <= $radius
       |ORDER BY cos_sim DESC, vec_id LIMIT 5""".stripMargin
  }

  private val annLshSql = annLshSqlAt(3)

  /** Batched ANN over the same ingest-time band index: ALL of the batch's
    * (band, nibble) buckets probe in ONE index scan (≤ QBATCH × 4
    * partitions read), then per-query exact hamming ≤ 3 + cosine rescore
    * and a per-query top-k — the amortized shape of running a probe batch
    * per pass instead of one query at a time. The batch's probe rows
    * (vector, norm, signature, bucket keys) are driver data off the
    * [[batchMemo]], so their buckets become a STATIC partition filter on
    * the index scan, pruned at planning time, and the corpus is never
    * rescanned to sign the queries. Each (query, vector) pair is kept at
    * its first colliding band ([[firstCollidingBand]]) and the top-k is a
    * single window with a partial `WindowGroupLimit` below its exchange,
    * so nothing but narrow scored tuples shuffles. The band prefilter
    * stays lossless per query (pigeonhole over 4 disjoint bands), so the
    * DuckDB oracle is the plain per-query hamming-≤3 form over all
    * vectors. */
  def annLshBatch(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureLshTable(s, dir)
    val probeRows = batchMemo(s, dir)._2
    // the batch's buckets as a static partition filter
    val buckets = probeRows.rows
      .groupMap(_.getAs[Int]("band"))(_.getAs[Long]("nib"))
      .toSeq.sortBy(_._1)
      .map { case (band, nibs) =>
        col("band") === band && col("nib").isin(nibs.distinct.sorted.toSeq: _*)
      }
      .reduceOption(_ || _).getOrElse(lit(false))
    val byQuery = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id")
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    s.table(tbl).filter(buckets)
      .join(broadcast(probeRows.toDF(s)), Seq("band", "nib"))
      .filter(col("vec_id") =!= col("q_id") &&
        col("band") === firstCollidingBand(
          col("sig").bitwiseXOR(col("q_sig")), _ === 0))
      .withColumn("hamming", expr("bit_count(sig ^ q_sig)").cast("long"))
      .filter(col("hamming") <= 3)
      .select(col("q_id"), col("vec_id"), col("label"), col("hamming"),
        Fmt.fix4(VectorFns.cosineWithNorms("emb", "q_emb", "nrm", "q_nrm"))
          .as("cos_sim"))
      .withColumn("rn", row_number().over(byQuery))
      .filter(col("rn") <= BATCH_TOPK)
      .select(col("q_id"), col("rn").cast("long").as("rn"), col("vec_id"),
        col("label"), col("hamming"), col("cos_sim"))
      .orderBy("q_id", "rn")
  }

  private val annLshBatchSql =
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings),
       |w AS (
       |  SELECT m,
       |         list_transform(generate_series(0, ${DIM - 1}), j ->
       |           CASE WHEN strpos('0123456789abcdef', substr(md5(m || ':' || j), 1, 1)) - 1 >= 8
       |                THEN 1.0 ELSE -1.0 END) AS wt
       |  FROM (SELECT unnest(generate_series(0, ${BITS - 1})) AS m)),
       |comp AS (
       |  SELECT vec_id, m, list_dot_product(emb, wt) AS d
       |  FROM e, w),
       |sig AS (
       |  SELECT vec_id,
       |         CAST(sum(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << CAST(m AS INTEGER))
       |                       ELSE 0 END) AS BIGINT) AS sig
       |  FROM comp GROUP BY vec_id),
       |es AS (
       |  SELECT e.vec_id, label, emb, nrm, sig FROM e JOIN sig ON e.vec_id = sig.vec_id),
       |q AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm, sig AS q_sig
       |      FROM es WHERE vec_id < $QBATCH),
       |cand AS (
       |  SELECT q.q_id, es.vec_id, es.label,
       |         CAST(bit_count(xor(es.sig, q.q_sig)) AS BIGINT) AS hamming,
       |         floor(list_dot_product(es.emb, q.q_emb) / (es.nrm * q.q_nrm) * 10000.0 + 0.5) / 10000.0
       |           AS cos_sim
       |  FROM es, q
       |  WHERE es.vec_id <> q.q_id AND bit_count(xor(es.sig, q.q_sig)) <= 3),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |                               ORDER BY cos_sim DESC, vec_id) AS rn
       |  FROM cand)
       |SELECT q_id, rn, vec_id, label, hamming, cos_sim
       |FROM ranked WHERE rn <= $BATCH_TOPK
       |ORDER BY q_id, rn""".stripMargin

  private val KNN_BITS = 32
  private val KNN_BANDS = 4
  private val KNN_BAND_BITS = KNN_BITS / KNN_BANDS / 2 * 2 // 8
  private val KNN_RADIUS = 6
  private val KNN_K = 3

  /** KNN self-join: for EVERY vector, its top-[[KNN_K]] nearest same-bucket
    * neighbors within hamming radius [[KNN_RADIUS]] of a 32-bit hyperplane
    * signature — the all-pairs linkage a dedup/clustering pipeline runs,
    * where the batched probe ([[annLshBatch]]) serves only a query set.
    *
    * Never an all-pairs join: signatures band into 4×8-bit keys and
    * candidates come from a self-equi-join on (band, band-key) — quadratic
    * only within a bucket (expected bucket size n/256 per band), linear in
    * corpus size overall. The banding is lossless up to hamming 3
    * (pigeonhole over 4 disjoint bands) and recall-bounded beyond; the
    * DECLARED semantics are "same-bucket candidates within radius 6",
    * which the DuckDB oracle replays exactly (band condition included), so
    * the check is exact while the recall trade stays visible in the query
    * definition — the honest LSH-KNN contract. The join moves (vec_id,
    * sig, band, key) tuples — embeddings never leave the scan — and the
    * per-vector top-k is one window whose partial `WindowGroupLimit`
    * caps what each map partition ships per vector at k rows (no reducer
    * holds a whole vector's candidate set). Ranking by (hamming, nb_id)
    * is integer-exact — no float tiebreak ambiguity. */
  def knnJoin(s: SparkSession, dir: String): DataFrame = {
    val sigs = corpus(s, dir)
      .withColumn("sig", expr(VectorFns.lshSignatureSql("emb", KNN_BITS, DIM)))
      .select("vec_id", "sig")
    val bands = sigs.select(col("vec_id"), col("sig"),
        posexplode(array((0 until KNN_BANDS).map(b =>
          shiftright(col("sig"), b * KNN_BAND_BITS)
            .bitwiseAND(lit((1 << KNN_BAND_BITS) - 1))): _*)))
      .toDF("vec_id", "sig", "band", "bkey")
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("vec_id"), col("y.vec_id").as("nb_id"),
        col("x.sig").bitwiseXOR(col("y.sig")).as("sx"))
      .withColumn("hamming", expr("bit_count(sx)").cast("long"))
      .filter(col("hamming") <= KNN_RADIUS)
      // a pair can match in up to 4 bands; duplicates carry the same
      // hamming, so dedupe the (small) radius survivors, not the
      // candidate stream
      .dropDuplicates("vec_id", "nb_id")
    val byVec = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id")
      .orderBy(col("hamming").asc, col("nb_id").asc)
    cand
      .withColumn("rn", row_number().over(byVec))
      .filter(col("rn") <= KNN_K)
      .select(col("vec_id"), col("rn").cast("long").as("rn"), col("nb_id"),
        col("hamming"))
      .orderBy("vec_id", "rn")
  }

  private val knnJoinSql =
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |w AS (
       |  SELECT m,
       |         list_transform(generate_series(0, ${DIM - 1}), j ->
       |           CASE WHEN strpos('0123456789abcdef', substr(md5(m || ':' || j), 1, 1)) - 1 >= 8
       |                THEN 1.0 ELSE -1.0 END) AS wt
       |  FROM (SELECT unnest(generate_series(0, ${KNN_BITS - 1})) AS m)),
       |comp AS (
       |  SELECT vec_id, m, list_dot_product(emb, wt) AS d
       |  FROM e, w),
       |sig AS (
       |  SELECT vec_id,
       |         CAST(sum(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << CAST(m AS INTEGER))
       |                       ELSE 0 END) AS BIGINT) AS sig
       |  FROM comp GROUP BY vec_id),
       |cand AS (
       |  SELECT x.vec_id AS vec_id, y.vec_id AS nb_id,
       |         CAST(bit_count(xor(x.sig, y.sig)) AS BIGINT) AS hamming
       |  FROM sig x JOIN sig y ON x.vec_id <> y.vec_id
       |  WHERE ((x.sig & 255) = (y.sig & 255)
       |      OR ((x.sig >> 8) & 255) = ((y.sig >> 8) & 255)
       |      OR ((x.sig >> 16) & 255) = ((y.sig >> 16) & 255)
       |      OR ((x.sig >> 24) & 255) = ((y.sig >> 24) & 255))
       |    AND bit_count(xor(x.sig, y.sig)) <= $KNN_RADIUS),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |                               ORDER BY hamming, nb_id) AS rn
       |  FROM cand)
       |SELECT vec_id, rn, nb_id, hamming
       |FROM ranked WHERE rn <= $KNN_K
       |ORDER BY vec_id, rn""".stripMargin

  private val NLIST = 16
  private val NPROBE = 4

  /** Coarse centroids: FIXED (vec_id < NLIST) so DuckDB can re-derive the
    * whole structure — production IVF k-means-trains them, but the
    * partition/probe/rescore mechanics are identical. The trained variant
    * is [[trainCentroids]] / q_sim_ivf_trained. */
  private def centroids(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < NLIST)
      .select(col("vec_id").cast("int").as("cid"), col("emb").as("c_emb"),
        col("nrm").as("c_nrm"))

  private val LLOYD_ITERS = 3

  /** A centroid list as a (cid, c_emb, c_nrm) frame — centroid vectors are
    * k×DIM driver metadata (same footing as a broadcast dim table), norms
    * precomputed driver-side. */
  private[graft] def centroidFrame(s: SparkSession,
                                   cents: Seq[(Int, Seq[Double])]): DataFrame = {
    import s.implicits._
    cents.map { case (cid, v) =>
      (cid, v, math.sqrt(v.map(x => x * x).sum)) }
      .toDF("cid", "c_emb", "c_nrm")
  }

  /** Nearest-centroid assignment of a corpus frame against a (small,
    * broadcast) centroid frame: argmax cosine via a per-vec_id window — a
    * hash exchange on vec_id, no global sort. */
  private[graft] def assignToCentroids(e: DataFrame, cdf: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(e.sparkSession)
    val scored = e.join(broadcast(cdf))
      .withColumn("ccos",
        VectorFns.cosineWithNorms("emb", "c_emb", "nrm", "c_nrm"))
    val byVec = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("ccos").desc, col("cid").asc)
    scored
      .withColumn("rn", row_number().over(byVec))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("label"), col("emb"), col("nrm"),
        col("cid"), col("ccos"))
  }

  /** Deterministic spherical-k-means training: seed = the first k vectors
    * by vec_id (the fixed-centroid layout, so trained stays reproducible),
    * then `iters` Lloyd rounds of assign → per-list mean DIRECTION (mean
    * of norm-scaled vectors — the update that provably does not increase
    * the spherical k-means objective). Each round is one broadcast-join
    * assignment pass over the corpus plus a (k × DIM)-row aggregate; the
    * collected means are k×DIM driver metadata, not data. A list that
    * loses all members keeps its previous centroid.
    *
    * The direction sums are EXACT: each normalized component is fixed to
    * 1e-6 units (one IEEE divide + floor per row) and summed as BIGINT,
    * so the trained centroids are merge-order-independent — identical
    * under any partitioning or cluster layout (a raw double sum would
    * drift with the reduce tree), and replayable by the DuckDB oracle as
    * the same integer arithmetic. |unit| ≤ 1e6 per row keeps the sums
    * exact past 9e12 corpus rows. */
  private[graft] def trainCentroids(e: DataFrame, k: Int = NLIST,
                                    iters: Int = LLOYD_ITERS): Seq[(Int, Seq[Double])] = {
    var cents: Seq[(Int, Seq[Double])] = e.filter(col("vec_id") < k)
      .orderBy("vec_id").select("emb").collect()
      .toSeq.zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](0)) }
    for (_ <- 1 to iters) {
      val cdf = centroidFrame(e.sparkSession, cents)
      val dirSums = assignToCentroids(e, cdf)
        .select(col("cid"), posexplode(expr(
          "transform(emb, v -> CAST(floor(v / nrm * 1000000.0D + 0.5D) AS BIGINT))")))
        .toDF("cid", "j", "f")
        .groupBy("cid", "j").agg(sum("f").as("m"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      val byCid = dirSums.groupBy(_._1).map { case (cid, xs) =>
        cid -> xs.sortBy(_._2).map(_._3 / 1000000.0d).toSeq }
      cents = cents.map { case (cid, old) => (cid, byCid.getOrElse(cid, old)) }
    }
    cents
  }

  /** Ingest-time TRAINED IVF layout: a 16-row centroid table (`ivfc_*`,
    * the converged Lloyd centroids) plus the corpus assignment table
    * (`ivft_*`) PARTITIONED BY cid — same probe mechanics as the
    * fixed-centroid table, but list boundaries follow the data. Both carry
    * the source fingerprint, so regenerated data retrains. */
  private[graft] def ensureIvfTrainedTables(s: SparkSession,
                                            dir: String): (String, String) = {
    val cTbl = ensureIndexTable(s, dir, "ivfc") {
      centroidFrame(s, trainCentroids(corpus(s, dir)))
    }(Seq.empty)
    val tTbl = ensureIndexTable(s, dir, "ivft") {
      assignToCentroids(corpus(s, dir), s.table(cTbl))
        .select("vec_id", "label", "emb", "nrm", "cid")
    }(Seq("cid"))
    (cTbl, tTbl)
  }

  /** Shared probe: best-NPROBE lists by centroid cosine, then exact
    * rescore inside only those partitions of the assignment table. */
  private def ivfProbe(s: SparkSession, tbl: String, cents: DataFrame,
                       e: DataFrame, queryId: Long): DataFrame = {
    val q = e.filter(col("vec_id") === queryId)
      .select(col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val probes = cents.join(broadcast(q))
      .select(col("cid"),
        VectorFns.cosineWithNorms("c_emb", "q_emb", "c_nrm", "q_nrm")
          .as("ccos"))
      .orderBy(col("ccos").desc, col("cid").asc)
      .limit(NPROBE)
      .select("cid")
    s.table(tbl).join(broadcast(probes), "cid")
      .filter(col("vec_id") =!= queryId)
      .join(broadcast(q))
      .select(col("vec_id"), col("label"), col("cid").cast("long").as("probe_list"),
        Fmt.fix4(VectorFns.cosineWithNorms("emb", "q_emb", "nrm", "q_nrm"))
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(5)
  }

  /** Trained-IVF ANN probe. DuckDB oracle: with the direction sums now
    * exact integers (see [[trainCentroids]]), the whole Lloyd loop
    * replays as LLOYD_ITERS unrolled (assign, sum, rebuild) CTE rounds —
    * assignment cosines and centroid norms are the established
    * bit-identical dot/sqrt forms, the per-list sums are the same BIGINT
    * arithmetic, and an emptied list COALESCEs to its previous centroid
    * exactly like the driver loop. A 4th assignment under the converged
    * centroids reproduces the ivft table, then the probe mirrors the
    * fixed-centroid ivfSql. SimilarityTrainingSpec keeps the
    * planted-cluster recovery / recall / objective specs. */
  def ivfTrained(s: SparkSession, dir: String): DataFrame = {
    val (cTbl, tTbl) = ensureIvfTrainedTables(s, dir)
    ivfProbe(s, tTbl, s.table(cTbl), corpus(s, dir), queryId = 0L)
  }

  private val ivfTrainedSql = {
    def assign(cents: String, out: String): String =
      s"""$out AS MATERIALIZED (
         |  SELECT vec_id, label, emb, nrm, cid FROM (
         |    SELECT e.vec_id, e.label, e.emb, e.nrm, c.cid,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY list_dot_product(e.emb, c.c_emb)
         |                        / (e.nrm * c.c_nrm) DESC,
         |                      c.cid ASC) AS rn
         |    FROM e CROSS JOIN $cents c)
         |  WHERE rn = 1)""".stripMargin
    val rounds = (1 to LLOYD_ITERS).map { r =>
      s"""${assign(s"c${r - 1}", s"a$r")},
         |s$r AS MATERIALIZED (
         |  SELECT cid, j,
         |         CAST(sum(CAST(floor(emb[j] / nrm * 1000000.0 + 0.5)
         |                       AS BIGINT)) AS BIGINT) AS m
         |  FROM a$r CROSS JOIN jx GROUP BY cid, j),
         |c$r AS MATERIALIZED (
         |  SELECT c.cid,
         |         COALESCE(n.c_emb, c.c_emb) AS c_emb,
         |         COALESCE(n.c_nrm, c.c_nrm) AS c_nrm
         |  FROM c${r - 1} c LEFT JOIN (
         |    SELECT cid, c_emb, sqrt(list_dot_product(c_emb, c_emb)) AS c_nrm
         |    FROM (SELECT cid,
         |                 list_transform(list(m ORDER BY j),
         |                   x -> CAST(x AS DOUBLE) / 1000000.0) AS c_emb
         |          FROM s$r GROUP BY cid)) n
         |  ON c.cid = n.cid)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
       |         sqrt(list_dot_product(embedding::DOUBLE[],
       |                               embedding::DOUBLE[])) AS nrm
       |  FROM embeddings),
       |jx AS (SELECT unnest(generate_series(1, $DIM)) AS j),
       |c0 AS MATERIALIZED (
       |  SELECT CAST(vec_id AS INTEGER) AS cid, emb AS c_emb, nrm AS c_nrm
       |  FROM e WHERE vec_id < $NLIST),
       |$rounds,
       |${assign(s"c$LLOYD_ITERS", "t")},
       |q AS (SELECT emb AS q_emb, nrm AS q_nrm FROM e WHERE vec_id = 0),
       |probes AS (
       |  SELECT cid FROM (
       |    SELECT c.cid, row_number() OVER (
       |      ORDER BY list_dot_product(c.c_emb, q.q_emb)
       |                 / (c.c_nrm * q.q_nrm) DESC, c.cid) AS rn
       |    FROM c$LLOYD_ITERS c CROSS JOIN q) WHERE rn <= $NPROBE)
       |SELECT t.vec_id, t.label, CAST(t.cid AS BIGINT) AS probe_list,
       |       floor(list_dot_product(t.emb, q.q_emb) / (t.nrm * q.q_nrm) * 10000.0 + 0.5) / 10000.0
       |         AS cos_sim
       |FROM t JOIN probes p ON t.cid = p.cid CROSS JOIN q
       |WHERE t.vec_id <> 0
       |ORDER BY cos_sim DESC, t.vec_id LIMIT 5""".stripMargin
  }

  // ---- product quantization -------------------------------------------

  private val PQ_M = 2       // subspaces
  private val PQ_K = 8       // codes per subspace
  private val PQ_ITERS = 2   // L2 k-means rounds per subspace
  private val PQ_SUB = DIM / PQ_M
  /** Offset that shifts signed 1e-6-fixed component sums positive before
    * the rounding division (Spark `div` truncates, DuckDB `//` floors —
    * they agree only in the positive domain). Covers |component| ≤ 1e4. */
  private val PQ_OFF = 10000000000L

  /** Corpus split into per-subspace sub-vectors: (vec_id, m, sv). */
  private def pqSub(e: DataFrame): DataFrame =
    e.select(col("vec_id"), posexplode(expr(
      s"array(${(0 until PQ_M).map(m =>
        s"slice(emb, ${m * PQ_SUB + 1}, $PQ_SUB)").mkString(", ")})")))
      .toDF("vec_id", "m", "sv")

  /** L2 assignment of sub-vectors to a (m, cid, c_sv) codebook frame:
    * argmin ||x − c||² = argmin (c·c − 2·x·c) — both dots are the
    * engines' established bit-identical sequential folds, so the argmin
    * (ties → cid asc) is engine-identical without any distance rounding. */
  private def pqAssign(sub: DataFrame, cdf: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(sub.sparkSession)
    val byVec = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id", "m")
      .orderBy(col("key").asc, col("cid").asc)
    sub.join(broadcast(cdf), "m")
      .withColumn("key",
        expr("dot_d(c_sv, c_sv) - 2.0D * dot_d(sv, c_sv)"))
      .withColumn("rn", row_number().over(byVec))
      .filter(col("rn") === 1)
      .select("vec_id", "m", "sv", "cid")
  }

  /** Product-quantized ANN: train PQ_K centroids per subspace with
    * [[PQ_ITERS]] exact L2 k-means rounds (seeds = the first PQ_K
    * vectors' sub-slices — the [[trainCentroids]] determinism rule),
    * encode every vector as [[PQ_M]] one-byte codes, and answer the
    * query by ASYMMETRIC DISTANCE COMPUTATION: the query meets each
    * subspace codebook once (PQ_M·PQ_K dots) and every corpus score is a
    * table lookup sum — the memory/bandwidth shape that serves
    * billion-vector ANN (codes are M bytes/vector; raw vectors never
    * rescanned for ranking).
    *
    * Exactness: centroid updates fix components to 1e-6 BIGINT units and
    * round the mean through the [[PQ_OFF]] positive shift (signed sums;
    * truncating vs flooring div agree only shifted positive) — so the
    * trained codebooks are merge-order-independent and the whole
    * pipeline (train → encode → ADC) replays in DuckDB as unrolled
    * MATERIALIZED rounds. The final ADC sum adds the M=2 partial dots in
    * a FIXED order (explicit per-subspace pivot, not an aggregate whose
    * order the engine picks). */
  def pqTopK(s: SparkSession, dir: String): DataFrame = {
    val e = corpus(s, dir)
    val sub = pqSub(e)
    // seed codebooks from the first PQ_K vectors' sub-slices
    var cents: Map[(Int, Int), Seq[Double]] = sub
      .filter(col("vec_id") < PQ_K)
      .collect()
      .map(r => (r.getInt(1), r.getLong(0).toInt) -> r.getSeq[Double](2))
      .toMap
    def cdf(): DataFrame = {
      import s.implicits._
      cents.toSeq.map { case ((m, cid), v) => (m, cid, v) }
        .toDF("m", "cid", "c_sv")
    }
    for (_ <- 1 to PQ_ITERS) {
      val assigned = pqAssign(sub, cdf())
      val sums = assigned
        .select(col("m"), col("cid"), posexplode(expr(
          "transform(sv, v -> CAST(floor(v * 1000000.0D + 0.5D) AS BIGINT))")))
        .toDF("m", "cid", "j", "f")
        .groupBy("m", "cid", "j")
        .agg(sum("f").as("f6"), count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
          r.getLong(3), r.getLong(4)))
      val rebuilt = sums.groupBy(t => (t._1, t._2)).map { case (k, xs) =>
        k -> xs.sortBy(_._3).map { case (_, _, _, f6, n) =>
          ((2L * (f6 + n * PQ_OFF) + n) / (2L * n) - PQ_OFF) / 1000000.0d
        }.toSeq
      }
      cents = cents.map { case (k, old) => k -> rebuilt.getOrElse(k, old) }
    }
    val codes = pqAssign(sub, cdf()).select("vec_id", "m", "cid")
    // ADC: the query meets each codebook once
    val q = pqSub(e.filter(col("vec_id") === 0))
      .select(col("m"), col("sv").as("q_sv"))
    val qd = cdf().join(broadcast(q), "m")
      .select(col("m"), col("cid"), expr("dot_d(c_sv, q_sv)").as("qd"))
    val scored = codes.join(broadcast(qd), Seq("m", "cid"))
      .groupBy("vec_id")
      .agg(
        max(when(col("m") === 0, col("qd"))).as("a0"),
        max(when(col("m") === 1, col("qd"))).as("a1"))
      .withColumn("pq_dot",
        floor((col("a0") + col("a1")) * lit(10000.0d) + lit(0.5d)) /
          lit(10000.0d))
    scored.filter(col("vec_id") =!= 0)
      .join(e.select("vec_id", "label"), "vec_id")
      .select(col("vec_id"), col("label"), col("pq_dot"))
      .orderBy(col("pq_dot").desc, col("vec_id").asc)
      .limit(5)
  }

  private val pqTopKSql = {
    val subCase = (0 until PQ_M).map(m =>
      s"WHEN $m THEN emb[${m * PQ_SUB + 1}:${(m + 1) * PQ_SUB}]")
      .mkString("CASE m ", " ", " END")
    def assign(cents: String, out: String): String =
      s"""$out AS MATERIALIZED (
         |  SELECT vec_id, m, sv, cid FROM (
         |    SELECT s.vec_id, s.m, s.sv, c.cid,
         |           row_number() OVER (PARTITION BY s.vec_id, s.m
         |             ORDER BY list_dot_product(c.c_sv, c.c_sv)
         |                      - 2.0 * list_dot_product(s.sv, c.c_sv) ASC,
         |                      c.cid ASC) AS rn
         |    FROM sub s JOIN $cents c ON s.m = c.m)
         |  WHERE rn = 1)""".stripMargin
    val rounds = (1 to PQ_ITERS).map { r =>
      s"""${assign(s"c${r - 1}", s"a$r")},
         |s$r AS MATERIALIZED (
         |  SELECT m, cid, j,
         |         CAST(sum(CAST(floor(sv[j] * 1000000.0 + 0.5) AS BIGINT))
         |           AS BIGINT) AS f6,
         |         CAST(count(*) AS BIGINT) AS n
         |  FROM a$r CROSS JOIN jx GROUP BY m, cid, j),
         |c$r AS MATERIALIZED (
         |  SELECT c.m, c.cid, COALESCE(n.c_sv, c.c_sv) AS c_sv
         |  FROM c${r - 1} c LEFT JOIN (
         |    SELECT m, cid,
         |           list(CAST((2 * (f6 + n * $PQ_OFF) + n) // (2 * n)
         |                     - $PQ_OFF AS DOUBLE) / 1000000.0
         |                ORDER BY j) AS c_sv
         |    FROM s$r GROUP BY m, cid) n
         |  ON c.m = n.m AND c.cid = n.cid)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS emb
       |  FROM embeddings),
       |sub AS MATERIALIZED (
       |  SELECT vec_id, m, $subCase AS sv
       |  FROM e CROSS JOIN (SELECT unnest(range(0, $PQ_M)) AS m)),
       |jx AS (SELECT unnest(generate_series(1, $PQ_SUB)) AS j),
       |c0 AS MATERIALIZED (
       |  SELECT m, CAST(vec_id AS INTEGER) AS cid, sv AS c_sv
       |  FROM sub WHERE vec_id < $PQ_K),
       |$rounds,
       |${assign(s"c$PQ_ITERS", "t")},
       |qs AS (SELECT m, sv AS q_sv FROM sub WHERE vec_id = 0),
       |qd AS (
       |  SELECT c.m, c.cid, list_dot_product(c.c_sv, q.q_sv) AS qd
       |  FROM c$PQ_ITERS c JOIN qs q ON c.m = q.m),
       |scored AS (
       |  SELECT t.vec_id,
       |         max(CASE WHEN t.m = 0 THEN d.qd END) AS a0,
       |         max(CASE WHEN t.m = 1 THEN d.qd END) AS a1
       |  FROM t JOIN qd d ON t.m = d.m AND t.cid = d.cid
       |  GROUP BY t.vec_id)
       |SELECT s.vec_id, e.label,
       |       floor((s.a0 + s.a1) * 10000.0 + 0.5) / 10000.0 AS pq_dot
       |FROM scored s JOIN e ON s.vec_id = e.vec_id
       |WHERE s.vec_id <> 0
       |ORDER BY pq_dot DESC, s.vec_id LIMIT 5""".stripMargin
  }

  /** Fixture recall@5 vs the brute-force ground truth for one query, over
    * either assignment table — used by SimilarityTrainingSpec to compare
    * trained vs fixed. */
  private[graft] def ivfRecallProbe(s: SparkSession, dir: String,
                                    trained: Boolean, queryId: Long): Set[Long] = {
    val e = corpus(s, dir)
    val df =
      if (trained) {
        val (cTbl, tTbl) = ensureIvfTrainedTables(s, dir)
        ivfProbe(s, tTbl, s.table(cTbl), e, queryId)
      } else
        ivfProbe(s, ensureIvfTable(s, dir), centroids(e), e, queryId)
    df.collect().map(_.getLong(0)).toSet
  }

  /** Algorithm revision folded into every index-table name: bump when a
    * build's ARITHMETIC changes (e.g. the r6 exact-integer Lloyd sums),
    * so persisted tables built by older code rebuild instead of serving
    * results the current oracle can't reproduce. Data drift is covered by
    * the fingerprint; this covers code drift — both invalidate. */
  private val INDEX_ALGO_VER = 3

  /** Shared ingest-time index-table scaffold: the table name carries a
    * fingerprint of the source parquet (sizes + mtimes) plus the
    * algorithm revision, so regenerated data OR changed build code in
    * the same dir gets a REBUILD instead of a stale probe; older
    * variants of the same (kind, dir) are dropped. The one-time build
    * cost lands outside the per-query path by design — bench numbers for
    * the probe queries are probe-only, which is the documented
    * ingest/query split. */
  private[graft] def ensureIndexTable(s: SparkSession, dir: String,
                                      kind: String,
                                      srcTable: String = "embeddings",
                                      bucketCols: Seq[String] = Nil,
                                      nBuckets: Int = 16)
                                     (build: => DataFrame)
                                     (partCols: Seq[String]): String = synchronized {
    val db = "graft_ann"
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_").stripPrefix("_")
    // the bucket spec is PHYSICAL layout: folding it into the name means a
    // future nBuckets/bucketCols change rebuilds instead of re-registering
    // old-bucket files under a new CLUSTERED BY spec (which would silently
    // drop join matches — probe hashes mod new n, rows sit in old buckets)
    val bucketTok =
      if (bucketCols.isEmpty) ""
      else s"b$nBuckets" + bucketCols.map(_.take(1)).mkString
    val fp = s"${graft.Memo.fingerprintHex(dir, srcTable)}v$INDEX_ALGO_VER$bucketTok"
    val name = s"${kind}_${tag}_$fp"
    val tbl = s"$db.$name"
    if (!s.catalog.tableExists(tbl)) {
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
      // stale variants of this index (other fingerprints or algo revs)
      // are garbage now. Match the EXACT tag boundary — a bare startsWith
      // would let a dir whose tag is a prefix of another's (sf1 vs sf10)
      // drop the other dir's live index (tag is sanitized to
      // [A-Za-z0-9_], regex-safe)
      val stale = s"${kind}_${tag}_[0-9a-f]{1,8}(v[0-9]+)?(b[0-9]+[a-z]*)?"
      if (s.catalog.databaseExists(db)) {
        s.catalog.listTables(db).collect()
          .map(_.name)
          .filter(t => t.matches(stale) && t != name)
          .foreach(t => s.sql(s"DROP TABLE IF EXISTS $db.$t"))
      }
      // in-memory catalog forgets tables across JVMs but their files
      // survive; drop the stale catalog entry first
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      val loc = java.nio.file.Paths.get(
        s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
        s"$db.db", name)
      if (java.nio.file.Files.exists(loc.resolve("_SUCCESS"))) {
        // a COMPLETED build from a prior JVM: the table name carries the
        // source-data fingerprint AND the algorithm revision, so the
        // files are valid by construction — RE-REGISTER them instead of
        // rebuilding. The index is ingest-owned state; a consumer process
        // must not pay the build again (at 100 TB "again" is a full
        // corpus pass). RECOVER PARTITIONS restores the (band, nib)
        // partition pruning the probes rely on; a bucketed index needs
        // its CLUSTERED BY spec re-declared (with an explicit schema —
        // bucket DDL can't infer columns) or joins silently lose the
        // exchange-free read.
        val bucketDdl =
          if (bucketCols.isEmpty) ""
          else s" CLUSTERED BY (${bucketCols.mkString(", ")}) " +
            s"SORTED BY (${bucketCols.mkString(", ")}) INTO $nBuckets BUCKETS"
        val schemaDdl =
          if (bucketCols.isEmpty) ""
          else s" (${s.read.parquet(loc.toString).schema.toDDL})"
        s.sql(s"CREATE TABLE $tbl$schemaDdl USING parquet$bucketDdl " +
          s"LOCATION '$loc'")
        if (partCols.nonEmpty)
          s.sql(s"ALTER TABLE $tbl RECOVER PARTITIONS")
      } else {
        // no completion marker: absent or half-written — clear and build
        graft.BuildMeter.record()
        graft.sources.SnapshotLake.deleteRecursively(loc)
        val writer = build.write
          .mode(org.apache.spark.sql.SaveMode.Overwrite)
          .partitionBy(partCols: _*)
        (if (bucketCols.isEmpty) writer
         else writer.bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
           .sortBy(bucketCols.head, bucketCols.tail: _*))
          .saveAsTable(tbl)
      }
    }
    tbl
  }

  /** Build — once per (sf-dir, data fingerprint) per JVM — the IVF layout:
    * every corpus vector assigned to its nearest coarse centroid at INGEST
    * time, written as a catalog table PARTITIONED BY the list id. The
    * one-time build pays the corpus×NLIST scoring (broadcast centroids,
    * argmax via a per-vec_id window — a hash exchange on vec_id, no global
    * sort); every subsequent probe is a partition-pruned scan that reads
    * NPROBE/NLIST of the data. This is the split the reference's IVF index
    * performs at load time (README.md:13-26 ingest-then-query pattern,
    * re-expressed Spark-first). */
  private[graft] def ensureIvfTable(s: SparkSession, dir: String): String =
    ensureIndexTable(s, dir, "ivf") {
      val e = corpus(s, dir)
      assignToCentroids(e, centroids(e))
        .select("vec_id", "label", "emb", "nrm", "cid")
    }(Seq("cid"))

  /** IVF-style ANN probe: score the query against the NLIST centroids,
    * keep the NPROBE best lists, and rescore exactly inside ONLY those
    * partitions of the ingest-time table — the scan is partition-pruned
    * (asserted in PlanShapeSpec), so a query touches NPROBE/NLIST of the
    * corpus and never recomputes the assignment. */
  def ivf(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureIvfTable(s, dir)
    val e = corpus(s, dir)
    ivfProbe(s, tbl, centroids(e), e, queryId = 0L)
  }

  private val ivfSql =
    """WITH e AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
      |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings),
      |cents AS (
      |  SELECT vec_id AS cid, emb AS c_emb, nrm AS c_nrm FROM e WHERE vec_id < 16),
      |scored AS (
      |  SELECT e.vec_id, e.label, e.emb, e.nrm, c.cid,
      |         list_dot_product(e.emb, c.c_emb) / (e.nrm * c.c_nrm) AS ccos
      |  FROM e CROSS JOIN cents c),
      |assign AS (
      |  SELECT vec_id, label, emb, nrm, cid FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |                                 ORDER BY ccos DESC, cid) AS rn
      |    FROM scored) WHERE rn = 1),
      |probes AS (
      |  SELECT cid FROM (
      |    SELECT cid, row_number() OVER (ORDER BY ccos DESC, cid) AS rn
      |    FROM scored WHERE vec_id = 0) WHERE rn <= 4),
      |q AS (SELECT emb AS q_emb, nrm AS q_nrm FROM e WHERE vec_id = 0)
      |SELECT a.vec_id, a.label, a.cid AS probe_list,
      |       floor(list_dot_product(a.emb, q.q_emb) / (a.nrm * q.q_nrm) * 10000.0 + 0.5) / 10000.0 AS cos_sim
      |FROM assign a JOIN probes p ON a.cid = p.cid CROSS JOIN q
      |WHERE a.vec_id <> 0
      |ORDER BY cos_sim DESC, a.vec_id LIMIT 5""".stripMargin

  /** First dimensions exposed by the centroid aggregate (full-width
    * centroids aggregate identically; 8 keeps the checked output small). */
  private val CENTROID_DIMS = 8

  /** Per-label embedding centroids — the class-prototype aggregate behind
    * nearest-centroid classification, cluster drift monitoring, and IVF
    * seeding. One scan; the shuffle carries (label, dim, partial-sum)
    * triples, never vectors. Double summation order is engine-internal,
    * so the aggregation runs over DECIMAL(20,6) of 6-dp-rounded
    * components (exact, merge-order-independent — same discipline as the
    * LM score pipeline); the mean converts back to double once, after
    * the exact sum. */
  def labelCentroids(s: SparkSession, dir: String): DataFrame = {
    val e = corpus(s, dir)
      .select(col("label"), posexplode(col("emb")))
      .toDF("label", "j", "v")
      .filter(col("j") < CENTROID_DIMS)
    e.groupBy("label", "j")
      .agg(count(lit(1)).as("n_vecs"),
        sum(round(col("v"), 6)
          .cast(org.apache.spark.sql.types.DecimalType(20, 6))).as("s"))
      .select(col("label"), col("j").cast("long").as("j"), col("n_vecs"),
        Fmt.fix4(col("s").cast("double") / col("n_vecs")).as("centroid"))
      .orderBy("label", "j")
  }

  private val labelCentroidsSql =
    s"""WITH comp AS (
       |  SELECT label, j - 1 AS j,
       |         CAST(round(embedding[j]::DOUBLE, 6) AS DECIMAL(20,6)) AS v
       |  FROM embeddings,
       |       (SELECT unnest(generate_series(1, $CENTROID_DIMS)) AS j))
       |SELECT label, j, count(*) AS n_vecs,
       |       floor(CAST(sum(v) AS DOUBLE) / count(*) * 10000.0 + 0.5) / 10000.0 AS centroid
       |FROM comp GROUP BY label, j
       |ORDER BY label, j""".stripMargin

  /** Pairwise cosine similarity between label centroids — the class
    * SEPARATION audit run on top of [[labelCentroids]]: two labels whose
    * prototypes sit close (cos → 1) are classes a nearest-centroid
    * router will confuse, and candidates for merging. All 64 dimensions
    * participate (the registered centroid query exposes 8 for output
    * size; separation needs the full geometry).
    *
    * FP discipline: per-(label, dim) component sums are DECIMAL(20,6)
    * (merge-order-independent); means floor to 6 dp; every cross/self
    * product then fixes to 1e-12 units (floor(x·10¹² + 0.5) — pure IEEE
    * on identical doubles) and sums as BIGINT, so dot products and norms
    * are exact integers in both engines and the 10¹² scale cancels in
    * the cosine. Scale shape: one scan; shuffles carry (label, dim,
    * partial) triples and the pair table is C(|labels|, 2) rows. */
  def centroidSim(s: SparkSession, dir: String): DataFrame = {
    val cent = corpus(s, dir)
      .select(col("label"), posexplode(col("emb")))
      .toDF("label", "j", "v")
      .groupBy("label", "j")
      .agg(count(lit(1)).as("n"),
        sum(round(col("v"), 6)
          .cast(org.apache.spark.sql.types.DecimalType(20, 6))).as("sv"))
      .select(col("label"), col("j"),
        (floor(col("sv").cast("double") / col("n") * lit(1000000.0d)
          + lit(0.5d)) / lit(1000000.0d)).as("m"))
      .cache() // feeds the pair dot AND both norms — one corpus scan
    val dots = cent.as("a").join(cent.as("b"),
        col("a.j") === col("b.j") && col("a.label") < col("b.label"))
      .select(col("a.label").as("label_a"), col("b.label").as("label_b"),
        floor(col("a.m") * col("b.m") * lit(1.0e12d) + lit(0.5d)).as("p"))
      .groupBy("label_a", "label_b").agg(sum("p").as("sdot"))
    val norms = cent
      .select(col("label"),
        floor(col("m") * col("m") * lit(1.0e12d) + lit(0.5d)).as("p"))
      .groupBy("label").agg(sum("p").as("s2"))
    dots
      .join(norms.select(col("label").as("label_a"), col("s2").as("s2a")),
        "label_a")
      .join(norms.select(col("label").as("label_b"), col("s2").as("s2b")),
        "label_b")
      .select(col("label_a"), col("label_b"),
        (floor(col("sdot").cast("double")
          / sqrt(col("s2a").cast("double") * col("s2b").cast("double"))
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("cos_sim"))
      .orderBy("label_a", "label_b")
  }

  private val centroidSimSql =
    """WITH comp AS (
      |  SELECT label, j,
      |         CAST(round(embedding[j]::DOUBLE, 6) AS DECIMAL(20,6)) AS v
      |  FROM embeddings,
      |       (SELECT unnest(generate_series(1, 64)) AS j)),
      |cent AS (
      |  SELECT label, j,
      |         floor(CAST(sum(v) AS DOUBLE) / count(*) * 1000000.0 + 0.5)
      |           / 1000000.0 AS m
      |  FROM comp GROUP BY label, j),
      |dots AS (
      |  SELECT a.label AS label_a, b.label AS label_b,
      |         CAST(sum(CAST(floor(a.m * b.m * 1000000000000.0 + 0.5)
      |                       AS BIGINT)) AS BIGINT) AS sdot
      |  FROM cent a JOIN cent b ON a.j = b.j AND a.label < b.label
      |  GROUP BY 1, 2),
      |norms AS (
      |  SELECT label,
      |         CAST(sum(CAST(floor(m * m * 1000000000000.0 + 0.5)
      |                       AS BIGINT)) AS BIGINT) AS s2
      |  FROM cent GROUP BY 1)
      |SELECT d.label_a, d.label_b,
      |       floor(CAST(d.sdot AS DOUBLE)
      |             / sqrt(CAST(na.s2 AS DOUBLE) * CAST(nb.s2 AS DOUBLE))
      |             * 10000.0 + 0.5) / 10000.0 AS cos_sim
      |FROM dots d
      |JOIN norms na ON d.label_a = na.label
      |JOIN norms nb ON d.label_b = nb.label
      |ORDER BY label_a, label_b""".stripMargin

  /** Embedding SPLIT-BALANCE audit: per label, the cosine between the
    * train-half and test-half centroids under the engine's deterministic
    * md5 split (q_hash_split's assignment) — cos ≈ 1 means the split
    * left each class's embedding mass balanced; a low-cos label warns
    * that eval metrics for that class won't transfer. The drift monitor
    * for EMBEDDING space, complementing [[Profiling.driftPsi]] /
    * q_ks_test which watch scalar features.
    *
    * Same exactness machinery as [[centroidSim]]: DECIMAL component
    * sums per (label, split, dim), 6-dp means, 1e-12-unit BIGINT
    * dot/norm sums — the scale cancels in the cosine. One corpus scan;
    * everything after is (label × split × 64)-cardinality. */
  def centroidDrift(s: SparkSession, dir: String): DataFrame = {
    val cent = corpus(s, dir)
      .withColumn("split",
        when(substring(md5(col("vec_id").cast("string")), 32, 1) < "4",
          "test").otherwise("train"))
      .select(col("label"), col("split"), posexplode(col("emb")))
      .toDF("label", "split", "j", "v")
      .groupBy("label", "split", "j")
      .agg(count(lit(1)).as("n"),
        sum(round(col("v"), 6)
          .cast(org.apache.spark.sql.types.DecimalType(20, 6))).as("sv"))
      .select(col("label"), col("split"), col("j"), col("n"),
        (floor(col("sv").cast("double") / col("n") * lit(1000000.0d)
          + lit(0.5d)) / lit(1000000.0d)).as("m"))
      .cache()
    val t = cent.filter(col("split") === "train")
      .select(col("label"), col("j"), col("m").as("mt"), col("n").as("nt"))
    val e = cent.filter(col("split") === "test")
      .select(col("label"), col("j"), col("m").as("me"), col("n").as("ne"))
    t.join(e, Seq("label", "j"))
      .groupBy("label")
      .agg(max("nt").as("n_train"), max("ne").as("n_test"),
        sum(floor(col("mt") * col("me") * lit(1.0e12d) + lit(0.5d))).as("sdot"),
        sum(floor(col("mt") * col("mt") * lit(1.0e12d) + lit(0.5d))).as("s2t"),
        sum(floor(col("me") * col("me") * lit(1.0e12d) + lit(0.5d))).as("s2e"))
      .select(col("label"), col("n_train"), col("n_test"),
        (floor(col("sdot").cast("double")
          / sqrt(col("s2t").cast("double") * col("s2e").cast("double"))
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("cos_sim"))
      .orderBy("label")
  }

  private val centroidDriftSql =
    """WITH comp AS (
      |  SELECT label,
      |         CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 32, 1) < '4'
      |              THEN 'test' ELSE 'train' END AS split,
      |         j, CAST(round(embedding[j]::DOUBLE, 6) AS DECIMAL(20,6)) AS v
      |  FROM embeddings,
      |       (SELECT unnest(generate_series(1, 64)) AS j)),
      |cent AS (
      |  SELECT label, split, j, count(*) AS n,
      |         floor(CAST(sum(v) AS DOUBLE) / count(*) * 1000000.0 + 0.5)
      |           / 1000000.0 AS m
      |  FROM comp GROUP BY label, split, j),
      |joined AS (
      |  SELECT t.label, t.n AS nt, e.n AS ne,
      |         CAST(floor(t.m * e.m * 1000000000000.0 + 0.5) AS BIGINT) AS p,
      |         CAST(floor(t.m * t.m * 1000000000000.0 + 0.5) AS BIGINT) AS at,
      |         CAST(floor(e.m * e.m * 1000000000000.0 + 0.5) AS BIGINT) AS ae
      |  FROM (SELECT * FROM cent WHERE split = 'train') t
      |  JOIN (SELECT * FROM cent WHERE split = 'test') e
      |    ON t.label = e.label AND t.j = e.j)
      |SELECT label,
      |       CAST(max(nt) AS BIGINT) AS n_train,
      |       CAST(max(ne) AS BIGINT) AS n_test,
      |       floor(CAST(sum(p) AS DOUBLE)
      |             / sqrt(CAST(sum(at) AS DOUBLE) * CAST(sum(ae) AS DOUBLE))
      |             * 10000.0 + 0.5) / 10000.0 AS cos_sim
      |FROM joined GROUP BY label ORDER BY label""".stripMargin

  /** ANN self-evaluation: recall@5 of the LSH index path against the
    * brute-force ground truth — the metric a production vector store
    * reports before anyone trusts it. Both sides are THIS engine's own
    * oracle-checked queries composed (the index probe and the exact scan),
    * so the single recall number is itself hash-checked end to end. The
    * ground-truth side is the expensive half; at 100 TB it runs on a
    * sampled query set exactly like this (one query here). */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    val ann = annLsh(s, dir).select("vec_id")
    val bf = bruteTruth(s, dir)
      .filter(col("q_id") === 0 && col("rn") <= 5)
      .select("vec_id")
    ann.join(bf, Seq("vec_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .select(lit(5).as("k"), col("n_overlap"),
        Fmt.fix4(col("n_overlap") / 5.0).as("recall"))
  }

  private val annRecallSql =
    s"""SELECT 5 AS k, count(*) AS n_overlap,
       |       floor(count(*) / 5.0 * 10000.0 + 0.5) / 10000.0 AS recall
       |FROM ($annLshSql) ann
       |JOIN (SELECT * FROM ($bruteTopKSql)
       |      ORDER BY cos_sim DESC, vec_id LIMIT 5) bf
       |  ON ann.vec_id = bf.vec_id""".stripMargin

  /** Int8 scalar-quantized similarity: each vector is normalized and
    * quantized to 64 small integers (`floor(x / nrm * 127 + 0.5)` — pure
    * IEEE ops, so both engines produce the same codes), candidates rank by
    * the INTEGER dot product of the codes, and only the displayed rows are
    * rescored with the exact float cosine.
    *
    * This is the memory/IO half of the ANN story ([[annLsh]] is the
    * partition-pruning half): at 10^9+ vectors the quantized codes are 4×
    * smaller than float32 (16× vs the double math), the scan streams int8
    * arithmetic instead of FP, and — because the ranking key is an exact
    * integer — the top-k is fully deterministic with a vec_id tiebreak, no
    * float-tie ambiguity at all. The exact rescore touches only k rows.
    * Ranking fidelity vs true cosine is asserted in SimilarityTrainingSpec
    * rather than assumed. */
  def quantizedTopK(s: SparkSession, dir: String): DataFrame = {
    val e = corpus(s, dir)
      .withColumn("qv",
        expr("transform(emb, x -> cast(floor(x / nrm * 127.0d + 0.5d) as double))"))
    val q = e.filter(col("vec_id") === 0)
      .select(col("qv").as("q_qv"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    e.filter(col("vec_id") =!= 0)
      .join(broadcast(q))
      .select(col("vec_id"), col("label"),
        expr(s"cast(${VectorFns.dotSql("qv", "q_qv")} as bigint)")
          .as("q_dot"),
        Fmt.fix4(VectorFns.cosineWithNorms("emb", "q_emb", "nrm", "q_nrm"))
          .as("cos_sim"))
      .orderBy(col("q_dot").desc, col("vec_id").asc)
      .limit(10)
  }

  private val quantizedTopKSql =
    """WITH e AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
      |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings),
      |qz AS (
      |  SELECT vec_id, label, emb, nrm,
      |         list_transform(emb, x -> floor(x / nrm * 127.0 + 0.5)) AS qv
      |  FROM e),
      |q AS (SELECT qv AS q_qv, emb AS q_emb, nrm AS q_nrm FROM qz
      |      WHERE vec_id = 0)
      |SELECT vec_id, label,
      |       CAST(list_dot_product(qv, q_qv) AS BIGINT) AS q_dot,
      |       floor(list_dot_product(emb, q_emb) / (nrm * q_nrm) * 10000.0 + 0.5) / 10000.0 AS cos_sim
      |FROM qz, q
      |WHERE vec_id <> 0
      |ORDER BY q_dot DESC, vec_id LIMIT 10""".stripMargin

  /** Two-stage shortlist size: stage 1 keeps this many candidates. */
  private val RERANK_C = 50
  private val MMR_C = 20
  private val MMR_K = 5

  /** MMR — Maximal Marginal Relevance diverse top-k (Carbonell &
    * Goldstein, SIGIR'98): greedily pick the candidate maximizing
    * relevance-to-query MINUS its max similarity to the already-picked
    * set (λ = 1/2 up to the argmax-invariant affine form rel − maxsim),
    * the de-dup-at-serving-time ranker every RAG retriever runs so five
    * near-identical passages don't fill the context window.
    *
    * Scale shape: stage 1 cuts a [[MMR_C]]-candidate shortlist by exact
    * cosine (TakeOrdered, O(C) driver memory); the C×C pairwise cosine
    * matrix and the [[MMR_K]]-round greedy run on the DRIVER over
    * model-sized state (≤ C² fixed-point ints — the PQ/Lloyd
    * precedent). All keys are integer-exact (1e-4 fixed cosines), so
    * selection order is deterministic and the oracle replays the greedy
    * as unrolled MATERIALIZED rounds. */
  def mmrTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = corpus(s, dir)
    val q = e.filter(col("vec_id") === 0)
      .select(col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val short = e.filter(col("vec_id") =!= 0)
      .join(broadcast(q))
      .select(col("vec_id"), col("label"), col("emb"), col("nrm"),
        floor(VectorFns.cosineWithNorms("emb", "q_emb", "nrm", "q_nrm")
          * lit(10000.0d) + lit(0.5d)).cast("long").as("rel4"))
      .orderBy(col("rel4").desc, col("vec_id").asc).limit(MMR_C)
    val pair = short.as("a").join(short.as("b"),
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        floor(VectorFns.cosineWithNorms("a.emb", "b.emb", "a.nrm", "b.nrm")
          * lit(10000.0d) + lit(0.5d)).cast("long").as("s4"))
    val cands = short.select("vec_id", "label", "rel4").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val sims = pair.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val picked = scala.collection.mutable.ArrayBuffer[(Long, Long, Int, Long)]()
    val left = scala.collection.mutable.LinkedHashSet(cands.toIndexedSeq: _*)
    while (picked.size < MMR_K && left.nonEmpty) {
      val scoredCands = left.toSeq.map { case c @ (vid, _, rel4) =>
        val maxSim =
          if (picked.isEmpty) 0L
          else picked.map(p => sims((vid, p._2))).max
        (rel4 - maxSim, c)
      }
      val (score4, best) =
        scoredCands.minBy { case (sc, (vid, _, _)) => (-sc, vid) }
      picked += ((picked.size + 1L, best._1, best._2, score4))
      left -= best
    }
    picked.toSeq
      .map { case (rk, vid, lb, sc4) =>
        val rel4 = cands.find(_._1 == vid).get._3
        (rk, vid, lb, rel4 / 10000.0d, sc4 / 10000.0d)
      }
      .toDF("rank", "vec_id", "label", "rel", "mmr")
      .orderBy("rank")
  }

  private val mmrTopKSql = {
    val rounds = (2 to MMR_K).map { k =>
      s"""s$k AS MATERIALIZED (
         |  SELECT c.vec_id, c.label, c.rel4,
         |         c.rel4 - max(p.s4) AS score4, $k AS rnk
         |  FROM short c
         |  JOIN p ON p.va = c.vec_id
         |  JOIN sel${k - 1} s ON p.vb = s.vec_id
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${k - 1})
         |  GROUP BY c.vec_id, c.label, c.rel4
         |  ORDER BY score4 DESC, c.vec_id LIMIT 1),
         |sel$k AS MATERIALIZED (
         |  SELECT vec_id, label, rel4, score4, rnk FROM sel${k - 1}
         |  UNION ALL SELECT vec_id, label, rel4, score4, rnk FROM s$k)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings),
       |q AS (SELECT emb AS q_emb, nrm AS q_nrm FROM e WHERE vec_id = 0),
       |short AS MATERIALIZED (
       |  SELECT vec_id, label, emb, nrm,
       |         CAST(floor(list_dot_product(emb, q_emb) / (nrm * q_nrm)
       |                    * 10000.0 + 0.5) AS BIGINT) AS rel4
       |  FROM e, q WHERE vec_id <> 0
       |  ORDER BY rel4 DESC, vec_id LIMIT $MMR_C),
       |p AS MATERIALIZED (
       |  SELECT a.vec_id AS va, b.vec_id AS vb,
       |         CAST(floor(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm)
       |                    * 10000.0 + 0.5) AS BIGINT) AS s4
       |  FROM short a JOIN short b ON a.vec_id <> b.vec_id),
       |sel1 AS MATERIALIZED (
       |  SELECT vec_id, label, rel4, rel4 AS score4, 1 AS rnk
       |  FROM short ORDER BY rel4 DESC, vec_id LIMIT 1),
       |$rounds
       |SELECT CAST(rnk AS BIGINT) AS rank, vec_id, label,
       |       CAST(rel4 AS DOUBLE) / 10000.0 AS rel,
       |       CAST(score4 AS DOUBLE) / 10000.0 AS mmr
       |FROM sel$MMR_K ORDER BY rank""".stripMargin
  }

  /** TWO-STAGE RETRIEVAL — the pattern every production ANN service runs
    * ([[quantizedTopK]] is stage 1 alone, [[topkCosine]] is the exact
    * answer): stage 1 ranks the corpus by the CHEAP int8-quantized
    * integer dot and cuts a [[RERANK_C]]-candidate shortlist
    * (TakeOrdered — O(C) driver memory, integer-deterministic order);
    * stage 2 rescores ONLY the shortlist with the exact float cosine and
    * returns the top 5, alongside the shortlist's measured recall of the
    * brute-force top 5 — the self-eval a rerank depth is tuned against.
    *
    * Scale shape: the corpus is touched by stage 1's streaming int8 scan
    * (4× smaller codes, no FP) and by the recall census's exact scan;
    * the exact FLOAT work of the answer path touches C = 50 rows. All
    * ranking keys are cross-engine exact (integer dot; list_dot_product
    * sequential fold), windows run over ≤C-row frames. */
  def simRerank(s: SparkSession, dir: String): DataFrame = {
    val wAll = org.apache.spark.sql.expressions.Window
    val e = corpus(s, dir)
      .withColumn("qv",
        expr("transform(emb, x -> cast(floor(x / nrm * 127.0d + 0.5d) as double))"))
    val q = e.filter(col("vec_id") === 0)
      .select(col("qv").as("q_qv"), col("emb").as("q_emb"),
        col("nrm").as("q_nrm"))
    val shortlist = e.filter(col("vec_id") =!= 0)
      .join(broadcast(q))
      .select(col("vec_id"), col("label"), col("emb"), col("nrm"),
        col("q_emb"), col("q_nrm"),
        expr(s"cast(${VectorFns.dotSql("qv", "q_qv")} as bigint)")
          .as("q_dot"))
      .orderBy(col("q_dot").desc, col("vec_id").asc).limit(RERANK_C)
    val reranked = shortlist.select(col("vec_id"), col("label"),
      VectorFns.cosineWithNorms("emb", "q_emb", "nrm", "q_nrm").as("cos"))
    val brute5 = e.filter(col("vec_id") =!= 0)
      .join(broadcast(q))
      .select(col("vec_id"),
        VectorFns.cosineWithNorms("emb", "q_emb", "nrm", "q_nrm").as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc).limit(5)
      .select("vec_id")
    val recall = brute5
      .join(broadcast(shortlist.select("vec_id")), Seq("vec_id"), "left_semi")
      .agg((count(lit(1)).cast("double") / lit(5.0d))
        .as("shortlist_recall5"))
    reranked.orderBy(col("cos").desc, col("vec_id").asc).limit(5)
      .withColumn("rank", row_number().over(
        wAll.orderBy(col("cos").desc, col("vec_id").asc)).cast("long"))
      .crossJoin(broadcast(recall))
      .select(col("rank"), col("vec_id"), col("label"),
        Fmt.fix4(col("cos")).as("cos_sim"), col("shortlist_recall5"))
      .orderBy("rank")
  }

  private val simRerankSql =
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings),
       |qz AS MATERIALIZED (
       |  SELECT vec_id, label, emb, nrm,
       |         list_transform(emb, x -> floor(x / nrm * 127.0 + 0.5)) AS qv
       |  FROM e),
       |q AS MATERIALIZED (
       |  SELECT qv AS q_qv, emb AS q_emb, nrm AS q_nrm FROM qz
       |  WHERE vec_id = 0),
       |short AS MATERIALIZED (
       |  SELECT vec_id, label, emb, nrm FROM (
       |    SELECT qz.vec_id, qz.label, qz.emb, qz.nrm,
       |           row_number() OVER (
       |             ORDER BY CAST(list_dot_product(qv, q_qv) AS BIGINT) DESC,
       |                      vec_id) AS rn
       |    FROM qz, q WHERE vec_id <> 0)
       |  WHERE rn <= $RERANK_C),
       |rr AS (
       |  SELECT vec_id, label,
       |         list_dot_product(emb, q_emb) / (nrm * q_nrm) AS cos
       |  FROM short, q),
       |brute AS (
       |  SELECT vec_id FROM (
       |    SELECT e.vec_id,
       |           row_number() OVER (
       |             ORDER BY list_dot_product(emb, q_emb) / (nrm * q_nrm)
       |               DESC, vec_id) AS rn
       |    FROM e, q WHERE vec_id <> 0)
       |  WHERE rn <= 5),
       |rec AS (
       |  SELECT CAST(count(*) AS DOUBLE) / 5.0 AS shortlist_recall5
       |  FROM brute b JOIN short s ON b.vec_id = s.vec_id)
       |SELECT rank, vec_id, label, floor(cos * 10000.0 + 0.5) / 10000.0 AS cos_sim,
       |       shortlist_recall5
       |FROM (SELECT vec_id, label, cos,
       |             CAST(row_number() OVER (ORDER BY cos DESC, vec_id)
       |               AS BIGINT) AS rank
       |      FROM rr) CROSS JOIN rec
       |WHERE rank <= 5 ORDER BY rank""".stripMargin

  /** RRF constant (the standard 60 from the original reciprocal-rank
    * fusion paper) and per-side candidate depth. */
  private val RRF_K = 60
  private val RRF_DEPTH = 20

  /** Hybrid retrieval: fuse the BM25 keyword ranking with the dense
    * cosine ranking by reciprocal-rank fusion — score(d) =
    * Σ_sides 1/(60 + rank_side(d)) — the standard way a lake serves
    * "keyword AND semantic" search without calibrating score scales
    * against each other (only RANKS cross the fence, never raw scores).
    *
    * Scale shape: each side is its own already-scaled pipeline
    * (posting-bounded BM25, broadcast-query cosine scan) cut to a
    * TakeOrdered top-20 — the fusion then joins two ≤20-row frames, so
    * ranking windows only ever see constant-size inputs. Determinism:
    * both side ranks order by (rounded score desc, doc_id), and fusion
    * ties (rank-pair permutations sum identically) break on doc_id. */
  def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    val wAll = org.apache.spark.sql.expressions.Window
    val bmTop = TextAnalysis.bm25Scored(s, dir)
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(RRF_DEPTH)
      .withColumn("bm25_rank", row_number().over(
        wAll.orderBy(col("bm25").desc, col("doc_id").asc)).cast("long"))
      .select("doc_id", "bm25_rank")
    val e = corpus(s, dir)
    val q = e.filter(col("vec_id") === 0)
      .select(col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val csTop = e.filter(col("vec_id") =!= 0)
      .join(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        Fmt.fix4(VectorFns.cosineWithNorms("emb", "q_emb", "nrm", "q_nrm"))
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("doc_id").asc).limit(RRF_DEPTH)
      .withColumn("cos_rank", row_number().over(
        wAll.orderBy(col("cos_sim").desc, col("doc_id").asc)).cast("long"))
      .select("doc_id", "cos_rank")
    bmTop.join(csTop, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0d) / (lit(RRF_K.toDouble) + col("bm25_rank")), lit(0.0d)) +
          coalesce(lit(1.0d) / (lit(RRF_K.toDouble) + col("cos_rank")), lit(0.0d)))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(10)
      .select(col("doc_id"), col("bm25_rank"), col("cos_rank"),
        Fmt.fix6(col("rrf")).as("rrf"))
  }

  /** Rank-biased overlap (RBO, Webber et al.) between the engine's two
    * checked rankers — the keyword (BM25) and dense (cosine) top-20
    * lists — the ranker-agreement metric a hybrid-retrieval operator
    * (q_hybrid_rrf) is tuned against: top-weighted, defined on
    * non-conjoint lists, unlike Kendall/Spearman.
    *
    * p = 1/2 is the dyadic choice that makes the truncated form EXACT:
    * weights (1−p)·p^{d−1} = 2^{−d}, so each agreement A_d =
    * overlap@d / d rounds once to 1e-6 units ((2·ov·1e6 + d) div 2d) and
    * the weighted sum is a plain BIGINT dot with powers of two — one
    * final exactly-rounded shift recovers the score. Truncated at
    * depth 20 (the residual-extrapolation variant needs p^∞ tails that
    * no second engine reproduces bit-for-bit; truncation is the
    * documented, deterministic choice).
    *
    * Scale posture: both inputs are the already-bounded top-20 frames;
    * everything after is constant-size arithmetic. */
  def rankBiasedOverlap(s: SparkSession, dir: String): DataFrame = {
    val wAll = org.apache.spark.sql.expressions.Window
    val bmTop = TextAnalysis.bm25Scored(s, dir)
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(RRF_DEPTH)
      .withColumn("br", row_number().over(
        wAll.orderBy(col("bm25").desc, col("doc_id").asc)).cast("long"))
      .select("doc_id", "br")
    val e = corpus(s, dir)
    val q = e.filter(col("vec_id") === 0)
      .select(col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val csTop = e.filter(col("vec_id") =!= 0)
      .join(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        Fmt.fix4(VectorFns.cosineWithNorms("emb", "q_emb", "nrm", "q_nrm"))
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("doc_id").asc).limit(RRF_DEPTH)
      .withColumn("cr", row_number().over(
        wAll.orderBy(col("cos_sim").desc, col("doc_id").asc)).cast("long"))
      .select("doc_id", "cr")
    rboOf(s, bmTop.join(csTop, "doc_id").select(col("br"), col("cr")))
  }

  /** RBO tail over the joined rank pairs (br, cr) — one row per doc
    * present in BOTH top-[[RRF_DEPTH]] lists. A pair counts toward every
    * depth ≥ max(br, cr); the LEFT join keeps all depths alive when the
    * intersection is EMPTY (disjoint top-k lists are a legal input — RBO
    * is defined on non-conjoint lists, and a dropped depth row would
    * null the output). */
  private[graft] def rboOf(s: SparkSession, pairs: DataFrame): DataFrame = {
    val joint = pairs.select(greatest(col("br"), col("cr")).as("m"))
    val depths = s.range(1, RRF_DEPTH + 1).select(col("id").as("d"))
    val ov = depths.join(broadcast(joint), col("m") <= col("d"), "left")
      .groupBy("d")
      .agg(sum(when(col("m").isNotNull, 1L).otherwise(0L)).as("ovd"))
    ov.withColumn("term6", expr("(2L * ovd * 1000000L + d) div (2L * d)"))
      .withColumn("w", expr(s"shiftleft(1L, ${RRF_DEPTH} - cast(d as int))"))
      .agg(sum(expr("term6 * w")).as("acc"),
        max(when(col("d") === RRF_DEPTH, col("ovd"))).as("ov_k"))
      .select(lit(RRF_DEPTH.toLong).as("depth"), col("ov_k"),
        (expr(s"((2L * acc + shiftleft(1L, $RRF_DEPTH)) div " +
          s"shiftleft(1L, ${RRF_DEPTH + 1}) + 50L) div 100L")
          .cast("double") / lit(10000.0d)).as("rbo"))
  }

  private val rankBiasedOverlapSql =
    s"""WITH bm AS (${TextAnalysis.bm25ScoredSql}),
       |bmr AS (
       |  SELECT doc_id,
       |         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS br
       |  FROM bm
       |  QUALIFY br <= $RRF_DEPTH),
       |e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS emb,
       |         sqrt(list_dot_product(embedding::DOUBLE[],
       |              embedding::DOUBLE[])) AS nrm
       |  FROM embeddings),
       |q AS (SELECT emb AS q_emb, nrm AS q_nrm FROM e WHERE vec_id = 0),
       |cs AS (
       |  SELECT vec_id AS doc_id,
       |         floor(list_dot_product(emb, q_emb) / (nrm * q_nrm) * 10000.0 + 0.5) / 10000.0
       |           AS cos_sim
       |  FROM e, q WHERE vec_id <> 0),
       |csr AS (
       |  SELECT doc_id,
       |         row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS cr
       |  FROM cs
       |  QUALIFY cr <= $RRF_DEPTH),
       |j AS (SELECT b.br, c.cr FROM bmr b JOIN csr c USING (doc_id)),
       |ds AS (SELECT CAST(unnest(range(1, ${RRF_DEPTH + 1})) AS BIGINT)
       |         AS d),
       |ov AS (
       |  SELECT d.d,
       |         CAST(coalesce(sum(CASE WHEN j.br <= d.d AND j.cr <= d.d
       |           THEN 1 ELSE 0 END), 0) AS BIGINT) AS ovd
       |  FROM ds d LEFT JOIN j ON true GROUP BY d.d),
       |acc AS (
       |  SELECT CAST(sum(((2 * ovd * 1000000 + d) // (2 * d))
       |           * (1 << ($RRF_DEPTH - CAST(d AS INTEGER)))) AS BIGINT)
       |           AS acc,
       |         CAST(max(CASE WHEN d = $RRF_DEPTH THEN ovd END) AS BIGINT)
       |           AS ov_k
       |  FROM ov)
       |SELECT CAST($RRF_DEPTH AS BIGINT) AS depth, ov_k,
       |       CAST(((2 * acc + (1 << $RRF_DEPTH))
       |             // (1 << ${RRF_DEPTH + 1}) + 50) // 100 AS DOUBLE)
       |         / 10000.0 AS rbo
       |FROM acc""".stripMargin

  /** Multi-probe ANN over the SAME ingest-time band index: besides the
    * query's own 4 (band, nibble) buckets, probe every nibble at hamming
    * distance 1 (4 bands × 4 flips) — 20 partition-pruned buckets instead
    * of 4, with NO extra index tables (the classic multi-probe trade:
    * probes are cheaper than index copies).
    *
    * The widened probe set is provably LOSSLESS to hamming ≤ 7: eight or
    * more flips are needed for every one of the 4 disjoint 4-bit bands to
    * differ in ≥2 positions, so at ≤7 some band matches exactly or at
    * distance 1 — which flip-1 probing reaches. The DuckDB oracle
    * therefore stays the simple hamming-≤7 scan over all vectors, and
    * banding can never silently drop a qualifying row. */
  def annLshMultiprobe(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureLshTable(s, dir)
    val e = corpus(s, dir)
      .withColumn("sig", expr(VectorFns.lshSignatureSql("emb", BITS, DIM)))
    val qv = e.filter(col("vec_id") === 0)
    // a nibble and its 4 one-bit flips are 5 distinct values, so the
    // 20 (band, nib) probes are distinct without a dedup
    val probes = qv.select(bandNibs(col("sig"))).toDF("band", "nib")
      .select(col("band"), explode(array(
        (col("nib") +: (0 until LSH_BAND_BITS).map(bit =>
          col("nib").bitwiseXOR(lit(1L << bit)))): _*)).as("nib"))
    val q = qv.select(col("emb").as("q_emb"), col("nrm").as("q_nrm"),
      col("sig").as("q_sig"))
    s.table(tbl)
      .join(broadcast(probes), Seq("band", "nib"))
      .filter(col("vec_id") =!= 0)
      .join(broadcast(q))
      .filter(col("band") === firstCollidingBand(
        col("sig").bitwiseXOR(col("q_sig")), bit_count(_) <= 1))
      .withColumn("hamming", expr("bit_count(sig ^ q_sig)").cast("long"))
      .filter(col("hamming") <= 7)
      .select(col("vec_id"), col("label"), col("hamming"),
        Fmt.fix4(VectorFns.cosineWithNorms("emb", "q_emb", "nrm", "q_nrm"))
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(5)
  }

  private val annLshMultiprobeSql = annLshSqlAt(7)

  private val hybridRrfSql =
    s"""WITH bm AS (${TextAnalysis.bm25ScoredSql}),
       |bmr AS (
       |  SELECT doc_id,
       |         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS bm25_rank
       |  FROM bm
       |  QUALIFY bm25_rank <= $RRF_DEPTH),
       |e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS emb,
       |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings),
       |q AS (SELECT emb AS q_emb, nrm AS q_nrm FROM e WHERE vec_id = 0),
       |cs AS (
       |  SELECT vec_id AS doc_id,
       |         floor(list_dot_product(emb, q_emb) / (nrm * q_nrm) * 10000.0 + 0.5) / 10000.0
       |           AS cos_sim
       |  FROM e, q WHERE vec_id <> 0),
       |csr AS (
       |  SELECT doc_id,
       |         row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS cos_rank
       |  FROM cs
       |  QUALIFY cos_rank <= $RRF_DEPTH),
       |fused AS (
       |  SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
       |         b.bm25_rank, c.cos_rank,
       |         coalesce(1.0 / ($RRF_K.0 + b.bm25_rank), 0.0)
       |           + coalesce(1.0 / ($RRF_K.0 + c.cos_rank), 0.0) AS rrf
       |  FROM bmr b FULL OUTER JOIN csr c ON b.doc_id = c.doc_id)
       |SELECT doc_id, bm25_rank, cos_rank, floor(rrf * 1000000.0 + 0.5) / 1000000.0 AS rrf
       |FROM fused
       |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin

  /** NDCG@5 of the LSH ANN probe against brute-force ground truth — the
    * rank-aware complement of [[annRecall]] (recall says "how many of the
    * true neighbors came back"; NDCG says "in how good an order"). Graded
    * relevance = 6 − true rank for the true top-5, 0 otherwise;
    * DCG = Σ rel_i / log2(i+1) over the ANN's returned order.
    *
    * FP discipline: each DCG term rounds to 6 decimals and sums as
    * DECIMAL(20,6) (merge-order-free), and the final DCG/IDCG quotient is
    * floor-rounded — same portability rules as every derived division.
    * Both frames are ≤5 rows, so the ranking windows are constant-size. */
  def annNdcg(s: SparkSession, dir: String): DataFrame = {
    val wAll = org.apache.spark.sql.expressions.Window
    val truth = bruteTruth(s, dir)
      .filter(col("q_id") === 0 && col("rn") <= 5)
      .select(col("vec_id"), (lit(6L) - col("rn")).cast("long").as("rel"),
        col("rn").as("t_rank"))
    val ann = annLsh(s, dir)
      .withColumn("a_rank", row_number().over(
        wAll.orderBy(col("cos_sim").desc, col("vec_id").asc)))
      .select("vec_id", "a_rank")
    val dcg = ann.join(truth.select("vec_id", "rel"), Seq("vec_id"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0L)))
      .withColumn("term",
        Fmt.fix6(col("rel") / log2(col("a_rank") + lit(1.0d)))
          .cast("decimal(20,6)"))
      .agg(sum("term").as("dcg"))
    val idcg = truth
      .withColumn("term",
        Fmt.fix6(col("rel") / log2(col("t_rank") + lit(1.0d)))
          .cast("decimal(20,6)"))
      .agg(sum("term").as("idcg"))
    dcg.crossJoin(idcg)
      .select(lit(5L).as("k"),
        col("dcg").cast("double").as("dcg"),
        col("idcg").cast("double").as("idcg"),
        (floor(col("dcg").cast("double") / col("idcg").cast("double")
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("ndcg"))
  }

  private val annNdcgSql =
    s"""WITH truth AS (
       |  SELECT vec_id, 6 - t_rank AS rel, t_rank FROM (
       |    SELECT vec_id, cos_sim,
       |           row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS t_rank
       |    FROM ($bruteTopKSql)
       |    QUALIFY t_rank <= 5)),
       |ann AS (
       |  SELECT vec_id,
       |         row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS a_rank
       |  FROM ($annLshSql)),
       |dcg AS (
       |  SELECT sum(CAST(floor(coalesce(t.rel, 0) / log2(a.a_rank + 1.0) * 1000000.0 + 0.5) / 1000000.0
       |                  AS DECIMAL(20,6))) AS dcg
       |  FROM ann a LEFT JOIN truth t ON a.vec_id = t.vec_id),
       |idcg AS (
       |  SELECT sum(CAST(floor(rel / log2(t_rank + 1.0) * 1000000.0 + 0.5) / 1000000.0
       |                  AS DECIMAL(20,6))) AS idcg
       |  FROM truth)
       |SELECT CAST(5 AS BIGINT) AS k,
       |       CAST(dcg AS DOUBLE) AS dcg, CAST(idcg AS DOUBLE) AS idcg,
       |       floor(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE)
       |             * 10000.0 + 0.5) / 10000.0 AS ndcg
       |FROM dcg, idcg""".stripMargin

  /** Semi-supervised KNN label propagation: hide every 5th vector's label,
    * predict it as the majority label of its labeled KNN-graph neighbors
    * (ties break to the smallest label), and report coverage + accuracy
    * against the hidden truth — the standard "label the unlabeled 99% of
    * the corpus from the curated 1%" bootstrap, composed from the
    * oracle-checked [[knnJoin]] graph.
    *
    * Scale shape: the KNN self-join is the heavy part and is already
    * banded with a partial-limit top-k; voting adds one (vec_id,
    * label)-keyed aggregate and a per-vec_id window over ≤ |labels| vote
    * rows. The census is one row.
    *
    * On the HARNESS fixture the reported accuracy is chance-level
    * (~1/|labels|) by construction: the synthetic embeddings carry no
    * label signal (measured same-label vs cross-label mean cosine ≈ 0.009
    * vs −0.004), so the honest readout of this eval is "no signal". The
    * mechanics — majority vote recovers labels when neighbors ARE
    * label-clustered — are proven on a planted corpus in
    * SimilarityTrainingSpec. */
  def labelProp(s: SparkSession, dir: String): DataFrame =
    labelPropFrom(
      knnJoin(s, dir),
      Tables.embeddings(s, dir).select(col("vec_id").as("id"), col("label")))

  /** Core of [[labelProp]] over an explicit KNN graph + label table —
    * separated so planted-fixture specs can drive it directly. */
  private[graft] def labelPropFrom(knn: DataFrame,
                                   labels: DataFrame): DataFrame = {
    val votes = knn
      .filter(pmod(col("vec_id"), lit(5L)) === 0)
      .join(labels.filter(pmod(col("id"), lit(5L)) =!= 0),
        col("nb_id") === col("id"))
      .groupBy("vec_id", "label").agg(count(lit(1)).as("votes"))
    val byVec = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id")
      .orderBy(col("votes").desc, col("label").asc)
    val pred = votes.withColumn("rn", row_number().over(byVec))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("label").as("predicted"))
    val held = labels.filter(pmod(col("id"), lit(5L)) === 0)
      .agg(count(lit(1)).as("n_heldout"))
    pred.join(labels, pred("vec_id") === labels("id"))
      .agg(count(lit(1)).as("n_predicted"),
        sum((col("predicted") === col("label")).cast("long")).as("n_correct"))
      .crossJoin(broadcast(held))
      .select(col("n_heldout"), col("n_predicted"), col("n_correct"),
        (floor(col("n_correct").cast("double") / col("n_predicted")
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("accuracy"))
  }

  private def labelPropSql =
    s"""WITH knn AS ($knnJoinSql),
       |lab AS (SELECT vec_id AS id, label FROM embeddings),
       |votes AS (
       |  SELECT k.vec_id, l.label, count(*) AS votes
       |  FROM knn k JOIN lab l ON k.nb_id = l.id AND l.id % 5 <> 0
       |  WHERE k.vec_id % 5 = 0
       |  GROUP BY 1, 2),
       |pred AS (
       |  SELECT vec_id, label AS predicted FROM (
       |    SELECT vec_id, label,
       |           row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY votes DESC, label) AS rn
       |    FROM votes)
       |  WHERE rn = 1),
       |held AS (SELECT count(*) AS n_heldout FROM lab WHERE id % 5 = 0)
       |SELECT h.n_heldout, count(*) AS n_predicted,
       |       CAST(sum(CASE WHEN p.predicted = l.label THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_correct,
       |       floor(CAST(sum(CASE WHEN p.predicted = l.label THEN 1 ELSE 0 END)
       |                  AS DOUBLE) / count(*) * 10000.0 + 0.5) / 10000.0
       |         AS accuracy
       |FROM pred p JOIN lab l ON p.vec_id = l.id CROSS JOIN held h
       |GROUP BY h.n_heldout""".stripMargin

  /** MRR of the batched LSH probe against brute-force ground truth — the
    * "how fast does the user hit THE right answer" complement of
    * [[annNdcg]] (graded list quality) and [[annRecall]] (set overlap):
    * per query, the reciprocal of the rank at which the probe returns
    * the true nearest neighbor, 0 when it misses; averaged over the
    * batch. Both rankings reuse the batch operators: the truth and the
    * probe rows come off the [[batchMemo]], so a warm run is one
    * partition-pruned index probe and no corpus scan. A miss adds 0 to
    * the sum, so only the probe's hits matter: they inner-join the
    * broadcast truth (≤ QBATCH rows) and the query count is the memo's
    * — no outer join, no exchange on the truth. Reciprocal ranks are
    * floor-fixed to 6 dp and summed as DECIMAL(20,6) (order-free) before
    * the single final division. */
  def annMrr(s: SparkSession, dir: String): DataFrame = {
    val truthRows = batchMemo(s, dir)._1
    val nQueries = truthRows.rows.count(_.getAs[Long]("rn") == 1L).toLong
    val truth = truthRows.toDF(s).filter(col("rn") === 1)
      .select(col("q_id"), col("vec_id"))
    val hits = annLshBatch(s, dir)
      .select(col("q_id"), col("vec_id"), col("rn").as("a_rank"))
      .join(broadcast(truth), Seq("q_id", "vec_id"))
      .agg(count(lit(1)).as("n_hit"),
        sum((floor(lit(1.0d) / col("a_rank") * lit(1000000.0d) + lit(0.5d))
          / lit(1000000.0d)).cast("decimal(20,6)")).as("srr"))
    // with no truth rows the outer-join form aggregates nothing: n_hit
    // and mrr are null, and so they stay here
    val (nHit, mrr) =
      if (nQueries == 0L) (lit(null).cast("long"), lit(null).cast("double"))
      else (col("n_hit"),
        floor(coalesce(col("srr").cast("double"), lit(0.0d)) / lit(nQueries)
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d))
    hits.select(lit(nQueries).as("n_queries"), nHit.as("n_hit"), mrr.as("mrr"))
  }

  private lazy val annMrrSql =
    s"""WITH t AS (
       |  SELECT q_id, vec_id FROM ($bruteTopKBatchSql) WHERE rn = 1),
       |a AS (SELECT q_id, vec_id, rn AS a_rank FROM ($annLshBatchSql)),
       |j AS (
       |  SELECT t.q_id,
       |         CAST(CASE WHEN a.a_rank IS NOT NULL THEN
       |             floor(CAST(1.0 AS DOUBLE) / a.a_rank * 1000000.0 + 0.5)
       |               / 1000000.0
       |           ELSE 0.0 END AS DECIMAL(20,6)) AS rr,
       |         a.a_rank
       |  FROM t LEFT JOIN a ON t.q_id = a.q_id AND t.vec_id = a.vec_id)
       |SELECT count(*) AS n_queries,
       |       CAST(sum(CASE WHEN a_rank IS NOT NULL THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_hit,
       |       floor(CAST(sum(rr) AS DOUBLE) / count(*) * 10000.0 + 0.5)
       |         / 10000.0 AS mrr
       |FROM j""".stripMargin

  // --- PCA explained variance ---------------------------------------------

  /** Exact sufficient statistics for PCA + driver-side power iteration.
    *
    * The at-scale half is the covariance accumulation: every vector emits
    * its 64 first-moment terms and 2080 upper-triangle second-moment
    * products ROW-LOCALLY (components fixed to 1e6 integer units, so
    * products are exact BIGINTs and the shuffled sums are
    * merge-order-independent DECIMAL(38,0) — the [[centroidSim]]
    * discipline), and the only exchange is the 64+2080-key aggregate.
    * One corpus scan, d²-sized shuffle, at any corpus size.
    *
    * The eigen step runs on the DRIVER over the assembled 64×64
    * covariance — model-sized work, not data-sized (the Lloyd-trainer
    * precedent): a deterministic cyclic Jacobi sweep (gap-independent —
    * power iteration stalls on this corpus's near-isotropic spectrum,
    * where the top two eigenvalues differ by ~1%). Returns
    * (n, trace, λ1, λ2, v1) for the spec; [[pcaVariance]] wraps the
    * scalars as the registered rows-only query (no portable SQL
    * eigensolver — invariants are spec-pinned: planted-direction
    * recovery, λ1 ≤ trace, spectrum ordering). */
  private[graft] def pcaEig(s: SparkSession, e: DataFrame)
    : (Long, Double, Double, Double, Array[Double]) = {
    import s.implicits._
    val nTri = DIM * (DIM + 1) / 2
    // ONE scan, ZERO shuffle: every partition folds its rows into a
    // local (count, 64 first-moment, 2080 upper-triangle second-moment)
    // accumulator — genuine per-partition imperative state, the
    // heavyHitters mapPartitions precedent — and emits ONE row; the
    // driver merges the ≤ #partitions partials in BigInt. Components
    // are 1e6-unit longs, so per-partition product sums stay exact up to
    // ~2.7e7 rows per partition (3.4e11 max product vs 2^63) — far past
    // any sane partition size; the cross-partition merge is arbitrary-
    // precision, so total corpus size is unbounded. The exact-arithmetic
    // ops below turn a pathological partition (oversized, or wild
    // component magnitudes) into a LOUD ArithmeticException instead of a
    // silently wrong spectrum.
    val partials = e.select(expr(
      "transform(embedding, x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))")
      .as("xi")).as[Seq[Long]]
      .mapPartitions { it =>
        val s1 = new Array[Long](DIM)
        val s2 = new Array[Long](nTri)
        var n = 0L
        it.foreach { v =>
          n += 1
          var idx = 0
          var i = 0
          while (i < DIM) {
            val vi = v(i)
            s1(i) = Math.addExact(s1(i), vi)
            var j = i
            while (j < DIM) {
              s2(idx) = Math.addExact(s2(idx), Math.multiplyExact(vi, v(j)))
              idx += 1
              j += 1
            }
            i += 1
          }
        }
        Iterator.single((n, s1.toSeq, s2.toSeq))
      }.collect()
    val n = partials.map(_._1).sum
    val firsts = (0 until DIM).map(i =>
      partials.map(p => BigInt(p._2(i))).sum)
    val seconds = (0 until nTri).map(t =>
      partials.map(p => BigInt(p._3(t))).sum)
    // covariance in RAW units: sums are in 1e-6 (first) / 1e-12 (second)
    // units; C_ij = E[xi xj] − E[xi]E[xj]
    val nd = n.toDouble
    val mu = (0 until DIM).map(i =>
      (BigDecimal(firsts(i)) / 1000000L).toDouble / nd)
    def triIdx(i: Int, j: Int): Int = {
      // row-major upper triangle: offset of row i, then j − i
      val (a, b) = if (i <= j) (i, j) else (j, i)
      a * DIM - a * (a - 1) / 2 + (b - a)
    }
    val c = Array.tabulate(DIM, DIM) { (i, j) =>
      (BigDecimal(seconds(triIdx(i, j))) / BigDecimal(1000000000000L))
        .toDouble / nd - mu(i) * mu(j)
    }
    // cyclic Jacobi: two-sided rotations zero each off-diagonal in a
    // fixed sweep order — fully deterministic and convergent regardless
    // of spectral gaps (quadratic once off-norm is small)
    val m = c.map(_.clone)
    val vm = Array.tabulate(DIM, DIM)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 50 && off > 1e-24) {
      off = 0.0
      for (p <- 0 until DIM - 1; r <- p + 1 until DIM) off += m(p)(r) * m(p)(r)
      if (off > 1e-24) {
        for (p <- 0 until DIM - 1; r <- p + 1 until DIM)
          if (math.abs(m(p)(r)) > 1e-18) {
            val theta = (m(r)(r) - m(p)(p)) / (2.0 * m(p)(r))
            val t = (if (theta >= 0) 1.0 else -1.0) /
              (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val cs = 1.0 / math.sqrt(t * t + 1.0)
            val sn = t * cs
            for (k <- 0 until DIM) {
              val a = m(k)(p); val b = m(k)(r)
              m(k)(p) = cs * a - sn * b; m(k)(r) = sn * a + cs * b
            }
            for (k <- 0 until DIM) {
              val a = m(p)(k); val b = m(r)(k)
              m(p)(k) = cs * a - sn * b; m(r)(k) = sn * a + cs * b
            }
            for (k <- 0 until DIM) {
              val a = vm(k)(p); val b = vm(k)(r)
              vm(k)(p) = cs * a - sn * b; vm(k)(r) = sn * a + cs * b
            }
          }
      }
      sweep += 1
    }
    val order = (0 until DIM).sortBy(i => -m(i)(i))
    val (i1, i2) = (order.head, order(1))
    val v1 = Array.tabulate(DIM)(k => vm(k)(i1))
    val trace = (0 until DIM).map(i => c(i)(i)).sum
    (n, trace, m(i1)(i1), m(i2)(i2), v1)
  }

  /** Registered rows-only census over the fixture embeddings: top-two
    * eigenvalues of the corpus covariance and their explained-variance
    * shares — the spectrum profile read before choosing an index or a
    * dimensionality reduction. */
  def pcaVariance(s: SparkSession, dir: String): DataFrame = {
    val (n, trace, l1, l2, _) = pcaEig(s, Tables.embeddings(s, dir))
    import s.implicits._
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    Seq((n, r4(trace), r4(l1), r4(l2),
      r4(l1 / trace), r4((l1 + l2) / trace)))
      .toDF("n_vecs", "total_var", "lambda1", "lambda2",
        "explained_1", "explained_12")
  }

  /** Oracle-checkable companion to [[pcaVariance]] (VERDICT r6 #6): the
    * exact MOMENT TABLE the eigensolver consumes — full 2080-cell upper
    * triangle of second-moment sums plus the derived covariance — so the
    * data-sized half of PCA is DuckDB-replayed cell by cell and only the
    * model-sized Jacobi step stays rows-only.
    *
    * Same scan discipline as [[pcaEig]]: each partition folds its rows
    * into one exact 1e-6-fixed integer accumulator (per-partition sums
    * guarded by addExact/multiplyExact) and emits its ≤2145 partial rows;
    * the ONLY exchange is the (i,j)-keyed DECIMAL(38,0) sum over
    * #partitions × 2145 rows — corpus-size-independent shuffle. The
    * exact integer sums cast to double identically in Spark (BigDecimal
    * correctly-rounded) and DuckDB (HUGEINT→DOUBLE correctly-rounded),
    * and the covariance derivation pins the identical IEEE op order on
    * both sides, floored to 8 dp. */
  def pcaMoments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nTri = DIM * (DIM + 1) / 2
    val partials = Tables.embeddings(s, dir).select(expr(
      "transform(embedding, x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))")
      .as("xi")).as[Seq[Long]]
      .mapPartitions { it =>
        val s1 = new Array[Long](DIM)
        val s2 = new Array[Long](nTri)
        var n = 0L
        it.foreach { v =>
          n += 1
          var idx = 0
          var i = 0
          while (i < DIM) {
            val vi = v(i)
            s1(i) = Math.addExact(s1(i), vi)
            var j = i
            while (j < DIM) {
              s2(idx) = Math.addExact(s2(idx), Math.multiplyExact(vi, v(j)))
              idx += 1
              j += 1
            }
            i += 1
          }
        }
        // row encoding: (-2,-2)=count, (-1,d)=first moment, (i,j)=product sum
        val out = new Array[(Int, Int, Long)](1 + DIM + nTri)
        out(0) = (-2, -2, n)
        var d = 0
        while (d < DIM) { out(1 + d) = (-1, d, s1(d)); d += 1 }
        var idx = 0
        var i = 0
        while (i < DIM) {
          var j = i
          while (j < DIM) {
            out(1 + DIM + idx) = (i, j, s2(idx)); idx += 1; j += 1
          }
          i += 1
        }
        out.iterator
      }.toDF("i", "j", "v")
      .groupBy("i", "j")
      .agg(sum(col("v").cast("decimal(38,0)")).as("sv"))
      .collect()
    // The reduced moments are MODEL-sized driver state (≤ 1+d+d(d+1)/2 =
    // 2145 rows at any corpus size — the Lloyd-centroid / Jacobi
    // precedent); the covariance derivation is O(d²) scalar arithmetic.
    // Both engines convert the identical exact integer sum to double
    // (correctly-rounded) and then apply the identical IEEE op sequence,
    // so cells match bit-for-bit before the 8-dp floor.
    val sums = partials.map(r =>
      (r.getInt(0), r.getInt(1)) -> r.getDecimal(2)).toMap
    val nd = sums((-2, -2)).doubleValue
    def sf(d: Int): Double = sums((-1, d)).doubleValue
    val rows = for { i <- 0 until DIM; j <- i until DIM } yield {
      val s2 = sums((i, j)).doubleValue
      val cov = math.floor((s2 / nd / 1.0e12
        - (sf(i) / nd / 1.0e6) * (sf(j) / nd / 1.0e6)) * 1.0e8 + 0.5) / 1.0e8
      (i, j, s2, cov)
    }
    rows.toDF("i", "j", "s2", "cov")
  }

  /** Hash-green CONTRACT twin of the rows-only [[pcaVariance]] (the
    * sketch-contract pattern: Spark evaluates the invariant, the oracle
    * pins the verdict TRUE and replays every exactly-computable field):
    * the trace comes from the ORACLE-REPLAYABLE moment table (each
    * 8dp-floored diagonal covariance refixed to a 1e-8 BIGINT and
    * integer-summed — order-free, so both engines produce the identical
    * trace), and the Jacobi eigenvalues must satisfy the spectral
    * facts λ1 > 0, λ1 ≥ λ2 ≥ 0, λ1 ≤ tr, λ1 ≥ tr/d (the max is never
    * below the mean), λ1+λ2 ≤ tr — each with a 1e-6 slack far above the
    * solver's ~1e-13 numerical error. A broken eigensolver now
    * hash-fails the round instead of hiding behind a rows-only row. */
  def pcaContract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (n, _, l1, l2, _) = pcaEig(s, Tables.embeddings(s, dir))
    // pcaMoments is a driver-local frame (collected exact sums), so the
    // diagonal refix + sum below is model-sized arithmetic
    val t8 = pcaMoments(s, dir).filter(col("i") === col("j"))
      .select(floor(col("cov") * lit(1.0e8d) + lit(0.5d)).cast("long")
        .as("c8"))
      .agg(sum("c8")).collect().head.getLong(0)
    val tr = t8.toDouble / 1.0e8d
    val eps = 1.0e-6d
    Seq((n, tr, l1 > 0.0d, l1 >= l2 - eps && l2 >= -eps,
      l1 <= tr + eps, l1 >= tr / DIM - eps, l1 + l2 <= tr + eps))
      .toDF("n_vecs", "trace", "l1_pos", "order_ok", "l1_le_trace",
        "l1_ge_mean", "sum12_le_trace")
  }

  private lazy val pcaContractSql =
    s"""WITH m AS MATERIALIZED ($pcaMomentsSql),
       |diag AS (
       |  SELECT CAST(sum(CAST(floor(cov * 100000000.0 + 0.5) AS BIGINT))
       |              AS BIGINT) AS t8
       |  FROM m WHERE i = j),
       |nv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings)
       |SELECT nv.n AS n_vecs,
       |       CAST(diag.t8 AS DOUBLE) / 100000000.0 AS trace,
       |       TRUE AS l1_pos, TRUE AS order_ok, TRUE AS l1_le_trace,
       |       TRUE AS l1_ge_mean, TRUE AS sum12_le_trace
       |FROM nv CROSS JOIN diag""".stripMargin

  /** Linear-probe training rounds. */
  private val PROBE_ROUNDS = 5

  /** Distributed linear-probe TRAINING over the embedding corpus — the
    * "is this representation good enough" check a pipeline runs before
    * shipping embeddings (a linear classifier trained on frozen features).
    * Task: cluster 0 vs cluster 1, full-batch perceptron/hinge
    * subgradient: per round, margin_i = y_i·(w·x_i) (row-local exact
    * Long over 1e-6-fixed components + bias), misclassified set
    * M = {margin ≤ 0}, and w ← w + floorDiv(Σ_{i∈M} y_i·x_i, n·(r+1)) —
    * the MEAN subgradient with harmonic step decay, in fixed units, so
    * |w| stays O(1e6·log R) bounded at ANY corpus size and the margin
    * sum never overflows Long (the raw-sum perceptron update grows with
    * n and would overflow at ~1e6 rows; undecayed full-batch steps
    * oscillate around the decision boundary).
    *
    * Scale shape: the Lloyd-trainer split — per round ONE aggregation
    * over the cached narrow feature frame producing 65 exact integer
    * gradient sums + a miss count (model-sized driver state); no
    * per-round shuffle of vectors, R bounded. Every quantity is exact
    * integer arithmetic, so the DuckDB oracle replays training
    * bit-for-bit as R unrolled MATERIALIZED rounds (floor-division
    * spelled sign-portably on both sides). Output: the per-round error
    * census — the training curve, each row pinned by the exact weights
    * entering that round. */
  /** Trained-probe memo per (corpus dir, data fingerprint): the training
    * result is PLAIN DRIVER DATA (weights, curve, n — no DataFrame, no
    * RDD blocks, no session reference), and the loop is exact integer
    * arithmetic, so the value is deterministic for a given corpus and
    * safe to serve to ANY session — the census and the calibration table
    * share one training run (the memoized-cluster-label precedent),
    * instead of each paying the R aggregation rounds. */
  private val probeMemo = new graft.Memo.Local[
    (Array[Long], Seq[(Int, Long)], Long, Seq[Array[Long]])]("embeddings")

  private def trainedProbe(s: SparkSession, dir: String)
      : (Array[Long], Seq[(Int, Long)], Long, Seq[Array[Long]]) =
    probeMemo(s, dir) {
      val feats = probeFeatures(s, dir).cache()
      try trainProbe(s, feats)
      finally feats.unpersist(blocking = false)
    }

  /** The (vec_id, y, xi) feature frame of the probe task. */
  private def probeFeatures(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .filter(col("label").isin(0, 1))
      .select(col("vec_id"),
        expr("CASE WHEN label = 0 THEN 1L ELSE -1L END").as("y"),
        // bias feature fixed at 0.01 (1e4 units), matched to the scale of
        // the class-mean margin (~0.02) — a 1.0 bias would dominate every
        // update and pin the classifier to the majority sign
        expr("concat(transform(embedding, x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)), array(10000L))")
          .as("xi"))

  /** The shared training loop: R exact full-batch rounds over a (cached)
    * feature frame, returning (final weights, per-round miss curve, n). */
  private def trainProbe(s: SparkSession, feats: DataFrame)
      : (Array[Long], Seq[(Int, Long)], Long, Seq[Array[Long]]) = {
    import s.implicits._
    val n = feats.count()
    require(n > 0, "linearProbe: no rows with label in {0, 1}")
    val dims = DIM + 1
    var w = Array.fill(dims)(0L)
    val curve = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
    // per-round weight history: the training-dynamics surface dataMaps
    // reads (w_0 .. w_R, model-sized)
    val hist = scala.collection.mutable.ArrayBuffer[Array[Long]]()
    for (r <- 0 to PROBE_ROUNDS) {
      hist += w.clone()
      // w rides in as a broadcast 1-row RELATION, not a literal array:
      // every round's plan is then STRUCTURALLY identical, so whole-stage
      // codegen compiles once and round 2+ reuse the cached class
      // (literal weights re-compiled a fresh 66-aggregate plan per round)
      val wDf = Seq(Tuple1(w.toSeq)).toDF("wv")
      val margin = expr(
        "y * aggregate(zip_with(xi, wv, (a, b) -> a * b), 0L, (acc, v) -> acc + v)")
      val gCols = (0 until dims).map(j =>
        sum(when(margin <= 0L, col("y") * element_at(col("xi"), j + 1)))
          .as(s"g$j"))
      val aggd = feats.crossJoin(broadcast(wDf)).agg(
        sum(when(margin <= 0L, 1L).otherwise(0L)).as("n_wrong"),
        gCols: _*).head()
      curve += ((r, aggd.getLong(0)))
      // harmonic step decay — floorDiv(g, n·(r+1)) — damps the
      // full-batch oscillation while staying exact-integer
      if (r < PROBE_ROUNDS)
        w = Array.tabulate(dims)(j =>
          w(j) + Math.floorDiv(aggd.getLong(1 + j), n * (r + 1)))
    }
    (w, curve.toSeq, n, hist.toSeq)
  }

  def linearProbe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (_, curve, n, _) = trainedProbe(s, dir)
    curve.map { case (r, miss) =>
      (r, miss, math.floor((n - miss).toDouble / n * 10000.0 + 0.5) / 10000.0)
    }.toDF("round", "n_wrong", "accuracy")
  }

  /** Calibration table of the trained probe — the "can I trust the
    * score as a confidence" sheet read before a model-scored filter is
    * allowed to gate data: rank every example by its FINAL margin
    * (raw w·x, exact integer), cut into score deciles (ntile over the
    * unique (margin, vec_id) order — engine-identical), and report each
    * decile's positive rate. A monotone column means the margin ranks
    * examples; ±extremes near 1.0/0.0 mean the score separates where it
    * is confident.
    *
    * Scale shape: the scored frame is the labeled split, which grows
    * with the corpus at the 10⁹-vector posture this family targets — so
    * the decile cut is the DISTRIBUTED exact ntile
    * ([[DistNtile.withNtile]]), never a bare global window sort on one
    * task. Identical result to the window form by construction. */
  def probeCalibration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (w, _, _, _) = trainedProbe(s, dir)
    // scoring is ONE pass over the feature frame — no cache needed; on a
    // memo hit this query never re-runs the training rounds
    val wDf = Seq(Tuple1(w.toSeq)).toDF("wv")
    val scored = probeFeatures(s, dir).crossJoin(broadcast(wDf))
      .select(col("vec_id"), col("y"),
        expr("aggregate(zip_with(xi, wv, (a, b) -> a * b), 0L, (acc, v) -> acc + v)")
          .as("margin"))
    DistNtile.withNtile(scored, 10,
        Seq(col("margin").asc, col("vec_id").asc), "decile")
      .withColumn("decile", col("decile").cast("int"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("n_pos"))
      .select(col("decile"), col("n"), col("n_pos"),
        (floor(col("n_pos").cast("double") / col("n").cast("double")
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("pos_rate"))
      .orderBy("decile")
  }

  /** Expected Calibration Error as a TRANSFER audit: decile-bin the
    * probe margin on the CALIBRATION split (vec_id % 5 = 0, the
    * conformal protocol's split), read each bin's empirical positive
    * rate as its predicted confidence, then bin the EVALUATION split
    * (% 5 = 1) by the calibration deciles' VALUE boundaries and measure
    * per-bin |confidence − accuracy|. ECE = Σ (n_eval_bin / N_eval) ·
    * gap — the number a deployed score-gated filter reports before its
    * thresholds are trusted on new data.
    *
    * Exactness: margins are exact integers; cal deciles come from the
    * fleet [[DistNtile.withNtile]] (no single-task window); eval rows
    * bin by count-of-boundaries-below (the RFM broadcast shape — value
    * thresholds, so cal-side tie splitting cannot make eval binning
    * ambiguous); each bin's gap fixes to 1e-6 BIGINT units BEFORE the
    * cross-bin weighted sum (order-free, the Kruskal-Wallis
    * discipline); two final one-shot divisions display ece/max_gap. */
  def probeEce(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (w, _, _, _) = trainedProbe(s, dir)
    val wDf = Seq(Tuple1(w.toSeq)).toDF("wv")
    val scored = probeFeatures(s, dir).crossJoin(broadcast(wDf))
      .select(col("vec_id"), col("y"),
        expr("aggregate(zip_with(xi, wv, (a, b) -> a * b), 0L, (acc, v) -> acc + v)")
          .as("margin"))
    val cal = scored.filter(pmod(col("vec_id"), lit(5L)) === 0)
    val ev = scored.filter(pmod(col("vec_id"), lit(5L)) === 1)
    val calStats = DistNtile.withNtile(cal, 10,
        Seq(col("margin").asc, col("vec_id").asc), "decile")
      .groupBy("decile")
      .agg(count(lit(1)).as("nc"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("npc"),
        max("margin").as("bmax"))
    val bounds = calStats.filter(col("decile") <= 9)
      .agg(sort_array(collect_list("bmax")).as("bs"))
    val evStats = ev.join(broadcast(bounds))
      .select(col("y"),
        (lit(1L) + size(expr("filter(bs, x -> margin > x)")).cast("long"))
          .as("decile"))
      .groupBy("decile")
      .agg(count(lit(1)).as("ne"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("npe"))
    calStats.join(evStats, "decile")
      .select(col("nc"), col("ne"),
        (floor(abs(col("npc").cast("double") / col("nc")
          - col("npe").cast("double") / col("ne"))
          * lit(1000000.0d) + lit(0.5d)).cast("long") * col("ne")).as("c"),
        floor(abs(col("npc").cast("double") / col("nc")
          - col("npe").cast("double") / col("ne"))
          * lit(1000000.0d) + lit(0.5d)).cast("long").as("gap6"))
      .agg(sum("nc").as("n_cal"), sum("ne").as("n_eval"),
        count(lit(1)).as("n_bins"), sum("c").as("sc"),
        max("gap6").as("mg"))
      .select(col("n_cal"), col("n_eval"), col("n_bins"),
        (floor(col("sc").cast("double") / col("n_eval") / lit(100.0d)
          + lit(0.5d)) / lit(10000.0d)).as("ece"),
        (col("mg").cast("double") / lit(1000000.0d)).as("max_gap"))
  }

  private lazy val probeEceSql = {
    val chain = probeChainParts._1
    s"""WITH $chain,
       |cal AS (
       |  SELECT y, margin,
       |         ntile(10) OVER (ORDER BY margin, vec_id) AS decile
       |  FROM m$PROBE_ROUNDS WHERE vec_id % 5 = 0),
       |cs AS (
       |  SELECT decile, CAST(count(*) AS BIGINT) AS nc,
       |         CAST(count(*) FILTER (y = 1) AS BIGINT) AS npc,
       |         max(margin) AS bmax
       |  FROM cal GROUP BY 1),
       |bs AS (SELECT list_sort(list(bmax)) AS b FROM cs WHERE decile <= 9),
       |ev AS (
       |  SELECT 1 + CAST(len(list_filter(bs.b, x -> margin > x)) AS BIGINT)
       |           AS decile,
       |         y
       |  FROM m$PROBE_ROUNDS, bs WHERE vec_id % 5 = 1),
       |es AS (
       |  SELECT decile, CAST(count(*) AS BIGINT) AS ne,
       |         CAST(count(*) FILTER (y = 1) AS BIGINT) AS npe
       |  FROM ev GROUP BY 1),
       |bins AS (
       |  SELECT cs.nc, es.ne,
       |         CAST(floor(abs(CAST(npc AS DOUBLE) / nc
       |                        - CAST(npe AS DOUBLE) / ne)
       |                    * 1000000.0 + 0.5) AS BIGINT) AS gap6
       |  FROM cs JOIN es ON cs.decile = es.decile)
       |SELECT CAST(sum(nc) AS BIGINT) AS n_cal,
       |       CAST(sum(ne) AS BIGINT) AS n_eval,
       |       CAST(count(*) AS BIGINT) AS n_bins,
       |       floor(CAST(sum(gap6 * ne) AS DOUBLE) / sum(ne) / 100.0 + 0.5)
       |         / 10000.0 AS ece,
       |       CAST(max(gap6) AS DOUBLE) / 1000000.0 AS max_gap
       |FROM bins""".stripMargin
  }

  /** DATASET CARTOGRAPHY (Swayamdipta et al., EMNLP'20 — public):
    * training-dynamics census over the probe's per-round margins. Per
    * labeled example, correctness at every training round (w_0 .. w_R
    * from the memoized history) gives n_correct ∈ [0, R+1] (the
    * confidence axis) and the count of correctness FLIPS between
    * consecutive rounds (the variability axis); the census buckets
    * examples into easy-to-learn (always right), hard-to-learn (never)
    * and ambiguous — the map a curation pipeline reads to find
    * mislabeled (hard) and informative (ambiguous) training data.
    *
    * ONE pass over the labeled split: all R+1 weight vectors broadcast
    * as a single array-of-arrays row and every round's margin evaluates
    * row-locally (exact integer dot products); flips/counts are exact
    * integers, so the oracle replays the whole map off its m0..mR
    * round CTEs. */
  def dataMaps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (_, _, _, hist) = trainedProbe(s, dir)
    val wsDf = Seq(Tuple1(hist.map(_.toSeq))).toDF("ws")
    val scored = probeFeatures(s, dir).crossJoin(broadcast(wsDf))
      .select(
        expr(
          """transform(ws, wv -> CASE WHEN
            |  y * aggregate(zip_with(xi, wv, (a, b) -> a * b), 0L,
            |                (acc, v) -> acc + v) > 0
            |  THEN 1L ELSE 0L END)""".stripMargin).as("corr"))
      .select(
        expr("aggregate(corr, 0L, (a, x) -> a + x)").as("n_correct"),
        expr(
          """aggregate(sequence(2, size(corr)), 0L, (a, i) ->
            |  a + abs(element_at(corr, i) - element_at(corr, i - 1)))"""
            .stripMargin).as("flips"))
    val buckets = scored.groupBy("n_correct")
      .agg(count(lit(1)).as("n_examples"), sum("flips").as("tf"))
    val total = buckets.agg(sum("n_examples").as("nt"))
    buckets.join(broadcast(total))
      .select(col("n_correct"),
        when(col("n_correct") === PROBE_ROUNDS + 1, "easy")
          .when(col("n_correct") === 0, "hard")
          .otherwise("ambiguous").as("bucket"),
        col("n_examples"),
        (floor(col("n_examples").cast("double") / col("nt")
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("share"),
        (floor(col("tf").cast("double") / col("n_examples")
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("avg_flips"))
      .orderBy("n_correct")
  }

  private lazy val dataMapsSql = {
    val chain = probeChainParts._1
    val joins = (1 to PROBE_ROUNDS).map(r =>
      s"JOIN m$r ON m$r.vec_id = m0.vec_id").mkString("\n  ")
    val corr = (0 to PROBE_ROUNDS).map(r =>
      s"(CASE WHEN m$r.y * m$r.margin > 0 THEN 1 ELSE 0 END) AS c$r")
      .mkString(",\n         ")
    val nCorrect = (0 to PROBE_ROUNDS).map(r => s"c$r").mkString(" + ")
    val flips = (1 to PROBE_ROUNDS).map(r =>
      s"abs(c$r - c${r - 1})").mkString(" + ")
    s"""WITH $chain,
       |corr AS (
       |  SELECT m0.vec_id,
       |         $corr
       |  FROM m0
       |  $joins),
       |ex AS (
       |  SELECT CAST($nCorrect AS BIGINT) AS n_correct,
       |         CAST($flips AS BIGINT) AS flips
       |  FROM corr),
       |bk AS (
       |  SELECT n_correct, CAST(count(*) AS BIGINT) AS n_examples,
       |         CAST(sum(flips) AS BIGINT) AS tf
       |  FROM ex GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_examples) AS BIGINT) AS nt FROM bk)
       |SELECT n_correct,
       |       CASE WHEN n_correct = ${PROBE_ROUNDS + 1} THEN 'easy'
       |            WHEN n_correct = 0 THEN 'hard'
       |            ELSE 'ambiguous' END AS bucket,
       |       n_examples,
       |       floor(CAST(n_examples AS DOUBLE) / nt * 10000.0 + 0.5)
       |         / 10000.0 AS share,
       |       floor(CAST(tf AS DOUBLE) / n_examples * 10000.0 + 0.5)
       |         / 10000.0 AS avg_flips
       |FROM bk CROSS JOIN tot
       |ORDER BY n_correct""".stripMargin
  }

  /** Split-conformal prediction over the probe's margin score — the
    * distribution-free uncertainty wrapper a model-gated filter needs:
    * instead of one label, emit the SET of labels whose nonconformity
    * s = −y·margin falls under the calibration quantile, with a finite-
    * sample ≥1−α coverage guarantee (α = 0.1). Protocol: calibration =
    * labeled rows with vec_id % 5 = 0, evaluation = % 5 = 1; threshold
    * q̂ = the ⌈(n+1)(1−α)⌉-th smallest calibration nonconformity; a
    * label y enters x's set iff −y·margin(x) ≤ q̂. (The probe trains on
    * the full labeled split, so calibration here is in-sample — the
    * fixture's limitation; the PROTOCOL — exact order-statistic
    * threshold, set construction, coverage census — is what this
    * operator ships, and it is exact end to end.)
    *
    * Exactness: margins and nonconformities are exact integers; the
    * rank k = ((n+1)·9 + 9) div 10 and the k-th order statistic are
    * integer arithmetic (distinct-value prefix sums via the
    * fleet-standard [[DistNtile.withPrefixSum]] — no single-task sort,
    * the [[probeCalibration]] discipline); coverage and set size are
    * exact counts with one final fix4 division each. */
  def conformal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (w, _, _, _) = trainedProbe(s, dir)
    val wDf = Seq(Tuple1(w.toSeq)).toDF("wv")
    conformalOn(probeFeatures(s, dir).crossJoin(broadcast(wDf))
      .select(col("vec_id"), col("y"),
        expr("aggregate(zip_with(xi, wv, (a, b) -> a * b), 0L, (acc, v) -> acc + v)")
          .as("margin")))
  }

  /** [[conformal]] core over an explicit (vec_id, y, margin) scored
    * frame — the planted-semantics seam. */
  private[graft] def conformalOn(scored: DataFrame): DataFrame = {
    val calVals = scored.filter(pmod(col("vec_id"), lit(5L)) === 0)
      .select((col("y") * col("margin") * lit(-1L)).as("sc"))
      .groupBy("sc").agg(count(lit(1)).as("cw"))
    val pre = DistNtile.withPrefixSum(calVals, Seq(col("sc").asc),
      col("cw"), "cum")
    val stats = pre.agg(max("cum").as("n_cal"))
      .select(col("n_cal"),
        expr("(cast(n_cal + 1 as bigint) * 9 + 9) div 10").as("k"))
    // the k-th smallest nonconformity: first distinct value whose
    // inclusive prefix reaches k (k > n_cal => +infinity sentinel:
    // every set is {−1, +1}, coverage 1 — totality, never hit at any
    // fixture SF)
    val qThr = pre.crossJoin(broadcast(stats))
      .filter(col("cum") >= col("k"))
      .agg(min("sc").as("q_raw"))
      .select(coalesce(col("q_raw"), lit(Long.MaxValue / 4)).as("q_thr"))
      .crossJoin(broadcast(stats))
    scored.filter(pmod(col("vec_id"), lit(5L)) === 1)
      .crossJoin(broadcast(qThr))
      .select(col("n_cal"), col("k"), col("q_thr"),
        (col("margin") * lit(-1L) <= col("q_thr")).cast("long").as("in_pos"),
        (col("margin") <= col("q_thr")).cast("long").as("in_neg"),
        when(col("y") === 1L,
          (col("margin") * lit(-1L) <= col("q_thr")).cast("long"))
          .otherwise((col("margin") <= col("q_thr")).cast("long"))
          .as("covered"))
      .groupBy("n_cal", "k", "q_thr")
      .agg(count(lit(1)).as("n_eval"),
        sum("covered").as("n_covered"),
        sum(col("in_pos") + col("in_neg")).as("set_total"))
      .select(col("n_cal"), col("k"), col("q_thr"), col("n_eval"),
        (floor(col("n_covered").cast("double") / col("n_eval").cast("double")
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("coverage"),
        (floor(col("set_total").cast("double") / col("n_eval").cast("double")
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("avg_set_size"))
  }

  /** Isotonic (monotone) calibration of the probe's score deciles —
    * what a platform actually DEPLOYS on top of the
    * [[probeCalibration]] trust sheet: the raw per-decile positive
    * rates need not be monotone in the score (sampling noise), and the
    * isotonic fit is the unique monotone curve closest to them in L²,
    * so "higher score ⇒ higher calibrated confidence" holds by
    * construction. Computed by the CLOSED-FORM minimax characterization
    *   iso(i) = max_{j≤i} min_{k≥i} mean(y[j..k])
    * over the 10 deciles — interval means are exact integer ratios
    * (Σ n_pos / Σ n over decile runs), identical doubles in both
    * engines, and the max/min lattice runs over the ≤10² bounded
    * interval set (no iterative PAVA, nothing data-sized — the whole
    * fit is a few hundred rows at ANY corpus scale). */
  def isotonicCalibration(s: SparkSession, dir: String): DataFrame =
    isotonicOn(probeCalibration(s, dir)
      .select(col("decile"), col("n"), col("n_pos")))

  /** [[isotonicCalibration]] core over a (decile, n, n_pos) frame. */
  private[graft] def isotonicOn(dec: DataFrame): DataFrame = {
    // cumulative sums turn interval means into prefix differences:
    // mean(j..k) = (P_k − P_{j−1}) / (N_k − N_{j−1})
    val w = org.apache.spark.sql.expressions.Window.orderBy("decile")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = dec
      .withColumn("cn", sum("n").over(w))
      .withColumn("cp", sum("n_pos").over(w))
      .select(col("decile"), col("n"), col("n_pos"), col("cn"), col("cp"))
      .cache()
    val lo = cum.select(col("decile").as("j"),
      (col("cn") - col("n")).as("n_lo"), (col("cp") - col("n_pos"))
        .as("p_lo"))
    val hi = cum.select(col("decile").as("k"), col("cn").as("n_hi"),
      col("cp").as("p_hi"))
    // all O(buckets²) interval means, then the minimax over the
    // bounded lattice: min over k ≥ i, then max over j ≤ i
    val intervals = lo.join(hi, col("j") <= col("k"))
      .select(col("j"), col("k"),
        ((col("p_hi") - col("p_lo")).cast("double")
          / (col("n_hi") - col("n_lo")).cast("double")).as("m"))
    val innerMin = cum.select(col("decile").as("i"))
      .join(intervals, col("k") >= col("i") && col("j") <= col("i"))
      .groupBy("i", "j").agg(min("m").as("mn"))
      .groupBy("i").agg(max("mn").as("iso"))
    cum.join(innerMin, col("decile") === col("i"))
      .select(col("decile"), col("n"), col("n_pos"),
        (floor(col("n_pos").cast("double") / col("n").cast("double")
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("pos_rate"),
        (floor(col("iso") * lit(10000.0d) + lit(0.5d)) / lit(10000.0d))
          .as("iso_rate"))
      .orderBy("decile")
  }

  // lazy: references probeChainParts, defined later in the object
  private lazy val isotonicSql = {
    val chain = probeChainParts._1
    s"""WITH $chain,
       |dec AS (
       |  SELECT CAST(decile AS INTEGER) AS decile,
       |         CAST(count(*) AS BIGINT) AS n,
       |         CAST(count(*) FILTER (y = 1) AS BIGINT) AS n_pos
       |  FROM (SELECT y, ntile(10) OVER (ORDER BY margin, vec_id) AS decile
       |        FROM m$PROBE_ROUNDS)
       |  GROUP BY decile),
       |cum AS (
       |  SELECT decile, n, n_pos,
       |         CAST(sum(n) OVER (ORDER BY decile
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           AS BIGINT) AS cn,
       |         CAST(sum(n_pos) OVER (ORDER BY decile
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           AS BIGINT) AS cp
       |  FROM dec),
       |iv AS (
       |  SELECT l.decile AS j, h.decile AS k,
       |         CAST(h.cp - (l.cp - l.n_pos) AS DOUBLE)
       |           / CAST(h.cn - (l.cn - l.n) AS DOUBLE) AS m
       |  FROM cum l JOIN cum h ON l.decile <= h.decile),
       |mm AS (
       |  SELECT c.decile AS i, iv.j, min(iv.m) AS mn
       |  FROM cum c JOIN iv ON iv.k >= c.decile AND iv.j <= c.decile
       |  GROUP BY 1, 2),
       |iso AS (SELECT i, max(mn) AS iso FROM mm GROUP BY 1)
       |SELECT c.decile, c.n, c.n_pos,
       |       floor(CAST(c.n_pos AS DOUBLE) / c.n * 10000.0 + 0.5)
       |         / 10000.0 AS pos_rate,
       |       floor(iso.iso * 10000.0 + 0.5) / 10000.0 AS iso_rate
       |FROM cum c JOIN iso ON c.decile = iso.i
       |ORDER BY c.decile""".stripMargin
  }

  /** Shared oracle chain: features + unrolled training rounds to
    * m{PROBE_ROUNDS} (margins under the FINAL weights) — used by the
    * training-curve census AND the calibration table. */
  private val probeChainParts: (String, String) = {
    val base =
      s"""b AS MATERIALIZED (
         |  SELECT vec_id, CASE WHEN label = 0 THEN 1 ELSE -1 END AS y,
         |         embedding
         |  FROM embeddings WHERE label IN (0, 1)),
         |comp AS MATERIALIZED (
         |  SELECT vec_id, y, CAST(j - 1 AS BIGINT) AS j,
         |         CAST(floor(CAST(embedding[j] AS DOUBLE) * 1000000.0 + 0.5)
         |              AS BIGINT) AS x
         |  FROM b CROSS JOIN (SELECT unnest(generate_series(1, $DIM)) AS j)
         |  UNION ALL
         |  SELECT vec_id, y, $DIM, 10000 FROM b),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b),
         |w0 AS (SELECT CAST(j AS BIGINT) AS j, CAST(0 AS BIGINT) AS w
         |       FROM (SELECT unnest(generate_series(0, $DIM)) AS j))""".stripMargin
    val rounds = (0 to PROBE_ROUNDS).map { r =>
      val m =
        s"""m$r AS MATERIALIZED (
           |  SELECT c.vec_id, any_value(c.y) AS y,
           |         CAST(sum(w.w * c.x) AS BIGINT) AS margin
           |  FROM comp c JOIN w$r w ON c.j = w.j GROUP BY c.vec_id)""".stripMargin
      if (r == PROBE_ROUNDS) m
      else {
        // mean subgradient, floor-division spelled sign-portably:
        // (g - ((g % n + n) % n)) // n == floorDiv(g, n) in both engines
        val upd =
          s"""g$r AS MATERIALIZED (
             |  SELECT c.j,
             |         CAST(coalesce(sum(CASE WHEN m.y * m.margin <= 0
             |                           THEN m.y * c.x END), 0) AS BIGINT) AS g
             |  FROM comp c JOIN m$r m ON c.vec_id = m.vec_id GROUP BY c.j),
             |w${r + 1} AS MATERIALIZED (
             |  SELECT w.j,
             |         w.w + (g.g - ((g.g % (n.n * ${r + 1})
             |                        + n.n * ${r + 1}) % (n.n * ${r + 1})))
             |               // (n.n * ${r + 1}) AS w
             |  FROM w$r w JOIN g$r g ON w.j = g.j CROSS JOIN nn n)""".stripMargin
        s"$m,\n$upd"
      }
    }.mkString(",\n")
    val census = (0 to PROBE_ROUNDS).map { r =>
      s"""SELECT CAST($r AS INTEGER) AS round,
         |       CAST(count(*) FILTER (y * margin <= 0) AS BIGINT) AS n_wrong,
         |       floor(CAST(count(*) FILTER (y * margin > 0) AS DOUBLE)
         |             / count(*) * 10000.0 + 0.5) / 10000.0 AS accuracy
         |FROM m$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    (s"$base,\n$rounds", census)
  }

  private val linearProbeSql = {
    val (chain, census) = probeChainParts
    s"""WITH $chain
       |SELECT * FROM (
       |$census)
       |ORDER BY round""".stripMargin
  }

  private val probeCalibrationSql = {
    val chain = probeChainParts._1
    s"""WITH $chain
       |SELECT CAST(decile AS INTEGER) AS decile, count(*) AS n,
       |       CAST(count(*) FILTER (y = 1) AS BIGINT) AS n_pos,
       |       floor(CAST(count(*) FILTER (y = 1) AS DOUBLE) / count(*)
       |             * 10000.0 + 0.5) / 10000.0 AS pos_rate
       |FROM (SELECT y, ntile(10) OVER (ORDER BY margin, vec_id) AS decile
       |      FROM m$PROBE_ROUNDS)
       |GROUP BY decile ORDER BY decile""".stripMargin
  }

  private val conformalSql = {
    val chain = probeChainParts._1
    s"""WITH $chain,
       |cal AS (SELECT -y * margin AS sc FROM m$PROBE_ROUNDS
       |        WHERE vec_id % 5 = 0),
       |st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_cal,
       |         CAST(((count(*) + 1) * 9 + 9) // 10 AS BIGINT) AS k
       |  FROM cal),
       |qt AS (
       |  SELECT coalesce(
       |           (SELECT sc FROM (
       |              SELECT sc, row_number() OVER (ORDER BY sc) AS rn
       |              FROM cal) r, st WHERE r.rn = st.k),
       |           ${Long.MaxValue / 4}) AS q_thr),
       |ev AS (
       |  SELECT y, margin FROM m$PROBE_ROUNDS WHERE vec_id % 5 = 1)
       |SELECT st.n_cal, st.k, qt.q_thr,
       |       CAST(count(*) AS BIGINT) AS n_eval,
       |       floor(CAST(sum(CASE WHEN y = 1
       |                      THEN CASE WHEN -margin <= q_thr THEN 1 ELSE 0 END
       |                      ELSE CASE WHEN margin <= q_thr THEN 1 ELSE 0 END
       |                      END) AS DOUBLE)
       |             / count(*) * 10000.0 + 0.5) / 10000.0 AS coverage,
       |       floor(CAST(sum((CASE WHEN -margin <= q_thr THEN 1 ELSE 0 END)
       |                      + (CASE WHEN margin <= q_thr THEN 1 ELSE 0 END))
       |                  AS DOUBLE)
       |             / count(*) * 10000.0 + 0.5) / 10000.0 AS avg_set_size
       |FROM ev CROSS JOIN st CROSS JOIN qt
       |GROUP BY st.n_cal, st.k, qt.q_thr""".stripMargin
  }

  private val pcaMomentsSql =
    s"""WITH comp AS MATERIALIZED (
       |  SELECT vec_id, CAST(j - 1 AS INTEGER) AS d,
       |         CAST(floor(CAST(embedding[j] AS DOUBLE) * 1000000.0 + 0.5)
       |              AS BIGINT) AS x
       |  FROM embeddings
       |  CROSS JOIN (SELECT unnest(generate_series(1, $DIM)) AS j)),
       |nn AS (SELECT CAST(count(DISTINCT vec_id) AS DOUBLE) AS nd FROM comp),
       |s1 AS (SELECT d, CAST(sum(x) AS DOUBLE) AS sf FROM comp GROUP BY d),
       |s2 AS (
       |  SELECT a.d AS i, b.d AS j, CAST(sum(a.x * b.x) AS DOUBLE) AS s2
       |  FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.d <= b.d
       |  GROUP BY 1, 2)
       |SELECT s2.i, s2.j, s2.s2 AS s2,
       |       floor((s2.s2 / nd / 1.0e12
       |              - (si.sf / nd / 1.0e6) * (sj.sf / nd / 1.0e6))
       |             * 1.0e8 + 0.5) / 1.0e8 AS cov
       |FROM s2
       |CROSS JOIN nn
       |JOIN s1 si ON s2.i = si.d
       |JOIN s1 sj ON s2.j = sj.d
       |ORDER BY i, j""".stripMargin

  /** Matryoshka truncation depths (powers of two up to the full DIM —
    * the nesting MRL-style encoders are trained for) and eval depth. */
  private val MRL_DIMS = Seq(8, 16, 32, DIM)
  private val MRL_K = 10

  /** Matryoshka truncation evaluation: recall@10 of the top-k ranking
    * under PREFIX-truncated embeddings (8/16/32 dims) against the
    * full-dimension ranking — the measurement that decides how short a
    * stored vector can get before retrieval quality pays for the 2-8×
    * index-size saving. The full-dim row (recall 1.0 by construction)
    * anchors the protocol.
    *
    * Scale shape: ONE corpus scan serves every TRUNCATED depth (the
    * full-dim depth is the [[bruteTruth]] memo) (explode to
    * (dims, prefix-slice) rows — a narrow map, never shuffled with the
    * vectors), the per-depth query vector broadcasts, and the per-depth
    * top-k is the same one-window ranking as [[bruteTruthCompute]]: its
    * partial `WindowGroupLimit` keeps any reducer from sorting a whole
    * depth's scored corpus. Only (dims, vec_id, rounded score) rows
    * shuffle. */
  def matryoshkaRecall(s: SparkSession, dir: String): DataFrame = {
    val e = corpus(s, dir)
    // the full-dim (DIM) ranking IS the brute-force truth — slice(emb,
    // 1, DIM) = emb and the norm/round/tie-break expressions are the
    // same — so it comes from the [[bruteTruth]] memo; only the
    // truncated depths are scored from the scan
    val scanDims = MRL_DIMS.filterNot(_ == DIM)
    val sliced = e.select(col("vec_id"),
        explode(array(scanDims.map(d => lit(d)): _*)).as("dims"),
        col("emb"))
      .withColumn("pe", expr("slice(emb, 1, dims)"))
      .withColumn("pn", VectorFns.norm("pe"))
    val q = sliced.filter(col("vec_id") === 0)
      .select(col("dims"), col("pe").as("q_pe"), col("pn").as("q_pn"))
    val scored = sliced.filter(col("vec_id") =!= 0)
      .join(broadcast(q), Seq("dims"))
      .select(col("dims"), col("vec_id"),
        Fmt.fix4(VectorFns.cosineWithNorms("pe", "q_pe", "pn", "q_pn"))
          .as("cs"))
    val byDims = org.apache.spark.sql.expressions.Window
      .partitionBy("dims")
      .orderBy(col("cs").desc, col("vec_id").asc)
    val truth64 = bruteTruth(s, dir)
      .filter(col("q_id") === 0 && col("rn") <= MRL_K)
    val top = scored
      .withColumn("rn", row_number().over(byDims))
      .filter(col("rn") <= MRL_K)
      .select("dims", "vec_id")
      .unionByName(truth64.select(lit(DIM).as("dims"), col("vec_id")))
    val gt = truth64.select(col("vec_id").as("g"), lit(1L).as("hit"))
    // Each dims group always has exactly k rows, so no depth can vanish
    // from the census even at zero overlap (r7 empty-aggregate trap).
    top.join(gt, col("vec_id") === col("g"), "left")
      .groupBy("dims")
      .agg(coalesce(sum("hit"), lit(0L)).as("n_overlap"))
      .select(col("dims"), col("n_overlap"),
        Fmt.fix4(col("n_overlap") / lit(MRL_K.toDouble)).as("recall"))
      .orderBy("dims")
  }

  private val matryoshkaRecallSql =
    s"""WITH e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |s AS (
       |  SELECT d.dims, e.vec_id, e.emb[1:d.dims] AS pe
       |  FROM e CROSS JOIN
       |       (SELECT unnest([${MRL_DIMS.mkString(", ")}]) AS dims) d),
       |n AS (SELECT dims, vec_id, pe,
       |             sqrt(list_dot_product(pe, pe)) AS pn FROM s),
       |q AS (SELECT dims, pe AS q_pe, pn AS q_pn FROM n WHERE vec_id = 0),
       |scored AS (
       |  SELECT n.dims, n.vec_id,
       |         floor(list_dot_product(n.pe, q.q_pe) / (n.pn * q.q_pn) * 10000.0 + 0.5) / 10000.0
       |           AS cs
       |  FROM n JOIN q USING (dims) WHERE n.vec_id <> 0),
       |ranked AS (
       |  SELECT dims, vec_id,
       |         row_number() OVER (PARTITION BY dims
       |                            ORDER BY cs DESC, vec_id) AS rn
       |  FROM scored),
       |top AS (SELECT dims, vec_id FROM ranked WHERE rn <= $MRL_K),
       |gt AS (SELECT vec_id FROM top WHERE dims = $DIM)
       |SELECT t.dims, CAST(count(g.vec_id) AS BIGINT) AS n_overlap,
       |       floor(count(g.vec_id) / $MRL_K.0 * 10000.0 + 0.5) / 10000.0 AS recall
       |FROM top t LEFT JOIN gt g ON t.vec_id = g.vec_id
       |GROUP BY t.dims ORDER BY t.dims""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q_sim_topk", bruteTopK, Some(bruteTopKSql)),
    Q("q_matryoshka_recall", matryoshkaRecall, Some(matryoshkaRecallSql),
      doc = "Matryoshka truncation eval: recall@10 of prefix-truncated " +
        "(8/16/32-dim) cosine rankings vs the full 64-dim ranking — one " +
        "exploded corpus scan, partial-limit per-depth top-k"),
    Q("q_hybrid_rrf", hybridRrf, Some(hybridRrfSql)),
    Q("q_sim_pq", pqTopK, Some(pqTopKSql),
      doc = "product-quantized ANN: per-subspace exact-integer L2 " +
        "k-means codebooks, M-byte codes, ADC table-lookup ranking — " +
        "train/encode/score replayed by unrolled materialized CTEs"),
    Q("q_rbo", rankBiasedOverlap, Some(rankBiasedOverlapSql),
      doc = "rank-biased overlap between the BM25 and dense top-20 " +
        "rankers, dyadic p=1/2 — per-depth agreement 1e-6-fixed, " +
        "power-of-two weighted BIGINT sum, truncated form"),
    Q("q_ann_ndcg", annNdcg, Some(annNdcgSql)),
    Q("q_pca_variance", pcaVariance, None),
    Q("q_pca_contract", pcaContract, Some(pcaContractSql),
      doc = "hash-green contract twin of the rows-only eigensolve: " +
        "oracle-replayed trace from refixed diagonal covariances + " +
        "spectral-fact verdicts pinned TRUE"),
    Q("q_isotonic", isotonicCalibration, Some(isotonicSql),
      doc = "isotonic calibration of the probe deciles by the exact " +
        "minimax closed form over the bounded interval lattice - the " +
        "deployable monotone confidence curve"),
    Q("q_conformal", conformal, Some(conformalSql),
      doc = "split-conformal prediction sets over the probe margin: " +
        "exact integer order-statistic threshold via distributed " +
        "prefix sums, coverage + set-size census on the eval split"),
    Q("q_probe_calibration", probeCalibration, Some(probeCalibrationSql),
      doc = "Score-decile calibration of the trained linear probe: " +
        "positive rate per final-margin decile — the trust sheet before " +
        "a model-scored filter gates data"),
    Q("q_mmr", mmrTopK, Some(mmrTopKSql),
      doc = "MMR diverse top-5: exact-cosine top-20 shortlist, then the " +
        "greedy rel-minus-maxsim selection on 1e-4 fixed integers, " +
        "replayed by 5 unrolled MATERIALIZED oracle rounds"),
    Q("q_hard_negatives", hardNegatives, Some(hardNegativesSql),
      doc = "Contrastive-training feed: per batch query the best " +
        "same-label positive + top-3 cross-label hard negatives, " +
        "partial-limit per-(query, kind) ranking, one corpus scan"),
    Q("q_data_maps", dataMaps, Some(dataMapsSql),
      doc = "Dataset cartography: per-example confidence (rounds " +
        "correct) x variability (correctness flips) census over the " +
        "probe's training dynamics — easy/ambiguous/hard buckets, one " +
        "pass with all round weights broadcast"),
    Q("q_ece", probeEce, Some(probeEceSql),
      doc = "Expected Calibration Error as a transfer audit: cal-split " +
        "decile confidences vs eval-split accuracies under value-" +
        "threshold binning, per-bin gaps 1e-6-fixed before the " +
        "order-free weighted sum"),
    Q("q_linear_probe", linearProbe, Some(linearProbeSql),
      doc = "Distributed linear-probe training on frozen embeddings " +
        "(cluster 0 vs 1): full-batch mean-subgradient perceptron, exact " +
        "integer rounds, DuckDB-replayed training curve"),
    Q("q_pca_moments", pcaMoments, Some(pcaMomentsSql),
      doc = "Exact PCA moment table: 2080-cell upper-triangle second " +
        "moments + derived covariance, DuckDB-replayed cell by cell " +
        "(the data-sized half of q_pca_variance, oracle-checked)"),
    Q("q_ann_mrr", annMrr, Some(annMrrSql)),
    Q("q_label_prop", labelProp, Some(labelPropSql)),
    Q("q_sim_quantized", quantizedTopK, Some(quantizedTopKSql)),
    Q("q_sim_rerank", simRerank, Some(simRerankSql)),
    Q("q_ann_recall", annRecall, Some(annRecallSql)),
    Q("q_sim_ann_lsh", annLsh, Some(annLshSql)),
    Q("q_sim_ann_multiprobe", annLshMultiprobe, Some(annLshMultiprobeSql)),
    Q("q_sim_ivf", ivf, Some(ivfSql)),
    Q("q_sim_ivf_trained", ivfTrained, Some(ivfTrainedSql)),
    Q("q_embedding_profile", embeddingProfile, Some(embeddingProfileSql),
      doc = "Embedding-corpus sanity census before index builds: norms, " +
        "zero vectors, collapsed dimensions, top dimension variance"),
    Q("q_sim_topk_batch", bruteTopKBatch, Some(bruteTopKBatchSql)),
    Q("q_sim_ann_batch", annLshBatch, Some(annLshBatchSql)),
    Q("q_knn_join", knnJoin, Some(knnJoinSql)),
    Q("q_label_centroids", labelCentroids, Some(labelCentroidsSql)),
    Q("q_centroid_sim", centroidSim, Some(centroidSimSql)),
    Q("q_centroid_drift", centroidDrift, Some(centroidDriftSql)))
}
