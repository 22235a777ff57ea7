package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.functions.TextFns

/** Deduplication operators (north-star [N], SURVEY.md §2.8) — the five
  * standard strategies of a pretraining-data pipeline, each expressed as a
  * shuffle-disciplined Spark plan:
  *
  *  - exact:    hash group-by on normalized text (one shuffle on the hash)
  *  - MinHash:  shingle → k min-hashes → banded LSH keys → bucket
  *              self-join → Jaccard verify. The self-join shuffles only
  *              (doc_id, band_key) pairs — never document text — which is
  *              what makes it the 100 TB path: candidate generation is
  *              linear in corpus size, quadratic only within a bucket.
  *  - SimHash:  one fused fold per doc → 32-bit signature; duplicates =
  *              signature collisions (group-by, one shuffle of 8-byte keys)
  *  - n-gram:   exact Jaccard within (lang, source) blocks — the verify
  *              path; quadratic only inside a block
  *  - embedding: cosine near-dup within label blocks over Array[Float]
  *
  * All hashing is md5-based (TextFns) so every pipeline has an exact
  * DuckDB oracle. No UDFs; everything stays in whole-stage codegen.
  */
object Dedup {

  /** documents + distinct word-3-shingle set column `sh` (compiled
    * word_shingles kernel; bit-identical to TextFns.shingles — asserted
    * in DotProductSpec). */
  private[graft] def docsWithShingles(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.documents(s, dir)
      .withColumn("toks", TextFns.tokens(col("text")))
      .withColumn("sh", array_distinct(expr("word_shingles(toks, 3)")))
  }

  /** Exact dedup: normalize → md5 → count distinct per language. The
    * distinct runs over the 32-char digest, NOT the normalized text, so
    * the two-phase distinct aggregation shuffles 32-byte keys instead of
    * multi-KB documents — at 100 TB that is the difference between
    * shuffling the corpus and shuffling ~1% of it. The deterministic
    * keep-one variant is groupBy(hash).agg(min(doc_id)) — never
    * dropDuplicates, whose survivor is partition-order-dependent. */
  def exact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("h", md5(TextFns.normalize(col("text"))))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
           countDistinct("h").as("n_unique"),
           (count(lit(1)) - countDistinct("h")).as("n_dupes"))
      .orderBy("lang")

  private val exactSql =
    """SELECT lang, count(*) AS n_docs,
      |       count(DISTINCT md5(regexp_replace(lower(trim(text)), '[^a-z0-9 ]+', ' ', 'g'))) AS n_unique,
      |       count(*) - count(DISTINCT md5(regexp_replace(lower(trim(text)), '[^a-z0-9 ]+', ' ', 'g'))) AS n_dupes
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** MinHash signature length and LSH banding: 24 hashes, 12 bands of 2.
    * S-curve midpoint t≈(1/b)^(1/r) = (1/12)^(1/2) ≈ 0.289 Jaccard — BELOW
    * the 0.3 verify cutoff, so mid-similarity duplicates are caught with
    * high probability (PropertiesSpec plants a 0.35-Jaccard pair and
    * asserts it survives). */
  private[graft] val K = 24
  private val BANDS = 12

  /** Hot-band guard: a band bucket larger than this (boilerplate shingles —
    * headers, licenses) is dropped from candidate generation; its pairs are
    * O(cap²)-bounded instead of quadratic in corpus size. Mirrored by the
    * DuckDB oracle, so the cap is part of the checked semantics. */
  private[graft] val BUCKET_CAP = 64L

  /** Banded-LSH candidate pairs (columns a < b) over a (doc_id, sh) frame.
    * All K hash fns run in one compiled pass per doc (codegen'd
    * MinHashSlicesD; bit-identical to the sliced-md5 SQL form — asserted in
    * DotProductSpec). The self-join shuffles only (doc_id, band, key) rows
    * — never shingle arrays (asserted in PlanShapeSpec) — which is the
    * 100 TB property: candidate generation is linear in corpus size,
    * quadratic only within a (capped) bucket.
    *
    * With `cached = false` the returned frame is a pure lazy plan (what
    * PlanShapeSpec/PropertiesSpec inspect); with `cached = true` it comes
    * back MATERIALIZED (cached + counted, intermediate caches released) so
    * multi-use callers don't recompute the signature stage — those callers
    * unpersist it when done. */
  private[graft] def minhashCandidates(docs: DataFrame,
                                       cached: Boolean = false): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val sigs = docs
      .withColumn("mh", expr("minhash_slices(sh)"))
      .select(
        (col("doc_id") +: (0 until K).map(i => col("mh").getItem(i).as(s"h$i"))): _*)
    val bandCols = (0 until BANDS).map(b =>
      TextFns.bandKey(Seq(col(s"h${2 * b}"), col(s"h${2 * b + 1}"))).as(s"b$b"))
    val kv = sigs.select((col("doc_id") +: bandCols): _*)
      .select(col("doc_id"),
        posexplode(array((0 until BANDS).map(b => col(s"b$b")): _*)))
      .toDF("doc_id", "band", "key")
    // kept is cached while the self-join runs: it feeds BOTH sides and
    // would otherwise recompute the signature stage once per side
    // (profiled 4× recompute = ~75% of this query's runtime uncached)
    val sizes = kv.groupBy("band", "key")
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= BUCKET_CAP)
      .select("band", "key")
    val kept0 = kv.join(sizes, Seq("band", "key"))
    val kept = if (cached) kept0.cache() else kept0
    val cand = kept.as("x").join(kept.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    if (!cached) cand
    else {
      val c = cand.cache()
      c.count() // materialize while kept is cached
      kept.unpersist()
      c
    }
  }

  /** Candidate-pair memo per (session, corpus dir): the banding
    * pipeline's output is bare id pairs — narrow enough to pin as
    * localCheckpoint RDD blocks at any corpus scale — and three queries
    * (the dedup census, the calibration audit, the source-pair rates)
    * consume the IDENTICAL pair set. First touch pays the signature +
    * banded self-join build; the rest reuse it (the [[clusterLabels]] /
    * trained-merges first-touch split). The pinned frame replaces the
    * per-query cache/unpersist dance for the pair set; the wide shingle
    * docs stay per-query caches (pinning corpus-scale arrays is the
    * memory trade the mhidx INDEX TABLE exists for).
    * Keyed on the documents fingerprint, so an IN-PLACE fixture
    * regeneration is a cache miss instead of a stale hit (ADVICE r6). */
  private val candMemo = new graft.Memo.Pinned[DataFrame]("documents")

  private def corpusMinhashCandidates(s: SparkSession, dir: String,
                                      docs: DataFrame): DataFrame =
    candMemo(s, dir) {
      val c = minhashCandidates(docs, cached = true)
      val pinned = c.localCheckpoint()
      c.unpersist(blocking = false)
      pinned
    }

  def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = docsWithShingles(s, dir).select("doc_id", "sh").cache()
    val cand = corpusMinhashCandidates(s, dir, docs)
    // The verify join used to exchange the FULL corpus's shingle-string
    // arrays (every doc, ~840 B/row at the ×100 step — the recurring
    // rowsize flag): below the broadcast threshold the arrays never
    // shuffled, past it they all did. Two cuts keep the exchange
    // candidate-bounded and narrow:
    //  1. only docs that appear in ≥1 candidate pair join at all — the
    //     pair-id set is candidate-bounded (measured sublinear in corpus
    //     rows) and broadcastable; at index scale the bucketed mhidx
    //     table (the q_dedup_incremental path) replaces this probe shape
    //     entirely;
    //  2. the arrays carried through the exchange are 8-byte md5-prefix
    //     digests, not shingle strings — the oracle derives the SAME
    //     60-bit digests, so a prefix collision merges the same two
    //     shingles in both engines and exact Jaccard stays exact.
    val ids = cand.select(explode(array(col("a"), col("b"))).as("doc_id"))
      .distinct()
    val hdocs = docs.join(broadcast(ids), "doc_id")
      .select(col("doc_id"), expr(
        "array_distinct(transform(sh, g -> " +
          "CAST(conv(substr(md5(g), 1, 15), 16, 10) AS BIGINT)))").as("hsh"))
    val verified = cand
      .join(hdocs.as("sa"), col("a") === col("sa.doc_id"))
      .join(hdocs.as("sb"), col("b") === col("sb.doc_id"))
      .withColumn("jac", TextFns.jaccard("sa.hsh", "sb.hsh"))
    // eager counts so every cache this query created can be released
    // HERE (library callers must not depend on a session-wide clearCache)
    val nDocs = docs.count()
    val nCand = cand.count()
    val nVer = verified.filter(col("jac") >= 0.3).count()
    docs.unpersist()
    Seq((nDocs, nCand, nVer)).toDF("n_docs", "n_candidates", "n_verified")
  }

  /** Shared oracle prefix: the full signature → banding → capped-bucket →
    * candidate pipeline as DuckDB CTEs (docs, based, sigs, bands, bsize,
    * kept, cand) — used by the dedup oracle AND the calibration audit. */
  private val minhashCandPrefixSql = {
    val sigCols = (0 until K).map(i =>
      s"list_aggregate(list_transform(hs, h -> substr(h, ${1 + 8 * i}, 8)), 'min') AS h$i")
      .mkString(",\n         ")
    val bandSelects = (0 until BANDS).map(b =>
      s"SELECT doc_id, $b AS band, md5(h${2 * b} || h${2 * b + 1}) AS key FROM sigs")
      .mkString("\n  UNION ALL ")
    s"""WITH docs AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(
       |           generate_series(1, len(string_split(text, ' ')) - 2),
       |           i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) AS sh
       |  FROM documents),
       |based AS (
       |  SELECT doc_id, list_transform(sh, x ->
       |    md5(x) || md5('s:' || x) || md5('t:' || x) ||
       |    md5('u:' || x) || md5('v:' || x) || md5('w:' || x)) AS hs
       |  FROM docs),
       |sigs AS (
       |  SELECT doc_id,
       |         $sigCols
       |  FROM based),
       |bands AS (
       |  $bandSelects),
       |bsize AS (
       |  SELECT band, key FROM bands GROUP BY band, key
       |  HAVING count(*) <= $BUCKET_CAP),
       |kept AS (
       |  SELECT b.doc_id, b.band, b.key
       |  FROM bands b JOIN bsize s ON b.band = s.band AND b.key = s.key),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM kept x JOIN kept y
       |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id)""".stripMargin
  }

  private val minhashLshSql =
    s"""$minhashCandPrefixSql,
       |hd AS (
       |  SELECT doc_id, list_distinct(list_transform(sh, g ->
       |    ('0x' || substr(md5(g), 1, 15))::BIGINT)) AS hsh
       |  FROM docs),
       |ver AS (
       |  SELECT a, b,
       |         CAST(len(list_intersect(sa.hsh, sb.hsh)) AS DOUBLE)
       |           / CAST(len(sa.hsh) + len(sb.hsh) - len(list_intersect(sa.hsh, sb.hsh)) AS DOUBLE) AS jac
       |  FROM cand JOIN hd sa ON a = sa.doc_id JOIN hd sb ON b = sb.doc_id)
       |SELECT (SELECT count(*) FROM docs) AS n_docs,
       |       (SELECT count(*) FROM cand) AS n_candidates,
       |       (SELECT count(*) FROM ver WHERE jac >= 0.3) AS n_verified""".stripMargin

  /** MinHash CALIBRATION audit: for every banding candidate pair, the
    * signature-estimated Jaccard (matching-hash fraction over all K
    * hashes — the textbook unbiased estimator) against the TRUE shingle
    * Jaccard, summarized as mean/max absolute error and signed bias —
    * the dedup counterpart of [[Similarity.annRecall]]: the number that
    * says how far the sketch can be trusted before thresholds move.
    * Expected error scale is ~1/√K ≈ 0.20 at K=$K; a mean error far
    * above that means broken hashing, far below means the bands only
    * surface near-identical pairs.
    *
    * Scale shape: candidate generation is the capped banding pipeline
    * ([[minhashCandidates]]); the estimator joins signatures (K 8-char
    * slices/doc) by id; per-pair errors fix to integer micro-units so
    * the mean is an exact BIGINT-sum quotient in both engines. */
  def minhashCalibration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val docs = docsWithShingles(s, dir).select("doc_id", "sh").cache()
    val cand = corpusMinhashCandidates(s, dir, docs)
    // sigs joins TWICE (side a, side b) and minhash_slices is the
    // expensive per-row kernel (K md5 mins over every shingle) — cache
    // the narrow (doc_id, K-slice array) table so the kernel runs once
    // per doc, not once per join side (r14, guide §1.2 step 2; controlled
    // 8-pass min at sf0.1: 1.28 s → 0.98 s, a same-session re-check read
    // 1.00 s — host band). Unlike the lmScore/dsirAffinity cache
    // losers, both consumers here sit in ONE job (no overlap to lose)
    // and the kernel dominates the fill cost.
    val sigs = docs.withColumn("mh", expr("minhash_slices(sh)"))
      .select("doc_id", "mh")
      .cache()
    val est = (0 until K).map(i =>
        when(col("mha").getItem(i) === col("mhb").getItem(i), 1).otherwise(0))
      .reduce(_ + _) / lit(K.toDouble)
    val pairs = cand
      .join(sigs.select(col("doc_id").as("a"), col("mh").as("mha")), "a")
      .join(sigs.select(col("doc_id").as("b"), col("mh").as("mhb")), "b")
      .join(docs.select(col("doc_id").as("a"), col("sh").as("sha")), "a")
      .join(docs.select(col("doc_id").as("b"), col("sh").as("shb")), "b")
      .withColumn("est", est)
      .withColumn("jac", TextFns.jaccard("sha", "shb"))
      .withColumn("e6",
        floor(abs(col("est") - col("jac")) * lit(1000000.0d) + lit(0.5d)))
      .withColumn("s6",
        floor((col("est") - col("jac")) * lit(1000000.0d) + lit(0.5d)))
    val row = pairs
      .agg(count(lit(1)).as("n"), sum("e6").as("se"),
        max("e6").as("mx"), sum("s6").as("sb"))
      .select(col("n"),
        (floor(col("se").cast("double") / col("n") + lit(0.5d))
          / lit(1000000.0d)).as("mean_abs_err"),
        (col("mx").cast("double") / lit(1000000.0d)).as("max_abs_err"),
        (floor(col("sb").cast("double") / col("n") + lit(0.5d))
          / lit(1000000.0d)).as("mean_bias"))
      .collect()(0)
    docs.unpersist()
    sigs.unpersist()
    Seq((row.getLong(0), row.getDouble(1), row.getDouble(2), row.getDouble(3)))
      .toDF("n_pairs", "mean_abs_err", "max_abs_err", "mean_bias")
  }

  private val minhashCalibrationSql = {
    val matches = (0 until K).map(i =>
      s"CASE WHEN sx.h$i = sy.h$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""$minhashCandPrefixSql,
       |scored AS (
       |  SELECT c.a, c.b,
       |         ($matches) / ${K}.0 AS est,
       |         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |           / CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) AS jac
       |  FROM cand c
       |  JOIN sigs sx ON c.a = sx.doc_id
       |  JOIN sigs sy ON c.b = sy.doc_id
       |  JOIN docs sa ON c.a = sa.doc_id
       |  JOIN docs sb ON c.b = sb.doc_id),
       |e AS (
       |  SELECT CAST(floor(abs(est - jac) * 1000000.0 + 0.5) AS BIGINT) AS e6,
       |         CAST(floor((est - jac) * 1000000.0 + 0.5) AS BIGINT) AS s6
       |  FROM scored)
       |SELECT count(*) AS n_pairs,
       |       floor(CAST(sum(e6) AS DOUBLE) / count(*) + 0.5) / 1000000.0
       |         AS mean_abs_err,
       |       CAST(max(e6) AS DOUBLE) / 1000000.0 AS max_abs_err,
       |       floor(CAST(sum(s6) AS DOUBLE) / count(*) + 0.5) / 1000000.0
       |         AS mean_bias
       |FROM e""".stripMargin
  }

  /** Near-duplicate rate BY SOURCE PAIR: verified near-dup pairs
    * (banding candidates with true Jaccard ≥ 0.3) attributed to the
    * (source_a, source_b) of their documents — the "which feeds
    * duplicate each other" readout that decides what a mixture weights
    * double-count ([[Profiling.sourceOverlap]] sees shared shingles;
    * this sees whole near-duplicate DOCUMENTS). Within-source pairs
    * appear as (s, s) rows.
    *
    * Scale shape: candidate generation is the capped banding pipeline;
    * only (doc_id, source) tuples join onto the verified pair ids; the
    * output is bounded by source-pair count. */
  def dupRateBySource(s: SparkSession, dir: String): DataFrame = {
    val docs = docsWithShingles(s, dir).select("doc_id", "sh").cache()
    val cand = corpusMinhashCandidates(s, dir, docs)
    val src = Tables.documents(s, dir).select("doc_id", "source")
    val verified = cand
      .join(docs.select(col("doc_id").as("a"), col("sh").as("sha")), "a")
      .join(docs.select(col("doc_id").as("b"), col("sh").as("shb")), "b")
      .filter(TextFns.jaccard("sha", "shb") >= 0.3)
      .join(src.select(col("doc_id").as("a"), col("source").as("sa")), "a")
      .join(src.select(col("doc_id").as("b"), col("source").as("sb")), "b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_dup_pairs"))
      .orderBy("source_a", "source_b")
    val out = verified.cache()
    out.count() // materialize before releasing the upstream caches
    docs.unpersist()
    out
  }

  private val dupRateBySourceSql =
    s"""$minhashCandPrefixSql,
       |ver AS (
       |  SELECT c.a, c.b
       |  FROM cand c
       |  JOIN docs sa ON c.a = sa.doc_id
       |  JOIN docs sb ON c.b = sb.doc_id
       |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |        / CAST(len(sa.sh) + len(sb.sh)
       |               - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) >= 0.3),
       |attributed AS (
       |  SELECT least(da.source, db.source) AS source_a,
       |         greatest(da.source, db.source) AS source_b
       |  FROM ver
       |  JOIN documents da ON ver.a = da.doc_id
       |  JOIN documents db ON ver.b = db.doc_id)
       |SELECT source_a, source_b, count(*) AS n_dup_pairs
       |FROM attributed GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** SimHash dedup: one 32-bit signature per doc — the codegen'd
    * [[graft.functions.SimHash32D]] kernel (zero shuffle, compiled loop;
    * bit-identical to the portable-SQL TextFns.simhash32 form, asserted in
    * DotProductSpec) — then collision clusters per language. */
  def simhash(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.documents(s, dir)
      .withColumn("dtoks", array_distinct(TextFns.tokens(col("text"))))
      .withColumn("sig", expr("simhash32_d(dtoks)"))
      .groupBy("lang", "sig")
      .agg(count(lit(1)).as("c"))
      .groupBy("lang")
      .agg(sum("c").cast("long").as("n_docs"),
           count(lit(1)).as("n_signatures"),
           max("c").as("max_cluster"))
      .orderBy("lang")
  }

  private val simhashSql =
    """WITH toks AS (
      |  SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS tok
      |  FROM documents),
      |votes AS (
      |  SELECT doc_id, lang, k,
      |         sum(CASE WHEN ((strpos('0123456789abcdef',
      |                                substr(md5(tok), CAST(k // 4 AS INTEGER) + 1, 1)) - 1)
      |                        // (1 << CAST(k % 4 AS INTEGER))) % 2 = 1
      |                  THEN 1 ELSE -1 END) AS v
      |  FROM toks CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS k) ks
      |  GROUP BY doc_id, lang, k),
      |sig AS (
      |  SELECT doc_id, lang,
      |         CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(k AS INTEGER))
      |                       ELSE 0 END) AS BIGINT) AS sig
      |  FROM votes GROUP BY doc_id, lang),
      |clusters AS (SELECT lang, sig, count(*) AS c FROM sig GROUP BY lang, sig)
      |SELECT lang, CAST(sum(c) AS BIGINT) AS n_docs, count(*) AS n_signatures,
      |       max(c) AS max_cluster
      |FROM clusters GROUP BY lang ORDER BY lang""".stripMargin

  /** Stop-shingle guard for the inverted index: a shingle whose posting
    * list within a block exceeds this many documents is dropped from the
    * index ("of the"-style boilerplate grams — at corpus scale their
    * postings are millions long and the posting self-join on them is the
    * quadratic hot spot). Mirrored by the DuckDB oracle, so the cap is
    * part of the checked semantics; PropertiesSpec asserts the fixture
    * top-k is unchanged by it. */
  private[graft] val POSTING_CAP = 64L

  /** Exact n-gram Jaccard within (lang, source) blocks: the top-10 most
    * similar pairs, via an INVERTED INDEX rather than a block cross-product.
    * Postings (block, shingle) → doc_id self-join on the shingle, so
    * |a∩b| falls out of a groupBy count and only pairs sharing ≥1 shingle
    * are ever materialized. This is the 100 TB shape: work is
    * Σ_term |posting|² (posting length capped at POSTING_CAP), not
    * Σ_block |block|², and the shuffle keys are (block, shingle) strings —
    * never documents. Zero-overlap pairs (jac = 0 by definition) don't
    * appear, which cannot affect a most-similar top-k.
    *
    * `cap` is overridable (PropertiesSpec compares capped vs uncapped);
    * `cached` as in [[minhashCandidates]]. */
  /** documents projected to (lang, source, doc_id, sh2) for the inverted
    * index (distinct word-2-shingles per doc). */
  private[graft] def ngramDocs(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.documents(s, dir)
      .withColumn("toks", TextFns.tokens(col("text")))
      .withColumn("sh2", array_distinct(expr("word_shingles(toks, 2)")))
      .select("lang", "source", "doc_id", "sh2")
  }

  /** Candidate pairs (a < b, shared-shingle count `c`, shingle-set sizes
    * `sza`/`szb`) from the inverted index over a prebuilt ngramDocs frame —
    * exposed so CandidateGuardSpec can bound candidate cardinality on
    * fixtures. The per-doc size rides the postings explode (one int per
    * posting row) and falls out of the pair aggregation as min() of a
    * per-group constant — this saves two doc-table joins, each of which
    * would re-scan and re-shingle the corpus. */
  private[graft] def ngramCandidates(d: DataFrame,
                                     cap: Long = POSTING_CAP): DataFrame = {
    val posts = d.select(col("lang"), col("source"), col("doc_id"),
      size(col("sh2")).as("sz"), explode(col("sh2")).as("g"))
    // posting cap via a window count on the (block, shingle) partition —
    // the q_dup_passages lesson (r11, measured there 1.81 → 1.16 s):
    // the count-agg + semi-join spelling recomputes `posts` (explode of
    // the shingled corpus) once per plan branch, while the window leaves
    // the rows hash-partitioned on the join key so the pair self-join
    // reuses one exchange on both sides
    val kept = posts
      .withColumn("pn", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("lang", "source", "g")))
      .filter(col("pn") <= cap)
      .drop("pn")
    kept.as("x").join(kept.as("y"),
        col("x.lang") === col("y.lang") &&
          col("x.source") === col("y.source") &&
          col("x.g") === col("y.g") &&
          col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.lang").as("lang"), col("x.source").as("source"),
        col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("c"),
        min(col("x.sz")).as("sza"), min(col("y.sz")).as("szb"))
  }

  /** The inverted-index top-10 plan over a prebuilt ngramDocs frame;
    * `cap` is overridable so PropertiesSpec can compare capped vs
    * uncapped. */
  private[graft] def ngramJaccardPlan(d: DataFrame,
                                      cap: Long = POSTING_CAP): DataFrame =
    ngramScored(ngramCandidates(d, cap))

  private def ngramScored(cands: DataFrame): DataFrame =
    cands
      .select(col("lang"), col("source"), col("a"), col("b"),
        Fmt.fix4(col("c").cast("double") /
          (col("sza") + col("szb") - col("c")).cast("double")).as("jac"))
      .orderBy(col("jac").desc, col("a").asc, col("b").asc)
      .limit(10)

  /** Capped ngram candidate-pair memo per (session, corpus dir) — the
    * (lang, source, a, b, c, sza, szb) pair table (ids and counts only,
    * never text) is the shared once-per-corpus build behind THREE
    * consumers: the Jaccard top-10, the containment top-10, and the
    * cluster-label edge set. Same lifecycle discipline as candMemo /
    * labelMemo (fingerprint-keyed, localCheckpoint-pinned). */
  private val ngramCandMemo = new graft.Memo.Pinned[DataFrame]("documents")

  private[graft] def corpusNgramCandidates(s: SparkSession,
                                           dir: String): DataFrame =
    ngramCandMemo(s, dir) {
      ngramCandidates(ngramDocs(s, dir)).localCheckpoint()
    }

  /** Top-10 ngram-Jaccard pairs, from the shared memoized candidate
    * table — the first consumer pays the inverted-index build, the
    * containment and cluster queries reuse it. */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    ngramScored(corpusNgramCandidates(s, dir))

  private val ngramJaccardSql =
    s"""WITH d AS (
      |  SELECT lang, source, doc_id,
      |         list_distinct(list_transform(
      |           generate_series(1, len(string_split(text, ' ')) - 1),
      |           i -> array_to_string((string_split(text, ' '))[i:i+1], ' '))) AS sh2
      |  FROM documents),
      |posts AS (SELECT lang, source, doc_id, unnest(sh2) AS g FROM d),
      |short_postings AS (
      |  SELECT lang, source, g FROM posts GROUP BY lang, source, g
      |  HAVING count(*) <= $POSTING_CAP),
      |kept AS (
      |  SELECT p.lang, p.source, p.doc_id, p.g
      |  FROM posts p JOIN short_postings s
      |    ON p.lang = s.lang AND p.source = s.source AND p.g = s.g),
      |inter AS (
      |  SELECT x.lang AS lang, x.source AS source,
      |         x.doc_id AS a, y.doc_id AS b, count(*) AS c
      |  FROM kept x JOIN kept y
      |    ON x.lang = y.lang AND x.source = y.source AND x.g = y.g
      |   AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2, 3, 4)
      |SELECT i.lang AS lang, i.source AS source, a, b,
      |       floor(CAST(c AS DOUBLE)
      |             / CAST(sa.len_sh + sb.len_sh - c AS DOUBLE)
      |             * 10000.0 + 0.5) / 10000.0 AS jac
      |FROM inter i
      |JOIN (SELECT doc_id, len(sh2) AS len_sh FROM d) sa ON a = sa.doc_id
      |JOIN (SELECT doc_id, len(sh2) AS len_sh FROM d) sb ON b = sb.doc_id
      |ORDER BY jac DESC, a, b LIMIT 10""".stripMargin

  /** Asymmetric CONTAINMENT dedup — |A∩B| / min(|A|, |B|): catches a
    * short document living inside a longer one (quote farms, boilerplate
    * wrappers), which symmetric Jaccard dilutes toward zero as the size
    * ratio grows. Training-data dedup needs both signals: high
    * containment + low Jaccard is exactly the "embedded copy" class.
    * Same capped inverted index as [[ngramJaccard]] — the only new work
    * is the least() in the scoring expression. */
  def ngramContainment(s: SparkSession, dir: String): DataFrame =
    corpusNgramCandidates(s, dir)
      .select(col("lang"), col("source"), col("a"), col("b"),
        Fmt.fix4(col("c").cast("double") /
          least(col("sza"), col("szb")).cast("double")).as("containment"),
        Fmt.fix4(col("c").cast("double") /
          (col("sza") + col("szb") - col("c")).cast("double")).as("jac"))
      .orderBy(col("containment").desc, col("a").asc, col("b").asc)
      .limit(10)

  private val ngramContainmentSql =
    s"""WITH d AS (
      |  SELECT lang, source, doc_id,
      |         list_distinct(list_transform(
      |           generate_series(1, len(string_split(text, ' ')) - 1),
      |           i -> array_to_string((string_split(text, ' '))[i:i+1], ' '))) AS sh2
      |  FROM documents),
      |posts AS (SELECT lang, source, doc_id, unnest(sh2) AS g FROM d),
      |short_postings AS (
      |  SELECT lang, source, g FROM posts GROUP BY lang, source, g
      |  HAVING count(*) <= $POSTING_CAP),
      |kept AS (
      |  SELECT p.lang, p.source, p.doc_id, p.g
      |  FROM posts p JOIN short_postings s
      |    ON p.lang = s.lang AND p.source = s.source AND p.g = s.g),
      |inter AS (
      |  SELECT x.lang AS lang, x.source AS source,
      |         x.doc_id AS a, y.doc_id AS b, count(*) AS c
      |  FROM kept x JOIN kept y
      |    ON x.lang = y.lang AND x.source = y.source AND x.g = y.g
      |   AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2, 3, 4)
      |SELECT i.lang AS lang, i.source AS source, a, b,
      |       floor(CAST(c AS DOUBLE)
      |             / least(sa.len_sh, sb.len_sh)
      |             * 10000.0 + 0.5) / 10000.0 AS containment,
      |       floor(CAST(c AS DOUBLE)
      |             / CAST(sa.len_sh + sb.len_sh - c AS DOUBLE)
      |             * 10000.0 + 0.5) / 10000.0 AS jac
      |FROM inter i
      |JOIN (SELECT doc_id, len(sh2) AS len_sh FROM d) sa ON a = sa.doc_id
      |JOIN (SELECT doc_id, len(sh2) AS len_sh FROM d) sb ON b = sb.doc_id
      |ORDER BY containment DESC, a, b LIMIT 10""".stripMargin

  /** Similarity edges for cluster formation: candidate pairs whose word-
    * 2-shingle Jaccard clears `threshold`, from the same capped inverted
    * index as [[ngramJaccard]]. (a, b) with a < b. */
  private[graft] def similarityEdges(d: DataFrame,
                                     threshold: Double): DataFrame =
    edgesFromCandidates(ngramCandidates(d), threshold)

  private def edgesFromCandidates(cands: DataFrame,
                                  threshold: Double): DataFrame =
    cands
      .filter(col("c").cast("double") /
        (col("sza") + col("szb") - col("c")).cast("double") >= threshold)
      .select("a", "b")

  /** Jaccard threshold above which two documents are duplicate-cluster
    * edges — mirrored into the DuckDB oracle. */
  private[graft] val CLUSTER_JACCARD = 0.5

  /** Cluster output lists at most this many member ids — the full census
    * is `n_docs`. On a real corpus the largest near-dup cluster
    * (boilerplate/template families) has millions of members; an
    * unbounded `collect_list` there is one multi-GB row on one reducer.
    * Mirrored into the DuckDB oracle, so the cap is checked semantics. */
  private[graft] val MEMBER_CAP = 20

  /** Components larger than this are flagged `is_giant` — at corpus scale
    * they are boilerplate families that belong to the exact-hash pass,
    * not near-dup handling. Mirrored into the oracle. */
  private[graft] val COMPONENT_CAP = 1000L

  /** Near-dup CLUSTER formation — the step a real dedup pipeline runs
    * after pair generation: pairs alone cannot dedupe a corpus, because
    * similarity is not transitive-closed (A~B, B~C ⇒ A,B,C must share a
    * fate even when A~C is below threshold). Connected components over
    * the jaccard ≥ 0.5 edge set, labeled by min doc_id — the canonical
    * "keep the representative, drop the rest" structure.
    *
    * Implementation is iterative min-label propagation: each round every
    * node takes the min of its own label and its neighbors' labels; the
    * unique fixpoint labels every node with its component's min doc_id.
    * The driver LOOP is inherent to iterative graph algorithms on Spark
    * (Pregel/GraphX are driver-coordinated supersteps too); per-round work
    * is one join + one aggregate on the EDGE set (never the corpus — only
    * nodes that appear in an edge participate; everything else is a
    * singleton by definition), rounds are bounded by component diameter,
    * and `localCheckpoint` truncates lineage each round so the plan stays
    * flat. Convergence is detected by an exact changed-label count.
    *
    * The DuckDB oracle re-derives the same edges, then computes the same
    * components via a recursive transitive closure — an entirely
    * different algorithm arriving at the same unique fixpoint, which
    * makes this check stronger than a re-implementation twin. */
  def dupClusters(s: SparkSession, dir: String): DataFrame =
    censusFromLabels(corpusClusterLabels(s, dir))

  private[graft] def dupClustersFrom(d: DataFrame): DataFrame =
    // checkpoint the edge set BEFORE symmetrizing: the union's two
    // branches would otherwise each run the whole inverted-index pipeline
    clustersFromEdges(similarityEdges(d, CLUSTER_JACCARD).localCheckpoint())

  /** Cluster-label memo per (session, corpus dir) — cluster formation is
    * once-per-corpus ingest work SHARED by the census, the canonical
    * selection, and the contrastive miner (the [[Bpe]] trainedMerges /
    * [[Similarity]] index-table precedent; the harness fixture dirs are
    * immutable). The memoized frame is localCheckpoint-backed (RDD
    * blocks, not catalog cache), so the per-query `clearCache()` between
    * bench/verify queries does not drop it. */
  private val labelMemo = new graft.Memo.Pinned[DataFrame]("documents")

  private[graft] def corpusClusterLabels(s: SparkSession, dir: String): DataFrame =
    labelMemo(s, dir) {
      clusterLabels(
        edgesFromCandidates(corpusNgramCandidates(s, dir), CLUSTER_JACCARD)
          .localCheckpoint())
    }

  /** Connected components over an (a, b) edge frame via min-label
    * propagation WITH pointer jumping: each round every node takes the min
    * of (its label, its neighbors' labels), then follows its label one hop
    * (label(x) ← label(label(x)) — labels are node ids, so the target is
    * always present). The jump halves remaining chain depth every round,
    * so rounds are O(log diameter) — a million-node chain-shaped component
    * converges in ~20 rounds, where plain propagation needs a round per
    * hop. Non-convergence within `maxRounds` THROWS rather than returning
    * silently-split clusters (a wrong answer is worse than a loud one). */
  /** The label-propagation loop alone: (doc_id, label) for every node
    * that appears in an edge, labels = component-min doc_id at the unique
    * fixpoint. Shared by the census ([[clustersFromEdges]]) and the
    * canonical-representative selection ([[dedupCanonical]]). */
  private[graft] def clusterLabels(edges: DataFrame,
                                   maxRounds: Int = 50): DataFrame =
    clusterLabelsWithRounds(edges, maxRounds)._1

  /** [[clusterLabels]] plus the number of propagation rounds it took —
    * the observable ScalingCurveSpec pins across a 10× corpus step (the
    * O(log diameter) claim: more data in same-shaped components must not
    * mean more rounds). */
  private[graft] def clusterLabelsWithRounds(
      edges: DataFrame, maxRounds: Int = 50): (DataFrame, Int) = {
    val sym = edges.union(edges.select(col("b").as("a"), col("a").as("b")))
    // first propagation round fused into initialization: label(x) =
    // min(x, neighbors(x)) — one aggregation instead of init + round 1
    var labels = sym.groupBy(col("a").as("doc_id"))
      .agg(least(col("a"), min(col("b"))).as("label"))
      .localCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      val nbMin = sym.join(labels, sym("b") === labels("doc_id"))
        .groupBy(sym("a").as("doc_id"))
        .agg(min("label").as("nb_min"))
      val prop = labels.as("l")
        .join(nbMin.as("n"), col("l.doc_id") === col("n.doc_id"), "left")
        .select(col("l.doc_id").as("doc_id"),
          least(col("l.label"),
            coalesce(col("n.nb_min"), col("l.label"))).as("label"))
        .localCheckpoint() // feeds both sides of the jump join below
      val next = prop.as("x")
        .join(prop.select(col("doc_id").as("ld"), col("label").as("ll")).as("p"),
          col("x.label") === col("p.ld"), "left")
        .select(col("x.doc_id").as("doc_id"),
          least(col("x.label"),
            coalesce(col("p.ll"), col("x.label"))).as("label"))
        .localCheckpoint()
      changed = next.as("x").join(labels.as("y"), col("x.doc_id") === col("y.doc_id"))
        .filter(col("x.label") =!= col("y.label")).count()
      labels = next
      rounds += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"dup-cluster label propagation did not converge in $maxRounds " +
          "rounds — component structure exceeds the round budget")
    (labels, rounds)
  }

  private[graft] def clustersFromEdges(edges: DataFrame,
                                       maxRounds: Int = 50): DataFrame =
    censusFromLabels(clusterLabels(edges, maxRounds))

  private def censusFromLabels(labels: DataFrame): DataFrame = {
    // Bounded output: full census (n_docs) + at most MEMBER_CAP member ids.
    // The member list is pre-capped with a per-cluster row_number window
    // (key-partitioned — no global sort) so no aggregation buffer ever
    // holds an unbounded cluster; giants are flagged for the exact-hash
    // pass rather than materialized.
    val counts = labels.groupBy(col("label").as("cluster_rep"))
      .agg(count(lit(1)).as("n_docs"))
    val byCluster = org.apache.spark.sql.expressions.Window
      .partitionBy("label").orderBy("doc_id")
    val capped = labels
      .withColumn("rn", row_number().over(byCluster))
      .filter(col("rn") <= MEMBER_CAP)
      .groupBy(col("label").as("cluster_rep"))
      .agg(concat_ws(",", sort_array(collect_list(col("doc_id"))))
        .as("members"))
    counts.join(capped, "cluster_rep")
      .select(col("cluster_rep"), col("n_docs"), col("members"),
        (col("n_docs") > COMPONENT_CAP).as("is_giant"))
      .orderBy("cluster_rep")
  }

  /** Shared oracle chain: documents → shingles → postings → candidate
    * pairs → jaccard edges → recursive transitive closure → per-doc
    * component label (`lab`). Prefixed by WITH RECURSIVE at the use
    * sites. */
  private[graft] val clusterLabChainSql =
    s"""d AS (
      |  SELECT lang, source, doc_id,
      |         list_distinct(list_transform(
      |           generate_series(1, len(string_split(text, ' ')) - 1),
      |           i -> array_to_string((string_split(text, ' '))[i:i+1], ' '))) AS sh2
      |  FROM documents),
      |posts AS (SELECT lang, source, doc_id, unnest(sh2) AS g FROM d),
      |short_postings AS (
      |  SELECT lang, source, g FROM posts GROUP BY lang, source, g
      |  HAVING count(*) <= $POSTING_CAP),
      |kept AS (
      |  SELECT p.lang, p.source, p.doc_id, p.g
      |  FROM posts p JOIN short_postings s
      |    ON p.lang = s.lang AND p.source = s.source AND p.g = s.g),
      |inter AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
      |  FROM kept x JOIN kept y
      |    ON x.lang = y.lang AND x.source = y.source AND x.g = y.g
      |   AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2),
      |edges AS (
      |  SELECT a, b FROM inter i
      |  JOIN (SELECT doc_id, len(sh2) AS sz FROM d) sa ON a = sa.doc_id
      |  JOIN (SELECT doc_id, len(sh2) AS sz FROM d) sb ON b = sb.doc_id
      |  WHERE CAST(c AS DOUBLE) / CAST(sa.sz + sb.sz - c AS DOUBLE)
      |        >= $CLUSTER_JACCARD),
      |sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
      |reach(src, node) AS (
      |  SELECT a, a FROM sym
      |  UNION
      |  SELECT r.src, s.b FROM reach r JOIN sym s ON r.node = s.a),
      |lab AS (SELECT src AS doc_id, min(node) AS label FROM reach GROUP BY src)""".stripMargin

  private val dupClustersSql =
    s"""WITH RECURSIVE $clusterLabChainSql
      |SELECT label AS cluster_rep, count(*) AS n_docs,
      |       array_to_string((list_sort(list(doc_id)))[1:$MEMBER_CAP], ',') AS members,
      |       count(*) > $COMPONENT_CAP AS is_giant
      |FROM lab GROUP BY label ORDER BY cluster_rep""".stripMargin

  /** Canonical-representative selection — the decision step AFTER cluster
    * formation: every near-dup cluster keeps exactly one document, chosen
    * by quality (the same cheap composite the curation filter uses:
    * stopword ratio + length + word-length-band), everything else drops.
    * This is the operator that actually shrinks a corpus; the census
    * ([[dupClusters]]) only describes it.
    *
    * Exactness: the quality composite is row-local IEEE arithmetic fixed
    * to 1e-6 integer units BEFORE ranking, so the per-cluster argmax is
    * an integer compare with a doc_id tiebreak — engine-identical. Top
    * clusters by size (doc_id tiebreak) keep the output bounded. */
  /** The canonical-pick quality composite in 1e-6 integer units —
    * (doc_id, s6). Shared by [[dedupCanonical]] and
    * [[graft.operators.Curation.corpusFunnel]] so both stages apply the
    * SAME keep rule (and the same FP-op sequence the oracle replays). */
  private[graft] def canonicalScore6(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("n_tok", size(split(col("text"), " ")).cast("double"))
      .withColumn("avg_wlen",
        (length(col("text")) - col("n_tok") + lit(1.0d)) / col("n_tok"))
      .withColumn("stop_ratio",
        expr("size(filter(split(text, ' '), x -> x = 'the' OR x = 'a'))")
          .cast("double") / col("n_tok"))
      .select(col("doc_id"),
        floor((lit(0.5d) * col("stop_ratio")
          + lit(0.3d) * least(col("n_tok") / lit(100.0d), lit(1.0d))
          + lit(0.2d) * when(col("avg_wlen").between(3.0d, 8.0d), lit(1.0d))
            .otherwise(lit(0.0d)))
          * lit(1000000.0d) + lit(0.5d)).cast("long").as("s6"))

  def dedupCanonical(s: SparkSession, dir: String): DataFrame = {
    val labels = corpusClusterLabels(s, dir)
    val score = canonicalScore6(s, dir)
    val byCluster = org.apache.spark.sql.expressions.Window
      .partitionBy("label").orderBy(col("s6").desc, col("doc_id").asc)
    val counts = labels.groupBy("label").agg(count(lit(1)).as("n_docs"))
    labels.join(score, "doc_id")
      .withColumn("rn", row_number().over(byCluster))
      .filter(col("rn") === 1)
      .join(counts, "label")
      .select(col("label").as("cluster_rep"), col("n_docs"),
        col("doc_id").as("keep_doc_id"),
        (expr("(s6 + 50L) div 100L").cast("double") / lit(10000.0d))
          .as("keep_score"),
        (col("n_docs") - 1).as("n_dropped"))
      .orderBy(col("n_docs").desc, col("cluster_rep").asc)
      .limit(20)
  }

  /** Positive pairs emitted per cluster. */
  private val POS_K = 5

  /** Contrastive positive-pair mining — the training-data complement of
    * [[graft.operators.Curation]]'s negative sampler: near-dup clusters
    * are exactly the "same content, different surface" pairs an
    * embedding model trains on. Each cluster's representative (its min
    * doc_id — the label itself) anchors up to POS_K members as
    * positives, so pair generation is LINEAR in cluster size (never the
    * quadratic all-pairs within a cluster), capped, and deterministic
    * (members rank by doc_id). */
  def contrastivePairs(s: SparkSession, dir: String): DataFrame = {
    val labels = corpusClusterLabels(s, dir)
    val byCluster = org.apache.spark.sql.expressions.Window
      .partitionBy("label").orderBy("doc_id")
    labels.filter(col("doc_id") =!= col("label"))
      .withColumn("slot", row_number().over(byCluster))
      .filter(col("slot") <= POS_K)
      .select(col("label").as("anchor_id"), col("slot").cast("long").as("slot"),
        col("doc_id").as("positive_id"))
      .orderBy("anchor_id", "slot")
  }

  private val contrastivePairsSql =
    s"""WITH RECURSIVE $clusterLabChainSql
      |SELECT label AS anchor_id, CAST(slot AS BIGINT) AS slot,
      |       doc_id AS positive_id
      |FROM (
      |  SELECT label, doc_id,
      |         row_number() OVER (PARTITION BY label ORDER BY doc_id) AS slot
      |  FROM lab WHERE doc_id <> label)
      |WHERE slot <= $POS_K
      |ORDER BY anchor_id, slot""".stripMargin

  /** Cluster-aware train/val/test split — the assignment step that makes
    * near-dup handling actually matter: if two near-duplicate documents
    * land in train and test, the eval leaks. Split is a PURE FUNCTION of
    * the cluster representative (md5-bucket of the component label;
    * singletons represent themselves), so every member of a near-dup
    * cluster lands in the same split BY CONSTRUCTION — leakage-free
    * without any cross-split join. The census still COMPUTES the
    * straddling-cluster count (rather than asserting it) so a future
    * change to the assignment function that breaks the invariant shows
    * up as a nonzero column, not a silent leak.
    *
    * Scale shape: the per-doc work is one broadcast-free left join
    * against the (doc_id, label) frame — id pairs only — then a
    * row-local hash; aggregates shuffle (rep, split) ids. The label
    * build is the shared memoized once-per-corpus step. */
  /** (doc_id, n_toks, rep, split) assignment frame — the cluster-aware
    * split shared by [[splitAssign]] and the contamination audit. */
  private def splitFrame(s: SparkSession, dir: String): DataFrame = {
    val labels = corpusClusterLabels(s, dir)
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("label"), col("doc_id")))
      .withColumn("h",
        expr("CAST(conv(substr(md5(concat(CAST(rep AS STRING), ':sp')), 1, 8), 16, 10) AS BIGINT)"))
      .withColumn("split",
        expr("CASE WHEN h % 10 < 8 THEN 'train' WHEN h % 10 = 8 THEN 'val' ELSE 'test' END"))
  }

  def splitAssign(s: SparkSession, dir: String): DataFrame = {
    val asg = splitFrame(s, dir)
    val straddle = asg.groupBy("rep")
      .agg(countDistinct("split").as("ns"))
      .agg(sum(when(col("ns") > 1, 1L).otherwise(0L)).as("n_straddling"))
    val W = org.apache.spark.sql.expressions.Window
    val wAll = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    asg.groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("rep").as("n_clusters"),
        sum("n_toks").as("n_toks"))
      .crossJoin(broadcast(straddle))
      .select(col("split"), col("n_docs"), col("n_clusters"), col("n_toks"),
        (floor(col("n_docs").cast("double") / sum("n_docs").over(wAll)
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("pct_docs"),
        col("n_straddling").as("n_straddling_clusters"))
      .orderBy("split")
  }

  private val splitAssignSql =
    s"""WITH RECURSIVE $clusterLabChainSql,
      |alld AS (
      |  SELECT d0.doc_id,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
      |         coalesce(l.label, d0.doc_id) AS rep
      |  FROM documents d0 LEFT JOIN lab l ON d0.doc_id = l.doc_id),
      |asg AS (
      |  SELECT rep, n_toks,
      |         CASE WHEN h % 10 < 8 THEN 'train'
      |              WHEN h % 10 = 8 THEN 'val' ELSE 'test' END AS split
      |  FROM (SELECT rep, n_toks,
      |               ('0x' || substr(md5(CAST(rep AS VARCHAR) || ':sp'), 1, 8))
      |                 ::BIGINT AS h
      |        FROM alld)),
      |str AS (
      |  SELECT CAST(count(*) FILTER (ns > 1) AS BIGINT) AS n_straddling
      |  FROM (SELECT rep, count(DISTINCT split) AS ns FROM asg GROUP BY rep)),
      |agg AS (
      |  SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(count(DISTINCT rep) AS BIGINT) AS n_clusters,
      |         CAST(sum(n_toks) AS BIGINT) AS n_toks
      |  FROM asg GROUP BY split)
      |SELECT split, n_docs, n_clusters, n_toks,
      |       floor(CAST(n_docs AS DOUBLE) / sum(n_docs) OVER ()
      |             * 10000.0 + 0.5) / 10000.0 AS pct_docs,
      |       n_straddling AS n_straddling_clusters
      |FROM agg CROSS JOIN str ORDER BY split""".stripMargin

  /** Contamination n-gram width. */
  private val CONTAM_N = 8

  /** Per-source n-gram novelty census — the memorization-risk table: how
    * much of each source's 8-gram stream is a repeat (within or across
    * its documents). High duplication predicts verbatim regurgitation
    * after training; this is the gram-level complement of the doc-level
    * dedup family. Grams hash to md5 digests in-scan, so the exact
    * distinct shuffles 32-byte keys, never gram text. */
  def ngramNovelty(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.documents(s, dir)
      .select(col("source"),
        explode(expr(s"word_shingles(split(text, ' '), $CONTAM_N)")).as("g"))
      .select(col("source"), md5(col("g")).as("h"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_grams"),
        countDistinct(col("h")).as("n_distinct"))
      .select(col("source"), col("n_grams"), col("n_distinct"),
        (floor((col("n_grams") - col("n_distinct")).cast("double")
          / col("n_grams").cast("double") * lit(10000.0d) + lit(0.5d))
          / lit(10000.0d)).as("dup_rate"))
      .orderBy("source")
  }

  private val ngramNoveltySql =
    s"""WITH g AS (
      |  SELECT source, md5(g) AS h
      |  FROM (
      |    SELECT source,
      |           unnest(CASE WHEN len(string_split(text, ' ')) >= $CONTAM_N
      |             THEN list_transform(
      |               range(1, len(string_split(text, ' ')) - ${CONTAM_N - 2}),
      |               i -> array_to_string(
      |                 string_split(text, ' ')[i:i+${CONTAM_N - 1}], ' '))
      |             ELSE [] END) AS g
      |    FROM documents))
      |SELECT source, count(*) AS n_grams,
      |       CAST(count(DISTINCT h) AS BIGINT) AS n_distinct,
      |       floor(CAST(count(*) - count(DISTINCT h) AS DOUBLE)
      |             / count(*) * 10000.0 + 0.5) / 10000.0 AS dup_rate
      |FROM g GROUP BY source ORDER BY source""".stripMargin

  /** Train→test contamination audit, cluster-aware vs naive split: the
    * fraction of the test split's distinct 8-grams that also appear in
    * train — the eval-leakage number — measured for BOTH the
    * [[splitFrame]] assignment (split by near-dup cluster representative)
    * and a naive per-document hash split. The cluster-aware row should
    * come out lower: near-duplicate documents are the main way verbatim
    * grams straddle a naive split, and the cluster split pins them
    * together by construction (spec-asserted; the ordering is a property
    * of the data, the NUMBERS are oracle-checked).
    *
    * Scale shape: ONE shingle pass serving both methods. The two split
    * assignments attach at the DOCUMENT level (the cluster split joins a
    * doc-keyed frame, the naive split is doc_id arithmetic) BEFORE the
    * gram explode, so no token-scale row ever joins anything; each gram
    * carries FOUR presence flags (cluster-test/train, naive-test/train)
    * through ONE groupBy(digest), replacing first the per-method
    * distinct + digest self-join (20× the bytes at the 10× step) and
    * then the stack()-doubled (method, digest) agg, whose partial
    * HashAggregate over 2× gram rows keyed by 32-char md5 strings was
    * the 1.6 GB skew-leg spill at ×100 (probed to the stage: the
    * explode→partial-agg map stage, not label propagation). The digest
    * is the md5's leading 60 bits as a BIGINT — grouping keys go from
    * 32-byte strings to 8-byte longs, and the oracle derives the SAME
    * prefix digest, so any prefix collision merges the same two grams
    * in both engines (cross-engine exactness does not rest on
    * collision-freeness). */
  def splitContamination(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val cluster = splitFrame(s, dir)
      .select(col("doc_id"), col("split").as("cluster_split"))
    val docs = Tables.documents(s, dir).select("doc_id", "text")
      .join(cluster, "doc_id")
      .withColumn("h0",
        expr("CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':sp')), 1, 8), 16, 10) AS BIGINT)"))
      .withColumn("naive_split",
        expr("CASE WHEN h0 % 10 < 8 THEN 'train' WHEN h0 % 10 = 8 THEN 'val' ELSE 'test' END"))
    val grams = docs
      .select(col("cluster_split"), col("naive_split"),
        explode(expr(s"array_distinct(word_shingles(split(text, ' '), $CONTAM_N))"))
          .as("g"))
      .select(
        expr("CAST(conv(substr(md5(g), 1, 15), 16, 10) AS BIGINT)").as("h"),
        (col("cluster_split") === "test").cast("long").as("ct"),
        (col("cluster_split") === "train").cast("long").as("ctr"),
        (col("naive_split") === "test").cast("long").as("nt"),
        (col("naive_split") === "train").cast("long").as("ntr"))
    grams.groupBy("h")
      .agg(max("ct").as("ct"), max("ctr").as("ctr"),
        max("nt").as("nt"), max("ntr").as("ntr"))
      .agg(sum(col("ct")).as("c_test"),
        sum(col("ct") * col("ctr")).as("c_shared"),
        sum(col("nt")).as("n_test"),
        sum(col("nt") * col("ntr")).as("n_shared"))
      .selectExpr("stack(2, 'cluster', c_test, c_shared, " +
        "'naive', n_test, n_shared) AS (method, n_test_grams, n_shared)")
      .select(col("method"), col("n_test_grams"), col("n_shared"),
        (floor(col("n_shared").cast("double")
          / col("n_test_grams").cast("double") * lit(10000.0d)
          + lit(0.5d)) / lit(10000.0d)).as("contamination_rate"))
      .orderBy("method")
  }

  private val splitContaminationSql = {
    val gramCte =
      s"""gr AS MATERIALIZED (
        |  SELECT DISTINCT doc_id,
        |         ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
        |  FROM (
        |    SELECT doc_id,
        |           unnest(CASE WHEN len(string_split(text, ' ')) >= $CONTAM_N
        |             THEN list_transform(
        |               range(1, len(string_split(text, ' ')) - ${CONTAM_N - 2}),
        |               i -> array_to_string(
        |                 string_split(text, ' ')[i:i+${CONTAM_N - 1}], ' '))
        |             ELSE [] END) AS g
        |    FROM documents))""".stripMargin
    def auditSql(asgCte: String, method: String) =
      s"""SELECT '$method' AS method,
        |       (SELECT CAST(count(DISTINCT h) AS BIGINT) FROM $asgCte a
        |        JOIN gr USING (doc_id) WHERE a.split = 'test') AS n_test_grams,
        |       (SELECT CAST(count(*) AS BIGINT) FROM
        |          (SELECT DISTINCT h FROM $asgCte a JOIN gr USING (doc_id)
        |           WHERE a.split = 'test') t
        |        WHERE t.h IN (SELECT h FROM $asgCte a JOIN gr USING (doc_id)
        |                      WHERE a.split = 'train')) AS n_shared""".stripMargin
    s"""WITH RECURSIVE $clusterLabChainSql,
      |$gramCte,
      |casg AS MATERIALIZED (
      |  SELECT d0.doc_id,
      |         CASE WHEN h % 10 < 8 THEN 'train'
      |              WHEN h % 10 = 8 THEN 'val' ELSE 'test' END AS split
      |  FROM (SELECT d0.doc_id,
      |               ('0x' || substr(md5(CAST(coalesce(l.label, d0.doc_id)
      |                 AS VARCHAR) || ':sp'), 1, 8))::BIGINT AS h
      |        FROM documents d0 LEFT JOIN lab l ON d0.doc_id = l.doc_id)
      |          d0),
      |nasg AS MATERIALIZED (
      |  SELECT doc_id,
      |         CASE WHEN h % 10 < 8 THEN 'train'
      |              WHEN h % 10 = 8 THEN 'val' ELSE 'test' END AS split
      |  FROM (SELECT doc_id,
      |               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':sp'),
      |                               1, 8))::BIGINT AS h
      |        FROM documents))
      |SELECT method, n_test_grams, n_shared,
      |       floor(CAST(n_shared AS DOUBLE) / CAST(n_test_grams AS DOUBLE)
      |             * 10000.0 + 0.5) / 10000.0 AS contamination_rate
      |FROM (
      |${auditSql("casg", "cluster")}
      |UNION ALL
      |${auditSql("nasg", "naive")})
      |ORDER BY method""".stripMargin
  }

  private val dedupCanonicalSql =
    s"""WITH RECURSIVE $clusterLabChainSql,
      |score AS (
      |  SELECT doc_id,
      |         CAST(floor((0.5 * stop_ratio + 0.3 * least(n_tok / 100.0, 1.0)
      |               + 0.2 * (CASE WHEN avg_wlen BETWEEN 3 AND 8
      |                        THEN 1.0 ELSE 0.0 END))
      |               * 1000000.0 + 0.5) AS BIGINT) AS s6
      |  FROM (SELECT doc_id,
      |               CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
      |               (length(text) - CAST(len(string_split(text, ' ')) AS DOUBLE)
      |                  + 1) / CAST(len(string_split(text, ' ')) AS DOUBLE)
      |                 AS avg_wlen,
      |               CAST(len(list_filter(string_split(text, ' '),
      |                                    x -> x = 'the' OR x = 'a')) AS DOUBLE)
      |                 / CAST(len(string_split(text, ' ')) AS DOUBLE)
      |                 AS stop_ratio
      |        FROM documents)),
      |cnt AS (SELECT label, CAST(count(*) AS BIGINT) AS n_docs
      |        FROM lab GROUP BY label),
      |pick AS (
      |  SELECT label, doc_id, s6,
      |         row_number() OVER (PARTITION BY label
      |                            ORDER BY s6 DESC, doc_id) AS rn
      |  FROM lab JOIN score USING (doc_id))
      |SELECT p.label AS cluster_rep, c.n_docs, p.doc_id AS keep_doc_id,
      |       CAST((p.s6 + 50) // 100 AS DOUBLE) / 10000.0 AS keep_score,
      |       c.n_docs - 1 AS n_dropped
      |FROM pick p JOIN cnt c ON p.label = c.label
      |WHERE p.rn = 1
      |ORDER BY c.n_docs DESC, cluster_rep LIMIT 20""".stripMargin

  /** Embedding cosine near-dup: top-10 most similar candidate pairs, where
    * candidates come from random-hyperplane LSH BANDING — never an
    * all-pairs join. Each vector gets a 16-bit hyperplane signature (the
    * deterministic md5-weight planes of [[graft.functions.VectorFns]],
    * shared with q_sim_ann_lsh), split into 4 bands of 4 bits; a pair is a
    * candidate iff it matches on (label, band, nibble) for ≥1 band — an
    * equi-join on small integer keys, quadratic only within a band bucket,
    * linear in corpus size overall. Candidates are then exactly rescored in
    * double precision (float32 inputs widened; DuckDB's
    * list_cosine_similarity stays float32 and would diverge in the 7th
    * digit). The DuckDB oracle re-derives signatures, bands, and rescore
    * from the same md5 formula, so the check stays exact — it verifies
    * implementation equivalence, not recall. Banding recall is tuned for
    * the near-duplicate regime (cos ≥ ~0.95, where ≥1-of-4 bands match
    * with probability ≈1) and is guarded by CandidateGuardSpec's
    * planted-near-dup test; in low-similarity regimes (the fixture's
    * organic top pairs sit at cos ~0.4) banded top-k intentionally differs
    * from exact top-k — exact low-threshold search needs the brute path
    * (q_sim_topk). */
  /** Banded-LSH candidate pairs (label, va < vb) over a corpus frame with a
    * hyperplane signature column `sig` — exposed so CandidateGuardSpec can
    * bound candidate cardinality on fixtures. */
  private[graft] def embedCandidates(e: DataFrame,
                                     bands: Int = 4, bits: Int = 4): DataFrame = {
    // (vec_id, label, band, nib): 4 small-int rows per vector — the only
    // thing the candidate self-join shuffles (never the embeddings)
    val keyed = e.select(col("vec_id"), col("label"),
        posexplode(array((0 until bands).map(b =>
          shiftright(col("sig"), b * bits).bitwiseAND(lit((1 << bits) - 1))): _*)))
      .toDF("vec_id", "label", "band", "nib")
    keyed.as("x").join(keyed.as("y"),
        col("x.label") === col("y.label") &&
        col("x.band") === col("y.band") &&
        col("x.nib") === col("y.nib") &&
        col("x.vec_id") < col("y.vec_id"))
      .select(col("x.label").as("label"),
        col("x.vec_id").as("va"), col("y.vec_id").as("vb"))
      .distinct()
  }

  def embedCosine(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFns
    val bands = 4; val bits = 4
    val e = Similarity.corpus(s, dir)
      .withColumn("sig", expr(VectorFns.lshSignatureSql("emb", bands * bits, 64)))
    val cand = embedCandidates(e, bands, bits)
    cand
      .join(e.select(col("vec_id"), col("emb").as("ea"), col("nrm").as("na")),
        col("va") === col("vec_id")).drop("vec_id")
      .join(e.select(col("vec_id"), col("emb").as("eb"), col("nrm").as("nb")),
        col("vb") === col("vec_id")).drop("vec_id")
      .select(col("label"), col("va"), col("vb"),
        Fmt.fix4(VectorFns.cosineWithNorms("ea", "eb", "na", "nb"))
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("va").asc, col("vb").asc)
      .limit(10)
  }

  private val embedCosineSql = {
    // same derivation as q_sim_ann_lsh's oracle: per-plane ±1 weights from
    // md5(plane:dim), sequential list_dot_product folds (bit-identical to
    // Spark's dot_d over the inlined literals)
    """WITH e AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
      |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings),
      |w AS (
      |  SELECT m,
      |         list_transform(generate_series(0, 63), j ->
      |           CASE WHEN strpos('0123456789abcdef', substr(md5(m || ':' || j), 1, 1)) - 1 >= 8
      |                THEN 1.0 ELSE -1.0 END) AS wt
      |  FROM (SELECT unnest(generate_series(0, 15)) AS m)),
      |sig AS (
      |  SELECT vec_id,
      |         CAST(sum(CASE WHEN list_dot_product(emb, wt) > 0
      |                       THEN (CAST(1 AS BIGINT) << CAST(m AS INTEGER))
      |                       ELSE 0 END) AS BIGINT) AS sig
      |  FROM e, w GROUP BY vec_id),
      |keyed AS (
      |  SELECT e.vec_id, e.label, b.band,
      |         CAST((sig.sig >> (4 * b.band)) & 15 AS INTEGER) AS nib
      |  FROM e JOIN sig ON e.vec_id = sig.vec_id
      |  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) b),
      |cand AS (
      |  SELECT DISTINCT x.label AS label, x.vec_id AS va, y.vec_id AS vb
      |  FROM keyed x JOIN keyed y
      |    ON x.label = y.label AND x.band = y.band AND x.nib = y.nib
      |   AND x.vec_id < y.vec_id)
      |SELECT c.label AS label, va, vb,
      |       floor(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm)
      |             * 10000.0 + 0.5) / 10000.0 AS cos_sim
      |FROM cand c
      |JOIN e a ON va = a.vec_id
      |JOIN e b ON vb = b.vec_id
      |ORDER BY cos_sim DESC, va, vb LIMIT 10""".stripMargin
  }

  /** Batch-membership predicate for the incremental-dedup demonstration:
    * doc_id % 17 == 3 plays the "newly arriving batch"; everything else is
    * the already-ingested corpus. Mirrored into the DuckDB oracle and
    * shared by [[graft.sources.AppendJob]]. */
  private[graft] val BATCH_MOD = 17L
  private[graft] val BATCH_REM = 3L

  /** MinHash band-index rows for a (doc_id, sh) frame: one row per
    * (doc, band) carrying the doc's full K-component signature plus its
    * (band, key, nib) bucket. `cap` drops hot buckets (boilerplate
    * shingle families) with the [[BUCKET_CAP]] semantics; pass None when
    * extending an existing index incrementally (re-capping across
    * old+new rows is a compaction concern, not an append concern). */
  private[graft] def minhashBandRows(docs: DataFrame,
                                     cap: Option[Long]): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val sigs = docs
      .withColumn("mh", expr("minhash_slices(sh)"))
      .select(col("doc_id") +:
        (0 until K).map(i => col("mh").getItem(i).as(s"h$i")): _*)
    val kv = sigs.select(
        (col("doc_id") +: (0 until K).map(i => col(s"h$i"))) :+
          posexplode(array((0 until BANDS).map(b =>
            TextFns.bandKey(Seq(col(s"h${2 * b}"), col(s"h${2 * b + 1}")))): _*)): _*)
      .toDF(("doc_id" +: (0 until K).map(i => s"h$i")) ++ Seq("band", "key"): _*)
      .withColumn("nib", substring(col("key"), 1, 1))
    cap.fold(kv) { c =>
      val sizes = kv.groupBy("band", "key")
        .agg(count(lit(1)).as("bn"))
        .filter(col("bn") <= c)
        .select("band", "key")
      kv.join(sizes, Seq("band", "key"))
    }
  }

  /** Probe a batch of (doc_id, sh) documents against a band-index frame:
    * (b_doc, doc_id, est_jac) for every (batch, indexed) pair sharing ≥1
    * band bucket, scored by signature-estimated Jaccard. Everything the
    * verify needs rides in the index row — the indexed corpus text is
    * never touched.
    *
    * Plan shape (the 100 TB concern): the index side of the bucket join
    * must NEVER be exchanged — its rows are wide (K signature columns ×
    * BANDS rows per doc), and shipping them through a shuffle is
    * invisible at small scale (AQE broadcasts the probe side, nothing
    * moves) but past the broadcast threshold it ships the whole index
    * through a sort-merge exchange (measured at the 10× step: 0.2 →
    * 134 MB shuffle, 15× wall). The index table is therefore BUCKETED
    * by the full join key (band, nib, key) at build time
    * ([[ensureMinhashIndexTable]]) so the join reads it in place
    * bucket-by-bucket — only the narrow probe side is shuffled, into the
    * index's bucket layout. PlanShapeSpec pins the no-exchange-over-
    * index property with broadcast disabled. */
  private[graft] def probeMinhashIndex(idx: DataFrame,
                                       batch: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(batch.sparkSession)
    val bsigs = batch
      .withColumn("mh", expr("minhash_slices(sh)"))
      .select(col("doc_id").as("b_doc") +:
        (0 until K).map(i => col("mh").getItem(i).as(s"q$i")): _*)
    val probes = bsigs.select(
        (col("b_doc") +: (0 until K).map(i => col(s"q$i"))) :+
          posexplode(array((0 until BANDS).map(b =>
            TextFns.bandKey(Seq(col(s"q${2 * b}"), col(s"q${2 * b + 1}")))): _*)): _*)
      .toDF(("b_doc" +: (0 until K).map(i => s"q$i")) ++ Seq("band", "key"): _*)
      .withColumn("nib", substring(col("key"), 1, 1))
    val nMatch = (0 until K)
      .map(i => when(col(s"h$i") === col(s"q$i"), 1).otherwise(0))
      .reduce(_ + _)
    // score BEFORE the pair dedup: est_jac is row-local and identical on
    // every duplicate of a pair (same two signatures), so deduping the
    // scored 3-column frame is equivalent — and the dedup exchange then
    // moves (b_doc, doc_id, est_jac), not the 2K signature columns
    idx.join(probes, Seq("band", "nib", "key"))
      .withColumn("est_jac", Fmt.fix4(nMatch.cast("double") / lit(K)))
      .select("b_doc", "doc_id", "est_jac")
      .dropDuplicates("b_doc", "doc_id")
  }

  /** Ingest-time MinHash band index over the CORPUS documents, BUCKETED
    * by the probe join key (band, nib, key) — the probe's bucket join
    * then reads the index exchange-free (only the narrow batch side
    * shuffles, into the index's bucket layout), which is what keeps the
    * wide signature rows off the wire at any scale. Built once per
    * (dir, data fingerprint) via the same scaffold as the ANN index
    * tables — the corpus is shingled exactly once, at ingest. Hot
    * buckets (> BUCKET_CAP corpus docs) are dropped at build time, same
    * semantics as [[minhashCandidates]]. */
  private[graft] def ensureMinhashIndexTable(s: SparkSession,
                                             dir: String): String =
    Similarity.ensureIndexTable(s, dir, "mhidx", srcTable = "documents",
      bucketCols = Seq("band", "nib", "key")) {
      minhashBandRows(
        docsWithShingles(s, dir)
          .filter(pmod(col("doc_id"), lit(BATCH_MOD)) =!= BATCH_REM),
        cap = Some(BUCKET_CAP))
    }(Nil)

  /** Incremental dedup — the operation an appending lake runs on every
    * load: probe a NEW batch of documents against the ingest-time band
    * index WITHOUT rescanning or re-shingling the existing corpus (the
    * reference only ever overwrites its tables, `job1:295-335`; this is
    * the append-side complement). The batch is shingled and signed; its
    * band keys join the index's (band, nib, key) bucket columns; matched
    * pairs are scored by SIGNATURE-estimated Jaccard (matching components
    * / K) — everything the verify needs rides in the index row, so the
    * corpus text is never touched. Top-20 most similar (batch, corpus)
    * pairs; est_jac is deterministic md5 arithmetic, so the DuckDB oracle
    * replays it exactly. */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureMinhashIndexTable(s, dir)
    val batch = docsWithShingles(s, dir)
      .filter(pmod(col("doc_id"), lit(BATCH_MOD)) === BATCH_REM)
    probeMinhashIndex(s.table(tbl), batch)
      .select(col("b_doc").as("batch_doc"),
        col("doc_id").as("corpus_doc"), col("est_jac"))
      .orderBy(col("est_jac").desc, col("batch_doc").asc,
        col("corpus_doc").asc)
      .limit(20)
  }

  private val dedupIncrementalSql = {
    val sigCols = (0 until K).map(i =>
      s"list_aggregate(list_transform(hs, h -> substr(h, ${1 + 8 * i}, 8)), 'min') AS h$i")
      .mkString(",\n         ")
    val corpBands = (0 until BANDS).map(b =>
      s"SELECT doc_id, $b AS band, md5(h${2 * b} || h${2 * b + 1}) AS key FROM corp")
      .mkString("\n  UNION ALL ")
    val batBands = (0 until BANDS).map(b =>
      s"SELECT doc_id, $b AS band, md5(h${2 * b} || h${2 * b + 1}) AS key FROM bat")
      .mkString("\n  UNION ALL ")
    val matchSum = (0 until K).map(i =>
      s"CASE WHEN cs.h$i = bs.h$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH docs AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(
       |           generate_series(1, len(string_split(text, ' ')) - 2),
       |           i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) AS sh
       |  FROM documents),
       |based AS (
       |  SELECT doc_id, list_transform(sh, x ->
       |    md5(x) || md5('s:' || x) || md5('t:' || x) ||
       |    md5('u:' || x) || md5('v:' || x) || md5('w:' || x)) AS hs
       |  FROM docs),
       |sigs AS (
       |  SELECT doc_id,
       |         $sigCols
       |  FROM based),
       |corp AS (SELECT * FROM sigs WHERE doc_id % $BATCH_MOD <> $BATCH_REM),
       |bat AS (SELECT * FROM sigs WHERE doc_id % $BATCH_MOD = $BATCH_REM),
       |cbands AS (
       |  $corpBands),
       |bsize AS (
       |  SELECT band, key FROM cbands GROUP BY band, key
       |  HAVING count(*) <= $BUCKET_CAP),
       |ckept AS (
       |  SELECT c.doc_id, c.band, c.key
       |  FROM cbands c JOIN bsize s ON c.band = s.band AND c.key = s.key),
       |bbands AS (
       |  $batBands),
       |cand AS (
       |  SELECT DISTINCT b.doc_id AS b_doc, c.doc_id AS c_doc
       |  FROM bbands b JOIN ckept c ON b.band = c.band AND b.key = c.key)
       |SELECT b_doc AS batch_doc, c_doc AS corpus_doc,
       |       floor(($matchSum) / ${K}.0 * 10000.0 + 0.5) / 10000.0 AS est_jac
       |FROM cand JOIN corp cs ON c_doc = cs.doc_id
       |          JOIN bat bs ON b_doc = bs.doc_id
       |ORDER BY est_jac DESC, batch_doc, corpus_doc LIMIT 20""".stripMargin
  }

  /** URL canonicalization + dedup — the FIRST dedup a crawl pipeline
    * runs, before any content hashing: the same page arrives under
    * case-varied hosts, default ports, tracking queries, fragments and
    * trailing slashes, and the canonicalizer must collapse them all.
    * URLs are synthesized deterministically from document fields (the
    * mediaTable pattern — no URLs ship with the fixture): sibling docs
    * (2k, 2k+1) differ only in canonicalization-removable decorations,
    * so the duplicate census is data-dependent (same source+lang
    * siblings collide) and exactly oracle-replayable.
    *
    * Canonical chain (each step a real rule from crawl practice):
    * lowercase → strip #fragment → strip all-tracking query → strip
    * default :443 port → strip www. → strip trailing slash. The chain
    * is the SAME regexp sequence in both engines (RE2-safe: no
    * lookbehind, ≤1 match per pattern).
    *
    * Scale shape: canonicalization is row-local string work inside the
    * scan; the dedup shuffles md5(canonical) 32-char digests (the
    * [[exact]] discipline) — never URLs — and the census is a two-level
    * aggregate on (source). */
  def urlDedup(s: SparkSession, dir: String): DataFrame = {
    // sibling docs (2k, 2k+1) share the path stem doc_id div 2 and
    // differ only in removable decorations, so they collide after
    // canonicalization iff they share lang — a data-dependent dup rate
    val url = concat(
      lit("HTTPS://WWW.Example.com:443/"),
      col("lang"), lit("/doc/"), expr("doc_id div 2"),
      when(pmod(col("doc_id"), lit(2)) === 0,
        lit("?utm_source=rss&utm_medium=feed"))
        .otherwise(lit("/")),
      when(pmod(col("doc_id"), lit(5)) === 0, lit("#section-2"))
        .otherwise(lit("")))
    val canonical = {
      var u: org.apache.spark.sql.Column = lower(url)
      u = regexp_replace(u, "#.*$", "")
      u = regexp_replace(u, "\\?utm_[^#]*$", "")
      u = regexp_replace(u, ":443/", "/")
      u = regexp_replace(u, "//www\\.", "//")
      regexp_replace(u, "/$", "")
    }
    Tables.documents(s, dir)
      .select(col("lang"), md5(canonical).as("h"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_urls"),
        countDistinct("h").as("n_unique"),
        (count(lit(1)) - countDistinct("h")).as("n_dupes"),
        (floor((count(lit(1)) - countDistinct("h")).cast("double")
          / count(lit(1)).cast("double") * lit(10000.0d) + lit(0.5d))
          / lit(10000.0d)).as("dup_rate"))
      .orderBy("lang")
  }

  private val urlDedupSql =
    """WITH u AS (
      |  SELECT lang,
      |         'HTTPS://WWW.Example.com:443/' || lang ||
      |         '/doc/' || (doc_id // 2) ||
      |         CASE WHEN doc_id % 2 = 0
      |              THEN '?utm_source=rss&utm_medium=feed'
      |              ELSE '/' END ||
      |         CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END
      |           AS url
      |  FROM documents),
      |c AS (
      |  SELECT lang,
      |         md5(regexp_replace(regexp_replace(regexp_replace(
      |             regexp_replace(regexp_replace(lower(url),
      |               '#.*$', ''),
      |               '\?utm_[^#]*$', ''),
      |               ':443/', '/'),
      |               '//www\.', '//'),
      |               '/$', '')) AS h
      |  FROM u)
      |SELECT lang, count(*) AS n_urls,
      |       count(DISTINCT h) AS n_unique,
      |       count(*) - count(DISTINCT h) AS n_dupes,
      |       floor(CAST(count(*) - count(DISTINCT h) AS DOUBLE)
      |             / count(*) * 10000.0 + 0.5) / 10000.0 AS dup_rate
      |FROM c GROUP BY lang ORDER BY lang""".stripMargin

  /** Seed width (tokens) for duplicated-passage extraction, and the
    * minimum reported span. A passage must be a RUN of ≥ 5 consecutive
    * matching seeds (12 tokens) — single shared 8-grams are the novelty
    * census's business, not a passage. */
  private[graft] val PASSAGE_SEED = 8
  private[graft] val PASSAGE_MIN_TOKENS = 12

  /** Exact duplicated-PASSAGE extraction — the substring-level dedup
    * (Lee et al. 2022's ExactSubstr, at word granularity) that pair- and
    * cluster-level dedup cannot express: WHERE inside two documents the
    * shared text lives, and how long it runs.
    *
    * The trick that keeps it scalable: a maximal duplicated span of
    * t ≥ L tokens manifests as a run of exactly t−L+1 consecutive
    * matching L-gram seeds at a CONSTANT position delta, so span
    * extraction is pure integer sequence work over (a, b, pa−pb, pa)
    * seed coordinates — gaps-and-islands (pa − row_number), never a
    * character of text after the seed join. Shuffle payloads are md5
    * digests and positions; postings are capped at [[POSTING_CAP]]
    * (mirrored in the oracle — checked semantics): an 8-gram shared by
    * more than 64 docs is boilerplate that belongs to the exact-hash
    * pass, and a span crossing such a seed deterministically splits.
    *
    * Output: top-20 longest passages (span desc, a, b, start_a) with
    * 0-based token offsets in both documents. */
  def dupPassages(s: SparkSession, dir: String): DataFrame =
    passageSpans(s, dir)
      .orderBy(col("span_tokens").desc, col("a").asc, col("b").asc,
        col("start_a").asc, col("start_b").asc)
      .limit(20)

  /** The full passage table (a, b, start_a, start_b, span_tokens), no
    * report limit — shared by the top-20 report ([[dupPassages]]) and the
    * removable-token census ([[dedupSavings]]). */
  private[graft] def passageSpans(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val L = PASSAGE_SEED
    val seeds = Tables.documents(s, dir)
      .withColumn("toks", TextFns.tokens(col("text")))
      .select(col("doc_id"),
        posexplode(expr(s"word_shingles(toks, $L)")).as(Seq("p", "g")))
      .select(col("doc_id"), col("p"), md5(col("g")).as("h"))
    // Posting-cap via a window COUNT on the digest partition rather than
    // the fleet's usual count-aggregate + semi-join: the window leaves the
    // data hash-partitioned on h, so the pair self-join below reuses the
    // exchange on both sides (ReusedExchange) and the seed frame (shingle
    // + md5 per token) is computed once, not once per plan branch.
    // Measured (r11, min-of-4 at sf0.1): agg+join 1.81 s → window 1.16 s.
    // State is bounded: a window count buffers one partition's rows like
    // the join build side would, and postings are capped right after.
    val wh = org.apache.spark.sql.expressions.Window.partitionBy("h")
    val kept = seeds
      .withColumn("pn", count(lit(1)).over(wh))
      .filter(col("pn") <= POSTING_CAP)
      .drop("pn")
    // MEASURED NON-WIN (r15, do not re-try): hint("merge") on both sides
    // to force SMJ — the static plan prints BroadcastHashJoin here at
    // sf0.1, which LOOKS like the seed pipeline is built twice, but the
    // runtime stage profile shows the digest exchange is written once
    // (9.6 MB) and read twice (19.2 MB) — AQE stage reuse already feeds
    // both join sides from one seed build regardless of strategy. The
    // SMJ pin benched flat (1.80 → 1.69–1.87 s, 4-pass stage profile).
    val pairs = kept.as("x").join(kept.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.p").as("pa"), col("y.p").as("pb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a"), col("b"), col("pa") - col("pb"))
      .orderBy(col("pa"))
    pairs
      .withColumn("isl", col("pa") - row_number().over(w))
      .groupBy(col("a"), col("b"), (col("pa") - col("pb")).as("delta"),
        col("isl"))
      .agg(min("pa").cast("long").as("start_a"),
        min("pb").cast("long").as("start_b"),
        (count(lit(1)) + lit(L - 1)).as("span_tokens"))
      .filter(col("span_tokens") >= PASSAGE_MIN_TOKENS)
      .select("a", "b", "start_a", "start_b", "span_tokens")
  }

  /** Per-source removable-token census — the planning number substring
    * dedup is run FOR: if every duplicated passage kept its lower-id
    * copy, how many tokens disappear from each source? Per higher-id doc
    * b, the removable region is the interval UNION of its passage spans
    * [start_b, start_b + span): classic sort + running-max islands, again
    * pure integer sequence work on a key-partitioned window (never
    * text). Reported against the source's TOTAL token count, fix4. */
  def dedupSavings(s: SparkSession, dir: String): DataFrame = {
    val iv = passageSpans(s, dir)
      .select(col("b"), col("start_b").as("st"),
        (col("start_b") + col("span_tokens")).as("en"))
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy("b").orderBy(col("st"), col("en"))
    val prevMax = max("en").over(
      w1.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1))
    val perDoc = iv
      .withColumn("new_isl",
        when(col("st") > coalesce(prevMax, lit(-1L)), 1L).otherwise(0L))
      .withColumn("isl", sum("new_isl").over(w1))
      .groupBy(col("b"), col("isl"))
      .agg((max("en") - min("st")).as("ilen"))
      .groupBy(col("b"))
      .agg(sum("ilen").as("dup_tokens"))
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    docs.join(perDoc, docs("doc_id") === perDoc("b"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(col("dup_tokens")).as("docs_with_dups"),
        sum("n_tok").as("total_tokens"),
        coalesce(sum("dup_tokens"), lit(0L)).as("dup_tokens"),
        (floor(coalesce(sum("dup_tokens"), lit(0L)).cast("double")
          / greatest(sum("n_tok"), lit(1L)).cast("double")
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("dup_rate"))
      .orderBy("source")
  }

  /** Shared oracle CTE chain: seeds → capped postings → matching-seed
    * pairs → gaps-and-islands passages (no report limit). */
  private lazy val passagesCoreSql =
    s"""d AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |         len(string_split(text, ' ')) AS nt
      |  FROM documents),
      |seeds AS (
      |  SELECT doc_id,
      |         unnest(generate_series(0, nt - $PASSAGE_SEED)) AS p,
      |         toks
      |  FROM d WHERE nt >= $PASSAGE_SEED),
      |grams AS (
      |  SELECT doc_id, p,
      |         array_to_string(toks[p + 1 : p + $PASSAGE_SEED], ' ') AS g
      |  FROM seeds),
      |short_postings AS (
      |  SELECT g FROM grams GROUP BY g HAVING count(*) <= $POSTING_CAP),
      |kept AS (SELECT gr.doc_id, gr.p, gr.g
      |         FROM grams gr JOIN short_postings s ON gr.g = s.g),
      |pairs AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b, x.p AS pa, y.p AS pb
      |  FROM kept x JOIN kept y ON x.g = y.g AND x.doc_id < y.doc_id),
      |isl AS (
      |  SELECT a, b, pa, pb, pa - pb AS delta,
      |         pa - row_number() OVER (PARTITION BY a, b, pa - pb
      |                                 ORDER BY pa) AS isl
      |  FROM pairs),
      |pass AS (
      |  SELECT a, b, CAST(min(pa) AS BIGINT) AS start_a,
      |         CAST(min(pb) AS BIGINT) AS start_b,
      |         CAST(count(*) + ${PASSAGE_SEED - 1} AS BIGINT) AS span_tokens
      |  FROM isl GROUP BY a, b, delta, isl
      |  HAVING count(*) + ${PASSAGE_SEED - 1} >= $PASSAGE_MIN_TOKENS)""".stripMargin

  /** Oracle rebuilds the same seeds (joining on the raw 8-gram text —
    * the md5 is a shuffle-payload bound, not semantics) and the same
    * gaps-and-islands run detection. */
  private lazy val dupPassagesSql =
    s"""WITH $passagesCoreSql
      |SELECT a, b, start_a, start_b, span_tokens FROM pass
      |ORDER BY span_tokens DESC, a, b, start_a, start_b LIMIT 20""".stripMargin

  /** Oracle replays the interval union with the same running-max island
    * logic over the shared passage CTEs. */
  private lazy val dedupSavingsSql =
    s"""WITH $passagesCoreSql,
      |iv AS (
      |  SELECT b, start_b AS st, start_b + span_tokens AS en FROM pass),
      |fl AS (
      |  SELECT b, st, en,
      |         CASE WHEN st > coalesce(max(en) OVER (PARTITION BY b
      |                  ORDER BY st, en
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |                -1) THEN 1 ELSE 0 END AS new_isl
      |  FROM iv),
      |fl2 AS (
      |  SELECT b, st, en,
      |         sum(new_isl) OVER (PARTITION BY b ORDER BY st, en
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      |  FROM fl),
      |per_doc AS (
      |  SELECT b, CAST(sum(ilen) AS BIGINT) AS dup_tokens FROM (
      |    SELECT b, isl, max(en) - min(st) AS ilen
      |    FROM fl2 GROUP BY b, isl)
      |  GROUP BY b),
      |docs AS (
      |  SELECT doc_id, source,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(count(p.dup_tokens) AS BIGINT) AS docs_with_dups,
      |       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
      |       CAST(coalesce(sum(p.dup_tokens), 0) AS BIGINT) AS dup_tokens,
      |       floor(CAST(coalesce(sum(p.dup_tokens), 0) AS DOUBLE)
      |             / greatest(CAST(sum(n_tok) AS DOUBLE), 1.0)
      |             * 10000.0 + 0.5) / 10000.0 AS dup_rate
      |FROM docs LEFT JOIN per_doc p ON docs.doc_id = p.b
      |GROUP BY source ORDER BY source""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q_dedup_savings", dedupSavings, Some(dedupSavingsSql),
      doc = "Per-source removable-token census: interval union of " +
        "duplicated-passage spans per higher-id doc — the planning " +
        "number substring dedup is run for"),
    Q("q_dup_passages", dupPassages, Some(dupPassagesSql),
      doc = "Exact duplicated-passage extraction (word-level " +
        "ExactSubstr): maximal shared token spans located via " +
        "consecutive-seed runs at constant position delta — " +
        "digest+position shuffles only, gaps-and-islands span merge"),
    Q("q_dedup_url", urlDedup, Some(urlDedupSql),
      doc = "URL canonicalization dedup: lowercase / fragment / " +
        "tracking-query / default-port / www / trailing-slash rules, " +
        "digest-only shuffles — the first crawl dedup"),
    Q("q_dedup_exact", exact, Some(exactSql)),
    Q("q_dedup_minhash", minhashLsh, Some(minhashLshSql)),
    Q("q_minhash_calibration", minhashCalibration, Some(minhashCalibrationSql)),
    Q("q_dup_rate_by_source", dupRateBySource, Some(dupRateBySourceSql)),
    Q("q_dedup_simhash", simhash, Some(simhashSql)),
    Q("q_dedup_ngram", ngramJaccard, Some(ngramJaccardSql)),
    Q("q_dedup_containment", ngramContainment, Some(ngramContainmentSql)),
    Q("q_dedup_clusters", dupClusters, Some(dupClustersSql)),
    Q("q_dedup_canonical", dedupCanonical, Some(dedupCanonicalSql),
      doc = "Canonical-representative selection: every near-dup cluster " +
        "keeps its best-quality doc (1e-6-fixed composite, doc_id tiebreak)"),
    Q("q_contrastive_pairs", contrastivePairs, Some(contrastivePairsSql),
      doc = "Contrastive positive-pair mining: cluster representative " +
        "anchors up to 5 near-dup members — linear per cluster, capped"),
    Q("q_split_assign", splitAssign, Some(splitAssignSql),
      doc = "Cluster-aware train/val/test split: md5-bucket of the " +
        "near-dup cluster representative, leakage-free by construction " +
        "(straddling count computed, not assumed)"),
    Q("q_ngram_novelty", ngramNovelty, Some(ngramNoveltySql),
      doc = "Per-source 8-gram novelty: repeated-gram rate — the " +
        "memorization-risk census, digests-only shuffles"),
    Q("q_split_contamination", splitContamination,
      Some(splitContaminationSql),
      doc = "Train-test 8-gram contamination, cluster-aware vs naive " +
        "doc-hash split — the eval-leakage audit"),
    Q("q_dedup_embed", embedCosine, Some(embedCosineSql)),
    Q("q_dedup_incremental", dedupIncremental, Some(dedupIncrementalSql)))
}
