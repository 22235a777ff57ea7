package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import Fmt.fix4

/** Corpus-curation operators for a training-data pipeline, rounding out
  * SURVEY.md §2.8: PII/denylist redaction, target-mixture sampling,
  * sequence chunking with chunk-level dedup, token-budget sequence
  * packing, and single-pass column profiling. Each is designed scan-local
  * first: the shuffles carry aggregates, digests, or (key, count) pairs —
  * never document text.
  */
object Curation {

  // --- PII / denylist redaction -------------------------------------------

  /** Patterns kept RE2-compatible (no backrefs/lookaround) so the exact
    * same regex text runs in Spark (java.util.regex) and the DuckDB
    * oracle (RE2): email + IPv4 are the standard PII shapes (absent from
    * the synthetic corpus — they exercise the zero-match path), the term
    * denylist redacts words that do occur. */
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val ipRe    = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val termRe  = "\\b(customer|vector)\\b"

  /** Redaction scan: per document, count matches per pattern class and
    * replace each with `[X]`; report per-source totals. Everything up to
    * the final group-by is ROW-LOCAL inside the scan's codegen stage —
    * the only shuffle carries one partial-aggregate row per (partition,
    * source). At 100 TB this is one pass over the corpus, which is the
    * only shape a redaction job can afford. */
  def piiRedact(s: SparkSession, dir: String): DataFrame = {
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), emailRe, "[X]"),
        ipRe, "[X]"),
      termRe, "[X]")
    Tables.documents(s, dir)
      .select(col("source"),
        regexp_count(col("text"), lit(emailRe)).as("c_email"),
        regexp_count(col("text"), lit(ipRe)).as("c_ip"),
        regexp_count(col("text"), lit(termRe)).as("c_term"),
        (length(col("text")) - length(redacted)).cast("long").as("delta"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("c_email") + col("c_ip") + col("c_term") > 0, 1L)
          .otherwise(0L)).as("docs_flagged"),
        sum(col("c_email").cast("long")).as("n_email"),
        sum(col("c_ip").cast("long")).as("n_ip"),
        sum(col("c_term").cast("long")).as("n_term"),
        sum(col("delta")).as("chars_redacted"))
      .orderBy("source")
  }

  private val piiRedactSql =
    s"""WITH d AS (
       |  SELECT source,
       |         len(regexp_extract_all(text, '$emailRe')) AS c_email,
       |         len(regexp_extract_all(text, '$ipRe')) AS c_ip,
       |         len(regexp_extract_all(text, '$termRe')) AS c_term,
       |         len(text) - len(
       |           regexp_replace(regexp_replace(regexp_replace(text,
       |             '$emailRe', '[X]', 'g'),
       |             '$ipRe', '[X]', 'g'),
       |             '$termRe', '[X]', 'g')) AS delta
       |  FROM documents)
       |SELECT source, count(*) AS n_docs,
       |       CAST(sum(CASE WHEN c_email + c_ip + c_term > 0 THEN 1 ELSE 0
       |                END) AS BIGINT) AS docs_flagged,
       |       CAST(sum(c_email) AS BIGINT) AS n_email,
       |       CAST(sum(c_ip) AS BIGINT) AS n_ip,
       |       CAST(sum(c_term) AS BIGINT) AS n_term,
       |       CAST(sum(delta) AS BIGINT) AS chars_redacted
       |FROM d GROUP BY source ORDER BY source""".stripMargin

  // --- Target-mixture (domain-weighted) sampling --------------------------

  /** Domain tiers and target mixture weights: a training run rarely wants
    * the corpus's natural composition — it wants 50% web, 30% books, 20%
    * code (say). Sources map onto tiers by id; quotas are weight × N. */
  private val SAMPLE_N = 50
  private val tierCase =
    "CASE CAST(substring(source, 4, 10) AS INT) % 3 " +
      "WHEN 0 THEN 'web' WHEN 1 THEN 'books' ELSE 'code' END"
  private val quotaCase =
    s"CASE $tierCase WHEN 'web' THEN ${SAMPLE_N / 2} " +
      s"WHEN 'books' THEN ${SAMPLE_N * 3 / 10} ELSE ${SAMPLE_N / 5} END"

  /** Mixture-targeted sample: deterministically pick quota(tier) docs per
    * tier in md5-hash order (stable across runs, engines, and layouts —
    * same property as [[TextAnalysis.hashSplit]]). Selection is the same
    * exact TWO-LEVEL top-k as stratifiedSample: top-quota within each
    * (tier, salt) cell first, so no window partition ever holds a whole
    * tier of a 100 TB corpus; the union of per-cell top-ks provably
    * contains the per-tier top-quota, so the result equals the
    * single-window form the oracle runs. */
  def domainMix(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(expr(tierCase).as("tier"),
        expr(quotaCase).as("quota"),
        col("doc_id"))
      .withColumn("hk", md5(concat(col("doc_id").cast("string"), lit(":mix"))))
      .withColumn("salt", pmod(hash(col("doc_id")), lit(32)))
    val bySalt = Window.partitionBy("tier", "salt")
      .orderBy(col("hk").asc, col("doc_id").asc)
    val byTier = Window.partitionBy("tier")
      .orderBy(col("hk").asc, col("doc_id").asc)
    d.withColumn("r1", row_number().over(bySalt)).filter(col("r1") <= col("quota"))
      .withColumn("r2", row_number().over(byTier)).filter(col("r2") <= col("quota"))
      .select("tier", "doc_id")
      .orderBy("tier", "doc_id")
  }

  private val domainMixSql =
    s"""SELECT tier, doc_id FROM (
       |  SELECT $tierCase AS tier,
       |         $quotaCase AS quota,
       |         doc_id,
       |         row_number() OVER (
       |           PARTITION BY $tierCase
       |           ORDER BY md5(CAST(doc_id AS VARCHAR) || ':mix'), doc_id)
       |           AS r
       |  FROM documents)
       |WHERE r <= quota
       |ORDER BY tier, doc_id""".stripMargin

  // --- Token-budget (uniform-mixture) truncation sampling -----------------

  /** Rebalance the corpus toward a uniform per-source TOKEN mixture:
    * every source keeps documents — in md5-hash order, so the sample is
    * stable across runs, engines, and layouts — until the cumulative
    * token count reaches the budget (the smallest source's total token
    * count, i.e. the largest equal share reachable without upsampling).
    * [[domainMix]] fills doc-COUNT quotas; training mixtures are
    * specified in tokens, which is what this fills. A document is kept
    * iff the tokens BEFORE it (in hash order) are under budget, so every
    * source keeps ≥ 1 doc and overshoots by less than one document.
    *
    * Scale posture: the global hash-order running sum is computed
    * two-level — hash-prefix buckets first (per-(source, bucket) token
    * sums, a tiny aggregate whose per-source prefix sums broadcast
    * back), then a fine window only WITHIN each (source, bucket), which
    * holds 1/16 of a source, never all of it. Bucket order is a prefix
    * of full hash order, so offset + within-bucket prefix IS the exact
    * global prefix sum; buckets that start past the budget are filtered
    * before the fine window ever runs. */
  def tokenBudget(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .withColumn("hk", md5(concat(col("doc_id").cast("string"), lit(":tb"))))
      .withColumn("bucket", substring(col("hk"), 1, 1))
    val perBucket = d.groupBy("source", "bucket")
      .agg(sum("n_toks").as("btoks"))
    val wB = Window.partitionBy("source").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = perBucket
      .withColumn("off", coalesce(sum("btoks").over(wB), lit(0L)))
      .select("source", "bucket", "off")
    val budget = d.groupBy("source").agg(sum("n_toks").as("tot"))
      .agg(min("tot").as("budget"))
    val wF = Window.partitionBy("source", "bucket")
      .orderBy(col("hk").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    d.join(broadcast(offsets), Seq("source", "bucket"))
      .join(broadcast(budget))
      .filter(col("off") < col("budget"))
      .withColumn("cum_before",
        col("off") + coalesce(sum("n_toks").over(wF), lit(0L)))
      .filter(col("cum_before") < col("budget"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs_kept"), sum("n_toks").as("toks_kept"),
        first("budget").as("budget"))
      .select(col("source"), col("n_docs_kept"), col("toks_kept"),
        col("budget"),
        (floor(col("toks_kept").cast("double") / col("budget")
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("fill_pct"))
      .orderBy("source")
  }

  private val tokenBudgetSql =
    """WITH d AS (
      |  SELECT source, doc_id,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
      |         md5(CAST(doc_id AS VARCHAR) || ':tb') AS hk
      |  FROM documents),
      |b AS (
      |  SELECT CAST(min(tot) AS BIGINT) AS budget FROM (
      |    SELECT CAST(sum(n_toks) AS BIGINT) AS tot FROM d GROUP BY source)),
      |c AS (
      |  SELECT source, n_toks,
      |         COALESCE(CAST(sum(n_toks) OVER (
      |           PARTITION BY source ORDER BY hk, doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |           AS BIGINT), 0) AS cum_before
      |  FROM d)
      |SELECT source, count(*) AS n_docs_kept,
      |       CAST(sum(n_toks) AS BIGINT) AS toks_kept, budget,
      |       floor(CAST(sum(n_toks) AS DOUBLE) / budget * 10000.0 + 0.5)
      |         / 10000.0 AS fill_pct
      |FROM c CROSS JOIN b
      |WHERE cum_before < budget
      |GROUP BY source, budget ORDER BY source""".stripMargin

  // --- Sequence chunking + chunk-level dedup ------------------------------

  private val CHUNK = 64 // chunk width (chars)
  private val STRIDE = 48 // overlap = CHUNK - STRIDE

  /** Chunk every document into overlapping fixed-width windows (the
    * sequence-prep step before tokenization), then dedup at CHUNK level:
    * repeated boilerplate that survives doc-level dedup shows up here as
    * n_chunks ≫ n_distinct_chunks. The explode is row-local (each output
    * row carries ≤ CHUNK chars); the dedup aggregate shuffles (source,
    * md5 digest) pairs, never chunk text. */
  def chunkDedup(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("source"),
        explode(sequence(lit(0), length(col("text")) - 1, lit(STRIDE)))
          .as("pos"),
        col("text"))
      .select(col("source"),
        substring(col("text"), col("pos") + lit(1), lit(CHUNK)).as("chunk"))
      .select(col("source"), md5(col("chunk")).as("digest"),
        length(col("chunk")).as("clen"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct("digest").as("n_distinct_chunks"),
        Fmt.fix4(avg(col("clen"))).as("avg_chunk_len"))
      .orderBy("source")

  private val chunkDedupSql =
    s"""WITH c AS (
       |  SELECT source,
       |         substr(text, pos + 1, $CHUNK) AS chunk
       |  FROM (SELECT source, text,
       |               unnest(generate_series(0, len(text) - 1, $STRIDE))
       |                 AS pos
       |        FROM documents))
       |SELECT source, count(*) AS n_chunks,
       |       count(DISTINCT md5(chunk)) AS n_distinct_chunks,
       |       floor(avg(len(chunk)) * 10000.0 + 0.5) / 10000.0 AS avg_chunk_len
       |FROM c GROUP BY source ORDER BY source""".stripMargin

  // --- Token-budget sequence packing --------------------------------------

  private val BUDGET = 256 // tokens per packed sequence

  /** Pack documents into ≤BUDGET-token training sequences: docs are laid
    * out in deterministic hash order and a running token total assigns
    * bin = floor(tokens_before / BUDGET) — contiguous greedy packing
    * where a bin may overflow by at most one document (the standard
    * streaming-packer contract). The running sum runs per (source,
    * hash-bucket): 16 buckets bound every window partition at any corpus
    * size, the same no-global-window discipline as ntile/stratified.
    * Output: per-source bin census — how many sequences the corpus packs
    * into and how full they are. */
  def packSequences(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("tkn"))
      .withColumn("hk", md5(concat(col("doc_id").cast("string"), lit(":pack"))))
      .withColumn("bucket", substring(col("hk"), 1, 1))
    val w = Window.partitionBy("source", "bucket")
      .orderBy(col("hk").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("cum", sum(col("tkn")).over(w))
      .withColumn("bin", floor((col("cum") - col("tkn")) / BUDGET))
      .groupBy("source", "bucket", "bin")
      .agg(count(lit(1)).as("nd"), sum(col("tkn")).as("fill"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_bins"),
        sum(col("nd")).as("n_docs"),
        sum(col("fill")).as("total_tokens"),
        max(col("fill")).as("max_fill"),
        Fmt.fix4(avg(col("fill"))).as("avg_fill"))
      .orderBy("source")
  }

  private val packSequencesSql =
    s"""WITH d AS (
       |  SELECT source, doc_id,
       |         len(string_split(text, ' ')) AS toks,
       |         md5(CAST(doc_id AS VARCHAR) || ':pack') AS hk
       |  FROM documents),
       |b AS (
       |  SELECT source, substr(hk, 1, 1) AS bucket, doc_id, toks, hk
       |  FROM d),
       |w AS (
       |  SELECT source, bucket, toks,
       |         sum(toks) OVER (PARTITION BY source, bucket
       |                         ORDER BY hk, doc_id
       |                         ROWS BETWEEN UNBOUNDED PRECEDING AND
       |                           CURRENT ROW) AS cum
       |  FROM b),
       |bins AS (
       |  SELECT source, bucket,
       |         CAST(floor((cum - toks) / $BUDGET.0) AS BIGINT) AS bin,
       |         count(*) AS nd, sum(toks) AS fill
       |  FROM w GROUP BY source, bucket, bin)
       |SELECT source, count(*) AS n_bins,
       |       CAST(sum(nd) AS BIGINT) AS n_docs,
       |       CAST(sum(fill) AS BIGINT) AS total_tokens,
       |       CAST(max(fill) AS BIGINT) AS max_fill,
       |       floor(avg(fill) * 10000.0 + 0.5) / 10000.0 AS avg_fill
       |FROM bins GROUP BY source ORDER BY source""".stripMargin

  // --- Deterministic training-order shuffle + sharding --------------------

  /** Training-order shuffle: assign every document a shard by md5 hash —
    * the deterministic equivalent of "shuffle the corpus and split into
    * N files" that a training run does last. Hash-order is reproducible
    * across runs/engines/layouts AND uniformly mixes sources within each
    * shard (verified by n_sources below); at 100 TB this is a pure map
    * stage — each doc computes its shard locally, the only shuffle is the
    * per-shard census (or, in the write path, the shard-partitioned
    * sink). Shard id parses the first md5 hex char via the standard-SQL
    * `position(x IN y)` so the same text runs on the oracle. */
  private val N_SHARDS = 16

  def shuffleShards(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("hk", md5(concat(col("doc_id").cast("string"), lit(":shuf"))))
      .withColumn("shard",
        expr("position(substring(hk, 1, 1) IN '0123456789abcdef') - 1")
          .cast("int"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
        countDistinct("source").as("n_sources"))
      .orderBy("shard")

  private val shuffleShardsSql =
    """WITH d AS (
      |  SELECT source, text,
      |         CAST(position(substr(md5(CAST(doc_id AS VARCHAR) || ':shuf'),
      |                              1, 1) IN '0123456789abcdef') - 1
      |              AS INT) AS shard
      |  FROM documents)
      |SELECT shard, count(*) AS n_docs,
      |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
      |       count(DISTINCT source) AS n_sources
      |FROM d GROUP BY shard ORDER BY shard""".stripMargin

  // --- Single-pass column profiling ---------------------------------------

  private val profileCols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Data-quality profile of the fact table: per column, value/null/
    * distinct counts and min/max — the validation report a pipeline runs
    * before training on a new drop. ONE scan: all per-column aggregates
    * compute in a single pass (the multi-distinct is Catalyst's Expand —
    * ×4 row amplification on a 4-column projection, not 4 scans), then a
    * `stack` unpivots the single wide row into the narrow report. */
  def columnProfile(s: SparkSession, dir: String): DataFrame = {
    // r14: unpivot-FIRST decomposition. The old single wide aggregate
    // planned Catalyst's 4-way multi-distinct Expand — a ×5 row
    // amplification and a 21-column distinct-state partial aggregate,
    // all serialized on the fixture's single-split scan task (measured
    // 1.85 s warm; fanning the Expand merely moved the cost into a
    // barely-compressing exchange). Unpivoting to (col_name, v) rows
    // FIRST makes the profile a two-level aggregate over value groups:
    // level 1 dedups to one row per (column, value) with its count
    // (map-side compression: the value domains are the data's own
    // cardinality, ≤ |distinct prices| + 70), level 2 folds those ≤110k
    // narrow rows into the 4 report rows. No Expand anywhere, and every
    // shuffle carries (name, value, count). n_nulls folds from the
    // (col_name, NULL) group — no second scan for the row total.
    val stackArgs = profileCols.map(c => s"'$c', $c").mkString(", ")
    val perVal = Tables.lineitem(s, dir).select(profileCols.map(col): _*)
      .selectExpr(s"stack(${profileCols.size}, $stackArgs) AS (col_name, v)")
      .groupBy("col_name", "v").agg(count(lit(1)).as("c"))
    perVal.groupBy("col_name")
      .agg(
        sum(when(col("v").isNotNull, col("c")).otherwise(0L)).as("n_vals"),
        sum(when(col("v").isNull, col("c")).otherwise(0L)).as("n_nulls"),
        count(col("v")).as("n_distinct"),
        round(min(col("v")), 4).as("min_v"),
        round(max(col("v")), 4).as("max_v"))
      .orderBy("col_name")
  }

  private val columnProfileSql = profileCols.map { c =>
    s"""SELECT '$c' AS col_name, count($c) AS n_vals,
       |       count(*) - count($c) AS n_nulls,
       |       count(DISTINCT $c) AS n_distinct,
       |       round(min($c), 4) AS min_v, round(max($c), 4) AS max_v
       |FROM lineitem""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  // --- deterministic negative sampling ------------------------------------

  /** Negatives kept per anchor / uniform draws attempted per anchor. */
  private val NEG_K = 4
  private val NEG_DRAWS = 8

  /** Deterministic negative sampling for contrastive training: each
    * document draws [[NEG_DRAWS]] uniform candidate ids from keyed md5
    * hashes (candidate = hash mod corpus size over the dense doc_id
    * space), drops self-pairs, same-source pairs (the hard constraint —
    * a "negative" from the anchor's own source is likely a near-positive)
    * and duplicate hits, and keeps the first [[NEG_K]] by draw order.
    *
    * Scale shape: the draw is row-local arithmetic, the candidate lookup
    * is an EQUI join on doc_id (hash join, any scale), and both windows
    * partition by anchor — no global ordering anywhere. An anchor with an
    * unlucky draw sequence keeps < K negatives rather than triggering a
    * data-dependent resample loop (documented, deterministic). The same
    * md5-keyed scheme means the oracle replays the identical sample. */
  def negativeSample(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "source")
    val tot = docs.agg(count(lit(1)).as("n_docs"))
    val draws = docs
      .select(col("doc_id").as("anchor"), col("source").as("a_src"),
        explode(sequence(lit(0), lit(NEG_DRAWS - 1))).as("j"))
      .join(broadcast(tot))
      .select(col("anchor"), col("a_src"), col("j"),
        pmod(conv(substring(md5(concat(col("anchor").cast("string"),
          lit("#"), col("j").cast("string"))), 1, 8), 16, 10)
          .cast("long"), col("n_docs")).as("cand"))
    val wDup = Window.partitionBy("anchor", "cand").orderBy("j")
    val wSlot = Window.partitionBy("anchor").orderBy("j")
    draws
      .join(docs.select(col("doc_id").as("cand"),
        col("source").as("neg_source")), Seq("cand"))
      .filter(col("cand") =!= col("anchor") &&
        col("neg_source") =!= col("a_src"))
      .withColumn("dup", row_number().over(wDup))
      .filter(col("dup") === 1)
      .withColumn("slot", row_number().over(wSlot))
      .filter(col("slot") <= NEG_K)
      .select(col("anchor"), col("slot").cast("long").as("slot"),
        col("cand").as("neg_id"), col("neg_source"))
      .orderBy("anchor", "slot")
  }

  private val negativeSampleSql =
    s"""WITH docs AS (SELECT doc_id, source FROM documents),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM docs),
       |d AS (
       |  SELECT doc_id AS anchor, source AS a_src, j,
       |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#'
       |            || CAST(j AS VARCHAR)), 1, 8))::BIGINT % n_docs AS cand
       |  FROM docs CROSS JOIN (SELECT unnest(range(0, $NEG_DRAWS)) AS j)
       |  CROSS JOIN t),
       |v AS (
       |  SELECT anchor, j, cand, c.source AS neg_source
       |  FROM d JOIN docs c ON d.cand = c.doc_id
       |  WHERE cand <> anchor AND c.source <> a_src),
       |u AS (
       |  SELECT anchor, j, cand, neg_source,
       |         row_number() OVER (PARTITION BY anchor, cand ORDER BY j)
       |           AS dup
       |  FROM v),
       |k AS (
       |  SELECT anchor, cand, neg_source,
       |         row_number() OVER (PARTITION BY anchor ORDER BY j) AS slot
       |  FROM u WHERE dup = 1)
       |SELECT anchor, CAST(slot AS BIGINT) AS slot, cand AS neg_id,
       |       neg_source
       |FROM k WHERE slot <= $NEG_K ORDER BY anchor, slot""".stripMargin

  // --- quality-retention curve --------------------------------------------

  /** Retention sweep over the quality cutoff — the knob-setting table a
    * curation run reads BEFORE filtering: for each candidate threshold,
    * how many documents and tokens survive. Choosing a cutoff without
    * this table is guessing; with it, "keep ~80% of tokens" maps to a
    * number.
    *
    * Exactness + scale: the quality composite (same row-local formula as
    * the quality/canonical operators) fixes to 1e-6 integer units in the
    * scan, docs collapse to ≤11 decile buckets (one narrow aggregate —
    * the only shuffle), and each cutoff's retention is a reverse
    * cumulative sum over that 11-row frame. Percentages are single fixed
    * divisions at the end. */
  def qualityRetention(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .withColumn("n_tok", size(split(col("text"), " ")).cast("double"))
      .withColumn("avg_wlen",
        (length(col("text")) - col("n_tok") + lit(1.0d)) / col("n_tok"))
      .withColumn("stop_ratio",
        expr("size(filter(split(text, ' '), x -> x = 'the' OR x = 'a'))")
          .cast("double") / col("n_tok"))
      .select(
        floor((lit(0.5d) * col("stop_ratio")
          + lit(0.3d) * least(col("n_tok") / lit(100.0d), lit(1.0d))
          + lit(0.2d) * when(col("avg_wlen").between(3.0d, 8.0d), lit(1.0d))
            .otherwise(lit(0.0d)))
          * lit(1000000.0d) + lit(0.5d)).cast("long").as("s6"),
        col("n_tok").cast("long").as("toks"))
    // decile bucket of the fixed score; quality 1.0 folds into bucket 9
    // (≥ every cutoff ≤ 0.9, so retention arithmetic is unaffected)
    val buckets = d
      .groupBy(least(expr("s6 div 100000L"), lit(9L)).as("b"))
      .agg(count(lit(1)).as("nd"), sum("toks").as("nt"))
    // dense 0..9 cutoff axis (empty buckets contribute zero), then the
    // ≥-cutoff retention is a reverse running sum over ≤10 rows
    val axis = s.range(0, 10).select(col("id").as("b"))
    val wGe = Window.orderBy("b")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wAll = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    axis.join(buckets, Seq("b"), "left")
      .select(col("b"), coalesce(col("nd"), lit(0L)).as("nd"),
        coalesce(col("nt"), lit(0L)).as("nt"))
      .select(col("b"),
        sum("nd").over(wGe).as("n_docs"), sum("nt").over(wGe).as("n_tokens"),
        sum("nd").over(wAll).as("td"), sum("nt").over(wAll).as("tt"))
      .select((col("b").cast("double") / lit(10.0d)).as("cutoff"),
        col("n_docs"), col("n_tokens"),
        fix4(col("n_docs").cast("double") / col("td").cast("double"))
          .as("pct_docs"),
        fix4(col("n_tokens").cast("double") / col("tt").cast("double"))
          .as("pct_tokens"))
      .orderBy("cutoff")
  }

  private val qualityRetentionSql =
    """WITH m AS (
      |  SELECT CAST(floor((0.5 * stop_ratio + 0.3 * least(n_tok / 100.0, 1.0)
      |              + 0.2 * (CASE WHEN avg_wlen BETWEEN 3 AND 8
      |                       THEN 1.0 ELSE 0.0 END))
      |              * 1000000.0 + 0.5) AS BIGINT) AS s6,
      |         CAST(n_tok AS BIGINT) AS toks
      |  FROM (SELECT CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
      |               (length(text) - CAST(len(string_split(text, ' ')) AS DOUBLE)
      |                  + 1) / CAST(len(string_split(text, ' ')) AS DOUBLE)
      |                 AS avg_wlen,
      |               CAST(len(list_filter(string_split(text, ' '),
      |                                    x -> x = 'the' OR x = 'a')) AS DOUBLE)
      |                 / CAST(len(string_split(text, ' ')) AS DOUBLE)
      |                 AS stop_ratio
      |        FROM documents)),
      |bk AS (
      |  SELECT least(s6 // 100000, 9) AS b,
      |         CAST(count(*) AS BIGINT) AS nd, CAST(sum(toks) AS BIGINT) AS nt
      |  FROM m GROUP BY 1),
      |ax AS (
      |  SELECT a.b, coalesce(bk.nd, 0) AS nd, coalesce(bk.nt, 0) AS nt
      |  FROM (SELECT unnest(generate_series(0, 9)) AS b) a
      |  LEFT JOIN bk ON a.b = bk.b),
      |r AS (
      |  SELECT b,
      |         CAST(sum(nd) OVER (ORDER BY b ROWS BETWEEN CURRENT ROW
      |           AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_docs,
      |         CAST(sum(nt) OVER (ORDER BY b ROWS BETWEEN CURRENT ROW
      |           AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_tokens,
      |         CAST(sum(nd) OVER () AS BIGINT) AS td,
      |         CAST(sum(nt) OVER () AS BIGINT) AS tt
      |  FROM ax)
      |SELECT CAST(b AS DOUBLE) / 10.0 AS cutoff, n_docs, n_tokens,
      |       floor(CAST(n_docs AS DOUBLE) / CAST(td AS DOUBLE)
      |             * 10000.0 + 0.5) / 10000.0 AS pct_docs,
      |       floor(CAST(n_tokens AS DOUBLE) / CAST(tt AS DOUBLE)
      |             * 10000.0 + 0.5) / 10000.0 AS pct_tokens
      |FROM r ORDER BY cutoff""".stripMargin

  // --- Stratified hash-threshold sampling ---------------------------------

  /** Equal-representation downsampling across language strata by
    * DETERMINISTIC hash threshold: keep a doc iff
    * `h(doc_id) · n_lang < B · 2³²`, where h is the first 8 hex digits of
    * md5 (uniform in [0, 2³²)) and B = min stratum size. This is the
    * coordination-free complement of [[tokenBudget]]'s exact prefix-sum
    * cut: the keep/drop decision is ROW-LOCAL given the ≤|langs|-row
    * broadcast of stratum sizes — no window, no sort, no shuffle of doc
    * rows at all, which is the only sampling shape that is embarrassingly
    * parallel at 100 TB (and re-runnable: membership is a pure function
    * of doc_id, so a re-executed task keeps the same rows). The threshold
    * compare runs in DECIMAL(38,0) — h·n_s overflows BIGINT once a
    * stratum passes 2³¹ rows, which a 100 TB corpus does. */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .withColumn("h",
        expr("CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':ss')), 1, 8), 16, 10) AS BIGINT)"))
    val sizes = d.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val budget = sizes.agg(min("n_lang").as("budget"))
    d.join(broadcast(sizes), Seq("lang"))
      .join(broadcast(budget))
      .withColumn("keep",
        col("h").cast("decimal(38,0)") * col("n_lang")
          < col("budget").cast("decimal(38,0)") * lit(4294967296L))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("n_toks")).otherwise(0L)).as("toks_kept"),
        first("budget").as("budget"))
      .select(col("lang"), col("n_docs"), col("n_kept"), col("toks_kept"),
        col("budget"),
        fix4(col("budget").cast("double") / col("n_docs").cast("double"))
          .as("target_rate"),
        fix4(col("n_kept").cast("double") / col("n_docs").cast("double"))
          .as("realized_rate"))
      .orderBy("lang")
  }

  private val stratifiedSampleSql =
    """WITH d AS (
      |  SELECT lang, doc_id,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
      |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':ss'), 1, 8))
      |           ::BIGINT AS h
      |  FROM documents),
      |sz AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_lang
      |       FROM d GROUP BY lang),
      |b AS (SELECT min(n_lang) AS budget FROM sz),
      |k AS (
      |  SELECT d.lang, n_toks, budget,
      |         CAST(h AS DECIMAL(38,0)) * n_lang
      |           < CAST(budget AS DECIMAL(38,0)) * 4294967296 AS keep
      |  FROM d JOIN sz ON d.lang = sz.lang CROSS JOIN b)
      |SELECT lang, count(*) AS n_docs,
      |       CAST(count(*) FILTER (keep) AS BIGINT) AS n_kept,
      |       CAST(coalesce(sum(n_toks) FILTER (keep), 0) AS BIGINT)
      |         AS toks_kept,
      |       budget,
      |       floor(CAST(budget AS DOUBLE) / count(*) * 10000.0 + 0.5)
      |         / 10000.0 AS target_rate,
      |       floor(CAST(count(*) FILTER (keep) AS DOUBLE) / count(*)
      |             * 10000.0 + 0.5) / 10000.0 AS realized_rate
      |FROM k GROUP BY lang, budget ORDER BY lang""".stripMargin

  // --- Span-corruption masking (T5-style denoising prep) ------------------

  /** Span length in tokens and start-rate denominator: a position starts
    * a span when its hash lands in 1/START_DIV, each span covers SPAN
    * tokens → expected mask rate ≈ SPAN/START_DIV (~15%), before run
    * merging. */
  private val SPAN = 3
  private val START_DIV = 20

  /** Span-corruption census — the deterministic mask-planning pass of a
    * T5/UL2 denoising objective: per document, positions whose
    * md5(doc_id, position) lands in 1/20 START a 3-token span; a token
    * is masked if any of the 3 preceding positions (itself included)
    * started a span, and each MAXIMAL masked run is one sentinel.
    * Reported per source: tokens, masked tokens, sentinel count, and the
    * realized mask rate.
    *
    * Determinism makes the mask a PURE FUNCTION of (doc_id, position) —
    * re-runs, retries, and the DuckDB oracle all derive the identical
    * mask, the same property that makes [[stratifiedSample]] membership
    * replayable. Everything is row-local lambda work inside the scan
    * (the only shuffle carries the per-source partial aggregate), so the
    * pass is embarrassingly parallel at any corpus size. */
  def spanCorruption(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("source"),
        expr(s"""
          transform(sequence(1, size(split(text, ' '))),
            i -> CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':',
                                             CAST(i AS STRING))), 1, 4),
                           16, 10) AS BIGINT) % $START_DIV = 0)
        """).as("starts"))
      .select(col("source"), size(col("starts")).cast("long").as("n_tok"),
        // masked(i) ⇔ ∃ j ∈ [i-SPAN+1, i]: starts(j)
        expr(s"""
          transform(sequence(1, size(starts)),
            i -> exists(slice(starts, greatest(1, i - ${SPAN - 1}),
                              i - greatest(1, i - ${SPAN - 1}) + 1),
                        b -> b))
        """).as("masked"))
      .select(col("source"), col("n_tok"),
        expr("size(filter(masked, b -> b))").cast("long").as("n_masked"),
        // sentinels = maximal masked runs: masked(i) ∧ ¬masked(i-1)
        expr("""
          size(filter(sequence(1, size(masked)),
            i -> masked[i - 1] AND (i = 1 OR NOT masked[i - 2])))
        """).cast("long").as("n_spans"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        sum("n_masked").as("n_masked"), sum("n_spans").as("n_sentinels"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_masked"), col("n_sentinels"),
        fix4(col("n_masked").cast("double") / col("n_tokens").cast("double"))
          .as("mask_rate"))
      .orderBy("source")
  }

  private val spanCorruptionSql =
    s"""WITH t AS (
      |  SELECT source,
      |         list_transform(generate_series(1, len(string_split(text, ' '))),
      |           i -> ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
      |                                    || CAST(i AS VARCHAR)), 1, 4))
      |                  ::BIGINT % $START_DIV = 0) AS starts
      |  FROM documents),
      |m AS (
      |  SELECT source, CAST(len(starts) AS BIGINT) AS n_tok,
      |         list_transform(generate_series(1, len(starts)),
      |           i -> len(list_filter(starts[greatest(1, i - ${SPAN - 1}):i],
      |                                b -> b)) > 0) AS masked
      |  FROM t),
      |c AS (
      |  SELECT source, n_tok,
      |         CAST(len(list_filter(masked, b -> b)) AS BIGINT) AS n_masked,
      |         CAST(len(list_filter(generate_series(1, len(masked)),
      |                i -> masked[i] AND (i = 1 OR NOT masked[i - 1])))
      |              AS BIGINT) AS n_spans
      |  FROM m)
      |SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |       CAST(sum(n_masked) AS BIGINT) AS n_masked,
      |       CAST(sum(n_spans) AS BIGINT) AS n_sentinels,
      |       floor(CAST(sum(n_masked) AS DOUBLE) / CAST(sum(n_tok) AS DOUBLE)
      |             * 10000.0 + 0.5) / 10000.0 AS mask_rate
      |FROM c GROUP BY source ORDER BY source""".stripMargin

  // --- Length-bucketed batching / padding waste ---------------------------

  /** Power-of-two length-bucket boundaries for the padding census. */
  private val PAD_BUCKETS = Seq(8L, 16L, 32L, 64L, 128L, 256L, 512L, 1024L)

  /** Padding-waste census for length-bucketed batching — the table that
    * decides a training job's batch geometry: bucket every document's
    * token length up to the next power of two, and report per bucket how
    * many pad tokens batching to the bucket ceiling costs, against the
    * single-bucket baseline (pad everything to the global max). The
    * decision is row-local (a CASE ladder over literal boundaries — no
    * log2, which is libm and not engine-portable); the only shuffle is
    * the ≤|buckets|-row aggregate, and the global-max baseline joins as
    * a 1-row broadcast. */
  def paddingWaste(s: SparkSession, dir: String): DataFrame = {
    val ladder = PAD_BUCKETS.map(b => s"WHEN n_tok <= $b THEN ${b}L")
      .mkString("CASE ", " ", s" ELSE ${PAD_BUCKETS.last}L END")
    val d = Tables.documents(s, dir)
      .select(least(size(split(col("text"), " ")).cast("long"),
        lit(PAD_BUCKETS.last)).as("n_tok"))
      .withColumn("bucket", expr(ladder))
    val maxLen = d.agg(max("n_tok").as("max_len"))
    d.groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      .crossJoin(broadcast(maxLen))
      // a batcher never pads past the longest observed sequence: the pad
      // target is min(bucket ceiling, global max) — without this the TOP
      // bucket pays ceiling − max per doc and can cost MORE than
      // pad-to-max (observed at sf0.001: 9323 vs 3378)
      .withColumn("pad_to", least(col("bucket"), col("max_len")))
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        (col("pad_to") * col("n_docs") - col("n_tokens")).as("pad_tokens"),
        fix4((col("pad_to") * col("n_docs") - col("n_tokens")).cast("double")
          / (col("pad_to") * col("n_docs")).cast("double")).as("pad_rate"),
        (col("max_len") * col("n_docs") - col("n_tokens"))
          .as("pad_tokens_unbucketed"))
      .orderBy("bucket")
  }

  private val paddingWasteSql = {
    val ladder = PAD_BUCKETS.map(b => s"WHEN n_tok <= $b THEN $b")
      .mkString("CASE ", " ", s" ELSE ${PAD_BUCKETS.last} END")
    s"""WITH d AS (
       |  SELECT least(CAST(len(string_split(text, ' ')) AS BIGINT),
       |               ${PAD_BUCKETS.last}) AS n_tok
       |  FROM documents),
       |b AS (SELECT n_tok, CAST($ladder AS BIGINT) AS bucket FROM d),
       |mx AS (SELECT max(n_tok) AS max_len FROM d)
       |SELECT bucket, count(*) AS n_docs,
       |       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |       CAST(least(bucket, max_len) * count(*) - sum(n_tok) AS BIGINT)
       |         AS pad_tokens,
       |       floor(CAST(least(bucket, max_len) * count(*) - sum(n_tok)
       |                  AS DOUBLE)
       |             / CAST(least(bucket, max_len) * count(*) AS DOUBLE)
       |             * 10000.0 + 0.5) / 10000.0 AS pad_rate,
       |       CAST(max_len * count(*) - sum(n_tok) AS BIGINT)
       |         AS pad_tokens_unbucketed
       |FROM b CROSS JOIN mx
       |GROUP BY bucket, max_len ORDER BY bucket""".stripMargin
  }

  // --- Temperature-scaled source mixture weights --------------------------

  /** Temperature sampling weights per source — the multilingual/multi-
    * domain mixing table (the p_s^α re-weighting of mT5/XLM-R data
    * mixing): raising token shares to α < 1 upweights small sources.
    * α ∈ {1, 1/2, 1/4} only, because sqrt (and sqrt∘sqrt) is an IEEE
    * exactly-rounded operation in both the JVM and DuckDB — an arbitrary
    * pow(x, 0.3) is not, and a last-ulp divergence would flip the 4-dp
    * hash. The sqrt output is fixed to 1e6 integer units immediately, so
    * the normalizing sums are EXACT BIGINT arithmetic (a sum of doubles
    * is addition-order-dependent, which a 32-way partial aggregate does
    * not control). One corpus scan → ≤|sources| rows; the weight
    * normalization runs on that bounded aggregate. n_toks stays well
    * under 2^53 (a 100 TB corpus is ~1e13-1e14 tokens), so the
    * BIGINT→DOUBLE cast before sqrt is exact. */
  def mixtureWeights(s: SparkSession, dir: String): DataFrame = {
    val perSrc = Tables.documents(s, dir)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_toks"))
      .withColumn("b_half",
        floor(sqrt(col("n_toks").cast("double")) * lit(1000000.0d))
          .cast("long"))
      .withColumn("b_quarter",
        floor(sqrt(sqrt(col("n_toks").cast("double"))) * lit(1000000.0d))
          .cast("long"))
    val totals = perSrc.agg(
      sum("n_toks").as("t_raw"), sum("b_half").as("t_half"),
      sum("b_quarter").as("t_quarter"))
    perSrc.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"), col("n_toks"),
        fix4(col("n_toks").cast("double") / col("t_raw").cast("double"))
          .as("w_raw"),
        fix4(col("b_half").cast("double") / col("t_half").cast("double"))
          .as("w_half"),
        fix4(col("b_quarter").cast("double")
          / col("t_quarter").cast("double")).as("w_quarter"))
      .orderBy("source")
  }

  private val mixtureWeightsSql =
    """WITH p AS (
      |  SELECT source, count(*) AS n_docs,
      |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_toks
      |  FROM documents GROUP BY source),
      |b AS (
      |  SELECT source, n_docs, n_toks,
      |         CAST(floor(sqrt(CAST(n_toks AS DOUBLE)) * 1000000.0)
      |              AS BIGINT) AS b_half,
      |         CAST(floor(sqrt(sqrt(CAST(n_toks AS DOUBLE))) * 1000000.0)
      |              AS BIGINT) AS b_quarter
      |  FROM p),
      |t AS (SELECT CAST(sum(n_toks) AS BIGINT) AS t_raw,
      |             CAST(sum(b_half) AS BIGINT) AS t_half,
      |             CAST(sum(b_quarter) AS BIGINT) AS t_quarter
      |      FROM b)
      |SELECT source, n_docs, n_toks,
      |       floor(CAST(n_toks AS DOUBLE) / CAST(t_raw AS DOUBLE)
      |             * 10000.0 + 0.5) / 10000.0 AS w_raw,
      |       floor(CAST(b_half AS DOUBLE) / CAST(t_half AS DOUBLE)
      |             * 10000.0 + 0.5) / 10000.0 AS w_half,
      |       floor(CAST(b_quarter AS DOUBLE) / CAST(t_quarter AS DOUBLE)
      |             * 10000.0 + 0.5) / 10000.0 AS w_quarter
      |FROM b CROSS JOIN t ORDER BY source""".stripMargin

  /** Epochs-per-source flagged as over-repeated beyond this many passes
    * (the multi-epoch degradation regime of repeated-data scaling
    * studies). */
  private val EPOCH_CAP = 4.0d

  /** Epoch/repetition schedule census — the follow-on decision table of
    * [[mixtureWeights]]: under α=1/2 temperature sampling at a total
    * budget of ONE corpus-pass of tokens, how many epochs does each
    * source actually see? Upweighted small sources repeat
    * (epochs = budget·w_s / tokens_s > 1); the census flags sources
    * pushed past EPOCH_CAP passes — the knob check run before training,
    * because repetition is where upweighting silently turns into
    * memorization risk. Same exact-integer normalizer discipline as the
    * weights table; one scan, ≤|sources|-row aggregate. */
  def epochSchedule(s: SparkSession, dir: String): DataFrame = {
    val perSrc = Tables.documents(s, dir)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_toks"))
      .withColumn("b_half",
        floor(sqrt(col("n_toks").cast("double")) * lit(1000000.0d))
          .cast("long"))
    val totals = perSrc.agg(
      sum("n_toks").as("budget"), sum("b_half").as("t_half"))
    perSrc.crossJoin(broadcast(totals))
      // epochs = (budget · b_half / t_half) / n_toks, evaluated in the
      // exact same op order both engines: one double product, two divides
      .withColumn("epochs",
        fix4(col("budget").cast("double") * col("b_half").cast("double")
          / col("t_half").cast("double") / col("n_toks").cast("double")))
      .select(col("source"), col("n_docs"), col("n_toks"),
        fix4(col("b_half").cast("double") / col("t_half").cast("double"))
          .as("w_half"),
        col("epochs"),
        (col("epochs") > lit(EPOCH_CAP)).as("over_repeated"))
      .orderBy("source")
  }

  private val epochScheduleSql =
    s"""WITH p AS (
      |  SELECT source, count(*) AS n_docs,
      |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_toks
      |  FROM documents GROUP BY source),
      |b AS (
      |  SELECT source, n_docs, n_toks,
      |         CAST(floor(sqrt(CAST(n_toks AS DOUBLE)) * 1000000.0)
      |              AS BIGINT) AS b_half
      |  FROM p),
      |t AS (SELECT CAST(sum(n_toks) AS BIGINT) AS budget,
      |             CAST(sum(b_half) AS BIGINT) AS t_half FROM b),
      |e AS (
      |  SELECT source, n_docs, n_toks,
      |         floor(CAST(b_half AS DOUBLE) / CAST(t_half AS DOUBLE)
      |               * 10000.0 + 0.5) / 10000.0 AS w_half,
      |         floor(CAST(budget AS DOUBLE) * CAST(b_half AS DOUBLE)
      |               / CAST(t_half AS DOUBLE) / CAST(n_toks AS DOUBLE)
      |               * 10000.0 + 0.5) / 10000.0 AS epochs
      |  FROM b CROSS JOIN t)
      |SELECT source, n_docs, n_toks, w_half, epochs,
      |       epochs > $EPOCH_CAP AS over_repeated
      |FROM e ORDER BY source""".stripMargin

  // --- End-to-end corpus retention funnel ---------------------------------

  /** The corpus-curation FUNNEL — the one-table summary a pipeline owner
    * reads before a training run: docs/tokens surviving each cumulative
    * stage (raw → exact dedup → near-dup canonical → quality cut →
    * decontamination). Stages reuse the engine's own checked semantics:
    *  - exact:   keep min(doc_id) per md5(normalized text) ([[Dedup.exact]]
    *    keep-one rule);
    *  - neardup: keep unclustered docs plus each n-gram-Jaccard cluster's
    *    canonical pick ([[Dedup.dedupCanonical]]'s (score, doc_id) rule,
    *    via the memoized once-per-corpus label build);
    *  - quality: composite score ≥ the corpus-mean composite — both sides
    *    in exact 1e-6 integer units (mean = BIGINT-sum div count, no FP);
    *  - decontam: drop benchmark docs (doc_id % 23 = 5) and any doc
    *    sharing a word-5-gram with them ([[TextAnalysis.decontaminate]]'s
    *    predicate).
    * Scale shape: one corpus scan feeds every stage predicate; the only
    * per-doc state shuffled is (doc_id, flags, n_toks) — text never
    * leaves the scan. The 5-row output is a final bounded aggregate. */
  def corpusFunnel(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val docs = Tables.documents(s, dir)
      .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
    // stage 2: exact keep-one — min doc_id per normalized-text hash
    val exactKeep = docs
      .withColumn("h", md5(graft.functions.TextFns.normalize(col("text"))))
      .groupBy("h").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    // stage 3: near-dup canonical — unclustered ∪ per-cluster pick
    val labels = Dedup.corpusClusterLabels(s, dir)
    val score6 = Dedup.canonicalScore6(s, dir)
    // Unclustered docs keep themselves: coalesce(label, doc_id) gives each
    // its own singleton partition (a label IS a clustered component's min
    // doc_id, so it can never collide with an unclustered doc's id).
    val pickW = Window.partitionBy(coalesce(col("label"), col("doc_id")))
      .orderBy(col("s6").desc, col("doc_id").asc)
    val canonicalKeep = docs.select("doc_id")
      .join(labels, Seq("doc_id"), "left")
      .join(score6, Seq("doc_id"))
      .withColumn("rn", row_number().over(pickW))
      .filter(col("rn") === 1)
      .select("doc_id")
    // stage 4 threshold: exact integer corpus mean of s6
    val meanRow = score6.agg(
      expr("sum(s6) div count(1)").cast("long").as("mean6"))
    // stage 5: benchmark 5-gram contamination (decontaminate's predicate)
    val sh5 = docs
      .withColumn("sh5",
        array_distinct(expr("word_shingles(split(text, ' '), 5)")))
    val benchGrams = sh5
      .filter(pmod(col("doc_id"), lit(23L)) === lit(5L))
      .select(explode(col("sh5")).as("g0"))
      .select(md5(col("g0")).as("g")).distinct()
    val contaminated = sh5
      .filter(pmod(col("doc_id"), lit(23L)) =!= lit(5L))
      .select(col("doc_id"), explode(col("sh5")).as("g0"))
      .withColumn("g", md5(col("g0")))
      .join(benchGrams, Seq("g"), "left_semi")
      .select("doc_id").distinct()
    val flagged = docs.select("doc_id", "n_toks")
      .join(score6, Seq("doc_id"))
      .crossJoin(broadcast(meanRow))
      .join(exactKeep.withColumn("f_exact", lit(1L)), Seq("doc_id"), "left")
      .join(canonicalKeep.withColumn("f_canon", lit(1L)), Seq("doc_id"), "left")
      .join(contaminated.withColumn("f_contam", lit(1L)), Seq("doc_id"), "left")
      .withColumn("s2", coalesce(col("f_exact"), lit(0L)))
      .withColumn("s3", col("s2") * coalesce(col("f_canon"), lit(0L)))
      .withColumn("s4",
        col("s3") * when(col("s6") >= col("mean6"), 1L).otherwise(0L))
      .withColumn("s5",
        col("s4") * when(pmod(col("doc_id"), lit(23L)) === lit(5L), 0L)
          .otherwise(lit(1L) - coalesce(col("f_contam"), lit(0L))))
    // one aggregation row, unpivoted by a stack GENERATOR — the funnel
    // subtree (clusters + contamination + dedup) evaluates exactly once,
    // where a 5-way union of selects over `agg` would re-run it per stage
    flagged.agg(
        count(lit(1)).as("d1"), sum("n_toks").as("t1"),
        sum("s2").as("d2"), sum(col("s2") * col("n_toks")).as("t2"),
        sum("s3").as("d3"), sum(col("s3") * col("n_toks")).as("t3"),
        sum("s4").as("d4"), sum(col("s4") * col("n_toks")).as("t4"),
        sum("s5").as("d5"), sum(col("s5") * col("n_toks")).as("t5"))
      .selectExpr(
        """stack(5,
          |  1, '1_raw', d1, t1,
          |  2, '2_exact_dedup', d2, t2,
          |  3, '3_neardup_canonical', d3, t3,
          |  4, '4_quality_cut', d4, t4,
          |  5, '5_decontaminated', d5, t5)
          |  AS (stage_idx, stage, n_docs, n_tokens)""".stripMargin,
        "d1", "t1")
      .select(col("stage_idx"), col("stage"), col("n_docs"), col("n_tokens"),
        fix4(col("n_docs").cast("double") / col("d1").cast("double"))
          .as("pct_docs"),
        fix4(col("n_tokens").cast("double") / col("t1").cast("double"))
          .as("pct_tokens"))
      .orderBy("stage_idx")
  }

  private val corpusFunnelSql =
    s"""WITH RECURSIVE ${Dedup.clusterLabChainSql},
      |dd AS (
      |  SELECT doc_id,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
      |         md5(regexp_replace(lower(trim(text)), '[^a-z0-9 ]+', ' ',
      |                            'g')) AS h,
      |         CAST(floor((0.5 * (len(list_filter(string_split(text, ' '),
      |                              x -> x = 'the' OR x = 'a'))
      |                 / CAST(len(string_split(text, ' ')) AS DOUBLE))
      |            + 0.3 * least(len(string_split(text, ' ')) / 100.0, 1.0)
      |            + 0.2 * (CASE WHEN (length(text)
      |                     - CAST(len(string_split(text, ' ')) AS DOUBLE)
      |                     + 1) / len(string_split(text, ' '))
      |                    BETWEEN 3 AND 8 THEN 1.0 ELSE 0.0 END))
      |           * 1000000.0 + 0.5) AS BIGINT) AS s6
      |  FROM documents),
      |ex AS (SELECT min(doc_id) AS doc_id FROM dd GROUP BY h),
      |pick AS (
      |  SELECT doc_id FROM (
      |    SELECT l.doc_id, row_number() OVER (PARTITION BY l.label
      |             ORDER BY s6 DESC, l.doc_id) AS rn
      |    FROM lab l JOIN dd USING (doc_id)) WHERE rn = 1),
      |canon AS (
      |  SELECT dd.doc_id FROM dd LEFT JOIN lab USING (doc_id)
      |  WHERE lab.label IS NULL OR dd.doc_id IN (SELECT doc_id FROM pick)),
      |mn AS (SELECT CAST(sum(s6) // count(*) AS BIGINT) AS mean6 FROM dd),
      |g5 AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |           generate_series(1, len(string_split(text, ' ')) - 4),
      |           i -> md5(array_to_string((string_split(text, ' '))[i:i+4],
      |                                    ' '))))) AS g
      |  FROM documents),
      |bg AS (SELECT DISTINCT g FROM g5 WHERE doc_id % 23 = 5),
      |contam AS (
      |  SELECT DISTINCT g5.doc_id FROM g5 JOIN bg USING (g)
      |  WHERE g5.doc_id % 23 <> 5),
      |fl AS (
      |  SELECT dd.doc_id, n_toks,
      |         CASE WHEN ex.doc_id IS NOT NULL THEN 1 ELSE 0 END AS s2_f,
      |         CASE WHEN ex.doc_id IS NOT NULL
      |               AND canon.doc_id IS NOT NULL THEN 1 ELSE 0 END AS s3_f,
      |         CASE WHEN ex.doc_id IS NOT NULL
      |               AND canon.doc_id IS NOT NULL
      |               AND s6 >= mean6 THEN 1 ELSE 0 END AS s4_f
      |  FROM dd CROSS JOIN mn
      |  LEFT JOIN ex ON dd.doc_id = ex.doc_id
      |  LEFT JOIN canon ON dd.doc_id = canon.doc_id),
      |fl2 AS (
      |  SELECT fl.*,
      |         CASE WHEN s4_f = 1 AND fl.doc_id % 23 <> 5
      |               AND contam.doc_id IS NULL THEN 1 ELSE 0 END AS s5_f
      |  FROM fl LEFT JOIN contam ON fl.doc_id = contam.doc_id),
      |a AS (
      |  SELECT CAST(count(*) AS BIGINT) AS d1,
      |         CAST(sum(n_toks) AS BIGINT) AS t1,
      |         CAST(sum(s2_f) AS BIGINT) AS d2,
      |         CAST(sum(s2_f * n_toks) AS BIGINT) AS t2,
      |         CAST(sum(s3_f) AS BIGINT) AS d3,
      |         CAST(sum(s3_f * n_toks) AS BIGINT) AS t3,
      |         CAST(sum(s4_f) AS BIGINT) AS d4,
      |         CAST(sum(s4_f * n_toks) AS BIGINT) AS t4,
      |         CAST(sum(s5_f) AS BIGINT) AS d5,
      |         CAST(sum(s5_f * n_toks) AS BIGINT) AS t5
      |  FROM fl2),
      |st(stage_idx, stage, n_docs, n_tokens) AS (
      |  SELECT 1, '1_raw', d1, t1 FROM a UNION ALL
      |  SELECT 2, '2_exact_dedup', d2, t2 FROM a UNION ALL
      |  SELECT 3, '3_neardup_canonical', d3, t3 FROM a UNION ALL
      |  SELECT 4, '4_quality_cut', d4, t4 FROM a UNION ALL
      |  SELECT 5, '5_decontaminated', d5, t5 FROM a)
      |SELECT stage_idx, stage, n_docs, n_tokens,
      |       floor(CAST(n_docs AS DOUBLE)
      |             / (SELECT CAST(d1 AS DOUBLE) FROM a) * 10000.0 + 0.5)
      |         / 10000.0 AS pct_docs,
      |       floor(CAST(n_tokens AS DOUBLE)
      |             / (SELECT CAST(t1 AS DOUBLE) FROM a) * 10000.0 + 0.5)
      |         / 10000.0 AS pct_tokens
      |FROM st ORDER BY stage_idx""".stripMargin

  /** Quantile normalization of document length across sources — the
    * batch-effect remover: map each source's length distribution onto
    * the POOLED distribution (source-v's quantile looks up the pooled
    * value at the same quantile), so downstream length-sensitive
    * filters treat a verbose and a terse source identically. The census
    * reports each source's mean length before and after — after
    * normalization every source's mean collapses toward the pooled
    * mean, and the residual gap measures how much of the source skew
    * was shape (not location) difference.
    *
    * Exactness: everything is integer until the final displays — the
    * lookup rank k = ⌈F_src(v)·N_pool⌉ = (cum_s·N_pool + n_s − 1) div
    * n_s is exact integer arithmetic (decimal(38,0) product, integral
    * div), and the normalized value is the min pooled value whose
    * cumulative count reaches k. Shape: frames are (source × value)-
    * domain-sized; the lookup itself is a STEP-FUNCTION ALIGNMENT, not
    * a join — probe rows (key = k) and pooled-CDF anchor rows (key =
    * cum_p) union-tag into ONE descending-ordered window where
    * `last(v_p, ignoreNulls)` picks, for every probe, the smallest
    * anchor with cum_p ≥ k. O(V log V) over the BOUNDED distinct-length
    * domain (the [[q: Mann-Whitney]] precedent) — the descending
    * UNBOUNDED-PRECEDING frame is Spark's incremental running-state
    * kind, so the pass is linear after the sort. */
  def quantileNorm(s: SparkSession, dir: String): DataFrame =
    quantileNormOn(Tables.documents(s, dir).select("source", "n_chars"))

  /** [[quantileNorm]] core over an explicit (source, n_chars) frame. */
  private[graft] def quantileNormOn(docs: DataFrame): DataFrame = {
    val perSV = docs.groupBy("source", "n_chars")
      .agg(count(lit(1)).as("t"))
    val wSrcCum = Window.partitionBy("source").orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wSrcAll = Window.partitionBy("source")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wGlobAll = Window
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // probe per (source, value): lookup rank k into the pooled CDF,
    // exact ceil via (cum_s·n_pool + n_s − 1) div n_s. n_pool rides the
    // same bounded-domain frame as the CDFs (a window, not a join).
    val probes = perSV
      .withColumn("cum_s", sum("t").over(wSrcCum))
      .withColumn("n_s", sum("t").over(wSrcAll))
      .withColumn("n_pool", sum("t").over(wGlobAll))
      .withColumn("key",
        expr("(CAST(cum_s AS DECIMAL(38,0)) * n_pool + n_s - 1) div n_s"))
      .withColumn("tag", lit(0))
      .drop("cum_s", "n_pool")
    val wCum = Window.orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val anchors = docs.groupBy("n_chars").agg(count(lit(1)).as("tp"))
      .withColumn("key", sum("tp").over(wCum))
      .select(col("n_chars").as("v_p"), col("key"), lit(1).as("tag"))
    // normalized(v) = min pooled v_p with cum_p ≥ k. Descending (key,
    // tag) order makes that "the last anchor seen" — anchors (tag 1)
    // sort before probes (tag 0) at equal key so cum_p = k matches.
    val wAlign = Window.orderBy(col("key").desc, col("tag").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val normed = probes.unionByName(anchors, allowMissingColumns = true)
      .withColumn("v_norm", last("v_p", ignoreNulls = true).over(wAlign))
      .where(col("tag") === 0)
    normed.groupBy("source")
      .agg(first("n_s").as("n_docs"),
        sum(col("t").cast("decimal(38,0)") * col("n_chars")).as("sb"),
        sum(col("t").cast("decimal(38,0)") * col("v_norm")).as("sa"))
      .select(col("source"), col("n_docs"),
        fix4(col("sb").cast("double") / col("n_docs").cast("double"))
          .as("mean_before"),
        fix4(col("sa").cast("double") / col("n_docs").cast("double"))
          .as("mean_after"))
      .orderBy("source")
  }

  private val quantileNormSql =
    """WITH sv AS (
      |  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS t
      |  FROM documents GROUP BY 1, 2),
      |sc AS (
      |  SELECT source, n_chars, t,
      |         sum(t) OVER (PARTITION BY source ORDER BY n_chars
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_s,
      |         sum(t) OVER (PARTITION BY source) AS n_s
      |  FROM sv),
      |pooled AS (
      |  SELECT n_chars AS v_p,
      |         sum(tp) OVER (ORDER BY n_chars
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_p,
      |         sum(tp) OVER () AS n_pool
      |  FROM (SELECT n_chars, CAST(count(*) AS BIGINT) AS tp
      |        FROM documents GROUP BY 1)),
      |normed AS (
      |  SELECT sc.source, sc.n_chars, sc.t, sc.n_s,
      |         min(p.v_p) AS v_norm
      |  FROM sc JOIN pooled p
      |    ON CAST(p.cum_p AS DECIMAL(38,0)) * sc.n_s
      |       >= CAST(sc.cum_s AS DECIMAL(38,0)) * p.n_pool
      |  GROUP BY 1, 2, 3, 4)
      |SELECT source, CAST(any_value(n_s) AS BIGINT) AS n_docs,
      |       floor(CAST(sum(CAST(t AS DECIMAL(38,0)) * n_chars) AS DOUBLE)
      |             / CAST(any_value(n_s) AS DOUBLE) * 10000.0 + 0.5)
      |         / 10000.0 AS mean_before,
      |       floor(CAST(sum(CAST(t AS DECIMAL(38,0)) * v_norm) AS DOUBLE)
      |             / CAST(any_value(n_s) AS DOUBLE) * 10000.0 + 0.5)
      |         / 10000.0 AS mean_after
      |FROM normed
      |GROUP BY source
      |ORDER BY source""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q_quantile_norm", quantileNorm, Some(quantileNormSql),
      doc = "quantile normalization of doc length across sources: " +
        "exact cross-multiplied CDF lookup onto the pooled " +
        "distribution, per-source mean before/after census"),
    Q("q_mixture_weights", mixtureWeights, Some(mixtureWeightsSql),
      doc = "Temperature-scaled source mixing weights (α = 1, 1/2, 1/4 " +
        "via exactly-rounded sqrt, 1e6-fixed bases, exact BIGINT " +
        "normalizers) — the data-mixing knob table"),
    Q("q_epoch_schedule", epochSchedule, Some(epochScheduleSql),
      doc = "Epoch/repetition schedule under α=1/2 temperature sampling " +
        "at a one-corpus-pass token budget — flags sources repeated past " +
        s"$EPOCH_CAP passes (the memorization-risk knob check)"),
    Q("q_corpus_funnel", corpusFunnel, Some(corpusFunnelSql),
      doc = "Cumulative curation funnel: docs/tokens after exact dedup, " +
        "near-dup canonical, quality-vs-mean cut, and benchmark " +
        "decontamination — each stage reusing the engine's checked rules"),
    Q("q_padding_waste", paddingWaste, Some(paddingWasteSql),
      doc = "Length-bucketed batching census: pad tokens per " +
        "power-of-two bucket vs the pad-to-global-max baseline — the " +
        "batch-geometry knob table"),
    Q("q_span_corruption", spanCorruption, Some(spanCorruptionSql),
      doc = "T5-style span-corruption mask census: deterministic " +
        "md5-seeded 3-token spans, masked/sentinel counts per source — " +
        "row-local mask planning for a denoising objective"),
    Q("q_stratified_sample", stratifiedSample, Some(stratifiedSampleSql),
      doc = "Equal-representation language downsampling by deterministic " +
        "md5 threshold — row-local keep/drop, no shuffle of doc rows"),
    Q("q_quality_retention", qualityRetention, Some(qualityRetentionSql),
      doc = "Quality-cutoff retention sweep: docs/tokens surviving each " +
        "decile threshold — the knob-setting table before corpus filtering"),
    Q("q_negative_sample", negativeSample, Some(negativeSampleSql)),
    Q("q_pii_redact", piiRedact, Some(piiRedactSql)),
    Q("q_domain_mix", domainMix, Some(domainMixSql)),
    Q("q_token_budget", tokenBudget, Some(tokenBudgetSql)),
    Q("q_chunk_dedup", chunkDedup, Some(chunkDedupSql)),
    Q("q_pack_sequences", packSequences, Some(packSequencesSql)),
    Q("q_shuffle_shards", shuffleShards, Some(shuffleShardsSql)),
    Q("q_column_profile", columnProfile, Some(columnProfileSql)))
}
