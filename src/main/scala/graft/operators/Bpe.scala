package graft.operators

import java.util.regex.Pattern

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** Byte-pair-encoding tokenizer training — the "train the tokenizer on
  * the corpus" step of an LLM data pipeline (Sennrich et al. 2016:
  * iteratively merge the most frequent adjacent symbol pair).
  *
  * Scale shape — the part that matters at 100 TB: the corpus is touched
  * EXACTLY ONCE, to build the (word, freq) table; every merge iteration
  * then runs on that VOCABULARY-sized table (millions of rows for a
  * 100 TB corpus — cluster work, but corpus-independent). The driver
  * sequences the merges (each needs the previous merge applied — the
  * same driver-loop shape as the Lloyd trainer in [[Similarity]]) and
  * receives only the 1-row argmax per round. Pair counting weights each
  * word's pairs by its corpus frequency, so the result is identical to
  * counting over the raw corpus.
  *
  * Determinism: ties on pair count break lexicographically on (left,
  * right) — reproducible across runs, partitionings, and engines. The
  * merge application is leftmost non-overlapping ("a a a" merges to
  * "aa a", never "a aa"), matching the reference BPE implementations.
  *
  * DuckDB oracle: the merge loop IS replayable as a bounded unroll —
  * N_MERGES is a fixed constant, so each round becomes a (pair-count
  * argmax, merge-apply) CTE pair chained off the previous round, with
  * the data-dependent regex replaced by a plain string replace over a
  * DOUBLE-SPACED symbol representation (` a  b  c `): RE2 has no
  * lookbehind, but with every adjacent boundary two spaces wide, the
  * pattern ` l  r ` consumes one space from each side and leaves the
  * neighbor boundary intact — exactly the Java zero-width-guard
  * leftmost-nonoverlap semantics ("a a a" → "aa a", shared-boundary
  * runs like "x y x y" merge both). Tie-breaks agree because the corpus
  * is BMP text: DuckDB memcmp on UTF-8 and Java UTF-16 compareTo induce
  * the same order below the surrogate range. BpeSpec additionally pins
  * the merge sequence on the classic hand-computable corpus.
  */
object Bpe {

  private val N_MERGES = 12

  /** End-of-word marker (the classic `</w>`), kept to one char so the
    * symbol-sequence strings stay compact. */
  private val EOW = "·"

  /** (word, freq) → (space-joined symbol sequence, freq). */
  private[graft] def wordTable(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      // chars joined by single spaces + end-of-word marker (the split
      // excludes the END position too: Spark's split keeps trailing
      // empties, which would inject a phantom "" symbol into every word)
      .select(concat(
        concat_ws(" ", split(col("word"), "(?!^)(?!$)")), lit(" " + EOW))
        .as("syms"), col("freq"))

  /** One training run: returns (step, left, right, pair_count) rows, one
    * per merge, in merge order. `vocab` is a (syms, freq) frame. */
  private[graft] def trainMerges(vocab: DataFrame,
                                 nMerges: Int): Seq[(Int, String, String, Long)] = {
    var v = vocab.cache()
    v.count() // materialize before the loop so each round reuses it
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var step = 0
    var done = false
    while (step < nMerges && !done) {
      // adjacent symbol pairs of every word, weighted by word frequency —
      // vocabulary-sized work, shuffled as (pair, partial-count) rows
      val top = v.select(col("freq"), split(col("syms"), " ").as("s"))
        .select(col("freq"), expr(
          """CASE WHEN size(s) >= 2
            |  THEN transform(sequence(1, size(s) - 1),
            |    i -> concat(element_at(s, i), ' ', element_at(s, i + 1)))
            |  ELSE cast(array() as array<string>) END""".stripMargin)
          .as("ps"))
        .select(col("freq"), explode(col("ps")).as("pair"))
        .groupBy("pair").agg(sum("freq").as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (pair, n) = (top(0).getString(0), top(0).getLong(1))
        val Array(l, r) = pair.split(" ", 2)
        merges += ((step, l, r, n))
        // leftmost non-overlapping merge: the zero-width boundary guards
        // consume nothing, and the regex engine resumes AFTER the matched
        // "l r" text — so "a a a" becomes "aa a", the reference behavior
        val pat = s"(?<=^|\\s)${Pattern.quote(l)} ${Pattern.quote(r)}(?=\\s|$$)"
        // regexp_replace's replacement treats \ and $ specially; symbols
        // here are corpus chars + EOW, so plain escape of \ and $ suffices
        val next = v.select(
          regexp_replace(col("syms"), pat,
            l.concat(r).replace("\\", "\\\\").replace("$", "\\$"))
            .as("syms"), col("freq"))
          .groupBy("syms").agg(sum("freq").as("freq"))
          // the working table is vocabulary-sized; don't pay 32-task
          // scheduling per round for it (each round is 2 tiny jobs — at
          // corpus scale the ROUNDS are cheap, the one corpus scan isn't)
          .coalesce(4)
          .localCheckpoint() // cut the per-round lineage
        v.unpersist()
        v = next.cache()
        step += 1
      }
    }
    val out = merges.result()
    v.unpersist()
    out
  }

  /** Trained-merge memo per (corpus dir, documents fingerprint) —
    * tokenizer training is once-per-corpus work (the ingest-time-index
    * precedent in [[Similarity]]): the merges query and the encode query
    * share one training run instead of each re-running the loop, and a
    * corpus regenerated in place retrains. */
  private val trained =
    new graft.Memo.Local[Seq[(Int, String, String, Long)]]("documents")

  private def trainedMerges(s: SparkSession, dir: String): Seq[(Int, String, String, Long)] =
    trained(s, dir)(trainMerges(wordTable(Tables.documents(s, dir)), N_MERGES))

  /** Registered query: the first N_MERGES BPE merges learned from the
    * documents corpus, with their pair frequencies. */
  def bpeMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    trainedMerges(s, dir).toDF("step", "left", "right", "pair_count")
      .orderBy("step")
  }

  /** Apply a learned merge list to a (syms, freq) vocabulary: the merges
    * replay IN TRAINING ORDER as chained leftmost-nonoverlap replaces —
    * encoding therefore agrees exactly with what training saw. */
  private[graft] def encodeWith(vocab: DataFrame,
                                merges: Seq[(Int, String, String, Long)]): DataFrame =
    merges.foldLeft(vocab) { case (df, (_, l, r, _)) =>
      val pat = s"(?<=^|\\s)${Pattern.quote(l)} ${Pattern.quote(r)}(?=\\s|$$)"
      df.withColumn("syms",
        regexp_replace(col("syms"), pat,
          l.concat(r).replace("\\", "\\\\").replace("$", "\\$")))
    }

  /** Registered query: encode the corpus with the trained merges and
    * report the compression census — the at-scale half of BPE (training
    * is a once-per-corpus loop; ENCODING is what runs over all 100 TB).
    *
    * Scale shape: encoding runs over the DISTINCT-WORD table (the chained
    * replaces execute once per vocabulary entry, not once per corpus
    * occurrence) and the corpus-level stats weight by word frequency. */
  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    val vocab = wordTable(Tables.documents(s, dir))
    val merges = trainedMerges(s, dir)
    encodeWith(vocab, merges)
      .select(col("freq"), size(split(col("syms"), " ")).as("n_tok"),
        (length(col("syms")) - size(split(col("syms"), " ")) + 1
          - lit(1)).as("n_chars")) // minus the EOW marker char
      .agg(count(lit(1)).as("n_distinct_words"),
        sum("freq").as("n_words"),
        sum(col("freq") * col("n_tok")).as("n_bpe_tokens"),
        sum(col("freq") * col("n_chars")).as("n_chars"))
      .select(col("n_distinct_words"), col("n_words"),
        col("n_bpe_tokens"), col("n_chars"),
        (floor(col("n_chars").cast("double") / col("n_bpe_tokens")
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d))
          .as("chars_per_token"))
  }

  /** Per-language tokenizer fertility with the trained merges — the
    * standard "is one tokenizer fair across languages" census (fertility
    * = BPE tokens per word; languages a tokenizer serves badly pay more
    * sequence length per word, which is a real training-cost and
    * eval-quality knob). Encoding runs ONCE over the distinct-word
    * vocabulary (language-independent), and per-language corpus counts
    * join back by word — the join shuffles bare words + counts at
    * vocabulary cardinality, never documents. All sums are BIGINT; the
    * two ratios are single floor-fixed divisions at the end. */
  def bpeFertility(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val lw = docs
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("lang", "word").agg(count(lit(1)).as("freq"))
    val wv = docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0).distinct()
      .select(col("word"), concat(
        concat_ws(" ", split(col("word"), "(?!^)(?!$)")), lit(" " + EOW))
        .as("syms"))
    val enc = encodeWith(wv, trainedMerges(s, dir))
      .select(col("word"), size(split(col("syms"), " ")).as("n_tok"),
        length(col("word")).cast("long").as("n_chr"))
    lw.join(enc, "word")
      .groupBy("lang")
      .agg(sum("freq").as("n_words"),
        sum(col("freq") * col("n_tok")).as("n_tokens"),
        sum(col("freq") * col("n_chr")).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_tokens"), col("n_chars"),
        (floor(col("n_tokens").cast("double") / col("n_words").cast("double")
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("fertility"),
        (floor(col("n_chars").cast("double") / col("n_tokens").cast("double")
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("chars_per_token"))
      .orderBy("lang")
  }

  /** Shared training pyramid: v0 (double-spaced per-word symbol reps),
    * then per round r a `top_r` argmax CTE and a `v_{r+1}` merged-vocab
    * CTE. Every CTE is MATERIALIZED — each round references its
    * predecessor several times and DuckDB inlines plain CTEs per
    * reference (the [[Graph]] kcoreSql lesson). */
  private def trainCtes: String = {
    val v0 =
      """v0 AS MATERIALIZED (
        |  SELECT ' ' || array_to_string(list_append(string_split(word, ''),
        |           '·'), '  ') || ' ' AS rep, freq
        |  FROM (SELECT word, CAST(count(*) AS BIGINT) AS freq
        |        FROM (SELECT unnest(string_split(text, ' ')) AS word
        |              FROM documents)
        |        WHERE length(word) > 0 GROUP BY word))""".stripMargin
    val rounds = (0 until N_MERGES).map { r =>
      val top =
        s"""top$r AS MATERIALIZED (
           |  SELECT split_part(pair, ' ', 1) AS lhs,
           |         split_part(pair, ' ', 2) AS rhs, n
           |  FROM (
           |    SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM (
           |      SELECT freq,
           |             unnest(list_transform(generate_series(1, len(toks) - 1),
           |               i -> toks[i] || ' ' || toks[i + 1])) AS pair
           |      FROM (SELECT freq, string_split(trim(rep), '  ') AS toks
           |            FROM v$r))
           |    GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 1))""".stripMargin
      // LEFT JOIN ON TRUE + COALESCE: if training exhausts mergeable pairs
      // before N_MERGES, top$r is empty and a CROSS JOIN would empty the
      // whole vocabulary — Spark's trainMerges just stops early, so the
      // oracle must treat an empty round as a no-op (ADVICE r6).
      val next =
        s"""v${r + 1} AS MATERIALIZED (
           |  SELECT rep, CAST(sum(freq) AS BIGINT) AS freq FROM (
           |    SELECT COALESCE(
           |             replace(v.rep, ' ' || t.lhs || '  ' || t.rhs || ' ',
           |                     ' ' || t.lhs || t.rhs || ' '),
           |             v.rep) AS rep, v.freq
           |    FROM v$r v LEFT JOIN top$r t ON TRUE)
           |  GROUP BY rep)""".stripMargin
      s"$top,\n$next"
    }.mkString(",\n")
    s"$v0,\n$rounds"
  }

  private val bpeMergesSql = {
    val steps = (0 until N_MERGES).map { r =>
      s"""SELECT CAST($r AS INTEGER) AS step, lhs AS "left", rhs AS "right",
         |       n AS pair_count FROM top$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $trainCtes
       |SELECT * FROM (
       |$steps)
       |ORDER BY step""".stripMargin
  }

  private val bpeEncodeSql = {
    // encoding replays the merges over the per-WORD vocab (v0, no
    // regrouping — Spark's encodeWith keeps one row per distinct word)
    val chain = (0 until N_MERGES).map { r =>
      s"""e${r + 1} AS MATERIALIZED (
         |  SELECT COALESCE(
         |           replace(e.rep, ' ' || t.lhs || '  ' || t.rhs || ' ',
         |                   ' ' || t.lhs || t.rhs || ' '),
         |           e.rep) AS rep, e.freq
         |  FROM e$r e LEFT JOIN top$r t ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""WITH $trainCtes,
       |e0 AS MATERIALIZED (SELECT rep, freq FROM v0),
       |$chain
       |SELECT CAST(count(*) AS BIGINT) AS n_distinct_words,
       |       CAST(sum(freq) AS BIGINT) AS n_words,
       |       CAST(sum(freq * n_tok) AS BIGINT) AS n_bpe_tokens,
       |       CAST(sum(freq * n_chars) AS BIGINT) AS n_chars,
       |       floor(CAST(sum(freq * n_chars) AS DOUBLE)
       |             / CAST(sum(freq * n_tok) AS DOUBLE) * 10000.0 + 0.5)
       |         / 10000.0 AS chars_per_token
       |FROM (SELECT freq,
       |             CAST(len(string_split(trim(rep), '  ')) AS BIGINT) AS n_tok,
       |             CAST(length(replace(trim(rep), ' ', '')) AS BIGINT) - 1
       |               AS n_chars
       |      FROM e$N_MERGES)""".stripMargin
  }

  private val bpeFertilitySql = {
    // word-keyed encode chain (the census chain in bpeEncodeSql is
    // rep-keyed; fertility needs the word preserved for the per-lang join)
    val chain = (0 until N_MERGES).map { r =>
      s"""f${r + 1} AS MATERIALIZED (
         |  SELECT word, COALESCE(
         |           replace(f.rep, ' ' || t.lhs || '  ' || t.rhs || ' ',
         |                   ' ' || t.lhs || t.rhs || ' '),
         |           f.rep) AS rep
         |  FROM f$r f LEFT JOIN top$r t ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""WITH $trainCtes,
       |lw AS MATERIALIZED (
       |  SELECT lang, word, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
       |        FROM documents)
       |  WHERE length(word) > 0 GROUP BY lang, word),
       |f0 AS MATERIALIZED (
       |  SELECT word, ' ' || array_to_string(list_append(
       |           string_split(word, ''), '·'), '  ') || ' ' AS rep
       |  FROM (SELECT DISTINCT word
       |        FROM (SELECT unnest(string_split(text, ' ')) AS word
       |              FROM documents)
       |        WHERE length(word) > 0)),
       |$chain,
       |enc AS (
       |  SELECT word,
       |         CAST(len(string_split(trim(rep), '  ')) AS BIGINT) AS n_tok,
       |         CAST(length(word) AS BIGINT) AS n_chr
       |  FROM f$N_MERGES)
       |SELECT lang, CAST(sum(freq) AS BIGINT) AS n_words,
       |       CAST(sum(freq * n_tok) AS BIGINT) AS n_tokens,
       |       CAST(sum(freq * n_chr) AS BIGINT) AS n_chars,
       |       floor(CAST(sum(freq * n_tok) AS DOUBLE)
       |             / CAST(sum(freq) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
       |         AS fertility,
       |       floor(CAST(sum(freq * n_chr) AS DOUBLE)
       |             / CAST(sum(freq * n_tok) AS DOUBLE) * 10000.0 + 0.5)
       |         / 10000.0 AS chars_per_token
       |FROM lw JOIN enc USING (word)
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---- Unigram-LM (SentencePiece-flavored) Viterbi segmenter -------------

  /** Words longer than this are excluded from segmenter training (both
    * engines): the oracle's DP unroll is one CTE stage per character
    * position, and real trainers cap candidate length the same way. */
  private val UNI_MAX_WORD = 12
  private val UNI_MAX_PIECE = 4
  private val UNI_TOP = 15

  /** Driver-collect guard: the word-frequency table is
    * vocabulary-bounded at any corpus size (the premise every
    * single-node tokenizer trainer — SentencePiece included — rests
    * on), but an unexpectedly wide vocab must fail loudly, not OOM the
    * driver (the fuzzy-gram DF_MAP_CAP discipline). */
  private val UNI_WORD_CAP = 1 << 16

  /** ⌊log₂ x⌋ + 1 for x ≥ 1 — `length(bin(x))` in BOTH engines, the
    * portable integer surrogate for −log p (libm ln is 1-ulp
    * unportable; bit length is exact). */
  private def bits(x: Long): Long =
    64L - java.lang.Long.numberOfLeadingZeros(x)

  /** Unigram-LM tokenizer: seed the piece inventory with every ≤
    * [[UNI_MAX_PIECE]]-char substring occurrence (frequency-weighted),
    * score pieces by the integer bit-cost bits(T) − bits(count) (more
    * frequent → cheaper, with the per-piece constant acting as the
    * piece-count prior), Viterbi-segment every word by minimum total
    * cost (tie → earliest split, i.e. longest piece), then ONE
    * EM-style refit: recount pieces from the winning segmentations
    * (+1 smoothing over the seed inventory) and re-segment. Output:
    * the top pieces by final weighted usage — the learned inventory.
    *
    * This is the second tokenizer family next to [[bpeMerges]] (merge-
    * based vs segmentation-based — the two production vocabularies).
    * Scale shape: the corpus collapses to the (word, freq) table in one
    * scan; training runs on the DRIVER over vocabulary-bounded state
    * (the BPE/PQ/Lloyd precedent, guarded by [[UNI_WORD_CAP]]). Every
    * quantity is exact integer arithmetic, so DuckDB replays training
    * as unrolled per-position DP CTE stages — forward min-cost table,
    * backward traceback, refit, second pass — bit-for-bit. */
  def unigramLm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (_, usage, costs) = trainedUnigram(s, dir)
    usage.toSeq.sortBy { case (p, u) => (-u, p) }.take(UNI_TOP)
      .map { case (p, u) => (p, u, costs(p)) }
      .toDF("piece", "used", "cost_bits")
      .orderBy(col("used").desc, col("piece").asc)
  }

  /** Trained-segmenter memo per corpus dir (the [[trainedMerges]]
    * lifecycle): (word → final segmentation, final usage, final costs)
    * are plain driver data, shared by the inventory query and the
    * fertility census. */
  private val uniTrained = new graft.Memo.Local[
    (Map[String, Seq[String]], Map[String, Long], Map[String, Long])]("documents")

  private def trainedUnigram(s: SparkSession, dir: String)
      : (Map[String, Seq[String]], Map[String, Long], Map[String, Long]) =
    uniTrained(s, dir)(
      uniTrainCore(collectWords(Tables.documents(s, dir).select("text"))))

  private def collectWords(docs: DataFrame): Seq[(String, Long)] = {
    val s = docs.sparkSession
    import s.implicits._
    val wordRows = docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0 && length(col("w")) <= UNI_MAX_WORD)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .limit(UNI_WORD_CAP + 1)
      .as[(String, Long)].collect()
    require(wordRows.length <= UNI_WORD_CAP,
      s"unigramLm: word vocabulary exceeds $UNI_WORD_CAP — distribute " +
        "the DP (broadcast cost map + mapPartitions) before raising the cap")
    wordRows.sortBy(_._1).toSeq
  }

  /** [[unigramLm]] over an explicit (text) frame — the seam
    * (un-memoized). */
  private[graft] def unigramLmOn(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val (_, usage, costs) = uniTrainCore(collectWords(docs))
    usage.toSeq.sortBy { case (p, u) => (-u, p) }.take(UNI_TOP)
      .map { case (p, u) => (p, u, costs(p)) }
      .toDF("piece", "used", "cost_bits")
      .orderBy(col("used").desc, col("piece").asc)
  }

  /** The driver training core: 2 Viterbi rounds over the word table. */
  private def uniTrainCore(words: Seq[(String, Long)])
      : (Map[String, Seq[String]], Map[String, Long], Map[String, Long]) = {
    // seed counts: every substring occurrence, frequency-weighted
    val cnt0 = scala.collection.mutable.Map[String, Long]()
    for {
      (w, f) <- words
      st <- 0 until w.length
      ln <- 1 to UNI_MAX_PIECE if st + ln <= w.length
    } {
      val p = w.substring(st, st + ln)
      cnt0(p) = cnt0.getOrElse(p, 0L) + f
    }
    def costsOf(cnt: Map[String, Long]): Map[String, Long] = {
      val t = cnt.values.sum
      cnt.map { case (p, c) => p -> (bits(t) - bits(c)) }
    }
    // Viterbi: min total cost, tie -> smallest split start (longest piece)
    def viterbi(w: String, cost: Map[String, Long]): Seq[String] = {
      val L = w.length
      val inf = Long.MaxValue / 4
      val bc = Array.fill(L + 1)(inf)
      val bj = Array.fill(L + 1)(-1)
      bc(0) = 0L
      var i = 1
      while (i <= L) {
        var j = math.max(0, i - UNI_MAX_PIECE)
        while (j < i) {
          if (bc(j) < inf) {
            cost.get(w.substring(j, i)).foreach { c =>
              if (bc(j) + c < bc(i)) { bc(i) = bc(j) + c; bj(i) = j }
            }
          }
          j += 1
        }
        i += 1
      }
      var pos = L
      val rev = scala.collection.mutable.ArrayBuffer[String]()
      while (pos > 0) { rev += w.substring(bj(pos), pos); pos = bj(pos) }
      rev.reverse.toSeq
    }
    var costs = costsOf(cnt0.toMap)
    var usage: Map[String, Long] = Map.empty
    var segs: Map[String, Seq[String]] = Map.empty
    for (r <- 1 to 2) {
      val u = scala.collection.mutable.Map[String, Long]()
      segs = words.map { case (w, f) =>
        val ps = viterbi(w, costs)
        ps.foreach(p => u(p) = u.getOrElse(p, 0L) + f)
        w -> ps
      }.toMap
      usage = u.toMap
      if (r < 2)
        costs = costsOf(
          cnt0.keys.map(p => p -> (usage.getOrElse(p, 0L) + 1L)).toMap)
    }
    (segs, usage, costs)
  }

  /** One Viterbi round (forward DP + traceback + usage) as oracle CTEs;
    * `tag` prefixes the round's CTE names, `vocab` names the cost CTE. */
  private def uniRoundSql(tag: String, vocab: String): String = {
    val fwd = (1 to UNI_MAX_WORD).map { i =>
      val branches = (math.max(0, i - UNI_MAX_PIECE) until i).map { j =>
        s"""      SELECT p.w, p.cost + v.cost AS cost, CAST($j AS BIGINT) AS j
           |      FROM ${tag}_b$j p
           |      JOIN $vocab v ON v.piece = substr(p.w, ${j + 1}, ${i - j})
           |      WHERE length(p.w) >= $i""".stripMargin
      }.mkString("\n      UNION ALL\n")
      s"""${tag}_b$i AS MATERIALIZED (
         |  SELECT w, cost, j FROM (
         |    SELECT w, cost, j,
         |           row_number() OVER (PARTITION BY w ORDER BY cost, j)
         |             AS rn
         |    FROM (
         |$branches
         |    )) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val ball = (1 to UNI_MAX_WORD).map(i =>
      s"SELECT w, $i AS i, cost, j FROM ${tag}_b$i").mkString("\n  UNION ALL ")
    val back = (1 to UNI_MAX_WORD).map { k =>
      s"""${tag}_t$k AS MATERIALIZED (
         |  SELECT t.w, t.freq, b.j AS pos,
         |         substr(t.w, CAST(b.j + 1 AS INTEGER),
         |                CAST(t.pos - b.j AS INTEGER)) AS piece
         |  FROM ${tag}_t${k - 1} t
         |  JOIN ${tag}_ball b ON b.w = t.w AND b.i = t.pos
         |  WHERE t.pos > 0)""".stripMargin
    }.mkString(",\n")
    val pieces = (1 to UNI_MAX_WORD).map(k =>
      s"SELECT piece, freq FROM ${tag}_t$k").mkString("\n    UNION ALL ")
    s"""${tag}_b0 AS (
       |  SELECT w, CAST(0 AS BIGINT) AS cost, CAST(-1 AS BIGINT) AS j
       |  FROM words),
       |$fwd,
       |${tag}_ball AS MATERIALIZED (
       |  $ball),
       |${tag}_t0 AS (
       |  SELECT w, freq, CAST(length(w) AS BIGINT) AS pos FROM words),
       |$back,
       |${tag}_u AS MATERIALIZED (
       |  SELECT piece, CAST(sum(freq) AS BIGINT) AS used FROM (
       |    $pieces)
       |  WHERE piece IS NOT NULL GROUP BY 1)""".stripMargin
  }

  /** The shared two-round training chain (words → seed → round-a DP →
    * refit → round-b DP), composed into both unigram oracles. */
  private lazy val uniChainSql =
    s"""words AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) > 0 AND length(w) <= $UNI_MAX_WORD GROUP BY 1),
       |seed AS MATERIALIZED (
       |  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
       |    SELECT substr(w, st.st, ln.ln) AS piece, freq
       |    FROM words
       |    CROSS JOIN (SELECT unnest(generate_series(1, $UNI_MAX_WORD))
       |                  AS st) st
       |    CROSS JOIN (SELECT unnest(generate_series(1, $UNI_MAX_PIECE))
       |                  AS ln) ln
       |    WHERE st.st + ln.ln - 1 <= length(w))
       |  GROUP BY 1),
       |ta AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM seed),
       |va AS MATERIALIZED (
       |  SELECT piece,
       |         CAST(length(bin(t.t)) - length(bin(cnt)) AS BIGINT) AS cost
       |  FROM seed CROSS JOIN ta t),
       |${uniRoundSql("a", "va")},
       |tb AS (
       |  SELECT CAST(sum(coalesce(u.used, 0) + 1) AS BIGINT) AS t
       |  FROM seed s LEFT JOIN a_u u ON u.piece = s.piece),
       |vb AS MATERIALIZED (
       |  SELECT s.piece,
       |         CAST(length(bin(t.t))
       |              - length(bin(coalesce(u.used, 0) + 1)) AS BIGINT)
       |           AS cost
       |  FROM seed s LEFT JOIN a_u u ON u.piece = s.piece
       |  CROSS JOIN tb t),
       |${uniRoundSql("b", "vb")}""".stripMargin

  private lazy val unigramLmSql =
    s"""WITH $uniChainSql
       |SELECT u.piece, u.used, v.cost AS cost_bits
       |FROM b_u u JOIN vb v ON v.piece = u.piece
       |ORDER BY u.used DESC, u.piece LIMIT $UNI_TOP""".stripMargin

  /** Per-language fertility under the TRAINED unigram segmentation —
    * the cross-tokenizer fairness census next to [[bpeFertility]]
    * (same shape, segmentation-based inventory): pieces/word and
    * chars/piece per language, words above [[UNI_MAX_WORD]] excluded
    * exactly as in training (both engines). Shares the memoized
    * training; the query itself is one lang-word aggregate joined
    * against the broadcast word→pieces table. */
  def unigramFertility(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (segs, _, _) = trainedUnigram(s, dir)
    val ntok = segs.toSeq.map { case (w, ps) => (w, ps.size.toLong) }
      .toDF("word", "n_tok")
    val lw = Tables.documents(s, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0 &&
        length(col("word")) <= UNI_MAX_WORD)
      .groupBy("lang", "word").agg(count(lit(1)).as("freq"))
    lw.join(broadcast(ntok), "word")
      .groupBy("lang")
      .agg(sum("freq").as("n_words"),
        sum(col("freq") * col("n_tok")).as("n_pieces"),
        sum(col("freq") * length(col("word")).cast("long")).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_pieces"), col("n_chars"),
        (floor(col("n_pieces").cast("double") / col("n_words")
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d)).as("fertility"),
        (floor(col("n_chars").cast("double") / col("n_pieces")
          * lit(10000.0d) + lit(0.5d)) / lit(10000.0d))
          .as("chars_per_piece"))
      .orderBy("lang")
  }

  private lazy val unigramFertilitySql = {
    val pieces = (1 to UNI_MAX_WORD).map(k =>
      s"SELECT w, piece FROM b_t$k").mkString("\n    UNION ALL ")
    s"""WITH $uniChainSql,
       |nt AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS n_tok FROM (
       |    $pieces)
       |  WHERE piece IS NOT NULL GROUP BY 1),
       |lw AS (
       |  SELECT lang, w, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT lang, unnest(string_split(text, ' ')) AS w
       |    FROM documents)
       |  WHERE length(w) > 0 AND length(w) <= $UNI_MAX_WORD
       |  GROUP BY 1, 2)
       |SELECT lang, CAST(sum(freq) AS BIGINT) AS n_words,
       |       CAST(sum(freq * n_tok) AS BIGINT) AS n_pieces,
       |       CAST(sum(freq * length(lw.w)) AS BIGINT) AS n_chars,
       |       floor(CAST(sum(freq * n_tok) AS DOUBLE) / sum(freq)
       |             * 10000.0 + 0.5) / 10000.0 AS fertility,
       |       floor(CAST(sum(freq * length(lw.w)) AS DOUBLE)
       |             / sum(freq * n_tok) * 10000.0 + 0.5) / 10000.0
       |         AS chars_per_piece
       |FROM lw JOIN nt ON nt.w = lw.w
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("q_unigram_lm", unigramLm, Some(unigramLmSql),
      doc = "Unigram-LM (SentencePiece-style) Viterbi segmenter: " +
        "integer bit-cost pieces, min-cost DP + EM refit on the " +
        "vocabulary-bounded word table, oracle-replayed as unrolled " +
        "per-position DP/traceback CTE stages"),
    Q("q_unigram_fertility", unigramFertility, Some(unigramFertilitySql),
      doc = "Per-language fertility under the trained unigram " +
        "segmentation (pieces/word, chars/piece) — the cross-tokenizer " +
        "fairness census next to q_bpe_fertility; shares the memoized " +
        "training"),
    Q("q_bpe_merges", bpeMerges, Some(bpeMergesSql),
      doc = "BPE tokenizer training: first merges + frequencies, oracle-" +
        "replayed as a bounded unroll of (argmax, merge) CTE rounds"),
    Q("q_bpe_encode", bpeEncode, Some(bpeEncodeSql),
      doc = "BPE corpus encoding census with the trained merges, oracle-" +
        "replayed by chaining the trained merges over the word vocab"),
    Q("q_bpe_fertility", bpeFertility, Some(bpeFertilitySql),
      doc = "Per-language tokenizer fertility (BPE tokens/word, " +
        "chars/token) with the trained merges — the cross-language " +
        "tokenizer-fairness census"))
}
