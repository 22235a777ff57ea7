package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** Empirical scale-step evidence behind the 100 TB design claims: the
  * candidate-generation / index-probe structures that are ARGUED linear
  * in SURVEY.md are MEASURED here across a real 10× corpus growth.
  *
  * The 10× corpus is DERIVED (the read-only fixtures stay untouched):
  * each sf0.1 document is copied into 10 shards with every word
  * suffixed `_k` — a bijection on shingles per shard, so each shard
  * reproduces the base corpus's full pairwise-Jaccard structure while
  * shards stay disjoint in shingle space (10 similar-statistics data
  * shards, the shape a 10× crawl actually has — NOT 10 verbatim copies,
  * which would plant a quadratic true-duplicate pathology no blocker
  * may legally prune). Embeddings get a deterministic per-shard,
  * per-component ±0.3% jitter: distinct vectors, same distribution.
  *
  * Bands are deliberately loose (±25-ish% around ×10): minhash values
  * change under the shingle bijection, so per-shard candidate counts
  * vary stochastically around the base count — the assertion is
  * LINEARITY (ratio ≈ 10, not ≈ 100), not exact reproduction.
  */
class ScalingCurveSpec extends SparkTestBase {

  private val SCALE = 10
  private val baseDir = "/root/testdata/sf0.1"

  /** The derived corpus, published once per checkout by the shared
    * [[graft.ScaleFixture]] builder (also used by [[graft.ScaleBench]]'s
    * fleet-wide pass) — its fingerprint keys on the base fixture's file
    * stats, so an in-place fixture regeneration is a rebuild instead of
    * a stale read. */
  private lazy val scaleDir = ScaleFixture.ensure(spark, baseDir, SCALE)

  test("minhash-LSH candidate pairs grow near-linearly across a 10x " +
    "scale step (banding is O(n), not all-pairs)") {
    def cand(dir: String): Long =
      Dedup.minhashCandidates(
        Dedup.docsWithShingles(spark, dir).select("doc_id", "sh")).count()
    val c1 = cand(baseDir)
    val c10 = cand(scaleDir)
    val ratio = c10.toDouble / c1
    info(f"minhash candidates: base=$c1 scaled=$c10 ratio=$ratio%.2f")
    assert(c1 > 0, "base corpus produced no candidates — fixture drift?")
    assert(ratio >= 7.0 && ratio <= 13.0,
      s"minhash candidate growth $ratio is not near-linear for a 10x " +
        s"step ($c1 -> $c10); a quadratic path would show ~100x")
  }

  test("ngram inverted-index posting work and candidates grow " +
    "near-linearly across a 10x scale step") {
    // capped posting JOIN WORK Σ pn·(pn−1)/2 — the exact number of pair
    // rows the index self-join materializes before aggregation
    def work(dir: String): (Long, Long) = {
      val d = Dedup.ngramDocs(spark, dir)
      val w = d.select(col("lang"), col("source"), explode(col("sh2")).as("g"))
        .groupBy("lang", "source", "g").agg(count(lit(1)).as("pn"))
        .filter(col("pn") <= Dedup.POSTING_CAP)
        .agg(coalesce(sum(expr("pn * (pn - 1) div 2")), lit(0L)))
        .collect().head.getLong(0)
      val c = Dedup.ngramCandidates(d).count()
      (w, c)
    }
    val (w1, c1) = work(baseDir)
    val (w10, c10) = work(scaleDir)
    val wr = w10.toDouble / w1
    val cr = c10.toDouble / c1
    info(f"ngram posting work: $w1 -> $w10 (x$wr%.2f); " +
      f"candidates: $c1 -> $c10 (x$cr%.2f)")
    assert(w1 > 0 && c1 > 0)
    assert(wr >= 7.0 && wr <= 13.0,
      s"posting work growth $wr not near-linear ($w1 -> $w10)")
    assert(cr >= 7.0 && cr <= 13.0,
      s"candidate growth $cr not near-linear ($c1 -> $c10)")
  }

  test("trained-IVF probe cost: scanned FRACTION stays flat across a " +
    "10x scale step (probe rows grow linearly, never quadratically)") {
    val NPROBE = 4 // mirrors Similarity's probe width
    def probeStats(dir: String): (Double, Long, Long) = {
      val e = Similarity.corpus(spark, dir)
      val cents = Similarity.trainCentroids(e)
      val cdf = Similarity.centroidFrame(spark, cents)
      val sizes = Similarity.assignToCentroids(e, cdf)
        .groupBy("cid").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val total = sizes.values.sum
      // 20 probe queries, centroid ranking replayed driver-side (the
      // centroid table is k×DIM driver metadata either way)
      val queries = e.filter(col("vec_id") % lit(97) === 0).limit(20)
        .select("emb", "nrm").collect()
        .map(r => (r.getSeq[Double](0), r.getDouble(1)))
      val scanned = queries.map { case (q, qn) =>
        cents.map { case (cid, c) =>
          val cn = math.sqrt(c.map(x => x * x).sum)
          val dot = q.zip(c).map { case (a, b) => a * b }.sum
          (cid, if (qn * cn == 0) 0.0 else dot / (qn * cn))
        }.sortBy { case (cid, cos) => (-cos, cid) }
          .take(NPROBE).map { case (cid, _) => sizes.getOrElse(cid, 0L) }.sum
      }
      val meanScanned = scanned.sum / scanned.length
      (meanScanned.toDouble / total, meanScanned, total)
    }
    val (f1, s1, n1) = probeStats(baseDir)
    val (f10, s10, n10) = probeStats(scaleDir)
    info(f"probe fraction: base $s1/$n1 = $f1%.3f; " +
      f"scaled $s10/$n10 = $f10%.3f; scanned-row ratio ${s10.toDouble / s1}%.2f")
    assert(f1 < 0.75, s"base probe fraction $f1 — the index isn't pruning")
    // the 100 TB property: 10x more data must NOT probe a larger share
    // of the corpus (cells grow in SIZE, not in probed COUNT)
    assert(f10 <= f1 * 1.5 + 0.05,
      s"probe fraction grew $f1 -> $f10 across the scale step")
    val rowRatio = s10.toDouble / s1
    assert(rowRatio <= SCALE * 1.6,
      s"probe-scanned rows grew x$rowRatio — super-linear probe cost")
  }

  test("fuzzy-name candidates stay O(n) across a 10x step when q grows " +
    "with corpus size (the documented log_|Sigma|(n) rule)") {
    import spark.implicits._
    // High-entropy templated names (the CandidateGuardSpec fixture shape:
    // shared literal template, multiplicative-hash digit suffix so true
    // matches are sparse and an O(n) bound is achievable). The operator's
    // own doc says gram length q must grow ~log_|Sigma|(n) to keep gram
    // df below HOT_GRAM_CAP as the corpus grows: at n=600 digit 2-grams
    // (universe 100) sit just under the cap; at n=6000 they'd ALL go hot
    // (df ~ 8n/100 >> 64, quadratic dense path), while 3-grams (universe
    // 1000, df ~ 7n/1000 ~ 42) keep the selective path alive. This test
    // MEASURES that the documented rule works: candidates at 10x the
    // names, with q grown one step, stay within the same 60n linear
    // bound the guard asserts at base scale.
    def names(n: Int) = (1 to n)
      .map(i => (i.toLong, f"Supplier#${(i.toLong * 48271L) % 999999937L}%09d"))
      .toDF("k", "nm")
      .withColumn("len", length(col("nm")))
    val n1 = 600
    val n10 = n1 * SCALE
    val c1 = operators.Breadth.fuzzyCandidates(names(n1), D = 2, qg = 2).count()
    val c10 = operators.Breadth.fuzzyCandidates(names(n10), D = 2, qg = 3).count()
    val perName1 = c1.toDouble / n1
    val perName10 = c10.toDouble / n10
    info(f"fuzzy candidates: n=$n1 -> $c1 ($perName1%.1f/name, qg=2); " +
      f"n=$n10 -> $c10 ($perName10%.1f/name, qg=3); " +
      f"ratio ${c10.toDouble / c1}%.2f (quadratic would be ~${SCALE * SCALE})")
    assert(c1 > 0 && c10 > 0)
    // The O(n) structure: per-name candidates are bounded by (qD+1)
    // prefix grams x a df-capped bucket each, a CONSTANT in n (448 here);
    // the guard's 60n constant was measured at qg=2's 5-gram prefix, so
    // the qg=3 bound scales by 7/5 plus slack (measured: 81.6/name).
    assert(c10 <= 100L * n10,
      s"fuzzy candidates $c10 exceed 100n=${100L * n10} at the 10x step — " +
        "the q-growth rule did not keep blocking O(n)")
    // linearity of the per-name candidate load itself (loose band: the
    // qg step changes bucket shapes, so only the ORDER matters)
    assert(perName10 <= perName1 * 4 + 8,
      f"per-name candidate load grew $perName1%.1f -> $perName10%.1f — " +
        "super-linear growth across the 10x step")
  }

  test("dup-passage seed-pair volume grows near-linearly across a 10x " +
    "scale step (capped postings keep span extraction O(n))") {
    // The word-suffix bijection preserves each shard's 8-gram structure
    // while keeping shards disjoint, so matching-seed pairs — the only
    // thing q_dup_passages ever materializes per document pair — must
    // grow ~10x. A quadratic path (uncapped hot grams pairing across
    // shards) would show ~100x.
    import org.apache.spark.sql.functions._
    def pairVolume(dir: String): Long = {
      graft.functions.GraftFunctions.register(spark)
      val seeds = Tables.documents(spark, dir)
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id"),
          posexplode(expr("word_shingles(toks, 8)")).as(Seq("p", "g")))
        .select(col("doc_id"), md5(col("g")).as("h"))
      seeds.groupBy("h").agg(count(lit(1)).as("pn"))
        .filter(col("pn") <= Dedup.POSTING_CAP)
        .agg(coalesce(sum(expr("pn * (pn - 1) div 2")), lit(0L)))
        .collect().head.getLong(0)
    }
    val v1 = pairVolume(baseDir)
    val v10 = pairVolume(scaleDir)
    val r = v10.toDouble / v1
    info(s"dup-passage seed pairs: $v1 -> $v10 (x$r)")
    assert(v1 > 0, "base corpus produced no matching seeds — fixture drift?")
    assert(r >= 7.0 && r <= 13.0,
      s"seed-pair growth x$r is not near-linear ($v1 -> $v10)")
  }

  test("dedup-cluster formation across a 10x step: edge volume grows " +
    "near-linearly and pointer-jumping rounds stay flat") {
    // The scale-10 corpus is 10 shingle-disjoint shards with the base
    // corpus's pairwise-Jaccard structure, so the >=0.5-Jaccard edge set
    // grows ~10x (per shard a copy of the base edge set) while component
    // SHAPES — and therefore diameters — are unchanged. The two claims
    // that make cluster formation safe at 100 TB: per-round work rides
    // the EDGE set (linear), and the round count rides the component
    // diameter (O(log d) via the pointer jump), not the corpus size.
    def stats(dir: String): (Long, Int) = {
      val edges = Dedup.similarityEdges(
        Dedup.ngramDocs(spark, dir), Dedup.CLUSTER_JACCARD).localCheckpoint()
      val n = edges.count()
      val (labels, rounds) = Dedup.clusterLabelsWithRounds(edges)
      labels.count() // force the final frame so rounds is fully real
      (n, rounds)
    }
    val (e1, r1) = stats(baseDir)
    val (e10, r10) = stats(scaleDir)
    val er = e10.toDouble / e1
    info(s"cluster edges: $e1 -> $e10 (x$er); rounds: $r1 -> $r10")
    assert(e1 > 0, "base corpus produced no cluster edges — fixture drift?")
    assert(er >= 7.0 && er <= 13.0,
      s"cluster edge growth x$er is not near-linear ($e1 -> $e10)")
    assert(r10 <= r1 + 1,
      s"pointer-jumping rounds grew $r1 -> $r10 across a step that " +
        "preserves component shapes — rounds must track diameter, not size")
  }

  test("quantile-norm alignment work is DOMAIN-bounded: union rows grow " +
    "~1x across the 10x corpus step (the r12 BNLJ-kill scale claim)") {
    // the rewritten lookup's unit of work: probe rows (distinct
    // (source, n_chars)) + anchor rows (distinct n_chars) through ONE
    // sorted window — the corpus-sized frame never enters the alignment
    def work(dir: String): (Long, Long, Long) = {
      val docs = Tables.documents(spark, dir).select("source", "n_chars")
      (docs.distinct.count(), docs.select("n_chars").distinct.count(),
        docs.count())
    }
    val (p1, a1, n1) = work(baseDir)
    val (p10, a10, n10) = work(scaleDir)
    val unionRatio = (p10 + a10).toDouble / (p1 + a1)
    info(f"docs x${n10.toDouble / n1}%.1f; probes $p1 -> $p10, " +
      f"anchors $a1 -> $a10, union rows x$unionRatio%.2f")
    assert(n10 >= 9 * n1, "scale corpus is not ~10x — fixture drift?")
    // measured 1.10x at the 10x step (probes 3933 -> 4201, anchors
    // 523 -> 701); band is loose — the point is ~1x, not ~10x
    assert(unionRatio <= 3.0,
      s"alignment work grew x$unionRatio across a 10x corpus step — the " +
        "distinct-length domain argument no longer holds")
    assert(p10 + a10 < n10 / 5,
      s"union rows ${p10 + a10} are not small next to $n10 docs")
  }
}
