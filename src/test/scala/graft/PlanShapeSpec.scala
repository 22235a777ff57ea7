package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{Partial, WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

import graft.operators.{Breadth, Dedup, Graph, JoinsPlus, Similarity}

/** Physical-plan assertions for the SCALE claims the result oracle cannot
  * see: what the shuffles actually carry, and how many there are. These are
  * the properties that decide whether a pipeline survives 100 TB.
  */
class PlanShapeSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  // collect() (not a noop write) so AQE finalizes THIS df's QueryExecution —
  // a write spawns a separate execution and the asserted plan never runs
  private def executed(df: DataFrame) = {
    df.collect()
    df.queryExecution.executedPlan
  }

  private def exchanges(df: DataFrame): Seq[ShuffleExchangeExec] =
    collect(executed(df)) { case e: ShuffleExchangeExec => e }

  test("minhash dedup never shuffles shingle arrays (ids and band keys only)") {
    val docs = Dedup.docsWithShingles(spark, sfDir).select("doc_id", "sh")
    val ex = exchanges(Dedup.minhashCandidates(docs))
    assert(ex.nonEmpty)
    ex.foreach { e =>
      val arrayCols = e.output.filter(_.dataType.isInstanceOf[ArrayType])
      assert(arrayCols.isEmpty,
        s"shuffle carries array columns ${arrayCols.map(_.name)} — " +
          "candidate generation must shuffle ids/keys, not documents")
    }
  }

  test("inverted-index ngram dedup shuffles postings, not shingle arrays") {
    // the registered query reads the memoized candidate table (its own
    // plan is exchange-free by design); the property under test is the
    // BUILD's shuffle hygiene, so assert on the un-memoized plan
    val ex = exchanges(
      Dedup.ngramJaccardPlan(Dedup.ngramDocs(spark, sfDir)))
    assert(ex.nonEmpty)
    ex.foreach { e =>
      val arrayCols = e.output.filter(_.dataType.isInstanceOf[ArrayType])
      assert(arrayCols.isEmpty,
        s"shuffle carries array columns ${arrayCols.map(_.name)}")
    }
  }

  test("tpch q5: date filter pushes to the orders scan, the three " +
    "bounded dims broadcast") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val plan = executed(operators.RefQueries.tpchQ5(spark, sfDir))
    val bhj = collect(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.size >= 3,
      s"supplier/nation/region must broadcast, got ${bhj.size} BHJs")
    val ordersScans = collect(plan) {
      case f: FileSourceScanExec
        if f.metadata.get("Location").exists(_.contains("orders")) => f
    }
    assert(ordersScans.nonEmpty)
    ordersScans.foreach { f =>
      // the literal is cast to the column's type, so the date RANGE
      // itself reaches the parquet reader (a to_date wrapper would
      // block it)
      val pushed = f.metadata.getOrElse("PushedFilters", "")
      assert(pushed.contains("GreaterThanOrEqual(o_orderdate") &&
        pushed.contains("LessThan(o_orderdate"),
        s"o_orderdate range not pushed: $pushed")
      val schema = f.metadata.getOrElse("ReadSchema", "")
      assert(!schema.contains("o_totalprice") &&
        !schema.contains("o_orderpriority"),
        s"orders scan reads unneeded columns: $schema")
    }
  }

  test("as-of join runs on a single data exchange (plus output sort)") {
    val df = JoinsPlus.asofAttribution(spark, sfDir)
    val ex = exchanges(df)
    // one hash exchange on user_id for the window; one tiny exchange for
    // the final global ORDER BY of the per-user summary
    assert(ex.size <= 2, s"expected <=2 exchanges, got ${ex.size}:\n" +
      df.queryExecution.executedPlan)
  }

  test("exact dedup shuffles 32-char digests, not normalized text") {
    val ex = exchanges(Dedup.exact(spark, sfDir))
    val shuffledCols = ex.flatMap(_.output.map(_.name))
    assert(!shuffledCols.contains("norm") && !shuffledCols.contains("text"),
      s"shuffled columns: $shuffledCols")
  }

  test("ntile quartiles: every window is key-partitioned, no global data sort") {
    val plan = executed(Breadth.balanceQuartiles(spark, sfDir))
    val windows = collect(plan) { case w: WindowExec => w }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"global (unpartitioned) window found — single-task sort:\n$w")
    }
    // the only global sorts allowed are over post-aggregation rows (the
    // 4-row presentation ORDER BY), never over the customer scan itself
    val globalSorts = collect(plan) { case s: SortExec if s.global => s }
    globalSorts.foreach { s =>
      assert(!s.output.exists(_.name == "c_custkey"),
        s"global sort over raw customer rows:\n$s")
    }
  }

  test("ivf probe partition-prunes the ingest-time list layout") {
    val plan = executed(graft.operators.Similarity.ivf(spark, sfDir))
    val scans = collect(plan) {
      case f: FileSourceScanExec
        if f.tableIdentifier.exists(_.table.startsWith("ivf_")) => f
    }
    assert(scans.nonEmpty, s"no scan of the ivf table in:\n$plan")
    scans.foreach { sc =>
      assert(sc.partitionFilters.nonEmpty,
        s"ivf probe reads every list partition (no partition filter):\n$sc")
    }
  }

  test("multimodal decode repartitions by (modality, salt), not modality alone") {
    // modality-only hashing collapses decode to ≤3 partitions at ANY
    // corpus size; the salt spreads each modality across the cluster
    // while keeping every partition single-modality for codec-state reuse
    val ex = exchanges(
      graft.operators.Multimodal.decoded(spark, sfDir).toDF())
    val parts = ex.flatMap(_.outputPartitioning match {
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
        Some(h.expressions.flatMap(_.references.map(_.name)))
      case _ => None
    })
    assert(parts.exists(p => p.contains("media_type") && p.size >= 2),
      s"decode exchange must key on (media_type, salt): $parts")
  }

  test("multimodal decode salt key-space tracks spark.sql.shuffle.partitions") {
    // the salt modulus must scale with the configured shuffle width — a
    // constant salt caps decode parallelism at (modalities × constant)
    // tasks no matter how wide the cluster is. Assert the pmod literal in
    // the exchange's partitioning expressions equals the derived modulus
    // at two different settings.
    def saltLiteral(): Option[Long] = {
      val ex = exchanges(
        graft.operators.Multimodal.decoded(spark, sfDir).toDF())
      ex.flatMap(_.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          h.expressions.flatMap(_.collect {
            case org.apache.spark.sql.catalyst.expressions.Pmod(
                _, org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _), _) => v
          })
        case _ => Nil
      }).headOption
    }
    withConf("spark.sql.shuffle.partitions" -> "30") {
      assert(saltLiteral().contains(10L),
        "salt modulus at 30 shuffle partitions must be 30/3 = 10")
    }
    withConf("spark.sql.shuffle.partitions" -> "300") {
      assert(saltLiteral().contains(100L),
        "salt modulus at 300 shuffle partitions must be 300/3 = 100")
    }
    withConf("spark.sql.shuffle.partitions" -> "6") {
      assert(saltLiteral().contains(8L),
        "salt modulus floors at 8 for tiny local runs")
    }
  }

  test("batched top-k: queries broadcast, corpus embeddings never shuffle") {
    // pin the COMPUTE path (the registered query serves the memoized
    // local relation, which has no joins to inspect)
    val df = graft.operators.Similarity.bruteTruthCompute(spark, sfDir, 3)
    val plan = executed(df)
    // every shuffle carries only narrow scored tuples — no vector columns
    val ex = collect(plan) { case e: ShuffleExchangeExec => e }
    ex.foreach { e =>
      val arrayCols = e.output.filter(_.dataType.isInstanceOf[ArrayType])
      assert(arrayCols.isEmpty,
        s"shuffle carries vector columns ${arrayCols.map(_.name)} — " +
          "the corpus must be scored in place, queries broadcast")
    }
    // the query batch joins as a broadcast, never a shuffle join
    val joins = collect(plan) { case j: BaseJoinExec => j }
    assert(joins.nonEmpty)
    joins.foreach { j =>
      assert(j.nodeName.toLowerCase.contains("broadcast"),
        s"non-broadcast join in batched top-k plan: ${j.nodeName}")
    }
  }

  test("trained ivf probe partition-prunes the trained assignment table") {
    val plan = executed(graft.operators.Similarity.ivfTrained(spark, sfDir))
    val scans = collect(plan) {
      case f: FileSourceScanExec
        if f.tableIdentifier.exists(_.table.startsWith("ivft_")) => f
    }
    assert(scans.nonEmpty, s"no scan of the trained ivf table in:\n$plan")
    scans.foreach { sc =>
      assert(sc.partitionFilters.nonEmpty,
        s"trained ivf probe reads every list partition:\n$sc")
    }
  }

  test("ann-lsh probe partition-prunes the ingest-time band index") {
    val plan = executed(graft.operators.Similarity.annLsh(spark, sfDir))
    val scans = collect(plan) {
      case f: FileSourceScanExec
        if f.tableIdentifier.exists(_.table.startsWith("lsh_")) => f
    }
    assert(scans.nonEmpty, s"no scan of the lsh band index in:\n$plan")
    scans.foreach { sc =>
      assert(sc.partitionFilters.nonEmpty,
        s"lsh probe reads every band partition (no partition filter):\n$sc")
    }
  }

  test("multi-probe ann still partition-prunes, and widens the candidates") {
    val plan = executed(
      graft.operators.Similarity.annLshMultiprobe(spark, sfDir))
    val scans = collect(plan) {
      case f: FileSourceScanExec
        if f.tableIdentifier.exists(_.table.startsWith("lsh_")) => f
    }
    assert(scans.nonEmpty, s"no scan of the lsh band index in:\n$plan")
    scans.foreach { sc =>
      assert(sc.partitionFilters.nonEmpty,
        s"multi-probe reads every band partition (no partition filter):\n$sc")
    }
    // flip-1 probing only ADDS candidates (radius 3 → 7), so the
    // multi-probe top-5 can never be WORSE: its worst returned cosine
    // must be ≥ the single-probe run's worst returned cosine
    val worstSingle = graft.operators.Similarity.annLsh(spark, sfDir)
      .collect().map(_.getAs[Double]("cos_sim")).min
    val multi = graft.operators.Similarity.annLshMultiprobe(spark, sfDir)
      .collect()
    assert(multi.nonEmpty)
    assert(multi.map(_.getAs[Double]("cos_sim")).min >= worstSingle,
      "multi-probe returned a worse top-5 than single-probe")
  }

  test("batched ann probe partition-prunes one shared band-index scan") {
    val plan = executed(graft.operators.Similarity.annLshBatch(spark, sfDir))
    val scans = collect(plan) {
      case f: FileSourceScanExec
        if f.tableIdentifier.exists(_.table.startsWith("lsh_")) => f
    }
    assert(scans.size == 1,
      s"the batch must share ONE index scan, got ${scans.size}")
    scans.foreach { sc =>
      assert(sc.partitionFilters.nonEmpty,
        s"batched probe reads every band partition:\n$sc")
    }
  }

  test("ann probes and their evaluations never shuffle a vector") {
    // by TYPE, not by name: a dedup's partial `first` buffers carry the
    // candidates' vectors under generated names a name list cannot see
    val probes = Seq(
      "annLsh" -> Similarity.annLsh _,
      "annLshBatch" -> Similarity.annLshBatch _,
      "annLshMultiprobe" -> Similarity.annLshMultiprobe _,
      "q_ann_mrr" -> Similarity.annMrr _,
      "q_ann_recall" -> Similarity.annRecall _,
      "q_ann_ndcg" -> Similarity.annNdcg _)
    val offenders = probes.flatMap { case (name, fn) =>
      exchanges(fn(spark, sfDir)).flatMap(_.output.collect {
        case a if (a.dataType match {
          case ArrayType(DoubleType | FloatType, _) => true
          case _ => false
        }) => s"$name: ${a.name}"
      })
    }
    assert(offenders.isEmpty,
      s"vector columns crossed a shuffle: ${offenders.mkString(", ")}")
  }

  test("every per-key top-k plans a partial group limit below its exchange") {
    // one row_number window per site: the partial WindowGroupLimit caps
    // what each map partition ships per key at k rows, so no reducer
    // receives a key's whole scored set
    val sites = Seq(
      "bruteTruthCompute" -> Similarity.bruteTruthCompute(spark, sfDir, 3),
      "hardNegatives" -> Similarity.hardNegatives(spark, sfDir),
      "annLshBatch" -> Similarity.annLshBatch(spark, sfDir),
      "knnJoin" -> Similarity.knnJoin(spark, sfDir),
      "matryoshkaRecall" -> Similarity.matryoshkaRecall(spark, sfDir))
    sites.foreach { case (name, df) =>
      val limited = exchanges(df).filter(e => collect(e.child) {
        case w: WindowGroupLimitExec if w.mode == Partial => w
      }.nonEmpty)
      assert(limited.nonEmpty,
        s"$name: no exchange above a partial WindowGroupLimit:\n" +
          df.queryExecution.executedPlan)
    }
  }

  test("pagerank joins once per round after the first") {
    val plan = executed(Graph.pagerank(spark, sfDir))
    val joins = collect(plan) { case j: BaseJoinExec => j }
    assert(joins.size == Graph.ROUNDS - 1,
      s"expected ${Graph.ROUNDS - 1} joins (round 1 is closed-form), got " +
        s"${joins.size}:\n$plan")
  }

  test("embedding near-dup joins on (label, band, nibble), never label alone") {
    val plan = executed(Dedup.embedCosine(spark, sfDir))
    val joins = collect(plan) { case j: BaseJoinExec => j }
    val bandJoin = joins.filter(
      _.leftKeys.flatMap(_.references.map(_.name)).contains("band"))
    assert(bandJoin.nonEmpty,
      s"candidate join is not keyed on the LSH band:\n${joins.mkString("\n")}")
    bandJoin.foreach { j =>
      assert(j.leftKeys.size >= 3,
        s"band join should key on (label, band, nib), got ${j.leftKeys}")
    }
  }

  test("incremental dedup probes the prebuilt index; only the batch scans documents") {
    // the append-side contract: the existing corpus is served by the
    // ingest-time minhash band index — re-shingling it per batch would be
    // a full-corpus scan on every load
    val plan = executed(Dedup.dedupIncremental(spark, sfDir))
    val idxScans = collect(plan) {
      case f: FileSourceScanExec
        if f.tableIdentifier.exists(_.table.startsWith("mhidx_")) => f
    }
    assert(idxScans.nonEmpty, s"no scan of the minhash band index in:\n$plan")
    val docScans = collect(plan) {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(
          _.toString.contains("documents.parquet")) => f
    }
    assert(docScans.size == 1,
      s"expected exactly one documents scan (the batch side), got " +
        s"${docScans.size} — the corpus must come from the index")
  }

  test("incremental dedup never exchanges the index side, even without " +
    "broadcast (the bucketed-table read)") {
    // at fixture scale AQE broadcasts the probe side, which hides how the
    // join behaves past the broadcast threshold — the 100 TB question.
    // With broadcast off, the (band, nib, key)-bucketed index table must
    // feed the join in place: its wide signature rows (K columns × BANDS
    // rows per doc) never cross an exchange; only the probe side shuffles
    // into the bucket layout.
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val plan = executed(Dedup.dedupIncremental(spark, sfDir))
      // (a) the index scan itself is the bucketed read — the join's index
      // side needs no exchange of its own
      val idxScans = collect(plan) {
        case f: FileSourceScanExec
          if f.tableIdentifier.exists(_.table.startsWith("mhidx_")) => f
      }
      assert(idxScans.nonEmpty, s"no scan of the minhash band index in:\n$plan")
      assert(idxScans.forall(_.metadata.get("Bucketed").contains("true")),
        s"index scan is not reading bucket-wise:\n${idxScans.mkString("\n")}")
      // (b) no exchange anywhere in the plan carries INDEX signature
      // columns (h*) — the join consumes them in place and the scored
      // pair dedup moves only (b_doc, doc_id, est_jac). The probe side's
      // q* columns legitimately ride its one exchange into the bucket
      // layout: that's the batch-linear probe payload, not corpus data.
      val sigCols = (0 until Dedup.K).map(i => s"h$i").toSet
      val sigExchanges = collect(plan) {
        case e: ShuffleExchangeExec
          if e.output.exists(a => sigCols.contains(a.name)) => e
      }
      assert(sigExchanges.isEmpty,
        s"signature columns crossed a shuffle exchange:\n${sigExchanges.mkString("\n")}")
    }
  }

  test("fuzzy match joins are key-blocked, never a cross product") {
    val plan = executed(Breadth.fuzzyNames(spark, sfDir))
    val cartesian = collect(plan) {
      case c: CartesianProductExec => c
      case b: BroadcastNestedLoopJoinExec => b
    }
    assert(cartesian.isEmpty,
      s"non-equi join in blocked fuzzy-match plan:\n${cartesian.headOption}")
  }

  test("knn self-join is band-bucketed: equi-join, no embedding movement") {
    val plan = executed(operators.Similarity.knnJoin(spark, sfDir))
    val cartesian = collect(plan) {
      case c: CartesianProductExec => c
      case b: BroadcastNestedLoopJoinExec => b
    }
    assert(cartesian.isEmpty,
      "knn self-join must be an equi-join on band keys, not a cross product")
    val ex = collect(plan) { case e: ShuffleExchangeExec => e }
    assert(ex.nonEmpty)
    ex.foreach { e =>
      val arrays = e.output.filter(_.dataType.isInstanceOf[ArrayType])
      assert(arrays.isEmpty,
        s"knn shuffle carries ${arrays.map(_.name)} — only (id, sig, band " +
          "key) tuples may move")
    }
  }

  /** Exchanges that see RAW scan rows: scan in the subtree with no other
    * exchange in between (an outer exchange above another exchange only
    * ever moves already-aggregated rows). */
  private def rowFedExchanges(plan: org.apache.spark.sql.execution.SparkPlan) =
    collect(plan) { case e: ShuffleExchangeExec
        if collect(e.child) { case s: FileSourceScanExec => s }.nonEmpty &&
           collect(e.child) { case i: ShuffleExchangeExec => i }.isEmpty => e }

  test("quality retention: the corpus moves only as decile-bucket aggregates") {
    val df = operators.Curation.qualityRetention(spark, sfDir)
    val scanFed = rowFedExchanges(executed(df))
    // the one exchange fed by raw documents rows must carry partial bucket
    // aggregates (≤11 rows per task) — raw docs never shuffle; everything
    // above serves the 10-row axis/window frame
    assert(scanFed.size == 1, s"corpus shuffled ${scanFed.size}× raw — " +
      "retention must aggregate to buckets inside the scan stage")
    assert(scanFed.head.child.toString.contains("HashAggregate"),
      "the corpus-side exchange must carry partial bucket aggregates")
  }

  test("watermark sweep: one data exchange (user_id window), then scalars") {
    val df = operators.Profiling.watermarkSweep(spark, sfDir)
    val plan = executed(df)
    val scanFed = rowFedExchanges(plan)
    // exactly one exchange moves event rows: the hash(user_id) exchange
    // feeding the running-max window; the sweep itself is conditional
    // aggregation (map-side partials above that window)
    assert(scanFed.size == 1,
      s"expected exactly 1 event-row exchange, got ${scanFed.size}:\n$plan")
    val cols = scanFed.head.output.map(_.name).toSet
    assert(!cols.contains("props") && !cols.contains("event_type"),
      s"watermark sweep shuffles unneeded columns: $cols — column pruning " +
        "must reach the exchange")
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    // the 100 TB skew story in miniature: one key holds most of the fact
    // side. With AQE + skew-join thresholds scaled to the fixture, the
    // final adaptive plan must mark the skewed SMJ side split into
    // multiple reader slices — the runtime re-plan that replaces manual
    // salting when skew is discovered only at execution time (the engine
    // still ships q_salted_agg for the planned-ahead variant).
    import spark.implicits._
    import org.apache.spark.sql.functions.when
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // 50k rows of key 0 vs a uniform spread; dim side small but not
      // broadcast (disabled above) so the join stays sort-merge
      val fact = spark.range(0, 60000)
        .select(when($"id" < 50000, 0L).otherwise($"id" % 1000).as("k"),
          $"id".as("v"))
      val dim = spark.range(0, 1000).select($"id".as("k"),
        ($"id" * 2).as("w"))
      val joined = fact.join(dim, "k")
      // execute THIS frame (count() builds a different plan) so the
      // adaptive plan finalizes before inspection
      assert(joined.collect().length == 60000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin(skew=true)"),
        s"AQE did not mark the SMJ as skew-handled:\n$plan")
      assert(plan.contains("AQEShuffleRead coalesced and skewed"),
        s"AQE did not split the skewed reader side:\n$plan")
    }
  }
}
