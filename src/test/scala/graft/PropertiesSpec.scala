package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.TextFns

/** Algebraic properties (SURVEY.md §5.3) over scalacheck-generated inputs —
  * the invariants that must hold for ANY data, not just the fixtures.
  * (No scalatest-plus bridge in the offline cache, so generators are
  * driven manually with deterministic seeds.) */
class PropertiesSpec extends SparkTestBase {
  import spark.implicits._

  private def forAll[A](gen: Gen[A], runs: Int = 5)(body: A => Unit): Unit =
    (0 until runs).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(42L + i)))
    }

  private def whenever(cond: Boolean)(body: => Unit): Unit =
    if (cond) body

  private val docGen: Gen[List[String]] =
    Gen.listOfN(30, Gen.chooseNum(0, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "delta", "eps"))
        .map(_.mkString(" "))))

  test("exact dedup is idempotent: dedup(dedup(x)) == dedup(x)") {
    forAll(docGen) { docs =>
      val df = docs.toDF("text")
        .withColumn("norm", TextFns.normalize(col("text")))
      val once = df.dropDuplicates("norm")
      val twice = once.dropDuplicates("norm")
      assert(once.count() == twice.count())
      assert(once.select("norm").except(twice.select("norm")).isEmpty)
    }
  }

  test("broadcast hint never changes join results") {
    forAll(Gen.listOfN(20, Gen.chooseNum(0L, 5L))) { keys =>
      val fact = keys.zipWithIndex.map { case (k, i) => (k, i.toLong) }
        .toDF("k", "v")
      val dim = Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d")).toDF("k", "name")
      val plain = fact.join(dim, Seq("k")).select("k", "v", "name")
      val hinted = fact.join(broadcast(dim), Seq("k")).select("k", "v", "name")
      assert(plain.except(hinted).isEmpty && hinted.except(plain).isEmpty)
      assert(plain.count() == hinted.count())
    }
  }

  test("sortWithinPartitions preserves the multiset of rows") {
    forAll(Gen.listOfN(40, Gen.chooseNum(-100, 100))) { xs =>
      val df = xs.toDF("x").repartition(4)
      val sorted = df.sortWithinPartitions("x")
      assert(sorted.count() == xs.length)
      val a = df.groupBy("x").count()
      val b = sorted.groupBy("x").count()
      assert(a.except(b).isEmpty && b.except(a).isEmpty)
    }
  }

  test("first colliding band keeps each colliding LSH pair exactly once") {
    // a pair arrives once per band it collides in (4 bands of 4 bits);
    // both rules must keep exactly its lowest colliding band
    val rules = Seq[(String, Int => Boolean, Column => Column)](
      ("exact", _ == 0, _ === 0),
      ("flip-1", Integer.bitCount(_) <= 1, bit_count(_) <= 1))
    val pairGen = Gen.listOfN(300, for {
      sig <- Gen.choose(0, 0xffff)
      flips <- Gen.choose(0, 10)
      bits <- Gen.listOfN(flips, Gen.choose(0, 15))
    } yield (sig, bits.foldLeft(sig)((x, b) => x ^ (1 << b))))
    rules.foreach { case (rule, collides, collidesCol) =>
      forAll(pairGen) { pairs =>
        val colliding = pairs.zipWithIndex.map { case ((sig, qSig), id) =>
          id.toLong -> (0 until 4).filter(b =>
            collides(((sig ^ qSig) >> (4 * b)) & 15))
        }
        val rows = for ((id, bands) <- colliding; b <- bands)
          yield (id, pairs(id.toInt)._1.toLong, pairs(id.toInt)._2.toLong, b)
        val kept = rows.toDF("id", "sig", "q_sig", "band").repartition(2)
          .filter(col("band") === operators.Similarity.firstCollidingBand(
            col("sig").bitwiseXOR(col("q_sig")), collidesCol))
          .select("id", "band").as[(Long, Int)].collect()
        val expected = colliding.collect {
          case (id, bands) if bands.nonEmpty => id -> bands.min
        }
        assert(kept.map(_._1).distinct.length == kept.length,
          s"$rule: a pair kept more than one band")
        assert(kept.toMap == expected.toMap,
          s"$rule: kept bands differ from each pair's lowest colliding band")
      }
    }
  }

  test("banded minhash-LSH catches a planted 0.35-Jaccard pair") {
    // 21 shingles per doc, 11 shared: J = 11/31 ≈ 0.355 — ABOVE the 0.3
    // verify cutoff but below the old 4-band S-curve midpoint (0.5). With
    // 12 bands of 2 (midpoint ≈ 0.289) this pair must surface as a
    // candidate. md5 is deterministic, so this is a fixed property, not a
    // flaky probabilistic one.
    val shared = (0 until 11).map(i => s"shared shingle number $i")
    val a = shared ++ (0 until 10).map(i => s"alpha only piece $i")
    val b = shared ++ (0 until 10).map(i => s"beta other chunk $i")
    val noise = (0 until 20).map(d =>
      (100L + d, (0 until 21).map(i => s"noise $d block $i")))
    val docs = (Seq((1L, a), (2L, b)) ++ noise).toDF("doc_id", "sh")
    val cand = graft.operators.Dedup.minhashCandidates(docs)
    assert(cand.filter(col("a") === 1L && col("b") === 2L).count() == 1,
      "planted mid-similarity pair was not caught by the banding")
  }

  test("hot-band bucket cap drops a degenerate boilerplate bucket") {
    // 200 identical docs (one band bucket of 200 > cap 64) plus the
    // planted pair: the degenerate bucket must contribute ZERO candidate
    // pairs (it would be ~20k), while a small legitimate bucket survives.
    val boiler = (0 until 200).map(d =>
      (1000L + d, (0 until 5).map(i => s"same license header $i")))
    val pair = Seq(
      (1L, (0 until 21).map(i => s"planted shingle $i")),
      (2L, (0 until 21).map(i => s"planted shingle $i")))
    val docs = (pair ++ boiler).toDF("doc_id", "sh")
    val cand = graft.operators.Dedup.minhashCandidates(docs)
    assert(cand.filter(col("a") >= 1000L).count() == 0,
      "over-cap bucket leaked candidate pairs")
    assert(cand.filter(col("a") === 1L && col("b") === 2L).count() == 1,
      "identical pair below the cap must remain a candidate")
  }

  test("dup clusters close transitively: A~B, B~C => one {A,B,C} cluster") {
    // shingle overlap: A and B share 4/6, B and C share 4/6 (jac 0.5),
    // A and C share only 2/8 (jac 0.25 < 0.5) — the cluster must still
    // contain all three, which pair-level output alone cannot express
    import spark.implicits._
    val d = Seq(
      (1L, Seq("a1", "a2", "s1", "s2", "s3", "s4")),
      (2L, Seq("s1", "s2", "s3", "s4", "t1", "t2")),
      (3L, Seq("t1", "t2", "s3", "s4", "c1", "c2")),
      (4L, Seq("x1", "x2", "x3", "x4", "x5", "x6")))
      .toDF("doc_id", "sh2")
      .withColumn("lang", lit("en")).withColumn("source", lit("web"))
    val rows = graft.operators.Dedup.dupClustersFrom(d).collect()
    assert(rows.length == 1, s"expected one cluster, got ${rows.toSeq}")
    assert(rows(0).getLong(0) == 1L && rows(0).getLong(1) == 3L &&
      rows(0).getString(2) == "1,2,3" && !rows(0).getBoolean(3),
      s"expected cluster {1,2,3} labeled 1, got ${rows(0)}")
  }

  test("giant components are flagged and member lists capped") {
    // a planted star component above COMPONENT_CAP: output must flag it,
    // list only MEMBER_CAP ids, and still report the exact census
    import spark.implicits._
    val n = graft.operators.Dedup.COMPONENT_CAP.toInt + 200
    val edges = (1 until n).map(i => (0L, i.toLong)).toDF("a", "b")
    val rows = graft.operators.Dedup.clustersFromEdges(edges).collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getLong(0) == 0L && r.getLong(1) == n.toLong,
      s"census must stay exact: $r")
    assert(r.getBoolean(3), "over-cap component must be flagged is_giant")
    val members = r.getString(2).split(",")
    assert(members.length == graft.operators.Dedup.MEMBER_CAP,
      s"member list must cap at MEMBER_CAP, got ${members.length}")
    assert(members.head == "0" && members(1) == "1",
      s"capped members must be the smallest ids: ${r.getString(2)}")
  }

  test("pointer jumping converges on a long chain in O(log n) rounds") {
    // a 300-node chain has diameter 299: plain min-label propagation needs
    // ~300 rounds; propagate+jump must finish within 12 (log2(300) ≈ 8.2,
    // plus slack) — this is what keeps driver rounds bounded on
    // chain-shaped mega-components at corpus scale
    import spark.implicits._
    val edges = (0 until 299).map(i => (i.toLong, i.toLong + 1)).toDF("a", "b")
    val rows = graft.operators.Dedup.clustersFromEdges(edges, maxRounds = 12)
      .collect()
    assert(rows.length == 1 && rows(0).getLong(0) == 0L &&
      rows(0).getLong(1) == 300L,
      s"chain must collapse to one cluster labeled 0: ${rows.toSeq}")
  }

  test("non-convergence within the round budget throws, never returns") {
    import spark.implicits._
    val edges = (0 until 299).map(i => (i.toLong, i.toLong + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      graft.operators.Dedup.clustersFromEdges(edges, maxRounds = 2).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("posting-length cap leaves the fixture ngram top-10 unchanged") {
    val s = spark
    val top = graft.operators.Dedup.ngramJaccard(s, sfDir).collect().toSeq
    val uncapped = graft.operators.Dedup.ngramJaccardPlan(
      graft.operators.Dedup.ngramDocs(s, sfDir), cap = Long.MaxValue)
      .collect().toSeq
    assert(top == uncapped,
      "the stop-shingle cap changed the fixture corpus top-10")
  }

  test("jaccard is symmetric and bounded in [0,1]; self-similarity is 1") {
    forAll(docGen) { docs =>
      val d = docs.filter(_.nonEmpty).distinct
      whenever(d.nonEmpty) {
        val df = d.toDF("text")
          .withColumn("s", array_distinct(split(col("text"), " ")))
          .select("s").limit(8)
        val pairs = df.as("x").crossJoin(df.as("y"))
          .select(TextFns.jaccard("x.s", "y.s").as("j_xy"),
            TextFns.jaccard("y.s", "x.s").as("j_yx"),
            (col("x.s") === col("y.s")).as("same"))
          .collect()
        pairs.foreach { r =>
          val (jxy, jyx, same) = (r.getDouble(0), r.getDouble(1), r.getBoolean(2))
          assert(jxy == jyx)
          assert(jxy >= 0.0 && jxy <= 1.0)
          if (same) assert(jxy == 1.0)
        }
      }
    }
  }
}
