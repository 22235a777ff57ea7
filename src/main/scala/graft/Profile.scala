package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev profiling main: times labeled sub-plans of the hot queries so tuning
  * targets measurements, not guesses. Not part of the driver contract.
  *
  * Usage: sbt 'runMain graft.Profile [sfDir]'
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession(GraftSession.cpus(32))

    def time(label: String)(df: => DataFrame): Unit = {
      // warm count then timed count, to separate plan/compile from exec
      val t0 = System.nanoTime()
      val d = df
      d.write.format("noop").mode("overwrite").save()
      val t1 = System.nanoTime()
      d.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      println(f"PROFILE $label%-28s first=${(t1 - t0) / 1e9}%7.2fs second=${(t2 - t1) / 1e9}%7.2fs")
    }

    import org.apache.spark.sql.functions._
    import graft.functions.TextFns

    val docs = Tables.documents(spark, sfDir)
    time("docs_scan")(docs)
    val toks = docs.withColumn("toks", TextFns.tokens(col("text")))
    time("tokens")(toks.select("doc_id", "toks"))
    val sh = toks.withColumn("sh", array_distinct(TextFns.shingles("toks", 3)))
      .select("doc_id", "sh")
    time("shingles")(sh)
    val sigs = sh.select(
      (col("doc_id") +: (0 until 8).map(i => TextFns.minhash("sh", i).as(s"h$i"))): _*)
    time("minhash_sigs_k8")(sigs)
    time("dedup_minhash_full")(operators.Dedup.minhashLsh(spark, sfDir))
    time("dedup_ngram_full")(operators.Dedup.ngramJaccard(spark, sfDir))

    {
      val t0 = System.nanoTime()
      val e = operators.Graph.affinityEdges(spark, sfDir).localCheckpoint()
      val n0 = e.count()
      val t1 = System.nanoTime()
      println(f"PROFILE affinity_edges n=$n0 ${(t1 - t0) / 1e9}%7.2fs")
      var core = e
      Seq(2, 3, 4).foreach { k =>
        val ta = System.nanoTime()
        core = operators.Graph.kCoreOn(core, k)
        val m = core.count()
        val tb = System.nanoTime()
        println(f"PROFILE kcore_k$k edges=$m ${(tb - ta) / 1e9}%7.2fs")
      }
    }
    spark.stop()
  }
}
