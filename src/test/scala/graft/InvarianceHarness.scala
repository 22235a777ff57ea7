package graft

/** Shared partition-invariance sweep harness: run a query set under a
  * conf override, collect rows, and diff two legs. Used by the
  * fleet-wide sweep on the harness fixture
  * ([[PartitionInvarianceSpec]]) and the cap-overflow sweep on the
  * skewed corpus ([[SkewInvarianceSpec]]) — one implementation so a
  * harness fix (error handling, diff rendering) cannot silently miss
  * one of the two. */
trait InvarianceHarness { self: SparkTestBase =>

  /** Run `names` against `dir` with `conf` set (restored after), one
    * collected-row snapshot per query; errors become marker rows. */
  protected def runQuerySet(conf: Map[String, String], names: Seq[String],
                            dir: String): Map[String, Seq[String]] = {
    withConf(conf.toSeq: _*) {
      names.map { name =>
        val rows =
          try SparkEntry.queries(name)(spark, dir).collect().toSeq.map(_.toString)
          catch { case e: Throwable => Seq(s"ERROR: ${e.getMessage}") }
        spark.catalog.clearCache()
        name -> rows
      }.toMap
    }
  }

  /** Assert the two legs agree query-by-query. A query that throws
    * under BOTH legs would compare equal on its error marker — that is
    * a skipped comparison, not invariance, so errors fail first. */
  protected def assertInvariant(a: Map[String, Seq[String]],
                                b: Map[String, Seq[String]],
                                what: String): Unit = {
    assert(a.keySet == b.keySet && a.nonEmpty)
    val errored = (a ++ b).collect {
      case (k, rows) if rows.exists(_.startsWith("ERROR:")) => k
    }
    assert(errored.isEmpty, s"queries errored instead of comparing: $errored")
    val broken = a.keys.toSeq.sorted.filter(k => a(k) != b(k))
    val detail = broken.take(5).map { k =>
      val diffAt = a(k).zipAll(b(k), "<missing>", "<missing>")
        .indexWhere { case (x, y) => x != y }
      s"$k (first diff row $diffAt):\n  A: ${a(k).lift(diffAt).getOrElse("")}" +
        s"\n  B: ${b(k).lift(diffAt).getOrElse("")}"
    }
    assert(broken.isEmpty,
      s"${broken.size} queries drift with partitioning $what: " +
        s"${broken.mkString(", ")}\n${detail.mkString("\n")}")
  }
}
