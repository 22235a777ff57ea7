package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkConf
import org.apache.spark.sql.internal.SQLConf

/** [[GraftSession]] is the only session config: no other source builds a
  * session, and the specs run the values the bench runs. */
class GraftSessionSpec extends SparkTestBase {

  private def sources: Seq[Path] =
    Seq("main", "test").flatMap { d =>
      Files.walk(Paths.get("src", d, "scala")).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
    }

  test("no source but GraftSession.scala builds a SparkSession") {
    val needle = "SparkSession" + ".builder"
    val offenders = sources.filter { p =>
      p.getFileName.toString != "GraftSession.scala" &&
        Files.readString(p).contains(needle)
    }
    assert(sources.exists(_.endsWith("GraftSession.scala")),
      "source walk must include graft/GraftSession.scala")
    assert(offenders.isEmpty,
      s"build the session through GraftSession instead:\n${offenders.mkString("\n")}")
  }

  test("every SPARK_GRAFT_* knob named under src/main is on the known list") {
    val knob = "SPARK_GRAFT_[A-Z0-9_]*[A-Z0-9]".r
    val named = sources.filter(_.startsWith(Paths.get("src", "main")))
      .flatMap(p => knob.findAllIn(Files.readString(p))).toSet
    val expected = Set("CPUS", "SF_DIR", "ONLY", "SCALE", "SCALE_TOPN",
      "PLAN_SUFFIX", "MASTER")
      .map("SPARK_GRAFT_" + _)
    assert(named == expected,
      s"new knobs: ${named -- expected}; gone: ${expected -- named}")
  }

  test("only Harness.scala runs a query's sink, filter or per-query cleanup") {
    val needles =
      Seq("format(\"noop\")", "SPARK_GRAFT_ONLY", "Memo.releaseUnowned")
    val main = sources.filter(_.startsWith(Paths.get("src", "main")))
    val offenders = for {
      p <- main if p.getFileName.toString != "Harness.scala"
      text = Files.readString(p)
      n <- needles if text.contains(n)
    } yield s"$p: $n"
    assert(offenders.isEmpty,
      s"run queries through graft.Harness instead:\n${offenders.mkString("\n")}")
    assert(main.exists(_.endsWith("Harness.scala")),
      "source walk must include graft/Harness.scala")
  }

  /** The effective `spark.io.compression.codec` (default included);
    * Spark's resolver is package-private, hence the reflection. */
  private def codecName(conf: SparkConf): String = {
    val cls = Class.forName("org.apache.spark.io.CompressionCodec$")
    cls.getMethod("getCodecName", classOf[SparkConf])
      .invoke(cls.getField("MODULE$").get(null), conf).asInstanceOf[String]
  }

  test("the shared test session runs the bench's effective config") {
    val sql = spark.sessionState.conf
    assert(!sql.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
    assert(sql.getConf(SQLConf.PREFER_SORTMERGEJOIN))
    assert(sql.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) == 64L << 20)
    assert(codecName(spark.sparkContext.getConf) == "lz4")
    assert(sql.sessionLocalTimeZone == "UTC")
    assert(sql.numShufflePartitions == 8)
    assert(spark.sparkContext.appName == "graft-test")
  }
}
