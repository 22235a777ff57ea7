package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level lint: the engine-identical display-rounding rule
  * (ADVICE r10 / VERDICT r11 item 2).
  *
  * `round(avg(x), 4)` on a double is Spark BigDecimal-HALF_UP vs DuckDB
  * float rounding — a latent hash flake at .xxxx5 representation edges.
  * The fleet idiom is [[graft.operators.Fmt.fix4]] on the Spark side and
  * the literal `floor(x * 10000.0 + 0.5) / 10000.0` in oracle SQL. This
  * sweep reads every main source file (query AND oracle text live there)
  * so the banned spelling can't ship again — the ShuffleHygieneSpec
  * pattern applied to source text instead of plans.
  */
class FmtLintSpec extends AnyFunSuite {

  private def mainSources: Seq[Path] =
    Files.walk(Paths.get("src", "main", "scala", "graft")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .toSeq.sortBy(_.toString)

  test("no main source spells round(avg( — use Fmt.fix4 / the SQL floor idiom") {
    val offenders = mainSources.flatMap { p =>
      val text = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      text.linesIterator.zipWithIndex.collect {
        case (line, i) if line.contains("round(avg(") => s"$p:${i + 1}: $line"
      }
    }
    assert(offenders.isEmpty,
      s"banned round(avg( spellings (use Fmt.fix4 + the SQL floor twin):\n${offenders.mkString("\n")}")
  }

  test("no main source but Fmt.scala defines fix4 or fix6 — import Fmt.fix4") {
    val definition = """\b(val|def)\s+fix[46]\b""".r
    val offenders = mainSources.filterNot(_.endsWith(Paths.get("operators", "Fmt.scala")))
      .flatMap { p =>
        val text = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        text.linesIterator.zipWithIndex.collect {
          case (line, i) if definition.findFirstIn(line).isDefined =>
            s"$p:${i + 1}: $line"
        }
      }
    assert(offenders.isEmpty,
      s"local copies of Fmt's rounding helpers (import Fmt.fix4 instead):\n${offenders.mkString("\n")}")
  }

  test("sanity: the sweep actually reads the operator sources") {
    assert(mainSources.exists(_.toString.endsWith("operators/Fmt.scala")),
      "source walk must include graft/operators — path layout changed?")
    assert(mainSources.size > 30, s"only ${mainSources.size} files seen")
  }
}
