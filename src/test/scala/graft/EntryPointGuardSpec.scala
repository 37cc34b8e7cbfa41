package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins the program's outside surface against drift:
  *  - the environment variables main code reads are the two deployment
  *    settings and nothing else (an A/B env hook whose question is
  *    settled is a branch no test or benchmark exercises);
  *  - every `runMain graft.<Name>` the README and the verify notes
  *    document names a main that exists, so deleting a main means
  *    deleting its documented command too;
  *  - conversely, every main under `src/main` has a `runMain` line in the
  *    README, so a main nobody documents cannot accumulate unseen.
  * Reads the source tree, so it runs from the repository root (sbt's
  * forked test working directory). */
class EntryPointGuardSpec extends AnyFunSuite {
  private val mainRoot = Paths.get("src/main")
  private val docs = Seq("README.md", ".claude/skills/verify/SKILL.md")

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  private def mainSources: Seq[(Path, String)] = {
    assert(Files.isDirectory(mainRoot), s"run from the repository root: no $mainRoot")
    val walk = Files.walk(mainRoot)
    try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> read(p))
      .toVector
    finally walk.close()
  }

  test("main code reads exactly the two deployment env variables") {
    val anyRead = """sys\.env|System\.getenv""".r
    val namedRead =
      """(?:sys\.env(?:\.get|\.getOrElse|\.contains)?|System\.getenv)\(\s*"([A-Za-z0-9_]+)"""".r
    val reads = mainSources.flatMap { case (p, src) =>
      val named = namedRead.findAllMatchIn(src).map(_.group(1)).toVector
      assert(anyRead.findAllMatchIn(src).size == named.size,
        s"$p reads the environment without a literal variable name")
      named
    }
    assert(reads.toSet == Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR"),
      s"env variables read under $mainRoot: ${reads.distinct.sorted}")
  }

  /** Fully qualified names of the objects under `src/main` that define
    * `def main(`. */
  private lazy val mains: Set[String] = {
    val pkg = """(?m)^package\s+([\w.]+)""".r
    // A top-level definition starts at column 0; an object's body runs
    // to the next one.
    val topLevel = """(?m)^(?:object|class|trait|case|final|sealed|abstract|private|@)""".r
    val obj = """(?m)^object\s+(\w+)""".r
    mainSources.flatMap { case (_, src) =>
      val p = pkg.findFirstMatchIn(src).map(_.group(1)).getOrElse("")
      val starts = topLevel.findAllMatchIn(src).map(_.start).toVector :+ src.length
      obj.findAllMatchIn(src).collect {
        case m if src.substring(m.start, starts.find(_ > m.start).get)
            .contains("def main(") => s"$p.${m.group(1)}"
      }
    }.toSet
  }

  private def documented(doc: String): Seq[String] =
    """runMain\s+(graft\.[\w.]+)""".r
      .findAllMatchIn(read(Paths.get(doc))).map(_.group(1)).toSeq

  test("every documented runMain names an existing main") {
    val missing = for {
      doc <- docs
      m <- documented(doc)
      if !mains(m)
    } yield s"$doc: $m"
    assert(missing.isEmpty, s"documented mains that do not exist: $missing")
  }

  test("every main under src/main has a runMain line in the README") {
    assert(mains.nonEmpty, s"no main found under $mainRoot")
    val undocumented = mains -- documented("README.md")
    assert(undocumented.isEmpty,
      s"mains without a README runMain line: ${undocumented.toSeq.sorted}")
  }
}
