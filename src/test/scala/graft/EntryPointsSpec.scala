package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the runnable mains of `src/main` a fixed, documented set. Timing
  * and phase breakdowns come from `perfbench/run.py --trace 1` and
  * `scripts/bench_ab.py`, not from one more probe main; a new entry point
  * is added here and to ARCHITECTURE.md's "Entry points" table. Reads
  * sources only: no Spark session.
  */
class EntryPointsSpec extends AnyFunSuite {

  private val expected = Set("Bench", "Verify", "ReplayCli", "ScalingBench",
    "ConcurrencyStress", "LookupBench", "PlanSweep")

  /** Names of the objects (or classes) under src/main/scala whose body
    * holds a `def main(args` — each main goes to the nearest declaration
    * above it.
    */
  private lazy val mains: Set[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no sources at ${root.toAbsolutePath}")
    val decl = """(?m)^\s*(?:(?:private|protected|final|case|abstract|sealed)(?:\[\w+\])?\s+)*(?:object|class|trait)\s+(\w+)""".r
    val main = """def\s+main\s*\(\s*args\b""".r
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
      val src = new String(Files.readAllBytes(f), UTF_8)
      val decls = decl.findAllMatchIn(src).map(m => m.start -> m.group(1)).toSeq
      main.findAllMatchIn(src).flatMap(m => decls.takeWhile(_._1 < m.start).lastOption.map(_._2))
    }.toSet
    finally files.close()
  }

  /** Last segments of the `graft.…` names in ARCHITECTURE.md's
    * "Entry points" table.
    */
  private lazy val documented: Set[String] = {
    val doc = new String(Files.readAllBytes(Paths.get("ARCHITECTURE.md")), UTF_8)
    val section = doc.linesIterator.dropWhile(_.trim != "## Entry points").drop(1)
      .takeWhile(!_.startsWith("## ")).toSeq
    val row = """^\|\s*`graft\.(?:\w+\.)*(\w+)`\s*\|""".r
    section.flatMap(l => row.findFirstMatchIn(l).map(_.group(1))).toSet
  }

  test("src/main holds exactly the documented set of mains") {
    assert(mains === expected,
      s"unexpected: ${(mains -- expected).toSeq.sorted}; missing: ${(expected -- mains).toSeq.sorted}")
  }

  test("every main appears in ARCHITECTURE.md's entry-point table, and nothing else does") {
    assert(documented === mains,
      s"undocumented: ${(mains -- documented).toSeq.sorted}; " +
        s"stale rows: ${(documented -- mains).toSeq.sorted}")
  }
}
