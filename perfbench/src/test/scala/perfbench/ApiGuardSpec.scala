package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark measures the program only through API that the open
  * ROADMAP items keep: no mirror layout due for deletion, no private
  * stage-timing hook, no dev main, and no program-owned query list. */
class ApiGuardSpec extends AnyFunSuite {
  private val banned = Seq(
    "SwapMirror", "BucketedMirror", "incrementalMirror", "stageTimer", "StageTimings",
    "Bench.", "AsofProfile", "DebugDlq", "DebugOverflow", "DebugPlan", "MergeProfile",
    "PipeProfile", "SimProfile", "StreamSweep", "TimeQ", "TrigProfile", "WriteSizeAB")

  private def sources: Seq[Path] = {
    val root = Paths.get("src", "main", "scala")
    Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
  }

  test("benchmark sources call no API that the roadmap removes") {
    assert(sources.nonEmpty)
    val hits = for {
      f <- sources
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      b <- banned if line.contains(b)
    } yield s"$f:${n + 1}: $b"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("the catalog query list is the benchmark's own copy") {
    assert(Catalog.queries.nonEmpty && Catalog.queries.distinct == Catalog.queries)
    assert(Catalog.queries.forall(graft.SparkEntry.queries.contains))
  }
}
