package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Maintained-view state has one format: every pipeline agg view is a
  * [[graft.sinks.LogMirror]] at `CdcPipeline.viewRoot`, committed and
  * versioned by its manifest. No second publish protocol or watermark
  * file comes back, and no reader opens the state as plain parquet. */
class ViewStateSpec extends AnyFunSuite {
  private val sources: Map[String, String] =
    Files.walk(Paths.get("src", "main", "scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(f => f.getFileName.toString -> new String(Files.readAllBytes(f), "UTF-8"))
      .toMap

  private def filesMatching(pattern: String): Set[String] =
    sources.collect { case (f, src) if pattern.r.findFirstIn(src).nonEmpty => f }.toSet

  test("no source mentions the two-rename swap or its batch marker") {
    assert(filesMatching("SwapPublish|atomicSwap|_GRAFT_BATCH").isEmpty)
  }

  test("the view state path is spelled once and read only through " +
    "LogMirror.read") {
    assert(filesMatching("_views") == Set("CdcPipeline.scala"))
    val readers = filesMatching("""\bviewRoot\(""")
    assert(readers == Set("CdcPipeline.scala", "MvCatalog.scala"))
    readers.foreach { f =>
      assert("""LogMirror\s*\.\s*read\(\s*\w+\s*,\s*(root|viewRoot)\b"""
        .r.findFirstIn(sources(f)).nonEmpty, f)
      assert("""parquet\([^)]*\b(root|viewRoot)\b""".r.findFirstIn(sources(f))
        .isEmpty, f)
    }
  }
}
