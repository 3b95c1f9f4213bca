package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every LogMirror changefeed consumer resumes through one protocol,
  * [[graft.sinks.ChangefeedConsumer]]: one place falls back to a
  * resnapshot when retention is lost, and one place commits a consumer
  * cursor. A consumer that hand-rolls either belongs behind that
  * module. */
class ConsumerProtocolSpec extends AnyFunSuite {
  private val sources: Map[String, String] =
    Files.walk(Paths.get("src", "main", "scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(f => f.getFileName.toString -> new String(Files.readAllBytes(f), "UTF-8"))
      .toMap

  private def filesMatching(patterns: String*): Set[String] =
    sources.collect { case (f, src)
      if patterns.forall(_.r.findFirstIn(src).nonEmpty) => f }.toSet

  test("exactly one file catches LogMirror.RetentionLostException") {
    assert(filesMatching("""case\s+\w*\s*:\s*(LogMirror\s*\.\s*)?RetentionLostException""") ==
      Set("ChangefeedConsumer.scala"))
  }

  test("exactly one file reads a changefeed and commits a file by rename: " +
    "the consumer cursor") {
    assert(filesMatching("""LogMirror\s*\.\s*changesSince""", """\.rename\(""") ==
      Set("ChangefeedConsumer.scala"))
  }
}
