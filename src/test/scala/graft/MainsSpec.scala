package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The program's entry points are a fixed set: the catalog's oracle
  * dump and benchmark (`Verify`, `Bench`), the plan tools (`Explain`,
  * `FingerprintGen`), the replication end-to-end run and the one dev
  * profiler. A one-off main belongs in [[Profile]] as a scenario, or in
  * this list by review. */
class MainsSpec extends AnyFunSuite {
  private val expected =
    Set("Verify", "Bench", "Explain", "FingerprintGen", "ReplicationE2E", "Profile")

  /** Objects declaring `def main(`, each attributed to the nearest
    * `object` declared above it in its file. */
  private def mains(root: Path): Set[String] = {
    val objectDecl = """\bobject\s+(\w+)""".r
    val mainDecl = """\bdef\s+main\s*\(""".r
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).flatMap { f =>
        val src = new String(Files.readAllBytes(f), "UTF-8")
        val objects = objectDecl.findAllMatchIn(src).map(m => m.start -> m.group(1)).toSeq
        mainDecl.findAllMatchIn(src).map { m =>
          objects.filter(_._1 < m.start).lastOption.map(_._2)
            .getOrElse(s"<no object above main in $f>")
        }
      }.toSet
  }

  test("src/main declares exactly the known mains") {
    assert(mains(Paths.get("src", "main", "scala")) == expected)
  }
}
