package graft.sinks

import java.net.URI
import java.nio.file.{Files, Path => JPath, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, ExecutionException, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local filesystem under the `crashfs:` scheme, numbering every
  * create, rename and delete under an armed root ([[CrashFs.arm]]) and
  * failing from that root's armed N-th one on: a crashed process runs
  * nothing after its crash point, so cleanup in a `finally` fails too.
  * Spark's tasks and the driver share one numbering per root (one JVM),
  * and roots number independently, so crash runs may overlap.
  * Registered through `fs.crashfs.impl` ([[CrashFs.register]]); the
  * program under test has no hook for it. */
class CrashFs extends RawLocalFileSystem {
  override def getUri: URI = CrashFs.uri
  override def getScheme: String = CrashFs.uri.getScheme

  // every public create / createNonRecursive lands here
  override protected def createOutputStreamWithMode(f: Path, append: Boolean,
      permission: FsPermission): java.io.OutputStream = {
    CrashFs.tick("create", f)
    super.createOutputStreamWithMode(f, append, permission)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    CrashFs.tick("rename", dst)
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    CrashFs.tick("delete", p)
    super.delete(p, recursive)
  }
}

object CrashFs {
  val uri: URI = URI.create("crashfs:///")

  final class Crash(msg: String) extends java.io.IOException(msg)

  private final class Run(val failAt: Int) {
    val n = new AtomicInteger(0)
    val log = new ConcurrentLinkedQueue[String]()
  }
  private val runs = new ConcurrentHashMap[String, Run]()

  def register(conf: org.apache.hadoop.conf.Configuration): Unit =
    conf.set("fs.crashfs.impl", classOf[CrashFs].getName)

  private def pathOf(root: String) = new Path(root).toUri.getPath

  /** Number the operations under `root` from now on; fail the `at`-th
    * and every later one (Int.MaxValue: count only). */
  def arm(root: String, at: Int = Int.MaxValue): Unit =
    runs.put(pathOf(root), new Run(at))

  /** Stop numbering under `root`; returns its operations in order, as
    * "kind path" (the failed ones excluded). */
  def disarm(root: String): Seq[String] =
    Option(runs.remove(pathOf(root))).fold(Seq.empty[String])(
      _.log.toArray(Array.empty[String]).toSeq)

  /** A fresh, empty `crashfs://` root in a new temp dir. */
  def freshRoot(tag: String): String =
    "crashfs://" + Files.createDirectories(Files.createTempDirectory(tag).resolve("t"))

  /** The local directory behind a `crashfs://` root. */
  def local(root: String): JPath = Paths.get(root.stripPrefix("crashfs://"))

  /** Copies the tree under root `from` into root `to`. */
  def copyTree(from: String, to: String): Unit = {
    val (src, dst) = (local(from), local(to))
    Files.walk(src).iterator().asScala.foreach { p =>
      val d = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d) else Files.copy(p, d)
    }
  }

  /** Deletes a [[freshRoot]] with the temp dir holding it. */
  def deleteRoot(root: String): Unit =
    Files.walk(local(root).getParent).sorted(java.util.Comparator.reverseOrder[JPath]())
      .forEach(f => Files.delete(f))

  /** Whether a `LogMirror.mergeGroup` staging dir remains under `root`. */
  def stagingLeft(root: String): Boolean =
    Files.walk(local(root)).iterator().asScala
      .exists(_.getFileName.toString.startsWith(LogMirror.groupStaging))

  /** `check(n)` for n in 1..total, three at a time (each run numbers
    * its own root); every failure is reported. */
  def forEveryN(total: Int)(check: Int => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(3)
    try {
      val runs = (1 to total).map(n => n -> pool.submit[Unit](() => check(n)))
      val failed = runs.flatMap { case (n, f) =>
        try { f.get(); None }
        catch { case e: ExecutionException =>
          Some(s"operation $n: ${e.getCause.getMessage}") }
      }
      assert(failed.isEmpty, failed.mkString("\n"))
    } finally pool.shutdown()
  }

  /** Runs `body` with Spark's logging off: injected task failures log. */
  def quietly[T](sc: org.apache.spark.SparkContext)(body: => T): T = {
    sc.setLogLevel("OFF")
    try body finally sc.setLogLevel("ERROR")
  }

  private def tick(kind: String, p: Path): Unit = {
    val path = p.toUri.getPath
    runs.forEach { (root, run) =>
      if (path == root || path.startsWith(root + "/")) {
        val i = run.n.incrementAndGet()
        if (i >= run.failAt) throw new Crash(s"crash at operation $i: $kind $path")
        run.log.add(s"$kind $path")
      }
    }
  }
}
