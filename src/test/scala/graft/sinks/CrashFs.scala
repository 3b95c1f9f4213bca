package graft.sinks

import java.net.URI
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

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
