package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.SparkSession

/** What one run of a workload hands back: operation accounting, the
  * metrics it measured (name → value, unit), run-validity stamps and
  * flags, and free-form details written next to the result. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val details = mutable.LinkedHashMap.empty[String, String]
  val flags = mutable.ArrayBuffer.empty[String]

  def op(ok: Boolean): Unit = synchronized { attempted += 1; if (!ok) failed += 1 }
  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def check(name: String, ok: Boolean): Unit = {
    checks(name) = ok
    if (!ok) System.err.println(s"[perfbench] check failed: $name")
  }
  def detail(name: String, jsonValue: String): Unit = details(name) = jsonValue
}

/** Shared state of one benchmark run. */
final class Ctx(val workload: String, val seed: Long, val seconds: Int,
                val trace: Boolean, val work: String, val cores: Int,
                val traffic: Traffic, val dataDir: String) {
  var spark: SparkSession = _
  val spans = new Spans(trace)
  val counters = new EngineCounters
  val res = new Result

  def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs `body` with span recording off and the benchmark's listener
    * detached: the untraced side of a traced run's tracing-overhead
    * comparison, made in the same JVM on the same inputs. */
  def untraced[T](body: => T): T =
    if (!trace) body
    else {
      spans.on = false
      spark.sparkContext.removeSparkListener(counters)
      try body
      finally { spark.sparkContext.addSparkListener(counters); spans.on = true }
    }

  /** Traced minus untraced: the tracing overhead on the workload's
    * latency (ms) and throughput (1/s). */
  def overhead(tracedMs: Double, untracedMs: Double, tracedPerS: Double, untracedPerS: Double): Unit = {
    res.metric("trace.overhead_latency_ms", tracedMs - untracedMs, "ms")
    res.metric("trace.overhead_throughput_per_s", tracedPerS - untracedPerS, "1/s")
  }

  /** A fresh directory under the run's work dir. */
  private var dirs = 0
  def dir(name: String): String = synchronized {
    dirs += 1
    val d = s"$work/$name-$dirs"
    Files.createDirectories(Paths.get(d))
    d
  }
}

object Main {
  /** Median of a non-empty sample: the mean of the two middle values
    * when the count is even (a catalog window holds three or four
    * passes, and the lower middle of four read low). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
  }

  /** Machine-wide (busy, steal) jiffies from /proc/stat. */
  def cpuTicks(): (Long, Long) =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
        .split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal
      (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
    } catch { case _: Throwable => (0L, 0L) }

  def loadavg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** High-water resident set of this JVM. */
  def peakRssMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
      line.map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(-1.0)
    } catch { case _: Throwable => -1.0 }

  /** Logs to stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    System.err.println(f"[perfbench $up%.1fs] $msg")
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** The JIT compiler threads' `schedstat` files. Their number is fixed
    * (the harness turns dynamic compiler threads off), so they are found
    * once, when `main` starts, and none exits and takes its time with it. */
  private lazy val jitStats: Seq[java.nio.file.Path] =
    Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten.map(_.toPath)
      .filter(t => Try(Files.readString(t.resolve("comm"))).toOption.exists(_.contains("CompilerThre")))
      .map(_.resolve("schedstat"))

  /** CPU ns the JIT compiler threads have used so far, from the kernel's
    * per-thread accounting. */
  private def jitNs(): Long =
    jitStats.map(p => Try(Files.readString(p).split(' ')(0).toLong).getOrElse(0L)).sum

  /** CPU time of this JVM, in ns: every thread, GC included, less the
    * JIT compiler threads. The kernel leaves out time the hypervisor
    * stole from the machine, which wall time on a shared host does not;
    * JIT compilation goes on for minutes after start and lands in
    * whichever operation runs beside it. */
  def cpuNs(): Long = osBean.getProcessCpuTime - jitNs()

  def cpuSecs(c0: Long): Double = (cpuNs() - c0) / 1e9

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  /** JVM start → `main`, taken when `main` starts: wall and CPU. */
  private var bootS = 0.0
  private var bootCpuS = 0.0

  /** Set-up: JVM boot, then the session is built `n` times (each stops
    * the previous one and runs one trivial job) and the workload warm-up
    * runs once on the last. Each part is counted once, the repeated
    * part by its median: boot + the median session build + the warm-up.
    * `setup_s` counts them in CPU seconds ([[cpuNs]]), which leave out
    * the time the hypervisor stole: on the shared host the same set-up
    * took 21 s of wall time in quiet minutes and 29–33 s in minutes with
    * 25–36% steal, but 66 and 71–76 CPU seconds (JIT included).
    * `setup_wall_s` is the same sum in wall seconds. */
  def setup(ctx: Ctx, n: Int)(warm: SparkSession => Unit): Unit = {
    val builds = (1 to n).map { _ =>
      val t0 = System.nanoTime()
      val c0 = cpuNs()
      if (ctx.spark != null) ctx.spark.stop()
      ctx.spark = ctx.newSession()
      ctx.spark.range(1000).selectExpr("sum(id)").collect()
      (secs(t0), cpuSecs(c0))
    }
    val t0 = System.nanoTime()
    val c0 = cpuNs()
    warm(ctx.spark)
    val warmS = secs(t0)
    val warmCpuS = cpuSecs(c0)
    val wall = bootS + median(builds.map(_._1)) + warmS
    val cpu = bootCpuS + median(builds.map(_._2)) + warmCpuS
    log(f"setup: boot $bootS%.2f s, session ${builds.mkString(",")}, warm-up $warmS%.2f s; cpu $cpu%.2f s")
    ctx.res.metric("setup_s", cpu, "s")
    ctx.res.metric("setup_wall_s", wall, "s")
    ctx.res.metric("runtime.session_build_s", median(builds.map(_._1)), "s")
    ctx.res.metric("runtime.warmup_s", warmS, "s")
    ctx.res.detail("session_builds_s", builds.map(b => num(b._1)).mkString("[", ",", "]"))
    if (ctx.trace) ctx.spark.sparkContext.addSparkListener(ctx.counters)
  }

  def main(args: Array[String]): Unit = {
    bootS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    bootCpuS = cpuNs() / 1e9
    val a = parseArgs(args)
    val ctx = new Ctx(a("workload"), a("seed").toLong, a("seconds").toInt,
      a.getOrElse("trace", "0") == "1", a("work"), a("cores").toInt,
      Traffic.parse(a.getOrElse("traffic", "")), a.getOrElse("data", ""))
    val out = a("out")
    val loadStart = loadavg()
    val ticksStart = cpuTicks()
    var error: Option[Throwable] = None
    try ctx.workload match {
      case "stream_serve" => StreamServe.run(ctx)
      case "catalog" => Catalog.run(ctx)
      case w => sys.error(s"unknown workload $w")
    } catch { case e: Throwable => error = Some(e); e.printStackTrace() }
    val r = ctx.res
    r.metric("host.load_start", loadStart, "load")
    r.metric("host.load_end", loadavg(), "load")
    // CPU time the hypervisor took from this machine while the run was
    // busy: the main source of run-to-run spread on a shared host
    val (busy1, steal1) = cpuTicks()
    val (busy, steal) = (busy1 - ticksStart._1, steal1 - ticksStart._2)
    if (busy + steal > 0) {
      val share = steal.toDouble / (busy + steal)
      r.metric("host.steal_share", share, "ratio")
      if (share > 0.1) r.flags += f"host CPU steal ${share * 100}%.0f%% of busy time: timings are unreliable"
    }
    r.metric("runtime.peak_rss_mb", peakRssMb(), "MB")
    if (ctx.trace) Files.writeString(Paths.get(s"${ctx.work}/spans.json"), ctx.spans.json)
    val correct = error.isEmpty && r.checks.values.forall(identity) && r.attempted > 0
    val json =
      s"""{"correct":$correct,"attempted":${r.attempted},"failed":${r.failed},""" +
        s""""error":${error.map(e => str(String.valueOf(e))).getOrElse("null")},""" +
        r.checks.map { case (k, v) => s"${str(k)}:$v" }.mkString("\"checks\":{", ",", "},") +
        r.metrics.map { case (k, (v, u)) => s"""${str(k)}:{"value":${num(v)},"unit":${str(u)}}""" }
          .mkString("\"metrics\":{", ",", "},") +
        r.flags.map(str).mkString("\"flags\":[", ",", "],") +
        r.details.map { case (k, v) => s"${str(k)}:$v" }.mkString("\"details\":{", ",", "}}")
    Files.writeString(Paths.get(out), json)
    log("result written")
    // the result is on disk and the harness deletes the work dir, so the
    // JVM ends here without running Spark's shutdown hooks
    Runtime.getRuntime.halt(if (error.isEmpty) 0 else 1)
  }
}
