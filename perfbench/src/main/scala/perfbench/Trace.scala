package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One recorded span: a call into a layer, timed from the benchmark. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
                      start: Long, end: Long)

/** In-memory span recorder. Off, [[apply]] only runs its body; on, it
  * records name, start, end, parent and trace id (a span opened with no
  * parent on its thread starts a new trace). Spans are written out once,
  * after the run. Names are `layer.call`, so a layer's totals are the
  * spans whose name starts with the layer. */
final class Spans(@volatile var on: Boolean) {
  private val done = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val (parent, trace) = outer.headOption.map { case (p, t) => (p, t) }.getOrElse((0L, id))
      stack.set((id, trace) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parent, trace, name, t0, System.nanoTime()))
        stack.set(outer)
      }
    }

  def all: Seq[Span] = done.asScala.toSeq

  /** Seconds per span name, minus the time its child spans cover. */
  def selfSeconds: Map[String, Double] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { s =>
        val covered = Spans.union(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }

  def json: String = all.sortBy(_.start).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"name":"${s.name}",""" +
      s""""start_ns":${s.start},"end_ns":${s.end}}"""
  }.mkString("[", ",\n", "]")
}

object Spans {
  /** Total length of the union of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Engine work as Spark reports it, one record per job start or task
  * end, stamped with `System.nanoTime` when the benchmark's own listener
  * saw it. Counts are summed over any set of time windows, which is how
  * they are attributed to spans. */
final class EngineCounters extends SparkListener {
  import EngineCounters._
  private val recs = new ConcurrentLinkedQueue[Rec]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    recs.add(Rec(System.nanoTime(), g, job = true, 0, 0, 0, 0))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) recs.add(Rec(System.nanoTime(), stageGroup.getOrDefault(e.stageId, ""),
      job = false, m.executorRunTime * 1000000L, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.outputMetrics.bytesWritten))
  }

  /** Totals over records inside any of `windows` (nanoTime bounds)
    * whose job group passes `group`. */
  def totals(windows: Seq[(Long, Long)], group: String => Boolean = _ => true): Totals = {
    val ws = windows.toArray
    def inside(t: Long) = ws.exists { case (s, e) => t >= s && t <= e }
    val rs = recs.asScala.filter(r => group(r.group) && inside(r.at)).toSeq
    val tasks = rs.filterNot(_.job)
    Totals(rs.count(_.job), tasks.size, tasks.map(_.runNs).sum / 1e9,
      tasks.map(_.gcMs).sum / 1e3, tasks.map(_.shuffleWrite).sum, tasks.map(_.output).sum)
  }
}

object EngineCounters {
  final case class Rec(at: Long, group: String, job: Boolean, runNs: Long, gcMs: Long,
                       shuffleWrite: Long, output: Long)

  final case class Totals(jobs: Long, tasks: Long, runS: Double, gcS: Double,
                          shuffleWrite: Long, output: Long)
}

/** Per-layer numbers every traced run reports: engine counters over the
  * timed window, each layer's self time, and per-span-name totals. */
object Report {
  val layers: Seq[String] = Seq("cdc", "streaming", "sinks", "operators")

  def spark(ctx: Ctx, windows: Seq[(Long, Long)]): Unit = {
    val r = ctx.res
    val tot = ctx.counters.totals(windows)
    val wall = Spans.union(windows) / 1e9
    r.metric("spark.jobs", tot.jobs.toDouble, "count")
    r.metric("spark.tasks", tot.tasks.toDouble, "count")
    r.metric("spark.shuffle_write_bytes", tot.shuffleWrite.toDouble, "B")
    r.metric("spark.output_bytes", tot.output.toDouble, "B")
    r.metric("spark.gc_s", tot.gcS, "s")
    r.metric("spark.busy_share", tot.runS / math.max(1e-9, wall * ctx.cores), "ratio")
    val self = ctx.spans.selfSeconds
    layers.foreach { l =>
      r.metric(s"layer.${l}_self_s", self.filter(_._1.startsWith(l + ".")).values.sum, "s")
    }
    val byName = ctx.spans.all.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      val t = ctx.counters.totals(ss.map(s => (s.start, s.end)))
      s"""${Main.str(n)}:{"count":${ss.size},"total_s":${Main.num(ss.map(s => s.end - s.start).sum / 1e9)},""" +
        s""""self_s":${Main.num(self(n))},"jobs":${t.jobs},"tasks":${t.tasks},""" +
        s""""shuffle_write_bytes":${t.shuffleWrite},"output_bytes":${t.output},"gc_s":${Main.num(t.gcS)}}"""
    }
    r.detail("spans", byName.mkString("{", ",", "}"))
  }
}
