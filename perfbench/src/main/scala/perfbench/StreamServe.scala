package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoder, Row, SparkSession, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

import graft.streaming.CdcPipeline
import graft.sinks.{ChangefeedReplicator, IncrementalAggView, IncrementalJoinView,
  LogMirror, LogMirrorSink}

/** stream_serve: `CdcPipeline.start` on a MemoryStream with free-running
  * triggers. A generator thread adds events on a fixed schedule (open
  * loop) at the offered rate whatever the pipeline does; beside it one
  * reader thread loops, closed loop, over a replica poll, a join-view
  * poll (`ventas ⋈ entidades`), a rollup-view poll over that join view
  * and a point lookup of a key the generator just changed. A closing
  * drain adds a fixed backlog at once with the readers stopped, then
  * brings each reader up to date, each step timed on its own. */
object StreamServe {
  import Main.{median, pct, secs}

  private val factKey = Seq("id_venta")
  private val joinKey = Seq("id_entidad")
  private val ReaderGroup = "perfbench-reader"

  /** Commit of one trigger as the benchmark's listener saw it. */
  final case class Commit(batchId: Long, endOffset: Long, startMs: Long,
                          durationMs: Long, addBatchMs: Long)

  /** One chunk the generator added: when it was due and which offset. */
  final case class Chunk(offset: Long, dueMs: Long, lateMs: Double, events: Int)

  /** One reader call: when it returned, what it covered (a pipeline
    * batch id, or -1), how long it took and how much it applied. */
  final case class Call(kind: String, endMs: Long, coveredBatch: Long, ms: Double,
                        rows: Long, resnapshot: Boolean, t0: Long, t1: Long)

  final case class Lookup(key: Long, committedOffset: Long, got: Option[Seq[Any]], ms: Double)

  /** Events offered by wall time `atMs` that no trigger had committed by
    * then. Offered: a chunk due by `atMs`; committed: a trigger whose
    * start plus duration is at or before `atMs`. */
  def backlogAt(chunks: Seq[Chunk], commits: Seq[Commit], atMs: Long): Long = {
    val committed = commits.filter(c => c.startMs + c.durationMs <= atMs)
      .map(_.endOffset).maxOption.getOrElse(-1L)
    chunks.filter(c => c.dueMs <= atMs && c.offset > committed).map(_.events.toLong).sum
  }

  /** The run-validity rule for the backlog. The window starts with
    * nothing waiting (the warm-up committed the snapshot), so the
    * backlog grew if, when the window closed, more than the one chunk
    * that may be in flight at that instant was still uncommitted. The
    * allowance is a fixed share of the offered traffic, not a function
    * of trigger time, so a pipeline that falls further behind cannot
    * raise its own limit. */
  def backlogGrew(backlogEnd: Long, perChunk: Long): Boolean = backlogEnd > perChunk

  /** A running pipeline, its MemoryStream and its commit log. */
  final class Pipe(spark: SparkSession, val cfg: CdcPipeline.Config) {
    val commits = new ConcurrentLinkedQueue[Commit]()
    val committedOffset = new AtomicLong(-1L)
    private val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) {
          val end = Option(p.sources.head.endOffset).map(_.trim.toLong).getOrElse(-1L)
          val d = p.durationMs.asScala
          commits.add(Commit(p.batchId, end, java.time.Instant.parse(p.timestamp).toEpochMilli,
            p.batchDuration, d.get("addBatch").map(_.longValue).getOrElse(0L)))
          committedOffset.accumulateAndGet(end, math.max)
        }
      }
    }
    spark.streams.addListener(listener)
    private implicit val sqlCtx: SQLContext = spark.sqlContext
    private implicit val enc: Encoder[Rec] = spark.implicits.newProductEncoder[Rec]
    val ms: MemoryStream[Rec] = MemoryStream[Rec]
    val query: StreamingQuery = CdcPipeline.start(ms.toDF(), cfg)

    def add(evs: Seq[Event]): Long = ms.addData(evs.map(Cdc.rec)).json.trim.toLong
    /** Waits until the listener has seen the commit of offset `off`. */
    def awaitCommit(off: Long): Unit = {
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (committedOffset.get() < off && System.nanoTime() < deadline) Thread.sleep(5)
    }
    def drain(): Unit = query.processAllAvailable()
    def stop(): Unit = { query.stop(); spark.streams.removeListener(listener) }
  }

  def ventasRoot(cfg: CdcPipeline.Config): String = Cdc.mirrorRoot(cfg, Gen.ventas)
  def entidadesRoot(cfg: CdcPipeline.Config): String = Cdc.mirrorRoot(cfg, Gen.entidades)

  /** The reader's four calls over one pipeline's outputs. */
  final class Readers(spark: SparkSession, cfg: CdcPipeline.Config, root: String, maxDeltas: Int) {
    val replicaRoot = s"$root/replica"
    val joinRoot = s"$root/join_view"
    val aggRoot = s"$root/agg_view"
    def replica(): ChangefeedReplicator.Result =
      ChangefeedReplicator.poll(spark, ventasRoot(cfg), replicaRoot,
        LogMirrorSink(maxDeltas = maxDeltas), factKey)
    def join(): IncrementalJoinView.Result =
      IncrementalJoinView.poll(spark, ventasRoot(cfg), entidadesRoot(cfg), joinRoot,
        factKey, joinKey, "inner", dimCols = Seq("tipo"), maxDeltas = maxDeltas)
    def agg(): IncrementalAggView.Result =
      IncrementalAggView.poll(spark, joinRoot, aggRoot, Seq("tipo"),
        Seq(count(lit(1)).as("n"), sum(col("total_cents")).as("sum_cents")), maxDeltas)
    def lookup(key: Long): Option[Seq[Any]] =
      LogMirror.lookup(spark, ventasRoot(cfg), factKey, Seq(key)).collect()
        .headOption.map(_.toSeq)
    /** Every view brought up to date: the replica and the join view are
      * independent and poll concurrently, the rollup follows the join. */
    def catchUp(): Unit = Cdc.parallel(Seq(() => replica(), () => { join(); agg() }))
  }

  /** Runs `body`; returns its result with its wall and CPU seconds. */
  private def timed[T](body: => T): (T, Double, Double) = {
    val t0 = System.nanoTime(); val c0 = Main.cpuNs()
    val out = body
    (out, secs(t0), Main.cpuSecs(c0))
  }

  /** Retries a reader call that raced a concurrent compaction sweep
    * (the documented LogMirror single-writer contract); None after three
    * failed attempts. */
  private def attempt[T](retries: AtomicLong)(f: => T): Option[T] = {
    var left = 3
    var out: Option[T] = None
    while (out.isEmpty && left > 0) {
      try out = Some(f)
      catch { case e: Exception =>
        left -= 1
        if (left > 0) retries.incrementAndGet()
        else e.printStackTrace()
      }
    }
    out
  }

  def run(ctx: Ctx): Unit = {
    val tr = ctx.traffic
    val perChunk = math.max(1, tr.rate * tr.chunkMs / 1000)

    val gen = new Gen(ctx.seed, tr)
    val snapshot = gen.snapshot()
    val snapshotState = gen.state(Gen.ventas).clone()
    val retries = new AtomicLong(0)
    // warm-up: the pipeline starts, the snapshot lands through the
    // stream, and every reader makes its first (full) poll
    var pipe: Pipe = null
    var rd: Readers = null
    var snapshotOff = -1L
    val root = ctx.dir("stream")
    Main.setup(ctx, 3) { spark =>
      pipe = new Pipe(spark, Cdc.config(root, tr.maxDeltas, triggerMs = 1L))
      rd = new Readers(spark, pipe.cfg, root, tr.maxDeltas)
      snapshotOff = pipe.add(snapshot)
      pipe.drain()
      rd.catchUp()
      rd.lookup(1L)
    }
    val spark = ctx.spark
    val r = ctx.res

    val ventasEvents = new ConcurrentLinkedQueue[(Long, Event)]() // (chunk offset, event)
    val recentKey = new AtomicLong(1L)
    val chunks = new ConcurrentLinkedQueue[Chunk]()
    val calls = new ConcurrentLinkedQueue[Call]()
    val lookups = new ConcurrentLinkedQueue[Lookup]()
    val stopGen = new AtomicBoolean(false)
    val stopReaders = new AtomicBoolean(false)

    def mirrors = Cdc.tables.indices.map(Cdc.mirrorRoot(pipe.cfg, _))
    val basesAtStart = mirrors.map(Cdc.baseId(spark, _))
    val windowWall = System.currentTimeMillis()
    val windowNs = System.nanoTime()
    val generator = new Thread(() => {
      var i = 0L
      while (!stopGen.get()) {
        val dueNs = windowNs + i * tr.chunkMs * 1000000L
        val wait = dueNs - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        val evs = gen.next(perChunk)
        val late = (System.nanoTime() - dueNs) / 1e6
        val off = pipe.add(evs)
        evs.foreach { e =>
          if (e.table == Gen.ventas && !e.malformed) {
            ventasEvents.add((off, e)); recentKey.set(e.keyId)
          }
        }
        chunks.add(Chunk(off, windowWall + i * tr.chunkMs, late, evs.size))
        i += 1
        if (secs(windowNs) >= ctx.seconds) stopGen.set(true)
      }
    }, "perfbench-generator")

    var lastJoinFact = -1L
    val reader = new Thread(() => {
      spark.sparkContext.setJobGroup(ReaderGroup, "benchmark reader", interruptOnCancel = false)
      def call[T](kind: String)(f: => T)(covered: T => Long, rows: T => Long,
                                         resnap: T => Boolean): Unit = {
        val t0 = System.nanoTime()
        val out = ctx.spans(s"sinks.$kind")(attempt(retries)(f))
        val t1 = System.nanoTime()
        r.op(out.isDefined)
        out.foreach(o => calls.add(Call(kind, System.currentTimeMillis(), covered(o),
          (t1 - t0) / 1e6, rows(o), resnap(o), t0, t1)))
      }
      // the stop flag is checked before every call, so the readers end
      // within one call of being stopped
      def live = !stopReaders.get()
      while (live) try {
        call("replica_poll")(rd.replica())(_.toVersion.getOrElse(-1L), _.applied, _.resnapshot)
        if (live) call("join_view_poll")(rd.join())(
          j => { lastJoinFact = j.factVersion.getOrElse(-1L); lastJoinFact }, _.applied, _.resnapshot)
        if (live) call("agg_view_poll")(rd.agg())(_ => lastJoinFact, _.groupsRefreshed, _.resnapshot)
        if (live) {
          val key = recentKey.get()
          val committed = pipe.committedOffset.get()
          val t0 = System.nanoTime()
          val got = ctx.spans("sinks.lookup")(attempt(retries)(rd.lookup(key)))
          r.op(got.isDefined)
          got.foreach(g => lookups.add(Lookup(key, committed, g, (System.nanoTime() - t0) / 1e6)))
        }
      } catch { case e: Exception => e.printStackTrace(); r.op(ok = false) }
    }, "perfbench-reader")

    generator.start(); reader.start()
    generator.join()
    val windowEndNs = System.nanoTime()
    val windowEndMs = System.currentTimeMillis()
    val sentOffset = chunks.asScala.map(_.offset).max
    val firstOffset = chunks.asScala.map(_.offset).min
    // the mirror version a reader call covered → the last stream offset
    // in it (batch ids are mirror versions)
    def coveredOffset(batch: Long): Long =
      pipe.commits.asScala.filter(_.batchId <= batch).map(_.endOffset).maxOption.getOrElse(-1L)
    // untraced runs stop the readers as the window closes. A reader
    // cycle can outlast the window, so traced runs keep them going while
    // the pipeline works off the window's backlog, until a replica poll
    // and a rollup-view poll have each covered a timed chunk: every
    // traced run then measures freshness through both readers.
    if (ctx.trace) {
      def covered(kind: String): Boolean =
        calls.asScala.exists(c => c.kind == kind && coveredOffset(c.coveredBatch) >= firstOffset)
      val deadline = System.nanoTime() + 40L * 1000000000L
      while (!(covered("replica_poll") && covered("agg_view_poll")) && System.nanoTime() < deadline)
        Thread.sleep(20)
    }
    // the pipeline works off the window's backlog while the reader
    // finishes its last call
    stopReaders.set(true)
    pipe.drain()
    pipe.awaitCommit(sentOffset)
    val caughtUpNs = System.nanoTime()
    reader.join()
    Main.log(f"readers stopped ${secs(windowEndNs)}%.1f s after the window closed")

    // folds the pipeline made during the window and its catch-up, and
    // the delta depth it left (a table folds at most once in a run this short)
    val folds = mirrors.zip(basesAtStart).count { case (m, b) => Cdc.baseId(spark, m) != b }
    val depthMax = mirrors.map(Cdc.deltaDepth(spark, _)).max

    // closing drain, readers stopped: a fixed backlog added at once and
    // worked off; then, with the pipeline stopped, each reader brought up
    // to date over everything since its last poll, one at a time. Each
    // is a timed operation of its own.
    val drain = gen.next(tr.drainEvents)
    val (drained, drainS, drainCpuS) = timed(try { pipe.add(drain); pipe.drain(); true }
      catch { case e: Exception => e.printStackTrace(); false })
    r.op(drained)
    pipe.stop()
    val catchUp = Seq[(String, () => Any)]("replica" -> (() => rd.replica()),
      "join_view" -> (() => rd.join()), "agg_view" -> (() => rd.agg())).map { case (kind, f) =>
      val (ok, s, cpu) = timed(attempt(retries)(f()).isDefined)
      r.op(ok)
      (kind, s, cpu)
    }
    val drainEps = drain.size / drainS
    Main.log(f"drain $drainS%.2f s (cpu $drainCpuS%.2f s); catch-up " +
      catchUp.map { case (k, s, c) => f"$k $s%.2f s (cpu $c%.2f s)" }.mkString(", "))
    val windowCommits = pipe.commits.asScala.toSeq
      .filter(c => c.endOffset > snapshotOff && c.endOffset <= sentOffset)

    // ---- metrics
    val chunkList = chunks.asScala.toSeq
    val commitOf: Long => Option[Commit] = {
      val sorted = windowCommits.sortBy(_.endOffset)
      off => sorted.find(_.endOffset >= off)
    }
    val mirrorFresh = chunkList.map(c => commitOf(c.offset).map(m =>
      (m.startMs + m.durationMs - c.dueMs).toDouble).getOrElse(Double.PositiveInfinity))
    // visibility through a reader: the first call of that kind that
    // covers the chunk; chunks no call covered before the readers
    // stopped are left out, and the covered share says how many were
    def freshVia(kind: String): Seq[Double] = {
      val cs = calls.asScala.filter(_.kind == kind).toSeq.sortBy(_.endMs)
        .map(c => (c.endMs, coveredOffset(c.coveredBatch)))
      chunkList.flatMap(ch => cs.find(_._2 >= ch.offset).map(c => (c._1 - ch.dueMs).toDouble))
    }
    val viewFresh = freshVia("agg_view_poll")
    val replicaFresh = freshVia("replica_poll")
    val lookupMs = lookups.asScala.map(_.ms).toSeq
    def callMs(kind: String) = calls.asScala.filter(_.kind == kind).map(_.ms).toSeq

    // latency: mean freshness over every timed event — the median of a
    // window holding a few triggers jumps between trigger clusters
    r.metric("fresh_mirror_mean_ms", mirrorFresh.sum / mirrorFresh.size, "ms")
    r.metric("sinks.compactions", folds.toDouble, "count")
    r.metric("sinks.delta_depth_max", depthMax.toDouble, "count")
    r.metric("fresh_mirror_p50_ms", median(mirrorFresh), "ms")
    r.metric("fresh_mirror_p95_ms", pct(mirrorFresh, 0.95), "ms")
    // reader metrics need at least one call of their kind in the window
    def medianOf(name: String, xs: Seq[Double], unit: String): Unit =
      if (xs.nonEmpty) r.metric(name, median(xs), unit)
    medianOf("fresh_view_p50_ms", viewFresh, "ms")
    medianOf("fresh_replica_p50_ms", replicaFresh, "ms")
    r.metric("fresh_view_covered_share", viewFresh.size.toDouble / chunkList.size, "ratio")
    r.metric("fresh_replica_covered_share", replicaFresh.size.toDouble / chunkList.size, "ratio")
    medianOf("lookup_p50_ms", lookupMs, "ms")
    r.metric("stream_drain_eps", drainEps, "events/s")
    r.metric("drain.cpu_s", drainCpuS, "s")
    r.metric("drain.catch_up_s", catchUp.map(_._2).sum, "s")
    r.metric("drain.catch_up_cpu_s", catchUp.map(_._3).sum, "s")
    r.metric("op_cpu_s", Main.geomean(drainCpuS +: catchUp.map(_._3)), "s")
    r.detail("freshness_samples", chunkList.map(_.events).sum.toString)
    r.detail("lookups", lookupMs.size.toString)

    val trig = windowCommits.map(_.durationMs.toDouble)
    r.metric("streaming.trigger_ms_p50", median(trig), "ms")
    r.metric("streaming.trigger_ms_p95", pct(trig, 0.95), "ms")
    r.metric("streaming.addbatch_ms_p50", median(windowCommits.map(_.addBatchMs.toDouble)), "ms")
    r.metric("streaming.overhead_ms_p50",
      median(windowCommits.map(c => (c.durationMs - c.addBatchMs).toDouble)), "ms")
    // rows per trigger from the offsets each trigger committed (the
    // progress row count re-counts a batch for every job that reads it)
    val chunkEvents = chunkList.map(c => c.offset -> c.events).toMap
    val triggerRows = windowCommits.sortBy(_.endOffset).foldLeft((snapshotOff, Seq.empty[Double])) {
      case ((prev, acc), c) =>
        (c.endOffset, acc :+ (prev + 1 to c.endOffset).map(chunkEvents.getOrElse(_, 0)).sum.toDouble)
    }._2
    r.metric("streaming.rows_per_trigger_p50", median(triggerRows), "rows")
    val backlogEnd = backlogAt(chunkList, windowCommits, windowEndMs)
    r.metric("streaming.backlog_end_rows", backlogEnd.toDouble, "rows")
    windowCommits.foreach(_ => r.op(ok = true))
    medianOf("sinks.join_view_poll_ms_p50", callMs("join_view_poll"), "ms")
    medianOf("sinks.agg_view_poll_ms_p50", callMs("agg_view_poll"), "ms")
    medianOf("sinks.replica_poll_ms_p50", callMs("replica_poll"), "ms")
    val replicaCalls = calls.asScala.filter(_.kind == "replica_poll").toSeq
    r.metric("sinks.replica_rows_per_poll", replicaCalls.map(_.rows).sum.toDouble / replicaCalls.size, "rows")
    val viewCalls = calls.asScala.filter(_.kind != "lookup").toSeq
    r.metric("sinks.resnapshot_ratio", viewCalls.count(_.resnapshot).toDouble / viewCalls.size, "ratio")
    r.detail("read_retries", retries.get.toString)
    // every reader call: kind, start (s after the window opened), ms, rows
    r.detail("reader_calls", calls.asScala.toSeq.sortBy(_.t0).map(c =>
      s"[${Main.str(c.kind)},${Main.num((c.t0 - windowNs) / 1e9)},${Main.num(c.ms)},${c.rows}]")
      .mkString("[", ",", "]"))

    // run validity: generator lateness and backlog growth
    val lateP99 = pct(chunkList.map(_.lateMs), 0.99)
    r.metric("gen.late_ms_p99", lateP99, "ms")
    if (lateP99 > tr.chunkMs) r.flags += s"generator fell behind: late p99 $lateP99 ms > ${tr.chunkMs} ms"
    if (backlogGrew(backlogEnd, perChunk))
      r.flags += s"backlog grew over the timed window: $backlogEnd events waiting at its end, " +
        s"more than one chunk ($perChunk)"

    if (ctx.trace) {
      val windows = Seq((windowNs, caughtUpNs))
      val pipeTot = ctx.counters.totals(windows, g => g != ReaderGroup)
      r.metric("streaming.jobs_per_trigger", pipeTot.jobs.toDouble / math.max(1, windowCommits.size), "jobs")
      r.metric("streaming.tasks_per_trigger", pipeTot.tasks.toDouble / math.max(1, windowCommits.size), "tasks")
      val viewWins = calls.asScala.filter(c => c.kind.endsWith("view_poll")).map(c => (c.t0, c.t1)).toSeq
      val viewTot = ctx.counters.totals(viewWins, _ == ReaderGroup)
      r.metric("sinks.view_poll_jobs", viewTot.jobs.toDouble / math.max(1, viewWins.size / 2), "jobs")
      val lookupSpans = ctx.spans.all.filter(_.name == "sinks.lookup").map(s => (s.end - s.start) / 1e6)
      medianOf("sinks.lookup_ms_p50", lookupSpans, "ms")
    }

    // ---- untimed checks, side by side: the mirrors and the DLQ against
    // the oracle, the replica against the final mirror, and the views
    // against the oracle's join and GROUP BY
    val (wantJoin, wantAgg) = expectedViews(spark, gen)
    val Seq(_, replicaDiff, joinDiff, aggDiff) = Cdc.parallel(Seq(
      () => { Cdc.checkAgainstOracle(ctx, pipe.cfg, gen); 0L },
      () => Cdc.diff(LogMirror.read(spark, rd.replicaRoot), LogMirror.read(spark, ventasRoot(pipe.cfg))),
      () => Cdc.diff(IncrementalJoinView.read(spark, rd.joinRoot), wantJoin),
      () => Cdc.diff(IncrementalAggView.read(spark, rd.aggRoot), wantAgg)))
    Seq("replica_equals_mirror" -> replicaDiff, "join_view" -> joinDiff, "agg_view" -> aggDiff)
      .foreach { case (c, d) => r.check(c, d == 0); if (d != 0) r.op(ok = false) }
    val badLookups = checkLookups(snapshotState, lookups.asScala.toSeq, ventasEvents.asScala.toSeq)
    r.check("lookups_fresh_enough", badLookups == 0)
    if (badLookups > 0) r.failed += badLookups

    // traced runs only: the drain backlog replayed closed loop through
    // processBatch into fresh mirrors, then each layer's own calls
    Main.log("checks done")
    if (ctx.trace) {
      BulkReplay.run(ctx, drain.grouped(drain.size / 2 + 1).toSeq)
      Report.spark(ctx, Seq((windowNs, caughtUpNs)))
      Main.log("report done")
    }
  }

  /** Oracle join (live ventas ⋈ live entidades on id_entidad, with the
    * dim's `tipo`) and its rollup by `tipo`. */
  private def expectedViews(spark: SparkSession, gen: Gen) = {
    val dim = gen.state(Gen.entidades).collect { case (k, s) if !s.deleted =>
      k -> s.row(Gen.tables(Gen.entidades).fields.indexWhere(_.name == "tipo")).asInstanceOf[String]
    }
    val vt = Gen.tables(Gen.ventas)
    val fk = vt.fields.indexWhere(_.name == "id_entidad")
    val rows = gen.state(Gen.ventas).iterator.collect {
      case (k, s) if !s.deleted && dim.contains(s.row(fk).asInstanceOf[Long]) =>
        Row.fromSeq((k +: s.row.toSeq) :+ dim(s.row(fk).asInstanceOf[Long]))
    }.toVector
    val schema = Cdc.schemaOf(Gen.ventas).add("tipo", "string")
    val join = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    val agg = join.groupBy("tipo").agg(count(lit(1)).as("n"), sum(col("total_cents")).as("sum_cents"))
    (join, agg)
  }

  /** A lookup must return the key's state as of the prefix committed
    * when it started, or a state from later events. Returns how many
    * lookups returned anything else. */
  private def checkLookups(snapshot: collection.Map[Long, KeyState], lookups: Seq[Lookup],
                           evs: Seq[(Long, Event)]): Long = {
    val byKey = evs.groupBy(_._2.keyId)
    lookups.count { l =>
      val mine = byKey.getOrElse(l.key, Nil).sortBy(_._1)
      def rowOf(deleted: Boolean, row: Array[Any]): Option[Seq[Any]] =
        if (deleted) None else Some(l.key +: row.toSeq)
      // version-ordered state after each prefix of this key's events,
      // starting from its snapshot row (if it had one)
      var best: Option[(Long, Long)] = snapshot.get(l.key).map(s => (s.tsMs, s.offset))
      var cur: Option[Seq[Any]] = snapshot.get(l.key).flatMap(s => rowOf(s.deleted, s.row))
      val states = mutable.ArrayBuffer[(Long, Option[Seq[Any]])]((-1L, cur))
      mine.foreach { case (off, e) =>
        if (best.forall { case (ts, o) => ts < e.tsMs || (ts == e.tsMs && o < e.offset) }) {
          best = Some((e.tsMs, e.offset)); cur = rowOf(e.op == 'd', e.row)
        }
        states += off -> cur
      }
      val committed = states.filter(_._1 <= l.committedOffset).last._2
      val allowed = committed +: states.filter(_._1 > l.committedOffset).map(_._2)
      !allowed.contains(l.got)
    }
  }
}
