package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.cdc.{Envelope, Fixture}
import graft.sinks.{IncrementalAggView, LogMirror, LogMirrorSink}
import graft.streaming.{CdcPipeline, IncrementalAgg}

/** Dev profiler, not a catalog entry point: `sbt "runMain
  * graft.Profile <scenario> <args>..."` on SPARK_GRAFT_CPUS cores (4).
  * Every timed step prints its wall time and the Spark jobs it started.
  *   - `queries <sfDir> <query>... [reps]`: a warm-up pass, then `reps`
  *     (5) interleaved passes and a min/median/max summary per query.
  *   - `stream <sfDir> <maxDeltas> <nViews> <chunkKeys>`: ≤20 synchronized
  *     3000-event triggers with `processBatch`'s stage clock, then a drain
  *     of the rest; `nViews` (0-4) agg views ride along, `chunkKeys` > 0
  *     backfills `orders` during the drain (a signal-driven snapshot).
  *   - `views <sfDir>`: 2 rounds of 5 LogMirror merge + view poll waves.
  * Shuffle partitions = cores: Bench's streams run 4 per trigger. */
object Profile {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, args) finally spark.stop()
  }

  /** Runs one scenario on `spark`, printing its lines to stdout. */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val clock = new Clock
    spark.sparkContext.addSparkListener(clock)
    try args.toList match {
      case "queries" :: sf :: names if names.nonEmpty =>
        val reps = names.last.toIntOption.filter(_ => names.size > 1)
        queries(spark, clock, sf, reps.fold(names)(_ => names.init), reps.getOrElse(5))
      case "stream" :: sf :: maxDeltas :: nViews :: chunkKeys :: Nil =>
        stream(spark, clock, sf, maxDeltas.toInt, nViews.toInt, chunkKeys.toInt)
      case "views" :: sf :: Nil => views(spark, clock, sf)
      case _ => throw new IllegalArgumentException("usage: queries <sfDir> <query>... " +
        "[reps] | stream <sfDir> <maxDeltas> <nViews> <chunkKeys> | views <sfDir>")
    } finally spark.sparkContext.removeSparkListener(clock)
  }

  /** `apply` returns a step's result, wall seconds and jobs started. */
  private final class Clock extends SparkListener {
    private val jobs = new AtomicInteger()
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.incrementAndGet(): Unit
    def apply[A](f: => A): (A, Double, Int) = {
      val (j0, t0) = (jobs.get(), System.nanoTime())
      val r = f
      (r, (System.nanoTime() - t0) / 1e9, jobs.get() - j0)
    }
  }

  private def queries(spark: SparkSession, clock: Clock, sf: String,
                      names: Seq[String], reps: Int): Unit = {
    val walls = mutable.Map[String, Vector[Double]]().withDefaultValue(Vector())
    for (rep <- 0 to reps; n <- names) {
      val (df, build, j0) = clock(SparkEntry.queries(n)(spark, sf))
      val (_, exec, j1) = clock(df.queryExecution.toRdd.count())
      if (rep > 0) walls(n) :+= build + exec
      println(f"rep=$rep%-2d $n%-28s build=$build%6.3f exec=$exec%7.3f " +
        f"jobs=${j0 + j1}%3d load=${Bench.loadavg()}%.2f${if (rep == 0) " (warm-up)" else ""}")
    }
    for (n <- names; xs = walls(n).sorted if xs.nonEmpty)
      println(f"SUMMARY $n%-28s min=${xs.head}%6.3f " +
        f"med=${xs(xs.size / 2)}%6.3f max=${xs.last}%6.3f")
  }

  // status rollups: plain, then with MAX(id) (the reference's integrity
  // probe), MIN(id) and both — extrema take the dirty-group recompute path
  private def viewCatalog(n: Int) = Seq(Nil -> Nil, Seq("id") -> Nil,
    Nil -> Seq("id"), Seq("id") -> Seq("id")).take(n).zipWithIndex.map {
    case ((maxs, mins), i) => s"view$i" -> CdcPipeline.AggView("orders_t0",
      IncrementalAgg.Spec(Seq("o_orderstatus"), Seq("o_totalprice"), maxs, mins))
  }.toMap

  private def stream(spark: SparkSession, clock: Clock, sf: String,
                     maxDeltas: Int, nViews: Int, chunkKeys: Int): Unit = {
    val recs = Bench.records(Fixture.ordersCdcEvents(spark, sf), 250000)
    val (timed, drain) = recs.splitAt(math.min(20 * 3000, recs.length / 2))
    val root = Files.createTempDirectory("graft-profile").toString
    val signals = Paths.get(s"$root/signals") // chunkKeys > 0 only
    val cfg = CdcPipeline.Config(Fixture.rowSchema, Seq("id"),
      s"$root/mirror", s"$root/dlq", s"$root/ckpt", triggerMs = 1L,
      aggViews = viewCatalog(nViews),
      sinkOverride = Some(LogMirrorSink(maxDeltas = maxDeltas)),
      signalDir = Option.when(chunkKeys > 0)(signals.toString),
      snapshotSources = Map("orders_t0" -> (() =>
        graft.core.Tables.load(spark, sf, "orders")
          .selectExpr("o_orderkey AS id", "o_orderstatus", "o_totalprice"))),
      snapshotChunkKeys = math.max(chunkKeys, 1))
    import spark.implicits._
    implicit val sqlCtx: SQLContext = spark.sqlContext
    val stages = mutable.ArrayBuffer.empty[(Long, CdcPipeline.StageTimings)]
    val ms = MemoryStream[BenchRec]
    val query = Bench.startTimed(ms.toDF(), cfg, stages)
    try {
      timed.grouped(3000).zipWithIndex.foreach { case (chunk, i) =>
        val (_, wall, jobs) = clock { ms.addData(chunk.toSeq); query.processAllAvailable() }
        val st = stages.synchronized(stages.last._2)
        println(f"trigger$i%-3d ${wall * 1000}%6.0f ms jobs=$jobs%3d " +
          f"route=${st.route}%.3f merge=${st.merge}%.3f views=${st.views}%.3f " +
          f"snap=${st.snapshot}%.3f dlq=${st.dlq}%.3f")
      }
      if (chunkKeys > 0) Files.writeString(
        Files.createDirectories(signals).resolve("profile.json"),
        """{"id":"profile","type":"execute-snapshot",""" +
          """"data":{"data-collections":["orders_t0"]}}""")
      val (_, wall, jobs) = clock {
        drain.grouped(10000).foreach(chunk => ms.addData(chunk.toSeq))
        query.processAllAvailable()
      }
      println(f"drain events=${drain.length} wall=$wall%.2f s jobs=$jobs " +
        f"eps=${drain.length / wall}%.0f")
    } finally query.stop()
  }

  private def views(spark: SparkSession, clock: Clock, sf: String): Unit = {
    def step(label: String)(f: => Any): Unit = clock(f) match {
      case (_, wall, jobs) => println(f"$label%-24s $wall%6.2f s jobs=$jobs%3d")
    }
    val all = graft.core.Caching.persistMaterialized(Envelope.unwrap(
      Envelope.wellFormed(Envelope.parse(Fixture.ordersCdcEvents(spark, sf),
        Fixture.rowSchema)), keyCols = Seq("id")))
    val aggs = Seq(sum(col("o_totalprice")).as("sum_price"),
      count(lit(1)).as("n_rows"), max(col("id")).as("max_id"))
    try (1 to 2).foreach { round =>
      val Seq(src, view) = Seq.fill(2)(Files.createTempDirectory("graft-profile").toString)
      (0 until 5).foreach { i => // the fixture's five ts_ms waves
        step(s"round$round merge wave$i")(LogMirror.merge(spark, src,
          all.filter(col("ts_ms") === (i + 1) * 1000L), Seq("id"), i.toLong,
          maxDeltas = 3, bucketCount = None))
        step(s"round$round poll wave$i")(IncrementalAggView.poll(spark,
          src, view, Seq("o_orderstatus"), aggs))
      }
    } finally { all.unpersist(); () }
  }
}
