package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, max}

import graft.cdc.Materialize
import graft.streaming.CdcPipeline
import graft.sinks.LogMirror

/** Traced runs of stream_serve end with the closing-drain backlog
  * replayed in bulk, in two batches: the batches go through
  * `CdcPipeline.processBatch` closed loop into fresh mirrors with no
  * readers, every mirror is read back with the reference's integrity
  * query, and an attribution pass then drives the whole backlog, as one
  * batch, through each layer's own public calls, one layer at a time,
  * ending with an explicit `LogMirror.compact` of every mirror. */
object BulkReplay {
  import Main.{median, secs}

  def run(ctx: Ctx, batchEvents: Seq[Seq[Event]]): Unit = {
    val spark = ctx.spark
    val r = ctx.res
    val tr = ctx.traffic
    // each batch is in memory before it is timed, as a consumer's fetch
    def inMemory(evs: Seq[Event]): DataFrame = {
      val df = Cdc.frame(spark, evs).repartition(ctx.cores).persist()
      df.count()
      df
    }
    val batches = batchEvents.map(inMemory)
    val nEvents = batchEvents.map(_.size).sum

    // each batch goes into two sets of fresh mirrors, once traced and
    // once untraced (which goes first alternates); the untraced side
    // gives the tracing overhead
    val cfg = Cdc.config(ctx.dir("replay"), tr.maxDeltas)
    val cfgUntraced = Cdc.config(ctx.dir("replay-untraced"), tr.maxDeltas)
    def process(b: DataFrame, i: Int, c: CdcPipeline.Config): Double = {
      val t0 = System.nanoTime()
      ctx.spans("streaming.process_batch")(CdcPipeline.processBatch(b, i.toLong, c))
      secs(t0)
    }
    val (times, untracedTimes) = batches.zipWithIndex.map { case (b, i) =>
      if (i % 2 == 0) { val t = process(b, i, cfg); (t, ctx.untraced(process(b, i, cfgUntraced))) }
      else { val u = ctx.untraced(process(b, i, cfgUntraced)); (process(b, i, cfg), u) }
    }.unzip
    ctx.overhead(times.sum / times.size * 1000, untracedTimes.sum / untracedTimes.size * 1000,
      nEvents / times.sum, nEvents / untracedTimes.sum)
    val t0 = System.nanoTime()
    val live = ctx.spans("sinks.mirror_scan")(scan(ctx, cfg))
    val scanS = secs(t0)
    r.metric("ingest_eps", nEvents / times.sum, "events/s")
    r.metric("streaming.batch_s_p50", median(times), "s")
    r.metric("streaming.batch_s_max", times.max, "s")
    r.metric("mirror_scan_s", scanS, "s")
    r.metric("mirror_bytes_per_row", Cdc.bytesUnder(spark, cfg.mirrorRoot).toDouble / math.max(1L, live), "B/row")
    Main.log("replay done")
    batches.foreach(_.unpersist())
    val all = inMemory(batchEvents.flatten)
    attribute(ctx, all, batchEvents.flatten.count(_.malformed))
    all.unpersist()
    Main.log("attribution done")
  }

  /** The reference's integrity query over every mirror: COUNT and
    * MAX(id) per table on a full `LogMirror.read`. Returns live rows. */
  def scan(ctx: Ctx, cfg: CdcPipeline.Config): Long =
    Cdc.tables.indices.map { t =>
      LogMirror.read(ctx.spark, Cdc.mirrorRoot(cfg, t))
        .agg(count(lit(1)), max(col(Cdc.tables(t).key))).head().getLong(0)
    }.sum

  private def attribute(ctx: Ctx, batch: DataFrame, malformedSent: Long): Unit = {
    val spark = ctx.spark
    val r = ctx.res
    val tr = ctx.traffic
    var decodeS, lpkS, mergeS, readS, compactS = 0.0
    var keysOut, eventsIn = 0L
    val root = ctx.dir("attrib")
    val nT = Cdc.tables.size
    def timed[T](span: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val out = ctx.spans(span)(f)
      (out, secs(t0))
    }
    val malformed = ctx.spans("cdc.malformed")(Cdc.malformedRows(batch))
    eventsIn = batch.count()
    (0 until nT).foreach { t =>
      val key = Seq(Cdc.tables(t).key)
      val decoded = Cdc.decode(batch, t).persist()
      decodeS += timed("cdc.decode")(decoded.count())._2
      val (n, lpk) = timed("cdc.latest_per_key")(Materialize.versionedState(decoded, key).count())
      keysOut += n; lpkS += lpk
      val mroot = s"$root/${Cdc.tables(t).name}"
      mergeS += timed("sinks.merge")(
        LogMirror.merge(spark, mroot, decoded, key, 0L, tr.maxDeltas, None))._2
      decoded.unpersist()
    }
    val written = Cdc.bytesUnder(spark, root)
    (0 until nT).foreach { t =>
      val mroot = s"$root/${Cdc.tables(t).name}"
      readS += timed("sinks.read")(LogMirror.read(spark, mroot).count())._2
      compactS += timed("sinks.compact")(LogMirror.compact(spark, mroot))._2
    }
    r.metric("cdc.decode_s", decodeS, "s")
    r.metric("cdc.latest_per_key_s", lpkS, "s")
    r.metric("cdc.collapse_ratio", keysOut.toDouble / eventsIn, "ratio")
    r.metric("cdc.malformed_rows", malformed.toDouble, "count")
    r.check("attribution_malformed_rows", malformed == malformedSent)
    r.metric("sinks.merge_s", mergeS, "s")
    r.metric("sinks.write_bytes_per_event", written.toDouble / eventsIn, "B/event")
    r.metric("sinks.read_s", readS, "s")
    r.metric("sinks.compact_s", compactS, "s")
  }
}
