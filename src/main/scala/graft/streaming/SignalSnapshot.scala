package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Debezium-style SIGNALING + ad-hoc INCREMENTAL SNAPSHOT for the
  * streaming pipeline — the streaming face of the batch
  * `cdc_incremental_snapshot` catalog query. A signal row dropped into
  * `Config.signalDir` (the same contract as Debezium's signal table:
  * `{"id":…,"type":"execute-snapshot","data":{"data-collections":[…]}}`)
  * starts a CHUNKED backfill of the named tables from their registered
  * snapshot sources, interleaved with the live change stream:
  *
  *   - one key-ordered chunk per table per trigger
  *     (`TakeOrderedAndProject` over `key > lastKey`, never a full
  *     source scan into memory);
  *   - the current batch IS the watermark window (batch processing is
  *     synchronous): chunk rows whose key also changed in this batch
  *     are DROPPED — the stream's copy is fresher (DBLog's dedup);
  *   - surviving chunk rows merge as op='r' reads versioned at the
  *     SIGNAL-TIME epoch (hw0, off0+1), where (hw0, off0) is the
  *     mirror's max (ts_ms, offset) version when the run started: they
  *     deterministically outrank every row the mirror held at signal
  *     time (stale rows get repaired, not just missing ones) while
  *     LOSING to every post-signal stream event — ts > hw0, or an
  *     equal-ts ms tie whose offset is strictly past off0. The
  *     backfill never needs to beat concurrent stream state: the
  *     stream is complete going forward from the signal, so a chunk
  *     copy that loses a version race is repaired by the very event
  *     that beat it (or a later one). Versioning chunks at the live
  *     batch clock instead (the obvious choice) silently DISCARDS any
  *     later-batch stream update that ties the run's high-water ts_ms
  *     — ms-granularity ties are common under CDC bursts. One
  *     boundary record remains genuinely ambiguous: the IMMEDIATELY
  *     NEXT stream record (offset exactly off0) arriving with ts_ms
  *     equal to hw0 ties the epoch, and the latest-per-key resolves
  *     ties arbitrarily — unavoidable with a (ts, offset)-only
  *     version (the chunk must strictly beat (hw0, off0-1), the
  *     newest signal-time row, to repair it when stale). The exposure
  *     is one record per run, and only when that record's DB change
  *     postdates the chunk read AND no later event ever touches the
  *     key; a third version component (snapshot-epoch flag) is the
  *     full fix but reorders every mirror's merge contract;
  *   - progress (lastKey per table + hw + processed signal ids)
  *     commits per batch to `_signals/state-<batchId>` exactly like a
  *     mirror manifest, so a foreachBatch REPLAY recomputes the same
  *     chunk and overwrites its own delta slot — idempotent end to end.
  *
  * Reference anchor: Debezium incremental snapshots / signaling
  * (DBLog, arXiv:2010.12597); the reference deployment's connectors
  * expose the same `execute-snapshot` signal.
  *
  * Scale note: the per-trigger chunk select is
  * `key > lastKey ORDER BY key LIMIT n` — TakeOrderedAndProject keeps
  * the DRIVER cost at O(chunk), but the scan side touches every file
  * whose key range can exceed lastKey. On a key-clustered source
  * (parquet min/max row-group stats, the bucketed/Z-ordered layouts
  * this repo writes, or a JDBC source with a key index — DBLog's
  * actual target) that is a pruned read ∝ chunk; on an unclustered
  * heap it degrades to a scan per trigger — cluster the source or
  * raise `snapshotChunkKeys` to amortize.
  */
object SignalSnapshot {

  /** (hw, off) is the run's fixed signal-time version epoch: chunk rows
    * merge at (hw, off) for the whole run. */
  final case class Progress(signal: String, table: String, lastKey: Long,
                            hw: Long, off: Long, done: Boolean)
  final case class State(processed: Set[String], active: Seq[Progress])

  /** Chunk changes per table (unwrapped-change shape, no table_name) +
    * the post-merge state commit. */
  final case class Planned(chunks: Map[String, DataFrame],
                           commit: () => Unit) {
    def chunkFor(table: String): Option[DataFrame] = chunks.get(table)
  }

  val noop: Planned = Planned(Map.empty, () => ())

  private val signalSchema = StructType(Seq(
    StructField("id", StringType),
    StructField("type", StringType),
    StructField("data", StructType(Seq(
      StructField("data-collections", ArrayType(StringType)))))))

  // ---- state persistence (the LogMirror manifest discipline:
  //      line format, tmp+rename commit, superseded-file sweep) -------

  private def stateDir(root: String) = new Path(s"$root/_signals")

  private[streaming] def readState(fs: FileSystem, root: String,
                                   beforeBatch: Long): State = {
    val dir = stateDir(root)
    if (!fs.exists(dir)) return State(Set.empty, Nil)
    val ids = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("state-")).map(_.stripPrefix("state-").toLong)
      .filter(_ < beforeBatch)
    if (ids.isEmpty) return State(Set.empty, Nil)
    val in = fs.open(new Path(dir, s"state-${ids.max}"))
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    val processed = lines.collect { case l if l.startsWith("sig:") =>
      l.stripPrefix("sig:") }.toSet
    val active = lines.collect { case l if l.startsWith("run:") =>
      l.stripPrefix("run:").split('\t') match {
        case Array(sig, table, lastKey, hw, off, done) =>
          Progress(sig, table, lastKey.toLong, hw.toLong, off.toLong,
            done.toBoolean)
        // pre-epoch state line (no off field): resume with the legacy
        // MaxValue offset rather than abandoning the run
        case Array(sig, table, lastKey, hw, done) =>
          Progress(sig, table, lastKey.toLong, hw.toLong, Long.MaxValue,
            done.toBoolean)
      }
    }
    State(processed, active)
  }

  private def writeState(fs: FileSystem, root: String, batchId: Long,
                         st: State): Unit = {
    val dir = stateDir(root)
    fs.mkdirs(dir)
    val tmp = new Path(dir, s".state-$batchId.tmp")
    val out = fs.create(tmp, true)
    try out.write((
      st.processed.toSeq.sorted.map(s => s"sig:$s") ++
        st.active.map(p =>
          s"run:${p.signal}\t${p.table}\t${p.lastKey}\t${p.hw}\t${p.off}" +
            s"\t${p.done}"))
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    val dst = new Path(dir, s"state-$batchId")
    fs.delete(dst, false) // replay recommits its own state
    if (!fs.rename(tmp, dst)) sys.error(s"signal state commit failed: $dst")
    // sweep superseded states, KEEPING the previous one: a foreachBatch
    // replay of batch N re-reads state N-1 (the newest strictly below N)
    fs.listStatus(dir).map(_.getPath)
      .filter { p =>
        val n = p.getName
        n.startsWith("state-") &&
          n.stripPrefix("state-").toLong < batchId - 1
      }
      .foreach(p => fs.delete(p, false))
  }

  // ---- per-batch planning ------------------------------------------

  /** Plan this batch's snapshot work. `batchChanges(t)` must return the
    * already-unwrapped change rows of table `t` in THIS batch (used for
    * both the watermark dedup and the hw advance); snapshot sources
    * provide the table's current truth with the payload columns of its
    * row schema. */
  def plan(spark: SparkSession, cfg: CdcPipeline.Config, batchId: Long,
           batchChanges: String => DataFrame): Planned = {
    if (cfg.signalDir.isEmpty || cfg.snapshotSources.isEmpty) return noop
    val fs = new Path(cfg.mirrorRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = readState(fs, cfg.mirrorRoot, batchId)

    // signals are tiny: read the whole dir through the engine's JSON
    // source, collect driver-side
    val sigDir = new Path(cfg.signalDir.get)
    val pending: Seq[(String, Seq[String])] =
      if (!fs.exists(sigDir)) Nil
      else spark.read.schema(signalSchema).json(cfg.signalDir.get)
        .filter(col("type") === "execute-snapshot")
        .collect().toSeq
        .map(r => (r.getString(0), Option(r.getStruct(2))
          .map(_.getSeq[String](0)).getOrElse(Nil)))
        .filter { case (id, _) => id != null && !st.processed(id) }
        .sortBy(_._1)

    val started = pending.flatMap { case (id, tables) =>
      tables.filter(cfg.snapshotSources.contains)
        .filterNot(t => st.active.exists(p => p.table == t && !p.done))
        .map { t =>
          // new runs pin the SIGNAL-TIME version epoch (hw0, off0+1):
          // the mirror's max (ts, offset) version — chunk rows then
          // outrank everything the mirror held at signal time while
          // losing to every post-signal event (offsets are monotone,
          // so even an equal-ts ms tie resolves to the stream).
          // Non-LogMirror sinks have no readable version state: epoch
          // (0, MaxValue) — backfill fills holes, never overrides
          val (hw0, off0) = cfg.mirrorSink match {
            case _: graft.sinks.LogMirrorSink =>
              val root = s"${cfg.mirrorRoot}/$t"
              if (graft.sinks.LogMirror.readManifest(fs, root).isEmpty)
                (0L, Long.MaxValue)
              else graft.sinks.LogMirror.readVersioned(spark, root)
                .agg(max(struct(col(graft.cdc.Materialize.versionTs),
                  col(graft.cdc.Materialize.versionOffset))))
                .collect()(0) match {
                  case r if r.isNullAt(0) => (0L, Long.MaxValue)
                  case r =>
                    val v = r.getStruct(0)
                    // +1 strictly outranks the newest signal-time row;
                    // clamp guards legacy MaxValue-versioned rows
                    (v.getLong(0),
                      math.min(v.getLong(1), Long.MaxValue - 1) + 1)
                }
            case _ => (0L, Long.MaxValue)
          }
          Progress(id, t, Long.MinValue, hw0, off0, done = false)
        }
    }
      // two same-batch signals naming one table must start ONE run —
      // the committed-state filter above only sees PRIOR batches; the
      // first signal id (pending is id-sorted) claims the table
      .distinctBy(_.table)
    val nowProcessed = st.processed ++ pending.map(_._1)
    val active = st.active.filterNot(_.done) ++ started
    if (active.isEmpty) {
      return Planned(Map.empty, () =>
        if (pending.nonEmpty || st.active.exists(_.done))
          writeState(fs, cfg.mirrorRoot, batchId,
            State(nowProcessed, Nil)))
    }

    val persisted =
      new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    val results = active.map { pr =>
      val spec = cfg.specFor(pr.table)
      require(spec.keyCols.size == 1,
        s"incremental snapshot chunks need a single key column; " +
          s"${pr.table} has ${spec.keyCols}")
      val keyCol = spec.keyCols.head
      val src = cfg.snapshotSources(pr.table)()
      val chunk = src.filter(col(keyCol) > pr.lastKey)
        .orderBy(col(keyCol)).limit(cfg.snapshotChunkKeys).persist()
      persisted.add(chunk)
      // progress keys are tracked as long — cast integral key types up
      // front (an IntegerType key would otherwise throw on getLong and
      // crash-loop processBatch on every trigger)
      val stats =
        chunk.agg(count(lit(1)), max(col(keyCol).cast("long"))).collect()(0)
      val n = stats.getLong(0)
      val batch = batchChanges(pr.table)
      // DBLog dedup: this batch is the watermark window
      val deduped = chunk.join(
        batch.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
      val payload = spec.rowSchema.fieldNames.toSeq
      val changes = deduped.select(
        Seq(lit("graft-snapshot").as("topic"),
          lit(0).as("partition"),
          lit(pr.off).as("offset"),
          lit("r").as("op"),
          lit(pr.hw).as("ts_ms")) ++ payload.map(col): _*)
      val next =
        if (n < cfg.snapshotChunkKeys)
          pr.copy(done = true,
            lastKey = if (n == 0) pr.lastKey else stats.getLong(1))
        else pr.copy(lastKey = stats.getLong(1))
      (pr.table, changes, next)
    }
    Planned(
      results.map(r => r._1 -> r._2).toMap,
      () => {
        writeState(fs, cfg.mirrorRoot, batchId,
          State(nowProcessed, results.map(_._3)))
        persisted.forEach(_.unpersist())
      })
  }
}
