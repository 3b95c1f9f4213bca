package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DataType, DecimalType, StructField, StructType}

import graft.cdc.Envelope
import graft.sinks.{ChangefeedConsumer, LogMirror}

/** The CDC replication pipeline as a Structured Streaming job — the
  * Spark-native equivalent of the reference's Kafka Connect sink chain
  * (EP1): envelope stream → route → one parse over the union of the
  * tables' registered row schemas → DLQ split → unwrap → upsert-merge
  * into current-state mirrors.
  *
  * Semantics carried over from the reference:
  *   - at-least-once delivery + idempotent keyed merge = effectively-once
  *     (register-postgres-sink.json:15 upsert is the idempotency
  *     mechanism; our checkpoint replaces Connect's offset topics);
  *   - micro-batch trigger ≈ `linger.ms: 500`
  *     (register-postgres-sink.json:7);
  *   - poison records never stall the stream: malformed envelopes AND
  *     records on unroutable topics land in the DLQ table
  *     (errors.tolerance=all + DLQ topic, register-postgres-sink.json:18-21);
  *   - additive schema evolution on the mirrors (auto.evolve=true,
  *     register-postgres-sink.json:14): update the TableSpec registry and
  *     the merge backfills nulls.
  *
  * Scale design: the per-batch merge is one latest-per-key pass keyed by
  * PK per table group ([[graft.plans.LatestPerKey]]), and the default sink ([[graft.sinks.LogMirrorSink]])
  * writes only the batch's delta segment, so shuffle and write volume
  * are bounded by batch size, not mirror size. A Delta/Iceberg MERGE (or
  * JDBC upsert, matching the reference) plugs in through the
  * [[graft.sinks.MirrorSink]] trait — the batch-side plan is identical,
  * only the sink swaps, so the merge logic stays shared with
  * [[graft.cdc.Materialize]].
  */
object CdcPipeline {

  // bounded pool for concurrent per-table parse+merge jobs
  // (scheduler-level parallelism; the work itself runs on executors)
  // 16 ≥ the reference's 9-table topology, so one batch's merges all
  // submit at once; threads are driver-side job submitters only
  private lazy val mergeEc = scala.concurrent.ExecutionContext.fromExecutor(
    java.util.concurrent.Executors.newFixedThreadPool(16, r => {
      val th = new Thread(r, "graft-merge")
      th.setDaemon(true)
      th
    }))

  /** Per-table registration: envelope row schema + primary key — the
    * engine analog of the reference's per-table sink declarations. */
  final case class TableSpec(rowSchema: StructType, keyCols: Seq[String])

  /** A maintained aggregate view: per-group COUNT/SUM/MIN/MAX and
    * HLL-distinct state over one table's change stream, updated
    * incrementally per batch (see [[IncrementalAgg]]). */
  final case class AggView(table: String, spec: IncrementalAgg.Spec)

  /** Table-grain expectation riding an agg view: after each batch the
    * view's O(groups) state rolls up to ONE stats row (`n_rows`,
    * `sum_*`, `max_*`, `min_*`) — never a mirror rescan — and `rules`
    * are evaluated against it, optionally next to `ref_n_rows`/
    * `ref_max_*` from a `reference` source-of-truth frame. This is the
    * reference's MAX(id)-parity integrity check
    * (cdc_data_integrity_dynamic_dag.py:48-60) as a continuous
    * expectation instead of a cron. */
  final case class TableExpectation(
      rules: Seq[graft.operators.Expectations.Rule],
      reference: Option[SparkSession => DataFrame] = None)

  /** @param rowSchema   default row schema (tables without an override)
    * @param keyCols     default primary-key columns
    * @param tableSpecs  per-table overrides (schema registry)
    * @param aggViews    maintained aggregate views by name; each batch
    *   folds its deltas into the view state (O(touched groups), never a
    *   mirror rescan). The state is a [[graft.sinks.LogMirror]] at
    *   `<mirrorRoot>/_views/<name>` whose manifest version is the last
    *   batch id applied, so a foreachBatch replay is skipped.
    * @param sinkOverride plug in any [[graft.sinks.MirrorSink]] — the
    *   adapter point for transactional table formats (a Delta/Iceberg
    *   MERGE sink implements the trait; the pipeline is unchanged).
    *   Unset, mirrors are [[graft.sinks.LogMirrorSink]]`()`; set it to a
    *   LogMirrorSink to choose `maxDeltas` or a bucketed base. */
  final case class Config(
      rowSchema: StructType,
      keyCols: Seq[String],
      mirrorRoot: String,
      dlqDir: String,
      checkpointDir: String,
      triggerMs: Long = 500L,
      tableSpecs: Map[String, TableSpec] = Map.empty,
      aggViews: Map[String, AggView] = Map.empty,
      sinkOverride: Option[graft.sinks.MirrorSink] = None,
      expectations: Map[String, Seq[graft.operators.Expectations.Rule]] =
        Map.empty,
      quarantineDir: Option[String] = None,
      tableExpectations: Map[String, TableExpectation] = Map.empty,
      consistentSnapshots: Boolean = false,
      // Debezium-style signaling: a dir of execute-snapshot signal
      // JSON rows + per-table snapshot sources (the table's current
      // truth) drive chunked ad-hoc backfills — see SignalSnapshot
      signalDir: Option[String] = None,
      snapshotSources: Map[String, () => DataFrame] = Map.empty,
      snapshotChunkKeys: Int = 4096) {
    require(!consistentSnapshots ||
      mirrorSink.isInstanceOf[graft.sinks.LogMirrorSink],
      "consistentSnapshots pin LogMirror versions (readAsOf) — they " +
        "require the LogMirrorSink")
    require(expectations.values.forall(_.isEmpty) || quarantineDir.isDefined,
      "expectations require quarantineDir")
    require(tableExpectations.isEmpty || quarantineDir.isDefined,
      "tableExpectations require quarantineDir")
    require(tableExpectations.keySet.subsetOf(aggViews.keySet),
      "tableExpectations are keyed by agg-view name (the stats ride the " +
        "view's delta path) — register the view first")
    def specFor(table: String): TableSpec =
      tableSpecs.getOrElse(table, TableSpec(rowSchema, keyCols))
    def mirrorSink: graft.sinks.MirrorSink =
      sinkOverride.getOrElse(graft.sinks.LogMirrorSink())
  }

  /** Per-stage wall seconds of one processBatch call, its return value.
    * The clock always runs: it is a `nanoTime` read between stages of
    * the production plan, with no extra job. The parse caches fill
    * lazily inside the merge jobs, so parsing is charged to `merge`;
    * `dlq` is the await residue of the DLQ job that overlaps the
    * merges. */
  final case class StageTimings(
      route: Double, merge: Double, views: Double, snapshot: Double,
      dlq: Double) {
    def total: Double = route + merge + views + snapshot + dlq
  }

  /** Start the pipeline on a streaming DataFrame of Kafka-shaped records
    * (topic, key, value, partition, offset) — from
    * `spark.readStream.format("kafka")` in production, MemoryStream in
    * tests. Whether each micro-batch's routed frame is persisted is
    * decided here, once, from the source: `foreachBatch` hands every
    * micro-batch over as an RDD-backed relation, whatever the source,
    * so the batch's own plan cannot tell a broker read from an
    * in-memory one (see [[rereadIsStable]]). */
  def start(records: DataFrame, cfg: Config): StreamingQuery = {
    val persistRouted = !rereadIsStable(records)
    records.writeStream
      .queryName("cdc-replication")
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(Trigger.ProcessingTime(cfg.triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, cfg, persistRouted); ()
      }
      .start()
  }

  /** [[processBatch]] with the persist decision read off `batch`'s own
    * plan: the entry point for batches built outside [[start]]. */
  def processBatch(batch: DataFrame, batchId: Long,
                   cfg: Config): StageTimings =
    processBatch(batch, batchId, cfg, !rereadIsStable(batch))

  /** One micro-batch, planned as one group however many row schemas
    * its tables have: route → ONE envelope parse over the union of the
    * batch's registered row schemas (see [[parseGroups]]), cached once
    * → ONE group merge for every LogMirror table without expectations
    * (one latest-per-key pass and one partitioned write, see
    * [[graft.sinks.LogMirror.mergeGroup]]) → one consolidated DLQ probe
    * and append. Expectation-gated tables, non-LogMirror sinks, agg
    * views and signal-snapshot chunks read the same parse, cut to their
    * table's own columns ([[Envelope.narrow]]). Tables whose same-named
    * columns differ in type parse and merge as separate groups through
    * the same code; otherwise the batch's job count does not depend on
    * how many schemas its tables have. Runs on the driver but every
    * DataFrame op is distributed; the only driver-side data is the list
    * of table names present in the batch (≤ #tables).
    *
    * `persistRouted` caches the routed batch for the stats pass and the
    * parse-cache fill: set it when re-reading the source is expensive
    * or unstable (a broker). Returns the batch's [[StageTimings]]. */
  def processBatch(batch: DataFrame, batchId: Long, cfg: Config,
                   persistRouted: Boolean): StageTimings = {
    val spark = batch.sparkSession
    val t0 = System.nanoTime()
    def secsSince(t: Long) = (System.nanoTime() - t) / 1e9
    // Without the persist, the clean-path batch is read at most twice
    // (table stats + parse-cache fill): for a cheap, byte-stable source
    // the columnar cache of the full payload costs MORE than that
    // re-read (~1 s per 271k-event batch, measured — it dominated the
    // route stage).
    val routed0 = batch
      .withColumn("table_name", Envelope.route(col("topic")))
    val routed = if (persistRouted) routed0.persist() else routed0
    try {
      // one pass yields the table list plus the unroutable flag (and,
      // when caching is on, fills the route cache) — the DLQ stage
      // below then never has to rescan `routed` to learn whether any
      // topic routed nowhere
      val tstats = routed.groupBy(col("table_name")).count().collect()
      val tables = tstats.map(_.getString(0)).filter(_ != "").toSeq.sorted
      val hasUnroutable = tstats.exists(_.getString(0) == "")
      val tRoute = secsSince(t0)

      // the well-formed bit is materialized INTO the cache: the
      // clean-batch DLQ probe below then skips every cached batch via
      // the boolean's min/max batch stats instead of decompressing
      // value+env for all rows to find nothing (measured ~30% of batch
      // wall before), and the merge filters read one boolean instead of
      // re-evaluating the predicate
      def parseAs(raw: DataFrame, schema: StructType): DataFrame =
        Envelope.parse(raw, schema)
          .withColumn("_wf", Envelope.isWellFormed.cast("int"))
      val parsedGroups = parseGroups(tables, cfg).map { case (ts, schema) =>
        ts -> parseAs(routed.filter(col("table_name").isin(ts: _*)), schema)
          .persist()
      }
      val parses = parsedGroups.map(_._2)
      val parsedOf = parsedGroups.flatMap { case (ts, p) => ts.map(_ -> p) }.toMap
      // a table's rows of this batch, shaped as a parse with its own row
      // schema (an empty parse for a table absent from the batch)
      def ownParse(t: String): DataFrame = {
        val rowSchema = cfg.specFor(t).rowSchema
        parsedOf.get(t).fold(parseAs(routed.filter(lit(false)), rowSchema))(p =>
          Envelope.narrow(p.filter(col("table_name") === t), rowSchema))
      }
      def ownChanges(t: String): DataFrame = Envelope.unwrap(
        ownParse(t).filter(col("_wf") === 1), cfg.specFor(t).keyCols)

      // Signal-driven incremental snapshots: plan this batch's chunk
      // per active table (DBLog dedup against THIS batch's changes);
      // chunks for tables also present in the batch ride the table's
      // regular merge below, idle tables merge their chunk alone.
      val snapPlan =
        if (cfg.signalDir.isEmpty) SignalSnapshot.noop
        else SignalSnapshot.plan(spark, cfg, batchId, ownChanges)
      try {
        // Merges are submitted concurrently: each is an independent Spark
        // job, so many small per-table batches don't serialize on the
        // driver (the reference is single-threaded here, tasks.max=1).
        // The LogMirror tables of a parse group merge in ONE job — one
        // (table, masked key)-keyed latest-per-key + one partitioned
        // write for the whole group instead of a shuffle + write +
        // commit per table (the reference's 9-table fan-out is exactly
        // this regime).
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        implicit val ec: ExecutionContext = mergeEc
        // mergeFor maps each table to the future completing its mirror
        // merge — view updates with max maintenance sequence on it (the
        // dirty-group recompute must read the POST-batch mirror)
        // Log mirrors take the group-merge fast path (a layout-specific
        // optimization); every other sink merges per table through the
        // MirrorSink interface.
        val groupSink = cfg.mirrorSink match {
          case s: graft.sinks.LogMirrorSink => Some(s)
          case _ => None
        }
        // each viewed table's mirror version BEFORE this batch's merges
        // (read before the futures below start): a view at that version
        // has folded every change the mirror holds (updateAggView)
        val priorVersion = cfg.aggViews.values.map(_.table).toSeq.distinct
          .filter(tables.contains).map(t =>
            t -> cfg.mirrorSink.lastBatchId(spark, s"${cfg.mirrorRoot}/$t")).toMap
        // Row-level expectations: violating CHANGE rows (deletes exempt
        // — removing a bad row is always clean) are quarantined to a
        // typed side table with their rule names and excluded from the
        // merge. Gated tables take the per-table path so the group-merge
        // fast path stays rule-free. The quarantine write is idempotent
        // under foreachBatch replay: rows are stamped with the batch id
        // and written into their `_batch_id=` partition with DYNAMIC
        // partition overwrite, so a replayed batch overwrites its own
        // partition instead of appending duplicates (the agg views skip
        // a replay by their state's manifest version instead).
        def gatedMerge(t: String, unwrapped: DataFrame,
                       rules: Seq[graft.operators.Expectations.Rule]): Unit = {
          // annotate once, persist once: the bad-row probe, the
          // quarantine write and the merge all reuse one evaluation of
          // the parse→wellFormed→unwrap lineage
          val ann = graft.operators.Expectations.annotate(unwrapped, rules)
            .persist()
          try {
            val isBad = col("op") =!= "d" && size(col("_violations")) > 0
            val bad = ann.filter(isBad)
            if (!bad.isEmpty) bad
              .withColumn("_batch_id", lit(batchId))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("_batch_id")
              .parquet(s"${cfg.quarantineDir.get}/$t")
            cfg.mirrorSink.merge(spark, s"${cfg.mirrorRoot}/$t",
              ann.filter(!isBad).drop("_violations"), cfg.specFor(t).keyCols,
              batchId)
          } finally ann.unpersist()
        }
        def perTableJob(t: String): Future[Unit] = Future {
          val spec = cfg.specFor(t)
          // snapshot chunk rides the table's own merge (same delta,
          // same commit — atomic and replay-idempotent with the batch)
          val base = ownChanges(t)
          val unwrapped = snapPlan.chunkFor(t)
            .map(base.unionByName(_)).getOrElse(base)
          cfg.expectations.get(t).filter(_.nonEmpty) match {
            case None => cfg.mirrorSink.merge(spark, s"${cfg.mirrorRoot}/$t",
              unwrapped, spec.keyCols, batchId)
            case Some(rules) => gatedMerge(t, unwrapped, rules)
          }
        }
        def hasRules(t: String) =
          cfg.expectations.get(t).exists(_.nonEmpty)
        val jobsWithTables: Seq[(Seq[String], Future[Unit])] =
          parsedGroups.flatMap { case (ts, parsed) =>
            val (perTable, fast) = groupSink match {
              case None => (ts, Nil)
              case Some(_) => ts.partition(hasRules)
            }
            perTable.map(t => Seq(t) -> perTableJob(t)) ++
              Option.when(fast.nonEmpty)(fast -> Future {
                mergeGroupIntoLogMirrors(spark, parsed, fast, cfg,
                  groupSink.get, batchId, snapPlan)
              })
          }
        // active snapshot tables with NO events this batch still make
        // chunk progress: their chunk merges alone (manifest ids still
        // advance — the table had no merge this batch)
        val idleSnapJobs = (snapPlan.chunks.keySet -- tables.toSet)
          .toSeq.sorted.map { t =>
            Future {
              cfg.mirrorSink.merge(spark, s"${cfg.mirrorRoot}/$t",
                snapPlan.chunks(t), cfg.specFor(t).keyCols, batchId)
            }
          }
        val jobs = jobsWithTables.map(_._2) ++ idleSnapJobs
        val mergeFor: Map[String, Future[Unit]] =
          jobsWithTables.flatMap { case (ts, f) => ts.map(_ -> f) }.toMap
        // Maintained aggregate views ride the same batch: deltas come
        // from the already-parsed frame, so a view costs one extra
        // aggregation per batch, not a reparse. Each runs AFTER its
        // table's merge (max recompute reads the post-batch mirror)
        // but CONCURRENTLY with its sibling views (independent chained
        // futures). Extrema views of one table additionally SHARE one
        // lazily-cached post-merge mirror read: a views sweep (with the
        // since-removed StreamSweep dev main) measured the per-view
        // mirror reconcile as the dominant multi-view cost (drain 36k ->
        // 8k ev/s from 1 to 4 views when every extrema view
        // re-reconciled the log mirror itself).
        val sharedMirrors =
          new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
        val viewJobs = cfg.aggViews.toSeq
          .filter { case (_, v) => tables.contains(v.table) }
          .groupBy(_._2.table).toSeq.flatMap { case (table, vs) =>
            lazy val shared: DataFrame = { // thread-safe lazy init
              val m = mirror(spark, cfg, table).persist()
              sharedMirrors.add(m)
              m
            }
            vs.map { case (name, v) =>
              mergeFor(table).map { _ =>
                updateAggView(spark, name, ownParse(table), v, batchId, cfg,
                  priorVersion(table), snapPlan.chunkFor(table).isDefined,
                  () => shared)
                cfg.tableExpectations.get(name).foreach(te =>
                  checkTableExpectations(spark, name, v, te, batchId, cfg))
              }
            }
          }
        // Consolidated DLQ probe + append, OVERLAPPED with the merges
        // (spark_optimization_guide §2.6 — overlap independent jobs):
        // the probe depends only on the parse caches and the route
        // rollup, never on a merge, so running it as one more
        // concurrent job back-fills executor slots in the merge
        // stage's straggler tail instead of adding a sequential stage
        // at the end (measured 0.5-0.9 s/batch as a tail stage).
        // Submitted AFTER the merge futures so FIFO scheduling gives
        // the merges first claim on task slots. Replay semantics are
        // unchanged: the DLQ append was always at-least-once under
        // foreachBatch replay (the checkpoint commits only after the
        // whole batch returns), so ordering it before the merges
        // finish loses nothing.
        //
        // The emptiness probe itself is ONE aggregation job (min over
        // the materialized _wf ints of every parse cache) instead of a
        // take(1) over a filter — take's limit-escalation runs up to
        // four sequential jobs (1, 4, 16, then all cache partitions) to
        // conclude a clean batch has nothing, paying scheduler latency
        // four times; the min-agg answers in one cached columnar pass.
        val dlqJob: Future[Unit] = Future {
          val hasMalformed = hasUnroutable || parses.nonEmpty &&
            parses.map(_.select(col("_wf"))).reduce(_ union _)
              .agg(coalesce(min(col("_wf")), lit(1))).head().getInt(0) == 0
          if (hasMalformed) {
            val unroutable = routed.filter(col("table_name") === "")
              .select(col("value").cast("string").as("payload_json"))
            val dlqAll = parses
              .map(p => p.filter(col("_wf") === 0)
                .select(col("value").cast("string").as("payload_json")))
              .foldLeft(unroutable)(_ unionByName _)
            // poison records are a trickle by contract (errors.tolerance=
            // all quarantines stragglers, not the firehose): one writer
            // task per batch instead of #cache-partitions near-empty
            // files — bounded by the trigger's own batch cap
            dlqAll.repartition(1).write.mode("append").parquet(cfg.dlqDir)
          }
        }
        // No future may outlive the batch: if a merge/view await below
        // throws, the exception propagates past the unpersist finallys
        // while sibling merges, views and the DLQ job could still be
        // writing to mirror roots, view state and cfg.dlqDir — and the
        // replayed batch would then race them (a sibling committing
        // after the replay's merge, or two DLQ appends colliding in the
        // shared _temporary staging dir). Await.ready in the finally
        // joins every future without masking the propagating exception
        // (each failure already lands via its Await.result on the
        // success path), and only then releases the shared mirror
        // caches the views read.
        try {
          jobs.foreach(Await.result(_, Duration.Inf))
          // snapshot progress commits once every chunk landed; a replay
          // re-reads the PREVIOUS state and recomputes the same chunks
          snapPlan.commit()
          val tMerge = secsSince(t0)
          viewJobs.foreach(Await.result(_, Duration.Inf))
          val tViews = secsSince(t0)

          // Cross-table consistency cut: AFTER every table's merge landed,
          // pin the batch as one atomic snapshot (SnapshotCatalog) —
          // snapshot readers can never observe table A at batch N joined
          // with table B at N-1, and a crash anywhere above leaves the
          // previous complete snapshot in place (replays recommit the
          // same id idempotently).
          if (cfg.consistentSnapshots)
            graft.sinks.SnapshotCatalog.commit(spark, cfg.mirrorRoot, batchId,
              tables)
          val tSnap = secsSince(t0)

          // DLQ join point: malformed envelopes from every table +
          // records whose topic routes nowhere
          // (register-dlq-sink.json:16-17). The probe and any append ran
          // concurrently with the merges above; clean batches still skip
          // the write entirely (the probe reads the cached _wf ints —
          // or, if it wins the race to a not-yet-filled parse cache,
          // fills it first, sharing the work with the merges through the
          // cache's block locks; the unroutable side was answered by the
          // route-stage rollup). No per-trigger parquet commit pollutes
          // the DLQ dir on a long-running stream. The `dlq` stage timing
          // is the await RESIDUE — near zero whenever the probe
          // finished inside the merge window.
          Await.result(dlqJob, Duration.Inf)
          StageTimings(route = tRoute, merge = tMerge - tRoute,
            views = tViews - tMerge, snapshot = tSnap - tViews,
            dlq = secsSince(t0) - tSnap)
        } finally {
          (jobs ++ viewJobs :+ dlqJob).foreach(Await.ready(_, Duration.Inf))
          sharedMirrors.forEach(_.unpersist())
        }
      } finally parses.foreach(_.unpersist())
    } finally if (persistRouted) { routed.unpersist(); () }
  }

  /** The batch's tables grouped to share one envelope parse, each group
    * with the union of its members' row schemas (first-seen column
    * order, every field nullable). A table joins the first group in
    * which every column name it shares has the same type as its own
    * (nullability aside); the reference's nine tables form one group. A
    * table whose same-named column differs in type — a conflict, or
    * even a widening (`SchemaEvolution.widensTo`): one shared column
    * would pin the narrower table's mirror at the wider type — parses
    * in a group of its own. */
  private[streaming] def parseGroups(tables: Seq[String],
      cfg: Config): Seq[(Seq[String], StructType)] = {
    def sameType(a: DataType, b: DataType) =
      StructType(Seq(StructField("c", a))).toNullable ==
        StructType(Seq(StructField("c", b))).toNullable
    tables.foldLeft(Vector.empty[(Seq[String], StructType)]) { (groups, t) =>
      val row = cfg.specFor(t).rowSchema
      groups.indexWhere { case (_, union) =>
        row.forall(f => union.find(_.name == f.name)
          .forall(u => sameType(u.dataType, f.dataType)))
      } match {
        case -1 => groups :+ (Seq(t) -> row.toNullable)
        case i =>
          val (ts, union) = groups(i)
          groups.updated(i, (ts :+ t) -> StructType(union ++
            row.filterNot(f => union.fieldNames.contains(f.name))).toNullable)
      }
    }
  }

  /** True when re-evaluating `df` is cheap AND deterministic: every
    * leaf of its analyzed plan is a local in-memory relation, an
    * RDD-backed relation (a `foreachBatch` micro-batch), a file-snapshot
    * relation (parquet/csv/... fixtures — a re-read returns the same
    * bytes), or, for a streaming frame, a MemoryStream or file source.
    * Anything else — Kafka/rate/JDBC/DSv2 external relations — is
    * treated as expensive/unstable, so the routed batch gets persisted
    * to guarantee the stats pass and the merge/DLQ passes observe the
    * SAME data. The analyzed plan, not the parsed one: a
    * `spark.read.parquet` frame's parsed leaf is an unresolved data
    * source, which only analysis turns into the file relation. */
  private[streaming] def rereadIsStable(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation.isInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
      case s: org.apache.spark.sql.catalyst.streaming.StreamingRelationV2 =>
        s.table.getClass.getSimpleName == "MemoryStreamTable"
      case s: org.apache.spark.sql.execution.streaming.runtime.StreamingRelation =>
        classOf[org.apache.spark.sql.execution.datasources.FileFormat]
          .isAssignableFrom(s.dataSource.providingClass)
      case leaf =>
        val n = leaf.getClass.getSimpleName
        n == "LogicalRDD" || n == "OneRowRelation"
    }

  /** Group merge for the LogMirror tables `ts` of one parse group: one
    * latest-per-key job + one partitioned write lands every table's
    * delta segment (see [[graft.sinks.LogMirror.mergeGroup]]), each
    * table keyed by its own key columns and committing its own row
    * schema — steady-state job count O(1) in the table count, write
    * bytes still ∝ batch. */
  private def mergeGroupIntoLogMirrors(spark: SparkSession,
                                       parsed: DataFrame, ts: Seq[String],
                                       cfg: Config,
                                       sink: graft.sinks.LogMirrorSink,
                                       batchId: Long,
                                       snap: SignalSnapshot.Planned): Unit = {
    val members = ts.map { t =>
      val spec = cfg.specFor(t)
      graft.sinks.LogMirror.GroupTable(t, spec.keyCols,
        spec.rowSchema.fieldNames.toSeq)
    }
    // columns only tables outside `ts` register stay out of the write
    val rowCols = members.flatMap(_.columns).toSet
    val foreign = parsed.select(col("env.payload.after.*")).columns
      .filterNot(rowCols)
    // unwrapping with every key column of the group backfills each from
    // the record key when the after-image lacks it (deletes); a
    // Debezium record key carries only its own table's key fields
    val changes0 = Envelope.unwrap(
      parsed.filter(col("table_name").isin(ts: _*) && col("_wf") === 1),
      members.flatMap(_.keyCols).distinct)
      .drop(foreign.toSeq: _*)
      .withColumn("table_name", Envelope.route(col("topic")))
    // snapshot chunks join the group's change set with an EXPLICIT
    // table_name (their synthetic topic routes nowhere)
    val changes = ts.flatMap(t => snap.chunkFor(t)
        .map(_.withColumn("table_name", lit(t))))
      .foldLeft(changes0)(_.unionByName(_, allowMissingColumns = true))
    graft.sinks.LogMirror.mergeGroup(spark, cfg.mirrorRoot, changes, members,
      batchId, sink.maxDeltas, sink.bucketCount)
  }

  /** Where a maintained view's state lives: a [[LogMirror]] keyed by
    * the view's groups (`spec.allGroupCols`). */
  private[graft] def viewRoot(cfg: Config, name: String): String =
    s"${cfg.mirrorRoot}/_views/$name"

  /** Rolling delta depth of a view's state mirror (its fold cadence). */
  private val viewMaxDeltas = 16

  /** Fold one batch's deltas into a maintained view's state, a
    * [[LogMirror]] whose manifest version is the last batch id the view
    * applied. Delta application is not idempotent, so a replayed batch
    * (foreachBatch restart) at or below that version is skipped. The
    * batch lands as ONE merge at `batchId`: each touched group's folded
    * row, or a tombstone once its count reaches 0. `priorVersion` is
    * the table mirror's version before this batch's merges. */
  private def updateAggView(spark: SparkSession, name: String,
      parsed: DataFrame, view: AggView, batchId: Long, cfg: Config,
      priorVersion: Option[Long], withChunk: Boolean,
      sharedMirror: () => DataFrame): Unit = {
    val root = viewRoot(cfg, name)
    val upto = LogMirror.currentVersion(spark, root)
    if (upto.exists(_ >= batchId)) return // replayed batch: already applied
    val groups = view.spec.allGroupCols
    // the fold's state read, dirty probe and write would otherwise
    // evaluate the delta and the candidate fold more than once per
    // batch — measured as the dominant per-view trigger cost (a views
    // sweep with the since-removed StreamSweep dev main)
    val cached = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    def cacheBatch(df: DataFrame): DataFrame = {
      val p = df.persist(); cached.add(p); p
    }
    // the state holds every earlier change of the table when it applied
    // the previous batch, or when the mirror has not moved since the
    // batch it applied (the table was absent from the batches between)
    val folds = (upto.getOrElse(-1L) == batchId - 1 ||
      upto.exists(priorVersion.contains)) && !withChunk && !retractsUnseen(parsed)
    try {
      // (upserts, tombstones) of the view's groups
      val (live, dead) =
        if (folds) {
          val delta = cacheBatch(IncrementalAgg.deltas(parsed, view.spec))
          val touched = delta.select(groups.map(col): _*)
          val state =
            if (upto.isEmpty) delta.limit(0) // empty-state merge, NOT a
            // bare filter: a within-batch insert+delete of a group's max
            // row must already trigger the dirty recompute
            else {
              val st = LogMirror.read(spark, root)
              st.join(broadcast(touched),
                ChangefeedConsumer.nullSafeOn(st, touched, groups), "left_semi")
            }
          // max maintenance recomputes dirty groups from the POST-batch
          // mirror (this view job is sequenced after the table's merge);
          // the mirror read is the batch-shared cached one. Every touched
          // group also gets a tombstone, which the merge's latest-per-key
          // drops wherever the group's folded row (later offset) survives
          (IncrementalAgg.merge(state, delta, view.spec, Some(sharedMirror),
            cacheBatch), touched)
        } else {
          // REBUILD from the post-batch mirror (correct by construction)
          // when folding this batch's delta cannot reach it:
          //   - a GAP: the mirror committed batches this view did not
          //     fold (registered mid-stream, a pipeline run whose config
          //     omitted it, a snapshot chunk merged into the idle table)
          //     — folding only this batch would bake them out of the
          //     state forever (the MvCatalog freshness check compares
          //     versions, so a lagging view stays out of query rewrites
          //     until this runs);
          //   - a snapshot chunk riding this batch's merge: its rows
          //     reach the mirror without a delta;
          //   - a delete without a before image: the delta retracts only
          //     through `before`, so the deleted row would stay counted.
          // Groups the mirror no longer holds tombstone, as in the
          // rollup view's resnapshot. `distinctCols` sketches degrade to
          // current-row distincts here
          val fresh = cacheBatch(IncrementalAgg.rebuild(sharedMirror(), view.spec))
          (fresh, ChangefeedConsumer.staleKeys(spark, root, groups, fresh))
        }
      val changes = live.withColumn("op", lit("c")).withColumn("offset", lit(1L))
        .unionByName(dead.withColumn("op", lit("d")).withColumn("offset", lit(0L)),
          allowMissingColumns = true)
      // a commit keeps each column's type, and a decimal sum's precision
      // grows with every fold: store decimals at the widest precision
      val stable = changes.select(changes.schema.map(f => f.dataType match {
        case d: DecimalType => col(f.name).cast(DecimalType(38, d.scale)).as(f.name)
        case _ => col(f.name)
      }): _*)
      LogMirror.merge(spark, root, stable.withColumn("ts_ms", lit(batchId)),
        groups, batchId, viewMaxDeltas, bucketCount = None)
    } finally cached.forEach(_.unpersist())
  }

  /** Whether `parsed` holds a delete an agg-view delta cannot retract:
    * op='d' with a value but no before image. A Kafka tombstone (null
    * value) does not count: it deletes only a key with no other record,
    * which no view counted. */
  private def retractsUnseen(parsed: DataFrame): Boolean =
    !parsed.filter(col("env.payload.op") === "d" &&
      col("env.payload.before").isNull).isEmpty

  /** Evaluate a view's table-grain expectations after its batch update:
    * the O(groups) view state rolls up to one stats row, rules run
    * against it (× the reference stats when declared), and failed rules
    * land as one quarantine row per batch under
    * `quarantineDir/_table/<view>` — batch-partitioned with dynamic
    * overwrite, so foreachBatch replays overwrite their own partition
    * (same idempotence as the row-level quarantine). Cost per batch:
    * one O(groups) rollup + (with a reference) one stats-only scan of
    * the reference — the reference probe is MAX(pk)/COUNT, which
    * parquet serves from footer statistics. */
  private def checkTableExpectations(spark: SparkSession, name: String,
      view: AggView, te: TableExpectation, batchId: Long,
      cfg: Config): Unit = {
    val spec = view.spec
    val state = aggView(spark, cfg, name)
    val aggs = sum(col("n_rows")).as("n_rows") +:
      (spec.sumCols.map(c => sum(col(s"sum_$c")).as(s"sum_$c")) ++
        spec.maxCols.map(c => max(col(s"max_$c")).as(s"max_$c")) ++
        spec.minCols.map(c => min(col(s"min_$c")).as(s"min_$c")))
    val sink = state.agg(aggs.head, aggs.tail: _*)
    val full = te.reference match {
      case Some(f) => sink.crossJoin(graft.operators.Expectations
        .tableStats(f(spark), spec.maxCols, prefix = "ref_"))
      case None => sink
    }
    val bad = graft.operators.Expectations.annotate(full, te.rules)
      .filter(size(col("_violations")) > 0)
    if (!bad.isEmpty) bad
      .withColumn("_batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("_batch_id")
      .parquet(s"${cfg.quarantineDir.get}/_table/$name")
  }

  /** Recorded table-grain expectation violations for a view: one row
    * per (batch, failed-rule-set) with the stats the rules saw. Empty
    * when the view has never violated. Feed these to the alert fan-in
    * the same way health rows go — each row is a fired condition. */
  def tableViolations(spark: SparkSession, cfg: Config,
                      name: String): DataFrame = {
    val dir = new Path(s"${cfg.quarantineDir.get}/_table/$name")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) spark.read.parquet(dir.toString)
    else spark.emptyDataFrame
  }

  /** Table-grain violations as dispatchable alerts — one per
    * (batch, rule), keyed so [[AlertDispatcher]] delivers each fired
    * condition exactly once across repeated dispatches (the same
    * fan-in path the probe and query-health alerts ride). */
  def tableViolationAlerts(spark: SparkSession, cfg: Config,
                           name: String): Seq[AlertSink.Alert] = {
    val v = tableViolations(spark, cfg, name)
    if (v.columns.isEmpty) return Seq.empty
    // _batch_id is a partition column — read back inferred as int
    v.select(col("_batch_id").cast("long"), explode(col("_violations")).as("rule"))
      .collect().map { r =>
        val b = r.getLong(0)
        val rule = r.getString(1)
        AlertSink.Alert(s"texp:$name:$b:$rule", "error",
          s"table expectation $rule failed for view $name",
          s"batch $b violated table-grain rule '$rule' " +
            s"(stats row quarantined under _table/$name)")
      }.toSeq
  }

  /** Read a maintained aggregate view's current state (with derived
    * `avg_*` columns and, for `distinctCols`, `distinct_*` estimates in
    * place of the raw sketch binaries). */
  def aggView(spark: SparkSession, cfg: Config, name: String): DataFrame = {
    val spec = cfg.aggViews(name).spec
    IncrementalAgg.withDistinctEstimates(
      IncrementalAgg.withAverages(
        LogMirror.read(spark, viewRoot(cfg, name))
          // candidate-list internals stay in the state, not the read
          // surface
          .drop(IncrementalAgg.hiddenCols(spec): _*),
        spec),
      spec)
  }

  /** KEY-GAP detection over the CDC path (the continuous form of the
    * `quality_key_gaps` probe): reads a maintained DENSITY view — an
    * agg view whose spec carries `cellGroups = Seq((src, width))`, so
    * the state holds one row per touched `width`-key cell, updated by
    * the delta path (only cells the batch touched, O(cells) state) —
    * and returns every cell whose live-key count is below the cell's
    * domain width, including cells that vanished entirely (a
    * fully-dropped key range leaves no state row; the spine anti-join
    * resurfaces it as n_keys = 0). Cost: one O(cells) state read + an
    * O(cells) spine — never a mirror scan.
    *
    * `expectedMaxKey` bounds the domain from REFERENCE truth (the
    * source table's MAX(pk) — the same probe TableExpectation.reference
    * reads from parquet footer stats). Without it the spine ends at the
    * highest SURVIVING cell, which cannot see a fully-dropped TAIL
    * range (losing cells 3 AND 4 of 0..4 shrinks the observed max to 2
    * and the monitor reads healthy) and must exclude the last cell
    * (domain end unknown) — pass the reference bound when auditing for
    * truncation, not just interior holes. */
  def lowDensityCells(spark: SparkSession, cfg: Config,
                      viewName: String, src: String,
                      expectedMaxKey: Option[Long] = None): DataFrame = {
    val spec = cfg.aggViews(viewName).spec
    val width = spec.cellGroups.find(_._1 == src).map(_._2)
      .getOrElse(sys.error(
        s"view $viewName has no cell group over '$src' — register the " +
          s"AggView with cellGroups = Seq((\"$src\", width))"))
    val cellCol = s"cell_$src"
    val state = aggView(spark, cfg, viewName)
      .select(col(cellCol).cast("long").as("cell"),
        col("n_rows").as("n_keys"))
    // spine end: the reference bound's cell (tail drops visible, last
    // cell's domain known) or the highest surviving cell minus one
    // (observed-only mode; see the scaladoc limitation). mx < 0 means
    // no auditable cells — sequence() would DESCEND on start > stop,
    // so branch to an empty array instead
    val maxCell = expectedMaxKey match {
      case Some(mk) => state.sparkSession.range(1)
        .select(lit(mk / width).as("mx"), lit(mk).as("maxkey"))
      case None => state
        .agg((coalesce(max(col("cell")), lit(0L)) - 1).as("mx"),
          lit(null).cast("long").as("maxkey"))
    }
    val spine = maxCell
      .select(explode(when(col("mx") >= 0, sequence(lit(0L), col("mx")))
        .otherwise(array().cast("array<bigint>"))).as("cell"),
        col("maxkey"))
    spine.join(state, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n_keys"), lit(0L)).as("n_keys"),
        // the reference-bounded last cell is partial: clip its domain
        when(col("maxkey").isNotNull,
          least(lit(width), col("maxkey") - col("cell") * width + 1))
          .otherwise(lit(width)).as("domain"),
        (when(col("maxkey").isNotNull,
          least(lit(width), col("maxkey") - col("cell") * width + 1))
          .otherwise(lit(width)) -
          coalesce(col("n_keys"), lit(0L))).as("n_missing"))
      .filter(col("n_missing") > 0)
  }

  /** Read a table's current (live, unversioned) mirror state. */
  def mirror(spark: SparkSession, cfg: Config, table: String): DataFrame =
    cfg.mirrorSink.read(spark, s"${cfg.mirrorRoot}/$table")

  /** Point lookup by primary key: pruned to one bucket/partition dir by
    * the sink (O(bucket), not O(table)). */
  def lookup(spark: SparkSession, cfg: Config, table: String,
             keyValues: Seq[Any]): DataFrame =
    cfg.mirrorSink.lookup(spark, s"${cfg.mirrorRoot}/$table",
      cfg.specFor(table).keyCols, keyValues)

  /** Read the dead-letter table. A pipeline that never saw a poison
    * record has no DLQ dir (clean batches don't write) — that reads as
    * an empty, correctly-schemed frame. */
  def deadLetters(spark: SparkSession, cfg: Config): DataFrame = {
    val dir = new Path(cfg.dlqDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) spark.read.parquet(cfg.dlqDir)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL("`payload_json` STRING"))
  }

  /** Fold the DLQ's per-trigger appended part files into a compact set
    * — a stream that poisons regularly accretes one file per dirty
    * trigger, and every [[deadLetters]] read then pays a footer per
    * file. Call between batches from the pipeline's own driver (the
    * single writer): the fold lists the data files present, writes
    * their union as ~`targetBytes` files, moves those in, then deletes
    * the originals. A crash inside the move window can leave a row
    * duplicated — the same at-least-once semantics DLQ appends already
    * have under foreachBatch replay (dead letters are reviewed, not
    * arithmetic). */
  def compactDlq(spark: SparkSession, cfg: Config,
                 targetBytes: Long = 128L << 20): Unit = {
    val dir = new Path(cfg.dlqDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return
    val originals = fs.listStatus(dir).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    if (originals.length <= 1) return
    val totalBytes = originals.map(_.getLen).sum
    val nOut = math.max(1, (totalBytes / targetBytes).toInt +
      (if (totalBytes % targetBytes == 0) 0 else 1))
    val tmp = new Path(dir, ".dlq-compact")
    fs.delete(tmp, true)
    spark.read.parquet(originals.map(_.getPath.toString).toSeq: _*)
      .coalesce(nOut)
      .write.mode("overwrite").parquet(tmp.toString)
    val moved = fs.listStatus(tmp).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    moved.zipWithIndex.foreach { case (p, i) =>
      // unique names so a re-run never collides with a previous fold
      val dst = new Path(dir,
        s"compact-${java.util.UUID.randomUUID().toString.take(8)}-$i.parquet")
      if (!fs.rename(p, dst)) sys.error(s"DLQ compaction move failed: $p")
    }
    originals.foreach(st => fs.delete(st.getPath, false))
    fs.delete(tmp, true)
  }
}
