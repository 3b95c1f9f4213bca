package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.Materialize

/** Poll-based downstream replication: apply a source [[LogMirror]]'s
  * changefeed into ANY [[MirrorSink]] target — the consumer half of the
  * reference's replication chain (a sink connector applying row-level
  * changes at its own pace, register-postgres-sink.json:15-17), fed
  * from the mirror instead of a broker.
  *
  * Each [[poll]] is one [[ChangefeedConsumer.poll]]: the window is
  * ONLY the delta segments past the cursor, so a poll costs ∝ new data,
  * never ∝ the mirror. It re-applies the stored (ts_ms, offset)
  * versions through the target sink's idempotent `merge`, so the
  * target converges to the SAME versioned state as the source
  * (late/replayed polls can never regress it). A lost cursor re-reads the feed from the start, which is not a
  * resnapshot while the source keeps its deltas.
  *
  * When the source has compacted past the cursor (a slow consumer
  * outlived `maxDeltas` retention), the window is the source's full
  * VERSIONED state — tombstones included, which LogMirror retains
  * through compaction — so deletions the consumer missed still land.
  * Cost ∝ source size, exactly once per fall-behind; subsequent polls
  * are incremental again.
  */
object ChangefeedReplicator {

  /** One poll's outcome: rows applied, the cursor movement, and
    * whether the retention-lost re-snapshot path ran. */
  final case class Result(applied: Long, fromVersion: Option[Long],
                          toVersion: Option[Long], resnapshot: Boolean)

  private val Source = "source"

  /** Versioned feed rows → the unwrapped-changes shape `MirrorSink
    * .merge` consumes, carrying the source's stored versions. */
  private def asChanges(versioned: DataFrame): DataFrame =
    versioned
      .withColumn("op",
        when(col(Materialize.deletedFlag), "d").otherwise("u"))
      .withColumnRenamed(Materialize.versionTs, "ts_ms")
      .withColumnRenamed(Materialize.versionOffset, "offset")
      .withColumn("topic", lit(null).cast("string"))
      .withColumn("partition", lit(null).cast("int"))
      .drop(Materialize.deletedFlag)

  /** Apply everything the source committed after the target's cursor.
    * Idempotent: re-polling after any crash re-applies the same window
    * through the sink's replay-safe merge. */
  def poll(spark: SparkSession, sourceRoot: String, targetRoot: String,
           sink: MirrorSink, keyCols: Seq[String]): Result = {
    require(sourceRoot != targetRoot,
      "changefeed source and target must be different mirrors")
    ChangefeedConsumer.poll(spark, targetRoot, Seq(Source -> sourceRoot),
      counterRoots = Seq(targetRoot), resnapshotOnCursorLoss = false) {
      (cursor, _) =>
      val at = cursor.flatMap(_.versions.get(Source))
      Result(0L, at, at, resnapshot = false)
    } { w =>
      val changes = asChanges(w.feeds(Source)).persist()
      try {
        val n = changes.count()
        if (n > 0) sink.merge(spark, targetRoot, changes, keyCols, w.batch)
        // Forget-propagation: a key hard-purged upstream (purgeKeys) has
        // NO record in the source — not even a tombstone — so the
        // re-snapshot batch cannot delete it and the target would retain
        // forgotten data forever. Purge target keys absent from the
        // source's versioned state (tombstoned keys are present there and
        // propagate as ordinary deletes above). LogMirror targets purge
        // natively; other sinks document the caveat in [[MirrorSink]].
        if (w.resnapshot) sink match {
          case _: LogMirrorSink =>
            // persisted: the emptiness probe + purgeKeys otherwise each
            // re-reconcile the target mirror for this key-grain frame
            val stale = ChangefeedConsumer.staleKeys(spark, targetRoot,
              keyCols, changes).persist()
            try if (!stale.isEmpty) LogMirror.purgeKeys(spark, targetRoot, stale)
            finally stale.unpersist()
          case _ => ()
        }
        Result(n, w.cursor.flatMap(_.versions.get(Source)),
          Some(w.versions(Source)), w.resnapshot)
      } finally changes.unpersist()
    }
  }
}
