package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.cdc.Materialize

/** The pipeline ↔ storage interface for CDC mirrors: everything above
  * this trait (envelope parse, routing, versioned keyed merge plan,
  * DLQ, agg views) is sink-agnostic — a mirror layout only decides how
  * one table's merged state is PERSISTED and READ.
  *
  * This is the adapter point for transactional table formats: a
  * Delta/Iceberg-style row-level MERGE sink implements `merge` by
  * feeding [[Materialize]]'s versioned change batch to its MERGE
  * command and the reads by snapshot queries — no pipeline changes
  * (plug it in via `CdcPipeline.Config.sinkOverride`). The one
  * parquet-native implementation in-repo, and the pipeline's default,
  * is [[LogMirrorSink]]: log-structured base+delta segments
  * ([[LogMirror]]) where a batch writes ONLY its own delta (bytes ∝
  * batch, not mirror), reads reconcile by version and compaction is
  * amortized — the row-level-MERGE cost model on immutable storage.
  *
  * Contract: `merge` must be idempotent under batch replay (the
  * pipeline runs in foreachBatch, at-least-once), and `read` must never
  * observe a partially-committed batch.
  *
  * Hard purges (right-to-be-forgotten, [[LogMirror.purgeKeys]]) leave
  * NO source record to replicate, so [[ChangefeedReplicator]] can
  * propagate them to a target only when the target sink purges natively
  * (LogMirror does); other sinks need an out-of-band purge on each
  * replica.
  */
trait MirrorSink extends Serializable {

  /** Merge one table's unwrapped change batch into the mirror at
    * `tableRoot`. Rows carry the change-op code (`op`, with `d` =
    * tombstone) and the (ts_ms, offset) version order — implementations
    * typically hand them to [[Materialize.merge]] /
    * [[Materialize.versionedState]], or feed a table format's MERGE
    * command the same way. */
  def merge(spark: SparkSession, tableRoot: String, changes: DataFrame,
            keyCols: Seq[String], batchId: Long): Unit

  /** Current live state (tombstones and bookkeeping stripped). */
  def read(spark: SparkSession, tableRoot: String): DataFrame

  /** Point lookup by primary key — implementations should prune to
    * O(bucket/partition), not O(table). Key literals are cast to the
    * mirror's stored types (hash(Int) ≠ hash(Long)). */
  def lookup(spark: SparkSession, tableRoot: String, keyCols: Seq[String],
             keyValues: Seq[Any]): DataFrame

  /** The last batch id this mirror has merged, when the layout records
    * one — the freshness version the MV-rewrite integration compares
    * against a maintained view's applied-batch watermark
    * ([[graft.plans.MvCatalog.registerMaintained]]). None = unknown
    * (the sink doesn't version) → the integration conservatively treats
    * the view as stale and queries fall through to the base table. */
  def lastBatchId(spark: SparkSession, tableRoot: String): Option[Long] =
    None
}
