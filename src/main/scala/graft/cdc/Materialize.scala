package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.LatestPerKey

/** Upsert-materialization of a CDC change stream into current-state
  * mirrors — the Spark-native equivalent of the reference's JDBC upsert
  * sink (reference: register-postgres-sink.json:15-17 insert.mode=upsert,
  * pk.mode=record_key, delete.enabled=true).
  *
  * Scale design: latest-per-key is [[graft.plans.LatestPerKey]] — ONE
  * shuffle keyed by PK, one in-partition sort by (key, version desc) and
  * a streaming pass that keeps each key's first row. No aggregation
  * buffer, so the shuffle carries every event (not one partial per key)
  * but no struct-ordered SortAggregate pair sorts it twice; the output
  * stays key-partitioned and key-sorted for the write that follows.
  *
  * Mirrors are VERSIONED: each row keeps the (ts_ms, offset) of the
  * change that produced it (`_v_ts_ms`/`_v_offset`) and deletes persist
  * as TOMBSTONE rows (`_v_deleted`) rather than vanishing. Merging a
  * batch therefore compares against stored versions — a late-arriving
  * older change can never regress a newer row or resurrect a deleted
  * key. That's strictly stronger than the reference's plain upsert,
  * which relies entirely on per-key arrival order.
  */
object Materialize {

  val versionTs = "_v_ts_ms"
  val versionOffset = "_v_offset"
  val deletedFlag = "_v_deleted"
  private val metaCols = Seq("op", "ts_ms", "topic", "partition", "offset")

  /** Reduce an unwrapped change batch to the newest record per key,
    * ordered by event time then log position (SURVEY A5/O1). Keeps op
    * so callers can drop keys whose final op is a delete. */
  def latestPerKey(unwrapped: DataFrame, keyCols: Seq[String]): DataFrame = {
    val payload = unwrapped.columns.filterNot(keyCols.contains)
    LatestPerKey(unwrapped, keyCols, Seq("ts_ms", "offset"))
      .select((keyCols ++ payload).map(col): _*)
  }

  /** Versioned mirror state of a change batch: newest record per key
    * with version bookkeeping; deletes retained as tombstones. */
  def versionedState(unwrapped: DataFrame, keyCols: Seq[String]): DataFrame =
    latestPerKey(unwrapped, keyCols)
      .withColumn(versionTs, col("ts_ms"))
      .withColumn(versionOffset, col("offset"))
      .withColumn(deletedFlag, col("op") === "d")
      .drop(metaCols: _*)

  /** User-facing state: live rows only, no bookkeeping columns. */
  def currentState(unwrapped: DataFrame, keyCols: Seq[String]): DataFrame =
    stripVersions(versionedState(unwrapped, keyCols))

  /** Time travel: the table state as of `tsUpTo` — replay the change
    * log with every later event masked out. On a ts-partitioned change
    * log the filter prunes partitions, so the cost is one latest-per-key
    * pass over events up to the cutoff, never a full-history scan. */
  def stateAsOf(unwrapped: DataFrame, keyCols: Seq[String],
                tsUpTo: Long): DataFrame =
    currentState(unwrapped.filter(col("ts_ms") <= tsUpTo), keyCols)

  /** Drop tombstones + version columns from a versioned mirror. */
  def stripVersions(mirror: DataFrame): DataFrame =
    mirror.filter(!col(deletedFlag)).drop(versionTs, versionOffset, deletedFlag)

  /** Type-2 (SCD2) history from the change stream: every alive version
    * of a key becomes one row with a `[valid_from, valid_to)` interval;
    * an update or delete at the NEXT event time closes the previous
    * interval, and the key's current version carries `valid_to = null`.
    * One window pass per key — `lead(ts)` over ALL events (deletes
    * included, so they close intervals) and the delete rows themselves
    * are dropped after the lead is taken. Shuffle ∝ change volume,
    * keyed by PK — the same shape as materialization, with history
    * retained instead of collapsed. */
  def history(unwrapped: DataFrame, keyCols: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col("ts_ms"), col("offset"))
    val meta = Set("topic", "partition", "offset", "op", "ts_ms")
    val payloadCols = unwrapped.columns.filterNot(meta.contains)
    unwrapped
      .withColumn("_next_ts", lead(col("ts_ms"), 1).over(w))
      .filter(col("op") =!= "d")
      .select(payloadCols.map(col) ++
        Seq(col("ts_ms").as("valid_from"), col("_next_ts").as("valid_to")): _*)
  }

  /** Merge one change batch into an existing VERSIONED mirror (the
    * foreachBatch body). Mirror rows (and tombstones) compete with batch
    * changes at their stored versions, so ordering is correct across
    * batch boundaries and replays are idempotent. One latest-per-key
    * pass over the union. Returns the new versioned mirror. */
  def merge(mirrorVersioned: DataFrame, batchUnwrapped: DataFrame,
            keyCols: Seq[String]): DataFrame = {
    val mirrorAsChanges = mirrorVersioned
      .withColumnRenamed(versionTs, "ts_ms")
      .withColumnRenamed(versionOffset, "offset")
      .withColumn("op", when(col(deletedFlag), "d").otherwise("r"))
      .withColumn("topic", lit(null).cast("string"))
      .withColumn("partition", lit(null).cast("int"))
      .drop(deletedFlag)
    // allowMissingColumns: additive schema evolution — a new column in
    // the batch backfills null into mirror-era rows (auto.evolve=true,
    // register-postgres-sink.json:14)
    versionedState(
      mirrorAsChanges.unionByName(batchUnwrapped, allowMissingColumns = true),
      keyCols)
  }

  /** BITEMPORAL as-of winners (Snodgrass): for every probe (t, v) and
    * entity, the version visible on BOTH axes with the greatest
    * transaction time — `tx_from ≤ t < tx_to` (null tx_to = still
    * current) and `valid_from ≤ v < valid_to` (null = open interval).
    * The argmax is a packed `tx_from·2³² + c` long so the read is ONE
    * hash aggregate keyed (t, v, id) — never an interval theta join;
    * probes broadcast. Contract: `c` (the payload) in [0, 2³²), ties
    * on tx_from resolve to the larger payload (lexicographic
    * (tx_from, c) max — `BitemporalPropertySpec` pins the rule).
    * Input: versions(id, tx_from, tx_to, valid_from, valid_to, c),
    * probes(t, v). Output: (t, v, id, c). */
  def bitemporalAsOf(versions: DataFrame, probes: DataFrame): DataFrame =
    versions.crossJoin(broadcast(probes))
      .filter(col("tx_from") <= col("t") &&
        (col("tx_to").isNull || col("t") < col("tx_to")) &&
        col("valid_from") <= col("v") &&
        (col("valid_to").isNull || col("v") < col("valid_to")))
      .groupBy(col("t"), col("v"), col("id"))
      .agg(max(col("tx_from") * 4294967296L + col("c")).as("pk"))
      .select(col("t"), col("v"), col("id"),
        (col("pk") % 4294967296L).as("c"))
}
