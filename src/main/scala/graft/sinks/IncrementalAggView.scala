package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.Materialize

/** Incrementally-maintained GROUP-BY view over ANY [[LogMirror]]'s
  * changefeed: the materialized aggregate every consumer of the
  * reference's replicated tables re-runs on a cadence (the integrity
  * DAG's MAX(id), any revenue rollup), kept current by DIRTY-GROUP
  * recompute instead of a table rescan.
  *
  * Each [[poll]] refreshes exactly the groups the feed touched:
  *
  *   - feed upserts mark their NEW group dirty;
  *   - the OLD group of every fed key comes from a key→group sidecar
  *     map (itself a [[LogMirror]], updated in the same poll) — the
  *     changefeed is post-image-only, so without the map a key MOVING
  *     between groups would leave its old group's aggregate stale
  *     forever (deletes carry no payload either; the map is how their
  *     group is found). This is the arrangement/index every IVM system
  *     keeps for exactly this reason;
  *   - dirty groups recompute from the source mirror's current state
  *     (semi-probed by the broadcast dirty set — null-safe, so null
  *     group keys maintain correctly) and upsert into the agg mirror;
  *     dirty groups with NO surviving rows tombstone.
  *
  * Cost ∝ feed size + rows of the dirty groups — never the source
  * table. The agg mirror is keyed by the group columns; the sidecar
  * map is keyed by the source's own keys and its per-poll merge writes
  * only the fed keys' delta. A feed-quiet poll is a metadata no-op.
  * The one mirror-sized read is the map's narrow (key+group) columns
  * when resolving old groups — bucket the map for pruning if that
  * matters at your key cardinality.
  *
  * Resume follows [[ChangefeedConsumer]]: the cursor (source version +
  * the view's own batch counter) commits AFTER the view's one
  * [[LogMirror.mergeGroup]] write, which lands the agg and keymap
  * deltas in one job and commits the agg manifest before the keymap's.
  * A crash anywhere replays the same derivation into the same batch
  * slot: with the agg committed and the keymap not, the map still holds
  * every fed key's old group, so the replay dirties the same groups.
  * Retention lost on the source, or a lost cursor, re-derives the whole
  * view (one aggregate pass), tombstoning agg groups and map keys the
  * snapshot no longer covers — upstream hard purges included. The
  * caller passes the SAME `aggs` every poll (the view's definition);
  * single-poller discipline per view.
  */
object IncrementalAggView {

  /** One poll's outcome. */
  final case class Result(groupsRefreshed: Long, resnapshot: Boolean,
                          sourceVersion: Option[Long])

  private val Source = "source"
  /** The view's two mirrors, `<viewRoot>/agg` and `<viewRoot>/keymap`:
    * the layout one [[LogMirror.mergeGroup]] writes, in commit order. */
  private val Agg = "agg"
  private val KeyMap = "keymap"
  private val tableCol = "_view_table"

  /** Apply everything the source committed since the last poll.
    * `aggs` are aliased aggregate expressions over the source's
    * columns (e.g. `sum(col("x")).as("sum_x")`) — pass the same ones
    * every poll. */
  def poll(spark: SparkSession, sourceRoot: String, viewRoot: String,
           groupCols: Seq[String], aggs: Seq[Column],
           maxDeltas: Int = 16): Result = {
    require(groupCols.nonEmpty && aggs.nonEmpty,
      "need at least one group column and one aggregate")
    require(sourceRoot != viewRoot,
      "source mirror and agg view must be different roots")
    val (aggRoot, mapRoot) = (s"$viewRoot/$Agg", s"$viewRoot/$KeyMap")
    ChangefeedConsumer.poll(spark, viewRoot, Seq(Source -> sourceRoot),
      counterRoots = Seq(aggRoot, mapRoot), resnapshotOnCursorLoss = true) {
      (_, v) => Result(0L, resnapshot = false, v(Source))
    } { w =>
      val srcKeys = LogMirror.readManifest(new Path(sourceRoot)
        .getFileSystem(spark.sparkContext.hadoopConfiguration), sourceRoot)
        .get.keyCols
      val mapCols = (srcKeys ++ groupCols).distinct
      // frames referenced twice (two branches of the changes, or the
      // count and the write) stay cached until the write commits
      val cached = scala.collection.mutable.ListBuffer[DataFrame]()
      def cache(df: DataFrame): DataFrame = { val p = df.persist(); cached += p; p }
      try {
        val source = LogMirror.read(spark, sourceRoot)
        val (aggChanges, mapChanges) =
          if (w.resnapshot) {
            // full re-derivation: one aggregate pass + map rebuild, then
            // tombstone whatever the snapshot no longer covers (groups
            // emptied or keys purged while the feed window was lost).
            // `fresh` (group-grain, tiny) and `freshMap` (key-grain,
            // narrow) are each referenced twice below (their 'c' branch
            // + the stale anti-join): persisted, the source mirror
            // reconciles once per projection instead of once per
            // REFERENCE
            val fresh = cache(source.groupBy(groupCols.map(col): _*)
              .agg(aggs.head, aggs.tail: _*))
            val freshMap = cache(source.select(mapCols.map(col): _*))
            (fresh.withColumn("op", lit("c")).unionByName(
              ChangefeedConsumer.staleKeys(spark, aggRoot, groupCols, fresh)
                .withColumn("op", lit("d")), allowMissingColumns = true),
              freshMap.withColumn("op", lit("c")).unionByName(
                ChangefeedConsumer.staleKeys(spark, mapRoot, srcKeys, freshMap)
                  .withColumn("op", lit("d")), allowMissingColumns = true))
          } else {
            val f = cache(w.feeds(Source))
            val fedKeys = f.select(srcKeys.map(col): _*)
            val live = f.filter(!col(Materialize.deletedFlag))
            // dirty = new groups of upserts ∪ old groups of every fed key
            // (the sidecar map is the only place a delete's — or a moved
            // key's former — group can be found)
            val newGroups = live.select(groupCols.map(col): _*)
            val oldGroups =
              if (LogMirror.currentVersion(spark, mapRoot).isEmpty)
                newGroups.limit(0) // map not born: source was empty so far
              else LogMirror.read(spark, mapRoot)
                .join(broadcast(fedKeys), srcKeys, "left_semi")
                .select(groupCols.map(col): _*)
            val dirty = cache(newGroups.union(oldGroups).distinct())
            val touched = source.join(broadcast(dirty),
              ChangefeedConsumer.nullSafeOn(source, dirty, groupCols), "left_semi")
            // persisted: `recomputed` (group-grain, ≤ dirty-set rows) is
            // referenced by BOTH the upsert branch and the `gone`
            // anti-join — unpersisted, the source reconcile + dirty
            // semi-probe + aggregate ran twice per poll
            val recomputed = cache(touched.groupBy(groupCols.map(col): _*)
              .agg(aggs.head, aggs.tail: _*))
            val gone = dirty.join(recomputed,
              ChangefeedConsumer.nullSafeOn(dirty, recomputed, groupCols),
              "left_anti")
            (recomputed.withColumn("op", lit("c"))
              .unionByName(gone.withColumn("op", lit("d")),
                allowMissingColumns = true),
              live.select(mapCols.map(col): _*).withColumn("op", lit("c"))
                .unionByName(f.filter(col(Materialize.deletedFlag))
                  .select(srcKeys.map(col): _*).withColumn("op", lit("d")),
                  allowMissingColumns = true))
          }
        val aggCols = aggChanges.columns.toSeq.filterNot(_ == "op")
        aggChanges.schema.filter(f => mapCols.contains(f.name)).foreach(f =>
          require(mapChanges.schema(f.name).dataType == f.dataType,
            s"aggregate ${f.name} shares its name with a source key of " +
              "another type; alias it apart"))
        val changes = cache(aggChanges.withColumn(tableCol, lit(Agg))
          .unionByName(mapChanges.withColumn(tableCol, lit(KeyMap)),
            allowMissingColumns = true)
          .withColumn("ts_ms", lit(w.batch)).withColumn("offset", lit(0L)))
        // one action answers the refresh count AND emptiness
        val counts = changes.agg(count(lit(1)),
          count(when(col(tableCol) === Agg && col("op") === "c", 1))).head()
        if (counts.getLong(0) > 0)
          LogMirror.mergeGroup(spark, viewRoot, changes,
            Seq(LogMirror.GroupTable(Agg, groupCols, aggCols),
              LogMirror.GroupTable(KeyMap, srcKeys, mapCols)),
            w.batch, maxDeltas, bucketCount = None, tableCol = tableCol)
        Result(counts.getLong(1), w.resnapshot, Some(w.versions(Source)))
      } finally cached.foreach(_.unpersist())
    }
  }

  /** The aggregate view's live rows (a plain [[LogMirror]] keyed by the
    * group columns — its own changefeed, replication and lookups all
    * compose). */
  def read(spark: SparkSession, viewRoot: String): DataFrame =
    LogMirror.read(spark, s"$viewRoot/$Agg")
}
