package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The one resume protocol of every [[LogMirror]] changefeed consumer
  * in this package ([[ChangefeedReplicator]], [[IncrementalJoinView]],
  * [[IncrementalAggView]]): the shape a Kafka Connect sink resumes
  * through (offsets commit after the write, into one store,
  * docker-compose.yml:102) and the one Structured Streaming's
  * exactly-once argument rests on — one offset log plus an idempotent
  * sink. A consumer keeps only its own derivation; [[poll]] owns the
  * rest:
  *
  *   1. reads the consumer's cursor: the version of every source it
  *      applied, by role, and the target batch slot it last wrote;
  *   2. reads every source's version BEFORE the feeds: a source batch
  *      committed in between is applied this poll AND re-applied next
  *      poll — never skipped (the reverse order could lose it);
  *   3. returns the consumer's idle answer when a source is not born or
  *      every source is at its cursor version;
  *   4. otherwise opens a [[Window]]: per source, the versioned changes
  *      past the cursor (`changesSinceVersioned`, bytes ∝ new data) —
  *      or, when a source has folded past the cursor
  *      ([[LogMirror.RetentionLostException]]) or a view lost its
  *      cursor, a RESNAPSHOT: every source's full versioned state,
  *      tombstones included, so missed deletions still apply;
  *   5. runs the consumer's derivation, which writes the window's
  *      batch slot through the target's idempotent, version-ordered
  *      merge;
  *   6. commits the cursor by tmp + rename AFTER that write.
  *
  * A crash anywhere before step 6 leaves the previous cursor, so the
  * next poll re-derives the window (and whatever the sources committed
  * since) into a batch slot past every manifest the targets hold: a
  * derivation that reads its own target (the rollup view's key→group
  * map) must not overwrite a commit that already advanced it, and a
  * target-side purge may have moved the target's version on. Re-applying
  * is idempotent, since every target merge is version-ordered. A lost
  * cursor either re-reads the feed from the start (a replica: every
  * change is in the feed while the source keeps its deltas) or
  * resnapshots (a view, whose own state may hold keys the feed cannot
  * retract). After a resnapshot, the target keys the snapshot no longer
  * covers — keys hard-purged upstream leave no record to replicate —
  * come from [[staleKeys]].
  *
  * The cursor is one file, `<target>/_CURSOR` ("_"-prefixed, so
  * listing fingerprints and parquet readers ignore it):
  * {{{
  *   batch <target batch slot last written>
  *   source <role> <version applied>     one line per source
  * }}}
  * Stateless apart from that file, so pollers of different targets
  * may run concurrently; one poller per target. */
object ChangefeedConsumer {

  /** A consumer's committed position. */
  final case class Cursor(versions: Map[String, Long], batch: Long)

  /** One poll's catch-up: the cursor it resumes from, the source
    * versions it will commit, the target batch slot it writes, and per
    * source role the versioned rows to apply — the changes past the
    * cursor, or on a `resnapshot` the source's full versioned state
    * (tombstones included). */
  final case class Window(cursor: Option[Cursor], versions: Map[String, Long],
                          batch: Long, resnapshot: Boolean,
                          feeds: Map[String, DataFrame])

  private def cursorPath(target: String) = new Path(s"$target/_CURSOR")

  /** The committed cursor at `target`; None = never committed (or
    * lost). */
  def readCursor(spark: SparkSession, target: String): Option[Cursor] = {
    val p = cursorPath(target)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().map(_.split(' ').toSeq).toList
      finally in.close()
      lines.collectFirst { case Seq("batch", b) => b.toLong }.map(b =>
        Cursor(lines.collect { case Seq("source", r, v) => r -> v.toLong }.toMap, b))
    }
  }

  private def commit(spark: SparkSession, target: String, c: Cursor): Unit = {
    val fs = new Path(target).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(s"$target/._CURSOR.tmp")
    graft.core.LocalFs.writeSmall(fs, tmp,
      (s"batch ${c.batch}" +: c.versions.toSeq.sorted.map { case (r, v) =>
        s"source $r $v" }).mkString("", "\n", "\n").getBytes("UTF-8"))
    val dst = cursorPath(target)
    fs.delete(dst, false)
    if (!fs.rename(tmp, dst)) sys.error(s"consumer cursor commit failed for $target")
  }

  /** One catch-up of the consumer whose cursor lives at `target`, over
    * `sources` (role → source mirror root). `idle` answers a poll with
    * nothing to apply (a source unborn, or every source at its cursor
    * version) from the cursor and the versions read; `derive` applies a
    * [[Window]] and its answer returns once the cursor commits.
    * `counterRoots` are the target mirrors the consumer writes at the
    * window's batch slot: the slot is past the cursor's and past every
    * manifest they hold. `resnapshotOnCursorLoss` picks what a lost
    * cursor means: a resnapshot (views) or the feed from the start. */
  def poll[R](spark: SparkSession, target: String,
              sources: Seq[(String, String)], counterRoots: Seq[String],
              resnapshotOnCursorLoss: Boolean)(
      idle: (Option[Cursor], Map[String, Option[Long]]) => R)(
      derive: Window => R): R = {
    val cursor = readCursor(spark, target)
    val read = sources.map { case (role, root) =>
      role -> LogMirror.currentVersion(spark, root) }.toMap
    if (read.values.exists(_.isEmpty) ||
      cursor.exists(c => read.forall { case (r, v) => v == c.versions.get(r) }))
      return idle(cursor, read)
    val versions = read.map { case (r, v) => r -> v.get }
    val feeds =
      if (cursor.isEmpty && resnapshotOnCursorLoss) None
      else try Some(sources.map { case (role, root) =>
        role -> LogMirror.changesSinceVersioned(spark, root,
          cursor.flatMap(_.versions.get(role)).getOrElse(-1L))
          .drop(LogMirror.commitVersion) }.toMap)
      catch { case _: LogMirror.RetentionLostException => None }
    // past the cursor's slot AND every manifest a target holds: a crash
    // after a target commit but before the cursor's must not overwrite
    // that commit with a derivation that reads the target's new state
    val batch = (cursor.map(_.batch) ++ counterRoots
      .flatMap(LogMirror.currentVersion(spark, _))).maxOption.fold(0L)(_ + 1)
    val out = derive(Window(cursor, versions, batch, feeds.isEmpty,
      feeds.getOrElse(sources.map { case (role, root) =>
        role -> LogMirror.readVersioned(spark, root) }.toMap)))
    commit(spark, target, Cursor(versions, batch))
    out
  }

  /** Null-safe multi-column join condition (a null key is a key like
    * any other — plain equality would never match it). */
  private[graft] def nullSafeOn(left: DataFrame, right: DataFrame,
                                cols: Seq[String]): Column =
    cols.map(c => left(c) <=> right(c)).reduce(_ && _)

  /** The resnapshot sweep: keys `root` holds (tombstones included) that
    * `snapshot` no longer covers — emptied groups, keys hard-purged
    * upstream. Empty when `root` is unborn. */
  def staleKeys(spark: SparkSession, root: String, keyCols: Seq[String],
                snapshot: DataFrame): DataFrame = {
    val fresh = snapshot.select(keyCols.map(col): _*)
    if (LogMirror.currentVersion(spark, root).isEmpty) fresh.limit(0)
    else {
      val held = LogMirror.readVersioned(spark, root).select(keyCols.map(col): _*)
      held.join(fresh, nullSafeOn(held, fresh, keyCols), "left_anti")
    }
  }
}
