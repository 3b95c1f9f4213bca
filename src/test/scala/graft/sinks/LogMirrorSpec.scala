package graft.sinks

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Log-structured base+delta mirror: equivalence with one-shot
  * materialization on the full insert/update/delete/replay matrix,
  * DELTA-ONLY writes
  * (per-batch write bytes ∝ batch, base files untouched), automatic and
  * explicit compaction, tombstone retention through compaction, crash
  * leftovers, and pruned lookups. */
class LogMirrorSpec extends SparkSpec {
  import spark.implicits._

  private val keyCols = Seq("id")

  private def changes(rows: (Long, String, String, Long, Long)*): DataFrame =
    rows.toDF("id", "v", "op", "ts_ms", "offset")
      .selectExpr("id", "v", "op", "ts_ms", "'t' AS topic",
        "0 AS partition", "offset")

  private def fsOf(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def state(root: String): Map[Long, String] =
    LogMirror.read(spark, root).select("id", "v")
      .as[(Long, String)].collect().toMap

  private def merge(root: String, c: DataFrame, batchId: Long,
                    maxDeltas: Int = 16): Unit =
    LogMirror.merge(spark, root, c, keyCols, batchId, maxDeltas, None)

  private def segmentNames(root: String): Set[String] = {
    val fs = fsOf(root)
    val dir = new Path(s"$root/segments")
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).map(_.getPath.getName).toSet
  }

  private def dirBytes(root: String, name: String): Long = {
    val fs = fsOf(root)
    fs.getContentSummary(new Path(s"$root/segments/$name")).getLength
  }

  test("never-written mirror reads/looks up as empty, never throws") {
    val root = Files.createTempDirectory("lm-empty").toString + "/none"
    assert(LogMirror.read(spark, root).count() == 0)
    assert(LogMirror.lookup(spark, root, keyCols, Seq(1L)).count() == 0)
  }

  test("insert/update/delete/replay matrix matches one-shot materialization") {
    val lmRoot = Files.createTempDirectory("lm-eq").toString
    val batches = Seq(
      changes((1L, "a", "r", 1000L, 0L), (2L, "b", "r", 1000L, 1L),
        (3L, "c", "r", 1000L, 2L)),
      changes((1L, "a2", "u", 2000L, 3L), (2L, "", "d", 2000L, 4L),
        (9L, "i", "c", 2000L, 5L)),
      // late-arriving OLDER change for key 1 + resurrect-attempt on the
      // deleted key 2 at a pre-delete version: both must lose
      changes((1L, "stale", "u", 1500L, 6L), (2L, "ghost", "u", 1500L, 7L)),
      changes((3L, "", "d", 3000L, 8L), (4L, "d4", "c", 3000L, 9L)))
    batches.zipWithIndex.foreach { case (b, i) => merge(lmRoot, b, i.toLong) }
    // replay the LAST batch (foreachBatch at-least-once)
    merge(lmRoot, batches.last, (batches.size - 1).toLong)
    val reference = graft.cdc.Materialize.stripVersions(
      graft.cdc.Materialize.versionedState(batches.reduce(_ union _), keyCols))
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(state(lmRoot) == reference)
    assert(state(lmRoot) == Map(1L -> "a2", 9L -> "i", 4L -> "d4"))
  }

  test("a merge writes ONLY the batch's delta: base files untouched, " +
    "write bytes proportional to batch size") {
    val root = Files.createTempDirectory("lm-inc").toString
    // seed a base: 20k keys, then compact so it all lives in base-*
    merge(root, changes((1L to 20000L).map(i =>
      (i, s"v$i", "r", 1000L, i)): _*), 0L)
    LogMirror.compact(spark, root)
    val fs = fsOf(root)
    val baseName = segmentNames(root).find(_.startsWith("base-")).get
    val baseFiles = fs.listStatus(new Path(s"$root/segments/$baseName"))
      .map(s => s.getPath.getName -> s.getModificationTime).toMap
    val baseBytes = dirBytes(root, baseName)

    // 50-row batch: the write must be one small delta segment
    merge(root, changes((1L to 50L).map(i =>
      (i, s"u$i", "u", 2000L, 20000L + i)): _*), 1L)
    val names = segmentNames(root)
    assert(names.contains(baseName), "base segment must survive a merge")
    assert(names.contains("delta-1"))
    val afterFiles = fs.listStatus(new Path(s"$root/segments/$baseName"))
      .map(s => s.getPath.getName -> s.getModificationTime).toMap
    assert(afterFiles == baseFiles, "base files must not be rewritten")
    val deltaBytes = dirBytes(root, "delta-1")
    assert(deltaBytes * 10 < baseBytes,
      s"delta ($deltaBytes B) must be small vs base ($baseBytes B) — " +
        "write amplification ∝ batch, not mirror")
    // and the merged state is correct
    assert(state(root)(25L) == "u25")
    assert(state(root)(20000L) == "v20000")
  }

  test("automatic compaction folds past maxDeltas; state preserved; " +
    "folded segments swept") {
    val root = Files.createTempDirectory("lm-cpt").toString
    merge(root, changes((1L, "a", "r", 1000L, 0L)), 0L, maxDeltas = 3)
    merge(root, changes((2L, "b", "r", 2000L, 1L)), 1L, maxDeltas = 3)
    assert(segmentNames(root) == Set("delta-0", "delta-1"))
    // third delta trips the fold: one base, no deltas, old dirs gone
    merge(root, changes((1L, "a2", "u", 3000L, 2L)), 2L, maxDeltas = 3)
    assert(segmentNames(root) == Set("base-2"))
    assert(state(root) == Map(1L -> "a2", 2L -> "b"))
    // replay of the compacting batch is idempotent
    merge(root, changes((1L, "a2", "u", 3000L, 2L)), 2L, maxDeltas = 3)
    assert(state(root) == Map(1L -> "a2", 2L -> "b"))
  }

  test("tombstones survive compaction: a replayed pre-delete change " +
    "cannot resurrect the key") {
    val root = Files.createTempDirectory("lm-tomb").toString
    merge(root, changes((1L, "a", "r", 1000L, 0L)), 0L)
    merge(root, changes((1L, "", "d", 3000L, 1L)), 1L)
    LogMirror.compact(spark, root)
    assert(state(root).isEmpty)
    // replay an OLD update (version < the delete's): must stay deleted
    merge(root, changes((1L, "zombie", "u", 2000L, 2L)), 2L)
    assert(state(root).isEmpty,
      "compacted tombstone must still outrank older replayed changes")
  }

  test("crash leftovers: an unreferenced partial segment dir is " +
    "invisible to readers and swept on the next commit") {
    val root = Files.createTempDirectory("lm-crash").toString
    merge(root, changes((1L, "a", "r", 1000L, 0L)), 0L)
    val fs = fsOf(root)
    // simulate a crash between the segment write and the manifest
    // commit: an orphan delta dir with garbage
    fs.mkdirs(new Path(s"$root/segments/delta-99"))
    assert(state(root) == Map(1L -> "a"), "orphan must not be read")
    merge(root, changes((2L, "b", "r", 2000L, 1L)), 1L)
    assert(!segmentNames(root).contains("delta-99"), "orphan swept on commit")
    assert(state(root) == Map(1L -> "a", 2L -> "b"))
  }

  test("bucketed base: lookup prunes to one base partition + deltas") {
    val root = Files.createTempDirectory("lm-look").toString
    LogMirror.merge(spark, root, changes((1L to 1000L).map(i =>
      (i, s"v$i", "r", 1000L, i)): _*), keyCols, 0L, 16, Some(8))
    LogMirror.compact(spark, root)
    LogMirror.merge(spark, root, changes((7L, "u7", "u", 2000L, 2000L)),
      keyCols, 1L, 16, Some(8))
    // delta overrides base through the lookup path
    assert(LogMirror.lookup(spark, root, keyCols, Seq(7L))
      .select("v").as[String].head() == "u7")
    assert(LogMirror.lookup(spark, root, keyCols, Seq(500L))
      .select("v").as[String].head() == "v500")
    // the base scan is partition-pruned to the probe key's bucket
    val plan = LogMirror.lookup(spark, root, keyCols, Seq(500L))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(_bucket"),
      s"base lookup must prune on _bucket:\n$plan")
  }

  test("bucketed base: a delta that widens the key column refolds the " +
    "base, so lookups still find base-only keys") {
    val root = Files.createTempDirectory("lm-look-widen").toString
    def typed(c: DataFrame, idType: String): DataFrame =
      c.withColumn("id", col("id").cast(idType))
    // base-0 is bucketed by the murmur3 hash of an INT key
    LogMirror.merge(spark, root, typed(changes((1L to 40L).map(i =>
      (i, s"v$i", "r", 1000L, i)): _*), "INT"), keyCols, 0L, 16, Some(8))
    LogMirror.compact(spark, root)
    // batch 1 writes the key as BIGINT: probes now hash as longs
    LogMirror.merge(spark, root, typed(changes((7L, "u7", "u", 2000L, 2000L)),
      "BIGINT"), keyCols, 1L, 16, Some(8))
    val found = (1L to 40L).map(k =>
      k -> LogMirror.lookup(spark, root, keyCols, Seq(k))
        .select("v").as[String].collect().toSeq)
    val missed = found.collect { case (k, vs) if vs.isEmpty => k }
    assert(missed.isEmpty, s"lookup missed base-only keys $missed")
    assert(found.toMap.apply(7L) == Seq("u7"))
    assert(found.toMap.apply(30L) == Seq("v30"))
    assert(LogMirror.read(spark, root).schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("changefeed: net effect of batches after the checkpoint, " +
    "latest-per-key across the window, deletes marked") {
    val root = Files.createTempDirectory("lm-feed").toString
    merge(root, changes((1L, "a", "r", 1000L, 0L), (2L, "b", "r", 1000L, 1L),
      (3L, "c", "r", 1000L, 2L)), 0L)
    merge(root, changes((1L, "a2", "u", 2000L, 3L), (2L, "", "d", 2000L, 4L)), 1L)
    merge(root, changes((1L, "a3", "u", 3000L, 5L), (4L, "d4", "c", 3000L, 6L)), 2L)
    assert(LogMirror.currentVersion(spark, root).contains(2L))
    val feed = LogMirror.changesSince(spark, root, 0L)
      .select(col("id"), col("v"), col(LogMirror.changeType),
        col(LogMirror.commitVersion))
      .as[(Long, String, String, Long)].collect().toSet
    // key 1 changed in batches 1 AND 2 → ONE row, batch 2's value wins
    assert(feed == Set(
      (1L, "a3", "upsert", 2L),
      (2L, "", "delete", 1L),
      (4L, "d4", "upsert", 2L)))
    // applying the feed to the state as of the checkpoint reproduces
    // the mirror's current state (the downstream-consumer contract)
    val replayed = Map(1L -> "a", 2L -> "b", 3L -> "c") -- feed.collect {
      case (id, _, "delete", _) => id
    } ++ feed.collect { case (id, v, "upsert", _) => id -> v }
    assert(replayed == state(root))
  }

  test("changefeed emits POST-IMAGES: late arrivals that lost the " +
    "version race and exact redeliveries emit nothing") {
    val root = Files.createTempDirectory("lm-feed-pi").toString
    merge(root, changes((1L, "new", "u", 5000L, 9L),
      (3L, "c", "r", 1000L, 2L)), 0L)
    // batch 1: a LATE change for key 1 (older version than the mirror's),
    // a genuine insert for key 2, and key 3's batch-0 event REDELIVERED
    merge(root, changes((1L, "stale", "u", 1000L, 1L),
      (2L, "b", "c", 6000L, 10L), (3L, "c", "r", 1000L, 2L)), 1L)
    val feed = LogMirror.changesSince(spark, root, 0L)
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(feed == Map(2L -> "b"),
      "only the key whose mirror state actually changed may emit: " +
        s"got $feed")
    // the mirror itself still holds the newer value for key 1
    assert(state(root) == Map(1L -> "new", 2L -> "b", 3L -> "c"))
  }

  test("changefeed post-image probe reads a BUCKETED compacted base: " +
    "late arrivals against base-era state are still suppressed") {
    val root = Files.createTempDirectory("lm-feed-pb").toString
    LogMirror.merge(spark, root, changes((1L, "new", "u", 5000L, 0L),
      (2L, "b", "r", 1000L, 1L)), keyCols, 0L, 16, Some(4))
    LogMirror.compact(spark, root) // bucketed base-0 holds both keys
    LogMirror.merge(spark, root, changes((1L, "stale", "u", 1000L, 2L),
      (3L, "c", "c", 6000L, 3L)), keyCols, 1L, 16, Some(4))
    val feed = LogMirror.changesSince(spark, root, 0L)
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(feed == Map(3L -> "c"),
      s"late arrival vs base-era state must be suppressed, got $feed")
    assert(state(root) == Map(1L -> "new", 2L -> "b", 3L -> "c"))
  }

  test("changefeed: caught-up and never-written feeds are empty; " +
    "replay of the newest batch leaves the feed identical") {
    val fresh = Files.createTempDirectory("lm-feed-f").toString + "/none"
    assert(LogMirror.changesSince(spark, fresh, -1L).count() == 0)
    assert(LogMirror.currentVersion(spark, fresh).isEmpty)
    val root = Files.createTempDirectory("lm-feed-c").toString
    merge(root, changes((1L, "a", "r", 1000L, 0L)), 0L)
    merge(root, changes((1L, "a2", "u", 2000L, 1L)), 1L)
    assert(LogMirror.changesSince(spark, root, 1L).count() == 0,
      "consumer at the head must see an empty feed")
    val before = LogMirror.changesSince(spark, root, 0L)
      .select("id", "v").as[(Long, String)].collect().toSet
    merge(root, changes((1L, "a2", "u", 2000L, 1L)), 1L) // foreachBatch replay
    val after = LogMirror.changesSince(spark, root, 0L)
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(before == after && after == Set((1L, "a2")))
  }

  test("changefeed: a checkpoint older than the compacted base throws " +
    "(re-snapshot contract); one at/after the base reads deltas only") {
    val root = Files.createTempDirectory("lm-feed-r").toString
    merge(root, changes((1L, "a", "r", 1000L, 0L)), 0L, maxDeltas = 2)
    merge(root, changes((2L, "b", "r", 2000L, 1L)), 1L, maxDeltas = 2) // folds → base-1
    merge(root, changes((1L, "a2", "u", 3000L, 2L)), 2L, maxDeltas = 2)
    assert(segmentNames(root) == Set("base-1", "delta-2"))
    val e = intercept[RuntimeException] {
      LogMirror.changesSince(spark, root, 0L)
    }
    assert(e.getMessage.contains("Re-snapshot"))
    val feed = LogMirror.changesSince(spark, root, 1L)
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(feed == Set((1L, "a2")))
  }

  test("segmentStats reports rows and tombstones per live segment, " +
    "base included; empty mirror reports nothing") {
    val fresh = Files.createTempDirectory("lm-stats-e").toString + "/none"
    assert(LogMirror.segmentStats(spark, fresh).count() == 0)
    val root = Files.createTempDirectory("lm-stats").toString
    merge(root, changes((1L, "a", "r", 1000L, 0L), (2L, "b", "r", 1000L, 1L),
      (3L, "c", "r", 1000L, 2L)), 0L)
    merge(root, changes((2L, "", "d", 2000L, 3L)), 1L)
    LogMirror.compact(spark, root) // base-1: 3 rows, 1 tombstone
    merge(root, changes((4L, "d4", "c", 3000L, 4L),
      (1L, "", "d", 3000L, 5L)), 2L)
    val stats = LogMirror.segmentStats(spark, root)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(stats == Set(
      ("base", 1L, 3L, 1L),
      ("delta", 2L, 2L, 1L)))
  }

  test("compactIfNeeded folds on tombstone ratio or delta depth, " +
    "not before") {
    val root = Files.createTempDirectory("lm-policy").toString
    merge(root, changes((1L to 10L).map(i => (i, s"v$i", "r", 1000L, i)): _*), 0L)
    merge(root, changes((1L, "u1", "u", 2000L, 11L)), 1L)
    // 11 rows, 0 tombstones, depth 2 — nothing due
    assert(!LogMirror.compactIfNeeded(spark, root, maxDeltaDepth = 4,
      maxTombstoneRatio = 0.2))
    assert(segmentNames(root) == Set("delta-0", "delta-1"))
    // delete 4 of 10 keys → 15 segment rows, 4 tombstones > 20%
    merge(root, changes((1L to 4L).map(i => (i, "", "d", 3000L, 20L + i)): _*), 2L)
    assert(LogMirror.compactIfNeeded(spark, root, maxDeltaDepth = 4,
      maxTombstoneRatio = 0.2))
    assert(segmentNames(root) == Set("base-2"), "fold must collapse deltas")
    assert(state(root) == (5L to 10L).map(i => i -> s"v$i").toMap)
    // an already-folded mirror (no deltas) is never due
    assert(!LogMirror.compactIfNeeded(spark, root))
    // depth trigger: three 1-row deltas over maxDeltaDepth=2
    merge(root, changes((11L, "a", "c", 4000L, 30L)), 3L)
    merge(root, changes((12L, "b", "c", 4000L, 31L)), 4L)
    merge(root, changes((13L, "c", "c", 4000L, 32L)), 5L)
    assert(LogMirror.compactIfNeeded(spark, root, maxDeltaDepth = 2,
      maxTombstoneRatio = 1.0))
    assert(segmentNames(root) == Set("base-5"))
  }

  test("mergeGroup: one write lands every table's delta; state equals " +
    "per-table merges; absent tables untouched; replay idempotent") {
    val groupRoot = Files.createTempDirectory("lm-grp").toString
    val soloRoot = Files.createTempDirectory("lm-grp-solo").toString
    def tagged(t: String, rows: (Long, String, String, Long, Long)*) =
      changes(rows: _*).withColumn("table_name",
        org.apache.spark.sql.functions.lit(t))
    val tables = Seq("ta", "tb", "tc")
    val members = tables.map(LogMirror.GroupTable(_, keyCols, Seq("id", "v")))
    val b0 = tagged("ta", (1L, "a", "r", 1000L, 0L), (2L, "b", "r", 1000L, 1L))
      .unionByName(tagged("tb", (1L, "x", "r", 1000L, 2L)))
    // tc absent from both batches
    val b1 = tagged("ta", (1L, "a2", "u", 2000L, 3L), (2L, "", "d", 2000L, 4L))
      .unionByName(tagged("tb", (9L, "y", "c", 2000L, 5L)))
    Seq(b0, b1).zipWithIndex.foreach { case (b, i) =>
      LogMirror.mergeGroup(spark, groupRoot, b, members, i.toLong,
        maxDeltas = 16, bucketCount = None)
      tables.foreach { t =>
        val sub = b.filter(col("table_name") === t).drop("table_name")
        if (!sub.isEmpty)
          merge(s"$soloRoot/$t", sub, i.toLong)
      }
    }
    // replay the last group batch (foreachBatch at-least-once)
    LogMirror.mergeGroup(spark, groupRoot, b1, members, 1L,
      maxDeltas = 16, bucketCount = None)
    for (t <- Seq("ta", "tb")) {
      assert(state(s"$groupRoot/$t") == state(s"$soloRoot/$t"),
        s"group and per-table state must match for $t")
      assert(segmentNames(s"$groupRoot/$t") == Set("delta-0", "delta-1"))
    }
    assert(state(s"$groupRoot/ta") == Map(1L -> "a2"))
    assert(state(s"$groupRoot/tb") == Map(1L -> "x", 9L -> "y"))
    assert(!fsOf(groupRoot).exists(
      new org.apache.hadoop.fs.Path(s"$groupRoot/tc")),
      "a table absent from every batch must stay untouched")
    // staging dir cleaned
    assert(!fsOf(groupRoot).listStatus(
      new org.apache.hadoop.fs.Path(groupRoot))
      .exists(_.getPath.getName.startsWith(".log_group_staging")))
  }

  test("purgeKeys removes every trace of the keys — live rows AND " +
    "tombstones — across base and deltas; other keys untouched") {
    val root = Files.createTempDirectory("lm-purge").toString
    merge(root, changes((1L, "a", "r", 1000L, 0L), (2L, "b", "r", 1000L, 1L),
      (3L, "c", "r", 1000L, 2L)), 0L)
    merge(root, changes((2L, "", "d", 2000L, 3L)), 1L)
    LogMirror.compact(spark, root) // base holds 2's tombstone
    merge(root, changes((1L, "a2", "u", 3000L, 4L),
      (4L, "d4", "c", 3000L, 5L)), 2L)
    // purge keys 1 (live, in base AND delta) and 2 (tombstone in base)
    LogMirror.purgeKeys(spark, root, Seq(1L, 2L).toDF("id"))
    assert(state(root) == Map(3L -> "c", 4L -> "d4"))
    // every trace gone: the versioned view (tombstones included) and
    // the raw segment files contain neither key
    val versioned = LogMirror.readVersioned(spark, root)
      .select("id").as[Long].collect().toSet
    assert(versioned == Set(3L, 4L), s"traces remain: $versioned")
    assert(segmentNames(root) == Set("base-3"),
      "purge must publish one fresh base and sweep old segments")
    // a consumer checkpointed before the purge must re-snapshot (and
    // thus never observe the purged keys as a feed row)
    intercept[LogMirror.RetentionLostException] {
      LogMirror.changesSince(spark, root, 2L)
    }
    // the mirror keeps working: new batches merge and read fine
    merge(root, changes((5L, "e", "c", 4000L, 6L)), 4L)
    assert(state(root) == Map(3L -> "c", 4L -> "d4", 5L -> "e"))
  }

  test("readAsOf reconstructs every committed version from the segment " +
    "history; folded-away versions throw; pre-history is empty") {
    val root = Files.createTempDirectory("lm-asof").toString
    merge(root, changes((1L, "a", "r", 1000L, 0L), (2L, "b", "r", 1000L, 1L)), 0L)
    merge(root, changes((1L, "a2", "u", 2000L, 2L)), 1L)
    merge(root, changes((2L, "", "d", 3000L, 3L), (3L, "c", "c", 3000L, 4L)), 2L)
    def asOf(v: Long): Map[Long, String] =
      LogMirror.readAsOf(spark, root, v).select("id", "v")
        .as[(Long, String)].collect().toMap
    assert(asOf(0L) == Map(1L -> "a", 2L -> "b"))
    assert(asOf(1L) == Map(1L -> "a2", 2L -> "b"))
    assert(asOf(2L) == state(root), "head version must equal the live read")
    // a version beyond the head selects every segment (same as live)
    assert(asOf(99L) == state(root))
    // a version before the first commit is the empty pre-history state
    assert(LogMirror.readAsOf(spark, root, -1L).count() == 0)
    // after a fold, states at/after the base id survive; older throw
    LogMirror.compact(spark, root) // base-2
    assert(asOf(2L) == Map(1L -> "a2", 3L -> "c"))
    intercept[LogMirror.RetentionLostException] {
      LogMirror.readAsOf(spark, root, 1L)
    }
    // never-written mirror: empty, never throws
    val fresh = Files.createTempDirectory("lm-asof-e").toString + "/none"
    assert(LogMirror.readAsOf(spark, fresh, 0L).count() == 0)
  }

  test("schema evolution: a delta with a new column backfills null " +
    "into base-era rows") {
    val root = Files.createTempDirectory("lm-evo").toString
    // n is INT in the base era; batch 1 widens it to BIGINT and adds
    // `extra`; batch 2 writes n narrow again and omits `extra`
    def evolving(rows: Seq[(Long, String, Long, Option[Long], String, Long, Long)],
                 nType: String, withExtra: Boolean): DataFrame =
      rows.toDF("id", "v", "n", "extra", "op", "ts_ms", "offset")
        .selectExpr(Seq("id", "v", s"CAST(n AS $nType) AS n") ++
          (if (withExtra) Seq("extra") else Nil) ++
          Seq("op", "ts_ms", "'t' AS topic", "0 AS partition", "offset"): _*)
    LogMirror.merge(spark, root, evolving(Seq(
      (1L, "a", 1L, None, "r", 1000L, 0L), (3L, "c", 3L, None, "r", 1000L, 1L)),
      "INT", withExtra = false), keyCols, 0L, 16, None)
    LogMirror.compact(spark, root) // base-0: n INT, no extra
    val big = 5000000000L // past Int.MaxValue: only a BIGINT read holds it
    LogMirror.merge(spark, root, evolving(Seq(
      (2L, "b", big, Some(7L), "c", 2000L, 2L)), "BIGINT", withExtra = true),
      keyCols, 1L, 16, None)
    LogMirror.merge(spark, root, evolving(Seq(
      (1L, "a2", 10L, None, "u", 3000L, 3L)), "INT", withExtra = false),
      keyCols, 2L, 16, None)

    def rows(df: DataFrame): Map[Long, (Long, Option[Long])] = {
      assert(df.schema("n").dataType == org.apache.spark.sql.types.LongType,
        s"n must read widened: ${df.schema.simpleString}")
      df.select("id", "n", "extra").as[(Long, Long, Option[Long])]
        .collect()
        .map { case (id, n, e) => id -> (n, e) }.toMap
    }
    val head = Map(1L -> (10L, None), 2L -> (big, Some(7L)), 3L -> (3L, None))
    assert(rows(LogMirror.read(spark, root)) == head)
    assert(rows(LogMirror.readAsOf(spark, root, 1L)) ==
      Map(1L -> (1L, None), 2L -> (big, Some(7L)), 3L -> (3L, None)))
    val feed = LogMirror.changesSinceVersioned(spark, root, 0L)
    assert(rows(feed) == Map(1L -> (10L, None), 2L -> (big, Some(7L))))
    assert(feed.select("id", LogMirror.commitVersion).as[(Long, Long)]
      .collect().toMap == Map(1L -> 2L, 2L -> 1L))
    assert(rows(LogMirror.lookup(spark, root, keyCols, Seq(2L))) ==
      Map(2L -> (big, Some(7L))))
    assert(rows(LogMirror.lookup(spark, root, keyCols, Seq(3L))) ==
      Map(3L -> (3L, None)))
    // a second fold writes the widened, evolved base and keeps reading it
    LogMirror.compact(spark, root)
    assert(segmentNames(root) == Set("base-2"))
    assert(rows(LogMirror.read(spark, root)) == head)
    assert(rows(LogMirror.lookup(spark, root, keyCols, Seq(1L))) ==
      Map(1L -> (10L, None)))
  }

  test("a type change that does not widen fails the commit; a " +
    "schema-less manifest is rejected naming the root") {
    val root = Files.createTempDirectory("lm-evo-bad").toString
    merge(root, changes((1L, "a", "r", 1000L, 0L)), 0L)
    val clash = Seq((2L, 5L, "r", 2000L, 1L)).toDF("id", "v", "op", "ts_ms", "offset")
      .selectExpr("id", "v", "op", "ts_ms", "'t' AS topic", "0 AS partition", "offset")
    val e = intercept[RuntimeException](merge(root, clash, 1L))
    assert(e.getMessage.contains("does not widen"), e.getMessage)
    assert(state(root) == Map(1L -> "a"), "the failed commit changed nothing")
    // strip the s: line the way a manifest from before it would read
    val fs = fsOf(root)
    val mf = fs.listStatus(new Path(root)).map(_.getPath)
      .find(_.getName.startsWith("MANIFEST-")).get
    val in = fs.open(mf)
    val kept = try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filterNot(_.startsWith("s:")).mkString("", "\n", "\n")
    finally in.close()
    val out = fs.create(mf, true)
    try out.write(kept.getBytes("UTF-8")) finally out.close()
    val e2 = intercept[RuntimeException](LogMirror.read(spark, root))
    assert(e2.getMessage.contains(root) && e2.getMessage.contains("s:"),
      e2.getMessage)
  }

  test("read shape: building read, changefeed, lookup and segmentStats " +
    "frames over a base + 6 deltas launches no Spark job; read plans one " +
    "parquet scan, two for a bucketed base") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val group = "lm-read-shape"
    val marker = "lm-read-shape-marker"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
          .filter(_ == group)
          .foreach(_ => jobs.add(
            if (e.properties.getProperty("spark.job.description") == marker)
              marker
            else s"job ${e.jobId}"))
    }
    /** Jobs `build` launches: a marker job follows it on the same
      * thread, and the listener bus delivers in order, so once the
      * marker arrives every earlier job start has too. */
    def jobsLaunchedBy(build: => Unit): Seq[String] = {
      jobs.clear()
      val sc = spark.sparkContext
      sc.setJobGroup(group, "read shape")
      try {
        build
        sc.setJobDescription(marker)
        sc.parallelize(Seq(1), 1).count()
      } finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!jobs.contains(marker) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(jobs.contains(marker), "listener never saw the marker job")
      jobs.toArray(Array.empty[String]).toSeq.filterNot(_ == marker)
    }
    def parquetScans(df: DataFrame): Int = {
      val plan: SparkPlan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
      plan.collect { case s: FileSourceScanExec => s }.size
    }
    spark.sparkContext.addSparkListener(listener)
    try for (buckets <- Seq(None, Some(4))) {
      val root = Files.createTempDirectory("lm-shape").toString
      LogMirror.merge(spark, root, changes((1L to 100L).map(i =>
        (i, s"v$i", "r", 1000L, i)): _*), keyCols, 0L, 16, buckets)
      LogMirror.compact(spark, root)
      (1L to 6L).foreach(b => LogMirror.merge(spark, root,
        changes((b, s"u$b", "u", 2000L + b, 1000L + b), (200L + b, "n", "c",
          2000L + b, 2000L + b)), keyCols, b, 16, buckets))
      assert(segmentNames(root).count(_.startsWith("delta-")) == 6)
      var frames = Seq.empty[DataFrame]
      val launched = jobsLaunchedBy {
        frames = Seq(
          LogMirror.read(spark, root),
          LogMirror.changesSinceVersioned(spark, root, 2L),
          LogMirror.lookup(spark, root, keyCols, Seq(3L)),
          LogMirror.segmentStats(spark, root))
      }
      assert(launched.isEmpty,
        s"building the frames (buckets=$buckets) launched jobs: $launched")
      val want = if (buckets.isDefined) 2 else 1
      assert(parquetScans(frames.head) == want,
        s"read must plan $want parquet scan(s):\n" +
          frames.head.queryExecution.executedPlan)
      // and the frames still answer correctly
      assert(state(root)(3L) == "u3" && state(root).size == 106)
      assert(frames(1).count() == 8) // batches 3..6: 2 keys each
      assert(frames(2).select("v").as[String].collect().toSeq == Seq("u3"))
      assert(frames(3).as[(String, Long, Long, Long)].collect().toSet ==
        Set(("base", 0L, 100L, 0L)) ++ (1L to 6L).map(("delta", _, 2L, 0L)))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
