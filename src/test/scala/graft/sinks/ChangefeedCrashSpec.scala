package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc.Materialize
import graft.sinks.CrashFs.{copyTree, deleteRoot, forEveryN, freshRoot, local, quietly, stagingLeft}

/** Crash/replay over every changefeed consumer: for each scenario, a
  * poll crashes at its N-th create, rename or delete ([[CrashFs]]) for
  * EVERY N the clean poll performs, and the next poll must land the
  * target on what a clean poll produces — the source's `Materialize`
  * state for the replica, the one-shot join / GROUP BY for the views.
  * Scenarios: an incremental window (updates, a group move, a delete,
  * a dim change), retention lost behind an upstream `purgeKeys`, and a
  * lost cursor. A converged target keeps no group-merge staging dir. */
class ChangefeedCrashSpec extends SparkSpec {
  import spark.implicits._

  CrashFs.register(spark.sparkContext.hadoopConfiguration)

  private def fact(rows: (Long, Long, Long, String, Long, Long)*): DataFrame =
    rows.toDF("id", "g", "x", "op", "ts_ms", "offset")
  private def dim(rows: (Long, String, String, Long, Long)*): DataFrame =
    rows.toDF("g", "tipo", "op", "ts_ms", "offset")

  private def factRoot(root: String) = s"$root/fact"
  private def dimRoot(root: String) = s"$root/dim"

  /** A consumer: its target under a fixture root, one poll, its target's
    * state and the one-shot answer over the fixture's sources. */
  private case class Consumer(name: String, target: String => String,
                              poll: String => Unit,
                              state: String => DataFrame,
                              oracle: (String, DataFrame) => DataFrame)

  private val replica = Consumer("ChangefeedReplicator", r => s"$r/replica",
    r => ChangefeedReplicator.poll(spark, factRoot(r), s"$r/replica",
      LogMirrorSink(), Seq("id")),
    r => LogMirror.read(spark, s"$r/replica"),
    (_, changes) => Materialize.currentState(changes, Seq("id")))
  private val joinView = Consumer("IncrementalJoinView", r => s"$r/join",
    r => IncrementalJoinView.poll(spark, factRoot(r), dimRoot(r), s"$r/join",
      Seq("id"), Seq("g"), dimCols = Seq("tipo")),
    r => IncrementalJoinView.read(spark, s"$r/join"),
    (r, _) => LogMirror.read(spark, factRoot(r))
      .join(LogMirror.read(spark, dimRoot(r)).select("g", "tipo"), "g"))
  private val aggs = Seq(sum(col("x")).as("sum_x"), count(lit(1)).as("n"))
  private val aggView = Consumer("IncrementalAggView", r => s"$r/agg",
    r => IncrementalAggView.poll(spark, factRoot(r), s"$r/agg", Seq("g"), aggs),
    r => IncrementalAggView.read(spark, s"$r/agg"),
    (r, _) => LogMirror.read(spark, factRoot(r)).groupBy("g")
      .agg(aggs.head, aggs.tail: _*))
  private val consumers = Seq(replica, joinView, aggView)

  private def rows(df: DataFrame): Set[Row] = {
    val cols = df.columns.sorted
    df.select(cols.map(col).toIndexedSeq: _*).collect().toSet
  }

  /** A fixture step: moves the sources on from what every consumer
    * last saw (batch 0 and one clean poll); returns the fact changes it
    * merged. `purged` keys are hard-deleted upstream. */
  private case class Scenario(name: String, step: String => Seq[DataFrame],
                              purged: Seq[Long] = Nil)

  private val base = fact((1L, 1L, 10L, "r", 1000L, 0L), (2L, 1L, 20L, "r", 1000L, 1L),
    (3L, 2L, 30L, "r", 1000L, 2L), (4L, 2L, 40L, "r", 1000L, 3L))
  private val wave = fact((2L, 2L, 21L, "u", 2000L, 4L), // moves group 1 -> 2
    (3L, 0L, 0L, "d", 2000L, 5L), (5L, 3L, 50L, "c", 2000L, 6L))

  private val scenarios = Seq(
    Scenario("incremental window", r => {
      LogMirror.merge(spark, factRoot(r), wave, Seq("id"), 1L, 16, None)
      LogMirror.merge(spark, dimRoot(r), dim((1L, "t1b", "u", 2000L, 2L),
        (3L, "t3", "c", 2000L, 3L)), Seq("g"), 1L, 16, None)
      Seq(wave)
    }),
    Scenario("retention lost behind an upstream purge", r => {
      LogMirror.purgeKeys(spark, factRoot(r), Seq(4L).toDF("id"))
      // two more batches at maxDeltas = 2 fold the fact past the cursor
      val more = fact((1L, 1L, 11L, "u", 3000L, 7L))
      LogMirror.merge(spark, factRoot(r), wave, Seq("id"), 5L, 2, None)
      LogMirror.merge(spark, factRoot(r), more, Seq("id"), 6L, 2, None)
      Seq(wave, more)
    }, purged = Seq(4L)),
    Scenario("lost cursor", r => {
      LogMirror.merge(spark, factRoot(r), wave, Seq("id"), 1L, 16, None)
      consumers.foreach(c => Files.delete(local(s"${c.target(r)}/_CURSOR")))
      Seq(wave)
    }))

  /** Builds the scenario's fixture under a fresh root; returns the root
    * and every fact change. */
  private def fixture(s: Scenario): (String, DataFrame) = {
    val root = freshRoot("cfcrash")
    LogMirror.merge(spark, factRoot(root), base, Seq("id"), 0L, 16, None)
    LogMirror.merge(spark, dimRoot(root), dim((1L, "t1", "r", 1000L, 0L),
      (2L, "t2", "r", 1000L, 1L)), Seq("g"), 0L, 16, None)
    consumers.foreach(_.poll(root))
    (root, (base +: s.step(root)).reduce(_.unionByName(_))
      .filter(!col("id").isin(s.purged: _*)))
  }

  /** A clean poll of `c` over a copy of the fixture; returns the copy's
    * root and the poll's numbered operations. */
  private def cleanCopy(template: String, c: Consumer): (String, Seq[String]) = {
    val root = freshRoot("cfcrash-clean")
    copyTree(template, root)
    CrashFs.arm(root)
    c.poll(root)
    (root, CrashFs.disarm(root))
  }

  /** Polls `c` over a copy of the fixture, crashing at operation `at`;
    * returns the copy's root. */
  private def crashedCopy(template: String, c: Consumer, at: Int): String = {
    val root = freshRoot("cfcrash-run")
    copyTree(template, root)
    CrashFs.arm(root, at)
    val crashed = try { c.poll(root); false } catch { case _: Exception => true }
    CrashFs.disarm(root)
    assert(crashed, s"${c.name}: no crash at operation $at")
    root
  }

  for (s <- scenarios; c <- consumers)
    test(s"${c.name}, ${s.name}: a crash at every create, rename or " +
      "delete of the poll converges on the next poll") { quietly(spark.sparkContext) {
      val (template, changes) = fixture(s)
      val (clean, ops) = cleanCopy(template, c)
      val want = rows(c.oracle(clean, changes))
      assert(rows(c.state(clean)) == want, s"${c.name}: clean poll")
      assert(ops.nonEmpty)
      forEveryN(ops.size) { n =>
        val root = crashedCopy(template, c, n)
        try {
          c.poll(root)
          assert(rows(c.state(root)) == want,
            s"${c.name}: crash at operation $n of ${ops.size} diverged")
          assert(!stagingLeft(root), s"${c.name}: a group merge's staging " +
            s"outlives the crash at operation $n")
          if (c == replica && s.purged.nonEmpty) // not even a tombstone
            assert(LogMirror.readVersioned(spark, c.target(root))
              .filter(col("id").isin(s.purged: _*)).isEmpty,
              s"purged keys survive a crash at operation $n")
        } finally deleteRoot(root)
      }
    }}

  test("IncrementalAggView: a crash between the agg and keymap manifest " +
    "commits of the view's one group merge converges on the next poll") {
    quietly(spark.sparkContext) {
      val (template, changes) = fixture(scenarios.head)
      val (clean, ops) = cleanCopy(template, aggView)
      val agg = ops.indexWhere(o => o.startsWith("rename") &&
        o.endsWith("/agg/agg/MANIFEST-1"))
      val keymap = ops.indexWhere(o => o.startsWith("rename") &&
        o.endsWith("/agg/keymap/MANIFEST-1"))
      assert(agg >= 0 && keymap > agg, ops.mkString("\n"))
      val root = crashedCopy(template, aggView, keymap + 1)
      assert(LogMirror.currentVersion(spark, s"$root/agg/agg").contains(1L))
      assert(LogMirror.currentVersion(spark, s"$root/agg/keymap").contains(0L))
      aggView.poll(root)
      assert(rows(aggView.state(root)) == rows(aggView.oracle(root, changes)))
      assert(rows(aggView.state(root)) == rows(aggView.state(clean)))
    }
  }
}
