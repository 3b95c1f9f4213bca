package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Incrementally-maintained aggregate view over a log mirror's
  * changefeed: dirty-group recompute convergence (group MOVES retract
  * via the key→group sidecar map; deletes find their group there too),
  * emptied-group tombstones, null group keys, crash-replay, the
  * retention-lost full re-derivation, and a randomized differential
  * run. */
class IncrementalAggViewSpec extends SparkSpec {
  import spark.implicits._

  private val srcKeys = Seq("id")
  private val groupCols = Seq("g")
  private val aggs = Seq(sum(col("x")).as("sum_x"),
    count(lit(1)).as("n_rows"))

  private def changes(rows: (Long, String, Long, String, Long, Long)*): DataFrame =
    rows.toDF("id", "g", "x", "op", "ts_ms", "offset")

  private def roots(tag: String): (String, String) = {
    val r = Files.createTempDirectory(s"iav-$tag").toString
    (s"$r/src", s"$r/view")
  }

  private def mergeSrc(root: String, c: DataFrame, batchId: Long,
                       maxDeltas: Int = 16): Unit =
    LogMirror.merge(spark, root, c, srcKeys, batchId, maxDeltas, None)

  private def poll(src: String, view: String): IncrementalAggView.Result =
    IncrementalAggView.poll(spark, src, view, groupCols, aggs)

  private def viewState(view: String): Set[(Option[String], Long, Long)] =
    IncrementalAggView.read(spark, view)
      .select("g", "sum_x", "n_rows")
      .as[(Option[String], Long, Long)].collect().toSet

  private def expected(src: String): Set[(Option[String], Long, Long)] =
    LogMirror.read(spark, src).groupBy("g")
      .agg(sum("x").as("sum_x"), count(lit(1)).as("n_rows"))
      .as[(Option[String], Long, Long)].collect().toSet

  test("inserts, updates, group moves and deletes converge the view " +
    "to the recompute at every poll — old groups retract via the map") {
    val (src, view) = roots("basic")
    mergeSrc(src, changes((1L, "a", 10L, "r", 1000L, 0L),
      (2L, "a", 5L, "r", 1000L, 1L), (3L, "b", 7L, "r", 1000L, 2L)), 0L)
    val r0 = poll(src, view)
    assert(r0.resnapshot && r0.groupsRefreshed == 2)
    assert(viewState(view) == expected(src))
    assert(viewState(view) ==
      Set((Some("a"), 15L, 2L), (Some("b"), 7L, 1L)))

    // key 2 MOVES a→b: both groups must refresh (post-image feeds say
    // nothing about 'a' — only the sidecar map can)
    mergeSrc(src, changes((2L, "b", 5L, "u", 2000L, 3L)), 1L)
    val r1 = poll(src, view)
    assert(!r1.resnapshot && r1.groupsRefreshed == 2,
      "the move dirties its old AND new group")
    assert(viewState(view) ==
      Set((Some("a"), 10L, 1L), (Some("b"), 12L, 2L)))

    // delete key 3 — its group comes from the map (the tombstone has
    // no payload); 'b' keeps key 2
    mergeSrc(src, changes((3L, "", 0L, "d", 3000L, 4L)), 2L)
    poll(src, view)
    assert(viewState(view) == expected(src))

    // delete key 1: group 'a' empties → its agg row tombstones
    // (b already shrank to key 2 alone when key 3 was deleted above)
    mergeSrc(src, changes((1L, "", 0L, "d", 4000L, 5L)), 3L)
    poll(src, view)
    assert(viewState(view) == Set((Some("b"), 5L, 1L)))
    assert(poll(src, view).groupsRefreshed == 0, "caught-up no-op")
  }

  test("null group keys aggregate and maintain like any other group") {
    val (src, view) = roots("null")
    mergeSrc(src, Seq((1L, Option.empty[String], 3L, "r", 1000L, 0L),
      (2L, Option("a"), 4L, "r", 1000L, 1L))
      .toDF("id", "g", "x", "op", "ts_ms", "offset"), 0L)
    poll(src, view)
    assert(viewState(view) == Set((None, 3L, 1L), (Some("a"), 4L, 1L)))
    // a second null-group row must refresh the null group incrementally
    mergeSrc(src, Seq((3L, Option.empty[String], 5L, "c", 2000L, 2L))
      .toDF("id", "g", "x", "op", "ts_ms", "offset"), 1L)
    val r = poll(src, view)
    assert(!r.resnapshot)
    assert(viewState(view) == Set((None, 8L, 2L), (Some("a"), 4L, 1L)))
  }

  test("a lost checkpoint re-derives the whole view and converges; " +
    "the poll after that is incremental again") {
    val (src, view) = roots("crash")
    mergeSrc(src, changes((1L, "a", 1L, "r", 1000L, 0L)), 0L)
    poll(src, view)
    mergeSrc(src, changes((2L, "b", 2L, "c", 2000L, 1L)), 1L)
    poll(src, view)
    val fs = new org.apache.hadoop.fs.Path(view)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$view/_CURSOR"), false)
    val r = poll(src, view)
    assert(r.resnapshot)
    assert(viewState(view) == expected(src))
    mergeSrc(src, changes((3L, "a", 3L, "c", 3000L, 2L)), 2L)
    val r2 = poll(src, view)
    assert(!r2.resnapshot && viewState(view) == expected(src))
  }

  test("retention lost re-derives: groups emptied and keys purged " +
    "while the window was lost still leave the view") {
    val (src, view) = roots("ret")
    mergeSrc(src, changes((1L, "a", 1L, "r", 1000L, 0L),
      (2L, "b", 2L, "r", 1000L, 1L)), 0L, maxDeltas = 2)
    poll(src, view)
    assert(viewState(view).map(_._1) == Set(Some("a"), Some("b")))
    // purge key 2 (no tombstone survives), then fold past the checkpoint
    LogMirror.purgeKeys(spark, src, Seq(2L).toDF("id"))
    mergeSrc(src, changes((3L, "a", 3L, "c", 2000L, 2L)), 5L, maxDeltas = 2)
    mergeSrc(src, changes((4L, "a", 4L, "c", 3000L, 3L)), 6L, maxDeltas = 2)
    val r = poll(src, view)
    assert(r.resnapshot)
    assert(viewState(view) == expected(src))
    assert(!viewState(view).exists(_._1.contains("b")),
      "group 'b' lost its only (purged) key and must be gone")
  }

  test("arbitrary aggregates maintain: dirty-group recompute reads the " +
    "source's current rows, so count_distinct and avg need no mergeable " +
    "state") {
    val (src, view) = roots("anyagg")
    val anyAggs = Seq(countDistinct(col("x")).as("nd_x"),
      round(avg(col("x")), 4).as("avg_x"))
    def pollA() = IncrementalAggView.poll(spark, src, view, groupCols, anyAggs)
    def state() = IncrementalAggView.read(spark, view)
      .select("g", "nd_x", "avg_x")
      .as[(Option[String], Long, Double)].collect().toSet
    def recompute() = LogMirror.read(spark, src).groupBy("g")
      .agg(countDistinct(col("x")).as("nd_x"), round(avg(col("x")), 4).as("avg_x"))
      .as[(Option[String], Long, Double)].collect().toSet
    mergeSrc(src, changes((1L, "a", 10L, "r", 1000L, 0L),
      (2L, "a", 10L, "r", 1000L, 1L), (3L, "a", 4L, "r", 1000L, 2L),
      (4L, "b", 7L, "r", 1000L, 3L)), 0L)
    pollA()
    assert(state() == Set((Some("a"), 2L, 8.0), (Some("b"), 1L, 7.0)))
    // key 2 changes value (10→4): distinct count in 'a' stays 2 but the
    // set changes; key 4 moves b→a shrinking 'b' to nothing
    mergeSrc(src, changes((2L, "a", 4L, "u", 2000L, 4L),
      (4L, "a", 10L, "u", 2000L, 5L)), 1L)
    val r = pollA()
    assert(!r.resnapshot)
    assert(state() == recompute())
    assert(state() == Set((Some("a"), 2L, 7.0)))
  }

  test("differential property: random interleaved upserts, moves and " +
    "deletes at random poll cadences always converge") {
    val rnd = new scala.util.Random(20260814L)
    val (src, view) = roots("prop")
    mergeSrc(src, changes((1L, "g1", 1L, "r", 0L, 0L)), 0L)
    poll(src, view)
    var b = 0L
    (1 to 15).foreach { step =>
      val ts = step * 1000L
      b += 1
      val id = rnd.nextInt(10) + 1L
      val op = if (rnd.nextInt(4) == 0) "d" else "u"
      mergeSrc(src, changes(
        (id, s"g${rnd.nextInt(4) + 1}", rnd.nextInt(100).toLong, op, ts,
          step.toLong)), b)
      if (rnd.nextInt(3) != 0) {
        poll(src, view)
        assert(viewState(view) == expected(src), s"diverged at step $step")
      }
    }
    poll(src, view)
    assert(viewState(view) == expected(src))
  }
}
