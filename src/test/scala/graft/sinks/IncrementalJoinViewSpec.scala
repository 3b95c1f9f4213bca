package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Incrementally-maintained join view over two CDC log mirrors:
  * convergence of the delta rule against a full-join recompute across
  * fact churn, dim churn, deletes on both sides, inner vs left
  * semantics, crash-replay idempotence, the retention-lost
  * re-derivation (upstream purges included), and the dim-quiet fast
  * path. */
class IncrementalJoinViewSpec extends SparkSpec {
  import spark.implicits._

  private val factKeys = Seq("id")
  private val joinKeys = Seq("fk")

  private def factChanges(rows: (Long, Long, String, String, Long, Long)*): DataFrame =
    rows.toDF("id", "fk", "v", "op", "ts_ms", "offset")

  private def dimChanges(rows: (Long, String, String, Long, Long)*): DataFrame =
    rows.toDF("fk", "dv", "op", "ts_ms", "offset")

  private def roots(tag: String): (String, String, String) = {
    val r = Files.createTempDirectory(s"ijv-$tag").toString
    (s"$r/fact", s"$r/dim", s"$r/view")
  }

  private def mergeFact(root: String, c: DataFrame, batchId: Long,
                        maxDeltas: Int = 16): Unit =
    LogMirror.merge(spark, root, c, factKeys, batchId, maxDeltas, None)

  private def mergeDim(root: String, c: DataFrame, batchId: Long): Unit =
    LogMirror.merge(spark, root, c, joinKeys, batchId, 16, None)

  private def poll(fact: String, dim: String, view: String,
                   joinType: String = "inner"): IncrementalJoinView.Result =
    IncrementalJoinView.poll(spark, fact, dim, view, factKeys, joinKeys,
      joinType)

  /** (id, fk, v, dv) rows of the materialized view. */
  private def viewState(view: String): Set[(Long, Long, String, Option[String])] =
    IncrementalJoinView.read(spark, view)
      .select("id", "fk", "v", "dv")
      .as[(Long, Long, String, Option[String])].collect().toSet

  /** The full-recompute expectation from the two mirrors' live states. */
  private def expected(fact: String, dim: String,
                       joinType: String): Set[(Long, Long, String, Option[String])] = {
    val f = LogMirror.read(spark, fact).select("id", "fk", "v")
      .as[(Long, Long, String)].collect()
    val d = LogMirror.read(spark, dim).select("fk", "dv")
      .as[(Long, String)].collect().toMap
    f.flatMap { case (id, fk, v) =>
      d.get(fk) match {
        case Some(dv) => Some((id, fk, v, Some(dv): Option[String]))
        case None if joinType == "left" => Some((id, fk, v, None))
        case None => None
      }
    }.toSet
  }

  test("fact churn, dim churn and deletes on both sides converge the " +
    "inner view to the full-join recompute at every poll") {
    val (fact, dim, view) = roots("basic")
    mergeDim(dim, dimChanges((10L, "d10", "r", 1000L, 0L),
      (20L, "d20", "r", 1000L, 1L)), 0L)
    mergeFact(fact, factChanges(
      (1L, 10L, "a", "r", 1000L, 0L), (2L, 20L, "b", "r", 1000L, 1L),
      (3L, 30L, "c", "r", 1000L, 2L)), 0L)
    val r0 = poll(fact, dim, view)
    assert(r0.resnapshot, "a virgin view's first poll is a full derivation")
    assert(r0.applied == 3, "2 matched upserts + 1 unmatched-fact delete")
    assert(viewState(view) == expected(fact, dim, "inner"))
    assert(viewState(view) ==
      Set((1L, 10L, "a", Some("d10")), (2L, 20L, "b", Some("d20"))))

    // dim-only churn: update d10, insert the missing key 30 — the fact
    // rows referencing them re-derive from the fact mirror
    mergeDim(dim, dimChanges((10L, "d10x", "u", 2000L, 2L),
      (30L, "d30", "c", 2000L, 3L)), 1L)
    val r1 = poll(fact, dim, view)
    assert(r1.applied == 2, "exactly the two affected fact keys re-derive")
    assert(viewState(view) == expected(fact, dim, "inner"))
    assert(viewState(view)(3L, 30L, "c", Some("d30")),
      "a dim insert pulls a previously-unmatched fact row INTO the view")

    // fact-only churn: update 1 (fk move 10→20), delete 2, insert 4
    mergeFact(fact, factChanges(
      (1L, 20L, "a2", "u", 3000L, 3L), (2L, 20L, "b", "d", 3000L, 4L),
      (4L, 10L, "e", "c", 3000L, 5L)), 1L)
    val r2 = poll(fact, dim, view)
    assert(viewState(view) == expected(fact, dim, "inner"))

    // dim delete: every fact row on fk=20 leaves the inner view
    mergeDim(dim, dimChanges((20L, "", "d", 4000L, 4L)), 2L)
    poll(fact, dim, view)
    assert(viewState(view) == expected(fact, dim, "inner"))
    assert(!viewState(view).exists(_._2 == 20L))

    // caught-up poll is a no-op
    val r4 = poll(fact, dim, view)
    assert(r4.applied == 0 && !r4.resnapshot)
  }

  test("left join keeps unmatched facts with null dim columns, and a " +
    "dim delete degrades its facts to null instead of dropping them") {
    val (fact, dim, view) = roots("left")
    mergeDim(dim, dimChanges((10L, "d10", "r", 1000L, 0L)), 0L)
    mergeFact(fact, factChanges(
      (1L, 10L, "a", "r", 1000L, 0L), (2L, 99L, "b", "r", 1000L, 1L)), 0L)
    poll(fact, dim, view, joinType = "left")
    assert(viewState(view) == expected(fact, dim, "left"))
    assert(viewState(view)(2L, 99L, "b", None))

    mergeDim(dim, dimChanges((10L, "", "d", 2000L, 1L)), 1L)
    poll(fact, dim, view, joinType = "left")
    assert(viewState(view) ==
      Set((1L, 10L, "a", None), (2L, 99L, "b", None)))
  }

  test("differential property: random interleaved change batches and " +
    "poll cadences always converge to the recompute") {
    val rnd = new scala.util.Random(20260813L)
    val (fact, dim, view) = roots("prop")
    mergeDim(dim, dimChanges((1L, "d1", "r", 0L, 0L), (2L, "d2", "r", 0L, 1L),
      (3L, "d3", "r", 0L, 2L)), 0L)
    mergeFact(fact, factChanges(
      (1L, 1L, "v1", "r", 0L, 0L), (2L, 2L, "v2", "r", 0L, 1L)), 0L)
    poll(fact, dim, view)
    var (fb, db) = (0L, 0L)
    (1 to 12).foreach { step =>
      val ts = step * 1000L
      if (rnd.nextBoolean()) { // fact batch: upsert or delete a key 1..8
        fb += 1
        val id = rnd.nextInt(8) + 1L
        val op = if (rnd.nextInt(4) == 0) "d" else "u"
        mergeFact(fact, factChanges(
          (id, rnd.nextInt(4) + 1L, s"v$ts", op, ts, step.toLong)), fb)
      } else { // dim batch: upsert or delete a key 1..4
        db += 1
        val fk = rnd.nextInt(4) + 1L
        val op = if (rnd.nextInt(4) == 0) "d" else "u"
        mergeDim(dim, dimChanges((fk, s"d$ts", op, ts, step.toLong)), db)
      }
      if (rnd.nextInt(3) != 0) { // poll at a random cadence
        poll(fact, dim, view)
        assert(viewState(view) == expected(fact, dim, "inner"),
          s"diverged at step $step")
      }
    }
    poll(fact, dim, view)
    assert(viewState(view) == expected(fact, dim, "inner"))
  }

  test("a crash between merge and checkpoint replays the derivation " +
    "into the same view batch idempotently") {
    val (fact, dim, view) = roots("crash")
    mergeDim(dim, dimChanges((10L, "d10", "r", 1000L, 0L)), 0L)
    mergeFact(fact, factChanges((1L, 10L, "a", "r", 1000L, 0L)), 0L)
    poll(fact, dim, view)
    mergeFact(fact, factChanges((1L, 10L, "a2", "u", 2000L, 1L)), 1L)
    poll(fact, dim, view)
    // crash window: the merge committed, the checkpoint write didn't
    val fs = new org.apache.hadoop.fs.Path(view)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$view/_CURSOR"), false)
    val r = IncrementalJoinView.poll(spark, fact, dim, view, factKeys,
      joinKeys)
    assert(r.resnapshot, "a lost checkpoint re-derives from scratch")
    assert(viewState(view) == expected(fact, dim, "inner"))
    // and the poll after that is a plain incremental no-op
    assert(poll(fact, dim, view).applied == 0)
  }

  test("retention lost on the fact source re-derives the view — " +
    "including tombstoning keys an upstream purge erased") {
    val (fact, dim, view) = roots("ret")
    mergeDim(dim, dimChanges((10L, "d10", "r", 1000L, 0L)), 0L)
    mergeFact(fact, factChanges(
      (1L, 10L, "a", "r", 1000L, 0L), (2L, 10L, "b", "r", 1000L, 1L)),
      0L, maxDeltas = 2)
    poll(fact, dim, view)
    assert(viewState(view).map(_._1) == Set(1L, 2L))

    // the source hard-purges key 2 (no tombstone left to replicate),
    // then two more batches fold past the view's checkpoint
    LogMirror.purgeKeys(spark, fact, Seq(2L).toDF("id"))
    mergeFact(fact, factChanges((3L, 10L, "c", "c", 2000L, 2L)), 5L,
      maxDeltas = 2)
    mergeFact(fact, factChanges((4L, 10L, "e", "c", 3000L, 3L)), 6L,
      maxDeltas = 2)
    val r = poll(fact, dim, view)
    assert(r.resnapshot, "checkpoint behind the folded base")
    assert(viewState(view) == expected(fact, dim, "inner"))
    assert(!viewState(view).exists(_._1 == 2L),
      "the purged key left the view with no record to propagate it")
  }

  test("a dim keyed differently from the join keys is rejected, and " +
    "polling unborn sources is a no-op") {
    val (fact, dim, view) = roots("guard")
    assert(poll(fact, dim, view).applied == 0) // neither mirror exists
    mergeFact(fact, factChanges((1L, 10L, "a", "r", 1000L, 0L)), 0L)
    assert(poll(fact, dim, view).applied == 0) // dim not born
    // dim keyed by (fk, dv) — coarser than the join key
    LogMirror.merge(spark, dim,
      dimChanges((10L, "d10", "r", 1000L, 0L)), Seq("fk", "dv"), 0L, 16, None)
    val e = intercept[IllegalArgumentException](poll(fact, dim, view))
    assert(e.getMessage.contains("keyed by"))
  }
}
