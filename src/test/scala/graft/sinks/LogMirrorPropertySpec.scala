package graft.sinks

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Randomized differential check (seeded, deterministic): for
  * arbitrary op sequences, arbitrary batch splits, random compaction
  * points, random replays and random changefeed checkpoints, the
  * log-structured layout must agree with the sequential reference
  * model — and a feed consumer applying every window must land on the
  * same state. */
class LogMirrorPropertySpec extends SparkSpec {
  import spark.implicits._

  private case class Change(op: String, ts: Long, offset: Long, id: Long,
                            v: String)

  /** Sequential reference model: apply changes in (ts, offset) order. */
  private def model(changes: Seq[Change]): Map[Long, String] =
    changes.sortBy(c => (c.ts, c.offset)).foldLeft(Map.empty[Long, String]) {
      (state, c) =>
        if (c.op == "d") state - c.id else state.updated(c.id, c.v)
    }

  private def toDf(changes: Seq[Change]): DataFrame =
    changes.map(c => ("t.x", 0, c.offset, c.op, c.ts, c.id, c.v))
      .toDF("topic", "partition", "offset", "op", "ts_ms", "id", "v")

  private def genChanges(rnd: Random, n: Int, keys: Int): Seq[Change] =
    (0 until n).map { i =>
      val op = rnd.nextInt(10) match {
        case 0 | 1 => "d"
        case 2 => "c"
        case _ => "u"
      }
      Change(op, ts = rnd.nextInt(50).toLong, offset = i.toLong,
        id = rnd.nextInt(keys).toLong, v = s"v$i")
    }

  private def mirrorState(root: String): Map[Long, String] =
    LogMirror.read(spark, root).select("id", "v")
      .as[(Long, String)].collect().toMap

  test("random batches + random compactions + random replays still " +
    "match the sequential model") {
    val rnd = new Random(614)
    for (trial <- 1 to 4) {
      val root = Files.createTempDirectory(s"lmp-$trial").toString
      val changes = genChanges(rnd, n = 90, keys = 9)
      val batches = changes.grouped(1 + rnd.nextInt(29)).toSeq
      batches.zipWithIndex.foreach { case (b, i) =>
        LogMirror.merge(spark, root, toDf(b), Seq("id"), i.toLong,
          maxDeltas = 1 + rnd.nextInt(4), None)
        if (rnd.nextInt(4) == 0) LogMirror.compact(spark, root)
        if (rnd.nextInt(3) == 0) // at-least-once replay of this batch
          LogMirror.merge(spark, root, toDf(b), Seq("id"), i.toLong,
            maxDeltas = 1 + rnd.nextInt(4), None)
      }
      assert(mirrorState(root) == model(changes),
        s"trial $trial diverged from the sequential model")
    }
  }

  test("a replicator under random folds, random poll cadences and " +
    "random checkpoint-loss crashes still converges the target") {
    val rnd = new Random(2718)
    for (trial <- 1 to 3) {
      val src = Files.createTempDirectory(s"lmpr-s$trial").toString
      val dst = Files.createTempDirectory(s"lmpr-d$trial").toString
      val sink = LogMirrorSink()
      val changes = genChanges(rnd, n = 70, keys = 7)
      val batches = changes.grouped(1 + rnd.nextInt(14)).toSeq
      val fs = new org.apache.hadoop.fs.Path(dst)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      batches.zipWithIndex.foreach { case (b, i) =>
        // small random maxDeltas → folds happen, consumers fall behind
        // retention and must take the re-snapshot path
        LogMirror.merge(spark, src, toDf(b), Seq("id"), i.toLong,
          maxDeltas = 1 + rnd.nextInt(3), None)
        if (rnd.nextInt(2) == 0)
          ChangefeedReplicator.poll(spark, src, dst, sink, Seq("id"))
        if (rnd.nextInt(5) == 0) // crash window: merge landed, ckpt lost
          fs.delete(new org.apache.hadoop.fs.Path(
            s"$dst/_CURSOR"), false)
      }
      ChangefeedReplicator.poll(spark, src, dst, sink, Seq("id"))
      val target = sink.read(spark, dst).select("id", "v")
        .as[(Long, String)].collect().toMap
      assert(target == model(changes),
        s"trial $trial: replicated target diverged from the model")
      assert(target == mirrorState(src),
        s"trial $trial: replicated target diverged from the source")
    }
  }

  test("a changefeed consumer applying every window lands on the " +
    "mirror's state, for random checkpoint cadences") {
    val rnd = new Random(1337)
    for (trial <- 1 to 3) {
      val root = Files.createTempDirectory(s"lmpf-$trial").toString
      val changes = genChanges(rnd, n = 80, keys = 8)
      val batches = changes.grouped(1 + rnd.nextInt(19)).toSeq
      var consumer = Map.empty[Long, String]
      var ckpt = -1L
      def poll(): Unit = {
        val feed = LogMirror.changesSince(spark, root, ckpt)
          .select("id", "v", LogMirror.changeType, LogMirror.commitVersion)
          .as[(Long, String, String, Long)].collect()
        consumer = feed.foldLeft(consumer) {
          case (st, (id, _, "delete", _)) => st - id
          case (st, (id, v, _, _)) => st.updated(id, v)
        }
        LogMirror.currentVersion(spark, root).foreach(v => ckpt = v)
      }
      batches.zipWithIndex.foreach { case (b, i) =>
        // maxDeltas larger than the batch count: retention never lost,
        // so every window is incrementally consumable
        LogMirror.merge(spark, root, toDf(b), Seq("id"), i.toLong,
          maxDeltas = batches.size + 1, None)
        if (rnd.nextInt(2) == 0) poll() // consumer polls at its own pace
      }
      poll()
      assert(consumer == mirrorState(root),
        s"trial $trial: feed consumer diverged from the mirror")
      assert(consumer == model(changes),
        s"trial $trial: feed consumer diverged from the model")
    }
  }
}
