package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Downstream replication off the log mirror's changefeed: incremental
  * convergence, delete propagation, caught-up no-ops, crash-replay
  * idempotence, the retention-lost re-snapshot path, and sink
  * agnosticism (LogMirror and custom-sink targets). */
class ChangefeedReplicatorSpec extends SparkSpec {
  import spark.implicits._

  private val keyCols = Seq("id")

  private def changes(rows: (Long, String, String, Long, Long)*): DataFrame =
    rows.toDF("id", "v", "op", "ts_ms", "offset")
      .selectExpr("id", "v", "op", "ts_ms", "'t' AS topic",
        "0 AS partition", "offset")

  private def srcMerge(root: String, c: DataFrame, batchId: Long,
                       maxDeltas: Int = 16): Unit =
    LogMirror.merge(spark, root, c, keyCols, batchId, maxDeltas, None)

  private def state(sink: MirrorSink, root: String): Map[Long, String] =
    sink.read(spark, root).select("id", "v")
      .as[(Long, String)].collect().toMap

  private def srcState(root: String): Map[Long, String] =
    LogMirror.read(spark, root).select("id", "v")
      .as[(Long, String)].collect().toMap

  test("incremental polls converge the target after every source " +
    "batch; deletes propagate; caught-up polls are no-ops") {
    val src = Files.createTempDirectory("cfr-src").toString
    val dst = Files.createTempDirectory("cfr-dst").toString
    val sink = LogMirrorSink()
    srcMerge(src, changes((1L, "a", "r", 1000L, 0L),
      (2L, "b", "r", 1000L, 1L)), 0L)
    val r0 = ChangefeedReplicator.poll(spark, src, dst, sink, keyCols)
    assert(r0.applied == 2 && !r0.resnapshot && r0.toVersion.contains(0L))
    assert(state(sink, dst) == srcState(src))

    srcMerge(src, changes((1L, "a2", "u", 2000L, 2L),
      (2L, "", "d", 2000L, 3L), (3L, "c", "c", 2000L, 4L)), 1L)
    val r1 = ChangefeedReplicator.poll(spark, src, dst, sink, keyCols)
    assert(r1.applied == 3 && r1.fromVersion.contains(0L) &&
      r1.toVersion.contains(1L))
    assert(state(sink, dst) == Map(1L -> "a2", 3L -> "c"))
    assert(state(sink, dst) == srcState(src))

    val r2 = ChangefeedReplicator.poll(spark, src, dst, sink, keyCols)
    assert(r2.applied == 0 && r2.fromVersion == r2.toVersion)
  }

  test("a crash between merge and checkpoint re-applies the window " +
    "idempotently on the next poll") {
    val src = Files.createTempDirectory("cfr-crash-s").toString
    val dst = Files.createTempDirectory("cfr-crash-d").toString
    val sink = LogMirrorSink()
    srcMerge(src, changes((1L, "a", "r", 1000L, 0L)), 0L)
    ChangefeedReplicator.poll(spark, src, dst, sink, keyCols)
    srcMerge(src, changes((1L, "a2", "u", 2000L, 1L)), 1L)
    ChangefeedReplicator.poll(spark, src, dst, sink, keyCols)
    // simulate the crash window: merge landed, checkpoint didn't
    val fs = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ckpt = new org.apache.hadoop.fs.Path(s"$dst/_CURSOR")
    fs.delete(ckpt, false)
    assert(ChangefeedConsumer.readCursor(spark, dst).isEmpty)
    val r = ChangefeedReplicator.poll(spark, src, dst, sink, keyCols)
    assert(r.resnapshot == false)
    assert(state(sink, dst) == Map(1L -> "a2"))
    assert(ChangefeedConsumer.readCursor(spark, dst)
      .flatMap(_.versions.get("source")).contains(1L))
  }

  test("retention lost: a consumer behind the compacted base " +
    "re-snapshots once — missed deletes included — then resumes " +
    "incrementally") {
    val src = Files.createTempDirectory("cfr-ret-s").toString
    val dst = Files.createTempDirectory("cfr-ret-d").toString
    val sink = LogMirrorSink()
    srcMerge(src, changes((1L, "a", "r", 1000L, 0L),
      (2L, "b", "r", 1000L, 1L)), 0L, maxDeltas = 2)
    ChangefeedReplicator.poll(spark, src, dst, sink, keyCols)
    // two more source batches; the second trips compaction, so the
    // consumer's checkpoint (0) now predates the base
    srcMerge(src, changes((2L, "", "d", 2000L, 2L)), 1L, maxDeltas = 2)
    srcMerge(src, changes((3L, "c", "c", 3000L, 3L)), 2L, maxDeltas = 2)
    val r = ChangefeedReplicator.poll(spark, src, dst, sink, keyCols)
    assert(r.resnapshot, "poll must take the re-snapshot path")
    assert(state(sink, dst) == Map(1L -> "a", 3L -> "c"),
      "the delete folded into the base must still reach the target")
    assert(state(sink, dst) == srcState(src))
    // back to incremental
    srcMerge(src, changes((4L, "d4", "c", 4000L, 4L)), 3L, maxDeltas = 4)
    val r2 = ChangefeedReplicator.poll(spark, src, dst, sink, keyCols)
    assert(!r2.resnapshot && r2.applied == 1)
    assert(state(sink, dst) == srcState(src))
  }

  test("an upstream hard purge reaches the replicated target through " +
    "the re-snapshot: no trace survives on either side") {
    val src = Files.createTempDirectory("cfr-purge-s").toString
    val dst = Files.createTempDirectory("cfr-purge-d").toString
    val sink = LogMirrorSink()
    srcMerge(src, changes((1L, "a", "r", 1000L, 0L), (2L, "b", "r", 1000L, 1L),
      (3L, "c", "r", 1000L, 2L)), 0L)
    ChangefeedReplicator.poll(spark, src, dst, sink, keyCols)
    assert(state(sink, dst) == Map(1L -> "a", 2L -> "b", 3L -> "c"))

    LogMirror.purgeKeys(spark, src, Seq(2L).toDF("id"))
    val r = ChangefeedReplicator.poll(spark, src, dst, sink, keyCols)
    assert(r.resnapshot, "a purge folds the source past the checkpoint")
    assert(state(sink, dst) == Map(1L -> "a", 3L -> "c"))
    // the forgotten key left no trace on the target — not even a
    // tombstone in the versioned view
    val traces = LogMirror.readVersioned(spark, dst)
      .select("id").as[Long].collect().toSet
    assert(traces == Set(1L, 3L), s"target retains purged traces: $traces")
    // replication continues normally afterwards
    srcMerge(src, changes((4L, "d", "c", 2000L, 3L)), 2L)
    ChangefeedReplicator.poll(spark, src, dst, sink, keyCols)
    assert(state(sink, dst) == srcState(src))
  }

  test("sink-agnostic: a non-LogMirror target converges identically") {
    val src = Files.createTempDirectory("cfr-map-s").toString
    val dst = Files.createTempDirectory("cfr-map-d").toString
    val sink = new MapSink
    srcMerge(src, changes((1L, "a", "r", 1000L, 0L),
      (2L, "b", "r", 1000L, 1L)), 0L)
    ChangefeedReplicator.poll(spark, src, dst, sink, keyCols)
    srcMerge(src, changes((1L, "", "d", 2000L, 2L)), 1L)
    ChangefeedReplicator.poll(spark, src, dst, sink, keyCols)
    assert(state(sink, dst) == Map(2L -> "b"))
    assert(state(sink, dst) == srcState(src))
  }

  test("polling an empty (never-written) source is a no-op, and " +
    "source == target roots are rejected") {
    val src = Files.createTempDirectory("cfr-empty-s").toString + "/none"
    val dst = Files.createTempDirectory("cfr-empty-d").toString
    val r = ChangefeedReplicator.poll(spark, src, dst, LogMirrorSink(), keyCols)
    assert(r.applied == 0 && r.toVersion.isEmpty)
    intercept[IllegalArgumentException] {
      ChangefeedReplicator.poll(spark, dst, dst, LogMirrorSink(), keyCols)
    }
  }
}
