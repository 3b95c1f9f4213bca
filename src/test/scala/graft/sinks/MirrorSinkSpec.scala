package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.streaming.{CdcPipeline, Rec}

/** The MirrorSink adapter contract: the pipeline's merge plan is
  * sink-agnostic — a custom sink (the stand-in for a Delta/Iceberg
  * row-level MERGE) plugs in via Config.sinkOverride and receives the
  * versioned change batches; plain and bucketed log mirrors and the
  * custom sink produce identical state for identical input. */
class MirrorSinkSpec extends SparkSpec {
  import spark.implicits._

  private val rowSchema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def env(id: Long, v: String, op: String, ts: Long): String =
    if (op == "d") s"""{"payload":{"after":null,"op":"d","ts_ms":$ts}}"""
    else s"""{"payload":{"after":{"id":$id,"v":"$v"},"op":"$op","ts_ms":$ts}}"""

  private def rec(table: String, id: Long, v: String, op: String,
                  ts: Long, off: Long) =
    Rec(s"mysql-server.pos_bi_db.$table", s"""{"payload":{"id":$id}}""",
      env(id, v, op, ts), 0, off)

  private def cfg(sink: Option[MirrorSink]) = {
    val root = Files.createTempDirectory("graft-sink").toString
    CdcPipeline.Config(rowSchema, Seq("id"), s"$root/mirror",
      s"$root/dlq", s"$root/ckpt", sinkOverride = sink)
  }

  test("a custom sink plugged via sinkOverride receives every table's " +
    "versioned change batches") {
    val sink = new MapSink
    val c = cfg(Some(sink))
    val batch = Seq(
      rec("ventas", 1, "a", "r", 1000, 0),
      rec("ventas", 2, "b", "r", 1000, 1),
      rec("compras", 7, "z", "r", 1000, 2)).toDS().toDF()
    CdcPipeline.processBatch(batch, 0L, c)
    assert(sink.mergeCalls.get() == 2, "one merge per table")

    val b2 = Seq(
      rec("ventas", 1, "a2", "u", 2000, 3),
      rec("ventas", 2, "", "d", 2000, 4)).toDS().toDF()
    CdcPipeline.processBatch(b2, 1L, c)

    val ventas = CdcPipeline.mirror(spark, c, "ventas").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(ventas == Seq((1L, "a2")), s"got $ventas")
    assert(CdcPipeline.lookup(spark, c, "compras", Seq(7L)).count() == 1)
  }

  test("plain and bucketed log-structured sinks and a custom sink " +
    "produce identical state for identical input") {
    val plainCfg = cfg(Some(LogMirrorSink(maxDeltas = 2)))
    val bucketCfg = cfg(Some(LogMirrorSink(maxDeltas = 2, bucketCount = Some(4))))
    val mapCfg = cfg(Some(new MapSink))
    val all = Seq(plainCfg, bucketCfg, mapCfg)
    val batches = Seq(
      Seq(rec("ventas", 1, "a", "r", 1000, 0), rec("ventas", 2, "b", "r", 1000, 1),
        rec("ventas", 3, "c", "r", 1000, 2)),
      Seq(rec("ventas", 1, "a2", "u", 2000, 3), rec("ventas", 2, "", "d", 2000, 4),
        rec("ventas", 9, "i", "c", 2000, 5)))
    batches.zipWithIndex.foreach { case (b, i) =>
      val df = b.toDS().toDF()
      all.foreach(c => CdcPipeline.processBatch(df, i.toLong, c))
    }
    // replay the last batch against both log sinks (maxDeltas=2 means
    // the second batch compacted — the replay exercises the
    // post-compaction idempotence path through the full pipeline)
    Seq(plainCfg, bucketCfg).foreach(c =>
      CdcPipeline.processBatch(batches.last.toDS().toDF(), 1L, c))
    def state(c: CdcPipeline.Config) =
      CdcPipeline.mirror(spark, c, "ventas").orderBy("id").collect()
        .map(r => (r.getLong(r.fieldIndex("id")), r.getString(r.fieldIndex("v")))).toSeq
    assert(state(plainCfg) == state(bucketCfg))
    assert(state(plainCfg) == state(mapCfg))
    assert(state(plainCfg) == Seq((1L, "a2"), (3L, "c"), (9L, "i")))
    // all three serve lookups and agree on them too
    all.foreach(c =>
      assert(CdcPipeline.lookup(spark, c, "ventas", Seq(9L)).count() == 1))
  }
}
