package graft.streaming

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** Plan audit for the unified CDC group merge: tables sharing a row
  * schema and key must land their delta segments from ONE job whose
  * plan has exactly TWO shuffles — the `(table_name, pk)`-keyed
  * latest-per-key aggregation, then the writer-sizing repartition on
  * `(table_name, _fg)` that bounds output files per table from the
  * batch's row counts (the per-file create tax of a 288-file dynamic-
  * partition commit was the measured merge floor) — feeding one
  * partitioned write, instead of an agg + write per table (PLANS.md
  * "CDC group merge"). Captured from the REAL pipeline via a
  * QueryExecutionListener, on the default sink and on an explicitly
  * configured LogMirrorSink, so a refactor that silently reverts to
  * per-table merges, adds a DATA shuffle, or drops the sizing exchange
  * fails here. */
class GroupMergePlanSpec extends SparkSpec {
  import spark.implicits._

  private val rowSchema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def rec(table: String, id: Long, off: Long) =
    Rec(s"mysql-server.pos_bi_db.$table", s"""{"payload":{"id":$id}}""",
      s"""{"payload":{"after":{"id":$id,"v":"x$id"},"op":"r","ts_ms":1000}}""",
      0, off)

  test("same-schema tables merge as one write job: keyed agg shuffle + writer-sizing repartition") {
    val captured = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = captured.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val root = Files.createTempDirectory("graft-gm").toString
      val cfg = CdcPipeline.Config(rowSchema, Seq("id"), s"$root/mirror",
        s"$root/dlq", s"$root/ckpt")
      val batch = Seq(
        rec("ventas", 1, 0), rec("ventas", 2, 1),
        rec("compras", 7, 2), rec("gastos", 9, 3)).toDS().toDF()
      CdcPipeline.processBatch(batch, 0L, cfg)
      // the listener bus is async
      val deadline = System.nanoTime() + 10000000000L
      def writes = captured.asScala.toSeq.map(_.executedPlan.toString)
        .filter(_.contains("WriteFiles"))
        .filterNot(_.contains("dlq"))
      while (writes.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)

      val mirrorWrites = writes.filter(_.contains("table_name"))
      assert(mirrorWrites.size == 1,
        s"3 same-schema tables must produce ONE group write, got " +
          s"${mirrorWrites.size}:\n${writes.mkString("\n----\n")}")
      // AQE's toString appends an "== Initial Plan ==" section that
      // repeats every node — count shuffles in the final plan only
      val finalPlan = mirrorWrites.head.split("== Initial Plan ==").head
      val exchanges = "Exchange".r.findAllIn(finalPlan).size
      assert(exchanges == 2,
        s"group merge = keyed agg shuffle + writer-sizing repartition, " +
          s"got $exchanges:\n" + finalPlan.take(2000))
      assert(finalPlan.contains("REPARTITION_BY_NUM"),
        s"writer-sizing exchange missing:\n" + finalPlan.take(2000))
    } finally spark.listenerManager.unregister(listener)
  }

  test("the LOG-STRUCTURED group path also lands every table's delta " +
    "from one write job with the same two-exchange shape") {
    val captured = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = captured.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val root = Files.createTempDirectory("graft-gml").toString
      val cfg = CdcPipeline.Config(rowSchema, Seq("id"), s"$root/mirror",
        s"$root/dlq", s"$root/ckpt",
        sinkOverride = Some(graft.sinks.LogMirrorSink()))
      val batch = Seq(
        rec("ventas", 1, 0), rec("ventas", 2, 1),
        rec("compras", 7, 2), rec("gastos", 9, 3)).toDS().toDF()
      CdcPipeline.processBatch(batch, 0L, cfg)
      val deadline = System.nanoTime() + 10000000000L
      def writes = captured.asScala.toSeq.map(_.executedPlan.toString)
        .filter(_.contains("WriteFiles"))
        .filterNot(_.contains("dlq"))
      while (writes.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)

      val mirrorWrites = writes.filter(_.contains("table_name"))
      assert(mirrorWrites.size == 1,
        s"3 same-schema tables must produce ONE grouped delta write, " +
          s"got ${mirrorWrites.size}:\n${writes.mkString("\n----\n")}")
      val finalPlan = mirrorWrites.head.split("== Initial Plan ==").head
      val exchanges = "Exchange".r.findAllIn(finalPlan).size
      assert(exchanges == 2,
        s"grouped log merge = keyed agg shuffle + writer-sizing " +
          s"repartition, got $exchanges:\n" + finalPlan.take(2000))
      assert(finalPlan.contains("REPARTITION_BY_NUM"),
        s"writer-sizing exchange missing:\n" + finalPlan.take(2000))
      // and the segments actually landed per table
      for (t <- Seq("ventas", "compras", "gastos"))
        assert(graft.sinks.LogMirror.read(spark, s"$root/mirror/$t")
          .count() > 0, s"$t segment missing")
    } finally spark.listenerManager.unregister(listener)
  }
}
