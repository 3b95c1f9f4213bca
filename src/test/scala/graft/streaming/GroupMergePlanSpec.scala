package graft.streaming

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** Plan audit for the CDC group merge: the LogMirror tables of a
  * batch — sharing a row schema or not — must land their delta segments
  * from ONE job whose plan has exactly ONE shuffle and ONE sort — the
  * `(table_name, masked keys)` hash exchange and key sort of the
  * latest-per-key kernel, whose output order also serves the key-sorted
  * partitioned write — over ONE parse cache, instead of a parse, merge
  * and write per schema or per table (PLANS.md "CDC group merge"). AQE
  * coalescing that exchange sizes the write tasks: a small batch still
  * writes one file per table (the per-file create tax of a 288-file
  * dynamic-partition commit was once the measured merge floor).
  * Captured from the REAL pipeline via a QueryExecutionListener, on the
  * default sink and on an explicitly configured LogMirrorSink, so a
  * refactor that silently reverts to per-schema or per-table merges,
  * adds a shuffle or a sort, or fans a small batch into many files
  * fails here. */
class GroupMergePlanSpec extends SparkSpec {
  import spark.implicits._

  private val rowSchema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def rec(table: String, id: Long, off: Long) =
    Rec(s"mysql-server.pos_bi_db.$table", s"""{"payload":{"id":$id}}""",
      s"""{"payload":{"after":{"id":$id,"v":"x$id"},"op":"r","ts_ms":1000}}""",
      0, off)

  /** The final plan of the one mirror write `processBatch` runs. */
  private def groupWritePlan(batch: Seq[Rec], cfg: CdcPipeline.Config): String = {
    val captured = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = captured.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      CdcPipeline.processBatch(batch.toDS().toDF(), 0L, cfg)
      // the listener bus is async
      val deadline = System.nanoTime() + 10000000000L
      def writes = captured.asScala.toSeq.map(_.executedPlan.toString)
        .filter(_.contains("WriteFiles"))
        .filterNot(_.contains("dlq"))
      while (writes.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)

      val mirrorWrites = writes.filter(_.contains("table_name"))
      assert(mirrorWrites.size == 1,
        s"the batch's LogMirror tables must produce ONE group write, got " +
          s"${mirrorWrites.size}:\n${writes.mkString("\n----\n")}")
      // AQE's toString appends an "== Initial Plan ==" section that
      // repeats every node — read the final plan only
      mirrorWrites.head.split("== Initial Plan ==").head
    } finally spark.listenerManager.unregister(listener)
  }

  /** One exchange (the kernel's), one sort (the kernel's), no aggregate. */
  private def assertOneExchangeOneSort(finalPlan: String): Unit = {
    val exchanges = "Exchange".r.findAllIn(finalPlan).size
    val sorts = "\\bSort \\[".r.findAllIn(finalPlan).size
    assert(exchanges == 1 && sorts == 1 && finalPlan.contains("LatestPerKey") &&
      !finalPlan.contains("Aggregate"),
      s"group merge = the kernel's exchange and sort feeding the write, " +
        s"got $exchanges exchanges, $sorts sorts:\n" + finalPlan.take(2000))
  }

  private def tempCfg(prefix: String, sink: Option[graft.sinks.MirrorSink] = None) = {
    val root = Files.createTempDirectory(prefix).toString
    CdcPipeline.Config(rowSchema, Seq("id"), s"$root/mirror", s"$root/dlq",
      s"$root/ckpt", sinkOverride = sink)
  }

  private val threeTables = Seq(
    rec("ventas", 1, 0), rec("ventas", 2, 1),
    rec("compras", 7, 2), rec("gastos", 9, 3))

  test("same-schema tables merge as one write job: the kernel's exchange " +
    "and sort, nothing else") {
    assertOneExchangeOneSort(groupWritePlan(threeTables, tempCfg("graft-gm")))
  }

  test("the LOG-STRUCTURED group path also lands every table's delta " +
    "from one write job with the same one-exchange shape") {
    val cfg = tempCfg("graft-gml", Some(graft.sinks.LogMirrorSink()))
    assertOneExchangeOneSort(groupWritePlan(threeTables, cfg))
    // and the segments actually landed per table
    for (t <- Seq("ventas", "compras", "gastos"))
      assert(graft.sinks.LogMirror.read(spark, s"${cfg.mirrorRoot}/$t")
        .count() > 0, s"$t segment missing")
  }

  test("a 3k-row nine-table batch writes one file per table") {
    val tables = Seq("ventas", "compras", "gastos", "entidades", "productos",
      "detalle_ventas", "detalle_compras", "cierres_caja", "pagos_clientes")
    val cfg = tempCfg("graft-gmf")
    val batch = (0 until 3000).map(i => rec(tables(i % tables.size), i, i))
    assertOneExchangeOneSort(groupWritePlan(batch, cfg))
    val fs = new org.apache.hadoop.fs.Path(cfg.mirrorRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (t <- tables) {
      val files = fs.listStatus(new org.apache.hadoop.fs.Path(
        s"${cfg.mirrorRoot}/$t/segments/delta-0"))
        .count(_.getPath.getName.endsWith(".parquet"))
      // the writer-sizing repartition this path had before wrote one
      assert(files == 1, s"$t: $files files")
    }
  }

  test("a nine-schema batch plans one parse, one exchange, one sort, one " +
    "LatestPerKey and one write") {
    val cfg = PosTables.config(Files.createTempDirectory("graft-gm9").toString)
    // groupWritePlan already asserts the one mirror write
    val plan = groupWritePlan(PosTables.batch(PosTables.all, 40, 1000L), cfg)
    assertOneExchangeOneSort(plan)
    assert("LatestPerKey \\[".r.findAllIn(plan).size == 1, plan)
    // the envelope parse: one cache, holding the parsed envelope
    val caches = "InMemoryRelation \\[[^\\]]*\\]".r.findAllIn(plan).toSeq
    assert(caches.size == 1 && caches.head.contains("env"), plan)
  }
}
