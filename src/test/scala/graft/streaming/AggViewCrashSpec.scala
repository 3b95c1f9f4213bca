package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.cdc.{Envelope, Materialize}
import graft.sinks.{CrashFs, LogMirrorSink}
import graft.sinks.CrashFs.{copyTree, deleteRoot, forEveryN, freshRoot, quietly, stagingLeft}

/** Crash/replay over the pipeline's agg views: `processBatch` crashes
  * at its N-th create, rename or delete ([[CrashFs]]) for EVERY N a
  * clean run of the batch performs, the batch is replayed under the
  * same id, and every view must equal the GROUP BY over the
  * `Materialize` state of the batches so far — a sum view (plain fold)
  * and a max view (a retracted maximum takes the dirty recompute from
  * the post-batch mirror), over a LogMirror mirror. */
class AggViewCrashSpec extends SparkSpec {
  import spark.implicits._

  CrashFs.register(spark.sparkContext.hadoopConfiguration)

  private val rowSchema = StructType(Seq(
    StructField("id", LongType), StructField("g", StringType),
    StructField("x", LongType)))

  private def img(id: Long, g: String, x: Long) =
    s"""{"id":$id,"g":"$g","x":$x}"""

  private def rec(op: String, id: Long, before: Option[(String, Long)],
                  after: Option[(String, Long)], ts: Long, off: Long) =
    Rec("mysql-server.pos_bi_db.ventas", s"""{"payload":{"id":$id}}""",
      s"""{"payload":{"before":${before.fold("null")(b => img(id, b._1, b._2))},""" +
        s""""after":${after.fold("null")(a => img(id, a._1, a._2))},""" +
        s""""op":"$op","ts_ms":$ts}}""", 0, off)

  private val batches = Seq(
    Seq(rec("c", 1, None, Some(("a", 10)), 1000, 0),
      rec("c", 2, None, Some(("a", 20)), 1000, 1),
      rec("c", 3, None, Some(("b", 5)), 1000, 2)),
    // the max of group a is deleted, id 3 moves b -> a, group c is born
    Seq(rec("d", 2, Some(("a", 20)), None, 2000, 3),
      rec("u", 3, Some(("b", 5)), Some(("a", 7)), 2000, 4),
      rec("c", 4, None, Some(("c", 1)), 2000, 5)))

  private def cfg(root: String) = CdcPipeline.Config(rowSchema, Seq("id"),
    s"$root/mirror", s"$root/dlq", s"$root/ckpt",
    sinkOverride = Some(LogMirrorSink()),
    aggViews = Map(
      "sum_g" -> CdcPipeline.AggView("ventas", IncrementalAgg.Spec(Seq("g"), Seq("x"))),
      "max_g" -> CdcPipeline.AggView("ventas",
        IncrementalAgg.Spec(Seq("g"), Nil, maxCols = Seq("x")))))

  private def run(root: String, b: Int): Unit =
    CdcPipeline.processBatch(batches(b).toDF(), b.toLong, cfg(root))

  private def rows(df: DataFrame): Set[Row] = df.collect().toSet

  private def views(root: String): (Set[Row], Set[Row]) = (
    rows(CdcPipeline.aggView(spark, cfg(root), "sum_g").select("g", "n_rows", "sum_x")),
    rows(CdcPipeline.aggView(spark, cfg(root), "max_g").select("g", "max_x")))

  /** The views' answer over the `Materialize` state of batches 0..b. */
  private def oracle(b: Int): (Set[Row], Set[Row]) = {
    val state = Materialize.currentState(Envelope.unwrap(Envelope.wellFormed(
      Envelope.parse(batches.take(b + 1).flatten.toDF(), rowSchema)), Seq("id")),
      Seq("id"))
    (rows(state.groupBy("g").agg(count(lit(1)), sum("x"))),
      rows(state.groupBy("g").agg(max("x"))))
  }

  for (b <- batches.indices)
    test(s"batch $b: a crash at every create, rename or delete of " +
      "processBatch converges on the replay") { quietly(spark.sparkContext) {
      val template = freshRoot("aggcrash")
      (0 until b).foreach(run(template, _))
      val clean = freshRoot("aggcrash-clean")
      copyTree(template, clean)
      CrashFs.arm(clean)
      run(clean, b)
      val ops = CrashFs.disarm(clean)
      val want = oracle(b)
      assert(views(clean) == want, "clean batch")
      assert(ops.nonEmpty)
      forEveryN(ops.size) { n =>
        val root = freshRoot("aggcrash-run")
        try {
          copyTree(template, root)
          CrashFs.arm(root, n)
          val crashed = try { run(root, b); false }
            catch { case _: Exception => true }
          CrashFs.disarm(root)
          assert(crashed, s"no crash at operation $n")
          run(root, b) // the foreachBatch replay
          assert(views(root) == want,
            s"crash at operation $n of ${ops.size} (${ops(n - 1)}) diverged")
          assert(!stagingLeft(root), s"staging left after operation $n")
        } finally deleteRoot(root)
      }
      deleteRoot(template)
      deleteRoot(clean)
    }}
}
