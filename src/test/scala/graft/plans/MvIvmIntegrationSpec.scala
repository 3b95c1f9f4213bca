package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.streaming.{CdcPipeline, IncrementalAgg, Rec}

/** MV rewrite ⇄ incremental view maintenance, end to end: a pipeline-
  * maintained agg view registers as a TRANSPARENT rewrite target for
  * aggregates over its table's mirror, with VERSION-based freshness —
  * the view state's manifest version (the last batch it applied)
  * against the mirror's last merged batch id (the default LogMirror
  * sink's manifest id). A
  * query over the mirror silently reads the O(groups) view while
  * fresh, falls through to the base scan the moment the mirror advances
  * past the view, and resumes (via the gap REBUILD) when the view
  * catches up. */
class MvIvmIntegrationSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {
  import spark.implicits._

  graft.GraftExtensions.register(spark) // installs MvRewriteRule

  override def afterAll(): Unit = {
    MvCatalog.clear()
    super.afterAll()
  }

  private val rowSchema = StructType(Seq(
    StructField("id", LongType), StructField("g", StringType),
    StructField("x", DoubleType)))

  private def rec(id: Long, g: String, x: Double, op: String, ts: Long,
                  off: Long): Rec =
    Rec("mysql-server.pos_bi_db.t1", s"""{"payload":{"id":$id}}""",
      s"""{"payload":{"after":{"id":$id,"g":"$g","x":$x},"op":"$op","ts_ms":$ts}}""",
      0, off)

  test("maintained view accelerates mirror aggregates while fresh, " +
    "falls through when the mirror outruns it, resumes after the " +
    "catch-up rebuild") {
    val root = Files.createTempDirectory("mv-ivm").toString
    val spec = IncrementalAgg.Spec(Seq("g"), Seq("x"))
    val withView = CdcPipeline.Config(rowSchema, Seq("id"),
      s"$root/mirror", s"$root/dlq", s"$root/ckpt",
      aggViews = Map("by_g" -> CdcPipeline.AggView("t1", spec)))
    val noView = withView.copy(aggViews = Map.empty)

    def scanOf(df: DataFrame): String =
      df.queryExecution.executedPlan.toString
    def q(): DataFrame =
      CdcPipeline.mirror(spark, withView, "t1")
        .groupBy("g")
        .agg(sum("x").as("sx"), count(lit(1)).as("n"))
    def result(): Map[String, (Double, Long)] =
      q().as[(String, Double, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap

    // batch 0 (view riding): a/b groups
    CdcPipeline.processBatch(
      Seq(rec(1, "a", 10.0, "c", 1000, 0), rec(2, "a", 4.0, "c", 1000, 1),
        rec(3, "b", 7.0, "c", 1000, 2)).toDF(), 0L, withView)
    MvCatalog.registerMaintained(spark, withView, "by_g")

    val p1 = scanOf(q())
    assert(p1.contains("_views/by_g"), p1.take(1500)) // reads the VIEW
    assert(result() == Map("a" -> (14.0, 2L), "b" -> (7.0, 1L)))

    // batch 1 merged WITHOUT the view: the mirror advances (manifest 1),
    // the view watermark stays at 0 -> stale -> base-table fallthrough
    // with the POST-batch answer
    CdcPipeline.processBatch(
      Seq(rec(4, "b", 1.0, "c", 2000, 3), rec(2, "", 0.0, "d", 2000, 4))
        .toDF(), 1L, noView)
    val p2 = scanOf(q())
    assert(!p2.contains("_views/by_g"), p2.take(1500))
    assert(result() == Map("a" -> (10.0, 1L), "b" -> (8.0, 2L)))

    // batch 2 WITH the view: the gap (0 -> 2) triggers the rebuild from
    // the post-batch mirror, the watermark catches up, rewrites resume
    CdcPipeline.processBatch(
      Seq(rec(5, "c", 3.0, "c", 3000, 5)).toDF(), 2L, withView)
    val p3 = scanOf(q())
    assert(p3.contains("_views/by_g"), p3.take(1500))
    assert(result() ==
      Map("a" -> (10.0, 1L), "b" -> (8.0, 2L), "c" -> (3.0, 1L)))
    // a filter on a group column rides into the reconcile's struct
    // fields; it still rewrites and re-applies over the view's groups
    val filtered = CdcPipeline.mirror(spark, withView, "t1")
      .filter(col("g") === "b").groupBy("g").agg(sum("x").as("sx"))
    assert(scanOf(filtered).contains("_views/by_g"))
    assert(filtered.as[(String, Double)].collect().toSeq == Seq(("b", 8.0)))

    // reads WITHOUT the live-rows predicate must NOT rewrite (they see
    // tombstone rows the view excludes): a raw scan of the current
    // segments, and the versioned reconcile over exactly those segments
    val segments = new java.io.File(s"$root/mirror/t1/segments").listFiles()
      .map(_.getPath).toSeq
    assert(segments.nonEmpty)
    val raw = spark.read.parquet(segments: _*)
      .groupBy("g").agg(count(lit(1)).as("n"))
    assert(!scanOf(raw).contains("_views/by_g"))
    val versioned = graft.sinks.LogMirror.readVersioned(spark, s"$root/mirror/t1")
      .groupBy("g").agg(count(lit(1)).as("n"))
    assert(!scanOf(versioned).contains("_views/by_g"))
  }

  test("a maintained view whose version lags its mirror reads as stale: " +
    "queries fall through to the mirror") {
    val root = Files.createTempDirectory("mv-ivm-lag").toString
    val cfg = CdcPipeline.Config(rowSchema, Seq("id"),
      s"$root/mirror", s"$root/dlq", s"$root/ckpt",
      aggViews = Map("by_g" -> CdcPipeline.AggView("t1",
        IncrementalAgg.Spec(Seq("g"), Seq("x")))))
    def q(): DataFrame = CdcPipeline.mirror(spark, cfg, "t1")
      .groupBy("g").agg(sum("x").as("sx"))
    CdcPipeline.processBatch(
      Seq(rec(1, "a", 10.0, "c", 1000, 0), rec(2, "b", 4.0, "c", 1000, 1))
        .toDF(), 0L, cfg)
    MvCatalog.registerMaintained(spark, cfg, "by_g")
    assert(q().queryExecution.executedPlan.toString.contains("_views/by_g"))

    // a commit no pipeline batch carried: the mirror moves to version 1
    graft.sinks.LogMirror.merge(spark, s"$root/mirror/t1",
      Seq((3L, "a", 1.0, "c", 2000L, 2L)).toDF("id", "g", "x", "op", "ts_ms", "offset"),
      Seq("id"), 1L, 16, None)
    val plan = q().queryExecution.executedPlan.toString
    assert(!plan.contains("_views/by_g"), plan.take(1500))
    assert(q().as[(String, Double)].collect().toMap ==
      Map("a" -> 11.0, "b" -> 4.0))
    MvCatalog.clear()
  }
}
