package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Maintained aggregate views inside the pipeline: per-batch delta
  * folds, idempotent replay, and equality with a mirror recompute. */
class AggViewSpec extends SparkSpec {
  import spark.implicits._

  private val rowSchema = StructType(Seq(
    StructField("id", LongType), StructField("g", StringType),
    StructField("x", DoubleType)))

  private def img(id: Long, g: String, x: Double) =
    s"""{"id":$id,"g":"$g","x":$x}"""

  private def env(op: String, before: String, after: String): String =
    s"""{"payload":{"before":$before,"after":$after,"op":"$op","ts_ms":1}}"""

  private def rec(id: Long, value: String, off: Long) =
    Rec("mysql-server.pos_bi_db.ventas", s"""{"payload":{"id":$id}}""",
      value, 0, off)

  private def cfgWithView() = {
    val root = Files.createTempDirectory("graft-aggview").toString
    CdcPipeline.Config(rowSchema, Seq("id"), s"$root/mirror",
      s"$root/dlq", s"$root/ckpt",
      aggViews = Map("by_g" -> CdcPipeline.AggView("ventas",
        IncrementalAgg.Spec(Seq("g"), Seq("x")))))
  }

  private def viewMap(cfg: CdcPipeline.Config) =
    CdcPipeline.aggView(spark, cfg, "by_g")
      .select("g", "n_rows", "sum_x").as[(String, Long, Double)]
      .collect().map { case (g, n, s) => g -> ((n, s)) }.toMap

  private def recompute(cfg: CdcPipeline.Config) =
    CdcPipeline.mirror(spark, cfg, "ventas")
      .groupBy("g").agg(count(lit(1)).as("n"), sum("x").as("s"))
      .as[(String, Long, Double)].collect()
      .map { case (g, n, s) => g -> ((n, s)) }.toMap

  test("view folds batches, survives replay, matches mirror recompute") {
    val cfg = cfgWithView()
    val b0 = Seq(
      rec(1, env("c", "null", img(1, "a", 10.0)), 0),
      rec(2, env("c", "null", img(2, "a", 20.0)), 1),
      rec(3, env("c", "null", img(3, "b", 5.0)), 2)).toDF()
    CdcPipeline.processBatch(b0, 0L, cfg)
    assert(viewMap(cfg) == Map("a" -> ((2L, 30.0)), "b" -> ((1L, 5.0))))

    val b1 = Seq(
      rec(3, env("u", img(3, "b", 5.0), img(3, "a", 7.0)), 3), // b -> a
      rec(2, env("d", img(2, "a", 20.0), "null"), 4)).toDF()
    CdcPipeline.processBatch(b1, 1L, cfg)
    val after1 = viewMap(cfg)
    assert(after1 == Map("a" -> ((2L, 17.0))), s"got $after1")

    // foreachBatch replay after a restart delivers the same batch id —
    // the view must not double-apply
    CdcPipeline.processBatch(b1, 1L, cfg)
    assert(viewMap(cfg) == after1, "replayed batch must be a no-op")

    // and the maintained state equals a recompute from the mirror
    assert(viewMap(cfg) == recompute(cfg))
  }

  private def viewRoot(cfg: CdcPipeline.Config) = CdcPipeline.viewRoot(cfg, "by_g")

  /** Multiplies the view's counts by 10 in place (a replay of the
    * view's own batch), so a later fold shows on the numbers. */
  private def corruptView(cfg: CdcPipeline.Config): Unit = {
    val v = graft.sinks.LogMirror.currentVersion(spark, viewRoot(cfg)).get
    val state = graft.sinks.LogMirror.read(spark, viewRoot(cfg))
    val bogus = spark.createDataFrame(state.collect().toSeq.asJava, state.schema)
      .withColumn("n_rows", col("n_rows") * 10)
      .withColumn("op", lit("c")).withColumn("ts_ms", lit(v))
      .withColumn("offset", lit(1L))
    graft.sinks.LogMirror.merge(spark, viewRoot(cfg), bogus, Seq("g"), v,
      16, None)
  }

  test("a view whose version lags its mirror is not folded onto: the " +
    "next batch rebuilds the view from the mirror") {
    val cfg = cfgWithView()
    CdcPipeline.processBatch(Seq(
      rec(1, env("c", "null", img(1, "a", 10.0)), 0),
      rec(2, env("c", "null", img(2, "b", 20.0)), 1)).toDF(), 0L, cfg)
    corruptView(cfg)
    // batch 1 merges without the view: the mirror moves on, the view
    // stays at version 0
    CdcPipeline.processBatch(Seq(
      rec(4, env("c", "null", img(4, "b", 1.0)), 2)).toDF(), 1L,
      cfg.copy(aggViews = Map.empty))
    assert(graft.sinks.LogMirror.currentVersion(spark, viewRoot(cfg)).contains(0L))

    CdcPipeline.processBatch(Seq(
      rec(3, env("c", "null", img(3, "a", 5.0)), 3)).toDF(), 2L, cfg)
    assert(viewMap(cfg) == Map("a" -> ((2L, 15.0)), "b" -> ((2L, 21.0))))
    assert(graft.sinks.LogMirror.currentVersion(spark, viewRoot(cfg)).contains(2L))
  }

  test("a batch without the view's table leaves the view foldable: the " +
    "next batch of its table folds onto the state, no rebuild") {
    val cfg = cfgWithView()
    CdcPipeline.processBatch(Seq(
      rec(1, env("c", "null", img(1, "a", 10.0)), 0)).toDF(), 0L, cfg)
    corruptView(cfg) // a rebuild would repair these counts, a fold keeps them
    // batch 1 carries only another table: ventas' mirror stays at 0
    CdcPipeline.processBatch(Seq(Rec("mysql-server.pos_bi_db.entidades",
      """{"payload":{"id":7}}""", env("c", "null", img(7, "z", 1.0)), 0, 1))
      .toDF(), 1L, cfg)
    CdcPipeline.processBatch(Seq(
      rec(2, env("c", "null", img(2, "a", 1.0)), 2)).toDF(), 2L, cfg)
    assert(viewMap(cfg) == Map("a" -> ((11L, 11.0))))
    assert(graft.sinks.LogMirror.currentVersion(spark, viewRoot(cfg)).contains(2L))
  }

  test("snapshot chunks reach the view: a chunk riding the table's batch " +
    "and a chunk merged into the idle table both rebuild it") {
    val root = Files.createTempDirectory("graft-aggview-snap").toString
    val source = spark.range(0, 35).select(col("id"),
      when(col("id") % 2 === 0, "a").otherwise("c").as("g"),
      col("id").cast("double").as("x"))
    val cfg = cfgWithView().copy(mirrorRoot = s"$root/mirror",
      signalDir = Some(s"$root/signals"),
      snapshotSources = Map("ventas" -> (() => source)),
      snapshotChunkKeys = 20)
    CdcPipeline.processBatch(Seq(
      rec(1, env("c", "null", img(1, "b", 10.0)), 0),
      rec(100, env("c", "null", img(100, "b", 3.0)), 1)).toDF(), 0L, cfg)
    assert(viewMap(cfg) == recompute(cfg))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/signals"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/signals/s.json"),
      ("""{"id":"s1","type":"execute-snapshot",""" +
        """"data":{"data-collections":["ventas"]}}""").getBytes("UTF-8"))
    // batch 1: ventas events plus the chunk [0, 19] in one merge
    CdcPipeline.processBatch(Seq(
      rec(101, env("c", "null", img(101, "b", 4.0)), 2)).toDF(), 1L, cfg)
    assert(viewMap(cfg) == recompute(cfg))
    // batch 2: no events, the last chunk [20, 34] merges into the idle
    // table; batch 3 carries no chunk
    CdcPipeline.processBatch(Seq.empty[Rec].toDF(), 2L, cfg)
    CdcPipeline.processBatch(Seq(
      rec(102, env("c", "null", img(102, "b", 5.0)), 3)).toDF(), 3L, cfg)
    val want = recompute(cfg)
    assert(want("a")._1 == 18L && viewMap(cfg) == want)
  }

  test("a decimal sum keeps one stored type across folds and a rebuild") {
    val root = Files.createTempDirectory("graft-aggview-dec").toString
    val decSchema = StructType(Seq(StructField("id", LongType),
      StructField("g", StringType), StructField("x", DecimalType(10, 2))))
    val cfg = CdcPipeline.Config(decSchema, Seq("id"), s"$root/mirror",
      s"$root/dlq", s"$root/ckpt",
      aggViews = Map("by_g" -> CdcPipeline.AggView("ventas",
        IncrementalAgg.Spec(Seq("g"), Seq("x")))))
    def sums() = CdcPipeline.aggView(spark, cfg, "by_g")
      .select(col("g"), col("sum_x").cast("string")).as[(String, String)]
      .collect().toMap
    CdcPipeline.processBatch(Seq(
      rec(1, env("c", "null", img(1, "a", 10.25)), 0)).toDF(), 0L, cfg)
    CdcPipeline.processBatch(Seq(
      rec(2, env("c", "null", img(2, "a", 0.5)), 1)).toDF(), 1L, cfg) // fold
    CdcPipeline.processBatch(Seq(
      rec(3, env("c", "null", img(3, "b", 1.0)), 2)).toDF(), 2L,
      cfg.copy(aggViews = Map.empty))
    CdcPipeline.processBatch(Seq( // gap: rebuild from the mirror
      rec(4, env("c", "null", img(4, "a", 2.0)), 3)).toDF(), 3L, cfg)
    assert(sums() == Map("a" -> "12.75", "b" -> "1.00"))
  }

  test("MAX(id) integrity-probe view: retraction recomputes from mirror") {
    // the reference's integrity probe (MAX(id) per table,
    // cdc_data_integrity_dynamic_dag.py:50) as a maintained view
    val root = Files.createTempDirectory("graft-aggview-max").toString
    val cfg = CdcPipeline.Config(rowSchema, Seq("id"), s"$root/mirror",
      s"$root/dlq", s"$root/ckpt",
      aggViews = Map("max_id" -> CdcPipeline.AggView("ventas",
        IncrementalAgg.Spec(Seq("g"), Seq("x"), maxCols = Seq("id")))))
    def maxMap() = CdcPipeline.aggView(spark, cfg, "max_id")
      .select("g", "max_id").as[(String, Long)].collect().toMap

    CdcPipeline.processBatch(Seq(
      rec(1, env("c", "null", img(1, "a", 1.0)), 0),
      rec(9, env("c", "null", img(9, "a", 2.0)), 1),
      rec(4, env("c", "null", img(4, "b", 3.0)), 2)).toDF(), 0L, cfg)
    assert(maxMap() == Map("a" -> 9L, "b" -> 4L))

    // delete the max id of group a -> dirty recompute from the mirror
    CdcPipeline.processBatch(Seq(
      rec(9, env("d", img(9, "a", 2.0), "null"), 3)).toDF(), 1L, cfg)
    assert(maxMap() == Map("a" -> 1L, "b" -> 4L))

    // a higher id arrives: plain candidate merge, no recompute path
    CdcPipeline.processBatch(Seq(
      rec(12, env("c", "null", img(12, "a", 5.0)), 4)).toDF(), 2L, cfg)
    assert(maxMap() == Map("a" -> 12L, "b" -> 4L))

    // state equals a full recompute from the mirror
    val recompute = CdcPipeline.mirror(spark, cfg, "ventas")
      .groupBy("g").agg(max("id")).as[(String, Long)].collect().toMap
    assert(maxMap() == recompute)
  }

  test("empty initial state (all-malformed batch) doesn't wedge the view") {
    val cfg = cfgWithView()
    // batch 0: routes to ventas but nothing parses -> empty state file
    val b0 = Seq(rec(1, "{not json", 0)).toDF()
    CdcPipeline.processBatch(b0, 0L, cfg)
    // batch 1 must read the empty state without crashing and apply
    val b1 = Seq(rec(2, env("c", "null", img(2, "a", 4.0)), 1)).toDF()
    CdcPipeline.processBatch(b1, 1L, cfg)
    assert(viewMap(cfg) == Map("a" -> ((1L, 4.0))))
  }

  test("same-batch insert+delete leaves no phantom zero-count group") {
    val cfg = cfgWithView()
    val b0 = Seq(
      rec(1, env("c", "null", img(1, "a", 10.0)), 0),
      rec(1, env("d", img(1, "a", 10.0), "null"), 1),
      rec(2, env("c", "null", img(2, "b", 2.0)), 2)).toDF()
    CdcPipeline.processBatch(b0, 0L, cfg)
    assert(viewMap(cfg) == Map("b" -> ((1L, 2.0))))
  }

  test("distinct counts via a two-level view (group by (g, value))") {
    // COUNT(DISTINCT x) is not self-maintainable directly, but a view
    // keyed by (g, x) is — read-time distinct = rows per g. Deletes
    // retract correctly because the per-value row count hits zero.
    val root = Files.createTempDirectory("graft-aggview").toString
    val cfg = CdcPipeline.Config(rowSchema, Seq("id"), s"$root/mirror",
      s"$root/dlq", s"$root/ckpt",
      aggViews = Map("distinct_x" -> CdcPipeline.AggView("ventas",
        IncrementalAgg.Spec(Seq("g", "x"), Nil))))
    val b0 = Seq(
      rec(1, env("c", "null", img(1, "a", 1.0)), 0),
      rec(2, env("c", "null", img(2, "a", 1.0)), 1), // duplicate value
      rec(3, env("c", "null", img(3, "a", 2.0)), 2),
      rec(4, env("c", "null", img(4, "b", 9.0)), 3)).toDF()
    CdcPipeline.processBatch(b0, 0L, cfg)
    val b1 = Seq( // delete one of the two x=1 rows: distinct unchanged
      rec(2, env("d", img(2, "a", 1.0), "null"), 4),
      // delete the only x=2 row: distinct drops
      rec(3, env("d", img(3, "a", 2.0), "null"), 5)).toDF()
    CdcPipeline.processBatch(b1, 1L, cfg)
    val distinct = CdcPipeline.aggView(spark, cfg, "distinct_x")
      .groupBy("g").count().as[(String, Long)].collect().toMap
    assert(distinct == Map("a" -> 1L, "b" -> 1L))
  }

  test("HLL distinctCols view: O(groups) sketch state, ever-written " +
    "semantics, replay-safe") {
    // the sketch-state alternative to the two-level (g, x) view above:
    // state is one row per GROUP (not per distinct value — the 100 TB
    // shape when values are high-cardinality), at the cost of
    // ever-written semantics (deletes don't retract)
    val root = Files.createTempDirectory("graft-aggview-hll").toString
    val cfg = CdcPipeline.Config(rowSchema, Seq("id"), s"$root/mirror",
      s"$root/dlq", s"$root/ckpt",
      aggViews = Map("ids_by_g" -> CdcPipeline.AggView("ventas",
        IncrementalAgg.Spec(Seq("g"), Nil, distinctCols = Seq("id")))))
    def ids() = CdcPipeline.aggView(spark, cfg, "ids_by_g")
      .select("g", "distinct_id").as[(String, Long)].collect().toMap

    CdcPipeline.processBatch(Seq(
      rec(1, env("c", "null", img(1, "a", 1.0)), 0),
      rec(2, env("c", "null", img(2, "a", 2.0)), 1),
      rec(4, env("c", "null", img(4, "b", 9.0)), 2)).toDF(), 0L, cfg)
    assert(ids() == Map("a" -> 2L, "b" -> 1L))

    val b1 = Seq(
      rec(1, env("u", img(1, "a", 1.0), img(1, "a", 1.5)), 3), // same id
      rec(3, env("c", "null", img(3, "a", 3.0)), 4),           // new id
      rec(2, env("d", img(2, "a", 2.0), "null"), 5)).toDF()    // no retract
    CdcPipeline.processBatch(b1, 1L, cfg)
    assert(ids() == Map("a" -> 3L, "b" -> 1L),
      "ever-written: the deleted id stays counted, the update doesn't double")

    // foreachBatch replay: skipped by the view's version AND idempotent by algebra
    CdcPipeline.processBatch(b1, 1L, cfg)
    assert(ids() == Map("a" -> 3L, "b" -> 1L))
  }

  test("streaming restart: view continues from checkpoint without recount") {
    val cfg = cfgWithView()
    val srcDir = Files.createTempDirectory("graft-aggview-src").toString
    def fileStream = spark.readStream
      .schema(Seq.empty[Rec].toDS().schema).parquet(srcDir)
    Seq(
      rec(1, env("c", "null", img(1, "a", 10.0)), 0),
      rec(2, env("c", "null", img(2, "b", 20.0)), 1)).toDS()
      .write.mode("append").parquet(srcDir)
    val q1 = CdcPipeline.start(fileStream, cfg)
    try q1.processAllAvailable() finally q1.stop()
    assert(viewMap(cfg) == Map("a" -> ((1L, 10.0)), "b" -> ((1L, 20.0))))

    // second incarnation, same checkpoint: only the new file applies —
    // the view must fold just the new deltas
    Seq(
      rec(1, env("u", img(1, "a", 10.0), img(1, "b", 11.0)), 2), // a -> b
      rec(2, env("d", img(2, "b", 20.0), "null"), 3)).toDS()
      .write.mode("append").parquet(srcDir)
    val q2 = CdcPipeline.start(fileStream, cfg)
    try {
      q2.processAllAvailable()
      assert(viewMap(cfg) == Map("b" -> ((1L, 11.0))))
    } finally q2.stop()
  }

  test("avg columns derive from sums at read time") {
    val cfg = cfgWithView()
    val b0 = Seq(
      rec(1, env("c", "null", img(1, "a", 10.0)), 0),
      rec(2, env("c", "null", img(2, "a", 20.0)), 1)).toDF()
    CdcPipeline.processBatch(b0, 0L, cfg)
    val avg = CdcPipeline.aggView(spark, cfg, "by_g")
      .select("avg_x").as[Double].head()
    assert(avg == 15.0)
  }
}
