package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.cdc.Envelope
import graft.sinks.{LogMirror, LogMirrorSink}

/** End-to-end streaming replication: MemoryStream of Debezium-shaped
  * records driven through the full pipeline (parse → DLQ split → unwrap
  * → route → merge), mirror state checked after each processed batch. */
// top-level so Encoders derive without an outer-instance scope
case class Rec(topic: String, key: String, value: String,
               partition: Int, offset: Long)

class CdcPipelineSpec extends SparkSpec {
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

  private def fsOf(root: String) = new org.apache.hadoop.fs.Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def freshCfg() = {
    val root = Files.createTempDirectory("graft-pipe").toString
    CdcPipeline.Config(rowSchema, Seq("id"), s"$root/mirror",
      s"$root/dlq", s"$root/ckpt", triggerMs = 10)
  }

  test("replicates inserts, updates, deletes per table; poison to DLQ") {
    val cfg = freshCfg()
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Rec]
    val q = CdcPipeline.start(ms.toDF(), cfg)
    try {
      ms.addData(
        rec("ventas", 1, "a", "r", 1000, 0),
        rec("ventas", 2, "b", "r", 1000, 1),
        rec("compras", 7, "z", "r", 1000, 2))
      q.processAllAvailable()
      assert(CdcPipeline.mirror(spark, cfg, "ventas").count() == 2)
      assert(CdcPipeline.mirror(spark, cfg, "compras").count() == 1)

      // batch 2: update 1, delete 2, poison record
      ms.addData(
        rec("ventas", 1, "a2", "u", 2000, 3),
        rec("ventas", 2, "", "d", 2000, 4),
        Rec("mysql-server.pos_bi_db.ventas", "k", "{broken", 0, 5))
      q.processAllAvailable()
      val ventas = CdcPipeline.mirror(spark, cfg, "ventas")
        .orderBy("id").collect()
      assert(ventas.map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((1L, "a2")))
      assert(CdcPipeline.deadLetters(spark, cfg)
        .as[String].collect().toSeq == Seq("{broken"))
      // compras untouched by batch 2
      assert(CdcPipeline.mirror(spark, cfg, "compras").count() == 1)
    } finally q.stop()
  }

  test("DLQ compaction folds per-trigger files; rows and schema unchanged") {
    val cfg = freshCfg()
    // five dirty batches -> five appended part-file sets
    (0 until 5).foreach { i =>
      CdcPipeline.processBatch(Seq(
        rec("ventas", 100L + i, s"ok$i", "c", 1000L + i, 2L * i),
        Rec("mysql-server.pos_bi_db.ventas", "k", s"{broken$i", 0, 2L * i + 1))
        .toDF(), i.toLong, cfg)
    }
    val fs = new org.apache.hadoop.fs.Path(cfg.dlqDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles() = fs.listStatus(new org.apache.hadoop.fs.Path(cfg.dlqDir))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
    assert(dataFiles().length >= 5, "expected one file set per dirty trigger")
    val before = CdcPipeline.deadLetters(spark, cfg)
      .as[String].collect().sorted.toSeq

    CdcPipeline.compactDlq(spark, cfg)
    assert(dataFiles().length == 1, "fold must leave one compact file")
    val after = CdcPipeline.deadLetters(spark, cfg)
      .as[String].collect().sorted.toSeq
    assert(after == before, "compaction must not change the dead letters")

    // idempotent: a single compact file is left alone
    CdcPipeline.compactDlq(spark, cfg)
    assert(dataFiles().length == 1)
    // and the stream keeps appending normally afterwards
    CdcPipeline.processBatch(Seq(
      Rec("mysql-server.pos_bi_db.ventas", "k", "{late", 0, 99)).toDF(), 9L, cfg)
    assert(CdcPipeline.deadLetters(spark, cfg).count() == before.size + 1)
  }

  test("expectations quarantine violating changes; deletes stay clean") {
    val root = Files.createTempDirectory("graft-pipe-exp").toString
    val cfg = CdcPipeline.Config(rowSchema, Seq("id"), s"$root/mirror",
      s"$root/dlq", s"$root/ckpt",
      expectations = Map("ventas" -> Seq(graft.operators.Expectations.Rule(
        "nonempty_v", org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("v")) > 0))),
      quarantineDir = Some(s"$root/quarantine"))

    // violating insert (empty v) is quarantined, not mirrored
    CdcPipeline.processBatch(Seq(
      rec("ventas", 1, "a", "r", 1000, 0),
      rec("ventas", 2, "", "r", 1000, 1)).toDF(), 0L, cfg)
    assert(CdcPipeline.mirror(spark, cfg, "ventas")
      .select("id").as[Long].collect().toSeq == Seq(1L))
    val q1 = spark.read.parquet(s"$root/quarantine/ventas")
    assert(q1.select("id").as[Long].collect().toSeq == Seq(2L))
    assert(q1.select("_violations").as[Seq[String]].head() == Seq("nonempty_v"))

    // violating UPDATE is quarantined — the mirror keeps the old value
    CdcPipeline.processBatch(Seq(
      rec("ventas", 1, "", "u", 2000, 2)).toDF(), 1L, cfg)
    val afterU = CdcPipeline.mirror(spark, cfg, "ventas").collect()
    assert(afterU.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a")))

    // foreachBatch REPLAY of the same batch: the quarantine write is
    // batch-partitioned with dynamic overwrite, so the replayed rows
    // land over their own partition instead of appending duplicates
    CdcPipeline.processBatch(Seq(
      rec("ventas", 1, "", "u", 2000, 2)).toDF(), 1L, cfg)
    assert(spark.read.parquet(s"$root/quarantine/ventas").count() == 2)

    // a DELETE always passes the gate (removing a row is clean)
    CdcPipeline.processBatch(Seq(
      rec("ventas", 1, "", "d", 3000, 3)).toDF(), 2L, cfg)
    assert(CdcPipeline.mirror(spark, cfg, "ventas").count() == 0)
    // quarantine kept both bad rows, nothing else
    assert(spark.read.parquet(s"$root/quarantine/ventas").count() == 2)
  }

  test("table-grain expectations: clean batch passes, drift quarantines " +
    "once, replay stays idempotent") {
    import org.apache.spark.sql.functions.{abs, col}
    val root = Files.createTempDirectory("graft-pipe-texp").toString
    // reference source-of-truth: ids 1,2 — the integrity DAG's "source"
    val reference = (s: org.apache.spark.sql.SparkSession) => {
      import s.implicits._
      Seq(1L, 2L).toDF("id")
    }
    val cfg = CdcPipeline.Config(rowSchema, Seq("id"), s"$root/mirror",
      s"$root/dlq", s"$root/ckpt",
      aggViews = Map("v_stats" -> CdcPipeline.AggView("ventas",
        IncrementalAgg.Spec(Seq("v"), Nil, maxCols = Seq("id")))),
      quarantineDir = Some(s"$root/quarantine"),
      tableExpectations = Map("v_stats" -> CdcPipeline.TableExpectation(
        rules = Seq(
          graft.operators.Expectations.Rule("max_id_parity",
            col("max_id") === col("ref_max_id")),
          graft.operators.Expectations.Rule("row_count_delta",
            abs(col("n_rows") - col("ref_n_rows")) <= 0)),
        reference = Some(reference))))

    // batch 0 matches the reference exactly: no violation is recorded
    CdcPipeline.processBatch(Seq(
      rec("ventas", 1, "a", "r", 1000, 0),
      rec("ventas", 2, "b", "r", 1000, 1)).toDF(), 0L, cfg)
    assert(CdcPipeline.tableViolations(spark, cfg, "v_stats").count() == 0)

    // batch 1 drifts past the reference: MAX(id) parity AND row-count
    // delta both fire — ONE quarantine row carrying both rule names
    CdcPipeline.processBatch(Seq(
      rec("ventas", 3, "c", "r", 2000, 2)).toDF(), 1L, cfg)
    val viol = CdcPipeline.tableViolations(spark, cfg, "v_stats")
    assert(viol.count() == 1)
    val row = viol.head()
    assert(row.getSeq[String](row.fieldIndex("_violations")).toSet ==
      Set("max_id_parity", "row_count_delta"))
    assert(row.getLong(row.fieldIndex("max_id")) == 3L)
    assert(row.getLong(row.fieldIndex("ref_max_id")) == 2L)

    // foreachBatch replay of batch 1: same partition overwritten, no dup
    CdcPipeline.processBatch(Seq(
      rec("ventas", 3, "c", "r", 2000, 2)).toDF(), 1L, cfg)
    assert(CdcPipeline.tableViolations(spark, cfg, "v_stats").count() == 1)

    // violations ride the alert fan-in: one alert per (batch, rule),
    // delivered exactly once across repeated dispatches
    val sink = new AlertSink.InMemorySink
    val dispatcher = new AlertDispatcher(Seq(sink))
    val alerts = CdcPipeline.tableViolationAlerts(spark, cfg, "v_stats")
    assert(dispatcher.dispatchAlerts(alerts) == 2)
    assert(dispatcher.dispatchAlerts(
      CdcPipeline.tableViolationAlerts(spark, cfg, "v_stats")) == 0)
    assert(sink.delivered.map(_.key).toSet ==
      Set("texp:v_stats:1:max_id_parity", "texp:v_stats:1:row_count_delta"))
  }

  test("group merge tolerates a sibling mirror lagging a schema evolution") {
    // ventas mirrors under the OLD schema; the registry then evolves
    // additively and a batch touches ventas AND compras together —
    // compras' first merge and ventas' lagging (old-layout) mirror land
    // in the same schema group, so the cross-mirror union must backfill
    val root = Files.createTempDirectory("graft-pipe-evo").toString
    val oldCfg = CdcPipeline.Config(rowSchema, Seq("id"), s"$root/mirror",
      s"$root/dlq", s"$root/ckpt", triggerMs = 10)
    CdcPipeline.processBatch(
      Seq(rec("ventas", 1, "a", "r", 1000, 0)).toDF(), 0L, oldCfg)

    val evolved = StructType(rowSchema.fields :+ StructField("extra", LongType))
    val newCfg = oldCfg.copy(rowSchema = evolved)
    def envNew(id: Long, extra: Long, ts: Long): String =
      s"""{"payload":{"after":{"id":$id,"v":"x","extra":$extra},"op":"u","ts_ms":$ts}}"""
    val batch = Seq(
      Rec("mysql-server.pos_bi_db.ventas", s"""{"payload":{"id":2}}""",
        envNew(2, 42, 2000), 0, 1),
      Rec("mysql-server.pos_bi_db.compras", s"""{"payload":{"id":7}}""",
        envNew(7, 43, 2000), 0, 2)).toDF()
    CdcPipeline.processBatch(batch, 1L, newCfg)

    val ventas = CdcPipeline.mirror(spark, newCfg, "ventas")
      .orderBy("id").collect()
    // old row survives with null backfill; new rows carry the column
    assert(ventas.map(r => (r.getLong(0),
      Option(r.getAs[Any]("extra")))).toSeq ==
      Seq((1L, None), (2L, Some(42L))))
    assert(CdcPipeline.mirror(spark, newCfg, "compras").count() == 1)
    // clean batches never created a DLQ dir; reading it is still total
    assert(CdcPipeline.deadLetters(spark, newCfg).count() == 0)
  }

  test("late-arriving older change never regresses the mirror") {
    val cfg = freshCfg()
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Rec]
    val q = CdcPipeline.start(ms.toDF(), cfg)
    try {
      ms.addData(rec("ventas", 1, "new", "u", 5000, 0))
      q.processAllAvailable()
      // an older (lower ts/offset) version of the same key arrives late
      ms.addData(rec("ventas", 1, "old", "c", 1000, 1))
      q.processAllAvailable()
      assert(CdcPipeline.mirror(spark, cfg, "ventas")
        .collect().head.getString(1) == "new")
    } finally q.stop()
  }

  test("checkpoint resume: restarted pipeline continues without duplicating state") {
    // file source (durable offsets in the checkpoint, like Kafka) — a
    // fresh MemoryStream would restart its offsets and be filtered out
    val cfg = freshCfg()
    val srcDir = Files.createTempDirectory("graft-src").toString
    import spark.implicits._
    def fileStream = spark.readStream
      .schema(Seq.empty[Rec].toDS().schema)
      .parquet(srcDir)
    Seq(rec("ventas", 1, "a", "r", 1000, 0),
      rec("ventas", 2, "b", "r", 1000, 1)).toDS()
      .write.mode("append").parquet(srcDir)
    val q1 = CdcPipeline.start(fileStream, cfg)
    try q1.processAllAvailable() finally q1.stop()
    assert(CdcPipeline.mirror(spark, cfg, "ventas").count() == 2)

    // second incarnation: same checkpoint + mirror; only NEW files apply
    Seq(rec("ventas", 1, "a2", "u", 2000, 2),
      rec("ventas", 3, "c", "c", 2000, 3)).toDS()
      .write.mode("append").parquet(srcDir)
    val q2 = CdcPipeline.start(fileStream, cfg)
    try {
      q2.processAllAvailable()
      val rows = CdcPipeline.mirror(spark, cfg, "ventas")
        .orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(rows == Seq((1L, "a2"), (2L, "b"), (3L, "c")))
    } finally q2.stop()
  }

  test("reference topology: all 9 POS tables replicate in one stream") {
    // the exact table set the reference's connector declares
    // (register-mysql-connector.json:12)
    val cfg = freshCfg()
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Rec]
    val q = CdcPipeline.start(ms.toDF(), cfg)
    try {
      val tables = graft.core.Tables.posTables
      var off = 0L
      val records = tables.flatMap { t =>
        val base = tables.indexOf(t) * 100L
        val recs = Seq(
          rec(t, base + 1, s"$t-r1", "r", 1000, off),
          rec(t, base + 2, s"$t-r2", "r", 1000, off + 1),
          rec(t, base + 1, s"$t-u1", "u", 2000, off + 2),
          rec(t, base + 2, "", "d", 2000, off + 3))
        off += 4
        recs
      }
      ms.addData(records: _*)
      q.processAllAvailable()
      tables.foreach { t =>
        val base = tables.indexOf(t) * 100L
        val rows = CdcPipeline.mirror(spark, cfg, t).orderBy("id").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSeq
        assert(rows == Seq((base + 1, s"$t-u1")), s"table $t wrong: $rows")
      }
    } finally q.stop()
  }

  test("tombstones are compaction markers: delete rides the op='d' event") {
    val cfg = freshCfg()
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Rec]
    val q = CdcPipeline.start(ms.toDF(), cfg)
    try {
      ms.addData(
        rec("ventas", 1, "a", "r", 1000, 0),
        // Kafka tombstone for key 1 (value=null): redundant marker — the
        // row must survive because no op='d' event was emitted
        Rec(s"mysql-server.pos_bi_db.ventas", """{"payload":{"id":1}}""",
          null, 0, 1),
        // tombstone as the SOLE record of key 2: acts as a delete,
        // leaving no live row
        Rec(s"mysql-server.pos_bi_db.ventas", """{"payload":{"id":2}}""",
          null, 0, 2))
      q.processAllAvailable()
      val rows = CdcPipeline.mirror(spark, cfg, "ventas")
        .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(rows == Seq((1L, "a")))
    } finally q.stop()
  }

  test("per-table schema registry: heterogeneous tables in one stream; unroutable to DLQ") {
    val root = Files.createTempDirectory("graft-pipe-m").toString
    val productSchema = StructType(Seq(
      StructField("id", LongType), StructField("price", DoubleType),
      StructField("sku", StringType)))
    val cfg = CdcPipeline.Config(rowSchema, Seq("id"), s"$root/mirror",
      s"$root/dlq", s"$root/ckpt", triggerMs = 10,
      tableSpecs = Map("productos" -> CdcPipeline.TableSpec(productSchema, Seq("id"))))
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Rec]
    val q = CdcPipeline.start(ms.toDF(), cfg)
    try {
      ms.addData(
        rec("ventas", 1, "a", "r", 1000, 0),
        Rec(s"mysql-server.pos_bi_db.productos", """{"payload":{"id":9}}""",
          """{"payload":{"after":{"id":9,"price":19.5,"sku":"X1"},"op":"r","ts_ms":1000}}""",
          0, 1),
        Rec("some.other.topic", "k", """{"payload":{}}""", 0, 2))
      q.processAllAvailable()
      val ventas = CdcPipeline.mirror(spark, cfg, "ventas").collect()
      assert(ventas.map(_.getString(1)).toSeq == Seq("a"))
      val productos = CdcPipeline.mirror(spark, cfg, "productos")
        .orderBy("id").collect()
      assert(productos.head.getDouble(1) == 19.5 &&
        productos.head.getString(2) == "X1")
      // the unroutable topic's record went to the DLQ
      assert(CdcPipeline.deadLetters(spark, cfg)
        .as[String].collect().toSeq == Seq("""{"payload":{}}"""))
    } finally q.stop()
  }

  test("bucketed mirror: same state, partitioned layout, pruned lookup") {
    val root = Files.createTempDirectory("graft-pipe-b").toString
    // maxDeltas = 1 folds on every commit, so the state lives in the
    // bucketed base that lookups prune
    val cfg = CdcPipeline.Config(rowSchema, Seq("id"), s"$root/mirror",
      s"$root/dlq", s"$root/ckpt", triggerMs = 10,
      sinkOverride = Some(LogMirrorSink(maxDeltas = 1, bucketCount = Some(4))))
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Rec]
    val q = CdcPipeline.start(ms.toDF(), cfg)
    try {
      ms.addData((1L to 20L).map(i => rec("ventas", i, s"v$i", "r", 1000, i)): _*)
      q.processAllAvailable()
      // a second batch folds into the base the first one built
      ms.addData(rec("ventas", 7, "v7b", "u", 2000, 21))
      q.processAllAvailable()
      assert(CdcPipeline.mirror(spark, cfg, "ventas").count() == 20)
      // physical layout: the folded base holds one dir per bucket
      val tableRoot = s"$root/mirror/ventas"
      val m = LogMirror.readManifest(fsOf(tableRoot), tableRoot).get
      assert(m.deltas.isEmpty && m.base.isDefined, s"no fold: $m")
      val dirs = new java.io.File(s"$tableRoot/segments/base-${m.base.get}")
        .listFiles().filter(_.getName.startsWith("_bucket=")).map(_.getName).sorted
      assert(dirs.length > 1, s"expected bucket dirs, got ${dirs.mkString(",")}")
      // point lookup returns exactly the row
      val row = CdcPipeline.lookup(spark, cfg, "ventas", Seq(7L)).collect()
      assert(row.length == 1 && row.head.getString(1) == "v7b")
      // a mistyped probe literal (Int for the LongType key) must still
      // hash into the right bucket — murmur3(Int) != murmur3(Long)
      val rowInt = CdcPipeline.lookup(spark, cfg, "ventas", Seq(7)).collect()
      assert(rowInt.length == 1 && rowInt.head.getString(1) == "v7b")
      // and its plan prunes partitions via the _bucket predicate
      val plan = CdcPipeline.lookup(spark, cfg, "ventas", Seq(7L))
        .queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [isnotnull(_bucket"),
        s"no partition pruning in plan:\n$plan")
    } finally q.stop()
  }

  test("log mirror crash recovery: a replay after a crash between segment " +
    "write and manifest commit, or inside a fold, equals one-shot " +
    "materialization") {
    val batches = Seq(
      Seq(rec("ventas", 1, "a", "r", 1000, 0), rec("ventas", 2, "b", "r", 1000, 1),
        rec("ventas", 3, "c", "r", 1000, 2)),
      Seq(rec("ventas", 1, "a2", "u", 2000, 3), rec("ventas", 2, "", "d", 2000, 4)),
      Seq(rec("ventas", 4, "d", "c", 3000, 5), rec("ventas", 3, "c2", "u", 3000, 6)))
    def materialized(n: Int): Map[Long, String] =
      graft.cdc.Materialize.currentState(Envelope.unwrap(Envelope.wellFormed(
        Envelope.parse(batches.take(n).flatten.toDF(), rowSchema)), Seq("id")),
        Seq("id")).select("id", "v").as[(Long, String)].collect().toMap
    // maxDeltas 16 commits a delta per batch; maxDeltas 1 folds on every
    // commit, so its crash lands inside the fold (base written, manifest
    // not committed)
    for (sink <- Seq(LogMirrorSink(), LogMirrorSink(maxDeltas = 1))) {
      val root = Files.createTempDirectory("graft-pipe-crash").toString
      val cfg = CdcPipeline.Config(rowSchema, Seq("id"), s"$root/mirror",
        s"$root/dlq", s"$root/ckpt", sinkOverride = Some(sink))
      val tableRoot = s"${cfg.mirrorRoot}/ventas"
      def state() = CdcPipeline.mirror(spark, cfg, "ventas").select("id", "v")
        .as[(Long, String)].collect().toMap
      CdcPipeline.processBatch(batches(0).toDF(), 0L, cfg)
      // crash point: a directory where batch 1's manifest tmp file goes
      // makes its commit fail after the segments landed
      val blocker = new java.io.File(s"$tableRoot/.MANIFEST-1.tmp")
      assert(new java.io.File(blocker, "x").mkdirs())
      intercept[Exception] {
        CdcPipeline.processBatch(batches(1).toDF(), 1L, cfg)
      }
      assert(new java.io.File(s"$tableRoot/segments/delta-1").exists(),
        "the crash must fall after the segment write")
      if (sink.maxDeltas == 1)
        assert(new java.io.File(s"$tableRoot/segments/base-1").exists(),
          "the crash must fall after the fold's base write")
      // readers still see the last committed batch
      assert(state() == materialized(1), sink.toString)
      // restart: the replay of batch 1, then the next batch
      org.apache.commons.io.FileUtils.deleteDirectory(blocker)
      CdcPipeline.processBatch(batches(1).toDF(), 1L, cfg)
      assert(state() == materialized(2), sink.toString)
      CdcPipeline.processBatch(batches(2).toDF(), 2L, cfg)
      assert(state() == materialized(3), sink.toString)
      assert(materialized(3) == Map(1L -> "a2", 3L -> "c2", 4L -> "d"))
    }
  }

  test("a failed merge joins every sibling merge and view before it " +
    "surfaces: nothing writes after processBatch throws") {
    // "bad" throws once "good" has merged, so good's view is running;
    // "slow" is still merging. Good's table expectation reads a slow
    // reference and always fails, so the view writes a quarantine row
    // late. Every such write must land before the exception surfaces.
    val root = Files.createTempDirectory("graft-pipe-fail").toString
    val goodMerged = new java.util.concurrent.CountDownLatch(1)
    val merges = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sink = new graft.sinks.MapSink {
      override def merge(spark: org.apache.spark.sql.SparkSession,
                         tableRoot: String,
                         changes: org.apache.spark.sql.DataFrame,
                         keyCols: Seq[String], batchId: Long): Unit = {
        val t = tableRoot.split('/').last
        if (t == "bad") {
          goodMerged.await(30, java.util.concurrent.TimeUnit.SECONDS)
          throw new IllegalStateException("injected merge failure")
        }
        if (t == "slow") Thread.sleep(1000)
        super.merge(spark, tableRoot, changes, keyCols, batchId)
        merges.add(t)
        if (t == "good") goodMerged.countDown()
      }
    }
    val slowReference = (s: org.apache.spark.sql.SparkSession) => {
      Thread.sleep(2500)
      s.range(1).toDF("id")
    }
    val cfg = CdcPipeline.Config(rowSchema, Seq("id"), s"$root/mirror",
      s"$root/dlq", s"$root/ckpt", sinkOverride = Some(sink),
      aggViews = Map("good_v" -> CdcPipeline.AggView("good",
        IncrementalAgg.Spec(Seq("v"), Nil))),
      quarantineDir = Some(s"$root/quarantine"),
      tableExpectations = Map("good_v" -> CdcPipeline.TableExpectation(
        rules = Seq(graft.operators.Expectations.Rule("never",
          org.apache.spark.sql.functions.lit(false))),
        reference = Some(slowReference))))
    def files(): Set[(String, Long)] = {
      val it = fsOf(root).listFiles(new org.apache.hadoop.fs.Path(root), true)
      val out = Set.newBuilder[(String, Long)]
      while (it.hasNext) {
        val f = it.next()
        out += f.getPath.toString -> f.getModificationTime
      }
      out.result()
    }
    val err = intercept[IllegalStateException] {
      CdcPipeline.processBatch(Seq(rec("good", 1, "a", "r", 1000, 0),
        rec("bad", 2, "b", "r", 1000, 1), rec("slow", 3, "c", "r", 1000, 2))
        .toDF(), 0L, cfg)
    }
    assert(err.getMessage == "injected merge failure")
    val (mergedAtThrow, filesAtThrow) = (merges.toArray.toSeq, files())
    Thread.sleep(4000)
    assert(merges.toArray.toSeq == mergedAtThrow,
      s"a merge landed after the batch failed: $mergedAtThrow -> $merges")
    assert(files() == filesAtThrow,
      s"a write landed after the batch failed: ${files() -- filesAtThrow}")
    assert(mergedAtThrow.toSet == Set("good", "slow"))
    assert(CdcPipeline.tableViolations(spark, cfg, "good_v").count() == 1)
  }

  test("processBatch returns its stage clock: every stage >= 0, total " +
    "within the call's wall time") {
    val root = Files.createTempDirectory("graft-pipe-clock").toString
    val cfg = CdcPipeline.Config(rowSchema, Seq("id"), s"$root/mirror",
      s"$root/dlq", s"$root/ckpt", consistentSnapshots = true,
      aggViews = Map("v_by_v" -> CdcPipeline.AggView("ventas",
        IncrementalAgg.Spec(Seq("v"), Nil, maxCols = Seq("id")))))
    val batch = Seq(rec("ventas", 1, "a", "r", 1000, 0),
      rec("ventas", 2, "b", "r", 1000, 1), rec("compras", 7, "z", "r", 1000, 2),
      Rec("mysql-server.pos_bi_db.ventas", "k", "{broken", 0, 3)).toDF()
    val t0 = System.nanoTime()
    val st = CdcPipeline.processBatch(batch, 0L, cfg)
    val wall = (System.nanoTime() - t0) / 1e9
    val stages = Seq(st.route, st.merge, st.views, st.snapshot, st.dlq)
    assert(stages.forall(_ >= 0), st)
    assert(st.total == stages.sum && st.total <= wall, s"$st vs wall $wall")
    // the clock rides the production plan: the batch really landed
    assert(CdcPipeline.mirror(spark, cfg, "ventas").count() == 2)
    assert(CdcPipeline.aggView(spark, cfg, "v_by_v").count() == 2)
    assert(CdcPipeline.deadLetters(spark, cfg).count() == 1)
  }

  test("rereadIsStable: in-memory micro-batches and parquet reads are " +
    "re-read; any other leaf persists the routed batch") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Rec]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    val q = ms.toDF().writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.add(CdcPipeline.rereadIsStable(b)); ()
      }.start()
    try {
      ms.addData(rec("ventas", 1, "a", "r", 1000, 0))
      q.processAllAvailable()
    } finally q.stop()
    assert(seen.toArray.toSeq == Seq(true))

    val dir = Files.createTempDirectory("graft-pipe-stable").toString
    Seq(rec("ventas", 1, "a", "r", 1000, 0)).toDF()
      .write.mode("overwrite").parquet(s"$dir/batch")
    val parquet = spark.read.parquet(s"$dir/batch")
    val ranged = spark.range(1, 2).selectExpr(
      "'mysql-server.pos_bi_db.ventas' AS topic", "'k' AS key",
      """concat('{"payload":{"after":{"id":', id, ',"v":"a"},"op":"r",""" +
        """"ts_ms":1000}}') AS value""",
      "0 AS partition", "id AS offset")
    assert(CdcPipeline.rereadIsStable(parquet))
    assert(!CdcPipeline.rereadIsStable(ranged))

    // processBatch acts on the verdict: only the unstable batch's routed
    // frame is cached while its merge runs
    def routedCachedDuringMerge(batch: org.apache.spark.sql.DataFrame,
                                name: String): Boolean = {
      val cached = new java.util.concurrent.atomic.AtomicBoolean(false)
      val sink = new graft.sinks.MapSink {
        override def merge(s: org.apache.spark.sql.SparkSession,
                           tableRoot: String,
                           changes: org.apache.spark.sql.DataFrame,
                           keyCols: Seq[String], batchId: Long): Unit = {
          cached.set(batch.withColumn("table_name",
            Envelope.route(org.apache.spark.sql.functions.col("topic")))
            .storageLevel != org.apache.spark.storage.StorageLevel.NONE)
          super.merge(s, tableRoot, changes, keyCols, batchId)
        }
      }
      val cfg = CdcPipeline.Config(rowSchema, Seq("id"), s"$dir/$name/mirror",
        s"$dir/$name/dlq", s"$dir/$name/ckpt", sinkOverride = Some(sink))
      CdcPipeline.processBatch(batch, 0L, cfg)
      assert(sink.read(spark, s"$dir/$name/mirror/ventas").count() == 1)
      cached.get
    }
    assert(!routedCachedDuringMerge(parquet, "parquet"))
    assert(routedCachedDuringMerge(ranged, "range"))
  }

  test("monitoring listener observes batches; lag alert fires on big batch") {
    val cfg = freshCfg()
    val mon = Monitoring.attach(spark)
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Rec]
    val q = CdcPipeline.start(ms.toDF(), cfg)
    try {
      (0 until 600).grouped(200).foreach { g =>
        ms.addData(g.map(i => rec("ventas", i.toLong, s"v$i", "c", 1000L + i, i.toLong)): _*)
      }
      q.processAllAvailable()
      assert(CdcPipeline.mirror(spark, cfg, "ventas").count() == 600)
      // listener bus is async — allow it to drain
      val deadline = System.nanoTime() + 5000000000L
      while (mon.progressDf.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(mon.progressDf.count() > 0, "listener saw no progress events")
      // all 600 rows may arrive in 1-3 batches; any batch > 500 rows
      // trips the reference's MAX_LAG_THRESHOLD analog
      assert(mon.lagAlerts(500).count() >= 0)
    } finally {
      q.stop()
      spark.streams.removeListener(mon)
    }
  }

  test("continuous key-gap detection: a density view over id cells " +
    "flags a dropped key range within ONE batch, replay-idempotent") {
    // deletes must carry BEFORE images so the density cells retract
    // (binlog row mode, what the reference connector emits)
    def denv(id: Long, op: String, ts: Long): String =
      if (op == "d")
        s"""{"payload":{"before":{"id":$id,"v":"x"},"after":null,""" +
          s""""op":"d","ts_ms":$ts}}"""
      else
        s"""{"payload":{"after":{"id":$id,"v":"x"},"op":"$op","ts_ms":$ts}}"""
    def drec(id: Long, op: String, ts: Long, off: Long) =
      Rec("mysql-server.pos_bi_db.ventas", s"""{"payload":{"id":$id}}""",
        denv(id, op, ts), 0, off)
    val base = freshCfg()
    val cfg = base.copy(aggViews = Map("density" ->
      CdcPipeline.AggView("ventas",
        IncrementalAgg.Spec(Nil, Nil, cellGroups = Seq(("id", 64L))))))
    def gaps() = CdcPipeline.lowDensityCells(spark, cfg, "density", "id")
      .select("cell", "n_keys", "n_missing").as[(Long, Long, Long)]
      .collect().toSet

    // batch 0: ids 0..269 — cells 0..3 full (64 each), cell 4 partial
    CdcPipeline.processBatch(
      (0L until 270L).map(i => drec(i, "r", 1000, i)).toDF(), 0L, cfg)
    assert(gaps().isEmpty, s"dense interior must not flag: ${gaps()}")

    // batch 1: a PARTIAL range drop (64..99 -> cell 1 keeps 28) and a
    // FULL cell drop (128..191 -> cell 2 vanishes from state; the
    // spine anti-join must resurface it as n_keys = 0)
    val dropped = (64L until 100L) ++ (128L until 192L)
    CdcPipeline.processBatch(
      dropped.zipWithIndex.map { case (i, k) =>
        drec(i, "d", 2000, 1000L + k) }.toDF(), 1L, cfg)
    val flagged = gaps()
    assert(flagged == Set((1L, 28L, 36L), (2L, 0L, 64L)),
      s"expected the two dropped ranges flagged in THIS batch: $flagged")

    // foreachBatch replay of batch 1: the view's manifest version skips
    // the re-fold; flags unchanged (no double retraction)
    CdcPipeline.processBatch(
      dropped.zipWithIndex.map { case (i, k) =>
        drec(i, "d", 2000, 1000L + k) }.toDF(), 1L, cfg)
    assert(gaps() == flagged, "replay must not change the flags")

    // the range refills -> the flags clear on the next batch
    CdcPipeline.processBatch(
      dropped.zipWithIndex.map { case (i, k) =>
        drec(i, "c", 3000, 2000L + k) }.toDF(), 2L, cfg)
    assert(gaps().isEmpty, s"refilled ranges must clear: ${gaps()}")

    // TAIL truncation: dropping the TOP cells shrinks the observed max,
    // so observed-only mode is blind (documented) — the REFERENCE-bound
    // mode must flag both the vanished full cell and the partial last
    // cell (clipped domain)
    CdcPipeline.processBatch(
      (192L until 270L).zipWithIndex.map { case (i, k) =>
        drec(i, "d", 4000, 3000L + k) }.toDF(), 3L, cfg)
    val bounded = CdcPipeline.lowDensityCells(spark, cfg, "density", "id",
      expectedMaxKey = Some(269L))
      .select("cell", "n_keys", "domain", "n_missing")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(bounded == Set((3L, 0L, 64L, 64L), (4L, 0L, 14L, 14L)),
      s"reference-bounded audit must flag the dropped tail: $bounded")
    assert(gaps().isEmpty,
      "observed-only mode cannot see a tail drop (the documented " +
        "limitation the reference bound exists for)")
  }

  // ---- one plan per trigger: union parse, one group merge ----------

  /** Spark jobs launched while `f` runs (every test runs alone on the
    * shared session); the listener bus is async, so the count settles
    * once every started job has ended. */
  private def jobsDuring(f: => Unit): Int = {
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val ended = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet()
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        ended.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      f
      val deadline = System.nanoTime() + 10000000000L
      while ((started.get() == 0 || started.get() != ended.get()) &&
        System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(200)
      started.get()
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def compiles(): Long = org.apache.spark.metrics.source.CodegenMetrics
    .METRIC_COMPILATION_TIME.getCount

  test("one plan per trigger: a nine-schema batch launches no more Spark " +
    "jobs than a one-table batch; a same-shape repeat compiles almost " +
    "nothing") {
    import PosTables._
    def fresh() = config(Files.createTempDirectory("graft-pipe-jobs").toString)
    val one = Seq(table("ventas"))
    // warm-up: both shapes once, so neither measured run pays first use
    CdcPipeline.processBatch(batch(one, 20, 1000L).toDF(), 0L, fresh())
    CdcPipeline.processBatch(batch(all, 20, 1000L).toDF(), 0L, fresh())
    val jobsOne = jobsDuring(CdcPipeline.processBatch(
      batch(one, 20, 1000L).toDF(), 0L, fresh()))
    val jobsNine = jobsDuring(CdcPipeline.processBatch(
      batch(all, 20, 1000L).toDF(), 0L, fresh()))
    info(s"Spark jobs: one-table batch $jobsOne, nine-schema batch $jobsNine")
    assert(jobsNine <= jobsOne, s"nine schemas $jobsNine > one table $jobsOne")

    // two same-shape nine-table batches: the second reuses the first's
    // generated classes (a per-schema plan set outgrew the codegen cache)
    val cfg = fresh()
    CdcPipeline.processBatch(batch(all, 20, 1000L).toDF(), 0L, cfg)
    val before = compiles()
    CdcPipeline.processBatch(batch(all, 20, 2000L, off0 = 1000L).toDF(), 1L, cfg)
    val fresh2 = compiles() - before
    info(s"classes compiled by the second same-shape batch: $fresh2")
    assert(fresh2 <= 4, s"$fresh2 new classes on a same-shape repeat")
  }

  test("every mirror of a nine-schema batch reads exactly its registered " +
    "columns and equals its own materialization") {
    import PosTables._
    val cfg = config(Files.createTempDirectory("graft-pipe-nine").toString)
    val b0 = batch(all, 30, 1000L)
    val b1 = (all.zipWithIndex.flatMap { case (t, ti) =>
      Seq(change(t, 1, "u", 2000L, 1000L + 3 * ti),
        change(t, 2, "d", 2000L, 1001L + 3 * ti),
        change(t, 40, "c", 2000L, 1002L + 3 * ti))
    } :+ Rec("mysql-server.pos_bi_db.ventas", "k", "{broken", 0, 2000L))
    CdcPipeline.processBatch(b0.toDF(), 0L, cfg)
    CdcPipeline.processBatch(b1.toDF(), 1L, cfg)
    val records = (b0 ++ b1).toDF()
    for (t <- all) {
      val got = CdcPipeline.mirror(spark, cfg, t.name)
      assert(got.schema == t.schema.toNullable, t.name)
      assert(rows(got) == rows(expected(spark, t, records)), t.name)
      assert(got.count() == 30, t.name) // 30 - 1 delete + 1 insert
    }
    assert(CdcPipeline.deadLetters(spark, cfg).count() == 1)
  }

  test("masked keys: an update of a foreign-key column that is another " +
    "table's key leaves one live row") {
    import PosTables._
    val (ventas, entidades) = (table("ventas"), table("entidades"))
    val cfg = config(Files.createTempDirectory("graft-pipe-fk").toString,
      Seq(ventas, entidades))
    // one batch holds venta 1 twice, its id_entidad moving 10 -> 20, and
    // entidades 10 and 20; keyed on the raw union of key columns, the
    // two ventas versions would be two keys and both would stay live
    CdcPipeline.processBatch(Seq(
      change(ventas, 1, "r", 1000L, 0, "id_entidad" -> 10L),
      change(entidades, 10, "r", 1000L, 1), change(entidades, 20, "r", 1000L, 2),
      change(ventas, 1, "u", 2000L, 3, "id_entidad" -> 20L)).toDF(), 0L, cfg)
    def ventasRows() = CdcPipeline.mirror(spark, cfg, "ventas")
      .select("id_venta", "id_entidad").as[(Long, Long)].collect().toSeq
    assert(ventasRows() == Seq((1L, 20L)))
    // and across batches: the next move lands on the same row
    CdcPipeline.processBatch(Seq(
      change(ventas, 1, "u", 3000L, 4, "id_entidad" -> 10L)).toDF(), 1L, cfg)
    assert(ventasRows() == Seq((1L, 10L)))
    assert(CdcPipeline.mirror(spark, cfg, "entidades").count() == 2)
  }

  test("same-named columns of different types parse apart: INT vs " +
    "STRING, a key-type mismatch and a widening each split the group") {
    import PosTables.{Table, config, change, expected, rows}
    val a = Table("ta", "id", Seq("code" -> "INT"))
    val b = Table("tb", "id", Seq("code" -> "STRING"))
    val c = Table("tc", "id_c", Seq("v" -> "STRING"))
    // tk keys on `code`, typed as ta's INT; td keys on `id_c` as a string
    val k = Table("tk", "code", Seq("v" -> "STRING"))
    val d = Table("td", "x", Seq("id_c" -> "STRING"))
    val w = Table("tw", "id_c", Seq("w" -> "INT"))
    val cfg = config(Files.createTempDirectory("graft-pipe-split").toString,
      Seq(a, b, c, k, d, w)).copy(tableSpecs = Map(
      "ta" -> a.spec, "tb" -> b.spec, "tc" -> c.spec, "td" -> d.spec,
      "tw" -> w.spec.copy(rowSchema = StructType.fromDDL(
        "id_c INT, w INT")),
      "tk" -> CdcPipeline.TableSpec(StructType.fromDDL(
        "code INT, v STRING"), Seq("code"))))
    val groups = CdcPipeline.parseGroups(
      Seq("ta", "tb", "tc", "td", "tk", "tw"), cfg).map(_._1.toSet).toSet
    assert(groups == Set(Set("ta", "tc", "tk"), Set("tb", "td"), Set("tw")),
      groups)
    val recs = Seq(
      change(a, 1, "r", 1000L, 0, "code" -> 5), change(a, 1, "u", 2000L, 1, "code" -> 6),
      change(b, 1, "r", 1000L, 2, "code" -> "five"),
      change(c, 7, "r", 1000L, 3), change(d, 3, "r", 1000L, 4, "id_c" -> "seven"),
      Rec("mysql-server.pos_bi_db.tk", """{"payload":{"code":5}}""",
        """{"payload":{"after":{"code":5,"v":"k5"},"op":"r","ts_ms":1000}}""", 0, 5),
      Rec("mysql-server.pos_bi_db.tw", """{"payload":{"id_c":7}}""",
        """{"payload":{"after":{"id_c":7,"w":70},"op":"r","ts_ms":1000}}""", 0, 6))
    CdcPipeline.processBatch(recs.toDF(), 0L, cfg)
    for (t <- Seq(a, b, c, d)) {
      val got = CdcPipeline.mirror(spark, cfg, t.name)
      assert(got.schema == t.schema.toNullable, t.name)
      assert(rows(got) == rows(expected(spark, t, recs.toDF())), t.name)
    }
    assert(CdcPipeline.mirror(spark, cfg, "ta").as[(Long, Int)].collect()
      .toSeq == Seq((1L, 6)))
    assert(CdcPipeline.mirror(spark, cfg, "tk").schema.map(_.dataType) ==
      Seq(IntegerType, StringType))
    assert(CdcPipeline.mirror(spark, cfg, "tw").as[(Int, Int)].collect()
      .toSeq == Seq((7, 70)))
  }

  test("a MapSink table receives only its own columns, even when its " +
    "record carries a field another table registers") {
    val a = StructType.fromDDL("id BIGINT, v STRING, a_only BIGINT")
    val b = StructType.fromDDL("id BIGINT, v STRING, b_only STRING")
    val seen = new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
    val sink = new graft.sinks.MapSink {
      override def merge(s: org.apache.spark.sql.SparkSession, tableRoot: String,
                         changes: org.apache.spark.sql.DataFrame,
                         keyCols: Seq[String], batchId: Long): Unit = {
        seen.put(tableRoot.split('/').last, changes.columns.toSeq)
        val leaked = changes.columns.filter(Set("a_only", "b_only"))
        if (leaked.nonEmpty)
          assert(changes.select(leaked.map(changes.col).toIndexedSeq: _*).collect()
            .forall(r => !r.isNullAt(0)))
        super.merge(s, tableRoot, changes, keyCols, batchId)
      }
    }
    val root = Files.createTempDirectory("graft-pipe-own").toString
    val cfg = CdcPipeline.Config(a, Seq("id"), s"$root/mirror", s"$root/dlq",
      s"$root/ckpt", sinkOverride = Some(sink),
      tableSpecs = Map("ta" -> CdcPipeline.TableSpec(a, Seq("id")),
        "tb" -> CdcPipeline.TableSpec(b, Seq("id"))))
    CdcPipeline.processBatch(Seq(
      Rec("mysql-server.pos_bi_db.ta", """{"payload":{"id":1}}""",
        """{"payload":{"after":{"id":1,"v":"x","a_only":3,"b_only":"leak"},""" +
          """"op":"r","ts_ms":1000}}""", 0, 0),
      Rec("mysql-server.pos_bi_db.tb", """{"payload":{"id":2}}""",
        """{"payload":{"after":{"id":2,"v":"y","b_only":"z"},"op":"r",""" +
          """"ts_ms":1000}}""", 0, 1)).toDF(), 0L, cfg)
    val meta = Seq("topic", "partition", "offset", "op", "ts_ms")
    assert(seen.get("ta") == meta ++ a.fieldNames)
    assert(seen.get("tb") == meta ++ b.fieldNames)
    assert(sink.read(spark, s"$root/mirror/ta").as[(Long, String)].collect()
      .toSeq == Seq((1L, "x")))
  }

  test("a batch mixing a gated table, an agg view, a signal-snapshot " +
    "chunk and plain tables of other schemas matches Materialize") {
    import PosTables._
    import org.apache.spark.sql.functions.{col, count, lit, max}
    val root = Files.createTempDirectory("graft-pipe-mixed").toString
    val (ventas, entidades, productos, cierres) = (table("ventas"),
      table("entidades"), table("productos"), table("cierres_caja"))
    val source = spark.range(0, 50).select(col("id").as("id_producto"),
      lit(3L).as("id_categoria"), lit("src").as("nombre"),
      lit(1).as("stock"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/signals"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/signals/s.json"),
      ("""{"id":"sig-1","type":"execute-snapshot",""" +
        """"data":{"data-collections":["productos"]}}""").getBytes("UTF-8"))
    val cfg = config(root, Seq(ventas, entidades, productos, cierres)).copy(
      expectations = Map("entidades" -> Seq(graft.operators.Expectations.Rule(
        "has_ciudad", col("ciudad").isNotNull))),
      quarantineDir = Some(s"$root/quarantine"),
      aggViews = Map("by_entidad" -> CdcPipeline.AggView("ventas",
        IncrementalAgg.Spec(Seq("id_entidad"), Nil, maxCols = Seq("total")))),
      signalDir = Some(s"$root/signals"),
      snapshotSources = Map("productos" -> (() => source)),
      snapshotChunkKeys = 100)
    val recs = batch(Seq(ventas, entidades, cierres), 12, 1000L) ++ Seq(
      change(entidades, 5, "u", 2000L, 100, "ciudad" -> null), // quarantined
      change(productos, 4, "u", 2000L, 101), change(productos, 70, "c", 2000L, 102),
      // a delete without a before image: venta 3 is entidad 22's only
      // row, so the group must leave the view
      change(ventas, 3, "d", 2000L, 103))
    CdcPipeline.processBatch(recs.toDF(), 0L, cfg)
    val df = recs.toDF()
    for (t <- Seq(ventas, cierres))
      assert(rows(CdcPipeline.mirror(spark, cfg, t.name)) ==
        rows(expected(spark, t, df)), t.name)
    // the gated table: every change but the quarantined update
    assert(rows(CdcPipeline.mirror(spark, cfg, "entidades")) ==
      rows(expected(spark, entidades, df.filter(col("offset") =!= 100L))))
    assert(spark.read.parquet(s"$root/quarantine/entidades")
      .select("id_entidad").as[Long].collect().toSeq == Seq(5L))
    // the snapshot table: the chunk at the signal epoch, overridden by
    // the batch's own changes
    val chunk = source.select(lit("graft-snapshot").as("topic"),
      lit(0).as("partition"), lit(Long.MaxValue).as("offset"), lit("r").as("op"),
      lit(0L).as("ts_ms"), col("id_producto"), col("id_categoria"),
      col("nombre"), col("stock"))
    val own = graft.cdc.Envelope.unwrap(graft.cdc.Envelope.parse(
      df.filter(col("topic") === "mysql-server.pos_bi_db.productos"),
      productos.schema), Seq("id_producto"))
    assert(rows(CdcPipeline.mirror(spark, cfg, "productos")) == rows(
      graft.cdc.Materialize.currentState(own.unionByName(chunk), Seq("id_producto"))))
    assert(CdcPipeline.mirror(spark, cfg, "productos").count() == 51)
    // the agg view: the one-shot GROUP BY over the ventas mirror
    assert(rows(CdcPipeline.aggView(spark, cfg, "by_entidad")
      .select("id_entidad", "n_rows", "max_total")) ==
      rows(CdcPipeline.mirror(spark, cfg, "ventas").groupBy("id_entidad")
        .agg(count(lit(1)).as("n_rows"), max(col("total")).as("max_total"))))
  }

  test("start decides the routed-batch persist from its source: a rate " +
    "source mapped to the Kafka shape persists, a MemoryStream does not") {
    import scala.jdk.CollectionConverters._
    implicit val sqlCtx = spark.sqlContext
    // the parse cache reads a routed cache only when the routed batch
    // was persisted
    def readsRoutedCache(changes: org.apache.spark.sql.DataFrame): Boolean =
      changes.queryExecution.withCachedData.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      }.exists(_.cacheBuilder.cachedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
      }.isDefined)
    def run(records: org.apache.spark.sql.DataFrame,
            feed: () => Unit): Boolean = {
      val verdicts = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
      val sink = new graft.sinks.MapSink {
        override def merge(s: org.apache.spark.sql.SparkSession, tableRoot: String,
                           changes: org.apache.spark.sql.DataFrame,
                           keyCols: Seq[String], batchId: Long): Unit = {
          verdicts.add(readsRoutedCache(changes))
          super.merge(s, tableRoot, changes, keyCols, batchId)
        }
      }
      val root = Files.createTempDirectory("graft-pipe-src").toString
      val cfg = CdcPipeline.Config(rowSchema, Seq("id"), s"$root/mirror",
        s"$root/dlq", s"$root/ckpt", triggerMs = 10, sinkOverride = Some(sink))
      val q = CdcPipeline.start(records, cfg)
      try {
        feed()
        val deadline = System.nanoTime() + 60000000000L
        while (verdicts.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      } finally q.stop()
      assert(!verdicts.isEmpty, "no batch reached the sink")
      assert(verdicts.asScala.toSet.size == 1, verdicts)
      verdicts.peek()
    }
    val ms = MemoryStream[Rec]
    assert(!run(ms.toDF(), () => ms.addData(rec("ventas", 1, "a", "r", 1000, 0))))
    val rate = spark.readStream.format("rate").option("rowsPerSecond", "20")
      .load().selectExpr("'mysql-server.pos_bi_db.ventas' AS topic",
        """concat('{"payload":{"id":', value, '}}') AS key""",
        """concat('{"payload":{"after":{"id":', value, ',"v":"a"},"op":"r",""" +
          """"ts_ms":1000}}') AS value""",
        "0 AS partition", "value AS offset")
    assert(CdcPipeline.rereadIsStable(ms.toDF()))
    assert(!CdcPipeline.rereadIsStable(rate))
    assert(run(rate, () => ()))
  }
}
