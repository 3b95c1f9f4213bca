package graft.plans

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.cdc.Materialize
import graft.sinks.LogMirror

/** The latest-per-key kernel against a `row_number()` oracle on random
  * change batches — multi-column keys with nulls, late arrivals, exact
  * redeliveries, null version fields — at 1 and 8 shuffle partitions
  * with AQE on, directly, through `Materialize` and through a
  * LogMirror merged from many deltas; plus the plan guard: every CDC
  * read and merge path plans the kernel as one hash exchange and one
  * sort, never a SortAggregate, and the delta write sorts no second
  * time. */
class LatestPerKeySpec extends SparkSpec {
  import spark.implicits._

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val old = kv.map { case (k, _) => k -> conf.getOption(k) }
    kv.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  private def atPartitions[T](n: Int)(body: => T): T =
    withConf("spark.sql.adaptive.enabled" -> "true",
      "spark.sql.shuffle.partitions" -> n.toString)(body)

  private val schema = StructType(Seq(
    StructField("k1", IntegerType), StructField("k2", StringType),
    StructField("ts", LongType), StructField("off", LongType),
    StructField("v", StringType)))

  /** `n` changes over a small key space. The payload is a function of
    * (key, version), so rows tied on the whole version are exact
    * redeliveries and either may win; arrival order is shuffled, so
    * older versions arrive after newer ones (late arrivals). */
  private def batch(rnd: Random, n: Int): Seq[Row] = {
    val rows = (0 until n).map { _ =>
      val k1: Integer = if (rnd.nextInt(10) == 0) null else rnd.nextInt(6)
      val k2 = if (rnd.nextInt(10) == 0) null else s"s${rnd.nextInt(3)}"
      val ts: java.lang.Long = if (rnd.nextInt(12) == 0) null else rnd.nextInt(5).toLong
      val off: java.lang.Long = if (rnd.nextInt(12) == 0) null else rnd.nextInt(4).toLong
      Row(k1, k2, ts, off, s"$k1/$k2@$ts.$off")
    }
    rnd.shuffle(rows ++ rows.take(n / 10)) // exact redeliveries
  }

  private def frame(rows: Seq[Row], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)

  /** Oracle: first row per key under (ts desc, off desc), nulls last —
    * the struct ordering `max_by` ranked versions by. */
  private def oracle(df: DataFrame, keys: Seq[String],
                     versions: Seq[String]): Set[Row] = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(versions.map(c => col(c).desc_nulls_last): _*)
    df.withColumn("_rn", row_number().over(w)).filter($"_rn" === 1)
      .drop("_rn").collect().toSet
  }

  test("random batches: the kernel equals the row_number() oracle at 1 " +
    "and 8 partitions, multi-column and null keys, late arrivals, " +
    "redeliveries, null versions") {
    val rnd = new Random(20261018L)
    for (parts <- Seq(1, 8); _ <- 1 to 6) atPartitions(parts) {
      val df = frame(batch(rnd, 40 + rnd.nextInt(160)), parts)
      val got = LatestPerKey(df, Seq("k1", "k2"), Seq("ts", "off"))
      val rows = got.collect()
      assert(got.columns.toSeq == schema.fieldNames.toSeq)
      assert(rows.length == rows.map(r => (r.get(0), r.get(1))).distinct.length,
        "one row per key")
      assert(rows.toSet == oracle(df, Seq("k1", "k2"), Seq("ts", "off")),
        s"parts=$parts")
    }
  }

  test("floating-point keys group as aggregates group them: -0.0 = 0.0, " +
    "NaN = NaN") {
    val df = Seq((0.0, 1L), (-0.0, 2L), (Double.NaN, 3L), (Double.NaN, 4L))
      .toDF("k", "ts")
    assert(LatestPerKey(df, Seq("k"), Seq("ts")).select("ts").as[Long]
      .collect().toSet == Set(2L, 4L))
  }

  test("single-column keys: Materialize.versionedState matches the oracle " +
    "with deletes, late arrivals and redeliveries") {
    val rnd = new Random(7L)
    for (parts <- Seq(1, 8)) atPartitions(parts) {
      val changes = (0 until 300).map { i =>
        val id = rnd.nextInt(40).toLong
        val ts = rnd.nextInt(50).toLong
        val off = rnd.nextInt(3).toLong
        (id, s"v$id@$ts.$off", if (rnd.nextInt(5) == 0) "d" else "u", ts, off)
      }
      val df = rnd.shuffle(changes ++ changes.take(30)).toDF("id", "v", "op", "ts_ms", "offset")
        .withColumn("topic", lit("t")).withColumn("partition", lit(0))
        .repartition(parts)
      val got = Materialize.versionedState(df, Seq("id"))
        .select("id", "v", Materialize.deletedFlag).collect().toSet
      val want = oracle(df, Seq("id"), Seq("ts_ms", "offset"))
        .map(r => Row(r.getLong(0), r.getString(1), r.getString(2) == "d"))
      assert(got == want, s"parts=$parts")
    }
  }

  test("a mirror merged from many deltas (and folded) reads as the " +
    "oracle over every change") {
    val rnd = new Random(11L)
    val root = Files.createTempDirectory("lpk-mirror").toString
    var all = Seq.empty[(Long, String, String, Long, Long)]
    for (b <- 0 until 14) {
      val changes = (0 until 40).map { i =>
        val id = rnd.nextInt(60).toLong
        // late arrivals: a batch's versions overlap earlier batches'
        val ts = (b * 10 + rnd.nextInt(40) - 20).toLong
        val off = (b * 100 + i).toLong
        (id, s"v$id@$ts", if (rnd.nextInt(6) == 0) "d" else "u", ts, off)
      }
      all ++= changes
      LogMirror.merge(spark, root,
        changes.toDF("id", "v", "op", "ts_ms", "offset")
          .withColumn("topic", lit("t")).withColumn("partition", lit(0)),
        Seq("id"), b.toLong, maxDeltas = 10, bucketCount = None)
    }
    val everything = all.toDF("id", "v", "op", "ts_ms", "offset")
    val want = oracle(everything, Seq("id"), Seq("ts_ms", "offset"))
      .filter(_.getString(2) != "d").map(r => (r.getLong(0), r.getString(1)))
    for (parts <- Seq(1, 8)) atPartitions(parts) {
      assert(LogMirror.read(spark, root).select("id", "v").as[(Long, String)]
        .collect().toSet == want, s"parts=$parts")
    }
  }

  /** Physical operators of `df`'s plan as prepared, looking into cached
    * plans; under AQE the initial plan, which holds every exchange and
    * sort EnsureRequirements placed. */
  private def operators(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec =>
      operators(if (a.isFinalPlan) a.executedPlan else a.initialPlan)
    case q: QueryStageExec => operators(q.plan)
    case s: InMemoryTableScanExec => s +: operators(s.relation.cachedPlan)
    case other => other +: other.children.flatMap(operators)
  }

  /** (kernels, hash exchanges, sorts, aggregates) of a plan. */
  private def shape(p: SparkPlan): (Int, Int, Int, Int) = {
    val ops = operators(p)
    (ops.count(_.isInstanceOf[LatestPerKeyExec]),
      ops.count(_.isInstanceOf[ShuffleExchangeExec]),
      ops.count(_.isInstanceOf[SortExec]),
      ops.count(_.isInstanceOf[BaseAggregateExec]))
  }

  private def changes(rows: (Long, String, String, Long, Long)*): DataFrame =
    rows.toDF("id", "v", "op", "ts_ms", "offset")
      .withColumn("topic", lit("t")).withColumn("partition", lit(0))

  test("plan guard: CDC reads and versionedState plan one exchange and one " +
    "sort per kernel and no aggregate") {
    val root = Files.createTempDirectory("lpk-plan").toString
    (0L to 3L).foreach(b => LogMirror.merge(spark, root,
      changes((b, s"v$b", "u", 1000L + b, b), (b + 10, "x", "c", 1000L + b, b)),
      Seq("id"), b, 16, None))
    val frames = Seq(
      "read" -> LogMirror.read(spark, root),
      "readVersioned" -> LogMirror.readVersioned(spark, root),
      "changesSinceVersioned" -> LogMirror.changesSinceVersioned(spark, root, 1L),
      "lookup" -> LogMirror.lookup(spark, root, Seq("id"), Seq(2L)),
      "versionedState" -> Materialize.versionedState(
        changes((1L, "a", "u", 5L, 0L), (1L, "b", "u", 6L, 1L)), Seq("id")))
    for ((name, df) <- frames) {
      val plan = df.queryExecution.executedPlan
      val (kernels, exchanges, sorts, aggs) = shape(plan)
      assert(kernels >= 1 && aggs == 0 && exchanges == kernels &&
        sorts == kernels, s"$name: $kernels kernels, $exchanges exchanges, " +
        s"$sorts sorts, $aggs aggregates:\n$plan")
      df.collect() // and it runs
    }
  }

  test("plan guard: the delta write reuses the kernel's key order (no " +
    "second sort)") {
    val captured = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = captured.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    val root = Files.createTempDirectory("lpk-write").toString
    spark.listenerManager.register(listener)
    try {
      LogMirror.merge(spark, root, changes((1L, "a", "u", 5L, 0L),
        (2L, "b", "u", 6L, 1L), (1L, "c", "u", 7L, 2L)), Seq("id"), 0L, 16, None)
      val deadline = System.nanoTime() + 10000000000L
      def writes = captured.asScala.toSeq.map(_.executedPlan)
        .filter(_.toString.contains("WriteFiles"))
      while (writes.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(writes.size == 1)
      val (kernels, exchanges, sorts, aggs) = shape(writes.head)
      assert(kernels == 1 && exchanges == 1 && sorts == 1 && aggs == 0,
        s"$kernels kernels, $exchanges exchanges, $sorts sorts, " +
          s"$aggs aggregates:\n${writes.head}")
    } finally spark.listenerManager.unregister(listener)
    assert(LogMirror.read(spark, root).select("id", "v").as[(Long, String)]
      .collect().toMap == Map(1L -> "c", 2L -> "b"))
  }
}
