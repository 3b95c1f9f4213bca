package perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.cdc.Envelope
import graft.streaming.CdcPipeline
import graft.sinks.{LogMirror, LogMirrorSink}

/** A Kafka-shaped record: the only input the program sees. */
final case class Rec(topic: String, key: String, value: String,
                     partition: Int, offset: Long)

/** Calls into the CDC spine shared by stream_serve and its traced bulk
  * replay, and the checks of its outputs against the generator's oracle. */
object Cdc {
  val tables: IndexedSeq[TableDef] = Gen.tables
  val schemas: IndexedSeq[StructType] = tables.map(t => StructType.fromDDL(t.ddl))
  def schemaOf(t: Int): StructType = schemas(t)

  def rec(e: Event): Rec = Rec(e.topic, e.key, e.value, e.partition, e.offset)

  /** A local (re-readable) frame of records, as a broker batch arrives. */
  def frame(spark: SparkSession, evs: Seq[Event]): DataFrame = {
    import spark.implicits._
    evs.map(rec).toDF()
  }

  /** Pipeline config: every table registered with its own schema and
    * key, mirrors on an explicitly pinned LogMirrorSink. */
  def config(root: String, maxDeltas: Int, triggerMs: Long = 500L): CdcPipeline.Config = {
    val v = Gen.ventas
    CdcPipeline.Config(
      rowSchema = schemas(v), keyCols = Seq(tables(v).key),
      mirrorRoot = s"$root/mirror", dlqDir = s"$root/dlq",
      checkpointDir = s"$root/ckpt", triggerMs = triggerMs,
      tableSpecs = tables.indices.map(t =>
        tables(t).name -> CdcPipeline.TableSpec(schemas(t), Seq(tables(t).key))).toMap,
      sinkOverride = Some(LogMirrorSink(maxDeltas = maxDeltas)))
  }

  def mirrorRoot(cfg: CdcPipeline.Config, t: Int): String = s"${cfg.mirrorRoot}/${tables(t).name}"

  /** Live rows the oracle expects for table `t`. */
  def expected(spark: SparkSession, gen: Gen, t: Int): DataFrame = {
    val rows = gen.state(t).iterator.collect {
      case (k, s) if !s.deleted => Row.fromSeq(k +: s.row.toSeq)
    }.toVector
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schemas(t))
  }

  /** Rows in `got` but not `want` plus rows in `want` but not `got`,
    * both as distributed `exceptAll`, counted in one job. */
  def diff(got: DataFrame, want: DataFrame): Long = {
    val g = got.select(want.columns.map(got.col).toIndexedSeq: _*)
    g.exceptAll(want).unionAll(want.exceptAll(g)).count()
  }

  /** Decode a batch the way the pipeline does, per table: parse with the
    * table's schema, keep well-formed records, unwrap. */
  def decode(batch: DataFrame, t: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    val sub = batch.filter(col("topic") === Gen.topicOf(t))
    Envelope.unwrap(Envelope.wellFormed(Envelope.parse(sub, schemas(t))),
      Seq(tables(t).key))
  }

  def malformedRows(batch: DataFrame): Long =
    tables.indices.map { t =>
      import org.apache.spark.sql.functions.col
      Envelope.dlq(Envelope.parse(batch.filter(col("topic") === Gen.topicOf(t)), schemas(t))).count()
    }.sum

  /** Runs independent checks concurrently (each is a few small jobs). */
  def parallel[T](fs: Seq[() => T]): Seq[T] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    Await.result(Future.sequence(fs.map(f => Future(f()))), 10.minutes)
  }

  /** Bytes of all files under `dir`. */
  def bytesUnder(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) n += it.next().getLen
      n
    }
  }

  def deltaDepth(spark: SparkSession, root: String): Int = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    LogMirror.readManifest(fs, root).map(_.deltas.size).getOrElse(0)
  }

  def baseId(spark: SparkSession, root: String): Option[Long] = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    LogMirror.readManifest(fs, root).flatMap(_.base)
  }

  /** The mirrors and the DLQ of `cfg` against the oracle; each wrong
    * table counts as one failed operation. */
  def checkAgainstOracle(ctx: Ctx, cfg: CdcPipeline.Config, gen: Gen): Unit = {
    val spark = ctx.spark
    val diffs = parallel(tables.indices.map(t =>
      () => diff(LogMirror.read(spark, mirrorRoot(cfg, t)), expected(spark, gen, t))))
    tables.indices.foreach { t =>
      ctx.res.check(s"mirror_${tables(t).name}", diffs(t) == 0)
      if (diffs(t) != 0) ctx.res.op(ok = false)
    }
    val dlq = CdcPipeline.deadLetters(spark, cfg).count()
    ctx.res.check("dlq_count", dlq == gen.malformedCount)
    if (dlq != gen.malformedCount) ctx.res.op(ok = false)
  }
}
