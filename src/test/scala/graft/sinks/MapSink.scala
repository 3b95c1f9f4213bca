package graft.sinks

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Toy transactional sink for `(id BIGINT, v STRING)` tables: rows live
  * in a driver-side map keyed by (tableRoot, pk) — the MERGE semantics
  * of a table format, minus the storage. Records every merge call so a
  * spec can assert the pipeline routed through the adapter. The
  * non-LogMirror reference target for sink-agnostic specs. */
class MapSink extends MirrorSink {
  val state = new ConcurrentHashMap[(String, Long), (String, Long)]()
  val mergeCalls = new java.util.concurrent.atomic.AtomicInteger(0)

  override def merge(spark: SparkSession, tableRoot: String,
                     changes: DataFrame, keyCols: Seq[String],
                     batchId: Long): Unit = {
    mergeCalls.incrementAndGet()
    // changes are the unwrapped per-table stream: op codes ('d' =
    // tombstone) + (ts_ms, offset) version order — exactly what a
    // table format's MERGE command consumes
    changes.collect().foreach { r =>
      val id = r.getLong(r.fieldIndex("id"))
      val ts = r.getLong(r.fieldIndex("ts_ms"))
      val current = Option(state.get((tableRoot, id)))
      if (current.forall(_._2 <= ts)) {
        if (r.getString(r.fieldIndex("op")) == "d")
          state.remove((tableRoot, id))
        else state.put((tableRoot, id), (r.getString(r.fieldIndex("v")), ts))
      }
    }
  }

  override def read(spark: SparkSession, tableRoot: String): DataFrame = {
    import spark.implicits._
    state.asScala.toSeq.collect {
      case ((root, id), (v, _)) if root == tableRoot => (id, v)
    }.toDF("id", "v")
  }

  override def lookup(spark: SparkSession, tableRoot: String,
                      keyCols: Seq[String], keyValues: Seq[Any]): DataFrame =
    read(spark, tableRoot)
      .filter(org.apache.spark.sql.functions.col("id") ===
        keyValues.head.toString.toLong)
}
