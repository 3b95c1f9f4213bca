package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Debezium change-event envelope handling, Spark-native.
  *
  * The reference transports JSON envelopes
  * `{schema, payload:{before, after, source, op, ts_ms}}` per record
  * (reference: register-mysql-connector.json:22-25 schemas-enabled
  * JsonConverter) and unwraps them in the sink with the
  * `ExtractNewRecordState` SMT (reference: register-postgres-sink.json:22-24).
  *
  * Here the whole chain is declarative Column algebra so Catalyst can
  * column-prune the envelope fields that the sink never needs — the same
  * effect the SMT achieves record-at-a-time, but vectorized and
  * whole-stage-codegen'd.
  */
object Envelope {

  /** Envelope payload StructType for a given per-table row schema.
    * The inline `schema` field Debezium emits is intentionally NOT parsed
    * on the hot path (we only need `payload`); schema drift is handled by
    * the registry (see SchemaEvolution).
    */
  def payloadSchema(rowSchema: StructType): StructType = StructType(Seq(
    StructField("before", rowSchema, nullable = true),
    StructField("after", rowSchema, nullable = true),
    StructField("source", StructType(Seq(
      StructField("table", StringType, nullable = true),
      StructField("ts_ms", LongType, nullable = true))), nullable = true),
    StructField("op", StringType, nullable = true),
    StructField("ts_ms", LongType, nullable = true)))

  def envelopeSchema(rowSchema: StructType): StructType =
    StructType(Seq(StructField("payload", payloadSchema(rowSchema), nullable = true)))

  /** Parse raw Kafka-style records (`value: string`) into typed envelopes.
    * PERMISSIVE parse: malformed JSON yields a null payload/op, which the
    * DLQ split routes to the dead-letter output instead of failing the
    * query (reference: register-postgres-sink.json:18-21 errors.tolerance=all).
    */
  def parse(raw: DataFrame, rowSchema: StructType): DataFrame =
    raw.withColumn("env",
      from_json(col("value").cast("string"), envelopeSchema(rowSchema)))

  /** `parsed` with both row images cut to `rowSchema`'s fields, in its
    * order: the shape `parse(raw, rowSchema)` yields, read off a parse
    * whose row schema is a superset of `rowSchema` with the same types.
    * Null envelopes, payloads and images stay null; a parse already at
    * `rowSchema` is returned as is. */
  def narrow(parsed: DataFrame, rowSchema: StructType): DataFrame = {
    val after = parsed.select(col("env.payload.after")).schema.head.dataType
    if (after == rowSchema.toNullable) return parsed
    val payload = col("env.payload")
    def image(side: String): Column = {
      val img = payload.getField(side)
      when(img.isNotNull,
        struct(rowSchema.fieldNames.toSeq.map(f => img.getField(f).as(f)): _*))
    }
    parsed.withColumn("env", when(col("env").isNotNull, struct(
      when(payload.isNotNull, struct(image("before").as("before"),
        image("after").as("after"), payload.getField("source").as("source"),
        payload.getField("op").as("op"), payload.getField("ts_ms").as("ts_ms")))
        .as("payload"))))
  }

  /** A record is well-formed iff it parsed AND carries an op code.
    * Tombstones (null value) are NOT dead letters.
    *
    * Tombstone semantics: the reference strips delete events with the
    * unwrap SMT and lets the TOMBSTONE carry the delete into its sink
    * (register-postgres-sink.json:22-24, drop.tombstones=false). This
    * engine ingests the envelope stream directly, so the op='d' event
    * itself is the authoritative delete; a tombstone is a redundant
    * Kafka-compaction marker. It unwraps to op='d' at version (ts=0,
    * offset), which any real event outranks — i.e. it deletes a key
    * only when it is the key's sole record, and never suppresses a
    * reinsert (verified in CdcPipelineSpec). */
  def isWellFormed: Column =
    col("value").isNull || col("env.payload.op").isNotNull

  /** ExtractNewRecordState equivalent: project `payload.after.*` plus the
    * op metadata needed for ordering/delete handling. Tombstone records
    * (null value) are normalized to op='d'.
    *
    * Delete events carry `after = null`, so primary-key fields are taken
    * from the record KEY (`{"payload":{pk...}}`) when absent from after —
    * mirroring the sink's `pk.mode=record_key`
    * (reference: register-postgres-sink.json:17).
    */
  def unwrap(parsed: DataFrame, keyCols: Seq[String] = Nil): DataFrame = {
    val afterSchema = parsed.select(col("env.payload.after.*")).schema
    val afterCols = afterSchema.fieldNames
    val keyStruct = StructType(Seq(StructField("payload",
      StructType(afterSchema.fields.filter(f => keyCols.contains(f.name))))))
    val withKey =
      if (keyCols.isEmpty) parsed
      else parsed.withColumn("_k", from_json(col("key").cast("string"), keyStruct))
    def field(c: String): Column = {
      val after = col(s"env.payload.after.$c")
      if (keyCols.contains(c)) coalesce(after, col(s"_k.payload.$c")).as(c)
      else after.as(c)
    }
    withKey
      .withColumn("op", coalesce(col("env.payload.op"), lit("d")))
      .withColumn("ts_ms", coalesce(col("env.payload.ts_ms"), lit(0L)))
      .select(
        Seq(col("topic"), col("partition"), col("offset"), col("op"), col("ts_ms")) ++
          afterCols.map(field): _*)
  }

  /** RegexRouter equivalent: `mysql-server.pos_bi_db.(.*)` -> `$1`
    * (reference: register-postgres-sink.json:25-27). */
  def route(topicCol: Column): Column =
    regexp_extract(topicCol, "mysql-server\\.pos_bi_db\\.(.*)", 1)

  /** DLQ split (reference: register-dlq-sink.json:15-17 HoistField ->
    * payload_json): malformed records hoisted to a 1-column raw table. */
  def dlq(parsed: DataFrame): DataFrame =
    parsed.filter(!isWellFormed)
      .select(col("value").cast("string").as("payload_json"))

  def wellFormed(parsed: DataFrame): DataFrame = parsed.filter(isWellFormed)
}
