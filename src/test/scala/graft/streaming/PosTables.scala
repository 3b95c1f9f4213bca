package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.cdc.{Envelope, Materialize}

/** Nine tables shaped like the reference's `pos_bi_db`: each with its
  * own key and row schema, sharing column names the way the reference
  * does — `ventas.id_entidad` is a foreign key holding `entidades`' key,
  * `cantidad` and `nombre` recur with one type. Records are
  * Debezium-shaped; every payload value derives from the key and the
  * event time unless a test overrides it. */
object PosTables {
  final case class Table(name: String, key: String, cols: Seq[(String, String)]) {
    def schema: StructType = StructType.fromDDL(
      ((key -> "BIGINT") +: cols).map { case (c, t) => s"`$c` $t" }.mkString(", "))
    def spec: CdcPipeline.TableSpec = CdcPipeline.TableSpec(schema, Seq(key))
  }

  val all: Seq[Table] = Seq(
    Table("categorias", "id_categoria", Seq("nombre" -> "STRING")),
    Table("entidades", "id_entidad", Seq("nombre" -> "STRING", "ciudad" -> "STRING")),
    Table("productos", "id_producto",
      Seq("id_categoria" -> "BIGINT", "nombre" -> "STRING", "stock" -> "INT")),
    Table("ventas", "id_venta", Seq("id_entidad" -> "BIGINT", "total" -> "BIGINT")),
    Table("detalle_ventas", "id_detalle_venta",
      Seq("id_venta" -> "BIGINT", "id_producto" -> "BIGINT", "cantidad" -> "INT")),
    Table("compras", "id_compra", Seq("id_entidad" -> "BIGINT", "total" -> "BIGINT")),
    Table("detalle_compras", "id_detalle_compra",
      Seq("id_compra" -> "BIGINT", "cantidad" -> "INT", "costo" -> "DOUBLE")),
    Table("cierres_caja", "id_cierre", Seq("cajero" -> "STRING", "monto" -> "BIGINT")),
    Table("pagos_clientes", "id_pago", Seq("id_entidad" -> "BIGINT", "metodo" -> "STRING")))

  def table(name: String): Table = all.find(_.name == name).get

  /** A config registering `tables`; the default spec is the first's. */
  def config(root: String, tables: Seq[Table] = all): CdcPipeline.Config =
    CdcPipeline.Config(tables.head.schema, Seq(tables.head.key),
      s"$root/mirror", s"$root/dlq", s"$root/ckpt",
      tableSpecs = tables.map(t => t.name -> t.spec).toMap)

  private def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s + "\""
    case x => x.toString
  }

  /** One change record; `after` values default from (key, ts). */
  def change(t: Table, id: Long, op: String, ts: Long, off: Long,
             overrides: (String, Any)*): Rec = {
    val row = t.cols.map { case (c, typ) =>
      c -> overrides.toMap.getOrElse(c, typ match {
        case "STRING" => s"$c-$id-$ts"
        case "DOUBLE" => id * 0.5 + ts
        case _ => id * 7 + ts / 1000
      })
    } ++ overrides.filterNot(o => t.cols.exists(_._1 == o._1))
    val after =
      if (op == "d") "null"
      else ((t.key -> id) +: row).map { case (c, v) => s""""$c":${json(v)}""" }
        .mkString("{", ",", "}")
    Rec(s"mysql-server.pos_bi_db.${t.name}", s"""{"payload":{"${t.key}":$id}}""",
      s"""{"payload":{"after":$after,"op":"$op","ts_ms":$ts}}""", 0, off)
  }

  /** `n` inserts into each table at `ts`, offsets from `off0`. */
  def batch(tables: Seq[Table], n: Int, ts: Long, off0: Long = 0L): Seq[Rec] =
    for {
      (t, ti) <- tables.zipWithIndex
      i <- 0 until n
    } yield change(t, i.toLong, if (ts == 1000L) "r" else "u", ts,
      off0 + ti * n + i)

  /** What a table's mirror must hold after `records`: its own records,
    * parsed with its own row schema, materialized per key. */
  def expected(spark: SparkSession, t: Table, records: DataFrame): DataFrame =
    Materialize.currentState(Envelope.unwrap(Envelope.wellFormed(
      Envelope.parse(records.filter(
        org.apache.spark.sql.functions.col("topic") ===
          s"mysql-server.pos_bi_db.${t.name}"), t.schema)),
      Seq(t.key)), Seq(t.key))

  def rows(df: DataFrame): Set[Row] = df.collect().toSet
}
