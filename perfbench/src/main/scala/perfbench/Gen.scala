package perfbench

import scala.collection.mutable

/** Traffic settings of stream_serve. BENCHMARK.json pins every value in
  * its command (`--traffic`), and there are no defaults: a run gets the
  * values the command names or does not start. `perfbench/contract.md`
  * gives each value's source, or says that it is an assumption. */
final case class Traffic(
    keys: Int,                    // snapshot rows over the nine tables
    zipf: Double,                 // skew of the keys that changes hit
    ledgerInsertShare: Double,    // op mix of the six ledger tables
    ledgerDeleteShare: Double,
    masterInsertShare: Double,    // op mix of the three master tables
    masterDeleteShare: Double,
    lateShare: Double,            // events stamped with an older ts_ms
    lateMaxMs: Int,
    malformedShare: Double,
    rate: Int,                    // offered events/s
    chunkMs: Int,                 // generator period
    drainEvents: Int,             // the closing backlog
    maxDeltas: Int)               // LogMirrorSink fold cadence

object Traffic {
  /** The `--traffic` keys, in the order of [[Traffic]]'s fields. */
  val keys: Seq[String] = Seq("keys", "zipf", "ledger_insert_share", "ledger_delete_share",
    "master_insert_share", "master_delete_share", "late_share", "late_max_ms",
    "malformed_share", "rate", "chunk_ms", "drain_events", "max_deltas")

  /** Parses `k=v,k=v,...`. Every key must be given exactly once and no
    * other key is accepted, so a misspelt key fails the run instead of
    * leaving a value unpinned. */
  def parse(s: String): Traffic = {
    val pairs = s.split(',').map(_.trim).filter(_.nonEmpty).toSeq.map { p =>
      require(p.contains('='), s"traffic setting '$p' is not key=value")
      val Array(k, v) = p.split("=", 2); k.trim -> v.trim
    }
    val unknown = pairs.map(_._1).filterNot(keys.contains)
    require(unknown.isEmpty, s"unknown traffic keys: ${unknown.mkString(", ")}")
    val twice = pairs.map(_._1).diff(pairs.map(_._1).distinct)
    require(twice.isEmpty, s"traffic keys given twice: ${twice.mkString(", ")}")
    val kv = pairs.toMap
    val missing = keys.filterNot(kv.contains)
    require(missing.isEmpty, s"missing traffic keys: ${missing.mkString(", ")}")
    def i(k: String) = kv(k).toInt
    def f(k: String) = kv(k).toDouble
    Traffic(i("keys"), f("zipf"), f("ledger_insert_share"), f("ledger_delete_share"),
      f("master_insert_share"), f("master_delete_share"), f("late_share"), i("late_max_ms"),
      f("malformed_share"), i("rate"), i("chunk_ms"), i("drain_events"), i("max_deltas"))
  }
}

/** One column of a generated table: name, Spark SQL type, value maker. */
final case class Field(name: String, sqlType: String,
                       make: (Gen.Rng, Long, Long, Int) => Any)

/** A reference table: its key column, payload fields, its share of the
  * snapshot rows and of the changes, and whether it is a ledger (rows
  * are appended and seldom changed after) or a master table (rows are
  * few and change often). */
final case class TableDef(name: String, key: String, fields: Seq[Field],
                          share: Double, ledger: Boolean) {
  def columns: Seq[String] = key +: fields.map(_.name) :+ "updated_ms"
  def ddl: String = (s"`$key` BIGINT" +: fields.map(f => s"`${f.name}` ${f.sqlType}") :+
    "`updated_ms` BIGINT").mkString(", ")
}

/** One Kafka record as the program sees it, plus what the oracle needs:
  * the table, key id and version, or `malformed`. `row` is null for
  * deletes and malformed records. */
final case class Event(topic: String, key: String, value: String,
                       partition: Int, offset: Long,
                       table: Int, keyId: Long, op: Char, tsMs: Long,
                       malformed: Boolean, row: Array[Any])

/** Latest version of one key: what a mirror must hold for it. */
final case class KeyState(tsMs: Long, offset: Long, deleted: Boolean,
                          row: Array[Any])

/** Seeded generator of Debezium JSON envelopes for the nine reference
  * tables (`Tables.posTables`): a snapshot (`op='r'`) of every table,
  * then changes: the ledger tables mostly take inserts and the master
  * tables mostly updates, each change hitting a Zipf-skewed key (a
  * recent row of a ledger, a low key of a master table), with deletes
  * and reinserts, a share of late events (older `ts_ms`) and a share of
  * malformed records. One
  * instance is driven by one thread; the same seed yields the same
  * events. The generator doubles as the oracle: [[state]] holds the
  * expected final version of every (table, key) over the events made so
  * far. */
final class Gen(val seed: Long, val traffic: Traffic) {
  import Gen._

  val rng = new Rng(seed)
  private val tables = Gen.tables
  private val baseTs = 1700000000000L
  private var clock = baseTs
  private val nextOffset = Array.fill(tables.size, Partitions)(0L)
  private val alive = tables.map(_ => mutable.HashMap.empty[Long, Array[Any]])
  private val nextKey = Array.fill(tables.size)(1L)
  // harmonic prefix sums for the Zipf draw, grown as keys are inserted
  private var zipfCdf = new Array[Double](1)
  private def zipfUpTo(n: Int): Double = {
    if (n >= zipfCdf.length) {
      val c = java.util.Arrays.copyOf(zipfCdf, math.max(n + 1, zipfCdf.length * 2))
      var i = zipfCdf.length
      while (i < c.length) { c(i) = c(i - 1) + 1.0 / math.pow(i, traffic.zipf); i += 1 }
      zipfCdf = c
    }
    zipfCdf(n)
  }
  private val shareCdf =
    tables.map(_.share).scanLeft(0.0)(_ + _).tail.map(_ / tables.map(_.share).sum)

  /** Expected version per (table, key) over every event made so far. */
  val state: IndexedSeq[mutable.HashMap[Long, KeyState]] =
    tables.map(_ => mutable.HashMap.empty[Long, KeyState])
  var malformedCount = 0L

  /** Snapshot (`op='r'`) events: `share` of [[Traffic.keys]] rows per
    * table, in table then key order. */
  def snapshot(): Seq[Event] = {
    val out = mutable.ArrayBuffer.empty[Event]
    tables.indices.foreach { t =>
      val n = math.max(1, (traffic.keys * tables(t).share).toInt)
      (1 to n).foreach { _ =>
        val k = nextKey(t); nextKey(t) += 1
        out += emit(t, k, 'r', tick(), makeRow(t, k))
      }
    }
    out.toSeq
  }

  /** Next `n` catch-up events. */
  def next(n: Int): Seq[Event] = Seq.fill(n)(nextOne())

  private def tick(): Long = { clock += 1; clock }

  /** Zipf rank in 1..(keys of table `t` so far). */
  private def zipfRank(t: Int): Long = {
    val hi = (nextKey(t) - 1).toInt
    val u = rng.nextDouble() * zipfUpTo(hi)
    var lo = 1; var h = hi
    while (lo < h) { val m = (lo + h) >>> 1; if (zipfCdf(m) < u) lo = m + 1 else h = m }
    lo.toLong
  }

  /** The key a change hits: in a master table the popular keys are the
    * low ones; in a ledger the recent rows are the ones that change. */
  private def changedKey(t: Int): Long =
    if (tables(t).ledger) nextKey(t) - zipfRank(t) else zipfRank(t)

  private def nextOne(): Event = {
    val u = rng.nextDouble()
    var t = 0
    while (shareCdf(t) < u) t += 1
    val now = tick()
    val ts =
      if (rng.nextDouble() < traffic.lateShare) now - 1 - rng.nextInt(traffic.lateMaxMs)
      else now
    if (rng.nextDouble() < traffic.malformedShare) return malformed(t, ts)
    val (insertShare, deleteShare) =
      if (tables(t).ledger) (traffic.ledgerInsertShare, traffic.ledgerDeleteShare)
      else (traffic.masterInsertShare, traffic.masterDeleteShare)
    val r = rng.nextDouble()
    if (r < insertShare) {
      val k = nextKey(t); nextKey(t) += 1
      emit(t, k, 'c', ts, makeRow(t, k))
    } else {
      val k = changedKey(t)
      if (!alive(t).contains(k)) emit(t, k, 'c', ts, makeRow(t, k)) // reinsert
      else if (r < insertShare + deleteShare) emit(t, k, 'd', ts, null)
      else emit(t, k, 'u', ts, makeRow(t, k))
    }
  }

  private def makeRow(t: Int, k: Long): Array[Any] =
    tables(t).fields.map(_.make(rng, k, clock, traffic.keys)).toArray

  private def partitionOf(k: Long): Int = (k % Partitions).toInt

  private def emit(t: Int, k: Long, op: Char, ts: Long, row: Array[Any]): Event = {
    val td = tables(t)
    val p = partitionOf(k)
    val off = nextOffset(t)(p); nextOffset(t)(p) += 1
    val full = if (row == null) null else row :+ ts
    val before = alive(t).get(k).orNull
    // the generator's own view of liveness follows emission order, the
    // oracle follows version order — they differ only for late events
    if (op == 'd') alive(t).remove(k) else alive(t)(k) = full
    val prev = state(t).get(k)
    if (prev.forall(s => s.tsMs < ts || (s.tsMs == ts && s.offset < off)))
      state(t)(k) = KeyState(ts, off, op == 'd', full)
    Event(topicOf(t), keyJson(td, k), envelope(td, k, op, ts, before, full),
      p, off, t, k, op, ts, malformed = false, full)
  }

  private def malformed(t: Int, ts: Long): Event = {
    val td = tables(t)
    val k = changedKey(t)
    val p = partitionOf(k)
    val off = nextOffset(t)(p); nextOffset(t)(p) += 1
    val good = envelope(td, k, 'u', ts, null, makeRow(t, k) :+ ts)
    malformedCount += 1
    // a record cut off mid-payload, as a broken producer would leave it
    Event(topicOf(t), keyJson(td, k), good.take(good.length / 2), p, off,
      t, k, 'u', ts, malformed = true, null)
  }
}

object Gen {
  val Partitions = 3

  /** SplitMix64: small, fast and identical on every JVM. */
  final class Rng(seed: Long) {
    private var s = seed * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L
    def nextLong(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    def nextInt(n: Int): Int = ((nextLong() >>> 33) % n).toInt
    def pick[T](xs: IndexedSeq[T]): T = xs(nextInt(xs.size))
  }

  private val tipos = IndexedSeq("cliente", "proveedor", "mixto", "interno", "mayorista")
  private val ciudades = IndexedSeq("Lima", "Quito", "Bogota", "Cali", "Cusco", "Arequipa")
  private val estados = IndexedSeq("pagada", "pendiente", "anulada")
  private val metodos = IndexedSeq("efectivo", "tarjeta", "transferencia")
  private def money(r: Rng, hi: Int): Long = 100L + r.nextInt(hi * 100)
  /** A reference into another table's snapshot key range. */
  private def ref(share: Double)(r: Rng, k: Long, now: Long, keys: Int): Any =
    1L + r.nextInt(math.max(1, (share * keys).toInt))

  /** The nine reference tables, each with its own key and row schema.
    * `ventas.id_entidad` references `entidades`, whose key is the join
    * column of the stream_serve join view. */
  val tables: IndexedSeq[TableDef] = IndexedSeq(
    TableDef("categorias", "id_categoria", Seq(
      Field("nombre", "STRING", (r, k, _, _) => s"cat-$k-${r.nextInt(100)}"),
      Field("activa", "BOOLEAN", (r, _, _, _) => r.nextInt(10) > 0)), 0.01, ledger = false),
    TableDef("entidades", "id_entidad", Seq(
      Field("nombre", "STRING", (r, k, _, _) => s"ent-$k-${r.nextInt(1000)}"),
      Field("tipo", "STRING", (r, _, _, _) => r.pick(tipos)),
      Field("ciudad", "STRING", (r, _, _, _) => r.pick(ciudades))), 0.05, ledger = false),
    TableDef("productos", "id_producto", Seq(
      Field("id_categoria", "BIGINT", ref(0.01)),
      Field("nombre", "STRING", (r, k, _, _) => s"prod-$k-${r.nextInt(1000)}"),
      Field("precio_cents", "BIGINT", (r, _, _, _) => money(r, 500)),
      Field("stock", "INT", (r, _, _, _) => r.nextInt(1000))), 0.08, ledger = false),
    TableDef("ventas", "id_venta", Seq(
      Field("id_entidad", "BIGINT", ref(0.05)),
      Field("total_cents", "BIGINT", (r, _, _, _) => money(r, 2000)),
      Field("estado", "STRING", (r, _, _, _) => r.pick(estados)),
      Field("fecha_ms", "BIGINT", (_, _, now, _) => now)), 0.25, ledger = true),
    TableDef("detalle_ventas", "id_detalle_venta", Seq(
      Field("id_venta", "BIGINT", ref(0.25)),
      Field("id_producto", "BIGINT", ref(0.08)),
      Field("cantidad", "INT", (r, _, _, _) => 1 + r.nextInt(20)),
      Field("precio_cents", "BIGINT", (r, _, _, _) => money(r, 500))), 0.30, ledger = true),
    TableDef("compras", "id_compra", Seq(
      Field("id_entidad", "BIGINT", ref(0.05)),
      Field("total_cents", "BIGINT", (r, _, _, _) => money(r, 5000)),
      Field("fecha_ms", "BIGINT", (_, _, now, _) => now)), 0.08, ledger = true),
    TableDef("detalle_compras", "id_detalle_compra", Seq(
      Field("id_compra", "BIGINT", ref(0.08)),
      Field("id_producto", "BIGINT", ref(0.08)),
      Field("cantidad", "INT", (r, _, _, _) => 1 + r.nextInt(50)),
      Field("costo_cents", "BIGINT", (r, _, _, _) => money(r, 300))), 0.15, ledger = true),
    TableDef("cierres_caja", "id_cierre", Seq(
      Field("cajero", "STRING", (r, _, _, _) => s"cajero-${r.nextInt(20)}"),
      Field("monto_cents", "BIGINT", (r, _, _, _) => money(r, 20000)),
      Field("fecha_ms", "BIGINT", (_, _, now, _) => now)), 0.02, ledger = true),
    TableDef("pagos_clientes", "id_pago", Seq(
      Field("id_entidad", "BIGINT", ref(0.05)),
      Field("monto_cents", "BIGINT", (r, _, _, _) => money(r, 3000)),
      Field("metodo", "STRING", (r, _, _, _) => r.pick(metodos))), 0.06, ledger = true))

  val ventas: Int = tables.indexWhere(_.name == "ventas")
  val entidades: Int = tables.indexWhere(_.name == "entidades")

  def topicOf(t: Int): String = graft.core.Tables.topicFor(tables(t).name)

  def keyJson(td: TableDef, k: Long): String =
    s"""{"payload":{"${td.key}":$k}}"""

  private def quote(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def rowJson(td: TableDef, k: Long, row: Array[Any]): String =
    if (row == null) "null"
    else {
      val sb = new StringBuilder("{")
      sb.append('"').append(td.key).append("\":").append(k)
      td.fields.indices.foreach { i =>
        sb.append(",\"").append(td.fields(i).name).append("\":")
        row(i) match {
          case s: String => sb.append(quote(s))
          case v => sb.append(v)
        }
      }
      sb.append(",\"updated_ms\":").append(row(td.fields.size)).append('}').toString
    }

  /** Debezium envelope with the schema part elided, as the pipeline's
    * parser reads it. */
  def envelope(td: TableDef, k: Long, op: Char, ts: Long,
               before: Array[Any], after: Array[Any]): String =
    s"""{"payload":{"before":${rowJson(td, k, before)},"after":${rowJson(td, k, after)},""" +
      s""""source":{"table":"${td.name}","ts_ms":$ts},"op":"$op","ts_ms":$ts}}"""
}
