package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val traffic = Traffic(keys = 2000, zipf = 1.1,
    ledgerInsertShare = 0.8, ledgerDeleteShare = 0.02,
    masterInsertShare = 0.05, masterDeleteShare = 0.02,
    lateShare = 0.05, lateMaxMs = 3000, malformedShare = 0.02,
    rate = 250, chunkMs = 1000, drainEvents = 0, maxDeltas = 10)

  private def run(seed: Long, n: Int): (Gen, Seq[Event]) = {
    val g = new Gen(seed, traffic)
    val evs = g.snapshot() ++ g.next(n)
    (g, evs)
  }

  test("the same seed gives the same events and the same oracle") {
    val (g1, a) = run(7, 5000)
    val (g2, b) = run(7, 5000)
    assert(a.map(Cdc.rec) == b.map(Cdc.rec))
    assert(g1.malformedCount == g2.malformedCount)
    g1.state.indices.foreach { t =>
      assert(g1.state(t).view.mapValues(s => (s.tsMs, s.offset, s.deleted, Option(s.row).map(_.toSeq))).toMap ==
        g2.state(t).view.mapValues(s => (s.tsMs, s.offset, s.deleted, Option(s.row).map(_.toSeq))).toMap)
    }
  }

  test("different seeds give different events") {
    assert(run(7, 2000)._2.map(_.value) != run(8, 2000)._2.map(_.value))
  }

  test("the snapshot reads every table once per key, in key order") {
    val g = new Gen(1, traffic)
    val snap = g.snapshot()
    assert(snap.forall(_.op == 'r'))
    Gen.tables.indices.foreach { t =>
      val keys = snap.filter(_.table == t).map(_.keyId)
      assert(keys.nonEmpty && keys == keys.sorted && keys.distinct == keys)
    }
  }

  test("offsets grow by one within each topic partition") {
    val (_, evs) = run(3, 4000)
    evs.groupBy(e => (e.topic, e.partition)).values.foreach { es =>
      assert(es.map(_.offset) == es.indices.map(_.toLong))
    }
  }

  test("a late event never replaces a newer version in the oracle") {
    val (g, evs) = run(11, 8000)
    val late = evs.filterNot(_.malformed).groupBy(e => (e.table, e.keyId))
    var lateSeen = 0
    late.foreach { case ((t, k), es) =>
      // the expected state is the event with the greatest (ts_ms, offset)
      val newest = es.maxBy(e => (e.tsMs, e.offset))
      val s = g.state(t)(k)
      assert((s.tsMs, s.offset) == (newest.tsMs, newest.offset))
      assert(s.deleted == (newest.op == 'd'))
      lateSeen += es.sliding(2).count {
        case Seq(a, b) => b.tsMs < a.tsMs
        case _ => false
      }
    }
    assert(lateSeen > 0, "the stream should hold out-of-order events")
  }

  test("malformed records are counted and carry no state") {
    val (g, evs) = run(5, 6000)
    val bad = evs.filter(_.malformed)
    assert(bad.size == g.malformedCount)
    assert(bad.size > 0)
    assert(bad.forall(e => e.row == null && !e.value.endsWith("}}")))
  }

  test("every key the oracle holds alive has a row of its table's width") {
    val (g, _) = run(9, 4000)
    g.state.indices.foreach { t =>
      g.state(t).values.filterNot(_.deleted).foreach { s =>
        assert(s.row.length == Gen.tables(t).fields.size + 1)
      }
    }
  }

  test("ledger tables mostly append and master tables mostly update") {
    val g = new Gen(13, traffic)
    g.snapshot()
    val evs = g.next(20000).filterNot(_.malformed)
    def insertShare(ledger: Boolean) = {
      val es = evs.filter(e => Gen.tables(e.table).ledger == ledger)
      es.count(_.op == 'c').toDouble / es.size
    }
    // inserts plus reinserts of deleted keys
    assert(insertShare(ledger = true) > 0.75 && insertShare(ledger = true) < 0.9)
    assert(insertShare(ledger = false) < 0.15)
  }

  test("changes to a ledger hit recent rows") {
    val g = new Gen(17, traffic)
    val v = Gen.ventas
    var newest = g.snapshot().filter(_.table == v).map(_.keyId).max
    // age of a changed row: how many rows were appended after it
    val ages = g.next(20000).filter(e => e.table == v && !e.malformed).flatMap { e =>
      if (e.keyId > newest) { newest = e.keyId; None }
      else if (e.op == 'u' || e.op == 'd') Some(newest - e.keyId)
      else None
    }.sorted
    assert(ages.nonEmpty && ages(ages.size / 2) < newest / 100)
  }
}
