package perfbench

import org.scalatest.funsuite.AnyFunSuite

import StreamServe.{Chunk, Commit, backlogAt, backlogGrew}

/** The run-validity rule that flags a stream_serve run whose backlog
  * grew over the timed window. */
class BacklogSpec extends AnyFunSuite {
  private val perChunk = 250
  /** Eight chunks of 250 events, one a second from t = 0, at offsets 0..7. */
  private val chunks = (0 until 8).map(i => Chunk(i.toLong, i * 1000L, 0.0, perChunk))
  private val windowEnd = 8000L

  /** A commit of every chunk up to `endOffset`, `ms` after that chunk was due. */
  private def commit(batch: Long, endOffset: Long, ms: Long) =
    Commit(batch, endOffset, endOffset * 1000L, ms, ms)

  test("a pipeline that keeps up leaves at most the chunk in flight") {
    // every chunk commits 400 ms after it was due
    val log = chunks.map(c => commit(c.offset, c.offset, 400))
    val end = backlogAt(chunks, log, windowEnd)
    assert(end == 0)
    assert(!backlogGrew(end, perChunk))
    // the last chunk still in flight when the window closes
    val inFlight = backlogAt(chunks, log.init, windowEnd)
    assert(inFlight == perChunk)
    assert(!backlogGrew(inFlight, perChunk))
  }

  test("a stalled commit log is flagged") {
    // two chunks commit, then the pipeline stalls for the rest of the window
    val log = Seq(commit(0, 0, 300), commit(1, 1, 300))
    val end = backlogAt(chunks, log, windowEnd)
    assert(end == 6 * perChunk)
    assert(backlogGrew(end, perChunk))
  }

  test("a pipeline whose triggers lengthen is flagged however long they get") {
    // each trigger takes every waiting chunk and runs longer than the last
    var t = 0L; var off = -1L; var batch = 0L; var len = 1500L
    val log = Iterator.continually {
      val due = chunks.filter(c => c.dueMs <= t && c.offset > off)
      val end = if (due.isEmpty) off else due.last.offset
      val c = Commit(batch, end, t, len, len)
      t += len; off = end; batch += 1; len += 1000
      c
    }.takeWhile(_.startMs < 20000).toSeq
    val end = backlogAt(chunks, log, windowEnd)
    assert(end > 2 * perChunk)
    assert(backlogGrew(end, perChunk))
  }

  test("a commit that ends after the window closes does not count") {
    val log = Seq(commit(0, 7, 7500)) // starts at 7 s, commits at 14.5 s
    assert(backlogAt(chunks, log, windowEnd) == 8 * perChunk)
  }
}
