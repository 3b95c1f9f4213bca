package graft

/** Keeps the one dev profiler compiling and running: each scenario of
  * [[Profile]] on the shared session at sf0.001 with tiny sizes. */
class ProfileSpec extends SparkSpec {

  private def run(args: String*): Seq[String] = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Profile.run(spark, args.toArray))
    out.toString("UTF-8").linesIterator.toSeq
  }

  test("queries: a warm-up pass, timed reps and a summary per query") {
    val lines = run("queries", sf0001, "agg_pricing_summary", "join_anti", "2")
    Seq("agg_pricing_summary", "join_anti").foreach { q =>
      val reps = lines.filter(l => l.startsWith("rep=") && l.contains(s" $q "))
      assert(reps.size == 3, lines.mkString("\n"))
      assert(reps.head.endsWith("(warm-up)"))
      assert(reps.forall(_.matches(
        """rep=\d +\S+ +build= *[\d.]+ exec= *[\d.]+ jobs= *\d+ load=.*""")))
      assert(lines.exists(l => l.startsWith(s"SUMMARY $q ") &&
        l.contains("min=") && l.contains("med=") && l.contains("max=")))
    }
  }

  test("stream: per-trigger wall, jobs and stage clock, then the drain " +
    "rate, with views and a snapshot backfill riding along") {
    val lines = run("stream", sf0001, "2", "2", "500")
    val triggers = lines.filter(_.startsWith("trigger"))
    assert(triggers.nonEmpty, lines.mkString("\n"))
    assert(triggers.forall(_.matches("""trigger\d+ +\d+ ms jobs= *\d+ """ +
      """route=[\d.]+ merge=[\d.]+ views=[\d.]+ snap=[\d.]+ dlq=[\d.]+""")),
      triggers.mkString("\n"))
    val drain = lines.filter(_.startsWith("drain "))
    assert(drain.size == 1 && drain.head.matches(
      """drain events=[1-9]\d* wall=[\d.]+ s jobs=\d+ eps=\d+"""), lines)
  }

  test("views: two rounds of merge + poll waves, one line per step") {
    val steps = run("views", sf0001).filter(_.startsWith("round"))
    assert(steps.size == 20, steps.mkString("\n"))
    assert(steps.last.matches("""round2 poll wave4 +[\d.]+ s jobs= *\d+"""))
  }

  test("an unknown scenario fails with the usage line") {
    val e = intercept[IllegalArgumentException](run("sweep", sf0001))
    assert(e.getMessage.startsWith("usage: queries"))
  }
}
