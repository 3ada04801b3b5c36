package graft

import org.apache.spark.sql.functions._

/** Round-17 invariants for the optimization batch that rewrote
  * operator internals (the brief's "add a focused test when an
  * optimization changes an operator's internals"):
  *
  *  - the Shazam best-offset selection is now a `max_by` hash
  *    aggregate instead of a ranking window — pin that the SELECTION is
  *    identical (max votes, lowest offset on vote ties) and that the
  *    executed plan really carries no window and keeps its pinned
  *    (coalescing-exempt) exchanges;
  *  - the PassJoin edit-distance path gained pinned exchanges — pin
  *    the plan shape and re-prove equality with the naive all-pairs
  *    oracle on a tie-heavy input;
  *  - `Retrieval.buildLegs` runs both leg builds concurrently — pin
  *    that results round-trip and that a failing leg rethrows its OWN
  *    exception (not the pool's ExecutionException wrapper).
  */
class Round17bSpec extends SparkSpec {

  import graft.multimodal.Multimodal
  import graft.multimodal.Multimodal.AudioFingerprint

  private def executed(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // finalize AQE so the executed plan is the real one
    df.queryExecution.executedPlan.toString
  }

  test("audioFingerprintMatches: argmax aggregate picks max votes / " +
      "lowest offset on ties, identically to the former ranking window") {
    import spark.implicits._
    // pair (1,2): offset 5 with 3 votes, offset -2 with 3 votes (tie ->
    // -2 must win: lowest offset), offset 1 with 2 votes. Each hash
    // bucket holds one landmark per doc, so every hash contributes
    // exactly one vote to its (a, b, fa - fb) cell.
    def lm(id: Long, frame: Long, hash: Int) = AudioFingerprint(id, frame, hash)
    val fps = Seq(
      lm(1, 10, 101), lm(2, 5, 101),
      lm(1, 20, 102), lm(2, 15, 102),
      lm(1, 30, 103), lm(2, 25, 103), // offset 5, votes 3
      lm(1, 1, 104), lm(2, 3, 104),
      lm(1, 2, 105), lm(2, 4, 105),
      lm(1, 3, 106), lm(2, 5, 106), // offset -2, votes 3
      lm(1, 7, 107), lm(2, 6, 107),
      lm(1, 8, 108), lm(2, 7, 108), // offset 1, votes 2
      lm(1, 50, 201), lm(3, 40, 201) // pair (1,3): 1 vote, below minVotes
    ).toDS()
    val out = Multimodal.audioFingerprintMatches(fps, minVotes = 3L)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3))).toSet
    assert(rows === Set((1L, 2L, -2L, 3L)),
      "vote tie must resolve to the LOWEST offset (the row_number " +
        "(votes desc, offset asc) order the aggregate replaced)")
  }

  test("audioFingerprintMatches: executed plan has no ranking window " +
      "and keeps both pinned exchanges") {
    import spark.implicits._
    val fps = (1 to 40).flatMap { h =>
      Seq(AudioFingerprint(1, h.toLong, h), AudioFingerprint(2, h + 3L, h))
    }.toDS()
    val plan = executed(Multimodal.audioFingerprintMatches(fps, minVotes = 5L))
    assert(!plan.contains("Window") && !plan.contains("row_number"),
      "best-offset selection must stay an aggregate, not a window")
    val pinned = plan.linesIterator.count(_.contains("REPARTITION_BY_NUM"))
    assert(pinned >= 2,
      s"expected the pinned hash + (a,b) exchanges (coalescing-exempt), got $pinned:\n$plan")
  }

  test("audioFingerprintLookup: argmax semantics and pinned vote exchange") {
    import spark.implicits._
    val query = Seq(AudioFingerprint(1, 10, 11), AudioFingerprint(1, 20, 12),
      AudioFingerprint(1, 30, 13), AudioFingerprint(1, 40, 14)).toDS()
    // index doc 10 matches at offset 4 (votes 2) and offset 9 (votes 2)
    val index = Seq(AudioFingerprint(10, 6, 11), AudioFingerprint(10, 16, 12),
      AudioFingerprint(10, 21, 13), AudioFingerprint(10, 31, 14)).toDS()
    val out = Multimodal.audioFingerprintLookup(query, index, minVotes = 2L)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3))).toSet
    assert(rows === Set((1L, 10L, 4L, 2L)))
    val plan = executed(Multimodal.audioFingerprintLookup(query, index,
      minVotes = 2L))
    assert(!plan.contains("Window") &&
      plan.linesIterator.exists(_.contains("REPARTITION_BY_NUM")))
  }

  test("editDistancePairs: pinned segment/pair exchanges present and " +
      "results equal the naive all-pairs oracle on a tie-heavy input") {
    import spark.implicits._
    val docs = Seq(
      (1L, "kitten"), (2L, "sitten"), (3L, "sittin"), (4L, "kitte"),
      (5L, "kittens"), (6L, "abcdef"), (7L, "abcdeg"), (8L, "xyz"),
      (9L, "xya"), (10L, "k")
    ).toDF("doc_id", "s")
    val fast = graft.operators.Dedup
      .editDistancePairs(docs, "doc_id", "s", maxDist = 2)
    val naive = graft.operators.Dedup
      .editDistancePairsNaive(docs, "doc_id", "s", maxDist = 2)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(key(fast) === key(naive),
      "PassJoin blocking must stay lossless after the exchange pins")
    val plan = executed(fast)
    val pinned = plan.linesIterator.count(_.contains("REPARTITION_BY_NUM"))
    assert(pinned >= 3,
      s"expected the two segment-key pins + the pair pin, got $pinned")
  }

  test("audioFingerprintMatches: a Long.MinValue offset wins its vote " +
      "tie (the tie-break key must not overflow)") {
    import spark.implicits._
    // pair (1,2): offset Long.MinValue and offset 5, one vote each
    val fps = Seq(AudioFingerprint(1, Long.MinValue, 101),
      AudioFingerprint(2, 0, 101), AudioFingerprint(1, 10, 102),
      AudioFingerprint(2, 5, 102)).toDS()
    val rows = Multimodal.audioFingerprintMatches(fps, minVotes = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(rows === Set((1L, 2L, Long.MinValue, 1L)))
  }

  test("buildLegs: both legs run, results round-trip, and a failing " +
      "leg rethrows its own exception") {
    val ran = new java.util.concurrent.atomic.AtomicInteger
    val (a, b) = graft.operators.Retrieval.buildLegs(
      { ran.incrementAndGet(); "lex" },
      { ran.incrementAndGet(); 42 })
    assert(a === "lex" && b === 42 && ran.get() === 2)
    val boom = intercept[IllegalStateException] {
      graft.operators.Retrieval.buildLegs(
        "fine", throw new IllegalStateException("leg failed"))
    }
    assert(boom.getMessage === "leg failed",
      "the leg's own exception must propagate, not ExecutionException")
  }

  test("buildLegs: a failing leg interrupts its slow sibling, and each " +
      "leg runs with the caller's active session") {
    val interrupted = new java.util.concurrent.CountDownLatch(1)
    val t0 = System.nanoTime()
    val boom = intercept[IllegalStateException] {
      graft.operators.Retrieval.buildLegs(
        try { Thread.sleep(60000L); "slow" }
        catch { case e: InterruptedException => interrupted.countDown(); throw e },
        { Thread.sleep(200L); throw new IllegalStateException("leg failed") })
    }
    assert(boom.getMessage === "leg failed")
    assert(System.nanoTime() - t0 < 30L * 1000000000L,
      "the failure must not wait for the slow leg")
    assert(interrupted.await(10L, java.util.concurrent.TimeUnit.SECONDS),
      "the slow sibling must be interrupted")

    val caller = spark.newSession()
    val before = org.apache.spark.sql.SparkSession.getActiveSession
    org.apache.spark.sql.SparkSession.setActiveSession(caller)
    try {
      val (a, b) = graft.operators.Retrieval.buildLegs(
        org.apache.spark.sql.SparkSession.active,
        org.apache.spark.sql.SparkSession.active)
      assert((a eq caller) && (b eq caller))
    } finally before match {
      case Some(s) => org.apache.spark.sql.SparkSession.setActiveSession(s)
      case None => org.apache.spark.sql.SparkSession.clearActiveSession()
    }
  }
}
