package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-6 second wave: mergeable aggregate states, snapshot diff,
  * interval union, temporal split, the Gopher filter battery and the
  * pre-flight join sizer. */
class Round6bSpec extends SparkSpec {
  import spark.implicits._

  // ---- Upsert.aggState / mergeAggStates ----

  test("mergeAggStates: merge of split states == state of the union") {
    val all = Seq((1L, 10.0), (1L, 2.0), (1L, 7.0), (2L, -5.0), (2L, 5.0),
      (3L, 0.0)).toDF("k", "v")
    val a = all.filter($"v" >= 2.0)
    val b = all.filter($"v" < 2.0)
    val merged = Upsert.mergeAggStates(
      Upsert.aggState(a, Seq("k"), "v"),
      Upsert.aggState(b, Seq("k"), "v"), Seq("k"))
    val direct = Upsert.aggState(all, Seq("k"), "v")
    assert(merged.orderBy("k").collect().toSeq ===
      direct.orderBy("k").collect().toSeq)
  }

  test("mergeAggStates: delta introducing brand-new keys merges cleanly") {
    val state = Upsert.aggState(Seq((1L, 1.0)).toDF("k", "v"), Seq("k"), "v")
    val delta = Upsert.aggState(Seq((2L, 9.0)).toDF("k", "v"), Seq("k"), "v")
    val out = Upsert.mergeAggStates(state, delta, Seq("k"))
      .orderBy("k").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(out.map(_.getLong(1)).toSeq === Seq(1L, 1L)) // cnt
  }

  // ---- Upsert.snapshotDiff ----

  test("snapshotDiff: added / removed / changed classified; unchanged dropped") {
    val oldS = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("k", "s", "x")
    val newS = Seq((1L, "a", 10), (2L, "B", 20), (4L, "d", 40))
      .toDF("k", "s", "x")
    val got = Upsert.snapshotDiff(oldS, newS, "k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((2L, "changed"), (3L, "removed"), (4L, "added")))
  }

  test("snapshotDiff: null vs empty-string column values are distinct changes") {
    // the coalesce sentinel must not conflate NULL with ' ' or ''
    val oldS = Seq((1L, Option.empty[String]), (2L, Option(""))).toDF("k", "s")
    val newS = Seq((1L, Option("")), (2L, Option(""))).toDF("k", "s")
    val got = Upsert.snapshotDiff(oldS, newS, "k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((1L, "changed")))
  }

  // ---- Events.mergeIntervals ----

  test("mergeIntervals: overlap, containment, touching, and gaps") {
    val iv = Seq(
      // key 1: [0,10) overlaps [5,15); [12,13) contained in the merged
      // span; [15,20) TOUCHES (half-open => merges); [25,30) separate
      (1L, 0L, 10L), (1L, 5L, 15L), (1L, 12L, 13L), (1L, 15L, 20L),
      (1L, 25L, 30L),
      // key 2: the lag-trap — [0,100) contains [10,20); a later [30,40)
      // must still merge into the big span even though lag(end)=20 < 30
      (2L, 0L, 100L), (2L, 10L, 20L), (2L, 30L, 40L))
      .toDF("k", "start_us", "end_us")
    val got = Events.mergeIntervals(iv, "k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got === Set(
      (1L, 0L, 20L, 4L), (1L, 25L, 30L, 1L),
      (2L, 0L, 100L, 3L)))
  }

  test("mergeIntervals: duplicate identical intervals count into one span") {
    val iv = Seq((1L, 5L, 9L), (1L, 5L, 9L)).toDF("k", "start_us", "end_us")
    val got = Events.mergeIntervals(iv, "k").collect()
    assert(got.length === 1 && got.head.getLong(3) === 2L)
  }

  // ---- Sampling.temporalSplit ----

  test("temporalSplit: ~q of rows train, split is a clean time cut") {
    val n = 1000
    val df = (1 to n).map(i => (i.toLong, new java.sql.Timestamp(i * 1000L)))
      .toDF("id", "ts")
    val out = Sampling.temporalSplit(df, col("ts"), 0.8)
    val counts = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(counts("train") - 800L) <= 1)
    // no train row may be later than any test row
    val maxTrain = out.filter($"split" === "train").agg(max($"ts")).head().getTimestamp(0)
    val minTest = out.filter($"split" === "test").agg(min($"ts")).head().getTimestamp(0)
    assert(maxTrain.before(minTest))
  }

  test("temporalSplit: rows within the cutoff second all land train") {
    // 3 rows in the same second as the quantile cutoff: the second-
    // granularity floor keeps them together (no intra-second split)
    val df = Seq(
      (1L, 1000000L), (2L, 1500000L), (3L, 1700000L), (4L, 1900000L),
      (5L, 99000000L))
      .map { case (i, us) => (i, new java.sql.Timestamp(us / 1000)) }
      .toDF("id", "ts")
    val out = Sampling.temporalSplit(df, col("ts"), 0.5)
      .select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "train" && out(2L) === "train" &&
      out(3L) === "train" && out(4L) === "train" && out(5L) === "test")
  }

  // ---- TextAnalysis.gopherQualityFilter ----

  private val goodText = "The quick brown fox jumps over the lazy dog and " +
    "then runs off to be with the other foxes that have dens with room."

  test("gopherQualityFilter: clean prose passes, each rule fires alone") {
    val docs = Seq(
      (1L, goodText),                                      // passes all
      (2L, "too short to have enough words"),              // word count
      (3L, goodText + " ###### " * 8),                     // symbol ratio
      (4L, (1 to 30).map(i => s"- bullet $i").mkString("\n")), // bullets
      (5L, "zzzzzzzzzzzz " * 20))                          // stopwords
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherQualityFilter(docs, "doc_id", "text")
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out === Map(1L -> 1, 2L -> 0, 3L -> 0, 4L -> 0, 5L -> 0))
  }

  test("gopherQualityFilter: null and empty text survive as zero-signal fails") {
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherQualityFilter(docs, "doc_id", "text")
      .select("doc_id", "n_words", "keep").collect()
    assert(out.forall(r => r.getLong(1) === 0L && r.getInt(2) === 0))
  }

  // ---- Stats.joinSizeEstimate ----

  test("joinSizeEstimate: predicted rows == actual join output rows") {
    val l = Seq(1L, 1L, 1L, 2L, 3L, 3L, 9L).toDF("k")
    val r = Seq(1L, 2L, 2L, 3L, 7L).toDF("k2")
    val est = Stats.joinSizeEstimate(l, "k", r, "k2").head()
    val actual = l.join(r, $"k" === $"k2").count()
    assert(est.getAs[Long]("join_rows") === actual) // 3 + 2 + 2 = 7
    assert(est.getAs[Long]("n_matched_keys") === 3L)
    assert(est.getAs[Long]("max_key_rows") === 3L)
    assert(est.getAs[Double]("top_key_share") === math.rint(3.0 / 7.0 * 1e6) / 1e6)
  }

  test("joinSizeEstimate: disjoint keys -> zero rows, zero share") {
    val est = Stats.joinSizeEstimate(
      Seq(1L).toDF("k"), "k", Seq(2L).toDF("k"), "k").head()
    assert(est.getAs[Long]("join_rows") === 0L)
    assert(est.getAs[Double]("top_key_share") === 0.0)
  }
}
