package graft

import graft.functions.GraftFunctions
import graft.operators.{Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.functions._

/** The two ways graft's native expressions reach a session: Scala
  * Columns built directly (no registration, any session), and SQL names
  * from the one `GraftFunctions.table`, injected by the extension or
  * installed by `register`.
  *
  * The fresh-session tests come first on purpose: the extension test
  * below makes its extension-built session the JVM default, and a
  * `newSession()` of THAT session would inherit the extension. Each
  * fresh-session test asserts its session really lacks the functions. */
class GraftExtensionsSpec extends SparkSpec {

  private val names = GraftFunctions.table.map(_._1)

  /** A session with NOTHING of graft's registered. */
  private def freshSession(): SparkSession = {
    val fresh = spark.newSession()
    val registry = fresh.sessionState.functionRegistry
    assert(names.forall(!registry.functionExists(_)),
      "newSession() must start without graft's functions")
    fresh
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("Column constructors evaluate in a fresh session with nothing registered") {
    val fresh = freshSession()
    def eval(s: SparkSession): Seq[String] = {
      import s.implicits._
      rows(Seq((1L, Seq(1.0, 2.0), Seq(3.0, 4.0), "abcab c"),
          (2L, Seq(0.5, -1.0), Seq(2.0, 2.0), "héllo wörld"))
        .toDF("id", "a", "b", "text")
        .select(col("id"),
          Similarity.cosine(col("a"), col("b")),
          Similarity.dot(col("a"), col("b")),
          TextAnalysis.charEntropy(col("text")),
          TextAnalysis.rollingHashFingerprint(col("text"))))
    }
    val got = eval(fresh)
    assert(got === eval(spark))
    assert(got.head.contains(",11.0,"), got.head) // dot([1, 2], [3, 4])
  }

  test("one query per native function runs in a fresh session, rows as in the shared one") {
    // every Scala-side use of a native function, by query:
    // rolling_hash, char_entropy, count_in, nfc_normalize, bloom_agg +
    // bloom_probe, chunk_ids, bfd_bin_ids (+ minhash_agg), minhash_agg +
    // band_keys, winnow_fps, kgram_hashes, char_ngram_features + vector_dot,
    // pq_encode + pq_adc_lut
    val queries = Seq("q_fingerprint", "q_char_entropy", "q_lang_id",
      "q_text_normalize", "q_bloom_semi_join", "q_chunk_sentences",
      "q_pipeline_e2e", "q_minhash_incremental_persisted",
      "q_winnow_fingerprint", "q_char_dup_spans", "q_lang_id_trained",
      "q_ann_pq_topk")
    val fresh = freshSession()
    queries.foreach { q =>
      val shared = rows(SparkEntry.queries(q)(spark, sf0001))
      val got = rows(SparkEntry.queries(q)(fresh, sf0001))
      assert(shared.nonEmpty, s"$q: no rows at sf0.001")
      assert(got === shared, s"$q: fresh-session rows differ")
    }
  }

  test("register installs every table entry; a second call is a no-op") {
    assert(names.size === 17 && names.distinct.size === 17)
    val fresh = freshSession()
    val registry = fresh.sessionState.functionRegistry
    GraftFunctions.register(fresh)
    names.foreach(id => assert(registry.functionExists(id), s"$id after register"))
    // register skips names the session already has: a marker entry
    // survives a second call
    val id = FunctionIdentifier("rolling_hash")
    val marker = new ExpressionInfo("marker", "rolling_hash")
    registry.registerFunction(id, marker, registry.lookupFunctionBuilder(id).get)
    GraftFunctions.register(fresh)
    assert(registry.lookupFunction(id).exists(_ eq marker))
  }

  /** getOrCreate returns any ACTIVE session (ignoring extensions), so
    * clear the session slots first; this builds a NEW SparkSession —
    * with our extensions — over the JVM's existing SparkContext. */
  private def extensionSession(): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  test("withExtensions registers graft functions for SQL use") {
    val spark = extensionSession()
    val h = spark.sql("SELECT rolling_hash('abc') AS h").collect().head.getLong(0)
    val expected = "abc".foldLeft(0L)((acc, c) => (acc * 31 + c) % 1000000007L)
    assert(h === expected)
    val d = spark.sql(
      "SELECT vector_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect().head.getDouble(0)
    assert(d === 11.0)
    val sig = spark.sql(
      "SELECT minhash_agg(v, 4) AS sig FROM VALUES ('a'), ('b') t(v)")
      .collect().head.getSeq[Long](0)
    assert(sig.length === 4)
    assert(sig.forall(_ != Long.MaxValue), "both values hashed into the minima")
    val ent = spark.sql("SELECT char_entropy('ab') AS e")
      .collect().head.getDouble(0)
    assert(ent === 1.0)
    // count_in: duplicates counted, in-loop lowercasing
    val ci = spark.sql(
      "SELECT count_in(array('The', 'the', 'fox', 'and'), 'the,and', true) AS c")
      .collect().head.getInt(0)
    assert(ci === 3)
    // bloom pair round-trips through SQL: a sketch of {1, 2} must pass
    // both members (no false negatives, ever)
    // CAST to BIGINT: xxhash64 is type-sensitive and the probe side
    // below hashes longs
    val bf = spark.sql(
      "SELECT bloom_agg(xxhash64(CAST(v AS BIGINT)), 10L, 1024L) AS bf " +
      "FROM VALUES (1), (2) t(v)")
      .collect().head.getAs[Array[Byte]](0)
    val got = spark.range(1, 3).toDF("id")
      .filter(call_function("bloom_contains", lit(bf), xxhash64(col("id"))))
      .collect().map(_.getLong(0)).toSet
    assert(got === Set(1L, 2L))
    // round-7 additions: the full native surface resolves through the
    // extension route too (the defensive per-session register is not
    // required for sessions built with the extensions)
    val nfc = spark.sql("SELECT nfc_normalize('e\u0301') AS s")
      .collect().head.getString(0)
    assert(nfc === "\u00e9", "NFC composes e + combining acute")
    val fps = spark.sql("SELECT winnow_fps('abcabcabc', 3, 2) AS f")
      .collect().head.getSeq[Long](0)
    assert(fps.nonEmpty && fps == fps.sorted && fps.distinct == fps)
    val khs = spark.sql("SELECT kgram_hashes('abcd', 3) AS h")
      .collect().head.getSeq[Long](0)
    assert(khs.length === 2, "two 3-grams in a 4-char string")
    // hashes replay the documented dual polynomial family
    def poly(s: String): Long = {
      val h1 = s.foldLeft(0L)((a, c) => (a * 31 + c) % 2147483647L)
      val h2 = s.foldLeft(0L)((a, c) => (a * 37 + c) % 1000000007L)
      h1 * 1000000007L + h2
    }
    assert(khs === Seq(poly("abc"), poly("bcd")))
    // band_keys: r = 2 values per key, the null element skipped
    val keys = spark.sql(
      "SELECT band_keys(array(1L, -2L, CAST(NULL AS BIGINT), 4L), 4, 2, ':') AS k")
      .collect().head.getSeq[String](0)
    assert(keys === Seq("1:-2", "4"))
    // deliberately NOT stopping: the SparkContext is shared with the
    // other suites in this JVM
  }

  test("the extension injects every GraftFunctions.table entry") {
    val registry = extensionSession().sessionState.functionRegistry
    val missing = names.filterNot(registry.functionExists)
    assert(missing.isEmpty, s"not injected: ${missing.mkString(", ")}")
  }
}
