package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-7 wave: drift monitoring (PSI / binned KS / categorical),
  * C4-style line-level corpus dedup, and URL canonicalization. */
class Round7Spec extends SparkSpec {
  import spark.implicits._

  // ---- Drift.psiKs / binnedCounts ----

  test("psiKs: identical samples score exactly zero drift") {
    val ref = (0 until 200).map(i => i.toDouble).toDF("v")
    val out = Drift.psiKs(ref, ref, "v", 8).collect().head
    assert(out.getDouble(0) === 0.0) // psi
    assert(out.getDouble(1) === 0.0) // ks
    assert(out.getLong(2) === 200L && out.getLong(3) === 200L)
  }

  test("psiKs: disjoint shifted distribution maxes the binned KS") {
    val ref = (0 until 200).map(i => i.toDouble).toDF("v")
    val cur = (0 until 200).map(i => 10000.0 + i).toDF("v")
    val out = Drift.psiKs(ref, cur, "v", 8).collect().head
    // all current mass lands in the top bin: KS sup ≈ 7/8, PSI huge
    assert(out.getDouble(0) > 1.0, s"psi=${out.getDouble(0)}")
    assert(out.getDouble(1) > 0.8, s"ks=${out.getDouble(1)}")
  }

  test("binnedCounts: complete spine, counts conserved, fracs sum to 1") {
    val ref = (0 until 100).map(i => i.toDouble).toDF("v")
    val cur = (0 until 50).map(i => (i * 2).toDouble).toDF("v")
    val rows = Drift.binnedCounts(ref, cur, "v", 8).collect()
    assert(rows.length === 8)
    assert(rows.map(_.getAs[Int]("bin")).sorted.toSeq === (0 until 8))
    assert(rows.map(_.getAs[Long]("ref_n")).sum === 100L)
    assert(rows.map(_.getAs[Long]("cur_n")).sum === 50L)
    assert(math.abs(rows.map(_.getAs[Double]("ref_frac")).sum - 1.0) < 1e-9)
    assert(math.abs(rows.map(_.getAs[Double]("cur_frac")).sum - 1.0) < 1e-9)
  }

  test("psiKs is partitioning-invariant") {
    val ref = (0 until 300).map(i => (i % 37).toDouble).toDF("v")
    val cur = (0 until 300).map(i => (i % 23).toDouble).toDF("v")
    val a = Drift.psiKs(ref, cur, "v", 16).collect().head
    val b = Drift.psiKs(ref.repartition(7), cur.repartition(3), "v", 16)
      .collect().head
    assert(a === b)
  }

  test("referenceProfile: persisted profile scores identically to direct psiKs") {
    val ref = (0 until 300).map(i => (i % 41).toDouble).toDF("v")
    val cur = (0 until 200).map(i => (i % 29).toDouble).toDF("v")
    val direct = Drift.psiKs(ref, cur, "v", 8).collect().head
    val tmp = java.nio.file.Files.createTempDirectory("graft_drift_prof").toFile
    tmp.deleteOnExit()
    Drift.referenceProfile(ref, "v", 8).write.mode("overwrite")
      .parquet(tmp.getAbsolutePath)
    val viaStored = Drift.psiKsFromProfile(
      spark.read.parquet(tmp.getAbsolutePath), cur, "v").collect().head
    assert(viaStored === direct)
  }

  test("psiKsPerGroup: each group's row equals the single-group psiKs") {
    val ref = (0 until 400).map(i => (i % 53).toDouble).toDF("v")
    val cur = (0 until 300).map(i => (s"g${i % 3}", (i % 31).toDouble))
      .toDF("g", "v")
    val grouped = Drift.psiKsPerGroup(ref, cur, "g", "v", 8)
      .collect().map(r => r.getAs[String]("g") ->
        (r.getAs[Double]("psi"), r.getAs[Double]("ks_stat"),
          r.getAs[Long]("n_ref"), r.getAs[Long]("n_cur"))).toMap
    assert(grouped.keySet === Set("g0", "g1", "g2"))
    for (g <- grouped.keySet) {
      val solo = Drift.psiKs(ref, cur.filter(col("g") === g), "v", 8)
        .collect().head
      assert(grouped(g) === (solo.getDouble(0), solo.getDouble(1),
        solo.getLong(2), solo.getLong(3)), s"group $g")
    }
  }

  test("binnedCounts: constant reference (duplicate cutpoints) stays consistent") {
    // a degenerate reference (all one value) floors every cutpoint to
    // the same number; binning must still be total and deterministic:
    // strictly-below puts <=5 in bin 0, >5 in the top bin
    val ref = (0 until 100).map(_ => 5.0).toDF("v")
    val cur = Seq(1.0, 5.0, 7.0).toDF("v")
    val rows = Drift.binnedCounts(ref, cur, "v", 4).collect()
    assert(rows.length === 4)
    val m = rows.map(r => r.getAs[Int]("bin") -> r.getAs[Long]("cur_n")).toMap
    assert(m(0) === 2L && m(3) === 1L)
    assert(rows.map(_.getAs[Long]("ref_n")).sum === 100L)
  }

  test("psiKs: EMPTY current batch (a real ingest case) stays finite") {
    val ref = (0 until 100).map(_.toDouble).toDF("v")
    val out = Drift.psiKs(ref, ref.limit(0), "v", 8).collect().head
    assert(out.getLong(3) === 0L) // n_cur
    assert(!out.getDouble(0).isNaN && !out.getDouble(0).isInfinite)
    assert(!out.getDouble(1).isNaN && out.getDouble(1) <= 1.0)
  }

  test("lineLevelDedup / lineLevelCrossDedup: empty inputs yield empty outputs") {
    val empty = Seq.empty[(Long, String)].toDF("id", "text")
    assert(Dedup.lineLevelDedup(empty, "id", "text").count() === 0L)
    val idx = Dedup.lineHashIndex(docs2((1L, "some corpus line")), "id", "text")
    assert(Dedup.lineLevelCrossDedup(empty, idx, "id", "text").count() === 0L)
    // and an empty INDEX keeps every batch line
    val out = Dedup.lineLevelCrossDedup(
      docs2((1L, "only line in this document")),
      Dedup.lineHashIndex(empty, "id", "text"), "id", "text")
      .collect().head
    assert(out.getAs[Long]("n_removed") === 0L)
  }

  test("winnowCrossPairs: empty batch against a real index yields no pairs") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val idx = Dedup.winnowFingerprintIndex(docs, "doc_id", "text", 24, 8)
    assert(Dedup.winnowCrossPairs(docs.limit(0), idx, "doc_id", "text",
      24, 8).count() === 0L)
  }

  // ---- Drift.categoricalDrift ----

  test("categoricalDrift: identical mixes score zero; disjoint near ln 2") {
    // big enough that add-½ smoothing is negligible (at toy counts the
    // smoothed mixes overlap substantially by construction)
    val ref = (0 until 400).map(i => Seq("a", "a", "b", "c")(i % 4)).toDF("k")
    val same = Drift.categoricalDrift(ref, ref, "k").collect().head
    assert(same.getAs[Double]("js_divergence") === 0.0)
    assert(same.getAs[Double]("tvd") === 0.0)

    val cur = (0 until 400).map(i => Seq("x", "x", "y", "z")(i % 4)).toDF("k")
    val dis = Drift.categoricalDrift(ref, cur, "k").collect().head
    // smoothing keeps it short of the ln 2 ≈ 0.6931 ceiling, but close
    assert(dis.getAs[Double]("js_divergence") > 0.5)
    assert(dis.getAs[Double]("tvd") > 0.8)
    assert(dis.getAs[Long]("n_categories") === 6L)
  }

  // ---- Dedup.lineLevelDedup ----

  private def docs2(rows: (Long, String)*) = rows.toDF("id", "text")

  test("lineLevelDedup: corpus-duplicated line survives only at first occurrence") {
    val d = docs2(
      (1L, "the quick brown fox jumps\nunique line number one"),
      (2L, "the quick brown fox jumps\nunique line number two"))
    val out = Dedup.lineLevelDedup(d, "id", "text", minChars = 10)
      .orderBy("id").collect()
    assert(out(0).getAs[String]("text_dedup") ===
      "the quick brown fox jumps\nunique line number one")
    assert(out(1).getAs[String]("text_dedup") === "unique line number two")
    assert(out(1).getAs[Long]("n_removed") === 1L)
  }

  test("lineLevelDedup: within-doc repeat removed; order preserved") {
    val d = docs2((1L, "aaaaaaaaaaaa\nbbbbbbbbbbbb\naaaaaaaaaaaa\ncccccccccccc"))
    val out = Dedup.lineLevelDedup(d, "id", "text", minChars = 10).collect().head
    assert(out.getAs[String]("text_dedup") ===
      "aaaaaaaaaaaa\nbbbbbbbbbbbb\ncccccccccccc")
    assert(out.getAs[Long]("n_lines") === 4L)
    assert(out.getAs[Long]("n_removed") === 1L)
  }

  test("lineLevelDedup: short lines are structural and never deduped") {
    val d = docs2((1L, "---\nlong enough line here"), (2L, "---\nother body"))
    val out = Dedup.lineLevelDedup(d, "id", "text", minChars = 4)
      .orderBy("id").collect()
    assert(out(0).getAs[String]("text_dedup").startsWith("---\n"))
    assert(out(1).getAs[String]("text_dedup").startsWith("---\n"))
  }

  test("lineLevelDedup: doc losing every line stays present with empty text") {
    val d = docs2((1L, "only duplicated body"), (2L, "only duplicated body"))
    val out = Dedup.lineLevelDedup(d, "id", "text", minChars = 10)
      .orderBy("id").collect()
    assert(out.length === 2)
    assert(out(0).getAs[String]("text_dedup") === "only duplicated body")
    assert(out(1).getAs[String]("text_dedup") === "")
  }

  test("lineLevelDedup: minChars boundary — exactly minChars dedupes") {
    val d = docs2((1L, "abcdefghij\nabcdefghi"), (2L, "abcdefghij\nabcdefghi"))
    val out = Dedup.lineLevelDedup(d, "id", "text", minChars = 10)
      .orderBy("id").collect()
    // 10-char line deduped away in doc 2; 9-char line kept in both
    assert(out(1).getAs[String]("text_dedup") === "abcdefghi")
  }

  // ---- persisted index lifecycles (winnow, line-hash) ----

  test("winnow index lifecycle: appended batch == from-scratch rebuild") {
    import graft.sources.Sinks
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val a = docs.filter(col("doc_id") % 3 === 0)
    val b = docs.filter(col("doc_id") % 3 === 1)
    val c = docs.filter(col("doc_id") % 3 === 2)
    def pairs(index: org.apache.spark.sql.DataFrame) =
      Dedup.winnowCrossPairs(c, index, "doc_id", "text",
          k = 24, window = 8, minShared = 1, maxDf = 50)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    try {
      Sinks.writeBucketed(
        Dedup.winnowFingerprintIndex(a, "doc_id", "text", 24, 8),
        "graft_lc_winnow", Seq("fp"), 4)
      Sinks.appendBucketed(
        Dedup.winnowFingerprintIndex(b, "doc_id", "text", 24, 8),
        "graft_lc_winnow", Seq("fp"), 4)
      val grown = pairs(spark.table("graft_lc_winnow"))
      val ref = pairs(
        Dedup.winnowFingerprintIndex(a.union(b), "doc_id", "text", 24, 8))
      assert(grown === ref)
      assert(grown.nonEmpty, "cross-split shared substrings expected")
    } finally spark.sql("DROP TABLE IF EXISTS graft_lc_winnow")
  }

  test("line-hash index lifecycle: appended batch == from-scratch rebuild") {
    import graft.sources.Sinks
    val docs = (0L until 60L).map(i =>
      (i, s"shared line number ${i % 7} alpha\nunique body line $i tail"))
      .toDF("id", "text")
    val a = docs.filter($"id" % 3 === 0)
    val b = docs.filter($"id" % 3 === 1)
    val c = docs.filter($"id" % 3 === 2)
    def rewrite(index: org.apache.spark.sql.DataFrame) =
      Dedup.lineLevelCrossDedup(c, index, "id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSet
    try {
      Sinks.writeBucketed(Dedup.lineHashIndex(a, "id", "text"),
        "graft_lc_linehash", Seq("h"), 4)
      Sinks.appendBucketed(Dedup.lineHashIndex(b, "id", "text"),
        "graft_lc_linehash", Seq("h"), 4)
      val grown = rewrite(spark.table("graft_lc_linehash"))
      val ref = rewrite(Dedup.lineHashIndex(a.union(b), "id", "text"))
      assert(grown === ref)
      // the shared lines exist in a/b, so c's copies are all removed
      assert(grown.forall(_._3 >= 1L), "every c doc loses its shared line")
    } finally spark.sql("DROP TABLE IF EXISTS graft_lc_linehash")
  }

  // ---- TextAnalysis.normalizeText / NfcNormalize ----

  test("normalizeText: NFC composes marks, lowercases, collapses whitespace — codegen'd") {
    val out = assertNoCodegenFallback {
      TextAnalysis.normalizeText(
        Seq("Café  X\tY", "plain", "").toDF("t"), "t")
        .collect().map(_.getAs[String]("text_norm"))
    }
    assert(out(0) === "caf\u00e9 x y") // composed, single char
    assert(out(1) === "plain")
    assert(out(2) === "")
  }

  test("NfcNormalize.compute: already-NFC input returns the same object") {
    import org.apache.spark.unsafe.types.UTF8String
    val u = UTF8String.fromString("already normalized ascii")
    assert(graft.functions.NfcNormalize.compute(u) eq u)
    val dec = UTF8String.fromString("Å")
    assert(graft.functions.NfcNormalize.compute(dec).toString === "\u00C5")
  }

  // ---- TextAnalysis.normalizeUrls ----

  private def norm(url: String): (String, String, String) = {
    val r = TextAnalysis.normalizeUrls(Seq(url).toDF("url"), "url").collect().head
    (r.getAs[String]("url_norm"), r.getAs[String]("host"),
      r.getAs[String]("registered_domain"))
  }

  test("normalizeUrls: tracking params dropped, survivors sorted, fragment gone") {
    val (u, h, d) =
      norm("https://WWW.Example.COM/a/b/?utm_source=x&z=9&a=1&fbclid=q#frag")
    assert(u === "https://example.com/a/b?a=1&z=9")
    assert(h === "example.com")
    assert(d === "example.com")
  }

  test("normalizeUrls: userinfo and port stripped, ccTLD registry affix kept") {
    val (u, h, d) = norm("HTTP://user:pw@news.bbc.co.uk:8080/stories/1/")
    assert(u === "http://news.bbc.co.uk/stories/1")
    assert(h === "news.bbc.co.uk")
    assert(d === "bbc.co.uk")
  }

  test("normalizeUrls: bare host normalizes to root path, no query marker") {
    val (u, _, d) = norm("https://example.net")
    assert(u === "https://example.net/")
    assert(d === "example.net")
  }

  test("normalizeUrls: single-label host falls back to itself") {
    val (_, h, d) = norm("https://localhost/x")
    assert(h === "localhost" && d === "localhost")
  }
}
