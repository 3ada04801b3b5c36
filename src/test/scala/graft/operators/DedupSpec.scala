package graft.operators

import graft.SparkSpec
import graft.sources.Sources
import org.apache.spark.sql.GraftCacheProbe

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Sources.table(spark, sf0001, "documents").cache()

  test("exact dedup: collapses identical normalized texts, keeps min id") {
    val df = Seq(
      (1L, "Hello  World"), (2L, "hello world"), (3L, "other text")
    ).toDF("doc_id", "text")
    val got = Dedup.exact(df, "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("dup_count")))
      .toSet
    assert(got === Set((1L, 2L), (3L, 1L)))
  }

  test("ngram jaccard: exact pairs found on planted near-dups") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.nonEmpty, "expected planted near-dup pairs at sf0.001")
    assert(pairs.contains((26L, 176L)) || pairs.contains((144L, 161L)))
  }

  test("prefix-filtered jaccard == naive jaccard (lossless)") {
    for (t <- Seq(0.5, 0.8, 0.95)) {
      val naive = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val prefix = Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", 3, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(prefix === naive, s"threshold $t")
    }
  }

  test("prefix filter survives float-boundary set sizes (regression: sf0.1 lost a pair)") {
    import spark.implicits._
    // doc of exactly 52 tokens -> 50 distinct 3-gram shingles, so
    // (1-0.8)*50 = 10.0 sits exactly on the floor boundary where binary
    // rounding of (1-t) used to shorten the prefix and drop the pair
    val base = (1 to 52).map(i => s"w$i").mkString(" ")
    val nearDup = ((1 to 51).map(i => s"w$i") :+ "zz").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup)).toDF("doc_id", "text")
    val naive = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val prefix = Dedup.ngramJaccardPairsPrefix(df, "doc_id", "text", 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(prefix === naive)
  }

  test("shingle frequency cap keeps high-similarity recall") {
    val uncapped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.9,
      maxShingleFreq = 50L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.subsetOf(capped) || uncapped == capped,
      s"cap lost pairs: ${uncapped -- capped}")
  }

  test("crossJaccardPairsBloomPruned == unpruned (doc-granular pruning is lossless)") {
    val corpus = spark.range(0, 40).selectExpr("id AS doc_id",
      "CASE WHEN id % 4 < 2 THEN concat('alpha beta gamma delta epsilon zeta ', id % 2) " +
      "ELSE concat('totally different words here number ', id) END AS text")
    val left = corpus.filter("doc_id % 2 = 1")
    val right = corpus.filter("doc_id % 2 = 0")
    val lsh = Dedup.shingles(left, "doc_id", "text", 3).cache()
    val rsh = Dedup.shingles(right, "doc_id", "text", 3).cache()
    val exact = Dedup.crossJaccardPairsFromShingles(lsh, rsh, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "planted near-dups must cross the split")
    // undersized sketch -> false positives, which must not change results
    val pruned = Dedup.crossJaccardPairsBloomPruned(lsh, rsh, 0.5,
      expectedItems = 10L, numBits = 256L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned === exact)
  }

  test("connectedComponents: chains merge, singletons self-label") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ids = (1L to 8L).toDF("id")
    // components: {1,2,3,4} (chain), {5,6}, {7}, {8}
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("a", "b")
    val got = Dedup.connectedComponents(ids, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 8L))
  }

  test("connectedComponents: throws instead of returning partial labels") {
    import spark.implicits._
    val ids = (1L to 6L).toDF("id")
    // a 6-node path has diameter 5: maxIters=2 cannot converge, and
    // silently-partial labels would over-segment the cluster
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)).toDF("a", "b")
    val cachedBefore = GraftCacheProbe.describe(spark)
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(ids, path, maxIters = 2).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // the throw must not leave the loop's cached edge list registered,
    // nor may a job that fails inside the loop (here: building the
    // cached edges under the initial round's checkpoint)
    assert(GraftCacheProbe.describe(spark) === cachedBefore)
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val failing = spark.range(1L, 6L).select(col("id").as("a"),
      when(col("id") === 3L, raise_error(lit("boom")))
        .otherwise(col("id") + 1L).as("b"))
    val failed = intercept[Exception] {
      Dedup.connectedComponents(ids, failing).collect()
    }
    assert(String.valueOf(failed.getMessage).contains("boom"), failed)
    assert(GraftCacheProbe.describe(spark) === cachedBefore)
    // with enough iterations the same graph converges to one component
    val ok = Dedup.connectedComponents(ids, path, maxIters = 10)
      .collect().map(r => r.getLong(1)).toSet
    assert(ok === Set(1L))
  }

  test("minhash LSH: finds every pair with true jaccard >= 0.9") {
    val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashLshPairs(docs, "doc_id", "text", 3, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    assert(truth.subsetOf(lsh), s"LSH missed: ${truth -- lsh}")
  }

  test("minhash LSH: no wildly-false positives at high threshold") {
    val lsh = Dedup.minHashLshPairs(docs, "doc_id", "text", 3, threshold = 0.9)
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    lsh.collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(exact.getOrElse(key, 0.0) >= 0.5,
        s"pair $key est=${r.getDouble(2)} but true jaccard < 0.5")
    }
  }

  test("pair operators are partition-invariant (physical layout can't change results)") {
    def pairsOf(df: org.apache.spark.sql.DataFrame) = Seq(
      Dedup.ngramJaccardPairsPrefix(df, "doc_id", "text", 3, 0.8),
      Dedup.minHashLshPairs(df, "doc_id", "text", 3, 0.8),
      Dedup.simHashPairs(df, "doc_id", "text", 3, 8),
      Dedup.dupNgramStats(df, "doc_id", "text", 3),
      Dedup.removeDuplicateSpans(df, "doc_id", "text", 8)
    ).map(_.collect().map(_.toSeq).toSet)
    val base = pairsOf(docs.repartition(1))
    for (p <- Seq(3, 16)) {
      assert(pairsOf(docs.repartition(p)) === base, s"partitions=$p")
    }
  }

  test("crossJaccardPairs: only cross-corpus pairs, values match self-join") {
    val left = Seq(
      (1L, "a b c d e f"),
      (2L, "p q r s t u")).toDF("doc_id", "text")
    val right = Seq(
      (10L, "a b c d e f"),    // identical to 1 -> J = 1.0
      (11L, "p q r s t u v"),  // near-dup of 2
      (12L, "x y z w x y z w x y")).toDF("doc_id", "text")
    val got = Dedup.crossJaccardPairs(left, right, "doc_id", "text", 3, 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.keySet === Set((1L, 10L), (2L, 11L)))
    assert(got((1L, 10L)) === 1.0)
    // 2: {p q r, q r s, r s t, s t u}; 11 adds {t u v}: inter 4, union 5
    assert(got((2L, 11L)) === 0.8)
    // near-identical pair WITHIN right (none here) must never appear:
    // verified structurally — every returned left_id came from `left`
    got.keys.foreach { case (l, _) => assert(Set(1L, 2L).contains(l)) }
    // overlapping corpora: the shared doc must not self-pair
    val overlap = Dedup.crossJaccardPairs(left, left, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(overlap.forall { case (a, b) => a != b },
      s"degenerate self-pairs: ${overlap.toSeq}")
  }

  test("decontaminate: counts shared distinct 8-grams, ignores clean docs") {
    val refr = Seq(
      (1L, (1 to 20).map(i => s"t$i").mkString(" ")),
      (2L, "completely different reference words here padding pad pad2 pad3")
    ).toDF("doc_id", "text")
    val cand = Seq(
      // shares the 8-gram windows t5..t16 with ref doc 1
      (100L, (5 to 16).map(i => s"t$i").mkString(" ")),
      (101L, "no overlap with any reference doc at all in this one")
    ).toDF("doc_id", "text")
    val got = Curation.decontaminate(cand, refr, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 100 has 12 tokens -> 5 distinct 8-grams, all inside ref doc 1
    assert(got === Map(100L -> 5L))
  }

  test("dupNgramStats: hand-computed fractions; short docs surface with zeros") {
    val df = Seq(
      (1L, "a b c d"), // trigrams: "a b c" (shared), "b c d"
      (2L, "a b c x"), // trigrams: "a b c" (shared), "b c x"
      (3L, "p q r s"), // both trigrams unique to this doc
      (4L, "a b")      // too short for a trigram
    ).toDF("doc_id", "text")
    val got = Dedup.dupNgramStats(df, "doc_id", "text", n = 3, minDocs = 2L)
      .collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_ngrams"), r.getAs[Long]("n_dup_ngrams"),
          r.getAs[Double]("dup_fraction"))))
      .toMap
    assert(got === Map(
      1L -> ((2L, 1L, 0.5)), 2L -> ((2L, 1L, 0.5)),
      3L -> ((2L, 0L, 0.0)), 4L -> ((0L, 0L, 0.0))))
  }

  test("dsirWeights: target-typical docs outrank raw-typical ones") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, "aaa aaa aaa ccc", "tgt"), // pure target vocabulary
      (2L, "bbb bbb bbb ccc", "raw"), // pure raw-only vocabulary
      (3L, "aaa bbb ccc ccc", "raw"), // mixed
      (4L, "aaa aaa bbb bbb", "raw")
    ).toDF("doc_id", "text", "source")
    val got = Curation.dsirWeights(df, "doc_id", "text",
        col("source") === "tgt", buckets = 64)
      .collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Double]("avg_logratio"))))
      .toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L))
    assert(got.values.forall(_._1 === 4L))
    val score = got.view.mapValues(_._2).toMap
    // hand-derived ordering (ct/cr per word: aaa 3/6, bbb 0/6, ccc 1/4):
    // the all-target-vocab doc is max, the target-free doc is min
    assert(score(1L) > score(3L) && score(3L) > score(4L) &&
      score(4L) > score(2L), score.toString)
  }

  test("removeDuplicateSpans: cross-doc, within-doc, and overlap-merge cases") {
    val df = Seq(
      (1L, "x y z q r s t u v"), // "x y z" shared with doc 2
      (2L, "a b x y z w k l m"), // ... at gpos 3 here
      (3L, "p p p p"),           // "p p p" twice WITHIN one doc; spans 1-3, 2-4 merge
      (4L, "h i")                // too short for any trigram
    ).toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSpans(df, "doc_id", "text", n = 3)
      .collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("clean_text"), r.getAs[Long]("n_kept"),
          r.getAs[Long]("n_removed"))))
      .toMap
    assert(got === Map(
      1L -> (("q r s t u v", 6L, 3L)),
      2L -> (("a b w k l m", 6L, 3L)),
      3L -> (("", 0L, 4L)),
      4L -> (("h i", 2L, 0L))))
  }

  test("duplicateSpans: planted variable-length duplicates surface as " +
      "single maximal spans, consistent with the rewrite") {
    // a 7-token span planted in docs 1 and 2 (minLen = 3 -> one
    // 7-token variable-length span each, NOT a pile of trigrams);
    // doc 3 repeats its own trigram back-to-back (overlap merge);
    // doc 4 is all-unique filler
    val planted = "the quick brown fox jumps over all"
    val df = Seq(
      (1L, s"u1 u2 $planted u3 u4"),
      (2L, s"v1 $planted v2 v3 v4"),
      (3L, "m m m m"),
      (4L, "w1 w2 w3 w4 w5")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(df, "doc_id", "text", minLen = 3)
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("span_len"),
        r.getAs[String]("span_text")))
      .sortBy(x => (x._1, x._2))
    assert(spans === Seq(
      (1L, 3L, 9L, 7L, planted),
      (2L, 2L, 8L, 7L, planted),
      (3L, 1L, 4L, 4L, "m m m m")))
    // every span is at least minLen long by construction
    assert(spans.forall(_._4 >= 3L))
    // consistency with the rewrite: per doc, sum of span lengths ==
    // n_removed, and dropping span positions reproduces clean_text
    val rewrite = Dedup.removeDuplicateSpans(df, "doc_id", "text", n = 3)
      .collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("clean_text"), r.getAs[Long]("n_removed"))))
      .toMap
    val removedBySpans = spans.groupBy(_._1).view.mapValues(_.map(_._4).sum)
    rewrite.foreach { case (id, (_, nRemoved)) =>
      assert(removedBySpans.getOrElse(id, 0L) === nRemoved, s"doc $id")
    }
    val texts = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    spans.groupBy(_._1).foreach { case (id, ss) =>
      val toks = texts(id).split("\\s+").toSeq
      val cut = ss.flatMap(s => (s._2 to s._3)).toSet
      val kept = toks.zipWithIndex.collect {
        case (t, i) if !cut.contains(i + 1L) => t
      }.mkString(" ")
      assert(kept === rewrite(id)._1, s"doc $id")
    }
  }

  test("duplicateCharSpans: planted char-level duplicates, normalization, " +
      "within-doc repeats") {
    // docs 1 and 2 share a 40-char region (differing case/spacing —
    // the winnow normalization must canonicalize before matching);
    // doc 3 is unique filler; doc 4 repeats its own 16-char block
    val shared = "the quick brown fox jumps over the lazy dog"
    val df = Seq(
      (1L, s"AAAA bbbb $shared cccc dddd"),
      (2L, s"eeee ffff  THE  Quick Brown FOX jumps over the LAZY dog gggg"),
      (3L, "unique filler content with no repeats at all here"),
      (4L, "xxxxxxxxxxxxxxxx and then xxxxxxxxxxxxxxxx")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateCharSpans(df, "doc_id", "text", minLen = 16)
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_len"), r.getAs[String]("span_text")))
      .sortBy(x => (x._1, x._2))
    // doc 1 normalized = "aaaa bbbb the quick ... dog cccc dddd", doc 2
    // = "eeee ffff the quick ... dog gggg": the maximal shared
    // substring includes the BOUNDING spaces (both docs continue with
    // ' ' on each side), so the span is " <shared> " — 45 codepoints
    // starting at position 10 in both
    assert(spans.count(_._1 == 1L) === 1)
    assert(spans.count(_._1 == 2L) === 1)
    val s1 = spans.find(_._1 == 1L).get
    val s2 = spans.find(_._1 == 2L).get
    assert(s1._4 === s" $shared " && s2._4 === s" $shared ",
      s"expected the canonicalized shared span, got $s1 / $s2")
    assert(s1._2 === 10L && s1._3 === 45L)
    assert(s2._2 === 10L && s2._3 === 45L)
    // doc 3: no spans
    assert(!spans.exists(_._1 == 3L))
    // doc 4: its 16-x block occurs twice within the doc -> both
    // occurrences surface (two islands, "and then" uncovered between)
    val d4 = spans.filter(_._1 == 4L)
    assert(d4.length === 2 && d4.forall(_._4 == "xxxxxxxxxxxxxxxx"), d4.toSeq)
    // every span is at least minLen codepoints
    assert(spans.forall(_._3 >= 16L))
  }

  test("dsirResample: partition-invariant; tiny temperature degenerates to greedy top-k") {
    import org.apache.spark.sql.functions.col
    val d = Sources.table(spark, sf0001, "documents")
    val tgt = col("source") === "src0"
    val a = Curation.dsirResample(d, "doc_id", "text", tgt, k = 20)
      .collect().map(_.getAs[Long]("id")).toSeq
    val b = Curation.dsirResample(d.repartition(7), "doc_id", "text", tgt, k = 20)
      .collect().map(_.getAs[Long]("id")).toSeq
    assert(a === b, "selection must be a pure function of doc ids")
    assert(a.length === 20 && a.distinct.length === 20)
    // temperature -> 0: score/T dwarfs the O(1) Gumbel noise, so the
    // sample collapses to the k best scores (up to rounded-score ties,
    // which the noise then breaks deterministically)
    val greedy = Curation.dsirResample(d, "doc_id", "text", tgt,
        k = 20, temperature = 1e-9)
      .collect().map(_.getAs[Double]("avg_logratio")).min
    val kthScore = Curation.dsirWeights(d, "doc_id", "text", tgt)
      .orderBy(col("avg_logratio").desc).limit(20)
      .collect().map(_.getAs[Double]("avg_logratio")).min
    assert(greedy === kthScore)
  }

  test("prefix-filtered containment == naive containment (lossless)") {
    for (t <- Seq(0.5, 0.8, 0.95)) {
      val naive = Dedup.containmentPairs(docs, "doc_id", "text", 3, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val prefix = Dedup.containmentPairsPrefix(docs, "doc_id", "text", 3, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(prefix === naive, s"threshold $t")
    }
    // the subset-pair case (tiny doc inside a big one) survives the
    // prefix filter too — the partner side is unbounded by design
    val short = (1 to 12).map(i => s"w$i").mkString(" ")
    val long = ((1 to 12) ++ (100 to 187)).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, short), (2L, long)).toDF("doc_id", "text")
    val got = Dedup.containmentPairsPrefix(df, "doc_id", "text", 3, 0.9)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(got.map(_._1).toSeq === Seq((1L, 2L)) && got.head._2 === 1.0)
  }

  test("containment catches a subset duplicate that jaccard misses") {
    val short = (1 to 12).map(i => s"w$i").mkString(" ")           // 10 shingles
    val long = ((1 to 12) ++ (100 to 187)).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, short), (2L, long)).toDF("doc_id", "text")
    val jac = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.9).count()
    val con = Dedup.containmentPairs(df, "doc_id", "text", 3, 0.9)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(jac === 0L, "jaccard should miss the subset pair")
    assert(con.map(_._1).toSeq === Seq((1L, 2L)))
    assert(con.head._2 === 1.0, "short doc fully contained")
  }

  test("curateToParquet: partitioned corpus lands; split scan prunes to a subtree") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_curated").toFile
    tmp.deleteOnExit()
    Curation.curateToParquet(docs, tmp.getAbsolutePath)
    val back = spark.read.parquet(tmp.getAbsolutePath)
    val inMem = Curation.curate(docs)
      .select("doc_id", "split", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val onDisk = back.select("doc_id", "split", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(onDisk === inMem && onDisk.nonEmpty)
    // partition PRUNING: a split= filter must reach the scan as a
    // partition filter, not a post-scan predicate
    val plan = back
      .filter(org.apache.spark.sql.functions.col("split") === "train")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(split"), plan)
  }

  test("char-gram index lifecycle: append a batch, grown index == recompute") {
    import graft.sources.Sinks
    import org.apache.spark.sql.functions.col
    val a = docs.filter(col("doc_id") % 3 === 0) // initial corpus
    val b = docs.filter(col("doc_id") % 3 === 1) // first ingest batch
    val c = docs.filter(col("doc_id") % 3 === 2) // second ingest batch
    try {
      Sinks.writeBucketed(Dedup.charGramIndex(a, "doc_id", "text", 24),
        "graft_lc_chargrams", Seq("h"), 4)
      Sinks.appendBucketed(Dedup.charGramIndex(b, "doc_id", "text", 24),
        "graft_lc_chargrams", Seq("h"), 4)
      // screening c against the GROWN index == a from-scratch rebuild
      // over a UNION b (the index is a distinct set; duplicates from
      // the append are harmless to left_semi coverage)
      def spansOf(idx: org.apache.spark.sql.DataFrame) =
        Dedup.duplicateCharSpansAgainst(c, idx, "doc_id", "text", 24)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(4)))
          .toSet
      val grown = spansOf(spark.table("graft_lc_chargrams"))
      val ref = spansOf(Dedup.charGramIndex(a.union(b), "doc_id", "text", 24))
      assert(grown === ref)
      assert(grown.nonEmpty, "cross-split duplicated spans expected")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_lc_chargrams")
    }
  }

  test("minhash index lifecycle: append a deduped batch, grown index == recompute") {
    import graft.sources.Sinks
    import org.apache.spark.sql.functions.col
    val a = docs.filter(col("doc_id") % 3 === 0) // initial corpus
    val b = docs.filter(col("doc_id") % 3 === 1) // first ingest batch
    val c = docs.filter(col("doc_id") % 3 === 2) // second ingest batch
    def sigsOf(df: org.apache.spark.sql.DataFrame) =
      Dedup.minHashSignatures(Dedup.shingles(df, "doc_id", "text", 3), 128)
    try {
      Sinks.writeBucketed(sigsOf(a), "graft_lc_sigs", Seq("id"), 4)
      Sinks.writeBucketed(
        Dedup.bandedSignatures(spark.table("graft_lc_sigs"), 128, 32),
        "graft_lc_bands", Seq("band_key"), 4)
      // batch b arrives: dedup (result unused here), then JOIN the index
      val bSigs = sigsOf(b).cache()
      Sinks.appendBucketed(bSigs, "graft_lc_sigs", Seq("id"), 4)
      Sinks.appendBucketed(Dedup.bandedSignatures(bSigs, 128, 32),
        "graft_lc_bands", Seq("band_key"), 4)
      // batch c against the GROWN index must equal a from-scratch
      // rebuild over a ∪ b — appends are indistinguishable from rewrites
      val cSigs = sigsOf(c).cache()
      val grown = Dedup.minHashLshCrossPairs(cSigs,
          spark.table("graft_lc_bands"), spark.table("graft_lc_sigs"), 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val refSigs = sigsOf(a.union(b)).cache()
      val ref = Dedup.minHashLshCrossPairs(cSigs,
          Dedup.bandedSignatures(refSigs, 128, 32), refSigs, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(grown === ref)
      assert(grown.nonEmpty, "planted near-dups should cross the 3-way split")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_lc_sigs")
      spark.sql("DROP TABLE IF EXISTS graft_lc_bands")
    }
  }

  test("bandedSignatures: generated code does not grow with numHashes") {
    val banded = Dedup.bandedSignatures(
      Dedup.minHashSignatures(Dedup.shingles(docs, "doc_id", "text", 3), 128), 128, 32)
    banded.collect() // AQE plans its whole-stage classes as stages run
    val lines = banded.queryExecution.debug.codegenToSeq()
      .map(_._2.linesIterator.size)
    assert(lines.nonEmpty && lines.max < 1000, s"whole-stage class lines: $lines")
  }

  test("simhash block index lifecycle: append a batch, grown index == recompute") {
    import graft.sources.Sinks
    import org.apache.spark.sql.functions.col
    val a = docs.filter(col("doc_id") % 3 === 0) // initial corpus
    val b = docs.filter(col("doc_id") % 3 === 1) // first ingest batch
    val c = docs.filter(col("doc_id") % 3 === 2) // second ingest batch
    def sigsOf(df: org.apache.spark.sql.DataFrame) =
      Dedup.simHashSignatures(Dedup.shingles(df, "doc_id", "text", 3))
    try {
      Sinks.writeBucketed(Dedup.simHashBlocks(sigsOf(a), maxHamming = 8),
        "graft_lc_sim_blocks", Seq("block_val"), 4)
      Sinks.appendBucketed(Dedup.simHashBlocks(sigsOf(b), maxHamming = 8),
        "graft_lc_sim_blocks", Seq("block_val"), 4)
      // batch c against the GROWN index must equal a from-scratch
      // rebuild over a ∪ b — appends are indistinguishable from rewrites
      val grown = Dedup.simHashCrossPairs(sigsOf(c),
          spark.table("graft_lc_sim_blocks"), maxHamming = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val ref = Dedup.simHashCrossPairs(sigsOf(c),
          Dedup.simHashBlocks(sigsOf(a.union(b)), maxHamming = 8),
          maxHamming = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(grown === ref)
      assert(grown.nonEmpty, "planted near-dups should cross the 3-way split")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_lc_sim_blocks")
    }
  }

  test("simhash: hamming matches brute-force XOR popcount; near-dups surface") {
    val sigs = Dedup.simHashSignatures(
      Dedup.shingles(docs, "doc_id", "text", 3))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text", 3, maxHamming = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2)))
    assert(pairs.nonEmpty, "expected simhash near-dup pairs")
    pairs.foreach { case ((a, b), d) =>
      assert(d === java.lang.Long.bitCount(sigs(a) ^ sigs(b)), s"pair ($a,$b)")
      assert(d <= 8)
    }
  }

  test("leakage-safe split: near-dup clusters never straddle splits, and the guard is exercised") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val pairs = Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", 3, 0.8)
    val clusters = Dedup.connectedComponents(
      docs.select(col("doc_id").as("id")), pairs)
    val assigned = Sampling.split(clusters, col("cluster_rep"), 12, 2)
    val straddling = assigned.groupBy("cluster_rep")
      .agg(countDistinct(col("split")).as("ns"))
      .filter(col("ns") > 1).count()
    assert(straddling === 0L)
    // the property is non-vacuous: some cluster really has >1 doc
    val multiDoc = assigned.groupBy("cluster_rep").count()
      .filter(col("count") > 1).count()
    assert(multiDoc > 0L)
    // contrast: the doc-level split DOES split at least one cluster
    // (this is the leak the operator exists to prevent)
    val docLevel = Sampling.split(clusters, col("doc_id"), 12, 2)
      .groupBy("cluster_rep")
      .agg(countDistinct(col("split")).as("ns"))
      .filter(col("ns") > 1).count()
    assert(docLevel > 0L)
  }
}
