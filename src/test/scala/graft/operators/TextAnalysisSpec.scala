package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private def one(text: String, c: org.apache.spark.sql.Column): Any =
    Seq(text).toDF("text").select(c).collect().head.get(0)

  test("tokens: python str.split semantics") {
    assert(one("  a  b\tc ", TextAnalysis.tokens(col("text")))
      .asInstanceOf[scala.collection.Seq[String]].toSeq === Seq("a", "b", "c"))
    assert(one("", TextAnalysis.tokenCount(col("text"))) === 0)
  }

  test("bpeish tokens split alpha/digit/punct runs") {
    assert(one("ab12,cd", TextAnalysis.bpeishTokens(col("text")))
      .asInstanceOf[scala.collection.Seq[String]].toSeq === Seq("ab", "12", ",", "cd"))
  }

  test("rolling hash: eval matches reference fold, interpreted == codegen") {
    val expected = "abc".foldLeft(0L)((h, ch) => (h * 31 + ch) % 1000000007L)
    assert(one("abc", TextAnalysis.rollingHashFingerprint(col("text"))) === expected)
    // non-ASCII safety: stays in range, deterministic
    val h2 = one("héllo wörld", expr("rolling_hash(text)"))
    assert(h2.asInstanceOf[Long] >= 0L && h2.asInstanceOf[Long] < 1000000007L)
  }

  test("rollingHashFingerprint takes a Column: a column name with a space works") {
    // the old (df, name) form spliced the name into SQL text, where
    // `my text` fails to parse
    val texts = Seq("abc", "héllo wörld")
    val got = texts.toDF("my text")
      .select(TextAnalysis.rollingHashFingerprint(col("my text")))
      .collect().map(_.getLong(0)).toSeq
    assert(got === texts.map(_.foldLeft(0L)((h, ch) => (h * 31 + ch) % 1000000007L)))
  }

  test("langId: argmax with fixed tiebreak, und when no hits") {
    val df = Seq(
      (1L, "the fast data of the run"),  // en
      (2L, "der hund und die katze ist"),// de
      (3L, "xyz qrs"),                   // und
      (4L, "le chat est dans une boite") // fr
    ).toDF("id", "text")
    val got = df.select($"id", TextAnalysis.langId($"text").as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "en", 2L -> "de", 3L -> "und", 4L -> "fr"))
  }

  test("wordNgrams: standard, short-doc, and exact-length cases") {
    def ng(s: String) = one(s, TextAnalysis.wordNgrams(col("text"), 3))
      .asInstanceOf[scala.collection.Seq[String]].toSeq
    assert(ng("a b c d") === Seq("a b c", "b c d"))
    assert(ng("a b c") === Seq("a b c"))
    assert(ng("a b") === Seq.empty)
    assert(ng("") === Seq.empty)
  }

  test("repetitionFeatures: repeated, distinct, and short docs") {
    val df = Seq(
      (1L, "a b a b a b a b"),     // 6 trigrams, 2 distinct -> 1 - 2/6
      (2L, "a b c d e f"),         // 4 trigrams, all distinct -> 0.0
      (3L, "a b")                  // shorter than n -> 0 ngrams, 0.0
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionFeatures(df, "doc_id", "text", 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(1L) === ((6L, 2L, 0.666667)))
    assert(got(2L) === ((4L, 4L, 0.0)))
    assert(got(3L) === ((0L, 0L, 0.0)))
    // NULL text scores as empty, not as size(null) = -1
    val withNull = TextAnalysis.repetitionFeatures(
      Seq((9L, null: String)).toDF("doc_id", "text"), "doc_id", "text", 3)
      .collect().head
    assert((withNull.getLong(1), withNull.getLong(2), withNull.getDouble(3))
      === ((0L, 0L, 0.0)))
  }

  test("unigramLogProb: hand-computed LM scores") {
    // corpus: "a a a b" -> p(a)=3/4, p(b)=1/4
    val df = Seq((1L, "a a a"), (2L, "b")).toDF("doc_id", "text")
    val got = TextAnalysis.unigramLogProb(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val lnPa = -math.log(3.0 / 4.0)
    val lnPb = -math.log(1.0 / 4.0)
    assert(got(1L)._1 === BigDecimal(lnPa).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(got(1L)._2 === 3L)
    assert(got(2L)._1 === BigDecimal(lnPb).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("packSequences: contiguous fill per group, boundary doc stays in first chunk") {
    val df = Seq(
      (1L, "w " * 300, "s1"), // cum 300 -> chunk 0
      (2L, "w " * 300, "s1"), // starts at 300 -> chunk 0 (spans boundary)
      (3L, "w " * 300, "s1"), // starts at 600 -> chunk 1
      (4L, "w " * 100, "s2")  // separate group restarts at 0
    ).toDF("doc_id", "text", "source")
    val got = TextAnalysis.packSequences(df, "doc_id", "text", "source", 512L)
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(got === Map(1L -> 0, 2L -> 0, 3L -> 1, 4L -> 0))
  }

  test("packSequencesBestFit: hand-replayed best-fit-decreasing, " +
      "oversized isolation, capacity never overflows") {
    // lengths sorted desc: 300, 300, 200, 200, 100 at cap 512:
    //   300 -> bin0 (rem 212); 300 -> no fit in 212 -> bin1 (rem 212)
    //   200 -> best of {212, 212} ties -> bin0 (rem 12); 200 -> bin1
    //   100 -> no fit in {12, 12} -> bin2
    val df = Seq(
      (1L, "w " * 300, "s1"), (2L, "w " * 300, "s1"),
      (3L, "w " * 200, "s1"), (4L, "w " * 200, "s1"),
      (5L, "w " * 100, "s1"),
      (6L, "w " * 600, "s2"), (7L, "w " * 100, "s2") // oversized: own bin
    ).toDF("doc_id", "text", "source")
    val got = TextAnalysis.packSequencesBestFit(df, "doc_id", "text",
        "source", 512L)
      .collect().map(r => r.getLong(0) -> r.getInt(4)).toMap
    assert(got === Map(1L -> 0, 2L -> 1, 3L -> 0, 4L -> 1, 5L -> 2,
      6L -> 0, 7L -> 1))
  }

  test("packSequencesBestFit: md5 shards are deterministic, packing " +
      "is partitioning-invariant, chunks never exceed capacity") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val a = TextAnalysis.packSequencesBestFit(docs, "doc_id", "text",
        "source", 512L, shards = 4)
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getInt(2),
        r.getLong(3), r.getInt(4)))).toMap
    val b = TextAnalysis.packSequencesBestFit(docs.repartition(13),
        "doc_id", "text", "source", 512L, shards = 4)
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getInt(2),
        r.getLong(3), r.getInt(4)))).toMap
    assert(a === b)
    assert(a.nonEmpty)
    assert(a.values.forall { case (_, sh, _, _) => sh >= 0 && sh < 4 })
    // no multi-doc chunk exceeds capacity (oversized docs sit alone)
    val byChunk = a.toSeq.groupBy { case (_, (src, sh, _, ck)) =>
      (src, sh, ck) }
    byChunk.foreach { case (key, ds) =>
      val tot = ds.map(_._2._3).sum
      assert(tot <= 512L || ds.size == 1, s"chunk $key overflows: $tot")
    }
  }

  test("quality features on a known doc") {
    val df = TextAnalysis.qualityFeatures(
      Seq((1L, "the cat, and dog!")).toDF("id", "text"), "text")
    val r = df.collect().head
    assert(r.getAs[Long]("n_chars_calc") === 17L)
    assert(r.getAs[Long]("n_tokens") === 4L)
    // stopwords: the, and -> 2/4
    assert(r.getAs[Double]("stopword_ratio") === 0.5)
  }

  test("chunkDocuments: overlap, partial tail, and short-doc cases") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, "a b c d e"), // 5 tokens, size 3 stride 2 -> [a b c], [c d e]
      (2L, "x y"),       // <= size -> one chunk
      (3L, "p q r s"))   // 4 tokens -> [p q r], [r s] (partial tail)
      .toDF("doc_id", "text")
    val got = TextAnalysis.chunkDocuments(df, "doc_id", "text", 3, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(got === Set(
      (1L, 0, "a b c", 3L), (1L, 1, "c d e", 3L),
      (2L, 0, "x y", 2L),
      (3L, 0, "p q r", 3L), (3L, 1, "r s", 2L)))
  }

  test("chunkDocuments: stride == chunkSize reassembles the doc losslessly") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(50)
    val re = TextAnalysis.chunkDocuments(docs, "doc_id", "text", 16, 16)
      .groupBy("doc_id")
      .agg(concat_ws(" ", array_sort(collect_list(struct(col("chunk_id"), col("chunk_text"))))
        .getField("chunk_text")).as("rejoined"))
    val orig = docs.select(col("doc_id"),
      concat_ws(" ", TextAnalysis.tokens(col("text"))).as("norm"))
    val diff = re.join(orig, "doc_id")
      .filter(col("rejoined") =!= col("norm")).count()
    assert(diff === 0)
  }

  test("chunkDocuments: token counts per doc sum correctly with overlap") {
    import org.apache.spark.sql.functions._
    // overlap (stride < size) double-counts interior tokens by design;
    // per-chunk n_tokens must equal the chunk's own token count
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(50)
    val bad = TextAnalysis.chunkDocuments(docs, "doc_id", "text", 64, 32)
      .filter(size(TextAnalysis.tokens(col("chunk_text"))) =!= col("n_tokens"))
      .count()
    assert(bad === 0)
  }

  test("vocabCoverage: OOV rate against a hand-computed vocab") {
    // corpus counts: a=3, b=2, c=1 -> top-2 vocab {a, b}; c is OOV
    val df = Seq((1L, "a a b c"), (2L, "a b")).toDF("doc_id", "text")
    val got = TextAnalysis.vocabCoverage(df, "doc_id", "text", topN = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got === Map(1L -> (4L, 1L, 0.25), 2L -> (2L, 0L, 0.0)))
  }

  test("tfidfCosinePairs: hand-checked cosine, identical docs score 1") {
    // docs 1 and 2 identical -> cos = 1; doc 3 shares only the
    // ubiquitous term "x" (df = 3 -> idf = ln(1) = 0, weight 0) -> no
    // qualifying pair with 3 at any positive threshold
    val df = Seq((1L, "x rare1 rare2"), (2L, "x rare1 rare2"), (3L, "x solo"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.tfidfCosinePairs(df, "doc_id", "text", threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.keySet === Set((1L, 2L)))
    assert(got((1L, 2L)) === 1.0)
  }

  test("tfidfCosinePairs: maxTermDf drops high-df terms from scoring") {
    // "mid" is in 2 of 3 docs (idf > 0); capping df at 1 removes it, so
    // docs 1/2 — which share ONLY "mid" — no longer pair at all
    val df = Seq((1L, "mid aa"), (2L, "mid bb"), (3L, "cc dd"))
      .toDF("doc_id", "text")
    val uncapped = TextAnalysis.tfidfCosinePairs(df, "doc_id", "text", 0.01)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = TextAnalysis.tfidfCosinePairs(df, "doc_id", "text", 0.01,
      maxTermDf = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped === Set((1L, 2L)))
    assert(capped === Set.empty)
  }

  test("tfidfCosineCrossPairs: corpus-stats weighting, OOV batch terms ignored") {
    val corpus = Seq((10L, "alpha beta"), (11L, "alpha gamma"), (12L, "delta"))
      .toDF("doc_id", "text")
    // batch doc 1 duplicates corpus doc 10; "novel" is OOV (absent from
    // the corpus) and must not contribute weight
    val batch = Seq((1L, "alpha beta novel"), (2L, "zzz")).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfCosineCrossPairs(batch, corpus,
        "doc_id", "text", threshold = 0.99)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // batch 1 vs corpus 10: identical corpus-known vectors -> cos 1;
    // batch 2 is pure OOV -> no pairs at all
    assert(got.keySet === Set((1L, 10L)))
    assert(got((1L, 10L)) === 1.0)
  }

  test("maskPii: emails masked before digit runs, count matches") {
    import org.apache.spark.sql.functions.col
    val df = Seq((1L, "call 555-1234 or mail a1@ex.co now"))
      .toDF("id", "text")
      .select(TextAnalysis.maskPii(col("text")).as("m"),
        TextAnalysis.piiSpanCount(col("text")).as("n"))
    val r = df.collect().head
    assert(r.getString(0) === "call <NUM>-<NUM> or mail <EMAIL> now")
    assert(r.getInt(1) === 3) // 2 digit runs + 1 email
  }

  test("maskPii: text without PII passes through untouched") {
    import org.apache.spark.sql.functions.col
    val df = Seq((1L, "no secrets here")).toDF("id", "text")
      .select(TextAnalysis.maskPii(col("text")).as("m"),
        TextAnalysis.piiSpanCount(col("text")).as("n"))
    val r = df.collect().head
    assert(r.getString(0) === "no secrets here" && r.getInt(1) === 0)
  }

  test("winnowing: shared span >= k+w-1 guarantees a shared fingerprint; " +
      "disjoint texts at long k share none") {
    val shared = "the quick brown fox jumps over the lazy dog tonight"
    val df = Seq(
      (1L, s"prefix one $shared suffix alpha"),
      (2L, s"other start $shared different tail"),
      (3L, "completely unrelated content with nothing in common here at all"))
      .toDF("id", "text")
    val fps = TextAnalysis.winnowFingerprints(df, "id", "text", k = 24, window = 8)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Long](1).toSet).toMap
    // winnowing guarantee (Schleimer '03): any match of length >=
    // k + window - 1 = 31 chars selects at least one common fingerprint
    assert((fps(1L) & fps(2L)).nonEmpty)
    assert((fps(1L) & fps(3L)).isEmpty && (fps(2L) & fps(3L)).isEmpty)
    // density: selection keeps ~2/(w+1) of positions, never all of them
    assert(fps(1L).size < shared.length + 30)
  }

  test("winnow_fps fast family: same selection guarantees; exact values " +
      "match a naive driver-side replay") {
    val shared = "the quick brown fox jumps over the lazy dog tonight"
    val df = Seq(
      (1L, s"prefix one $shared suffix alpha"),
      (2L, s"other start $shared different tail"),
      (3L, "completely unrelated content with nothing in common here at all"))
      .toDF("id", "text")
    val fps = TextAnalysis.winnowFingerprintsFast(df, "id", "text",
        k = 24, window = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty)
    assert((fps(1L) & fps(3L)).isEmpty && (fps(2L) & fps(3L)).isEmpty)
    // exact-value pin: naive per-position power-sum replay of the dual
    // polynomial family (the oracle's formulation — independent of the
    // engine's rolling-update algebra)
    def naive(text: String, k: Int, w: Int): Set[Long] = {
      val s = text.toLowerCase.replaceAll("\\s+", " ").trim
      val cps = s.codePoints().toArray
      if (cps.length < k + w - 1) return Set.empty
      def hash(i: Int, b: Long, m: Long): Long =
        (0 until k).foldLeft(0L)((h, j) => (h * b + cps(i + j)) % m)
      val hs = (0 to cps.length - k).map(i =>
        hash(i, 31L, 2147483647L) * 1000000007L + hash(i, 37L, 1000000007L))
      (0 to hs.length - w).map(j => hs.slice(j, j + w).min).toSet
    }
    for (id <- 1L to 3L) {
      val text = df.filter(col("id") === id).head().getString(1)
      assert(fps(id) === naive(text, 24, 8), s"doc $id")
    }
  }

  test("winnow_fps: codegen compiles (no interpreted fallback)") {
    assertNoCodegenFallback {
      TextAnalysis.winnowFingerprintsFast(
        Seq((1L, "abcdefghijklmnop qrstuvwxyz abcdefghijklmnop"))
          .toDF("id", "text"), "id", "text", k = 8, window = 4)
        .collect()
    }
  }

  test("winnowing pairs: shared-span docs pair; overlap in (0,1]; " +
      "ubiquitous fingerprints df-capped out") {
    val boiler = "this boilerplate footer appears on every single document in the corpus"
    val df = (1L to 6L).map(i => (i, s"doc $i unique words $i$i$i $boiler"))
      .toDF("id", "text")
    // maxDf=1: ANY fingerprint two docs share has df >= 2, so the cap
    // provably yields zero pairs — for every hash family (df between 2
    // and n-1 can occur for footer fingerprints selected only near the
    // unique-text boundary in a subset of docs, so a mid-range cap is
    // not a family-independent zero)
    val capped = Dedup.winnowSharedPairs(df, "id", "text",
      k = 24, window = 8, minShared = 1, maxDf = 1)
    assert(capped.count() === 0L)
    // with the cap lifted the footer pairs everything
    val open = Dedup.winnowSharedPairs(df, "id", "text",
      k = 24, window = 8, minShared = 1, maxDf = 100)
    assert(open.count() === 15L) // C(6,2)
    val ov = open.select(min(col("overlap")), max(col("overlap"))).collect().head
    assert(ov.getDouble(0) > 0.0 && ov.getDouble(1) <= 1.0)
  }

  test("bigramLogProb: seen text scores below unseen; smoothing keeps " +
      "unseen contexts finite; <2-token docs absent") {
    val corpus = Seq(
      (10L, "spark shuffles data across the cluster"),
      (11L, "spark shuffles data across many executors"),
      (12L, "the cluster runs many executors")).toDF("id", "text")
    val docs = Seq(
      (1L, "spark shuffles data"),     // every bigram seen
      (2L, "zebra quantum xylophone"), // nothing seen
      (3L, "single")).toDF("id", "text")
    val got = TextAnalysis.bigramLogProb(docs, corpus, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.contains(1L) && got.contains(2L) && !got.contains(3L))
    assert(got(1L) < got(2L))
    assert(java.lang.Double.isFinite(got(2L)))
    // unseen floor is exactly -ln(k / (k*V)) = ln(V) per bigram
    val v = corpus.select(explode(TextAnalysis.tokens(col("text")))).distinct().count()
    assert(math.abs(got(2L) - math.log(v.toDouble)) < 1e-6)
  }

  test("repetitionStats: hand-computed signals per doc") {
    val df = Seq(
      // doc 1: 3 lines, "dup line one" twice -> 2/3 dup lines;
      // tokens: dup line one dup line one unique tail here
      (1L, "dup line one\ndup line one\nunique tail here"),
      // doc 2: "a b" bigram repeated 3 times in 6 tokens, no dup lines
      (2L, "a b a b a b"),
      // doc 3: a 5-gram repeated -> full coverage of both occurrences
      (3L, "v w x y z v w x y z"),
      // doc 4: empty
      (4L, "")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(df, "doc_id", "text")
      .collect()
      .map(r => r.getAs[Long]("id") -> r)
      .toMap

    val d1 = got(1L)
    assert(d1.getAs[Long]("n_lines") === 3L)
    assert(d1.getAs[Double]("frac_dup_lines") === math.round(2.0 / 3 * 1e6) / 1e6)
    // dup line chars: 2 * 12 = 24 of 12+12+16 = 40
    assert(d1.getAs[Double]("frac_dup_line_chars") === 0.6)

    val d2 = got(2L)
    // top bigram "a b" occurs 3 times (of bigrams: "a b" x3, "b a" x2);
    // token chars = 6; covered = 3 * 2 = 6 -> 1.0
    assert(d2.getAs[Double]("top2_char_frac") === 1.0)
    // no within-doc duplicate 5-gram ("a b a b a" once, "b a b a b" once)
    assert(d2.getAs[Double]("dup5_token_frac") === 0.0)

    val d3 = got(3L)
    // "v w x y z" occurs twice: positions 1-5 and 6-10 all covered
    assert(d3.getAs[Double]("dup5_token_frac") === 1.0)

    val d4 = got(4L)
    assert(d4.getAs[Long]("n_lines") === 0L)
    assert(d4.getAs[Double]("frac_dup_lines") === 0.0)
    assert(d4.getAs[Double]("top2_char_frac") === 0.0)
    assert(d4.getAs[Double]("dup5_token_frac") === 0.0)
  }
}
