package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis
import graft.sources.Sources.table

/** Text-analysis queries over the `documents` table, each mirrored by a
  * DuckDB oracle (including the rolling hash, re-expressed in DuckDB as
  * a `list_reduce` over codepoints).
  */
object TextQueries {

  private val stopList = TextAnalysis.StopwordsEn.map(w => s"'$w'").mkString(", ")
  private def sqlList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")

  /** Languages for the trained language-ID query — the synthetic
    * corpus's label set, in tie-break priority order. */
  private val LangIdLangs = Seq("en", "de", "zh", "fr", "es")

  /** DuckDB replay of [[TextAnalysis.langIdTrained]]: the hashed
    * char-bigram feature CTE (md5-bucket idiom) + one unrolled
    * 6dp-anchored GD trajectory per language + the argmax CASE in
    * tie-break order — the q_lr_train_score recipe × |langs|. */
  private def langIdTrainedOracle(langs: Seq[String], steps: Int,
      lr: Double, dim: Int): String = {
    val hi = dim + 2 // exclusive bound over the augmented vector
    def margin(w: String): String =
      s"list_sum(list_transform(range(1, $hi), i -> $w[i] * xa[i]))"
    val chains = langs.map { l =>
      val y = s"CASE WHEN lang = '$l' THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END"
      val steps_ = (1 to steps).map { k =>
        s"""p${k}_$l AS (
           |  SELECT doc_id, xa, $y AS y,
           |    1.0 / (1.0 + exp(-(${margin(s"w${k - 1}_$l.w")}))) AS p
           |  FROM emb CROSS JOIN w${k - 1}_$l),
           |g${k}_$l AS (
           |  SELECT i, round(avg((p - y) * v), 9) AS g
           |  FROM (SELECT y, p, unnest(xa) AS v,
           |               unnest(range(len(xa))) AS i FROM p${k}_$l) u
           |  GROUP BY i),
           |w${k}_$l AS (
           |  SELECT list(round(wp.w[i + 1] - $lr * g, 6) ORDER BY i) AS w
           |  FROM g${k}_$l CROSS JOIN w${k - 1}_$l wp)""".stripMargin
      }.mkString(",\n")
      s"""w0_$l AS (SELECT list_transform(range(1, $hi), i -> 0.0::DOUBLE) AS w),
         |$steps_""".stripMargin
    }.mkString(",\n")
    // unrounded margin per language alongside the 6dp sigmoid: the
    // argmax runs on margins (the engine's saturation-proof order —
    // same left-to-right fold, bit-identical doubles), the output
    // carries the rounded scores
    val scoreCols = langs.map { l =>
      s"""round(1.0 / (1.0 + exp(-(${margin(s"w${steps}_$l.w")}))), 6) AS s_$l,
         |  ${margin(s"w${steps}_$l.w")} AS m_$l""".stripMargin
    }.mkString(",\n  ")
    val crossW = langs.map(l => s"CROSS JOIN w${steps}_$l").mkString(" ")
    val pred = langs.init.zipWithIndex.map { case (l, i) =>
      val conds = langs.drop(i + 1).map(m => s"m_$l >= m_$m").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString("\n    ")
    s"""WITH t AS (
       |  SELECT doc_id, lang, lower(coalesce(text, '')) AS t FROM documents),
       |f AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN length(t) < 2 THEN CAST([] AS BIGINT[])
       |         ELSE list_transform(range(1, length(t)), i ->
       |           ('0x' || substring(md5(substring(t, i, 2)), 1, 15))::BIGINT
       |             % $dim) END AS bks
       |  FROM t),
       |emb AS (
       |  SELECT doc_id, lang,
       |    [1.0::DOUBLE] || list_transform(range(0, $dim), b ->
       |      round(len(list_filter(bks, x -> x = b))::DOUBLE
       |        / greatest(len(bks), 1), 6)) AS xa
       |  FROM f),
       |$chains,
       |scored AS (
       |  SELECT doc_id,
       |  $scoreCols
       |  FROM emb $crossW)
       |SELECT doc_id, ${langs.map(l => s"s_$l").mkString(", ")},
       |  CASE $pred
       |    ELSE '${langs.last}' END AS lang_pred
       |FROM scored""".stripMargin
  }

  /** DuckDB replay of [[TextAnalysis.langIdSoftmax]]: the hashed
    * char-bigram feature CTE, then ONE unrolled multinomial GD chain —
    * per step, all |langs| margins against the previous weights, the
    * shared softmax denominator folded in fixed class order
    * (left-assoc `+`, exactly `margins.map(exp).reduce(_ + _)`), the
    * per-class residuals, one per-index gradient CTE carrying all K
    * 9dp-anchored averages, and K 6dp-anchored weight lists — then the
    * 6dp posterior projection with the margin-argmax CASE. */
  private def langIdSoftmaxOracle(langs: Seq[String], steps: Int,
      lr: Double, dim: Int): String = {
    val hi = dim + 2 // exclusive bound over the augmented vector
    def margin(w: String): String =
      s"list_sum(list_transform(range(1, $hi), i -> $w[i] * xa[i]))"
    def den(src: String): String =
      langs.map(l => s"exp($src" + s"m_$l)").mkString(" + ")
    val stepCtes = (1 to steps).map { k =>
      val crossPrev = langs.map(l => s"CROSS JOIN w${k - 1}_$l").mkString(" ")
      val marginCols = langs.map { l =>
        s"${margin(s"w${k - 1}_$l.w")} AS m_$l"
      }.mkString(",\n    ")
      val residCols = langs.map { l =>
        s"""exp(m_$l) / (${den("")}) -
           |      CASE WHEN lang = '$l' THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END
           |      AS d_$l""".stripMargin
      }.mkString(",\n    ")
      val gradCols = langs.map { l =>
        s"round(avg(d_$l * v), 9) AS g_$l"
      }.mkString(", ")
      val wCtes = langs.map { l =>
        s"""w${k}_$l AS (
           |  SELECT list(round(wp.w[i + 1] - $lr * g_$l, 6) ORDER BY i) AS w
           |  FROM g$k CROSS JOIN w${k - 1}_$l wp)""".stripMargin
      }.mkString(",\n")
      s"""p$k AS (
         |  SELECT doc_id, lang, xa,
         |    $marginCols
         |  FROM emb $crossPrev),
         |r$k AS (
         |  SELECT xa,
         |    $residCols
         |  FROM p$k),
         |g$k AS (
         |  SELECT i, $gradCols
         |  FROM (SELECT unnest(xa) AS v, unnest(range(len(xa))) AS i,
         |          ${langs.map(l => s"d_$l").mkString(", ")} FROM r$k) u
         |  GROUP BY i),
         |$wCtes""".stripMargin
    }.mkString(",\n")
    val w0Ctes = langs.map { l =>
      s"w0_$l AS (SELECT list_transform(range(1, $hi), i -> 0.0::DOUBLE) AS w)"
    }.mkString(",\n")
    val finalMargins = langs.map { l =>
      s"${margin(s"w${steps}_$l.w")} AS m_$l"
    }.mkString(",\n    ")
    val crossFinal = langs.map(l => s"CROSS JOIN w${steps}_$l").mkString(" ")
    // max-margin subtraction mirrors Classification.scoreSoftmax: the
    // shifted exps (same class order, same left-assoc sum) keep the
    // posteriors finite for any margin range and bit-identical to the
    // engine's greatest+shift
    val mmaxExpr =
      if (langs.size == 1) s"m_${langs.head}"
      else s"greatest(${langs.map(l => s"m_$l").mkString(", ")})"
    val denShift = langs.map(l => s"exp(m_$l - mmax)").mkString(" + ")
    val pCols = langs.map { l =>
      s"round(exp(m_$l - mmax) / ($denShift), 6) AS p_$l"
    }.mkString(",\n  ")
    val pred = langs.init.zipWithIndex.map { case (l, i) =>
      val conds = langs.drop(i + 1).map(m => s"m_$l >= m_$m").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString("\n    ")
    s"""WITH t AS (
       |  SELECT doc_id, lang, lower(coalesce(text, '')) AS t FROM documents),
       |f AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN length(t) < 2 THEN CAST([] AS BIGINT[])
       |         ELSE list_transform(range(1, length(t)), i ->
       |           ('0x' || substring(md5(substring(t, i, 2)), 1, 15))::BIGINT
       |             % $dim) END AS bks
       |  FROM t),
       |emb AS (
       |  SELECT doc_id, lang,
       |    [1.0::DOUBLE] || list_transform(range(0, $dim), b ->
       |      round(len(list_filter(bks, x -> x = b))::DOUBLE
       |        / greatest(len(bks), 1), 6)) AS xa
       |  FROM f),
       |$w0Ctes,
       |$stepCtes,
       |scoredf AS (
       |  SELECT doc_id,
       |    $finalMargins
       |  FROM emb $crossFinal),
       |scoredm AS (
       |  SELECT *, $mmaxExpr AS mmax FROM scoredf)
       |SELECT doc_id,
       |  $pCols,
       |  CASE $pred
       |    ELSE '${langs.last}' END AS lang_pred
       |FROM scoredm""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_tokens" -> { (s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        size(TextAnalysis.bpeishTokens(col("text"))).cast("long").as("n_bpe_tokens"))
    },

    "q_text_quality" -> { (s, dir) =>
      TextAnalysis.qualityFeatures(table(s, dir, "documents"), "text")
        .select("doc_id", "n_chars_calc", "n_tokens", "avg_token_len",
          "stopword_ratio", "alnum_ratio")
    },

    // the full Gopher/C4 rule battery in one codegen'd projection:
    // per-doc signals + per-rule outcomes folded into `keep`
    // (TextAnalysis.gopherQualityFilter)
    "q_gopher_filter" -> { (s, dir) =>
      TextAnalysis.gopherQualityFilter(
        table(s, dir, "documents"), "doc_id", "text")
    },

    "q_lang_id" -> { (s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
    },

    // TRAINED language ID (the fastText-recipe upgrade of the q_lang_id
    // stopword screen): one-vs-rest in-plan logistic regression per
    // language over hashed char-bigram features, labels from the
    // ground-truth lang column, argmax prediction — GD trajectory and
    // md5 feature hashing both replayed exactly by DuckDB
    "q_lang_id_trained" -> { (s, dir) =>
      TextAnalysis.langIdTrained(table(s, dir, "documents"),
          "doc_id", "text", "lang", LangIdLangs, steps = 2, lr = 10.0,
          n = 2, dim = 32)
        .withColumnRenamed("id", "doc_id")
    },

    // SOFTMAX (multinomial) language ID — ONE multiclass model over
    // the same hashed char-bigram features instead of q_lang_id_trained's
    // |langs| one-vs-rest sigmoids: per-row posteriors share one
    // softmax denominator and sum to 1 (calibrated across classes),
    // and training is one job per step instead of one per class per
    // step. DuckDB replays the multinomial GD trajectory exactly —
    // shared-denominator residuals, 9dp gradient + 6dp weight anchors
    "q_lang_id_softmax" -> { (s, dir) =>
      TextAnalysis.langIdSoftmax(table(s, dir, "documents"),
          "doc_id", "text", "lang", LangIdLangs, steps = 2, lr = 10.0,
          n = 2, dim = 32)
        .withColumnRenamed("id", "doc_id")
    },

    "q_fingerprint" -> { (s, dir) =>
      val df = table(s, dir, "documents")
      df.select(
        col("doc_id"),
        TextAnalysis.md5Fingerprint(col("text")).as("fp_md5"),
        TextAnalysis.rollingHashFingerprint(col("text")).as("fp_roll"))
    },

    // winnowing (MOSS) fingerprint selection — one row per selected
    // fingerprint; the robust local-fingerprint complement to the
    // whole-doc hashes in q_fingerprint
    "q_winnow_fingerprint" -> { (s, dir) =>
      TextAnalysis.winnowFingerprintsFast(table(s, dir, "documents"),
          "doc_id", "text")
        .select(col("id").as("doc_id"), explode(col("fps")).as("fp"))
    },

    "q_tfidf" -> { (s, dir) =>
      TextAnalysis.tfIdf(table(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"))
    },
    "q_inverted_index" -> { (s, dir) =>
      TextAnalysis.invertedIndexStats(table(s, dir, "documents"), "doc_id", "text")
    },
    // sparse TF-IDF cosine scoring of a new ingest batch against the
    // corpus (integer-scaled weights -> bit-exact cross-engine
    // cosines). The incremental form is the benchmarked one: the
    // self-join twin (tfidfCosinePairs, spec-tested) is Σ df² in term
    // fanout, which the synthetic corpus's 31-word vocabulary
    // degenerates to ~n² — exactly the case the batch-vs-corpus shape
    // and the maxTermDf cap exist for
    "q_tfidf_cosine_incremental" -> { (s, dir) =>
      val docs = graft.operators.Sampling
        .split(table(s, dir, "documents"), col("doc_id"), 12, 2)
      val corpus = docs.filter(col("split") =!= "test")
      // production configuration: terms in over half the corpus carry
      // near-zero idf but quadratic join fanout — drop them from the
      // vectors (the synthetic corpus has 30 of its 31 words in ~77%
      // of docs, so the cap is what keeps this query join-bounded).
      // The cap is a FRACTION resolved in-plan against the corpus
      // count (floor(N·0.5) == N // 2, the oracle's integer division),
      // so building this query runs no driver job
      TextAnalysis.tfidfCosineCrossPairs(
        docs.filter(col("split") === "test"), corpus,
        "doc_id", "text", threshold = 0.9, maxTermDfFrac = 0.5)
    },
    // BM25 retrieval scoring against a fixed query mixing rare ('dup',
    // df~5% -> high idf) and ubiquitous terms — per-doc scores, fully
    // value-compared (per-doc term sums fold in sorted term order, so
    // the floats are engine-portable)
    // C4-style word-blocklist screen: whole-token, case-insensitive,
    // reported as a hit fraction so any-hit (maxFrac=0) and
    // threshold policies are both one filter away
    "q_blocklist_filter" -> { (s, dir) =>
      TextAnalysis.blocklistStats(table(s, dir, "documents"), "doc_id",
        "text", Seq("dup", "noise", "Vector"), maxFrac = 0.05)
    },
    "q_bm25_score" -> { (s, dir) =>
      TextAnalysis.bm25Scores(table(s, dir, "documents"), "doc_id", "text",
        queryTerms = Seq("vector", "hash", "stream", "dup"))
        .select(col("id").as("doc_id"), col("bm25"), col("n_matched_terms"))
    },
    "q_top_ngrams" -> { (s, dir) =>
      table(s, dir, "documents")
        .select(TextAnalysis.tokens(col("text")).as("toks"))
        .select(explode(TextAnalysis.ngramsFromTokens(col("toks"), 3)).as("ngram"))
        .groupBy(col("ngram"))
        .agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("ngram"))
        .limit(50)
    },
    "q_repetition" -> { (s, dir) =>
      TextAnalysis.repetitionFeatures(table(s, dir, "documents"), "doc_id", "text", 3)
    },
    // bigram-LM fluency scoring (KenLM/CCNet style): model trained on
    // the corpus split, held-out split scored with add-k smoothing.
    // Model counts stay distributed (shuffle joins, AQE may broadcast);
    // unseen pairs/contexts hit the smoothed floor, never -inf
    "q_bigram_logprob" -> { (s, dir) =>
      val docs = graft.operators.Sampling
        .split(table(s, dir, "documents"), col("doc_id"), 12, 2)
      TextAnalysis.bigramLogProb(
        docs.filter(col("split") === "test"),
        docs.filter(col("split") =!= "test"),
        "doc_id", "text")
        .select(col("id").as("doc_id"), col("avg_neg_logprob"),
          col("n_bigrams"))
    },

    // CCNet's head/middle/tail: the held-out docs bucketed into
    // perplexity terciles of the corpus-trained bigram LM (head = most
    // fluent third — the split CCNet keeps preferentially). Composes
    // the oracled bigram chain with the no-global-window ntile
    "q_ccnet_buckets" -> { (s, dir) =>
      val docs = graft.operators.Sampling
        .split(table(s, dir, "documents"), col("doc_id"), 12, 2)
      val scored = TextAnalysis.bigramLogProb(
        docs.filter(col("split") === "test"),
        docs.filter(col("split") =!= "test"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("avg_neg_logprob"))
      graft.operators.Stats
        .distributedNtile(scored, "avg_neg_logprob", "doc_id", 3)
        .withColumn("ppl_bucket",
          when(col("tile") === 1, "head")
            .when(col("tile") === 2, "middle").otherwise("tail"))
        .select(col("doc_id"), col("avg_neg_logprob"), col("ppl_bucket"))
    },

    "q_unigram_logprob" -> { (s, dir) =>
      TextAnalysis.unigramLogProb(table(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("avg_neg_logprob"), col("n_tokens"))
    },
    // interpolated Kneser-Ney BIGRAM LM quality score (round 13): the
    // CCNet-style perplexity filter — self-trained here (corpus ==
    // scored docs), model = three distributed count tables + one
    // scalar, scoring = three equi-joins + one doc-keyed agg
    "q_bigram_kn_score" -> { (s, dir) =>
      val docs = table(s, dir, "documents")
        .withColumn("text", coalesce(col("text"), lit("")))
      graft.operators.NgramLm.bigramKnScores(docs, docs, "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_bigrams"), col("avg_logp"))
    },
    // the persisted-model lifecycle (round 13): the reference-corpus
    // model's three count tables live as BUCKETED tables keyed on
    // their scoring-join keys (big on (w1,w2), ctx on w1, cont on w2 —
    // the CCNet deployment shape: train the LM once on the reference
    // corpus, score every ingest batch against the STORED counts);
    // the model scalar T recomputes from the stored bigram table with
    // one aggregate, never a driver-side vocabulary
    "q_bigram_kn_incremental_persisted" -> { (s, dir) =>
      val docs = graft.operators.Sampling.split(
        table(s, dir, "documents")
          .withColumn("text", coalesce(col("text"), lit(""))),
        col("doc_id"), 12, 2)
      val corpus = docs.filter(col("split") =!= "test")
      val batch = docs.filter(col("split") === "test")
      // pin the bigram counts once (ctx/cont derive from big — without
      // the pin each write re-runs the corpus tokenize+count shuffle),
      // then overlap the three independent writes (guide §2.6)
      val (big, ctx, cont) = graft.operators.NgramLm
        .bigramModel(corpus, "doc_id", "text", pin = true)
      import graft.sources.Sinks.BucketedWrite
      graft.sources.Sinks.writeBucketedAll(Seq(
        BucketedWrite(big, "graft_kn_big", Seq("w1", "w2"), 8),
        BucketedWrite(ctx, "graft_kn_ctx", Seq("w1"), 8),
        BucketedWrite(cont, "graft_kn_cont", Seq("w2"), 8)))
      val sBig = s.table("graft_kn_big")
      val t = sBig.count()
      graft.operators.NgramLm.scoreWithModel(batch, sBig,
          s.table("graft_kn_ctx"), s.table("graft_kn_cont"), t,
          "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_bigrams"), col("avg_logp"))
    },
    // order-3 interpolated KN (round 14): the first rung of the
    // order-n ladder toward the deployed 5-gram CCNet shape — one
    // count table per order (lower orders are KenLM-style adjusted
    // continuation counts, each ONE aggregation over the order above),
    // scoring = five equi-joins + the chained interpolation
    "q_trigram_kn_score" -> { (s, dir) =>
      val docs = table(s, dir, "documents")
        .withColumn("text", coalesce(col("text"), lit("")))
      graft.operators.NgramLm.knScores(docs, docs, "doc_id", "text", n = 3)
        .select(col("id").as("doc_id"),
          col("n_ngrams").as("n_trigrams"), col("avg_logp"))
    },
    // order-5 interpolated KN (round 14): the deployed CCNet filter's
    // order — four backoff levels chained through nine equi-joins, the
    // same table-per-order model (no vocabulary ever reaches the
    // driver; the one scalar is T = |order-2 types|)
    "q_fivegram_kn_score" -> { (s, dir) =>
      val docs = table(s, dir, "documents")
        .withColumn("text", coalesce(col("text"), lit("")))
      graft.operators.NgramLm.knScores(docs, docs, "doc_id", "text", n = 5)
        .select(col("id").as("doc_id"),
          col("n_ngrams").as("n_fivegrams"), col("avg_logp"))
    },
    // the DEPLOYED CCNet shape end-to-end (round 14): a 5-gram KN LM
    // trained on the reference split scores the held-out docs, which
    // bucket into perplexity terciles (head = most fluent third, the
    // split CCNet keeps preferentially) — q_ccnet_buckets upgraded
    // from the add-0.5-smoothed bigram to the real filter's order and
    // smoothing, composed with the same no-global-window ntile
    "q_ccnet_kn_buckets" -> { (s, dir) =>
      val docs = graft.operators.Sampling.split(
        table(s, dir, "documents")
          .withColumn("text", coalesce(col("text"), lit(""))),
        col("doc_id"), 12, 2)
      val scored = graft.operators.NgramLm.knScores(
          docs.filter(col("split") =!= "test"),
          docs.filter(col("split") === "test"), "doc_id", "text", n = 5)
        .select(col("id").as("doc_id"), (-col("avg_logp")).as("neg_logp"))
      graft.operators.Stats
        .distributedNtile(scored, "neg_logp", "doc_id", 3)
        .withColumn("ppl_bucket",
          when(col("tile") === 1, "head")
            .when(col("tile") === 2, "middle").otherwise("tail"))
        .select(col("doc_id"), col("neg_logp"), col("ppl_bucket"))
    },
    // fully parameterless order-5 KN (round 14): each backoff level
    // carries its OWN Chen–Goodman estimated discount
    // D_k = n1_k/(n1_k + 2·n2_k) from that order's count-of-counts —
    // four bounded aggregates (eight longs reach the driver), each
    // 6dp-anchored; the per-order estimate is what Chen & Goodman '98
    // actually prescribe (discounts differ systematically by order)
    "q_fivegram_kn_estd" -> { (s, dir) =>
      val docs = table(s, dir, "documents")
        .withColumn("text", coalesce(col("text"), lit("")))
      val counts = graft.operators.NgramLm
        .knCounts(docs, "doc_id", "text", n = 5, pin = true)
      // one driver action for all four discounts + T (was five)
      val (ds, types) = graft.operators.NgramLm.discountStats(counts, 2 to 5)
      val t = types(2)
      graft.operators.NgramLm.scoreWithKnCounts(docs, counts, t,
          "doc_id", "text", n = 5, discounts = ds)
        .select(col("id").as("doc_id"),
          col("n_ngrams").as("n_fivegrams"), col("avg_logp"))
    },
    // order-3 persisted-model lifecycle (round 14): train once on the
    // reference split, store the three count tables BUCKETED on their
    // scoring-join keys (c3 on the trigram, c2 on the pair, c1 on the
    // word), score the ingest batch against the STORED tables; T
    // recomputes from the stored order-2 table with one aggregate
    "q_trigram_kn_incremental_persisted" -> { (s, dir) =>
      val docs = graft.operators.Sampling.split(
        table(s, dir, "documents")
          .withColumn("text", coalesce(col("text"), lit(""))),
        col("doc_id"), 12, 2)
      val corpus = docs.filter(col("split") =!= "test")
      val batch = docs.filter(col("split") === "test")
      // pin = true: each lower order derives from the order above, so
      // the three writes below would otherwise re-run the corpus
      // explode+count chain once per table (m(1)'s write re-aggregating
      // 3 → 2 → 1); pinned, each write scans materialized blocks — and
      // the three independent writes overlap (guide §2.6)
      val m = graft.operators.NgramLm.knCounts(corpus, "doc_id", "text",
        n = 3, pin = true)
      import graft.sources.Sinks.BucketedWrite
      graft.sources.Sinks.writeBucketedAll(Seq(
        BucketedWrite(m(3), "graft_kn3_c3", Seq("w1", "w2", "w3"), 8),
        BucketedWrite(m(2), "graft_kn3_c2", Seq("w1", "w2"), 8),
        BucketedWrite(m(1), "graft_kn3_c1", Seq("w1"), 8)))
      val stored = Map(3 -> s.table("graft_kn3_c3"),
        2 -> s.table("graft_kn3_c2"), 1 -> s.table("graft_kn3_c1"))
      val t = stored(2).count()
      graft.operators.NgramLm.scoreWithKnCounts(batch, stored, t,
          "doc_id", "text", n = 3)
        .select(col("id").as("doc_id"),
          col("n_ngrams").as("n_trigrams"), col("avg_logp"))
    },
    // parameterless bigram KN (round 14): the absolute discount is no
    // longer a fixed 0.75 but the Chen–Goodman estimate
    // D = n1/(n1+2·n2) from the bigram count-of-counts — one bounded
    // aggregate (two longs reach the driver), 6dp-anchored so the
    // oracle's CTE rebuilds the identical literal
    "q_bigram_kn_estd" -> { (s, dir) =>
      val docs = table(s, dir, "documents")
        .withColumn("text", coalesce(col("text"), lit("")))
      // pinned counts (eager localCheckpoint, not cache() — the
      // cache-lifecycle sweep): four consumers (discount estimate, T,
      // scoring joins) each re-read blocks instead of re-aggregating
      val counts = graft.operators.NgramLm
        .knCounts(docs, "doc_id", "text", n = 2, pin = true)
      // one driver action for the discount + T (was two)
      val (dm, types) = graft.operators.NgramLm.discountStats(counts, Seq(2))
      val d = dm(2)
      val t = types(2)
      graft.operators.NgramLm.scoreWithKnCounts(docs, counts, t,
          "doc_id", "text", n = 2, discounts = _ => d)
        .select(col("id").as("doc_id"),
          col("n_ngrams").as("n_bigrams"), col("avg_logp"))
    },
    // KenLM-style minimum-count pruning (round 15): the 100 TB
    // load-shed for the 5-gram model — orders 4 and 5 drop their
    // singleton entries (θ=1; 95-98% of types on this corpus, the
    // web-scale Good–Turing shape) from STORAGE while every smoothing
    // statistic (adjusted lower orders, per-order estimated discounts,
    // context rollups, T) is taken BEFORE pruning, and the pruned
    // entries' discounted mass flows to the backoff through the
    // stored (ptot, pn) integers — Heafield et al. 2013 §pruning
    "q_fivegram_kn_pruned" -> { (s, dir) =>
      val docs = table(s, dir, "documents")
        .withColumn("text", coalesce(col("text"), lit("")))
      val model = graft.operators.NgramLm.knCountsPruned(docs,
        "doc_id", "text", n = 5, thresholds = k => if (k >= 4) 1L else 0L)
      graft.operators.NgramLm.scoreWithPrunedModel(docs, model,
          "doc_id", "text", n = 5)
        .select(col("id").as("doc_id"),
          col("n_ngrams").as("n_fivegrams"), col("avg_logp"))
    },
    // ...and the pruned model's PERSISTED lifecycle — the artifact the
    // pruning exists to shrink: the 9 pruned count/rollup tables store
    // BUCKETED on their scoring-join keys, the 4 per-order discounts
    // (which can no longer re-derive — they came from the unpruned
    // count-of-counts) store as a 4-row table, T recomputes from the
    // stored (unpruned) order-2 table, and the ingest batch scores
    // against the STORED model end to end
    "q_fivegram_kn_pruned_persisted" -> { (s, dir) =>
      val docs = graft.operators.Sampling.split(
        table(s, dir, "documents")
          .withColumn("text", coalesce(col("text"), lit(""))),
        col("doc_id"), 12, 2)
      val corpus = docs.filter(col("split") =!= "test")
      val batch = docs.filter(col("split") === "test")
      val m = graft.operators.NgramLm.knCountsPruned(corpus,
        "doc_id", "text", n = 5, thresholds = k => if (k >= 4) 1L else 0L)
      import s.implicits._
      import graft.sources.Sinks.BucketedWrite
      // all ten writes derive from the PINNED unpruned ladder (grams =
      // filters, ctxs = one agg each over checkpointed blocks) and are
      // mutually independent — overlap them (guide §2.6); each goes
      // through writeBucketed for its true-replace semantics (a plain
      // saveAsTable hits LOCATION_ALREADY_EXISTS when a previous JVM
      // left the warehouse dir behind)
      graft.sources.Sinks.writeBucketedAll(
        (1 to 5).map(k => BucketedWrite(m.grams(k), s"graft_kn5p_g$k",
          (1 to k).map(j => s"w$j"), 8)) ++
        (2 to 5).map(k => BucketedWrite(m.ctxs(k), s"graft_kn5p_x$k",
          (1 until k).map(j => s"w$j"), 8)) :+
        BucketedWrite(m.discounts.toSeq.sortBy(_._1).toDF("ord", "d"),
          "graft_kn5p_d", Seq("ord"), 1))
      val stored = graft.operators.NgramLm.PrunedKnModel(
        (1 to 5).map(k => k -> s.table(s"graft_kn5p_g$k")).toMap,
        (2 to 5).map(k => k -> s.table(s"graft_kn5p_x$k")).toMap,
        s.table("graft_kn5p_d").collect()
          .map(r => r.getInt(0) -> r.getDouble(1)).toMap,
        s.table("graft_kn5p_g2").count())
      graft.operators.NgramLm.scoreWithPrunedModel(batch, stored,
          "doc_id", "text", n = 5)
        .select(col("id").as("doc_id"),
          col("n_ngrams").as("n_fivegrams"), col("avg_logp"))
    },
    // ...and the stored-model-size audit the pruning exists FOR: per
    // order, raw vs kept type counts — raw = Σnf over the UNPRUNED
    // rollup, pruned = Σpn, so the reduction is itself a verified
    // number, not a probe note (4 bounded aggregates)
    "q_kn_pruned_size" -> { (s, dir) =>
      val docs = table(s, dir, "documents")
        .withColumn("text", coalesce(col("text"), lit("")))
      val model = graft.operators.NgramLm.knCountsPruned(docs,
        "doc_id", "text", n = 5, thresholds = k => if (k >= 4) 1L else 0L)
      (2 to 5).map { k =>
        model.ctxs(k)
          .agg(sum(col("nf")).as("raw_types"), sum(col("pn")).as("pn"))
          .select(lit(k).as("ord"), col("raw_types"),
            (col("raw_types") - col("pn")).as("kept_types"),
            col("pn").as("pruned_types"),
            (floor(col("pn").cast("double") / col("raw_types") * 1e6 + 0.5)
              / 1e6).as("pruned_frac"))
      }.reduce(_ unionAll _)
    },
    "q_seq_packing" -> { (s, dir) =>
      TextAnalysis.packSequences(table(s, dir, "documents"), "doc_id", "text",
        "source", capacity = 512L)
    },
    // best-fit-decreasing packing (round 15): per (source, md5-shard)
    // cell, longest docs place first into the tightest fitting chunk —
    // the Krell et al. 2021 upgrade that recovers next-fit's padding
    // waste; shards = 4 exercises the 100 TB cell-bounding knob
    "q_seq_packing_bfd" -> { (s, dir) =>
      TextAnalysis.packSequencesBestFit(table(s, dir, "documents"),
        "doc_id", "text", "source", capacity = 512L, shards = 4)
    },
    // ...and the measured comparison the upgrade exists FOR: per
    // method, chunks provisioned, padding (unused capacity) and
    // overflow (tokens past capacity a trainer would truncate —
    // next-fit's boundary-straddling docs; BFD only overflows on
    // oversized docs), efficiency = usable tokens / provisioned slots
    "q_seq_packing_efficiency" -> { (s, dir) =>
      val docs = table(s, dir, "documents")
      def rollup(perChunk: DataFrame, method: String): DataFrame =
        perChunk
          .agg(count(lit(1)).as("n_chunks"), sum(col("tk")).as("sum_tokens"),
            sum(greatest(lit(512L) - col("tk"), lit(0L))).as("padding"),
            sum(greatest(col("tk") - lit(512L), lit(0L))).as("overflow"))
          .select(lit(method).as("method"), col("n_chunks"),
            col("sum_tokens"), col("padding"), col("overflow"),
            (floor((col("sum_tokens") - col("overflow")).cast("double")
              / (col("n_chunks") * lit(512L)).cast("double") * 1e6 + 0.5)
              / 1e6).as("efficiency"))
      val greedy = TextAnalysis.packSequences(docs, "doc_id", "text",
          "source", capacity = 512L)
        .groupBy(col("source"), col("chunk_id"))
        .agg(sum(col("n_tokens")).as("tk"))
      val bfd = TextAnalysis.packSequencesBestFit(docs, "doc_id", "text",
          "source", capacity = 512L, shards = 4)
        .groupBy(col("source"), col("shard"), col("chunk_id"))
        .agg(sum(col("n_tokens")).as("tk"))
      rollup(greedy, "greedy").unionAll(rollup(bfd, "bfd"))
    },
    // sliding-window chunker: 64-token chunks, stride 32 (50% overlap)
    "q_chunk_documents" -> { (s, dir) =>
      TextAnalysis.chunkDocuments(table(s, dir, "documents"),
        "doc_id", "text", chunkSize = 64, stride = 32)
    },
    // vocabulary-coverage audit: top-20 corpus vocab, per-doc OOV rate
    "q_vocab_coverage" -> { (s, dir) =>
      TextAnalysis.vocabCoverage(table(s, dir, "documents"),
        "doc_id", "text", topN = 20)
    },
    // HTML text extraction over deterministically-synthesized markup
    // (the synthUrls pattern): script/style/comment blocks dropped
    // wholesale, tags stripped, entities decoded — one codegen'd
    // projection
    "q_strip_html" -> { (s, dir) =>
      val html = table(s, dir, "documents").withColumn("html",
        concat(
          lit("<html><head><script type=\"text/javascript\">var x = 1 && 2;</script>"),
          lit("<style>p { color: red }</style></head><body><!-- nav bar -->"),
          lit("<h1 class=\"t\">"), upper(col("lang")), lit("</h1><p id=\"m\">"),
          col("text"),
          lit(" &amp; more &lt;tokens&gt;&nbsp;end.</p><div>src: "),
          col("source"), lit("</div></body></html>")))
      html.select(col("doc_id"),
          TextAnalysis.stripHtml(col("html")).as("text_extracted"))
        .withColumn("n_chars_extracted",
          length(col("text_extracted")).cast("long"))
    },
    // sentence-boundary-aware RAG chunker: greedy ≤24-token packs that
    // never split a sentence (the synthetic docs are single-sentence-ish,
    // so a small cap exercises both merge and reset paths)
    "q_chunk_sentences" -> { (s, dir) =>
      val sentenced = table(s, dir, "documents").withColumn("text_s",
        regexp_replace(col("text"), "(\\S+ \\S+ \\S+ \\S+ \\S+) ", "$1. "))
      TextAnalysis.chunkBySentences(sentenced, "doc_id", "text_s",
        maxTokens = 24)
    },
    // PII scrub audit over the one table with digit-bearing payloads
    // (events.props JSON) — per-type redaction counts + masked shape
    // URL canonicalization: synthetic-but-messy URLs (case noise,
    // userinfo, ports, tracking params, fragments, trailing slashes —
    // deterministic functions of doc_id/source, replayed by the
    // oracle) collapse to canonical form + registered domain
    "q_url_normalize" -> { (s, dir) =>
      TextAnalysis.normalizeUrls(synthUrls(s, dir), "url")
        .select(col("doc_id"), col("url_norm"), col("host"),
          col("registered_domain"))
    },
    // text canonicalization: decomposed combining marks (é as
    // e+U+0301, Å as A+U+030A — planted deterministically), case
    // noise, and ragged whitespace all collapse to one canonical form;
    // the native nfc_normalize expression matches DuckDB's
    // nfc_normalize for full value equality
    "q_text_normalize" -> { (s, dir) =>
      val messy = table(s, dir, "documents").withColumn("raw",
        concat(substring(col("text"), 1, 40), lit("  Cafe\u0301 \t"),
          upper(col("lang")), lit(" A\u030A")))
      TextAnalysis.normalizeText(messy, "raw")
        .select(col("doc_id"), col("text_norm"),
          length(col("text_norm")).as("n_chars_norm"))
    },
    // per-domain document cap (the RefinedWeb anti-SEO-flood move):
    // canonicalize URLs, then keep at most 30 docs per registered
    // domain by deterministic lowest-md5 membership
    // (Sampling.bottomKPerGroup); kept_id_sum pins WHICH rows survived
    "q_domain_cap" -> { (s, dir) =>
      val withDom = TextAnalysis.normalizeUrls(synthUrls(s, dir), "url")
      val capped = graft.operators.Sampling.bottomKPerGroup(
        withDom, col("registered_domain"), col("doc_id"), 30)
      withDom.groupBy(col("registered_domain"))
        .agg(count(lit(1)).as("n_docs"))
        .join(capped.groupBy(col("registered_domain"))
            .agg(count(lit(1)).as("n_kept"),
              sum(col("doc_id")).as("kept_id_sum")),
          Seq("registered_domain"))
    },
    "q_pii_mask" -> { (s, dir) =>
      graft.sources.Sources.events(s, dir)
        .select(col("event_type"),
          TextAnalysis.maskPii(col("props")).as("masked"),
          TextAnalysis.piiSpanCount(col("props")).as("spans"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("spans")).as("n_spans"),
          sum(length(col("masked"))).as("masked_len"),
          countDistinct(col("masked")).as("n_distinct_masked"))
    },
    // encoding-damage screen: the synthetic corpus is clean ASCII, so
    // every 5th doc gets a known mojibake tail injected IN THE QUERY
    // (Ã© Â° double-decode pairs, a U+FFFD, two C1 controls) — the
    // detector must flag exactly those docs and count exactly those
    // artifacts, with everything else scoring a hard zero
    "q_encoding_damage" -> { (s, dir) =>
      val tail = " \u00C3\u00A9\u00C2\u00B0\uFFFD\u00E2\u0080\u0099"
      TextAnalysis.encodingDamageStats(
        table(s, dir, "documents")
          .withColumn("__t", coalesce(col("text"), lit("")))
          .withColumn("text2",
            when(col("doc_id") % 5 === 0, concat(col("__t"), lit(tail)))
              .otherwise(col("__t"))),
        "doc_id", "text2")
    },
  )

  /** Deterministic messy-URL synthesis shared by q_url_normalize /
    * q_domain_cap (the oracle replays the same CASE). */
  private def synthUrls(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents").withColumn("url",
      when(col("doc_id") % 4 === 0,
        concat(lit("https://www."), col("source"),
          lit(".Example.COM/a/b/?utm_source=feed&z=9&a=1")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("HTTP://"), col("source"), lit(".example.co.uk:8080/path/"),
          (col("doc_id") % 5).cast("string"), lit("/")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("https://user@"), col("source"),
          lit(".example.org/?fbclid=abc&q="), col("lang"), lit("#frag")))
      .otherwise(concat(lit("https://"), col("source"), lit(".example.net"))))

  /** Shared oracle CTE chain: messy-URL synthesis → parsed components
    * → normalized host/path/query/domain parts (ends at `p3`). */
  private val urlCtes: String =
    """WITH urls AS (
      |  SELECT doc_id,
      |    CASE
      |      WHEN doc_id % 4 = 0 THEN 'https://www.' || source || '.Example.COM/a/b/?utm_source=feed&z=9&a=1'
      |      WHEN doc_id % 4 = 1 THEN 'HTTP://' || source || '.example.co.uk:8080/path/' || (doc_id % 5)::VARCHAR || '/'
      |      WHEN doc_id % 4 = 2 THEN 'https://user@' || source || '.example.org/?fbclid=abc&q=' || lang || '#frag'
      |      ELSE 'https://' || source || '.example.net'
      |    END AS url
      |  FROM documents),
      |p1 AS (
      |  SELECT doc_id,
      |    -- same defensive coalesce as path0/query0: scheme-less or
      |    -- authority-less URLs must yield '' (Spark parity), not NULL
      |    coalesce(lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*):', 1)), '') AS scheme,
      |    coalesce(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '') AS auth,
      |    coalesce(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '') AS path0,
      |    -- DuckDB regexp_extract yields NULL on no-match (Spark: '')
      |    coalesce(regexp_extract(url, '\?([^#]*)', 1), '') AS query0
      |  FROM urls),
      |p2 AS (
      |  SELECT doc_id, scheme, path0, query0,
      |    regexp_replace(lower(regexp_replace(string_split(auth, '@')[-1],
      |      ':[0-9]*$', '')), '^www\.', '') AS host
      |  FROM p1),
      |p3 AS (
      |  SELECT doc_id, scheme, host,
      |    CASE WHEN regexp_replace(path0, '/+$', '') = '' THEN '/'
      |         ELSE regexp_replace(path0, '/+$', '') END AS path,
      |    -- DuckDB array_to_string([]) is NULL where Spark array_join is ''
      |    coalesce(array_to_string(list_sort(list_filter(string_split(query0, '&'),
      |      p -> p <> '' AND NOT regexp_matches(p, '^(utm_|fbclid|gclid)'))),
      |      '&'), '') AS qnorm,
      |    string_split(host, '.') AS parts
      |  FROM p2)""".stripMargin

  private val domainSql: String =
    """CASE WHEN len(parts) >= 3 AND length(parts[-1]) = 2
      |          AND parts[-2] IN ('co','com','net','org','gov','ac','edu')
      |     THEN array_to_string(parts[-3:], '.')
      |     WHEN len(parts) >= 2 THEN array_to_string(parts[-2:], '.')
      |     ELSE host END""".stripMargin

  /** Shared replay of the order-5 KN ladder with per-order pruning
    * thresholds (round 15): raw c5 and each KenLM-adjusted lower order,
    * every rollup carrying the exact pruned-mass integers (ptot = Σc,
    * pn = |types| over entries with c ≤ θ — zero at θ=0), the PRUNED
    * gram tables p5/p4, the UNPRUNED-count-of-counts discount CTEs
    * dd2..dd5, and T from the unpruned order 2 — statistics before
    * pruning, the Heafield et al. 2013 discipline the engine's
    * `knCountsPruned` implements. */
  private def kn5LadderCtes(theta5: Long, theta4: Long,
      src: String = "documents"): String = {
    def x(src: String, keys: Seq[String], th: Long): String =
      s"""SELECT ${keys.mkString(", ")}, sum(c)::BIGINT AS tot,
         |       count(*) AS nf,
         |       CAST(sum(CASE WHEN c <= $th THEN c ELSE 0 END) AS BIGINT)
         |         AS ptot,
         |       CAST(sum(CASE WHEN c <= $th THEN 1 ELSE 0 END) AS BIGINT)
         |         AS pn
         |       FROM $src GROUP BY ${keys.indices.map(_ + 1).mkString(", ")}"""
        .stripMargin
    def dd(k: Int): String =
      s"""dd$k AS (
         |  SELECT CASE WHEN n1 + 2 * n2 = 0 THEN 0.75
         |    ELSE greatest(least(
         |      floor(n1 / (n1 + 2.0 * n2) * 1e6 + 0.5) / 1e6,
         |      0.999999), 0.000001) END AS d
         |  FROM (SELECT sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n1,
         |          sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS n2
         |        FROM c$k))""".stripMargin
    s"""tk AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(coalesce(text, ''), '\\s+'),
       |      x -> x <> '') AS toks
       |  FROM $src),
       |fg AS (
       |  SELECT doc_id, toks[CAST(i AS INTEGER)] AS w1,
       |    toks[CAST(i + 1 AS INTEGER)] AS w2,
       |    toks[CAST(i + 2 AS INTEGER)] AS w3,
       |    toks[CAST(i + 3 AS INTEGER)] AS w4,
       |    toks[CAST(i + 4 AS INTEGER)] AS w5
       |  FROM (SELECT doc_id, toks,
       |          unnest(range(1, greatest(len(toks) - 3, 1))) AS i
       |        FROM tk)),
       |c5 AS (SELECT w1, w2, w3, w4, w5, count(*) AS c
       |       FROM fg GROUP BY 1, 2, 3, 4, 5),
       |x5 AS (${x("c5", Seq("w1", "w2", "w3", "w4"), theta5)}),
       |c4 AS (SELECT w2 AS w1, w3 AS w2, w4 AS w3, w5 AS w4, count(*) AS c
       |       FROM c5 GROUP BY 1, 2, 3, 4),
       |x4 AS (${x("c4", Seq("w1", "w2", "w3"), theta4)}),
       |c3 AS (SELECT w2 AS w1, w3 AS w2, w4 AS w3, count(*) AS c
       |       FROM c4 GROUP BY 1, 2, 3),
       |x3 AS (${x("c3", Seq("w1", "w2"), 0L)}),
       |c2 AS (SELECT w2 AS w1, w3 AS w2, count(*) AS c FROM c3 GROUP BY 1, 2),
       |x2 AS (${x("c2", Seq("w1"), 0L)}),
       |c1 AS (SELECT w2 AS w1, count(*) AS c FROM c2 GROUP BY 1),
       |tt AS (SELECT count(*)::DOUBLE AS t FROM c2),
       |p5 AS (SELECT * FROM c5 WHERE c > $theta5),
       |p4 AS (SELECT * FROM c4 WHERE c > $theta4),
       |${dd(2)},
       |${dd(3)},
       |${dd(4)},
       |${dd(5)}""".stripMargin
  }

  /** Shared replay of the best-fit-decreasing pack (round 15): per
    * (source, md5-shard) cell the docs walk in (n_tokens DESC, doc_id)
    * order through a recursive CTE whose state is the open-chunk
    * remaining-capacity LIST; the best fit is
    * `list_position(rems, list_min(list_filter(rems, r -> r >= n)))`
    * — the first (lowest-id) chunk holding the smallest fitting
    * remainder, exactly the engine fold's `r >= n && r < bestRem`
    * scan. Ends in `rec` (doc_id, source, shard, n_tokens, chunk_id;
    * seed rows carry doc_id NULL). NOTE: no line in this block may
    * START with a `||` list-concat — callers interpolate it into
    * templates that stripMargin AGAIN, eating one pipe. */
  private def bfdPackCtes(capacity: Int, shards: Int): String =
    s"""t AS (
       |  SELECT doc_id, source,
       |    len(list_filter(string_split_regex(text, '\\s+'),
       |      x -> x <> ''))::BIGINT AS n_tokens,
       |    CAST(('0x' || substring(md5(doc_id::VARCHAR), 1, 2)) AS INTEGER)
       |      % $shards AS shard
       |  FROM documents),
       |d AS (
       |  SELECT doc_id, source, shard, n_tokens,
       |    row_number() OVER (PARTITION BY source, shard
       |                       ORDER BY n_tokens DESC, doc_id) AS rn
       |  FROM t),
       |rec AS (
       |  SELECT source, shard, CAST(0 AS BIGINT) AS k,
       |    CAST([] AS BIGINT[]) AS rems, CAST(NULL AS BIGINT) AS doc_id,
       |    CAST(NULL AS BIGINT) AS n_tokens, CAST(NULL AS INTEGER) AS chunk_id
       |  FROM (SELECT DISTINCT source, shard FROM d)
       |  UNION ALL
       |  SELECT source, shard, k,
       |    CASE WHEN idx IS NULL THEN list_append(rems, $capacity - n_tokens)
       |         ELSE rems[1:CAST(idx AS INTEGER)-1] ||
       |           [rems[CAST(idx AS INTEGER)] - n_tokens] ||
       |           rems[CAST(idx AS INTEGER)+1:] END,
       |    doc_id, n_tokens,
       |    CAST(CASE WHEN idx IS NULL THEN len(rems) ELSE idx - 1 END
       |      AS INTEGER)
       |  FROM (
       |    SELECT d.source, d.shard, r.k + 1 AS k, r.rems, d.doc_id,
       |      d.n_tokens,
       |      list_position(r.rems,
       |        list_min(list_filter(r.rems, x -> x >= d.n_tokens))) AS idx
       |    FROM rec r JOIN d ON d.source = r.source AND d.shard = r.shard
       |      AND d.rn = r.k + 1))""".stripMargin

  /** The pruned-5-gram scoring tail off a [[kn5LadderCtes]] block:
    * `win`'s 5-gram windows left-join the pruned gram tables + the
    * pruned-mass rollups, interpolate upward with the general
    * (d·nf + (ptot − d·pn))/tot coefficient at every level (identical
    * at θ=0 where ptot = pn = 0), and roll up the integer-micro-unit
    * doc mean. A complete query body — ends with the final SELECT. */
  private def kn5PrunedScoreCtes(win: String): String =
    s"""j AS (
       |  SELECT g.doc_id,
       |    m5.c AS c5c, x5.tot AS tot5, x5.nf AS nf5,
       |      x5.ptot AS ptot5, x5.pn AS pn5,
       |    m4.c AS c4c, x4.tot AS tot4, x4.nf AS nf4,
       |      x4.ptot AS ptot4, x4.pn AS pn4,
       |    m3.c AS c3c, x3.tot AS tot3, x3.nf AS nf3,
       |      x3.ptot AS ptot3, x3.pn AS pn3,
       |    m2.c AS c2c, x2.tot AS tot2, x2.nf AS nf2,
       |      x2.ptot AS ptot2, x2.pn AS pn2,
       |    coalesce(u.c, 0) / tt.t AS p1
       |  FROM $win g
       |  LEFT JOIN p5 m5 ON g.w1 = m5.w1 AND g.w2 = m5.w2 AND g.w3 = m5.w3
       |    AND g.w4 = m5.w4 AND g.w5 = m5.w5
       |  LEFT JOIN x5 ON g.w1 = x5.w1 AND g.w2 = x5.w2 AND g.w3 = x5.w3
       |    AND g.w4 = x5.w4
       |  LEFT JOIN p4 m4 ON g.w2 = m4.w1 AND g.w3 = m4.w2 AND g.w4 = m4.w3
       |    AND g.w5 = m4.w4
       |  LEFT JOIN x4 ON g.w2 = x4.w1 AND g.w3 = x4.w2 AND g.w4 = x4.w3
       |  LEFT JOIN c3 m3 ON g.w3 = m3.w1 AND g.w4 = m3.w2 AND g.w5 = m3.w3
       |  LEFT JOIN x3 ON g.w3 = x3.w1 AND g.w4 = x3.w2
       |  LEFT JOIN c2 m2 ON g.w4 = m2.w1 AND g.w5 = m2.w2
       |  LEFT JOIN x2 ON g.w4 = x2.w1
       |  LEFT JOIN c1 u ON g.w5 = u.w1
       |  CROSS JOIN tt),
       |p2s AS (
       |  SELECT doc_id, c5c, tot5, nf5, ptot5, pn5,
       |    c4c, tot4, nf4, ptot4, pn4, c3c, tot3, nf3, ptot3, pn3,
       |    CASE WHEN tot2 IS NOT NULL THEN
       |      greatest(coalesce(c2c, 0) - dd2.d, 0.0) / tot2
       |        + (dd2.d * nf2 + (ptot2 - dd2.d * pn2)) / tot2 * p1
       |    ELSE p1 END AS p2
       |  FROM j CROSS JOIN dd2),
       |p3s AS (
       |  SELECT doc_id, c5c, tot5, nf5, ptot5, pn5,
       |    c4c, tot4, nf4, ptot4, pn4,
       |    CASE WHEN tot3 IS NOT NULL THEN
       |      greatest(coalesce(c3c, 0) - dd3.d, 0.0) / tot3
       |        + (dd3.d * nf3 + (ptot3 - dd3.d * pn3)) / tot3 * p2
       |    ELSE p2 END AS p3
       |  FROM p2s CROSS JOIN dd3),
       |p4s AS (
       |  SELECT doc_id, c5c, tot5, nf5, ptot5, pn5,
       |    CASE WHEN tot4 IS NOT NULL THEN
       |      greatest(coalesce(c4c, 0) - dd4.d, 0.0) / tot4
       |        + (dd4.d * nf4 + (ptot4 - dd4.d * pn4)) / tot4 * p3
       |    ELSE p3 END AS p4
       |  FROM p3s CROSS JOIN dd4),
       |sc AS (
       |  SELECT doc_id, floor(log10(greatest(
       |    CASE WHEN tot5 IS NOT NULL THEN
       |      greatest(coalesce(c5c, 0) - dd5.d, 0.0) / tot5
       |        + (dd5.d * nf5 + (ptot5 - dd5.d * pn5)) / tot5 * p4
       |    ELSE p4 END, 1e-12)) * 1e6 + 0.5) / 1e6 AS logp
       |  FROM p4s CROSS JOIN dd5)
       |SELECT doc_id, count(*)::BIGINT AS n_fivegrams,
       |  floor(CAST(sum(CAST(round(logp * 1e6) AS BIGINT)) AS DOUBLE)
       |    / 1e6 / count(*) * 1e6 + 0.5) / 1e6 AS avg_logp
       |FROM sc GROUP BY 1""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_seq_packing_bfd" ->
      s"""WITH RECURSIVE ${bfdPackCtes(capacity = 512, shards = 4)}
         |SELECT doc_id, source, shard, n_tokens, chunk_id
         |FROM rec WHERE doc_id IS NOT NULL""".stripMargin,
    // both packers rolled up to the provisioning decision: chunks,
    // padding, overflow (greedy's boundary-straddling docs vs BFD's
    // oversized-doc-only), usable-token efficiency
    "q_seq_packing_efficiency" ->
      s"""WITH RECURSIVE ${bfdPackCtes(capacity = 512, shards = 4)},
         |g0 AS (
         |  SELECT doc_id, source, n_tokens,
         |    floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
         |           - n_tokens) / 512.0)::INTEGER AS chunk_id
         |  FROM t),
         |gc AS (SELECT source, chunk_id, CAST(sum(n_tokens) AS BIGINT) AS tk
         |       FROM g0 GROUP BY 1, 2),
         |bc AS (SELECT source, shard, chunk_id,
         |         CAST(sum(n_tokens) AS BIGINT) AS tk
         |       FROM rec WHERE doc_id IS NOT NULL GROUP BY 1, 2, 3),
         |u AS (
         |  SELECT 'greedy' AS method, count(*)::BIGINT AS n_chunks,
         |    CAST(sum(tk) AS BIGINT) AS sum_tokens,
         |    CAST(sum(greatest(512 - tk, 0)) AS BIGINT) AS padding,
         |    CAST(sum(greatest(tk - 512, 0)) AS BIGINT) AS overflow
         |  FROM gc
         |  UNION ALL
         |  SELECT 'bfd', count(*)::BIGINT, CAST(sum(tk) AS BIGINT),
         |    CAST(sum(greatest(512 - tk, 0)) AS BIGINT),
         |    CAST(sum(greatest(tk - 512, 0)) AS BIGINT)
         |  FROM bc)
         |SELECT method, n_chunks, sum_tokens, padding, overflow,
         |  floor(CAST(sum_tokens - overflow AS DOUBLE)
         |    / CAST(n_chunks * 512 AS DOUBLE) * 1e6 + 0.5) / 1e6
         |    AS efficiency
         |FROM u""".stripMargin,
    // replays the every-5th-doc damage injection (chr codepoints ==
    // the engine's \u escapes), then the three RE2 character-class
    // scans; Spark's length() is UTF-16 units and DuckDB's is
    // codepoints, equal here because every injected char is BMP
    "q_encoding_damage" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0 THEN coalesce(text, '') || ' ' ||
         |      chr(195) || chr(169) || chr(194) || chr(176) ||
         |      chr(65533) || chr(226) || chr(128) || chr(153)
         |    ELSE coalesce(text, '') END AS t
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, length(t) AS n_chars,
         |    len(regexp_extract_all(t, chr(65533))) AS n_replacement,
         |    len(regexp_extract_all(t,
         |      '[' || chr(128) || '-' || chr(159) || ']')) AS n_c1_controls,
         |    len(regexp_extract_all(t,
         |      '[' || chr(194) || chr(195) || '][' || chr(128) || '-' ||
         |      chr(191) || ']')) AS n_mojibake_pairs
         |  FROM t)
         |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         |  CAST(n_replacement AS BIGINT) AS n_replacement,
         |  CAST(n_c1_controls AS BIGINT) AS n_c1_controls,
         |  CAST(n_mojibake_pairs AS BIGINT) AS n_mojibake_pairs,
         |  CASE WHEN n_chars = 0 THEN CAST(0.0 AS DOUBLE)
         |       ELSE floor(CAST(n_replacement + n_c1_controls +
         |         n_mojibake_pairs AS DOUBLE) * 1000.0 / n_chars
         |         * 1e6 + 0.5) / 1e6
         |  END AS damage_per_kchar
         |FROM c""".stripMargin,
    "q_text_normalize" ->
      """WITH messy AS (
        |  SELECT doc_id,
        |    substring(text, 1, 40) || '  Cafe' || chr(769) || ' ' || chr(9)
        |      || upper(lang) || ' A' || chr(778) AS raw
        |  FROM documents),
        |n AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(lower(nfc_normalize(raw)), '\s+', ' ', 'g'))
        |      AS text_norm
        |  FROM messy)
        |SELECT doc_id, text_norm, length(text_norm)::BIGINT AS n_chars_norm
        |FROM n""".stripMargin,
    "q_url_normalize" ->
      s"""$urlCtes
        |SELECT doc_id,
        |  scheme || '://' || host || path ||
        |    CASE WHEN qnorm = '' THEN '' ELSE '?' || qnorm END AS url_norm,
        |  host,
        |  $domainSql AS registered_domain
        |FROM p3""".stripMargin,
    "q_domain_cap" ->
      s"""$urlCtes,
        |d AS (SELECT doc_id, $domainSql AS registered_domain FROM p3),
        |r AS (
        |  SELECT registered_domain, doc_id,
        |    row_number() OVER (PARTITION BY registered_domain
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM d),
        |t AS (SELECT registered_domain, count(*) AS n_docs FROM d GROUP BY 1),
        |k AS (SELECT registered_domain, count(*) AS n_kept,
        |        sum(doc_id)::BIGINT AS kept_id_sum
        |      FROM r WHERE rk <= 30 GROUP BY 1)
        |SELECT t.registered_domain, n_docs, n_kept, kept_id_sum
        |FROM t JOIN k ON t.registered_domain = k.registered_domain""".stripMargin,
    "q_text_tokens" ->
      """SELECT doc_id,
        |  len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::BIGINT AS n_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::BIGINT AS n_bpe_tokens
        |FROM documents""".stripMargin,
    "q_gopher_filter" -> {
      val stopHits = graft.operators.TextAnalysis.GopherStopwords
        .map(w => s"CASE WHEN list_contains(lt, '$w') THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH t AS (
         |  SELECT doc_id, coalesce(text, '') AS txt,
         |    list_filter(string_split_regex(coalesce(text, ''), '\\s+'),
         |      x -> x <> '') AS toks,
         |    list_filter(string_split(coalesce(text, ''), chr(10)),
         |      x -> x <> '') AS lns
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, txt, toks, lns,
         |    list_transform(toks, x -> lower(x)) AS lt,
         |    len(toks)::BIGINT AS n_words, len(lns)::BIGINT AS n_lines,
         |    greatest(len(toks), 1) AS nw, greatest(len(lns), 1) AS nl
         |  FROM t),
         |m AS (
         |  SELECT doc_id, n_words, n_lines,
         |    round(coalesce(list_sum(list_transform(toks, x -> length(x))),
         |      0)::DOUBLE / nw, 6) AS mean_word_len,
         |    round(len(list_filter(toks,
         |      x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE / nw, 6)
         |      AS frac_alpha_words,
         |    round(((length(txt) - length(replace(txt, '#', ''))) +
         |      len(regexp_extract_all(txt, '\\.\\.\\.|…')))::DOUBLE / nw, 6)
         |      AS symbol_ratio,
         |    round(len(list_filter(lns, x -> x LIKE '- %' OR x LIKE '* %'
         |      OR x LIKE '• %'))::DOUBLE / nl, 6) AS frac_bullet_lines,
         |    round(len(list_filter(lns, x -> x LIKE '%...'
         |      OR x LIKE '%…'))::DOUBLE / nl, 6) AS frac_ellipsis_lines,
         |    ($stopHits)::BIGINT AS n_stop_hits
         |  FROM s)
         |SELECT doc_id, n_words, n_lines, mean_word_len, frac_alpha_words,
         |  symbol_ratio, frac_bullet_lines, frac_ellipsis_lines, n_stop_hits,
         |  CASE WHEN n_words >= 10 AND n_words <= 100000
         |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
         |    AND frac_alpha_words >= 0.8 AND symbol_ratio <= 0.1
         |    AND frac_bullet_lines <= 0.9 AND frac_ellipsis_lines <= 0.3
         |    AND n_stop_hits >= 2 THEN 1 ELSE 0 END AS keep
         |FROM m""".stripMargin
    },
    "q_text_quality" ->
      s"""WITH t AS (
         |  SELECT doc_id, text,
         |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
         |  FROM documents)
         |SELECT doc_id,
         |  length(text)::BIGINT AS n_chars_calc,
         |  len(toks)::BIGINT AS n_tokens,
         |  round(coalesce(list_sum(list_transform(toks, x -> length(x))), 0)::DOUBLE
         |        / greatest(len(toks), 1), 6) AS avg_token_len,
         |  round(len(list_filter(toks, x -> x IN ($stopList)))::DOUBLE
         |        / greatest(len(toks), 1), 6) AS stopword_ratio,
         |  round(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))::DOUBLE
         |        / greatest(length(text), 1), 6) AS alnum_ratio
         |FROM t""".stripMargin,
    // features + |langs| unrolled GD trajectories + argmax, generated
    // by langIdTrainedOracle — parameters must match the query exactly
    "q_lang_id_trained" ->
      langIdTrainedOracle(LangIdLangs, steps = 2, lr = 10.0, dim = 32),
    // the multinomial trajectory unrolled with one shared softmax
    // denominator per row per step — parameters must match the query
    "q_lang_id_softmax" ->
      langIdSoftmaxOracle(LangIdLangs, steps = 2, lr = 10.0, dim = 32),
    "q_lang_id" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
         |  FROM documents),
         |c AS (
         |  SELECT doc_id,
         |    len(list_filter(toks, x -> x IN (${sqlList(TextAnalysis.StopwordsEn)}))) AS s_en,
         |    len(list_filter(toks, x -> x IN (${sqlList(TextAnalysis.StopwordsDe)}))) AS s_de,
         |    len(list_filter(toks, x -> x IN (${sqlList(TextAnalysis.StopwordsFr)}))) AS s_fr,
         |    len(list_filter(toks, x -> x IN (${sqlList(TextAnalysis.StopwordsEs)}))) AS s_es
         |  FROM t)
         |SELECT doc_id,
         |  CASE WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'und'
         |       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
         |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
         |       WHEN s_fr >= s_es THEN 'fr'
         |       ELSE 'es' END AS lang_pred
         |FROM c""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp_md5,
        |  list_reduce(
        |    list_prepend(0::BIGINT, list_transform(string_split(text, ''), x -> unicode(x)::BIGINT)),
        |    (h, c) -> (h * 31 + c) % 1000000007)::BIGINT AS fp_roll
        |FROM documents""".stripMargin,
    "q_tfidf" ->
      """WITH tf AS (
        |  SELECT doc_id, term, count(1) AS tf
        |  FROM (SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'),
        |          x -> x <> '')) AS term
        |        FROM documents)
        |  GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(1)::DOUBLE AS n FROM documents)
        |SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |  round(tf.tf * ln(n.n / df.df), 6) AS tfidf
        |FROM tf JOIN df USING (term) CROSS JOIN n""".stripMargin,
    // same integer weights as the engine: round(round(tfidf,6)*1e6)
    // with corpus-only idf/df stats — dot/norm sums are exact integer
    // arithmetic on both sides, so the cosines are identical doubles
    "q_tfidf_cosine_incremental" ->
      """WITH b AS (
        |  SELECT doc_id, text,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) AS INTEGER) AS bkt
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, bkt, term, count(1) AS tf
        |  FROM (SELECT doc_id, bkt,
        |          unnest(list_filter(string_split_regex(text, '\s+'),
        |            x -> x <> '')) AS term
        |        FROM b)
        |  GROUP BY 1, 2, 3),
        |nc AS (SELECT count(1)::DOUBLE AS n FROM b WHERE bkt < 14),
        |dfx AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf
        |        WHERE bkt < 14 GROUP BY term
        |        HAVING count(DISTINCT doc_id) <=
        |          (SELECT count(1) FROM b WHERE bkt < 14) // 2),
        |w AS (SELECT tf.doc_id, tf.bkt, tf.term,
        |        round(round(tf.tf * ln(nc.n / dfx.df), 6) * 1e6)::BIGINT AS w
        |      FROM tf JOIN dfx USING (term) CROSS JOIN nc),
        |nb AS (SELECT doc_id, sum(w * w) AS n2 FROM w WHERE bkt >= 14
        |       GROUP BY doc_id),
        |ncorp AS (SELECT doc_id, sum(w * w) AS n2 FROM w WHERE bkt < 14
        |          GROUP BY doc_id),
        |prods AS (SELECT wa.doc_id AS batch_id, wb.doc_id AS corpus_id,
        |            sum(wa.w * wb.w) AS dot
        |          FROM w wa JOIN w wb ON wa.term = wb.term
        |            AND wa.bkt >= 14 AND wb.bkt < 14
        |            AND wa.doc_id <> wb.doc_id
        |          GROUP BY 1, 2)
        |SELECT p.batch_id, p.corpus_id,
        |  round(p.dot::DOUBLE / sqrt(na.n2::DOUBLE * nb2.n2::DOUBLE), 6) AS cos
        |FROM prods p
        |JOIN nb na ON p.batch_id = na.doc_id
        |JOIN ncorp nb2 ON p.corpus_id = nb2.doc_id
        |WHERE p.dot::DOUBLE / sqrt(na.n2::DOUBLE * nb2.n2::DOUBLE) >= 0.9""".stripMargin,
    "q_inverted_index" ->
      """WITH tf AS (
        |  SELECT doc_id, term, count(1) AS tf
        |  FROM (SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'),
        |          x -> x <> '')) AS term
        |        FROM documents)
        |  GROUP BY 1, 2)
        |SELECT term, count(DISTINCT doc_id) AS df,
        |  CAST(sum(tf) AS BIGINT) AS total_tf, min(doc_id) AS first_id
        |FROM tf GROUP BY term""".stripMargin,
    // same statistics and float expression order as the engine:
    "q_blocklist_filter" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(coalesce(text, ''), '\s+'),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, len(toks)::BIGINT AS n_tokens,
        |    len(list_filter(toks,
        |      x -> list_contains(['dup', 'noise', 'vector'], lower(x))))::BIGINT
        |      AS n_blocked
        |  FROM t),
        |f AS (
        |  SELECT doc_id, n_tokens, n_blocked,
        |    n_blocked::DOUBLE / greatest(n_tokens, 1) AS raw_frac
        |  FROM s)
        |SELECT doc_id, n_tokens, n_blocked,
        |  round(raw_frac, 6) AS blocked_frac,
        |  (raw_frac <= 0.05)::INTEGER AS keep
        |FROM f""".stripMargin,
    // idf = ln((N - df + 0.5)/(df + 0.5) + 1), per-doc sum in sorted
    // term order (list(s ORDER BY w) -> sequential list_sum)
    "q_bm25_score" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |dls AS (SELECT doc_id, len(toks)::DOUBLE AS dl FROM tk),
        |stats AS (SELECT count(1)::DOUBLE AS n, avg(dl) AS avgdl FROM dls),
        |tf AS (
        |  SELECT doc_id, w, count(1)::DOUBLE AS tf
        |  FROM (SELECT doc_id, unnest(toks) AS w FROM tk)
        |  WHERE w IN ('vector', 'hash', 'stream', 'dup')
        |  GROUP BY 1, 2),
        |dfq AS (SELECT w, count(1)::DOUBLE AS df FROM tf GROUP BY w),
        |s AS (
        |  SELECT tf.doc_id, tf.w,
        |    ln((stats.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1) * tf.tf * 2.2 /
        |      (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dls.dl / stats.avgdl)) AS s
        |  FROM tf
        |  JOIN dfq USING (w)
        |  JOIN dls USING (doc_id)
        |  CROSS JOIN stats)
        |SELECT doc_id, round(list_sum(list(s ORDER BY w)), 6) AS bm25,
        |  count(1) AS n_matched_terms
        |FROM s GROUP BY doc_id""".stripMargin,
    "q_top_ngrams" ->
      """WITH t AS (
        |  SELECT list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
        |    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS ngram
        |  FROM t)
        |SELECT ngram, count(1) AS n FROM g GROUP BY ngram
        |ORDER BY n DESC, ngram LIMIT 50""".stripMargin,
    "q_repetition" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(coalesce(text, ''), '\s+'),
        |                x -> x <> '') AS toks
        |  FROM documents),
        |t AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(len(toks) - 1, 1)),
        |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) AS ng
        |  FROM tk)
        |SELECT doc_id,
        |  len(ng)::BIGINT AS n_ngrams,
        |  len(list_distinct(ng))::BIGINT AS n_distinct,
        |  round(CASE WHEN len(ng) > 0
        |             THEN 1.0 - len(list_distinct(ng))::DOUBLE / len(ng)
        |             ELSE 0.0 END, 6) AS rep_ratio
        |FROM t""".stripMargin,
    // winnowing: k=8 codepoint-gram dual-polynomial hashes (the native
    // WinnowFps rolling scan, replayed below in 64-bit integer SQL),
    // window-4 minima, sorted-distinct — bit-exact cross-engine
    "q_winnow_fingerprint" ->
      s"""WITH ${winnowPolyCtes(8, 4)}
         |SELECT doc_id, unnest(fps) AS fp FROM f""".stripMargin,
    // bigram LM: pair stream replayed via two parallel unnests (DuckDB
    // zips equal-length lists); smoothing arithmetic is pure doubles,
    // rounded at 6 like the unigram twin
    "q_bigram_logprob" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(coalesce(text, ''), '\s+'),
        |                x -> x <> '') AS t,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 1))
        |         AS INTEGER) AS bkt
        |  FROM documents),
        |cp AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
        |    unnest(list_transform(range(1, len(t)), i -> t[i + 1])) AS w2
        |  FROM d WHERE bkt < 14 AND len(t) >= 2),
        |c2 AS (SELECT w1, w2, count(1) AS c2 FROM cp GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(1) AS c1 FROM cp GROUP BY 1),
        |v AS (SELECT count(DISTINCT w)::DOUBLE AS v FROM
        |        (SELECT unnest(t) AS w FROM d WHERE bkt < 14)),
        |tp AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
        |    unnest(list_transform(range(1, len(t)), i -> t[i + 1])) AS w2
        |  FROM d WHERE bkt >= 14 AND len(t) >= 2),
        |j AS (
        |  SELECT tp.doc_id,
        |    -ln((coalesce(c2.c2, 0) + 0.5) / (coalesce(c1.c1, 0) + 0.5 * v.v))
        |      AS nlp
        |  FROM tp LEFT JOIN c2 USING (w1, w2) LEFT JOIN c1 USING (w1)
        |  CROSS JOIN v)
        |SELECT doc_id, round(avg(nlp), 6) AS avg_neg_logprob,
        |  count(1)::BIGINT AS n_bigrams
        |FROM j GROUP BY doc_id""".stripMargin,
    // the bigram chain + SQL ntile(3): DuckDB ntile and the engine's
    // distributedNtile share the first-(n mod k)-tiles-larger formula,
    // and ranking is on the 6dp-ROUNDED score with doc_id ties — a
    // unique total order both engines reproduce
    "q_ccnet_buckets" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(coalesce(text, ''), '\s+'),
        |                x -> x <> '') AS t,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 1))
        |         AS INTEGER) AS bkt
        |  FROM documents),
        |cp AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
        |    unnest(list_transform(range(1, len(t)), i -> t[i + 1])) AS w2
        |  FROM d WHERE bkt < 14 AND len(t) >= 2),
        |c2 AS (SELECT w1, w2, count(1) AS c2 FROM cp GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(1) AS c1 FROM cp GROUP BY 1),
        |v AS (SELECT count(DISTINCT w)::DOUBLE AS v FROM
        |        (SELECT unnest(t) AS w FROM d WHERE bkt < 14)),
        |tp AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
        |    unnest(list_transform(range(1, len(t)), i -> t[i + 1])) AS w2
        |  FROM d WHERE bkt >= 14 AND len(t) >= 2),
        |j AS (
        |  SELECT tp.doc_id,
        |    -ln((coalesce(c2.c2, 0) + 0.5) / (coalesce(c1.c1, 0) + 0.5 * v.v))
        |      AS nlp
        |  FROM tp LEFT JOIN c2 USING (w1, w2) LEFT JOIN c1 USING (w1)
        |  CROSS JOIN v),
        |sc AS (
        |  SELECT doc_id, round(avg(nlp), 6) AS avg_neg_logprob
        |  FROM j GROUP BY doc_id),
        |nt AS (
        |  SELECT doc_id, avg_neg_logprob,
        |    ntile(3) OVER (ORDER BY avg_neg_logprob, doc_id) AS tile
        |  FROM sc)
        |SELECT doc_id, avg_neg_logprob,
        |  CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
        |    ELSE 'tail' END AS ppl_bucket
        |FROM nt""".stripMargin,
    "q_unigram_logprob" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS w
        |  FROM documents),
        |freq AS (SELECT w, count(1) AS c FROM tok GROUP BY w),
        |tot AS (SELECT sum(c)::DOUBLE AS t FROM freq)
        |SELECT doc_id, round(avg(-ln(c / t)), 6) AS avg_neg_logprob,
        |  count(1) AS n_tokens
        |FROM tok JOIN freq USING (w) CROSS JOIN tot
        |GROUP BY doc_id""".stripMargin,
    // KN bigram replay: identical splits, exact integer counts, the
    // interpolation formula in the engine's left-to-right operation
    // order, per-bigram log10 anchored floor(x·1e6+0.5)/1e6 then the
    // doc mean anchored again; the 1e-12 probability floor IS the
    // deterministic OOV penalty (documented at NgramLm)
    "q_bigram_kn_score" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(coalesce(text, ''), '\s+'),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, toks[CAST(i AS INTEGER)] AS w1,
        |    toks[CAST(i + 1 AS INTEGER)] AS w2
        |  FROM (SELECT doc_id, toks,
        |          unnest(range(1, greatest(len(toks), 1))) AS i
        |        FROM tk)),
        |big AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
        |ctx AS (SELECT w1, sum(c12)::BIGINT AS c1, count(*) AS nf
        |        FROM big GROUP BY 1),
        |cont AS (SELECT w2, count(*) AS nb FROM big GROUP BY 1),
        |tt AS (SELECT count(*)::DOUBLE AS t FROM big),
        |sc AS (
        |  SELECT b.doc_id,
        |    floor(log10(greatest(
        |      CASE WHEN ctx.c1 IS NOT NULL THEN
        |        greatest(coalesce(bigm.c12, 0) - 0.75, 0.0) / ctx.c1
        |          + 0.75 * ctx.nf / ctx.c1 * (coalesce(cont.nb, 0) / tt.t)
        |      ELSE coalesce(cont.nb, 0) / tt.t END,
        |      1e-12)) * 1e6 + 0.5) / 1e6 AS logp
        |  FROM bg b
        |  LEFT JOIN big bigm ON b.w1 = bigm.w1 AND b.w2 = bigm.w2
        |  LEFT JOIN ctx ON b.w1 = ctx.w1
        |  LEFT JOIN cont ON b.w2 = cont.w2
        |  CROSS JOIN tt)
        |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |  floor(CAST(sum(CAST(round(logp * 1e6) AS BIGINT)) AS DOUBLE)
        |    / 1e6 / count(*) * 1e6 + 0.5) / 1e6 AS avg_logp
        |FROM sc GROUP BY 1""".stripMargin,
    // persisted-model replay: identical formula, counts trained on the
    // md5-bucket corpus split (bkt < 14 — Sampling.split's convention),
    // batch docs (bkt >= 14) scored against them; parquet round-trips
    // integer counts exactly, so persistence cannot change values
    "q_bigram_kn_incremental_persisted" ->
      """WITH src AS (
        |  SELECT doc_id, coalesce(text, '') AS text,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 1))
        |      AS INTEGER) AS bkt
        |  FROM documents),
        |tk AS (
        |  SELECT doc_id, bkt,
        |    list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '') AS toks
        |  FROM src),
        |bg AS (
        |  SELECT doc_id, bkt, toks[CAST(i AS INTEGER)] AS w1,
        |    toks[CAST(i + 1 AS INTEGER)] AS w2
        |  FROM (SELECT doc_id, bkt, toks,
        |          unnest(range(1, greatest(len(toks), 1))) AS i
        |        FROM tk)),
        |big AS (SELECT w1, w2, count(*) AS c12 FROM bg
        |        WHERE bkt < 14 GROUP BY 1, 2),
        |ctx AS (SELECT w1, sum(c12)::BIGINT AS c1, count(*) AS nf
        |        FROM big GROUP BY 1),
        |cont AS (SELECT w2, count(*) AS nb FROM big GROUP BY 1),
        |tt AS (SELECT count(*)::DOUBLE AS t FROM big),
        |sc AS (
        |  SELECT b.doc_id,
        |    floor(log10(greatest(
        |      CASE WHEN ctx.c1 IS NOT NULL THEN
        |        greatest(coalesce(bigm.c12, 0) - 0.75, 0.0) / ctx.c1
        |          + 0.75 * ctx.nf / ctx.c1 * (coalesce(cont.nb, 0) / tt.t)
        |      ELSE coalesce(cont.nb, 0) / tt.t END,
        |      1e-12)) * 1e6 + 0.5) / 1e6 AS logp
        |  FROM bg b
        |  LEFT JOIN big bigm ON b.w1 = bigm.w1 AND b.w2 = bigm.w2
        |  LEFT JOIN ctx ON b.w1 = ctx.w1
        |  LEFT JOIN cont ON b.w2 = cont.w2
        |  CROSS JOIN tt
        |  WHERE b.bkt >= 14)
        |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |  floor(CAST(sum(CAST(round(logp * 1e6) AS BIGINT)) AS DOUBLE)
        |    / 1e6 / count(*) * 1e6 + 0.5) / 1e6 AS avg_logp
        |FROM sc GROUP BY 1""".stripMargin,
    // order-3 KN replay: raw trigram counts, then each lower order as
    // ONE group-by over the order above (the rows of counts(k+1) are
    // distinct (k+1)-grams, so counting rows by the k-suffix IS the
    // adjusted continuation count); the interpolation is staged one
    // CTE per backoff level so each P_k materializes in the engine's
    // exact operation order
    "q_trigram_kn_score" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(coalesce(text, ''), '\s+'),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |tg AS (
        |  SELECT doc_id, toks[CAST(i AS INTEGER)] AS w1,
        |    toks[CAST(i + 1 AS INTEGER)] AS w2,
        |    toks[CAST(i + 2 AS INTEGER)] AS w3
        |  FROM (SELECT doc_id, toks,
        |          unnest(range(1, greatest(len(toks) - 1, 1))) AS i
        |        FROM tk)),
        |c3 AS (SELECT w1, w2, w3, count(*) AS c FROM tg GROUP BY 1, 2, 3),
        |x3 AS (SELECT w1, w2, sum(c)::BIGINT AS tot, count(*) AS nf
        |       FROM c3 GROUP BY 1, 2),
        |c2 AS (SELECT w2 AS w1, w3 AS w2, count(*) AS c FROM c3 GROUP BY 1, 2),
        |x2 AS (SELECT w1, sum(c)::BIGINT AS tot, count(*) AS nf
        |       FROM c2 GROUP BY 1),
        |c1 AS (SELECT w2 AS w1, count(*) AS c FROM c2 GROUP BY 1),
        |tt AS (SELECT count(*)::DOUBLE AS t FROM c2),
        |j AS (
        |  SELECT g.doc_id, m3.c AS c3c, x3.tot AS tot3, x3.nf AS nf3,
        |    m2.c AS c2c, x2.tot AS tot2, x2.nf AS nf2,
        |    coalesce(u.c, 0) / tt.t AS p1
        |  FROM tg g
        |  LEFT JOIN c3 m3 ON g.w1 = m3.w1 AND g.w2 = m3.w2 AND g.w3 = m3.w3
        |  LEFT JOIN x3 ON g.w1 = x3.w1 AND g.w2 = x3.w2
        |  LEFT JOIN c2 m2 ON g.w2 = m2.w1 AND g.w3 = m2.w2
        |  LEFT JOIN x2 ON g.w2 = x2.w1
        |  LEFT JOIN c1 u ON g.w3 = u.w1
        |  CROSS JOIN tt),
        |p2s AS (
        |  SELECT doc_id, c3c, tot3, nf3,
        |    CASE WHEN tot2 IS NOT NULL THEN
        |      greatest(coalesce(c2c, 0) - 0.75, 0.0) / tot2
        |        + 0.75 * nf2 / tot2 * p1
        |    ELSE p1 END AS p2
        |  FROM j),
        |sc AS (
        |  SELECT doc_id, floor(log10(greatest(
        |    CASE WHEN tot3 IS NOT NULL THEN
        |      greatest(coalesce(c3c, 0) - 0.75, 0.0) / tot3
        |        + 0.75 * nf3 / tot3 * p2
        |    ELSE p2 END, 1e-12)) * 1e6 + 0.5) / 1e6 AS logp
        |  FROM p2s)
        |SELECT doc_id, count(*)::BIGINT AS n_trigrams,
        |  floor(CAST(sum(CAST(round(logp * 1e6) AS BIGINT)) AS DOUBLE)
        |    / 1e6 / count(*) * 1e6 + 0.5) / 1e6 AS avg_logp
        |FROM sc GROUP BY 1""".stripMargin,
    // order-5 KN replay: the same ladder, four backoff stages deep
    "q_fivegram_kn_score" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(coalesce(text, ''), '\s+'),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |fg AS (
        |  SELECT doc_id, toks[CAST(i AS INTEGER)] AS w1,
        |    toks[CAST(i + 1 AS INTEGER)] AS w2,
        |    toks[CAST(i + 2 AS INTEGER)] AS w3,
        |    toks[CAST(i + 3 AS INTEGER)] AS w4,
        |    toks[CAST(i + 4 AS INTEGER)] AS w5
        |  FROM (SELECT doc_id, toks,
        |          unnest(range(1, greatest(len(toks) - 3, 1))) AS i
        |        FROM tk)),
        |c5 AS (SELECT w1, w2, w3, w4, w5, count(*) AS c
        |       FROM fg GROUP BY 1, 2, 3, 4, 5),
        |x5 AS (SELECT w1, w2, w3, w4, sum(c)::BIGINT AS tot, count(*) AS nf
        |       FROM c5 GROUP BY 1, 2, 3, 4),
        |c4 AS (SELECT w2 AS w1, w3 AS w2, w4 AS w3, w5 AS w4, count(*) AS c
        |       FROM c5 GROUP BY 1, 2, 3, 4),
        |x4 AS (SELECT w1, w2, w3, sum(c)::BIGINT AS tot, count(*) AS nf
        |       FROM c4 GROUP BY 1, 2, 3),
        |c3 AS (SELECT w2 AS w1, w3 AS w2, w4 AS w3, count(*) AS c
        |       FROM c4 GROUP BY 1, 2, 3),
        |x3 AS (SELECT w1, w2, sum(c)::BIGINT AS tot, count(*) AS nf
        |       FROM c3 GROUP BY 1, 2),
        |c2 AS (SELECT w2 AS w1, w3 AS w2, count(*) AS c FROM c3 GROUP BY 1, 2),
        |x2 AS (SELECT w1, sum(c)::BIGINT AS tot, count(*) AS nf
        |       FROM c2 GROUP BY 1),
        |c1 AS (SELECT w2 AS w1, count(*) AS c FROM c2 GROUP BY 1),
        |tt AS (SELECT count(*)::DOUBLE AS t FROM c2),
        |j AS (
        |  SELECT g.doc_id,
        |    m5.c AS c5c, x5.tot AS tot5, x5.nf AS nf5,
        |    m4.c AS c4c, x4.tot AS tot4, x4.nf AS nf4,
        |    m3.c AS c3c, x3.tot AS tot3, x3.nf AS nf3,
        |    m2.c AS c2c, x2.tot AS tot2, x2.nf AS nf2,
        |    coalesce(u.c, 0) / tt.t AS p1
        |  FROM fg g
        |  LEFT JOIN c5 m5 ON g.w1 = m5.w1 AND g.w2 = m5.w2 AND g.w3 = m5.w3
        |    AND g.w4 = m5.w4 AND g.w5 = m5.w5
        |  LEFT JOIN x5 ON g.w1 = x5.w1 AND g.w2 = x5.w2 AND g.w3 = x5.w3
        |    AND g.w4 = x5.w4
        |  LEFT JOIN c4 m4 ON g.w2 = m4.w1 AND g.w3 = m4.w2 AND g.w4 = m4.w3
        |    AND g.w5 = m4.w4
        |  LEFT JOIN x4 ON g.w2 = x4.w1 AND g.w3 = x4.w2 AND g.w4 = x4.w3
        |  LEFT JOIN c3 m3 ON g.w3 = m3.w1 AND g.w4 = m3.w2 AND g.w5 = m3.w3
        |  LEFT JOIN x3 ON g.w3 = x3.w1 AND g.w4 = x3.w2
        |  LEFT JOIN c2 m2 ON g.w4 = m2.w1 AND g.w5 = m2.w2
        |  LEFT JOIN x2 ON g.w4 = x2.w1
        |  LEFT JOIN c1 u ON g.w5 = u.w1
        |  CROSS JOIN tt),
        |p2s AS (
        |  SELECT doc_id, c5c, tot5, nf5, c4c, tot4, nf4, c3c, tot3, nf3,
        |    CASE WHEN tot2 IS NOT NULL THEN
        |      greatest(coalesce(c2c, 0) - 0.75, 0.0) / tot2
        |        + 0.75 * nf2 / tot2 * p1
        |    ELSE p1 END AS p2
        |  FROM j),
        |p3s AS (
        |  SELECT doc_id, c5c, tot5, nf5, c4c, tot4, nf4,
        |    CASE WHEN tot3 IS NOT NULL THEN
        |      greatest(coalesce(c3c, 0) - 0.75, 0.0) / tot3
        |        + 0.75 * nf3 / tot3 * p2
        |    ELSE p2 END AS p3
        |  FROM p2s),
        |p4s AS (
        |  SELECT doc_id, c5c, tot5, nf5,
        |    CASE WHEN tot4 IS NOT NULL THEN
        |      greatest(coalesce(c4c, 0) - 0.75, 0.0) / tot4
        |        + 0.75 * nf4 / tot4 * p3
        |    ELSE p3 END AS p4
        |  FROM p3s),
        |sc AS (
        |  SELECT doc_id, floor(log10(greatest(
        |    CASE WHEN tot5 IS NOT NULL THEN
        |      greatest(coalesce(c5c, 0) - 0.75, 0.0) / tot5
        |        + 0.75 * nf5 / tot5 * p4
        |    ELSE p4 END, 1e-12)) * 1e6 + 0.5) / 1e6 AS logp
        |  FROM p4s)
        |SELECT doc_id, count(*)::BIGINT AS n_fivegrams,
        |  floor(CAST(sum(CAST(round(logp * 1e6) AS BIGINT)) AS DOUBLE)
        |    / 1e6 / count(*) * 1e6 + 0.5) / 1e6 AS avg_logp
        |FROM sc GROUP BY 1""".stripMargin,
    // the real-CCNet bucket replay: the split 5-gram ladder (bkt < 14
    // trains, >= 14 scored), the integer-micro-unit mean negated, then
    // ntile(3) on (neg_logp, doc_id) — a unique total order
    "q_ccnet_kn_buckets" ->
      """WITH src AS (
        |  SELECT doc_id, coalesce(text, '') AS text,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 1))
        |      AS INTEGER) AS bkt
        |  FROM documents),
        |tk AS (
        |  SELECT doc_id, bkt,
        |    list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '') AS toks
        |  FROM src),
        |fg AS (
        |  SELECT doc_id, bkt, toks[CAST(i AS INTEGER)] AS w1,
        |    toks[CAST(i + 1 AS INTEGER)] AS w2,
        |    toks[CAST(i + 2 AS INTEGER)] AS w3,
        |    toks[CAST(i + 3 AS INTEGER)] AS w4,
        |    toks[CAST(i + 4 AS INTEGER)] AS w5
        |  FROM (SELECT doc_id, bkt, toks,
        |          unnest(range(1, greatest(len(toks) - 3, 1))) AS i
        |        FROM tk)),
        |c5 AS (SELECT w1, w2, w3, w4, w5, count(*) AS c
        |       FROM fg WHERE bkt < 14 GROUP BY 1, 2, 3, 4, 5),
        |x5 AS (SELECT w1, w2, w3, w4, sum(c)::BIGINT AS tot, count(*) AS nf
        |       FROM c5 GROUP BY 1, 2, 3, 4),
        |c4 AS (SELECT w2 AS w1, w3 AS w2, w4 AS w3, w5 AS w4, count(*) AS c
        |       FROM c5 GROUP BY 1, 2, 3, 4),
        |x4 AS (SELECT w1, w2, w3, sum(c)::BIGINT AS tot, count(*) AS nf
        |       FROM c4 GROUP BY 1, 2, 3),
        |c3 AS (SELECT w2 AS w1, w3 AS w2, w4 AS w3, count(*) AS c
        |       FROM c4 GROUP BY 1, 2, 3),
        |x3 AS (SELECT w1, w2, sum(c)::BIGINT AS tot, count(*) AS nf
        |       FROM c3 GROUP BY 1, 2),
        |c2 AS (SELECT w2 AS w1, w3 AS w2, count(*) AS c FROM c3 GROUP BY 1, 2),
        |x2 AS (SELECT w1, sum(c)::BIGINT AS tot, count(*) AS nf
        |       FROM c2 GROUP BY 1),
        |c1 AS (SELECT w2 AS w1, count(*) AS c FROM c2 GROUP BY 1),
        |tt AS (SELECT count(*)::DOUBLE AS t FROM c2),
        |j AS (
        |  SELECT g.doc_id,
        |    m5.c AS c5c, x5.tot AS tot5, x5.nf AS nf5,
        |    m4.c AS c4c, x4.tot AS tot4, x4.nf AS nf4,
        |    m3.c AS c3c, x3.tot AS tot3, x3.nf AS nf3,
        |    m2.c AS c2c, x2.tot AS tot2, x2.nf AS nf2,
        |    coalesce(u.c, 0) / tt.t AS p1
        |  FROM fg g
        |  LEFT JOIN c5 m5 ON g.w1 = m5.w1 AND g.w2 = m5.w2 AND g.w3 = m5.w3
        |    AND g.w4 = m5.w4 AND g.w5 = m5.w5
        |  LEFT JOIN x5 ON g.w1 = x5.w1 AND g.w2 = x5.w2 AND g.w3 = x5.w3
        |    AND g.w4 = x5.w4
        |  LEFT JOIN c4 m4 ON g.w2 = m4.w1 AND g.w3 = m4.w2 AND g.w4 = m4.w3
        |    AND g.w5 = m4.w4
        |  LEFT JOIN x4 ON g.w2 = x4.w1 AND g.w3 = x4.w2 AND g.w4 = x4.w3
        |  LEFT JOIN c3 m3 ON g.w3 = m3.w1 AND g.w4 = m3.w2 AND g.w5 = m3.w3
        |  LEFT JOIN x3 ON g.w3 = x3.w1 AND g.w4 = x3.w2
        |  LEFT JOIN c2 m2 ON g.w4 = m2.w1 AND g.w5 = m2.w2
        |  LEFT JOIN x2 ON g.w4 = x2.w1
        |  LEFT JOIN c1 u ON g.w5 = u.w1
        |  CROSS JOIN tt
        |  WHERE g.bkt >= 14),
        |p2s AS (
        |  SELECT doc_id, c5c, tot5, nf5, c4c, tot4, nf4, c3c, tot3, nf3,
        |    CASE WHEN tot2 IS NOT NULL THEN
        |      greatest(coalesce(c2c, 0) - 0.75, 0.0) / tot2
        |        + 0.75 * nf2 / tot2 * p1
        |    ELSE p1 END AS p2
        |  FROM j),
        |p3s AS (
        |  SELECT doc_id, c5c, tot5, nf5, c4c, tot4, nf4,
        |    CASE WHEN tot3 IS NOT NULL THEN
        |      greatest(coalesce(c3c, 0) - 0.75, 0.0) / tot3
        |        + 0.75 * nf3 / tot3 * p2
        |    ELSE p2 END AS p3
        |  FROM p2s),
        |p4s AS (
        |  SELECT doc_id, c5c, tot5, nf5,
        |    CASE WHEN tot4 IS NOT NULL THEN
        |      greatest(coalesce(c4c, 0) - 0.75, 0.0) / tot4
        |        + 0.75 * nf4 / tot4 * p3
        |    ELSE p3 END AS p4
        |  FROM p3s),
        |sc AS (
        |  SELECT doc_id, floor(log10(greatest(
        |    CASE WHEN tot5 IS NOT NULL THEN
        |      greatest(coalesce(c5c, 0) - 0.75, 0.0) / tot5
        |        + 0.75 * nf5 / tot5 * p4
        |    ELSE p4 END, 1e-12)) * 1e6 + 0.5) / 1e6 AS logp
        |  FROM p4s),
        |ds AS (
        |  SELECT doc_id,
        |    -(floor(CAST(sum(CAST(round(logp * 1e6) AS BIGINT)) AS DOUBLE)
        |      / 1e6 / count(*) * 1e6 + 0.5) / 1e6) AS neg_logp
        |  FROM sc GROUP BY 1),
        |nt AS (
        |  SELECT doc_id, neg_logp,
        |    ntile(3) OVER (ORDER BY neg_logp, doc_id) AS tile
        |  FROM ds)
        |SELECT doc_id, neg_logp,
        |  CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
        |    ELSE 'tail' END AS ppl_bucket
        |FROM nt""".stripMargin,
    // the estd 5-gram replay: the same ladder with per-order
    // dd_k = n1/(n1+2*n2) CTEs rebuilding the anchored literals
    "q_fivegram_kn_estd" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(coalesce(text, ''), '\s+'),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |fg AS (
        |  SELECT doc_id, toks[CAST(i AS INTEGER)] AS w1,
        |    toks[CAST(i + 1 AS INTEGER)] AS w2,
        |    toks[CAST(i + 2 AS INTEGER)] AS w3,
        |    toks[CAST(i + 3 AS INTEGER)] AS w4,
        |    toks[CAST(i + 4 AS INTEGER)] AS w5
        |  FROM (SELECT doc_id, toks,
        |          unnest(range(1, greatest(len(toks) - 3, 1))) AS i
        |        FROM tk)),
        |c5 AS (SELECT w1, w2, w3, w4, w5, count(*) AS c
        |       FROM fg GROUP BY 1, 2, 3, 4, 5),
        |x5 AS (SELECT w1, w2, w3, w4, sum(c)::BIGINT AS tot, count(*) AS nf
        |       FROM c5 GROUP BY 1, 2, 3, 4),
        |c4 AS (SELECT w2 AS w1, w3 AS w2, w4 AS w3, w5 AS w4, count(*) AS c
        |       FROM c5 GROUP BY 1, 2, 3, 4),
        |x4 AS (SELECT w1, w2, w3, sum(c)::BIGINT AS tot, count(*) AS nf
        |       FROM c4 GROUP BY 1, 2, 3),
        |c3 AS (SELECT w2 AS w1, w3 AS w2, w4 AS w3, count(*) AS c
        |       FROM c4 GROUP BY 1, 2, 3),
        |x3 AS (SELECT w1, w2, sum(c)::BIGINT AS tot, count(*) AS nf
        |       FROM c3 GROUP BY 1, 2),
        |c2 AS (SELECT w2 AS w1, w3 AS w2, count(*) AS c FROM c3 GROUP BY 1, 2),
        |x2 AS (SELECT w1, sum(c)::BIGINT AS tot, count(*) AS nf
        |       FROM c2 GROUP BY 1),
        |c1 AS (SELECT w2 AS w1, count(*) AS c FROM c2 GROUP BY 1),
        |tt AS (SELECT count(*)::DOUBLE AS t FROM c2),
        |dd2 AS (
        |  SELECT CASE WHEN n1 + 2 * n2 = 0 THEN 0.75
        |    ELSE greatest(least(
        |      floor(n1 / (n1 + 2.0 * n2) * 1e6 + 0.5) / 1e6,
        |      0.999999), 0.000001) END AS d
        |  FROM (SELECT sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n1,
        |          sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS n2
        |        FROM c2)),
|dd3 AS (
        |  SELECT CASE WHEN n1 + 2 * n2 = 0 THEN 0.75
        |    ELSE greatest(least(
        |      floor(n1 / (n1 + 2.0 * n2) * 1e6 + 0.5) / 1e6,
        |      0.999999), 0.000001) END AS d
        |  FROM (SELECT sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n1,
        |          sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS n2
        |        FROM c3)),
|dd4 AS (
        |  SELECT CASE WHEN n1 + 2 * n2 = 0 THEN 0.75
        |    ELSE greatest(least(
        |      floor(n1 / (n1 + 2.0 * n2) * 1e6 + 0.5) / 1e6,
        |      0.999999), 0.000001) END AS d
        |  FROM (SELECT sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n1,
        |          sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS n2
        |        FROM c4)),
|dd5 AS (
        |  SELECT CASE WHEN n1 + 2 * n2 = 0 THEN 0.75
        |    ELSE greatest(least(
        |      floor(n1 / (n1 + 2.0 * n2) * 1e6 + 0.5) / 1e6,
        |      0.999999), 0.000001) END AS d
        |  FROM (SELECT sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n1,
        |          sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS n2
        |        FROM c5)),
        |j AS (
        |  SELECT g.doc_id,
        |    m5.c AS c5c, x5.tot AS tot5, x5.nf AS nf5,
        |    m4.c AS c4c, x4.tot AS tot4, x4.nf AS nf4,
        |    m3.c AS c3c, x3.tot AS tot3, x3.nf AS nf3,
        |    m2.c AS c2c, x2.tot AS tot2, x2.nf AS nf2,
        |    coalesce(u.c, 0) / tt.t AS p1
        |  FROM fg g
        |  LEFT JOIN c5 m5 ON g.w1 = m5.w1 AND g.w2 = m5.w2 AND g.w3 = m5.w3
        |    AND g.w4 = m5.w4 AND g.w5 = m5.w5
        |  LEFT JOIN x5 ON g.w1 = x5.w1 AND g.w2 = x5.w2 AND g.w3 = x5.w3
        |    AND g.w4 = x5.w4
        |  LEFT JOIN c4 m4 ON g.w2 = m4.w1 AND g.w3 = m4.w2 AND g.w4 = m4.w3
        |    AND g.w5 = m4.w4
        |  LEFT JOIN x4 ON g.w2 = x4.w1 AND g.w3 = x4.w2 AND g.w4 = x4.w3
        |  LEFT JOIN c3 m3 ON g.w3 = m3.w1 AND g.w4 = m3.w2 AND g.w5 = m3.w3
        |  LEFT JOIN x3 ON g.w3 = x3.w1 AND g.w4 = x3.w2
        |  LEFT JOIN c2 m2 ON g.w4 = m2.w1 AND g.w5 = m2.w2
        |  LEFT JOIN x2 ON g.w4 = x2.w1
        |  LEFT JOIN c1 u ON g.w5 = u.w1
        |  CROSS JOIN tt),
        |p2s AS (
        |  SELECT doc_id, c5c, tot5, nf5, c4c, tot4, nf4, c3c, tot3, nf3,
        |    CASE WHEN tot2 IS NOT NULL THEN
        |      greatest(coalesce(c2c, 0) - dd2.d, 0.0) / tot2
        |        + dd2.d * nf2 / tot2 * p1
        |    ELSE p1 END AS p2
        |  FROM j CROSS JOIN dd2),
        |p3s AS (
        |  SELECT doc_id, c5c, tot5, nf5, c4c, tot4, nf4,
        |    CASE WHEN tot3 IS NOT NULL THEN
        |      greatest(coalesce(c3c, 0) - dd3.d, 0.0) / tot3
        |        + dd3.d * nf3 / tot3 * p2
        |    ELSE p2 END AS p3
        |  FROM p2s CROSS JOIN dd3),
        |p4s AS (
        |  SELECT doc_id, c5c, tot5, nf5,
        |    CASE WHEN tot4 IS NOT NULL THEN
        |      greatest(coalesce(c4c, 0) - dd4.d, 0.0) / tot4
        |        + dd4.d * nf4 / tot4 * p3
        |    ELSE p3 END AS p4
        |  FROM p3s CROSS JOIN dd4),
        |sc AS (
        |  SELECT doc_id, floor(log10(greatest(
        |    CASE WHEN tot5 IS NOT NULL THEN
        |      greatest(coalesce(c5c, 0) - dd5.d, 0.0) / tot5
        |        + dd5.d * nf5 / tot5 * p4
        |    ELSE p4 END, 1e-12)) * 1e6 + 0.5) / 1e6 AS logp
        |  FROM p4s CROSS JOIN dd5)
        |SELECT doc_id, count(*)::BIGINT AS n_fivegrams,
        |  floor(CAST(sum(CAST(round(logp * 1e6) AS BIGINT)) AS DOUBLE)
        |    / 1e6 / count(*) * 1e6 + 0.5) / 1e6 AS avg_logp
        |FROM sc GROUP BY 1""".stripMargin,
    // pruned 5-gram replay (round 15): the SAME unpruned ladder builds
    // every statistic (adjusted counts, rollups, discounts, T), the
    // θ=1 pruned gram tables p5/p4 replace c5/c4 in the scoring joins,
    // each rollup carries the exact pruned-mass integers (ptot, pn),
    // and every interpolation level uses the general coefficient
    // (d·nf + (ptot − d·pn))/tot — identical at θ=0 where ptot=pn=0
    "q_fivegram_kn_pruned" ->
      s"""WITH ${kn5LadderCtes(theta5 = 1, theta4 = 1)},
        |${kn5PrunedScoreCtes(win = "fg")}""".stripMargin,
    // the pruned model's PERSISTED lifecycle: ladder trained on the
    // md5-bucket corpus split (bkt < 14), batch docs (bkt >= 14)
    // scored against it — parquet round-trips the integer gram/rollup
    // tables and the 6dp-anchored discount scalars exactly, so
    // persistence cannot change values
    "q_fivegram_kn_pruned_persisted" ->
      s"""WITH s0 AS (
        |  SELECT doc_id, coalesce(text, '') AS text,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 1))
        |      AS INTEGER) AS bkt
        |  FROM documents),
        |corpus AS (SELECT doc_id, text FROM s0 WHERE bkt < 14),
        |batch AS (SELECT doc_id, text FROM s0 WHERE bkt >= 14),
        |${kn5LadderCtes(theta5 = 1, theta4 = 1, src = "corpus")},
        |fgb AS (
        |  SELECT doc_id, toks[CAST(i AS INTEGER)] AS w1,
        |    toks[CAST(i + 1 AS INTEGER)] AS w2,
        |    toks[CAST(i + 2 AS INTEGER)] AS w3,
        |    toks[CAST(i + 3 AS INTEGER)] AS w4,
        |    toks[CAST(i + 4 AS INTEGER)] AS w5
        |  FROM (SELECT doc_id, toks,
        |          unnest(range(1, greatest(len(toks) - 3, 1))) AS i
        |        FROM (SELECT doc_id,
        |                list_filter(string_split_regex(text, '\\s+'),
        |                  x -> x <> '') AS toks
        |              FROM batch))),
        |${kn5PrunedScoreCtes(win = "fgb")}""".stripMargin,
    // stored-model-size audit replay: per order, raw types = |cK| and
    // pruned types = the θ-matching count — the same integers the
    // engine reads back as Σnf / Σpn over its rollups
    "q_kn_pruned_size" ->
      s"""WITH ${kn5LadderCtes(theta5 = 1, theta4 = 1)},
        |sz AS (
        |  SELECT 2 AS ord, count(*)::BIGINT AS raw_types,
        |    CAST(sum(CASE WHEN c <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS pn
        |  FROM c2
        |  UNION ALL SELECT 3, count(*)::BIGINT,
        |    CAST(sum(CASE WHEN c <= 0 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM c3
        |  UNION ALL SELECT 4, count(*)::BIGINT,
        |    CAST(sum(CASE WHEN c <= 1 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM c4
        |  UNION ALL SELECT 5, count(*)::BIGINT,
        |    CAST(sum(CASE WHEN c <= 1 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM c5)
        |SELECT ord, raw_types, raw_types - pn AS kept_types,
        |  pn AS pruned_types,
        |  floor(CAST(pn AS DOUBLE) / raw_types * 1e6 + 0.5) / 1e6
        |    AS pruned_frac
        |FROM sz""".stripMargin,
    // order-3 persisted-lifecycle replay: counts trained on the
    // md5-bucket corpus split (bkt < 14 — Sampling.split's convention),
    // batch docs (bkt >= 14) scored against them; parquet round-trips
    // integer counts exactly, so persistence cannot change values
    "q_trigram_kn_incremental_persisted" ->
      """WITH src AS (
        |  SELECT doc_id, coalesce(text, '') AS text,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 1))
        |      AS INTEGER) AS bkt
        |  FROM documents),
        |tk AS (
        |  SELECT doc_id, bkt,
        |    list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '') AS toks
        |  FROM src),
        |tg AS (
        |  SELECT doc_id, bkt, toks[CAST(i AS INTEGER)] AS w1,
        |    toks[CAST(i + 1 AS INTEGER)] AS w2,
        |    toks[CAST(i + 2 AS INTEGER)] AS w3
        |  FROM (SELECT doc_id, bkt, toks,
        |          unnest(range(1, greatest(len(toks) - 1, 1))) AS i
        |        FROM tk)),
        |c3 AS (SELECT w1, w2, w3, count(*) AS c FROM tg
        |       WHERE bkt < 14 GROUP BY 1, 2, 3),
        |x3 AS (SELECT w1, w2, sum(c)::BIGINT AS tot, count(*) AS nf
        |       FROM c3 GROUP BY 1, 2),
        |c2 AS (SELECT w2 AS w1, w3 AS w2, count(*) AS c FROM c3 GROUP BY 1, 2),
        |x2 AS (SELECT w1, sum(c)::BIGINT AS tot, count(*) AS nf
        |       FROM c2 GROUP BY 1),
        |c1 AS (SELECT w2 AS w1, count(*) AS c FROM c2 GROUP BY 1),
        |tt AS (SELECT count(*)::DOUBLE AS t FROM c2),
        |j AS (
        |  SELECT g.doc_id, m3.c AS c3c, x3.tot AS tot3, x3.nf AS nf3,
        |    m2.c AS c2c, x2.tot AS tot2, x2.nf AS nf2,
        |    coalesce(u.c, 0) / tt.t AS p1
        |  FROM tg g
        |  LEFT JOIN c3 m3 ON g.w1 = m3.w1 AND g.w2 = m3.w2 AND g.w3 = m3.w3
        |  LEFT JOIN x3 ON g.w1 = x3.w1 AND g.w2 = x3.w2
        |  LEFT JOIN c2 m2 ON g.w2 = m2.w1 AND g.w3 = m2.w2
        |  LEFT JOIN x2 ON g.w2 = x2.w1
        |  LEFT JOIN c1 u ON g.w3 = u.w1
        |  CROSS JOIN tt
        |  WHERE g.bkt >= 14),
        |p2s AS (
        |  SELECT doc_id, c3c, tot3, nf3,
        |    CASE WHEN tot2 IS NOT NULL THEN
        |      greatest(coalesce(c2c, 0) - 0.75, 0.0) / tot2
        |        + 0.75 * nf2 / tot2 * p1
        |    ELSE p1 END AS p2
        |  FROM j),
        |sc AS (
        |  SELECT doc_id, floor(log10(greatest(
        |    CASE WHEN tot3 IS NOT NULL THEN
        |      greatest(coalesce(c3c, 0) - 0.75, 0.0) / tot3
        |        + 0.75 * nf3 / tot3 * p2
        |    ELSE p2 END, 1e-12)) * 1e6 + 0.5) / 1e6 AS logp
        |  FROM p2s)
        |SELECT doc_id, count(*)::BIGINT AS n_trigrams,
        |  floor(CAST(sum(CAST(round(logp * 1e6) AS BIGINT)) AS DOUBLE)
        |    / 1e6 / count(*) * 1e6 + 0.5) / 1e6 AS avg_logp
        |FROM sc GROUP BY 1""".stripMargin,
    // estimated-discount bigram replay: D = n1/(n1+2·n2) from the
    // bigram count-of-counts, anchored floor(x·1e6+0.5)/1e6 exactly as
    // the engine anchors the driver-resident scalar, then the standard
    // interpolation with D in place of 0.75
    "q_bigram_kn_estd" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(coalesce(text, ''), '\s+'),
        |      x -> x <> '') AS toks
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, toks[CAST(i AS INTEGER)] AS w1,
        |    toks[CAST(i + 1 AS INTEGER)] AS w2
        |  FROM (SELECT doc_id, toks,
        |          unnest(range(1, greatest(len(toks), 1))) AS i
        |        FROM tk)),
        |big AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
        |ctx AS (SELECT w1, sum(c12)::BIGINT AS c1, count(*) AS nf
        |        FROM big GROUP BY 1),
        |cont AS (SELECT w2, count(*) AS nb FROM big GROUP BY 1),
        |tt AS (SELECT count(*)::DOUBLE AS t FROM big),
        |dd AS (
        |  SELECT CASE WHEN n1 + 2 * n2 = 0 THEN 0.75
        |    ELSE greatest(least(
        |      floor(n1 / (n1 + 2.0 * n2) * 1e6 + 0.5) / 1e6,
        |      0.999999), 0.000001) END AS d
        |  FROM (SELECT sum(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS n1,
        |          sum(CASE WHEN c12 = 2 THEN 1 ELSE 0 END) AS n2
        |        FROM big)),
        |sc AS (
        |  SELECT b.doc_id,
        |    floor(log10(greatest(
        |      CASE WHEN ctx.c1 IS NOT NULL THEN
        |        greatest(coalesce(bigm.c12, 0) - dd.d, 0.0) / ctx.c1
        |          + dd.d * ctx.nf / ctx.c1 * (coalesce(cont.nb, 0) / tt.t)
        |      ELSE coalesce(cont.nb, 0) / tt.t END,
        |      1e-12)) * 1e6 + 0.5) / 1e6 AS logp
        |  FROM bg b
        |  LEFT JOIN big bigm ON b.w1 = bigm.w1 AND b.w2 = bigm.w2
        |  LEFT JOIN ctx ON b.w1 = ctx.w1
        |  LEFT JOIN cont ON b.w2 = cont.w2
        |  CROSS JOIN tt CROSS JOIN dd)
        |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |  floor(CAST(sum(CAST(round(logp * 1e6) AS BIGINT)) AS DOUBLE)
        |    / 1e6 / count(*) * 1e6 + 0.5) / 1e6 AS avg_logp
        |FROM sc GROUP BY 1""".stripMargin,
    "q_seq_packing" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::BIGINT
        |      AS n_tokens
        |  FROM documents)
        |SELECT doc_id, source, n_tokens,
        |  floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
        |         - n_tokens) / 512.0)::INTEGER AS chunk_id
        |FROM t""".stripMargin,
    "q_chunk_documents" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS nt FROM t WHERE len(toks) > 0),
        |c AS (
        |  SELECT doc_id, toks, nt,
        |    unnest(range(0, (CASE WHEN nt <= 64 THEN 0
        |                          ELSE CAST(ceil((nt - 64) / 32.0) AS INT)
        |                     END) + 1)) AS chunk_id
        |  FROM n)
        |SELECT doc_id, chunk_id::INTEGER AS chunk_id,
        |  array_to_string(toks[chunk_id*32+1 : chunk_id*32+64], ' ') AS chunk_text,
        |  LEAST(64, nt - chunk_id*32)::BIGINT AS n_tokens
        |FROM c""".stripMargin,
    // identical markup synthesis, identical strip chain — RE2 supports
    // the same (?is)/(?s) inline flags and lazy quantifiers, replace()
    // is literal in both engines, &amp; decoded last on both sides
    "q_strip_html" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><script type="text/javascript">var x = 1 && 2;</script>' ||
        |    '<style>p { color: red }</style></head><body><!-- nav bar -->' ||
        |    '<h1 class="t">' || upper(lang) || '</h1><p id="m">' || text ||
        |    ' &amp; more &lt;tokens&gt;&nbsp;end.</p><div>src: ' || source ||
        |    '</div></body></html>' AS html
        |  FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(regexp_replace(html,
        |  '(?is)<script[^>]*>.*?</script\s*>', ' ', 'g'),
        |  '(?is)<style[^>]*>.*?</style\s*>', ' ', 'g') AS t
        |  FROM h),
        |s2 AS (SELECT doc_id, regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t
        |  FROM s1),
        |s3 AS (SELECT doc_id, regexp_replace(t, '<[^>]+>', ' ', 'g') AS t
        |  FROM s2),
        |s4 AS (SELECT doc_id,
        |  replace(replace(replace(replace(replace(replace(t,
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
        |    '&nbsp;', ' '), '&amp;', '&') AS t
        |  FROM s3)
        |SELECT doc_id, trim(regexp_replace(t, '\s+', ' ', 'g')) AS text_extracted,
        |  CAST(length(trim(regexp_replace(t, '\s+', ' ', 'g'))) AS BIGINT)
        |    AS n_chars_extracted
        |FROM s4""".stripMargin,
    // identical sentence injection (5-word groups), identical greedy
    // capacity-reset recurrence — replayed sequentially per doc as a
    // recursive CTE (DuckDB has no fold with a struct accumulator);
    // the engine's aggregate() fold and this recursion walk the same
    // sentence list with the same reset rule, so rows match exactly
    "q_chunk_sentences" ->
      """WITH RECURSIVE s AS (
        |  SELECT doc_id,
        |    list_filter(
        |      list_transform(
        |        string_split(
        |          regexp_replace(
        |            regexp_replace(text, '(\S+ \S+ \S+ \S+ \S+) ', '\1. ', 'g'),
        |            '([.!?])\s+', '\1' || chr(1), 'g'),
        |          chr(1)),
        |        s -> struct_pack(s := s,
        |          n := len(list_filter(string_split_regex(s, '\s+'),
        |                 t -> t <> ''))::BIGINT)),
        |      x -> x.n > 0) AS zs
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, 1 AS i, zs[1].n AS cur, 0 AS ck, zs[1].s AS txt,
        |    zs[1].n AS n
        |  FROM s WHERE len(zs) >= 1
        |  UNION ALL
        |  SELECT r.doc_id, i + 1,
        |    CASE WHEN cur + s.zs[i+1].n > 24 THEN s.zs[i+1].n
        |         ELSE cur + s.zs[i+1].n END,
        |    CASE WHEN cur + s.zs[i+1].n > 24 THEN ck + 1 ELSE ck END,
        |    s.zs[i+1].s, s.zs[i+1].n
        |  FROM r JOIN s USING (doc_id) WHERE i < len(s.zs))
        |SELECT doc_id, ck AS chunk_id, CAST(sum(n) AS BIGINT) AS n_tokens,
        |  string_agg(txt, ' ' ORDER BY i) AS chunk_text
        |FROM r GROUP BY doc_id, ck""".stripMargin,
    "q_vocab_coverage" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS w
        |  FROM documents),
        |v AS (
        |  SELECT w FROM (
        |    SELECT w, count(1) AS c FROM tok GROUP BY 1
        |    ORDER BY c DESC, w LIMIT 20)),
        |j AS (
        |  SELECT t.doc_id, CASE WHEN v.w IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM tok t LEFT JOIN v ON t.w = v.w)
        |SELECT doc_id, count(1)::BIGINT AS n_tokens, sum(oov)::BIGINT AS n_oov,
        |  round(sum(oov) / count(1)::DOUBLE, 6) AS oov_rate
        |FROM j GROUP BY doc_id""".stripMargin,
    "q_pii_mask" ->
      """WITH t AS (
        |  SELECT event_type,
        |    regexp_replace(regexp_replace(props,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '[0-9]+', '<NUM>', 'g') AS masked,
        |    len(regexp_extract_all(regexp_replace(props,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |        '[0-9]+'))
        |      + len(regexp_extract_all(props,
        |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS spans
        |  FROM events)
        |SELECT event_type, count(1) AS n, sum(spans)::BIGINT AS n_spans,
        |  sum(length(masked))::BIGINT AS masked_len,
        |  count(DISTINCT masked) AS n_distinct_masked
        |FROM t GROUP BY event_type""".stripMargin,
  )

  /** DuckDB replay of [[graft.functions.WinnowFpsExpr]]'s dual
    * polynomial hash family as the `d` → `h` → `f` CTE prefix shared
    * by q_winnow_fingerprint and q_winnow_pairs: per-position k-gram
    * hashes as the direct power-weighted codepoint sums (identical to
    * the engine's rolling form by modular arithmetic — every term and
    * the sum stay under 2⁵⁷, so plain BIGINTs suffice), window minima,
    * sorted-distinct. */
  def winnowPolyCtes(k: Int, w: Int): String = {
    def pows(b: Long, m: Long): String = {
      val arr = new Array[Long](k)
      arr(k - 1) = 1L
      for (j <- k - 2 to 0 by -1) arr(j) = arr(j + 1) * b % m
      arr.mkString("[", ", ", "]")
    }
    val pw1 = pows(31L, 2147483647L)
    val pw2 = pows(37L, 1000000007L)
    // cs precomputes each char's code point ONCE (string_split is
    // O(len); the previous substring(s, i+j, 1) indexing was an O(i)
    // UTF-8 scan per access → O(len²·k) per doc, which made the three
    // winnow/char-span oracles dominate the suite at 36-56s each —
    // the r10 gate postmortem). Round 12 made the k-gram hashes and
    // window minima fully SET-BASED (the rewrite that took the
    // rolling-hash CTEs 18.6s → 0.4s in r11): character positions
    // unnest once against a k-row offset/power table and ONE
    // vectorized aggregation computes every window's power sum —
    // replacing the per-position list_transform(list_sum(...)) pair,
    // which burned interpreted list ops at O(len·k) per doc and held
    // the four winnow/char-span oracles at 15-17s each. Values are
    // bit-identical: same code points, same modular power sums, same
    // ascending window order. hrow is MATERIALIZED (h and f both read
    // it); `h`/`f` keep their old shapes so consumers are unchanged,
    // and DuckDB prunes whichever one a query doesn't reference.
    s"""d AS (
       |  SELECT doc_id,
       |    trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g')) AS s
       |  FROM documents),
       |ccs AS (
       |  SELECT doc_id,
       |    list_transform(string_split(s, ''), x -> unicode(x)::BIGINT) AS cs
       |  FROM d WHERE length(s) >= ${k + w - 1}),
       |cpos AS (
       |  SELECT doc_id, unnest(cs) AS c,
       |    unnest(range(1, len(cs) + 1)) AS p, len(cs) AS n
       |  FROM ccs),
       |pwj AS (
       |  SELECT unnest(range(0, $k)) AS j,
       |    unnest($pw1) AS p1, unnest($pw2) AS p2),
       |hrow AS MATERIALIZED (
       |  SELECT doc_id, p - j AS i,
       |    (sum(c * p1) % 2147483647)::BIGINT * 1000000007 +
       |    (sum(c * p2) % 1000000007)::BIGINT AS hv
       |  FROM cpos JOIN pwj ON p - j >= 1 AND p - j <= n - $k + 1
       |  GROUP BY doc_id, p - j),
       |h AS (
       |  SELECT doc_id, list(hv ORDER BY i) AS hs FROM hrow GROUP BY doc_id),
       |f AS (
       |  SELECT doc_id, list_sort(list_distinct(list(mn))) AS fps FROM (
       |    SELECT hr.doc_id, hr.i - wo.o AS wi, min(hr.hv) AS mn
       |    FROM hrow hr
       |    CROSS JOIN (SELECT unnest(range(0, $w)) AS o) wo
       |    JOIN (SELECT doc_id, max(i) AS nh FROM hrow GROUP BY doc_id) hn
       |      ON hn.doc_id = hr.doc_id
       |    WHERE hr.i - wo.o >= 1 AND hr.i - wo.o <= hn.nh - $w + 1
       |    GROUP BY hr.doc_id, hr.i - wo.o)
       |  GROUP BY doc_id)""".stripMargin
  }
}
