package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid retrieval: lexical (TF-IDF cosine) and semantic (embedding
  * cosine) rankings fused by reciprocal-rank fusion — the standard
  * two-tower retrieval stack (RRF per Cormack/Clarke/Büttcher, SIGIR
  * 2009: score(d) = Σ_lists 1/(c + rank_list(d)), c = 60), used both to
  * serve search and to mine higher-recall candidates for dedup /
  * decontamination than either signal alone.
  *
  * Scale shape: each leg emits ≤ legK rows per query, so the fusion
  * join is keyed on (query_id, neighbor_id) over bounded inputs —
  * cost is the LEGS, not the fusion. The lexical leg is the
  * [[TextAnalysis.tfidfCosinePairs]] integer-exact machinery with a
  * query-side filter (Σ df_q·df_c term fanout, capped by `maxTermDf`
  * at corpus scale); the semantic leg is [[Similarity.ivfTopK]] (cell
  * bucketed, never all-pairs). Rank arithmetic is integer and the RRF
  * sum is two IEEE doubles added in a fixed order — bit-identical
  * cross-engine, so the whole fusion is value-oracled. */
object Retrieval {

  /** Build the two retrieval legs CONCURRENTLY — the guide-§2.6 move
    * ("overlap independent jobs"), applied to plan CONSTRUCTION: both
    * legs run eager driver work while being built (the lexical leg
    * checkpoints its weight table, the semantic leg runs the
    * k-means training collects and the broadcast-guard count), and a
    * round-17 profile split showed the hybrid family's cost is 60-95%
    * construction, not execution (q_hybrid_rerank_trained: 4.7s
    * construct vs 0.14s execute). The legs share no state and are
    * individually deterministic, so results are identical to the
    * sequential build — this is the [[graft.sources.Sinks.writeBucketedAll]]
    * concurrency pattern on the read side. Each leg runs with the
    * caller's active `SparkSession`. The first leg to fail cancels and
    * interrupts the other, and its own exception is rethrown; the pool is
    * always torn down. */
  private[graft] def buildLegs[A, B](a: => A, b: => B): (A, B) = {
    import java.util.concurrent.{Callable, ExecutionException,
      ExecutorCompletionService, Executors}
    // leg threads build plans against the caller's session, not
    // whatever session the pool thread happens to inherit
    val session = SparkSession.getActiveSession
    def leg(body: => Any): Callable[Any] = () => {
      session.foreach(SparkSession.setActiveSession)
      body
    }
    val pool = Executors.newFixedThreadPool(2)
    val done = new ExecutorCompletionService[Any](pool)
    val fa = done.submit(leg(a))
    val fb = done.submit(leg(b))
    try {
      // wait in completion order, so the first failure is seen at once
      done.take().get()
      done.take().get()
      (fa.get().asInstanceOf[A], fb.get().asInstanceOf[B])
    } catch {
      case e: Throwable =>
        // a failed leg interrupts its sibling rather than waiting it out
        fa.cancel(true)
        fb.cancel(true)
        pool.shutdownNow()
        throw (e match {
          case ee: ExecutionException if ee.getCause != null => ee.getCause
          case other => other
        })
    } finally pool.shutdown()
  }

  /** Lexical top-k: rank every OTHER document against each query doc
    * (`id % every == 0`) by TF-IDF cosine over integer-scaled weights
    * (`round(tfidf·10⁶)`, decimal-exact dot/norm sums — engine-portable
    * cosines, see [[TextAnalysis.tfidfCosinePairs]]). Output one row
    * per (query_id, neighbor_id) with dense `rank` 1..k (cos desc, id
    * asc — a unique total order).
    *
    * `maxTermDf` (absolute) and `maxTermDfFrac` (fraction of the
    * corpus count, resolved in-plan — no driver job) are the stopword
    * fanout caps: terms in more documents than the cap leave the
    * vectors before the join — at web scale the ubiquitous-term join
    * fanout is quadratic while its idf weight is ~zero, so production
    * configs set one (the [[TextAnalysis.tfidfCorpusModel]] contract;
    * the oracled query runs frac=0.5, the q_tfidf_cosine_incremental
    * configuration — the synthetic corpus's 31-word vocabulary makes
    * the uncapped self-join degenerate toward n²). A doc whose every
    * term is capped away has no vector and appears in no ranking. */
  def lexicalTopK(docs: DataFrame, idCol: String, textCol: String, k: Int,
      every: Long = 50L, maxTermDf: Long = 0L,
      maxTermDfFrac: Double = 0.0): DataFrame = {
    // the self-retrieval special case of the cross-table machinery:
    // the corpus is its own model, queries are the id-sampled subset
    // of the one shared weight table, self-pairs excluded — one
    // implementation of the cap/weight/ranking arithmetic, not two
    // (model caps + in-plan N per TextAnalysis.tfidfCorpusModel)
    val model = TextAnalysis.tfidfCorpusModel(docs, idCol, textCol,
      maxTermDf, maxTermDfFrac)
    // weight table feeds norms + both join sides — eager localCheckpoint
    // (NOT cache(): the result is consumed lazily, so an internal cache
    // could never be unpersisted and each call would pin one cached
    // frame until session end; checkpoint blocks are freed by the
    // ContextCleaner when the frame becomes unreachable, so per-batch /
    // notebook callers don't accumulate storage — the winnowCrossPairs
    // lifecycle rule). Callers who want to own the lifecycle use
    // [[lexicalCrossTopKFromWeights]] directly.
    val w = TextAnalysis.tfidfWeights(
      TextAnalysis.termFrequencies(docs, idCol, textCol), model)
      .localCheckpoint(true)
    lexicalCrossTopKFromWeights(w.filter(col("id") % every === 0L), w, k,
      excludeSameId = true)
  }

  /** Cross-TABLE lexical top-k: rank every CORPUS document against
    * each row of a separate query table by TF-IDF cosine — the lexical
    * twin of [[Similarity.knnJoin]], sharing its contract: the corpus
    * is the model (idf and document frequencies come from the corpus
    * only, via [[TextAnalysis.tfidfCorpusModel]]; query terms unseen
    * in the corpus carry no weight — standard OOV handling, so a
    * query of pure novel vocabulary ranks nothing). Same integer-exact
    * weight arithmetic as [[lexicalTopK]]; same `maxTermDf`/
    * `maxTermDfFrac` stopword fanout caps. A query or corpus doc whose
    * every term is capped/OOV has no vector and appears in no ranking.
    *
    * Scale shape: the term join is Σ df_q·df_c — linear in the query
    * batch at a capped vocabulary; the ranking window sees ≤ the
    * surviving pair rows per query. Model and weight tables are
    * plan-canonical across calls, so a streaming caller persists them
    * once (the [[TextAnalysis.tfidfCosineCrossPairs]] lifecycle). */
  def lexicalCrossTopK(queryDocs: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, k: Int, maxTermDf: Long = 0L,
      maxTermDfFrac: Double = 0.0): DataFrame = {
    val model = TextAnalysis.tfidfCorpusModel(corpus, idCol, textCol,
      maxTermDf, maxTermDfFrac)
    // eager localCheckpoint, not cache() — see the lexicalTopK
    // lifecycle note (blocks freed on GC, no session-lifetime pin).
    // The two sides' checkpoints are independent eager jobs — overlap
    // them (§2.6, buildLegs)
    val (wc, wq) = buildLegs(
      TextAnalysis.tfidfWeights(
        TextAnalysis.termFrequencies(corpus, idCol, textCol), model)
        .localCheckpoint(true),
      TextAnalysis.tfidfWeights(
        TextAnalysis.termFrequencies(queryDocs, idCol, textCol), model)
        .localCheckpoint(true))
    lexicalCrossTopKFromWeights(wq, wc, k)
  }

  /** [[lexicalCrossTopK]] over PRE-WEIGHTED `(id, term, w)` sides —
    * the caller owns caching/lifecycle (each side feeds its norm and
    * the dot join; uncached inputs compute twice). The streaming twin
    * composes this to unpersist the batch side per trigger, the
    * [[graft.streaming.StreamingOps.incrementalTfidfCosine]] rule. */
  def lexicalCrossTopKFromWeights(wq: DataFrame, wc: DataFrame,
      k: Int, excludeSameId: Boolean = false): DataFrame = {
    def norms(w: DataFrame): DataFrame = w.groupBy("id")
      .agg(sum((col("w") * col("w")).cast("decimal(38,0)")).as("n2"))
    val prods = wq.select(col("term"), col("id").as("query_id"),
        col("w").as("wq"))
      .join(wc.select(col("term"), col("id").as("neighbor_id"),
        col("w").as("wn")), Seq("term"))
      .filter(if (excludeSameId) col("neighbor_id") =!= col("query_id")
        else lit(true))
      .groupBy("query_id", "neighbor_id")
      .agg(sum((col("wq") * col("wn")).cast("decimal(38,0)")).as("dot"))
    val scored = prods
      .join(norms(wq).select(col("id").as("query_id"), col("n2").as("nq2")),
        Seq("query_id"))
      .join(norms(wc).select(col("id").as("neighbor_id"), col("n2").as("nn2")),
        Seq("neighbor_id"))
      .withColumn("cos", Pairs.cosine(col("dot").cast("double"),
        sqrt(col("nq2").cast("double") * col("nn2").cast("double"))))
    val win = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 6).as("cos"))
  }

  /** Cross-table HYBRID retrieval — the production form of
    * [[hybridTopK]]: a query table (docs + aligned embeddings)
    * retrieves from a separate corpus (docs + aligned embeddings),
    * lexical leg [[lexicalCrossTopK]] (corpus-model TF-IDF), semantic
    * leg [[Similarity.knnJoin]] (corpus-trained quantizer), RRF-fused.
    * Both legs are corpus-model-driven and batch-linear, which is what
    * makes the per-trigger streaming use stateless. */
  def hybridCrossTopK(queryDocs: DataFrame, queryEmb: DataFrame,
      corpusDocs: DataFrame, corpusEmb: DataFrame, k: Int, legK: Int = 10,
      c: Int = 60, nCells: Int = 16, nprobe: Int = 4,
      maxTermDf: Long = 0L, maxTermDfFrac: Double = 0.0): DataFrame =
    hybridCrossTopKWithCentroids(queryDocs, queryEmb, corpusDocs, corpusEmb,
      Clustering.trainCentroids(corpusEmb, nCells, 2), k, legK, c, nprobe,
      maxTermDf, maxTermDfFrac)

  /** [[hybridCrossTopK]] against a PRE-TRAINED quantizer — the
    * persisted-model form the streaming twin
    * ([[graft.streaming.StreamingOps.streamingHybridRetrieval]]) calls
    * per trigger: both legs are corpus-model-driven and per-query
    * pure, so per-trigger results are micro-batching invariant. */
  def hybridCrossTopKWithCentroids(queryDocs: DataFrame, queryEmb: DataFrame,
      corpusDocs: DataFrame, corpusEmb: DataFrame,
      centroids: Seq[(Int, Seq[Double])], k: Int, legK: Int = 10,
      c: Int = 60, nprobe: Int = 4, maxTermDf: Long = 0L,
      maxTermDfFrac: Double = 0.0): DataFrame = {
    val (lex, sem) = buildLegs(
      lexicalCrossTopK(queryDocs, corpusDocs, "doc_id", "text", legK,
        maxTermDf, maxTermDfFrac),
      Similarity.knnJoinWithCentroids(queryEmb, corpusEmb, legK, centroids,
        nprobe))
    rrfFuse(lex, sem, k, c)
  }

  /** Reciprocal-rank fusion of two ranked lists (columns `query_id,
    * neighbor_id, rank`): rrf = Σ 1/(c + rank), a doc absent from a
    * list contributes 0 from it. Re-ranked 1..k by (rrf desc, id asc).
    * One full-outer join on the pair key over ≤ legK rows per query
    * per side — bounded by construction, no skew possible beyond k. */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, c: Int = 60): DataFrame = {
    val aa = a.select(col("query_id"), col("neighbor_id"),
      col("rank").as("rank_a"))
    val bb = b.select(col("query_id"), col("neighbor_id"),
      col("rank").as("rank_b"))
    val fused = aa.join(bb, Seq("query_id", "neighbor_id"), "full_outer")
      // fixed evaluation order (a-term first) — the oracle mirrors it,
      // so the double sum is bit-identical cross-engine
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(c) + col("rank_a")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("rank_b")), lit(0.0)))
    val win = Window.partitionBy(col("query_id"))
      .orderBy(desc("rrf"), asc("neighbor_id"))
    fused.withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("rrf"), 6).as("rrf"))
  }

  /** Rerank stage — the final scoring pass of the standard retrieval
    * stack (retrieve legs → fuse candidates → rerank): re-score the
    * fused candidate set with a weighted blend of the legs' own
    * similarity evidence, score = wLex·lex_cos + wSem·sem_cos +
    * wRrf·rrf (a candidate absent from a leg contributes 0 from it),
    * re-ranked 1..k by (score desc, neighbor_id asc). RRF alone is
    * rank-only — it forgets HOW similar the legs found a candidate;
    * the blend restores that magnitude signal over the bounded
    * candidate pool, which is exactly where production stacks put a
    * cross-encoder. The fixed default weights are the classic
    * hand-tuned blend; a TRAINED reranker drops in by replacing the
    * linear blend with [[Classification.trainLogReg]] weights over the
    * same three features — same plan shape, trained coefficients.
    *
    * Scale shape: two left joins on the (query_id, neighbor_id) pair
    * key over ≤ legK rows per query per side, then a window over ≤
    * candidateK rows per query — everything downstream of the legs is
    * bounded by construction; cost remains the LEGS ([[rrfFuse]]'s
    * contract). Blend arithmetic: the legs' 6dp-rounded outputs
    * combined in a fixed multiply/add order — bit-identical
    * cross-engine, fully value-oracled. */
  def rerankFused(lex: DataFrame, sem: DataFrame, fused: DataFrame,
      k: Int, wLex: Double = 0.5, wSem: Double = 0.4,
      wRrf: Double = 0.1): DataFrame = {
    val l = lex.select(col("query_id"), col("neighbor_id"),
      col("cos").as("__lc"))
    val s = sem.select(col("query_id"), col("neighbor_id"),
      col("cos").as("__sc"))
    val scored = fused
      .select(col("query_id"), col("neighbor_id"), col("rrf"))
      .join(l, Seq("query_id", "neighbor_id"), "left_outer")
      .join(s, Seq("query_id", "neighbor_id"), "left_outer")
      .withColumn("lex_cos", coalesce(col("__lc"), lit(0.0)))
      .withColumn("sem_cos", coalesce(col("__sc"), lit(0.0)))
      // fixed evaluation order ((wLex·l + wSem·s) + wRrf·r) — the
      // oracle mirrors it, so the double blend is bit-identical
      .withColumn("score",
        lit(wLex) * col("lex_cos") + lit(wSem) * col("sem_cos") +
          lit(wRrf) * col("rrf"))
    val win = Window.partitionBy(col("query_id"))
      .orderBy(desc("score"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        // floor-based 6dp rounding, NOT round(): Spark's round goes
        // through BigDecimal on the double's SHORTEST decimal repr,
        // DuckDB's rounds the exact binary value — a blend that lands
        // on a half boundary (rrf 1/64 + a 6dp-exact cosine did, once,
        // at sf0.1) flips the last digit between engines. floor(x·1e6
        // + 0.5)/1e6 is pure double arithmetic, bit-identical in both.
        (floor(col("score") * 1e6 + lit(0.5)) / 1e6).as("score"),
        col("lex_cos"), col("sem_cos"))
  }

  /** TRAINED rerank stage — [[rerankFused]]'s scaladoc promise
    * delivered: instead of the hand-tuned 0.5/0.4/0.1 blend, a
    * [[Classification.trainLogReg]] model learns the blend weights
    * over the SAME three features (lex_cos, sem_cos, rrf), with labels
    * mined from `truth` — the exact brute-force top-k pairs (the
    * q_ann_recall truth set): a candidate is positive iff the exact
    * scan would have retrieved it. Same plan shape as the hand blend
    * (two bounded pair-key joins + a per-query window), trained
    * coefficients.
    *
    * The labeled candidate table is eagerly localCheckpoint'ed ONCE
    * and feeds both the `steps` training scans and the scoring scan —
    * the legs never recompute (blocks freed on GC, the langIdTrained
    * lifecycle). Ranking orders by the UNROUNDED margin (monotone in
    * the sigmoid score, saturation-proof, and a bit-exact left-to-right
    * VectorDot fold the oracle replays); the output `score` is the 6dp
    * sigmoid. Scale shape: candidates are ≤ candidateK rows per query
    * by construction, so training cost is `steps` bounded aggregation
    * jobs over an already-bounded table — at 100 TB you mine labels on
    * a bounded query SAMPLE (exactly what `truth`'s `every`-th-doc
    * sampling is) and score the full corpus with the persisted
    * 4-double weight vector. */
  def rerankTrainedFused(lex: DataFrame, sem: DataFrame, fused: DataFrame,
      truth: DataFrame, k: Int, steps: Int = 8, lr: Double = 5.0): DataFrame = {
    val l = lex.select(col("query_id"), col("neighbor_id"),
      col("cos").as("__lc"))
    val s = sem.select(col("query_id"), col("neighbor_id"),
      col("cos").as("__sc"))
    val t = truth.select(col("query_id"), col("neighbor_id"),
      lit(1).as("__hit"))
    val labeled = fused
      .select(col("query_id"), col("neighbor_id"), col("rrf"))
      .join(l, Seq("query_id", "neighbor_id"), "left_outer")
      .join(s, Seq("query_id", "neighbor_id"), "left_outer")
      .join(t, Seq("query_id", "neighbor_id"), "left_outer")
      .withColumn("lex_cos", coalesce(col("__lc"), lit(0.0)))
      .withColumn("sem_cos", coalesce(col("__sc"), lit(0.0)))
      // the legs' 6dp outputs ARE the features — engine-portable by
      // the same contract that value-oracles the hand blend
      .withColumn("__feat",
        array(col("lex_cos"), col("sem_cos"), col("rrf")))
      .select(col("query_id"), col("neighbor_id"), col("rrf"),
        col("lex_cos"), col("sem_cos"), col("__feat"), col("__hit"))
      .localCheckpoint(true)
    val w = Classification.trainLogReg(labeled, "query_id", "__feat",
      col("__hit") === 1, steps, lr)
    val xa = concat(array(lit(1.0)), col("__feat"))
    val margin = graft.functions.GraftFunctions.vectorDot(xa, typedlit(w))
    val win = Window.partitionBy(col("query_id"))
      .orderBy(desc("__m"), asc("neighbor_id"))
    labeled
      .withColumn("__m", margin)
      .withColumn("score",
        round(lit(1.0) / (lit(1.0) + exp(-col("__m"))), 6))
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("score"), col("lex_cos"), col("sem_cos"))
  }

  /** The composed retrieve→fuse→TRAINED-rerank stack: same legs and
    * fusion as [[hybridRerankTopK]], labels from the exact brute-force
    * top-k over the same query sample, reranked by the trained model
    * instead of the hand blend. The exact scan rides the same
    * [[Similarity.bruteForceTopK]] guardSize contract — label mining
    * is a bounded-sample operation by construction. */
  def hybridRerankTrainedTopK(docs: DataFrame, emb: DataFrame, k: Int,
      legK: Int = 10, every: Long = 50L, c: Int = 60, nCells: Int = 16,
      nprobe: Int = 4, maxTermDf: Long = 0L, maxTermDfFrac: Double = 0.0,
      steps: Int = 8, lr: Double = 5.0, candidateK: Int = 0): DataFrame = {
    // the lexical leg's weight checkpoint overlaps the semantic leg's
    // quantizer training AND the truth leg's guard — three independent
    // eager builds (§2.6; see buildLegs)
    val (lex, (sem, truth)) = buildLegs(
      lexicalTopK(docs, "doc_id", "text", legK, every, maxTermDf,
        maxTermDfFrac),
      buildLegs(
        Similarity.ivfTopK(emb, legK, nCells, nprobe, every),
        Similarity.bruteForceTopK(emb, k, every)))
    val fused = rrfFuse(lex, sem, if (candidateK > 0) candidateK else legK, c)
    rerankTrainedFused(lex, sem, fused, truth, k, steps, lr)
  }

  /** The composed retrieve→fuse→rerank stack over the [[hybridTopK]]
    * layout: both legs ranked to `legK`, RRF-fused to a `candidateK`
    * candidate pool (default legK — the fused top-legK), reranked to
    * `k` by the [[rerankFused]] blend. The legs are built once and
    * feed both the fusion and the rerank joins (identical subplans —
    * Spark's exchange reuse materializes each leg once per query). */
  def hybridRerankTopK(docs: DataFrame, emb: DataFrame, k: Int,
      legK: Int = 10, every: Long = 50L, c: Int = 60, nCells: Int = 16,
      nprobe: Int = 4, maxTermDf: Long = 0L, maxTermDfFrac: Double = 0.0,
      wLex: Double = 0.5, wSem: Double = 0.4, wRrf: Double = 0.1,
      candidateK: Int = 0): DataFrame = {
    val (lex, sem) = buildLegs(
      lexicalTopK(docs, "doc_id", "text", legK, every, maxTermDf,
        maxTermDfFrac),
      Similarity.ivfTopK(emb, legK, nCells, nprobe, every))
    val fused = rrfFuse(lex, sem, if (candidateK > 0) candidateK else legK, c)
    rerankFused(lex, sem, fused, k, wLex, wSem, wRrf)
  }

  /** The composed hybrid stack: lexical leg over `docs` (id col
    * `doc_id`) + semantic leg over `emb` (id col `vec_id`, the SAME id
    * namespace — the usual one-row-per-document layout with text and
    * embedding in separate tables), each ranked to `legK`, RRF-fused
    * to `k`. The semantic leg is [[Similarity.ivfTopK]] — the
    * cell-bucketed scale path, not the brute-force baseline. */
  def hybridTopK(docs: DataFrame, emb: DataFrame, k: Int, legK: Int = 10,
      every: Long = 50L, c: Int = 60, nCells: Int = 16, nprobe: Int = 4,
      maxTermDf: Long = 0L, maxTermDfFrac: Double = 0.0): DataFrame = {
    val (lex, sem) = buildLegs(
      lexicalTopK(docs, "doc_id", "text", legK, every, maxTermDf,
        maxTermDfFrac),
      Similarity.ivfTopK(emb, legK, nCells, nprobe, every))
    rrfFuse(lex, sem, k, c)
  }

  /** Ranking-quality audit of a retrieval run against exact ground
    * truth — the numbers (recall@k, MRR, nDCG@k) that pick index and
    * fusion hyperparameters before anyone trusts a retrieval stack;
    * the IR-standard extension of the recall-only `q_ann_recall`
    * audit.
    *
    * `results` and `truth` are top-k lists with columns (query_id,
    * neighbor_id, rank), rank 1..k (extra columns ignored); `truth`
    * is the exact ranking (rank 1 = most relevant). Per query:
    *   recall@k = |results ∩ truth| / |truth|
    *   RR       = 1 / rank of the first result that hits truth (0 if
    *              none — the query found nothing relevant)
    *   nDCG@k   = Σ_hits rel/ln(1+r_rank) / Σ_truth rel/ln(1+t_rank)
    *              with graded relevance rel = k + 1 − t_rank
    * Natural log throughout: nDCG is log-base invariant, and `ln`
    * replays through the same libm call in the DuckDB oracle where
    * `log2` implementations may differ in the last ULP. One row out:
    * n_queries plus the three per-query means rounded to 6 dp.
    *
    * Scale shape: one equi-join on (query_id, neighbor_id) between
    * two ≤ k-rows-per-query inputs, two grouped aggs, one global agg
    * — the audit costs nothing next to the retrieval runs it grades.
    * Queries present in `truth` but missing from `results` score 0 on
    * all three (left join); result rows for queries absent from
    * `truth` are ungradable and ignored. */
  def rankingMetrics(results: DataFrame, truth: DataFrame,
      k: Int): DataFrame = {
    require(k >= 1, "need k >= 1")
    val res = results.select(col("query_id"), col("neighbor_id"),
      col("rank").cast("long").as("r_rank"))
    val tru = truth.select(col("query_id"), col("neighbor_id"),
      col("rank").cast("long").as("t_rank"),
      (lit(k + 1) - col("rank")).cast("double").as("rel"))
    val ideal = tru.groupBy(col("query_id")).agg(
      count(lit(1)).as("kq"),
      sum(col("rel") / log(lit(1.0) + col("t_rank"))).as("idcg"))
    val hits = res.join(tru, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(
        count(lit(1)).as("n_hits"),
        min(col("r_rank")).as("first_hit"),
        sum(col("rel") / log(lit(1.0) + col("r_rank"))).as("dcg"))
    // engine-portable 6dp rounding (the rerankFused idiom): means of
    // irrational 1/ln and 1/first_hit sums can land ON a 6dp half
    // boundary, where Spark's BigDecimal-on-shortest-repr round and
    // DuckDB's exact-binary round flip the last digit; floor(x·1e6 +
    // 0.5)/1e6 is pure double arithmetic, bit-identical in both
    def r6(c: org.apache.spark.sql.Column) = floor(c * 1e6 + lit(0.5)) / 1e6
    ideal.join(hits, Seq("query_id"), "left")
      .agg(count(lit(1)).as("n_queries"),
        r6(avg(coalesce(col("n_hits"), lit(0L)).cast("double") /
          col("kq"))).as("mean_recall"),
        r6(avg(coalesce(lit(1.0) / col("first_hit"), lit(0.0))))
          .as("mean_mrr"),
        r6(avg(coalesce(col("dcg"), lit(0.0)) / col("idcg")))
          .as("mean_ndcg"))
  }
}
