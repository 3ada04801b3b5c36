package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the composed form of the pipeline this
  * engine exists for:
  *
  *   quality filter → near-dup clustering → one survivor per cluster →
  *   deterministic train/valid/test split
  *
  * Each stage is an existing operator; this module only fixes the
  * composition order (filter FIRST so clustering never pays for rows
  * that were leaving anyway — at 100 TB the quality gate typically
  * drops a large fraction of the corpus before the expensive pair
  * join).
  */
object Curation {

  /** Returns the curated corpus: one surviving doc per near-dup
    * cluster among quality-passing docs, tagged with its split.
    * Construction runs Spark jobs (lazy internal localCheckpoint —
    * see Dedup's MATERIALIZATION POLICY scaladoc). */
  def curate(docs: DataFrame, minTokens: Long = 10L,
      jaccardThreshold: Double = 0.8, train16: Int = 12,
      valid16: Int = 2, maxIters: Int = 20): DataFrame = {
    // quality feeds shingling (multiple consumers inside the pair join)
    // AND the survivor join — cache so the corpus scan runs once.
    // Tokenize ONCE per row: token count and language ID both derive
    // from the materialized array (a second split() per row is the
    // no-CSE trap documented on TextAnalysis.wordNgrams).
    val quality = docs
      .withColumn("__toks", TextAnalysis.tokens(col("text")))
      .filter(size(col("__toks")) >= minTokens &&
        TextAnalysis.langIdFromTokens(col("__toks"),
          lowercaseInCount = true) =!= "und")
      .drop("__toks")
      .localCheckpoint(false) // freed on GC — the lexicalTopK lifecycle
    val pairs = Dedup.ngramJaccardPairsPrefix(quality, "doc_id", "text",
      n = 3, threshold = jaccardThreshold)
    // maxIters is exposed because connectedComponents THROWS on
    // non-convergence (partial labels would over-segment) — a corpus
    // with deep near-dup chains needs a raised bound, not a dead end.
    // (Min-label propagation, not the alternating-star variant: the
    // swap was tried in round 12 and REVERTED on measurement — star
    // rounds pay two distincts + a signature action + an except
    // confirm each, 1.7-2.9x slower fresh-JVM on these diameter-1-2
    // near-dup graphs; propagation's long-session degradation was the
    // superseded-checkpoint leak, fixed at the source by the round
    // driver in graft.core.Checkpoints. Alternating stays the right
    // call for DEEP topologies — q_dedup_clusters_logstar pins it.)
    val clusters = Dedup.connectedComponents(
      quality.select(col("doc_id").as("id")), pairs, maxIters)
    val survivors = quality
      .join(clusters, quality("doc_id") === clusters("doc_id"))
      .filter(clusters("doc_id") === col("cluster_rep"))
      .select(quality("doc_id"), col("text"), col("lang"), col("source"))
    Sampling.split(survivors, col("doc_id"), train16, valid16)
  }

  /** The full pipeline as a materialized corpus: [[curate]] written as
    * split/lang-partitioned parquet via [[graft.sources.Sinks]], so a
    * downstream trainer's `split='train' AND lang='en'` scan prunes to
    * one directory subtree without touching the rest. This is the
    * artifact the engine exists to produce — everything upstream
    * (quality gate, near-dup clustering, deterministic split) feeds it. */
  def curateToParquet(docs: DataFrame, path: String,
      minTokens: Long = 10L, jaccardThreshold: Double = 0.8,
      train16: Int = 12, valid16: Int = 2, maxIters: Int = 20): Unit =
    graft.sources.Sinks.writePartitioned(
      curate(docs, minTokens, jaccardThreshold, train16, valid16, maxIters),
      path, Seq("split", "lang"))

  /** Benchmark decontamination: for each candidate (eval/test) doc, the
    * number of distinct word n-grams it shares with ANY reference
    * (training) doc — docs with n_shared_ngrams > 0 are contaminated
    * and must be dropped from the eval set (or vice versa, from
    * training). One distinct-project of the reference shingles and one
    * equi-join on the shingle — at 100 TB the reference side is a
    * persisted, pre-distincted shingle table, and the join key is
    * already the bucket key, so no extra shuffle of the corpus.
    * Long n (default 8) keeps the signal specific: sharing an 8-gram is
    * memorization-grade overlap, not vocabulary coincidence. */
  def decontaminate(candidates: DataFrame, reference: DataFrame,
      idCol: String, textCol: String, n: Int = 8): DataFrame = {
    val cand = Dedup.shingles(candidates, idCol, textCol, n)
    val ref = Dedup.shingles(reference, idCol, textCol, n)
      .select("shingle").distinct()
    cand.join(ref, Seq("shingle"))
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_shared_ngrams"))
  }

  /** DSIR-style importance weights for data selection (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * score every document by the mean log-likelihood ratio of its
    * tokens' HASHED feature buckets under a target distribution vs the
    * raw corpus — `avg_b ln(p_target(b) / p_raw(b))`, add-one smoothed.
    * High scores read like the target domain; resampling by these
    * weights tilts a raw crawl toward it. Hashing (md5 mod `buckets`)
    * is what makes this scale-free: the feature space is FIXED at
    * `buckets` regardless of vocabulary size.
    *
    * `targetCol` is a boolean expression over `docs` rows marking the
    * target subset (e.g. `col("source") === "curated"`); the raw
    * distribution is the whole input, so target ⊆ raw by construction
    * and every token bucket is present in the raw counts (no zero-raw
    * division).
    *
    * Scale shape: one tokenize/explode pass feeds a `buckets`-keyed
    * count (both classes in ONE aggregation — tiny shuffle, map-side
    * combined to ≤`buckets` rows per task) and the scoring join. The
    * bucket weight table is ≤`buckets` rows BY CONSTRUCTION, so its
    * broadcast hint is legitimate at any corpus size — the bounded-
    * dimension case, not the vocabulary-broadcast hazard
    * ([[TextAnalysis.tfidfWeights]] scaladoc): cardinality is fixed by
    * a constructor parameter, not by the data. Totals ride the one-row
    * broadcast-aggregate pattern ([[Events.decayedSum]]), never a
    * driver action. Docs are scanned twice (counts + scoring), the
    * same trade as [[Dedup.dupNgramStats]]. */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
      targetCol: Column, buckets: Int = 1024): DataFrame =
    dsirScoreFromWeights(docs, idCol, textCol,
      dsirBucketWeights(docs, idCol, textCol, targetCol, buckets), buckets)

  /** (id, __bk) token-bucket pairs: one codegen'd tokenize/explode/hash
    * pass. 6 md5 hex chars = 24 bits, non-negative — plain % is a safe
    * mod. */
  private def tokenBuckets(docs: DataFrame, idCol: String, textCol: String,
      buckets: Int): DataFrame =
    docs.select(col(idCol).as("id"),
        explode(TextAnalysis.tokens(col(textCol))).as("__w"))
      .select(col("id"),
        (conv(substring(md5(col("__w").cast("binary")), 1, 6), 16, 10)
          .cast("long") % buckets).as("__bk"))

  /** The trained half of [[dsirWeights]]: the ≤`buckets`-row table of
    * per-bucket log-likelihood ratios `(bucket, log_weight)`. Persist
    * it (or hold it across micro-batches) to score new data against a
    * FIXED reference model — the model does not drift as batches
    * arrive, which is what makes incremental scoring micro-batching-
    * invariant ([[graft.streaming.StreamingOps.incrementalDsirScores]]). */
  def dsirBucketWeights(corpus: DataFrame, idCol: String, textCol: String,
      targetCol: Column, buckets: Int = 1024): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val tok = corpus.select(targetCol.as("__t"),
        explode(TextAnalysis.tokens(col(textCol))).as("__w"))
      .select(col("__t"),
        (conv(substring(md5(col("__w").cast("binary")), 1, 6), 16, 10)
          .cast("long") % buckets).as("__bk"))
    val counts = tok.groupBy(col("__bk"))
      .agg(sum(when(col("__t"), lit(1L)).otherwise(lit(0L))).as("__ct"),
        count(lit(1)).as("__cr"))
    val totals = counts.agg(sum(col("__ct")).cast("double").as("__tt"),
      sum(col("__cr")).cast("double").as("__tr"))
    counts.crossJoin(broadcast(totals))
      .select(col("__bk").as("bucket"),
        log(((col("__ct") + lit(1L)) / (col("__tt") + lit(buckets))) /
          ((col("__cr") + lit(1L)) / (col("__tr") + lit(buckets))))
          .as("log_weight"))
  }

  /** The scoring half of [[dsirWeights]]: mean per-token-bucket
    * `log_weight` per doc against a PRE-TRAINED weight table. Tokens
    * hashing to a bucket ABSENT from the table (possible only when the
    * model corpus put zero tokens in that bucket — rare once the corpus
    * dwarfs `buckets`) are dropped from the score and from `n_tokens`
    * (inner join); self-trained scoring ([[dsirWeights]]) never hits
    * this because every scored bucket is in the training data.
    * `buckets` must match the value the table was trained with — the
    * hash mod IS the feature space. */
  def dsirScoreFromWeights(docs: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, buckets: Int = 1024): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    tokenBuckets(docs, idCol, textCol, buckets)
      .join(broadcast(weights), col("__bk") === col("bucket"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(col("log_weight")), 6).as("avg_logratio"))
  }

  /** The selection step of DSIR: Gumbel top-k resampling by the
    * [[dsirWeights]] scores. Adding independent Gumbel noise to each
    * log-weight and taking the top k draws an exact weighted sample
    * WITHOUT replacement (the Gumbel-max trick), in one pass with no
    * sequential state — the distributed-friendly form of importance
    * resampling. `temperature` interpolates between greedy top-k by
    * score (→0) and uniform sampling (→∞).
    *
    * The noise is `-ln(-ln(u))` with `u` the md5-derived uniform of the
    * doc id ([[Sampling.hashUniform]], +½ulp₃₂ shift to keep u in the
    * OPEN interval), so the sample is a pure function of doc ids —
    * reproducible across engines, reruns, and partitionings, same as
    * every other sampler here. Top-k is orderBy+limit
    * (TakeOrderedAndProject: per-partition heaps, no global sort).
    * The selection key is sorted UNROUNDED (the score itself is already
    * rounded inside [[dsirWeights]], so cross-engine key drift is the
    * sub-ulp `ln` noise only); the emitted key is rounded for the
    * hash-compare. */
  def dsirResample(docs: DataFrame, idCol: String, textCol: String,
      targetCol: Column, k: Int, buckets: Int = 1024,
      temperature: Double = 1.0): DataFrame = {
    require(k > 0, "k must be positive")
    require(temperature > 0, "temperature must be positive")
    val gumbel = -log(-log(
      Sampling.hashUniform(col("id")) + lit(0.5 / 4294967296.0)))
    dsirWeights(docs, idCol, textCol, targetCol, buckets)
      .withColumn("__gk", col("avg_logratio") / temperature + gumbel)
      .orderBy(col("__gk").desc, col("id").asc)
      .limit(k)
      .select(col("id"), col("n_tokens"), col("avg_logratio"),
        round(col("__gk"), 6).as("gumbel_key"))
  }

  /** Greedy LEADER (diversity) selection within quantizer cells — the
    * coreset-flavored complement of SemDeDup ([[Dedup.semanticPairs]]):
    * instead of flagging near-duplicate PAIRS, it emits a subset that
    * is mutually diverse BY CONSTRUCTION — scanning each cell in
    * vec_id order, a vector is selected iff its cosine to every
    * already-selected vector in that cell is < `threshold` (so any two
    * selected vectors in a cell are < threshold apart, and every
    * rejected vector has a selected representative ≥ threshold — the
    * classic greedy facility-location/leader guarantee, used to cap
    * embedding-space redundancy in a training mix). Output one row per
    * SELECTED vector: (vec_id, cell, sel_rank) with sel_rank the
    * 1-based selection order within the cell.
    *
    * Scale shape: cells process in parallel; WITHIN a cell the greedy
    * scan is inherently sequential (selection is order-defined — that
    * determinism is what makes the result reproducible and oracled),
    * so each cell collapses into one bounded aggregation buffer
    * (sorted members, one higher-order fold — no window, no join). The
    * SemDeDup cell policy bounds the buffer: k ≈ √n cells keeps cells
    * ~√n rows; `maxCellRows` (0 = off) refuses a degenerate cell
    * instead of building an executor-OOM plan, same contract as
    * semanticPairs' maxCellPairs guard. */
  def diversitySelect(emb: DataFrame, threshold: Double, nClusters: Int = 8,
      trainIters: Int = 2, maxCellRows: Long = 100000L): DataFrame =
    diversitySelectWithCentroids(emb,
      Clustering.trainCentroids(emb, nClusters, trainIters), threshold,
      maxCellRows)

  /** [[diversitySelect]] against a PRE-TRAINED quantizer — the
    * persisted-model form, and the primitive the incremental twin
    * ([[diversitySelectAgainst]]) shares cells with. */
  def diversitySelectWithCentroids(emb: DataFrame,
      centroids: Seq[(Int, Seq[Double])], threshold: Double,
      maxCellRows: Long = 100000L): DataFrame = {
    val spark = emb.sparkSession
    if (centroids.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Int, Int)].toDF("vec_id", "cell", "sel_rank")
    }
    val assigned = Clustering.assign(emb, centroids)
      .select(col("vec_id"), col("cluster"))
    if (maxCellRows > 0) {
      val maxCell = assigned.groupBy(col("cluster"))
        .agg(count(lit(1)).as("c"))
        .agg(coalesce(max(col("c")), lit(0L))).head().getLong(0)
      require(maxCell <= maxCellRows,
        s"diversitySelect largest cell is $maxCell rows, over the " +
        s"$maxCellRows guard: raise nClusters (k should grow ~sqrt(n)) " +
        "or raise maxCellRows for a deliberate oversized run")
    }
    val prepped = Similarity.withNorms(emb).join(assigned, Seq("vec_id"))
    val selType = "array<struct<vec_id:bigint,emb_d:array<double>,nrm:double>>"
    val cells = prepped.groupBy(col("cluster"))
      .agg(sort_array(collect_list(
        struct(col("vec_id"), col("emb_d"), col("nrm")))).as("__ms"))
    cells.select(col("cluster").as("cell"),
        aggregate(col("__ms"), expr(s"cast(array() as $selType)"),
          (acc, x) => when(
            forall(acc, s =>
              graft.functions.GraftFunctions.vectorDot(s.getField("emb_d"),
                x.getField("emb_d")) /
                (s.getField("nrm") * x.getField("nrm")) < threshold),
            concat(acc, array(x))).otherwise(acc)).as("__sel"))
      // posexplode_OUTER + generated-column filter, NOT posexplode:
      // InferFiltersFromGenerate would synthesize size(__sel) > 0 and
      // inline the whole greedy fold (vector_dot forall — the
      // operator's core cost) into a Filter that re-evaluates it per
      // cell (the q_chunk_sentences blowup). The rule skips outer
      // generators; an empty selection emits one null row the cheap
      // filter drops — row-identical.
      .select(col("cell"), posexplode_outer(col("__sel")).as(Seq("__i", "__s")))
      .filter(col("__s").isNotNull)
      .select(col("__s.vec_id").as("vec_id"), col("cell"),
        (col("__i") + 1).cast("int").as("sel_rank"))
  }

  /** Incremental diversity selection: continue the greedy leader scan
    * over a NEW batch against a STORED selected set — the ingest form
    * where the corpus never re-pays its own scan. `selectedStore` is
    * [[diversitySelect]]'s output (vec_id, cell, sel_rank); vectors are
    * re-fetched from `corpusEmb` by id (the store stays the small
    * all-integer artifact). Each batch member (in vec_id order within
    * its cell, cells from the SAME pre-trained quantizer) is selected
    * iff its cosine to every stored AND every earlier-accepted batch
    * vector in the cell stays < `threshold`; output is the NEW
    * selections only, sel_rank continuing the stored numbering.
    *
    * Append ≡ rebuild EXACTLY when batch ids follow corpus ids (the
    * monotone-ingest invariant — ids assigned by arrival, the same
    * precondition [[Dedup.incrementalClusters]] documents): the
    * concatenated scan order equals the from-scratch scan order, so
    * stored ∪ new == `diversitySelectWithCentroids` over the union
    * (spec-pinned). Interleaved ids still yield a valid mutually-
    * diverse covering set, just not the rebuild's exact one. */
  def diversitySelectAgainst(batch: DataFrame, selectedStore: DataFrame,
      corpusEmb: DataFrame, centroids: Seq[(Int, Seq[Double])],
      threshold: Double, maxCellRows: Long = 100000L): DataFrame = {
    val spark = batch.sparkSession
    if (centroids.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Int, Int)].toDF("vec_id", "cell", "sel_rank")
    }
    val assignedBatch = Clustering.assign(batch, centroids)
      .select(col("vec_id"), col("cluster").as("cell"))
    if (maxCellRows > 0) {
      val maxCell = assignedBatch.select(col("cell"))
        .union(selectedStore.select(col("cell")))
        .groupBy(col("cell")).agg(count(lit(1)).as("c"))
        .agg(coalesce(max(col("c")), lit(0L))).head().getLong(0)
      require(maxCell <= maxCellRows,
        s"diversitySelectAgainst largest cell (stored+batch) is $maxCell " +
        s"rows, over the $maxCellRows guard: raise nClusters on the next " +
        "rebuild (k should grow ~sqrt(n)) or raise maxCellRows")
    }
    val selType = "array<struct<vec_id:bigint,emb_d:array<double>,nrm:double>>"
    // Contract guard: every stored selection MUST re-fetch its vector
    // from corpusEmb — a store row whose vec_id is missing would
    // silently vanish from the accumulator seed, weakening the
    // mutual-diversity guarantee and shifting sel_rank continuation.
    // Fail fast instead (the maxCellRows style); the store is a small
    // bounded artifact, so the two counts are cheap.
    val storedJoined =
      selectedStore.join(Similarity.withNorms(corpusEmb), Seq("vec_id"))
    val nStore = selectedStore.count()
    val nJoined = storedJoined.count()
    require(nJoined == nStore,
      s"diversitySelectAgainst: ${nStore - nJoined} of $nStore stored " +
      "selections have no vector in corpusEmb — the store and the corpus " +
      "embedding table are out of sync; pass the corpus the store was " +
      "selected from (or re-run the full rebuild)")
    val storedCells = storedJoined
      .groupBy(col("cell"))
      .agg(sort_array(collect_list(struct(col("sel_rank"), col("vec_id"),
        col("emb_d"), col("nrm")))).as("__st"))
    val batchCells = assignedBatch.join(Similarity.withNorms(batch), Seq("vec_id"))
      .groupBy(col("cell"))
      .agg(sort_array(collect_list(
        struct(col("vec_id"), col("emb_d"), col("nrm")))).as("__ms"))
    batchCells
      .join(storedCells, Seq("cell"), "left_outer")
      // stored entries (ordered by sel_rank) seed the accumulator; a
      // cell with no stored selections starts empty
      .withColumn("__init", coalesce(
        transform(col("__st"), s => struct(s.getField("vec_id").as("vec_id"),
          s.getField("emb_d").as("emb_d"), s.getField("nrm").as("nrm"))),
        expr(s"cast(array() as $selType)")))
      .withColumn("__all",
        aggregate(col("__ms"), col("__init"),
          (acc, x) => when(
            forall(acc, s =>
              graft.functions.GraftFunctions.vectorDot(s.getField("emb_d"),
                x.getField("emb_d")) /
                (s.getField("nrm") * x.getField("nrm")) < threshold),
            concat(acc, array(x))).otherwise(acc)))
      .withColumn("__new",
        expr("slice(__all, size(__init) + 1, size(__all) - size(__init))"))
      .withColumn("__base", size(col("__init")))
      // posexplode_outer + filter: see diversitySelect — the inferred
      // size(__new) > 0 filter would inline and re-evaluate the
      // continuation fold per cell
      .select(col("cell"), col("__base"),
        posexplode_outer(col("__new")).as(Seq("__i", "__s")))
      .filter(col("__s").isNotNull)
      .select(col("__s.vec_id").as("vec_id"), col("cell"),
        (col("__base") + col("__i") + 1).cast("int").as("sel_rank"))
  }
}
