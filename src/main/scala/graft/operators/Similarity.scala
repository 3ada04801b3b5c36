package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Three tiers, trading exactness for scale:
  *  - [[bruteForceTopK]] — exact: broadcast the (small) query set against
  *    the full corpus; the corpus is scanned once, never collected. The
  *    correct baseline, and the right plan whenever |queries| is small.
  *  - [[srpCandidatePairs]] / near-dup — signed-random-projection LSH:
  *    banded signature equi-join generates candidates, exact cosine
  *    verifies. Join-keyed, so it scales like the dedup LSH.
  *  - [[ivfTopK]] — IVF-style partitioned search: vectors are assigned
  *    to their nearest coarse centroid cell; queries probe only
  *    `nprobe` cells, cutting the scored fraction to ~nprobe/nCells.
  *
  * All dot products run through the fused native VectorDot Catalyst
  * expression in double precision — no UDFs, no BLAS dependency, no
  * per-row array allocation. Hyperplanes/centroids are deterministic (seeded), so
  * results are reproducible run-to-run — required by the driver's
  * hash-compare and good practice besides.
  */
object Similarity {

  /** Default row ceiling for the O(n²) oracle baselines: ~10⁵ vectors
    * ≈ 5·10⁹ scored pairs — hours of compute, the outer edge of
    * "deliberate baseline run" and far below any corpus-scale table. */
  val DefaultBruteForceMaxRows = 100000L

  /** Default ceiling for the BROADCAST query batch of
    * [[knnJoinWithCentroids]]: 10⁶ rows ≈ tens–hundreds of MB of
    * double vectors — the top of the documented retrieval-batch range
    * (10³–10⁶) and still executor-memory-safe; a corpus-scale query
    * table must be sharded instead. */
  val DefaultKnnQueryBatchMaxRows = 1000000L

  /** Refuse to build an all-pairs plan over a table larger than
    * `maxRows` — the brute-force entry points are ORACLE BASELINES for
    * recall measurement, and an accidental run against a corpus-scale
    * table would be an unbounded cross product. The check is a Spark
    * job at plan-build time (the input is evaluated once extra, and
    * again by the returned plan), but `limit(maxRows + 1)` caps it:
    * Spark's incremental take stops scanning once maxRows + 1 rows
    * surface, so guarding against a 100 TB table costs a partial scan,
    * not a full count of it. (Streaming inputs can't be guarded this
    * way — these baseline entry points are batch-only.) */
  private def guardSize(df: DataFrame, maxRows: Long, op: String,
      scalePath: String): Unit = {
    val cap = math.min(maxRows + 1, Int.MaxValue.toLong).toInt
    val over = df.limit(cap).count() > maxRows
    require(!over,
      s"$op is an O(n²) oracle baseline, refused at > $maxRows rows: " +
      s"use $scalePath at scale, or raise maxRows for a deliberate " +
      "oversized baseline run")
  }

  /** Sequential-fold dot product in double precision — same summation
    * order as the DuckDB oracle's list_sum, so values match bit-for-bit
    * after rounding. Runs as the fused native
    * [[graft.functions.VectorDot]] expression (no per-row intermediate
    * array — see its scaladoc for why the composed
    * aggregate∘zip_with form loses at O(n²) pair counts). */
  def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.vectorDot(a.cast("array<double>"), b.cast("array<double>"))

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** NULL when either vector is all zeros ([[Pairs.cosine]]); a NULL
    * score ranks after every scored neighbour under `desc`. */
  def cosine(a: Column, b: Column): Column = Pairs.cosine(dot(a, b), norm(a) * norm(b))

  /** Exact top-k cosine neighbors for a query subset (`vec_id % every
    * == 0`), self excluded. The query side is broadcast; ranking is a
    * window partitioned by query id (shuffles only the scored pairs that
    * survive, k per query after the filter).
    *
    * ORACLE BASELINE — scores |corpus|·|queries| pairs. [[guardSize]]
    * refuses corpora above `maxRows` so the O(n²) path can't ship to a
    * 100 TB table by accident; the scale path is [[ivfTopK]]. */
  def bruteForceTopK(emb: DataFrame, k: Int, every: Long = 50L,
      maxRows: Long = DefaultBruteForceMaxRows): DataFrame = {
    guardSize(emb, maxRows, "bruteForceTopK", "ivfTopK")
    // norms and double-casts precomputed per VECTOR (n of them), not per
    // scored pair (n·q of them) — same arithmetic, 3x fewer array folds
    val prepped = withNorms(emb)
    val q = prepped.filter(col("vec_id") % every === 0L)
      .select(col("vec_id").as("query_id"), col("emb_d").as("q_emb"),
        col("nrm").as("q_nrm"))
    val scored = prepped
      .select(col("vec_id").as("neighbor_id"), col("emb_d"), col("nrm"))
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", Pairs.cosine(dot(col("q_emb"), col("emb_d")),
        col("q_nrm") * col("nrm")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(desc("cos"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cos"), 6).as("cos"))
  }

  /** Exact all-pairs above a cosine threshold (a < b). O(n²) scoring —
    * the oracle baseline; [[guardSize]] refuses corpora above `maxRows`
    * (use [[srpNeardupPairs]] at scale). */
  def exactNeardupPairs(emb: DataFrame, threshold: Double,
      maxRows: Long = DefaultBruteForceMaxRows): DataFrame = {
    guardSize(emb, maxRows, "exactNeardupPairs", "srpNeardupPairs")
    val prepped = withNorms(emb)
    def side(s: String) = prepped.select(col("vec_id").as(s),
      col("emb_d").as(s"emb_d_$s"), col("nrm").as(s"nrm_$s"))
    verifyCosine(side("a").crossJoin(broadcast(side("b"))).filter(col("a") < col("b")),
      threshold)
      .select(col("a"), col("b"), col("cos"))
  }

  /** Deterministic pseudo-random unit hyperplanes (seeded). */
  private def hyperplanes(nBits: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nBits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Signed-random-projection signature: bit i = [dot(v, plane_i) >= 0].
    * Returned as an array<int> of 0/1 (band-sliceable). */
  def srpSignature(emb: Column, nBits: Int, dim: Int, seed: Long = 42L): Column = {
    val planes = hyperplanes(nBits, dim, seed)
    array(planes.map(p =>
      when(dot(emb, typedLit(p)) >= 0.0, 1).otherwise(0)): _*)
  }

  /** SRP-LSH candidate pairs: equi-join on (band index, band signature
    * slice); verify with exact cosine >= threshold. For similarity s,
    * P[bit match] = 1 - acos(s)/π; with band width r and b bands,
    * P[candidate] = 1 - (1 - p^r)^b. Defaults (32 bits, 8 bands of 4)
    * give ~0.8 recall at s = 0.45 on unit-random 64-d data — tune r up
    * for high-similarity regimes.
    *
    * Band keys are the concatenated slice BITS (not a murmur3 of them):
    * collision-free, so the candidate set is exactly slice equality —
    * what the DuckDB oracle expresses — and a hash collision can never
    * admit a pair on one side only. */
  def srpNeardupPairs(emb: DataFrame, dim: Int, threshold: Double,
      nBits: Int = 32, bands: Int = 8, seed: Long = 42L): DataFrame = {
    val prepped = withNorms(emb)
    val banded = srpBandedSignatures(emb, dim, nBits, bands, seed)
    // candidates dedup on bare id pairs (cheap), embeddings re-joined after
    val cands = Pairs.self(banded, "vec_id", Seq("band", "band_key"))
      .select("a", "b").distinct()
    verifyCosine(Pairs.withSides(cands, prepped, prepped, "vec_id", "emb_d", "nrm"),
      threshold)
      .select(col("a"), col("b"), col("cos"))
  }

  /** `(vec_id, emb_d, nrm)`: the embedding as `array<double>` and its L2
    * norm, computed once per vector rather than once per scored pair. */
  private[operators] def withNorms(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("emb_d"))
      .withColumn("nrm", sqrt(dot(col("emb_d"), col("emb_d"))))

  /** Pairs carrying `emb_d_a`/`nrm_a`/`emb_d_b`/`nrm_b` whose cosine
    * reaches `threshold`, with `cos` rounded to 6 decimals. */
  private[operators] def verifyCosine(pairs: DataFrame, threshold: Double): DataFrame =
    pairs.withColumn("cos", Pairs.cosine(dot(col("emb_d_a"), col("emb_d_b")),
        col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= threshold)
      .withColumn("cos", round(col("cos"), 6))

  /** SRP banded signature index over an embedding table: (vec_id, band,
    * band_key) — the PERSISTED artifact of a production SRP-LSH
    * deployment, mirroring [[Dedup.bandedSignatures]] for MinHash:
    * write it once for the corpus (bucketed on band_key via
    * [[graft.sources.Sinks.writeBucketed]], so ingest batches band-join
    * without re-shuffling the index), grow it with
    * [[graft.sources.Sinks.appendBucketed]] after each batch clears
    * dedup. Signatures are seeded-deterministic, so appended rows are
    * identical to what a rebuild would produce (the append ≡ rebuild
    * property SimilaritySpec pins).
    *
    * SIZE THE BANDS FOR THE CORPUS: an uncorrelated pair matches a
    * band with probability ~2^-r (r = nBits/bands; p ≈ 0.5 on random
    * vectors), so the candidate-rate FLOOR is ~1−(1−2^-r)^bands
    * regardless of threshold — r = 4 admits ~40% of all cross pairs
    * (no pruning; ScaleProbe measured 53s→3s at 8k vectors from
    * widening alone), r = 8 ~1.6%, r = 16 ~10⁻⁴. The small-corpus
    * default (32/8 → r = 4) favors recall at moderate similarity;
    * at corpus scale raise nBits and r together, adding bands to buy
    * recall back (P[candidate at sim s] = 1−(1−p^r)^bands with
    * p = 1 − acos(s)/π). */
  def srpBandedSignatures(emb: DataFrame, dim: Int, nBits: Int = 32,
      bands: Int = 8, seed: Long = 42L): DataFrame = {
    val sig = srpSignature(col("embedding").cast("array<double>"), nBits, dim, seed)
    emb.select(col("vec_id"), posexplode(graft.functions.GraftFunctions
      .bandKeys(sig, nBits, bands, "")).as(Seq("band", "band_key")))
  }

  /** Incremental SRP-LSH near-dup against a PERSISTED band index: the
    * ingest batch is signed and banded fresh, candidates come from the
    * band-key equi-join against the stored corpus index (bucketed on
    * band_key, so the index side never re-shuffles), and survivors are
    * verified by exact cosine against the corpus embedding table. The
    * corpus pays signing once at ingest; each batch costs its own
    * signatures plus a bucket-keyed join linear in the batch — the same
    * lifecycle as [[Dedup.minHashLshCrossPairs]]. An id on both sides is
    * not paired with itself ([[Pairs]]). */
  def srpNeardupCrossPairs(batch: DataFrame, corpusBanded: DataFrame,
      corpus: DataFrame, dim: Int, threshold: Double, nBits: Int = 32,
      bands: Int = 8, seed: Long = 42L): DataFrame = {
    val bb = srpBandedSignatures(batch, dim, nBits, bands, seed)
    val cands = Pairs.cross(bb, corpusBanded, "vec_id", Seq("band", "band_key"))
      .select("a", "b").distinct()
    verifyCosine(Pairs.withSides(cands, withNorms(batch), withNorms(corpus),
      "vec_id", "emb_d", "nrm"), threshold)
      .select(col("a").as("batch_id"), col("b").as("corpus_id"), col("cos"))
  }

  /** IVF-style top-k with TRAINED coarse centroids: the quantizer is
    * `trainIters` rounds of [[Clustering.trainCentroids]] (deterministic
    * lowest-id init + 6-decimal anchors, so an oracle can replay the
    * trajectory), then [[ivfTopKWithCentroids]] probes it. Trained cells
    * follow the data distribution, so probing `nprobe` of `nCells`
    * recovers more true neighbors than the same probe budget over a
    * sampled quantizer (SimilaritySpec pins the recall ordering). */
  def ivfTopK(emb: DataFrame, k: Int, nCells: Int = 16, nprobe: Int = 4,
      every: Long = 50L, trainIters: Int = 2,
      corpusFilter: Column = lit(true)): DataFrame = {
    // hybrid (filtered) search trains the quantizer on the SEARCHABLE
    // subset — cells model the distribution being probed, not the
    // whole table (a predicate-skewed corpus would otherwise waste
    // probe budget on cells holding only filtered-out vectors)
    val centroids =
      Clustering.trainCentroids(emb.filter(corpusFilter), nCells, trainIters)
    ivfTopKWithCentroids(emb, k, centroids, nprobe, every, corpusFilter)
  }

  /** IVF-style top-k over a GIVEN coarse-centroid set (trained offline
    * in production — the centroid list is the model artifact). Every
    * vector is assigned to its nearest centroid by L2 distance (the
    * k-means criterion, ties toward the lower cell id); each query
    * probes the `nprobe` nearest cells and ranks only vectors in them —
    * scoring ~nprobe/nCells of the corpus instead of all of it.
    *
    * `corpusFilter` restricts the NEIGHBOR side only (hybrid /
    * metadata-filtered search: "top-k among label=2 vectors"): queries
    * still come from the full table, and the predicate is applied
    * BEFORE cell assignment, so it reaches the parquet scan as a
    * pushed filter — the corpus side reads and scores only matching
    * rows. Default `lit(true)` is folded away by the optimizer. */
  def ivfTopKWithCentroids(emb: DataFrame, k: Int,
      centroids: Seq[(Int, Seq[Double])], nprobe: Int = 4,
      every: Long = 50L, corpusFilter: Column = lit(true)): DataFrame =
    knnJoinWithCentroids(emb.filter(col("vec_id") % every === 0L),
      emb.filter(corpusFilter), k, centroids, nprobe, excludeSameId = true)

  /** Cross-TABLE approximate kNN join — retrieve the top-k corpus
    * neighbors for EVERY row of a separate query table (the
    * eval-retrieval / RAG / cross-corpus-linkage shape, where
    * [[ivfTopK]] is the self-join special case). The quantizer is
    * trained on the corpus (the side being searched); queries are a
    * different table and never influence the cells.
    *
    * Scale shape: identical to [[ivfTopKWithCentroids]] — the corpus is
    * assigned once (one scan, no shuffle beyond the ranking window on
    * surviving pairs) and the query batch is broadcast into every
    * corpus cell it probes. The broadcast is the right plan when
    * |queries| is a retrieval batch (10³–10⁶ rows); for a full
    * corpus-vs-corpus join, call this per query-shard so each broadcast
    * stays executor-memory-bounded. `excludeSameId` is off by default:
    * ids from two different tables are unrelated namespaces. */
  def knnJoin(queries: DataFrame, corpus: DataFrame, k: Int,
      nCells: Int = 16, nprobe: Int = 4, trainIters: Int = 2): DataFrame = {
    val centroids = Clustering.trainCentroids(corpus, nCells, trainIters)
    knnJoinWithCentroids(queries, corpus, k, centroids, nprobe,
      excludeSameId = false)
  }

  /** [[knnJoin]] against a PRE-TRAINED quantizer (the persisted-model
    * form: train once offline, retrieve for every incoming batch).
    *
    * CONTRACT: `vec_id` is the row's IDENTITY and must be unique per
    * row on both sides — rank tie-breaks, self-exclusion, and the
    * broadcast-join route of the cell assignment ([[Centroids.nearest]],
    * which aggregates per id) all key on it; rows sharing an id would
    * collapse into one pseudo-vector there. `nprobe` must be at least 1.
    *
    * The query batch is BROADCAST into every probed corpus cell, so it
    * must stay executor-memory-bounded: batches above `maxQueryRows`
    * (default [[DefaultKnnQueryBatchMaxRows]]) are refused at
    * plan-build time with the shard guidance — a `limit`-capped
    * partial count, the [[guardSize]] costing — instead of OOMing an
    * executor mid-job. Batch-sized callers are unaffected. */
  def knnJoinWithCentroids(queries: DataFrame, corpus: DataFrame, k: Int,
      centroids: Seq[(Int, Seq[Double])], nprobe: Int = 4,
      excludeSameId: Boolean = false,
      maxQueryRows: Long = DefaultKnnQueryBatchMaxRows): DataFrame = {
    val spark = corpus.sparkSession
    if (centroids.isEmpty) {
      // empty corpus: no cells — return an empty, correctly-typed result
      import spark.implicits._
      return Seq.empty[(Long, Long, Int, Double)]
        .toDF("query_id", "neighbor_id", "rank", "cos")
    }
    val qCap = math.min(maxQueryRows + 1, Int.MaxValue.toLong).toInt
    require(queries.limit(qCap).count() <= maxQueryRows,
      s"knnJoinWithCentroids broadcasts the query batch into every " +
      s"probed corpus cell; this batch exceeds $maxQueryRows rows and " +
      "would not stay executor-memory-bounded. Shard the query table " +
      "(e.g. by vec_id range or hash bucket) and call once per shard — " +
      "per-shard results are independent and concatenate — or raise " +
      "maxQueryRows deliberately for a cluster with the memory headroom.")
    // prep AFTER any caller-side filter so predicates (on any metadata
    // column) are still resolvable and reach the scan
    def prep(df: DataFrame): DataFrame = df.select(col("vec_id"),
      col("embedding").cast("array<double>").as("emb_d"))
      .withColumn("nrm", sqrt(dot(col("emb_d"), col("emb_d"))))
    val assigned = Centroids.nearest(prep(corpus), "emb_d", centroids, 1,
        "vec_id", "emb_d", "nrm")
      .select(col("vec_id"), col("emb_d"), col("nrm"), col("near")(0)("id").as("cell"))
    val probes = Centroids.nearest(prep(queries), "emb_d", centroids, nprobe,
        "vec_id", "emb_d", "nrm")
      .select(col("vec_id").as("query_id"), col("emb_d").as("q_emb"),
        col("nrm").as("q_nrm"),
        explode(transform(col("near"), s => s.getField("id"))).as("cell"))
    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .filter(if (excludeSameId) col("vec_id") =!= col("query_id") else lit(true))
      .withColumn("cos", Pairs.cosine(dot(col("q_emb"), col("emb_d")),
        col("q_nrm") * col("nrm")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(desc("cos"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"),
        round(col("cos"), 6).as("cos"))
  }

  /** Matryoshka-style dimension truncation: keep the first `d`
    * coordinates of `vecCol` (MRL-trained embeddings front-load
    * information, so the prefix is itself a usable lower-cost
    * embedding — Kusupati et al., NeurIPS 2022). Pure codegen'd
    * projection; downstream cosine needs no re-normalization because
    * it normalizes by the truncated norm. The serving decision this
    * enables — how much recall d dims give up vs the full vector — is
    * measured by the q_matryoshka_recall audit, the [[quantizeInt8]]
    * `recon_err` twin for the OTHER axis of embedding compression
    * (fewer dims vs fewer bits). */
  def truncateDims(emb: DataFrame, d: Int,
      vecCol: String = "embedding"): DataFrame =
    emb.withColumn(vecCol, slice(col(vecCol), 1, d))

  /** Per-vector symmetric int8 quantization — the storage/serving
    * compression step of an embedding pipeline (4x smaller than float32,
    * 8x smaller than the double working form). scale = 127/max|x| (1.0
    * for an all-zero vector), q_i = clamp(round(x_i·scale), ±127);
    * `recon_err` is the L2 distance between the vector and its
    * dequantized form — the quality metric a pipeline monitors per
    * shard/label. Pure per-row projection: no shuffle, fully codegen'd,
    * scales linearly with the scan. */
  def quantizeInt8(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val out = emb
      .withColumn("__e", col(vecCol).cast("array<double>"))
      .withColumn("__amax", array_max(transform(col("__e"), x => abs(x))))
      .withColumn("scale",
        when(col("__amax") === 0.0, lit(1.0))
          .otherwise(lit(127.0) / col("__amax")))
      .withColumn("qvec", transform(col("__e"), x =>
        greatest(lit(-127.0), least(lit(127.0), round(x * col("scale"))))
          .cast("int")))
      .withColumn("recon_err", sqrt(aggregate(
        zip_with(col("__e"), col("qvec"),
          (x, q) => (x - q.cast("double") / col("scale")) *
            (x - q.cast("double") / col("scale"))),
        lit(0.0), (acc, v) => acc + v)))
    out.drop("__e", "__amax")
  }

  /** Product-quantization codebooks: the vector space is split into
    * `subspaces` contiguous slices of dim/subspaces dims, and each
    * slice gets its own k-means codebook of `codesPerSubspace` entries
    * trained by [[Clustering.trainCentroids]] (deterministic lowest-id
    * init + 6-decimal anchors, so an oracle can replay every one of the
    * `subspaces` trajectories). A 64-d float32 vector compresses to
    * `subspaces` byte-sized codes — 32x smaller — which is what makes
    * corpus-resident ANN state feasible at 100 TB: the ADC scan reads
    * the codes table, never the raw vectors.
    *
    * Training cost is `subspaces` independent Lloyd runs over the
    * sliced corpus (each caches its slice for `trainIters` scans),
    * submitted CONCURRENTLY: the runs share no state, so their Spark
    * jobs overlap on the cluster instead of serializing ~2·subspaces
    * rounds of driver latency (measured 3x wall-time on the bench's
    * small inputs; at corpus scale the overlap hides all but the
    * slowest run's scans). Each run's trajectory is unchanged —
    * identical inputs, identical deterministic seed — so results (and
    * the per-subspace oracle replays) are byte-identical to the
    * sequential form. At scale, train on a bounded sample — the
    * codebooks are a model artifact, like IVF centroids, and apply
    * unchanged to the full corpus and to future batches. */
  def pqCodebooks(emb: DataFrame, dim: Int, subspaces: Int = 8,
      codesPerSubspace: Int = 16, trainIters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : Seq[Seq[(Int, Seq[Double])]] = {
    require(dim % subspaces == 0, "dim must divide evenly into subspaces")
    // no codegen cap here: encode/ADC run through the native PqOps
    // kernels (loops over a referenced model, not unrolled literals),
    // so the standard 256-entry codebooks of published PQ systems are
    // fine; training itself switches to Centroids.nearest's
    // broadcast-join route above its literal cap
    require(codesPerSubspace > 0, "codesPerSubspace must be positive")
    val sub = dim / subspaces
    val pool = java.util.concurrent.Executors.newFixedThreadPool(subspaces)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val trained = (0 until subspaces).map { s =>
        scala.concurrent.Future {
          val sliced = emb.select(col(idCol).as("vec_id"),
            slice(col(vecCol).cast("array<double>"), s * sub + 1, sub)
              .as("__sub"))
          Clustering.trainCentroids(sliced, codesPerSubspace, trainIters,
            idCol = "vec_id", vecCol = "__sub")
        }
      }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(trained),
        scala.concurrent.duration.Duration.Inf)
    } finally pool.shutdown()
  }

  /** Encode every vector as its per-subspace nearest-codebook-entry
    * codes: (vec_id, codes array<int>). One codegen'd projection — per
    * subspace an argmin over `codesPerSubspace` literal structs on the
    * algebraic squared distance, ties toward the lower code (the
    * k-means criterion, same as the oracle's row_number order). This is
    * the artifact a production pipeline PERSISTS (bucketed by vec_id
    * range or IVF cell); batches/streams encode with the same fixed
    * codebooks. */
  def pqEncode(emb: DataFrame, codebooks: Seq[Seq[(Int, Seq[Double])]],
      dim: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
      "pqEncode needs non-empty codebooks (empty corpus trains none)")
    emb.select(col(idCol).as("vec_id"),
      pqCodesCol(col(vecCol).cast("array<double>"), codebooks, dim).as("codes"))
  }

  /** The codes projection itself — the native
    * [[graft.functions.GraftFunctions.pqEncode]] kernel: per subspace an argmin
    * on the algebraic squared distance (ties toward the lower code, the
    * k-means criterion and the oracle's row_number order). A composed
    * literal-argmin column would unroll subspaces×codes dot products
    * into one unsplittable generated method and blow Janino's 64 KB cap
    * once fused with a downstream sort (see PqOps scaladoc); the native
    * kernel keeps the stage codegen'd at any codebook size. Shared by
    * [[pqEncode]] and [[pqEncodeWithCells]]. */
  private def pqCodesCol(e: Column,
      codebooks: Seq[Seq[(Int, Seq[Double])]], dim: Int): Column =
    graft.functions.GraftFunctions.pqEncode(e, codebooks)

  /** ADC (asymmetric distance computation) top-k over an ENCODED
    * corpus: queries keep exact vectors; each (query, code-row) pair
    * costs `subspaces` table lookups + small dot products against the
    * codebook literals — ~dim multiply-adds against the 8-byte codes
    * row instead of the 256-byte float32 row. The scan side is the
    * codes table only: at 100 TB of raw vectors the ADC pass reads ~3
    * TB. Scoring is still |codes|·|queries| pairs (PQ compresses
    * memory, not candidates) — compose with IVF cells to prune
    * candidates too; the per-query ranking is the same windowed top-k
    * as [[bruteForceTopK]]. Distance is the sum of per-subspace
    * algebraic squared distances, folded left-to-right in subspace
    * order so the oracle's replay is bit-identical. */
  def pqAdcTopK(codes: DataFrame, queries: DataFrame,
      codebooks: Seq[Seq[(Int, Seq[Double])]], dim: Int, k: Int): DataFrame = {
    val qPrepped = adcPrepQueries(
      queries.select(col("query_id"), col("q")), codebooks, dim)
    val scored = codes.crossJoin(broadcast(qPrepped))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("__d", adcDistCol(codebooks, dim))
    adcRank(scored, k)
  }

  /** The classic ADC distance TABLE, computed ONCE per query on the
    * (small) broadcast side: `__lut[s][j]` = the clamped algebraic
    * squared distance from the query's subspace-s slice to codebook
    * entry j. Scoring a pair then costs `subspaces` array lookups — no
    * per-pair dot products at all, and (as important on Spark) the
    * per-pair expression is a few dozen bytes of generated code, so the
    * scan→score→rank stage stays inside whole-stage codegen instead of
    * blowing Janino's 64 KB method cap the way per-pair codebook dot
    * products do (SimilaritySpec pins the no-fallback property).
    *
    * The table is indexed by code VALUE (position j holds code j):
    * Lloyd training drops a cluster that loses all members, so code ids
    * can be non-contiguous — vanished ids get a MaxValue filler, which
    * [[pqEncode]] can never emit. Extra columns on `queries` (e.g. a
    * probe-cell id) ride through untouched. */
  private def adcPrepQueries(queries: DataFrame,
      codebooks: Seq[Seq[(Int, Seq[Double])]], dim: Int): DataFrame =
    queries.withColumn("__lut",
      graft.functions.GraftFunctions.pqAdcLut(col("q").cast("array<double>"), codebooks))
      .drop("q")

  /** The per-pair ADC distance over a `codes` column and the
    * [[adcPrepQueries]] table: `subspaces` lookups summed left-to-right
    * in subspace order, so the oracle's per-pair replay (which computes
    * each term directly — same arithmetic, evaluated query-side here)
    * is bit-identical. */
  private def adcDistCol(codebooks: Seq[Seq[(Int, Seq[Double])]],
      dim: Int): Column =
    codebooks.indices.map { s =>
      element_at(element_at(col("__lut"), s + 1),
        element_at(col("codes"), s + 1) + 1)
    }.reduce(_ + _)

  /** Windowed per-query top-k on the ADC distance (ties toward the
    * lower neighbor id — the oracle's row_number order). */
  private def adcRank(scored: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(asc("__d"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"),
        round(col("__d"), 6).as("adc_d2"))
  }

  /** Self-contained PQ ANN: train codebooks on the corpus, encode it,
    * ADC-rank the `vec_id % every == 0` queries. [[guardSize]] refuses
    * oversized corpora like the other all-pairs baselines (ADC scores
    * every (query, row) pair — at scale, persist the codes table and
    * prune candidates with IVF cells before ADC). */
  def pqTopK(emb: DataFrame, k: Int, dim: Int, subspaces: Int = 8,
      codesPerSubspace: Int = 16, every: Long = 50L, trainIters: Int = 2,
      maxRows: Long = DefaultBruteForceMaxRows): DataFrame = {
    guardSize(emb, maxRows, "pqTopK", "ivfTopK (or IVF-pruned pqAdcTopK)")
    val cbs = pqCodebooks(emb, dim, subspaces, codesPerSubspace, trainIters)
    if (cbs.exists(_.isEmpty)) { // empty corpus: typed empty result
      val spark = emb.sparkSession
      import spark.implicits._
      return Seq.empty[(Long, Long, Int, Double)]
        .toDF("query_id", "neighbor_id", "rank", "adc_d2")
    }
    val codes = pqEncode(emb, cbs, dim)
    val queries = emb.filter(col("vec_id") % every === 0L)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    pqAdcTopK(codes, queries, cbs, dim, k)
  }

  /** Encode vectors to (vec_id, cell, codes): the IVF-PQ index row —
    * coarse cell for candidate pruning, PQ codes for compressed
    * scoring. The cell is [[Centroids.nearest]]'s argmin and the codes
    * are computed from the vector it carries: at or below the kernel's
    * literal cap the whole row is ONE shuffle-free codegen'd projection;
    * above it, one bounded shuffle (the kernel's min-aggregate), the
    * price of thousand-cell quantizers. */
  def pqEncodeWithCells(emb: DataFrame,
      codebooks: Seq[Seq[(Int, Seq[Double])]],
      coarse: Seq[(Int, Seq[Double])], dim: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
      "pqEncodeWithCells needs non-empty codebooks")
    val rows = emb.select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("e"))
    Centroids.nearest(rows, "e", coarse, 1, "vec_id", "e")
      .select(col("vec_id"), col("near")(0)("id").as("cell"),
        pqCodesCol(col("e"), codebooks, dim).as("codes"))
  }

  /** ADC top-k over an IVF-PQ index: each query probes its `nprobe`
    * nearest coarse cells (by full-dimension squared distance to the
    * cell centroid, ties toward the lower cell id) and ADC-scores ONLY
    * the code rows assigned to those cells — the scored fraction drops
    * to ~nprobe/nCells AND each scored row is the compressed codes row,
    * the both-axes reduction that makes ANN a scan problem at 100 TB
    * (partition the codes table by cell and the probe join prunes
    * partitions too). Queries are the broadcast side; the probe
    * expansion (nprobe rows per query) happens before broadcast, so the
    * join is a plain equi-join on cell. */
  def pqAdcTopKCells(codes: DataFrame, queries: DataFrame,
      codebooks: Seq[Seq[(Int, Seq[Double])]],
      coarse: Seq[(Int, Seq[Double])], dim: Int, k: Int,
      nprobe: Int): DataFrame = {
    val qPrepped = adcPrepQueries(pqProbeCells(queries, coarse, nprobe),
      codebooks, dim)
    // each vector lives in exactly ONE cell and probe cells are
    // distinct per query, so (query, neighbor) pairs are unique — no
    // dedup needed before ranking
    val scored = codes.join(broadcast(qPrepped), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("__d", adcDistCol(codebooks, dim))
    adcRank(scored, k)
  }

  /** The probe expansion of [[pqAdcTopKCells]]: (query_id, cell, q)
    * rows — the `nprobe` nearest cells per query by full-dimension
    * squared distance ([[Centroids.nearest]], ties toward the lower cell
    * id). */
  private[operators] def pqProbeCells(queries: DataFrame,
      coarse: Seq[(Int, Seq[Double])], nprobe: Int): DataFrame = {
    val q = queries.select(col("query_id"), col("q").cast("array<double>").as("q"))
    Centroids.nearest(q, "q", coarse, nprobe, "query_id", "q")
      .select(col("query_id"),
        explode(transform(col("near"), s => s.getField("id"))).as("cell"), col("q"))
  }

  /** Self-contained IVF-PQ ANN: train the coarse quantizer and the PQ
    * codebooks on the corpus, build the (cell, codes) index in one
    * projection, probe + ADC-rank the `vec_id % every == 0` queries.
    * Needs no [[guardSize]]: candidates are pruned to the probed cells
    * (~nprobe/nCells of the corpus), so there is no all-pairs plan to
    * refuse — this IS the scale path the guarded baselines point to.
    * Codebooks are trained on raw vectors, not cell residuals: the
    * oracle replays raw-vector trajectories exactly, and residual
    * encoding (classic IVFADC) changes recall, not the plan shape. */
  def pqIvfTopK(emb: DataFrame, k: Int, dim: Int, nCells: Int = 8,
      nprobe: Int = 2, subspaces: Int = 8, codesPerSubspace: Int = 16,
      every: Long = 50L, trainIters: Int = 2): DataFrame = {
    // the coarse quantizer and the subspace codebooks are independent
    // models over the same corpus — overlap the coarse run with the
    // (already-concurrent) codebook runs
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    val coarseF = scala.concurrent.Future {
      Clustering.trainCentroids(emb, nCells, trainIters)
    }(scala.concurrent.ExecutionContext.fromExecutorService(pool))
    val cbs = try {
      pqCodebooks(emb, dim, subspaces, codesPerSubspace, trainIters)
    } finally pool.shutdown()
    val coarse = scala.concurrent.Await.result(coarseF,
      scala.concurrent.duration.Duration.Inf)
    if (coarse.isEmpty || cbs.exists(_.isEmpty)) {
      val spark = emb.sparkSession
      import spark.implicits._
      return Seq.empty[(Long, Long, Int, Double)]
        .toDF("query_id", "neighbor_id", "rank", "adc_d2")
    }
    val codes = pqEncodeWithCells(emb, cbs, coarse, dim)
    val queries = emb.filter(col("vec_id") % every === 0L)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    pqAdcTopKCells(codes, queries, cbs, coarse, dim, k, nprobe)
  }

  /** Persist PQ codebooks as a model table (rows: subspace, code,
    * c array<double>) — the artifact half of the persisted PQ index:
    * the corpus pays training once; later sessions/batches/streams
    * [[loadPqCodebooks]] and encode with the SAME model, which is what
    * makes stored codes comparable across ingest batches. Goes through
    * [[graft.sources.Sinks.writeBucketed]] for its catalog-resolved
    * replace semantics (the table is subspaces·codesPerSubspace rows —
    * layout is irrelevant, crash-safe replace is not). Parquet doubles
    * round-trip bit-exact, so save → load is identity (SimilaritySpec). */
  def savePqCodebooks(spark: org.apache.spark.sql.SparkSession,
      codebooks: Seq[Seq[(Int, Seq[Double])]], table: String): Unit = {
    import spark.implicits._
    val rows = codebooks.zipWithIndex.flatMap { case (cb, s) =>
      cb.map { case (code, c) => (s, code, c) }
    }
    graft.sources.Sinks.writeBucketed(rows.toDF("subspace", "code", "c"),
      table, bucketCols = Seq("subspace"), numBuckets = 1)
  }

  /** Read PQ codebooks back from the model table written by
    * [[savePqCodebooks]]. The collect is the MODEL, not data —
    * subspaces·codesPerSubspace rows (same bounded-driver-state
    * contract as [[Clustering.trainCentroids]]'s centroid list). */
  def loadPqCodebooks(spark: org.apache.spark.sql.SparkSession,
      table: String): Seq[Seq[(Int, Seq[Double])]] =
    spark.table(table)
      .select(col("subspace"), col("code"), col("c"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toList))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_._2).map { case (_, code, c) => (code, c) }.toSeq
      }
}
