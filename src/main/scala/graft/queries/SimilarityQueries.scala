package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.sources.Sources.table

/** Similarity-search queries over `embeddings`. ALL paths are
  * DuckDB-oracled — explicit list arithmetic in double precision with
  * the engine's exact fold orders, seeded projections regenerated into
  * the SQL, and the k-means trajectories unrolled as CTE chains.
  */
object SimilarityQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_vector_norms" -> { (s, dir) =>
      table(s, dir, "embeddings").select(
        col("vec_id"),
        round(Similarity.norm(col("embedding")), 6).as("norm"),
        size(col("embedding")).as("dim"))
    },
    // top principal component by 4 power-iteration steps, every vector
    // projected onto it (embedding de-biasing / variance-audit op);
    // the oracle replays the whole anchored trajectory in CTEs
    "q_pca_project" -> { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      val tc = graft.operators.Pca.trainTopComponent(
        emb, "vec_id", "embedding", iters = 4)
      graft.operators.Pca.project(emb, "vec_id", "embedding", tc)
    },
    // TOP-2 components via power iteration WITH DEFLATION (round 13):
    // component 2 iterates on the covariance with component 1 projected
    // out — the residual never materializes (per-row literal dots + two
    // bounded aggregations per step), and the v1·v correction is NOT
    // assumed zero (6dp-anchored components are only approximately
    // orthonormal; the oracle replays the exact correction)
    "q_pca_project2" -> { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      val model = graft.operators.Pca.trainComponents(
        emb, "vec_id", "embedding", k = 2, iters = 2)
      graft.operators.Pca.projectK(emb, "vec_id", "embedding", model)
    },
    "q_ann_bruteforce_topk" -> { (s, dir) =>
      Similarity.bruteForceTopK(table(s, dir, "embeddings"), k = 5, every = 50L)
    },
    "q_embedding_neardup_exact" -> { (s, dir) =>
      Similarity.exactNeardupPairs(table(s, dir, "embeddings"), threshold = 0.4)
    },
    "q_embedding_neardup_lsh" -> { (s, dir) =>
      Similarity.srpNeardupPairs(table(s, dir, "embeddings"), dim = 64,
        threshold = 0.4)
    },
    "q_ann_ivf_topk" -> { (s, dir) =>
      Similarity.ivfTopK(table(s, dir, "embeddings"), k = 5)
    },
    // hybrid (metadata-filtered) search: top-k among label=2 vectors
    // only, queries from the full table; the quantizer is trained on
    // the searchable subset and the predicate reaches the corpus scan
    "q_ann_filtered_topk" -> { (s, dir) =>
      Similarity.ivfTopK(table(s, dir, "embeddings"), k = 5,
        corpusFilter = col("label") === 2)
    },
    // Matryoshka audit: recall@5 of brute-force retrieval on the
    // 16-dim embedding PREFIX vs the full 64-dim truth — the
    // dims-vs-recall serving decision, the recon_err twin for the
    // other compression axis; bounded query sample keeps it
    // guardSize-legal at corpus scale
    "q_matryoshka_recall" -> { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      val full = Similarity.bruteForceTopK(emb, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val trunc = Similarity
        .bruteForceTopK(Similarity.truncateDims(emb, 16), k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val hits = full.join(trunc, Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("m"))
      full.groupBy(col("query_id")).agg(count(lit(1)).as("kq"))
        .join(hits, Seq("query_id"), "left")
        .agg(round(avg(coalesce(col("m"), lit(0L)).cast("double") / col("kq")), 6)
          .as("mean_recall"), count(lit(1)).as("n_queries"))
    },
    // hybrid retrieval: TF-IDF-cosine lexical leg + IVF semantic leg,
    // each top-10, reciprocal-rank-fused to top-5 — documents and
    // embeddings share the id namespace (one row per document). The
    // lexical leg runs the PRODUCTION df cap (frac 0.5, resolved
    // in-plan — the q_tfidf_cosine_incremental configuration): the
    // synthetic corpus's 31-word vocabulary makes the uncapped term
    // join degenerate toward n², exactly the case the cap exists for
    "q_hybrid_rrf" -> { (s, dir) =>
      graft.operators.Retrieval.hybridTopK(
        table(s, dir, "documents"), table(s, dir, "embeddings"), k = 5,
        maxTermDfFrac = 0.5)
    },
    // retrieve→fuse→RERANK: the full three-stage retrieval stack —
    // same legs/fusion as q_hybrid_rrf, then the fused top-10
    // candidate pool re-scored by the weighted leg-evidence blend
    // (0.5·lex_cos + 0.4·sem_cos + 0.1·rrf) and cut to 5
    "q_hybrid_rerank" -> { (s, dir) =>
      graft.operators.Retrieval.hybridRerankTopK(
        table(s, dir, "documents"), table(s, dir, "embeddings"), k = 5,
        maxTermDfFrac = 0.5)
    },
    // retrieve→fuse→TRAINED rerank: same legs/fusion/candidates as
    // q_hybrid_rerank, but the blend weights are LEARNED — in-plan
    // logistic regression over (lex_cos, sem_cos, rrf) with labels
    // mined from the exact brute-force top-5 (the q_ann_recall truth
    // set); candidates re-ranked by the trained margin. DuckDB replays
    // legs + fusion + label mining + the full GD trajectory
    "q_hybrid_rerank_trained" -> { (s, dir) =>
      graft.operators.Retrieval.hybridRerankTrainedTopK(
        table(s, dir, "documents"), table(s, dir, "embeddings"), k = 5,
        maxTermDfFrac = 0.5)
    },
    // cross-table HYBRID retrieval: the md5-split test docs retrieve
    // from the train corpus — corpus-model TF-IDF lexical leg (frac
    // 0.5 cap) + corpus-trained-quantizer kNN semantic leg, RRF-fused;
    // the production eval-retrieval shape end to end
    "q_hybrid_cross_rrf" -> { (s, dir) =>
      val dsplit = graft.operators.Sampling
        .split(table(s, dir, "documents"), col("doc_id"), 12, 2)
      val esplit = graft.operators.Sampling
        .split(table(s, dir, "embeddings"), col("vec_id"), 12, 2)
      graft.operators.Retrieval.hybridCrossTopK(
        dsplit.filter(col("split") === "test"),
        esplit.filter(col("split") === "test"),
        dsplit.filter(col("split") =!= "test"),
        esplit.filter(col("split") =!= "test"),
        k = 5, maxTermDfFrac = 0.5)
    },
    // cross-table kNN join: every label=0 vector retrieves its top-5
    // neighbors from the label<>0 corpus — the eval-retrieval / RAG
    // shape; quantizer trained on the corpus side only, no
    // self-exclusion (disjoint id namespaces by construction here)
    "q_knn_join" -> { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      Similarity.knnJoin(emb.filter(col("label") === 0),
        emb.filter(col("label") =!= 0), k = 5)
    },
    // realistic cell count: 64 cells exceeds the nearest-centroid
    // kernel's literal cap (32, Centroids.nearest), so BOTH the trainer
    // and the probe run its broadcast-join route end-to-end — the shape that scales to thousands
    // of IVF cells — under the full oracle compare, not just assertions
    "q_ann_ivf_topk_wide" -> { (s, dir) =>
      Similarity.ivfTopK(table(s, dir, "embeddings"), k = 5, nCells = 64,
        nprobe = 8)
    },
    // recall audit: mean recall@5 of the IVF index against the exact
    // scan over the same query sample — the quality measurement that
    // decides nCells/nprobe before anyone trusts the index. At corpus
    // scale the exact side runs on a bounded query SAMPLE (here the
    // same every=50th vector both paths already use), so the audit
    // stays guardSize-legal while the index serves the full corpus.
    "q_ann_recall" -> { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      val exact = Similarity.bruteForceTopK(emb, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.ivfTopK(emb, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("m"))
      exact.groupBy(col("query_id")).agg(count(lit(1)).as("kq"))
        .join(hits, Seq("query_id"), "left")
        .agg(round(avg(coalesce(col("m"), lit(0L)).cast("double") / col("kq")), 6)
            .as("mean_recall"),
          count(lit(1)).as("n_queries"))
    },
    // the IR-standard extension of the recall audit: recall@5, MRR and
    // graded nDCG@5 of the IVF index against the exact scan — one
    // bounded join + two aggs over the two retrieval runs' outputs
    "q_retrieval_metrics" -> { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      graft.operators.Retrieval.rankingMetrics(
        Similarity.ivfTopK(emb, k = 5),
        Similarity.bruteForceTopK(emb, k = 5), k = 5)
    },
    // 2-round Lloyd's k-means (k=8, deterministic lowest-id init,
    // 6-decimal centroid anchor each round) — DuckDB replays the exact
    // trajectory with unrolled CTEs
    "q_kmeans_assign" -> { (s, dir) =>
      graft.operators.Clustering.kMeansAssign(
        table(s, dir, "embeddings"), k = 8, iters = 2)
    },
    // k-means|| oversampling init (Bahmani et al., VLDB'12): 2 scans
    // sample ~2l candidates by cost-proportional md5 coin flips — the
    // k-means++ quality seed WITHOUT its k sequential passes. Output is
    // the weighted candidate set (nearest-point mass) a final local
    // clustering consumes; the oracle replays both rounds' coin flips
    // and the argmin weighting exactly.
    "q_kmeanspar_init" -> { (s, dir) =>
      graft.operators.Clustering.initKmeansParallel(
        table(s, dir, "embeddings"), k = 4, rounds = 2)
    },
    // the WIDE twin at real IVF cell counts (k=64 → l=128): every
    // scoring pass exceeds the 32-literal codegen cap, so init runs
    // entirely on the broadcast-join min-aggregate path — one
    // map-side-combined shuffle of |rows| compact rows per round —
    // against the SAME unrolled oracle (only the coin-flip threshold
    // differs), proving the two paths compute identical trajectories
    "q_kmeanspar_init_wide" -> { (s, dir) =>
      graft.operators.Clustering.initKmeansParallel(
        table(s, dir, "embeddings"), k = 64, rounds = 2)
    },
    // k-means|| END TO END: oversampled init, driver-local weighted
    // Lloyd over the bounded candidates, one distributed assign —
    // rounds+2 corpus scans total vs k-means++'s k sequential ones.
    // The oracle replays the whole composition: both coin-flip rounds,
    // the weighted update in candidate-id order, the final assignment.
    "q_kmeanspar_assign" -> { (s, dir) =>
      graft.operators.Clustering.kMeansAssignParallel(
        table(s, dir, "embeddings"), k = 4, iters = 2, rounds = 2)
    },
    // end-to-end at k=64: join-path init, driver-local weighted Lloyd
    // over the bounded candidates, then a join-path assign — the full
    // SemDeDup/IVF-scale seeding story with zero literal-argmin use
    "q_kmeanspar_assign_wide" -> { (s, dir) =>
      graft.operators.Clustering.kMeansAssignParallel(
        table(s, dir, "embeddings"), k = 64, iters = 2, rounds = 2)
    },
    // the composition that motivates the scalable init: an IVF index
    // whose coarse quantizer is TRAINED BY k-means|| (init → weighted
    // local Lloyd → cells), then the standard probe/rank — the
    // production ANN build path at cell counts where lowest-id or
    // k-means++ seeding can't run (k=8/l=16 here keeps the unrolled
    // oracle bounded; the candidate set itself crosses the 32-literal
    // cap, so init exercises the broadcast-join scorer)
    "q_ann_ivf_kmeanspar_topk" -> { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      val cents = graft.operators.Clustering.trainCentroidsParallel(
        emb, k = 8, iters = 2, rounds = 2)
      graft.operators.Similarity.ivfTopKWithCentroids(emb, k = 5, cents,
        nprobe = 2, every = 50L)
    },
    // recall audit for the k-means||-TRAINED IVF (round 14): the same
    // exact-vs-approx composition as q_ann_recall, with the approx leg
    // the scalable-init index above — q_ann_recall grades the
    // lowest-id-init quantizer, this grades the one that can actually
    // be trained at real cell counts, so the init's QUALITY (not just
    // its trajectory correctness) is measured; see Round14Spec for
    // the recorded comparison between the two inits
    "q_ann_kmeanspar_recall" -> { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      val exact = Similarity.bruteForceTopK(emb, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val cents = graft.operators.Clustering.trainCentroidsParallel(
        emb, k = 8, iters = 2, rounds = 2)
      val approx = graft.operators.Similarity
        .ivfTopKWithCentroids(emb, k = 5, cents, nprobe = 2, every = 50L)
        .select(col("query_id"), col("neighbor_id"))
      val hits = exact.join(approx, Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("m"))
      exact.groupBy(col("query_id")).agg(count(lit(1)).as("kq"))
        .join(hits, Seq("query_id"), "left")
        .agg(round(avg(coalesce(col("m"), lit(0L)).cast("double") / col("kq")), 6)
            .as("mean_recall"),
          count(lit(1)).as("n_queries"))
    },
    // SemDeDup-style semantic dedup: cluster (trained k-means), then
    // cosine pairs within clusters only — the scale shape for
    // paraphrase-level duplicates
    "q_semantic_neardup" -> { (s, dir) =>
      graft.operators.Dedup.semanticPairs(table(s, dir, "embeddings"),
        threshold = 0.4, nClusters = 8, trainIters = 2)
    },
    // greedy leader (diversity) selection within the same k=8 cells:
    // the selected subset is mutually < 0.4-cosine by construction —
    // SemDeDup's coreset-flavored complement
    "q_diversity_select" -> { (s, dir) =>
      graft.operators.Curation.diversitySelect(table(s, dir, "embeddings"),
        threshold = 0.4, nClusters = 8, trainIters = 2)
    },
    // the incremental-ingest form: quantizer + stored selections built
    // on the vec_id<250 corpus, the batch continues the scan — under
    // monotone ids append == rebuild exactly, so the oracle replays
    // the from-scratch recursion with corpus-trained cells and keeps
    // only the batch's new selections
    "q_diversity_select_incremental" -> { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") < 250)
      val cents = graft.operators.Clustering.trainCentroids(corpus, 8, 2)
      val stored = graft.operators.Curation
        .diversitySelectWithCentroids(corpus, cents, threshold = 0.4)
      graft.operators.Curation.diversitySelectAgainst(
        emb.filter(col("vec_id") >= 250), stored, corpus, cents,
        threshold = 0.4)
    },
    // incremental-ingest semantic dedup: quantizer trained on the
    // CORPUS split only; the batch (test split) is scored within its
    // cells — batch-linear, and the shape the streaming twin reuses
    "q_semantic_neardup_incremental" -> { (s, dir) =>
      val emb = graft.operators.Sampling
        .split(table(s, dir, "embeddings"), col("vec_id"), 12, 2)
      val corpus = emb.filter(col("split") =!= "test").drop("split")
      val batch = emb.filter(col("split") === "test").drop("split")
      val centroids = graft.operators.Clustering
        .trainCentroids(corpus, k = 8, iters = 2)
      graft.operators.Dedup.semanticCrossPairs(batch, corpus, centroids,
        threshold = 0.4)
    },
    // SEMANTIC decontamination: the embedding-space complement of the
    // n-gram q_decontaminate — any TRAINING vector scoring >= threshold
    // cosine against an eval vector (within the corpus-trained cells)
    // is flagged; output is the per-training-vector contamination flag
    // a pipeline filters on before training
    "q_semantic_decontaminate" -> { (s, dir) =>
      val emb = graft.operators.Sampling
        .split(table(s, dir, "embeddings"), col("vec_id"), 12, 2)
      val train = emb.filter(col("split") =!= "test").drop("split")
      val eval = emb.filter(col("split") === "test").drop("split")
      val centroids = graft.operators.Clustering
        .trainCentroids(train, k = 8, iters = 2)
      val contaminated = graft.operators.Dedup
        .semanticCrossPairs(eval, train, centroids, threshold = 0.4)
        .select(col("corpus_id").as("vec_id")).distinct()
        .withColumn("__c", lit(1))
      train.select(col("vec_id"))
        .join(contaminated, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("__c"), lit(0)).cast("int").as("contaminated"))
    },
    // incremental SRP-LSH against a PERSISTED band index: the corpus
    // pays signing/banding once (one bucketed band table); each ingest
    // batch (test split) band-joins the stored index, verified by
    // exact cosine against the corpus embeddings
    "q_srp_incremental_persisted" -> { (s, dir) =>
      val emb = graft.operators.Sampling
        .split(table(s, dir, "embeddings"), col("vec_id"), 12, 2)
      val corpus = emb.filter(col("split") =!= "test").drop("split")
      val batch = emb.filter(col("split") === "test").drop("split")
      graft.sources.Sinks.writeBucketed(
        Similarity.srpBandedSignatures(corpus, dim = 64),
        "graft_corpus_srp_bands", bucketCols = Seq("band_key"),
        numBuckets = 8)
      Similarity.srpNeardupCrossPairs(batch,
        s.table("graft_corpus_srp_bands"), corpus, dim = 64,
        threshold = 0.4)
    },
    // int8 quantization reconstruction-error profile per label
    "q_quantize_embeddings" -> { (s, dir) =>
      Similarity.quantizeInt8(table(s, dir, "embeddings"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("recon_err")), 6).as("avg_err"),
          round(max(col("recon_err")), 6).as("max_err"))
    },
    // per-label centroids as (label, dim, value) rows — the vector
    // aggregate an IVF/k-means trainer needs, exploded so the oracle
    // compares scalars
    "q_label_centroids" -> { (s, dir) =>
      table(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding").cast("array<double>"))
          .as(Seq("dim", "v")))
        .groupBy(col("label"), col("dim"))
        .agg(round(avg(col("v")), 6).as("centroid_v"))
    },
    // trained quality classifier: 2-step in-plan logistic regression
    // (zero init, 6-decimal weight anchor per step — the Lloyd
    // determinism recipe) targeting label=1, scoring every vector;
    // DuckDB replays the exact GD trajectory with unrolled CTEs
    "q_lr_train_score" -> { (s, dir) =>
      graft.operators.Classification.logRegScores(
          table(s, dir, "embeddings"), "vec_id", "embedding",
          col("label") === 1, steps = 2, lr = 1.0)
        .select(col("id").as("vec_id"), col("y"), col("lr_score"))
    },
    // calibration curve (reliability diagram) of the trained quality
    // classifier: scores bucketed into deciles, per-bucket observed
    // positive rate vs mean predicted score — the "can I trust 0.9 to
    // mean 90%" audit that decides the keep-threshold before a
    // classifier filters a corpus
    "q_lr_calibration" -> { (s, dir) =>
      val scored = graft.operators.Classification.logRegScores(
          table(s, dir, "embeddings"), "vec_id", "embedding",
          col("label") === 1, steps = 2, lr = 1.0)
        .select(col("id"), col("y"), col("lr_score"))
      // equi-depth score deciles via the no-global-window ntile
      graft.operators.Stats.distributedNtile(scored, "lr_score", "id",
          nTiles = 10)
        .groupBy(col("tile").as("score_decile"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("y").cast("double")), 6).as("frac_positive"),
          round(avg(col("lr_score")), 6).as("avg_score"))
    },
    // product-quantization ANN: 8 per-subspace codebooks (trained
    // Lloyd, deterministic trajectory), vectors encoded to 8 codes,
    // queries ranked by ADC distance over the codes table — DuckDB
    // replays all 8 trajectories + encode + ADC
    "q_ann_pq_topk" -> { (s, dir) =>
      Similarity.pqTopK(table(s, dir, "embeddings"), k = 5, dim = 64)
    },
    // IVF-PQ: coarse cells prune candidates (~nprobe/nCells of the
    // corpus), PQ codes compress what remains — the both-axes ANN
    // scale path; the oracle replays coarse + 8 subspace trajectories,
    // assignment/probing, encode, and ADC
    "q_ann_ivfpq_topk" -> { (s, dir) =>
      Similarity.pqIvfTopK(table(s, dir, "embeddings"), k = 5, dim = 64,
        nCells = 8, nprobe = 2)
    },
    // the PERSISTED PQ index lifecycle: codebooks trained on the corpus
    // and written as a model table, the corpus encoded ONCE into a
    // stored codes table; the ingest batch (test split) reads both back
    // and ADC-ranks against the stored codes — the corpus never
    // re-trains, never re-encodes, and the ADC scan reads 32x-compressed
    // rows (query results must equal the in-memory path bit-for-bit —
    // SimilaritySpec pins that; the oracle replays train+encode+ADC)
    "q_pq_incremental_persisted" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val emb = graft.operators.Sampling
        .split(table(s, dir, "embeddings"), col("vec_id"), 12, 2)
      val corpus = emb.filter(col("split") =!= "test").drop("split")
      val batch = emb.filter(col("split") === "test").drop("split")
      Similarity.savePqCodebooks(s,
        Similarity.pqCodebooks(corpus, dim = 64), "graft_pq_codebooks")
      val stored = Similarity.loadPqCodebooks(s, "graft_pq_codebooks")
      graft.sources.Sinks.writeBucketed(
        Similarity.pqEncode(corpus, stored, dim = 64), "graft_pq_codes",
        bucketCols = Seq("vec_id"), numBuckets = 8)
      val queries = batch.select(col("vec_id").as("query_id"),
        col("embedding").as("q"))
      Similarity.pqAdcTopK(s.table("graft_pq_codes"), queries, stored,
        dim = 64, k = 3)
    },
    // the PERSISTED IVF-PQ index, partitioned BY CELL: the corpus index
    // (vec_id, cell, codes) lands as cell=N/ directories, and the probe
    // join — queries broadcast with their nprobe cells — triggers
    // Spark's dynamic partition pruning, so the scan physically reads
    // ONLY the probed cells' files (plan-pinned in Round5PlanSpec).
    // This is the 100 TB ANN serving shape end-to-end: candidates cut
    // to ~nprobe/nCells by partition PRUNING (not just a join filter),
    // each surviving row 32x compressed, scoring via per-query LUT
    // lookups
    "q_ivfpq_incremental_persisted" -> { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val emb = table(s, dir, "embeddings")
      // the same 12/2/2 split as Sampling.split, expressed as DIRECT
      // bucket comparisons: the folded CASE label that split's
      // string-equality filter optimizes into is not "likely
      // selective" to Spark's PartitionPruning rule, so it would
      // silently disqualify the probe side from dynamic partition
      // pruning — the point of this query's storage layout
      val bkt = graft.operators.Sampling.hashBucket16(col("vec_id"))
      val corpus = emb.filter(bkt < 14)
      val batch = emb.filter(bkt >= 14)
      val coarse = graft.operators.Clustering
        .trainCentroids(corpus, k = 8, iters = 2)
      val cbs = Similarity.pqCodebooks(corpus, dim = 64)
      val wh = s.sessionState.conf.getConfString("spark.sql.warehouse.dir")
      graft.sources.Sinks.writePartitioned(
        Similarity.pqEncodeWithCells(corpus, cbs, coarse, dim = 64),
        s"$wh/graft_ivfpq_cells", partitionCols = Seq("cell"))
      val queries = batch.select(col("vec_id").as("query_id"),
        col("embedding").as("q"))
      Similarity.pqAdcTopKCells(s.read.parquet(s"$wh/graft_ivfpq_cells"),
        queries, cbs, coarse, dim = 64, k = 3, nprobe = 2)
    },
  )

  /** DuckDB replay of [[Similarity.srpNeardupPairs]]: the seeded
    * hyperplanes are regenerated here (java.util.Random's sequence is
    * spec-fixed) and embedded as literals; signatures via nested
    * lambdas; candidates = pairs sharing ALL bits of some band
    * (expressed as slice equality); exact-cosine verify as in the exact
    * oracle. The engine joins on concatenated slice VALUES (not a
    * murmur3 of them — see srpNeardupPairs), so both sides share the
    * exact same candidate set: no hash-collision divergence. */
  private def srpLshOracle(nBits: Int, bands: Int, dim: Int,
      threshold: Double, seed: Long): String = {
    val rnd = new scala.util.Random(seed)
    val planes = Seq.fill(nBits)(Seq.fill(dim)(rnd.nextGaussian()))
    val planesSql = planes.map(_.mkString("[", ",", "]"))
      .mkString("[", ",\n", "]")
    val r = nBits / bands
    val bandCond = (0 until bands).map { bi =>
      val lo = bi * r + 1
      s"a.s[$lo:${lo + r - 1}] = b.s[$lo:${lo + r - 1}]"
    }.mkString("(", "\n    OR ", ")")
    s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |pl AS (SELECT $planesSql AS planes),
       |sig AS (
       |  SELECT vec_id, list_transform(range(1, ${nBits + 1}), p ->
       |    CASE WHEN list_sum(list_transform(range(1, ${dim + 1}),
       |                 i -> e[i] * planes[p][i])) >= 0
       |         THEN 1 ELSE 0 END) AS s
       |  FROM emb CROSS JOIN pl),
       |cand AS (
       |  SELECT a.vec_id AS a, b.vec_id AS b
       |  FROM sig a JOIN sig b ON a.vec_id < b.vec_id AND $bandCond),
       |scored AS (
       |  SELECT c.a, c.b,
       |    list_sum(list_transform(range(1, ${dim + 1}), i -> ea.e[i] * eb.e[i]))
       |      / (sqrt(list_sum(list_transform(ea.e, x -> x * x)))
       |         * sqrt(list_sum(list_transform(eb.e, x -> x * x)))) AS cos
       |  FROM cand c JOIN emb ea ON c.a = ea.vec_id
       |              JOIN emb eb ON c.b = eb.vec_id)
       |SELECT a, b, round(cos, 6) AS cos FROM scored
       |WHERE cos >= $threshold""".stripMargin
  }

  /** Cross-corpus twin of [[srpLshOracle]]: same seeded hyperplanes and
    * signatures, split by the md5 16-bucket hash on vec_id
    * (test = bkt >= 14); candidates = batch-vs-corpus pairs sharing all
    * bits of some band; exact-cosine verify. Persistence of the band
    * index must not change results, so this oracles the
    * persisted-index query. */
  private def srpLshCrossOracle(nBits: Int, bands: Int, dim: Int,
      threshold: Double, seed: Long): String = {
    val rnd = new scala.util.Random(seed)
    val planes = Seq.fill(nBits)(Seq.fill(dim)(rnd.nextGaussian()))
    val planesSql = planes.map(_.mkString("[", ",", "]"))
      .mkString("[", ",\n", "]")
    val r = nBits / bands
    val bandCond = (0 until bands).map { bi =>
      val lo = bi * r + 1
      s"a.s[$lo:${lo + r - 1}] = b.s[$lo:${lo + r - 1}]"
    }.mkString("(", "\n    OR ", ")")
    s"""WITH emb AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS e,
       |    CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 1)) AS INTEGER) AS bkt
       |  FROM embeddings),
       |pl AS (SELECT $planesSql AS planes),
       |sig AS (
       |  SELECT vec_id, bkt, list_transform(range(1, ${nBits + 1}), p ->
       |    CASE WHEN list_sum(list_transform(range(1, ${dim + 1}),
       |                 i -> e[i] * planes[p][i])) >= 0
       |         THEN 1 ELSE 0 END) AS s
       |  FROM emb CROSS JOIN pl),
       |cand AS (
       |  SELECT a.vec_id AS batch_id, b.vec_id AS corpus_id
       |  FROM sig a JOIN sig b
       |    ON a.bkt >= 14 AND b.bkt < 14 AND a.vec_id <> b.vec_id
       |   AND $bandCond),
       |scored AS (
       |  SELECT c.batch_id, c.corpus_id,
       |    list_sum(list_transform(range(1, ${dim + 1}), i -> ea.e[i] * eb.e[i]))
       |      / (sqrt(list_sum(list_transform(ea.e, x -> x * x)))
       |         * sqrt(list_sum(list_transform(eb.e, x -> x * x)))) AS cos
       |  FROM cand c JOIN emb ea ON c.batch_id = ea.vec_id
       |              JOIN emb eb ON c.corpus_id = eb.vec_id)
       |SELECT batch_id, corpus_id, round(cos, 6) AS cos FROM scored
       |WHERE cos >= $threshold""".stripMargin
  }

  /** Shared CTE prefix of the semantic batch-vs-corpus oracles: md5
    * split, Lloyd trajectory trained on the corpus split, assignment
    * of both sides, within-cell exact cosine (`scored`). */
  private lazy val semCrossCtes: String =
    s"""WITH emb0 AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS e,
      |    CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 1)) AS INTEGER) AS bkt
      |  FROM embeddings),
      |corp AS (SELECT vec_id, e,
      |           list_sum(list_transform(e, x -> x * x)) AS xx
      |         FROM emb0 WHERE bkt < 14),
      |batch AS (SELECT vec_id, e,
      |            list_sum(list_transform(e, x -> x * x)) AS xx
      |          FROM emb0 WHERE bkt >= 14),
      |${lloyd2Ctes("corp", 8)},
      |ac AS (
      |  SELECT vec_id, cid AS cluster FROM (
      |    SELECT m.vec_id, c.cid,
      |      row_number() OVER (PARTITION BY m.vec_id
      |        ORDER BY ${d2Sql("m", "c")}, c.cid) AS rn
      |    FROM corp m CROSS JOIN c1cc c) WHERE rn = 1),
      |ab AS (
      |  SELECT vec_id, cid AS cluster FROM (
      |    SELECT m.vec_id, c.cid,
      |      row_number() OVER (PARTITION BY m.vec_id
      |        ORDER BY ${d2Sql("m", "c")}, c.cid) AS rn
      |    FROM batch m CROSS JOIN c1cc c) WHERE rn = 1),
      |scored AS (
      |  SELECT b.vec_id AS batch_id, a.vec_id AS corpus_id,
      |    list_sum(list_transform(range(1, 65), i -> eb.e[i] * ea.e[i]))
      |      / (sqrt(list_sum(list_transform(eb.e, x -> x * x)))
      |         * sqrt(list_sum(list_transform(ea.e, x -> x * x)))) AS cos
      |  FROM ab b
      |  JOIN ac a ON b.cluster = a.cluster AND b.vec_id <> a.vec_id
      |  JOIN batch eb ON b.vec_id = eb.vec_id
      |  JOIN corp ea ON a.vec_id = ea.vec_id)""".stripMargin

  /** Shared unrolled 2-round k-means|| CTE chain, parametrized by the
    * oversampling factor `l` (q_kmeanspar_* uses l=8 i.e. k=4; the
    * _wide twins use l=128 i.e. k=64 — the same replay, only the
    * coin-flip threshold changes, which is exactly the point: the
    * engine's literal-argmin and broadcast-join scoring paths compute
    * identical d², so ONE oracle form covers both): `m` (points +
    * ‖x‖²), `kc2` (final candidate set, 6dp-anchored, with ‖c‖²),
    * `aw` (per-point nearest candidate, ties to the lower cand_id). */
  private def kmeansParCtes(l: Int): String =
    s"""emb0 AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |m AS (SELECT vec_id, e,
      |        list_sum(list_transform(e, x -> x * x)) AS xx
      |      FROM emb0),
      |k0 AS (SELECT vec_id AS cand_id,
      |         list_transform(e, x -> round(x, 6)) AS c
      |       FROM emb0 ORDER BY vec_id LIMIT 1),
      |kc0 AS (SELECT cand_id, c,
      |          list_sum(list_transform(c, x -> x * x)) AS cc
      |        FROM k0),
      |d0 AS (SELECT m.vec_id, min(${d2Sql("m", "c")}) AS d2
      |       FROM m CROSS JOIN kc0 c GROUP BY 1),
      |t0 AS (SELECT floor(sum(d2) * 1e6 + 0.5) / 1e6 AS tot FROM d0),
      |s0 AS (SELECT d0.vec_id FROM d0, t0
      |       WHERE ('0x' || substring(md5(d0.vec_id::VARCHAR || ':0'),
      |                1, 8))::BIGINT / 4294967296.0
      |             < $l.0 * d0.d2 / t0.tot),
      |k1 AS (SELECT cand_id, c FROM k0
      |       UNION ALL
      |       SELECT e0.vec_id, list_transform(e0.e, x -> round(x, 6))
      |       FROM emb0 e0 JOIN s0 ON s0.vec_id = e0.vec_id),
      |kc1 AS (SELECT cand_id, c,
      |          list_sum(list_transform(c, x -> x * x)) AS cc
      |        FROM k1),
      |d1 AS (SELECT m.vec_id, min(${d2Sql("m", "c")}) AS d2
      |       FROM m CROSS JOIN kc1 c GROUP BY 1),
      |t1 AS (SELECT floor(sum(d2) * 1e6 + 0.5) / 1e6 AS tot FROM d1),
      |s1 AS (SELECT d1.vec_id FROM d1, t1
      |       WHERE ('0x' || substring(md5(d1.vec_id::VARCHAR || ':1'),
      |                1, 8))::BIGINT / 4294967296.0
      |             < $l.0 * d1.d2 / t1.tot),
      |k2 AS (SELECT cand_id, c FROM k1
      |       UNION ALL
      |       SELECT e0.vec_id, list_transform(e0.e, x -> round(x, 6))
      |       FROM emb0 e0 JOIN s1 ON s1.vec_id = e0.vec_id),
      |kc2 AS (SELECT cand_id, c,
      |          list_sum(list_transform(c, x -> x * x)) AS cc
      |        FROM k2),
      |sc AS (SELECT m.vec_id, c.cand_id, ${d2Sql("m", "c")} AS d
      |       FROM m CROSS JOIN kc2 c),
      |aw AS (SELECT vec_id, cand_id FROM (
      |         SELECT vec_id, cand_id,
      |           row_number() OVER (PARTITION BY vec_id
      |             ORDER BY d, cand_id) AS rn
      |         FROM sc) WHERE rn = 1)""".stripMargin

  /** Greedy per-cell leader selection replayed as a `list_reduce`
    * fold over each cell's id-ordered member list — one accumulator
    * pass per cell, exactly the engine's fold. Consumes a `rows` CTE
    * (cell, vec_id, e, nrm, rn) and yields `selout`
    * (vec_id, cell, sel_rank). Round 13 replaced the recursive-CTE
    * form (one GLOBAL iteration per cell member, ~3-4s per oracle)
    * at ~13×, output-identical. Fold shape notes (DuckDB 1.0):
    * `CASE … ELSE acc END` in a reduce lambda corrupts the
    * accumulator (only unconditional single-expression folds are
    * reliable), so every member APPENDS — the rejected ones as NULL
    * sentinels — and the final projection keeps non-NULLs, ranking
    * them by list position; the similarity scan skips sentinels via
    * `s IS NOT NULL`. */
  private def diversityFoldTail(threshold: Double): String =
    s"""mem AS (
       |  SELECT cell, list({'vec_id': vec_id, 'e': e, 'nrm': nrm}
       |                    ORDER BY rn) AS ms
       |  FROM rows GROUP BY cell),
       |fin AS (
       |  SELECT cell,
       |    list_reduce(
       |      list_transform(ms, m -> [m]),
       |      (acc, x) -> list_append(acc,
       |        CASE WHEN len(list_filter(acc,
       |            s -> s IS NOT NULL AND
       |              list_sum(list_transform(range(1, 65),
       |                i -> s.e[i] * x[1].e[i]))
       |               / (s.nrm * x[1].nrm) >= $threshold)) = 0
       |          THEN x[1] ELSE NULL END)) AS sel
       |  FROM mem),
       |selout AS (
       |  SELECT u.s.vec_id AS vec_id, cell,
       |    (row_number() OVER (PARTITION BY cell ORDER BY u.i))::INTEGER
       |      AS sel_rank
       |  FROM (
       |    SELECT fin.cell, u.s AS s, u.i AS i
       |    FROM fin, unnest(list_transform(fin.sel,
       |      (s, i) -> {'s': s, 'i': i})) AS t(u)) u(cell, s, i)
       |  WHERE u.s.vec_id IS NOT NULL)""".stripMargin

  /** k-means|| init oracle: the [[kmeansParCtes]] replay's weighted
    * candidate set — nearest-candidate mass, ties to lower cand_id. */
  private def kmeansParInitOracle(l: Int): String =
    s"""WITH ${kmeansParCtes(l)}
      |SELECT cand_id, count(*)::BIGINT AS weight FROM aw GROUP BY 1""".stripMargin

  /** The paper's FINAL step as CTEs appended to [[kmeansParCtes]]:
    * weighted Lloyd over the bounded candidate set (seeds = k
    * lowest-id weighted candidates, member sums in candidate-id
    * order, elements 6dp-anchored), yielding `fccc(cid, c, cc)` — the
    * trained centroid set both the assign oracle and the
    * IVF-seeded-by-k-means|| oracle consume. */
  private def kmeansParLloydCtes(k: Int): String =
    s"""w AS (SELECT cand_id, count(*)::BIGINT AS wt FROM aw GROUP BY 1),
      |cd AS (SELECT kc2.cand_id, kc2.c AS e, kc2.cc AS xx, w.wt
      |       FROM kc2 JOIN w ON w.cand_id = kc2.cand_id),
      |sd0 AS (SELECT row_number() OVER (ORDER BY cand_id) - 1 AS cid,
      |          e AS c
      |        FROM cd ORDER BY cand_id LIMIT $k),
      |sd0cc AS (SELECT cid, c,
      |            list_sum(list_transform(c, x -> x * x)) AS cc
      |          FROM sd0),
      |ca AS (SELECT cand_id, e, wt, cid FROM (
      |         SELECT cd.cand_id, cd.e, cd.wt, s.cid,
      |           row_number() OVER (PARTITION BY cd.cand_id
      |             ORDER BY ${d2Sql("cd", "s")}, s.cid) AS rn
      |         FROM cd CROSS JOIN sd0cc s) WHERE rn = 1),
      |up AS (SELECT cid, r.i,
      |         round(list_sum(list(wt * e[r.i] ORDER BY cand_id))
      |           / sum(wt), 6) AS v
      |       FROM ca CROSS JOIN (SELECT unnest(range(1, 65)) AS i) r
      |       GROUP BY 1, 2),
      |fc AS (SELECT cid, list(v ORDER BY i) AS c FROM up GROUP BY 1),
      |fccc AS (SELECT cid, c,
      |           list_sum(list_transform(c, x -> x * x)) AS cc
      |         FROM fc)""".stripMargin

  /** k-means|| end-to-end oracle: [[kmeansParCtes]] + the paper's final
    * step — weighted Lloyd over the bounded candidate set (seeds = k
    * lowest-id weighted candidates, member sums in candidate-id order,
    * elements 6dp-anchored) and one distributed assignment pass. */
  private def kmeansParAssignOracle(k: Int, l: Int): String =
    s"""WITH ${kmeansParCtes(l)},
      |${kmeansParLloydCtes(k)},
      |fs AS (SELECT m.vec_id, c.cid, ${d2Sql("m", "c")} AS d
      |       FROM m CROSS JOIN fccc c)
      |SELECT vec_id, cid AS cluster, round(sqrt(d), 4) AS dist FROM (
      |  SELECT vec_id, cid, d,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      |  FROM fs) WHERE rn = 1""".stripMargin

  /** IVF retrieval whose coarse quantizer is trained by k-means||:
    * [[kmeansParCtes]] + [[kmeansParLloydCtes]] yield the trained
    * cells; then the standard IVF replay — argmin-d² assignment (ties
    * to the lower cell), every-50th vector as queries probing their
    * `nprobe` nearest cells, exact cosine within probed cells only. */
  private def kmeansParIvfOracle(k: Int, l: Int, nprobe: Int,
      topK: Int, every: Long): String =
    s"""WITH ${kmeansParCtes(l)},
      |${kmeansParLloydCtes(k)},
      |dots AS (SELECT m.vec_id, c.cid, ${d2Sql("m", "c")} AS d
      |         FROM m CROSS JOIN fccc c),
      |assigned AS (
      |  SELECT vec_id, cid AS cell FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      |    FROM dots) WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, cid AS cell FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      |    FROM dots WHERE vec_id % $every = 0) WHERE rn <= $nprobe),
      |scored AS (
      |  SELECT p.query_id, a.vec_id AS neighbor_id,
      |    list_sum(list_transform(range(1, 65), i -> eq.e[i] * en.e[i]))
      |      / (sqrt(list_sum(list_transform(eq.e, x -> x * x)))
      |         * sqrt(list_sum(list_transform(en.e, x -> x * x)))) AS cos
      |  FROM probes p
      |  JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
      |  JOIN emb0 eq ON eq.vec_id = p.query_id
      |  JOIN emb0 en ON en.vec_id = a.vec_id)
      |SELECT query_id, neighbor_id, rank::INTEGER AS rank,
      |  round(cos, 6) AS cos
      |FROM (
      |  SELECT query_id, neighbor_id, cos,
      |    row_number() OVER (PARTITION BY query_id
      |                       ORDER BY cos DESC, neighbor_id) AS rank
      |  FROM scored) WHERE rank <= $topK""".stripMargin

  /** The engine's squared-distance expression, as SQL text: mirrors
    * `Centroids.nearest`'s distance exactly — `greatest(xx − 2·(x·c) + cc, 0)`
    * with the same left-to-right fold orders. `m` must expose (e, xx),
    * `c` must expose (c, cc). `private[queries]` so the multimodal
    * image-dedup oracle can replay the same trajectory at dim = 8. */
  private[queries] def d2Sql(m: String, c: String, dim: Int = 64): String =
    s"greatest($m.xx - 2 * list_sum(list_transform(range(1, ${dim + 1}), " +
      s"i -> $m.e[i] * $c.c[i])) + $c.cc, 0)"

  /** Unrolled 2-round Lloyd CTE chain over source CTE `src`, which must
    * provide (vec_id, e, xx): produces c0cc (rounded seed centroids
    * with ‖c‖²), s1/a1 (first assignment by the engine's algebraic
    * squared distance, ties toward the lower cid), and c1cc (updated
    * 6-decimal-anchored centroids with ‖c‖²) — the exact trajectory of
    * `Clustering.trainCentroids(…, k, iters = 2)`. `sfx` suffixes every
    * CTE name so several independent trajectories can live in one query
    * (the PQ oracle replays one per subspace). */
  private[queries] def lloyd2Ctes(src: String, k: Int, dim: Int = 64,
      sfx: String = ""): String =
    s"""c0$sfx AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
       |         list_transform(e, x -> round(x, 6)) AS c
       |  FROM $src ORDER BY vec_id LIMIT $k),
       |c0cc$sfx AS (SELECT cid, c, list_sum(list_transform(c, x -> x * x)) AS cc
       |         FROM c0$sfx),
       |s1$sfx AS (
       |  SELECT m.vec_id, m.e, c.cid, ${d2Sql("m", "c", dim)} AS d
       |  FROM $src m CROSS JOIN c0cc$sfx c),
       |a1$sfx AS (
       |  SELECT vec_id, e, cid FROM (
       |    SELECT vec_id, e, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
       |    FROM s1$sfx) WHERE rn = 1),
       |c1$sfx AS (
       |  SELECT cid, list(r ORDER BY i) AS c
       |  FROM (
       |    SELECT cid, i, round(avg(v), 6) AS r
       |    FROM (SELECT cid, unnest(e) AS v, unnest(range(len(e))) AS i
       |          FROM a1$sfx) u
       |    GROUP BY cid, i) g
       |  GROUP BY cid),
       |c1cc$sfx AS (SELECT cid, c, list_sum(list_transform(c, x -> x * x)) AS cc
       |         FROM c1$sfx)""".stripMargin

  /** DuckDB replay of [[graft.operators.Pca.trainTopComponent]]: the
    * anchored power-iteration trajectory unrolled — 6-decimal-rounded
    * mean, uniform-unit init, per-step rounded w then normalize from
    * the ROUNDED w — followed by the per-vector projection. */
  private def pcaProjectOracle(dim: Int, iters: Int): String = {
    val sb = new StringBuilder(
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |dims AS (SELECT unnest(generate_series(1, $dim)) AS d),
         |mu AS (SELECT list(round(m, 6) ORDER BY d) AS mu FROM (
         |  SELECT d, avg(e[d]) AS m FROM e CROSS JOIN dims GROUP BY d)),
         |v0 AS (SELECT list_transform(range(1, ${dim + 1}),
         |  i -> round(1.0 / sqrt(${dim}.0), 6)) AS v)""".stripMargin)
    for (k <- 1 to iters) {
      sb.append(s""",
         |w$k AS (SELECT list(round(s, 6) ORDER BY d) AS w FROM (
         |  SELECT d, sum((t.e[d] - t.mu[d]) * t.dotc) AS s FROM (
         |    SELECT e.e AS e, mu.mu AS mu,
         |      list_sum(list_transform(range(1, ${dim + 1}),
         |        i -> (e.e[i] - mu.mu[i]) * v.v[i])) AS dotc
         |    FROM e CROSS JOIN mu CROSS JOIN v${k - 1} v) t
         |  CROSS JOIN dims GROUP BY d)),
         |v$k AS (SELECT list_transform(w, x -> round(x /
         |  sqrt(list_sum(list_transform(w, y -> y * y))), 6)) AS v
         |  FROM w$k)""".stripMargin)
    }
    sb.append(s"""
         |SELECT vec_id,
         |  round(list_sum(list_transform(range(1, ${dim + 1}),
         |    i -> (e.e[i] - mu.mu[i]) * v.v[i])), 6) AS pc1
         |FROM e CROSS JOIN mu CROSS JOIN v$iters v""".stripMargin)
    sb.toString
  }

  /** DuckDB replay of [[graft.operators.Pca.trainComponents]] at k=2:
    * the component-1 chain is [[pcaProjectOracle]]'s unrolled power
    * iteration; component 2 adds, per step, the plan-time constant
    * `c = v1·u` (cst), the per-row residual dot `rdot = dotu − c·dot1`
    * (rd), the per-dimension sums A_d (wa), the deflation scalar
    * `S₁ = Σ dot1·rdot` (ss), the combined-then-rounded
    * `w_d = round(A_d − v1_d·S₁, 6)` (wl), and the normalize-from-
    * rounded-w step (u) — each expression in the engine's exact
    * operation order. Output: both projections per vector. */
  private def pca2ProjectOracle(dim: Int, iters: Int): String = {
    val sb = new StringBuilder(
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |dims AS (SELECT unnest(generate_series(1, $dim)) AS d),
         |mu AS (SELECT list(round(m, 6) ORDER BY d) AS mu FROM (
         |  SELECT d, avg(e[d]) AS m FROM e CROSS JOIN dims GROUP BY d)),
         |v0 AS (SELECT list_transform(range(1, ${dim + 1}),
         |  i -> round(1.0 / sqrt(${dim}.0), 6)) AS v)""".stripMargin)
    def cdot(vec: String): String =
      s"list_sum(list_transform(range(1, ${dim + 1}), " +
        s"i -> (e.e[i] - mu.mu[i]) * $vec[i]))"
    for (k <- 1 to iters) {
      sb.append(s""",
         |w$k AS (SELECT list(round(s, 6) ORDER BY d) AS w FROM (
         |  SELECT d, sum((t.e[d] - t.mu[d]) * t.dotc) AS s FROM (
         |    SELECT e.e AS e, mu.mu AS mu, ${cdot("v.v")} AS dotc
         |    FROM e CROSS JOIN mu CROSS JOIN v${k - 1} v) t
         |  CROSS JOIN dims GROUP BY d)),
         |v$k AS (SELECT list_transform(w, x -> round(x /
         |  sqrt(list_sum(list_transform(w, y -> y * y))), 6)) AS v
         |  FROM w$k)""".stripMargin)
    }
    sb.append(s""",
         |u0 AS (SELECT v FROM v0)""".stripMargin)
    for (j <- 1 to iters) {
      sb.append(s""",
         |cst$j AS (SELECT list_sum(list_transform(range(1, ${dim + 1}),
         |    i -> vc.v[i] * u.v[i])) AS c
         |  FROM v$iters vc CROSS JOIN u${j - 1} u),
         |rd$j AS (
         |  SELECT t.e AS e, t.mu AS mu, t.dot1 AS dot1,
         |    t.dotu - c.c * t.dot1 AS rdot
         |  FROM (SELECT e.e AS e, mu.mu AS mu, ${cdot("u.v")} AS dotu,
         |          ${cdot("vc.v")} AS dot1
         |        FROM e CROSS JOIN mu CROSS JOIN v$iters vc
         |        CROSS JOIN u${j - 1} u) t
         |  CROSS JOIN cst$j c),
         |wa$j AS (SELECT d, sum((t.e[d] - t.mu[d]) * t.rdot) AS a
         |         FROM rd$j t CROSS JOIN dims GROUP BY d),
         |ss$j AS (SELECT sum(dot1 * rdot) AS s1 FROM rd$j),
         |wl$j AS (SELECT list(round(a - vc.v[CAST(d AS INTEGER)] * ss.s1, 6)
         |           ORDER BY d) AS w
         |         FROM wa$j CROSS JOIN v$iters vc CROSS JOIN ss$j ss),
         |u$j AS (SELECT list_transform(w, x -> round(x /
         |  sqrt(list_sum(list_transform(w, y -> y * y))), 6)) AS v
         |  FROM wl$j)""".stripMargin)
    }
    sb.append(s"""
         |SELECT vec_id,
         |  round(${cdot("vc.v")}, 6) AS pc1,
         |  round(${cdot("u.v")}, 6) AS pc2
         |FROM e CROSS JOIN mu CROSS JOIN v$iters vc
         |CROSS JOIN u$iters u""".stripMargin)
    sb.toString
  }

  private lazy val oraclesBase: Map[String, String] = Map(
    "q_pca_project" -> pcaProjectOracle(dim = 64, iters = 4),
    "q_pca_project2" -> pca2ProjectOracle(dim = 64, iters = 2),
    "q_embedding_neardup_lsh" ->
      srpLshOracle(nBits = 32, bands = 8, dim = 64, threshold = 0.4, seed = 42L),
    "q_srp_incremental_persisted" ->
      srpLshCrossOracle(nBits = 32, bands = 8, dim = 64, threshold = 0.4,
        seed = 42L),
    // DuckDB replay of Similarity.ivfTopK with the TRAINED quantizer:
    // the 2-round Lloyd trajectory unrolled (lowest-id init, 6-decimal
    // anchors, algebraic squared distance), then assignment/probing =
    // argmin d² with ties toward the LOWER cell, then exact-cosine
    // ranking inside the probed cells only.
    "q_ann_ivf_topk" ->
      s"""WITH emb0 AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |emb AS (SELECT vec_id, e,
        |          list_sum(list_transform(e, x -> x * x)) AS xx
        |        FROM emb0),
        |${lloyd2Ctes("emb", 16)},
        |dots AS (
        |  SELECT m.vec_id, c.cid, ${d2Sql("m", "c")} AS d
        |  FROM emb m CROSS JOIN c1cc c),
        |assigned AS (
        |  SELECT vec_id, cid AS cell FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |    FROM dots) WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, cid AS cell FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |    FROM dots WHERE vec_id % 50 = 0) WHERE rn <= 4),
        |scored AS (
        |  SELECT p.query_id, a.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, 65), i -> eq.e[i] * en.e[i]))
        |      / (sqrt(list_sum(list_transform(eq.e, x -> x * x)))
        |         * sqrt(list_sum(list_transform(en.e, x -> x * x)))) AS cos
        |  FROM probes p
        |  JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
        |  JOIN emb0 eq ON eq.vec_id = p.query_id
        |  JOIN emb0 en ON en.vec_id = a.vec_id)
        |SELECT query_id, neighbor_id, rank::INTEGER AS rank, round(cos, 6) AS cos
        |FROM (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM scored) WHERE rank <= 5""".stripMargin,
    // the filtered variant: Lloyd trajectory + assignment over the
    // label=2 subset only; probe distances for the FULL query sample
    // against the same trained cells; neighbors restricted by assignment
    "q_ann_filtered_topk" ->
      s"""WITH emb0 AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |emb AS (SELECT vec_id, e,
        |          list_sum(list_transform(e, x -> x * x)) AS xx
        |        FROM emb0),
        |embf AS (SELECT m.vec_id, m.e, m.xx
        |         FROM emb m JOIN embeddings r ON m.vec_id = r.vec_id
        |         WHERE r.label = 2),
        |${lloyd2Ctes("embf", 16)},
        |dotsa AS (
        |  SELECT m.vec_id, c.cid, ${d2Sql("m", "c")} AS d
        |  FROM embf m CROSS JOIN c1cc c),
        |assigned AS (
        |  SELECT vec_id, cid AS cell FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |    FROM dotsa) WHERE rn = 1),
        |dotsq AS (
        |  SELECT m.vec_id, c.cid, ${d2Sql("m", "c")} AS d
        |  FROM emb m CROSS JOIN c1cc c WHERE m.vec_id % 50 = 0),
        |probes AS (
        |  SELECT vec_id AS query_id, cid AS cell FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |    FROM dotsq) WHERE rn <= 4),
        |scored AS (
        |  SELECT p.query_id, a.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, 65), i -> eq.e[i] * en.e[i]))
        |      / (sqrt(list_sum(list_transform(eq.e, x -> x * x)))
        |         * sqrt(list_sum(list_transform(en.e, x -> x * x)))) AS cos
        |  FROM probes p
        |  JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
        |  JOIN emb0 eq ON eq.vec_id = p.query_id
        |  JOIN emb0 en ON en.vec_id = a.vec_id)
        |SELECT query_id, neighbor_id, rank::INTEGER AS rank, round(cos, 6) AS cos
        |FROM (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM scored) WHERE rank <= 5""".stripMargin,
    // hybrid RRF: the lexical integer-weight chain (q_tfidf's stats →
    // round(round(tfidf,6)*1e6) weights → exact integer dot/norms) and
    // the PROVEN q_ann_ivf_topk chain, each ranked to 10, fused by
    // 1/(60+rank) sums in the engine's evaluation order
    "q_hybrid_rrf" ->
      s"""WITH tf AS (
        |  SELECT doc_id, term, count(1) AS tf
        |  FROM (SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'),
        |          x -> x <> '')) AS term
        |        FROM documents)
        |  GROUP BY 1, 2),
        |dfx AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
        |nn AS (SELECT count(1)::DOUBLE AS n FROM documents),
        |w AS (SELECT tf.doc_id, tf.term,
        |        round(round(tf.tf * ln(nn.n / dfx.df), 6) * 1e6)::BIGINT AS w
        |      FROM tf JOIN dfx USING (term) CROSS JOIN nn
        |      WHERE dfx.df <= (SELECT count(1) FROM documents) // 2),
        |norms AS (SELECT doc_id, sum(w * w) AS n2 FROM w GROUP BY doc_id),
        |lprods AS (
        |  SELECT wq.doc_id AS query_id, wn.doc_id AS neighbor_id,
        |    sum(wq.w * wn.w) AS dot
        |  FROM w wq JOIN w wn ON wq.term = wn.term
        |    AND wq.doc_id % 50 = 0 AND wn.doc_id <> wq.doc_id
        |  GROUP BY 1, 2),
        |lex AS (
        |  SELECT query_id, neighbor_id, rank FROM (
        |    SELECT p.query_id, p.neighbor_id,
        |      row_number() OVER (PARTITION BY p.query_id
        |        ORDER BY p.dot::DOUBLE / sqrt(nq.n2::DOUBLE * nb.n2::DOUBLE)
        |          DESC, p.neighbor_id) AS rank
        |    FROM lprods p
        |    JOIN norms nq ON p.query_id = nq.doc_id
        |    JOIN norms nb ON p.neighbor_id = nb.doc_id)
        |  WHERE rank <= 10),
        |emb0 AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |emb AS (SELECT vec_id, e,
        |          list_sum(list_transform(e, x -> x * x)) AS xx
        |        FROM emb0),
        |${lloyd2Ctes("emb", 16)},
        |dots AS (
        |  SELECT m.vec_id, c.cid, ${d2Sql("m", "c")} AS d
        |  FROM emb m CROSS JOIN c1cc c),
        |assigned AS (
        |  SELECT vec_id, cid AS cell FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |    FROM dots) WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, cid AS cell FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |    FROM dots WHERE vec_id % 50 = 0) WHERE rn <= 4),
        |sscored AS (
        |  SELECT p.query_id, a.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, 65), i -> eq.e[i] * en.e[i]))
        |      / (sqrt(list_sum(list_transform(eq.e, x -> x * x)))
        |         * sqrt(list_sum(list_transform(en.e, x -> x * x)))) AS cos
        |  FROM probes p
        |  JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
        |  JOIN emb0 eq ON eq.vec_id = p.query_id
        |  JOIN emb0 en ON en.vec_id = a.vec_id),
        |sem AS (
        |  SELECT query_id, neighbor_id, rank FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |                         ORDER BY cos DESC, neighbor_id) AS rank
        |    FROM sscored) WHERE rank <= 10),
        |fused AS (
        |  SELECT coalesce(l.query_id, s.query_id) AS query_id,
        |    coalesce(l.neighbor_id, s.neighbor_id) AS neighbor_id,
        |    coalesce(1.0 / (60 + l.rank), 0.0)
        |      + coalesce(1.0 / (60 + s.rank), 0.0) AS rrf
        |  FROM lex l FULL JOIN sem s
        |    ON l.query_id = s.query_id AND l.neighbor_id = s.neighbor_id)
        |SELECT query_id, neighbor_id, rank::INTEGER AS rank,
        |  round(rrf, 6) AS rrf
        |FROM (
        |  SELECT query_id, neighbor_id, rrf,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY rrf DESC, neighbor_id) AS rank
        |  FROM fused) WHERE rank <= 5""".stripMargin,
    // q_hybrid_rrf's leg chains with each leg's 6dp cos carried
    // through fusion; candidates = fused top-10, rerank score =
    // ((0.5*lex_cos + 0.4*sem_cos) + 0.1*rrf6) in the engine's exact
    // multiply/add order over the 6dp leg values — bit-identical
    "q_hybrid_rerank" ->
      s"""$hybridCandsPrefix,
        |scored AS (
        |  SELECT query_id, neighbor_id, lex_cos, sem_cos,
        |    (0.5 * lex_cos + 0.4 * sem_cos) + 0.1 * rrf6 AS score
        |  FROM cands)
        |SELECT query_id, neighbor_id, rank::INTEGER AS rank,
        |  floor(score * 1e6 + 0.5) / 1e6 AS score, lex_cos, sem_cos
        |FROM (
        |  SELECT query_id, neighbor_id, score, lex_cos, sem_cos,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY score DESC, neighbor_id) AS rank
        |  FROM scored) WHERE rank <= 5""".stripMargin,
    // the TRAINED reranker: the same candidate chain, labels from the
    // exact brute-force top-5 (the q_ann_bruteforce_topk chain), the
    // q_lr_train_score GD recipe over xa = [1, lex_cos, sem_cos, rrf6]
    // (9dp gradient + 6dp weight anchors), rank by the unrounded
    // margin (the engine's saturation-proof order)
    "q_hybrid_rerank_trained" -> rerankTrainedOracle(steps = 8, lr = 5.0,
      k = 5),
    // cross-table hybrid RRF: the q_tfidf_cosine_incremental split +
    // corpus-stats weight chain ranked to 10, the q_knn_join chain
    // over the same md5 split ranked to 10, fused by 1/(60+rank)
    "q_hybrid_cross_rrf" ->
      s"""WITH b AS (
        |  SELECT doc_id, text,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) AS INTEGER) AS bkt
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, bkt, term, count(1) AS tf
        |  FROM (SELECT doc_id, bkt,
        |          unnest(list_filter(string_split_regex(text, '\\s+'),
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
        |nq AS (SELECT doc_id, sum(w * w) AS n2 FROM w WHERE bkt >= 14
        |       GROUP BY doc_id),
        |ncorp AS (SELECT doc_id, sum(w * w) AS n2 FROM w WHERE bkt < 14
        |          GROUP BY doc_id),
        |lprods AS (SELECT wq.doc_id AS query_id, wn.doc_id AS neighbor_id,
        |             sum(wq.w * wn.w) AS dot
        |           FROM w wq JOIN w wn ON wq.term = wn.term
        |             AND wq.bkt >= 14 AND wn.bkt < 14
        |           GROUP BY 1, 2),
        |lex AS (
        |  SELECT query_id, neighbor_id, rank FROM (
        |    SELECT p.query_id, p.neighbor_id,
        |      row_number() OVER (PARTITION BY p.query_id
        |        ORDER BY p.dot::DOUBLE / sqrt(na.n2::DOUBLE * nb.n2::DOUBLE)
        |          DESC, p.neighbor_id) AS rank
        |    FROM lprods p
        |    JOIN nq na ON p.query_id = na.doc_id
        |    JOIN ncorp nb ON p.neighbor_id = nb.doc_id)
        |  WHERE rank <= 10),
        |emb0 AS (SELECT vec_id, embedding::DOUBLE[] AS e,
        |    CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 1)) AS INTEGER) AS bkt
        |  FROM embeddings),
        |emb AS (SELECT vec_id, e, bkt,
        |          list_sum(list_transform(e, x -> x * x)) AS xx
        |        FROM emb0),
        |embc AS (SELECT vec_id, e, xx FROM emb WHERE bkt < 14),
        |embq AS (SELECT vec_id, e, xx FROM emb WHERE bkt >= 14),
        |${lloyd2Ctes("embc", 16)},
        |dotsa AS (
        |  SELECT m.vec_id, c.cid, ${d2Sql("m", "c")} AS d
        |  FROM embc m CROSS JOIN c1cc c),
        |assigned AS (
        |  SELECT vec_id, cid AS cell FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |    FROM dotsa) WHERE rn = 1),
        |dotsq AS (
        |  SELECT m.vec_id, c.cid, ${d2Sql("m", "c")} AS d
        |  FROM embq m CROSS JOIN c1cc c),
        |probes AS (
        |  SELECT vec_id AS query_id, cid AS cell FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |    FROM dotsq) WHERE rn <= 4),
        |sscored AS (
        |  SELECT p.query_id, a.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, 65), i -> eq.e[i] * en.e[i]))
        |      / (sqrt(list_sum(list_transform(eq.e, x -> x * x)))
        |         * sqrt(list_sum(list_transform(en.e, x -> x * x)))) AS cos
        |  FROM probes p
        |  JOIN assigned a ON a.cell = p.cell
        |  JOIN emb0 eq ON eq.vec_id = p.query_id
        |  JOIN emb0 en ON en.vec_id = a.vec_id),
        |sem AS (
        |  SELECT query_id, neighbor_id, rank FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |                         ORDER BY cos DESC, neighbor_id) AS rank
        |    FROM sscored) WHERE rank <= 10),
        |fused AS (
        |  SELECT coalesce(l.query_id, s.query_id) AS query_id,
        |    coalesce(l.neighbor_id, s.neighbor_id) AS neighbor_id,
        |    coalesce(1.0 / (60 + l.rank), 0.0)
        |      + coalesce(1.0 / (60 + s.rank), 0.0) AS rrf
        |  FROM lex l FULL JOIN sem s
        |    ON l.query_id = s.query_id AND l.neighbor_id = s.neighbor_id)
        |SELECT query_id, neighbor_id, rank::INTEGER AS rank,
        |  round(rrf, 6) AS rrf
        |FROM (
        |  SELECT query_id, neighbor_id, rrf,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY rrf DESC, neighbor_id) AS rank
        |  FROM fused) WHERE rank <= 5""".stripMargin,
    // cross-table kNN join: Lloyd trajectory + assignment over the
    // label<>0 corpus; EVERY label=0 vector probes; no self-exclusion
    "q_knn_join" ->
      s"""WITH emb0 AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |emb AS (SELECT vec_id, e,
        |          list_sum(list_transform(e, x -> x * x)) AS xx
        |        FROM emb0),
        |embc AS (SELECT m.vec_id, m.e, m.xx
        |         FROM emb m JOIN embeddings r ON m.vec_id = r.vec_id
        |         WHERE r.label <> 0),
        |embq AS (SELECT m.vec_id, m.e, m.xx
        |         FROM emb m JOIN embeddings r ON m.vec_id = r.vec_id
        |         WHERE r.label = 0),
        |${lloyd2Ctes("embc", 16)},
        |dotsa AS (
        |  SELECT m.vec_id, c.cid, ${d2Sql("m", "c")} AS d
        |  FROM embc m CROSS JOIN c1cc c),
        |assigned AS (
        |  SELECT vec_id, cid AS cell FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |    FROM dotsa) WHERE rn = 1),
        |dotsq AS (
        |  SELECT m.vec_id, c.cid, ${d2Sql("m", "c")} AS d
        |  FROM embq m CROSS JOIN c1cc c),
        |probes AS (
        |  SELECT vec_id AS query_id, cid AS cell FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |    FROM dotsq) WHERE rn <= 4),
        |scored AS (
        |  SELECT p.query_id, a.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, 65), i -> eq.e[i] * en.e[i]))
        |      / (sqrt(list_sum(list_transform(eq.e, x -> x * x)))
        |         * sqrt(list_sum(list_transform(en.e, x -> x * x)))) AS cos
        |  FROM probes p
        |  JOIN assigned a ON a.cell = p.cell
        |  JOIN emb0 eq ON eq.vec_id = p.query_id
        |  JOIN emb0 en ON en.vec_id = a.vec_id)
        |SELECT query_id, neighbor_id, rank::INTEGER AS rank, round(cos, 6) AS cos
        |FROM (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM scored) WHERE rank <= 5""".stripMargin,
    // same replay at 64 cells / nprobe 8 — oracles the nearest-centroid
    // kernel's broadcast-join route (train + assign + probe)
    "q_ann_ivf_topk_wide" ->
      s"""WITH emb0 AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |emb AS (SELECT vec_id, e,
        |          list_sum(list_transform(e, x -> x * x)) AS xx
        |        FROM emb0),
        |${lloyd2Ctes("emb", 64)},
        |dots AS (
        |  SELECT m.vec_id, c.cid, ${d2Sql("m", "c")} AS d
        |  FROM emb m CROSS JOIN c1cc c),
        |assigned AS (
        |  SELECT vec_id, cid AS cell FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |    FROM dots) WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, cid AS cell FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |    FROM dots WHERE vec_id % 50 = 0) WHERE rn <= 8),
        |scored AS (
        |  SELECT p.query_id, a.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, 65), i -> eq.e[i] * en.e[i]))
        |      / (sqrt(list_sum(list_transform(eq.e, x -> x * x)))
        |         * sqrt(list_sum(list_transform(en.e, x -> x * x)))) AS cos
        |  FROM probes p
        |  JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
        |  JOIN emb0 eq ON eq.vec_id = p.query_id
        |  JOIN emb0 en ON en.vec_id = a.vec_id)
        |SELECT query_id, neighbor_id, rank::INTEGER AS rank, round(cos, 6) AS cos
        |FROM (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM scored) WHERE rank <= 5""".stripMargin,
    // DuckDB replay of the incremental form: same Lloyd CTEs but
    // trained on the CORPUS split only (md5 16-bucket split on vec_id,
    // test = bkt >= 14), both sides assigned to the trained centroids,
    // cross cosine within cells
    "q_semantic_neardup_incremental" ->
      s"""$semCrossCtes
        |SELECT batch_id, corpus_id, round(cos, 6) AS cos FROM scored
        |WHERE cos >= 0.4""".stripMargin,
    // same trajectory + cross scoring; contaminated = any train vector
    // a batch (eval) vector scores >= threshold against
    "q_semantic_decontaminate" ->
      s"""$semCrossCtes,
        |cont AS (
        |  SELECT DISTINCT corpus_id AS vec_id FROM scored WHERE cos >= 0.4)
        |SELECT corp.vec_id,
        |  CASE WHEN cont.vec_id IS NULL THEN 0 ELSE 1 END AS contaminated
        |FROM corp LEFT JOIN cont ON corp.vec_id = cont.vec_id""".stripMargin,
    // DuckDB replay of Curation.diversitySelect: the same k=8 Lloyd
    // assignment, then the greedy per-cell leader scan as a per-cell
    // list_reduce fold over the id-ordered member list — exactly the
    // engine's per-cell fold (see [[diversityFoldTail]] for the
    // sentinel-append shape the DuckDB 1.0 fold quirks force)
    "q_diversity_select" ->
      s"""WITH emb0 AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |emb AS (SELECT vec_id, e,
        |          list_sum(list_transform(e, x -> x * x)) AS xx
        |        FROM emb0),
        |${lloyd2Ctes("emb", 8)},
        |s2 AS (
        |  SELECT m.vec_id, c.cid, ${d2Sql("m", "c")} AS d
        |  FROM emb m CROSS JOIN c1cc c),
        |assigned AS (
        |  SELECT vec_id, cid AS cluster FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |    FROM s2) WHERE rn = 1),
        |rows AS (
        |  SELECT a.cluster AS cell, a.vec_id, e.e,
        |    sqrt(list_sum(list_transform(e.e, x -> x * x))) AS nrm,
        |    row_number() OVER (PARTITION BY a.cluster ORDER BY a.vec_id) AS rn
        |  FROM assigned a JOIN emb0 e ON a.vec_id = e.vec_id),
        |${diversityFoldTail(threshold = 0.4)}
        |SELECT vec_id, cell, sel_rank FROM selout""".stripMargin,
    // incremental leader selection: the SAME fold replay but the
    // Lloyd trajectory trains on the vec_id<250 corpus, ALL vectors
    // assign to those cells, and only batch-side selections emit —
    // append==rebuild under monotone ids makes these identical
    "q_diversity_select_incremental" ->
      s"""WITH emb0 AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |emb AS (SELECT vec_id, e,
        |          list_sum(list_transform(e, x -> x * x)) AS xx
        |        FROM emb0),
        |embc AS (SELECT vec_id, e, xx FROM emb WHERE vec_id < 250),
        |${lloyd2Ctes("embc", 8)},
        |s2 AS (
        |  SELECT m.vec_id, c.cid, ${d2Sql("m", "c")} AS d
        |  FROM emb m CROSS JOIN c1cc c),
        |assigned AS (
        |  SELECT vec_id, cid AS cluster FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |    FROM s2) WHERE rn = 1),
        |rows AS (
        |  SELECT a.cluster AS cell, a.vec_id, e.e,
        |    sqrt(list_sum(list_transform(e.e, x -> x * x))) AS nrm,
        |    row_number() OVER (PARTITION BY a.cluster ORDER BY a.vec_id) AS rn
        |  FROM assigned a JOIN emb0 e ON a.vec_id = e.vec_id),
        |${diversityFoldTail(threshold = 0.4)}
        |SELECT vec_id, cell, sel_rank FROM selout
        |WHERE vec_id >= 250""".stripMargin,
    // DuckDB replay of Dedup.semanticPairs: the q_kmeans_assign Lloyd
    // trajectory (k=8, 2 rounds, 6-decimal anchors) up to the final
    // assignment, then exact cosine within each cluster only
    "q_semantic_neardup" ->
      s"""WITH emb0 AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |emb AS (SELECT vec_id, e,
        |          list_sum(list_transform(e, x -> x * x)) AS xx
        |        FROM emb0),
        |${lloyd2Ctes("emb", 8)},
        |s2 AS (
        |  SELECT m.vec_id, c.cid, ${d2Sql("m", "c")} AS d
        |  FROM emb m CROSS JOIN c1cc c),
        |assigned AS (
        |  SELECT vec_id, cid AS cluster FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |    FROM s2) WHERE rn = 1),
        |scored AS (
        |  SELECT aa.vec_id AS a, ab.vec_id AS b,
        |    list_sum(list_transform(range(1, 65), i -> ea.e[i] * eb.e[i]))
        |      / (sqrt(list_sum(list_transform(ea.e, x -> x * x)))
        |         * sqrt(list_sum(list_transform(eb.e, x -> x * x)))) AS cos
        |  FROM assigned aa
        |  JOIN assigned ab ON aa.cluster = ab.cluster AND aa.vec_id < ab.vec_id
        |  JOIN emb0 ea ON aa.vec_id = ea.vec_id
        |  JOIN emb0 eb ON ab.vec_id = eb.vec_id)
        |SELECT a, b, round(cos, 6) AS cos FROM scored
        |WHERE cos >= 0.4""".stripMargin,
    "q_vector_norms" ->
      """SELECT vec_id,
        |  round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 6) AS norm,
        |  len(embedding)::INTEGER AS dim
        |FROM embeddings""".stripMargin,
    // full-vs-16-dim-prefix recall: both brute chains replayed, the
    // truncated one over (embedding::DOUBLE[])[1:16] — the engine's
    // slice-then-cast is exact (float->double), so order is irrelevant
    "q_matryoshka_recall" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb
        |           FROM embeddings WHERE vec_id % 50 = 0),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, 65),
        |      i -> q.q_emb[i] * e.embedding[i]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(q.q_emb, x -> x * x)))
        |       * sqrt(list_sum(list_transform(e.embedding::DOUBLE[], x -> x * x)))) AS cos
        |  FROM q, embeddings e WHERE e.vec_id <> q.query_id),
        |ex AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |                         ORDER BY cos DESC, neighbor_id) AS rank
        |    FROM scored) WHERE rank <= 5),
        |qt AS (SELECT vec_id AS query_id, (embedding::DOUBLE[])[1:16] AS q_emb
        |       FROM embeddings WHERE vec_id % 50 = 0),
        |scoredt AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, 17),
        |      i -> q.q_emb[i] * e.embedding[i]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(q.q_emb, x -> x * x)))
        |       * sqrt(list_sum(list_transform((e.embedding::DOUBLE[])[1:16],
        |           x -> x * x)))) AS cos
        |  FROM qt q, embeddings e WHERE e.vec_id <> q.query_id),
        |tr AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |                         ORDER BY cos DESC, neighbor_id) AS rank
        |    FROM scoredt) WHERE rank <= 5),
        |hits AS (
        |  SELECT ex.query_id, count(*) AS m
        |  FROM ex JOIN tr ON ex.query_id = tr.query_id
        |                 AND ex.neighbor_id = tr.neighbor_id
        |  GROUP BY 1),
        |qs AS (SELECT query_id, count(*) AS kq FROM ex GROUP BY 1)
        |SELECT round(avg(coalesce(m, 0)::DOUBLE / kq), 6) AS mean_recall,
        |  count(*)::BIGINT AS n_queries
        |FROM qs LEFT JOIN hits ON qs.query_id = hits.query_id""".stripMargin,
    "q_ann_bruteforce_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb
        |           FROM embeddings WHERE vec_id % 50 = 0),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, 65),
        |      i -> q.q_emb[i] * e.embedding[i]::DOUBLE))
        |    / (sqrt(list_sum(list_transform(q.q_emb, x -> x * x)))
        |       * sqrt(list_sum(list_transform(e.embedding::DOUBLE[], x -> x * x)))) AS cos
        |  FROM q, embeddings e WHERE e.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, rank::INTEGER AS rank, round(cos, 6) AS cos
        |FROM ranked WHERE rank <= 5""".stripMargin,
    "q_embedding_neardup_exact" ->
      """WITH scored AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b,
        |    list_sum(list_transform(range(1, 65),
        |        i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
        |      / (sqrt(list_sum(list_transform(a.embedding::DOUBLE[], x -> x * x)))
        |         * sqrt(list_sum(list_transform(b.embedding::DOUBLE[], x -> x * x)))) AS cos
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |SELECT a, b, round(cos, 6) AS cos FROM scored WHERE cos >= 0.4""".stripMargin,
    "q_label_centroids" ->
      """SELECT label, CAST(r.i - 1 AS INTEGER) AS dim,
        |  round(avg(embedding[r.i]::DOUBLE), 6) AS centroid_v
        |FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i) r
        |GROUP BY 1, 2""".stripMargin,
    // unrolled 2-round Lloyd trajectory: c0 = k lowest-id vectors,
    // a1 = assign, c1 = per-dim means, a2 = assign; centroids rounded
    // to 6 decimals at every step and distances via the same algebraic
    // d² the engine computes (Centroids.nearest)
    "q_kmeans_assign" ->
      s"""WITH emb0 AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |emb AS (SELECT vec_id, e,
        |          list_sum(list_transform(e, x -> x * x)) AS xx
        |        FROM emb0),
        |${lloyd2Ctes("emb", 8)},
        |s2 AS (
        |  SELECT m.vec_id, c.cid, ${d2Sql("m", "c")} AS d
        |  FROM emb m CROSS JOIN c1cc c)
        |SELECT vec_id, cid AS cluster, round(sqrt(d), 4) AS dist FROM (
        |  SELECT vec_id, cid, d,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |  FROM s2) WHERE rn = 1""".stripMargin,
    // unrolled 2-round k-means|| replay: seed = lowest-id vector,
    // round r samples points whose md5(':r')-derived uniform beats
    // l·d²/φ (φ anchored floor(x·1e6+0.5)/1e6 — summation order can't
    // flip a coin flip), candidates 6dp-anchored as they join the set;
    // final weights = nearest-candidate mass, ties to lower cand_id
    "q_kmeanspar_init" -> kmeansParInitOracle(l = 8),
    // ...the wide twin at real IVF cell counts (k=64, l=128): every
    // engine-side scoring pass crosses the 32-literal codegen cap, so
    // this replay certifies the broadcast-join min-aggregate path
    // against the SAME oracle form the literal path uses
    "q_kmeanspar_init_wide" -> kmeansParInitOracle(l = 128),
    // ...then the paper's final step: weighted Lloyd over the bounded
    // candidate set (seeds = k lowest-id weighted candidates, member
    // sums in candidate-id order, elements 6dp-anchored) and one
    // distributed assignment pass
    "q_kmeanspar_assign" -> kmeansParAssignOracle(k = 4, l = 8),
    "q_kmeanspar_assign_wide" -> kmeansParAssignOracle(k = 64, l = 128),
    "q_ann_ivf_kmeanspar_topk" ->
      kmeansParIvfOracle(k = 8, l = 16, nprobe = 2, topK = 5, every = 50L),
    "q_quantize_embeddings" ->
      """WITH u AS (
        |  SELECT vec_id, label, unnest(embedding::DOUBLE[]) AS x
        |  FROM embeddings),
        |m AS (
        |  SELECT vec_id, CASE WHEN max(abs(x)) = 0 THEN 1.0
        |                      ELSE 127.0 / max(abs(x)) END AS sc
        |  FROM u GROUP BY vec_id),
        |d AS (
        |  SELECT u.vec_id, u.label,
        |    u.x - LEAST(127.0, GREATEST(-127.0, round(u.x * m.sc))) / m.sc
        |      AS diff
        |  FROM u JOIN m USING (vec_id)),
        |r AS (
        |  SELECT vec_id, label, sqrt(sum(diff * diff)) AS err
        |  FROM d GROUP BY vec_id, label)
        |SELECT label, count(1) AS n, round(avg(err), 6) AS avg_err,
        |       round(max(err), 6) AS max_err
        |FROM r GROUP BY label""".stripMargin,
    "q_lr_train_score" -> logRegOracle(steps = 2, lr = 1.0, dim = 64),
    "q_ann_pq_topk" -> pqOracle(dim = 64, subspaces = 8, kCodes = 16,
      k = 5, every = 50L),
    "q_ann_ivfpq_topk" -> pqIvfOracle(dim = 64, subspaces = 8, kCodes = 16,
      k = 5, every = 50L, nCells = 8, nprobe = 2),
    "q_pq_incremental_persisted" -> pqPersistedOracle(dim = 64,
      subspaces = 8, kCodes = 16, k = 3),
    // parquet round-trips doubles/ints bit-exactly and partition
    // layout cannot change values, so the cell-partitioned store
    // replays as the direct corpus-split IVF-PQ computation
    "q_ivfpq_incremental_persisted" -> pqIvfOracleCore(
      prefix = """emb0 AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS e0,
        |    CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 1)) AS INTEGER) AS bkt
        |  FROM embeddings),
        |corp AS (SELECT vec_id, e0 FROM emb0 WHERE bkt < 14)""".stripMargin,
      corpusSrc = "corp",
      qsDef = "SELECT vec_id AS query_id, e0 AS q FROM emb0 WHERE bkt >= 14",
      dim = 64, subspaces = 8, kCodes = 16, k = 3, nCells = 8, nprobe = 2),
  )

  /** Shared CTE chain of the hybrid rerank oracles: both leg chains
    * (the q_tfidf integer-weight lexical chain and the proven IVF
    * chain) ranked to 10 with each leg's 6dp cos carried through RRF
    * fusion, cut to the fused top-10 candidate pool with
    * rrf6/lex_cos/sem_cos — q_hybrid_rerank applies the hand blend on
    * top, q_hybrid_rerank_trained the trained logreg reranker. */
  private def hybridCandsPrefix: String =
    s"""WITH tf AS (
       |  SELECT doc_id, term, count(1) AS tf
       |  FROM (SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'),
       |          x -> x <> '')) AS term
       |        FROM documents)
       |  GROUP BY 1, 2),
       |dfx AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
       |nn AS (SELECT count(1)::DOUBLE AS n FROM documents),
       |w AS (SELECT tf.doc_id, tf.term,
       |        round(round(tf.tf * ln(nn.n / dfx.df), 6) * 1e6)::BIGINT AS w
       |      FROM tf JOIN dfx USING (term) CROSS JOIN nn
       |      WHERE dfx.df <= (SELECT count(1) FROM documents) // 2),
       |norms AS (SELECT doc_id, sum(w * w) AS n2 FROM w GROUP BY doc_id),
       |lprods AS (
       |  SELECT wq.doc_id AS query_id, wn.doc_id AS neighbor_id,
       |    sum(wq.w * wn.w) AS dot
       |  FROM w wq JOIN w wn ON wq.term = wn.term
       |    AND wq.doc_id % 50 = 0 AND wn.doc_id <> wq.doc_id
       |  GROUP BY 1, 2),
       |lex AS (
       |  SELECT query_id, neighbor_id, rank, cos FROM (
       |    SELECT p.query_id, p.neighbor_id,
       |      row_number() OVER (PARTITION BY p.query_id
       |        ORDER BY p.dot::DOUBLE / sqrt(nq.n2::DOUBLE * nb.n2::DOUBLE)
       |          DESC, p.neighbor_id) AS rank,
       |      round(p.dot::DOUBLE / sqrt(nq.n2::DOUBLE * nb.n2::DOUBLE), 6)
       |        AS cos
       |    FROM lprods p
       |    JOIN norms nq ON p.query_id = nq.doc_id
       |    JOIN norms nb ON p.neighbor_id = nb.doc_id)
       |  WHERE rank <= 10),
       |emb0 AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |emb AS (SELECT vec_id, e,
       |          list_sum(list_transform(e, x -> x * x)) AS xx
       |        FROM emb0),
       |${lloyd2Ctes("emb", 16)},
       |dots AS (
       |  SELECT m.vec_id, c.cid, ${d2Sql("m", "c")} AS d
       |  FROM emb m CROSS JOIN c1cc c),
       |assigned AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
       |    FROM dots) WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cid AS cell FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
       |    FROM dots WHERE vec_id % 50 = 0) WHERE rn <= 4),
       |sscored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    list_sum(list_transform(range(1, 65), i -> eq.e[i] * en.e[i]))
       |      / (sqrt(list_sum(list_transform(eq.e, x -> x * x)))
       |         * sqrt(list_sum(list_transform(en.e, x -> x * x)))) AS cos
       |  FROM probes p
       |  JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
       |  JOIN emb0 eq ON eq.vec_id = p.query_id
       |  JOIN emb0 en ON en.vec_id = a.vec_id),
       |sem AS (
       |  SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos FROM (
       |    SELECT query_id, neighbor_id, cos,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY cos DESC, neighbor_id) AS rank
       |    FROM sscored) WHERE rank <= 10),
       |fused AS (
       |  SELECT coalesce(l.query_id, s.query_id) AS query_id,
       |    coalesce(l.neighbor_id, s.neighbor_id) AS neighbor_id,
       |    coalesce(1.0 / (60 + l.rank), 0.0)
       |      + coalesce(1.0 / (60 + s.rank), 0.0) AS rrf,
       |    coalesce(l.cos, 0.0) AS lex_cos,
       |    coalesce(s.cos, 0.0) AS sem_cos
       |  FROM lex l FULL JOIN sem s
       |    ON l.query_id = s.query_id AND l.neighbor_id = s.neighbor_id),
       |cands AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, round(rrf, 6) AS rrf6,
       |    lex_cos, sem_cos
       |  FROM (
       |    SELECT query_id, neighbor_id, rrf, lex_cos, sem_cos,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY rrf DESC, neighbor_id) AS frank
       |    FROM fused) WHERE frank <= 10)""".stripMargin

  /** DuckDB replay of `Retrieval.hybridRerankTrainedTopK`: the shared
    * candidate chain ([[hybridCandsPrefix]]), the exact brute-force
    * top-k truth pairs over the same `% 50` query sample, a LEFT JOIN
    * label, then the logRegOracle GD recipe unrolled over the 4-dim
    * augmented feature `[1, lex_cos, sem_cos, rrf6]` and the final
    * margin-ranked 6dp sigmoid scores. */
  private def rerankTrainedOracle(steps: Int, lr: Double, k: Int): String = {
    def margin(w: String): String =
      s"list_sum(list_transform(range(1, 5), i -> $w[i] * xa[i]))"
    val stepCtes = (1 to steps).map { s =>
      s"""rp$s AS (
         |  SELECT xa, y,
         |    1.0 / (1.0 + exp(-(${margin(s"rw${s - 1}.w")}))) AS p
         |  FROM lab CROSS JOIN rw${s - 1}),
         |rg$s AS (
         |  SELECT i, round(avg((p - y) * v), 9) AS g
         |  FROM (SELECT y, p, unnest(xa) AS v,
         |               unnest(range(len(xa))) AS i FROM rp$s) u
         |  GROUP BY i),
         |rw$s AS (
         |  SELECT list(round(wp.w[i + 1] - $lr * g, 6) ORDER BY i) AS w
         |  FROM rg$s CROSS JOIN rw${s - 1} wp)""".stripMargin
    }.mkString(",\n")
    s"""$hybridCandsPrefix,
       |truthq AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb
       |           FROM embeddings WHERE vec_id % 50 = 0),
       |tscored AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |    list_sum(list_transform(range(1, 65),
       |      i -> q.q_emb[i] * e.embedding[i]::DOUBLE))
       |    / (sqrt(list_sum(list_transform(q.q_emb, x -> x * x)))
       |       * sqrt(list_sum(list_transform(e.embedding::DOUBLE[], x -> x * x)))) AS cos
       |  FROM truthq q, embeddings e WHERE e.vec_id <> q.query_id),
       |truth AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY cos DESC, neighbor_id) AS trank
       |    FROM tscored) WHERE trank <= $k),
       |lab AS MATERIALIZED (
       |  SELECT c.query_id, c.neighbor_id, c.lex_cos, c.sem_cos,
       |    [1.0::DOUBLE, c.lex_cos, c.sem_cos, c.rrf6] AS xa,
       |    CASE WHEN t.neighbor_id IS NOT NULL THEN 1.0::DOUBLE
       |         ELSE 0.0::DOUBLE END AS y
       |  FROM cands c LEFT JOIN truth t
       |    ON c.query_id = t.query_id AND c.neighbor_id = t.neighbor_id),
       |rw0 AS (SELECT list_transform(range(1, 5), i -> 0.0::DOUBLE) AS w),
       |$stepCtes
       |SELECT query_id, neighbor_id, rank::INTEGER AS rank,
       |  round(1.0 / (1.0 + exp(-m)), 6) AS score, lex_cos, sem_cos
       |FROM (
       |  SELECT l.query_id, l.neighbor_id, l.lex_cos, l.sem_cos,
       |    ${margin(s"rw$steps.w")} AS m,
       |    row_number() OVER (PARTITION BY l.query_id
       |      ORDER BY ${margin(s"rw$steps.w")} DESC, l.neighbor_id) AS rank
       |  FROM lab l CROSS JOIN rw$steps) WHERE rank <= $k""".stripMargin
  }

  /** The recall audit composes the two ANN oracles verbatim as nested
    * CTE subqueries (DuckDB allows WITH inside a CTE body), so the
    * exact and approximate sides replay EXACTLY what
    * q_ann_bruteforce_topk / q_ann_ivf_topk are already verified
    * against — the recall number can only disagree if the set
    * intersection itself does. */
  lazy val oracles: Map[String, String] = oraclesBase +
    ("q_ann_recall" ->
      s"""WITH ex AS (
         |${oraclesBase("q_ann_bruteforce_topk")}),
         |ap AS (
         |${oraclesBase("q_ann_ivf_topk")}),
         |hits AS (
         |  SELECT ex.query_id, count(*) AS m
         |  FROM ex JOIN ap ON ex.query_id = ap.query_id
         |                 AND ex.neighbor_id = ap.neighbor_id
         |  GROUP BY 1),
         |qs AS (SELECT query_id, count(*) AS kq FROM ex GROUP BY 1)
         |SELECT round(avg(coalesce(m, 0)::DOUBLE / kq), 6) AS mean_recall,
         |  count(*)::BIGINT AS n_queries
         |FROM qs LEFT JOIN hits ON qs.query_id = hits.query_id""".stripMargin) +
    ("q_ann_kmeanspar_recall" ->
      s"""WITH ex AS (
         |${oraclesBase("q_ann_bruteforce_topk")}),
         |ap AS (
         |${oraclesBase("q_ann_ivf_kmeanspar_topk")}),
         |hits AS (
         |  SELECT ex.query_id, count(*) AS m
         |  FROM ex JOIN ap ON ex.query_id = ap.query_id
         |                 AND ex.neighbor_id = ap.neighbor_id
         |  GROUP BY 1),
         |qs AS (SELECT query_id, count(*) AS kq FROM ex GROUP BY 1)
         |SELECT round(avg(coalesce(m, 0)::DOUBLE / kq), 6) AS mean_recall,
         |  count(*)::BIGINT AS n_queries
         |FROM qs LEFT JOIN hits ON qs.query_id = hits.query_id""".stripMargin) +
    ("q_retrieval_metrics" ->
      s"""WITH ex AS (
         |${oraclesBase("q_ann_bruteforce_topk")}),
         |ap AS (
         |${oraclesBase("q_ann_ivf_topk")}),
         |tru AS (
         |  SELECT query_id, neighbor_id, rank AS t_rank,
         |    CAST(6 - rank AS DOUBLE) AS rel FROM ex),
         |ideal AS (
         |  SELECT query_id, count(*) AS kq,
         |    sum(rel / ln(1 + t_rank)) AS idcg
         |  FROM tru GROUP BY 1),
         |hits AS (
         |  SELECT r.query_id, count(*) AS n_hits,
         |    min(r.rank) AS first_hit,
         |    sum(t.rel / ln(1 + r.rank)) AS dcg
         |  FROM ap r JOIN tru t ON r.query_id = t.query_id
         |    AND r.neighbor_id = t.neighbor_id
         |  GROUP BY 1)
         |SELECT count(*)::BIGINT AS n_queries,
         |  floor(avg(CAST(coalesce(n_hits, 0) AS DOUBLE) / kq)
         |    * 1e6 + 0.5) / 1e6 AS mean_recall,
         |  floor(avg(coalesce(CAST(1.0 AS DOUBLE) / first_hit,
         |    CAST(0.0 AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS mean_mrr,
         |  floor(avg(coalesce(dcg, CAST(0.0 AS DOUBLE)) / idcg)
         |    * 1e6 + 0.5) / 1e6 AS mean_ndcg
         |FROM ideal LEFT JOIN hits ON ideal.query_id = hits.query_id"""
        .stripMargin) +
    ("q_lr_calibration" ->
      s"""WITH sc AS (
         |${logRegOracle(steps = 2, lr = 1.0, dim = 64)}),
         |d AS (
         |  SELECT y, lr_score,
         |    ntile(10) OVER (ORDER BY lr_score, vec_id) AS score_decile
         |  FROM sc)
         |SELECT score_decile, count(*)::BIGINT AS n,
         |  round(avg(y), 6) AS frac_positive,
         |  round(avg(lr_score), 6) AS avg_score
         |FROM d GROUP BY 1""".stripMargin)

  /** DuckDB replay of the persisted-PQ-index query: same
    * train + encode + ADC replay as [[pqOracle]], but codebooks train
    * and codes encode over the CORPUS split only (md5 16-bucket split
    * on vec_id, test = bkt >= 14) and the queries are the batch split.
    * The parquet round-trip of the engine's model/codes tables is
    * bit-exact, so the persisted path must hash-match this direct
    * replay. */
  private def pqPersistedOracle(dim: Int, subspaces: Int, kCodes: Int,
      k: Int): String =
    s"""WITH emb0 AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS e0,
       |    CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 1)) AS INTEGER) AS bkt
       |  FROM embeddings),
       |emb AS (SELECT vec_id, e0 FROM emb0 WHERE bkt < 14),
       |${pqSubCtes("emb", dim, subspaces, kCodes)},
       |qs AS (SELECT vec_id AS query_id, e0 AS q FROM emb0 WHERE bkt >= 14),
       |scored AS (
       |  SELECT q.query_id, n0.vec_id AS neighbor_id,
       |    ${pqAdcTerms(dim, subspaces)} AS d
       |  FROM qs q CROSS JOIN enc0 n0
       |  ${pqEncJoins(subspaces)}
       |  WHERE n0.vec_id <> q.query_id)
       |${pqRankSql(k)}""".stripMargin

  /** The PQ replay building blocks, shared by the three PQ oracles.
    * `pqSubCtes(src, …)` emits one [[lloyd2Ctes]] trajectory per
    * subspace over the sliced vectors of `src` (which must provide
    * vec_id, e0) plus `enc$s` = encode — argmin d² against the final
    * centroids, ties toward the lower code; `enc$s` keeps the winning
    * centroid and its ‖c‖² so ADC needs no further codebook join.
    * `pqAdcTerms` is the ADC distance: the per-subspace algebraic terms
    * summed left-to-right in subspace order (the engine's
    * `reduce(_ + _)`). */
  private def pqSubCtes(src: String, dim: Int, subspaces: Int,
      kCodes: Int): String = {
    val sub = dim / subspaces
    (0 until subspaces).map { s =>
      val lo = s * sub + 1
      val hi = s * sub + sub
      s"""sub$s AS (
         |  SELECT vec_id, e0[$lo:$hi] AS e,
         |         list_sum(list_transform(e0[$lo:$hi], x -> x * x)) AS xx
         |  FROM $src),
         |${lloyd2Ctes(s"sub$s", kCodes, sub, s"_$s")},
         |enc$s AS (
         |  SELECT vec_id, c, cc FROM (
         |    SELECT m.vec_id, c.c, c.cc,
         |      row_number() OVER (PARTITION BY m.vec_id
         |                         ORDER BY ${d2Sql("m", "c", sub)}, c.cid) AS rn
         |    FROM sub$s m CROSS JOIN c1cc_$s c) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
  }

  private def pqEncJoins(subspaces: Int): String = (1 until subspaces)
    .map(s => s"JOIN enc$s n$s ON n$s.vec_id = n0.vec_id").mkString("\n  ")

  private def pqAdcTerms(dim: Int, subspaces: Int): String = {
    val sub = dim / subspaces
    (0 until subspaces).map { s =>
      val lo = s * sub + 1
      val hi = s * sub + sub
      s"""greatest(list_sum(list_transform(q.q[$lo:$hi], x -> x * x))
         |      - 2 * list_sum(list_transform(range(1, ${sub + 1}),
         |                     i -> q.q[${lo - 1} + i] * n$s.c[i]))
         |      + n$s.cc, 0)""".stripMargin
    }.mkString("\n    + ")
  }

  /** Per-query ADC top-k ranking over a `scored` CTE (query_id,
    * neighbor_id, d), ties toward the lower neighbor id. */
  private def pqRankSql(k: Int): String =
    s"""SELECT query_id, neighbor_id, rank::INTEGER AS rank,
       |       round(d, 6) AS adc_d2
       |FROM (
       |  SELECT query_id, neighbor_id, d,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY d, neighbor_id) AS rank
       |  FROM scored) WHERE rank <= $k""".stripMargin

  /** DuckDB replay of [[Similarity.pqTopK]] — train + encode + ADC over
    * the full embeddings table, ranked per query by (d, neighbor_id). */
  private def pqOracle(dim: Int, subspaces: Int, kCodes: Int, k: Int,
      every: Long): String =
    s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e0 FROM embeddings),
       |${pqSubCtes("emb", dim, subspaces, kCodes)},
       |qs AS (SELECT vec_id AS query_id, e0 AS q FROM emb
       |       WHERE vec_id % $every = 0),
       |scored AS (
       |  SELECT q.query_id, n0.vec_id AS neighbor_id,
       |    ${pqAdcTerms(dim, subspaces)} AS d
       |  FROM qs q CROSS JOIN enc0 n0
       |  ${pqEncJoins(subspaces)}
       |  WHERE n0.vec_id <> q.query_id)
       |${pqRankSql(k)}""".stripMargin

  /** DuckDB replay of [[Similarity.pqIvfTopK]] over the full
    * embeddings table (queries ⊂ corpus by `vec_id % every`). */
  private def pqIvfOracle(dim: Int, subspaces: Int, kCodes: Int, k: Int,
      every: Long, nCells: Int, nprobe: Int): String =
    pqIvfOracleCore(
      prefix = "emb AS (SELECT vec_id, embedding::DOUBLE[] AS e0 FROM embeddings)",
      corpusSrc = "emb",
      qsDef = s"SELECT vec_id AS query_id, e0 AS q FROM emb WHERE vec_id % $every = 0",
      dim = dim, subspaces = subspaces, kCodes = kCodes, k = k,
      nCells = nCells, nprobe = nprobe)

  /** The IVF-PQ replay over arbitrary corpus/query sources: the
    * coarse-quantizer trajectory ([[lloyd2Ctes]] suffix `_cz` over the
    * FULL dimension) trains on `corpusSrc` (vec_id, e0) and gives
    * corpus cell assignment (rn = 1); queries (from `qsDef`:
    * query_id, q) get their own distance CTE against the same final
    * centroids and probe their nprobe nearest cells; both argmins break
    * ties toward the lower cell. The scored set is restricted to
    * neighbors ASSIGNED to a probed cell, then the same encode + ADC
    * replay as [[pqOracle]]. */
  private def pqIvfOracleCore(prefix: String, corpusSrc: String,
      qsDef: String, dim: Int, subspaces: Int, kCodes: Int, k: Int,
      nCells: Int, nprobe: Int): String =
    s"""WITH $prefix,
       |embf AS (SELECT vec_id, e0 AS e,
       |           list_sum(list_transform(e0, x -> x * x)) AS xx
       |         FROM $corpusSrc),
       |${lloyd2Ctes("embf", nCells, dim, "_cz")},
       |dots_cz AS (
       |  SELECT m.vec_id, c.cid, ${d2Sql("m", "c", dim)} AS d
       |  FROM embf m CROSS JOIN c1cc_cz c),
       |assigned AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
       |    FROM dots_cz) WHERE rn = 1),
       |qs AS ($qsDef),
       |qsx AS (SELECT query_id, q,
       |          list_sum(list_transform(q, x -> x * x)) AS xx
       |        FROM qs),
       |dots_q AS (
       |  SELECT m.query_id, c.cid,
       |    greatest(m.xx - 2 * list_sum(list_transform(range(1, ${dim + 1}),
       |      i -> m.q[i] * c.c[i])) + c.cc, 0) AS d
       |  FROM qsx m CROSS JOIN c1cc_cz c),
       |probes AS (
       |  SELECT query_id, cid AS cell FROM (
       |    SELECT query_id, cid,
       |      row_number() OVER (PARTITION BY query_id ORDER BY d, cid) AS rn
       |    FROM dots_q) WHERE rn <= $nprobe),
       |${pqSubCtes(corpusSrc, dim, subspaces, kCodes)},
       |scored AS (
       |  SELECT q.query_id, n0.vec_id AS neighbor_id,
       |    ${pqAdcTerms(dim, subspaces)} AS d
       |  FROM probes p
       |  JOIN qs q ON q.query_id = p.query_id
       |  JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
       |  JOIN enc0 n0 ON n0.vec_id = a.vec_id
       |  ${pqEncJoins(subspaces)})
       |${pqRankSql(k)}""".stripMargin

  /** DuckDB replay of `Classification.logRegScores`: the GD trajectory
    * unrolled step by step — sigmoid against the previous weights, the
    * per-index gradient avg 9dp-anchored (Classification.round9's
    * partition-invariance anchor), the 6-decimal weight anchor — over
    * the same augmented `[1.0] || e` vector and the same left-to-right
    * margin fold the engine's VectorDot uses. `w0` is the zero vector,
    * so step 1's margin is exactly 0.0 in both engines. */
  private def logRegOracle(steps: Int, lr: Double, dim: Int): String = {
    val hi = dim + 2 // exclusive range bound over the augmented vector
    def margin(w: String): String =
      s"list_sum(list_transform(range(1, $hi), i -> $w[i] * xa[i]))"
    val stepCtes = (1 to steps).map { k =>
      s"""p$k AS (
         |  SELECT vec_id, xa, y,
         |    1.0 / (1.0 + exp(-(${margin(s"w${k - 1}.w")}))) AS p
         |  FROM emb CROSS JOIN w${k - 1}),
         |g$k AS (
         |  SELECT i, round(avg((p - y) * v), 9) AS g
         |  FROM (SELECT y, p, unnest(xa) AS v,
         |               unnest(range(len(xa))) AS i FROM p$k) u
         |  GROUP BY i),
         |w$k AS (
         |  SELECT list(round(wp.w[i + 1] - $lr * g, 6) ORDER BY i) AS w
         |  FROM g$k CROSS JOIN w${k - 1} wp)""".stripMargin
    }.mkString(",\n")
    s"""WITH emb AS (
       |  SELECT vec_id, [1.0::DOUBLE] || embedding::DOUBLE[] AS xa,
       |    CASE WHEN label = 1 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS y
       |  FROM embeddings),
       |w0 AS (SELECT list_transform(range(1, $hi), i -> 0.0::DOUBLE) AS w),
       |$stepCtes
       |SELECT vec_id, y,
       |  round(1.0 / (1.0 + exp(-(${margin(s"w$steps.w")}))), 6) AS lr_score
       |FROM emb CROSS JOIN w$steps""".stripMargin
  }
}
