package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means over an embedding column — the trainer
  * behind IVF cell assignment ([[Similarity.ivfTopK]]) and the standard
  * corpus-clustering step of a training-data pipeline (topic balancing,
  * cluster-based dedup/curation à la SemDeDup).
  *
  * Scale shape: centroids are the ONLY driver-resident state — O(k·dim)
  * doubles per iteration, independent of corpus size (the same contract
  * as Spark MLlib's KMeans). Each iteration is one scan: assignment is
  * [[Centroids.nearest]]'s per-row argmin over k centroid literals (no
  * row explosion, no shuffle; a broadcast join above its literal cap),
  * and the centroid update is a posexplode + two-level
  * aggregation whose map-side combine reduces the shuffle to
  * k·dim rows per partition. Nothing else crosses the network.
  *
  * Determinism: init = the k lowest-id vectors; every centroid element
  * is rounded to 6 decimals between iterations (half-away-from-zero,
  * matching DuckDB `round`) so the oracle can replay the exact same
  * trajectory; argmin ties break toward the lower cluster id.
  * Reference for the operator's role (not implementation):
  * kaylee has no clustering — this is north-star extension work
  * (`/root/reference/README.md:4-8` scopes the reference to MapReduce).
  */
object Clustering {

  /** Half-away-from-zero rounding to 6 decimals — same boundary rule as
    * DuckDB's `round(x, 6)` (`std::round(x*1e6)/1e6`), used for the
    * inter-iteration centroid anchor in BOTH engines so tiny sum-order
    * differences can't compound across iterations. */
  private def round6(x: Double): Double =
    (if (x >= 0) math.floor(x * 1e6 + 0.5) else math.ceil(x * 1e6 - 0.5)) / 1e6

  /** The per-row nearest centroid: (vec_id, cluster, dist), dist the
    * euclidean distance rounded to 4 decimals; ties break toward the
    * lower cluster id ([[Centroids.nearest]]). The literal route is a
    * stateless projection, so it applies unchanged to a STREAMING
    * DataFrame (see graft.streaming.StreamingOps.assignToCentroids). The
    * join route is not: its groupBy is a STATEFUL aggregation on an
    * unbounded stream (illegal in append mode, and accumulating across
    * micro-batches would be wrong anyway), so a streaming input on that
    * route goes through [[assignByClosure]] instead — same algebra,
    * still stateless, stream == batch exactly (StreamingSpec pins it). */
  def assign(df: DataFrame, centroids: Seq[(Int, Seq[Double])],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val rows = df.select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("e"))
    val scored =
      if (df.isStreaming && Centroids.joins(centroids.size)) assignByClosure(rows, centroids)
      else Centroids.nearest(rows, "e", centroids, 1, "vec_id")
        .select(col("vec_id"), col("near")(0)("id").as("cluster"),
          col("near")(0)("d2").as("d2"))
    // streaming id convention: vec_id is LONG on both streaming routes,
    // so a sink's schema cannot silently change when k crosses the
    // kernel's literal cap mid-deployment
    val idOut =
      if (df.isStreaming) col("vec_id").cast("long").as("vec_id")
      else col("vec_id")
    scored.select(idOut, col("cluster"), round(sqrt(col("d2")), 4).as("dist"))
  }

  /** Streaming-legal wide-k scoring: the centroid model rides in the
    * task closure and each row scores all k centroids in a map through
    * [[Centroids.nearestOne]] — no join, no aggregation, no state store,
    * any k, and bit-equal to the batch routes. (vec_id, cluster, d2),
    * ids cast to long (the streaming twins' id convention). */
  private def assignByClosure(rows: DataFrame,
      centroids: Seq[(Int, Seq[Double])]): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val model = Centroids.scalarModel(centroids)
    rows.select(col("vec_id").cast("long"), col("e")).as[(Long, Array[Double])]
      .map { case (id, e) =>
        val (d2, cid) = Centroids.nearestOne(e, model)
        (id, cid, d2)
      }.toDF("vec_id", "cluster", "d2")
  }

  /** Run the Lloyd loop and return the final centroid set — the model a
    * pipeline trains once in batch and then applies to batches or
    * streams via [[assign]]. `iters` rounds = iters-1 update passes
    * (the iters-th assignment is whatever the caller does with the
    * result). Returns an empty seq on an empty corpus. */
  def trainCentroids(emb: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Seq[(Int, Seq[Double])] = {
    require(k > 0 && iters > 0, "k and iters must be positive")
    val df = emb.select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("e"))
      .cache() // scanned iters times; unpersisted below

    try {
      // deterministic seed: the k lowest-id vectors (TakeOrdered — only k
      // rows reach the driver). kmeans|| is the scale-up init; for a
      // fixed-trajectory oracle query the deterministic seed is the point.
      var centroids: Seq[(Int, Seq[Double])] =
        df.orderBy(col("vec_id")).limit(k).collect().toSeq.zipWithIndex.map {
          case (r, i) => (i, r.getSeq[Double](1).map(round6))
        }

      for (_ <- 1 until iters if centroids.nonEmpty) {
        // per-dimension mean per cluster: k·dim rows after map-side
        // combine; collected to the driver as the next centroid set.
        // A cluster that loses all members simply disappears (both
        // engines drop it identically).
        val upd = Centroids.nearest(df, "e", centroids, 1, "vec_id", "e")
          .select(col("near")(0)("id").as("cid"), posexplode(col("e")).as(Seq("i", "v")))
          .groupBy(col("cid"), col("i"))
          .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
          .collect()
        centroids = upd.groupBy(_.getInt(0)).map { case (cid, rows) =>
          (cid, rows.sortBy(_.getInt(1))
            .map(r => round6(r.getDouble(2) / r.getLong(3))).toSeq)
        }.toSeq.sortBy(_._1)
      }
      centroids
    } finally {
      // every training pass ends inside this call, so the cache has no
      // consumers left; leaving it pinned would accumulate one cached
      // corpus per invocation (probe loops, repeated queries) until LRU
      df.unpersist()
    }
  }

  /** k-means|| oversampling initialization (Bahmani, Moseley, Vattani,
    * Kumar, Vassilvitskii — VLDB 2012; public algorithm), the scale-up
    * seeding [[trainCentroids]]' scaladoc defers to — made fully
    * DETERMINISTIC so it oracles: the per-point coin flip compares an
    * md5-derived uniform in [0,1) against the paper's
    * `l · d²(x, C) / φ_X(C)` inclusion probability (RNG → content
    * hash, the house seeded-sampling idiom; salt = the round index),
    * the seed is the lowest-id vector, and every candidate's elements
    * are 6-decimal-anchored the moment they become plan literals (the
    * [[trainCentroids]] convention — both engines then score identical
    * doubles). The cost total φ is anchored with the engine-portable
    * `floor(x·1e6 + 0.5)/1e6` before it enters the threshold, so the
    * summation-order noise of a distributed sum can't flip a
    * coin-flip comparison between engines.
    *
    * Scale shape — the reason k-means++ can't run at 100 TB and this
    * can: k-means++ needs k SEQUENTIAL full scans (each next seed
    * depends on the previous). k-means|| does `rounds` scans total
    * (rounds ≈ O(log φ) in the paper; 2 suffices in practice), each a
    * parallel min-distance pass against the current candidates,
    * sampling ~`l` candidates per round in expectation. Driver state
    * is the candidate set — O(l·rounds·dim), independent of corpus
    * size. Scoring routes through [[Centroids.nearest]], which picks the
    * codegen'd literal argmin or the broadcast-join min-aggregate by
    * the ACTUAL candidate count each round (the Bernoulli sample size
    * is data-dependent — skewed cost mass or sure-inclusion points
    * with l·d²/φ ≥ 1 can push a round past its ~l expectation — so no
    * upfront `l·rounds` precondition can stand in for the per-round
    * check), which is what lets init seed real IVF cell counts
    * (k ≥ 64, the SemDeDup k≈√n regime) instead of capping at the
    * 32-literal codegen limit. Output: `(cand_id, weight)` — each
    * candidate's nearest-point mass (ties toward the lower candidate
    * id), the bounded weighted input a final local clustering consumes.
    * Candidates themselves have d² = 0, so they can never be
    * re-sampled — ids stay distinct with no dedup pass. */
  def initKmeansParallel(emb: DataFrame, k: Int, rounds: Int = 2,
      oversample: Int = 0, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k > 0 && rounds > 0)
    val l = if (oversample > 0) oversample else 2 * k
    val df = emb.select(col(idCol).cast("long").as("vec_id"),
        col(vecCol).cast("array<double>").as("e"))
      .cache() // scanned rounds+1 times; unpersisted below
    try {
      var cands: Seq[(Long, Seq[Double])] =
        df.orderBy(col("vec_id")).limit(1).collect().toSeq
          .map(r => (r.getLong(0), r.getSeq[Double](1).map(round6)))
      if (cands.isEmpty) return df.sparkSession.emptyDataFrame
        .withColumn("cand_id", lit(0L)).withColumn("weight", lit(0L))
        .select("cand_id", "weight")
      for (r <- 0 until rounds) {
        // the round's min-distance frame is consumed twice (φ total,
        // then the coin-flip filter); on the join route that is a full
        // broadcast-join + shuffle per consumption, so pin it for the
        // round — on the literal route recomputing the projection over
        // the cached df is cheaper than a second materialization
        val joinPath = Centroids.joins(cands.size)
        val md2Raw = Centroids.nearest(df, "e", cands, 1, "vec_id", "e")
          .select(col("vec_id"), col("e"), col("near")(0)("d2").as("__md2"))
        val md2 = if (joinPath) md2Raw.persist() else md2Raw
        try {
          val tot = round6(md2.agg(sum(col("__md2"))).head().getDouble(0))
          if (tot > 0) {
            val hashFrac = conv(substring(md5(
                concat(col("vec_id").cast("string"), lit(s":$r"))
                  .cast("binary")), 1, 8), 16, 10)
              .cast("long") / lit(4294967296.0)
            val sampled = md2
              .filter(hashFrac < lit(l.toDouble) * col("__md2") / lit(tot))
              .select(col("vec_id"), col("e")).collect()
            cands = (cands ++ sampled.map(row =>
              (row.getLong(0), row.getSeq[Double](1).map(round6))))
              .sortBy(_._1)
          }
        } finally if (joinPath) md2.unpersist()
      }
      // weight = nearest-point mass per candidate, ties to the lower
      // candidate id
      Centroids.nearest(df, "e", cands, 1, "vec_id")
        .groupBy(col("near")(0)("id").as("cand_id"))
        .agg(count(lit(1)).as("weight"))
    } finally df.unpersist()
  }

  /** The k-means|| FINAL step: weighted Lloyd over
    * [[initKmeansParallel]]'s bounded candidate set, run driver-side
    * (the paper reclusters the ~l·rounds weighted candidates locally —
    * that is the point: the expensive scans already happened, the
    * remaining problem is O(l·rounds) rows). Deterministic mirror of
    * [[trainCentroids]]' conventions so the whole composition oracles:
    * candidate vectors are 6dp-anchored, seeds are the k lowest-id
    * weighted candidates, assignment is [[Centroids.nearestOne]] (the
    * kernel's `x·x − 2·x·c + ‖c‖²` with left-to-right folds —
    * bit-identical to the oracle's list_sum), members accumulate in
    * candidate-id order, and every updated element is round6'd. Zero-mass candidates (never
    * the nearest to any corpus point) drop before seeding, exactly as
    * the oracle's weight join drops them. */
  def trainCentroidsParallel(emb: DataFrame, k: Int, iters: Int,
      rounds: Int = 2, oversample: Int = 0, idCol: String = "vec_id",
      vecCol: String = "embedding"): Seq[(Int, Seq[Double])] = {
    require(iters > 0)
    val weights = initKmeansParallel(emb, k, rounds, oversample, idCol, vecCol)
    val cand: Seq[(Long, Array[Double], Long)] = emb
      .select(col(idCol).cast("long").as("cand_id"),
        col(vecCol).cast("array<double>").as("e"))
      .join(broadcast(weights), Seq("cand_id"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1).map(round6).toArray, r.getLong(2)))
      .sortBy(_._1)
    if (cand.isEmpty) return Seq.empty
    val dim = cand.head._2.length
    var centroids: Seq[(Int, Seq[Double])] =
      cand.take(k).zipWithIndex.map { case ((_, e, _), i) => (i, e.toSeq) }
    for (_ <- 1 until iters) {
      val model = Centroids.scalarModel(centroids)
      val vsum = scala.collection.mutable.Map.empty[Int, Array[Double]]
      val wsum = scala.collection.mutable.Map.empty[Int, Long]
      cand.foreach { case (_, e, w) =>
        val (_, cid) = Centroids.nearestOne(e, model)
        val acc = vsum.getOrElseUpdate(cid, new Array[Double](dim))
        var i = 0
        while (i < dim) { acc(i) += w.toDouble * e(i); i += 1 }
        wsum(cid) = wsum.getOrElse(cid, 0L) + w
      }
      centroids = wsum.keys.toSeq.sorted.map { cid =>
        (cid, vsum(cid).toSeq.map(v => round6(v / wsum(cid))))
      }
    }
    centroids
  }

  /** k-means|| end to end: oversampled init, driver-local weighted
    * Lloyd, then one distributed [[assign]] pass — the corpus is
    * scanned `rounds + 2` times TOTAL regardless of k, vs
    * k-means++'s k sequential scans before training even starts. */
  def kMeansAssignParallel(emb: DataFrame, k: Int, iters: Int,
      rounds: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val centroids = trainCentroidsParallel(emb, k, iters, rounds,
      oversample = 0, idCol, vecCol)
    if (centroids.isEmpty)
      return emb.select(col(idCol).as("vec_id"), lit(0).as("cluster"),
        lit(0.0).as("dist"))
    assign(emb, centroids, idCol, vecCol)
  }

  /** Assign every vector to its nearest of `k` centroids after `iters`
    * Lloyd rounds ([[trainCentroids]] + one [[assign]] pass). Returns
    * (vec_id, cluster, dist) with dist = euclidean distance to the
    * final centroid, rounded to 4 decimals.
    */
  def kMeansAssign(emb: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centroids = trainCentroids(emb, k, iters, idCol, vecCol)
    if (centroids.isEmpty) // empty corpus: empty result, correct schema
      return emb.select(col(idCol).as("vec_id"), lit(0).as("cluster"),
        lit(0.0).as("dist"))
    assign(emb, centroids, idCol, vecCol)
  }
}
