package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means over an embedding column — the trainer
  * behind IVF cell assignment ([[Similarity.ivfTopK]]) and the standard
  * corpus-clustering step of a training-data pipeline (topic balancing,
  * cluster-based dedup/curation à la SemDeDup).
  *
  * Scale shape: centroids are the ONLY driver-resident state — O(k·dim)
  * doubles per iteration, independent of corpus size (the same contract
  * as Spark MLlib's KMeans). Each iteration is one scan: assignment is a
  * per-row argmin over k broadcast centroid literals (no row explosion,
  * no shuffle), and the centroid update is a posexplode + two-level
  * aggregation whose map-side combine reduces the shuffle to
  * k·dim rows per partition. Nothing else crosses the network.
  *
  * Determinism: init = the k lowest-id vectors; every centroid element
  * is rounded to 6 decimals between iterations (half-away-from-zero,
  * matching DuckDB `round`) so the oracle can replay the exact same
  * trajectory; argmin ties break toward the lower cluster id via struct
  * ordering. Reference for the operator's role (not implementation):
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

  /** Squared L2 to a constant centroid via the algebraic identity
    * `‖x−c‖² = x·x − 2·x·c + ‖c‖²`, clamped at 0 (float cancellation
    * can dip a hair negative for x ≈ c): `x·x` is computed ONCE per row
    * and each centroid costs one fused native
    * [[graft.functions.VectorDot]] — fully codegen'd, so the per-row
    * cost is k dot products instead of k interpreted
    * `aggregate(zip_with(...))` folds (ScaleProbe's k=64 assignment was
    * fold-bound; higher-order functions don't enter whole-stage
    * codegen). `‖c‖²` folds at PLAN time in the same left-to-right
    * order the oracle's `list_sum` uses, so both engines evaluate the
    * identical expression. */
  private def sqDistAlg(xx: Column, e: Column, c: Seq[Double]): Column = {
    val cc = c.foldLeft(0.0)((acc, x) => acc + x * x)
    greatest(xx - lit(2.0) * graft.functions.GraftFunctions.vectorDot(e, typedlit(c)) + lit(cc),
      lit(0.0))
  }

  /** Max centroids evaluated as ONE literal argmin expression. Beyond
    * this, the generated Java for the struct-array min exceeds Janino's
    * method limits (CollapseProject re-inlines any attempt to split it
    * across projections), codegen fails, and the whole stage silently
    * drops to interpreted eval — measured as minutes instead of seconds
    * at k=64/128 in ScaleProbe. Above the cap, [[bestCentroid]] switches
    * to the broadcast-join formulation: one (row × centroid) pair per
    * evaluation of a SMALL codegen'd expression, then a `min(struct)`
    * aggregation — one map-side-combined shuffle of |rows| compact
    * rows, which is the shape that scales to thousands of IVF cells. */
  private[operators] val LiteralArgminMax = 32

  /** Per-row argmin over the centroid set: `(vec_id, __e, best{d2,cid})`.
    * Shared by [[assign]] and the training update pass; picks the
    * literal or join path by centroid count (see [[LiteralArgminMax]]).
    * Both paths compute the identical `sqDistAlg` quantity, so results
    * (and oracles) are independent of the path taken. */
  private def bestCentroid(df: DataFrame, centroids: Seq[(Int, Seq[Double])],
      idCol: String, vecCol: Column): DataFrame = {
    val prepped = df.select(col(idCol).as("vec_id"),
        vecCol.cast("array<double>").as("__e"))
      .withColumn("__xx", graft.functions.GraftFunctions.vectorDot(col("__e"), col("__e")))
    if (centroids.size <= LiteralArgminMax) {
      val scored = array(centroids.map { case (cid, c) =>
        struct(sqDistAlg(col("__xx"), col("__e"), c).as("d2"), lit(cid).as("cid"))
      }: _*)
      prepped.select(col("vec_id"), col("__e"), array_min(scored).as("best"))
    } else {
      val spark = df.sparkSession
      import spark.implicits._
      val cent = centroids.map { case (cid, c) =>
        (cid, c, c.foldLeft(0.0)((acc, x) => acc + x * x))
      }.toDF("__cid", "__c", "__cc")
      val d2 = greatest(col("__xx") -
        lit(2.0) * graft.functions.GraftFunctions.vectorDot(col("__e"), col("__c")) +
        col("__cc"), lit(0.0))
      // ties on (d2, cid) are impossible (cid unique), so the trailing
      // __e field is never compared — it just rides along, avoiding a
      // second join to recover the vector
      prepped.crossJoin(broadcast(cent))
        .select(col("vec_id"),
          struct(d2.as("d2"), col("__cid").as("cid"), col("__e").as("e")).as("__s"))
        .groupBy("vec_id")
        .agg(min(col("__s")).as("__m"))
        .select(col("vec_id"), col("__m.e").as("__e"),
          struct(col("__m.d2").as("d2"), col("__m.cid").as("cid")).as("best"))
    }
  }

  /** [[bestCentroid]]'s twin for the k-means|| CANDIDATE set (Long ids
    * = source vec_ids, not dense cluster ids): per-row argmin over the
    * current candidates as `(vec_id, e, best{d2, cand_id})`, given a
    * frame already prepped with (vec_id, e, __xx) — the init loop
    * caches that prep once and scans it every round. Same two paths as
    * [[bestCentroid]] keyed on the ACTUAL candidate count (the
    * per-point Bernoulli draws make each round's sample size
    * data-dependent, so the path decision must be per-round, not a
    * one-shot precondition): ≤ [[LiteralArgminMax]] candidates score as
    * one codegen'd literal argmin; above it, a broadcast candidates
    * table + `min(struct(d2, cand_id, e))` aggregation — one
    * map-side-combined shuffle of |rows| compact rows per round, the
    * shape that lets init seed real IVF cell counts (k ≥ 64). Both
    * paths evaluate the identical [[sqDistAlg]] quantity, so the
    * sampled trajectory (and the oracle) is path-independent. */
  private def bestCandidate(prepped: DataFrame,
      cands: Seq[(Long, Seq[Double])]): DataFrame = {
    if (cands.size <= LiteralArgminMax) {
      val scored = array(cands.map { case (cid, c) =>
        struct(sqDistAlg(col("__xx"), col("e"), c).as("d2"),
          lit(cid).as("cand_id"))
      }: _*)
      prepped.select(col("vec_id"), col("e"), array_min(scored).as("best"))
    } else {
      val spark = prepped.sparkSession
      import spark.implicits._
      val cand = cands.map { case (cid, c) =>
        (cid, c, c.foldLeft(0.0)((acc, x) => acc + x * x))
      }.toDF("__cid", "__c", "__cc")
      val d2 = greatest(col("__xx") -
        lit(2.0) * graft.functions.GraftFunctions.vectorDot(col("e"), col("__c")) +
        col("__cc"), lit(0.0))
      // cand_id is unique, so the trailing e field never decides the
      // min — it rides along to spare a second join back to the vector
      prepped.crossJoin(broadcast(cand))
        .select(col("vec_id"),
          struct(d2.as("d2"), col("__cid").as("cand_id"), col("e").as("e")).as("__s"))
        .groupBy("vec_id")
        .agg(min(col("__s")).as("__m"))
        .select(col("vec_id"), col("__m.e").as("e"),
          struct(col("__m.d2").as("d2"), col("__m.cand_id").as("cand_id")).as("best"))
    }
  }

  /** The per-row argmin projection over a fixed centroid set — k
    * distances per row as broadcast literals, no row multiplication, no
    * shuffle; ties break toward the lower cid via struct ordering over
    * SQUARED distances (the oracle orders by the same quantity).
    * Stateless, so it applies unchanged to a STREAMING DataFrame
    * (see graft.streaming.StreamingOps.assignToCentroids) — INCLUDING
    * above [[LiteralArgminMax]]: the batch join formulation contains a
    * groupBy, which on an unbounded stream is a STATEFUL aggregation
    * (illegal in append mode, and accumulating across micro-batches
    * would be wrong anyway), so a streaming input above the cap routes
    * through [[assignByClosure]] instead — same algebra, still
    * stateless, stream == batch exactly (StreamingSpec pins it). */
  def assign(df: DataFrame, centroids: Seq[(Int, Seq[Double])],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(centroids.nonEmpty, "assign needs at least one centroid")
    if (df.isStreaming && centroids.size > LiteralArgminMax)
      return assignByClosure(df, centroids, idCol, vecCol)
    // streaming id convention: vec_id is LONG on both streaming paths
    // (assignByClosure already casts), so a sink's schema cannot
    // silently change when k crosses LiteralArgminMax mid-deployment
    val idOut =
      if (df.isStreaming) col("vec_id").cast("long").as("vec_id")
      else col("vec_id")
    bestCentroid(df, centroids, idCol, col(vecCol))
      .select(idOut, col("best.cid").as("cluster"),
        round(sqrt(col("best.d2")), 4).as("dist"))
  }

  /** Streaming-legal wide-k assignment: the centroid array (with
    * precomputed ‖c‖²) rides in the task closure and each row scores
    * all k centroids in a per-partition map — no join, no aggregation,
    * no state store, any k. Bit-equal to the batch paths: the dot
    * products are the same left-to-right fold as the codegen'd
    * [[graft.functions.VectorDot]] loop, d² is the same clamped
    * algebraic identity, ties break to the lower cid, and the 4-dp
    * dist replicates Spark `round`'s
    * BigDecimal(shortest-repr)-HALF_UP exactly. Ids are cast to long
    * (the streaming twins' id convention). */
  private def assignByClosure(df: DataFrame,
      centroids: Seq[(Int, Seq[Double])], idCol: String,
      vecCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cents: Array[(Int, Array[Double], Double)] = centroids.map {
      case (cid, c) => (cid, c.toArray, c.foldLeft(0.0)((a, x) => a + x * x))
    }.toArray
    df.select(col(idCol).cast("long").as("vec_id"),
        col(vecCol).cast("array<double>").as("e"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        it.map { case (id, e) =>
          var xx = 0.0
          var i = 0
          while (i < e.length) { xx += e(i) * e(i); i += 1 }
          var bestD = Double.PositiveInfinity
          var bestC = Int.MaxValue
          cents.foreach { case (cid, c, cc) =>
            var dot = 0.0
            var j = 0
            val n = math.min(e.length, c.length)
            while (j < n) { dot += e(j) * c(j); j += 1 }
            val d2 = math.max(xx - 2.0 * dot + cc, 0.0)
            if (d2 < bestD || (d2 == bestD && cid < bestC)) {
              bestD = d2; bestC = cid
            }
          }
          val dist = new java.math.BigDecimal(
              java.lang.Double.toString(math.sqrt(bestD)))
            .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
          (id, bestC, dist)
        }
      }.toDF("vec_id", "cluster", "dist")
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
        val upd = bestCentroid(df, centroids, "vec_id", col("e"))
          .select(col("best.cid").as("cid"), posexplode(col("__e")).as(Seq("i", "v")))
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
    * size. Scoring routes through [[bestCandidate]], which picks the
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
      .withColumn("__xx", graft.functions.GraftFunctions.vectorDot(col("e"), col("e")))
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
        // then the coin-flip filter); on the join path that is a full
        // broadcast-join + shuffle per consumption, so pin it for the
        // round — on the literal path recomputing the projection over
        // the cached df is cheaper than a second materialization
        val joinPath = cands.size > LiteralArgminMax
        val md2Raw = bestCandidate(df, cands)
          .select(col("vec_id"), col("e"), col("best.d2").as("__md2"))
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
      // candidate id via struct ordering over (d², cand_id)
      bestCandidate(df, cands)
        .groupBy(col("best.cand_id").as("cand_id"))
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
    * weighted candidates, distances use the same algebraic
    * `x·x − 2·x·c + ‖c‖²` (left-to-right folds — bit-identical to the
    * oracle's list_sum), members accumulate in candidate-id order, and
    * every updated element is round6'd. Zero-mass candidates (never
    * the nearest to any corpus point) drop before seeding, exactly as
    * the oracle's weight join drops them. */
  def trainCentroidsParallel(emb: DataFrame, k: Int, iters: Int,
      rounds: Int = 2, oversample: Int = 0, idCol: String = "vec_id",
      vecCol: String = "embedding"): Seq[(Int, Seq[Double])] = {
    require(iters > 0)
    val weights = initKmeansParallel(emb, k, rounds, oversample, idCol, vecCol)
    val cand: Seq[(Long, Seq[Double], Long)] = emb
      .select(col(idCol).cast("long").as("cand_id"),
        col(vecCol).cast("array<double>").as("e"))
      .join(broadcast(weights), Seq("cand_id"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1).map(round6), r.getLong(2)))
      .sortBy(_._1)
    if (cand.isEmpty) return Seq.empty
    val dim = cand.head._2.size
    var centroids: Seq[(Int, Seq[Double])] =
      cand.take(k).zipWithIndex.map { case ((_, e, _), i) => (i, e) }
    for (_ <- 1 until iters) {
      val withCc = centroids.map { case (cid, c) =>
        (cid, c, c.foldLeft(0.0)((a, x) => a + x * x))
      }
      val vsum = scala.collection.mutable.Map.empty[Int, Array[Double]]
      val wsum = scala.collection.mutable.Map.empty[Int, Long]
      cand.foreach { case (_, e, w) =>
        val xx = e.foldLeft(0.0)((a, x) => a + x * x)
        val best = withCc.map { case (cid, c, cc) =>
          var dot = 0.0
          var i = 0
          while (i < dim) { dot += e(i) * c(i); i += 1 }
          (math.max(xx - 2.0 * dot + cc, 0.0), cid)
        }.min
        val acc = vsum.getOrElseUpdate(best._2, new Array[Double](dim))
        var i = 0
        while (i < dim) { acc(i) += w.toDouble * e(i); i += 1 }
        wsum(best._2) = wsum.getOrElse(best._2, 0L) + w
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
