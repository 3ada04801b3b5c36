package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  private def emb(rows: (Long, Seq[Double])*) =
    rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))

  test("kMeansAssign: separable clusters recovered after one update") {
    // two tight blobs; seeds (ids 0 and 1) land one in each blob
    val df = emb(
      0L -> Seq(0.0, 0.1), 1L -> Seq(10.0, 9.9),
      2L -> Seq(0.1, 0.0), 3L -> Seq(10.1, 10.0),
      4L -> Seq(0.2, 0.1), 5L -> Seq(9.9, 10.1))
    val got = Clustering.kMeansAssign(df, k = 2, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got(0L) === got(2L) && got(2L) === got(4L))
    assert(got(1L) === got(3L) && got(3L) === got(5L))
    assert(got(0L) !== got(1L))
  }

  test("kMeansAssign: iters=1 assigns to the seed vectors themselves") {
    val df = emb(0L -> Seq(0.0, 0.0), 1L -> Seq(4.0, 0.0), 2L -> Seq(0.9, 0.0))
    val got = Clustering.kMeansAssign(df, k = 2, iters = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toList
      .sortBy(_._1)
    // seeds are ids 0 (cid 0) and 1 (cid 1); id 2 is nearer seed 0
    assert(got.map(t => t._1 -> t._2) === List(0L -> 0, 1L -> 1, 2L -> 0))
    assert(got(0)._3 === 0.0 && got(1)._3 === 0.0 && got(2)._3 === 0.9)
  }

  test("kMeansAssign: invariant to input partitioning") {
    val base = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val a = Clustering.kMeansAssign(base, k = 4, iters = 2)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    val b = Clustering.kMeansAssign(base.repartition(13), k = 4, iters = 2)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    assert(a === b)
  }

  test("kMeansAssign: assignment plan is shuffle-free (argmin over broadcast literals)") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val plan = Clustering.kMeansAssign(emb, k = 4, iters = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"assignment must not shuffle:\n$plan")
  }

  test("assign: the k>32 join path matches a driver-side reference argmin") {
    val base = spark.read.parquet(s"$sf0001/embeddings.parquet")
    // 40 centroids forces the broadcast-join path (LiteralArgminMax=32)
    val centroids: Seq[(Int, Seq[Double])] = base
      .orderBy(org.apache.spark.sql.functions.col("vec_id")).limit(40)
      .select(org.apache.spark.sql.functions.col("embedding").cast("array<double>"))
      .collect().toSeq.zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](0).toSeq) }
    val got = Clustering.assign(base, centroids)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // reference: same algebra (xx - 2*x.c + cc, left-to-right folds,
    // clamp at 0), argmin with ties toward the lower cid
    val vecs = base.select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq)
    val ccs = centroids.map { case (cid, c) =>
      (cid, c, c.foldLeft(0.0)((a, x) => a + x * x))
    }
    vecs.foreach { case (id, e) =>
      val xx = e.foldLeft(0.0)((a, x) => a + x * x)
      val best = ccs.map { case (cid, c, cc) =>
        val dot = e.zip(c).foldLeft(0.0)((a, p) => a + p._1 * p._2)
        (math.max(xx - 2.0 * dot + cc, 0.0), cid)
      }.min
      assert(got(id) === best._2, s"vec $id")
    }
  }

  test("kMeansAssign: argmin tie breaks toward the lower cluster id") {
    // point 2 exactly equidistant from both seeds
    val df = emb(0L -> Seq(0.0, 0.0), 1L -> Seq(2.0, 0.0), 2L -> Seq(1.0, 0.0))
    val got = Clustering.kMeansAssign(df, k = 2, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got(2L) === 0)
  }

  test("initKmeansParallel: cost-sure outliers sampled, zero-distance " +
      "points never resampled, weights partition the corpus") {
    // 10 points at the seed (d² = 0 — inclusion probability exactly 0)
    // plus one far outlier whose cost share makes l·d²/φ > 1: sampled
    // with certainty regardless of its hash coin
    val rows = (0L until 10L).map(i => i -> Seq(0.0, 0.0)) :+
      (99L -> Seq(100.0, 0.0))
    val df = emb(rows: _*)
    val got = Clustering.initKmeansParallel(df, k = 2, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.contains(99L), s"cost-sure outlier not sampled: $got")
    assert(got.contains(0L), s"seed missing from candidates: $got")
    // every candidate is a distinct real id, and nearest-point mass
    // partitions the corpus exactly
    assert(got.keys.forall(id => (id >= 0L && id < 10L) || id == 99L))
    assert(got.values.sum === 11L, s"weights must sum to |corpus|: $got")
    // deterministic: a second run reproduces the exact candidate set
    val again = Clustering.initKmeansParallel(df, k = 2, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === got)
  }

  test("initKmeansParallel: candidate counts past the literal cap route " +
      "through the broadcast-join scorer — weights still partition the " +
      "corpus, runs stay deterministic") {
    // k=64 → l=128: on the 500-row corpus both sampling rounds and the
    // final weighting exceed LiteralArgminMax, so every scoring pass is
    // the broadcast-join min-aggregate (the q_kmeanspar_init_wide
    // trajectory, oracle-checked at sf0.01 and sf0.1; here we pin the
    // structural properties and the plan shape)
    val base = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val n = base.count()
    val weights = Clustering.initKmeansParallel(base, k = 64, rounds = 2)
    val plan = weights.queryExecution.executedPlan.toString
    assert(plan.contains("Join"),
      s"wide init's weighting must score via the broadcast join:\n$plan")
    val got = weights.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size > Centroids.LiteralArgminMax,
      s"expected > 32 weighted candidates, got ${got.size}")
    assert(got.values.sum === n, "nearest-point mass must partition the corpus")
    val again = Clustering.initKmeansParallel(base, k = 64, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === got)
  }

  test("kMeansAssignParallel: separable blobs land in distinct clusters, " +
      "every point assigned, deterministic") {
    // two far blobs; the || init must land candidates in both (the far
    // blob's cost share forces inclusion), so the weighted local Lloyd
    // separates them regardless of seed ids
    val rows = (0L until 8L).map(i => i -> Seq(0.0 + 0.01 * i, 0.0)) ++
      (10L until 18L).map(i => i -> Seq(50.0 + 0.01 * i, 0.0))
    val df = emb(rows: _*)
    val got = Clustering.kMeansAssignParallel(df, k = 2, iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(got.size === 16, "every point assigned")
    val blobA = (0L until 8L).map(got).toSet
    val blobB = (10L until 18L).map(got).toSet
    assert(blobA.size === 1 && blobB.size === 1 && blobA != blobB,
      s"blobs not separated: $got")
    val again = Clustering.kMeansAssignParallel(df, k = 2, iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(again === got)
  }
}
