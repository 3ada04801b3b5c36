package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trained quality classification — the fastText-style "train a small
  * model on labeled examples, score the whole corpus" selection step of
  * a pre-training data pipeline (cf. GPT-3 / LLaMA quality filtering:
  * a linear classifier over document features scores every crawled page
  * and the pipeline keeps the high scorers, often via the same Gumbel
  * resampling that [[Curation.dsirResample]] implements).
  *
  * The model here is binary logistic regression trained by full-batch
  * gradient descent, IN-PLAN: each GD step is one corpus scan — a
  * codegen'd sigmoid projection against the current weights as literals
  * feeding a (dim+1)-key aggregation whose map-side combine reduces the
  * shuffle to (dim+1) rows per partition. Driver-resident state is the
  * weight vector alone, O(dim) doubles per step, independent of corpus
  * size — the same contract as [[Clustering.trainCentroids]], and the
  * same shape Spark MLlib's LogisticRegression uses (treeAggregate of
  * per-partition gradient sums).
  *
  * Determinism (the oracle contract): weights init at zero (no seed),
  * each per-index AVERAGED gradient is rounded to 9 decimals before
  * the update (see [[round9]] — this is what makes the trajectory
  * partition-count-invariant at ANY lr), and every updated weight is
  * rounded to 6 decimals between steps — the inter-iteration anchor of
  * `Clustering.round6` — so DuckDB can replay the exact trajectory
  * with unrolled CTEs. The margin folds left-to-right over the SAME
  * augmented vector (`[1.0] ++ x`, bias as feature 0) in both engines,
  * so the floats agree to the ulp and the anchors absorb the per-step
  * sum-order noise of the distributed gradient.
  *
  * Reference scope note: kaylee has no model training — this is
  * north-star extension work (`/root/reference/README.md:4-8` scopes
  * the reference to MapReduce).
  */
object Classification {

  /** Half-away-from-zero rounding to 6 decimals — same boundary rule as
    * DuckDB's `round(x, 6)`, shared with `Clustering.round6`. */
  private def round6(x: Double): Double =
    (if (x >= 0) math.floor(x * 1e6 + 0.5) else math.ceil(x * 1e6 - 0.5)) / 1e6

  /** 9-decimal gradient anchor. The distributed per-index gradient sum
    * is float-order-sensitive (partition boundaries decide the add
    * order); its noise is ~1e-15 relative, so rounding the AVERAGED
    * gradient to 9 decimals before the weight update makes the
    * trajectory partition-count-invariant while keeping three orders
    * of magnitude more gradient precision than the 6dp weight anchor
    * consumes. Without it, an aggressive lr (the Round8Spec lr=50
    * regime) amplifies sub-anchor sum noise straight past the weight
    * anchor. Mirrored verbatim by the oracles' `round(avg(...), 9)`. */
  private def round9(x: Double): Double =
    (if (x >= 0) math.floor(x * 1e9 + 0.5) else math.ceil(x * 1e9 - 0.5)) / 1e9

  /** `[1.0] ++ vec` as array<double> — bias rides as feature 0, so the
    * margin is ONE fold and the gradient is ONE explode in both the
    * engine and the oracle (no separate bias aggregation). */
  private def augmented(vecCol: Column): Column =
    concat(array(lit(1.0)), vecCol.cast("array<double>"))

  /** σ(w·xa) with `w` a plan-time literal: fully codegen'd — the native
    * [[graft.functions.VectorDot]] fold plus one exp. Left-to-right
    * over the augmented vector, matching the oracle's
    * `list_sum(list_transform(...))` bit-for-bit (sub-ulp exp()
    * differences between libm and the JVM are absorbed by the 6-decimal
    * anchor/output rounding, the same budget [[Curation.dsirResample]]
    * documents for ln). */
  private def sigmoid(xaCol: Column, w: Seq[Double]): Column =
    lit(1.0) / (lit(1.0) + exp(-graft.functions.GraftFunctions.vectorDot(xaCol, typedlit(w))))

  /** Train binary logistic regression by `steps` full-batch GD updates
    * at learning rate `lr`, target `targetCol` (a boolean expression
    * over `df` rows). Returns the dim+1 weights (index 0 = bias),
    * 6-decimal-anchored per step. Empty input returns Nil. The model
    * dimension is max(size(vec)) over the WHOLE input — one cheap agg
    * over the cached frame, deterministic under any partitioning
    * (reading the first row's length would make the weight-vector
    * LENGTH partition-layout-dependent for ragged inputs and silently
    * drop indices beyond it); rows shorter than the max contribute
    * gradients only to the indices they carry (per-index n below).
    *
    * Each step is one job: scan → sigmoid → posexplode(augmented) →
    * per-index gradient sum (map-side combined to dim+1 rows per task)
    * → collect dim+1 rows. The input is cached across steps and
    * unpersisted before returning (the [[Clustering.trainCentroids]]
    * cache lifecycle).
    *
    * Safe-lr contract: the trajectory is DETERMINISTIC at any lr (the
    * 9dp gradient + 6dp weight anchors), but full-batch GD itself
    * diverges when lr exceeds the loss's curvature bound — weights
    * oscillate and a runaway bias can classify everything as one
    * class. That is a property of GD, not of this engine; no `require`
    * can know the bound (it depends on the feature scale). For
    * normalized features (rows summing to ~1, e.g.
    * [[TextAnalysis.charNgramHashFeatures]]) lr in [0.5, 10] is the
    * empirically stable band. */
  def trainLogReg(df: DataFrame, idCol: String, vecCol: String,
      targetCol: Column, steps: Int, lr: Double): Seq[Double] = {
    require(steps > 0, "steps must be positive")
    require(lr > 0, "lr must be positive")
    val prepped = df.select(col(idCol).as("id"),
        augmented(col(vecCol)).as("__xa"),
        when(targetCol, lit(1.0)).otherwise(lit(0.0)).as("__y"))
      .cache() // scanned `steps` times; unpersisted below
    try {
      val dimRow = prepped.agg(max(size(col("__xa")))).collect()
      if (dimRow.isEmpty || dimRow.head.isNullAt(0)) return Nil
      var w: Seq[Double] = Seq.fill(dimRow.head.getInt(0))(0.0)
      for (_ <- 1 to steps) {
        // Σ (p − y)·xa_i and the row count per index: dim+1 rows back.
        // avg = s/n PER INDEX — the oracle's avg() — without a second
        // agg, and correct even for ragged vectors (each index
        // averages over exactly the rows long enough to carry it).
        // residual computed BELOW the explode: ExtractGenerator puts
        // same-select expressions in the Project above the Generate,
        // which would re-fold the O(dim) dot product once per exploded
        // row (O(dim^2)/row); as a pre-computed attribute it is one
        // fold per input row, replicated by the Generate for free
        val grads = prepped
          .select(col("__xa"),
            (sigmoid(col("__xa"), w) - col("__y")).as("__d"))
          .select(posexplode(col("__xa")).as(Seq("i", "v")), col("__d"))
          .groupBy(col("i"))
          .agg(sum(col("__d") * col("v")).as("g"), count(lit(1)).as("n"))
          .collect()
        // per-index n (not one shared count): rows shorter than the
        // first row contribute to fewer indices, so each index's avg
        // runs over exactly the rows that HAVE it — the ragged-vector
        // contract. An index absent from `grads` entirely (no row that
        // long) keeps its weight: gradient 0 by definition.
        val byIdx = grads.map(r => r.getInt(0) -> round9(r.getDouble(1) / r.getLong(2))).toMap
        w = w.zipWithIndex.map { case (wi, i) =>
          round6(wi - lr * byIdx.getOrElse(i, 0.0))
        }
      }
      w
    } finally {
      prepped.unpersist()
    }
  }

  /** Train MULTICLASS (softmax / multinomial) logistic regression by
    * `steps` full-batch GD updates — the actual fastText-style
    * classifier core, and the calibrated form one-vs-rest binary
    * models cannot give (independently-trained sigmoid scores are not
    * comparable across classes: a class whose feature mass concentrates
    * in fewer buckets learns systematically larger margins and wins
    * every argmax; softmax normalizes all classes through one shared
    * denominator per step, so scores ARE the class posteriors).
    * Returns the per-class weight vectors in `classes` order (index 0
    * of each = bias).
    *
    * One job per STEP (not per class per step): all K margins are
    * codegen'd [[graft.functions.VectorDot]] literals in one
    * projection, the shared softmax denominator folds exp(m_k) in
    * fixed class order, and one posexplode feeds a (dim+1)-key
    * aggregation carrying K residual sums — map-side combined to
    * (dim+1) rows per partition, K·(dim+1) doubles to the driver.
    * Same determinism contract as [[trainLogReg]]: zero init,
    * 6-decimal weight anchor per step, fixed fold order — DuckDB
    * replays the exact trajectory with unrolled CTEs. */
  def trainSoftmax(df: DataFrame, idCol: String, vecCol: String,
      labelCol: Column, classes: Seq[String], steps: Int,
      lr: Double): Seq[Seq[Double]] = {
    require(steps > 0, "steps must be positive")
    require(lr > 0, "lr must be positive")
    require(classes.nonEmpty, "need at least one class")
    val prepped = df.select(col(idCol).as("id"),
        augmented(col(vecCol)).as("__xa"), labelCol.as("__lbl"))
      .cache() // scanned `steps` times; unpersisted below
    try {
      // max over the whole input, not the first row's length — the
      // trainLogReg ragged-dimension rule (deterministic model shape)
      val dimRow = prepped.agg(max(size(col("__xa")))).collect()
      if (dimRow.isEmpty || dimRow.head.isNullAt(0)) return classes.map(_ => Nil)
      val dim = dimRow.head.getInt(0)
      var ws: Seq[Seq[Double]] = classes.map(_ => Seq.fill(dim)(0.0))
      for (_ <- 1 to steps) {
        val margins = ws.map(w =>
          graft.functions.GraftFunctions.vectorDot(col("__xa"), typedlit(w)))
        // shared denominator folded in fixed class order — the oracle
        // mirrors the exact exp/add sequence
        val denom = margins.map(exp).reduce(_ + _)
        val resid = classes.zip(margins).map { case (c, m) =>
          (exp(m) / denom -
            when(col("__lbl") === c, lit(1.0)).otherwise(lit(0.0)))
            .as(s"__d_$c")
        }
        val grads = prepped
          .select(col("__xa") +: resid: _*)
          .select(posexplode(col("__xa")).as(Seq("i", "v")) +:
            classes.map(c => col(s"__d_$c")): _*)
          .groupBy(col("i"))
          .agg(sum(col(s"__d_${classes.head}") * col("v"))
              .as(s"g_${classes.head}"),
            (classes.tail.map(c =>
              sum(col(s"__d_$c") * col("v")).as(s"g_$c")) :+
              count(lit(1)).as("n")): _*)
          .collect()
        // per-ROW n, not one shared count from the head row: for
        // ragged vectors each index averages over exactly the rows
        // that carry it (the trainLogReg ragged contract); an index
        // with no rows keeps its weights (gradient 0 by definition)
        val byIdx: Map[Int, Seq[Double]] = grads.map { r =>
          val n = r.getLong(r.length - 1)
          r.getInt(0) ->
            classes.indices.map(k => round9(r.getDouble(k + 1) / n))
        }.toMap
        ws = ws.zipWithIndex.map { case (w, k) =>
          w.zipWithIndex.map { case (wi, i) =>
            round6(wi - lr * byIdx.get(i).map(_(k)).getOrElse(0.0))
          }
        }
      }
      ws
    } finally {
      prepped.unpersist()
    }
  }

  /** Score rows against [[trainSoftmax]] weights: (id, one `p_<class>`
    * posterior per class rounded to 6 decimals, `pred` = argmax with
    * ties to the earlier class in `classes`). Stateless codegen'd
    * projection — batch/streaming identical, scan-bound at 100 TB. */
  def scoreSoftmax(df: DataFrame, idCol: String, vecCol: String,
      classes: Seq[String], ws: Seq[Seq[Double]],
      predCol: String = "pred"): DataFrame = {
    require(classes.size == ws.size && ws.forall(_.nonEmpty),
      "need one non-empty weight vector per class")
    val xa = augmented(col(vecCol))
    val margins = ws.map(w => graft.functions.GraftFunctions.vectorDot(xa, typedlit(w)))
    // max-margin subtraction before exponentiation: a confident model
    // with margins beyond ~709 overflows exp() to Infinity and turns
    // every posterior into NaN; exp(m - max) keeps the largest term at
    // exactly 1.0 for any margin range. The oracle applies the same
    // transformation (greatest + shifted exps in the same class order),
    // so the doubles stay bit-identical on both sides.
    val mmax =
      if (margins.size == 1) margins.head else greatest(margins: _*)
    val denom = margins.map(m => exp(m - mmax)).reduce(_ + _)
    // argmax on the UNROUNDED margins (monotone in the posteriors —
    // same shared denominator): posteriors saturate to 1.000000 at 6dp
    // under confident models, where a rounded-score argmax collapses
    // to the tie-break (the Round8Spec constant-classifier failure);
    // margins never saturate and their left-to-right VectorDot fold is
    // bit-identical to the oracle's list_sum(list_transform(...))
    val out = df.select((col(idCol).as("id") +:
      classes.zip(margins).map { case (c, m) =>
        round(exp(m - mmax) / denom, 6).as(s"p_$c")
      }) ++ classes.zip(margins).map { case (c, m) => m.as(s"__m_$c") }: _*)
    val pred = classes.zipWithIndex.init.foldRight(lit(classes.last)) {
      case ((c, i), acc) =>
        when(classes.drop(i + 1).map(m => col(s"__m_$c") >= col(s"__m_$m"))
          .reduce(_ && _), lit(c)).otherwise(acc)
    }
    out.withColumn(predCol, pred)
      .drop(classes.map(c => s"__m_$c"): _*)
  }

  /** Score rows against a trained weight vector: (id, lr_score) with
    * lr_score = σ(w·[1.0 ++ vec]) rounded to 6 decimals. Stateless
    * codegen'd projection — applies unchanged to a streaming DataFrame,
    * and at 100 TB it is scan-bound like every other scorer here. */
  def scoreLogReg(df: DataFrame, idCol: String, vecCol: String,
      weights: Seq[Double]): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    df.select(col(idCol).as("id"),
      round(sigmoid(augmented(col(vecCol)), weights), 6).as("lr_score"))
  }

  /** Train-then-score in one call: [[trainLogReg]] on `df` itself (the
    * self-trained form, like [[Curation.dsirWeights]]), then
    * [[scoreLogReg]] every row. Output: (id, y, lr_score). At scale the
    * two halves separate naturally — train once on a labeled sample,
    * persist the weights, score batches/streams against them. */
  def logRegScores(df: DataFrame, idCol: String, vecCol: String,
      targetCol: Column, steps: Int = 2, lr: Double = 1.0): DataFrame = {
    val w = trainLogReg(df, idCol, vecCol, targetCol, steps, lr)
    if (w.isEmpty) // empty corpus: empty result, correct schema
      return df.select(col(idCol).as("id"), lit(0.0).as("y"),
        lit(0.0).as("lr_score"))
    df.select(col(idCol).as("id"),
      when(targetCol, lit(1.0)).otherwise(lit(0.0)).as("y"),
      round(sigmoid(augmented(col(vecCol)), w), 6).as("lr_score"))
  }
}
