package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distribution-drift monitoring between a reference sample and a
  * current sample of the same column — the pipeline-health check a
  * training-data pipeline runs on every ingest batch (did yesterday's
  * crawl shift the length / quality / language mix?) and on every
  * model-serving feature (training-vs-serving skew).
  *
  * The reference has no monitoring surface (SURVEY.md §2); this is
  * extension surface per the north star, shaped like the published
  * practice: PSI (population stability index, the banking-standard
  * drift score), a binned two-sample Kolmogorov–Smirnov statistic, and
  * Jensen–Shannon / chi-square / total-variation over categorical
  * mixes.
  *
  * Scale design: nothing here sorts or windows the data globally.
  *  - Numeric drift bins BOTH samples against the reference's
  *    equi-depth cutpoints (one one-row percentile aggregate,
  *    broadcast back — the `Stats.histogram` bounds idiom). Each side
  *    is then one map-side-combinable `groupBy(bin).count` over
  *    `nBins` keys; everything downstream operates on the ≤ 2·nBins
  *    bin rows, collapsed into ONE bounded sorted array and folded
  *    with higher-order functions (the `Stats.distributedNtile`
  *    no-WindowExec idiom: prefix CDFs via array folds, not windows).
  *  - Categorical drift is two grouped counts full-outer-joined on the
  *    category key — one shuffle per side, output rows = distinct
  *    categories. The summary is a single aggregation over that.
  *  - The exact KS statistic over raw values would need a global
  *    merge-sort of both samples; the binned statistic evaluates both
  *    ECDFs only at the reference's `nBins-1` quantile cutpoints,
  *    which bounds the error at the bin mass and keeps the plan
  *    scan+agg only. Raise `nBins` for resolution; the cost stays
  *    O(nBins), not O(n log n).
  *
  * Engine portability (the DuckDB-oracle discipline): cutpoints are
  * `floor()`ed to whole units (the `Sampling.temporalSplit` pattern —
  * interpolated percentiles differ in the last ulp across engines;
  * floored ones cannot), rows bin by `count(cuts strictly below v)`,
  * smoothed fractions use exact add-½ Laplace constants, and final
  * floating outputs are rounded to 6 decimals.
  */
object Drift {

  /** `approx_percentile` accuracy for [[referenceProfile]]'s
    * `approxCutpoints` mode: guaranteed rank error ≤ 1/accuracy =
    * 0.01% of rows per cutpoint — two-plus orders of magnitude under
    * the 1/nBins bin mass at any supported nBins (≤ 4096). */
  val ApproxAccuracy: Int = 10000

  /** Per-bin contingency table of `valueCol` in `ref` vs `cur`:
    * `(bin, ref_n, cur_n, ref_frac, cur_frac)`, bins defined by the
    * REFERENCE sample's equi-depth cutpoints (floored to integer
    * units; pre-scale the column upstream for sub-unit resolution).
    * Fractions are Laplace-smoothed — `(n + ½) / (N + nBins/2)` — so
    * an empty bin on either side stays finite in PSI/KS ratios.
    * Bins run 0..nBins-1; every bin row is present even when both
    * sides are empty there. */
  def binnedCounts(ref: DataFrame, cur: DataFrame, valueCol: String,
      nBins: Int, approxCutpoints: Boolean = false): DataFrame =
    binnedCountsFromProfile(
      referenceProfile(ref, valueCol, nBins, approxCutpoints),
      cur, valueCol)

  /** Reference distribution profile — the persistable drift "model":
    * one row per bin, `(bin, cut, ref_n)`, where `cut` is the bin's
    * upper cutpoint (the reference's floored equi-depth quantile; NULL
    * for the open last bin) and `ref_n` its reference count. ≤ nBins
    * rows REGARDLESS of reference size: compute once per corpus
    * snapshot, store as a model table
    * (`Sinks.writeBucketed` — the BPE-merges / PQ-codebook lifecycle),
    * and score every future ingest batch against the stored rows
    * without ever re-touching the reference data. All-integer columns,
    * so the parquet round trip is bit-exact.
    *
    * Cutpoint accuracy is a MODE, not a comment:
    *  - `approxCutpoints = false` (default): Spark's EXACT `percentile`
    *    aggregate — its buffer grows with distinct values per
    *    partition, chosen for cross-engine determinism (the oracle
    *    replays `quantile_cont` bit-for-bit). Fine for a bounded
    *    reference sample; a footgun fed the raw 100 TB column.
    *  - `approxCutpoints = true`: `approx_percentile` with
    *    `ApproxAccuracy` (Greenwald–Khanna mergeable sketch, rank error
    *    ≤ 1/accuracy = 0.01% — orders of magnitude under any bin's
    *    1/nBins mass). Same plan shape, O(accuracy·log n) state per
    *    partition regardless of cardinality — the 100 TB profile build.
    *    Cutpoints may differ from exact by at most the sketch's rank
    *    error, which drift semantics don't care about: bins need to be
    *    CONSISTENT between profile build and scoring, not exact
    *    (contract pinned by `q_drift_profile_approx` and
    *    DriftApproxSpec: per-bin reference mass within one bin mass of
    *    the exact profile's). */
  def referenceProfile(ref: DataFrame, valueCol: String,
      nBins: Int, approxCutpoints: Boolean = false): DataFrame = {
    require(nBins >= 2 && nBins <= 4096, s"nBins out of range: $nBins")
    val v = col(valueCol).cast("double")
    // reference-defined cutpoints: nBins-1 interior equi-depth quantiles,
    // floored (cross-engine exact); one-row aggregate, broadcast back
    val qs = (1 until nBins).map(i => i.toDouble / nBins)
    val pct =
      if (approxCutpoints)
        approx_percentile(v, array(qs.map(lit): _*), lit(ApproxAccuracy))
      else percentile(v, array(qs.map(lit): _*))
    val cuts = ref.agg(
      transform(pct, c => floor(c)).as("__cuts"))
    val counts = ref.select(v.as("__v")).where(col("__v").isNotNull)
      .crossJoin(broadcast(cuts))
      // bin = number of cutpoints strictly below v (ties at a floored
      // cutpoint land in the LEFT bin — replayed verbatim in the oracle)
      .select(size(filter(col("__cuts"), c => c < col("__v"))).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("ref_n"))
    cuts.select(explode(sequence(lit(0), lit(nBins - 1))).as("bin"),
        col("__cuts"))
      // guarded element_at (1-based) — CaseWhen only evaluates the
      // matched branch, so the last bin's out-of-range index never runs
      .select(col("bin"),
        when(col("bin") < nBins - 1,
          element_at(col("__cuts"), col("bin") + 1)).as("cut"))
      .join(counts, Seq("bin"), "left")
      .select(col("bin"), col("cut"),
        coalesce(col("ref_n"), lit(0L)).as("ref_n"))
      // provable-bound marker: the profile IS exactly nBins rows (the
      // exploded 0..nBins-1 spine), but explode() erases `maxRows`, so
      // without this no-op limit Catalyst can't prove a downstream
      // crossJoin(broadcast(profile)) is bounded — the EngineSweepSpec
      // engine-wide join sweep (and any size-based join planning)
      // depends on the bound being visible in the plan.
      .limit(nBins)
  }

  /** [[binnedCounts]] against a precomputed [[referenceProfile]] —
    * only the CURRENT sample is scanned; the profile's ≤ nBins rows
    * collapse into one broadcast cutpoint array. This is the scoring
    * path a monitoring pipeline actually runs: profile stored once,
    * every batch pays one scan + one nBins-key aggregation. */
  def binnedCountsFromProfile(profile: DataFrame, cur: DataFrame,
      valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val cuts = profile
      .agg(sort_array(collect_list(struct(col("bin"), col("cut")))).as("__p"))
      .select(expr(
        "transform(filter(__p, x -> x.cut IS NOT NULL), x -> x.cut)")
        .as("__cuts"))
    val curCounts = cur.select(v.as("__v")).where(col("__v").isNotNull)
      .crossJoin(broadcast(cuts))
      .select(size(filter(col("__cuts"), c => c < col("__v"))).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("cur_n"))
    val joined = profile.select(col("bin"), col("ref_n"))
      .join(curCounts, Seq("bin"), "left")
      .select(col("bin"), col("ref_n"),
        coalesce(col("cur_n"), lit(0L)).as("cur_n"))
    // totals ride along as a one-row broadcast aggregate (no driver
    // action). `joined` appears twice in the plan; the grouped counts
    // sit directly above shuffle exchanges with identical canonical
    // subtrees, so ReuseExchange serves the second reference from the
    // first's shuffle files — the current sample is scanned once.
    val totals = joined.agg(sum(col("ref_n")).as("__rt"),
      sum(col("cur_n")).as("__ct"), count(lit(1)).as("__nb"))
    joined.crossJoin(broadcast(totals))
      .select(col("bin"), col("ref_n"), col("cur_n"),
        ((col("ref_n") + lit(0.5)) / (col("__rt") + col("__nb") * lit(0.5)))
          .as("ref_frac"),
        ((col("cur_n") + lit(0.5)) / (col("__ct") + col("__nb") * lit(0.5)))
          .as("cur_frac"))
  }

  /** One-row numeric drift summary:
    * `(psi, ks_stat, n_ref, n_cur)` with
    * `psi = Σ_b (cur_frac−ref_frac)·ln(cur_frac/ref_frac)` and
    * `ks_stat = max_b |CDF_ref(b) − CDF_cur(b)|` over the binned CDFs.
    * The ≤ nBins bin rows collapse into one sorted array; PSI and the
    * running-CDF sup are higher-order folds over it — zero WindowExec,
    * bounded buffer (the engine-wide no-unpartitioned-window
    * invariant). Common thresholds: PSI < 0.1 stable, 0.1–0.25 drift
    * warning, > 0.25 action. */
  def psiKs(ref: DataFrame, cur: DataFrame, valueCol: String,
      nBins: Int, approxCutpoints: Boolean = false): DataFrame =
    summarize(binnedCounts(ref, cur, valueCol, nBins, approxCutpoints))

  /** [[psiKs]] against a stored [[referenceProfile]] — the score path
    * that never re-reads reference data. */
  def psiKsFromProfile(profile: DataFrame, cur: DataFrame,
      valueCol: String): DataFrame =
    summarize(binnedCountsFromProfile(profile, cur, valueCol))

  /** Per-group PSI/KS against one shared reference — the drift
    * DASHBOARD shape: one row per group (per day, per source, per
    * shard) scoring that group's slice of `cur` against the global
    * reference distribution. Plan: the reference profile's cutpoints
    * and counts broadcast (≤ nBins rows); the current sample pays one
    * scan and one (group, bin)-keyed aggregation; the per-group
    * summary folds ≤ nBins rows per group. Groups × nBins intermediate
    * rows — never a row-multiplication of the data. */
  def psiKsPerGroup(ref: DataFrame, cur: DataFrame, groupCol: String,
      valueCol: String, nBins: Int): DataFrame = {
    val prof = referenceProfile(ref, valueCol, nBins)
    val cuts = prof
      .agg(sort_array(collect_list(struct(col("bin"), col("cut")))).as("__p"))
      .select(expr(
        "transform(filter(__p, x -> x.cut IS NOT NULL), x -> x.cut)")
        .as("__cuts"))
    val v = col(valueCol).cast("double")
    val curCounts = cur.select(col(groupCol), v.as("__v"))
      .where(col("__v").isNotNull)
      .crossJoin(broadcast(cuts))
      .select(col(groupCol), size(filter(col("__cuts"), c => c < col("__v"))).as("bin"))
      .groupBy(col(groupCol), col("bin")).agg(count(lit(1)).as("cur_n"))
    val spine = curCounts.select(col(groupCol)).distinct()
      .crossJoin(broadcast(prof.select(col("bin"), col("ref_n"))))
    val binned = spine
      .join(curCounts, Seq(groupCol, "bin"), "left")
      .join(curCounts.groupBy(col(groupCol)).agg(sum(col("cur_n")).as("__ct")),
        Seq(groupCol))
      .crossJoin(broadcast(prof.agg(sum(col("ref_n")).as("__rt"))))
      .select(col(groupCol), col("bin"), col("ref_n"),
        coalesce(col("cur_n"), lit(0L)).as("cur_n"),
        ((col("ref_n") + lit(0.5)) / (col("__rt") + lit(nBins * 0.5)))
          .as("ref_frac"),
        ((coalesce(col("cur_n"), lit(0L)) + lit(0.5)) /
          (col("__ct") + lit(nBins * 0.5))).as("cur_frac"))
    summarizeBy(binned, col(groupCol))
  }

  private def summarize(binned: DataFrame): DataFrame = summarizeBy(binned)

  /** The shared PSI/KS summary fold — global when `keys` is empty
    * (`groupBy()` == whole-frame agg), per-group otherwise; either way
    * each fold buffer holds ≤ nBins bin rows. */
  private def summarizeBy(binned: DataFrame, keys: Column*): DataFrame =
    binned
      .groupBy(keys: _*)
      .agg(
        sum(col("ref_n")).as("n_ref"), sum(col("cur_n")).as("n_cur"),
        round(sum((col("cur_frac") - col("ref_frac")) *
          log(col("cur_frac") / col("ref_frac"))), 6).as("__psi"),
        sort_array(collect_list(struct(col("bin"),
          col("ref_frac"), col("cur_frac")))).as("__arr"))
      .withColumn("__ks", expr(
        // fold carries (ref CDF, cur CDF, best sup) through the sorted bins
        """aggregate(__arr,
          |  named_struct('r', cast(0.0 as double), 'c', cast(0.0 as double),
          |               'best', cast(0.0 as double)),
          |  (a, x) -> named_struct(
          |    'r', a.r + x.ref_frac, 'c', a.c + x.cur_frac,
          |    'best', greatest(a.best, abs((a.r + x.ref_frac) - (a.c + x.cur_frac)))),
          |  a -> round(a.best, 6))""".stripMargin))
      .select(keys ++ Seq(col("__psi").as("psi"), col("__ks").as("ks_stat"),
        col("n_ref"), col("n_cur")): _*)

  /** One-row categorical-mix drift summary over `catCol`:
    * `(js_divergence, chi_square, tvd, n_categories, n_ref, n_cur)`.
    *  - `js_divergence` — Jensen–Shannon divergence (natural log,
    *    ∈ [0, ln 2]) between the smoothed mixes: symmetric, finite for
    *    disjoint supports (unlike KL).
    *  - `chi_square` — Pearson statistic of the current counts against
    *    expected counts at reference proportions (the classic
    *    homogeneity test input; compare against a χ² table upstream).
    *  - `tvd` — total variation distance `½·Σ|p−q|`, the "what
    *    fraction of mass moved" number humans read best.
    * Shape: one grouped count per side (map-side combined), a
    * full-outer join on the category key — NO broadcast hint: a
    * categorical column at web scale (domains, URLs) can have 10⁸
    * categories, and AQE broadcasts whenever a side actually fits —
    * then a single aggregation over the category rows. */
  def categoricalDrift(ref: DataFrame, cur: DataFrame,
      catCol: String): DataFrame = {
    val refN = ref.groupBy(col(catCol).as("__k")).agg(count(lit(1)).as("ref_n"))
    val curN = cur.groupBy(col(catCol).as("__k")).agg(count(lit(1)).as("cur_n"))
    val joined = refN.join(curN, Seq("__k"), "full_outer")
      .select(col("__k"),
        coalesce(col("ref_n"), lit(0L)).as("ref_n"),
        coalesce(col("cur_n"), lit(0L)).as("cur_n"))
    val totals = joined.agg(
      sum(col("ref_n")).as("__rt"), sum(col("cur_n")).as("__ct"),
      count(lit(1)).as("__k_n"))
    joined.crossJoin(broadcast(totals))
      .select(col("ref_n"), col("cur_n"), col("__rt"), col("__ct"), col("__k_n"),
        ((col("ref_n") + lit(0.5)) / (col("__rt") + col("__k_n") * lit(0.5))).as("__p"),
        ((col("cur_n") + lit(0.5)) / (col("__ct") + col("__k_n") * lit(0.5))).as("__q"))
      .withColumn("__m", (col("__p") + col("__q")) / lit(2.0))
      .agg(
        round(sum(col("__p") * log(col("__p") / col("__m")) * lit(0.5) +
          col("__q") * log(col("__q") / col("__m")) * lit(0.5)), 6)
          .as("js_divergence"),
        // expected current count at reference proportions; the smoothed
        // proportions keep ref-absent categories finite
        round(sum(pow(col("cur_n") - col("__p") * col("__ct"), 2) /
          (col("__p") * col("__ct"))), 6).as("chi_square"),
        round(sum(abs(col("__p") - col("__q"))) / lit(2.0), 6).as("tvd"),
        max(col("__k_n")).as("n_categories"),
        max(col("__rt")).as("n_ref"), max(col("__ct")).as("n_cur"))
  }
}
