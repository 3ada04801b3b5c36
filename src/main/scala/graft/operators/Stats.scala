package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distribution / robust statistics over a (grouped) numeric column —
  * the data-quality profiling pass a training pipeline runs before and
  * after every curation step.
  *
  * The reference has no statistics operators (SURVEY.md §2: word count
  * is its only workload); this is extension surface per the north star.
  *
  * Scale design: every op here is one or two hash-aggregations plus a
  * broadcast join of tiny per-group bounds back onto the fact table —
  * no windows over the full data, no driver-side math. The per-group
  * side is `groups × O(1)` rows — broadcastable for the BOUNDED group
  * columns these operators are built for (flags, languages, sources,
  * labels). For a HIGH-cardinality group key (per-user bounds at 10⁹
  * users) the hinted broadcast is the same OOM hazard as a forced
  * vocabulary broadcast: drop the hint at the call site (AQE still
  * broadcasts when it fits) and expect a shuffle join on the group
  * key instead. The fact side is scanned at most twice (once for
  * bounds, once for the final agg) and never shuffled on anything but
  * the group key.
  */
object Stats {

  /** Equi-width histogram of `valueCol`, `nBuckets` buckets spanning
    * [min, max]. Bucket = `floor((x - mn) / (mx - mn) * n)` clamped to
    * n-1 (so max lands in the last bucket, not one past it) — computed
    * with a broadcast cross-join of the single-row global bounds, the
    * distributed idiom for "two-pass" bounds (no collect, no window
    * over the whole table). */
  def histogram(df: DataFrame, valueCol: String, nBuckets: Int): DataFrame = {
    val v = col(valueCol).cast("double")
    val bounds = df.agg(min(v).as("mn"), max(v).as("mx"))
    df.select(v.as("__v"))
      .crossJoin(broadcast(bounds))
      .select(
        least(floor((col("__v") - col("mn")) / (col("mx") - col("mn")) * nBuckets),
          lit(nBuckets - 1L)).cast("int").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"))
  }

  /** Exact global `ntile(nTiles)` without a global sort — the
    * distributed-ranking shape that replaces the classic
    * single-partition `Window.orderBy` (which funnels EVERY row through
    * one task: the canonical 100 TB scale-killer).
    *
    * Three keyed passes:
    *  1. global [min, max] (one-row agg, broadcast back — the
    *     [[histogram]] idiom);
    *  2. range-bucket each row (`nRangeBuckets` equi-width buckets) and
    *     count per bucket: the per-bucket counts (a `nRangeBuckets`-row
    *     table) are the ONLY globally-ordered object, so their
    *     cumulative offsets are windowed with an explicit bounded
    *     single-group partition;
    *  3. rank WITHIN each bucket (a keyed window, distributed), add the
    *     bucket's offset → exact global rank → exact ntile via the
    *     standard first-`n mod k`-tiles-get-one-extra formula.
    *
    * Output rows/values are IDENTICAL to
    * `ntile(nTiles) over (order by valueCol, tieCol)` — same oracle,
    * no single-partition WindowExec. Equi-width range buckets can be
    * skewed by value distribution; each bucket is still processed by a
    * distributed window, and raising `nRangeBuckets` (or pre-ranging on
    * `approx_percentile` boundaries) caps the largest bucket. Ties
    * across bucket boundaries are impossible: the tie-break column
    * only orders rows of equal value, which land in the same bucket.
    * `valueCol` must be non-null. Construction runs Spark jobs (lazy
    * internal localCheckpoint — see Dedup's MATERIALIZATION POLICY
    * scaladoc for the lineage/retry trade). */
  def distributedNtile(df: DataFrame, valueCol: String, tieCol: String,
      nTiles: Int, nRangeBuckets: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nTiles > 0 && nRangeBuckets > 0)
    // three consumers (bounds, bucket counts, ranking): lazy
    // localCheckpoint so the source scans once. NOT cache(): the result
    // is consumed lazily, so an internal cache could never be
    // unpersisted and would pin one CacheManager entry per call for the
    // session's lifetime; checkpoint blocks are freed by the
    // ContextCleaner once the frame is unreachable (the lexicalTopK
    // lifecycle rule, swept by EngineSweepSpec).
    val base = df.withColumn("__v", col(valueCol).cast("double"))
      .localCheckpoint(false)
    val bounds = base.agg(min(col("__v")).as("__mn"), max(col("__v")).as("__mx"))
    val bucketed = base.crossJoin(broadcast(bounds))
      .withColumn("__bkt",
        when(col("__mx") === col("__mn"), lit(0L))
          .otherwise(least(floor((col("__v") - col("__mn")) /
              (col("__mx") - col("__mn")) * nRangeBuckets),
            lit(nRangeBuckets - 1L)))
        .cast("int"))
      .drop("__mn", "__mx")
    // cumulative offsets over the nRangeBuckets-row counts WITHOUT a
    // window: the count table is bounded, so it collapses into one
    // sorted array (a bounded aggregation buffer) and prefix sums are
    // higher-order array folds — no WindowExec anywhere in the plan
    // (an empty-partition window here would be harmless at nRangeBuckets
    // rows but indistinguishable in logs from the real scale hazard)
    val meta = bucketed.groupBy(col("__bkt")).agg(count(lit(1)).as("__bc"))
      .agg(sort_array(collect_list(struct(col("__bkt"), col("__bc")))).as("__arr"))
      .select(explode(expr(
        "transform(__arr, (x, i) -> named_struct(" +
          "'__bkt', x.__bkt, " +
          "'__off', aggregate(slice(__arr, 1, i), 0L, (a, y) -> a + y.__bc), " +
          "'__n', aggregate(__arr, 0L, (a, y) -> a + y.__bc)))")).as("__m"))
      .select(col("__m.__bkt").as("__bkt"), col("__m.__off").as("__off"),
        col("__m.__n").as("__n"))
    val wB = Window.partitionBy(col("__bkt"))
      .orderBy(col("__v").asc, col(tieCol).asc)
    val ranked = bucketed.join(broadcast(meta), Seq("__bkt"))
      .withColumn("__r", row_number().over(wB).cast("long") + col("__off"))
    // ntile formula: first (n mod k) tiles hold q+1 rows, the rest q
    val q = floor(col("__n") / nTiles).cast("long")
    val rem = col("__n") % nTiles
    val big = rem * (q + 1) // rows living in the larger tiles
    val tile = when(col("__r") <= big,
        floor((col("__r") - 1) / (q + 1)).cast("long") + 1)
      .otherwise(rem + floor((col("__r") - big - 1) / q).cast("long") + 1)
    ranked.withColumn("tile", tile.cast("int"))
      .drop("__v", "__bkt", "__off", "__n", "__r")
  }

  /** Winsorized per-group mean/stddev: values clamped to the group's
    * [lo, hi] percentiles before aggregating — the standard
    * outlier-robust summary. Percentile bounds are one grouped agg
    * broadcast back onto the facts; the clamp itself is codegen'd
    * `greatest(least(..))`.
    *
    * `sketchAccuracy = None` (default) uses exact `percentile` (linear
    * interpolation — matches DuckDB `quantile_cont`; what the oracle
    * gate checks). Exact percentile buffers every group value in the
    * aggregation state — fine up to ~10⁷ rows/group, an OOM at 100 TB.
    * `Some(acc)` switches the bounds to `approx_percentile` (KLL-style
    * QuantileSummaries, bounded state, rank error ≤ 1/acc): the
    * production setting; clamp bounds shift by at most the rank error,
    * which a winsorized mean is insensitive to by construction
    * (StatsSpec pins exact-vs-approx agreement). Construction runs
    * Spark jobs (lazy internal localCheckpoint — see Dedup's
    * MATERIALIZATION POLICY scaladoc). */
  def winsorizedStats(df: DataFrame, groupCol: String, valueCol: String,
      lo: Double = 0.05, hi: Double = 0.95,
      sketchAccuracy: Option[Int] = None): DataFrame = {
    // two consumers of the projected columns (bounds pass + clamp pass):
    // lazy localCheckpoint of the 2-column projection so the source
    // scans once, freed on GC (the lexicalTopK lifecycle rule)
    val proj = df.select(col(groupCol), col(valueCol).cast("double").as("__v"))
      .localCheckpoint(false)
    // ONE percentile aggregation for both bounds: per-quantile calls
    // would each buffer every group value in their own aggregation
    // state (the exact form's state is the whole group — duplicating
    // it measured ~2x on the sf0.1 bench, same lesson as
    // q_approx_percentile's fused sketch)
    val pctl = sketchAccuracy match {
      case Some(acc) => expr(s"approx_percentile(__v, array($lo, $hi), $acc)")
      case None => expr(s"percentile(__v, array($lo, $hi))")
    }
    val bounds = proj.groupBy(col(groupCol))
      .agg(pctl.as("__p"))
      .select(col(groupCol), element_at(col("__p"), 1).as("p_lo"),
        element_at(col("__p"), 2).as("p_hi"))
    proj.join(broadcast(bounds), Seq(groupCol))
      .select(col(groupCol),
        greatest(least(col("__v"), col("p_hi")), col("p_lo")).as("__w"))
      .groupBy(col(groupCol))
      .agg(round(avg(col("__w")), 6).as("wins_avg"),
        round(stddev_samp(col("__w")), 6).as("wins_std"),
        count(lit(1)).as("n"))
  }

  /** Order-independent content checksum of selected columns: XOR of a
    * 60-bit md5-derived hash per row, plus the row count. Equal
    * multisets of rows → equal checksum, regardless of partitioning,
    * ordering, or engine (md5 is portable; 15 hex chars keep the value
    * inside a signed 64-bit int everywhere). XOR is commutative/
    * associative, so the aggregation is partial+final with an 8-byte
    * state — the cheapest possible way to compare a 100 TB table
    * against its replica/migration copy without moving either.
    * (XOR caveat: rows appearing an EVEN number of times cancel out;
    * pair it with the count, and for multiset-exactness compare
    * per-partition checksums.) */
  def tableChecksum(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(
        conv(substring(md5(concat_ws("|", cols.map(col): _*).cast("binary")), 1, 15),
          16, 10).cast("long").as("__h"))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(__h)").as("checksum"))

  /** Join/aggregation key-skew diagnostic: the per-key frequency
    * distribution collapsed to one row — key count, min/median/p99/max
    * frequency, and the max/avg skew ratio that decides whether a key
    * needs salting (`Partitioning.salted*`) or AQE skew-join handling.
    * Two hash aggregations (per-key count, then the summary); nothing
    * key-cardinality-sized ever reaches the driver. Run this BEFORE
    * picking a partitioning strategy at 100 TB.
    *
    * `sketchAccuracy`: as in [[winsorizedStats]] — the summary's
    * percentiles aggregate ALL per-key counts into one group, so the
    * exact form's buffer is |keys|-sized; pass `Some(acc)` when the key
    * cardinality itself is huge. */
  def keySkew(df: DataFrame, keyCol: String,
      sketchAccuracy: Option[Int] = None): DataFrame = {
    // one fused percentile agg for p50+p99 (see winsorizedStats: the
    // exact form's state is the whole input — don't buffer it twice)
    val pctl = sketchAccuracy match {
      case Some(acc) => expr(s"approx_percentile(c, array(0.5, 0.99), $acc)")
      case None => expr("percentile(c, array(0.5, 0.99))")
    }
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("c"))
    counts.agg(
      count(lit(1)).as("n_keys"),
      min(col("c")).as("min_freq"),
      pctl.as("__p"),
      max(col("c")).as("max_freq"),
      round(max(col("c")) / avg(col("c")), 6).as("skew_ratio"))
      .select(col("n_keys"), col("min_freq"),
        element_at(col("__p"), 1).as("p50_freq"),
        element_at(col("__p"), 2).as("p99_freq"),
        col("max_freq"), col("skew_ratio"))
  }

  /** Robust (median/MAD) outliers: rows where
    * `|x - median| > k * MAD`, MAD = median of absolute deviations from
    * the group median. Two grouped percentile aggs with a broadcast
    * join between them — the robust twin of the z-score outlier query
    * (q_zscore_outliers), immune to the outliers inflating their own
    * threshold. Returns one row per outlier with its deviation scale.
    * Groups where MAD = 0 (over half the values identical) are skipped:
    * every deviation would be infinitely many MADs out.
    *
    * `sketchAccuracy`: as in [[winsorizedStats]] — `None` is the exact
    * oracle-parity form (per-group value buffers; not for 100 TB),
    * `Some(acc)` bounds both median aggregations' state via
    * `approx_percentile`. An approximate median shifts which borderline
    * rows clear the k·MAD threshold, so the approx form is for
    * profiling, not for hash-stable outputs. Construction runs Spark
    * jobs (lazy internal localCheckpoint — see Dedup's MATERIALIZATION
    * POLICY scaladoc). */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
      k: Double = 3.0, sketchAccuracy: Option[Int] = None): DataFrame = {
    // three consumers of the projected columns (median pass, MAD pass,
    // final filter): lazy localCheckpoint so the source scans once,
    // freed on GC (the lexicalTopK lifecycle rule)
    val proj = df.select(col(groupCol), col(valueCol).cast("double").as("__v"))
      .localCheckpoint(false)
    val median = sketchAccuracy match {
      case Some(acc) => (c: String) => expr(s"approx_percentile($c, 0.5, $acc)")
      case None => (c: String) => expr(s"percentile($c, 0.5)")
    }
    val med = proj.groupBy(col(groupCol))
      .agg(median("__v").as("med"))
    val withMed = proj.join(broadcast(med), Seq(groupCol))
    val mad = withMed
      .groupBy(col(groupCol))
      .agg(median("abs(__v - med)").as("mad"))
    withMed.join(broadcast(mad), Seq(groupCol))
      .filter(col("mad") > 0 && abs(col("__v") - col("med")) > lit(k) * col("mad"))
      .select(col(groupCol), col("__v").as("value"),
        round((col("__v") - col("med")) / col("mad"), 6).as("n_mads"))
  }

  /** Pre-flight equi-join cardinality: the EXACT output row count of
    * `left ⋈ right ON leftKey = rightKey` computed from the two per-key
    * frequency profiles — `Σ_k cnt_L(k)·cnt_R(k)` — without
    * materializing a single joined row. Cost is two hash aggregations
    * plus a join of the two (key-cardinality-sized) profiles; at 100 TB
    * that is orders of magnitude cheaper than the join it sizes.
    *
    * One summary row: matched-key count, exact output rows, and the
    * largest single key's share of the output — the number that decides
    * the physical strategy BEFORE the expensive join runs (broadcast if
    * the output is small, salt ([[graft.core.Partitioning]]) or rely on
    * AQE skew splitting if one key dominates). The companion per-key
    * view is [[keySkew]]; this composes both sides' skew into the
    * number that actually matters — the join's own fanout. */
  def joinSizeEstimate(left: DataFrame, leftKey: String,
      right: DataFrame, rightKey: String): DataFrame = {
    val lc = left.groupBy(col(leftKey).as("k")).agg(count(lit(1)).as("cl"))
    val rc = right.groupBy(col(rightKey).as("k")).agg(count(lit(1)).as("cr"))
    lc.join(rc, Seq("k"))
      .select((col("cl") * col("cr")).as("rows_k"))
      .agg(count(lit(1)).as("n_matched_keys"),
        coalesce(sum(col("rows_k")), lit(0L)).as("join_rows"),
        coalesce(max(col("rows_k")), lit(0L)).as("max_key_rows"))
      .select(col("n_matched_keys"), col("join_rows"), col("max_key_rows"),
        round(when(col("join_rows") > 0,
          col("max_key_rows").cast("double") / col("join_rows"))
          .otherwise(lit(0.0)), 6).as("top_key_share"))
  }

  /** EXACT heavy hitters — every distinct `itemCol` value occurring in
    * more than `phi` of all (non-null) rows, with its exact count —
    * via the sketch-candidates + exact-recount two-pass, the 100 TB
    * shape for "most frequent tokens / domains / boilerplate n-grams":
    *
    *  1. Candidate pass: one scan folds into a frequent-items sketch
    *     (Spark's `approx_top_k_accumulate`, a DataSketches
    *     ItemsSketch) — mergeable map-side state, so the only shuffle
    *     is one sketch per partition, never the data. The sketch
    *     guarantees NO false negatives for items with true share above
    *     ~3.5/maxMapSize, so `tracked * phi >= 4` makes the candidate
    *     set a provable superset of the answer.
    *  2. Exact pass: the candidates (<= tracked rows — broadcastable by
    *     construction) come back onto a second scan as a broadcast
    *     join, and only matching rows reach the count aggregation —
    *     whose key cardinality is <= tracked, so the shuffle is
    *     partitions x candidates rows after map-side combine. The
    *     HAVING against the in-plan total discards the sketch's false
    *     positives.
    *
    * The output is EXACT and deterministic — partitioning/merge order
    * only widens the candidate set, never changes the answer (the
    * DuckDB oracle is a plain GROUP BY ... HAVING) — but the
    * full-cardinality shuffle of a naive global group-by (every
    * distinct token at 100 TB) never happens. Total in-plan via the
    * same single-row aggregate (no `.count()` driver job).
    *
    * PRECONDITION (same as [[heavyHittersFromState]]): both passes
    * must see IDENTICAL rows. `df` is scanned twice — once for the
    * sketch, once for the recount — so a non-deterministic input
    * (files mutated between actions, `rand()`-derived columns)
    * silently breaks the no-false-negative guarantee. Materialize
    * such inputs first (`localCheckpoint()`) before calling. */
  def exactHeavyHitters(df: DataFrame, itemCol: Column, phi: Double,
      maxItemsTracked: Int = 0): DataFrame = {
    require(phi > 0 && phi < 1, "need 0 < phi < 1")
    val tracked =
      if (maxItemsTracked > 0) maxItemsTracked
      else math.max(64, math.ceil(8.0 / phi).toInt)
    require(tracked * phi >= 4.0,
      s"maxItemsTracked=$tracked too small for phi=$phi: the sketch's " +
        "no-false-negative bound (~3.5/maxItemsTracked) must cover phi — " +
        "need maxItemsTracked >= 4/phi")
    val items = df.select(itemCol.as("item")).filter(col("item").isNotNull)
    // one row: (candidate array, exact total) — a single scan
    val sketch = items.agg(
      expr(s"approx_top_k_estimate(" +
        s"approx_top_k_accumulate(item, $tracked), $tracked)").as("tk"),
      count(lit(1)).as("__n"))
    val cands = sketch
      .select(explode(col("tk")).as("c"), col("__n"))
      .select(col("c.item").as("item"), col("__n"))
    items.join(broadcast(cands), Seq("item"))
      .groupBy(col("item"), col("__n"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > col("__n").cast("double") * lit(phi))
      .select(col("item"), col("cnt"))
  }

  /** The exact-recount bridge from MERGEABLE sketch state to exact
    * heavy hitters — [[exactHeavyHitters]] decomposed for incremental
    * deployment. `state` is one row holding a frequent-items sketch in
    * `topk_sk` (built per ingest batch with
    * `graft.streaming.StreamingOps.topKState(batch, Seq.empty, …)` and
    * folded with `mergeTopKStates` — the sketch union is associative
    * and commutative, so merged split states ARE the state of the
    * union, spec-pinned). Candidates are estimated from the state and
    * recounted exactly over the stored corpus.
    *
    * Why this shape at 100 TB: the per-batch state update is O(batch)
    * with NO corpus rescan; the corpus pays its candidate-filtered
    * recount scan only when the answer is actually read. Exactness is
    * inherited from [[exactHeavyHitters]]'s argument — the sketch's
    * no-false-negative bound (enforced against phi via
    * `maxItemsTracked`, which must be the accumulate-time capacity)
    * guarantees candidates ⊇ answer, and the exact HAVING discards the
    * rest — PROVIDED the state saw exactly the corpus's rows. */
  def heavyHittersFromState(state: DataFrame, corpus: DataFrame,
      itemCol: Column, phi: Double, maxItemsTracked: Int): DataFrame = {
    require(phi > 0 && phi < 1, "need 0 < phi < 1")
    require(maxItemsTracked * phi >= 4.0,
      s"maxItemsTracked=$maxItemsTracked too small for phi=$phi: need >= 4/phi")
    val items = corpus.select(itemCol.as("item")).filter(col("item").isNotNull)
    val cands = state
      .select(explode(
        expr(s"approx_top_k_estimate(topk_sk, $maxItemsTracked)")).as("c"))
      .select(col("c.item").as("item"))
    val totals = items.agg(count(lit(1)).as("__n"))
    items.join(broadcast(cands), Seq("item"))
      .groupBy(col("item"))
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(totals))
      .filter(col("cnt") > col("__n").cast("double") * lit(phi))
      .select(col("item"), col("cnt"))
  }

  /** PER-GROUP exact heavy hitters — for each `keyCol` group, every
    * item with within-group share > phi and its exact count (the
    * per-language / per-domain boilerplate-token report). Same
    * sketch-candidates + exact-recount argument as
    * [[exactHeavyHitters]], with the grouped scale shape:
    *
    *  - candidate pass: one grouped frequent-items sketch aggregation
    *    (map-side combined — one sketch per partition per group
    *    shuffles, never rows); candidates ≤ tracked per group.
    *  - exact pass: groups × tracked can exceed broadcast budgets at
    *    scale, so the recount joins on (key, item) as a plain
    *    shuffle-capable equi-join (AQE broadcasts when it fits — the
    *    Stats scaladoc's bounded-vs-high-cardinality group rule), and
    *    per-group totals ride the same aggregation (no second scan:
    *    count(*) over the group keys is sketch-row cheap).
    *
    * Exact and deterministic per group, same oracle form (GROUP BY
    * key, item HAVING).
    *
    * PRECONDITION (same as [[exactHeavyHitters]]): the two scans of
    * `df` must see identical rows — materialize non-deterministic
    * inputs first. */
  def exactHeavyHittersByKey(df: DataFrame, keyCol: Column, itemCol: Column,
      phi: Double, maxItemsTracked: Int = 0): DataFrame = {
    require(phi > 0 && phi < 1, "need 0 < phi < 1")
    val tracked =
      if (maxItemsTracked > 0) maxItemsTracked
      else math.max(64, math.ceil(8.0 / phi).toInt)
    require(tracked * phi >= 4.0,
      s"maxItemsTracked=$tracked too small for phi=$phi: need >= 4/phi")
    val items = df.select(keyCol.as("key"), itemCol.as("item"))
      .filter(col("item").isNotNull && col("key").isNotNull)
    // one grouped scan: per-key sketch + per-key exact total together
    val sk = items.groupBy(col("key")).agg(
      expr(s"approx_top_k_estimate(" +
        s"approx_top_k_accumulate(item, $tracked), $tracked)").as("tk"),
      count(lit(1)).as("__n"))
    val cands = sk.select(col("key"), explode(col("tk")).as("c"), col("__n"))
      .select(col("key"), col("c.item").as("item"), col("__n"))
    items.join(cands, Seq("key", "item"))
      .groupBy(col("key"), col("item"), col("__n"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > col("__n").cast("double") * lit(phi))
      .select(col("key"), col("item"), col("cnt"))
  }
}
