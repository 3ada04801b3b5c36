package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{BandJoin, BloomPrune, Events, Sampling, Stats, TextAnalysis}
import graft.sources.Sources
import graft.sources.Sources.table

/** Round-3 coverage: distribution/robust statistics, bloom-pruned
  * semi-join, growth-curve and streak analytics, character-entropy
  * quality scoring. All oracle-checked against DuckDB. */
object StatsQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // equi-width histogram of order totals (portable floor-bucket form;
    // DuckDB lacks width_bucket)
    "q_histogram" -> { (s, dir) =>
      Stats.histogram(table(s, dir, "orders"), "o_totalprice", 20)
    },


    // outlier-robust per-group summary: clamp to [p05, p95] then agg
    "q_winsorized_stats" -> { (s, dir) =>
      Stats.winsorizedStats(table(s, dir, "lineitem"), "l_returnflag",
        "l_extendedprice", 0.05, 0.95)
    },

    // median/MAD outliers — the robust twin of q_zscore_outliers
    "q_mad_outliers" -> { (s, dir) =>
      Stats.madOutliers(table(s, dir, "orders"), "o_orderpriority",
        "o_totalprice", 2.0)
        .select(col("o_orderpriority"), round(col("value"), 4).as("value"),
          col("n_mads"))
    },

    // bloom-pruned semi-join: revenue of lineitems belonging to urgent
    // high-value orders; results identical to the plain semi-join (the
    // bloom pass only pre-prunes the fact side's shuffle)
    "q_bloom_semi_join" -> { (s, dir) =>
      val urgent = table(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 150000)
      BloomPrune.semiJoin(table(s, dir, "lineitem"), "l_orderkey",
          urgent, "o_orderkey",
          expectedItems = 100000L, numBits = 1L * 1024 * 1024)
        .groupBy(col("l_returnflag"))
        .agg(round(sum(col("l_extendedprice")), 4).as("revenue"),
          count(lit(1)).as("n_items"))
    },

    // order-independent table fingerprint: XOR of per-row md5-derived
    // hashes — compare a table to its replica without moving either
    "q_table_checksum" -> { (s, dir) =>
      Stats.tableChecksum(table(s, dir, "lineitem"),
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"))
    },

    // correlation/covariance battery over lineitem numerics
    "q_corr_matrix" -> { (s, dir) =>
      table(s, dir, "lineitem").agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
        round(corr(col("l_extendedprice"), col("l_discount")), 6).as("corr_price_disc"),
        round(corr(col("l_quantity"), col("l_tax")), 6).as("corr_qty_tax"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("covar_qty_price"))
    },

    // key-skew diagnostic: the pre-salting frequency profile of a join key
    "q_skew_diagnostic" -> { (s, dir) =>
      Stats.keySkew(table(s, dir, "lineitem"), "l_suppkey")
    },

    // cumulative distinct users per day via the first-seen trick
    "q_cumulative_users" -> { (s, dir) =>
      Events.cumulativeUsers(Sources.events(s, dir))
    },

    // per-user consecutive-day activity streaks (gaps-and-islands)
    "q_activity_streaks" -> { (s, dir) =>
      Events.activityStreaks(Sources.events(s, dir))
    },

    // character-entropy quality signal over documents
    "q_char_entropy" -> { (s, dir) =>
      table(s, dir, "documents")
        .filter(length(col("text")) > 0)
        .select(col("doc_id"),
          round(TextAnalysis.charEntropy(col("text")), 6).as("char_entropy"))
    },

    // banded theta-join: same-brand part pairs priced within 1.0 of each
    // other — equi-join on floor(price/width) buckets, never the O(n²)
    // broadcast-nested-loop a naive non-equi join plans to
    "q_band_join" -> { (s, dir) =>
      BandJoin.selfBandJoin(table(s, dir, "part"), "p_partkey",
          "p_retailprice", 1.0, "p_brand")
        .withColumnRenamed("k", "p_brand")
    },

    // deterministic length-weighted document sampling: P(keep) ∝ n_chars
    "q_weighted_sample" -> { (s, dir) =>
      // 0.00125 (not 1.0/800.0): the oracle multiplies by the same
      // decimal literal, so both engines parse the identical double and
      // the boundary u < p decision can't diverge by an ulp
      Sampling.weightedSampleByHash(table(s, dir, "documents"),
          col("doc_id"), col("n_chars"), 0.00125)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).as("kept_chars"))
    },

    // EXACT-size length-weighted sample without replacement (A-ES
    // priorities): the 100 largest ln(u)/w — where weightedSampleByHash
    // only hits its size in expectation, this draws exactly n. One
    // projection + TakeOrdered, no shuffle.
    "q_weighted_sample_exact" -> { (s, dir) =>
      Sampling.weightedSampleExact(
          table(s, dir, "documents").filter(col("n_chars") > 0),
          col("doc_id"), col("n_chars"), n = 100)
        .select(col("doc_id"), col("n_chars"), col("es_priority"))
    },

    // the STRATIFIED form (round 13): exactly 10 docs per language,
    // length-weighted, same deterministic A-ES priorities — one
    // group-keyed shuffle with the rank filter pushed into a
    // WindowGroupLimit, vs the global draw's TakeOrdered
    "q_weighted_sample_per_group" -> { (s, dir) =>
      Sampling.weightedSampleExactPerGroup(
          table(s, dir, "documents").filter(col("n_chars") > 0),
          col("lang"), col("doc_id"), col("n_chars"), n = 10)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("es_priority"), col("sample_rank"))
    },

    // datasketches heavy-hitters (Spark 4's approx_top_k): frequent
    // items in one pass + bounded memory. The test vocabulary is far
    // below the sketch's maxItemsTracked, so counts are EXACT here and
    // the exact-SQL oracle is valid; at 100 TB the same query keeps the
    // one-pass/bounded-state shape where an exact groupBy must shuffle
    // the full vocabulary
    "q_approx_top_words" -> { (s, dir) =>
      table(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
        .agg(expr("approx_top_k(word, 50, 10000)").as("tk"))
        .select(explode(col("tk")))
        .select(col("col.*")).toDF("word", "cnt")
        .orderBy(desc("cnt"), asc("word")).limit(10)
    },

    // EXACT heavy hitters (tokens in > 1% of all token occurrences) via
    // the sketch-candidates + exact-recount two-pass: candidates from
    // one approx_top_k sketch scan (no data shuffle), broadcast back as
    // a join filter, exact counts + in-plan-total HAVING — exact output
    // with a candidates-bounded aggregation where the naive groupBy
    // must shuffle the full 100 TB vocabulary. Complements
    // q_approx_top_words (rank-k, approximate) with the share-phi,
    // exact form.
    "q_heavy_hitters" -> { (s, dir) =>
      Stats.exactHeavyHitters(
        table(s, dir, "documents")
          .select(explode(TextAnalysis.tokens(col("text"))).as("w")),
        col("w"), phi = 0.01)
    },

    // PER-GROUP exact heavy hitters: each language's >2%-share tokens
    // with exact within-group counts — the per-domain boilerplate
    // report. Grouped sketch candidates + a shuffle-capable (key,item)
    // recount join (groups x tracked can exceed broadcast budgets at
    // scale, so no hint — AQE broadcasts when it fits)
    "q_heavy_hitters_by_lang" -> { (s, dir) =>
      Stats.exactHeavyHittersByKey(
        table(s, dir, "documents")
          .select(col("lang"),
            explode(TextAnalysis.tokens(col("text"))).as("w")),
        col("lang"), col("w"), phi = 0.02)
        .withColumnRenamed("key", "lang")
    },

    // the INCREMENTAL deployment of q_heavy_hitters: per-ingest-half
    // sketch states (StreamingOps.topKState), folded with the
    // associative/commutative sketch merge, exact-recounted over the
    // stored corpus — the same exact output as the one-shot operator
    // (the oracle IS the same GROUP BY HAVING), with per-batch state
    // updates that never rescan the corpus
    "q_heavy_hitters_incremental" -> { (s, dir) =>
      import graft.streaming.StreamingOps
      val toks = table(s, dir, "documents")
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("w"))
      def half(even: Boolean) =
        toks.filter((col("doc_id") % 2 === 0) === even).select("w")
      val merged = StreamingOps.mergeTopKStates(
        StreamingOps.topKState(half(even = true), Seq.empty, "w", 1024),
        StreamingOps.topKState(half(even = false), Seq.empty, "w", 1024),
        Seq.empty)
      Stats.heavyHittersFromState(merged, toks.select("w"), col("w"),
        phi = 0.01, maxItemsTracked = 1024)
    },

    // deflate compression-ratio quality signal, contract form: the
    // zlib byte stream isn't DuckDB-expressible (exact golden values
    // are pinned by unit test), but its CONTRACT is — compressed size
    // must be positive and within the deflate worst case (raw + small
    // overhead). The query computes the bound check, the oracle emits
    // TRUE, so the gate catches a broken codec path.
    "q_compression_ratio" -> { (s, dir) =>
      val docs = table(s, dir, "documents")
      TextAnalysis.compressionRatio(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"),
          expr("octet_length(text)").cast("long").as("n_raw_bytes")), Seq("doc_id"))
        .select(col("doc_id"), col("n_raw_bytes"),
          (col("comp_ratio") > 0.0 &&
            col("comp_ratio") * col("n_raw_bytes") <=
              col("n_raw_bytes") + lit(64.0)).as("deflate_within_bounds"))
    },

    // Zipf fit over the corpus: slope of log(freq) vs log(rank) — the
    // corpus-health check (natural language ~ -1). Fit on the TOP-10k
    // vocabulary via TakeOrderedAndProject: a Zipf fit doesn't need the
    // long tail, and ranking the FULL vocabulary would be a
    // single-partition sort over 10⁸+ words at 100 TB. Rank = position
    // in the sorted bounded array (one collect_list buffer of ≤10k
    // entries) — no WindowExec in the plan at all.
    "q_zipf_slope" -> { (s, dir) =>
      table(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word").asc).limit(10000)
        // sort by (-cnt, word) = (cnt desc, word asc); rank = index + 1
        .agg(sort_array(collect_list(struct((-col("cnt")).as("negcnt"),
          col("word")))).as("arr"))
        .select(posexplode(col("arr")).as(Seq("i", "x")))
        .select((col("i") + 1).cast("long").as("rank"),
          (-col("x.negcnt")).as("cnt"))
        .agg(
          round(expr("regr_slope(ln(cnt), ln(rank))"), 6).as("zipf_slope"),
          round(expr("regr_intercept(ln(cnt), ln(rank))"), 6).as("zipf_intercept"),
          count(lit(1)).as("n_words"))
    },

    // mergeable distinct-count sketches (Apache DataSketches HLL via
    // Spark's hll_sketch_agg): per-DAY sketches roll up to week by
    // sketch UNION — the pre-aggregation pattern that makes distinct
    // counts affordable at 100 TB (store |days|·|dims| fixed-size
    // sketches, never re-touch raw events; exact countDistinct must
    // re-shuffle all raw user_ids for every rollup grain). Contract
    // form: sketch bytes aren't DuckDB-portable, so the query emits the
    // 10%-relative-error check as a boolean (lgK=14 → RSE ≈ 0.8%; the
    // oracle emits TRUE) — a tighter 5% bound is pinned in
    // SketchQueriesSpec.
    "q_hll_reaggregate" -> { (s, dir) =>
      val ev = Sources.events(s, dir)
        .select(date_trunc("week", col("ts")).cast("date").as("week"),
          to_date(col("ts")).as("day"), col("user_id"))
      val daily = ev.groupBy(col("week"), col("day"))
        .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
      val weekly = daily.groupBy(col("week"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_users"))
      val exact = ev.groupBy(col("week"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      weekly.join(exact, Seq("week"))
        .select(col("week"), col("exact_users"),
          (abs(col("est_users") - col("exact_users")) <=
            lit(0.1) * col("exact_users")).as("est_within_10pct"))
    },
  )

  val oracles: Map[String, String] = Map(
    // the two-pass operator's output is EXACT, so the oracle is the
    // naive form it replaces at scale: plain GROUP BY ... HAVING
    "q_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(text, '\s+'),
        |    x -> x <> '')) AS item
        |  FROM documents),
        |tot AS (SELECT count(1) AS n FROM toks)
        |SELECT item, count(1)::BIGINT AS cnt
        |FROM toks CROSS JOIN tot
        |GROUP BY item, tot.n
        |HAVING count(1) > 0.01 * tot.n""".stripMargin,
    "q_heavy_hitters_by_lang" ->
      """WITH toks AS (
        |  SELECT lang, unnest(list_filter(string_split_regex(text, '\s+'),
        |    x -> x <> '')) AS item
        |  FROM documents),
        |tot AS (SELECT lang, count(1) AS n FROM toks GROUP BY lang)
        |SELECT toks.lang, item, count(1)::BIGINT AS cnt
        |FROM toks JOIN tot ON toks.lang = tot.lang
        |GROUP BY toks.lang, item, tot.n
        |HAVING count(1) > 0.02 * tot.n""".stripMargin,
    // exactness of the state-merge + recount chain is the claim: the
    // incremental form must reproduce the one-shot answer bit-for-bit
    "q_heavy_hitters_incremental" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(text, '\s+'),
        |    x -> x <> '')) AS item
        |  FROM documents),
        |tot AS (SELECT count(1) AS n FROM toks)
        |SELECT item, count(1)::BIGINT AS cnt
        |FROM toks CROSS JOIN tot
        |GROUP BY item, tot.n
        |HAVING count(1) > 0.01 * tot.n""".stripMargin,
    // contract form (see q_approx_distinct): exact recomputed, bound
    // column literal TRUE, Spark computes the actual check
    "q_compression_ratio" ->
      """SELECT doc_id, octet_length(encode(text))::BIGINT AS n_raw_bytes,
        |  TRUE AS deflate_within_bounds
        |FROM documents""".stripMargin,
    "q_hll_reaggregate" ->
      """SELECT date_trunc('week', ts::TIMESTAMP)::DATE AS week,
        |  count(DISTINCT user_id) AS exact_users,
        |  TRUE AS est_within_10pct
        |FROM events GROUP BY 1""".stripMargin,
    "q_histogram" ->
      """WITH b AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx
        |           FROM orders)
        |SELECT least(floor((o_totalprice - mn) / (mx - mn) * 20), 19)::INT
        |         AS bucket,
        |       count(1) AS n
        |FROM orders CROSS JOIN b
        |GROUP BY 1""".stripMargin,
    "q_winsorized_stats" ->
      """WITH p AS (
        |  SELECT l_returnflag,
        |    quantile_cont(l_extendedprice, 0.05) AS p_lo,
        |    quantile_cont(l_extendedprice, 0.95) AS p_hi
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag,
        |  round(avg(greatest(least(l_extendedprice, p_hi), p_lo)), 6) AS wins_avg,
        |  round(stddev_samp(greatest(least(l_extendedprice, p_hi), p_lo)), 6)
        |    AS wins_std,
        |  count(1) AS n
        |FROM lineitem l JOIN p ON l.l_returnflag = p.l_returnflag
        |GROUP BY 1""".stripMargin,
    "q_mad_outliers" ->
      """WITH med AS (
        |  SELECT o_orderpriority, median(o_totalprice) AS med
        |  FROM orders GROUP BY 1),
        |mad AS (
        |  SELECT o.o_orderpriority,
        |    median(abs(o_totalprice - med)) AS mad
        |  FROM orders o JOIN med ON o.o_orderpriority = med.o_orderpriority
        |  GROUP BY 1)
        |SELECT o.o_orderpriority, round(o_totalprice, 4) AS value,
        |  round((o_totalprice - med) / mad, 6) AS n_mads
        |FROM orders o
        |JOIN med ON o.o_orderpriority = med.o_orderpriority
        |JOIN mad ON o.o_orderpriority = mad.o_orderpriority
        |WHERE mad > 0 AND abs(o_totalprice - med) > 2.0 * mad""".stripMargin,
    "q_bloom_semi_join" ->
      """SELECT l_returnflag, round(sum(l_extendedprice), 4) AS revenue,
        |  count(1) AS n_items
        |FROM lineitem
        |WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000)
        |GROUP BY 1""".stripMargin,
    "q_table_checksum" ->
      """SELECT count(1) AS n_rows,
        |  bit_xor(('0x' || substring(md5(
        |      concat_ws('|', l_orderkey, l_linenumber, l_returnflag,
        |                l_linestatus)), 1, 15))::BIGINT) AS checksum
        |FROM lineitem""".stripMargin,
    "q_corr_matrix" ->
      """SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        |  round(corr(l_extendedprice, l_discount), 6) AS corr_price_disc,
        |  round(corr(l_quantity, l_tax), 6) AS corr_qty_tax,
        |  round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price
        |FROM lineitem""".stripMargin,
    "q_skew_diagnostic" ->
      """WITH c AS (SELECT l_suppkey, count(1) AS c FROM lineitem GROUP BY 1)
        |SELECT count(1) AS n_keys, min(c) AS min_freq,
        |  quantile_cont(c, 0.5) AS p50_freq,
        |  quantile_cont(c, 0.99) AS p99_freq,
        |  max(c) AS max_freq,
        |  round(max(c) / avg(c), 6) AS skew_ratio
        |FROM c""".stripMargin,
    "q_cumulative_users" ->
      """WITH fd AS (
        |  SELECT user_id, min(ts::TIMESTAMP::DATE) AS day
        |  FROM events GROUP BY 1),
        |daily AS (SELECT day, count(1) AS new_users FROM fd GROUP BY 1)
        |SELECT day, new_users,
        |  (sum(new_users) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |    AS cum_users
        |FROM daily""".stripMargin,
    "q_activity_streaks" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, ts::TIMESTAMP::DATE AS day FROM events),
        |isl AS (
        |  SELECT user_id,
        |    day - (row_number() OVER (PARTITION BY user_id ORDER BY day))::INT
        |      AS grp,
        |    count(1) OVER (PARTITION BY user_id) AS nd
        |  FROM days),
        |streaks AS (
        |  SELECT user_id, grp, count(1) AS len FROM isl GROUP BY 1, 2)
        |SELECT user_id, max(len) AS longest_streak, count(1) AS n_streaks,
        |  sum(len)::BIGINT AS active_days
        |FROM streaks GROUP BY 1""".stripMargin,
    "q_band_join" ->
      """SELECT a.p_brand, a.p_partkey AS a, b.p_partkey AS b,
        |  round(abs(a.p_retailprice - b.p_retailprice), 6) AS diff
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        | AND abs(a.p_retailprice - b.p_retailprice) <= 1.0""".stripMargin,
    "q_weighted_sample" ->
      """SELECT source, count(1) AS n_kept, sum(n_chars)::BIGINT AS kept_chars
        |FROM documents
        |WHERE ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT
        |        / 4294967296.0
        |      < least(1.0, n_chars * 0.00125)
        |GROUP BY 1""".stripMargin,
    "q_weighted_sample_exact" ->
      """SELECT doc_id, n_chars,
        |  floor(ln((('0x' || substring(md5(doc_id::VARCHAR || ':es'),
        |               1, 8))::BIGINT + 0.5) / 4294967296.0)
        |        / n_chars * 1e6 + 0.5) / 1e6 AS es_priority
        |FROM documents WHERE n_chars > 0
        |ORDER BY es_priority DESC, doc_id
        |LIMIT 100""".stripMargin,
    "q_weighted_sample_per_group" ->
      """WITH pr AS (
        |  SELECT doc_id, lang, n_chars,
        |    floor(ln((('0x' || substring(md5(doc_id::VARCHAR || ':es'),
        |                 1, 8))::BIGINT + 0.5) / 4294967296.0)
        |          / n_chars * 1e6 + 0.5) / 1e6 AS es_priority
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, lang, n_chars, es_priority, sample_rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY lang
        |    ORDER BY es_priority DESC, doc_id)::INTEGER AS sample_rank
        |  FROM pr) WHERE sample_rank <= 10""".stripMargin,
    "q_approx_top_words" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split_regex(text, '\s+')) AS word
        |      FROM documents) t
        |WHERE word <> ''
        |GROUP BY word ORDER BY cnt DESC, word LIMIT 10""".stripMargin,
    "q_zipf_slope" ->
      """WITH w AS (
        |  SELECT unnest(string_split_regex(text, '\s+')) AS word
        |  FROM documents),
        |c AS (SELECT word, count(1) AS cnt FROM w WHERE word <> ''
        |      GROUP BY 1),
        |top AS (SELECT word, cnt FROM c
        |        ORDER BY cnt DESC, word ASC LIMIT 10000),
        |r AS (SELECT cnt,
        |        row_number() OVER (ORDER BY cnt DESC, word ASC) AS rank
        |      FROM top)
        |SELECT round(regr_slope(ln(cnt), ln(rank)), 6) AS zipf_slope,
        |  round(regr_intercept(ln(cnt), ln(rank)), 6) AS zipf_intercept,
        |  count(1) AS n_words
        |FROM r""".stripMargin,
    "q_char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS c
        |  FROM documents WHERE length(text) > 0),
        |cnt AS (SELECT doc_id, c, count(1) AS n FROM ch GROUP BY 1, 2),
        |tot AS (SELECT doc_id, sum(n)::DOUBLE AS t FROM cnt GROUP BY 1)
        |SELECT cnt.doc_id,
        |  round(-sum((n / t) * log2(n / t)), 6) AS char_entropy
        |FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id
        |GROUP BY 1""".stripMargin,
  )
}
