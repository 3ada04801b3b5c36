package graft.operators

import graft.core.Checkpoints
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, and SimHash near-dup.
  *
  * Scale design (the whole point at 100 TB):
  *  - every pair-finding op is a candidate-generation JOIN on a bucket
  *    key (shingle, LSH band, simhash block) — never an O(n²) cross
  *    product;
  *  - shingling/hashing is one codegen'd pass (higher-order array
  *    functions + md5-derived portable hashes), no UDFs;
  *  - candidate verification is bounded by bucket size; ultra-frequent
  *    shingles can be capped (`maxShingleFreq`) to stop the classic
  *    stopword-shingle join blowup — the frequency cap is itself a
  *    distributed groupBy, not a driver-side filter.
  *
  * The candidate-generate/verify split follows the standard distributed
  * similarity-join structure (cf. V-SMART-Join, VLDB 2012: per-element
  * inverted-index joins for all-pair multiset similarity on MapReduce).
  *
  * The reference has no dedup operators (SURVEY.md §2: its only example
  * workload is word count); this is extension surface per the north star.
  *
  * MATERIALIZATION POLICY (applies to every operator below whose doc
  * says "construction runs Spark jobs"): multi-consumer intermediates
  * (shingle/fingerprint tables) are pinned with LAZY
  * `localCheckpoint(false)` rather than `cache()`. Consequences
  * callers must know: (1) under AQE, *building* the returned DataFrame
  * already runs the upstream Spark jobs — this is not a plan-only
  * constructor; (2) lineage is truncated onto unreplicated executor
  * blocks, so a lost executor FAILS the query (caller retries) instead
  * of recomputing — the deliberate trade for GC-freed blocks with no
  * session-lifetime CacheManager pin (EngineSweepSpec enforces the
  * pairing). Callers needing plan-only construction or executor-loss
  * resilience should use the `*FromShingles` composed forms and manage
  * caching themselves.
  */
object Dedup {

  /** The session's configured shuffle partition count — what
    * ENSURE_REQUIREMENTS would give an exchange; used to PIN exchanges
    * beneath fanout-heavy operators out of AQE coalescing's reach
    * (coalescing sizes on the exchange INPUT and cannot see a
    * 100x explode above it — see [[editDistancePairs]]). */
  private def numShufflePartitions(df: DataFrame): Int =
    df.sparkSession.sessionState.conf.numShufflePartitions

  /** Distinct word n-gram shingles per row: (id, shingle). Tokens are
    * materialized per row before n-gramming (see TextAnalysis.wordNgrams
    * scaladoc — the fused expression re-tokenizes per element). */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"), col(textCol).as("__txt"))
      .select(col("id"), TextAnalysis.tokens(col("__txt")).as("__toks"))
      .select(col("id"),
        explode(array_distinct(TextAnalysis.ngramsFromTokens(col("__toks"), n))).as("shingle"))

  /** Exact dedup by content fingerprint: one row per distinct (normalized)
    * text with the smallest surviving id and the duplicate count.
    * Single hash-shuffle on the fingerprint; at scale this is the
    * cheapest possible exact dedup (no sort, map-side partial agg). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(TextAnalysis.md5Fingerprint(col(textCol)).as("fp_md5"), col(idCol))
      .groupBy(col("fp_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Exact dedup, survivor form: the full surviving ROW per distinct
    * fingerprint (lowest id wins) — what a pipeline actually writes
    * downstream. One window over the fingerprint shuffle; ties broken
    * by id so the choice is deterministic. */
  def exactSurvivors(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__fp")).orderBy(col(idCol).asc)
    df.withColumn("__fp", TextAnalysis.md5Fingerprint(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__fp", "__rn")
  }

  /** Quality-aware canonical selection over dedup clusters — the
    * RefinedWeb keep-policy: within each near-dup cluster keep the
    * member with the HIGHEST quality score (ties: lowest id) instead
    * of [[exactSurvivors]]' lowest-id rule, so a dedup pass preserves
    * the best-written copy rather than the first-crawled one.
    * `clusters` is any (id, cluster) assignment (e.g.
    * [[connectedComponents]] output); `quality` is (id, score) from
    * any scorer (doc length, Gopher battery, a trained classifier).
    *
    * Scale shape: one id-keyed equi-join plus one cluster-keyed
    * aggregation whose per-group state is a single `max_by` struct —
    * no window, no sort, driver state O(1). Output: one row per
    * cluster (kept id, its score, member/dropped counts). */
  def keepBestPerCluster(clusters: DataFrame, quality: DataFrame,
      idCol: String, clusterCol: String, scoreCol: String): DataFrame =
    clusters.join(quality, Seq(idCol))
      .groupBy(col(clusterCol))
      .agg(
        // max over (score, ~id) == highest score, lowest id on ties;
        // ~id = -id - 1 cannot overflow where -id does (Long.MinValue)
        max_by(col(idCol),
          struct(col(scoreCol), bitwise_not(col(idCol)).as("__notid"))).as("keep_id"),
        max(col(scoreCol)).as("keep_score"),
        count(lit(1)).as("n_members"))
      .withColumn("n_dropped", col("n_members") - 1)

  /** Line-level corpus dedup — the C4/RefinedWeb rewrite step: any LINE
    * (newline-delimited) that occurs verbatim in more than one place
    * across the whole corpus is kept only at its FIRST occurrence
    * (lowest `(id, pos)`), removed everywhere else, and each document
    * is reassembled from its surviving lines in original order. Lines
    * shorter than `minChars` are structural (headings, blanks,
    * separators) and always kept — deduping them would shred every
    * document the same way C4's authors found before adding the same
    * guard. Output: `(id, text_dedup, n_lines, n_removed)` — one row
    * per input document, including documents that lose every line
    * (empty `text_dedup`), so downstream joins stay total.
    *
    * Scale shape: one `posexplode` per document; the duplicate decision
    * is a single aggregation keyed on `md5(line)` (map-side combined —
    * frequency and first-occurrence `min(struct(id, pos))` in the same
    * pass) joined back on the same 32-char hash key, so the wide line
    * strings never shuffle twice; reassembly is one `id`-keyed
    * aggregation with a per-document `sort_array` fold (bounded by
    * lines-per-doc, no window). NO broadcast hint on the frequency
    * join: the distinct-line table is corpus-sized at web scale (the
    * [[TextAnalysis.tfidfWeights]] vocabulary reasoning); AQE
    * broadcasts it only when it genuinely fits. */
  def lineLevelDedup(df: DataFrame, idCol: String, textCol: String,
      minChars: Int = 10): DataFrame = {
    // NO read-side fan-out here, by same-box A/B measurement: the line
    // split + md5 is too cheap per row to repay 32-way staging of the
    // frequency aggregation and the join back (q_line_dedup measured
    // 1.83× SLOWER fanned, anchors ~1.15; contrast the kgram/winnow
    // paths, whose per-row scans are real CPU and keep their fan-out).
    val lines = df.select(col(idCol).as("id"), col(textCol).as("__raw"))
      .select(col("id"),
        posexplode(split(col("__raw"), "\n")).as(Seq("pos", "line")))
    val tagged = lines.withColumn("__h",
      when(length(col("line")) >= minChars, md5(col("line").cast("binary"))))
    val freq = tagged.where(col("__h").isNotNull)
      .groupBy(col("__h"))
      .agg(min(struct(col("id"), col("pos"))).as("__first"),
        count(lit(1)).as("__c"))
    tagged
      // null __h (short lines) never matches — those rows pass through kept
      .join(freq, Seq("__h"), "left")
      .withColumn("__kept", col("__h").isNull || col("__c") === 1 ||
        (col("__first.id") === col("id") && col("__first.pos") === col("pos")))
      .groupBy(col("id"))
      .agg(
        concat_ws("\n",
          transform(
            sort_array(collect_list(
              when(col("__kept"), struct(col("pos"), col("line"))))),
            x => x("line"))).as("text_dedup"),
        count(lit(1)).as("n_lines"),
        sum(when(col("__kept"), 0L).otherwise(1L)).as("n_removed"))
  }

  /** Boilerplate line stripping — the CCNet/RefinedWeb rule that is NOT
    * dedup: a line appearing in more than `maxDocFreq` DISTINCT
    * documents (nav menus, cookie banners, terms-of-service footers) is
    * template machinery, not content, and is removed from EVERY
    * document — including the first occurrence, which is what separates
    * this from [[lineLevelDedup]] (where the first occurrence is
    * legitimate content that survives). Lines shorter than `minChars`
    * pass through untouched (the [[lineLevelDedup]] guard: structural
    * markers aren't boilerplate evidence).
    *
    * Shape: one explode, one distinct-doc count per line hash (a single
    * distinct aggregate — two-phase hash aggregation, no Expand), one
    * hash join of the lines against the bounded offender set (no
    * broadcast hint — at web scale the offender table can be large;
    * AQE broadcasts when it fits), one id-keyed reassembly. Output:
    * `id`, `text_clean`, `n_lines`, `n_removed`. */
  def stripBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
      maxDocFreq: Int, minChars: Int = 10): DataFrame = {
    require(maxDocFreq >= 1, "need maxDocFreq >= 1")
    val lines = df.select(col(idCol).as("id"),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val tagged = lines.withColumn("__h",
      when(length(col("line")) >= minChars, md5(col("line").cast("binary"))))
    val boiler = tagged.where(col("__h").isNotNull)
      .groupBy(col("__h"))
      .agg(countDistinct(col("id")).as("__df"))
      .filter(col("__df") > maxDocFreq)
      .select(col("__h"), lit(1).as("__b"))
    tagged.join(boiler, Seq("__h"), "left")
      .withColumn("__kept", col("__b").isNull)
      .groupBy(col("id"))
      .agg(
        concat_ws("\n",
          transform(
            sort_array(collect_list(
              when(col("__kept"), struct(col("pos"), col("line"))))),
            x => x("line"))).as("text_clean"),
        count(lit(1)).as("n_lines"),
        sum(when(col("__kept"), 0L).otherwise(1L)).as("n_removed"))
  }

  /** Distinct line-hash index of a corpus — the persistable side of
    * incremental line dedup: one `(h)` row per distinct dedupable line
    * (md5, `minChars`+ chars). Write it bucketed on `h`
    * (`Sinks.writeBucketed`) and grow it with `appendBucketed`; each
    * ingest batch then joins the STORED index instead of re-exploding
    * the corpus ([[lineLevelCrossDedup]]). One explode + one
    * distinct-aggregation on the hash key. */
  def lineHashIndex(df: DataFrame, idCol: String, textCol: String,
      minChars: Int = 10): DataFrame =
    df.select(explode(split(col(textCol), "\n")).as("line"))
      .where(length(col("line")) >= minChars)
      .select(md5(col("line").cast("binary")).as("h"))
      .distinct()

  /** Incremental (batch-vs-corpus) line dedup: lines of the new batch
    * that already exist in the corpus line index are removed; within a
    * DOCUMENT a repeated line keeps its first occurrence. Deliberately
    * NO cross-document dedup inside the batch: each output row is a
    * pure function of its own document and the stored index, which
    * makes the operator micro-batching-invariant (the streaming twin's
    * contract — same reasoning as the pair-emitting incremental dedup
    * ops), and batch-internal cross-doc dups are caught on the next
    * index append anyway.
    *
    * Shape: one explode per batch doc, one keyed window on
    * `(id, line-hash)` for within-doc firsts, one hash join against
    * the bucketed index (batch side shuffles; the stored side is
    * pre-bucketed on `h`), one id-keyed reassembly. NO broadcast hint
    * on the index join — a web-corpus line index is enormous; AQE
    * broadcasts only when it fits. */
  def lineLevelCrossDedup(batch: DataFrame, corpusIndex: DataFrame,
      idCol: String, textCol: String, minChars: Int = 10): DataFrame = {
    val lines = batch.select(col(idCol).as("id"),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val tagged = lines.withColumn("__h",
      when(length(col("line")) >= minChars, md5(col("line").cast("binary"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id"), col("__h")).orderBy(col("pos"))
    // distinct BEFORE the join: each append writes its batch's distinct
    // hashes, so a grown index can hold the same h twice — joining the
    // raw rows would multiply matched lines (caught by the lifecycle
    // spec). On an h-bucketed index the distinct needs no exchange.
    tagged.withColumn("__rn", row_number().over(w))
      .join(corpusIndex.select(col("h").as("__h")).distinct()
          .withColumn("__seen", lit(1)),
        Seq("__h"), "left")
      .withColumn("__kept", col("__h").isNull ||
        (col("__seen").isNull && col("__rn") === 1))
      .groupBy(col("id"))
      .agg(
        concat_ws("\n",
          transform(
            sort_array(collect_list(
              when(col("__kept"), struct(col("pos"), col("line"))))),
            x => x("line"))).as("text_dedup"),
        count(lit(1)).as("n_lines"),
        sum(when(col("__kept"), 0L).otherwise(1L)).as("n_removed"))
  }

  /** Cross-document duplicated-n-gram fraction per document — the
    * "how much of this doc also appears elsewhere" diagnostic behind
    * exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better", which removes duplicated
    * 50-token spans; here n is a parameter and the output is a ranking
    * signal, not a rewrite). A doc whose distinct n-grams mostly occur
    * in `minDocs`+ documents is boilerplate/template material — this
    * flags it WITHOUT materializing the quadratic pair join.
    *
    * Scale shape: one shingle explode feeding a frequency aggregation
    * keyed on the shingle and a join back on the same key — shuffles on
    * the shingle key (map-side combined) and one on the doc id. The
    * frequency join carries NO broadcast hint: the n-gram vocabulary is
    * corpus-sized (the same driver-OOM reasoning as
    * [[TextAnalysis.tfidfWeights]]); AQE broadcasts it only when it
    * actually fits. The input is scanned twice (count side + join side)
    * rather than cached — at 100 TB re-running one codegen'd
    * tokenize/explode pass beats pinning the exploded shingle table in
    * memory. Docs shorter than n tokens surface with zero counts via
    * the final left join, not silently dropped. */
  def dupNgramStats(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDocs: Long = 2L): DataFrame = {
    require(minDocs >= 2L,
      "minDocs must be >= 2: every shingle occurs in its own document")
    val sh = shingles(df, idCol, textCol, n)
    // distinct per doc (shingles() distincts), so count(1) == doc frequency
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
    val perDoc = sh.join(dfreq, "shingle")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("__df") >= minDocs, lit(1L)).otherwise(lit(0L)))
          .as("n_dup_ngrams"))
    df.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("n_dup_ngrams"), lit(0L)).as("n_dup_ngrams"),
        round(when(coalesce(col("n_ngrams"), lit(0L)) === 0L, lit(0.0))
          .otherwise(col("n_dup_ngrams").cast("double") / col("n_ngrams")), 6)
          .as("dup_fraction"))
  }

  /** The substring-dedup REWRITE (Lee et al. 2022's ExactSubstr): drop
    * every token covered by an n-gram that occurs ≥ `minOccurrences`
    * times ANYWHERE in the corpus (other docs or the same doc), and
    * rebuild each document from the surviving tokens. Overlapping
    * duplicated spans merge by position-set union, so the rewrite is
    * well-defined regardless of how spans nest. Unlike
    * [[dupNgramStats]] (a per-doc ranking SIGNAL), this is the
    * transformation itself — the output corpus has every shared span
    * excised once per occurrence.
    *
    * Entirely integer/string arithmetic — no floats anywhere, so the
    * oracle compares full value equality, not rounded hashes.
    *
    * Scale shape: positional n-gram explode → occurrence count keyed on
    * the n-gram (map-side combined, NO broadcast hint — corpus-sized
    * vocabulary) → join back → per-dup-gram coverage explode (≤ n rows
    * each) → distinct + anti-join on (doc, position) → one per-doc
    * bounded `sort_array(collect_list)` rebuild (array size = doc
    * length, the same bound every tokenizer op here already carries).
    * No pair join and no window; every shuffle key is (gram) or
    * (doc, pos). Token positions ride through the SAME explode that
    * builds the grams, so the corpus is tokenized twice total (gram
    * side + rebuild side), scanned, never cached. */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int, minOccurrences: Long = 2L): DataFrame = {
    val (toked, starts) = dupGramStarts(df, idCol, textCol, n, minOccurrences)
    val covered = starts
      .select(col("id"),
        explode(sequence(col("gpos"), col("gpos") + (n - 1))).as("pos"))
      .distinct()
    val toks = toked
      .select(col("id"), posexplode(col("__toks")))
      .select(col("id"), (col("pos") + 1).as("pos"), col("col").as("tok"))
    val kept = toks.join(covered, Seq("id", "pos"), "left_anti")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          sort_array(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok"))).as("clean_text"))
    df.select(col(idCol).as("id"),
        size(TextAnalysis.tokens(col(textCol))).cast("long").as("__n"))
      .join(kept, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__n") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Shared kernel of the span family: `(toked, starts)` where `toked`
    * is `(id, __toks)` and `starts` the `(id, gpos)` 1-based start
    * positions of every n-gram occurring ≥ `minOccurrences` times
    * anywhere in the corpus (within-doc repeats included). One
    * position per row — the per-position COVERAGE explode is derived
    * from this only where needed ([[removeDuplicateSpans]]'s
    * anti-join); span extraction merges the `[gpos, gpos+n−1]`
    * intervals directly, n× fewer rows. */
  private def dupGramStarts(df: DataFrame, idCol: String, textCol: String,
      n: Int, minOccurrences: Long): (DataFrame, DataFrame) = {
    require(minOccurrences >= 2L,
      "minOccurrences must be >= 2: every n-gram occurs at least once")
    val toked = df.select(col(idCol).as("id"),
      TextAnalysis.tokens(col(textCol)).as("__toks"))
    // positional grams, NON-distinct: within-doc repeats are duplicates
    // too (a doc that repeats its own span gets every occurrence cut)
    val grams = toked
      .select(col("id"), posexplode(
        TextAnalysis.ngramsFromTokens(col("__toks"), n)))
      .select(col("id"), (col("pos") + 1).as("gpos"), col("col").as("gram"))
    val freq = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("__occ"))
      .filter(col("__occ") >= minOccurrences)
    (toked, grams.join(freq, "gram").select(col("id"), col("gpos")))
  }

  /** Maximal spans from duplicated-gram START positions: per doc, the
    * sorted starts fold into merged `[g, g+n−1]` intervals (overlap or
    * adjacency ⟺ `g ≤ prev_end + 1`) — the islands of the position
    * UNION without ever materializing it: no per-position explode, no
    * per-position distinct shuffle; rows entering the per-doc fold are
    * duplicated-gram COUNTS, n× fewer than covered positions. Output
    * `(id, span_start, span_end)`, ints. */
  private def spansFromGramStarts(starts: DataFrame, n: Int): DataFrame =
    starts
      .groupBy(col("id")).agg(sort_array(collect_list(col("gpos"))).as("__gs"))
      .select(col("id"), explode(expr(
        s"""aggregate(__gs, cast(array() as array<struct<s:int,e:int>>),
           |  (acc, g) -> CASE
           |    WHEN size(acc) > 0 AND g <= element_at(acc, -1).e + 1
           |    THEN concat(slice(acc, 1, size(acc) - 1),
           |      array(named_struct('s', element_at(acc, -1).s,
           |                         'e', g + ${n - 1})))
           |    ELSE concat(acc,
           |      array(named_struct('s', g, 'e', g + ${n - 1}))) END)"""
          .stripMargin)).as("__iv"))
      .select(col("id"), col("__iv.s").as("span_start"),
        col("__iv.e").as("span_end"))

  /** VARIABLE-LENGTH duplicated-span extraction — the Lee et al.
    * ExactSubstr span view at token granularity: every MAXIMAL run of
    * token positions covered by corpus-duplicated `minLen`-grams,
    * emitted as `(id, span_start, span_end, span_len, span_text)`
    * (1-based inclusive positions). Spans are variable-length by
    * construction: a 40-token duplicated region surfaces as ONE 40-token
    * span, not a pile of fixed-n grams.
    *
    * Why fixed-n coverage is EXACT here, not an approximation (this is
    * the precise claim the fixed-n rewrite was missing): at token
    * granularity, a position lies inside a duplicated run of length ≥
    * `minLen` ⟺ it is covered by at least one duplicated `minLen`-gram —
    * (⇐) the gram is itself such a run; (⇒) any position of a length-s
    * run (s ≥ minLen) has a `minLen`-window inside the run containing
    * it, and every substring of a duplicated run is duplicated at least
    * as often. So the coverage union equals the union of ALL duplicated
    * spans of length ≥ minLen, and its maximal runs are exactly the
    * maximal duplicated regions (adjacent/overlapping spans merge —
    * the same position-set-union semantics as the rewrite; each run is
    * ≥ minLen tokens automatically). What this deliberately does NOT
    * reproduce from the suffix-array original is sub-token (byte)
    * granularity and its global suffix order — token granularity is
    * what the rest of this engine's text surface operates at.
    *
    * Scale shape: the [[dupGramStarts]] kernel (gram-keyed equi-join,
    * no pair join), then [[spansFromGramStarts]] — intervals merged
    * from duplicated-gram START positions directly (one (id)-keyed
    * bounded fold; no per-position explode, no per-position distinct
    * shuffle); NO window anywhere (the engine-wide
    * zero-unpartitioned-window invariant), no driver state. Span text
    * rebuilds by `slice` from the doc's own token array — never
    * re-scanned, never joined to other docs. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      minLen: Int, minOccurrences: Long = 2L): DataFrame = {
    val (toked, starts) = dupGramStarts(df, idCol, textCol, minLen, minOccurrences)
    val runs = spansFromGramStarts(starts, minLen)
    runs.join(toked, Seq("id"))
      .select(col("id"), col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"),
        (col("span_end") - col("span_start") + 1).cast("long").as("span_len"),
        concat_ws(" ", slice(col("__toks"), col("span_start"),
          col("span_end") - col("span_start") + 1)).as("span_text"))
  }

  /** CHARACTER-level variable-length duplicated-span extraction — the
    * Lee et al. ExactSubstr granularity the token-level
    * [[duplicateSpans]] deliberately stops short of: maximal runs of
    * codepoint positions covered by any `minLen`-codepoint gram whose
    * fingerprint occurs ≥ `minOccurrences` times anywhere in the
    * corpus, over the winnow-normalized text (lowercased, whitespace
    * collapsed — the [[graft.operators.TextAnalysis]] winnowing
    * canonical form, so "same bytes modulo case/spacing" dedups).
    * Output `(id, span_start, span_end, span_len, span_text)`,
    * positions 1-based codepoints into the NORMALIZED string.
    *
    * Same maximality argument as [[duplicateSpans]], one granularity
    * down: a codepoint lies in a duplicated run of ≥ minLen codepoints
    * ⟺ it is covered by a duplicated minLen-gram, so the coverage
    * union's maximal islands ARE the maximal duplicated char regions
    * (adjacent/overlapping regions merge).
    *
    * Where the suffix-array original sorts the global byte space, this
    * shuffles per-position FINGERPRINTS: the dual polynomial hash
    * family of [[graft.functions.KgramHashesExpr]] (one rolling O(1)
    * hash per position, computed map-side), so the gram shuffle moves
    * 8-byte longs instead of minLen-codepoint substrings — at minLen =
    * 24 a 24× narrower shuffle, the difference between feasible and
    * not at 100 TB. "Duplicated" is therefore fingerprint equality —
    * the md5-form collision regime (~2⁻⁶⁰ per gram pair) every
    * hash-keyed dedup op here already accepts; the DuckDB oracle
    * replays the EXACT hash family (power-sum form,
    * `TextQueries.winnowPolyCtes` arithmetic), so the two engines
    * cannot diverge even when a collision fires.
    *
    * Scale shape: kgram-hash projection (codegen'd, scan-bound) →
    * one hash-keyed frequency aggregation (map-side combined) → one
    * equi-join back → per-doc bounded island fold — the
    * [[duplicateSpans]] shape with the token explode replaced by a
    * hash explode. No pair join, no window, no driver state. */
  def duplicateCharSpans(df: DataFrame, idCol: String, textCol: String,
      minLen: Int, minOccurrences: Long = 2L): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2 codepoints: $minLen")
    require(minOccurrences >= 2L,
      "minOccurrences must be >= 2: every gram occurs at least once")
    // fan-out KEPT here after a round-17 healthy-window A/B: the kgram
    // posexplode emits ~len rows per doc and the fanned form measured
    // 25% faster at 32 cores (2.58s vs 3.23s, anchors flat) — unlike
    // the incremental/index variants below, where the A/B was flat and
    // the fan-out was removed
    val norm = graft.core.Parallelism.fanOut(
        df.select(col(idCol).as("id"), col(textCol).as("__raw")))
      .select(col("id"),
        trim(regexp_replace(lower(coalesce(col("__raw"), lit(""))),
          "\\s+", " ")).as("__s"))
    val hs = norm
      .select(col("id"),
        posexplode(graft.functions.GraftFunctions.kgramHashes(col("__s"), minLen)))
      .select(col("id"), (col("pos") + 1).as("gpos"), col("col").as("h"))
    val freq = hs.groupBy(col("h"))
      .agg(count(lit(1)).as("__occ"))
      .filter(col("__occ") >= minOccurrences)
    val runs = spansFromGramStarts(
      hs.join(freq, "h").select(col("id"), col("gpos")), minLen)
    runs.join(norm, Seq("id"))
      .select(col("id"), col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"),
        (col("span_end") - col("span_start") + 1).cast("long").as("span_len"),
        expr("substring(__s, span_start, span_end - span_start + 1)")
          .as("span_text"))
  }

  /** Distinct k-gram fingerprint index of a corpus — the persistable
    * side of incremental char-span dedup, the [[lineHashIndex]]
    * lifecycle at gram granularity: one `(h)` row per distinct
    * position fingerprint of the winnow-normalized corpus text. Write
    * it bucketed on `h` ([[graft.sources.Sinks.writeBucketed]]), grow
    * it with `appendBucketed` (append ≡ rebuild — the index is a
    * distinct set, so unioning a batch's grams commutes with
    * recomputing from the union). One projection + one hash-keyed
    * distinct aggregation; 8 bytes per distinct gram. */
  def charGramIndex(df: DataFrame, idCol: String, textCol: String,
      minLen: Int): DataFrame = {
    df.select(col(textCol).as("__raw"))
      .select(
        explode(graft.functions.GraftFunctions.kgramHashes(
          trim(regexp_replace(lower(coalesce(col("__raw"), lit(""))),
            "\\s+", " ")), minLen)).as("h"))
      .distinct()
  }

  /** Incremental (batch-vs-corpus) char spans: maximal runs of a batch
    * document's codepoints covered by grams ALREADY IN the stored
    * corpus index — "which parts of this crawl batch repeat content the
    * corpus has seen". Output shape = [[duplicateCharSpans]].
    *
    * Each output row is a pure function of its own document and the
    * stored index — no within-batch cross-doc detection (deliberate:
    * the [[lineLevelCrossDedup]] micro-batching-invariance contract;
    * batch-internal duplication is caught on the next index append).
    * Plan: batch pays its own kgram scan; coverage is one equi-join of
    * batch gram hashes against the pre-bucketed index (the batch side
    * shuffles 8-byte hashes, the stored side is bucket-aligned), then
    * the per-doc island fold. */
  def duplicateCharSpansAgainst(batch: DataFrame, corpusIndex: DataFrame,
      idCol: String, textCol: String, minLen: Int): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2 codepoints: $minLen")
    val norm = batch.select(col(idCol).as("id"), col(textCol).as("__raw"))
      .select(col("id"),
        trim(regexp_replace(lower(coalesce(col("__raw"), lit(""))),
          "\\s+", " ")).as("__s"))
    val hs = norm
      .select(col("id"),
        posexplode(graft.functions.GraftFunctions.kgramHashes(col("__s"), minLen)))
      .select(col("id"), (col("pos") + 1).as("gpos"), col("col").as("h"))
    val runs = spansFromGramStarts(
      hs.join(corpusIndex.select(col("h")), Seq("h"), "left_semi")
        .select(col("id"), col("gpos")), minLen)
    runs.join(norm, Seq("id"))
      .select(col("id"), col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"),
        (col("span_end") - col("span_start") + 1).cast("long").as("span_len"),
        expr("substring(__s, span_start, span_end - span_start + 1)")
          .as("span_text"))
  }

  /** Exact n-gram Jaccard similarity join: pairs (a, b) ([[Pairs]] order) with
    * `|A∩B| / |A∪B| >= threshold` over distinct word n-gram shingles.
    *
    * Candidate pairs come from an equi-join on the shingle itself, so
    * only pairs sharing at least one shingle are ever materialized.
    * `maxShingleFreq` (0 = off) drops shingles appearing in more than
    * that many docs from CANDIDATE GENERATION only, bounding join
    * fanout. NOTE the cap can lose recall: the intersection is counted
    * over CAPPED shingles while set sizes stay uncapped, so the score
    * underestimates for pairs whose overlap is concentrated in capped
    * (ultra-common) shingles, and a true pair just above `threshold`
    * can be dropped. In practice near-dup overlap is spread across many
    * shingles and the cap only removes stopword-like ones, but this is
    * a heuristic, not a guarantee — for exactness run uncapped, or use
    * [[ngramJaccardPairsPrefix]] which is lossless by construction.
    * (The oracle-checked query runs uncapped.) Construction runs Spark jobs (lazy internal
    * localCheckpoint — see the object scaladoc's MATERIALIZATION POLICY
    * for the lineage/retry trade).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxShingleFreq: Long = 0L): DataFrame = {
    // shingles feed three consumers (counts + both join sides); lazy
    // localCheckpoint so the tokenize/explode scan runs once, not three
    // times — blocks freed on GC, no session-lifetime CacheManager pin
    // (the lexicalTopK lifecycle rule, swept by EngineSweepSpec)
    val sh = shingles(df, idCol, textCol, n).localCheckpoint(false)
    val capped =
      if (maxShingleFreq <= 0) sh
      else {
        val freq = sh.groupBy("shingle").agg(count(lit(1)).as("df_freq"))
          .filter(col("df_freq") <= maxShingleFreq).select("shingle")
        sh.join(freq, "shingle")
      }
    val counts = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val inter = Pairs.self(capped, "id", Seq("shingle"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    Pairs.withSides(inter, counts, counts, "id", "n_sh")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_sh_a") + col("n_sh_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Prefix-filtered exact n-gram Jaccard join — same results as
    * [[ngramJaccardPairs]] (lossless for the given threshold), far fewer
    * candidate pairs.
    *
    * Standard prefix-filtering (cf. Bayardo et al. WWW'07 / SSJoin):
    * under ANY fixed total order on shingles, two sets with
    * J(A,B) >= t must share an element within their first
    * `floor((1-t)|X|) + 1` elements. So candidates come from an
    * equi-join on PREFIX shingles only (~(1-t) of the rows), plus the
    * length filter `t·|B| <= |A|`; only surviving pairs pay the exact
    * intersection count.
    *
    * The global order is ASCENDING document frequency (tie-break
    * lexicographic): prefixes then hold each set's RAREST shingles, so
    * prefix-join buckets stay small even on low-entropy corpora —
    * lexicographic order degenerates exactly there (measured 6x slower
    * than the naive join on the small-vocab test corpus; frequency
    * order is ~4x faster). Any fixed order is lossless; the order only
    * changes pruning power. Construction runs Spark jobs (lazy internal
    * localCheckpoint — see the object scaladoc's MATERIALIZATION POLICY
    * for the lineage/retry trade).
    */
  def ngramJaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // shingles feed the frequency count, the prefix ranking, and both
    // sides of the exact-intersection join — lazy localCheckpoint so
    // the tokenize/explode scan of the corpus runs once, not four
    // times; freed on GC (the lexicalTopK lifecycle rule)
    val sh = shingles(df, idCol, textCol, n).localCheckpoint(false)
    val freq = sh.groupBy("shingle").agg(count(lit(1)).as("df_freq"))
    val wDoc = Window.partitionBy(col("id"))
    val wRank = wDoc.orderBy(col("df_freq").asc, col("shingle").asc)
    // prefix length |X| - ceil(t|X|) + 1, computed as
    // floor((1-t)|X| + eps) + 1: the epsilon compensates binary-fraction
    // error in (1-t) — floor(0.19999...96 * 50) = 9 would silently
    // shorten the prefix by one and LOSE true pairs (caught by the
    // sf0.1 oracle); erring long is merely less pruning, never wrong
    val prefix = sh.join(freq, "shingle")
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n_sh", count(lit(1)).over(wDoc))
      .filter(col("rn") <=
        (floor(lit(1.0 - threshold) * col("n_sh") + lit(1e-9)) + 1).cast("int"))
      .select(col("id"), col("n_sh"), col("shingle"))
      // both sides of the candidate self-join. Checkpoint (not
      // ReuseExchange-unpersisted like minHash/simHash): the subtree
      // ends in a ranking WINDOW, which would replay its sort per
      // consumer. Known trades, deliberate: building this frame
      // materializes the upstream stages (lazy checkpoint + AQE), and
      // the truncated lineage means a lost executor fails the query
      // for the caller to retry instead of recomputing — see
      // EngineSweepSpec's contract note.
      .localCheckpoint(false)
    val (na, nb) = (col("n_sh_a"), col("n_sh_b"))
    val cands = Pairs.self(prefix, "id", Seq("shingle"), "n_sh")
      // same epsilon on the length filter: t*nb can exceed the exact
      // rational t·nb by an ulp and reject a boundary-sized true pair
      .filter(na >= lit(threshold) * nb - lit(1e-9) &&
        nb >= lit(threshold) * na - lit(1e-9))
      .select("a", "b", "n_sh_a", "n_sh_b").distinct()
    // verify by per-pair array intersection rather than re-exploding the
    // shingle table into a second equi-join: candidates are few, arrays
    // are doc-sized, and one hash-set intersection per pair beats two
    // shuffle joins + a groupBy over exploded rows (measured ~40% off
    // the whole pair join; counts identical)
    val arrays = sh.groupBy("id").agg(collect_list(col("shingle")).as("arr"))
    Pairs.withSides(cands, arrays, arrays, "id", "arr")
      .withColumn("inter", size(array_intersect(col("arr_a"), col("arr_b"))))
      .withColumn("jaccard", col("inter").cast("double") / (na + nb - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Incremental (cross-corpus) n-gram Jaccard join: pairs
    * (left_id, right_id) with J >= threshold where the sides come from
    * DIFFERENT corpora — the shape of deduplicating a NEW ingest batch
    * against an existing 100 TB corpus. Only cross pairs are generated
    * (the equi-join key is the shingle, sides never self-join), so each
    * incremental run costs |batch shingles| ⋈ |corpus shingles| on the
    * bucket key — not a full re-dedup of the corpus. At scale the
    * corpus side's shingle table is the thing to persist between runs.
    * An id on both sides is not paired with itself ([[Pairs]]).
    * Construction runs Spark jobs (lazy internal
    * localCheckpoint — see the object scaladoc's MATERIALIZATION POLICY
    * for the lineage/retry trade).
    */
  def crossJaccardPairs(left: DataFrame, right: DataFrame,
      idCol: String, textCol: String, n: Int, threshold: Double): DataFrame =
    crossJaccardPairsFromShingles(
      shingles(left, idCol, textCol, n).localCheckpoint(false),
      shingles(right, idCol, textCol, n).localCheckpoint(false),
      threshold)

  /** [[crossJaccardPairs]] over PRE-SHINGLED (id, shingle) sides — the
    * caller owns caching and lifecycle: the streaming path unpersists
    * its batch side after every trigger (an internal cache would leak
    * one pinned entry per micro-batch forever), and a production
    * pipeline passes the corpus's PERSISTED shingle table here instead
    * of re-shingling per run. Each side feeds two consumers (its count
    * and its join side), so uncached inputs are computed twice. */
  def crossJaccardPairsFromShingles(lsh: DataFrame, rsh: DataFrame,
      threshold: Double): DataFrame = {
    def sizes(sh: DataFrame) = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = Pairs.cross(lsh, rsh, "id", Seq("shingle"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    Pairs.withSides(inter, sizes(lsh), sizes(rsh), "id", "n")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a").as("left_id"), col("b").as("right_id"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** [[crossJaccardPairsFromShingles]] with the RIGHT (corpus) side
    * bloom-pruned by the LEFT (batch) side's shingles first — the
    * incremental-dedup shape at 100 TB: the batch is small, the corpus
    * is not, and most corpus docs share no shingle with the batch.
    *
    * Pruning is at DOC granularity so results are identical: the bloom
    * pass keeps every corpus doc sharing ≥1 shingle with the batch (no
    * false negatives by construction), then the survivors' FULL shingle
    * sets flow into the exact join — Jaccard denominators are computed
    * on unpruned sets, and docs wrongly admitted by bloom false
    * positives simply produce no qualifying pairs. The corpus scan is
    * filtered by a codegen'd bitset probe instead of shuffling into the
    * join; only |candidate docs| × |their shingles| rows shuffle.
    * Requires threshold > 0 (at 0 every cross pair qualifies and
    * pruning would be wrong — enforced). */
  def crossJaccardPairsBloomPruned(lsh: DataFrame, rsh: DataFrame,
      threshold: Double, expectedItems: Long = 1000000L,
      numBits: Long = 8L * 1024 * 1024): DataFrame = {
    require(threshold > 0.0, "bloom pruning requires threshold > 0")
    val bf = BloomPrune.keyFilter(lsh, "shingle", expectedItems, numBits)
    if (bf == null) return crossJaccardPairsFromShingles(lsh, rsh.limit(0), threshold)
    val candidateIds = rsh
      .filter(graft.functions.GraftFunctions.bloomProbe(xxhash64(col("shingle")), bf))
      .select("id").distinct()
    crossJaccardPairsFromShingles(lsh, rsh.join(candidateIds, "id"), threshold)
  }

  /** Containment near-dup join: pairs (a, b) ([[Pairs]] order) where
    * `|A∩B| / min(|A|,|B|)` >= threshold over distinct word n-gram
    * shingles — i.e. the SMALLER set is mostly inside the larger one.
    * Catches subset duplicates (a doc quoted or embedded wholesale in
    * a longer one) that symmetric Jaccard misses: a 100-shingle doc
    * fully contained in a 1000-shingle doc has J = 0.1 but
    * containment = 1.0. Same candidate-generation join as
    * [[ngramJaccardPairs]] (equi-join on the shingle), so the cost
    * profile and 100 TB behavior are identical. Construction runs Spark jobs (lazy internal
    * localCheckpoint — see the object scaladoc's MATERIALIZATION POLICY
    * for the lineage/retry trade). */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    val sh = shingles(df, idCol, textCol, n).localCheckpoint(false)
    val counts = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val inter = Pairs.self(sh, "id", Seq("shingle"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    Pairs.withSides(inter, counts, counts, "id", "n_sh")
      .withColumn("containment",
        col("inter").cast("double") / least(col("n_sh_a"), col("n_sh_b")))
      .filter(col("containment") >= threshold)
      .select(col("a"), col("b"), round(col("containment"), 6).as("containment"))
  }

  /** Prefix-filtered containment join — same results as
    * [[containmentPairs]] (lossless), far fewer candidates.
    *
    * One-sided prefix filtering: if `|A∩B| >= t·min(|A|,|B|)`, then
    * writing S for the smaller set, the intersection must touch S's
    * first `|S| - ceil(t|S|) + 1` shingles under any fixed global
    * order — were all shared shingles outside that prefix, at most
    * `ceil(t|S|) - 1 < t·|S|` could be shared (pigeonhole). Unlike the
    * Jaccard prefix join, the partner side has NO length bound (a tiny
    * doc can be contained in a huge one), so prefixes join against the
    * FULL shingle table, not against other prefixes. The global order
    * is ascending document frequency, so prefixes hold each set's
    * rarest shingles and join buckets stay small. Construction runs Spark jobs (lazy internal
    * localCheckpoint — see the object scaladoc's MATERIALIZATION POLICY
    * for the lineage/retry trade). */
  def containmentPairsPrefix(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = shingles(df, idCol, textCol, n).localCheckpoint(false)
    val freq = sh.groupBy("shingle").agg(count(lit(1)).as("df_freq"))
    val wDoc = Window.partitionBy(col("id"))
    val wRank = wDoc.orderBy(col("df_freq").asc, col("shingle").asc)
    // prefix length |X| - ceil(t|X|) + 1; the epsilon inside ceil
    // compensates binary-fraction error in t|X| — rounding ceil UP
    // would shorten the prefix and silently lose true pairs, rounding
    // long merely prunes less
    val prefix = sh.join(freq, "shingle")
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n_sh", count(lit(1)).over(wDoc))
      .filter(col("rn") <=
        (col("n_sh") - ceil(lit(threshold) * col("n_sh") - lit(1e-9)) + 1).cast("int"))
      .select(col("id").as("pa"), col("shingle"))
    val cands = prefix
      .join(sh.select(col("id").as("fb"), col("shingle")), Seq("shingle"))
      .filter(col("pa") =!= col("fb"))
      .select(least(col("pa"), col("fb")).as("a"),
        greatest(col("pa"), col("fb")).as("b"))
      .distinct()
    // same array-intersection verify as ngramJaccardPairsPrefix — one
    // hash-set intersection per candidate pair, no re-explode
    val arrays = sh.groupBy("id")
      .agg(collect_list(col("shingle")).as("arr"),
        count(lit(1)).as("n_sh"))
    Pairs.withSides(cands, arrays, arrays, "id", "arr", "n_sh")
      .withColumn("inter", size(array_intersect(col("arr_a"), col("arr_b"))))
      .withColumn("containment",
        col("inter").cast("double") / least(col("n_sh_a"), col("n_sh_b")))
      .filter(col("containment") >= threshold)
      .select(col("a"), col("b"), round(col("containment"), 6).as("containment"))
  }

  /** Connected components over a near-dup pair list: every id (from
    * `allIds`) labeled with the smallest id reachable through pairs —
    * the clustering step that turns pairwise matches into dedup groups
    * (keep `cluster_rep`, drop the rest).
    *
    * Iterative min-label propagation: each round, a node takes the min
    * of its own label and its neighbors' labels; converges in
    * O(component diameter) rounds — near-dup clusters are shallow, and
    * `maxIters` bounds the worst case. Each round is one join + one
    * aggregation, all distributed; convergence is checked with a count
    * action on changed labels. The rounds run on
    * [[graft.core.Checkpoints.fixpoint]] (its scaladoc states the round
    * contract), with the cached edge list as the loop constant.
    *
    * If `maxIters` is exhausted before convergence (a component with
    * diameter > maxIters), the labels are PARTIAL — over-segmented
    * clusters. That is a correctness hazard for callers, so it throws
    * rather than returning silently-wrong labels; raise `maxIters` for
    * deep graphs (near-dup clusters are shallow, diameter 1-2).
    */
  def connectedComponents(allIds: DataFrame, pairs: DataFrame,
      maxIters: Int = 20): DataFrame = {
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      .cache()
    // Iterate ONLY over nodes that touch an edge — in a near-dup graph
    // the overwhelming majority of ids are isolated (at 100 TB, pairs
    // are sparse relative to the corpus), and isolated nodes are their
    // own trivial component. They rejoin via one left join at the end,
    // so per-iteration work is O(|edge endpoints|), not O(|corpus|).
    val nodes = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"),
        lit(false).as("__changed"))
    // Every edge node has >= 1 neighbor, so neighborMin covers all of
    // `ls` and the join is inner; the changed flag is computed in the
    // same pass (no separate old-vs-new compare join per iteration).
    def propagate(ls: DataFrame): DataFrame = {
      val neighborMin = edges
        .join(ls.select(col("id").as("dst"), col("label")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("label")).as("nbr_label"))
      ls.select(col("id"), col("label")).join(neighborMin, Seq("id"))
        .select(col("id"),
          least(col("label"), col("nbr_label")).as("label"),
          (col("nbr_label") < col("label")).as("__changed"))
    }
    // single-step propagation per checkpoint + convergence check.
    // (A two-step variant — propagate twice, check once — was tried
    // and REVERTED: the un-checkpointed intermediate is consumed by
    // two operators in the outer step, and under AQE the duplicated
    // subtree does not reliably hit exchange reuse, producing
    // heavy-tailed reruns of the whole pair plan. Near-dup graphs
    // converge in 2-3 rounds; the saved count action isn't worth the
    // tail.)
    val labels = Checkpoints.fixpoint[Long](nodes, maxIters, edges)(propagate)(
      start = _ => (0L, false), // every initial label is unchanged
      test = { (_, _, next) =>
        val changed = next.filter(col("__changed")).count()
        (changed, changed == 0L)
      },
      notConverged = changed =>
        s"connectedComponents did not converge in $maxIters iterations " +
        s"($changed labels still changing) — partial labels would " +
        "over-segment clusters; raise maxIters for deep components")
    allIds.select(col("id"))
      .join(labels.select(col("id"), col("label")), Seq("id"), "left_outer")
      .select(col("id").as("doc_id"),
        coalesce(col("label"), col("id")).as("cluster_rep"))
  }

  /** Incremental cluster maintenance: absorb a new batch into a STORED
    * `(doc_id, cluster_rep)` labeling without re-running components
    * over the corpus's full pair set — the append half of the
    * clustering lifecycle (the banded dedup indexes' append≡rebuild
    * discipline, applied to the clustering itself).
    *
    * Why it is EXACT: a stored component collapses to a star around its
    * representative, and a star is connectivity-equivalent to the pair
    * subgraph it replaced. So components of
    * star edges ∪ batch-internal pairs ∪ batch↔corpus cross pairs
    * equal components of the full pair set over corpus ∪ batch — and
    * the canonical min-id label is a pure function of the component,
    * so the output is IDENTICAL to a from-scratch rebuild (one oracle
    * serves both; a batch doc bridging two stored clusters correctly
    * merges them under the global min label).
    *
    * Why it is the 100 TB shape: the corpus contributes one edge per
    * non-singleton doc (singletons contribute none and rejoin at the
    * end via the components' final left join), not its pair set;
    * stars have depth 1, so the alternating-star rounds are bounded by
    * log of the NEW chain depth, not the corpus diameter; and the
    * expensive pair generation runs only on batch-internal and
    * batch-cross candidates (bucket-keyed, linear in the batch). */
  def incrementalClusters(storedLabels: DataFrame, batchIds: DataFrame,
      newPairs: DataFrame, maxIters: Int = 20): DataFrame = {
    val starEdges = storedLabels
      .filter(col("doc_id") =!= col("cluster_rep"))
      .select(col("doc_id").as("a"), col("cluster_rep").as("b"))
    val allIds = storedLabels.select(col("doc_id").as("id"))
      .union(batchIds.select(col("id")))
      .distinct()
    // min-label propagation, not the alternating-star variant: a
    // round-12 swap measured 3x SLOWER (8.0s -> 23.5s fresh-JVM at
    // sf0.1) — star rounds pay two distincts + a signature action +
    // an except confirm over the full star-edge set each round, while
    // propagation's rounds are one join + one agg and the star-union
    // graph is depth-1-dominated. A batch that chains many stored
    // clusters (d₁~new₁~d₂~…) raises the diameter to the NEW chain
    // length only; callers with genuinely deep batches pass a raised
    // maxIters or call Graph.connectedComponentsAlternating directly
    // (label-identical — q_dedup_clusters/_logstar share an oracle).
    connectedComponents(allIds,
      starEdges.union(newPairs.select(col("a"), col("b"))), maxIters)
  }

  /** MinHash signatures: for each id, `numHashes` minima of a derived
    * universal-hash family over its shingle set — one shuffle
    * (groupBy id), all k minima in a single buffer pass via the native
    * [[graft.functions.MinHashAgg]] TypedImperativeAggregate (the
    * composed k-column min() form evaluates k full hash expressions per
    * row and falls out of whole-stage codegen at k=128). */
  def minHashSignatures(sh: DataFrame, numHashes: Int): DataFrame = {
    sh.groupBy("id")
      .agg(graft.functions.GraftFunctions.minHashAgg(col("shingle"), numHashes).as("sig"))
  }

  /** Explode a signature table (id, sig) into its LSH band index
    * (id, band, band_key): band keys are the ":"-joined slice values
    * (collision-free — see [[minHashLshPairs]]), formed by one native
    * [[graft.functions.BandKeysExpr]] loop. This IS the persisted
    * artifact of a production LSH deployment: write it once for the
    * corpus (bucketed on band_key, so each ingest batch band-joins
    * without shuffling the index — [[Sinks.writeBucketed]]), and append
    * each batch's bands after deduplicating it. */
  def bandedSignatures(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame =
    sigs.select(col("id"), posexplode(graft.functions.GraftFunctions
      .bandKeys(col("sig"), numHashes, bands, ":")).as(Seq("band", "band_key")))

  /** Estimated Jaccard between two signature columns: the fraction of
    * agreeing positions. */
  private def sigAgreement(a: Column, b: Column, numHashes: Int): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)), lit(0),
      (acc, v) => acc + v).cast("double") / numHashes

  /** MinHash + LSH banding near-dup: candidate pairs share at least one
    * of `bands` band keys (r = numHashes/bands rows per band), then
    * are verified by estimated Jaccard (signature agreement fraction).
    *
    * For a pair at true Jaccard j, P[missed] = (1 - j^r)^bands — with
    * the defaults (128/32 → r=4), a j=0.9 pair is missed with
    * probability ~2e-6. Deterministic given the fixed signature scheme:
    * one md5-derived base hash per shingle, k minima derived with
    * [[graft.functions.MinHashAgg]]'s fixed mod-P multiply-add family —
    * identical across JVMs, partitionings, and reruns, and replayable
    * in ANY engine with md5 + 64-bit integer arithmetic (the DuckDB
    * oracle regenerates the signatures exactly).
    *
    * Band keys are the concatenated slice VALUES (not a murmur3 hash of
    * them): collision-free by construction, so the candidate set equals
    * slice equality exactly — what the oracle expresses — and at k=128
    * the string key is still ~40 bytes, irrelevant next to the shuffle.
    */
  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, numHashes: Int = 128, bands: Int = 32): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // UNPERSISTED: all four consumers' subtrees (both banded join
    // sides, both verification joins) end in minHashSignatures'
    // groupBy(id) exchange, so ReuseExchange materializes the
    // shingle+hash scan ONCE — no CacheManager pin (the lexicalTopK
    // leak), no localCheckpoint (measured ~2x slower here: the lazy
    // checkpoint stores 128-long signature rows as deserialized
    // objects and re-reads them per consumer, where the shared shuffle
    // write is compressed and the post-shuffle agg is trivial)
    // fanned out (graft.core.Parallelism.fanOut): the 128-minima
    // hashing above the explode is the one shingle consumer whose
    // per-row CPU repays the fan-out exchange (round-16 bench: 1.60x
    // faster). The other shingle consumers stay single-split: the
    // fan-out hurts a checkpointed frame feeding an iterative loop
    // (q_dedup_clusters went 3x SLOWER — tiny checkpointed frames
    // spread over defaultParallelism partitions, and every CC round
    // paid 32x the task overhead)
    val sigs = minHashSignatures(shingles(
      graft.core.Parallelism.fanOut(df.select(col(idCol), col(textCol))),
      idCol, textCol, n), numHashes)
    val banded = bandedSignatures(sigs, numHashes, bands)
    val cands = Pairs.self(banded, "id", Seq("band", "band_key"))
      .select("a", "b").distinct()
    Pairs.withSides(cands, sigs, sigs, "id", "sig")
      .withColumn("est_jaccard", sigAgreement(col("sig_a"), col("sig_b"), numHashes))
      .filter(col("est_jaccard") >= threshold)
      .select(col("a"), col("b"), round(col("est_jaccard"), 6).as("est_jaccard"))
  }

  /** Incremental MinHash-LSH against a PERSISTED index: candidate pairs
    * come from band-joining the ingest batch's banded signatures
    * against the corpus's stored band index ([[bandedSignatures]],
    * persisted bucketed on band_key so the index side never
    * re-shuffles), then are verified by signature agreement against the
    * corpus's stored signature table. The 100 TB MinHash shape: corpus
    * shingling + hashing are paid ONCE at ingest; each batch costs its
    * own signatures plus a bucket-keyed join linear in the batch.
    * An id on both sides is not paired with itself ([[Pairs]]). */
  def minHashLshCrossPairs(batchSigs: DataFrame, corpusBanded: DataFrame,
      corpusSigs: DataFrame, threshold: Double,
      numHashes: Int = 128, bands: Int = 32): DataFrame = {
    val bb = bandedSignatures(batchSigs, numHashes, bands)
    val cands = Pairs.cross(bb, corpusBanded, "id", Seq("band", "band_key"))
      .select("a", "b").distinct()
    Pairs.withSides(cands, batchSigs, corpusSigs, "id", "sig")
      .withColumn("est_jaccard", sigAgreement(col("sig_a"), col("sig_b"), numHashes))
      .filter(col("est_jaccard") >= threshold)
      .select(col("a").as("batch_id"), col("b").as("corpus_id"),
        round(col("est_jaccard"), 6).as("est_jaccard"))
  }

  /** Number of SimHash signature bits: 60, not 64, because the
    * engine-portable base hash is the first 15 hex chars of md5
    * (`('0x' || substring(md5(s), 1, 15))::BIGINT` in SQL — 16 chars
    * would overflow a signed BIGINT cast on high values). */
  val SimHashBits = 60

  /** SemDeDup-style SEMANTIC near-dup over an embedding column
    * (cf. Abbas et al., "SemDeDup", arXiv:2303.09540): k-means-cluster
    * the corpus ([[Clustering.trainCentroids]] — deterministic
    * trajectory, so the oracle replays it), then find cosine pairs
    * WITHIN each cluster only. Cluster-then-pair is the shape that
    * scales where global pair-finding can't: candidate generation is an
    * equi-join on the cluster id, so the pair space is Σ|cell|² over
    * balanced cells instead of n² — and unlike token-level LSH it
    * catches paraphrase-level duplicates that share no shingles.
    * Cross-cluster near-dups are missed by construction (that is the
    * recall trade; DedupSpec measures it against the exact join).
    *
    * Choosing k (`nClusters`): the within-cell pair space is Σ|cell|²,
    * so k must GROW with the corpus — k ≈ √n keeps Σ|cell|² ≈ n^1.5 on
    * balanced cells, and SemDeDup itself runs k in the tens of
    * thousands at web scale. A small fixed k over a large corpus is
    * quadratic-with-a-constant, not a scale shape; raising k trades
    * recall (more cross-cell pairs missed) for cost — measure with
    * DedupSpec's recall harness. Because a silent bad default is worse
    * than a loud refusal, the pair space is GUARDED: after assignment,
    * one small aggregation (k rows) checks Σ|cell|·(|cell|−1)/2 against
    * `maxCellPairs` and throws with the measured sizes and the k policy
    * rather than building a runaway join (`maxCellPairs <= 0` disables,
    * for deliberate oversized runs). The guard is one extra assignment
    * pass at plan-build time — noise next to the training scans. */
  def semanticPairs(emb: DataFrame, threshold: Double, nClusters: Int = 8,
      trainIters: Int = 2, maxCellPairs: Long = 100000000L): DataFrame = {
    val spark = emb.sparkSession
    val centroids = Clustering.trainCentroids(emb, nClusters, trainIters)
    if (centroids.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Double)].toDF("a", "b", "cos")
    }
    val assigned = Clustering.assign(emb, centroids)
      .select(col("vec_id"), col("cluster"))
    if (maxCellPairs > 0) guardCellPairs(assigned, nClusters, maxCellPairs)
    val prepped = Similarity.withNorms(emb).join(assigned, Seq("vec_id"))
    Similarity.verifyCosine(
      Pairs.self(prepped, "vec_id", Seq("cluster"), "emb_d", "nrm"), threshold)
      .select(col("a"), col("b"), col("cos"))
  }

  /** Refuse a cluster-then-pair plan whose within-cell pair space
    * Σ|cell|·(|cell|−1)/2 exceeds `maxCellPairs` — the cluster-id twin
    * of [[Similarity.guardSize]]: one aggregation over the (≤ k)-row
    * per-cell counts at plan-build time, so a default-k configuration
    * cannot silently go quadratic against a corpus-scale table. */
  private def guardCellPairs(assigned: DataFrame, nClusters: Int,
      maxCellPairs: Long): Unit = {
    val row = assigned.groupBy(col("cluster")).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum((col("c") * (col("c") - 1)).cast("double") / 2), lit(0.0))
          .as("pairs"),
        coalesce(max(col("c")), lit(0L)).as("max_cell"))
      .head()
    val pairs = row.getDouble(0)
    val maxCell = row.getLong(1)
    require(pairs <= maxCellPairs.toDouble,
      f"semanticPairs pair space is ${pairs}%.0f within-cell pairs " +
      f"(largest cell $maxCell%d rows, nClusters=$nClusters%d), over the " +
      f"$maxCellPairs%d guard: raise nClusters (k should grow ~sqrt(n); " +
      "SemDeDup uses tens of thousands of cells at web scale) or raise " +
      "maxCellPairs for a deliberate oversized run")
  }

  /** Cross-corpus (batch-vs-corpus) semantic near-dup against a GIVEN
    * quantizer — the incremental-ingest form of [[semanticPairs]]: the
    * centroid model is trained ONCE on the corpus
    * ([[Clustering.trainCentroids]]) and each new batch is assigned and
    * compared only within its cells. Candidate cost is
    * Σ|batch cell|·|corpus cell| — linear in the batch — and the model
    * artifact (k·dim doubles) rides along as broadcast literals, which
    * is what makes the STREAMING twin
    * (graft.streaming.StreamingOps.incrementalSemanticDedup) stateless.
    * An id on both sides is not paired with itself ([[Pairs]]). */
  def semanticCrossPairs(batch: DataFrame, corpus: DataFrame,
      centroids: Seq[(Int, Seq[Double])], threshold: Double): DataFrame = {
    val spark = batch.sparkSession
    if (centroids.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Double)].toDF("batch_id", "corpus_id", "cos")
    }
    def prep(df: DataFrame): DataFrame = Similarity.withNorms(df)
      .join(Clustering.assign(df, centroids).select(col("vec_id"), col("cluster")),
        Seq("vec_id"))
    Similarity.verifyCosine(Pairs.cross(prep(batch), prep(corpus), "vec_id",
        Seq("cluster"), "emb_d", "nrm"), threshold)
      .select(col("a").as("batch_id"), col("b").as("corpus_id"), col("cos"))
  }

  /** 60-bit md5-derived shingle hash — portable: any engine with md5
    * computes the identical value (same trick as
    * [[Sampling.hashUniform]]), which is what makes the SimHash oracle
    * a full hash-compare instead of rows-only. */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** 60-bit SimHash over shingle hashes: bit j of the signature is the
    * majority vote of bit j across all shingle md5-derived hashes. One
    * groupBy(id) with 60 conditional-sum aggregates — a single pass. */
  def simHashSignatures(sh: DataFrame): DataFrame = {
    // project the base hash ONCE per row before the 60 bit-vote
    // aggregates reference it — relying on subexpression elimination
    // across 60 aggregate expressions would be fragile
    val h = col("__h60")
    val aggs = (0 until SimHashBits).map { j =>
      sum(when(shiftright(h, j).bitwiseAND(1L) === 1L, 1).otherwise(-1)).as(s"b$j")
    }
    sh.select(col("id"), md5Hash60(col("shingle")).as("__h60"))
      .groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"),
        (0 until SimHashBits).map(j =>
          when(col(s"b$j") > 0, shiftleft(lit(1L), j)).otherwise(0L))
          .reduce(_.bitwiseOR(_)).as("simhash"))
  }

  /** SimHash pigeonhole block index over signature rows: (id, simhash,
    * block, block_val) with the 60 signature bits split into
    * (maxHamming+1) blocks ([[Pairs.hammingBlocks]]; maxHamming in
    * [0, 60)) — any pair within hamming distance maxHamming shares at
    * least one exact block. This IS the persisted
    * artifact of a production SimHash deployment (mirroring
    * [[bandedSignatures]] for MinHash): write it once for the corpus,
    * bucketed on block_val ([[graft.sources.Sinks.writeBucketed]]) so
    * ingest batches block-join without re-shuffling the index, and grow
    * it with [[graft.sources.Sinks.appendBucketed]]. The signature
    * rides along in the row, so verification needs no second join
    * against a signature table. */
  def simHashBlocks(sigs: DataFrame, maxHamming: Int): DataFrame =
    sigs.select(col("id"), col("simhash"), posexplode(array(
      Pairs.hammingBlocks(col("simhash"), SimHashBits, maxHamming): _*))
      .as(Seq("block", "block_val")))

  /** SimHash near-dup: pairs with hamming distance <= maxHamming.
    * Pigeonhole banding ([[simHashBlocks]]): the candidate join is an
    * equi-join on (block index, block value), lossless for the given
    * maxHamming. */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, maxHamming: Int = 3): DataFrame = {
    // UNPERSISTED: both banded join sides end in simHashSignatures'
    // groupBy(id) exchange, so ReuseExchange materializes the
    // shingle+hash scan once (the minHashLshPairs rule) — and plan
    // building stays job-free, where a lazy localCheckpoint of a
    // shuffle-containing subtree materializes its stages at build
    // under AQE
    val sigs = simHashSignatures(shingles(df, idCol, textCol, n))
    val banded = simHashBlocks(sigs, maxHamming)
    Pairs.self(banded, "id", Seq("block", "block_val"), "simhash")
      .select("a", "b", "simhash_a", "simhash_b").distinct()
      .withColumn("hamming", bit_count(col("simhash_a").bitwiseXOR(col("simhash_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming").cast("int").as("hamming"))
  }

  /** Incremental SimHash near-dup against a PERSISTED block index: the
    * ingest batch's signatures are blocked fresh and equi-joined
    * against the corpus's stored block table on (block, block_val);
    * both sides carry their signature in the block rows, so the hamming
    * verify is a projection — no signature-table join at all. The
    * corpus pays shingling/signing once at ingest; each batch costs its
    * own signatures plus a bucket-keyed join linear in the batch (the
    * same lifecycle as [[minHashLshCrossPairs]]). An id on both sides is
    * not paired with itself ([[Pairs]]). */
  def simHashCrossPairs(batchSigs: DataFrame, corpusBlocks: DataFrame,
      maxHamming: Int): DataFrame = {
    Pairs.cross(simHashBlocks(batchSigs, maxHamming), corpusBlocks, "id",
        Seq("block", "block_val"), "simhash")
      .select("a", "b", "simhash_a", "simhash_b").distinct()
      .withColumn("hamming", bit_count(col("simhash_a").bitwiseXOR(col("simhash_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a").as("batch_id"), col("b").as("corpus_id"),
        col("hamming").cast("int").as("hamming"))
  }

  /** Local-duplication candidate pairs from winnowing fingerprints
    * ([[TextAnalysis.winnowFingerprints]]): docs sharing ≥ `minShared`
    * selected fingerprints, scored by shared / min(|A|, |B|) overlap.
    * Where the Jaccard/MinHash family asks "are these documents mostly
    * the same?", winnowing pairs ask "do these documents share any
    * substring of ≥ k + window - 1 chars?" — the boilerplate /
    * quotation / template-reuse detector.
    *
    * Scale shape: a bucket-keyed equi-join on the fingerprint value —
    * the same candidate-generation shape as every other family here.
    * `maxDf` drops fingerprints present in more than that many docs
    * BEFORE the self-join (site-wide boilerplate is exactly the
    * hot-key that would otherwise go quadratic); the drop loses only
    * pairs whose every shared span is ubiquitous, the spans a dedup
    * pipeline wants to ignore anyway. Fingerprints are per-doc
    * distinct, so the df count is a doc frequency. */
  /** Edit-distance (Levenshtein) fuzzy-match pairs `(a < b)` with
    * `ed(a,b) <= maxDist` — record-linkage dedup over short keys
    * (titles, names, URLs), where token/shingle methods are too coarse.
    *
    * Candidate generation is the PassJoin pigeonhole scheme (Li, Deng,
    * Feng — VLDB'11; public algorithm): split the INDEXED string of
    * length `L` into `k+1` contiguous segments (even partition, the
    * short segments first). If `ed(a,b) <= k`, some segment of `b`
    * appears VERBATIM in `a`, start-shifted at most `k` — so the join
    * key is `(indexed_len, segment_idx, segment_text)` and the probe
    * side enumerates, per row, partner lengths and allowed shifts.
    * Two LOSSLESS prunes keep the probe fan-out well under the naive
    * O(k^3) cube:
    *  - length-bucket statistics: partner lengths `lb` in `[L-k, L+k]`
    *    that don't occur in the corpus at all are dropped BEFORE the
    *    segment/shift explode (broadcast semi-join against the ≤
    *    max-string-length distinct-length set — a partner of an absent
    *    length cannot exist, so nothing is lost);
    *  - the paper's length-aware shift bound: a match of segment j at
    *    shift `d` forces ≥ `|d|` edits before the segment and
    *    `|Δ − d|` after (Δ = L_probe − L_indexed), so only shifts with
    *    `|d| + |Δ − d| <= k` are generated — ≤ k+1 shifts instead of
    *    2k+1, emitted directly from a tightened `sequence()` rather
    *    than explode-then-filter.
    * Candidates remain a superset of true pairs (spec'd equal to the
    * naive join); the exact `levenshtein` post-filter runs only on
    * candidates.
    *
    * 100 TB shape: one equi-join shuffle on the segment key; segment
    * buckets are substring-frequency-bounded (no all-pairs path).
    * Strings shorter than `maxDist+1` chars can't host k+1 non-empty
    * segments and fall into a per-length catch-all bucket — bounded,
    * since every member is a <= k-char string. */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    val k = maxDist
    val m = k + 1
    // array<struct<j,st,ln>> of the even segment partition of a string
    // of length `L`: rem = L mod m segments of base+1 chars go LAST,
    // the first m-rem have base = L div m chars.
    def segs(lenExpr: String): String =
      s"""transform(sequence(0, $k), j -> named_struct(
         |  'j', j,
         |  'st', CASE WHEN j < $m - (($lenExpr) % $m)
         |        THEN j * (($lenExpr) div $m)
         |        ELSE ($m - (($lenExpr) % $m)) * (($lenExpr) div $m)
         |             + (j - ($m - (($lenExpr) % $m))) * ((($lenExpr) div $m) + 1) END,
         |  'ln', CASE WHEN j < $m - (($lenExpr) % $m)
         |        THEN (($lenExpr) div $m) ELSE (($lenExpr) div $m) + 1 END))""".stripMargin
    // no read-side fan-out: the round-16 driver bench measured the
    // fanned form 0.68x (q_edit_distance_pairs 3.1s -> 4.6s) — the
    // triple explode is cheap enough per row that the extra exchange
    // and 32-partition task overhead dominate at bench scale
    val base = df.select(col(idCol).cast("long").as("id"),
        col(strCol).as("s"), length(col(strCol)).as("len"))
      .filter(col("len") >= 1)
    // candidate generation carries ONLY (key, id): the strings rejoin
    // AFTER the pair distinct, so the segment shuffle moves ids and
    // short substrings, never full payloads (~10x narrower rows when
    // keys are long documents)
    // indexed side: one key per segment; <=k-char strings get the
    // catch-all (len, -1, '') key instead of empty-segment keys
    val index = base
      .withColumn("seg", explode(expr(segs("len"))))
      .select(col("id").as("id_y"), col("len").as("len_y"),
        when(col("len") <= k, struct(lit(-1).as("j"), lit("").as("t")))
          .otherwise(struct(col("seg.j").as("j"),
            expr("substring(s, seg.st + 1, seg.ln)").as("t"))).as("key"))
      .select(col("id_y"), col("len_y"),
        col("key.j").as("j"), col("key.t").as("t"))
      // pinned exchange on the JOIN key (explicit N = the session's
      // shuffle partitions, the same number ENSURE_REQUIREMENTS picks,
      // so the plan is unchanged at production scale): the segment
      // explode fans the tiny input out ~(2k+1)·(k+1)·(k+1)-fold, and
      // AQE's coalescing — sized on the input, blind to the fanout —
      // was collapsing the distinct+join exchanges to ~1 partition and
      // running them single-threaded (round-17 probe: the whole query
      // 2.11x faster with coalescing off). hash(len_y, j, t) clusters
      // the 4-column distinct AND the candidate join, so ONE pinned
      // shuffle per side serves both (guide §2.4)
      .repartition(numShufflePartitions(df), col("len_y"), col("j"), col("t"))
      .distinct()
    // probe side: for every partner length lb in [len-k, len+k] that
    // EXISTS in the corpus, every segment of THAT partition, every
    // length-aware shift (|d| + |Δ−d| <= k, Δ = len − lb ⇒ d in
    // [min(0,Δ) − (k−|Δ|)/2, max(0,Δ) + (k−|Δ|)/2])
    val lens = base.select(col("len").as("lb")).distinct()
    val probe = base
      .withColumn("lb", explode(expr(
        s"sequence(greatest(1, len - $k), len + $k)")))
      .join(broadcast(lens), Seq("lb"), "left_semi")
      .withColumn("seg", explode(expr(segs("lb"))))
      .withColumn("d", explode(expr(
        s"""sequence(least(0, len - lb) - (($k - abs(len - lb)) div 2),
           |         greatest(0, len - lb) + (($k - abs(len - lb)) div 2))"""
          .stripMargin)))
      .withColumn("p", col("seg.st") + col("d"))
      .filter(col("lb") <= k ||
        (col("seg.ln") > 0 && col("p") >= 0 && col("p") + col("seg.ln") <= col("len")))
      .select(col("id").as("id_x"), col("lb").as("len_y"),
        when(col("lb") <= k, struct(lit(-1).as("j"), lit("").as("t")))
          .otherwise(struct(col("seg.j").as("j"),
            expr("substring(s, p + 1, seg.ln)").as("t"))).as("key"))
      .select(col("id_x"), col("len_y"),
        col("key.j").as("j"), col("key.t").as("t"))
      // same pinned join-key exchange as the index side (see above)
      .repartition(numShufflePartitions(df), col("len_y"), col("j"), col("t"))
      .distinct()
    val pairs = probe.join(index, Seq("len_y", "j", "t"))
      .filter(col("id_x") =!= col("id_y"))
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"))
      // pinned for the same reason: the candidate join's output is the
      // segment-match fanout, and a coalesced pair-dedup exchange would
      // serialize both this distinct and the levenshtein verify above it
      .repartition(numShufflePartitions(df), col("id_a"), col("id_b"))
      .distinct()
    pairs
      .join(base.select(col("id").as("id_a"), col("s").as("s_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("s").as("s_b")), Seq("id_b"))
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .filter(col("dist") <= k)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Naive all-pairs edit-distance join — the oracle baseline for
    * [[editDistancePairs]]; refuses oversized inputs like the other
    * brute-force baselines (Similarity.guardSize rationale). */
  def editDistancePairsNaive(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int, maxRows: Long = 100000L): DataFrame = {
    val n = df.count()
    require(n <= maxRows,
      s"editDistancePairsNaive is the O(n^2) oracle baseline ($n rows > $maxRows); " +
        "use editDistancePairs (PassJoin segment blocking) at scale")
    val a = df.select(col(idCol).cast("long").as("id_a"), col(strCol).as("s_a"))
    val b = df.select(col(idCol).cast("long").as("id_b"), col(strCol).as("s_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Exploded `(id, fp)` winnowing fingerprints — the persistable index
    * side of incremental winnowing dedup: write it bucketed on `fp`
    * ([[graft.sources.Sinks.writeBucketed]]), grow with
    * `appendBucketed` (the MinHash/SRP/SimHash/line-hash lifecycle). */
  def winnowFingerprintIndex(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, window: Int = 4): DataFrame =
    TextAnalysis.winnowFingerprintsFast(df, idCol, textCol, k, window)
      .select(col("id"), explode(col("fps")).as("fp"))

  /** Incremental winnowing near-dup against a PERSISTED fingerprint
    * index: the ingest batch pays its own winnow scan; candidate pairs
    * are the fp equi-join against the stored index. The df-cap prunes
    * fingerprints that are UBIQUITOUS IN THE CORPUS (> maxDf docs) from
    * both sides — batch-novel fingerprints can't match the corpus at
    * all, so corpus-frequency pruning loses nothing. Overlap =
    * shared / min(|batch fps|, |corpus fps|) over the pruned sets, the
    * [[winnowSharedPairs]] scoring. Batch fingerprints are materialized
    * ONCE via eager `localCheckpoint` (they feed the prune join and,
    * through it, the sizes and the pair join — the winnowSharedPairs
    * compute-once rationale) rather than `cache()`: the result is
    * consumed lazily, so an internal cache could never be unpersisted
    * and each call would pin one cached frame until session end;
    * checkpoint blocks are instead freed by the ContextCleaner when the
    * frame becomes unreachable, so repeated batch/loop calls don't
    * accumulate storage. */
  def winnowCrossPairs(batch: DataFrame, corpusIndex: DataFrame,
      idCol: String, textCol: String, k: Int = 8, window: Int = 4,
      minShared: Int = 2, maxDf: Int = 100): DataFrame = {
    val bfp = winnowFingerprintIndex(batch, idCol, textCol, k, window)
      .localCheckpoint(true)
    val frequent = corpusIndex.groupBy(col("fp"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf).select("fp")
    val cpruned = corpusIndex.join(frequent, Seq("fp"), "left_anti")
    val bpruned = bfp.join(frequent, Seq("fp"), "left_anti")
    def sizes(fps: DataFrame) = fps.groupBy("id").agg(count(lit(1)).as("nf"))
    val shared = Pairs.cross(bpruned, cpruned, "id", Seq("fp"))
      .groupBy("a", "b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    Pairs.withSides(shared, sizes(bpruned), sizes(cpruned), "id", "nf")
      .select(col("a").as("batch_id"), col("b").as("corpus_id"), col("shared"),
        round(col("shared") / least(col("nf_a"), col("nf_b")), 6).as("overlap"))
  }

  /** Winnowing (MOSS) shared-fingerprint near-dup join: pairs sharing
    * >= minShared selected fingerprints, scored by shared /
    * min(|fps_a|,|fps_b|). Candidates come from an equi-join on the
    * fingerprint (df-capped at `maxDf`), never all-pairs. Construction
    * runs Spark jobs (lazy internal localCheckpoint — see the object
    * scaladoc's MATERIALIZATION POLICY for the lineage/retry trade). */
  def winnowSharedPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, window: Int = 4, minShared: Int = 2,
      maxDf: Int = 100): DataFrame = {
    // CACHE the exploded fingerprints: they feed four consumers (the
    // df-cap aggregate, the prune join, the per-doc sizes, and BOTH
    // sides of the self-join), and the winnow hash scan is the
    // dominant cost — uncached, Spark re-evaluates it per consumer
    // (measured 26s -> the fps pass alone was 8s at sf0.1 on the md5
    // family); the cached (id, fp) pairs are two fixed-width columns,
    // tiny next to the text. The FAST (rolling-polynomial) family cuts
    // the scan itself ~100x on top.
    val fp = TextAnalysis.winnowFingerprintsFast(df, idCol, textCol, k, window)
      .select(col("id"), explode(col("fps")).as("fp"))
      .localCheckpoint(false)
    val rare = fp.groupBy("fp").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf)
      .select("fp")
    val pruned = fp.join(rare, Seq("fp"))
    val sizes = pruned.groupBy("id").agg(count(lit(1)).as("nf"))
    val shared = Pairs.self(pruned, "id", Seq("fp"))
      .groupBy("a", "b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    Pairs.withSides(shared, sizes, sizes, "id", "nf")
      .select(col("a").as("id_a"), col("b").as("id_b"), col("shared"),
        round(col("shared") / least(col("nf_a"), col("nf_b")), 6).as("overlap"))
  }
}
