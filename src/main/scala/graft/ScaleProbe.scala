package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: measure scaling slope of representative operators by
  * self-unioning the sf0.1 inputs N× (ids offset per copy so key
  * cardinality scales too). A near-linear slope backs SCALE.md's claims;
  * a superlinear one exposes a pair-explosion or a driver bottleneck.
  *
  * Usage: runMain graft.ScaleProbe [multiplier] [probe-name-substring...]
  * (with substrings, only matching probes run — re-measure one operator
  * without paying for the whole battery)
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(8)
    val only = args.drop(1).toSet
    val dir = "/root/testdata/sf0.1"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def amplify(df: DataFrame, idCols: Seq[String], n: Int): DataFrame =
      (0 until n).map { i =>
        idCols.foldLeft(df)((d, c) =>
          d.withColumn(c, col(c) + lit(i.toLong * 100000000L)))
      }.reduce(_ union _)

    def time(name: String)(f: => Unit): Double = {
      if (only.nonEmpty && !only.exists(name.contains)) return 0.0
      // several operators cache intermediates internally; clear so no
      // probe measures another's warmed cache
      spark.catalog.clearCache()
      val t0 = System.nanoTime(); f; val s = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $name%-28s $s%8.2f s"); s
    }

    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val ev = sources.Sources.events(spark, dir)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val ord = spark.read.parquet(s"$dir/orders.parquet")
    val part = spark.read.parquet(s"$dir/part.parquet")
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    val sup = spark.read.parquet(s"$dir/supplier.parquet")

    // 1x runs FIRST (cold JVM: codegen + first-scan costs land on it)
    // and again LAST (warm): the r14 DoReMi probe read a negative
    // slope because its 1x was pure warm-up — slopes must compare the
    // mult section against the TRAILING 1x section, which shares the
    // mult run's JIT state
    for (n <- Seq(1, mult, 1)) {
      println(s"=== multiplier $n ===")
      val liN = amplify(li, Seq("l_orderkey"), n)
      val evN = amplify(ev, Seq("event_id", "user_id"), n)
      val docsN = amplify(docs, Seq("doc_id"), n)
      val ordN = amplify(ord, Seq("o_orderkey", "o_custkey"), n)
      val custN = amplify(cust, Seq("c_custkey"), n)
      time(s"agg_q1_${n}x") {
        liN.groupBy("l_returnflag", "l_linestatus")
          .agg(sum("l_quantity"), avg("l_extendedprice"), count(lit(1)))
          .write.format("noop").mode("overwrite").save()
      }
      time(s"window_running_${n}x") {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("l_suppkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        liN.withColumn("r", sum("l_quantity").over(w))
          .write.format("noop").mode("overwrite").save()
      }
      time(s"sessionize_${n}x") {
        operators.Events.sessionize(evN, "30 minutes")
          .write.format("noop").mode("overwrite").save()
      }
      time(s"minhash_lsh_${n}x") {
        operators.Dedup.minHashLshPairs(docsN, "doc_id", "text", 3, 0.8)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"tpch_q3_join_${n}x") {
        liN.filter(col("l_shipdate") > lit("1998-07-01"))
          .join(ordN.filter(col("o_orderdate") < lit("1998-07-01")),
            col("l_orderkey") === col("o_orderkey"))
          .join(custN.filter(col("c_mktsegment") === "BUILDING"),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
          .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
          .orderBy(desc("rev"), asc("l_orderkey")).limit(10)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"unigram_lm_${n}x") {
        operators.TextAnalysis.unigramLogProb(docsN, "doc_id", "text")
          .write.format("noop").mode("overwrite").save()
      }
      time(s"decontaminate_${n}x") {
        val sp = operators.Sampling.split(docsN, col("doc_id"), 12, 2)
        operators.Curation.decontaminate(
          sp.filter(col("split") === "test"),
          sp.filter(col("split") === "train"), "doc_id", "text", 8)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"salted_join_${n}x") {
        core.Partitioning.saltedJoin(liN, sup, "l_suppkey", "s_suppkey",
          Seq(col("l_orderkey"), col("l_linenumber")), 8)
          .groupBy(col("s_name")).agg(count(lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save()
      }
      // prices offset per copy as well as keys: identical price copies
      // would pair across copies and the result itself would grow n² —
      // the probe must scale the DATA, not the answer's density
      val partN = (0 until n).map { i =>
        part.withColumn("p_partkey", col("p_partkey") + lit(i.toLong * 100000000L))
          .withColumn("p_retailprice", col("p_retailprice") + lit(i * 1000.0))
      }.reduce(_ union _)
      time(s"band_join_${n}x") {
        operators.BandJoin.selfBandJoin(partN, "p_partkey", "p_retailprice",
          1.0, "p_brand")
          .write.format("noop").mode("overwrite").save()
      }
      time(s"bloom_semi_join_${n}x") {
        operators.BloomPrune.semiJoin(liN, "l_orderkey",
          ordN.filter(col("o_orderpriority") === "1-URGENT" &&
            col("o_totalprice") > 150000), "o_orderkey",
          expectedItems = 100000L * n, numBits = 8L * 1024 * 1024 * n)
          .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save()
      }
      time(s"char_entropy_${n}x") {
        docsN.select(col("doc_id"),
          operators.TextAnalysis.charEntropy(col("text")).as("h"))
          .write.format("noop").mode("overwrite").save()
      }
      time(s"heavy_hitters_${n}x") {
        // token text repeats across copies, so the ANSWER stays the
        // same head set while the data scales — exactly the shape the
        // two-pass sketch+recount must stay linear on
        operators.Stats.exactHeavyHitters(
          docsN.select(explode(operators.TextAnalysis.tokens(col("text")))
            .as("w")), col("w"), phi = 0.01)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"epoch_shuffle_${n}x") {
        operators.Layout.seededShuffleShards(
          docsN.select("doc_id"), "doc_id", s"probe$n", numShards = 64)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"char_ngram_features_${n}x") {
        operators.TextAnalysis.charNgramHashFeatures(docsN, "doc_id", "text")
          .write.format("noop").mode("overwrite").save()
      }
      time(s"upsert_latest_${n}x") {
        val snap = docsN.withColumn("version", lit(1))
        val upd = docsN.filter(col("doc_id") % 7 === 0)
          .withColumn("version", lit(2))
        operators.Upsert.latestByKey(snap, upd, "doc_id", "version", "doc_id")
          .write.format("noop").mode("overwrite").save()
      }
      time(s"hll_rollup_${n}x") {
        evN.select(date_trunc("week", col("ts")).cast("date").as("week"),
            to_date(col("ts")).as("day"), col("user_id"))
          .groupBy(col("week"), col("day"))
          .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
          .groupBy(col("week"))
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
          .write.format("noop").mode("overwrite").save()
      }
      time(s"winsorize_sketch_${n}x") {
        operators.Stats.winsorizedStats(liN, "l_returnflag",
            "l_extendedprice", 0.05, 0.95, sketchAccuracy = Some(10000))
          .write.format("noop").mode("overwrite").save()
      }
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      // the embeddings table is tiny (500 rows), so it amplifies n*16x —
      // MATERIALIZED to parquet rather than left as a 128-branch union:
      // whole-stage codegen fuses every union branch into one method,
      // which at 128 branches exceeds Janino's limits and drops the
      // whole stage to interpreted eval. A real corpus is a scan, so
      // the probe should be scan-shaped too.
      val embN = {
        val p = s"/tmp/graft_probe_emb_$n"
        amplify(emb, Seq("vec_id"), n * 16)
          .write.mode("overwrite").parquet(p)
        spark.read.parquet(p)
      }
      time(s"kmeans_assign_${n}x") {
        operators.Clustering.kMeansAssign(embN, k = 8, iters = 2)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"quantize_int8_${n}x") {
        operators.Similarity.quantizeInt8(embN)
          .select("vec_id", "qvec", "recon_err")
          .write.format("noop").mode("overwrite").save()
      }
      time(s"pii_mask_${n}x") {
        evN.select(col("event_id"),
            operators.TextAnalysis.maskPii(col("props")).as("m"),
            operators.TextAnalysis.piiSpanCount(col("props")).as("ns"))
          .write.format("noop").mode("overwrite").save()
      }
      time(s"gapfill_${n}x") {
        // amplified orders keep the same date span: the spine must stay
        // calendar-sized while the daily agg sees n× the rows
        operators.Events.gapFillDaily(ordN, col("o_orderdate"),
            col("o_totalprice"))
          .write.format("noop").mode("overwrite").save()
      }
      // round-4 operators. NOTE on the pair-finders (tfidf cosine,
      // semantic pairs): amplified copies are near-identical twins, so
      // TRUE pair density grows ~C(n,2) per original — same caveat as
      // the minhash_lsh probe; the slope measures data+answer growth.
      time(s"decile_ntile_${n}x") {
        operators.Stats.distributedNtile(
            ordN.select("o_orderkey", "o_totalprice"),
            "o_totalprice", "o_orderkey", nTiles = 10)
          .groupBy(col("tile")).agg(count(lit(1)).as("cnt"))
          .write.format("noop").mode("overwrite").save()
      }
      time(s"tfidf_cosine_incr_${n}x") {
        // incremental + df-capped: the production configuration. The
        // synthetic corpus is DENSE (31-word vocab, every term in ~77%
        // of docs), so the uncapped term join is Σdf² ~ n² by
        // construction — the cap drops the ubiquitous (near-zero-idf)
        // terms and the probe then measures the scalable path.
        val sp = operators.Sampling.split(docsN, col("doc_id"), 12, 2)
        operators.TextAnalysis.tfidfCosineCrossPairs(
          sp.filter(col("split") === "test"),
          sp.filter(col("split") =!= "test"),
          "doc_id", "text", 0.9, maxTermDf = 500L * n)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"simhash_pairs_${n}x") {
        operators.Dedup.simHashPairs(docsN, "doc_id", "text", 3, maxHamming = 8)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"semantic_pairs_${n}x") {
        // nClusters scales with the corpus so cell sizes stay bounded —
        // the SemDeDup production rule (within-cell pair cost is
        // Σ|cell|²; fixed k at growing n would re-derive the n² join)
        operators.Dedup.semanticPairs(embN, threshold = 0.4, nClusters = 8 * n)
          .write.format("noop").mode("overwrite").save()
      }
      // round-5 operators. Same identical-twin caveat as above for the
      // pair-finders: amplified copies multiply TRUE pair density.
      time(s"bm25_${n}x") {
        operators.TextAnalysis.bm25Scores(docsN, "doc_id", "text",
            Seq("vector", "hash", "stream", "dup"))
          .write.format("noop").mode("overwrite").save()
      }
      time(s"srp_cross_persisted_${n}x") {
        // the full persisted-index lifecycle: corpus bands written
        // bucketed, batch band-joins the STORED table. Band width
        // r = 16 (64 bits / 4 bands), NOT the small-corpus default
        // r = 4: an uncorrelated pair passes a band with probability
        // ~2^-r (p = 0.5 on random vectors), so the candidate floor is
        // ~1-(1-2^-r)^bands of the ENTIRE cross product — r = 4 admits
        // ~40% (no pruning; 53s at 8k vectors), r = 8 ~1.6% (still
        // quadratic-with-a-small-constant), r = 16 ~6e-5 — the r-must-
        // scale-with-the-corpus rule in srpBandedSignatures' scaladoc.
        // Copies are VALUE-perturbed with per-(vec, dim) hash noise so
        // the probe scales the data, not the twin-pair answer density.
        // The noise must be per-DIM random: a single-dim offset that
        // grows with the copy index saturates every hyperplane's sign
        // toward sign(plane's weight on that dim), converging all
        // high-offset copies onto ONE signature — a mega-bucket whose
        // candidate set is the full cross product (measured: 80 GB of
        // sort spill at 8x before this fix).
        val sp = operators.Sampling.split(
          embN.withColumn("embedding", expr(
            "transform(embedding, (x, j) -> x + " +
              "CAST(pmod(xxhash64(vec_id, j), 1000) AS FLOAT) / 250.0F - 2.0F)")),
          col("vec_id"), 12, 2)
        val corpus = sp.filter(col("split") =!= "test").drop("split")
        val batch = sp.filter(col("split") === "test").drop("split")
        sources.Sinks.writeBucketed(
          operators.Similarity.srpBandedSignatures(corpus, dim = 64,
            nBits = 64, bands = 4),
          "graft_probe_srp_bands", Seq("band_key"), 8)
        operators.Similarity.srpNeardupCrossPairs(batch,
            spark.table("graft_probe_srp_bands"), corpus, dim = 64,
            threshold = 0.9, nBits = 64, bands = 4)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"simhash_cross_persisted_${n}x") {
        val sp = operators.Sampling.split(docsN, col("doc_id"), 12, 2)
        val corpusSigs = operators.Dedup.simHashSignatures(
          operators.Dedup.shingles(sp.filter(col("split") =!= "test"),
            "doc_id", "text", 3))
        sources.Sinks.writeBucketed(
          operators.Dedup.simHashBlocks(corpusSigs, maxHamming = 8),
          "graft_probe_simhash_blocks", Seq("block_val"), 8)
        operators.Dedup.simHashCrossPairs(
            operators.Dedup.simHashSignatures(
              operators.Dedup.shingles(sp.filter(col("split") === "test"),
                "doc_id", "text", 3)),
            spark.table("graft_probe_simhash_blocks"), maxHamming = 8)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"image_neardup_${n}x") {
        // real PNG round trip per doc + cluster-then-pair; nClusters
        // scales with the corpus (bounded-cell rule, as semantic_pairs)
        val media = multimodal.Multimodal.asMedia(
          docsN.filter(length(col("text")) > 0)
            .withColumn("payload", encode(col("text"), "UTF-8")),
          "doc_id", "payload", "text/plain")
        val feats = multimodal.Multimodal.decodeImageFeatures(
          multimodal.Multimodal.encodeGrayPng(media, width = 16)).toDF()
        operators.Dedup.semanticPairs(
            feats.select(col("id").as("vec_id"), col("embedding")),
            threshold = 0.99995, nClusters = 4 * n)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"ivf_topk_trained_${n}x") {
        // nCells scales with the corpus (fixed nprobe): the scored
        // fraction per query is nprobe/nCells, so constant cells at a
        // growing corpus re-derive linear scan cost per query — the
        // same bounded-cell rule as semantic_pairs
        operators.Similarity.ivfTopK(embN, k = 5, nCells = 16 * n,
          nprobe = 4, every = 50L)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"knn_join_${n}x") {
        // production retrieval shape: FIXED query batch (the base 500
        // vectors), growing corpus, cells scaling with the corpus at
        // fixed nprobe — per-query scored fraction nprobe/nCells holds
        // per-query cost flat, so the slope is the corpus assignment
        // scan (linear), not |queries|·|corpus|
        operators.Similarity.knnJoin(emb, embN, k = 5, nCells = 16 * n,
            nprobe = 4)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"diversity_select_${n}x") {
        // the k~sqrt(n) SemDeDup cell policy, actually exercised:
        // cells grow ~sqrt(n)x for an n-times corpus (32 -> 91 at 8x),
        // so per-cell size ALSO grows ~sqrt(n)x and total fold work
        // Σ|cell|·|selected| grows ~n·sqrt(n)/cells-parallelism — the
        // policy's real slope, not a constant-cell-size idealization
        operators.Curation.diversitySelect(embN, threshold = 0.4,
            nClusters = (32 * math.sqrt(n.toDouble)).round.toInt)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"pq_encode_${n}x") {
        // pure scan-shaped projection through the native kernel: slope
        // must be linear in the corpus (the index-build cost)
        val cbs = operators.Similarity.pqCodebooks(embN, dim = 64)
        operators.Similarity.pqEncode(embN, cbs, dim = 64)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"pq_adc_topk_${n}x") {
        // production shape: FIXED query set, growing corpus — ADC cost
        // is |codes|·|queries| LUT lookups, so the slope is linear in
        // the corpus (the quadratic regime is both sides growing, which
        // is the guarded-baseline pqTopK, not this)
        val cbs = operators.Similarity.pqCodebooks(embN, dim = 64)
        val queries = embN.filter(col("vec_id") < 100L)
          .select(col("vec_id").as("query_id"), col("embedding").as("q"))
        operators.Similarity.pqAdcTopK(
            operators.Similarity.pqEncode(embN, cbs, dim = 64),
            queries, cbs, dim = 64, k = 5)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"ivfpq_topk_${n}x") {
        // cells scale with the corpus at fixed nprobe (the bounded-cell
        // rule): per-query scored fraction nprobe/nCells holds the
        // per-query cost flat, so total slope tracks the encode scan
        operators.Similarity.pqIvfTopK(embN, k = 5, dim = 64,
            nCells = 8 * n, nprobe = 2, every = 50L)
          .write.format("noop").mode("overwrite").save()
      }
      // no pair join in either of these: slope should track the
      // shingle/token explode (linear), not answer density
      time(s"dup_ngram_stats_${n}x") {
        operators.Dedup.dupNgramStats(docsN, "doc_id", "text", n = 3)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"dsir_weights_${n}x") {
        operators.Curation.dsirWeights(docsN, "doc_id", "text",
            col("source") === "src0", buckets = 1024)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"remove_dup_spans_${n}x") {
        // amplified copies make every gram globally duplicated — the
        // worst case for the coverage explode (all positions covered)
        operators.Dedup.removeDuplicateSpans(docsN, "doc_id", "text", n = 8)
          .write.format("noop").mode("overwrite").save()
      }
      // round 6
      time(s"edit_distance_pairs_${n}x") {
        // amplified copies are exact dups (dist 0) — candidate volume
        // scales with key-prefix frequency; slope tracks the O(k^3)
        // probe explode + the segment join, not n^2
        operators.Dedup.editDistancePairs(
            docsN.select(col("doc_id"), substring(col("text"), 1, 32).as("s")),
            "doc_id", "s", maxDist = 4)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"bpe_train_${n}x") {
        // amplified ids don't change the WORD distribution (text is
        // untouched), so the distinct-word working set stays constant:
        // near-flat slope expected — the vocabulary-bounded claim
        operators.Bpe.train(docsN, "text", nMerges = 8)
      }
      time(s"pca_power_${n}x") {
        operators.Pca.trainTopComponent(embN, "vec_id", "embedding",
          iters = 4)
      }
      time(s"zorder_write_${n}x") {
        operators.Layout.withZCode(liN, col("l_partkey"), col("l_suppkey"))
          .repartitionByRange(16 * n, col("z"))
          .sortWithinPartitions(col("z"))
          .write.format("noop").mode("overwrite").save()
      }
      time(s"scd2_intervals_${n}x") {
        operators.Events.scd2Intervals(evN, "user_id", "event_type",
            "ts", "event_id")
          .write.format("noop").mode("overwrite").save()
      }
      time(s"triangle_census_${n}x") {
        // synthetic co-purchase graph: orders x2 parts per order via
        // modular hash — edge count scales linearly with orders
        val e = ordN.select(col("o_orderkey").as("k"),
            pmod(col("o_orderkey"), lit(200 * n)).as("src"),
            pmod(col("o_orderkey") * 31 + 7, lit(200 * n)).as("dst"))
          .select(col("src"), col("dst"))
        operators.Graph.triangleStats(e)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"label_prop_${n}x") {
        // the triangle probe's co-purchase graph, 3 fixed LPA rounds:
        // per-round cost is one |E| join + two keyed aggs, so the
        // slope should track the edge count linearly (node-id label
        // domain grows with n, no dense hot key)
        val e = ordN.select(
            pmod(col("o_orderkey"), lit(200 * n)).as("src"),
            pmod(col("o_orderkey") * 31 + 7, lit(200 * n)).as("dst"))
        operators.Graph.labelPropagation(e, rounds = 3)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"cc_logstar_chain_${n}x") {
        // pathological diameter: a single chain of 2000·n links —
        // propagation would need 2000·n rounds; expect ~log growth in
        // rounds, near-linear wall-clock
        val m = 2000L * n
        val chain = spark.range(m)
          .select(col("id").as("a"), (col("id") + 1).as("b"))
        operators.Graph.connectedComponentsAlternating(
            spark.range(m + 1).toDF("id"), chain, maxRounds = 40)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"drift_psi_${n}x") {
        // two scans + two 16-key aggregations — expect linear
        operators.Drift.psiKs(
          evN.filter(pmod(col("user_id"), lit(2)) === 0),
          evN.filter(pmod(col("user_id"), lit(2)) === 1),
          "value", 16)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"line_dedup_${n}x") {
        // one line-hash shuffle + one id shuffle; amplified copies make
        // every line a cross-copy duplicate — the worst case
        val reflowed = docsN
          .withColumn("__toks", operators.TextAnalysis.tokens(col("text")))
          .withColumn("text_lines",
            when(size(col("__toks")) === 0, lit(""))
              .otherwise(concat_ws("\n",
                transform(
                  sequence(lit(0),
                    expr("(size(__toks) + 7) div 8").cast("int") - 1),
                  i => array_join(slice(col("__toks"), i * lit(8) + 1, lit(8)), " ")))))
        operators.Dedup.lineLevelDedup(reflowed, "doc_id", "text_lines")
          .write.format("noop").mode("overwrite").save()
      }
      // round 7b
      time(s"char_dup_spans_${n}x") {
        // amplified copies make every gram corpus-duplicated — full
        // coverage, the worst case for the island fold; the gram
        // shuffle itself is 8-byte hashes, linear in total codepoints
        operators.Dedup.duplicateCharSpans(docsN, "doc_id", "text",
            minLen = 24)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"repetition_stats_${n}x") {
        // within-doc only: every aggregation keyed by (id, ...) — no
        // cross-doc term, expect clean linear
        operators.TextAnalysis.repetitionStats(docsN, "doc_id", "text")
          .write.format("noop").mode("overwrite").save()
      }
      time(s"pipeline_e2e_${n}x") {
        // the composed curate->dedup->cluster->split->pack plan; slope
        // tracks the sum of its stages (the jaccard prefix join is the
        // only superlinear-risk term, bounded by shared-shingle volume)
        val reflowed = docsN
          .withColumn("__toks", operators.TextAnalysis.tokens(col("text")))
          .withColumn("text_lines",
            when(size(col("__toks")) === 0, lit(""))
              .otherwise(concat_ws("\n",
                transform(
                  sequence(lit(0),
                    expr("(size(__toks) + 7) div 8").cast("int") - 1),
                  i => array_join(slice(col("__toks"), i * lit(8) + 1, lit(8)), " ")))))
          .drop("__toks")
        val curated = docsN.join(
          operators.TextAnalysis.gopherQualityFilter(docsN, "doc_id",
              "text", minStopHits = 1L)
            .filter(col("keep") === 1).select("doc_id"),
          Seq("doc_id"))
        val deduped = operators.Dedup.lineLevelDedup(
            reflowed.join(curated.select("doc_id"), Seq("doc_id")),
            "doc_id", "text_lines")
          .select(col("id").as("doc_id"), col("text_dedup"))
        val pairs = operators.Dedup.ngramJaccardPairsPrefix(deduped,
          "doc_id", "text_dedup", n = 3, threshold = 0.8)
        val clusters = operators.Dedup.connectedComponents(
          deduped.select(col("doc_id").as("id")), pairs)
        operators.Sampling.split(clusters, col("cluster_rep"), 12, 2)
          .groupBy("split").agg(count(lit(1)))
          .write.format("noop").mode("overwrite").save()
      }
      time(s"token_shards_${n}x") {
        // weighted prefix sum over md5-byte buckets: one keyed shuffle
        // + bounded 256-row meta — expect clean linear; bucket count is
        // constant so per-bucket windows grow linearly but uniformly
        operators.Layout.tokenBalancedShards(
            docsN.withColumn("n_tokens",
              operators.TextAnalysis.tokenCount(col("text")).cast("long")),
            "doc_id", col("n_tokens"), nShards = 64)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"chunk_sentences_${n}x") {
        // pure per-doc projection (one aggregate fold per row): expect
        // clean linear, scan-bound
        operators.TextAnalysis.chunkBySentences(
            docsN.withColumn("text_s", regexp_replace(col("text"),
              "(\\S+ \\S+ \\S+ \\S+ \\S+) ", "$1. ")),
            "doc_id", "text_s", maxTokens = 24)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"heavy_hitters_by_key_${n}x") {
        // round-10 grouped sketch+recount: sketch pass shuffles one
        // sketch per partition per group, recount joins (key,item) on
        // candidates ≤ langs × tracked — expect near-linear (two scans
        // of the exploded token stream dominate; the amplified copies
        // keep per-lang shares identical so the candidate set, and the
        // recount agg's key space, is constant across multipliers)
        operators.Stats.exactHeavyHittersByKey(
            docsN.select(col("lang"),
              explode(operators.TextAnalysis.tokens(col("text"))).as("w")),
            col("lang"), col("w"), phi = 0.02)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"seeded_shuffle_shards_${n}x") {
        // round-10 epoch shuffle: one hash shuffle into shard-keyed
        // windows, each ranking ~n/numShards rows — expect near-linear
        // (no global sort; the only globally-ordered object is the
        // 64-entry shard key space)
        operators.Layout.seededShuffleShards(
            docsN.select("doc_id", "text"), "doc_id", "epoch3",
            numShards = 64)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"keep_best_per_cluster_${n}x") {
        // round-11 keep-policy: one id join + one cluster-keyed max_by
        // agg — expect near-linear. Synthetic clusters (id % (count/20))
        // scale the CLUSTER COUNT with the corpus at a FIXED ~20-member
        // group size (the modulus grows with count, so membership per
        // cluster stays constant) — the agg's key space grows linearly
        // while per-key work is bounded; the composed probe below
        // covers the Zipfian-membership case
        val members = docsN.count() / 20 max 1L
        operators.Dedup.keepBestPerCluster(
            docsN.select(col("doc_id"),
              (col("doc_id") % lit(members)).as("cluster_rep")),
            docsN.select(col("doc_id"), col("n_chars").as("score")),
            "doc_id", "cluster_rep", "score")
          .write.format("noop").mode("overwrite").save()
      }
      time(s"keep_best_composed_${n}x") {
        // round-12: the keep-policy composed with REAL clusters — the
        // q_dedup_best_survivors shape end-to-end (prefix-filtered
        // Jaccard pairs → propagation CC → max_by survivorship), so
        // cluster sizes follow the corpus's actual near-dup Zipf
        // (amplification multiplies every cluster's membership by n,
        // the adversarial direction for the agg) — expect the pair
        // join to dominate; the keep agg must stay a flat one-shuffle
        // add-on at every multiplier
        val pairs = operators.Dedup.ngramJaccardPairsPrefix(
          docsN, "doc_id", "text", n = 3, threshold = 0.8)
        val clusters = operators.Dedup.connectedComponents(
          docsN.select(col("doc_id").as("id")), pairs)
        operators.Dedup.keepBestPerCluster(clusters,
            docsN.select(col("doc_id"), col("n_chars").as("score")),
            "doc_id", "cluster_rep", "score")
          .write.format("noop").mode("overwrite").save()
      }
      time(s"cdc_dedup_${n}x") {
        // gear chunking is one linear mapPartitions pass; the dedup
        // rollup shuffles chunk CONTENT (expected 64-byte keys) once.
        // Amplified docs duplicate chunk content n×, so the groupBy's
        // key cardinality stays constant while rows scale — the
        // map-side partial agg must absorb that (near-flat slope is
        // the pass criterion, scan-bound)
        operators.Cdc.dedupStats(operators.Cdc.chunks(
            docsN.withColumn("payload", encode(col("text"), "UTF-8")),
            "doc_id", "payload", maskBits = 6))
          .write.format("noop").mode("overwrite").save()
      }
      time(s"kmeanspar_assign_${n}x") {
        // rounds+2 full scans against broadcast candidate literals,
        // driver work O(l·rounds·dim) — the slope must track the scan,
        // not the candidate count (which is corpus-independent)
        val embN = amplify(spark.read.parquet(s"$dir/embeddings.parquet"),
          Seq("vec_id"), n)
        operators.Clustering.kMeansAssignParallel(embN, k = 4, iters = 2)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"kmeanspar_wide_${n}x") {
        // k=64 (l=128): every init round scores via the broadcast-join
        // min-aggregate — per round, one broadcast of O(cands·dim)
        // literals and ONE map-side-combined shuffle of |rows| compact
        // rows; candidate count is corpus-independent, so the slope
        // must track the scan+shuffle, not k
        val embN = amplify(spark.read.parquet(s"$dir/embeddings.parquet"),
          Seq("vec_id"), n)
        operators.Clustering.kMeansAssignParallel(embN, k = 64, iters = 2)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"bigram_kn_${n}x") {
        // KN scoring self-trained on the amplified corpus: amplified
        // copies duplicate bigram CONTENT n×, so the model tables'
        // key space stays constant while counts scale — the two
        // training aggregations must absorb that in map-side combine,
        // and the three scoring joins shuffle on the (constant-size)
        // token keys; near-linear slope = scan-bound
        val docsK = docsN.withColumn("text",
          coalesce(col("text"), lit("")))
        operators.NgramLm.bigramKnScores(docsK, docsK, "doc_id", "text")
          .write.format("noop").mode("overwrite").save()
      }
      time(s"fivegram_kn_${n}x") {
        // order-5 KN (round 14): same content-duplication argument as
        // the bigram probe at 4 orders deep — per-order adjusted-count
        // aggregations absorb the n× counts map-side (key spaces are
        // corpus-content-bound, constant under amplification) and the
        // 9 scoring joins shuffle on constant-size gram keys; the
        // slope must stay scan-bound even with 2n-1 join legs
        val docsK = docsN.withColumn("text",
          coalesce(col("text"), lit("")))
        operators.NgramLm.knScores(docsK, docsK, "doc_id", "text", n = 5)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"doremi_${n}x") {
        // the EG mixture optimizer: ONE stratum-keyed map-side-combined
        // aggregation over the corpus + a driver loop over the bounded
        // domain table — the slope must track the scan alone (domains
        // and steps are corpus-size-independent); loss here is a cheap
        // anchored projection so the probe times the MIXING shape, not
        // a scorer
        val docsK = docsN.withColumn("text", coalesce(col("text"), lit("")))
          .withColumn("loss",
            (length(col("text")) % 7).cast("double") / 100.0)
          .withColumn("nt",
            greatest(length(col("text")).cast("long"), lit(1L)))
        operators.Sampling.doremiMix(docsK, col("doc_id"), col("lang"),
            col("loss"), col("nt"))
          .write.format("noop").mode("overwrite").save()
      }
      time(s"fivegram_kn_pruned_${n}x") {
        // pruned order-5 KN (round 15): the same content-duplication
        // argument as fivegram_kn — amplification multiplies COUNTS
        // while gram key spaces stay constant, so at mult x there are
        // no singletons left and the θ=1 prune keeps everything (ptot
        // = pn = 0 rollups). The probe therefore measures the PLAN's
        // slope — unpruned ladder + 4 rollup aggregations + 9 joins —
        // not the storage win (q_kn_pruned_size verifies that); it
        // must stay scan-bound like the unpruned twin
        val docsK = docsN.withColumn("text",
          coalesce(col("text"), lit("")))
        val m = operators.NgramLm.knCountsPruned(docsK, "doc_id", "text",
          n = 5, thresholds = k => if (k >= 4) 1L else 0L)
        operators.NgramLm.scoreWithPrunedModel(docsK, m,
            "doc_id", "text", n = 5)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"audio_spectral_${n}x") {
        // WAV round trip + per-frame 16-point FFT + per-bin micro-unit
        // pool — record-parallel map passes with ONE per-doc rollup
        // already inside the mapPartitions (no shuffle at all), so the
        // slope must track the scan; FFT cost is O(samples·log 16) per
        // doc, codec-CPU-bound like the other media probes
        val media = multimodal.Multimodal.asMedia(
          docsN.withColumn("payload",
            encode(coalesce(col("text"), lit("")), "UTF-8")),
          "doc_id", "payload", "text/plain")
        multimodal.Multimodal.spectralAudioFeatures(
            multimodal.Multimodal.encodePcmWav(media, sampleRate = 8000),
            frameSize = 16)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"pack_bfd_${n}x") {
        // best-fit-decreasing packing: the per-cell fold is
        // O(docs·bins) WITHIN a cell, so cells must not grow with the
        // corpus — the shards knob is that guarantee, and the probe
        // exercises it by scaling shards with the multiplier (4n:
        // constant expected cell size, the deployment rule). Slope
        // then tracks the one (group, shard) exchange + the folds
        operators.TextAnalysis.packSequencesBestFit(docsN,
            "doc_id", "text", "source", capacity = 512L, shards = 4 * n)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"audio_fp_extract_${n}x") {
        // landmark extraction is the same record-parallel FFT pass as
        // audio_spectral (zero shuffles) — linear by construction; the
        // MATCHING stage is deliberately not amplified here: content
        // duplication multiplies every hash bucket n×, so its Σ(bucket²)
        // join grows n² ON THE DUPLICATED corpus — the phash_pairs
        // framing, it measures the data's dup mass, not a plan defect
        val media = multimodal.Multimodal.asMedia(
          docsN.filter(length(encode(col("text"), "UTF-8")) > 0)
            .withColumn("payload", encode(col("text"), "UTF-8")),
          "doc_id", "payload", "text/plain")
        multimodal.Multimodal.audioFingerprints(
            multimodal.Multimodal.encodePcmWav(media, sampleRate = 8000),
            frameSize = 64)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"scene_changes_${n}x") {
        // mux → real demux → per-frame decode+histogram (map-only) →
        // per-video lag window (frames co-locate per id; no global
        // sort) — codec-CPU-bound, so the slope tracks the scan
        val media = multimodal.Multimodal.asMedia(
          docsN.filter(length(encode(col("text"), "UTF-8")) > 0)
            .withColumn("payload", encode(col("text"), "UTF-8")),
          "doc_id", "payload", "raw")
        import org.apache.spark.sql.SparkSession
        val s2 = media.sparkSession
        import s2.implicits._
        val avi = media.mapPartitions { it =>
          it.map { r =>
            val frames = multimodal.MediaCodecs.ByteSliceDemux
              .demux(r.payload, 64, 5)
              .map(f => multimodal.Multimodal.grayPngBytes(f._3, width = 16))
              .toSeq
            multimodal.Multimodal.MediaRecord(r.id, "video/x-msvideo",
              multimodal.AviMjpeg.mux(frames, width = 16, height = 4,
                fps = 5))
          }
        }
        multimodal.Multimodal.sceneChanges(
            multimodal.Multimodal.sampleFrames(avi, 0, 5), threshold = 40L)
          .write.format("noop").mode("overwrite").save()
      }
      time(s"phash_pairs_${n}x") {
        // dHash is a per-payload projection; the pair stage is the
        // pigeonhole banded equi-join. Amplification copies every
        // image n×, so each band bucket's membership scales n× and
        // pair cost Σ(bucket²) scales n² ON THE DUPLICATED buckets —
        // superlinear growth here is the corpus's true near-dup mass,
        // not a plan defect; the probe records the slope so the
        // banding's candidate discipline (equi-join, never all-pairs)
        // is what's being watched
        val media = multimodal.Multimodal.encodeGrayPng(
          multimodal.Multimodal.asMedia(
            docsN.filter(length(encode(col("text"), "UTF-8")) > 0)
              .withColumn("payload", encode(col("text"), "UTF-8")),
            "doc_id", "payload", "text/plain"), width = 16)
        multimodal.Multimodal.dHashPairs(
            multimodal.Multimodal.dHash(media), maxHamming = 3)
          .write.format("noop").mode("overwrite").save()
      }
    }
    spark.stop()
  }
}
