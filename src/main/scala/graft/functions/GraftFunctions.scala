package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression,
  ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.graft.GraftColumns.{column, expression}
import org.apache.spark.sql.types.BinaryType

/** graft's native Catalyst expressions, in one place.
  *
  * Two surfaces, one source of truth:
  *
  *  - **Scala Columns.** The typed constructors below (`vectorDot`,
  *    `minHashAgg`, `bloomProbe`, …) build each expression directly and
  *    wrap it with [[org.apache.spark.sql.graft.GraftColumns]]. Nothing
  *    is looked up by name, so they work in every session — including a
  *    fresh `spark.newSession()` that nobody registered anything in.
  *    Arguments that the expression bakes in (hash counts, k-gram sizes,
  *    bloom bytes, PQ codebooks) are Scala values, not literal Columns.
  *  - **SQL text.** [[table]] lists every function as Spark's
  *    `(identifier, info, builder)` triple. [[graft.GraftExtensions]]
  *    injects the whole table at session build time; [[register]]
  *    installs it into an already-built session (`GraftSql`, tests).
  *
  * Where a SQL builder and a Column constructor take the same bounded
  * argument, both go through one check: the expression's own
  * constructor, or a shared helper (`minhash_agg`'s numHashes range). */
object GraftFunctions {

  private def fn(name: String, cls: Class[_], builder: FunctionBuilder)
      : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)

  /** Every SQL-callable native function: name, expression class, builder. */
  val table: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("rolling_hash", classOf[RollingHash],
      exprs => RollingHash(exprs.head, RollingHash.DefaultBase, RollingHash.DefaultMod)),
    fn("vector_dot", classOf[VectorDot], exprs => VectorDot(exprs(0), exprs(1))),
    fn("minhash_agg", classOf[MinHashAgg], buildMinHashAgg),
    fn("char_entropy", classOf[CharEntropy], exprs => CharEntropy(exprs.head)),
    fn("count_in", classOf[CountInExpr], CountIn.build),
    fn("nfc_normalize", classOf[NfcNormalize], exprs => NfcNormalize(exprs.head)),
    fn("bloom_agg", classOf[BloomFilterAggregate], buildBloomAgg),
    fn("bloom_contains", classOf[BloomFilterMightContain], buildBloomContains),
    fn("bloom_probe", classOf[BloomProbe], buildBloomProbe),
    fn("chunk_ids", classOf[ChunkIdsExpr], ChunkIds.build),
    fn("bfd_bin_ids", classOf[BfdBinIdsExpr], BfdBinIds.build),
    fn("char_ngram_features", classOf[CharNgramFeaturesExpr], CharNgramFeatures.build),
    fn("winnow_fps", classOf[WinnowFpsExpr], WinnowFps.build),
    fn("kgram_hashes", classOf[KgramHashesExpr], WinnowFps.buildKgramHashes),
    fn("pq_encode", classOf[PqEncodeExpr], PqOps.buildEncode),
    fn("pq_adc_lut", classOf[PqAdcLutExpr], PqOps.buildAdcLut),
    fn("band_keys", classOf[BandKeysExpr], BandKeys.build))

  /** Install [[table]] into a session built without [[graft.GraftExtensions]],
    * so SQL text can name the functions. Names the registry already has
    * are skipped: a repeat call is a no-op (and logs no "function
    * replaced" WARN). Scala code never needs this — the constructors
    * below resolve by construction. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    table.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
  }

  // ---- Column constructors ----

  /** [[RollingHash]] of a string column (base 31, mod 1e9+7). */
  def rollingHash(text: Column): Column =
    column(RollingHash(expression(text), RollingHash.DefaultBase, RollingHash.DefaultMod))

  /** [[VectorDot]]; both sides must already be `array<double>`. */
  def vectorDot(a: Column, b: Column): Column =
    column(VectorDot(expression(a), expression(b)))

  /** [[MinHashAgg]] signature aggregate of `numHashes` minima. */
  def minHashAgg(value: Column, numHashes: Int): Column =
    column(minHashAggExpr(expression(value), numHashes))

  /** [[CharEntropy]] of a string column, in bits per character. */
  def charEntropy(text: Column): Column = column(CharEntropy(expression(text)))

  /** [[CountInExpr]]: how many elements of `tokens` are in `words`. */
  def countIn(tokens: Column, words: Seq[String], lowercase: Boolean): Column =
    column(CountInExpr(expression(tokens), words, lowercase))

  /** [[NfcNormalize]] of a string column. */
  def nfcNormalize(text: Column): Column = column(NfcNormalize(expression(text)))

  /** Spark's `BloomFilterAggregate` over `xxhash64(key)` values → the
    * serialized sketch (binary). */
  def bloomAgg(hash: Column, expectedItems: Long, numBits: Long): Column =
    column(new BloomFilterAggregate(expression(hash), Literal(expectedItems),
      Literal(numBits)).toAggregateExpression())

  /** [[BloomProbe]] of `xxhash64(key)` values against sketch bytes from
    * [[bloomAgg]]. The bytes are deserialized here, once, and never
    * enter the plan as a literal. */
  def bloomProbe(hash: Column, bloomBytes: Array[Byte]): Column =
    column(BloomProbe(expression(hash), BloomProbe.fromBytes(bloomBytes)))

  /** [[ChunkIdsExpr]] over per-sentence token counts (`array<bigint>`). */
  def chunkIds(counts: Column, maxTokens: Column): Column =
    column(ChunkIdsExpr(expression(counts), expression(maxTokens)))

  /** [[BfdBinIdsExpr]] over descending token counts (`array<bigint>`). */
  def bfdBinIds(counts: Column, capacity: Column): Column =
    column(BfdBinIdsExpr(expression(counts), expression(capacity)))

  /** [[CharNgramFeaturesExpr]]: hashed char `n`-gram frequencies, `dim` buckets. */
  def charNgramFeatures(text: Column, n: Int, dim: Int): Column =
    column(CharNgramFeaturesExpr(expression(text), n, dim))

  /** [[WinnowFpsExpr]]: winnowing fingerprints of `k`-grams over `window`. */
  def winnowFps(text: Column, k: Int, window: Int): Column =
    column(WinnowFpsExpr(expression(text), k, window))

  /** [[KgramHashesExpr]]: per-position hashes of codepoint `k`-grams. */
  def kgramHashes(text: Column, k: Int): Column =
    column(KgramHashesExpr(expression(text), k))

  /** [[PqEncodeExpr]]: per-subspace nearest code of an `array<double>`
    * vector under `codebooks` (code id, centroid per subspace). */
  def pqEncode(vec: Column, codebooks: Seq[Seq[(Int, Seq[Double])]]): Column =
    column(PqEncodeExpr(expression(vec), PqModel.fromCodebooks(codebooks)))

  /** [[PqAdcLutExpr]]: the classic ADC table for a query vector —
    * `lut[s][code]` = clamped squared distance from the query's
    * subspace-s slice to that code's centroid, indexed DENSELY by code
    * value (Lloyd training can drop an emptied cluster, so code ids may
    * be non-contiguous; vanished ids hold MaxValue, which encode can
    * never emit). Scoring a pair then costs `subspaces` array lookups. */
  def pqAdcLut(q: Column, codebooks: Seq[Seq[(Int, Seq[Double])]]): Column =
    column(PqAdcLutExpr(expression(q), PqModel.fromCodebooks(codebooks)))

  /** [[BandKeysExpr]]: the `bands` LSH band keys of an `array<bigint>`
    * or `array<int>` signature of (at least) `numHashes` elements, each
    * band's `numHashes / bands` values joined with `sep`. */
  def bandKeys(sig: Column, numHashes: Int, bands: Int, sep: String): Column =
    column(BandKeysExpr(expression(sig), numHashes, bands, sep))

  // ---- SQL builders (the [[table]] entries that parse literals) ----

  /** `bloom_agg(xxhash64(key), estimatedItems, numBits)` → binary
    * sketch: Spark's internal runtime-filter bloom aggregate, which
    * Spark itself only wires up inside `InjectRuntimeFilter`. Exposing
    * it gives explicit bloom-pruned joins ([[graft.operators.BloomPrune]])
    * the same partial+final distributed sketch build. */
  def buildBloomAgg(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3,
      s"bloom_agg(value, estimatedItems, numBits) takes 3 arguments, got ${exprs.length}")
    new BloomFilterAggregate(exprs(0), exprs(1), exprs(2)).toAggregateExpression()
  }

  /** `bloom_probe(xxhash64(key), bloomBytesLiteral)` — graft's
    * [[BloomProbe]]: the sketch bytes are extracted from the literal AT
    * RESOLUTION TIME and carried as a deserialized object outside the
    * plan tree (a multi-MB binary literal inside the plan is
    * catastrophically non-linear to process; see BloomProbe scaladoc).
    */
  def buildBloomProbe(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      s"bloom_probe(hash, bloomBytes) takes 2 arguments, got ${exprs.length}")
    val bytes = exprs(1) match {
      case Literal(b: Array[Byte], BinaryType) => b
      case other => throw new IllegalArgumentException(
        s"bloom_probe's second argument must be a binary literal, got $other")
    }
    BloomProbe(exprs.head, BloomProbe.fromBytes(bytes))
  }

  /** `bloom_contains(bloomBinary, xxhash64(key))` — Spark's internal
    * `BloomFilterMightContain` predicate (codegen'd; the binary operand
    * must be a literal or scalar subquery, per its own type check). */
  def buildBloomContains(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      s"bloom_contains(bloom, value) takes 2 arguments, got ${exprs.length}")
    BloomFilterMightContain(exprs(0), exprs(1))
  }

  /** `minhash_agg(value, numHashes)` with an integer-literal numHashes. */
  def buildMinHashAgg(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      s"minhash_agg(value, numHashes) takes 2 arguments, got ${exprs.length}")
    val k = exprs(1) match {
      case Literal(v: Int, _) => v
      case Literal(v: Long, _) => v.toInt
      case other => throw new IllegalArgumentException(
        s"minhash_agg numHashes must be an integer literal, got $other")
    }
    minHashAggExpr(exprs.head, k)
  }

  /** The one numHashes range check, shared by [[buildMinHashAgg]] and
    * [[minHashAgg]]. */
  private def minHashAggExpr(value: Expression, numHashes: Int): Expression = {
    require(numHashes > 0 && numHashes <= MinHashAgg.MaxHashes,
      s"numHashes must be in (0, ${MinHashAgg.MaxHashes}]")
    MinHashAgg(value, numHashes).toAggregateExpression()
  }
}
