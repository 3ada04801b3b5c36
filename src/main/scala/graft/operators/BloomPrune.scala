package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bloom-filter join pruning — the "semi-join reduction" every engine
  * reaches for when a selective dimension filters a huge fact table:
  * build a compact bloom sketch of the dimension's join keys, filter
  * the fact table against it BEFORE the join shuffle, then run the
  * exact join on the survivors.
  *
  * Spark applies this automatically in narrow cases
  * (`InjectRuntimeFilter`), but only one filter per query and only
  * under size heuristics; this operator is the explicit form a
  * pipeline uses when it KNOWS the dim side is selective (e.g. "only
  * orders flagged urgent" against a 100 TB lineitem scan).
  *
  * Scale shape: the sketch build is a distributed partial+final
  * aggregation of the dim side (Spark's own `BloomFilterAggregate`,
  * built by [[graft.functions.GraftFunctions.bloomAgg]]); only the final
  * ~`numBits/8`-byte bitmap returns to the driver and re-enters the
  * plan inside the probe expression — the same round trip Spark's
  * runtime filters make. The fact side is filtered at the scan (codegen'd
  * `might_contain` on `xxhash64(key)`, no shuffle), so the join's
  * shuffle moves only `|matching| + ε·|fact|` rows instead of |fact|.
  * The trailing exact semi-join removes the ε false positives —
  * results are bit-identical to the unpruned join.
  *
  * The reference has no joins at all (SURVEY.md §2 "Absent
  * categories"); this is extension surface.
  */
object BloomPrune {

  /** Binary bloom sketch of `keyCol` over `df`, built distributed,
    * collected to the driver (one row, ~numBits/8 bytes). */
  def keyFilter(df: DataFrame, keyCol: String,
      expectedItems: Long, numBits: Long): Array[Byte] = {
    df.select(graft.functions.GraftFunctions.bloomAgg(xxhash64(col(keyCol)),
        expectedItems, numBits).as("bf"))
      .head.getAs[Array[Byte]]("bf")
  }

  /** Fact rows whose `factKey` appears in `dim`'s `dimKey` — an exact
    * left-semi join, with the fact side pre-pruned by the dim-side
    * bloom sketch so the shuffle only carries probable matches. */
  def semiJoin(fact: DataFrame, factKey: String, dim: DataFrame, dimKey: String,
      expectedItems: Long = 1000000L, numBits: Long = 8L * 1024 * 1024): DataFrame = {
    // xxhash64 is TYPE-sensitive: hashing an INT dim key and a BIGINT
    // fact key yields disjoint hash spaces and the bloom filter would
    // silently reject EVERY true match (a false negative, which the
    // exact post-join cannot recover). Cast the dim key to the fact
    // key's type first — any dim value equal to some fact value is by
    // definition representable in it, so the cast is exact for all
    // matchable keys; non-representable values could only add false
    // positives, which the exact semi-join removes.
    val factType = fact.schema(factKey).dataType
    val dimKeys = dim.select(col(dimKey).cast(factType).as(factKey))
    val bf = keyFilter(dimKeys, factKey, expectedItems, numBits)
    // null sketch = empty dim side (the aggregate saw no rows): nothing
    // can match, so prune everything rather than probing a null sketch.
    // bloom_probe (not might_contain): the sketch is deserialized once
    // and carried OUTSIDE the plan tree — a multi-MB binary literal in
    // the plan is catastrophically non-linear to process (see
    // functions.BloomProbe), and at 100 TB the filter should be sized
    // in the hundreds of MB.
    val pruned =
      if (bf == null) fact.filter(lit(false))
      else fact.filter(
        graft.functions.GraftFunctions.bloomProbe(xxhash64(col(factKey)), bf))
    pruned.join(dimKeys.distinct(), Seq(factKey), "left_semi")
  }
}
