package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The candidate-pair join shared by every blocked near-dup operator:
  * map each row to its blocking keys, shuffle on the key, and emit the
  * pairs of rows that share a key — kaylee's map → shuffle → reduce
  * applied to pairs (cf. V-SMART-Join, VLDB 2012). The families differ
  * only in their keys (shingle, LSH band, Hamming block, cluster, term,
  * landmark hash) and in how they dedup and score the candidates, so
  * both stay with the family; the two rules below live here only.
  *
  *  - CANONICAL ORDER: a self join emits each unordered pair once, as
  *    `a < b`. A row is never paired with itself.
  *  - IDENTITY IS NOT NEAR-DUPLICATION: a cross join of an ingest batch
  *    against a corpus drops `a = b`, the degenerate pair of an id that
  *    is re-ingested while already in the corpus.
  *
  * Rows with a null id or a null key pair with nothing. A pair that
  * shares k keys appears k times; the caller dedups (`distinct` on the
  * ids, a lowest-matching-block projection, or a `groupBy(a, b)` that
  * counts the shared keys). Keys keep their names, so a bucketed
  * persisted index (e.g. a band table bucketed on `band_key`) keeps its
  * bucket join. Cross forms rename `a`/`b` in their own final select.
  */
object Pairs {

  private def side(t: DataFrame, id: String, keys: Seq[String],
      carry: Seq[String], s: String): DataFrame =
    t.select((col(id).as(s) +: keys.map(col)) ++
      carry.map(c => col(c).as(s"${c}_$s")): _*)

  /** One row per (pair, shared key) of `t` with `a < b`: columns
    * `keys`, `a`, `<carry>_a`, `b`, `<carry>_b`. */
  def self(t: DataFrame, id: String, keys: Seq[String],
      carry: String*): DataFrame =
    side(t, id, keys, carry, "a").join(side(t, id, keys, carry, "b"), keys)
      .filter(col("a") < col("b"))

  /** One row per (pair, shared key) of `batch` × `corpus` with `a ≠ b`
    * (`a` from the batch): the columns of [[self]]. */
  def cross(batch: DataFrame, corpus: DataFrame, id: String,
      keys: Seq[String], carry: String*): DataFrame =
    side(batch, id, keys, carry, "a").join(side(corpus, id, keys, carry, "b"), keys)
      .filter(col("a") =!= col("b"))

  /** Attach per-id columns to both ends of `pairs`: `cols` of `aSide`
    * as `<col>_a` on `a`, of `bSide` as `<col>_b` on `b` (self forms pass
    * the same table twice). */
  def withSides(pairs: DataFrame, aSide: DataFrame, bSide: DataFrame,
      id: String, cols: String*): DataFrame =
    pairs.join(side(aSide, id, Nil, cols, "a"), Seq("a"))
      .join(side(bSide, id, Nil, cols, "b"), Seq("b"))

  /** Cosine from a dot product and the product of the two norms; NULL
    * when a norm is 0 (an all-zero embedding, or a document whose every
    * term is in every document), so the caller's `cos >= threshold`
    * drops the pair, and a top-k's `desc(cos)` ranks it after every
    * scored neighbour, instead of ANSI mode's `x / 0.0` failing the
    * query. */
  def cosine(dot: Column, normProduct: Column): Column =
    try_divide(dot, normProduct)

  /** Pigeonhole blocks of a `bits`-wide signature: `maxHamming + 1`
    * disjoint bit ranges of width `bits / blocks` (the last takes the
    * remainder), each the unsigned slice `[lo, lo + width)`. Two
    * signatures within Hamming distance `maxHamming` agree exactly on at
    * least one block, so an equi-join on (block index, block value) is a
    * lossless candidate join. At `maxHamming >= bits` some block would
    * be 0 bits wide and match every pair, so that is refused. */
  def hammingBlocks(sig: Column, bits: Int, maxHamming: Int): Seq[Column] = {
    require(maxHamming >= 0 && maxHamming < bits,
      s"maxHamming must be in [0, $bits), got $maxHamming")
    val blocks = maxHamming + 1
    val width = bits / blocks
    (0 until blocks).map { bi =>
      val lo = bi * width
      val w = if (bi == blocks - 1) bits - lo else width
      shiftrightunsigned(sig, lo).bitwiseAND(if (w >= 64) -1L else (1L << w) - 1)
    }
  }
}
