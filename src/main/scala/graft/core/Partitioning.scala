package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Partitioning utilities — the engine-side answer to SURVEY.md §2 row 5.
  *
  * The reference's PARTITION state is an explicit no-op ("ZMQ PUSH/PULL
  * load balances for us", `server.py:243-247`): record-level fair
  * queuing, no key partitioner at all. On Spark the shuffle IS hash
  * partitioning; what an engine must add for 100 TB is SKEW handling —
  * a single hot key (empty document fingerprint, null-ish user, stopword
  * shingle) otherwise pins one reducer while 999 executors idle.
  */
object Partitioning {

  /** Custom RDD partitioner: hash partitioning with an explicit
    * hot-key override — each listed hot key gets a RESERVED partition,
    * everything else hashes over the remainder. The RDD-level
    * counterpart of [[saltedSumCount]] for workloads where the skewed
    * key must stay intact (per-key ordered processing, stateful
    * mapPartitions) instead of being salted apart. */
  class HotKeyAwarePartitioner(val partitions: Int, hotKeys: Seq[Any])
      extends org.apache.spark.Partitioner {
    require(partitions > hotKeys.size, "need partitions beyond the hot set")
    private val hot = hotKeys.zipWithIndex.toMap
    override def numPartitions: Int = partitions
    override def getPartition(key: Any): Int = hot.get(key) match {
      case Some(i) => i
      case None =>
        val h = key.## % (partitions - hot.size)
        hot.size + (if (h < 0) h + (partitions - hot.size) else h)
    }
    override def equals(other: Any): Boolean = other match {
      case p: HotKeyAwarePartitioner =>
        p.partitions == partitions && p.hot == hot
      case _ => false
    }
    override def hashCode(): Int = partitions * 31 + hot.hashCode()
  }

  /** Partition an RDD of key-value pairs with [[HotKeyAwarePartitioner]]
    * — kaylee's PARTITION state (`server.py:243-247`, a no-op) made
    * real: keys are co-located AND the known-hot keys can't swamp a
    * random peer. */
  def partitionByHotKeys[K, V](rdd: org.apache.spark.rdd.RDD[(K, V)],
      numPartitions: Int, hotKeys: Seq[K])(
      implicit kt: scala.reflect.ClassTag[K], vt: scala.reflect.ClassTag[V])
      : org.apache.spark.rdd.RDD[(K, V)] =
    rdd.partitionBy(new HotKeyAwarePartitioner(numPartitions, hotKeys))

  /** Salted equi-join for a skewed fact side: the fact table gets a
    * deterministic per-row salt in [0, saltBuckets), the dimension side
    * is replicated once per salt value, and the join key becomes
    * (key, salt) — so a hot fact key spreads over `saltBuckets`
    * reducers instead of pinning one. Results are identical to the
    * plain equi-join (verified by oracle + spec).
    *
    * When this is the right tool: the dim side is too big to broadcast
    * but cheap to replicate ×saltBuckets, and the fact side has keys
    * hot enough that AQE's skew-split (which only splits one side's
    * oversized partitions post-shuffle) isn't available or isn't
    * enough. For a broadcastable dim, broadcast — salting a broadcast
    * join is pure overhead.
    *
    * `saltFrom` must be row-unique-ish fact columns (an id, or the
    * natural key tuple) — NOT the join key itself, which would put the
    * whole hot key in one bucket again. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, factKey: String,
      dimKey: String, saltFrom: Seq[Column], saltBuckets: Int): DataFrame = {
    require(saltBuckets > 1, "saltBuckets must exceed 1")
    require(!fact.columns.contains("__salt") && !dim.columns.contains("__salt"),
      "inputs already carry a __salt column — rename it before saltedJoin " +
        "(the working column would be clobbered and dropped)")
    val f = fact.withColumn("__salt",
      pmod(xxhash64(saltFrom: _*), lit(saltBuckets)).cast("int"))
    val d = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    f.join(d, f(factKey) === d(dimKey) && f("__salt") === d("__salt"))
      .drop("__salt")
  }

  /** Two-stage salted aggregation for skewed keys: stage 1 aggregates on
    * (key, salt) — spreading a hot key over `saltBuckets` reducers —
    * stage 2 merges the per-salt partials. Works for any algebraic
    * aggregate (sum/count/min/max here); identical results to the direct
    * groupBy, verified by oracle.
    *
    * The salt must be deterministic per ROW but uniform per KEY:
    * hashing a unique row id does that without RNG. */
  def saltedSumCount(df: DataFrame, key: Column, value: Column,
      saltCol: Column, saltBuckets: Int): DataFrame =
    df.select(key.as("k"), value.as("v"),
        pmod(xxhash64(saltCol), lit(saltBuckets)).as("salt"))
      .groupBy(col("k"), col("salt"))
      .agg(sum(col("v")).as("part_sum"), count(lit(1)).as("part_n"))
      .groupBy(col("k"))
      .agg(sum(col("part_sum")).as("sum_v"), sum(col("part_n")).as("n"))
}
