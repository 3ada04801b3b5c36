package graft.core

import org.apache.spark.sql.{DataFrame, Dataset}

/** Read-side fan-out for CPU-heavy per-row operators.
  *
  * The benchmark inputs are single parquet files with ONE row group
  * each, so every scan plans exactly one task: the whole pre-shuffle
  * pipeline — codec decode, FFT frames, tokenize/shingle explodes,
  * map-side partial aggregation — runs on one core of the cluster
  * while the other cores idle (guide §2.5 "input skew: one huge
  * unsplittable file … repartition immediately after the read";
  * `spark.sql.files.*` split knobs cannot help because a single row
  * group is not splittable).
  *
  * [[fanOut]] repartitions such inputs to the cluster's default
  * parallelism — but ONLY when the optimizer's size estimate says the
  * input is tiny (< [[TinyInputBytes]]). The guard is what makes this
  * scale-honest rather than a local[32] hack: at production scale the
  * scan stats are far above the bound, the branch never fires, and the
  * plan is byte-identical to today's — no added exchange. When it does
  * fire, the exchange it adds moves < 64 MB by construction, paying a
  * trivial shuffle to unlock full-cluster parallelism for the CPU work
  * above it. Streaming frames pass through untouched (their
  * micro-batch partitioning is the source's business, and several
  * batch operators here are reused as streaming twins).
  *
  * Round-robin repartition is deterministic under task retry
  * (`spark.sql.execution.sortBeforeRepartition` stays on), and every
  * downstream aggregate in this repo is already partition-order-
  * independent (the integer micro-unit anchoring convention), so
  * results are unchanged by construction.
  */
object Parallelism {

  /** Inputs estimated under this are "tiny": the fan-out shuffle moves
    * less than one default shuffle-partition's worth of bytes. */
  val TinyInputBytes: Long = 64L * 1024 * 1024

  /** Fan a tiny batch input out to `defaultParallelism` partitions;
    * identity on streaming frames, big inputs, and 1-core masters. */
  def fanOut(df: DataFrame): DataFrame =
    if (shouldFanOut(df)) df.repartition(target(df)) else df

  /** [[fanOut]]'s mirror image for the WRITE side of a bucketed table:
    * fan a tiny input IN to exactly `numBuckets` hash partitions on the
    * bucket columns. A bucketed write emits one file per (task, bucket)
    * pair with data, so a map-only pipeline that kept [[fanOut]]'s 32
    * partitions into the sink pays up to 32× the files — and every
    * footer — of the same table written from one partition (measured:
    * q_audio_fp_incremental_persisted 2.0× slower end-to-end from the
    * 256-file index alone). `repartition(n, cols)` hash-partitions with
    * the same Murmur3-pmod the bucket id uses, so each task then holds
    * exactly one bucket and the table lands as ONE file per bucket.
    * The same < [[TinyInputBytes]] stats guard keeps this a no-op at
    * production sizes, where many files per bucket is the correct
    * layout and collapsing to `numBuckets` tasks would serialize the
    * write. Identity on streaming frames. */
  def fanIn(df: DataFrame, numBuckets: Int, cols: Seq[String]): DataFrame =
    if (!df.isStreaming &&
        df.queryExecution.optimizedPlan.stats.sizeInBytes <
          BigInt(TinyInputBytes))
      df.repartition(numBuckets,
        cols.map(org.apache.spark.sql.functions.col): _*)
    else df

  private def target(ds: Dataset[_]): Int =
    ds.sparkSession.sparkContext.defaultParallelism

  private def shouldFanOut(ds: Dataset[_]): Boolean = {
    if (ds.isStreaming) return false
    if (target(ds) <= 1) return false
    // optimizer size estimate: file-backed plans report the scan's
    // byte size; already-materialized plans (localCheckpoint blocks)
    // report the conservative default (huge) and correctly skip the
    // fan-out — their partitioning came from a real shuffle already
    ds.queryExecution.optimizedPlan.stats.sizeInBytes <
      BigInt(TinyInputBytes)
  }
}
