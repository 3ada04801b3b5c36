package graft.core

import org.apache.spark.sql.{Dataset, SparkSession}

/** Word count — the reference's one executable specification
  * (`example.py:22-29`: whitespace tokenization, case- and
  * punctuation-sensitive, reduce = sum; `example.py:45`: top-k report).
  */
object WordCount {

  /** Tokenization matching `example.py:24` (`v.split()`): split on runs of
    * whitespace, drop empty tokens, preserve case and punctuation. */
  def tokens(line: String): Array[String] =
    line.split("\\s+").filter(_.nonEmpty)

  /** Counts via the MapReduce core's associative fast path: each map
    * partition sums its `(word, 1)` pairs per word in the in-mapper
    * combiner (bounded at `1 << 16` words before it flushes), so the
    * shuffle moves one row per distinct word per partition — unlike the
    * reference, which ships every `(word, 1)` through the driver
    * (`server.py:283-287`). */
  def counts(lines: Dataset[(Long, String)]): Dataset[(String, Long)] = {
    val spark = lines.sparkSession
    import spark.implicits._
    // no read-side fan-out: whitespace tokenization is too cheap per
    // row to repay the extra exchange (round-16 driver bench: fanned
    // mr_wordcount ran 0.50x, 2.3x its baseline)
    MapReduce.runReduced[Long, String, String, Long](
      lines,
      (_, line) => tokens(line).map(w => (w, 1L)),
      _ + _)
  }

  /** End-to-end: text file → top-k `(word, count)`, the full reference
    * pipeline (`example.py:39-45`) minus its `[1:25]` off-by-one. */
  def topWords(spark: SparkSession, path: String, k: Int): Array[(String, Long)] =
    MapReduce.topK(counts(graft.sources.Sources.textWithIndex(spark, path)), k)
}
