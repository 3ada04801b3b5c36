package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.storage.StorageLevel

/** ns/row of `minhash_agg`, the one graft SQL function the workloads'
  * executed plans call, over the workload's own `documents` tokens,
  * codegen'd and interpreted. The first 500 documents are split on spaces
  * and cached, about 27k tokens. Each figure is the median of three timed
  * executions through the noop sink of a per-document
  * `minhash_agg(token, 128)`, minus the median of a per-document `count`
  * of the same tokens, divided by the token count.
  */
object Functions {
  val Docs = 500
  val Reps = 3

  private def time(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def medianTime(df: DataFrame): Double = {
    time(df) // warm-up
    Seq.fill(Reps)(time(df)).sorted.apply(Reps / 2)
  }

  def measure(spark: SparkSession, data: String): Json = {
    val tokens = spark.read.parquet(s"$data/documents.parquet").limit(Docs)
      .select(col("doc_id").as("row"), expr("explode(split(text, ' '))").as("w"))
      .persist(StorageLevel.MEMORY_ONLY)
    val n = tokens.count()
    val out = new Json().put("token_rows", n)
    val modes = Seq(
      "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "FALLBACK"),
      "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    try modes.foreach { case (mode, confs) =>
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val base = medianTime(tokens.groupBy(col("row")).agg(expr("count(w)")))
      val t = medianTime(tokens.groupBy(col("row")).agg(expr("minhash_agg(w, 128)")))
      out.put(s"minhash_agg.$mode", (t - base) * 1e9 / n)
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
      tokens.unpersist(blocking = true)
    }
    out
  }
}
