/** graft — a Spark-native analytics engine with the capabilities of the
  * kaylee MapReduce framework, extended for LLM-data-pipeline work.
  *
  * Entry points:
  *  - [[graft.core.MapReduce]] / [[graft.core.MapReduceJob]] — the typed
  *    parity surface (`datafn → map → shuffle → reduce → collect`)
  *  - [[graft.operators.TextAnalysis]], [[graft.operators.Dedup]],
  *    [[graft.operators.Similarity]], [[graft.operators.Events]],
  *    [[graft.operators.Sampling]], [[graft.operators.Curation]] —
  *    the pipeline operator families
  *  - [[graft.streaming.StreamingOps]] — the same event operators,
  *    incremental
  *  - [[graft.sources.Sources]] / [[graft.sources.Sinks]] — layout-aware
  *    IO
  *  - [[graft.functions.GraftFunctions]] — the native Catalyst
  *    expressions as Column constructors, plus the one table of their
  *    16 SQL names
  *  - [[graft.GraftExtensions]] — SparkSessionExtensions hook that
  *    injects that table for SQL use
  *  - [[graft.SparkEntry]] — the driver/verification contract: every
  *    operator as a named query with a DuckDB oracle
  *
  * Design rules are documented in README.md; scale behavior per operator
  * family in SCALE.md; the reference mapping in SURVEY.md §8.
  */
package object graft
