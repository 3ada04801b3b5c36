package graft

import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions hook: injects every entry of
  * [[graft.functions.GraftFunctions.table]] into the session's function
  * registry at build time, so SQL text such as
  * `spark.sql("SELECT rolling_hash(text) ...")` resolves in any session
  * built with
  *
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions)...
  * }}}
  *
  * or `--conf spark.sql.extensions=graft.GraftExtensions` on a cluster.
  * Scala code needs neither this nor `GraftFunctions.register`: the
  * GraftFunctions Column constructors build the expressions directly.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    graft.functions.GraftFunctions.table.foreach(ext.injectFunction)
}
