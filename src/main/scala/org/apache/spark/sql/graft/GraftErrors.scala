package org.apache.spark.sql.graft

import org.apache.spark.sql.errors.QueryExecutionErrors

/** Access shim (like [[GraftColumns]]): Spark's error constructors are
  * `private[sql]`, so a graft expression that must fail exactly as a
  * built-in one does reaches them through here. */
object GraftErrors {

  /** ANSI `element_at`'s INVALID_ARRAY_INDEX_IN_ELEMENT_AT error for a
    * 1-based `index` past an array of `numElements`. */
  def invalidElementAtIndex(index: Int, numElements: Int): ArrayIndexOutOfBoundsException =
    QueryExecutionErrors.invalidElementAtIndexError(index, numElements, null)
}
