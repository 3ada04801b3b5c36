package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes
import org.apache.spark.sql.types.{AbstractDataType, DataType}

/** Access shim: Spark 4 declares `AbstractDataType` `private[sql]`, so
  * expressions living in the `graft` namespace cannot *name* the return
  * type of `ExpectsInputTypes.inputTypes` even though the trait itself
  * is accessible. This trait (compiled inside the `org.apache.spark.sql`
  * package, where the type is visible) forwards the contract through
  * the fully-public [[DataType]]: graft expressions implement
  * `graftInputTypes: Seq[DataType]` and get analysis-time input type
  * checking — `nfc_normalize(<int>)` through the SQL registry becomes
  * a DATATYPE_MISMATCH analysis error instead of a runtime
  * ClassCastException or codegen compile failure.
  *
  * Concrete `DataType`s cover every graft expression (strings, longs,
  * `array<double>`) but `band_keys`, which takes an `array<int>` or an
  * `array<bigint>` and checks that itself; none needs the abstract
  * type-collection forms (`TypeCollection`, `NumericType`), so nothing
  * private leaks into the graft-facing signature. */
trait GraftExpectsInputTypes extends ExpectsInputTypes {

  /** The expected concrete input types, one per child. */
  def graftInputTypes: Seq[DataType]

  override def inputTypes: Seq[AbstractDataType] = graftInputTypes
}
