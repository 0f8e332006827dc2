package org.apache.spark.sql.perfbench

import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.DataType

/** Spark's `xxhash64` of one value, computed on the driver with Catalyst's
  * interpreted hash function (seed 42, as the SQL function uses). */
object RowHash {
  def xxhash64(value: Any, dataType: DataType): Long =
    XxHash64Function.hash(CatalystTypeConverters.convertToCatalyst(value), dataType, 42L)
}
