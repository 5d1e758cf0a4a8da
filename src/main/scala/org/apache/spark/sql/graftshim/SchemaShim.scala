package org.apache.spark.sql.graftshim

import org.apache.spark.sql.types.StructType

/** Re-exports `StructType.asNullable` (private[spark]): the schema a
  * file-source read hands out, every field nullable at every depth. */
object SchemaShim {
  def asNullable(s: StructType): StructType = s.asNullable
}
