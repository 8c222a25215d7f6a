package org.apache.spark

import org.apache.spark.sql.types.StructType

/** Spark internals the specs need and Spark keeps package-private: the
  * listener bus's drain (so every job event has reached a listener
  * before a spec reads it) and a schema's all-nullable form (how a file
  * source reports any schema it reads).
  */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def asNullable(schema: StructType): StructType = schema.asNullable
}
