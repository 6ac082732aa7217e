package org.apache.spark

/** Spark internals the harness needs, hence this package. */
object PerfbenchBus {
  /** Waits until every queued listener event is delivered, so each traced
    * operation's counts are complete before the next one starts. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Empties the process-wide cache of compiled generated code. */
  def clearCodegenCache(): Unit = {
    val gen = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val cache = gen.getClass.getDeclaredMethod("cache")
    cache.setAccessible(true)
    cache.invoke(gen).asInstanceOf[org.apache.spark.util.NonFateSharingCache[_, _]].invalidateAll()
  }
}
