package org.apache.spark.sql

import org.apache.spark.sql.execution.columnar.{CachedRDDBuilder, InMemoryRelation, InMemoryTableScanExec}

/** The session cache's table type is package-private; the benchmark sees a
  * cached table only as an opaque reference with these four questions. */
object PerfbenchCache {
  /** Cached tables the query plan of `df` reads, as the cache manager
    * substitutes them now. */
  def tables(df: DataFrame): Seq[AnyRef] =
    df.queryExecution.withCachedData.collect { case r: InMemoryRelation => r.cacheBuilder }

  /** Cached tables read while computing table `t`. */
  def inputs(t: AnyRef): Seq[AnyRef] =
    t.asInstanceOf[CachedRDDBuilder].cachedPlan.collect { case s: InMemoryTableScanExec => s.relation.cacheBuilder }

  /** Whether every partition of `t` is stored. */
  def stored(t: AnyRef): Boolean = t.asInstanceOf[CachedRDDBuilder].isCachedColumnBuffersLoaded

  def rddId(t: AnyRef): Int = t.asInstanceOf[CachedRDDBuilder].cachedColumnBuffers.id
}
