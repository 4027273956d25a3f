package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Idempotent cache marking.
  *
  * Spark's CacheManager keys cached plans by the ANALYZED PLAN, so
  * re-building the same DataFrame (every bench pass re-invokes each operator
  * from scratch) and calling `.cache()` again is a no-op that logs
  * `WARN CacheManager: Asked to cache already cached data` — hundreds of
  * them across a bench run, drowning real warnings in driver logs. This
  * guard asks the manager first (`Dataset.storageLevel` is exactly that
  * plan lookup: it returns the storage level of an equivalent cached plan,
  * or NONE) and only issues the cache call for genuinely new plans — the
  * cross-invocation reuse is identical, the warning noise is gone.
  */
object Caching {
  def cachedOnce(df: DataFrame): DataFrame =
    if (df.storageLevel == StorageLevel.NONE) df.cache() else df

  /** Scatter a narrow pipeline across the session's shuffle width BEFORE a
    * row-multiplying stage (explode + per-element hashing), but ONLY when
    * its input scan under-parallelizes the session.
    *
    * Why conditional: a small fixture file scans as one split, so the
    * explode's heavy compute fuses into a single task — but on a real
    * corpus the scan is already thousands of splits, and an unconditional
    * repartition would shuffle the whole corpus to buy nothing. The gate
    * compares the planned scan partition count (driver-side file-split
    * planning, no job) against the shuffle width and scatters only below
    * half of it — the regime where idle cores exist.
    *
    * Why a HASH repartition with an explicit width: the gate admits only
    * scan+project frames, so no upstream exchange can make it redundant;
    * an explicit width plans REPARTITION_BY_NUM, which AQE never coalesces
    * by byte size (the wrong cost model for a stage whose output is many
    * times its input); and unlike a range repartition it needs no sampling
    * job and scan to find bounds. Hash partitioning on the key still
    * satisfies every downstream key-clustered aggregation or window.
    *
    * How the count is read (round-10 advisor): from the physical plan's
    * LEAF file scans (`FileSourceScanExec.inputRDDs()` — driver-side
    * file-split planning, never a job), NOT `df.rdd.getNumPartitions`,
    * which materializes the full RDD lineage and, on a frame containing a
    * shuffle, would execute the upstream stages at DataFrame-construction
    * time. The helper's contract is scan+project frames; anything else is
    * a structural no-op: a plan that already contains an exchange runs at
    * the shuffle width by construction (nothing to fix), and a non-file
    * leaf (in-memory relation, range, local data) has no under-split scan
    * to compensate for.
    */
  def scatterIfNarrow(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, UnspecifiedDistribution}
    val width = df.sparkSession.sessionState.conf.numShufflePartitions
    // sparkPlan is the planner output BEFORE EnsureRequirements, so no
    // exchange nodes exist yet — detect wideness by the contract that
    // CREATES them: any node requiring a non-broadcast distribution gets
    // an exchange inserted, after which the frame runs at the shuffle
    // width and scattering buys nothing (pinned by ScatterGateSpec).
    val plan = df.queryExecution.sparkPlan
    val alreadyWide = plan.exists(_.requiredChildDistribution.exists {
      case UnspecifiedDistribution     => false
      case _: BroadcastDistribution    => false
      case _                           => true
    })
    val leaves = plan.collectLeaves()
    val scanParts = leaves.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.inputRDDs().map(_.getNumPartitions).sum
    }
    val allFileScans = leaves.nonEmpty && scanParts.length == leaves.length
    if (!alreadyWide && allFileScans && width >= 1 && scanParts.sum * 2 <= width)
      df.repartition(width, key)
    else df
  }
}
