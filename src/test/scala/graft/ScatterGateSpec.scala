package graft

import org.apache.spark.sql.functions._

/** Contract of `Caching.scatterIfNarrow` after the round-11 hardening
  * (round-10 advisor): the gate derives scan parallelism from the physical
  * plan's LEAF file scans — never `df.rdd`, which would execute upstream
  * stages on a frame containing a shuffle — and is a structural no-op on
  * anything that is not a narrow scan+project pipeline.
  */
class ScatterGateSpec extends SparkSpec {

  /** The partitionings of the shuffles in `df`'s executed plan. */
  private def shufflePartitionings(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.catalyst.plans.physical.Partitioning] =
    flattenPlan(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e.outputPartitioning
    }

  test("narrow file-scan frame below half the shuffle width gets scattered") {
    // fixtures are single-split at test scale; shuffle width is 4 in SparkSpec
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val out = Caching.scatterIfNarrow(docs, col("doc_id"))
    val width = spark.sessionState.conf.numShufflePartitions
    val group = "scatter-gate-spec"
    spark.sparkContext.setJobGroup(group, "scatter")
    try out.write.format("noop").mode("overwrite").save()
    finally spark.sparkContext.clearJobGroup()
    val parts = shufflePartitionings(out)
    assert(parts.size == 1, s"under-parallelized scan must scatter once: $parts")
    parts.head match {
      case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
        assert(h.numPartitions == width, s"scatter must keep the full width: $h")
      case other => fail(s"scatter must be a hash exchange, got $other")
    }
    // one job for the shuffle-map stage and one for the result: a range
    // scatter would add a third, its sampling job
    val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    assert(jobs == 2, s"expected no sampling job, saw $jobs jobs")
    assert(out.count() == docs.count())
  }

  test("a frame already containing an exchange is returned unchanged") {
    val agg = Tables.documents(spark, sfDir)
      .groupBy("lang").agg(count(lit(1)).as("n"))
    val out = Caching.scatterIfNarrow(agg, col("lang"))
    assert(out eq agg,
      "post-shuffle frames already run at the shuffle width — scatter is a no-op")
  }

  test("a non-file-scan leaf (local data) is returned unchanged") {
    import spark.implicits._
    val local = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val out = Caching.scatterIfNarrow(local, col("id"))
    assert(out eq local, "no under-split file scan to compensate for")
  }

  test("the gate never launches a Spark job (driver-side planning only)") {
    // the round-10 advisor's hazard: df.rdd on a frame with an upstream
    // shuffle EXECUTES the upstream stages at DataFrame-construction time;
    // the plan-walk gate must not run any job even on such a frame
    val agg = Tables.lineitem(spark, sfDir) // footer job may run HERE (memo miss)
      .groupBy("l_orderkey").agg(sum(col("l_quantity")).as("q"))
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    Caching.scatterIfNarrow(agg, col("l_orderkey"))
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(after == before, "gating must not execute upstream stages")
  }
}
