package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, PerfbenchCache, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** One execution of one query: build (operator construction), then the noop
  * write (planning and execution). Times are epoch milliseconds. */
final case class Exec(
    name: String, qid: Long, traced: Boolean,
    buildMs: Double, planMs: Double, execMs: Double,
    cacheBuilds: Int, cacheHits: Int, builtRdds: Seq[Int], cacheMemMb: Double,
    exchanges: Int, fallbacks: Int,
    phases: Seq[Span], error: Option[String]) {
  /** What a caller waits for; excludes the benchmark's own bookkeeping. */
  def latencyMs: Double = buildMs + planMs + execMs
}

/** Runs queries against one session and attributes each execution's use of
  * the session cache from its own plan. */
final class Runner(spark: SparkSession, fixtures: String, val trace: Trace) {
  private val sc = spark.sparkContext
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def clock(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val writes = new WritePlans

  /** Cached tables some execution has already stored. */
  private val stored = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]()))

  /** The cached tables this execution's plan reads, each with whether it was
    * stored by an earlier execution (a warm read) or must be computed by this
    * one (a build). Decided per execution against the cache manager's
    * current state, not once per query, so a cache another query registered
    * in the meantime is attributed correctly. Tables read only while building
    * another table count too. */
  private def cacheUse(df: DataFrame): Seq[(AnyRef, Boolean)] = {
    val seen = new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]()
    def from(ts: Seq[AnyRef]): Seq[(AnyRef, Boolean)] =
      ts.filter(seen.put(_, true) == null).flatMap { t =>
        if (stored.contains(t) && PerfbenchCache.stored(t)) Seq(t -> true)
        else (t -> false) +: from(PerfbenchCache.inputs(t))
      }
    from(PerfbenchCache.tables(df))
  }

  /** Empty the session cache and wait until the stored blocks are gone:
    * `clearCache` alone frees them asynchronously, inside the next
    * execution's timing. */
  private def clearCache(): Unit = {
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  private def markStored(use: Seq[(AnyRef, Boolean)]): Unit =
    use.foreach { case (t, _) => if (PerfbenchCache.stored(t)) stored.add(t) }

  /** Build and execute `name` once. A traced execution attaches the trace
    * listeners outside its timed interval and splits the write at the end of
    * Catalyst planning, as the write's own `QueryExecution` reports it: the
    * plan that runs is planned once, inside the write. */
  def execute(name: String, coldCache: Boolean, traced: Boolean): Exec = {
    val qid = trace.nextId()
    val buildId = trace.nextId()
    val planId = trace.nextId()
    val execId = trace.nextId()
    if (coldCache) clearCache()
    if (traced) {
      sc.addSparkListener(trace)
      spark.listenerManager.register(writes)
      trace.enabled = true
    }
    trace.tag(sc, qid, buildId, build = true)
    val t0 = clock()
    var t1, t2 = t0
    var use = Seq.empty[(AnyRef, Boolean)]
    val error = try {
      val df = SparkEntry.queries(name)(spark, fixtures)
      t1 = clock()
      use = cacheUse(df)
      trace.tag(sc, qid, execId, build = false)
      t2 = clock()
      df.write.format("noop").mode("overwrite").save()
      None
    } catch {
      case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    }
    val t3 = clock()
    if (t1 == t0) t1 = t3 // the build threw
    if (t2 == t0) t2 = t3
    markStored(use)
    if (!traced) Exec(name, qid, traced, t1 - t0, 0.0, t3 - t2, use.count(!_._2), use.count(_._2),
      Nil, 0.0, 0, 0, Nil, error)
    else {
      val write = detach()
      val planEnd = write.flatMap(_.tracker.phases.get(QueryPlanningTracker.PLANNING))
        .fold(t2)(p => math.min(math.max(p.endTimeMs.toDouble, t2), t3))
      val shape = write.fold((0, 0))(qe => Runner.shape(qe.executedPlan))
      val phases = Seq(Span(buildId, qid, qid, "build", t0, t1), Span(planId, qid, qid, "plan", t2, planEnd),
        Span(execId, qid, qid, "exec", planEnd, t3))
      trace.add(Span(qid, 0L, qid, s"query $name", t0, t3))
      phases.foreach(trace.add)
      val built = use.collect { case (t, false) if PerfbenchCache.stored(t) => PerfbenchCache.rddId(t) }
      // read before the next execution clears the cache
      val memMb = sc.getRDDStorageInfo.map(_.memSize).sum / 1e6
      Exec(name, qid, traced, t1 - t0, planEnd - t2, t3 - planEnd, use.count(!_._2), use.count(_._2),
        built, memMb, shape._1, shape._2, phases,
        error.orElse(if (write.isEmpty) Some("the write reported no query execution") else None))
    }
  }

  /** Detach the trace listeners once they have every event of the
    * execution; returns the query execution of its write. */
  private def detach(): Option[QueryExecution] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    trace.enabled = false
    spark.listenerManager.unregister(writes)
    sc.removeSparkListener(trace)
    writes.take()
  }

  /** Untimed warm-up and correctness pass body: one execution down the
    * timed path that also yields the output checksum, storing the caches it
    * builds for later warm reads. */
  def check(name: String, coldCache: Boolean): Either[String, Checksum] = {
    if (coldCache) clearCache()
    try {
      val df = SparkEntry.queries(name)(spark, fixtures)
      val use = cacheUse(df)
      val (checked, checksum) = Checksum.observed(df)
      checked.write.format("noop").mode("overwrite").save()
      markStored(use)
      Right(checksum())
    } catch {
      case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    }
  }
}

object Runner extends AdaptiveSparkPlanHelper {
  /** Shuffle exchanges and interpreted (`CodegenFallback`) expressions in a
    * physical plan, subqueries included. */
  def shape(plan: SparkPlan): (Int, Int) = {
    val exchanges = collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size
    val fallbacks = collectWithSubqueries(plan) { case p => p }.map(
      _.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum).sum
    (exchanges, fallbacks)
  }
}
