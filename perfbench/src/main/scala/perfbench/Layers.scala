package perfbench

import org.apache.spark.sql.SparkSession

/** Per-layer metrics of a traced run. Counts, bytes and times are totals per
  * pass: summed over the traced executions and divided by the number of
  * passes they make up (executions / queries in the workload's list).
  * Set-up metrics (`tables.*`, `codegen.*`) cover the set-up once;
  * `cache.mem_mb` is the largest stored size after any traced execution. */
object Layers {
  def metrics(spark: SparkSession, timed: Timed, trace: Trace, w: Workload, tablesMs: Double,
              compiles: Double, sourceBytes: Double,
              expected: Map[String, Checksum]): Seq[(String, Double, String)] = {
    val ex = timed.traced.toSeq
    val passes = ex.size.toDouble / w.queries.size
    def per(xs: Iterable[Double]): Double = xs.sum / passes
    val cs = ex.map(e => trace.countersOf(e.qid))
    def sumC(f: QueryCounters => Long): Double = per(cs.map(f(_).toDouble))
    val jobSpans = trace.spans.filter(_.name.startsWith("job ")).groupBy(_.qid)
    val driverGap = per(ex.map(e => Span.driverGapMs(e.phases, jobSpans.getOrElse(e.qid, Nil))))
    val execWallS = Stats.unionLength(ex.flatMap(_.phases.filter(_.name == "exec").map(s => (s.start, s.end)))) / 1000
    val taskRunS = cs.map(_.taskRunMs).sum / 1000.0
    val cores = spark.sparkContext.defaultParallelism
    val untracedPass = Stats.median(timed.untracedPassMs.toSeq) / 1000
    val tracedPass = Stats.median(timed.tracedPassMs.toSeq) / 1000
    Seq(
      ("tables.resolve_ms", tablesMs, "ms"),
      ("build.ms", per(ex.map(_.buildMs)), "ms"),
      ("build.jobs", sumC(_.buildJobs), "count"),
      ("plan.ms", per(ex.map(_.planMs)), "ms"),
      ("plan.exchanges", per(ex.map(_.exchanges.toDouble)), "count"),
      ("plan.fallback_exprs", per(ex.map(_.fallbacks.toDouble)), "count"),
      ("exec.jobs", sumC(_.execJobs), "count"),
      ("exec.stages", sumC(_.stages), "count"),
      ("exec.tasks", sumC(_.tasks), "count"),
      ("exec.task_run_s", taskRunS / passes, "s"),
      ("exec.task_cpu_s", cs.map(_.taskCpuNs).sum / 1e9 / passes, "s"),
      ("exec.gc_s", cs.map(_.gcMs).sum / 1000.0 / passes, "s"),
      ("exec.task_failures", sumC(_.taskFailures), "count"),
      ("exec.driver_gap_ms", driverGap, "ms"),
      ("exec.queue_wait_ms", per(cs.map(_.queueWaitMs)), "ms"),
      ("exec.core_util", if (execWallS > 0) taskRunS / (execWallS * cores) else 0.0, "ratio"),
      ("shuffle.write_bytes", sumC(_.shuffleWrite), "bytes"),
      ("shuffle.read_bytes", sumC(_.shuffleRead), "bytes"),
      ("shuffle.spill_bytes", sumC(_.spill), "bytes"),
      ("scan.bytes", sumC(_.scanBytes), "bytes"),
      ("scan.rows", sumC(_.scanRows), "count"),
      ("cache.builds", per(ex.map(_.cacheBuilds.toDouble)), "count"),
      ("cache.build_ms", per(trace.cacheBuildMs(ex.flatMap(_.builtRdds).toSet).values), "ms"),
      ("cache.mem_mb", ex.map(_.cacheMemMb).max, "MB"),
      ("codegen.compiles", compiles, "count"),
      ("codegen.source_bytes", sourceBytes, "bytes"),
      ("out.rows", per(ex.map(e => expected(e.name).rows.toDouble)), "count"),
      ("trace.untraced_pass_s", untracedPass, "s"),
      ("trace.traced_pass_s", tracedPass, "s"),
      ("trace.overhead_pct", (tracedPass / untracedPass - 1) * 100, "%"))
  }
}
