package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark harness. One JVM runs one workload once:
  *
  *  1. set-up: a fresh session, every fixture resolved through `graft.Tables`,
  *     and one untimed pass that computes each query's output checksum and
  *     compares it with the pinned value (`setup_s` ends here);
  *  2. the timed region: one closed-loop client runs seeded passes for
  *     about `seconds`; with `trace`, every query runs untraced and traced.
  *
  * The last stdout line is the result object; the line before it is the
  * run's metadata. Other modes: `record` (write the expected checksums) and
  * `dump` (write each query's output for the DuckDB cross-check).
  */
object Main {
  final case class Args(mode: String, workload: String, seed: Long, seconds: Double,
                        trace: Boolean, fixtures: String, expected: String, out: String,
                        gitHead: String)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(kv.getOrElse("mode", "run"), kv.getOrElse("workload", ""), kv.getOrElse("seed", "0").toLong,
      kv.getOrElse("seconds", "10").toDouble, kv.getOrElse("trace", "0") == "1",
      need("fixtures"), need("expected"), need("out"), kv.getOrElse("git-head", "unknown"))
  }

  def session(cores: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", localDir)
      // the settings graft.Bench runs the engine with
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def load1(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val code = a.mode match {
      case "run"    => run(a)
      case "record" => record(a); 0
      case "dump"   => dump(a); 0
      case m => throw new IllegalArgumentException(s"unknown mode '$m'")
    }
    sys.exit(code)
  }

  def readExpected(path: String): Map[String, Checksum] = {
    import org.json4s._
    org.json4s.jackson.JsonMethods.parse(Files.readString(Paths.get(path))) \ "queries" match {
      case JObject(fs) => fs.collect { case (k, JString(v)) => k -> Checksum.parse(v) }.toMap
      case _ => throw new IllegalStateException(s"$path has no \"queries\" object")
    }
  }

  /** Pin the checksums: one cold execution of every benchmark query. */
  def record(a: Args): Unit = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(cores, s"${a.out}/spark-local")
    val runner = new Runner(spark, a.fixtures, new Trace)
    val sums = (Workload.SqlStar ++ Workload.Text).sorted.map { q =>
      q -> runner.check(q, coldCache = true).fold(e => sys.error(s"$q failed: $e"), identity)
    }
    val body = sums.map { case (q, c) => s"""    "$q": "$c"""" }.mkString(",\n")
    Files.writeString(Paths.get(a.expected),
      s"""{\n  "generator_seed": 42,\n  "queries": {\n$body\n  }\n}\n""")
    spark.stop()
  }

  /** Write every benchmark query's output as parquet, with its oracle SQL. */
  def dump(a: Args): Unit = {
    val spark = session(Runtime.getRuntime.availableProcessors, s"${a.out}/spark-local")
    val dir = s"${a.out}/dump"
    val oracle = graft.SparkEntry.oracleSql
    val names = (Workload.SqlStar ++ Workload.Text).sorted
    names.foreach { q =>
      graft.SparkEntry.queries(q)(spark, a.fixtures).write.mode("overwrite").parquet(s"$dir/$q")
      spark.catalog.clearCache()
    }
    val sql = names.flatMap(q => oracle.get(q).map(s => s"  ${Json.str(q)}: ${Json.str(s)}"))
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"), sql.mkString("{\n", ",\n", "\n}\n"))
    spark.stop()
  }

  def run(a: Args): Int = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val loadBefore = load1()
    val cores = Runtime.getRuntime.availableProcessors
    val w = Workload(a.workload)
    val expected = readExpected(a.expected)
    val missing = w.queries.filterNot(expected.contains)
    require(missing.isEmpty, s"no pinned checksum for ${missing.mkString(", ")}")
    val compiles0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    // ---- set-up
    val spark = session(cores, s"${a.out}/spark-local")
    val trace = new Trace
    val runner = new Runner(spark, a.fixtures, trace)
    val r0 = runner.clock()
    graft.Tables.registerViews(spark, a.fixtures)
    val tablesMs = runner.clock() - r0
    val badQueries = mutable.LinkedHashMap.empty[String, String]
    System.err.println(f"[perfbench] set-up: session ready ${(r0 - jvmStart) / 1000}%.1f s after JVM start, tables resolved in $tablesMs%.0f ms")
    // the set-up pass runs in list order, so every seed enters the timed
    // region from the same state of the JIT and the codegen cache
    for (q <- w.queries) runner.check(q, w.coldCache) match {
      case Right(c) if c == expected(q) => ()
      case Right(c) => badQueries(q) = s"checksum $c, expected ${expected(q)}"
      case Left(e) => badQueries(q) = e
    }
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val sourceBytes = codegen * org.apache.spark.metrics.source.CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getSnapshot.getMean

    // ---- timed region
    val timed = new Timed(runner, w, a.seed, a.seconds * 1000, a.trace)
    timed.run()
    val loadAfter = load1()

    val execs = timed.untraced.toSeq
    val failedExecs = (timed.warm ++ execs ++ timed.traced).filter(e =>
      e.error.nonEmpty || badQueries.contains(e.name) || (w.coldCache && e.cacheHits > 0))
    val attempted = timed.warm.size + execs.size + timed.traced.size + w.queries.size
    val failed = failedExecs.size + badQueries.size
    val lat = execs.map(_.latencyMs)
    val passS = timed.untracedPassMs.map(_ / 1000).toSeq
    val wallS = timed.untracedWallMs / 1000
    val correctCount = execs.count(e => !failedExecs.contains(e))
    // The latency percentiles and the throughput are metadata, not metrics
    // every run reports: p90 needs ten samples beyond it, which a one-client
    // run of a few seconds does not have; with 8-19 distinct queries per
    // pass the median jumps from one query's latency to another's, so it
    // spreads wider across seeds than `pass_s` does; and with one client the
    // throughput is the pass time again, inverted.
    val p50 = Stats.median(lat)
    val p90 = Stats.percentile(lat, 0.9)
    val qps = correctCount / wallS
    val endToEnd = Seq(("setup_s", setupS, "s"), ("pass_s", Stats.median(passS), "s"))
    val metrics =
      if (!a.trace) endToEnd
      else Layers.metrics(spark, timed, trace, w, tablesMs, codegen.toDouble, sourceBytes, expected)

    failedExecs.groupBy(_.name).foreach { case (q, es) =>
      val why = es.head.error.orElse(badQueries.get(q).map("check: " + _)).getOrElse("warm cache read")
      System.err.println(s"[perfbench] $q failed ${es.size}x: $why") }
    val (q1, q3) = if (passS.size >= 2) Stats.quartiles(passS) else (passS.head, passS.head)
    val meta = Seq(
      "workload" -> Json.str(w.name), "seed" -> a.seed.toString,
      "nproc" -> cores.toString, "load1_before" -> Json.num(loadBefore), "load1_after" -> Json.num(loadAfter),
      "jvm" -> Json.str(System.getProperty("java.vm.name") + " " + System.getProperty("java.version")),
      "git_head" -> Json.str(a.gitHead), "trace" -> a.trace.toString,
      "timed_executions" -> execs.size.toString, "passes" -> passS.size.toString,
      "pass_s_quartiles" -> s"[${Json.num(q1)}, ${Json.num(q3)}]",
      "passes_s" -> passS.map(Json.num).mkString("[", ", ", "]"),
      "query_p50_ms" -> Json.num(p50), "query_p90_ms" -> p90.fold("null")(Json.num),
      "samples" -> lat.size.toString, "queries_per_s" -> Json.num(qps),
      "error_rate" -> Json.num(failed.toDouble / attempted))
    println(meta.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{\"meta\": {", ", ", "}}"))
    (execs ++ timed.traced).groupBy(_.name).toSeq.sortBy(_._1).foreach { case (q, es) =>
      System.err.println(f"[perfbench] query $q%-22s n=${es.size}%3d median ${Stats.median(es.map(_.latencyMs))}%9.1f ms") }
    metrics.foreach { case (k, v, u) => System.err.println(f"[perfbench] $k%-24s $v%14.4f $u") }
    System.err.println(f"[perfbench] query_p50_ms             $p50%14.4f ms (${lat.size} samples)")
    System.err.println(p90.fold(s"[perfbench] query_p90_ms: n/a, ${lat.size} samples (p90 needs 100)")(v =>
      f"[perfbench] query_p90_ms             $v%14.4f ms (${lat.size} samples)"))
    System.err.println(f"[perfbench] queries_per_s            $qps%14.4f 1/s")
    System.err.println(f"[perfbench] error_rate               ${failed.toDouble / attempted}%14.4f ($failed of $attempted)")
    if (a.trace) Json.writeSpans(Paths.get(s"${a.out}/spans-${w.name}-${a.seed}.jsonl"), trace.spans)
    val ms = metrics.map { case (k, v, u) =>
      s"${Json.str(k)}: {${Json.str("value")}: ${Json.num(v)}, ${Json.str("unit")}: ${Json.str(u)}}" }
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      ms.mkString("\"metrics\": {", ", ", "}}"))
    spark.stop()
    if (failed == 0) 0 else 3
  }
}
