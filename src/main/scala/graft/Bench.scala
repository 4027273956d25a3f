package graft

/** Benchmark main. Prints ONE compact JSON line for the driver.
  *
  * Round-1 lesson: timing all 105 queries made the JSON line ~4 KB and the
  * driver's output-tail buffer truncated it mid-line → BENCH_r01.json had
  * "parsed": null and the round lost its benchmark grade entirely. The
  * contract says "headline queries", so we time one scale-relevant
  * representative per SURVEY.md §2 family (~23 queries) and keep the line
  * well under 1 KB. Set SPARK_GRAFT_BENCH_ALL=1 for the full-suite dev run.
  */
object Bench {
  /** One representative per §2 family, biased toward the operators whose
    * 100 TB plan shape matters most (shuffle joins, global sort, dedup,
    * similarity search, sessionization). */
  val headline: Seq[String] = Seq(
    "flagship",          // scan→join→agg→topk composite (TPC-H Q3 shape)
    "scan_parquet",      // pushdown + pruning
    "project_select",    // map-only derived columns
    "filter_predicate",  // compound pushdown filter
    "agg_hash_group",    // partial+final hash agg (Q1 shape)
    "agg_count_distinct",// expand + two-phase agg
    "agg_cube",          // grouping-set expansion
    "join_inner_hash",   // shuffled equi join
    "join_broadcast",    // map-side dim join
    "join_multiway",     // 6-table Q5 shape: broadcast chain + fact joins
    "join_asof",         // merge as-of exec (custom Catalyst operator)
    "window_ranking",    // partitioned ranking window
    "topk_per_group",    // window + filter
    "sort_global",       // range-partitioned total order (TeraSort lineage)
    "sort_topk",         // TakeOrderedAndProject
    "distinct_rows",     // whole-row dedup
    "set_union_distinct",// union + distinct shuffle
    "mr_wordcount",      // explode-heavy classic
    "llm_exact_dedup",   // hash-group dedup
    "llm_neardup_pairs", // PPJoin prefix-filtered Jaccard self-join
    "llm_dedup_clusters",// connected-component dedup cluster resolution
    "llm_corpus_shuffle",// deterministic shuffle + shard assignment
    "llm_simsearch_topk",// brute-force cosine top-k (codegen DotProduct)
    "llm_bm25",          // retrieval ranking: broadcast df + integer scores
    "llm_ingest_dedup",  // incremental batch admission vs corpus
    "llm_tfidf",         // two-agg + broadcast weighting
    "llm_pipeline_e2e",  // dedup→quality-gate→stats composite
    "stream_session",    // session_window aggregation (batch mode)
    "skew_salted_join")  // salted skew-join technique

  /** Per-query weak flag (round-13 verdict #6): diff each timed query
    * against the RECORDED per-query DuckDB baseline and flag >2× rows.
    * The fixed-floor exclusion (baseline < 0.25 s) is BASELINE.md's own
    * reading guide: under it the ratio measures Spark's per-query constant
    * (task scheduling, stage setup), not a plan defect — with it applied,
    * a quiet window flags nothing, so any entry here is a real regression
    * or a loud ambient spike worth a re-run.
    *
    * Returns None ("weak":null on the bench line) when NO baseline applied —
    * file missing/unparseable, or the file's own recorded `_sf` scale factor
    * is not an exact path segment of sfDir — so a mislocated baseline can't
    * masquerade as a genuinely quiet window (round-14 ADVICE). The file is
    * parsed as real JSON, numeric non-underscore fields only, so prose in
    * `_comment` can never be ingested as a baseline entry. */
  def weakList(results: Seq[(String, Option[Double])], baselinePath: String,
               sfDir: String): Option[Seq[String]] =
    baseline(baselinePath, sfDir).map { base =>
      results.collect {
        case (n, Some(t)) if !n.startsWith("_") &&
          base.get(n).exists(b => b >= 0.25 && t > 2 * b) => n
      }
    }

  /** The recorded quiet-window floor for the headline TOTAL (`_graft_quiet_floor`
    * in the baseline file), under the same `_sf` guard as [[weakList]].
    * This is the storm detector's reference: a run total more than 1.5×
    * above the quietest controlled window ever recorded on this HEAD's
    * lineage is either a real regression (which a re-run reproduces) or an
    * ambient storm (which a re-run escapes) — either way the re-run tells
    * the truth and costs nothing when the window is quiet. */
  def quietFloor(baselinePath: String, sfDir: String): Option[Double] =
    baseline(baselinePath, sfDir).flatMap(_.get("_graft_quiet_floor"))

  /** The numeric fields of the baseline file, or None when the file is
    * missing or unparseable or its `_sf` is not an exact path segment of
    * `sfDir` (contains("sf0.1") also matched sf0.12/sf0.15). */
  private def baseline(path: String, sfDir: String): Option[Map[String, Double]] = {
    import org.json4s._
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) None
    else scala.util.Try(org.json4s.jackson.JsonMethods.parse(
      java.nio.file.Files.readString(p))).toOption.collect { case JObject(fs) => fs }
      .filter { fs =>
        val segments = sfDir.split('/').filter(_.nonEmpty).toSet
        fs.collectFirst { case JField("_sf", JString(s)) => s }.exists(segments.contains)
      }
      .map(_.iterator.collect {
        case JField(k, JDouble(d)) => k -> d
        case JField(k, JInt(i)) => k -> i.toDouble
        case JField(k, JLong(l)) => k -> l.toDouble
        case JField(k, JDecimal(d)) => k -> d.toDouble
      }.toMap)
  }

  /** System load-1 (runnable-thread average over the last minute), the ambient
    * signal the round-17 adjudication had to reconstruct from ops notes.
    * -1.0 when the platform bean can't provide it. */
  private def load1(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def main(args: Array[String]): Unit = {
    // Timing runs measure the ANN operators' ANN path alone — the recall
    // audit (a brute-force exact scan joined onto the result) is a
    // correctness artifact, verified by Verify and ScalaTest, and timing
    // ANN + exact-scan would charge the index the cost it exists to avoid.
    sys.props("graft.ann.recall") = "0"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Input-split sizing was A/B'd (2 MB maxPartitionBytes / 128 KB openCost
    // to spread the 11 MB lineitem scan over more than 3 tasks): the apparent
    // win did not replicate once run order was controlled, and the sort-bound
    // queries pay for the extra map outputs under a range exchange. Defaults
    // kept; at 100 TB the default 128 MB split IS the right figure (SURVEY §7.5).
    // SPARK_GRAFT_EXTRA_CONF="k=v,k=v" (applied by the factory) carries
    // cross-process config A/Bs, e.g. spark.sql.adaptive.enabled=false —
    // same-JVM A/B is confounded by JIT warmth (see BASELINE.md).
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Pre-touch the fixture files into the OS page cache before any timing:
    // on a shared VM the first scan of a cold file pays disk latency that has
    // nothing to do with the engine, and WHICH query pays it depends on run
    // order — warming the pages up front makes all runs measure compute.
    Tables.names.foreach { n =>
      try {
        val dir = java.nio.file.Paths.get(s"$sfDir/$n.parquet")
        val it = java.nio.file.Files.walk(dir).iterator()
        while (it.hasNext) { val p = it.next()
          if (java.nio.file.Files.isRegularFile(p)) java.nio.file.Files.readAllBytes(p) }
      } catch { case _: Throwable => () }
    }
    // Untimed warmup: JIT the scan/shuffle/agg machinery once so the first
    // measured query doesn't pay the whole session's compilation bill.
    try SparkEntry.flagship(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    val all = sys.env.get("SPARK_GRAFT_BENCH_ALL").exists(_.nonEmpty)
    // comma-separated allowlist for iterating on one query without paying
    // for the suite (picks from ALL registered queries, not just headline)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").filter(_.nonEmpty)
      .map(_.split(",").map(_.trim).toSet)
    val names =
      if (only.nonEmpty)
        SparkEntry.queries.keys.toSeq.sorted.filter(only.get.contains)
      else if (all) SparkEntry.queries.keys.toSeq.sorted
      else headline.filter(SparkEntry.queries.contains)
    // 6 headline passes spread over ~2.5 min of wall clock: ambient VM
    // contention arrives in sustained multi-second windows, so the per-query
    // min wants samples far enough apart that at least one pass lands in a
    // quiet stretch (4 passes measured a 15.0-17.4s total band; the extra
    // two passes cost ~50s of untimed wall clock)
    val attempts = if (all) 2 else 6
    // noop sink forces full materialization of every output column — count()
    // would let Catalyst prune the query down to a row count and flatter us.
    // Best-of-N per query: one-shot numbers on a shared VM mix engine time
    // with environmental noise (observed 40x spikes on random queries across
    // otherwise-identical runs); the minimum of N runs is the engine.
    // The attempts run ROUND-ROBIN (pass 1 of every query, then pass 2, ...)
    // rather than back-to-back: a multi-second contention spike from a
    // neighbouring process then inflates at most one sample per query instead
    // of swallowing all of a query's attempts inside one spike window (this
    // is exactly what produced the 4x llm_pipeline_e2e outlier in BENCH_r04 —
    // min of 3 consecutive attempts, all inside the same spike).
    val schedule: Seq[(Int, String)] =
      for (pass <- 1 to attempts; name <- names) yield (pass, name)
    val timed = scala.collection.mutable.Map.empty[String, List[Double]]
    val failedOnce = scala.collection.mutable.Set.empty[String]
    // Prepared-plan protocol (round-12 verdict #1 names per-query analysis
    // as the floor to kill): each registered query's DataFrame is
    // CONSTRUCTED + ANALYZED once — pass 1, inside its own timing, so the
    // cost is measured but the per-query min over later passes reports
    // prepared-plan execution, the steady state a production session (plan
    // cache / prepared statement) runs in. Catalyst still re-OPTIMIZES and
    // re-plans per execution (the write wraps a fresh command); only
    // operator-tree construction and analysis are reused. The DuckDB
    // baseline's per-pass `con.sql(...)` re-plan is ~ms — this removes a
    // 10-150 ms asymmetry that said nothing about either engine's
    // execution.
    // EXCEPTIONS to the reuse (both rebuild per pass): an operator whose
    // built plan embeds an RDD-backed node holds MATERIALIZED state — an iterative driver loop's
    // lazy localCheckpoint (connected components, BPE training) or an RDD
    // format hop. Re-executing such a frame times a checkpoint re-read, not
    // the operator (measured: llm_dedup_clusters 0.76 s → 0.12 s, i.e. the
    // whole CC iteration vanished from the timing). Those rebuild per pass.
    def embedsRddState(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.exists {
        case _: org.apache.spark.sql.execution.LogicalRDD => true
        case _: org.apache.spark.sql.execution.ExternalRDD[_] => true
        case _ => false
      }
    // SECOND exception (round-19 verdict #1): a plan that resolves against the
    // session cache (an operator-declared `cachedOnce` shared frame) would
    // otherwise materialize the cache in pass 1 and report warm-cache reads
    // for passes 2..N — the per-query min would systematically exclude the
    // shared-frame build cost. `.cache()` does not embed RDD state in the
    // analyzed plan, so these slipped past embedsRddState. Such queries are
    // rebuilt per pass AND the session cache is cleared before every query
    // (outside its timing), so each execution registers and materializes its
    // own caches inside the timing: the min is a cold-session execution
    // including the cache build. That holds for frames SHARED across
    // queries too (docWordCounts, shingleHashArrays): every consumer pays
    // its own build, not only the first one in a pass. Consumers WITHIN one
    // plan (the reason the caches exist) still share a single
    // materialization, and a prepared query can never read a cache another
    // query registered.
    def usesSessionCache(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.withCachedData.exists {
        case _: org.apache.spark.sql.execution.columnar.InMemoryRelation => true
        case _ => false
      }
    val prepared = scala.collection.mutable.Map.empty[String, org.apache.spark.sql.DataFrame]
    def runSchedule(): Unit = for ((pass, name) <- schedule) {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try {
        val df = prepared.get(name) match {
          case Some(p) => p
          case None =>
            val built = SparkEntry.queries(name)(spark, sfDir)
            if (!embedsRddState(built) && !usesSessionCache(built)) prepared(name) = built
            else if (usesSessionCache(built) && pass == 1)
              System.err.println(s"[bench] $name resolves against the session cache - rebuilt per pass")
            built
        }
        df.write.format("noop").mode("overwrite").save()
        timed(name) = ((System.nanoTime() - t0) / 1e9) :: timed.getOrElse(name, Nil)
      } catch { case e: Throwable =>
        // a thrown query contributes NO time for this pass — it must not look
        // fast. Log the FIRST failure per query whichever pass it strikes on
        // (keying on pass 1 hid late-pass failures entirely).
        if (failedOnce.add(name))
          System.err.println(s"[bench] $name failed (pass $pass): ${e.getMessage}")
      }
    }
    val loadStart = load1() // ambient: sampled BEFORE this JVM does any work
    runSchedule()
    val loadEnd = load1() // includes this process's own local[32] threads
    def currentTotal: Double =
      names.flatMap(n => timed.get(n).map(_.min)).sum
    // Storm self-defense (round-17 verdict item 1: the driver's artifact
    // recorded a 3.18× paper breach that four same-day controlled windows
    // contradicted — per-query best-of-6 cannot save a storm spanning the
    // whole ~2.5 min run). When a recorded quiet-window floor exists for
    // this sf and the run total lands >1.5× above it, sleep one minute
    // (this box's storms are multi-minute bursts alternating with quiet
    // stretches) and re-run the full round-robin schedule once, MERGING
    // samples — per-query minimums over both runs are automatically the
    // best-of-2 at run granularity, and a REAL regression reproduces in
    // the retry so it cannot be masked. Load gating is deliberately NOT a
    // precondition: load-1 measured from inside the run is dominated by
    // our own 32 runnable threads (measured: 0.06 → 3.2 on a dead-quiet
    // window), so the loads are emitted for adjudication, not decisions.
    val baselineFile = sys.env.getOrElse("SPARK_GRAFT_BASELINE_FILE",
      "tools/duckdb_per_query_sf0.1.json")
    val floor = quietFloor(baselineFile, sfDir)
    val maxRetries =
      sys.env.get("SPARK_GRAFT_BENCH_RETRIES").flatMap(_.toIntOption).getOrElse(1)
    var retries = 0
    var loadRetry = -1.0
    while (retries < maxRetries && !all && only.isEmpty &&
           floor.exists(f => currentTotal > 1.5 * f)) {
      System.err.println(f"[bench] total ${currentTotal}%.3f s exceeds 1.5x the " +
        f"recorded quiet floor ${floor.get}%.3f s - re-running the schedule " +
        "once after a 60 s storm-decay pause")
      Thread.sleep(60000L)
      loadRetry = load1()
      runSchedule()
      retries += 1
    }
    val results: Seq[(String, Option[Double])] =
      names.map(n => n -> timed.get(n).map(_.min))
    // Failed queries are reported as -1 (sentinel) and excluded from the
    // total, so a broken operator cannot make the benchmark look faster.
    val qs = results.map { case (k, v) =>
      "\"" + k + "\":" + v.map(t => f"$t%.3f").getOrElse("-1")
    }.mkString("{", ",", "}")
    val total = results.flatMap(_._2).sum
    val nFailed = results.count(_._2.isEmpty)
    val weak = weakList(results, baselineFile, sfDir)
    // null ⇒ no baseline applied (absent file / sf mismatch) — NOT a quiet run
    val weakJson = weak.map(_.map("\"" + _ + "\"").mkString("[", ",", "]"))
      .getOrElse("null")
    // load_start = ambient before any work; load_end = after the first
    // schedule (includes our own threads — see the retry comment);
    // load_retry = ambient after the storm-decay pause (-1 = no retry ran)
    val loadJson = f""","load_start":$loadStart%.2f,"load_end":$loadEnd%.2f""" +
      f""","retries":$retries""" +
      (if (retries > 0) f""","load_retry":$loadRetry%.2f""" else "")
    println(s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$qs,"failed":$nFailed,"weak":$weakJson$loadJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
