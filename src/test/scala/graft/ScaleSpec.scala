package graft

import org.apache.spark.sql.functions._
import graft.operators.ScaleTechniques

/** Scale-technique proofs (SURVEY.md §7.5): salted joins preserve results;
  * bucketed tables co-locate joins with zero shuffle. */
class ScaleSpec extends SparkSpec {

  test("salted join result equals the plain join (salting is semantics-free)") {
    // registered sort-free (round 15): impose the compare order here
    val salted = ScaleTechniques.skewSaltedJoin(spark, sfDir)
      .orderBy("o_orderpriority").collect().toSeq
    val plain = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("line_cnt"),
           Dsl.discPriceSum.as("revenue"))
      .orderBy("o_orderpriority")
      .collect().toSeq
    assert(salted == plain)
  }

  test("salting splits a hot key across SaltFactor shuffle groups") {
    val li = Tables.lineitem(spark, sfDir)
      .withColumn("salt",
        pmod(xxhash64(col("l_linenumber"), col("l_partkey"), col("l_suppkey")),
             lit(ScaleTechniques.SaltFactor)))
    val hottest = li.groupBy("l_orderkey").count()
      .orderBy(col("count").desc).head.getLong(0)
    val saltsUsed = li.where(col("l_orderkey") === hottest)
      .select("salt").distinct().count()
    assert(saltsUsed > 1, "hot key must spread over multiple salt groups")
  }

  test("bloom prefilter join: equals the plain join and actually prunes the fact side") {
    // registered sort-free (round 15): impose the compare order here
    val viaBloom = ScaleTechniques.joinBloomPrefilter(spark, sfDir)
      .orderBy("c_nationkey").collect().toSeq
    val plain = Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir)
              .where(col("c_mktsegment") === "MACHINERY")
              .select(col("c_custkey"), col("c_nationkey")),
            col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_orders"),
           Dsl.moneySum(col("o_totalprice")).as("total"))
      .orderBy("c_nationkey")
      .collect().toSeq
    assert(viaBloom == plain)

    // the broadcast filter must prune: orders surviving the bloom probe are
    // far fewer than the full table (fpp 1% ≈ segment share + noise), yet a
    // superset of the true matches (no false negatives, ever)
    val dim = Tables.customer(spark, sfDir)
      .where(col("c_mktsegment") === "MACHINERY")
    ScaleTechniques.registerBloomFunctions(spark)
    val total = Tables.orders(spark, sfDir).count()
    // might_contain demands a constant/scalar-subquery filter side — same
    // spelling as the registered operator
    val surviving = Tables.sql(spark, sfDir,
      """SELECT count(*) AS n FROM orders
        |WHERE might_contain(
        |  (SELECT bloom_filter_agg(c_custkey, 2000L, 19170L) FROM customer
        |   WHERE c_mktsegment = 'MACHINERY'),
        |  o_custkey)""".stripMargin).head.getLong(0)
    val trueMatches = Tables.orders(spark, sfDir)
      .join(dim, col("o_custkey") === col("c_custkey")).count()
    assert(surviving >= trueMatches, "bloom filters never false-negative")
    assert(surviving < total / 2,
      s"bloom pruned nothing: $surviving of $total rows survived")
  }

  test("dynamic partition pruning reaches a partitioned fact scan") {
    val out = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    try {
    Tables.orders(spark, sfDir)
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(out)
    val fact = spark.read.parquet(out)
    // the filter is on a non-join column so the pruning value is only known
    // at runtime — a literal y-filter gets constant-folded into a STATIC
    // partition filter instead (the optimizer is allowed to be smarter)
    val dim = Tables.orders(spark, sfDir)
      .where(col("o_orderkey") <= 3)
      .select(year(col("o_orderdate")).as("y")).distinct()
    val expectedYears = dim.collect().map(_.getInt(0)).toSet
    val totalYears = Tables.orders(spark, sfDir)
      .select(year(col("o_orderdate"))).distinct().count()
    assert(expectedYears.size < totalYears,
      "fixture guard: the dim filter must select a strict subset of years " +
      "or the pruning assertion below is vacuous")
    val joined = fact.join(dim, col("o_year") === col("y"))
      .groupBy("o_year").count()
    joined.collect()
    // typed assertions, not toString substrings (round-7 advice): the fact
    // scan must carry a DynamicPruningExpression partition filter, and its
    // runtime metric must show FEWER partitions read than exist on disk —
    // pruning that actually pruned, the 100 TB star-join plan feature
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression
    val factScans = flattenPlan(joined.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
        if f.partitionFilters.exists(_.exists(_.isInstanceOf[DynamicPruningExpression]))
        => f
    }
    assert(factScans.nonEmpty,
      s"no scan with a DynamicPruningExpression partition filter in:\n" +
      joined.queryExecution.executedPlan)
    val partitionsRead = factScans.head.metrics("numPartitions").value
    assert(partitionsRead == expectedYears.size,
      s"expected ${expectedYears.size} partitions read, got $partitionsRead")
    assert(partitionsRead < totalYears,
      s"DPP read all $totalYears partitions — nothing was pruned")
    } finally deleteDir(out) // a failed assert must not leak the parquet copy
  }

  test("AQE splits a skewed shuffle partition at runtime (skew-join re-plan)") {
    import spark.implicits._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
    ).map(k => k -> conf.getOption(k)).toMap
    try {
      // thresholds scaled down so the synthetic hot key qualifies as skewed
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16k")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8k")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      // 50k rows on ONE key vs 100 rows spread over 100 keys. NOTE: no
      // group-by on the join key afterwards — a downstream operator that
      // requires hashpartitioning(k) makes OptimizeSkewedJoin decline (the
      // split would break that requirement), which is itself a scale lesson.
      val hot = spark.range(50000).select(lit(0L).as("k"), $"id".as("payload"))
        .union(spark.range(100).select(($"id" % 100 + 1).as("k"), $"id".as("payload")))
      val dim = spark.range(101).select($"id".as("k"), ($"id" * 7).as("v"))
      // collect() drives joined's OWN QueryExecution, so the final adaptive
      // plan (with the skew annotation) is visible on it afterwards
      val joined = hot.join(dim, "k").select($"k", ($"payload" + $"v").as("pv"))
      assert(joined.collect().length == 50100)
      val plan = joined.queryExecution.executedPlan.toString
      // AQE's OptimizeSkewedJoin marks the join skew=true and the shuffle
      // read side shows the split — the runtime re-plan the 100 TB design
      // relies on for unsalted skew
      assert(plan.contains("skew=true") || plan.toLowerCase.contains("skewed"),
        s"expected AQE skew-join handling in:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("registered bucketed-join operator shuffles neither join side") {
    val df = ScaleTechniques.joinBucketedColocated(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the final agg may exchange on c_mktsegment; the JOIN KEY must not —
    // bucket layout supplies the partitioning both sides need
    assert(!p.contains("hashpartitioning(o_custkey") &&
           !p.contains("hashpartitioning(c_custkey"), p)
    assert(p.contains("SortMergeJoin"), p)
  }

  test("bucketed co-located join plans no shuffle exchange") {
    val ord = Tables.orders(spark, sfDir)
    val cust = Tables.customer(spark, sfDir)
    ord.write.mode("overwrite")
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .saveAsTable("orders_bkt")
    cust.write.mode("overwrite")
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .saveAsTable("customer_bkt")
    val joined = spark.table("orders_bkt")
      .join(spark.table("customer_bkt").hint("merge"),
            col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "c_name")
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n$plan")
    spark.sql("DROP TABLE IF EXISTS orders_bkt")
    spark.sql("DROP TABLE IF EXISTS customer_bkt")
  }

  test("multimodal resize/audio stages: budgets, overlap, and energies are exact") {
    import graft.multimodal.Multimodal._
    val media = mediaTable(spark, sfDir)
    val resized = resizePayloads(media).collect()
    val src = media.collect().map(r => r.doc_id -> r).toMap
    assert(resized.length == src.size)
    resized.foreach { r =>
      assert(r.out_width <= StubDecoder.TargetSize && r.out_height <= StubDecoder.TargetSize)
      assert(r.out_bytes ==
        math.min(src(r.doc_id).media.length, r.out_width * r.out_height / 64))
    }
    val wins = audioWindows(media).collect()
    val wavs = src.values.filter(_.format == "wav")
    assert(wins.map(_.doc_id).toSet == wavs.map(_.doc_id).toSet)
    wins.groupBy(_.doc_id).foreach { case (id, ws) =>
      val bytes = src(id).media
      assert(ws.map(_.win_idx).sorted.toSeq == (0 until ws.length))
      val expected = ws.sortBy(_.win_idx).map { w =>
        val lo = w.win_idx * AudioWinHop
        bytes.slice(lo, math.min(lo + AudioWinBytes, bytes.length))
          .map(_ & 0xff).map(_.toLong).sum
      }
      assert(ws.sortBy(_.win_idx).map(_.energy).toSeq == expected.toSeq)
    }
  }

  test("exact kNN past the measured boundary advises the ANN rows (no silent switch)") {
    import graft.llm.Similarity
    val th = Similarity.SimsearchAdviseAnnAbove
    // inside the boundary (every fixture): silent
    assert(Similarity.exactKnnAdvisory(th - 1, th).isEmpty)
    assert(Similarity.exactKnnAdvisory(0L, th).isEmpty)
    // past it: the advisory names both ANN operators and stays advisory
    val msg = Similarity.exactKnnAdvisory(th, th)
    assert(msg.isDefined)
    assert(msg.get.contains("llm_simsearch_ivf") && msg.get.contains("llm_simsearch_lsh"))
    // a threshold of 0 never fires
    assert(Similarity.exactKnnAdvisory(Long.MaxValue, 0L).isEmpty)
    // and the registered operator still runs the exact path on the fixture
    // (the advisory is a log line, not a plan change)
    val rows = graft.SparkEntry.queries("llm_simsearch_topk")(spark, sfDir).count()
    assert(rows > 0)
  }
}
