package graft

import graft.operators.{Relational, Windows}

/** SURVEY.md §4.2 — physical-plan invariants. These are the 100 TB-scale
  * guarantees: broadcast where a dim is small, partial+final aggregation,
  * top-k without a global sort, pushdown reaching the parquet scan, and
  * whole-stage fusion of narrow chains. A regression here is a performance
  * bug even while results stay correct.
  */
class ExplainInvariantsSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** AQE only materializes WholeStageCodegen in the final plan — execute
    * first, then read the (now final) executed plan. */
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

  /** Structural children, descending through the wrappers AQE and codegen
    * interpose (adaptive roots, query stages, whole-stage-codegen) so a
    * path reflects the actual operator ancestry. Deliberately does NOT
    * descend into `InMemoryTableScanExec.relation.cachedPlan`: the cached
    * subtree is a separate materialization, and treating it as plan text
    * was exactly the round-10 advisor's complaint about the string-index
    * spelling (an InMemoryRelation's own doc_id-keyed aggregates could
    * satisfy a substring match meant for the consumer side). */
  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case w: org.apache.spark.sql.execution.WholeStageCodegenExec => Seq(w.child)
    case i: org.apache.spark.sql.execution.InputAdapter => Seq(i.child)
    case other => other.children
  }

  /** Root-to-node path (inclusive) to the first node satisfying `pred`,
    * pre-order. */
  private def pathTo(root: SparkPlan)(pred: SparkPlan => Boolean): Option[List[SparkPlan]] =
    if (pred(root)) Some(List(root))
    else kids(root).view.flatMap(c => pathTo(c)(pred)).headOption.map(root :: _)

  private def isShuffle(p: SparkPlan): Boolean = p match {
    case _: ShuffleExchangeLike => true
    case q: QueryStageExec => isShuffle(q.plan)
    case _ => false
  }

  /** Unwrap to the shuffle's output partitioning, descending AQE stages. */
  private def shufflePartitioning(p: SparkPlan)
      : Option[org.apache.spark.sql.catalyst.plans.physical.Partitioning] = p match {
    case s: ShuffleExchangeLike => Some(s.outputPartitioning)
    case q: QueryStageExec => shufflePartitioning(q.plan)
    case _ => None
  }

  test("join_broadcast plans a BroadcastHashJoin") {
    assert(plan(SparkEntry.queries("join_broadcast")(spark, sfDir)).contains("BroadcastHashJoin"))
  }

  test("agg_hash_group plans partial+final HashAggregate") {
    val p = plan(SparkEntry.queries("agg_hash_group")(spark, sfDir))
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("sort_topk plans TakeOrderedAndProject (no global sort)") {
    val p = plan(SparkEntry.queries("sort_topk")(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("filtered parquet scan pushes predicates into the reader") {
    val p = plan(SparkEntry.queries("scan_parquet")(spark, sfDir))
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"))
  }

  test("scan reads only projected columns (column pruning)") {
    val p = plan(SparkEntry.queries("scan_parquet")(spark, sfDir))
    // ReadSchema must not include money columns the query never touches
    assert(p.contains("ReadSchema") && !p.contains("l_extendedprice"))
  }

  test("mr_chain fuses narrow ops into whole-stage codegen") {
    // `*(n)` is the whole-stage-codegen stage marker in the final AQE plan;
    // filter and project must share stage *(1) — fused, no materialization.
    val p = finalPlan(SparkEntry.queries("mr_chain")(spark, sfDir))
    assert(p.contains("*(1) Project") && p.contains("*(1) Filter"), p)
  }

  test("flagship broadcasts the customer dimension") {
    assert(plan(SparkEntry.queries("flagship")(spark, sfDir)).contains("BroadcastHashJoin"))
  }

  test("join_broadcast and flagship broadcast by their hints, not by size") {
    // the fixture dimensions are small enough that the size rule alone picks
    // broadcast; with it off, only the hint can
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      for (n <- Seq("join_broadcast", "flagship"))
        assert(plan(SparkEntry.queries(n)(spark, sfDir)).contains("BroadcastHashJoin"), n)
    }
  }

  test("join_sort_merge sort-merges by its hint, not by size") {
    // both sides fit the broadcast threshold at fixture scale
    val p = plan(SparkEntry.queries("join_sort_merge")(spark, sfDir))
    assert(p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
  }

  test("sql_star queries keep their Exchange and job counts at sf0.01") {
    // (shuffle Exchanges in the final adaptive plan, Spark jobs) per noop
    // write, as perfbench's sql_star workload executes them
    val expected = Map[String, (Int, Int)](
      "flagship" -> ((1, 4)),
      "scan_parquet" -> ((0, 1)),
      "project_select" -> ((0, 1)),
      "filter_predicate" -> ((1, 2)),
      "agg_hash_group" -> ((1, 2)),
      "agg_count_distinct" -> ((2, 3)),
      "agg_cube" -> ((2, 4)),
      "join_inner_hash" -> ((0, 2)),
      "join_broadcast" -> ((0, 2)),
      "join_multiway" -> ((4, 10)),
      "join_asof" -> ((2, 3)),
      "window_ranking" -> ((1, 2)),
      "topk_per_group" -> ((1, 2)),
      "sort_global" -> ((1, 3)),
      "sort_topk" -> ((0, 1)),
      "distinct_rows" -> ((1, 2)),
      "set_union_distinct" -> ((1, 2)),
      "stream_session" -> ((1, 2)),
      "skew_salted_join" -> ((3, 4)),
    )
    val sf01 = java.nio.file.Paths.get(sfDir).resolveSibling("sf0.01").toString
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val seen = expected.keys.toSeq.sorted.map { n =>
      val df = SparkEntry.queries(n)(spark, sf01)
      val write = new java.util.concurrent.atomic.AtomicReference[SparkPlan]
      val l = new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
          write.set(qe.executedPlan)
        def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(l)
      val (_, jobs) = try jobsDuring(df.write.format("noop").mode("overwrite").save())
        finally spark.listenerManager.unregister(l)
      val exchanges = helper.collectWithSubqueries(write.get) { case e: ShuffleExchangeLike => e }.size
      n -> ((exchanges, jobs))
    }.toMap
    assert(seen == expected, seen.toSeq.sorted.mkString("\n"))
  }

  test("skew_salted_join takes the SHUFFLED path keyed on (key, salt)") {
    // the salt only demonstrates anything if the join actually shuffles on
    // the widened key — at fixture scale AQE would broadcast the exploded
    // build side and the salt would be dead weight; the shuffle_hash hint
    // pins the path the operator exists to model (a 100 TB fact join has no
    // broadcastable side)
    val p = plan(graft.operators.ScaleTechniques.skewSaltedJoin(spark, sfDir))
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
    // both join keys — the natural key AND the salt — must reach the join
    assert(p.contains("l_orderkey") && p.contains("salt"), p)
  }

  test("join_multiway: dims broadcast, lineitem cut before the one fact shuffle") {
    // the adaptive plan string prints final + initial sections; count nodes
    // in the FINAL section only
    val p = finalPlan(Relational.joinMultiway(spark, sfDir))
      .split("== Initial Plan ==").head
    // all four dim sides broadcast: the region→nation→supplier chain and
    // customer⨝orders — no adaptive re-plan leaves a stray shuffled dim join
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p)
    // exactly ONE shuffled join — the lineitem ⨝ (customer⨝orders) fact
    // join — and it hash-builds instead of paying two sort passes
    assert("ShuffledHashJoin".r.findAllIn(p).size == 1, p)
    assert(!p.contains("SortMergeJoin"), p)
    // filter-before-shuffle: the supplier broadcast join (which implements
    // the ASIA cut) must sit BELOW the shuffled fact join in the plan tree,
    // so only the contributing fraction of lineitem reaches the exchange
    val shj = p.indexOf("ShuffledHashJoin")
    val asiaCut = p.indexOf("s_suppkey")
    assert(shj >= 0 && asiaCut > shj, p)
  }

  test("bloom prefilter probe is the codegen might_contain, not a UDF") {
    val p = plan(graft.operators.ScaleTechniques.joinBloomPrefilter(spark, sfDir))
    assert(p.contains("might_contain"), p)
    // BatchEvalPython never appears (no python) — the Scala equivalent tell
    // is an opaque UDF node in the filter; the built-in keeps codegen
    assert(!p.toLowerCase.contains("udf"), p)
  }

  test("IVF ANN broadcasts the centroid codebook and equi-joins on cell id") {
    val p = plan(graft.llm.AnnIvf.ivfTopk(spark, sfDir))
    // codebook joins are broadcast (tiny build side, no shuffle of vectors)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    // the probe is a real equi-join on the cell key, NOT an all-pairs cross
    // join of the corpus — that's the whole point of the inverted file
    assert(p.contains("cell"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("knn graph: no n²-row pair join — candidates come from the B×B block cross") {
    val p = plan(graft.llm.Similarity.knnGraph(spark, sfDir))
    // candidate generation is the blocked exact kernel over collect_list'd
    // block arrays: the only cross join pairs the B-row BLOCK relations
    // (B² bounded rows), never the n-row corpus with itself
    assert(p.contains("graft_knn_block_cands"), p)
    assert(p.contains("collect_list"), p)
    // the former n² candidate join was a non-equi self join on vector ids —
    // its `NOT (src = dst)` / `NOT (vec_id = vec_id)` condition must be gone
    assert(!p.contains("NOT (src"), p)
    assert(!p.contains("NOT (vec_id"), p)
    // the exact float re-rank reaches the vectors through plain equi joins
    assert(p.contains("graft_dot(av"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
           p.contains("ShuffledHashJoin"), p)
  }

  test("simsearch topk: no |Q|·n-row theta join — blocked kernel + merge window") {
    val p = plan(graft.llm.Similarity.simsearchTopk(spark, sfDir))
    assert(p.contains("graft_knn_block_cands"), p)
    assert(p.contains("collect_list"), p)
    assert(!p.contains("NOT (q_id"), p)
    assert(!p.contains("NOT (vec_id"), p)
  }

  test("quantized scan: no |Q|·n-row theta join — blocked kernel + equi re-rank") {
    val p = plan(graft.llm.AnnQuantized.simsearchQuantized(spark, sfDir))
    // the quantized shortlist comes from the B×B block cross through the
    // kNN kernel (scores on the struct — no recompute join); the former
    // broadcast q =!= c theta join over |Q|·n rows must be gone
    assert(p.contains("graft_knn_block_cands"), p)
    assert(p.contains("collect_list"), p)
    assert(!p.contains("NOT (q_id"), p)
    assert(!p.contains("NOT (vec_id"), p)
    // the float re-rank reaches the vectors through plain equi joins
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
           p.contains("ShuffledHashJoin"), p)
  }

  test("fn_variant parses the JSON once per row (single parseJson in plan)") {
    // three variant_get extractions share one parse through the subquery
    // alias; CollapseProject must keep the non-cheap parse in its own
    // projection instead of inlining it three times
    val p = graft.functions.Scalar.fnVariant(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    assert("parseJson".r.findAllIn(p).length == 1, p)
  }

  test("semdedup pair join is keyed on the cluster id (no all-pairs cross)") {
    val p = plan(graft.llm.Clustering.semdedup(spark, sfDir))
    // the within-cluster join must be an equi join on cid — a cross join
    // would mean the clustering bought nothing
    assert(p.contains("cid"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("kmeans assignment broadcasts the centroid table") {
    val p = plan(graft.llm.Clustering.kmeans(spark, sfDir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("bm25 broadcasts the df/avgdl side; tf agg is partial+final") {
    val p = plan(graft.llm.TextAnalysis.bm25(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      "query-term df table must broadcast, not shuffle the corpus")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("bm25 scoring agg rides the tokenize agg's doc_id clustering (no exchange)") {
    // The per-doc score aggregate must sit directly on the stack unpivot
    // over the cached single-pass doc stats: in the plan string the slice
    // from the doc_id-keyed aggregate down to the stack Generate (the
    // stream side prints before the broadcast subtree) may contain no
    // shuffle — the tokenize aggregation's exchange is the only
    // corpus-sized shuffle in the query. Must read the FINAL adaptive
    // plan: the cache's doc_id partitioning is unknown to AQE until the
    // InMemoryRelation materializes, so the INITIAL plan carries a
    // conservative exchange that runtime re-optimization elides.
    val df = graft.llm.TextAnalysis.bm25(spark, sfDir)
    df.collect()
    val root = df.queryExecution.executedPlan
    // walk the TREE (round-10 advisor: the string-index slice could be
    // satisfied vacuously by InMemoryRelation's printed aggregates or by a
    // plan-printing change): path root → the stack-unpivot Generate, then
    // the scoring aggregate is the doc_id-keyed HashAggregate nearest the
    // root on that path — every node strictly between it and the Generate
    // is a true ancestor, and none may be a shuffle. Taking the NEAREST-
    // root occurrence covers the partial+final pair: a regression that
    // re-inserts an exchange between them lands inside the slice.
    // the unpivot Generate is the ONLY Generate in the consumer tree — the
    // tokenize explode lives inside the cached docstats relation, which
    // kids() deliberately does not descend into
    val path = pathTo(root)(
      _.isInstanceOf[org.apache.spark.sql.execution.GenerateExec])
    assert(path.isDefined, "no unpivot Generate in plan:\n" + root.toString.take(2000))
    val nodes = path.get
    val aggIdx = nodes.indexWhere {
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec =>
        h.groupingExpressions.exists(_.toString.contains("doc_id"))
      case _ => false
    }
    assert(aggIdx >= 0, "no doc_id-keyed scoring aggregate above the stack Generate")
    val between = nodes.slice(aggIdx + 1, nodes.length - 1)
    assert(!between.exists(isShuffle),
      "scoring path re-shuffled despite doc_id-clustered cache:\n" +
        between.map(_.nodeName).mkString(" -> "))
    assert(root.toString.contains("TakeOrderedAndProject"), "top-20 must not global-sort")
  }

  test("tfidf ranking window reads the doc_id-clustered cache with no exchange") {
    // tf is repartitioned on doc_id before caching, so the row_number
    // window must consume the InMemoryTableScan without an exchange, and
    // the rank<=5 filter must push down as WindowGroupLimit.
    val df = graft.llm.TextAnalysis.tfidf(spark, sfDir)
    df.collect()
    val root = df.queryExecution.executedPlan
    // tree walk (see bm25 above for why not string slicing): path root →
    // the cache scan; the ranking window is the row_number WindowExec on
    // that path, and nothing between it and the InMemoryTableScan may
    // shuffle.
    val path = pathTo(root)(
      _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryTableScanExec])
    assert(path.isDefined, "no InMemoryTableScan in plan:\n" + root.toString.take(2000))
    val nodes = path.get
    val winIdx = nodes.indexWhere {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.windowExpression.exists(_.toString.contains("row_number"))
      case _ => false
    }
    assert(winIdx >= 0, "no row_number window above the cache scan:\n" +
      nodes.map(_.nodeName).mkString(" -> "))
    val between = nodes.slice(winIdx + 1, nodes.length - 1)
    assert(!between.exists(isShuffle),
      "window re-shuffled despite doc_id-clustered cache:\n" +
        between.map(_.nodeName).mkString(" -> "))
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.window.WindowGroupLimitExec]),
      "rank<=5 must push into the window sort")
  }

  test("ingest dedup broadcasts the batch shingle side (corpus never self-pairs)") {
    val p = plan(graft.llm.Curation.ingestDedup(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      "the small incoming-batch side must broadcast into the corpus pass")
  }

  /** Every node of `p`, descending once into each distinct cached build. */
  private def withBuilds(p: SparkPlan): Seq[SparkPlan] = {
    val nodes = flattenPlan(p)
    val builds = nodes.collect {
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => m.relation
    }.groupBy(_.cacheBuilder).values.map(_.head)
    nodes ++ builds.flatMap(r => withBuilds(r.cachedPlan))
  }

  test("ingest dedup and its stream twin tokenize each document once, not once per shingle") {
    // A tokenizer written inside the shingle lambda re-splits the whole
    // document for every 5-gram (lambda bodies are exempt from
    // subexpression elimination): O(tokens²) per document.
    import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, StringSplit}
    for (df <- Seq(graft.llm.Curation.ingestDedup(spark, sfDir),
                   graft.streaming.StreamNeardup.admitNeardupBatch(spark, sfDir))) {
      val exprs = withBuilds(df.queryExecution.executedPlan).flatMap(_.expressions)
      val splits = exprs.flatMap(_.collect { case e: StringSplit => e })
      val inLambda = exprs.flatMap(_.collect { case l: LambdaFunction => l })
        .flatMap(_.function.collect { case e: StringSplit => e })
      assert(splits.size == 1 && inLambda.isEmpty,
        s"${splits.size} tokenizer(s), ${inLambda.size} inside a lambda")
    }
  }

  test("ingest dedup reads documents.text once") {
    val df = graft.llm.Curation.ingestDedup(spark, sfDir)
    val textScans = withBuilds(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.requiredSchema.fieldNames.contains("text") => f
    }
    assert(textScans.size == 1, s"text ReadSchema count ${textScans.size}")
  }

  test("the near-dup family builds its shingle array once: no filter pushed below the scatter") {
    // A filter on the computed `shs` inside the cached frame is pushed below
    // the scatter exchange and re-runs the whole shingle pipeline on the
    // narrow pre-scatter scan (measured 0.9 → 8.4 s solo). Count the shingle
    // lambda (the one ArrayTransform of these plans) across each query's
    // plan and its cached builds.
    import org.apache.spark.sql.catalyst.expressions.ArrayTransform
    for (name <- Seq("llm_neardup_pairs", "llm_decontaminate", "llm_ingest_dedup",
                     "stream_neardup")) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val transforms = withBuilds(df.queryExecution.executedPlan)
        .flatMap(_.expressions).flatMap(_.collect { case t: ArrayTransform => t })
      assert(transforms.size == 1, s"$name: ${transforms.size} shingle transforms")
    }
  }

  test("bpe encode deploys the merged vocabulary as a broadcast join") {
    val p = plan(graft.llm.TextAnalysis.bpeEncode(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      "the word-keyed vocabulary must broadcast — encoding is map-side")
  }

  test("null-safe join stays an equi hash join, not a theta join") {
    val p = plan(SparkEntry.queries("join_null_safe")(spark, sfDir))
    // EqualNullSafe keys hash-partition like any value; BNLJ/Cartesian
    // would mean Spark fell back to a non-equi strategy
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("window_gap_fill scatters the span table with a range exchange BEFORE the grid explode") {
    // The per-user span table is one row per user — AQE coalesces its
    // exchange to ~1 task by byte size, but the hour-grid explode below it
    // multiplies rows, so everything downstream would serialize on one core
    // (measured round 6). The fix is a width-forcing RANGE repartition on
    // user_id alone placed under the Generate; this pin fails if the
    // scatter is ever removed or "simplified" to a hash repartition (the
    // planner provably eliminates that one and re-coalesces).
    val df = Windows.windowGapFill(spark, sfDir)
    df.collect()
    val root = df.queryExecution.executedPlan
    val gen = pathTo(root) {
      case g: org.apache.spark.sql.execution.GenerateExec =>
        g.generator.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Explode]
      case _ => false
    }
    assert(gen.isDefined, "no explode Generate in plan:\n" + root.toString.take(2000))
    val belowGenerate = gen.get.last
    val scattered = pathTo(belowGenerate) { n =>
      shufflePartitioning(n).exists {
        case r: org.apache.spark.sql.catalyst.plans.physical.RangePartitioning =>
          r.ordering.size == 1 // the span scatter keys user_id alone; the
                               // final deterministic sort ranges (user_id, hr)
                               // and sits ABOVE the Generate, not below
        case _ => false
      }
    }.isDefined
    assert(scattered,
      "grid explode must sit above a width-forcing range scatter of the span table:\n" +
        belowGenerate.toString.take(2000))
  }

  test("sort-free registrations stay sort-free (comparator order lives in the dump)") {
    // project_select / window_gap_fill / window_range_frame moved their
    // trailing comparator-only ORDER BY into graft.Verify's dump (round 13;
    // SparkEntry.dumpSort) — at the 128× probes those sorts were a second
    // full range exchange over the operator's entire output. A reintroduced
    // orderBy would stay result-correct and silently re-inflate the bench,
    // so pin it here: no global Sort may sit at the top of the plan, ABOVE
    // the operator's own work. (Interior sorts — the window's per-partition
    // sort, SMJ sorts — are fine and expected.)
    for (name <- SparkEntry.dumpSort.keys) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val root = df.queryExecution.executedPlan
      // walk down from the root through exchange-free unary wrappers; a
      // global sort requires its own range exchange directly beneath it
      def topSort(p: SparkPlan): Boolean = p match {
        case s: org.apache.spark.sql.execution.SortExec if s.global => true
        case _ => kids(p) match {
          case Seq(only) if !isShuffle(only) => topSort(only)
          case _ => false
        }
      }
      assert(!topSort(root),
        s"$name is registered sort-free but plans a global Sort at the root " +
          s"(reintroduced comparator ORDER BY?):\n" + root.toString.take(1500))
      assert(SparkEntry.oracleSql(name).toUpperCase.contains("ORDER BY"),
        s"$name: the oracle must keep its ORDER BY — the dump-side sort " +
          "matches it (SparkEntry.dumpSort)")
    }
  }

  test("dumpSort column lists equal the oracle's trailing top-level ORDER BY") {
    // The correctness gate hashes the Verify dump (sorted by
    // SparkEntry.dumpSort, ascending) against the oracle result (sorted by
    // its ORDER BY) — the two orders must be the SAME total order or
    // identical values hash-mismatch. Round 13 coupled them by review;
    // this pins the coupling mechanically: parse the oracle's TRAILING
    // top-level ORDER BY (anchored at end-of-string — a subquery/window
    // ORDER BY can't match because more SQL follows it) and require
    // column-for-column equality, all-ascending (Verify's orderBy(ks...)
    // is ascending-only).
    // column refs may be alias-qualified (g.user_id) — compare on the
    // unqualified name, which is what the dump column is called
    // grammar kept IDENTICAL to tools/baseline.py's TRAILING_ORDER_BY
    // (incl. the optional NULLS FIRST|LAST suffix) so an oracle the timing
    // tool can strip is always one this spec can parse (round-14 ADVICE)
    val trailing =
      """(?is).*\sORDER\s+BY\s+([A-Za-z0-9_.]+(?:\s+(?:ASC|DESC))?(?:\s+NULLS\s+(?:FIRST|LAST))?(?:\s*,\s*[A-Za-z0-9_.]+(?:\s+(?:ASC|DESC))?(?:\s+NULLS\s+(?:FIRST|LAST))?)*)\s*$""".r
    for ((name, cols) <- SparkEntry.dumpSort) {
      SparkEntry.oracleSql(name) match {
        case trailing(list) =>
          val items = list.split(",").map(_.trim.split("\\s+").toSeq).toSeq
          assert(!items.exists(_.map(_.toUpperCase).contains("DESC")),
            s"$name: oracle ORDER BY uses DESC but Verify's dump sort is " +
              s"ascending-only — orders would diverge: $list")
          // symmetric guard (round-15 review): Verify's ascending orderBy is
          // NULLS FIRST (Spark's ASC default) while DuckDB's ASC default is
          // NULLS LAST — an explicit NULLS suffix (or a null-bearing dump
          // key relying on either default) would silently diverge the two
          // total orders on the first NULL-keyed row
          assert(!items.exists(_.map(_.toUpperCase).contains("NULLS")),
            s"$name: oracle ORDER BY pins a NULLS ordering the dump sort " +
              s"cannot reproduce (Spark ASC = NULLS FIRST, DuckDB ASC = " +
              s"NULLS LAST) — keep dump keys non-null instead: $list")
          val oracleCols = items.map(_.head.toLowerCase.split('.').last)
          assert(oracleCols == cols.map(_.toLowerCase),
            s"$name: dumpSort ${cols.mkString(",")} != oracle ORDER BY $list")
        case _ =>
          fail(s"$name is in SparkEntry.dumpSort but its oracle has no " +
            "trailing top-level ORDER BY column list — the dump order has " +
            s"nothing to match: ...${SparkEntry.oracleSql(name).takeRight(80)}")
      }
    }
  }

  test("simhash band-pair self-join pins sort-merge (AQE must not broadcast the exploded side)") {
    // The banded side is the corpus exploded 45× through a Generate, whose
    // size estimate is unreliable: at the 64× probe AQE broadcast it
    // (52.8M rows — OOM at 8 GB, 191× wall at 32 GB vs 56.9× suppressed;
    // round 13). The combo-key rungs carry hint("merge"); this pin drives
    // the pair-key path at fixture scale — where an unhinted plan WOULD
    // broadcast, so SMJ in the executed plan proves the hint held.
    val df = graft.llm.Dedup.simhashPairsAt(spark, sfDir, 2)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"),
      "band-pair self-join lost its merge hint:\n" + p.take(2000))
  }

  test("near-dup shuffles carry 8-byte shingle digests, never 5-gram strings") {
    // round 18 (the kept digest A/B): the candidate/verify machinery's
    // exchanges must ship LongType `sh`, not the ~45-byte shingle string —
    // this guards the family's dominant shuffle payload (and the CC-1024×
    // disk budget) against a regression to the string representation.
    // Plan-structural: every shuffle exchange in the executed plan whose
    // output carries an `sh` attribute carries it as LongType.
    // At fixture scale AQE broadcasts every join and elides the agg
    // exchanges entirely, so the guarded shuffles never materialize —
    // disable broadcasting for this test so the verify joins take the
    // shuffled path a production corpus would (the SCALE plan is what the
    // guard protects).
    spark.catalog.clearCache() // a pre-cached string shingle table would hide the exchange
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
                   "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(k => spark.conf.set(k, "-1"))
    try {
      val df = graft.llm.Dedup.neardupPairs(spark, sfDir)
      df.collect()
      def flatten(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(flatten)
      val shuffles = flatten(df.queryExecution.executedPlan).filter(isShuffle)
      val shCarrying = shuffles.filter(_.output.exists(_.name == "sh"))
      assert(shCarrying.nonEmpty,
        "expected shingle-carrying exchanges in the no-broadcast pair plan:\n" +
        df.queryExecution.executedPlan.toString.take(3000))
      val offenders = shCarrying.flatMap(_.output).filter(a =>
        a.name == "sh" && a.dataType != org.apache.spark.sql.types.LongType)
      assert(offenders.isEmpty,
        s"shingle column must shuffle as a 64-bit digest, found: $offenders")
    } finally {
      prev.foreach { case (k, v) => v match {
        case Some(x) => spark.conf.set(k, x)
        case None => spark.conf.unset(k)
      }}
      spark.catalog.clearCache()
    }
  }
}
