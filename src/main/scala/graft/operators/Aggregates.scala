package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{Dsl, NoOracle, Op, Q, Sql, Tables}

/** §2.4 aggregations (SURVEY.md).
  *
  * Reference provenance: the reduce + combiner substrate of a public Hadoop
  * release (/root/reference/README.md:4) — partial aggregation is manual
  * (combiner class) there; Catalyst plans partial+final HashAggregateExec
  * automatically, which is asserted by an EXPLAIN unit test.
  *
  * Determinism: all floating aggregates go through exact decimal or
  * integer-valued-double sums (see graft.Dsl) so results are bit-stable
  * across partitionings and engines.
  */
object Aggregates {
  import Dsl._

  /** TPC-H Q1 shape: partial+final hash aggregation with combiner semantics. */
  val aggHashGroupSql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  sum(l_quantity) AS sum_qty,
       |  ${moneySumSql("l_extendedprice")} AS sum_base_price,
       |  $discPriceSumSql AS sum_disc_price,
       |  $chargeSumSql AS sum_charge,
       |  round(sum(l_quantity) / count(*), 6) AS avg_qty,
       |  round(${moneySumSql("l_extendedprice")} / count(*), 6) AS avg_price,
       |  count(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '2001-09-01'
       |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** Exact distinct customers per order priority (Expand + 2-phase agg). */
  val aggCountDistinctSql: String =
    """SELECT o_orderpriority, count(DISTINCT o_custkey) AS uniq_custs, count(*) AS orders
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** HLL approximate distinct — error bound asserted in ScalaTest (no SQL
    * oracle: HLL implementations differ across engines by design). */
  val aggApproxDistinct: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id")).as("approx_users"))
      .orderBy("event_type")

  /** Sketch MERGEABILITY — the property that makes sketches matter at shard
    * scale: per-source HLL sketches (Spark 4's DataSketches `hll_sketch_agg`)
    * unioned with `hll_union_agg` estimate the global distinct count from
    * shard-local state, never re-scanning the data. Both paths are
    * DETERMINISTIC functions of the data (no RNG), but merged and
    * single-pass estimates may differ by a few counts when sketches merge
    * out of the exact sparse mode (observed 502 vs 504 at sf0.01, true
    * count 500) — the spec pins BOTH within the HLL error envelope of the
    * exact distinct count. Registered rows-only (no DuckDB twin of the
    * DataSketches encoding). At 100 TB this is the pattern every per-shard
    * stats job relies on: sketch per partition of work, union the KB-sized
    * states. */
  val aggHllMerge: Q = (s, d) => {
    Tables.registerViews(s, d)
    s.sql("""SELECT 'merged_per_source' AS method,
            |  hll_sketch_estimate(hll_union_agg(sk)) AS distinct_users
            |FROM (
            |  SELECT source AS grp, hll_sketch_agg(cast(doc_id % 2000 as string)) AS sk
            |  FROM documents GROUP BY source)
            |UNION ALL
            |SELECT 'single_pass',
            |  hll_sketch_estimate(hll_sketch_agg(cast(doc_id % 2000 as string)))
            |FROM documents
            |ORDER BY method""".stripMargin)
  }

  /** Sort-agg fallback path: collect_list goes through ObjectHashAggregate
    * with sort-based fallback; rows-only check + EXPLAIN unit test. */
  val aggSortFallback: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(size(sort_array(collect_list(col("l_orderkey")))).as("n_keys"),
           count(lit(1)).as("n"))

  /** Hierarchical subtotals over region → nation with grouping flags.
    * Declared in SQL shared verbatim with the oracle (grouping() column
    * provenance is awkward to express through the DataFrame lint). */
  val aggRollupSql: String =
    s"""SELECT grouping(r_name) AS g_r, grouping(n_name) AS g_n,
       |  coalesce(r_name, 'ALL') AS r_name2, coalesce(n_name, 'ALL') AS n_name2,
       |  count(*) AS custs, ${moneySumSql("c_acctbal")} AS sum_bal
       |FROM customer
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY ROLLUP (r_name, n_name)
       |ORDER BY g_r, g_n, r_name2, n_name2""".stripMargin

  /** All grouping combinations over (segment, priority). */
  val aggCubeSql: String =
    s"""SELECT grouping(c_mktsegment) AS g_s, grouping(o_orderpriority) AS g_p,
       |  coalesce(c_mktsegment, 'ALL') AS seg, coalesce(o_orderpriority, 'ALL') AS prio,
       |  count(*) AS n, ${moneySumSql("o_totalprice")} AS sum_price
       |FROM customer JOIN orders ON c_custkey = o_custkey
       |GROUP BY CUBE (c_mktsegment, o_orderpriority)""".stripMargin

  /** Same result as the shared SQL text, but pre-aggregated: the join output
    * is first reduced to one partial (count, long cents sum) per (seg, prio)
    * base cell, and CUBE's Expand runs over those ≤|seg|×|prio| partials
    * instead of every joined row. Sum/count re-aggregate losslessly
    * (integer cents are exact), so the oracle is unchanged; at 100 TB this turns
    * the 4× Expand blow-up of the fact table into a no-op (measured
    * 1.6 → 0.45 s at sf0.1). */
  val aggCube: Q = (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .groupBy("c_mktsegment", "o_orderpriority")
      .agg(count(lit(1)).as("pn"), sum(cents(col("o_totalprice"))).as("ps"))
      .cube(col("c_mktsegment"), col("o_orderpriority"))
      .agg(sum("pn").as("n"), (sum("ps") / 100.0).as("sum_price"),
           grouping(col("c_mktsegment")).as("g_s"),
           grouping(col("o_orderpriority")).as("g_p"))
      .select(col("g_s"), col("g_p"),
              coalesce(col("c_mktsegment"), lit("ALL")).as("seg"),
              coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
              col("n"), col("sum_price"))

  /** Explicit GROUPING SETS, one query text for both engines. */
  val aggGroupingSetsSql: String =
    """SELECT grouping(o_orderstatus) AS g_st, grouping(o_orderpriority) AS g_pr,
      |  coalesce(o_orderstatus, 'ALL') AS st, coalesce(o_orderpriority, 'ALL') AS pr,
      |  count(*) AS n
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY g_st, g_pr, st, pr""".stripMargin

  /** Per-group collected values, sorted for determinism (reducer Iterable). */
  val aggCollect: Q = (s, d) =>
    Tables.customer(s, d).where(col("c_acctbal") > 9500)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .groupBy("c_custkey")
      // collected list serialized to a scalar: the driver's pandas
      // hash-compare cannot hash numpy arrays (round-1 harness crash)
      .agg(concat_ws("|", transform(sort_array(collect_list(col("o_orderkey"))),
             k => k.cast("string"))).as("orderkeys"),
           count(lit(1)).as("n"))

  val aggCollectSql: String =
    """SELECT c_custkey,
      |  array_to_string(list_transform(list_sort(list(o_orderkey)),
      |                                 x -> cast(x as varchar)), '|') AS orderkeys,
      |  count(*) AS n
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |WHERE c_acctbal > 9500
      |GROUP BY c_custkey""".stripMargin

  /** Exact interpolated percentiles per group (integer-valued input, so the
    * linear interpolation lands on exact .0/.25/.5/.75 doubles). */
  val aggPercentile: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(expr("percentile(l_quantity, 0.25)").as("p25"),
           expr("percentile(l_quantity, 0.5)").as("p50"),
           expr("percentile(l_quantity, 0.75)").as("p75"))

  val aggPercentileSql: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.25) AS p25,
      |  quantile_cont(l_quantity, 0.5) AS p50,
      |  quantile_cont(l_quantity, 0.75) AS p75
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Value-distribution histogram (aggregatewordhist idiom). */
  val aggHistogramSql: String =
    """SELECT cast(floor(value / 5) as bigint) AS bucket, count(*) AS n
      |FROM events GROUP BY bucket""".stripMargin

  /** Statistical moments via exact integer/decimal sums → closed-form double.
    * Avoids engine-native stddev/corr whose partial-merge order is
    * nondeterministic in floating point; here every intermediate is exact, so
    * the final doubles are bit-identical across engines and runs.
    */
  val aggStddevCorrSql: String =
    """WITH m AS (
      |  SELECT l_returnflag, count(*) AS n,
      |    sum(cast(l_quantity as bigint)) AS sq,
      |    sum(cast(l_quantity as bigint) * cast(l_quantity as bigint)) AS sqq,
      |    sum(cast(l_extendedprice as decimal(12,2))) AS sp,
      |    sum(cast(l_extendedprice as decimal(12,2)) * cast(l_extendedprice as decimal(12,2))) AS spp,
      |    sum(cast(l_extendedprice as decimal(12,2)) * cast(l_quantity as bigint)) AS spq
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  round(sqrt((sqq - sq * sq / n) / (n - 1)), 6) AS stddev_qty,
      |  round((cast(spq as double) - cast(sp as double) * cast(sq as double) / n) /
      |   (sqrt(sqq - sq * sq / n) *
      |    sqrt(cast(spp as double) - cast(sp as double) * cast(sp as double) / n)), 6) AS corr_qty_price
      |FROM m""".stripMargin

  /** Pivot: order counts per market segment × priority, one column per
    * priority. Spark's groupBy().pivot() with an explicit value list keeps
    * the schema static (required at scale — value discovery is a scan);
    * oracle expresses the same thing as conditional aggregation. */
  val aggPivot: Q = (s, d) => {
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .groupBy("c_mktsegment")
      .pivot("o_orderpriority", prios)
      .agg(count(lit(1)))
      .select(col("c_mktsegment"),
        col("1-URGENT").as("urgent"), col("2-HIGH").as("high"),
        col("3-MEDIUM").as("medium"), col("4-NOT SPECIFIED").as("unspec"),
        col("5-LOW").as("low"))
  }

  val aggPivotSql: String =
    """SELECT c_mktsegment,
      |  count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent,
      |  count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS high,
      |  count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS medium,
      |  count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS unspec,
      |  count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS low
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_mktsegment""".stripMargin

  /** Deterministic hash-based sampling — the reproducible alternative to
    * rand()-based TABLESAMPLE for pipeline reruns: membership depends only
    * on the key, so the sample is stable across runs, engines, and cluster
    * sizes (exactly what a training-data pipeline needs). */
  val sampleHash: Q = (s, d) =>
    Tables.orders(s, d)
      .where(pmod(xxhash64(col("o_orderkey")), lit(10)) === 0)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")

  /** Deterministic sampling on a modulus of the key itself: as
    * reproducible as sample_hash, and DuckDB computes the same membership
    * (xxhash64 has no DuckDB twin). */
  val sampleModSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE ((o_orderkey % 10) + 10) % 10 = 3""".stripMargin

  /** Stratified deterministic sampling: a fixed-size sample per stratum
    * (order priority), chosen by ranking on md5 of the key — every stratum
    * contributes exactly min(n, 50) rows no matter how skewed the strata
    * sizes are, and membership is reproducible across runs/engines/cluster
    * sizes (md5 has an identical twin in DuckDB, unlike xxhash64). The
    * window is partitioned by stratum → one shuffle, no global sort. */
  val sampleStratified: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority"))
      .orderBy(md5(concat(lit("strat:"), col("o_orderkey").cast("string"))),
               col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 50)
      .select("o_orderpriority", "rk", "o_orderkey", "o_totalprice")
  }

  val sampleStratifiedSql: String =
    """WITH ranked AS (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY md5('strat:' || cast(o_orderkey as varchar)), o_orderkey) AS rk
      |  FROM orders)
      |SELECT o_orderpriority, cast(rk as int) AS rk, o_orderkey, o_totalprice
      |FROM ranked WHERE rk <= 50""".stripMargin

  /** Approximate quantiles (KLL-style sketch under percentile_approx) —
    * error bound vs exact asserted in ScalaTest (sketches differ by engine,
    * so no SQL oracle). */
  val aggApproxQuantile: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("p50_approx"),
           percentile_approx(col("l_extendedprice"), lit(0.95), lit(1000)).as("p95_approx"))
      .orderBy("l_returnflag")

  /** Bitwise aggregates (flag-mask consolidation shape). */
  val aggBitwiseSql: String =
    """SELECT o_orderpriority,
      |  bit_and(o_custkey) AS k_and,
      |  bit_or(o_custkey) AS k_or,
      |  bit_xor(o_custkey) AS k_xor
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** UNPIVOT / melt — wide metric columns to long (metric, value) rows, the
    * inverse of agg_pivot. `Dataset.unpivot` plans as a map-side Expand (one
    * output row per value column, no shuffle); the upstream per-flag
    * aggregation is the only exchange. All three metrics are bigint so the
    * stacked value column has one type. */
  val aggUnpivot: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(sum(col("l_quantity")).cast("bigint").as("sum_qty"),
           count(lit(1)).as("n_rows"),
           countDistinct(col("l_partkey")).as("n_parts"))
      .unpivot(Array(col("l_returnflag")),
               Array(col("sum_qty"), col("n_rows"), col("n_parts")),
               "metric", "val")

  val aggUnpivotSql: String =
    """WITH wide AS (
      |  SELECT l_returnflag,
      |    cast(sum(cast(l_quantity as bigint)) as bigint) AS sum_qty,
      |    count(*) AS n_rows,
      |    count(DISTINCT l_partkey) AS n_parts
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, metric, val FROM (
      |  SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS val FROM wide
      |  UNION ALL
      |  SELECT l_returnflag, 'n_rows', n_rows FROM wide
      |  UNION ALL
      |  SELECT l_returnflag, 'n_parts', n_parts FROM wide)""".stripMargin

  /** LISTAGG (SQL:2016, Spark 4) — ordered string concatenation per group,
    * the reducer-side "join the values" idiom; WITHIN GROUP fixes the element
    * order so the result is deterministic. DuckDB twin: string_agg with
    * ORDER BY. */
  val aggListagg: Q = (s, d) => {
    Tables.registerViews(s, d)
    s.sql("""SELECT r_name,
            |  listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS members
            |FROM nation JOIN region ON n_regionkey = r_regionkey
            |GROUP BY r_name""".stripMargin)
  }

  val aggListaggSql: String =
    """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS members
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name""".stripMargin

  /** Statistical mode per group (most frequent value, ties → smallest):
    * count + rank, the two-aggregation idiom — DuckDB's mode() aggregate
    * breaks ties arbitrarily, so the oracle uses the same explicit rank. */
  val aggModeSql: String =
    """WITH cnt AS (
      |  SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
      |  FROM orders GROUP BY o_orderstatus, o_orderpriority),
      |ranked AS (
      |  SELECT o_orderstatus, o_orderpriority, cnt,
      |    row_number() OVER (PARTITION BY o_orderstatus
      |                       ORDER BY cnt DESC, o_orderpriority) AS rk
      |  FROM cnt)
      |SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt
      |FROM ranked WHERE rk = 1""".stripMargin

  // agg_sort_fallback's VALUES are oracle-checkable even though the sort-agg
  // PHYSICAL path it exists to exercise is asserted in ExplainInvariantsSpec:
  // size(sort_array(collect_list(k))) is just the group count.
  val aggSortFallbackSql: String =
    """SELECT l_returnflag, cast(count(*) as int) AS n_keys, count(*) AS n
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Registered SORT-FREE (round 15, tranche 3): grouped/sampled outputs are
    * keyed lookups downstream — the trailing ORDER BY was comparator-only
    * (even a tiny sorted output pays an extra AQE stage + range exchange per
    * suite pass). Keys are the group-by keys (unique by construction). Verify
    * sorts the dump by these keys and the oracle's ORDER BY is derived from
    * them. agg_rollup / agg_grouping_sets keep the ORDER BY inside their
    * text. */
  val ops: Seq[Op] = Seq(
    Op.shared("agg_mode", aggModeSql, Seq("o_orderstatus")),
    Op("agg_unpivot", aggUnpivot, Sql(aggUnpivotSql), Seq("l_returnflag", "metric")),
    Op("agg_listagg", aggListagg, Sql(aggListaggSql), Seq("r_name")),
    Op.shared("agg_bitwise", aggBitwiseSql, Seq("o_orderpriority")),
    Op("agg_pivot", aggPivot, Sql(aggPivotSql), Seq("c_mktsegment")),
    Op("sample_hash", sampleHash,
      NoOracle("graft.LlmSpec", "membership hashes with xxhash64, which DuckDB lacks")),
    Op.shared("sample_mod", sampleModSql, Seq("o_orderkey")),
    Op("sample_stratified", sampleStratified,
      Sql(sampleStratifiedSql), Seq("o_orderpriority", "rk")),
    Op("agg_approx_quantile", aggApproxQuantile,
      NoOracle("graft.LlmSpec", "Spark's GK-sketch quantiles have no bit-equal DuckDB twin")),
    Op.shared("agg_hash_group", aggHashGroupSql, Seq("l_returnflag", "l_linestatus")),
    Op.shared("agg_count_distinct", aggCountDistinctSql, Seq("o_orderpriority")),
    Op("agg_approx_distinct", aggApproxDistinct,
      NoOracle("graft.LlmSpec", "Spark's HLL++ estimate has no bit-equal DuckDB twin")),
    Op("agg_hll_merge", aggHllMerge,
      NoOracle("graft.LlmSpec", "HLL sketch estimates have no bit-equal DuckDB twin")),
    Op("agg_sort_fallback", aggSortFallback, Sql(aggSortFallbackSql), Seq("l_returnflag")),
    Op.shared("agg_rollup", aggRollupSql),
    Op("agg_cube", aggCube, Sql(aggCubeSql), Seq("g_s", "g_p", "seg", "prio")),
    Op.shared("agg_grouping_sets", aggGroupingSetsSql),
    Op("agg_collect", aggCollect, Sql(aggCollectSql), Seq("c_custkey")),
    Op("agg_percentile", aggPercentile, Sql(aggPercentileSql), Seq("l_returnflag")),
    Op.shared("agg_histogram", aggHistogramSql, Seq("bucket")),
    Op.shared("agg_stddev_corr", aggStddevCorrSql, Seq("l_returnflag")),
  )
}
