package graft.operators

import graft.{Op, Q, Sql, Tables}

/** §2.12 SQL-dialect surface — the query shapes a Hadoop-stack user writes
  * through Hive-style SQL rather than an API: correlated/uncorrelated
  * subqueries, CTE chains, LATERAL VIEW table generators, and recursive
  * CTEs. The reference ships no SQL engine of its own (it is a public
  * Hadoop release — /root/reference/README.md:4); on that stack these
  * queries are what Hive compiles to the MR idioms of §2.3/§2.4. Here they
  * are parsed by Spark SQL and planned by Catalyst directly:
  *
  *  - correlated EXISTS / IN decorrelate to left-semi joins
  *    (`RewritePredicateSubquery`) — no per-row re-execution;
  *  - scalar subqueries become one-row broadcast plans evaluated once;
  *  - CTEs are inlined or reused (`WithCTE`) by cost;
  *  - LATERAL VIEW is a `Generate` node — the map-side UDTF idiom;
  *  - recursive CTEs (Spark 4) iterate a union-loop plan.
  *
  * Every query except the LATERAL VIEW one shares its text VERBATIM with the
  * DuckDB oracle, so the comparison covers parser + semantics end-to-end.
  * At 100 TB nothing here changes shape: the subqueries all reduce to the
  * same broadcast/shuffle joins the §2.3 operators already scale.
  */
object SqlSurface {
  /** Scalar subqueries (two of them) — orders priced above the corpus
    * average. Stated multiplicatively (price × count > total) so the
    * comparison is exact decimal arithmetic: an avg would divide and both
    * engines would round the quotient at different scales. */
  val scalarSubquerySql: String =
    """SELECT o_orderpriority, count(*) AS n_above
      |FROM orders
      |WHERE cast(o_totalprice as decimal(12,2)) * (SELECT count(*) FROM orders)
      |    > (SELECT sum(cast(o_totalprice as decimal(12,2))) FROM orders)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Correlated EXISTS — decorrelated by Catalyst into a left-semi join
    * (plan-asserted in SqlSurfaceSpec); never a per-customer probe. */
  val existsCorrelatedSql: String =
    """SELECT c_mktsegment, count(*) AS n_cust
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** Nested IN subqueries (region → nation → supplier) — each level becomes
    * a broadcast semi join over the tiny dimension. */
  val inSubquerySql: String =
    """SELECT n_name, count(*) AS n_sup
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |WHERE s_nationkey IN (
      |  SELECT n_nationkey FROM nation WHERE n_regionkey IN (
      |    SELECT r_regionkey FROM region WHERE r_name IN ('EUROPE','ASIA')))
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  /** CTE chain: aggregate → window-rank → filter, three logical stages in
    * one statement. rank() is cast because Spark's rank is int32 while
    * DuckDB's is int64 — the hash compare is dtype-strict. */
  val cteChainSql: String =
    """WITH nat_rev AS (
      |  SELECT n_name, cast(sum(cast(o_totalprice as decimal(12,2))) as double) AS rev,
      |         count(*) AS n_orders
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |              JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name),
      |ranked AS (
      |  SELECT n_name, rev, n_orders,
      |         cast(rank() OVER (ORDER BY rev DESC, n_name) as bigint) AS rk
      |  FROM nat_rev)
      |SELECT rk, n_name, rev, n_orders FROM ranked WHERE rk <= 10 ORDER BY rk""".stripMargin

  /** Hive's LATERAL VIEW explode — the SQL spelling of the UDTF/Generate
    * idiom (mr_wordcount is the API spelling of the same plan). Spark-only
    * dialect, so the oracle is a DuckDB unnest with matched semantics. */
  val lateralExplodeSpark: String =
    """SELECT w, count(*) AS cnt
      |FROM documents
      |LATERAL VIEW explode(split(lower(text), '\\s+')) t AS w
      |WHERE w <> ''
      |GROUP BY w
      |ORDER BY cnt DESC, w
      |LIMIT 50""".stripMargin

  val lateralExplodeSql: String =
    """SELECT w, count(*) AS cnt
      |FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS w FROM documents)
      |WHERE w <> ''
      |GROUP BY w
      |ORDER BY cnt DESC, w
      |LIMIT 50""".stripMargin

  /** Recursive CTE (Spark 4 / SPARK-24497): 20 rows of exact bigint
    * factorials — pure integer recursion, no fixture dependence, shared
    * verbatim with DuckDB's WITH RECURSIVE. */
  val recursiveCteSql: String =
    """WITH RECURSIVE r(k, f) AS (
      |  SELECT 1, cast(1 as bigint)
      |  UNION ALL
      |  SELECT k + 1, f * (k + 1) FROM r WHERE k < 20)
      |SELECT k, f FROM r ORDER BY k""".stripMargin

  /** The reference's bundled pi example (QuasiMonteCarlo), made exactly
    * deterministic: instead of sampled points, count the 1000×1000 integer
    * lattice inside the quarter circle — pure int arithmetic, identical in
    * any engine, and embarrassingly parallel over the range splits (Spark's
    * range TVF partitions like spark.range). 4·786380/10⁶ = 3.14552. */
  val piSpark: String =
    """SELECT cast(sum(CASE WHEN a.id*a.id + b.id*b.id < 1000000 THEN 1 ELSE 0 END) as bigint) AS n_in,
      |  cast(4 as double) * cast(sum(CASE WHEN a.id*a.id + b.id*b.id < 1000000 THEN 1 ELSE 0 END) as bigint) / cast(1000000 as double) AS pi_est
      |FROM range(1000) a CROSS JOIN range(1000) b""".stripMargin

  val piSql: String =
    """SELECT cast(sum(CASE WHEN a.i*a.i + b.i*b.i < 1000000 THEN 1 ELSE 0 END) as bigint) AS n_in,
      |  cast(4 as double) * cast(sum(CASE WHEN a.i*a.i + b.i*b.i < 1000000 THEN 1 ELSE 0 END) as bigint) / cast(1000000 as double) AS pi_est
      |FROM range(1000) a(i) CROSS JOIN range(1000) b(i)""".stripMargin

  /** Hive's `TRANSFORM ... USING` — the true Hadoop Streaming surface: rows
    * serialized over stdin to an arbitrary subprocess, stdout parsed back as
    * rows (mr_streaming_udf is the in-process UDF analog; this one really
    * crosses a process boundary per partition, exactly like PipeMapper).
    * `cat` is the identity mapper; no-serde mode returns tab-separated
    * strings, so the oracle casts to varchar. At 100 TB this runs one
    * subprocess per task, not per row — same amortization as Streaming. */
  val transformScriptSpark: String =
    """SELECT k, v FROM (
      |  SELECT TRANSFORM(n_nationkey, n_name) USING 'cat' AS (k string, v string)
      |  FROM nation)
      |ORDER BY k, v""".stripMargin

  val transformScriptSql: String =
    """SELECT cast(n_nationkey as varchar) AS k, n_name AS v
      |FROM nation ORDER BY k, v""".stripMargin

  /** Hive's DISTRIBUTE BY / SORT BY — partition-then-sort-within-partition,
    * the dialect spelling of the secondary-sort idiom (sort_secondary is the
    * API spelling). The observable, oracle-checkable form adds an outer
    * total ORDER BY; the inner clause is still parsed, planned (exchange +
    * per-partition sort) and executed. */
  val distributeSortSpark: String =
    """SELECT user_id, event_id, event_type FROM (
      |  SELECT user_id, event_id, event_type FROM events
      |  DISTRIBUTE BY user_id SORT BY user_id, event_id)
      |ORDER BY user_id, event_id""".stripMargin

  val distributeSortSql: String =
    """SELECT user_id, event_id, event_type
      |FROM events ORDER BY user_id, event_id""".stripMargin

  /** The SQL:2003 FILTER clause on aggregates — conditional aggregation
    * without CASE-wrapping every argument; Catalyst plans it as the same
    * partial+final hash aggregate with a per-function predicate. */
  val aggFilterClauseSql: String =
    """SELECT o_orderpriority,
      |  count(*) AS n_all,
      |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
      |  cast(sum(cast(o_totalprice as decimal(12,2))) FILTER (WHERE o_orderstatus = 'F') as double) AS rev_finished
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** `GROUP BY ALL` (modern dialect shorthand, supported by Spark and DuckDB
    * alike): every non-aggregate select item becomes a grouping key — the
    * parser expands it to the same partial+final hash aggregate as an
    * explicit GROUP BY. Shared verbatim with the oracle. */
  val groupByAllSql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
      |  cast(sum(cast(l_quantity as bigint)) as bigint) AS sum_qty
      |FROM lineitem
      |GROUP BY ALL
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** The named `WINDOW` clause (SQL:2003): one window specification shared
    * by several analytic functions instead of being restated per function.
    * Catalyst resolves both references to a single Window node — one
    * exchange + one sort serve every function over `w`. Shared verbatim. */
  val windowClauseSql: String =
    """SELECT o_custkey, o_orderkey,
      |  rank() OVER w AS rk,
      |  cast(count(*) OVER wf as bigint) AS n_so_far,
      |  cast(sum(cast(o_totalprice as decimal(12,2))) OVER wf as double) AS run_total
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      |       wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** LATERAL subquery join (SQL:1999): the inner subquery references the
    * outer row — here a per-region ordered LIMIT, i.e. top-2-per-group
    * spelled relationally instead of via a window. Catalyst decorrelates the
    * correlated limit into a ranked join (DecorrelateInnerQuery), so there
    * is no per-outer-row re-execution. Shared verbatim with the oracle. */
  val lateralJoinSql: String =
    """SELECT r_name, n_name, n_nationkey
      |FROM region, LATERAL (
      |  SELECT n_name, n_nationkey FROM nation
      |  WHERE n_regionkey = r_regionkey
      |  ORDER BY n_name LIMIT 2) AS top2
      |ORDER BY r_name, n_name""".stripMargin

  /** Catalog/DDL lifecycle — the Hive-style CREATE TABLE + partitioned
    * INSERT OVERWRITE + catalog read-back a Hadoop-SQL user runs daily.
    * The table is external (tmp LOCATION) and re-created per run (DROP →
    * CREATE → INSERT OVERWRITE is idempotent, so bench repeats are safe).
    * The read-back goes through the session catalog BY NAME and filters on
    * the partition column — partition pruning on a catalog table, the
    * layout every 100 TB warehouse query relies on. The oracle recomputes
    * the same relation straight from the parquet fixture. */
  /** One fixed scratch location per JVM, overwritten on every run (INSERT
    * OVERWRITE replaces partition contents in place) — a fresh temp dir per
    * invocation would leak a full table copy per bench/verify pass, since
    * DROP TABLE on an external table keeps its files by design. The path is
    * scoped by process id so two concurrent JVMs (e.g. bench + a test run)
    * doing DROP + INSERT OVERWRITE never stomp each other's reads; within a
    * JVM the pid is constant, so the no-leak reuse property is kept.
    * Cross-RUN leakage (round-7 advice: every JVM leaves one table copy
    * behind forever, since DROP on an external table keeps files) is closed
    * two ways: a shutdown hook deletes this JVM's dir on clean exit, and
    * first use sweeps any graft_ddl_scratch_<pid> dir whose pid no longer
    * names a live process (a killed JVM never runs its hook). Pid reuse can
    * at worst defer one sweep — the dir is then reclaimed when that pid
    * dies. Sweep hardening (round-8 ADVICE): deletion never follows
    * symlinks (a planted link inside a dead-pid dir must not reach outside
    * tmp — same rule as Spark's own JavaUtils.deleteRecursively), only
    * dirs owned by the current user are touched, and a non-numeric suffix
    * is left alone rather than unconditionally swept. */
  private lazy val ddlScratchDir: String = {
    import java.nio.file.Files
    import graft.Util.deleteRecursively
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val prefix = "graft_ddl_scratch_"
    val me = System.getProperty("user.name")
    Option(tmp.listFiles()).getOrElse(Array.empty).foreach { f =>
      if (f.isDirectory && !Files.isSymbolicLink(f.toPath) &&
          f.getName.startsWith(prefix)) {
        val ownedByMe =
          try Files.getOwner(f.toPath).getName == me
          catch { case _: java.io.IOException => false }
        val stale = f.getName.stripPrefix(prefix).toLongOption
          .exists(pid => !ProcessHandle.of(pid).isPresent)
        if (ownedByMe && stale) deleteRecursively(f)
      }
    }
    val dir = new java.io.File(tmp, prefix + ProcessHandle.current().pid())
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => deleteRecursively(dir), "graft-ddl-scratch-cleanup"))
    dir.getAbsolutePath
  }

  val sqlCreateInsert: Q = (s, d) => {
    Tables.registerViews(s, d)
    val loc = ddlScratchDir
    s.sql("DROP TABLE IF EXISTS graft_orders_ddl")
    s.sql(
      s"""CREATE TABLE graft_orders_ddl (
         |  o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING)
         |USING parquet
         |PARTITIONED BY (o_orderpriority)
         |LOCATION '$loc'""".stripMargin)
    s.sql(
      """INSERT OVERWRITE TABLE graft_orders_ddl PARTITION (o_orderpriority)
        |SELECT o_orderkey, o_totalprice, o_orderpriority
        |FROM orders WHERE o_orderstatus = 'F'""".stripMargin)
    s.sql(
      """SELECT o_orderpriority, count(*) AS n,
        |  cast(sum(cast(round(o_totalprice * 100) as bigint)) as double) / 100.0 AS sum_price
        |FROM graft_orders_ddl
        |WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  val sqlCreateInsertOracleSql: String =
    """SELECT o_orderpriority, count(*) AS n,
      |  cast(sum(cast(round(o_totalprice * 100) as bigint)) as double) / 100.0 AS sum_price
      |FROM orders
      |WHERE o_orderstatus = 'F' AND o_orderpriority IN ('1-URGENT', '5-LOW')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** SQL `PIVOT` clause (the dialect spelling of `agg_pivot`'s API form):
    * order counts per market segment × priority, one column per pivoted
    * priority. Spark parses the PIVOT clause natively; the value list is
    * explicit, so the output schema is static (value discovery would be a
    * scan — the same rule the API operator documents). DuckDB's PIVOT
    * grammar differs, so the oracle is the conditional-aggregation twin.
    * Spark's PIVOT yields NULL for an empty cell where the conditional
    * aggregation yields 0, so the pivoted counts are coalesced to 0 —
    * the equivalence must not hinge on every fixture cell being dense. */
  val pivotSpark: String =
    """SELECT c_mktsegment,
      |  coalesce(urgent, 0) AS urgent,
      |  coalesce(high, 0) AS high,
      |  coalesce(medium, 0) AS medium
      |FROM (
      |  SELECT * FROM (
      |    SELECT c_mktsegment, o_orderpriority
      |    FROM orders JOIN customer ON o_custkey = c_custkey)
      |  PIVOT (count(*) FOR o_orderpriority
      |         IN ('1-URGENT' AS urgent, '2-HIGH' AS high, '3-MEDIUM' AS medium)))
      |ORDER BY c_mktsegment""".stripMargin

  val pivotOracleSql: String =
    """SELECT c_mktsegment,
      |  cast(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) as bigint) AS urgent,
      |  cast(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) as bigint) AS high,
      |  cast(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) as bigint) AS medium
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("sql_pivot", Op.sqlQuery(pivotSpark), Sql(pivotOracleSql)),
    Op("sql_create_insert", sqlCreateInsert, Sql(sqlCreateInsertOracleSql)),
    Op.shared("sql_lateral_join", lateralJoinSql),
    Op.shared("sql_group_by_all", groupByAllSql),
    Op.shared("sql_window_clause", windowClauseSql),
    Op.shared("agg_filter_clause", aggFilterClauseSql),
    Op("sql_transform_script", Op.sqlQuery(transformScriptSpark), Sql(transformScriptSql)),
    Op("sql_distribute_sort", Op.sqlQuery(distributeSortSpark), Sql(distributeSortSql)),
    Op.shared("sql_scalar_subquery", scalarSubquerySql),
    Op.shared("sql_exists_correlated", existsCorrelatedSql),
    Op.shared("sql_in_subquery", inSubquerySql),
    Op.shared("sql_cte_chain", cteChainSql),
    Op("sql_lateral_explode", Op.sqlQuery(lateralExplodeSpark), Sql(lateralExplodeSql)),
    Op.shared("sql_recursive_cte", recursiveCteSql),
    Op("mr_pi", (s, _) => s.sql(piSpark), Sql(piSql)),
  )
}
