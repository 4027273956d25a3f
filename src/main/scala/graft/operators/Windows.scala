package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Dsl, Op, Q, Sql, Tables}

/** §2.5 window functions + §2.6 sorts/limits/top-k (SURVEY.md).
  *
  * Reference provenance: the secondary-sort idiom (composite key + grouping
  * comparator) and TeraSort's TotalOrderPartitioner of a public Hadoop
  * release (/root/reference/README.md:4). Spark's window exchange partitions
  * by the PARTITION BY key and sorts within — exactly the secondary-sort
  * shuffle — and `orderBy` plans a RangePartitioning exchange whose reservoir
  * sampling IS TeraSort's partitioner, so both scale the same way the
  * hand-built originals did.
  *
  * Scale notes: `sort_topk` must plan TakeOrderedAndProject (per-partition
  * heap + driver merge of k rows, no global sort) — asserted by an EXPLAIN
  * unit test. Running/window aggregates over money use exact decimals so
  * their left-to-right accumulation is bit-stable.
  */
object Windows {
  import Dsl._

  // ---- §2.5 windows -------------------------------------------------------

  /** row_number (unique tiebreak) + rank/dense_rank (deterministic on ties).
    * Registered SORT-FREE (round 14): the window already hash-partitions by
    * o_custkey and sorts WITHIN partitions — the trailing global ORDER BY
    * was a second full range exchange over the O(|orders|) output, for the
    * hash compare only. (o_custkey, o_orderkey) with unique o_orderkey is
    * a total order; Verify applies it to the dump. */
  val windowRankingSql: String =
    """SELECT o_custkey, o_orderkey,
      |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn,
      |  rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rk,
      |  dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS drk
      |FROM orders""".stripMargin

  /** ntile bucketing within each market segment. */
  val windowNtileSql: String =
    """SELECT c_mktsegment, c_custkey,
      |  ntile(4) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS quartile
      |FROM customer""".stripMargin

  /** lag/lead time-series deltas per user on the event stream table. */
  val windowLagLeadSql: String =
    s"""SELECT user_id, event_id, value,
       |  lag(value, 1) OVER w AS prev_value,
       |  lead(event_type, 1) OVER w AS next_type,
       |  ${round6Sql("value - lag(value, 1) OVER w")} AS delta
       |FROM events
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin

  /** Running ROWS-frame aggregates (exact long-cents accumulation). */
  val windowRunningRowsSql: String =
    s"""SELECT o_custkey, o_orderkey,
       |  cast(sum(${centsSql("o_totalprice")}) OVER w as double) / 100.0 AS running_spend,
       |  count(*) OVER w AS running_orders
       |FROM orders
       |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  /** RANGE-frame aggregate over a numeric ordering (value-neighborhood sum).
    * Frame membership depends only on the ORDER BY value, so ties are safe.
    * Partitioned by l_orderkey — a HIGH-cardinality key. The first cut used
    * l_returnflag (3 values): correct, but 3 window partitions means 3 tasks
    * own the whole table however many executors exist — the canonical
    * low-cardinality window-key anti-pattern (4.8s → ~1s at sf0.1, and the
    * gap only widens with scale). Registered SORT-FREE (round 13): the
    * trailing 4-key ORDER BY was comparator-only, and at the 128× probe it
    * re-sorted the 76.8M-row window output through a second range exchange. */
  val windowRangeFrameSql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
      |  sum(l_quantity) OVER w AS nbhd_qty,
      |  count(*) OVER w AS nbhd_n
      |FROM lineitem
      |WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_quantity
      |             RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)""".stripMargin

  /** first/last value over the full partition frame. */
  val windowFirstLastSql: String =
    """SELECT user_id, event_id,
      |  first_value(event_type) OVER w AS first_type,
      |  last_value(event_type) OVER w AS last_type
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin

  /** Per-group top-k (secondary-sort + reducer-head idiom). */
  val topkPerGroupSql: String =
    """SELECT * FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 3""".stripMargin

  /** Batch sessionization as gaps-and-islands: a session breaks when the
    * gap to the user's previous event exceeds 30 minutes; the session index
    * is a running sum of break flags. The WINDOW-FUNCTION twin of the
    * streaming `session_window` operator (both oracled), with one boundary
    * difference: here a gap of EXACTLY 30 minutes stays in-session (strict
    * `>`), while `session_window`'s half-open [start, start+gap) frame
    * starts a new session on the exact boundary — an event landing
    * precisely on it diverges between the two. Different machinery too:
    * one sort-partitioned exchange per user serves the lag AND the running
    * sum (Spark plans a single Window node), where the streaming path
    * merges sessions in the state store. Determinism: events are ordered
    * by (ts, event_id) so equal timestamps cannot reorder. */
  val windowSessionGapSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, ts,
      |    cast(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS session_idx
      |  FROM flagged)
      |SELECT user_id, session_idx, count(*) AS n_events,
      |  min(ts) AS s_start, max(ts) AS s_end
      |FROM sess GROUP BY user_id, session_idx""".stripMargin

  /** Time-series resampling: regularize each user's event stream onto an
    * hourly grid between their first and last event, then forward-fill the
    * last observed value across the gaps — the upsample+ffill idiom every
    * metrics pipeline runs before windowed models. Deterministic: the
    * per-hour representative is the LAST event by (ts, event_id) (no double
    * summing), the grid is a pure sequence, and the fill is
    * last-ignore-nulls over a rows frame.
    *
    * Scale: the grid explode is map-side (one row per user → span hours);
    * the only shuffles are the per-hour aggregation and the per-user
    * fill window — both hash-partitioned on user_id. */
  val windowGapFill: Q = (s, d) => {
    // per-hour representative = the event with max (ts, event_id) — ONE
    // max_by aggregation (partial map-side) instead of the row_number
    // window + groupBy spelling, which paid a full sort pass over the
    // events table before aggregating to the same (user, hr) grain
    val perHour = Tables.events(s, d)
      .withColumn("hr", date_trunc("hour", col("ts")))
      .groupBy("user_id", "hr")
      .agg(count(lit(1)).as("n_events"),
           max_by(col("value"), struct(col("ts"), col("event_id")))
             .as("last_value"))
    // The per-user span table is tiny (one row per user) so AQE coalesces
    // its exchange to ~1 task — but the hour-grid explode multiplies each
    // row by the user's active span, and everything downstream (grid join,
    // fill window — both satisfied by user_id clustering) fuses into that
    // stage, serializing the query's heaviest work on one core. Scatter
    // the spans across the session's shuffle width BEFORE the explode.
    // It must be a RANGE repartition with an explicit width: a hash
    // repartition on user_id is provably redundant over the user_id
    // aggregate, so the planner removes it and AQE re-coalesces the agg
    // exchange by its (tiny) byte size — bytes are the wrong cost model
    // for a row-multiplying stage. Range partitioning still clusters
    // user_id (the window needs no further exchange) and the re-shuffled
    // data is one row per user, the cheapest possible thing to move.
    val gridWidth = s.sessionState.conf.numShufflePartitions
    val grid = Tables.events(s, d)
      .groupBy("user_id")
      .agg(date_trunc("hour", min(col("ts"))).as("h0"),
           date_trunc("hour", max(col("ts"))).as("h1"))
      .repartitionByRange(gridWidth, col("user_id"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"),
                         expr("INTERVAL 1 HOUR"))).as("hr"))
    val fillW = Window.partitionBy(col("user_id")).orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(perHour, Seq("user_id", "hr"), "left")
      .select(col("user_id"), col("hr"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        last(col("last_value"), ignoreNulls = true).over(fillW).as("filled_value"),
        (col("n_events").isNull).cast("int").as("is_gap"))
    // registered SORT-FREE (round 13, the project_select precedent): the
    // trailing orderBy(user_id, hr) existed only so the correctness
    // comparator had a total order — it now lives in graft.Verify's dump
    // (the op's sort keys, from which the oracle's ORDER BY is derived). The
    // operator's OUTPUT is the dense per-user hour grid (linear in users ×
    // span), so at depth the determinism sort was the single largest term:
    // a 13.5M-row global range sort at the 128× probe. Nobody totally
    // orders a 100 TB gap-fill result; downstream consumers key on user.
  }

  val windowGapFillSql: String =
    """WITH ranked AS (
      |  SELECT user_id, date_trunc('hour', ts) AS hr, ts, event_id, value,
      |    row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
      |                       ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events),
      |per_hour AS (
      |  SELECT user_id, hr, count(*) AS n_events,
      |    max(CASE WHEN rn = 1 THEN value END) AS last_value
      |  FROM ranked GROUP BY user_id, hr),
      |grid AS (
      |  SELECT user_id, unnest(generate_series(
      |    date_trunc('hour', mn), date_trunc('hour', mx), INTERVAL 1 HOUR)) AS hr
      |  FROM (SELECT user_id, min(ts) AS mn, max(ts) AS mx
      |        FROM events GROUP BY user_id))
      |SELECT g.user_id, g.hr,
      |  coalesce(p.n_events, 0) AS n_events,
      |  last_value(p.last_value IGNORE NULLS) OVER (
      |    PARTITION BY g.user_id ORDER BY g.hr
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
      |  cast(p.n_events IS NULL as int) AS is_gap
      |FROM grid g
      |LEFT JOIN per_hour p ON g.user_id = p.user_id AND g.hr = p.hr""".stripMargin

  /** Distribution analytics: percent_rank / cume_dist / deciles of customer
    * balance within each nation. percent_rank = (rank-1)/(n-1) and
    * cume_dist = rank/n are single IEEE divisions of identical integers —
    * bit-identical across engines — but round 9 proved unrounded doubles do
    * not survive the driver's hash canonicalization, so the outputs go
    * through [[graft.Dsl.round6]]. NOT native round(_, 6): that broke on
    * rounding-mode ties here (Spark rounds the shortest decimal repr
    * HALF_UP, DuckDB rounds the binary value — 0.0640625 flipped at sf0.1);
    * round6's floor spelling is the same IEEE arithmetic in both engines,
    * tie-safe by construction. Ties on c_acctbal rank identically. */
  val windowDistributionSql: String =
    s"""SELECT /*+ BROADCAST(nation) */ n_name, c_custkey, c_acctbal,
       |  ${round6Sql("percent_rank() OVER (PARTITION BY n_name ORDER BY c_acctbal)")} AS pr,
       |  ${round6Sql("cume_dist() OVER (PARTITION BY n_name ORDER BY c_acctbal)")} AS cd,
       |  cast(ntile(10) OVER (PARTITION BY n_name ORDER BY c_acctbal, c_custkey) as int) AS decile
       |FROM customer JOIN nation ON c_nationkey = n_nationkey""".stripMargin

  // ---- §2.6 sorts / limits / top-k ---------------------------------------

  /** Total-order global sort (TeraSort lineage: range partition + local sort). */
  val sortGlobalSql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice
      |FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin

  /** Global top-k without a full sort (TakeOrderedAndProject). */
  val sortTopkSql: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 100""".stripMargin

  /** Secondary sort: cluster by user, order by time within user — the
    * SecondarySort composite-key idiom. A single range-partitioned sort on
    * (user, ts, id) IS that idiom's observable form (keys cluster because
    * they're contiguous in the total order); when downstream only needs
    * per-key locality, `repartition(user).sortWithinPartitions(...)` does it
    * without the global exchange — that variant is exercised in ScalaTest. */
  val sortSecondarySql: String =
    """SELECT user_id, ts, event_id, event_type
      |FROM events
      |ORDER BY user_id, ts, event_id""".stripMargin

  /** LIMIT/OFFSET pagination over a total order. */
  val limitOffsetSql: String =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |ORDER BY c_custkey
      |LIMIT 50 OFFSET 100""".stripMargin

  /** Exponentially weighted moving average (α = 0.5, zero-init) of each
    * user's event values in (ts, event_id) order — the classic time-series
    * smoother, here as the per-key FINAL smoothed level. The recursion
    * e ← α·x + (1−α)·e cannot be a plain window sum, so the sequence
    * folds SEQUENTIALLY: collect the per-user events sorted, extract the
    * value series, left-fold the recursion — the identical fold DuckDB
    * runs via `list_reduce` over a 0.0-prepended series (0.0 is also
    * Spark's fold init, so both engines evaluate the exact same chain of
    * IEEE operations; α = 0.5 is exact in binary). 6dp rounding on output
    * only.
    *
    * Scale: one shuffle on user_id; the collected list is bounded by
    * per-user activity (≤ ~10³ here). For unbounded single-key streams
    * the same recursion runs incrementally in streaming state
    * (`stream_stateful` machinery) instead of a batch collect. */
  val windowEwma: Q = (s, d) => {
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(sort_array(collect_list(
        struct(col("ts"), col("event_id"), col("value")))).as("seq"))
      .select(col("user_id"), size(col("seq")).as("n_events"),
        round(aggregate(
          transform(col("seq"), x => x.getField("value")),
          lit(0.0),
          (acc, v) => lit(0.5) * v + lit(0.5) * acc), 6).as("ewma6"))
  }

  val windowEwmaSql: String =
    """SELECT user_id, cast(len(seq) as int) AS n_events,
      |  round(list_reduce(
      |    list_prepend(0.0, list_transform(seq, x -> x.v)),
      |    (acc, v) -> 0.5 * v + 0.5 * acc), 6) AS ewma6
      |FROM (
      |  SELECT user_id,
      |    list_sort(list({'ts': ts, 'eid': event_id, 'v': value})) AS seq
      |  FROM events GROUP BY user_id)""".stripMargin

  /** Registered SORT-FREE (round 15, extending the round-12/14 set): a
    * partitioned window's semantics is the PER-PARTITION order its frame
    * declares — the trailing global ORDER BY was comparator-only, a second
    * full range exchange over O(input) output. Keys are total orders (the
    * source PK, or group key + the dense session index). Verify sorts the
    * dump by these keys and the oracle's ORDER BY is derived from them. The
    * sort_* family keeps its sorts: there the total order IS the semantics. */
  val ops: Seq[Op] = Seq(
    Op.shared("window_ranking", windowRankingSql, Seq("o_custkey", "o_orderkey")),
    Op.shared("window_ntile", windowNtileSql, Seq("c_mktsegment", "c_custkey")),
    Op.shared("window_lag_lead", windowLagLeadSql, Seq("user_id", "event_id")),
    Op.shared("window_running_rows", windowRunningRowsSql, Seq("o_custkey", "o_orderkey")),
    Op.shared("window_range_frame", windowRangeFrameSql, Relational.LineitemKey),
    Op.shared("window_first_last", windowFirstLastSql, Seq("user_id", "event_id")),
    Op.shared("window_distribution", windowDistributionSql, Seq("n_name", "c_acctbal", "c_custkey")),
    Op.shared("window_session_gap", windowSessionGapSql, Seq("user_id", "session_idx")),
    Op("window_gap_fill", windowGapFill, Sql(windowGapFillSql), Seq("g.user_id", "g.hr")),
    Op("window_ewma", windowEwma, Sql(windowEwmaSql), Seq("user_id")),
    Op.shared("topk_per_group", topkPerGroupSql, Seq("o_custkey", "rn")),
    Op.shared("sort_global", sortGlobalSql),
    Op.shared("sort_topk", sortTopkSql),
    Op.shared("sort_secondary", sortSecondarySql),
    Op.shared("limit_offset", limitOffsetSql),
  )
}
