package graft.operators

import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Op, Q, Sql, Tables}
import graft.plans.AsofJoin

/** §2.3 time-series joins Spark has no built-in for (SURVEY.md §4.3, §7.4).
  *
  * `join_asof` — each click matched to the latest view of the same user at or
  * before its timestamp, planned as the custom merge-as-of operator
  * ([[graft.plans.AsofJoin.join]] → [[graft.plans.MergeAsofExec]]): each
  * side hash-shuffles with its own columns, sorts by (user, ts), and one
  * two-pointer merge holds one buffered view row per partition. No window
  * buffer and no range self-join — the shape that survives 100 TB. DuckDB
  * validates it against its native ASOF JOIN.
  *
  * `join_interval` — events against an interval table. The tiny side is
  * broadcast (BroadcastNestedLoopJoin on the range predicate); a big-big
  * interval join would instead bucket both sides to interval-aligned keys
  * and equi-join buckets + residual predicate.
  */
object TemporalJoins {
  /** Clicks LEFT as-of views on (user_id, ts), optionally nulling matches
    * older than `toleranceUs`. The right side aliases every column: both
    * sides scan the same events relation. */
  private def clickViewAsof(s: SparkSession, d: String,
                            toleranceUs: Option[Long]): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"), col("ts").as("v_ts"),
              col("event_id").as("view_id"))
    AsofJoin.join(clicks, views, "user_id", "v_user_id", "ts", "v_ts", toleranceUs)
      .select(col("event_id"), col("user_id"), col("ts"), col("view_id"))
  }

  val joinAsof: Q = (s, d) => clickViewAsof(s, d, None)

  val joinAsofSql: String =
    """SELECT c.event_id, c.user_id, c.ts, v.event_id AS view_id
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |  ON c.user_id = v.user_id AND c.ts >= v.ts""".stripMargin

  /** As-of with a max-staleness tolerance: the latest view still counts
    * only within 1 hour of the click; older matches null out (LEFT
    * semantics preserved). The same merge as [[joinAsof]] applies the
    * tolerance to its one current match: because the as-of match is the
    * LATEST candidate, nulling a stale one equals "latest within the
    * window". */
  val joinAsofTolerance: Q = (s, d) => clickViewAsof(s, d, Some(3600L * 1000000L))

  val joinAsofToleranceSql: String =
    """SELECT c.event_id, c.user_id, c.ts,
      |  CASE WHEN c.ts - v.ts <= INTERVAL '1 hour' THEN v.event_id END AS view_id
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |  ON c.user_id = v.user_id AND c.ts >= v.ts""".stripMargin

  private val weekStarts: Seq[(String, LocalDate)] = {
    val origin = LocalDate.parse("2024-01-01")
    (0 until 5).map(k => (s"wk$k", origin.plusDays(7L * k)))
  }

  val joinInterval: Q = (s, d) => {
    import s.implicits._
    val weeks = weekStarts
      .map { case (w, start) => (w, start.toString, start.plusDays(7).toString) }
      .toDF("week", "w_start_s", "w_end_s")
      .select(col("week"), col("w_start_s").cast("timestamp").as("w_start"),
              col("w_end_s").cast("timestamp").as("w_end"))
    Tables.events(s, d)
      .join(broadcast(weeks),
            col("ts") >= col("w_start") && col("ts") < col("w_end"))
      .groupBy("week", "w_start")
      .agg(count(lit(1)).as("cnt"),
           sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
  }

  val joinIntervalSql: String = {
    val values = weekStarts.map { case (w, start) =>
      s"('$w', TIMESTAMP '$start 00:00:00', TIMESTAMP '${start.plusDays(7)} 00:00:00')"
    }.mkString(", ")
    s"""SELECT week, w_start, count(*) AS cnt,
       |  cast(sum(cast(value as decimal(12,2))) as double) AS sum_value
       |FROM events
       |JOIN (VALUES $values) AS wk(week, w_start, w_end)
       |  ON ts >= w_start AND ts < w_end
       |GROUP BY week, w_start""".stripMargin
  }

  /** Big-big interval join, the bucketed scale path: both sides map to
    * 6-hour epoch buckets (an interval explodes into every bucket it
    * overlaps), the join runs as an EQUI-join on (user, bucket), and the
    * true range predicate applies as a residual. No broadcast, no nested
    * loop — two shuffles on a composite key, which is the only shape that
    * survives when neither side fits in memory. The oracle is the plain
    * range join, so the rewrite is proven semantics-preserving. */
  val joinIntervalBucketed: Q = (s, d) => {
    val bucketSecs = 21600L // 6h
    val baseEpoch = 1704067200L // 2024-01-01 00:00:00 UTC
    val ev = Tables.events(s, d)
    // synthetic per-user weekly maintenance windows: [base + 7d*k + (u%24)h, +6h)
    val intervals = ev.select(col("user_id")).distinct()
      .crossJoin(spark_range(s, 5).select(col("id").as("k")))
      .select(col("user_id"), col("k"),
        (lit(baseEpoch) + col("k") * 604800L + pmod(col("user_id"), lit(24)) * 3600L)
          .as("s_epoch"))
      .select(col("user_id"), col("k"), col("s_epoch"),
              (col("s_epoch") + bucketSecs).as("e_epoch"))
    val ivBuckets = intervals
      .select(col("user_id"), col("k"), col("s_epoch"), col("e_epoch"),
        explode(sequence(floor(col("s_epoch") / bucketSecs).cast("long"),
                         floor((col("e_epoch") - 1) / bucketSecs).cast("long")))
          .as("bucket"))
    val evB = ev.select(col("user_id").as("e_user"), col("ts"),
        unix_timestamp(col("ts")).as("ts_epoch"))
      .withColumn("bucket", floor(col("ts_epoch") / bucketSecs).cast("long"))
    evB.join(ivBuckets,
             col("e_user") === col("user_id") && evB("bucket") === ivBuckets("bucket"))
      .where(col("ts") >= timestamp_seconds(col("s_epoch")) &&
             col("ts") < timestamp_seconds(col("e_epoch")))
      .groupBy("user_id", "k")
      .agg(count(lit(1)).as("cnt"))
  }

  private def spark_range(s: SparkSession, n: Int) = s.range(n).toDF()

  val joinIntervalBucketedSql: String =
    """WITH u AS (SELECT DISTINCT user_id FROM events),
      |iv AS (
      |  SELECT user_id, k,
      |    TIMESTAMP '1970-01-01' + to_seconds(1704067200 + k * 604800 + (user_id % 24) * 3600) AS s,
      |    TIMESTAMP '1970-01-01' + to_seconds(1704067200 + k * 604800 + (user_id % 24) * 3600 + 21600) AS e
      |  FROM u, unnest(generate_series(0, 4)) AS g(k))
      |SELECT iv.user_id, k, count(*) AS cnt
      |FROM events ev JOIN iv ON ev.user_id = iv.user_id AND ev.ts >= iv.s AND ev.ts < iv.e
      |GROUP BY iv.user_id, k""".stripMargin

  /** Registered SORT-FREE (round 15, tranche 3): as-of/interval outputs are
    * keyed enrichments — the trailing ORDER BY was comparator-only. Keys
    * unique: event_id per click; week per bucket; (user_id, k) per interval.
    * Verify sorts the dump by these keys and the oracle's ORDER BY is derived
    * from them. */
  val ops: Seq[Op] = Seq(
    Op("join_asof", joinAsof, Sql(joinAsofSql), Seq("c.event_id")),
    // the round-11 name of the merge-as-of operator, now the same kernel
    Op("join_asof_merge", joinAsof, Sql(joinAsofSql), Seq("c.event_id")),
    Op("join_asof_tolerance", joinAsofTolerance, Sql(joinAsofToleranceSql), Seq("c.event_id")),
    Op("join_interval", joinInterval, Sql(joinIntervalSql), Seq("week")),
    Op("join_interval_bucketed", joinIntervalBucketed,
      Sql(joinIntervalBucketedSql), Seq("iv.user_id", "k")),
  )
}
