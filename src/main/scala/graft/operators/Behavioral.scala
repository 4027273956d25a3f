package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Op, Q, Sql, Tables}
import graft.Dsl.{round6, round6Sql}

/** Behavioral / product-analytics operators over the `events` stream table
  * (SURVEY.md §2.13): ordered-funnel conversion, cohort retention, and
  * top event-type paths — the three queries every product-analytics engine
  * (and every user-behavior slice of a training-data pipeline) runs first.
  *
  * Reference provenance: the reference snapshot (a Hadoop release,
  * /root/reference/README.md:4) expresses these as chained MapReduce jobs
  * over event logs; here each is a declarative plan whose only wide
  * operations are equi-shuffles on `user_id` plus wordcount-shaped
  * final aggregations, so Catalyst/AQE keep partial aggregation, exchange
  * reuse, and broadcast demotion of the shrinking funnel stages.
  */
object Behavioral {
  /** Ordered funnel view → click → purchase within 7 days of the user's
    * first view. Step timestamps are the MINIMUM qualifying instants
    * (t1 = first view; t2 = first click strictly after t1; t3 = first
    * purchase strictly after t2; t2/t3 must land within t1 + 7 days), so
    * the result is deterministic regardless of event order in the file.
    * Output: one row per funnel step with the user count that reached it.
    *
    * Scale: the filtered events shuffle ONCE on user_id; each later stage
    * joins and re-aggregates on that same key, so the co-partitioned plan
    * adds no further exchanges — and because every stage can only shrink
    * (step-k users ⊆ step-(k-1) users), AQE's runtime size estimate
    * flips the stage tables to broadcast on a 100 TB event log, where
    * step-3 survivors are ~millions against billions of raw events. */
  val eventsFunnelSql: String =
    """WITH f AS (
      |  SELECT user_id, event_type, ts FROM events
      |  WHERE event_type IN ('view', 'click', 'purchase')),
      |s1 AS (
      |  SELECT user_id, min(ts) AS t1 FROM f
      |  WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (
      |  SELECT f.user_id, min(ts) AS t2, max(t1) AS t1
      |  FROM f JOIN s1 ON f.user_id = s1.user_id
      |  WHERE event_type = 'click' AND ts > t1
      |    AND ts <= t1 + INTERVAL '7 days'
      |  GROUP BY f.user_id),
      |s3 AS (
      |  SELECT f.user_id, min(ts) AS t3
      |  FROM f JOIN s2 ON f.user_id = s2.user_id
      |  WHERE event_type = 'purchase' AND ts > t2
      |    AND ts <= t1 + INTERVAL '7 days'
      |  GROUP BY f.user_id)
      |SELECT 1 AS step, count(*) AS n_users FROM s1
      |UNION ALL SELECT 2, count(*) FROM s2
      |UNION ALL SELECT 3, count(*) FROM s3""".stripMargin

  /** Weekly cohort retention: users are cohorted by the Monday-start week
    * of their FIRST event; a cohort's week-k retention is the fraction of
    * its users active in cohort week + k. Week truncation is Monday-start
    * in both Spark and DuckDB (`date_trunc('week', ...)`), and both weeks
    * are truncated instants, so the day difference is an exact multiple
    * of 7 and the integer offset is engine-independent.
    *
    * Scale: first-seen and the distinct (user, week) activity grid each
    * shuffle on user_id; cohort sizes are ≤ one row per week and
    * broadcast back. Nothing holds per-user state on the driver. */
  val eventsRetention: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val firstSeen = ev.groupBy("user_id")
      .agg(to_date(date_trunc("week", min(col("ts")))).as("cohort_week"))
    val active = ev
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("active_week"))
      .distinct()
    val sizes = firstSeen.groupBy("cohort_week")
      .agg(count(lit(1)).as("cohort_size"))
    active.join(firstSeen, "user_id")
      .groupBy("cohort_week", "active_week")
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), "cohort_week")
      .select(col("cohort_week"),
        (datediff(col("active_week"), col("cohort_week")) / 7).cast("long").as("week_offset"),
        col("n_active"), col("cohort_size"),
        round6(col("n_active").cast("double") / col("cohort_size")).as("retention"))
  }

  val eventsRetentionSql: String =
    s"""WITH first_seen AS (
      |  SELECT user_id, cast(date_trunc('week', min(ts)) as date) AS cohort_week
      |  FROM events GROUP BY user_id),
      |active AS (
      |  SELECT DISTINCT user_id, cast(date_trunc('week', ts) as date) AS active_week
      |  FROM events),
      |sizes AS (
      |  SELECT cohort_week, count(*) AS cohort_size
      |  FROM first_seen GROUP BY cohort_week)
      |SELECT f.cohort_week,
      |  cast(datediff('day', f.cohort_week, a.active_week) / 7 as bigint) AS week_offset,
      |  count(*) AS n_active, max(cohort_size) AS cohort_size,
      |  ${round6Sql("cast(count(*) as double) / max(cohort_size)")} AS retention
      |FROM active a
      |JOIN first_seen f ON a.user_id = f.user_id
      |JOIN sizes s ON f.cohort_week = s.cohort_week
      |GROUP BY f.cohort_week, a.active_week""".stripMargin

  /** Top event-type paths: per user, every run of 3 consecutive events
    * ordered by (ts, event_id) forms a path "a>b>c"; report the 10 most
    * frequent paths globally (ties broken by path text). The classic
    * sequence-mining first cut over any behavioral log.
    *
    * Scale: one sort-partitioned exchange on user_id feeds both lead()
    * columns (Spark plans a single Window node); the path count is a
    * wordcount-shaped partial+final aggregation over a 125-value key
    * space (5³ event types), and the top-10 is TakeOrderedAndProject —
    * no global sort ever materializes. */
  val eventsTopPaths: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_type").as("e1"),
        lead(col("event_type"), 1).over(w).as("e2"),
        lead(col("event_type"), 2).over(w).as("e3"))
      .where(col("e3").isNotNull)
      .select(concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(10)
  }

  val eventsTopPathsSql: String =
    """WITH seq AS (
      |  SELECT event_type AS e1,
      |    lead(event_type, 1) OVER w AS e2,
      |    lead(event_type, 2) OVER w AS e3
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT e1 || '>' || e2 || '>' || e3 AS path, count(*) AS n
      |FROM seq WHERE e3 IS NOT NULL
      |GROUP BY e1 || '>' || e2 || '>' || e3
      |ORDER BY n DESC, path
      |LIMIT 10""".stripMargin

  /** Hourly volume anomaly detection: per event type, bucket events into
    * hours, then z-score each hour against that type's own hourly
    * distribution and flag |z| ≥ 2. The moments come from exact integer
    * sums via the same closed forms as `agg_stddev_corr` (engine-native
    * stddev has nondeterministic partial-merge order), and the score is
    * rounded to 6dp before thresholding so the flag is engine-exact too.
    *
    * Scale: the hourly rollup is a wordcount-shaped partial+final agg on
    * (event_type, hour); the per-type moments re-aggregate rows-per-hour
    * (≤ one row per type × hour), and that tiny stats table broadcasts
    * back — the raw event log is never revisited. */
  val eventsAnomaly: Q = (s, d) => {
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("c"))
    val stats = hourly.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
           sum(col("c") * col("c")).as("scc"))
    hourly.join(broadcast(stats), "event_type")
      .select(col("event_type"), col("hour"), col("c"),
        round((col("c") - col("sc").cast("double") / col("n")) /
              sqrt((col("scc") - col("sc") * col("sc") / col("n")) / (col("n") - 1)), 6)
          .as("z6"))
      .withColumn("is_anomaly", when(abs(col("z6")) >= 2.0, 1).otherwise(0))
  }

  val eventsAnomalySql: String =
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS c
      |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
      |stats AS (
      |  SELECT event_type, count(*) AS n, sum(c) AS sc, sum(c * c) AS scc
      |  FROM hourly GROUP BY event_type)
      |SELECT h.event_type, hour, c,
      |  round((c - cast(sc as double) / n) /
      |        sqrt((scc - sc * sc / n) / (n - 1)), 6) AS z6,
      |  CASE WHEN abs(round((c - cast(sc as double) / n) /
      |        sqrt((scc - sc * sc / n) / (n - 1)), 6)) >= 2.0
      |       THEN 1 ELSE 0 END AS is_anomaly
      |FROM hourly h JOIN stats s ON h.event_type = s.event_type""".stripMargin

  /** First-order Markov transition matrix over event types: per user,
    * consecutive event pairs (ordered by ts, event_id) count transitions;
    * each row normalizes by its source state's outgoing total. The
    * probability is an exact-integer ratio → deterministic double, rounded
    * 6dp for engine-exact hashing.
    *
    * Scale: the same single sort-partitioned user_id exchange as
    * [[eventsTopPaths]] feeds lead(); transition counts aggregate over a
    * 25-key space with map-side partials, and the per-source totals come
    * from a window over those 25 rows — nothing after the first exchange
    * is data-sized. */
  val eventsMarkovSql: String =
    """WITH seq AS (
      |  SELECT event_type AS src, lead(event_type, 1) OVER w AS dst
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |trans AS (
      |  SELECT src, dst, count(*) AS cnt FROM seq
      |  WHERE dst IS NOT NULL GROUP BY src, dst)
      |SELECT src, dst, cnt,
      |  round(cast(cnt as double) / sum(cnt) OVER (PARTITION BY src), 6) AS p6
      |FROM trans""".stripMargin

  /** Experiment readout: users deterministically split by `user_id % 2`,
    * conversion = the user's FIRST logged event (min event_id) is a
    * purchase — a per-user metric whose base rate (~1/5) is stable across
    * scale factors, unlike any-purchase-ever, which saturates to 1 on a
    * dense log and zeroes the pooled variance. Compared with the standard
    * two-proportion z-test: every input is an exact integer count, the z
    * statistic is one closed-form double expression written identically
    * in both engines, and the significance flag thresholds the
    * 6dp-rounded value — same discipline as `events_anomaly`.
    *
    * Scale: per-user conversion is one user_id aggregation over the log
    * (min_by is a plain agg — no window sort); everything after is a
    * 2-row rollup. Assignment-by-key-hash is the production experiment
    * pattern (sticky, storage-free). */
  val eventsAbTest: Q = (s, d) => {
    val conv = Tables.events(s, d)
      .groupBy("user_id")
      .agg(when(min_by(col("event_type"), col("event_id")) === "purchase", 1L)
        .otherwise(0L).as("converted"))
    val g = conv.groupBy((col("user_id") % 2).as("grp"))
      .agg(count(lit(1)).as("n"), sum(col("converted")).as("c"))
    val w = g.agg(
      sum(when(col("grp") === 0, col("n"))).as("n0"),
      sum(when(col("grp") === 0, col("c"))).as("c0"),
      sum(when(col("grp") === 1, col("n"))).as("n1"),
      sum(when(col("grp") === 1, col("c"))).as("c1"))
    val p = (col("c0") + col("c1")).cast("double") / (col("n0") + col("n1"))
    val z = (col("c1").cast("double") / col("n1") - col("c0").cast("double") / col("n0")) /
      sqrt(p * (lit(1) - p) * (lit(1.0) / col("n0") + lit(1.0) / col("n1")))
    w.select(col("n0"), col("c0"), col("n1"), col("c1"),
        round(col("c0").cast("double") / col("n0"), 6).as("rate0"),
        round(col("c1").cast("double") / col("n1"), 6).as("rate1"),
        round(z, 6).as("z6"))
      .withColumn("significant", when(abs(col("z6")) >= 1.96, 1).otherwise(0))
  }

  val eventsAbTestSql: String =
    """WITH conv AS (
      |  SELECT user_id,
      |    CASE WHEN arg_min(event_type, event_id) = 'purchase'
      |         THEN 1 ELSE 0 END AS converted
      |  FROM events GROUP BY user_id),
      |g AS (
      |  SELECT user_id % 2 AS grp, count(*) AS n, sum(converted) AS c
      |  FROM conv GROUP BY user_id % 2),
      |w AS (
      |  SELECT
      |    cast(sum(CASE WHEN grp = 0 THEN n END) as bigint) AS n0,
      |    cast(sum(CASE WHEN grp = 0 THEN c END) as bigint) AS c0,
      |    cast(sum(CASE WHEN grp = 1 THEN n END) as bigint) AS n1,
      |    cast(sum(CASE WHEN grp = 1 THEN c END) as bigint) AS c1
      |  FROM g)
      |SELECT n0, c0, n1, c1,
      |  round(cast(c0 as double) / n0, 6) AS rate0,
      |  round(cast(c1 as double) / n1, 6) AS rate1,
      |  round((cast(c1 as double) / n1 - cast(c0 as double) / n0) /
      |    sqrt((cast(c0 + c1 as double) / (n0 + n1)) *
      |         (1 - cast(c0 + c1 as double) / (n0 + n1)) *
      |         (cast(1 as double) / n0 + cast(1 as double) / n1)), 6) AS z6,
      |  CASE WHEN abs(round((cast(c1 as double) / n1 - cast(c0 as double) / n0) /
      |    sqrt((cast(c0 + c1 as double) / (n0 + n1)) *
      |         (1 - cast(c0 + c1 as double) / (n0 + n1)) *
      |         (cast(1 as double) / n0 + cast(1 as double) / n1)), 6)) >= 1.96
      |       THEN 1 ELSE 0 END AS significant
      |FROM w""".stripMargin

  /** Session-scoped linear revenue attribution: events sessionize per user
    * on a 30-minute inactivity gap (the `window_session_gap` flag-and-sum
    * machinery), then each session's purchase revenue spreads equally
    * across its view touchpoints — the standard marketing-attribution
    * first model. Purchase totals are exact cents sums; the per-view share
    * is one double division rounded 6dp (NULL when the session has no
    * views), so every value is engine-exact.
    *
    * Scale: one sort-partitioned user_id exchange serves the session
    * window; the per-session rollup re-aggregates on (user, session) —
    * co-partitioned with the window output, no second data-sized
    * exchange. Output is one row per session, bounded far below the log. */
  val eventsAttributionSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts, event_type, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, event_type, value,
      |    cast(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS session_idx
      |  FROM flagged),
      |rolled AS (
      |  SELECT user_id, session_idx,
      |    cast(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) as bigint) AS n_views,
      |    cast(sum(CASE WHEN event_type = 'purchase'
      |                  THEN cast(round(value * 100) as bigint) ELSE 0 END) as bigint)
      |      AS purchase_cents
      |  FROM sess GROUP BY user_id, session_idx)
      |SELECT user_id, session_idx, n_views,
      |  cast(purchase_cents as double) / 100.0 AS purchase_total,
      |  CASE WHEN n_views > 0
      |       THEN round(cast(purchase_cents as double) / 100.0 / n_views, 6)
      |  END AS per_view6
      |FROM rolled""".stripMargin

  /** Registered SORT-FREE (round 15): per-session attribution rows are a
    * keyed result, not a report; (user_id, session_idx) is the session PK.
    * Verify sorts the dump by these keys and the oracle's ORDER BY is derived
    * from them. */
  val ops: Seq[Op] = Seq(
    Op.shared("events_funnel", eventsFunnelSql, Seq("step")),
    Op("events_retention", eventsRetention,
      Sql(eventsRetentionSql), Seq("f.cohort_week", "week_offset")),
    Op("events_top_paths", eventsTopPaths, Sql(eventsTopPathsSql)),
    Op("events_anomaly", eventsAnomaly, Sql(eventsAnomalySql), Seq("h.event_type", "hour")),
    Op.shared("events_markov", eventsMarkovSql, Seq("src", "dst")),
    Op("events_ab_test", eventsAbTest, Sql(eventsAbTestSql)),
    Op.shared("events_attribution", eventsAttributionSql, Seq("user_id", "session_idx")),
  )
}
