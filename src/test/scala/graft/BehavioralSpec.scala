package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ExpandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import graft.operators.{Behavioral, DataQuality, Windows}

/** Behavioral-analytics invariants (SURVEY.md §2.13) that the value-level
  * DuckDB oracle can't state: funnel monotonicity, retention bounds and the
  * week-0 identity, and the exact combinatorial count of 3-event paths. */
class BehavioralSpec extends SparkSpec {

  test("funnel step counts are monotone and step 1 counts distinct viewers") {
    val rows = SparkEntry.queries("events_funnel")(spark, sfDir).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    val Seq(n1, n2, n3) = rows.map(_.getLong(1)).toSeq
    assert(n1 >= n2 && n2 >= n3, s"funnel must shrink: $n1 >= $n2 >= $n3")
    val viewers = Tables.events(spark, sfDir)
      .where(col("event_type") === "view")
      .select("user_id").distinct().count()
    assert(n1 == viewers)
  }

  test("retention: week 0 is total, rates bounded, actives within cohort size") {
    val rows = Behavioral.eventsRetention(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (offset, nActive, size, rate) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(offset >= 0 && nActive >= 1 && nActive <= size)
      assert(rate > 0.0 && rate <= 1.0)
      // a user's first event lands inside their cohort week by construction
      if (offset == 0) assert(nActive == size, "week-0 retention must be 1.0")
    }
    val users = Tables.events(spark, sfDir).select("user_id").distinct().count()
    val week0 = rows.filter(_.getLong(1) == 0).map(_.getLong(2)).sum
    assert(week0 == users, "week-0 actives across cohorts must cover every user")
  }

  test("anomaly: hourly buckets cover every event and flags match the z threshold") {
    val rows = Behavioral.eventsAnomaly(spark, sfDir).collect()
    val total = Tables.events(spark, sfDir).count()
    assert(rows.map(_.getLong(2)).sum == total, "hourly counts must partition the log")
    rows.foreach { r =>
      val (z, flag) = (r.getDouble(3), r.getInt(4))
      assert(flag == (if (math.abs(z) >= 2.0) 1 else 0))
    }
    assert(rows.map(r => (r.getString(0), r.getTimestamp(1))).distinct.length == rows.length,
      "(event_type, hour) must be unique")
  }

  test("plan invariants: single Window node, single Expand, no nested-loop joins") {
    // both lead() columns of top_paths resolve into ONE Window node — one
    // sort-partitioned exchange serves the whole path extraction
    val paths = Behavioral.eventsTopPaths(spark, sfDir)
    paths.collect()
    assert(flattenPlan(paths.queryExecution.executedPlan)
      .count(_.isInstanceOf[WindowExec]) == 1)
    // dq_profile's six exact distincts run as per-column single-distinct
    // branches: NO Expand anywhere (a fused multi-distinct aggregate
    // multiplies every row by the distinct-column count through its
    // exchange — measured 3 s vs 0.5 s at sf0.1; the branches dedupe
    // map-side and shuffle only each column's distinct values, and the
    // columnar scan reads one column per branch)
    val prof = DataQuality.dqProfile(spark, sfDir)
    prof.collect()
    assert(flattenPlan(prof.queryExecution.executedPlan)
      .count(_.isInstanceOf[ExpandExec]) == 0)
    // the funnel's shrinking stages must stay equi-joins — a nested-loop or
    // cartesian here would be quadratic in users at scale
    val fun = SparkEntry.queries("events_funnel")(spark, sfDir)
    fun.collect()
    val funNodes = flattenPlan(fun.queryExecution.executedPlan)
    assert(!funNodes.exists(n => n.isInstanceOf[CartesianProductExec] ||
      n.isInstanceOf[BroadcastNestedLoopJoinExec]))
    // ewma folds after ONE user_id exchange — the collect_list agg and the
    // fold are co-partitioned
    val ewma = Windows.windowEwma(spark, sfDir)
    ewma.collect()
    val exchanges = flattenPlan(ewma.queryExecution.executedPlan)
      .count(_.isInstanceOf[ShuffleExchangeLike])
    assert(exchanges <= 2, s"ewma should shuffle once plus the output sort, saw $exchanges")
  }

  test("attribution conserves revenue and the per-view share recombines") {
    val rows = SparkEntry.queries("events_attribution")(spark, sfDir).collect()
    val attributed = rows.map(_.getDouble(3)).sum
    val totalPurchases = Tables.events(spark, sfDir)
      .where(col("event_type") === "purchase")
      .agg(sum(round(col("value") * 100).cast("long"))).head.getLong(0) / 100.0
    assert(math.abs(attributed - totalPurchases) < 1e-6,
      "session purchase totals must partition total purchase revenue")
    rows.filter(r => !r.isNullAt(4)).foreach { r =>
      val (views, total, share) = (r.getLong(2), r.getDouble(3), r.getDouble(4))
      assert(math.abs(share * views - total) < views * 1e-6 / 2 + 1e-9,
        s"share*views must recombine to the session total within rounding")
    }
    rows.filter(_.isNullAt(4)).foreach(r => assert(r.getLong(2) == 0))
  }

  test("distribution shift: KL non-negative, JS within [0, ln 2]") {
    val r = graft.llm.TextAnalysis.distShift(spark, sfDir).head
    val (klPq, klQp, js) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
    assert(klPq >= 0 && klQp >= 0, "KL divergence is non-negative")
    assert(js >= 0 && js <= math.log(2) + 1e-9, "JS is bounded by ln 2")
  }

  test("path counts: every user with n>=3 events contributes exactly n-2 paths") {
    val perUser = Tables.events(spark, sfDir)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .where(col("n") >= 3)
      .agg(sum(col("n") - 2)).head.getLong(0)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val allPaths = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type").as("e1"),
        lead(col("event_type"), 1).over(w).as("e2"),
        lead(col("event_type"), 2).over(w).as("e3"))
      .where(col("e3").isNotNull).count()
    assert(allPaths == perUser)
    val top = Behavioral.eventsTopPaths(spark, sfDir).collect()
    assert(top.length <= 10 && top.nonEmpty)
    // descending counts with path-text tiebreak = a total order
    top.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(1) > b.getLong(1) ||
        (a.getLong(1) == b.getLong(1) && a.getString(0) < b.getString(0)))
    case _ => ()
    }
  }
}
