package graft

import org.apache.spark.sql.functions._
import graft.operators.{Behavioral, DataQuality}
import graft.sources.Sources

/** Data-quality + SCD2 invariants (SURVEY.md §2.14) beyond the value-level
  * oracle: the fixtures actually satisfy the constraint battery, the SCD2
  * merge preserves exactly-one-current-row per key, and the Markov matrix
  * rows are proper distributions. */
class DataQualitySpec extends SparkSpec {

  test("constraint battery: violations match independently computed counts") {
    val rows = DataQuality.dqConstraints(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(rows.size == 5)
    // independent spelling of key-duplication: surplus rows per duplicated key
    // (the sf0.001 fixture REALLY contains one duplicated 4-column key — the
    // battery found it; verdict consistency is what we pin, not cleanliness)
    val dupSurplus = Tables.lineitem(spark, sfDir)
      .groupBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      .count().where(col("count") > 1)
      .agg(coalesce(sum(col("count") - 1), lit(0L))).head.getLong(0)
    assert(rows("lineitem_pk_unique")._1 == dupSurplus)
    rows.foreach { case (name, (viol, passed)) =>
      assert(passed == (if (viol == 0L) 1 else 0), s"$name verdict inconsistent")
    }
    assert(rows("orders_custkey_fk")._1 == 0L, "fixture FK edge must hold")
  }

  test("profile: key column is unique and null-free, n matches the table") {
    val rows = DataQuality.dqProfile(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    val n = Tables.orders(spark, sfDir).count()
    val key = rows("o_orderkey")
    assert(key.getLong(1) == n && key.getLong(2) == 0 && key.getLong(3) == n,
      "o_orderkey must profile as a unique null-free key")
    assert(rows.size == 6 && rows.values.forall(_.getLong(1) == n))
  }

  test("profile_approx: ≤5% relative error vs exact, other columns identical, one scan") {
    val exact = DataQuality.dqProfile(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    val approx = DataQuality.dqProfileApprox(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (c, e) =>
      val a = approx(c)
      val (nde, nda) = (e.getLong(3), a.getLong(3))
      assert(math.abs(nda - nde).toDouble / nde <= 0.05,
        s"$c: approx distinct $nda vs exact $nde exceeds 5% relative error")
      // HLL++ is exact well below its sparse-mode threshold — pin it for the
      // low-cardinality columns a profile's verdicts actually branch on
      if (nde <= 100) assert(nda == nde, s"$c: low-cardinality estimate drifted")
      // everything that isn't the sketch must be bit-identical to the exact pass
      assert((1 to 2).forall(i => a.getLong(i) == e.getLong(i)) &&
             (4 to 5).forall(i => a.isNullAt(i) == e.isNullAt(i) &&
               (a.isNullAt(i) || a.getDouble(i) == e.getDouble(i))) &&
             (6 to 7).forall(i => a.isNullAt(i) == e.isNullAt(i) &&
               (a.isNullAt(i) || a.getString(i) == e.getString(i))),
        s"$c: fused n/null/min/max drifted from the exact profile")
    }
    // the whole point of the approx variant: ONE scan, no Expand, no joins
    val plan = DataQuality.dqProfileApprox(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("Scan parquet|InMemoryTableScan".r.findAllIn(plan).size == 1,
      "approx profile must read the table exactly once")
    assert(!plan.contains("Expand") && !plan.contains("Join"),
      "approx profile must fuse into a single aggregation pass")
  }

  test("scd2: exactly one current row per customer; v2 rows only for promoted") {
    // sf0.01: no customer reaches 20 orders in the sf0.001 slice, and the
    // non-empty-batch half of the invariant is the interesting one
    val dir = "/root/testdata/sf0.01"
    val merged = Sources.sinkScd2(spark, dir)
    val current = merged.where(col("is_current") === 1)
      .groupBy("c_custkey").count()
    assert(current.where(col("count") =!= 1).count() == 0,
      "every customer needs exactly one current row")
    val v2 = merged.where(col("version") === 2)
    assert(v2.count() > 0, "the promotion batch must be non-empty at sf0.01")
    assert(v2.where(col("c_mktsegment") =!= "VIP").count() == 0)
    val promoted = Tables.orders(spark, dir)
      .groupBy("o_custkey").agg(count(lit(1)).as("n_ord"))
      .where(col("n_ord") >= 20).count()
    assert(v2.count() == promoted)
  }

  test("markov: each source row is a distribution over observed destinations") {
    val rows = SparkEntry.queries("events_markov")(spark, sfDir).collect()
    rows.groupBy(_.getString(0)).foreach { case (src, rs) =>
      val total = rs.map(_.getDouble(3)).sum
      assert(math.abs(total - 1.0) < 1e-4, s"$src row sums to $total")
    }
    assert(rows.map(_.getLong(2)).sum ==
      Tables.events(spark, sfDir).count() -
        Tables.events(spark, sfDir).select("user_id").distinct().count(),
      "transitions = events minus one per user")
  }
}
