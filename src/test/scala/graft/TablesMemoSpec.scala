package graft

import org.apache.spark.sql.functions.col

/** Pins the [[Tables.load]] resolved-scan memo (round 10).
  *
  * The memo makes every operator's table reference resolve once per
  * (session, path) instead of re-running the footer/schema-inference job on
  * every invocation — load-bearing for the whole query registry, so its
  * contract gets its own tripwire: reuse must be plan-identical, distinct
  * dirs must NOT alias. [[Tables.countOf]], the sizing count several
  * operators read while their query is built, must run no Spark job.
  */
class TablesMemoSpec extends SparkSpec {

  test("repeated loads of one path reuse the same resolved relation") {
    val a = Tables.load(spark, sfDir, "nation")
    val b = Tables.load(spark, sfDir, "nation")
    // reference equality IS the contract: the second call must not re-read
    assert(a eq b)
    assert(a.count() == 25)
  }

  test("different dirs and different tables do not alias") {
    val n1 = Tables.load(spark, sfDir, "nation")
    val r1 = Tables.load(spark, sfDir, "region")
    val n2 = Tables.load(spark, "/root/testdata/sf0.01", "nation")
    assert(!(n1 eq r1))
    assert(!(n1 eq n2))
    assert(r1.count() == 5)
    assert(n2.count() == 25)
  }

  test("countOf sums the parquet footers: equals count() on every sf0.01 table, with no Spark job") {
    val dir = new java.io.File(sfDir).getParent + "/sf0.01"
    Tables.names.foreach { n =>
      val counted = // events through its encoding adapter, as registerViews does
        (if (n == "events") Tables.events(spark, dir) else Tables.load(spark, dir, n)).count()
      val (footer, jobs) = jobsDuring(Tables.countOf(spark, dir, n))
      assert(footer == counted, s"$n: footer rows $footer vs count() $counted")
      assert(jobs == 0, s"$n: countOf ran $jobs Spark job(s)")
    }
  }

  test("memoized events loader still normalizes ts to TimestampType") {
    val e1 = Tables.events(spark, sfDir)
    val e2 = Tables.events(spark, sfDir)
    assert(e1.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(e2.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(e1.select(col("event_id")).limit(1).count() == 1)
  }
}
