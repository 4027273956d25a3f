package graft

import org.apache.spark.sql.functions._
import graft.operators.{Relational, SetOps}
import graft.llm.Dedup
import graft.streaming.Streams

/** TeraValidate-style invariants (SURVEY.md §5.2.4): structural properties
  * that must hold regardless of data values. */
class PropertiesSpec extends SparkSpec {

  test("sort_global output is a permutation of its input (TeraValidate)") {
    val in = Tables.lineitem(spark, sfDir)
    val out = SparkEntry.queries("sort_global")(spark, sfDir)
    assert(out.count() == in.count())
    val a = in.agg(sum(col("l_orderkey")), sum(col("l_linenumber"))).head
    val b = out.agg(sum(col("l_orderkey")), sum(col("l_linenumber"))).head
    assert(a == b)
    // totally ordered
    val prices = out.select("l_extendedprice").collect().map(_.getDouble(0))
    assert(prices.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
  }

  test("distinct is idempotent and a subset of the input") {
    val once = SetOps.distinctRows(spark, sfDir)
    assert(once.count() == once.distinct().count())
    assert(once.exceptAll(Tables.orders(spark, sfDir)
      .select("o_orderstatus", "o_orderpriority")).count() == 0)
  }

  test("union_all count = sum of input counts") {
    val urgent = Tables.orders(spark, sfDir)
      .where(col("o_orderpriority") === "1-URGENT").count()
    val high = Tables.orders(spark, sfDir)
      .where(col("o_orderpriority") === "2-HIGH").count()
    assert(SparkEntry.queries("set_union_all")(spark, sfDir).count() == urgent + high)
  }

  test("semi ⊎ anti partitions the left input") {
    val semi = Relational.joinLeftSemi(spark, sfDir).count()
    val anti = SparkEntry.queries("join_left_anti")(spark, sfDir).count()
    assert(semi + anti == Tables.customer(spark, sfDir).count())
  }

  test("exact near-dup pairs are threshold-monotone and well-formed") {
    val pairs = Dedup.neardupPairs(spark, sfDir).collect()
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1)) // d1 < d2
      assert(r.getDouble(5) >= 0.8 && r.getDouble(5) <= 1.0)
    }
  }

  test("repartition+sortWithinPartitions clusters and orders per key") {
    val parts = Tables.events(spark, sfDir)
      .repartition(col("user_id"))
      .sortWithinPartitions("user_id", "ts", "event_id")
      .select("user_id", "ts", "event_id")
      .rdd.mapPartitions { it =>
        val rows = it.toVector
        val sortedInPart = rows.map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2)))
        Iterator((sortedInPart == sortedInPart.sorted, rows.map(_.getLong(0)).toSet))
      }.collect()
    // every partition internally ordered
    assert(parts.forall(_._1))
    // each user's rows land in exactly one partition (clustering)
    val userToParts = parts.zipWithIndex
      .flatMap { case ((_, users), i) => users.map(_ -> i) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.length)
    assert(userToParts.values.forall(_ == 1))
  }

  test("tumbling window counts sum to the total event count") {
    val total = Tables.events(spark, sfDir).count()
    val sumCnt = Streams.streamTumbling(spark, sfDir)
      .agg(sum(col("cnt"))).head.getLong(0)
    assert(sumCnt == total)
  }

  test("sliding windows hold each event exactly 4 times") {
    val total = Tables.events(spark, sfDir).count()
    val sumCnt = Streams.streamSliding(spark, sfDir)
      .agg(sum(col("cnt"))).head.getLong(0)
    assert(sumCnt == 4 * total)
  }

  test("exact dedup keeps every distinct content exactly once") {
    val docs = Tables.documents(spark, sfDir)
    val distinctTexts = docs.select("text").distinct().count()
    assert(Dedup.exactDedup(spark, sfDir).count() == distinctTexts)
  }
}
