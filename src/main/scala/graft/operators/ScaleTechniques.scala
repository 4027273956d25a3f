package graft.operators

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Dsl, Op, Q, Sql, Tables}

/** Explicit scale techniques (SURVEY.md §7.5): manual key-salting for skewed
  * shuffle joins, and bucket-pruned co-located joins.
  *
  * AQE's OptimizeSkewedJoin handles most skew at runtime; the salting recipe
  * here is the plan-level fallback for the cases AQE can't split (e.g. a
  * skewed aggregation key, or a build side that must stay together). The
  * salt is a deterministic hash — NOT rand() — so results are reproducible
  * and the operator stays oracle-checkable: the salted join provably equals
  * the plain join, and the DuckDB oracle is the plain join.
  *
  * Recipe: probe side gets salt = hash(row-distinguishing cols) % N; build
  * side is replicated N ways (explode over 0..N-1); the join key becomes
  * (key, salt), splitting each hot key's rows across N reducers.
  */
object ScaleTechniques {
  import Dsl._

  /** Spark ships `bloom_filter_agg` / `might_contain` as catalyst
    * expressions (the machinery behind InjectRuntimeFilter) but does not
    * register them in the public function registry — this puts them on the
    * session's search path so the prefilter below stays whole-stage-codegen
    * instead of a per-row Scala UDF. Idempotent per session. */
  def registerBloomFunctions(s: SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val reg = s.sessionState.functionRegistry
    val aggId = FunctionIdentifier("bloom_filter_agg")
    if (!reg.functionExists(aggId)) reg.registerFunction(
      aggId,
      new ExpressionInfo(classOf[BloomFilterAggregate].getName, null,
        "bloom_filter_agg",
        "_FUNC_(key, est_items, num_bits) - builds a Bloom filter of the keys", ""),
      { (args: Seq[Expression]) => args match {
          case Seq(c) => new BloomFilterAggregate(c)
          case Seq(c, n) => new BloomFilterAggregate(c, n)
          case Seq(c, n, b) => new BloomFilterAggregate(c, n, b)
          case other => throw new IllegalArgumentException(
            s"bloom_filter_agg expects 1-3 arguments, got ${other.size}")
        } })
    val probeId = FunctionIdentifier("might_contain")
    if (!reg.functionExists(probeId)) reg.registerFunction(
      probeId,
      new ExpressionInfo(classOf[BloomFilterMightContain].getName, null,
        "might_contain",
        "_FUNC_(filter, key) - probes a Bloom filter for the key", ""),
      { (args: Seq[Expression]) => args match {
          case Seq(bf, v) => BloomFilterMightContain(bf, v)
          case other => throw new IllegalArgumentException(
            s"might_contain expects 2 arguments, got ${other.size}")
        } })
  }

  /** 4-way salt: enough fan-out to demonstrate (and test) the skew split
    * while keeping the replicated-dim overhead at bench scale proportionate;
    * a production job sizes this to its hottest key's share. */
  val SaltFactor = 4

  /** lineitem ⨝ orders with a salted key, aggregated per priority —
    * identical result to the unsalted join (that's the oracle). */
  val skewSaltedJoin: Q = (s, d) => {
    // project the fact side to (join key, salt, payload) BEFORE the shuffle:
    // the revenue product is computed map-side so the exchange carries three
    // longs per row instead of the six pruned source columns
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"),
        pmod(xxhash64(col("l_linenumber"), col("l_partkey"), col("l_suppkey")),
             lit(SaltFactor)).as("salt"),
        Dsl.discPriceMicro.as("dp_micro"))
    // replicate only the join key + the one payload column: the SaltFactor-way
    // explode then multiplies ~17 bytes/row, not the whole orders record
    val ord = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .withColumn("salt", explode(sequence(lit(0L), lit(SaltFactor - 1L))))
    // the shuffle_hash hint forces the SHUFFLED join path the salt exists to
    // split: at fixture scale AQE would otherwise broadcast the exploded
    // build side and the (key, salt) partitioning the operator demonstrates
    // would never materialize (the 100 TB scenario this models has no
    // broadcastable side — that's why it salts). Plan-asserted in
    // ExplainInvariantsSpec: a shuffled join keyed on BOTH key and salt.
    li.join(ord.hint("shuffle_hash"),
            col("l_orderkey") === col("o_orderkey") && li("salt") === ord("salt"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("line_cnt"),
           (sum(col("dp_micro")) / 10000.0).as("revenue"))
  }

  val skewSaltedJoinSql: String =
    s"""SELECT o_orderpriority, count(*) AS line_cnt,
       |  $discPriceSumSql AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderpriority""".stripMargin

  /** Bucket-pruned co-located join: both sides written bucketed+sorted on
    * the join key (external tables in a temp dir), then merge-joined with
    * ZERO shuffle exchange — Spark's equivalent of the reference's
    * CompositeInputFormat map-side merge join, and the physical layout a
    * 100 TB deployment uses to amortize the shuffle of its hottest join
    * across every downstream query. Result equals the plain join (that's
    * the oracle); the no-Exchange plan invariant is asserted in ScaleSpec. */
  val joinBucketedColocated: Q = (s, d) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bkt").toString
    Tables.orders(s, d).write.mode("overwrite")
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .option("path", s"$tmp/orders").saveAsTable("graft_orders_bkt")
    Tables.customer(s, d).write.mode("overwrite")
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .option("path", s"$tmp/customer").saveAsTable("graft_customer_bkt")
    s.table("graft_orders_bkt")
      .join(s.table("graft_customer_bkt").hint("merge"),
            col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
           moneySum(col("o_totalprice")).as("total"))
  }

  val joinBucketedColocatedSql: String =
    s"""SELECT c_mktsegment, count(*) AS n_orders,
       |  ${moneySumSql("o_totalprice")} AS total
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_mktsegment""".stripMargin

  /** Bloom-filter runtime pre-filter join — the manual form of Spark's
    * InjectRuntimeFilter, and the Hadoop idiom of shipping a membership
    * filter file via DistributedCache to make the map side drop unjoinable
    * rows before the shuffle. One pass over the (filtered) dimension builds
    * a Bloom filter of its join keys (spark-sketch, deterministic for fixed
    * (n, fpp)); broadcast to executors, it prunes the fact side BEFORE the
    * exchange, so only the ~selectivity fraction of the fact table is
    * shuffled. False positives just leak a few extra rows into the shuffle;
    * the join removes them — the result provably equals the plain join,
    * which is the oracle. The merge hint forces a real shuffle join (the
    * honest 100 TB scenario: if the dim were broadcastable, the join itself
    * would already be the filter). */
  val joinBloomPrefilter: Q = (s, d) => {
    registerBloomFunctions(s)
    // the filter is built by the codegen'd bloom_filter_agg (the expression
    // behind Spark's own InjectRuntimeFilter; insertion is set-bits so the
    // result is order-independent and deterministic for fixed (n, bits)).
    // might_contain requires its filter side to be a scalar subquery — the
    // subquery runs once, its one binary value ships to executors as a
    // literal, and the probe runs map-side inside whole-stage codegen: no
    // driver-side collect-and-rebroadcast, no per-row Scala UDF. The MERGE
    // hint forces a real shuffle join (the honest 100 TB scenario: a
    // broadcastable dim would make the join itself the filter).
    Tables.sql(s, d,
      s"""WITH dim AS (SELECT c_custkey, c_nationkey FROM customer
         |            WHERE c_mktsegment = 'MACHINERY')
         |SELECT /*+ MERGE(dim) */ c_nationkey, count(*) AS n_orders,
         |  ${moneySumSql("o_totalprice")} AS total
         |FROM orders JOIN dim ON o_custkey = c_custkey
         |WHERE might_contain(
         |  (SELECT bloom_filter_agg(c_custkey, 2000L, 19170L) FROM dim),
         |  o_custkey)
         |GROUP BY c_nationkey""".stripMargin)
  }

  val joinBloomPrefilterSql: String =
    s"""SELECT c_nationkey, count(*) AS n_orders,
       |  ${moneySumSql("o_totalprice")} AS total
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |WHERE c_mktsegment = 'MACHINERY'
       |GROUP BY c_nationkey""".stripMargin

  /** Registered SORT-FREE (round 15, tranche 3): grouped outputs with unique
    * group keys — the trailing ORDER BY was comparator-only. Verify sorts the
    * dump by these keys and the oracle's ORDER BY is derived from them. */
  val ops: Seq[Op] = Seq(
    Op("skew_salted_join", skewSaltedJoin, Sql(skewSaltedJoinSql), Seq("o_orderpriority")),
    Op("join_bucketed_colocated", joinBucketedColocated,
      Sql(joinBucketedColocatedSql), Seq("c_mktsegment")),
    Op("join_bloom_prefilter", joinBloomPrefilter, Sql(joinBloomPrefilterSql), Seq("c_nationkey")),
  )
}
