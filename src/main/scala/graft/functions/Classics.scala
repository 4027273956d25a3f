package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{NoOracle, Op, Q, Sql, Tables}
import graft.llm.Text

/** §2.9 MapReduce classics — the examples-jar conformance suite re-expressed
  * (SURVEY.md). WordCount/Grep/etc. are the de-facto capability proofs of a
  * public Hadoop release (/root/reference/README.md:4).
  *
  * Scale notes: wordcount is explode → partial+final hash agg — the combiner
  * is automatic; grep pushes the rlike filter into the scan. The token
  * explode multiplies rows ~200×, but partial aggregation collapses them
  * before the single shuffle, which is what keeps this viable at 100 TB.
  */
object Classics {
  private def tokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
              explode(Text.words(col("text"))).as("w"))

  /** WordCount (~60 LoC of MR): tokenize, count per token. */
  val mrWordcount: Q = (s, d) =>
    tokens(s, d).groupBy("w")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w"))

  val mrWordcountSql: String =
    s"""SELECT w, count(*) AS cnt
       |FROM (SELECT unnest(${Text.wordsSql("text")}) AS w FROM documents)
       |GROUP BY w
       |ORDER BY cnt DESC, w""".stripMargin

  /** Per-source word counts (MultiFileWordCount idiom: input tag in the key). */
  val mrMultifilewc: Q = (s, d) =>
    tokens(s, d).groupBy("source", "w")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("source"), col("cnt").desc, col("w"))

  val mrMultifilewcSql: String =
    s"""SELECT source, w, count(*) AS cnt
       |FROM (SELECT source, unnest(${Text.wordsSql("text")}) AS w FROM documents)
       |GROUP BY source, w
       |ORDER BY source, cnt DESC, w""".stripMargin

  /** Grep example: extract matches of a pattern, count, sort desc. */
  val mrGrep: Q = (s, d) =>
    Tables.documents(s, d)
      .select(explode(regexp_extract_all(col("text"), lit("(scan\\w*|merge\\w*)"), lit(1))).as("m"))
      .groupBy("m")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("m"))

  val mrGrepSql: String =
    """SELECT m, count(*) AS cnt
      |FROM (SELECT unnest(regexp_extract_all(text, '(scan\w*|merge\w*)', 1)) AS m FROM documents)
      |GROUP BY m
      |ORDER BY cnt DESC, m""".stripMargin

  /** RandomWriter/RandomTextWriter: seeded distributed synthetic data.
    * rand(seed) is deterministic per (seed, partition) — pin partitioning
    * with repartition(1)… no: keep distributed; rows-only check asserts shape.
    */
  val mrRandomwriter: Q = (s, _) =>
    s.range(0, 1000, 1, 8)
      .select(col("id"), rand(42).as("u"), randn(42).as("g"))
      .agg(count(lit(1)).as("n"),
           sum(when(col("u").between(0, 1), 1).otherwise(0)).as("in_range"))

  /** Counters: side-channel metrics via Dataset.observe (MR Counters analog). */
  val mrCounters: Q = (s, d) => {
    import s.implicits._
    val obs = new org.apache.spark.sql.Observation("metrics")
    val df = Tables.lineitem(s, d)
      .observe(obs, count(lit(1)).as("rows_seen"),
               sum(col("l_quantity")).as("qty_seen"))
    df.write.format("noop").mode("overwrite").save()
    val row = obs.get
    Seq((row("rows_seen").asInstanceOf[Long], row("qty_seen").asInstanceOf[Double]))
      .toDF("rows_seen", "qty_seen")
  }

  /** ChainMapper/ChainReducer: a fused narrow-op pipeline — whole-stage
    * codegen collapses it to one generated function (EXPLAIN unit test).
    * The REPORTED v2 is 6dp-rounded (price*2+1 lands off the 2dp grid in
    * binary and sf0.1 surfaced >6dp reprs — the round-9 gopher class);
    * the filter keeps the unrounded value on both engines. */
  val mrChainSql: String =
    s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |  ${graft.Dsl.round6Sql("l_extendedprice * 2 + 1")} AS v2
      |FROM lineitem
      |WHERE l_quantity > 5 AND l_extendedprice * 2 + 1 > 100""".stripMargin

  /** Hadoop Streaming analog: user code as Scala UDF + typed Dataset.map —
    * same-process, codegen-adjacent, no per-record pipe boundary. */
  val mrStreamingUdf: Q = (s, d) => {
    import s.implicits._
    val tokCount = udf((t: String) => t.split("\\s+").count(_.nonEmpty))
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), tokCount(col("text")).as("n_toks"))
    base.as[(Long, String, Int)]
      .map { case (id, text, n) => (id, n, text.length) }
      .toDF("doc_id", "n_toks", "n_chars2")
  }

  val mrStreamingUdfSql: String =
    """SELECT doc_id,
      |  cast(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) as int) AS n_toks,
      |  cast(length(text) as int) AS n_chars2
      |FROM documents""".stripMargin

  /** TeraValidate analog: verify a claimed sort order and emit a content
    * checksum. The "claimed order" here is lineitem by (l_shipdate,
    * l_orderkey, l_linenumber); we validate that l_orderkey is NOT globally
    * monotone under it (counting real inversions, not a vacuous zero) and
    * checksum the key columns with exact integer arithmetic. The adjacency
    * scan is a lag window; at 100 TB it runs per range-partition with a
    * per-partition (min, max) boundary pass — same counts, no global window
    * (the single-partition window below is the oracle semantics).
    * Checksum is a sum of per-row polynomial hashes mod a prime — exact
    * bigint math, order-independent, identical in both engines. */
  /** TeraValidate the way the MR original works: validate sortedness WITHIN
    * each range partition and check adjacent-partition BOUNDARIES — never a
    * single global sequential pass (an unpartitioned lag window moves the
    * whole fact table into one task; at 100 TB that is the scan).
    * `repartitionByRange` guarantees every key in partition p ≤ every key
    * in p+1, so sorted-within + partition order IS the global order:
    * inversions between consecutive global rows split exactly into
    * within-partition inversions (per-partition lag) plus boundary
    * inversions (partition p's order-last key vs p+1's order-first key),
    * whatever boundary values the range sampler picks. Count/checksum/
    * min/max are order-independent, so the output row is bit-identical to
    * the global-lag oracle spelling. */
  val mrTeravalidate: Q = (s, d) => {
    val sortKeys = Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    val keyed = Tables.lineitem(s, d)
      .select(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
              col("l_partkey"))
      .repartitionByRange(32, sortKeys: _*)
      .withColumn("p", spark_partition_id())
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("p")).orderBy(sortKeys: _*)
    val ord = struct(sortKeys: _*)
    val perPart = keyed
      .withColumn("prev_key", lag(col("l_orderkey"), 1).over(w))
      .groupBy("p")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("l_orderkey") < col("prev_key"), 1L).otherwise(0L))
          .as("inv"),
        sum((col("l_orderkey") * 31 + col("l_linenumber") * 7
               + col("l_partkey")) % 1000003).as("ck"),
        min(col("l_orderkey")).as("min_key"),
        max(col("l_orderkey")).as("max_key"),
        min_by(col("l_orderkey"), ord).as("first_key"),
        max_by(col("l_orderkey"), ord).as("last_key"))
    // the finisher runs over ≤32 partition-summary rows — the unpartitioned
    // window is bounded by the partition count, not the data
    val bw = org.apache.spark.sql.expressions.Window.orderBy(col("p"))
    perPart
      .withColumn("prev_last", lag(col("last_key"), 1).over(bw))
      .agg(
        sum(col("n")).as("n_rows"),
        (sum(col("inv")) +
          sum(when(col("first_key") < col("prev_last"), 1L).otherwise(0L)))
          .as("inversions"),
        sum(col("ck")).as("checksum"),
        min(col("min_key")).as("min_key"),
        max(col("max_key")).as("max_key"))
  }

  val mrTeravalidateSql: String =
    """WITH seq AS (
      |  SELECT l_orderkey, l_linenumber, l_partkey,
      |    lag(l_orderkey, 1) OVER (
      |      ORDER BY l_shipdate, l_orderkey, l_linenumber) AS prev_key
      |  FROM lineitem)
      |SELECT count(*) AS n_rows,
      |  cast(sum(CASE WHEN l_orderkey < prev_key THEN 1 ELSE 0 END) as bigint)
      |    AS inversions,
      |  cast(sum((l_orderkey * 31 + l_linenumber * 7 + l_partkey) % 1000003)
      |    as bigint) AS checksum,
      |  min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
      |FROM seq""".stripMargin

  // mr_counters' Observation travels a side channel, but the metric VALUES
  // are plain aggregates of lineitem — oracle-checkable (l_quantity is
  // integer-valued, so the double sum is order-independent and exact).
  val mrCountersSql: String =
    """SELECT count(*) AS rows_seen, cast(sum(l_quantity) as double) AS qty_seen
      |FROM lineitem""".stripMargin

  /** Registered SORT-FREE (round 15). mr_chain: the job-chain's value is
    * the filter→derive pipeline, not an output order; the lineitem PK
    * quadruple is the compare order. mr_join: this row SHARES the
    * (round-14 sort-free) join_inner_hash text, so it needs its own sort keys —
    * without one its compare passed only because AQE's broadcast plan
    * happens to preserve the orders-scan order (latent fragility, fixed
    * here). mr_secondarysort/terasort keep their sorts: the global order IS
    * those operators' semantics. */
  val ops: Seq[Op] = Seq(
    // §2.9 alias rows: the reference's example JARs by their own names —
    // TeraSort IS the range-partitioned global sort, SecondarySort IS the
    // composite-key window sort, the join example IS the shuffled equi
    // join. Registered under both names so the inventory row keys resolve.
    Op.shared("mr_terasort", graft.operators.Windows.sortGlobalSql),
    Op.shared("mr_secondarysort", graft.operators.Windows.sortSecondarySql),
    Op.shared("mr_join", graft.operators.Relational.joinInnerHashSql, Seq("o_orderkey")),
    Op("mr_teravalidate", mrTeravalidate, Sql(mrTeravalidateSql)),
    Op("mr_wordcount", mrWordcount, Sql(mrWordcountSql)),
    Op("mr_multifilewc", mrMultifilewc, Sql(mrMultifilewcSql)),
    Op("mr_grep", mrGrep, Sql(mrGrepSql)),
    Op("mr_randomwriter", mrRandomwriter,
      NoOracle("graft.SqlSurfaceSpec", "rand/randn streams are Spark-specific")),
    Op("mr_counters", mrCounters, Sql(mrCountersSql)),
    Op.shared("mr_chain", mrChainSql, graft.operators.Relational.LineitemKey),
    Op("mr_streaming_udf", mrStreamingUdf, Sql(mrStreamingUdfSql), Seq("doc_id")),
  )
}
