package graft.operators

import org.apache.spark.sql.functions._
import graft.{Dsl, Op, Q, Sql, Tables}

/** §2.2 projection/filter/predicates + §2.3 joins (SURVEY.md).
  *
  * Reference provenance: map-only filter/transform idioms and the
  * reduce-side / map-side join idioms of a public Hadoop release
  * (/root/reference/README.md:4). Re-expressed declaratively: Catalyst pushes
  * the filters into the parquet scan, prunes columns, and picks
  * broadcast-hash vs sort-merge join from sizes — the things a MapReduce
  * author hand-coded via DistributedCache / CompositeInputFormat.
  *
  * Scale notes (100 TB): every query here is pure narrow scan + (for joins)
  * a single key-partitioned exchange; small dimensions are broadcast
  * explicitly, big-big joins are left to sort-merge + AQE skew handling.
  */
object Relational {
  import Dsl._

  /** lineitem's unique key: (l_orderkey, l_linenumber) alone has duplicates
    * in these fixtures, so every row-level lineitem dump sorts by all four. */
  val LineitemKey: Seq[String] = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")

  // ---- §2.2 projection / filter ------------------------------------------

  /** Columnar scan with projection + predicate pushdown reaching parquet.
    * Registered SORT-FREE (round 14, same move as project_select round 13):
    * the pruned pushdown scan is a pure map task — no exchange at all; the
    * deterministic compare order lives in the Verify dump (its [[ops]]
    * sort keys, the full lineitem key), not the operator. */
  val scanParquetSql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_shipdate
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-07-01'
      |  AND l_quantity < 10""".stripMargin

  /** The REGISTERED map-only projection (round-12 verdict #1a): disc price
    * and charge as exact scaled-long arithmetic divided once to double, the
    * pure operator a pipeline would run. The deterministic total order the
    * oracle hash compare needs is applied by the COMPARATOR side —
    * graft.Verify sorts the dump by the op's sort keys before writing,
    * matching the oracle SQL's derived ORDER BY — instead of riding the
    * operator, where its range exchange re-executed the whole single-row-
    * group scan+derive for sampling and dominated the benchmark's largest
    * line (1.13 s of which ~0.8 s was the sort harness, not the operator). */
  val projectSelectSql: String =
    s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       |  $discPriceSql AS disc_price,
       |  $chargeSql AS charge
       |FROM lineitem""".stripMargin

  /** Compound predicate (TPC-H Q6 shape) → one exact revenue scalar. */
  val filterPredicateSql: String =
    s"""SELECT
       |  cast(sum(${centsSql("l_extendedprice")} * ${centsSql("l_discount")}) as double) / 10000.0 AS revenue,
       |  count(*) AS n
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
       |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  /** Regex grep over the document corpus (Hadoop Grep example, map side). */
  val filterRegexGrep: Q = (s, d) =>
    Tables.documents(s, d)
      .where(col("text").rlike("hash\\s+join"))
      .select("doc_id", "lang")

  val filterRegexGrepSql: String =
    """SELECT doc_id, lang FROM documents
      |WHERE regexp_matches(text, 'hash\s+join')""".stripMargin

  /** NULL semantics: IS NULL / null-safe equality on a derived nullable col. */
  val filterNullSemanticsSql: String =
    """SELECT c_custkey, seg, seg IS NULL AS seg_is_null,
      |       seg IS NOT DISTINCT FROM 'MACHINERY' AS is_machinery
      |FROM (SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg FROM customer)""".stripMargin

  // ---- §2.3 joins ---------------------------------------------------------

  /** Equi inner join (reduce-side join idiom) — row level.
    * Registered SORT-FREE (round 14): the shuffled equi join's output is
    * O(|orders|) and the trailing ORDER BY existed only for the hash
    * compare — it was a second full range exchange over the join output.
    * Compare order: the op's sort key o_orderkey, the orders PK. */
  val joinInnerHashSql: String =
    """SELECT o_orderkey, c_name, c_mktsegment
      |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin

  /** Map-side hash join (DistributedCache idiom): broadcast the dimension.
    * The hint is a comment to DuckDB. Registered SORT-FREE (round 14): a
    * broadcast join is map-side — with the comparator ORDER BY gone the
    * whole query is exchange-FREE, which is the point of broadcasting; the
    * old trailing sort range-exchanged ~30% of lineitem for the hash compare
    * alone. Compare order: the op's sort keys, the full lineitem key. */
  val joinBroadcastSql: String =
    """SELECT /*+ BROADCAST(part) */ l_orderkey, l_linenumber, l_partkey, l_suppkey, p_brand, p_size
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_size < 15""".stripMargin

  /** Co-sorted merge join (CompositeInputFormat idiom) — force SMJ via hint. */
  val joinSortMergeSql: String =
    s"""SELECT /*+ MERGE(lineitem) */ o_orderpriority, count(*) AS line_cnt, ${moneySumSql("l_extendedprice")} AS sum_price
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderpriority""".stripMargin

  /** Left outer join: order count per customer including zero. */
  val joinLeftOuterSql: String =
    """SELECT c_custkey, count(o_orderkey) AS order_cnt
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey""".stripMargin

  /** Full outer join with non-matching rows on both sides. */
  val joinFullOuterSql: String =
    """SELECT coalesce(c_custkey, -1) AS ck, coalesce(o_orderkey, -1) AS ok,
      |       c_acctbal, o_totalprice
      |FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9000) c
      |FULL JOIN (SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_totalprice > 280000) o
      |  ON c_custkey = o_custkey""".stripMargin

  /** Right outer: every big order kept, matching high-balance customer or
    * null — the mirror of left outer (Spark plans it as the flipped left
    * outer; registered so every ANSI join type runs by name). */
  val joinRightOuterSql: String =
    """SELECT coalesce(c_custkey, -1) AS ck, o_orderkey AS ok,
      |       c_acctbal, o_totalprice
      |FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9000) c
      |RIGHT JOIN (SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_totalprice > 280000) o
      |  ON c_custkey = o_custkey""".stripMargin

  /** Semi join: customers having at least one big order (EXISTS). */
  val joinLeftSemi: Q = (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d).where(col("o_totalprice") > 250000),
            col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")

  val joinLeftSemiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 250000)""".stripMargin

  /** Anti join: customers with no big order (NOT EXISTS, non-empty result). */
  val joinLeftAntiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 250000)""".stripMargin

  /** Bounded cartesian product. */
  val joinCrossSql: String =
    """SELECT r_name, n_name FROM region CROSS JOIN nation""".stripMargin

  /** Theta/range join: price-band classification of parts.
    * At scale: the band table is tiny → BroadcastNestedLoopJoin, which is the
    * right plan; a big-big band join would instead bucket on floor(price/step)
    * and equi-join buckets + residual predicate (see joinInterval).
    */
  val joinThetaRange: Q = (s, d) => {
    import s.implicits._
    val bands = Seq(("low", 0.0, 700.0), ("mid", 700.0, 1400.0),
                    ("high", 1400.0, 100000.0))
      .toDF("band", "lo", "hi")
    Tables.part(s, d)
      .join(broadcast(bands),
            col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
      .select("p_partkey", "band", "p_retailprice")
  }

  val joinThetaRangeSql: String =
    """SELECT p_partkey, band, p_retailprice
      |FROM part JOIN (VALUES ('low', 0.0, 700.0), ('mid', 700.0, 1400.0),
      |                       ('high', 1400.0, 100000.0)) AS b(band, lo, hi)
      |  ON p_retailprice >= lo AND p_retailprice < hi""".stripMargin

  /** Six-table multiway join (TPC-H Q5 shape: local supplier volume) — the
    * end-to-end join-planning proof. region/nation broadcast, the colocation
    * predicate (customer's nation = supplier's nation) rides the fact join,
    * and revenue uses exact scaled-long sums. At 100 TB this is the shape where
    * Catalyst's join reorder + broadcast chain replaces the hand-sequenced
    * multi-stage MapReduce pipeline a Hadoop author would write. */
  val joinMultiway: Q = (s, d) => {
    // Dimension-first, filter-before-shuffle: the region→nation→supplier
    // chain collapses to one tiny broadcast of ASIA suppliers, which cuts
    // lineitem to the ~1/5 that can contribute BEFORE the fact shuffle —
    // at 100 TB this is the difference between shuffling the whole fact
    // table and shuffling the selectivity fraction. The one genuine
    // shuffle left is lineitem ⨝ (customer⨝orders) on l_orderkey; the
    // shuffle_hash hint skips the sort-merge sorts (both sides hash-build
    // fine, and neither is pre-sorted). The colocation predicate
    // (customer's nation = supplier's nation) rides that fact join.
    val asiaSupp = Tables.supplier(s, d)
      .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
      .where(col("r_name") === "ASIA")
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    val li = Tables.lineitem(s, d)
      .join(broadcast(asiaSupp), col("l_suppkey") === col("s_suppkey"))
      .select(col("l_orderkey"), col("s_nationkey"), col("n_name"),
              discPriceMicro.as("dp_micro"))
    val co = Tables.customer(s, d).hint("broadcast")
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
      .select(col("o_orderkey"), col("c_nationkey"))
    li.join(co.hint("shuffle_hash"),
            col("l_orderkey") === col("o_orderkey") &&
            col("s_nationkey") === col("c_nationkey"))
      .groupBy("n_name")
      .agg((sum(col("dp_micro")) / 10000.0).as("revenue"),
           count(lit(1)).as("n_lines"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val joinMultiwaySql: String =
    s"""SELECT n_name, $discPriceSumSql AS revenue,
       |  count(*) AS n_lines
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON o_orderkey = l_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |GROUP BY n_name
       |ORDER BY revenue DESC, n_name""".stripMargin

  /** Null-safe equi join (`<=>` / IS NOT DISTINCT FROM): NULL keys match
    * each other instead of vanishing — the semantics MERGE/dedup pipelines
    * need when the join key is itself nullable. Keys are synthesized with
    * nullif (fixtures carry no NULLs), and the null-match rows prove the
    * behavior. Plans as an ordinary shuffled hash join: the null-safe
    * comparison is still an equi-key (EqualNullSafe), NOT a theta join —
    * NULL keys hash to one partition like any other value. */
  val joinNullSafeSql: String =
    """WITH cust AS (
      |  SELECT c_custkey, nullif(c_nationkey % 5, 0) AS k FROM customer),
      |dim AS (
      |  SELECT nullif(n_nationkey % 5, 0) AS k, n_name
      |  FROM nation WHERE n_nationkey < 5)
      |SELECT dim.k, n_name, count(*) AS n
      |FROM cust JOIN dim ON cust.k IS NOT DISTINCT FROM dim.k
      |GROUP BY dim.k, n_name""".stripMargin

  /** Registered SORT-FREE (round 15, tranche 3): join results are keyed
    * lookups downstream — the trailing ORDER BY was comparator-only (each
    * paid an extra AQE stage + range exchange per suite pass). Keys are
    * unique in every output (c_custkey per-customer; (ck, ok) for the outer
    * joins since ok = o_orderkey is unique and ck-only rows carry ok = -1
    * once each; (p_partkey, band) since bands are disjoint). Verify sorts the
    * dump by these keys and the oracle's ORDER BY is derived from them. */
  val ops: Seq[Op] = Seq(
    Op.shared("join_null_safe", joinNullSafeSql, Seq("n_name")),
    Op("join_multiway", joinMultiway, Sql(joinMultiwaySql)),
    Op.shared("scan_parquet", scanParquetSql, LineitemKey),
    Op.shared("project_select", projectSelectSql, LineitemKey),
    Op.shared("filter_predicate", filterPredicateSql),
    Op("filter_regex_grep", filterRegexGrep, Sql(filterRegexGrepSql), Seq("doc_id")),
    Op.shared("filter_null_semantics", filterNullSemanticsSql, Seq("c_custkey")),
    Op.shared("join_inner_hash", joinInnerHashSql, Seq("o_orderkey")),
    Op.shared("join_broadcast", joinBroadcastSql, LineitemKey),
    Op.shared("join_sort_merge", joinSortMergeSql, Seq("o_orderpriority")),
    Op.shared("join_left_outer", joinLeftOuterSql, Seq("c_custkey")),
    Op.shared("join_full_outer", joinFullOuterSql, Seq("ck", "ok")),
    Op.shared("join_right_outer", joinRightOuterSql, Seq("ck", "ok")),
    Op("join_left_semi", joinLeftSemi, Sql(joinLeftSemiSql), Seq("c_custkey")),
    Op.shared("join_left_anti", joinLeftAntiSql, Seq("c_custkey")),
    Op.shared("join_cross", joinCrossSql, Seq("r_name", "n_name")),
    Op("join_theta_range", joinThetaRange, Sql(joinThetaRangeSql), Seq("p_partkey", "band")),
  )
}
