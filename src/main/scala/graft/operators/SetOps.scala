package graft.operators

import graft.{Op, Q, Sql, Tables}

/** §2.7 set operations / exact dedup (SURVEY.md).
  *
  * Reference provenance: the multi-directory-input (MultipleInputs) and
  * group-on-whole-record distinct idioms of a public Hadoop release
  * (/root/reference/README.md:4). UNION ALL is metadata-only in Spark (no
  * shuffle); the distinct variants shuffle on the full row hash — at 100 TB
  * that is the unavoidable exchange, and partial aggregation trims it.
  */
object SetOps {
  /** Bag union of conformant inputs, tagged by source. */
  val setUnionAllSql: String =
    """SELECT o_orderkey, 'urgent' AS src FROM orders WHERE o_orderpriority = '1-URGENT'
      |UNION ALL
      |SELECT o_orderkey, 'high' AS src FROM orders WHERE o_orderpriority = '2-HIGH'""".stripMargin

  /** Set union: distinct customers having urgent or high orders. */
  val setUnionDistinctSql: String =
    """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |UNION
      |SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'""".stripMargin

  /** Set intersection: customers with BOTH urgent and high orders. */
  val setIntersectSql: String =
    """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'""".stripMargin

  /** Set difference: customers with orders but none urgent. */
  val setExceptSql: String =
    """SELECT o_custkey FROM orders
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin

  /** Bag intersection (INTERSECT ALL): per-customer order-count overlap —
    * multiplicity min(urgent_n, high_n), which set-intersect silently
    * collapses to 1. Spark plans a count-tagged join, no row explosion. */
  val setIntersectAllSql: String =
    """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      |INTERSECT ALL
      |SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'""".stripMargin

  /** Bag difference (EXCEPT ALL): multiplicity max(all_n - urgent_n, 0) —
    * keeps a customer's remaining non-urgent order slots. */
  val setExceptAllSql: String =
    """SELECT o_custkey FROM orders
      |EXCEPT ALL
      |SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin

  /** Exact whole-row dedup (canonical MR distinct). */
  val distinctRows: Q = (s, d) =>
    Tables.orders(s, d)
      .select("o_orderstatus", "o_orderpriority")
      .distinct()

  val distinctRowsSql: String =
    """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders""".stripMargin

  /** Registered SORT-FREE (round 15): set results have no semantic order;
    * keys are unique (distinct/intersect/except outputs) or ties are
    * IDENTICAL single-column rows (the ALL variants), so any tie order
    * compares equal. Verify sorts the dump by these keys and the oracle's
    * ORDER BY is derived from them. */
  val ops: Seq[Op] = Seq(
    Op.shared("set_union_all", setUnionAllSql, Seq("o_orderkey", "src")),
    Op.shared("set_union_distinct", setUnionDistinctSql, Seq("o_custkey")),
    Op.shared("set_intersect", setIntersectSql, Seq("o_custkey")),
    Op.shared("set_except", setExceptSql, Seq("o_custkey")),
    Op.shared("set_intersect_all", setIntersectAllSql, Seq("o_custkey")),
    Op.shared("set_except_all", setExceptAllSql, Seq("o_custkey")),
    Op("distinct_rows", distinctRows,
      Sql(distinctRowsSql), Seq("o_orderstatus", "o_orderpriority")),
  )
}
