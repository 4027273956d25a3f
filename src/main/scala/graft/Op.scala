package graft

/** How the correctness gate checks an operator. */
sealed trait Oracle

/** DuckDB text over the same parquet tables. For an [[Op]] with sort keys
  * the body carries no trailing ORDER BY: [[Op.oracleSql]] appends it. */
final case class Sql(body: String) extends Oracle

/** A rows-only operator: no DuckDB twin computes the same rows, so the
  * ScalaTest suite named by `verifiedBy` (a class name) bounds its output
  * instead, for the reason given in `why`. */
final case class NoOracle(verifiedBy: String, why: String) extends Oracle

/** One registered operator: its name, the plan it builds over a fixture
  * directory, its oracle, and the dump sort keys. Non-empty `sort` means
  * the operator is registered sort-free: graft.Verify sorts the dump by
  * these columns, ascending, and the oracle text ends in the same ORDER BY.
  * A key may carry the oracle's table alias (`d.doc_id`) where DuckDB would
  * find the bare name ambiguous between two joined tables: it binds an
  * ORDER BY name to the FROM clause before the select list.
  */
final case class Op(name: String, build: Q, oracle: Oracle, sort: Seq[String] = Nil) {
  /** The dump's sort columns: the keys without their oracle alias. */
  def dumpSort: Seq[String] = sort.map(k => k.substring(k.lastIndexOf('.') + 1))

  def oracleSql: Option[String] = oracle match {
    case Sql(body) if sort.nonEmpty => Some(body + "\nORDER BY " + sort.mkString(", "))
    case Sql(body) => Some(body)
    case _: NoOracle => None
  }
}

object Op {
  /** A plan declared in SQL text, run over the fixture views. */
  def sqlQuery(sql: String): Q = (s, d) => {
    Tables.registerViews(s, d); s.sql(sql)
  }

  /** An operator whose Spark plan and DuckDB oracle are the same text. With
    * sort keys, Spark runs `sql` sort-free and only the oracle appends the
    * derived ORDER BY ([[Op.oracleSql]]). */
  def shared(name: String, sql: String, sort: Seq[String] = Nil): Op =
    Op(name, sqlQuery(sql), Sql(sql), sort)
}
