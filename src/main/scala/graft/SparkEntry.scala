package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Aggregates, Behavioral, DataQuality, Relational, ScaleTechniques, SetOps, SqlSurface, TemporalJoins, Windows}
import graft.functions.{Classics, Scalar, TypedUdaf}
import graft.llm.{AnnIvf, AnnLsh, AnnQuantized, Clustering, Curation, Dedup, Quantize, Similarity, Sketches, TextAnalysis}
import graft.multimodal.Multimodal
import graft.sources.{FsOps, Sources}
import graft.streaming.Streams

/** Driver contract (SURVEY.md §0 and §7): [[queries]], [[oracleSql]] and
  * [[dumpSort]], all three projections of one list, [[ops]].
  *
  * Registering an operator: add one [[Op]] to its module's `ops` (declared
  * below every val it names, or the forward reference reads null and
  * construction fails). `Op(name, build, oracle, sort)`:
  *  - `build` is the plan over a fixture directory;
  *  - `oracle` is `Sql(body)`, the DuckDB text over the same parquet
  *    tables, or `NoOracle(verifiedBy, why)` for a rows-only operator: no
  *    DuckDB twin computes the same rows, so the named ScalaTest suite bounds
  *    its output instead and the correctness gate checks rows only;
  *  - a non-empty `sort` registers the operator sort-free: graft.Verify
  *    sorts the dump by those columns (ascending) and the oracle text is
  *    the body plus `ORDER BY <sort>`, so the body carries no trailing
  *    ORDER BY of its own. A key may name the oracle's table alias too
  *    (`d.doc_id`); the dump sorts by the column part.
  *  - `Op.shared(name, sql, sort)` runs the same text in both engines:
  *    Spark runs `sql` as written and the oracle is `sql` plus the ORDER BY
  *    the sort keys derive. Prefer it wherever the text plans the same as a
  *    DataFrame would; a join hint rides the text as a Spark hint comment,
  *    which DuckDB reads as a plain comment.
  * Names are unique across modules; construction checks it.
  */
object SparkEntry {
  import Dsl._

  /** Flagship (TPC-H Q3 shape): scan+pushdown, broadcast dim join, shuffled
    * fact join, partial+final agg, top-k sort — one query per P1 subsystem.
    * Driver smoke-checks rows>0 on sf0.001.
    */
  val flagshipSql: String =
    s"""SELECT /*+ BROADCAST(customer) */ l_orderkey, o_orderdate, $discPriceSumSql AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1998-07-01'
       |  AND l_shipdate > TIMESTAMP '1998-07-01'
       |GROUP BY l_orderkey, o_orderdate
       |ORDER BY revenue DESC, l_orderkey
       |LIMIT 10""".stripMargin

  /** The registered flagship plan (the driver's smoke entry and Bench's warm-up). */
  def flagship: Q = queries("flagship")

  def entry(spark: SparkSession): DataFrame =
    flagship(spark, "/root/testdata/sf0.001")

  /** Every registered operator, in module order. */
  val ops: Seq[Op] =
    Relational.ops ++ Aggregates.ops ++ Windows.ops ++ SetOps.ops ++ Scalar.ops ++
    Classics.ops ++ TypedUdaf.ops ++ TemporalJoins.ops ++ Streams.ops ++ Sources.ops ++
    FsOps.ops ++ Dedup.ops ++ Curation.ops ++ Similarity.ops ++ TextAnalysis.ops ++
    AnnLsh.ops ++ AnnIvf.ops ++ AnnQuantized.ops ++ Clustering.ops ++ Sketches.ops ++
    Multimodal.ops ++ ScaleTechniques.ops ++ SqlSurface.ops ++ Quantize.ops ++
    Behavioral.ops ++ DataQuality.ops :+ Op.shared("flagship", flagshipSql)

  {
    val dup = ops.groupBy(_.name).collect { case (n, os) if os.size > 1 => n }
    require(dup.isEmpty, s"operator names registered twice: ${dup.mkString(", ")}")
    val unset = ops.filter(o => o.build == null || (o.oracle match {
      case null | Sql(null) => true
      case _ => false
    })).map(_.name)
    require(unset.isEmpty, s"operators with a null build or oracle " +
      s"(is a module's ops declared above the vals it names?): ${unset.mkString(", ")}")
  }

  lazy val queries: Map[String, Q] = ops.map(o => o.name -> o.build).toMap

  lazy val oracleSql: Map[String, String] =
    ops.flatMap(o => o.oracleSql.map(o.name -> _)).toMap

  lazy val dumpSort: Map[String, Seq[String]] =
    ops.filter(_.sort.nonEmpty).map(o => o.name -> o.dumpSort).toMap
}
