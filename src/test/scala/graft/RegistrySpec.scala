package graft

import org.scalatest.funsuite.AnyFunSuite

/** The operator registry: one [[Op]] per name across every module, and the
  * three driver-contract maps derived from it. */
class RegistrySpec extends AnyFunSuite {

  test("operator names are unique across modules") {
    val names = SparkEntry.ops.map(_.name)
    val dup = names.diff(names.distinct)
    assert(dup.isEmpty, s"registered twice: ${dup.mkString(", ")}")
    assert(SparkEntry.queries.size == names.size)
  }

  test("no op has a null build or oracle (a forward reference in its module)") {
    val unset = SparkEntry.ops.filter { o =>
      o.build == null || o.oracle == null || o.oracle == Sql(null)
    }
    assert(unset.isEmpty, unset.map(_.name).mkString(", "))
  }

  test("an op with sort keys leaves its ORDER BY to the derived suffix") {
    // same grammar as ExplainInvariantsSpec's trailing top-level ORDER BY
    val trailing =
      """(?is).*\sORDER\s+BY\s+([A-Za-z0-9_.]+(?:\s+(?:ASC|DESC))?(?:\s+NULLS\s+(?:FIRST|LAST))?(?:\s*,\s*[A-Za-z0-9_.]+(?:\s+(?:ASC|DESC))?(?:\s+NULLS\s+(?:FIRST|LAST))?)*)\s*$""".r
    val doubled = SparkEntry.ops.collect {
      case Op(name, _, Sql(body), sort) if sort.nonEmpty && trailing.matches(body) => name
    }
    assert(doubled.isEmpty,
      s"Sql bodies that still end in their own ORDER BY: ${doubled.mkString(", ")}")
    for (o <- SparkEntry.ops if o.sort.nonEmpty; Sql(body) <- Seq(o.oracle))
      assert(SparkEntry.oracleSql(o.name) == body + "\nORDER BY " + o.sort.mkString(", "))
  }

  test("exactly the ten rows-only operators have no oracle, each bounded by a suite") {
    val rowsOnly = SparkEntry.ops.collect { case Op(name, _, n: NoOracle, _) => name -> n }.toMap
    assert(rowsOnly.keySet == Set(
      "agg_approx_distinct", "agg_approx_quantile", "agg_hll_merge",
      "dq_profile_approx", "fs_ls", "llm_simhash", "mr_randomwriter",
      "sample_hash", "llm_simsearch_lsh", "llm_simsearch_ivf"))
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet -- rowsOnly.keySet)
    for ((name, n) <- rowsOnly) {
      val suite = Class.forName(n.verifiedBy)
      assert(classOf[org.scalatest.Suite].isAssignableFrom(suite),
        s"$name: ${n.verifiedBy} is not a ScalaTest suite")
      assert(n.why.nonEmpty, s"$name: no reason given for the missing oracle")
    }
  }
}
