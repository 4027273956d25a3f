package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    // SPARK_GRAFT_EXTRA_CONF (applied by the factory) lets conf-selected
    // variants (e.g. a spark.graft.neardup.streamBandCap of 0, the exact
    // stream_neardup) run through the exact verify/compare path. The
    // correctness gate runs with it unset.
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A thrown query must leave a LOUD artifact, not just a stderr line: in
    // round 8 a fixture-encoding drift made 43 queries throw at analysis
    // time, and because a thrown query simply had no output dir, they were
    // silently ABSENT from the driver's correctness report instead of being
    // counted as failures. Record every failure in _failed.json (and keep
    // the stderr line); tools/compare.py now also cross-checks output dirs
    // against the full registered query list, so absence itself is an error.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        val built = fn(spark, sfDir)
        // comparator-side total order for sort-free registered queries —
        // must match the oracle SQL's ORDER BY (see SparkEntry.dumpSort)
        val dump = SparkEntry.dumpSort.get(name)
          .map(ks => built.orderBy(ks.head, ks.tail: _*)).getOrElse(built)
        dump.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        // a NULL in a dump-sort key would order differently in the two
        // engines (Spark ASC = NULLS FIRST, DuckDB ASC = NULLS LAST) and
        // silently shuffle the hashed row order — fail LOUDLY instead
        // (round-16 ADVICE; the static spec guard only catches an explicit
        // NULLS suffix in the oracle text, not a nullable key). Checked on
        // the just-written single file — one tiny local re-read per query.
        SparkEntry.dumpSort.get(name).foreach { ks =>
          import org.apache.spark.sql.functions.col
          val nulls = spark.read.parquet(s"$outDir/$name")
            .where(ks.map(k => col(k).isNull).reduce(_ || _)).limit(1).count()
          if (nulls > 0) {
            // remove the complete-looking dump BEFORE throwing: a guard
            // failure that leaves a valid parquet dir behind could be
            // re-read as a pass by a comparator that doesn't cross-check
            // _failed.json (round-16 review — compare.py now also skips
            // THREW-IN-VERIFY names, belt and braces)
            Util.deleteRecursively(new java.io.File(s"$outDir/$name"))
            throw new IllegalStateException(
              s"dumpSort key of '$name' (${ks.mkString(",")}) contains NULLs " +
              "— the cross-engine dump order is undefined for NULL keys")
          }
        }
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = String.valueOf(e)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // In `only` spot-check mode, dump just the selected oracles — compare.py
    // treats an oracle name with no output dir as MISSING-OUTPUT, which is
    // the round-8 tripwire for full runs but noise for a filtered dev loop.
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // The sort-free registration set, straight from SparkEntry.dumpSort —
    // tools/baseline.py derives its timing-only ORDER-BY-strip overrides
    // from this file instead of a hand-maintained list (round-13 advisor:
    // the two lists could silently drift).
    val dumpSortJson = SparkEntry.dumpSort
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${v.map(q).mkString("[", ",", "]")}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/dump_sort.json"), dumpSortJson)
    val failedJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v.take(500))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failed.json"), failedJson)
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} queries FAILED: " +
        failed.keys.mkString(", "))
    spark.stop()
  }
}
