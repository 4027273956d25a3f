package graft

import java.util.Locale
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.graft.GraftSql

/** Named readers for the driver-generated fixtures (TESTDATA.md).
  *
  * All tables are parquet with embedded schemas; `spark.read.parquet` gives
  * vectorized scans with projection + predicate pushdown for free. At 100 TB
  * these reads split by `spark.sql.files.maxPartitionBytes` into per-file-range
  * tasks — no custom source machinery is needed (SURVEY.md §1.1, §2.1).
  *
  * Reference provenance: the reference's entire storage surface is the Hadoop
  * `FileSystem` API (/root/reference/README.md:4 — public Hadoop release);
  * Spark reads through the very same `FileSystem` stack, so `hdfs://` paths
  * work unchanged on a real cluster.
  *
  * SQL text reaches the same readers through [[sql]], which binds the table
  * names in the parsed plan: no temp view is registered, so building a query
  * leaves no session state behind for another directory's build to clash with.
  */
object Tables {
  /** Resolved-scan memo: `spark.read.parquet` runs a footer/schema-inference
    * Spark job and a file listing on EVERY call — pure fixed overhead that a
    * production catalog (schema + file index known) never pays per query.
    * Re-invoking an operator (every bench pass, every Verify query) re-loaded
    * the same immutable fixture dir and re-paid ~100-300 ms per table; the
    * memo resolves each (session, path) once per JVM and reuses the analyzed
    * relation, which is exactly what a metastore table reference does.
    *
    * ASSUMPTION (same one [[graft.llm.TextAnalysis]]'s vocabFits memo makes):
    * a fixture dir is IMMUTABLE once first read in a JVM — true for the
    * driver-generated test dirs and the append-only snapshot layout a 100 TB
    * corpus uses. Paths that are rewritten in-JVM (sink scratch dirs) go
    * through `spark.read` directly, not this memo; ScaleProbe's scaled copies
    * are written before their first load. Keys hold the session strongly;
    * entry count is #dirs × #tables (tiny), and the sessions these mains
    * build live for the whole JVM. */
  private val planMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // resolution runs a Spark job — keep it OUTSIDE the map's bin lock
    // (round-8 VERDICT #3 on the vocabFits memo); first answer wins a race
    val k = (spark, s"$dir/$name.parquet")
    planMemo.get(k) match {
      case null =>
        val df = spark.read.parquet(k._2)
        val prev = planMemo.putIfAbsent(k, df)
        if (prev == null) df else prev
      case cached => cached
    }
  }

  /** Fixture row count for index/bucket sizing (`AnnIvf.strideFor`,
    * `AnnLsh.planesFor`, `Similarity.vectorBlocksFor`, `Dedup.simhash`,
    * the `Curation.connectedComponents` node bound): the sum of the Parquet
    * footer row counts of the memoized relation's input files, read
    * in-process — no Spark job, so sizing an operator never executes
    * anything while the query is being built. */
  def countOf(spark: SparkSession, dir: String, name: String): Long =
    footers(spark, dir, name).rows

  /** Uncompressed bytes of top-level `column` in the table, from the same
    * footers as [[countOf]] (no Spark job) — the plan-time size estimate
    * behind `Dedup.estimatedShingleRows`. */
  def uncompressedBytesOf(spark: SparkSession, dir: String, name: String,
                          column: String): Long =
    footers(spark, dir, name).columnBytes.getOrElse(column, 0L)

  /** Footer totals of one table: rows, and uncompressed bytes per column. */
  private final case class Footers(rows: Long, columnBytes: Map[String, Long])

  /** Footer totals per memoized relation, under [[planMemo]]'s key and
    * immutability assumption: opening a footer costs ~10 ms a file on a
    * local file system (measured 0.5-0.8 s for the 64 files of the 64×
    * `documents` copy), and operators read these totals on every build. */
  private val footerMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Footers]()

  private def footers(spark: SparkSession, dir: String, name: String): Footers = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val k = (spark, s"$dir/$name.parquet")
    Option(footerMemo.get(k)).getOrElse {
      val conf = spark.sessionState.newHadoopConf()
      val blocks = load(spark, dir, name).inputFiles.toSeq.flatMap { p =>
        val r = ParquetFileReader.open(
          HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(p), conf))
        try r.getFooter.getBlocks.asScala finally r.close()
      }
      val f = Footers(blocks.map(_.getRowCount).sum,
        blocks.flatMap(_.getColumns.asScala)
          .groupMapReduce(_.getPath.toDotString)(_.getTotalUncompressedSize)(_ + _))
      Option(footerMemo.putIfAbsent(k, f)).getOrElse(f)
    }
  }

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Resolve every fixture of `d` into the memo, registering nothing. Kept
    * under this name because the benchmark harness (perfbench) times its
    * table resolution with it. */
  def registerViews(s: SparkSession, d: String): Unit = names.foreach(table(s, d, _))

  /** Fixture `n` as every operator reads it: [[events]] through its encoding
    * adapter, any other table straight from the memo. */
  def table(s: SparkSession, d: String, n: String): DataFrame =
    if (n == "events") events(s, d) else load(s, d, n)

  /** Run SQL `text` over the fixtures of `d`, the text Spark shares with the
    * DuckDB oracle. Each single-part table name in [[names]], in the plan,
    * its subqueries and its CTE bodies, is bound in the parsed plan to the
    * analyzed relation of [[table]], as a catalog table reference would be:
    * no temp view, no catalog lookup, and only the tables the text names are
    * resolved. Any other name (a CTE, a table the text creates) resolves
    * through the session as usual; a CTE may not reuse a fixture name, which
    * this binding would shadow. */
  def sql(s: SparkSession, d: String, text: String): DataFrame = {
    def fixture(name: String) = names.contains(name.toLowerCase(Locale.ROOT))
    def bind(plan: LogicalPlan): LogicalPlan = plan.transformUpWithSubqueries {
      case UnresolvedRelation(Seq(n), _, _) if fixture(n) =>
        SubqueryAlias(n, table(s, d, n.toLowerCase(Locale.ROOT)).queryExecution.analyzed)
      case w: UnresolvedWith => // CTE bodies are neither children nor subqueries
        require(!w.cteRelations.exists(c => fixture(c._1)),
          s"a CTE shadows a fixture table: ${w.cteRelations.map(_._1).mkString(", ")}")
        w.copy(cteRelations =
          w.cteRelations.map(c => c.copy(_2 = bind(c._2).asInstanceOf[SubqueryAlias])))
    }
    GraftSql.ofRows(s, bind(s.sessionState.sqlParser.parsePlan(text)))
  }

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** `events.ts` has shipped under several physical parquet encodings across
    * fixture generations (TIMESTAMP(NANOS) → int64 via the nanosAsLong escape
    * hatch; plain timestamp[us] with no UTC flag → TIMESTAMP_NTZ; µs with the
    * UTC flag → TIMESTAMP). Adapt on the observed schema instead of assuming
    * one encoding, and normalize every variant to session-TZ TimestampType
    * holding the same µs instants DuckDB reads from the same file (session TZ
    * is UTC on both engines, so values are identical either way). Unknown
    * encodings fail loudly here rather than as 43 downstream analysis errors. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalStateException(
        s"events.ts fixture drifted to unsupported type $other; " +
        "expected int64 nanos, TIMESTAMP_NTZ, or TIMESTAMP")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  /** NOT blanket-scattered (cf. [[Caching.scatterIfNarrow]]): a global
    * pre-scatter was A/B'd and REJECTED — it helps only consumers whose
    * per-row compute dominates (the int8 quantized scan applies it
    * locally), while the block-collect kernels pay an extra exchange of
    * full embedding arrays for nothing (simsearch_topk 0.29→0.46,
    * neardup_embedding 0.29→0.57 same-window). */
  def embeddings(s: SparkSession, d: String): DataFrame =
    load(s, d, "embeddings")
}
