package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Persistent-metastore catalog round trip (SURVEY.md §2.12; the Hive-
  * warehouse semantics of the reference surface [H]: a table CREATEd in one
  * session is visible BY NAME to every later session).
  *
  * `sql_create_insert` exercises the DDL lifecycle through the in-memory
  * session catalog; this main proves the *persistent* variant: phase
  * `write` creates a partitioned table through a Hive-backed catalog
  * (derby metastore + fixed warehouse dir) and exits; phase `read` is a
  * brand-new JVM over the same metastore path that resolves the table by
  * name, partition-prunes it, and recomputes an aggregate. SqlSurfaceSpec
  * drives both phases as separate processes — a genuine restart, not a
  * `newSession()` that shares SharedState.
  */
object CatalogRoundtrip {
  val TableName = "graft_orders_persist"

  def session(base: String): SparkSession =
    Sessions.builder(
      "spark.sql.warehouse.dir" -> s"$base/warehouse",
      // metastore db under the same base dir: the catalog's entire state
      // lives on disk, so a later JVM sees exactly what this one committed
      "javax.jdo.option.ConnectionURL" ->
        s"jdbc:derby:;databaseName=$base/metastore_db;create=true")
      .enableHiveSupport()
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: CatalogRoundtrip write|read <baseDir> <sfDir>")
    val Array(phase, base, sfDir) = args.take(3)
    val s = session(base)
    s.sparkContext.setLogLevel("ERROR")
    phase match {
      case "write" =>
        s.sql(s"DROP TABLE IF EXISTS $TableName")
        Tables.orders(s, sfDir)
          .where(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
          .write.mode("overwrite").partitionBy("o_orderpriority")
          .format("parquet").saveAsTable(TableName)
        // table + column statistics into the metastore: the CBO surface.
        // rowCount/sizeInBytes feed join-side size estimates; column NDVs
        // feed CostBasedJoinReorder at a real 100 TB warehouse.
        s.sql(s"ANALYZE TABLE $TableName COMPUTE STATISTICS")
        s.sql(s"ANALYZE TABLE $TableName COMPUTE STATISTICS FOR ALL COLUMNS")
        println(s"[roundtrip] wrote ${s.table(TableName).count()} rows")
      case "read" =>
        val df = s.table(TableName).where(col("o_orderpriority") === "1-URGENT")
        val n = df.count()
        val plan = df.queryExecution.executedPlan.toString
        // partition pruning must reach the catalog table's scan: the filter
        // appears as a PartitionFilters entry, not a post-scan Filter
        val pruned = plan.contains("PartitionFilters: [") &&
          plan.linesIterator.exists(l =>
            l.contains("PartitionFilters") && l.contains("o_orderpriority"))
        // CBO leg: the ANALYZE stats written by the FIRST JVM must reach
        // this one's optimizer through the metastore. With cbo on, the
        // catalog relation's estimate carries the analyzed rowCount; with
        // AQE off, the planner's broadcast decision is made STATICALLY from
        // exactly those stats — a stats-driven BroadcastHashJoin, the
        // optimizer surface ANALYZE exists to feed (AQE would re-derive
        // sizes at runtime and prove nothing about the metastore path).
        s.conf.set("spark.sql.cbo.enabled", "true")
        s.conf.set("spark.sql.adaptive.enabled", "false")
        val persisted = s.table(TableName)
        val statsRows = persisted.queryExecution.optimizedPlan.stats.rowCount
        val statsOk = statsRows.exists(_.longValue == s.table(TableName).count())
        val probe = s.read.parquet(s"$sfDir/lineitem.parquet")
        val joined = probe.join(persisted, probe("l_orderkey") === col("o_orderkey"))
        val joinPlan = joined.queryExecution.executedPlan.toString
        val statsBroadcast = joinPlan.contains("BroadcastHashJoin")
        println(s"[roundtrip] read $n rows pruned=$pruned " +
          s"statsRowCount=$statsOk statsBroadcast=$statsBroadcast")
      case other => sys.error(s"unknown phase $other")
    }
    s.stop()
  }
}
