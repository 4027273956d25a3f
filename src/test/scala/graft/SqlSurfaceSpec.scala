package graft

import org.apache.spark.sql.functions._

/** §2.12 SQL-dialect surface + the round-4 additions: plan-shape proofs for
  * subquery decorrelation, value pins for the fixture-independent queries,
  * and the quantization error bound.
  */
class SqlSurfaceSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("correlated EXISTS decorrelates to a semi join (no per-row probe)") {
    val p = plan(SparkEntry.queries("sql_exists_correlated")(spark, sfDir))
    assert(p.contains("LeftSemi"), p)
  }

  test("nested IN subqueries decorrelate to semi joins") {
    val p = plan(SparkEntry.queries("sql_in_subquery")(spark, sfDir))
    assert(p.contains("LeftSemi") && !p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("scalar subquery evaluates once as a subquery plan, not a join") {
    val df = SparkEntry.queries("sql_scalar_subquery")(spark, sfDir)
    assert(plan(df).contains("Subquery"))
    assert(df.count() > 0)
  }

  test("catalog DDL round-trip: partition filter prunes the catalog scan") {
    // run the operator once so the table exists in the session catalog
    val result = SparkEntry.queries("sql_create_insert")(spark, sfDir)
    assert(result.count() == 2)
    // the read-back's partition-column filter must reach the scan as a
    // PartitionFilters entry (pruned directory listing), not a row filter
    val p = spark.table("graft_orders_ddl")
      .where(col("o_orderpriority") === "1-URGENT")
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("1-URGENT"), p)
    // partitioned layout on disk: one directory per priority value
    val catalogRows = spark.table("graft_orders_ddl").count()
    val sourceRows = Tables.orders(spark, sfDir)
      .where(col("o_orderstatus") === "F").count()
    assert(catalogRows == sourceRows)
  }

  test("GROUP BY ALL expands to the explicit grouping") {
    val viaAll = SparkEntry.queries("sql_group_by_all")(spark, sfDir).collect().toSeq
    Tables.registerViews(spark, sfDir)
    val explicit = spark.sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |  cast(sum(cast(l_quantity as bigint)) as bigint) AS sum_qty
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin).collect().toSeq
    assert(viaAll == explicit)
  }

  test("named WINDOW clause: both specs resolve into a single Window node") {
    val df = SparkEntry.queries("sql_window_clause")(spark, sfDir)
    val p = plan(df)
    val windowNodes = p.linesIterator.count(_.contains(" Window ["))
    assert(windowNodes == 1,
      s"same partitioning+ordering must share one Window exec, got $windowNodes:\n$p")
    assert(df.count() > 0)
  }

  test("unpivot plans as a map-side Expand (no extra shuffle)") {
    val df = graft.operators.Aggregates.aggUnpivot(spark, sfDir)
    val p = plan(df)
    assert(p.contains("Expand"), p)
    // exactly the aggregation's exchanges + the final sort — the unpivot
    // itself adds none: Expand sits above the aggregate, below any new shuffle
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 3, s"unpivot added shuffles:\n$p")
  }

  test("LATERAL join: correlated LIMIT yields the alphabetical top-2 per region") {
    val rows = SparkEntry.queries("sql_lateral_join")(spark, sfDir).collect()
    val perRegion = rows.groupBy(_.getString(0))
    assert(perRegion.values.forall(_.length <= 2))
    Tables.registerViews(spark, sfDir)
    val expect = spark.sql(
      """SELECT r_name, n_name FROM (
        |  SELECT r_name, n_name,
        |    row_number() OVER (PARTITION BY r_regionkey ORDER BY n_name) AS rk
        |  FROM region JOIN nation ON n_regionkey = r_regionkey)
        |WHERE rk <= 2 ORDER BY r_name, n_name""".stripMargin).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq == expect)
  }

  test("recursive CTE computes exact bigint factorials") {
    val rows = SparkEntry.queries("sql_recursive_cte")(spark, sfDir).collect()
    assert(rows.length == 20)
    assert(rows.last.getInt(0) == 20 && rows.last.getLong(1) == 2432902008176640000L)
  }

  test("mr_pi counts the quarter-circle lattice exactly") {
    val r = SparkEntry.queries("mr_pi")(spark, sfDir).collect()(0)
    assert(r.getLong(0) == 786380L)
    assert(math.abs(r.getDouble(1) - 3.14552) < 1e-12)
  }

  test("lateral view explode equals the API-side wordcount plan family") {
    // both are Generate-based token pipelines; the SQL spelling must parse
    // to a Generate node (the UDTF idiom), not a join
    val df = SparkEntry.queries("sql_lateral_explode")(spark, sfDir)
    assert(df.queryExecution.optimizedPlan.toString.contains("Generate"))
    val top = df.collect()
    assert(top.nonEmpty && top.map(_.getLong(1)).toSeq == top.map(_.getLong(1)).toSeq.sorted.reverse)
  }

  test("TRANSFORM USING pipes rows through a real subprocess") {
    val df = SparkEntry.queries("sql_transform_script")(spark, sfDir)
    assert(plan(df).contains("ScriptTransformation"), plan(df))
    assert(df.count() == 25)
  }

  test("DISTRIBUTE BY / SORT BY plans a hash exchange + partition sort") {
    val df = SparkEntry.queries("sql_distribute_sort")(spark, sfDir)
    assert(plan(df).contains("hashpartitioning(user_id"), plan(df))
  }

  test("fs_checksum yields one distinct digest per shard and is stable") {
    val a = SparkEntry.queries("fs_checksum")(spark, sfDir).collect()
    val b = SparkEntry.queries("fs_checksum")(spark, sfDir).collect()
    assert(a.toSeq == b.toSeq)                       // deterministic
    assert(a.map(_.getString(2)).distinct.length == a.length) // shards differ
    assert(a.forall(_.getString(2).length == 64))    // sha256 hex
  }

  test("int8 quantization reconstruction error is bounded by scale/254") {
    // symmetric round-to-nearest: |x - q*scale/127| <= scale/(2*127) per dim,
    // so the per-vector MAE must respect the same bound
    val rows = SparkEntry.queries("llm_embedding_quantize")(spark, sfDir)
      .select(col("scale"), col("mae")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (scale, mae) = (r.getDouble(0), r.getDouble(1))
      assert(mae <= scale / 254.0 + 1e-12, s"mae=$mae scale=$scale")
    }
  }

  test("quantized-scan rerank recovers nearly all of the exact top-5") {
    val exact = SparkEntry.queries("llm_simsearch_topk")(spark, sfDir)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = SparkEntry.queries("llm_simsearch_quantized")(spark, sfDir)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & quant).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall=$recall")
  }

  test("blocked quantized scan == theta-join spelling, row for row") {
    // the registered blocked-kernel path must reproduce the declared
    // |Q|·n theta-join spelling exactly: same shortlist (per-block exact
    // top-R is a superset of the global top-R; the merge window applies the
    // same score-desc/id-asc order), same re-rank, same rounding
    import graft.llm.AnnQuantized
    // registered sort-free (round 15): impose the compare order in-test
    val blocked = SparkEntry.queries("llm_simsearch_quantized")(spark, sfDir)
      .orderBy("q_id", "rk").collect().map(_.toSeq).toSeq
    val exact = AnnQuantized.simsearchQuantizedExact(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(blocked == exact)
  }

  test("quantized vectors stay in int8 range") {
    val qs = SparkEntry.queries("llm_embedding_quantize")(spark, sfDir)
      .select(col("qstr")).collect()
    qs.foreach { r =>
      val vals = r.getString(0).split("\\|").map(_.toInt)
      assert(vals.forall(v => v >= -127 && v <= 127))
    }
  }

  test("catalog persists across JVM restarts (derby metastore + fixed warehouse)") {
    // a REAL restart: two separate JVMs over the same metastore path. A
    // newSession() would share SharedState (and thus the in-memory catalog),
    // proving nothing about persistence — so each phase is its own process.
    val base = java.nio.file.Files.createTempDirectory("graft_cat").toString
    def launch(phase: String): String = {
      val javaBin = new java.io.File(
        new java.io.File(sys.props("java.home"), "bin"), "java").getAbsolutePath
      val opens = Seq(
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
      ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
      val cmd = (Seq(javaBin) ++ opens ++ Seq(
        "-Xmx2g", "-cp", sys.props("java.class.path"),
        "graft.CatalogRoundtrip", phase, base, sfDir)).toArray
      val p = new ProcessBuilder(cmd: _*)
        .directory(new java.io.File(base)) // derby.log lands here, not in cwd
        .redirectErrorStream(true).start()
      val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
      assert(p.waitFor() == 0, s"$phase phase failed:\n${out.takeRight(4000)}")
      out
    }
    val expected = Tables.orders(spark, sfDir)
      .where(col("o_orderstatus") === "F").count()
    val urgent = Tables.orders(spark, sfDir)
      .where(col("o_orderstatus") === "F" && col("o_orderpriority") === "1-URGENT")
      .count()
    assert(launch("write").contains(s"[roundtrip] wrote $expected rows"))
    // the second JVM must see the table BY NAME, with partition pruning
    // reaching the scan, agree with the fixture on the row count, see the
    // first JVM's ANALYZE statistics through the metastore (CBO rowCount),
    // and make a STATIC stats-driven broadcast decision (AQE off)
    assert(launch("read").contains(s"[roundtrip] read $urgent rows pruned=true " +
      "statsRowCount=true statsBroadcast=true"))
  }

  test("fs_ls lists the fixture directory as java.nio sees it") {
    // the rows-only bound of fs_ls: (name, bytes, is_dir) of every entry,
    // in name order, straight from the OS
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val listed = SparkEntry.queries("fs_ls")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSeq
    val stream = Files.list(Paths.get(sfDir))
    val expected =
      try stream.iterator.asScala.map { p =>
        (p.getFileName.toString, Files.size(p), Files.isDirectory(p))
      }.toSeq.sortBy(_._1)
      finally stream.close()
    assert(expected.nonEmpty)
    assert(listed == expected)
  }

  test("mr_randomwriter writes 1000 rows, every uniform draw in [0, 1]") {
    val r = SparkEntry.queries("mr_randomwriter")(spark, sfDir).collect().toSeq
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n") == 1000L)
    assert(r.head.getAs[Long]("in_range") == r.head.getAs[Long]("n"))
  }
}
