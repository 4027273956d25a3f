package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Fixture-drift tripwire (round-8 postmortem).
  *
  * The driver regenerates /root/testdata between rounds and has changed
  * physical encodings before (round 8: events.ts went TIMESTAMP(NANOS) →
  * timestamp[us], silently breaking 43 queries at analysis time). This suite
  * pins the expected Spark-read schema of all 10 fixture tables so any future
  * drift fails ONE loud test naming the exact table and column, instead of
  * surfacing as dozens of skipped Verify entries.
  *
  * Timestamp-bearing columns accept the small set of encodings the loaders
  * handle (int64 nanos / TIMESTAMP_NTZ / TIMESTAMP): all are normalized (or
  * pass through) to identical µs instants under the UTC session TZ.
  */
class FixtureSchemaSpec extends SparkSpec {

  private val tsVariants: Set[DataType] =
    Set(LongType, TimestampNTZType, TimestampType)

  /** expected fields per table: name -> acceptable data types */
  private val expected: Map[String, Seq[(String, Set[DataType])]] = Map(
    "region" -> Seq(
      "r_regionkey" -> Set(IntegerType), "r_name" -> Set(StringType)),
    "nation" -> Seq(
      "n_nationkey" -> Set(IntegerType), "n_name" -> Set(StringType),
      "n_regionkey" -> Set(IntegerType)),
    "customer" -> Seq(
      "c_custkey" -> Set(LongType), "c_name" -> Set(StringType),
      "c_nationkey" -> Set(IntegerType), "c_acctbal" -> Set(DoubleType),
      "c_mktsegment" -> Set(StringType)),
    "supplier" -> Seq(
      "s_suppkey" -> Set(LongType), "s_name" -> Set(StringType),
      "s_nationkey" -> Set(IntegerType), "s_acctbal" -> Set(DoubleType)),
    "part" -> Seq(
      "p_partkey" -> Set(LongType), "p_name" -> Set(StringType),
      "p_brand" -> Set(StringType), "p_type" -> Set(StringType),
      "p_size" -> Set(IntegerType), "p_retailprice" -> Set(DoubleType)),
    "orders" -> Seq(
      "o_orderkey" -> Set(LongType), "o_custkey" -> Set(LongType),
      "o_orderstatus" -> Set(StringType), "o_totalprice" -> Set(DoubleType),
      "o_orderdate" -> tsVariants, "o_orderpriority" -> Set(StringType)),
    "lineitem" -> Seq(
      "l_orderkey" -> Set(LongType), "l_partkey" -> Set(LongType),
      "l_suppkey" -> Set(LongType), "l_linenumber" -> Set(IntegerType),
      "l_quantity" -> Set(DoubleType), "l_extendedprice" -> Set(DoubleType),
      "l_discount" -> Set(DoubleType), "l_tax" -> Set(DoubleType),
      "l_returnflag" -> Set(StringType), "l_linestatus" -> Set(StringType),
      "l_shipdate" -> tsVariants),
    "events" -> Seq(
      "event_id" -> Set(LongType), "ts" -> tsVariants,
      "user_id" -> Set(LongType), "event_type" -> Set(StringType),
      "value" -> Set(DoubleType), "props" -> Set(StringType)),
    "documents" -> Seq(
      "doc_id" -> Set(LongType), "text" -> Set(StringType),
      "lang" -> Set(StringType), "source" -> Set(StringType),
      "n_chars" -> Set(LongType)),
    "embeddings" -> Seq(
      "vec_id" -> Set(LongType),
      "embedding" -> Set(ArrayType(FloatType, containsNull = true),
                         ArrayType(FloatType, containsNull = false)),
      "label" -> Set(IntegerType))
  )

  test("fixture tables match the pinned schemas (drift tripwire)") {
    // nanosAsLong must be on so a TIMESTAMP(NANOS) regeneration reads as
    // LongType (an accepted variant) instead of throwing in the scan.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val problems = Tables.names.flatMap { t =>
      val actual = Tables.load(spark, sfDir, t).schema
      val exp = expected(t)
      val nameDrift =
        if (actual.fields.map(_.name).toSeq != exp.map(_._1))
          Seq(s"$t: column names drifted — expected ${exp.map(_._1).mkString(",")} " +
              s"got ${actual.fields.map(_.name).mkString(",")}")
        else Seq.empty
      val typeDrift = exp.flatMap { case (name, ok) =>
        actual.fields.find(_.name == name) match {
          case Some(f) if ok.contains(f.dataType) => None
          case Some(f) => Some(s"$t.$name: type drifted to ${f.dataType} " +
                               s"(accepted: ${ok.mkString(" | ")})")
          case None => Some(s"$t.$name: column missing")
        }
      }
      nameDrift ++ typeDrift
    }
    assert(problems.isEmpty,
      s"\nFIXTURE DRIFT DETECTED — update the loaders in Tables.scala AND " +
      s"this tripwire:\n${problems.mkString("\n")}")
  }

  test("every loader in Tables analyzes against the current fixtures") {
    // The round-8 outage was an ANALYSIS-time error inside Tables.events that
    // Verify silently skipped. Force-analyze every loader so a drifted
    // encoding the tripwire's accepted-set misses still fails here, loudly.
    Tables.names.foreach { t =>
      val df = Tables.table(spark, sfDir, t)
      df.queryExecution.assertAnalyzed()
      assert(df.limit(1).count() == 1, s"$t: fixture is empty")
    }
  }

  test("events loader handles all three known ts encodings + fails loudly on drift") {
    // The real fixture currently ships ONE encoding; synthesize the others so
    // every branch of the adaptive loader stays covered when the driver next
    // changes the generator (int64 nanos was the rounds-≤7 encoding, NTZ is
    // the round-8+ one, UTC-flagged µs is the plain Spark write-out).
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.expr
    val dir = java.nio.file.Files.createTempDirectory("graft_events_enc").toString
    try {
      val base = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L // µs
      def rows(f: Long => Any) = (0 until 4).map(i =>
        Row(i.toLong, f(base + i * 1000000L), i.toLong % 2, "view", i.toDouble, "{}"))
      def schema(tsType: DataType) = StructType(Seq(
        StructField("event_id", LongType), StructField("ts", tsType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType)))

      def write(sub: String, tsType: DataType, f: Long => Any): String = {
        val d = s"$dir/$sub"
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows(f), 1), schema(tsType))
          .write.mode("overwrite").parquet(s"$d/events.parquet")
        d
      }
      val wantUtc = (0 until 4).map(i => s"2024-01-01 00:00:0$i")

      // (a) int64 nanos (rounds ≤7): loader must divide to µs
      val nanosDir = write("nanos", LongType, us => us * 1000L)
      val a = Tables.events(spark, nanosDir)
      assert(a.schema("ts").dataType == TimestampType)
      assert(a.select(expr("date_format(ts, 'yyyy-MM-dd HH:mm:ss')")).collect()
        .map(_.getString(0)).sorted.toSeq == wantUtc)

      // (b) UTC-flagged µs timestamp (plain Spark write-out): pass-through
      val tzDir = write("tz", TimestampType,
        us => java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(us * 1000L)))
      val b = Tables.events(spark, tzDir)
      assert(b.schema("ts").dataType == TimestampType)
      assert(b.select(expr("date_format(ts, 'yyyy-MM-dd HH:mm:ss')")).collect()
        .map(_.getString(0)).sorted.toSeq == wantUtc)

      // (c) NTZ µs (round 8+): covered against the REAL fixture by the parity
      // probe below; here pin the synthetic one too for branch completeness
      val ntzDir = write("ntz", TimestampNTZType,
        us => java.time.LocalDateTime.ofEpochSecond(
          us / 1000000L, ((us % 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC))
      val c = Tables.events(spark, ntzDir)
      assert(c.schema("ts").dataType == TimestampType)
      assert(c.select(expr("date_format(ts, 'yyyy-MM-dd HH:mm:ss')")).collect()
        .map(_.getString(0)).sorted.toSeq == wantUtc)

      // (d) anything else must fail loudly AT LOAD, naming the type
      val strDir = write("str", StringType, us => us.toString)
      val e = intercept[IllegalStateException](Tables.events(spark, strDir))
      assert(e.getMessage.contains("events.ts fixture drifted"))
    } finally deleteDir(dir)
  }

  test("events ts normalization preserves instants (oracle parity probe)") {
    // DuckDB reads timestamp[us] as raw µs instants; with the UTC session TZ,
    // Spark's NTZ→TIMESTAMP cast must keep the identical wall-clock values.
    // String renderings are TZ-rendering-free on both types, so value-equal
    // readings ⇔ identical string sets.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawDf = Tables.load(spark, sfDir, "events")
    val raw = rawDf.schema("ts").dataType match {
      // int64-nanos generation: the µs truth is the stored nanos div 1000
      case LongType => rawDf.select(col("event_id"),
        org.apache.spark.sql.functions.expr(
          "cast(timestamp_micros(ts div 1000) as string)").as("s"))
      case _ => rawDf.select(col("event_id"), col("ts").cast("string").as("s"))
    }
    val loaded = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts").cast("string").as("s"))
    assert(loaded.exceptAll(raw).isEmpty && raw.exceptAll(loaded).isEmpty,
      "events.ts normalization changed instant values vs the raw fixture read")
  }
}
