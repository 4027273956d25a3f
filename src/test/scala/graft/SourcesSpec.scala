package graft

import graft.sources.Sources

/** Container-source edge cases (round 12).
  *
  * MapFile probe routing: the round-11 advice found the old hand-rolled
  * `k.## % n` bucket arithmetic diverges from the writer's HashPartitioner
  * (java.lang.Long.hashCode) for keys outside non-negative Int range —
  * Scala's `##` for a Long that fits in Int returns the Int value, while
  * java.lang.Long.hashCode XOR-folds the halves; they coincide ONLY on
  * [0, 2^31). Fixture custkeys are positive-small so the bug was latent.
  * This spec drives the shared-partitioner round-trip with keys from every
  * regime: negative, > 2^31, Long.MinValue/MaxValue.
  */
class SourcesSpec extends SparkSpec {

  test("mapfile probe routing matches writer buckets for negative and >2^31 keys") {
    import spark.implicits._
    val keys: Seq[Long] = Seq(
      1L, 7L, 42L,
      -1L, -7L, -2147483649L,          // negative (Int and beyond-Int range)
      2147483648L, 4294967296L,        // > 2^31, > 2^32
      Long.MaxValue, Long.MinValue)
    val kv = keys.map(k => (k, s"v$k")).toDS()
    val misses: Seq[Long] = Seq(3L, -3L, 2147483647L, 9999999999L)
    val probes = (keys ++ misses).toDS()
    val got = Sources.mapfileRoundTrip(spark, kv, probes, numBuckets = 4)
      .collect().toMap
    assert(got.size === keys.size + misses.size)
    keys.foreach { k => assert(got(k) === s"v$k", s"hit expected for key $k") }
    misses.foreach { k => assert(got(k) === null, s"miss expected for key $k") }
  }

  test("har archive round-trip reads back through the real har:// filesystem") {
    import org.apache.spark.sql.functions._
    val got = Sources.scanHar(spark, sfDir).collect()
    val want = graft.Tables.nation(spark, sfDir)
      .groupBy(col("n_regionkey").cast("long").as("r_regionkey"))
      .agg(count(lit(1)).as("n_nations"),
           sum(col("n_nationkey").cast("long")).as("key_sum"),
           array_join(array_sort(collect_list(col("n_name"))), ",").as("names"))
      .orderBy("r_regionkey").collect()
    assert(got.map(_.toSeq).toSeq === want.map(_.toSeq).toSeq)
    assert(got.length === 5 && got.map(_.getAs[Long]("n_nations")).sum === 25L)
  }

  test("distributed har packer: executor tasks write their own parts, driver only the index") {
    import org.apache.spark.sql.functions._
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    // 11 entries spread over 4 partitions (one left empty on purpose via the
    // hash layout): each task packs its own part-N; the driver sees only
    // index fragments. Payloads read back bit-exact through har://.
    val files = (0 until 11).map(i => (s"doc$i.bin", s"content-$i-${"y" * (i * 3)}"))
      .toDF("name", "text")
      .select(col("name"), encode(col("text"), "UTF-8").as("payload"))
      .repartition(4, col("name"))
    val dir = java.nio.file.Files.createTempDirectory("graft_hardist").toString
    val harDir = new Path(dir, "dist.har")
    try {
      Sources.writeHarArchiveDistributed(spark, harDir, files)
      val f = harDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val parts = f.listStatus(harDir).map(_.getPath.getName).filter(_.startsWith("part-"))
      assert(parts.length > 1, s"expected >1 part file, got ${parts.toSeq}")
      val harRoot = new Path(s"har://${harDir.toUri.getPath}")
      val harFs = harRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
      (0 until 11).foreach { i =>
        val want = s"content-$i-${"y" * (i * 3)}".getBytes("UTF-8")
        val in = harFs.open(new Path(harRoot, s"doc$i.bin"))
        val buf = new Array[Byte](want.length)
        try in.readFully(0L, buf) finally in.close()
        assert(java.util.Arrays.equals(buf, want), s"payload mismatch for doc$i.bin")
      }
      // Spark reads the whole sharded archive as one relation
      val all = spark.read.text(
        harFs.globStatus(new Path(harRoot, "doc*.bin")).map(_.getPath.toString).sorted: _*)
      assert(all.count() === 11L)
    } finally deleteDir(dir)
  }

  test("har index URL-encoding round-trips hostile entry names through the real decoder") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    // names that break naive index writers: space (encodes to '+'), literal
    // '+' (must become %2B or it decodes to a space), literal '%', unicode
    val files = Seq(
      "plain.txt" -> "plain",
      "with space.txt" -> "space",
      "a+b.txt" -> "plus",
      "pct%20.txt" -> "percent",
      "café_中文.txt" -> "unicode")
      .map { case (n, v) => (n, v.getBytes("UTF-8")) }
    val dir = java.nio.file.Files.createTempDirectory("graft_harenc").toString
    val harDir = new Path(dir, "enc.har")
    try {
      Sources.writeHarArchiveDistributed(spark, harDir, files.toDF("name", "payload"))
      val harRoot = new Path(s"har://${harDir.toUri.getPath}")
      val harFs = harRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // list through the archive's root dir entry (decoder must report the
      // ORIGINAL names), then open each file and check payload bytes
      val listed = harFs.listStatus(harRoot)
        .map(_.getPath.getName).filterNot(_.startsWith("part-")).sorted
      assert(listed.toSeq === files.map(_._1).sorted)
      files.foreach { case (name, bytes) =>
        val in = harFs.open(new Path(harRoot, name))
        val buf = new Array[Byte](bytes.length)
        try in.readFully(0L, buf) finally in.close() // short reads are legal on read()
        assert(java.util.Arrays.equals(buf, bytes),
          s"payload mismatch for entry '$name'")
        val status = harFs.getFileStatus(new Path(harRoot, name))
        assert(status.getLen === bytes.length.toLong,
          s"length mismatch for entry '$name'")
      }
    } finally deleteDir(dir)
  }
}
