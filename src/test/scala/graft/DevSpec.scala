package graft

import org.apache.spark.sql.functions.col

/** The dev harness's shared pieces: the probe checksum and the streaming
  * replay runner, driven end to end on the smallest fixture. */
class DevSpec extends SparkSpec {
  import spark.implicits._

  test("the probe checksum is a sum, so duplicate rows do not cancel") {
    // {a, a, c} and {b, b, c}: an XOR of row hashes gives c for both
    val aac = Seq(1L, 1L, 3L).toDF("x")
    val bbc = Seq(2L, 2L, 3L).toDF("x")
    assert(Dev.checksum(aac, Seq("x")) != Dev.checksum(bbc, Seq("x")))
    assert(Dev.checksum(aac, Seq("x"))._1 == 3L)
    assert(Dev.checksum(aac.where(col("x") < 0), Seq("x")) == ((0L, java.math.BigDecimal.ZERO)))
  }

  test("Dev stream neardup: the replayed stream's checksum equals its batch twin's") {
    val scratch = java.nio.file.Files.createTempDirectory("graft_dev").toString
    try {
      val cells = Dev.stream(spark, Seq("neardup", "1"), Map(
        "SPARK_GRAFT_SF_DIR" -> sfDir, "SPARK_GRAFT_SCALE_DIR" -> scratch,
        "SPARK_GRAFT_STREAM_SLICES" -> "2"))
      assert(cells.map(_.tag) == Seq("stream"))
      cells.foreach { c =>
        assert(c.got._1 > 0, s"${c.tag}: empty output")
        assert(c.equal, s"${c.tag}: stream ${c.got} vs batch twin ${c.ref}")
      }
    } finally deleteDir(scratch)
  }
}
