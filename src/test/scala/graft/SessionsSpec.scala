package graft

import scala.jdk.CollectionConverters._

/** One session factory: every tool and the test suite run the same engine
  * settings, and no other session builder or dev main creeps back in. */
class SessionsSpec extends SparkSpec {

  test("a factory session carries the Bench settings") {
    val n = Sessions.cpus
    assert(spark.sparkContext.master == s"local[$n]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == n.toString)
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "256k")
  }

  test("SPARK_GRAFT_EXTRA_CONF pairs apply last, over the defaults and the caller's pairs") {
    val conf = new org.apache.spark.SparkConf(false).setAll(Sessions.settings(
      Seq("spark.sql.warehouse.dir" -> "/caller"),
      Seq("spark.sql.shuffle.partitions" -> "7", "spark.sql.warehouse.dir" -> "/extra",
          "spark.io.compression.codec" -> "zstd")))
    assert(conf.get("spark.sql.shuffle.partitions") == "7")
    assert(conf.get("spark.sql.warehouse.dir") == "/extra")
    assert(conf.get("spark.io.compression.codec") == "zstd")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
  }

  private def sources(dir: String): Seq[java.nio.file.Path] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally s.close()
  }

  test("graft.Sessions is the only session builder, and the only mains are Bench, Verify, CatalogRoundtrip and Dev") {
    val builderCall = "SparkSession" + ".builder" // split: this file must not match itself
    val builders = sources("src").filter(p =>
      java.nio.file.Files.readString(p).contains(builderCall)).map(_.getFileName.toString)
    assert(builders == Seq("Sessions.scala"))
    val mains = sources("src/main/scala").filter(p =>
      java.nio.file.Files.readString(p).contains("def main(")).map(_.getFileName.toString)
    assert(mains.toSet == Set("Bench.scala", "Verify.scala", "CatalogRoundtrip.scala", "Dev.scala"))
  }
}
