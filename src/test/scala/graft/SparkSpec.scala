package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs; sf0.001 fixtures for speed. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSpec.session

  /** Flatten a physical plan, descending through AQE wrappers — typed node
    * collection instead of toString substring matching (round-7 ADVICE #4).
    * Execute the DataFrame first if the final AQE plan is wanted. */
  def flattenPlan(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case other                    => other.children
    }
    p +: kids.flatMap(flattenPlan)
  }

  /** Run `body` with the session confs `kv` set, restoring them afterwards. */
  def withConf[A](kv: (String, String)*)(body: => A): A =
    Confs.withConf(spark, kv: _*)(body)

  /** Recursive delete for test-scoped scratch dirs (fixture copies written
    * by individual tests must not leak a parquet per run — round-7 advice). */
  def deleteDir(path: String): Unit =
    Util.deleteRecursively(new java.io.File(path))

  override def afterAll(): Unit = {
    // session is shared across suites; do not stop it here
    super.afterAll()
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Sessions.builder("spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
