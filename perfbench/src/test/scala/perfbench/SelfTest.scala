package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, xxhash64}
import scala.collection.mutable

/** The benchmark's own tests. Run: python3 perfbench/test.py */
object SelfTest {
  private val failures = mutable.ArrayBuffer.empty[String]

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += name; println(s"FAIL $name: $e") }

  private def near(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    test("median of odd and even counts") {
      assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
      assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    }

    test("quartiles match Python statistics.quantiles(n=4)") {
      // statistics.quantiles([1..10], n=4) == [2.75, 5.5, 8.25]
      val (q1, q3) = Stats.quartiles((1 to 10).map(_.toDouble))
      assert(near(q1, 2.75) && near(q3, 8.25), (q1, q3))
      // statistics.quantiles([5, 1, 9], n=4) == [1.0, 5.0, 9.0]
      assert(Stats.quartiles(Seq(5.0, 1.0, 9.0)) == ((1.0, 9.0)))
      // statistics.quantiles([2, 4], n=4) == [1.5, 3.0, 4.5]
      assert(Stats.quartiles(Seq(2.0, 4.0)) == ((1.5, 4.5)))
    }

    test("p90 needs ten samples beyond it") {
      val xs99 = (1 to 99).map(_.toDouble)
      assert(Stats.percentile(xs99, 0.9).isEmpty) // rank 90 leaves 9 above
      val xs100 = (1 to 100).map(_.toDouble)
      assert(Stats.percentile(xs100, 0.9).contains(90.0)) // rank 90 leaves 10 above
      assert(Stats.percentile(xs100, 0.5).contains(50.0))
      assert(Stats.percentile(Seq(1.0, 2.0), 0.5).isEmpty)
    }

    test("checksum: swapping one duplicated row for another changes it") {
      val (a, b, c) = (0x1234567890L, -77L, 42L)
      val one = Checksum.combine(Seq(a, a, c))
      val two = Checksum.combine(Seq(b, b, c))
      assert(one.rows == two.rows)
      assert(one != two, one)
      assert((a ^ a ^ c) == (b ^ b ^ c)) // what an XOR combiner would miss
      assert(Checksum.combine(Seq(a, b, c)) == Checksum.combine(Seq(c, a, b)))
      // exact: no wrap-around at the Long boundary
      assert(Checksum.combine(Seq(Long.MaxValue, Long.MaxValue)).hashSum == BigInt(Long.MaxValue) * 2)
    }

    test("union length and self time of synthetic spans") {
      assert(Stats.unionLength(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 25.0), (21.0, 22.0))) == 20.0)
      assert(Stats.unionLength(Nil) == 0.0)
      val q = Span(1, 0, 1, "query", 0, 100)
      val jobs = Seq(Span(2, 1, 1, "job", 5, 15), Span(3, 1, 1, "job", 35, 60),
        Span(4, 1, 1, "job", 50, 90), Span(5, 1, 1, "job", 95, 120)) // last one overhangs
      // covered: [5,15] + [35,90] + [95,100] = 10 + 55 + 5
      assert(Span.selfMs(q, jobs) == 30.0, Span.selfMs(q, jobs))
      val exec = Span(6, 1, 1, "exec", 30, 100)
      assert(Span.selfMs(exec, jobs) == 10.0, Span.selfMs(exec, jobs))
      assert(Span.selfMs(exec, Nil) == 70.0)
      // driver gap: phases build [0,20] and exec [30,100]; the bookkeeping
      // gap [20,30] between them counts for neither
      val build = Span(7, 1, 1, "build", 0, 20)
      assert(Span.driverGapMs(Seq(build, exec), jobs) == 20.0, Span.driverGapMs(Seq(build, exec), jobs))
    }

    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    test("observed checksum of a frame is the combiner over its row hashes") {
      import spark.implicits._
      def of(df: org.apache.spark.sql.DataFrame): Checksum = {
        val (checked, checksum) = Checksum.observed(df)
        checked.write.format("noop").mode("overwrite").save()
        checksum()
      }
      val df = Seq((1L, "x", 2.5), (1L, "x", 2.5), (3L, null, -0.0)).toDF("k", "s", "v")
      val hashes = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*)).as[Long].collect().toSeq
      assert(of(df) == Checksum.combine(hashes))
      val swapped = Seq((3L, null, -0.0), (3L, null, -0.0), (1L, "x", 2.5)).toDF("k", "s", "v")
      assert(of(swapped) != of(df))
      // duplicate column names after a join must not break the checksum
      assert(of(df.join(df, "k")).rows == 5)
      assert(of(df.limit(0)) == Checksum(0, 0))
    }

    test("a noop write reports its own planned and executed query once") {
      val writes = new WritePlans
      spark.listenerManager.register(writes)
      spark.range(0, 1000, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count()
        .write.format("noop").mode("overwrite").save()
      spark.range(0, 10).collect() // not a write: ignored
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(writes)
      val qe = writes.take()
      assert(qe.nonEmpty)
      assert(qe.get.tracker.phases.contains("planning"), qe.get.tracker.phases.keys)
      assert(Runner.shape(qe.get.executedPlan)._1 == 1, qe.get.executedPlan)
      assert(writes.take().isEmpty)
    }

    test("jobs of 4 concurrent clients are attributed to their own query ids") {
      val trace = new Trace
      val sc = spark.sparkContext
      sc.addSparkListener(trace)
      trace.enabled = true
      val qids = (1 to 4).map(_ => trace.nextId())
      val windows = new java.util.concurrent.ConcurrentHashMap[Long, (Double, Double)]()
      val clients = qids.zipWithIndex.map { case (qid, i) =>
        val t = new Thread(() => {
          trace.tag(sc, qid, parent = qid, build = false)
          val t0 = System.currentTimeMillis().toDouble
          // client i launches i + 1 jobs, some with a broadcast join
          for (j <- 0 to i) spark.range(0, 20000, 1, 4).selectExpr(s"id % ${j + 3} AS k")
            .join(org.apache.spark.sql.functions.broadcast(spark.range(0, 5).toDF("k")), "k")
            .groupBy("k").count().write.format("noop").mode("overwrite").save()
          windows.put(qid, (t0, System.currentTimeMillis().toDouble))
        })
        t.start(); t
      }
      clients.foreach(_.join())
      org.apache.spark.PerfbenchBus.drain(sc)
      trace.enabled = false
      sc.removeSparkListener(trace)
      val jobs = trace.spans.filter(_.name.startsWith("job "))
      assert(jobs.map(_.qid).toSet == qids.toSet, jobs.map(_.qid).toSet)
      qids.zipWithIndex.foreach { case (qid, i) =>
        val mine = jobs.filter(_.qid == qid)
        assert(mine.size >= i + 1, s"client $i: ${mine.size} jobs")
        assert(trace.countersOf(qid).execJobs == mine.size)
        assert(trace.countersOf(qid).tasks > 0)
        val (a, b) = windows.get(qid)
        assert(mine.forall(s => s.start >= a - 1 && s.end <= b + 1), s"client $i job outside its window")
      }
    }

    spark.stop()
    if (failures.nonEmpty) {
      println(s"${failures.size} failed: ${failures.mkString(", ")}")
      sys.exit(1)
    }
    println("all passed")
  }
}
