package perfbench

import scala.collection.mutable

/** The timed region of a run: one closed-loop client runs whole passes, each
  * in its own seeded order. With tracing, every query of a pass runs
  * untraced and traced back to back; the untraced executions give the
  * end-to-end figures the tracing overhead is measured against. */
final class Timed(runner: Runner, w: Workload, seed: Long, budgetMs: Double, tracing: Boolean) {
  val untraced = mutable.ArrayBuffer.empty[Exec]
  val traced = mutable.ArrayBuffer.empty[Exec]
  /** Per pass: the sum of its query latencies. */
  val untracedPassMs = mutable.ArrayBuffer.empty[Double]
  val tracedPassMs = mutable.ArrayBuffer.empty[Double]
  /** Wall time of the untraced passes, bookkeeping between executions included. */
  var untracedWallMs = 0.0

  /** The executions of the untimed pass that opens the region. */
  val warm = mutable.ArrayBuffer.empty[Exec]

  /** One untimed pass in list order, as the set-up pass runs, then whole
    * timed passes, at least [[Timed.MinPasses]] (one with tracing, whose
    * passes run every query twice); another starts only while it is
    * expected to end within the budget, judged by the last pass. */
  def run(): Unit = {
    warm ++= w.queries.map(runner.execute(_, w.coldCache, traced = false))
    val start = runner.clock()
    val least = if (tracing) 1 else Timed.MinPasses
    var k = 0
    var lastMs = 0.0
    while (k < least || runner.clock() - start + lastMs <= budgetMs) {
      val p0 = runner.clock()
      pass(w.order(seed, k + 1), k)
      lastMs = runner.clock() - p0
      k += 1
    }
  }

  private def pass(order: Seq[String], k: Int): Unit =
    if (!tracing) {
      val p0 = runner.clock()
      val es = order.map(runner.execute(_, w.coldCache, traced = false))
      untraced ++= es
      untracedPassMs += es.map(_.latencyMs).sum
      untracedWallMs += runner.clock() - p0
    } else {
      // each query twice in a row, untraced and traced, the order
      // alternating, so JIT warm-up and ambient load fall on both sides
      val pairs = order.zipWithIndex.map { case (q, i) =>
        val tracedFirst = (i + k) % 2 == 1
        val first = runner.execute(q, w.coldCache, tracedFirst)
        val second = runner.execute(q, w.coldCache, !tracedFirst)
        if (tracedFirst) (second, first) else (first, second)
      }
      val (u, t) = pairs.unzip
      untraced ++= u
      untracedPassMs += u.map(_.latencyMs).sum
      untracedWallMs += u.map(_.latencyMs).sum
      traced ++= t
      tracedPassMs += t.map(_.latencyMs).sum
    }
}

object Timed {
  /** Timed untraced passes per run. After the set-up pass and the untimed
    * one the JIT is still warming up, so later passes run faster; the
    * median of three is not moved by the slow first one. */
  val MinPasses = 3
}
