package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.{Op, Q, Sql, Tables}

/** §2.9 `mr_streaming_udf` mapping, UDAF leg: user-defined aggregation as a
  * typed `Aggregator[IN, BUF, OUT]` — the reduce-side analog of a Hadoop
  * Streaming reducer, but running inside the JVM with partial aggregation
  * (combiner semantics) supplied by the framework via reduce/merge.
  *
  * Determinism: prices are exact 2-decimal doubles, so the buffer carries
  * integer cents and integer quantities — merge order cannot change the
  * result, exactly like the decimal strategy in graft.Dsl.
  */
object TypedUdaf {
  case class PriceQty(price: Double, qty: Double)
  case class WAvgBuf(centsQty: Long, qty: Long)

  /** Quantity-weighted average price, exact until the final division. */
  object WeightedAvgPrice extends Aggregator[PriceQty, WAvgBuf, Double] {
    override def zero: WAvgBuf = WAvgBuf(0L, 0L)
    override def reduce(b: WAvgBuf, in: PriceQty): WAvgBuf = {
      val cents = math.round(in.price * 100) // exact: inputs are 2dp
      val q = in.qty.toLong                  // exact: integer-valued doubles
      WAvgBuf(b.centsQty + cents * q, b.qty + q)
    }
    override def merge(a: WAvgBuf, b: WAvgBuf): WAvgBuf =
      WAvgBuf(a.centsQty + b.centsQty, a.qty + b.qty)
    override def finish(b: WAvgBuf): Double =
      if (b.qty == 0) 0.0 else b.centsQty.toDouble / 100.0 / b.qty
    override def bufferEncoder: Encoder[WAvgBuf] = Encoders.product[WAvgBuf]
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Per-returnflag quantity-weighted average extended price, via the
    * untyped-udaf bridge (the registration path SQL users would also get). */
  val udafWeightedAvg: Q = (s, d) => {
    val wavg = udaf(WeightedAvgPrice)
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(graft.Dsl.round6(
        wavg(col("l_extendedprice"), col("l_quantity"))).as("wavg_price"))
  }

  val udafWeightedAvgSql: String =
    s"""SELECT l_returnflag,
       |  ${graft.Dsl.round6Sql(
             "cast(sum(cast(round(l_extendedprice * 100) as bigint) * cast(l_quantity as bigint)) as double)" +
             " / 100.0 / sum(cast(l_quantity as bigint))")} AS wavg_price
       |FROM lineitem
       |GROUP BY l_returnflag""".stripMargin

  /** Registered SORT-FREE (round 15, tranche 3): three group rows. */
  val ops: Seq[Op] = Seq(
    Op("udaf_weighted_avg", udafWeightedAvg, Sql(udafWeightedAvgSql), Seq("l_returnflag")),
  )
}
