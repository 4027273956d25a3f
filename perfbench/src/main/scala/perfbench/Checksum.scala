package perfbench

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.types.DecimalType

/** Order-independent output checksum: the row count and the sum of each
  * row's xxhash64 over all columns, summed as an exact decimal.
  *
  * A sum, not XOR: XOR cancels equal rows in pairs, so {a, a, c} and
  * {b, b, c} collide; the sums 2a + c and 2b + c differ unless a == b. */
final case class Checksum(rows: Long, hashSum: BigInt) {
  override def toString: String = s"$rows:$hashSum"
}

object Checksum {
  def parse(s: String): Checksum = s.split(':') match {
    case Array(r, h) => Checksum(r.toLong, BigInt(h))
    case _ => throw new IllegalArgumentException(s"malformed checksum '$s'")
  }

  /** The combiner over per-row hashes (the reference the Spark side must match). */
  def combine(rowHashes: Iterable[Long]): Checksum =
    Checksum(rowHashes.size.toLong, rowHashes.foldLeft(BigInt(0))(_ + _))

  /** 38 digits hold 2^63 summed over 10^19 rows: no overflow at any size a
    * benchmark query returns. */
  private val Sum = DecimalType(38, 0)

  /** `df` with its checksum computed as an observed metric of whatever
    * action runs it next, and the means to read the checksum after that
    * action: the checked execution is the same noop write the timed ones
    * are, plus one hash per output row. */
  def observed(df: DataFrame): (DataFrame, () => Checksum) = {
    // positional names: outputs may repeat a column name after a join
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(named.columns.map(col).toIndexedSeq: _*).cast(Sum)
    val obs = Observation()
    val out = named.observe(obs, count(lit(1)).as("rows"), sum(h).as("hash"))
    (out, () => {
      val r = obs.get
      Checksum(r("rows").asInstanceOf[Long], Option(r("hash")).fold(BigInt(0))(
        d => BigInt(d.asInstanceOf[java.math.BigDecimal].toBigInteger)))
    })
  }
}
