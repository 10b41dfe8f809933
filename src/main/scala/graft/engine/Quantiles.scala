package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, gf}

/** EXACT order statistics of a double column without a global sort — the
  * k-th smallest of 10^12 values in four bounded aggregation passes.
  *
  * Method: values map to [[graft.functions.GeoKernel.doubleUsortBits]]
  * (a long whose unsigned order equals the double order), and the k-th
  * element's 64 bits are found 16 bits at a time — each round is ONE
  * distributed aggregation counting the ≤65536 possible next digits among
  * rows that match the prefix fixed so far, after which the driver picks
  * the digit whose cumulative count crosses k. Driver state is bounded by
  * construction (≤2^16 counters per round, 4 rounds); no sample, no
  * sort shuffle, no approximation — the selection-by-radix classic
  * (Blum et al.-era selection, radix flavor), which is what "exact p99 of
  * a 100-TB column" has to look like when a global sort is off the table.
  *
  * Many quantiles share the passes (`exactKths`): each round's one
  * aggregation is keyed by (prefix, digit), so p50/p90/p99 together cost
  * the 4 aggregations of one quantile.
  */
object Quantiles {

  /** Inverse of doubleUsortBits. */
  def fromUsortBits(u: Long): Double = {
    val s = u ^ java.lang.Long.MIN_VALUE
    val bits = if (s >= 0) s else java.lang.Long.MIN_VALUE - s
    java.lang.Double.longBitsToDouble(bits)
  }

  /** Exact k-th smallest (1-based) value of `valueCol`. Throws if k is
    * out of range. NaNs, if present, order above +Infinity (IEEE bit
    * order); nulls are excluded by the expression's null semantics. */
  def exactKth(df: DataFrame, valueCol: String, k: Long): Double =
    exactKths(df, valueCol, Seq(k)).head

  /** `exactKth` for each of `ks`, in shared passes: each of the 4 rounds
    * is one aggregation keyed by (prefix fixed so far, next digit) over the
    * rows that match any quantile's prefix, so any number of quantiles
    * costs the 4 aggregations of one. Driver state: ≤2^16 counters per
    * distinct prefix per round. */
  def exactKths(df: DataFrame, valueCol: String, ks: Seq[Long]): Seq[Double] = {
    ks.foreach(k => require(k >= 1, s"exactKth: k=$k must be >= 1"))
    GraftFunctions.register(df.sparkSession)
    val us = df.select(
      gf.double_usort_bits(col(valueCol).cast("double")).as("u"))
      .where(col("u").isNotNull)
    val prefix = Array.fill(ks.length)(0L)
    val kk = ks.toArray
    for (r <- 0 until 4) {
      val shift = 48 - 16 * r
      // the digits fixed so far; round 0 has none (a 64-bit shift is no shift)
      val hi = if (r == 0) lit(0L) else shiftrightunsigned(col("u"), shift + 16)
      val counts = us.where(hi.isin(prefix.distinct.toSeq: _*))
        .groupBy(hi.as("p"), shiftrightunsigned(col("u"), shift)
          .bitwiseAND(lit(0xffffL)).as("d"))
        .agg(count(lit(1)).as("c"))
        .collect() // ≤ 2^16 rows per distinct prefix by construction
        .map(row => (row.getLong(0), row.getLong(1), row.getLong(2)))
        .sortBy(_._2)
      for (q <- ks.indices) {
        // the next digit is the one whose cumulative count reaches k
        val ds = counts.filter(_._1 == prefix(q))
        val cum = ds.scanLeft(0L)(_ + _._3).tail
        val i = cum.indexWhere(kk(q) <= _)
        require(i >= 0, s"exactKth: k=${ks(q)} exceeds the row count; refusing")
        if (i > 0) kk(q) -= cum(i - 1)
        prefix(q) = (prefix(q) << 16) | ds(i)._2
      }
    }
    prefix.toSeq.map(fromUsortBits)
  }
}
