package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Quantiles
import graft.functions.GeoKernel

/** Exact radix-selection quantile properties (engine for d28): the
  * order-preserving bit map's monotonicity and inverse, exactKth and
  * exactKths against a driver-side sort on adversarial doubles (negatives,
  * zeros, duplicates, subnormals, extreme magnitudes), and the shared
  * passes' job count. */
class QuantilesSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("usort bit map is strictly monotone and invertible") {
    val vs = Seq(Double.NegativeInfinity, -1e300, -123.456, -1e-310, -0.0,
      0.0, 4.9e-324, 1e-310, 0.5, 1.0, 123.456, 1e300, Double.PositiveInfinity)
    val us = vs.map(GeoKernel.doubleUsortBits)
    us.sliding(2).zip(vs.sliding(2)).foreach { case (Seq(a, b), Seq(x, y)) =>
      if (x == y) assert(a == b, s"$x/$y") // ±0 collide by design
      else assert(java.lang.Long.compareUnsigned(a, b) < 0, s"$x -> $y")
    }
    vs.filterNot(v => v == 0.0 && 1 / v < 0) // -0.0 inverts to +0.0
      .foreach(v => assert(Quantiles.fromUsortBits(GeoKernel.doubleUsortBits(v)) == v))
  }

  test("exactKth matches a driver-side sort on adversarial data") {
    import spark.implicits._
    val vs: Seq[Double] = (0 until 500).map { i =>
      ((i * 2654435761L) % 1000).toDouble - 500.0 + (i % 7) * 0.125
    } ++ Seq(-1e300, 1e300, 0.0, 0.0, -42.0, -42.0, 4.9e-324)
    val df = vs.toDF("value")
    val sorted = vs.sorted
    val ks = Seq(1, 2, 17, 253, vs.length / 2, vs.length - 1, vs.length)
    for (k <- ks) {
      assert(Quantiles.exactKth(df, "value", k.toLong) == sorted(k - 1), s"k=$k")
    }
    // several k per call, duplicates and shared prefixes included
    val many = ks ++ Seq(3, 3, 4, 254)
    assert(Quantiles.exactKths(df, "value", many.map(_.toLong)) == many.map(k => sorted(k - 1)))
  }

  test("three quantiles run the jobs of one") {
    import spark.implicits._
    val df = (0 until 2000).map(i => ((i * 7919L) % 2000).toDouble / 3.0).toDF("value")
    val sc = spark.sparkContext
    def jobsOf(ks: Seq[Long]): (Int, Seq[Double]) = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val counter = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      // earlier jobs land before the counter is attached, this call's before it is read
      org.apache.spark.sql.graft.ListenerBus.drain(sc, 10000)
      sc.addSparkListener(counter)
      val v = try {
        val r = Quantiles.exactKths(df, "value", ks)
        org.apache.spark.sql.graft.ListenerBus.drain(sc, 10000)
        r
      } finally sc.removeSparkListener(counter)
      (jobs.get, v)
    }
    val (one, v1) = jobsOf(Seq(1000L))
    val (three, v3) = jobsOf(Seq(1000L, 1800L, 1980L))
    assert(one > 0 && three == one, s"1 quantile: $one jobs, 3 quantiles: $three jobs")
    assert(v3.head == v1.head)
  }

  test("k out of range refuses loudly") {
    import spark.implicits._
    val df = Seq(1.0, 2.0, 3.0).toDF("value")
    val e = intercept[IllegalArgumentException] {
      Quantiles.exactKth(df, "value", 4L)
    }
    assert(e.getMessage.contains("exceeds"))
  }
}
