package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.GraphOps

/** Yen's K-shortest-paths properties the g32 DAG gate cannot cover:
  * loop avoidance on a cyclic graph, cost monotonicity, and exhaustion
  * (returns fewer than k when the path space runs dry). */
class KShortestSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("cyclic graph: paths are simple, costs ascending, exhaustion handled") {
    import spark.implicits._
    // diamond with a back edge (2 -> 0) that would allow looping
    val edges = Seq(
      (0L, 1L, 1.0), (0L, 2L, 2.5), (1L, 2L, 1.0), (2L, 3L, 1.0),
      (1L, 3L, 3.25), (2L, 0L, 0.25)
    ).toDF("src", "dst", "w")
    val paths = GraphOps.kShortestPaths(edges, 0L, 3L, 5)
    // exactly 3 simple paths exist: 0-1-2-3 (3.0), 0-2-3 (3.5), 0-1-3 (4.25)
    assert(paths.map(_._1) ==
      Seq(Seq(0L, 1L, 2L, 3L), Seq(0L, 2L, 3L), Seq(0L, 1L, 3L)))
    assert(paths.map(_._2) == Seq(3.0, 3.5, 4.25))
    paths.foreach { case (p, _) => assert(p.distinct == p, s"loop in $p") }
  }

  test("unreachable target returns empty") {
    import spark.implicits._
    val edges = Seq((0L, 1L, 1.0), (2L, 3L, 1.0)).toDF("src", "dst", "w")
    assert(GraphOps.kShortestPaths(edges, 0L, 3L, 2).isEmpty)
  }

  test("backtrack runs <=3 Spark jobs regardless of path length (no per-hop jobs)") {
    import spark.implicits._
    // a settled SSSP table for a 2000-hop chain 0 -> 1 -> ... -> 2000
    val n = 2000
    val dist = (0 to n).map(i => (i.toLong, i.toDouble, (i - 1).toLong))
      .toDF("node", "dist", "parent")
    dist.count() // materialize anything lazy before counting jobs
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val path = GraphOps.backtrackPath(dist, 0L, n.toLong).get
      Thread.sleep(300) // let queued listener events drain
      assert(path.length === n + 1)
      assert(path.head === ((0L, 0.0)) && path.last === ((n.toLong, n.toDouble)))
      assert(path.map(_._1) === (0L to n.toLong).toList)
      assert(jobs.get() <= 3, s"backtrack ran ${jobs.get()} jobs — per-hop regression")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("backtrack refuses loudly above the settled-set limit") {
    import spark.implicits._
    val dist = (0 to 100).map(i => (i.toLong, i.toDouble, (i - 1).toLong))
      .toDF("node", "dist", "parent")
    spark.conf.set("spark.graft.sssp.backtrackLimit", "50")
    try {
      val ex = intercept[IllegalStateException] {
        GraphOps.backtrackPath(dist, 0L, 100L)
      }
      assert(ex.getMessage.contains("backtrackLimit"))
    } finally spark.conf.unset("spark.graft.sssp.backtrackLimit")
  }

  test("a spur search keeps the caller's cached edges cached and never re-caches them") {
    import spark.implicits._
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val e = Seq((0L, 1L, 1.0), (1L, 2L, 1.0), (0L, 2L, 3.0), (2L, 3L, 1.0)).toDF("src", "dst", "w").cache()
    e.count()
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("cache-warnings", null, null, true, Property.EMPTY_ARRAY) {
      override def append(ev: LogEvent): Unit = warnings.add(ev.getMessage.getFormattedMessage)
    }
    val logger = LogManager.getLogger("org.apache.spark.sql.execution.CacheManager").asInstanceOf[CoreLogger]
    capture.start(); logger.addAppender(capture)
    try {
      // the first search runs on `e` itself, a spur search on `e` masked
      assert(GraphOps.ssspPath(e, 0L, 3L, Set.empty, Set.empty, 64).map(_.map(_._1)) === Some(List(0L, 1L, 2L, 3L)))
      assert(e.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
      assert(GraphOps.ssspPath(e, 0L, 3L, Set(1L), Set.empty, 64).map(_.map(_._1)) === Some(List(0L, 2L, 3L)))
      assert(e.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    } finally { logger.removeAppender(capture); capture.stop(); e.unpersist() }
    assert(!warnings.toArray.exists(_.toString.contains("already cached")), warnings)
  }
}
