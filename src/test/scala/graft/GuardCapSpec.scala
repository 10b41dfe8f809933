package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{GraphOps, Polygonize, Sieve, Tile}

/** A guard cap that is not an integer is refused, naming its key, instead
  * of silently planning with the default cap. */
class GuardCapSpec extends AnyFunSuite {

  private def spark = SparkTestSession.spark

  test("malformed guard caps are refused, naming the key") {
    val s = spark
    import s.implicits._
    val tile = s.createDataset(Seq(Tile(0, 0, 0, 1, 2, 2, Array(0.0, 1.0, 1.0, 0.0))))
    val ops: Seq[(String, () => Any)] = Seq(
      "spark.graft.polygonize.maxArcPoints" -> (() => Polygonize.polygons(tile, 2).collect()),
      "spark.graft.sieve.maxClusterNodes" -> (() => Sieve.sieve(tile, 2, 2).collect()),
      "spark.graft.cc.driverLimit" ->
        (() => GraphOps.connectedComponentsAuto(Seq((1L, 2L)).toDS()).collect()),
      "spark.graft.sssp.backtrackLimit" -> (() => GraphOps.backtrackPath(
        Seq((0L, 0.0, -1L), (1L, 1.0, 0L)).toDF("node", "dist", "parent"), 0L, 1L)))
    for ((key, op) <- ops) {
      s.conf.set(key, "abc")
      try {
        val ex = intercept[IllegalArgumentException](op())
        assert(ex.getMessage.contains(key) && ex.getMessage.contains("abc"), ex.getMessage)
      } finally s.conf.unset(key)
    }
  }
}
