package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Polygonize, Tile}

/** The per-tile labeler that polygonize, sieve and nearblack share, against
  * a brute-force BFS flood fill: seeded random tiles with few values and
  * NaN pixels, at non-zero tile offsets, including 1×1, 1×N and N×1 tiles. */
class TileLabelSpec extends AnyFunSuite {

  private val shapes = Seq((1, 1), (1, 7), (7, 1), (5, 4), (9, 9), (16, 3))

  private def randomTile(rnd: scala.util.Random, w: Int, h: Int): Tile = {
    val px = Array.fill(w * h) {
      if (rnd.nextInt(10) == 0) Double.NaN else rnd.nextInt(3).toDouble
    }
    Tile(3, 1 + rnd.nextInt(3), 1 + rnd.nextInt(3), 1, w, h, px)
  }

  /** BFS from each unvisited pixel over equal-valued neighbours; returns
    * the component id (its seed pixel) of every pixel. */
  private def flood(t: Tile, conn: Int): Array[Int] = {
    val w = t.w; val h = t.h
    val steps =
      if (conn == 8) for (dy <- -1 to 1; dx <- -1 to 1 if dx != 0 || dy != 0) yield (dx, dy)
      else Seq((1, 0), (-1, 0), (0, 1), (0, -1))
    val comp = Array.fill(w * h)(-1)
    for (s <- 0 until w * h if comp(s) < 0) {
      comp(s) = s
      val queue = scala.collection.mutable.Queue(s)
      while (queue.nonEmpty) {
        val i = queue.dequeue()
        for ((dx, dy) <- steps) {
          val x = i % w + dx; val y = i / w + dy
          if (x >= 0 && x < w && y >= 0 && y < h) {
            val j = y * w + x
            if (comp(j) < 0 && t.pixels(j) == t.pixels(i)) { comp(j) = s; queue.enqueue(j) }
          }
        }
      }
    }
    comp
  }

  private def bits(v: Double): Long = java.lang.Double.doubleToLongBits(v)

  private def check(conn: Int): Unit = {
    val rnd = new scala.util.Random(20261019L + conn)
    for ((w, h) <- shapes; _ <- 0 until 8) {
      val t = randomTile(rnd, w, h)
      val width = (t.x + 2).toLong * w
      def global(i: Int): Long = (t.y.toLong * h + i / w) * width + t.x.toLong * w + i % w
      val where = s"conn=$conn ${w}x$h tile (${t.x},${t.y}) ${t.pixels.mkString(",")}"
      val comp = flood(t, conn)
      val members = (0 until w * h).groupBy(comp(_))
      val minIdx = members.map { case (c, is) => c -> is.map(global).min }

      val got = Polygonize.label(t, width, conn)
      for (i <- 0 until w * h)
        assert(got.labels(i) == minIdx(comp(i)), s"label of pixel $i, $where")

      val want = members.map { case (c, is) => (minIdx(c), bits(t.pixels(c)), is.size.toLong) }
      assert(got.comps.map(c => (c._1, bits(c._2), c._3)).sorted.toSeq == want.toSeq.sorted,
        s"components, $where")

      def col(x: Int) = (0 until h).map(_ * w + x)
      def row(y: Int) = (0 until w).map(y * w + _)
      val edges = Seq(
        (0, 0, t.x, t.y, col(w - 1)), (0, 1, t.x - 1, t.y, col(0)),
        (1, 0, t.x, t.y, row(h - 1)), (1, 1, t.x, t.y - 1, row(0)))
      val corners = Seq(
        (2, 0, t.x, t.y, Seq(w * h - 1)), (2, 1, t.x - 1, t.y - 1, Seq(0)),
        (3, 0, t.x - 1, t.y, Seq((h - 1) * w)), (3, 1, t.x, t.y - 1, Seq(w - 1)))
      val wantStrips = (if (conn == 8) edges ++ corners else edges).map {
        case (kind, owner, kx, ky, at) =>
          (kind, owner, kx, ky, at.map(i => bits(t.pixels(i))), at.map(i => minIdx(comp(i))))
      }
      val gotStrips = got.strips.toSeq.map { s =>
        assert(s.band == t.band)
        (s.kind, s.owner, s.tx, s.ty, s.values.toSeq.map(bits), s.labels.toSeq)
      }
      assert(gotStrips.sortBy(s => (s._1, s._2)) == wantStrips, s"strips, $where")
    }
  }

  test("4-connected labels, component sizes and edge strips match a BFS flood fill") {
    check(4)
  }

  test("8-connected labels, component sizes and corner strips match a BFS flood fill") {
    check(8)
  }
}
