package graft.engine

import org.apache.spark.sql.Dataset

/** Distributed sieve filter: raster polygons (4- or 8-connected
  * equal-value components) smaller than a threshold are absorbed into their
  * largest neighbor, smallest-first, until none remain (SURVEY.md §2.G
  * `sieve`; connectivity option as in the reference's nPolyConnectedness).
  *
  * Reference: GDALSieveFilter (/root/reference/alg/gdalsievefilter.cpp:178)
  * — polygon enumeration + merge-into-largest-neighbor. Semantics here
  * (documented, deterministic): iterate smallest component first (ties by
  * label); absorb into the neighbor with the largest size (ties by label);
  * absorbed pixels take the absorber's value; components that become
  * same-value adjacent coalesce. Isolated small components are kept.
  *
  * Distribution: per-tile labels and border strips from the shared labeler
  * (`Polygonize.label`); cross-tile same-value union + cross-value
  * adjacency from `Polygonize.stripEdges`, in-tile cross-value adjacency
  * from a pass over the labels; the component graph resolves
  * via GraphOps.connectedComponentsAuto and the sequential `mergePolicy`
  * runs per independent cluster of the merge subgraph, in parallel on
  * executors (exactly equivalent to the global sequential order — see
  * `sieve`). Output raster is invariant to the tiling.
  */
object Sieve {

  /** Pure merge policy over the component graph. Returns label → final
    * value after all merges. */
  def mergePolicy(comps0: Map[Long, (Double, Long)],
                  edges0: Set[(Long, Long)], threshold: Long): Map[Long, Double] = {
    val value = scala.collection.mutable.HashMap[Long, Double](comps0.map { case (l, vs) => l -> vs._1 }.toSeq: _*)
    val size = scala.collection.mutable.HashMap[Long, Long](comps0.map { case (l, vs) => l -> vs._2 }.toSeq: _*)
    val adj = scala.collection.mutable.HashMap[Long, scala.collection.mutable.Set[Long]]()
    def link(a: Long, b: Long): Unit = {
      if (a != b) {
        adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
        adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
      }
    }
    edges0.foreach { case (a, b) => link(a, b) }
    // alias: absorbed label -> surviving label
    val alias = scala.collection.mutable.HashMap[Long, Long]()
    def find(l: Long): Long = {
      var r = l
      while (alias.contains(r)) r = alias(r)
      r
    }
    def mergeInto(src: Long, dst: Long): Unit = {
      alias(src) = dst
      size(dst) = size(dst) + size(src)
      size.remove(src); value.remove(src)
      val srcAdj = adj.remove(src).getOrElse(scala.collection.mutable.Set.empty)
      srcAdj.foreach { n0 =>
        val n = find(n0)
        adj.get(n).foreach(_.remove(src))
        if (n != dst) link(n, dst)
      }
      adj.get(dst).foreach(_.remove(src))
    }
    def coalesceSameValue(l: Long): Unit = {
      var changed = true
      while (changed) {
        changed = false
        val ns = adj.getOrElse(l, scala.collection.mutable.Set.empty)
          .map(find).filter(n => n != l && value.get(n) == value.get(l))
        if (ns.nonEmpty) {
          // absorb same-value neighbors into the smaller label
          ns.toSeq.sorted.foreach { n =>
            if (find(n) != find(l)) {
              val keep = math.min(l, n); val drop = math.max(l, n)
              // keep label min for determinism; value identical
              if (keep == l) mergeInto(drop, l)
              else { mergeInto(l, keep); return coalesceSameValue(keep) }
              changed = true
            }
          }
        }
      }
    }
    val frozen = scala.collection.mutable.Set[Long]()
    var done = false
    while (!done) {
      val cand = size.iterator
        .filter { case (l, s) => s < threshold && !frozen(l) }
        .toSeq.sortBy { case (l, s) => (s, l) }
      if (cand.isEmpty) done = true
      else {
        val (c, _) = cand.head
        val ns = adj.getOrElse(c, scala.collection.mutable.Set.empty)
          .map(find).filter(_ != c)
        if (ns.isEmpty) frozen += c
        else {
          val target = ns.toSeq.sortBy(n => (-size.getOrElse(n, 0L), n)).head
          mergeInto(c, target)
          coalesceSameValue(target)
        }
      }
    }
    // resolve every original label to its final value
    comps0.keys.map(l => l -> value(find(l))).toMap
  }

  /** Sieve a tiled raster; returns the rewritten tiles. `width` = global
    * raster width in pixels.
    *
    * Scale shape: fully distributed — nothing O(pixels), O(perimeter), or
    * O(components) is forced through the driver. Cross-tile same-value
    * merges resolve via GraphOps.connectedComponentsAuto (driver union-find
    * only while the edge list fits the budget). The absorb policy itself is
    * inherently sequential, but it only interacts within a connected
    * cluster of the merge subgraph (sub-threshold components + their
    * incident edges + their neighbors' stats): merges in one cluster never
    * change sizes or adjacency in another, so the global smallest-first
    * order restricted to a cluster equals running the policy on that
    * cluster alone. Clusters are therefore computed distributively and the
    * EXACT sequential `mergePolicy` runs per cluster in parallel on
    * executors (cogroup). The rewrite routes changed labels back to their
    * owning tiles with a cogroup — no global broadcast. */
  def sieve(tiles: Dataset[Tile], width: Long, threshold: Long,
            conn: Int = 4): Dataset[Tile] = {
    require(conn == 4 || conn == 8, s"connectivity must be 4 or 8, got $conn")
    val spark = tiles.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val maxCluster = GraphOps.guardCap(spark, "spark.graft.sieve.maxClusterNodes", 1000000L)
    val t0 = tiles.cache()

    val per = t0.map { t =>
      val tl = Polygonize.label(t, width, conn)
      (t.x, t.y, tl.comps, diffAdjacency(t, tl.labels, conn), tl.strips)
    }.cache()
    per.count() // materialize once; several downstream consumers

    // cross-tile edges from facing border strips, tagged same-value or not:
    // perimeter-proportional
    val crossEdges = Polygonize.stripEdges(per.flatMap(_._5), conn).distinct().cache()

    // same-value cross-tile merge → label→root mapping (Dataset; driver
    // fast path under spark.graft.cc.driverLimit, hash-min beyond)
    val rootDs = GraphOps.connectedComponentsAuto(
        crossEdges.filter(_._1).map(e => (e._2, e._3)))
      .toDF("lbl", "rt").cache()

    // raw per-tile components with their owning tile (for the rewrite)
    val rawComps = per.flatMap(p => p._3.iterator.map(c => (p._1, p._2, c._1, c._2, c._3)))
      .toDF("tx", "ty", "label", "value", "size").cache()

    // global component stats, aggregated distributively on root labels
    val rooted = rawComps
      .join(rootDs, rawComps("label") === rootDs("lbl"), "left")
      .select(coalesce(col("rt"), col("label")).as("label"),
        col("value"), col("size"))
    val compStats = rooted.groupBy("label")
      .agg(min("value").as("value"), sum("size").as("size")).cache()

    // diff-value adjacency on roots, deduped distributively
    val diffEdges = per.flatMap(_._4.iterator)
      .union(crossEdges.filter(!_._1).map(e => (e._2, e._3)))
      .toDF("a0", "b0")
      .join(rootDs.select(col("lbl").as("a0"), col("rt").as("ra")), Seq("a0"), "left")
      .join(rootDs.select(col("lbl").as("b0"), col("rt").as("rb")), Seq("b0"), "left")
      .select(coalesce(col("ra"), col("a0")).as("x"), coalesce(col("rb"), col("b0")).as("y"))
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .where(col("a") =!= col("b")).distinct().cache()

    // merge subgraph: edges with at least one sub-threshold endpoint
    val smallIds = compStats.where(col("size") < threshold).select("label").cache()
    val touching = diffEdges
        .join(smallIds.withColumnRenamed("label", "a"), Seq("a"), "left_semi")
        .select("a", "b")
      .unionByName(diffEdges
        .join(smallIds.withColumnRenamed("label", "b"), Seq("b"), "left_semi")
        .select("a", "b"))
      .distinct().as[(Long, Long)].cache()

    // independent clusters of the merge subgraph; the exact sequential
    // policy runs per cluster, in parallel (see scale note above)
    val clusters = GraphOps.connectedComponentsAuto(touching)
      .toDF("label", "cluster").cache()
    val nodeStats = compStats.join(clusters, Seq("label"))
      .select(col("cluster"), col("label"), col("value"), col("size"))
      .as[(Long, Long, Double, Long)]
    val edgeC = touching.toDF("a", "b")
      .join(clusters.select(col("label").as("a"), col("cluster")), Seq("a"))
      .select(col("cluster"), col("a"), col("b")).as[(Long, Long, Long)]
    val thr = threshold
    // Adversarial-cluster guard: a checkerboard of sub-threshold components
    // makes ONE merge cluster = the whole raster, and the (inherently
    // sequential, reference-semantics) mergePolicy would run as a single
    // giant executor task. Same contract as the LSH hot-bucket cap:
    // report-and-refuse, never a silent degradation.
    val changedDs = nodeStats.groupByKey(_._1).cogroup(edgeC.groupByKey(_._1)) { (_, ns, es) =>
      val comps0 = ns.map(n => n._2 -> (n._3, n._4)).toMap
      if (comps0.size > maxCluster)
        throw new IllegalStateException(
          s"sieve merge cluster has ${comps0.size} components > " +
          s"spark.graft.sieve.maxClusterNodes=$maxCluster; the smallest-first " +
          "absorb order is sequential within a cluster (GDALSieveFilter " +
          "semantics, alg/gdalsievefilter.cpp:178), so this would run as one " +
          "giant executor task — raise the cap explicitly if intended")
      val edges0 = es.map(e => (e._2, e._3)).toSet
      val fv = mergePolicy(comps0, edges0, thr)
      fv.iterator.filter { case (l, v) => comps0(l)._1 != v }
    }.toDF("rlabel", "newval").cache()

    // rewrite: route changed root labels back to the tiles that hold a
    // member component, cogroup, and rewrite pixels locally
    val tileChanges = rawComps.select("tx", "ty", "label")
      .join(rootDs, rawComps("label") === rootDs("lbl"), "left")
      .select(col("tx"), col("ty"), col("label"),
        coalesce(col("rt"), col("label")).as("rlabel"))
      .join(changedDs, Seq("rlabel"))
      .select(col("tx"), col("ty"), col("label"), col("newval"))
      .as[(Int, Int, Long, Double)]

    val out = t0.groupByKey(t => (t.x, t.y))
      .cogroup(tileChanges.groupByKey(r => (r._1, r._2))) { (_, ts, cs) =>
        val m = new java.util.HashMap[Long, java.lang.Double]()
        cs.foreach(c => m.put(c._3, c._4))
        ts.map { t =>
          if (m.isEmpty) t
          else {
            val lbl = Polygonize.label(t, width, conn).labels
            val px = t.pixels.clone()
            var i = 0
            while (i < px.length) {
              val nv = m.get(lbl(i))
              if (nv != null) px(i) = nv
              i += 1
            }
            Tile(t.z, t.x, t.y, t.band, t.w, t.h, px)
          }
        }
      }
    out
  }

  /** In-tile label edges between adjacent pixels of different value
    * (4- or 8-connected), each (min label, max label), deduplicated. */
  private def diffAdjacency(t: Tile, lbl: Array[Long], conn: Int): Array[(Long, Long)] = {
    val w = t.w; val h = t.h
    val adj = scala.collection.mutable.HashSet[(Long, Long)]()
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val i = y * w + x
        def diffEdge(j: Int): Unit =
          if (t.pixels(i) != t.pixels(j))
            adj += ((math.min(lbl(i), lbl(j)), math.max(lbl(i), lbl(j))))
        if (x + 1 < w) diffEdge(i + 1)
        if (y + 1 < h) diffEdge(i + w)
        if (conn == 8) {
          if (x + 1 < w && y + 1 < h) diffEdge(i + w + 1)
          if (x > 0 && y + 1 < h) diffEdge(i + w - 1)
        }
        x += 1
      }
      y += 1
    }
    adj.toArray
  }
}
