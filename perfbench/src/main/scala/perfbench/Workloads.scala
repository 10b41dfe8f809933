package perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{GeoDocs, Knn, Manifest, SpatialJoin, Subdivide, TileJob}
import graft.functions.gf
import graft.geom.WkbPip

/** An output check failed. Counted in `failed`, never fatal to the run. */
final case class Mismatch(msg: String) extends Exception(msg)

/** A measured figure with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** One benchmark workload. A pass runs from the generated input on disk to
  * a complete result and returns its digest; the runner compares every
  * pass's digest with the reference that `verify` checked independently. */
trait Workload {
  /** Input rows one pass consumes (docs, or query points). */
  def rows: Long
  def skew: Boolean
  /** Generates the seeded inputs and writes them as parquet (tile_resume
    * also writes the finished job's state that its passes interrupt). */
  def prepare(spark: SparkSession): Unit
  def pass(spark: SparkSession, tr: Tracer): String
  /** Independent checks of a pass's output; returns the mismatches. */
  def verify(spark: SparkSession, digest: String): Seq[String]
  /** Traced run only: the workload's operator phases timed on their own. */
  def layers(spark: SparkSession, tr: Tracer): Seq[Metric]
  /** Per-pass figures beyond wall time (resume_s), as medians since the
    * last call. */
  def takeExtras(): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, seed: Long, work: String): Workload = name match {
    case "pip_skew" => new PipSkew(seed, work)
    case "tile_resume" => new TileResume(seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Order-insensitive digest of a result: row count, the sum of the low 32
    * bits of each row's xxhash64 and the xor of the full hashes. */
  def digest(df: DataFrame, cols: String*): String = {
    val h = xxhash64(cols.map(col): _*)
    val r = df.agg(count(lit(1)), sum(h.bitwiseAND(lit(0xffffffffL))), bit_xor(h)).head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0 else r.getLong(1)}:${if (r.isNullAt(2)) 0 else r.getLong(2)}"
  }

  def rowCount(digest: String): Long = digest.takeWhile(_ != ':').toLong

  def writeDocs(spark: SparkSession, seed: Long, n: Long, skew: Boolean, path: String): Unit =
    Gen.docs(spark, seed, n, skew, parts = 16).write.mode("overwrite").parquet(path)

  def docsWithGeometry(spark: SparkSession, path: String): DataFrame =
    GeoDocs.withGeometry(spark.read.parquet(path))

  def med(v: Seq[Double]): Double = {
    val s = v.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Runs a plan to completion without collecting it. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def secs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }
}

import Workload._

/** Skewed docs through span parsing and the broadcast cell PIP join, both
  * the DataFrame API (`SpatialJoin.pipJoin`) and the bare predicate join
  * that `CellJoinRule` rewrites. */
final class PipSkew(seed: Long, work: String) extends Workload {
  val rows = 120000L
  val skew = true
  val zoom = 4
  private val docsPath = s"$work/docs"

  def prepare(spark: SparkSession): Unit = writeDocs(spark, seed, rows, skew, docsPath)

  private def polysDf(spark: SparkSession) = Gen.polysDf(spark, Gen.polys)

  /** The join as users write it without the API: a predicate join that
    * Spark alone could only plan as a nested loop. */
  private def predicateJoin(g: DataFrame, p: DataFrame): DataFrame =
    g.join(p.withColumnRenamed("wkb", "poly_wkb"),
      gf.st_contains_point(col("poly_wkb"), col("lon"), col("lat")))

  def pass(spark: SparkSession, tr: Tracer): String = {
    val g = tr.span("engine.GeoDocs.withGeometry")(docsWithGeometry(spark, docsPath))
    val p = polysDf(spark)
    val api = tr.span("engine.SpatialJoin.pipJoin")(SpatialJoin.pipJoin(g, p, zoom))
    val da = tr.span("action.api_join")(digest(api, "doc_id", "poly_id", "spans"))
    val rule = tr.span("plans.predicate_join")(predicateJoin(g, p))
    val dr = tr.span("action.rule_join")(digest(rule, "doc_id", "poly_id", "spans"))
    if (da != dr) throw Mismatch(s"pipJoin $da != predicate join $dr")
    da
  }

  def verify(spark: SparkSession, d: String): Seq[String] = {
    val bad = Seq.newBuilder[String]
    val docs = spark.read.parquet(docsPath)
    val g = GeoDocs.withGeometry(docs)
    val api = SpatialJoin.pipJoin(g, polysDf(spark), zoom)
    // span-sequence equality: re-attaching each joined doc's input spans
    // must give the same digest as the spans the join carried through
    val reattached = digest(api.select("doc_id", "poly_id").join(docs, "doc_id"), "doc_id", "poly_id", "spans")
    if (reattached != d) bad += s"joined spans differ from input spans: $reattached != $d"
    // a seeded doc sample against a brute-force scan over every polygon
    val rnd = new scala.util.Random(seed)
    val sample = Seq.fill(300)(Gen.docId(rnd.nextInt(rows.toInt))).distinct
    val pts = g.where(col("doc_id").isin(sample: _*)).select("doc_id", "lon", "lat").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    if (pts.length != sample.size) bad += s"sample: ${pts.length} of ${sample.size} docs parsed"
    pts.foreach { case (id, lon, lat) =>
      val i = id.drop(4).toLong
      val (elon, elat) = Gen.point(seed, i, skew)
      val (xlon, xlat) = if (Gen.isPolygonDoc(seed, i)) (elon + 0.025, math.max(-84.9, math.min(84.9, elat)))
                         else (elon, elat)
      if (math.abs(lon - xlon) > 1e-6 || math.abs(lat - xlat) > 1e-6)
        bad += s"$id parsed at ($lon, $lat), generated at ($xlon, $xlat)"
    }
    val expected = pts.flatMap { case (id, lon, lat) =>
      Gen.polys.filter(p => WkbPip.containsPoint(p.wkb, lon, lat)).map(p => (id, p.id))
    }.toSet
    val got = api.where(col("doc_id").isin(sample: _*)).select("doc_id", "poly_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    if (got != expected)
      bad += s"sample pairs: ${(got -- expected).size} unexpected, ${(expected -- got).size} missing"
    if (expected.isEmpty) bad += "sample hit no polygon: the check would prove nothing"
    bad.result()
  }

  def layers(spark: SparkSession, tr: Tracer): Seq[Metric] = {
    val docs = spark.read.parquet(docsPath).cache()
    docs.count()
    val p = polysDf(spark)
    val reps = 2
    val parse = (1 to reps).map(_ => tr.span("engine.parse")(secs(noop(GeoDocs.withGeometry(docs)))._2))
    val g = GeoDocs.withGeometry(docs).cache()
    g.count()
    val phases = (1 to reps).map(i => tr.span("engine.join_phases")(joinPhases(spark, g, p, countCandidates = i == 1)))
    val (candidates, hits) = (phases.head.candidates.toDouble, phases.head.hits.toDouble)
    tr.count("engine.candidates", candidates); tr.count("engine.hits", hits)
    // the same join through each of the five join paths, each checked
    // against the API path's pair set
    val pairs = Seq("doc_id", "poly_id")
    val ref = digest(SpatialJoin.pipJoin(g, p, zoom), pairs: _*)
    if (rowCount(ref) != hits.toLong) throw Mismatch(s"pipJoin plan counted $hits hits, returned ${rowCount(ref)} rows")
    def path(name: String)(df: => DataFrame): Metric = {
      digest(df, pairs: _*) // warm-up: first plans compile their code
      val (d, s) = tr.span(s"engine.path_$name")(secs(digest(df, pairs: _*)))
      if (d != ref) throw Mismatch(s"join path $name: $d != $ref")
      Metric(s"engine.path_${name}_s", s, "s")
    }
    val paths = Seq(
      path("api")(SpatialJoin.pipJoin(g, p, zoom)),
      path("rule")(predicateJoin(g, p)),
      {
        spark.conf.set("spark.graft.celljoin.strategy", "exec")
        try path("exec")(predicateJoin(g, p))
        finally spark.conf.unset("spark.graft.celljoin.strategy")
      },
      path("salted")(SpatialJoin.pipJoinSalted(g, p, zoom, salt = 16, saltKey = col("doc_id"))),
      path("subdivide")(SpatialJoin.pipJoin(g, Subdivide.byCells(p, zoom).drop("cell"), zoom)
        .select("doc_id", "poly_id").distinct()))
    g.unpersist(); docs.unpersist()
    paths ++ knnProbe(spark, tr) ++ Seq(
      Metric("engine.parse_s", med(parse), "s"),
      Metric("engine.index_build_s", med(phases.map(_.indexS)), "s"),
      Metric("engine.probe_s", med(phases.map(_.probeS)), "s"),
      Metric("engine.refine_s", med(phases.map(_.refineS)), "s"),
      Metric("engine.candidates", candidates, "count"),
      Metric("engine.hits", hits, "count"),
      Metric("engine.refine_yield", if (candidates > 0) hits / candidates else 0.0, "ratio"))
  }

  private final case class Phases(indexS: Double, probeS: Double, refineS: Double,
                                  candidates: Long, hits: Long)

  /** The phases of `SpatialJoin.pipJoin` over parsed docs, taken from the
    * library's own physical plan: a broadcast of the exploded polygon
    * cover, then a broadcast hash join on the cell key (the probe) whose
    * join condition is `st_contains_point` (the refine). The plan runs
    * twice, each time freshly planned: whole, and with the refine condition
    * replaced by a constant false, so the probe still visits every
    * candidate but neither tests nor emits it. Index build is the
    * broadcast's collect and build time; probe is the refine-less plan's
    * time less the index build; refine is the whole plan's time less the
    * refine-less plan's: the point-in-polygon tests and the hits they emit.
    * Hits are the whole join's output rows. With `countCandidates`, a third
    * plan without any condition counts the candidates. A plan of another
    * shape (a new join operator) throws: the probe must then learn its
    * phases. */
  private def joinPhases(spark: SparkSession, g: DataFrame, p: DataFrame,
                         countCandidates: Boolean): Phases = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.graft.StContainsPoint
    def refines(j: BroadcastHashJoinExec) = j.condition.exists(_.exists(_.isInstanceOf[StContainsPoint]))
    // a static plan, so its operators and their metrics are the ones that run
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def plan(): SparkPlan = SpatialJoin.pipJoin(g, p, zoom).queryExecution.executedPlan
      def run(sp: SparkPlan): Double = secs(sp.execute().count())._2
      def one[T](sp: SparkPlan, what: String)(pf: PartialFunction[SparkPlan, T]): T =
        sp.collect(pf) match {
          case Seq(x) => x
          case xs => throw Mismatch(s"pipJoin plan has ${xs.size} $what, not one: ${sp.treeString}")
        }
      def refineless(cond: Option[Literal]): SparkPlan =
        plan().transform { case j: BroadcastHashJoinExec if refines(j) => j.copy(condition = cond) }
      val whole = plan()
      val wholeS = run(whole)
      val hits = one(whole, "refining joins") { case j: BroadcastHashJoinExec if refines(j) =>
        j.metrics("numOutputRows").value }
      val bare = refineless(Some(Literal.FalseLiteral))
      val bareS = run(bare)
      val indexMs = one(bare, "broadcasts") { case b: BroadcastExchangeExec =>
        b.metrics("collectTime").value + b.metrics("buildTime").value }
      val candidates = if (!countCandidates) -1L else {
        val all = refineless(None)
        all.execute().count()
        one(all, "broadcast hash joins") { case j: BroadcastHashJoinExec => j.metrics("numOutputRows").value }
      }
      Phases(indexMs / 1e3, math.max(0.0, bareS - indexMs / 1e3), math.max(0.0, wholeS - bareS), candidates, hits)
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  /** kNN (k=8) of seeded queries against the docs' points, by cell-ring
    * growth at z=10: half the queries in the hot cell, half in sparse areas
    * that need several ring-growth rounds, each round a set of small jobs
    * with a window sort. Checked on a query sample against knnBrute. */
  private def knnProbe(spark: SparkSession, tr: Tracer): Seq[Metric] = {
    import spark.implicits._
    val k = 8; val z = 10; val nq = 32
    val q = Gen.queries(seed, nq).toDF("qid", "lon", "lat")
    def pts = docsWithGeometry(spark, docsPath)
      .select(col("doc_id").as("pid"), col("lon").as("plon"), col("lat").as("plat"))
    def rowsOf(df: DataFrame) = df.select("qid", "pid", "rank", "dist_m").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getDouble(3))).toSet
    val sample = (0 until 4) ++ (nq / 2 until nq / 2 + 4)
    val got = rowsOf(Knn.knnJoin(q, pts, k, z).where(col("qid").isin(sample: _*)))
    val brute = rowsOf(Knn.knnBrute(q.where(col("qid").isin(sample: _*)), pts, k))
    if (got != brute) throw Mismatch(s"knn sample: ${(got -- brute).size} rows differ from knnBrute")
    val reps = 2
    val times = (1 to reps).map { _ =>
      // knnJoin caches its inputs and keeps the last cache: start each
      // repetition from the input on disk
      spark.catalog.clearCache()
      val (d, s) = tr.span("engine.knn")(secs(digest(Knn.knnJoin(q, pts, k, z), "qid", "pid", "rank")))
      if (rowCount(d) != nq.toLong * k) throw Mismatch(s"knn returned ${rowCount(d)} rows, not ${nq * k}")
      s
    }
    spark.catalog.clearCache()
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext) // lands the job spans
    val knnIds = tr.allSpans.filter(s => s.kind == "bench" && s.name == "engine.knn").map(_.id).toSet
    val jobs = tr.allSpans.count(s => s.kind == "job" && knnIds(s.parent))
    Seq(Metric("engine.knn_s", med(times), "s"), Metric("engine.knn_jobs", jobs.toDouble / reps, "count"))
  }
}

/** Uniform docs through tile assignment, one resumable manifest unit per
  * zoom (z11-14) holding that zoom's quadkey counts, and the z4-14 tile
  * pyramid. Set-up writes the finished job's state. A pass is an
  * interruption and what follows it: the manifest loses the rows of half
  * of the units, the job resumes through `Manifest.runResumable`, the tile
  * pyramid is recomputed, and the output is checked against the
  * uninterrupted one. */
final class TileResume(seed: Long, work: String) extends Workload {
  val rows = 30000L
  val skew = false
  private val docsPath = s"$work/docs"
  private val out = s"$work/tiles"
  /** Manifest units. Each unit costs about half a second of fixed manifest
    * and commit work whatever its size, so there are four of them, which
    * leaves time in a run for enough passes to give a steady median. */
  private val zooms = 11 to 14
  private val units = zooms.map(z => s"z$z")
  private val pyramidZooms = 4 to 14
  /** The units whose manifest rows the interruption drops: every other
    * zoom, so small and large units are both redone. */
  val dropped: Set[String] = zooms.filter(_ % 2 == 1).map(z => s"z$z").toSet
  /** (tiles, docs) per zoom, as each unit's write observed them. */
  private val seen = scala.collection.mutable.Map[Int, (Long, Long)]()
  private var uninterrupted: String = null
  private val inputFingerprint = s"seed=$seed rows=$rows"
  private val resumeS = scala.collection.mutable.ArrayBuffer[Double]()

  override def takeExtras(): Map[String, Double] = {
    val r = Map("resume_s" -> med(resumeS.toSeq)); resumeS.clear(); r
  }

  /** One unit's output: the quadkey counts of zoom z, written as parquet;
    * records (tiles, docs) as the write observed them. */
  private def writeUnit(g: DataFrame, u: String): Long = {
    val z = u.drop(1).toInt
    val obs = Observation(u)
    TileJob.assign(g, z, z)
      .withColumn("qk", gf.tile_quadkey(col("z"), col("x"), col("y")))
      .groupBy("qk").count()
      .observe(obs, count(lit(1)).as("tiles"), sum("count").as("docs"))
      .write.mode("overwrite").parquet(s"$out/$u")
    val m = obs.get
    val tiles = m("tiles").asInstanceOf[Long]
    seen(z) = (tiles, m("docs").asInstanceOf[Long])
    tiles
  }

  private def checkSums(): Unit = zooms.foreach { z =>
    if (seen(z)._2 != rows) throw Mismatch(s"z$z tile counts sum to ${seen(z)._2}, not $rows docs")
  }

  private def outputDigest(spark: SparkSession): String =
    digest(spark.read.parquet(units.map(u => s"$out/$u"): _*), "qk", "count")

  /** The uninterrupted job's end state, written unit by unit with the
    * library's own manifest records (the same state a completed
    * runResumable leaves, without its per-unit metric polling). */
  def prepare(spark: SparkSession): Unit = {
    writeDocs(spark, seed, rows, skew, docsPath)
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(out), true)
    seen.clear()
    val g = docsWithGeometry(spark, docsPath)
    units.foreach { u =>
      val (tiles, s) = secs(writeUnit(g, u))
      Manifest.recordUnit(spark, out,
        Manifest.UnitRecord("tile_resume", u, tiles, (s * 1000).toLong, inputFingerprint))
    }
    checkSums()
    uninterrupted = outputDigest(spark)
  }

  def pass(spark: SparkSession, tr: Tracer): String = {
    val g = docsWithGeometry(spark, docsPath)
    // the interruption: the manifest loses the rows of half the units
    val mp = new Path(Manifest.manifestPath(out))
    val tmp = new Path(s"$out/_manifest_kept")
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    tr.span("bench.manifest_drop") {
      spark.read.parquet(mp.toString).where(!col("unit").isin(dropped.toSeq: _*))
        .write.parquet(tmp.toString)
      fs.delete(mp, true); fs.rename(tmp, mp)
    }
    val (redone, rs) = secs(tr.span("engine.resume")(
      Manifest.runResumable(spark, out, "tile_resume", units, inputFingerprint) { u =>
        tr.span("engine.unit_write")(writeUnit(g, u))
      }))
    resumeS += rs
    tr.count("engine.units_redone", redone.size.toDouble)
    if (redone.toSet != dropped)
      throw Mismatch(s"resume redid ${redone.sorted} instead of ${dropped.toSeq.sorted}")
    checkSums()
    val pyr = tr.span("engine.TileJob.pyramidCounts")(
      TileJob.pyramidCounts(g, pyramidZooms.head, pyramidZooms.last)
        .groupBy("z").agg(count(lit(1)), sum("n")).collect())
    if (pyr.length != pyramidZooms.size) throw Mismatch(s"pyramid has ${pyr.length} zooms")
    pyr.foreach { r =>
      val (z, tiles, docs) = (r.getInt(0), r.getLong(1), r.getLong(2))
      if (docs != rows) throw Mismatch(s"pyramid z$z counts sum to $docs, not $rows docs")
      if (seen.get(z).exists(_ != (tiles, docs)))
        throw Mismatch(s"pyramid z$z (tiles, docs) = ($tiles, $docs) != unit ${seen(z)}")
    }
    val resumed = tr.span("action.output_digest")(outputDigest(spark))
    if (resumed != uninterrupted) throw Mismatch(s"resumed output $resumed != uninterrupted $uninterrupted")
    resumed
  }

  /** Bing quadkey of an XYZ tile. */
  private def quadKey(z: Int, x: Int, y: Int): String =
    (z to 1 by -1).map(i => (((x >> (i - 1)) & 1) + 2 * ((y >> (i - 1)) & 1)).toString).mkString

  def verify(spark: SparkSession, d: String): Seq[String] = {
    // the slippy-map tiles of a doc sample, computed here, must all be
    // present in the unit outputs: z13, which every pass's resume rewrites,
    // and z14, which the uninterrupted job wrote
    val rnd = new scala.util.Random(seed)
    val ids = Seq.fill(300)(rnd.nextInt(rows.toInt).toLong).distinct
    Seq(13, 14).flatMap { z =>
      val sample = ids.flatMap(tile(z, _))
      val got = spark.read.parquet(s"$out/z$z").where(col("qk").isin(sample: _*))
        .select("qk").collect().map(_.getString(0)).toSet
      val missing = sample.toSet -- got
      if (missing.nonEmpty) Seq(s"${missing.size} sampled z$z tiles missing, e.g. ${missing.head}") else Nil
    }
  }

  /** Doc i's slippy-map tile at zoom z as a quadkey, computed here from the
    * generated point, or None for docs the check cannot decide. */
  private def tile(z: Int, i: Long): Option[String] = {
    val n = 1 << z
    val (lon, lat) = Gen.point(seed, i, skew)
    val fx = (lon + 180.0) / 360.0 * n
    val r = math.toRadians(lat)
    val fy = (1.0 - math.log(math.tan(r) + 1.0 / math.cos(r)) / math.Pi) / 2.0 * n
    // points within float noise of a tile edge prove nothing either way
    if (Gen.isPolygonDoc(seed, i) || (fx - fx.floor) < 1e-6 || (fy - fy.floor) < 1e-6) None
    else Some(quadKey(z, fx.toInt, fy.toInt))
  }

  def layers(spark: SparkSession, tr: Tracer): Seq[Metric] = {
    val g = docsWithGeometry(spark, docsPath).cache()
    g.count()
    val reps = 3
    val assign = (1 to reps).map(_ => tr.span("engine.tile_assign")(secs(noop(
      TileJob.assign(g, pyramidZooms.head, pyramidZooms.last)
        .withColumn("qk", gf.tile_quadkey(col("z"), col("x"), col("y")))))._2))
    val pyramid = (1 to reps).map(_ => tr.span("engine.pyramid")(secs(noop(
      TileJob.pyramidCounts(g, pyramidZooms.head, pyramidZooms.last)))._2))
    g.unpersist()
    val spans = tr.allSpans.filter(_.kind == "bench")
    // the manifest read is what runResumable does before its first unit:
    // read the manifest and pick the pending units
    val firstWrite = spans.filter(_.name == "engine.unit_write").groupBy(_.parent)
      .map { case (p, v) => p -> v.map(_.startNs).min }
    val manifestRead = spans.filter(_.name == "engine.resume")
      .flatMap(r => firstWrite.get(r.id).map(w => (w - r.startNs) / 1e9))
    val redone = tr.allCounts.filter(_.name == "engine.units_redone").map(_.value)
    Seq(
      Metric("engine.tile_assign_s", med(assign), "s"),
      Metric("engine.pyramid_s", med(pyramid), "s"),
      Metric("engine.unit_write_s", med(tr.durations("engine.unit_write")), "s"),
      Metric("engine.manifest_read_s", med(manifestRead), "s"),
      Metric("engine.units_redone", med(redone), "count"),
    )
  }
}
