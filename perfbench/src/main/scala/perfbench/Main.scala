package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.functions.GraftFunctions

/** One benchmark run of one workload: closed loop, one client, passes back
  * to back on local[p_hi].
  *
  *   set-up (x3, median)  session start, seeded generation, parquet write,
  *                        discarded warm-up pass
  *   verify               independent checks of the warm-up output
  *   window p_hi          passes; wall time, rows/s, peak memory. In the
  *                        traced run every other pass is traced: spans and
  *                        the listeners' figures
  *   layers               (traced run) the workload's phase probes and the
  *                        kernel micro-loops
  *   passes p_lo          (traced run) three of the same passes in a fresh
  *                        local[p_lo] session, for scaling efficiency
  *
  * Prints `metric <name> <value> <unit>` lines and one `RESULT {...}` line;
  * perfbench/run.py turns these into the benchmark's result.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, pHi: Int, pLo: Int)

  final case class PassRec(wall: Double, ok: Boolean, traced: Boolean, stats: PassStats, gcMs: Long,
                           plans: Seq[PlanListener#Q])

  private val Setups = 3
  private val MinPasses = 3
  private val ScalingPasses = 3

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"), need("p-hi").toInt, need("p-lo").toInt)
  }

  def session(p: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$p]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", p * 4)
      // the 16 input files split into ~1 MB scan tasks at every p, so both
      // scaling levels read the same task layout
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftFunctions.register(s)
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val work = s"${o.work}/${o.workload}"
    val wl = Workload(o.workload, o.seed, work)
    var spark: SparkSession = null
    val tr = new Tracer(() => spark.sparkContext)
    var listener: RunListener = null
    var attempted = 0
    var failed = 0
    val problems = scala.collection.mutable.ArrayBuffer[String]()
    def fail(msg: String): Unit = { failed += 1; if (problems.size < 20) problems += msg; System.err.println(s"FAIL $msg") }

    val t00 = System.nanoTime()
    def note(msg: String): Unit =
      System.err.println(f"perfbench: ${(System.nanoTime() - t00) / 1e9}%6.1f s  $msg")

    def start(p: Int): Unit = {
      if (spark != null) spark.stop()
      spark = session(p, work)
      listener = new RunListener(tr)
      spark.sparkContext.addSparkListener(listener)
    }

    var ref: String = null
    val plans = new PlanListener
    /** One checked pass. A traced pass records spans and the planner's
      * figures; the listeners' figures are read after the bus drains. */
    def onePass(traced: Boolean = false): PassRec = {
      tr.pass += 1
      attempted += 1
      tr.enabled = traced
      if (traced) spark.listenerManager.register(plans)
      val gc0 = Gc.ms()
      val t0 = System.nanoTime()
      val ok = try {
        val d = wl.pass(spark, tr)
        if (ref == null) ref = d
        if (d != ref) { fail(s"pass ${tr.pass}: digest $d != reference $ref"); false } else true
      } catch { case e: Exception => fail(s"pass ${tr.pass}: $e"); false }
      val wall = (System.nanoTime() - t0) / 1e9
      val st = listener.take(spark.sparkContext)
      tr.enabled = false
      val q = if (traced) { spark.listenerManager.unregister(plans); plans.take() } else Nil
      PassRec(wall, ok, traced, st, Gc.ms() - gc0, q)
    }
    /** Passes for `budget` seconds. The first 40% of the time (at least one
      * pass) lets the JIT finish warming the pass's code and is discarded:
      * pass times still fall for several passes after set-up. With
      * `alternate`, every other pass is traced, so traced and untraced
      * passes see the same JVM state and the gap between them is the
      * tracing overhead. */
    def window(budget: Double, alternate: Boolean = false): Seq[PassRec] = {
      def run(secs: Double, min: Int): Seq[PassRec] = {
        val t0 = System.nanoTime()
        val out = scala.collection.mutable.ArrayBuffer[PassRec]()
        while (out.size < min || (System.nanoTime() - t0) / 1e9 < secs)
          out += onePass(traced = alternate && out.size % 2 == 1)
        out.toSeq
      }
      val warm = run(budget * 0.4, 1)
      wl.takeExtras()
      note(s"warm-up passes: ${warm.map(r => "%.2f".format(r.wall)).mkString(" ")}")
      run(budget * 0.6, if (alternate) 2 * MinPasses else MinPasses)
    }

    import Workload.med
    val metrics = scala.collection.mutable.LinkedHashMap[String, Metric]()
    def put(name: String, v: Double, unit: String): Unit = metrics(name) = Metric(name, v, unit)

    try {
      // set-up, repeated: the first includes the JVM's cold start
      val setups = (1 to Setups).map { i =>
        val t0 = System.nanoTime()
        start(o.pHi)
        wl.prepare(spark)
        val ok = onePass().ok
        val s = (System.nanoTime() - t0) / 1e9
        note(s"set-up $i: ${"%.2f".format(s)} s")
        if (i == 1 && ok) {
          attempted += 1
          wl.verify(spark, ref).foreach(fail)
        }
        s
      }
      put("setup_s", med(setups), "s")

      val hostA = HostLoad.snap()
      val measured = window(if (o.trace) o.seconds * 0.6 else o.seconds, alternate = o.trace)
      val hi = measured.filterNot(_.traced)
      val hostB = HostLoad.snap()
      val (ext, stall) = HostLoad.between(hostA, hostB)
      val wallHi = med(hi.map(_.wall))
      note(s"window p${o.pHi}: ${measured.map(r => "%.2f".format(r.wall) + (if (r.traced) "t" else "")).mkString(" ")}")
      put("wall_s", wallHi, "s")
      put("wall_passes", hi.size, "count")
      put("input_rows_per_s", wl.rows / wallHi, "rows/s")
      put("exec_mem_peak_mb", med(hi.map(_.stats.peakMem / 1048576.0)), "MB")
      wl.takeExtras().foreach { case (k, v) => put(k, v, "s") }
      put("host.ext_busy_cores", ext, "cores")
      put("host.stall_cores", stall, "cores")

      if (o.trace) {
        val t = measured.filter(_.traced)
        val wallT = med(t.map(_.wall))
        put("trace.wall_s", wallT, "s")
        put("trace.untraced_wall_s", wallHi, "s")
        put("trace.overhead", wallT / wallHi - 1.0, "ratio")
        val tasks = t.flatMap(_.stats.taskMs).sorted
        // interpolated between order statistics: task times are whole ms
        def pct(q: Double) = if (tasks.isEmpty) 0.0 else {
          val x = q * (tasks.size - 1); val i = x.toInt
          tasks(i) + (x - i) * (tasks(math.min(i + 1, tasks.size - 1)) - tasks(i))
        }
        def perPass(f: PassRec => Double) = med(t.map(f))
        // Spark's phase and GC clocks tick in whole ms: a mean over the
        // traced passes keeps the digits a per-pass median would round off
        def meanPerPass(f: PassRec => Double) = t.map(f).sum / t.size
        put("spark.analysis_ms", meanPerPass(_.plans.map(_.analysisMs).sum), "ms")
        put("spark.optimization_ms", meanPerPass(_.plans.map(_.optimizationMs).sum), "ms")
        put("spark.planning_ms", meanPerPass(_.plans.map(_.planningMs).sum), "ms")
        // generated code is cached JVM-wide, so compiling happens in the
        // first set-up; this is the whole run's compile time
        put("spark.codegen_compile_ms", CodeGenerator.compileTime / 1e6, "ms")
        put("spark.jobs", perPass(_.stats.jobs), "count")
        put("spark.tasks", perPass(_.stats.tasks), "count")
        put("spark.task_ms_p50", pct(0.5), "ms")
        put("spark.task_ms_p99", pct(0.99), "ms")
        put("spark.cpu_busy_ratio", t.map(_.stats.cpuNs).sum / 1e9 / (t.map(_.wall).sum * o.pHi), "ratio")
        put("spark.shuffle_write_mb", perPass(_.stats.shuffleWrite / 1048576.0), "MB")
        put("spark.shuffle_read_mb", perPass(_.stats.shuffleRead / 1048576.0), "MB")
        put("spark.spill_mb", perPass(_.stats.spill / 1048576.0), "MB")
        put("spark.broadcast_mb", perPass(_.plans.map(_.broadcastBytes).sum / 1048576.0), "MB")
        put("spark.gc_ms", meanPerPass(_.gcMs.toDouble), "ms")
        put("spark.task_failures", t.map(_.stats.failures).sum, "count")
        put("plans.celljoin_rule_ms", perPass(_.plans.map(_.ruleMs).sum), "ms")
        put("functions.interpreted_exprs", perPass(_.plans.map(_.interpreted).sum.toDouble), "count")
        attempted += 1
        tr.enabled = true
        try wl.layers(spark, tr).foreach(m => metrics(m.name) = m)
        catch { case e: Exception => fail(s"layer probes: $e") }
        tr.enabled = false
        note("layer probes done")
        val kin = Kernels.inputs(o.seed, wl.skew, Gen.polys, 4096)
        Kernels.run(kin).foreach { case (n, v) => put(n, v, "ns") }
        Files.write(Paths.get(s"${o.work}/trace_${o.workload}_seed${o.seed}.json"),
          tr.toJson.getBytes(StandardCharsets.UTF_8))

        // scaling: the same passes on the same input in a fresh local[p_lo]
        // session. tile_resume is largely bound by fixed per-job cost and the
        // p_lo median has only three passes, so this ratio swings more from
        // run to run than an end-to-end bound allows; it is reported here,
        // by layer.
        // The JIT is warm and generated code is cached JVM-wide; the new
        // session's first pass can still be slower, and the median of three
        // passes leaves it out.
        start(o.pLo)
        val lo = Seq.fill(ScalingPasses)(onePass())
        val wallLo = med(lo.map(_.wall))
        note(s"window p${o.pLo}: ${lo.map(r => "%.2f".format(r.wall)).mkString(" ")}")
        put("scaling.wall_lo_s", wallLo, "s")
        put("scaling_eff", wallLo / (wallHi * o.pHi.toDouble / o.pLo), "ratio")
      }
    } catch {
      case e: Exception => attempted += 1; fail(s"run aborted: $e"); e.printStackTrace()
    } finally {
      if (spark != null) spark.stop()
    }

    metrics.values.foreach(m => println(s"metric ${m.name} ${Json.num(m.value)} ${m.unit}"))
    val ms = metrics.values.map(m => s"${Json.str(m.name)}:{\"value\":${Json.num(m.value)},\"unit\":${Json.str(m.unit)}}")
    println(s"""RESULT {"attempted":$attempted,"failed":$failed,"problems":[${problems.map(Json.str).mkString(",")}],""" +
      s""""metrics":{${ms.mkString(",")}}}""")
    System.out.flush()
    sys.exit(0)
  }
}
