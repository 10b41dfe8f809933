package graft.engine

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ListenerBus
import scala.collection.mutable

/** Task/stage execution metrics captured per job section — the "metrics"
  * half of the north rule's per-partition lineage + metrics. GDAL's analog
  * is the progress/ETA plumbing of the tile fan-out workers
  * (/root/reference/apps/gdalalg_raster_tile.cpp:70-78 pipe markers); on
  * Spark the scheduler already measures everything, we just snapshot it
  * per resumable unit and persist it with the manifest row. */
object Metrics {

  case class TaskStats(nTasks: Long, recordsRead: Long, bytesRead: Long,
                       shuffleReadBytes: Long, shuffleWriteBytes: Long,
                       runTimeMs: Long, peakMemory: Long) {
    def +(o: TaskStats): TaskStats = TaskStats(
      nTasks + o.nTasks, recordsRead + o.recordsRead, bytesRead + o.bytesRead,
      shuffleReadBytes + o.shuffleReadBytes, shuffleWriteBytes + o.shuffleWriteBytes,
      runTimeMs + o.runTimeMs, math.max(peakMemory, o.peakMemory))
    def toJson: String =
      s"""{"n_tasks":$nTasks,"records_read":$recordsRead,"bytes_read":$bytesRead,""" +
        s""""shuffle_read_bytes":$shuffleReadBytes,"shuffle_write_bytes":$shuffleWriteBytes,""" +
        s""""run_time_ms":$runTimeMs,"peak_memory":$peakMemory}"""
  }
  object TaskStats { val zero: TaskStats = TaskStats(0, 0, 0, 0, 0, 0, 0) }

  private final class Recorder extends SparkListener {
    val acc = new java.util.concurrent.atomic.AtomicReference(TaskStats.zero)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        val s = TaskStats(1, m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.executorRunTime, m.peakExecutionMemory)
        var cur = acc.get
        while (!acc.compareAndSet(cur, cur + s)) cur = acc.get
      }
    }
  }

  /** Run `f`, returning its result plus the aggregated task metrics of all
    * Spark work it scheduled. The listener bus is asynchronous, but the
    * scheduler queues every task-end event of a job before its action
    * returns, so draining the bus is a barrier: before `f`, so earlier
    * jobs' events stay out of the stats, and after `f`, so all of `f`'s are
    * in. Each drain waits at most 2 s; past that the stats hold what has
    * landed. */
  def measure[T](spark: SparkSession)(f: => T): (T, TaskStats) = {
    val sc = spark.sparkContext
    val rec = new Recorder
    ListenerBus.drain(sc, 2000)
    sc.addSparkListener(rec)
    try {
      val out = f
      ListenerBus.drain(sc, 2000)
      (out, rec.acc.get)
    } finally sc.removeSparkListener(rec)
  }
}
