package graft.tools

import org.apache.spark.sql.SparkSession
import graft.{Queries, SparkEntry}
import graft.functions.GraftFunctions

/** Ad-hoc profiling entry: time named gate queries (and print the physical
  * plan with SPARK_GRAFT_EXPLAIN=1) against a given sf dir.
  * Usage: runMain graft.tools.Profile <sfDir> <query1> [query2 ...]
  * SPARK_GRAFT_CPUS sets the parallelism (default: the host's cores).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.get("SPARK_GRAFT_CPUS").fold(graft.Bench.hostCores)(_.toInt)}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "64"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", "/dev/shm/graft_spark")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(spark)
    val explain = sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1")
    args.tail.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      if (explain) df.explain("formatted")
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        val n = df.count()
        println(f"PROFILE $name run$i rows=$n secs=${(System.nanoTime() - t0) / 1e9}%.2f")
      }
    }
    spark.stop()
  }
}
