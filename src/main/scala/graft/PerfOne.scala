package graft

import org.apache.spark.sql.SparkSession

/** Perf-iteration helper: run named queries N times each against a sf
  * dir and print per-iteration wall seconds (first = cold, rest = warm).
  * Usage: runMain graft.PerfOne <name>[,<name>...] [sfDir] [iters]
  */
object PerfOne {
  def main(args: Array[String]): Unit = {
    val queryNames = args(0).split(',').toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val iters = if (args.length > 2) args(2).toInt else 3
    val cpus = GraftConf.envInt("SPARK_GRAFT_CPUS", 4)
    val spark = GraftSession.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    queryNames.foreach { name =>
      (1 to iters).foreach { i =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
        println(f"[perf] $name iter $i: ${(System.nanoTime() - t0) / 1e9}%.2fs")
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      }
    }
    spark.stop()
  }
}
