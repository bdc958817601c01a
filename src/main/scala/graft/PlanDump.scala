package graft

import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Dump `explain("formatted")` for named queries to per-query files —
  * the optimization rounds' plan-evidence format
  * (`plans/r18/<query>_before.txt` / `..._after.txt`).
  * Usage: runMain graft.PlanDump <outDir> <suffix> <name>[,<name>...] [sfDir]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(',').toSeq
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.001"
    val cpus = GraftConf.envInt("SPARK_GRAFT_CPUS", 4)
    val spark = GraftSession.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), txt)
      println(s"wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
