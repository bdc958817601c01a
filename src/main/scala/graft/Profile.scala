package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Measurement harness for the optimization rounds: run named queries
  * and report, per query, wall seconds alongside scheduler-level counts
  * (jobs, stages, tasks, summed task time, shuffle bytes) from a
  * SparkListener. At demo scale the data is tiny, so entries dominated
  * by fixed overhead show up as high job/stage counts with low task
  * time; entries dominated by real compute show the opposite. Usage:
  *   runMain graft.Profile <name>[,<name>...] [sfDir] [iters]
  * Output: one `[prof]` line per (query, iter) — iter 1 is cold.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val queryNames = args(0).split(',').toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val iters = if (args.length > 2) args(2).toInt else 2
    val cpus = GraftConf.envInt("SPARK_GRAFT_CPUS", 4)
    val spark = GraftSession.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskNanos = new AtomicLong
    val shuffleRead = new AtomicLong
    val shuffleWrite = new AtomicLong
    val traceJobs = sys.env.contains("SPARK_GRAFT_PROF_TRACE")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (traceJobs) {
          val desc = Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")
          val site = j.stageInfos.map(_.name).mkString(" | ")
          println(s"[job] ${j.jobId} stages=${j.stageInfos.size} " +
            s"tasks=${j.stageInfos.map(_.numTasks).sum} site=$site desc=$desc")
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskMetrics != null)
          taskNanos.addAndGet(t.taskMetrics.executorRunTime * 1000000L)
      }
    })

    queryNames.foreach { name =>
      (1 to iters).foreach { i =>
        Seq(jobs, stages, tasks).foreach(_.set(0))
        Seq(taskNanos, shuffleRead, shuffleWrite).foreach(_.set(0))
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
        val wall = (System.nanoTime() - t0) / 1e9
        // listener bus is async — give it a beat to drain before reading
        // the counters (poll until the task count stops moving)
        var last = -1
        while (tasks.get != last) { last = tasks.get; Thread.sleep(150) }
        println(f"[prof] $name iter $i: wall=$wall%.2fs jobs=${jobs.get} " +
          f"stages=${stages.get} tasks=${tasks.get} " +
          f"taskTime=${taskNanos.get / 1e9}%.2fs " +
          f"shufR=${shuffleRead.get / 1024}KB shufW=${shuffleWrite.get / 1024}KB")
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      }
    }
    spark.stop()
  }
}
