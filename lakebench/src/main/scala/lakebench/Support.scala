package lakebench

import java.io.File
import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Heap still in use after full collections, in MiB. */
  def retainedHeapMb: Double = {
    System.gc(); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

object Fs {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  /** (files, bytes) under `dir`, hidden files included. */
  def usage(dir: String): (Long, Long) = {
    def walk(f: File): Iterator[File] =
      if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(walk)
      else Iterator(f)
    walk(new File(dir)).foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + f.length) }
  }

  /** Data files only: parquet files outside metadata directories. */
  def dataUsage(dir: String): (Long, Long) = {
    def walk(f: File): Iterator[File] =
      if (f.isDirectory) Option(f.listFiles()).iterator.flatten
        .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith(".")).flatMap(walk)
      else Iterator(f)
    walk(new File(dir)).filter(_.getName.endsWith(".parquet"))
      .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + f.length) }
  }
}

/** CPU time of the program's own threads. The sum over live Java
  * threads leaves out the JIT compiler and GC threads, whose work in a
  * young JVM swings from run to run, and, on a guest with steal-time
  * accounting, the time the host gave to other guests.
  */
object AppCpu {
  private val mx = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU ns of every live Java thread, by thread id. */
  def snapshot(): Map[Long, Long] =
    mx.getAllThreadIds.map(id => id -> mx.getThreadCpuTime(id)).filter(_._2 >= 0).toMap

  /** CPU ms spent since `before`; a thread started since counts in full,
    * one that ended since is lost.
    */
  def msSince(before: Map[Long, Long]): Double =
    snapshot().map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum / 1e6
}

/** Per-layer metrics every workload reports from its traced half. */
object Layers {
  /** Every per-layer metric name, in BENCHMARK.json's order. A layer a
    * workload does not call reports 0.
    */
  val names: Seq[String] = Seq(
    "parser.s", "parser.lines_per_s", "parser.drop_frac", "quality.s",
    "lake.write_s", "lake.files", "lake.bytes", "models.s",
    "server.wait_ms", "queries.errors_by_endpoint_ms",
    "queries.top_endpoints_ms", "queries.dashboard_ms",
    "snapshots.resolve_ms", "snapshots.lookup_ms", "snapshots.files_read_frac",
    "commit.append_ms", "commit.delete_ms", "commit.update_ms",
    "commit.merge_ms", "commit.checkpoint_ms", "commit.compact_ms",
    "commit.vacuum_ms", "commit.files_written", "commit.bytes_per_user_byte",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_s",
    "spark.sched_s", "spark.shuffle_bytes", "spark.spill_bytes", "spark.gc_s",
    "jvm.codegen_compiles", "jvm.heap_peak_mb",
    "trace.overhead_ms", "trace.spans")

  /** Mean span time of `name` in ms over its spans (0 when absent). */
  def spanMs(spans: Seq[Span], name: String): Double =
    Stats.mean(spans.filter(_.name == name).map(_.ns / 1e6))

  /** Scheduler, Catalyst and JVM numbers, per timed operation. */
  def common(spark: SparkSession, ops: Seq[Op], p: Probes,
             spans: Seq[Span]): Map[String, Double] = {
    val n = math.max(1, ops.size).toDouble
    val c = p.spark0.snapshot
    val q = p.allQueries
    val qn = math.max(1, q.size).toDouble
    val heapPeak = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .toArray(Array.empty[java.lang.management.MemoryPoolMXBean])
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
    val base = Layers.names.map(_ -> 0.0).toMap
    base ++ Map(
      "spark.jobs" -> c("jobs") / n,
      "spark.stages" -> c("stages") / n,
      "spark.tasks" -> c("tasks") / n,
      "spark.task_s" -> c("task_ms") / 1000.0 / n,
      "spark.sched_s" -> ops.map(o => p.spark0.idleMs(o.startMs, o.endMs)).sum / 1000.0 / n,
      "spark.shuffle_bytes" -> c("shuffle_bytes") / n,
      "spark.spill_bytes" -> c("spill_bytes") / n,
      "spark.gc_s" -> c("gc_ms") / 1000.0 / n,
      "catalyst.analysis_ms" -> q.map(_.analysisMs).sum / qn,
      "catalyst.optimization_ms" -> q.map(_.optimizationMs).sum / qn,
      "catalyst.planning_ms" -> q.map(_.planningMs).sum / qn,
      "jvm.codegen_compiles" ->
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "jvm.heap_peak_mb" -> heapPeak)
  }
}
