package lakebench

import java.io.File
import org.apache.spark.sql.SparkSession

/** One timed operation: what it was, when it ran, the work it carried
  * (ingest: raw lines; others: 1) and whether its output was right.
  */
final case class Op(kind: String, startMs: Long, endMs: Long, units: Long,
                    ok: Boolean, ms: Double)

object Op {
  /** Times `body` (wall clock for attribution, nanoTime for the length). */
  def time[T](body: => T): (Long, Long, Double, T) = {
    val (t0, n0) = (System.currentTimeMillis(), System.nanoTime())
    val r = body
    (t0, System.currentTimeMillis(), (System.nanoTime() - n0) / 1e6, r)
  }
}

/** What every workload provides to the harness. */
trait Workload {
  /** Build the seeded inputs and seed tables under `dir`, replacing any
    * state an earlier call left.
    */
  def seed(dir: String): Unit
  /** Untimed warm-up: a fixed operation sequence that fills caches. */
  def warm(): Unit
  /** Closed-loop operations until `deadlineNs`, at least one. */
  def measure(deadlineNs: Long): Seq[Op]
  /** Untimed end-of-run output checks: (what, passed). */
  def check(): Seq[(String, Boolean)]
  /** Bytes the system keeps on disk per byte of input it was given. */
  def bytesPerInputByte: Double
  /** Per-layer numbers from the traced part (names as in BENCHMARK.json). */
  def layers(ops: Seq[Op], probes: Probes): Map[String, Double]
  /** Deterministic counts from the warm-up, beyond the scheduler's. */
  def counts: Map[String, Long] = Map.empty
  /** Feed every output check a corrupted expectation: each must fail. */
  def selfTest(): Seq[(String, Boolean)]
  def stop(): Unit = ()
  /** Further sessions the workload's queries run in. */
  def sessions: Seq[SparkSession] = Nil
  /** Work per second. */
  def throughput(ops: Seq[Op]): Double
  /** The latency a user waits for. */
  def latency(ops: Seq[Op]): Double
}

object Main {
  val Cores = 4
  /** Set-ups per run; `setup_s` is their median. */
  val SetupRepeats = 3

  /** Exits explicitly: the HTTP client's pools must not hold the JVM. */
  def main(args: Array[String]): Unit = {
    val code = try { run(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.out.flush()
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = new File(opts("dir")).getAbsoluteFile
    val selfTest = opts.get("selftest").contains("1")

    val spark = graft.GraftSession.local(Cores)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val w: Workload = workload match {
      case "ingest" => new IngestWorkload(spark, seed)
      case "live" => new LiveWorkload(spark, seed)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    try {
      if (selfTest) {
        w.seed(new File(work, "seed-1").getPath); w.warm()
        val res = w.selfTest()
        res.foreach { case (name, caught) =>
          println(s"""{"selftest":"$name","corruption_caught":$caught}""")
        }
        require(res.nonEmpty && res.forall(_._2), "a corrupted expectation went unnoticed")
        return
      }
      // set-up, repeated: the seeded inputs and seed tables are built and
      // the warm-up runs `SetupRepeats` times, each replacing the last;
      // `setup_s` is the median. JVM and Spark session start come before
      // and are reported apart, as `session_s` beside the counts.
      val warmCounts = new SparkCounts
      val setups = (1 to SetupRepeats).map { i =>
        val last = i == SetupRepeats
        if (last) spark.sparkContext.addSparkListener(warmCounts)
        val s0 = System.nanoTime()
        w.seed(new File(work, s"seed-$i").getPath)
        w.warm()
        val s = (System.nanoTime() - s0) / 1e9
        if (last) {
          org.apache.spark.lakebenchbridge.Drain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(warmCounts)
        } else Fs.delete(new File(work, s"seed-$i"))
        s
      }
      val setupS = Stats.median(setups)
      val counts = warmCounts.snapshot.filter { case (k, _) =>
        Set("jobs", "stages", "tasks")(k) }.map { case (k, v) => s"warmup.$k" -> v } ++ w.counts

      // wall-clock throughput and latency, printed beside the counts
      var wall = Map.empty[String, Double]
      val (metrics0, ops, tracedPart) =
        if (!trace) {
          System.gc()
          val cpu0 = AppCpu.snapshot()
          val t0 = System.nanoTime()
          val ops = w.measure(t0 + (seconds * 1e9).toLong)
          val cpuMs = AppCpu.msSince(cpu0)
          wall = Map("ops_per_s" -> w.throughput(ops), "op_p50_ms" -> w.latency(ops))
          (Map(
            "setup_s" -> setupS,
            "cpu_ms_per_op" -> cpuMs / ops.size,
            "heap_retained_mb" -> Stats.retainedHeapMb), ops, None)
        } else {
          // untraced and traced chunks of a quarter of the run alternate,
          // so both see the same warmth; the difference of their median
          // operation times is the tracing overhead. The listeners stay
          // attached throughout.
          System.gc()
          val probes = new Probes(spark, w.sessions)
          val chunkNs = (seconds * 1e9 / 4).toLong
          val end = System.nanoTime() + 4 * chunkNs
          val plain, traced = scala.collection.mutable.ArrayBuffer.empty[Op]
          var chunk = 0
          while (System.nanoTime() < end || traced.isEmpty) {
            Trace.enabled = chunk % 2 == 1
            (if (Trace.enabled) traced else plain) ++= w.measure(System.nanoTime() + chunkNs)
            chunk += 1
          }
          Trace.enabled = false
          probes.detach()
          val spans = Trace.spans
          Trace.writeJsonl(new File(work, "spans.jsonl").getPath, spans)
          (Map(
            "trace.overhead_ms" -> (Stats.median(traced.map(_.ms).toSeq) -
              Stats.median(plain.map(_.ms).toSeq)),
            "trace.spans" -> spans.size.toDouble), (plain ++ traced).toSeq,
            Some((traced.toSeq, probes, spans)))
        }

      System.err.println(s"[lakebench] ops ms: ${ops.map(o => s"${o.kind}:${o.ms.toInt}").mkString(" ")}")
      val measuredAt = System.nanoTime()
      val checks = w.check()
      def at = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
      System.err.println(f"[lakebench] t=$at%.1f s: measured ${ops.size} ops; checks took ${(System.nanoTime() - measuredAt) / 1e9}%.1f s")
      // per-layer numbers are read after the checks (the table's final
      // vacuum runs there), from listeners detached before them
      val metrics = tracedPart match {
        case Some((traced, probes, spans)) =>
          Layers.common(spark, ops, probes, spans) ++ w.layers(traced, probes) ++ metrics0
        case None => metrics0 + ("bytes_per_input_byte" -> w.bytesPerInputByte)
      }
      val failures = checks.collect { case (c, false) => c } ++
        ops.filterNot(_.ok).map(o => s"wrong answer: ${o.kind}")
      failures.take(20).foreach(f => System.err.println(s"[lakebench] FAIL $f"))
      val countsJson = counts.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      def obj(m: Map[String, Double]) =
        m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${Stats.num(v)}""" }.mkString("{", ",", "}")
      println(s"""{"counts":$countsJson,"session_s":$sessionS,""" +
        s""""setups_s":${setups.mkString("[", ",", "]")},"wall":${obj(wall)}}""")
      println(s"""{"correct":${failures.isEmpty},"attempted":${ops.size + checks.size},""" +
        s""""failed":${failures.size},"metrics":${obj(metrics)}}""")
    } finally {
      w.stop()
      spark.stop()
      System.err.println(f"[lakebench] t=${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s: stopped")
    }
  }
}
