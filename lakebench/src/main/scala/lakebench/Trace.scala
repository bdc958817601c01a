package lakebench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Spans of one operation share `trace`. */
final case class Span(trace: Long, id: Long, parent: Long, name: String,
                      startNs: Long, endNs: Long) {
  def ns: Long = endNs - startNs
}

/** In-memory span recorder. Off by default: a disabled tracer runs the
  * body and records nothing, so the timed runs carry no tracing cost.
  */
object Trace {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)

  /** A root span: a fresh trace id for one operation or request. */
  def op[T](name: String)(body: => T): T = run(name, root = true)(body)

  /** A child span of whatever span is open on this thread. */
  def span[T](name: String)(body: => T): T = run(name, root = false)(body)

  private def run[T](name: String, root: Boolean)(body: => T): T =
    if (!enabled) body
    else {
      val outer = stack.get
      val id = ids.incrementAndGet()
      val (trace, parent) = outer match {
        case (t, p) :: _ if !root => (t, p)
        case _ => (id, 0L)
      }
      stack.set((trace, id) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(trace, id, parent, name, t0, System.nanoTime()))
        stack.set(outer)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq

  /** Total self time per span name, in ns: each span's duration minus
    * the part of it its children cover.
    */
  def selfNs(all: Seq[Span]): Map[String, Long] = {
    val childNs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ns).sum }
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.ns - childNs.getOrElse(s.id, 0L)).sum
    }
  }

  def writeJsonl(path: String, all: Seq[Span]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"trace":${s.trace},"id":${s.id},"parent":${s.parent},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

/** Spark scheduler counts, recorded from the benchmark's own listener. */
final class SparkCounts extends SparkListener {
  val jobs, stages, tasks = new LongAdder
  val taskRunMs, gcMs, shuffleBytes, spillBytes = new LongAdder
  /** (launch, finish) epoch ms of every finished task, for idle time. */
  val taskSpans = new ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    taskSpans.add((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.add(m.executorRunTime)
      gcMs.add(m.jvmGCTime)
      shuffleBytes.add(m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
      spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.sum, "stages" -> stages.sum, "tasks" -> tasks.sum,
    "task_ms" -> taskRunMs.sum, "gc_ms" -> gcMs.sum,
    "shuffle_bytes" -> shuffleBytes.sum, "spill_bytes" -> spillBytes.sum)

  /** Milliseconds of [t0, t1] during which no task was running. */
  def idleMs(t0: Long, t1: Long): Long = {
    val in = taskSpans.asScala.toSeq
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = t0
    in.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    (t1 - t0) - covered
  }
}

/** One finished query: Catalyst phase times and where it ran in time. */
final case class QueryRecord(analysisMs: Long, optimizationMs: Long,
                             planningMs: Long, execStartMs: Long,
                             execMs: Double)

/** Catalyst phase times from `QueryExecution.tracker`, per finished query. */
final class QueryCounts extends QueryExecutionListener {
  val queries = new ConcurrentLinkedQueue[QueryRecord]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    val execStart = ph.get("planning").map(_.endTimeMs).getOrElse(System.currentTimeMillis())
    queries.add(QueryRecord(ms("analysis"), ms("optimization"), ms("planning"),
      execStart, durationNs / 1e6))
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def all: Seq[QueryRecord] = queries.asScala.toSeq
}

/** Both listeners, attached together for the traced part of a run.
  * `sql` sees the queries of `spark`; `allQueries` adds those of `others`.
  */
final class Probes(spark: SparkSession, others: Seq[SparkSession] = Nil) {
  val spark0 = new SparkCounts
  val sql = new QueryCounts
  private val otherSql = others.map(_ -> new QueryCounts)
  spark.sparkContext.addSparkListener(spark0)
  spark.listenerManager.register(sql)
  otherSql.foreach { case (s, q) => s.listenerManager.register(q) }

  def allQueries: Seq[QueryRecord] = sql.all ++ otherSql.flatMap(_._2.all)

  def drain(): Unit = org.apache.spark.lakebenchbridge.Drain(spark.sparkContext)

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(spark0)
    spark.listenerManager.unregister(sql)
    otherSql.foreach { case (s, q) => s.listenerManager.unregister(q) }
  }
}
