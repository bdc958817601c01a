package lakebench

import java.io.File

import org.apache.spark.sql.SparkSession

/** The lakehouse live: `ServeSide`'s HTTP clients read the hourly
  * fact through `LogServer` while `TableSide`'s client commits to,
  * and reads from, a second graft table, all in one Spark application.
  * The two loops share the scheduler and the cores, as readers and
  * writers of one deployment do; each keeps its own output checks.
  */
final class LiveWorkload(spark: SparkSession, seedValue: Long) extends Workload {
  private val serve = new ServeSide(spark, seedValue)
  /** The writer has its own session of the same application, so the
    * serve half's query listener sees only the server's queries.
    */
  private val writerSession = spark.newSession()
  private val table = new TableSide(writerSession, seedValue)

  /** Runs both bodies at once, as the two sides of a deployment would. */
  private def both(a: => Unit, b: => Unit): Unit = {
    var failure: Option[Throwable] = None
    val t = new Thread(() => try b catch { case e: Throwable => failure = Some(e) })
    t.start()
    try a finally t.join()
    failure.foreach(e => throw e)
  }

  def seed(dir: String): Unit =
    both(serve.seed(new File(dir, "serve").getPath), table.seed(new File(dir, "table").getPath))

  def warm(): Unit = both(serve.warm(), table.warm())

  def measure(deadlineNs: Long): Seq[Op] = {
    var writes: Seq[Op] = Nil
    val writer = new Thread(() => writes = table.measure(deadlineNs))
    writer.start()
    val reads = serve.measure(deadlineNs)
    writer.join()
    reads ++ writes
  }

  /** Operations of both loops per second of the wall window. */
  def throughput(ops: Seq[Op]): Double =
    ops.size / ((ops.map(_.endMs).max - ops.map(_.startMs).min) / 1000.0)

  /** The median operation over all three clients. */
  def latency(ops: Seq[Op]): Double = Stats.median(ops.map(_.ms))

  def check(): Seq[(String, Boolean)] = serve.check() ++ table.check()

  def bytesPerInputByte: Double =
    (serve.storedBytes + table.storedBytes).toDouble /
      (serve.inputBytes + table.inputBytes)

  override def counts: Map[String, Long] = table.counts

  override def sessions: Seq[SparkSession] = Seq(writerSession)

  def layers(ops: Seq[Op], p: Probes): Map[String, Double] = {
    val (writes, reads) = ops.partition(o => table.kinds(o.kind))
    serve.layers(reads, p) ++ table.layers(writes, p) ++
      Map("snapshots.resolve_ms" -> Layers.spanMs(Trace.spans, "snapshots.resolve"))
  }

  def selfTest(): Seq[(String, Boolean)] = serve.selfTest() ++ table.selfTest()

  override def stop(): Unit = serve.stop()
}
