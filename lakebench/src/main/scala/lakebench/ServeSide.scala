package lakebench

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.logs.{LogModels, LogParser, LogQueries, LogServer}
import graft.sources.Snapshots

/** The serving side of `LiveWorkload`: the hourly fact is committed as a
  * `date`-partitioned graft table and `LogServer` reads it per request
  * through `spark.read.format("graft")` (the live-table policy).
  * `Clients` closed-loop clients with no think time send a seeded mix of
  * JSON, dashboard and bad-parameter requests.
  */
final class ServeSide(spark: SparkSession, seedValue: Long) {
  val Lines = 20000
  val Clients = 2
  /** Dates the mix asks about, chosen from the log's days by the seed. */
  val MixDates = 4

  /** The mix, in a fixed order every client repeats from its own offset;
    * the seed draws each request's parameters.
    */
  private val cycle: Seq[String] = Seq("errors", "top", "errors", "dashboard",
    "top", "bad_date", "errors", "top", "bad_limit", "errors")

  final case class Done(op: Op, kind: String, key: String, status: Int, body: String)

  private var table: String = _
  private var server: LogServer = _
  private var dates: Seq[String] = Nil
  private var tableBytes = 0L
  private var rawBytes = 0L
  private val done = new ConcurrentLinkedQueue[Done]()
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  private def fct(): DataFrame = Trace.span("snapshots.resolve") {
    spark.read.format("graft").load(table)
  }

  def seed(d: String): Unit = {
    stop()
    done.clear()
    new File(d).mkdirs()
    val truth = LogGen.write(s"$d/access.log", seedValue, Lines)
    val t = s"$d/fct_graft"
    Snapshots.commit(LogModels.fctRequestsHourly(LogModels.stgLogs(
      LogParser.readLogs(spark, s"$d/access.log"))), t, "overwrite",
      partitionBy = Seq("date"))
    table = t
    server = new LogServer(() => fct()).start()
    val rnd = new scala.util.Random(seedValue)
    dates = rnd.shuffle(truth.days).take(MixDates).sorted
    rawBytes = truth.rawBytes
    tableBytes = Fs.usage(t)._2
  }

  /** The request sequence of one client, parameters drawn from the seed. */
  private def requests(clientId: Int): Iterator[(String, String, String)] = {
    val rnd = new scala.util.Random(seedValue * 31 + clientId)
    val offset = clientId * cycle.size / Clients
    Iterator.continually(cycle.drop(offset) ++ cycle.take(offset)).flatten.map { kind =>
      val d = dates(rnd.nextInt(dates.size))
      kind match {
        case "errors" => (kind, d, s"/errors_by_endpoint?date=$d")
        case "top" =>
          val k = 1 + rnd.nextInt(20)
          (kind, s"$d/$k", s"/top_endpoints?date=$d&limit=$k")
        case "dashboard" => (kind, d, s"/dashboard?date=$d")
        case "bad_date" =>
          val p = rnd.nextInt(3) match {
            case 0 => "/errors_by_endpoint?date=2025-13-45"
            case 1 => "/errors_by_endpoint"
            case _ => s"/top_endpoints?date=${d}x"
          }
          (kind, p, p)
        case _ =>
          val p = if (rnd.nextBoolean()) s"/top_endpoints?date=$d&limit=0"
                  else s"/top_endpoints?date=$d&limit=ten"
          (kind, p, p)
      }
    }
  }

  private def get(path: String): (Int, String) = {
    val req = HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:${server.boundPort}$path")).GET().build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  /** Each client's request stream continues across calls to `measure`. */
  private lazy val streams = (0 until Clients).map(requests)

  private def loop(clientId: Int, deadlineNs: Long, limit: Int = Int.MaxValue): Seq[Done] = {
    val it = streams(clientId)
    val out = Seq.newBuilder[Done]
    var n = 0
    // whole rounds of the mix, so every run carries it in the same shares
    while (n < limit && (n % cycle.size != 0 || System.nanoTime() < deadlineNs)) {
      val (kind, key, path) = it.next()
      val (t0, t1, ms, (status, body)) = Op.time(Trace.op(s"request.$kind")(get(path)))
      out += Done(Op(kind, t0, t1, 1, ok = true, ms), kind, key, status, body)
      n += 1
    }
    out.result()
  }

  def warm(): Unit = {
    // every request kind once, on fresh streams: the timed part
    // starts each client at the top of its sequence
    val it = requests(Clients)
    val kinds = scala.collection.mutable.Set.empty[String]
    while (kinds.size < cycle.toSet.size) {
      val (kind, key, path) = it.next()
      if (kinds.add(kind)) {
        val (t0, t1, ms, (status, body)) = Op.time(get(path))
        done.add(Done(Op(kind, t0, t1, 1, ok = true, ms), kind, key, status, body))
      }
    }
  }

  def measure(deadlineNs: Long): Seq[Op] = {
    val threads = (0 until Clients).map { c =>
      val res = new ConcurrentLinkedQueue[Done]()
      val t = new Thread(() => loop(c, deadlineNs).foreach(res.add))
      t.start()
      (t, res)
    }
    threads.foreach(_._1.join())
    val all = threads.flatMap(_._2.asScala)
    all.foreach(done.add)
    // a request's answer is judged after the run, against direct calls
    val verdict = judge(all)
    all.zip(verdict).map { case (d, ok) => d.op.copy(ok = ok) }
  }

  // ---- output checks -------------------------------------------------

  private def errorsJson(d: String, f: DataFrame): String = {
    val rows = LogQueries.errorsByEndpoint(f, d).collect().map(r =>
      s"""{"endpoint":"${r.getAs[String]("endpoint")}","errors":${r.getAs[Long]("errors")},""" +
        s""""requests":${r.getAs[Long]("requests")}}""")
    s"""{"date":"$d","rows":[${rows.mkString(",")}]}"""
  }

  /** All 100 top rows; a `limit=k` answer is their first k. */
  private def topRows(d: String, f: DataFrame): Seq[String] =
    LogQueries.topEndpoints(f, d, 100).collect().toSeq.map(r =>
      s"""{"endpoint":"${r.getAs[String]("endpoint")}","requests":${r.getAs[Long]("requests")},""" +
        s""""errors":${r.getAs[Long]("errors")}}""")

  private def kpi(d: String, f: DataFrame): (Long, Long) = {
    val r = LogQueries.kpiTotals(f, d).collect().head
    (r.getAs[Long]("total_requests"), r.getAs[Long]("total_errors"))
  }

  private lazy val expected: Map[String, Any] = {
    val f = spark.read.format("graft").load(table)
    dates.flatMap(d => Seq(s"errors/$d" -> errorsJson(d, f), s"top/$d" -> topRows(d, f),
      s"kpi/$d" -> kpi(d, f))).toMap
  }

  /** A body is right when it equals what `LogQueries` returns called
    * directly on the same fact; bad parameters must get a 400.
    */
  private def judge(ds: Seq[Done], exp: Map[String, Any] = expected): Seq[Boolean] =
    ds.map { d =>
      d.kind match {
        case "errors" => d.status == 200 && exp(s"errors/${d.key}") == d.body
        case "top" =>
          val Array(day, k) = d.key.split("/")
          val rows = exp(s"top/$day").asInstanceOf[Seq[String]].take(k.toInt)
          d.status == 200 && d.body == s"""{"date":"$day","rows":[${rows.mkString(",")}]}"""
        case "dashboard" =>
          val (req, err) = exp(s"kpi/${d.key}").asInstanceOf[(Long, Long)]
          d.status == 200 && d.body.contains(s"Requests: $req<") &&
            d.body.contains(s"Errors: $err<") && d.body.contains(s"""value="${d.key}" selected""")
        case _ => d.status == 400
      }
    }

  def check(): Seq[(String, Boolean)] = {
    val all = done.asScala.toSeq
    val verdict = judge(all)
    // every request of the same path gets the same body
    val stable = all.groupBy(d => (d.kind, d.key)).forall { case (_, g) => g.map(_.body).distinct.size == 1 }
    Seq("serve.answers" -> verdict.forall(identity), "serve.same_body_per_request" -> stable)
  }

  def storedBytes: Long = tableBytes
  def inputBytes: Long = rawBytes

  def layers(ops: Seq[Op], p: Probes): Map[String, Double] = {
    val spans = Trace.spans
    val q = p.sql.all
    // LogServer handles one request at a time, in arrival order: a query
    // belongs to the earliest-sent request still open when it started
    val owner = q.groupBy { r =>
      ops.filter(o => o.startMs <= r.execStartMs && r.execStartMs <= o.endMs)
        .sortBy(_.startMs).headOption
    }
    // an action's duration already holds its optimization and planning;
    // analysis ran eagerly before it
    val perReq = ops.map { o =>
      o -> owner.getOrElse(Some(o), Nil).map(r => r.analysisMs + r.execMs).sum
    }
    val resolveMs = Layers.spanMs(spans, "snapshots.resolve")
    val resolvesPerReq = spans.count(_.name == "snapshots.resolve").toDouble / math.max(1, ops.size)
    def kindMs(k: String): Double = Stats.median(perReq.filter(_._1.kind == k).map(_._2) :+ 0.0)
    val wait = perReq.filter { case (o, _) => o.kind != "bad_date" && o.kind != "bad_limit" }
      .map { case (o, qms) => o.ms - qms - resolveMs * resolvesPerReq }
    val live = Snapshots.readVersion(spark, table).inputFiles.length
    val pruned = Snapshots.readVersionFiltered(spark, table, None,
      Seq(org.apache.spark.sql.sources.EqualTo("date", java.sql.Date.valueOf(dates.head))))
      .inputFiles.length
    Map(
      "server.wait_ms" -> (if (wait.isEmpty) 0.0 else Stats.median(wait)),
      "queries.errors_by_endpoint_ms" -> kindMs("errors"),
      "queries.top_endpoints_ms" -> kindMs("top"),
      "queries.dashboard_ms" -> kindMs("dashboard"),
      "snapshots.resolve_ms" -> resolveMs,
      "snapshots.files_read_frac" -> pruned.toDouble / math.max(1, live))
  }

  def selfTest(): Seq[(String, Boolean)] = {
    val sample = loop(0, Long.MaxValue, limit = 3 * cycle.size)
    def corrupt(prefix: String): Map[String, Any] = expected.map {
      case (k, v: String) if k.startsWith(prefix) => k -> (v + " ")
      case (k, v: Seq[_]) if k.startsWith(prefix) => k -> v.reverse
      case (k, (a: Long, b: Long)) if k.startsWith(prefix) => k -> (a + 1, b)
      case kv => kv
    }
    def caught(kind: String, exp: Map[String, Any]): Boolean = {
      val s = sample.filter(_.kind == kind)
      s.nonEmpty && !judge(s, exp).forall(identity)
    }
    val badAs200 = sample.filter(_.kind.startsWith("bad")).map(d => d.copy(status = 200))
    Seq(
      "serve.errors_body" -> caught("errors", corrupt("errors/")),
      "serve.top_body" -> caught("top", corrupt("top/")),
      "serve.dashboard_kpi" -> caught("dashboard", corrupt("kpi/")),
      "serve.bad_param_400" -> (badAs200.nonEmpty && !judge(badAs200).forall(identity)))
  }

  def stop(): Unit = if (server != null) { server.stop(); server = null }
}
