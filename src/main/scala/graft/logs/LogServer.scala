package graft.logs

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.DataFrame

/** The reference's always-on serving process (`serve/api.py:19-76`:
  * FastAPI over the warehouse) re-expressed over the Spark session —
  * a minimal JDK-built-in HTTP loop (zero dependencies) around
  * [[LogQueries]], serving the SAME endpoints with the same
  * parameter/validation/ordering contract:
  *
  *   - `GET /health` → `{"status":"ok", ...}`
  *   - `GET /errors_by_endpoint?date=YYYY-MM-DD`
  *   - `GET /top_endpoints?date=YYYY-MM-DD&limit=k` (k in [1,100],
  *     default 10)
  *
  * Bad parameters → 400 with a JSON error (the reference's
  * HTTPException contract); unknown paths → 404; a query failure →
  * 500. Serving scans the pre-aggregated hourly fact, NOT the raw
  * lake — the reference's "serve from the rollup" design, which is
  * also the only sane shape at 100 TB (the fact is orders of
  * magnitude smaller, and the date filter prunes it further). The
  * fact is provided as a THUNK so callers choose the freshness
  * policy: a cached DataFrame for a frozen snapshot, a
  * read-per-request for a live graft table (manifest resolution is
  * O(1) per request).
  *
  * Deliberately NOT a cluster component: like the reference's
  * uvicorn process, this runs wherever the driver runs; the heavy
  * lifting stays in Spark jobs.
  */
final class LogServer(fct: () => DataFrame, port: Int = 0) {

  private val server: HttpServer =
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  /** Bound port (useful when constructed with port 0 = ephemeral). */
  def boundPort: Int = server.getAddress.getPort

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def respond(x: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    x.getResponseHeaders.set("Content-Type", "application/json")
    x.sendResponseHeaders(code, bytes.length.toLong)
    try x.getResponseBody.write(bytes) finally x.close()
  }

  private def params(x: HttpExchange): Map[String, String] =
    Option(x.getRequestURI.getRawQuery).fold(Map.empty[String, String]) { q =>
      q.split('&').iterator.flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(k -> java.net.URLDecoder.decode(v, "UTF-8"))
          case _ => None
        }
      }.toMap
    }

  /** 400 on validation failures, 500 on anything else — the
    * reference's exception mapping.
    */
  private def serve(x: HttpExchange)(body: => String): Unit =
    try respond(x, 200, body)
    catch {
      case e: IllegalArgumentException =>
        // String.valueOf: a null-message exception must not NPE inside
        // the catch (the exchange would never close)
        respond(x, 400, s"""{"detail":"${esc(String.valueOf(e.getMessage))}"}""")
      case scala.util.control.NonFatal(e) =>
        respond(x, 500, s"""{"detail":"${esc(String.valueOf(e.getMessage))}"}""")
    }

  server.createContext("/health", (x: HttpExchange) =>
    serve(x)("""{"status":"ok","engine":"graft-spark"}"""))

  server.createContext("/errors_by_endpoint", (x: HttpExchange) => serve(x) {
    val date = params(x).getOrElse("date",
      throw new IllegalArgumentException("date is required"))
    val rows = LogQueries.errorsByEndpoint(fct(), date).collect().map { r =>
      s"""{"endpoint":"${esc(r.getAs[String]("endpoint"))}"""" +
        s""","errors":${r.getAs[Long]("errors")}""" +
        s""","requests":${r.getAs[Long]("requests")}}"""
    }
    s"""{"date":"${esc(date)}","rows":[${rows.mkString(",")}]}"""
  })

  server.createContext("/top_endpoints", (x: HttpExchange) => serve(x) {
    val ps = params(x)
    val date = ps.getOrElse("date",
      throw new IllegalArgumentException("date is required"))
    val limit = ps.get("limit").map { s =>
      try s.toInt catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(s"limit must be an integer: '$s'") }
    }.getOrElse(10)
    val rows = LogQueries.topEndpoints(fct(), date, limit).collect().map { r =>
      s"""{"endpoint":"${esc(r.getAs[String]("endpoint"))}"""" +
        s""","requests":${r.getAs[Long]("requests")}""" +
        s""","errors":${r.getAs[Long]("errors")}}"""
    }
    s"""{"date":"${esc(date)}","rows":[${rows.mkString(",")}]}"""
  })

  /** The dashboard twin (`serve/app.py:40-83`): ONE static HTML page
    * rendering the Streamlit app's content — the date selector
    * (available dates), the KPI tiles (requests / errors / error-rate
    * %), the per-hour bar chart (inline SVG — no JS, no asset
    * dependencies), and the hourly breakdown table. Same queries the
    * JSON endpoints serve, same `?date=` contract (defaults to the
    * newest available date, the Streamlit selectbox's default).
    */
  private def dashboardHtml(date0: Option[String]): String = {
    val dates = LogQueries.availableDates(fct()).collect()
      .map(_.getAs[java.sql.Date]("date").toString)
    require(dates.nonEmpty, "no dates in the hourly fact")
    val date = date0.getOrElse(dates.last)
    val kpi = LogQueries.kpiTotals(fct(), date).collect().head
    val (nReq, nErr) = (kpi.getAs[Long]("total_requests"),
      kpi.getAs[Long]("total_errors"))
    val ratePct = f"${kpi.getAs[Double]("error_rate_pct")}%.2f"
    val hours = LogQueries.perHourPivot(fct(), date).collect().map(r =>
      (r.getAs[String]("hour"), r.getAs[Long]("requests"),
        r.getAs[Long]("errors")))
    val breakdown = LogQueries.hourlyBreakdown(fct(), date).collect()
    def escH(s: String): String = s.replace("&", "&amp;")
      .replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")
    // a well-formed date with no rows renders an empty chart/table —
    // the JSON endpoints' empty-rows contract, never a 500
    val maxReq = math.max(1L, hours.foldLeft(0L)((m0, h) => math.max(m0, h._2)))
    val bars = hours.zipWithIndex.map { case ((h, req, err), i) =>
      val x = i * 34
      val rh = (req * 120 / maxReq).toInt
      val eh = math.max(if (err > 0) 1 else 0, (err * 120 / maxReq).toInt)
      s"""<g><rect x="$x" y="${130 - rh}" width="30" height="$rh" fill="#4a90d9"/>""" +
        s"""<rect x="$x" y="${130 - eh}" width="30" height="$eh" fill="#d94a4a"/>""" +
        s"""<text x="${x + 15}" y="142" font-size="9" text-anchor="middle">${escH(h)}</text></g>"""
    }.mkString
    val rows = breakdown.map { r =>
      s"<tr><td>${escH(r.getAs[String]("hour"))}</td>" +
        s"<td>${escH(r.getAs[String]("endpoint"))}</td>" +
        s"<td>${r.getAs[Long]("requests")}</td>" +
        s"<td>${r.getAs[Long]("errors")}</td>" +
        s"<td>${r.getAs[Double]("p95_bytes")}</td></tr>"
    }.mkString
    val opts = dates.map(d => s"""<option value="$d"${
      if (d == date) " selected" else ""}>$d</option>""").mkString
    s"""<!doctype html><html><head><title>graft log dashboard</title></head>
       |<body><h1>Log dashboard</h1>
       |<form method="get" action="/dashboard">
       |<select name="date" onchange="this.form.submit()">$opts</select>
       |<noscript><button type="submit">go</button></noscript></form>
       |<div><span id="kpi-requests">Requests: $nReq</span> ·
       |<span id="kpi-errors">Errors: $nErr</span> ·
       |<span id="kpi-rate">Error rate: $ratePct%</span></div>
       |<h2>Per-hour traffic</h2>
       |<svg width="${hours.length * 34}" height="150">$bars</svg>
       |<h2>Hourly breakdown</h2>
       |<table border="1" id="breakdown"><tr><th>hour</th><th>endpoint</th>
       |<th>requests</th><th>errors</th><th>p95_bytes</th></tr>$rows</table>
       |</body></html>""".stripMargin
  }

  server.createContext("/dashboard", (x: HttpExchange) =>
    try {
      val body = dashboardHtml(params(x).get("date"))
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      x.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
      x.sendResponseHeaders(200, bytes.length.toLong)
      try x.getResponseBody.write(bytes) finally x.close()
    } catch {
      case e: IllegalArgumentException =>
        respond(x, 400, s"""{"detail":"${esc(String.valueOf(e.getMessage))}"}""")
      case scala.util.control.NonFatal(e) =>
        respond(x, 500, s"""{"detail":"${esc(String.valueOf(e.getMessage))}"}""")
    })

  /** The dbt-docs lineage twin (`README.md:180-184`: `dbt docs serve`,
    * "view lineage (staging → dimensions → fact)") — the last
    * reference artifact with no counterpart, as ONE static HTML page:
    * the model DAG the reference's dbt project declares through its
    * `ref()` edges (`models/marts/dim_client.sql:1`,
    * `dim_endpoint.sql:1`, `fct_requests_hourly.sql:9`,
    * `models/staging/stg_logs.sql`), extended with the raw source and
    * the serving
    * consumers so the page reads end to end. Edges are emitted as a
    * machine-readable list (`li.edge[data-from][data-to]`) next to the
    * SVG, so the spec asserts the DAG, not the drawing. Static by
    * construction — the lineage is declared, not derived, exactly as
    * dbt's docs are generated from `ref()` declarations; the live
    * equivalents of these edges are the Catalyst plans of
    * [[LogModels]]' queries.
    */
  private val lineageEdges: Seq[(String, String)] = Seq(
    "raw_logs" -> "stg_logs",              // LogParser / LogLake
    "stg_logs" -> "dim_client",            // LogModels.dimClient
    "stg_logs" -> "dim_endpoint",          // LogModels.dimEndpoint
    "stg_logs" -> "fct_requests_hourly",   // LogModels.fctHourly
    "fct_requests_hourly" -> "serve_api",  // /errors_by_endpoint, /top_endpoints
    "fct_requests_hourly" -> "dashboard")  // /dashboard

  private def lineageHtml: String = {
    // fixed 4-column layout: sources, staging, dims/fact, serving
    val cols = Seq(
      Seq("raw_logs"), Seq("stg_logs"),
      Seq("dim_client", "dim_endpoint", "fct_requests_hourly"),
      Seq("serve_api", "dashboard"))
    val pos = (for ((col, ci) <- cols.zipWithIndex; (n, ri) <- col.zipWithIndex)
      yield n -> ((40 + ci * 190, 40 + ri * 70))).toMap
    val boxes = pos.toSeq.sortBy(_._1).map { case (n, (x, y)) =>
      s"""<g id="node-$n"><rect x="$x" y="$y" width="150" height="34" rx="6" fill="#eef3fa" stroke="#4a90d9"/>""" +
        s"""<text x="${x + 75}" y="${y + 22}" font-size="11" text-anchor="middle">$n</text></g>"""
    }.mkString
    val arrows = lineageEdges.map { case (a, b) =>
      val (ax, ay) = pos(a); val (bx, by) = pos(b)
      s"""<line x1="${ax + 150}" y1="${ay + 17}" x2="$bx" y2="${by + 17}" stroke="#888" marker-end="url(#arr)"/>"""
    }.mkString
    val edgeList = lineageEdges.map { case (a, b) =>
      s"""<li class="edge" data-from="$a" data-to="$b">$a → $b</li>"""
    }.mkString
    s"""<!doctype html><html><head><title>graft lineage</title></head>
       |<body><h1>Model lineage</h1>
       |<p>staging → dimensions → fact → serving (the dbt-docs graph)</p>
       |<svg width="800" height="260">
       |<defs><marker id="arr" markerWidth="8" markerHeight="8" refX="7"
       | refY="3" orient="auto"><path d="M0,0 L8,3 L0,6 z" fill="#888"/>
       |</marker></defs>$arrows$boxes</svg>
       |<ul id="edges">$edgeList</ul>
       |</body></html>""".stripMargin
  }

  server.createContext("/lineage", (x: HttpExchange) => {
    val bytes = lineageHtml.getBytes(StandardCharsets.UTF_8)
    x.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
    x.sendResponseHeaders(200, bytes.length.toLong)
    try x.getResponseBody.write(bytes) finally x.close()
  })

  server.createContext("/", (x: HttpExchange) =>
    respond(x, 404, """{"detail":"not found"}"""))

  def start(): LogServer = { server.start(); this }

  def stop(): Unit = server.stop(0)
}

/** `runMain graft.logs.LogServe <fctParquetDirOrGraftTable> [port]` —
  * the standalone serving process (the reference's
  * `uvicorn serve.api:app`). Reads the hourly fact once (a parquet
  * dir or a graft table dir with `_manifests/`) and serves until
  * killed.
  */
object LogServe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: LogServe <fctDir> [port]")
    val dir = args(0)
    val port = if (args.length > 1) args(1).toInt else 8080
    val spark = graft.GraftSession.local(
      graft.GraftConf.envInt("SPARK_GRAFT_CPUS", 4)).getOrCreate()
    val isGraft = new org.apache.hadoop.fs.Path(dir, "_manifests")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(dir, "_manifests"))
    val fct = () =>
      if (isGraft) spark.read.format("graft").load(dir)
      else spark.read.parquet(dir)
    val srv = new LogServer(fct, port).start()
    System.err.println(s"[graft-serve] listening on ${srv.boundPort}")
    Thread.currentThread().join() // serve until killed
  }
}
