package lakebench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.Locale
import scala.collection.mutable

/** What the generator wrote, counted by the generator itself. */
final case class LogTruth(lines: Long, badLines: Long, rawBytes: Long,
                          days: Seq[String],
                          /** (date, hour, endpoint) -> (requests, errors) */
                          hourly: Map[(String, String, String), (Long, Long)])

/** Seeded synthetic Nginx "combined" access log.
  *
  * - `Days` days of traffic starting 2025-11-01, uniform over the clock;
  * - `Endpoints` paths with Zipf-skewed popularity (exponent 1.1), some
  *   carrying a query string the model strips;
  * - a status mix with 18 % errors and `-` bytes on 304s;
  * - `BadShare` of lines the parser must drop: blank, garbage, and
  *   grammar-shaped lines whose bytes field is not numeric. No bad line
  *   is grammar-valid, so none can reach the quality gate.
  */
object LogGen {
  val Days = 14
  val Endpoints = 300
  val BadShare = 0.01
  private val start = LocalDateTime.of(2025, 11, 1, 0, 0, 0)
  private val tsFmt = DateTimeFormatter.ofPattern("dd/MMM/yyyy:HH:mm:ss", Locale.ENGLISH)
  private val dayFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd")
  private val hourFmt = DateTimeFormatter.ofPattern("HH")

  private val paths: Array[String] = Array.tabulate(Endpoints) { i =>
    i % 5 match {
      case 0 => s"/api/v1/items/$i"
      case 1 => s"/static/js/app$i.js"
      case 2 => s"/products/$i"
      case 3 => s"/search/p$i"
      case _ => s"/docs/page-$i.html"
    }
  }
  private val cumulative: Array[Double] = {
    val w = Array.tabulate(Endpoints)(r => 1.0 / math.pow(r + 1, 1.1))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  private val statuses = Array(200 -> 0.70, 304 -> 0.08, 301 -> 0.04,
    404 -> 0.10, 500 -> 0.05, 503 -> 0.03)
  private val methods = Array("GET", "GET", "GET", "POST", "PUT", "DELETE")
  private val agents = Array("Mozilla/5.0 (X11; Linux x86_64)",
    "curl/8.5.0", "Googlebot/2.1 (+http://www.google.com/bot.html)",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_0 like Mac OS X)")

  def days: Seq[String] = (0 until Days).map(d => start.plusDays(d).format(dayFmt))

  /** Writes `lines` lines to `path`: traffic over all `Days` days, or
    * over the one day `day` (0-based) when given.
    */
  def write(path: String, seed: Long, lines: Int, day: Option[Int] = None): LogTruth = {
    val (from, span) = day.fold((start, Days * 86400))(d => (start.plusDays(d), 86400))
    val rnd = new java.util.Random(seed)
    val hourly = mutable.HashMap.empty[(String, String, String), (Long, Long)]
    val out = new FileOutputStream(path)
    val w = new BufferedWriter(new OutputStreamWriter(out, StandardCharsets.UTF_8), 1 << 20)
    var bad = 0L
    var bytes = 0L
    def emit(s: String): Unit = {
      w.write(s); w.write('\n')
      bytes += s.getBytes(StandardCharsets.UTF_8).length + 1
    }
    try (0 until lines).foreach { _ =>
      if (rnd.nextDouble() < BadShare) {
        bad += 1
        emit(rnd.nextInt(3) match {
          case 0 => ""
          case 1 => s"#### truncated write ${rnd.nextInt(1 << 20)} ####"
          case _ =>
            val ts = from.plusSeconds(rnd.nextInt(span)).format(tsFmt)
            s"""10.0.0.${rnd.nextInt(250)} - - [$ts +0000] "GET /x HTTP/1.1" 200 12k "-" "curl/8.5.0""""
        })
      } else {
        val t = from.plusSeconds(rnd.nextInt(span))
        val ep = paths(java.util.Arrays.binarySearch(cumulative, rnd.nextDouble()) match {
          case i if i >= 0 => i
          case i => math.min(-i - 1, Endpoints - 1)
        })
        val path = if (rnd.nextInt(4) == 0) s"$ep?ref=${rnd.nextInt(100)}" else ep
        val u = rnd.nextDouble()
        val status = statuses.iterator.scanLeft((0, 0.0)) { case ((_, acc), (s, p)) => (s, acc + p) }
          .drop(1).find(_._2 >= u).map(_._1).getOrElse(200)
        val sent = if (status == 304) "-" else (200 + math.abs(rnd.nextGaussian()) * 4000).toLong.toString
        val ip = s"${10 + rnd.nextInt(3)}.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${1 + rnd.nextInt(254)}"
        emit(s"""$ip - - [${t.format(tsFmt)} +0000] "${methods(rnd.nextInt(methods.length))} $path HTTP/1.1" """ +
          s"""$status $sent "https://example.com/" "${agents(rnd.nextInt(agents.length))}"""")
        val key = (t.format(dayFmt), t.format(hourFmt), ep)
        val (r, e) = hourly.getOrElse(key, (0L, 0L))
        hourly(key) = (r + 1, e + (if (status >= 400) 1 else 0))
      }
    } finally w.close()
    LogTruth(lines, bad, bytes, day.fold(days)(d => Seq(days(d))), hourly.toMap)
  }
}
