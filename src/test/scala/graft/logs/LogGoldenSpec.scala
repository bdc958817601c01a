package graft.logs

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Golden tests over the reference's 7-line fixture: hand-computed
  * expected rows from FIXTURES.md §2 (reference:
  * data/raw/nginx_access.log:1-7, fct_requests_hourly.sql:1-11).
  */
class LogGoldenSpec extends SparkSpec {

  test("parser keeps all 7 fixture lines with exact fields") {
    val parsed = LogParser.parse(LogFixture.raw(spark)).orderBy("ts").collect()
    assert(parsed.length === 7)
    val first = parsed.head
    assert(first.getAs[String]("client_ip") === "127.0.0.1")
    assert(first.getAs[java.sql.Timestamp]("ts").toString === "2025-11-10 10:21:34.0")
    assert(first.getAs[String]("request_path") === "/api/v1/items?id=42")
    assert(first.getAs[Int]("status") === 200)
    assert(first.getAs[Long]("bytes_sent") === 1234L)
    assert(first.getAs[String]("user_agent") === "Mozilla/5.0")
    // TZ offset (+0530) must be DISCARDED, not applied: 10:21:34 stays
  }

  test("stg derivations: endpoint strip, zero-padded hour, is_error int") {
    val stg = LogFixture.stg(spark).orderBy("ts").collect()
    assert(stg.map(_.getAs[String]("endpoint")).toSeq === Seq(
      "/api/v1/items", "/api/v1/items", "/auth/login", "/health",
      "/api/v1/items", "/api/v1/items", "/health"))
    assert(stg.map(_.getAs[String]("hour")).toSeq === Seq(
      "10", "10", "11", "11", "12", "10", "12"))
    assert(stg.map(_.getAs[Int]("is_error")).toSeq === Seq(0, 0, 1, 0, 1, 0, 1))
    assert(stg.map(_.getAs[Long]("bytes_sent")).toSeq === Seq(
      1234L, 0L, 512L, 8L, 256L, 777L, 16L))
  }

  test("hourly fact matches hand-computed rows incl interpolated p95") {
    val fct = LogFixture.fct(spark)
      .orderBy("date", "hour", "endpoint").collect()
    assert(fct.length === 6)
    // (2025-11-10, "10", /api/v1/items): requests=2, errors=0,
    // p95 = interp of {0, 1234} at 0.95 = 1172.3 (FIXTURES.md §2)
    val g = fct.head
    assert(g.getAs[java.sql.Date]("date").toString === "2025-11-10")
    assert(g.getAs[String]("hour") === "10")
    assert(g.getAs[String]("endpoint") === "/api/v1/items")
    assert(g.getAs[Long]("requests") === 2L)
    assert(g.getAs[Long]("errors") === 0L)
    assert(math.abs(g.getAs[Double]("p95_bytes") - 1172.3) < 1e-9)
    // single-row groups: p95 = the value itself
    val login = fct.find(_.getAs[String]("endpoint") === "/auth/login").get
    assert(login.getAs[Long]("errors") === 1L)
    assert(login.getAs[Double]("p95_bytes") === 512.0)
  }

  test("approx hourly fact: verdict is 1 on every group, exact twin unchanged") {
    val approx = LogSuite.fctHourlyApprox(spark).collect()
    assert(approx.length === 6)
    assert(approx.forall(_.getAs[Int]("p95_approx_ok") === 1))
    // the exact columns are identical to the exact fact's
    val exact = LogSuite.fctHourly(spark).collect()
    approx.zip(exact).foreach { case (a, e) =>
      Seq("date", "hour", "endpoint", "requests", "errors", "p95_bytes")
        .foreach(c => assert(a.getAs[Any](c) === e.getAs[Any](c), c))
    }
  }

  test("percentile_approx error bound holds on large dense groups") {
    // lineitem at sf0.001 (~6k rows, 3 return flags): the approx p95
    // of a dense numeric column must sit within 1% of the exact
    // interpolated p95 at accuracy=10000 (rank error ≤ n/accuracy)
    val li = graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val rows = li.groupBy("l_returnflag")
      .agg(
        percentile(col("l_extendedprice"), lit(0.95)).as("exact"),
        percentile_approx(col("l_extendedprice"), lit(0.95), lit(10000)).as("approx"))
      .collect()
    assert(rows.length === 3)
    rows.foreach { r =>
      val (e, a) = (r.getAs[Double]("exact"), r.getAs[Double]("approx"))
      assert(math.abs(a - e) / e <= 0.01, s"exact=$e approx=$a")
    }
  }

  test("malformed / junk / edge lines are dropped, never throw (ANSI on)") {
    import spark.implicits._
    val junk = Seq(
      "",                                     // blank
      "   ",                                  // whitespace only
      "total garbage line",                   // no grammar
      """1.2.3.4 - - [not-a-date] "GET / HTTP/1.1" 200 5 "-" "ua"""",   // bad ts
      """1.2.3.4 - - [10/Nov/2025:10:00:00 +0000] "GET / HTTP/1.1" 200 abc "-" "ua"""", // bad bytes
      """1.2.3.4 - - [10/Nov/2025:10:00:00 +0000] "GET / HTTP/1.1" 20 5 "-" "ua"""",    // 2-digit status
      """  127.0.0.1  -  -  [10/Nov/2025:10:00:00 +0000]  "GET /x HTTP/1.1"  200  5  "-"  "ua"  """ // tolerant \s+
    )
    val out = LogParser.parse(junk.toDS().toDF("value")).collect()
    // only the last (multi-space but grammar-valid) line survives
    assert(out.length === 1)
    assert(out.head.getAs[String]("request_path") === "/x")
  }

  test("bytes '-' coerced to 0; status boundaries kept") {
    import spark.implicits._
    val lines = Seq(
      """9.9.9.9 - - [10/Nov/2025:10:00:00 +0000] "GET /a HTTP/1.1" 100 - "-" "ua"""",
      """9.9.9.9 - - [10/Nov/2025:10:00:01 +0000] "GET /b HTTP/1.1" 599 7 "-" "ua"""")
    val parsed = LogParser.parse(lines.toDS().toDF("value"))
    val out = parsed.orderBy("ts").collect()
    assert(out.length === 2)
    assert(out(0).getAs[Long]("bytes_sent") === 0L)
    assert(out(0).getAs[Int]("status") === 100)
    assert(out(1).getAs[Int]("status") === 599)
    assert(LogQuality.statusRangeViolations(LogModels.stgLogs(parsed)).isEmpty)
  }

  test("serve-time parameter validation rejects bad dates and limits") {
    LogQueries.validateDate("2025-11-10") // ok
    intercept[IllegalArgumentException](LogQueries.validateDate("2025-13-40"))
    intercept[IllegalArgumentException](LogQueries.validateDate("not-a-date"))
    intercept[IllegalArgumentException](LogQueries.validateDate("2025-1-1"))
    LogQueries.validateLimit(1); LogQueries.validateLimit(100)
    intercept[IllegalArgumentException](LogQueries.validateLimit(0))
    intercept[IllegalArgumentException](LogQueries.validateLimit(101))
  }

  test("saveAsTable materialization: fact queryable by name via SQL") {
    LogLake.materializeTable(LogFixture.fct(spark), "fct_requests_hourly_t")
    val n = spark.sql(
      "SELECT COUNT(*) FROM fct_requests_hourly_t").collect()(0).getLong(0)
    assert(n === 6L)
  }

  test("quality checks pass on fixture and catch violations") {
    val stg = LogFixture.stg(spark)
    val fct = LogFixture.fct(spark)
    val results = LogQuality.runAll(stg, fct)
    assert(results.values.forall(_ === 0L), results.toString)
    // inject a violation
    val bad = stg.withColumn("status",
      when(col("endpoint") === "/health", lit(9999)).otherwise(col("status")))
    assert(!LogQuality.statusRangeViolations(bad).isEmpty)
  }

  test("quality gate counts each injected violation under its own check") {
    val stg = LogFixture.stg(spark)
    val fct = LogFixture.fct(spark)
    val badStg = stg
      .withColumn("ts", when(col("endpoint") === "/auth/login", lit(null))
        .otherwise(col("ts")))
      .withColumn("status", when(col("endpoint") === "/health" &&
        col("status") === 503, lit(9999)).otherwise(col("status")))
    val badFct = fct.withColumn("hour", when(col("endpoint") === "/auth/login",
      lit(null)).otherwise(col("hour")))
    assert(LogQuality.runAll(badStg, badFct) ===
      Map("stg_not_null" -> 1L, "status_range" -> 1L, "fct_not_null" -> 1L))
  }
}
