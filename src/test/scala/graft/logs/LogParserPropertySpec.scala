package graft.logs

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property: the parser is TOTAL — any input line either parses or is
  * dropped; it never throws (Spark 4 ANSI mode would happily crash the
  * job on a bad cast if the parser were sloppy). Uses raw ScalaCheck
  * generators with a fixed seed (scalatestplus bridge not available in
  * the offline dependency set).
  */
class LogParserPropertySpec extends SparkSpec {

  private val junkLine: Gen[String] = Gen.oneOf(
    Gen.asciiPrintableStr,
    Gen.alphaNumStr,
    // near-miss lines: valid prefix, corrupted tail
    Gen.alphaNumStr.map(s =>
      s"""1.2.3.4 - - [10/Nov/2025:10:00:00 +0000] "GET /$s HTTP/1.1" $s $s "-" "ua""""),
    // bracket garbage
    Gen.alphaNumStr.map(s =>
      s"""1.2.3.4 - - [$s] "GET / HTTP/1.1" 200 5 "-" "ua"""")
  )

  private def samples(g: Gen[String], n: Int): Seq[String] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("arbitrary junk lines: parse or drop, never throw") {
    import spark.implicits._
    val lines = samples(junkLine, 200)
    // collect() forces execution; ANSI-mode cast errors would surface here
    val n = LogParser.parse(lines.toDS().toDF("value")).count()
    assert(n >= 0 && n <= lines.length)
  }

  test("valid lines always parse regardless of field content") {
    import spark.implicits._
    val validLine = for {
      ip <- Gen.oneOf("1.2.3.4", "10.0.0.1", "::1")
      day <- Gen.choose(1, 28)
      hour <- Gen.choose(0, 23)
      path <- Gen.oneOf("/", "/a", "/a/b?x=1&y=2", "/health")
      status <- Gen.choose(100, 599)
      bytes <- Gen.oneOf("-", "0", "17", "123456789")
      ua <- Gen.oneOf("Mozilla/5.0", "curl/8.1.2", "")
    } yield f"""$ip - - [$day%02d/Nov/2025:$hour%02d:00:00 +0530] "GET $path HTTP/1.1" $status $bytes "-" "$ua""""
    val lines = samples(validLine, 100)
    val n = LogParser.parse(lines.toDS().toDF("value")).count()
    assert(n === lines.length)
  }

  test("the optimized parse plan evaluates the grammar and the timestamp once") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, GetTimestamp}
    // a text scan, as in the pipeline: over a local relation the optimizer
    // would fold the whole parse away
    val raw = java.nio.file.Files.createTempFile("nginx", ".log")
    java.nio.file.Files.write(raw, LogFixture.lines.mkString("\n").getBytes)
    val plan = LogParser.readLogs(spark, raw.toString).queryExecution.optimizedPlan
    def count(p: Expression => Boolean): Int =
      plan.collect { case op => op.expressions.map(_.collect {
        case e if p(e) => e }.size).sum }.sum
    assert(count(_.isInstanceOf[graft.functions.RegexpGroups]) === 1, plan.toString)
    assert(count(_.isInstanceOf[GetTimestamp]) === 1, plan.toString)
  }
}
