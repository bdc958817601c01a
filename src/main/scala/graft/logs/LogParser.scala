package graft.logs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Nginx "combined"-format access-log parser.
  *
  * Behavior matches the reference ETL (reference: etl/ingest_logs.py:8-30):
  *   - one record per line; blank and non-matching lines are DROPPED, not
  *     null-filled (ingest_logs.py:16-17,43-47);
  *   - the line is TRIMMED before matching and separators are `\s+`
  *     (ingest_logs.py:8-12,15 — the reference's grammar is tolerant of
  *     repeated whitespace);
  *   - the bytes field must be digits or `-` (`(?:\d+|-)`); a line with a
  *     non-numeric bytes token fails the match and is dropped
  *     (ingest_logs.py:11);
  *   - the timezone offset in the bracketed timestamp is DISCARDED before
  *     parsing (naive-timestamp semantics, ingest_logs.py:18-20);
  *   - `bytes_sent == "-"` is coerced to 0, never null (ingest_logs.py:21-22).
  *
  * ANSI safety: Spark 4 defaults `spark.sql.ansi.enabled=true`, so a plain
  * `cast`/`to_timestamp` on a garbage token would THROW instead of yielding
  * null. Only grammar-matching lines reach the casts, and the timestamp and
  * bytes use `try_` forms, so a line whose bracketed field matches `[^\]]+`
  * but is not a real datetime is dropped rather than crashing the job.
  *
  * Implementation is Catalyst expressions and generators, no UDF, fully
  * parallel over however many input splits the text scan produces. At
  * 100 TB of raw logs this is a map-only stage: no shuffle, scales linearly
  * with executors.
  */
object LogParser {

  /** Same grammar as the reference's named-group regex
    * (reference: etl/ingest_logs.py:8-12), with Java group indexes:
    * 1=ip 2=ts 3=method 4=path 5=proto 6=status 7=bytes 8=ua.
    * The referer group is non-capturing, exactly like the reference.
    */
  val LogPattern: String =
    """^(\S+)\s+\S+\s+\S+\s+\[([^\]]+)\]\s+"(\S+)\s+(\S+)\s+([^"]+)"\s+(\d{3})\s+(\d+|-)\s+"[^"]*"\s+"([^"]*)"$"""

  /** Names of [[LogPattern]]'s capture groups, in group order. */
  private val GroupNames: Seq[String] = Seq("client_ip", "ts_text", "method",
    "request_path", "proto", "status_text", "bytes_text", "user_agent")

  /** Raw lines (`value: string`) → typed parsed records.
    * Columns: client_ip, ts, method, request_path, status, bytes_sent,
    * user_agent. Malformed lines dropped, never errored.
    *
    * The grammar and the timestamp are each evaluated ONCE per line.
    * Neither drop can be a `Filter`: Catalyst pushes a filter beneath
    * the projection that computes its input and copies the expression
    * into it, so a `select → filter → select` formulation runs the
    * match once in the filter and again for every extracted field. Both
    * drops are therefore steps that emit zero or one row:
    *   1. [[graft.functions.RegexpGroups]] generates the capture groups
    *      of a matching line and nothing for any other;
    *   2. the typed record is built once, in its own projection
    *      beneath the second generator, so whole-stage codegen compiles
    *      its casts and its timestamp parse; above it a one-element
    *      array's `filter` keeps the record only when the timestamp and
    *      the bytes parsed, and `inline` emits what is left (only that
    *      null test runs interpreted).
    * Every cast sits behind the match, so each sees grammar-shaped
    * input (ANSI-safe): `status` is three digits; the timestamp and the
    * bytes use `try_` forms, so a bracketed field that is not a real
    * datetime, or a >19-digit bytes token, yields NULL and the line is
    * dropped rather than crashing the job.
    */
  def parse(lines: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    val groups = Bridge.column(graft.functions.RegexpGroups(
      Bridge.expression(trim(col("value"))), LogPattern, GroupNames))
    val bytes = col("bytes_text")
    val record = struct(
      col("client_ip"),
      // TZ offset discarded: take the part before the space
      try_to_timestamp(substring_index(col("ts_text"), " ", 1),
        lit("dd/MMM/yyyy:HH:mm:ss")).as("ts"),
      col("method"),
      col("request_path"),
      col("status_text").cast(IntegerType).as("status"),
      when(bytes === "-", lit("0")).otherwise(bytes).try_cast(LongType)
        .as("bytes_sent"),
      col("user_agent"))
    lines
      .select(groups)
      .select(record.as("r"))
      .select(inline(filter(array(col("r")),
        r => r("ts").isNotNull && r("bytes_sent").isNotNull)))
  }

  /** Text-file scan + parse (reference: etl/ingest_logs.py:41-47). */
  def readLogs(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    parse(spark.read.text(path))
}
