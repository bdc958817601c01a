package graft

import org.apache.spark.sql.SparkSession

/** Typed reads of the engine's numeric and boolean `graft.*` session
  * settings and of the mains' numeric environment variables. An unset
  * key yields the default; a value that does not parse fails with an
  * IllegalArgumentException naming the key and the value — never a
  * bare parse error, never a silent fallback.
  */
object GraftConf {

  def int(spark: SparkSession, key: String, default: Int): Int =
    parse(key, spark.conf.getOption(key), default, "an integer")(_.toInt)

  def long(spark: SparkSession, key: String, default: Long): Long =
    parse(key, spark.conf.getOption(key), default, "an integer")(_.toLong)

  def double(spark: SparkSession, key: String, default: Double): Double =
    parse(key, spark.conf.getOption(key), default, "a number")(_.toDouble)

  /** `true` or `false` (any case); any other value fails naming the key. */
  def bool(spark: SparkSession, key: String, default: Boolean): Boolean =
    parse(key, spark.conf.getOption(key), default, "true or false")(
      _.toLowerCase match {
        case "true" => true
        case "false" => false
        case _ => throw new IllegalArgumentException
      })

  /** An integer environment variable of a main (for example
    * `SPARK_GRAFT_CPUS`): unset yields the default, a malformed value
    * fails naming the variable and the value.
    */
  def envInt(name: String, default: Int, env: Map[String, String] = sys.env): Int =
    parse(name, env.get(name), default, "an integer")(_.toInt)

  private def parse[T](key: String, value: Option[String], default: T,
                       expected: String)(read: String => T): T =
    value match {
      case None => default
      case Some(raw) =>
        try read(raw.trim)
        catch {
          case e: IllegalArgumentException => throw new IllegalArgumentException(
            s"malformed $key = '$raw' (expected $expected)", e)
        }
    }
}
