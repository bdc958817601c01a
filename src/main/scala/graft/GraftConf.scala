package graft

import org.apache.spark.sql.SparkSession

/** Typed reads of the engine's numeric `graft.*` session settings. An
  * unset key yields the default; a value that does not parse fails
  * with an IllegalArgumentException naming the key and the value —
  * never a bare NumberFormatException, never a silent fallback.
  */
object GraftConf {

  def int(spark: SparkSession, key: String, default: Int): Int =
    parse(spark, key, default, "an integer")(_.toInt)

  def long(spark: SparkSession, key: String, default: Long): Long =
    parse(spark, key, default, "an integer")(_.toLong)

  def double(spark: SparkSession, key: String, default: Double): Double =
    parse(spark, key, default, "a number")(_.toDouble)

  private def parse[T](spark: SparkSession, key: String, default: T,
                       expected: String)(read: String => T): T =
    spark.conf.getOption(key) match {
      case None => default
      case Some(raw) =>
        try read(raw.trim)
        catch {
          case e: NumberFormatException => throw new IllegalArgumentException(
            s"malformed $key = '$raw' (expected $expected)", e)
        }
    }
}
