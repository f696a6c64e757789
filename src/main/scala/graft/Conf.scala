package graft

import org.apache.spark.sql.SparkSession

/** The one reader of graft's `spark.graft.*` session settings: an unset key
  * yields its default; a malformed value fails with an
  * `IllegalArgumentException` naming the key and the value, instead of a
  * bare `NumberFormatException` from deep inside query construction. */
object Conf {
  def long(spark: SparkSession, key: String, default: Long): Long =
    read(spark, key, default, "an integer")(_.toLong)

  def int(spark: SparkSession, key: String, default: Int): Int =
    read(spark, key, default, "an integer")(_.toInt)

  def boolean(spark: SparkSession, key: String, default: Boolean): Boolean =
    read(spark, key, default, "true or false")(_.toBoolean)

  private def read[T](spark: SparkSession, key: String, default: T, expected: String)(
      parse: String => T): T =
    spark.conf.getOption(key) match {
      case None => default
      case Some(raw) =>
        try parse(raw)
        catch {
          case e: IllegalArgumentException =>
            throw new IllegalArgumentException(s"$key must be $expected, got '$raw'", e)
        }
    }
}
