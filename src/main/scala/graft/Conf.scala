package graft

import org.apache.spark.sql.SparkSession

/** The one reader of graft's settings — the `spark.graft.*` session keys
  * and the positive-integer environment variables: an unset key yields its
  * default; a malformed value fails with an `IllegalArgumentException`
  * naming the key and the value, instead of a bare `NumberFormatException`
  * from deep inside query construction. */
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

  /** A positive-integer setting from outside the program, e.g. an
    * environment variable: `raw` is its value (None when unset, which
    * yields `default`). Anything else fails with an
    * `IllegalArgumentException` naming the setting and the value. */
  def positiveInt(name: String, raw: Option[String], default: Int): Int =
    raw.fold(default)(s => s.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(s"$name must be a positive integer, got '$s'")))

  /** The `local[N]` thread count every entry point runs with. */
  def cpus: Int = env("SPARK_GRAFT_CPUS", 4)

  /** [[positiveInt]] over the environment variable `name`. */
  def env(name: String, default: Int): Int = positiveInt(name, sys.env.get(name), default)
}
