package graft

import org.apache.spark.sql.internal.SQLConf

/** The one parse path for graft's `spark.graft.*` session settings: an
  * unset key takes the reader's default, and a malformed value fails
  * with a message naming the key and the value, from whichever plan or
  * commit reads it, never as a bare `NumberFormatException`. Booleans
  * parse like Spark's own: `true` or `false` in any case.
  */
private[graft] object GraftConf {
  def int(conf: SQLConf, key: String, default: Int): Int =
    parse(conf, key, default, "an int")(_.toIntOption)

  def long(conf: SQLConf, key: String, default: Long): Long =
    parse(conf, key, default, "a long")(_.toLongOption)

  def boolean(conf: SQLConf, key: String, default: Boolean): Boolean =
    parse(conf, key, default, "true or false")(_.toBooleanOption)

  private def parse[T](conf: SQLConf, key: String, default: T, what: String)(
      read: String => Option[T]): T =
    Option(conf.getConfString(key, null)).fold(default)(raw =>
      read(raw).getOrElse(throw new IllegalArgumentException(
        s"$key must be $what, got '$raw'")))
}
