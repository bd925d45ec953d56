package graft.app

/** Strict `--flag value` command-line parsing shared by the entry points.
  * A misspelled flag, a flag whose value was forgotten, or a malformed
  * number is rejected with a message naming the flag: silently running
  * with defaults would write the wrong output.
  */
final case class Flags(values: Map[String, String]) {
  def get(flag: String): Option[String] = values.get(flag)
  def getOrElse(flag: String, default: => String): String = values.getOrElse(flag, default)
  def int(flag: String): Option[Int] = number(flag, "an integer")(_.toInt)
  def long(flag: String): Option[Long] = number(flag, "an integer")(_.toLong)
  def double(flag: String): Option[Double] = number(flag, "a number")(_.toDouble)

  private def number[T](flag: String, what: String)(parse: String => T): Option[T] =
    values.get(flag).map { v =>
      try parse(v) catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"$flag: expected $what, got '$v'")
      }
    }
}

object Flags {
  def parse(args: Array[String], known: Set[String]): Flags = {
    require(args.length % 2 == 0,
      s"dangling argument '${args.last}': every flag takes exactly one value")
    val pairs = args.grouped(2).map { case Array(k, v) => k -> v }.toSeq
    val unknown = pairs.map(_._1).toSet -- known
    require(unknown.isEmpty,
      s"unknown flag(s) ${unknown.toSeq.sorted.mkString(", ")}; " +
        s"known: ${known.toSeq.sorted.mkString(", ")}")
    pairs.find { case (_, v) => known(v) }.foreach { case (k, v) =>
      throw new IllegalArgumentException(s"$k: missing value (got the flag $v)")
    }
    Flags(pairs.toMap)
  }
}
