package graft

import scala.jdk.CollectionConverters._

/** The command line's `--name value` / `--name=value` flags as one map
  * (`=` splits at its first occurrence, so a value may hold `=`; the first
  * of a repeated flag wins). Every config parser reads its settings through
  * one of these, and the CLI hands the same map to the sources as their
  * options, so a source option and its flag share one name and one default.
  *
  * Reads are recorded: after a command has parsed all of its configs,
  * [[requireAllRead]] rejects any flag none of them asked for (kingpin,
  * which the reference uses, rejects unknown flags too).
  */
final class Flags(val values: Map[String, String]) {
  private val asked = scala.collection.mutable.Set.empty[String]

  def get(name: String): Option[String] = { asked += name; values.get(name) }
  def str(name: String, default: String): String = get(name).getOrElse(default)
  def int(name: String, default: => Int): Int = get(name).fold(default)(_.toInt)
  def long(name: String, default: Long): Long = get(name).fold(default)(_.toLong)
  def bool(name: String, default: Boolean): Boolean = get(name).fold(default)(_.toBoolean)
  /** A kingpin duration (`30s`, `1m30s`, a bare millisecond count) in ms. */
  def durationMs(name: String, default: String): Long =
    graft.streaming.PulsarSink.parseDurationMs(str(name, default), name)
  /** The first of `names` given wins: the reference spelling, then an alias. */
  def first(names: Seq[String], default: String): String =
    names.flatMap(get).headOption.getOrElse(default)
  /** A source option the CLI does not take: reading it accepts no flag. */
  def option(name: String): Option[String] = values.get(name)

  def requireAllRead(): Unit = {
    val unknown = values.keys.filterNot(asked).toSeq.sorted
    if (unknown.nonEmpty)
      throw new Flags.UsageError(s"unknown flag ${unknown.map("--" + _).mkString(", ")}")
  }
}

object Flags {
  /** A command line that is not `--name value` pairs, or names a flag no
    * config reads; the CLI exits with status 2.
    */
  final class UsageError(msg: String) extends IllegalArgumentException(msg)

  def apply(kv: (String, String)*): Flags = new Flags(kv.toMap)
  def apply(options: java.util.Map[String, String]): Flags = new Flags(options.asScala.toMap)

  def parse(args: Seq[String]): Flags = {
    @scala.annotation.tailrec
    def loop(rest: List[String], m: Map[String, String]): Map[String, String] = {
      def add(name: String, value: String) = if (m.contains(name)) m else m.updated(name, value)
      rest match {
        case Nil => m
        case a :: t if a.startsWith("--") && a.contains('=') =>
          val i = a.indexOf('=')
          loop(t, add(a.substring(2, i), a.substring(i + 1)))
        case a :: v :: t if a.startsWith("--") => loop(t, add(a.drop(2), v))
        case a :: _ => throw new UsageError(
          if (a.startsWith("--")) s"flag $a needs a value"
          else s"unexpected argument '$a' (flags are --name value or --name=value)")
      }
    }
    new Flags(loop(args.toList, Map.empty))
  }
}
