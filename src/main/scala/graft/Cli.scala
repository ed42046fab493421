package graft

/** The strict `--flag value` parse of the job mains (ADVICE r3): a misspelled
  * flag or a dangling token fails loudly instead of falling back to a default. */
object Cli {
  def flags(args: Array[String], known: Set[String]): Map[String, String] = {
    if (args.length % 2 != 0)
      sys.error(s"odd argument list ${args.mkString(" ")}; expected --flag value pairs " +
        s"from ${known.mkString(", ")}")
    val pairs = args.grouped(2).map { case Array(k, v) => k -> v }.toSeq
    val unknown = pairs.map(_._1).filterNot(known)
    if (unknown.nonEmpty)
      sys.error(s"unknown option(s) ${unknown.mkString(", ")}; accepted: ${known.mkString(", ")}")
    pairs.toMap
  }
}
