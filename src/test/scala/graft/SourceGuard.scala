package graft

/** Source guards: specs that keep one module the only place in the
  * program that does a given thing search the program's sources here.
  */
object SourceGuard {

  /** `file:line: text` of every program source line outside `allowed`
    * that contains one of `needles`.
    */
  def lines(allowed: Set[String], needles: String*): Seq[String] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"source root not found from ${new java.io.File(".").getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    for {
      file <- walk(root) if file.getName.endsWith(".scala") && !allowed(file.getName)
      src = scala.io.Source.fromFile(file, "UTF-8")
      (line, i) <- (try src.getLines().toList finally src.close()).zipWithIndex
      if needles.exists(line.contains)
    } yield s"${file.getPath}:${i + 1}: ${line.trim}"
  }
}
