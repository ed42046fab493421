package graft.tools

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** BenchOne name resolution (Spark-free) and the guard that keeps
  * `graft.tools` down to the dev mains: a new measurement is a BenchOne
  * stage, not a new main.
  */
class BenchOneSpec extends AnyFunSuite {

  test("every bench stage, with and without its argument, and every declared query resolves") {
    val names = Seq("kg_flagship_build", "kg_scale_linking", "kg_stream_scale", "kg_stream_job",
      "kg_incr_job", "kg_incr_job:16", "kg_incr_seq", "kg_incr_seq:2") ++
      graft.SparkEntry.queries.keys
    for (name <- names) assert(BenchOne.resolve(name).name == name)
  }

  test("an unknown name or a bad argument fails and lists the valid stage names") {
    for (name <- Seq("kg_flagship", "t_lang_ngram:3", "kg_flagship_build:2",
        "kg_incr_job:", "kg_incr_job:x", "kg_incr_seq:0", "kg_incr_job:-4")) {
      val e = intercept[IllegalArgumentException](BenchOne.resolve(name))
      assert(e.getMessage.contains(s"'$name'"), e.getMessage)
      for (stage <- BenchOne.stageNames) assert(e.getMessage.contains(stage), e.getMessage)
    }
  }

  test("a bad name fails before the session starts") {
    val before = SparkSession.getDefaultSession
    val e = intercept[IllegalArgumentException](BenchOne.main(Array("no_such_query,t_lang_ngram", "1")))
    assert(e.getMessage.contains("'no_such_query'"), e.getMessage)
    assert(SparkSession.getDefaultSession == before, "BenchOne built a session before resolving its names")
  }

  test("graft.tools holds only the dev mains") {
    val allowed = Set("BenchOne", "DevCheck", "GoldenGen", "PlanDump", "TagMicro")
    val root = new java.io.File("src/main/scala/graft/tools")
    assert(root.isDirectory, s"tools directory not found from ${new java.io.File(".").getAbsolutePath}")
    val objectDecl = """\bobject\s+(\w+)""".r
    val mains = for {
      file <- root.listFiles().toSeq if file.getName.endsWith(".scala")
      src = java.nio.file.Files.readString(file.toPath)
      m <- """\bdef\s+main\s*\(""".r.findAllMatchIn(src)
    } yield objectDecl.findAllMatchIn(src.take(m.start)).toSeq.lastOption
      .map(_.group(1)).getOrElse(s"${file.getName} (no enclosing object)")
    assert(mains.contains("BenchOne"), s"guard found no BenchOne main: $mains")
    val extra = mains.toSet -- allowed
    assert(extra.isEmpty,
      s"new mains under graft/tools: ${extra.mkString(", ")} — add the measurement as a BenchOne stage")
  }
}
