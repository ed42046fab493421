package graft.tools

import org.apache.spark.sql.execution.FormattedMode

import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` for named declared queries to
  * plans/r06/<query>_<suffix>.txt — the optimization round's plan-shape
  * evidence (run once with suffix `before` on the pre-change tree and
  * once with `after`).
  *
  *   sbt "runMain graft.tools.PlanDump before kg_gazetteer_salted ..."
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanDump <suffix> [query ...]")
    val suffix = args.head
    val names = if (args.length > 1) args.tail.toSeq else Seq(
      "kg_gazetteer_disambig", "kg_gazetteer_salted", "t_lang_ngram")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = BenchOne.session()
    Files.createDirectories(Paths.get("plans/r06"))
    for (name <- names) {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(FormattedMode)
      Files.writeString(Paths.get(s"plans/r06/${name}_$suffix.txt"), plan)
      System.err.println(s"[plandump] wrote plans/r06/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
