package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File

/** One benchmark run: one workload, one seed, one measurement window.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <scratch dir> --reports <dir> [--smoke 1]
  *
  * The last stdout line is the result object. Every sample, the dispatch
  * sides taken and any failure go to `<reports>/<workload>-<seed>-t<trace>.json`,
  * traced spans to the matching `.jsonl`.
  */
object Main {

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "batch_build" -> BatchBuild.run,
    "stream_drops" -> StreamDrops.run)

  val Cores = 4

  def main(args: Array[String]): Unit = {
    require(args.length % 2 == 0, s"expected --flag value pairs, got ${args.mkString(" ")}")
    val opts = args.grouped(2).map { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"$k is required"))
    val workload = opt("--workload")
    val run = Workloads.getOrElse(workload,
      sys.error(s"unknown workload $workload; one of ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val seed = opt("--seed").toLong
    val traced = opt("--trace") match {
      case "0" => false
      case "1" => true
      case t => sys.error(s"--trace must be 0 or 1, got $t")
    }
    val work = new File(opt("--work"))
    val reports = new File(opt("--reports"))
    val smoke = opts.get("--smoke").contains("1")

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rec = new Recorder(spark)
    val ctx = Ctx(spark, rec, seed, opt("--seconds").toDouble, traced, smoke, work, Cores)
    val name = s"$workload-$seed-t${if (traced) 1 else 0}"
    val outcome =
      try Common.guarded(workload)(run(ctx))
      finally {
        if (traced) rec.writeJsonl(new File(reports, s"$name.jsonl").toPath)
      }
    outcome match {
      case Right(o) =>
        writeReport(new File(reports, s"$name.json"), workload, seed, traced, o)
        o.failures.foreach(f => System.err.println(s"""{"failure":${Stats.jsonString(f)}}"""))
        val line = Report.json(o, traced)
        spark.stop()
        println(line)
      case Left(err) =>
        System.err.println(s"""{"failure":${Stats.jsonString(err)}}""")
        spark.stop()
        sys.exit(1)
    }
  }

  private def writeReport(f: File, workload: String, seed: Long, traced: Boolean, o: Outcome): Unit = {
    def obj(m: Map[String, Double]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"${Stats.jsonString(k)}:${Stats.jsonNumber(v)}" }
        .mkString("{", ",", "}")
    val detail = o.detail.toSeq.sortBy(_._1).map { case (k, v) => s"${Stats.jsonString(k)}:$v" }
    val json =
      s"""{"workload":${Stats.jsonString(workload)},"seed":$seed,"trace":$traced,""" +
        s""""attempted":${o.attempted},"failures":${o.failures.map(Stats.jsonString).mkString("[", ",", "]")},""" +
        s""""end_to_end":${obj(o.endToEnd)},"per_layer":${obj(o.perLayer)},""" +
        s""""detail":{${detail.mkString(",")}}}"""
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, (json + "\n").getBytes("UTF-8"))
  }
}
