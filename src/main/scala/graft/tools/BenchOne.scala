package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev tool: time SparkEntry queries or named bench stages k times in a
  * single JVM, interleaved, and print all walls + the minimum — the
  * min-of-k estimator this host's CPU steal demands (BENCH/BASELINE.md).
  * Each stage times the quantity `graft.Bench` records under its name:
  *
  *   kg_flagship_build       cold Kg.built + Bench's three counts
  *   kg_scale_linking        ScaleLinking.run (phase walls printed)
  *   kg_stream_scale         StreamingScale.run
  *   kg_stream_job           StreamJobScale.run(...).sec
  *   kg_incr_job[:batchMod]  IncrScale.run(...).applySec
  *   kg_incr_seq[:n]         IncrScale.runSequential: sum of n apply
  *                           walls (each printed)
  *
  * Usage: runMain graft.tools.BenchOne <name>[,<name2>...] [k]
  * BENCH_EVENTLOG=true writes Spark event logs to BENCH_EVENTLOG_DIR.
  */
object BenchOne {

  /** A resolved name: runs once and returns the wall it is timed by. */
  final case class Stage(name: String, run: (SparkSession, String) => Double)

  val stageNames: Seq[String] = Seq("kg_flagship_build", "kg_scale_linking",
    "kg_stream_scale", "kg_stream_job", "kg_incr_job[:batchMod]", "kg_incr_seq[:n]")

  private def wall(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Resolves `name` (and its `:arg`) without touching Spark, so a typo
    * fails before the session starts and before any other name runs.
    */
  def resolve(name: String): Stage = {
    def bad(why: String) = throw new IllegalArgumentException(
      s"BenchOne: $why; valid stage names: ${stageNames.mkString(", ")}, " +
        s"or one of the ${graft.SparkEntry.queries.size} SparkEntry.queries keys")
    def positive(arg: String): Int =
      arg.toIntOption.filter(_ > 0).getOrElse(bad(s"'$name' needs a positive integer after ':'"))
    val run: (SparkSession, String) => Double = name.split(":", 2) match {
      case Array("kg_flagship_build") => (spark, sfDir) => {
        graft.Kg.evict(sfDir)
        wall {
          val b = graft.Kg.built(spark, sfDir)
          b.out.resolvedTriples.count(); b.out.tagged.count(); b.out.entities.count()
        }
      }
      case Array("kg_scale_linking") => (spark, _) => {
        val w = wall(graft.pipeline.ScaleLinking.run(spark))
        for ((phase, sec) <- graft.pipeline.ScaleLinking.lastPhaseWalls)
          println(f"[benchone]   kg_scale_linking__$phase $sec%.3f s")
        w
      }
      case Array("kg_stream_scale") => (spark, _) => wall(graft.streaming.StreamingScale.run(spark))
      case Array("kg_stream_job") => (spark, sfDir) => graft.streaming.StreamJobScale.run(spark, sfDir).sec
      case Array("kg_incr_job", rest @ _*) =>
        val mod = rest.headOption.map(positive).getOrElse(1024)
        (spark, sfDir) => graft.pipeline.IncrScale.run(spark, sfDir, batchMod = mod).applySec
      case Array("kg_incr_seq", rest @ _*) =>
        val n = rest.headOption.map(positive).getOrElse(3)
        (spark, sfDir) => {
          val (priorSec, walls) = graft.pipeline.IncrScale.runSequential(spark, sfDir, n)
          println(f"[benchone]   kg_incr_seq prior_full_job=$priorSec%.2f s applies=" +
            walls.map(w => f"$w%.2f").mkString(","))
          walls.sum
        }
      case Array(q) if graft.SparkEntry.queries.contains(q) =>
        (spark, sfDir) => wall(graft.SparkEntry.queries(q)(spark, sfDir).count())
      case _ => bad(s"unknown name '$name'")
    }
    Stage(name, run)
  }

  /** The dev-tool session: `SPARK_GRAFT_CPUS` (else every core this host
    * has) local threads and shuffle partitions, AQE, UTC; Spark event
    * logs when BENCH_EVENTLOG=true.
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.eventLog.enabled", sys.env.getOrElse("BENCH_EVENTLOG", "false"))
      .config("spark.eventLog.dir", sys.env.getOrElse("BENCH_EVENTLOG_DIR", "/tmp/bench_events"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val stages = args.headOption.getOrElse("t_lang_ngram").split(',').toSeq.map(resolve)
    val k = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session()
    val walls = scala.collection.mutable.Map.empty[String, List[Double]]
    for (round <- 1 to k; stage <- stages) {
      val w = stage.run(spark, sfDir)
      walls(stage.name) = w :: walls.getOrElse(stage.name, Nil)
      println(f"[benchone] round=$round ${stage.name} wall=$w%.3f s")
    }
    for (stage <- stages)
      println(f"[benchone] MIN ${stage.name} ${walls(stage.name).min}%.3f s over $k rounds")
    spark.stop()
  }
}
