package perfbench

import graft.StreamJob
import graft.corpus.Turn
import graft.pipeline.{KgPipeline, NerTraining}
import graft.streaming.StreamingIngest
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

/** stream_drops: `graft.StreamJob` against a drop directory, in two phases.
  *
  * Phase 1, open loop: one generator thread renames pre-written drops into
  * the watched directory on a fixed schedule, well below backfill
  * capacity; each drop's lag runs from its scheduled time to the commit of
  * the manifest of the micro-batch that holds it. Phase 2, closed loop:
  * `--once` backfills of a fixed backlog, each into a fresh output.
  *
  * Why: the streaming layer (file source, watermark dedupe state,
  * foreachBatch resolve, per-batch manifests) runs in no other workload.
  * Small drops expose the fixed per-batch cost; the backfill exposes
  * throughput.
  */
object StreamDrops {

  /** `warmDrops` lead the open-loop schedule and are not measured;
    * `drops` follow them and are.
    */
  final case class Sizes(canonConvs: Long, warmDrops: Int, drops: Int, convsPerDrop: Long,
      backlogConvs: Long, warmConvs: Long) {
    def allDrops: Int = warmDrops + drops
  }

  /** Drops land every `DropIntervalMs`. */
  val DropIntervalMs = 60L

  /** Share of the measurement window given to the open-loop phase. */
  val OpenLoopShare = 0.7

  /** Open-loop warm-up before the measured drops. A query's micro-batches
    * keep getting faster over its first ~15 (from ~1.5 s to ~0.7 s on 4
    * vCPUs) while the JIT compiles the streaming path. Measured inside
    * that stretch, the median lag spread 0.15 of its median over ten runs;
    * after this warm-up, 0.08.
    */
  val WarmupS = 12.0

  def sizes(ctx: Ctx): Sizes =
    if (ctx.smoke) Sizes(200L, 4, 12, 5L, 200L, 50L)
    else Sizes(300L, (WarmupS * 1000 / DropIntervalMs).toInt,
      math.ceil(ctx.seconds * OpenLoopShare * 1000 / DropIntervalMs).toInt, 6L, 4000L, 300L)

  final case class Inputs(model: String, canon: String, drops: Seq[String],
      backlog: String, backlogTurns: Long, warm: String)

  /** The seeded inputs: drops (one file each), the backlog and a small
    * warm-up backlog. Drops are consecutive conversation ranges, so event
    * time only grows and no row falls behind the watermark.
    */
  def inputs(ctx: Ctx): (Seq[String], String, String) = {
    val spark = ctx.spark
    val s = sizes(ctx)
    val dropBase = Common.convBase(ctx.seed, 3) + s.canonConvs
    val stage = ctx.dir("stream/stage")
    Common.turns(spark, dropBase, s.allDrops * s.convsPerDrop)
      .withColumn("drop", (expr("CAST(substring(conv_id, 2) AS BIGINT)") - lit(dropBase)) /
        lit(s.convsPerDrop) cast "int")
      .repartition(col("drop"))
      .write.partitionBy("drop").parquet(stage)
    val drops = (0 until s.allDrops).map { d =>
      val files = new File(stage, s"drop=$d").listFiles().filter(_.getName.endsWith(".parquet"))
      require(files.length == 1, s"drop $d was written as ${files.length} files")
      files.head.getAbsolutePath
    }
    val backlogBase = dropBase + s.allDrops * s.convsPerDrop
    val backlog = ctx.dir("stream/backlog")
    Common.turns(spark, backlogBase, s.backlogConvs).write.parquet(backlog)
    val warm = ctx.dir("stream/warm")
    Common.turns(spark, backlogBase + s.backlogConvs, s.warmConvs).write.parquet(warm)
    (drops, backlog, warm)
  }

  /** The repeated part of the program's set-up: train and persist the model. */
  def setup(ctx: Ctx, rep: Int): String = {
    val model = ctx.dir(s"stream/model-$rep")
    Common.saveModel(ctx.spark, Common.convBase(ctx.seed, 3), sizes(ctx).canonConvs, model)
    model
  }

  /** The rest of the set-up, once: batch linking over the model's window
    * publishes the canonical map the stream resolves against.
    */
  def publishCanon(ctx: Ctx, model: String): String = {
    val spark = ctx.spark
    val canon = ctx.dir("stream/canon")
    val bc = spark.sparkContext.broadcast(NerTraining.load(spark, model))
    val linked = KgPipeline.run(spark,
      Common.turns(spark, Common.convBase(ctx.seed, 3), sizes(ctx).canonConvs), bc)
    StreamingIngest.publishCanonMap(KgPipeline.canonicalize(linked.nodes, linked.components), canon)
    linked.tagged.unpersist()
    linked.nodes.unpersist()
    bc.destroy()
    canon
  }

  /** A copy of the published map for one query. Each query then loads and
    * caches its own map, as a freshly started StreamJob does; queries in
    * one JVM reading the same directory would share the first one's cache.
    */
  def canonFor(ctx: Ctx, in: Inputs, name: String): String = {
    val dir = ctx.dir(s"stream/canon-$name")
    org.apache.commons.io.FileUtils.copyDirectory(new File(in.canon), new File(dir))
    dir
  }

  /** Batch resolve of `turns` against the published map: the reference
    * the stream's committed output must equal.
    */
  def reference(ctx: Ctx, in: Inputs, turnsDir: String): (Long, Long) = {
    val spark = ctx.spark
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(NerTraining.load(spark, in.model))
    val turns = spark.read.parquet(turnsDir).select("conv_id", "turn_idx", "role", "text",
      "tool", "ts").as[Turn]
    val fp = Common.fingerprint(KgPipeline.resolveTriples(
      KgPipeline.tripleRows(KgPipeline.tagTurns(turns, bc)), spark.read.parquet(in.canon)))
    bc.destroy()
    fp
  }

  /** One `--once` backfill of `input` into `out`; its query id. */
  def backfill(ctx: Ctx, in: Inputs, input: String, canon: String, out: String): String = {
    val q = StreamJob.run(ctx.spark, input, in.model, canon, out, once = true)
    q.awaitTermination()
    q.id.toString
  }

  /** Every committed manifest's rows add up to the output read back, and
    * the output equals the batch resolve.
    */
  def gateOutput(ctx: Ctx, out: String, want: (Long, Long)): Unit = {
    val got = Common.fingerprint(ctx.spark.read.parquet(s"$out/resolved_triples"))
    val manifested = Common.manifestRows(new File(out, "_manifests"), "stream-resolved-batch-")
    require(manifested == got._1, s"manifests commit $manifested rows, output holds ${got._1}")
    require(got == want, s"stream output (rows, fp) $got != batch resolve $want")
  }

  /** `lagsS` in drop order, warm-up drops included; `measuredFromMs` is
    * the scheduled time of the first measured drop.
    */
  final case class OpenLoop(lagsS: Seq[Option[Double]], lateMs: Seq[Long], queryId: String,
      startMs: Long, measuredFromMs: Long, endMs: Long, wallNs: Long) {
    def missing: Seq[Int] = lagsS.indices.filter(lagsS(_).isEmpty)
  }

  /** Phase 1: drops renamed into place every `intervalMs`, the first
    * `warmDrops` of them the warm-up; returns each drop's lag once every
    * drop is committed (or the wait times out).
    */
  def openLoop(ctx: Ctx, in: Inputs, intervalMs: Long, warmDrops: Int): OpenLoop = {
    val watched = new File(ctx.dir("stream/watched"))
    watched.mkdirs()
    val out = ctx.dir("stream/p1")
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val q = StreamJob.run(ctx.spark, watched.getAbsolutePath, in.model, canonFor(ctx, in, "p1"), out)
    val firstDue = System.currentTimeMillis() + 500
    val names = in.drops.indices.map(d => f"drop-$d%05d.parquet")
    val due = names.indices.map(d => names(d) -> (firstDue + d * intervalMs)).toMap
    val late = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val generator = new Thread(() => {
      for (d <- in.drops.indices) {
        val wait = due(names(d)) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        Files.move(new File(in.drops(d)).toPath, new File(watched, names(d)).toPath,
          StandardCopyOption.ATOMIC_MOVE)
        late.add(System.currentTimeMillis() - due(names(d)))
      }
    }, "perfbench-drop-generator")
    generator.start()
    val ckpt = new File(out, "_checkpoint_resolved")
    def lags() = Lag.lags(due, Lag.sourceOffsets(new File(ckpt, "sources/0")),
      Lag.batchEnds(new File(ckpt, "offsets")),
      Lag.manifestCommits(new File(out, "_manifests"), "stream-resolved-batch"))
    val giveUp = firstDue + in.drops.length * intervalMs + 60000
    var current = lags()
    try {
      while ((generator.isAlive || current.values.exists(_.isEmpty)) &&
          System.currentTimeMillis() < giveUp && q.exception.isEmpty) {
        Thread.sleep(50)
        current = lags()
      }
    } finally {
      q.stop()
      generator.join()
    }
    q.exception.foreach(e => throw e)
    current = lags()
    val wall = System.nanoTime() - t0
    OpenLoop(names.map(current(_).map(_ / 1e3)), late.toArray.map(_.asInstanceOf[Long]).toSeq,
      q.id.toString, startMs, firstDue + warmDrops * intervalMs, System.currentTimeMillis(), wall)
  }

  /** Every micro-batch progress of one query, in batch order. */
  def queryProgress(ctx: Ctx, queryId: String): Seq[StreamingQueryProgress] = {
    ctx.rec.drain()
    scala.jdk.CollectionConverters.IteratorHasAsScala(ctx.rec.progress.iterator()).asScala
      .filter(_.id.toString == queryId).toSeq.sortBy(_.batchId)
  }

  def run(ctx: Ctx): Outcome = {
    val s = sizes(ctx)
    val (drops, backlog, warmInput) = Common.stage("inputs")(inputs(ctx))
    val setups = Harness.repeatSetup(ctx)(rep => setup(ctx, rep))
    val published = Common.stage("publish")(Harness.timed(publishCanon(ctx, setups.last.value)))
    val in = Inputs(setups.last.value, published.value, drops, backlog,
      ctx.spark.read.parquet(backlog).count(), warmInput)
    val rec = ctx.rec
    val warmOut = ctx.dir("stream/warm-out")
    val warmCanon = canonFor(ctx, in, "warm")
    val warm = Common.timedOp(ctx, -1)(backfill(ctx, in, in.warm, warmCanon, warmOut))(_ => 0L)
    Common.delete(warmOut)

    // phase 1: the warm-up drops, then the measured ones, on one schedule
    val p1 = Common.stage("open loop")(
      Common.guarded("open loop")(openLoop(ctx, in, DropIntervalMs, s.warmDrops)))
    // every drop not committed is a failed op; so is a wrong output
    val p1Failures = p1 match {
      case Left(err) => Seq(err)
      case Right(o) =>
        o.missing.map(d => s"drop $d never committed") ++
          Common.stage("open-loop gate")(Common.guarded("open-loop gate")(gateOutput(ctx,
            ctx.dir("stream/p1"), reference(ctx, in, ctx.dir("stream/watched")))).left.toSeq)
    }

    // phase 2: closed-loop backfills over what is left of the window, at
    // least two, so that the throughput is never read off a single sample
    val want = Common.stage("backlog reference")(reference(ctx, in, in.backlog))
    val phase2 = (1.0 - OpenLoopShare) * ctx.seconds
    var queries = Map.empty[Int, String]
    val minBackfills = if (ctx.smoke) 1 else 2
    val backfills = Common.closedLoop(ctx.copy(seconds = phase2), minBackfills) { i =>
      val out = ctx.dir(s"stream/p2-$i")
      val canon = canonFor(ctx, in, s"p2-$i")
      val sample = Common.timedOp(ctx.copy(traced = false), i)(backfill(ctx, in, in.backlog, canon, out)) { id =>
        queries += i -> id
        gateOutput(ctx, out, want)
        in.backlogTurns
      }
      Common.delete(out)
      // the backfill's own jobs ran on the query thread, under its id
      sample.copy(cpuS = queries.get(i).map(id => rec.agg(s"sq:$id").cpuNs / 1e9).getOrElse(0.0))
    }

    val ok = backfills.filter(_.failure.isEmpty)
    val failures = warm.failure.toSeq ++ p1Failures ++ backfills.flatMap(_.failure)
    val lagsS = p1.toOption.map(_.lagsS.drop(s.warmDrops).flatten).getOrElse(Nil)
    require(ok.nonEmpty && lagsS.nonEmpty, s"nothing measured: ${failures.mkString("; ")}")
    val e2e = Map(
      "setup_s" -> (Harness.setupS(setups, warm) + published.wallS),
      "latency_p50_s" -> Stats.median(lagsS),
      "throughput_per_s" -> ok.map(_.items).sum / ok.map(_.wallS).sum,
      "cpu_core_s" -> Stats.median(ok.map(_.cpuS)),
      "peak_cached_mb" -> Stats.median(ok.map(_.peakMb)))

    // traced runs also measure the scale-linking layers (see LinkScale)
    val linkFailure = if (ctx.traced) Some(LinkScale.tracedPass(ctx, 1)) else None
    val perLayer = if (!ctx.traced) Map.empty[String, Double] else {
      val o = p1.toOption.get
      // the measured micro-batches: those that started after the first
      // measured drop was due
      val progress = queryProgress(ctx, o.queryId)
        .filter(p => java.time.Instant.parse(p.timestamp).toEpochMilli >= o.measuredFromMs)
      val data = progress.filter(_.numInputRows > 0)
      def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      rec.addSpan(Span("stream", 0, s"sq:${o.queryId}", o.startMs, o.endMs, o.wallNs, Map(
        "rows_out" -> progress.map(_.numInputRows.toDouble).sum,
        "batches" -> progress.length.toDouble,
        "batch_ms_p50" -> p50(data.map(_.batchDuration.toDouble)),
        "plan_ms_p50" -> p50(data.flatMap(p => Option(p.durationMs.get("queryPlanning")))
          .map(_.doubleValue)),
        "state_rows" -> progress.flatMap(_.stateOperators.map(_.numRowsTotal.toDouble)).maxOption
          .getOrElse(0.0),
        "lag_p90_s" -> Stats.tailPercentile(lagsS.length).map(Stats.percentile(lagsS, _)).getOrElse(0.0),
        "gen_late_ms_max" -> o.lateMs.max.toDouble)))
      // tracing adds no call to this workload's measured path: the
      // listeners that feed it are installed in untraced runs too
      Report.perLayer(rec, ctx.cores) + ("trace.overhead_s" -> 0.0)
    }
    val p1Detail = p1.toOption.map(o => Map(
      "lags_s" -> o.lagsS.map(_.map(Stats.jsonNumber).getOrElse("null")).mkString("[", ",", "]"),
      "warmup_drops" -> s.warmDrops.toString,
      "batch_rows_ms" -> queryProgress(ctx, o.queryId)
        .map(p => s"[${p.numInputRows},${p.batchDuration}]").mkString("[", ",", "]"),
      "generator_late_ms" -> o.lateMs.mkString("[", ",", "]"))).getOrElse(Map.empty)
    Outcome(1 + in.drops.length + backfills.length + linkFailure.size,
      failures ++ linkFailure.flatten, e2e, perLayer,
      Harness.samplesDetail(setups, warm, backfills) ++ p1Detail ++ Map(
        "canon_publish_s" -> Stats.jsonNumber(published.wallS),
        "drop_interval_ms" -> DropIntervalMs.toString,
        "turns_per_backfill" -> in.backlogTurns.toString,
        "dispatch" -> Stats.jsonString("resolve=broadcast (foreachBatch)")))
  }
}
