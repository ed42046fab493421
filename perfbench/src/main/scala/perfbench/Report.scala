package perfbench

/** The fixed, declared metric lists. No metric is chosen by rank, so none
  * drops out of the report for getting faster.
  */
object Report {

  /** End-to-end metrics with their units; every run reports all of them. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "latency_p50_s" -> "s",
    "throughput_per_s" -> "1/s",
    "cpu_core_s" -> "s",
    "peak_cached_mb" -> "MB")

  /** Pipeline layers, named after the program's modules. */
  val Layers: Seq[String] = Seq(
    "model", "tag", "nodes", "block", "cc", "resolve", "gazetteer", "sink", "stream", "incr")

  /** Metrics every layer reports, with their units. */
  val Generic: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "cpu_s" -> "s", "gc_s" -> "s", "driver_s" -> "s", "jobs" -> "count",
    "shuffle_mb" -> "MB", "spill_mb" -> "MB", "rows_out" -> "count", "skew" -> "ratio",
    "util" -> "ratio")

  /** Layer-specific counts, attached by the workloads to their spans. */
  val Specific: Seq[(String, String)] = Seq(
    "block.pairs" -> "count", "block.overflow_blocks" -> "count",
    "cc.iterations" -> "count", "cc.loop_path" -> "count",
    "resolve.rows_with_id" -> "count", "resolve.salted_path" -> "count",
    "gazetteer.resolved" -> "count", "gazetteer.salted_path" -> "count",
    "sink.files" -> "count", "sink.mb_written" -> "MB",
    "stream.batches" -> "count", "stream.batch_ms_p50" -> "ms", "stream.plan_ms_p50" -> "ms",
    "stream.state_rows" -> "count", "stream.lag_p90_s" -> "s", "stream.gen_late_ms_max" -> "ms",
    "incr.buckets_rewritten" -> "count", "incr.untouched_ratio" -> "ratio",
    "incr.changed_surfaces" -> "count",
    "trace.overhead_s" -> "s")

  val PerLayer: Seq[(String, String)] =
    (for (l <- Layers; (m, u) <- Generic) yield s"$l.$m" -> u) ++ Specific

  /** Per-layer figures from the recorded spans of ops >= 0: each layer's
    * value per op, then the median over ops. A layer a workload does not
    * call reports 0.
    */
  def perLayer(rec: Recorder, cores: Int): Map[String, Double] = {
    rec.drain()
    val spans = rec.spans.filter(s => s.op >= 0 && s.layer != "op")
    val generic = for {
      layer <- Layers
      byOp = spans.filter(_.layer == layer).groupBy(_.op).values.toSeq
      if byOp.nonEmpty
      (metric, values) <- byOp.map(opMetrics(rec, cores, _)).flatten.groupBy(_._1).toSeq
    } yield s"$layer.$metric" -> Stats.median(values.map(_._2))
    val specific = for {
      (name, _) <- Specific
      Array(layer, metric) = name.split('.')
      vals = spans.filter(_.layer == layer).groupBy(_.op).values.toSeq
        .flatMap(ss => ss.flatMap(_.counts.get(metric)).reduceOption(_ + _))
      if vals.nonEmpty
    } yield name -> Stats.median(vals)
    val zeros = PerLayer.map(_._1 -> 0.0).toMap
    zeros ++ generic ++ specific
  }

  private def opMetrics(rec: Recorder, cores: Int, spans: Seq[Span]): Seq[(String, Double)] = {
    val aggs = spans.map(s => s -> rec.agg(s.key))
    val wall = spans.map(_.wallS).sum
    val runS = aggs.map(_._2.runMs).sum / 1e3
    val driver = aggs.map { case (s, a) =>
      Stats.selfTime(s.startMs, s.endMs, a.intervals.toSeq) / 1e3 }.sum
    Seq(
      "wall_s" -> wall,
      "cpu_s" -> aggs.map(_._2.cpuNs).sum / 1e9,
      "gc_s" -> aggs.map(_._2.gcMs).sum / 1e3,
      "driver_s" -> driver,
      "jobs" -> aggs.map(_._2.jobs).sum.toDouble,
      "shuffle_mb" -> aggs.map(_._2.shuffleWriteBytes).sum / 1e6,
      "spill_mb" -> aggs.map(_._2.spillBytes).sum / 1e6,
      "rows_out" -> spans.flatMap(_.counts.get("rows_out")).sum,
      "skew" -> aggs.map(_._2.skew).max,
      "util" -> (if (wall > 0) runS / (wall * cores) else 0.0))
  }

  /** The contract line: exactly correct, attempted, failed and metrics. */
  def json(o: Outcome, traced: Boolean): String = {
    val (names, values) =
      if (traced) (PerLayer, o.perLayer) else (EndToEnd, o.endToEnd)
    val metrics = names.map { case (n, u) =>
      val v = values.getOrElse(n, sys.error(s"metric $n was not measured"))
      s"${Stats.jsonString(n)}:{\"value\":${Stats.jsonNumber(v)},\"unit\":${Stats.jsonString(u)}}"
    }
    s"""{"correct":${o.failures.isEmpty},"attempted":${o.attempted},""" +
      s""""failed":${o.failures.length},"metrics":{${metrics.mkString(",")}}}"""
  }
}
