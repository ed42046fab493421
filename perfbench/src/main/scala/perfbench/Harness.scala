package perfbench

/** Repeated set-up and the assembly of a closed-loop run's outcome. */
object Harness {

  final case class Timed[T](wallS: Double, value: T)

  def timed[T](body: => T): Timed[T] = {
    val t0 = System.nanoTime()
    val v = body
    Timed(Common.seconds(t0), v)
  }

  /** Set-up runs this many times per run; `setup_s` takes the median. */
  def setupReps(ctx: Ctx): Int = if (ctx.smoke) 1 else 3

  /** Runs the program's set-up `setupReps` times, each into fresh
    * directories; the last copy is the one measured. Generating the seeded
    * input data is the benchmark's own work and happens once, before.
    */
  def repeatSetup[T](ctx: Ctx)(make: Int => T): Seq[Timed[T]] =
    (0 until setupReps(ctx)).map(rep => Common.stage(s"setup $rep")(timed(make(rep))))

  /** setup_s: median set-up wall plus the one warm-up op. */
  def setupS(setups: Seq[Timed[_]], warm: OpSample): Double =
    Stats.median(setups.map(_.wallS)) + warm.wallS

  /** End-to-end figures of a closed loop over `samples`; per-layer figures
    * when the run was traced (odd ops traced, even ops plain, so the
    * tracing overhead is the difference of their medians). `extra` holds
    * the outcome of untimed ops a traced run adds.
    */
  def closedLoopOutcome(ctx: Ctx, setups: Seq[Timed[_]], warm: OpSample,
      samples: Seq[OpSample], extra: Seq[Option[String]],
      detail: Map[String, String]): Outcome = {
    val all = warm +: samples
    val failures = all.flatMap(_.failure) ++ extra.flatten
    val ok = samples.filter(_.failure.isEmpty)
    require(ok.nonEmpty, s"every op failed: ${failures.mkString("; ")}")
    val e2e = Map(
      "setup_s" -> setupS(setups, warm),
      "latency_p50_s" -> Stats.median(ok.map(_.wallS)),
      "throughput_per_s" -> ok.map(_.items).sum / ok.map(_.wallS).sum,
      "cpu_core_s" -> Stats.median(ok.map(_.cpuS)),
      "peak_cached_mb" -> Stats.median(ok.map(_.peakMb)))
    Outcome(all.length + extra.length, failures, e2e, layers(ctx, samples),
      detail ++ samplesDetail(setups, warm, samples))
  }

  /** Per-layer figures plus the tracing overhead of a traced run. */
  def layers(ctx: Ctx, samples: Seq[OpSample]): Map[String, Double] =
    if (!ctx.traced) Map.empty
    else {
      val idx = samples.indices.filter(i => samples(i).failure.isEmpty)
      val (tr, plain) = idx.partition(_ % 2 == 1)
      val overhead =
        if (tr.isEmpty || plain.isEmpty) 0.0
        else Stats.median(tr.map(samples(_).wallS)) - Stats.median(plain.map(samples(_).wallS))
      Report.perLayer(ctx.rec, ctx.cores) + ("trace.overhead_s" -> overhead)
    }

  def samplesDetail(setups: Seq[Timed[_]], warm: OpSample, samples: Seq[OpSample]): Map[String, String] =
    Map(
      "setup_walls_s" -> setups.map(t => Stats.jsonNumber(t.wallS)).mkString("[", ",", "]"),
      "warmup_wall_s" -> Stats.jsonNumber(warm.wallS),
      "op_walls_s" -> samples.map(s => Stats.jsonNumber(s.wallS)).mkString("[", ",", "]"),
      "op_cpu_s" -> samples.map(s => Stats.jsonNumber(s.cpuS)).mkString("[", ",", "]"),
      "op_peak_cached_mb" -> samples.map(s => Stats.jsonNumber(s.peakMb)).mkString("[", ",", "]"))
}
