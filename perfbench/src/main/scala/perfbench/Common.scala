package perfbench

import graft.corpus.{TranscriptGen, Turn}
import graft.pipeline.{LabeledRow, MentionRow, NerTraining, Transcripts}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import java.io.File

/** What one run is asked to do. `smoke` shrinks every input to toy size. */
final case class Ctx(spark: SparkSession, rec: Recorder, seed: Long, seconds: Double,
    traced: Boolean, smoke: Boolean, work: File, cores: Int) {
  def dir(name: String): String = new File(work, name).getAbsolutePath
  def deadlineAfter(startNs: Long): Long = startNs + (seconds * 1e9).toLong
}

/** One closed-loop operation as measured. `failure` set means a gate was
  * breached: the op counts as failed and its timing is not used.
  */
final case class OpSample(wallS: Double, items: Long, cpuS: Double, peakMb: Double,
    failure: Option[String])

/** A run's end-to-end figures, per-layer figures and everything behind them. */
final case class Outcome(
    attempted: Int,
    failures: Seq[String],
    endToEnd: Map[String, Double],
    perLayer: Map[String, Double],
    detail: Map[String, String])

object Common {

  /** The conversation-index window a seed selects. TranscriptGen is a pure
    * function of the index, so a window is a reproducible corpus; index 0
    * (the 320-turn outlier) is never in one.
    */
  def convBase(seed: Long, salt: Long): Long =
    1L + java.lang.Math.floorMod(TranscriptGen.mix64(seed * 31L + salt), 8000000L)

  def turns(spark: SparkSession, from: Long, n: Long): Dataset[Turn] = {
    import spark.implicits._
    spark.range(from, from + n).repartition(spark.sparkContext.defaultParallelism)
      .flatMap(i => TranscriptGen.turnsForConv(i).map(_.turn))
  }

  def labeled(spark: SparkSession, from: Long, n: Long): Dataset[LabeledRow] = {
    import spark.implicits._
    spark.range(from, from + n).repartition(spark.sparkContext.defaultParallelism)
      .flatMap(i => TranscriptGen.turnsForConv(i).map { lt =>
        LabeledRow(lt.turn.conv_id, lt.turn.turn_idx, lt.turn.role, lt.turn.text,
          lt.turn.tool, lt.turn.ts, lt.gold.map(MentionRow.of).toSeq)
      })
  }

  /** Trains the NER model on the train split of a window and persists it. */
  def saveModel(spark: SparkSession, from: Long, n: Long, path: String): Unit =
    NerTraining.save(NerTraining.trainModel(Transcripts.trainSplit(labeled(spark, from, n))),
      spark, path)

  /** Order-independent (rows, fingerprint) over a resolution output,
    * entity ids and canonicals included.
    */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(conv_id, turn_idx, subj, pred, " +
      "obj, subj_tag, obj_tag, subj_id, obj_id, subj_canonical, obj_canonical))")).first()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Sum of the `rows` field over the committed manifests in `dir`. */
  def manifestRows(dir: File, prefix: String): Long = {
    val Rows = """"rows":(\d+)""".r
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith(prefix) && f.getName.endsWith(".json"))
      .map { f =>
        val s = scala.io.Source.fromFile(f, "UTF-8")
        val json = try s.mkString finally s.close()
        Rows.findFirstMatchIn(json).map(_.group(1).toLong)
          .getOrElse(sys.error(s"manifest without rows: ${f.getName}"))
      }.sum
  }

  /** Data files (not metadata) under `dir` modified at or after `sinceMs`:
    * (count, bytes).
    */
  def filesWritten(dir: File, sinceMs: Long): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val data = walk(dir).filter { f =>
      val n = f.getName
      !n.startsWith(".") && !n.startsWith("_") && n.endsWith(".parquet") &&
        f.lastModified() >= sinceMs
    }
    (data.length.toLong, data.map(_.length).sum)
  }

  def delete(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new File(path))

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs one stage of a run and logs its wall to stderr. */
  def stage[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally System.err.println(f"[perfbench] $name: ${seconds(t0)}%.2f s")
  }

  /** Runs `body` and names the failure if it throws, so a broken program
    * shows up as a failed op, never as a timing.
    */
  def guarded[T](what: String)(body: => T): Either[String, T] =
    try Right(body)
    catch {
      case scala.util.control.NonFatal(e) =>
        Left(s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
    }

  /** The closed loop every batch-style workload shares: `op` runs until
    * the measurement window closes, at least `minOps` times. Every sample
    * is kept; none is re-timed.
    */
  def closedLoop(ctx: Ctx, minOps: Int)(op: Int => OpSample): Seq[OpSample] = {
    val t0 = System.nanoTime()
    val deadline = ctx.deadlineAfter(t0)
    val out = Seq.newBuilder[OpSample]
    var i = 0
    while (i < minOps || System.nanoTime() < deadline) {
      out += op(i)
      i += 1
    }
    out.result()
  }

  /** Executor CPU seconds of every span of op `i`. */
  def opCpuS(rec: Recorder, op: Int): Double = {
    rec.drain()
    rec.spans.filter(_.op == op).map(s => rec.agg(s.key).cpuNs).sum / 1e9
  }

  /** Runs `body` as op `i`, then `gate` on its result outside the timing.
    * Untraced, the op is one "op" span; traced, the body opens its own
    * layer spans. The gate returns the items the op processed, or throws.
    */
  def timedOp[T](ctx: Ctx, i: Int)(body: => T)(gate: T => Long): OpSample = {
    ctx.rec.resetPeak()
    val t0 = System.nanoTime()
    val res =
      if (ctx.traced) guarded(s"op $i")(body)
      else ctx.rec.span("op", i)(guarded(s"op $i")(body))
    val wall = seconds(t0)
    val peakMb = ctx.rec.peakCachedMb
    val checked = res.flatMap(r => guarded(s"gate of op $i")(gate(r)))
    OpSample(wall, checked.getOrElse(0L), opCpuS(ctx.rec, i), peakMb, checked.left.toOption)
  }
}
