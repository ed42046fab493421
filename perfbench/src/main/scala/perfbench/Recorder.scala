package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import scala.collection.mutable

/** One timed call into a layer (or one whole operation), recorded from
  * the benchmark's side of the call. `key` is the Spark job group the call
  * ran under; the listener files every job of that group under it.
  */
final case class Span(layer: String, op: Int, key: String, startMs: Long, endMs: Long,
    wallNs: Long, counts: Map[String, Double] = Map.empty) {
  def wallS: Double = wallNs / 1e9
}

/** Task metrics summed over the jobs of one span. */
final class TaskAgg {
  var jobs = 0
  var tasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  /** max / median task time in the stage with the most task time. */
  def skew: Double =
    if (stageTaskMs.isEmpty) 1.0
    else {
      val heaviest = stageTaskMs.values.maxBy(_.sum)
      val ms = heaviest.map(t => math.max(1L, t).toDouble).toSeq
      ms.max / Stats.median(ms)
    }
}

/** Outside-in recorder: a SparkListener that sums task metrics per job
  * group, tracks block-manager storage, and a StreamingQueryListener that
  * keeps every micro-batch progress. Spans stay in memory; `writeJsonl`
  * writes them out once, at the end of a run.
  */
final class Recorder(spark: SparkSession) extends SparkListener {

  private val sc = spark.sparkContext
  private val aggs = mutable.HashMap.empty[String, TaskAgg]
  private val stageKey = mutable.HashMap.empty[Int, String]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var baseline = Set.empty[String]
  private var opBytes = 0L
  private var peakBytes = 0L
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private var seq = 0

  val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()

  private object QueryListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  sc.addSparkListener(this)
  spark.streams.addListener(QueryListener)

  /** Jobs started by a streaming query carry its id; everything else
    * files under the job group the calling thread set, or "other".
    */
  private def keyOf(props: java.util.Properties): String = {
    val group = Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val query = Option(props).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
    query.map("sq:" + _).orElse(group.filter(_.startsWith("pb:"))).getOrElse("other")
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val key = keyOf(e.properties)
    aggs.getOrElseUpdate(key, new TaskAgg).jobs += 1
    e.stageIds.foreach(stageKey(_) = key)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = aggs.getOrElseUpdate(stageKey.getOrElse(e.stageId, "other"), new TaskAgg)
    val info = e.taskInfo
    a.tasks += 1
    a.intervals += ((info.launchTime, info.finishTime))
    a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
    Option(e.taskMetrics).foreach { m =>
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    val name = b.blockId.name
    val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
    if (b.blockId.isRDD && !baseline.contains(name)) {
      opBytes += size - blocks.getOrElse(name, 0L)
      peakBytes = math.max(peakBytes, opBytes)
    }
    if (size > 0) blocks(name) = size else blocks.remove(name)
  }

  /** Runs `body` under a fresh job group and records it as a span. */
  def span[T](layer: String, op: Int)(body: => T): T = {
    val key = synchronized { seq += 1; s"pb:$layer:$op:$seq" }
    sc.setJobGroup(key, key, interruptOnCancel = false)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = System.nanoTime() - t0
      sc.clearJobGroup()
      synchronized { spanBuf += Span(layer, op, key, startMs, System.currentTimeMillis(), wall) }
      System.err.println(f"[perfbench] $layer op $op: ${wall / 1e9}%.2f s")
    }
  }

  /** Records a span whose jobs ran under another key (a streaming query). */
  def addSpan(s: Span): Unit = synchronized { spanBuf += s }

  /** Attaches layer-specific counts to the most recent span of `layer`. */
  def count(layer: String, kv: (String, Double)*): Unit = synchronized {
    val i = spanBuf.lastIndexWhere(_.layer == layer)
    require(i >= 0, s"no span of layer $layer to count against")
    spanBuf(i) = spanBuf(i).copy(counts = spanBuf(i).counts ++ kv)
  }

  /** Waits until every posted event has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def spans: Seq[Span] = synchronized(spanBuf.toList)

  def agg(key: String): TaskAgg = synchronized(aggs.getOrElse(key, new TaskAgg))

  /** Starts a new storage peak that counts only cached-dataset blocks
    * stored from now on. Broadcast blocks and blocks of earlier ops are
    * left out: Spark removes those when the garbage collector finds them
    * unreachable, so counting them makes the peak depend on GC timing.
    */
  def resetPeak(): Unit = {
    drain()
    synchronized { baseline = blocks.keySet.toSet; opBytes = 0L; peakBytes = 0L }
  }

  /** Peak storage of datasets cached since `resetPeak`, in MB. */
  def peakCachedMb: Double = { drain(); synchronized(peakBytes / 1e6) }

  /** Every span with its task aggregate, one JSON object per line. */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    drain()
    val lines = spans.map { s =>
      val a = agg(s.key)
      val counts = s.counts.map { case (k, v) => s"${Stats.jsonString(k)}:${Stats.jsonNumber(v)}" }
      s"""{"layer":${Stats.jsonString(s.layer)},"op":${s.op},"key":${Stats.jsonString(s.key)},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${Stats.jsonNumber(s.wallS)},""" +
        s""""jobs":${a.jobs},"tasks":${a.tasks},"cpu_s":${Stats.jsonNumber(a.cpuNs / 1e9)},""" +
        s""""counts":{${counts.mkString(",")}}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
