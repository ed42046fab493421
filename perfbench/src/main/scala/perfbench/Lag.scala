package perfbench

import java.io.File
import scala.io.Source

/** Stream lag attribution: drop file -> file-source log offset -> query
  * batch -> commit time of that batch's manifest.
  *
  * The query batch is looked up in the query's own offsets log
  * (`<checkpoint>/offsets/<batchId>`), never taken from the file-source
  * log's `batchId` field: that field is the source's log offset, and it
  * stops matching query batch ids as soon as a watermark-only batch runs
  * (such a batch advances the query's batch id without adding a source
  * log entry).
  */
object Lag {

  private val LogOffset = """"logOffset"\s*:\s*(\d+)""".r
  private val EntryPath = """"path"\s*:\s*"([^"]+)"""".r
  private val EntryBatch = """"batchId"\s*:\s*(\d+)""".r

  private def lines(f: File): Seq[String] = {
    val src = Source.fromFile(f, "UTF-8")
    try src.getLines().toList finally src.close()
  }

  /** Log files of a metadata-log directory, ignoring temp and crc files. */
  private def logFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.endsWith(".crc"))

  /** File name -> source log offset, from `<checkpoint>/sources/0`,
    * compacted entries included.
    */
  def sourceOffsets(sourceLogDir: File): Map[String, Long] =
    logFiles(sourceLogDir).flatMap(lines).flatMap { l =>
      for {
        p <- EntryPath.findFirstMatchIn(l)
        b <- EntryBatch.findFirstMatchIn(l)
      } yield new File(new java.net.URI(p.group(1)).getPath).getName -> b.group(1).toLong
    }.toMap

  /** Query batch id -> the source log offset it ends at, from
    * `<checkpoint>/offsets`.
    */
  def batchEnds(offsetsDir: File): Map[Long, Long] =
    logFiles(offsetsDir).filter(_.getName.forall(_.isDigit)).flatMap { f =>
      lines(f).drop(2).flatMap(l => LogOffset.findFirstMatchIn(l))
        .headOption.map(m => f.getName.toLong -> m.group(1).toLong)
    }.toMap

  /** The first query batch whose end offset reaches `offset`. */
  def batchOf(offset: Long, ends: Map[Long, Long]): Option[Long] =
    ends.toSeq.filter(_._2 >= offset).map(_._1).sortBy(identity).headOption

  /** Lag in ms of every drop: commit time of the batch that holds it
    * minus the drop's scheduled time. A drop with no committed batch maps
    * to None.
    */
  def lags(scheduledMs: Map[String, Long], offsets: Map[String, Long],
      ends: Map[Long, Long], commitMs: Map[Long, Long]): Map[String, Option[Long]] =
    scheduledMs.map { case (drop, due) =>
      drop -> (for {
        off <- offsets.get(drop)
        batch <- batchOf(off, ends)
        done <- commitMs.get(batch)
      } yield done - due)
    }

  /** Batch id -> commit time, from the manifest files the sink commits. */
  def manifestCommits(manifestDir: File, prefix: String): Map[Long, Long] =
    logFiles(manifestDir).flatMap { f =>
      val n = f.getName
      if (n.startsWith(prefix + "-") && n.endsWith(".json"))
        Some(n.stripPrefix(prefix + "-").stripSuffix(".json").toLong -> f.lastModified())
      else None
    }.toMap
}
