package perfbench

import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.Files

class LagSpec extends AnyFunSuite {

  private def write(f: File, lines: String*): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, lines.mkString("\n").getBytes("UTF-8"))
  }

  private def entry(name: String, logOffset: Long) =
    s"""{"path":"file:///data/watched/$name","timestamp":1,"batchId":$logOffset}"""

  private def offsets(logOffset: Long) =
    Seq("v1", """{"batchWatermarkMs":0,"batchTimestampMs":0,"conf":{}}""",
      s"""{"logOffset":$logOffset}""")

  /** A checkpoint where query batch 1 is watermark-only: it re-states log
    * offset 0, so from batch 2 on the query batch id is one ahead of the
    * file-source log offset.
    */
  private def checkpoint(): File = {
    val ckpt = Files.createTempDirectory("lagspec").toFile
    val src = new File(ckpt, "sources/0")
    // offsets 0..9 compacted into one file, then offset 10 on its own
    write(new File(src, "9.compact"), ("v1" +: (0 to 9).map(i =>
      entry(f"drop-$i%05d.parquet", i))): _*)
    write(new File(src, "10"), "v1", entry("drop-00010.parquet", 10))
    write(new File(src, ".11.tmp"), "v1", entry("drop-00011.parquet", 11))
    val offs = new File(ckpt, "offsets")
    write(new File(offs, "0"), offsets(0): _*)
    write(new File(offs, "1"), offsets(0): _*) // watermark-only batch
    (2 to 11).foreach(b => write(new File(offs, b.toString), offsets(b - 1): _*))
    write(new File(offs, ".12.tmp"), offsets(11): _*)
    ckpt
  }

  test("drops map to the query batch through the offsets log") {
    val ckpt = checkpoint()
    val src = Lag.sourceOffsets(new File(ckpt, "sources/0"))
    assert(src.size == 11, "the compacted and the plain log file both count; temp files do not")
    assert(src("drop-00003.parquet") == 3L)
    val ends = Lag.batchEnds(new File(ckpt, "offsets"))
    assert(ends.keySet == (0L to 11L).toSet)
    assert(Lag.batchOf(0L, ends).contains(0L))
    // log offset 3 was first reached by query batch 4, not batch 3
    assert(Lag.batchOf(3L, ends).contains(4L))
    assert(Lag.batchOf(10L, ends).contains(11L))
    assert(Lag.batchOf(11L, ends).isEmpty)
  }

  test("lag is the batch's commit time minus the drop's scheduled time") {
    val ckpt = checkpoint()
    val due = Map("drop-00000.parquet" -> 1000L, "drop-00003.parquet" -> 1400L,
      "drop-00010.parquet" -> 2000L, "drop-00011.parquet" -> 2100L)
    // a commit time per query batch; taking the source log's own batch id
    // (3) instead of the query's (4) would read batch 3's commit, 50 ms
    // before the drop was due: a negative lag
    val commits = (0L to 11L).map(b => b -> (1000L + b * 100L + 50L)).toMap
    val lags = Lag.lags(due, Lag.sourceOffsets(new File(ckpt, "sources/0")),
      Lag.batchEnds(new File(ckpt, "offsets")), commits)
    assert(lags("drop-00000.parquet").contains(50L))
    assert(lags("drop-00003.parquet").contains(1450L - 1400L))
    assert(lags("drop-00010.parquet").contains(2150L - 2000L))
    assert(lags("drop-00011.parquet").isEmpty, "a drop no committed batch holds has no lag")
    assert(commits(3L) - due("drop-00003.parquet") < 0)
  }

  test("manifest commit times come from the sink's manifest files") {
    val dir = Files.createTempDirectory("lagspec-manifests").toFile
    write(new File(dir, "stream-resolved-batch-4.json"), "{}")
    write(new File(dir, ".stream-resolved-batch-5.json.tmp"), "{}")
    write(new File(dir, "bucket-1.json"), "{}")
    val commits = Lag.manifestCommits(dir, "stream-resolved-batch")
    assert(commits.keySet == Set(4L))
    assert(commits(4L) == new File(dir, "stream-resolved-batch-4.json").lastModified())
  }
}
