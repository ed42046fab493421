package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets

/** The one durable-commit protocol: how every manifest, marker and
  * directory swap in the repo becomes durable. A state transition is
  * written to a temp sibling and renamed onto its destination; the
  * rename is the commit point, so a reader sees either the old state or
  * the whole new one, never a torn file.
  *
  * `FileSystem.rename` returns false (it does not throw) when the
  * destination already exists, so an existing destination is an error
  * here. Callers that skip a commit already made check `exists` first;
  * callers that republish delete the old destination first.
  */
object Commit {

  /** FS resolved from the target path, not the default filesystem: a
    * non-default-FS output (hdfs://, s3a://) would otherwise be checked
    * against the wrong filesystem.
    */
  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write `json` to a `.<name>.tmp` sibling of `dst`, then rename it
    * onto `dst`. A stale temp file from a crashed attempt is
    * overwritten; a false rename fails loudly, naming `dst`.
    */
  def write(f: FileSystem, dst: Path, json: String): Unit = {
    val tmp = new Path(dst.getParent, s".${dst.getName}.tmp")
    val out = f.create(tmp, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
    require(f.rename(tmp, dst), s"commit rename failed: $tmp -> $dst (does $dst already exist?)")
  }

  def read(f: FileSystem, path: Path): String = {
    val in = f.open(path)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Replace directory `dst` with `src`. The delete comes first because a
    * directory renamed onto an existing one would land INSIDE it.
    */
  def swapDir(f: FileSystem, src: Path, dst: Path): Unit = {
    f.delete(dst, true)
    require(f.rename(src, dst), s"directory swap rename failed: $src -> $dst")
  }
}
