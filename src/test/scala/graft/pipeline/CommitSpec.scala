package graft.pipeline

import graft.SourceGuard
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The durable-commit module: write-temp-then-rename semantics, crash
  * leftovers, read-back, directory swaps — and source guards that keep
  * it the ONLY place in the program that renames or builds temp paths,
  * keep [[Records]] the only reader of what it commits, and keep
  * [[GraphSink]] the only module that builds a bucket manifest's path.
  */
class CommitSpec extends AnyFunSuite {

  private def tempDir(prefix: String): (FileSystem, Path) = {
    val dir = new Path(java.nio.file.Files.createTempDirectory(prefix).toUri)
    (dir.getFileSystem(new Configuration()), dir)
  }

  test("an existing destination fails loudly and names the path") {
    val (f, dir) = tempDir("commit_exists")
    val dst = new Path(dir, "marker.json")
    Commit.write(f, dst, """{"v":1}""")
    val e = intercept[IllegalArgumentException](Commit.write(f, dst, """{"v":2}"""))
    assert(e.getMessage.contains(dst.toString), e.getMessage)
    assert(Commit.read(f, dst) == """{"v":1}""", "a refused commit must leave the old state")
  }

  test("a stale .tmp left by a crash does not block the next commit") {
    val (f, dir) = tempDir("commit_stale")
    val dst = new Path(dir, "bucket-3.json")
    // a crash between create and rename leaves the temp sibling behind
    val stale = f.create(new Path(dir, ".bucket-3.json.tmp"), true)
    stale.write("{torn".getBytes("UTF-8"))
    stale.close()
    Commit.write(f, dst, """{"bucket":3}""")
    assert(Commit.read(f, dst) == """{"bucket":3}""")
    assert(!f.exists(new Path(dir, ".bucket-3.json.tmp")), "the temp file must be consumed")
  }

  test("read returns what write wrote") {
    val (f, dir) = tempDir("commit_read")
    val json = """{"n_nodes":7,"applied":["v2-b3-00000000000000ff"],"name":"Zoë 😀"}"""
    val dst = new Path(dir, "_committed.json")
    Commit.write(f, dst, json)
    assert(Commit.read(f, dst) == json)
  }

  test("swapDir replaces the destination") {
    val (f, dir) = tempDir("commit_swap")
    val src = new Path(dir, "edges_new")
    val dst = new Path(dir, "edges")
    Commit.write(f, new Path(src, "part-0"), "new")
    Commit.write(f, new Path(dst, "part-0"), "old")
    Commit.write(f, new Path(dst, "part-1"), "old only")
    Commit.swapDir(f, src, dst)
    assert(!f.exists(src))
    assert(Commit.read(f, new Path(dst, "part-0")) == "new")
    assert(!f.exists(new Path(dst, "part-1")), "the old directory must be gone, not merged")
    assert(!f.exists(new Path(dst, "edges_new")), "the source must not land inside the destination")
  }

  test("no program source outside Commit.scala renames or builds a .tmp path") {
    val offenders = SourceGuard.lines(Set("Commit.scala"), ".rename(", ".tmp")
    assert(offenders.isEmpty,
      s"commit protocol bypassed — route these through graft.pipeline.Commit:\n${offenders.mkString("\n")}")
  }

  test("no program source outside Records.scala and Commit.scala reads a durable file") {
    val offenders = SourceGuard.lines(Set("Records.scala", "Commit.scala"),
      "Commit.read(", "FileSystem.get(", ".open(")
    assert(offenders.isEmpty,
      s"record format bypassed — read through graft.pipeline.Records:\n${offenders.mkString("\n")}")
  }

  test("no program source outside GraphSink.scala builds a bucket manifest path") {
    val offenders = SourceGuard.lines(Set("GraphSink.scala"), "_manifests/bucket-").filterNot { l =>
      val text = l.split(": ", 2)(1)
      l.contains("/Records.scala:") && (text.startsWith("/**") || text.startsWith("*"))
    }
    assert(offenders.isEmpty,
      s"bucket manifests addressed outside graft.pipeline.GraphSink:\n${offenders.mkString("\n")}")
  }
}
