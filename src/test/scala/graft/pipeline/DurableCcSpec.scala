package graft.pipeline

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Durable CC-frontier checkpointing (SURVEY.md §7.5; VERDICT r3 item 3):
  * a killed label-propagation loop must resume from its LAST COMMITTED
  * iteration — not iteration 0 — and converge to labels identical to an
  * uninterrupted run. Also pins the commit protocol edges: converged
  * fast path, frontier pruning, and the loud node-set-mismatch guard.
  */
class DurableCcSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("durablecc")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** 200 chains of 6 nodes (diameter 5 — several iterations to converge,
    * so a crash after iteration 2 genuinely interrupts mid-propagation).
    */
  private def chainGraph(n: Int = 200): (DataFrame, DataFrame) = {
    val chains = spark.range(n).selectExpr("id * 1000 AS base")
    val nodes = chains.selectExpr(
      "explode(transform(sequence(0, 5), i -> base + i)) AS node_id")
    val edges = chains.selectExpr(
      "explode(transform(sequence(0, 4), i -> struct(base + i AS src, base + i + 1 AS dst))) AS e")
      .select(col("e.src"), col("e.dst"))
    (nodes, edges)
  }

  private def mismatches(a: DataFrame, b: DataFrame): Long =
    a.withColumnRenamed("component", "ca")
      .join(b.withColumnRenamed("component", "cb"), Seq("node_id"), "full_outer")
      .where(col("ca").isNull || col("cb").isNull || col("ca") =!= col("cb"))
      .count()

  test("crash after iteration 2 resumes from the committed frontier, not iteration 0") {
    val (nodes, edges) = chainGraph()
    val dir = Files.createTempDirectory("cc_spec_").toString

    val crashed = intercept[RuntimeException] {
      KgPipeline.connectedComponentsLoopDurable(nodes, edges, dir, failAfterIters = 2)
    }
    assert(crashed.getMessage.contains("injected crash"))
    // iteration 2 is committed on disk; iteration 1 was pruned
    assert(new java.io.File(s"$dir/iter-2.done.json").exists())
    assert(!new java.io.File(s"$dir/iter-1.done.json").exists())

    val resumed = KgPipeline.connectedComponentsLoopDurable(nodes, edges, dir)
    assert(KgPipeline.lastResumedFrom == 2,
      s"expected resume from committed iteration 2, got ${KgPipeline.lastResumedFrom}")

    val reference = KgPipeline.connectedComponentsLoop(nodes, edges)
    assert(mismatches(resumed, reference) == 0,
      "resumed labels diverged from the uninterrupted run")
    // every chain collapses to its minimum node id
    assert(resumed.select(col("component")).distinct().count() == 200)
  }

  test("re-running after convergence takes the fast path (no propagation)") {
    val (nodes, edges) = chainGraph()
    val dir = Files.createTempDirectory("cc_spec_").toString
    val first = KgPipeline.connectedComponentsLoopDurable(nodes, edges, dir)
    val itersFirst = KgPipeline.lastIterations
    val again = KgPipeline.connectedComponentsLoopDurable(nodes, edges, dir)
    assert(KgPipeline.lastResumedFrom == itersFirst,
      "converged checkpoint should be picked up as the resume point")
    assert(mismatches(first, again) == 0)
  }

  test("resume sweeps a frontier stranded by a crash in the commit-then-prune window") {
    val (nodes, edges) = chainGraph()
    val dir = Files.createTempDirectory("cc_spec_").toString
    intercept[RuntimeException] {
      KgPipeline.connectedComponentsLoopDurable(nodes, edges, dir, failAfterIters = 3)
    }
    // recreate the crash-in-window state: iter-2 marker + dir survive
    // alongside the committed iter-3 (the crash landed between iter-3's
    // marker rename and iter-2's prune)
    val iter3 = java.nio.file.Path.of(s"$dir/iter-3.done.json")
    val stale = Files.readString(iter3).replace("\"iter\":3", "\"iter\":2")
    Files.writeString(java.nio.file.Path.of(s"$dir/iter-2.done.json"), stale)
    Files.createDirectories(java.nio.file.Path.of(s"$dir/iter-2"))

    val resumed = KgPipeline.connectedComponentsLoopDurable(nodes, edges, dir)
    assert(KgPipeline.lastResumedFrom == 3, "must resume from the max committed iteration")
    assert(!new java.io.File(s"$dir/iter-2.done.json").exists(), "stale marker must be swept")
    assert(!new java.io.File(s"$dir/iter-2").exists(), "stale frontier dir must be swept")
    assert(mismatches(resumed, KgPipeline.connectedComponentsLoop(nodes, edges)) == 0)
  }

  test("resuming a checkpoint against a different node set fails loudly") {
    val (nodes, edges) = chainGraph()
    val dir = Files.createTempDirectory("cc_spec_").toString
    intercept[RuntimeException] {
      KgPipeline.connectedComponentsLoopDurable(nodes, edges, dir, failAfterIters = 1)
    }
    val (otherNodes, otherEdges) = chainGraph(150)
    val e = intercept[IllegalArgumentException] {
      KgPipeline.connectedComponentsLoopDurable(otherNodes, otherEdges, dir)
    }
    assert(e.getMessage.contains("different"))
  }

  test("a committed marker with a missing field fails loudly, naming the file") {
    val (nodes, edges) = chainGraph()
    val dir = Files.createTempDirectory("cc_spec_").toString
    intercept[RuntimeException] {
      KgPipeline.connectedComponentsLoopDurable(nodes, edges, dir, failAfterIters = 2)
    }
    // a marker without its node-set fingerprint: skipping it would also
    // skip the node-set guard and restart or resume unchecked
    val f = Commit.fs(spark, dir)
    val marker = new org.apache.hadoop.fs.Path(s"$dir/iter-2.done.json")
    val json = Commit.read(f, marker)
    f.delete(marker, false)
    Commit.write(f, marker, json.replaceAll(",\"nodes_fp\":-?\\d+", ""))
    val e = intercept[IllegalArgumentException] {
      KgPipeline.connectedComponentsLoopDurable(nodes, edges, dir)
    }
    assert(e.getMessage.contains("iter-2.done.json") && e.getMessage.contains("nodes_fp"),
      e.getMessage)
  }
}
