package graft.pipeline

import graft.testkit.CrashFs
import graft.testkit.CrashFs.{Kind, at}
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

  /** A fresh checkpoint directory: its local path and its `crashfs:` URI. */
  private def ccDir(): (String, String) = {
    val local = Files.createTempDirectory("cc_spec_").toString
    (local, CrashFs.on(spark, local))
  }

  /** Runs the durable loop into `local` (its URI `dir`), killed right after `point`. */
  private def killedAt(nodes: DataFrame, edges: DataFrame, local: String, dir: String,
      point: CrashFs.Point): Unit =
    CrashFs.kill(spark, local, point)(KgPipeline.connectedComponentsLoop(nodes, edges, Some(dir)))

  /** The prune of iteration `k`'s marker, the last mutation iteration k+1 makes. */
  private def prunedMarker(k: Int) = CrashFs.Point(s"prune iter-$k marker",
    m => m.op == "delete" && m.path == s"iter-$k.done.json")

  /** The rename that commits iteration `k`'s marker. */
  private def committedMarker(k: Int) = CrashFs.Point(s"iter-$k marker rename",
    m => m.op == "rename" && m.to == s"iter-$k.done.json")

  test("crash after iteration 2 resumes from the committed frontier, not iteration 0") {
    val (nodes, edges) = chainGraph()
    val (local, dir) = ccDir()

    killedAt(nodes, edges, local, dir, prunedMarker(1))
    // iteration 2 is committed on disk; iteration 1 was pruned
    assert(new java.io.File(s"$local/iter-2.done.json").exists())
    assert(!new java.io.File(s"$local/iter-1.done.json").exists())

    val resumed = KgPipeline.connectedComponentsLoop(nodes, edges, Some(dir))
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
    val first = KgPipeline.connectedComponentsLoop(nodes, edges, Some(dir))
    val itersFirst = KgPipeline.lastIterations
    val again = KgPipeline.connectedComponentsLoop(nodes, edges, Some(dir))
    assert(KgPipeline.lastResumedFrom == itersFirst,
      "converged checkpoint should be picked up as the resume point")
    assert(mismatches(first, again) == 0)
  }

  test("resume sweeps a frontier stranded by a crash in the commit-then-prune window") {
    val (nodes, edges) = chainGraph()
    val (local, dir) = ccDir()
    // the crash lands between iter-3's marker rename and iter-2's prune:
    // iter-2's marker and frontier survive alongside the committed iter-3
    killedAt(nodes, edges, local, dir, committedMarker(3))
    assert(new java.io.File(s"$local/iter-2.done.json").exists() &&
      new java.io.File(s"$local/iter-2").isDirectory, "the crash must strand iteration 2")

    val resumed = KgPipeline.connectedComponentsLoop(nodes, edges, Some(dir))
    assert(KgPipeline.lastResumedFrom == 3, "must resume from the max committed iteration")
    assert(!new java.io.File(s"$local/iter-2.done.json").exists(), "stale marker must be swept")
    assert(!new java.io.File(s"$local/iter-2").exists(), "stale frontier dir must be swept")
    assert(mismatches(resumed, KgPipeline.connectedComponentsLoop(nodes, edges)) == 0)
  }

  test("resuming a checkpoint against a different node set fails loudly") {
    val (nodes, edges) = chainGraph()
    val (local, dir) = ccDir()
    killedAt(nodes, edges, local, dir, committedMarker(1))
    val (otherNodes, otherEdges) = chainGraph(150)
    val e = intercept[IllegalArgumentException] {
      KgPipeline.connectedComponentsLoop(otherNodes, otherEdges, Some(dir))
    }
    assert(e.getMessage.contains("different"))
  }

  test("a committed marker with a missing field fails loudly, naming the file") {
    val (nodes, edges) = chainGraph()
    val (local, dir) = ccDir()
    killedAt(nodes, edges, local, dir, prunedMarker(1))
    // a marker without its node-set fingerprint: skipping it would also
    // skip the node-set guard and restart or resume unchecked
    val f = Commit.fs(spark, dir)
    val marker = new org.apache.hadoop.fs.Path(s"$dir/iter-2.done.json")
    val json = Commit.read(f, marker)
    f.delete(marker, false)
    Commit.write(f, marker, json.replaceAll(",\"nodes_fp\":-?\\d+", ""))
    val e = intercept[IllegalArgumentException] {
      KgPipeline.connectedComponentsLoop(nodes, edges, Some(dir))
    }
    assert(e.getMessage.contains("iter-2.done.json") && e.getMessage.contains("nodes_fp"),
      e.getMessage)
  }

  test("killed at each commit point, the loop resumes from its last committed iteration to the clean labels") {
    val (nodes, edges) = chainGraph()
    val (clean, _) = ccDir()
    def run(local: String) = KgPipeline.connectedComponentsLoop(nodes, edges, Some(CrashFs.on(spark, local)))
    val (labels, trace) = CrashFs.record(clean)(run(clean))
    val want = labels.collect().toSet
    val points = CrashFs.points(trace, Seq(
      Kind("frontier prune", m => m.op == "delete" && m.path.matches("iter-\\d+")),
      Kind("frontier write", m => m.path.matches("iter-\\d+(/.*)?")),
      Kind("marker temp create", at("create", ".iter-")),
      Kind("marker rename", at("rename", ".iter-")),
      Kind("marker prune", m => m.op == "delete" && m.path.matches("iter-\\d+\\.done\\.json"))))
    def iterations(dir: String, suffix: String) = new java.io.File(dir).list().toSeq
      .filter(n => n.startsWith("iter-") && n.endsWith(suffix))
      .map(_.stripPrefix("iter-").stripSuffix(suffix).toInt)
    val converged = iterations(clean, ".done.json").max
    val frontier = "iter-(\\d+)/.*".r
    CrashFs.forEach(points) { (p, i) =>
      val local = Files.createTempDirectory("cc_kill_").toString
      CrashFs.kill(spark, local, p)(run(local))
      val committed = iterations(local, ".done.json").maxOption.getOrElse(0)
      val (resumed, rerun) = CrashFs.record(local)(run(local))
      // the resume writes the iterations after the last committed one, and only those
      val written = rerun.collect { case CrashFs.Mutation(_, frontier(k), _) => k.toInt }.distinct
      assert(written == (committed + 1 to converged), s"$p: committed $committed, re-run wrote $written")
      assert(resumed.collect().toSet == want, s"$p: resumed labels diverged from the clean run")
      assert(iterations(local, ".done.json") == Seq(converged), s"$p: committed frontiers left")
      assert(CrashFs.leftovers(local).isEmpty, s"$p: left ${CrashFs.leftovers(local)}")
    }
  }
}
