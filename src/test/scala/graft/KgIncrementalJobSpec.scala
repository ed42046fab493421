package graft

import graft.pipeline.{Commit, GraphSink, KgPipeline, NerTraining, Records, Transcripts}
import graft.testkit.CrashFs.{Kind, Mutation, at, under}
import graft.testkit.{CrashFs, Snapshot}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end gates for the incremental maintenance job: applying
  * batches on top of a completed KgJob output must leave the
  * materialized graph BYTE-EQUIVALENT to a full run over the combined
  * corpus (triples including their resolution columns, entities, edges
  * with delta-merged weights, link state), touch only the affected
  * buckets, refuse double-application, and survive kills at every
  * commit point of its staging protocol.
  */
class KgIncrementalJobSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("kgincr")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val N = 60L

  /** Inputs staged once for all tests: per-batch turn parquet + the
    * shared persisted model (one model serves every batch, the deploy
    * shape). Batches split by conv index: B = idx%8==0, C = idx%8==4,
    * A = the rest, D = idx%8==2 (part of A), A2 = A without D; every
    * union is conv-disjoint by construction.
    */
  private lazy val staged: (String, String) = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("kgincr").toString
    val labeled = Transcripts.generateLabeled(spark, N).cache()
    val turns = graft.pipeline.LabeledRow.turns(labeled)
    val idx = expr("CAST(substring(conv_id, 2) AS BIGINT)")
    turns.where(pmod(idx, lit(8)) =!= 0 && pmod(idx, lit(8)) =!= 4)
      .write.parquet(s"$dir/in_a")
    turns.where(pmod(idx, lit(8)) === 0).write.parquet(s"$dir/in_b")
    turns.where(pmod(idx, lit(8)) === 4).write.parquet(s"$dir/in_c")
    turns.where(pmod(idx, lit(8)) =!= 4).write.parquet(s"$dir/in_ab")
    turns.where(pmod(idx, lit(8)) === 2).write.parquet(s"$dir/in_d")
    turns.where(!pmod(idx, lit(8)).isin(0, 2, 4)).write.parquet(s"$dir/in_a2")
    turns.write.parquet(s"$dir/in_abc")
    NerTraining.save(NerTraining.trainModel(Transcripts.trainSplit(labeled)),
      spark, s"$dir/model")
    labeled.unpersist()
    (dir, s"$dir/model")
  }

  /** `got` and `want` are local output directories. */
  private def assertGraphsEqual(got: String, want: String, what: String): Unit = {
    val diff = Snapshot.graph(spark, got).diff(Snapshot.graph(spark, want))
    assert(diff.isEmpty, s"$what: ${diff.mkString(", ")} diverged")
  }

  /** Live edges are the edge table of the live triples, weight for
    * weight: the invariant the apply's signed edge sum keeps. */
  private def assertEdgesOfTriples(output: String, what: String): Unit = {
    def rows(df: DataFrame): Seq[String] =
      df.select("src", "dst", "pred", "weight").collect().map(_.mkString("\u0001")).toSeq.sorted
    val live = rows(spark.read.parquet(s"$output/edges"))
    val derived = rows(KgPipeline.edgesTable(spark.read.parquet(s"$output/triples")))
    assert(live == derived, s"$what: ${live.size} live edges, ${derived.size} from the live " +
      s"triples; live-only ${live.diff(derived).take(3)}, derived-only ${derived.diff(live).take(3)}")
  }

  /** An apply's entity and edge counts are the live tables' rows. */
  private def assertCountsLive(m: KgIncrementalJob.IncrMetrics, output: String, what: String): Unit = {
    def rows(table: String): Long = spark.read.parquet(s"$output/$table").count()
    assert(m.entities == rows("entities") && m.edges == rows("edges"),
      s"$what: reported $m, live tables hold ${rows("entities")} entities, ${rows("edges")} edges")
  }

  private def bucketFiles(output: String, buckets: Set[Int]): Map[Int, Set[String]] =
    buckets.map { b =>
      val d = new java.io.File(s"$output/triples/conv_bucket=$b")
      b -> (if (!d.exists()) Set.empty[String]
            else {
              def walk(f: java.io.File): Seq[String] =
                if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
                else Seq(f.getPath)
              walk(d).toSet
            })
    }.toMap

  test("incremental batch == full recompute; untouched buckets stay untouched (day layout)") {
    val (dir, model) = staged
    val out = s"$dir/g1"
    // 32 buckets: a merged component's surfaces appear in most convs at
    // this tiny scale, so only a bucket holding NO conv that mentions a
    // changed surface can survive — sparse (≈1–2 conv) buckets make that
    // population non-empty
    KgJob.run(spark, s"$dir/in_a", model, out, buckets = 32, dayPartition = true)

    val doneBefore = GraphSink.doneBuckets(spark, out)
    val filesBefore = bucketFiles(out, doneBefore)
    val m = KgIncrementalJob.run(spark, out, s"$dir/in_b", model)
    assertEdgesOfTriples(out, "A+B")
    assertCountsLive(m, out, "A+B")
    assert(m.newTurns > 0 && m.newTriples > 0 && m.changedSurfaces > 0,
      s"batch B must add turns and trigger at least one entity merge, got $m")
    assert(m.untouchedBuckets > 0,
      s"expected some bucket to survive untouched, got $m — shrink the batch or raise buckets")

    // the untouched buckets' data files are IDENTICAL paths (dynamic
    // overwrite stamps fresh task uuids into every rewritten file name,
    // so an unchanged listing proves the bucket was not rewritten)
    val filesAfter = bucketFiles(out, doneBefore)
    val unchanged = doneBefore.filter(b => filesAfter(b) == filesBefore(b))
    assert(unchanged.nonEmpty, "no bucket survived untouched")
    assert(unchanged.size == m.untouchedBuckets,
      s"metrics claim ${m.untouchedBuckets} untouched buckets; the listings show ${unchanged.size}")

    val want = s"$dir/g1_full"
    KgJob.run(spark, s"$dir/in_ab", model, want, buckets = 32, dayPartition = true)
    assertGraphsEqual(out, want, "A+B incremental vs full")

    // exactly-once ledger: re-applying the same batch refuses loudly
    val e = intercept[IllegalArgumentException] {
      KgIncrementalJob.run(spark, out, s"$dir/in_b", model)
    }
    assert(e.getMessage.contains("already applied"), e.getMessage)
  }

  test("kill at every commit point; the next run of any batch finishes the committed apply first") {
    val (dir, model) = staged
    val local = s"$dir/g2"
    val out = CrashFs.on(spark, local)
    KgJob.run(spark, s"$dir/in_a2", model, out, buckets = 8)
    def turnCount(batch: String): Long = spark.read.parquet(s"$dir/$batch").count()
    def killedAfter(point: CrashFs.Point, batch: String): Unit =
      CrashFs.kill(spark, local, point)(KgIncrementalJob.run(spark, out, s"$dir/$batch", model))

    // kill after B's marker commits, before anything live is mutated
    killedAfter(CrashFs.Point("marker rename",
      m => m.op == "rename" && m.to == "_incr/marker.json"), "in_b")
    // the next run rolls B forward and is killed mid-write: one of B's
    // manifests is invalidated, its buckets not yet rewritten
    killedAfter(CrashFs.Point("first invalidation", at("delete", "_manifests/bucket-")), "in_c")
    // a DIFFERENT batch completes the interrupted apply of B from its
    // staging, then applies its own batch
    val mC = KgIncrementalJob.run(spark, out, s"$dir/in_c", model)
    assertCountsLive(mC, local, "C after rolling B forward")
    assert(mC.newTurns == turnCount("in_c") && mC.changedSurfaces >= 0 && mC.rewrittenBuckets > 0,
      s"C must apply as its own batch after B's roll-forward, got $mC")

    // kill after D's triples commit, as the entities rewrite starts and
    // before the edges/link-state swaps: re-running B finishes D's apply,
    // then refuses B itself
    killedAfter(CrashFs.Point("entities delete", m => m.op == "delete" && m.path == "entities"), "in_d")
    val eB = intercept[IllegalArgumentException] {
      KgIncrementalJob.run(spark, out, s"$dir/in_b", model)
    }
    assert(eB.getMessage.contains("already applied"), eB.getMessage)
    // ... which published D into the ledger exactly once
    val eD = intercept[IllegalArgumentException] {
      KgIncrementalJob.run(spark, out, s"$dir/in_d", model)
    }
    assert(eD.getMessage.contains("already applied"), eD.getMessage)
    assert(CrashFs.leftovers(local).isEmpty, s"a finished apply left ${CrashFs.leftovers(local)}")
    assertEdgesOfTriples(local, "A2+B+C+D after kills")

    val want = s"$dir/g2_full"
    KgJob.run(spark, s"$dir/in_abc", model, want, buckets = 8)
    assertGraphsEqual(local, want, "A2+B+C+D after kills vs full")
  }

  test("apply order commutes: A+C+B equals A+B+C equals full") {
    // Production batches can arrive out of order; conv-disjoint applies
    // must converge to the same graph regardless. The canonical-map
    // diff machinery makes this non-trivial: a later batch can flip a
    // component's min-norm canonical chosen by an earlier one, and the
    // changed-surface rewrite must repair every stale resolution.
    val (dir, model) = staged
    val out = s"$dir/g3"
    KgJob.run(spark, s"$dir/in_a", model, out, buckets = 8)
    assertCountsLive(KgIncrementalJob.run(spark, out, s"$dir/in_c", model), out, "A then C")
    assertEdgesOfTriples(out, "A then C")
    assertCountsLive(KgIncrementalJob.run(spark, out, s"$dir/in_b", model), out, "A then C then B")
    assertEdgesOfTriples(out, "A then C then B")
    val want = s"$dir/g3_full"
    KgJob.run(spark, s"$dir/in_abc", model, want, buckets = 8)
    assertGraphsEqual(out, want, "A then C then B vs full A+B+C")
  }

  /** A batch token in the format written before tokens were versioned. */
  private val preV2Token = "b12-00000000deadbeef"

  test("a ledger holding pre-v2 batch tokens is refused with a migration message") {
    import spark.implicits._
    val (dir, model) = staged
    val out = s"$dir/g_old_ledger"
    // a committed link state whose ledger an earlier release wrote
    val nodes = Seq(("acme", "ORG", 2L, "Acme", 1L)).toDF("norm", "tag", "n_mentions", "surface", "node_id")
    val labels = Seq((1L, 1L)).toDF("node_id", "component")
    GraphSink.writeLinkState(spark, nodes, labels, s"$out/_linkstate", Seq(preV2Token))
    val e = intercept[IllegalArgumentException] {
      KgIncrementalJob.run(spark, out, s"$dir/in_b", model)
    }
    assert(e.getMessage.contains(preV2Token) && e.getMessage.contains("graft.KgJob"), e.getMessage)
  }

  test("a staging marker with a pre-v2 token is refused with a migration message") {
    val (dir, model) = staged
    val out = s"$dir/g_old_marker"
    // an earlier release crashed mid-rewrite: intent + invalidation committed
    val f = Commit.fs(spark, out)
    Commit.write(f, new org.apache.hadoop.fs.Path(s"$out/_incr/marker.json"),
      s"""{"token":"$preV2Token","buckets":[1],"n_buckets":8,"config":"v1","day_partition":false}""")
    Commit.write(f, new org.apache.hadoop.fs.Path(s"$out/_incr/manifests_invalidated.json"), "{}")
    val e = intercept[IllegalArgumentException] {
      KgIncrementalJob.run(spark, out, s"$dir/in_b", model)
    }
    assert(e.getMessage.contains(preV2Token) && e.getMessage.contains("release that started it"),
      e.getMessage)
    assert(!e.getMessage.contains("INCOMPLETE"), "must not blame a different batch")
  }

  test("a marker without its staged rewrite, left by an earlier release, is refused") {
    val (dir, model) = staged
    val out = s"$dir/g_marker_no_rewrite"
    // an earlier release crashed mid-rewrite: it staged no rewrite rows
    val f = Commit.fs(spark, out)
    val token = s"${KgIncrementalJob.TokenFormat}b1-0000000000000001"
    Commit.write(f, new org.apache.hadoop.fs.Path(s"$out/_incr/marker.json"),
      s"""{"token":"$token","buckets":[1],"n_buckets":8,"config":"v1","day_partition":false}""")
    val e = intercept[IllegalArgumentException] {
      KgIncrementalJob.run(spark, out, s"$dir/in_b", model)
    }
    assert(e.getMessage.contains(token) && e.getMessage.contains("_incr/rewrite") &&
      e.getMessage.contains("release that started it"), e.getMessage)
  }

  test("a link-state marker without its applied-batch ledger is refused") {
    import spark.implicits._
    val (dir, model) = staged
    val out = s"$dir/g_no_ledger"
    val nodes = Seq(("acme", "ORG", 2L, "Acme", 1L)).toDF("norm", "tag", "n_mentions", "surface", "node_id")
    val labels = Seq((1L, 1L)).toDF("node_id", "component")
    GraphSink.writeLinkState(spark, nodes, labels, s"$out/_linkstate")
    // read as an empty ledger, it would re-admit every batch ever applied
    val f = Commit.fs(spark, out)
    val marker = new org.apache.hadoop.fs.Path(s"$out/_linkstate/_committed.json")
    f.delete(marker, false)
    Commit.write(f, marker, """{"n_nodes":1}""")
    val e = intercept[IllegalArgumentException] {
      KgIncrementalJob.run(spark, out, s"$dir/in_b", model)
    }
    assert(e.getMessage.contains("_committed.json") && e.getMessage.contains("'applied'"),
      e.getMessage)
  }

  test("a staging marker without day_partition is refused") {
    val (dir, model) = staged
    val out = s"$dir/g_marker_no_layout"
    val f = Commit.fs(spark, out)
    Commit.write(f, new org.apache.hadoop.fs.Path(s"$out/_incr/marker.json"),
      s"""{"token":"${KgIncrementalJob.TokenFormat}b1-0000000000000001","buckets":[1],""" +
        """"n_buckets":8,"config":"v1"}""")
    val e = intercept[IllegalArgumentException] {
      KgIncrementalJob.run(spark, out, s"$dir/in_b", model)
    }
    assert(e.getMessage.contains("marker.json") && e.getMessage.contains("'day_partition'"),
      e.getMessage)
  }

  test("an empty ledger, identical in every release, stays valid and records a v2 token") {
    val (dir, model) = staged
    val out = s"$dir/g_empty_ledger"
    KgJob.run(spark, s"$dir/in_a", model, out, buckets = 8)
    def ledger(): String = {
      val src = scala.io.Source.fromFile(s"$out/_linkstate/_committed.json", "UTF-8")
      try src.mkString finally src.close()
    }
    assert(ledger().contains(""""applied":[]"""), ledger())
    KgIncrementalJob.run(spark, out, s"$dir/in_b", model)
    val applied = """"applied":\[([^\]]*)\]""".r.findFirstMatchIn(ledger()).get.group(1)
      .split(",").toSeq
    assert(applied.size == 1 && applied.head.startsWith("\"" + KgIncrementalJob.TokenFormat), ledger())
  }

  test("KgIncrementalJob killed at each commit point re-runs to the clean apply, applied once") {
    val (dir, model) = staged
    val prior = s"$dir/kill_prior"
    KgJob.run(spark, s"$dir/in_a", model, prior, buckets = 4)
    def run(local: String) = KgIncrementalJob.run(spark, CrashFs.on(spark, local), s"$dir/in_b", model)
    def ledger(local: String): Seq[String] = Records.LinkStateMarker.read(Commit.fs(spark, local),
      new org.apache.hadoop.fs.Path(s"$local/_linkstate/_committed.json")).applied
    val clean = s"$dir/kill_clean"
    CrashFs.reset(clean, Some(prior))
    val (_, trace) = CrashFs.record(clean)(run(clean))
    val want = Snapshot.graph(spark, clean)
    assertEdgesOfTriples(clean, "clean apply")
    val wantLedger = ledger(clean)
    val token = wantLedger.last

    def swap(dst: String): Mutation => Boolean =
      m => (m.op == "delete" && m.path == dst) || (m.op == "rename" && m.to == dst)
    val markerRename = Kind("marker rename", at("rename", "_incr/.marker.json.tmp"))
    // everything the roll-forward mutates; the swaps come first, since
    // a swap renames a staged directory
    val rollForward = Seq(markerRename,
      Kind("edges swap", swap("edges")),
      Kind("link-state swap", swap("_linkstate")),
      Kind("marker delete", m => m.op == "delete" && m.path == "_incr/marker.json"),
      Kind("staging delete", m => m.op == "delete" && m.path == "_incr", crash = false),
      Kind("invalidation", at("delete", "_manifests/bucket-")),
      Kind("triples write", under("triples")),
      Kind("manifests dir", at("mkdirs", "_manifests"), crash = false),
      Kind("bucket manifest temp create", at("create", "_manifests/.bucket-")),
      Kind("bucket manifest rename", at("rename", "_manifests/.bucket-")),
      Kind("entities write", under("entities")))
    val staging = Seq(
      Kind("staged link-state marker withdraw", at("delete", "_incr/linkstate_new/_committed.json"),
        crash = false),
      Kind("staged link-state nodes write", under("_incr/linkstate_new/nodes")),
      Kind("staged link-state labels write", under("_incr/linkstate_new/labels")),
      Kind("staged link-state marker temp create", at("create", "_incr/linkstate_new/._committed")),
      Kind("staged link-state marker rename", at("rename", "_incr/linkstate_new/._committed")),
      Kind("rewrite rows write", under("_incr/rewrite")),
      Kind("staged edges write", under("_incr/edges_new")),
      Kind("marker temp create", at("create", "_incr/.marker.json.tmp")))
    val points = CrashFs.points(trace, rollForward ++ staging)

    // The mutations after the marker are the roll-forward's, whichever
    // run makes them: a point after the marker is reached by rolling the
    // committed apply forward from a copy of the state the marker commit
    // leaves, instead of tagging and linking the batch again.
    val committed = s"$dir/kill_committed"
    CrashFs.reset(committed, Some(prior))
    CrashFs.kill(spark, committed, points.find(_.kind == markerRename.label).get)(run(committed))
    CrashFs.forEach(points) { (p, i) =>
      val local = s"$dir/kill_apply-$i"
      if (p.kind == markerRename.label) CrashFs.reset(local, Some(committed))
      else {
        val rollsForward = rollForward.exists(_.label == p.kind)
        CrashFs.reset(local, Some(if (rollsForward) committed else prior))
        CrashFs.kill(spark, local, p)(run(local))
      }
      // once the marker is committed the batch counts as applied: the
      // re-run finishes it from staging, then refuses the batch itself
      if (new java.io.File(s"$local/_incr/marker.json").exists() || ledger(local).contains(token)) {
        val e = intercept[IllegalArgumentException](run(local))
        assert(e.getMessage.contains("already applied"), s"$p: ${e.getMessage}")
      } else run(local)
      val got = Snapshot.graph(spark, local)
      assert(got == want, s"$p: the re-run differs from the clean apply in ${got.diff(want).mkString(", ")}")
      assertEdgesOfTriples(local, p.toString)
      assert(ledger(local) == wantLedger && ledger(local).count(_ == token) == 1,
        s"$p: ledger ${ledger(local)}, clean ledger $wantLedger")
      assert(CrashFs.leftovers(local).isEmpty, s"$p: left ${CrashFs.leftovers(local)}")
    }
  }
}
