package graft

import graft.pipeline.{Commit, GraphSink, KgPipeline, NerTraining, Transcripts}
import graft.testkit.CrashFs.{Kind, at, under}
import graft.testkit.{CrashFs, Snapshot}
import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{lit, sum}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end gate for the spark-submit entry point: parquet transcripts
  * + persisted model in, materialized graph + manifests out; a re-run
  * against a completed output is a pure resume (all buckets skipped, no
  * data change); a run killed at any commit point re-runs to the clean
  * output, rewriting exactly the buckets it had not committed.
  */
class KgJobSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("kgjob")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val N = 30L

  /** Inputs staged once for all tests: the turn table and a persisted
    * model (the deploy-time shape). */
  private lazy val staged: (String, String, String) = {
    val dir = java.nio.file.Files.createTempDirectory("kgjob").toString
    val labeled = Transcripts.generateLabeled(spark, N).cache()
    graft.pipeline.LabeledRow.turns(labeled).write.parquet(s"$dir/transcripts")
    NerTraining.save(NerTraining.trainModel(Transcripts.trainSplit(labeled)), spark, s"$dir/model")
    labeled.unpersist()
    (dir, s"$dir/transcripts", s"$dir/model")
  }

  test("KgJob: transcripts parquet -> materialized graph, resume-safe") {
    import spark.implicits._
    val (dir, input, modelPath) = staged
    val output = s"$dir/graph"

    // a finished job holds nothing cached: in-process callers (tests,
    // benches) would otherwise keep its tagged set and nodes alive
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    val m1 = KgJob.run(spark, input, modelPath, output, buckets = 8)
    assert(spark.sparkContext.getPersistentRDDs.size <= persistedBefore,
      s"KgJob.run left ${spark.sparkContext.getPersistentRDDs.size - persistedBefore} RDD(s) cached")
    assert(m1.turns > 0 && m1.triples > 0 && m1.entities > 0 && m1.edges > 0)
    assert(m1.bucketsWritten > 0 && m1.bucketsSkipped == 0)

    // on-disk triples == the in-memory pipeline on the same input+model
    val model = spark.sparkContext.broadcast(NerTraining.load(spark, modelPath))
    val want = KgPipeline.run(spark,
        spark.read.parquet(input).as[graft.corpus.Turn], model)
      .resolvedTriples.select("conv_id", "turn_idx", "subj", "pred", "obj").collect()
      .map(_.toSeq).sortBy(_.toString)
    val got = spark.read.parquet(s"$output/triples")
      .select("conv_id", "turn_idx", "subj", "pred", "obj").collect()
      .map(_.toSeq).sortBy(_.toString)
    assert(got.length == want.length && got.sameElements(want),
      s"materialized (${got.length}) != pipeline (${want.length})")

    // full re-run against a completed output: pure resume, nothing rewritten
    val m2 = KgJob.run(spark, input, modelPath, output, buckets = 8)
    assert(m2.bucketsWritten == 0 && m2.bucketsSkipped == m1.bucketsWritten,
      s"expected pure resume, got $m2")
    assert(spark.read.parquet(s"$output/triples").count() == m1.triples)

    val fs = Commit.fs(spark, output)

    // an incompatible resume is refused before any work: no tagging
    // phase runs and nothing is left cached in the caller's session
    def refusedResume(out: String, buckets: Int, dayPartition: Boolean = false): String = {
      val persisted = spark.sparkContext.getPersistentRDDs.size
      val err = new java.io.ByteArrayOutputStream()
      val stderr = System.err
      System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
      val e = try intercept[IllegalArgumentException] {
        KgJob.run(spark, input, modelPath, out, buckets, dayPartition)
      } finally System.setErr(stderr)
      assert(!err.toString("UTF-8").contains("[kgjob] tag_block_cc"),
        s"a refused resume tagged, blocked and linked first:\n$err")
      assert(spark.sparkContext.getPersistentRDDs.size <= persisted,
        s"a refused resume left ${spark.sparkContext.getPersistentRDDs.size - persisted} RDD(s) cached")
      e.getMessage
    }

    // resuming under a DIFFERENT bucket count must refuse loudly: the
    // committed manifest ids index another partition function and a
    // silent resume would lose/duplicate rows across the two layouts
    val e = refusedResume(output, buckets = 4)
    assert(e.contains("n_buckets"), e)

    // the committed layout is read strictly: a manifest without n_buckets
    // (written before the layout was recorded) or with another config is
    // refused on resume, never defaulted
    val manifests = GraphSink.doneBuckets(spark, output).toSeq
      .map(b => new org.apache.hadoop.fs.Path(s"$output/_manifests/bucket-$b.json"))
    def rewriteManifests(from: String, to: String): Unit = manifests.foreach { p =>
      val json = Commit.read(fs, p)
      assert(json.contains(from), json)
      fs.delete(p, false)
      Commit.write(fs, p, json.replace(from, to))
    }
    rewriteManifests(""","n_buckets":8""", "")
    val eOld = refusedResume(output, buckets = 8)
    assert(eOld.contains("'n_buckets'") && eOld.contains("fresh output"), eOld)
    rewriteManifests(""""config":"v1"""", """"config":"v2","n_buckets":8""")
    val eCfg = refusedResume(output, buckets = 8)
    assert(eCfg.contains("'config'"), eCfg)

    // day-partitioned job run to a fresh output: same triples, day dirs
    // under every bucket, layout recorded for the resume guard. A
    // leftover CC checkpoint is planted under the output first: a
    // SUCCESSFUL job must clean `_cc_checkpoints` up (ADVICE r4 — the
    // frontier is O(|nodes|) dead weight once the manifests commit, and
    // a stale one trips the fingerprint guard on a later reuse)
    val output2 = s"$dir/graph_day"
    val ccDir = new java.io.File(s"$output2/_cc_checkpoints")
    ccDir.mkdirs()
    java.nio.file.Files.writeString(ccDir.toPath.resolve("stale-marker.txt"), "leftover")
    val mDay = KgJob.run(spark, input, modelPath, output2, buckets = 8, dayPartition = true)
    assert(!ccDir.exists(), "_cc_checkpoints must be deleted after a successful job")
    assert(mDay.triples == m1.triples)
    val dayGot = spark.read.parquet(s"$output2/triples")
      .select("conv_id", "turn_idx", "subj", "pred", "obj").collect()
      .map(_.toSeq).sortBy(_.toString)
    assert(dayGot.sameElements(want), "day-partitioned table diverged")
    val bucketDirs = new java.io.File(s"$output2/triples").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("conv_bucket="))
    assert(bucketDirs.nonEmpty &&
      bucketDirs.forall(_.listFiles().exists(_.getName.startsWith("day="))))
    val eDay = refusedResume(output2, buckets = 8)
    assert(eDay.contains("day_partition"), eDay)
  }

  test("KgJob reports the counts its writes observed, reading none of its own outputs back") {
    val (dir, input, modelPath) = staged
    val output = s"$dir/graph_observed"
    val own = Seq("_linkstate", "entities", "edges").map(d => new java.io.File(s"$output/$d").getPath)
    val scans = new ConcurrentLinkedQueue[String]
    val sentinels = new LinkedBlockingQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        qe.analyzed.foreach {
          case l: LogicalRelation => l.relation match {
            case h: HadoopFsRelation => h.location.rootPaths.foreach(p => scans.add(p.toUri.getPath))
            case _ =>
          }
          case _ =>
        }
        "observed-sentinel-\\d".r.findFirstIn(qe.analyzed.toString).foreach(sentinels.put)
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // the listener bus is asynchronous but ordered: once a sentinel
    // query's event arrives, every earlier execution's has
    def drain(n: Int): Unit = {
      spark.range(1).select(lit(s"observed-sentinel-$n")).collect()
      assert(sentinels.poll(60, TimeUnit.SECONDS) == s"observed-sentinel-$n")
    }
    spark.listenerManager.register(listener)
    val m = try {
      drain(1)
      scans.clear()
      val m = KgJob.run(spark, input, modelPath, output, buckets = 8)
      drain(2)
      m
    } finally spark.listenerManager.unregister(listener)
    val readBack = scans.asScala.filter(p => own.exists(o => p == o || p.startsWith(s"$o/"))).toSeq
    assert(readBack.isEmpty, s"KgJob.run read its own outputs back: ${readBack.distinct.mkString(", ")}")

    def rows(table: String): Long = spark.read.parquet(s"$output/$table").count()
    val manifested = spark.read.json(s"$output/_manifests").agg(sum("rows")).first().getLong(0)
    assert(m.turns == spark.read.parquet(input).count(), m)
    assert(m.triples == manifested && manifested == rows("triples"), s"$m, manifests hold $manifested")
    assert(m.entities == rows("entities") && m.edges == rows("edges"), m)
    assert(GraphSink.readLinkState(spark, s"$output/_linkstate").isDefined)
  }

  test("KgJob killed at each commit point re-runs to the clean output") {
    val (dir, input, modelPath) = staged
    def run(local: String) = KgJob.run(spark, input, modelPath, CrashFs.on(spark, local), buckets = 4)
    val clean = s"$dir/killed-clean"
    val (cleanRun, trace) = CrashFs.record(clean)(run(clean))
    val want = Snapshot.graph(spark, clean)
    val points = CrashFs.points(trace, Seq(
      Kind("triples write", under("triples")),
      Kind("manifests dir", at("mkdirs", "_manifests"), crash = false),
      Kind("bucket manifest temp create", at("create", "_manifests/.bucket-")),
      Kind("bucket manifest rename", at("rename", "_manifests/.bucket-")),
      Kind("entities write", under("entities")),
      Kind("edges write", under("edges")),
      Kind("link-state marker withdraw", at("delete", "_linkstate/_committed.json"), crash = false),
      Kind("link-state nodes write", under("_linkstate/nodes")),
      Kind("link-state labels write", under("_linkstate/labels")),
      Kind("link-state marker temp create", at("create", "_linkstate/._committed.json.tmp")),
      Kind("link-state marker rename", at("rename", "_linkstate/._committed.json.tmp"))))
    CrashFs.forEach(points) { (p, i) =>
      val local = s"$dir/killed-$i"
      CrashFs.kill(spark, local, p)(run(local))
      // the re-run resumes: every bucket committed before the kill is
      // skipped, and only the rest is written
      val committed = GraphSink.doneBuckets(spark, local).size
      val m = run(local)
      assert(m.bucketsSkipped == committed && m.bucketsWritten + committed == cleanRun.bucketsWritten,
        s"$p: $committed bucket(s) committed at the kill, re-run $m")
      val got = Snapshot.graph(spark, local)
      assert(got == want, s"$p: the re-run differs from the clean run in ${got.diff(want).mkString(", ")}")
      assert(CrashFs.leftovers(local).isEmpty, s"$p: left ${CrashFs.leftovers(local)}")
    }
  }
}
