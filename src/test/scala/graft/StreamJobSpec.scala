package graft

import graft.pipeline.{KgPipeline, NerTraining, Transcripts}
import graft.streaming.StreamingIngest
import graft.testkit.CrashFs.{Kind, Mutation, at, under}
import graft.testkit.{CrashFs, Snapshot}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end gates for the streaming spark-submit entry point (VERDICT
  * r4 "what's missing" #2/#3): persisted model + published canonical map
  * in, exactly-once resolved-triple batches out, equal to the batch
  * resolve; a re-run against the same output resumes from the committed
  * offsets and processes only new drops; a canonical-map re-publish is
  * picked up at the next micro-batch WITHOUT restarting the query.
  */
class StreamJobSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("streamjob")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val N = 20L

  private val cmpCols = Seq("conv_id", "turn_idx", "subj", "pred", "obj",
    "subj_id", "obj_id", "subj_canonical", "obj_canonical").map(col)

  test("StreamJob --once: drops -> resolved batches == batch resolve; rerun resumes offsets") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("streamjob").toString
    val input = s"$dir/drops"
    val modelPath = s"$dir/model"
    val canonDir = s"$dir/canon"
    val output = s"$dir/out"

    val labeled = Transcripts.generateLabeled(spark, N).cache()
    NerTraining.save(NerTraining.trainModel(Transcripts.trainSplit(labeled)), spark, modelPath)
    val all = Transcripts.generate(spark, N).cache()
    all.where($"conv_id" < "c0000010").coalesce(1).write.parquet(s"$input/drop1")

    // batch linking over the full corpus supplies the canonical map
    // (deploy shape: linking is a batch responsibility) + the reference
    val model = spark.sparkContext.broadcast(NerTraining.load(spark, modelPath))
    val batchOut = KgPipeline.run(spark, all, model)
    StreamingIngest.publishCanonMap(
      KgPipeline.canonicalize(batchOut.nodes, batchOut.components), canonDir)

    val q1 = StreamJob.run(spark, s"$input/drop*", modelPath, canonDir, output, once = true)
    q1.awaitTermination()
    val afterFirst = spark.read.parquet(s"$output/resolved_triples").count()
    assert(afterFirst > 0)

    // second drop + SAME command re-run: the checkpoint resumes offsets,
    // so only the new file is processed, in a new batch directory
    all.where($"conv_id" >= "c0000010").coalesce(1).write.parquet(s"$input/drop2")
    val q2 = StreamJob.run(spark, s"$input/drop*", modelPath, canonDir, output, once = true)
    q2.awaitTermination()

    val got = spark.read.parquet(s"$output/resolved_triples").select(cmpCols: _*)
    val want = batchOut.resolvedTriples.select(cmpCols: _*)
    assert(got.count() == want.count(),
      s"resume reprocessed or dropped rows: ${got.count()} vs ${want.count()}")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "StreamJob output diverged from the batch resolve")
    assert(got.where(col("subj_id").isNotNull).count() > 0, "resolution never engaged")
    // both runs committed manifests (lineage channel intact)
    val manifests = new java.io.File(s"$output/_manifests").listFiles()
      .filter(_.getName.startsWith("stream-resolved-batch-"))
    assert(manifests.length >= 2, s"expected >=2 committed batches, got ${manifests.length}")
    assert(StreamJob.onceReport(spark, output) ==
      s"""{"job":"kg_stream","batches":${manifests.length},"rows":${want.count()}}""")
  }

  test("StreamJob --once over a drop directory with no files reports zero batches") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("streamjob_empty").toString
    val modelPath = s"$dir/model"
    val canonDir = s"$dir/canon"
    val output = s"$dir/out"
    val labeled = Transcripts.generateLabeled(spark, N).cache()
    NerTraining.save(NerTraining.trainModel(Transcripts.trainSplit(labeled)), spark, modelPath)
    StreamingIngest.publishCanonMap(Seq(("acme", "ORG", 1L, "acme"))
      .toDF("norm", "tag", "entity_id", "canonical_norm"), canonDir)
    new java.io.File(s"$dir/drops").mkdirs()
    StreamJob.run(spark, s"$dir/drops", modelPath, canonDir, output, once = true).awaitTermination()
    assert(!new java.io.File(s"$output/_manifests").exists(), "an empty input committed a manifest")
    assert(StreamJob.onceReport(spark, output) == """{"job":"kg_stream","batches":0,"rows":0}""")
  }

  test("canonical-map re-publish is picked up between batches without restart") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("streamjob_refresh").toString
    val input = s"$dir/drops"
    val canonDir = s"$dir/canon"
    val output = s"$dir/out"

    val labeled = Transcripts.generateLabeled(spark, N).cache()
    val model = NerTraining.trainAndBroadcast(spark, Transcripts.trainSplit(labeled))
    val all = Transcripts.generate(spark, N).cache()
    val bo = KgPipeline.run(spark, all, model)
    val fullMap = KgPipeline.canonicalize(bo.nodes, bo.components).cache()

    // v1: EMPTY map (schema only) — nothing resolves; v2: the full map
    val v1 = StreamingIngest.publishCanonMap(
      fullMap.where(org.apache.spark.sql.functions.lit(false)), canonDir)

    // batch ids are an implementation detail (no-data micro-batches may
    // interleave for stateful queries) — track committed manifests by
    // set difference instead of hardcoding batch=0/1
    def committed(): Map[Long, String] = {
      val d = new java.io.File(s"$output/_manifests")
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.startsWith("stream-resolved-batch-")).map { f =>
        val id = f.getName.stripPrefix("stream-resolved-batch-").stripSuffix(".json").toLong
        val src = scala.io.Source.fromFile(f)
        val json = try src.mkString finally src.close()
        id -> json
      }.toMap
    }
    def batchDf(id: Long) = spark.read.parquet(s"$output/resolved_triples/batch=$id")
    // only batches that actually carry rows (a no-data micro-batch of a
    // stateful query can commit an empty manifest)
    def nonEmpty(m: Map[Long, String]): Map[Long, String] =
      m.filterNot(_._2.contains(""""rows":0"""))

    // first drop lands BEFORE the query starts: trigger 1 has data
    all.where($"conv_id" < "c0000010").coalesce(1).write.parquet(s"$input/drop1")
    val tagged = StreamingIngest.tagStream(StreamingIngest.readTurns(spark, s"$input/drop*"), model)
    val q = StreamingIngest.sinkResolvedTriplesRefreshing(tagged, canonDir, output)
    try {
      q.processAllAvailable()
      val phase1 = nonEmpty(committed())
      assert(phase1.nonEmpty, "first drop committed no data batch")
      val rows1 = phase1.keys.map(batchDf(_)).reduce(_ unionByName _)
      assert(rows1.count() > 0)
      assert(rows1.where(col("subj_id").isNotNull).count() == 0,
        "empty v1 map must resolve nothing")
      for ((id, json) <- phase1)
        assert(json.contains(s""""canon_version":"$v1""""), s"batch $id: $json")

      // re-publish (the batch linking job's refresh) — NO query restart
      val v2 = StreamingIngest.publishCanonMap(fullMap, canonDir)
      assert(v2 != v1)
      // disjoint conv set so the in-watermark dedup can't eat the drop
      all.where($"conv_id" >= "c0000010").coalesce(1).write.parquet(s"$input/drop2")
      q.processAllAvailable()
      val phase2 = nonEmpty(committed()) -- phase1.keys
      assert(phase2.nonEmpty, "second drop committed no data batch")
      val rows2 = phase2.keys.map(batchDf(_)).reduce(_ unionByName _)
      assert(rows2.where(col("subj_id").isNotNull).count() > 0,
        "batch after re-publish must resolve against the new map")
      for ((id, json) <- phase2)
        assert(json.contains(s""""canon_version":"$v2""""), s"batch $id: $json")
    } finally q.stop()
  }

  test("crash replay across a canon re-publish: committed batches stay, uncommitted rewrite under the new map") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("streamjob_crash").toString
    val input = s"$dir/drops"
    val canonDir = s"$dir/canon"
    val local = s"$dir/out"
    val output = CrashFs.on(spark, local)

    val labeled = Transcripts.generateLabeled(spark, N).cache()
    val model = NerTraining.trainAndBroadcast(spark, Transcripts.trainSplit(labeled))
    val all = Transcripts.generate(spark, N).cache()
    val bo = KgPipeline.run(spark, all, model)
    val fullMap = KgPipeline.canonicalize(bo.nodes, bo.components).cache()

    // v1: EMPTY map — every batch before the re-publish resolves nothing
    val v1 = StreamingIngest.publishCanonMap(
      fullMap.where(org.apache.spark.sql.functions.lit(false)), canonDir)
    def runQuery(): Unit = StreamingIngest.sinkResolvedTriplesRefreshing(
      StreamingIngest.tagStream(StreamingIngest.readTurns(spark, s"$input/drop*"), model),
      canonDir, output, Some(Trigger.AvailableNow())).awaitTermination()
    def manifest(b: Long): String = {
      val src = scala.io.Source.fromFile(s"$local/_manifests/stream-resolved-batch-$b.json")
      try src.mkString finally src.close()
    }
    def committed(): Set[Long] = new java.io.File(s"$local/_manifests").list().toSet
      .filter(_.startsWith("stream-resolved-batch-"))
      .map((n: String) => n.stripPrefix("stream-resolved-batch-").stripSuffix(".json").toLong)
    def rows(b: Long) = spark.read.parquet(s"$output/resolved_triples/batch=$b")

    all.where($"conv_id" < "c0000010").coalesce(1).write.parquet(s"$input/drop1")
    runQuery()
    val keep = committed().filterNot(b => manifest(b).contains(""""rows":0""")).max
    // the next drop's batch is killed after its data is written, before
    // its manifest commits: neither the sink nor Spark's commit log holds it
    all.where($"conv_id" >= "c0000010").coalesce(1).write.parquet(s"$input/drop2")
    CrashFs.kill(spark, local,
      CrashFs.Point("stream manifest temp create", at("create", "_manifests/.stream-resolved-batch-")))(
      runQuery())
    val victim = new java.io.File(s"$local/resolved_triples").list()
      .map(_.stripPrefix("batch=").toLong).toSet.diff(committed()).toSeq match {
        case Seq(b) => b
        case bs => fail(s"expected one uncommitted batch directory, got $bs")
      }
    val victimRowsBefore = rows(victim).count()
    assert(victimRowsBefore > 0, "the killed batch wrote no rows")

    // the canonical map grew between crash and restart (the documented
    // refresh deploy shape): the REPLAYED batch must resolve against v2
    // wholesale, while the still-committed batch keeps its v1 result
    val v2 = StreamingIngest.publishCanonMap(fullMap, canonDir)
    assert(v2 != v1)
    runQuery()

    assert(rows(victim).count() == victimRowsBefore,
      "replayed batch duplicated or dropped rows")
    assert(rows(victim).where(col("subj_id").isNotNull).count() > 0,
      "replayed batch must be re-resolved under the refreshed map")
    assert(rows(keep).where(col("subj_id").isNotNull).count() == 0,
      "a committed batch must NOT be rewritten by the replay")
    assert(manifest(victim).contains(s""""canon_version":"$v2""""), manifest(victim))
    assert(manifest(keep).contains(s""""canon_version":"$v1""""), manifest(keep))
  }

  test("StreamJob --once killed at each commit point restarts to the clean output") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("streamjob_kill").toString
    val modelPath = s"$dir/model"
    val canonDir = s"$dir/canon"
    val local = s"$dir/out"
    val out = CrashFs.on(spark, local)
    val labeled = Transcripts.generateLabeled(spark, N).cache()
    NerTraining.save(NerTraining.trainModel(Transcripts.trainSplit(labeled)), spark, modelPath)
    val all = Transcripts.generate(spark, N).cache()
    all.coalesce(1).write.parquet(s"$dir/drops/drop1")
    val model = spark.sparkContext.broadcast(NerTraining.load(spark, modelPath))
    val bo = KgPipeline.run(spark, all, model)
    StreamingIngest.publishCanonMap(KgPipeline.canonicalize(bo.nodes, bo.components), canonDir)
    def run(): Unit =
      StreamJob.run(spark, s"$dir/drops/drop*", modelPath, canonDir, out, once = true).awaitTermination()

    val (_, trace) = CrashFs.record(local)(run())
    val want = Snapshot.stream(spark, local)
    val ck = "_checkpoint_resolved"
    def log(name: String): Mutation => Boolean = m => m.op != "mkdirs" && m.path.startsWith(s"$ck/$name/")
    val points = CrashFs.points(trace, Seq(
      Kind("offset log entry", log("offsets")),
      Kind("file-source log entry", log("sources")),
      Kind("state store delta", m => m.op != "mkdirs" && m.path.matches(s"$ck/state/\\d+/\\d+/\\..*")),
      Kind("commit log entry", log("commits")),
      Kind("checkpoint metadata", under(ck), crash = false),
      Kind("batch write", under("resolved_triples")),
      Kind("manifests dir", at("mkdirs", "_manifests"), crash = false),
      Kind("stream manifest temp create", at("create", "_manifests/.stream-resolved-batch-")),
      Kind("stream manifest rename", at("rename", "_manifests/.stream-resolved-batch-"))))
    assert(points.exists(_.label == "first stream manifest rename"), points)
    for (p <- points) {
      CrashFs.reset(local)
      CrashFs.kill(spark, local, p)(run())
      run()
      val got = Snapshot.stream(spark, local)
      assert(got == want, s"$p: the restart differs from the clean run in ${got.diff(want).mkString(", ")}")
      // a killed query's own checkpoint temp files stay behind; Spark
      // never reads them, and they are not the program's to clean
      val left = CrashFs.leftovers(local).filterNot(_.startsWith(s"$local/$ck/"))
      assert(left.isEmpty, s"$p: left $left")
    }
  }

  test("a canonical map without its _canon_version marker is refused, naming the publisher") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("streamjob_canon").toString
    // written straight to parquet, and a directory that does not exist
    Seq(("acme", "ORG", 1L, "acme")).toDF("norm", "tag", "entity_id", "canonical_norm")
      .write.parquet(s"$dir/unpublished")
    for (canonDir <- Seq(s"$dir/unpublished", s"$dir/absent")) {
      val e = intercept[IllegalArgumentException](StreamingIngest.canonSnapshotVersion(spark, canonDir))
      assert(e.getMessage.contains(s"$canonDir/_canon_version") &&
        e.getMessage.contains("StreamingIngest.publishCanonMap"), e.getMessage)
    }
  }

  test("StreamJob writes its checkpoint through the FileSystem manager, scoped to its query") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
      ChecksumCheckpointFileManager, FileContextBasedCheckpointFileManager,
      FileSystemBasedCheckpointFileManager, HDFSMetadataLog}
    import org.apache.spark.sql.execution.streaming.runtime.{FileStreamSource,
      StreamingExecutionRelation, StreamingQueryWrapper}
    val dir = java.nio.file.Files.createTempDirectory("streamjob_ckpt").toString
    val modelPath = s"$dir/model"
    val canonDir = s"$dir/canon"
    val labeled = Transcripts.generateLabeled(spark, N).cache()
    NerTraining.save(NerTraining.trainModel(Transcripts.trainSplit(labeled)), spark, modelPath)
    val all = Transcripts.generate(spark, N).cache()
    all.where($"conv_id" < "c0000010").coalesce(1).write.parquet(s"$dir/drops/drop1")
    StreamingIngest.publishCanonMap(Seq(("acme", "ORG", 1L, "acme"))
      .toDF("norm", "tag", "entity_id", "canonical_norm"), canonDir)

    def field[T](cls: Class[_], name: String, of: AnyRef): T = {
      val f = cls.getDeclaredField(name)
      f.setAccessible(true)
      f.get(of).asInstanceOf[T]
    }
    // the manager that creates and renames a log's files, past the
    // wrapper that adds checksum files
    def manager(log: HDFSMetadataLog[_]): CheckpointFileManager =
      field[CheckpointFileManager](classOf[HDFSMetadataLog[_]], "fileManager", log) match {
        case c: ChecksumCheckpointFileManager =>
          field[CheckpointFileManager](classOf[ChecksumCheckpointFileManager], "underlyingFileMgr", c)
        case m => m
      }

    val key = "spark.sql.streaming.checkpointFileManagerClass"
    val other = classOf[FileContextBasedCheckpointFileManager].getName
    // the caller's session, unset and then holding another manager
    for ((callerValue, run) <- Seq(None -> "unset", Some(other) -> "set")) {
      callerValue.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      val output = s"$dir/out-$run"
      val q = StreamJob.run(spark, s"$dir/drops/drop*", modelPath, canonDir, output)
      try {
        q.processAllAvailable()
        val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        assert(manager(exec.offsetLog).isInstanceOf[FileSystemBasedCheckpointFileManager],
          s"$run: offset log written through ${manager(exec.offsetLog).getClass.getName}")
        val sources = exec.logicalPlan.collect {
          case r: StreamingExecutionRelation => r.source.asInstanceOf[FileStreamSource]
        }
        assert(sources.length == 1, s"$run: $sources")
        val sourceLog = field[HDFSMetadataLog[_]](classOf[FileStreamSource], "metadataLog", sources.head)
        assert(manager(sourceLog).isInstanceOf[FileSystemBasedCheckpointFileManager],
          s"$run: file-source log written through ${manager(sourceLog).getClass.getName}")
        assert(spark.conf.getOption(key) == callerValue, s"$run: caller's $key changed")
      } finally {
        q.stop()
        spark.conf.unset(key)
      }
      // a committed batch directory holds only part files and their
      // `.crc` shadows: the manifest is the commit record, not `_SUCCESS`
      val batchDirs = new java.io.File(s"$output/resolved_triples").listFiles()
      assert(batchDirs.nonEmpty, s"$run: nothing committed")
      for (b <- batchDirs; f <- b.list())
        assert(f.startsWith("part-") || (f.startsWith(".part-") && f.endsWith(".crc")),
          s"$run: ${b.getName} holds $f")
    }
  }

  test("a batch that wrote data but reported no metrics is never committed as zero rows") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("streamjob_zero").toString
    val hfs = graft.pipeline.Commit.fs(spark, dir)
    val cols = Seq("conv_id", "turn_idx", "subj", "pred", "obj")
    // a genuinely empty micro-batch still commits rows=0 end to end
    StreamingIngest.writeBatch(Seq.empty[(String, Int, String, String, String)].toDF(cols: _*),
      dir, 0L, "v0")
    val src = scala.io.Source.fromFile(s"$dir/_manifests/stream-resolved-batch-0.json")
    val m0 = try src.mkString finally src.close()
    assert(m0 == """{"batch":0,"rows":0,"fingerprint":0,"canon_version":"v0"}""", m0)

    // no metrics reported: zero only for a batch directory without data
    def read(metrics: Map[String, Any], batchDir: Path): (Long, Long) = {
      val o = graft.pipeline.GraphSink.observed(metrics, hfs, Seq(batchDir))
      (o.long("rows"), o.fingerprint("fp"))
    }
    val empty = new Path(s"$dir/resolved_triples/batch=1")
    hfs.mkdirs(empty)
    assert(read(Map.empty, empty) == ((0L, 0L)))
    val written = new Path(s"$dir/resolved_triples/batch=2")
    Seq(("c1", 0, "Acme", "works_at", "Zed")).toDF(cols: _*).write.parquet(written.toString)
    val e = intercept[IllegalArgumentException](read(Map.empty, written))
    assert(e.getMessage.contains("batch=2"), e.getMessage)
    // a mistyped metric propagates (Structured Streaming retries the batch)
    intercept[RuntimeException](read(Map("rows" -> 1L, "fp" -> "?"), written))
    assert(read(Map("rows" -> 1L, "fp" -> 42L), written) == ((1L, 42L)))
    // bit_xor over zero rows is NULL: an empty batch's fingerprint is 0
    assert(read(Map("rows" -> 0L, "fp" -> null), empty) == ((0L, 0L)))
  }
}
