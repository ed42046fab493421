package graft.streaming

import graft.corpus.TranscriptGen
import graft.pipeline.{NerTraining, Transcripts}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** M7 gates: incremental ingest over file drops equals the batch result;
  * re-delivered turns are deduped inside the watermark; stateful
  * conversation assembly tracks turn progress across micro-batches.
  */
class StreamingSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("streaming")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val N = 20L

  /** One event time for every near-dup doc: the watermark never passes a
    * bucket's timeout, so nothing expires and every pair is emitted.
    */
  private val constTs = org.apache.spark.sql.functions.lit(new java.sql.Timestamp(1700000000000L))

  test("no program source starts a streaming query outside StreamingIngest.start") {
    val starts = graft.SourceGuard.lines(Set.empty, ".start(")
      .filter(l => "(?<!StreamingIngest)\\.start\\(".r.findFirstIn(l.split(": ", 2)(1)).nonEmpty)
    val (helper, offenders) = starts.partition(l =>
      l.contains("/StreamingIngest.scala:") && l.endsWith(": val q = writer.start()"))
    assert(helper.length == 1, s"the helper's own start was not found:\n${starts.mkString("\n")}")
    assert(offenders.isEmpty,
      s"query started without its checkpoint manager — use StreamingIngest.start:\n${offenders.mkString("\n")}")
  }

  test("streaming tag over file drops equals batch tagging") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stream_in").toString
    val labeled = Transcripts.generateLabeled(spark, N)
    val model = NerTraining.trainAndBroadcast(spark, Transcripts.trainSplit(labeled))
    // two "drops": convs 0..9 then 10..19, the second re-delivering conv 9
    val all = Transcripts.generate(spark, N).cache()
    all.where($"conv_id" < "c0000010").write.parquet(s"$dir/drop1")
    all.where($"conv_id" >= "c0000009").write.parquet(s"$dir/drop2")

    val got = StreamingIngest.runOnce(spark, s"$dir/drop*", model, "stream_smoke")
      .select("conv_id", "turn_idx", "n_mentions", "n_triples")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3)))

    // duplicates removed?
    assert(got.map(x => (x._1, x._2)).distinct.length == got.length,
      "re-delivered turns must be deduped within the watermark")

    val batch = graft.pipeline.KgPipeline.tagTurns(all, model)
      .select($"conv_id", $"turn_idx", org.apache.spark.sql.functions.size($"mentions").as("m"),
        org.apache.spark.sql.functions.size($"triples").as("t"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(got.toSet == batch.toSet)
  }

  test("streaming content dedup drops textual duplicates across identities") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stream_dd").toString
    val ts = new java.sql.Timestamp(1700000000000L)
    // same text under three different (conv, turn) identities + one unique
    Seq(
      graft.corpus.Turn("cA", 0, "user", "hello world copy", "", ts),
      graft.corpus.Turn("cB", 1, "user", "hello world copy", "", ts),
      graft.corpus.Turn("cC", 2, "user", "hello world copy", "", ts),
      graft.corpus.Turn("cD", 3, "user", "something else", "", ts))
      .toDS().write.parquet(s"$dir/drop1")
    val deduped = StreamingIngest.dedupByContent(StreamingIngest.readTurns(spark, s"$dir/drop*"))
    val q = deduped.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("stream_dd").start()
    q.processAllAvailable(); q.stop()
    val texts = spark.table("stream_dd").select("text").collect().map(_.getString(0)).sorted
    assert(texts.toSeq == Seq("hello world copy", "something else"),
      s"content dedup failed: ${texts.mkString("|")}")
  }

  test("windowed mention counts run with watermark") {
    import spark.implicits._
    val labeled = Transcripts.generateLabeled(spark, N)
    val model = NerTraining.trainAndBroadcast(spark, Transcripts.trainSplit(labeled))
    val dir = java.nio.file.Files.createTempDirectory("stream_w").toString
    Transcripts.generate(spark, N).write.parquet(s"$dir/d")
    val q = StreamingIngest.windowedCounts(
        StreamingIngest.readTurns(spark, s"$dir/d"), model)
      .writeStream.outputMode(OutputMode.Append).format("memory").queryName("wc").start()
    q.processAllAvailable(); q.stop()
    // append mode emits only closed windows; correctness of the counts is
    // covered by the batch twin (r_hourly_counts); here we assert the
    // stateful plumbing runs and the state store commits
    assert(spark.table("wc").columns.toSeq == Seq("window", "tag", "n"))
  }

  test("session windows close on inactivity gaps (RocksDB state store)") {
    import spark.implicits._
    // turns are 30s apart within a conv; convs start 1h apart -> each
    // conversation forms exactly one session window
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dir = java.nio.file.Files.createTempDirectory("stream_sw").toString
      Transcripts.generate(spark, N).write.parquet(s"$dir/d")
      val q = StreamingIngest.sessionCounts(StreamingIngest.readTurns(spark, s"$dir/d"))
        .writeStream.outputMode(OutputMode.Append).format("memory").queryName("sw").start()
      q.processAllAvailable(); q.stop()
      val rows = spark.table("sw").select("conv_id", "n_turns").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      // append emits only windows closed by the watermark; all emitted
      // sessions must match the full conversation length
      val expected = (0L until N).map(i => (f"c$i%07d", TranscriptGen.convLength(i).toLong)).toMap
      assert(rows.nonEmpty)
      for ((conv, n) <- rows) assert(expected(conv) == n, s"$conv: $n != ${expected(conv)}")
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming minhash near-dup finds pairs across micro-batches, once") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stream_nd").toString
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    val t2 = "completely different words about another topic entirely here"
    // drop1: 1 & 2 duplicates, 3 distinct; drop2: 4 duplicates 1/2 ACROSS
    // the batch boundary (state!), 5 duplicates 3, 6 unique
    Seq((1L, t1), (2L, t1), (3L, t2)).toDF("doc_id", "text").write.parquet(s"$dir/drop1")
    Seq((4L, t1), (5L, t2), (6L, "one single unrelated utterance not matching anything"))
      .toDF("doc_id", "text").write.parquet(s"$dir/drop2")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1") // force one micro-batch per drop
      .parquet(s"$dir/drop*")
      .withColumn("ts", constTs)
    val q = StreamingIngest.nearDupCandidatesExpiring(stream)
      .writeStream.outputMode(OutputMode.Append).format("memory").queryName("nd").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("nd").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // exactly-once per (pair, band)
    assert(rows.distinct.length == rows.length, s"duplicate emissions: ${rows.mkString(",")}")
    val pairs = rows.map(x => (x._1, x._2)).distinct.toSet
    assert(pairs == Set((1L, 2L), (1L, 4L), (2L, 4L), (3L, 5L)),
      s"unexpected candidate pairs: $pairs")
  }

  test("streaming near-dup == batch minhash-LSH banding pairs on the same docs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stream_ndpar").toString
    // realistic mix: two near-dup families (shared shingles), singletons,
    // and a short doc the shingle guard must skip — buckets stay under
    // both paths' caps, where batch and streaming semantics coincide
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "s", 10L),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda", "en", "s", 10L),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "s", 10L),
      (4L, "one two three four five six seven eight nine ten", "en", "s", 10L),
      (5L, "one two three four five six seven eight nine eleven", "en", "s", 10L),
      (6L, "completely unrelated content with no shared shingles at all", "en", "s", 10L),
      (7L, "tiny doc", "en", "s", 2L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val batch = graft.relational.CatalogText.queries("t_minhash_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .parquet(s"$dir/documents.parquet")
      .withColumn("ts", constTs)
    val q = StreamingIngest.nearDupCandidatesExpiring(stream)
      .writeStream.outputMode(OutputMode.Append).format("memory").queryName("ndpar").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ndpar").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct.toSet
    assert(streamed == batch,
      s"stream/batch divergence: stream=$streamed batch=$batch")
    assert(batch.contains((1L, 3L)), "exact dup pair must be present in both")
  }

  test("streaming near-dup bucket cap stops a hot bucket from going quadratic") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stream_ndcap").toString
    val t = "identical text shared by every single doc in this bucket"
    Seq((1L, t), (2L, t), (3L, t), (4L, t)).toDF("doc_id", "text")
      .write.parquet(s"$dir/drop1")
    val stream = spark.readStream.schema("doc_id LONG, text STRING").parquet(s"$dir/drop*")
      .withColumn("ts", constTs)
    val q = StreamingIngest.nearDupCandidatesExpiring(stream, maxBucket = 2)
      .writeStream.outputMode(OutputMode.Append).format("memory").queryName("ndcap").start()
    q.processAllAvailable(); q.stop()
    val pairs = spark.table("ndcap").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct.toSet
    // members 1,2,3 pair up; the bucket then overflows (3 > cap) and doc 4
    // emits nothing — the overflow flag gates all further output
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)), s"cap not applied: $pairs")
  }

  test("streaming near-dup event-time expiry removes idle bucket state") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("stream_ndexp").toString
    def ts(h: Int, m: Int = 0) = new java.sql.Timestamp(1700000000000L + (h * 60L + m) * 60000L)
    val famA = "alpha beta gamma delta epsilon zeta eta theta"
    // drop1 (t=0h): family-A dups 1,2 -> pair (1,2), bucket timeout t=1h
    Seq((1L, famA, ts(0)), (2L, famA, ts(0)))
      .toDF("doc_id", "text", "ts").write.parquet(s"$dir/drop1")
    // drop2 (t=10h): unrelated singleton — advances the watermark to 9h,
    // far past family A's 1h timeout, without touching its bucket
    Seq((3L, "completely different words about another topic entirely", ts(10)))
      .toDF("doc_id", "text", "ts").write.parquet(s"$dir/drop2")
    // drop3 (t=10h10): another singleton — the batch in which family A's
    // bucket has NO data and watermark > timeout, so the state is REMOVED
    Seq((4L, "yet more unrelated content sharing no shingles whatsoever", ts(10, 10)))
      .toDF("doc_id", "text", "ts").write.parquet(s"$dir/drop3")
    // drop4 (t=10h30): doc 5 re-uses family A's text — its bucket state
    // was expired, so NO (1,5)/(2,5) pairs may appear
    Seq((5L, famA, ts(10, 30)))
      .toDF("doc_id", "text", "ts").write.parquet(s"$dir/drop4")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", "1") // one micro-batch per drop, in order
      .parquet(s"$dir/drop*")
    val q = StreamingIngest.nearDupCandidatesExpiring(stream)
      .writeStream.outputMode(OutputMode.Append).format("memory").queryName("ndexp").start()
    q.processAllAvailable(); q.stop()
    val pairs = spark.table("ndexp").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct.toSet
    assert(pairs == Set((1L, 2L)),
      s"expired bucket must not pair with later arrivals: $pairs")
  }

  test("streaming graph sink: exactly-once batches, manifests, batch parity") {
    import spark.implicits._
    val labeled = Transcripts.generateLabeled(spark, N)
    val model = NerTraining.trainAndBroadcast(spark, Transcripts.trainSplit(labeled))
    val inDir = java.nio.file.Files.createTempDirectory("stream_sink_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("stream_sink_out").toString
    val all = Transcripts.generate(spark, N).cache()
    all.where($"conv_id" < "c0000010").write.parquet(s"$inDir/drop1")
    all.where($"conv_id" >= "c0000010").write.parquet(s"$inDir/drop2")
    // an EMPTY published map: nothing resolves, so the sink writes the
    // plain triples
    val canonDir = java.nio.file.Files.createTempDirectory("stream_sink_canon").toString
    val version = StreamingIngest.publishCanonMap(
      Seq.empty[(String, String, Long, String)].toDF("norm", "tag", "entity_id", "canonical_norm"),
      canonDir)
    val stream = StreamingIngest.tagStream(
      StreamingIngest.readTurns(spark, s"$inDir/drop*").repartition(2), model)
    val q = StreamingIngest.sinkResolvedTriplesRefreshing(stream, canonDir, outDir)
    q.processAllAvailable(); q.stop()

    // written triples == the batch pipeline's triples on the same input
    val got = spark.read.parquet(s"$outDir/resolved_triples")
      .select("conv_id", "turn_idx", "subj", "pred", "obj").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3), r.getString(4)))
    val want = graft.pipeline.KgPipeline.tripleRows(
        graft.pipeline.KgPipeline.tagTurns(all, model))
      .select("conv_id", "turn_idx", "subj", "pred", "obj").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3), r.getString(4)))
    assert(got.sorted.toSeq == want.sorted.toSeq,
      s"stream sink rows (${got.length}) != batch rows (${want.length})")

    // per-batch manifests committed, rows accounted
    val manifests = spark.read.json(s"$outDir/_manifests")
    assert(manifests.count() >= 1)
    assert(manifests.agg(org.apache.spark.sql.functions.sum($"rows")).first().getLong(0)
      == got.length.toLong)

    // replaying a committed batchId is a no-op (exactly-once on retry)
    val before = spark.read.parquet(s"$outDir/resolved_triples").count()
    val someBatch = manifests.select($"batch").orderBy($"batch").first().getLong(0)
    val replay = spark.read.parquet(s"$outDir/resolved_triples/batch=$someBatch")
    StreamingIngest.writeBatch(replay, outDir, someBatch, version)
    assert(spark.read.parquet(s"$outDir/resolved_triples").count() == before,
      "replaying a manifested batch must not change the table")
  }

  test("streaming canonical resolution == batch resolve (stream-static join)") {
    import spark.implicits._
    val labeled = Transcripts.generateLabeled(spark, N)
    val model = NerTraining.trainAndBroadcast(spark, Transcripts.trainSplit(labeled))
    val inDir = java.nio.file.Files.createTempDirectory("stream_res_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("stream_res_out").toString
    val all = Transcripts.generate(spark, N).cache()
    all.where($"conv_id" < "c0000010").write.parquet(s"$inDir/drop1")
    all.where($"conv_id" >= "c0000010").write.parquet(s"$inDir/drop2")

    // the batch linking run supplies BOTH the canonical map (the static
    // side of the stream join) and the parity reference
    val batchOut = graft.pipeline.KgPipeline.run(spark, all, model)
    val canonMap = graft.pipeline.KgPipeline.canonicalize(batchOut.nodes, batchOut.components)

    val canonDir = java.nio.file.Files.createTempDirectory("stream_res_canon").toString
    StreamingIngest.publishCanonMap(canonMap, canonDir)

    val stream = StreamingIngest.tagStream(
      StreamingIngest.readTurns(spark, s"$inDir/drop*").repartition(2), model)
    val q = StreamingIngest.sinkResolvedTriplesRefreshing(stream, canonDir, outDir)
    q.processAllAvailable(); q.stop()

    val cols = Seq("conv_id", "turn_idx", "subj", "pred", "obj",
      "subj_id", "obj_id", "subj_canonical", "obj_canonical").map(org.apache.spark.sql.functions.col)
    val got = spark.read.parquet(s"$outDir/resolved_triples").select(cols: _*)
    val want = batchOut.resolvedTriples.select(cols: _*)
    assert(got.count() == want.count(), "row count mismatch vs batch resolve")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "streaming canonical resolution diverged from the batch path")
    // resolution actually engaged: entity ids present on resolvable rows
    assert(got.where($"subj_id".isNotNull).count() > 0)
  }

  test("expiring conversation state emits one final update per conv and drops state") {
    import spark.implicits._
    val labeled = Transcripts.generateLabeled(spark, N)
    val model = NerTraining.trainAndBroadcast(spark, Transcripts.trainSplit(labeled))
    val dir = java.nio.file.Files.createTempDirectory("stream_se").toString
    // drop1 (ONE file -> one batch): the conversations under test;
    // drop2: a far-future sentinel that pushes the watermark past every
    // conv's idle gap; drop3: a second sentinel providing the batch in
    // which those now-passed timeouts actually FIRE (timeouts are
    // evaluated per batch against the watermark established by the
    // previous one)
    val all = Transcripts.generate(spark, N).cache()
    all.coalesce(1).write.parquet(s"$dir/drop1")
    val maxTs = all.agg(org.apache.spark.sql.functions.max($"ts")).first()
      .getTimestamp(0).getTime
    Seq(graft.corpus.Turn("zz_sentinel", 0, "user", "closing sentinel turn", "",
        new java.sql.Timestamp(maxTs + 10L * 3600 * 1000)))
      .toDS().write.parquet(s"$dir/drop2")
    Seq(graft.corpus.Turn("zz_sentinel", 1, "user", "second sentinel turn", "",
        new java.sql.Timestamp(maxTs + 20L * 3600 * 1000)))
      .toDS().write.parquet(s"$dir/drop3")
    val stream = spark.readStream
      .schema(spark.createDataset(Seq.empty[graft.corpus.Turn]).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/drop*")
      .as[graft.corpus.Turn]
    val q = StreamingIngest.conversationStateExpiring(stream, model)
      .writeStream.outputMode(OutputMode.Append).format("memory").queryName("se").start()
    q.processAllAvailable(); q.stop()
    val updates = spark.table("se").collect()
      .map(r => (r.getString(0), r.getInt(1))).filter(_._1 != "zz_sentinel")
    // exactly ONE final update per expired conversation, with the true
    // final max turn (nothing emitted while the conv was live)
    assert(updates.map(_._1).distinct.length == updates.length,
      s"multiple updates for one conv: ${updates.mkString(",")}")
    val expected = (0L until N).map(i => (f"c$i%07d", TranscriptGen.convLength(i) - 1)).toMap
    assert(updates.toMap == expected, s"got ${updates.length} of ${expected.size} finals")
  }

  test("conversation state tracks max turn across micro-batches") {
    import spark.implicits._
    val labeled = Transcripts.generateLabeled(spark, N)
    val model = NerTraining.trainAndBroadcast(spark, Transcripts.trainSplit(labeled))
    val dir = java.nio.file.Files.createTempDirectory("stream_s").toString
    // every conversation's turns split across two drops (even turn
    // indexes, then odd), one micro-batch each: a conversation's max
    // turn is only right if its state crosses the batch boundary. The
    // 100-hour watermark delay keeps the second drop's earlier turns
    // from being dropped as late; two far-future sentinel drops then
    // push the watermark past every conversation's idle gap and give
    // the timeouts a batch to fire in
    val all = Transcripts.generate(spark, N).cache()
    all.where($"turn_idx" % 2 === 0).coalesce(1).write.parquet(s"$dir/drop1")
    all.where($"turn_idx" % 2 === 1).coalesce(1).write.parquet(s"$dir/drop2")
    val maxTs = all.agg(org.apache.spark.sql.functions.max($"ts")).first()
      .getTimestamp(0).getTime
    Seq(graft.corpus.Turn("zz_sentinel", 0, "user", "closing sentinel turn", "",
        new java.sql.Timestamp(maxTs + 200L * 3600 * 1000)))
      .toDS().write.parquet(s"$dir/drop3")
    Seq(graft.corpus.Turn("zz_sentinel", 1, "user", "second sentinel turn", "",
        new java.sql.Timestamp(maxTs + 300L * 3600 * 1000)))
      .toDS().write.parquet(s"$dir/drop4")
    val stream = spark.readStream
      .schema(spark.createDataset(Seq.empty[graft.corpus.Turn]).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/drop*")
      .as[graft.corpus.Turn]
    val q = StreamingIngest.conversationStateExpiring(stream, model, watermarkDelay = "100 hours")
      .writeStream.outputMode(OutputMode.Append).format("memory").queryName("cs").start()
    q.processAllAvailable(); q.stop()
    val updates = spark.table("cs").collect()
      .map(r => (r.getString(0), r.getInt(1))).filter(_._1 != "zz_sentinel").toMap
    val expected = (0L until N).map(i => (f"c$i%07d", TranscriptGen.convLength(i) - 1)).toMap
    assert(updates == expected)
  }
}
