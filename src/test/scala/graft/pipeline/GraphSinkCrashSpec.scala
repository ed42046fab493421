package graft.pipeline

import graft.testkit.CrashFs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Crash-window resume test (ADVICE r1, high): a crash AFTER a bucket's
  * parquet commit but BEFORE its manifest rename must NOT duplicate that
  * bucket's rows on resume. With dynamic partition overwrite the
  * re-written bucket REPLACES the stale files, so resumed output equals
  * a clean one-shot write exactly. The crashes are real: the sink writes
  * through [[CrashFs]], killed at its first manifest rename.
  */
class GraphSinkCrashSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graphsink-crash")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def sampleTriples() = {
    val spark2 = spark
    import spark2.implicits._
    (0 until 500).map { i =>
      (s"c${i % 37}", i, new java.sql.Timestamp(1700000000000L + i * 1000L),
        s"subj$i", "mentions", s"obj${i % 11}")
    }.toDF("conv_id", "turn_idx", "ts", "subj", "pred", "obj")
  }

  /** The sink killed after its data commit, at its first manifest rename:
    * one bucket committed, the others written but not manifested. */
  private def killedAtFirstManifest(triples: DataFrame, local: String, dayPartition: Boolean): Unit =
    CrashFs.kill(spark, local, CrashFs.Point("first bucket manifest rename",
      CrashFs.at("rename", "_manifests/.bucket-")))(
      GraphSink.writeTriples(spark, triples, CrashFs.on(spark, local), 8, dayPartition))

  private def committedBuckets(local: String): Set[Int] =
    new java.io.File(s"$local/_manifests").list().toSet.filter(_.startsWith("bucket-"))
      .map((n: String) => n.stripPrefix("bucket-").stripSuffix(".json").toInt)

  test("resume after crash between data commit and manifest rename does not duplicate rows") {
    val local = java.nio.file.Files.createTempDirectory("graft_sink_crash").toString
    val dir = CrashFs.on(spark, local)
    val triples = sampleTriples()
    val nBuckets = 8
    val clean = GraphSink.bucketed(triples, nBuckets)
      .groupBy(col("conv_bucket")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

    killedAtFirstManifest(triples, local, dayPartition = false)
    assert(committedBuckets(local).size == 1)
    // resume: the written but unmanifested buckets are pending again and re-written
    val m = GraphSink.writeTriples(spark, triples, dir, nBuckets)
    assert(m.buckets == nBuckets - 1 && m.skippedBuckets == 1, m)

    val resumed = spark.read.parquet(s"$dir/triples")
      .groupBy(col("conv_bucket")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(resumed == clean, s"resume duplicated rows: clean=$clean resumed=$resumed")
    // every manifest committed, each with its bucket's row count
    val manifested = spark.read.json(s"$dir/_manifests").select(col("bucket"), col("rows"))
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    assert(manifested == clean)
  }

  test("every bucket manifest is read strictly: damaging any one refuses the resume, naming it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_strict").toString
    val triples = sampleTriples()
    GraphSink.writeTriples(spark, triples, dir, 8)
    val f = Commit.fs(spark, dir)
    val buckets = GraphSink.doneBuckets(spark, dir).toSeq.sorted
    assert(buckets == (0 until 8), s"expected all 8 buckets committed, got $buckets")
    for (b <- buckets) {
      val p = new org.apache.hadoop.fs.Path(s"$dir/_manifests/bucket-$b.json")
      val good = Commit.read(f, p)
      // a torn record, and a well-formed one under another layout
      for (bad <- Seq("{torn", good.replace(""""n_buckets":8""", """"n_buckets":4"""))) {
        f.delete(p, false)
        Commit.write(f, p, bad)
        val e = intercept[IllegalArgumentException](GraphSink.writeTriples(spark, triples, dir, 8))
        assert(e.getMessage.contains(s"bucket-$b.json"), s"damaged bucket-$b.json: ${e.getMessage}")
      }
      f.delete(p, false)
      Commit.write(f, p, good)
    }
    assert(GraphSink.writeTriples(spark, triples, dir, 8).skippedBuckets == 8)
  }

  test("day(ts) secondary partition: layout gains day dirs, content and resume unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_day").toString
    // spread ts across 3 days so the day split is non-trivial
    val triples = sampleTriples()
      .withColumn("ts",
        expr("timestamp_millis(1700000000000 + CAST(turn_idx AS BIGINT) * 43200000)"))
    val m1 = GraphSink.writeTriples(spark, triples, dir, 8, dayPartition = true)
    assert(m1.buckets == 8 && m1.rows == 500)

    // physical layout: day=* under each conv_bucket dir
    val bucketDirs = new java.io.File(s"$dir/triples").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("conv_bucket="))
    assert(bucketDirs.length == 8)
    assert(bucketDirs.forall(_.listFiles().exists(_.getName.startsWith("day="))),
      "every bucket must be day-partitioned")

    // content round-trips; the day partition column matches to_date(ts)
    val back = spark.read.parquet(s"$dir/triples")
    assert(back.count() == 500)
    assert(back.where(col("day") =!= to_date(col("ts"))).count() == 0)

    // resume semantics unchanged: manifests are per bucket, all skipped
    val m2 = GraphSink.writeTriples(spark, triples, dir, 8, dayPartition = true)
    assert(m2.buckets == 0 && m2.skippedBuckets == 8 && m2.rows == 0)
    assert(spark.read.parquet(s"$dir/triples").count() == 500)

    // resuming the committed day layout FLAT must refuse loudly — mixed
    // partition depths under one triples root break every reader
    val e = intercept[IllegalArgumentException] {
      GraphSink.writeTriples(spark, triples, dir, 8, dayPartition = false)
    }
    assert(e.getMessage.contains("day_partition"))
  }

  test("day layout: drifted resume of a pending bucket leaves no stale day dirs") {
    val local = java.nio.file.Files.createTempDirectory("graft_sink_drift").toString
    val dir = CrashFs.on(spark, local)
    // 3-day spread so each bucket holds several day dirs
    val triples = sampleTriples()
      .withColumn("ts",
        expr("timestamp_millis(1700000000000 + CAST(turn_idx AS BIGINT) * 43200000)"))
    // crash window: the data of every bucket committed, one manifest
    killedAtFirstManifest(triples, local, dayPartition = true)
    val victim = ((0 until 8).toSet -- committedBuckets(local)).min

    // the resumed run sees DRIFTED input (ts shifted +30 days — a day
    // set disjoint from the crashed run's). ADVICE r4: dynamic overwrite
    // alone only replaces the day leaves present in the NEW data, so the
    // old day dirs would survive inside the "replaced" bucket and get
    // blessed into the manifest by the read-back fingerprint. The
    // up-front delete of uncommitted bucket dirs must prevent that.
    val drifted = triples.withColumn("ts",
      expr("timestamp_millis(unix_millis(ts) + 2592000000)"))
    GraphSink.writeTriples(spark, drifted, dir, 8, dayPartition = true)

    val oldDays = GraphSink.bucketed(triples, 8)
      .where(col("conv_bucket") === victim)
      .select(GraphSink.utcDay(col("ts")).cast("string")).distinct()
      .collect().map(_.getString(0)).toSet
    val onDisk = new java.io.File(s"$local/triples/conv_bucket=$victim").listFiles()
      .filter(_.getName.startsWith("day=")).map(_.getName.stripPrefix("day=")).toSet
    assert(oldDays.nonEmpty && onDisk.intersect(oldDays).isEmpty,
      s"stale pre-drift day dirs survived the resume: ${onDisk.intersect(oldDays)}")

    // the victim bucket's rows and manifest now describe ONLY the
    // drifted input — no duplicate rows from the crashed run
    val expect = GraphSink.bucketed(drifted, 8).where(col("conv_bucket") === victim).count()
    val got = spark.read.parquet(s"$dir/triples")
      .where(col("conv_bucket") === victim).count()
    assert(got == expect, s"victim bucket rows $got != drifted input $expect")
    val m = spark.read.json(s"$dir/_manifests")
      .where(col("bucket") === victim).select(col("rows")).first().getLong(0)
    assert(m == expect)
  }

  test("readTriplesDayRange is layout-agnostic: flat scan == pruned day read") {
    val triples = sampleTriples()
      .withColumn("ts",
        expr("timestamp_millis(1700000000000 + CAST(turn_idx AS BIGINT) * 43200000)"))
    val flat = java.nio.file.Files.createTempDirectory("graft_range_flat").toString
    val day = java.nio.file.Files.createTempDirectory("graft_range_day").toString
    GraphSink.writeTriples(spark, triples, flat, 8)
    GraphSink.writeTriples(spark, triples, day, 8, dayPartition = true)
    val Seq(fromD, toD) = Seq("2023-11-15", "2023-11-16")
    val onFlat = GraphSink.readTriplesDayRange(spark, flat, fromD, toD)
      .select("conv_id", "turn_idx", "subj", "pred", "obj")
    val onDay = GraphSink.readTriplesDayRange(spark, day, fromD, toD)
      .select("conv_id", "turn_idx", "subj", "pred", "obj")
    assert(onFlat.count() > 0, "range must be non-vacuous")
    assert(onFlat.exceptAll(onDay).count() == 0 && onDay.exceptAll(onFlat).count() == 0,
      "flat-layout fallback diverged from the pruned day read")
  }

  test("clean partial-run resume still skips committed buckets") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_partial").toString
    val triples = sampleTriples()
    val m1 = GraphSink.writeTriples(spark, triples, dir, 8)
    assert(m1.buckets == 8 && m1.skippedBuckets == 0)
    val m2 = GraphSink.writeTriples(spark, triples, dir, 8)
    assert(m2.buckets == 0 && m2.skippedBuckets == 8 && m2.rows == 0L)
  }

  test("a write that reports no metrics commits zero only when no uncommitted bucket dir exists") {
    import org.apache.hadoop.fs.Path
    val base = java.nio.file.Files.createTempDirectory("graft_sink_obs")
    val triplesDir = new Path(base.resolve("triples").toUri)
    val f = triplesDir.getFileSystem(new org.apache.hadoop.conf.Configuration())
    def read(metrics: Map[String, Any], done: Set[Int]): (Long, Set[Int]) = {
      val o = GraphSink.observed(metrics, f, GraphSink.uncommittedBuckets(f, triplesDir, done))
      (o.long("rows"), o.ints("written_buckets"))
    }
    // nothing written at all, then only committed buckets on disk
    assert(read(Map.empty, Set.empty) == ((0L, Set.empty[Int])))
    f.create(new Path(triplesDir, "conv_bucket=1/part-00000.parquet")).close()
    assert(read(Map.empty, Set(1)) == ((0L, Set.empty[Int])))
    // an uncommitted bucket dir without a data file holds nothing written
    f.mkdirs(new Path(triplesDir, "conv_bucket=2"))
    assert(read(Map.empty, Set(1)) == ((0L, Set.empty[Int])))
    // one with a data file, at any depth, holds data this write may have produced
    f.create(new Path(triplesDir, "conv_bucket=2/day=2024-01-01/part-00000.parquet")).close()
    val e = intercept[IllegalArgumentException](read(Map.empty, Set(1)))
    assert(e.getMessage.contains("conv_bucket=2"), e.getMessage)
    // a reported metric is used as is; a missing or mistyped one throws
    val good = Map[String, Any]("rows" -> 5L, "written_buckets" -> Seq(1, 2))
    assert(read(good, Set.empty) == ((5L, Set(1, 2))))
    intercept[RuntimeException](read(good - "rows", Set.empty))
    intercept[RuntimeException](read(good + ("rows" -> 5), Set.empty))
    intercept[RuntimeException](read(good + ("written_buckets" -> Seq("1")), Set.empty))
  }

  test("empty graph tables commit zero rows through the observed writes") {
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_empty").toString
    val nodes = Seq.empty[(String, String, Long, String, Long)]
      .toDF("norm", "tag", "n_mentions", "surface", "node_id")
    val labels = Seq.empty[(Long, Long)].toDF("node_id", "component")
    assert(GraphSink.writeLinkState(spark, nodes, labels, s"$dir/_linkstate") == 0L)
    assert(GraphSink.readLinkState(spark, s"$dir/_linkstate").get.nodes.count() == 0L)
    assert(GraphSink.writeEntities(KgPipeline.entitiesTable(nodes, labels), dir) == 0L)
    assert(GraphSink.writeEdges(Seq.empty[(Long, Long, String, Double)]
      .toDF("src", "dst", "pred", "weight"), dir) == 0L)
    val canon = graft.streaming.StreamingIngest.publishCanonMap(
      KgPipeline.canonicalize(nodes, labels), s"$dir/canon")
    assert(canon == "0-0", canon)
  }
}
