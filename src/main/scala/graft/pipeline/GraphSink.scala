package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}

/** Graph materialization with per-partition lineage manifests and
  * checkpointed resumability (SURVEY.md §7.5, north rule: "resumable from
  * checkpoint with per-partition lineage + metrics").
  *
  * Locally this is partitioned Parquet behind the same API an Iceberg
  * `writeTo(...).partitionedBy(bucket(conv_id))` would use at deploy
  * scale (SURVEY.md §7.4 records the sandbox gap — no Iceberg jars).
  *
  * Protocol per conv-bucket partition:
  *   1. triples for pending buckets are written via
  *      partitionBy(conv_bucket) (directory-atomic per partition),
  *   2. a manifest JSON {bucket, rows, fingerprint, config} is written
  *      AFTER the data through [[Commit.write]] (the commit point).
  * Resume = list manifests, anti-join done buckets, process the rest.
  * The fingerprint is an order-independent sum of xxhash64 over the
  * partition's logical content, so a resumed run can verify integrity
  * without re-reading inputs.
  */
object GraphSink {

  final case class WriteMetrics(
      buckets: Int, skippedBuckets: Int, rows: Long, distinctConvs: Long)

  /** THE day definition — UTC epoch-day arithmetic, never `to_date(ts)`:
    * to_date applies spark.sql.session.timeZone, so the same row could
    * land in different days under different session TZs. One shared
    * expression keeps the physical partition layout, the metrics rollup,
    * and every day-keyed query in agreement by construction (VERDICT r4
    * "what's wrong" #3 / ADVICE r4: two day definitions coexisted).
    */
  def utcDay(ts: Column): Column =
    date_add(lit(java.sql.Date.valueOf("1970-01-01")),
      floor(unix_millis(ts) / 86400000L).cast("int"))

  def bucketed(resolvedTriples: DataFrame, nBuckets: Int): DataFrame =
    resolvedTriples.withColumn("conv_bucket",
      pmod(xxhash64(col("conv_id")), lit(nBuckets)).cast("int"))

  def doneBuckets(spark: SparkSession, outDir: String): Set[Int] = {
    val dir = new Path(s"$outDir/_manifests")
    val f = Commit.fs(spark, outDir)
    if (!f.exists(dir)) Set.empty
    else f.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case name if name.startsWith("bucket-") && name.endsWith(".json") =>
        name.stripPrefix("bucket-").stripSuffix(".json").toInt
      }.toSet
  }

  /** Write triples for all buckets not yet committed; returns metrics
    * observed on the actual write pass (`Observation` — executor→driver
    * metric channel, SURVEY.md §3.3 step 10).
    */
  /** `dayPartition = true` adds `day(ts)` as a SECOND partition level
    * under the conv bucket (SURVEY.md §7.5: `bucket(conv_id)[, day(ts)]`
    * — the layout time-range scans prune on). Purely a layout change:
    * manifests, fingerprints and resume stay per-BUCKET (a bucket's
    * day-split is a deterministic function of its rows, so dynamic
    * overwrite of a re-processed bucket replaces exactly its (bucket,
    * day) directories and the commit protocol is unchanged).
    */
  def writeTriples(
      spark: SparkSession,
      resolvedTriples: DataFrame,
      outDir: String,
      nBuckets: Int = 16,
      configHash: String = "v1",
      dayPartition: Boolean = false): WriteMetrics = {
    val done = doneBuckets(spark, outDir)
    // a resume is only meaningful under the SAME bucketing/config/layout:
    // with a different nBuckets the done-bucket ids index a different
    // partition function, and with a different dayPartition the pending
    // buckets land at a different directory depth than the committed
    // ones (readers then fail on conflicting directory structures) —
    // refuse loudly instead
    if (done.nonEmpty) validateResumeConfig(spark, outDir, nBuckets, configHash, dayPartition)
    val f = Commit.fs(spark, outDir)
    // whole-bucket replace on resume (ADVICE r4): dynamic overwrite only
    // replaces the LEAF partitions present in the resumed data. Under the
    // day layout, if a pending (uncommitted) bucket's resumed rows split
    // into a different day set than the crashed run's (input drift not
    // captured by configHash), a stale day dir would survive inside the
    // "replaced" bucket and the read-back fingerprint would bless it into
    // the manifest. Deleting every UNCOMMITTED bucket directory up front
    // restores the flat layout's whole-bucket-replace guarantee — the
    // committed (manifested) buckets are exactly the ones kept.
    // runs whenever the triples dir exists, NOT only when manifests do
    // (ADVICE r5): a crashed day-partitioned run that committed ZERO
    // bucket manifests leaves every bucket dir uncommitted — a resume
    // with drifted input would otherwise keep pre-drift day dirs inside
    // rewritten buckets and the read-back fingerprint would bless them
    val triplesDir0 = new Path(s"$outDir/triples")
    if (f.exists(triplesDir0)) {
      for (st <- f.listStatus(triplesDir0)
           if st.isDirectory && st.getPath.getName.startsWith("conv_bucket=")) {
        val bucket = st.getPath.getName.stripPrefix("conv_bucket=").toInt
        if (!done.contains(bucket)) f.delete(st.getPath, true)
      }
    }
    val all = bucketed(resolvedTriples, nBuckets)
    val pending = if (done.isEmpty) all else all.where(!col("conv_bucket").isin(done.toSeq: _*))

    val obs = Observation(s"kg_write_${System.identityHashCode(resolvedTriples)}")
    val observed = pending.observe(obs,
      count(lit(1)).as("rows"),
      approx_count_distinct(col("conv_id")).as("convs"),
      // the set of bucket ids THIS run actually wrote, collected on the
      // write pass itself (no extra execution): the manifest read-back
      // below is restricted to it, so a stale unmanifested bucket
      // directory from an earlier crashed run with different data can
      // never be blessed with a manifest it did not earn
      collect_set(col("conv_bucket")).as("written_buckets"))

    // repartition by the partition column first: one file per bucket
    // instead of (#tasks × #buckets) fragments.
    // DYNAMIC partition overwrite (not Append): a crash AFTER the parquet
    // job commit but BEFORE the manifest rename would otherwise leave a
    // committed-but-unmanifested bucket that the resumed run re-appends,
    // silently duplicating every row in it (the manifest would then
    // describe one copy while the data holds two). With dynamic
    // overwrite, re-processing a pending bucket REPLACES its partition
    // directory, so the write is idempotent and the manifest rename stays
    // the single commit point.
    // day derived by the shared TZ-proof utcDay expression (see its doc):
    // a resume under a different session TZ must not re-split
    // near-midnight rows into different day dirs — dynamic overwrite
    // would then leave the stale day dir alive inside a "replaced"
    // bucket and the manifest would bless duplicated rows.
    // repartition by the FULL partition tuple (r6): under the day layout
    // a bucket-only repartition made one task write all ~30 of its
    // bucket's day directories sequentially — write parallelism capped
    // at the bucket count. Partitioning by (bucket, day) spreads the
    // leaf directories across the executor pool; file count per leaf is
    // one either way.
    val (toWrite, partCols) =
      if (dayPartition) (observed.withColumn("day", utcDay(col("ts"))), Seq("conv_bucket", "day"))
      else (observed, Seq("conv_bucket"))
    toWrite.repartition(partCols.map(col): _*).write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCols: _*)
      .parquet(s"$outDir/triples")

    // an all-buckets-done resume writes zero partitions: the observed
    // plan then reports no metrics at all — treat as 0, don't throw
    val rows = scala.util.Try(obs.get("rows").asInstanceOf[Long]).getOrElse(0L)
    val convs = scala.util.Try(obs.get("convs").asInstanceOf[Long]).getOrElse(0L)
    // only the legitimate zero-row resume may default to the empty set: a
    // cast/metric failure on a NON-empty write must propagate, or a
    // successful data write silently commits with no manifests and every
    // later run reprocesses all of it (ADVICE r3)
    val written: Set[Int] =
      if (rows == 0L) Set.empty
      else obs.get("written_buckets").asInstanceOf[Seq[Int]].toSet

    // per-bucket manifest: rows + order-independent content fingerprint,
    // computed by READING BACK the just-written partition files — NOT by
    // re-running the resolvedTriples lineage. Locally a cache hid the
    // difference, but at 100 TB the cache won't hold and a lineage-based
    // manifest pass re-executes the entire pipeline (VERDICT r2 "what's
    // wrong" #4); a scan of freshly-written parquet costs one read of the
    // data just produced. Manifesting from the files also makes the
    // fingerprint describe what is actually ON DISK — the stronger
    // integrity statement for the resume protocol.
    // restrict to the buckets this run wrote (see the observe above) —
    // this also makes a zero-row write skip the scan entirely (a triples
    // dir holding only _SUCCESS would fail schema inference)
    val triplesDir = new Path(s"$outDir/triples")
    val perBucket =
      if (written.isEmpty || !f.exists(triplesDir)) Array.empty[org.apache.spark.sql.Row]
      else spark.read.parquet(triplesDir.toString)
        .where(col("conv_bucket").isin(written.toSeq: _*))
        .groupBy(col("conv_bucket").cast("int").as("conv_bucket"))
        .agg(count(lit(1)).as("rows"),
          // bit_xor: order-independent content fingerprint, no ANSI overflow
          expr("bit_xor(xxhash64(conv_id, turn_idx, subj, pred, obj))").as("fingerprint"))
        .collect()

    f.mkdirs(new Path(s"$outDir/_manifests"))
    for (r <- perBucket) {
      val bucket = r.getInt(0)
      val json =
        s"""{"bucket":$bucket,"rows":${r.getLong(1)},"fingerprint":${r.getLong(2)},""" +
          s""""config":"$configHash","n_buckets":$nBuckets,"day_partition":$dayPartition}"""
      // fails loudly rather than leave the bucket data committed but
      // unmanifested (the resume protocol would then re-process it —
      // idempotent, but the failure must surface)
      Commit.write(f, new Path(s"$outDir/_manifests/bucket-$bucket.json"), json)
    }
    WriteMetrics(perBucket.length, done.size, rows, convs)
  }

  /** Refuse to resume under a different partition function or config:
    * reads one committed manifest and compares its recorded n_buckets /
    * config against the current run's. Manifests written before these
    * fields existed are accepted (no recorded value to contradict).
    */
  private def validateResumeConfig(spark: SparkSession, outDir: String,
      nBuckets: Int, configHash: String, dayPartition: Boolean = false): Unit = {
    val f = Commit.fs(spark, outDir)
    val dir = new Path(s"$outDir/_manifests")
    val sample = f.listStatus(dir).toSeq
      .map(_.getPath).find(p => p.getName.startsWith("bucket-") && p.getName.endsWith(".json"))
    for (p <- sample) {
      val json = Commit.read(f, p)
      for (m <- """"n_buckets":(\d+)""".r.findFirstMatchIn(json)) {
        require(m.group(1).toInt == nBuckets,
          s"resume with nBuckets=$nBuckets against a table committed with " +
            s"n_buckets=${m.group(1)} ($p): the bucket ids are incompatible — " +
            "use the original bucket count or a fresh output directory")
      }
      for (m <- """"config":"([^"]*)"""".r.findFirstMatchIn(json)) {
        require(m.group(1) == configHash,
          s"resume with config=$configHash against a table committed with " +
            s"config=${m.group(1)} ($p): clear the output or keep the config stable")
      }
      // manifests written before the field existed were all flat layout
      val committedDay = """"day_partition":(true|false)""".r.findFirstMatchIn(json)
        .exists(_.group(1).toBoolean)
      require(committedDay == dayPartition,
        s"resume with dayPartition=$dayPartition against a table committed with " +
          s"day_partition=$committedDay ($p): the partition depths are incompatible — " +
          "keep the layout or use a fresh output directory")
    }
  }

  // ------------------------------------------------------- link state

  /** What an incremental run merges against: the surface-node table and
    * its component labels, plus the identity tokens of every input batch
    * already applied (the double-apply guard — re-merging a batch would
    * double its mention counts and duplicate its triples). Committed via
    * a [[Commit.write]] marker; a directory without `_committed.json`
    * is not link state (a crash mid-write must read as "absent", with
    * the full job as the remediation).
    */
  final case class LinkState(
      nodes: DataFrame, labels: DataFrame, appliedTokens: Seq[String])

  private def linkStateMarker(dir: String) = new Path(s"$dir/_committed.json")

  def writeLinkState(spark: SparkSession, nodes: DataFrame, labels: DataFrame,
      dir: String, appliedTokens: Seq[String] = Nil): Unit = {
    val f = Commit.fs(spark, dir)
    // invalidate first: a crash below leaves no marker, not a stale one
    f.delete(linkStateMarker(dir), false)
    nodes.select(col("norm"), col("tag"), col("n_mentions"), col("surface"), col("node_id"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/nodes")
    labels.select(col("node_id"), col("component"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/labels")
    val n = spark.read.parquet(s"$dir/nodes").count()
    val json = s"""{"n_nodes":$n,"applied":[${appliedTokens.map("\"" + _ + "\"").mkString(",")}]}"""
    Commit.write(f, linkStateMarker(dir), json)
  }

  /** None when the directory holds no COMMITTED link state. The node
    * count recorded at commit time is re-checked against the parquet
    * footers (a metadata-only count) so a torn/tampered table fails
    * loudly instead of silently merging against partial state.
    */
  def readLinkState(spark: SparkSession, dir: String): Option[LinkState] = {
    val f = Commit.fs(spark, dir)
    if (!f.exists(linkStateMarker(dir))) return None
    // the dir is swapped IN PLACE by incremental runs; Spark's global
    // FileStatusCache has no TTL, so a listing cached before the swap
    // would resolve to deleted part files
    spark.catalog.refreshByPath(s"$dir/nodes")
    spark.catalog.refreshByPath(s"$dir/labels")
    val json = Commit.read(f, linkStateMarker(dir))
    val nRecorded = """"n_nodes":(\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong)
      .getOrElse(sys.error(s"malformed link-state marker in $dir: $json"))
    val applied = """"applied":\[([^\]]*)\]""".r.findFirstMatchIn(json)
      .map(_.group(1)).filter(_.nonEmpty)
      .map(_.split(",").toSeq.map(_.stripPrefix("\"").stripSuffix("\"")))
      .getOrElse(Nil)
    val nodes = spark.read.parquet(s"$dir/nodes")
    require(nodes.count() == nRecorded,
      s"link state in $dir holds ${nodes.count()} nodes but its marker recorded " +
        s"$nRecorded — the table is torn; re-run the full KgJob to rebuild it")
    Some(LinkState(nodes, spark.read.parquet(s"$dir/labels"), applied))
  }

  /** The layout a committed table was written with, read from one
    * manifest: (n_buckets, configHash, day_partition). None when no
    * manifest has been committed.
    */
  def readCommittedLayout(spark: SparkSession, outDir: String): Option[(Int, String, Boolean)] = {
    val f = Commit.fs(spark, outDir)
    val dir = new Path(s"$outDir/_manifests")
    if (!f.exists(dir)) return None
    val sample = f.listStatus(dir).toSeq
      .map(_.getPath).find(p => p.getName.startsWith("bucket-") && p.getName.endsWith(".json"))
    sample.map { p =>
      val json = Commit.read(f, p)
      val nb = """"n_buckets":(\d+)""".r.findFirstMatchIn(json).map(_.group(1).toInt)
        .getOrElse(sys.error(s"manifest $p lacks n_buckets — table predates the layout record"))
      val cfg = """"config":"([^"]*)"""".r.findFirstMatchIn(json).map(_.group(1)).getOrElse("v1")
      val day = """"day_partition":(true|false)""".r.findFirstMatchIn(json)
        .exists(_.group(1).toBoolean)
      (nb, cfg, day)
    }
  }

  /** Both dimension-table writes repartition by their partition column
    * first (r6, guide §6): without it every task writes a fragment into
    * every partition directory — ~(tasks × preds) tiny files for the
    * edges table — paying file-open and commit-rename overhead per
    * fragment and leaving a small-files layout for readers. One
    * partition value per task ⇒ one file per directory.
    *
    * Both tables are dimension-sized (one row per entity, one per
    * (src, dst, pred) edge), so repartitioning by `entity_type`/`pred`
    * alone is intended: write parallelism is capped at the number of
    * distinct values, and the largest value's rows land on one task.
    * A fact-sized table here would need a salt in the partition key.
    */
  def writeEntities(entities: DataFrame, outDir: String): Unit =
    entities.repartition(col("entity_type")).write.mode(SaveMode.Overwrite)
      .partitionBy("entity_type")
      .parquet(s"$outDir/entities")

  def writeEdges(edges: DataFrame, outDir: String): Unit =
    edges.repartition(col("pred")).write.mode(SaveMode.Overwrite)
      .partitionBy("pred")
      .parquet(s"$outDir/edges")

  /** Metrics rollup over the materialized graph: triple counts by
    * (day, pred) with subtotals (SURVEY.md §2 rows 57–58). When the
    * table was written with dayPartition the PHYSICAL `day` partition
    * column is used directly (it already holds the utcDay split, and
    * grouping on the partition column costs no per-row derivation);
    * otherwise the same shared utcDay expression derives it — either
    * way the rollup's day agrees with the layout's under any session TZ.
    */
  def metricsRollup(spark: SparkSession, outDir: String): DataFrame = {
    val triples = spark.read.parquet(s"$outDir/triples")
    val withDay =
      if (triples.columns.contains("day")) triples
      else triples.withColumn("day", utcDay(col("ts")))
    withDay
      .rollup(col("day"), col("pred"))
      .agg(count(lit(1)).as("n_triples"),
        approx_count_distinct(col("conv_id")).as("approx_convs"))
  }

  /** Time-range read over the triples table. On a day-partitioned
    * layout the filter lands on the PARTITION column, so the scan
    * prunes to the matching `conv_bucket=* /day=...` directories
    * without touching any other file (the payoff of the second
    * partition level — PlanSpec asserts the PartitionFilters + the
    * pruned file set). On a flat layout the same predicate is applied
    * to utcDay(ts) instead — full scan, identical rows — so readers
    * are layout-agnostic. Bounds are inclusive UTC days.
    */
  def readTriplesDayRange(spark: SparkSession, outDir: String,
      fromDay: String, toDay: String): DataFrame = {
    val triples = spark.read.parquet(s"$outDir/triples")
    val dayCol =
      if (triples.columns.contains("day")) col("day") else utcDay(col("ts"))
    triples.where(dayCol.between(
      lit(java.sql.Date.valueOf(fromDay)), lit(java.sql.Date.valueOf(toDay))))
  }
}
