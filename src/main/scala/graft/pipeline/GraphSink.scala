package graft.pipeline

import graft.pipeline.Records.{BucketManifest, Layout, LinkStateMarker}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
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
  *   2. a [[Records.BucketManifest]] is written AFTER the data through
  *      [[Commit.write]] (the commit point).
  * Resume = list manifests, anti-join done buckets, process the rest.
  * The fingerprint is an order-independent sum of xxhash64 over the
  * partition's logical content, so a resumed run can verify integrity
  * without re-reading inputs.
  */
object GraphSink {

  final case class WriteMetrics(buckets: Int, skippedBuckets: Int, rows: Long)

  /** THE day definition — UTC epoch-day arithmetic, never `to_date(ts)`:
    * to_date applies spark.sql.session.timeZone, so the same row could
    * land in different days under different session TZs. One shared
    * expression keeps the physical partition layout and every day-keyed
    * query in agreement by construction (VERDICT r4
    * "what's wrong" #3 / ADVICE r4: two day definitions coexisted).
    */
  def utcDay(ts: Column): Column =
    date_add(lit(java.sql.Date.valueOf("1970-01-01")),
      floor(unix_millis(ts) / 86400000L).cast("int"))

  def bucketed(resolvedTriples: DataFrame, nBuckets: Int): DataFrame =
    resolvedTriples.withColumn("conv_bucket",
      pmod(xxhash64(col("conv_id")), lit(nBuckets)).cast("int"))

  /** The buckets whose manifest is committed. */
  def doneBuckets(spark: SparkSession, outDir: String): Set[Int] =
    committed(spark, outDir).map(_.bucket).toSet

  /** The rows of every committed bucket, from the manifests alone. */
  def committedRows(spark: SparkSession, outDir: String): Long =
    committed(spark, outDir).map(_.rows).sum

  /** The layout of a committed table; None when no bucket manifest has
    * been committed. */
  def committedLayout(spark: SparkSession, outDir: String): Option[Layout] =
    committed(spark, outDir).headOption.map(_.layout)

  /** The buckets a write under `layout` may skip. A resume under another
    * layout would mix partition functions or directory depths (readers
    * then fail on conflicting structures), so it is refused here — before
    * a caller does any work. */
  def resumableBuckets(spark: SparkSession, outDir: String, layout: Layout): Set[Int] = {
    val ms = committed(spark, outDir)
    for (c <- ms.headOption.map(_.layout))
      require(c == layout, s"resume with n_buckets=${layout.nBuckets}, day_partition=" +
        s"${layout.dayPartition} against $outDir, committed with n_buckets=${c.nBuckets}, " +
        s"day_partition=${c.dayPartition}: the bucket ids or partition depths are " +
        "incompatible — keep the original layout or use a fresh output directory")
    ms.map(_.bucket).toSet
  }

  /** Withdraws the commit of `buckets`: their manifests are deleted, so the
    * next write treats them as pending and replaces their directories. */
  def invalidateBuckets(spark: SparkSession, outDir: String, buckets: Seq[Int]): Unit = {
    val f = Commit.fs(spark, outDir)
    for (b <- buckets) f.delete(manifestPath(outDir, b), false)
  }

  private def manifestPath(outDir: String, bucket: Int) =
    new Path(s"$outDir/_manifests/bucket-$bucket.json")

  /** Every committed bucket manifest, each parsed by the strict reader.
    * A manifest that fails to parse, names another bucket than its file,
    * or records another layout than the rest is refused, naming the file. */
  private def committed(spark: SparkSession, outDir: String): Seq[BucketManifest] = {
    val dir = new Path(s"$outDir/_manifests")
    val f = Commit.fs(spark, outDir)
    val files =
      if (!f.exists(dir)) Nil
      else f.listStatus(dir).toSeq.map(_.getPath)
        .filter(p => p.getName.startsWith("bucket-") && p.getName.endsWith(".json"))
    val ms = files.map { p =>
      val m = BucketManifest.read(f, p)
      require(p.getName == s"bucket-${m.bucket}.json",
        s"$p records bucket ${m.bucket} — rebuild the graph into a fresh output with graft.KgJob")
      p -> m
    }
    for ((p0, m0) <- ms.headOption; (p, m) <- ms.find(_._2.layout != m0.layout))
      throw new IllegalArgumentException(s"$p records layout ${m.layout} but $p0 records " +
        s"${m0.layout} — rebuild the graph into a fresh output with graft.KgJob")
    ms.map(_._2)
  }

  /** Write triples for all buckets not yet committed; returns the
    * metrics observed on the write pass ([[writeObserved]]).
    *
    * `dayPartition = true` adds `day(ts)` as a SECOND partition level
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
      dayPartition: Boolean = false): WriteMetrics = {
    val layout = Layout(nBuckets, dayPartition)
    val done = resumableBuckets(spark, outDir, layout)
    val f = Commit.fs(spark, outDir)
    // whole-bucket replace on resume: dynamic overwrite replaces only the
    // LEAF partitions present in the resumed data, so under the day layout
    // a pending bucket whose resumed rows split into other days (input
    // drift) would keep a stale day dir, and the read-back fingerprint
    // would bless it. Every UNCOMMITTED bucket dir is deleted up front,
    // whether or not any manifest exists yet; the committed buckets are
    // exactly the ones kept. A killed write's `.spark-staging-<job>` dir,
    // never reused, goes too
    val triplesDir = new Path(s"$outDir/triples")
    val staging = if (!f.exists(triplesDir)) Nil
      else f.listStatus(triplesDir).toSeq.map(_.getPath).filter(_.getName.startsWith(".spark-staging-"))
    (uncommittedBuckets(f, triplesDir, done) ++ staging).foreach(f.delete(_, true))
    val all = bucketed(resolvedTriples, nBuckets)
    val pending = if (done.isEmpty) all else all.where(!col("conv_bucket").isin(done.toSeq: _*))

    // DYNAMIC partition overwrite, not Append: a crash after the parquet
    // commit but before the manifest rename leaves an unmanifested bucket,
    // which a resumed Append would duplicate; an overwrite replaces it, so
    // the write is idempotent and the manifest rename stays the single
    // commit point. Repartitioning by the FULL partition tuple gives one
    // file per leaf dir and spreads a bucket's day dirs across tasks. The
    // day comes from the TZ-proof utcDay, so a resume under another
    // session TZ splits rows into the same day dirs
    val o = writeObserved(pending, f, uncommittedBuckets(f, triplesDir, done),
      // the set of bucket ids THIS run actually wrote: the manifest
      // read-back below is restricted to it, so a stale unmanifested
      // bucket directory from an earlier crashed run with different data
      // can never be blessed with a manifest it did not earn
      collect_set(col("conv_bucket")).as("written_buckets")) { observed =>
      val (toWrite, partCols) =
        if (dayPartition) (observed.withColumn("day", utcDay(col("ts"))), Seq("conv_bucket", "day"))
        else (observed, Seq("conv_bucket"))
      toWrite.repartition(partCols.map(col): _*).write
        .mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCols: _*)
        .parquet(triplesDir.toString)
    }
    val written = o.ints("written_buckets")

    // per-bucket manifest: rows + fingerprint READ BACK from the written
    // files, not from the resolvedTriples lineage, which at scale would
    // re-run the whole pipeline; it also makes the manifest describe what
    // is ON DISK, the integrity statement the resume relies on. Only the
    // buckets this run wrote are read, so a zero-row write scans nothing
    val perBucket =
      if (written.isEmpty || !f.exists(triplesDir)) Array.empty[org.apache.spark.sql.Row]
      else spark.read.parquet(triplesDir.toString)
        .where(col("conv_bucket").isin(written.toSeq: _*))
        .groupBy(col("conv_bucket").cast("int").as("conv_bucket"))
        .agg(count(lit(1)).as("rows"),
          tripleFingerprint.as("fingerprint"))
        .collect()

    f.mkdirs(new Path(s"$outDir/_manifests"))
    for (r <- perBucket) {
      val m = BucketManifest(r.getInt(0), r.getLong(1), r.getLong(2), layout)
      // fails loudly rather than leave the bucket data committed but
      // unmanifested (the resume protocol would then re-process it —
      // idempotent, but the failure must surface)
      Commit.write(f, manifestPath(outDir, m.bucket), m.json)
    }
    WriteMetrics(perBucket.length, done.size, o.rows)
  }

  /** THE content fingerprint of triple rows, shared by the bucket and the
    * stream manifests (stream == batch compares the two): bit_xor of
    * xxhash64, order-independent and free of ANSI overflow. */
  def tripleFingerprint: Column = expr("bit_xor(xxhash64(conv_id, turn_idx, subj, pred, obj))")

  /** What one write observed on its own pass, by aggregate name (`rows`
    * always): zero when it reported no metrics at all (see [[observed]]);
    * a missing or mistyped metric throws. */
  final class Observed private[GraphSink] (metrics: Map[String, Any]) {
    private def get[T](name: String, zero: T)(typed: PartialFunction[Any, T]): T =
      if (metrics.isEmpty) zero
      else typed.applyOrElse(
        metrics.getOrElse(name, sys.error(s"the write reported no metric '$name'")),
        (v: Any) => throw new IllegalStateException(s"metric '$name' is mistyped: $v"))
    def long(name: String): Long = get(name, 0L) { case v: Long => v }
    def rows: Long = long("rows")
    /** A `bit_xor` fingerprint: NULL over zero rows reads as 0. */
    def fingerprint(name: String): Long = get(name, 0L) { case null => 0L; case v: Long => v }
    def ints(name: String): Set[Int] = get(name, Set.empty[Int]) {
      case v: Seq[_] if v.forall(_.isInstanceOf[Int]) => v.map(_.asInstanceOf[Int]).toSet
    }
  }

  /** Runs `write` on `df` with its `rows` and `aggs` observed on that same
    * pass (`Observation`, the executor→driver metric channel, SURVEY.md
    * §3.3 step 10), so a write is the one source of its own counts and nothing
    * re-reads or re-runs what it wrote. `write` must be the action that
    * runs `df`'s plan (NOTES sharp edge 22). `fresh` lists where the write
    * puts its data files, for the guard in [[observed]]. */
  private[graft] def writeObserved(df: DataFrame, f: FileSystem, fresh: => Seq[Path],
      aggs: Column*)(write: DataFrame => Unit): Observed = {
    val obs = Observation()
    write(df.observe(obs, count(lit(1)).as("rows"), aggs: _*))
    observed(obs.get, f, fresh)
  }

  /** The one silent-zero guard. A plan that processed no rows may report
    * no metrics at all; that reads as zero rows only when no location in
    * `fresh` holds a data file (a listing, no Spark job). Otherwise the
    * write is refused rather than committed as zero rows (ADVICE r3). */
  private[graft] def observed(metrics: Map[String, Any], f: FileSystem,
      fresh: => Seq[Path]): Observed = {
    if (metrics.isEmpty) {
      val data = fresh.filter(f.exists).flatMap { dir =>
        val it = f.listFiles(dir, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
          .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith(".")).toSeq
      }
      require(data.isEmpty, s"the write reported no metrics but left ${data.size} data " +
        s"file(s), e.g. ${data.headOption.orNull} — refusing to count it as zero rows")
    }
    new Observed(metrics)
  }

  /** The `conv_bucket=<b>` dirs under `triplesDir` whose bucket is not in `done`. */
  private[graft] def uncommittedBuckets(f: FileSystem, triplesDir: Path, done: Set[Int]): Seq[Path] =
    if (!f.exists(triplesDir)) Nil
    else f.listStatus(triplesDir).toSeq.filter(_.isDirectory).map(_.getPath).filter(p =>
      p.getName.startsWith("conv_bucket=") && !done(p.getName.stripPrefix("conv_bucket=").toInt))

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

  /** The link-state tables as written and read back: a read with the
    * schema runs no footer job to infer it. */
  private val NodesSchema =
    StructType.fromDDL("norm STRING, tag STRING, n_mentions BIGINT, surface STRING, node_id BIGINT")
  private val LabelsSchema = StructType.fromDDL("node_id BIGINT, component BIGINT")

  /** Returns the node count its marker records, observed on the nodes write. */
  def writeLinkState(spark: SparkSession, nodes: DataFrame, labels: DataFrame,
      dir: String, appliedTokens: Seq[String] = Nil): Long = {
    val f = Commit.fs(spark, dir)
    // invalidate first: a crash below leaves no marker, not a stale one
    f.delete(linkStateMarker(dir), false)
    def table(df: DataFrame, schema: StructType) = df.select(schema.fieldNames.map(col): _*)
    val n = writeObserved(table(nodes, NodesSchema), f, Seq(new Path(s"$dir/nodes"))) {
      _.write.mode(SaveMode.Overwrite).parquet(s"$dir/nodes")
    }.rows
    table(labels, LabelsSchema).write.mode(SaveMode.Overwrite).parquet(s"$dir/labels")
    Commit.write(f, linkStateMarker(dir), LinkStateMarker(n, appliedTokens).json)
    n
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
    val marker = LinkStateMarker.read(f, linkStateMarker(dir))
    val nodes = spark.read.schema(NodesSchema).parquet(s"$dir/nodes")
    val n = nodes.count()
    require(n == marker.nNodes,
      s"link state in $dir holds $n nodes but its marker recorded " +
        s"${marker.nNodes} — the table is torn; re-run the full KgJob to rebuild it")
    Some(LinkState(nodes, spark.read.schema(LabelsSchema).parquet(s"$dir/labels"), marker.applied))
  }

  /** Both dimension-table writes return the rows they wrote, observed on
    * the write pass, and repartition by their partition column
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
  def writeEntities(entities: DataFrame, outDir: String): Long =
    writeTable(entities, s"$outDir/entities", "entity_type")

  /** `table` names the directory under `outDir`: an apply stages its edges
    * beside the live table before swapping them in. */
  def writeEdges(edges: DataFrame, outDir: String, table: String = "edges"): Long =
    writeTable(edges, s"$outDir/$table", "pred")

  /** One partitioned overwrite; returns the rows it wrote. */
  private def writeTable(df: DataFrame, dir: String, partCol: String): Long =
    writeObserved(df, Commit.fs(df.sparkSession, dir), Seq(new Path(dir))) {
      _.repartition(col(partCol)).write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(dir)
    }.rows

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
