package graft

import graft.corpus.Turn
import graft.obs.PhaseRecorder
import graft.pipeline.Records.IncrMarker
import graft.pipeline.{Commit, GraphSink, KgPipeline, NerTraining}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Incremental KG maintenance — the production shape at 10^12 turns,
  * where re-running the full job for each day of new transcripts would
  * re-tag and re-link the entire corpus to re-derive a graph that is
  * 99% unchanged. Given a COMPLETED `graft.KgJob` output (which now
  * carries its link state) and a batch of NEW conversations:
  *
  *   1. tag only the batch; merge its surfaces into the prior link
  *      state via `KgPipeline.incrementalLink` (new-batch-proportional
  *      candidate join + super-node CC — provably equal to relinking
  *      the combined corpus, KgIncrementalSpec);
  *   2. diff the canonical maps: the surfaces whose entity assignment
  *      changed (merges, canonical steals) are exactly the ones whose
  *      OLD triples need re-resolution;
  *   3. rewrite ONLY the affected buckets: buckets holding new convs,
  *      plus buckets containing a changed surface — every other bucket
  *      (the overwhelming majority, once the graph matures) keeps its
  *      committed data and manifest untouched;
  *   4. update edges by one signed sum over stored rows (old − the
  *      affected rows' stored contribution + the rewritten rows'), with
  *      no re-aggregation of the whole table;
  *   5. entities and link state are alias-scale — rewritten outright.
  *
  * Crash safety follows the repo's one protocol (stage → commit marker
  * → roll forward, all through `pipeline.Commit`). Everything the live
  * mutation needs is staged under `<output>/_incr/` first:
  *
  *   linkstate_new/   merged nodes+labels (its own `_committed.json`)
  *   edges_new/       delta-merged edge table
  *   rewrite/         the affected buckets' rows, resolved against the new map
  *   marker.json      THE commit point: batch token, bucket set, layout
  *
  * Without a marker nothing live was mutated, and staging is discarded.
  * With one, any invocation first rolls the committed apply forward from
  * staging alone (invalidate the bucket set's manifests, rewrite those
  * buckets from `rewrite/`, swap entities/edges/link state: every step
  * idempotent, no model load or re-tag), then applies its own batch. The
  * link-state ledger records every applied batch token, so re-applying a
  * batch (which would double its counts) refuses loudly.
  */
object KgIncrementalJob {

  final case class IncrMetrics(
      newTurns: Long, newTriples: Long, changedSurfaces: Long,
      rewrittenBuckets: Int, untouchedBuckets: Int,
      entities: Long, edges: Long)

  private val knownFlags = Set("--input", "--model", "--output")
  private val RAW = Seq("conv_id", "turn_idx", "ts", "subj", "pred", "obj", "subj_tag", "obj_tag")
  /** Format prefix of every batch token (see `batchToken`). */
  private[graft] val TokenFormat = "v2-"

  def main(args: Array[String]): Unit = {
    val opts = Cli.flags(args, knownFlags)
    val input = opts.getOrElse("--input", sys.error("--input <new transcripts parquet> required"))
    val modelPath = opts.getOrElse("--model", sys.error("--model <ner model parquet> required"))
    val output = opts.getOrElse("--output", sys.error("--output <existing KgJob graph dir> required"))
    val spark = SparkSession.builder()
      .appName("graft-kg-incremental")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    val m = run(spark, output, input, modelPath)
    println(
      s"""{"job":"kg_incremental","new_turns":${m.newTurns},"new_triples":${m.newTriples},""" +
        s""""changed_surfaces":${m.changedSurfaces},"buckets_rewritten":${m.rewrittenBuckets},""" +
        s""""buckets_untouched":${m.untouchedBuckets},"entities":${m.entities},"edges":${m.edges}}""")
    spark.stop()
  }

  // ------------------------------------------------------------- helpers

  /** Batch identity: order-independent content fingerprint of the input
    * turns. Stable across re-invocations of the same batch, different
    * for any other batch — the key of the exactly-once ledger.
    *
    * The token carries its format version ([[TokenFormat]]): a token
    * computed by another formula can never equal the current one, so a
    * ledger holding it would silently re-admit the batch it recorded.
    * Ledgers and staging markers holding unversioned tokens (the formula
    * before `ts`/`role`/`tool` joined the fingerprint) are refused.
    */
  private def batchToken(turns: DataFrame): (Long, String) = {
    // every tagging-relevant Turn field participates (ADVICE r5): two
    // batches differing only in ts/role/tool must not collide — a
    // collision wrongly refuses the second as already-applied
    val r = turns.agg(count(lit(1)).as("n"),
      expr("bit_xor(xxhash64(conv_id, turn_idx, role, text, tool, ts))").as("fp")).first()
    val n = r.getLong(0)
    require(n > 0, "empty input batch — nothing to apply")
    (n, f"${TokenFormat}b$n%d-${r.getLong(1)}%016x")
  }

  // ------------------------------------------------------------ the job

  def run(spark: SparkSession, output: String, input: String, modelPath: String): IncrMetrics = {
    import spark.implicits._
    val incr = s"$output/_incr"
    val f = Commit.fs(spark, output)
    def exists(p: String) = f.exists(new Path(p))
    // phase walls to stderr, mirroring KgJob: the apply's cost story at
    // scale is "batch-proportional + fixed planning" — the walls make the
    // split attributable (IncrScale reports the total as kg_incr_job)
    val phase = new PhaseRecorder("kgincr")

    /** Everything after the marker, from staging alone and idempotent, so
      * any later invocation can finish an interrupted apply: a rewritten
      * bucket is replaced whole, and the swaps skip what already moved. */
    def rollForward(marker: IncrMarker): (GraphSink.WriteMetrics, Long) = {
      // staged link state is either committed or already swapped in
      require(!exists(s"$incr/linkstate_new") || exists(s"$incr/linkstate_new/_committed.json"),
        s"$incr/linkstate_new lost its commit marker — staging is torn; restore the output " +
          "from backup or re-run the full KgJob")
      GraphSink.invalidateBuckets(spark, output, marker.buckets)
      val wm = GraphSink.writeTriples(spark, spark.read.parquet(s"$incr/rewrite"), output,
        marker.layout.nBuckets, marker.layout.dayPartition)
      (wm, finishTail(spark, f, output))
    }

    val turns = spark.read.parquet(input).as[Turn]
    val (nTurns, token) = batchToken(turns.toDF())

    // ---- recovery: a committed apply is finished before this batch starts
    if (exists(s"$incr/marker.json")) {
      val marker = IncrMarker.read(f, new Path(s"$incr/marker.json"))
      require(marker.token.startsWith(TokenFormat),
        s"$incr/marker.json records batch token ${marker.token}, written before the $TokenFormat " +
          "token format: it cannot be compared with the current input's token. Finish the " +
          "interrupted run with the release that started it, then rebuild the output with " +
          "the full graft.KgJob over every batch applied so far")
      require(exists(s"$incr/rewrite"),
        s"$incr/marker.json commits batch ${marker.token} but $incr/rewrite does not exist: an " +
          "earlier release staged this apply. Finish the interrupted run with the release that " +
          "started it, or restore the output and rebuild it with the full graft.KgJob")
      System.err.println(s"[kgincr] rolling the committed apply of batch ${marker.token} forward")
      rollForward(marker)
      // the current batch then applies normally; the ledger refuses it
      // if it IS the one just finished
    }

    // ---- fresh path
    // no marker.json ⇒ no live mutation happened; any leftover staging
    // is safe to discard
    if (exists(incr)) f.delete(new Path(incr), true)
    val st = GraphSink.readLinkState(spark, s"$output/_linkstate").getOrElse(
      sys.error(s"$output holds no committed link state — run the full graft.KgJob against " +
        "it first (outputs written before link state existed must be rebuilt once)"))
    val oldTokens = st.appliedTokens.filterNot(_.startsWith(TokenFormat))
    require(oldTokens.isEmpty,
      s"the applied-batch ledger of $output/_linkstate holds ${oldTokens.size} token(s) written " +
        s"before the $TokenFormat token format (e.g. ${oldTokens.head}): a batch applied under " +
        "them would not be recognised and could be applied twice. Migrate by rebuilding the " +
        "output with the full graft.KgJob over every batch applied so far; its ledger starts " +
        "empty in the current format")
    require(!st.appliedTokens.contains(token),
      s"input batch $token was already applied to $output — a batch must be applied exactly " +
        "once (re-applying would double its mention counts, triples, and edge weights)")
    val layout = GraphSink.committedLayout(spark, output).getOrElse(
      sys.error(s"$output has no committed manifests — not a completed KgJob output"))
    phase("read_state")

    val model = spark.sparkContext.broadcast(NerTraining.load(spark, modelPath))
    val tagged = KgPipeline.tagTurns(turns, model).cache()
    val mentions = KgPipeline.mentionRows(tagged)
    val newRaw = KgPipeline.tripleRows(tagged).select(RAW.map(col): _*)

    val inc = KgPipeline.incrementalLink(st.nodes, st.labels, mentions)
    // stage the merged link state FIRST and re-read it: every later
    // stage consumes the STAGED copy, so the tail never depends on the
    // live _linkstate/edges/triples dirs it is about to mutate
    val nNodes = GraphSink.writeLinkState(spark, inc.nodes, inc.labels, s"$incr/linkstate_new",
      appliedTokens = st.appliedTokens :+ token)
    val staged = GraphSink.readLinkState(spark, s"$incr/linkstate_new").get
    val canonNew = KgPipeline.canonicalize(staged.nodes, staged.labels).cache()
    val canonOld = KgPipeline.canonicalize(st.nodes, st.labels)

    // surfaces whose entity assignment changed, by their OLD entity id:
    // everything else's resolution is provably unchanged
    val changed = canonOld.select($"norm", $"tag", $"entity_id".as("old_id"))
      .join(canonNew.select($"norm", $"tag", $"entity_id"), Seq("norm", "tag"))
      .where($"old_id" =!= $"entity_id")
      .select($"old_id").cache()
    val nChanged = changed.count()
    phase("tag_link_diff")

    // bucket set to rewrite: new convs' buckets + buckets holding a
    // changed surface, found by the STORED ids of both endpoints (an
    // object can be a node its conv never mentions) in one column-pruned
    // scan against the broadcast `changed` set. An old entity changes
    // whole (components only merge), so its stored id finds every stale
    // row. The scan is the apply's only corpus-proportional cost, and is
    // skipped when no surface changed assignment
    val oldTriples = spark.read.parquet(s"$output/triples")
    val newBucketsDf = turns.toDF()
      .select(pmod(xxhash64($"conv_id"), lit(layout.nBuckets)).cast("int").as("conv_bucket"))
    val changedBuckets =
      if (nChanged == 0) spark.emptyDataset[Int].toDF("conv_bucket")
      else oldTriples
        .select($"conv_bucket".cast("int").as("conv_bucket"),
          explode(array($"subj_id", $"obj_id")).as("old_id"))
        .join(broadcast(changed), Seq("old_id"), "left_semi")
        .select($"conv_bucket")
    val bucketsB = changedBuckets
      .unionByName(newBucketsDf)
      .distinct().as[Int].collect().toSeq.sorted
    phase("bucket_select")

    // the affected buckets' rows as stored in the live table: nothing
    // live changes before the marker
    val affected = oldTriples.where($"conv_bucket".isin(bucketsB: _*))
    // conv-disjointness guard — complete, because an overlapping conv's
    // bucket is in B by construction, so its old rows are in `affected`
    val overlap = affected.select($"conv_id")
      .join(turns.toDF().select($"conv_id"), Seq("conv_id"), "left_semi")
      .distinct().count()
    require(overlap == 0,
      s"$overlap conversation(s) of the new batch already exist in $output — incremental " +
        "batches must be conversation-disjoint from the corpus already applied")
    // stage the bucket rewrite: every row the affected buckets will hold,
    // resolved against the new map. It feeds BOTH the added-edges term and
    // the rewrite, and lets a recovery roll forward without re-tagging
    KgPipeline.resolveTriples(affected.select(RAW.map(col): _*).unionByName(newRaw), canonNew,
      mapRows = Some(nNodes)).write.mode(SaveMode.Overwrite).parquet(s"$incr/rewrite")
    val rewrite = spark.read.parquet(s"$incr/rewrite")
    phase("guard_stage_rewrite")

    // edges by one signed sum, staged before any mutation: live weights
    // count the live rows' stored ids, so subtracting the affected rows'
    // stored contribution removes exactly what they added
    val nEdges = GraphSink.writeEdges(spark.read.parquet(s"$output/edges")
      .unionByName(KgPipeline.edgesTable(affected).withColumn("weight", -$"weight"))
      .unionByName(KgPipeline.edgesTable(rewrite))
      .groupBy($"src", $"dst", $"pred").agg(sum($"weight").as("weight"))
      .where($"weight" > 0), incr, "edges_new")
    val nNewTriples = newRaw.count()
    tagged.unpersist(); changed.unpersist(); canonNew.unpersist()
    phase("edges_delta")

    // commit the intent: token + bucket set + layout (the roll-forward
    // must not depend on re-reading manifests it is about to delete)
    val marker = IncrMarker(token, bucketsB, layout)
    Commit.write(f, new Path(s"$incr/marker.json"), marker.json)
    val (wm, nEntities) = rollForward(marker)
    phase("roll_forward")
    IncrMetrics(nTurns, nNewTriples, nChanged, wm.buckets, wm.skippedBuckets,
      nEntities, nEdges)
  }

  /** The swaps after the triples rewrite: idempotent overwrites + swaps.
    * Entities are rebuilt from whichever committed link state survives
    * (staged if the swap hasn't happened, live if it has). The marker is
    * deleted before the rest of the staging, so a crash mid-cleanup
    * reads as "no marker" and the leftovers are discarded. Returns the
    * entity count its write observed.
    */
  private def finishTail(spark: SparkSession, f: FileSystem, output: String): Long = {
    val incr = s"$output/_incr"
    def exists(p: String) = f.exists(new Path(p))
    val state = GraphSink.readLinkState(spark, s"$incr/linkstate_new")
      .orElse(GraphSink.readLinkState(spark, s"$output/_linkstate"))
      .getOrElse(sys.error(s"no committed link state under $incr/linkstate_new or " +
        s"$output/_linkstate — the output is torn; restore from backup or re-run the full job"))
    val nEntities = GraphSink.writeEntities(KgPipeline.entitiesTable(state.nodes, state.labels), output)
    if (exists(s"$incr/edges_new"))
      Commit.swapDir(f, new Path(s"$incr/edges_new"), new Path(s"$output/edges"))
    if (exists(s"$incr/linkstate_new/_committed.json"))
      Commit.swapDir(f, new Path(s"$incr/linkstate_new"), new Path(s"$output/_linkstate"))
    f.delete(new Path(s"$incr/marker.json"), false)
    f.delete(new Path(incr), true)
    // every live dir this method mutates in place: drop the cached file
    // listings (the global FileStatusCache has no TTL)
    Seq("entities", "edges", "triples", "_linkstate/nodes", "_linkstate/labels")
      .foreach(d => spark.catalog.refreshByPath(s"$output/$d"))
    nEntities
  }
}
