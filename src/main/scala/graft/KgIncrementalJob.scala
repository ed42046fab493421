package graft

import graft.corpus.Turn
import graft.obs.PhaseRecorder
import graft.pipeline.Records.{IncrMarker, Layout}
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
  *   4. update edges by EXACT delta arithmetic (old − affected-rows'
  *      old-canon contribution + rewritten-rows' new-canon
  *      contribution) instead of re-aggregating the whole table;
  *   5. entities and link state are alias-scale — rewritten outright.
  *
  * Crash safety follows the repo's one protocol (stage → commit marker
  * → mutate → swap, all through `pipeline.Commit`), with every read the
  * tail needs staged under `<output>/_incr/` BEFORE the first
  * live-directory mutation:
  *
  *   marker.json                intent: batch token, bucket set, layout
  *   linkstate_new/             staged merged nodes+labels (committed)
  *   edges_new/ (+.done.json)   staged delta-merged edge table
  *   old_raw/                   snapshot of the affected buckets' rows
  *   manifests_invalidated.json live mutation begins (manifests gone)
  *   triples.done.json          affected buckets rewritten + manifested
  *
  * A killed run resumes: before `manifests_invalidated` nothing was
  * mutated (stale staging is discarded); between it and `triples.done`
  * only the SAME batch may resume (enforced by token) and rebuilds the
  * rewrite from the snapshot — never from the half-mutated table;
  * after `triples.done` any invocation first finishes the tail
  * (entities/edges/link-state swaps are idempotent). The link-state
  * ledger records every applied batch token, so re-applying a batch
  * (which would double its counts) refuses loudly.
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

  /** Write-once: a marker that already exists is left alone (resume paths
    * re-traverse commit points; delete-then-rename would open a window
    * where `manifests_invalidated` is absent while the table IS mutated,
    * and the next invocation would mistake that for untouched state).
    */
  private def writeMarker(f: FileSystem, path: String, json: String): Unit =
    if (!f.exists(new Path(path))) Commit.write(f, new Path(path), json)

  private def deleteManifests(f: FileSystem, output: String, buckets: Seq[Int]): Unit =
    for (b <- buckets) f.delete(new Path(s"$output/_manifests/bucket-$b.json"), false)

  /** Batch identity: order-independent content fingerprint of the input
    * turns. Stable across re-invocations of the same batch, different
    * for any other batch — the key for both mid-write resume (only the
    * same batch may continue an interrupted rewrite) and the
    * exactly-once ledger.
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
    // collision wrongly refuses the second as already-applied, and the
    // mid-write resume check could miss drifted input
    val r = turns.agg(count(lit(1)).as("n"),
      expr("bit_xor(xxhash64(conv_id, turn_idx, role, text, tool, ts))").as("fp")).first()
    val n = r.getLong(0)
    require(n > 0, "empty input batch — nothing to apply")
    (n, f"${TokenFormat}b$n%d-${r.getLong(1)}%016x")
  }

  // ------------------------------------------------------------ the job

  /** `failAfter` is a crash-injection hook for the resume specs: throw
    * AFTER the named phase commits ("staged" | "invalidated" |
    * "triples"). Production callers leave it None.
    */
  def run(spark: SparkSession, output: String, input: String, modelPath: String,
      failAfter: Option[String] = None): IncrMetrics = {
    import spark.implicits._
    val incr = s"$output/_incr"
    val f = Commit.fs(spark, output)
    def exists(p: String) = f.exists(new Path(p))
    // phase walls to stderr, mirroring KgJob: the apply's cost story at
    // scale is "batch-proportional + fixed planning" — the walls make the
    // split attributable (IncrScale reports the total as kg_incr_job)
    val phase = new PhaseRecorder("kgincr")
    def crashPoint(phase: String): Unit =
      if (failAfter.contains(phase))
        throw new RuntimeException(s"[test hook] injected crash after phase '$phase'")

    val turns = spark.read.parquet(input).as[Turn]
    val (nTurns, token) = batchToken(turns.toDF())

    // ---- recovery: an _incr staging area from a previous invocation
    if (exists(s"$incr/marker.json")) {
      val marker = IncrMarker.read(f, new Path(s"$incr/marker.json"))
      require(marker.token.startsWith(TokenFormat),
        s"$incr/marker.json records batch token ${marker.token}, written before the $TokenFormat " +
          "token format: it cannot be compared with the current input's token. Finish the " +
          "interrupted run with the release that started it, then rebuild the output with " +
          "the full graft.KgJob over every batch applied so far")
      if (!exists(s"$incr/manifests_invalidated.json")) {
        // intent was staged but nothing live was mutated — prior state
        // is fully intact; discard and start over
        System.err.println(s"[kgincr] discarding stale staging for batch ${marker.token} (nothing was mutated)")
        f.delete(new Path(incr), true)
      } else if (exists(s"$incr/triples.done.json")) {
        System.err.println(s"[kgincr] finishing the committed tail of interrupted batch ${marker.token}")
        finishTail(spark, f, output)
        // fall through: the current batch then applies normally (the
        // ledger rejects it if it IS the one just finished)
      } else {
        // manifests are gone and the rewrite is incomplete: the triples
        // table is mid-mutation. Only the SAME batch may rebuild it —
        // its staged snapshot + link state carry everything needed.
        require(token == marker.token,
          s"output $output holds an INCOMPLETE incremental run of batch ${marker.token} (manifests " +
            s"invalidated, rewrite unfinished) but the current input is batch $token — re-run " +
            "with the original batch's input to complete it before applying a new batch")
        System.err.println(s"[kgincr] resuming interrupted rewrite of batch ${marker.token}")
        val staged = GraphSink.readLinkState(spark, s"$incr/linkstate_new").getOrElse(
          sys.error(s"$incr/linkstate_new lost its commit marker — staging is torn; " +
            "restore the output from backup or re-run the full KgJob"))
        val canonNew = KgPipeline.canonicalize(staged.nodes, staged.labels)
        val model = spark.sparkContext.broadcast(NerTraining.load(spark, modelPath))
        val newRaw = KgPipeline.tripleRows(KgPipeline.tagTurns(turns, model)).select(RAW.map(col): _*)
        val combined = spark.read.parquet(s"$incr/old_raw").select(RAW.map(col): _*)
          .unionByName(newRaw)
        val (wm, nNewTriples) = writeTail(spark, f, output,
          KgPipeline.resolveTriples(combined, canonNew), newRaw,
          marker.layout, marker.buckets, crashPoint)
        val (nEntities, nEdges) = finishTail(spark, f, output)
        return IncrMetrics(nTurns, nNewTriples, -1L, wm.buckets, wm.skippedBuckets,
          nEntities, nEdges)
      }
    }

    // ---- fresh path
    // no marker.json ⇒ no live mutation happened; any leftover staging
    // (including a durable-CC frontier from a pre-marker crash of a
    // DIFFERENT batch, which would trip the node-set fingerprint guard)
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

    val inc = KgPipeline.incrementalLink(st.nodes, st.labels, mentions,
      ccCheckpointDir = Some(s"$incr/_cc_checkpoints"))
    // stage the merged link state FIRST and re-read it: every later
    // stage consumes the STAGED copy, so the tail never depends on the
    // live _linkstate/edges/triples dirs it is about to mutate
    GraphSink.writeLinkState(spark, inc.nodes, inc.labels, s"$incr/linkstate_new",
      appliedTokens = st.appliedTokens :+ token)
    val staged = GraphSink.readLinkState(spark, s"$incr/linkstate_new").get
    val canonNew = KgPipeline.canonicalize(staged.nodes, staged.labels).cache()
    val canonOld = KgPipeline.canonicalize(st.nodes, st.labels)

    // surfaces whose entity assignment changed — their old triples are
    // stale; everything else's resolution is provably unchanged
    val changed = canonOld.select($"norm", $"tag", $"entity_id".as("old_id"))
      .join(canonNew.select($"norm", $"tag", $"entity_id"), Seq("norm", "tag"))
      .where($"old_id" =!= $"entity_id")
      .select($"norm", $"tag").cache()
    val nChanged = changed.count()
    phase("tag_link_diff")

    // bucket set to rewrite: new convs' buckets + buckets holding a
    // changed surface. The changed-surface probe is the apply's ONLY
    // corpus-proportional cost, so (a) it is SKIPPED outright in the
    // common mature-graph case (no surface changed assignment), and
    // (b) when it must run, both triple endpoints are checked in ONE
    // column-pruned scan (exploded (norm, tag) pairs semi-joined against
    // the broadcast merge-event-sized `changed` set), not one scan each
    val oldTriples = spark.read.parquet(s"$output/triples")
    import graft.functions.NativeFunctions.normalize_surface
    val newBucketsDf = turns.toDF()
      .select(pmod(xxhash64($"conv_id"), lit(layout.nBuckets)).cast("int").as("conv_bucket"))
    val changedBuckets =
      if (nChanged == 0) spark.emptyDataset[Int].toDF("conv_bucket")
      else oldTriples
        .select($"conv_bucket", explode(array(
          struct(normalize_surface($"subj").as("n"), $"subj_tag".as("t")),
          struct(normalize_surface($"obj").as("n"), $"obj_tag".as("t")))).as("e"))
        .select($"conv_bucket".cast("int").as("conv_bucket"), $"e.n", $"e.t")
        .join(broadcast(changed.toDF("n", "t")), Seq("n", "t"), "left_semi")
        .select($"conv_bucket")
    val bucketsB = changedBuckets
      .unionByName(newBucketsDf)
      .distinct().as[Int].collect().toSeq.sorted
    phase("bucket_select")

    // snapshot the affected buckets' rows BEFORE any mutation: the
    // rewrite and any resume read this copy, never the live table
    oldTriples.where($"conv_bucket".isin(bucketsB: _*)).select(RAW.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(s"$incr/old_raw")
    val snapshot = spark.read.parquet(s"$incr/old_raw").select(RAW.map(col): _*)
    // conv-disjointness guard — complete, because an overlapping conv's
    // bucket is in B by construction, so its old rows are in the snapshot
    val overlap = snapshot.select($"conv_id")
      .join(turns.toDF().select($"conv_id"), Seq("conv_id"), "left_semi")
      .distinct().count()
    require(overlap == 0,
      s"$overlap conversation(s) of the new batch already exist in $output — incremental " +
        "batches must be conversation-disjoint from the corpus already applied")
    phase("snapshot_guard")

    // delta-merged edges, staged (reads prior edges BEFORE any mutation).
    // The combined rows' resolution feeds BOTH the added-edges term and
    // the bucket rewrite — resolve once, cache (affected-bucket-sized)
    val combined = snapshot.unionByName(newRaw)
    val resolvedCombined = KgPipeline.resolveTriples(combined, canonNew).cache()
    val oldE = spark.read.parquet(s"$output/edges")
      .select($"src", $"dst", $"pred", $"weight".as("w_old"))
    val removed = KgPipeline.edgesTable(KgPipeline.resolveTriples(snapshot, canonOld))
      .select($"src", $"dst", $"pred", $"weight".as("w_rm"))
    val added = KgPipeline.edgesTable(resolvedCombined)
      .select($"src", $"dst", $"pred", $"weight".as("w_add"))
    oldE.join(removed, Seq("src", "dst", "pred"), "full_outer")
      .join(added, Seq("src", "dst", "pred"), "full_outer")
      .select($"src", $"dst", $"pred",
        (coalesce($"w_old", lit(0.0)) - coalesce($"w_rm", lit(0.0))
          + coalesce($"w_add", lit(0.0))).as("weight"))
      .where($"weight" > 0)
      .write.mode(SaveMode.Overwrite).partitionBy("pred").parquet(s"$incr/edges_new")
    writeMarker(f, s"$incr/edges_new.done.json", "{}")
    phase("edges_delta")

    // commit the intent: token + bucket set + layout (the resume path
    // must not depend on re-reading manifests it is about to delete)
    writeMarker(f, s"$incr/marker.json", IncrMarker(token, bucketsB, layout).json)
    crashPoint("staged")

    val (wm, nNewTriples) = writeTail(spark, f, output, resolvedCombined, newRaw,
      layout, bucketsB, crashPoint)
    phase("rewrite_triples")
    tagged.unpersist(); changed.unpersist(); resolvedCombined.unpersist()
    val (nEntities, nEdges) = finishTail(spark, f, output)
    canonNew.unpersist()
    phase("tail_swap")
    IncrMetrics(nTurns, nNewTriples, nChanged, wm.buckets, wm.skippedBuckets,
      nEntities, nEdges)
  }

  /** The live triples mutation: invalidate affected manifests, rewrite
    * exactly those buckets from the combined (snapshot + new) rows, and
    * commit `triples.done`. Idempotent under same-batch re-invocation —
    * manifest deletion re-runs, and GraphSink skips whatever buckets a
    * previous attempt already committed.
    */
  private def writeTail(spark: SparkSession, f: FileSystem, output: String,
      resolved: DataFrame, newRaw: DataFrame,
      layout: Layout, bucketsB: Seq[Int],
      crashPoint: String => Unit): (GraphSink.WriteMetrics, Long) = {
    val incr = s"$output/_incr"
    writeMarker(f, s"$incr/manifests_invalidated.json", "{}")
    deleteManifests(f, output, bucketsB)
    crashPoint("invalidated")
    val wm = GraphSink.writeTriples(spark, resolved, output, layout.nBuckets, layout.dayPartition)
    writeMarker(f, s"$incr/triples.done.json", "{}")
    crashPoint("triples")
    (wm, newRaw.count())
  }

  /** Everything after `triples.done`: idempotent overwrites + swaps, so
    * ANY later invocation can finish an interrupted tail. Entities are
    * rebuilt from whichever committed link state survives (staged if
    * the swap hasn't happened, live if it has).
    */
  private def finishTail(spark: SparkSession, f: FileSystem, output: String): (Long, Long) = {
    val incr = s"$output/_incr"
    def exists(p: String) = f.exists(new Path(p))
    val state = GraphSink.readLinkState(spark, s"$incr/linkstate_new")
      .orElse(GraphSink.readLinkState(spark, s"$output/_linkstate"))
      .getOrElse(sys.error(s"no committed link state under $incr/linkstate_new or " +
        s"$output/_linkstate — the output is torn; restore from backup or re-run the full job"))
    GraphSink.writeEntities(KgPipeline.entitiesTable(state.nodes, state.labels), output)
    if (exists(s"$incr/edges_new.done.json") && exists(s"$incr/edges_new"))
      Commit.swapDir(f, new Path(s"$incr/edges_new"), new Path(s"$output/edges"))
    if (exists(s"$incr/linkstate_new/_committed.json"))
      Commit.swapDir(f, new Path(s"$incr/linkstate_new"), new Path(s"$output/_linkstate"))
    f.delete(new Path(incr), true)
    // every live dir this method mutates in place: drop the cached file
    // listings (the global FileStatusCache has no TTL)
    Seq("entities", "edges", "triples", "_linkstate/nodes", "_linkstate/labels")
      .foreach(d => spark.catalog.refreshByPath(s"$output/$d"))
    (spark.read.parquet(s"$output/entities").count(),
      spark.read.parquet(s"$output/edges").count())
  }
}
