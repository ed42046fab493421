package graft.pipeline

import graft.corpus.Turn
import graft.semantics._
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}

/** The flagship KG-construction job (SURVEY.md §3.3, BASELINE.json
  * north_star): transcripts → stable turn ordering → batched
  * mapPartitions NER + triple assembly with a broadcast model → mention
  * explode → blocking-key join + connected components → canonical
  * entities/edges/triples.
  *
  * Shuffle inventory (kept deliberately minimal):
  *   A: window over (conv_id, turn_idx) — the stable-ordering exchange;
  *      the tagging mapPartitions runs ON this exchange's output, so
  *      ordering + co-location cost one shuffle total.
  *   B: surface dedup groupBy (mentions -> distinct surfaces; tiny output).
  *   C: block-key self-join for candidate pairs (AQE skew-join enabled;
  *      block size capped with overflow counting — no silent truncation).
  *   D1..Dk: connected-components iterations (k ≈ alias-cluster diameter,
  *      in practice ≤ 4; each iteration localCheckpoints to cut lineage).
  *   E: salted join applying canonical ids back to mentions (hot
  *      surfaces salted explicitly; the canonical map is also small
  *      enough to broadcast at local scale — both paths implemented).
  */
object KgPipeline {

  val MAX_BLOCK_SIZE = 1000 // pairs-per-block cap; overflow counted, not silent
  val CC_MAX_ITERS = 25
  val LINK_SALT = 8

  /** Iterations the last connectedComponentsLoop call took, and the
    * committed iteration it resumed from (0 = fresh start): bench and
    * spec evidence that the loop ran (VERDICT r1 item 3) and that a
    * resumed loop skipped iterations 1..k.
    */
  @volatile var lastIterations: Int = 0
  @volatile var lastResumedFrom: Int = 0

  // ------------------------------------------------------------ tagging

  /** Stable ordering + cross-turn context (SURVEY.md §2 row 51) then the
    * single mapPartitions NLP stage (row 28/32; §3.3 step 4).
    */
  def tagTurns(turns: Dataset[Turn], model: Broadcast[NerModel]): Dataset[TaggedRow] = {
    val spark = turns.sparkSession
    import spark.implicits._
    val w = Window.partitionBy($"conv_id").orderBy($"turn_idx")
    val ordered = turns.toDF()
      .withColumn("turn_ord", row_number().over(w))
      .as[(String, Int, String, String, String, java.sql.Timestamp, Int)]
    ordered.mapPartitions { it =>
      val m = model.value
      it.map { case (convId, turnIdx, role, text, tool, ts, turnOrd) =>
        tagTurn(m, Turn(convId, turnIdx, role, text, tool, ts), turnOrd)
      }
    }
  }

  /** One turn through the NER tagger and triple assembler — the one
    * tagging step of batch and stream, so both emit the same rows. */
  def tagTurn(m: NerModel, t: Turn, turnOrd: Int): TaggedRow = {
    val mentions = NerModel.tag(t.text, m)
    val triples = TripleAssembler.assemble(t.conv_id, t.turn_idx, t.role, t.text, t.tool, mentions)
    TaggedRow(t.conv_id, t.turn_idx, turnOrd, t.role, t.tool, t.ts,
      mentions.map(MentionRow.of).toSeq, triples.map(TripleRow.of).toSeq)
  }

  /** One row per mention: (conv_id, turn_idx, start, end, value, tag,
    * conf, norm) — the Generate/explode surface (row 63).
    */
  def mentionRows(tagged: Dataset[TaggedRow]): DataFrame = {
    val spark = tagged.sparkSession
    import spark.implicits._
    tagged.select($"conv_id", $"turn_idx", explode($"mentions").as("m"))
      .select($"conv_id", $"turn_idx", $"m.start", $"m.end", $"m.value", $"m.tag", $"m.conf")
      // native codegen'd expression, not a ScalaUDF (hot path; §4.3(b))
      .withColumn("norm", graft.functions.NativeFunctions.normalize_surface($"value"))
  }

  def tripleRows(tagged: Dataset[TaggedRow]): DataFrame = {
    val spark = tagged.sparkSession
    import spark.implicits._
    tagged.select($"conv_id", $"turn_idx", $"ts", explode($"triples").as("t"))
      .select($"conv_id", $"turn_idx", $"ts", $"t.subj", $"t.pred", $"t.obj", $"t.subj_tag", $"t.obj_tag")
  }

  // ------------------------------------------------------- entity linking

  /** xxhash64 of `tag|norm`: every surface node id and entity id, so the
    * incremental apply can probe stored ids. */
  def entityId(tag: Column, norm: Column): Column = xxhash64(concat(tag, lit("|"), norm))

  /** Distinct surfaces with stable node ids (xxhash64 of type|norm).
    * Two-stage aggregation: the BIG pass over the mention stream groups
    * by (norm, tag, value) with a pure count — a codegen'd HashAggregate
    * (a min(STRING)/min_by in that pass would demote it to
    * SortAggregate, sorting the whole mention stream per partition).
    * The second agg runs on distinct surfaces only (tiny at any scale).
    */
  def surfaceNodes(mentions: DataFrame): DataFrame =
    mentions
      .where(length(col("norm")) > 0 && !col("tag").isin("URL", "DATE", "SMILEY", "TYPE"))
      .groupBy(col("norm"), col("tag"), col("value"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("norm"), col("tag"))
      .agg(sum(col("cnt")).as("n_mentions"), min(col("value")).as("surface"))
      .withColumn("node_id", entityId(col("tag"), col("norm")))

  /** Candidate same-entity pairs via blocking keys (rows 45–47): explode
    * block keys, self-join on (tag, key), residual `isMatch` theta
    * predicate. Oversized blocks are dropped WITH a count (returned via
    * the `block_overflow` accumulator column in the second DF).
    */
  def candidateEdges(nodes: DataFrame, maxBlock: Int = MAX_BLOCK_SIZE): (DataFrame, DataFrame) =
    pairsFromKeyed(blockKeyed(nodes), maxBlock)

  /** (block_key, tag, node_id, norm) rows — one per (node, blocking key).
    * Shared by the full run and the incremental path so both see the
    * SAME deterministic block membership for any node set.
    */
  def blockKeyed(nodes: DataFrame): DataFrame = {
    val keysUdf = udf((norm: String) => Linker.blockKeys(norm))
    nodes
      .withColumn("block_key", explode(keysUdf(col("norm"))))
      .select(col("block_key"), col("tag"), col("node_id"), col("norm"))
  }

  /** Same-entity pairs within the given keyed block membership: size cap
    * with counted overflow, self-join, residual `isMatch` predicate.
    * Callers pass the FULL membership of every block they want paired —
    * block sizes (and hence the overflow cap) are computed from exactly
    * the rows given.
    */
  private def pairsFromKeyed(keyed: DataFrame, maxBlock: Int): (DataFrame, DataFrame) = {
    val spark = keyed.sparkSession
    import spark.implicits._
    val blockSizes = keyed.groupBy($"block_key", $"tag").agg(count(lit(1)).as("block_n"))
    val overflow = blockSizes.where($"block_n" > maxBlock)
    val small = keyed.join(broadcast(overflow.select($"block_key", $"tag")),
      Seq("block_key", "tag"), "left_anti")
    val a = small.alias("a")
    val b = small.alias("b")
    val isMatchUdf = udf((x: String, y: String) => Linker.isMatch(x, y))
    val edges = a.join(b,
        $"a.block_key" === $"b.block_key" && $"a.tag" === $"b.tag" &&
          $"a.node_id" < $"b.node_id")
      .where(isMatchUdf($"a.norm", $"b.norm"))
      .select($"a.node_id".as("src"), $"b.node_id".as("dst"))
      .distinct()
    (edges, overflow)
  }

  /** Scale-adaptive connected components: below `CC_LOCAL_THRESHOLD`
    * distinct surfaces, union-find on the driver (one collect of an
    * already-tiny node set — the alias graph is orders of magnitude
    * smaller than the corpus, and the fixed cost of k join iterations
    * dominates small inputs); above it, the iterative DataFrame
    * min-label propagation loop. Both produce identical labels (gated by
    * SparkParitySpec against the oracle for both paths). A caller that
    * already knows the node count passes `nNodes` to skip the count job.
    */
  val CC_LOCAL_THRESHOLD = 200000L

  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      checkpointDir: Option[String] = None, nNodes: Option[Long] = None): DataFrame = {
    if (nNodes.getOrElse(nodes.count()) <= CC_LOCAL_THRESHOLD) connectedComponentsLocal(nodes, edges)
    else connectedComponentsLoop(nodes, edges, checkpointDir)
  }

  /** Driver-side union-find over the (small) collected node/edge sets. */
  def connectedComponentsLocal(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val ids = nodes.select(col("node_id")).as[Long].collect().sorted
    val idx = ids.zipWithIndex.toMap
    val parent = Array.tabulate(ids.length)(identity)
    def find(x: Int): Int = {
      var r = x; while (parent(r) != r) r = parent(r)
      var c = x; while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    for ((s, d) <- edges.select(col("src"), col("dst")).as[(Long, Long)].collect()) {
      val (rs, rd) = (find(idx(s)), find(idx(d)))
      if (rs != rd) parent(math.max(rs, rd)) = math.min(rs, rd)
    }
    // component label = min node_id in the component (ids sorted -> root
    // index is the min-id member, matching the loop's least-label result)
    val rows = ids.indices.map(i => (ids(i), ids(find(i))))
    spark.createDataset(rows).toDF("node_id", "component")
  }

  /** One min-label-propagation step: neighbor-min join + least-label
    * update. Returns the new (node_id, component) frontier — already
    * localCheckpoint'ed (lineage cut) — and the number of labels that
    * changed (0 = converged). Called once per iteration of
    * connectedComponentsLoop, with or without a durable frontier.
    */
  private def ccStep(spark: SparkSession, sym: DataFrame, labels: DataFrame): (DataFrame, Long) = {
    import spark.implicits._
    val nbrMin = sym.join(labels, sym("src") === labels("node_id"))
      .groupBy($"dst").agg(min($"component").as("nbr_component"))
    val next = labels.join(nbrMin, labels("node_id") === nbrMin("dst"), "left")
      .select(labels("node_id"),
        least($"component", coalesce($"nbr_component", $"component")).as("new_component"),
        $"component")
    val stepped = next.select($"node_id", $"new_component".as("component"),
      ($"new_component" =!= $"component").cast("long").as("changed")).localCheckpoint()
    val changed = stepped.agg(sum($"changed")).as[Long].first()
    (stepped.select($"node_id", $"component"), changed)
  }

  /** Symmetrized edge set, localCheckpoint'ed once for the whole loop.
    *
    * r6 note (measured, not assumed): pre-partitioning this by `src`
    * before the checkpoint was tried and REVERTED — in Spark 4.1 a
    * localCheckpoint'ed Dataset reports UnknownPartitioning(0) under
    * AQE (verified via executedPlan.outputPartitioning), so the extra
    * repartition is a pure added shuffle with no downstream exchange
    * elision. The executed iteration plan is already lean: the
    * sym⋈labels join broadcasts the label frontier (LogicalRDD carries
    * real size stats), so sym is never shuffled; per iteration only the
    * neighbor-min groupBy and the 450k-row label frontier exchange.
    */
  private def symmetrized(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select($"src", $"dst")
      .union(edges.select($"dst".as("src"), $"src".as("dst")))
      .localCheckpoint()
  }

  private def initialLabels(nodes: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    nodes.select($"node_id", $"node_id".as("component")).localCheckpoint()
  }

  /** Iterative DataFrame connected components (min-label propagation,
    * SURVEY.md §2 row 48 — GraphX is RDD-based, excluded by input_hint).
    * Returns (node_id, component) where component = min node_id in the
    * connected component. localCheckpoint() per iteration truncates
    * lineage; convergence via changed-count.
    *
    * With a `checkpointDir` the loop commits every iteration to a
    * durable `CcFrontier` there and a killed loop resumes from its LAST
    * COMMITTED iteration, not iteration 0 (SURVEY.md §7.5).
    */
  def connectedComponentsLoop(nodes: DataFrame, edges: DataFrame,
      checkpointDir: Option[String] = None): DataFrame = {
    val spark = nodes.sparkSession
    val frontier = checkpointDir.map(new CcFrontier(nodes, _))
    // a local: the shared var only reports, and another loop may overwrite it
    val resumedFrom = frontier.fold(0)(_.resumedFrom)
    lastResumedFrom = resumedFrom
    frontier.flatMap(_.finished) match {
      case Some((labels, iters)) =>
        lastIterations = iters
        labels
      case None =>
        val sym = symmetrized(edges)
        var labels = frontier.flatMap(_.resumed).getOrElse(initialLabels(nodes))
        var iter = resumedFrom
        var converged = false
        while (!converged && iter < CC_MAX_ITERS) {
          val (next, changed) = ccStep(spark, sym, labels)
          iter += 1
          lastIterations = iter
          converged = changed == 0
          frontier.foreach(_.commit(iter, next, changed, converged))
          labels = next
        }
        // fail LOUDLY on non-convergence: a component with label-propagation
        // diameter > CC_MAX_ITERS would otherwise flow mislabeled into
        // canonicalization undetected (min-label propagation halves the
        // effective diameter per iteration on the min side, so 25 iterations
        // cover any realistic alias graph — if this fires, the edge set is
        // pathological and must be inspected, not silently canonicalized)
        require(converged,
          s"connectedComponentsLoop did not converge within $CC_MAX_ITERS iterations")
        System.err.println(s"[kg] connectedComponentsLoop converged after $iter iterations " +
          s"(resumed from $resumedFrom)")
        labels
    }
  }

  /** The durable loop under the name the perfbench harness calls. */
  def connectedComponentsLoopDurable(nodes: DataFrame, edges: DataFrame,
      checkpointDir: String): DataFrame = connectedComponentsLoop(nodes, edges, Some(checkpointDir))

  /** The durable frontier of one connectedComponentsLoop call: every
    * iteration PERSISTS its label frontier as parquet under `dir/iter-<k>`
    * and then commits it with a temp-file→rename marker
    * `iter-<k>.done.json` (the same commit-point protocol as GraphSink
    * manifests). At 10^12-turn scale each iteration shuffles the full
    * alias graph, so re-running 1..k-1 after an executor loss is real money.
    *
    * The marker records an order-independent fingerprint of the input
    * node set (count + bit_xor of node ids); resuming a checkpoint
    * directory against a DIFFERENT node set fails loudly instead of
    * silently propagating another graph's labels. The superseded
    * previous frontier is pruned after each commit, so storage stays
    * O(|nodes|), not O(iters·|nodes|).
    */
  private final class CcFrontier(nodes: DataFrame, dir: String) {
    private val spark = nodes.sparkSession
    private val f = Commit.fs(spark, dir)

    // identity of the input node set — one tiny agg over the (small)
    // alias-node table, NOT the corpus
    private val idRow = nodes.agg(count(lit(1)).as("n"),
      expr("bit_xor(xxhash64(node_id))").as("fp")).first()
    private val nNodes = idRow.getLong(0)
    // bit_xor over zero rows is NULL; 0L stands in so the fingerprint
    // guard below still runs — an empty node set against a checkpoint
    // committed for a real graph must fail LOUDLY (wrong input path),
    // not return silent empty output
    private val nodesFp = if (idRow.isNullAt(1)) 0L else idRow.getLong(1)

    private val last: Option[Records.CcMarker] = {
      val dirPath = new Path(dir)
      // an unreadable marker fails here, naming its file: skipping it would skip the guard below
      val committed: Seq[Records.CcMarker] =
        if (!f.exists(dirPath)) Nil
        else f.listStatus(dirPath).toSeq.map(_.getPath)
          .filter(p => p.getName.startsWith("iter-") && p.getName.endsWith(".done.json"))
          .map(p => Records.CcMarker.read(f, p))
      val last = committed.sortBy(_.iter).lastOption
      for (m <- last) require(m.nodes == nNodes && m.nodesFp == nodesFp,
        s"CC checkpoint at $dir (iter ${m.iter}) was written for a different " +
          s"node set (${m.nodes} nodes, fp ${m.nodesFp}; current: $nNodes, fp $nodesFp) — " +
          s"delete the checkpoint directory (`rm -r $dir`, for a KgJob output " +
          "that is `<output>/_cc_checkpoints`) or point the job at its original input")
      // sweep frontiers superseded before a crash landed in the
      // commit-then-prune window: without this, an iter-(k-1) surviving a
      // crash between iter-k's marker rename and its prune is never
      // deleted by later iterations (which only prune their immediate
      // predecessor) — storage must stay O(|nodes|)
      for (m <- committed; l <- last if m.iter < l.iter) drop(m.iter)
      last
    }

    /** The last committed iteration (0 = fresh start). */
    val resumedFrom: Int = last.map(_.iter).getOrElse(0)

    /** The labels and iteration count if nothing is left to propagate. */
    def finished: Option[(DataFrame, Int)] =
      // empty node set (the fingerprint guard already vetted it against
      // any committed checkpoint): converges trivially, nothing to persist
      if (nNodes == 0L) Some((nodes.select(col("node_id"), col("node_id").as("component")), 0))
      // a checkpoint that already converged: the frontier IS the answer
      else last.filter(_.converged).map { m =>
        System.err.println(s"[kg] durable CC: converged checkpoint found at iteration ${m.iter}; no work")
        (spark.read.parquet(s"$dir/iter-${m.iter}"), m.iter)
      }

    /** The last committed frontier, if any, to propagate from. */
    def resumed: Option[DataFrame] = last.map { m =>
      System.err.println(s"[kg] durable CC: resuming from committed iteration ${m.iter}")
      spark.read.parquet(s"$dir/iter-${m.iter}").localCheckpoint()
    }

    /** Persist-then-commit: parquet first, the marker rename is the
      * commit point (a crash between the two leaves an uncommitted dir the
      * overwrite replaces on resume); the superseded frontier is pruned
      * AFTER the commit (a crash in between leaves two markers; resume
      * takes the max).
      */
    def commit(iter: Int, labels: DataFrame, changed: Long, converged: Boolean): Unit = {
      labels.write.mode(SaveMode.Overwrite).parquet(s"$dir/iter-$iter")
      Commit.write(f, new Path(s"$dir/iter-$iter.done.json"),
        Records.CcMarker(iter, changed, converged, nNodes, nodesFp).json)
      if (iter > 1) drop(iter - 1)
    }

    private def drop(iter: Int): Unit = {
      f.delete(new Path(s"$dir/iter-$iter"), true)
      f.delete(new Path(s"$dir/iter-$iter.done.json"), false)
    }
  }

  /** Canonicalization: component -> canonical surface (min norm, matching
    * the oracle) + stable entity_id = xxhash64(tag|canonical_norm).
    */
  def canonicalize(nodes: DataFrame, labels: DataFrame): DataFrame = {
    val withComp = nodes.join(labels, "node_id")
    val canon = withComp.groupBy(col("component"), col("tag"))
      .agg(min(col("norm")).as("canonical_norm"))
      .withColumn("entity_id", entityId(col("tag"), col("canonical_norm")))
    withComp.select(col("node_id"), col("norm"), col("tag"), col("component"))
      .join(canon.select(col("component"), col("tag"), col("canonical_norm"), col("entity_id")),
        Seq("component", "tag"))
  }

  /** entities table (SURVEY.md D14). */
  def entitiesTable(nodes: DataFrame, labels: DataFrame): DataFrame =
    nodes.join(labels, "node_id")
      .groupBy(col("component"), col("tag"))
      .agg(min(col("norm")).as("canonical"),
        sort_array(collect_set(col("surface"))).as("aliases"),
        sum(col("n_mentions")).as("n_mentions"))
      .withColumn("entity_id", entityId(col("tag"), col("canonical")))
      .select(col("entity_id"), col("canonical"), col("tag").as("entity_type"),
        col("aliases"), col("n_mentions"))

  /** Apply canonical entity ids to triples. Scale-adaptive join choice:
    * a canonical map that fits in memory is BROADCAST (no shuffle of the
    * huge triple stream, hot keys irrelevant); a huge map falls back to
    * the explicitly SALTED shuffle join (north rule: hot entities make
    * `norm` skewed — the salt spreads each hot key over LINK_SALT
    * partitions; AQE skew-join stays on as the second line of defense).
    * Both paths are proven equal in SparkParitySpec. A caller that knows
    * the map's rows (one per surface node) passes `mapRows`, like `gazRows`.
    */
  val BROADCAST_MAP_THRESHOLD = 2000000L

  def resolveTriples(triples: DataFrame, canonMap: DataFrame,
      mapRows: Option[Long] = None): DataFrame =
    if (mapRows.getOrElse(canonMap.count()) <= BROADCAST_MAP_THRESHOLD)
      resolveTriplesBroadcast(triples, canonMap)
    else resolveTriplesSalted(triples, canonMap)

  /** The canonical-map columns both resolve joins read. */
  private def canonProjection(canonMap: DataFrame): DataFrame =
    canonMap.select(col("norm"), col("tag"), col("entity_id"), col("canonical_norm"))

  /** The projected map renamed for one join side: `p_norm` key, `role_*`
    * outputs, plus any `extra` join-key renames. */
  private def canonSide(cm: DataFrame, p: String, role: String,
      extra: (String, String)*): DataFrame =
    cm.withColumnsRenamed(Map("norm" -> s"${p}_norm", "tag" -> s"${role}_tag",
      "entity_id" -> s"${role}_id", "canonical_norm" -> s"${role}_canonical") ++ extra)

  /** The resolved-triple columns both resolve joins return. */
  private val resolvedColumns: Seq[Column] = Seq(
    col("conv_id"), col("turn_idx"), col("ts"),
    col("subj"), col("pred"), col("obj"),
    col("subj_tag"), col("obj_tag"),
    col("subj_id"), col("obj_id"),
    coalesce(col("subj_canonical"), col("s_norm")).as("subj_canonical"),
    coalesce(col("obj_canonical"), col("o_norm")).as("obj_canonical"))

  /** Broadcast path: one narrow stage over the triple stream. */
  def resolveTriplesBroadcast(triples: DataFrame, canonMap: DataFrame): DataFrame = {
    import graft.functions.NativeFunctions.normalize_surface
    val cm = canonProjection(canonMap)
    triples
      .withColumn("s_norm", normalize_surface(col("subj")))
      .join(broadcast(canonSide(cm, "s", "subj")), Seq("s_norm", "subj_tag"), "left")
      .withColumn("o_norm", normalize_surface(col("obj")))
      .join(broadcast(canonSide(cm, "o", "obj")), Seq("o_norm", "obj_tag"), "left")
      .select(resolvedColumns: _*)
  }

  /** Salted shuffle path for canonical maps too large to broadcast. */
  def resolveTriplesSalted(triples: DataFrame, canonMap: DataFrame): DataFrame = {
    val canonSalted = canonProjection(canonMap)
      .withColumn("salt", explode(sequence(lit(0), lit(LINK_SALT - 1))))
    def side(df: DataFrame, surfaceCol: String, prefix: String): DataFrame = {
      df.withColumn(s"${prefix}_norm",
          graft.functions.NativeFunctions.normalize_surface(col(surfaceCol)))
        .withColumn(s"${prefix}_salt",
          pmod(xxhash64(col("conv_id"), col("turn_idx"), col(surfaceCol)), lit(LINK_SALT)).cast("int"))
    }
    val withSubj = side(triples, "subj", "s")
      .join(canonSide(canonSalted, "s", "subj", "salt" -> "s_salt"),
        Seq("s_norm", "subj_tag", "s_salt"), "left")
    side(withSubj, "obj", "o")
      .join(canonSide(canonSalted, "o", "obj", "salt" -> "o_salt"),
        Seq("o_norm", "obj_tag", "o_salt"), "left")
      .select(resolvedColumns: _*)
  }

  /** edges table: canonical src/dst with weights (D14). */
  def edgesTable(resolvedTriples: DataFrame): DataFrame =
    resolvedTriples
      .where(col("subj_id").isNotNull && col("obj_id").isNotNull && col("pred") =!= "instance_of")
      .groupBy(col("subj_id").as("src"), col("obj_id").as("dst"), col("pred"))
      .agg(count(lit(1)).cast("double").as("weight"))

  // ---------------------------------------------------- incremental linking

  /** Merge a prior run's surface-node table with the nodes of a new
    * batch. node_id = xxhash64(tag|norm) is stable, so the merge is a
    * pure re-aggregation: mention counts add, the canonical raw surface
    * is the min over both sides (min of per-side mins == the min a full
    * recompute over the combined corpus takes). Both inputs are
    * alias-scale (distinct surfaces), orders of magnitude smaller than
    * the corpus — the groupBy shuffle here never touches turn data.
    */
  def mergeNodes(priorNodes: DataFrame, newNodes: DataFrame): DataFrame = {
    val cols = Seq("node_id", "norm", "tag", "n_mentions", "surface")
    priorNodes.select(cols.map(col): _*)
      .unionByName(newNodes.select(cols.map(col): _*))
      .groupBy(col("node_id"), col("norm"), col("tag"))
      .agg(sum(col("n_mentions")).as("n_mentions"), min(col("surface")).as("surface"))
      // exact surfaceNodes column order: downstream consumers and the
      // parity gates treat the merged table as a drop-in node table
      .select(col("norm"), col("tag"), col("n_mentions"), col("surface"), col("node_id"))
  }

  final case class IncrementalLink(
      nodes: DataFrame,     // merged surface-node table (== full-recompute nodes)
      labels: DataFrame,    // (node_id, component) for EVERY merged node
      newEdges: DataFrame,  // candidate pairs computed this batch (evidence/debug)
      overflow: DataFrame)  // oversized blocks dropped this batch (counted)

  /** Incremental entity linking (the 10^12-turn production shape: a full
    * candidate-pair + CC recompute per daily batch would re-shuffle the
    * entire alias graph to re-derive components that cannot have
    * changed). Given the PRIOR run's link state (surface nodes + their
    * component labels) and the mentions of a NEW batch only:
    *
    *   1. merge node tables (counts add; ids are stable hashes);
    *   2. generate candidate pairs ONLY for blocks containing at least
    *      one first-seen surface — but over each such block's FULL
    *      merged membership, so block sizes, the overflow cap, and the
    *      pair set agree exactly with what a full recompute produces for
    *      those blocks. Blocks without a new node cannot produce a new
    *      pair (block keys are a pure function of `norm`), and their old
    *      pairs are already folded into the prior labels;
    *   3. run connected components over the SUPER-NODE graph: each prior
    *      component collapses to its label (the min node_id of its
    *      members), new-batch edges project endpoints onto those labels,
    *      and only TOUCHED super-nodes enter the loop — untouched
    *      components keep their labels by construction. Because a prior
    *      label is already the min id of its members, the min over a
    *      merged super-component equals the min over all underlying
    *      nodes, so the final labels are IDENTICAL to a full recompute
    *      (gated by SparkParitySpec/KgIncrementalSpec and by the
    *      kg_incr_entities oracle, which re-derives the full-run answer).
    *      CC keeps no durable frontier: a failed apply re-links anyway.
    *
    * Monotonicity caveat (documented semantics, not a bug): if new
    * surfaces push a block PAST the overflow cap, the full recompute
    * drops all its pairs while the incremental run keeps the merges the
    * prior run already made from that block (entities are never
    * un-merged by growth). Parity holds whenever no block crosses the
    * cap between runs.
    */
  def incrementalLink(
      priorNodes: DataFrame,
      priorLabels: DataFrame,
      newMentions: DataFrame,
      maxBlock: Int = MAX_BLOCK_SIZE): IncrementalLink = {
    // both node tables are alias-scale but their lineage (explode +
    // two-level groupBy over the mention stream) is re-executed by every
    // downstream reference — merged alone feeds blockKeyed twice and the
    // pair self-join twice. localCheckpoint materializes each ONCE and
    // cuts the lineage (no exchange exists for Spark to reuse here);
    // `proj` likewise, since connectedComponents runs three actions on it
    val newNodes = surfaceNodes(newMentions).localCheckpoint()
    val merged = mergeNodes(priorNodes, newNodes).localCheckpoint()
    // surfaces first seen in this batch. Left-anti on the prior ALIAS
    // table (not the corpus); the prior side is shuffled by node_id —
    // the same exchange mergeNodes already needs.
    val newIds = newNodes.select(col("node_id"))
      .join(priorNodes.select(col("node_id")), Seq("node_id"), "left_anti")
    // blocks touched by a new node, with their FULL merged membership
    val keyed = blockKeyed(merged)
    val activeBlocks = keyed.join(newIds, Seq("node_id"), "left_semi")
      .select(col("block_key"), col("tag")).distinct()
    val active = keyed.join(activeBlocks, Seq("block_key", "tag"), "left_semi")
    val (edges, overflow) = pairsFromKeyed(active, maxBlock)
    // project endpoints onto prior component labels (nodes without a
    // prior label — the new ones — stand for themselves)
    val lbl = priorLabels.select(col("node_id"), col("component"))
    val proj = edges
      .join(lbl.toDF("src", "src_c"), Seq("src"), "left")
      .join(lbl.toDF("dst", "dst_c"), Seq("dst"), "left")
      .select(coalesce(col("src_c"), col("src")).as("src"),
        coalesce(col("dst_c"), col("dst")).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint()
    // CC over the touched super-nodes only; everything untouched keeps
    // its prior label (isolated super-nodes are fixed points of
    // min-label propagation, so skipping them changes nothing)
    val touched = proj.select(col("src").as("node_id"))
      .unionByName(proj.select(col("dst").as("node_id"))).distinct()
    val ccLabels = connectedComponents(touched, proj)
    val oldFinal = priorLabels.select(col("node_id"), col("component"))
      .join(ccLabels.toDF("component", "new_c"), Seq("component"), "left")
      .select(col("node_id"), coalesce(col("new_c"), col("component")).as("component"))
    val newFinal = newIds
      .join(ccLabels.toDF("node_id", "new_c"), Seq("node_id"), "left")
      .select(col("node_id"), coalesce(col("new_c"), col("node_id")).as("component"))
    IncrementalLink(merged, oldFinal.unionByName(newFinal), edges, overflow)
  }

  // ------------------------------------------------------------ full job

  final case class KgOutput(
      tagged: Dataset[TaggedRow],
      mentions: DataFrame,
      triples: DataFrame,
      nodes: DataFrame,
      ccEdges: DataFrame,
      components: DataFrame,
      entities: DataFrame,
      resolvedTriples: DataFrame,
      edges: DataFrame,
      blockOverflow: DataFrame)

  def run(spark: SparkSession, turns: Dataset[Turn], model: Broadcast[NerModel],
      ccCheckpointDir: Option[String] = None): KgOutput =
    // cache the NLP stage output BEFORE any downstream action: the
    // adaptive CC/resolve decisions call count(), which would otherwise
    // re-run generation + tagging once per action
    runTagged(spark, tagTurns(turns, model).cache(), ccCheckpointDir)

  def runTagged(spark: SparkSession, tagged: Dataset[TaggedRow],
      ccCheckpointDir: Option[String] = None): KgOutput = {
    val mentions = mentionRows(tagged)
    val triples = tripleRows(tagged)
    val nodes = surfaceNodes(mentions).cache()
    val nNodes = nodes.count() // both dispatches: the canonical map has one row per node
    val (edges0, overflow) = candidateEdges(nodes)
    val labels = connectedComponents(nodes, edges0, ccCheckpointDir, Some(nNodes))
    val canonMap = canonicalize(nodes, labels)
    val entities = entitiesTable(nodes, labels)
    val resolved = resolveTriples(triples, canonMap, Some(nNodes))
    val kgEdges = edgesTable(resolved)
    KgOutput(tagged, mentions, triples, nodes, edges0, labels, entities, resolved, kgEdges, overflow)
  }
}
