package perfbench

import graft.{KgIncrementalJob, KgJob}
import graft.corpus.Turn
import graft.pipeline.{GraphSink, KgPipeline, NerTraining}

import java.io.File

/** batch_build: `graft.KgJob.run` over a seeded transcript table into a
  * fresh 16-bucket graph directory, closed loop, one caller.
  *
  * Why: the production batch entry. Tagging, resolution and the sink do
  * the work; linking sees only the corpus's few hundred surfaces, so CC
  * takes the local union-find side and resolution the broadcast side.
  */
object BatchBuild {

  val Buckets = 16
  /** Distinct entities TranscriptGen plants; every corpus window links to all. */
  val Entities = 82L

  final case class Inputs(corpus: String, model: String, turns: Long, slice: String)

  def convs(ctx: Ctx): Long = if (ctx.smoke) 300L else 4000L

  /** The incremental batch traced runs apply: ~500 turns of conversations
    * the corpus does not hold.
    */
  def sliceConvs(ctx: Ctx): Long = if (ctx.smoke) 10L else 70L
  val IncrBuckets = 256

  /** The seeded inputs: the corpus table and the incremental slice. */
  def inputs(ctx: Ctx): (String, String) = {
    val base = Common.convBase(ctx.seed, 1)
    val corpus = ctx.dir("batch/corpus")
    val slice = ctx.dir("batch/slice")
    Common.turns(ctx.spark, base, convs(ctx)).write.parquet(corpus)
    Common.turns(ctx.spark, base + convs(ctx), sliceConvs(ctx)).write.parquet(slice)
    (corpus, slice)
  }

  /** The program's set-up: train and persist the NER model. */
  def setup(ctx: Ctx, rep: Int, corpus: String, slice: String): Inputs = {
    val model = ctx.dir(s"batch/model-$rep")
    Common.saveModel(ctx.spark, Common.convBase(ctx.seed, 1), convs(ctx), model)
    Inputs(corpus, model, ctx.spark.read.parquet(corpus).count(), slice)
  }

  /** Traced runs only: the incr layer. KgJob builds a 256-bucket prior
    * graph from the corpus (untimed), `KgIncrementalJob.run` applies the
    * slice as one traced call, and the gates check that the maintained
    * graph equals a full build of corpus + slice and that most buckets
    * were left untouched.
    */
  def incrApply(ctx: Ctx, op: Int, in: Inputs): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val graph = ctx.dir("batch/incr-graph")
    KgJob.run(spark, in.corpus, in.model, graph, IncrBuckets)
    val m = ctx.rec.span("incr", op)(KgIncrementalJob.run(spark, graph, in.slice, in.model))
    ctx.rec.count("incr", "rows_out" -> m.newTriples.toDouble,
      "buckets_rewritten" -> m.rewrittenBuckets.toDouble,
      "untouched_ratio" -> m.untouchedBuckets.toDouble / IncrBuckets,
      "changed_surfaces" -> m.changedSurfaces.toDouble)
    require(m.untouchedBuckets > m.rewrittenBuckets,
      s"apply rewrote ${m.rewrittenBuckets} buckets and left ${m.untouchedBuckets} untouched")
    val all = spark.read.parquet(in.corpus).union(spark.read.parquet(in.slice)).as[Turn]
    val full = KgPipeline.run(spark, all, spark.sparkContext.broadcast(NerTraining.load(spark, in.model)))
    val want = Common.fingerprint(full.resolvedTriples)
    full.tagged.unpersist()
    full.nodes.unpersist()
    val got = Common.fingerprint(spark.read.parquet(s"$graph/triples"))
    require(got == want, s"incremental graph (rows, fp) $got != full build $want")
    Common.delete(graph)
  }

  /** The gates: manifest row sum == triples read back == the job's own
    * triple count, and every planted entity was linked.
    */
  def gate(ctx: Ctx, out: String, triples: Long, entities: Long): Unit = {
    val manifested = Common.manifestRows(new File(out, "_manifests"), "bucket-")
    val readBack = ctx.spark.read.parquet(s"$out/triples").count()
    require(manifested == readBack && readBack == triples,
      s"manifest rows $manifested, triples read back $readBack, job counted $triples")
    require(entities == Entities, s"expected $Entities entities, got $entities")
  }

  /** KgJob.run's body with a span around each layer call. Each layer's
    * output is materialised inside its span so its work is billed there.
    */
  def traced(ctx: Ctx, op: Int, in: Inputs, out: String): (Long, Long) = {
    val spark = ctx.spark
    import spark.implicits._
    val rec = ctx.rec
    val model = rec.span("model", op) {
      spark.sparkContext.broadcast(NerTraining.load(spark, in.model))
    }
    val turns = spark.read.parquet(in.corpus).as[Turn]
    val (tagged, nTagged) = rec.span("tag", op) {
      val t = KgPipeline.tagTurns(turns, model).cache()
      (t, t.count())
    }
    rec.count("tag", "rows_out" -> nTagged.toDouble)
    val (nodes, nNodes) = rec.span("nodes", op) {
      val n = KgPipeline.surfaceNodes(KgPipeline.mentionRows(tagged)).cache()
      (n, n.count())
    }
    rec.count("nodes", "rows_out" -> nNodes.toDouble)
    val (edges, pairs, overflowBlocks) = rec.span("block", op) {
      val (e, overflow) = KgPipeline.candidateEdges(nodes)
      val ec = e.cache()
      (ec, ec.count(), overflow.count())
    }
    rec.count("block", "rows_out" -> pairs.toDouble, "pairs" -> pairs.toDouble,
      "overflow_blocks" -> overflowBlocks.toDouble)
    val labels = rec.span("cc", op) {
      val l = KgPipeline.connectedComponents(nodes, edges, Some(s"$out/_cc_checkpoints")).cache()
      l.count()
      l
    }
    rec.count("cc", "rows_out" -> nNodes.toDouble, "iterations" ->
      (if (nNodes > KgPipeline.CC_LOCAL_THRESHOLD) KgPipeline.lastIterations else 0).toDouble,
      "loop_path" -> (if (nNodes > KgPipeline.CC_LOCAL_THRESHOLD) 1.0 else 0.0))
    val (resolved, n, withId, salted) = rec.span("resolve", op) {
      val canonMap = KgPipeline.canonicalize(nodes, labels)
      val r = KgPipeline.resolveTriples(KgPipeline.tripleRows(tagged), canonMap).cache()
      (r, r.count(), r.where($"subj_id".isNotNull && $"obj_id".isNotNull).count(),
        canonMap.count() > KgPipeline.BROADCAST_MAP_THRESHOLD)
    }
    rec.count("resolve", "rows_out" -> n.toDouble, "rows_with_id" -> withId.toDouble,
      "salted_path" -> (if (salted) 1.0 else 0.0))
    val entities = KgPipeline.entitiesTable(nodes, labels).cache()
    val nEntities = entities.count()
    val sinceMs = System.currentTimeMillis()
    val written = rec.span("sink", op) {
      val wm = GraphSink.writeTriples(spark, resolved, out, Buckets)
      GraphSink.writeEntities(entities, out)
      GraphSink.writeEdges(KgPipeline.edgesTable(resolved), out)
      GraphSink.writeLinkState(spark, nodes, labels, s"$out/_linkstate")
      wm.rows
    }
    val (files, bytes) = Common.filesWritten(new File(out), sinceMs)
    rec.count("sink", "rows_out" -> written.toDouble, "files" -> files.toDouble,
      "mb_written" -> bytes / 1e6)
    Seq(tagged, nodes, edges, labels, resolved, entities).foreach(_.unpersist())
    (n, nEntities)
  }

  def run(ctx: Ctx): Outcome = {
    val (corpus, slice) = Common.stage("inputs")(inputs(ctx))
    val setups = Harness.repeatSetup(ctx)(rep => setup(ctx, rep, corpus, slice))
    val in = setups.last.value
    var linkNodes = 0L
    def op(i: Int): OpSample = {
      val out = ctx.dir(s"batch/graph-$i")
      val traceThis = ctx.traced && i % 2 == 1
      val sample = Common.timedOp(ctx.copy(traced = traceThis), i) {
        if (traceThis) traced(ctx, i, in, out)
        else {
          val m = KgJob.run(ctx.spark, in.corpus, in.model, out, Buckets)
          (m.triples, m.entities)
        }
      } { case (triples, entities) =>
        gate(ctx, out, triples, entities)
        linkNodes = ctx.spark.read.parquet(s"$out/_linkstate/nodes").count()
        in.turns
      }
      Common.delete(out)
      sample
    }
    val warm = op(-1) // the untimed warm-up; its failure counts like any op's
    val samples = Common.closedLoop(ctx, minOps = if (ctx.traced) 2 else 1)(op)
    val incr =
      if (ctx.traced) Seq(Common.guarded("incremental apply")(incrApply(ctx, 1, in)).left.toOption)
      else Nil
    // the sides of the adaptive dispatches this corpus takes, from the
    // sizes the program dispatches on
    val cc = if (linkNodes > KgPipeline.CC_LOCAL_THRESHOLD) "loop" else "local"
    val resolve = if (linkNodes > KgPipeline.BROADCAST_MAP_THRESHOLD) "salted" else "broadcast"
    Harness.closedLoopOutcome(ctx, setups, warm, samples, incr,
      Map("turns_per_op" -> in.turns.toString, "convs" -> convs(ctx).toString,
        "surface_nodes" -> linkNodes.toString,
        "dispatch" -> Stats.jsonString(s"cc=$cc resolve=$resolve")))
  }
}
