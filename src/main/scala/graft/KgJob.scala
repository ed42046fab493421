package graft

import graft.corpus.Turn
import graft.obs.PhaseRecorder
import graft.pipeline.Records.Layout
import graft.pipeline.{Commit, GraphSink, KgPipeline, NerTraining}
import org.apache.spark.sql.SparkSession

/** Production spark-submit entry point for the full KG-construction job
  * (BASELINE.json north rule: "runs via spark-submit on a multi-executor
  * cluster"; SURVEY.md §3.3). Reads an Iceberg/Parquet transcript table
  * with columns (conv_id, turn_idx, role, text, tool, ts), tags it with
  * a persisted NER model, links + canonicalizes entities, and
  * materializes the graph (triples/entities/edges) with per-bucket
  * lineage manifests. Re-running against the same output directory
  * RESUMES: committed buckets (manifest present) are skipped, pending
  * ones are idempotently rewritten (GraphSink's dynamic-overwrite +
  * rename-commit protocol).
  *
  * Usage (spark-submit supplies master/executor conf; nothing here pins
  * a master so the same jar runs at N and 4N executors unchanged):
  *
  *   spark-submit --class graft.KgJob palladianspark.jar \
  *     --input  hdfs://.../transcripts \
  *     --model  hdfs://.../ner_model \
  *     --output hdfs://.../graph      \
  *     [--buckets 64]
  *
  * Prints one JSON metrics line (turns, triples, entities, edges, buckets
  * written/skipped) — the job's observability contract.
  */
object KgJob {

  final case class JobMetrics(
      turns: Long, triples: Long, entities: Long, edges: Long,
      bucketsWritten: Int, bucketsSkipped: Int)

  private val knownFlags = Set("--input", "--model", "--output", "--buckets", "--day-partition")

  def main(args: Array[String]): Unit = {
    val opts = Cli.flags(args, knownFlags)
    val input = opts.getOrElse("--input", sys.error("--input <transcripts parquet> required"))
    val modelPath = opts.getOrElse("--model", sys.error("--model <ner model parquet> required"))
    val output = opts.getOrElse("--output", sys.error("--output <graph dir> required"))
    val buckets = opts.getOrElse("--buckets", "16").toInt
    val dayPartition = opts.getOrElse("--day-partition", "false").toBoolean
    val spark = SparkSession.builder()
      .appName("graft-kg-construct")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    val m = run(spark, input, modelPath, output, buckets, dayPartition)
    println(
      s"""{"job":"kg_construct","turns":${m.turns},"triples":${m.triples},""" +
        s""""entities":${m.entities},"edges":${m.edges},""" +
        s""""buckets_written":${m.bucketsWritten},"buckets_skipped":${m.bucketsSkipped}}""")
    spark.stop()
  }

  /** The job body, callable from tests with an existing session. Phase
    * walls go to stderr — the observability needed to attribute the
    * job's serial fraction (driver planning/codegen, model load, the CC
    * dispatch count) separately from the scalable work when measuring
    * N-vs-4N (BENCH/job_scaling.json).
    */
  def run(spark: SparkSession, input: String, modelPath: String, output: String,
      buckets: Int = 16, dayPartition: Boolean = false): JobMetrics = {
    import spark.implicits._
    // an incompatible resume is refused before the model load and tagging
    GraphSink.resumableBuckets(spark, output, Layout(buckets, dayPartition))
    val phase = new PhaseRecorder("kgjob")
    val turns = spark.read.parquet(input).as[Turn]
    val model = spark.sparkContext.broadcast(NerTraining.load(spark, modelPath))
    phase("load_model_broadcast")
    // CC frontier checkpoints live under the job output dir: a killed
    // linking phase resumes the label-propagation loop from its last
    // committed iteration instead of iteration 0 (engaged on the
    // >CC_LOCAL_THRESHOLD loop path; see KgPipeline.connectedComponentsLoop)
    val out = KgPipeline.run(spark, turns, model, Some(s"$output/_cc_checkpoints"))
    // this wall covers what run() actually FORCES: the tagging pass
    // (cache fill via the CC-dispatch node count) + blocking join + CC.
    // canonicalize/resolveTriples stay lazy and execute inside the
    // write wall below — the labels state the forced work, not the
    // lazily-attributed stage names
    phase("tag_block_cc")
    // resolvedTriples feeds the triple write AND the edges aggregation —
    // cache it so graph materialization costs one pipeline execution
    out.resolvedTriples.cache()
    val wm = GraphSink.writeTriples(spark, out.resolvedTriples, output, buckets,
      dayPartition = dayPartition)
    phase("resolve_write_triples_manifests")
    // each count comes from its own write; triples are the committed
    // manifests' row sum (a resume included), turns the cached tagged set
    val nEntities = GraphSink.writeEntities(out.entities, output)
    val nEdges = GraphSink.writeEdges(out.edges, output)
    // link state makes the output INCREMENTAL-READY: KgIncrementalJob
    // merges later transcript batches against these nodes/labels instead
    // of relinking the whole corpus (alias-scale tables — two small
    // parquet writes). A full run starts the applied-batch ledger empty.
    GraphSink.writeLinkState(spark, out.nodes, out.components, s"$output/_linkstate")
    phase("write_entities_edges_linkstate")
    val nTurns = out.tagged.count()
    val nTriples = GraphSink.committedRows(spark, output)
    out.resolvedTriples.unpersist(); out.tagged.unpersist(); out.nodes.unpersist()
    // the CC frontier checkpoint exists only to resume a KILLED linking
    // phase; once the job's final manifests are committed it is dead
    // weight — O(|nodes|) parquet left under every successful output,
    // and a later run reusing the dir with different input would trip
    // the node-set fingerprint guard even after clearing triples +
    // _manifests (ADVICE r4). Delete it at the success point.
    val ccDir = new org.apache.hadoop.fs.Path(s"$output/_cc_checkpoints")
    val hfs = Commit.fs(spark, output)
    if (hfs.exists(ccDir)) hfs.delete(ccDir, true)
    JobMetrics(nTurns, nTriples, nEntities, nEdges, wm.buckets, wm.skippedBuckets)
  }
}
