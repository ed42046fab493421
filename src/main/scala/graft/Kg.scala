package graft

import graft.pipeline._
import graft.semantics.NerModel
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.concurrent.TrieMap

/** Builds (and caches per sfDir) the flagship KG job outputs so each
  * SparkEntry query reuses one tagged/linked build instead of re-running
  * the pipeline per query (Verify/Bench call queries independently).
  */
object Kg {

  final case class Built(
      nConvs: Long,
      model: NerModel,
      out: KgPipeline.KgOutput,
      labeled: org.apache.spark.sql.Dataset[LabeledRow])

  private val cache = TrieMap.empty[String, Built]

  def built(spark: SparkSession, sfDir: String): Built =
    cache.getOrElseUpdate(sfDir, build(spark, sfDir))

  /** Drop every cached artifact for `sfDir` (and unpersist its cached
    * datasets) so the next `built` call is a COLD end-to-end build —
    * used by Bench's min-of-2 flagship measurement (host CPU steal can
    * inflate any single wall 2–6×; see BENCH/BASELINE.md).
    */
  def evict(sfDir: String): Unit = {
    cache.remove(sfDir).foreach { b =>
      b.labeled.unpersist()
      b.out.tagged.unpersist()
      b.out.mentions.unpersist()
      b.out.nodes.unpersist()
      b.out.resolvedTriples.unpersist()
    }
    roleCache.remove(sfDir).foreach(_.unpersist())
    roleModelCache.remove(sfDir)
  }

  /** (rows, order-independent fingerprint) of a resolved-triples table
    * over the complete resolution output, entity ids and canonicals
    * included — the parity gate the bench stages apply between a
    * production entry's output and `built(...).out.resolvedTriples`.
    * bit_xor over zero rows is NULL; 0 stands in for it.
    */
  private[graft] def resolvedFingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(conv_id, turn_idx, subj, pred, obj, " +
      "subj_tag, obj_tag, subj_id, obj_id, subj_canonical, obj_canonical))")).first()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def build(spark: SparkSession, sfDir: String): Built = {
    import spark.implicits._
    val nConvs = Transcripts.convsForSfDir(sfDir)
    val labeled = Transcripts.generateLabeled(spark, nConvs).cache()
    val model = NerTraining.trainModel(Transcripts.trainSplit(labeled))
    val bc = spark.sparkContext.broadcast(model)
    // derive turns from the cached labeled set: one generation pass total
    val turns = labeled.map(r =>
      graft.corpus.Turn(r.conv_id, r.turn_idx, r.role, r.text, r.tool, r.ts))
    val out = KgPipeline.run(spark, turns, bc)
    out.resolvedTriples.cache()
    // mentions is DERIVED (explode over the cached tagged set) — ~8
    // queries each re-ran the explode+normalize on every reference, and
    // under memory pressure a partially-evicted tagged cache turns that
    // into a full re-tag (the likely kg_gazetteer_disambig 21 s outlier
    // in the r3 driver bench; warm min-of-3 is 1.7 s). One cached copy
    // of the small exploded table removes the re-derivation entirely.
    out.mentions.cache()
    Built(nConvs, model, out, labeled)
  }

  private val roleCache = TrieMap.empty[String, DataFrame]
  private val roleModelCache = TrieMap.empty[String, graft.semantics.DictModel]

  /** Drop only the role train+score caches (the corpus/tagged caches
    * stay warm) so Bench can re-time the role stage against identical
    * inputs — a plain second roleScored call would read the memoized
    * result and time a cache scan instead of the stage.
    */
  def evictRole(sfDir: String): Unit = {
    roleCache.remove(sfDir).foreach(_.unpersist(blocking = true))
    roleModelCache.remove(sfDir)
    ()
  }

  /** The trained role model, cached per sfDir — shared by roleScored and
    * the kg_role_model/kg_role_priors oracle dumps.
    */
  def roleModel(spark: SparkSession, sfDir: String): graft.semantics.DictModel =
    roleModelCache.getOrElseUpdate(sfDir, {
      import spark.implicits._
      val b = built(spark, sfDir)
      val turns = b.labeled.map(r =>
        graft.corpus.Turn(r.conv_id, r.turn_idx, r.role, r.text, r.tool, r.ts))
      pipeline.ClassifyStage.train(turns)
    })

  /** Role classification (dictionary classifier train+score) with results
    * cached per sfDir (SURVEY.md §2 rows 34–35 pipeline twin).
    */
  def roleScored(spark: SparkSession, sfDir: String): DataFrame =
    roleCache.getOrElseUpdate(sfDir, {
      import spark.implicits._
      val b = built(spark, sfDir)
      // derive turns from the ALREADY-CACHED labeled set — r1 regenerated
      // the whole corpus here (three extra generation passes: train term
      // agg, doc counts, score), which dominated kg_role_accuracy's 14.6 s
      val turns = b.labeled.map(r =>
        graft.corpus.Turn(r.conv_id, r.turn_idx, r.role, r.text, r.tool, r.ts))
      pipeline.ClassifyStage.score(turns, roleModel(spark, sfDir),
        graft.semantics.BayesScorer).cache()
    })

  /** Column twin of TranscriptGen.isEval over the "c%07d" conv_id
    * format — codegen'd, no ScalaUDF on the query paths; built from the
    * generator's own split constants so one definition rules both sides.
    */
  private def isEvalCol: org.apache.spark.sql.Column =
    pmod(expr("CAST(substring(conv_id, 2) AS BIGINT)"),
      lit(graft.corpus.TranscriptGen.SPLIT_MOD)) ===
      graft.corpus.TranscriptGen.EVAL_REMAINDER

  /** NER error classes on the eval split (SURVEY.md §2 row 38). */
  def nerErrors(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val b = built(spark, sfDir)
    val pred = b.out.mentions.where(isEvalCol)
      .select($"conv_id", $"turn_idx", $"start", $"end", $"tag")
    val gold = b.labeled.where(isEvalCol)
      .select($"conv_id", $"turn_idx", explode($"gold").as("g"))
      .select($"conv_id", $"turn_idx", $"g.start", $"g.end", $"g.tag")
    pipeline.NerEval.errorClasses(spark, pred, gold)
  }

  /** Predicted mention spans on the held-out split (also dumped as
    * kg_eval_pred — the input the kg_eval_prf oracle recomputes from).
    */
  def evalPred(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val b = built(spark, sfDir)
    b.out.mentions.where(isEvalCol)
      .select($"conv_id", $"turn_idx", $"start", $"end", $"tag")
  }

  /** Gold spans on the held-out split (dumped as kg_gold_spans). */
  def evalGold(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val b = built(spark, sfDir)
    b.labeled.where(isEvalCol)
      .select($"conv_id", $"turn_idx", explode($"gold").as("g"))
      .select($"conv_id", $"turn_idx", $"g.start", $"g.end", $"g.tag")
  }

  /** Span-level P/R per tag on the held-out split — the Spark twin of the
    * oracle's evaluation gate (SURVEY.md §2 rows 37–38).
    */
  def evalPrf(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pred = evalPred(spark, sfDir)
    val gold = evalGold(spark, sfDir)
    val joined = pred.withColumn("p", lit(1))
      .join(gold.withColumn("g", lit(1)),
        Seq("conv_id", "turn_idx", "start", "end", "tag"), "full_outer")
    joined.groupBy($"tag").agg(
      sum(when($"p".isNotNull && $"g".isNotNull, 1).otherwise(0)).as("tp"),
      sum(when($"p".isNotNull && $"g".isNull, 1).otherwise(0)).as("fp"),
      sum(when($"p".isNull && $"g".isNotNull, 1).otherwise(0)).as("fn"))
      .withColumn("precision", round($"tp" / ($"tp" + $"fp"), 6))
      .withColumn("recall", round($"tp" / ($"tp" + $"fn"), 6))
      .orderBy($"tag")
  }
}
