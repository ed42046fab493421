package graft.pipeline

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession

/** Bench-scale exercise of the INCREMENTAL production entry
  * (`graft.KgIncrementalJob`): the bench corpus is split into a prior
  * corpus (~99.9% of conversations, materialized once via the full
  * `graft.KgJob`) and a held-out batch (~0.1%), and the batch is applied
  * incrementally to the prior output. The stage then requires the
  * maintained graph's triples to be FINGERPRINT-IDENTICAL to the
  * flagship full-corpus build that Bench already holds in cache —
  * incremental == full at bench scale, not just in the toy-scale spec —
  * and requires the apply to have left most buckets untouched (the whole
  * point: at 10^12 turns a day's batch must cost O(batch + merge blast
  * radius), never O(corpus)).
  *
  * The prior KgJob build is deploy-shape staging and is reported
  * separately (`kg_incr_job__prior_full_job` in the queries file); the
  * stage's headline wall is the APPLY alone.
  */
object IncrScale {

  final case class Result(
      priorTurns: Long, batchTurns: Long,
      priorJobSec: Double, applySec: Double,
      rewrittenBuckets: Int, untouchedBuckets: Int,
      changedSurfaces: Long, triples: Long)

  /** Hash-split on conv_id: ~1/batchMod of conversations form the batch.
    * 256 graph buckets make the untouched population measurable (a ~50
    * conv batch at sf0.1 touches ≲50 of 256 buckets plus the changed-
    * surface blast radius). batchMod is overridable so
    * `BenchOne kg_incr_job:<batchMod>` can measure apply cost at several
    * batch FRACTIONS (the batch-proportionality evidence); Bench pins the
    * default.
    */
  private val BATCH_MOD = 1024
  private val BUCKETS = 256

  def run(spark: SparkSession, sfDir: String, batchMod: Int = BATCH_MOD): Result = {
    val (priorJobSec, applies, triples) = applySlices(spark, sfDir, batchMod, nBatches = 1)
    val (applySec, m) = applies.head
    Result(graft.Kg.built(spark, sfDir).out.tagged.count() - m.newTurns, m.newTurns,
      priorJobSec, applySec, m.rewrittenBuckets, m.untouchedBuckets, m.changedSurfaces, triples)
  }

  /** Sequential multi-batch maintenance (the daily-batch production
    * cadence): prior = corpus minus `nBatches` hash slices, then each
    * slice applied IN SEQUENCE to the same output — the link state,
    * applied-batch ledger, and bucket manifests chain across applies.
    * Gate: after the last apply the graph is fingerprint-identical to
    * the flagship full-corpus build. Returns (priorJobSec, applyWalls).
    */
  def runSequential(spark: SparkSession, sfDir: String,
      nBatches: Int = 3): (Double, Seq[Double]) = {
    val (priorJobSec, applies, _) = applySlices(spark, sfDir, BATCH_MOD, nBatches)
    (priorJobSec, applies.map(_._1))
  }

  /** Slices 0 until `nBatches` of `batchMod` are the batches, the rest is
    * the prior corpus: one timed KgJob over the prior, then each batch
    * applied in order, then the parity gate against the flagship build
    * (read from Kg's cache — Bench runs this BEFORE Kg.evict). Returns
    * (priorJobSec, (applySec, metrics) per batch, final triple count).
    */
  private def applySlices(spark: SparkSession, sfDir: String, batchMod: Int,
      nBatches: Int): (Double, Seq[(Double, graft.KgIncrementalJob.IncrMetrics)], Long) = {
    import spark.implicits._
    val b = graft.Kg.built(spark, sfDir)
    val base = java.nio.file.Files.createTempDirectory("incr_scale_").toString
    try {
      val turns = b.labeled
        .map(r => graft.corpus.Turn(r.conv_id, r.turn_idx, r.role, r.text, r.tool, r.ts))
      val slice = pmod(xxhash64(col("conv_id")), lit(batchMod))
      turns.where(slice >= nBatches).write.parquet(s"$base/prior")
      for (i <- 0 until nBatches)
        turns.where(slice === i).write.parquet(s"$base/batch$i")
      NerTraining.save(b.model, spark, s"$base/model")

      val t0 = System.nanoTime()
      graft.KgJob.run(spark, s"$base/prior", s"$base/model", s"$base/graph",
        buckets = BUCKETS)
      val priorJobSec = (System.nanoTime() - t0) / 1e9

      val applies = (0 until nBatches).map { i =>
        val t = System.nanoTime()
        val m = graft.KgIncrementalJob.run(spark, s"$base/graph", s"$base/batch$i",
          s"$base/model")
        val sec = (System.nanoTime() - t) / 1e9
        // a batch of at least 1/BUCKETS of the corpus may legitimately
        // touch most buckets; anything smaller must leave most untouched
        if (batchMod >= BUCKETS)
          require(m.untouchedBuckets > m.rewrittenBuckets,
            s"incremental apply rewrote ${m.rewrittenBuckets} of $BUCKETS buckets and left only " +
              s"${m.untouchedBuckets} untouched — the apply cost is no longer batch-proportional")
        (sec, m)
      }

      // incremental(prior) ∘ apply(batches) == flagship(full corpus)
      val got = graft.Kg.resolvedFingerprint(spark.read.parquet(s"$base/graph/triples"))
      val want = graft.Kg.resolvedFingerprint(b.out.resolvedTriples)
      require(got == want,
        s"after $nBatches incremental apply(s) the graph diverged from the full-corpus build " +
          s"at bench scale: incremental (rows, fp) = $got vs flagship $want")
      (priorJobSec, applies, got._1)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(base)).deleteRecursively()
      ()
    }
  }
}
